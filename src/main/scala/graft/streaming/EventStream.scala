package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Structured Streaming surface over the `events` relation shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * Net-new capability relative to the reference (which is request-driven
  * batch only — SURVEY.md §2.9): the same transforms the batch pipeline
  * applies, expressed as an unbounded flow with event-time semantics. All
  * operators here are standard Structured Streaming idioms: watermarked
  * tumbling windows, streaming dedup by key-within-watermark, and
  * mapGroupsWithState sessionization.
  */
object EventStream {

  /** Windowed per-type aggregation with a watermark: the streaming
    * equivalent of the batch events summary. Late rows beyond the watermark
    * are dropped deterministically rather than buffered forever — the state
    * bound that keeps this runnable on an unbounded 100 TB/day feed. */
  def windowedSummary(events: DataFrame, windowSize: String = "1 minute",
                      watermark: String = "2 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowSize), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("total_value"),
        approx_count_distinct(col("user_id")).as("approx_users"))

  /** Event-time session windows: per-user sessions close after `gap` of
    * event-time silence (state bounded by the watermark). The declarative
    * sibling of [[sessionize]]'s explicit state machine. */
  def sessionWindows(events: DataFrame, gap: String = "5 minutes",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** Streaming exact dedup on event_id within the watermark horizon —
    * Spark keeps one state entry per key seen, aged out by the watermark. */
  def dedupStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming SRM monitor — the live twin of the batch `q_exp_srm`
    * experimentation audit: distinct users within the watermark horizon
    * ([[dedupStream]]'s state shape keyed by user), the IDENTICAL
    * row-local md5 arm assignment across 8 layers, and per-(layer, arm)
    * running counts as a streaming aggregation — the "assignment went
    * 60/40 an hour ago" alarm an experiment platform runs against its
    * live exposure feed instead of discovering SRM at readout time.
    *
    * Divergence bound vs the batch query: the user dedup state ages out
    * at the watermark, so a user whose events span MORE than the
    * watermark horizon is counted once per horizon — streamed `n_users`
    * is an UPPER bound on batch distinct users, exact when every user's
    * activity fits inside one horizon (the spec's data does; EventStream-
    * Spec pins streamed final counts == the batch query's there). An SRM
    * monitor tolerates this one-sidedness — re-counted users land in the
    * same arm (the md5 assignment is a pure row function), so the RATIO
    * the alarm watches is unbiased; for production feeds set the
    * watermark to the p99 user-activity span or accept the bound. */
  def streamingSrm(events: DataFrame,
                   watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("user_id")
      .select(col("user_id"), explode(expr("sequence(0L, 7L)")).as("layer"))
      .select(col("layer"),
        (conv(substring(md5(concat_ws("|", col("layer"), col("user_id"))),
          1, 8), 16, 10).cast("long") % 2).as("arm"))
      .groupBy("layer", "arm")
      .agg(count(lit(1)).as("n_users"))

  /** Stream-stream inner join: correlate two live event feeds per user
    * within a bounded event-time band (right side within [left.ts,
    * left.ts + `band`]). BOTH sides carry watermarks and the join
    * condition bounds event-time distance — the two requirements that let
    * Spark age out join state instead of buffering either feed forever,
    * which is what makes a stream-stream join runnable on unbounded
    * input. Output: one row per qualifying pair with the event-time lag.
    *
    * The batch-mode analogue of this shape is [[graft.operators.AsOfJoin]];
    * streaming cannot do "nearest" (it would need to wait forever), so the
    * contract here is the banded correlation join. */
  def bandJoin(left: DataFrame, right: DataFrame,
               band: String = "1 minute",
               watermark: String = "2 minutes"): DataFrame = {
    val l = left.select(col("event_id").as("l_event_id"),
        col("ts").as("l_ts"), col("user_id"),
        col("event_type").as("l_type"), col("value").as("l_value"))
      .withWatermark("l_ts", watermark)
    val r = right.select(col("event_id").as("r_event_id"),
        col("ts").as("r_ts"), col("user_id").as("r_user_id"),
        col("event_type").as("r_type"), col("value").as("r_value"))
      .withWatermark("r_ts", watermark)
    l.join(r,
        col("user_id") === col("r_user_id") &&
          col("r_ts") >= col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr(s"INTERVAL $band"))
      .select(col("user_id"), col("l_event_id"), col("r_event_id"),
        col("l_type"), col("r_type"),
        (unix_millis(col("r_ts")) - unix_millis(col("l_ts"))).as("lag_ms"),
        (col("l_value") + col("r_value")).as("pair_value"))
  }

  final case class SessionEvent(user_id: Long, ts: Timestamp, value: Double)
  final case class SessionSummary(user_id: Long, n_events: Long,
                                  total_value: Double, session_end: Timestamp)

  /** Custom sessionization state machine via mapGroupsWithState: per-user
    * running session, emitted when the processing-time gap expires. The
    * KeyValueGroupedDataset path the reference has no analogue for. */
  def sessionize(events: Dataset[SessionEvent],
                 gapMs: Long = 30 * 60 * 1000): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[SessionSummary, SessionSummary](
        GroupStateTimeout.ProcessingTimeTimeout) {
        case (userId, rows, state: GroupState[SessionSummary]) =>
          if (state.hasTimedOut) {
            val out = state.get
            state.remove()
            out
          } else {
            val buffered = rows.toSeq
            val prev = state.getOption.getOrElse(
              SessionSummary(userId, 0L, 0.0, new Timestamp(0)))
            val updated = SessionSummary(
              userId,
              prev.n_events + buffered.size,
              prev.total_value + buffered.map(_.value).sum,
              buffered.map(_.ts).maxBy(_.getTime))
            state.update(updated)
            state.setTimeoutDuration(gapMs)
            updated
          }
      }
  }

  final case class FunnelEv(user_id: Long, ts_ns: Long, event_type: String)
  final case class FunnelState(t1: Long, t2: Long, t3: Long)
  final case class FunnelLevel(user_id: Long, level: Int)

  /** Streaming windowed funnel — the live twin of the batch
    * `q_e_window_funnel` (first-anchor semantics: signup → click →
    * purchase, each step strictly after the previous and within
    * `windowNs` of it): per-user state is just the three anchor
    * timestamps (−1 = unreached), O(24 bytes) per user FOREVER — the
    * property that makes an unbounded feed safe — and each trigger
    * re-emits the user's current level.
    *
    * Divergence bound vs the batch query: events are folded in
    * event-time order WITHIN each micro-batch (sorted here), so the
    * streamed level equals the batch level whenever each user's events
    * arrive in event-time order ACROSS batches (the replay harness and
    * any per-key-ordered feed guarantee this; EventStreamSpec pins
    * streamed == batch there). A cross-batch straggler can only arrive
    * too late to anchor a step, never fabricate one — the streamed
    * level is a LOWER bound on the batch level, the safe direction for
    * a conversion alarm. */
  def streamingWindowFunnel(events: Dataset[FunnelEv],
                            windowNs: Long = 7L * 86400 * 1000 * 1000 * 1000)
      : Dataset[FunnelLevel] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, FunnelLevel](
        GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          rows.toSeq.sortBy(_.ts_ns).foreach { e =>
            if (e.event_type == "signup" && st.t1 < 0)
              st = st.copy(t1 = e.ts_ns)
            else if (e.event_type == "click" && st.t2 < 0 && st.t1 >= 0 &&
                e.ts_ns > st.t1 && e.ts_ns <= st.t1 + windowNs)
              st = st.copy(t2 = e.ts_ns)
            else if (e.event_type == "purchase" && st.t3 < 0 && st.t2 >= 0 &&
                e.ts_ns > st.t2 && e.ts_ns <= st.t2 + windowNs)
              st = st.copy(t3 = e.ts_ns)
          }
          state.update(st)
          FunnelLevel(uid,
            if (st.t3 >= 0) 3 else if (st.t2 >= 0) 2
            else if (st.t1 >= 0) 1 else 0)
      }
  }

  final case class BanditEv(user_id: Long, ts_ns: Long, event_id: Long,
                            event_type: String, r: Long)
  final case class BanditState(cnt: Seq[Long], suc: Seq[Long],
                               logged: Seq[Long], matched: Seq[Long],
                               msuc: Seq[Long])
  final case class BanditReport(user_id: Long, logged: Seq[Long],
                                matched: Seq[Long], msuc: Seq[Long])

  /** Streaming twin of the batch `q_e_bandit_replay` (Li et al. 2011
    * replay evaluation of a per-user greedy policy with optimistic cold
    * start): per-user state carries the per-arm (pulls, successes) the
    * policy consults plus the per-arm (logged, matched,
    * matched-successes) replay counters — 5·|arms| longs per user
    * FOREVER, the bound that makes an unbounded exposure feed safe. The
    * decision rule is the IDENTICAL integer arithmetic the batch CASE
    * chain evaluates (sentinel 2·10⁶ for unpulled arms, exact
    * suc·10⁶/cnt truncating means, first-arm-in-sorted-order
    * tie-break), and stats update AFTER the decision — prior-events
    * only, the batch window's [unbounded preceding, 1 preceding] frame
    * — so under in-order arrival the streamed replay set equals the
    * batch one row for row (spec pins final per-arm aggregates ==
    * the batch query across real micro-batch boundaries). */
  def streamingBanditReplay(events: Dataset[BanditEv], arms: Seq[String])
      : Dataset[BanditReport] = {
    import events.sparkSession.implicits._
    require(arms.nonEmpty && arms == arms.sorted,
      "bandit stream: arms must be the sorted canonical universe so the " +
        "tie-break matches the batch CASE chain")
    val m = arms.size
    val armIdx = arms.zipWithIndex.toMap
    events.groupByKey(_.user_id)
      .mapGroupsWithState[BanditState, BanditReport](
        GroupStateTimeout.NoTimeout) {
        case (uid, rows, state: GroupState[BanditState]) =>
          val st = state.getOption.getOrElse(BanditState(
            Seq.fill(m)(0L), Seq.fill(m)(0L), Seq.fill(m)(0L),
            Seq.fill(m)(0L), Seq.fill(m)(0L)))
          val cnt = st.cnt.toArray
          val suc = st.suc.toArray
          val logged = st.logged.toArray
          val matched = st.matched.toArray
          val msuc = st.msuc.toArray
          rows.toSeq.sortBy(e => (e.ts_ns, e.event_id)).foreach { e =>
            val a = armIdx.getOrElse(e.event_type,
              throw new IllegalArgumentException(
                s"bandit stream: logged arm '${e.event_type}' outside " +
                  s"the canonical universe ${arms.mkString("{", ",", "}")}"))
            // (mean, -index) max == highest mean, smallest arm on ties.
            val pick = (0 until m).maxBy(i =>
              (if (cnt(i) == 0) 2000000L else suc(i) * 1000000L / cnt(i),
                -i))
            if (pick == a) { matched(a) += 1; msuc(a) += e.r }
            logged(a) += 1
            cnt(a) += 1
            suc(a) += e.r
          }
          val ns = BanditState(cnt.toSeq, suc.toSeq, logged.toSeq,
            matched.toSeq, msuc.toSeq)
          state.update(ns)
          BanditReport(uid, ns.logged, ns.matched, ns.msuc)
      }
  }

  final case class TopKRow(group: String, item: String)
  final case class TopKReport(group: String, items: Seq[String],
                              counts: Seq[Long], err: Long)

  /** Streaming heavy hitters: maintain one mergeable Misra–Gries summary
    * ([[graft.operators.HeavyHitters]]) per group as `mapGroupsWithState`
    * state and emit the refreshed top-k each trigger — the standard
    * "trending terms per channel" shape. Composes the batch sketch
    * unchanged: each micro-batch's rows are inserted into the persisted
    * `Buf`, so after any replay/pacing the state equals the sequential
    * insertion over the concatenated feed (insertion is deterministic;
    * spec pins batch == streamed). State is O(cap) per group FOREVER —
    * the property that makes an unbounded feed safe — and `err` rides
    * along in the report so consumers see the approximation bound. */
  def streamingTopK(rows: Dataset[TopKRow], cap: Int = 1024,
                    k: Int = 10): Dataset[TopKReport] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.group)
      .mapGroupsWithState[graft.operators.HeavyHitters.Buf, TopKReport](
        GroupStateTimeout.NoTimeout) {
        case (group, batch, state: GroupState[graft.operators.HeavyHitters.Buf]) =>
          val buf0 = state.getOption.getOrElse(
            graft.operators.HeavyHitters.emptyBuf(cap))
          val buf = batch.foldLeft(buf0)((b, r) => b.insert(r.item))
          state.update(buf)
          val top = buf.top(k)
          TopKReport(group, top.map(_.item), top.map(_.cnt), buf.err)
      }
  }

  final case class SigRow(group: String, sig: Seq[Long])

  /** Streaming MinHash-signature maintenance: one signature per group as
    * `mapGroupsWithState` state, folded with componentwise min — the
    * sig(A ∪ B) = min(sig(A), sig(B)) merge law
    * ([[graft.llm.CorpusSim]]) is what makes the state CORRECT under any
    * replay/pacing, not just bounded: after any sequence of micro-batches
    * the state equals the batch signature of everything seen (spec pins
    * batch == streamed). State is numPerms longs per group FOREVER — a
    * corpus-overlap dashboard over an unbounded ingest feed costs KBs.
    * Rows are per-DOCUMENT signatures
    * ([[graft.llm.CorpusSim.perDocSignature]]), computed scan-side in the
    * micro-batch. */
  def streamingSignatures(rows: Dataset[SigRow],
                          numPerms: Int = 64): Dataset[SigRow] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.group)
      .mapGroupsWithState[Seq[Long], SigRow](GroupStateTimeout.NoTimeout) {
        case (group, batch, state: GroupState[Seq[Long]]) =>
          val init = state.getOption.getOrElse(Seq.fill(numPerms)(Long.MaxValue))
          val merged = batch.foldLeft(init) { (acc, r) =>
            acc.lazyZip(r.sig).map(math.min)
          }
          state.update(merged)
          SigRow(group, merged)
      }
  }

  final case class HllReg(group: String, reg: Int, rho: Long)
  final case class HllRow(group: String, regs: Seq[Long])

  /** Streaming HLL distinct-count maintenance: one m-register file per
    * group as `mapGroupsWithState` state, folded with elementwise MAX —
    * the regs(A ∪ B) = max(regs(A), regs(B)) union law
    * ([[graft.operators.HllSketch]]) makes the state correct under any
    * replay or micro-batch pacing, not just bounded: after any batch
    * sequence the state equals the batch register file of everything
    * seen (spec pins streamed == batch). State is m longs per group
    * FOREVER — a distinct-users dashboard over an unbounded feed costs
    * 2 KB per group. Rows are the per-item (reg, rho) projections
    * ([[graft.operators.HllSketch.project]]), computed scan-side in the
    * micro-batch. */
  def streamingHllRegisters(rows: Dataset[HllReg],
                            m: Int = 256): Dataset[HllRow] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.group)
      .mapGroupsWithState[Seq[Long], HllRow](GroupStateTimeout.NoTimeout) {
        case (group, batch, state: GroupState[Seq[Long]]) =>
          val regs = state.getOption.map(_.toArray)
            .getOrElse(Array.fill(m)(0L))
          batch.foreach { r =>
            if (r.rho > regs(r.reg)) regs(r.reg) = r.rho
          }
          val out = regs.toSeq
          state.update(out)
          HllRow(group, out)
      }
  }

  final case class QRow(group: String, v: Double)
  final case class QReport(group: String, n: Long, p50: Double, p95: Double)

  /** Streaming quantile maintenance: one mergeable deterministic-
    * compaction sketch ([[graft.operators.QuantileSketch.Buf]]) per group
    * as `mapGroupsWithState` state; each trigger inserts the micro-batch's
    * values and emits refreshed p50/p95 — the "latency percentiles per
    * endpoint" dashboard over an unbounded feed. Each micro-batch's
    * values insert in SORTED order: the shuffle into the state partition
    * does not guarantee arrival order, and sketch compaction is
    * order-sensitive, so the canonical in-batch order makes the state a
    * pure function of (batch contents, pacing) — after any replay the
    * state equals the driver-side fold over the same sorted bursts (spec
    * pins exactly that, plus the sketch's rank-error contract vs the
    * exact percentiles). State is O(k·log(n/k)) doubles per group — the
    * sublinear-forever property that makes the unbounded feed safe. */
  def streamingQuantiles(rows: Dataset[QRow], k: Int = 128): Dataset[QReport] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.group)
      .mapGroupsWithState[graft.operators.QuantileSketch.Buf, QReport](
        GroupStateTimeout.NoTimeout) {
        case (group, batch, state: GroupState[graft.operators.QuantileSketch.Buf]) =>
          val buf0 = state.getOption.getOrElse(
            graft.operators.QuantileSketch.emptyBuf(k))
          val buf = batch.toSeq.sortBy(_.v).foldLeft(buf0)((b, r) => b.insert(r.v))
          state.update(buf)
          QReport(group, buf.totalWeight, buf.quantile(0.5), buf.quantile(0.95))
      }
  }

  final case class DayCount(group: String, day: Long, cnt: Long)
  final case class AnomalyReport(group: String, day: Long, cnt: Long,
                                 z4: Double, is_anomaly: Boolean)

  /** Streaming twin of the batch volume-anomaly query (`q_e_anomaly`):
    * per-group trailing-window z-scores maintained across micro-batches.
    * State is the last `window` observed (day, cnt) bins per group —
    * O(window) FOREVER — and each arriving bin (processed in day order
    * within the batch) z-scores against the EXACT integer (n, Σ, Σ²) of
    * the state before it joins it, in the same fixed double-arithmetic
    * order as the batch query, so a history split across any number of
    * micro-batches scores identically to the one-shot computation (spec
    * pins streamed == driver replay across a burst boundary). Bins with
    * fewer than `window` predecessors or zero variance emit nothing,
    * matching the batch query's w_n/variance filters. */
  def streamingAnomalies(rows: Dataset[DayCount], window: Int = 10,
                         zThresh: Double = 3.0): Dataset[AnomalyReport] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.group)
      .flatMapGroupsWithState[Seq[(Long, Long)], AnomalyReport](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (group, batch, state: GroupState[Seq[(Long, Long)]]) =>
          var hist = state.getOption.getOrElse(Seq.empty)
          val out = scala.collection.mutable.ArrayBuffer.empty[AnomalyReport]
          batch.toSeq.sortBy(_.day).foreach { b =>
            if (hist.size == window) {
              val n = window.toDouble
              val s = hist.map(_._2).sum
              val sq = hist.map(c => c._2 * c._2).sum
              val mean = s / n
              val variance = (sq - s * s / n) / n
              if (variance > 0) {
                val z4 = math.floor(
                  (b.cnt - mean) / math.sqrt(variance) * 1e4 + 0.5) / 1e4
                out += AnomalyReport(group, b.day, b.cnt, z4,
                  math.abs(z4) >= zThresh)
              }
            }
            hist = (hist :+ (b.day, b.cnt)).takeRight(window)
          }
          state.update(hist)
          out.iterator
      }
  }

  final case class BinValue(key: Long, bin: Long, units: Long)
  final case class EwmaReport(key: Long, bin: Long, units: Long,
                              ewma_units: Long, n_bins: Long)

  /** Streaming twin of the batch EWMA (`q_ts_ewma`): the per-key α = 1/4
    * trailing baseline maintained across micro-batches. State is ONE
    * (n_bins, s) pair per key FOREVER; each arriving bin (processed in
    * bin order within the batch) emits its smoothed value from the
    * identical integer recurrence s = (v + 3·s) div 4 the batch fold
    * runs, so a series split across any number of micro-batches scores
    * identically to the one-shot computation (spec pins streamed ==
    * plain fold across a burst boundary). Contract: per-key bin-ordered
    * arrivals across batches — the same per-key changelog guarantee as
    * [[streamingScd2]]. */
  def streamingEwma(rows: Dataset[BinValue]): Dataset[EwmaReport] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.key)
      .flatMapGroupsWithState[(Long, Long), EwmaReport](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (key, batch, state: GroupState[(Long, Long)]) =>
          var (n, s) = state.getOption.getOrElse((0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[EwmaReport]
          batch.toSeq.sortBy(_.bin).foreach { b =>
            s = if (n == 0) b.units else (b.units + 3 * s) / 4
            n += 1
            out += EwmaReport(key, b.bin, b.units, s, n)
          }
          state.update((n, s))
          out.iterator
      }
  }

  final case class HoltReport(key: Long, bin: Long, units: Long,
                              level: Long, trend: Long, n: Long)

  /** Streaming twin of the batch Holt smoother (`q_ts_holt`): the
    * per-key (level, trend) state maintained across micro-batches with
    * the identical integer recurrence l' = (x + 3(l+b)) div 4,
    * b' = (l'−l+3b) div 4 (Scala `/` on Long truncates toward zero —
    * the same quantization as Spark div / DuckDB //). Initialization
    * matches the batch fold: the first bin arms the state silently
    * (l₂ = x₂, b₂ = x₂ − x₁ fire on the SECOND bin), so a series split
    * across any number of micro-batches reports exactly the batch
    * fold's state at every prefix from bin 2 onward. Same per-key
    * bin-ordered changelog contract as [[streamingEwma]]. */
  def streamingHolt(rows: Dataset[BinValue]): Dataset[HoltReport] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.key)
      .flatMapGroupsWithState[(Long, Long, Long), HoltReport](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (key, batch, state: GroupState[(Long, Long, Long)]) =>
          var (n, l, b) = state.getOption.getOrElse((0L, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[HoltReport]
          batch.toSeq.sortBy(_.bin).foreach { r =>
            if (n == 0L) { l = r.units; b = 0L }
            else if (n == 1L) { b = r.units - l; l = r.units }
            else {
              val l2 = (r.units + 3 * (l + b)) / 4
              b = (l2 - l + 3 * b) / 4
              l = l2
            }
            n += 1
            if (n >= 2L) out += HoltReport(key, r.bin, r.units, l, b, n)
          }
          state.update((n, l, b))
          out.iterator
      }
  }

  final case class BacktestReport(key: Long, bin: Long, units: Long,
                                  forecast: Long, abs_err: Long,
                                  sae: Long, ssm: Long, n: Long)

  /** Streaming twin of the batch backtest (`q_ts_backtest`): beside the
    * [[streamingHolt]] (level, trend) state, each key carries running
    * (Σ|e|, Σ smape₄-steps) where the error is taken against the
    * PRE-update forecast l+b — the identical honest one-step-ahead
    * discipline, so a series split across any number of micro-batches
    * reports exactly the batch fold's accumulators at every prefix
    * from bin 3 onward. Same per-key bin-ordered changelog contract as
    * [[streamingEwma]]. */
  def streamingBacktest(rows: Dataset[BinValue]): Dataset[BacktestReport] = {
    import rows.sparkSession.implicits._
    rows.groupByKey(_.key)
      .flatMapGroupsWithState[(Long, Long, Long, Long, Long), BacktestReport](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (key, batch, state: GroupState[(Long, Long, Long, Long, Long)]) =>
          var (n, l, b, sae, ssm) =
            state.getOption.getOrElse((0L, 0L, 0L, 0L, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[BacktestReport]
          batch.toSeq.sortBy(_.bin).foreach { r =>
            if (n == 0L) { l = r.units; b = 0L }
            else if (n == 1L) { b = r.units - l; l = r.units }
            else {
              val fc = l + b
              val e = math.abs(r.units - fc)
              sae += e
              // sMAPE convention for the 0-vs-0 step: a zero forecast of a
              // zero actual is a perfect step — contribute 0 rather than
              // divide by zero (Scala Long '/' would throw and kill the
              // query; the batch twin never hits this edge because its
              // per-day series is count(*)*10000 >= 10000).
              val den = math.abs(r.units) + math.abs(fc)
              if (den != 0L) ssm += 2 * e * 10000 / den
              val l2 = (r.units + 3 * (l + b)) / 4
              b = (l2 - l + 3 * b) / 4
              l = l2
              out += BacktestReport(key, r.bin, r.units, fc, e, sae, ssm,
                n + 1)
            }
            n += 1
          }
          state.update((n, l, b, sae, ssm))
          out.iterator
      }
  }

  final case class Scd2Change(key: Long, ts: Long, id: Long, value: String)
  final case class Scd2Closed(key: Long, value: String, valid_from: Long,
                              valid_to: Long, version_n: Long)

  /** Streaming SCD Type-2 maintenance: the open dimension row per key
    * lives as `flatMapGroupsWithState` state (value, valid_from,
    * version); each value CHANGE closes the open run — emitted
    * immediately — and opens the next. The streaming twin of
    * [[graft.operators.Scd2.build]]: after any micro-batch pacing the
    * emitted closed rows equal the batch build's closed rows over the
    * same changes (spec pins it), and the state is ONE row per key
    * forever. Contract: arrivals are key-ordered across batches (a
    * log-compacted/partitioned changelog's per-key guarantee); within a
    * batch, changes sort by (ts, id) before folding. */
  def streamingScd2(changes: Dataset[Scd2Change]): Dataset[Scd2Closed] = {
    import changes.sparkSession.implicits._
    changes.groupByKey(_.key)
      .flatMapGroupsWithState[(String, Long, Long), Scd2Closed](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (key, batch, state: GroupState[(String, Long, Long)]) =>
          val sorted = batch.toSeq.sortBy(c => (c.ts, c.id))
          var cur = state.getOption
          val closed = scala.collection.mutable.ArrayBuffer.empty[Scd2Closed]
          sorted.foreach { c =>
            cur match {
              case None => cur = Some((c.value, c.ts, 1L))
              case Some((v, from, ver)) if v != c.value =>
                closed += Scd2Closed(key, v, from, c.ts, ver)
                cur = Some((c.value, c.ts, ver + 1))
              case _ => // no-op change: same value continues the run
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }
  }

  /** Event-time sessionization via flatMapGroupsWithState: sessions split on
    * event-time gaps and close either when a later event proves the gap
    * (emitted immediately) or when the WATERMARK passes end+gap
    * (EventTimeTimeout). Unlike [[sessionize]]'s processing-time variant,
    * replaying the same events yields the same sessions regardless of
    * trigger pacing — a gap inside one micro-batch and the same gap split
    * across micro-batches close the same session with the same summary.
    * State is one open session per user, aged by the watermark: bounded on
    * an unbounded feed. */
  def sessionizeEventTime(events: Dataset[SessionEvent],
                          gapMs: Long = 30 * 60 * 1000,
                          watermark: String = "10 minutes"): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionSummary, SessionSummary](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[SessionSummary]) =>
          if (state.hasTimedOut) {
            val out = state.get
            state.remove()
            Iterator.single(out)
          } else {
            // Event-time order within the batch makes the fold independent
            // of arrival order; cross-batch stragglers inside the watermark
            // extend the open session (end = max ts seen).
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionSummary]
            var open = state.getOption
            sorted.foreach { e =>
              open = open match {
                case Some(s) if e.ts.getTime - s.session_end.getTime > gapMs =>
                  closed += s
                  Some(SessionSummary(userId, 1L, e.value, e.ts))
                case Some(s) =>
                  Some(SessionSummary(userId, s.n_events + 1, s.total_value + e.value,
                    if (e.ts.getTime > s.session_end.getTime) e.ts else s.session_end))
                case None =>
                  Some(SessionSummary(userId, 1L, e.value, e.ts))
              }
            }
            open.foreach { s =>
              state.update(s)
              // Spark requires the timeout to sit ahead of the current
              // watermark; a session already older than that closes on the
              // next watermark advance.
              state.setTimeoutTimestamp(
                math.max(s.session_end.getTime + gapMs, state.getCurrentWatermarkMs + 1))
            }
            closed.iterator
          }
      }
  }

  /** Stream → versioned store: land each micro-batch as an appended part
    * of one store version via foreachBatch, with EXACTLY-ONCE landing —
    * the part ledger records the micro-batch id as the part number, in
    * the same commit that lists the batch's files
    * ([[graft.store.VersionStore.landPart]], the path batch multi-part
    * uploads take too).
    * A re-delivered batch (Structured Streaming replays the last
    * uncommitted batch after failure) is skipped when its part is on the
    * ledger; a crash BETWEEN the data move and that commit leaves files no
    * commit lists, which no read opens, and the replay lands the batch
    * afresh. At-least-once delivery × idempotent batch-id-keyed commit =
    * exactly-once landed data.
    *
    * Exposed seam: [[landBatch]] is the per-batch commit function, called
    * directly by specs to prove the replay path without a failure
    * harness. */
  def sinkToStore(events: DataFrame, store: graft.store.VersionStore,
                  table: String, versionId: Long): StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landBatch(store, table, versionId, batch, batchId)
      }
      .trigger(Trigger.AvailableNow())
      .start()

  /** Exactly-once micro-batch commit (see [[sinkToStore]]). */
  def landBatch(store: graft.store.VersionStore, table: String,
                versionId: Long, batch: DataFrame, batchId: Long): Unit =
    store.landPart(table, versionId, batchId.toInt, batch,
      s"stream-batch-$batchId", s"stream:$batchId"): Unit

  /** Replay the batch events parquet as a bounded stream (one file per
    * micro-batch) — the standard harness for exercising streaming plans
    * against deterministic data. Returns the running query writing to an
    * in-memory sink table named `sinkTable`. */
  def replayParquetAsStream(spark: SparkSession, dir: String, schema: org.apache.spark.sql.types.StructType,
                            transform: DataFrame => DataFrame,
                            sinkTable: String,
                            outputMode: OutputMode = OutputMode.Append()): StreamingQuery = {
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    transform(stream).writeStream
      .format("memory")
      .queryName(sinkTable)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Stream-maintained materialized join: right-side delta batches arrive
    * as a stream against a static (or slowly-landed) left relation, and
    * each micro-batch appends exactly its delta-join contribution through
    * the SAME algebra the batch path uses
    * ([[graft.store.IncrementalJoin.deltaJoin]] with an empty left
    * delta) — so stream-ingested view maintenance and batch backfill are
    * one code path, and the streamed union provably equals the one-shot
    * join (spec-pinned). `sink` receives (ΔJ, batchId) — exactly-once
    * landing is the sink's contract, same as [[sinkToStore]]. */
  def streamingJoinMaintenance(deltas: DataFrame, staticLeft: DataFrame,
                               keys: Seq[String],
                               sink: (DataFrame, Long) => Unit): StreamingQuery =
    deltas.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val noLeftDelta = staticLeft.limit(0)
        val noPriorRight = batch.limit(0)
        sink(graft.store.IncrementalJoin.deltaJoin(
          staticLeft, noPriorRight, noLeftDelta, batch, keys), batchId)
      }
      .trigger(Trigger.AvailableNow())
      .start()
}
