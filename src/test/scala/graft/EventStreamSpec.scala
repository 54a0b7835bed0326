package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.streaming.EventStream

/** Structured Streaming specs: replayed micro-batches must converge to the
  * same answer as the equivalent batch aggregation. */
class EventStreamSpec extends SparkSpecBase {

  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def writeEventFiles(dir: String): Unit = {
    import spark.implicits._
    val base = 1700000000000L
    def batch(ids: Range, typ: String) = ids.map(i =>
      (i.toLong, new Timestamp(base + i * 1000L), (i % 3).toLong, typ, i * 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    batch(0 until 20, "click").write.parquet(s"$dir/b1")
    batch(20 until 40, "view").write.parquet(s"$dir/b2")
    // spark streaming file source reads a directory of files; flatten
    val all = spark.read.parquet(s"$dir/b1", s"$dir/b2")
    all.repartition(4).write.mode("overwrite").parquet(s"$dir/stream")
  }

  test("windowed streaming summary equals the batch aggregation") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    writeEventFiles(dir)
    val q = EventStream.replayParquetAsStream(spark, s"$dir/stream", schema,
      df => EventStream.windowedSummary(df, "1 minute", "2 minutes"),
      // Complete mode: Append would hold back the final window, since no
      // later event ever advances the watermark past it on a bounded replay.
      "stream_sink", org.apache.spark.sql.streaming.OutputMode.Complete())
    q.awaitTermination(60000)
    val streamed = spark.table("stream_sink")
      .select(col("event_type"), col("n"), col("total_value"))
      .groupBy("event_type")
      .agg(sum("n").as("n"), sum("total_value").as("total_value"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val batch = spark.read.parquet(s"$dir/stream")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(streamed == batch)
  }

  test("streaming SRM arm counts equal the batch q_exp_srm audit") {
    val dir = java.nio.file.Files.createTempDirectory("graft-srm").toString
    import spark.implicits._
    val base = 1700000000000L
    // 30 distinct users, 15 of them re-appearing — the streaming distinct
    // must collapse repeats exactly like the batch DISTINCT does.
    val rows = ((1 to 30) ++ (1 to 15)).zipWithIndex.map { case (u, i) =>
      (i.toLong, new Timestamp(base + i * 1000L), u.toLong, "view", 1.0)
    }
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
    df.repartition(4).write.parquet(s"$dir/stream")
    df.write.parquet(s"$dir/events.parquet")
    val q = EventStream.replayParquetAsStream(spark, s"$dir/stream", schema,
      d => EventStream.streamingSrm(d), "srm_sink",
      org.apache.spark.sql.streaming.OutputMode.Complete())
    q.awaitTermination(60000)
    val streamed = spark.table("srm_sink").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = SparkEntry.queries("q_exp_srm")(spark, dir).collect()
      .flatMap(r => Seq((r.getLong(0), 0L) -> r.getLong(1),
        (r.getLong(0), 1L) -> r.getLong(2)))
      .filter(_._2 > 0).toMap // streamed emits no zero-count rows
    assert(streamed == batch)
  }

  test("streaming dedup drops replayed duplicate event ids") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-dd").toString
    import spark.implicits._
    val base = 1700000000000L
    val rows = (0 until 10) ++ (0 until 10) // every id twice
    rows.zipWithIndex.map { case (id, i) =>
      (id.toLong, new Timestamp(base + i * 1000L), 1L, "click", 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
      .repartition(2).write.parquet(s"$dir/stream")
    val q = EventStream.replayParquetAsStream(spark, s"$dir/stream", schema,
      df => EventStream.dedupStream(df), "dedup_sink")
    q.awaitTermination(60000)
    val ids = spark.table("dedup_sink").select("event_id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until 10L))
  }

  test("session windows split on event-time gaps") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-sw").toString
    import spark.implicits._
    val base = 1700000000000L
    // user 1: two bursts separated by 10 minutes -> two sessions
    val ts = Seq(0L, 60000L, 120000L, 720000L, 780000L)
    ts.zipWithIndex.map { case (t, i) =>
      (i.toLong, new Timestamp(base + t), 1L, "click", 1.0)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$dir/stream")
    val q = EventStream.replayParquetAsStream(spark, s"$dir/stream", schema,
      df => EventStream.sessionWindows(df, "5 minutes", "10 minutes"),
      "session_sink", org.apache.spark.sql.streaming.OutputMode.Complete())
    q.awaitTermination(60000)
    val sessions = spark.table("session_sink")
      .orderBy("session_start")
      .collect().map(r => r.getAs[Long]("n_events"))
    assert(sessions.toSeq == Seq(3L, 2L))
  }

  test("event-time sessionize is replay-deterministic across trigger pacings") {
    import spark.implicits._
    val sessionSchema = StructType(Seq(
      StructField("user_id", LongType), StructField("ts", TimestampType),
      StructField("value", DoubleType)))
    val base = 1700000000000L
    val min = 60000L
    // user 1: session A (0,1,2 min), session B (20,21 min), then a sentinel
    // at 60 min whose only job is to advance the watermark past B's close.
    // gap=5 min, watermark=10 min -> final watermark 50 min: A and B are
    // both provably closed; the sentinel's own session stays open (correct —
    // on an unbounded feed it could still be extended).
    val bursts: Seq[Seq[Long]] = Seq(
      Seq(0L, 1 * min),                    // first half of session A
      Seq(2 * min, 20 * min, 21 * min),    // A's tail + all of session B
      Seq(60 * min))                       // watermark-advancing sentinel
    def df(ts: Seq[Long]) = ts.map(t => (1L, new Timestamp(base + t), 1.0))
      .toDF("user_id", "ts", "value")
    val oneDir = java.nio.file.Files.createTempDirectory("graft-sess-one").toString
    df(bursts.flatten).coalesce(1).write.parquet(s"$oneDir/stream")
    val manyDir = java.nio.file.Files.createTempDirectory("graft-sess-many").toString
    bursts.foreach { b =>
      df(b).coalesce(1).write.mode("append").parquet(s"$manyDir/stream")
      Thread.sleep(1100) // distinct file timestamps => deterministic batch order
    }
    def run(dir: String, sink: String): Seq[(Long, Double, Long)] = {
      val q = EventStream.replayParquetAsStream(spark, s"$dir/stream", sessionSchema,
        d => EventStream.sessionizeEventTime(d.as[EventStream.SessionEvent],
          gapMs = 5 * min, watermark = "10 minutes").toDF(),
        sink)
      q.awaitTermination(60000)
      spark.table(sink)
        .collect().map(r => (r.getAs[Long]("n_events"), r.getAs[Double]("total_value"),
          r.getAs[Timestamp]("session_end").getTime))
        .sortBy(_._3).toSeq
    }
    val one = run(oneDir, "sess_one_sink")
    val many = run(manyDir, "sess_many_sink")
    // identical CLOSED sessions regardless of how the replay was paced
    assert(one == many)
    assert(one == Seq(
      (3L, 3.0, base + 2 * min),    // session A: 3 events, ends at minute 2
      (2L, 2.0, base + 21 * min)))  // session B: 2 events, ends at minute 21
  }

  test("sessionize accumulates per-user state") {
    import spark.implicits._
    val base = 1700000000000L
    val events = (0 until 12).map(i => EventStream.SessionEvent(
      (i % 2).toLong, new Timestamp(base + i * 1000L), 2.0)).toDS()
    // batch Dataset works through the same state function via groupByKey
    val out = events.groupByKey(_.user_id).mapGroups { (uid, rows) =>
      val rs = rows.toSeq
      EventStream.SessionSummary(uid, rs.size, rs.map(_.value).sum,
        rs.map(_.ts).maxBy(_.getTime))
    }.collect().map(s => s.user_id -> ((s.n_events, s.total_value))).toMap
    assert(out(0L) == ((6L, 12.0)))
    assert(out(1L) == ((6L, 12.0)))
  }

  test("stream-stream band join equals the batch join within the band") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-ssj").toString
    val base = 1700000000000L
    def rows(typ: String, offsetSec: Int) = (0 until 12).map(i =>
      (i.toLong + (if (typ == "imp") 0L else 100L),
        new Timestamp(base + (i * 30 + offsetSec) * 1000L),
        (i % 3).toLong, typ, 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    rows("imp", 0).repartition(2).write.parquet(s"$dir/left")
    rows("click", 10).repartition(2).write.parquet(s"$dir/right")

    val l = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/left")
    val r = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/right")
    val q = EventStream.bandJoin(l, r, band = "1 minute",
        watermark = "2 minutes")
      .writeStream.format("memory").queryName("ssj_sink")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val streamed = spark.table("ssj_sink")
      .select("l_event_id", "r_event_id", "lag_ms")
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1), r0.getLong(2))).toSet

    val lb = spark.read.parquet(s"$dir/left")
    val rb = spark.read.parquet(s"$dir/right")
    val batch = EventStream.bandJoin(lb, rb, band = "1 minute")
      .select("l_event_id", "r_event_id", "lag_ms")
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1), r0.getLong(2))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("stream lands in the version store exactly once, replay-idempotent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-store").toString
    val base = 1700000000000L
    (0 until 30).map(i =>
      (i.toLong, new Timestamp(base + i * 1000L), (i % 3).toLong, "click", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .repartition(3).write.parquet(s"$dir/stream")
    val store = new graft.store.VersionStore(spark,
      java.nio.file.Files.createTempDirectory("graft-stream-vs").toString)
    val vid = store.createVersion("EVENTS", "2024Q1",
      java.sql.Date.valueOf("2024-01-01"), None, "h-stream", "stream")
    val q = EventStream.sinkToStore(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .parquet(s"$dir/stream"),
      store, "events_landed", vid)
    q.awaitTermination(60000)
    val landed = store.data("events_landed")
    assert(landed.count() == 30)
    val parts = store.parts.filter(col("data_version_id") === vid).count()
    assert(parts >= 2, s"expected one part per micro-batch, got $parts")
    // Replay the first batch verbatim (Structured Streaming re-delivers the
    // last uncommitted batch after failure): the ledger must reject it.
    val replay = spark.read.parquet(s"$dir/stream").limit(10)
    EventStream.landBatch(store, "events_landed", vid, replay, batchId = 0L)
    assert(store.data("events_landed").count() == 30, "replayed batch duplicated rows")
    // Crash WINDOW: data moved but the ledger commit never ran (the commit
    // point). The replay rewrites the same part — with a different
    // partitioning, so different file counts — and must sweep the earlier
    // attempt's files rather than adding to them.
    store.writeData("events_landed", vid, replay.repartition(4), part = 99)
    store.writeData("events_landed", vid, replay.repartition(2), part = 99)
    EventStream.landBatch(store, "events_landed", vid, replay, batchId = 99L)
    assert(store.data("events_landed").count() == 40,
      "crashed-then-replayed batch must land its 10 rows exactly once")
  }

  test("streaming top-k carries sketch state across micro-batches") {
    import spark.implicits._
    val tkSchema = StructType(Seq(
      StructField("group", StringType), StructField("item", StringType)))
    // Two bursts; counts only add up correctly if the second trigger's
    // state starts from the first ('b' needs 2+3, 'c' needs 1+2).
    val bursts = Seq(
      Seq.fill(5)("a") ++ Seq.fill(2)("b") ++ Seq("c"),
      Seq.fill(3)("b") ++ Seq.fill(2)("c") ++ Seq("d"))
    val dir = java.nio.file.Files.createTempDirectory("graft-topk").toString
    bursts.foreach { b =>
      b.map(i => ("ch1", i)).toDF("group", "item")
        .coalesce(1).write.mode("append").parquet(s"$dir/stream")
      Thread.sleep(1100) // distinct file mtimes => deterministic batch order
    }
    val q = EventStream.replayParquetAsStream(spark, s"$dir/stream", tkSchema,
      d => EventStream.streamingTopK(d.as[EventStream.TopKRow],
        cap = 64, k = 3).toDF(),
      "topk_sink", org.apache.spark.sql.streaming.OutputMode.Update())
    q.awaitTermination(60000)
    // Update-mode memory sink appends one report per trigger; the final
    // state is the report with the largest total.
    val fin = spark.table("topk_sink").collect()
      .maxBy(r => r.getSeq[Long](r.fieldIndex("counts")).sum)
    assert(fin.getSeq[String](fin.fieldIndex("items")).toSeq == Seq("a", "b", "c"))
    assert(fin.getSeq[Long](fin.fieldIndex("counts")).toSeq == Seq(5L, 5L, 3L))
    assert(fin.getAs[Long]("err") == 0L, "cap=64 > distinct: exact")
  }

  test("streaming minhash signatures: state equals the batch signature") {
    import spark.implicits._
    val sigSchema = StructType(Seq(
      StructField("source", StringType), StructField("text", StringType)))
    // Two bursts per source; the merge law must make the final state
    // identical to the batch signature over BOTH bursts together.
    val bursts = Seq(
      Seq(("x", "alpha beta gamma delta eps"), ("y", "one two three four five")),
      Seq(("x", "zeta eta theta iota kappa"), ("y", "one two three four five six")))
    val dir = java.nio.file.Files.createTempDirectory("graft-sig").toString
    bursts.foreach { b =>
      b.toDF("source", "text")
        .coalesce(1).write.mode("append").parquet(s"$dir/stream")
      Thread.sleep(1100)
    }
    val perms = 16
    val q = EventStream.replayParquetAsStream(spark, s"$dir/stream", sigSchema,
      d => EventStream.streamingSignatures(
        d.select(col("source").as("group"),
          graft.llm.CorpusSim.perDocSignature(col("text"), n = 3,
            numPerms = perms).as("sig")).as[EventStream.SigRow],
        numPerms = perms).toDF(),
      "sig_sink", org.apache.spark.sql.streaming.OutputMode.Update())
    q.awaitTermination(60000)
    // Update mode emits one row per group per trigger; signatures only
    // decrease componentwise, so the final state per group is the
    // componentwise min over its reports.
    val streamed = spark.table("sig_sink").collect()
      .groupBy(_.getString(0))
      .map { case (g, rows) =>
        g -> rows.map(_.getSeq[Long](1)).reduce((a, b) =>
          a.lazyZip(b).map(math.min).toSeq)
      }
    val batch = graft.llm.CorpusSim.signatures(
        bursts.flatten.toDF("source", "text"), "source", "text",
        n = 3, numPerms = perms)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (g, sig) =>
      assert(sig == batch(g), s"group $g streamed != batch")
    }
  }

  test("streaming HLL registers: state equals the batch register file") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("grp", StringType), StructField("item", LongType)))
    // Two bursts with overlapping items: the elementwise-max union law
    // must make the final state identical to the batch sketch over both.
    val bursts = Seq(
      (1L to 400L).map(i => ("a", i)) ++ (1L to 150L).map(i => ("b", i)),
      (200L to 700L).map(i => ("a", i)) ++ (100L to 160L).map(i => ("b", i)))
    val dir = java.nio.file.Files.createTempDirectory("graft-hll").toString
    bursts.foreach { b =>
      b.toDF("grp", "item")
        .coalesce(1).write.mode("append").parquet(s"$dir/stream")
      Thread.sleep(1100)
    }
    val q = EventStream.replayParquetAsStream(spark, s"$dir/stream", schema,
      d => EventStream.streamingHllRegisters(
        graft.operators.HllSketch.project(d, "grp", "item")
          .select(col("grp").as("group"), col("reg").cast("int").as("reg"),
            col("rho")).as[EventStream.HllReg]).toDF(),
      "hll_sink", org.apache.spark.sql.streaming.OutputMode.Update())
    q.awaitTermination(60000)
    // Registers only grow; final state per group = elementwise max over
    // its per-trigger reports.
    val streamed = spark.table("hll_sink").collect()
      .groupBy(_.getString(0))
      .map { case (g, rows) =>
        g -> rows.map(_.getSeq[Long](1)).reduce((a, b) =>
          a.lazyZip(b).map(math.max).toSeq)
      }
    val batch = graft.operators.HllSketch.registers(
        bursts.flatten.toDF("grp", "item"), "grp", "item")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1)
      .map { case (g, rows) =>
        val dense = Array.fill(256)(0L)
        rows.foreach { case (_, reg, rho) => dense(reg.toInt) = rho }
        g -> dense.toSeq
      }
    assert(streamed.keySet == batch.keySet)
    streamed.foreach { case (g, regs) =>
      assert(regs == batch(g), s"group $g streamed registers != batch")
    }
  }

  test("streaming quantiles: state equals the sorted-burst fold, within " +
      "rank error of exact") {
    import spark.implicits._
    val qSchema = StructType(Seq(
      StructField("group", StringType), StructField("v", DoubleType)))
    // Two bursts whose UNION has different percentiles than either alone —
    // the second trigger's estimates are only right if its state started
    // from the first burst's sketch.
    val bursts = Seq(
      (1 to 300).map(i => ("api", i.toDouble)),
      (301 to 1000).map(i => ("api", i.toDouble)))
    val dir = java.nio.file.Files.createTempDirectory("graft-quant").toString
    bursts.foreach { b =>
      b.toDF("group", "v").coalesce(1).write.mode("append")
        .parquet(s"$dir/stream")
      Thread.sleep(1100) // distinct file mtimes => deterministic batch order
    }
    val q = EventStream.replayParquetAsStream(spark, s"$dir/stream", qSchema,
      d => EventStream.streamingQuantiles(d.as[EventStream.QRow], k = 64).toDF(),
      "quant_sink", org.apache.spark.sql.streaming.OutputMode.Update())
    q.awaitTermination(60000)
    val fin = spark.table("quant_sink").collect().maxBy(_.getAs[Long]("n"))
    assert(fin.getAs[Long]("n") == 1000L, "state carried across triggers")
    // The state is a pure fold over the sorted bursts in trigger order —
    // replay it driver-side and demand exact equality.
    val folded = bursts.foldLeft(graft.operators.QuantileSketch.emptyBuf(64)) {
      (buf, b) => b.map(_._2).sorted.foldLeft(buf)((x, v) => x.insert(v))
    }
    assert(fin.getAs[Double]("p50") == folded.quantile(0.5))
    assert(fin.getAs[Double]("p95") == folded.quantile(0.95))
    // And the estimates honor the sketch's rank-error contract.
    assert(math.abs(fin.getAs[Double]("p50") - 500.0) <= 60.0)
    assert(math.abs(fin.getAs[Double]("p95") - 950.0) <= 60.0)
  }

  test("streaming anomalies: trailing-window z equals the batch replay " +
      "across a burst boundary") {
    import spark.implicits._
    val aSchema = StructType(Seq(
      StructField("group", StringType), StructField("day", LongType),
      StructField("cnt", LongType)))
    // 15 days, gentle drift plus a planted spike at day 13. The burst
    // split lands mid-history, so days 11-15 can only score correctly if
    // the trailing window carries across the trigger boundary.
    val counts = (1L to 15L).map(d =>
      ("api", d, if (d == 13) 400L else 100L + d))
    val bursts = Seq(counts.take(8), counts.drop(8))
    val dir = java.nio.file.Files.createTempDirectory("graft-anom").toString
    bursts.foreach { b =>
      b.toDF("group", "day", "cnt").coalesce(1).write.mode("append")
        .parquet(s"$dir/stream")
      Thread.sleep(1100)
    }
    val q = EventStream.replayParquetAsStream(spark, s"$dir/stream", aSchema,
      d => EventStream.streamingAnomalies(d.as[EventStream.DayCount]).toDF(),
      "anom_sink", org.apache.spark.sql.streaming.OutputMode.Append())
    q.awaitTermination(60000)
    val got = spark.table("anom_sink").collect()
      .map(r => (r.getAs[Long]("day"), r.getAs[Long]("cnt"),
        r.getAs[Double]("z4"), r.getAs[Boolean]("is_anomaly")))
      .sortBy(_._1)
    // Driver replay with the identical integer-sums-then-fixed-double-order
    // arithmetic the operator (and the batch q_e_anomaly) uses.
    val vals = counts.map(_._3)
    val expected = counts.indices.drop(10).flatMap { i =>
      val h = vals.slice(i - 10, i)
      val n = 10.0
      val s = h.sum
      val sq = h.map(v => v * v).sum
      val mean = s / n
      val variance = (sq - s * s / n) / n
      if (variance > 0) {
        val z4 = math.floor((vals(i) - mean) / math.sqrt(variance) * 1e4 + 0.5) / 1e4
        Some((counts(i)._2, vals(i), z4, math.abs(z4) >= 3.0))
      } else None
    }
    assert(got.toSeq == expected)
    assert(got.exists(r => r._1 == 13L && r._4), "planted spike flagged")
    assert(got.count(_._4) >= 1 && got.length == 5,
      "days 11-15 scored, earlier days lack a full window")
  }

  test("streaming EWMA equals the batch fold across a burst boundary") {
    import spark.implicits._
    val eSchema = StructType(Seq(
      StructField("key", LongType), StructField("bin", LongType),
      StructField("units", LongType)))
    // Two keys, 9 bins each; the burst split lands mid-series, so bins
    // 5-9 smooth correctly only if (n, s) carries across the trigger.
    def series(k: Long) = (1L to 9L).map(b => (k, b, 100L * b + k * 7))
    val all = series(1) ++ series(2)
    val bursts = Seq(all.filter(_._2 <= 4), all.filter(_._2 > 4))
    val dir = java.nio.file.Files.createTempDirectory("graft-ewma").toString
    bursts.foreach { b =>
      b.toDF("key", "bin", "units").coalesce(1).write.mode("append")
        .parquet(s"$dir/stream")
      Thread.sleep(1100)
    }
    val q = EventStream.replayParquetAsStream(spark, s"$dir/stream", eSchema,
      d => EventStream.streamingEwma(d.as[EventStream.BinValue]).toDF(),
      "ewma_sink", org.apache.spark.sql.streaming.OutputMode.Append())
    q.awaitTermination(60000)
    val got = spark.table("ewma_sink").collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[Long]("bin"),
        r.getAs[Long]("ewma_units"), r.getAs[Long]("n_bins")))
      .sortBy(x => (x._1, x._2))
    // Plain fold of the identical recurrence — the batch q_ts_ewma math.
    val expected = Seq(1L, 2L).flatMap { k =>
      val vs = series(k).map(_._3)
      vs.indices.map { i =>
        val s = vs.drop(1).take(i)
          .foldLeft(vs.head)((acc, v) => (v + 3 * acc) / 4)
        (k, (i + 1).toLong, s, (i + 1).toLong)
      }
    }.sortBy(x => (x._1, x._2))
    assert(got.toSeq == expected)
  }

  test("streaming Holt equals the batch fold across a burst boundary") {
    import spark.implicits._
    val eSchema = StructType(Seq(
      StructField("key", LongType), StructField("bin", LongType),
      StructField("units", LongType)))
    // Quadratic series: the trend state changes every bin, so a carry
    // bug across the burst boundary cannot cancel out.
    def series(k: Long) = (1L to 9L).map(b => (k, b, 100L * b * b + k * 7))
    val all = series(1) ++ series(2)
    val bursts = Seq(all.filter(_._2 <= 4), all.filter(_._2 > 4))
    val dir = java.nio.file.Files.createTempDirectory("graft-holt").toString
    bursts.foreach { b =>
      b.toDF("key", "bin", "units").coalesce(1).write.mode("append")
        .parquet(s"$dir/stream")
      Thread.sleep(1100)
    }
    val q = EventStream.replayParquetAsStream(spark, s"$dir/stream", eSchema,
      d => EventStream.streamingHolt(d.as[EventStream.BinValue]).toDF(),
      "holt_sink", org.apache.spark.sql.streaming.OutputMode.Append())
    q.awaitTermination(60000)
    val got = spark.table("holt_sink").collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[Long]("bin"),
        r.getAs[Long]("level"), r.getAs[Long]("trend"), r.getAs[Long]("n")))
      .sortBy(x => (x._1, x._2))
    // Plain fold of the identical recurrence — the batch q_ts_holt math
    // (l₂ = x₂, b₂ = x₂ − x₁, then the coupled div-4 updates).
    val expected = Seq(1L, 2L).flatMap { k =>
      val vs = series(k).map(_._3)
      var l = vs.head
      var b = 0L
      vs.zipWithIndex.drop(1).map { case (v, i) =>
        if (i == 1) { b = v - l; l = v }
        else {
          val l2 = (v + 3 * (l + b)) / 4
          b = (l2 - l + 3 * b) / 4
          l = l2
        }
        (k, (i + 1).toLong, l, b, (i + 1).toLong)
      }
    }.sortBy(x => (x._1, x._2))
    assert(got.toSeq == expected)
  }

  test("streaming backtest accumulators equal the batch fold across a " +
      "burst boundary") {
    import spark.implicits._
    val eSchema = StructType(Seq(
      StructField("key", LongType), StructField("bin", LongType),
      StructField("units", LongType)))
    // Quadratic series again: a one-step forecast is wrong every bin,
    // so (sae, ssm) strictly grow and a state-carry bug cannot hide.
    def series(k: Long) = (1L to 9L).map(b => (k, b, 100L * b * b + k * 7))
    val all = series(1) ++ series(2)
    val bursts = Seq(all.filter(_._2 <= 5), all.filter(_._2 > 5))
    val dir = java.nio.file.Files.createTempDirectory("graft-bt").toString
    bursts.foreach { b =>
      b.toDF("key", "bin", "units").coalesce(1).write.mode("append")
        .parquet(s"$dir/stream")
      Thread.sleep(1100)
    }
    val q = EventStream.replayParquetAsStream(spark, s"$dir/stream", eSchema,
      d => EventStream.streamingBacktest(d.as[EventStream.BinValue]).toDF(),
      "bt_sink", org.apache.spark.sql.streaming.OutputMode.Append())
    q.awaitTermination(60000)
    val got = spark.table("bt_sink").collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[Long]("bin"),
        r.getAs[Long]("forecast"), r.getAs[Long]("abs_err"),
        r.getAs[Long]("sae"), r.getAs[Long]("ssm")))
      .sortBy(x => (x._1, x._2))
    // The q_ts_backtest fold: PRE-update forecasts from bin 3 onward.
    val expected = Seq(1L, 2L).flatMap { k =>
      val vs = series(k).map(_._3)
      var l = vs(1); var b = vs(1) - vs(0); var sae = 0L; var ssm = 0L
      vs.zipWithIndex.drop(2).map { case (v, i) =>
        val fc = l + b
        val e = math.abs(v - fc)
        sae += e; ssm += 2 * e * 10000 / (math.abs(v) + math.abs(fc))
        val l2 = (v + 3 * (l + b)) / 4
        b = (l2 - l + 3 * b) / 4; l = l2
        (k, (i + 1).toLong, fc, e, sae, ssm)
      }
    }.sortBy(x => (x._1, x._2))
    assert(got.toSeq == expected)
  }

  test("streaming backtest survives an all-zero series (0-vs-0 step " +
      "contributes 0 to ssm instead of dividing by zero)") {
    import spark.implicits._
    val eSchema = StructType(Seq(
      StructField("key", LongType), StructField("bin", LongType),
      StructField("units", LongType)))
    // All-zero series: l = b = 0, so every forecast is 0 against an
    // actual of 0 — the denominator |units|+|fc| is 0 at every eval step.
    // Before the guard, Scala Long '/' threw ArithmeticException here and
    // killed the query.
    val rows = (1L to 5L).map(b => (9L, b, 0L))
    val dir = java.nio.file.Files.createTempDirectory("graft-btz").toString
    rows.toDF("key", "bin", "units").coalesce(1).write.mode("append")
      .parquet(s"$dir/stream")
    val q = EventStream.replayParquetAsStream(spark, s"$dir/stream", eSchema,
      d => EventStream.streamingBacktest(d.as[EventStream.BinValue]).toDF(),
      "btz_sink", org.apache.spark.sql.streaming.OutputMode.Append())
    q.awaitTermination(60000)
    val got = spark.table("btz_sink").collect()
      .map(r => (r.getAs[Long]("bin"), r.getAs[Long]("forecast"),
        r.getAs[Long]("sae"), r.getAs[Long]("ssm")))
      .sortBy(_._1)
    assert(got.toSeq == (3L to 5L).map(b => (b, 0L, 0L, 0L)))
  }

  test("streaming SCD2 closed rows equal the batch build's closed rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("key", LongType), StructField("ts", LongType),
      StructField("id", LongType), StructField("value", StringType)))
    // Key-ordered bursts (the changelog contract); runs split across
    // bursts must close identically to the batch build. Key 1 changes
    // across the burst boundary; key 2 has an in-burst no-op.
    val bursts = Seq(
      Seq((1L, 10L, 1L, "gold"), (1L, 20L, 2L, "silver"),
        (2L, 10L, 3L, "basic"), (2L, 15L, 4L, "basic")),
      Seq((1L, 30L, 5L, "gold"), (2L, 40L, 6L, "plus"),
        (1L, 40L, 7L, "gold")))
    val dir = java.nio.file.Files.createTempDirectory("graft-scd2s").toString
    bursts.foreach { b =>
      b.toDF("key", "ts", "id", "value")
        .coalesce(1).write.mode("append").parquet(s"$dir/stream")
      Thread.sleep(1100)
    }
    val q = EventStream.replayParquetAsStream(spark, s"$dir/stream", schema,
      d => EventStream.streamingScd2(d.as[EventStream.Scd2Change]).toDF(),
      "scd2_sink", org.apache.spark.sql.streaming.OutputMode.Append())
    q.awaitTermination(60000)
    val streamed = spark.table("scd2_sink")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val batch = graft.operators.Scd2.build(
        bursts.flatten.toDF("key", "ts", "id", "value"),
        "key", "ts", "id", "value")
      .filter(!col("is_current"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(streamed == batch,
      s"streamed closed rows != batch:\n$streamed\nvs\n$batch")
  }
}
