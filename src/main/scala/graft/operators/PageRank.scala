package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DataFrame power-iteration PageRank (Page et al. 1999, "The PageRank
  * Citation Ranking"), the standard link-analysis pass a crawl-curation
  * pipeline runs over the host graph to prioritize what to keep at corpus
  * scale.
  *
  * Engine-portable determinism: double sums are order-dependent in the last
  * ulp, and Spark's partial-aggregation order is nondeterministic — so each
  * iteration converts per-edge contributions to integer picorank units
  * (`floor(rank/outdeg · 10¹² + 0.5)` as BIGINT) and sums those. Integer
  * sums are exact and order-independent, so every iteration's ranks are
  * bit-identical across runs AND across engines (the DuckDB oracle replays
  * the same unit arithmetic). Overflow headroom: total rank mass is ~N, so
  * unit sums stay ≤ N·10¹² ≪ 2⁶³ for any N this engine meets per job.
  *
  * Scale shape: one hash-shuffle per iteration (groupBy dst), joined
  * against an `edges` relation that stays partitioned by src throughout;
  * ranks are localCheckpoint'd every few rounds so the lineage (and thus
  * the replanning cost) stays O(1) instead of O(iterations). Dangling
  * nodes contribute nothing (their mass evaporates, the classic
  * "simplified PageRank" variant) — callers who need ergodicity pass a
  * symmetrized edge list, as the registry query does.
  */
object PageRank {

  /** Rounds actually computed by the last [[run]] on this JVM —
    * diagnostic/spec hook for the [[FixpointGate]] early-exit (equals
    * `iterations` unless the gate fired). */
  @volatile private[graft] var lastRoundsExecuted: Int = -1

  /** Ranks after exactly `iterations` rounds.
    *
    * @param edges directed edges with `srcCol`/`dstCol`; parallel edges are
    *              collapsed. Nodes = every id appearing as src or dst.
    * @return (node, rank) — rank rounded to 9 dp at the end (deterministic
    *         floor(x·10⁹+0.5) rounding, same as the oracle).
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // COST gate (SmallGraph): under the size threshold the whole power
    // iteration runs inside ONE executor task with the identical
    // picorank-unit arithmetic — bit-identical output, ~90 scheduler
    // jobs collapse to 1. The distributed loop below stays the 100 TB
    // path and is auto-selected above the threshold.
    lastRoundsExecuted = iterations // the distributed loop overwrites it
    SmallGraph.route(edges, Seq(srcCol, dstCol))(
        SmallGraph.pagerankKernel(_, iterations, damping, null),
        "node", "rank") { edges =>
      // Scheduler-floor guard: an iterative query launches
      // iterations × stages × partitions tasks, so at KB/MB edge scale the
      // session-wide partition count costs more in task launches than it
      // buys in parallelism. Size partitions to ~128k edges each (floor 1,
      // cap the session default, which large graphs keep). The pre-distinct
      // input count is a scan-only upper bound — no extra shuffle to learn
      // it. Partitioning never changes results — unit sums are exact and
      // order-independent.
      val mUpper = edges.count()
      val defaultParts = edges.sparkSession.sessionState.conf.numShufflePartitions
      val parts =
        math.max(1L, math.min(defaultParts.toLong, mUpper / 131072L + 1L)).toInt
      // The distinct edge relation is checkpointed ONCE, already hash-
      // partitioned by src at the chosen width; the degree aggregation and
      // the degree join both reuse that partitioning (no further exchange),
      // and nodes derive from the checkpoint instead of re-running the
      // distinct.
      val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .distinct().repartition(parts, col("src")).localCheckpoint()
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .localCheckpoint() // tiny relation, reused every round
      val n = nodes.count()
      val eDeg = e.join(
          e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
        .localCheckpoint()

      val base = lit((1.0 - damping) / n)
      // The rank update folds INLINE into the next round's contribution
      // join, so the loop carries only the small per-destination unit sums
      // (`contribs`, ≤ |nodes| rows) instead of materializing a full ranks
      // relation each round. That halves the per-round stage count — one
      // eDeg ⋈ contribs left join (AQE broadcasts the tiny contribs side:
      // no shuffle) + one partial-then-final aggregation (the round's single
      // exchange) — which is what dominates iterative wall time at the
      // scheduler floor, while staying algebraically IDENTICAL to the
      // rank-relation form round for round: a node missing from contribs
      // has no in-edges and takes rank = base, exactly as the left join's
      // coalesce encodes. Integer picorank units keep every sum exact and
      // order-independent, so this restructuring cannot move a single bit.
      def rankExpr: org.apache.spark.sql.Column =
        base + lit(damping) * (coalesce(col("in_units"), lit(0L)).cast("double") / 1e12)
      def step(c: DataFrame): DataFrame = eDeg
        .join(c.withColumnRenamed("dst", "_cdst"),
          col("src") === col("_cdst"), "left")
        .select(col("dst"),
          floor(rankExpr / col("outdeg") * 1e12 + 0.5).cast("long").as("units"))
        .groupBy("dst").agg(sum("units").as("in_units"))
      var contribs = eDeg
        .select(col("dst"),
          floor(lit(1.0 / n) / col("outdeg") * 1e12 + 0.5).cast("long").as("units"))
        .groupBy("dst").agg(sum("units").as("in_units"))
      var rounds = 1
      var prevChk: DataFrame = null
      var i = 2
      var fixed = false
      while (i <= iterations && !fixed) {
        contribs = step(contribs)
        rounds += 1
        // Truncate lineage every 3 rounds: keeps the plan O(1) deep (and
        // AQE re-plans each chunk with real sizes). Recompute on executor
        // loss is acceptable — each round is cheap relative to the
        // full-lineage replay this prevents. The same boundary doubles as
        // the FixpointGate probe: every round ≥ 1 covers the full eDeg dst
        // set, so (dst, in_units) set equality vs the previous checkpoint
        // is exact state equality.
        if (i % 3 == 0 && i < iterations) {
          contribs = contribs.localCheckpoint()
          if (prevChk != null &&
              FixpointGate.same(contribs, prevChk, Seq("dst", "in_units"))) {
            val extra = (iterations - i) % 3
            (1 to extra).foreach(_ => contribs = step(contribs))
            rounds += extra
            fixed = true
            println(s"[pagerank] early-exit after round ${i + extra} of " +
              s"$iterations (state at round $i == round ${i - 3} exactly; " +
              s"final state provably identical)")
          } else prevChk = contribs
        }
        i += 1
      }
      lastRoundsExecuted = rounds
      // Only the FINAL round needs the full node set (dangling-in nodes
      // surface with rank = base via the left join's coalesce).
      nodes.join(contribs, nodes("node") === contribs("dst"), "left")
        .select(col("node"),
          (floor(rankExpr * 1e9 + 0.5) / 1e9).as("rank"))
    }
  }

  /** The matching DuckDB oracle: unrolled CTE chain replaying the exact
    * unit arithmetic of [[run]]. `edgesSql` must produce DISTINCT (src,
    * dst) pairs. Generated, not hand-written, so iteration count and
    * damping stay in lockstep with the Scala. */
  def oracleSql(edgesSql: String, iterations: Int = 10,
                damping: Double = 0.85): String = {
    val body = new StringBuilder
    // MATERIALIZED everywhere: DuckDB inlines plain CTEs once per
    // reference, so without it `e`'s DISTINCT/UNION re-runs inside every
    // iteration's join and the concurrent hash tables spill tens of GB
    // at sf1 (the Katz/Hits/Closeness generators always did this).
    body ++= s"""WITH e AS MATERIALIZED ($edgesSql),
      nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
      n_cte AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
      outdeg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
      r0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE)/(SELECT n FROM n_cte) AS rank FROM nodes)"""
    // Every fractional literal is CAST(... AS DOUBLE): DuckDB parses bare
    // 0.85 as DECIMAL(3,2), which would silently switch the arithmetic to
    // decimal and break bit-lockstep with the Scala double math.
    for (i <- 1 to iterations) {
      body ++= s""",
      c$i AS MATERIALIZED (SELECT e.dst, SUM(CAST(FLOOR(r.rank / outdeg.outdeg * 1e12 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS in_units
              FROM r${i - 1} r JOIN outdeg ON r.node = outdeg.src JOIN e ON e.src = outdeg.src
              GROUP BY e.dst),
      r$i AS MATERIALIZED (SELECT nodes.node,
                (CAST(1.0 AS DOUBLE) - CAST($damping AS DOUBLE))/(SELECT n FROM n_cte)
                  + CAST($damping AS DOUBLE) * (COALESCE(c$i.in_units, 0) / 1e12) AS rank
              FROM nodes LEFT JOIN c$i ON nodes.node = c$i.dst)"""
    }
    body ++= s"""
      SELECT node, FLOOR(rank * 1e9 + CAST(0.5 AS DOUBLE)) / 1e9 AS rank
      FROM r$iterations ORDER BY node"""
    body.toString
  }
}
