package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling (Seidman 1983; the
  * distributed formulation of Montresor et al. 2013): repeatedly delete
  * every node of degree < k until none remains — the fixpoint is the
  * k-core, the standard coreness filter for "dense enough to matter"
  * subgraphs in link/co-occurrence analysis (spam farms, community
  * seeds, influencer backbones).
  *
  * Each round is two aggregates + one semi-join on a SHRINKING edge set
  * (degree count, survivor filter, edge restriction) — all key-partitioned
  * DataFrame ops, no driver-side graph state. Rounds are data-dependent
  * but monotone (node sets only shrink), so a fixed unroll R with a
  * convergence witness (two equal consecutive rounds) is both the bench
  * query and the GENERATED DuckDB oracle: [[oracleCtes]] writes the same
  * R rounds as SQL, keeping both engines in lockstep by construction —
  * the PageRank/DetKMeans pattern. */
object KCore {

  /** Survivor node set after `rounds` peels at threshold k, as one
    * summary row per round: (round, n_nodes, n_edges). Round 0 is the
    * input graph; if the last two rounds match, the fixpoint (the true
    * k-core) was reached within the unroll. Edges must be canonical
    * (lo < hi, distinct) — [[Triangles.canonical]] produces exactly
    * that. */
  def peelSummary(canonEdges: DataFrame, k: Int, rounds: Int): DataFrame = {
    // COST gate (SmallGraph): identical peel rounds inside ONE executor
    // task under the size threshold; the distributed loop below is the
    // 100 TB path.
    SmallGraph.route(canonEdges, Seq("lo", "hi"))(
        SmallGraph.kcoreKernel(_, k, rounds),
        "round", "n_nodes", "n_edges") { canonEdges =>
      // localCheckpoint per round, NOT persist: each round references its
      // parent edge set 3–4 times, so the un-truncated logical lineage (and
      // its explain/UI string) grows ~4^R on top of whatever produced the
      // edges — at R = 6 that OOM'd the driver building the plan STRING
      // before a single task ran. Checkpointing truncates the plan to the
      // materialized blocks, the same medicine PageRank takes.
      var edges = canonEdges.select(col("lo"), col("hi"))
        .localCheckpoint(true)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      val spark = canonEdges.sparkSession
      for (r <- 0 to rounds) {
        // One degree aggregate per round serves the survivor filter, the
        // node count (every surviving node has ≥ 1 edge, so |deg| ==
        // |nodes|) AND the edge count (Σdeg = 2|E|) — one scheduler job
        // where the first cut of this operator ran three (deg.count +
        // edges.count + the checkpoint): on KB-scale late rounds the job
        // FLOOR, not the data, is the cost.
        // deg is NOT checkpointed: it sits one aggregate above the
        // checkpointed edge set (no lineage growth), and recomputing it in
        // the two jobs that read it costs less than a third materialization
        // job per round — 2 scheduler jobs per round total.
        val deg = edges.select(col("lo").as("n"))
          .unionAll(edges.select(col("hi").as("n")))
          .groupBy("n").agg(count(lit(1)).as("d"))
        val c = deg.agg(count(lit(1)).as("nn"),
          coalesce(sum(col("d")), lit(0L)).as("sd")).head()
        val (nNodes, nEdges) = (c.getLong(0), c.getLong(1) / 2)
        out += ((r.toLong, nNodes, nEdges))
        if (r < rounds) {
          val keep = deg.filter(col("d") >= k).select("n")
          // Late rounds shrink to KB scale; coalesce the survivor edge set
          // so every subsequent job runs proportionally few tasks (~500k
          // edges per partition, never fewer than 1). coalesce only ever
          // REDUCES partition count, so on a real cluster with large
          // per-round relations this is a no-op — the 100 TB plan shape is
          // unchanged; only the small-tail scheduler floor shrinks.
          val parts = math.max(1, math.min(
            edges.rdd.getNumPartitions, (nEdges / 500000L).toInt + 1))
          edges = edges
            .join(keep.select(col("n").as("lo")), Seq("lo"), "left_semi")
            .join(keep.select(col("n").as("hi")), Seq("hi"), "left_semi")
            .select("lo", "hi")
            .coalesce(parts)
            .localCheckpoint(true)
        }
      }
      import spark.implicits._
      out.toSeq.toDF("round", "n_nodes", "n_edges")
    }
  }

  /** Generated DuckDB replay: the same R peel rounds as chained CTEs over
    * a canonical edge CTE named `e0` that the caller provides via
    * `edgesSql`. Produces CTEs e0..eR and per-round summaries; final
    * SELECT is left to the caller's column conventions. */
  def oracleCtes(edgesSql: String, k: Int, rounds: Int): String = {
    // MATERIALIZED throughout: DuckDB inlines plain CTEs, and each round
    // references its parent ~4 times — un-materialized, e_R expands e0
    // exponentially (observed: "too many open files" from thousands of
    // parquet re-opens before the driver's compare even started).
    val sb = new StringBuilder
    sb.append(s"WITH e0 AS MATERIALIZED ($edgesSql)")
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(s""",
        d$r AS MATERIALIZED (SELECT n, count(*) AS d FROM (
                  SELECT lo AS n FROM e$p UNION ALL SELECT hi AS n FROM e$p)
                GROUP BY n),
        k$r AS MATERIALIZED (SELECT n FROM d$r WHERE d >= $k),
        e$r AS MATERIALIZED (SELECT lo, hi FROM e$p
                WHERE lo IN (SELECT n FROM k$r)
                  AND hi IN (SELECT n FROM k$r))""")
    }
    sb.append(s""",
      summary AS (${(0 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
            (SELECT count(DISTINCT n) FROM
              (SELECT lo AS n FROM e$r UNION ALL SELECT hi AS n FROM e$r))
              AS n_nodes,
            (SELECT count(*) FROM e$r) AS n_edges"""
    }.mkString(" UNION ALL ")})""")
    sb.toString
  }
}
