package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source breadth-first search over an undirected graph — hop
  * distance from a seed SET, the traversal primitive behind "link
  * distance from trusted domains" quality propagation (TrustRank,
  * Gyöngyi et al. VLDB 2004), crawl-frontier scheduling, and blast-radius
  * queries. dist(n) = min hops from any seed; multi-source is ONE pass
  * (the frontier starts as the whole seed set), not |seeds| traversals.
  *
  * Distributed shape (Pregel-without-Pregel, the PageRank/KCore family):
  * each round is one key-partitioned semi-join of the directed adjacency
  * against the current frontier (neighbor expansion), a distinct, and an
  * anti-join against the visited set — frontiers only shrink the
  * unvisited pool, so the loop terminates in ≤ diameter rounds. All
  * relations are DataFrames; no driver-side graph state.
  * `localCheckpoint` per round truncates the multiplying lineage (the
  * KCore lesson). A fixed unroll R with the last frontier empty (or the
  * summary stable) doubles as the GENERATED DuckDB oracle via
  * [[oracleCtes]], keeping both engines in bit-lockstep by
  * construction. */
object Bfs {

  /** Per-hop frontier summary (hop, n_nodes, sum_id) after a fixed unroll
    * of `rounds` expansions from the seed set {n : n % seedsMod == 0}.
    * `sum_id` is an order-invariant checksum of WHICH nodes sit at each
    * hop, not just how many. Edges must be canonical (lo < hi, distinct)
    * — [[Triangles.canonical]] produces exactly that. */
  def hopSummary(canonEdges: DataFrame, seedsMod: Long,
                 rounds: Int): DataFrame = {
    val spark = canonEdges.sparkSession
    // COST gate (SmallGraph): identical frontier expansion inside ONE
    // executor task under the size threshold; the distributed loop
    // below is the 100 TB path.
    SmallGraph.route(canonEdges, Seq("lo", "hi"))(
        SmallGraph.bfsKernel(_, seedsMod, rounds),
        "hop", "n_nodes", "sum_id") { canonEdges =>
      val edges = canonEdges.select(col("lo"), col("hi")).localCheckpoint(true)
      // Undirected graph, directed adjacency: each edge contributes both
      // directions so one semi-join by src expands a frontier fully.
      val adj = edges.select(col("lo").as("src"), col("hi").as("dst"))
        .unionAll(edges.select(col("hi").as("src"), col("lo").as("dst")))
        .localCheckpoint(true)
      val nodes = edges.select(col("lo").as("n"))
        .unionAll(edges.select(col("hi").as("n")))
        .distinct()
      var frontier = nodes.filter(pmod(col("n"), lit(seedsMod)) === 0)
        .localCheckpoint(true)
      var visited = frontier
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
      for (r <- 0 to rounds) {
        val row = frontier
          .agg(count(lit(1)).as("c"), coalesce(sum(col("n")), lit(0L)).as("s"))
          .head()
        out += ((r.toLong, row.getLong(0), row.getLong(1)))
        if (r < rounds) {
          frontier = adj
            .join(frontier.select(col("n").as("src")), Seq("src"), "left_semi")
            .select(col("dst").as("n")).distinct()
            .join(visited, Seq("n"), "left_anti")
            .localCheckpoint(true)
          visited = visited.unionAll(frontier).localCheckpoint(true)
        }
      }
      import spark.implicits._
      out.toSeq.toDF("hop", "n_nodes", "sum_id")
    }
  }

  /** Generated DuckDB replay: the same R expansion rounds as chained
    * MATERIALIZED CTEs over a canonical edge CTE `e0` provided via
    * `edgesSql` (MATERIALIZED for the same reason as KCore: each round
    * references its parents repeatedly). Produces frontier CTEs f0..fR
    * and a `summary`; the final SELECT is the caller's. */
  def oracleCtes(edgesSql: String, seedsMod: Long, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""WITH e0 AS MATERIALIZED ($edgesSql),
      adj AS MATERIALIZED (SELECT lo AS src, hi AS dst FROM e0
              UNION ALL SELECT hi, lo FROM e0),
      f0 AS MATERIALIZED (SELECT DISTINCT n FROM
              (SELECT lo AS n FROM e0 UNION ALL SELECT hi FROM e0)
            WHERE n % $seedsMod = 0),
      v0 AS MATERIALIZED (SELECT n FROM f0)""")
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(s""",
        f$r AS MATERIALIZED (SELECT DISTINCT dst AS n FROM adj
                WHERE src IN (SELECT n FROM f$p)
                  AND dst NOT IN (SELECT n FROM v$p)),
        v$r AS MATERIALIZED (SELECT n FROM v$p UNION ALL SELECT n FROM f$r)""")
    }
    sb.append(s""",
      summary AS (${(0 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS hop,
            CAST(count(*) AS BIGINT) AS n_nodes,
            CAST(COALESCE(sum(n), 0) AS BIGINT) AS sum_id FROM f$r"""
    }.mkString(" UNION ALL ")})""")
    sb.toString
  }
}
