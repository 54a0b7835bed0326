package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted single-source(-set) shortest paths by synchronous Bellman–Ford
  * relaxation (Bellman 1958) — the weighted companion to [[Bfs]]: after R
  * rounds every node holds the cheapest known cost from the seed set over
  * paths of ≤ R edges. On a purchase graph with per-edge costs this is the
  * "cheapest association distance" from a trusted vendor set; with
  * uniform weights it degenerates to BFS hop counts.
  *
  * Distributed shape: the tentative-distance relation holds ONLY reached
  * nodes (no ∞ sentinel rows — unreached nodes are simply absent, so the
  * working set grows with the frontier's closure, never the full node
  * set). Each round is ONE equi-join of the min-collapsed edge relation
  * against the current distances (on src, the edge relation's checkpoint
  * partitioning) and ONE min-aggregate by node over old ∪ relaxed rows —
  * the round's only exchange. All integer arithmetic: weights are Longs,
  * min/+ are exact, so every round — and therefore the generated DuckDB
  * oracle ([[oracleCtes]]) — is replayable bit for bit. localCheckpoint
  * per round truncates the geometric lineage (the KCore lesson);
  * summaries defer to one final job (the LabelProp lesson). */
object Sssp {

  /** Per-round reachability summary (round, n_reached, sum_dist,
    * max_dist) for rounds 0..R from the seed set {n : n % seedsMod == 0}.
    * `sum_dist` is an order-invariant checksum of the whole distance
    * vector, so equal consecutive rounds witness the fixpoint. Edges:
    * (src, dst, w) directed with POSITIVE integer weights — symmetrize
    * before calling for undirected graphs; parallel edges collapse to
    * their min weight here. */
  def distanceSummary(edges: DataFrame, seedsMod: Long,
                      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // COST gate (SmallGraph): identical min-collapse + relax rounds
    // inside ONE executor task under the size threshold; the
    // distributed loop below is the 100 TB path.
    SmallGraph.route(edges, Seq("src", "dst", "w"))(
        SmallGraph.ssspKernel(_, seedsMod, rounds),
        "round", "n_reached", "sum_dist", "max_dist") { edges =>
      val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
        .groupBy("src", "dst").agg(min("w").as("w"))
        .repartition(col("src")).localCheckpoint(true)
      var d = e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node"))).distinct()
        .filter(pmod(col("node"), lit(seedsMod)) === 0)
        .select(col("node"), lit(0L).as("dist"))
        .localCheckpoint(true)
      val snapshots = scala.collection.mutable.ArrayBuffer(d)
      for (_ <- 1 to rounds) {
        val relaxed = e
          .join(d.select(col("node").as("src"), col("dist")), Seq("src"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        d = d.unionByName(relaxed)
          .groupBy("node").agg(min("dist").as("dist"))
          .localCheckpoint(true)
        snapshots += d
      }
      snapshots.zipWithIndex.map { case (s, r) =>
        s.agg(count(lit(1)).as("n_reached"),
            coalesce(sum(col("dist")), lit(0L)).as("sum_dist"),
            coalesce(max(col("dist")), lit(0L)).as("max_dist"))
          .select(lit(r.toLong).as("round"), col("n_reached"),
            col("sum_dist"), col("max_dist"))
      }.reduce(_ unionByName _)
    }
  }

  /** Generated DuckDB replay over a weighted edge CTE `edgesSql`
    * (columns src, dst, w): min-collapse parallel edges, then R
    * relax-and-min rounds as chained MATERIALIZED CTEs d0..dR plus a
    * `summary`; the final SELECT is the caller's. */
  def oracleCtes(edgesSql: String, seedsMod: Long, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""WITH e0 AS MATERIALIZED ($edgesSql),
      em AS MATERIALIZED (
        SELECT src, dst, min(w) AS w FROM e0 GROUP BY src, dst),
      d0 AS MATERIALIZED (
        SELECT n AS node, CAST(0 AS BIGINT) AS dist FROM (
          SELECT DISTINCT src AS n FROM em
          UNION SELECT DISTINCT dst FROM em)
        WHERE n % $seedsMod = 0)""")
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(s""",
        d$r AS MATERIALIZED (
          SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM d$p
            UNION ALL
            SELECT e.dst AS node, d.dist + e.w AS dist
            FROM em e JOIN d$p d ON d.node = e.src)
          GROUP BY node)""")
    }
    sb.append(s""",
      summary AS (${(0 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
            CAST(count(*) AS BIGINT) AS n_reached,
            CAST(COALESCE(sum(dist), 0) AS BIGINT) AS sum_dist,
            CAST(COALESCE(max(dist), 0) AS BIGINT) AS max_dist FROM d$r"""
    }.mkString(" UNION ALL ")})""")
    sb.toString
  }
}
