package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-truss decomposition by iterative support peeling (Cohen 2008,
  * "Trusses: cohesive subgraphs for social network analysis"): every
  * edge of the k-truss participates in ≥ k−2 triangles WITHIN the truss,
  * so repeatedly (a) count per-edge triangle support and (b) delete
  * under-supported edges until fixpoint. The edge-level sibling of
  * k-core — a k-truss is always inside the (k−1)-core but far denser
  * (every edge is locally reinforced), which is why truss peeling is the
  * standard community-backbone extractor.
  *
  * Per round: one support pass = the degree-oriented triangle join of
  * [[Triangles]] (out-degree ≤ O(√m) under skew — NOT the naive 3-way
  * self-join the oracle deliberately runs) + a 3-way edge-role explode +
  * one (lo, hi) count aggregate + one semi-join restriction of the
  * shrinking edge set. All key-partitioned; localCheckpoint per round
  * truncates the geometric join lineage (the k-core lesson). Support
  * counting is the expensive half, so rounds cost ~one triangle pass
  * each — size the input graph accordingly.
  *
  * Edges with ZERO triangles get no support row at all; the semi-join
  * drops them, which is exactly the k ≥ 3 truss semantics (support 0 <
  * k−2). Summaries defer to ONE final job over the checkpointed rounds
  * (nothing in the loop reads them — the LabelProp lesson). The oracle
  * ([[oracleCtes]]) replays every round with naive a<b<c triangle
  * enumeration: same triangles, same supports, lockstep by construction. */
object KTruss {

  /** Per-round survivor summary at threshold k: (round, n_nodes,
    * n_edges), round 0 = input. Equal consecutive rounds witness the
    * fixpoint (the true k-truss). Edges must be canonical (lo < hi,
    * distinct — [[Triangles.canonical]]). */
  def trussSummary(canonEdges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    // COST gate (SmallGraph): per-round support counting runs as
    // sorted-adjacency intersections inside ONE executor task under the
    // size threshold — same triangles, same peel; the distributed
    // triangle join below is the 100 TB path.
    SmallGraph.route(canonEdges, Seq("lo", "hi"), cost = SmallGraph.Superlinear)(
        SmallGraph.ktrussKernel(_, k, rounds),
        "round", "n_nodes", "n_edges") { canonEdges =>
      var edges = canonEdges.select(col("lo"), col("hi")).localCheckpoint(true)
      val snapshots = scala.collection.mutable.ArrayBuffer(edges)
      for (_ <- 1 to rounds) {
        val (tri, releaseTri) = Triangles.trianglesReleasable(
          edges.select(col("lo").as("x"), col("hi").as("y")), "x", "y")
        val sup = tri.select(explode(array(
            struct(col("n1").as("lo"), col("n2").as("hi")),
            struct(col("n1").as("lo"), col("n3").as("hi")),
            struct(col("n2").as("lo"), col("n3").as("hi")))).as("e"))
          .select(col("e.lo").as("lo"), col("e.hi").as("hi"))
          .groupBy("lo", "hi").agg(count(lit(1)).as("sup"))
        edges = edges
          .join(sup.filter(col("sup") >= k - 2).select("lo", "hi"),
            Seq("lo", "hi"), "left_semi")
          .localCheckpoint(true)
        // eager checkpoint above has materialized this round's support pass
        // — release the triangle intermediates so cached blocks don't
        // accumulate linearly with rounds.
        releaseTri()
        snapshots += edges
      }
      snapshots.zipWithIndex.map { case (e, r) =>
        e.select(col("lo").as("n")).unionAll(e.select(col("hi").as("n")))
          .agg(count_distinct(col("n")).as("n_nodes"),
            (count(lit(1)) / 2).cast("long").as("n_edges"))
          .select(lit(r.toLong).as("round"), col("n_nodes"), col("n_edges"))
      }.reduce(_ unionByName _)
    }
  }

  /** Generated DuckDB replay over a canonical edge CTE `edgesSql`
    * (columns lo, hi): per round, naive a<b<c triangle enumeration →
    * 3-role support counts → restriction. CTEs e0..eR + `summary`;
    * final SELECT is the caller's. */
  def oracleCtes(edgesSql: String, k: Int, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(s"WITH e0 AS MATERIALIZED ($edgesSql)")
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(s""",
        t$r AS MATERIALIZED (
          SELECT a.lo AS x, a.hi AS y, b.hi AS z
          FROM e$p a JOIN e$p b ON a.lo = b.lo AND a.hi < b.hi
          JOIN e$p c ON c.lo = a.hi AND c.hi = b.hi),
        s$r AS MATERIALIZED (
          SELECT lo, hi, count(*) AS sup FROM (
            SELECT x AS lo, y AS hi FROM t$r
            UNION ALL SELECT x, z FROM t$r
            UNION ALL SELECT y, z FROM t$r)
          GROUP BY 1, 2),
        e$r AS MATERIALIZED (
          SELECT e.lo, e.hi FROM e$p e
          JOIN s$r s ON s.lo = e.lo AND s.hi = e.hi
          WHERE s.sup >= ${k - 2})""")
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
