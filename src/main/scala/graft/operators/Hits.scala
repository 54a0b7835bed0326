package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HITS hubs-and-authorities (Kleinberg 1999, "Authoritative sources in a
  * hyperlinked environment") over a bipartite left→right edge relation —
  * the eigenvector companion to PageRank: authority(r) = Σ hub(l) over
  * in-edges, hub(l) = Σ authority(r) over out-edges, renormalized each
  * half-step. On a purchase graph this surfaces staple products
  * (authorities) and broad-basket customers (hubs).
  *
  * Engine-portable determinism, the PageRank/Pca recipe: scores live in
  * integer 1e6 units, every Σ is an exact integer sum (order-independent
  * — raw double sums would drift an ulp under Spark's nondeterministic
  * partial-aggregation order), and each half-step renormalizes to
  * max = 10⁶ with integer division (scores are nonnegative, so floor and
  * truncation coincide and DuckDB's HUGEINT `//` matches Spark's `div`
  * bit for bit). The generated oracle ([[oracleCtes]]) replays every
  * half-step. Headroom: the half-step sum Σ ≤ indeg·10⁶ stays in Long up
  * to ~9·10¹²-in-degree nodes; the renormalization product s·10⁶ is
  * computed in Decimal(38,0) (it would wrap Long past ~9·10⁶ in-degree),
  * matching the oracle's HUGEINT arithmetic exactly.
  *
  * Scale shape: the edge relation checkpoints ONCE pre-partitioned by the
  * left key; score snapshots are node-sized and broadcast into the
  * contribution joins when the measured side is under the gate (the
  * LabelProp pattern — above it the join degrades to the ordinary
  * shuffle join), so the hub half-step aggregates exchange-free on the
  * preserved left partitioning and the authority half-step pays the one
  * per-round exchange. Per-round maxima ride as broadcast 1-row
  * aggregates, never a driver collect; localCheckpoint per round bounds
  * the lineage; the top-k report is ONE final deferred job. */
object Hits {

  /** Broadcast gate for the score snapshots (see [[LabelProp.BroadcastMaxLabels]]). */
  val BroadcastMaxNodes: Long = 2000000L

  val Unit6 = 1000000L

  /** Top-k authorities and hubs after `rounds` full rounds:
    * (kind ∈ 'auth'|'hub', id, score_unit), max score = 10⁶ by
    * construction. Edges: distinct (left, right) pairs. */
  def topHubsAuthorities(edges: DataFrame, leftCol: String, rightCol: String,
                         rounds: Int, k: Int = 10,
                         broadcastMaxNodes: Long = BroadcastMaxNodes): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // COST gate (SmallGraph): the half-step sums and the truncating
    // BigInt renormalization run inside ONE executor task under the
    // size threshold; the distributed loop below is the 100 TB path.
    SmallGraph.route(edges, Seq(leftCol, rightCol))(
        SmallGraph.hitsKernel(_, rounds, k), "kind", "id", "score_unit") {
        edges =>
      val e = edges.select(col(leftCol).as("c"), col(rightCol).as("p"))
        .distinct().repartition(col("c")).localCheckpoint(true)
      var h = e.select(col("c")).distinct()
        .select(col("c"), lit(Unit6).as("h")).localCheckpoint(true)
      val bcast = h.count() <= broadcastMaxNodes &&
        e.select(col("p")).distinct().count() <= broadcastMaxNodes
      def gated(df: DataFrame): DataFrame = if (bcast) broadcast(df) else df
      def renorm(raw: DataFrame, keyCol: String, out: String): DataFrame =
        raw.crossJoin(broadcast(raw.agg(max(col("s")).as("mx"))))
          .select(col(keyCol),
            expr(s"CAST(s AS DECIMAL(38,0)) * $Unit6 div mx").as(out))
      var a: DataFrame = null
      for (_ <- 1 to rounds) {
        val aRaw = e.join(gated(h), Seq("c"))
          .groupBy("p").agg(sum(col("h")).as("s"))
        a = renorm(aRaw, "p", "a").localCheckpoint(true)
        val hRaw = e.join(gated(a), Seq("p"))
          .groupBy("c").agg(sum(col("a")).as("s"))
        h = renorm(hRaw, "c", "h").localCheckpoint(true)
      }
      def top(df: DataFrame, kind: String, id: Column, score: Column): DataFrame =
        df.orderBy(score.desc, id).limit(k)
          .select(lit(kind).as("kind"), id.as("id"), score.as("score_unit"))
      top(a, "auth", col("p"), col("a"))
        .unionByName(top(h, "hub", col("c"), col("h")))
        .orderBy(col("kind"), col("score_unit").desc, col("id"))
    }
  }

  /** Generated DuckDB replay over an edge CTE `edgesSql` (columns c, p):
    * h0 all-10⁶, then `rounds` × (authority half-step, hub half-step)
    * with the same HUGEINT truncating renormalization. Final CTEs
    * a<rounds> / h<rounds>; the SELECT is the caller's. */
  def oracleCtes(edgesSql: String, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""WITH e0 AS MATERIALIZED ($edgesSql),
      h0 AS (SELECT DISTINCT c, CAST($Unit6 AS BIGINT) AS h FROM e0)""")
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(s""",
        ar$r AS MATERIALIZED (
          SELECT p, sum(h) AS s FROM e0 JOIN h$p USING (c) GROUP BY p),
        a$r AS MATERIALIZED (
          SELECT p, CAST(s * $Unit6 // (SELECT max(s) FROM ar$r) AS BIGINT) AS a
          FROM ar$r),
        hr$r AS MATERIALIZED (
          SELECT c, sum(a) AS s FROM e0 JOIN a$r USING (p) GROUP BY c),
        h$r AS MATERIALIZED (
          SELECT c, CAST(s * $Unit6 // (SELECT max(s) FROM hr$r) AS BIGINT) AS h
          FROM hr$r)""")
    }
    sb.toString
  }
}
