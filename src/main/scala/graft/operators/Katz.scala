package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Truncated Katz centrality (Katz 1953's status index; the k-step
  * truncation is the standard fixed-budget estimator): x₀ = β,
  * x_k(i) = β + α·Σ_{j→i} x_{k-1}(j) — every walk into i counts,
  * attenuated by α per hop, unlike PageRank's degree-normalized mass
  * or HITS' mutual reinforcement. FULLY integer: β = 10⁶ micro-units,
  * α = 1/alphaDen applied as ONE truncating division per edge
  * (x div alphaDen), so each round is a sum of per-edge integers —
  * exact, order-free, replayed op-for-op by [[oracleCtes]]. Growth
  * bound: k rounds on a max-degree-d graph keep x ≤ 10⁶·(d/alphaDen)^k
  * (256/20)^6 ≈ 4.5·10⁶ → ~10¹³ micro-units — six orders under Long.
  *
  * Scale shape: one src-keyed join + one dst aggregate per round
  * (the PageRank loop shape), over an adjacency relation checkpointed
  * once and pre-partitioned by src; the carried (node, xu) relation is
  * node-sized and runs through the [[FixpointGate]] round loop. */
object Katz {

  /** Rounds actually computed by the last [[topK]] on this JVM —
    * diagnostic/spec hook for the [[FixpointGate]] early-exit (equals
    * `iterations` unless the gate fired). */
  @volatile private[graft] var lastRoundsExecuted: Int = -1

  /** Top-`k` nodes by `iterations`-step Katz index with α = 1/alphaDen
    * over the symmetrized edge relation. Edges must be canonical
    * (lo < hi, distinct) — [[Triangles.canonical]] output. */
  def topK(canonEdges: DataFrame, alphaDen: Long, iterations: Int,
           k: Int): DataFrame = {
    require(iterations >= 1, "Katz needs at least one iteration")
    require(alphaDen >= 2, "alpha must be < 1: alphaDen >= 2")
    // COST gate (SmallGraph): the integer attenuation rounds in ONE
    // executor task under the size threshold; the distributed loop
    // below is the 100 TB path.
    lastRoundsExecuted = iterations // the distributed loop overwrites it
    SmallGraph.route(canonEdges, Seq("lo", "hi"))(
        SmallGraph.katzKernel(_, alphaDen, iterations, k),
        "node", "katz_micro") { canonEdges =>
      val edges = canonEdges.select(col("lo"), col("hi")).localCheckpoint(true)
      val adj = edges.select(col("lo").as("src"), col("hi").as("dst"))
        .unionAll(edges.select(col("hi").as("src"), col("lo").as("dst")))
        .repartition(col("src"))
        .localCheckpoint(true)
      val nodes = edges.select(col("lo").as("node"))
        .unionAll(edges.select(col("hi").as("node")))
        .distinct()
        .localCheckpoint(true)
      def step(s: DataFrame): DataFrame = {
        val contrib = adj
          .join(s.select(col("node").as("src"), col("xu")), Seq("src"))
          .select(col("dst"), expr(s"xu div $alphaDen").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("in_u"))
        nodes
          .join(contrib, nodes("node") === contrib("dst"), "left")
          .select(col("node"),
            (lit(1000000L) + coalesce(col("in_u"), lit(0L))).as("xu"))
      }
      // Every round's x covers the full node set, so (node, xu) set
      // equality is exact state equality. Strong attenuation (large
      // alphaDen truncating every contribution to 0) reaches this
      // fixpoint after one round.
      val (x, rounds) = FixpointGate.rounds("katz",
        nodes.withColumn("xu", lit(1000000L)), 0, iterations,
        Seq("node", "xu"))(step)
      lastRoundsExecuted = rounds
      x.select(col("node"), col("xu").as("katz_micro"))
        .orderBy(col("katz_micro").desc, col("node"))
        .limit(k)
    }
  }

  /** Generated DuckDB replay: the identical per-edge truncating
    * attenuation, one (contribution, update) CTE pair per round.
    * Emits CTEs through `x$iterations`; the final SELECT is the
    * caller's. */
  def oracleCtes(edgesSql: String, alphaDen: Long, iterations: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""WITH e0 AS MATERIALIZED ($edgesSql),
      adj AS MATERIALIZED (SELECT lo AS src, hi AS dst FROM e0
              UNION ALL SELECT hi, lo FROM e0),
      nodes AS MATERIALIZED (SELECT DISTINCT n AS node FROM
              (SELECT lo AS n FROM e0 UNION ALL SELECT hi FROM e0)),
      x0 AS MATERIALIZED (SELECT node, CAST(1000000 AS BIGINT) AS xu
              FROM nodes)""")
    for (i <- 1 to iterations) {
      val p = i - 1
      sb.append(s""",
        c$i AS (SELECT a.dst, CAST(sum(x.xu // $alphaDen) AS BIGINT) AS in_u
                FROM adj a JOIN x$p x ON a.src = x.node GROUP BY 1),
        x$i AS MATERIALIZED (SELECT n.node,
                CAST(1000000 + COALESCE(c.in_u, 0) AS BIGINT) AS xu
                FROM nodes n LEFT JOIN c$i c ON n.node = c.dst)""")
    }
    sb.toString
  }
}
