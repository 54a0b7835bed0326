package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Personalized PageRank (Haveliwala 2002, "Topic-sensitive PageRank"):
  * identical power iteration to [[PageRank]] except the teleport mass
  * lands ONLY on a seed set — rank measures relevance *to the seeds*, not
  * global importance. This is the seed-expansion pass a curation pipeline
  * runs to grow a trusted core (TrustRank is exactly this with a vetted
  * seed list, Gyöngyi 2004): start from known-good hosts/documents and
  * harvest everything the link structure pulls close.
  *
  * Arithmetic is the [[PageRank]] recipe verbatim — per-edge
  * contributions floor to integer picorank units, integer sums are exact
  * and order-independent, and the generated oracle ([[oracleSql]])
  * replays every round — with two seed-local changes: r₀ = 1/|S| on
  * seeds (0 elsewhere) and the per-node base term is (1−d)/|S| on seeds
  * (0 elsewhere). Non-seed nodes with no in-links hold rank 0, which the
  * final left join's coalesce encodes.
  *
  * The seed set arrives as a PREDICATE (a Column and its SQL twin), not
  * a materialized list: membership tests stay codegen'd row-local work
  * on both engines, and |S| is measured once driver-side. */
object Ppr {

  /** Rounds actually computed by the last [[run]] on this JVM —
    * diagnostic/spec hook for the [[FixpointGate]] early-exit (equals
    * `iterations` unless the gate fired). */
  @volatile private[graft] var lastRoundsExecuted: Int = -1

  /** Ranks after `iterations` rounds, personalized to the nodes matching
    * `isSeed`. Output (node, rank) at 9 dp, every node. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          isSeed: Column => Column, iterations: Int = 10,
          damping: Double = 0.85,
          isSeedLocal: Long => Boolean = null): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // COST gate (SmallGraph): callers that supply the seed predicate's
    // Long twin opt in to the bounded single-task kernel — identical
    // picorank arithmetic, one job instead of ~rounds×stages. Callers
    // that pass only the Column predicate always run distributed.
    def distributed(edges: DataFrame): DataFrame = {
      val mUpper = edges.count()
      val defaultParts = edges.sparkSession.sessionState.conf.numShufflePartitions
      val parts =
        math.max(1L, math.min(defaultParts.toLong, mUpper / 131072L + 1L)).toInt
      val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .distinct().repartition(parts, col("src")).localCheckpoint()
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .localCheckpoint()
      val nS = nodes.filter(isSeed(col("node"))).count()
      require(nS > 0, "personalization needs at least one seed node")
      val eDeg = e.join(
          e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
        .localCheckpoint()

      // base(v) = (1-d)/|S| on seeds, 0 elsewhere — written as the same
      // two-op double expression the oracle uses.
      def baseOf(node: Column): Column =
        when(isSeed(node), lit((1.0 - damping) / nS)).otherwise(lit(0.0))
      def rankExpr(node: Column): Column =
        baseOf(node) +
          lit(damping) * (coalesce(col("in_units"), lit(0L)).cast("double") / 1e12)
      def step(c: DataFrame): DataFrame = eDeg
        .join(c.withColumnRenamed("dst", "_cdst"),
          col("src") === col("_cdst"), "left")
        .select(col("dst"),
          floor(rankExpr(col("src")) / col("outdeg") * 1e12 + 0.5)
            .cast("long").as("units"))
        .groupBy("dst").agg(sum("units").as("in_units"))
      var contribs = eDeg
        .filter(isSeed(col("src"))) // r0 is nonzero only on seeds
        .select(col("dst"),
          floor(lit(1.0 / nS) / col("outdeg") * 1e12 + 0.5).cast("long").as("units"))
        .groupBy("dst").agg(sum("units").as("in_units"))
      var rounds = 1
      var prevChk: DataFrame = null
      var i = 2
      var fixed = false
      while (i <= iterations && !fixed) {
        contribs = step(contribs)
        rounds += 1
        // FixpointGate at the checkpoint boundary (see PageRank): all
        // compared checkpoints are from rounds ≥ 2, where the dst key set
        // is the full eDeg dst set (round 1's seed-only coverage never
        // reaches a comparison), so set equality == exact state equality.
        if (i % 3 == 0 && i < iterations) {
          contribs = contribs.localCheckpoint()
          if (prevChk != null &&
              FixpointGate.same(contribs, prevChk, Seq("dst", "in_units"))) {
            val extra = (iterations - i) % 3
            (1 to extra).foreach(_ => contribs = step(contribs))
            rounds += extra
            fixed = true
            println(s"[ppr] early-exit after round ${i + extra} of " +
              s"$iterations (state at round $i == round ${i - 3} exactly; " +
              s"final state provably identical)")
          } else prevChk = contribs
        }
        i += 1
      }
      lastRoundsExecuted = rounds
      nodes.join(contribs, nodes("node") === contribs("dst"), "left")
        .select(col("node"),
          (floor(rankExpr(col("node")) * 1e9 + 0.5) / 1e9).as("rank"))
    }
    if (isSeedLocal == null) distributed(edges)
    else {
      lastRoundsExecuted = iterations // the distributed loop overwrites it
      SmallGraph.route(edges, Seq(srcCol, dstCol))(
        SmallGraph.pagerankKernel(_, iterations, damping, isSeedLocal),
        "node", "rank")(distributed)
    }
  }

  /** Generated DuckDB replay; `seedPredSql` is the SQL twin of `isSeed`
    * over a column named `node` (e.g. "node % 200 = 0"). */
  def oracleSql(edgesSql: String, seedPredSql: String, iterations: Int = 10,
                damping: Double = 0.85): String = {
    val body = new StringBuilder
    // MATERIALIZED everywhere — see PageRank.oracleSql: plain CTEs
    // re-inline per reference and spill at sf1.
    body ++= s"""WITH e AS MATERIALIZED ($edgesSql),
      nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
      s_cte AS MATERIALIZED (SELECT COUNT(*) AS ns FROM nodes WHERE $seedPredSql),
      outdeg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
      r0 AS MATERIALIZED (SELECT node,
               CASE WHEN $seedPredSql
                 THEN CAST(1.0 AS DOUBLE)/(SELECT ns FROM s_cte)
                 ELSE CAST(0.0 AS DOUBLE) END AS rank
             FROM nodes)"""
    for (i <- 1 to iterations) {
      body ++= s""",
      c$i AS MATERIALIZED (SELECT e.dst, SUM(CAST(FLOOR(r.rank / outdeg.outdeg * 1e12 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS in_units
              FROM r${i - 1} r JOIN outdeg ON r.node = outdeg.src JOIN e ON e.src = outdeg.src
              WHERE r.rank <> 0
              GROUP BY e.dst),
      r$i AS MATERIALIZED (SELECT nodes.node,
                (CASE WHEN $seedPredSql
                   THEN (CAST(1.0 AS DOUBLE) - CAST($damping AS DOUBLE))/(SELECT ns FROM s_cte)
                   ELSE CAST(0.0 AS DOUBLE) END)
                  + CAST($damping AS DOUBLE) * (COALESCE(c$i.in_units, 0) / 1e12) AS rank
              FROM nodes LEFT JOIN c$i ON nodes.node = c$i.dst)"""
    }
    body ++= s"""
      SELECT node, FLOOR(rank * 1e9 + CAST(0.5 AS DOUBLE)) / 1e9 AS rank
      FROM r$iterations ORDER BY node"""
    body.toString
  }
}
