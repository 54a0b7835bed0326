package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Personalized PageRank (Haveliwala 2002, "Topic-sensitive PageRank"):
  * the [[PageRank]] power iteration with the teleport mass landing ONLY
  * on a seed set — rank measures relevance *to the seeds*, not global
  * importance. This is the seed-expansion pass a curation pipeline runs
  * to grow a trusted core (TrustRank is exactly this with a vetted seed
  * list, Gyöngyi 2004): start from known-good hosts/documents and
  * harvest everything the link structure pulls close. [[PageRank]] is
  * this loop with every node a seed.
  *
  * Engine-portable determinism: double sums are order-dependent in the
  * last ulp, and Spark's partial-aggregation order is nondeterministic
  * — so each round converts per-edge contributions to integer picorank
  * units (`floor(rank/outdeg · 10¹² + 0.5)` as BIGINT) and sums those.
  * Integer sums are exact and order-independent, so every round's ranks
  * are bit-identical across runs AND across engines (the generated
  * oracles replay the same unit arithmetic). Overflow headroom: total
  * rank mass is ≤ 1, so unit sums stay ≪ 2⁶³. r₀ = 1/|S| on
  * seeds (0 elsewhere) and the per-node base term is (1−d)/|S| on seeds
  * (0 elsewhere). Non-seed nodes with no in-links hold rank 0, which
  * the final left join's coalesce encodes.
  *
  * The seed set arrives as a PREDICATE (a Column and its SQL twin), not
  * a materialized list: membership tests stay codegen'd row-local work
  * on both engines, and |S| is measured once driver-side.
  *
  * Scale shape: one hash-shuffle per round (groupBy dst), joined against
  * an edge relation that stays partitioned by src throughout; the state
  * runs through the [[FixpointGate]] round loop. */
object Ppr {

  /** Rounds actually computed by the last [[run]] on this JVM —
    * diagnostic/spec hook for the [[FixpointGate]] early-exit (equals
    * `iterations` unless the gate fired). */
  @volatile private[graft] var lastRoundsExecuted: Int = -1

  /** Who receives the teleport mass. */
  private[operators] sealed trait Teleport
  /** Every node (plain PageRank); always eligible for the kernel. */
  private[operators] case object EveryNode extends Teleport
  /** Nodes matching `isSeed`; eligible for the kernel only with the
    * predicate's Long twin. */
  private[operators] final case class SeedSet(isSeed: Column => Column,
      isSeedLocal: Option[Long => Boolean]) extends Teleport

  /** Ranks after `iterations` rounds, personalized to the nodes matching
    * `isSeed`. Output (node, rank) at 9 dp, every node. Callers that
    * supply the predicate's Long twin `isSeedLocal` opt in to the
    * SmallGraph kernel; the others always run distributed. */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          isSeed: Column => Column, iterations: Int = 10,
          damping: Double = 0.85,
          isSeedLocal: Long => Boolean = null): DataFrame =
    ranks(edges, srcCol, dstCol, SeedSet(isSeed, Option(isSeedLocal)),
      iterations, damping)(lastRoundsExecuted = _)

  /** The power iteration behind [[run]] and [[PageRank.run]]; `rounds`
    * receives the rounds actually computed. */
  private[operators] def ranks(edges: DataFrame, srcCol: String,
      dstCol: String, teleport: Teleport, iterations: Int,
      damping: Double)(rounds: Int => Unit): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    val seedPred = teleport match {
      case EveryNode => None
      case SeedSet(isSeed, _) => Some(isSeed)
    }
    def distributed(edges: DataFrame): DataFrame = {
      // Scheduler-floor guard: an iterative query launches
      // iterations × stages × partitions tasks, so at KB/MB edge scale
      // the session-wide partition count costs more in task launches
      // than it buys in parallelism. Size partitions to ~128k edges each
      // (floor 1, cap the session default, which large graphs keep). The
      // pre-distinct input count is a scan-only upper bound. Partitioning
      // never changes results — unit sums are exact and order-independent.
      val mUpper = edges.count()
      val defaultParts = edges.sparkSession.sessionState.conf.numShufflePartitions
      val parts =
        math.max(1L, math.min(defaultParts.toLong, mUpper / 131072L + 1L)).toInt
      // The distinct edge relation is checkpointed ONCE, already hash-
      // partitioned by src at the chosen width; the degree aggregation
      // and the degree join both reuse that partitioning.
      val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
        .distinct().repartition(parts, col("src")).localCheckpoint()
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .localCheckpoint()
      val nS = seedPred.fold(nodes)(p => nodes.filter(p(col("node")))).count()
      // An empty graph has no seeds either; plain PageRank returns no rows.
      require(nS > 0 || seedPred.isEmpty,
        "personalization needs at least one seed node")
      val eDeg = e.join(
          e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
        .localCheckpoint()

      // base(v) = (1-d)/|S| on seeds, 0 elsewhere — written as the same
      // two-op double expression the oracles use.
      val base = lit((1.0 - damping) / nS)
      def baseOf(node: Column): Column =
        seedPred.fold(base)(p => when(p(node), base).otherwise(lit(0.0)))
      def rankExpr(node: Column): Column =
        baseOf(node) +
          lit(damping) * (coalesce(col("in_units"), lit(0L)).cast("double") / 1e12)
      // The rank update folds INLINE into the next round's contribution
      // join, so the loop carries only the per-destination unit sums
      // (≤ |nodes| rows), not a full ranks relation: one eDeg ⋈ contribs
      // left join (AQE broadcasts the small side) + one aggregation per
      // round. A node missing from contribs has no in-edges and takes
      // rank = base, exactly as the left join's coalesce encodes.
      def step(c: DataFrame): DataFrame = eDeg
        .join(c.withColumnRenamed("dst", "_cdst"),
          col("src") === col("_cdst"), "left")
        .select(col("dst"),
          floor(rankExpr(col("src")) / col("outdeg") * 1e12 + 0.5)
            .cast("long").as("units"))
        .groupBy("dst").agg(sum("units").as("in_units"))
      // Round 1: r0 is nonzero only on seeds.
      val first = seedPred.fold(eDeg)(p => eDeg.filter(p(col("src"))))
        .select(col("dst"),
          floor(lit(1.0 / nS) / col("outdeg") * 1e12 + 0.5).cast("long").as("units"))
        .groupBy("dst").agg(sum("units").as("in_units"))
      // Every compared checkpoint is from a round ≥ 3, whose dst key set
      // is the full eDeg dst set, so set equality is exact state equality.
      val (contribs, done) = FixpointGate.rounds(
        if (seedPred.isEmpty) "pagerank" else "ppr",
        first, 1, iterations, Seq("dst", "in_units"))(step)
      rounds(done)
      // Only the FINAL round needs the full node set (dangling-in nodes
      // surface with rank = base via the left join's coalesce).
      nodes.join(contribs, nodes("node") === contribs("dst"), "left")
        .select(col("node"),
          (floor(rankExpr(col("node")) * 1e9 + 0.5) / 1e9).as("rank"))
    }
    // COST gate (SmallGraph): the identical picorank arithmetic in ONE
    // executor task under the size threshold — one job instead of
    // ~rounds × stages; the distributed loop is the 100 TB path.
    def gated(seed: Option[Long => Boolean]): DataFrame = {
      rounds(iterations) // the distributed loop overwrites it
      SmallGraph.route(edges, Seq(srcCol, dstCol))(
        SmallGraph.pagerankKernel(_, iterations, damping, seed),
        "node", "rank")(distributed)
    }
    teleport match {
      case EveryNode => gated(None)
      case SeedSet(_, Some(local)) => gated(Some(local))
      case SeedSet(_, None) => distributed(edges)
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
