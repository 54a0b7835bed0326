package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-(seed, round) newly-reached counts: the one breadth-first
  * traversal behind [[Closeness]], [[Eccentricity]] and [[Anf]], which
  * differ only in how they fold it (HyperBall, Boldi & Vigna 2013,
  * derives harmonic centrality and the neighbourhood function from the
  * same per-round ball counts; [[Closeness.oracleCtes]] is the shared
  * DuckDB replay). c(s, r) = |{n : d(s, n) = r}| for every seed s in
  * {n : n % seedsMod == 0} and every round 1 ≤ r ≤ R, zero rows kept.
  * Integer set-semantics counts, so both routes agree bit for bit.
  *
  * Distributed shape — BIT-PARALLEL frontiers (the multi-source BFS
  * trick behind HyperBall/Eppstein–Wang-style centrality estimation):
  * seeds pack 63 to a long, the frontier is (node, seed-mask), and one
  * round is ONE src-keyed join + ONE bit_or aggregate over NODE-sized
  * relations — the naive (seed, node) pair frontier this replaces did
  * the same traversal over |S|× more rows (measured 57.8 s → node-sized
  * rounds for 207 seeds on the 1.2M-edge co-purchase graph). Seed sets
  * wider than 63 run as sequential chunks, each a full unroll; per-seed
  * per-round counts are one |chunk|-column aggregate row collected to
  * the driver (the Bfs per-round-summary precedent). localCheckpoint
  * per round truncates the multiplying lineage. */
private[operators] object SeedReach {

  /** (seed, r, c) over canonical edges (lo < hi, distinct) —
    * [[Triangles.canonical]] output. The counts land on the driver
    * (`rounds` longs per seed), so the seed set is bounded by
    * `maxSeeds` on both routes, and the relation is ONE partition on
    * both: the callers' folds and sorts run without a shuffle. */
  def counts(canonEdges: DataFrame, seedsMod: Long, rounds: Int,
             maxSeeds: Int): DataFrame = {
    require(rounds >= 1, "seed reach needs at least one expansion round")
    require(maxSeeds >= 1, "seed reach needs a positive seed-count bound")
    val spark = canonEdges.sparkSession
    import spark.implicits._
    // COST gate (SmallGraph): per-seed CSR BFS inside ONE executor task
    // under the size threshold; the bit-parallel loop is the 100 TB path.
    SmallGraph.route(canonEdges, Seq("lo", "hi"), cost = SmallGraph.Superlinear)(
        SmallGraph.seedReachKernel(_, seedsMod, rounds, maxSeeds),
        "seed", "r", "c") { canonEdges =>
      val edges = canonEdges.select(col("lo"), col("hi")).localCheckpoint(true)
      val adj = edges.select(col("lo").as("src"), col("hi").as("dst"))
        .unionAll(edges.select(col("hi").as("src"), col("lo").as("dst")))
        .repartition(col("src"))
        .localCheckpoint(true)
      // Collect at most maxSeeds+1 ids (one extra as the overflow
      // witness) and fail loud rather than let a small modulus on a
      // billion-node graph build a driver relation of millions of rows.
      val seedIds = edges.select(col("lo").as("n"))
        .unionAll(edges.select(col("hi").as("n")))
        .distinct()
        .filter(pmod(col("n"), lit(seedsMod)) === 0)
        .orderBy("n").limit(maxSeeds + 1).collect().map(_.getLong(0))
      require(seedIds.length <= maxSeeds, tooMany(maxSeeds, seedsMod))
      // 63 seeds per mask word (bit 63 stays clear: masks remain positive
      // longs, so bitwise ops never meet sign-extension surprises).
      val out = seedIds.grouped(63).flatMap { chunk =>
        val c = Array.ofDim[Long](chunk.length, rounds)
        var frontier = chunk.zipWithIndex
          .map { case (s, i) => (s, 1L << i) }.toSeq.toDF("n", "m")
          .localCheckpoint(true)
        var visited = frontier.select(col("n"), col("m").as("vm"))
          .localCheckpoint(true)
        for (r <- 1 to rounds) {
          val next = adj
            .join(frontier.select(col("n").as("src"), col("m")), Seq("src"))
            .groupBy(col("dst").as("n")).agg(expr("bit_or(m)").as("em"))
            .join(visited, Seq("n"), "left")
            .select(col("n"),
              expr("em & ~coalesce(vm, CAST(0 AS BIGINT))").as("m"))
            .filter(col("m") =!= 0L)
            .localCheckpoint(true)
          val countsRow = next.agg(count(lit(1)).as("_n"),
              chunk.indices.map(i => sum(shiftright(col("m"), i)
                .bitwiseAND(1L)).as(s"b$i")): _*)
            .head()
          chunk.indices.foreach { i =>
            c(i)(r - 1) = Option(countsRow.get(i + 1)).fold(0L)(_.asInstanceOf[Long])
          }
          visited = visited
            .unionAll(next.select(col("n"), col("m").as("vm")))
            .groupBy("n").agg(expr("bit_or(vm)").as("vm"))
            .localCheckpoint(true)
          frontier = next
        }
        for (i <- chunk.indices; r <- 1 to rounds)
          yield (chunk(i), r.toLong, c(i)(r - 1))
      }
      out.toSeq.toDF("seed", "r", "c")
    }.coalesce(1)
  }

  def tooMany(maxSeeds: Int, seedsMod: Long): String =
    s"seed set exceeds maxSeeds=$maxSeeds for seedsMod=$seedsMod — raise " +
      "seedsMod (fewer seeds) or pass a larger explicit bound; the " +
      "per-seed counts are driver-resident"
}
