package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sampled neighborhood function + effective diameter (Palmer, Gibbons
  * & Faloutsos 2002's ANF; Boldi–Rosa–Vigna's HyperANF scales the same
  * profile with probabilistic counters — here the seed set is sampled
  * and the per-seed reach is EXACT): N(r) = Σ_seeds |{n : 0 < d(s,n) ≤
  * r}|, the "how much of the graph is within r hops" curve that
  * calibrates every iterative operator's round budget, and the
  * effective diameter is the smallest r with N(r) ≥ 90% of the
  * horizon mass (relative to the observed horizon R — exact when the
  * expansion exhausts earlier, a lower bound otherwise). Fully
  * integer: per-round counts are set-semantics frontier cardinalities,
  * frac_micro = cum·10⁶ div N(R), the 90% test is cum·10 ≥ 9·N(R).
  *
  * Distributed shape — the [[Closeness]]/[[Eccentricity]] bit-parallel
  * frontier verbatim (63 seeds per long mask, one src-keyed join + one
  * bit_or aggregate per round over NODE-sized relations); the driver
  * accumulates ONE long per round (not even per seed), behind the same
  * maxSeeds guard on the seed-id collect. */
object Anf {

  /** Per-round (r, reached, cum, frac_micro, eff_diam) over `rounds`
    * expansion rounds from the seed set {n : n % seedsMod == 0}.
    * Edges must be canonical (lo < hi, distinct) —
    * [[Triangles.canonical]] output. */
  def profile(canonEdges: DataFrame, seedsMod: Long,
              rounds: Int, maxSeeds: Int = 65536): DataFrame = {
    require(rounds >= 1, "ANF needs at least one expansion round")
    require(maxSeeds >= 1, "ANF needs a positive seed-count bound")
    val spark = canonEdges.sparkSession
    import spark.implicits._
    // COST gate (SmallGraph): the whole sampled neighborhood profile in
    // ONE executor task under the size threshold; the bit-parallel loop
    // below is the 100 TB path.
    SmallGraph.route(canonEdges, Seq("lo", "hi"), cost = SmallGraph.Superlinear)(
        SmallGraph.anfKernel(_, seedsMod, rounds, maxSeeds),
        "r", "reached", "cum", "frac_micro", "eff_diam") { canonEdges =>
      val edges = canonEdges.select(col("lo"), col("hi")).localCheckpoint(true)
      val adj = edges.select(col("lo").as("src"), col("hi").as("dst"))
        .unionAll(edges.select(col("hi").as("src"), col("lo").as("dst")))
        .repartition(col("src"))
        .localCheckpoint(true)
      val seedIds = edges.select(col("lo").as("n"))
        .unionAll(edges.select(col("hi").as("n")))
        .distinct()
        .filter(pmod(col("n"), lit(seedsMod)) === 0)
        .orderBy("n").limit(maxSeeds + 1).collect().map(_.getLong(0))
      require(seedIds.length <= maxSeeds,
        s"ANF seed set exceeds maxSeeds=$maxSeeds for seedsMod=$seedsMod " +
          "— raise seedsMod (fewer seeds) or pass a larger explicit bound")
      val roundTotals = Array.fill(rounds)(0L)
      seedIds.grouped(63).foreach { chunk =>
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
          // One (seed, node) reach per set mask bit: the round's ANF
          // increment is the total POPCOUNT over the new frontier.
          val bits = next.agg(coalesce(sum(expr("bit_count(m)")),
            lit(0L)).as("b")).head().getLong(0)
          roundTotals(r - 1) += bits
          visited = visited
            .unionAll(next.select(col("n"), col("m").as("vm")))
            .groupBy("n").agg(expr("bit_or(vm)").as("vm"))
            .localCheckpoint(true)
          frontier = next
        }
      }
      val cums = roundTotals.scanLeft(0L)(_ + _).tail
      val total = cums.last
      val effDiam =
        if (total == 0L) 0L
        else (1 to rounds).find(r => cums(r - 1) * 10 >= 9 * total).get.toLong
      (1 to rounds).map { r =>
        val frac = if (total == 0L) 0L else cums(r - 1) * 1000000L / total
        (r.toLong, roundTotals(r - 1), cums(r - 1), frac, effDiam)
      }.toDF("r", "reached", "cum", "frac_micro", "eff_diam")
        .orderBy("r")
    }
  }
}
