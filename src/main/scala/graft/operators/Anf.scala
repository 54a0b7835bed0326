package graft.operators

import org.apache.spark.sql.DataFrame

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
  * Shape: a per-round sum of the [[SeedReach]] counts (the traversal
  * [[Closeness]] and [[Eccentricity]] fold per seed), taken on the
  * driver, which holds those counts on the distributed route anyway;
  * it derives cum, frac and the effective diameter and returns the R
  * rows in r order. */
object Anf {

  /** Per-round (r, reached, cum, frac_micro, eff_diam) over `rounds`
    * expansion rounds from the seed set {n : n % seedsMod == 0}.
    * Edges must be canonical (lo < hi, distinct) —
    * [[Triangles.canonical]] output. */
  def profile(canonEdges: DataFrame, seedsMod: Long,
              rounds: Int, maxSeeds: Int = 65536): DataFrame = {
    val spark = canonEdges.sparkSession
    import spark.implicits._
    val counts = SeedReach.counts(canonEdges, seedsMod, rounds, maxSeeds).collect()
    val roundTotals = new Array[Long](rounds)
    counts.foreach(row => roundTotals(row.getLong(1).toInt - 1) += row.getLong(2))
    val cums = roundTotals.scanLeft(0L)(_ + _).tail
    val total = cums.last
    val effDiam =
      if (total == 0L) 0L
      else (1 to rounds).find(r => cums(r - 1) * 10 >= 9 * total).get.toLong
    (1 to rounds).map { r =>
      val frac = if (total == 0L) 0L else cums(r - 1) * 1000000L / total
      (r.toLong, roundTotals(r - 1), cums(r - 1), frac, effDiam)
    }.toDF("r", "reached", "cum", "frac_micro", "eff_diam")
  }
}
