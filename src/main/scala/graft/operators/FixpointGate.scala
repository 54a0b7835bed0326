package graft.operators

import org.apache.spark.sql.DataFrame

/** The round loop of the integer-state iterative operators ([[Ppr]],
  * and through it [[PageRank]], and [[Katz]]), with its exact-fixpoint
  * early exit. Their state is EXACT integers (picorank / micro units),
  * so state equality is decidable, not approximate: if the state at
  * checkpoint round i equals the state at checkpoint round i−3
  * bit-for-bit, the deterministic round function f gives s_{i+k} =
  * f^k(s_i) = f^k(s_{i−3}) = s_{i−3+k} for every k ≥ 0, hence
  * s_N = s_{i + ((N−i) mod 3)} — run that many (≤ 2) more cheap rounds
  * and stop, with the final state PROVABLY identical to the full run
  * (period-3 orbits are handled, not just true fixpoints). Oracle hashes
  * cannot move; wall time at 100× drops for fast-converging graphs.
  *
  * The state is localCheckpoint'd every 3 rounds, which keeps the plan
  * O(1) deep (and lets AQE re-plan each chunk with real sizes); recompute
  * on executor loss is acceptable, each round being cheap next to the
  * full-lineage replay this prevents. The comparison runs only at those
  * boundaries, over two already-materialized state relations — two
  * anti-join emptiness probes, no extra state materialization. */
private[graft] object FixpointGate {

  /** `state` after round `done`, advanced by `step` to round `total`.
    * Returns the final state and the rounds actually computed (`total`
    * unless the gate fired). Every compared state must hold exactly one
    * row per key on `cols`, so set equality is state equality. */
  def rounds(label: String, state: DataFrame, done: Int, total: Int,
             cols: Seq[String])(step: DataFrame => DataFrame): (DataFrame, Int) = {
    var s = state
    var prevChk: DataFrame = null
    var i = done
    while (i < total) {
      i += 1
      s = step(s)
      if (i % 3 == 0 && i < total) {
        s = s.localCheckpoint()
        if (prevChk != null && same(s, prevChk, cols)) {
          val extra = (total - i) % 3
          (1 to extra).foreach(_ => s = step(s))
          println(s"[$label] early-exit after round ${i + extra} of " +
            s"$total (state at round $i == round ${i - 3} exactly; " +
            s"final state provably identical)")
          return (s, i + extra)
        }
        prevChk = s
      }
    }
    (s, i)
  }

  /** True iff `a` and `b` hold the same exact row set on `cols` (both
    * sides keyed uniquely by the first column in every caller, so
    * two-sided anti-join emptiness is full set equality). */
  private def same(a: DataFrame, b: DataFrame, cols: Seq[String]): Boolean =
    a.join(b, cols, "left_anti").isEmpty &&
      b.join(a, cols, "left_anti").isEmpty
}
