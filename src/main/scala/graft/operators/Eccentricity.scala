package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-seed eccentricity within a fixed BFS horizon (the farthest-hop
  * profile behind diameter estimation — Magnien, Latapy & Habib 2009
  * survey the BFS-based bounds; any seed's eccentricity is a lower
  * bound on the graph's diameter): ecc(s) = max hop r ≤ R at which the
  * breadth-first expansion from s still reaches a NEW node. Exactness:
  * ecc and n_reached are integer counters over set-semantics frontiers,
  * so a fixed unroll replayed by the [[Closeness.oracleCtes]] pair-
  * frontier CTEs is in bit-lockstep by construction.
  *
  * Shape: a per-seed fold of the [[SeedReach]] counts, the same
  * traversal [[Closeness]] folds: ecc = last r with c > 0,
  * n_reached = Σ c. */
object Eccentricity {

  /** Per-seed (seed, ecc, n_reached) after `rounds` expansion rounds
    * from the seed set {n : n % seedsMod == 0}. `ecc` is the last round
    * that discovered a new node (0 if the seed's component is just the
    * seed — impossible on edge-derived node sets, every node has a
    * neighbor); capped at `rounds`, so it is exact when the component
    * is exhausted earlier and a lower bound otherwise. Edges must be
    * canonical (lo < hi, distinct) — [[Triangles.canonical]] output. */
  def summary(canonEdges: DataFrame, seedsMod: Long,
              rounds: Int, maxSeeds: Int = 65536): DataFrame =
    SeedReach.counts(canonEdges, seedsMod, rounds, maxSeeds)
      .groupBy("seed")
      .agg(max(when(col("c") > 0L, col("r")).otherwise(0L)).as("ecc"),
        sum(col("c")).as("n_reached"))
      .orderBy("seed")
}
