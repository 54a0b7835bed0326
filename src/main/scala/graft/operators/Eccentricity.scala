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
  * Distributed shape — the [[Closeness]] bit-parallel frontier verbatim
  * (63 seeds per long mask; one src-keyed join + one bit_or aggregate
  * per round over NODE-sized relations, never (seed, node) pairs); the
  * driver holds two longs per seed behind the same maxSeeds guard. */
object Eccentricity {

  /** Per-seed (seed, ecc, n_reached) after `rounds` expansion rounds
    * from the seed set {n : n % seedsMod == 0}. `ecc` is the last round
    * that discovered a new node (0 if the seed's component is just the
    * seed — impossible on edge-derived node sets, every node has a
    * neighbor); capped at `rounds`, so it is exact when the component
    * is exhausted earlier and a lower bound otherwise. Edges must be
    * canonical (lo < hi, distinct) — [[Triangles.canonical]] output. */
  def summary(canonEdges: DataFrame, seedsMod: Long,
              rounds: Int, maxSeeds: Int = 65536): DataFrame = {
    require(rounds >= 1, "eccentricity needs at least one expansion round")
    require(maxSeeds >= 1, "eccentricity needs a positive seed-count bound")
    val spark = canonEdges.sparkSession
    import spark.implicits._
    // COST gate (SmallGraph): per-seed BFS inside ONE executor task
    // under the size threshold; the bit-parallel loop below is the
    // 100 TB path.
    SmallGraph.route(canonEdges, Seq("lo", "hi"), cost = SmallGraph.Superlinear)(
        SmallGraph.eccentricityKernel(_, seedsMod, rounds, maxSeeds),
        "seed", "ecc", "n_reached") { canonEdges =>
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
        s"eccentricity seed set exceeds maxSeeds=$maxSeeds for seedsMod=" +
          s"$seedsMod — raise seedsMod (fewer seeds) or pass a larger " +
          "explicit bound; the per-seed accumulator is driver-resident")
      val acc = scala.collection.mutable.LinkedHashMap.empty[Long, (Long, Long)]
      seedIds.foreach(s => acc(s) = (0L, 0L))
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
          val countsRow = next.agg(count(lit(1)).as("_n"),
              chunk.indices.map(i => sum(shiftright(col("m"), i)
                .bitwiseAND(1L)).as(s"b$i")): _*)
            .head()
          chunk.zipWithIndex.foreach { case (s, i) =>
            val c = Option(countsRow.get(i + 1)).fold(0L)(_.asInstanceOf[Long])
            if (c > 0L) acc(s) = (r.toLong, acc(s)._2 + c)
          }
          visited = visited
            .unionAll(next.select(col("n"), col("m").as("vm")))
            .groupBy("n").agg(expr("bit_or(vm)").as("vm"))
            .localCheckpoint(true)
          frontier = next
        }
      }
      acc.toSeq.map { case (s, (e, n)) => (s, e, n) }
        .toDF("seed", "ecc", "n_reached")
        .orderBy("seed")
    }
  }
}
