package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source harmonic closeness centrality (Marchiori & Latora 2000;
  * Boldi & Vigna 2014 make the case that harmonic centrality is the
  * right closeness on disconnected graphs): H(s) = Σ_{n ≠ s, reached}
  * 1/dist(s, n), accumulated per seed over a fixed unroll of R
  * breadth-first rounds. Exactness: the hop-d contribution is the
  * INTEGER 10⁶ div d, so per-seed scores are exact integer sums — no
  * doubles anywhere, and a fixed unroll with the generated
  * [[oracleCtes]] keeps both engines in bit-lockstep by construction.
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
object Closeness {

  /** Per-seed (seed, n_reached, harmonic_micro) after `rounds` expansion
    * rounds from the seed set {n : n % seedsMod == 0}. Edges must be
    * canonical (lo < hi, distinct) — [[Triangles.canonical]] output. */
  def harmonicSummary(canonEdges: DataFrame, seedsMod: Long,
                      rounds: Int, maxSeeds: Int = 65536): DataFrame = {
    require(rounds >= 1, "closeness needs at least one expansion round")
    require(maxSeeds >= 1, "closeness needs a positive seed-count bound")
    val spark = canonEdges.sparkSession
    import spark.implicits._
    // COST gate (SmallGraph): per-seed BFS accumulation with the same
    // integer 10⁶ div r units inside ONE executor task under the size
    // threshold; the bit-parallel frontier loop below is the 100 TB path.
    SmallGraph.route(canonEdges, Seq("lo", "hi"), cost = SmallGraph.Superlinear)(
        SmallGraph.closenessKernel(_, seedsMod, rounds, maxSeeds),
        "seed", "n_reached", "harmonic_micro") { canonEdges =>
      val edges = canonEdges.select(col("lo"), col("hi")).localCheckpoint(true)
      val adj = edges.select(col("lo").as("src"), col("hi").as("dst"))
        .unionAll(edges.select(col("hi").as("src"), col("lo").as("dst")))
        .repartition(col("src"))
        .localCheckpoint(true)
      // The per-seed accumulator lives on the driver (two longs per seed),
      // so the seed count must be bounded: collect at most maxSeeds+1 ids
      // (one extra as the overflow witness) and fail loud rather than let a
      // small modulus on a billion-node graph build a driver map of
      // millions of entries.
      val seedIds = edges.select(col("lo").as("n"))
        .unionAll(edges.select(col("hi").as("n")))
        .distinct()
        .filter(pmod(col("n"), lit(seedsMod)) === 0)
        .orderBy("n").limit(maxSeeds + 1).collect().map(_.getLong(0))
      require(seedIds.length <= maxSeeds,
        s"closeness seed set exceeds maxSeeds=$maxSeeds for seedsMod=" +
          s"$seedsMod — raise seedsMod (fewer seeds) or pass a larger " +
          "explicit bound; the per-seed accumulator is driver-resident")
      val acc = scala.collection.mutable.LinkedHashMap.empty[Long, (Long, Long)]
      seedIds.foreach(s => acc(s) = (0L, 0L))
      // 63 seeds per mask word (bit 63 stays clear: masks remain positive
      // longs, so bitwise ops never meet sign-extension surprises).
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
          val unit = 1000000L / r
          val countsRow = next.agg(count(lit(1)).as("_n"),
              chunk.indices.map(i => sum(shiftright(col("m"), i)
                .bitwiseAND(1L)).as(s"b$i")): _*)
            .head()
          chunk.zipWithIndex.foreach { case (s, i) =>
            val c = Option(countsRow.get(i + 1)).fold(0L)(_.asInstanceOf[Long])
            val (n0, h0) = acc(s)
            acc(s) = (n0 + c, h0 + c * unit)
          }
          visited = visited
            .unionAll(next.select(col("n"), col("m").as("vm")))
            .groupBy("n").agg(expr("bit_or(vm)").as("vm"))
            .localCheckpoint(true)
          frontier = next
        }
      }
      acc.toSeq.map { case (s, (n, h)) => (s, n, h) }
        .toDF("seed", "n_reached", "harmonic_micro")
        .orderBy("seed")
    }
  }

  /** Generated DuckDB replay: R expansion rounds over (seed, node) pair
    * frontiers as chained MATERIALIZED CTEs above a canonical edge CTE
    * from `edgesSql` — set-semantics identical to the bit-parallel
    * engine path; per-round contributions carry the same integer
    * 10⁶ div r units. Emits CTEs through `agg`; the final SELECT is the
    * caller's (left-join `agg` from the seed relation `s0`). */
  def oracleCtes(edgesSql: String, seedsMod: Long, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""WITH e0 AS MATERIALIZED ($edgesSql),
      adj AS MATERIALIZED (SELECT lo AS src, hi AS dst FROM e0
              UNION ALL SELECT hi, lo FROM e0),
      s0 AS MATERIALIZED (SELECT DISTINCT n AS s FROM
              (SELECT lo AS n FROM e0 UNION ALL SELECT hi FROM e0)
            WHERE n % $seedsMod = 0),
      f0 AS MATERIALIZED (SELECT s, s AS n FROM s0),
      v0 AS MATERIALIZED (SELECT s, n FROM f0)""")
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(s""",
        f$r AS MATERIALIZED (SELECT DISTINCT f.s, adj.dst AS n
                FROM adj JOIN f$p f ON adj.src = f.n
                WHERE NOT EXISTS (SELECT 1 FROM v$p v
                                  WHERE v.s = f.s AND v.n = adj.dst)),
        v$r AS MATERIALIZED (SELECT s, n FROM v$p
                UNION ALL SELECT s, n FROM f$r)""")
    }
    sb.append(s""",
      su AS (${(1 to rounds).map { r =>
      s"""SELECT s, CAST(count(*) AS BIGINT) AS c,
            CAST(count(*) * ${1000000L / r} AS BIGINT) AS h
          FROM f$r GROUP BY s"""
    }.mkString(" UNION ALL ")}),
      agg AS (SELECT s, CAST(sum(c) AS BIGINT) AS n_reached,
                CAST(sum(h) AS BIGINT) AS harmonic_micro
              FROM su GROUP BY s)""")
    sb.toString
  }
}
