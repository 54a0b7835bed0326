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
  * Shape: a per-seed fold of the [[SeedReach]] counts (the bit-parallel
  * frontier on the distributed route, a per-seed CSR BFS under the
  * SmallGraph gate), n_reached = Σ c and harmonic_micro =
  * Σ c·(10⁶ div r). */
object Closeness {

  /** Per-seed (seed, n_reached, harmonic_micro) after `rounds` expansion
    * rounds from the seed set {n : n % seedsMod == 0}. Edges must be
    * canonical (lo < hi, distinct) — [[Triangles.canonical]] output. */
  def harmonicSummary(canonEdges: DataFrame, seedsMod: Long,
                      rounds: Int, maxSeeds: Int = 65536): DataFrame =
    SeedReach.counts(canonEdges, seedsMod, rounds, maxSeeds)
      .groupBy("seed")
      .agg(sum(col("c")).as("n_reached"),
        sum(expr("c * (1000000 div r)")).as("harmonic_micro"))
      .orderBy("seed")

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
