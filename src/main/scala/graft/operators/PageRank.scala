package graft.operators

import org.apache.spark.sql.DataFrame

/** DataFrame power-iteration PageRank (Page et al. 1999, "The PageRank
  * Citation Ranking"), the standard link-analysis pass a crawl-curation
  * pipeline runs over the host graph to prioritize what to keep at corpus
  * scale: [[Ppr]] with every node a seed (teleport mass 1/n everywhere),
  * so both routes, the integer picorank-unit arithmetic and the
  * [[FixpointGate]] round loop are Ppr's. Dangling nodes contribute
  * nothing (their mass evaporates, the classic "simplified PageRank"
  * variant) — callers who need ergodicity pass a symmetrized edge list,
  * as the registry query does. An empty edge set yields no rows. */
object PageRank {

  /** Rounds actually computed by the last [[run]] on this JVM —
    * diagnostic/spec hook for the [[FixpointGate]] early-exit (equals
    * `iterations` unless the gate fired). */
  @volatile private[graft] var lastRoundsExecuted: Int = -1

  /** Ranks after exactly `iterations` rounds.
    *
    * @param edges directed edges with `srcCol`/`dstCol`; parallel edges are
    *              collapsed. Nodes = every id appearing as src or dst.
    * @return (node, rank) — rank rounded to 9 dp at the end (deterministic
    *         floor(x·10⁹+0.5) rounding, same as the oracle).
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          iterations: Int = 10, damping: Double = 0.85): DataFrame =
    Ppr.ranks(edges, srcCol, dstCol, Ppr.EveryNode, iterations, damping)(
      lastRoundsExecuted = _)

  /** The matching DuckDB oracle: unrolled CTE chain replaying the exact
    * unit arithmetic of [[run]]. `edgesSql` must produce DISTINCT (src,
    * dst) pairs. Generated, not hand-written, so iteration count and
    * damping stay in lockstep with the Scala. */
  def oracleSql(edgesSql: String, iterations: Int = 10,
                damping: Double = 0.85): String = {
    val body = new StringBuilder
    // MATERIALIZED everywhere: DuckDB inlines plain CTEs once per
    // reference, so without it `e`'s DISTINCT/UNION re-runs inside every
    // iteration's join and the concurrent hash tables spill tens of GB
    // at sf1 (the Katz/Hits/Closeness generators always did this).
    body ++= s"""WITH e AS MATERIALIZED ($edgesSql),
      nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
      n_cte AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
      outdeg AS MATERIALIZED (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
      r0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE)/(SELECT n FROM n_cte) AS rank FROM nodes)"""
    // Every fractional literal is CAST(... AS DOUBLE): DuckDB parses bare
    // 0.85 as DECIMAL(3,2), which would silently switch the arithmetic to
    // decimal and break bit-lockstep with the Scala double math.
    for (i <- 1 to iterations) {
      body ++= s""",
      c$i AS MATERIALIZED (SELECT e.dst, SUM(CAST(FLOOR(r.rank / outdeg.outdeg * 1e12 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS in_units
              FROM r${i - 1} r JOIN outdeg ON r.node = outdeg.src JOIN e ON e.src = outdeg.src
              GROUP BY e.dst),
      r$i AS MATERIALIZED (SELECT nodes.node,
                (CAST(1.0 AS DOUBLE) - CAST($damping AS DOUBLE))/(SELECT n FROM n_cte)
                  + CAST($damping AS DOUBLE) * (COALESCE(c$i.in_units, 0) / 1e12) AS rank
              FROM nodes LEFT JOIN c$i ON nodes.node = c$i.dst)"""
    }
    body ++= s"""
      SELECT node, FLOOR(rank * 1e9 + CAST(0.5 AS DOUBLE)) / 1e9 AS rank
      FROM r$iterations ORDER BY node"""
    body.toString
  }
}
