package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Horizon-bounded betweenness centrality (Brandes 2001's two-phase
  * dependency accumulation; Brandes 2008 §4 frames the bounded-horizon
  * variant — "k-betweenness" — as the standard estimator when exact
  * all-pairs is out of reach): from each seed, a forward BFS counts
  * shortest paths σ within R hops, then dependencies flow backward
  * down the shortest-path DAG,
  *
  *   δ(v) = Σ_{w : succ(v)} σ(v)·(10⁶ + δ(w)) div σ(w),
  *
  * an INTEGER micro-unit restatement of Brandes' δ(v) = Σ (σv/σw)(1+δw)
  * with one flooring per DAG edge — deterministic, order-free (a sum of
  * per-edge integers), and replayed op-for-op by [[oracleCtes]]. σ stays
  * exact in Long: within R hops σ ≤ maxDegree^R (256³ ≈ 1.7·10⁷ on the
  * degree-capped co-purchase subgraph — twelve orders under overflow).
  *
  * Distributed shape: sigma is per-seed NUMERIC state, so the
  * bit-parallel mask trick (one long per 63 seeds — [[SeedReach]])
  * cannot apply; the frontier is the honest (seed, node, σ) relation,
  * seed count bounded by the modulus. Each forward round is ONE
  * src-keyed join + ONE (seed, node) aggregate + ONE anti-join against
  * the visited set; each backward level is ONE DAG-edge join + ONE
  * (seed, node) aggregate. All per-level relations are
  * localCheckpointed (truncating the multiplying lineage) and bounded
  * by |S|·|V| — never |V|². */
object Betweenness {

  /** Top-`k` nodes by horizon-R betweenness from the seed set
    * {n : n % seedsMod == 0}. Edges must be canonical (lo < hi,
    * distinct) — [[Triangles.canonical]] output. Seeds are excluded
    * from their own accumulation (Brandes' v ≠ s), nodes at the
    * horizon carry δ = 0. */
  def topK(canonEdges: DataFrame, seedsMod: Long, rounds: Int,
           k: Int): DataFrame = {
    require(rounds >= 2, "betweenness needs at least two expansion rounds")
    // COST gate (SmallGraph): per-seed forward sigma BFS + backward
    // integer delta accumulation in ONE executor task under the size
    // threshold; the distributed (seed, node, sigma) loop below is the
    // 100 TB path.
    SmallGraph.route(canonEdges, Seq("lo", "hi"), cost = SmallGraph.Superlinear)(
        SmallGraph.betweennessKernel(_, seedsMod, rounds, k),
        "n", "bc_micro") { canonEdges =>
      val edges = canonEdges.select(col("lo"), col("hi")).localCheckpoint(true)
      val adj = edges.select(col("lo").as("src"), col("hi").as("dst"))
        .unionAll(edges.select(col("hi").as("src"), col("lo").as("dst")))
        .repartition(col("src"))
        .localCheckpoint(true)
      val f0 = edges.select(col("lo").as("n"))
        .unionAll(edges.select(col("hi").as("n")))
        .distinct()
        .filter(pmod(col("n"), lit(seedsMod)) === 0)
        .select(col("n").as("s"), col("n"), lit(1L).as("sigma"))
      // Forward: level-r frontiers carry exact path counts. Only the
      // per-round frontier is checkpointed — the visited set is a plain
      // union of already-checkpointed frontiers (shallow lineage, no
      // multiplication), so materializing it separately would just buy
      // extra checkpoint jobs.
      val levels = scala.collection.mutable.ArrayBuffer(f0)
      var visited = f0.select(col("s"), col("n"))
      for (_ <- 1 to rounds) {
        val prev = levels.last
        val next = adj
          .join(prev.select(col("s"), col("n").as("src"), col("sigma")),
            Seq("src"))
          .groupBy(col("s"), col("dst").as("n"))
          .agg(sum(col("sigma")).as("sigma"))
          .join(visited, Seq("s", "n"), "left_anti")
          .localCheckpoint(true)
        visited = visited.unionAll(next.select(col("s"), col("n")))
        levels += next
      }
      // Backward: δ flows from the horizon toward the seeds; every
      // f(ℓ) node gets a row (no-successor nodes at δ = 0).
      var delta = levels(rounds).withColumn("delta", lit(0L))
      val contributions = scala.collection.mutable.ArrayBuffer(delta)
      for (l <- (rounds - 1) to 1 by -1) {
        val fromSucc = levels(l)
          .select(col("s"), col("n"), col("sigma"))
          .join(adj, col("n") === col("src"))
          .join(delta.select(col("s"), col("n").as("w_n"),
              col("sigma").as("w_sigma"), col("delta").as("w_delta")),
            Seq("s")
          )
          .filter(col("dst") === col("w_n"))
          .select(col("s"), col("n"),
            expr("sigma * (1000000 + w_delta) div w_sigma").as("c"))
          .groupBy("s", "n").agg(sum(col("c")).as("dsum"))
        // Every δ(ℓ) except the last is consumed TWICE (next level + the
        // final union) — without a checkpoint the recompute tree doubles
        // per level; δ(1) has a single consumer and stays lazy.
        delta = levels(l)
          .join(fromSucc, Seq("s", "n"), "left")
          .select(col("s"), col("n"), col("sigma"),
            coalesce(col("dsum"), lit(0L)).as("delta"))
        if (l > 1) delta = delta.localCheckpoint(true)
        contributions += delta
      }
      contributions.map(_.select(col("n"), col("delta")))
        .reduce(_ unionAll _)
        .groupBy("n").agg(sum(col("delta")).as("bc_micro"))
        .orderBy(col("bc_micro").desc, col("n"))
        .limit(k)
    }
  }

  /** Generated DuckDB replay: R forward rounds carrying (seed, node, σ)
    * as chained MATERIALIZED CTEs, then R−1 backward levels applying
    * the identical per-DAG-edge integer flooring. Emits CTEs through
    * `bc`; the final SELECT is the caller's. */
  def oracleCtes(edgesSql: String, seedsMod: Long, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""WITH e0 AS MATERIALIZED ($edgesSql),
      adj AS MATERIALIZED (SELECT lo AS src, hi AS dst FROM e0
              UNION ALL SELECT hi, lo FROM e0),
      f0 AS MATERIALIZED (SELECT n AS s, n, CAST(1 AS BIGINT) AS sigma
              FROM (SELECT DISTINCT n FROM
                (SELECT lo AS n FROM e0 UNION ALL SELECT hi FROM e0))
              WHERE n % $seedsMod = 0),
      v0 AS MATERIALIZED (SELECT s, n FROM f0)""")
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(s""",
        f$r AS MATERIALIZED (SELECT f.s, adj.dst AS n,
                CAST(sum(f.sigma) AS BIGINT) AS sigma
                FROM adj JOIN f$p f ON adj.src = f.n
                WHERE NOT EXISTS (SELECT 1 FROM v$p v
                                  WHERE v.s = f.s AND v.n = adj.dst)
                GROUP BY 1, 2),
        v$r AS MATERIALIZED (SELECT s, n FROM v$p
                UNION ALL SELECT s, n FROM f$r)""")
    }
    sb.append(s""",
      d$rounds AS MATERIALIZED (SELECT s, n, sigma,
              CAST(0 AS BIGINT) AS delta FROM f$rounds)""")
    for (l <- (rounds - 1) to 1 by -1) {
      sb.append(s""",
        d$l AS MATERIALIZED (SELECT f.s, f.n, f.sigma,
                CAST(coalesce((
                  SELECT sum(f.sigma * (1000000 + w.delta) // w.sigma)
                  FROM adj a JOIN d${l + 1} w
                    ON a.src = f.n AND w.s = f.s AND w.n = a.dst), 0)
                  AS BIGINT) AS delta
                FROM f$l f)""")
    }
    sb.append(s""",
      bc AS (SELECT n, CAST(sum(delta) AS BIGINT) AS bc_micro
             FROM (${(1 to rounds).map(l => s"SELECT n, delta FROM d$l")
      .mkString(" UNION ALL ")})
             GROUP BY n)""")
    sb.toString
  }
}
