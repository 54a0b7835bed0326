package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (Raghavan et al.
  * 2007, "Near linear time algorithm to detect community structures in
  * large-scale networks"): every node starts in its own community (label =
  * node id) and each round adopts the label most frequent among its
  * neighbors, ties broken toward the smallest label. The deterministic
  * synchronous variant is the one a distributed engine wants — no
  * sequential sweep, every node updates from the SAME previous-round
  * snapshot — and with a fixed unroll R plus fully-ordered tie-breaks the
  * whole run is replayable in SQL, so the oracle ([[oracleCtes]]) is
  * generated in lockstep exactly like PageRank / k-core.
  *
  * Scale shape per round: one equi-join of the (2|E|)-row neighbor relation
  * against the (|V|)-row label snapshot, one (node, label) count aggregate,
  * and one per-node argmax — all key-partitioned, no driver-side graph
  * state. The argmax is `max(struct(count, -label))`, a plain aggregate
  * (no window): per-node candidate labels are bounded by degree, and the
  * struct-max picks highest count then smallest label in one codegen'd
  * pass. Labels are localCheckpoint'd per round — the join-on-join lineage
  * otherwise grows geometrically (the k-core lesson, KCore.scala).
  *
  * Synchronous LPA can oscillate on bipartite structures; a fixed R with
  * the per-round community count surfaced makes that visible rather than
  * hidden (two equal consecutive rounds witness a fixpoint), and the
  * oracle replays the same R rounds so both engines agree by construction.
  */
object LabelProp {

  /** Broadcast the label snapshot into the vote join when the measured
    * node count is at or below this (2M × 16-byte rows ≈ 32 MB — well
    * inside executor broadcast budgets). The gate is a DRIVER-side
    * decision on a MEASURED size, not a static hint: above it the join
    * degrades to the ordinary key-partitioned shuffle join that a
    * billion-node graph needs. Below it, combined with nbr's
    * n-pre-partitioning, every round runs exchange-free. */
  val BroadcastMaxLabels: Long = 2000000L

  /** Per-round community summary over canonical undirected edges
    * (lo < hi, distinct — [[Triangles.canonical]] produces exactly that):
    * one row per round r = 0..rounds with the number of distinct
    * communities and the largest community's size. Round 0 is the
    * all-singletons start. */
  def propagateSummary(canonEdges: DataFrame, rounds: Int,
                       broadcastMaxLabels: Long = BroadcastMaxLabels): DataFrame = {
    // COST gate (SmallGraph): identical synchronous vote rounds inside
    // ONE executor task under the size threshold; the distributed loop
    // below is the 100 TB path.
    SmallGraph.route(canonEdges, Seq("lo", "hi"))(
        SmallGraph.labelPropSummaryKernel(_, rounds),
        "round", "n_communities", "largest") { canonEdges =>
      val snapshots = snapshotsOf(canonEdges, rounds, broadcastMaxLabels)
      // Peeling never reads the summaries, so they all evaluate in ONE
      // final job over the checkpointed snapshots instead of one collect
      // per round — rounds+1 scheduler jobs collapse to 1 (the k-core
      // lesson applied one step further; its per-round count can't defer
      // because it also sizes the next round's coalesce — this one doesn't).
      snapshots.zipWithIndex.map { case (l, r) =>
        l.groupBy("lbl").agg(count(lit(1)).as("sz"))
          .agg(count(lit(1)).as("n_communities"), max(col("sz")).as("largest"))
          .select(lit(r.toLong).as("round"), col("n_communities"),
            col("largest"))
      }.reduce(_ unionByName _)
    }
  }

  /** The converged (n, lbl) assignment after `rounds` — the relation
    * downstream analytics (modularity scoring, community joins) consume. */
  def finalLabels(canonEdges: DataFrame, rounds: Int,
                  broadcastMaxLabels: Long = BroadcastMaxLabels): DataFrame = {
    // Same COST gate as [[propagateSummary]] — one shared kernel runs
    // the rounds, so summary and final labels cannot drift apart.
    SmallGraph.route(canonEdges, Seq("lo", "hi"))(
        SmallGraph.labelPropFinalKernel(_, rounds),
        "n", "lbl") { canonEdges =>
      snapshotsOf(canonEdges, rounds, broadcastMaxLabels).last
    }
  }

  private def snapshotsOf(canonEdges: DataFrame, rounds: Int,
                          broadcastMaxLabels: Long): Seq[DataFrame] = {
    // Both directions once, reused every round (checkpointed so each
    // round's join re-reads materialized blocks, not the edge lineage —
    // the one-sided edge relation has no other consumer, so only nbr
    // materializes).
    // Pre-partitioned by n: the vote join keys on m, but when the label
    // side broadcasts (AQE decides; labels ≪ nbr on most graphs) the
    // join PRESERVES this partitioning, and both downstream groupBys —
    // (n, lbl) and (n) — are then satisfied by it (hash on a subset of
    // the group keys clusters the superset), so a whole round runs with
    // ZERO exchanges. If the label side is too big to broadcast, the
    // planner falls back to the shuffle join and the rounds pay the
    // ordinary key-partitioned exchanges — the declared plan degrades,
    // never breaks. localCheckpoint preserves the partitioning.
    val nbr = canonEdges.select(col("lo").as("n"), col("hi").as("m"))
      .unionAll(canonEdges.select(col("hi").as("n"), col("lo").as("m")))
      .repartition(col("n"))
      .localCheckpoint(true)
    // The label snapshot is |V| rows against nbr's 2|E| — on a KB-scale
    // tail it would otherwise carry the full shuffle-partition fan-out
    // through every round's join. Size its partitioning once (~2M labels
    // per partition, never fewer than 1); coalesce only ever REDUCES, so
    // at cluster scale this is a no-op and the plan shape is unchanged.
    val labels0 = nbr.select(col("n")).distinct()
      .select(col("n"), col("n").as("lbl"))
      .localCheckpoint(true)
    val nV = labels0.count()
    val lparts = math.max(1, math.min(nbr.rdd.getNumPartitions,
      (nV / 2000000L).toInt + 1))
    val bcast = nV <= broadcastMaxLabels
    // coalesce of an already-checkpointed snapshot: no new materialization.
    var labels = labels0.coalesce(lparts)
    val snapshots = scala.collection.mutable.ArrayBuffer(labels)
    for (_ <- 1 to rounds) {
      // Each neighbor m contributes its previous-round label to n; the
      // per-node winner is argmax by (count, then smallest label).
      val lbls = labels.withColumnRenamed("n", "m")
      val votes = nbr
        .join(if (bcast) broadcast(lbls) else lbls, Seq("m"))
        .groupBy("n", "lbl").agg(count(lit(1)).as("c"))
      labels = votes
        .groupBy("n")
        .agg(max(struct(col("c"), (-col("lbl")).as("neg"))).as("w"))
        .select(col("n"), (-col("w.neg")).as("lbl"))
        .coalesce(lparts)
        .localCheckpoint(true)
      snapshots += labels
    }
    snapshots.toSeq
  }

  /** Generated DuckDB replay of the same R rounds over a canonical edge
    * CTE provided as `edgesSql` (columns lo, hi). Produces label CTEs
    * l0..lR and a per-round `summary`; the final SELECT is the caller's. */
  def oracleCtes(edgesSql: String, rounds: Int): String = {
    val sb = new StringBuilder
    // MATERIALIZED like KCore.oracleCtes: each round references its parent
    // repeatedly, and DuckDB would otherwise inline l_{r-1} exponentially.
    sb.append(s"WITH e0 AS MATERIALIZED ($edgesSql)")
    sb.append(""",
      nbr AS MATERIALIZED (SELECT lo AS n, hi AS m FROM e0
                           UNION ALL SELECT hi AS n, lo AS m FROM e0),
      l0 AS MATERIALIZED (SELECT DISTINCT n, n AS lbl FROM nbr)""")
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(s""",
        c$r AS MATERIALIZED (
          SELECT nbr.n, l.lbl, count(*) AS c
          FROM nbr JOIN l$p l ON l.n = nbr.m GROUP BY nbr.n, l.lbl),
        l$r AS MATERIALIZED (
          SELECT n, lbl FROM (
            SELECT n, lbl, row_number() OVER (
              PARTITION BY n ORDER BY c DESC, lbl) AS rn FROM c$r)
          WHERE rn = 1)""")
    }
    sb.append(s""",
      summary AS (${(0 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
            count(DISTINCT lbl) AS n_communities,
            (SELECT max(sz) FROM (
              SELECT count(*) AS sz FROM l$r GROUP BY lbl)) AS largest
          FROM l$r"""
    }.mkString(" UNION ALL ")})""")
    sb.toString
  }
}
