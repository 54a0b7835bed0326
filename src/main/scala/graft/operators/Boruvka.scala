package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Minimum spanning forest by synchronous Borůvka rounds (Borůvka 1926;
  * the component-merge formulation every distributed MSF paper builds on,
  * e.g. Pemmaraju's PRAM treatment) — on a similarity graph with
  * d = −weight this is the MAXIMUM-similarity backbone, i.e. exactly the
  * dendrogram skeleton single-linkage clustering walks, which is what a
  * dedup pipeline wants from its near-dup pair graph.
  *
  * Uniqueness contract: edges are ordered by the STRICT total order
  * (d, lo, hi) — no two edges compare equal — so the MSF is unique and
  * any correct algorithm (the oracle replays the same rounds; Kruskal
  * under the same order would too) lands on the identical edge set.
  *
  * Distributed shape, per round: ONE comp-label join pair over the
  * checkpointed edge relation, ONE per-component min (a struct-min
  * aggregate — no window), then hook + pointer-jumping on the
  * ≤|components| parent relation (2-cycles broken to the smaller id, so
  * the parent graph is an in-forest with self-looped roots; label
  * distance doubles per jump → O(log depth) tiny joins). Components at
  * least double in size per round → ≤ ⌈log₂ n⌉ rounds. No collect ever
  * touches a corpus-sized relation; every loop-carried frame is
  * localCheckpoint'd (the KCore lineage lesson). */
object Boruvka {

  /** Below this edge count the forest computes as driver Kruskal —
    * the [[graft.llm.Dedup.connectedComponents]] dual-path precedent:
    * the unique-forest contract makes both paths bit-identical, and a
    * ~100k-edge subgraph pays more in per-round driver round-trips
    * than in actual work (33.7 → <2 s at sf0.1 when this landed). */
  val SmallGraphMaxEdges: Long = 1L << 20

  /** The chosen MSF edge relation (lo, hi, d) under the (d, lo, hi)
    * total order. Input edges must be canonical (lo < hi, one row per
    * pair) with a Long order key `d` (negate similarity weights for a
    * maximum forest). `maxDriverEdges` gates the Kruskal fast path
    * (pass 0 to force the distributed rounds, as BoruvkaSpec does). */
  def msfEdges(edges: DataFrame, maxRounds: Int = 20,
               maxDriverEdges: Long = SmallGraphMaxEdges): DataFrame = {
    val e0 = edges
      .select(col("lo").cast("long").as("lo"),
        col("hi").cast("long").as("hi"), col("d").cast("long").as("d"))
      .repartition(col("lo")).localCheckpoint(true)
    if (e0.count() <= maxDriverEdges) {
      val spark = edges.sparkSession
      import spark.implicits._
      val sorted = e0.collect()
        .map(r => (r.getLong(2), r.getLong(0), r.getLong(1)))
        .sortBy(identity)
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElse(root, root) != root) root = parent(root)
        var cur = x
        while (parent.getOrElse(cur, cur) != cur) {
          val nxt = parent(cur); parent(cur) = root; cur = nxt
        }
        root
      }
      val kept = sorted.iterator.filter { case (_, lo, hi) =>
        val (rl, rh) = (find(lo), find(hi))
        if (rl == rh) false
        else { if (rl < rh) parent(rh) = rl else parent(rl) = rh; true }
      }.map { case (d, lo, hi) => (lo, hi, d) }.toSeq
      return kept.toDF("lo", "hi", "d")
    }
    var comp = e0.select(col("lo").as("node"))
      .unionAll(e0.select(col("hi").as("node"))).distinct()
      .select(col("node"), col("node").as("c")).localCheckpoint(true)
    var chosen: DataFrame = null
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      round += 1
      val ec = e0
        .join(comp.select(col("node").as("lo"), col("c").as("cu")), Seq("lo"))
        .join(comp.select(col("node").as("hi"), col("c").as("cv")), Seq("hi"))
        .filter(col("cu") =!= col("cv"))
      val cand = ec.select(col("cu").as("c"),
          struct(col("d").as("d"), col("lo").as("lo"), col("hi").as("hi"),
            col("cv").as("pt")).as("e"))
        .unionAll(ec.select(col("cv").as("c"),
          struct(col("d").as("d"), col("lo").as("lo"), col("hi").as("hi"),
            col("cu").as("pt")).as("e")))
      val sel = cand.groupBy("c").agg(min(col("e")).as("e"))
        .select(col("c"), col("e.d").as("d"), col("e.lo").as("lo"),
          col("e.hi").as("hi"), col("e.pt").as("pt"))
        .localCheckpoint(true)
      if (sel.isEmpty) done = true
      else {
        val newEdges = sel.select(col("lo"), col("hi"), col("d")).distinct()
        chosen =
          if (chosen == null) newEdges.localCheckpoint(true)
          else chosen.unionByName(newEdges).localCheckpoint(true)
        // Contraction: the merge groups are EXACTLY the connected
        // components of the selected-edge graph in component space, so
        // reuse the battle-tested dual-path CC (min-id labels; any
        // consistent relabeling picks the same edges next round, since
        // labels only feed cu ≠ cv tests and grouping — the original
        // hand-rolled hook + pointer-jump contraction spent ~20
        // driver-blocking micro-jobs per round on the same answer and
        // stalled a 590k-edge run of the distributed rounds for 15+
        // minutes).
        val groups = graft.llm.Dedup.connectedComponents(
          sel.select(col("c").as("ga"), col("pt").as("gb")), "ga", "gb")
        comp = comp
          .join(groups.select(col("id").as("c"), col("component")),
            Seq("c"), "left")
          .select(col("node"), coalesce(col("component"), col("c")).as("c"))
          .localCheckpoint(true)
      }
    }
    // Borůvka halves the component count every round, so maxRounds = 20
    // covers ~2^20 initial components; past that the loop would exit with
    // a PARTIAL forest. Fail loudly — a silently truncated spanning forest
    // looks exactly like a converged one to every downstream consumer.
    require(done || round < maxRounds,
      s"Boruvka did not converge within maxRounds=$maxRounds rounds - " +
        "the selected forest is incomplete; raise maxRounds (each round " +
        "halves the component count, so rounds ~ log2(components))")
    if (chosen == null)
      e0.filter(lit(false)).select(col("lo"), col("hi"), col("d"))
    else chosen
  }

  /** Generated DuckDB replay: R unrolled Borůvka rounds over a weighted
    * canonical edge CTE `edgesSql` (columns lo, hi, d), each round =
    * comp-labelled min-edge selection (row_number under the same
    * (d, lo, hi) order), hook with 2-cycle break, and a recursive
    * root-chase (the in-forest is self-loop-rooted, so the chase stops
    * exactly at roots). Emits `msf` (the union of per-round selections)
    * and `cR` (final labels); the final SELECT is the caller's. R must
    * be ≥ ⌈log₂ max-component-size⌉ — extra rounds are no-ops. */
  def oracleCtes(edgesSql: String, rounds: Int): String = {
    val sb = new StringBuilder
    // n0 dedups via GROUP BY, not UNION: inside a WITH RECURSIVE block
    // DuckDB 1.0 compiles plain UNION between non-recursive CTEs as an
    // appending union (no dedup) — the r16 sf1 sweep caught n0 carrying
    // one row per edge ENDPOINT instead of per node, silently inflating
    // every round's label relation ~30x (results survived only because
    // the old consumers re-grouped).
    sb.append(s"""WITH RECURSIVE e0 AS MATERIALIZED ($edgesSql),
      n0 AS (SELECT node FROM (SELECT lo AS node FROM e0
               UNION ALL SELECT hi FROM e0) GROUP BY node),
      c0 AS MATERIALIZED (SELECT node, node AS c FROM n0)""")
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(s""",
      ec$r AS MATERIALIZED (
        SELECT e0.lo, e0.hi, e0.d, cu.c AS cu, cv.c AS cv
        FROM e0 JOIN c$p cu ON e0.lo = cu.node
                JOIN c$p cv ON e0.hi = cv.node
        WHERE cu.c <> cv.c),
      cand$r AS (SELECT cu AS c, d, lo, hi, cv AS pt FROM ec$r
        UNION ALL SELECT cv, d, lo, hi, cu FROM ec$r),
      sel$r AS MATERIALIZED (SELECT c, d, lo, hi, pt FROM (
          SELECT *, row_number() OVER (PARTITION BY c ORDER BY d, lo, hi)
            AS rn FROM cand$r) WHERE rn = 1),
      par$r AS MATERIALIZED (
        SELECT a.c,
          CASE WHEN b.c IS NOT NULL AND a.c < a.pt THEN a.c ELSE a.pt END
            AS p
        FROM sel$r a LEFT JOIN sel$r b ON a.pt = b.c AND b.pt = a.c),
      chase$r AS (
        SELECT c, p AS cur FROM par$r
        UNION
        SELECT chase$r.c, par$r.p FROM chase$r JOIN par$r
          ON chase$r.cur = par$r.c
        WHERE par$r.p <> chase$r.cur),
      root$r AS MATERIALIZED (
        SELECT ch.c, ch.cur AS rt FROM chase$r ch JOIN par$r pp
          ON ch.cur = pp.c
        WHERE pp.p = ch.cur),
      c$r AS MATERIALIZED (
        SELECT cc.node, coalesce(r2.rt, cc.c) AS c
        FROM c$p cc LEFT JOIN root$r r2 ON cc.c = r2.c)""")
    }
    val unions = (1 to rounds)
      .map(r => s"SELECT lo, hi, d FROM sel$r").mkString(" UNION ALL ")
    sb.append(s""",
      msf AS MATERIALIZED (SELECT DISTINCT lo, hi, d FROM ($unions))""")
    sb.toString
  }
}
