package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Weighted PageRank (the TextRank formulation, Mihalcea & Tarau 2004
  * "TextRank: Bringing Order into Texts"): rank flows along edges in
  * proportion to edge WEIGHT over the source's total outgoing weight,
  *   rank(v) = (1−d)/N + d · Σ_{u→v} w(u,v)/wdeg(u) · rank(u),
  * the update that turns a co-occurrence graph into a keyword extractor
  * and a weighted host graph into a traffic-aware crawl prioritizer.
  * Unweighted [[PageRank]] is the w ≡ 1 special case.
  *
  * Same engine-portable arithmetic as PageRank: per-edge contributions
  * quantize to integer picorank units with ONE fixed double-op order —
  * floor(rank · w / wdeg · 10¹² + 0.5) — and sum exactly, so every
  * iteration is bit-identical across runs and engines (the generated
  * oracle, [[oracleSql]], replays the same unit arithmetic; node ids may
  * be ANY comparable type — the keyword use case keys by word).
  *
  * Same scale shape too: the weight-collapsed edge relation checkpoints
  * ONCE pre-partitioned by src with the weighted degree riding along;
  * each round is one broadcast-or-AQE join of the tiny per-destination
  * contribution relation against it plus one hash aggregation — the
  * round's single exchange. localCheckpoint every 3rd round. */
object WeightedPageRank {

  /** Ranks after exactly `iterations` rounds over directed weighted
    * edges (srcCol, dstCol, wCol); parallel edges collapse by SUMMING
    * weight (co-occurrence semantics). Weights must be positive
    * integers. Output (node, rank) at 9 dp. */
  def run(edges: DataFrame, srcCol: String, dstCol: String, wCol: String,
          iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    // COST gate (SmallGraph, size-only — node ids may be strings, the
    // TextRank keyword case): the weight collapse, degree fold and every
    // rank round run in ONE executor task with the identical fixed
    // double-op-order unit arithmetic, instead of count + 3 eager
    // localCheckpoints + iterations × (join + aggregate) scheduler
    // rounds over a vocabulary-scale graph. Distributed path below is
    // unchanged — the 100 TB shape.
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(wCol).cast("long").as("w"))
    val keys = Seq("src", "dst", "w")
    def distributed(e0: DataFrame): DataFrame = {
      val mUpper = e0.count()
      val defaultParts = edges.sparkSession.sessionState.conf.numShufflePartitions
      val parts =
        math.max(1L, math.min(defaultParts.toLong, mUpper / 131072L + 1L)).toInt
      val e = e0.groupBy("src", "dst").agg(sum("w").as("w"))
        .repartition(parts, col("src")).localCheckpoint()
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
        .localCheckpoint()
      val n = nodes.count()
      val eDeg = e.join(
          e.groupBy("src").agg(sum("w").as("wdeg")), "src")
        .localCheckpoint()

      val base = lit((1.0 - damping) / n)
      def rankExpr: org.apache.spark.sql.Column =
        base + lit(damping) * (coalesce(col("in_units"), lit(0L)).cast("double") / 1e12)
      // One fixed double-op order shared with the oracle:
      // ((rank · w) / wdeg) · 1e12 — left-to-right as written on both sides.
      def unitsExpr(rank: org.apache.spark.sql.Column) =
        floor(rank * col("w") / col("wdeg") * 1e12 + 0.5).cast("long").as("units")
      var contribs = eDeg
        .select(col("dst"), unitsExpr(lit(1.0 / n)))
        .groupBy("dst").agg(sum("units").as("in_units"))
      for (i <- 2 to iterations) {
        contribs = eDeg
          .join(contribs.withColumnRenamed("dst", "_cdst"),
            col("src") === col("_cdst"), "left")
          .select(col("dst"), unitsExpr(rankExpr))
          .groupBy("dst").agg(sum("units").as("in_units"))
        if (i % 3 == 0 && i < iterations) contribs = contribs.localCheckpoint()
      }
      nodes.join(contribs, nodes("node") === contribs("dst"), "left")
        .select(col("node"),
          (floor(rankExpr * 1e9 + 0.5) / 1e9).as("rank"))
    }
    if (Seq("src", "dst").forall(
        e0.schema(_).dataType == org.apache.spark.sql.types.StringType))
      SmallGraph.route(e0, keys, anyKey = true)(
        kernel[String](_, iterations, damping), "node", "rank")(distributed)
    else
      SmallGraph.route(e0, keys)(
        kernel[Long](_, iterations, damping), "node", "rank")(distributed)
  }

  /** Bounded single-task replay of [[run]]'s exact arithmetic: intern
    * ids to dense indices, collapse parallel edges by weight sum, fold
    * weighted degrees, then per round fold every edge's contribution
    * floor(rank·w/wdeg·10¹² + 0.5) into exact Long in-unit sums with
    * the SAME left-to-right double-op order as the Column expression.
    * Output (node, rank at 9 dp) per node (src ∪ dst), order
    * unspecified (callers sort). Weights must be non-null positive
    * integers — [[run]]'s documented contract. */
  private[graft] def kernel[K](it: Iterator[(K, K, Long)], iterations: Int,
      damping: Double): Iterator[(K, Double)] = {
    val idx = scala.collection.mutable.LinkedHashMap.empty[K, Int]
    def id(k: K): Int = idx.getOrElseUpdate(k, idx.size)
    val collapsed = scala.collection.mutable.HashMap.empty[Long, Long]
    it.foreach { case (s, d, w) =>
      val key = (id(s).toLong << 32) | id(d).toLong
      collapsed.update(key, collapsed.getOrElse(key, 0L) + w)
    }
    val n = idx.size
    if (n == 0) return Iterator.empty
    val m = collapsed.size
    val srcA = new Array[Int](m)
    val dstA = new Array[Int](m)
    val wA = new Array[Long](m)
    var i = 0
    collapsed.foreach { case (key, w) =>
      srcA(i) = (key >>> 32).toInt; dstA(i) = (key & 0xffffffffL).toInt
      wA(i) = w; i += 1
    }
    val wdeg = new Array[Long](n)
    i = 0
    while (i < m) { wdeg(srcA(i)) += wA(i); i += 1 }
    val base = (1.0 - damping) / n
    // floor(rank · w / wdeg · 1e12 + 0.5) — the ONE fixed double-op
    // order shared with the Column expression and the oracle.
    def units(rank: Double, e: Int): Long =
      math.floor(rank * wA(e) / wdeg(srcA(e)) * 1e12 + 0.5).toLong
    var inUnits = new Array[Long](n)
    val r0 = 1.0 / n
    i = 0
    while (i < m) { inUnits(dstA(i)) += units(r0, i); i += 1 }
    var round = 2
    while (round <= iterations) {
      val next = new Array[Long](n)
      i = 0
      while (i < m) {
        val rank = base + damping * (inUnits(srcA(i)).toDouble / 1e12)
        next(dstA(i)) += units(rank, i)
        i += 1
      }
      inUnits = next
      round += 1
    }
    idx.iterator.map { case (k, ix) =>
      val rank = base + damping * (inUnits(ix).toDouble / 1e12)
      (k, math.floor(rank * 1e9 + 0.5) / 1e9)
    }
  }

  /** Generated DuckDB replay: `edgesSql` must produce (src, dst, w) rows
    * (parallel edges allowed — the sum-collapse is part of the replay).
    * Emits CTEs up to `r<iterations>` holding (node, UNROUNDED rank); the
    * final SELECT is the caller's — round with
    * `FLOOR(rank * 1e9 + CAST(0.5 AS DOUBLE)) / 1e9` to match [[run]]. */
  def oracleCtes(edgesSql: String, iterations: Int = 10,
                 damping: Double = 0.85): String = {
    val body = new StringBuilder
    body ++= s"""WITH e0 AS ($edgesSql),
      e AS MATERIALIZED (
        SELECT src, dst, CAST(SUM(w) AS BIGINT) AS w FROM e0 GROUP BY src, dst),
      nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
      n_cte AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
      wdeg AS MATERIALIZED (SELECT src, CAST(SUM(w) AS BIGINT) AS wdeg FROM e GROUP BY src),
      r0 AS MATERIALIZED (SELECT node, CAST(1.0 AS DOUBLE)/(SELECT n FROM n_cte) AS rank FROM nodes)"""
    for (i <- 1 to iterations) {
      body ++= s""",
      c$i AS MATERIALIZED (SELECT e.dst,
                SUM(CAST(FLOOR(r.rank * e.w / wdeg.wdeg * 1e12 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS in_units
              FROM r${i - 1} r JOIN wdeg ON r.node = wdeg.src JOIN e ON e.src = wdeg.src
              GROUP BY e.dst),
      r$i AS MATERIALIZED (SELECT nodes.node,
                (CAST(1.0 AS DOUBLE) - CAST($damping AS DOUBLE))/(SELECT n FROM n_cte)
                  + CAST($damping AS DOUBLE) * (COALESCE(c$i.in_units, 0) / 1e12) AS rank
              FROM nodes LEFT JOIN c$i ON nodes.node = c$i.dst)"""
    }
    body.toString
  }
}
