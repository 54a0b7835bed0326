package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.SmallGraph

/** Semantic deduplication (SemDeDup, Abbas et al. 2023,
  * arXiv:2303.09540): cluster the embedding space, compare embeddings
  * PAIRWISE ONLY WITHIN EACH CLUSTER, and drop all but one document from
  * every group whose cosine similarity exceeds the threshold.
  * Near-duplicate *meaning* (paraphrases, boilerplate variants,
  * translations of the same page) clusters together even when the bytes
  * share no n-grams — the gap MinHash/SimHash can't see.
  *
  * Scale shape: the quadratic step is confined to single cells of the
  * deterministic k-means gate ([[DetKMeans]]) — cost is
  * Σ|cell|², bounded by `maxCluster`: an oversized cell is split by an
  * integer sign-LSH sub-key, and a sub-bucket that is STILL oversized
  * degrades to consecutive-chain pairing, whose links the downstream
  * connected components merge back into one dedup group. */
object SemDedup {

  /** Integer sign-LSH planes for the deterministic mega-cell sub-split:
    * `numPlanes` × `dim` md5-derived components in [-2^19, 2^19). All-long
    * arithmetic — the sub-key is an exact integer dot-product sign over the
    * point's micro-unit coordinates (`DetKMeans.toUnits`), so an external
    * SQL engine replays it verbatim:
    * `CAST(('0x' || substr(md5('semsub:'||j||':'||i), 1, 5)) AS BIGINT)
    *  - 524288`. Overflow headroom: |u| ≤ ~10⁹ × |p| < 2¹⁹ × 64 dims
    * < 2⁶³. */
  def subPlanes(numPlanes: Int, dim: Int): Array[Array[Long]] =
    Array.tabulate(numPlanes, dim) { (j, i) =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"semsub:$j:$i".getBytes("UTF-8"))
      val hex = md.take(3).map(b => f"$b%02x").mkString.take(5)
      java.lang.Long.parseLong(hex, 16) - 524288L
    }

  /** Sign-LSH bucket id of a unit-space (array&lt;long&gt;) point. */
  def subBucket(u: Column, planes: Array[Array[Long]]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      val dotU = aggregate(
        zip_with(u, array(p.map(lit(_)): _*), (x, y) => x * y),
        lit(0L), (acc, v) => acc + v)
      when(dotU >= 0L, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** Attach the bounded-pairing key to a DetKMeans-assigned relation
    * (columns: idCol, `u`, `cid`, plus whatever else rides along): cells
    * ≤ `maxCluster` keep `_sub = 0`; larger cells sub-split by the integer
    * sign-LSH bucket. `_sn` = the resulting (cid, _sub) population — the
    * quantity every downstream pairing decision branches on. */
  private def detKey(withCell: DataFrame, maxCluster: Int,
                     planes: Array[Array[Long]]): DataFrame =
    withCell
      .withColumn("_cn", count(lit(1)).over(Window.partitionBy("cid")))
      .withColumn("_sub", when(col("_cn") <= maxCluster, lit(0L))
        .otherwise(subBucket(col("u"), planes)))
      .withColumn("_sn",
        count(lit(1)).over(Window.partitionBy("cid", "_sub")))
      .drop("_cn")

  /** Bounded within-cell pairing over the DETERMINISTIC k-means gate —
    * a maxCluster cap, a sign-LSH sub-split and an O(n) chain degrade for
    * true mega-groups, all in md5/integer arithmetic an external SQL
    * engine can replay end to end.
    * `withCell` must carry idCol, embCol, `u` (unit coords) and `cid`
    * (cell id). Cost is Σ|bucket|² with |bucket| ≤ maxCluster plus O(n)
    * chain links — never corpus-quadratic, whatever the cell skew.
    * Returns (id_a, id_b, cos) with id_a &lt; id_b, cos ≥ threshold at the
    * engine's 6-dp half-up floor rounding. */
  def detBoundedPairs(withCell: DataFrame, idCol: String, embCol: String,
                      threshold: Double, dim: Int = 64,
                      maxCluster: Int = 40, numPlanes: Int = 8): DataFrame = {
    val planes = subPlanes(numPlanes, dim)
    // COST gate (SmallGraph): the two count windows, the bounded
    // self-join and the chain window all run in ONE executor task with
    // the identical integer sub-split and IEEE cosine arithmetic
    // (float→double widening is exact, so the cast below is bit-free),
    // instead of 2 window shuffles + a self-join + a window over a
    // KB-scale assigned relation. Distributed path below unchanged —
    // the 100 TB shape. localCheckpoint keeps the same eager
    // bounded-pair materialization contract either way.
    SmallGraph.routeWith(withCell, Seq(idCol, "cid")) { withCell =>
      SmallGraph.singleTask(withCell, Seq(col(idCol),
          col(embCol).cast("array<double>"), col("u"), col("cid")))(
          detPairsKernel(_, threshold, dim, maxCluster, planes),
          "id_a", "id_b", "cos")
        .localCheckpoint()
    } { withCell =>
      val keyed = detKey(withCell, maxCluster, planes)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      def cosCol(a: Column, b: Column): Column =
        Similarity.roundHalfUp(Similarity.cosineUnrolled(a, b, dim), 6)
      val small = keyed.filter(col("_sn") <= maxCluster)
      val a = small.select(col("cid"), col("_sub"),
        col(idCol).as("id_a"), col(embCol).as("_ea"))
      val b = small.select(col("cid"), col("_sub"),
        col(idCol).as("id_b"), col(embCol).as("_eb"))
      val allPairs = a.join(b, Seq("cid", "_sub"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("cos", cosCol(col("_ea"), col("_eb")))
        .filter(col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
      val chainOrd = Window.partitionBy("cid", "_sub").orderBy(col(idCol))
      val chainPairs = keyed.filter(col("_sn") > maxCluster)
        .withColumn("_nid", lead(col(idCol), 1).over(chainOrd))
        .withColumn("_ne", lead(col(embCol), 1).over(chainOrd))
        .filter(col("_nid").isNotNull)
        .withColumn("cos", cosCol(col(embCol), col("_ne")))
        .filter(col("cos") >= threshold)
        .select(col(idCol).as("id_a"), col("_nid").as("id_b"), col("cos"))
      // The pair set is bounded, so checkpoint it eagerly and release the
      // keyed relation now rather than at session end.
      val pairs = allPairs.unionByName(chainPairs).localCheckpoint()
      keyed.unpersist()
      pairs
    }
  }

  /** Bounded single-task replay of [[detBoundedPairs]]'s exact steps:
    * per-cell counts, the md5-integer sign-LSH sub-split of mega-cells,
    * the capped all-pairs branch (id_a &lt; id_b), the O(n) id-ordered
    * chain branch, and the 6-dp half-up cosine floor — every double op
    * in the same ascending-index order as [[graft.expressions.FloatDot]]
    * / [[Similarity.roundHalfUp]]. Emits (id_a, id_b, cos). */
  private[graft] def detPairsKernel(
      it: Iterator[(Long, Seq[Double], Seq[Long], Long)],
      threshold: Double, dim: Int, maxCluster: Int,
      planes: Array[Array[Long]]): Iterator[(Long, Long, Double)] = {
    val rows = it.map { case (id, e, u, cid) =>
      (id, e.toArray, u.toArray, cid)
    }.toArray
    // cos6: cosineUnrolled (ascending-index double dots, 0.0 on zero
    // norm, null→dropped on a dim mismatch) + the 6-dp half-up floor.
    def cos6(a: Array[Double], b: Array[Double]): Option[Double] = {
      if (a.length != dim || b.length != dim) return None
      var aa = 0.0; var bb = 0.0; var ab = 0.0
      var i = 0
      while (i < dim) { aa += a(i) * a(i); i += 1 }
      i = 0
      while (i < dim) { bb += b(i) * b(i); i += 1 }
      val na = math.sqrt(aa); val nb = math.sqrt(bb)
      val c =
        if (na == 0.0 || nb == 0.0) 0.0
        else {
          i = 0
          while (i < dim) { ab += a(i) * b(i); i += 1 }
          ab / (na * nb)
        }
      Some(math.floor(c * 1e6 + 0.5) / 1e6)
    }
    // Cell populations, then the sub-key: cells over maxCluster split by
    // the integer sign-LSH bucket (exact long dot per plane).
    val cellN = scala.collection.mutable.HashMap.empty[Long, Int]
    rows.foreach { r => cellN.update(r._4, cellN.getOrElse(r._4, 0) + 1) }
    def subOf(u: Array[Long]): Long = {
      var s = 0L
      var j = 0
      while (j < planes.length) {
        val p = planes(j)
        var d = 0L
        var i = 0
        while (i < u.length) { d += u(i) * p(i); i += 1 }
        if (d >= 0L) s += (1L << j)
        j += 1
      }
      s
    }
    val buckets = scala.collection.mutable.LinkedHashMap
      .empty[(Long, Long), scala.collection.mutable.ArrayBuffer[Int]]
    rows.indices.foreach { i =>
      val cid = rows(i)._4
      val sub = if (cellN(cid) <= maxCluster) 0L else subOf(rows(i)._3)
      buckets.getOrElseUpdate((cid, sub),
        scala.collection.mutable.ArrayBuffer.empty[Int]) += i
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    buckets.valuesIterator.foreach { members =>
      if (members.size <= maxCluster) {
        // capped all-pairs branch: id_a < id_b, cos ≥ threshold
        var x = 0
        while (x < members.size) {
          var y = x + 1
          while (y < members.size) {
            val rx = rows(members(x)); val ry = rows(members(y))
            val (a, b) = if (rx._1 < ry._1) (rx, ry) else (ry, rx)
            cos6(a._2, b._2).foreach { c =>
              if (c >= threshold) out += ((a._1, b._1, c))
            }
            y += 1
          }
          x += 1
        }
      } else {
        // chain-degrade branch: consecutive by ascending id
        val sorted = members.toArray.sortBy(i => rows(i)._1)
        var x = 0
        while (x + 1 < sorted.length) {
          val a = rows(sorted(x)); val b = rows(sorted(x + 1))
          cos6(a._2, b._2).foreach { c =>
            if (c >= threshold) out += ((a._1, b._1, c))
          }
          x += 1
        }
      }
    }
    out.iterator
  }

  /** Deterministic corpus → bounded pairs in one step: DetKMeans gate
    * (k, iters) + [[detBoundedPairs]]. Under the SmallGraph gate the
    * WHOLE chain — quantize, Lloyd fit, assignment, sub-split, both
    * pair branches — runs in ONE executor task (the r17 semdedup-family
    * residue was ~20 scheduler jobs of eager fit/assign/join/pair
    * materializations over a KB-scale corpus); above it, exactly the
    * pre-existing composition. Identical arithmetic either way — the
    * oracle replays training, gating and pairing independently. */
  def detCorpusPairs(corpus: DataFrame, idCol: String, embCol: String,
                     k: Int, iters: Int, threshold: Double, dim: Int = 64,
                     maxCluster: Int = 40, numPlanes: Int = 8): DataFrame = {
    val planes = subPlanes(numPlanes, dim)
    SmallGraph.routeWith(corpus, Seq(idCol)) { corpus =>
      SmallGraph.singleTask(corpus,
          Seq(col(idCol), col(embCol).cast("array<double>")))(
          detCorpusPairsKernel(_, k, iters, threshold, dim, maxCluster,
            planes), "id_a", "id_b", "cos")
        .localCheckpoint()
    } { corpus =>
      val (_, cents) = DetKMeans.fit(corpus, idCol, embCol, k, iters, dim)
      val assigned = DetKMeans.assignTo(
          DetKMeans.unitPoints(corpus, idCol, embCol), cents)
        .select(col("id"), col("u"), col("cid"))
      val withCell = corpus.select(col(idCol).as("id"), col(embCol))
        .join(assigned, "id")
      detBoundedPairs(withCell, "id", embCol, threshold, dim, maxCluster,
        numPlanes)
    }
  }

  /** Single-task body of [[detCorpusPairs]]: toUnits quantization, the
    * exact Lloyd fit (DetKMeans.lloydCore), the smallest-cid-tie
    * assignment against the post-update centroids, then
    * [[detPairsKernel]]. */
  private[graft] def detCorpusPairsKernel(it: Iterator[(Long, Seq[Double])],
      k: Int, iters: Int, threshold: Double, dim: Int, maxCluster: Int,
      planes: Array[Array[Long]]): Iterator[(Long, Long, Double)] = {
    val rows = it.map { case (id, e) => (id, e.toArray) }.toArray
    val pts = rows.map { case (id, e) =>
      (id, e.map(x => math.floor(x * 1000000 + 0.5).toLong))
    }
    val (_, cents) = DetKMeans.lloydCore(pts, k, iters)
    val cid = pts.map { case (_, u) =>
      var bestC = -1L
      var bestD = Long.MaxValue
      cents.foreach { case (c, cv) =>
        var d = 0L
        var i = 0
        while (i < u.length) { val x = u(i) - cv(i); d += x * x; i += 1 }
        if (d < bestD || (d == bestD && c < bestC)) { bestD = d; bestC = c }
      }
      bestC
    }
    detPairsKernel(rows.indices.iterator.map(i =>
        (rows(i)._1, rows(i)._2.toSeq, pts(i)._2.toSeq, cid(i))),
      threshold, dim, maxCluster, planes)
  }

  /** Candidate-pair MASS of the bounded gate (pre-threshold): Σ C(n,2)
    * over all-pairs buckets + Σ (n−1) over chain buckets. This is the
    * quantity the scale gate tracks across scale factors — for a bounded
    * plan it must grow ~linearly in N, never quadratically. */
  def detPairMass(withCell: DataFrame, maxCluster: Int = 40,
                  numPlanes: Int = 8, dim: Int = 64): Long =
    detKey(withCell, maxCluster, subPlanes(numPlanes, dim))
      .groupBy("cid", "_sub").agg(count(lit(1)).as("n"))
      .select(when(col("n") <= maxCluster,
          (col("n") * (col("n") - 1) / 2).cast("long"))
        .otherwise(col("n") - 1).as("m"))
      .agg(coalesce(sum("m"), lit(0L)).as("mass"))
      .head.getLong(0)
}
