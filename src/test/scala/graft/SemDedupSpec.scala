package graft

import org.apache.spark.sql.functions.col

import graft.llm.SemDedup

/** SemDeDup semantic dedup: within-cluster pair recall vs brute force on
  * separable data, representative selection, and the no-duplicates case. */
class SemDedupSpec extends SparkSpecBase {

  private val dim = 8

  // 4 well-separated anchor directions, 5 near-identical points each:
  // same-anchor cosine ≈ 1, cross-anchor ≈ 0 (near-orthogonal anchors).
  private def corpus(): Seq[(Long, Seq[Double])] = {
    val rnd = new scala.util.Random(9)
    val anchors = Seq(
      Seq(10.0, 0, 0, 0, 0, 0, 0, 0), Seq(0.0, 10, 0, 0, 0, 0, 0, 0),
      Seq(0.0, 0, 10, 0, 0, 0, 0, 0), Seq(0.0, 0, 0, 10, 0, 0, 0, 0))
    (0L until 20L).map { id =>
      val a = anchors((id % 4).toInt)
      id -> a.map(_ + rnd.nextGaussian() * 0.01)
    }
  }

  private def df() = {
    import spark.implicits._
    corpus().toDF("vec_id", "embedding")
  }

  test("semantic pairs equal brute-force pairs on separable clusters") {
    val got = SemDedup.semanticPairs(df(), "embedding", "vec_id",
        k = 4, threshold = 0.99, dim = dim)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = (for {
      (ia, ea) <- corpus(); (ib, eb) <- corpus() if ia < ib
      dot = ea.zip(eb).map { case (x, y) => x * y }.sum
      na = math.sqrt(ea.map(x => x * x).sum)
      nb = math.sqrt(eb.map(x => x * x).sum)
      if dot / (na * nb) >= 0.99
    } yield (ia, ib)).toSet
    assert(brute.nonEmpty && got == brute,
      s"pairs drifted: missing=${brute.diff(got)} extra=${got.diff(brute)}")
  }

  test("dedup keeps exactly the min-id representative per semantic group") {
    val out = SemDedup.semDedup(df(), "embedding", "vec_id",
      k = 4, threshold = 0.99, dim = dim).collect()
    val kept = out.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    assert(kept == Set(0L, 1L, 2L, 3L), s"representatives drifted: $kept")
    assert(out.length == 20)
  }

  test("mega-cluster: pair output stays linear and the group still dedups") {
    import spark.implicits._
    // One boilerplate mega-group: 30 near-identical vectors, far over the
    // cap. All land in one k-means cluster AND one LSH sub-bucket, so the
    // all-pairs path would be 435 pairs; the chain fallback must emit at
    // most n-1 = 29, and connected components must still merge the whole
    // group to the min-id representative.
    val rnd = new scala.util.Random(11)
    val mega = (0L until 30L).map { id =>
      id -> Seq(10.0, 0, 0, 0, 0, 0, 0, 0).map(_ + rnd.nextGaussian() * 0.005)
    }
    // a second, far-away small group so k=2 has two natural clusters and
    // k-means doesn't split the blob across both centroids
    val other = (30L until 35L).map { id =>
      id -> Seq(0.0, 10, 0, 0, 0, 0, 0, 0).map(_ + rnd.nextGaussian() * 0.005)
    }
    val megaDf = (mega ++ other).toDF("vec_id", "embedding")
    val pairs = SemDedup.semanticPairs(megaDf, "embedding", "vec_id",
      k = 2, threshold = 0.99, dim = dim, maxCluster = 5).collect()
    // mega-group: ≤29 chain links; small group: ≤10 all-pairs
    assert(pairs.length <= 39,
      s"cap failed: ${pairs.length} pairs from a 30-doc mega-cluster")
    assert(pairs.nonEmpty, "chain fallback emitted no links")
    val out = SemDedup.semDedup(megaDf, "embedding", "vec_id",
      k = 2, threshold = 0.99, dim = dim, maxCluster = 5).collect()
    val kept = out.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    assert(kept == Set(0L, 30L), s"groups not merged to min ids: $kept")
  }

  test("a corpus with no semantic dups keeps everything") {
    import spark.implicits._
    // one point per anchor direction: all cross-cosines ≈ 0
    val lone = corpus().take(4).toDF("vec_id", "embedding")
    val out = SemDedup.semDedup(lone, "embedding", "vec_id",
      k = 2, threshold = 0.99, dim = dim).collect()
    assert(out.forall(_.getBoolean(2)))
  }

  test("bounded gate at k = 16: pair mass stays linear on planted families") {
    // The registered gate's cells (q_llm_semdedup's corpus, k = 16) over
    // 300 base vectors x 20 near-identical replicas (SfGen --families):
    // with k fixed, cells grow with the replicas, so the maxCluster cap,
    // the sign-LSH sub-split and the chain degrade carry the scale load.
    val dir = java.nio.file.Files.createTempDirectory("graft-families").toString
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 300)
    SfGen.familyEmbeddings(base, 20).write.parquet(s"$dir/embeddings.parquet")
    val cells = graft.queries.Registry.semDedupWithCell(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = cells.count()
      val mass = SemDedup.detPairMass(cells, maxCluster = 40)
      assert(n >= 6000 && mass <= 60L * n,
        s"pair mass $mass over $n vectors: super-linear")
    } finally cells.unpersist()
  }
}
