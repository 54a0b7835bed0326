package graft

import org.apache.spark.sql.functions.col

import graft.llm.SemDedup

/** SemDeDup's registered gate: candidate-pair mass stays linear when the
  * corpus grows by near-identical replicas. */
class SemDedupSpec extends SparkSpecBase {

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
