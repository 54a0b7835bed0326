package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `SfGen --families`: replicas of the base documents and embeddings, each
  * a near-duplicate of its base row, built the same way every time. */
class SfGenSpec extends SparkSpecBase {

  private val src = "/root/testdata/sf0.001"
  private val factor = 3

  private def base(name: String) = spark.read.parquet(s"$src/$name.parquet")

  test("family documents: factor replicas, disjoint ids, base text + token") {
    val docs = base("documents")
    val fam = SfGen.familyDocs(docs, factor)
    val n = docs.count()
    assert(fam.count() == factor * n)
    assert(fam.select("doc_id").distinct().count() == factor * n)
    val joined = fam
      .withColumn("rep", pmod(col("doc_id"), lit(factor.toLong)))
      .join(docs.select((col("doc_id") * factor).as("_base"),
          col("text").as("_text"), col("lang").as("_lang"),
          col("source").as("_source")),
        col("doc_id") - col("rep") === col("_base"))
    assert(joined.count() == factor * n)
    assert(joined.filter(
        col("text") =!= concat(col("_text"), lit(" replica token "),
          col("rep").cast("string")) ||
        col("n_chars") =!= length(col("text")) ||
        !col("lang").eqNullSafe(col("_lang")) ||
        !col("source").eqNullSafe(col("_source"))).count() == 0)
    def sorted(df: DataFrame) =
      df.orderBy("doc_id").collect().toSeq
    assert(sorted(SfGen.familyDocs(docs, factor)) == sorted(fam))
  }

  test("family embeddings: factor replicas, disjoint ids, (rep % 7)·1e-4 offsets") {
    val emb = base("embeddings")
    def rows(df: DataFrame) =
      df.orderBy("vec_id").collect().map(r =>
        (r.getLong(0), r.getSeq[Float](1), r.getInt(2))).toSeq
    val baseRows = rows(emb).map(r => r._1 -> r).toMap
    val fam = rows(SfGen.familyEmbeddings(emb, factor))
    assert(fam.length == factor * baseRows.size)
    assert(fam.map(_._1).distinct.length == fam.length)
    fam.foreach { case (id, vec, label) =>
      val rep = id % factor
      val (_, bv, bl) = baseRows(id / factor)
      assert(label == bl)
      assert(vec == bv.map(_ + (rep % 7).toFloat * 1e-4f), s"vec_id $id")
    }
    assert(rows(SfGen.familyEmbeddings(emb, factor)) == fam)
  }
}
