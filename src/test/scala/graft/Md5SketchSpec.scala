package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

/** The native md5-sketch kernels (MinhashMd5Sig / SimhashMd5Fp) must be
  * BIT-identical to the Column-aggregate formulations they replaced in
  * q_llm_minhash_eval / q_llm_simhash_eval — same md5 stream, same
  * 16/15-hex prefixes, same min/sign rules, same drop of gramless
  * docs. */
class Md5SketchSpec extends SparkSpecBase {

  private val perms = 32
  private val bits = 60

  private def gramsDf = {
    import spark.implicits._
    Seq(
      (1L, Seq("alpha beta gamma", "beta gamma delta", "zz top")),
      (2L, Seq("")), // the single-empty-gram shape shingles() emits
      (3L, Seq("alpha beta gamma")),
      (4L, Seq.empty[String]) // gramless: must DROP like the explode
    ).toDF("doc_id", "grams")
  }

  test("MinhashMd5Sig == the 32-min md5 aggregate, gramless docs drop") {
    val df = gramsDf
    val minCols = (0 until perms).map(p =>
      min(substring(md5(concat(col("gram"), lit(s"|$p"))), 1, 16)).as(s"h$p"))
    val legacy = df.select(col("doc_id"), explode(col("grams")).as("gram"))
      .groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id"),
        array((0 until perms).map(p => col(s"h$p")): _*).as("sig"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1)))
    val native = df.select(col("doc_id"),
        Bridge.column(graft.expressions.MinhashMd5Sig(
          Bridge.expression(col("grams")), perms)).as("sig"))
      .filter(col("sig").isNotNull)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[String](1)))
    assert(native.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(native.toSeq == legacy.toSeq)
  }

  test("SimhashMd5Fp == the 60-bit-sum md5 aggregate, gramless docs drop") {
    val df = gramsDf
    val bitSums = (0 until bits).map(b =>
      sum(when(expr(s"(h >> $b) & 1") === 1, 1L).otherwise(-1L)).as(s"b$b"))
    val legacy = df.select(col("doc_id"), explode(col("grams")).as("gram"))
      .select(col("doc_id"),
        conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(b =>
          when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("fp"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val native = df.select(col("doc_id"),
        Bridge.column(graft.expressions.SimhashMd5Fp(
          Bridge.expression(col("grams")), bits)).as("fp"))
      .filter(col("fp").isNotNull)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(native.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(native.toSeq == legacy.toSeq)
  }

  test("SimhashMd5Fp rejects > 60 bits at analysis, not per row") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      gramsDf.select(Bridge.column(graft.expressions.SimhashMd5Fp(
        Bridge.expression(col("grams")), 61)))
    }
    assert(e.getMessage.contains("60 bits"))
  }

  test("SimhashMd5Fp rejects bits < 1 at analysis, not per row") {
    // A negative width would fail per row (NegativeArraySizeException);
    // a zero width would give every doc the same fingerprint.
    Seq(0, -3).foreach { b =>
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        gramsDf.select(Bridge.column(graft.expressions.SimhashMd5Fp(
          Bridge.expression(col("grams")), b)))
      }
      assert(e.getMessage.contains(s"got $b"))
    }
  }
}
