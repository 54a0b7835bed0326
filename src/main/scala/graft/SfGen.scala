package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dev utility: synthesize a LARGER scale factor from /root/testdata/sf0.1
  * so the full registry can run once at ~sf1 (VERDICT r11 item 2 — answer
  * the 100× question empirically, not by plan-reading). The source data is
  * read-only, so the scaled tables land under an output dir (default
  * /tmp/sf1). Construction, per table family:
  *
  *  - region/nation: copied verbatim (fixed dimensions at every sf).
  *  - customer/supplier/part/orders/lineitem: `factor`× replicas with
  *    every primary AND foreign key remapped `k*factor + rep`, so join
  *    degree distributions (lines per order, orders per customer…) are
  *    EXACTLY the sf0.1 ones; nation keys stay in 0..24.
  *  - events: replicated with event_id/user_id remapped — factor× events
  *    over factor× users in the same one-month span.
  *  - documents: factor× FRESH texts in the generator's own style
  *    (bag-of-words over the observed 31-token vocabulary), NOT mutated
  *    replicas — appending a replica token would plant factor-sized
  *    near-duplicate families and the pair-output growth would masquerade
  *    as a scaling cliff (`--families` builds that shape on purpose).
  *    Token count / lang / source are inherited from the
  *    base doc, so the marginal distributions match sf0.1 exactly; token
  *    picks are md5-derived, deterministic, and distinct across docs.
  *  - embeddings: factor× fresh label-centered vectors (centroid per
  *    label + bounded md5 noise) — clusterable like the original for the
  *    IVF/PQ paths without planting cosine-near-dup pairs.
  *
  * `--skew` (VERDICT r12 item 1): the uniform-replica construction
  * preserves sf0.1's degree distributions exactly, which dodges the one
  * 100 TB axis that actually kills jobs — HOT KEYS. Skew mode layers
  * deterministic md5-derived redirects on top of the standard remap:
  *
  *  - lineitem: 25% of rows redirect l_partkey to a log-uniform rank in
  *    [10, 10010) (pmf ∝ 1/r — a Zipf/preferential-attachment part
  *    popularity: the rank-1 part absorbs ~7.5% of redirected rows, so
  *    the co-purchase graph grows genuine power-law hubs); 10% of rows
  *    redirect l_orderkey the same way (super-orders with tens of
  *    thousands of lines — the per-order pair-explosion stress).
  *  - events: 25% of events redirect user_id to a log-uniform rank in
  *    [10, 1010) (the hottest user absorbs ~2.5% of ALL events —
  *    sessionize/window/markov state stress).
  *
  * Redirect targets are ids that exist in the remapped dimension tables,
  * so referential joins stay valid. Everything else is identical to the
  * uniform build — measured deltas between /tmp/sf1 and /tmp/sf1skew are
  * attributable to skew alone.
  *
  * `--families`: the planted-family corpus, the near-dup operators' scale
  * stress. Documents and embeddings become [[familyDocs]] and
  * [[familyEmbeddings]] replicas of the base rows (every replica of a base
  * row is a near-duplicate of every other); every other table is the
  * standard build. The registry's own queries then run on it through
  * `graft.Bench`.
  *
  * Run: `sbt "runMain graft.SfGen [/tmp/sf1] [10] [--skew|--families]"`. */
object SfGen {

  /** The `--families` documents: `factor` replicas of each base document,
    * `doc_id*factor + rep`, the text with `" replica token <rep>"`
    * appended and `n_chars` its length; lang and source are the base's. */
  def familyDocs(docs: DataFrame, factor: Int): DataFrame = {
    val text = concat(col("text"), lit(" replica token "),
      col("rep").cast("string"))
    replicas(docs, factor).select(
      (col("doc_id") * factor + col("rep")).as("doc_id"), text.as("text"),
      col("lang"), col("source"), length(text).cast("long").as("n_chars"))
  }

  /** The `--families` embeddings: `factor` replicas of each base vector,
    * `vec_id*factor + rep`, every component offset by `(rep % 7)·1e-4`
    * (in float); the label is the base's. */
  def familyEmbeddings(emb: DataFrame, factor: Int): DataFrame =
    replicas(emb, factor).select(
      (col("vec_id") * factor + col("rep")).as("vec_id"),
      transform(col("embedding"),
        x => x + (col("rep") % 7).cast("float") * 1e-4f).as("embedding"),
      col("label"))

  /** Each row of `df` `factor` times, with its replica index `rep`. */
  private def replicas(df: DataFrame, factor: Int): DataFrame = df.crossJoin(
    df.sparkSession.range(factor.toLong).withColumnRenamed("id", "rep"))

  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "/tmp/sf1"
    val factor = if (args.length > 1) args(1).toInt else 10
    val mode = args.lift(2)
    require(mode.forall(Set("--skew", "--families")),
      s"unknown mode ${mode.get}: expected --skew or --families")
    val skew = mode.contains("--skew")
    val src = "/root/testdata/sf0.1"
    val spark = Sessions.local(defaultCpus = 32)

    def read(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[sfgen] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }
    def reps(df: DataFrame): DataFrame = replicas(df, factor)
    def remap(c: String) = (col(c) * factor + col("rep")).as(c)
    // md5-derived U[0,1) and log-uniform rank (pmf ∝ 1/r, Zipf α=1) for
    // the skew redirects — row-local, deterministic, partition-invariant.
    def mdu(tag: String, cols: Column*): Column =
      conv(substring(md5(concat_ws(":", (lit(tag) +: cols): _*)), 1, 8),
        16, 10).cast("long").cast("double") / 4294967296.0
    def hotRank(tag: String, maxRank: Int, cols: Column*): Column =
      floor(pow(lit(maxRank.toDouble), mdu(tag, cols: _*))).cast("long") + 10

    write(read("region"), "region")
    write(read("nation"), "nation")
    write(reps(read("customer")).select(remap("c_custkey"), col("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")), "customer")
    write(reps(read("supplier")).select(remap("s_suppkey"), col("s_name"),
      col("s_nationkey"), col("s_acctbal")), "supplier")
    write(reps(read("part")).select(remap("p_partkey"), col("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice")),
      "part")
    write(reps(read("orders")).select(remap("o_orderkey"), remap("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")), "orders")
    val liBase = reps(read("lineitem")).select(remap("l_orderkey"),
      remap("l_partkey"), remap("l_suppkey"), col("l_linenumber"),
      col("l_quantity"), col("l_extendedprice"), col("l_discount"),
      col("l_tax"), col("l_returnflag"), col("l_linestatus"),
      col("l_shipdate"))
    val li = if (!skew) liBase else liBase
      .withColumn("l_partkey",
        when(mdu("ps", col("l_orderkey"), col("l_linenumber")) < 0.25,
          hotRank("pr", 10000, col("l_orderkey"), col("l_linenumber")))
          .otherwise(col("l_partkey")))
      .withColumn("l_orderkey",
        when(mdu("os", col("l_orderkey"), col("l_linenumber")) < 0.10,
          hotRank("or", 10000, col("l_orderkey"), col("l_linenumber")))
          .otherwise(col("l_orderkey")))
    write(li, "lineitem")
    val evBase = reps(read("events")).select(remap("event_id"), col("ts"),
      remap("user_id"), col("event_type"), col("value"), col("props"))
    val ev = if (!skew) evBase else evBase
      .withColumn("user_id",
        when(mdu("us", col("event_id")) < 0.25,
          hotRank("ur", 1000, col("event_id")))
          .otherwise(col("user_id")))
    write(ev, "events")

    if (mode.contains("--families")) {
      write(familyDocs(read("documents"), factor), "documents")
      write(familyEmbeddings(read("embeddings"), factor), "embeddings")
    } else {
      // Fresh same-style documents: md5-derived picks from the observed
      // vocabulary, base doc supplies token count / lang / source.
      val vocab = read("documents")
        .select(explode(split(col("text"), " ")).as("tok"))
        .distinct().orderBy("tok").collect().map(_.getString(0))
      println(s"[sfgen] vocabulary: ${vocab.length} tokens")
      val vlit = array(vocab.map(lit).toIndexedSeq: _*)
      // expr cannot see the scala-side array literal; bind it as a column.
      val docsBound = reps(read("documents"))
        .select((col("doc_id") * factor + col("rep")).as("doc_id"),
          size(split(col("text"), " ")).as("ntok"),
          col("lang"), col("source"))
        .withColumn("_vocab", vlit)
        .withColumn("text", expr(
          s"""concat_ws(' ', transform(sequence(0, ntok - 1), d ->
                element_at(_vocab, CAST(
                  CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':',
                    CAST(d AS STRING))), 1, 8), 16, 10) AS BIGINT)
                  % ${vocab.length} + 1 AS INT))))"""))
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          length(col("text")).cast("long").as("n_chars"))
      write(docsBound, "documents")

      // Fresh label-centered embeddings: centroid(label)[d] + 0.3·noise,
      // both md5-derived in [-1, 1]; float output, labels inherited.
      val emb = reps(read("embeddings"))
        .select((col("vec_id") * factor + col("rep")).as("vec_id"), col("label"))
        .withColumn("embedding", expr(
          s"""transform(sequence(0, 63), d -> CAST(
                (CAST(conv(substring(md5(concat('c:', CAST(label AS STRING),
                   ':', CAST(d AS STRING))), 1, 8), 16, 10) AS DOUBLE)
                   / 4294967296.0 * 2.0 - 1.0)
              + 0.3 * (CAST(conv(substring(md5(concat('n:',
                   CAST(vec_id AS STRING), ':', CAST(d AS STRING))), 1, 8),
                   16, 10) AS DOUBLE) / 4294967296.0 * 2.0 - 1.0)
              AS FLOAT))"""))
        .select(col("vec_id"), col("embedding"), col("label"))
      write(emb, "embeddings")
    }

    spark.stop()
  }
}
