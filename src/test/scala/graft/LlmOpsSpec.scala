package graft

import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Similarity, TextAnalysis}

/** LLM-pipeline operator specs: planted near-duplicates must be found,
  * ANN ranking must match brute force, text metrics must be sane. */
class LlmOpsSpec extends SparkSpecBase {

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("lexical diversity: hand-counted types/hapax, Guiraud floor, " +
      "and a zero row for the empty doc") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-lexdiv").toString
    docs((1L, "a b b a c"), (2L, ""), (3L, "x x x x"))
      .repartition(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_llm_lexdiv")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getLong(6)))
    // doc 1: 5 tokens, 3 types, 1 hapax ("c"); Guiraud 3/sqrt(5) -> 1.3416.
    // doc 2: empty -> total zero row. doc 3: 4 tokens, 1 type, 0 hapax.
    assert(out.toSeq == Seq(
      (1L, 5L, 3L, 1L, 600000L, 1.3416, 200000L),
      (2L, 0L, 0L, 0L, 0L, 0.0, 0L),
      (3L, 4L, 1L, 0L, 250000L, 0.5, 0L)))
  }

  test("exact dedup groups identical texts, keeps lowest id") {
    val d = docs((1L, "alpha beta"), (2L, "alpha beta"), (3L, "gamma"))
    val groups = Dedup.exactDuplicateGroups(d, "doc_id", "text")
      .filter(col("copies") > 1).collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("keeper_id") == 1L)
    assert(groups(0).getAs[Long]("copies") == 2L)
  }

  test("minhash-lsh finds a planted near-duplicate and skips unrelated text") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val nearDup = base + " extra"
    val unrelated = "completely different words describing another topic entirely with no overlap"
    val d = docs((1L, base), (2L, nearDup), (3L, unrelated))
    val pairs = Dedup.minhashNearDuplicates(d, "doc_id", "text",
      shingleSize = 3, numPerms = 64, bands = 16, threshold = 0.5).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    assert(pairs(0).getAs[Double]("jaccard") > 0.8)
  }

  test("connected components match driver-side union-find on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val n = 200
    val edges = (0 until 150)
      .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // union-find with union-by-min: the root of each set is its min id,
    // which is exactly the component label the operator must produce
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val inGraph = edges.flatMap(e => Seq(e._1, e._2)).toSet
    val expected = inGraph.map(i => i -> find(i.toInt).toLong).toMap
    val got = Dedup.connectedComponents(
        edges.toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("components converge logarithmically on a 300-node path graph") {
    import spark.implicits._
    // worst-case diameter: a single path 0-1-2-...-299; pointer jumping
    // must label everything 0 well inside the 50-round bound
    val edges = (0L until 299L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(edges, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 300)
    assert(got.forall(_._2 == 0L))
  }

  test("distributed label propagation (non-long ids skip the driver gate)") {
    import spark.implicits._
    // String ids bypass the small-graph union-find, so these pin the
    // ITERATIVE path. A chain cut into 64-node blocks: ceil(n/64)
    // components of diameter 63. Pointer jumping doubles the label reach
    // per round and settles in ~7; one hop per round would need 63, so
    // 12 rounds tell them apart.
    val n = 1000
    val chain = (0 until n - 1).filter(i => (i + 1) % 64 != 0)
      .map(i => (f"$i%04d", f"${i + 1}%04d")).toDF("id_a", "id_b")
    val components = Dedup.connectedComponents(chain, "id_a", "id_b",
        maxIters = 12)
      .select("component").distinct().count()
    assert(components == (n + 63) / 64, "64-node-block chain")
    // The worst-case diameter in 50 rounds: zero-padded ids make
    // lexicographic min == numeric min, labels must all be "000".
    val edges = (0 until 299).map(i => (f"$i%03d", f"${i + 1}%03d"))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(edges, "id_a", "id_b")
      .collect().map(r => r.getString(0) -> r.getString(1))
    assert(got.length == 300)
    assert(got.forall(_._2 == "000"))
  }

  test("cluster dedup: singletons self-labeled, one representative per cluster") {
    import spark.implicits._
    val d = docs((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"))
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b") // {1,2,3} + singletons
    val out = Dedup.dedupByCluster(d, "doc_id", pairs)
      .select("doc_id", "component", "is_representative")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(out == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (4L, 4L, true), (5L, 5L, true)))
  }

  test("native rolling-hash expression matches the lambda fold bit-for-bit") {
    import spark.implicits._
    val p = lit(2305843009213693951L)
    def lambdaForm(text: org.apache.spark.sql.Column) =
      aggregate(TextAnalysis.tokens(text), lit(0L),
        (acc, t) => pmod(acc * 31L + pmod(xxhash64(t), p), p))
    val inputs = Seq("one two three", "one  two\tthree", "", "   ",
      "a", "reordered three two one", "x " * 500)
    val out = inputs.toDF("v").select(
        TextAnalysis.rollingHash(col("v")).as("native"),
        lambdaForm(col("v")).as("lambda"))
      .collect()
    out.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // order sensitivity survives the rewrite
    val Seq(fwd, rev) = Seq("one two three", "three two one").toDF("v")
      .select(TextAnalysis.rollingHash(col("v"))).collect().map(_.getLong(0)).toSeq
    assert(fwd != rev)
    // portable mode: same fold with md5-prefix token hashes mod 2^31-1,
    // bit-identical to its Column-API reference formulation
    def portableLambda(text: org.apache.spark.sql.Column) =
      aggregate(TextAnalysis.tokens(text), lit(0L),
        (acc, t) => pmod(acc * 31L +
          conv(substring(md5(t), 1, 7), 16, 10).cast("long"), lit(2147483647L)))
    val pout = inputs.toDF("v").select(
        TextAnalysis.rollingHashPortable(col("v")).as("native"),
        portableLambda(col("v")).as("lambda"))
      .collect()
    pout.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("hash split is deterministic and near the requested fraction") {
    import spark.implicits._
    val ids = (0L until 2000L).toDF("id")
    val labeled = ids.select(col("id"),
      graft.llm.Sampling.splitLabel(col("id"), 0.8).as("split"))
    val counts = labeled.groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("train") - 1600L) < 100) // binomial wiggle
    // repeated evaluation yields the identical assignment
    val again = ids.select(col("id"),
      graft.llm.Sampling.splitLabel(col("id"), 0.8).as("split"))
    assert(labeled.except(again).isEmpty && again.except(labeled).isEmpty)
    assert(graft.llm.Sampling.hexThreshold(0.8) == "cccccccc")
    assert(graft.llm.Sampling.hexThreshold(0.5) == "80000000")
    // trainFrac = 1.0 keeps EVERY row in train (no silent 2^-32 val leak)
    val all = ids.select(graft.llm.Sampling.splitLabel(col("id"), 1.0).as("s"))
      .filter(col("s") =!= "train").count()
    assert(all == 0L)
  }

  test("quota sampling keeps at most N per group, lowest ids first") {
    import spark.implicits._
    val df = (0L until 100L).map(i => (i, s"src${i % 3}")).toDF("id", "src")
    val out = graft.llm.Sampling.quotaPerGroup(df, "src", "id", 5)
    val byGroup = out.groupBy("src").agg(count(lit(1)).as("n"), max("id").as("mx"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(byGroup.values.forall(_._1 == 5L))
    // lowest ids win: max kept id for src0 is the 5th multiple of 3
    assert(byGroup("src0")._2 == 12L)
  }

  test("simhash: identical text distance 0; small edit small distance") {
    val fp = docs((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "a b c d e f g x")).select(Dedup.simhash(col("text")).as("fp"))
      .collect().map(_.getLong(0))
    assert(fp(0) == fp(1))
    assert(java.lang.Long.bitCount(fp(0) ^ fp(2)) <= 16)
  }

  test("jaccard shingles: exact value on known sets") {
    import spark.implicits._
    val d = Seq(("a b c", "b c d")).toDF("t1", "t2")
    val j = d.select(Dedup.jaccard(
      Dedup.shingles(col("t1"), 1), Dedup.shingles(col("t2"), 1)).as("j"))
      .head.getDouble(0)
    assert(math.abs(j - 2.0 / 4.0) < 1e-12)
  }

  test("brute-force cosine top-k ranks the query vector itself first") {
    import spark.implicits._
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)), (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)), (4L, Array(-1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(corpus, "embedding", "vec_id",
      Seq(1.0, 0.0, 0.0), 3).collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(top(0).getDouble(1) == 1.0)
  }

  test("lsh ANN returns a subset consistent with brute force on its bucket") {
    import spark.implicits._
    val corpus = (0 until 50).map(i =>
      (i.toLong, Array.tabulate(8)(j => math.sin(i * 8 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val q = (0 until 8).map(j => math.sin(j).toDouble) // = vector 0
    val top = Similarity.lshTopK(corpus, "embedding", "vec_id", q, 3, numPlanes = 4)
      .collect()
    assert(top.nonEmpty && top(0).getLong(0) == 0L && top(0).getDouble(1) == 1.0)
  }

  test("cosine near-dup finds exactly the planted scaled copies") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val base = (0 until 30).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
    // planted near-identical copies: same direction, scaled — cosine ≈ 1
    val planted = base.take(10).map { case (id, v) =>
      (id + 1000L, v.map(x => x * 1.001f)) }
    val corpus = (base ++ planted).toDF("vec_id", "embedding")
    val got = graft.llm.Similarity.cosineNearDuplicates(
        corpus, "embedding", "vec_id", threshold = 0.999, dim = 8)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0L until 10L).map(i => (i, i + 1000L)).toSet
    assert(got == expected,
      s"missing=${expected.diff(got)} extra=${got.diff(expected)}")
  }

  test("simhash near-dup pairs the planted duplicate, skips unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog while rain " +
      "falls gently on the quiet town and lights flicker in the distance"
    val d = docs((1L, base), (2L, base),
      (3L, "entirely unrelated content about spacecraft navigation systems " +
        "and orbital mechanics calculations for deep space missions"))
    val got = Dedup.simhashNearDuplicates(d, "doc_id", "text", maxDist = 3)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L)), s"got $got")
  }

  test("langid picks the language with most stopword hits; und for none") {
    val r = docs(
      (1L, "the cat and the dog is in a house"),
      (2L, "der hund und die katze ist auf ein haus"),
      (3L, "xyzzy plugh qwerty"))
      .select(TextAnalysis.langId(col("text")).as("lang"))
      .collect().map(_.getString(0))
    assert(r.toSeq == Seq("en", "de", "und"))
  }

  test("token counts and quality score bounds") {
    val d = docs((1L, "Hello, world! This is a test."))
    val row = d.select(
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.bpeishTokenCount(col("text")).as("b"),
      TextAnalysis.qualityScore(col("text")).as("q")).head
    assert(row.getAs[Int]("n") == 6)
    assert(row.getAs[Int]("b") == 9) // 6 word runs + 3 punctuation marks
    val q = row.getAs[Double]("q")
    assert(q >= 0.0 && q <= 1.0)
  }

  test("fingerprint invariant to case/punctuation/whitespace; rolling hash is not") {
    val d = docs((1L, "Hello,   World!"), (2L, "hello world"), (3L, "world hello"))
    val fps = d.select(TextAnalysis.fingerprint(col("text")).as("fp"),
      TextAnalysis.rollingHash(col("text")).as("rh")).collect()
    assert(fps(0).getString(0) == fps(1).getString(0)) // normalized-equal
    assert(fps(1).getString(0) != fps(2).getString(0)) // md5 of different bags
    assert(fps(1).getLong(1) != fps(2).getLong(1))     // order-sensitive
  }

  test("containment kernel: a repeated gram counts once per doc, as the " +
      "distributed collect_set does") {
    def run(docs: (Long, Seq[String])*) = Dedup.containmentKernel(
      docs.iterator, dfMin = 2, dfMax = 2, minScore = 0L).toSeq
    // df("a") is 2 docs, not 3 occurrences: the pair survives the cap.
    assert(run((1L, Seq("a", "a")), (2L, Seq("a"))) ==
      Seq((1L, 2L, 1L, 10000L)))
    // No doc pairs with itself.
    val wide = Dedup.containmentKernel(
      Iterator((1L, Seq("a", "a", "b")), (2L, Seq("a", "b", "c"))),
      dfMin = 2, dfMax = 8, minScore = 0L).toSeq
    assert(wide.forall { case (a, b, _, _) => a < b } && wide.nonEmpty,
      s"self-pair or no pair: $wide")
  }

  test("PqDet.nearest refuses an empty codebook") {
    intercept[IllegalArgumentException] {
      graft.llm.PqDet.nearest(Array(1L, 2L), Seq.empty)
    }
  }
}
