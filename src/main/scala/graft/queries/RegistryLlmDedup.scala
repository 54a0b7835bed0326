package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.config.Catalog
import graft.header.HeaderDetector
import graft.io.FileReader
import graft.llm.{Decontaminate, Dedup, Index, Multimodal, Pack, SemDedup, Similarity, TextAnalysis, Urls}
import graft.operators.SmallGraph
import graft.pipeline.Ingestor
import graft.transform.Transformers

import scala.collection.immutable.ListMap

/** LLM-pipeline dedup / fingerprint / decontamination queries.
  *
  * Split from the monolithic Registry (round 13); see [[Registry]] for the
  * registration maps and conventions. */
trait RegistryLlmDedup extends RegistryMm {

  /** Documents plus exact copies (twin ids in the NEGATIVE namespace,
    * -(doc_id+1) — collision-free against real ids at ANY corpus scale;
    * an additive offset collides past its magnitude, the r15 audio-fp
    * lesson, gated by FixturePlantingSpec) — exact dedup must find
    * precisely those 50 groups. */
  protected def llmExactDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val dupes = docs.filter(col("doc_id") < 50)
      .withColumn("doc_id", -(col("doc_id") + 1))
    Dedup.exactDuplicateGroups(docs.unionByName(dupes), "doc_id", "text")
      .filter(col("copies") > 1)
      .orderBy("content_hash")
  }

  /** Token-weighted duplication inflation — the compute-cost headline a
    * dedup recipe is judged by ("how many training tokens is the corpus
    * pretending to have"): exact-duplicate clusters over the same
    * planted corpus as q_llm_exact_dedup, total vs unique token mass
    * (one representative per cluster; texts in an exact cluster are
    * identical so any member's count is the cluster's), inflation4 =
    * total·10⁴ div unique. One hash-group pass + a scalar combine —
    * the cheapest number that justifies (or kills) a dedup run before
    * anyone prices the LSH pass. */
  protected def llmDupInflation(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val dupes = docs.filter(col("doc_id") < 50)
      .withColumn("doc_id", -(col("doc_id") + 1))
    val toks = docs.unionByName(dupes)
      .select(col("doc_id"), sha2(col("text"), 256).as("h"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("ntok"))
    val clusters = toks.groupBy("h")
      .agg(count(lit(1)).as("copies"), sum(col("ntok")).as("tok_total"),
        min(col("ntok")).as("tok_unique"))
    clusters.agg(count(lit(1)).as("n_clusters"),
        sum(col("copies")).as("n_docs"),
        sum(when(col("copies") > 1, col("copies") - 1).otherwise(0L))
          .as("dup_docs"),
        sum(col("tok_total")).as("total_tokens"),
        sum(col("tok_unique")).as("unique_tokens"))
      .select(col("n_docs"), col("n_clusters"), col("dup_docs"),
        col("total_tokens"), col("unique_tokens"),
        expr("total_tokens * 10000 div unique_tokens").as("inflation4"))
  }

  /** Connected components + cluster dedup over a deterministic pair graph:
    * chain edges doc i → i+1 except across i%7==6 boundaries give
    * components of size 7 (last one truncated), so the min-label
    * propagation genuinely runs multiple rounds. The oracle derives the
    * same components arithmetically (doc_id - doc_id%7) — the EDGES are
    * synthetic; the component/representative computation under test is the
    * general operator a near-dup pipeline feeds with LSH pairs. */
  protected def llmDedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"))
    val edges = docs.filter(pmod(col("doc_id"), lit(7)) =!= 6)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      .join(docs.select(col("doc_id").as("id_b")), Seq("id_b")) // b must exist
    Dedup.dedupByCluster(docs, "doc_id", edges)
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"),
        min(col("doc_id")).as("representative"),
        sum(when(col("is_representative"), 1L).otherwise(0L)).as("n_reps"))
      .orderBy("component")
  }

  /** Quality-aware cluster dedup over the same deterministic 7-chain
    * components as [[llmDedupClusters]]: the representative is the
    * highest-quality member (tie → min id), not the min id — the policy a
    * production pipeline uses to keep the cleanest of N crawls of one
    * page. Quality is the 4dp-rounded score, so the oracle's ordering is
    * bit-identical. */
  protected def llmClusterBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
    val ids = docs.select(col("doc_id"))
    val edges = ids.filter(pmod(col("doc_id"), lit(7)) =!= 6)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      .join(ids.select(col("doc_id").as("id_b")), Seq("id_b"))
    graft.llm.Dedup.dedupByClusterBest(docs, "doc_id", "quality", edges)
      .filter(col("is_representative"))
      .select(col("component"), col("doc_id").as("representative"),
        col("quality").as("rep_quality"))
      .orderBy("component")
  }

  /** MinHash-LSH quality evaluation — the recipe-tuning loop the
    * production near-dup pipeline needs before anyone trusts a
    * (perms, bands, τ) choice at corpus scale: an md5-space MinHash
    * (min over the 16-hex-prefix of md5("gram|perm"), 32 perms in
    * 8 bands × 4 rows — md5 so the ENTIRE sketch replays in DuckDB,
    * unlike the xxhash64 production kernel) runs over the same planted
    * corpus as q_llm_minhash_neardup, and the query scores it:
    * precision4 = exact-Jaccard-verified fraction of LSH candidates,
    * recall4 = found fraction of the PLANTED truth pairs (recall
    * against planted ground truth is the honest scalable contract —
    * full-corpus truth is quadratic by definition; the q_llm_ann_recall
    * precedent), mae_est4 = mean |signature-estimated − exact| Jaccard
    * over verified candidates (the sketch-accuracy curve). Every score
    * is integer (inter·10⁴ div union; agree·10⁴ div 32). Scale shape:
    * signatures are ONE row-local md5 pass over exploded (doc, gram,
    * perm) — no shuffle until the per-(doc, perm) min; band keys are 4
    * conditional mins (no collect_list ordering hazard); the bucket
    * join is the banded-candidate contract. */
  protected def llmMinhashEval(spark: SparkSession, dir: String): DataFrame = {
    val perms = 32
    val rowsPerBand = 4
    // The eval runs on the mod-2 doc sample: recipe tuning is a
    // diagnostic, and a fixed-rate sample prices it independently of
    // corpus growth (the q_llm_knn_graph sample-modulus contract).
    val docs = t(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(2)) === 0)
    val mutated = docs.filter(col("doc_id") < 30)
      .withColumn("doc_id", -(col("doc_id") + 1))
      .withColumn("text", concat(col("text"), lit(" appended marker token")))
    // Widen BEFORE the per-doc shingle work: documents.parquet is one
    // small unsplittable file, so the scan is 1 task and the 3-gram
    // explosion would run serially (measured 3.4 s of a 9 s query at
    // sf0.1). The shuffle moves KBs of text; the shingling then uses
    // every core. On a many-file 100 TB scan the partition count
    // already exceeds the cores and this is a no-op (guide §2.5
    // "input skew: repartition immediately after the read").
    val grams = widen(docs.unionByName(mutated))
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("grams"))
      .localCheckpoint(true) // feeds signatures AND both exact-verify joins
    // Native all-perms signature kernel ([[graft.expressions.MinhashMd5Sig]],
    // r17): one md5 stream per gram computing every permutation's min
    // row-locally — no explode, no 32-aggregate shuffle, gram bytes
    // encoded once instead of per perm. Bit-identical to the
    // 32-min-aggregate formulation it replaces (Md5SketchSpec pins it;
    // the history of THAT shape vs the 19M-row explosion is in r14's
    // notes); gramless docs drop via the null filter exactly as the
    // explode dropped them.
    val sig = grams
      .select(col("doc_id"),
        org.apache.spark.sql.graftbridge.Bridge.column(
          graft.expressions.MinhashMd5Sig(
            org.apache.spark.sql.graftbridge.Bridge.expression(col("grams")),
            perms)).as("sig"))
      .filter(col("sig").isNotNull)
      .localCheckpoint(true) // feeds band keys AND the per-pair agreement
    // Band key = the band's 4 signature values comma-joined (hex is
    // fixed-width and comma-free, so key equality == tuple equality —
    // the oracle joins on the 4 columns directly).
    val bands = sig.select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, ${perms / rowsPerBand - 1}), b ->
              struct(b AS band,
                concat_ws(',', slice(sig, b * $rowsPerBand + 1,
                  $rowsPerBand)) AS key))""")).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"),
        col("bk.key").as("key"))
    val cand = bands.as("x")
      .join(bands.as("y"), Seq("band", "key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    // exact Jaccard on a pair relation: attach both gram sets, integer 4dp
    def exact(pairs: DataFrame): DataFrame = pairs
      .join(grams.select(col("doc_id").as("id_a"), col("grams").as("ga")),
        Seq("id_a"))
      .join(grams.select(col("doc_id").as("id_b"), col("grams").as("gb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("size(array_intersect(ga, gb)) * CAST(10000 AS BIGINT) " +
          "div size(array_union(ga, gb))").as("j4"))
    val candExact = exact(cand)
    val est = cand
      .join(sig.select(col("doc_id").as("id_a"), col("sig").as("sa")),
        Seq("id_a"))
      .join(sig.select(col("doc_id").as("id_b"), col("sig").as("sb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), expr(
        s"""aggregate(zip_with(sa, sb, (u, v) -> IF(u = v, 1L, 0L)),
              CAST(0 AS BIGINT), (acc, x) -> acc + x)
            * CAST(10000 AS BIGINT) div $perms""").as("est4"))
    val scored = candExact.join(est, Seq("id_a", "id_b"))
    val planted = docs.filter(col("doc_id") < 30)
      .select((-(col("doc_id") + 1)).as("id_a"), col("doc_id").as("id_b"))
    val truth = exact(planted).filter(col("j4") >= 5000)
    val hits = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
    val candAgg = scored.agg(count(lit(1)).as("n_cand"),
      sum(when(col("j4") >= 5000, 1L).otherwise(0L)).as("n_verified"),
      sum(when(col("j4") >= 5000, abs(col("est4") - col("j4")))).as("errsum"))
    val truthAgg = truth.agg(count(lit(1)).as("n_truth"))
    val hitAgg = hits.agg(count(lit(1)).as("n_hits"))
    candAgg.crossJoin(truthAgg).crossJoin(hitAgg)
      .select(col("n_cand"), col("n_verified"),
        expr("CASE WHEN n_cand = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE n_verified * 10000 div n_cand END").as("precision4"),
        col("n_truth"), col("n_hits"),
        expr("CASE WHEN n_truth = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE n_hits * 10000 div n_truth END").as("recall4"),
        expr("CASE WHEN n_verified = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE errsum div n_verified END").as("mae_est4"))
  }

  /** SimHash recipe evaluation — the Hamming-space sibling of
    * [[llmMinhashEval]]: an md5-space SimHash (60-bit fingerprint from
    * each gram's 15-hex md5 prefix; bit b = sign of Σ_grams ±1, tie → 0)
    * runs over the same planted corpus, bands the fingerprint 4 × 15 bits
    * (pigeonhole: a pair within Hamming ≤ 3 differs in at most 3 bands,
    * so it SHARES at least one — the banding is recall-complete for the
    * radius it is tuned for, and the query proves it: recall4 must be
    * 10000, pinned in RegistryNewQuerySpec), and scores candidate
    * precision at radius 3 plus the planted pairs' mean Hamming distance
    * (the mutation-displacement diagnostic). md5 so the ENTIRE sketch
    * replays in DuckDB — the production kernel (llmSimhashNearDup) stays
    * on xxhash64. All scores integer. Scale shape: fingerprints are one
    * exploded-gram aggregate (60 conditional sums, no lambda, no per-bit
    * row explosion); the bucket join is the banded-candidate contract;
    * the per-pair verify is one codegen'd bit_count(xor). The 15-bit band
    * keys are sized for the fixed-rate eval sample (the mod-2 modulus of
    * llmMinhashEval) — the production recipe widens bands with the
    * corpus. */
  protected def llmSimhashEval(spark: SparkSession, dir: String): DataFrame = {
    val bits = 60; val bandBits = 15; val nBands = 4
    val docs = t(spark, dir, "documents")
      .filter(pmod(col("doc_id"), lit(2)) === 0)
    val mutated = docs.filter(col("doc_id") < 30)
      .withColumn("doc_id", -(col("doc_id") + 1))
      .withColumn("text", concat(col("text"), lit(" appended marker token")))
    val grams = widen(docs.unionByName(mutated)) // 1-task scan, heavy shingles
      .select(col("doc_id"), Dedup.shingles(col("text"), 3).as("grams"))
    // Native all-bits fingerprint kernel ([[graft.expressions.SimhashMd5Fp]],
    // r17): one md5 per gram feeding all 60 bit votes row-locally — no
    // explode, no 60-aggregate shuffle. Bit-identical to the aggregate
    // formulation (Md5SketchSpec); gramless docs drop via the null
    // filter exactly as the explode dropped them.
    val fp = grams
      .select(col("doc_id"),
        org.apache.spark.sql.graftbridge.Bridge.column(
          graft.expressions.SimhashMd5Fp(
            org.apache.spark.sql.graftbridge.Bridge.expression(col("grams")),
            bits)).as("fp"))
      .filter(col("fp").isNotNull)
      .localCheckpoint(true) // feeds band keys AND both Hamming verifies
    val bandRows = fp.select(col("doc_id"), posexplode(array(
        (0 until nBands).map(j =>
          expr(s"(fp >> ${j * bandBits}) & ${(1 << bandBits) - 1}")): _*))
      .as(Seq("band", "key")))
    val cand = bandRows.as("x").join(bandRows.as("y"), Seq("band", "key"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    def ham(pairs: DataFrame): DataFrame = pairs
      .join(fp.select(col("doc_id").as("id_a"), col("fp").as("fa")),
        Seq("id_a"))
      .join(fp.select(col("doc_id").as("id_b"), col("fp").as("fb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("CAST(bit_count(fa ^ fb) AS BIGINT)").as("ham"))
    val scored = ham(cand)
    val planted = docs.filter(col("doc_id") < 30)
      .select((-(col("doc_id") + 1)).as("id_a"), col("doc_id").as("id_b"))
    val ph = ham(planted).localCheckpoint(true) // truth + mean-distance
    val truth = ph.filter(col("ham") <= 3).select("id_a", "id_b")
    val hits = truth.join(cand, Seq("id_a", "id_b"), "left_semi")
    val candAgg = scored.agg(count(lit(1)).as("n_cand"),
      sum(when(col("ham") <= 3, 1L).otherwise(0L)).as("n_within3"))
    val truthAgg = truth.agg(count(lit(1)).as("n_truth"))
    val hitAgg = hits.agg(count(lit(1)).as("n_hits"))
    val plantAgg = ph.agg(count(lit(1)).as("n_planted"),
      sum(col("ham")).as("hamsum"))
    candAgg.crossJoin(truthAgg).crossJoin(hitAgg).crossJoin(plantAgg)
      .select(col("n_cand"), col("n_within3"),
        expr("CASE WHEN n_cand = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE n_within3 * 10000 div n_cand END").as("precision4"),
        col("n_truth"), col("n_hits"),
        expr("CASE WHEN n_truth = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE n_hits * 10000 div n_truth END").as("recall4"),
        expr("CASE WHEN n_planted = 0 THEN CAST(NULL AS BIGINT) " +
          "ELSE hamsum * 100 div n_planted END").as("mean_ham_x100"))
  }

  /** MinHash-LSH near-dups over documents ∪ lightly-mutated copies.
    * Deterministic seeds; verified against exact Jaccard. Not DuckDB-
    * expressible (xxhash64) → rows-only driver check. */
  protected def llmMinhashNearDup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val mutated = docs.filter(col("doc_id") < 30)
      .withColumn("doc_id", -(col("doc_id") + 1))
      .withColumn("text", concat(col("text"), lit(" appended marker token")))
    Dedup.minhashNearDuplicates(docs.unionByName(mutated), "doc_id", "text",
        shingleSize = 3, numPerms = 64, bands = 16, threshold = 0.5)
      .orderBy("id_a", "id_b")
  }

  /** SimHash near-dups over the same mutated corpus (rows-only check). */
  protected def llmSimhashNearDup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val mutated = docs.filter(col("doc_id") < 30)
      .withColumn("doc_id", -(col("doc_id") + 1))
      .withColumn("text", concat(col("text"), lit(" appended marker token")))
    Dedup.simhashNearDuplicates(docs.unionByName(mutated), "doc_id", "text", maxDist = 3)
      .orderBy("id_a", "id_b")
  }

  /** Word-2-gram Jaccard between consecutive documents — oracle-checked
    * against DuckDB list algebra. */
  protected def llmNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"), Dedup.shingles(col("text"), 2).as("grams"))
    docs.as("a").join(docs.as("b"), col("a.doc_id") + 1 === col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        Similarity.roundHalfUp(Dedup.jaccard(col("a.grams"), col("b.grams")), 4).as("jaccard"))
      .orderBy("doc_a")
  }

  /** Asymmetric containment detection — the quote/excerpt finder exact
    * Jaccard misses (a paragraph lifted into a long document scores low
    * Jaccard but containment ≈ 1; Broder 1997 distinguishes resemblance
    * from containment for exactly this). Planted mod-17 half-excerpts
    * make the target pairs known; excerpt ids live in the NEGATIVE
    * namespace (-doc_id - 1), disjoint from any real doc_id at ANY
    * corpus scale — an additive offset would collide past the offset's
    * magnitude. Scale shape: candidates come from
    * shared 5-grams under a df ∈ [2, 8] hot-gram cap (the bucketed
    * contract — boilerplate grams never explode the pair set); the
    * verify step is one array-intersect join; the score
    * (|A∩B|·10⁴) div min(|A|,|B|) is FULLY integer. */
  protected def llmContainment(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val excerpts = base.filter(pmod(col("doc_id"), lit(17)) === 0)
      .withColumn("tk", TextAnalysis.tokens(col("text")))
      .filter(size(col("tk")) >= 10)
      .select((-col("doc_id") - 1).as("doc_id"),
        concat_ws(" ", expr("slice(tk, 1, greatest(size(tk) div 2, 5))"))
          .as("text"))
    // COST gate (SmallGraph): postings, hot-gram cap, candidate pairs
    // and the integer containment verify in ONE executor task (the
    // distributed chain below is an eager shingle checkpoint + groupBy
    // + pair explode + two verify joins); identical gram sets, caps and
    // truncating score. Distributed shape unchanged — the 100 TB path.
    SmallGraph.route(base.unionAll(excerpts), Seq("doc_id"),
        cols = Seq(col("doc_id"), Dedup.shingles(col("text"), 5)))(
        Dedup.containmentKernel(_, dfMin = 2, dfMax = 8, minScore = 8000L),
        "doc_a", "doc_b", "n_common", "containment4") { docs =>
      val corpus = widen(docs) // 1-task scan, heavy shingles
        .select(col("doc_id"), Dedup.shingles(col("text"), 5).as("grams"))
        .localCheckpoint(true) // feeds the bucket explode AND the verify join
      val gd = corpus.select(col("doc_id"), explode(col("grams")).as("gr"))
      val buckets = gd.groupBy("gr")
        .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
        .filter(size(col("ds")).between(2, 8))
      val pairs = buckets.select(explode(expr(
          "flatten(transform(ds, (x, i) -> " +
            "transform(slice(ds, i + 2, size(ds)), y -> struct(x, y))))"))
          .as("e"))
        .select(col("e.x").as("da"), col("e.y").as("db")).distinct()
      pairs
        .join(corpus.select(col("doc_id").as("da"), col("grams").as("ga")),
          Seq("da"))
        .join(corpus.select(col("doc_id").as("db"), col("grams").as("gb")),
          Seq("db"))
        .select(col("da").as("doc_a"), col("db").as("doc_b"),
          size(array_intersect(col("ga"), col("gb"))).cast("long")
            .as("n_common"),
          expr("(size(array_intersect(ga, gb)) * 10000)" +
            " div least(size(ga), size(gb))").as("containment4"))
        .filter(col("containment4") >= 8000)
    }.orderBy("doc_a", "doc_b")
  }

  // ------------------------------------------------ LLM-pipeline: similarity

  /** URL canonicalization over messy URLs derived deterministically from
    * the documents table — uppercase scheme/host, www prefix, default
    * ports, tracking params, unsorted params, trailing slashes, fragments
    * all exercised; canonical form is hash-compared against the identical
    * rule set mirrored in DuckDB SQL. */
  protected def llmUrlCanon(spark: SparkSession, dir: String): DataFrame = {
    val url = concat(
      when(pmod(col("doc_id"), lit(2)) === 0, lit("HTTP://WWW."))
        .otherwise(lit("https://www.")),
      col("source"), lit(".example.com"),
      when(pmod(col("doc_id"), lit(2)) === 0, lit(":80")).otherwise(lit(":443")),
      lit("/docs/"), col("doc_id").cast("string"),
      when(pmod(col("doc_id"), lit(3)) === 0, lit("/")).otherwise(lit("")),
      lit("?b=2&utm_source=feed&a=1"),
      when(pmod(col("doc_id"), lit(5)) === 0, lit("&fbclid=xyz"))
        .otherwise(lit("")),
      lit("#sec"), col("doc_id").cast("string"))
    t(spark, dir, "documents")
      .select(col("doc_id"), url.as("url"))
      .withColumn("canonical", Urls.canonicalize(col("url")))
      .orderBy("doc_id")
  }

  protected def llmFingerprint(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")

  /** Incremental exact dedup: docs with doc_id % 3 == 0 play the already-
    * ingested corpus (only their hashes are consulted); the rest arrive as
    * the new batch and are flagged within-batch-first and new-vs-history. */
  protected def llmIncrDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val seen = docs.filter(col("doc_id") % 3 === 0)
      .select(md5(col("text")).as("content_hash"))
    Dedup.incrementalExact(docs.filter(col("doc_id") % 3 =!= 0),
        "doc_id", "text", seen, "content_hash")
      .select(col("doc_id"), col("content_hash"),
        col("is_batch_representative"), col("is_new"))
      .orderBy("doc_id")
  }

  /** Leakage-safe train/eval split — the assignment step every
    * training-data pipeline needs between dedup and packing: a random
    * per-document split leaks whenever two near-duplicates straddle the
    * boundary (the eval set then scores memorization, not
    * generalization — the contamination mode decontaminate checks for
    * AFTER the fact; this op prevents it BY CONSTRUCTION). Documents
    * are assigned by connected COMPONENT over the near-dup graph, never
    * individually: split(doc) = md5(component-label) hashed 80/20, so
    * every member of a dup cluster lands on the same side at any
    * corpus scale, with no coordination beyond the component labels the
    * dedup pass already produced. Edges here are the deterministic
    * 7-chain fixture ([[llmDedupClusters]] — the general operator is
    * the assignment, which any LSH pair relation feeds); the query
    * PROVES the guarantee by counting straddling edges (must be 0) and
    * reports per-split document/component/token mass for ratio
    * monitoring. Scale shape: the component fixpoint is the shared
    * min-label propagation; split assignment is one row-local md5; the
    * leak audit re-joins the edge relation once. */
  protected def llmLeakageSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("ntok"))
    val ids = docs.select(col("doc_id"))
    val edges = ids.filter(pmod(col("doc_id"), lit(7)) =!= 6)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
      .join(ids.select(col("doc_id").as("id_b")), Seq("id_b"))
    val comp = Dedup.dedupByCluster(ids, "doc_id", edges)
      .select(col("doc_id"), col("component"))
    val assigned = comp.withColumn("split",
      when(conv(substring(md5(col("component").cast("string")), 1, 8),
          16, 10).cast("long") % 10 < 8, lit("train"))
        .otherwise(lit("eval")))
    val leak = edges
      .join(assigned.select(col("doc_id").as("id_a"), col("split").as("sa")),
        Seq("id_a"))
      .join(assigned.select(col("doc_id").as("id_b"), col("split").as("sb")),
        Seq("id_b"))
      .agg(coalesce(sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L)),
        lit(0L)).as("n_leaky_edges"))
    assigned.join(docs, Seq("doc_id"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("component")).as("n_components"),
        sum(col("ntok")).as("n_tokens"))
      .crossJoin(broadcast(leak))
      .orderBy("split")
  }

  /** C4-style sub-document span dedup: 10-token spans, first occurrence
    * corpus-wide wins, documents reassembled from surviving spans. */
  protected def llmSpanDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.dedupSpans(t(spark, dir, "documents"), "doc_id", "text",
        spanTokens = 10)
      .orderBy("doc_id")

  /** Order-sensitive rolling fingerprint in the PORTABLE variant
    * (md5-prefix token hash, 2^31-1 modulus) so DuckDB replays the exact
    * fold with list_reduce; the xxhash64 fast path stays covered by
    * LlmOpsSpec + the bit-identity spec. */
  protected def llmRollingFp(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.rollingHashPortable(col("text")).as("rolling_fp"))
      .orderBy("doc_id")

  /** Benchmark decontamination: documents with doc_id % 97 == 0 stand in
    * for the eval set; every document reports its distinct-5-gram overlap
    * count and keep/drop flag. Benchmark grams broadcast. */
  protected def llmDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    Decontaminate.contamination(docs, "doc_id", "text",
        docs.filter(pmod(col("doc_id"), lit(97)) === 0), "text", n = 5)
      .orderBy("doc_id")
  }

  /** Bloom-filter decontamination vs the exact broadcast-semi variant on
    * the same benchmark split: one summary row proving the one-sided error
    * contract — `false_negatives` MUST be 0 (Bloom never misses real
    * contamination); `false_positives` is the fpp-bounded price. Uses the
    * md5-derived filter ([[graft.llm.Decontaminate.mdBloomContamination]]),
    * so the DuckDB oracle rebuilds the identical bitset and reproduces the
    * summary EXACTLY — false positives included. */
  protected def llmBloomDecon(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val bench = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
    val exact = Decontaminate.contamination(docs, "doc_id", "text",
      bench, "text", n = 5)
    // fpp is per gram: 1e-4 × ~100 grams/doc ≈ 1% doc-level false positives
    val bloom = Decontaminate.mdBloomContamination(docs, "doc_id", "text",
      bench, "text", n = 5, fpp = 1e-4)
    exact.join(bloom, "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("contaminated"), 1L).otherwise(0L)).as("exact_hits"),
        sum(when(col("contaminated_bloom"), 1L).otherwise(0L)).as("bloom_hits"),
        sum(when(col("contaminated") && !col("contaminated_bloom"), 1L)
          .otherwise(0L)).as("false_negatives"),
        sum(when(!col("contaminated") && col("contaminated_bloom"), 1L)
          .otherwise(0L)).as("false_positives"))
  }

  /** Content-defined chunking stats per document (xxhash boundaries — not
    * DuckDB-expressible → rows-only check; invariants in CorpusOpsSpec). */
  protected def llmCdcChunks(spark: SparkSession, dir: String): DataFrame =
    Pack.cdcChunks(t(spark, dir, "documents"), "doc_id", "text", divisor = 16,
        portableBoundary = true)
      .orderBy("doc_id")

  /** CCNet-style line-level dedup over synthetic multi-line pages: every
    * page = its own text, a boilerplate banner planted on ALL pages, and a
    * footer planted on every 5th page. Line dedup must keep each planted
    * line exactly once corpus-wide (on the lowest doc id) and leave the
    * unique body lines alone. */
  protected def llmLineDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val pages = docs.select(col("doc_id"),
      concat_ws("\n", col("text"),
        lit("all rights reserved cookie consent banner"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          lit("subscribe to our newsletter for updates"))
          .otherwise(col("text"))).as("page_text"))
    Dedup.dedupLines(pages, "doc_id", "page_text").orderBy("doc_id")
  }

  /** Exact duplicated-substring regions over documents ∪ prefixed copies:
    * the copies share every interior 5-gram with their originals, so both
    * sides must report maximal duplicated regions covering the shared
    * text. Sliding-window seeds + gaps-and-islands merge, replayed
    * verbatim by the oracle. */
  protected def llmDupRegions(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"), col("text"))
    val copies = docs.filter(col("doc_id") < 40)
      .select((-(col("doc_id") + 1)).as("doc_id"),
        concat(lit("prefix marker tokens added "), col("text")).as("text"))
    graft.llm.Dedup.duplicatedSpanRegions(
        widen(docs.unionByName(copies)), "doc_id", "text", seedTokens = 5)
      .select(col("doc_id"), col("n_dup_regions"),
        col("dup_tokens").cast("long").as("dup_tokens"),
        col("longest_region").cast("long").as("longest_region"))
      .orderBy("doc_id")
  }

  /** Phrase-blocklist report: per-pattern document counts (zero-hit
    * patterns included) from ONE Aho–Corasick pass per document — the
    * plan the per-pattern `contains` oracle exists to avoid. */
  protected def llmBlocklist(spark: SparkSession, dir: String): DataFrame =
    graft.llm.Blocklist.report(t(spark, dir, "documents"), "text",
      BlocklistPatterns)

  protected val BlocklistPatterns = Seq(
    "slow query", "big table", "hash join", "merge batch", "fast scan",
    "stream window", "customer line", "vector table", "data leak",
    "gpu kernel")

  /** Bounded edit-distance self-join (deletion-neighborhood / FastSS)
    * over customer names: all pairs within Levenshtein distance 1, found
    * via shared ≤1-deletion variants instead of all pairs. Numbered
    * entity names differing in one digit are the classic fuzzy-dedup
    * target. */
  protected def llmFuzzyJoin(spark: SparkSession, dir: String): DataFrame =
    graft.operators.EditDistanceJoin.selfJoin(
        t(spark, dir, "customer").filter(col("c_custkey") <= 400),
        "c_custkey", "c_name", maxDist = 1)
      .select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"),
        col("str_a"), col("str_b"), col("dist"))
      .orderBy("id_a", "id_b")

  /** Source-pair vocabulary overlap from md5-MinHash signatures
    * (Broder 1997): each source collapses to 64 longs in one aggregation
    * pass; the DuckDB oracle rebuilds the identical signatures, so the
    * ESTIMATE (collisions included) is hash-checked, not just bounded. */
  protected def llmCorpusOverlap(spark: SparkSession, dir: String): DataFrame =
    graft.llm.CorpusSim.overlapMatrix(
      t(spark, dir, "documents"), "source", "text", n = 3, numPerms = 64)

  /** Per-doc 5-gram novelty (share of grams occurring in no other doc) —
    * the memorization-risk / boilerplate signal; two key-partitioned
    * aggs, nothing quadratic. */
  protected def llmNovelty(spark: SparkSession, dir: String): DataFrame =
    graft.llm.CorpusSim.noveltyScores(t(spark, dir, "documents"),
        "doc_id", "text", n = 5)
      .orderBy("id")

  /** Entity resolution, block-then-verify: deterministic typo variants of
    * part names (adjacent-char swap at a key-derived position ≥ 2, so
    * first char and length survive) resolve back against the entity
    * catalog by joining on the (first char, length) BLOCK — candidate
    * sets, never the cross product — and scoring candidates with the
    * native integer [[graft.expressions.JaroWinkler]] kernel; top-1 by
    * (score desc, name) is the linkage. The exact-integer score means the
    * ranking cannot drift by an ulp; the oracle replays blocking and
    * scoring with DuckDB's own jaro_winkler_similarity. */
  protected def llmErLinkage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    def jw(a: Column, b: Column): Column =
      Bridge.column(graft.expressions.JaroWinkler(
        Bridge.expression(a), Bridge.expression(b)))
    val names = t(spark, dir, "part")
      .select(col("p_name").as("name")).distinct()
      .select(col("name"), substring(col("name"), 1, 1).as("blk"),
        length(col("name")).as("len"))
    val variants = t(spark, dir, "part")
      .filter(col("p_partkey") < 500)
      .select(col("p_partkey"), col("p_name").as("orig"),
        (lit(2) + pmod(col("p_partkey"), length(col("p_name")) - 2))
          .cast("int").as("i"))
      .select(col("p_partkey"), col("orig"),
        concat(
          col("orig").substr(lit(1), col("i") - 1),
          col("orig").substr(col("i") + 1, lit(1)),
          col("orig").substr(col("i"), lit(1)),
          col("orig").substr(col("i") + 2, length(col("orig"))))
          .as("variant"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("p_partkey")
      .orderBy(col("sim4").desc, col("name"))
    variants
      .select(col("p_partkey"), col("variant"),
        substring(col("variant"), 1, 1).as("blk"),
        length(col("variant")).as("len"))
      .join(names, Seq("blk", "len"))
      .select(col("p_partkey"), col("variant"), col("name"),
        jw(col("variant"), col("name")).as("sim4"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("p_partkey"), col("variant"),
        col("name").as("best_name"), col("sim4"))
      .orderBy("p_partkey")
  }

  /** Robust winnowing fingerprints (MOSS), k-gram=3 / window=4, over a
    * bounded doc slice — position-aware overlap sketch; the oracle
    * replays the packed argmin window min-for-min. */
  protected def llmWinnow(spark: SparkSession, dir: String): DataFrame =
    graft.llm.Winnow.fingerprints(
        t(spark, dir, "documents").filter(col("doc_id") < 100),
        "doc_id", "text", k = 3, w = 4)
      .orderBy("doc_id", "pos", "fp")

  /** MOSS overlap pairs over winnowed fingerprints (plus two planted
    * plagiarized docs: each copies a 12-word midsection of a base doc,
    * so real overlaps exist on the otherwise pairwise-distinct corpus).
    * Hot fingerprints (df > 50) drop before the pair join. */
  protected def llmWinnowPairs(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "documents").filter(col("doc_id") < 300)
      .select(col("doc_id"), col("text"))
    val planted = base.filter(col("doc_id").isin(7L, 11L))
      .select((-(col("doc_id") + 1)).as("doc_id"),
        concat_ws(" ",
          slice(split(trim(col("text")), "\\s+"), 5, 12),
          lit("fresh tail content entirely new")).as("text"))
    graft.llm.Winnow.overlapPairs(base.unionByName(planted),
        "doc_id", "text", k = 3, w = 4, maxDf = 50, minShared = 3)
      .orderBy("id_a", "id_b")
  }

  /** MOSS locate-the-overlap: for the winnow_pairs corpus (base docs +
    * two planted plagiarized copies), WHERE the shared material sits in
    * each document of an overlapping pair — min/max selected-fingerprint
    * positions per side ([[graft.llm.Winnow.overlapSpans]]). Completes
    * the plagiarism-detection story: pairs says who, this says where. */
  protected def llmWinnowLocate(spark: SparkSession, dir: String): DataFrame = {
    val base = t(spark, dir, "documents").filter(col("doc_id") < 300)
      .select(col("doc_id"), col("text"))
    val planted = base.filter(col("doc_id").isin(7L, 11L))
      .select((-(col("doc_id") + 1)).as("doc_id"),
        concat_ws(" ",
          slice(split(trim(col("text")), "\\s+"), 5, 12),
          lit("fresh tail content entirely new")).as("text"))
    graft.llm.Winnow.overlapSpans(base.unionByName(planted),
        "doc_id", "text", k = 3, w = 4, maxDf = 50, minShared = 3)
      .orderBy("id_a", "id_b")
  }

  protected val llmDedupOracleSql: ListMap[String, String] = ListMap(
    // Component labels are the min member id = the 7-block start
    // (doc_id - doc_id % 7, the llmDedupClusters arithmetic oracle);
    // the split hash replays md5 via the '0x'||substr cast, and the
    // leak audit re-derives the same edge relation.
    "q_llm_leakage_split" ->
      """WITH docs AS (SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS ntok
           FROM documents),
         comp AS (SELECT doc_id, doc_id - (doc_id % 7) AS component
           FROM docs),
         a AS (SELECT doc_id, component,
             CASE WHEN ('0x' || substr(md5(CAST(component AS VARCHAR)),
                 1, 8))::BIGINT % 10 < 8
               THEN 'train' ELSE 'eval' END AS split
           FROM comp),
         e AS (SELECT x.doc_id AS id_a, x.doc_id + 1 AS id_b
           FROM docs x
           WHERE x.doc_id % 7 <> 6
             AND EXISTS (SELECT 1 FROM docs y
                         WHERE y.doc_id = x.doc_id + 1)),
         leak AS (SELECT COALESCE(CAST(sum(CASE WHEN sa.split <> sb.split
                 THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_leaky_edges
           FROM e JOIN a sa ON sa.doc_id = e.id_a
             JOIN a sb ON sb.doc_id = e.id_b)
         SELECT a.split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT a.component) AS BIGINT) AS n_components,
           CAST(sum(d.ntok) AS BIGINT) AS n_tokens, leak.n_leaky_edges
         FROM a JOIN docs d USING (doc_id), leak
         GROUP BY a.split, leak.n_leaky_edges
         ORDER BY split""",
    "q_llm_dup_inflation" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT -(doc_id + 1), text FROM documents WHERE doc_id < 50),
         tks AS (SELECT sha256(text) AS h,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS ntok
           FROM corpus),
         cl AS (SELECT h, CAST(count(*) AS BIGINT) AS copies,
             CAST(sum(ntok) AS BIGINT) AS tok_total,
             min(ntok) AS tok_unique
           FROM tks GROUP BY h)
         SELECT CAST(sum(copies) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(CASE WHEN copies > 1 THEN copies - 1 ELSE 0 END)
             AS BIGINT) AS dup_docs,
           CAST(sum(tok_total) AS BIGINT) AS total_tokens,
           CAST(sum(tok_unique) AS BIGINT) AS unique_tokens,
           CAST(sum(tok_total) AS BIGINT) * 10000
             // CAST(sum(tok_unique) AS BIGINT) AS inflation4
         FROM cl""",
    // Full sketch replay: same md5-space minhash (16-hex prefix, string
    // min), same 8×4 banding via conditional mins, same integer Jaccard
    // and agreement scores.
    "q_llm_minhash_eval" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
           UNION ALL
           SELECT -(doc_id + 1), text || ' appended marker token'
           FROM documents WHERE doc_id < 30 AND doc_id % 2 = 0),
         tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                FROM corpus),
         g AS (SELECT doc_id,
                 CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                      ELSE list_distinct(list_transform(range(1, len(t) - 1),
                             i -> array_to_string(t[i:i+2], ' '))) END
                   AS grams
               FROM tk),
         sig AS (SELECT doc_id, p.p,
             min(substr(md5(gram || '|' || CAST(p.p AS VARCHAR)), 1, 16))
               AS mh
           FROM (SELECT doc_id, unnest(grams) AS gram FROM g) eg,
             (SELECT unnest(generate_series(0, 31)) AS p) p
           GROUP BY 1, 2),
         bands AS (SELECT doc_id, p // 4 AS band,
             min(CASE WHEN p % 4 = 0 THEN mh END) AS m0,
             min(CASE WHEN p % 4 = 1 THEN mh END) AS m1,
             min(CASE WHEN p % 4 = 2 THEN mh END) AS m2,
             min(CASE WHEN p % 4 = 3 THEN mh END) AS m3
           FROM sig GROUP BY 1, 2),
         cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM bands x JOIN bands y
             ON x.band = y.band AND x.m0 = y.m0 AND x.m1 = y.m1
               AND x.m2 = y.m2 AND x.m3 = y.m3
           WHERE x.doc_id < y.doc_id),
         ce AS (SELECT c.id_a, c.id_b,
             CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) * 10000
               // CAST(len(list_distinct(list_concat(a.grams, b.grams)))
                    AS BIGINT) AS j4
           FROM cand c JOIN g a ON c.id_a = a.doc_id
             JOIN g b ON c.id_b = b.doc_id),
         est AS (SELECT c.id_a, c.id_b,
             CAST(sum(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)
               AS BIGINT) * 10000 // 32 AS est4
           FROM cand c JOIN sig sa ON c.id_a = sa.doc_id
             JOIN sig sb ON c.id_b = sb.doc_id AND sa.p = sb.p
           GROUP BY 1, 2),
         scored AS (SELECT ce.j4, est.est4 FROM ce
           JOIN est ON ce.id_a = est.id_a AND ce.id_b = est.id_b),
         planted AS (SELECT -(doc_id + 1) AS id_a, doc_id AS id_b
           FROM documents WHERE doc_id < 30 AND doc_id % 2 = 0),
         truth AS (SELECT p.id_a, p.id_b
           FROM planted p JOIN g a ON p.id_a = a.doc_id
             JOIN g b ON p.id_b = b.doc_id
           WHERE CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT)
             * 10000 // CAST(len(list_distinct(list_concat(a.grams,
                 b.grams))) AS BIGINT) >= 5000),
         ca AS (SELECT CAST(count(*) AS BIGINT) AS n_cand,
             CAST(sum(CASE WHEN j4 >= 5000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_verified,
             CAST(sum(CASE WHEN j4 >= 5000 THEN abs(est4 - j4) END)
               AS BIGINT) AS errsum
           FROM scored),
         ta AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
         ha AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
           FROM truth t SEMI JOIN cand c
             ON t.id_a = c.id_a AND t.id_b = c.id_b)
         SELECT n_cand, n_verified,
           CASE WHEN n_cand = 0 THEN CAST(NULL AS BIGINT)
                ELSE n_verified * 10000 // n_cand END AS precision4,
           n_truth, n_hits,
           CASE WHEN n_truth = 0 THEN CAST(NULL AS BIGINT)
                ELSE n_hits * 10000 // n_truth END AS recall4,
           CASE WHEN n_verified = 0 THEN CAST(NULL AS BIGINT)
                ELSE errsum // n_verified END AS mae_est4
         FROM ca, ta, ha""",
    // Full md5-SimHash replay: per-gram 60-bit hashes, per-bit sign sums,
    // fingerprint assembly, 4x15-bit banding, bit_count(xor) Hamming.
    "q_llm_simhash_eval" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
           UNION ALL
           SELECT -(doc_id + 1), text || ' appended marker token'
           FROM documents WHERE doc_id < 30 AND doc_id % 2 = 0),
         tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                FROM corpus),
         g AS (SELECT doc_id,
                 CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                      ELSE list_distinct(list_transform(range(1, len(t) - 1),
                             i -> array_to_string(t[i:i+2], ' '))) END
                   AS grams
               FROM tk),
         hh AS (SELECT doc_id,
             CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS h
           FROM (SELECT doc_id, unnest(grams) AS gram FROM g)),
         bs AS (SELECT doc_id, b.b,
             CAST(sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END)
               AS BIGINT) AS s
           FROM hh, (SELECT unnest(range(60)) AS b) b GROUP BY 1, 2),
         fp AS (SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b)
               ELSE 0 END) AS BIGINT) AS fp
           FROM bs GROUP BY 1),
         br AS (SELECT doc_id, j.j AS band,
             (fp >> (j.j * 15)) & 32767 AS key
           FROM fp, (SELECT unnest(range(4)) AS j) j),
         cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           FROM br x JOIN br y ON x.band = y.band AND x.key = y.key
           WHERE x.doc_id < y.doc_id),
         sc AS (SELECT c.id_a, c.id_b,
             CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS ham
           FROM cand c JOIN fp a ON c.id_a = a.doc_id
             JOIN fp b ON c.id_b = b.doc_id),
         planted AS (SELECT -(doc_id + 1) AS id_a, doc_id AS id_b
           FROM documents WHERE doc_id < 30 AND doc_id % 2 = 0),
         ph AS (SELECT p.id_a, p.id_b,
             CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS ham
           FROM planted p JOIN fp a ON p.id_a = a.doc_id
             JOIN fp b ON p.id_b = b.doc_id),
         truth AS (SELECT id_a, id_b FROM ph WHERE ham <= 3),
         ca AS (SELECT CAST(count(*) AS BIGINT) AS n_cand,
             CAST(sum(CASE WHEN ham <= 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_within3
           FROM sc),
         ta AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),
         ha AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
           FROM truth t SEMI JOIN cand c
             ON t.id_a = c.id_a AND t.id_b = c.id_b),
         pa AS (SELECT CAST(count(*) AS BIGINT) AS n_planted,
             CAST(sum(ham) AS BIGINT) AS hamsum FROM ph)
         SELECT n_cand, n_within3,
           CASE WHEN n_cand = 0 THEN CAST(NULL AS BIGINT)
                ELSE n_within3 * 10000 // n_cand END AS precision4,
           n_truth, n_hits,
           CASE WHEN n_truth = 0 THEN CAST(NULL AS BIGINT)
                ELSE n_hits * 10000 // n_truth END AS recall4,
           CASE WHEN n_planted = 0 THEN CAST(NULL AS BIGINT)
                ELSE hamsum * 100 // n_planted END AS mean_ham_x100
         FROM ca, ta, ha, pa""",
    // Aho–Corasick substring semantics == per-pattern `contains`; the
    // oracle runs the O(|text|·|patterns|) plan the automaton avoids.
    "q_llm_blocklist" ->
      """WITH p(pattern) AS (VALUES ('slow query'), ('big table'),
           ('hash join'), ('merge batch'), ('fast scan'), ('stream window'),
           ('customer line'), ('vector table'), ('data leak'), ('gpu kernel')),
         n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
         c AS (SELECT pattern,
                 CAST(SUM(CASE WHEN contains(d.text, p.pattern)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_matched
               FROM p, documents d GROUP BY pattern)
         SELECT pattern, n_docs_matched,
           floor(n_docs_matched / (SELECT nd FROM n) * 10000 + 0.5) / 10000
             AS doc_frac
         FROM c ORDER BY pattern""",
    // Deliberately BRUTE FORCE: the oracle is the ground truth the
    // prefix filter must reproduce, so a filter that drops a true pair
    // fails the hash — completeness is checked, not replayed.
    "q_llm_fuzzy_join" ->
      """WITH s AS (SELECT c_custkey AS id, c_name AS str FROM customer
                    WHERE c_custkey <= 400)
         SELECT CAST(a.id AS BIGINT) AS id_a, CAST(b.id AS BIGINT) AS id_b,
           a.str AS str_a, b.str AS str_b,
           CAST(levenshtein(a.str, b.str) AS BIGINT) AS dist
         FROM s a JOIN s b ON a.id < b.id
         WHERE levenshtein(a.str, b.str) <= 1
         ORDER BY id_a, id_b""",
    // Novelty replay: per-doc distinct 5-grams (same short-doc joined-
    // remainder contract), corpus df, df==1 share floor-rounded to 4dp.
    "q_llm_novelty" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                     FROM documents),
         g AS (SELECT DISTINCT doc_id AS id,
                 unnest(CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
                   ELSE list_distinct(list_transform(range(1, len(t) - 3),
                          i -> array_to_string(t[i:i+4], ' '))) END) AS gram
               FROM tk),
         f AS (SELECT gram, count(*) AS df FROM g GROUP BY gram)
         SELECT id, CAST(count(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           floor(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE) * 10000 + 0.5) / 10000 AS novelty
         FROM g JOIN f USING (gram) GROUP BY id ORDER BY id""",
    // Full md5-MinHash replay: identical 52-bit component hashes, so the
    // signature minima — and therefore the overlap ESTIMATE, collisions
    // included — must agree bit for bit.
    "q_llm_corpus_overlap" ->
      """WITH tk AS (SELECT source, string_split_regex(trim(text), '\s+') AS t
                     FROM documents),
         g AS (SELECT DISTINCT source AS grp,
                 unnest(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')]
                   ELSE list_distinct(list_transform(range(1, len(t) - 1),
                          i -> array_to_string(t[i:i+2], ' '))) END) AS gram
               FROM tk),
         h AS (SELECT grp, j,
                 min(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || gram),
                   1, 13))::BIGINT) AS mh
               FROM g, range(64) r(j) GROUP BY grp, j),
         pr AS (SELECT a.grp AS src_a, b.grp AS src_b,
                  CAST(SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_agree
                FROM h a JOIN h b ON a.j = b.j AND a.grp < b.grp
                GROUP BY 1, 2)
         SELECT src_a, src_b, n_agree,
           floor(n_agree / 64.0 * 10000 + 0.5) / 10000 AS jaccard_est
         FROM pr ORDER BY src_a, src_b""",
    // Full replay of the md5-Bloom decontamination summary: DuckDB
    // rebuilds the exact bitset (same sizing formulas, same md5 position
    // arithmetic) and reproduces the membership answers INCLUDING the
    // false positives — the summary counts must match bit for bit.
    "q_llm_bloom_decon" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                     FROM documents),
         g AS (SELECT doc_id,
                 CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
                      ELSE list_distinct(list_transform(range(1, len(t) - 3),
                             i -> array_to_string(t[i:i+4], ' '))) END AS grams
               FROM tk),
         bg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
         pr AS (SELECT CAST(greatest(cnt, 1) AS DOUBLE) AS ng,
                  CAST(ceil(-CAST(greatest(cnt, 1) AS DOUBLE) * ln(0.0001)
                    / (ln(2) * ln(2))) AS BIGINT) AS m
                FROM (SELECT count(*) AS cnt FROM bg)),
         kp AS (SELECT ng, m,
                  greatest(1, CAST(floor(CAST(m AS DOUBLE) / ng * ln(2) + 0.5)
                    AS BIGINT)) AS k
                FROM pr),
         pos AS (SELECT DISTINCT
                   ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || gram), 1, 13))::BIGINT
                     % m AS p
                 FROM bg, kp, range(64) r(j) WHERE j < k),
         dg AS (SELECT DISTINCT doc_id, unnest(grams) AS gram FROM g),
         dp AS (SELECT doc_id, gram,
                  ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || gram), 1, 13))::BIGINT
                    % m AS p
                FROM dg, kp, range(64) r(j) WHERE j < k),
         bdoc AS (SELECT DISTINCT doc_id FROM (
                    SELECT doc_id, gram FROM dp JOIN pos USING (p)
                    GROUP BY doc_id, gram HAVING count(*) = (SELECT k FROM kp))),
         hits AS (SELECT DISTINCT dg.doc_id FROM dg JOIN bg USING (gram))
         SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS exact_hits,
           CAST(SUM(CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS bloom_hits,
           CAST(SUM(CASE WHEN h.doc_id IS NOT NULL AND b.doc_id IS NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS false_negatives,
           CAST(SUM(CASE WHEN h.doc_id IS NULL AND b.doc_id IS NOT NULL
                THEN 1 ELSE 0 END) AS BIGINT) AS false_positives
         FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
                          LEFT JOIN bdoc b ON d.doc_id = b.doc_id""",
    // FULL replay of the banded simhash near-dup pass INCLUDING the
    // maxBucket=1000 hot-bucket cap (round 15: the sf1 oracle sweep
    // caught the old exhaustive-pairs oracle diverging once 16-bit band
    // buckets exceed the cap at 50k docs — the cap is the documented
    // 100 TB contract, so the oracle now replays it: band postings in
    // over-cap buckets are dropped on BOTH sides). Recall at Hamming ≤ 3
    // is pigeonhole-guaranteed (4 bands, ≤3 differing bits ⇒ one band
    // untouched) for docs whose shared band survives the cap.
    // Fingerprints replay exactly: md5 high/low 32-bit halves vote ±1
    // per bit; -9223372036854775807-1 is bit 63 (1<<63 overflows
    // DuckDB's checked shift); (fp >> 16j) & 65535 reads band j of the
    // signed fp (arithmetic-shift fill sits above the mask).
    "q_llm_simhash_neardup" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT -(doc_id + 1), text || ' appended marker token'
           FROM documents WHERE doc_id < 30),
         tok AS (SELECT doc_id,
               unnest(CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                      ELSE string_split_regex(trim(text), '\s+') END) AS t
             FROM corpus),
         h AS (SELECT doc_id,
                 ('0x' || substr(md5(t), 1, 8))::BIGINT AS hi,
                 ('0x' || substr(md5(t), 9, 8))::BIGINT AS lo
               FROM tok),
         v AS (SELECT doc_id, j,
                 SUM(CASE WHEN ((CASE WHEN j < 32 THEN lo ELSE hi END)
                       >> CAST(j % 32 AS INT)) & 1 = 1
                     THEN 1 ELSE -1 END) AS s
               FROM h, (SELECT unnest(range(64)) AS j) bits
               GROUP BY doc_id, j),
         fp AS (SELECT doc_id,
                  CAST(SUM(CASE WHEN s > 0 THEN
                      CASE WHEN j = 63 THEN -9223372036854775807 - 1
                           ELSE (CAST(1 AS BIGINT) << CAST(j AS INT)) END
                      ELSE 0 END) AS BIGINT) AS fp
                FROM v GROUP BY doc_id),
         bands AS (SELECT doc_id, fp, j AS band_idx,
                  (fp >> CAST(j * 16 AS INT)) & 65535 AS band_val
                FROM fp, (SELECT unnest(range(4)) AS j) bj),
         kept AS (SELECT doc_id, fp, band_idx, band_val FROM (
                  SELECT *, count(*) OVER (PARTITION BY band_idx, band_val)
                    AS bn FROM bands) WHERE bn <= 1000),
         pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.fp AS fa, b.fp AS fb
                FROM kept a JOIN kept b
                  ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                  AND a.doc_id < b.doc_id)
         SELECT id_a, id_b,
           CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming_dist
         FROM pairs WHERE bit_count(xor(fa, fb)) <= 3
         ORDER BY id_a, id_b""",
    "q_llm_exact_dedup" ->
      """WITH all_docs AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT -(doc_id + 1), text FROM documents WHERE doc_id < 50)
         SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id, count(*) AS copies
         FROM all_docs GROUP BY 1 HAVING count(*) > 1 ORDER BY 1""",
    "q_llm_dedup_clusters" ->
      """SELECT (doc_id - doc_id % 7) AS component,
                count(*) AS n_members,
                min(doc_id) AS representative,
                CAST(1 AS BIGINT) AS n_reps
         FROM documents GROUP BY 1 ORDER BY 1""",
    // Same synthetic 7-chain components; representative = argmax quality
    // (quality CTE identical to q_llm_quality's, 4dp-rounded so ordering
    // is bit-identical), tie -> min doc_id.
    "q_llm_cluster_best" ->
      """WITH m AS (SELECT doc_id,
           CAST(length(text) AS DOUBLE) AS nchars,
           CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS ntok,
           CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha,
           CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             t -> t IN ('the','a','of','and','to','in','is','that','it','for',
                        'der','die','das','und','ist','von','zu','mit','auf','ein',
                        'le','la','les','de','et','est','un','une','que','pour',
                        'el','los','y','es','por'))) AS DOUBLE) AS sw
           FROM documents),
         q AS (SELECT doc_id, floor((
             (CASE WHEN nchars >= 200 AND nchars <= 2000 THEN 1.0
                   WHEN nchars >= 50 THEN 0.5 ELSE 0.0 END) * 0.3
             + (CASE WHEN nchars > 0 THEN alpha / nchars ELSE 0.0 END) * 0.3
             + least((CASE WHEN ntok > 0 THEN sw / ntok ELSE 0.0 END) * 5.0, 1.0) * 0.2
             + (CASE WHEN ntok > 0 AND nchars / ntok >= 3 AND nchars / ntok <= 12
                     THEN 1.0 ELSE 0.0 END) * 0.2) * 10000 + 0.5) / 10000 AS quality
           FROM m),
         c AS (SELECT doc_id, quality, (doc_id - doc_id % 7) AS component,
                 row_number() OVER (PARTITION BY (doc_id - doc_id % 7)
                                    ORDER BY quality DESC, doc_id ASC) AS rn
               FROM q)
         SELECT component, doc_id AS representative, quality AS rep_quality
         FROM c WHERE rn = 1 ORDER BY component""",
    // True independent oracle for the LSH pipeline: DuckDB brute-forces
    // exact 3-shingle Jaccard over ALL pairs (length-ratio prefiltered —
    // J >= 0.5 is impossible when |A|/|B| < 0.4999) and keeps >= 0.5.
    // Valid because the Spark side's FINAL filter is the same exact
    // Jaccard on LSH candidates, and LSH recall is 1.0 on this corpus
    // (verified: 57 == 57 identical pairs); a missed borderline pair
    // would surface here as a hash mismatch, which is the point.
    "q_llm_incr_dedup" ->
      """WITH seen AS (SELECT DISTINCT md5(text) AS h FROM documents
                       WHERE doc_id % 3 = 0),
         batch AS (SELECT doc_id, md5(text) AS content_hash FROM documents
                   WHERE doc_id % 3 <> 0)
         SELECT b.doc_id, b.content_hash,
                row_number() OVER (PARTITION BY b.content_hash
                  ORDER BY b.doc_id) = 1 AS is_batch_representative,
                s.h IS NULL AS is_new
         FROM batch b LEFT JOIN seen s ON b.content_hash = s.h
         ORDER BY b.doc_id""",
    // C4-style span dedup replayed exactly: same 10-token spans, same
    // (doc_id, span_idx) first-occurrence order, same reassembly.
    "q_llm_span_dedup" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                     FROM documents),
         sp AS (SELECT doc_id, t,
                  unnest(range(0, greatest(CAST(ceil(len(t) / 10.0) AS INT), 1)))
                    AS span_idx
                FROM tk),
         spans AS (SELECT doc_id, span_idx,
                     array_to_string(t[(span_idx*10+1):(span_idx*10+10)], ' ') AS span
                   FROM sp),
         ranked AS (SELECT doc_id, span_idx, span,
                      row_number() OVER (PARTITION BY span
                        ORDER BY doc_id, span_idx) AS rn
                    FROM spans)
         SELECT doc_id, count(*) AS n_spans_kept,
                string_agg(span, ' ' ORDER BY span_idx) AS dedup_text
         FROM ranked WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""",
    // Content-defined chunking with the portable md5-threshold boundary
    // (P(close) = 1/16 ⇔ md5 hex < '10000000'): DuckDB replays the exact
    // boundary rule, exclusive-prefix chunk ids, and per-doc stats.
    "q_llm_cdc_chunks" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                     FROM documents),
         tok AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos, t FROM tk),
         flag AS (SELECT doc_id, pos,
                    CASE WHEN md5(t[pos]) < '10000000' THEN 1 ELSE 0 END AS closes
                  FROM tok),
         chunked AS (SELECT doc_id, pos,
                       COALESCE(SUM(closes) OVER (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
                     FROM flag),
         chunks AS (SELECT doc_id, chunk_id, count(*) AS chunk_tokens
                    FROM chunked GROUP BY doc_id, chunk_id)
         SELECT doc_id, count(*) AS n_chunks,
                max(chunk_tokens) AS max_chunk_tokens,
                min(chunk_tokens) AS min_chunk_tokens,
                CAST(sum(chunk_tokens) AS BIGINT) AS total_tokens
         FROM chunks GROUP BY doc_id ORDER BY doc_id""",
    // DuckDB replays the identical rolling fold: fold state and token
    // hashes are < 2^31, so every intermediate fits BIGINT in any engine.
    "q_llm_rolling_fp" ->
      """SELECT doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split_regex(trim(text), '\s+'),
                 t -> CAST(('0x' || substr(md5(t), 1, 7)) AS BIGINT))),
             (acc, v) -> (acc * 31 + v) % 2147483647) AS rolling_fp
         FROM documents ORDER BY doc_id""",
    // The candidate step is EXACT prefix filtering (Bayardo, Ma &
    // Srikant 2007, "Scaling Up All Pairs Similarity Search"): under
    // any canonical shingle total order (rarest-first here), a pair
    // with J >= 0.5 must share a shingle inside each side's first
    // floor(n/2)+1 shingles — so the join touches prefix postings
    // (mostly rare grams) instead of all O(n²) doc pairs. The verify
    // intersects SORTED INT RANK lists (r), not shingle-string lists:
    // same set cardinalities (rk is a bijection on grams), ~10x less
    // payload per candidate. J = c/(na+nb-c) with the identical
    // floor-round, and the >= 0.5 cut applies to the ROUNDED value
    // exactly as the engine's. The r16 sf1 sweep found the exhaustive
    // all-pairs join needed ~10^12 list ops at 50k docs (days); this
    // form replays the identical result set in ~2 min.
    "q_llm_minhash_neardup" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT -(doc_id + 1) AS doc_id, text || ' appended marker token' AS text
           FROM documents WHERE doc_id < 30),
         tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM corpus),
         sh AS (SELECT doc_id,
                  CASE WHEN len(t) - 2 <= 0 THEN [array_to_string(t, ' ')]
                       ELSE list_distinct(list_transform(range(1, len(t) - 1),
                              i -> array_to_string(t[i:i+2], ' '))) END AS s
                FROM tk),
         ex AS (SELECT doc_id, unnest(s) AS g, len(s) AS n FROM sh),
         df AS (SELECT g, count(*) AS df FROM ex GROUP BY g),
         rk AS (SELECT g, row_number() OVER (ORDER BY df, g) AS r FROM df),
         pos AS (SELECT ex.doc_id, ex.g, ex.n, rk.r,
                   row_number() OVER (PARTITION BY ex.doc_id ORDER BY rk.r)
                     AS p
                 FROM ex JOIN rk USING (g)),
         pre AS (SELECT doc_id, g, n FROM pos WHERE p <= n // 2 + 1),
         si AS MATERIALIZED (SELECT doc_id, any_value(n) AS n,
                 list_sort(list(r)) AS v
               FROM pos GROUP BY doc_id),
         cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM pre a JOIN pre b ON a.g = b.g
                    AND a.doc_id < b.doc_id
                  WHERE a.n >= 0.4999 * b.n AND b.n >= 0.4999 * a.n),
         pairs AS (
           SELECT cand.id_a, cand.id_b,
                  CAST(len(list_intersect(a.v, b.v)) AS BIGINT) AS c,
                  a.n AS na, b.n AS nb
           FROM cand JOIN si a ON a.doc_id = cand.id_a
                     JOIN si b ON b.doc_id = cand.id_b)
         SELECT id_a, id_b,
           floor(CAST(c AS DOUBLE) / (na + nb - c) * 10000 + 0.5) / 10000
             AS jaccard
         FROM pairs
         WHERE floor(CAST(c AS DOUBLE) / (na + nb - c) * 10000 + 0.5)
                 / 10000 >= 0.5
         ORDER BY id_a, id_b""",
    "q_llm_ngram_jaccard" ->
      """WITH g AS (
           SELECT doc_id, list_distinct(list_transform(
             range(1, len(string_split_regex(trim(text), '\s+'))),
             i -> string_split_regex(trim(text), '\s+')[i] || ' ' ||
                  string_split_regex(trim(text), '\s+')[i+1])) AS grams
           FROM documents)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           floor(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS DOUBLE)
             * 10000 + 0.5) / 10000 AS jaccard
         FROM g a JOIN g b ON a.doc_id + 1 = b.doc_id ORDER BY doc_a""",
    "q_llm_decontaminate" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                     FROM documents),
           g AS (SELECT doc_id,
                   CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
                        ELSE list_distinct(list_transform(range(1, len(t) - 3),
                               i -> array_to_string(t[i:i+4], ' '))) END AS grams
                 FROM tk),
           bg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
           dg AS (SELECT doc_id, unnest(grams) AS gram FROM g),
           hits AS (SELECT doc_id, count(*) AS n_hits
                    FROM dg JOIN bg USING (gram) GROUP BY doc_id)
         SELECT d.doc_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
                COALESCE(h.n_hits, 0) > 0 AS contaminated
         FROM documents d LEFT JOIN hits h USING (doc_id) ORDER BY doc_id""",
    "q_llm_url_canon" ->
      """WITH u AS (SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://WWW.' ELSE 'https://www.' END)
             || source || '.example.com'
             || (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
             || '/docs/' || doc_id
             || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
             || '?b=2&utm_source=feed&a=1'
             || (CASE WHEN doc_id % 5 = 0 THEN '&fbclid=xyz' ELSE '' END)
             || '#sec' || doc_id AS url
           FROM documents),
         comp AS (SELECT doc_id, url,
             lower(regexp_extract(nofrag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             regexp_replace(lower(regexp_extract(nofrag, '^[^:]+://([^/?]+)', 1)),
               '^www\.', '') AS host0,
             regexp_replace(regexp_extract(nofrag, '^[^:]+://[^/?]+([^?]*)', 1),
               '/+$', '') AS path,
             array_to_string(list_sort(list_filter(
               string_split(regexp_extract(nofrag, '\?([^#]*)', 1), '&'),
               p -> NOT (regexp_matches(p, '^(utm_[^=&]*|fbclid|gclid)(=|$)')
                         OR p = ''))), '&') AS kept
           FROM (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nofrag
                 FROM u))
         SELECT doc_id, url,
           scheme || '://'
           || (CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
                    WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
                    ELSE host0 END)
           || path
           || (CASE WHEN kept = '' THEN '' ELSE '?' || kept END) AS canonical
         FROM comp ORDER BY doc_id""",
    "q_llm_fingerprint" ->
      """SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\s]', '', 'g'),
             '\s+', ' ', 'g'))) AS fp
         FROM documents ORDER BY doc_id""",
    "q_llm_line_dedup" ->
      """WITH pages AS (SELECT doc_id,
             text || chr(10) || 'all rights reserved cookie consent banner'
                  || chr(10) ||
             CASE WHEN doc_id % 5 = 0
                  THEN 'subscribe to our newsletter for updates'
                  ELSE text END AS page_text
           FROM documents),
         ls AS (SELECT doc_id, string_split(page_text, chr(10)) AS lns FROM pages),
         ix AS (SELECT doc_id, lns, unnest(range(1, len(lns) + 1)) AS i FROM ls),
         lines AS (SELECT doc_id, i AS line_idx, lns[i] AS line
                   FROM ix WHERE trim(lns[i]) <> ''),
         ranked AS (SELECT doc_id, line_idx, line,
                      row_number() OVER (PARTITION BY line
                        ORDER BY doc_id, line_idx) AS rn
                    FROM lines)
         SELECT doc_id, count(*) AS n_lines_kept,
                string_agg(line, chr(10) ORDER BY line_idx) AS dedup_text
         FROM ranked WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""",
    "q_llm_dup_regions" ->
      """WITH corpus AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT -(doc_id + 1) AS doc_id,
                  'prefix marker tokens added ' || text AS text
           FROM documents WHERE doc_id < 40),
         tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                FROM corpus),
         sp AS (SELECT doc_id, t,
                  unnest(range(0, greatest(len(t) - 4, 0))) AS pos
                FROM tk),
         seeds AS (SELECT doc_id, pos,
                     array_to_string(t[(pos+1):(pos+5)], ' ') AS seed
                   FROM sp),
         counts AS (SELECT seed, count(*) AS n FROM seeds GROUP BY seed),
         dup AS (SELECT s.doc_id, s.pos FROM seeds s
                 JOIN counts c ON s.seed = c.seed WHERE c.n >= 2),
         islands AS (SELECT doc_id, pos,
                       pos - row_number() OVER (PARTITION BY doc_id
                                                ORDER BY pos) AS island
                     FROM dup),
         regions AS (SELECT doc_id, island,
                       min(pos) AS s, max(pos) AS e
                     FROM islands GROUP BY doc_id, island)
         SELECT doc_id, count(*) AS n_dup_regions,
                CAST(SUM(e - s + 5) AS BIGINT) AS dup_tokens,
                CAST(MAX(e - s + 5) AS BIGINT) AS longest_region
         FROM regions GROUP BY doc_id ORDER BY doc_id""",
    // The packed (hash·2^24 + reversed-pos) argmin replayed as a plain
    // window min; rightmost-minimum tie rule falls out of the packing.
    "q_llm_winnow" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                     FROM documents WHERE doc_id < 100),
         gr AS (SELECT doc_id, i,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
                FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
                      FROM tk)),
         p AS (SELECT doc_id, i - 1 AS pos,
                 ('0x' || substr(md5(gram), 1, 7))::BIGINT * 16777216
                   + (16777215 - (i - 1)) AS packed
               FROM gr),
         s AS (SELECT doc_id, pos,
                 min(packed) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel
               FROM p)
         SELECT DISTINCT doc_id,
           CAST(16777215 - (sel % 16777216) AS BIGINT) AS pos,
           sel // 16777216 AS fp
         FROM s WHERE s.pos >= 3 ORDER BY doc_id, pos, fp""",
    // Same packed-argmin replay over base + planted docs, distinct
    // (id, fp), df-capped bucket join, shared-count threshold.
    "q_llm_winnow_pairs" ->
      """WITH doc AS (SELECT doc_id, text FROM documents WHERE doc_id < 300
                      UNION ALL
                      SELECT -(doc_id + 1),
                        array_to_string(string_split_regex(trim(text), '\s+')[5:16], ' ')
                          || ' fresh tail content entirely new'
                      FROM documents WHERE doc_id IN (7, 11)),
         tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                FROM doc),
         gr AS (SELECT doc_id, i,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
                FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
                      FROM tk)),
         p AS (SELECT doc_id, i - 1 AS pos,
                 ('0x' || substr(md5(gram), 1, 7))::BIGINT * 16777216
                   + (16777215 - (i - 1)) AS packed
               FROM gr),
         s AS (SELECT doc_id, pos,
                 min(packed) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel
               FROM p),
         fp AS (SELECT DISTINCT doc_id AS id, sel // 16777216 AS fp
                FROM s WHERE s.pos >= 3),
         rare AS (SELECT fp FROM (SELECT fp, COUNT(*) AS df FROM fp GROUP BY fp)
                  WHERE df <= 50),
         kept AS (SELECT id, fp.fp FROM fp JOIN rare USING (fp))
         SELECT a.id AS id_a, b.id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fps
         FROM kept a JOIN kept b ON a.fp = b.fp AND a.id < b.id
         GROUP BY 1, 2 HAVING COUNT(*) >= 3 ORDER BY id_a, id_b""",
    // Locate-the-overlap replay: the winnow_pairs pipeline but carrying
    // selected POSITIONS through the pair join; spans = min/max selected
    // position per side, shared count = distinct fingerprints.
    "q_llm_winnow_locate" ->
      """WITH doc AS (SELECT doc_id, text FROM documents WHERE doc_id < 300
                      UNION ALL
                      SELECT -(doc_id + 1),
                        array_to_string(string_split_regex(trim(text), '\s+')[5:16], ' ')
                          || ' fresh tail content entirely new'
                      FROM documents WHERE doc_id IN (7, 11)),
         tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                FROM doc),
         gr AS (SELECT doc_id, i,
                  t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
                FROM (SELECT doc_id, t, unnest(range(1, len(t) - 1)) AS i
                      FROM tk)),
         p AS (SELECT doc_id, i - 1 AS pos,
                 ('0x' || substr(md5(gram), 1, 7))::BIGINT * 16777216
                   + (16777215 - (i - 1)) AS packed
               FROM gr),
         s AS (SELECT doc_id, pos,
                 min(packed) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS sel
               FROM p),
         fp AS (SELECT DISTINCT doc_id AS id,
                  CAST(16777215 - (sel % 16777216) AS BIGINT) AS pos,
                  sel // 16777216 AS fp
                FROM s WHERE s.pos >= 3),
         dfs AS (SELECT fp FROM (SELECT fp, COUNT(*) AS df
                   FROM (SELECT DISTINCT id, fp FROM fp) GROUP BY fp)
                 WHERE df <= 50),
         kept AS (SELECT id, pos, fp.fp FROM fp JOIN dfs USING (fp))
         SELECT a.id AS id_a, b.id AS id_b,
           CAST(COUNT(DISTINCT a.fp) AS BIGINT) AS shared_fps,
           min(a.pos) AS a_lo, max(a.pos) AS a_hi,
           min(b.pos) AS b_lo, max(b.pos) AS b_hi
         FROM kept a JOIN kept b ON a.fp = b.fp AND a.id < b.id
         GROUP BY 1, 2 HAVING COUNT(DISTINCT a.fp) >= 3
         ORDER BY id_a, id_b""",
    // Blocking and typo construction replay verbatim; the score replays
    // the engine's EXACT cleared-denominator integer kernel — the greedy
    // Jaro match runs as a recursive CTE over character positions with
    // bitmask match-flags (names are <= 12 chars, far under 63 bits), so
    // m, k (half-transpositions) and the prefix are exact integers and
    // sim4 = floor(jw*10^4 + 1/2) is decided by integer division on both
    // engines. (The previous oracle floored DuckDB's double
    // jaro_winkler_similarity: a score on a half-unit boundary could
    // round to a different 4dp integer than the exact kernel and flip the
    // top-1 best_name — a data-dependent flake this replay removes.)
    "q_llm_er_linkage" ->
      """WITH RECURSIVE names AS (SELECT DISTINCT p_name AS name FROM part),
         nb AS (SELECT name, substr(name, 1, 1) AS blk,
                  length(name) AS len FROM names),
         v AS (SELECT p_partkey, p_name AS orig,
                 2 + (p_partkey % (length(p_name) - 2)) AS i
               FROM part WHERE p_partkey < 500),
         vv AS (SELECT p_partkey,
                 substr(orig, 1, i - 1) || substr(orig, i + 1, 1)
                   || substr(orig, i, 1) || substr(orig, i + 2) AS variant
               FROM v),
         cand AS (SELECT vv.p_partkey, vv.variant, nb.name
               FROM vv JOIN nb ON substr(vv.variant, 1, 1) = nb.blk
                 AND length(vv.variant) = nb.len),
         -- Greedy Jaro match: for each a-position i (in order), claim the
         -- smallest unclaimed j within the window with an equal char.
         mt AS (
           SELECT p_partkey, variant AS a, name AS b, 0 AS i,
             CAST(0 AS BIGINT) AS amask, CAST(0 AS BIGINT) AS bmask,
             greatest(0, greatest(length(variant), length(name)) // 2 - 1) AS w
           FROM cand
           UNION ALL
           SELECT p_partkey, a, b, i + 1,
             CASE WHEN j IS NOT NULL THEN amask | (CAST(1 AS BIGINT) << i)
                  ELSE amask END,
             CASE WHEN j IS NOT NULL THEN bmask | (CAST(1 AS BIGINT) << j)
                  ELSE bmask END,
             w
           FROM (SELECT p_partkey, a, b, i, amask, bmask, w,
                   list_min(list_filter(
                     range(greatest(0, i - w), least(length(b), i + w + 1)),
                     jj -> substr(b, CAST(jj + 1 AS BIGINT), 1)
                             = substr(a, i + 1, 1)
                       AND ((bmask >> jj) & 1) = 0)) AS j
                 FROM mt WHERE i < length(a)) step),
         fin AS (SELECT p_partkey, a, b, amask, bmask,
                   CAST(bit_count(amask) AS BIGINT) AS m
                 FROM mt WHERE i = length(a)),
         -- k = positions where the ordered matched subsequences disagree;
         -- prefix = first mismatch index capped at 4.
         sc AS (SELECT p_partkey, a, b, m,
             CASE WHEN m = 0 THEN CAST(0 AS BIGINT) ELSE
               list_sum(list_transform(list_zip(
                 list_transform(list_filter(range(length(a)),
                   i -> ((amask >> i) & 1) = 1), i -> substr(a, CAST(i + 1 AS BIGINT), 1)),
                 list_transform(list_filter(range(length(b)),
                   i -> ((bmask >> i) & 1) = 1), i -> substr(b, CAST(i + 1 AS BIGINT), 1))),
                 p -> CASE WHEN p[1] <> p[2] THEN 1 ELSE 0 END)) END AS k,
             coalesce(list_min(list_filter(range(least(length(a), length(b), 4)),
               i -> substr(a, CAST(i + 1 AS BIGINT), 1)
                      <> substr(b, CAST(i + 1 AS BIGINT), 1))),
               least(length(a), length(b), 4)) AS pfx
           FROM fin),
         nd AS (SELECT p_partkey, a, b, m, pfx,
             2 * m * m * (length(a) + length(b))
               + (2 * m - k) * length(a) * length(b) AS n0,
             6 * m * length(a) * length(b) AS d0
           FROM sc),
         bo AS (SELECT p_partkey, a, b, m,
             CASE WHEN pfx > 0 AND 10 * n0 > 7 * d0
               THEN (10 - pfx) * n0 + pfx * d0 ELSE n0 END AS num,
             CASE WHEN pfx > 0 AND 10 * n0 > 7 * d0
               THEN 10 * d0 ELSE d0 END AS den
           FROM nd),
         jw AS (SELECT p_partkey, a, b,
             CASE WHEN m = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST((num * 20000 + den) // (2 * greatest(den, 1)) AS BIGINT)
             END AS sim4
           FROM bo),
         r AS (SELECT *, row_number() OVER (PARTITION BY p_partkey
                 ORDER BY sim4 DESC, b) AS rk FROM jw)
         SELECT p_partkey, a AS variant, b AS best_name, sim4
         FROM r WHERE rk = 1 ORDER BY p_partkey""",
    // Containment replay: same planted excerpts, same 5-gram sets and
    // df cap, same integer (|∩|·10⁴) // min score.
    "q_llm_containment" ->
      """WITH base AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text
             FROM documents),
         exc AS (SELECT -(doc_id) - 1 AS doc_id,
             array_to_string(tk[1:greatest(len(tk) // 2, 5)], ' ') AS text
           FROM (SELECT doc_id,
                   string_split_regex(trim(text), '\s+') AS tk
                 FROM base WHERE doc_id % 17 = 0) s
           WHERE len(tk) >= 10),
         corpus AS (SELECT * FROM base UNION ALL SELECT * FROM exc),
         g AS (SELECT doc_id,
             CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
                  ELSE list_distinct(list_transform(range(1, len(t) - 3),
                    i -> array_to_string(t[i:i+4], ' '))) END AS grams
           FROM (SELECT doc_id,
                   string_split_regex(trim(text), '\s+') AS t
                 FROM corpus) tt),
         gd AS (SELECT doc_id, unnest(grams) AS gr FROM g),
         bcap AS (SELECT gr FROM gd GROUP BY gr
                  HAVING count(DISTINCT doc_id) BETWEEN 2 AND 8),
         pairs AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
                   FROM gd a JOIN gd b
                     ON a.gr = b.gr AND a.doc_id < b.doc_id
                   JOIN bcap ON bcap.gr = a.gr),
         res AS (SELECT p.da AS doc_a, p.db AS doc_b,
             CAST(len(list_intersect(ga.grams, gb.grams)) AS BIGINT)
               AS n_common,
             CAST((len(list_intersect(ga.grams, gb.grams)) * 10000)
               // least(len(ga.grams), len(gb.grams)) AS BIGINT)
               AS containment4
           FROM pairs p JOIN g ga ON ga.doc_id = p.da
           JOIN g gb ON gb.doc_id = p.db)
         SELECT * FROM res WHERE containment4 >= 8000
         ORDER BY doc_a, doc_b""",
  )
}
