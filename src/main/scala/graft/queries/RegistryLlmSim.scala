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

/** LLM-pipeline vector similarity: ANN, PQ/IVF, clustering, PCA.
  *
  * Split from the monolithic Registry (round 13); see [[Registry]] for the
  * registration maps and conventions. */
trait RegistryLlmSim extends RegistryLlmCuration {

  protected def llmAnnBrute(spark: SparkSession, dir: String): DataFrame =
    Similarity.bruteForceTopK(t(spark, dir, "embeddings"), "embedding", "vec_id",
      queryVector(spark, dir), k = 10)

  protected def llmAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val label = emb.filter(col("vec_id") === 0).select("label").head.getInt(0)
    Similarity.ivfTopK(emb, "embedding", "vec_id", "label", label,
      queryVector(spark, dir), k = 5)
  }

  /** Sign-LSH bucketed ANN (planes from a fixed seed — rows-only check). */
  protected def llmAnnLsh(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshTopK(t(spark, dir, "embeddings"), "embedding", "vec_id",
      queryVector(spark, dir), k = 5, numPlanes = 6)

  /** Embedding-cosine near-dup pairs: corpus ∪ scaled copies (cosine 1.0 to
    * their originals). LSH-bucketed, verified; rows-only check. */
  protected def llmCosineNearDup(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val scaled = emb.filter(col("vec_id") < 20)
      .withColumn("vec_id", -(col("vec_id") + 1))
      .withColumn("embedding", transform(col("embedding"), x => x * lit(1.001f)))
    Similarity.cosineNearDuplicates(emb.unionByName(scaled), "embedding", "vec_id",
        threshold = 0.999, numPlanes = 8)
      .orderBy("id_a", "id_b")
  }

  /** SemDeDup semantic dedup over NEAR-duplicates: plant 20 scaled
    * replicas (×1.001 in double space — cosine ≈ 1 to their originals but
    * bitwise distinct) plus a 45-copy mega-group, cluster with the
    * DETERMINISTIC integer-unit k-means gate ([[graft.llm.DetKMeans]]),
    * then pair through the BOUNDED kernel
    * ([[graft.llm.SemDedup.detBoundedPairs]]): cells over maxCluster=40
    * sub-split by an integer sign-LSH key, still-oversized sub-buckets
    * (true mega-groups) degrade to O(n) chain pairing — Σ|bucket|² stays
    * ≤ maxCluster·N, never corpus-quadratic, whatever the cell skew.
    * Output = the dropped documents (min-id representatives win). Every
    * arithmetic step is integer or IEEE-double, so the DuckDB oracle
    * replays training, gating, sub-split, BOTH pair branches and the
    * component fixpoint — the near-dup sibling of [[llmSemDedupDet]]
    * (exact copies). The seeded Spark-ML k-means gate variant stays
    * pinned in SemDedupSpec.
    *
    * This helper builds the gate INPUT (corpus ∪ planted replicas ∪ the
    * 45-copy mega-group, DetKMeans-assigned; columns id, embedding, u,
    * cid) — shared between the registered query [[llmSemDedup]] and
    * [[graft.PairMassSweep]] so the scale gate measures EXACTLY the
    * registered plan's candidate-pair mass. */
  /** The semdedup gate-input CORPUS (corpus ∪ ×1.001 planted replicas ∪
    * the 45-copy mega-group): shared by the registered queries and, via
    * [[semDedupWithCell]], by [[graft.PairMassSweep]]. */
  private[graft] def semDedupCorpus(spark: SparkSession,
                                    dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val planted = emb.filter(col("vec_id") < 20)
      .withColumn("vec_id", -(col("vec_id") + 1))
      .withColumn("embedding", transform(col("embedding"), x => x * lit(1.001)))
    // A 45-copy mega-group of vector 0 (ids -(20001+r), the NEGATIVE
    // planted namespace — collision-free at any corpus scale, gated by
    // FixturePlantingSpec): with its original and its -(id+1) replica it
    // exceeds maxCluster=40 INSIDE one sign-LSH
    // sub-bucket, so the oracle exercises the O(n) chain-degrade branch of
    // the bounded gate, not just the capped all-pairs branch.
    val mega = emb.filter(col("vec_id") === 0)
      .crossJoin(spark.range(45).select(col("id").as("_r")))
      .select((-(lit(20001L) + col("_r"))).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001)).as("embedding"))
    emb.unionByName(planted).unionByName(mega)
  }

  private[graft] def semDedupWithCell(spark: SparkSession,
                                      dir: String): DataFrame = {
    val all = semDedupCorpus(spark, dir)
    val (_, cents) = graft.llm.DetKMeans.fit(
      all, "vec_id", "embedding", k = 16, iters = 2, dim = 64)
    val assigned = graft.llm.DetKMeans.assignTo(
        graft.llm.DetKMeans.unitPoints(all, "vec_id", "embedding"), cents)
      .select(col("id"), col("u"), col("cid"))
    all.select(col("vec_id").as("id"), col("embedding"))
      .join(assigned, "id")
  }

  protected def llmSemDedup(spark: SparkSession, dir: String): DataFrame = {
    val all = semDedupCorpus(spark, dir)
    // Whole-chain bounded kernel (fit + assign + pair in one task under
    // the gate); [[semDedupWithCell]] + detBoundedPairs is the identical
    // composition detCorpusPairs falls back to above it.
    val pairs = graft.llm.SemDedup.detCorpusPairs(all, "vec_id", "embedding",
        k = 16, iters = 2, threshold = 0.999, dim = 64, maxCluster = 40)
      .select("id_a", "id_b")
    graft.llm.Dedup.dedupByCluster(
        all.select(col("vec_id")), "vec_id", pairs)
      .filter(!col("is_representative"))
      .select(col("vec_id"), col("component"))
      .orderBy("vec_id")
  }

  /** Recipe evaluation for the bounded semdedup gate — the SemDeDup
    * member of the recipe-eval trio ([[RegistryLlmDedup]]'s
    * `q_llm_minhash_eval` scores an LSH recipe, `q_llm_simhash_eval` a
    * Hamming sketch; this scores the k-means + sub-split + chain gate
    * itself): planted truth = the 19 (-(i+1), i) replica pairs plus
    * the 47-member mega-clique ({0, -1, -20001..-20045} — C(47,2) =
    * 1081 pairs), a truth pair is CAPTURED when both ends land in the
    * same near-dup component. Reports recall plus the truth-component
    * fragmentation (ideal: 19 pair-components + 1 mega component).
    * Shares [[semDedupWithCell]] and the bounded kernel with the
    * registered production query, so the eval prices exactly the
    * registered plan — not a lookalike. */
  protected def llmSemdedupEval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = semDedupCorpus(spark, dir)
    val pairs = graft.llm.SemDedup.detCorpusPairs(all, "vec_id", "embedding",
        k = 16, iters = 2, threshold = 0.999, dim = 64, maxCluster = 40)
      .select("id_a", "id_b")
    val comp = graft.llm.Dedup.dedupByCluster(
        all.select(col("vec_id")), "vec_id", pairs)
      .select(col("vec_id"), col("component"))
    val megaIds = Seq(0L, -1L) ++ (-20045L to -20001L)
    val truth = ((1L to 19L).map(i => (-(i + 1), i)) ++
      (for (a <- megaIds; b <- megaIds if a < b) yield (a, b)))
      .toDF("a", "b")
    val cj = truth
      .join(comp.select(col("vec_id").as("a"), col("component").as("compa")),
        Seq("a"))
      .join(comp.select(col("vec_id").as("b"), col("component").as("compb")),
        Seq("b"))
    val m = cj.agg(count(lit(1)).as("n_truth"),
      sum(when(col("compa") === col("compb"), 1L).otherwise(0L))
        .as("n_captured"))
    val tids = truth.select(col("a").as("vec_id"))
      .unionByName(truth.select(col("b").as("vec_id"))).distinct()
    val tc = comp.join(tids, "vec_id").groupBy("component")
      .agg(count(lit(1)).as("sz"))
      .agg(count(lit(1)).as("n_truth_components"),
        max(col("sz")).as("max_truth_component"))
    m.crossJoin(tc)
      .select(col("n_truth"), col("n_captured"),
        expr("n_captured * 10000 div n_truth").as("recall_bp"),
        col("n_truth_components"), col("max_truth_component"))
  }

  // ------------------------------------------------------ LLM-pipeline: text

  /** Deterministic DBSCAN over the embedding corpus
    * ([[graft.llm.Dbscan]]): ε² = 1.3·10¹² micro-units² (≈ the 5th
    * percentile of nearest-neighbor distance — sparse enough that
    * density survives), minPts = 4. The density-based complement to
    * the DetKMeans clustering family with an explicit noise verdict
    * per vector; border points attach to their minimum-id core
    * neighbor and labels are component-minimum core ids, so the
    * assignment is order-free on both engines. */
  protected def llmDbscan(spark: SparkSession, dir: String): DataFrame =
    graft.llm.Dbscan.assign(
        graft.llm.DetKMeans.unitPoints(t(spark, dir, "embeddings"),
          "vec_id", "embedding"),
        "id", "u", eps2 = 1300000000000L, minPts = 4)
      .withColumnRenamed("id", "vec_id")
      .orderBy("vec_id")

  /** ANN over int8-QUANTIZED embeddings (symmetric per-row scale): cosine
    * is scale-invariant so the quantized arrays search directly — 4× less
    * storage scanned per probe at identical plan shape. */
  protected def llmAnnQuant(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val quant = emb
      .withColumn("_s", Similarity.int8Scale(col("embedding"), 64))
      .select(col("vec_id"),
        Similarity.quantizeInt8(col("embedding"), col("_s"), 64).as("q"))
    val query = quant.filter(col("vec_id") === 0)
      .select(col("vec_id").as("query_id"), col("q").as("q_emb"))
    Similarity.topKPerQuery(quant, "q", "vec_id", query, "query_id", "q_emb",
        k = 10, dim = 64)
      .select(col("vec_id"), col("cosine_sim"))
      .orderBy(col("cosine_sim").desc, col("vec_id"))
  }

  /** Batch ANN: per-query top-5 for three query vectors in one pass. */
  protected def llmAnnBatch(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    Similarity.topKPerQuery(emb, "embedding", "vec_id",
        queries, "query_id", "q_emb", k = 5, dim = 64)
      .orderBy(col("query_id"), col("cosine_sim").desc, col("vec_id"))
  }

  /** IVF with real k-means coarse quantization (seeded). nprobe = k, so
    * the probe set covers every cluster and the answer MUST equal exact
    * brute force — which makes brute-force top-k SQL a legitimate oracle
    * even though the k-means fit itself isn't SQL-expressible: the driver
    * now hash-checks the all-probes==brute invariant (previously only
    * pinned in IvfSpec) every round. The cluster assignment affects the
    * physical pruning path, never the result. */
  protected def llmAnnIvfKmeans(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val idx = graft.llm.Ivf.build(emb, "embedding", "vec_id", k = 10)
    graft.llm.Ivf.search(idx, queryVector(spark, dir), topK = 5, nprobe = 10)
  }

  /** Deterministic integer-unit k-means (md5 seeds, 3 Lloyd rounds):
    * per-cluster sizes, integer inertia, centroid checksum — the fitted
    * MODEL is hash-checked against DuckDB replaying the whole training
    * run, init included. */
  protected def llmKmeansDet(spark: SparkSession, dir: String): DataFrame = {
    val (assign, centroids) = graft.llm.DetKMeans.fit(
      t(spark, dir, "embeddings"), "vec_id", "embedding", k = 8, iters = 3, dim = 64)
    val stats = assign.groupBy("cid")
      .agg(count(lit(1)).as("n_points"), sum(col("d")).as("inertia"))
    val csum = centroids.select(col("cid"),
      aggregate(col("c"), lit(0L), (a, v) => a + v).as("centroid_sum"))
    stats.join(csum, "cid").orderBy("cid")
  }

  /** k-means elbow curve: total integer inertia of the deterministic
    * k-means at k = 2, 4, 8 — the model-selection sweep ("where does
    * adding clusters stop paying") a clustering-gated pipeline (SemDeDup,
    * IVF) runs before fixing k. Each fit is the oracle-proven
    * [[graft.llm.DetKMeans]] chain; inertia sums the exact integer d in
    * DECIMAL(38,0) and surfaces as double. Three bounded fits over the
    * same cached unit points — corpus passes scale linearly in |ks|. */
  protected def llmKmeansElbow(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val emb = t(spark, dir, "embeddings")
    Seq(2, 4, 8).map { k =>
      val (assign, _) = graft.llm.DetKMeans.fit(
        emb, "vec_id", "embedding", k = k, iters = 2, dim = 64)
      assign.agg(count(lit(1)).as("n_points"),
          sum(col("d").cast(dec)).as("si"))
        .select(lit(k.toLong).as("k"), col("n_points"),
          col("si").cast("double").as("inertia"))
    }.reduce(_ unionAll _).orderBy("k")
  }

  /** IVF ANN over the deterministic k-means index: probe the 2 centroids
    * nearest the query in unit space, exact-cosine re-rank inside the
    * probed cells — the first TRAINED-index ANN query whose result is
    * oracle-checked end to end (the seeded Spark-ML variants remain
    * rows-only). */
  protected def llmAnnIvfDet(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val (_, centroids) = graft.llm.DetKMeans.fit(
      emb, "vec_id", "embedding", k = 8, iters = 2, dim = 64)
    val pts = graft.llm.DetKMeans.unitPoints(emb, "vec_id", "embedding")
    val cells = graft.llm.DetKMeans.assignTo(pts, centroids)
    val qUnits = pts.filter(col("id") === 0).select(col("u").as("qu"))
    val probed = centroids.crossJoin(broadcast(qUnits))
      .select(col("cid"), graft.llm.DetKMeans.dist2(col("c"), col("qu")).as("qd"))
      .orderBy("qd", "cid").limit(2).select("cid")
    val cand = cells.join(broadcast(probed), "cid")
      .select(col("id").as("cand_id"))
    graft.llm.Similarity.bruteForceTopK(
      emb.join(broadcast(cand), col("vec_id") === col("cand_id")),
      "embedding", "vec_id", queryVector(spark, dir), k = 10)
  }

  /** Cluster purity of the deterministic k-means against the language
    * labels (doc_id ≙ vec_id, the hybrid-search identification):
    * purity = Σ_c max_lang |c ∩ lang| / n — "do the embedding clusters
    * recover a known partition", the third eval-loop query beside ANN
    * recall and the langid confusion matrix. FULLY integer: per-cell
    * counts, one struct-max per cluster, one micro division. */
  protected def llmClusterPurity(spark: SparkSession, dir: String): DataFrame = {
    val (assign, _) = graft.llm.DetKMeans.fit(
      t(spark, dir, "embeddings"), "vec_id", "embedding",
      k = 8, iters = 2, dim = 64)
    val labeled = assign.select(col("id"), col("cid"))
      .join(t(spark, dir, "documents")
        .select(col("doc_id").cast("long").as("id"), col("lang")), Seq("id"))
    val cells = labeled.groupBy("cid", "lang").agg(count(lit(1)).as("c"))
    val perCluster = cells.groupBy("cid")
      .agg(sum(col("c")).as("n_c"),
        max(struct(col("c"), col("lang"))).as("m"))
      .select(col("cid"), col("n_c"), col("m.c").as("n_majority"),
        col("m.lang").as("majority_lang"))
    val tot = perCluster.agg(sum(col("n_c")).as("n"),
      sum(col("n_majority")).as("nm"))
    perCluster.crossJoin(broadcast(tot))
      .select(col("cid"), col("n_c"), col("majority_lang"),
        col("n_majority"),
        expr("(nm * 1000000) div n").as("purity_micro"))
      .orderBy("cid")
  }

  /** Squared-distance simplified silhouette per cluster (Rousseeuw 1987
    * silhouettes; the centroid-based "simplified" variant is Hruschka et
    * al. 2004 — O(n·k) instead of O(n²)) — the fourth cluster-eval
    * metric beside ANN recall, langid confusion, and purity: how tight
    * is each cluster relative to its nearest competitor? FULLY integer:
    * distances are the DetKMeans integer squared-L2 units, a² = the
    * final assignment's own distance, b² = min distance to any OTHER
    * pre-update centroid (b² ≥ a² by argmin, so scores live in
    * [0, 10⁶]), s = (b²−a²)·10⁶ div max(a²,b²) in DECIMAL (the ×10⁶
    * can top Long at unit scale), per-cluster mean is one truncating
    * division. Same k=8/iters=2 chain as [[llmClusterPurity]], so the
    * generated oracle replays the identical training run. */
  protected def llmSilhouette(spark: SparkSession, dir: String): DataFrame = {
    val pts = graft.llm.DetKMeans.unitPoints(
      t(spark, dir, "embeddings"), "vec_id", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c0 = graft.llm.DetKMeans.seedCentroids(pts, 8)
    val a1 = graft.llm.DetKMeans.assignTo(pts, c0)
    val c1 = graft.llm.DetKMeans.updateCentroids(a1, 64)
      .localCheckpoint(true)
    // ONE scoring crossJoin feeds both the final assignment (same
    // min(struct(d, cid)) tie rule as DetKMeans.assignTo) and the
    // second-nearest pass — assignTo here would score the corpus twice.
    val scored = pts.crossJoin(broadcast(c1))
      .select(col("id"), col("cid"),
        graft.llm.DetKMeans.dist2(col("u"), col("c")).as("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a2 = scored.groupBy("id")
      .agg(min(struct(col("d"), col("cid"))).as("m"))
      .select(col("id"), col("m.cid").as("cid"), col("m.d").as("d"))
    val b = scored
      .join(a2.select(col("id"), col("cid").as("best_cid")), Seq("id"))
      .filter(col("cid") =!= col("best_cid"))
      .groupBy("id").agg(min(col("d")).as("b2"))
    a2.select(col("id"), col("cid"), col("d").as("a2d"))
      .join(b, Seq("id"))
      .select(col("cid"),
        when(greatest(col("a2d"), col("b2")) === 0L, lit(0L))
          .otherwise(expr("CAST((CAST(b2 AS DECIMAL(38,0)) - a2d) " +
            "* 1000000 div greatest(a2d, b2) AS BIGINT)"))
          .as("s6"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n_points"), sum(col("s6")).as("ssum"))
      .select(col("cid"), col("n_points"),
        expr("ssum div n_points").as("mean_s6"))
      .orderBy("cid")
  }

  /** ANN recall@10 evaluation — the index-quality loop a vector-search
    * deployment runs before trusting an ANN index: for every mod-97
    * query vector, compare the IVF probe-2 top-10 against the exact
    * brute-force top-10 (self excluded) and report the overlap as
    * integer recall micro-units. Composes the oracle-proven DetKMeans
    * index, probe, and brute kernels; the driver loop is |Q|-bounded
    * (the kmeans-elbow precedent), every per-query job is a broadcast
    * probe + one corpus scan. */
  protected def llmAnnRecall(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = t(spark, dir, "embeddings")
    val (_, centroids) = graft.llm.DetKMeans.fit(
      emb, "vec_id", "embedding", k = 8, iters = 2, dim = 64)
    val pts = graft.llm.DetKMeans.unitPoints(emb, "vec_id", "embedding")
    val cells = graft.llm.DetKMeans.assignTo(pts, centroids)
    val queries = emb
      .filter(pmod(col("vec_id").cast("long"), lit(97)) === 0)
      .select(col("vec_id").cast("long").as("query_id"),
        col("embedding").as("q_emb"))
      .localCheckpoint(true)
    // ALL queries traverse together — one probe pass, one brute pass,
    // one candidate re-rank pass, independent of |Q| (the first, driver-
    // looped formulation cost |Q|×5 scheduler round-trips: 46.7 s for 21
    // queries at sf0.1; this shape is 3 corpus-touching jobs total).
    val wq = Window.partitionBy("query_id")
      .orderBy(col("cosine_sim").desc, col("vid"))
    val probed = pts
      .filter(pmod(col("id"), lit(97)) === 0)
      .select(col("id").as("query_id"), col("u").as("qu"))
      .crossJoin(broadcast(centroids))
      .select(col("query_id"), col("cid"),
        graft.llm.DetKMeans.dist2(col("c"), col("qu")).as("qd"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id").orderBy("qd", "cid")))
      .filter(col("rk") <= 2).select("query_id", "cid")
    // Brute top-10 excluding self: rank top-11 WITH self (one window),
    // drop self, re-rank — top-10-excluding-self ⊆ top-11-including-self
    // even under rounded cosine ties at 1.0.
    val brute = graft.llm.Similarity.topKPerQuery(emb, "embedding",
        "vec_id", queries, "query_id", "q_emb", k = 11, dim = 64)
      .select(col("query_id"), col("vec_id").cast("long").as("vid"),
        col("cosine_sim"))
      .filter(col("vid") =!= col("query_id"))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= 10).select("query_id", "vid")
    val ivf = cells.join(broadcast(probed), Seq("cid"))
      .select(col("query_id"), col("id").as("vid"))
      .filter(col("vid") =!= col("query_id"))
      .join(emb.select(col("vec_id").cast("long").as("vid"),
        col("embedding")), Seq("vid"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("vid"),
        graft.llm.Similarity.roundHalfUp(graft.llm.Similarity
          .cosineUnrolled(col("embedding"), col("q_emb"), 64), 6)
          .as("cosine_sim"))
      .withColumn("rk", row_number().over(wq))
      .filter(col("rk") <= 10).select("query_id", "vid")
    val ov = brute.join(ivf, Seq("query_id", "vid"))
      .groupBy("query_id").agg(count(lit(1)).as("n"))
    queries.select("query_id").join(ov, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n"), lit(0L)).as("n_overlap"),
        (coalesce(col("n"), lit(0L)) * 1000000L / 10).cast("long")
          .as("recall_micro"))
      .orderBy("query_id")
  }

  /** SemDeDup with the DETERMINISTIC k-means gate: cluster in integer
    * units (DetKMeans), pair through the BOUNDED kernel
    * ([[graft.llm.SemDedup.detBoundedPairs]] — maxCluster cap + sign-LSH
    * sub-split + chain degrade), connected components, drop
    * non-representatives. Planted exact copies (ids -(id+1), plus the
    * 45-copy mega-group at -(20001+r)) land in their original's cell by
    * construction. The DuckDB oracle replays training, gating, the
    * sub-split, BOTH pair branches AND the component fixpoint (recursive
    * CTE) — the first semantic-dedup query whose DROP SET is
    * hash-checked, not just property-tested. */
  protected def llmSemDedupDet(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").select("vec_id", "embedding")
    val planted = emb.filter(col("vec_id") < 20)
      .withColumn("vec_id", -(col("vec_id") + 1))
    // Exact-copy mega-group (see llmSemDedup): forces the chain-degrade
    // branch of the bounded gate through the oracle.
    val mega = emb.filter(col("vec_id") === 0)
      .crossJoin(spark.range(45).select(col("id").as("_r")))
      .select((-(lit(20001L) + col("_r"))).as("vec_id"),
        col("embedding"))
    val all = emb.unionByName(planted).unionByName(mega)
    val pairs = graft.llm.SemDedup.detCorpusPairs(all, "vec_id", "embedding",
        k = 16, iters = 2, threshold = 0.999, dim = 64, maxCluster = 40)
      .select("id_a", "id_b")
    graft.llm.Dedup.dedupByCluster(all.select(col("vec_id")), "vec_id", pairs)
      .filter(!col("is_representative"))
      .select(col("vec_id"), col("component"))
      .orderBy("vec_id")
  }

  /** Bounded-kernel PQ ADC relation (id, adc_dist, exact_dist) over the
    * null-key-filtered `emb`: the whole train-encode-ADC chain in ONE
    * executor task ([[graft.llm.PqDet.pqAdcKernel]] — identical
    * arithmetic, same oracle), the small route of both PQ queries.
    * exact_dist is the full-precision refine distance the rerank tail
    * consumes. */
  private def pqDetAdc(emb: DataFrame): DataFrame =
    SmallGraph.singleTask(emb,
        graft.llm.DetKMeans.unitCols("vec_id", "embedding"))(
      graft.llm.PqDet.pqAdcKernel(_, m = 8, subDim = 8, kCodes = 16,
        iters = 2), "id", "adc_dist", "exact_dist")

  /** Product quantization with DETERMINISTIC per-subspace codebooks
    * (integer-unit k-means on each 8-dim slice) and fully-integer ADC
    * search — the PQ twin of q_llm_kmeans_det: training, encoding and
    * the asymmetric-distance ranking are all replayed by the generated
    * oracle, so the TRAINED-index ANN answer is hash-checked. This IS
    * the registered `q_llm_ann_pq` (the seeded float-codebook variant
    * lives on as PqSpec coverage of graft.llm.Pq). */
  protected def llmAnnPqDet(spark: SparkSession, dir: String): DataFrame =
    SmallGraph.routeWith(t(spark, dir, "embeddings"), Seq("vec_id"),
        anyKey = true)(pqDetAdc) { emb =>
      import graft.llm.DetKMeans
      val m = 8; val subDim = 8; val kCodes = 16; val iters = 2
      // All m subspaces as one grouped relation: (g, id, u_slice-units).
      val pts = emb.select(col("vec_id").cast("long").as("id"),
          posexplode(array((0 until m).map(s =>
            slice(col("embedding"), s * subDim + 1, subDim)): _*))
            .as(Seq("g", "sub")))
        .select(col("g").cast("long").as("g"), col("id"),
          DetKMeans.toUnits(col("sub")).as("u"))
      // The fitted codebook is m·k·dim longs but its LINEAGE is the whole
      // training run — persist it so cells and the ADC table don't each
      // re-execute training (the SemDedup round-6 lesson).
      val (_, cents0) = DetKMeans.fitGrouped(pts, kCodes, iters, subDim)
      val cents = cents0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cells = DetKMeans.assignToGrouped(pts, cents)
      val q = pts.filter(col("id") === 0)
        .select(col("g"), col("u").as("qu"))
      val qd = cents.join(broadcast(q), Seq("g"))
        .select(col("g"), col("cid"), DetKMeans.dist2(col("c"), col("qu")).as("qd"))
      cells.select(col("g"), col("id"), col("cid"))
        .join(broadcast(qd), Seq("g", "cid"))
        .groupBy("id").agg(sum(col("qd")).as("adc_dist"))
    }.select(col("id").as("vec_id"), col("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id")).limit(10)

  /** FAISS IndexRefine on the deterministic PQ index: ADC ranks a
    * 50-candidate shortlist, exact integer L2 re-ranks it to the final
    * top-10 — shortlist AND refinement both hash-checked. The exact
    * distance reads only the shortlist's full vectors (broadcast semi),
    * which is the whole point of refine at scale: full-precision I/O
    * proportional to the shortlist, not the corpus. */
  protected def llmAnnPqDetRerank(spark: SparkSession, dir: String): DataFrame =
    SmallGraph.routeWith(t(spark, dir, "embeddings"), Seq("vec_id"),
        anyKey = true) { emb =>
      // Shortlist by (ADC, id), exact-refine by the kernel's
      // full-precision distance — the same integers the distributed
      // tail's shortlist semi-join + dist2 recompute yields.
      pqDetAdc(emb).orderBy(col("adc_dist"), col("id")).limit(50)
        .select(col("id").as("vec_id"), col("exact_dist"))
    } { emb =>
      import graft.llm.DetKMeans
      val m = 8; val subDim = 8; val kCodes = 16; val iters = 2
      val pts = emb.select(col("vec_id").cast("long").as("id"),
          posexplode(array((0 until m).map(s =>
            slice(col("embedding"), s * subDim + 1, subDim)): _*))
            .as(Seq("g", "sub")))
        .select(col("g").cast("long").as("g"), col("id"),
          DetKMeans.toUnits(col("sub")).as("u"))
      val (_, cents0) = DetKMeans.fitGrouped(pts, kCodes, iters, subDim)
      val cents = cents0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cells = DetKMeans.assignToGrouped(pts, cents)
      val q = pts.filter(col("id") === 0).select(col("g"), col("u").as("qu"))
      val qd = cents.join(broadcast(q), Seq("g"))
        .select(col("g"), col("cid"), DetKMeans.dist2(col("c"), col("qu")).as("qd"))
      val shortlist = cells.select(col("g"), col("id"), col("cid"))
        .join(broadcast(qd), Seq("g", "cid"))
        .groupBy("id").agg(sum(col("qd")).as("adc_dist"))
        .orderBy(col("adc_dist"), col("id")).limit(50)
      // Exact refine: full-precision integer L2 over the shortlist only.
      val full = DetKMeans.unitPoints(emb, "vec_id", "embedding")
      val qFull = full.filter(col("id") === 0).select(col("u").as("qu"))
      full.join(broadcast(shortlist.select(col("id"))), Seq("id"))
        .crossJoin(broadcast(qFull))
        .select(col("id").as("vec_id"),
          DetKMeans.dist2(col("u"), col("qu")).as("exact_dist"))
    }.orderBy(col("exact_dist"), col("vec_id")).limit(10)

  /** Deterministic IVF-PQ (FAISS IVFADC, fully hash-checked): coarse
    * integer k-means partitions the corpus, PQ codebooks train on the
    * integer RESIDUALS (exact subtractions — no quantization error
    * between stages), search probes 2 cells and ranks by per-cell
    * residual ADC. This IS the registered `q_llm_ann_ivfpq` since the
    * seeded Spark-ML variant was demoted to IvfPqSpec. */
  protected def llmAnnIvfPqDet(spark: SparkSession, dir: String): DataFrame = {
    val (adcById, _) = ivfPqDetAdc(spark, dir)
    adcById
      .select(col("id").as("vec_id"), col("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id")).limit(10)
  }

  /** Deterministic IVF-PQ with exact re-rank (FAISS IndexRefine over
    * IVFADC): the residual-ADC scores rank a 50-candidate shortlist,
    * exact integer L2 against the full-precision vectors re-ranks it to
    * the final top-10 — index, shortlist, and refinement all replayed by
    * the generated oracle. Refine reads full vectors only for the
    * shortlist (broadcast semi-join), the property that makes it viable
    * when the corpus is 100 TB and the PQ codes are 64× smaller. */
  protected def llmAnnIvfPqDetRerank(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.DetKMeans
    val (adcById, full) = ivfPqDetAdc(spark, dir)
    val shortlist = adcById.orderBy(col("adc_dist"), col("id")).limit(50)
    // Kernel path: the refine distance rode along (same integers the
    // dist2 recompute below yields) — rank the shortlist directly.
    if (adcById.columns.contains("exact_dist"))
      return shortlist.select(col("id").as("vec_id"), col("exact_dist"))
        .orderBy(col("exact_dist"), col("vec_id")).limit(10)
    val qFull = full.filter(col("id") === 0).select(col("u").as("qu"))
    full.join(broadcast(shortlist.select(col("id"))), Seq("id"))
      .crossJoin(broadcast(qFull))
      .select(col("id").as("vec_id"),
        DetKMeans.dist2(col("u"), col("qu")).as("exact_dist"))
      .orderBy(col("exact_dist"), col("vec_id")).limit(10)
  }

  /** Shared IVFADC pipeline behind `q_llm_ann_ivfpq` and its re-rank:
    * returns (per-id summed residual-ADC distances over the 2 probed
    * cells, full-precision unit vectors). */
  protected def ivfPqDetAdc(spark: SparkSession,
                          dir: String): (DataFrame, DataFrame) = {
    import graft.llm.DetKMeans
    val m = 8; val subDim = 8; val kCodes = 16; val kCoarse = 8
    // Bounded kernel: the whole IVFADC chain (coarse fit → cells →
    // residuals → per-subspace codebooks → probe → ADC) in ONE executor
    // task ([[graft.llm.PqDet.ivfPqAdcKernel]] — identical arithmetic;
    // the r16 partial-kernel plan still paid 2 collected codebooks,
    // 4 persists and a 4-relation ADC join tree). The extra exact_dist
    // column is the refine distance [[llmAnnIvfPqDetRerank]] consumes.
    SmallGraph.routeWith(t(spark, dir, "embeddings"), Seq("vec_id"),
        anyKey = true) { emb =>
      val full = DetKMeans.unitPoints(emb, "vec_id", "embedding")
      (SmallGraph.singleTask(full, Seq(col("id"), col("u")))(
          graft.llm.PqDet.ivfPqAdcKernel(_, kCoarse, coarseIters = 2, m,
            subDim, kCodes, pqIters = 2, nprobe = 2),
          "id", "adc_dist", "exact_dist"), full)
    } { emb =>
      val full = DetKMeans.unitPoints(emb, "vec_id", "embedding")
      val (_, co0) = DetKMeans.fit(emb, "vec_id", "embedding",
        kCoarse, iters = 2, dim = 64)
      val coarse = co0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val cells = DetKMeans.assignTo(full, coarse)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val res = cells.join(broadcast(coarse), "cid")
        .select(col("id"), col("cid"),
          zip_with(col("u"), col("c"), (a, b) => a - b).as("r"))
      val pts = res.select(col("id"),
          posexplode(array((0 until m).map(s =>
            slice(col("r"), s * subDim + 1, subDim)): _*)).as(Seq("g", "rs")))
        .select(col("g").cast("long").as("g"), col("id"), col("rs").as("u"))
      val (_, cb0) = DetKMeans.fitGrouped(pts, kCodes, iters = 2, subDim)
      val codebooks = cb0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val codes = DetKMeans.assignToGrouped(pts, codebooks)
        .select(col("g"), col("id"), col("cid").as("code"))
      val qu = full.filter(col("id") === 0).select(col("u").as("qu"))
      val probed = coarse.crossJoin(broadcast(qu))
        .select(col("cid"), DetKMeans.dist2(col("c"), col("qu")).as("cqd"))
        .orderBy("cqd", "cid").limit(2).select("cid")
      val qres = probed.join(broadcast(coarse), "cid").crossJoin(broadcast(qu))
        .select(col("cid"), zip_with(col("qu"), col("c"), (a, b) => a - b).as("qr"))
      val adcTable = qres.select(col("cid"),
          posexplode(array((0 until m).map(s =>
            slice(col("qr"), s * subDim + 1, subDim)): _*)).as(Seq("g", "qrs")))
        .select(col("cid"), col("g").cast("long").as("g"), col("qrs"))
        .join(broadcast(codebooks.select(col("g"), col("cid").as("code"), col("c"))),
          Seq("g"))
        .select(col("cid"), col("g"), col("code"),
          DetKMeans.dist2(col("qrs"), col("c")).as("qd"))
      val adcById = cells.select(col("id"), col("cid"))
        .join(broadcast(probed), "cid")
        .join(codes, Seq("id"))
        .join(broadcast(adcTable), Seq("cid", "g", "code"))
        .groupBy("id").agg(sum(col("qd")).as("adc_dist"))
      (adcById, full)
    }
  }

  /** Binary sign-quantized ANN: Hamming top-50 shortlist over packed
    * 8-byte codes (bit_count(xor), codegen'd) → exact-cosine re-rank of
    * the shortlist only. The cheapest rung of the quantization ladder
    * (int8 → PQ → binary); see [[graft.llm.BinaryQuant]]. The oracle
    * replays the shortlist as a sign-mismatch count (the same Hamming
    * number, unpacked) and re-ranks with the ann_brute cosine. */
  protected def llmAnnBinary(spark: SparkSession, dir: String): DataFrame =
    graft.llm.BinaryQuant.searchTopK(t(spark, dir, "embeddings"), "embedding",
      "vec_id", queryVector(spark, dir), k = 10, shortlist = 50)

  /** Deterministic nearest-centroid classifier on the held-out half of
    * the embeddings (train: even vec_id, test: odd), confusion matrix
    * out. Training AND inference replay exactly in SQL — integer units,
    * floor(sum/n) centroids, integer distances, ties to the smaller
    * label (see [[graft.llm.CentroidClassifier]]). */
  protected def llmCentroidClf(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val train = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
    val test = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
    val model = graft.llm.CentroidClassifier.fit(train, "embedding", "label", 64)
    graft.llm.CentroidClassifier.classify(test, model, "vec_id", "embedding")
      .join(test.select(col("vec_id").cast("long").as("id"),
        col("label").cast("long").as("label")), Seq("id"))
      .groupBy("label", "pred")
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "pred")
  }

  /** JL random projection 64 → 16 dims over the md5-derived hyperplane
    * family — every matrix component replays in SQL, so the whole
    * projection is hash-checked (a seeded Gaussian matrix never could
    * be). Distance preservation is pinned statistically in RandProjSpec;
    * here the projected coordinates themselves are the contract. */
  protected def llmRandProj(spark: SparkSession, dir: String): DataFrame =
    graft.llm.RandProj.project(
        t(spark, dir, "embeddings").filter(col("vec_id") < 300),
        "vec_id", "embedding", kOut = 16, dim = 64)
      // Surface the projection as a CSV of exact micro-units rather than
      // array<double>: the correctness harness sorts result columns with
      // pandas, which cannot hash array cells, and integer-in-string
      // serialization sidesteps double-formatting drift between engines.
      .select(col("vec_id"),
        concat_ws(",", transform(col("proj"),
          v => floor(v * 1e6 + 0.5).cast("long").cast("string"))).as("proj"))
      .orderBy("vec_id")

  /** Hashing-trick signed n-gram features, k = 64 — vocabulary-free fixed-
    * width vectors from one scan (see [[graft.llm.FeatureHash]]). The
    * oracle rebuilds every hash and collision. */
  protected def llmFeatHash(spark: SparkSession, dir: String): DataFrame =
    graft.llm.FeatureHash.features(
        t(spark, dir, "documents").filter(col("doc_id") < 300),
        "doc_id", "text", n = 2, k = 64)
      // CSV-serialized (see llmRandProj): array cells break the harness sort.
      .select(col("doc_id"),
        concat_ws(",", transform(col("feat"), _.cast("string"))).as("feat"))
      .orderBy("doc_id")

  /** Top principal component of the embedding corpus by exact-integer
    * power iteration ([[graft.llm.Pca]]): one distributed moment pass,
    * KB-scale driver-side iteration, full generated SQL replay. The
    * embedding-space anisotropy diagnostic (dominant-direction removal
    * is the classic post-processing step for sentence embeddings). */
  protected def llmPca(spark: SparkSession, dir: String): DataFrame =
    graft.llm.Pca.topComponent(t(spark, dir, "embeddings"), "vec_id",
        "embedding", dim = 64, rounds = 8)
      .orderBy("dim")

  /** Variance explained by the top principal component — the anisotropy
    * number itself (how dominant the rogue direction is). Exact integer
    * projections and trace, one correctly-rounded double division,
    * 6 dp floor ([[graft.llm.Pca.varianceExplained]]). */
  protected def llmPcaVar(spark: SparkSession, dir: String): DataFrame =
    graft.llm.Pca.varianceExplained(t(spark, dir, "embeddings"), "vec_id",
      "embedding", dim = 64, rounds = 8)

  /** Sampled mutual-kNN graph diagnostic over the embedding space — the
    * manifold health check behind every near-dup/ANN threshold:
    * reciprocity (is a in b's top-k when b is in a's?) collapses under
    * hubness, and the per-rank mean-cosine curve is the distance scale
    * the IVF/LSH recipes calibrate against. EXACT kNN over the mod-10
    * node sample — the sample modulus fixes |S| and the |S|² blocked
    * [[graft.expressions.FloatDot]] pair mass, so this is a
    * fixed-budget diagnostic (production full-corpus kNN goes through
    * the IVF/LSH family; this is the exact yardstick they compare
    * against, the q_llm_ann_recall contract). cos6 floors per pair so
    * every aggregate is integer; the per-rank mean shifts by +10⁶
    * before the truncating division because Spark `div` truncates
    * toward zero while DuckDB `//` floors — they agree only on
    * non-negative operands. Windows partition by source node. */
  protected def llmKnnGraph(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 5
    val s = t(spark, dir, "embeddings")
      .filter(pmod(col("vec_id"), lit(10)) === 0)
      .select(col("vec_id"), col("embedding"))
    val edges = s.as("a").crossJoin(s.as("b"))
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        floor(Similarity.cosineUnrolled(col("a.embedding"),
          col("b.embedding"), 64) * 1e6 + 0.5).cast("long").as("cos6"))
      .withColumn("rk", row_number().over(Window.partitionBy("src")
        .orderBy(col("cos6").desc, col("dst"))).cast("long"))
      .filter(col("rk") <= k)
    val rev = edges.select(col("src").as("r_dst"), col("dst").as("r_src"),
      lit(1L).as("rec"))
    edges
      .join(rev, col("src") === col("r_src") && col("dst") === col("r_dst"),
        "left")
      .groupBy("rk")
      .agg(count(lit(1)).as("n_edges"),
        (expr("sum(cos6 + 1000000) div count(1)") - 1000000L)
          .as("mean_cos6"),
        sum(coalesce(col("rec"), lit(0L))).as("n_recip"))
      .withColumn("recip_frac4", expr("n_recip * 10000 div n_edges"))
      .orderBy("rk")
  }

  /** IVF index balance diagnostic — the index-health companion of
    * q_llm_ann_recall (recall says whether probing finds neighbors;
    * balance says whether probing is CHEAP): cell-size spread of the
    * deterministic k-means coarse quantizer. imbalance4 = max cell ·10⁴
    * div mean cell — the worst-probe cost multiplier, the number an IVF
    * deployment alarms on before hot cells serialize the shortlist
    * scans. One bounded aggregate over the assignment relation; the
    * training chain replays via the generated [[graft.llm.DetKMeans]]
    * CTEs. */
  protected def llmIvfBalance(spark: SparkSession, dir: String): DataFrame = {
    val k = 16
    val (assign, _) = graft.llm.DetKMeans.fit(
      t(spark, dir, "embeddings"), "vec_id", "embedding",
      k = k, iters = 2, dim = 64)
    assign.groupBy("cid").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_cells"), sum("n").as("n_points"),
        max("n").as("max_cell"), min("n").as("min_cell"))
      .select(lit(k.toLong).as("k"), col("n_points"), col("n_cells"),
        col("max_cell"), col("min_cell"),
        expr(s"max_cell * 10000 div (n_points div $k)").as("imbalance4"))
  }

  /** Embedding centroid drift between corpus halves — the cheapest
    * embedding-space drift monitor a training pipeline runs per ingest
    * batch (a new crawler/encoder version shifts the centroid long
    * before any downstream metric moves): vectors split by vec_id
    * parity, per-dimension sums on floor(e·2²⁰) longs (order-free
    * EXACT integer sums — a naive float mean is merge-order-dependent
    * and breaks partition invariance), then (a) cos6 between the two
    * sum vectors (scale-invariant, so sums stand in for means), via
    * DECIMAL(38,0) dot/norms with ONE double division, and (b) the
    * max / L1 per-dimension mean shift in 2²⁰-scaled micro-units
    * (integer divisions per dim). The per-dim relation is bounded
    * (2 × dim rows), everything before it is one aggregate pass. */
  protected def llmCentroidShift(spark: SparkSession, dir: String): DataFrame = {
    val dims = t(spark, dir, "embeddings")
      .select(pmod(col("vec_id"), lit(2)).as("side"),
        posexplode(col("embedding")).as(Seq("d0", "v")))
      .select(col("side"), col("d0").cast("long").as("d"), col("v"))
      .groupBy("side", "d")
      .agg(count(lit(1)).as("n"),
        sum(floor(col("v").cast("double") * 1048576).cast("long")).as("s"))
    val ab = dims.filter(col("side") === 0)
      .select(col("d"), col("n").as("na"), col("s").as("sa"))
      .join(dims.filter(col("side") === 1)
        .select(col("d"), col("n").as("nb"), col("s").as("sb")), Seq("d"))
    val perDim = ab.select(col("d"), col("na"), col("nb"),
      abs(expr("sa div na") - expr("sb div nb")).as("shift"))
    val dot = ab.agg(
      sum(expr("CAST(sa AS DECIMAL(38,0)) * CAST(sb AS DECIMAL(38,0))"))
        .as("dp"),
      sum(expr("CAST(sa AS DECIMAL(38,0)) * CAST(sa AS DECIMAL(38,0))"))
        .as("n2a"),
      sum(expr("CAST(sb AS DECIMAL(38,0)) * CAST(sb AS DECIMAL(38,0))"))
        .as("n2b"),
      max(col("na")).as("n_a"), max(col("nb")).as("n_b"))
    val shifts = perDim.agg(max(col("shift")).as("max_shift"),
      sum(col("shift")).as("l1_shift"),
      max(struct(col("shift"), col("d"))).as("am"))
    dot.crossJoin(shifts)
      .select(col("n_a"), col("n_b"),
        floor(expr("CAST(dp AS DOUBLE) / (sqrt(CAST(n2a AS DOUBLE)) " +
          "* sqrt(CAST(n2b AS DOUBLE)))") * 1e6 + 0.5).cast("long")
          .as("cos6"),
        col("max_shift"), col("am.d").as("argmax_dim"),
        col("l1_shift"))
  }

  /** Shared oracle tail for the BOUNDED semdedup gate
    * ([[graft.llm.SemDedup.detBoundedPairs]]): given the generated k-means
    * CTEs (a3 = final assignment, with unit coords u) and an `ev` CTE of
    * (id, e double-list), replays cell counts, the md5-derived integer
    * sign-LSH sub-split of mega-cells (maxCluster = 40), the capped
    * all-pairs branch, the O(n) chain-degrade branch, and the component
    * fixpoint. Mirrors the Scala kernel step for step. */
  private val semDedupBoundedCtes: String =
    """,
       celln AS (SELECT cid, count(*) AS cn FROM a3 GROUP BY cid),
       splanes AS (SELECT j, list_transform(range(64), i ->
           CAST(('0x' || substr(md5('semsub:' || CAST(j AS VARCHAR) || ':'
               || CAST(i AS VARCHAR)), 1, 5)) AS BIGINT) - 524288) AS p
         FROM (SELECT unnest(range(8)) AS j)),
       bkt AS (SELECT a.id,
           CAST(SUM(CASE WHEN list_sum(list_transform(list_zip(a.u, s.p),
               z -> z[1] * z[2])) >= 0
             THEN (CAST(1 AS BIGINT) << s.j)
             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bu
         FROM a3 a, splanes s GROUP BY a.id),
       keyed AS (SELECT a.id, a.cid,
           CASE WHEN c.cn <= 40 THEN CAST(0 AS BIGINT) ELSE b.bu END AS sub
         FROM a3 a JOIN celln c USING (cid) JOIN bkt b ON b.id = a.id),
       subn AS (SELECT cid, sub, count(*) AS sn FROM keyed GROUP BY cid, sub),
       kk AS (SELECT k.id, k.cid, k.sub, s.sn, e.e
         FROM keyed k JOIN subn s USING (cid, sub) JOIN ev e ON e.id = k.id),
       smallp AS (SELECT ca.id AS id_a, cb.id AS id_b
         FROM kk ca JOIN kk cb
           ON ca.cid = cb.cid AND ca.sub = cb.sub AND ca.id < cb.id
         WHERE ca.sn <= 40 AND
           floor(list_sum(list_transform(list_zip(ca.e, cb.e),
               p -> p[1] * p[2])) /
             (sqrt(list_sum(list_transform(ca.e, x -> x*x)))
              * sqrt(list_sum(list_transform(cb.e, x -> x*x))))
             * 1000000 + 0.5) / 1000000 >= 0.999),
       ch AS (SELECT id, e, sn,
           lead(id) OVER (PARTITION BY cid, sub ORDER BY id) AS nid,
           lead(e) OVER (PARTITION BY cid, sub ORDER BY id) AS ne
         FROM kk WHERE sn > 40),
       chp AS (SELECT id AS id_a, nid AS id_b FROM ch
         WHERE nid IS NOT NULL AND
           floor(list_sum(list_transform(list_zip(e, ne), p -> p[1] * p[2])) /
             (sqrt(list_sum(list_transform(e, x -> x*x)))
              * sqrt(list_sum(list_transform(ne, x -> x*x))))
             * 1000000 + 0.5) / 1000000 >= 0.999),
       pr AS (SELECT * FROM smallp UNION ALL SELECT * FROM chp),
       edges AS (SELECT id_a AS a, id_b AS b FROM pr
                 UNION ALL SELECT id_b, id_a FROM pr),
       nodes AS (SELECT DISTINCT a AS id FROM edges),
       reach(id, lab) AS (
         SELECT id, id FROM nodes
         UNION
         SELECT e.b AS id, r.lab FROM reach r JOIN edges e ON e.a = r.id),
       labels AS (SELECT id, min(lab) AS component FROM reach GROUP BY id)"""

  private val semDedupBoundedTail: String = semDedupBoundedCtes +
    """
       SELECT id AS vec_id, component FROM labels
       WHERE component < id ORDER BY vec_id"""

  /** Shared oracle prefix for the PRODUCTION (×1.001 double-scaled)
    * semdedup corpus: generated k-means CTEs over corpus ∪ planted
    * replicas ∪ mega-group, plus the `ev` double-vector relation the
    * bounded-pairing tail reads. Used by `q_llm_semdedup` and
    * `q_llm_semdedup_eval` so the two replays cannot drift. */
  private lazy val semDedupProdPrefix: String =
    graft.llm.DetKMeans.oracleCtes(
      "(SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding" +
      " FROM embeddings UNION ALL" +
      " SELECT -(vec_id + 1), list_transform(embedding," +
      "   x -> CAST(x AS DOUBLE) * CAST(1.001 AS DOUBLE))" +
      " FROM embeddings WHERE vec_id < 20 UNION ALL" +
      " SELECT -(20001 + t.r), list_transform(embedding," +
      "   x -> CAST(x AS DOUBLE) * CAST(1.001 AS DOUBLE))" +
      " FROM embeddings, range(45) t(r) WHERE vec_id = 0) un",
      "vec_id", "embedding", k = 16, iters = 3, dim = 64)
      .replaceFirst("WITH ", "WITH RECURSIVE ") +
    """,
       ev AS (SELECT -(vec_id + 1) AS id,
                list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(1.001 AS DOUBLE)) AS e
              FROM embeddings WHERE vec_id < 20
              UNION ALL
              SELECT -(20001 + t.r) AS id,
                list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(1.001 AS DOUBLE)) AS e
              FROM embeddings, range(45) t(r) WHERE vec_id = 0
              UNION ALL
              SELECT vec_id AS id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings)"""

  protected val llmSimOracleSql: ListMap[String, String] = ListMap(
    // Generated training replay; a2 is the final assignment (iters=2).
    "q_llm_ivf_balance" ->
      (graft.llm.DetKMeans.oracleCtes("embeddings", "vec_id", "embedding",
        k = 16, iters = 2, dim = 64) +
      """
         SELECT CAST(16 AS BIGINT) AS k,
           CAST(sum(n) AS BIGINT) AS n_points,
           CAST(count(*) AS BIGINT) AS n_cells,
           max(n) AS max_cell, min(n) AS min_cell,
           max(n) * 10000 // (CAST(sum(n) AS BIGINT) // 16) AS imbalance4
         FROM (SELECT cid, CAST(count(*) AS BIGINT) AS n
               FROM a2 GROUP BY cid)"""),
    // Same parity split, same 2²⁰ integer scaling, same DECIMAL dot and
    // per-dim integer divisions; argmax via the same (shift, dim)
    // lexicographic max.
    "q_llm_centroid_shift" ->
      """WITH ex AS (SELECT vec_id % 2 AS side,
             generate_subscripts(embedding, 1) - 1 AS d,
             unnest(embedding) AS v
           FROM embeddings),
         dims AS (SELECT side, d, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(CAST(v AS DOUBLE) * 1048576) AS BIGINT))
               AS BIGINT) AS s
           FROM ex GROUP BY 1, 2),
         ab AS (SELECT a.d, a.n AS na, a.s AS sa, b.n AS nb, b.s AS sb
           FROM dims a JOIN dims b ON a.d = b.d
           WHERE a.side = 0 AND b.side = 1),
         pd AS (SELECT d, na, nb, abs(sa // na - sb // nb) AS shift
           FROM ab),
         dt AS (SELECT
             sum(CAST(sa AS DECIMAL(38,0)) * CAST(sb AS DECIMAL(38,0)))
               AS dp,
             sum(CAST(sa AS DECIMAL(38,0)) * CAST(sa AS DECIMAL(38,0)))
               AS n2a,
             sum(CAST(sb AS DECIMAL(38,0)) * CAST(sb AS DECIMAL(38,0)))
               AS n2b,
             max(na) AS n_a, max(nb) AS n_b
           FROM ab),
         sh AS (SELECT max(shift) AS max_shift,
             CAST(sum(shift) AS BIGINT) AS l1_shift,
             max(struct_pack(shift := shift, d := d)) AS am
           FROM pd)
         SELECT n_a, n_b,
           CAST(floor(CAST(dp AS DOUBLE) / (sqrt(CAST(n2a AS DOUBLE))
             * sqrt(CAST(n2b AS DOUBLE))) * 1000000 + 0.5) AS BIGINT)
             AS cos6,
           max_shift, am.d AS argmax_dim, l1_shift
         FROM dt, sh""",
    // Quadratic exact replay on the sampled nodes: same double cosine,
    // same 6dp floor, same rank window, same +10⁶ shift before the
    // floor/truncate division (non-negative operands make // and div
    // agree).
    "q_llm_knn_graph" ->
      """WITH s AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings WHERE vec_id % 10 = 0),
         p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
             CAST(floor(
               list_sum(list_transform(list_zip(a.e, b.e),
                 q -> q[1] * q[2])) /
               (sqrt(list_sum(list_transform(a.e, x -> x * x)))
                * sqrt(list_sum(list_transform(b.e, x -> x * x))))
               * 1000000 + 0.5) AS BIGINT) AS cos6
           FROM s a, s b WHERE a.vec_id <> b.vec_id),
         e AS (SELECT src, dst, cos6,
             CAST(row_number() OVER (PARTITION BY src
               ORDER BY cos6 DESC, dst) AS BIGINT) AS rk
           FROM p QUALIFY rk <= 5),
         f AS (SELECT e.rk, e.cos6,
             CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END AS rec
           FROM e LEFT JOIN e r ON e.src = r.dst AND e.dst = r.src),
         g AS (SELECT rk, CAST(count(*) AS BIGINT) AS n_edges,
             (CAST(sum(cos6 + 1000000) AS BIGINT)
               // CAST(count(*) AS BIGINT)) - 1000000 AS mean_cos6,
             CAST(sum(rec) AS BIGINT) AS n_recip
           FROM f GROUP BY 1)
         SELECT rk, n_edges, mean_cos6, n_recip,
           n_recip * 10000 // n_edges AS recip_frac4
         FROM g ORDER BY rk""",
    // GENERATED full-training replay (DetKMeans.oracleCtes keeps the SQL
    // in lockstep with the Scala by construction): DuckDB re-runs init +
    // all 3 Lloyd rounds in the same integer units and must reproduce
    // the fitted model exactly.
    "q_llm_kmeans_det" ->
      (graft.llm.DetKMeans.oracleCtes("embeddings", "vec_id", "embedding",
        k = 8, iters = 3, dim = 64) +
      """
         SELECT a.cid, CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(a.d) AS BIGINT) AS inertia,
           CAST(cs.csum AS BIGINT) AS centroid_sum
         FROM a3 a JOIN (SELECT cid, list_sum(c) AS csum FROM c3) cs
           USING (cid)
         GROUP BY a.cid, cs.csum ORDER BY a.cid"""),
    // Same generated CTEs at iters=2; a3 plays the index-assignment role
    // (points vs the FINAL centroids c2), then probe + exact-cosine
    // re-rank mirror the ann_brute formulation on the candidate set.
    "q_llm_ann_ivf_det" ->
      (graft.llm.DetKMeans.oracleCtes("embeddings", "vec_id", "embedding",
        k = 8, iters = 3, dim = 64) +
      """,
         qu AS (SELECT u FROM u0 WHERE id = 0),
         probed AS (SELECT cid FROM (
             SELECT c.cid, list_sum(list_transform(range(1, 65),
               i -> (c.c[i] - q.u[i]) * (c.c[i] - q.u[i]))) AS qd
             FROM c2 c, qu q) x
           ORDER BY qd, cid LIMIT 2),
         cand AS (SELECT id FROM a3 WHERE cid IN (SELECT cid FROM probed)),
         qv AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
                FROM embeddings WHERE vec_id = 0),
         cv AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                FROM embeddings JOIN cand ON vec_id = cand.id)
         SELECT vec_id,
           floor(list_sum(list_transform(list_zip(e, qe), p -> p[1] * p[2])) /
             (sqrt(list_sum(list_transform(e, x -> x*x)))
              * sqrt(list_sum(list_transform(qe, x -> x*x)))) * 1000000 + 0.5)
             / 1000000 AS cosine_sim
         FROM cv, qv ORDER BY cosine_sim DESC, vec_id LIMIT 10"""),
    // Generated multi-subspace PQ replay: one integer k-means CTE chain
    // per 8-dim slice (a3 = codes vs the final round-2 codebook c2),
    // then per-subspace ADC lookup tables and the integer sum ranking.
    "q_llm_ann_pq" -> (pqDetCtes +
      s"""
         SELECT id AS vec_id, CAST(SUM(qd) AS BIGINT) AS adc_dist
         FROM ($pqDetUnionAll) all_contribs
         GROUP BY id ORDER BY adc_dist, vec_id LIMIT 10"""),
    // IndexRefine replay: the same generated PQ CTEs rank a
    // 50-candidate ADC shortlist; the refine joins the shortlist back
    // to full-precision integer vectors for the exact top-10.
    "q_llm_ann_pq_rerank" -> (pqDetCtes +
      s""",
         adc AS (SELECT id, SUM(qd) AS adc_dist
                 FROM ($pqDetUnionAll) all_contribs
                 GROUP BY id ORDER BY adc_dist, id LIMIT 50),
         fu AS (SELECT vec_id AS id,
                  list_transform(embedding[1:64],
                    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                      AS BIGINT)) AS u
                FROM embeddings),
         qf AS (SELECT u FROM fu WHERE id = 0)
         SELECT f.id AS vec_id,
           CAST(list_sum(list_transform(range(1, 65),
             i -> (f.u[i] - q.u[i]) * (f.u[i] - q.u[i]))) AS BIGINT)
             AS exact_dist
         FROM fu f JOIN adc ON f.id = adc.id, qf q
         ORDER BY exact_dist, vec_id LIMIT 10"""),
    "q_llm_ann_ivfpq" -> ivfPqDetOracle,
    "q_llm_ann_ivfpq_rerank" -> ivfPqDetRerankOracle,
    // NEAR-dup SemDeDup replay: same generated k-means + BOUNDED pairing +
    // component fixpoint as q_llm_semdedup_det below, but the planted
    // replicas are ×1.001 in DOUBLE space (bitwise-distinct, cosine ≈ 1)
    // — every step stays IEEE-double so the replay is exact.
    "q_llm_semdedup" -> (semDedupProdPrefix + semDedupBoundedTail),
    // Recipe eval for the bounded gate: the same full pipeline replay up
    // to the component labels, then planted-truth pairs (19 replica
    // pairs + the 47-member mega-clique) scored by same-component
    // capture — the SemDeDup member of the minhash_eval / simhash_eval
    // recipe-eval trio.
    "q_llm_semdedup_eval" -> (semDedupProdPrefix + semDedupBoundedCtes +
      """,
         compx AS (SELECT a.id, coalesce(l.component, a.id) AS comp
           FROM a3 a LEFT JOIN labels l USING (id)),
         truthids AS (SELECT CAST(0 AS BIGINT) AS id
           UNION ALL SELECT -1
           UNION ALL SELECT -(20001 + t.r) FROM range(45) t(r)),
         trep AS (SELECT CAST(-(s.i + 1) AS BIGINT) AS a,
             CAST(s.i AS BIGINT) AS b
           FROM range(1, 20) s(i)),
         tmega AS (SELECT x.id AS a, y.id AS b
           FROM truthids x JOIN truthids y ON x.id < y.id),
         truth AS (SELECT * FROM trep UNION ALL SELECT * FROM tmega),
         cj AS (SELECT t.a, t.b, ca.comp AS compa, cb.comp AS compb
           FROM truth t JOIN compx ca ON ca.id = t.a
           JOIN compx cb ON cb.id = t.b),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n_truth,
             CAST(sum(CASE WHEN compa = compb THEN 1 ELSE 0 END)
               AS BIGINT) AS n_captured
           FROM cj),
         tid AS (SELECT DISTINCT id FROM (
             SELECT a AS id FROM truth UNION ALL SELECT b FROM truth)),
         tc AS (SELECT comp, CAST(count(*) AS BIGINT) AS sz
           FROM compx JOIN tid USING (id) GROUP BY 1)
         SELECT n_truth, n_captured,
           n_captured * 10000 // n_truth AS recall_bp,
           (SELECT CAST(count(*) AS BIGINT) FROM tc) AS n_truth_components,
           (SELECT CAST(max(sz) AS BIGINT) FROM tc) AS max_truth_component
         FROM m"""),
    // Full SemDeDup replay: generated k-means CTEs (a3 = assignment to
    // the final round-2 centroids), BOUNDED within-cell pairing (sub-split
    // + chain degrade, see semDedupBoundedTail) at the engine's 6dp
    // floor-rounded threshold, then the component fixpoint as a recursive
    // min-label closure — non-representatives must match id for id,
    // component for component.
    "q_llm_semdedup_det" ->
      (graft.llm.DetKMeans.oracleCtes(
        "(SELECT vec_id, embedding FROM embeddings UNION ALL" +
        " SELECT -(vec_id + 1), embedding FROM embeddings WHERE vec_id < 20" +
        " UNION ALL SELECT -(20001 + t.r), embedding" +
        " FROM embeddings, range(45) t(r) WHERE vec_id = 0) un",
        "vec_id", "embedding", k = 16, iters = 3, dim = 64)
        .replaceFirst("WITH ", "WITH RECURSIVE ") +
      """,
         ev AS (SELECT -(vec_id + 1) AS id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                FROM embeddings WHERE vec_id < 20
                UNION ALL
                SELECT -(20001 + t.r) AS id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                FROM embeddings, range(45) t(r) WHERE vec_id = 0
                UNION ALL
                SELECT vec_id AS id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                FROM embeddings)""" +
      semDedupBoundedTail),
    // Brute-force replay of the LSH-bucketed near-dup pass: every planted
    // scaled copy shares its original's bucket for ANY hyperplanes (same
    // direction ⇒ same signs), and at this data scale no natural pair
    // comes near the 0.999 threshold (widest natural cosine < 0.95), so
    // bucketed output == exhaustive output. The float scaling and the
    // ascending-order double dot mirror the engine op for op.
    "q_llm_cosine_neardup" ->
      """WITH u AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           FROM embeddings
           UNION ALL
           SELECT -(vec_id + 1),
             list_transform(embedding,
               x -> CAST(CAST(x * CAST(1.001 AS FLOAT) AS FLOAT) AS DOUBLE))
           FROM embeddings WHERE vec_id < 20),
         n AS (SELECT vec_id, e,
                 sqrt(list_sum(list_transform(e, x -> x*x))) AS nrm FROM u)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           floor((CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN CAST(0.0 AS DOUBLE)
              ELSE list_sum(list_transform(list_zip(a.e, b.e), p -> p[1]*p[2]))
                / (a.nrm * b.nrm) END) * 1000000 + CAST(0.5 AS DOUBLE)) / 1000000
             AS cosine_sim
         FROM n a JOIN n b ON a.vec_id < b.vec_id
         WHERE cosine_sim >= 0.999 ORDER BY id_a, id_b""",
    // Full replay of sign-LSH ANN: md5-derived hyperplane components
    // (Similarity.hyperplanes), per-vector bucket bits, restriction to the
    // query vector's bucket, exact cosine top-5. 4503599627370496 = 2^52
    // (13 hex chars of md5).
    "q_llm_ann_lsh" ->
      """WITH c AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings),
         planes AS (SELECT i, list_transform(range(64), j ->
               CAST(('0x' || substr(md5('plane:' || CAST(i AS VARCHAR) || ':'
                   || CAST(j AS VARCHAR)), 1, 13)) AS BIGINT)
                 / 4503599627370496.0 * 2.0 - 1.0) AS p
             FROM (SELECT unnest(range(6)) AS i)),
         bu AS (SELECT c.vec_id,
               CAST(SUM(CASE WHEN list_sum(list_transform(
                     list_zip(c.e, pl.p), z -> z[1]*z[2])) >= 0
                   THEN (CAST(1 AS BIGINT) << pl.i) ELSE 0 END) AS BIGINT)
                 AS bucket
             FROM c, planes pl GROUP BY c.vec_id),
         q AS (SELECT e AS qe FROM c WHERE vec_id = 0),
         qb AS (SELECT bucket AS qbucket FROM bu WHERE vec_id = 0)
         SELECT c.vec_id AS vec_id,
           floor(list_sum(list_transform(list_zip(c.e, qe), z -> z[1]*z[2]))
             / (sqrt(list_sum(list_transform(c.e, x -> x*x)))
                * sqrt(list_sum(list_transform(qe, x -> x*x))))
             * 1000000 + CAST(0.5 AS DOUBLE)) / 1000000 AS cosine_sim
         FROM c JOIN bu ON c.vec_id = bu.vec_id, q, qb
         WHERE bu.bucket = qbucket
         ORDER BY cosine_sim DESC, c.vec_id LIMIT 5""",
    "q_llm_ann_brute" ->
      """WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
                    FROM embeddings WHERE vec_id = 0),
           c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                 FROM embeddings)
         SELECT vec_id,
           floor(list_sum(list_transform(list_zip(e, qe), p -> p[1] * p[2])) /
             (sqrt(list_sum(list_transform(e, x -> x*x)))
              * sqrt(list_sum(list_transform(qe, x -> x*x)))) * 1000000 + 0.5) / 1000000
             AS cosine_sim
         FROM c, q ORDER BY cosine_sim DESC, vec_id LIMIT 10""",
    // nprobe = k probes every cluster, so the IVF answer is exact by
    // construction: brute-force top-5 IS the oracle (the k-means fit only
    // picks the pruning layout, which this query deliberately disables).
    "q_llm_ann_ivf_kmeans" ->
      """WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
                    FROM embeddings WHERE vec_id = 0),
           c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                 FROM embeddings)
         SELECT vec_id,
           floor(list_sum(list_transform(list_zip(e, qe), p -> p[1] * p[2])) /
             (sqrt(list_sum(list_transform(e, x -> x*x)))
              * sqrt(list_sum(list_transform(qe, x -> x*x)))) * 1000000 + 0.5) / 1000000
             AS cosine_sim
         FROM c, q ORDER BY cosine_sim DESC, vec_id LIMIT 5""",
    "q_llm_ann_quant" ->
      """WITH s AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                    FROM embeddings),
           sc AS (SELECT vec_id, e,
                    list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale FROM s),
           qv AS (SELECT vec_id,
                    CASE WHEN scale = 0 THEN list_transform(e, x -> 0.0)
                         ELSE list_transform(e, x -> floor(x / scale + 0.5)) END AS q
                  FROM sc),
           qq AS (SELECT q AS qe FROM qv WHERE vec_id = 0)
         SELECT vec_id,
           floor(list_sum(list_transform(list_zip(q, qe), p -> p[1] * p[2])) /
             (sqrt(list_sum(list_transform(q, x -> x*x)))
              * sqrt(list_sum(list_transform(qe, x -> x*x)))) * 1000000 + 0.5) / 1000000
             AS cosine_sim
         FROM qv, qq ORDER BY cosine_sim DESC, vec_id LIMIT 10""",
    "q_llm_ann_batch" ->
      """WITH q AS (SELECT vec_id AS query_id,
                    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
                    FROM embeddings WHERE vec_id < 3),
           c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                 FROM embeddings),
           s AS (SELECT q.query_id, c.vec_id,
                   floor(list_sum(list_transform(list_zip(e, qe), p -> p[1] * p[2])) /
                     (sqrt(list_sum(list_transform(e, x -> x*x)))
                      * sqrt(list_sum(list_transform(qe, x -> x*x)))) * 1000000 + 0.5) / 1000000
                     AS cosine_sim
                 FROM c, q)
         SELECT query_id, vec_id, cosine_sim FROM s
         QUALIFY row_number() OVER (PARTITION BY query_id
                                    ORDER BY cosine_sim DESC, vec_id) <= 5
         ORDER BY query_id, cosine_sim DESC, vec_id""",
    "q_llm_ann_ivf" ->
      """WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe, label AS ql
                    FROM embeddings WHERE vec_id = 0),
           c AS (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                 FROM embeddings)
         SELECT vec_id,
           floor(list_sum(list_transform(list_zip(e, qe), p -> p[1] * p[2])) /
             (sqrt(list_sum(list_transform(e, x -> x*x)))
              * sqrt(list_sum(list_transform(qe, x -> x*x)))) * 1000000 + 0.5) / 1000000
             AS cosine_sim
         FROM c, q WHERE c.label = q.ql ORDER BY cosine_sim DESC, vec_id LIMIT 5""",
    // Hamming as an unpacked sign-mismatch count (== bit_count(xor) of
    // the packed codes by construction), then the ann_brute re-rank.
    "q_llm_ann_binary" ->
      """WITH q AS (SELECT embedding AS qe,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qd
                    FROM embeddings WHERE vec_id = 0),
         h AS (SELECT e.vec_id,
                 CAST(list_sum(list_transform(range(1, 65),
                   i -> CASE WHEN (e.embedding[i] > 0) <> (q.qe[i] > 0)
                        THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
               FROM embeddings e, q),
         s AS (SELECT vec_id, hamming FROM h ORDER BY hamming, vec_id LIMIT 50),
         c AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ed
               FROM embeddings)
         SELECT s.vec_id, s.hamming,
           floor(list_sum(list_transform(list_zip(ed, qd), p -> p[1] * p[2])) /
             (sqrt(list_sum(list_transform(ed, x -> x*x)))
              * sqrt(list_sum(list_transform(qd, x -> x*x)))) * 1000000 + 0.5)
             / 1000000 AS cosine_sim
         FROM s JOIN c USING (vec_id), q
         ORDER BY cosine_sim DESC, vec_id LIMIT 10""",
    // Training AND inference replayed: integer units, per-label
    // floor(sum/n) centroids, integer distances, ties to smaller label.
    "q_llm_centroid_clf" ->
      """WITH u AS (SELECT vec_id, label,
                      list_transform(embedding[1:64],
                        x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5)
                             AS BIGINT)) AS u
                    FROM embeddings),
         tr AS (SELECT * FROM u WHERE vec_id % 2 = 0),
         sums AS (SELECT label, dim, SUM(u[dim]) AS s, COUNT(*) AS n
                  FROM tr, range(1, 65) r(dim) GROUP BY label, dim),
         c AS (SELECT label,
                 list(CAST(floor(CAST(s AS DOUBLE) / n) AS BIGINT)
                      ORDER BY dim) AS c
               FROM sums GROUP BY label),
         te AS (SELECT * FROM u WHERE vec_id % 2 = 1),
         d AS (SELECT te.vec_id, te.label AS true_label, c.label AS pred,
                 list_sum(list_transform(range(1, 65),
                   i -> (te.u[i] - c.c[i]) * (te.u[i] - c.c[i]))) AS d
               FROM te, c),
         a AS (SELECT vec_id, true_label, pred,
                 row_number() OVER (PARTITION BY vec_id ORDER BY d, pred) AS rk
               FROM d)
         SELECT CAST(true_label AS BIGINT) AS label, CAST(pred AS BIGINT) AS pred,
           CAST(COUNT(*) AS BIGINT) AS n
         FROM a WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2""",
    // The projection matrix replays component-for-component (the
    // ann_lsh plane family); each coordinate is the list_zip fold the
    // FloatDot kernel is bit-identical to.
    "q_llm_rand_proj" ->
      """WITH c AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
               FROM embeddings WHERE vec_id < 300),
         planes AS (SELECT i, list_transform(range(64), j ->
               CAST(('0x' || substr(md5('plane:' || CAST(i AS VARCHAR) || ':'
                   || CAST(j AS VARCHAR)), 1, 13)) AS BIGINT)
                 / 4503599627370496.0 * 2.0 - 1.0) AS p
             FROM (SELECT unnest(range(16)) AS i)),
         d AS (SELECT c.vec_id, pl.i,
                 CAST(floor(list_sum(list_transform(list_zip(c.e, pl.p),
                     z -> z[1]*z[2])) * 1000000 + CAST(0.5 AS DOUBLE))
                   AS BIGINT) AS v
               FROM c, planes pl)
         SELECT vec_id,
           string_agg(CAST(v AS VARCHAR), ',' ORDER BY i) AS proj
         FROM d GROUP BY vec_id ORDER BY vec_id""",
    // Every hash and collision rebuilt: index = md5 hex-13 mod 64, sign =
    // hex char 14 parity.
    "q_llm_feat_hash" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
                     FROM documents WHERE doc_id < 300),
         g AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(t)),
                   i -> t[i] || ' ' || t[i+1])) AS gram
               FROM tk),
         c AS (SELECT doc_id,
                 ('0x' || substr(md5(gram), 1, 13))::BIGINT % 64 AS idx,
                 CASE WHEN ('0x' || substr(md5(gram), 14, 1))::BIGINT % 2 = 0
                      THEN 1 ELSE -1 END AS s
               FROM g),
         f AS (SELECT doc_id, j,
                 CAST(COALESCE(SUM(CASE WHEN idx = j THEN s END), 0)
                   AS BIGINT) AS v
               FROM c, range(64) r(j) GROUP BY doc_id, j)
         SELECT doc_id,
           string_agg(CAST(v AS VARCHAR), ',' ORDER BY j) AS feat
         FROM f GROUP BY doc_id ORDER BY doc_id""",
    // GENERATED full replay: quantization, exact integer moments, the
    // N²-scaled scatter matrix, and all 8 power rounds with truncating
    // HUGEINT renormalization (matches BigInt / toward-zero).
    "q_llm_pca" -> (graft.llm.Pca.oracleCtes(
      "embeddings", "vec_id", "embedding", dim = 64, rounds = 8) + """
      SELECT CAST(i AS BIGINT) AS dim, CAST(v AS BIGINT) AS pc1_unit
      FROM v8 ORDER BY dim"""),
    // Same generated replay plus the projection pass: exact HUGEINT
    // N·Σp² − (Σp)², the scatter trace from the mm/ss moment CTEs, and
    // the one correctly-rounded double division the engine performs.
    "q_llm_pca_var" -> (graft.llm.Pca.oracleCtes(
      "embeddings", "vec_id", "embedding", dim = 64, rounds = 8) + s""",
      pcv AS (SELECT list(CAST(v AS BIGINT) ORDER BY i) AS vv FROM v8),
      pj AS (SELECT list_sum(list_transform(range(1, 65),
               i -> e.u[i] * vv[i])) AS p
             FROM e, pcv),
      prj AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                CAST(sum(p) AS HUGEINT) AS sp,
                sum(CAST(p AS HUGEINT) * p) AS spp
              FROM pj),
      trc AS (SELECT (SELECT CAST(max(n) AS HUGEINT) FROM mm)
                       * (SELECT sum(s) FROM ss WHERE i = j)
                     - (SELECT sum(CAST(m AS HUGEINT) * m) FROM mm)
                       AS trace_cn),
      vsq AS (SELECT sum(CAST(v AS HUGEINT) * v) AS v2 FROM v8)
      SELECT CAST(prj.n AS BIGINT) AS n_rows,
             CAST(trc.trace_cn AS BIGINT) AS trace_cn,
             floor(CAST(prj.n * prj.spp - prj.sp * prj.sp AS DOUBLE)
                   / CAST(vsq.v2 * trc.trace_cn AS DOUBLE) * 1000000)
               / 1000000 AS var_ratio6
      FROM prj, trc, vsq"""),
    // Elbow replay: one GENERATED DetKMeans chain per k, same exact
    // integer inertia summed per chain.
    "q_llm_kmeans_elbow" -> (
      graft.llm.DetKMeans.oracleCtes("embeddings", "vec_id", "embedding",
        k = 2, iters = 2, dim = 64, prefix = "k2_", lead = "WITH ") + "," +
      graft.llm.DetKMeans.oracleCtes("embeddings", "vec_id", "embedding",
        k = 4, iters = 2, dim = 64, prefix = "k4_", lead = "") + "," +
      graft.llm.DetKMeans.oracleCtes("embeddings", "vec_id", "embedding",
        k = 8, iters = 2, dim = 64, prefix = "k8_", lead = "") + """
      SELECT * FROM (
        SELECT CAST(2 AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS n_points,
          CAST(CAST(sum(d) AS HUGEINT) AS DOUBLE) AS inertia FROM k2_a2
        UNION ALL
        SELECT CAST(4 AS BIGINT), CAST(count(*) AS BIGINT),
          CAST(CAST(sum(d) AS HUGEINT) AS DOUBLE) FROM k4_a2
        UNION ALL
        SELECT CAST(8 AS BIGINT), CAST(count(*) AS BIGINT),
          CAST(CAST(sum(d) AS HUGEINT) AS DOUBLE) FROM k8_a2)
      ORDER BY k"""),
    // Recall replay: the generated DetKMeans chain indexes, per-query
    // windows rank both the brute and IVF top-10s, one join counts the
    // overlap; zero-overlap queries kept via left join.
    "q_llm_ann_recall" ->
      (graft.llm.DetKMeans.oracleCtes("embeddings", "vec_id", "embedding",
        k = 8, iters = 3, dim = 64) +
      """,
         qs AS (SELECT id AS qid, u FROM u0 WHERE id % 97 = 0),
         probed AS (SELECT qid, cid FROM (
             SELECT q.qid, c.cid, row_number() OVER (PARTITION BY q.qid
               ORDER BY list_sum(list_transform(range(1, 65),
                 i -> (c.c[i] - q.u[i]) * (c.c[i] - q.u[i]))), c.cid) AS rk
             FROM c2 c, qs q) x WHERE rk <= 2),
         qv AS (SELECT CAST(vec_id AS BIGINT) AS qid,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
                FROM embeddings WHERE vec_id % 97 = 0),
         cv AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
                FROM embeddings),
         sc AS (SELECT q.qid, v.vec_id,
                  floor(list_sum(list_transform(list_zip(v.e, q.qe),
                      p -> p[1] * p[2]))
                    / (sqrt(list_sum(list_transform(v.e, x -> x * x)))
                       * sqrt(list_sum(list_transform(q.qe, x -> x * x))))
                    * 1000000 + 0.5) / 1000000 AS c
                FROM qv q, cv v WHERE v.vec_id <> q.qid),
         brute AS (SELECT qid, vec_id FROM (
             SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
               ORDER BY c DESC, vec_id) AS rk
             FROM sc) x WHERE rk <= 10),
         cand AS (SELECT p.qid, a.id FROM probed p
                  JOIN a3 a ON a.cid = p.cid WHERE a.id <> p.qid),
         ivf AS (SELECT qid, vec_id FROM (
             SELECT s.qid, s.vec_id, row_number() OVER (PARTITION BY s.qid
               ORDER BY s.c DESC, s.vec_id) AS rk
             FROM sc s JOIN cand ON cand.qid = s.qid
               AND cand.id = s.vec_id) x WHERE rk <= 10),
         ov AS (SELECT b.qid, CAST(count(*) AS BIGINT) AS n
                FROM brute b JOIN ivf ON ivf.qid = b.qid
                  AND ivf.vec_id = b.vec_id
                GROUP BY 1)
         SELECT CAST(q.qid AS BIGINT) AS query_id,
           CAST(COALESCE(ov.n, 0) AS BIGINT) AS n_overlap,
           CAST(COALESCE(ov.n, 0) * 1000000 // 10 AS BIGINT)
             AS recall_micro
         FROM (SELECT DISTINCT qid FROM qs) q
         LEFT JOIN ov USING (qid) ORDER BY query_id"""),
    // Purity replay: the generated k-means chain's final assignment (a2
    // for iters=2), label join, window-max majority (c desc, lang desc
    // — the struct-max tie order), one micro division.
    "q_llm_cluster_purity" ->
      (graft.llm.DetKMeans.oracleCtes("embeddings", "vec_id", "embedding",
        k = 8, iters = 2, dim = 64) +
      """,
         lab AS (SELECT a.id, a.cid, d.lang FROM a2 a
                 JOIN documents d ON CAST(d.doc_id AS BIGINT) = a.id),
         cells AS (SELECT cid, lang, CAST(count(*) AS BIGINT) AS c
                   FROM lab GROUP BY 1, 2),
         pc AS (SELECT cid, c AS n_majority, lang AS majority_lang,
                  row_number() OVER (PARTITION BY cid
                    ORDER BY c DESC, lang DESC) AS rk
                FROM cells),
         nc AS (SELECT cid, CAST(sum(c) AS BIGINT) AS n_c FROM cells
                GROUP BY 1),
         tot AS (SELECT CAST(sum(n_c) AS BIGINT) AS n FROM nc),
         tm AS (SELECT CAST(sum(n_majority) AS BIGINT) AS nm FROM pc
                WHERE rk = 1)
         SELECT pc.cid, nc.n_c, pc.majority_lang, pc.n_majority,
           CAST((tm.nm * 1000000) // tot.n AS BIGINT) AS purity_micro
         FROM pc JOIN nc USING (cid), tot, tm
         WHERE pc.rk = 1 ORDER BY pc.cid"""),
    // Silhouette replay: the same generated k=8/iters=2 chain; b² from
    // the c1 centroids with the assigned cid excluded, same DECIMAL
    // scaled ratio, same truncating per-cluster mean.
    "q_llm_silhouette" -> (graft.llm.DetKMeans.oracleCtes(
      "embeddings", "vec_id", "embedding", k = 8, iters = 2, dim = 64) +
      """,
         sc AS (SELECT pt.id, c.cid,
                  list_sum(list_transform(range(1, 65),
                    i -> (pt.u[i] - c.c[i]) * (pt.u[i] - c.c[i]))) AS d
                FROM u0 pt, c1 c),
         bb AS (SELECT sc.id, CAST(min(sc.d) AS BIGINT) AS b2
                FROM sc JOIN a2 ON sc.id = a2.id AND sc.cid <> a2.cid
                GROUP BY sc.id),
         sil AS (SELECT a2.cid,
                   CASE WHEN greatest(a2.d, bb.b2) = 0
                     THEN CAST(0 AS BIGINT)
                     ELSE CAST((CAST(bb.b2 AS HUGEINT) - a2.d) * 1000000
                       // greatest(a2.d, bb.b2) AS BIGINT) END AS s6
                 FROM a2 JOIN bb ON a2.id = bb.id)
         SELECT cid, CAST(count(*) AS BIGINT) AS n_points,
           CAST(sum(s6) // count(*) AS BIGINT) AS mean_s6
         FROM sil GROUP BY cid ORDER BY cid"""),
    // DBSCAN replay: same micro-unit quantization, exhaustive pair join,
    // degree >= minPts-1 core rule, min-label closure over the core-core
    // subgraph (the q_graph_wcc mechanism), min-core-neighbor border
    // attach, and the noise fall-through.
    "q_llm_dbscan" ->
      """WITH RECURSIVE q AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
               * 1000000 + 0.5) AS BIGINT)) AS v
           FROM embeddings),
         pr AS (SELECT a.vec_id AS ia, b.vec_id AS ib
                FROM q a JOIN q b ON a.vec_id < b.vec_id
                  AND list_sum(list_transform(range(1, 65),
                    k -> (a.v[k] - b.v[k]) * (a.v[k] - b.v[k])))
                    <= 1300000000000),
         nb AS (SELECT ia AS id, ib AS nb FROM pr
                UNION ALL SELECT ib, ia FROM pr),
         core AS (SELECT id FROM nb GROUP BY id HAVING count(*) >= 3),
         ce AS (SELECT ia, ib FROM pr
                WHERE ia IN (SELECT id FROM core)
                  AND ib IN (SELECT id FROM core)),
         adj AS (SELECT ia AS src, ib AS dst FROM ce
                 UNION ALL SELECT ib, ia FROM ce),
         r AS (SELECT src AS node, src AS lbl
               FROM (SELECT DISTINCT src FROM adj)
               UNION
               SELECT adj.dst, r.lbl FROM r JOIN adj ON adj.src = r.node
               WHERE r.lbl < adj.dst),
         comp AS (SELECT node, min(lbl) AS component FROM r GROUP BY node),
         ca AS (SELECT core.id, COALESCE(comp.component, core.id) AS cluster
                FROM core LEFT JOIN comp ON comp.node = core.id),
         ba AS (SELECT nb.id, min(nb.nb) AS mnb
                FROM nb JOIN ca ON ca.id = nb.nb
                WHERE nb.id NOT IN (SELECT id FROM core)
                GROUP BY nb.id),
         bd AS (SELECT ba.id, ca.cluster FROM ba JOIN ca ON ca.id = ba.mnb),
         asg AS (SELECT id, 'core' AS role, cluster FROM ca
                 UNION ALL SELECT id, 'border', cluster FROM bd),
         ns AS (SELECT vec_id AS id, 'noise' AS role,
                  CAST(-1 AS BIGINT) AS cluster
                FROM q WHERE vec_id NOT IN (SELECT id FROM asg))
         SELECT CAST(id AS BIGINT) AS vec_id, role,
           CAST(cluster AS BIGINT) AS cluster_id
         FROM (SELECT * FROM asg UNION ALL SELECT * FROM ns)
         ORDER BY vec_id""",
  )
}
