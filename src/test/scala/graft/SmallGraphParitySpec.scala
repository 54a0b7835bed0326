package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-16 optimization pins: every operator gated by the SmallGraph
  * COST kernel must produce BIT-IDENTICAL rows (and schema) on both
  * physical paths. Fixtures are tie-heavy on purpose: duplicate +
  * reversed edges (dedup), vote ties (label-prop smallest-label rule),
  * equal-distance relaxations, negative ids (pmod vs % divergence), and
  * seeds present/absent — the places a replay diverges first. The DuckDB
  * oracle independently replays the same arithmetic at every Verify gate; this
  * spec is the in-repo witness that flipping `graft.graph.smallKernel`
  * can never move a bit. Fixtures plant null keys too: both routes must
  * drop those rows (the SmallGraph.route null-key policy). */
class SmallGraphParitySpec extends SparkSpecBase {

  private def bothWays(f: => DataFrame): Unit = {
    import graft.operators.SmallGraph.kernelRoutes
    spark.conf.unset("graft.graph.smallKernel")
    val before = kernelRoutes.get
    val localDf = f
    // A gate that silently falls through (say, a non-Long key) would
    // compare distributed with distributed and prove nothing.
    assert(kernelRoutes.get > before,
      "default side never took a kernel route")
    val local = localDf.collect().toSeq
    val localSchema = localDf.schema
    spark.conf.set("graft.graph.smallKernel", "false")
    try {
      val forced = kernelRoutes.get
      val distDf = f
      assert(kernelRoutes.get == forced,
        "smallKernel=false side still took a kernel route")
      val dist = distDf.collect().toSeq
      // Names + types must match exactly; nullability may differ (it is
      // input-dependent on the distributed path — parquet columns are
      // nullable, spec fixtures are not — and neither the parquet dump
      // nor the DuckDB compare distinguishes required from optional).
      def shape(s: org.apache.spark.sql.types.StructType) =
        s.fields.map(f => (f.name, f.dataType)).toSeq
      assert(shape(localSchema) == shape(distDf.schema),
        s"schema drift: $localSchema vs ${distDf.schema}")
      assert(local.map(_.toString).sorted == dist.map(_.toString).sorted,
        "row-set drift between SmallGraph kernel and distributed loop")
      assert(local.nonEmpty, "parity fixture produced no rows")
    } finally spark.conf.unset("graft.graph.smallKernel")
  }

  // Hub 1 → {2,3,4,5}, chain 5-6-7, triangle 2-3-4, duplicate and
  // reversed duplicates, a 2-cycle, a negative-id appendage, and a null
  // key on either side.
  private def rawEdges = {
    import spark.implicits._
    (Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (5L, 6L), (6L, 7L),
      (2L, 3L), (3L, 4L), (2L, 4L), (4L, 2L), (1L, 2L), (7L, 1L),
      (-3L, 1L), (-3L, -6L)).map { case (s, d) => (Option(s), Option(d)) } ++
      Seq((None, Some(9L)), (Some(8L), None))).toDF("src", "dst")
  }

  // canonical() already drops null endpoints, so plant one after it.
  private def canonEdges = {
    import spark.implicits._
    graft.operators.Triangles.canonical(rawEdges, "src", "dst")
      .unionByName(Seq((Option.empty[Long], Option(9L))).toDF("lo", "hi"))
  }

  test("pagerank kernel == distributed loop") {
    bothWays(graft.operators.PageRank.run(rawEdges, "src", "dst",
      iterations = 7))
  }

  test("ppr kernel == distributed loop (mod-3 seeds incl. negatives)") {
    bothWays(graft.operators.Ppr.run(rawEdges, "src", "dst",
      isSeed = n => pmod(n, lit(3L)) === 0, iterations = 7,
      isSeedLocal = n => java.lang.Math.floorMod(n, 3L) == 0L))
  }

  test("bfs kernel == distributed loop (negative seed via floorMod)") {
    bothWays(graft.operators.Bfs.hopSummary(canonEdges, seedsMod = 3,
      rounds = 4))
  }

  test("kcore kernel == distributed loop") {
    bothWays(graft.operators.KCore.peelSummary(canonEdges, k = 2,
      rounds = 4))
  }

  test("labelprop kernels == distributed loop (vote ties)") {
    bothWays(graft.operators.LabelProp.propagateSummary(canonEdges,
      rounds = 3))
    bothWays(graft.operators.LabelProp.finalLabels(canonEdges, rounds = 3))
  }

  test("ktruss kernel == distributed loop") {
    bothWays(graft.operators.KTruss.trussSummary(canonEdges, k = 3,
      rounds = 3))
  }

  test("closeness kernel == distributed loop") {
    bothWays(graft.operators.Closeness.harmonicSummary(canonEdges,
      seedsMod = 3, rounds = 3))
  }

  test("hits kernel == distributed loop (renorm ties)") {
    import spark.implicits._
    // Bipartite with duplicate pairs and score ties after renorm.
    val e = (Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 11L), (3L, 12L),
      (3L, 10L), (1L, 10L), (4L, 12L), (4L, 13L))
      .map { case (c, p) => (Option(c), Option(p)) } ++
      Seq((Some(5L), None))).toDF("c", "p")
    bothWays(graft.operators.Hits.topHubsAuthorities(e, "c", "p",
      rounds = 3, k = 3))
  }

  test("random-walk kernel == distributed loop (md5 picks)") {
    import spark.implicits._
    val li = rawEdges
    val sym = li.unionAll(li.select(col("dst").as("src"),
      col("src").as("dst")))
    bothWays(graft.operators.RandomWalk.walkSummary(sym, "src", "dst",
      seedsMod = 3, steps = 6))
  }

  test("sssp kernel == distributed loop (parallel edges min-collapse)") {
    import spark.implicits._
    val weighted = (Seq((1L, 2L, 5L), (1L, 2L, 3L), (2L, 3L, 1L),
      (3L, 1L, 2L), (2L, 4L, 7L), (4L, 5L, 1L), (-3L, 1L, 2L),
      (1L, -3L, 9L), (5L, 6L, 4L))
      .map { case (s, d, w) => (Option(s), Option(d), Option(w)) } ++
      Seq((None, Some(2L), Some(1L)), (Some(6L), Some(7L), None)))
      .toDF("src", "dst", "w")
    bothWays(graft.operators.Sssp.distanceSummary(weighted, seedsMod = 3,
      rounds = 4))
  }

  test("eccentricity / anf kernels == distributed loops") {
    bothWays(graft.operators.Eccentricity.summary(canonEdges, seedsMod = 3,
      rounds = 3))
    bothWays(graft.operators.Anf.profile(canonEdges, seedsMod = 3,
      rounds = 3))
  }

  test("katz kernel == distributed loop (truncating attenuation)") {
    bothWays(graft.operators.Katz.topK(canonEdges, alphaDen = 2,
      iterations = 5, k = 10))
  }

  test("betweenness kernel == distributed loop (sigma/delta floors)") {
    bothWays(graft.operators.Betweenness.topK(canonEdges, seedsMod = 2,
      rounds = 3, k = 10))
  }

  test("minhash near-dup kernel == distributed chain (planted null id)") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    val docs = Seq((Some(1L), base), (Some(2L), base + " today"),
      (Some(3L), "an entirely different sentence about spark plans"),
      (None, base)).toDF("id", "text")
    bothWays(graft.llm.Dedup.minhashNearDuplicates(docs, "id", "text"))
  }

  test("k-means kernel == distributed Lloyd loop (planted null id)") {
    import spark.implicits._
    def v(base: Float) = Seq.tabulate(4)(i => base + i * 0.001f)
    val pts = ((0L until 6L).map(i => (Option(i), v(0.0f))) ++
      (6L until 12L).map(i => (Option(i), v(5.0f))) :+
      ((None, v(-5.0f)))).toDF("vec_id", "embedding")
    bothWays(graft.llm.DetKMeans.fit(pts, "vec_id", "embedding", k = 2,
      iters = 3, dim = 4)._1)
  }

  // Registry-level kernels (wedge/triangle family): run the REGISTERED
  // query both ways on real sf0.001 data — the strongest in-repo parity
  // witness for the per-query kernels (the DuckDB oracle at sf0.01 is
  // the independent one, exercised by every Verify gate).
  private val sf = "/root/testdata/sf0.001"
  for (q <- Seq("q_graph_triangles", "q_graph_clustering_coef",
      "q_graph_jaccard_sim", "q_graph_rectangles", "q_graph_link_pred",
      "q_graph_rich_club", "q_graph_assortativity",
      // DetKMeans bounded-Lloyd kernel consumers (fit / fitGrouped /
      // assignTo / assignToGrouped all exercised by these four):
      "q_llm_kmeans_det", "q_llm_semdedup_det", "q_llm_ann_pq",
      "q_llm_ann_ivfpq_rerank",
      // r17 whole-chain kernels: PqDet (full PQ / IVFADC in one task),
      // SemDedup.detPairsKernel (bounded pairing), the string-id
      // WeightedPageRank / Scc kernels:
      "q_llm_ann_pq_rerank", "q_llm_ann_ivfpq", "q_llm_semdedup",
      "q_llm_semdedup_eval", "q_llm_keywords", "q_graph_scc_pivot",
      // whole-chain LSH near-dup kernels (xxhash64 / md5 sketches,
      // banding, bucket caps, screens, exact verifies):
      "q_llm_minhash_neardup", "q_llm_simhash_neardup",
      // posting/sliding-seed chains (hot-gram caps, islands):
      "q_llm_containment", "q_llm_dup_regions"))
    test(s"$q kernel == distributed plan at sf0.001") {
      bothWays(SparkEntry.queries(q)(spark, sf))
    }
}
