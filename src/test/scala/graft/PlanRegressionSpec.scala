package graft

import org.apache.spark.sql.DataFrame

/** Plan-regression guards: the physical-plan properties PLANS.md documents
  * must keep holding (a silent regression to a shuffle join or a full scan
  * is a perf bug even when results stay correct). */
class PlanRegressionSpec extends SparkSpecBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    graft.queries.Registry.configure(spark)
    val df: DataFrame = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("Q3 shape: global top-10 rewrites to TakeOrderedAndProject and " +
      "the segment dimension broadcasts") {
    val p = plan("q_sql_shipping_priority")
    assert(p.contains("TakeOrderedAndProject(limit=10"), s"plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
  }

  test("Q4 shape: the EXISTS probe stays a semi join (never materializes " +
      "lineitem matches)") {
    val p = plan("q_sql_order_priority_check")
    assert(p.contains("LeftSemi"), s"plan:\n$p")
  }

  test("keyset pagination: cursor predicate pushes to the scan and the " +
      "page fetch is a distributed top-20") {
    val p = plan("q_w_keyset_pagination")
    assert(p.contains("TakeOrderedAndProject(limit=20"), s"plan:\n$p")
    assert(p.contains("PushedFilters"), s"plan:\n$p")
  }

  test("Q17 shape: the decorrelated per-part average probe keeps the part " +
      "dimension broadcast and never goes cartesian") {
    val p = plan("q_sql_small_qty_revenue")
    assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
  }

  test("broadcast dims: both dimension joins broadcast, no sort-merge join") {
    val p = plan("q_j_broadcast_dims")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("status filter pushes both predicates into the parquet scan") {
    val p = plan("q_p6_status_filter")
    assert(p.contains("PushedFilters"))
    assert(p.contains("EqualTo(o_orderstatus,F)"))
    assert(p.contains("GreaterThan(o_total")) // toString elides long filter lists
  }

  test("dedup window gets partial rank-limit before the shuffle") {
    val p = plan("q_d1_dedup_first_wins")
    assert(p.contains("WindowGroupLimit"))
  }

  test("KMV sketch: the per-group k-th-smallest rank filter prunes " +
      "map-side via WindowGroupLimit") {
    val p = plan("q_sketch_kmv")
    assert(p.contains("WindowGroupLimit"))
  }

  test("Mann-Kendall pair sweep broadcasts the bounded daily relation") {
    val p = plan("q_stats_mann_kendall")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("theta sketch: the unpartitioned bottom-k rank filters rewrite " +
      "to TakeOrderedAndProject(64) — map-side top-k, no full sort") {
    val p = plan("q_sketch_theta")
    // Stronger than WindowGroupLimit: Spark turns the global
    // row_number-then-filter into a distributed TakeOrdered.
    assert(p.contains("TakeOrderedAndProject(limit=64"), s"plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
  }

  test("self-BLEU: the panel relations broadcast — the corpus n-gram " +
      "passes never sort-merge-join") {
    val p = plan("q_llm_self_bleu")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("OLS/ANOVA/Welch: single-pass conditional aggregates — no join, " +
      "no window, one exchange per aggregate") {
    for (q <- Seq("q_stats_ols", "q_stats_anova", "q_stats_welch")) {
      val p = plan(q)
      assert(!p.contains("Join"), s"$q grew a join:\n$p")
      assert(!p.contains("WindowExec"), s"$q grew a window:\n$p")
    }
  }

  test("ANN brute force is scan + TakeOrdered, no shuffle exchange") {
    val p = plan("q_llm_ann_brute")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange hashpartitioning"))
  }

  test("pricing summary aggregates partially before its single exchange") {
    val p = plan("q_agg1_pricing_summary")
    // partial + final HashAggregate pairs around one hash exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert(p.contains("Exchange hashpartitioning"))
  }

  test("lateral top-1 rewrite: window + broadcast left join, filter pushed") {
    val p = plan("q_j1_lateral_top1")
    assert(p.contains("WindowGroupLimit"))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("EqualTo(o_orderstatus,F)"))
  }

  test("column pruning: pricing summary reads only the five needed columns") {
    val p = plan("q_agg1_pricing_summary")
    assert(p.contains("l_quantity"))
    assert(!p.contains("l_shipdate"), "unneeded column not pruned from scan")
  }

  test("Benford: the 9-row expected table and the total broadcast") {
    val p = plan("q_stats_benford")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("BroadcastNestedLoopJoin")) // the 1-row total
    assert(!p.contains("SortMergeJoin"))
  }

  test("Spearman: both value->rank lookups broadcast, no sort-merge join") {
    val p = plan("q_stats_spearman")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
    assert(!p.contains("SortMergeJoin"))
  }

  // (q_llm_dsir's lut broadcast is not pinnable here: the query returns a
  // localCheckpoint so the released token cache can't be re-read, and the
  // executed plan collapses to the checkpoint scan.)

  test("ANN recall: probe list and query set broadcast to the scans") {
    val p = plan("q_llm_ann_recall")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2)
  }

  test("batch ANN: broadcast queries, rank-limit pruned before the shuffle") {
    val p = plan("q_llm_ann_batch")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(p.contains("WindowGroupLimit"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("current view statically prunes to the current version's partition") {
    import spark.implicits._
    val store = new graft.store.VersionStore(spark,
      java.nio.file.Files.createTempDirectory("graft-prune").toString)
    def ingest(label: String, v: Int): Long = {
      val id = store.createVersion("PFS_GPCI", label,
        java.sql.Date.valueOf("2026-01-01"), None, s"hash$v", s"f$v.csv")
      store.writeData("cms.pfs_gpci", id,
        Seq((s"loc$v", v * 1.0)).toDF("mac_locality", "work_gpci"))
      store.completeVersion(id, 1, markCurrentFor = Some(("PFS_GPCI", None)))
      id
    }
    // More version directories than Spark lists on the driver (32), so a
    // listing of the whole table's history would show up as a job.
    (1 to 32).foreach(v => ingest(s"v$v", v))
    val current = ingest("v33", 33)
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    org.apache.spark.SpecBus.drain(sc)
    sc.addSparkListener(listener)
    val view = try store.currentView("cms.pfs_gpci", "PFS_GPCI")
      finally { org.apache.spark.SpecBus.drain(sc); sc.removeSparkListener(listener) }
    assert(jobs.get == 0, "building a current view must launch no Spark job")
    val scan = view.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("no file scan in the current view's plan"))
    val files = scan.relation.location.inputFiles
    assert(files.nonEmpty && files.forall(_.contains(s"/data_version_id=$current/")),
      s"file index must hold only version $current's files: ${files.mkString(", ")}")
    val p = view.queryExecution.executedPlan.toString
    // a static partition filter, not a join: only the current version's files scanned
    assert(p.contains(s"data_version_id#") && p.contains(s"IN ($current)")
      || p.contains(s"data_version_id IN ($current)")
      || p.contains(s"= $current"), s"expected static partition filter in:\n$p")
    assert(!p.contains("Join"), "current view must not need a join")
    assert(view.collect().map(_.getAs[String]("mac_locality")).toSeq == Seq("loc33"))
  }

  test("a current view over more listed files than Spark lists on the driver launches no job") {
    val store = new graft.store.VersionStore(spark,
      java.nio.file.Files.createTempDirectory("graft-files").toString)
    val id = store.createVersion("PFS_GPCI", "v1",
      java.sql.Date.valueOf("2026-01-01"), None, "hash", "f.csv")
    val rows = spark.range(400).selectExpr("cast(id as string) as mac_locality",
      "cast(id as double) as work_gpci").repartition(40)
    store.writeData("cms.pfs_gpci", id, rows)
    store.completeVersion(id, 400, markCurrentFor = Some(("PFS_GPCI", None)))
    assert(store.metadata.versions.head.files.flatMap(_.names).size >= 40)
    var view: DataFrame = null
    assert(jobsIn { view = store.currentView("cms.pfs_gpci", "PFS_GPCI") } == 0,
      "building a current view must launch no Spark job")
    assert(view.count() == 400)
  }

  test("inverted index caps postings pre-shuffle via WindowGroupLimit") {
    val p = plan("q_llm_postings")
    assert(p.contains("WindowGroupLimit"),
      "posting cap must prune before the term shuffle, not after collect_list")
  }

  test("decontamination probes a broadcast semi-join, corpus side unshuffled") {
    val p = plan("q_llm_decontaminate")
    assert("BroadcastHashJoin .*, LeftSemi".r.findFirstIn(p).isDefined,
      s"benchmark gram set must broadcast-semi-join; got:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "the corpus must not shuffle to meet the benchmark grams")
  }

  test("span dedup prunes duplicate spans before the content shuffle") {
    val p = plan("q_llm_span_dedup")
    assert(p.contains("WindowGroupLimit"),
      "first-occurrence filter must rank-limit partial (hot boilerplate " +
        "spans ship only per-partition firsts)")
  }

  test("vocab top-k never materializes a global sort") {
    val p = plan("q_llm_vocab")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k plan; got:\n$p")
  }

  test("LM scoring broadcasts the model; the corpus never shuffle-joins") {
    val p = plan("q_llm_lm_score")
    assert(!p.contains("SortMergeJoin"),
      "model relations are vocabulary-sized and must broadcast")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"both model joins must broadcast; got:\n$p")
  }

  test("minhash signatures partial-aggregate map-side; pair join never SMJs") {
    val p = plan("q_llm_corpus_overlap")
    // The shuffle must carry one candidate min per partition per source,
    // not the gram relation: partial + final HashAggregate around the
    // exchange. The pair comparison is over tiny signature arrays — a
    // sort-merge join there means the broadcast was lost.
    assert("HashAggregate".r.findAllIn(p).size >= 2)
    assert(!p.contains("SortMergeJoin"))
  }

  test("ed-join candidate generation is equi-join + bounded NL, never cartesian") {
    val p = plan("q_llm_fuzzy_join")
    assert(!p.contains("CartesianProduct"),
      "prefix filtering degenerated to an all-pairs product")
  }

  test("TPC-H Q5/Q7 shapes: dims broadcast (nation twice in Q7), no cartesian") {
    val q5 = plan("q_agg_regional_volume")
    assert(!q5.contains("CartesianProduct"))
    assert(q5.contains("BroadcastHashJoin"))
    val q7 = plan("q_agg_trade_flow")
    assert(!q7.contains("CartesianProduct"))
    assert("BroadcastHashJoin".r.findAllIn(q7).size >= 2,
      "both nation aliases must broadcast")
  }

  test("native expressions stay inside WholeStageCodegen, never fall back") {
    // Each custom Catalyst expression must appear inside a codegen'd span
    // (executedPlan.toString marks those operators with '*'); a future
    // change that drops one to interpreted eval (CodegenFallback) or out
    // of whole-stage codegen turns the hot path into per-row reflection
    // and MUST fail here. The queries chosen exercise every native
    // expression: word_ngrams (ngram_jaccard), rolling_hash64 portable
    // (rolling_fp), top_ngram_chars (top_ngram), nfc_normalize (nfc),
    // bloom_any_contain (bloom_decon), pq_encode (ann_pq).
    val targets = Seq(
      "q_llm_ngram_jaccard" -> "word_ngrams",
      "q_llm_rolling_fp" -> "rolling_hash64",
      "q_llm_top_ngram" -> "top_ngram_chars",
      "q_llm_nfc" -> "nfc_normalize",
      "q_llm_bloom_decon" -> "md_bloom_any_contain",
      "q_llm_blocklist" -> "multi_pattern_matches",
      "q_llm_bpe" -> "bpe_encode",
      "q_llm_cosine_neardup" -> "float_dot",
      "q_llm_compress_ratio" -> "deflate_len",
      "q_llm_er_linkage" -> "jaro_winkler4",
      "q_layout_hilbert" -> "hilbert_index",
      "q_llm_kmeans_det" -> "long_sq_dist")
    // The pins are about the DISTRIBUTED plans' codegen spans — the
    // SmallGraph/Lloyd bounded kernels (q_llm_kmeans_det's default path
    // at fixture scale) evaluate inside a mapPartitions task and carry
    // no Catalyst expression to pin.
    spark.conf.set("graft.graph.smallKernel", "false")
    try targets.foreach { case (query, exprName) =>
      graft.queries.Registry.configure(spark)
      val df = SparkEntry.queries(query)(spark, sfDir)
      df.collect() // finalize the AQE plan so codegen spans are annotated
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CodegenFallback"),
        s"$query: $exprName fell back to interpreted eval")
      val inCodegenSpan = p.linesIterator.exists(l =>
        l.contains(exprName) && l.trim.stripPrefix("+- ").stripPrefix(":- ")
          .startsWith("*("))
      assert(inCodegenSpan,
        s"$query: no codegen'd operator contains $exprName; plan:\n$p")
    } finally spark.conf.unset("graft.graph.smallKernel")
    // pq_encode's registry carrier became the DetKMeans twin in r11, so
    // probe the expression directly: seeded fit + encode over sf0.001.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val model = graft.llm.Pq.fit(emb, "embedding", dim = 64, m = 4, k = 4,
      seed = 7)
    val enc = graft.llm.Pq.encode(emb, "embedding", model)
    enc.collect()
    val pe = enc.queryExecution.executedPlan.toString
    assert(!pe.contains("CodegenFallback"),
      "pq_encode fell back to interpreted eval")
    assert(pe.linesIterator.exists(l =>
      l.contains("pq_encode") && l.trim.stripPrefix("+- ").stripPrefix(":- ")
        .startsWith("*(")),
      s"no codegen'd operator contains pq_encode; plan:\n$pe")
  }

  test("binary ANN shortlist: TakeOrdered over the code scan, no corpus shuffle") {
    val p = plan("q_llm_ann_binary")
    assert(p.contains("TakeOrderedAndProject"))
    // the re-rank join of the 50-row shortlist must broadcast
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("hashed features form in ONE aggregate pair around one exchange") {
    val p = plan("q_llm_feat_hash")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "partial+final pair")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"gram stream must shuffle once (64 buffers), plan:\n$p")
  }

  test("winnowing runs one per-doc window sort, no corpus-wide window") {
    val p = plan("q_llm_winnow")
    assert(p.contains("Window"))
    assert(!p.contains("Window operation! Moving all data to a single"),
      "corpus-wide single-partition window")
    // selection + distinct: at most the window exchange and the distinct
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2)
  }

  test("SCD2 build: one hash exchange by key, windows share one sort") {
    val p = plan("q_scd2_dim")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"SCD2 must shuffle once by the dimension key; plan:\n$p")
    assert("\\[Sort ".r.findAllIn(p).size <= 2)
  }

  test("centroid classifier: model broadcasts; points never shuffle-join") {
    val p = plan("q_llm_centroid_clf")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "model must broadcast to the scoring scan")
    assert(!p.contains("SortMergeJoin"))
  }

  test("incremental agg: both sides partial-aggregate before the merge") {
    val p = plan("q_store_incr_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "state and delta must each carry a partial+final aggregate pair")
  }

  test("retention: cohort sizes broadcast; activity join never sort-merges") {
    val p = plan("q_e_retention")
    assert(p.contains("BroadcastHashJoin"),
      "the weeks-sized cohort relation must broadcast")
    assert(!p.contains("SortMergeJoin"))
  }

  test("histogram: 1-row extremes broadcast back; corpus never shuffles wide") {
    val p = plan("q_stats_histogram")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the (min, max) relation must broadcast to the binning scan")
    assert(!p.contains("SortMergeJoin"))
    // bin agg + the extremes agg: no global sort anywhere before the ORDER BY
    assert("Exchange rangepartitioning".r.findAllIn(p).size <= 1,
      "only the final presentation sort may range-partition")
  }

  test("bucketed join: the bucket layout satisfies the join distribution — " +
    "exactly one hash exchange in the plan, and it is the aggregation") {
    val p = plan("q_store_bucketed_join")
    assert(p.contains("SortMergeJoin"), "merge hint must hold")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1,
      s"bucketed scans must feed the join exchange-free (got $exchanges):\n$p")
    assert(p.contains("SelectedBucketsCount"), "scan must be bucket-aware")
  }

  test("winsorize: the per-type bands broadcast back; no relation-wide window") {
    val p = plan("q_qc_winsorize")
    assert(p.contains("BroadcastHashJoin"), "bands must broadcast to the scan")
    assert(!p.contains("SortMergeJoin"))
    assert(!p.contains("Window"), "no window over the event relation")
  }

  test("temporal join: equi-key join carries the interval as a post-join " +
    "condition, never a cartesian") {
    val p = plan("q_temporal_join")
    assert(!p.contains("CartesianProduct"), s"interval must not explode:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "join must keep the user_id equi-key")
  }

  test("attribution: one window pass, no self-join of conversions") {
    val p = plan("q_e_attribution")
    assert("Window".r.findAllIn(p).size >= 1)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "attribution must not join conversions against history")
  }

  test("OOV: the vocabulary broadcasts; the token stream never sort-merges") {
    val p = plan("q_llm_oov_rate")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("skyline: only the bounded champion relation sees the global window") {
    val p = plan("q_skyline_docs")
    // the corpus aggregates twice (points, champions) before any window
    assert("HashAggregate".r.findAllIn(p).size >= 4)
    assert(p.contains("Window"))
  }

  test("bm25 search: global top-k is TakeOrdered, never a global sort") {
    val p = plan("q_llm_search_bm25")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"),
      "top-k must not plan as a full distributed sort")
  }

  test("epoch shuffle: 256-row bucket offsets broadcast; the corpus window " +
      "stays bucket-partitioned") {
    val p = plan("q_llm_shuffle_batches")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    // the only unpartitioned window runs over the 256-row bucket relation;
    // the corpus-side row_number is partitioned by _bucket
    assert(p.contains("windowspecdefinition(_bucket"),
      "corpus ranks must window by bucket, not globally")
  }

  test("epoch shuffle: the batches tile the global ranks 1..N, 64 per batch") {
    graft.queries.Registry.configure(spark)
    val n = spark.read.parquet(s"$sfDir/documents.parquet").count()
    val batches = SparkEntry.queries("q_llm_shuffle_batches")(spark, sfDir)
      .select("batch_id", "n_docs", "rn_min", "rn_max").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(batches.map(_._2).sum == n)
    assert(batches.toSeq == (0L until (n + 63) / 64).map { b =>
      val hi = math.min(64 * b + 64, n)
      (b, hi - 64 * b, 64 * b + 1, hi)
    })
  }

  test("textrank keywords: top-20 is TakeOrdered, never a global sort") {
    // (the co-occurrence window and rank rounds sit behind the operator's
    // localCheckpoints — only the final rank/top-k plan is visible here)
    val p = plan("q_llm_keywords")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"),
      "top-k must not plan as a full distributed sort")
  }

  test("random walk step: the md5 pick rides the cur=src equi-join, " +
      "no cartesian") {
    import spark.implicits._
    val nbr = Seq((1L, 2L, 0L, 2L), (1L, 3L, 1L, 2L), (2L, 1L, 0L, 1L))
      .toDF("src", "dst", "idx", "outdeg")
    val walks = Seq((1L, 1L), (2L, 2L)).toDF("walk", "cur")
    val p = graft.operators.RandomWalk.step(walks, nbr, s = 1, salt = "t")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"pick predicate must be residual on the equi-join, got:\n$p")
  }

  test("masked-LM corruption: row-local channels, ONE doc-grouped exchange") {
    val p = plan("q_llm_mask_tokens")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "masking derives from md5 channels in-row — no join anywhere")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "doc aggregate partial-aggregates before its exchange")
  }

  test("basket rules: dimension + brand-count joins all broadcast, " +
      "top-20 is TakeOrdered, pair fan-out never self-joins") {
    val p = plan("q_mb_assoc_rules")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("TakeOrderedAndProject"))
    assert("Generate explode".r.findAllIn(p).size >= 2,
      "pairs come from the double explode, not a join")
  }

  test("calibration: one corpus aggregate; the 1-row ECE broadcasts " +
      "back onto the bins") {
    val p = plan("q_llm_calibration")
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"))
  }

  test("betweenness: the final accumulation is TakeOrdered, never a " +
      "global sort, and no cartesian shape leaks from the seed join") {
    // The lazy last backward level's (s, n)-keyed joins may legitimately
    // sort-merge (co-partitioned equi-joins — the right shape at scale);
    // what must never appear is a cartesian/unkeyed product. Pinned on
    // the DISTRIBUTED path (the default plan at fixture scale is the
    // SmallGraph kernel — pinned separately below).
    spark.conf.set("graft.graph.smallKernel", "false")
    val p = try plan("q_graph_betweenness")
      finally spark.conf.unset("graft.graph.smallKernel")
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("CartesianProduct"))
    // Kernel path: one MapPartitions task, no join of any kind.
    val pk = plan("q_graph_betweenness")
    assert(pk.contains("MapPartitions"), s"plan:\n$pk")
    assert(!pk.toLowerCase.contains("join"), s"plan:\n$pk")
  }

  test("nearest as-of: union-window shape holds — no join operator, " +
      "both directional carries share one key shuffle") {
    val p = plan("q_asof_nearest")
    assert(!p.toLowerCase.contains("join"), s"plan:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"expected exactly one key shuffle for both carries, got $exchanges:\n$p")
  }

  test("clustering depth: the sweep reads only the layout key") {
    val p = plan("q_store_clustering_depth")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint>"), s"plan:\n$p")
  }

  test("rec eval: the top-10 rec cut gets rank-limit pruning before " +
      "the anchor shuffle") {
    val p = plan("q_rec_eval")
    assert(p.contains("WindowGroupLimit"), s"plan:\n$p")
  }

  test("window funnel: the three conditional minima and the level " +
      "aggregate all reuse ONE user-keyed shuffle") {
    val p = plan("q_e_window_funnel")
    val userExchanges =
      "Exchange hashpartitioning\\(user_id".r.findAllIn(p).length
    assert(userExchanges == 1,
      s"expected one shared user shuffle, got $userExchanges:\n$p")
  }
}
