package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the contract of [[Bench.anchors]]: the
  * anchor set is a FROZEN, append-only series — cross-round fresh-JVM
  * comparability dies the moment an entry is renamed or dropped — and
  * every anchor must resolve in the registry so the fresh-JVM run can
  * never silently skip one. */
class AnchorBenchSpec extends AnyFunSuite {

  /** The r16 founding membership. Entries may be APPENDED to
    * Bench.anchors in later rounds; every name below must remain
    * present verbatim forever. */
  private val r16Frozen = Seq(
    "q_d8_group_category", "q_j1_lateral_top1", "q_agg1_pricing_summary",
    "q_llm_ann_brute", "q_llm_exact_dedup", "q_graph_pagerank",
    "q_s1_csv_roundtrip", "q_s2_xlsx_read", "q_s3_xls_read",
    "q_h1_header_detect", "q_p5_validate_quarantine",
    "q_d1_dedup_first_wins", "q_j_broadcast_dims", "q_o1_latest",
    "q_u1_upsert", "q_w_running_total", "q_fee_flagship",
    "q_agg_heavy_hitters", "q_stats_tost", "q_ts_dtw",
    "q_ts_perm_entropy", "q_e_shapley_attribution", "q_mm_phash",
    "q_mm_vad", "q_sketch_hll_intersect", "q_exp_srm",
    "q_gov_cl_diversity",
    "q_llm_bpe", "q_llm_compress_ratio", "q_llm_decontaminate",
    "q_llm_pii_scrub", "q_llm_cdc_chunks", "q_llm_ngram_jaccard",
    "q_llm_langid", "q_llm_ann_pq", "q_layout_hilbert",
    "q_llm_er_linkage", "q_llm_nfc",
    "q_graph_ktruss", "q_graph_betweenness", "q_llm_semdedup",
    "q_llm_minhash_neardup", "q_llm_ann_ivfpq_rerank")

  test("r16 frozen membership is intact (append-only contract)") {
    val missing = r16Frozen.filterNot(Bench.anchors.contains)
    assert(missing.isEmpty,
      s"anchor series broken - renamed/removed: ${missing.mkString(", ")}")
    assert(r16Frozen.size == 43)
  }

  test("every anchor is a registered query, no duplicates") {
    val unknown = Bench.anchors.filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"unknown anchors: ${unknown.mkString(", ")}")
    assert(Bench.anchors.distinct.size == Bench.anchors.size)
  }

  test("anchor compact stdout keys stay unique") {
    val keys = Bench.anchors.map(Bench.benchKey)
    assert(keys.distinct.size == keys.size,
      s"colliding keys: ${keys.diff(keys.distinct).mkString(", ")}")
  }
}
