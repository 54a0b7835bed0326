package graft.llm

/** COST-gated single-task kernels for the DETERMINISTIC PQ / IVF-PQ
  * pipelines (q_llm_ann_pq, q_llm_ann_pq_rerank, q_llm_ann_ivfpq,
  * q_llm_ann_ivfpq_rerank) — the [[graft.operators.SmallGraph]] contract
  * applied to the whole index-train-encode-probe chain instead of each
  * Lloyd fit separately.
  *
  * Why: under the gate the chain previously still paid per-STAGE costs —
  * two collected codebooks (a scheduler job each at plan time), four
  * persists pinning KB-scale lineage, a posexplode into m subspace
  * groups, and a 4-relation join tree for the ADC sum (the r16 plan for
  * q_llm_ann_ivfpq_rerank was 126 operators / 28 exchanges). One
  * executor task replays the IDENTICAL arithmetic end to end: coarse
  * integer Lloyd (md5 seeds, smallest-cid ties, floor(sum/n) updates),
  * nearest-centroid cells, exact integer residuals, per-subspace Lloyd
  * with the shared (md5(id), id) seed order, nearest-code encoding, the
  * (dist², cid)-ordered probe, per-cell residual ADC tables, and the
  * exact full-precision refine distance. Every number is an integer, so
  * no accumulation order can move a bit; the DuckDB oracle replays the
  * same chain independently at every Verify gate, and
  * PqDetParitySpec runs kernel-vs-distributed on real data.
  *
  * The distributed formulation in RegistryLlmSim is untouched and
  * auto-selected above the gate — the 100 TB path. */
object PqDet {

  private def sqDist(a: Array[Long], b: Array[Long]): Long = {
    var d = 0L
    var i = 0
    while (i < a.length) { val x = a(i) - b(i); d += x * x; i += 1 }
    d
  }

  /** Nearest centroid id, ties to the smallest cid — the
    * [[DetKMeans.assignTo]] min(struct(d, cid)) contract. */
  private[graft] def nearest(u: Array[Long],
                             cents: Seq[(Long, Array[Long])]): Long = {
    require(cents.nonEmpty, "nearest centroid of an empty codebook")
    var bestC = -1L
    var bestD = Long.MaxValue
    cents.foreach { case (cid, c) =>
      val d = sqDist(u, c)
      if (d < bestD || (d == bestD && cid < bestC)) { bestD = d; bestC = cid }
    }
    bestC
  }

  private def slice(u: Array[Long], g: Int, subDim: Int): Array[Long] =
    java.util.Arrays.copyOfRange(u, g * subDim, (g + 1) * subDim)

  /** Whole-PQ kernel over (id, u) unit points: per-subspace codebooks
    * (the fitGrouped arithmetic), nearest-code encoding, ADC against
    * query id 0. Emits one row per point: (id, adc_dist, exact_dist)
    * where exact_dist is the full-precision integer L2 to the query —
    * the refine relation, free here because the full vectors are in
    * hand. Missing query id → empty output (the distributed chain's
    * empty-probe behavior). */
  private[graft] def pqAdcKernel(it: Iterator[(Long, Seq[Long])],
      m: Int, subDim: Int, kCodes: Int,
      iters: Int): Iterator[(Long, Long, Long)] = {
    val pts = it.map { case (id, u) => (id, u.toArray) }.toArray
    val q = pts.find(_._1 == 0L)
    if (q.isEmpty) return Iterator.empty
    val qu = q.get._2
    val adc = new Array[Long](pts.length)
    var g = 0
    while (g < m) {
      val sub = pts.map { case (id, u) => (id, slice(u, g, subDim)) }
      val (_, cb) = DetKMeans.lloydCore(sub, kCodes, iters)
      val qs = slice(qu, g, subDim)
      val qd = cb.map { case (cid, c) => cid -> sqDist(qs, c) }.toMap
      var p = 0
      while (p < pts.length) {
        adc(p) += qd(nearest(sub(p)._2, cb))
        p += 1
      }
      g += 1
    }
    pts.iterator.zipWithIndex.map { case ((id, u), p) =>
      (id, adc(p), sqDist(u, qu))
    }
  }

  /** Whole-IVFADC kernel (FAISS IVFPQ with residual codebooks): coarse
    * Lloyd → cells → exact integer residuals → per-subspace residual
    * codebooks → codes → probe the `nprobe` (dist², cid)-smallest cells
    * → per-cell residual ADC. Emits (id, adc_dist, exact_dist) for
    * points in probed cells only — exactly the distributed chain's
    * probe-semi-join output. */
  private[graft] def ivfPqAdcKernel(it: Iterator[(Long, Seq[Long])],
      kCoarse: Int, coarseIters: Int, m: Int, subDim: Int, kCodes: Int,
      pqIters: Int, nprobe: Int): Iterator[(Long, Long, Long)] = {
    val pts = it.map { case (id, u) => (id, u.toArray) }.toArray
    val q = pts.find(_._1 == 0L)
    if (q.isEmpty) return Iterator.empty
    val qu = q.get._2
    val (_, coarse) = DetKMeans.lloydCore(pts, kCoarse, coarseIters)
    val byCid = coarse.toMap
    val cell = pts.map { case (_, u) => nearest(u, coarse) }
    val res = Array.tabulate(pts.length) { p =>
      val u = pts(p)._2
      val c = byCid(cell(p))
      Array.tabulate(u.length)(i => u(i) - c(i))
    }
    val probed = coarse.map { case (cid, c) => (sqDist(c, qu), cid) }
      .sorted.take(nprobe).map(_._2).toSet
    val qres = coarse.collect { case (cid, c) if probed(cid) =>
      cid -> Array.tabulate(qu.length)(i => qu(i) - c(i))
    }.toMap
    val adc = new Array[Long](pts.length)
    var g = 0
    while (g < m) {
      val sub = Array.tabulate(pts.length)(p =>
        (pts(p)._1, slice(res(p), g, subDim)))
      val (_, cb) = DetKMeans.lloydCore(sub, kCodes, pqIters)
      val qdByCell = qres.map { case (cid, qr) =>
        val qs = slice(qr, g, subDim)
        cid -> cb.map { case (code, c) => code -> sqDist(qs, c) }.toMap
      }
      var p = 0
      while (p < pts.length) {
        if (probed(cell(p)))
          adc(p) += qdByCell(cell(p))(nearest(sub(p)._2, cb))
        p += 1
      }
      g += 1
    }
    pts.iterator.zipWithIndex.collect {
      case ((id, u), p) if probed(cell(p)) => (id, adc(p), sqDist(u, qu))
    }
  }
}
