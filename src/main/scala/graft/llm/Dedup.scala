package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.SmallGraph

/** Document deduplication operators: exact, MinHash+LSH, SimHash, n-gram
  * Jaccard. Designed for the 100 TB shape: every candidate-generation path
  * is bucketed (band hash / bit-band grouping), so join cardinality is
  * bounded by bucket size — there is no all-pairs crossJoin anywhere. */
object Dedup {

  /** Exact dedup: group by content hash, keep the lowest id as the
    * canonical survivor. One hash-shuffle; survivors + duplicate counts. */
  def exactDuplicateGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("copies"))

  /** Incremental exact dedup — the production shape for a growing corpus:
    * dedup a NEW batch against the batch itself (first-wins by id) and
    * against the hashes of everything ALREADY ingested, without ever
    * re-reading historical text. `seen` is a relation of content hashes
    * (md5 hex, as [[exactDuplicateGroups]] computes them) — at 100 TB it
    * is the compact per-ingest artifact you maintain instead of re-hashing
    * history; here it joins as a LEFT SEMI probe (broadcast when small,
    * hash-co-partitioned when not — Catalyst picks by size).
    *
    * Returns every batch row with `content_hash`,
    * `is_batch_representative` (first occurrence within the batch) and
    * `is_new` (hash absent from `seen`); the rows to ingest are
    * `is_batch_representative AND is_new`. */
  def incrementalExact(batch: DataFrame, idCol: String, textCol: String,
                       seen: DataFrame, seenHashCol: String): DataFrame = {
    val hashed = batch.withColumn("content_hash", md5(col(textCol)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("content_hash").orderBy(col(idCol))
    val seenSet = seen.select(col(seenHashCol).as("_seen_hash")).distinct()
    hashed
      .withColumn("is_batch_representative",
        row_number().over(w) === 1)
      .join(seenSet, col("content_hash") === col("_seen_hash"), "left")
      .withColumn("is_new", col("_seen_hash").isNull)
      .drop("_seen_hash")
  }

  /** Word n-gram shingle set (distinct), the unit of Jaccard similarity.
    * Backed by the native codegen'd [[graft.expressions.WordNGrams]]
    * kernel; [[shinglesColumnApi]] keeps the original higher-order-function
    * formulation for the equivalence spec. */
  def shingles(text: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.expressions.WordNGrams(
      Bridge.expression(TextAnalysis.tokens(text)), n))
  }

  /** The pre-native Column-API shingle formulation (interpreted lambda per
    * gram) — retained only as the reference implementation that
    * WordNGramsSpec proves the native kernel bit-identical to. */
  private[graft] def shinglesColumnApi(text: Column, n: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    val count = size(toks) - (n - 1)
    array_distinct(
      when(count <= 0, array(concat_ws(" ", toks)))
        .otherwise(transform(sequence(lit(0), count - 1),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
  }

  /** Exact Jaccard over two shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  // Deterministic MinHash permutation constants (a·x + b mod p), generated
  // from a fixed LCG seed so runs and tests are reproducible.
  private val MinhashPrime = 2305843009213693951L // 2^61 - 1
  private[llm] def permConstants(numPerms: Int): (Array[Long], Array[Long]) = {
    var state = 42L
    def next(): Long = { state = state * 6364136223846793005L + 1442695040888963407L; state }
    val as = Array.fill(numPerms)(math.abs(next()) % (MinhashPrime - 1) + 1)
    val bs = Array.fill(numPerms)(math.abs(next()) % MinhashPrime)
    (as, bs)
  }

  /** MinHash signatures for a whole relation: explode the shingle sets and
    * take numPerms codegen'd `min(a_i·h+b_i mod p)` aggregates in ONE
    * groupBy(id) pass. h_i(S) = min over s∈S of (a_i·hash(s)+b_i) mod p;
    * multiplication wraps mod 2^64 then folds mod p — not a perfect
    * universal hash but uniform and, critically, deterministic.
    *
    * This deliberately avoids the `transform+aggregate` lambda formulation:
    * higher-order-function lambdas are interpreted per element (no
    * whole-stage codegen), which costs ~50× on wide corpora; the explode +
    * hash-aggregate plan is fully codegen'd and shuffles each doc id once. */
  def minhashSignatures(df: DataFrame, idCol: String, shingleCol: String,
                        numPerms: Int): DataFrame = {
    val (as, bs) = permConstants(numPerms)
    val exploded = df.select(col(idCol), explode(col(shingleCol)).as("_s"))
      .select(col(idCol), pmod(xxhash64(col("_s")), lit(MinhashPrime)).as("h"))
    val aggs = (0 until numPerms).map(i =>
      min(pmod(lit(as(i)) * col("h") + lit(bs(i)), lit(MinhashPrime))).as(s"_m$i"))
    exploded.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol), array((0 until numPerms).map(i => col(s"_m$i")): _*).as("sig"))
  }

  /** LSH banding: one row per (band_idx, band_hash, id). Docs sharing a band
    * hash are near-dup candidates. numPerms = bands × rowsPerBand. */
  def lshBands(df: DataFrame, idCol: String, sigCol: String,
               bands: Int, rowsPerBand: Int): DataFrame =
    df.select(col(idCol), posexplode(
      transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(concat_ws("_", slice(col(sigCol), b * rowsPerBand + 1, lit(rowsPerBand))))))
      .as(Seq("band_idx", "band_hash")))

  /** End-to-end MinHash-LSH near-duplicate pairs with exact-Jaccard
    * verification. Candidate pairs come only from shared LSH buckets
    * (self-join per bucket, id< id to halve), then are verified against the
    * true shingle-set Jaccard. maxBucket caps pathological buckets (boiler-
    * plate text) so a hot bucket cannot quadratically blow up a worker. */
  def minhashNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                            shingleSize: Int = 3, numPerms: Int = 64,
                            bands: Int = 16, threshold: Double = 0.5,
                            maxBucket: Int = 1000): DataFrame = {
    val rowsPerBand = numPerms / bands
    // COST gate (SmallGraph): signatures, banding, bucket caps, the
    // signature screen and the exact-Jaccard verify in ONE executor
    // task over the per-doc shingle arrays (the shingling itself stays
    // the native in-plan WordNGrams kernel) — instead of 3 persists +
    // a bucket window + self-join + two verify joins (~14 scheduler
    // jobs at dev scale). Same xxhash64/perm/band/round arithmetic —
    // the DuckDB oracle independently recomputes the J ≥ τ pair set.
    // Distributed chain below unchanged — the 100 TB shape.
    SmallGraph.route(docs, Seq(idCol),
        cols = Seq(col(idCol), shingles(col(textCol), shingleSize)))(
        minhashNearDupKernel(_, numPerms, bands, rowsPerBand, threshold,
          maxBucket), "id_a", "id_b", "jaccard") { docs =>
      val withShingles = docs.select(col(idCol).as("id"),
          shingles(col(textCol), shingleSize).as("sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val sigs = minhashSignatures(withShingles, "id", "sh", numPerms)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bandsDf = lshBands(sigs, "id", "sig", bands, rowsPerBand)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val bounded = bandsDf.withColumn("_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("band_idx", "band_hash")))
        .filter(col("_n") <= maxBucket).drop("_n")
      val candidates = bounded.as("l")
        .join(bounded.as("r"),
          col("l.band_idx") === col("r.band_idx") &&
            col("l.band_hash") === col("r.band_hash") &&
            col("l.id") < col("r.id"))
        .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
        .distinct()
      // Two-stage verification: a codegen'd signature screen first (64
      // unrolled slot-equality terms estimate Jaccard; generous margin of
      // 3.5 sigma ~ 0.22 so true positives survive), then the exact
      // shingle-set Jaccard only on screen survivors. On organic corpora the
      // screen discards most band-collision noise at ~1% of the exact cost;
      // the final filter stays exact either way.
      val sigById = sigs.select(col("id"), col("sig"))
      val margin = 3.5 * math.sqrt(threshold * (1 - threshold) / numPerms)
      val screened = candidates
        .join(sigById.withColumnRenamed("id", "id_a").withColumnRenamed("sig", "sig_a"), "id_a")
        .join(sigById.withColumnRenamed("id", "id_b").withColumnRenamed("sig", "sig_b"), "id_b")
        .filter(
          (0 until numPerms)
            .map(i => when(element_at(col("sig_a"), i + 1) === element_at(col("sig_b"), i + 1), 1)
              .otherwise(0))
            .reduce(_ + _) >= math.floor((threshold - margin) * numPerms).toInt)
        .select("id_a", "id_b")
      val sh = withShingles.select(col("id"), col("sh"))
      screened
        .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .select(col("id_a"), col("id_b"), round(jaccard(col("sh_a"), col("sh_b")), 4).as("jaccard"))
        .filter(col("jaccard") >= threshold)
    }
  }

  /** Bounded single-task replay of [[minhashNearDuplicates]] over per-doc
    * shingle arrays: identical xxhash64 signatures (seed 42, the Spark
    * expression's own hash via XxHash64Function), identical band hashes
    * (xxhash64 of the "_"-joined band slice — concat_ws casts the longs
    * to decimal strings), the maxBucket window cap, the signature
    * screen, and the exact-Jaccard verify with Spark's round(j, 4)
    * HALF_UP semantics (BigDecimal.valueOf — the codegen path). Docs
    * with empty shingle arrays drop out exactly as the explode does. */
  private[llm] def minhashNearDupKernel(it: Iterator[(Long, Seq[String])],
      numPerms: Int, bands: Int, rowsPerBand: Int, threshold: Double,
      maxBucket: Int): Iterator[(Long, Long, Double)] = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.unsafe.types.UTF8String
    val P = MinhashPrime
    val (as, bs) = permConstants(numPerms)
    val docs = it.collect { case (id, sh) if sh.nonEmpty =>
      (id, sh.toArray)
    }.toArray
    def xx(s: String): Long = XxHash64Function.hash(
      UTF8String.fromString(s), org.apache.spark.sql.types.StringType, 42L)
    val sigs = docs.map { case (_, sh) =>
      val sig = Array.fill(numPerms)(Long.MaxValue)
      sh.foreach { s =>
        val h = { val x = xx(s) % P; if (x < 0) x + P else x }
        var i = 0
        while (i < numPerms) {
          val v = { val x = (as(i) * h + bs(i)) % P; if (x < 0) x + P else x }
          if (v < sig(i)) sig(i) = v
          i += 1
        }
      }
      sig
    }
    // LSH buckets with the maxBucket cap, then distinct candidates.
    val buckets = scala.collection.mutable.HashMap
      .empty[(Int, Long), scala.collection.mutable.ArrayBuffer[Int]]
    docs.indices.foreach { d =>
      var b = 0
      while (b < bands) {
        val key = sigs(d).slice(b * rowsPerBand, (b + 1) * rowsPerBand)
          .mkString("_")
        buckets.getOrElseUpdate((b, xx(key)),
          scala.collection.mutable.ArrayBuffer.empty[Int]) += d
        b += 1
      }
    }
    val cand = scala.collection.mutable.LinkedHashSet.empty[(Int, Int)]
    buckets.valuesIterator.foreach { ms =>
      if (ms.size <= maxBucket) {
        var x = 0
        while (x < ms.size) {
          var y = x + 1
          while (y < ms.size) {
            val (i, j) = (ms(x), ms(y))
            if (docs(i)._1 < docs(j)._1) cand += ((i, j))
            else if (docs(j)._1 < docs(i)._1) cand += ((j, i))
            y += 1
          }
          x += 1
        }
      }
    }
    // Signature screen (same margin formula), then exact Jaccard.
    val margin = 3.5 * math.sqrt(threshold * (1 - threshold) / numPerms)
    val minAgree = math.floor((threshold - margin) * numPerms).toInt
    val shSets = docs.map(d => d._2.toSet)
    cand.iterator.flatMap { case (i, j) =>
      var agree = 0
      var p = 0
      while (p < numPerms) {
        if (sigs(i)(p) == sigs(j)(p)) agree += 1
        p += 1
      }
      if (agree < minAgree) None
      else {
        val (sa, sb) = (shSets(i), shSets(j))
        val inter = sa.count(sb.contains)
        val union = sa.size + sb.size - inter
        val jac =
          if (union == 0) 0.0
          else java.math.BigDecimal.valueOf(inter.toDouble / union.toDouble)
            .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
        if (jac >= threshold) Some((docs(i)._1, docs(j)._1, jac)) else None
      }
    }
  }

  /** Bounded single-task replay of [[simhashNearDuplicates]] over per-doc
    * token arrays: identical md5 hi/lo bit sums (tie → 0 bit), 4×16-bit
    * banding, maxBucket cap, Hamming verify. Empty-token docs drop out
    * exactly as the explode does. */
  private[llm] def simhashNearDupKernel(it: Iterator[(Long, Seq[String])],
      maxDist: Int, maxBucket: Int): Iterator[(Long, Long, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hexChars = "0123456789abcdef".toCharArray
    def md5Hex16(s: String): String = {
      md.reset()
      val dg = md.digest(s.getBytes("UTF-8"))
      val out = new Array[Char](16)
      var i = 0
      while (i < 8) {
        out(2 * i) = hexChars((dg(i) >> 4) & 0xf)
        out(2 * i + 1) = hexChars(dg(i) & 0xf)
        i += 1
      }
      new String(out)
    }
    val docs = it.collect { case (id, toks) if toks.nonEmpty =>
      val sums = new Array[Long](64)
      toks.foreach { t =>
        val hex = md5Hex16(t)
        val hi = java.lang.Long.parseLong(hex.substring(0, 8), 16)
        val lo = java.lang.Long.parseLong(hex.substring(8, 16), 16)
        var j = 0
        while (j < 64) {
          val half = if (j < 32) lo else hi
          sums(j) += (if (((half >> (j % 32)) & 1L) == 1L) 1L else -1L)
          j += 1
        }
      }
      var fp = 0L
      var j = 0
      while (j < 64) {
        if (sums(j) > 0) fp += (1L << j)
        j += 1
      }
      (id, fp)
    }.toArray
    val buckets = scala.collection.mutable.HashMap
      .empty[(Int, Long), scala.collection.mutable.ArrayBuffer[Int]]
    docs.indices.foreach { d =>
      var b = 0
      while (b < 4) {
        buckets.getOrElseUpdate((b, (docs(d)._2 >>> (b * 16)) & 0xFFFFL),
          scala.collection.mutable.ArrayBuffer.empty[Int]) += d
        b += 1
      }
    }
    val cand = scala.collection.mutable.LinkedHashSet.empty[(Int, Int)]
    buckets.valuesIterator.foreach { ms =>
      if (ms.size <= maxBucket) {
        var x = 0
        while (x < ms.size) {
          var y = x + 1
          while (y < ms.size) {
            val (i, j) = (ms(x), ms(y))
            if (docs(i)._1 < docs(j)._1) cand += ((i, j))
            else if (docs(j)._1 < docs(i)._1) cand += ((j, i))
            y += 1
          }
          x += 1
        }
      }
    }
    cand.iterator.flatMap { case (i, j) =>
      val ham = java.lang.Long.bitCount(docs(i)._2 ^ docs(j)._2).toLong
      if (ham <= maxDist) Some((docs(i)._1, docs(j)._1, ham)) else None
    }
  }

  /** Pair-count gate below which [[connectedComponents]] solves the
    * component fixpoint with a driver-side union-find instead of iterative
    * Spark rounds. A near-dup pair list this small costs more in
    * per-round scheduling (each label-propagation round is a join + agg +
    * checkpoint + convergence count) than the whole problem costs in
    * memory: ≤1M (long, long) pairs is ~16 MB — a bounded driver read of
    * the same class as the BPE merge table or k-means centroids. */
  val SmallGraphMaxPairs: Long = 1L << 20

  /** Connected components over an undirected near-dup pair list
    * (id_a, id_b): iterative min-label propagation — each round every node
    * takes the minimum label among itself and its neighbors, until no label
    * changes. Rounds are bounded by the component diameter; near-duplicate
    * clusters are dense in practice (a dup of A and a dup of B are usually
    * dups of each other), so diameters — and round counts — stay small even
    * when the corpus is huge. Each round ends in a localCheckpoint: without
    * it the iterated plan nests one join deeper per round and Catalyst
    * re-analysis, not execution, becomes the cost.
    *
    * Below [[SmallGraphMaxPairs]] symmetrized pairs (with integral ids),
    * the fixpoint is computed exactly by a driver union-find in ONE job —
    * iterating a 32-way cluster schedule over a KB-scale graph is pure
    * scheduler floor. The output is identical: component = min reachable
    * id, which is precisely what the union-find's per-root minimum yields.
    *
    * Returns (id, component) where component = min id reachable. */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
                          maxIters: Int = 50): DataFrame = {
    val sym = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Long ids only: the driver path must reproduce the distributed
    // path's output schema exactly (id/component keep their input type).
    val longIds = sym.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (longIds && sym.count() <= SmallGraphMaxPairs) {
      val spark = edges.sparkSession
      val pairs = sym.select(col("src").cast("long"), col("dst").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      sym.unpersist()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var root = x
        while (parent.getOrElse(root, root) != root) root = parent(root)
        var cur = x // path compression
        while (parent.getOrElse(cur, cur) != cur) {
          val nxt = parent(cur); parent(cur) = root; cur = nxt
        }
        root
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        // Union by MIN root: the smaller id becomes the root, so every
        // root is already its component's minimum member.
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val nodes = pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
      import spark.implicits._
      return nodes.toSeq.sorted.map(id => (id, find(id)))
        .toDF("id", "component")
    }
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")).localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      // Pointer jumping WITHOUT a separate label self-join: labels are node
      // ids, so augmenting the edge list with each node's label edge
      // (u → label(u)) makes the single neighbor-min aggregation deliver
      // both the neighbors' labels AND the label-of-label — the round
      // collapses from three joins to one join + one aggregate, and label
      // distance still roughly doubles per round → O(log diameter) rounds.
      // The fixpoint is unchanged (monotone min over component members).
      val withLabelEdges = sym.unionByName(
        labels.select(col("id").as("src"), col("component").as("dst")))
      val nbr = withLabelEdges.join(
          labels.select(col("id").as("dst"), col("component").as("_nbrComp")),
          "dst")
        .groupBy(col("src").as("id")).agg(min("_nbrComp").as("_nbrMin"))
      val next = labels.join(nbr, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), coalesce(col("_nbrMin"), col("component")))
            .as("component"), col("component").as("_prev"))
        .localCheckpoint()
      // Convergence check is a filter over the just-checkpointed rows (the
      // previous label rode along), not another join.
      changed = next.filter(col("component") =!= col("_prev")).count()
      labels = next.drop("_prev")
      iter += 1
    }
    sym.unpersist()
    labels
  }

  /** Cluster-level dedup: label every document with its near-dup component
    * (docs with no pair are their own singleton component) and mark the
    * min-id document of each component as the representative to keep. This
    * is the step that turns PAIRS (what LSH emits) into KEEP/DROP decisions
    * (what a training-data pipeline needs). */
  def dedupByCluster(docs: DataFrame, idCol: String, pairs: DataFrame,
                     aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("id", idCol)
    docs.join(comps, Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .withColumn("is_representative",
        col(idCol) === min(col(idCol)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("component")))
  }

  /** [[dedupByCluster]] with quality-aware representative selection: keep
    * the HIGHEST-`scoreCol` member of each near-dup cluster (ties break to
    * the smallest id) instead of the smallest id unconditionally — the
    * production dedup policy (of N crawls of the same page, keep the
    * cleanest extraction, not the one that happened to get the lowest id).
    * Same shape: one rank window per component, prunable pre-shuffle by
    * WindowGroupLimit. */
  def dedupByClusterBest(docs: DataFrame, idCol: String, scoreCol: String,
                         pairs: DataFrame,
                         aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("id", idCol)
    val best = org.apache.spark.sql.expressions.Window
      .partitionBy("component")
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    docs.join(comps, Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
      .withColumn("is_representative", row_number().over(best) === 1)
  }

  /** Sub-document SPAN dedup (the C4 / RefinedWeb pattern at token-span
    * granularity): cut every document into consecutive `spanTokens`-token
    * spans, keep only each span's FIRST occurrence corpus-wide (ordered by
    * doc id, then position), and reassemble what survives. This removes
    * repeated boilerplate passages that whole-document dedup cannot see —
    * two different pages sharing a copied paragraph keep one copy of it.
    *
    * Scale shape: one shuffle by span content for the first-occurrence
    * window (rank-limit filter, so WindowGroupLimit prunes duplicate spans
    * BEFORE the exchange — the hot-span/boilerplate key never ships more
    * than its per-partition firsts), then one shuffle back by doc id for
    * reassembly. Nothing quadratic, no driver state.
    *
    * Returns (idCol, n_spans_kept, dedup_text). A document whose every
    * span already appeared elsewhere disappears (zero spans kept), which
    * subsumes exact-duplicate removal. */
  def dedupSpans(docs: DataFrame, idCol: String, textCol: String,
                 spanTokens: Int = 10): DataFrame = {
    val toks = TextAnalysis.tokens(col(textCol))
    // At least one span even for short/empty docs (the whole token list).
    val nSpans = greatest(
      ceil(size(toks).cast("double") / spanTokens).cast("int"), lit(1))
    val spans = transform(sequence(lit(0), nSpans - 1),
      i => array_join(slice(toks, i * spanTokens + 1, lit(spanTokens)), " "))
    dedupUnits(docs, idCol, spans, joinWith = " ")
  }

  /** CCNet-style line-level dedup: the deduplication unit is the newline-
    * separated line (the "paragraph" of web text), kept only at its first
    * corpus-wide occurrence (by doc id, then position) and reassembled.
    * This is the pass that strips cross-site boilerplate (cookie banners,
    * nav footers) which neither whole-document nor fixed-token-span dedup
    * targets directly. Same two-shuffle scale shape as [[dedupSpans]].
    *
    * Returns (idCol, n_lines_kept, dedup_text) — empty lines are dropped
    * (CCNet discards them before hashing). */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    dedupUnits(docs, idCol,
      filter(split(col(textCol), "\n"), l => trim(l) =!= ""),
      joinWith = "\n")
      .withColumnRenamed("n_spans_kept", "n_lines_kept")

  /** Exact duplicated-substring REGIONS (the detection half of Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better"):
    * every maximal token region of length ≥ `seedTokens` whose every
    * `seedTokens`-gram also occurs elsewhere in the corpus (or again in
    * the same document). Seeds are SLIDING windows (stride 1 — unlike
    * [[dedupSpans]]' disjoint chop, so duplicates are found at ANY
    * offset); adjacent duplicated seeds merge into maximal regions by the
    * classic gaps-and-islands grouping (pos − rank is constant within a
    * run of consecutive positions).
    *
    * Scale shape: one shuffle to count seed occurrences (groupBy span
    * content, partial-agg'd — a boilerplate hot seed aggregates to one
    * count row, it never fans out), one join back (co-partitioned on the
    * same key), one shuffle to the per-doc window for region merging.
    * Suffix-array exactness at every offset without a suffix array: the
    * seed length is the minimum match length, exactly the role of the
    * 50-token threshold in the paper.
    *
    * Returns per doc: n_dup_regions, dup_tokens (Σ region lengths in
    * tokens), longest_region. Docs with no duplicated region are absent. */
  def duplicatedSpanRegions(docs: DataFrame, idCol: String, textCol: String,
                            seedTokens: Int = 5): DataFrame = {
    // COST gate (SmallGraph): seed counting, the dup-position filter and
    // the gaps-and-islands merge in ONE executor task (the distributed
    // chain is an eager corpus-wide explode checkpoint + groupBy + join
    // + window); identical seed strings, counts and island arithmetic.
    // Distributed shape below unchanged — the 100 TB path.
    SmallGraph.route(docs, Seq(idCol),
        cols = Seq(col(idCol), TextAnalysis.tokens(col(textCol))))(
        dupRegionsKernel(_, seedTokens),
        idCol, "n_dup_regions", "dup_tokens", "longest_region") { docs =>
      val toks = TextAnalysis.tokens(col(textCol))
      val nSeeds = size(toks) - (seedTokens - 1)
      // localCheckpoint: the seed relation feeds BOTH the occurrence count
      // and the join-back probe — without materializing it, the text scan +
      // sliding-window explode executes twice (and the count side becomes a
      // full second pass over the corpus at scale).
      val seeds = docs
        .filter(nSeeds > 0)
        .select(col(idCol).as("_id"),
          posexplode(transform(sequence(lit(0), nSeeds - 1),
            i => array_join(slice(toks, i + 1, lit(seedTokens)), " ")))
            .as(Seq("pos", "seed")))
        .localCheckpoint()
      val counts = seeds.groupBy("seed").agg(count(lit(1)).as("_n"))
      val dup = seeds.join(counts, "seed").filter(col("_n") >= 2)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("_id").orderBy("pos")
      dup
        .withColumn("_island", col("pos") - row_number().over(w))
        .groupBy(col("_id"), col("_island"))
        .agg(min(col("pos")).as("_start"), max(col("pos")).as("_end"))
        .groupBy(col("_id").as(idCol))
        .agg(count(lit(1)).as("n_dup_regions"),
          sum(col("_end") - col("_start") + seedTokens).as("dup_tokens"),
          max(col("_end") - col("_start") + seedTokens).as("longest_region"))
    }
  }

  /** Bounded single-task replay of [[duplicatedSpanRegions]]: per-doc
    * sliding seeds (space-joined token windows), global occurrence
    * counts, dup positions, consecutive-run islands (pos − rank), and
    * the per-doc region aggregates. Docs shorter than `seedTokens`
    * tokens or with no duplicated region are absent, as distributed.
    * Output types match the distributed aggregate exactly
    * (count→long, sum(int)→long, max(int)→int). */
  private[llm] def dupRegionsKernel(it: Iterator[(Long, Seq[String])],
      seedTokens: Int): Iterator[(Long, Long, Long, Int)] = {
    val docs = it.collect {
      case (id, toks) if toks.size >= seedTokens =>
        val n = toks.size - (seedTokens - 1)
        val seeds = new Array[String](n)
        var i = 0
        while (i < n) {
          seeds(i) = toks.slice(i, i + seedTokens).mkString(" ")
          i += 1
        }
        (id, seeds)
    }.toArray
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    docs.foreach(_._2.foreach(s =>
      counts.update(s, counts.getOrElse(s, 0) + 1)))
    docs.iterator.flatMap { case (id, seeds) =>
      var nRegions = 0L
      var dupTokens = 0L
      var longest = 0
      var i = 0
      while (i < seeds.length) {
        if (counts(seeds(i)) >= 2) {
          var j = i + 1
          while (j < seeds.length && counts(seeds(j)) >= 2) j += 1
          val len = (j - 1) - i + seedTokens
          nRegions += 1
          dupTokens += len
          if (len > longest) longest = len
          i = j
        } else i += 1
      }
      if (nRegions == 0) None else Some((id, nRegions, dupTokens, longest))
    }
  }

  /** Bounded single-task replay of q_llm_containment's candidate chain
    * over per-doc distinct gram arrays: gram → sorted doc postings,
    * the df ∈ [dfMin, dfMax] hot-gram cap, ordered candidate pairs,
    * and the integer containment score
    * (|A∩B|·10⁴ div min(|A|,|B|), kept when ≥ minScore). */
  private[graft] def containmentKernel(it: Iterator[(Long, Seq[String])],
      dfMin: Int, dfMax: Int, minScore: Long): Iterator[(Long, Long, Long, Long)] = {
    val docs = it.map { case (id, g) => (id, g.toArray) }.toArray
    val idx = docs.indices.map(i => docs(i)._1 -> i).toMap
    val postings = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
    // Distinct grams per doc, like the distributed collect_set: a doc
    // that repeats a gram must neither inflate its df nor pair with itself.
    docs.foreach { case (id, grams) =>
      grams.distinct.foreach(g => postings.getOrElseUpdate(g,
        scala.collection.mutable.ArrayBuffer.empty[Long]) += id)
    }
    val cand = scala.collection.mutable.LinkedHashSet.empty[(Long, Long)]
    postings.valuesIterator.foreach { ds0 =>
      if (ds0.size >= dfMin && ds0.size <= dfMax) {
        val ds = ds0.toArray.sorted
        var i = 0
        while (i < ds.length) {
          var j = i + 1
          while (j < ds.length) { cand += ((ds(i), ds(j))); j += 1 }
          i += 1
        }
      }
    }
    val sets = docs.map(d => d._2.toSet)
    cand.iterator.flatMap { case (da, db) =>
      val (sa, sb) = (sets(idx(da)), sets(idx(db)))
      val inter = sa.count(sb.contains).toLong
      val c4 = inter * 10000L / math.min(sa.size, sb.size)
      if (c4 >= minScore) Some((da, db, inter, c4)) else None
    }
  }

  /** Shared first-occurrence-wins unit dedup: explode an ordered unit
    * array, keep each distinct unit's first (doc id, position) occurrence,
    * reassemble per doc. One shuffle by unit content (rank-limit window, so
    * WindowGroupLimit prunes duplicates BEFORE the exchange — a hot
    * boilerplate unit never ships more than its per-partition firsts), one
    * shuffle back by doc id. */
  private def dedupUnits(docs: DataFrame, idCol: String, units: Column,
                         joinWith: String): DataFrame = {
    val exploded = docs.select(col(idCol).as("_id"),
      posexplode(units).as(Seq("span_idx", "span")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("span").orderBy(col("_id"), col("span_idx"))
    exploded.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .groupBy(col("_id").as(idCol))
      .agg(count(lit(1)).as("n_spans_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("span_idx"), col("span")))),
            s => s.getField("span")), joinWith).as("dedup_text"))
  }

  /** 64-bit SimHash over whitespace tokens: per bit, sum ±1 weighted by
    * token-hash bit; sign → fingerprint bit. Near-dups = fingerprints equal
    * in some 16-bit band (Hamming-distance blocking), verified by popcount.
    *
    * Token bits come from md5 — the high/low 8 hex chars parse as two
    * NON-NEGATIVE 32-bit halves (bits 0-31 from the low half, 32-63 from
    * the high), which both Spark's `conv` and DuckDB's `'0x'||substr` cast
    * reproduce without 64-bit sign gymnastics. That is what makes the
    * simhash queries fully oracle-replayable; md5 bits are as uniform as
    * the xxhash64 stream they replaced.
    *
    * Row-local Column form — fine for unit tests and narrow rows; bulk
    * relations should use [[simhashes]] (codegen'd explode+aggregate). */
  def simhash(text: Column): Column = {
    val toks = TextAnalysis.tokens(text)
    val his = transform(toks, t =>
      conv(substring(md5(t), 1, 8), 16, 10).cast("long"))
    val los = transform(toks, t =>
      conv(substring(md5(t), 9, 8), 16, 10).cast("long"))
    val bits = (0 until 64).map { j =>
      val half = if (j < 32) los else his
      val contrib = aggregate(half, lit(0L),
        (acc, h) => acc +
          when(shiftright(h, j % 32).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
      when(contrib > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Relation-level SimHash: explode tokens, one groupBy(id) computing all
    * 64 signed bit sums as codegen'd aggregates, then assemble the
    * fingerprint. Same result as [[simhash]], ~50× faster on wide corpora. */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val exploded = df
      .select(col(idCol), explode(TextAnalysis.tokens(col(textCol))).as("_t"))
      .select(col(idCol),
        conv(substring(md5(col("_t")), 1, 8), 16, 10).cast("long").as("hi"),
        conv(substring(md5(col("_t")), 9, 8), 16, 10).cast("long").as("lo"))
    val aggs = (0 until 64).map { j =>
      val half = if (j < 32) col("lo") else col("hi")
      sum(when(shiftright(half, j % 32).bitwiseAND(1L) === 1L, 1L).otherwise(-1L))
        .as(s"_b$j")
    }
    exploded.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
      .select(col(idCol),
        (0 until 64).map(j =>
          when(col(s"_b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
          .reduce(_ + _).as("fp"))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on 4×16-bit bands (any equal band →
    * candidate; guarantees recall for distance ≤ 3), verify Hamming ≤ maxDist. */
  def simhashNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                            maxDist: Int = 3, maxBucket: Int = 1000): DataFrame = {
    // COST gate (SmallGraph): fingerprints, banding, cap and Hamming
    // verify in ONE executor task (see minhashNearDuplicates — same
    // rationale, same escape hatch). Distributed chain unchanged below.
    SmallGraph.route(docs, Seq(idCol),
        cols = Seq(col(idCol), TextAnalysis.tokens(col(textCol))))(
        simhashNearDupKernel(_, maxDist, maxBucket),
        "id_a", "id_b", "hamming_dist") { docs =>
      val fp = simhashes(docs.select(col(idCol).as("id"), col(textCol)), "id", textCol)
      val banded = fp.select(col("id"), col("fp"), posexplode(
        array((0 until 4).map(b =>
          shiftrightunsigned(col("fp"), b * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("band_idx", "band_val")))
      val bounded = banded.withColumn("_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy("band_idx", "band_val")))
        .filter(col("_n") <= maxBucket).drop("_n")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      bounded.as("l").join(bounded.as("r"),
          col("l.band_idx") === col("r.band_idx") &&
            col("l.band_val") === col("r.band_val") &&
            col("l.id") < col("r.id"))
        .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
          hamming(col("l.fp"), col("r.fp")).cast("long").as("hamming_dist"))
        .distinct()
        .filter(col("hamming_dist") <= maxDist)
    }
  }
}
