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

/** Graph queries over the co-purchase and supplier-part graphs.
  *
  * Split from the monolithic Registry (round 13); see [[Registry]] for the
  * registration maps and conventions. */
trait RegistryGraph extends RegistryEvent {

  /** Neighborhood Jaccard similarity (item-item collaborative filtering
    * over the mod-4 co-purchase graph): pairs sharing wedge centers are
    * scored |N∩|·10⁶ div |N∪| — FULLY integer. The wedge generator
    * carries the same 2..256 center degree cap as [[graphLinkPred]]
    * (capped centers bound the candidate set BY CONTRACT on both
    * engines); endpoint degrees stay uncapped. Unlike link prediction,
    * adjacent pairs stay in — this ranks substitutes/complements, not
    * missing edges. */
  protected def graphJaccardSim(spark: SparkSession, dir: String): DataFrame = {
    val sub = coPurchaseSubPairs(spark, dir)
    // COST gate (SmallGraph): the capped wedge kernel + scoring in ONE
    // executor task under the size threshold; the distributed explode
    // below is the 100 TB path.
    SmallGraph.route(sub, Seq("x", "y"), cost = SmallGraph.Superlinear)(
        SmallGraph.jaccardSimKernel(_), "a", "b", "cn", "da", "db", "j6") { sub =>
      val canon = graft.operators.Triangles.canonical(sub, "x", "y")
        .localCheckpoint(true)
      val nbr = canon.select(col("lo").as("w"), col("hi").as("n"))
        .unionAll(canon.select(col("hi").as("w"), col("lo").as("n")))
      val deg = nbr.groupBy("w").agg(count(lit(1)).as("d"))
        .localCheckpoint(true)
      val wedges = nbr
        .join(deg.filter(col("d").between(2, 256)).select("w"), Seq("w"))
        .groupBy("w").agg(sort_array(collect_set(col("n"))).as("ns"))
        .select(explode(expr(
          "flatten(transform(ns, (x, i) -> " +
            "transform(slice(ns, i + 2, size(ns)), y -> struct(x, y))))"))
          .as("e"))
        .select(col("e.x").as("a"), col("e.y").as("b"))
      wedges.groupBy("a", "b").agg(count(lit(1)).as("cn"))
        .join(deg.select(col("w").as("a"), col("d").as("da")), Seq("a"))
        .join(deg.select(col("w").as("b"), col("d").as("db")), Seq("b"))
        .select(col("a"), col("b"), col("cn"), col("da"), col("db"),
          expr("(cn * 1000000) div (da + db - cn)").as("j6"))
        .orderBy(col("j6").desc, col("a"), col("b"))
        .limit(20)
    }
  }

  /** Rectangle (4-cycle / "butterfly") support per diagonal pair — the
    * dense-block detector behind bipartite fraud/spam sweeps
    * (Sanei-Mehri et al. 2018, "Butterfly Counting in Bipartite
    * Networks"): for a pair (a,b) with cn common neighbors, every
    * unordered neighbor 2-subset closes a distinct 4-cycle through the
    * pair's diagonal, so support = C(cn,2) — pairs with outsized
    * support sit inside near-biclique blocks that organic co-purchase
    * behavior doesn't produce. Shares [[graphJaccardSim]]'s capped
    * wedge kernel verbatim (centers with degree in 2..256 — the
    * bounded candidate contract at 100 TB; endpoint degrees uncapped),
    * so the pair mass stays Σ min(deg,256)² by construction. FULLY
    * integer: cn·(cn−1) div 2 on non-negative counts. Top-20 by
    * support with the (a,b) tie-break. */
  protected def graphRectangles(spark: SparkSession, dir: String): DataFrame = {
    val sub = coPurchaseSubPairs(spark, dir)
    // COST gate (SmallGraph): shared capped wedge kernel, C(cn,2)
    // support in ONE executor task; distributed explode = 100 TB path.
    SmallGraph.route(sub, Seq("x", "y"), cost = SmallGraph.Superlinear)(
        SmallGraph.rectanglesKernel(_), "a", "b", "cn", "rect") { sub =>
      val canon = graft.operators.Triangles.canonical(sub, "x", "y")
        .localCheckpoint(true)
      val nbr = canon.select(col("lo").as("w"), col("hi").as("n"))
        .unionAll(canon.select(col("hi").as("w"), col("lo").as("n")))
      val deg = nbr.groupBy("w").agg(count(lit(1)).as("d"))
      val wedges = nbr
        .join(deg.filter(col("d").between(2, 256)).select("w"), Seq("w"))
        .groupBy("w").agg(sort_array(collect_set(col("n"))).as("ns"))
        .select(explode(expr(
          "flatten(transform(ns, (x, i) -> " +
            "transform(slice(ns, i + 2, size(ns)), y -> struct(x, y))))"))
          .as("e"))
        .select(col("e.x").as("a"), col("e.y").as("b"))
      wedges.groupBy("a", "b").agg(count(lit(1)).as("cn"))
        .select(col("a"), col("b"), col("cn"),
          expr("cn * (cn - 1) div 2").as("rect"))
        .orderBy(col("rect").desc, col("a"), col("b"))
        .limit(20)
    }
  }

  /** Rich-club coefficient φ(k) = 2·E_k / (N_k·(N_k − 1)) at k ∈
    * {32, 64, 128} — do the hubs preferentially wire to each other
    * (Colizza 2006)? The structural companion to [[graphAssortativity]]
    * (assortativity says "similar degrees attract", rich-club says "the
    * top tier forms its own clique-ish core" — they can disagree).
    * FULLY integer: degree thresholds are predicates, E_k is one
    * semi-filtered edge count, φ scales to micro-units by integer
    * division. One degree aggregate + one filtered edge count per k over
    * the SAME cached relations. */
  protected def graphRichClub(spark: SparkSession, dir: String): DataFrame = {
    // COST gate (SmallGraph): degrees + three filtered edge counts in
    // ONE executor task; the distributed aggregates below are the
    // 100 TB path.
    SmallGraph.route(coPurchasePairs(spark, dir), Seq("x", "y"))(
        SmallGraph.richClubKernel(_), "k", "n_club", "e_club", "phi_micro") {
        pairs =>
      val canon = graft.operators.Triangles.canonical(pairs, "x", "y")
        .localCheckpoint(true)
      val deg = canon.select(col("lo").as("n"))
        .unionAll(canon.select(col("hi").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
        .localCheckpoint(true)
      Seq(32L, 64L, 128L).map { k =>
        val club = deg.filter(col("d") > k).select("n")
        val nk = club.agg(count(lit(1)).as("nk"))
        val ek = canon
          .join(club.select(col("n").as("lo")), Seq("lo"), "left_semi")
          .join(club.select(col("n").as("hi")), Seq("hi"), "left_semi")
          .agg(count(lit(1)).as("ek"))
        nk.crossJoin(ek)
          .select(lit(k).as("k"), col("nk").as("n_club"),
            col("ek").as("e_club"),
            expr("CASE WHEN nk >= 2 THEN (2 * ek * 1000000)" +
              " div (nk * (nk - 1)) ELSE 0 END").as("phi_micro"))
      }.reduce(_ unionAll _).orderBy("k")
    }
  }

  /** Power-law tail exponent of the co-purchase degree distribution —
    * the Hill / discrete-MLE estimator α̂ = 1 + n·10⁶ / Σ ln(d/(dmin−½))
    * (Clauset, Shalizi & Newman 2009, eq. 3.7) that tells a capacity
    * planner HOW skewed the hubs are (α < 2 ⇒ unbounded mean degree ⇒
    * salting mandatory). Pairs with [[graphAssortativity]] and the
    * Zipf/Heaps corpus curves. Exactness: per-node terms floor(ln(2d /
    * (2·dmin−1))·10⁶) floor to integer micro-units BEFORE the sum (the
    * doubled argument keeps dmin−½ rational), so the estimator is one
    * integer division over two exact sums; tail membership (d ≥ dmin)
    * is an integer predicate. One degree aggregate + one tail
    * aggregate. */
  protected def graphPowerlaw(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val dmin = 64L
    val canon = graft.operators.Triangles.canonical(
      coPurchasePairs(spark, dir), "x", "y")
    val deg = canon.select(col("lo").as("n"))
      .unionAll(canon.select(col("hi").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    deg.filter(col("d") >= dmin)
      .select(floor(log((col("d") * 2).cast("double")
        / (2 * dmin - 1).toDouble) * 1e6).cast("long").as("t"))
      .agg(count(lit(1)).as("n_tail"), sum(col("t").cast(dec)).as("st"))
      .select(col("n_tail"), lit(dmin).as("d_min"),
        (lit(1000000L) +
          expr("CAST(n_tail AS DECIMAL(38,0)) * 1000000000000 div st")
            .cast("long")).as("alpha_micro"))
  }

  /** PageRank over the supplier–part incidence graph from lineitem
    * (symmetrized, so no dangling mass): 10 power iterations in exact
    * integer picorank units — bit-identical to the DuckDB unrolled-CTE
    * oracle. The link-analysis pass a crawl-curation pipeline runs on the
    * host graph. */
  protected def prPagerank(spark: SparkSession, dir: String): DataFrame = {
    // Numeric node ids (suppliers even, parts odd): long keys shuffle and
    // join ~3× cheaper than concat'd string ids at edge-set scale.
    val li = t(spark, dir, "lineitem").select(
      (col("l_suppkey") * 2).as("src"),
      (col("l_partkey") * 2 + 1).as("dst"))
    val edges = li.union(li.select(col("dst").as("src"), col("src").as("dst")))
    graft.operators.PageRank.run(edges, "src", "dst", iterations = 10)
      .orderBy("node")
  }

  /** Morton z-values over normalized (part, supp) coordinates — the layout
    * key [[graft.operators.ZOrder.layout]] clusters files by so parquet
    * min/max pruning works on both dimensions. The oracle replays the
    * generated bit-interleave SQL, pinning the curve itself. */
  protected def layoutZorder(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .filter(pmod(col("l_orderkey"), lit(37)) === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        pmod(col("l_partkey"), lit(1024)).as("x"),
        pmod(col("l_suppkey"), lit(1024)).as("y"))
    li.select(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"),
        graft.operators.ZOrder.zValue(col("x"), col("y"), 10).as("zval"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Hilbert-curve values over the same normalized (part, supp)
    * coordinates as [[layoutZorder]] — the stronger locality key (no
    * Morton seam jumps → ~25% tighter per-file bounding boxes on range
    * predicates; the Delta liquid-clustering choice). The sequential
    * xy2d state machine runs as the native codegen'd
    * [[graft.expressions.HilbertIndex]] kernel; the oracle replays it
    * as one generated CTE per bit level. */
  protected def layoutHilbert(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .filter(pmod(col("l_orderkey"), lit(37)) === 0)
      .select(col("l_orderkey"), col("l_linenumber"),
        pmod(col("l_partkey"), lit(1024)).as("x"),
        pmod(col("l_suppkey"), lit(1024)).as("y"))
    li.select(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"),
        org.apache.spark.sql.graftbridge.Bridge.column(
          graft.expressions.HilbertIndex(
            org.apache.spark.sql.graftbridge.Bridge.expression(
              col("x").cast("long")),
            org.apache.spark.sql.graftbridge.Bridge.expression(
              col("y").cast("long")),
            bits = 10)).as("hval"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Part co-purchase pairs (x < y, parts sharing an order), derived by
    * ONE groupBy with a bounded per-order part set and a row-local pair
    * explosion — not a lineitem self-join. Orders hold ≤ 7 parts
    * (bounded group), so the explosion is constant per row while the
    * self-join costs two shuffles of the fact table plus a 1.2M-row join
    * output before distinct; measured 2× faster cold at sf0.1. */
  /** Per-order contribution cap (applied to the SORTED distinct part set,
    * lowest ids win — deterministic on both engines): an order of p parts
    * emits p·(p−1)/2 pairs, so one 33k-part super-order (measured on the
    * r13 Zipf-skewed sf1: rank-1 order = 33,377 distinct parts) alone
    * emits ~557M pairs and the skewed corpus >1.1B — the quadratic
    * density cliff the uniform-replica data never shows (orders hold ≤ 7
    * parts there, where the cap is the identity and every oracle hash is
    * unchanged). 256 matches the link-pred degree-cap precedent: a
    * super-order is boilerplate-like co-occurrence noise, excluded BY
    * CONTRACT. Bounded-buffer note: collect_set holds one order's
    * distinct parts in the agg buffer (33k longs ≈ 260 KB — fine);
    * if adversarial orders beyond ~10M parts ever appear, swap to a
    * pre-shuffle rank filter (row_number over (o, p) ≤ cap). */
  protected val MaxOrderParts = 256

  protected def coPurchasePairsInline(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .groupBy("o").agg(
        slice(sort_array(collect_set(col("p"))), 1, MaxOrderParts).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), y -> struct(x, y))))"))
        .as("e"))
      .select(col("e.x").as("x"), col("e.y").as("y"))

  /** Bumping this invalidates every materialized edge side-table (change
    * it whenever [[coPurchasePairsInline]]'s semantics change).
    * v2 = the [[MaxOrderParts]] cap. */
  protected val EdgeTableVersion = 2

  protected val edgeBuildLock = new Object

  /** Canonical co-purchase edge SIDE-TABLE: the full graph family (12
    * full-graph + 7 mod-4-subgraph queries) consumes one shared edge
    * multiset, and rebuilding it inline costs a lineitem scan + groupBy
    * per query — the dominant shared setup cost of the bench's slowest
    * class (~2 s × 19 at sf0.1). Lakehouse practice: materialize the
    * relation ONCE per source dir as a parquet side-table keyed by a
    * fingerprint of the lineitem source files (path + length + mtime, so
    * a regenerated dir invalidates) and [[EdgeTableVersion]] (so a
    * builder change invalidates), then let every consumer read the scan.
    * The stored relation is the EXACT multiset the inline builder
    * produces (pairs keep per-order multiplicity; parquet round-trips
    * longs exactly), so downstream results are bit-identical —
    * GraphEdgeTableSpec pins materialized == inline, and
    * `q_graph_edge_table` oracle-checks the materialized stats against a
    * DuckDB recompute from base lineitem every driver gate. Set spark
    * conf `graft.graph.sideTable=false` to force the inline build. */
  protected def coPurchasePairs(spark: SparkSession, dir: String): DataFrame = {
    if (spark.conf.getOption("graft.graph.sideTable").contains("false"))
      return coPurchasePairsInline(spark, dir)
    val hconf = spark.sessionState.newHadoopConf()
    val srcPath = new org.apache.hadoop.fs.Path(s"$dir/lineitem.parquet")
    val srcFs = srcPath.getFileSystem(hconf)
    val digest = java.security.MessageDigest.getInstance("SHA-256")
    val statuses =
      if (srcFs.getFileStatus(srcPath).isDirectory)
        srcFs.listStatus(srcPath).sortBy(_.getPath.toString)
      else Array(srcFs.getFileStatus(srcPath))
    statuses.foreach { st =>
      digest.update(
        s"${st.getPath}|${st.getLen}|${st.getModificationTime}\n"
          .getBytes("UTF-8"))
    }
    val key = digest.digest().take(8).map("%02x".format(_)).mkString
    val side = new org.apache.hadoop.fs.Path(
      s"${sys.props("java.io.tmpdir")}/graft-side/copurchase-v$EdgeTableVersion-$key")
    val sideFs = side.getFileSystem(hconf)
    val marker = new org.apache.hadoop.fs.Path(side, "_SUCCESS")
    if (!sideFs.exists(marker)) edgeBuildLock.synchronized {
      if (!sideFs.exists(marker))
        coPurchasePairsInline(spark, dir)
          .write.mode("overwrite").parquet(side.toString)
    }
    spark.read.parquet(side.toString)
  }

  /** The 1/16 co-purchase subgraph the iterative `sub` queries run on:
    * both endpoints ≡ 0 (mod 4). Filtering parts BEFORE the per-order
    * pair explosion equals filtering both endpoints AFTER it (all-pairs
    * over a subset), so this reads the materialized side-table with a
    * residual filter instead of re-scanning + re-grouping lineitem. */
  protected def coPurchaseSubPairs(spark: SparkSession, dir: String): DataFrame =
    coPurchasePairs(spark, dir)
      .filter(pmod(col("x"), lit(4)) === 0 && pmod(col("y"), lit(4)) === 0)

  /** Materialization audit for the edge side-table: multiset cardinality,
    * distinct-pair and node counts, max per-pair multiplicity, and
    * endpoint checksums (multiplicity-weighted, exact DECIMAL) over the
    * relation the graph family actually reads — the DuckDB oracle
    * recomputes every number from base lineitem, so a corrupt / stale /
    * lossy side-table fails the driver gate, not just a unit test. */
  protected def graphEdgeTable(spark: SparkSession, dir: String): DataFrame = {
    val e = coPurchasePairs(spark, dir)
    val mult = e.groupBy("x", "y").agg(count(lit(1)).as("m"))
    val nodes = e.select(col("x").as("n"))
      .union(e.select(col("y").as("n"))).distinct()
      .agg(count(lit(1)).as("n_nodes"))
    mult.agg(
        sum(col("m")).cast("long").as("n_edges"),
        count(lit(1)).as("n_pairs"),
        max(col("m")).cast("long").as("max_mult"),
        sum(col("x").cast(DecimalType(38, 0)) * col("m")).cast("long")
          .as("checksum_x"),
        sum(col("y").cast(DecimalType(38, 0)) * col("m")).cast("long")
          .as("checksum_y"))
      .crossJoin(nodes)
      .select(col("n_edges"), col("n_pairs"), col("n_nodes"),
        col("max_mult"), col("checksum_x"), col("checksum_y"))
  }

  /** Triangle counting over the part co-purchase graph (parts sharing an
    * order — the association structure a recommender or taxonomy pass
    * mines), via the degree-oriented wedge join of
    * [[graft.operators.Triangles]]. The oracle deliberately runs the
    * naive a<b<c three-way self-join: same triangles, the plan the
    * orientation exists to avoid at skew. */
  protected def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    val pairs = coPurchasePairs(spark, dir)
    // COST gate (SmallGraph): canonicalize + degree-oriented triangle
    // enumeration + bucket counts in ONE executor task under the size
    // threshold; the distributed wedge join below is the 100 TB path.
    SmallGraph.route(pairs, Seq("x", "y"), cost = SmallGraph.Superlinear)(
        SmallGraph.triangleBucketsKernel(_), "bucket", "n_triangles") {
        pairs =>
      graft.operators.Triangles.triangles(pairs, "x", "y")
        .groupBy(pmod(col("n1"), lit(10)).as("bucket"))
        .agg(count(lit(1)).as("n_triangles"))
        .orderBy("bucket")
    }
  }

  /** Multi-source BFS hop distances over the part co-purchase graph from
    * the arithmetic seed set (part % 97 == 0): per-hop frontier counts
    * with a sum-of-ids checksum, fixed 4-round unroll. The oracle is
    * GENERATED ([[graft.operators.Bfs.oracleCtes]]) — DuckDB replays
    * every expansion round by construction. */
  protected def graphBfs(spark: SparkSession, dir: String): DataFrame = {
    val canon = graft.operators.Triangles.canonical(
      coPurchasePairs(spark, dir), "x", "y")
    graft.operators.Bfs.hopSummary(canon, seedsMod = 97, rounds = 4)
      .orderBy("hop")
  }

  /** k-core peeling on the part co-purchase graph: per-round survivor
    * counts with the fixpoint visible in-row (last rounds equal). The
    * oracle is GENERATED ([[graft.operators.KCore.oracleCtes]]) — DuckDB
    * replays every peel round by construction. */
  protected def graphKcore(spark: SparkSession, dir: String): DataFrame = {
    val canon = graft.operators.Triangles.canonical(
      coPurchasePairs(spark, dir), "x", "y")
    graft.operators.KCore.peelSummary(canon, k = 8, rounds = 6)
      .orderBy("round")
  }

  /** Synchronous label-propagation communities on the part co-purchase
    * graph (3 rounds, fully-ordered tie-breaks): per-round community count
    * and largest-community size. The oracle is GENERATED
    * ([[graft.operators.LabelProp.oracleCtes]]) — DuckDB replays every
    * vote/argmax round in lockstep, exactly like PageRank and k-core. */
  protected def graphLabelProp(spark: SparkSession, dir: String): DataFrame = {
    val canon = graft.operators.Triangles.canonical(
      coPurchasePairs(spark, dir), "x", "y")
    graft.operators.LabelProp.propagateSummary(canon, rounds = 3)
      .orderBy("round")
  }

  /** Clustering-coefficient profile of the co-purchase graph (Watts &
    * Strogatz 1998 local coefficient; Newman 2003 transitivity) — the
    * "how cliquish is this graph" diagnostic that calibrates community /
    * near-dup expectations before running LabelProp or k-truss. FULLY
    * integer: per-node lcc micro-units are (2·tri_v·10⁶) div (d·(d−1)),
    * transitivity is (2·Σtri_v·10⁶) div Σd(d−1) — truncating integral
    * division on DECIMAL(38,0), zero doubles anywhere. Scale shape: the
    * triangle set comes from the degree-oriented O(m^1.5) enumeration
    * ([[graft.operators.Triangles]]), per-node counts are one explode +
    * aggregate of the TRIANGLE relation, degrees one aggregate of edges;
    * the oracle replays with naive a<b<c enumeration — same triangles. */
  protected def graphClusteringCoef(spark: SparkSession, dir: String): DataFrame = {
    // COST gate (SmallGraph): triangles, degrees and the integer
    // micro-unit lcc/transitivity summary in ONE executor task under
    // the size threshold; the distributed pass below is the 100 TB path.
    SmallGraph.route(coPurchasePairs(spark, dir), Seq("x", "y"),
        cost = SmallGraph.Superlinear)(SmallGraph.clusteringKernel(_),
        "n_nodes", "n_triangles", "n_wedges", "transitivity_micro",
        "avg_lcc_micro") { pairs =>
      val dec = DecimalType(38, 0)
      val canon = graft.operators.Triangles.canonical(pairs, "x", "y")
        .localCheckpoint(true)
      val (tri, release) =
        graft.operators.Triangles.trianglesReleasable(canon, "lo", "hi")
      val triN = tri
        .select(explode(array(col("n1"), col("n2"), col("n3"))).as("n"))
        .groupBy("n").agg(count(lit(1)).as("t"))
      val deg = canon.select(col("lo").as("n"))
        .unionAll(canon.select(col("hi").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val per = deg.filter(col("d") >= 2)
        .join(triN, Seq("n"), "left")
        .select(col("d"), coalesce(col("t"), lit(0L)).as("t"))
        .withColumn("lcc6", expr(
          "(CAST(t AS DECIMAL(38,0)) * 2000000) div (CAST(d AS DECIMAL(38,0)) * (d - 1))"))
      val out = per.agg(
          count(lit(1)).as("n_nodes"),
          sum(col("t")).as("t3"),
          sum((col("d").cast(dec) * (col("d") - 1))).as("w2"),
          sum(col("lcc6")).as("slcc"))
        .select(col("n_nodes"),
          expr("t3 div 3").as("n_triangles"),
          expr("w2 div 2").cast("long").as("n_wedges"),
          expr("(CAST(t3 AS DECIMAL(38,0)) * 2000000) div w2")
            .as("transitivity_micro"),
          expr("slcc div n_nodes").as("avg_lcc_micro"))
      // Materialize the 1-row summary, then release the cached triangle
      // inputs (the KTruss discipline): the returned relation re-reads the
      // checkpoint, never the unpersisted intermediates.
      val outM = out.localCheckpoint(true)
      release()
      outM
    }
  }

  /** Link prediction on the co-purchase graph: rank non-adjacent node
    * pairs by common-neighbor count with Adamic–Adar (2003) tie strength —
    * the "what belongs together next" recommender / knowledge-graph
    * completion primitive. Determinism: the AA term 1/ln(deg) floors to
    * integer micro-units PER CENTER on the degree relation (one double ln
    * each, the BM25 precedent), so pair scores are exact integer SUMS;
    * ranking ties break on the pair itself. Scale shape: wedges enumerate
    * from per-center sorted neighbor arrays with a DEGREE CAP (2..256) —
    * the hot-bucket cap every candidate generator here carries; super-hub
    * centers contribute O(d²) noise pairs and are excluded BY CONTRACT on
    * both engines. Non-adjacency is one left-anti join against the edge
    * set. Runs on the modulus-4 subgraph (the k-truss precedent; read
    * from the materialized edge side-table with a residual filter). */
  protected def graphLinkPred(spark: SparkSession, dir: String): DataFrame = {
    val sub = coPurchaseSubPairs(spark, dir)
    // COST gate (SmallGraph): capped wedges + per-center AA floors +
    // the non-adjacency filter in ONE executor task; the distributed
    // explode/anti-join below is the 100 TB path.
    SmallGraph.route(sub, Seq("x", "y"), cost = SmallGraph.Superlinear)(
        SmallGraph.linkPredKernel(_), "a", "b", "cn", "aa_micro") { sub =>
      val canon = graft.operators.Triangles.canonical(sub, "x", "y")
        .localCheckpoint(true)
      val nbr = canon.select(col("lo").as("w"), col("hi").as("n"))
        .unionAll(canon.select(col("hi").as("w"), col("lo").as("n")))
      val aa = nbr.groupBy("w").agg(count(lit(1)).as("d"))
        .filter(col("d").between(2, 256))
        .select(col("w"), floor(lit(1e6) / log(col("d").cast("double"))).as("aa6"))
      val wedges = nbr.groupBy("w")
        .agg(sort_array(collect_set(col("n"))).as("ns"))
        .join(aa, Seq("w"))
        .select(col("aa6"), explode(expr(
          "flatten(transform(ns, (x, i) -> " +
            "transform(slice(ns, i + 2, size(ns)), y -> struct(x, y))))"))
          .as("e"))
        .select(col("e.x").as("a"), col("e.y").as("b"), col("aa6"))
      val scored = wedges.groupBy("a", "b").agg(
        count(lit(1)).as("cn"), sum(col("aa6")).as("aa_micro"))
      scored.join(canon,
          scored("a") === canon("lo") && scored("b") === canon("hi"),
          "left_anti")
        .orderBy(col("cn").desc, col("aa_micro").desc, col("a"), col("b"))
        .limit(20)
    }
  }

  /** Harmonic closeness centrality from the mod-97 seed set over the
    * co-purchase graph — "which catalog anchors sit closest to
    * everything" (see [[graft.operators.Closeness]] for the integer
    * micro-unit arithmetic and [[graft.operators.SeedReach]] for the
    * bit-parallel frontier shape). */
  protected def graphCloseness(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Closeness.harmonicSummary(
      graft.operators.Triangles.canonical(
        coPurchasePairs(spark, dir), "x", "y"),
      seedsMod = 797, rounds = 3)

  /** Per-seed eccentricity + diameter lower bound within a 3-hop BFS
    * horizon on the 1/16 co-purchase subgraph (the [[graphKtruss]]
    * modulus restriction — a full-graph horizon sweep is the closeness
    * query's job; this one answers "how deep is the neighborhood"). See
    * [[graft.operators.SeedReach]] for the bit-parallel frontier
    * shape; the diameter lower bound is max ecc over the seed set. One
    * global aggregate gathers the bounded per-seed relation (at most
    * `maxSeeds` rows) beside that max, so the seed-reach kernel runs once
    * rather than once per consumer. */
  protected def graphEccentricity(spark: SparkSession, dir: String): DataFrame = {
    val sub = coPurchaseSubPairs(spark, dir)
    val per = graft.operators.Eccentricity.summary(
      graft.operators.Triangles.canonical(sub, "x", "y"),
      seedsMod = 932, rounds = 3)
    per.agg(collect_list(struct(col("seed"), col("ecc"), col("n_reached"))).as("per"),
        max(col("ecc")).as("diameter_lb"))
      .select(explode(col("per")).as("p"), col("diameter_lb"))
      .select(col("p.seed").as("seed"), col("p.ecc").as("ecc"),
        col("p.n_reached").as("n_reached"), col("diameter_lb"))
      .orderBy("seed")
  }

  /** Degree distribution of the co-purchase graph — the zeroth graph
    * diagnostic (every other graph query's cost model starts from it;
    * [[graphPowerlaw]] fits its tail, this reports the histogram
    * itself): node degree over canonical edges, then degree → node
    * count with frac₄ and the cumulative-from-the-top count (the
    * "how many hubs above d" curve). Scale shape: two aggregates —
    * degrees (one shuffle on node), histogram (one shuffle on degree,
    * bounded by max degree, sub-linear in nodes); the top-down
    * cumulative window runs over the bounded histogram only. */
  protected def graphDegreeDist(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val canon = graft.operators.Triangles.canonical(
      coPurchasePairs(spark, dir), "x", "y")
    val deg = canon.select(col("lo").as("n"))
      .unionAll(canon.select(col("hi").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val hist = deg.groupBy("d").agg(count(lit(1)).as("n_nodes"))
    val w = Window.orderBy(col("d").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    hist
      .crossJoin(broadcast(hist.agg(sum(col("n_nodes")).as("tot"))))
      .withColumn("n_at_least", sum(col("n_nodes")).over(w))
      .select(col("d").as("degree"), col("n_nodes"),
        expr("n_nodes * 10000 div tot").as("frac4"), col("n_at_least"))
      .orderBy(col("degree").desc)
      .limit(50)
  }

  /** Horizon-3 Brandes betweenness over the 1/16 co-purchase subgraph
    * from the mod-932 seed set — the BROKERAGE member of the
    * centrality family: closeness asks who sits near everything,
    * eccentricity how deep the neighborhood runs; betweenness asks
    * which parts the co-purchase paths flow THROUGH. See
    * [[graft.operators.Betweenness]] for the integer two-phase
    * dependency accumulation and the (seed, node, σ) frontier shape
    * (σ is numeric per-seed state, so the closeness bit-mask trick
    * cannot apply). */
  protected def graphBetweenness(spark: SparkSession, dir: String): DataFrame = {
    val sub = coPurchaseSubPairs(spark, dir)
    graft.operators.Betweenness.topK(
      graft.operators.Triangles.canonical(sub, "x", "y"),
      seedsMod = 932, rounds = 3, k = 20)
  }

  /** Sampled neighborhood function + effective diameter (Palmer et al.
    * 2002 ANF) over the 1/16 co-purchase subgraph from the mod-932
    * seed sample — the radius profile ("how much of the graph is
    * within r hops") that calibrates every iterative operator's round
    * budget; eccentricity reports the same expansion per seed, ANF
    * reports the graph-level curve and its 90% effective diameter.
    * See [[graft.operators.SeedReach]] for the per-(seed, round) reach
    * counts it sums. */
  protected def graphAnf(spark: SparkSession, dir: String): DataFrame = {
    val sub = coPurchaseSubPairs(spark, dir)
    graft.operators.Anf.profile(
      graft.operators.Triangles.canonical(sub, "x", "y"),
      seedsMod = 932, rounds = 3)
  }

  /** Six-step truncated Katz centrality (α = 1/20) over the 1/16
    * co-purchase subgraph — the walk-counting member of the centrality
    * family: PageRank normalizes by out-degree (mass conservation),
    * HITS reinforces hubs/authorities, Katz counts ALL attenuated
    * walks — high for parts embedded in dense co-purchase
    * neighborhoods even when their direct degree is modest. See
    * [[graft.operators.Katz]] for the integer per-edge attenuation. */
  protected def graphKatz(spark: SparkSession, dir: String): DataFrame = {
    val sub = coPurchaseSubPairs(spark, dir)
    graft.operators.Katz.topK(
      graft.operators.Triangles.canonical(sub, "x", "y"),
      alphaDen = 20, iterations = 6, k = 20)
  }

  /** Weakly-connected-component size profile of the 1/16 co-purchase
    * subgraph — THE graph-shape diagnostic ("one giant component or
    * fragmented shards?") that calibrates every iterative operator's
    * round budget; rides [[graft.llm.Dedup.connectedComponents]]
    * (min-label convention), which auto-selects the one-job driver
    * union-find below `SmallGraphMaxPairs` symmetrized pairs and the
    * distributed O(log d) pointer-jumping loop above it — this
    * subgraph crosses that threshold between sf0.1 and sf1, so both
    * physical paths serve the same registered query across the bench
    * scales. Output is the bounded size histogram with an exact
    * component-id checksum (integer sum of min-member ids). */
  protected def graphWcc(spark: SparkSession, dir: String): DataFrame = {
    val sub = coPurchaseSubPairs(spark, dir)
    val canon = graft.operators.Triangles.canonical(sub, "x", "y")
    val cc = graft.llm.Dedup.connectedComponents(canon, "lo", "hi")
    cc.groupBy("component").agg(count(lit(1)).as("component_size"))
      .groupBy("component_size")
      .agg(count(lit(1)).as("n_components"),
        sum(col("component").cast(DecimalType(38, 0))).cast("long")
          .as("comp_checksum"))
      .orderBy("component_size")
  }

  /** Maximum-similarity spanning forest of the 1/16 co-purchase subgraph
    * — Borůvka on d = −multiplicity ([[graft.operators.Boruvka]]): the
    * single-linkage dendrogram skeleton over the co-purchase similarity
    * graph, i.e. the strongest-link backbone a dedup/clustering pipeline
    * extracts from its pair graph. The (d, lo, hi) total order makes the
    * forest UNIQUE, so the per-tree-size histogram (trees, Σ multiplicity
    * weight, edge count — witnessing n_edges = n_nodes − 1 per tree —
    * and the min-node root checksum) is hash-stable. Tree membership
    * reuses [[graft.llm.Dedup.connectedComponents]] over the chosen
    * edges (min-id labels, the wcc contract). */
  protected def graphMsf(spark: SparkSession, dir: String): DataFrame = {
    val weighted = coPurchaseSubPairs(spark, dir)
      .groupBy(col("x").as("lo"), col("y").as("hi"))
      .agg(count(lit(1)).as("w"))
      .select(col("lo"), col("hi"), (-col("w")).cast("long").as("d"))
    val msf = graft.operators.Boruvka.msfEdges(weighted)
      .localCheckpoint(true)
    val tcomp = graft.llm.Dedup.connectedComponents(msf, "lo", "hi")
    val tsize = tcomp.groupBy("component").agg(count(lit(1)).as("n_nodes"))
    val tweight = msf
      .join(tcomp.select(col("id").as("lo"), col("component")), Seq("lo"))
      .groupBy("component")
      .agg((-sum(col("d"))).as("wsum"), count(lit(1)).as("n_edges"))
    tsize.join(tweight, Seq("component"))
      .groupBy("n_nodes")
      .agg(count(lit(1)).as("n_trees"),
        sum(col("wsum")).cast("long").as("weight_sum"),
        sum(col("n_edges")).cast("long").as("edge_sum"),
        sum(col("component")).cast("long").as("root_checksum"))
      .select(col("n_nodes").as("tree_size"), col("n_trees"),
        col("weight_sum"), col("edge_sum"), col("root_checksum"))
      .orderBy("tree_size")
  }

  /** k-truss peeling (k=4, 3 rounds) on a 1/16 co-purchase subgraph —
    * the community-backbone extractor (every surviving edge sits in ≥ 2
    * triangles of the truss). Support counting is a full triangle pass
    * per round, so the query runs on the modulus-restricted subgraph;
    * the oracle ([[graft.operators.KTruss.oracleCtes]]) replays every
    * round with naive a<b<c enumeration — same triangles, lockstep. */
  protected def graphKtruss(spark: SparkSession, dir: String): DataFrame = {
    val sub = coPurchaseSubPairs(spark, dir)
    graft.operators.KTruss.trussSummary(
        graft.operators.Triangles.canonical(sub, "x", "y"), k = 4, rounds = 3)
      .orderBy("round")
  }

  /** HITS on the bipartite customer→part purchase graph (3 rounds):
    * top-10 authority parts (staples) and hub customers (broad baskets),
    * in exact integer 1e6 units with a generated half-step-lockstep
    * oracle ([[graft.operators.Hits]]). */
  protected def graphHits(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .select(col("o_orderkey").as("l_orderkey"),
        col("o_custkey").cast("long").as("cust"))
    val e = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey").cast("long").as("part"))
      .join(o, Seq("l_orderkey"))
    graft.operators.Hits.topHubsAuthorities(e, "cust", "part",
      rounds = 3, k = 10)
  }

  /** Degree assortativity of the co-purchase graph (Newman 2002: Pearson
    * correlation of endpoint degrees over directed edge stubs) — do
    * similar-degree products co-occur, the structural question behind
    * hub-vs-mesh graph shapes. Both orientations double-count each edge,
    * which makes the j and k marginals IDENTICAL, so the usual
    * sqrt·sqrt denominator collapses to n·Σj² − (Σj)² and the whole
    * statistic is exact-integer (DECIMAL(38,0)/HUGEINT — n·Σjk tops
    * Long immediately on power-law graphs) with ONE double division and
    * a 6 dp floor. One degree aggregate + two joins + one moment
    * aggregate; nothing iterates. */
  protected def graphAssortativity(spark: SparkSession, dir: String): DataFrame = {
    // COST gate (SmallGraph): exact-integer moments + the single double
    // division in ONE executor task; the distributed joins below are
    // the 100 TB path.
    SmallGraph.route(coPurchasePairs(spark, dir), Seq("x", "y"))(
        SmallGraph.assortativityKernel(_), "n_directed_edges", "r6") {
        pairs =>
      val dec = DecimalType(38, 0)
      val canon = graft.operators.Triangles.canonical(pairs, "x", "y")
        .localCheckpoint(true)
      val deg = canon.select(col("lo").as("n"))
        .unionAll(canon.select(col("hi").as("n")))
        .groupBy("n").agg(count(lit(1)).as("deg"))
      val e2 = canon.select(col("lo").as("s"), col("hi").as("t"))
        .unionAll(canon.select(col("hi").as("s"), col("lo").as("t")))
      val jk = e2
        .join(deg.select(col("n").as("s"), col("deg").as("j")), Seq("s"))
        .join(deg.select(col("n").as("t"), col("deg").as("k")), Seq("t"))
      jk.agg(
          count(lit(1)).as("n2"),
          sum(col("j").cast(dec) * col("k")).as("sjk"),
          sum(col("j").cast(dec)).as("sj"),
          sum(col("j").cast(dec) * col("j")).as("sjj"))
        .select(col("n2").as("n_directed_edges"),
          (floor(
            (col("n2").cast(dec) * col("sjk") - col("sj") * col("sj"))
              .cast("double")
            / (col("n2").cast(dec) * col("sjj") - col("sj") * col("sj"))
              .cast("double")
            * 1e6) / 1e6).as("r6"))
    }
  }

  /** Newman modularity of the LabelProp communities on the modulus-4
    * co-purchase subgraph — the "are these communities real" score that
    * closes the loop on q_graph_labelprop (Newman & Girvan 2004).
    * Exactness: Q = e_within/m − Σ(d_c/2m)² rescales to the all-integer
    *   Q·4m² = 4m·e_within − Σd_c²
    * accumulated in DECIMAL(38,0)/HUGEINT (d_c² wraps Long once a
    * community holds ~2³¹ edge-endpoints), with ONE double division and
    * a 6 dp floor at the surface. All relations are joins/aggregates of
    * the label assignment against the edge list — no per-community
    * iteration. */
  protected def graphModularity(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val sub = coPurchasePairs(spark, dir)
      .filter(col("x") % 4 === 0 && col("y") % 4 === 0)
    val canon = graft.operators.Triangles.canonical(sub, "x", "y")
      .localCheckpoint(true)
    val labels = graft.operators.LabelProp.finalLabels(canon, rounds = 3)
    val mDf = canon.agg(count(lit(1)).as("m"))
    val deg = canon.select(col("lo").as("n"))
      .unionAll(canon.select(col("hi").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val within = canon
      .join(labels.select(col("n").as("lo"), col("lbl").as("la")), Seq("lo"))
      .join(labels.select(col("n").as("hi"), col("lbl").as("lb")), Seq("hi"))
      .filter(col("la") === col("lb"))
      .agg(count(lit(1)).as("ew"))
    val agg = labels.join(deg, Seq("n"))
      .groupBy("lbl").agg(sum(col("deg")).as("d"))
      .agg(sum(col("d").cast(dec) * col("d")).as("dd"),
        count(lit(1)).as("n_communities"))
    agg.crossJoin(broadcast(mDf)).crossJoin(broadcast(within))
      .select(col("m").as("m_edges"), col("n_communities"),
        (floor(
          (lit(4).cast(dec) * col("m") * col("ew") - col("dd")).cast("double")
            / (lit(4).cast(dec) * col("m") * col("m")).cast("double")
            * 1e6) / 1e6).as("q6"))
  }

  /** Pivot-SCC probe of the DIRECTED token-adjacency graph ("does the
    * corpus language cycle through its hub word, and how big is the
    * mutually-reachable core") — the forward-backward intersection step
    * every divide-and-conquer SCC algorithm iterates, run once from the
    * highest-degree pivot at radius 3; see [[graft.operators.Scc]]. */
  protected def graphSccPivot(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val tk = t(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("nxt", lead(col("tok"), 1).over(w))
      .filter(col("nxt").isNotNull)
    graft.operators.Scc.pivotSccSummary(
      tk.select(col("tok").as("src"), col("nxt").as("dst")),
      "src", "dst", rounds = 3)
  }

  /** Deterministic uniform random walks (DeepWalk corpus generation) over
    * the symmetrized supplier-part graph: one 8-step walk per
    * modulus-40 node, md5-pick at every step, per-step position
    * checksums ([[graft.operators.RandomWalk]]) with a generated
    * lockstep oracle replaying every pick. */
  protected def graphRandomWalk(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem").select(
      (col("l_suppkey") * 2).cast("long").as("src"),
      (col("l_partkey") * 2 + 1).cast("long").as("dst"))
    val edges = li.unionAll(
      li.select(col("dst").as("src"), col("src").as("dst")))
    graft.operators.RandomWalk.walkSummary(edges, "src", "dst",
        seedsMod = 40, steps = 8)
      .orderBy("step")
  }

  /** Weighted shortest paths from the modulus-200 supplier seed set over
    * the symmetrized supplier-part graph, edge cost `l_linenumber % 5 + 1`
    * — the Bellman-Ford companion to q_graph_bfs (cheapest cost, not hop
    * count; [[graft.operators.Sssp]]) with a generated lockstep oracle. */
  protected def graphSssp(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem").select(
      (col("l_suppkey") * 2).cast("long").as("src"),
      (col("l_partkey") * 2 + 1).cast("long").as("dst"),
      (pmod(col("l_linenumber"), lit(5)) + 1).cast("long").as("w"))
    val edges = li.unionAll(
      li.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    graft.operators.Sssp.distanceSummary(edges, seedsMod = 200, rounds = 4)
      .orderBy("round")
  }

  protected def prPersonalized(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem").select(
      (col("l_suppkey") * 2).as("src"),
      (col("l_partkey") * 2 + 1).as("dst"))
    val edges = li.union(li.select(col("dst").as("src"), col("src").as("dst")))
    graft.operators.Ppr.run(edges, "src", "dst",
        isSeed = n => n % 200 === 0, iterations = 10,
        isSeedLocal = n => n % 200 == 0)
      .orderBy("node")
  }

  protected val graphOracleSql: ListMap[String, String] = ListMap(
    "q_graph_pagerank" -> graft.operators.PageRank.oracleSql(
      """SELECT DISTINCT l_suppkey * 2 AS src,
                         l_partkey * 2 + 1 AS dst FROM lineitem
         UNION
         SELECT DISTINCT l_partkey * 2 + 1 AS src,
                         l_suppkey * 2 AS dst FROM lineitem""",
      iterations = 10, damping = 0.85),
    "q_layout_zorder" -> s"""
      SELECT l_orderkey, l_linenumber,
             l_partkey % 1024 AS x, l_suppkey % 1024 AS y,
             ${graft.operators.ZOrder.zValueSql("l_partkey % 1024", "l_suppkey % 1024", 10)} AS zval
      FROM lineitem WHERE l_orderkey % 37 = 0
      ORDER BY l_orderkey, l_linenumber""",
    // The oracle runs the NAIVE a<b<c three-way self-join the
    // degree-orientation exists to avoid — same triangles, worse plan.
    "q_graph_triangles" ->
      """WITH pc AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
                     FROM lineitem a JOIN lineitem b
                       ON a.l_orderkey = b.l_orderkey
                      AND a.l_partkey < b.l_partkey),
         tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
                 FROM pc e1
                 JOIN pc e2 ON e2.x = e1.y
                 JOIN pc e3 ON e3.x = e1.x AND e3.y = e2.y)
         SELECT CAST(a % 10 AS BIGINT) AS bucket,
                CAST(COUNT(*) AS BIGINT) AS n_triangles
         FROM tri GROUP BY 1 ORDER BY 1""",
    // GENERATED peel replay (KCore.oracleCtes): DuckDB re-runs all six
    // rounds over the same canonical co-purchase edges.
    "q_graph_kcore" -> (graft.operators.KCore.oracleCtes(
      """SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey""",
      k = 8, rounds = 6) + """
      SELECT round, n_nodes, n_edges FROM summary ORDER BY round"""),
    // GENERATED expansion replay (Bfs.oracleCtes): DuckDB re-runs all
    // four frontier rounds over the same canonical co-purchase edges.
    "q_graph_bfs" -> (graft.operators.Bfs.oracleCtes(
      """SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey""",
      seedsMod = 97, rounds = 4) + """
      SELECT hop, n_nodes, sum_id FROM summary ORDER BY hop"""),
    // GENERATED lockstep replay of all 3 vote/argmax rounds (same edge
    // derivation as the kcore oracle).
    "q_graph_labelprop" -> (graft.operators.LabelProp.oracleCtes(
      """SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey""",
      rounds = 3) + """
      SELECT round, n_communities, largest FROM summary ORDER BY round"""),
    // GENERATED lockstep truss replay (naive a<b<c triangles per round).
    "q_graph_ktruss" -> (graft.operators.KTruss.oracleCtes(
      """SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         WHERE a.l_partkey % 4 = 0 AND b.l_partkey % 4 = 0""",
      k = 4, rounds = 3) + """
      SELECT round, n_nodes, n_edges FROM summary ORDER BY round"""),
    // GENERATED half-step-lockstep HITS replay (HUGEINT sums, truncating
    // renormalization — nonnegative, so // == div == floor).
    "q_graph_hits" -> (graft.operators.Hits.oracleCtes(
      """SELECT DISTINCT CAST(o.o_custkey AS BIGINT) AS c,
                CAST(l.l_partkey AS BIGINT) AS p
         FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey""",
      rounds = 3) + """
      SELECT kind, id, score_unit FROM (
        SELECT 'auth' AS kind, p AS id, a AS score_unit FROM a3
        ORDER BY a DESC, p LIMIT 10)
      UNION ALL
      SELECT kind, id, score_unit FROM (
        SELECT 'hub' AS kind, c AS id, h AS score_unit FROM h3
        ORDER BY h DESC, c LIMIT 10)
      ORDER BY kind, score_unit DESC, id"""),
    // GENERATED seed-personalized replay (same picorank arithmetic).
    "q_graph_ppr" -> graft.operators.Ppr.oracleSql(
      """SELECT DISTINCT l_suppkey * 2 AS src,
                         l_partkey * 2 + 1 AS dst FROM lineitem
         UNION
         SELECT DISTINCT l_partkey * 2 + 1 AS src,
                         l_suppkey * 2 AS dst FROM lineitem""",
      seedPredSql = "node % 200 = 0", iterations = 10, damping = 0.85),
    // Generated Bellman-Ford replay: min-collapse + 4 relax rounds in
    // lockstep, summary checksums the whole distance vector per round.
    "q_graph_sssp" -> (graft.operators.Sssp.oracleCtes(
      """SELECT CAST(l_suppkey * 2 AS BIGINT) AS src,
                CAST(l_partkey * 2 + 1 AS BIGINT) AS dst,
                CAST(l_linenumber % 5 + 1 AS BIGINT) AS w FROM lineitem
         UNION ALL
         SELECT CAST(l_partkey * 2 + 1 AS BIGINT) AS src,
                CAST(l_suppkey * 2 AS BIGINT) AS dst,
                CAST(l_linenumber % 5 + 1 AS BIGINT) AS w FROM lineitem""",
      seedsMod = 200, rounds = 4) +
      """
         SELECT round, n_reached, sum_dist, max_dist
         FROM summary ORDER BY round"""),
    // Generated walk replay: dense neighbor ranks + the same md5 pick at
    // every step; summary checksums every walk position per step.
    "q_graph_rwalk" -> (graft.operators.RandomWalk.oracleCtes(
      """SELECT CAST(l_suppkey * 2 AS BIGINT) AS src,
                CAST(l_partkey * 2 + 1 AS BIGINT) AS dst FROM lineitem
         UNION ALL
         SELECT CAST(l_partkey * 2 + 1 AS BIGINT) AS src,
                CAST(l_suppkey * 2 AS BIGINT) AS dst FROM lineitem""",
      seedsMod = 40, steps = 8) +
      """
         SELECT step, n_walks, sum_cur FROM summary ORDER BY step"""),
    // Modularity replay: the generated LabelProp round chain gives l3;
    // within-edges, weighted-degree squares, and the 4m·ew − Σd² rescale
    // run in HUGEINT with the same one-division 6dp-floor surface.
    "q_graph_modularity" -> (graft.operators.LabelProp.oracleCtes(
      """SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         WHERE a.l_partkey % 4 = 0 AND b.l_partkey % 4 = 0""",
      rounds = 3) + """,
      mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
      deg AS (SELECT n, count(*) AS deg FROM nbr GROUP BY n),
      within AS (SELECT CAST(count(*) AS BIGINT) AS ew
                 FROM e0 JOIN l3 a ON a.n = e0.lo JOIN l3 b ON b.n = e0.hi
                 WHERE a.lbl = b.lbl),
      dc AS (SELECT l.lbl, SUM(d2.deg) AS d
             FROM l3 l JOIN deg d2 USING (n) GROUP BY l.lbl),
      agg AS (SELECT CAST(SUM(CAST(d AS HUGEINT) * d) AS HUGEINT) AS dd,
                CAST(count(*) AS BIGINT) AS n_communities FROM dc)
      SELECT (SELECT m FROM mm) AS m_edges,
        (SELECT n_communities FROM agg) AS n_communities,
        FLOOR(CAST(CAST(4 AS HUGEINT) * (SELECT m FROM mm) * (SELECT ew FROM within)
                - (SELECT dd FROM agg) AS DOUBLE)
          / CAST(CAST(4 AS HUGEINT) * (SELECT m FROM mm) * (SELECT m FROM mm) AS DOUBLE)
          * 1e6) / 1e6 AS q6"""),
    // Assortativity replay: same double-counted stubs, same collapsed
    // denominator, HUGEINT moments, one division, 6dp floor.
    "q_graph_assortativity" ->
      """WITH e0 AS MATERIALIZED (
           SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         deg AS (SELECT n, count(*) AS deg FROM (
                   SELECT lo AS n FROM e0 UNION ALL SELECT hi FROM e0)
                 GROUP BY n),
         e2 AS (SELECT lo AS s, hi AS t FROM e0
                UNION ALL SELECT hi, lo FROM e0),
         jk AS (SELECT dj.deg AS j, dk.deg AS k
                FROM e2 JOIN deg dj ON dj.n = e2.s
                        JOIN deg dk ON dk.n = e2.t),
         m AS (SELECT CAST(count(*) AS BIGINT) AS n2,
                 CAST(SUM(CAST(j AS HUGEINT) * k) AS HUGEINT) AS sjk,
                 CAST(SUM(CAST(j AS HUGEINT)) AS HUGEINT) AS sj,
                 CAST(SUM(CAST(j AS HUGEINT) * j) AS HUGEINT) AS sjj
               FROM jk)
         SELECT n2 AS n_directed_edges,
           FLOOR(CAST(CAST(n2 AS HUGEINT) * sjk - sj * sj AS DOUBLE)
             / CAST(CAST(n2 AS HUGEINT) * sjj - sj * sj AS DOUBLE)
             * 1e6) / 1e6 AS r6
         FROM m""",
    // Clustering-coefficient replay: naive a<b<c triangle enumeration
    // (the oracle-side luxury), same integer micro-unit divisions.
    "q_graph_clustering_coef" ->
      """WITH pc AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
                     FROM lineitem a JOIN lineitem b
                       ON a.l_orderkey = b.l_orderkey
                      AND a.l_partkey < b.l_partkey),
         tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
                 FROM pc e1
                 JOIN pc e2 ON e2.x = e1.y
                 JOIN pc e3 ON e3.x = e1.x AND e3.y = e2.y),
         tn AS (SELECT n, CAST(count(*) AS BIGINT) AS t FROM (
                  SELECT a AS n FROM tri
                  UNION ALL SELECT b FROM tri
                  UNION ALL SELECT c FROM tri)
                GROUP BY n),
         deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
                   SELECT x AS n FROM pc UNION ALL SELECT y FROM pc)
                 GROUP BY n),
         per AS (SELECT deg.d, COALESCE(tn.t, 0) AS t,
                   (CAST(COALESCE(tn.t, 0) AS HUGEINT) * 2000000)
                     // (CAST(deg.d AS HUGEINT) * (deg.d - 1)) AS lcc6
                 FROM deg LEFT JOIN tn USING (n) WHERE deg.d >= 2)
         SELECT CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(sum(t) // 3 AS BIGINT) AS n_triangles,
           CAST(sum(CAST(d AS HUGEINT) * (d - 1)) // 2 AS BIGINT)
             AS n_wedges,
           CAST((CAST(sum(t) AS HUGEINT) * 2000000)
             // sum(CAST(d AS HUGEINT) * (d - 1)) AS BIGINT)
             AS transitivity_micro,
           CAST(sum(lcc6) // count(*) AS BIGINT) AS avg_lcc_micro
         FROM per""",
    // Link-prediction replay: same mod-4 subgraph, same per-center
    // floored AA micro-units and 2..256 degree cap, naive wedge self-join.
    "q_graph_link_pred" ->
      """WITH e0 AS MATERIALIZED (
           SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           WHERE a.l_partkey % 4 = 0 AND b.l_partkey % 4 = 0),
         nbr AS (SELECT lo AS w, hi AS n FROM e0
                 UNION ALL SELECT hi, lo FROM e0),
         aa AS (SELECT w,
                  CAST(FLOOR(1e6 / ln(CAST(count(*) AS DOUBLE))) AS BIGINT)
                    AS aa6
                FROM nbr GROUP BY w
                HAVING count(*) BETWEEN 2 AND 256),
         wedges AS (SELECT n1.n AS a, n2.n AS b, aa.aa6
                    FROM nbr n1 JOIN nbr n2
                      ON n1.w = n2.w AND n1.n < n2.n
                    JOIN aa ON aa.w = n1.w),
         scored AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cn,
                      CAST(sum(aa6) AS BIGINT) AS aa_micro
                    FROM wedges GROUP BY 1, 2)
         SELECT a, b, cn, aa_micro FROM scored s
         WHERE NOT EXISTS (SELECT 1 FROM e0
                           WHERE e0.lo = s.a AND e0.hi = s.b)
         ORDER BY cn DESC, aa_micro DESC, a, b LIMIT 20""",
    // Harmonic closeness: GENERATED (seed, node)-pair BFS replay, same
    // integer 10⁶ div r hop units, zero-reach seeds kept via left join.
    "q_graph_closeness" -> (graft.operators.Closeness.oracleCtes(
      """SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey""",
      seedsMod = 797, rounds = 3) + """
      SELECT s0.s AS seed, COALESCE(agg.n_reached, 0) AS n_reached,
        COALESCE(agg.harmonic_micro, 0) AS harmonic_micro
      FROM s0 LEFT JOIN agg USING (s) ORDER BY seed"""),
    // Hilbert replay: GENERATED per-bit-level CTE chain carrying the
    // rotated coordinates as named columns — same state machine as the
    // codegen'd kernel, bit-identical by construction.
    "q_layout_hilbert" -> (graft.expressions.HilbertIndex.oracleCtes(
      """SELECT l_orderkey, l_linenumber,
           l_partkey % 1024 AS x, l_suppkey % 1024 AS y,
           CAST(l_partkey % 1024 AS BIGINT) AS hx,
           CAST(l_suppkey % 1024 AS BIGINT) AS hy
         FROM lineitem WHERE l_orderkey % 37 = 0""",
      bits = 10, carry = Seq("l_orderkey", "l_linenumber", "x", "y")) + """
      SELECT l_orderkey, l_linenumber, x, y, hd AS hval
      FROM h10 ORDER BY l_orderkey, l_linenumber"""),
    // Pivot-SCC replay: GENERATED forward/backward frontier chains from
    // the same degree-ranked pivot, same md5-prefix checksums.
    "q_graph_scc_pivot" -> (graft.operators.Scc.oracleCtes(
      """SELECT DISTINCT p[1] AS src, p[2] AS dst FROM (
           SELECT unnest(list_zip(ts, ts[2:])) AS p
           FROM (SELECT string_split_regex(trim(text), '\s+') AS ts
                 FROM documents))
         WHERE p[2] IS NOT NULL AND p[1] <> p[2]""",
      rounds = 3) + s"""
      SELECT * FROM (
        SELECT 'backward' AS relation, (SELECT n FROM pv) AS pivot,
          CAST(count(*) AS BIGINT) AS n_nodes,
          CAST(sum(${graft.operators.Scc.chkSql("n")}) AS BIGINT)
            AS checksum
        FROM bv3
        UNION ALL
        SELECT 'core', (SELECT n FROM pv), CAST(count(*) AS BIGINT),
          CAST(sum(${graft.operators.Scc.chkSql("n")}) AS BIGINT)
        FROM core
        UNION ALL
        SELECT 'forward', (SELECT n FROM pv), CAST(count(*) AS BIGINT),
          CAST(sum(${graft.operators.Scc.chkSql("n")}) AS BIGINT)
        FROM fv3)
      ORDER BY relation"""),
    // Jaccard-similarity replay: same capped wedge centers, uncapped
    // endpoint degrees, same integer division.
    "q_graph_rectangles" ->
      """WITH e0 AS MATERIALIZED (
           SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           WHERE a.l_partkey % 4 = 0 AND b.l_partkey % 4 = 0),
         nbr AS (SELECT lo AS w, hi AS n FROM e0
                 UNION ALL SELECT hi, lo FROM e0),
         deg AS (SELECT w, CAST(count(*) AS BIGINT) AS d FROM nbr
                 GROUP BY 1),
         wedges AS (SELECT n1.n AS a, n2.n AS b
                    FROM nbr n1 JOIN nbr n2
                      ON n1.w = n2.w AND n1.n < n2.n
                    JOIN deg ON deg.w = n1.w
                    WHERE deg.d BETWEEN 2 AND 256),
         cn AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cn
                FROM wedges GROUP BY 1, 2)
         SELECT a, b, cn, cn * (cn - 1) // 2 AS rect
         FROM cn ORDER BY rect DESC, a, b LIMIT 20""",
    "q_graph_jaccard_sim" ->
      """WITH e0 AS MATERIALIZED (
           SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           WHERE a.l_partkey % 4 = 0 AND b.l_partkey % 4 = 0),
         nbr AS (SELECT lo AS w, hi AS n FROM e0
                 UNION ALL SELECT hi, lo FROM e0),
         deg AS (SELECT w, CAST(count(*) AS BIGINT) AS d FROM nbr
                 GROUP BY 1),
         wedges AS (SELECT n1.n AS a, n2.n AS b
                    FROM nbr n1 JOIN nbr n2
                      ON n1.w = n2.w AND n1.n < n2.n
                    JOIN deg ON deg.w = n1.w
                    WHERE deg.d BETWEEN 2 AND 256),
         cn AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cn
                FROM wedges GROUP BY 1, 2)
         SELECT cn.a, cn.b, cn.cn, da.d AS da, db.d AS db,
           CAST((cn.cn * 1000000) // (da.d + db.d - cn.cn) AS BIGINT) AS j6
         FROM cn JOIN deg da ON da.w = cn.a JOIN deg db ON db.w = cn.b
         ORDER BY j6 DESC, cn.a, cn.b LIMIT 20""",
    // Hill-estimator replay: same degree relation, same per-node
    // floored doubled-argument ln terms, same integer division.
    "q_graph_powerlaw" ->
      """WITH e0 AS (SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
                   SELECT lo AS n FROM e0 UNION ALL SELECT hi FROM e0)
                 GROUP BY n),
         tail AS (SELECT CAST(FLOOR(ln(CAST(d * 2 AS DOUBLE) / 127.0)
             * 1e6) AS BIGINT) AS t
           FROM deg WHERE d >= 64)
         SELECT CAST(count(*) AS BIGINT) AS n_tail,
           CAST(64 AS BIGINT) AS d_min,
           CAST(1000000 + CAST(count(*) AS HUGEINT) * 1000000000000
             // CAST(sum(CAST(t AS HUGEINT)) AS HUGEINT) AS BIGINT)
             AS alpha_micro
         FROM tail""",
    // Rich-club replay: same degree thresholds, same club-restricted
    // edge counts, same integer micro division.
    "q_graph_rich_club" ->
      """WITH e0 AS MATERIALIZED (
           SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM (
                   SELECT lo AS n FROM e0 UNION ALL SELECT hi FROM e0)
                 GROUP BY n),
         ks(k) AS (VALUES (CAST(32 AS BIGINT)), (64), (128)),
         r AS (SELECT ks.k,
             (SELECT CAST(count(*) AS BIGINT) FROM deg WHERE d > ks.k)
               AS n_club,
             (SELECT CAST(count(*) AS BIGINT) FROM e0
               WHERE lo IN (SELECT n FROM deg WHERE d > ks.k)
                 AND hi IN (SELECT n FROM deg WHERE d > ks.k)) AS e_club
           FROM ks)
         SELECT k, n_club, e_club,
           CAST(CASE WHEN n_club >= 2
             THEN (2 * e_club * 1000000) // (n_club * (n_club - 1))
             ELSE 0 END AS BIGINT) AS phi_micro
         FROM r ORDER BY k""",
    // Eccentricity replay: GENERATED (seed, node)-pair BFS chain (the
    // closeness CTEs), ecc = last round with a fresh node, window max
    // over the bounded seed relation for the diameter bound.
    "q_graph_eccentricity" -> (graft.operators.Closeness.oracleCtes(
      """SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         WHERE a.l_partkey % 4 = 0 AND b.l_partkey % 4 = 0""",
      seedsMod = 932, rounds = 3) + """,
      pr AS (SELECT s, 1 AS r, CAST(count(*) AS BIGINT) AS c
               FROM f1 GROUP BY s
             UNION ALL SELECT s, 2, CAST(count(*) AS BIGINT)
               FROM f2 GROUP BY s
             UNION ALL SELECT s, 3, CAST(count(*) AS BIGINT)
               FROM f3 GROUP BY s),
      ec AS (SELECT s, CAST(max(r) AS BIGINT) AS ecc,
               CAST(sum(c) AS BIGINT) AS n_reached FROM pr GROUP BY s),
      per AS (SELECT s0.s AS seed, CAST(COALESCE(ec.ecc, 0) AS BIGINT)
                AS ecc,
                CAST(COALESCE(ec.n_reached, 0) AS BIGINT) AS n_reached
              FROM s0 LEFT JOIN ec USING (s))
      SELECT seed, ecc, n_reached, max(ecc) OVER () AS diameter_lb
      FROM per ORDER BY seed"""),
    // Borůvka replay: 18 generated rounds (component count at least
    // halves per round, so 2^18 initial components are covered — the
    // r16 sf1 sweep found 12 rounds capped convergence at 4096 nodes
    // per component, below sf1's subgraph). Tree labels come straight
    // from the final round's contraction labels, min-id-relabelled in
    // ONE GROUP BY — the earlier recursive min-label flood materialized
    // O(n²) (node, label) pairs on sf1's giant tree and ran the oracle
    // out of memory+spill (96 GB RSS); forest components ARE graph
    // components, so no re-derivation from msf edges is needed.
    "q_graph_msf" -> (graft.operators.Boruvka.oracleCtes(
      """SELECT lo, hi, -CAST(count(*) AS BIGINT) AS d FROM (
           SELECT DISTINCT a.l_orderkey, a.l_partkey AS lo,
             b.l_partkey AS hi
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
           WHERE a.l_partkey % 4 = 0 AND b.l_partkey % 4 = 0)
         GROUP BY lo, hi""", rounds = 18) + """,
      tcm AS MATERIALIZED (SELECT c, CAST(min(node) AS BIGINT) AS component
             FROM c18 GROUP BY c),
      tc AS MATERIALIZED (
             SELECT DISTINCT cc.node, tcm.component
             FROM c18 cc JOIN tcm ON cc.c = tcm.c),
      ts AS (SELECT component, CAST(count(*) AS BIGINT) AS n_nodes
             FROM tc GROUP BY component),
      tw AS (SELECT t.component, CAST(sum(-m.d) AS BIGINT) AS wsum,
               CAST(count(*) AS BIGINT) AS n_edges
             FROM msf m JOIN tc t ON m.lo = t.node GROUP BY t.component)
      SELECT ts.n_nodes AS tree_size, CAST(count(*) AS BIGINT) AS n_trees,
        CAST(sum(tw.wsum) AS BIGINT) AS weight_sum,
        CAST(sum(tw.n_edges) AS BIGINT) AS edge_sum,
        CAST(sum(ts.component) AS BIGINT) AS root_checksum
      FROM ts JOIN tw ON ts.component = tw.component
      GROUP BY ts.n_nodes ORDER BY tree_size"""),
    // WCC replay via the Borůvka contraction machinery (constant edge
    // weight — only the component labels are consumed): the previous
    // recursive min-label flood materialized every (node, smaller
    // reaching label) pair, O(n²) on sf1's giant component. 18 rounds
    // cover 2^18 initial components; final labels min-id-relabelled in
    // one GROUP BY, exactly the engine's connectedComponents contract.
    "q_graph_wcc" -> (graft.operators.Boruvka.oracleCtes(
      """SELECT lo, hi, CAST(-1 AS BIGINT) AS d FROM (
           SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey
               AND a.l_partkey < b.l_partkey
           WHERE a.l_partkey % 4 = 0 AND b.l_partkey % 4 = 0)""",
      rounds = 18) + """,
      tcm AS MATERIALIZED (SELECT c, CAST(min(node) AS BIGINT) AS component
             FROM c18 GROUP BY c),
      comp AS MATERIALIZED (
             SELECT DISTINCT cc.node, tcm.component
             FROM c18 cc JOIN tcm ON cc.c = tcm.c),
      sizes AS (SELECT component,
                  CAST(count(*) AS BIGINT) AS component_size
                FROM comp GROUP BY component)
      SELECT component_size, CAST(count(*) AS BIGINT) AS n_components,
        CAST(sum(CAST(component AS HUGEINT)) AS BIGINT)
          AS comp_checksum
      FROM sizes GROUP BY component_size ORDER BY component_size"""),
    // Degree-histogram replay: canonical edges, two aggregates, the
    // same bounded top-down cumulative window.
    "q_graph_degree_dist" ->
      """WITH e0 AS MATERIALIZED (
           SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
         deg AS (SELECT n, CAST(count(*) AS BIGINT) AS d FROM
             (SELECT lo AS n FROM e0 UNION ALL SELECT hi FROM e0)
           GROUP BY 1),
         hist AS (SELECT d, CAST(count(*) AS BIGINT) AS n_nodes
                  FROM deg GROUP BY 1),
         tt AS (SELECT CAST(sum(n_nodes) AS BIGINT) AS tot FROM hist),
         cm AS (SELECT d, n_nodes,
             CAST(sum(n_nodes) OVER (ORDER BY d DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_at_least
           FROM hist)
         SELECT d AS degree, n_nodes, n_nodes * 10000 // tot AS frac4,
           n_at_least
         FROM cm, tt ORDER BY degree DESC LIMIT 50""",
    // Brandes replay: GENERATED forward (seed, node, sigma) BFS rounds +
    // backward dependency levels with the identical per-DAG-edge integer
    // flooring — see [[graft.operators.Betweenness.oracleCtes]].
    "q_graph_betweenness" -> (graft.operators.Betweenness.oracleCtes(
      """SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         WHERE a.l_partkey % 4 = 0 AND b.l_partkey % 4 = 0""",
      seedsMod = 932, rounds = 3) + """
      SELECT n, bc_micro FROM bc ORDER BY bc_micro DESC, n LIMIT 20"""),
    // ANF replay: the Closeness pair-frontier CTEs give the per-round
    // set-semantics reach counts; cum/frac/eff-diameter arithmetic in
    // the same integer units.
    "q_graph_anf" -> (graft.operators.Closeness.oracleCtes(
      """SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         WHERE a.l_partkey % 4 = 0 AND b.l_partkey % 4 = 0""",
      seedsMod = 932, rounds = 3) + """,
      pr AS (SELECT 1 AS r, CAST(count(*) AS BIGINT) AS c FROM f1
             UNION ALL SELECT 2, CAST(count(*) AS BIGINT) FROM f2
             UNION ALL SELECT 3, CAST(count(*) AS BIGINT) FROM f3),
      cm AS (SELECT r, c, CAST(sum(c) OVER (ORDER BY r) AS BIGINT) AS cum
             FROM pr),
      tt AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM pr),
      ed AS (SELECT CAST(CASE WHEN total = 0 THEN 0 ELSE
               (SELECT min(r) FROM cm, tt t2
                WHERE cm.cum * 10 >= 9 * t2.total) END AS BIGINT)
               AS eff_diam
             FROM tt)
      SELECT CAST(r AS BIGINT) AS r, c AS reached, cum,
        CAST(CASE WHEN total = 0 THEN 0
             ELSE cum * 1000000 // total END AS BIGINT) AS frac_micro,
        eff_diam
      FROM cm, tt, ed ORDER BY r"""),
    // Katz replay: GENERATED per-round (contribution, update) CTE pairs
    // with the identical per-edge truncating attenuation.
    "q_graph_katz" -> (graft.operators.Katz.oracleCtes(
      """SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
         FROM lineitem a JOIN lineitem b
           ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         WHERE a.l_partkey % 4 = 0 AND b.l_partkey % 4 = 0""",
      alphaDen = 20, iterations = 6) + """
      SELECT node, xu AS katz_micro FROM x6
      ORDER BY katz_micro DESC, node LIMIT 20"""),
    // Audits the MATERIALIZED edge side-table the graph family reads:
    // the oracle recomputes each stat from base lineitem, so a stale or
    // lossy materialization hash-mismatches at the driver gate.
    "q_graph_edge_table" ->
      // The rn <= 256 rank filter replays MaxOrderParts (identity on the
      // reference data's <= 7-part orders; binding on skewed corpora).
      """WITH ps0 AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                      FROM lineitem),
         ps AS (SELECT o, p FROM
                  (SELECT o, p, row_number()
                     OVER (PARTITION BY o ORDER BY p) AS rn FROM ps0)
                WHERE rn <= 256),
         e AS (SELECT a.p AS x, b.p AS y
               FROM ps a JOIN ps b ON a.o = b.o AND a.p < b.p),
         mult AS (SELECT x, y, count(*) AS m FROM e GROUP BY x, y),
         nodes AS (SELECT count(*) AS n_nodes FROM
                     (SELECT x AS n FROM e UNION SELECT y AS n FROM e))
         SELECT CAST(sum(m) AS BIGINT) AS n_edges,
           count(*) AS n_pairs,
           (SELECT n_nodes FROM nodes) AS n_nodes,
           CAST(max(m) AS BIGINT) AS max_mult,
           CAST(sum(x * m) AS BIGINT) AS checksum_x,
           CAST(sum(y * m) AS BIGINT) AS checksum_y
         FROM mult""",
  )
}
