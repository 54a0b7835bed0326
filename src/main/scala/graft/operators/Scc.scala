package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pivot strongly-connected-component probe on a DIRECTED graph — the
  * forward-backward intersection step of divide-and-conquer SCC
  * (Fleischer, Hendrickson & Pınar 2000; the same primitive GraphX's and
  * multistep SCC algorithms iterate): pick the highest-degree pivot,
  * close `rounds` hops forward and `rounds` hops backward, and intersect
  * — every node in F ∩ B is mutually reachable with the pivot within the
  * radius (the hub SCC a cycle-structure audit wants to see first; with
  * rounds ≥ diameter it IS the pivot's exact SCC).
  *
  * Distributed shape: two [[Bfs]]-discipline closures over the directed
  * adjacency (per round one src-keyed semi-join + distinct + anti-join
  * against visited, localCheckpoint per round), one semi-join to
  * intersect. The pivot itself is ONE TakeOrdered row. Node identity is
  * stringly (tokens, URLs, ids cast canonically by the caller); the
  * order-invariant checksum is the md5-prefix integer sum — the same
  * engine-portable hash the HLL oracle uses. A fixed unroll with
  * [[oracleCtes]] keeps both engines in bit-lockstep. */
object Scc {

  private def chk(c: org.apache.spark.sql.Column) =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Three summary rows (forward / backward / core): pivot, n_nodes and
    * the order-invariant node checksum of each closure. `edges` is any
    * directed relation; self-loops and duplicates are dropped. */
  def pivotSccSummary(edges: DataFrame, srcCol: String, dstCol: String,
                      rounds: Int): DataFrame = {
    require(rounds >= 1, "scc probe needs at least one expansion round")
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .filter(col("src") =!= col("dst"))
    // COST gate (SmallGraph, size-only — nodes are strings): dedup,
    // pivot pick, both BFS closures and the intersection in ONE
    // executor task (identical tie-breaks: the pivot's string order is
    // UTF-8 binary, matching Spark's), instead of a driver collect plus
    // 4·rounds eager localCheckpoints. Distributed path below unchanged
    // — the 100 TB shape.
    SmallGraph.route(e0, Seq("src", "dst"), anyKey = true)(kernel(_, rounds),
        "relation", "pivot", "n_nodes", "checksum") { e0 =>
      val e = e0.distinct()
        .localCheckpoint(true)
      // An edge relation that is empty after self-loop/duplicate filtering
      // has no pivot to probe from: the empty summary, don't throw.
      val pivotRow = e.select(col("src").as("n"))
        .unionAll(e.select(col("dst").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
        .orderBy(col("d").desc, col("n")).limit(1)
        .collect().headOption
      if (pivotRow.isEmpty)
        spark.range(0).select(
          lit("").as("relation"), lit("").as("pivot"),
          lit(0L).as("n_nodes"), lit(0L).as("checksum"))
      else {
        val pivot = pivotRow.get.getString(0)
        def closure(adj: DataFrame): DataFrame = {
          var frontier = Seq(pivot).toDF("n").localCheckpoint(true)
          var visited = frontier
          for (_ <- 1 to rounds) {
            frontier = adj
              .join(frontier.select(col("n").as("src")), Seq("src"), "left_semi")
              .select(col("dst").as("n")).distinct()
              .join(visited, Seq("n"), "left_anti")
              .localCheckpoint(true)
            visited = visited.unionAll(frontier).localCheckpoint(true)
          }
          visited
        }
        val fwd = closure(e).localCheckpoint(true)
        val bwd = closure(e.select(col("dst").as("src"), col("src").as("dst")))
          .localCheckpoint(true)
        val core = fwd.join(bwd, Seq("n"), "left_semi")
        def row(df: DataFrame, label: String): DataFrame =
          df.agg(count(lit(1)).as("n_nodes"), sum(chk(col("n"))).as("checksum"))
            .select(lit(label).as("relation"), lit(pivot).as("pivot"),
              col("n_nodes"), col("checksum"))
        row(fwd, "forward").unionAll(row(bwd, "backward"))
          .unionAll(row(core, "core"))
      }
    }.orderBy("relation")
  }

  /** Bounded single-task replay of [[pivotSccSummary]]'s exact steps:
    * distinct loop-free edges, highest-degree pivot (ties to the
    * UTF-8-binary-smallest node — Spark's string order), `rounds`-hop
    * forward/backward closures, intersection, md5-prefix checksums.
    * Emits the 3 summary rows (or nothing for an empty graph — the
    * distributed path's empty-summary contract). */
  private[graft] def kernel(it: Iterator[(String, String)],
      rounds: Int): Iterator[(String, String, Long, Long)] = {
    val eset = scala.collection.mutable.LinkedHashSet.empty[(String, String)]
    it.foreach(eset += _)
    if (eset.isEmpty) return Iterator.empty
    val idx = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def id(s: String): Int = idx.getOrElseUpdate(s, idx.size)
    val m = eset.size
    val srcA = new Array[Int](m)
    val dstA = new Array[Int](m)
    var i = 0
    eset.foreach { case (s, d) => srcA(i) = id(s); dstA(i) = id(d); i += 1 }
    val n = idx.size
    val names = new Array[String](n)
    idx.foreach { case (s, ix) => names(ix) = s }
    // Pivot: max degree over both endpoints of the DISTINCT edge list,
    // tie to the smallest node in UTF-8 binary order (Spark's).
    val deg = new Array[Long](n)
    i = 0
    while (i < m) { deg(srcA(i)) += 1; deg(dstA(i)) += 1; i += 1 }
    def utf8Less(a: String, b: String): Boolean = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      val k = math.min(x.length, y.length)
      var j = 0
      while (j < k) {
        val c = (x(j) & 0xff) - (y(j) & 0xff)
        if (c != 0) return c < 0
        j += 1
      }
      x.length < y.length
    }
    var pivot = 0
    i = 1
    while (i < n) {
      if (deg(i) > deg(pivot) ||
        (deg(i) == deg(pivot) && utf8Less(names(i), names(pivot)))) pivot = i
      i += 1
    }
    // CSR adjacency, both directions.
    def csr(src: Array[Int], dst: Array[Int]): (Array[Int], Array[Int]) = {
      val cnt = new Array[Int](n + 1)
      var j = 0
      while (j < m) { cnt(src(j) + 1) += 1; j += 1 }
      j = 1
      while (j <= n) { cnt(j) += cnt(j - 1); j += 1 }
      val pos = java.util.Arrays.copyOf(cnt, n)
      val tgt = new Array[Int](m)
      j = 0
      while (j < m) { tgt(pos(src(j))) = dst(j); pos(src(j)) += 1; j += 1 }
      (cnt, tgt)
    }
    def closure(off: Array[Int], tgt: Array[Int]): Array[Boolean] = {
      val visited = new Array[Boolean](n)
      visited(pivot) = true
      var frontier = Array(pivot)
      var r = 0
      while (r < rounds && frontier.nonEmpty) {
        val next = new scala.collection.mutable.ArrayBuffer[Int]
        frontier.foreach { u =>
          var p = off(u)
          while (p < off(u + 1)) {
            val v = tgt(p)
            if (!visited(v)) { visited(v) = true; next += v }
            p += 1
          }
        }
        frontier = next.toArray
        r += 1
      }
      visited
    }
    val (fo, ft) = csr(srcA, dstA)
    val (bo, bt) = csr(dstA, srcA)
    val fwd = closure(fo, ft)
    val bwd = closure(bo, bt)
    val md = java.security.MessageDigest.getInstance("MD5")
    def chkOf(s: String): Long = {
      md.reset()
      val h = md.digest(s.getBytes("UTF-8")).take(4)
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h, 16)
    }
    var (nf, nb, nc) = (0L, 0L, 0L)
    var (cf, cb, cc) = (0L, 0L, 0L)
    i = 0
    while (i < n) {
      if (fwd(i) || bwd(i)) {
        val c = chkOf(names(i))
        if (fwd(i)) { nf += 1; cf += c }
        if (bwd(i)) { nb += 1; cb += c }
        if (fwd(i) && bwd(i)) { nc += 1; cc += c }
      }
      i += 1
    }
    val p = names(pivot)
    Iterator(("backward", p, nb, cb), ("core", p, nc, cc),
      ("forward", p, nf, cf))
  }

  /** Generated DuckDB replay: pivot pick, both closures as chained
    * MATERIALIZED frontier CTEs, the intersection, and the same
    * md5-prefix checksums. `edgesSql` must yield DISTINCT, loop-free
    * (src, dst) VARCHAR pairs. Emits CTEs through `core`; the caller's
    * final SELECT unions the three summary rows (relations `fw$rounds`,
    * `bw$rounds` visited sets are `fv`/`bv`). */
  def oracleCtes(edgesSql: String, rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(s"""WITH e0 AS MATERIALIZED ($edgesSql),
      pv AS MATERIALIZED (SELECT n FROM (
          SELECT n, count(*) AS d FROM
            (SELECT src AS n FROM e0 UNION ALL SELECT dst FROM e0)
          GROUP BY n)
        ORDER BY d DESC, n LIMIT 1),
      ff0 AS MATERIALIZED (SELECT n FROM pv),
      fv0 AS MATERIALIZED (SELECT n FROM ff0),
      bf0 AS MATERIALIZED (SELECT n FROM pv),
      bv0 AS MATERIALIZED (SELECT n FROM bf0)""")
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(s""",
        ff$r AS MATERIALIZED (SELECT DISTINCT dst AS n FROM e0
                WHERE src IN (SELECT n FROM ff$p)
                  AND dst NOT IN (SELECT n FROM fv$p)),
        fv$r AS MATERIALIZED (SELECT n FROM fv$p
                UNION ALL SELECT n FROM ff$r),
        bf$r AS MATERIALIZED (SELECT DISTINCT src AS n FROM e0
                WHERE dst IN (SELECT n FROM bf$p)
                  AND src NOT IN (SELECT n FROM bv$p)),
        bv$r AS MATERIALIZED (SELECT n FROM bv$p
                UNION ALL SELECT n FROM bf$r)""")
    }
    sb.append(s""",
      core AS (SELECT n FROM fv$rounds
               WHERE n IN (SELECT n FROM bv$rounds))""")
    sb.toString
  }

  /** The checksum expression as DuckDB SQL over a node column. */
  def chkSql(col: String): String =
    s"CAST(('0x' || substr(md5($col), 1, 8)) AS BIGINT)"
}
