package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{Anf, PageRank, SmallGraph}

/** The shared iterative graph loops on both routes: ANF over a seed set
  * wider than one 63-bit mask word against a brute-force per-seed BFS,
  * and PageRank (Ppr with every node a seed) on an edge set that is
  * empty once its null keys are dropped. */
class SeedReachSpec extends SparkSpecBase {

  /** `f` on the kernel route (asserted taken) and on the forced
    * distributed route. */
  private def onBothRoutes(f: => DataFrame)(check: (String, DataFrame) => Unit): Unit = {
    spark.conf.unset("graft.graph.smallKernel")
    val before = SmallGraph.kernelRoutes.get
    val kernel = f
    assert(SmallGraph.kernelRoutes.get > before, "default side took no kernel route")
    check("kernel", kernel)
    spark.conf.set("graft.graph.smallKernel", "false")
    try check("distributed", f)
    finally spark.conf.unset("graft.graph.smallKernel")
  }

  test("ANF over 80 seeds (two mask chunks) == brute-force per-seed BFS") {
    import spark.implicits._
    // Path 0-1-...-79 plus a pendant 80 on node 40; every node a seed.
    val n = 81
    val edges = (0L until 79L).map(i => (i, i + 1)) :+ ((40L, 80L))
    val adj = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (v, es) => v -> es.map(_._2) }
    val rounds = 4
    val reached = Array.fill(rounds)(0L)
    (0L until n.toLong).foreach { s =>
      var seen = Set(s)
      var frontier = Set(s)
      (1 to rounds).foreach { r =>
        frontier = frontier.flatMap(adj).diff(seen)
        seen ++= frontier
        reached(r - 1) += frontier.size
      }
    }
    val cum = reached.scanLeft(0L)(_ + _).tail
    val total = cum.last
    val effDiam = (1 to rounds).find(r => cum(r - 1) * 10 >= 9 * total).get
    val want = (1 to rounds).map(r => (r.toLong, reached(r - 1), cum(r - 1),
      cum(r - 1) * 1000000L / total, effDiam.toLong))
    onBothRoutes(Anf.profile(edges.toDF("lo", "hi"), seedsMod = 1,
        rounds = rounds)) { (route, df) =>
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
      assert(got == want, s"$route route drifted")
    }
  }

  test("PageRank on an all-null-key edge set returns no rows on both routes") {
    import spark.implicits._
    val edges = Seq((Option.empty[Long], Option(1L)), (Option(2L), None),
      (None, None)).toDF("src", "dst")
    onBothRoutes(PageRank.run(edges, "src", "dst", iterations = 4)) {
      (route, df) => assert(df.collect().isEmpty, s"$route route emitted rows")
    }
  }
}
