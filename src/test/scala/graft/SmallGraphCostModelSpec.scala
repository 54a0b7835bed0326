package graft

import graft.operators.SmallGraph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-operator kernel cost model (r17, VERDICT r16 item 5): the flat
  * byte gate was a latency cliff — 256 MB is a fine LINEAR pass in one
  * task but O(m^1.5) of wedge work. A relation sized between the two
  * ceilings must route DISTRIBUTED for the superlinear kernels (ktruss,
  * triangles, wedge family, per-seed BFS sweeps) while still kerneling
  * the linear-pass operators (pagerank et al.); the global config
  * override and the size-only string-id gate keep their contracts.
  * The gate cases are optimizer-estimate-only — no job runs. The last
  * case pins [[SmallGraph.route]]'s null-key policy. */
class SmallGraphCostModelSpec extends SparkSpecBase {

  // ~10M rows of two longs: the Range leaf estimate (~80 MB) sits above
  // the Superlinear ceiling (64 MB) and below the Linear one (256 MB).
  // Nothing is ever executed - the gate reads plan stats only.
  private def midEdges = spark.range(10L * 1000 * 1000)
    .select(col("id").as("lo"), (col("id") + 1).as("hi"))

  /** The route the combinator's gate picks for `df`. */
  private def routeOf(df: DataFrame, cost: SmallGraph.Cost = SmallGraph.Linear,
                      keys: Seq[String] = Seq("lo", "hi"),
                      anyKey: Boolean = false): String =
    SmallGraph.routeWith(df, keys, cost, anyKey)(_ => "kernel")(
      _ => "distributed")

  test("mid-size relation: linear gate kernels, superlinear gate routes " +
      "distributed (ktruss-class vs pagerank-class)") {
    val est = midEdges.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    assert(est > BigInt(SmallGraph.Superlinear.maxBytes) &&
      est <= BigInt(SmallGraph.Linear.maxBytes),
      s"fixture estimate $est must sit between the ceilings")
    assert(routeOf(midEdges) == "kernel",
      "linear-pass ceiling (pagerank class) must still kernel")
    assert(routeOf(midEdges, SmallGraph.Superlinear) == "distributed",
      "superlinear ceiling (ktruss class) must route distributed")
  }

  test("graft.graph.smallKernelMaxBytes overrides BOTH ceilings") {
    try {
      spark.conf.set("graft.graph.smallKernelMaxBytes", (1L << 30).toString)
      assert(routeOf(midEdges, SmallGraph.Superlinear) == "kernel")
      spark.conf.set("graft.graph.smallKernelMaxBytes", "1024")
      assert(routeOf(midEdges) == "distributed")
    } finally spark.conf.unset("graft.graph.smallKernelMaxBytes")
  }

  test("smallEnoughAnyKey: string ids pass the size-only gate, and the " +
      "smallKernel=false escape hatch still wins") {
    import spark.implicits._
    val e = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val keys = Seq("src", "dst")
    assert(routeOf(e, keys = keys, anyKey = true) == "kernel")
    assert(routeOf(e, keys = keys) == "distributed",
      "Long-key gate must refuse string ids")
    try {
      spark.conf.set("graft.graph.smallKernel", "false")
      assert(routeOf(e, keys = keys, anyKey = true) == "distributed")
    } finally spark.conf.unset("graft.graph.smallKernel")
  }

  test("route: null-key rows reach neither route; kernel output is " +
      "nullable") {
    import spark.implicits._
    val df = Seq((Some(1L), Some(2L)), (None, Some(3L)), (Some(4L), None),
      (Some(5L), Some(6L))).toDF("a", "b")
    def run(): DataFrame = SmallGraph.route(df, Seq("a", "b"))(
        (it: Iterator[(Long, Long)]) => Iterator(Tuple1(it.size.toLong)),
        "n")(_.agg(count(lit(1)).as("n")))
    val kernel = run()
    assert(kernel.schema("n").nullable)
    assert(kernel.collect().map(_.getLong(0)).toSeq == Seq(2L))
    try {
      spark.conf.set("graft.graph.smallKernel", "false")
      assert(run().collect().map(_.getLong(0)).toSeq == Seq(2L))
    } finally spark.conf.unset("graft.graph.smallKernel")
  }
}
