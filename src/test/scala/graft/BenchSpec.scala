package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{Mode, Selection}

/** [[Bench.select]]: what each argument list runs, decided before any
  * Spark session exists. */
class BenchSpec extends AnyFunSuite {

  private val registered = SparkEntry.queries.keys.toSeq

  test("no arguments select every registered query in registry order") {
    assert(Bench.select(Nil) == Selection(Mode.All, registered))
  }

  test("--anchors selects the frozen anchor set") {
    assert(Bench.select(Seq("--anchors")) == Selection(Mode.Anchors, Bench.anchors))
  }

  test("named queries come back in the given order, timed or explained") {
    val names = Seq("q_graph_pagerank", "q_fee_flagship", "q_graph_pagerank")
    assert(Bench.select(names) == Selection(Mode.Subset, names))
    assert(Bench.select("--explain" +: names.take(2)) == Selection(Mode.Explain, names.take(2)))
  }

  test("an unknown name or a malformed argument list throws") {
    val unknown = intercept[IllegalArgumentException] {
      Bench.select(Seq("q_fee_flagship", "q_no_such_query"))
    }
    assert(unknown.getMessage.contains("q_no_such_query"))
    intercept[IllegalArgumentException](Bench.select(Seq("--explain", "q_no_such_query")))
    Seq(Seq("--explain"), Seq("--anchors", "q_fee_flagship"), Seq("--clear", "q_fee_flagship"))
      .foreach(args => intercept[IllegalArgumentException](Bench.select(args)))
  }
}
