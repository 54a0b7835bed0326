package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs + single-value expression eval. */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpecBase.session

  /** Evaluate a Column expression over a single string input (null allowed);
    * returns null for SQL NULL. */
  def eval(input: String, f: Column => Column): Any = {
    import org.apache.spark.sql.functions.{col, lit}
    val df = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(input)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType, nullable = true))))
    df.select(f(col("v")).as("r")).head.get(0)
  }

  /** Spark jobs started while `body` runs (the listener bus drained on
    * both sides, so no job of an earlier call is counted). */
  def jobsIn(body: => Any): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet(): Unit
    }
    org.apache.spark.SpecBus.drain(sc)
    sc.addSparkListener(listener)
    try body
    finally { org.apache.spark.SpecBus.drain(sc); sc.removeSparkListener(listener) }
    n.get
  }
}

object SparkSpecBase {
  lazy val session: SparkSession =
    Sessions.start(Sessions.builder("local[4]", "4").appName("graft-spec"))
}
