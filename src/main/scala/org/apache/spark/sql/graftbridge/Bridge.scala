package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVHeaderChecker, CSVOptions, UnivocityParser}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.CollectTopK
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[sql]` entry points graft needs: the Column ⇄
  * Expression conversions a custom-Expression library needs (the standard
  * pattern for third-party Catalyst extensions), runtime function
  * registration, building a DataFrame straight from internal rows or as
  * one known partition,
  * Spark's CSV stream parser, the
  * bounded top-k aggregate, and waiting for the listener bus. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a function builder into one session's registry (the runtime
    * sibling of the `spark.sql.extensions` config hook — same builder,
    * no session restart needed). */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** DataFrame over an RDD of rows already in Catalyst's internal format —
    * no external `Row` conversion on either side. */
  def internalCreateDataFrame(spark: SparkSession, rows: RDD[InternalRow],
                              schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** `df`, whose rows are one partition, as a relation the planner knows
    * is one partition, so no clustering asked of it needs an exchange. */
  def onePartition(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rdd = df.queryExecution.toRdd
    require(rdd.getNumPartitions == 1, s"${rdd.getNumPartitions} partitions, not one")
    Dataset.ofRows(spark,
      LogicalRDD(df.queryExecution.analyzed.output, rdd, SinglePartition)(spark))
  }

  /** Parse a CSV byte stream the way `spark.read.csv` parses one file with
    * `multiLine` on: Spark's own tokenizer and row converter over `options`.
    * `startOfFile` says whether the stream begins at the file's first byte. */
  def parseCsvStream(in: java.io.InputStream, schema: StructType, options: CSVOptions,
                     path: String, startOfFile: Boolean): Iterator[InternalRow] =
    UnivocityParser.parseStream(in, new UnivocityParser(schema, options),
      new CSVHeaderChecker(schema, options, path, startOfFile), schema)

  /** Spark's bounded `CollectTopK` aggregate: the `n` smallest non-null
    * values of `c`, smallest first (`reverse = true`; with `false` it keeps
    * the `n` largest). Each task keeps at most `n` values, so the
    * aggregate's state stays bounded whatever the input size. */
  def collectSmallest(c: Column, n: Int): Column =
    column(new CollectTopK(expression(c), n, reverse = true).toAggregateExpression())

  /** Wait until every listener event posted so far has been delivered. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
