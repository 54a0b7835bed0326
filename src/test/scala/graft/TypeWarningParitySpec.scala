package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import scala.jdk.CollectionConverters._

import graft.config.{CanonicalColumn, Catalog, LogicalType}
import graft.pipeline.{IngestPipeline, Ingestor}

/** The two consumers of `Ingestor.badCells` agree: the validate-side
  * driver reduction over an in-memory sample and the registry's
  * distributed aggregate (`typeValidationWarnings`). */
class TypeWarningParitySpec extends SparkSpecBase {

  // NCCI_PTP's INTEGER and DATE columns plus one NUMERIC column.
  private val source = Catalog.NCCI_PTP.copy(columns = Catalog.NCCI_PTP.columns :+
    CanonicalColumn("amount", LogicalType.Numeric, isRequired = false, Nil))

  private val cols = Seq("comprehensive_code", "modifier_indicator", "effective_date",
    "deletion_date", "amount")

  private def sample(rows: Seq[Seq[String]]) = {
    val schema = StructType(cols.map(StructField(_, StringType)) :+
      StructField("_row_number", LongType, nullable = false))
    val data = rows.zipWithIndex.map { case (r, i) => Row.fromSeq(r :+ (i + 3L)) }
    spark.createDataFrame(data.asJava, schema)
  }

  private def distributed(df: org.apache.spark.sql.DataFrame): Seq[String] =
    Ingestor.typeValidationWarnings(df, source).collect().toSeq.map(r =>
      IngestPipeline.typeWarning(r.getAs[String]("column"), r.getAs[String]("expected_type"),
        r.getAs[Long]("row_number"), r.getAs[String]("value")))

  test("bad NUMERIC, INTEGER and DATE cells, sentinels and ragged-row nulls: same warnings") {
    val sentinels = Seq("", "*", "NULL", "N/A", "nan", "NaN", " * ", null)
    val rows = sentinels.map(v => Seq("00100", v, v, v, v)) ++ Seq(
      Seq("00100", "1", "20240101", "*", "zz-late"),    // first bad NUMERIC
      Seq("00100", "three", "20240101", "*", "1.5"),    // first bad INTEGER
      Seq("00100", "2", "not-a-date", "*", "abc"),      // first bad DATE; a later NUMERIC
      Seq("00100", "aaa", "20240101", "never", "2.0"),  // a later INTEGER; first bad deletion
      Seq("00100", null, null, null, null),             // a ragged short row
      Seq("00100", "0", "20240101", "*", "3"))
    val df = sample(rows)
    val driver = IngestPipeline.sampleTypeWarnings(df, source)
    assert(driver == distributed(df))
    // source-column order; each names the first bad row (rows start at 3)
    assert(driver.map(w => w.substring(8, w.indexOf("' expects"))) ==
      Seq("modifier_indicator", "effective_date", "deletion_date", "amount"))
    assert(driver.head == "Column 'modifier_indicator' expects INTEGER but row 12 has 'three'")
    assert(driver.last == "Column 'amount' expects NUMERIC but row 11 has 'zz-late'")
  }

  test("a clean sample, an empty sample: no warnings on either side") {
    val clean = sample(Seq(Seq("00100", "1", "20240101", "*", "1.0")))
    val empty = sample(Nil)
    Seq(clean, empty).foreach { df =>
      assert(IngestPipeline.sampleTypeWarnings(df, source).isEmpty)
      assert(distributed(df).isEmpty)
    }
  }

  test("the validate-side reduction launches no job") {
    val df = sample(Seq(Seq("00100", "three", "x", "*", "abc")))
    IngestPipeline.sampleTypeWarnings(df, source)
    assert(jobsIn(IngestPipeline.sampleTypeWarnings(df, source)) == 0)
  }
}
