package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.{CanonicalColumn, Catalog, LogicalType, SourceConfig}
import graft.transform.Transformers

import scala.collection.immutable.ListMap

/** The ingest pipeline core, re-expressed as declarative DataFrame stages.
  *
  * The reference iterates rows in a Python loop (ingestor.py:552-590); here
  * every stage is a Column expression or window, so Catalyst fuses the whole
  * transform into one codegen stage and the plan scales horizontally: the
  * only shuffle in the entire pipeline is the dedup window, partitioned by
  * the source's unique keys.
  */
object Ingestor {

  /** P2 empty-row filter: drop rows where ≥ threshold of cells strip to
    * {"","nan","NaN","None"} (reference: ingestor.py:291-303). Pure Column
    * arithmetic — no UDF, no collect. */
  def filterEmptyRows(df: DataFrame, dataCols: Seq[String],
                      threshold: Double = Catalog.Limits.emptyRowThreshold): DataFrame = {
    val emptyCount = dataCols.map { c =>
      when(col(c).isNull || trim(col(c)).isin("", "nan", "NaN", "None"), 1).otherwise(0)
    }.reduce(_ + _)
    df.filter(emptyCount.cast("double") / lit(dataCols.length.toDouble) < threshold)
  }

  /** P3 projection + rename: positional file columns -> canonical names via
    * the header-detection index map (reference: ingestor.py:316-320). Extra
    * columns (e.g. _row_number) are carried through. */
  def project(df: DataFrame, colIdx: ListMap[String, Int],
              carry: Seq[String] = Seq("_row_number")): DataFrame = {
    val mapped = colIdx.map { case (name, i) => col(s"_c$i").as(name) }.toSeq
    val carried = carry.filter(df.columns.contains).map(col)
    df.select(mapped ++ carried: _*)
  }

  /** transform_record: apply the per-source transform dispatch to every
    * mapped canonical column (reference: ingestor.py:306-355). Special
    * cases: NCCI_MUE mai_id is derived from mai_description's RAW value;
    * NCCI_PTP has three bespoke parsers; `*_code` columns always use
    * clean_code regardless of declared type. Input columns are the raw
    * strings already renamed to canonical names (post-project). */
  def transformColumns(df: DataFrame, source: SourceConfig): DataFrame = {
    val present = df.columns.toSet
    val exprs = source.columns.flatMap { c =>
      val name = c.internalName
      if (source.sourceCode.startsWith("NCCI_MUE") && name == "mai_id") {
        // Cross-column derivation — must run while mai_description raw is live.
        if (present.contains("mai_description"))
          Some(Transformers.parseMaiId(col("mai_description")).as("mai_id"))
        else None
      } else if (!present.contains(name)) None
      else if (source.sourceCode.startsWith("NCCI_MUE") && name == "mue_value")
        Some(Transformers.parseMueValue(col(name)).as(name))
      else if (source.sourceCode == "NCCI_PTP" && name == "deletion_date")
        Some(Transformers.parseDeletionDate(col(name)).as(name))
      else if (source.sourceCode == "NCCI_PTP" && name == "modifier_indicator")
        Some(Transformers.parseModifierIndicator(col(name)).as(name))
      else if (source.sourceCode == "NCCI_PTP" && name == "prior_1996_flag")
        Some(Transformers.parsePrior1996Flag(col(name)).as(name))
      else if (name.endsWith("_code"))
        Some(Transformers.cleanCode(col(name)).as(name))
      else
        Some(Transformers.transformValue(col(name), c.dataType.name).as(name))
    }
    val carried = df.columns.filterNot(source.columnNames.contains).map(col)
    df.select(exprs ++ carried: _*)
  }

  /** P5/S8 key validation + quarantine split: rows with any NULL unique-key
    * column are routed to a quarantine DataFrame carrying [[keyError]].
    * Returns (valid, quarantine-with-_error). One pass, no write-then-retry:
    * validate-before-write replaces the reference's per-row INSERT fallback. */
  def validateSplit(df: DataFrame, uniqueKeys: Seq[String],
                    rowNumberCol: String = "_row_number"): (DataFrame, DataFrame) = {
    val allPresent = keysPresent(uniqueKeys)
    val valid = df.filter(allPresent)
    val quarantine = df.filter(!allPresent)
      .withColumn("_error", keyError(uniqueKeys, rowNumberCol))
    (valid, quarantine)
  }

  /** True on the rows [[validateSplit]] keeps as valid: every unique key set. */
  def keysPresent(uniqueKeys: Seq[String]): Column =
    uniqueKeys.map(col(_).isNotNull).reduce(_ && _)

  /** A quarantined row's error: the reference's exact string for the FIRST
    * missing key in key order ("Row N: Missing required key column 'k'",
    * reference: ingestor.py:358-375); null on a row with every key set. */
  def keyError(uniqueKeys: Seq[String], rowNumberCol: String = "_row_number"): Column =
    concat(lit("Row "), col(rowNumberCol).cast("string"),
      lit(": Missing required key column '"),
      coalesce(uniqueKeys.map(k => when(col(k).isNull, lit(k))): _*), lit("'"))

  /** D1 in-file dedup, first-occurrence-wins, null-key rows exempt
    * (reference: ingestor.py:468-496): [[firstWins]] over the rows with
    * every key set, and the null-key rows unioned back untouched. Returns
    * (unique, duplicates). */
  def dedupFirstWins(df: DataFrame, uniqueKeys: Seq[String],
                     orderCol: String = "_row_number"): (DataFrame, DataFrame) = {
    val anyNull = uniqueKeys.map(col(_).isNull).reduce(_ || _)
    val (unique, dups) = firstWins(df.filter(!anyNull), uniqueKeys, orderCol)
    (unique.unionByName(df.filter(anyNull)), dups)
  }

  /** First-wins dedup of rows whose unique keys are all set: [[dupRank]]
    * over the keys; rank 1 survives. Returns (unique, duplicates).
    *
    * Scale note: partitionBy(uniqueKeys) distributes by key cardinality —
    * at 100 TB the key space (e.g. code pairs) is large, so partitions stay
    * balanced; no global sort, no collect. */
  def firstWins(keyed: DataFrame, uniqueKeys: Seq[String],
                orderCol: String = "_row_number"): (DataFrame, DataFrame) = {
    val ranked = dupRank(keyed, uniqueKeys.map(col), orderCol)
    (ranked.filter(col("_dup_rank") === 1).drop("_dup_rank"),
      ranked.filter(col("_dup_rank") > 1).drop("_dup_rank"))
  }

  /** The first-wins rank, as `_dup_rank`: one `row_number` window per
    * group of `groups`, ordered by `orderCol`. */
  def dupRank(df: DataFrame, groups: Seq[Column], orderCol: String = "_row_number"): DataFrame =
    df.withColumn("_dup_rank",
      row_number().over(Window.partitionBy(groups: _*).orderBy(col(orderCol))))

  /** D3 column statistics: per-column null count / null %, and up to 3
    * deterministic sample values (reference: ingestor.py:576-582 collects
    * the first 3 seen; distributed "first" is nondeterministic, so we pin
    * the 3 smallest _row_number values — same information, stable result). */
  def columnStats(df: DataFrame, dataCols: Seq[String]): DataFrame = {
    val aggs = dataCols.map(c =>
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls")) :+
      count(lit(1)).as("__total")
    val row = df.agg(aggs.head, aggs.tail: _*)
    // unpivot one wide row to (column, null_count, null_pct) — single pass,
    // single job, no per-column actions.
    val pairs = dataCols.map { c =>
      struct(lit(c).as("column"), col(s"${c}__nulls").as("null_count"))
    }
    row.select(explode(array(pairs: _*)).as("s"), col("__total"))
      .select(col("s.column"), col("s.null_count"),
        round(col("s.null_count").cast("double") / col("__total").cast("double") * 100, 2)
          .as("null_pct"))
  }

  /** D5 row-count drift check: warn when count < 0.5× or > 1.5× the previous
    * completed version's count (reference: validator.py:53-79). Expressed
    * over a metadata DataFrame so it is also usable as a batch audit across
    * all versions at once (window lag per source). */
  def driftCheck(versions: DataFrame, sourceCol: String = "source_code",
                 orderCol: String = "effective_date",
                 countCol: String = "record_count"): DataFrame = {
    val w = Window.partitionBy(col(sourceCol)).orderBy(col(orderCol))
    versions
      .withColumn("prev_count", lag(col(countCol), 1).over(w))
      .withColumn("drift_warning",
        col("prev_count").isNotNull &&
          (col(countCol) < col("prev_count") * 0.5 ||
            col(countCol) > col("prev_count") * 1.5))
  }

  /** D6's one definition of a bad cell: per NUMERIC/INTEGER/DATE column of
    * `source` present in `raw`, in source-column order, the raw value when
    * it is not a sentinel and fails its declared parse, else null
    * (reference: validator.py:90-175). [[typeValidationWarnings]]
    * aggregates these over a distributed table; `IngestPipeline.validateFile`
    * selects them over its in-memory sample and reduces on the driver. */
  def badCells(raw: DataFrame, source: SourceConfig): Seq[(CanonicalColumn, Column)] =
    source.columns.filter(c =>
      c.dataType == LogicalType.Numeric || c.dataType == LogicalType.Integer ||
        c.dataType == LogicalType.Date)
      .filter(c => raw.columns.contains(c.internalName))
      .map { c =>
        val v = col(c.internalName)
        val sentinel = trim(v).isin("", "*", "NULL", "N/A", "nan", "NaN") || v.isNull
        val parsed = c.dataType match {
          case LogicalType.Date => Transformers.parseDate(v).cast("string")
          case _ => Transformers.parseNumeric(v).cast("string")
        }
        c -> when(!sentinel && parsed.isNull, v.cast("string"))
      }

  /** D6 sample-based type validation: over the first `sampleRows` data rows,
    * report per column the first (lowest row number) [[badCells]] value
    * (the reference validator exits early per column). One aggregate keeps,
    * per checked column, the minimum (row number, value) struct among its
    * bad rows; the single result row is unpivoted in source-column order,
    * the reference validator's loop order. */
  def typeValidationWarnings(raw: DataFrame, source: SourceConfig,
                             sampleRows: Int = Catalog.Limits.typeValidationSampleRows): DataFrame = {
    val checks = badCells(raw, source)
    if (checks.isEmpty) return raw.sparkSession.emptyDataFrame
    val firstBad = checks.zipWithIndex.map { case ((_, bad), i) =>
      min(when(bad.isNotNull, struct(col("_row_number").as("row_number"),
        bad.as("value")))).as(s"_bad$i")
    }
    val warnings = checks.zipWithIndex.map { case ((c, _), i) =>
      struct(lit(c.internalName).as("column"),
        lit(c.dataType.name).as("expected_type"),
        col(s"_bad$i.row_number").as("row_number"),
        col(s"_bad$i.value").as("value"))
    }
    raw.limit(sampleRows).agg(firstBad.head, firstBad.tail: _*)
      .select(explode(array(warnings: _*)).as("w"))
      .select("w.*")
      .filter(col("row_number").isNotNull)
  }
}
