package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.functions._

import graft.config.{Catalog, SourceConfig}
import graft.header.HeaderDetector
import graft.io.FileReader
import graft.store.VersionStore

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** The end-to-end ingest orchestration — the Spark re-expression of the
  * reference's `POST /upload/{source}/ingest` flow (upload.py:419-561 →
  * ingestor.py:691-783 → 504-648) and its `validate` dry-run twin
  * (upload.py:196-416).
  *
  * One distributed plan per file: all-string scan → driver-side header
  * detection on the reader's first 15 rows → projection → typed transform →
  * validity split → window dedup → versioned write. The quarantine split
  * replaces the reference's write-then-retry-per-row fallback: identical
  * observable outcome (partial success + per-row error strings), one pass.
  */
object IngestPipeline {

  final case class IngestResult(
      versionId: Long, status: String, processed: Long, inserted: Long,
      invalid: Long, duplicates: Long, errors: Seq[String],
      headerRowIndex: Int, unmappedColumns: Seq[String])

  final case class ValidationReport(
      valid: Boolean, dataRows: Long, headerRowIndex: Option[Int],
      columnMap: Map[String, String], unmappedColumns: Seq[String],
      errors: Seq[String], warnings: Seq[String], duplicateFile: Boolean,
      willAppend: Boolean)

  private[graft] def mappingsOf(source: SourceConfig): ListMap[String, HeaderDetector.ColumnMapping] =
    ListMap(source.columns.collect {
      case c if c.acceptedHeaders.nonEmpty =>
        c.internalName -> HeaderDetector.ColumnMapping(c.acceptedHeaders, c.isRequired)
    }: _*)

  /** What [[prepare]] hands the ingest: the valid rows (over the
    * checkpointed `typed` rows), the header detection, and what the
    * checkpoint job observed on its way through: the valid / invalid row
    * counts and the first quarantine errors by row number. */
  private final case class Prepared(
      valid: DataFrame, det: HeaderDetector.Detection, typed: DataFrame,
      validCount: Long, invalidCount: Long, errors: Seq[String])

  /** Parse + detect + project + transform + split. The typed rows are
    * LOCALLY CHECKPOINTED, so the data write starts from the materialized
    * rows instead of re-parsing the file; the same job, through an
    * `Observation`, counts the valid and invalid rows and keeps the first
    * `maxCollectedErrors` error strings (Spark's bounded top-k aggregate,
    * so an adversarial all-invalid file cannot become a driver-OOM
    * vector). `typed` is returned so the caller can release it with
    * [[releaseCheckpoint]]. */
  private def prepare(spark: SparkSession, source: SourceConfig, path: String): Prepared = {
    val upload = FileReader.readUpload(spark, path)
    val head = FileReader.cellStrings(upload.head.take(HeaderDetector.MaxScanRows))
    val det = HeaderDetector.detectHeaderRow(head, mappingsOf(source))
    if (!det.found)
      throw new IllegalArgumentException(det.error.getOrElse("header not found"))
    val hdrIdx = det.headerRowIndex.get
    val colIdx = HeaderDetector.getColumnIndex(head(hdrIdx), det.columnMap)
    val dataRows = upload.rows.filter(col("_row_number") > hdrIdx + 1)
    val nonEmpty = Ingestor.filterEmptyRows(dataRows, colIdx.values.map(i => s"_c$i").toSeq)
    // localCheckpoint (not just persist): the typed lineage is hundreds of
    // parse/when expressions per column, and the data write would
    // re-ANALYZE that whole tree in the planner — at this point planning
    // time, not execution time, dominates an ingest. Truncating the lineage
    // makes the follow-up plan trivial.
    // Fault-tolerance note: an ingest input is ≤100 MB by contract (the
    // validate-time size cap), so losing a cached partition and restarting
    // the ingest is cheaper than keeping the lineage. The observed metrics
    // sit in the checkpoint job's only (result) stage, so each partition
    // adds to them once.
    val keys = source.uniqueKeys
    val present = Ingestor.keysPresent(keys)
    val split = Observation()
    val typed = Ingestor.transformColumns(Ingestor.project(nonEmpty, colIdx), source)
      .observe(split, count(when(present, lit(1))).as("valid"),
        count(when(!present, lit(1))).as("invalid"),
        Bridge.collectSmallest(when(!present,
          struct(col("_row_number"), Ingestor.keyError(keys))),
          Catalog.Limits.maxCollectedErrors).as("errors"))
      .localCheckpoint()
    val observed = split.get
    val errors = observed("errors").asInstanceOf[scala.collection.Seq[Row]]
      .map(_.getString(1)).toVector
    Prepared(typed.filter(present), det, typed, observed("valid").asInstanceOf[Long],
      observed("invalid").asInstanceOf[Long], errors)
  }

  /** Drop the blocks a `localCheckpoint` pinned. `Dataset.unpersist` only
    * reaches the cache manager; the checkpointed RDD sits under the plan as
    * a `LogicalRDD` and has to be unpersisted itself — through the
    * SparkContext, because `RDD.unpersist` warns that a locally
    * checkpointed RDD cannot be recomputed, and nothing reads it again. */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: LogicalRDD => Bridge.unpersistRDD(r.rdd)
      case _ =>
    }

  /** The completed version an upload of a multi-part source appends to. */
  private def appendTarget(store: VersionStore, source: SourceConfig, versionLabel: String,
                           variant: Option[String]): Option[VersionStore.Version] =
    if (!source.multiPart) None
    else store.metadata.versions.find(v => v.sourceCode == source.sourceCode &&
      v.versionLabel == versionLabel && v.variant == variant && v.status == "completed")

  /** Full ingest with the reference's partial-success semantics:
    * `completed` iff any rows landed (ingestor.py:624, 747-768); all-fail →
    * `failed` with a first-5 error summary (770-774). NCCI_PTP multi-part:
    * if a completed version already exists for (source, label, variant) the
    * file appends under the SAME version id (691-783), landing as one part
    * through [[VersionStore.landPart]]; a replayed file (its hash already
    * that version's first file or on its part ledger) lands nothing.
    *
    * Jobs per file: the checkpoint (which also counts valid and invalid
    * rows and keeps the first error strings), the dedup shuffle, and the
    * data write (which also counts the rows it lands). The reader hands
    * over the head the header detection reads, with no job except on its
    * one-range fallback (see [[FileReader]]); the store's metadata commits
    * launch none. */
  def ingestFile(spark: SparkSession, store: VersionStore, sourceCode: String,
                 path: String, versionLabel: String,
                 effectiveDate: java.sql.Date, variant: Option[String] = None,
                 markAsCurrent: Boolean = true): IngestResult = {
    var checkpointed: Option[DataFrame] = None
    try {
    val source = Catalog(sourceCode)
    val fileHash = VersionStore.sha256File(path)
    val fileName = path.substring(path.lastIndexOf('/') + 1)

    val existing = appendTarget(store, source, versionLabel, variant)

    val Prepared(valid, det, typed, validCount, invalidCount, invalidRows) =
      prepare(spark, source, path)
    checkpointed = Some(typed)

    // The first-wins survivors (every valid row has all its keys set, so
    // there is no null-key branch); the write job counts them on the way
    // out, past the dedup shuffle (in its result stage), so each partition
    // adds once.
    val unique = Ingestor.firstWins(valid, source.uniqueKeys)._1.drop("_row_number")

    val (versionId, inserted, status) = existing match {
      case Some(v) if store.metadata.holds(v, fileHash) => // a replay: nothing lands
        (v.dataVersionId, 0L, "completed")
      case Some(v) => // U4 append path
        (v.dataVersionId, store.landPart(source.targetTable, v.dataVersionId,
          v.partCount + 1, unique, fileHash, fileName), "completed")
      case None =>
        val versionId = store.createVersion(source.sourceCode, versionLabel,
          effectiveDate, variant, fileHash, fileName)
        // First-wins dedup keeps a row for every valid key, so rows land
        // exactly when one is valid: a failed version is never written.
        if (validCount > 0) {
          val inserted = store.writeData(source.targetTable, versionId, unique)
          store.completeVersion(versionId, inserted,
            markCurrentFor = if (markAsCurrent) Some((source.sourceCode, variant)) else None,
            warning = Option.when(invalidCount > 0)((s"$invalidCount rows failed validation",
              Some(invalidRows.take(5).mkString("[\"", "\",\"", "\"]")))))
          (versionId, inserted, "completed")
        } else {
          val summary = invalidRows.take(5).mkString("; ")
          store.failVersion(versionId, s"No rows inserted. First errors: $summary")
          (versionId, 0L, "failed")
        }
    }
    // Duplicates = valid minus survivors: exactly the rank>1 rows.
    val dupCount = validCount - inserted
    IngestResult(versionId, status, inserted + invalidCount + dupCount,
      inserted, invalidCount, dupCount, invalidRows,
      det.headerRowIndex.get, det.unmappedColumns)
    } finally {
      // Whether the ingest landed or threw, nothing reads the checkpointed
      // rows again. The eager localCheckpoint in prepare() materialized the
      // grid, so no frame re-reads the upload either — any XLSX scratch XML
      // can go now instead of parking ~10× the upload size on disk until
      // JVM exit.
      checkpointed.foreach(releaseCheckpoint)
      FileReader.releaseScratch()
    }
  }

  /** Dry-run validation preview (upload.py:196-416 + validator.py:13-87):
    * extension/duplicate checks, header detection, row counts, drift
    * warnings vs the previous completed version, sampled type warnings.
    * On a ranged CSV/TXT or a driver-parsed XLSX/XLS it launches no job:
    * the head and the count come with the upload, and the type sample is
    * evaluated on the driver ([[sampleTypeWarnings]]). */
  def validateFile(spark: SparkSession, store: VersionStore, sourceCode: String,
                   path: String, versionLabel: String,
                   variant: Option[String] = None): ValidationReport = {
    val source = Catalog(sourceCode)
    val ext = path.substring((path.lastIndexOf('.') max 0)).toLowerCase
    if (!Seq(".csv", ".xlsx", ".xls", ".txt").contains(ext))
      return ValidationReport(valid = false, 0, None, Map.empty, Seq.empty,
        Seq(s"Unsupported file type: $ext"), Seq.empty,
        duplicateFile = false, willAppend = false)

    // Size cap before any read of the content — the reference rejects
    // oversized uploads with this exact message (upload.py:231-242,
    // config.py:22 max_upload_size_mb=100).
    val fileSize = java.nio.file.Files.size(java.nio.file.Paths.get(path))
    if (fileSize > Catalog.Limits.maxFileSizeBytes) {
      val sizeMb = String.format(java.util.Locale.ROOT, "%.1f",
        Double.box(fileSize / 1024.0 / 1024.0))
      val maxMb = Catalog.Limits.maxFileSizeBytes / 1024 / 1024
      return ValidationReport(valid = false, 0, None, Map.empty, Seq.empty,
        Seq(s"File size ($sizeMb MB) exceeds maximum ($maxMb MB)"), Seq.empty,
        duplicateFile = false, willAppend = false)
    }

    val fileHash = VersionStore.sha256File(path)
    val isDup = store.isDuplicateFile(source.sourceCode, fileHash)

    try {
    val upload = FileReader.readUpload(spark, path)
    // The upload's head feeds both local steps: header detection on the
    // first MaxScanRows rows (trimmed, as firstRows trims them) and
    // the type sample on the untrimmed rows after the header.
    val sampled = upload.head
    val head = FileReader.cellStrings(sampled.take(HeaderDetector.MaxScanRows))
    val det = HeaderDetector.detectHeaderRow(head, mappingsOf(source))
    if (!det.found)
      return ValidationReport(valid = false, 0, None, Map.empty, Seq.empty,
        det.error.toSeq, Seq.empty, isDup, willAppend = false)

    val hdrIdx = det.headerRowIndex.get
    val colIdx = HeaderDetector.getColumnIndex(head(hdrIdx), det.columnMap)
    // Every row after the header is a data row (file row numbers are
    // 1-based, so the header is row hdrIdx + 1).
    val nData = upload.count - (hdrIdx + 1)
    val errors = if (nData == 0) Seq("File contains no data rows") else Seq.empty

    // D5 drift vs previous completed version of this source
    val prevCount = store.metadata.versions
      .filter(v => v.sourceCode == source.sourceCode && v.status == "completed")
      .maxByOption(v => Option(v.effectiveDate).map(_.getTime)).flatMap(_.recordCount)
    val driftWarnings = prevCount.toSeq.collect {
      case p if nData < p * 0.5 =>
        s"Row count $nData is less than half the previous upload ($p)"
      case p if nData > p * 1.5 =>
        s"Row count $nData is more than 1.5x the previous upload ($p)"
    }

    // D6 sampled type warnings over the first 100 data rows, numbered here
    // with their file row numbers
    val sample = sampled.drop(hdrIdx + 1).take(Catalog.Limits.typeValidationSampleRows)
      .zipWithIndex.map { case (r, i) => Row.fromSeq(r.toSeq :+ (hdrIdx + 2L + i)) }
    val sampleDf = spark.createDataFrame(sample.asJava, upload.rows.schema)
    val typeWarnings = sampleTypeWarnings(Ingestor.project(sampleDf, colIdx), source)

    val willAppend = appendTarget(store, source, versionLabel, variant).nonEmpty

    ValidationReport(errors.isEmpty && !isDup, nData, Some(hdrIdx),
      det.columnMap, det.unmappedColumns, errors,
      driftWarnings ++ typeWarnings, isDup, willAppend)
    // All report fields are computed values; nothing re-reads the upload
    // after this point, so the dry run cleans up its scratch XML too.
    } finally FileReader.releaseScratch()
  }

  /** D6 type warnings over an in-memory sample (a `LocalRelation` with a
    * `_row_number` column, rows in file order): per checked column, in
    * source-column order, the first row's [[Ingestor.badCells]] value.
    * The optimizer's `ConvertToLocalRelation` evaluates the projection
    * itself, so the collect launches no job; the distributed twin is
    * [[Ingestor.typeValidationWarnings]]. */
  private[graft] def sampleTypeWarnings(sample: DataFrame, source: SourceConfig): Seq[String] = {
    val checks = Ingestor.badCells(sample, source)
    val rows = sample.select(col("_row_number") +: checks.map(_._2): _*).collect()
    checks.zipWithIndex.flatMap { case ((c, _), i) =>
      rows.find(!_.isNullAt(i + 1)).map(r =>
        typeWarning(c.internalName, c.dataType.name, r.getLong(0), r.getString(i + 1)))
    }
  }

  private[graft] def typeWarning(column: String, expectedType: String,
                                 rowNumber: Long, value: String): String =
    s"Column '$column' expects $expectedType but row $rowNumber has '$value'"
}
