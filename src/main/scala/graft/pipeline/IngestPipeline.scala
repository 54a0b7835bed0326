package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.functions._

import graft.config.{Catalog, SourceConfig}
import graft.header.HeaderDetector
import graft.io.FileReader
import graft.store.VersionStore

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The end-to-end ingest orchestration — the Spark re-expression of the
  * reference's `POST /upload/{source}/ingest` flow (upload.py:419-561 →
  * ingestor.py:691-783 → 504-648) and its `validate` dry-run twin
  * (upload.py:196-416).
  *
  * One distributed plan per file, run by one write action: all-string
  * scan → driver-side header detection on the reader's first 15 rows →
  * projection → typed transform → dedup shuffle → window → validity split
  * → versioned write. Nothing is materialized between the parse and the
  * write, and the validity counts and errors are observed on the way. The
  * quarantine split replaces the reference's write-then-retry-per-row
  * fallback: identical observable outcome (partial success + per-row error
  * strings), one pass. In the reference's two-step flow, `validateFile`
  * then `ingestFile` of the same file read it once ([[UploadCache]]).
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

  /** What [[prepare]] hands the ingest: the header detection, the
    * first-wins survivors to write, and what the write's result stage
    * observes on its way: the valid and invalid row counts and the first
    * quarantine errors by row number. The counts are read once the write
    * (or, for a replayed part, a `noop` write of the same plan) is done. */
  private final class Prepared(val unique: DataFrame, val det: HeaderDetector.Detection,
                               split: Observation) {
    private lazy val observed = split.get
    lazy val validCount: Long = observed("valid").asInstanceOf[Long]
    lazy val invalidCount: Long = observed("invalid").asInstanceOf[Long]
    lazy val errors: Seq[String] = observed("errors").asInstanceOf[scala.collection.Seq[Row]]
      .map(_.getString(1)).toVector
  }

  /** Detect + project + transform + split + rank, as one plan over the
    * upload's rows; nothing runs here. The typed rows are shuffled once,
    * into as many partitions as the upload has, on their unique keys plus,
    * for a row missing a key, its row number: every invalid row is a group
    * of its own, so all rows take the one shuffle, an all-invalid file
    * spreads over every task, and the valid rows' groups are their keys.
    * The explicit partition count keeps AQE from coalescing the write's
    * stage, and the first-wins window reuses that partitioning. An upload
    * read as one partition is ranked in place instead: its rows are
    * planned as one known partition, which every group's clustering
    * already satisfies, so the ingest is one job with no shuffle and no
    * AQE re-plan. An `Observation` over the ranked rows counts the valid
    * and invalid rows and keeps the first `maxCollectedErrors` error
    * strings (Spark's bounded top-k aggregate, so an adversarial
    * all-invalid file cannot become a driver-OOM vector). It sits past the
    * shuffle, in the result stage, so a retried map task cannot count
    * twice. The survivors are the valid rows of rank 1. */
  private def prepare(source: SourceConfig, upload: FileReader.Upload): Prepared = {
    val head = FileReader.cellStrings(upload.head.take(HeaderDetector.MaxScanRows))
    val det = HeaderDetector.detectHeaderRow(head, mappingsOf(source))
    if (!det.found)
      throw new IllegalArgumentException(det.error.getOrElse("header not found"))
    val hdrIdx = det.headerRowIndex.get
    val colIdx = HeaderDetector.getColumnIndex(head(hdrIdx), det.columnMap)
    val one = upload.partitions == 1
    val rows = if (one) Bridge.onePartition(upload.rows) else upload.rows
    val dataRows = rows.filter(col(FileReader.RowNumber) > hdrIdx + 1)
    val nonEmpty = Ingestor.filterEmptyRows(dataRows, colIdx.values.map(i => s"_c$i").toSeq)
    val keys = source.uniqueKeys
    val present = Ingestor.keysPresent(keys)
    val groups = keys.map(col) :+ when(!present, col(FileReader.RowNumber))
    val split = Observation()
    val typed = Ingestor.transformColumns(Ingestor.project(nonEmpty, colIdx), source)
    val ranked = Ingestor.dupRank(
      if (one) typed else typed.repartition(upload.partitions, groups: _*), groups)
      .observe(split, count(when(present, lit(1))).as("valid"),
        count(when(!present, lit(1))).as("invalid"),
        Bridge.collectSmallest(when(!present,
          struct(col(FileReader.RowNumber), Ingestor.keyError(keys))),
          Catalog.Limits.maxCollectedErrors).as("errors"))
    new Prepared(ranked.filter(present && col("_dup_rank") === 1)
      .drop("_dup_rank", FileReader.RowNumber), det, split)
  }

  /** The upload `validateFile` read last, kept for the `ingestFile` of the
    * same bytes that follows it in the two-step upload flow, so the file is
    * read once. One entry, keyed by the session, the path and the file's
    * SHA-256 (both calls hash the file anyway), so a changed file misses.
    * An entry that is taken, or pushed out by a newer one, leaves the
    * cache; a pushed-out entry is released here (its XLSX scratch file
    * deleted), a taken one by its ingest. Reuse across successive requests
    * of one session is the idea of *Incremental Based Framework for
    * Efficient Top-K Similarity Search in Interactive Data Analysis
    * Sessions* (EDBT 2020). */
  private[graft] object UploadCache {
    private final case class Key(spark: SparkSession, path: String, sha256: String)
    private var entry: Option[(Key, FileReader.Upload)] = None
    private val hitCount = new java.util.concurrent.atomic.AtomicLong()

    /** Ingests served from the cache so far. */
    def hits: Long = hitCount.get

    def leave(spark: SparkSession, path: String, sha256: String,
              upload: FileReader.Upload): Unit = synchronized {
      entry.foreach(_._2.release())
      entry = Some((Key(spark, path, sha256), upload))
    }

    /** The entry for this read, if it is the cached one and still readable. */
    def take(spark: SparkSession, path: String, sha256: String): Option[FileReader.Upload] =
      synchronized {
        entry match {
          case Some((k, u)) if k == Key(spark, path, sha256) =>
            entry = None
            Option.when(u.readable) { hitCount.incrementAndGet(); u }
          case _ => None
        }
      }
  }

  /** The reference's size-cap message for an upload over
    * `Catalog.Limits.maxFileSizeBytes` (upload.py:231-242, config.py:22
    * max_upload_size_mb=100), from the file's size alone. */
  private def sizeError(path: String): Option[String] = {
    val fileSize = java.nio.file.Files.size(java.nio.file.Paths.get(path))
    Option.when(fileSize > Catalog.Limits.maxFileSizeBytes) {
      val sizeMb = String.format(java.util.Locale.ROOT, "%.1f",
        Double.box(fileSize / 1024.0 / 1024.0))
      val maxMb = Catalog.Limits.maxFileSizeBytes / 1024 / 1024
      s"File size ($sizeMb MB) exceeds maximum ($maxMb MB)"
    }
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
    * that version's first file or on its part ledger) lands nothing, but
    * runs the same plan through a `noop` write to report its counts. A new
    * version is settled in the commit that lists its files: completed (and
    * current, with its warning) when a row landed, failed otherwise.
    * An upload over the size cap is rejected before it is hashed or read,
    * as `validateFile` rejects it.
    *
    * Jobs per file: one write action — parse → transform → dedup shuffle
    * → window → write — which is two jobs under AQE, the shuffle's map
    * stage and the write's result stage (which also counts the valid and
    * invalid rows, keeps the first error strings and counts the rows it
    * lands); one job for an upload read as one partition, which takes no
    * shuffle. Right after `validateFile` of the same bytes, the upload that
    * validate read is reused ([[UploadCache]]): no driver-side scan, parse
    * or XLSX inflate is repeated. The reader hands over the head the header
    * detection reads, parsed on the driver (see [[FileReader]]); the
    * store's metadata commits launch no job. Since the write is where the
    * rows are first parsed, a parse error surfaces after the version is
    * created: the version is failed with the error's first line, and the
    * error is rethrown. */
  def ingestFile(spark: SparkSession, store: VersionStore, sourceCode: String,
                 path: String, versionLabel: String,
                 effectiveDate: java.sql.Date, variant: Option[String] = None,
                 markAsCurrent: Boolean = true): IngestResult = {
    val source = Catalog(sourceCode)
    sizeError(path).foreach(e => throw new IllegalArgumentException(e))
    val fileHash = VersionStore.sha256File(path)
    val fileName = path.substring(path.lastIndexOf('/') + 1)
    val upload = UploadCache.take(spark, path, fileHash)
      .getOrElse(FileReader.readUpload(spark, path))
    // Whether the ingest landed or threw, nothing reads the upload again:
    // any XLSX scratch XML can go now instead of parking ~10× the upload
    // size on disk until JVM exit.
    try {
    val plan = prepare(source, upload)
    val existing = appendTarget(store, source, versionLabel, variant)

    val (versionId, inserted, status) = existing match {
      case Some(v) if store.metadata.holds(v, fileHash) => // a replay: nothing lands
        plan.unique.write.format("noop").mode(SaveMode.Overwrite).save()
        (v.dataVersionId, 0L, "completed")
      case Some(v) => // U4 append path
        (v.dataVersionId, store.landPart(source.targetTable, v.dataVersionId,
          v.partCount + 1, plan.unique, fileHash, fileName), "completed")
      case None =>
        val versionId = store.createVersion(source.sourceCode, versionLabel,
          effectiveDate, variant, fileHash, fileName)
        val inserted = failingOnThrow(store, versionId) {
          store.writeData(source.targetTable, versionId, plan.unique, 1, n => s =>
            if (n > 0) s.completed(versionId, n,
              markCurrentFor = if (markAsCurrent) Some((source.sourceCode, variant)) else None,
              warning = Option.when(plan.invalidCount > 0)((s"${plan.invalidCount} rows failed validation",
                Some(plan.errors.take(5).mkString("[\"", "\",\"", "\"]")))))
            else s.failed(versionId, s"No rows inserted. First errors: ${plan.errors.take(5).mkString("; ")}"))
        }
        (versionId, inserted, if (inserted > 0) "completed" else "failed")
    }
    // Duplicates = valid minus survivors: exactly the rank>1 rows.
    val dupCount = plan.validCount - inserted
    IngestResult(versionId, status, inserted + plan.invalidCount + dupCount,
      inserted, plan.invalidCount, dupCount, plan.errors,
      plan.det.headerRowIndex.get, plan.det.unmappedColumns)
    } finally upload.release()
  }

  /** Run the write of version `id`; if it throws, commit the version as
    * `failed` with the first line of the error, then rethrow it (a failure
    * of that commit is added to it as suppressed). */
  private def failingOnThrow[A](store: VersionStore, id: Long)(write: => A): A =
    try write
    catch {
      case NonFatal(e) =>
        val firstLine = Option(e.getMessage).flatMap(_.linesIterator.nextOption())
          .getOrElse(e.getClass.getName)
        try store.failVersion(id, firstLine)
        catch { case NonFatal(f) => e.addSuppressed(f) }
        throw e
    }

  /** Dry-run validation preview (upload.py:196-416 + validator.py:13-87):
    * extension/duplicate checks, header detection, row counts, drift
    * warnings vs the previous completed version, sampled type warnings.
    * On a ranged CSV/TXT or a driver-parsed XLSX/XLS it launches no job:
    * the head and the count come with the upload, and the type sample is
    * evaluated on the driver ([[sampleTypeWarnings]]). An unranged CSV/TXT
    * costs one job, its count. The upload it reads stays in the
    * [[UploadCache]] for the `ingestFile` that follows. */
  def validateFile(spark: SparkSession, store: VersionStore, sourceCode: String,
                   path: String, versionLabel: String,
                   variant: Option[String] = None): ValidationReport = {
    val source = Catalog(sourceCode)
    val ext = FileReader.extension(path)
    if (!FileReader.isSupported(ext))
      return ValidationReport(valid = false, 0, None, Map.empty, Seq.empty,
        Seq(s"Unsupported file type: $ext"), Seq.empty,
        duplicateFile = false, willAppend = false)

    // Size cap before any read of the content.
    sizeError(path).foreach { e =>
      return ValidationReport(valid = false, 0, None, Map.empty, Seq.empty,
        Seq(e), Seq.empty, duplicateFile = false, willAppend = false)
    }

    val fileHash = VersionStore.sha256File(path)
    val isDup = store.isDuplicateFile(source.sourceCode, fileHash)

    val upload = FileReader.readUpload(spark, path)
    UploadCache.leave(spark, path, fileHash, upload)
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
