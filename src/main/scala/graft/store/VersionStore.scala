package graft.store

import java.io.{FileInputStream, IOException}
import java.security.{DigestInputStream, MessageDigest}

import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.config.Catalog

/** Versioned relational store over parquet.
  *
  * Layout: `root/data/<table>/data_version_id=<id>/p<part>-<i>.parquet`
  * (hive-style partitioning so version predicates prune at the FILE level —
  * a "current version" read of a 100 TB table touches only that version's
  * files), plus the metadata log `root/meta/_log/<n>.json`.
  *
  * Reference semantics: scripts/init_db.py:36-155 (metadata schema),
  * app/services/ingestor.py:101-259 (lifecycle), 691-783 (multi-part append),
  * scripts/init_db.py:418-518 (current views).
  *
  * Atomicity (U3): the metadata — versions, the part ledger, the event log
  * and the next version id, KB-scale — is one [[VersionStore.State]] held
  * on the driver. Every change is one [[commit]]: the new state is written
  * from the driver to a temp file under `meta/_log/` and renamed to the next
  * commit number; superseded commit files are pruned after the rename. A
  * reader (a fresh instance on the same root) takes the highest-numbered
  * file, so it sees the state before a commit or after it, never a mix and
  * never nothing — the same observable contract as the reference's single
  * DB transaction, under a single-writer discipline (one writing driver
  * per root; a store the log has moved past refuses to commit). Because
  * the next id is part of the committed state, a version id is never
  * handed out twice, even after the highest version is deleted. Metadata
  * reads and commits launch no Spark job. Stores written in the older
  * `meta/data_versions` parquet layout are not read.
  */
final class VersionStore(val spark: SparkSession, val root: String) {
  import VersionStore._

  private val logDir = new Path(s"$root/meta/_log")
  private val dataDir = s"$root/data"

  private def fs: FileSystem = logDir.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitPath(n: Long): Path = new Path(logDir, f"$n%020d.json")

  private def commits: Seq[Long] =
    if (!fs.exists(logDir)) Nil
    else fs.listStatus(logDir).toSeq.flatMap(st => commitNumber(st.getPath))

  /** The latest complete commit's number (0 before the first commit) and
    * its state; only [[commit]] moves them. */
  private var head: Long = commits.maxOption.getOrElse(0L)
  @volatile private var state: State =
    if (head == 0) State.empty
    else {
      val in = fs.open(commitPath(head))
      try Json.readValue(in: java.io.InputStream, classOf[State]) finally in.close()
    }

  /** The one metadata commit: apply `f` to the state, write the result as
    * a temp file, rename it to the next commit number, then delete the
    * superseded commits. The driver's state moves only once the rename has
    * succeeded; a crash before it leaves the previous commit the latest
    * one (a stray temp file is never read), a crash after it leaves the new
    * one. Returns the committed state.
    *
    * If the log holds a commit numbered past this store's head, another
    * writer committed since this store last read it: the commit throws and
    * changes nothing (a local-FS rename would replace the next commit
    * silently, or land under a newer one a reader takes instead). The
    * check and the rename are two steps, so two writers racing between
    * them can still both succeed. */
  private def commit(f: State => State): State = synchronized {
    val next = f(state)
    if (next != state) {
      val target = commitPath(head + 1)
      if (commits.exists(_ > head))
        throw new IOException(s"$logDir has commits past $head: another writer committed")
      val tmp = new Path(logDir, s".${target.getName}.tmp")
      val out = fs.create(tmp, true)
      try out.write(Json.writeValueAsBytes(next)) finally out.close()
      if (!fs.rename(tmp, target)) throw new IOException(s"cannot rename $tmp to $target")
      head += 1
      state = next
      commits.filter(_ < head).foreach(n => fs.delete(commitPath(n), false))
    }
    state
  }

  /** The committed metadata, as typed rows. */
  def metadata: State = state

  private def localDF(rows: Seq[Row], schema: StructType): DataFrame = {
    val list = new java.util.ArrayList[Row](rows.size)
    rows.foreach(list.add)
    spark.createDataFrame(list, schema)
  }

  /** Metadata as DataFrames over the driver rows (LocalRelations). */
  def versions: DataFrame = localDF(state.versions.map(_.row), versionSchema)
  def parts: DataFrame = localDF(state.parts.map(_.row), partSchema)
  def logs: DataFrame = localDF(state.logs.map(_.row), logSchema)

  /** U2 create a version in 'processing' state; returns its id. */
  def createVersion(sourceCode: String, versionLabel: String,
                    effectiveDate: java.sql.Date, variant: Option[String],
                    fileHash: String, fileName: String): Long =
    commit(s => s.copy(nextVersionId = s.nextVersionId + 1,
      versions = s.versions :+ Version(s.nextVersionId, sourceCode, versionLabel,
        effectiveDate, variant, "processing", fileHash, fileName, None,
        isCurrent = false, now(), 1, None))).versions.last.dataVersionId

  /** U2 transition: completed (+record_count) or failed (+error). When
    * `markCurrentFor` is set, the U3 current-swap happens in the SAME
    * commit — one atomic transition, like the reference's single DB
    * transaction. A `warning` (message, details JSON) is logged at level
    * WARNING in that commit too, so a completed version never lacks it. */
  def completeVersion(id: Long, recordCount: Long,
                      markCurrentFor: Option[(String, Option[String])] = None,
                      warning: Option[(String, Option[String])] = None): Unit =
    commit { s =>
      val done = s.edit(id)(_.copy(status = "completed", recordCount = Some(recordCount)))
      val current = markCurrentFor.fold(done) { case (sourceCode, variant) =>
        done.current(id, sourceCode, variant) }
      warning.fold(current) { case (message, details) =>
        current.logged(id, "WARNING", message, details) }
    }: Unit

  def failVersion(id: Long, error: String): Unit =
    commit(_.edit(id)(_.copy(status = "failed", errorMessage = Some(error)))): Unit

  /** U3 mark-as-current: one commit clears is_current for the (source,
    * variant) scope and sets it on the new version — null-safe variant
    * compare, like the reference's `IS NOT DISTINCT FROM` (ingestor.py:226-259). */
  def markCurrent(id: Long, sourceCode: String, variant: Option[String]): Unit =
    commit(_.current(id, sourceCode, variant)): Unit

  private def versionDir(table: String, versionId: Long): Path =
    new Path(s"$dataDir/$table/data_version_id=$versionId")

  /** Write one part of a version's data and return the rows written, counted
    * by the write job itself. The rows go to a staging directory; then any
    * `p<part>-*.parquet` files an earlier attempt left in the version's
    * directory are deleted and the staged files are renamed to the
    * deterministic `p<part>-<i>.parquet` names. Rewriting a part therefore
    * replaces it — a replay after a crash leaves no extra rows — and never
    * touches the version's other parts. The version's directory is the
    * hive-style `data_version_id=<id>` partition, so the layout (and the
    * partition-pruned read path) is that of a `partitionBy` write.
    *
    * With `dropEmpty`, a write that counted no rows lands nothing: its
    * staging directory (an empty write still stages one parquet file) is
    * deleted before any rename, so the version's directory is not created.
    * An ingest whose write is also the job that finds out whether any row
    * is valid writes its first part this way. */
  def writeData(table: String, versionId: Long, df: DataFrame, part: Int = 1,
                dropEmpty: Boolean = false): Long = {
    val staging = new Path(s"$dataDir/$table/.staging-v$versionId-p$part")
    val dest = versionDir(table, versionId)
    val written = Observation()
    df.observe(written, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val rows = written.get("rows").asInstanceOf[Long]
    if (rows == 0 && dropEmpty) {
      fs.delete(staging, true)
      return 0L
    }
    fs.mkdirs(dest)
    fs.globStatus(new Path(dest, s"p$part-*.parquet"))
      .foreach(st => fs.delete(st.getPath, false))
    fs.listStatus(staging).map(_.getPath).filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).zipWithIndex.foreach { case (p, i) =>
        val target = new Path(dest, s"p$part-$i.parquet")
        if (!fs.rename(p, target)) throw new IOException(s"cannot rename $p to $target")
      }
    fs.delete(staging, true)
    rows
  }

  /** Part already on the ledger? (The exactly-once probe.) */
  def hasPart(versionId: Long, partNumber: Int): Boolean = state.hasPart(versionId, partNumber)

  /** U4 land one appended part EXACTLY ONCE even under crash/replay: skip
    * if the part is on the ledger; otherwise [[writeData]] it, then commit
    * its ledger row, the version's counters (record_count += n,
    * part_count += 1 — reference ingestor.py:153-195) and a log line as ONE
    * commit, the commit point. A crash before that commit leaves a state a
    * replay repairs, because rewriting the part replaces its files. Batch
    * (multi-part upload) and streaming (micro-batch) parts both land here.
    * Returns rows landed (0 = skipped).
    *
    * Between the rename of the part's files and the commit, the current
    * view already reads the new rows; a crash there leaves them visible,
    * uncounted, until the part is replayed.
    *
    * Concurrency contract: ONE writing driver per store root. Within one
    * JVM the re-probe inside the synchronized commit closes the
    * check-then-act window — a zombie foreachBatch replay on the same
    * driver commits the part once. */
  def landPart(table: String, versionId: Long, partNumber: Int,
               df: DataFrame, fileHash: String, fileName: String): Long = {
    if (hasPart(versionId, partNumber)) return 0L
    val n = writeData(table, versionId, df, partNumber)
    commit { s =>
      if (s.hasPart(versionId, partNumber)) s
      else s.edit(versionId)(v => v.copy(recordCount = Some(v.recordCount.getOrElse(0L) + n),
          partCount = v.partCount + 1))
        .copy(parts = s.parts :+ Part(versionId, partNumber, fileHash, fileName, n))
        .logged(versionId, "INFO", s"Appended part $partNumber ($n rows)", None)
    }
    n
  }

  /** S7's relational-sink sibling: write a version's rows to an external
    * RDBMS over JDBC in 1000-row insert batches — the same page size as the
    * reference's `execute_values(..., page_size=1000)` bulk insert
    * (ingestor.py:383-438, config `insertBatchSize`). Executors open their
    * own connections and batch independently, so the insert parallelism
    * scales with the DataFrame's partitioning (repartition upstream to match
    * what the target database can absorb). */
  def writeJdbc(url: String, table: String, versionId: Long, df: DataFrame,
                properties: java.util.Properties = new java.util.Properties(),
                mode: SaveMode = SaveMode.Append): Unit =
    df.withColumn("data_version_id", lit(versionId))
      .write.mode(mode)
      .option("batchsize", Catalog.Limits.insertBatchSize)
      .jdbc(url, table, properties)

  def data(table: String): DataFrame = spark.read.parquet(s"$dataDir/$table")

  /** J2 current view. The current version ids are resolved DRIVER-SIDE from
    * the committed metadata, and only their `data_version_id=<id>`
    * directories are opened (`basePath` keeps `data_version_id` as a path
    * column), so the file index lists the current version's files however
    * long the table's history is. The schema comes from one footer of the
    * current version ([[readVersions]]), so building the view launches no
    * job. A static `isin` partition filter stays on top, so the plan shows
    * the pruning (a broadcast join would at best prune dynamically at
    * runtime). With no current version, or no footer carrying Spark's
    * schema, the view is the whole table filtered to the current ids.
    * Null-safe variant compare mirrors the reference's
    * `IS NOT DISTINCT FROM` (init_db.py:418-518). */
  def currentView(table: String, sourceCode: String, variant: Option[String] = None): DataFrame = {
    val ids = currentVersionIds(sourceCode, variant)
    readVersions(table, ids).getOrElse(data(table))
      .filter(col("data_version_id").isin(ids.map(Long.box): _*))
  }

  /** The given versions' directories of `table`, read with the Spark schema
    * stored in the footer of the first directory's first parquet file (by
    * name) — the footer Spark's own non-merging inference reads, read here
    * on the driver instead of in a job. None when no directory exists, it
    * holds no parquet file, or the footer has no Spark schema (a file Spark
    * did not write). */
  private def readVersions(table: String, ids: Seq[Long]): Option[DataFrame] = {
    val dirs = ids.map(versionDir(table, _)).filter(fs.exists)
    dirs.headOption.flatMap(footerSchema).map(schema =>
      spark.read.schema(schema).option("basePath", s"$dataDir/$table")
        .parquet(dirs.map(_.toString): _*))
  }

  private def footerSchema(dir: Path): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName).headOption.flatMap { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get(SparkSchemaKey))
        finally reader.close()
      }.map(json => DataType.fromJson(json).asInstanceOf[StructType])
  }

  /** Current completed version ids for a (source, variant) scope, from the
    * driver's metadata — zero jobs. */
  def currentVersionIds(sourceCode: String, variant: Option[String]): Seq[Long] =
    state.versions.collect {
      case v if v.sourceCode == sourceCode && v.isCurrent &&
        v.status == "completed" && v.variant == variant => v.dataVersionId
    }

  /** U5 cascade delete: the version's metadata rows are committed away
    * first, then its data directory is removed — a crash between the two
    * leaves only an unreferenced directory, whose id is never handed out
    * again. */
  def deleteVersion(id: Long, table: String): Unit = {
    commit(s => s.copy(versions = s.versions.filterNot(_.dataVersionId == id),
      parts = s.parts.filterNot(_.dataVersionId == id)))
    fs.delete(versionDir(table, id), true): Unit
  }

  /** U6 ingestion event log append. */
  def log(versionId: Long, level: String, message: String, detailsJson: Option[String] = None): Unit =
    commit(_.logged(versionId, level, message, detailsJson)): Unit

  /** D2 duplicate-file detection: a completed version of this source whose
    * upload — its first file or any appended part on the ledger — has the
    * same hash blocks re-upload (reference: validator.py:178-214,
    * upload.py:270-294). Driver-side over the metadata rows — zero jobs. */
  def isDuplicateFile(sourceCode: String, fileHash: String): Boolean =
    state.versions.exists(v => v.sourceCode == sourceCode && v.status == "completed" &&
      state.holds(v, fileHash))
}

object VersionStore {
  import org.apache.spark.sql.types._

  /** Footer key under which Spark's parquet writer stores the row schema. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  private val Json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  private val CommitFile = """(\d{20})\.json""".r

  private def commitNumber(p: Path): Option[Long] = p.getName match {
    case CommitFile(n) => Some(n.toLong)
    case _ => None
  }

  private def now() = new java.sql.Timestamp(System.currentTimeMillis())

  /** One `data_versions` row ([[versionSchema]]). */
  final case class Version(
      dataVersionId: Long, sourceCode: String, versionLabel: String,
      effectiveDate: java.sql.Date, variant: Option[String], status: String,
      fileHash: String, fileName: String,
      @JsonDeserialize(contentAs = classOf[java.lang.Long]) recordCount: Option[Long],
      isCurrent: Boolean, importedAt: java.sql.Timestamp, partCount: Int,
      errorMessage: Option[String]) {
    def row: Row = Row(dataVersionId, sourceCode, versionLabel, effectiveDate,
      variant.orNull, status, fileHash, fileName, recordCount.map(Long.box).orNull,
      isCurrent, importedAt, partCount, errorMessage.orNull)
  }

  /** One part-ledger row ([[partSchema]]): an appended part of a version. */
  final case class Part(dataVersionId: Long, partNumber: Int, fileHash: String,
                        fileName: String, recordCount: Long) {
    def row: Row = Row(dataVersionId, partNumber, fileHash, fileName, recordCount)
  }

  /** One event-log row ([[logSchema]]). */
  final case class LogEntry(dataVersionId: Long, level: String, message: String,
                            details: Option[String], loggedAt: java.sql.Timestamp) {
    def row: Row = Row(dataVersionId, level, message, details.orNull, loggedAt)
  }

  /** The whole committed metadata of a store; each commit writes one. */
  final case class State(nextVersionId: Long, versions: Vector[Version],
                         parts: Vector[Part], logs: Vector[LogEntry]) {
    def hasPart(versionId: Long, partNumber: Int): Boolean =
      parts.exists(p => p.dataVersionId == versionId && p.partNumber == partNumber)

    /** Did an upload with this hash land in `v`, as its first file or as an
      * appended part? */
    def holds(v: Version, fileHash: String): Boolean =
      v.fileHash == fileHash ||
        parts.exists(p => p.dataVersionId == v.dataVersionId && p.fileHash == fileHash)

    private[store] def edit(id: Long)(f: Version => Version): State =
      copy(versions = versions.map(v => if (v.dataVersionId == id) f(v) else v))

    /** `id` becomes the one current version of its (source, variant) scope. */
    private[store] def current(id: Long, sourceCode: String, variant: Option[String]): State =
      copy(versions = versions.map {
        case v if v.dataVersionId == id => v.copy(isCurrent = true)
        case v if v.sourceCode == sourceCode && v.variant == variant => v.copy(isCurrent = false)
        case v => v
      })

    private[store] def logged(id: Long, level: String, message: String,
                              details: Option[String]): State =
      copy(logs = logs :+ LogEntry(id, level, message, details, now()))
  }

  object State {
    val empty: State = State(1L, Vector.empty, Vector.empty, Vector.empty)
  }

  /** Audit diff between two versions of a relation on its unique keys:
    * one row per key present in either side, classified added / removed /
    * changed / unchanged (value compare is null-safe). The full-outer join
    * shuffles both sides once on the key columns — the scalable shape for
    * "what changed in this quarter's file" over any size history. */
  def diffVersions(oldV: DataFrame, newV: DataFrame, keys: Seq[String],
                   compareCols: Seq[String]): DataFrame = {
    val o = oldV.select((keys ++ compareCols).map(col): _*)
      .withColumns(compareCols.map(c => s"_old_$c" -> col(c)).toMap)
      .drop(compareCols: _*)
      .withColumn("_in_old", lit(true))
    val n = newV.select((keys ++ compareCols).map(col): _*)
      .withColumns(compareCols.map(c => s"_new_$c" -> col(c)).toMap)
      .drop(compareCols: _*)
      .withColumn("_in_new", lit(true))
    val joined = o.join(n, keys, "full_outer")
    val differs = compareCols.map(c => !(col(s"_old_$c") <=> col(s"_new_$c")))
      .reduce(_ || _)
    joined.select(keys.map(col) :+
      when(col("_in_old").isNull, "added")
        .when(col("_in_new").isNull, "removed")
        .when(differs, "changed")
        .otherwise("unchanged").as("change_type"): _*)
  }

  val versionSchema: StructType = StructType(Seq(
    StructField("data_version_id", LongType, nullable = false),
    StructField("source_code", StringType, nullable = false),
    StructField("version_label", StringType, nullable = false),
    StructField("effective_date", DateType, nullable = true),
    StructField("variant", StringType, nullable = true),
    StructField("status", StringType, nullable = false),
    StructField("file_hash", StringType, nullable = true),
    StructField("file_name", StringType, nullable = true),
    StructField("record_count", LongType, nullable = true),
    StructField("is_current", BooleanType, nullable = false),
    StructField("imported_at", TimestampType, nullable = false),
    StructField("part_count", IntegerType, nullable = true),
    StructField("error_message", StringType, nullable = true),
  ))

  val partSchema: StructType = StructType(Seq(
    StructField("data_version_id", LongType, nullable = false),
    StructField("part_number", IntegerType, nullable = false),
    StructField("file_hash", StringType, nullable = true),
    StructField("file_name", StringType, nullable = true),
    StructField("record_count", LongType, nullable = true),
  ))

  val logSchema: StructType = StructType(Seq(
    StructField("data_version_id", LongType, nullable = false),
    StructField("level", StringType, nullable = false),
    StructField("message", StringType, nullable = false),
    StructField("details", StringType, nullable = true),
    StructField("logged_at", TimestampType, nullable = false),
  ))

  /** F13 SHA-256 of a file's raw bytes (reference: upload.py:47-49),
    * streamed through a fixed buffer. */
  def sha256File(path: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = new DigestInputStream(new FileInputStream(path), md)
    try {
      val buf = new Array[Byte](1 << 16)
      while (in.read(buf) != -1) {}
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }
}
