package graft.store

import java.io.{FileInputStream, IOException}
import java.security.{DigestInputStream, MessageDigest}

import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}

import graft.config.Catalog

/** Versioned relational store over parquet.
  *
  * Layout: `root/data/<table>/data_version_id=<id>/<file>.parquet`
  * (hive-style partitioning so version predicates prune at the FILE level —
  * a "current version" read of a 100 TB table touches only that version's
  * files), plus the metadata log `root/meta/_log/<n>.json`. The committed
  * state lists every version's data files, by part, and its written schema,
  * like the add/remove actions of Delta Lake's log: a read opens exactly
  * the listed files, so rows become visible in the commit that counts them.
  *
  * Reference semantics: scripts/init_db.py:36-155 (metadata schema),
  * app/services/ingestor.py:101-259 (lifecycle), 691-783 (multi-part append),
  * scripts/init_db.py:418-518 (current views).
  *
  * Atomicity (U3): the metadata — versions with their file lists, the part
  * ledger, the event log and the next version id — is one
  * [[VersionStore.State]] held on the driver. Every change is one
  * [[commit]]: the new state is written
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
  * `meta/data_versions` parquet layout are not read, and a commit written
  * before versions listed their files reads as holding no data.
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
    commit(_.completed(id, recordCount, markCurrentFor, warning)): Unit

  def failVersion(id: Long, error: String): Unit = commit(_.failed(id, error)): Unit

  /** U3 mark-as-current: one commit clears is_current for the (source,
    * variant) scope and sets it on the new version — null-safe variant
    * compare, like the reference's `IS NOT DISTINCT FROM` (ingestor.py:226-259). */
  def markCurrent(id: Long, sourceCode: String, variant: Option[String]): Unit =
    commit(_.current(id, sourceCode, variant)): Unit

  private def versionDir(table: String, versionId: Long): Path =
    new Path(s"$dataDir/$table/data_version_id=$versionId")

  /** Write one part of a version's data and return the rows written, counted
    * by the write job itself. The job stages its files; they move into the
    * version's `data_version_id=<id>` directory (the hive-style partition of
    * a `partitionBy` write) under the unique names the job gave them, and one
    * commit lists them, with the written schema, as the part's files: that
    * commit makes them visible. A second write of the same part replaces the
    * part's list, and the files it unlists are deleted after that commit, so
    * a replay after a crash leaves no extra rows and never touches the
    * version's other parts. A write that counts no rows lists no file and
    * creates no directory; a part already on the ledger is not relisted. */
  def writeData(table: String, versionId: Long, df: DataFrame, part: Int = 1): Long =
    writeData(table, versionId, df, part, (_: Long) => identity[State])

  /** [[writeData]], whose listing commit also applies `settle(rows)` to the
    * state: the write and what it settles become visible together. */
  def writeData(table: String, versionId: Long, df: DataFrame, part: Int,
                settle: Long => State => State): Long = {
    val staging = new Path(s"$dataDir/$table/.staging-v$versionId-p$part")
    val dest = versionDir(table, versionId)
    val written = Observation()
    df.observe(written, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    val rows = written.get("rows").asInstanceOf[Long]
    val names = if (rows == 0) Vector.empty else {
      fs.mkdirs(dest)
      fs.listStatus(staging).toVector.map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).map { p =>
          if (!fs.rename(p, new Path(dest, p.getName))) throw new IOException(s"cannot move $p to $dest")
          p.getName
        }
    }
    def listed(s: State) = for (v <- s.versions if v.dataVersionId == versionId;
      f <- v.files if f.part == part; n <- f.names) yield new Path(versionDir(f.table, versionId), n)
    val before = listed(state) ++ names.map(new Path(dest, _))
    val after = listed(commit(s => if (s.hasPart(versionId, part)) s
      else settle(rows)(s.listed(versionId, DataFiles(table, part, names), df.schema.json))))
    before.filterNot(after.contains).foreach(fs.delete(_, false))
    fs.delete(staging, true)
    rows
  }

  /** Part already on the ledger? (The exactly-once probe.) */
  def hasPart(versionId: Long, partNumber: Int): Boolean = state.hasPart(versionId, partNumber)

  /** U4 land one appended part EXACTLY ONCE even under crash/replay: skip
    * if the part is on the ledger; otherwise [[writeData]] it, and list its
    * files, its ledger row, the version's counters (record_count += n,
    * part_count += 1 — reference ingestor.py:153-195) and a log line in ONE
    * commit, the commit point: the part's rows are visible exactly when
    * they are counted. A crash before that commit leaves files no commit
    * lists, which no read opens; a replay writes the part afresh. Batch
    * (multi-part upload) and streaming (micro-batch) parts both land here.
    * Returns rows landed (0 = skipped).
    *
    * Concurrency contract: ONE writing driver per store root. Within one
    * JVM the re-probe inside the synchronized commit closes the
    * check-then-act window — a zombie foreachBatch replay on the same
    * driver commits the part once. */
  def landPart(table: String, versionId: Long, partNumber: Int,
               df: DataFrame, fileHash: String, fileName: String): Long =
    if (hasPart(versionId, partNumber)) 0L
    else writeData(table, versionId, df, partNumber, n => s =>
      s.edit(versionId)(v => v.copy(recordCount = Some(v.recordCount.getOrElse(0L) + n),
          partCount = v.partCount + 1))
        .copy(parts = s.parts :+ Part(versionId, partNumber, fileHash, fileName, n))
        .logged(versionId, "INFO", s"Appended part $partNumber ($n rows)", None))

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

  /** Every listed file of `table`, under the schema of its newest version. */
  def data(table: String): DataFrame = read(table, _ => true)

  /** J2 current view. The current version ids are resolved DRIVER-SIDE from
    * the committed metadata, and only their listed files are read
    * ([[read]]), so building the view launches no job however long the
    * table's history is. A static `isin` partition filter stays on top, so
    * the plan shows the pruning (a broadcast join would at best prune
    * dynamically at runtime). With no current version, the view is empty,
    * with the schema of [[data]]. Null-safe variant compare mirrors the
    * reference's `IS NOT DISTINCT FROM` (init_db.py:418-518). */
  def currentView(table: String, sourceCode: String, variant: Option[String] = None): DataFrame = {
    val ids = currentVersionIds(sourceCode, variant)
    read(table, v => ids.contains(v.dataVersionId))
      .filter(col("data_version_id").isin(ids.map(Long.box): _*))
  }

  /** The listed files of the `keep` versions of `table`, read with the
    * committed schema of the newest of them (of the table's newest version
    * when none lists a file), so no footer is read. Only their
    * `data_version_id=<id>` directories are opened, under `basePath`, so
    * `data_version_id` is the path column; the file index keeps just the
    * listed names (`_metadata.file_name`), so a file no commit lists is
    * never opened. */
  private def read(table: String, keep: Version => Boolean): DataFrame = {
    val written = state.versions.filter(_.files.exists(_.table == table))
    val kept = written.filter(keep)
    val schema = (kept.lastOption orElse written.lastOption).flatMap(_.schema)
      .fold(new StructType())(DataType.fromJson(_).asInstanceOf[StructType])
    val reader = spark.read.schema(schema.add("data_version_id", IntegerType))
    (if (kept.isEmpty) reader else reader.option("basePath", s"$dataDir/$table"))
      .parquet(kept.map(v => versionDir(table, v.dataVersionId).toString): _*)
      .filter(col("_metadata.file_name").isin(
        kept.flatMap(_.files.filter(_.table == table).flatMap(_.names)): _*))
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

  private val Json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  private val CommitFile = """(\d{20})\.json""".r

  private def commitNumber(p: Path): Option[Long] = p.getName match {
    case CommitFile(n) => Some(n.toLong)
    case _ => None
  }

  private def now() = new java.sql.Timestamp(System.currentTimeMillis())

  /** One `data_versions` row ([[versionSchema]]), with the data files its
    * writes listed and the schema (JSON) they were written with. */
  final case class Version(
      dataVersionId: Long, sourceCode: String, versionLabel: String,
      effectiveDate: java.sql.Date, variant: Option[String], status: String,
      fileHash: String, fileName: String,
      @JsonDeserialize(contentAs = classOf[java.lang.Long]) recordCount: Option[Long],
      isCurrent: Boolean, importedAt: java.sql.Timestamp, partCount: Int,
      errorMessage: Option[String], files: Vector[DataFiles] = Vector.empty,
      schema: Option[String] = None) {
    def row: Row = Row(dataVersionId, sourceCode, versionLabel, effectiveDate,
      variant.orNull, status, fileHash, fileName, recordCount.map(Long.box).orNull,
      isCurrent, importedAt, partCount, errorMessage.orNull)
  }

  /** The parquet files that one part of a version landed in `table`, by the
    * names the write job gave them. */
  final case class DataFiles(table: String, part: Int, names: Vector[String])

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

    /** `files` become the listed files of their part of version `id` (none:
      * the part lists nothing), written with `schema`. */
    private[store] def listed(id: Long, files: DataFiles, schema: String): State =
      edit(id)(v => v.copy(
        files = v.files.filterNot(_.part == files.part) ++ Option.when(files.names.nonEmpty)(files),
        schema = if (files.names.isEmpty) v.schema else Some(schema)))

    /** U2 completed (+record_count), with the U3 current swap and a
      * WARNING log line if given. */
    private[graft] def completed(id: Long, recordCount: Long,
                                 markCurrentFor: Option[(String, Option[String])],
                                 warning: Option[(String, Option[String])]): State = {
      val done = edit(id)(_.copy(status = "completed", recordCount = Some(recordCount)))
      val current = markCurrentFor.fold(done) { case (sourceCode, variant) =>
        done.current(id, sourceCode, variant) }
      warning.fold(current) { case (message, details) =>
        current.logged(id, "WARNING", message, details) }
    }

    private[graft] def failed(id: Long, error: String): State =
      edit(id)(_.copy(status = "failed", errorMessage = Some(error)))

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
