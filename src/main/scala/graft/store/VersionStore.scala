package graft.store

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.config.Catalog

/** Versioned relational store over parquet.
  *
  * Layout: `root/data/<table>/data_version_id=<id>/…parquet` (hive-style
  * partitioning so version predicates prune at the FILE level — a "current
  * version" read of a 100 TB table touches only that version's files), plus
  * small metadata parquet tables `root/meta/{data_versions,parts,logs}`.
  *
  * Reference semantics: scripts/init_db.py:36-155 (metadata schema),
  * app/services/ingestor.py:101-259 (lifecycle), 691-783 (multi-part append),
  * scripts/init_db.py:418-518 (current views).
  *
  * Atomicity (U3): metadata updates are write-new-then-rename swaps of the
  * versions table — the same observable contract as the reference's DB
  * transaction, under a single-writer discipline.
  */
final class VersionStore(val spark: SparkSession, val root: String) {
  import VersionStore._

  private val metaDir = s"$root/meta"
  private val dataDir = s"$root/data"

  def versionsPath: String = s"$metaDir/data_versions"
  def partsPath: String = s"$metaDir/data_version_parts"
  def logsPath: String = s"$metaDir/ingestion_logs"

  private def exists(p: String): Boolean = Files.exists(Paths.get(p))

  // The versions/parts metadata tables are KB-scale and this store is
  // single-writer (class contract above), so they are cached as driver-local
  // rows and served as LocalRelations: a metadata read costs no file-scan
  // job, and a swap costs one local collect plus the one durable parquet
  // write. The parquet under `meta/` stays the source of truth on disk —
  // a fresh VersionStore instance on the same root reloads it.
  private var versionsCache: Option[Seq[org.apache.spark.sql.Row]] = None
  private var partsCache: Option[Seq[org.apache.spark.sql.Row]] = None

  private def localDF(rows: Seq[org.apache.spark.sql.Row],
                      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val list = new java.util.ArrayList[org.apache.spark.sql.Row](rows.size)
    rows.foreach(list.add)
    spark.createDataFrame(list, schema)
  }

  // Metadata files are read with the schema they are written with, so
  // opening one costs its collect and no schema-inference job.
  private def loadMeta(cache: Option[Seq[org.apache.spark.sql.Row]], path: String,
                       schema: StructType): Seq[org.apache.spark.sql.Row] =
    cache.getOrElse {
      if (exists(path)) spark.read.schema(schema).parquet(path).collect().toSeq
      else Seq.empty
    }

  /** Cached versions rows for driver-side metadata reads. Positional field
    * access only — rows constructed here are schemaless GenericRows. */
  private def versionRows: Seq[org.apache.spark.sql.Row] = {
    val rows = loadMeta(versionsCache, versionsPath, versionSchema)
    versionsCache = Some(rows)
    rows
  }

  /** Versions metadata DF (empty-shaped if none yet). */
  def versions: DataFrame = localDF(versionRows, versionSchema)

  def parts: DataFrame = {
    val rows = loadMeta(partsCache, partsPath, partSchema)
    partsCache = Some(rows)
    localDF(rows, partSchema)
  }

  def logs: DataFrame =
    if (exists(logsPath)) spark.read.schema(logSchema).parquet(logsPath)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], logSchema)

  /** Atomic swap: write to a temp dir, then rename over the live one. The
    * new state is collected once (tiny, local), cached for subsequent
    * metadata reads, and written durably from the collected rows. */
  private def swapWrite(df: DataFrame, path: String): Unit =
    swapWriteRows(df.collect().toSeq, df.schema, path)

  private def swapWriteRows(rows: Seq[org.apache.spark.sql.Row],
                            schema: org.apache.spark.sql.types.StructType,
                            path: String): Unit = {
    if (path == versionsPath) versionsCache = Some(rows)
    else if (path == partsPath) partsCache = Some(rows)
    val tmp = path + ".tmp"
    localDF(rows, schema).coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    val live = Paths.get(path)
    val old = Paths.get(path + ".old")
    if (Files.exists(live)) {
      deleteRecursively(old)
      Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
    }
    Files.move(Paths.get(tmp), live, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(old)
  }

  /** U2 create a version in 'processing' state; returns its id. The new row
    * is built driver-side from the cached metadata (no read job) and the
    * swap pays only the one durable write. */
  def createVersion(sourceCode: String, versionLabel: String,
                    effectiveDate: java.sql.Date, variant: Option[String],
                    fileHash: String, fileName: String): Long = {
    val cur = versionRows
    val nextId =
      if (cur.isEmpty) 1L else cur.map(_.getLong(0)).max + 1L
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val row = org.apache.spark.sql.Row(
      nextId, sourceCode, versionLabel, effectiveDate, variant.orNull,
      "processing", fileHash, fileName, null, false, now, 1, null)
    swapWriteRows(cur :+ row, versionSchema, versionsPath)
    nextId
  }

  /** U2 transition: completed (+record_count) or failed (+error). When
    * `markCurrentFor` is set, the U3 current-swap happens in the SAME
    * metadata swap — one atomic transition, like the reference's single DB
    * transaction (and one fewer metadata write per ingest). */
  def completeVersion(id: Long, recordCount: Long,
                      markCurrentFor: Option[(String, Option[String])] = None): Unit =
    updateVersion(id, v => {
      val completed = v
        .withColumn("status", when(col("data_version_id") === id, "completed").otherwise(col("status")))
        .withColumn("record_count", when(col("data_version_id") === id, recordCount).otherwise(col("record_count")))
      markCurrentFor match {
        case Some((sourceCode, variant)) =>
          val scope = col("source_code") === sourceCode &&
            (col("variant") <=> lit(variant.orNull))
          completed.withColumn("is_current",
            when(col("data_version_id") === id, true)
              .when(scope, false)
              .otherwise(col("is_current")))
        case None => completed
      }
    })

  def failVersion(id: Long, error: String): Unit = updateVersion(id,
    _.withColumn("status", when(col("data_version_id") === id, "failed").otherwise(col("status")))
      .withColumn("error_message", when(col("data_version_id") === id, error).otherwise(col("error_message"))))

  private def updateVersion(id: Long, f: DataFrame => DataFrame): Unit =
    swapWrite(f(versions), versionsPath)

  /** U3 mark-as-current: one swap clears is_current for the (source,
    * variant) scope and sets it on the new version — null-safe variant
    * compare, like the reference's `IS NOT DISTINCT FROM` (ingestor.py:226-259). */
  def markCurrent(id: Long, sourceCode: String, variant: Option[String]): Unit = {
    val scope = col("source_code") === sourceCode &&
      (col("variant") <=> lit(variant.orNull))
    updateVersion(id, v =>
      v.withColumn("is_current",
        when(col("data_version_id") === id, true)
          .when(scope, false)
          .otherwise(col("is_current"))))
  }

  /** Write a version's data partition (U4 append mode for multi-part).
    * The partition value is a constant for the whole write, so the files go
    * straight into the hive-style `data_version_id=<id>` directory — the
    * on-disk layout (and the partition-pruned read path) is identical to a
    * `partitionBy` write, without the dynamic-partition writer, and
    * Overwrite is scoped to THIS version's directory instead of risking a
    * static-mode truncate of every other version's partition. */
  def writeData(table: String, versionId: Long, df: DataFrame, append: Boolean = false): Unit = {
    df.write.mode(if (append) SaveMode.Append else SaveMode.Overwrite)
      .parquet(s"$dataDir/$table/data_version_id=$versionId")
  }

  /** Part already committed to the ledger? (The exactly-once probe.) */
  def hasPart(versionId: Long, partNumber: Int): Boolean =
    parts.filter(org.apache.spark.sql.functions.col("data_version_id") === versionId &&
        org.apache.spark.sql.functions.col("part_number") === partNumber)
      .limit(1).count() > 0

  /** Land one part EXACTLY ONCE even under crash/replay: skip if the part
    * is on the ledger, otherwise [[stagePart]] (idempotent data move) then
    * [[commitPart]] (ledger append — the commit point). Any crash before
    * the ledger append leaves a state a replay repairs: re-staging
    * deletes that part's previous files (deterministic `p<part>-<i>` names)
    * before renaming the fresh ones in, so a half-moved earlier attempt
    * can never leave extra rows behind. Returns rows landed (0 = skipped).
    *
    * Concurrency contract: ONE writer per store root. The metadata swap is
    * a whole-file rename with a per-JVM cache, so two concurrent driver
    * processes can interleave hasPart→stage→commit and double-append the
    * ledger (data files stay deduplicated via the deterministic names; the
    * part ledger and its counters would not). Within one JVM the re-probe
    * inside the synchronized [[commitPart]] closes that window — a zombie
    * foreachBatch replay on the same driver lands exactly once. */
  def landPart(table: String, versionId: Long, partNumber: Int,
               df: DataFrame, fileHash: String, fileName: String): Long = {
    if (hasPart(versionId, partNumber)) return 0L
    val n = stagePart(table, versionId, partNumber, df)
    commitPart(versionId, partNumber, fileHash, fileName, n)
    n
  }

  /** Idempotent data move for [[landPart]]: write the part to a staging
    * dir, delete any `p<part>-*.parquet` files a previous (crashed)
    * attempt moved, then rename the staged files to those deterministic
    * names. The staging write counts the rows it lands, so the part is
    * never read back. Exposed separately so specs can exercise the
    * crash-after-stage-before-commit window directly. */
  private[graft] def stagePart(table: String, versionId: Long,
                               partNumber: Int, df: DataFrame): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val staging = new Path(s"$dataDir/$table/.staging-v$versionId-p$partNumber")
    val dest = new Path(s"$dataDir/$table/data_version_id=$versionId")
    val fs = staging.getFileSystem(conf)
    val written = Observation()
    df.observe(written, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).parquet(staging.toString)
    fs.mkdirs(dest)
    // Sweep any earlier attempt's files for THIS part, then move.
    fs.globStatus(new Path(dest, s"p$partNumber-*.parquet"))
      .foreach(st => fs.delete(st.getPath, false))
    val staged = fs.listStatus(staging)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    staged.zipWithIndex.foreach { case (st, i) =>
      val target = new Path(dest, s"p$partNumber-$i.parquet")
      fs.rename(st.getPath, target): Unit
    }
    fs.delete(staging, true): Unit
    written.get("rows").asInstanceOf[Long]
  }

  /** Ledger append — the atomic commit point of [[landPart]]. The
    * uniqueness guard lives HERE, not only in the caller's earlier
    * [[hasPart]] probe: re-probing under the lock turns landPart's
    * check-then-act into a safe compare-and-commit for same-JVM replays. */
  private[graft] def commitPart(versionId: Long, partNumber: Int,
                                fileHash: String, fileName: String,
                                recordCount: Long): Unit = synchronized {
    if (!hasPart(versionId, partNumber))
      appendPart(versionId, partNumber, fileHash, fileName, recordCount)
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

  /** Compact one version's data directory into `targetFiles` parquet files,
    * with the same write-new-then-rename swap the metadata uses. The ingest
    * parallelism that made the WRITE fast leaves file counts sized for the
    * writing cluster, not the readers — at scale, every query thereafter
    * pays the listing + footer cost of thousands of small files until a
    * compaction pass amortizes it away. Readers see the old files or the
    * new ones, never a mix. */
  def compactVersion(table: String, versionId: Long, targetFiles: Int = 1): Unit = {
    val dir = s"$dataDir/$table/data_version_id=$versionId"
    val tmp = dir + ".compact-tmp"
    spark.read.parquet(dir).repartition(targetFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    val live = Paths.get(dir)
    val old = Paths.get(dir + ".old")
    deleteRecursively(old)
    Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(tmp), live, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursively(old)
  }

  def data(table: String): DataFrame = spark.read.parquet(s"$dataDir/$table")

  /** J2 current view. The current version ids are resolved DRIVER-SIDE from
    * the cached metadata, and only their `data_version_id=<id>` directories
    * are opened (`basePath` keeps `data_version_id` as a path column), so
    * the file index lists the current version's files however long the
    * table's history is. The schema comes from one footer of the current
    * version ([[readVersions]]), so building the view launches no job. A
    * static `isin` partition filter stays on top, so the plan shows the
    * pruning (a broadcast join would at best prune dynamically at runtime).
    * With no current version, or no footer carrying Spark's schema, the view
    * is the whole table filtered to the current ids.
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
    val base = s"$dataDir/$table"
    val dirs = ids.map(id => s"$base/data_version_id=$id").filter(exists)
    dirs.headOption.flatMap(footerSchema).map(schema =>
      spark.read.schema(schema).option("basePath", base).parquet(dirs: _*))
  }

  private def footerSchema(dir: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new Path(dir)
    val fs = path.getFileSystem(conf)
    fs.listStatus(path).filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName).headOption.flatMap { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get(SparkSchemaKey))
        finally reader.close()
      }.map(json => DataType.fromJson(json).asInstanceOf[StructType])
  }

  /** Current completed version ids for a (source, variant) scope, from the
    * driver-side metadata cache — zero jobs. */
  def currentVersionIds(sourceCode: String, variant: Option[String]): Seq[Long] =
    versionRows.collect {
      case r if r.getString(1) == sourceCode && r.getBoolean(9) &&
        r.getString(5) == "completed" && Option(r.getString(4)) == variant =>
        r.getLong(0)
    }

  /** U5 cascade delete: version data files + metadata rows. */
  def deleteVersion(id: Long, table: String): Unit = {
    deleteRecursively(Paths.get(s"$dataDir/$table/data_version_id=$id"))
    swapWrite(versions.filter(col("data_version_id") =!= id), versionsPath)
    if (exists(partsPath))
      swapWrite(parts.filter(col("data_version_id") =!= id), partsPath)
  }

  /** U4 part bookkeeping: add a part row and bump the version's counters
    * (record_count += n, part_count += 1 — reference ingestor.py:153-195). */
  def appendPart(versionId: Long, partNumber: Int, fileHash: String,
                 fileName: String, recordCount: Long): Unit = {
    val row = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(
        versionId, partNumber, fileHash, fileName, recordCount)), partSchema)
    swapWrite(parts.unionByName(row), partsPath)
    updateVersion(versionId, v => v
      .withColumn("record_count", when(col("data_version_id") === versionId,
        coalesce(col("record_count"), lit(0L)) + recordCount).otherwise(col("record_count")))
      .withColumn("part_count", when(col("data_version_id") === versionId,
        coalesce(col("part_count"), lit(1)) + 1).otherwise(col("part_count"))))
  }

  /** U6 ingestion event log append. */
  def log(versionId: Long, level: String, message: String, detailsJson: Option[String] = None): Unit = {
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val row = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(versionId, level, message,
        detailsJson.orNull, now)), logSchema)
    row.write.mode(SaveMode.Append).parquet(logsPath)
  }

  /** D2 duplicate-file detection: any completed version of this source with
    * the same hash blocks re-upload (reference: validator.py:178-214).
    * Driver-side over the cached metadata rows — zero jobs. */
  def isDuplicateFile(sourceCode: String, fileHash: String): Boolean =
    versionRows.exists(r => r.getString(1) == sourceCode &&
      r.getString(6) == fileHash && r.getString(5) == "completed")
}

object VersionStore {
  import org.apache.spark.sql.types._

  /** Footer key under which Spark's parquet writer stores the row schema. */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

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

  /** F13 SHA-256 of a file's raw bytes (reference: upload.py:47-49). */
  def sha256File(path: String): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val bytes = Files.readAllBytes(Paths.get(path))
    md.digest(bytes).map("%02x".format(_)).mkString
  }

  private[store] def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
}
