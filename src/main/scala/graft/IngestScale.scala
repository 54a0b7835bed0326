package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

import scala.jdk.CollectionConverters._

/** Dev utility: exercise the FULL ingestion pipeline at the reference's
  * operating-envelope ceiling — a ~100 MB upload (the reference rejects
  * anything larger; `file_processor.py` MAX_FILE_SIZE) — in each upload
  * format the reference accepts. Generates an NCCI_PTP-shaped file with
  * realistic dirt (title row above the header, empty rows, ~1% duplicate
  * unique keys, ~0.5% rows missing a required field), runs parse →
  * header-detect → project → transform → validate/quarantine → dedup →
  * versioned land, and prints per-stage wall times, peak driver heap,
  * and counter reconciliation. Formats:
  *  - csv: 1.55M rows, ~96.8 MiB (the envelope ceiling proper, under
  *    the 100 MiB cap)
  *  - xlsx: ~100 MB zip, 2.6M rows — the driver-side zip+StAX bridge's
  *    worst case (the sheet XML inflates to ~700 MB)
  *  - xls: BIFF8's own format ceiling, 65,536 rows (the sheet cannot be
  *    larger; size is bounded by the format, not the 100 MB cap)
  * Each upload is validated (`validateFile`), then ingested. Each format
  * ends with one JSON line (`{"format": …}`): file bytes, data rows, the
  * validate's wall time and jobs, the ingest's wall time, rows/s, jobs and
  * tasks, `outside_jobs_s` (the ingest's wall time outside every Spark job:
  * hashing, the reader's driver-side scan, planning and metadata commits),
  * peak driver heap over the ingest, and the `IngestResult` counters. Two
  * driver-side steps every validate and ingest repeats are timed alone
  * beforehand, to attribute `outside_jobs_s`: the upload's SHA-256
  * (`hash_s`) and `FileReader.readUpload` (`read_s`, `read_jobs`).
  * Findings recorded in PLANS.md ("100 MB ingestion exercise"). Run:
  * `sbt "runMain graft.IngestScale [/tmp/outdir] [csv,xlsx,xls]"`. */
object IngestScale {

  private def timed[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[ingest100] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  private def heapPools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asInstanceOf[
      java.util.List[java.lang.management.MemoryPoolMXBean]]

  private def resetPeakHeap(): Unit =
    heapPools.forEach(p =>
      if (p.getType == java.lang.management.MemoryType.HEAP) p.resetPeakUsage())

  private def peakHeapMb: Long = {
    var sum = 0L
    heapPools.forEach(p =>
      if (p.getType == java.lang.management.MemoryType.HEAP)
        sum += p.getPeakUsage.getUsed)
    sum / (1024 * 1024)
  }

  /** What one call ran: its wall time, its Spark jobs and tasks, and the
    * part of its wall time covered by no job. */
  private final case class Calls(wallS: Double, jobs: Int, tasks: Long, outsideJobsS: Double)

  /** Run `body` under a listener that records every job's interval. */
  private def measured[A](spark: SparkSession)(body: => A): (A, Calls) = {
    val starts = new ConcurrentHashMap[Int, java.lang.Long]()
    val jobs = new ConcurrentLinkedQueue[(Long, Long)]()
    val tasks = new AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.put(e.jobId, e.time): Unit
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.add((starts.get(e.jobId).longValue, e.time)): Unit
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet(): Unit
    }
    Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.currentTimeMillis()
    val result = try body finally {
      Bridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    val t1 = System.currentTimeMillis()
    // the union of the job intervals, each clipped to the call
    val (covered, _) = jobs.asScala.toSeq.map { case (a, b) => (a max t0, b min t1) }
      .sortBy(_._1).foldLeft((0L, t0)) { case ((sum, end), (a, b)) =>
        (sum + ((b max end) - (a max end)).max(0L), end max b)
      }
    (result, Calls((t1 - t0) / 1e3, jobs.size, tasks.get, (t1 - t0 - covered) / 1e3))
  }

  def main(args: Array[String]): Unit = {
    val work = if (args.nonEmpty && args(0) != "-") args(0)
      else java.nio.file.Files.createTempDirectory("graft-ingest100").toString
    val formats = if (args.length > 1) args(1).split(",").toSeq else Seq("csv")
    new java.io.File(work).mkdirs()
    val spark = Sessions.local(defaultCpus = 32)
    graft.queries.Registry.configure(spark)
    formats.foreach {
      case "csv" => runOne(spark, work, "csv", 1550000, generateCsv(work, 1550000))
      case "xlsx" => runOne(spark, work, "xlsx", 2600000,
        timed("generate 2,600,000-row XLSX") {
          val p = s"$work/ncci_ptp_100mb.xlsx"
          graft.io.SyntheticXlsx.writeNcciPtp(p, 2600000)
          p
        })
      case "xls" => runOne(spark, work, "xls", 65536,
        timed("generate 65,536-row BIFF8 XLS (format ceiling)") {
          val p = s"$work/ncci_ptp_ceiling.xls"
          graft.io.SyntheticXls.ncciPtpCeiling(p)
          p
        })
      case other => println(s"[ingest100] unknown format '$other' (csv,xlsx,xls)")
    }
    spark.stop()
  }

  /** Generate the ~100 MB CSV upload (driver-side, like a real upload). */
  private def generateCsv(work: String, nRows: Int): String = {
    val path = s"$work/ncci_ptp_100mb.csv"
    timed(f"generate $nRows%,d-row CSV") {
      val w = new java.io.BufferedWriter(
        new java.io.FileWriter(path), 1 << 20)
      w.write("National Correct Coding Initiative PTP Edits,,,,,,\n") // title junk
      w.write("Column 1,Column 2,Modifier,Effective Date,Deletion Date," +
        "PTP Edit Rationale,*=in existence prior to 1996\n")
      val rationales = Array("Misuse of column two with column one",
        "Standards of medical / surgical practice", "Mutually exclusive procedures",
        "CPT Manual or CMS manual coding instructions")
      var i = 0
      while (i < nRows) {
        if (i % 10000 == 9999) w.write(",,,,,,\n") // empty row (P2 filter)
        // ~1% duplicate unique keys: every 100th row repeats the previous
        // key pair; first-wins dedup must drop it.
        val k = if (i % 100 == 99) i - 1 else i
        val comp = f"${10000 + k / 97}%05d"
        val comp2 = f"${20000 + k % 97997}%05d"
        // ~0.5% rows missing a required KEY (component code) → P5
        // quarantine (required-field-but-not-key gaps land as null, the
        // reference's semantics — exercised by the empty modifier below).
        val comp2v = if (i % 200 == 137) "" else comp2
        val modifier = if (i % 400 == 211) "" else String.valueOf(i % 3)
        val del = if (i % 7 == 0) "20250101" else "*"
        val prior = if (i % 11 == 0) "*" else ""
        w.write(s"$comp,$comp2v,$modifier,20240101,$del," +
          s"${rationales(i % 4)},$prior\n")
        i += 1
      }
      w.close()
    }
    val bytes = java.nio.file.Files.size(java.nio.file.Paths.get(path))
    require(bytes <= graft.config.Catalog.Limits.maxFileSizeBytes,
      s"generated CSV is $bytes bytes, over the upload cap validateFile enforces")
    path
  }

  /** Full pipeline + read-back reconciliation over one generated upload.
    * Fresh store per run: NCCI_PTP is multi-part, so re-ingesting into an
    * existing store under the same version label APPENDS (by design) and
    * the reconciliation below would see both runs' rows. */
  private def runOne(spark: SparkSession, work: String, label: String,
                     rows: Long, path: String): Unit = {
    val bytes = new java.io.File(path).length()
    println(f"[ingest100] ($label) file size: ${bytes / 1e6}%.1f MB")
    val store = new graft.store.VersionStore(spark,
      s"$work/store-$label-${java.lang.Long.toHexString(System.nanoTime())}")
    val (_, hash) = measured(spark)(graft.store.VersionStore.sha256File(path))
    val (_, read) = measured(spark)(
      try graft.io.FileReader.readUpload(spark, path) finally graft.io.FileReader.releaseScratch())
    val (report, validate) = measured(spark)(timed(s"($label) validate") {
      graft.pipeline.IngestPipeline.validateFile(spark, store, "NCCI_PTP", path,
        "2026-Q1", Some("PRACTITIONER"))
    })
    println(s"[ingest100] ($label) validate: valid=${report.valid} rows=${report.dataRows} " +
      s"errors=${report.errors.mkString("; ")}")
    resetPeakHeap()
    val (result, ingest) = measured(spark)(
      timed(s"($label) full ingest (parse->detect->transform->quarantine->dedup->land)") {
        graft.pipeline.IngestPipeline.ingestFile(spark, store, "NCCI_PTP", path,
          "2026-Q1", java.sql.Date.valueOf("2026-01-01"), Some("PRACTITIONER"))
      })
    println(s"[ingest100] ($label) status=${result.status} processed=${result.processed} " +
      s"inserted=${result.inserted} invalid=${result.invalid} " +
      s"duplicates=${result.duplicates} peakHeap=${peakHeapMb}MB")
    val summary = f"""{"format":"$label","file_bytes":$bytes,"rows":$rows,""" +
      f""""hash_s":${hash.wallS}%.3f,"read_s":${read.wallS}%.3f,"read_jobs":${read.jobs},""" +
      f""""validate_s":${validate.wallS}%.3f,"validate_jobs":${validate.jobs},""" +
      f""""validate_valid":${report.valid},""" +
      f""""ingest_s":${ingest.wallS}%.3f,"rows_per_s":${rows / ingest.wallS}%.0f,""" +
      f""""ingest_jobs":${ingest.jobs},"ingest_tasks":${ingest.tasks},""" +
      f""""outside_jobs_s":${ingest.outsideJobsS}%.3f,""" +
      f""""peak_heap_mb":$peakHeapMb,"status":"${result.status}","processed":${result.processed},""" +
      f""""inserted":${result.inserted},"invalid":${result.invalid},"duplicates":${result.duplicates}}"""
    timed(s"($label) current-view read-back + counter reconciliation") {
      val cur = store.currentView("cms.ncci_ptp", "NCCI_PTP", Some("PRACTITIONER"))
      val n = cur.count()
      println(s"[ingest100] ($label) current view rows: $n")
      require(n == result.inserted, s"view rows $n != inserted ${result.inserted}")
      val mods = cur.groupBy("modifier_indicator").count()
        .orderBy("modifier_indicator").collect()
      println(s"[ingest100] ($label) modifier histogram: " +
        mods.map(r => s"${r.get(0)}:${r.getLong(1)}").mkString(" "))
    }
    println(summary)
  }
}
