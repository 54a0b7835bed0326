package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.concurrent.{Signaler, ThreadSignaler}
import org.scalatest.concurrent.TimeLimits._
import org.scalatest.time.SpanSugar._

import scala.jdk.CollectionConverters._

import graft.pipeline.IngestPipeline
import graft.store.VersionStore

/** End-to-end orchestration specs: partial success, all-fail, multi-part
  * append, and the dry-run validation report. */
class IngestPipelineSpec extends SparkSpecBase {

  private def newStore(): VersionStore = newStoreAt()._1

  private def newStoreAt(): (VersionStore, String) = {
    val root = Files.createTempDirectory("graft-ip").toString
    (new VersionStore(spark, root), root)
  }

  private def csv(content: String): String = {
    val p = Files.createTempFile("graft-ip", ".csv")
    Files.writeString(p, content)
    p.toString
  }

  private val d = java.sql.Date.valueOf("2026-01-01")

  test("partial success: valid rows land, invalid rows reported, status completed") {
    val store = newStore()
    val path = csv(
      """HCPCS,OPPS CAP
        |99213,120.50
        |,90.00
        |99214,140.00
        |99213,999.99
        |""".stripMargin)
    val r = IngestPipeline.ingestFile(spark, store, "PFS_OPPS_CAP", path, "2026-Q1", d)
    assert(r.status == "completed")
    assert(r.inserted == 2)      // 99213 + 99214 (dup 99213 removed)
    assert(r.invalid == 1)       // blank hcpcs_code
    assert(r.duplicates == 1)    // second 99213
    assert(r.errors.head.contains("Missing required key column 'hcpcs_code'"))
    val cur = store.currentView("cms.pfs_opps_cap", "PFS_OPPS_CAP")
    assert(cur.count() == 2)
    // first-wins: the kept 99213 carries the FIRST file value
    assert(cur.filter(col("hcpcs_code") === "99213").head
      .getAs[Double]("opps_cap_amount") == 120.50)
  }

  test("distributed-XLSX ingest releases its scratch XML after landing") {
    val store = newStore()
    val scratch = Files.createTempDirectory("graft-scratch").toString
    val dir = Files.createTempDirectory("graft-ip-xlsx").toString
    val p = s"$dir/ncci.xlsx"
    graft.io.SyntheticXlsx.writeNcciPtp(p, nRows = 2000)
    spark.conf.set("graft.xlsx.distributedThresholdBytes", "0")
    spark.conf.set("graft.xlsx.chunkBytes", "65536")
    spark.conf.set("graft.xlsx.scratchDir", scratch)
    try {
      val r = IngestPipeline.ingestFile(spark, store, "NCCI_PTP", p,
        "2026-Q1", d, Some("PRACTITIONER"))
      assert(r.status == "completed" && r.inserted > 0)
      // the inflated sheet XML must not park on disk until JVM exit
      val leftovers = new java.io.File(scratch).listFiles()
      assert(leftovers == null || leftovers.isEmpty,
        s"scratch not released: ${leftovers.mkString(",")}")
    } finally {
      spark.conf.unset("graft.xlsx.distributedThresholdBytes")
      spark.conf.unset("graft.xlsx.chunkBytes")
      spark.conf.unset("graft.xlsx.scratchDir")
    }
  }

  test("all rows invalid -> status failed with first-5 error summary") {
    val store = newStore()
    val path = csv(
      """HCPCS,OPPS CAP
        |,1.00
        |,2.00
        |""".stripMargin)
    val r = IngestPipeline.ingestFile(spark, store, "PFS_OPPS_CAP", path, "2026-Q1", d)
    assert(r.status == "failed")
    assert(r.inserted == 0)
    val v = store.versions.filter(col("data_version_id") === r.versionId).head
    assert(v.getAs[String]("status") == "failed")
    assert(v.getAs[String]("error_message").contains("No rows inserted"))
  }

  test("zero-row uploads fail with exact counts, write no data and cannot hang") {
    implicit val signaler: Signaler = ThreadSignaler
    val (store, root) = newStoreAt()
    def dataDir(id: Long) = Paths.get(root, "data", "cms.pfs_opps_cap", s"data_version_id=$id")
    failAfter(120.seconds) {
      val headerOnly = csv("HCPCS,OPPS CAP\n")
      val rep = IngestPipeline.validateFile(spark, store, "PFS_OPPS_CAP", headerOnly, "2026-Q1")
      assert(rep.dataRows == 0 && rep.errors == Seq("File contains no data rows"))
      val r1 = IngestPipeline.ingestFile(spark, store, "PFS_OPPS_CAP", headerOnly, "2026-Q1", d)
      assert((r1.status, r1.processed, r1.inserted, r1.invalid, r1.duplicates, r1.errors) ==
        ("failed", 0L, 0L, 0L, 0L, Seq.empty))
      assert(!Files.exists(dataDir(r1.versionId)))
      // the write ran and staged an empty file; it was dropped, not renamed
      val tableDir = Paths.get(root, "data", "cms.pfs_opps_cap")
      val staged = if (!Files.exists(tableDir)) Nil
        else Files.list(tableDir).iterator.asScala.map(_.getFileName.toString)
          .filter(_.startsWith(".staging-")).toList
      assert(staged.isEmpty, staged)

      val allInvalid = csv("HCPCS,OPPS CAP\n,1.00\n,2.00\n,3.00\n")
      val r2 = IngestPipeline.ingestFile(spark, store, "PFS_OPPS_CAP", allInvalid, "2026-Q2", d)
      assert((r2.status, r2.processed, r2.inserted, r2.invalid, r2.duplicates) ==
        ("failed", 3L, 0L, 3L, 0L))
      assert(r2.errors == (2 to 4).map(i =>
        s"Row $i: Missing required key column 'hcpcs_code'"))
      assert(!Files.exists(dataDir(r2.versionId)))
      assert(store.versions.filter(col("status") === "failed").count() == 2)

      // An all-invalid part appended to a completed multi-part version
      // still runs its (empty) write, and the write's count must arrive.
      val ptpHeader = "Column 1,Column 2,Modifier,Effective Date,Deletion Date\n"
      val first = IngestPipeline.ingestFile(spark, store, "NCCI_PTP",
        csv(ptpHeader + "00100,00101,1,20240101,*\n"), "2026-Q1", d, Some("HOSPITAL"))
      val r3 = IngestPipeline.ingestFile(spark, store, "NCCI_PTP",
        csv(ptpHeader + ",00201,0,20240101,*\n"), "2026-Q1", d, Some("HOSPITAL"))
      assert((r3.versionId, r3.status, r3.processed, r3.inserted, r3.invalid, r3.duplicates) ==
        (first.versionId, "completed", 1L, 0L, 1L, 0L))
    }
  }

  test("an ingest whose write throws releases its checkpointed rows") {
    val (store, root) = newStoreAt()
    // A plain file where the table's data directory belongs: the data
    // write cannot create its version directory and throws.
    Files.createDirectories(Paths.get(root, "data"))
    Files.writeString(Paths.get(root, "data", "cms.pfs_opps_cap"), "not a directory")
    val path = csv("HCPCS,OPPS CAP\n99213,120.50\n99214,140.00\n")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[Exception] {
      IngestPipeline.ingestFile(spark, store, "PFS_OPPS_CAP", path, "2026-Q1", d)
    }
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"ingest left persistent RDDs $left")
    // the version the write belonged to is failed, not left processing
    val Seq(v) = store.metadata.versions
    assert(v.status == "failed", v)
    assert(v.errorMessage.contains(e.getMessage.linesIterator.next()), v)
  }

  test("ingest rejects an upload over the size cap before reading it, creating no version") {
    val store = newStore()
    val big = Files.createTempFile("graft-ip", ".csv")
    val raf = new java.io.RandomAccessFile(big.toFile, "rw")
    try raf.setLength(graft.config.Catalog.Limits.maxFileSizeBytes + 1) finally raf.close()
    val e = intercept[IllegalArgumentException] {
      IngestPipeline.ingestFile(spark, store, "PFS_OPPS_CAP", big.toString, "2026-Q1", d)
    }
    assert(e.getMessage == "File size (100.0 MB) exceeds maximum (100 MB)")
    assert(store.metadata.versions.isEmpty)
  }

  test("type warnings come in source-column order and name the first bad row") {
    val store = newStore()
    // File columns in the reverse of PFS_GPCI's source order (work, pe, mp);
    // work_gpci has three bad rows, the lowest carrying the largest value.
    val path = csv(
      """LOCALITY,MP GPCI,PE GPCI,WORK GPCI
        |01,0.5,0.9,1.0
        |02,x1,0.9,1.0
        |03,0.5,0.9,bad-z
        |04,0.5,y,bad-b
        |05,0.5,0.9,bad-a
        |""".stripMargin)
    val rep = IngestPipeline.validateFile(spark, store, "PFS_GPCI", path, "2026")
    def w(c: String, row: Int, v: String) =
      s"Column '$c' expects NUMERIC but row $row has '$v'"
    assert(rep.warnings == Seq(
      w("work_gpci", 4, "bad-z"), w("pe_gpci", 5, "y"), w("mp_gpci", 3, "x1")))
  }

  test("NCCI_PTP multi-part: second file appends under the same version id") {
    val store = newStore()
    def ptpCsv(rows: String) = csv(
      s"""Column 1,Column 2,Modifier,Effective Date,Deletion Date
         |$rows
         |""".stripMargin)
    val r1 = IngestPipeline.ingestFile(spark, store, "NCCI_PTP",
      ptpCsv("00100,00101,1,20240101,*"), "2026-Q1", d, Some("HOSPITAL"))
    assert(r1.status == "completed")
    val r2 = IngestPipeline.ingestFile(spark, store, "NCCI_PTP",
      ptpCsv("00200,00201,0,20240101,*\n00300,00301,9,20240101,20250101"),
      "2026-Q1", d, Some("HOSPITAL"))
    assert(r2.versionId == r1.versionId) // appended, not a new version
    val v = store.versions.filter(col("data_version_id") === r1.versionId).head
    assert(v.getAs[Long]("record_count") == 3)  // 1 + 2
    assert(v.getAs[Int]("part_count") == 2)
    assert(store.parts.filter(col("data_version_id") === r1.versionId).count() == 1)
    assert(store.data("cms.ncci_ptp")
      .filter(col("data_version_id") === r1.versionId).count() == 3)
  }

  test("a replayed multi-part append lands once, and its part is a duplicate file (D2)") {
    val store = newStore()
    val header = "Column 1,Column 2,Modifier,Effective Date,Deletion Date\n"
    val part1 = csv(header + "00100,00101,1,20240101,*\n")
    val part2 = csv(header + "00200,00201,0,20240101,*\n00300,00301,9,20240101,20250101\n")
    def ingest(p: String) = IngestPipeline.ingestFile(spark, store, "NCCI_PTP", p,
      "2026-Q1", d, Some("HOSPITAL"))
    val id = ingest(part1).versionId
    assert(ingest(part2).inserted == 2)
    val replays = Seq(ingest(part2), ingest(part1))
    assert(replays.map(r => (r.versionId, r.status, r.inserted, r.duplicates)) ==
      Seq((id, "completed", 0L, 2L), (id, "completed", 0L, 1L)))
    val v = store.versions.filter(col("data_version_id") === id).head
    assert((v.getAs[Long]("record_count"), v.getAs[Int]("part_count")) == (3L, 2))
    assert(store.currentView("cms.ncci_ptp", "NCCI_PTP", Some("HOSPITAL")).count() == 3)
    // Re-validating either part flags it (reference upload.py:270-294).
    Seq(part1, part2).foreach { p =>
      val rep = IngestPipeline.validateFile(spark, store, "NCCI_PTP", p, "2026-Q2", Some("HOSPITAL"))
      assert(rep.duplicateFile && !rep.valid)
    }
  }

  test("validation launches the same jobs with or without a completed version") {
    val store = newStore()
    val path = csv("HCPCS,OPPS CAP\n99213,120.50\n99214,140.00\n")
    def validate() = IngestPipeline.validateFile(spark, store, "PFS_OPPS_CAP", path, "2026-Q2")
    validate() // warm
    val before = jobsIn(validate())
    IngestPipeline.ingestFile(spark, store, "PFS_OPPS_CAP", path, "2026-Q1", d)
    assert(jobsIn(validate()) == before)
  }

  test("validating a CSV whose record boundaries the scan cannot prove launches one job: the count") {
    val store = newStore()
    // the blank line sends the upload down the one-range parse
    val path = csv("HCPCS,OPPS CAP\n99213,120.50\n\n99214,140.00\n")
    def validate() = IngestPipeline.validateFile(spark, store, "PFS_OPPS_CAP", path, "2026-Q1")
    validate() // warm
    var report: IngestPipeline.ValidationReport = null
    assert(jobsIn { report = validate() } == 1)
    assert(report.valid && report.dataRows == 2 && report.headerRowIndex.contains(0))
  }

  /** Jobs of one validate + ingest of `path` (after a warm-up pair in
    * another store), and the task count of every stage the ingest ran. */
  private def jobsPerUpload(source: String, path: String,
                            variant: Option[String]): (Int, Int, Seq[Int]) = {
    def run(store: VersionStore) = (
      () => IngestPipeline.validateFile(spark, store, source, path, "2026-Q1", variant),
      () => IngestPipeline.ingestFile(spark, store, source, path, "2026-Q1", d, variant))
    val (warmV, warmI) = run(newStore())
    warmV(); warmI()
    val (validate, ingest) = run(newStore())
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        stages.add(e.stageInfo.numTasks): Unit
    }
    val v = jobsIn(validate())
    spark.sparkContext.addSparkListener(listener)
    val i = try jobsIn(ingest()) finally spark.sparkContext.removeSparkListener(listener)
    (v, i, stages.asScala.toSeq)
  }

  test("uploads come numbered, counted and with their head: no job reads them for it") {
    // ~5 MB of PTP rows: 4 record-aligned ranges of at least 1 MB each on
    // the 4-core spec session.
    val rows = (0 until 200000).map(i =>
      f"${10000 + i / 97}%05d,${20000 + i % 97997}%05d,${i % 3},20240101,*")
    val big = csv("NCCI PTP edits,,,,\nColumn 1,Column 2,Modifier,Effective Date,Deletion Date\n" +
      rows.mkString("\n") + "\n")
    val (csvValidate, csvIngest, csvStages) = jobsPerUpload("NCCI_PTP", big, Some("PRACTITIONER"))
    val xlsx = s"${Files.createTempDirectory("graft-ip-jobs")}/ptp.xlsx"
    graft.io.SyntheticXlsx.writeNcciPtp(xlsx, nRows = 2000)
    val (xlsxValidate, xlsxIngest, _) = jobsPerUpload("NCCI_PTP", xlsx, Some("PRACTITIONER"))
    val xls = s"${Files.createTempDirectory("graft-ip-jobs")}/ptp.xls"
    graft.io.SyntheticXls.ncciPtpCeiling(xls, totalRows = 2000)
    val store = newStore()
    IngestPipeline.validateFile(spark, store, "NCCI_PTP", xls, "2026-Q1", Some("PRACTITIONER"))
    val xlsValidate = jobsIn(IngestPipeline.validateFile(spark, store, "NCCI_PTP", xls,
      "2026-Q1", Some("PRACTITIONER")))
    // validate: none (the head and the count come with the upload, and the
    // type sample is evaluated on the driver); ingest: the one write, as
    // its dedup shuffle's map job and its result job (which also observes
    // the errors of the XLSX's planted missing keys).
    assert((csvValidate, csvIngest) == (0, 2))
    assert((xlsxValidate, xlsxIngest) == (0, 2))
    assert(xlsValidate == 0)
    // both stages of the write run as wide as the upload is split
    val parts = graft.io.FileReader.readUpload(spark, big).partitions
    assert(parts == 4 && csvStages == Seq(parts, parts), csvStages)
  }

  test("the write observes the ingest's counts past the dedup shuffle") {
    import org.apache.spark.sql.execution.{CollectMetricsExec, QueryExecution}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    object Plans extends AdaptiveSparkPlanHelper
    // ~2.4 MB: several record-aligned ranges, so the rows take the shuffle
    val rows = (0 until 160000).map(i => f"H$i%06d,120.50")
    val path = csv(("HCPCS,OPPS CAP" +: rows :+ ",90.00" :+ "H000000,999.99").mkString("\n") + "\n")
    assert(graft.io.FileReader.readUpload(spark, path).partitions > 1)
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = runs.add(qe): Unit
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val r = try IngestPipeline.ingestFile(spark, newStore(), "PFS_OPPS_CAP", path, "2026-Q1", d)
      finally {
        org.apache.spark.SpecBus.drain(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
    assert((r.inserted, r.invalid, r.duplicates) == (160000L, 1L, 1L))
    val observing = runs.asScala.toSeq.map(qe =>
      Plans.collect(qe.executedPlan) { case m: CollectMetricsExec => m }).filter(_.nonEmpty)
    // one action: the write, observing the split and the rows it lands
    assert(observing.map(_.size) == Seq(2), observing)
    observing.flatten.foreach(m =>
      assert(Plans.find(m)(_.isInstanceOf[ShuffleExchangeLike]).nonEmpty, m))
  }

  test("an upload read as one partition is ranked in place: one job, no shuffle") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    object Plans extends AdaptiveSparkPlanHelper
    val path = csv("HCPCS,OPPS CAP\n99213,120.50\n,90.00\n99214,140.00\n99213,999.99\n")
    assert(graft.io.FileReader.readUpload(spark, path).partitions == 1)
    val runs = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = runs.add(qe): Unit
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val store = newStore()
    spark.listenerManager.register(listener)
    var r: IngestPipeline.IngestResult = null
    val jobs = try jobsIn {
        r = IngestPipeline.ingestFile(spark, store, "PFS_OPPS_CAP", path, "2026-Q1", d)
      } finally {
        org.apache.spark.SpecBus.drain(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
    assert((r.inserted, r.invalid, r.duplicates) == (2L, 1L, 1L))
    assert(r.errors.size == 1)
    assert(jobs == 1)
    assert(runs.asScala.forall(qe => Plans.find(qe.executedPlan)(_.isInstanceOf[Exchange]).isEmpty))
    // first wins: the duplicate 99213 keeps the first row's amount
    val amounts = store.currentView("cms.pfs_opps_cap", "PFS_OPPS_CAP")
      .select("hcpcs_code", "opps_cap_amount").collect()
      .map(x => x.getString(0) -> x.get(1).toString).toMap
    assert(amounts.keySet == Set("99213", "99214") && amounts("99213").startsWith("120.5"), amounts)
  }

  test("validate then ingest of the same bytes reads the upload once") {
    val cache = IngestPipeline.UploadCache
    val path = csv("HCPCS,OPPS CAP\n99213,120.50\n,90.00\n99214,140.00\n99213,999.99\n")
    def ingest(store: VersionStore) =
      IngestPipeline.ingestFile(spark, store, "PFS_OPPS_CAP", path, "2026-Q1", d)
    def validate(store: VersionStore) =
      IngestPipeline.validateFile(spark, store, "PFS_OPPS_CAP", path, "2026-Q1")
    val h0 = cache.hits
    val s1 = newStore()
    validate(s1)
    val hit = ingest(s1)
    assert(cache.hits == h0 + 1)
    val miss = ingest(newStore()) // the entry was taken
    assert(cache.hits == h0 + 1)
    assert(hit == miss)
    // different bytes under the same path: a different hash, so a miss
    val s3 = newStore()
    validate(s3)
    Files.writeString(Paths.get(path), "HCPCS,OPPS CAP\n99215,1.00\n")
    val changed = ingest(s3)
    assert(cache.hits == h0 + 1)
    assert((changed.status, changed.inserted, changed.invalid) == ("completed", 1L, 0L))
  }

  test("the cached distributed-XLSX upload owns its scratch until it is taken or pushed out") {
    val scratch = Files.createTempDirectory("graft-scratch")
    def scratchFiles = Files.list(scratch).iterator.asScala.toList
    val dir = Files.createTempDirectory("graft-ip-xlsx").toString
    val (a, b) = (s"$dir/a.xlsx", s"$dir/b.xlsx")
    graft.io.SyntheticXlsx.writeNcciPtp(a, nRows = 2000)
    graft.io.SyntheticXlsx.writeNcciPtp(b, nRows = 1500)
    spark.conf.set("graft.xlsx.distributedThresholdBytes", "0")
    spark.conf.set("graft.xlsx.chunkBytes", "65536")
    spark.conf.set("graft.xlsx.scratchDir", scratch.toString)
    try {
      def validate(store: VersionStore, p: String) =
        IngestPipeline.validateFile(spark, store, "NCCI_PTP", p, "2026-Q1", Some("PRACTITIONER"))
      def ingest(store: VersionStore, p: String) =
        IngestPipeline.ingestFile(spark, store, "NCCI_PTP", p, "2026-Q1", d, Some("PRACTITIONER"))
      val h0 = IngestPipeline.UploadCache.hits
      val s1 = newStore()
      assert(validate(s1, a).valid)
      assert(scratchFiles.size == 1)
      val hit = ingest(s1, a)
      assert(IngestPipeline.UploadCache.hits == h0 + 1)
      assert(scratchFiles.isEmpty, scratchFiles)
      assert(hit == ingest(newStore(), a)) // the same result without the hit
      assert(scratchFiles.isEmpty, scratchFiles)
      // a validate pushes out an entry that was never taken
      validate(newStore(), a)
      validate(newStore(), b)
      assert(scratchFiles.size == 1)
      validate(newStore(), csv("HCPCS,OPPS CAP\n99213,120.50\n"))
      assert(scratchFiles.isEmpty, scratchFiles)
    } finally {
      spark.conf.unset("graft.xlsx.distributedThresholdBytes")
      spark.conf.unset("graft.xlsx.chunkBytes")
      spark.conf.unset("graft.xlsx.scratchDir")
    }
  }

  /** The errors an ingest reports for a PTP CSV: its first
    * `maxCollectedErrors` rows missing a key, in file row order. */
  private def expectedPtpErrors(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.zipWithIndex.drop(1).flatMap { case (line, i) =>
      val cells = line.split(",", -1)
      Seq("comprehensive_code", "component_code").zip(cells).collectFirst {
        case (key, cell) if cell.isEmpty => s"Row ${i + 1}: Missing required key column '$key'"
      }
    }.take(graft.config.Catalog.Limits.maxCollectedErrors).toSeq

  test("errors over several ranges: the first 10k by row number, first 5 on a failed version") {
    val header = "Column 1,Column 2,Modifier,Effective Date,Deletion Date\n"
    // ~4 MB, 120,000 rows; every 9th row misses one key, alternating
    // between the two (13,333 invalid rows, past the 10,000 cap).
    val mixed = csv(header + (0 until 120000).map { i =>
      val (c1, c2) = (f"${10000 + i / 97}%05d", f"${20000 + i % 97997}%05d")
      if (i % 9 != 4) s"$c1,$c2,1,20240101,*"
      else if (i % 2 == 0) s",$c2,1,20240101,*" else s"$c1,,1,20240101,*"
    }.mkString("\n") + "\n")
    // ~2.5 MB, every row missing its first key.
    val allInvalid = csv(header + (0 until 110000).map(i =>
      f",${20000 + i}%05d,1,20240101,*").mkString("\n") + "\n")
    Seq(mixed, allInvalid).foreach(p =>
      assert(graft.io.FileReader.readUpload(spark, p).rows.rdd.getNumPartitions > 1, p))

    val store = newStore()
    val r = IngestPipeline.ingestFile(spark, store, "NCCI_PTP", mixed, "2026-Q1", d, Some("HOSPITAL"))
    assert((r.status, r.invalid) == ("completed", 13333L))
    assert(r.errors == expectedPtpErrors(mixed))
    val f = IngestPipeline.ingestFile(spark, store, "NCCI_PTP", allInvalid, "2026-Q1", d,
      Some("PRACTITIONER"))
    val expected = expectedPtpErrors(allInvalid)
    assert((f.status, f.invalid, f.errors) == ("failed", 110000L, expected))
    val v = store.versions.filter(col("data_version_id") === f.versionId).head
    assert(v.getAs[String]("error_message") ==
      s"No rows inserted. First errors: ${expected.take(5).mkString("; ")}")

    val clean = IngestPipeline.ingestFile(spark, store, "PFS_OPPS_CAP",
      csv("HCPCS,OPPS CAP\n99213,120.50\n99214,140.00\n"), "2026-Q1", d)
    assert((clean.status, clean.invalid, clean.errors) == ("completed", 0L, Seq.empty))
  }

  test("validation report: counts, drift warning, sampled type warnings, dup file") {
    val store = newStore()
    val good = csv(
      """HCPCS,OPPS CAP
        |99213,120.50
        |99214,oops
        |99215,140.00
        |99216,1.00
        |""".stripMargin)
    val rep = IngestPipeline.validateFile(spark, store, "PFS_OPPS_CAP", good, "2026-Q1")
    assert(rep.valid && rep.dataRows == 4 && rep.headerRowIndex.contains(0))
    assert(rep.warnings.exists(w => w.contains("opps_cap_amount") && w.contains("oops")))

    // ingest it, then a tiny file must trigger the drift warning, and the
    // same file again must flag duplicate
    IngestPipeline.ingestFile(spark, store, "PFS_OPPS_CAP", good, "2026-Q1", d)
    val tiny = csv("HCPCS,OPPS CAP\n99213,1.00\n")
    val rep2 = IngestPipeline.validateFile(spark, store, "PFS_OPPS_CAP", tiny, "2026-Q2")
    assert(rep2.warnings.exists(_.contains("less than half")))
    val rep3 = IngestPipeline.validateFile(spark, store, "PFS_OPPS_CAP", good, "2026-Q2")
    assert(rep3.duplicateFile && !rep3.valid)
  }

  test("oversized upload is rejected with the reference's size-cap message") {
    val store = newStore()
    // A sparse file: size() reports >100 MB without writing the bytes — the
    // cap must reject on size alone, before any read of the content.
    val big = Files.createTempFile("graft-ip", ".csv")
    val raf = new java.io.RandomAccessFile(big.toFile, "rw")
    try raf.setLength(105L * 1024 * 1024) finally raf.close()
    val rep = IngestPipeline.validateFile(spark, store, "PFS_OPPS_CAP", big.toString, "2026-Q1")
    assert(!rep.valid)
    assert(rep.errors == Seq("File size (105.0 MB) exceeds maximum (100 MB)"))
  }

  test("all-invalid file: error list capped at 10k, counts stay exact") {
    val store = newStore()
    val n = graft.config.Catalog.Limits.maxCollectedErrors + 50
    val body = (1 to n).map(_ => ",1.00").mkString("\n")
    val path = csv(s"HCPCS,OPPS CAP\n$body\n")
    val r = IngestPipeline.ingestFile(spark, store, "PFS_OPPS_CAP", path, "2026-Q1", d)
    assert(r.status == "failed")
    assert(r.invalid == n)                 // exact, computed distributed
    assert(r.errors.size == graft.config.Catalog.Limits.maxCollectedErrors)
    assert(r.errors.head.contains("Row 2:")) // first-N by row order
  }

  test("ingest of a headerless file raises the detector's message") {
    val store = newStore()
    val noHdr = csv("a,b\n1,2\n")
    val e = intercept[IllegalArgumentException] {
      IngestPipeline.ingestFile(spark, store, "PFS_OPPS_CAP", noHdr, "2026-Q1", d)
    }
    assert(e.getMessage.contains("Could not find header row"))
    assert(store.versions.isEmpty) // nothing half-created
  }

  test("unsupported extension and missing header are reported, not thrown") {
    val store = newStore()
    val pdf = Files.createTempFile("graft-ip", ".pdf")
    Files.writeString(pdf, "junk")
    val rep = IngestPipeline.validateFile(spark, store, "PFS_OPPS_CAP", pdf.toString, "2026-Q1")
    assert(!rep.valid && rep.errors.head.contains("Unsupported file type"))
    val noHdr = csv("a,b\n1,2\n")
    val rep2 = IngestPipeline.validateFile(spark, store, "PFS_OPPS_CAP", noHdr, "2026-Q1")
    assert(!rep2.valid && rep2.errors.head.contains("Could not find header row"))
  }
}
