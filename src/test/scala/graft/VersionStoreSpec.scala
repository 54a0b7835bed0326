package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.store.VersionStore

/** Version lifecycle (U2-U5), current views (J2), duplicate-file detection
  * (D2) over a temp store root. */
class VersionStoreSpec extends SparkSpecBase {

  private def newStore(): VersionStore = {
    val root = java.nio.file.Files.createTempDirectory("graft-store").toString
    new VersionStore(spark, root)
  }

  private def sampleData(v: Int) = {
    import spark.implicits._
    Seq((s"code$v", v * 1.0), (s"other$v", v * 2.0)).toDF("hcpcs_code", "amount")
  }

  test("lifecycle: create -> complete -> mark current -> current view resolves") {
    val store = newStore()
    val id1 = store.createVersion("PFS_OPPS_CAP", "2025-Q4",
      java.sql.Date.valueOf("2025-10-01"), None, "hash1", "f1.csv")
    store.writeData("cms.pfs_opps_cap", id1, sampleData(1))
    store.completeVersion(id1, 2)
    store.markCurrent(id1, "PFS_OPPS_CAP", None)

    val id2 = store.createVersion("PFS_OPPS_CAP", "2026-Q1",
      java.sql.Date.valueOf("2026-01-01"), None, "hash2", "f2.csv")
    store.writeData("cms.pfs_opps_cap", id2, sampleData(2))
    store.completeVersion(id2, 2)
    store.markCurrent(id2, "PFS_OPPS_CAP", None)

    // current view sees ONLY version 2's rows
    val cur = store.currentView("cms.pfs_opps_cap", "PFS_OPPS_CAP")
    assert(cur.count() == 2)
    assert(cur.select("hcpcs_code").collect().map(_.getString(0)).toSet ==
      Set("code2", "other2"))
    // exactly one current version per (source, variant) scope
    assert(store.versions.filter(col("is_current")).count() == 1)
  }

  test("failed version is excluded from current view; error recorded") {
    val store = newStore()
    val id = store.createVersion("HCPCS", "2026-Q1",
      java.sql.Date.valueOf("2026-01-01"), None, "h", "f.csv")
    store.failVersion(id, "boom")
    val v = store.versions.filter(col("data_version_id") === id).head
    assert(v.getAs[String]("status") == "failed")
    assert(v.getAs[String]("error_message") == "boom")
  }

  test("variant scoping: HOSPITAL current swap leaves PRACTITIONER untouched") {
    val store = newStore()
    val h1 = store.createVersion("NCCI_PTP", "2026-Q1",
      java.sql.Date.valueOf("2026-01-01"), Some("HOSPITAL"), "h1", "h.csv")
    store.completeVersion(h1, 1); store.markCurrent(h1, "NCCI_PTP", Some("HOSPITAL"))
    val p1 = store.createVersion("NCCI_PTP", "2026-Q1",
      java.sql.Date.valueOf("2026-01-01"), Some("PRACTITIONER"), "p1", "p.csv")
    store.completeVersion(p1, 1); store.markCurrent(p1, "NCCI_PTP", Some("PRACTITIONER"))
    val h2 = store.createVersion("NCCI_PTP", "2026-Q2",
      java.sql.Date.valueOf("2026-04-01"), Some("HOSPITAL"), "h2", "h2.csv")
    store.completeVersion(h2, 1); store.markCurrent(h2, "NCCI_PTP", Some("HOSPITAL"))

    val current = store.versions.filter(col("is_current"))
      .select("data_version_id").collect().map(_.getLong(0)).toSet
    assert(current == Set(p1, h2))
  }

  test("duplicate-file detection blocks completed hashes only (D2)") {
    val store = newStore()
    val id = store.createVersion("HCPCS", "2026-Q1",
      java.sql.Date.valueOf("2026-01-01"), None, "samehash", "f.csv")
    assert(!store.isDuplicateFile("HCPCS", "samehash")) // processing, not completed
    store.completeVersion(id, 1)
    assert(store.isDuplicateFile("HCPCS", "samehash"))
    assert(!store.isDuplicateFile("HCPCS", "otherhash"))
  }

  test("metadata survives a fresh store instance on the same root") {
    val store = newStore()
    val id = store.createVersion("PFS_OPPS_CAP", "2026-Q1",
      java.sql.Date.valueOf("2026-01-01"), None, "hash1", "f1.csv")
    store.writeData("cms.pfs_opps_cap", id, sampleData(1))
    store.completeVersion(id, 2, markCurrentFor = Some(("PFS_OPPS_CAP", None)))
    // a NEW instance must reload the durable commit log, not start empty
    val reopened = new VersionStore(spark, store.root)
    assert(reopened.currentView("cms.pfs_opps_cap", "PFS_OPPS_CAP").count() == 2)
    assert(reopened.isDuplicateFile("PFS_OPPS_CAP", "hash1"))
    assert(reopened.versions.filter(col("is_current")).count() == 1)

    // 50 more commits: every kind of metadata change, plus landed parts.
    (1 to 10).foreach { i =>
      val v = store.createVersion("PFS_GPCI", s"2026-Q$i",
        java.sql.Date.valueOf(s"2026-01-${10 + i}"), Some("V"), s"g$i", s"g$i.csv")
      store.completeVersion(v, i.toLong)
      store.markCurrent(v, "PFS_GPCI", Some("V"))
      store.log(v, "INFO", s"note $i", if (i % 2 == 0) Some("""{"k":1}""") else None)
      if (i % 3 == 0) store.failVersion(v, s"late $i")
      else store.landPart("cms.pfs_gpci", v, 2, sampleData(i), s"p$i", s"p$i.csv"): Unit
    }
    val log = new java.io.File(s"${store.root}/meta/_log")
    val commits = log.listFiles.map(_.getName).filter(_.matches("\\d{20}\\.json"))
    assert(commits.length >= 1 && commits.length <= 2, commits.mkString(","))
    val again = new VersionStore(spark, store.root)
    def rows(s: VersionStore) = Seq(s.versions, s.parts, s.logs).map(_.collect().toSeq)
    assert(rows(again) == rows(store))
    assert(rows(store).map(_.size) == Seq(11, 7, 17))
    assert(again.versions.filter(col("record_count").isNull).isEmpty)
  }

  test("an upload with invalid rows completes and logs its warning in one commit") {
    val store = newStore()
    def head() = new java.io.File(s"${store.root}/meta/_log").listFiles
      .map(_.getName).filter(_.matches("\\d{20}\\.json")).map(_.stripSuffix(".json").toLong)
      .maxOption.getOrElse(0L)
    val path = java.nio.file.Files.createTempFile("graft-store", ".csv")
    java.nio.file.Files.writeString(path, "HCPCS,OPPS CAP\n99213,120.50\n,90.00\n")
    val r = graft.pipeline.IngestPipeline.ingestFile(spark, store, "PFS_OPPS_CAP",
      path.toString, "2026-Q1", java.sql.Date.valueOf("2026-01-01"))
    assert((r.status, r.invalid) == ("completed", 1L))
    // createVersion, then complete + mark current + warning
    assert(head() == 2)
    val warning = store.logs.filter(col("level") === "WARNING").collect()
    assert(warning.map(_.getAs[String]("message")).toSeq == Seq("1 rows failed validation"))
  }

  test("version ids are never reused, across deletes and reopens") {
    val store = newStore()
    def create(s: VersionStore, label: String) = s.createVersion("PFS_GPCI", label,
      java.sql.Date.valueOf("2026-01-01"), None, s"h-$label", s"$label.csv")
    val v1 = create(store, "a")
    val v2 = create(store, "b")
    store.writeData("cms.pfs_gpci", v2, sampleData(2))
    store.completeVersion(v2, 2, markCurrentFor = Some(("PFS_GPCI", None)))
    store.deleteVersion(v2, "cms.pfs_gpci")
    assert(!new java.io.File(s"${store.root}/data/cms.pfs_gpci/data_version_id=$v2").exists)
    val v3 = create(store, "c")
    assert(Seq(v1, v2, v3) == Seq(1L, 2L, 3L))
    store.deleteVersion(v3, "cms.pfs_gpci")
    assert(create(new VersionStore(spark, store.root), "d") == 4L)
  }

  test("a second writer on the same root cannot replace a commit") {
    val a = newStore()
    val b = new VersionStore(spark, a.root)
    def create(s: VersionStore, label: String) = s.createVersion("PFS_GPCI", label,
      java.sql.Date.valueOf("2026-01-01"), None, s"h-$label", s"$label.csv")
    val v1 = create(a, "a1")
    // b last read the empty log, so its next commit number is a's
    val err = intercept[java.io.IOException](create(b, "b1"))
    assert(err.getMessage.contains("another writer"))
    assert(b.metadata.versions.isEmpty)
    val v2 = create(a, "a2")
    intercept[java.io.IOException](create(b, "b2"))
    assert(b.metadata.versions.isEmpty)
    val labels = new VersionStore(spark, a.root).metadata.versions
      .map(v => v.dataVersionId -> v.versionLabel)
    assert(labels == Vector(v1 -> "a1", v2 -> "a2"))
    assert(new java.io.File(s"${a.root}/meta/_log").list.forall(!_.endsWith(".tmp")))
  }

  test("metadata reads and commits launch no job; landing a part launches one") {
    val store = newStore()
    val data = sampleData(1)
    val d = java.sql.Date.valueOf("2026-01-01")
    var id = 0L
    assert(jobsIn { id = store.createVersion("NCCI_PTP", "q", d, Some("H"), "h", "f.csv") } == 0)
    assert(jobsIn(store.completeVersion(id, 2, markCurrentFor = Some(("NCCI_PTP", Some("H"))))) == 0)
    assert(jobsIn(store.markCurrent(id, "NCCI_PTP", Some("H"))) == 0)
    assert(jobsIn(store.log(id, "INFO", "hello")) == 0)
    assert(jobsIn(store.landPart("cms.ncci_ptp", id, 2, data, "h2", "f2.csv")) == 1)
    assert(jobsIn(store.landPart("cms.ncci_ptp", id, 2, data, "h2", "f2.csv")) == 0) // on the ledger
    val other = store.createVersion("HCPCS", "q", d, None, "x", "x.csv")
    assert(jobsIn(store.failVersion(other, "boom")) == 0)
    assert(jobsIn(store.deleteVersion(other, "cms.hcpcs")) == 0)
    assert(jobsIn {
      val s = new VersionStore(spark, store.root)
      s.versions.collect(); s.parts.collect(); s.logs.collect()
    } == 0)
    assert(jobsIn(store.data("cms.ncci_ptp")) == 0)
    val v = store.versions.filter(col("data_version_id") === id).head
    assert((v.getAs[Long]("record_count"), v.getAs[Int]("part_count")) == (4L, 2))
    assert(store.parts.collect().map(_.getAs[String]("file_hash")).toSeq == Seq("h2"))
  }

  test("upload hashes stream the file and match the whole-file digest") {
    val dir = java.nio.file.Files.createTempDirectory("graft-hash")
    def sha(bytes: Array[Byte]) = {
      val p = java.nio.file.Files.write(dir.resolve(s"f${bytes.length}"), bytes)
      val whole = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
        .map("%02x".format(_)).mkString
      val streamed = VersionStore.sha256File(p.toString)
      assert(streamed == whole)
      streamed
    }
    assert(sha(Array.emptyByteArray) ==
      "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855")
    assert(sha("abc".getBytes("UTF-8")) ==
      "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad")
    // The multi-part PTP upload shape, over several buffer lengths.
    val csv = "Column 1,Column 2,Modifier,Effective Date,Deletion Date\n" +
      (0 until 20000).map(i => f"$i%05d,${i + 1}%05d,1,20240101,*").mkString("\n")
    sha(csv.getBytes("UTF-8"))
  }

  test("JDBC sink writes version rows in 1000-row insert batches (S7)") {
    val store = newStore()
    val dbDir = java.nio.file.Files.createTempDirectory("graft-jdbc").toString
    val url = s"jdbc:derby:$dbDir/db;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val id = store.createVersion("PFS_GPCI", "2026-Q1",
      java.sql.Date.valueOf("2026-01-01"), None, "h", "f.csv")
    store.writeJdbc(url, "pfs_gpci", id, sampleData(1), props)
    val back = spark.read.jdbc(url, "pfs_gpci", props)
    assert(back.count() == 2)
    assert(back.columns.map(_.toLowerCase).toSet ==
      Set("hcpcs_code", "amount", "data_version_id"))
    assert(back.filter(col("data_version_id") === id).count() == 2)
  }

  test("current view takes the current version's schema; fallbacks match a table read") {
    import spark.implicits._
    import org.apache.spark.sql.types.IntegerType
    val store = newStore()
    val table = "cms.pfs_gpci"
    def land(label: String, df: org.apache.spark.sql.DataFrame): Long = {
      val id = store.createVersion("PFS_GPCI", label,
        java.sql.Date.valueOf("2026-01-01"), None, s"h-$label", s"$label.csv")
      store.writeData(table, id, df)
      store.completeVersion(id, df.count(), markCurrentFor = Some(("PFS_GPCI", None)))
      id
    }
    val v1 = land("v1", Seq(("01", 1.0)).toDF("mac_locality", "work_gpci"))
    land("v2", Seq(("02", 2.0, 0.5)).toDF("mac_locality", "work_gpci", "pe_gpci"))
    def view = store.currentView(table, "PFS_GPCI")
    assert(view.columns.toSeq == Seq("mac_locality", "work_gpci", "pe_gpci", "data_version_id"))
    assert(view.schema("data_version_id").dataType == IntegerType)
    assert(view.collect().map(_.getDouble(2)).toSeq == Seq(0.5))
    store.markCurrent(v1, "PFS_GPCI", None)
    assert(view.columns.toSeq == Seq("mac_locality", "work_gpci", "data_version_id"))
    assert(view.schema("data_version_id").dataType == IntegerType)
    assert(view.collect().map(_.getString(0)).toSeq == Seq("01"))

    // No current version in scope: no rows, under the table's schema.
    val none = store.currentView(table, "PFS_GPCI", Some("HOSPITAL"))
    assert(none.schema == store.data(table).schema)
    assert(none.count() == 0)
  }

  test("reads open only the files a commit lists") {
    import java.nio.file.{Files, Paths}
    val store = newStore()
    val table = "cms.pfs_gpci"
    val id = store.createVersion("PFS_GPCI", "v1",
      java.sql.Date.valueOf("2026-01-01"), None, "h", "f.csv")
    assert(store.writeData(table, id, sampleData(1).repartition(2)) == 2)
    store.completeVersion(id, 2, markCurrentFor = Some(("PFS_GPCI", None)))
    val dir = Paths.get(store.root, "data", table, s"data_version_id=$id")
    def files() = Files.list(dir).iterator.asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSet
    val landed = files()
    assert(store.metadata.versions.head.files.flatMap(_.names).toSet == landed)
    // Not parquet at all: opening it would fail the read.
    val planted = "part-00000-unlisted.snappy.parquet"
    Files.writeString(dir.resolve(planted), "not parquet")
    def codes(df: org.apache.spark.sql.DataFrame) =
      df.select("hcpcs_code").collect().map(_.getString(0)).toSet
    assert(codes(store.currentView(table, "PFS_GPCI")) == Set("code1", "other1"))
    assert(codes(store.data(table)) == Set("code1", "other1"))
    assert(codes(new VersionStore(spark, store.root).currentView(table, "PFS_GPCI")) ==
      Set("code1", "other1"))

    // A second write of the part replaces its list; the unlisted files go.
    assert(store.writeData(table, id, sampleData(2)) == 2)
    assert(files().intersect(landed).isEmpty)
    assert(codes(store.data(table)) == Set("code2", "other2"))
    // A write that counts no rows unlists the part and lands nothing.
    assert(store.writeData(table, id, sampleData(3).limit(0)) == 0)
    assert(files() == Set(planted) && store.data(table).isEmpty)
    val empty = store.createVersion("PFS_GPCI", "v2",
      java.sql.Date.valueOf("2026-01-01"), None, "h2", "f2.csv")
    assert(store.writeData(table, empty, sampleData(3).limit(0)) == 0)
    assert(store.landPart(table, empty, 2, sampleData(3).limit(0), "p2", "p2.csv") == 0)
    assert(!Files.exists(Paths.get(store.root, "data", table, s"data_version_id=$empty")))
  }

  test("version diff classifies added/removed/changed/unchanged keys") {
    import spark.implicits._
    val v1 = Seq(("a", 1.0), ("b", 2.0), ("c", 3.0)).toDF("k", "v")
    val v2 = Seq(("a", 1.0), ("b", 9.0), ("d", 4.0)).toDF("k", "v")
    val out = VersionStore.diffVersions(v1, v2, Seq("k"), Seq("v"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("a" -> "unchanged", "b" -> "changed",
      "c" -> "removed", "d" -> "added"))
  }

  test("cascade delete removes data and metadata (U5)") {
    val store = newStore()
    val id = store.createVersion("PFS_GPCI", "2026-Q1",
      java.sql.Date.valueOf("2026-01-01"), None, "h", "f.csv")
    store.writeData("cms.pfs_gpci", id, sampleData(1))
    store.completeVersion(id, 2)
    store.deleteVersion(id, "cms.pfs_gpci")
    assert(store.versions.filter(col("data_version_id") === id).isEmpty)
  }
}
