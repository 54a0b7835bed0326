package graft

import java.io.IOException
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.{FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

import graft.pipeline.IngestPipeline
import graft.store.VersionStore

/** The local filesystem under the `fault` scheme, with a simulated crash:
  * once armed at step k, the k-th create, rename or delete (from any
  * thread: the driver's commits and the write job's tasks alike) happens
  * and then throws, and from then on every create, rename and delete
  * throws — as if the process had died right after that step. */
class FaultFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("fault:///")
  override def getScheme: String = "fault"

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
                      blockSize: Long, progress: Progressable): FSDataOutputStream =
    FaultFs.step(super.create(f, overwrite, bufferSize, replication, blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    FaultFs.step(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = FaultFs.step(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean =
    FaultFs.step(super.delete(p, recursive))
}

object FaultFs {
  private val left = new java.util.concurrent.atomic.AtomicInteger()
  @volatile var crashed = false

  def arm(k: Int): Unit = { crashed = false; left.set(k) }
  def disarm(): Unit = { left.set(0); crashed = false }

  private[graft] def step[T](body: => T): T = {
    if (crashed) throw new IOException("simulated crash")
    val result = body
    if (left.getAndUpdate(n => if (n > 0) n - 1 else n) == 1) {
      crashed = true
      throw new IOException("simulated crash")
    }
    result
  }
}

/** Crash-safety of the version store: a crash after every filesystem step
  * of an ingest — its metadata commits, its data write and, for an appended
  * part, `landPart` — then a fresh store on the same root and a replay of
  * the same upload. */
class VersionStoreFaultSpec extends SparkSpecBase {

  private val d = java.sql.Date.valueOf("2026-01-01")
  private val ptpHeader = "Column 1,Column 2,Modifier,Effective Date,Deletion Date\n"

  private def csv(content: String): String = {
    val p = Files.createTempFile("graft-fault", ".csv")
    Files.writeString(p, content)
    p.toString
  }

  private lazy val gpci = csv("LOCALITY,WORK GPCI,PE GPCI,MP GPCI\n01,1.0,0.9,0.5\n02,1.1,0.8,0.4\n")
  private lazy val part1 = csv(ptpHeader + "00100,00101,1,20240101,*\n,00102,1,20240101,*\n")
  private lazy val part2 = csv(ptpHeader +
    "00200,00201,0,20240101,*\n00300,00301,9,20240101,20250101\n00300,00301,1,20240101,*\n")

  private def ingest(store: VersionStore, path: String, source: String = "NCCI_PTP") =
    IngestPipeline.ingestFile(spark, store, source, path, "2026-Q1", d,
      if (source == "NCCI_PTP") Some("HOSPITAL") else None)

  /** Run `op` once per crash point k = 1, 2, … on a fresh store set up by
    * `setup`, until `op` completes before its k-th step; after each crash,
    * `check` gets a fresh store on the same root and the ids that were
    * committed before `op` ran. Returns the number of crash points. */
  private def crashEverywhere(setup: VersionStore => Unit, op: VersionStore => Unit)
                             (check: (VersionStore, Set[Long]) => Unit): Int = {
    spark.sparkContext.hadoopConfiguration.set("fs.fault.impl", classOf[FaultFs].getName)
    Iterator.from(1).map { k =>
      assert(k < 100, "the operation never completes")
      val root = "fault://" + Files.createTempDirectory("graft-fault-store").toString
      val store = new VersionStore(spark, root)
      setup(store)
      val before = store.metadata.versions.map(_.dataVersionId).toSet
      FaultFs.arm(k)
      val crashed = try { op(store); FaultFs.crashed }
        catch { case _: Exception if FaultFs.crashed => true }
        finally FaultFs.disarm()
      if (crashed) check(new VersionStore(spark, root), before)
      crashed
    }.takeWhile(identity).size
  }

  /** Before the replay, the current view shows exactly the rows its version
    * counts. After a replay: no committed version lost, no id reused, the
    * upload's rows in the current view exactly once and equal to the
    * counters. */
  private def replayAndCheck(store: VersionStore, before: Set[Long], path: String,
                             rows: Long, parts: Int): Unit = {
    val counted = store.metadata.versions.filter(v => v.sourceCode == "NCCI_PTP" && v.isCurrent)
      .flatMap(_.recordCount).sum
    assert(store.currentView("cms.ncci_ptp", "NCCI_PTP", Some("HOSPITAL")).count() == counted,
      "visible rows the current version does not count")
    val ids = store.metadata.versions.map(_.dataVersionId).toSet
    assert(before.subsetOf(ids), s"lost committed versions ${before -- ids}")
    val onDisk = Seq("cms.ncci_ptp", "cms.pfs_gpci").flatMap { t =>
      val dir = new java.io.File(new URI(s"${store.root}/data/$t").getPath)
      Option(dir.list).toSeq.flatten.collect {
        case n if n.startsWith("data_version_id=") => n.stripPrefix("data_version_id=").toLong
      }
    }
    val seen = ids ++ onDisk
    val r = ingest(store, path)
    assert(r.status == "completed")
    if (!seen.contains(r.versionId)) assert(r.versionId > seen.max, s"id ${r.versionId} reused")
    val v = store.metadata.versions.filter(v => v.sourceCode == "NCCI_PTP" && v.isCurrent)
    assert(v.size == 1)
    val view = store.currentView("cms.ncci_ptp", "NCCI_PTP", Some("HOSPITAL")).count()
    assert(view == rows)
    assert(v.head.recordCount.contains(view))
    assert(v.head.partCount == parts)
    assert(v.head.partCount ==
      1 + store.metadata.parts.count(_.dataVersionId == v.head.dataVersionId))
    // A fresh store agrees with the one that replayed.
    val reopened = new VersionStore(spark, store.root)
    assert(reopened.metadata == store.metadata)
    assert(reopened.currentView("cms.pfs_gpci", "PFS_GPCI").count() == 2)
  }

  test("a crash after any step of a first upload loses nothing and reuses no id") {
    val points = crashEverywhere(s => ingest(s, gpci, "PFS_GPCI"), s => ingest(s, part1)) {
      (store, before) => replayAndCheck(store, before, part1, rows = 1, parts = 1)
    }
    // Each of the four commits (create, write, complete, log) and the write.
    assert(points >= 12, s"only $points crash points")
  }

  test("a crash after any step of an appended part lands its rows once on replay") {
    val points = crashEverywhere(
      s => { ingest(s, gpci, "PFS_GPCI"); ingest(s, part1) }, s => ingest(s, part2)) {
      (store, before) => replayAndCheck(store, before, part2, rows = 3, parts = 2)
    }
    assert(points >= 8, s"only $points crash points")
  }
}
