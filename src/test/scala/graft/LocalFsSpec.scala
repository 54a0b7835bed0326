package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.pipeline.IngestPipeline
import graft.store.{LocalFs, VersionStore}

/** Hadoop's stock checksummed local filesystem under the `stock` scheme, so
  * one session can write the same store through it and through `file://`. */
class StockFs extends LocalFileSystem(new StockFs.Raw) {
  override def getScheme: String = "stock"
}

object StockFs {
  class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create("stock:///")
    override def getScheme: String = "stock"
  }
}

/** graft's sessions serve `file://` with [[LocalFs]], which sets
  * permissions without forking `chmod`; what it leaves on disk is what the
  * stock filesystem leaves, mode for mode. */
class LocalFsSpec extends SparkSpecBase {

  private def hconf = spark.sparkContext.hadoopConfiguration

  /** Every file and dir under `root`, relative, with its full mode
    * (permission, set-id and sticky bits). */
  private def modes(root: JPath): Map[String, Int] = {
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_ != root).map { p =>
      root.relativize(p).toString ->
        (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & Integer.parseInt("7777", 8))
    }.toMap
    finally walk.close()
  }

  test("the session's file:// filesystem is graft.store.LocalFs") {
    // a file:// filesystem cached before the session was built would be
    // returned here whatever the session's conf says
    Seq(hconf, spark.sessionState.newHadoopConf()).foreach { conf =>
      assert(FileSystem.get(URI.create("file:///"), conf).getClass == classOf[LocalFs])
      assert(new Path(Files.createTempDirectory("graft-localfs").toUri)
        .getFileSystem(conf).getClass == classOf[LocalFs])
    }
  }

  test("create, mkdirs and setPermission leave the stock filesystem's modes") {
    val stock = new LocalFileSystem()
    stock.initialize(URI.create("file:///"), hconf)
    val ours = FileSystem.get(URI.create("file:///"), hconf)
    val roots = Seq(stock, ours).map { fs =>
      val root = Files.createTempDirectory("graft-localfs")
      def at(name: String) = new Path(root.toUri.toString + name)
      fs.create(at("created")).close()
      fs.mkdirs(at("made/nested"))
      Seq("600", "640", "644", "700", "755").foreach { m =>
        val perm = new FsPermission(Integer.parseInt(m, 8).toShort)
        fs.create(at(s"file$m")).close()
        fs.setPermission(at(s"file$m"), perm)
        fs.mkdirs(at(s"dir$m"))
        fs.setPermission(at(s"dir$m"), perm)
      }
      // a set-group-ID dir: chmod keeps the bit on dirs, and new dirs
      // under it inherit it
      Files.createDirectory(root.resolve("sgid"))
      Files.setAttribute(root.resolve("sgid"), "unix:mode",
        Integer.valueOf(Integer.parseInt("2775", 8)))
      fs.mkdirs(at("sgid/inner"))
      fs.setPermission(at("sgid"), new FsPermission(Integer.parseInt("750", 8).toShort))
      root
    }
    val Seq(want, got) = roots.map(modes)
    assert(want.size == 21 && want.keySet.count(_.endsWith(".crc")) == 6, want.keys)
    assert(got == want)
  }

  test("an upload lands with the modes the stock filesystem gives it") {
    hconf.set("fs.stock.impl", classOf[StockFs].getName)
    val csv = Files.createTempFile("graft-localfs", ".csv")
    Files.writeString(csv, "Column 1,Column 2,Modifier,Effective Date,Deletion Date\n" +
      "00100,00101,1,20240101,*\n00200,00201,0,20240101,*\n,00102,1,20240101,*\n")
    val d = java.sql.Date.valueOf("2026-01-01")
    val (dirs, results) = Seq("stock://", "").map { scheme =>
      val dir = Files.createTempDirectory("graft-localfs-store")
      val store = new VersionStore(spark, scheme + dir)
      val rep = IngestPipeline.validateFile(spark, store, "NCCI_PTP", csv.toString,
        "2026-Q1", Some("HOSPITAL"))
      assert(rep.valid)
      dir -> IngestPipeline.ingestFile(spark, store, "NCCI_PTP", csv.toString,
        "2026-Q1", d, Some("HOSPITAL"))
    }.unzip
    assert(results.distinct.size == 1 && results.head.inserted == 2, results)
    // each write job names its files with a fresh UUID
    val uuid = "[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}"
    val Seq(want, got) = dirs.map(modes(_).map { case (p, m) => p.replaceAll(uuid, "<uuid>") -> m })
    assert(want.keys.exists(_.endsWith(".parquet")) && want.keys.exists(_.endsWith(".crc")))
    assert(got == want)
  }
}
