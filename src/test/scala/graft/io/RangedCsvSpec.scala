package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.SparkSpecBase

/** The ranged CSV/TXT reader against Spark's own whole-file parse: with
  * every range forced down to one byte, the cut points land inside quoted
  * newlines, CRLF pairs and ragged rows, and the numbered rows, the head
  * and the count must still equal `spark.read.csv(multiLine)` numbered by
  * `withRowNumbers`. Every input the boundary scan cannot prove takes the
  * one-range fallback and still matches. */
class RangedCsvSpec extends SparkSpecBase {

  private def write(content: Array[Byte], suffix: String = ".csv"): String = {
    val p = Files.createTempFile("graft-ranged", suffix)
    Files.write(p, content)
    p.toString
  }

  private def utf8(s: String) = s.getBytes(StandardCharsets.UTF_8)

  /** Spark's whole-file multiLine parse with the reader's options, numbered
    * by zipWithIndex, nulls read as "". */
  private def reference(path: String, sep: String): Seq[Seq[Any]] = {
    val enc = FileReader.detectEncoding(path)
    val n = FileReader.sniffColumnCount(path, enc, sep)
    val raw = spark.read
      .schema(StructType((0 until n).map(i => StructField(s"_c$i", StringType))))
      .option("header", "false").option("sep", sep).option("encoding", enc)
      .option("mode", "PERMISSIVE")
      .option("nullValue", "\u0000\u0000graft-null-sentinel")
      .option("emptyValue", "").option("multiLine", "true")
      .csv(path)
    FileReader.withRowNumbers(raw).collect().toSeq
      .map(_.toSeq.map(v => if (v == null) "" else v))
  }

  private def layout(path: String, sep: String) =
    DelimitedScan(path, sep.charAt(0).toByte, spark.sparkContext.defaultParallelism,
      1, FileReader.HeadRows).layout

  /** Ranged (or fallback) read == reference; returns the number of ranges,
    * 0 for the fallback. */
  private def check(path: String, sep: String = ","): Int = {
    val want = reference(path, sep)
    val upload = FileReader.readDelimited(spark, path,
      if (sep == ",") Some(",") else None, minRangeBytes = 1)
    val got = upload.rows.collect().toSeq.map(_.toSeq)
    assert(got == want)
    assert(upload.count == want.size)
    assert(upload.head.map(_.toSeq) == want.take(FileReader.HeadRows).map(_.init))
    layout(path, sep).fold(0)(_.ranges.size)
  }

  test("quoted newlines across cuts: same rows and row numbers, several ranges") {
    val p = write(utf8((1 to 40).map(i =>
      if (i % 3 == 0) s"$i,\"two\nlines, $i\",x" else s"$i,plain,\"q,$i\"").mkString("\n") + "\n"))
    assert(check(p) > 1)
  }

  test("CRLF line ends, inside and outside quotes") {
    val p = write(utf8((1 to 30).map(i => s"$i,\"a\r\nb\",c").mkString("\r\n") + "\r\n"))
    assert(check(p) > 1)
  }

  test("latin-1 and UTF-8 BOM uploads stay ranged") {
    val latin = write((1 to 20).map(i => s"$i,café,x").mkString("\n")
      .getBytes(StandardCharsets.ISO_8859_1))
    assert(FileReader.detectEncoding(latin) == "ISO-8859-1")
    assert(check(latin) > 1)
    val bom = write(Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++
      utf8((1 to 20).map(i => s"h$i,ü,$i").mkString("\n") + "\n"))
    assert(check(bom) > 1)
  }

  test("ragged short and long rows, no trailing newline") {
    val p = write(utf8("a,b,c\nd\ne,f,g,h\n,,\nlast,\"x\ny\""))
    assert(check(p) > 1)
  }

  test("one record, header only, and empty files") {
    assert(check(write(utf8("only,record\n"))) == 1)
    assert(check(write(utf8("HCPCS,MOD"))) == 1)
    assert(check(write(Array.emptyByteArray)) == 1)
  }

  test("tab-delimited TXT is ranged on its sniffed delimiter") {
    val p = write(utf8((1 to 20).map(i => s"$i\t\"x\ty\"\tz").mkString("\n") + "\n"), ".txt")
    assert(check(p, "\t") > 1)
  }

  test("every input the scan cannot prove takes the one-range fallback") {
    val triggers = Seq(
      "backslash escape" -> "a,\"x\\\"y\nz\",c\nd,e,f\n",
      "bare carriage return" -> "a,b\rc,d\ne,f\n",
      "blank line" -> "a,b\n\nc,d\n",
      "whitespace-only line" -> "a,b\n  \nc,d\n",
      "unterminated quote" -> "a,b\n\"c,d\ne,f\n",
      "CRLF and LF mixed" -> "a,b\r\nc,d\ne,f\r\n",
      "doubled quote" -> "a,\"x\"\"y\nz\",c\nd,e,f\n",
      "quote inside an unquoted field" -> "a,b\"c\nd,e\n",
      "text after a closing quote" -> "\"ab\"cd,e\nf,g\n",
      "NUL byte" -> "a,b\n\u0000c,d\n")
    triggers.foreach { case (name, content) =>
      val p = write(utf8(content))
      withClue(name) {
        assert(layout(p, ",").isEmpty)
        assert(check(p) == 0)
      }
    }
  }

  test("the scan counts records and cuts only at record starts") {
    val p = write(utf8("h1,h2\n\"a\nb\",1\nc,2\n\"d\ne\nf\",3\ng,4\n"))
    val l = layout(p, ",").get
    assert(l.records == 5)
    assert(l.ranges.map(_.first) == l.ranges.scanLeft(1L)(_ + _.records).init)
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(p))
    val starts = Set(0L, 6L, 14L, 18L, 28L)
    assert(l.ranges.forall(r => starts(r.start)))
    assert(l.ranges.last.end == bytes.length)
  }
}
