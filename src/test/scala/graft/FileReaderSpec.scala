package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.io.FileReader

/** Port of the reference's file-parser suite
  * (reference: tests/test_file_parser.py:41-125) against the Spark readers. */
class FileReaderSpec extends SparkSpecBase {

  private def tmp(suffix: String, content: String,
                  cs: java.nio.charset.Charset = StandardCharsets.UTF_8): String = {
    val p = Files.createTempFile("graft-spec", suffix)
    Files.write(p, content.getBytes(cs))
    p.toString
  }

  test("csv with quoted commas stays one field (test_file_parser.py:41-55)") {
    val p = tmp(".csv", "a,\"b, with comma\",c\n1,2,3\n")
    val rows = FileReader.parseFile(spark, p)._1.collect().map(_.toSeq)
    assert(rows(0) == Seq("a", "b, with comma", "c"))
    assert(rows(1) == Seq("1", "2", "3"))
  }

  test("csv with quoted embedded newline stays one record (pandas parity)") {
    val p = java.nio.file.Files.createTempFile("graft-spec", ".csv")
    java.nio.file.Files.writeString(p,
      "a,b\n\"line1\nline2\",x\nplain,y\n")
    val rows = FileReader.parseFile(spark, p.toString)._1.collect()
    assert(rows.length == 3)
    assert(rows(1).getString(0) == "line1\nline2")
    assert(rows(1).getString(1) == "x")
    assert(rows(2).getString(0) == "plain")
  }

  test("txt tab sniffing (test_file_parser.py:57-71)") {
    val p = tmp(".txt", "A\tB\tC\n1\t2\t3\n")
    val rows = FileReader.parseFile(spark, p)._1.collect().map(_.toSeq)
    assert(rows(0) == Seq("A", "B", "C"))
    assert(rows(1) == Seq("1", "2", "3"))
  }

  test("txt pipe sniffing with tie-break order (file_parser.py:120-125)") {
    assert(FileReader.sniffDelimiter(tmp(".txt", "a|b|c\n1|2|3\n")) == "|")
    // ties prefer tab over comma and pipe
    assert(FileReader.sniffDelimiter(tmp(".txt", "a\tb,c|d\n")) == "\t")
  }

  test("all strings + leading zeros preserved (test_file_parser.py:90-107)") {
    val p = tmp(".csv", "code,val\n00100,007\n01999,042\n")
    val rows = FileReader.parseFile(spark, p)._1.collect().map(_.toSeq)
    assert(rows(1) == Seq("00100", "007"))
    assert(rows(2) == Seq("01999", "042"))
    assert(FileReader.parseFile(spark, p)._1.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.StringType))
  }

  test("empty cells stay empty string, not null (test_file_parser.py:109-125)") {
    val p = tmp(".csv", "a,,c\n,,\n")
    val rows = FileReader.parseFile(spark, p)._1.collect().map(_.toSeq)
    assert(rows(0) == Seq("a", "", "c"))
    assert(rows(1) == Seq("", "", ""))
  }

  test("unsupported extension raises (test_file_parser.py:78-88)") {
    val p = tmp(".pdf", "junk")
    intercept[IllegalArgumentException] { FileReader.parseFile(spark, p) }
  }

  test("missing file raises FileNotFound") {
    intercept[java.io.FileNotFoundException] {
      FileReader.parseFile(spark, "/nonexistent/file.csv")
    }
  }

  test("encoding cascade: latin-1 bytes fall back from utf-8 (file_parser.py:79-101)") {
    val p = tmp(".csv", "café,x\n", StandardCharsets.ISO_8859_1)
    assert(FileReader.detectEncoding(p) == "ISO-8859-1")
    val rows = FileReader.parseFile(spark, p)._1.collect().map(_.toSeq)
    assert(rows(0) == Seq("café", "x"))
  }

  test("encoding scan streams: a latin-1 byte past the first buffer is seen") {
    val buf = 1 << 20 // the scan's buffer
    val p = Files.createTempFile("graft-spec", ".csv")
    Files.write(p, ("a,b\n" * (buf / 4 + 25)).getBytes(StandardCharsets.US_ASCII) ++
      "caf\u00e9,x\n".getBytes(StandardCharsets.ISO_8859_1))
    assert(Files.size(p) > buf)
    assert(FileReader.detectEncoding(p.toString) == "ISO-8859-1")
  }

  test("encoding scan streams: a UTF-8 character split by the buffer end is valid") {
    val buf = 1 << 20 // the scan's buffer
    val p = Files.createTempFile("graft-spec", ".csv")
    // é is two bytes: the first is the last byte of the first buffer
    Files.write(p, ("x" * (buf - 1)).getBytes(StandardCharsets.US_ASCII) ++
      "\u00e9,y\n".getBytes(StandardCharsets.UTF_8))
    assert(FileReader.detectEncoding(p.toString) == "UTF-8")
  }

  test("row numbers are stable 1-based file order (P1/P4)") {
    val p = tmp(".csv", (1 to 100).map(i => s"r$i,$i").mkString("\n"))
    val df = FileReader.withRowNumbers(FileReader.parseFile(spark, p)._1)
    val got = df.collect().map(r => (r.getString(0), r.getLong(2)))
    assert(got.toSeq == (1 to 100).map(i => (s"r$i", i.toLong)))
  }

  test("row numbers follow slice order on a multi-partition frame") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val rows = (1 to 30).map(i => Row(s"r$i"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("_c0", StringType))))
    assert(df.rdd.getNumPartitions == 3)
    val got = FileReader.withRowNumbers(df).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == (1 to 30).map(i => (s"r$i", i.toLong)))
  }

  test("row numbers follow file order on the distributed XLSX path") {
    val dir = Files.createTempDirectory("graft-rn-xlsx").toString
    val p = s"$dir/ptp.xlsx"
    graft.io.SyntheticXlsx.writeNcciPtp(p, nRows = 500)
    spark.conf.set("graft.xlsx.distributedThresholdBytes", "0")
    spark.conf.set("graft.xlsx.chunkBytes", "4096")
    try {
      val raw = FileReader.parseFile(spark, p)._1
      assert(raw.rdd.getNumPartitions > 1) // the ranged, distributed parse
      val got = FileReader.withRowNumbers(raw).collect()
      val expected = FileReader.readXlsxRows(p)
      assert(got.map(_.getLong(raw.columns.length)).toSeq ==
        (1 to expected.size).map(_.toLong))
      got.zip(expected).foreach { case (r, cells) =>
        assert(r.toSeq.take(cells.size) == cells)
      }
    } finally {
      spark.conf.unset("graft.xlsx.distributedThresholdBytes")
      spark.conf.unset("graft.xlsx.chunkBytes")
      FileReader.releaseScratch()
    }
  }

  test("xlsx bridge: shared strings, inline numbers, gap cells, bools") {
    val p = Files.createTempFile("graft-spec", ".xlsx")
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(p))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    put("xl/sharedStrings.xml",
      "<sst><si><t>H1</t></si><si><t>0042</t></si></sst>")
    put("xl/worksheets/sheet1.xml",
      """<worksheet><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1"><v>123</v></c></row>
        |<row r="2"><c r="A2" t="s"><v>1</v></c><c r="C2" t="b"><v>1</v></c></row>
        |</sheetData></worksheet>""".stripMargin)
    zos.close()
    val rows = FileReader.readXlsxRows(p.toString)
    assert(rows(0) == IndexedSeq("H1", "123"))
    assert(rows(1) == IndexedSeq("0042", "", "True"))
    // integral numbers render without trailing .0, like pandas dtype=str
    assert(FileReader.renderNumber("1.0") == "1")
    assert(FileReader.renderNumber("1.5") == "1.5")
    assert(FileReader.colIndex("AA7") == 26)
  }
}
