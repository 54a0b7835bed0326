package graft

import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.io.FileReader

/** Adversarial shapes for the distributed-XLSX byte scanner: the split is
  * sound only because literal `<` cannot occur unescaped in XML text, so
  * these fixtures plant escaped `&lt;row&gt;` / `&lt;/sheetData&gt;`
  * markup INSIDE cell text, self-closed `<row/>` elements, attributes on
  * `<row>` and `<sheetData>`, and CRLF whitespace — and require the
  * distributed parse to equal the driver parse cell-for-cell. */
class XlsxScanSpec extends SparkSpecBase {

  private def writeXlsx(sheetXml: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-xscan").toString
    val p = s"$dir/t.xlsx"
    val zo = new ZipOutputStream(new java.io.FileOutputStream(p))
    def entry(name: String, content: String): Unit = {
      zo.putNextEntry(new ZipEntry(name))
      zo.write(content.getBytes("UTF-8"))
      zo.closeEntry()
    }
    entry("[Content_Types].xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">
        |<Default Extension="xml" ContentType="application/xml"/>
        |</Types>""".stripMargin)
    entry("xl/sharedStrings.xml",
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
        |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="2" uniqueCount="2">
        |<si><t>&lt;row&gt; is markup-looking text</t></si>
        |<si><t>plain</t></si>
        |</sst>""".stripMargin)
    entry("xl/worksheets/sheet1.xml", sheetXml)
    zo.close()
    p
  }

  private def bothPaths(sheetXml: String, chunkBytes: String = "64")
      : (Seq[Seq[String]], Seq[Seq[String]]) = {
    val p = writeXlsx(sheetXml)
    val driver = FileReader.readXlsxRows(p).map(_.toSeq)
    spark.conf.set("graft.xlsx.distributedThresholdBytes", "0")
    spark.conf.set("graft.xlsx.chunkBytes", chunkBytes)
    try {
      val n = if (driver.isEmpty) 0 else driver.map(_.length).max
      val dist = FileReader.parseFile(spark, p)._1.collect()
        .map(_.toSeq.map(_.toString)).toSeq
      (driver.map(_.padTo(n, "")), dist)
    } finally {
      spark.conf.unset("graft.xlsx.distributedThresholdBytes")
      spark.conf.unset("graft.xlsx.chunkBytes")
    }
  }

  test("escaped <row>/<\\/sheetData> text inside cells cannot confuse " +
      "the boundary scan") {
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
      """<row><c t="inlineStr"><is><t>&lt;row&gt;&lt;/row&gt;</t></is></c></row>""" +
      """<row><c t="inlineStr"><is><t>&lt;/sheetData&gt;&lt;/worksheet&gt;</t></is></c><c><v>7</v></c></row>""" +
      """<row><c t="s"><v>0</v></c></row>""" +
      """</sheetData></worksheet>"""
    val (driver, dist) = bothPaths(sheet)
    assert(driver == Seq(
      Seq("<row></row>", ""),
      Seq("</sheetData></worksheet>", "7"),
      Seq("<row> is markup-looking text", "")))
    assert(dist == driver)
  }

  test("graft.xlsx.scratchDir: the distributed parse inflates into the " +
      "CONFIGURED dir (cluster contract: shared storage, not tmpdir), " +
      "and releaseScratch cleans it") {
    val alt = java.nio.file.Files.createTempDirectory("graft-alt-scratch")
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
      """<row><c t="inlineStr"><is><t>x</t></is></c><c><v>1</v></c></row>""" +
      """</sheetData></worksheet>"""
    val p = writeXlsx(sheet)
    spark.conf.set("graft.xlsx.distributedThresholdBytes", "0")
    spark.conf.set("graft.xlsx.scratchDir", alt.toString)
    try {
      val rows = FileReader.parseFile(spark, p)._1.collect()
        .map(_.toSeq.map(_.toString)).toSeq
      assert(rows == Seq(Seq("x", "1")))
      val scratchFiles = alt.toFile.listFiles()
        .filter(_.getName.startsWith("graft-xlsx-"))
      assert(scratchFiles.nonEmpty,
        "no scratch file landed under the configured dir")
      FileReader.releaseScratch()
      assert(alt.toFile.listFiles()
        .forall(!_.getName.startsWith("graft-xlsx-")))
    } finally {
      spark.conf.unset("graft.xlsx.distributedThresholdBytes")
      spark.conf.unset("graft.xlsx.scratchDir")
    }
  }

  test("non-ASCII attribute content in the <worksheet> open tag survives " +
      "the byte-level capture (single UTF-8 decode, no per-byte mojibake)") {
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" dataDescr="日本語-ü-héllo"><sheetData>""" +
      """<row><c t="inlineStr"><is><t>a</t></is></c><c><v>1</v></c></row>""" +
      """<row><c t="inlineStr"><is><t>b</t></is></c><c><v>2</v></c></row>""" +
      """</sheetData></worksheet>"""
    val (driver, dist) = bothPaths(sheet)
    assert(driver == Seq(Seq("a", "1"), Seq("b", "2")))
    assert(dist == driver)
  }

  test("self-closed rows, row/sheetData attributes, rowBreaks, and CRLF " +
      "survive the split identically") {
    val sheet =
      "<?xml version=\"1.0\" encoding=\"UTF-8\" standalone=\"yes\"?>\r\n" +
      "<worksheet xmlns=\"http://schemas.openxmlformats.org/spreadsheetml/2006/main\">\r\n" +
      "<dimension ref=\"A1:B4\"/>\r\n" +
      "<sheetData>\r\n" +
      "<row r=\"1\" spans=\"1:2\"><c r=\"A1\"><v>1</v></c><c r=\"B1\" t=\"s\"><v>1</v></c></row>\r\n" +
      "<row r=\"2\"/>\r\n" + // self-closed empty row
      "<row r=\"3\"><c r=\"B3\"><v>3.5</v></c></row>\r\n" +
      "<row r=\"4\"><c r=\"A4\" t=\"b\"><v>1</v></c></row>\r\n" +
      "</sheetData>\r\n" +
      "<rowBreaks count=\"1\" manualBreakCount=\"1\"><brk id=\"2\" max=\"16383\" man=\"1\"/></rowBreaks>\r\n" +
      "</worksheet>"
    val (driver, dist) = bothPaths(sheet)
    assert(driver == Seq(
      Seq("1", "plain"),
      Seq("", ""),          // self-closed row parses as an empty row
      Seq("", "3.5"),       // r="B3" places the cell at column 1
      Seq("True", "")))
    assert(dist == driver)
  }

  test("comments, CDATA, and processing instructions carrying raw <row " +
      "markup are skipped whole, not treated as boundaries") {
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
      """<!-- prolog comment with <sheetData> inside --><sheetData>""" +
      """<row><c t="inlineStr"><is><t><![CDATA[literal <row> & </sheetData> here]]></t></is></c></row>""" +
      """<!-- comment between rows: <row><c><v>99</v></c></row> -->""" +
      """<?pi with <row inside?>""" +
      """<row><c><v>42</v></c></row>""" +
      """</sheetData></worksheet>"""
    val (driver, dist) = bothPaths(sheet, "1") // cut at every candidate
    assert(driver == Seq(
      Seq("literal <row> & </sheetData> here"),
      Seq("42")))
    assert(dist == driver)
  }

  test("property: random grids with markup-looking cell text parse " +
      "identically on both paths at several chunk sizes") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    val cellGen: Gen[String] = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(12)),
      Gen.oneOf("", " ", "<row>", "</sheetData>", "a<b&c>d", "\"quoted\"",
        "r=\"A1\"", "<c t=\"s\">", "1.5", "-7", "tab\tchar"))
    def esc(s: String) =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    for (trial <- 0 until 4) {
      val nRows = 5 + trial * 7
      val rows = (0 until nRows).map { r =>
        (0 until 1 + (r + trial) % 4).map(c =>
          sample(cellGen, trial * 1000L + r * 10L + c))
      }
      val sheet =
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
          """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""" +
          rows.map(r => "<row>" + r.map(c =>
            s"""<c t="inlineStr"><is><t>${esc(c)}</t></is></c>""").mkString +
            "</row>").mkString +
          """</sheetData></worksheet>"""
      for (chunk <- Seq("1", "64", "100000")) {
        val (driver, dist) = bothPaths(sheet, chunk)
        assert(dist == driver,
          s"trial=$trial chunkBytes=$chunk: distributed != driver")
      }
    }
  }

  test("a sheet with zero rows yields the empty grid on both paths") {
    val sheet =
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData/></worksheet>"""
    val (driver, dist) = bothPaths(sheet)
    assert(driver.isEmpty && dist.isEmpty)
  }
}
