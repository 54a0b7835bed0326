package graft

import graft.io.{FileReader, SyntheticXls, SyntheticXlsx, XlsReader}

/** The envelope-ceiling generators round-trip through the production
  * readers at a reduced (seconds-scale) size: the multi-FAT CFB writer
  * must be readable by the general CFB reader, and the streamed XLSX
  * must parse cell-for-cell like the CSV it mirrors. The full-size runs
  * live in IngestScale (dev main); this pins the format plumbing. */
class SyntheticCeilingSpec extends SparkSpecBase {

  test("cfbLarge round-trips a stream needing multiple FAT sectors") {
    // ~200 KB stream -> ~400 sectors -> 4 FAT sectors (plain cfb's single
    // FAT sector caps at 64 KB and would corrupt this).
    val body = new java.io.ByteArrayOutputStream()
    body.write(SyntheticXls.bof(0x05))
    val strings = (0 until 3000).map(i => s"cell_$i")
    body.write(SyntheticXls.sst(strings))
    body.write(SyntheticXls.eof)
    body.write(SyntheticXls.bof(0x10))
    for (i <- 0 until 3000)
      body.write(SyntheticXls.labelSst(i, 0, i))
    body.write(SyntheticXls.eof)
    val p = java.nio.file.Files.createTempFile("graft-bigxls", ".xls")
    java.nio.file.Files.write(p, SyntheticXls.cfbLarge("Workbook", body.toByteArray))
    val rows = XlsReader.readRows(p.toString)
    assert(rows.length == 3000)
    assert(rows(0) == IndexedSeq("cell_0") && rows(2999) == IndexedSeq("cell_2999"))
  }

  test("ncciPtpCeiling XLS reads back with the CSV dirt profile") {
    val p = java.nio.file.Files.createTempFile("graft-ptpxls", ".xls")
    SyntheticXls.ncciPtpCeiling(p.toString, totalRows = 1000)
    val rows = XlsReader.readRows(p.toString)
    assert(rows.length == 1000)
    assert(rows(0).head == "National Correct Coding Initiative PTP Edits")
    assert(rows(1).take(3) == IndexedSeq("Column 1", "Column 2", "Modifier"))
    // data row 0 (sheet row 2): i=0 -> del=20250101 (0%7==0), prior="*"
    assert(rows(2) == IndexedSeq("10000", "20000", "0", "20240101",
      "20250101", "Misuse of column two with column one", "*"))
    // i=137 -> missing required comp2 lands as empty cell
    assert(rows(139)(1) == "")
    // i=99 duplicates i=98's key pair
    assert(rows(101).take(2) == rows(100).take(2))
  }

  test("streamed XLSX at reduced size parses like its CSV twin") {
    val dir = java.nio.file.Files.createTempDirectory("graft-xlsx").toString
    val p = s"$dir/small.xlsx"
    SyntheticXlsx.writeNcciPtp(p, nRows = 5000)
    val rows = FileReader.readXlsxRows(p)
    // 5000 data rows + title + header + empty row at i=9999? (none under
    // 10k) -> 5002 rows.
    assert(rows.length == 5002)
    assert(rows(1)(5) == "PTP Edit Rationale")
    val r0 = rows(2)
    assert(r0.take(5) == IndexedSeq("10000", "20000", "0", "20240101",
      "20250101"))
    assert(r0(5).startsWith("Misuse of column two with column one "))
    assert(r0(5).length == "Misuse of column two with column one ".length + 48)
    assert(r0(6) == "*")
    // i=137: comp2 empty; i=211: modifier empty
    assert(rows(139)(1) == "" && rows(213)(2) == "")
    // duplicate-key rows repeat the prior key pair
    assert(rows(101).take(2) == rows(100).take(2))
    // the DataFrame wrapper slices sanely and keeps row order
    val df = FileReader.parseFile(spark, p)._1
    assert(df.count() == 5002)
  }

  test("distributed XLSX path produces the exact driver-parsed grid, " +
      "in order, across many chunks") {
    val dir = java.nio.file.Files.createTempDirectory("graft-xlsxd").toString
    val p = s"$dir/dist.xlsx"
    SyntheticXlsx.writeNcciPtp(p, nRows = 5000)
    val expected = FileReader.readXlsxRows(p) // driver parse = ground truth
    spark.conf.set("graft.xlsx.distributedThresholdBytes", "0")
    spark.conf.set("graft.xlsx.chunkBytes", "65536") // force ~dozens of chunks
    try {
      val df = FileReader.parseFile(spark, p)._1
      val n = expected.map(_.length).max
      val got = df.collect().map(_.toSeq.map(_.toString))
      assert(got.length == expected.length)
      // cell-for-cell, order preserved (row numbering rides on this)
      expected.zip(got).zipWithIndex.foreach { case ((e, g), i) =>
        assert(g == e.padTo(n, ""), s"row $i differs")
      }
      // the .xls PK-magic fallthrough rides the same dispatch
      val px = s"$dir/renamed.xls"
      java.nio.file.Files.copy(java.nio.file.Paths.get(p),
        java.nio.file.Paths.get(px))
      assert(FileReader.parseFile(spark, px)._1.count() == expected.length)
    } finally {
      spark.conf.unset("graft.xlsx.distributedThresholdBytes")
      spark.conf.unset("graft.xlsx.chunkBytes")
    }
  }
}
