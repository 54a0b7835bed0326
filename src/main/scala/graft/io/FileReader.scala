package graft.io

import java.nio.charset.{Charset, CodingErrorAction, StandardCharsets}
import java.nio.file.{Files, Paths}
import java.util.zip.ZipFile

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Coalesce, Expression, GenericInternalRow, JoinedRow, Literal, UnsafeProjection}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.config.Catalog
import graft.header.HeaderDetector

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** All-string file readers (S1–S6).
  *
  * Contract (reference: app/services/file_parser.py:15-19): no header
  * assumption, every cell a string, empty cells stay "" (never null),
  * positional column names _c0.._cN.
  *
  * An ingest reads an upload through [[readUpload]], which returns rows
  * that are already numbered (`_row_number`, 1-based file order) together
  * with their count and their first [[HeadRows]] rows, so no job reads the
  * upload just to count it, number it or fetch its head:
  *
  *  - CSV/TXT: one driver-side streaming pass ([[DelimitedScan]]) checks
  *    UTF-8 validity, finds every record start under the parser's quote
  *    rules and counts the records, then cuts the file into about
  *    `defaultParallelism` record-aligned byte ranges of at least
  *    [[MinRangeBytes]]. Each task reads its range by path and parses it
  *    with Spark's own CSV tokenizer (`UnivocityParser.parseStream`, the
  *    same options `spark.read.csv` gets), so quoted newlines parse as in
  *    pandas and a 100 MB upload still parses on every core. An upload
  *    whose boundaries the scan cannot prove (a backslash, a bare `\r`, a
  *    blank line, an unterminated quote, …) is parsed by the same code as
  *    one range `[0, size)` in one task; its head comes from a driver-side
  *    parse of that range, and its count from a job on first use.
  *  - XLSX/XLS parsed on the driver: numbered there and parallelized into
  *    `defaultParallelism` slices.
  *  - Large XLSX: the sheet-layout scan counts the rows of each range.
  *
  * The sniffing steps (delimiter, column count) read a bounded head of the
  * file, mirroring the reference's own bounded probes.
  */
object FileReader {

  /** An upload as the ingest reads it: `rows` are the cells `_c0.._cN`
    * plus `_row_number` (1-based, file order), split into `partitions`
    * partitions; `head` its first [[HeadRows]] rows without the row
    * number, and `count` its row count. Both are computed at most once, on
    * first use. An upload read through a distributed-XLSX scratch file
    * owns it: `rows` reads it on every evaluation, and [[release]] deletes
    * it. */
  final class Upload(val rows: DataFrame, val partitions: Int, head0: => IndexedSeq[Row],
                     count0: => Long, scratch: Option[java.nio.file.Path] = None) {
    lazy val head: IndexedSeq[Row] = head0
    lazy val count: Long = count0

    /** False once its scratch file is gone ([[releaseScratch]] sweeps every
      * one): `rows` can no longer be evaluated. */
    def readable: Boolean = scratch.forall(Files.exists(_))

    /** Delete this upload's scratch file, if it has one. Call once nothing
      * evaluates `rows` again. */
    def release(): Unit = scratch.foreach { p => scratchRegistry.remove(p); deleteScratch(p) }
  }

  val RowNumber = "_row_number"

  /** Rows an [[Upload]] keeps on the driver: header detection's scan
    * window plus the type-validation sample after it. */
  val HeadRows: Int = HeaderDetector.MaxScanRows + Catalog.Limits.typeValidationSampleRows

  /** The smallest byte range a delimited upload is cut into, so a small
    * upload stays one task. */
  val MinRangeBytes: Long = 1L << 20

  /** S1 encoding cascade: utf-8 → latin-1 (reference tries cp1252 third, but
    * latin-1 decodes any byte sequence, so it is the effective terminal
    * fallback — reference: file_parser.py:79-101). Whole-file probe to match
    * pandas' whole-file decode semantics, streamed through a bounded buffer. */
  def detectEncoding(path: String): String =
    DelimitedScan(path, ',', parts = 1, Long.MaxValue, headRecords = 0).encoding

  /** S4 delimiter sniff on a 4096-char sample: pick max count among
    * tab/comma/pipe; ties prefer tab, then pipe (reference: file_parser.py:110-125).
    * Reads only the head of the file (the 100 MB ingestion exercise caught
    * the first cut re-reading the whole upload to sample 4 KB); lenient
    * decoding tolerates a multi-byte char truncated at the 64 KB cut. */
  def sniffDelimiter(path: String, encoding: String = "UTF-8"): String = {
    val in = new java.io.FileInputStream(path)
    val bytes = try in.readNBytes(65536) finally in.close()
    val dec = Charset.forName(encoding).newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    val text = dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
    val sample = text.substring(0, math.min(4096, text.length))
    val tab = sample.count(_ == '\t')
    val comma = sample.count(_ == ',')
    val pipe = sample.count(_ == '|')
    if (tab >= comma && tab >= pipe) "\t"
    else if (pipe >= comma) "|"
    else ","
  }

  /** Column count from the first non-empty line, honoring quoted fields —
    * pandas sizes the frame from its first row the same way. */
  def sniffColumnCount(path: String, encoding: String, delimiter: String): Int = {
    val src = scala.io.Source.fromFile(path, encoding)
    try {
      val first = src.getLines().find(_.nonEmpty).getOrElse("")
      splitCsvLine(first, delimiter.charAt(0)).length
    } finally src.close()
  }

  /** Minimal RFC-4180 field split for sniffing (quotes + embedded delimiters). */
  private[io] def splitCsvLine(line: String, sep: Char): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQuotes = false
    var i = 0
    while (i < line.length) {
      val ch = line.charAt(i)
      if (inQuotes) {
        if (ch == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
          else inQuotes = false
        } else cur += ch
      } else if (ch == '"') inQuotes = true
      else if (ch == sep) { out += cur.toString(); cur.clear() }
      else cur += ch
      i += 1
    }
    out += cur.toString()
    out.toSeq
  }

  private def allStringSchema(n: Int): StructType =
    StructType((0 until n).map(i => StructField(s"_c$i", StringType, nullable = true)))

  private def numberedSchema(n: Int): StructType =
    StructType(allStringSchema(n).fields :+ StructField(RowNumber, LongType, nullable = false))

  /** The options every CSV/TXT parse runs with, ranged or whole-file. The
    * nullValue sentinel is a string that cannot occur in data, so empty
    * fields surface as "" (univocity's emptyValue) instead of null.
    * multiLine: the reference parses with pandas, which honors newlines
    * embedded in quoted fields; Spark's line-split mode would shear such
    * records. */
  private def csvOptions(encoding: String, delimiter: String): Map[String, String] = Map(
    "header" -> "false",
    "sep" -> delimiter,
    "encoding" -> encoding,
    "mode" -> "PERMISSIVE",
    "nullValue" -> "\u0000\u0000graft-null-sentinel",
    "emptyValue" -> "",
    "multiLine" -> "true")

  /** Shared CSV/TXT read: `sep` is the delimiter, or None to sniff it. The
    * scan decides the encoding, and the TXT delimiter sniff decodes with
    * it, so a latin-1 file whose sniff changes under latin-1 is scanned a
    * second time for its own delimiter. `minRangeBytes` is
    * [[MinRangeBytes]] outside tests. */
  private[io] def readDelimited(spark: SparkSession, path: String, sep: Option[String],
                                minRangeBytes: Long = MinRangeBytes): Upload = {
    def scan(d: String) = DelimitedScan(path, d.charAt(0).toByte,
      spark.sparkContext.defaultParallelism, minRangeBytes, HeadRows)
    val guess = sep.getOrElse(sniffDelimiter(path))
    val first = scan(guess)
    val delimiter = sep.getOrElse(sniffDelimiter(path, first.encoding))
    val result = if (delimiter == guess) first else scan(delimiter)
    val opts = csvOptions(result.encoding, delimiter)
    val tz = spark.conf.get("spark.sql.session.timeZone")
    val n = sniffColumnCount(path, result.encoding, delimiter)
    // Without a layout the whole file is one range whose records nobody
    // counted, and its head is parsed until HeadRows records.
    val (ranges, head) = result.layout match {
      case Some(l) => (l.ranges, DelimitedScan.ByteRange(0, l.headEnd, 1, math.min(l.records, HeadRows)))
      case None =>
        val whole = DelimitedScan.ByteRange(0, Files.size(Paths.get(path)), 1, Uncounted)
        (Seq(whole), whole)
    }
    val rdd = spark.sparkContext.parallelize(ranges, ranges.size)
      .mapPartitions(_.flatMap { r =>
        val in = RangeStream(path, r)
        TaskContext.get().addTaskCompletionListener[Unit](_ => in.close())
        parseRange(in, path, r, n, opts, tz)
      })
    new Upload(Bridge.internalCreateDataFrame(spark, rdd, rangedSchema(n)), ranges.size, {
      val in = RangeStream(path, head)
      try parseRange(in, path, head, n, opts, tz).take(HeadRows).map { r =>
        Row.fromSeq((0 until n).map(c => r.getUTF8String(c).toString))
      }.toIndexedSeq
      finally in.close()
    }, result.layout.fold(rdd.count())(_.records))
  }

  /** The record count of a range the scan could not count. */
  private val Uncounted = -1L

  /** The delimited read's rows: cells never null, then the row number. */
  private def rangedSchema(n: Int): StructType =
    StructType(allStringSchema(n).fields.map(_.copy(nullable = false)) :+
      StructField(RowNumber, LongType, nullable = false))

  /** Parse the records of one byte range with Spark's CSV tokenizer and
    * number them from `r.first`; a ragged row's missing tail cells become
    * "" in the same projection, so no plan above the read repeats that
    * per use. Throws when the range holds a different number of records
    * than the scan counted (unless [[Uncounted]]), so a row is never
    * silently renumbered. */
  private def parseRange(in: java.io.InputStream, path: String, r: DelimitedScan.ByteRange,
                         n: Int, opts: Map[String, String], tz: String): Iterator[InternalRow] = {
    val rows = Bridge.parseCsvStream(in, allStringSchema(n), new CSVOptions(opts, false, tz),
      path, r.start == 0)
    val append = UnsafeProjection.create((0 until n).map(c =>
      Coalesce(Seq(BoundReference(c, StringType, nullable = true), Literal(""))): Expression) :+
      BoundReference(n, LongType, nullable = false))
    val index = new GenericInternalRow(1)
    val joined = new JoinedRow
    var i = 0L
    new Iterator[InternalRow] {
      def hasNext: Boolean = rows.hasNext || {
        if (r.records != Uncounted && i != r.records) throw new IllegalStateException(
          s"$path bytes [${r.start}, ${r.end}) hold $i records; the scan counted ${r.records}")
        false
      }
      def next(): InternalRow = {
        index.setLong(0, r.first + i)
        i += 1
        append(joined(rows.next(), index))
      }
    }
  }

  private object RangeStream {
    /** Buffered: the tokenizer's BOM check reads its input a byte at a time. */
    def apply(path: String, r: DelimitedScan.ByteRange): java.io.InputStream =
      new java.io.BufferedInputStream(new RangeStream(path, r.start, r.end), 1 << 16)
  }

  /** The bytes [start, end) of a file, read through one random-access handle. */
  private final class RangeStream(path: String, start: Long, end: Long) extends java.io.InputStream {
    private val file = new java.io.RandomAccessFile(path, "r")
    file.seek(start)
    private var left = end - start
    def read(): Int =
      if (left <= 0) -1 else { val b = file.read(); if (b >= 0) left -= 1; b }
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (left <= 0) -1 else {
        val k = file.read(b, off, math.min(len.toLong, left).toInt)
        if (k > 0) left -= k
        k
      }
    override def close(): Unit = file.close()
  }

  /** Driver-parsed row grid → numbered upload, parallelized into
    * `defaultParallelism` slices (parallelize keeps element order). */
  private def gridUpload(spark: SparkSession,
                         rows: IndexedSeq[IndexedSeq[String]]): Upload = {
    val n = if (rows.isEmpty) 0 else rows.map(_.length).max
    val numbered = rows.iterator.zipWithIndex
      .map { case (r, i) => Row.fromSeq(r.padTo(n, "") :+ (i + 1L)) }.toVector
    val sc = spark.sparkContext
    val slices = math.max(1, math.min(sc.defaultParallelism, rows.size))
    new Upload(spark.createDataFrame(sc.parallelize(numbered, slices), numberedSchema(n)), slices,
      rows.take(HeadRows).map(r => Row.fromSeq(r.padTo(n, ""))), rows.size.toLong)
  }

  /** S2 XLSX scan — hand-rolled zip+XML bridge (no POI in this image).
    * XLSX is a zip holding sharedStrings.xml + worksheets/sheet1.xml,
    * both parsed with the JDK StAX parser. Two physical paths:
    *
    *  - SMALL sheets (decompressed size under
    *    `graft.xlsx.distributedThresholdBytes`, default 8 MB): parsed
    *    driver-side streaming off the inflater, then parallelized —
    *    cheapest for the common upload and for header detection.
    *  - LARGE sheets: the DISTRIBUTED path. DEFLATE is not seekable, so
    *    the driver inflates the sheet ONCE to a scratch file (O(buffer)
    *    heap), byte-scans it for `<row` boundaries (sound because `<` is
    *    escaped in XML text/attributes and the scan skips the three
    *    constructs that may carry it raw — comments, CDATA, processing
    *    instructions), and hands byte RANGES to executors; each task re-wraps
    *    its range in the captured `<worksheet …>` open tag (preserving
    *    xmlns bindings) and runs the SAME StAX row parser against the
    *    broadcast sharedStrings table. Driver heap at the 100 MB envelope
    *    ceiling drops from the full 2.6M-row grid (~10 GB of String
    *    objects) to the sharedStrings table + an inflate buffer. The
    *    sharedStrings table itself stays driver-resident (+1 broadcast
    *    copy) — the remaining bound, and a bounded one: the ingest
    *    contract caps uploads at 100 MB, so even a pathological
    *    all-shared-strings sheet inflates to ~1 GB of sst, well inside
    *    the default 8 GB heap.
    *    `graft.xlsx.scratchDir` must point at storage every executor can
    *    read on a multi-node cluster (defaults to java.io.tmpdir, correct
    *    for local mode).
    *
    * The path is picked on the worksheet's decompressed size (compressed×8
    * when the central directory omits it). Numbers render like pandas
    * dtype=str: integral floats lose the trailing ".0". */
  private def xlsxUpload(spark: SparkSession, path: String): Upload = {
    val threshold = spark.conf.getOption("graft.xlsx.distributedThresholdBytes")
      .map(_.toLong).getOrElse(8L << 20)
    val zip = new ZipFile(path)
    val sheetSize = try {
      val name = firstSheetName(zip, path)
      val e = zip.getEntry(name)
      if (e.getSize >= 0) e.getSize else e.getCompressedSize * 8
    } finally zip.close()
    if (sheetSize < threshold) gridUpload(spark, readXlsxRows(path))
    else readXlsxDistributed(spark, path)
  }

  private def firstSheetName(zip: ZipFile, path: String): String =
    zip.entries().asScala.map(_.getName)
      .filter(n => n.startsWith("xl/worksheets/sheet") && n.endsWith(".xml"))
      .toSeq.sorted.headOption
      .getOrElse(throw new IllegalArgumentException(s"No worksheet in $path"))

  /** Distributed XLSX grid: inflate-once to scratch, byte-scan row
    * boundaries (counting the rows of each range), parse ranges on
    * executors. Falls back to the driver parse when the scan cannot find
    * the expected worksheet structure (prefixed elements, exotic
    * producers). */
  private def readXlsxDistributed(spark: SparkSession, path: String): Upload = {
    val chunkBytes = spark.conf.getOption("graft.xlsx.chunkBytes")
      .map(_.toLong).getOrElse(32L << 20)
    val scratchDir = spark.conf.getOption("graft.xlsx.scratchDir")
      .getOrElse(System.getProperty("java.io.tmpdir"))
    val zip = new ZipFile(path)
    val (shared, scratch) = try {
      val sh: IndexedSeq[String] =
        Option(zip.getEntry("xl/sharedStrings.xml")).map { e =>
          val is = zip.getInputStream(e)
          try parseSharedStrings(is) finally is.close()
        }.getOrElse(IndexedSeq.empty)
      val sheet = zip.getEntry(firstSheetName(zip, path))
      val sc = java.nio.file.Files.createTempFile(
        Paths.get(scratchDir), "graft-xlsx-", ".xml")
      sc.toFile.deleteOnExit()
      scratchRegistry.add(sc)
      val out = new java.io.BufferedOutputStream(
        Files.newOutputStream(sc), 1 << 20)
      val in = zip.getInputStream(sheet)
      try in.transferTo(out) finally { in.close(); out.close() }
      (sh, sc)
    } finally zip.close()
    // Until the upload that owns it is built, a throw drops the scratch.
    def dropScratch(): Unit = { scratchRegistry.remove(scratch); deleteScratch(scratch) }
    try scanSheetLayout(scratch, chunkBytes) match {
      case None =>
        dropScratch()
        gridUpload(spark, readXlsxRows(path)) // structure not recognized
      case Some(SheetLayout(_, ranges)) if ranges.isEmpty =>
        dropScratch()
        gridUpload(spark, IndexedSeq.empty)
      case Some(SheetLayout(openTag, ranges)) =>
        val sc = spark.sparkContext
        val sharedB = sc.broadcast(shared)
        val scratchPath = scratch.toString
        val head = (openTag + "<sheetData>").getBytes("UTF-8")
        val tail = "</sheetData></worksheet>".getBytes("UTF-8")
        def parsed = sc.parallelize(ranges, ranges.size).map { r =>
          // A range is chunkBytes plus at most one row; a single row
          // larger than 2 GB cannot be buffered — fail with the cause
          // rather than a NegativeArraySizeException.
          require(r.end - r.start < Int.MaxValue,
            s"worksheet row run of ${r.end - r.start} bytes exceeds the " +
              "2 GB task buffer — one row is larger than chunkBytes " +
              "allows; this sheet cannot be range-parsed")
          val bytes = new Array[Byte]((r.end - r.start).toInt)
          val raf = new java.io.RandomAccessFile(scratchPath, "r")
          try { raf.seek(r.start); raf.readFully(bytes) } finally raf.close()
          val in = new java.io.SequenceInputStream(
            java.util.Collections.enumeration(java.util.List.of[java.io.InputStream](
              new java.io.ByteArrayInputStream(head),
              new java.io.ByteArrayInputStream(bytes),
              new java.io.ByteArrayInputStream(tail))))
          val rows = try parseSheet(in, sharedB.value) finally in.close()
          if (rows.size != r.records) throw new IllegalStateException(
            s"worksheet bytes [${r.start}, ${r.end}) hold ${rows.size} rows; " +
              s"the scan counted ${r.records}")
          (r.first, rows)
        }
        // Two jobs, two parses: the global column count must be known
        // before rows can be padded into a fixed schema, and caching the
        // parsed grid between jobs would reintroduce (in executor memory)
        // exactly the footprint this path removes. StAX over 32 MB chunks
        // is CPU-cheap relative to the inflate. The first job also brings
        // back each range's first rows, which make the head.
        val widths = parsed.map { case (_, rows) =>
          (rows.foldLeft(0)((m, r) => m max r.length), rows.take(HeadRows))
        }.collect()
        val n = widths.map(_._1).max
        val rdd = parsed.flatMap { case (first, rows) =>
          rows.iterator.zipWithIndex.map { case (r, i) => Row.fromSeq(r.padTo(n, "") :+ (first + i)) }
        }
        new Upload(spark.createDataFrame(rdd, numberedSchema(n)), ranges.size,
          widths.iterator.flatMap(_._2).take(HeadRows).map(r => Row.fromSeq(r.padTo(n, ""))).toIndexedSeq,
          ranges.map(_.records).sum, Some(scratch))
    } catch { case e: Throwable => dropScratch(); throw e }
  }

  /** Scratch files created by the distributed XLSX path and not yet
    * deleted. A scratch file must outlive every evaluation of the
    * DataFrame built over it, so deletion is the owner's lifecycle
    * decision: the [[Upload]] that reads it deletes it on
    * [[Upload.release]] — the ingest pipeline releases an upload once its
    * data write (the one job that reads the rows) is done, or when a newer
    * validate pushes it out of the pipeline's upload cache. The registry
    * is the sweep for readers that never see their [[Upload]]
    * ([[parseFile]]); deleteOnExit remains the last backstop. */
  private val scratchRegistry =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  private def deleteScratch(p: java.nio.file.Path): Unit =
    try Files.deleteIfExists(p): Unit
    catch { case _: java.io.IOException => } // backstop: deleteOnExit

  /** Delete every tracked XLSX scratch file — call only once no DataFrame
    * returned by [[readUpload]]/[[parseFile]] will be evaluated again (an
    * [[Upload]] whose file is swept is no longer [[Upload.readable]]).
    * Without this, each 100 MB ceiling read parks ~1 GB of decompressed
    * XML on disk until JVM exit. */
  def releaseScratch(): Unit = {
    var p = scratchRegistry.poll()
    while (p != null) {
      deleteScratch(p)
      p = scratchRegistry.poll()
    }
  }

  /** Worksheet scratch-file layout: the `<worksheet …>` open tag (xmlns
    * bindings live there) and the chunked byte ranges of whole-`<row>`
    * runs inside sheetData, each with its row count and first row number. */
  private[io] final case class SheetLayout(openTag: String,
                                           ranges: Seq[DelimitedScan.ByteRange])

  /** One streaming byte scan of the decompressed sheet XML. Only `<`
    * triggers lookahead: every literal `<` in XML TEXT or ATTRIBUTES is
    * escaped, and the three constructs that may carry a raw `<` —
    * comments, CDATA sections, and processing instructions — are
    * recognized and skipped whole, so a `<row` seen by the scan is
    * guaranteed element markup. The scan recognizes `<worksheet …>`,
    * `<sheetData>`, `<row`-followed-by-delimiter starts, and
    * `</sheetData`, counts the row starts, and cuts a new range at the
    * first row start after every `chunkBytes` of sheet data. None when the expected structure
    * is absent or a special construct is unterminated (caller falls
    * back to the driver parse). */
  private[io] def scanSheetLayout(file: java.nio.file.Path,
                                  chunkBytes: Long): Option[SheetLayout] = {
    val in = new java.io.BufferedInputStream(Files.newInputStream(file), 1 << 20)
    try {
      val buf = new Array[Byte](1 << 20)
      var len = 0
      var base = 0L   // file offset of buf(0)
      var i = 0       // cursor within buf
      def refill(): Boolean = {
        // keep a 16-byte lookahead window across block boundaries
        val keep = len - i
        System.arraycopy(buf, i, buf, 0, keep)
        base += i; i = 0; len = keep
        var n = in.read(buf, len, buf.length - len)
        while (n > 0) {
          len += n
          if (len >= buf.length) return true
          n = in.read(buf, len, buf.length - len)
        }
        n >= 0 || keep > 0
      }
      def ensure(k: Int): Boolean = (len - i >= k) || { refill(); len - i >= k }
      def matches(s: String): Boolean = {
        if (!ensure(s.length)) return false
        var j = 0
        while (j < s.length) {
          if (buf(i + j) != s.charAt(j)) return false
          j += 1
        }
        true
      }
      def isDelim(b: Byte): Boolean =
        b == ' ' || b == '>' || b == '/' || b == '\t' || b == '\n' || b == '\r'
      // Advance past `term` (first occurrence at or after the cursor);
      // false only at EOF — the construct was unterminated.
      def skipPast(term: String): Boolean = {
        while (ensure(term.length)) {
          if (matches(term)) { i += term.length; return true }
          i += 1
        }
        false
      }
      // At a '<': 0 = ordinary markup, 1 = skipped a comment / CDATA /
      // processing instruction (all may carry a raw '<' legally),
      // -1 = such a construct never terminated (malformed file).
      def skipSpecial(): Int =
        if (matches("<!--")) { i += 4; if (skipPast("-->")) 1 else -1 }
        else if (matches("<![CDATA[")) { i += 9; if (skipPast("]]>")) 1 else -1 }
        else if (matches("<?")) { i += 2; if (skipPast("?>")) 1 else -1 }
        else 0

      // Phase 1: find <worksheet …> and capture the open tag verbatim.
      // Bytes, not chars: the tag may carry multi-byte UTF-8 attribute
      // content; decode ONCE at the end (a per-byte toChar would mojibake
      // the executor-side re-wrapped XML head).
      val tagBytes = new java.io.ByteArrayOutputStream(256)
      def tagStr: String = new String(tagBytes.toByteArray, StandardCharsets.UTF_8)
      var foundWs = false
      while (!foundWs && ensure(1)) {
        if (buf(i) == '<') skipSpecial() match {
          case 1 => ()
          case -1 => return None
          case _ =>
            if (matches("<worksheet") && ensure(11) && isDelim(buf(i + 10))) {
              foundWs = true
              var closed = false
              while (!closed && ensure(1)) {
                val b = buf(i); tagBytes.write(b.toInt); i += 1
                if (b == '>') closed = true
              }
              if (!closed) return None
            } else i += 1
        } else i += 1
      }
      if (!foundWs) return None
      if (tagStr.endsWith("/>"))
        return Some(SheetLayout(tagStr, Nil))

      // Phase 2: find <sheetData> (or <sheetData/> = empty sheet).
      var inData = false
      while (!inData && ensure(1)) {
        if (buf(i) == '<') skipSpecial() match {
          case 1 => ()
          case -1 => return None
          case _ =>
            if (matches("<sheetData") && ensure(11) && isDelim(buf(i + 10))) {
              if (buf(i + 10) == '/')
                return Some(SheetLayout(tagStr, Nil))
              i += 11 // past "<sheetData>"
              inData = true
            } else i += 1
        } else i += 1
      }
      if (!inData) return None

      // Phase 3: row starts + </sheetData.
      val ranges = ArrayBuffer.empty[DelimitedScan.ByteRange]
      var rangeStart = -1L
      var rows = 0L       // row starts seen so far
      var rangeFirst = 1L // row number of the open range's first row
      def close(end: Long): Unit =
        ranges += DelimitedScan.ByteRange(rangeStart, end, rangeFirst, rows + 1 - rangeFirst)
      var done = false
      while (!done && ensure(1)) {
        if (buf(i) == '<') {
          val off = base + i
          skipSpecial() match {
            case 1 => ()
            case -1 => return None
            case _ =>
              if (matches("<row") && ensure(5) && isDelim(buf(i + 4))) {
                if (rangeStart < 0) rangeStart = off
                else if (off - rangeStart >= chunkBytes) {
                  close(off); rangeStart = off; rangeFirst = rows + 1
                }
                rows += 1
                i += 4
              } else if (matches("</sheetData")) {
                if (rangeStart >= 0) close(off)
                done = true
              } else i += 1
          }
        } else i += 1
      }
      if (!done) return None // truncated: no </sheetData>
      Some(SheetLayout(tagStr, ranges.toSeq))
    } finally in.close()
  }

  /** Raw XLSX cell grid as strings (first worksheet). */
  def readXlsxRows(path: String): IndexedSeq[IndexedSeq[String]] = {
    val zip = new ZipFile(path)
    try {
      val shared: IndexedSeq[String] =
        Option(zip.getEntry("xl/sharedStrings.xml")).map { e =>
          val is = zip.getInputStream(e)
          try parseSharedStrings(is) finally is.close()
        }.getOrElse(IndexedSeq.empty)
      val is = zip.getInputStream(zip.getEntry(firstSheetName(zip, path)))
      try parseSheet(is, shared) finally is.close()
    } finally zip.close()
  }

  private def parseSharedStrings(in: java.io.InputStream): IndexedSeq[String] = {
    val f = javax.xml.stream.XMLInputFactory.newInstance()
    f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
    val r = f.createXMLStreamReader(in)
    val out = ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inSi = false
    var inT = false
    while (r.hasNext) {
      r.next() match {
        case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "si" => inSi = true; cur.clear()
            case "t" if inSi => inT = true
            case _ =>
          }
        case javax.xml.stream.XMLStreamConstants.CHARACTERS
           | javax.xml.stream.XMLStreamConstants.CDATA if inT =>
          cur.appendAll(r.getTextCharacters, r.getTextStart, r.getTextLength)
        case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "t" => inT = false
            case "si" => inSi = false; out += cur.toString()
            case _ =>
          }
        case _ =>
      }
    }
    out.toIndexedSeq
  }

  /** Excel column letter(s) -> 0-based index ("A"->0, "AA"->26). */
  def colIndex(ref: String): Int = {
    val letters = ref.takeWhile(_.isLetter)
    letters.foldLeft(0)((acc, ch) => acc * 26 + (ch - 'A' + 1)) - 1
  }

  /** Render a numeric cell the way pandas dtype=str does: ints stay ints. */
  def renderNumber(v: String): String = {
    try {
      val d = v.toDouble
      if (d.isWhole && math.abs(d) < 1e15 && !v.toLowerCase.contains("e"))
        d.toLong.toString
      else v
    } catch { case _: NumberFormatException => v }
  }

  private def parseSheet(in: java.io.InputStream, shared: IndexedSeq[String]): IndexedSeq[IndexedSeq[String]] = {
    val f = javax.xml.stream.XMLInputFactory.newInstance()
    f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
    val r = f.createXMLStreamReader(in)
    val rows = ArrayBuffer.empty[IndexedSeq[String]]
    var row: ArrayBuffer[String] = null
    var cellType = ""
    var cellCol = -1
    var inV = false
    var inIs = false
    val text = new StringBuilder
    while (r.hasNext) {
      r.next() match {
        case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "row" => row = ArrayBuffer.empty[String]
            case "c" =>
              cellType = Option(r.getAttributeValue(null, "t")).getOrElse("n")
              cellCol = Option(r.getAttributeValue(null, "r")).map(colIndex)
                .getOrElse(if (row == null) 0 else row.length)
            case "v" => inV = true; text.clear()
            case "is" => inIs = true
            case "t" if inIs => inV = true; text.clear()
            case _ =>
          }
        // CDATA arrives as its own event type (the JDK parser does not
        // coalesce by default); a producer may legally wrap cell text in
        // it, so both branches feed the same buffer.
        case javax.xml.stream.XMLStreamConstants.CHARACTERS
           | javax.xml.stream.XMLStreamConstants.CDATA if inV =>
          text.appendAll(r.getTextCharacters, r.getTextStart, r.getTextLength)
        case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "v" | "t" if inV =>
              inV = false
              if (row != null) {
                while (row.length < cellCol) row += ""
                val raw = text.toString()
                val value = cellType match {
                  case "s" => shared.lift(raw.trim.toInt).getOrElse("")
                  case "b" => if (raw.trim == "1") "True" else "False"
                  case "n" => renderNumber(raw)
                  case _ => raw
                }
                if (row.length == cellCol) row += value else row(cellCol) = value
              }
            case "is" => inIs = false
            case "row" => rows += row.toIndexedSeq; row = null
            case _ =>
          }
        case _ =>
      }
    }
    rows.toIndexedSeq
  }

  /** S3 legacy XLS scan via the BIFF8 subset reader; files that are really
    * zip containers (xlsx renamed .xls) fall through to the XLSX bridge. */
  private def xlsUpload(spark: SparkSession, path: String): Upload = {
    val head = Files.newInputStream(Paths.get(path))
    val magic = try { val b = new Array[Byte](4); head.read(b); b } finally head.close()
    if (magic.take(2).sameElements(Array[Byte]('P', 'K'))) xlsxUpload(spark, path)
    else gridUpload(spark, XlsReader.readRows(path))
  }

  /** The supported upload formats, by extension, each with its reader. */
  private val readers: Map[String, (SparkSession, String) => Upload] = Map(
    ".csv" -> ((s, p) => readDelimited(s, p, Some(","))),
    ".xlsx" -> ((s, p) => xlsxUpload(s, p)),
    ".xls" -> ((s, p) => xlsUpload(s, p)),
    ".txt" -> ((s, p) => readDelimited(s, p, None)))

  /** Whether [[readUpload]] reads files with extension `ext`. */
  def isSupported(ext: String): Boolean = readers.contains(ext)

  /** S5 dispatch by extension; same error contract as the reference
    * (file_parser.py:32-70). The upload comes back numbered, counted and
    * with its head (see [[Upload]]). */
  def readUpload(spark: SparkSession, path: String): Upload = {
    if (!Files.exists(Paths.get(path)))
      throw new java.io.FileNotFoundException(s"File not found: $path")
    val ext = extension(path)
    val read = readers.getOrElse(ext,
      throw new IllegalArgumentException(s"Unsupported file type: $ext"))
    read(spark, path)
  }

  /** The lower-cased extension of `path`, dot included. */
  def extension(path: String): String =
    path.substring(path.lastIndexOf('.') max 0).toLowerCase

  /** [[readUpload]]'s cells without the row number, and the extension. */
  def parseFile(spark: SparkSession, path: String): (DataFrame, String) =
    (readUpload(spark, path).rows.drop(RowNumber), extension(path))

  /** S6 row-as-strings accessor: bounded driver-side fetch used by header
    * detection (reference: file_parser.py:138-152). */
  def firstRows(df: DataFrame, n: Int): IndexedSeq[Seq[String]] =
    cellStrings(df.limit(n).collect().toIndexedSeq)

  /** Collected rows as trimmed cell strings, null cells as "". */
  private[graft] def cellStrings(rows: IndexedSeq[Row]): IndexedSeq[Seq[String]] =
    rows.map(_.toSeq.map(v => Option(v).map(_.toString.trim).getOrElse("")))

  /** P1/P4 stable 1-based row numbers in file order via zipWithIndex, for
    * frames no reader numbered (uploads come numbered from [[readUpload]]) —
    * deterministic across partitions because partition order follows file
    * offset order. Works on Catalyst's internal rows: the index is appended
    * by an UnsafeProjection over (row, index), so no row is converted to an
    * external `Row` and back. */
  def withRowNumbers(df: DataFrame, colName: String = RowNumber): DataFrame = {
    val schema = StructType(df.schema.fields :+ StructField(colName, LongType, nullable = false))
    val rdd = df.queryExecution.toRdd.zipWithIndex().mapPartitions { it =>
      val append = UnsafeProjection.create(schema)
      val index = new GenericInternalRow(1)
      val joined = new JoinedRow
      it.map { case (row, idx) =>
        index.setLong(0, idx + 1L)
        append(joined(row, index)): InternalRow
      }
    }
    Bridge.internalCreateDataFrame(df.sparkSession, rdd, schema)
  }
}
