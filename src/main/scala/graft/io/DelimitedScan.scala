package graft.io

import java.nio.{ByteBuffer, CharBuffer}
import java.nio.charset.{CodingErrorAction, StandardCharsets}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

/** One streaming pass over a delimited upload with a bounded buffer. It
  * decides the encoding (strict UTF-8, else latin-1) and, when it can
  * prove where every record starts, counts the records and cuts the file
  * into record-aligned byte ranges for the tasks to parse.
  *
  * Record boundaries are tracked with the quote state of Spark's CSV
  * tokenizer under the options [[FileReader]] reads with (quote `"`,
  * escape `\`, multiLine, line separator detected from the first line
  * end). A quote opens a field only as its first byte and must be followed
  * by the delimiter or a line end when it closes; a line end outside
  * quotes ends a record. The scan gives up on the ranges (the caller falls
  * back to one whole-file parse, counted by a job) at anything it cannot
  * prove is a boundary under those rules:
  *  - a backslash (the tokenizer's default escape) or a NUL byte (its
  *    default comment marker);
  *  - a `\r` not followed by `\n`, or `\r\n` and bare `\n` in one file (the
  *    tokenizer keeps one line separator per stream, so a range whose first
  *    line end differs from the file's would split records differently);
  *  - a blank or whitespace-only line (the tokenizer skips empty lines);
  *  - a quote inside an unquoted field, any byte but the delimiter or a
  *    line end after a closing quote (that includes `""`), or an
  *    unterminated quote. */
private[io] object DelimitedScan {

  /** The bytes [start, end) of the upload one task parses: `records`
    * records, the first of them record number `first` (1-based). */
  final case class ByteRange(start: Long, end: Long, first: Long, records: Long)

  /** Every record boundary proven: the record count, the offset where the
    * first `headRecords` records end, and the ranges. */
  final case class Layout(records: Long, headEnd: Long, ranges: Seq[ByteRange])

  final case class Result(encoding: String, layout: Option[Layout])

  /** Bytes read per step; the scan holds one buffer of them. */
  val BufferBytes: Int = 1 << 20

  /** Scan `path` for delimiter byte `sep`, aiming at `parts` ranges of at
    * least `minRangeBytes` each. */
  def apply(path: String, sep: Byte, parts: Int, minRangeBytes: Long,
            headRecords: Int): Result = {
    val size = Files.size(Paths.get(path))
    val nRanges = math.max(1L, math.min(parts.toLong, size / math.max(1L, minRangeBytes))).toInt
    val targets = Array.tabulate(nRanges - 1)(k => (k + 1) * size / nRanges)
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    // The bytes of a UTF-8 sequence cut by the buffer end are carried into
    // the next read; the decoder leaves them unconsumed.
    val bytes = ByteBuffer.allocate(BufferBytes + 8)
    val chars = CharBuffer.allocate(BufferBytes + 8)
    var utf8 = true

    var ok = true
    var inQuotes = false
    var closed = false     // the byte before closed a quoted field
    var fieldStart = true
    var blank = true       // the record so far holds only spaces and tabs
    var cr = false         // the byte before was '\r'
    var crlf = false
    var bareLf = false
    var records = 0L
    var recordStart = 0L
    var headEnd = -1L
    var t = 0
    val cuts = ArrayBuffer.empty[(Long, Long)] // (offset, first record there)

    val in = Files.newInputStream(Paths.get(path))
    try {
      var base = 0L // file offset of the next byte read
      var n = in.read(bytes.array, bytes.position(), BufferBytes)
      while (n >= 0 && (ok || utf8)) {
        val arr = bytes.array
        val from = bytes.position()
        var i = from
        val until = from + n
        while (ok && i < until) {
          val b = arr(i)
          if (cr && b != '\n') ok = false
          else if (b == '\n') {
            if (cr) crlf = true else bareLf = true
            cr = false
            if (!inQuotes) {
              if (blank) ok = false
              val next = base + (i - from) + 1
              records += 1
              recordStart = next
              fieldStart = true; blank = true; closed = false
              if (records == headRecords) headEnd = next
              if (t < targets.length && targets(t) <= next) {
                if (next < size) cuts += ((next, records + 1))
                while (t < targets.length && targets(t) <= next) t += 1
              }
            }
          } else if (b == '\r') cr = true
          else if (b == '\\' || b == 0) ok = false
          else if (inQuotes) {
            if (b == '"') { inQuotes = false; closed = true }
          } else if (b == sep) {
            fieldStart = true; closed = false
            if (b != '\t') blank = false
          } else if (closed) ok = false
          else if (b == '"') {
            if (fieldStart) { inQuotes = true; fieldStart = false; blank = false }
            else ok = false
          } else {
            fieldStart = false
            if (b != ' ' && b != '\t') blank = false
          }
          i += 1
        }
        base += n
        bytes.position(until).flip()
        if (utf8) {
          chars.clear()
          utf8 = !dec.decode(bytes, chars, false).isError
        }
        if (utf8) bytes.compact() else bytes.clear()
        n = in.read(bytes.array, bytes.position(), BufferBytes)
      }
    } finally in.close()
    if (utf8) {
      bytes.flip(); chars.clear()
      utf8 = !dec.decode(bytes, chars, true).isError && !dec.flush(chars).isError
    }

    if (cr || inQuotes || (crlf && bareLf)) ok = false
    if (ok && size > recordStart) { // a last record without a line end
      if (blank) ok = false
      records += 1
      if (records == headRecords) headEnd = size
    }
    val layout = if (!ok) None else {
      val starts = 0L +: cuts.map(_._1).toSeq
      val firsts = 1L +: cuts.map(_._2).toSeq
      val ends = starts.tail :+ size
      val nexts = firsts.tail :+ (records + 1)
      Some(Layout(records, if (headEnd < 0) size else headEnd,
        starts.indices.map(k => ByteRange(starts(k), ends(k), firsts(k), nexts(k) - firsts(k)))))
    }
    Result(if (utf8) "UTF-8" else "ISO-8859-1", layout)
  }
}
