package graft.sinks

import java.io.{BufferedOutputStream, ByteArrayOutputStream, FileOutputStream, OutputStream,
  StringWriter, Writer}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Callable, ExecutorService, Executors, Future}
import java.util.zip.{CRC32, Deflater}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Row

/** S5: multi-sheet Excel (.xlsx) sink (reference
  * /root/reference/main.py:147-153 — one sheet per named DataFrame).
  *
  * xlsx is a zip of OOXML parts; under the zero-egress constraint (no POI
  * on the classpath) this writes the minimal conformant package directly:
  * content types, package/workbook relationships, one worksheet part per
  * sheet, all cells typed (numbers as native values, everything else as
  * XML-escaped inline strings).
  *
  * This is a DRIVER-SIDE sink by design: Excel is the reference's
  * small-result deliverable (daily-grain MAPE frames — tens of rows).
  * Every sheet is collected, guarded by `maxRows`; fact-scale data belongs
  * in the parquet sinks, never here (SURVEY.md §2.1 S5).
  *
  * Write path: each worksheet part streams through a UTF-8 `Writer` into
  * one byte buffer, so one sheet's XML is in memory at a time; column
  * letters are computed once per column, and strings with nothing to
  * escape are copied as they are. The part is then deflated pigz-style —
  * 1 MiB chunks on a pool sized to the host's cores, each chunk after the
  * first primed with the previous 32 KiB as its preset dictionary and
  * ended by a `SYNC_FLUSH`, the last one by `finish` — at the level a
  * `ZipOutputStream` uses (`Deflater.DEFAULT_COMPRESSION`). The concatenated chunks are one valid
  * deflate stream. The container is a minimal hand-written zip (local
  * headers with CRC32 and sizes, central directory, end record, a fixed
  * 1980-01-01 entry time so equal input gives equal bytes); it has no
  * ZIP64 and refuses, loudly, any part or offset that would need it.
  */
object ExcelSink {

  /** Hard cap on collected rows per sheet — the driver-memory guard. */
  val DefaultMaxRows: Int = 100000

  /** Write `sheets` (name → DataFrame, in order) as one xlsx workbook. */
  def write(path: String, sheets: Seq[(String, DataFrame)],
            maxRows: Int = DefaultMaxRows): Unit = {
    require(sheets.nonEmpty, "xlsx workbook needs at least one sheet")
    // dedupe cleaned names: sanitation/truncation can collide two distinct
    // inputs, and duplicate sheet names make the workbook invalid OOXML.
    // Excel compares sheet names case-insensitively, so the seen-set does
    // too; the suffix retries until genuinely unused (a single suffix can
    // itself collide with an earlier literal name).
    val seen = scala.collection.mutable.Set[String]()
    val collected = sheets.zipWithIndex.map { case ((rawName, df), i) =>
      val rows = df.limit(maxRows + 1).collect()
      if (rows.length > maxRows)
        throw new IllegalArgumentException(
          s"sheet '$rawName' exceeds maxRows=$maxRows; Excel is a small-result " +
            "driver-side sink — write fact-scale data to parquet instead")
      // Locale.ROOT: default-locale lowercasing (tr-TR dotless-ı) would
      // miss collisions Excel itself detects
      def key(n: String) = n.toLowerCase(java.util.Locale.ROOT)
      var name = sheetName(rawName, i)
      var attempt = i + 1
      while (seen.contains(key(name))) {
        val suffix = s"_$attempt"
        name = sheetName(rawName, i).take(31 - suffix.length) + suffix
        attempt += 1
      }
      seen += key(name)
      (name, df.columns.toSeq, rows.toSeq)
    }
    val pool = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors(), { r =>
      val t = new Thread(r, "xlsx-deflate"); t.setDaemon(true); t
    })
    val zip = new ZipWriter(new BufferedOutputStream(new FileOutputStream(path), 1 << 16), pool)
    try {
      def part(name: String, content: String): Unit = {
        val bytes = content.getBytes(UTF_8)
        zip.entry(name, bytes, bytes.length)
      }
      part("[Content_Types].xml", contentTypes(collected.size))
      part("_rels/.rels", packageRels)
      part("xl/workbook.xml", workbook(collected.map(_._1)))
      part("xl/_rels/workbook.xml.rels", workbookRels(collected.size))
      collected.zipWithIndex.foreach { case ((_, cols, rows), i) =>
        val xml = worksheet(cols, rows)
        zip.entry(s"xl/worksheets/sheet${i + 1}.xml", xml.array, xml.length)
      }
      zip.finish()
    } finally {
      zip.close()
      pool.shutdownNow()
    }
  }

  /** Excel sheet-name rules: ≤31 chars, no []:*?/\ , non-empty. */
  private def sheetName(raw: String, idx: Int): String = {
    val cleaned = raw.replaceAll("[\\[\\]:*?/\\\\]", "_").take(31)
    if (cleaned.isEmpty) s"Sheet${idx + 1}" else cleaned
  }

  /** Needs the escape path: markup characters, the C0 controls (tab, LF
    * and CR are kept there, the rest dropped) and U+FFFE/U+FFFF, which
    * XML 1.0 does not allow and Excel refuses.
    */
  private def special(c: Char): Boolean =
    c < ' ' || c == '&' || c == '<' || c == '>' || c == '"' || c == '\'' ||
      c == '\uFFFE' || c == '\uFFFF'

  /** Write `s` XML-escaped; strings with nothing to escape are copied as is. */
  private def escape(w: Writer, s: String): Unit = {
    val n = s.length
    var i = 0
    while (i < n && !special(s.charAt(i))) i += 1
    if (i == n) w.write(s)
    else {
      w.write(s, 0, i)
      while (i < n) {
        s.charAt(i) match {
          case '&' => w.write("&amp;"); case '<' => w.write("&lt;"); case '>' => w.write("&gt;")
          case '"' => w.write("&quot;"); case '\'' => w.write("&apos;")
          case c if c == '\t' || c == '\n' || c == '\r' => w.write(c)
          case c if special(c) =>
          case c => w.write(c)
        }
        i += 1
      }
    }
  }

  private def xml(s: String): String = {
    val w = new StringWriter(s.length)
    escape(w, s)
    w.toString
  }

  /** 0-based column index → A1-style column letters. */
  private[graft] def colRef(i: Int): String = {
    var n = i + 1
    val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  /** `<c r="{col}{row}"` + `rest`: the opening of every cell. */
  private def open(w: Writer, col: String, row: String, rest: String): Unit = {
    w.write("<c r=\""); w.write(col); w.write(row); w.write(rest)
  }

  private def number(w: Writer, col: String, row: String, v: String): Unit = {
    open(w, col, row, "\"><v>"); w.write(v); w.write("</v></c>")
  }

  private def text(w: Writer, col: String, row: String, v: String): Unit = {
    open(w, col, row, "\" t=\"inlineStr\"><is><t>"); escape(w, v); w.write("</t></is></c>")
  }

  private def cell(w: Writer, col: String, row: String, v: Any): Unit = v match {
    case null =>
    case b: Boolean => open(w, col, row, "\" t=\"b\"><v>"); w.write(if (b) '1' else '0'); w.write("</v></c>")
    case n @ (_: Byte | _: Short | _: Int | _: Long) => number(w, col, row, n.toString)
    case d: Double if !d.isNaN && !d.isInfinite => number(w, col, row, java.lang.Double.toString(d))
    case f: Float if !f.isNaN && !f.isInfinite => number(w, col, row, java.lang.Float.toString(f))
    case d: java.math.BigDecimal => number(w, col, row, d.toPlainString)
    case other => text(w, col, row, other.toString)
  }

  /** A UTF-8 `Writer` straight into a growable byte array, read in place
    * once closed: ASCII is stored byte for byte, with no char buffer or
    * charset encoder in between. A lone surrogate becomes '?', as
    * `String.getBytes(UTF_8)` makes it.
    */
  private final class Utf8Buffer(initial: Int) extends Writer {
    var array = new Array[Byte](initial)
    var length = 0
    private var high = 0 // a high surrogate waiting for its pair, or 0

    private def ensure(n: Int): Unit =
      if (length + n > array.length)
        array = java.util.Arrays.copyOf(array, math.max(2 * array.length, length + n))

    private def put(b: Int): Unit = { array(length) = b.toByte; length += 1 }

    private def char(c: Char): Unit = {
      if (high != 0) {
        val h = high.toChar
        high = 0
        if (Character.isLowSurrogate(c)) {
          val cp = Character.toCodePoint(h, c)
          put(0xF0 | cp >> 18); put(0x80 | cp >> 12 & 0x3F); put(0x80 | cp >> 6 & 0x3F); put(0x80 | cp & 0x3F)
          return
        }
        put('?')
      }
      if (c < 0x80) put(c)
      else if (c < 0x800) { put(0xC0 | c >> 6); put(0x80 | c & 0x3F) }
      else if (Character.isHighSurrogate(c)) high = c
      else if (Character.isLowSurrogate(c)) put('?')
      else { put(0xE0 | c >> 12); put(0x80 | c >> 6 & 0x3F); put(0x80 | c & 0x3F) }
    }

    override def write(c: Int): Unit = { ensure(4); char(c.toChar) }
    override def write(s: String): Unit = write(s, 0, s.length)
    override def write(s: String, off: Int, len: Int): Unit = {
      ensure(3 * len + 1)
      var i = off
      while (i < off + len) {
        val c = s.charAt(i)
        if (c < 0x80 && high == 0) { array(length) = c.toByte; length += 1 } else char(c)
        i += 1
      }
    }
    def write(cs: Array[Char], off: Int, len: Int): Unit = write(new String(cs, off, len))
    def flush(): Unit = ()
    def close(): Unit = if (high != 0) { ensure(1); high = 0; put('?') }
  }

  private def worksheet(cols: Seq[String], rows: Seq[Row]): Utf8Buffer = {
    val w = new Utf8Buffer(1 << 16)
    val refs = cols.indices.map(colRef).toArray
    w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    w.write("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    w.write("""<row r="1">""")
    cols.indices.foreach(i => text(w, refs(i), "1", cols(i)))
    w.write("</row>")
    var r = 2
    rows.foreach { row =>
      val rowNum = Integer.toString(r)
      w.write("<row r=\""); w.write(rowNum); w.write("\">")
      var c = 0
      while (c < row.length) {
        if (!row.isNullAt(c)) cell(w, refs(c), rowNum, row.get(c))
        c += 1
      }
      w.write("</row>")
      r += 1
    }
    w.write("</sheetData></worksheet>")
    w.close()
    w
  }

  private val Chunk = 1 << 20
  private val Window = 32 << 10

  /** Raw-deflate `data[0, len)` in [[Chunk]]-sized pieces on `pool`; the
    * pieces, concatenated in order, are one deflate stream.
    */
  private def deflate(data: Array[Byte], len: Int, pool: ExecutorService): Seq[Future[Array[Byte]]] =
    (0 until math.max(len, 1) by Chunk).map { start =>
      val end = math.min(start + Chunk, len)
      pool.submit(new Callable[Array[Byte]] {
        def call(): Array[Byte] = {
          val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
          try {
            if (start > 0) d.setDictionary(data, start - Window, Window)
            d.setInput(data, start, end - start)
            val out = new ByteArrayOutputStream((end - start) / 4 + 64)
            val buf = new Array[Byte](64 << 10)
            if (end == len) {
              d.finish()
              while (!d.finished()) out.write(buf, 0, d.deflate(buf))
            } else {
              // a SYNC_FLUSH that fills `buf` may have more to give
              var n = buf.length
              while (n == buf.length) {
                n = d.deflate(buf, 0, buf.length, Deflater.SYNC_FLUSH)
                out.write(buf, 0, n)
              }
            }
            out.toByteArray
          } finally d.end()
        }
      })
    }

  private final class Entry(val name: Array[Byte], val crc: Int, val csize: Long,
                            val usize: Long, val offset: Long)

  /** A minimal zip writer: deflated entries whose CRC32 and sizes are known
    * before their local header, then the central directory and end record.
    */
  private final class ZipWriter(out: OutputStream, pool: ExecutorService) {
    private val entries = ArrayBuffer[Entry]()
    private var offset = 0L
    private val DosTime = 0
    private val DosDate = (1 << 5) | 1 // 1980-01-01

    private def noZip64(what: String, v: Long, limit: Long = 0xFFFFFFFFL): Unit =
      if (v >= limit)
        throw new IllegalStateException(
          s"xlsx $what $v needs ZIP64, which ExcelSink does not write — " +
            "Excel is a small-result sink; write fact-scale data to parquet")

    private def header(sig: Int, size: Int): ByteBuffer =
      ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN).putInt(sig)

    /** version needed, flags, method, time, date, crc, sizes, name length. */
    private def common(b: ByteBuffer, e: Entry): ByteBuffer =
      b.putShort(20.toShort).putShort(0.toShort).putShort(8.toShort)
        .putShort(DosTime.toShort).putShort(DosDate.toShort)
        .putInt(e.crc).putInt(e.csize.toInt).putInt(e.usize.toInt)
        .putShort(e.name.length.toShort)

    private def emit(b: ByteBuffer): Unit = { out.write(b.array); offset += b.capacity }

    def entry(name: String, data: Array[Byte], len: Int): Unit = {
      val chunks = deflate(data, len, pool)
      val crc = new CRC32
      crc.update(data, 0, len)
      val compressed = chunks.map(_.get)
      val e = new Entry(name.getBytes(UTF_8), crc.getValue.toInt,
        compressed.map(_.length.toLong).sum, len.toLong, offset)
      noZip64("part size", e.csize)
      noZip64("part offset", e.offset)
      emit(common(header(0x04034b50, 30), e).putShort(0.toShort))
      out.write(e.name); offset += e.name.length
      compressed.foreach { c => out.write(c); offset += c.length }
      entries += e
    }

    def finish(): Unit = {
      noZip64("entry count", entries.size.toLong, 0xFFFFL)
      val cdOffset = offset
      entries.foreach { e =>
        // made by, then the local fields, then no extra/comment, disk 0,
        // no attributes, the local header's offset, the name
        val b = header(0x02014b50, 46).putShort(20.toShort)
        emit(common(b, e).putShort(0.toShort).putShort(0.toShort).putShort(0.toShort)
          .putShort(0.toShort).putInt(0).putInt(e.offset.toInt))
        out.write(e.name); offset += e.name.length
      }
      noZip64("central directory offset", offset)
      emit(header(0x06054b50, 22).putShort(0.toShort).putShort(0.toShort)
        .putShort(entries.size.toShort).putShort(entries.size.toShort)
        .putInt((offset - cdOffset).toInt).putInt(cdOffset.toInt).putShort(0.toShort))
    }

    def close(): Unit = out.close()
  }

  private def contentTypes(nSheets: Int): String = {
    val overrides = (1 to nSheets).map(i =>
      s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""")
      .mkString
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
      """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
      """<Default Extension="xml" ContentType="application/xml"/>""" +
      """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
      overrides + "</Types>"
  }

  private val packageRels: String =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
      "</Relationships>"

  private def workbook(names: Seq[String]): String = {
    val sheets = names.zipWithIndex.map { case (n, i) =>
      s"""<sheet name="${xml(n)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" """ +
      """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
      s"<sheets>$sheets</sheets></workbook>"
  }

  private def workbookRels(nSheets: Int): String = {
    val rels = (1 to nSheets).map(i =>
      s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""")
      .mkString
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      rels + "</Relationships>"
  }
}
