package graft

import java.io.FileInputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{ZipFile, ZipInputStream}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sinks.ExcelSink

/** Writer parity: every part the streaming, chunk-deflating `ExcelSink`
  * writes must decompress to exactly the bytes of the plain `String`
  * renderer below, which builds each part in one string. The one intended
  * difference is in both: U+FFFE and U+FFFF are not XML 1.0 characters
  * (Excel refuses the workbook), so they are dropped like the other
  * non-XML control characters.
  */
class ExcelSinkSpec extends SparkSpec {

  /** The whole-string renderer: one `String` per part. */
  private object Oracle {
    def xml(s: String): String =
      s.flatMap {
        case '&' => "&amp;"; case '<' => "&lt;"; case '>' => "&gt;"
        case '"' => "&quot;"; case '\'' => "&apos;"
        case c if c < ' ' && c != '\t' && c != '\n' && c != '\r' => ""
        case '\uFFFE' | '\uFFFF' => ""
        case c => c.toString
      }

    private def cell(ref: String, v: Any): String = v match {
      case null => ""
      case b: Boolean => s"""<c r="$ref" t="b"><v>${if (b) 1 else 0}</v></c>"""
      case n @ (_: Byte | _: Short | _: Int | _: Long) => s"""<c r="$ref"><v>$n</v></c>"""
      case d: Double if !d.isNaN && !d.isInfinite => s"""<c r="$ref"><v>$d</v></c>"""
      case f: Float if !f.isNaN && !f.isInfinite => s"""<c r="$ref"><v>$f</v></c>"""
      case d: java.math.BigDecimal => s"""<c r="$ref"><v>${d.toPlainString}</v></c>"""
      case other => s"""<c r="$ref" t="inlineStr"><is><t>${xml(other.toString)}</t></is></c>"""
    }

    def worksheet(cols: Seq[String], rows: Seq[Row]): String = {
      val sb = new StringBuilder
      sb ++= """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
      sb ++= """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>"""
      sb ++= cols.zipWithIndex.map { case (c, i) =>
        s"""<c r="${ExcelSink.colRef(i)}1" t="inlineStr"><is><t>${xml(c)}</t></is></c>"""
      }.mkString("""<row r="1">""", "", "</row>")
      rows.zipWithIndex.foreach { case (row, r) =>
        sb ++= s"""<row r="${r + 2}">"""
        (0 until row.length).foreach { c =>
          sb ++= cell(s"${ExcelSink.colRef(c)}${r + 2}", if (row.isNullAt(c)) null else row.get(c))
        }
        sb ++= "</row>"
      }
      sb ++= "</sheetData></worksheet>"
      sb.toString
    }

    private val decl = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""

    def contentTypes(n: Int): String = decl +
      """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
      """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
      """<Default Extension="xml" ContentType="application/xml"/>""" +
      """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
      (1 to n).map(i => s"""<Override PartName="/xl/worksheets/sheet$i.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""").mkString +
      "</Types>"

    val packageRels: String = decl +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
      "</Relationships>"

    def workbook(names: Seq[String]): String = decl +
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" """ +
      """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
      names.zipWithIndex.map { case (n, i) =>
        s"""<sheet name="${xml(n)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
      }.mkString("<sheets>", "", "</sheets></workbook>")

    def workbookRels(n: Int): String = decl +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      (1 to n).map(i => s"""<Relationship Id="rId$i" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet$i.xml"/>""").mkString +
      "</Relationships>"

    /** Part name → bytes, in the order the sink writes them. */
    def parts(sheets: Seq[(String, DataFrame)]): Seq[(String, Array[Byte])] =
      (Seq("[Content_Types].xml" -> contentTypes(sheets.size),
        "_rels/.rels" -> packageRels,
        "xl/workbook.xml" -> workbook(sheets.map(_._1)),
        "xl/_rels/workbook.xml.rels" -> workbookRels(sheets.size)) ++
        sheets.zipWithIndex.map { case ((_, df), i) =>
          s"xl/worksheets/sheet${i + 1}.xml" -> worksheet(df.columns.toSeq, df.collect().toSeq)
        }).map { case (n, s) => n -> s.getBytes(UTF_8) }
  }

  private def fixture: Seq[(String, DataFrame)] = {
    val typedSchema = StructType(Seq(
      StructField("b", BooleanType), StructField("by", ByteType), StructField("sh", ShortType),
      StructField("i", IntegerType), StructField("l", LongType), StructField("d", DoubleType),
      StructField("f", FloatType), StructField("dec", DecimalType(12, 4)),
      StructField("dt", DateType), StructField("ts", TimestampType)))
    val typed = Seq(
      Row(null, null, null, null, null, null, null, null, null, null),
      Row(true, 1.toByte, (-2).toShort, 3, Long.MaxValue, 1.5, 2.25f,
        new java.math.BigDecimal("-123.4500"), java.sql.Date.valueOf("2024-02-29"),
        java.sql.Timestamp.valueOf("2024-01-01 12:34:56.789")),
      Row(false, Byte.MinValue, Short.MaxValue, Int.MinValue, -1L, Double.NaN, Float.NaN,
        new java.math.BigDecimal("0.0000"), java.sql.Date.valueOf("1970-01-01"),
        java.sql.Timestamp.valueOf("1999-12-31 23:59:59")),
      Row(true, 0.toByte, 0.toShort, 0, 0L, Double.PositiveInfinity, Float.PositiveInfinity,
        new java.math.BigDecimal("1E+5"), null, null),
      Row(null, 7.toByte, null, 42, null, Double.NegativeInfinity, Float.NegativeInfinity,
        null, null, null),
      Row(null, null, null, null, null, 1e-300, 3.4e38f, null, null, null),
      Row(null, null, null, null, null, -0.0, 1.0e-7f, null, null, null))
    val text = Seq("plain", "a & b", "<tag>", "\"quoted\"", "it's", "all &<>\"' five",
      "ctl \u0000\u0001\u0008\u000b\u000c\u001f end", "kept\ttab\nlf\rcr",
      "naïve — 日本語", "pair \uD83D\uDE00 end", "escaped <\uD83D\uDE00> pair",
      "bad \uFFFE\uFFFF end", "lone \uD800 high", "lone \uDC00 low", "high at end \uD800", "")
    val textDf = spark.createDataFrame(
      spark.sparkContext.parallelize(text.map(Row(_)), 1),
      StructType(Seq(StructField("text", StringType))))
    val header = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Row(1, "x")), 1),
      StructType(Seq(StructField("a<b & c>", IntegerType), StructField("\"q\" 'a' \u0001 \uD800", StringType))))
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("n", LongType), StructField("s", StringType))))
    // ~5 MB of XML: more than three 1 MiB deflate chunks
    val large = spark.range(0, 25000, 1, 1)
      .select(col("id"), (col("id") / 7.0).as("ratio"),
        concat(lit("row-"), col("id").cast("string"), lit(" "), repeat(lit("x&y<z "), 16)).as("label"))
    Seq("types" -> spark.createDataFrame(spark.sparkContext.parallelize(typed, 1), typedSchema),
      "text" -> textDf, "esc & <hdr>" -> header, "empty" -> empty, "large" -> large)
  }

  test("every part decompresses to the String renderer's bytes, read via ZipFile and ZipInputStream") {
    val sheets = fixture
    val want = Oracle.parts(sheets)
    val big = want.last._2.length
    assert(big > 3 * (1 << 20), s"large sheet is only $big bytes")
    val path = s"${tmpDir("graft-xlsx-parity")}/parity.xlsx"
    ExcelSink.write(path, sheets)

    val zf = new ZipFile(path)
    val viaZipFile = try zf.entries().asScala.toSeq.map { e =>
      e.getName -> zf.getInputStream(e).readAllBytes()
    } finally zf.close()
    // ZipInputStream reads entry by entry and checks each CRC and size
    val zin = new ZipInputStream(new FileInputStream(path))
    val viaStream = try Iterator.continually(zin.getNextEntry).takeWhile(_ != null)
      .map(e => e.getName -> zin.readAllBytes()).toSeq
    finally zin.close()

    for ((how, got) <- Seq("ZipFile" -> viaZipFile, "ZipInputStream" -> viaStream)) {
      assert(got.map(_._1) === want.map(_._1), how)
      got.zip(want).foreach { case ((name, g), (_, w)) =>
        assert(java.util.Arrays.equals(g, w),
          s"$how $name differs: ${new String(g, UTF_8).take(300)} vs ${new String(w, UTF_8).take(300)}")
      }
    }

    // the text sheet: non-XML characters dropped, the rest escaped or kept
    val textSheet = new String(viaStream(5)._2, UTF_8)
    assert(!textSheet.exists(c => c == '\uFFFE' || c == '\uFFFF' || c == '\u0000'))
    assert(textSheet.contains("<t>bad  end</t>") && textSheet.contains("<t>ctl  end</t>"))
    assert(textSheet.contains("<t>kept\ttab\nlf\rcr</t>"))
    assert(textSheet.contains("pair \uD83D\uDE00 end") && textSheet.contains("naïve — 日本語"))
    assert(textSheet.contains("<t>all &amp;&lt;&gt;&quot;&apos; five</t>"))
  }
}
