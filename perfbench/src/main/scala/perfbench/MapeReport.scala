package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.operators.Mape
import graft.pipelines.MapePipeline

/** `mape_report`: one op = `MapePipeline.runClient(includeRaw = true)` for
  * one client — CSV scan with schema inference, four aggregation variants,
  * a five-sheet xlsx assembled on the driver.
  *
  * The seed draws a pool of reference-shaped hourly client CSVs
  * (`proxy_date, hour, zone`, one or two metric families), one per
  * [[MapeReport.Kinds]] entry, from ~2.5k to ~85k rows. The seed draws the
  * values and dates, not the sizes, and ops cycle through the pool, so every
  * run does the same amount of work.
  * Values are multiples of 0.25, so every sum is exact in doubles and the
  * expected WAPE cells can be compared bit for bit.
  */
final class MapeReport(spark: SparkSession, seed: Long) extends Workload {
  import MapeReport._
  val name = "mape_report"

  private def generate(seed: Long): Seq[Client] = {
    val rng = new scala.util.Random(seed)
    Kinds.zipWithIndex.map { case (Kind(rowsTarget, nFam, nZones, perSlot), j) =>
      val zones = ZoneNames.take(nZones)
      val days = math.max(1, math.round(rowsTarget / (24.0 * zones.size * perSlot)).toInt)
      val fams = Mape.defaultFamilies.take(nFam)
      val cols = fams.flatMap(_.base)
      // hourly sums per (date, hour, zone) per column
      val sums = mutable.Map[(String, Int, String), Array[Double]]()
      val sb = new StringBuilder(("proxy_date" +: "hour" +: "zone" +: cols).mkString(",")).append('\n')
      val start = java.time.LocalDate.of(2024, 1, 1).plusDays(rng.nextInt(300).toLong)
      for (d <- 0 until days; h <- 0 until 24; z <- zones; _ <- 0 until perSlot) {
        val date = start.plusDays(d.toLong).toString
        val vals = fams.flatMap { _ =>
          val s = 160 + rng.nextInt(1600)
          Seq(s + rng.nextInt(241) - 120, s + rng.nextInt(241) - 120, s).map(_ / 4.0)
        }
        val acc = sums.getOrElseUpdate((date, h, z), new Array[Double](cols.size))
        vals.indices.foreach(k => acc(k) += vals(k))
        sb.append(date).append(',').append(h).append(',').append(z)
        vals.foreach(v => sb.append(',').append(v))
        sb.append('\n')
      }
      // Σ_h |Σf − Σs| / Σ_h |Σs| per day (and per zone), per family
      def ratios[K](groups: Map[K, Iterable[Array[Double]]]): Map[K, Map[String, Double]] =
        groups.map { case (g, hours) =>
        g -> fams.zipWithIndex.flatMap { case (f, fi) =>
          val den = hours.map(a => math.abs(a(3 * fi + 2))).sum
          Seq(f.forecastMape -> hours.map(a => math.abs(a(3 * fi) - a(3 * fi + 2))).sum / den,
              f.backcastMape -> hours.map(a => math.abs(a(3 * fi + 1) - a(3 * fi + 2))).sum / den)
        }.toMap
      }
      val portfolioHours = sums.toSeq.groupBy { case ((d, h, _), _) => (d, h) }
        .map { case (k, v) => k -> v.map(_._2).reduce((a, b) => a.zip(b).map(p => p._1 + p._2)) }
      Client(f"client$j%02d", nFam, zones, days, perSlot, sb.toString,
        ratios(portfolioHours.groupMap(_._1._1)(_._2)),
        ratios(sums.toMap.groupMap { case ((d, _, z), _) => (d, z) }(_._2)))
    }
  }

  private val clients = generate(seed)
  def cycle: Int = clients.size
  private var inDir: File = _
  private var outDir: File = _
  private val outputs = mutable.Map[Int, File]()
  private var stateInput = 0L

  def dims: Seq[(String, String)] = Seq(
    "clients" -> clients.size.toString,
    "client_rows" -> clients.map(_.rows).mkString("[", ",", "]"),
    "families_per_client" -> clients.map(_.nFamilies).mkString("[", ",", "]"),
    "zones_per_client" -> clients.map(_.zones.size).mkString("[", ",", "]"),
    "include_raw" -> "true")

  def inputDigest: String = Util.sha256(clients.iterator.map(_.csv))
  def inputDigestOf(s: Long): String = Util.sha256(generate(s).iterator.map(_.csv))

  /** Op -1 (the warm-up) takes the smallest client; the loop cycles through
    * the pool in size order.
    */
  private def client(i: Int): Client = clients(math.max(i, 0) % clients.size)
  private def csvFile(c: Client) = new File(inDir, s"${c.name}.csv")

  def prepare(rep: Int, dir: File): Unit = {
    inDir = new File(dir, "in"); outDir = new File(dir, "out")
    clients.foreach(c => Util.write(csvFile(c), c.csv))
    outputs.clear(); stateInput = 0L
  }

  def run(i: Int): Long = {
    val c = client(i)
    val path = Spans("MapePipeline.runClient") {
      MapePipeline.runClient(spark, csvFile(c).getPath, f"${c.name}_op$i%04d",
        outDir.getPath, includeRaw = true)
    }
    outputs(i) = new File(path)
    stateInput += csvFile(c).length()
    c.rows
  }

  def opInputBytes(i: Int): Long = csvFile(client(i)).length()
  override def directWrittenBytes(i: Int): Long = outputs.get(i).map(_.length()).getOrElse(0L)

  def check(i: Int): Seq[String] = {
    val c = client(i)
    val book = Xlsx.read(outputs(i))
    val errs = mutable.ArrayBuffer[String]()
    if (book.sheetNames != SheetNames)
      errs += s"sheets ${book.sheetNames} != $SheetNames"
    else {
      val port = book.sheet("daily_portfolio_mape")
      if (port.size != c.days) errs += s"daily_portfolio_mape has ${port.size} rows, expected ${c.days}"
      port.foreach { row =>
        val want = c.portfolio.getOrElse(row("proxy_date"), Map.empty[String, Double])
        if (want.isEmpty) errs += s"unexpected date ${row("proxy_date")}"
        want.foreach { case (col, v) =>
          if (row.get(col).map(_.toDouble) != Some(v))
            errs += s"portfolio ${row("proxy_date")} $col=${row.get(col)} expected $v"
        }
      }
      val zonal = book.sheet("daily_zone_mape")
      if (zonal.size != c.days) errs += s"daily_zone_mape has ${zonal.size} rows, expected ${c.days}"
      zonal.foreach { row =>
        c.zones.foreach { z =>
          c.zonal.getOrElse((row("proxy_date"), z), Map.empty[String, Double]).foreach { case (col, v) =>
            if (row.get(s"${col}_$z").map(_.toDouble) != Some(v))
              errs += s"zonal ${row("proxy_date")} ${col}_$z=${row.get(s"${col}_$z")} expected $v"
          }
        }
      }
    }
    errs.take(5).toSeq
  }

  def stateRoots: Seq[File] = Seq(outDir)
  def stateInputBytes: Long = stateInput
  def storeRoots: Seq[File] = Nil
}

object MapeReport {
  /** A generated client CSV with its expected daily WAPE cells: date (or
    * (date, zone)) → mape column → value.
    */
  final case class Client(name: String, nFamilies: Int, zones: Seq[String],
                          days: Int, perSlot: Int, csv: String,
                          portfolio: Map[String, Map[String, Double]],
                          zonal: Map[(String, String), Map[String, Double]]) {
    def rows: Long = days.toLong * 24 * zones.size * perSlot
  }

  /** One client shape: target rows, metric families, zones, rows per
    * (date, hour, zone) slot.
    */
  final case class Kind(rows: Double, families: Int, zones: Int, perSlot: Int)
  // small, mid and large clients, in the order the loop runs them
  val Kinds = Seq(Kind(2500, 1, 2, 1), Kind(20000, 2, 3, 2), Kind(85000, 1, 4, 3))
  // No client has three families: its daily frame has 24 double columns,
  // and `Mape.dailyMapeAggregation`'s one-filter-per-column chain then
  // spends minutes in Catalyst constraint propagation before a single job
  // runs (over 100 s for a 240-row CSV on a 4-core host), more than a whole
  // run may take.
  val ZoneNames = Seq("north", "south", "east", "west")
  val SheetNames = Seq("raw_data", "hourly_portfolio", "daily_portfolio_mape",
    "hourly_zone", "daily_zone_mape")
}

/** Reads back what `ExcelSink` writes: sheet names from the workbook part,
  * and a sheet's cells as header-keyed rows (numbers and inline strings).
  */
final class Xlsx(parts: Map[String, String]) {
  private def part(name: String): String = parts(name)

  val sheetNames: Seq[String] =
    """<sheet name="([^"]*)"""".r.findAllMatchIn(part("xl/workbook.xml"))
      .map(m => Xlsx.unescape(m.group(1))).toSeq

  def sheet(name: String): Seq[Map[String, String]] = {
    val xml = part(s"xl/worksheets/sheet${sheetNames.indexOf(name) + 1}.xml")
    val rows = """<row r="\d+">(.*?)</row>""".r.findAllMatchIn(xml).map { r =>
      Xlsx.Cell.findAllMatchIn(r.group(1)).map { c =>
        c.group(1) -> Xlsx.unescape(Option(c.group(2)).getOrElse(c.group(3)))
      }.toMap
    }.toSeq
    val header = rows.headOption.getOrElse(Map.empty)
    rows.drop(1).map(_.collect { case (ref, v) if header.contains(ref) => header(ref) -> v })
  }
}

object Xlsx {
  private val Cell = """<c r="([A-Z]+)\d+"[^>]*>(?:<v>([^<]*)</v>|<is><t>([^<]*)</t></is>)</c>""".r
  def unescape(s: String): String = s.replace("&lt;", "<").replace("&gt;", ">")
    .replace("&quot;", "\"").replace("&apos;", "'").replace("&amp;", "&")
  def read(f: File): Xlsx = {
    val z = new java.util.zip.ZipFile(f)
    try {
      import scala.jdk.CollectionConverters._
      new Xlsx(z.entries().asScala.map(e => e.getName ->
        new String(z.getInputStream(e).readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)).toMap)
    } finally z.close()
  }
}
