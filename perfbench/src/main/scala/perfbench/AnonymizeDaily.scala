package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.pipelines.AnonymizePipeline

/** `anonymize_daily`: one op = `AnonymizePipeline.run` over one new date
  * partition of a mixed CSV + parquet directory, against one persistent key
  * dir shared by every day. A seeded [[RepeatShare]] of each day's uids and
  * meters were seen on earlier days, so the key-table upserts both hit and
  * grow over the run. The audit clock is fixed, so written bytes repeat.
  */
final class AnonymizeDaily(spark: SparkSession, seed: Long) extends Workload {
  import AnonymizeDaily._
  val name = "anonymize_daily"

  /** Day-by-day generator: each day draws its ids from the ids earlier days
    * produced, so it is stateful but fully determined by the seed.
    */
  final class Days(seed: Long) {
    private val rng = new scala.util.Random(seed)
    private val seenUids = mutable.ArrayBuffer[String]()
    private val seenMeters = mutable.ArrayBuffer[String]()
    private var day = 0
    private var rowId = 0L

    private def draw(seen: mutable.ArrayBuffer[String], n: Int, mk: Int => String): Seq[String] = {
      val repeats = if (seen.isEmpty) 0 else math.round(n * RepeatShare).toInt
      val old = rng.shuffle(seen.indices.toVector).take(repeats).map(seen)
      val fresh = (0 until n - old.size).map(_ => mk(seen.size)).map { id => seen += id; id }
      old ++ fresh
    }

    def next(): Day = {
      val date = java.time.LocalDate.of(2024, 1, 1).plusDays(day.toLong).toString
      day += 1
      val uids = draw(seenUids, UidsPerDay, k => f"U$k%07d")
      val meters = draw(seenMeters, MetersPerDay, k => f"MTR-$k%06d")
      val customers = rng.shuffle(Customers).take(3 + rng.nextInt(3))
      val brands = rng.shuffle(Brands).take(2 + rng.nextInt(3))
      def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))
      def amount(): Double = math.round(rng.nextDouble() * 100000) / 100.0
      def rows(n: Int)(mk: Long => Seq[Any]): Seq[Seq[Any]] =
        (0 until n).map { _ => rowId += 1; mk(rowId) }
      val files = Seq(
        InFile(s"${Client}_usage.csv", Seq("row_id", "uid", "CustomerCode", "brand", "usage", "forecast_gross"),
          rows(UsageRows)(id => Seq(id, pick(uids), pick(customers), pick(brands), amount(), amount()))),
        InFile(s"${Client}_meters.csv", Seq("row_id", "meter", "uid", "CustomerCode", "value"),
          rows(MeterRows)(id => Seq(id, pick(meters), pick(uids), pick(customers), amount()))),
        InFile(s"${Client}_billing.parquet", Seq("row_id", "uid", "brand", "amount"),
          rows(BillingRows)(id => Seq(id, pick(uids), pick(brands), amount()))))
      def present(c: String): Set[String] = files.flatMap { f =>
        val k = f.cols.indexOf(c)
        if (k < 0) Nil else f.rows.map(_(k).toString)
      }.toSet
      Day(date, files, present("uid"), present("meter"), (customers ++ brands).toSet)
    }
  }

  private var days: Days = _
  private var inDir, outDir, keyDir: File = _
  private val processed = mutable.Map[Int, Day]()
  private val outputs = mutable.Map[Int, Seq[String]]()
  private val uidsSeen = mutable.Set[String]()
  private val metersSeen = mutable.Set[String]()
  private val pseudonyms = mutable.Map[String, String]()
  private var stateInput = 0L

  def dims: Seq[(String, String)] = Seq(
    "files_per_day" -> "3 (2 csv + 1 parquet)",
    "rows_per_day" -> s"${UsageRows + MeterRows + BillingRows}",
    "uids_per_day" -> UidsPerDay.toString,
    "meters_per_day" -> MetersPerDay.toString,
    "uid_repeat_share" -> RepeatShare.toString,
    "label_columns" -> "customercode, brand",
    "uid_columns" -> "uid, meter")

  // the first two days: the second one draws repeats from the first
  def inputDigest: String = inputDigestOf(seed)
  def inputDigestOf(s: Long): String = {
    val g = new Days(s)
    Util.sha256((0 until 2).iterator.flatMap(_ => g.next().files.iterator.map(_.csv)))
  }

  private def writeDay(d: Day): Long = {
    val dir = new File(inDir, d.date)
    d.files.foreach { f =>
      if (f.isCsv) Util.write(new File(dir, f.name), f.csv)
      else Parquet.write(new File(dir, f.name), f.cols, f.rows)
    }
    d.files.map(f => new File(dir, f.name).length()).sum
  }

  private def runDay(i: Int): Seq[String] = {
    val d = processed(i)
    AnonymizePipeline.run(spark, inDir.getPath, new File(outDir, d.date).getPath,
      keyDir.getPath, Client, clock = Some(Clock))
  }

  def prepare(rep: Int, dir: File): Unit = {
    inDir = new File(dir, "in"); outDir = new File(dir, "out"); keyDir = new File(dir, "keys")
    days = new Days(seed)
    Seq(processed, outputs).foreach(_.clear())
    Seq(uidsSeen, metersSeen).foreach(_.clear())
    pseudonyms.clear(); stateInput = 0L
  }

  def cycle: Int = DaysPerCycle

  /** Both key tables, sorted: blake2b pseudonyms make them a pure function
    * of the seed.
    */
  override def stateDigest(): Option[String] = Some(Util.sha256(
    Seq("uid", "meter").iterator.flatMap(c => keyTable(c).map(_.mkString(",")).sorted)))

  /** Rows of the key table for `c`: (raw id, pseudonym). */
  private def keyTable(c: String): Seq[Seq[String]] = {
    val dir = new File(keyDir, s"key_$c.snappy.parquet")
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .toSeq.flatMap(f => Parquet.read(f)._2)
  }

  override def stage(i: Int): Unit = {
    val d = days.next()
    processed(i) = d
    stateInput += writeDay(d)
  }

  def run(i: Int): Long = {
    outputs(i) = Spans("AnonymizePipeline.run")(runDay(i))
    processed(i).rows
  }

  def opInputBytes(i: Int): Long =
    processed(i).files.map(f => new File(new File(inDir, processed(i).date), f.name).length()).sum

  def check(i: Int): Seq[String] = {
    val d = processed(i)
    val outs = outputs(i)
    val errs = mutable.ArrayBuffer[String]()
    uidsSeen ++= d.uids; metersSeen ++= d.meters
    if (outs.size != d.files.size || !outs.forall(p => new File(p).isFile))
      errs += s"expected ${d.files.size} output files, got $outs"
    val rawUid = d.files.flatMap { f =>
      val rid = f.cols.indexOf("row_id")
      Seq("uid", "meter").map(c => c -> f.cols.indexOf(c)).filter(_._2 >= 0).flatMap { case (c, k) =>
        f.rows.map(r => (c, r(rid).toString.toLong) -> r(k).toString)
      }
    }.toMap
    val rawIds = d.uids ++ d.meters
    var rows = 0L
    outs.foreach { p =>
      val (cols, cells) = Parquet.read(new File(p))
      val ridAt = cols.indexOf("row_id")
      cells.foreach { r =>
        rows += 1
        val rid = r(ridAt).toLong
        cols.zipWithIndex.foreach { case (c, k) =>
          val s = r(k)
          if (s != null) {
            if (LabelCols(c) && !s.matches("ANON_CLIENT( \\d+)?"))
              errs += s"$p: label $c=$s not anonymized"
            if (rawIds(s) || d.labels.exists(s.contains))
              errs += s"$p: raw value $s in column $c"
            if (c == "uid" || c == "meter") rawUid.get((c, rid)) match {
              case None => errs += s"$p: row $rid has an unexpected $c"
              case Some(raw) =>
                if (!s.matches("[0-9a-f]{10}")) errs += s"$p: $c pseudonym $s is not blake2b-40 hex"
                if (pseudonyms.getOrElseUpdate(raw, s) != s)
                  errs += s"$p: $raw changed pseudonym ${pseudonyms(raw)} -> $s"
            }
          }
        }
      }
    }
    if (rows != d.rows) errs += s"output rows $rows != input rows ${d.rows}"
    Seq("uid" -> uidsSeen, "meter" -> metersSeen).foreach { case (c, seen) =>
      val key = keyTable(c).map(_.head)
      if (key.length != key.distinct.length) errs += s"key_$c has duplicate ${c}s"
      if (key.toSet != seen) errs += s"key_$c has ${key.length} rows, ${seen.size} distinct ${c}s seen"
    }
    errs.take(5).toSeq
  }

  def stateRoots: Seq[File] = Seq(outDir, keyDir)
  def stateInputBytes: Long = stateInput
  def storeRoots: Seq[File] = Seq(keyDir)
}

object AnonymizeDaily {
  /** One generated input file: its name, and rows keyed by column. */
  final case class InFile(name: String, cols: Seq[String], rows: Seq[Seq[Any]]) {
    def isCsv: Boolean = name.endsWith(".csv")
    def csv: String = (cols.mkString(",") +: rows.map(_.mkString(","))).mkString("", "\n", "\n")
  }
  final case class Day(date: String, files: Seq[InFile], uids: Set[String],
                       meters: Set[String], labels: Set[String]) {
    def rows: Long = files.map(_.rows.size.toLong).sum
  }

  val Client = "acme"
  val Clock = "2024-06-01T00:00:00"
  val RepeatShare = 0.8
  val DaysPerCycle = 3
  val UidsPerDay = 400
  val MetersPerDay = 200
  val UsageRows = 2400
  val MeterRows = 1200
  val BillingRows = 800
  val LabelCols = Set("customercode", "brand")
  val Customers = Seq("Acme Power", "Borealis Grid", "Cobalt Utilities", "Delta Energy",
    "Everlight", "Fjord Electric", "Granite Gas", "Harbor Heat")
  val Brands = Seq("BrightHome", "SunVolt", "GreenLeaf", "NightOwl", "TerraWatt", "BlueFlame")
}

/** Writes and reads single parquet files without Spark, so input staging and
  * output checks add no jobs to the session.
  */
object Parquet {
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.ParquetReader
  import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
  import org.apache.parquet.hadoop.metadata.CompressionCodecName
  import org.apache.parquet.hadoop.util.HadoopOutputFile
  import org.apache.parquet.schema.MessageTypeParser

  /** Column names and every row's cells as strings (null when absent). */
  def read(f: File): (Seq[String], Seq[Seq[String]]) = {
    val r = ParquetReader.builder(new GroupReadSupport(), new org.apache.hadoop.fs.Path(f.getPath)).build()
    try {
      val groups = Iterator.continually(r.read()).takeWhile(_ != null).toVector
      val cols = groups.headOption.toSeq.flatMap { g =>
        (0 until g.getType.getFieldCount).map(g.getType.getFieldName)
      }
      (cols, groups.map(g => cols.indices.map(k =>
        if (g.getFieldRepetitionCount(k) == 0) null else g.getValueToString(k, 0))))
    } finally r.close()
  }

  def write(f: File, cols: Seq[String], rows: Seq[Seq[Any]]): Unit = {
    f.getParentFile.mkdirs()
    val types = rows.head.map {
      case _: Long => "int64"
      case _: Double => "double"
      case _ => "binary"
    }
    val schema = MessageTypeParser.parseMessageType(cols.zip(types).map {
      case (c, "binary") => s"required binary $c (STRING);"
      case (c, t) => s"required $t $c;"
    }.mkString("message input { ", " ", " }"))
    val conf = new org.apache.hadoop.conf.Configuration()
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getPath), conf))
      .withType(schema).withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY).build()
    val g = new SimpleGroupFactory(schema)
    try rows.foreach { r =>
      val row = g.newGroup()
      cols.zip(r).foreach {
        case (c, v: Long) => row.append(c, v)
        case (c, v: Double) => row.append(c, v)
        case (c, v) => row.append(c, v.toString)
      }
      w.write(row)
    } finally w.close()
  }
}
