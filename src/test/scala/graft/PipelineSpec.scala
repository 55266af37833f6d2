package graft

import java.util.zip.ZipFile
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.pipelines.{AnonymizePipeline, MapePipeline}
import graft.sinks.ExcelSink

/** End-to-end pipeline goldens (reference E1/E2): the MAPE client run from
  * a CSV fixture through the four aggregation variants into a multi-sheet
  * xlsx, and the anonymizer directory walk — latest-partition pruning (S3),
  * CSV+parquet ingest (S1/S2), label/uid/scale anonymization, audit stamps,
  * file rename (S7), single-file snappy output (S4), cross-run pseudonym
  * stability.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def zipEntries(path: String): Map[String, String] = {
    val zf = new ZipFile(path)
    try zf.entries().asScala.map { e =>
      e.getName -> new String(zf.getInputStream(e).readAllBytes(), "UTF-8")
    }.toMap
    finally zf.close()
  }

  // ── E1: MAPE client run ────────────────────────────────────────────────

  test("MapePipeline.runClient: CSV in, 5-sheet workbook out, values correct") {
    // two days × two hours × two zones; forecast/backcast/settlement known
    val rows = Seq(
      ("2024-01-01", 0, "east", 10.0, 9.0, 8.0),
      ("2024-01-01", 0, "west", 20.0, 21.0, 24.0),
      ("2024-01-01", 1, "east", 30.0, 28.0, 32.0),
      ("2024-01-02", 0, "east", 5.0, 6.0, 4.0))
    val inDir = tmpDir("graft-mape-in")
    val outDir = tmpDir("graft-mape-out")
    // write a real CSV file (uppercase headers: ingest must lowercase them)
    val csv = new java.io.PrintWriter(s"$inDir/clientx.csv")
    csv.println("PROXY_DATE,HOUR,ZONE,FORECAST,BACKCAST,SETTLEMENT")
    rows.foreach { case (d, h, z, f, b, s) => csv.println(s"$d,$h,$z,$f,$b,$s") }
    csv.close()

    val path = MapePipeline.runClient(spark, s"$inDir/clientx.csv", "clientx", outDir)
    assert(path.endsWith("clientx_performance.xlsx"))
    val parts = zipEntries(path)
    val wb = parts("xl/workbook.xml")
    for (s <- Seq("raw_data", "hourly_portfolio", "daily_portfolio_mape",
        "hourly_zone", "daily_zone_mape"))
      assert(wb.contains(s"""name="$s""""), s"missing sheet $s")

    // daily_portfolio_mape (sheet 3): day 1 portfolio WAPE from hourly sums:
    // h0: f=30 b=30 s=32 → |30-32|=2, |30-32|=2, |32|=32
    // h1: f=30 b=28 s=32 → 2, 4, 32
    // day: fae=4, bae=6, sabs=64 → f_mape=0.0625, b_mape=0.09375
    val sheet3 = parts("xl/worksheets/sheet3.xml")
    assert(sheet3.contains("<v>0.0625</v>"), sheet3.take(800))
    assert(sheet3.contains("<v>0.09375</v>"))
    // zonal pivot sheet carries {metric}_{zone} flattened headers
    val sheet5 = parts("xl/worksheets/sheet5.xml")
    assert(sheet5.contains("<t>forecast_mape_east</t>") &&
      sheet5.contains("<t>settlement_west</t>"))
  }

  test("MapePipeline.runClient: every sheet in its key order, byte-identical across runs") {
    // 6 days × 4 hours × 3 zones, written in a shuffled order
    val rng = new scala.util.Random(7)
    val lines = rng.shuffle(for {
      d <- 1 to 6; h <- 0 until 4; z <- Seq("north", "east", "west")
    } yield f"2024-03-$d%02d,$h,$z,${10 + rng.nextInt(9)}.0,${10 + rng.nextInt(9)}.0,${10 + rng.nextInt(9)}.0")
    val inDir = tmpDir("graft-mape-order-in")
    val csv = new java.io.PrintWriter(s"$inDir/shuffled.csv")
    csv.println("proxy_date,hour,zone,forecast,backcast,settlement")
    lines.foreach(csv.println)
    csv.close()
    def parts(out: String): Map[String, Array[Byte]] = {
      val zf = new ZipFile(MapePipeline.runClient(spark, s"$inDir/shuffled.csv", "shuffled", out))
      try zf.entries().asScala.map(e => e.getName -> zf.getInputStream(e).readAllBytes()).toMap
      finally zf.close()
    }
    val first = parts(tmpDir("graft-mape-order-a"))
    val second = parts(tmpDir("graft-mape-order-b"))
    assert(first.keySet === second.keySet)
    first.foreach { case (n, b) => assert(java.util.Arrays.equals(b, second(n)), s"$n differs") }

    // sheet → rows of header-keyed cell text
    val cellRe = """<c r="([A-Z]+)\d+"[^>]*>(?:<v>([^<]*)</v>|<is><t>([^<]*)</t></is>)</c>""".r
    def sheet(i: Int): Seq[Map[String, String]] = {
      val xml = new String(first(s"xl/worksheets/sheet$i.xml"), "UTF-8")
      val rows = """<row r="\d+">(.*?)</row>""".r.findAllMatchIn(xml).map { r =>
        cellRe.findAllMatchIn(r.group(1))
          .map(c => c.group(1) -> Option(c.group(2)).getOrElse(c.group(3))).toMap
      }.toSeq
      rows.drop(1).map(_.map { case (ref, v) => rows.head(ref) -> v })
    }
    // (proxy_date, hour, zone), the absent parts of a sheet's key as None
    def inKeyOrder(i: Int, n: Int): Unit = {
      val keys = sheet(i).map(r => (r("proxy_date"), r.get("hour").map(_.toInt), r.get("zone")))
      assert(keys.size === n && keys.distinct.size === n, s"sheet$i: $keys")
      assert(keys === keys.sorted, s"sheet$i out of key order: $keys")
    }
    inKeyOrder(2, 6 * 4)     // hourly_portfolio
    inKeyOrder(3, 6)         // daily_portfolio_mape
    inKeyOrder(4, 6 * 4 * 3) // hourly_zone
    inKeyOrder(5, 6)         // daily_zone_mape
  }

  test("ExcelSink enforces the driver-side row cap") {
    val big = spark.range(100).toDF("n")
    val f = s"${tmpDir("graft-xlsx")}/cap.xlsx"
    val e = intercept[IllegalArgumentException] {
      ExcelSink.write(f, Seq("s" -> big), maxRows = 10)
    }
    assert(e.getMessage.contains("maxRows"))
  }

  test("ExcelSink dedupes colliding cleaned sheet names") {
    val df = spark.range(1).toDF("n")
    val f = s"${tmpDir("graft-xlsx-dup")}/dup.xlsx"
    ExcelSink.write(f, Seq("metrics/daily" -> df, "metrics\\daily" -> df))
    val wb = zipEntries(f)("xl/workbook.xml")
    assert(wb.contains("""name="metrics_daily""""))
    assert(wb.contains("""name="metrics_daily_2""""), wb)
  }

  test("ExcelSink sheet dedup survives suffix collisions and ignores case") {
    val df = spark.range(1).toDF("n")
    val f = s"${tmpDir("graft-xlsx-dup2")}/dup2.xlsx"
    // "a_3" taken literally; second "a" dedupes; its suffixed "a_3" is
    // ALSO taken, so it must retry; "Daily"/"daily" collide case-insensitively
    ExcelSink.write(f, Seq("a_3" -> df, "a" -> df, "a" -> df,
      "Daily" -> df, "daily" -> df))
    val wb = zipEntries(f)("xl/workbook.xml")
    val names = """name="([^"]+)"""".r.findAllMatchIn(wb).map(_.group(1)).toSeq
    assert(names.map(_.toLowerCase).distinct.size === names.size,
      s"sheet names must be unique case-insensitively: $names")
    assert(names.toSet === Set("a_3", "a", "a_4", "Daily", "daily_5"), names)
  }

  test("CacheRegistry releases everything the pipelines persisted") {
    val corpus = Seq((1L, "a b c d e f g h i j k l"), (2L, "m n o p q r s t u v w x"))
      .toDF("doc_id", "text")
    graft.pipelines.CorpusPipeline.curate(corpus).collect()
    assert(graft.CacheRegistry.trackedCount > 0, "curate must register its caches")
    graft.CacheRegistry.releaseAll()
    assert(graft.CacheRegistry.trackedCount === 0)
  }

  test("ExcelSink column refs extend past Z") {
    assert(ExcelSink.colRef(0) === "A" && ExcelSink.colRef(25) === "Z")
    assert(ExcelSink.colRef(26) === "AA" && ExcelSink.colRef(701) === "ZZ")
    assert(ExcelSink.colRef(702) === "AAA")
  }

  // ── Corpus curation (LLM training-data path) ───────────────────────────

  test("CorpusPipeline.curate: quality, language, dedup, features compose") {
    val long = "the quick brown fox jumps over the lazy dog and then " +
      "the dog sleeps in the sun for a while longer"
    val corpus = Seq(
      (1L, long),                                  // kept
      (2L, long),                                  // exact dup of 1 → dropped
      (3L, long + " again"),                       // near-dup of 1 → dropped
      (4L, "too short"),                           // quality-dropped (n_tokens)
      (5L, "der ein sch ich und der ein sch ich und der ein sch ich und"), // de → lang-dropped
      (6L, "the theory and the notion of the motion keeps the attention " +
        "of the nation during the session"))       // kept
      .toDF("doc_id", "text")
    val kept = graft.pipelines.CorpusPipeline.curate(corpus)
    val rows = kept.collect().map(r => r.getAs[Long]("doc_id") ->
      r.getAs[Long]("dup_count")).toMap
    assert(rows === Map(1L -> 2L, 6L -> 1L))
    val cols = kept.columns.toSet
    for (c <- Seq("n_tokens", "subword_tokens", "fingerprint", "predicted_lang"))
      assert(cols.contains(c), s"missing feature column $c")
    assert(kept.filter(col("predicted_lang") =!= "en").count() === 0)
  }

  test("CorpusPipeline.curateSemantic: the text legs are curate's, then " +
       "semantic twins collapse to the (n_tokens desc, id asc) " +
       "representative; docs without embeddings are implicitly kept") {
    val longA = "the quick brown fox jumps over the lazy dog and then " +
      "the dog sleeps in the sun for a while longer"
    val longB = "the theory and the notion of the motion keeps the " +
      "attention of the nation during the session and the recession " +
      "and then the procession follows the session"
    val longC = "the meeting of the board was held in the morning and " +
      "the agenda covered the budget and the hiring and the audit"
    val corpus = Seq(
      (1L, longA),            // kept; semantic twin of 6 (same embedding)
      (4L, "too short"),      // quality-dropped before the semantic leg
      (6L, longB),            // semantic twin of 1, MORE tokens → the rep
      (7L, longC))            // kept, isolated vector
      .toDF("doc_id", "text")
    val vA = (0 until 8).map(d => math.sin(d * 1.3))
    val vC = (0 until 8).map(d => math.cos(d * 2.7))
    val emb = Seq(
      (1L, vA), (6L, vA.map(_ * 1.0001)),  // cos ~ 1: one cluster
      (4L, vC),                            // quality-dropped upstream
      (7L, vC.map(_ * -1.0)))              // isolated (cos -1 vs 4's)
      .toDF("vec_id", "embedding")
    val kept = graft.pipelines.CorpusPipeline.curateSemantic(
      corpus, emb, semanticThreshold = 0.95, shards = 2)
    // 6 beats 1 on n_tokens; 7 isolated; 4 never reached the leg; and a
    // doc with NO embedding row must survive untouched
    assert(kept.select("doc_id").as[Long].collect().toSet === Set(6L, 7L))
    val noEmb = graft.pipelines.CorpusPipeline.curateSemantic(
      corpus, emb.filter(col("vec_id") =!= 7L),
      semanticThreshold = 0.95, shards = 2)
    assert(noEmb.select("doc_id").as[Long].collect().toSet === Set(6L, 7L),
      "a kept doc without an embedding never enters the pair graph")
    assert(kept.columns.toSet ===
      graft.pipelines.CorpusPipeline.curate(corpus).columns.toSet,
      "the semantic leg is a row filter — every feature column survives")
    graft.CacheRegistry.releaseAll()
  }

  test("CorpusPipeline.curate normalizeText: decomposed rendering collapses into its dup") {
    val base = "the quick brown fox jumps over the lazy dog cafe" +
      " and then the dog sleeps in the sun for a while longer"
    // same text with the accent DECOMPOSED (e + U+0301) and doubled spaces:
    // byte-distinct, rendering-identical
    val decomposed = base.replace("cafe", "café")
      .replace(" and ", "  and ")
    val precomposed = base.replace("cafe", "café")
    val corpus = Seq((1L, precomposed), (2L, decomposed)).toDF("doc_id", "text")
    // without normalization the two renderings stay distinct documents
    val raw = graft.pipelines.CorpusPipeline.curate(corpus)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    graft.CacheRegistry.releaseAll()
    assert(raw === Set(1L, 2L))
    // with it, exact dedup sees one document carrying both copies
    val normed = graft.pipelines.CorpusPipeline.curate(corpus,
        graft.pipelines.CorpusPipeline.Config(normalizeText = true))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dup_count"))
    graft.CacheRegistry.releaseAll()
    assert(normed.toSeq === Seq(1L -> 2L))
  }

  // ── E2: anonymizer directory walk ──────────────────────────────────────

  private def writeAnonFixture(): (String, String, String) = {
    val inDir = tmpDir("graft-anon-in")
    val outDir = tmpDir("graft-anon-out")
    val keyDir = tmpDir("graft-anon-key")
    // stale partition that must be IGNORED (latest-partition pruning, S3)
    new java.io.File(s"$inDir/2024-01-01").mkdirs()
    val stale = new java.io.PrintWriter(s"$inDir/2024-01-01/acme-old.csv")
    stale.println("customer,uid,amount"); stale.println("STALE,999,1.0"); stale.close()
    // latest partition: one CSV + one parquet
    new java.io.File(s"$inDir/2024-02-01").mkdirs()
    val csv = new java.io.PrintWriter(s"$inDir/2024-02-01/acme-settlement.csv")
    csv.println("Customer,uid,Amount,note")
    csv.println("Acme Corp,101,100.0,acme corp invoice")
    csv.println("Globex,102,200.0,plain row")
    csv.close()
    Seq(("Acme Corp", "201", 50.0), ("Globex", "202", 75.0))
      .toDF("customer", "uid", "amount")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$inDir/2024-02-01/acme-history.parquet.dir")
    // promote the part file so the fixture is a bare .parquet FILE like the reference's
    val fs = new org.apache.hadoop.fs.Path(inDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$inDir/2024-02-01/acme-history.parquet.dir"))
      .map(_.getPath).find(_.getName.startsWith("part-")).get
    fs.rename(part, new org.apache.hadoop.fs.Path(s"$inDir/2024-02-01/acme-history.parquet"))
    fs.delete(new org.apache.hadoop.fs.Path(s"$inDir/2024-02-01/acme-history.parquet.dir"), true)
    (inDir, outDir, keyDir)
  }

  test("AnonymizePipeline.run: latest partition only, rename, anonymize, stamp") {
    val (inDir, outDir, keyDir) = writeAnonFixture()
    val outs = AnonymizePipeline.run(spark, inDir, outDir, keyDir,
      client = "acme", clock = Some("2026-01-01T00:00:00")).sorted
    assert(outs === Seq(
      s"$outDir/client_demo-history.parquet",
      s"$outDir/client_demo-settlement.snappy.parquet"))
    outs.foreach(p => assert(new java.io.File(p).isFile, s"$p must be a single file"))

    val settle = spark.read.parquet(outs(1))
    // stale partition ignored (its row would be a third output row / file)
    assert(settle.count() === 2)
    val r = settle.orderBy("amount").collect()
    // labels enumerated from the column's own sorted distinct set
    assert(r.map(_.getAs[String]("customer")).toSeq === Seq("ANON_CLIENT 1", "ANON_CLIENT 2"))
    // value scaling ×1.0125
    assert(r.map(_.getAs[Double]("amount")).toSeq === Seq(101.25, 202.5))
    // audit stamps with injected clock
    assert(r.forall(_.getAs[String]("process_time") === "2026-01-01T00:00:00"))
    assert(r.forall(_.getAs[String]("timezone") === "America/Chicago"))
    // uids pseudonymized to 10-hex blake2b tokens
    val uids = r.map(_.getAs[String]("uid")).toSeq
    assert(uids.forall(_.matches("[0-9a-f]{10}")))
    // non-target columns untouched apart from label-in-text anonymization scope
    assert(settle.columns.toSeq.contains("note"))
  }

  test("AnonymizePipeline: pseudonyms are stable across runs and files") {
    val (inDir, outDir, keyDir) = writeAnonFixture()
    val run1 = AnonymizePipeline.run(spark, inDir, outDir, keyDir, "acme",
      clock = Some("2026-01-01T00:00:00"))
    val first = spark.read.parquet(run1.head)
      .select("uid").as[String].collect().toSet
    val outDir2 = tmpDir("graft-anon-out2")
    val run2 = AnonymizePipeline.run(spark, inDir, outDir2, keyDir, "acme",
      clock = Some("2026-02-02T00:00:00"))
    val second = spark.read.parquet(run2.head)
      .select("uid").as[String].collect().toSet
    assert(first === second, "same uids must map to the same pseudonyms across runs")
  }

  test("AnonymizePipeline: one key-table write per uid column per run, same " +
    "outputs and key tables as per-file cdmAnonymization") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import graft.operators.Anonymize
    import graft.sources.Tables
    val inDir = tmpDir("graft-anon2-in")
    val keyDir = tmpDir("graft-anon2-key")
    val refKeyDir = tmpDir("graft-anon2-refkey")
    val clock = "2026-01-01T00:00:00"
    // three files share `uid`; one also carries `meter`; the second day
    // repeats some ids of the first
    def writeDay(day: String, u: Seq[Int], m: Seq[String]): Unit = {
      val dir = s"$inDir/$day"
      new java.io.File(dir).mkdirs()
      def csv(name: String, lines: String*): Unit = {
        val w = new java.io.PrintWriter(s"$dir/$name")
        try lines.foreach(w.println) finally w.close()
      }
      csv("acme-usage.csv", "uid,CustomerCode,usage",
        s"${u(0)},Acme Corp,1.5", s"${u(1)},Globex,2.0", s"${u(2)},Acme Corp,3.0")
      csv("acme-meters.csv", "meter,uid,brand,value",
        s"${m(0)},${u(0)},BrightHome,1.0", s"${m(1)},${u(3)},SunVolt,2.0")
      Seq((u(1).toString, "SunVolt", 5.0), (u(4).toString, "BrightHome", 6.0))
        .toDF("uid", "brand", "amount").coalesce(1).write.parquet(s"$dir/billing.dir")
      new java.io.File(s"$dir/billing.dir").listFiles()
        .find(_.getName.startsWith("part-")).get
        .renameTo(new java.io.File(s"$dir/acme-billing.parquet"))
    }
    val keyWrites = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.logical.collect { case c: InsertIntoHadoopFsRelationCommand => c.outputPath }
          .filter(_.toString.contains(keyDir)).foreach(p => keyWrites.add(p.getName))
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    def fields(s: org.apache.spark.sql.types.StructType) = s.map(f => f.name -> f.dataType)
    spark.listenerManager.register(listener)
    try {
      Seq(("2024-03-01", Seq(101, 102, 103, 104, 105), Seq("M1", "M2")),
          ("2024-03-02", Seq(101, 106, 103, 107, 108), Seq("M1", "M3"))).foreach {
        case (day, u, m) =>
          writeDay(day, u, m)
          val outDir = tmpDir("graft-anon2-out")
          val outs = AnonymizePipeline.run(spark, inDir, outDir, keyDir, "acme", clock = Some(clock))
          org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
          assert(keyWrites.asScala.sorted === Seq(".tmp-key_meter", ".tmp-key_uid"), day)
          keyWrites.clear()
          // the per-file composition: one upsert per file × uid column
          val files = Tables.partitionFiles(spark, s"$inDir/$day")
          assert(outs.size === files.size)
          files.zip(outs).foreach { case ((kind, path), out) =>
            val df = if (kind == "csv") Tables.csv(spark, path) else Tables.parquet(spark, path)
            val ref = Anonymize.stampAudit(
              Anonymize.cdmAnonymization(spark, df, refKeyDir), clock = Some(clock))
            val (refFields, refRows) =
              try (fields(ref.schema), ref.collect().toSeq)
              finally graft.CacheRegistry.releaseAll()
            val got = spark.read.parquet(out)
            assert(fields(got.schema) === refFields, out)
            assert(got.collect().toSeq === refRows, out)
          }
      }
    } finally spark.listenerManager.unregister(listener)
    Seq("uid", "meter").foreach { c =>
      def key(dir: String): Set[Row] = Anonymize.readKeyTable(spark, dir, c).collect().toSet
      assert(key(keyDir) === key(refKeyDir), c)
      assert(key(keyDir).size === (if (c == "uid") 8 else 3), c)
    }
  }

  test("datasetCard: volumes, duplicate pressure, language share on a " +
    "crafted corpus") {
    val docs = Seq(
      (1L, "the cat sat", "en", "s1"),
      (2L, "the cat sat", "en", "s1"),   // exact dup of 1
      (3L, "a dog here now", "de", "s1"),
      (4L, "one two three", "en", "s2"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val card = graft.pipelines.CorpusPipeline.datasetCard(docs)
      .collect().map(r => r.getString(0) -> r).toMap
    val s1 = card("s1")
    assert(s1.getLong(1) === 3L)
    assert(s1.getLong(3) === 3L + 3L + 4L,
      "token sum: 3 + 3 + 4 with the dup counted")
    assert(s1.getLong(4) === 1L, "one exact duplicate")
    assert(s1.getLong(5) === 2L, "two declared-en docs")
    val s2 = card("s2")
    assert(s2.getLong(1) === 1L && s2.getLong(4) === 0L)
  }
}
