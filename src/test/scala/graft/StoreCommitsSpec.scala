package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.{DedupState, EmbeddingStore, HnswGeoStore, IVF, StoreCommits}
import graft.streaming.StreamingEvents

/** The one on-disk commit format: every marker a lifecycle op or a sink
  * writes carries its writer, a marker without one fails every reader
  * loudly with the rebuild remedy, and no reader arm for older vintages
  * comes back into the main sources.
  */
class StoreCommitsSpec extends SparkSpec {
  import spark.implicits._

  /** The store's markers read as raw parquet (not through StoreCommits):
    * key → writer, with a null writer kept as null.
    */
  private def rawWriters(path: String, keyCol: String): Map[Long, String] =
    spark.read.option("mergeSchema", "true").parquet(s"$path/commits")
      .select(col(keyCol), col("writer")).collect()
      .map(r => r.getAs[Number](0).longValue -> r.getString(1)).toMap

  /** Overwrite one marker with the pre-writer layout (is_base only). */
  private def stripWriter(path: String, key: String): Unit = {
    val isBase = spark.read.parquet(s"$path/commits/$key")
      .select("is_base").as[Boolean].head()
    Seq(Tuple1(isBase)).toDF("is_base").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/commits/$key")
  }

  private val seedEmb = Seq(
    1L -> Array(1f, 0f, 0f, 0f),
    2L -> Array(0.98f, 0.02f, 0f, 0f),
    3L -> Array(0f, 1f, 0f, 0f),
    4L -> Array(0.02f, 0.98f, 0f, 0f))

  test("every marker written by each store family's lifecycle ops and " +
       "by the sinks carries a non-null writer") {
    // geo store with an attribute payload, so updateAttrs runs too
    val geoDir = tmpDir("graft-fmt-geo")
    val emb = seedEmb.map { case (id, v) => (id, v, id % 2) }
      .toDF("vec_id", "embedding", "bucket")
    val index = IVF.train(emb.select("vec_id", "embedding"), k = 2, iters = 2)
    var geo = HnswGeoStore.build(spark, emb, geoDir, index)           // 0
    geo = HnswGeoStore.append(spark, geo,
      Seq((5L, Array(0f, 0f, 1f, 0f), 1L))
        .toDF("vec_id", "embedding", "bucket"))                       // 1
    geo = HnswGeoStore.compact(spark, geo)                            // 2
    geo = HnswGeoStore.delete(spark, geo, Seq(2L).toDF("vec_id"))     // 3
    geo = HnswGeoStore.updateAttrs(spark, geo,
      Seq((1L, 7L)).toDF("vec_id", "bucket"))                         // 4
    val (retrained, report) = HnswGeoStore.retrainIfDrifted(spark, geo,
      driftFactor = 1e-9, iters = 2)                                  // 5
    assert(report.retrained, report)
    val geoOut = tmpDir("graft-fmt-geo-out")
    StreamingEvents.geoAdmitBatch(
      Seq((11L, Array(0f, 0f, 0f, 1f), 0L))
        .toDF("vec_id", "embedding", "bucket"),
      0L, geoDir, s"$geoOut/adm", threshold = 0.9, compactEvery = 0)  // 6
    StreamingEvents.geoEraseBatch(Seq(3L).toDF("vec_id"), 0L, geoDir,
      s"$geoOut/ers")                                                 // 7
    assert(HnswGeoStore.load(spark, geoDir).epoch === retrained.epoch + 2)
    assert(rawWriters(geoDir, "epoch") === Map(
      0L -> "lifecycle", 1L -> "lifecycle", 2L -> "lifecycle",
      3L -> "lifecycle", 4L -> "lifecycle", 5L -> "lifecycle",
      6L -> "stream:batch=0", 7L -> "erase:batch=0"))

    // generational text store
    val textDir = tmpDir("graft-fmt-text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five"),
      (3L, "six seven eight nine ten")).toDF("doc_id", "text")
    var text = DedupState.build(spark, corpus, textDir)               // 0
    text = DedupState.admit(spark, text,
      Seq((4L, "eleven twelve thirteen fourteen fifteen"))
        .toDF("doc_id", "text"), 0.5)._2                              // 1
    text = DedupState.compact(spark, text)                            // 2
    text = DedupState.forget(spark, text, Seq(2L).toDF("doc_id"))     // 3
    val textOut = tmpDir("graft-fmt-text-out")
    StreamingEvents.dedupAdmitBatch(
      Seq((10L, "sixteen seventeen eighteen nineteen twenty"))
        .toDF("doc_id", "text"),
      0L, textDir, s"$textOut/adm", 0.5, compactEvery = 0)            // 4
    StreamingEvents.dedupEraseBatch(Seq(3L).toDF("doc_id"), 0L, textDir,
      s"$textOut/ers")                                                // 5
    assert(rawWriters(textDir, "gen") === Map(
      0L -> "lifecycle", 1L -> "lifecycle", 2L -> "lifecycle",
      3L -> "lifecycle", 4L -> "stream:batch=0", 5L -> "erase:batch=0"))

    // embedding store: lifecycle ops, then its streaming sink
    val embDir = tmpDir("graft-fmt-emb")
    val vecs = seedEmb.toDF("vec_id", "embedding")
    var es = EmbeddingStore.build(spark, vecs, embDir, k = 2, iters = 2)
    es = EmbeddingStore.append(spark, es,
      Seq(5L -> Array(0f, 0f, 1f, 0f)).toDF("vec_id", "embedding"))
    es = EmbeddingStore.compact(spark, es)
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(Long, Array[Float])]
    val q = StreamingEvents.embeddingAdmissionStream(
      stream.toDF().toDF("vec_id", "embedding"), embDir,
      s"${tmpDir("graft-fmt-emb-out")}/rows", tmpDir("graft-fmt-emb-ckpt"),
      threshold = 0.9)
    try {
      stream.addData(Seq(12L -> Array(0f, 0f, 0f, 1f)))
      q.processAllAvailable()
    } finally q.stop()
    assert(rawWriters(embDir, "epoch") === Map(
      0L -> "lifecycle", 1L -> "lifecycle", 2L -> "lifecycle",
      3L -> "stream:batch=0"))
    // and StoreCommits reads back exactly what was written
    assert(StoreCommits.read(spark, embDir, "epoch=2") === ((true, "lifecycle")))
    assert(StoreCommits.read(spark, embDir, "epoch=3") ===
      ((false, "stream:batch=0")))
    CacheRegistry.releaseAll()
  }

  test("a marker without a writer fails StoreCommits.read, latest*, load " +
       "and a replay loudly, naming the rebuild remedy, and the store is " +
       "left untouched") {
    def assertRebuild(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains("no writer") &&
        e.getMessage.contains("rebuild the store"), e.getMessage)
    }
    val geoDir = tmpDir("graft-nowriter-geo")
    val geoOut = s"${tmpDir("graft-nowriter-geo-out")}/rows"
    val seed = seedEmb.toDF("vec_id", "embedding")
    HnswGeoStore.build(spark, seed, geoDir,
      IVF.train(seed, k = 2, iters = 2))
    val batch = Seq(11L -> Array(0f, 0f, 1f, 0f)).toDF("vec_id", "embedding")
    StreamingEvents.geoAdmitBatch(batch, 0L, geoDir, geoOut,
      threshold = 0.9, compactEvery = 0)
    stripWriter(geoDir, "epoch=1")
    assertRebuild(StoreCommits.read(spark, geoDir, "epoch=1"))
    assertRebuild(HnswGeoStore.latestEpoch(spark, geoDir))
    assertRebuild(HnswGeoStore.load(spark, geoDir))
    // the crash-replay of batch 0 finds the writerless marker at its
    // allocation: it must neither guess nor overwrite
    assertRebuild(StreamingEvents.geoAdmitBatch(batch, 0L, geoDir, geoOut,
      threshold = 0.9, compactEvery = 0))
    assert(rawWriters(geoDir, "epoch") ===
      Map(0L -> "lifecycle", 1L -> null), "the marker was rewritten")
    assert(spark.read.parquet(s"$geoDir/segments/epoch=1")
      .select("vec_id").as[Long].collect().toSet === Set(11L))

    val textDir = tmpDir("graft-nowriter-text")
    val textOut = s"${tmpDir("graft-nowriter-text-out")}/rows"
    DedupState.build(spark,
      Seq((1L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text"),
      textDir)
    val docs = Seq((2L, "one two three four five")).toDF("doc_id", "text")
    StreamingEvents.dedupAdmitBatch(docs, 0L, textDir, textOut, 0.5, 0)
    stripWriter(textDir, "gen=1")
    assertRebuild(DedupState.latestGen(spark, textDir))
    assertRebuild(DedupState.load(spark, textDir))
    assertRebuild(StreamingEvents.dedupAdmitBatch(docs, 0L, textDir, textOut,
      0.5, 0))
    assert(rawWriters(textDir, "gen") === Map(0L -> "lifecycle", 1L -> null))
    CacheRegistry.releaseAll()
  }

  test("no main source mentions a retired old-vintage reader arm or " +
       "retired store layout") {
    import scala.jdk.CollectionConverters._
    // split so this file does not match itself if the test tree is ever
    // scanned the same way
    val needles = Seq("upgrade" + "Legacy", "commits" + "_writer",
      "_stream" + "_instance", "stream" + "InstanceId", "instance" + "Id",
      // the dedup catalog snapshot layout and its bucketed-table writer
      "load" + "Catalog", "migrate" + "Catalog", "write" + "Snapshot",
      "Bucket" + "ing",
      // the second HNSW search stack: the filtered scan is the only scan
      "searchLayer" + "Filtered", "searchGraph" + "Filtered",
      "shardScan" + "Filtered", "batchScan" + "Filtered",
      "pairStream" + "Filtered", "pairScan" + "Filtered",
      "filtered" + "Serve")
    val root = java.nio.file.Path.of("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), "run from the repo root")
    val hits = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = java.nio.file.Files.readString(p)
        needles.filter(src.contains)
          .map(n => s"${root.relativize(p)}: $n")
      }.toSeq.sorted
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
