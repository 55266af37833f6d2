package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Sustained-throughput measurement for the heaviest streaming sinks
  * ([[graft.streaming.StreamingEvents.dedupAdmissionStream]],
  * [[graft.streaming.StreamingEvents.embeddingAdmissionStream]] and the
  * geo-routed [[graft.streaming.StreamingEvents.hnswGeoAdmissionStream]]) —
  * StreamingSpec pins their SEMANTICS (stream = batch ×12+); this tool
  * measures their RATE, which no spec had ever done.
  *
  * Protocol: seed the persistent store with the first `seedFrac` of the
  * sf corpus, then stream the remainder through in `nBatches` equal
  * micro-batches (MemoryStream + processAllAvailable — each batch's wall
  * time is isolated, no trigger-interval idle time in the measurement),
  * with compaction enabled (`compactEvery = 5`). Per-batch wall seconds,
  * admitted-row counts, and the on-disk state size after each epoch are
  * printed; the summary line gives sustained rows/sec over all batches.
  *
  * What the epoch column must show for the scaladoc's claim to hold: the
  * generational store writes only batch-sized increments, so per-batch
  * seconds must stay ~flat as the standing corpus grows (epoch 1 vs
  * epoch N), and state bytes must grow linearly with ADMITTED rows, with
  * drops at each compaction base where superseded generations vacuum.
  *
  * Usage: sbt "runMain graft.tools.StreamingBench [nBatches] [sfDir]"
  */
object StreamingBench {
  def main(args: Array[String]): Unit = {
    val nBatches = args.headOption.map(_.toInt).getOrElse(20)
    val sfDir = args.drop(1).headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val compactEvery = 5
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.maxPlanStringLength", "1000000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.streaming.checkpointLocation.deleteOnExit", "true")
      // sort writer, never bypass — see the Bench.scala session note
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val base = s"${System.getProperty("java.io.tmpdir")}/graft-streaming-bench"
    def fresh(sub: String): String = {
      val p = new org.apache.hadoop.fs.Path(s"$base/$sub")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(p, true)
      p.toString
    }
    def dirBytes(path: String): Long = {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength
    }

    /** Drive one admission sink: feed `batches` one at a time through
      * `mkQuery`'s stream, time each `processAllAvailable`, report.
      */
    def drive[T](label: String, batches: Seq[Seq[T]], stateDir: String,
                 stream: MemoryStream[T],
                 mkQuery: () => org.apache.spark.sql.streaming.StreamingQuery)
        : Unit = {
      val q = mkQuery()
      val times = new scala.collection.mutable.ArrayBuffer[Double]
      try {
        batches.zipWithIndex.foreach { case (b, i) =>
          val t0 = System.nanoTime()
          stream.addData(b)
          q.processAllAvailable()
          val dt = (System.nanoTime() - t0) / 1e9
          times += dt
          println(f"STREAMBENCH $label batch=$i rows=${b.size} " +
            f"sec=$dt%.2f state_bytes=${dirBytes(stateDir)}")
        }
      } finally q.stop()
      val rows = batches.map(_.size).sum
      val total = times.sum
      // flatness check: mean of the last 5 batches vs first 5 (after the
      // epoch-0 warmup) — the corpus-size-independence claim in numbers.
      // Early-vs-late only means something when the windows are disjoint
      // (>= 11 batches); below that, print overall mean twice rather
      // than a self-comparison (or NaN at 1 batch)
      val (head5, tail5) =
        if (times.size >= 11) (times.slice(1, 6), times.takeRight(5))
        else (times.toSeq, times.toSeq)
      println(f"STREAMBENCH $label SUMMARY rows=$rows batches=${batches.size} " +
        f"total_sec=$total%.1f rows_per_sec=${rows / total}%.0f " +
        f"head5_mean=${head5.sum / head5.size}%.2f " +
        f"tail5_mean=${tail5.sum / tail5.size}%.2f")
    }

    /** Equal micro-batches with NO silent cap: when rows don't divide
      * evenly, the remainder is reported, not quietly dropped.
      */
    def mkBatches[T](rest: Seq[T], label: String): Seq[Seq[T]] = {
      val per = math.max(1, rest.size / nBatches)
      val bs = rest.grouped(per).take(nBatches).toSeq
      val used = bs.map(_.size).sum
      if (used < rest.size)
        println(s"STREAMBENCH $label: streaming $used of ${rest.size} rows " +
          s"(${rest.size - used} remainder dropped for $nBatches equal batches)")
      bs
    }

    // ── corpus admission (documents) ────────────────────────────────────
    {
      val docs = graft.sources.Tables.table(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id"))
        .as[(Long, String)].collect().toSeq
      val seedN = docs.size / 10
      val (seed, rest) = docs.splitAt(seedN)
      val stateDir = fresh("dedup-state")
      val outDir = fresh("dedup-out")
      val ckpt = fresh("dedup-ckpt")
      graft.operators.DedupState.build(spark,
        seed.toDF("doc_id", "text"), stateDir)
      graft.CacheRegistry.releaseAll()
      val batches = mkBatches(rest, "corpus_admission")
      val stream = MemoryStream[(Long, String)]
      drive("corpus_admission", batches, stateDir, stream,
        () => graft.streaming.StreamingEvents.dedupAdmissionStream(
          stream.toDF().toDF("doc_id", "text"), stateDir, outDir, ckpt,
          threshold = 0.8, compactEvery = compactEvery))
      graft.CacheRegistry.releaseAll()
    }

    // ── embedding admission (vectors) ───────────────────────────────────
    {
      val emb = graft.sources.Tables.table(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id"))
        .as[(Long, Array[Float])].collect().toSeq
      val seedN = emb.size / 10
      val (seed, rest) = emb.splitAt(seedN)
      val stateDir = fresh("emb-state")
      val outDir = fresh("emb-out")
      val ckpt = fresh("emb-ckpt")
      graft.operators.EmbeddingStore.build(spark,
        seed.toDF("vec_id", "embedding"), stateDir, k = 8, iters = 3)
      graft.CacheRegistry.releaseAll()
      val batches = mkBatches(rest, "embedding_admission")
      val stream = MemoryStream[(Long, Array[Float])]
      drive("embedding_admission", batches, stateDir, stream,
        () => graft.streaming.StreamingEvents.embeddingAdmissionStream(
          stream.toDF().toDF("vec_id", "embedding"), stateDir, outDir, ckpt,
          threshold = 0.2, compactEvery = compactEvery))
      graft.CacheRegistry.releaseAll()
    }

    // ── GEO-routed graph-index admission (segmented geo store) ──────────
    {
      val emb = graft.sources.Tables.table(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding"))
        .orderBy(col("vec_id"))
        .as[(Long, Array[Float])].collect().toSeq
      val seedN = emb.size / 10
      val (seed, rest) = emb.splitAt(seedN)
      val stateDir = fresh("hnsw-geo-state")
      val outDir = fresh("hnsw-geo-out")
      val ckpt = fresh("hnsw-geo-ckpt")
      // the frozen-geometry discipline: the index is trained once on the
      // seed (a sample of the expected distribution) and every batch
      // assigns against it; k = 8 matches the embedding section's cell
      // count so the rates read side by side
      val index = graft.operators.IVF.train(
        seed.toDF("vec_id", "embedding"), k = 8, iters = 3)
      graft.operators.HnswGeoStore.build(spark,
        seed.toDF("vec_id", "embedding"), stateDir, index)
      graft.CacheRegistry.releaseAll()
      val batches = mkBatches(rest, "hnsw_geo_admission")
      val stream = MemoryStream[(Long, Array[Float])]
      drive("hnsw_geo_admission", batches, stateDir, stream,
        () => graft.streaming.StreamingEvents.hnswGeoAdmissionStream(
          stream.toDF().toDF("vec_id", "embedding"), stateDir, outDir, ckpt,
          threshold = 0.2, compactEvery = compactEvery))
      graft.CacheRegistry.releaseAll()
    }
    spark.stop()
  }
}
