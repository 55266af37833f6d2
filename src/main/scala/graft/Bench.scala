package graft

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line for the driver.
  *
  * Each query is forced through the `noop` sink — a full evaluation of every
  * row and column of the result with zero write cost. (`count()` would let
  * Catalyst prune every column the count doesn't need, optimizing the
  * projection work of most queries out of the measurement.) Failures are
  * recorded per-query instead of being folded into a fake timing.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // CLEAN-SCRATCH HARNESS (round-17 verdict #5): the store-lifecycle
    // queries are commit-heavy writers, and stale tmp litter from prior
    // runs measurably taxes them (round-17 attribution: clearing ~2,100
    // stale graft-* dirs recovered 12–17% on isolated re-runs). Every
    // bench run therefore gets a FRESH scratch root — re-pointing
    // java.io.tmpdir BEFORE the session exists, so Spark local dirs and
    // every query's store path land inside it — torn down afterwards.
    val scratch =
      java.nio.file.Files.createTempDirectory("graft-bench-scratch-")
    System.setProperty("java.io.tmpdir", scratch.toString)
    val spark = GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    // q14 (label enum) and q16 (moving average) run global-order windows
    // over ≤30 POST-AGGREGATION rows — tiny by construction, and Spark 4's
    // EliminateWindowPartitions folds away any constant partition key that
    // would silence the "No Partition Defined" warning, so it floods the
    // log hundreds of times per run. Silence the window package in this
    // driver-facing main only — tests keep the warning visible so a real
    // unpartitioned window on a fact-scale path can't hide in noise.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window", org.apache.logging.log4j.Level.ERROR)
    // Warm the session OUTSIDE the measurement (parquet reader, codegen,
    // shuffle machinery, noop sink): alphabetical order otherwise bills the
    // whole JVM/JIT spin-up to whichever query happens to run first.
    try spark.read.parquet(s"$sfDir/nation.parquet")
      .groupBy("n_regionkey").count()
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Best-of-N (default 2): per-query minimum across full passes. The
    // second pass measures steady state; the min filters one-off noise
    // (GC pause, host neighbor) without hiding real regressions — a
    // genuinely slow plan is slow on every pass.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    // Local-iteration subset (regex over query names). The driver never
    // sets it, so the per-round artifact always measures everything.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.r)
    def selected(name: String): Boolean =
      only.forall(_.findFirstIn(name).isDefined)
    // Every timed run is keyed `name#n` for GraftMetrics, so each reported
    // time comes with the counters of the run that produced it.
    val metrics = GraftMetrics.of(spark)
    val reportedRun = scala.collection.mutable.Map[String, String]()
    var runs = 0
    def timed[T](into: scala.collection.mutable.Map[String, Double],
                 name: String)(body: => T): T = {
      runs += 1
      val key = s"$name#$runs"
      val t0 = System.nanoTime()
      val r = GraftMetrics.withLeg(spark, key)(body)
      val t = (System.nanoTime() - t0) / 1e9
      if (into.get(name).forall(t < _)) { into(name) = t; reportedRun(name) = key }
      r
    }
    for (_ <- 1 to passes) {
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter(q => selected(q._1)).foreach { case (name, fn) =>
        try {
          timed(timings, name) {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          }
          // a query is "errored" only if it NEVER succeeded: a transient
          // failure on one pass must not leave a contradictory report
          errors.remove(name)
        } catch {
          case e: Throwable if !timings.contains(name) =>
            errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          case e: Throwable =>
            System.err.println(s"[bench] $name transient failure after success: ${e.getMessage}")
        }
        // drop persisted intermediates (dedup posting lists) after EVERY
        // query, not just per pass: canonicalized-plan cache hits would let
        // q23/q24 ride q22's posting list and under-report their own
        // end-to-end cost — each number must be attributable to its query
        CacheRegistry.releaseAll()
      }
      spark.sharedState.cacheManager.clearCache()
    }
    // Targeted outlier retries: a contended host window (documented in
    // BASELINE.md — same-code boot spreads up to 2.6×) can straddle BOTH
    // passes for a contiguous alphabetical block, leaving minutes-late
    // artifacts (r8: q26 17.3 s vs 1.7 s local) that best-of-2 cannot
    // rescue. Queries whose best time still exceeds the floor get up to
    // two more runs EACH, late in the run when the window has usually
    // passed; min-of-all-runs stays the honest estimator (a genuinely
    // slow plan is slow on every attempt, so retries never hide a real
    // regression). Early-out when a retry stops improving by >10%.
    val retryFloorSec = 2.0
    timings.toSeq.filter(_._2 > retryFloorSec).sortBy(-_._2).foreach {
      case (name, _) =>
        val fn = SparkEntry.queries(name)
        var attempts = 0
        var improving = true
        while (attempts < 2 && improving && timings(name) > retryFloorSec) {
          val before = timings(name)
          try {
            timed(timings, name) {
              fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            }
            improving = timings(name) < before * 0.9
          } catch { case e: Throwable =>
            improving = false
            System.err.println(s"[bench] retry of $name failed: ${e.getMessage}")
          }
          attempts += 1
          CacheRegistry.releaseAll()
        }
        spark.sharedState.cacheManager.clearCache()
    }
    // Pre-build the persistent dedup store OUTSIDE the timing: q80 pays
    // its store build inside the measurement for honest attribution (as
    // q38 pays its training), but a deployment builds once and amortizes —
    // the incremental_store_batch scale line below measures what a
    // production batch actually costs. 90/10 corpus/batch split: the
    // corpus side is the big one, which is the whole point of the store.
    val storeDir = s"${System.getProperty("java.io.tmpdir")}/graft-dedup-state-bench"
    val storeSplit = if (!Seq("incremental_store_batch_xxhash64",
        "admission_batch_xxhash64").exists(selected)) None else try {
      import org.apache.spark.sql.functions.{col, max}
      val docs = graft.sources.Tables.table(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      val cut = docs.agg(max("doc_id")).head().getLong(0) * 9 / 10
      graft.operators.DedupState.build(spark, docs.filter(col("doc_id") <= cut),
        storeDir)
      CacheRegistry.releaseAll()
      Some((docs, cut))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] store pre-build failed: ${e.getMessage}")
      None
    }
    // Same amortization for the embedding store: q83/q84 rebuild their
    // stores in-measurement; the *_batch lines below time only the
    // per-batch query a deployment pays after building once.
    // ANN store pre-build (q147's deployment shape): index + residual
    // codebooks + per-vector codes persisted once; the ann_store_batch
    // line times only the stored-codes query a deployment pays.
    val annStoreDir = s"${System.getProperty("java.io.tmpdir")}/graft-ann-store-bench"
    val annStore = if (!selected("ann_store_batch")) None else try {
      import org.apache.spark.sql.functions.col
      val emb = graft.sources.Tables.table(spark, sfDir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toArray
      val st = graft.operators.EmbeddingStore.buildAnn(spark, emb,
        annStoreDir, k = 16, iters = 5, m = 8, pqK = 16, pqIters = 3)
      CacheRegistry.releaseAll()
      Some((st, q))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] ANN store pre-build failed: ${e.getMessage}")
      None
    }
    val embStoreDir = s"${System.getProperty("java.io.tmpdir")}/graft-emb-store-bench"
    val embSplit = if (!selected("embedding_store_batch")) None else try {
      import org.apache.spark.sql.functions.{col, max}
      val emb = graft.sources.Tables.table(spark, sfDir, "embeddings")
      val cut = emb.agg(max("vec_id")).head().getLong(0) * 9 / 10
      graft.operators.EmbeddingStore.build(spark,
        emb.filter(col("vec_id") <= cut), embStoreDir, k = 8, iters = 3)
      CacheRegistry.releaseAll()
      Some((emb, cut))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] embedding store pre-build failed: ${e.getMessage}")
      None
    }
    // Same amortization for PQ: q127/q128 train codebooks (and q128 its
    // IVF index) inside the measurement; the pq/ivfadc *_batch lines time
    // only the query a deployment pays after training once.
    // Each pre-build runs only when a scale line that consumes it survives
    // the SPARK_GRAFT_BENCH_ONLY filter — the env var exists for fast local
    // iteration, and an excluded line must not drag its training along.
    val pqTrained = if (!Seq("pq_adc_batch", "ivfadc_batch",
        "ivfadc_residual_batch").exists(selected)) None else try {
      import org.apache.spark.sql.functions.col
      val emb = graft.sources.Tables.table(spark, sfDir, "embeddings")
      val q = emb.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toArray
      val cb = graft.operators.PQ.train(emb, dim = q.length, m = 8,
        k = 16, iters = 3)
      val idx = graft.operators.IVF.train(emb, k = 16)
      val cbRes = graft.operators.PQ.trainResidual(emb, idx, dim = q.length,
        m = 8, k = 16, iters = 3)
      CacheRegistry.releaseAll()
      Some((emb, q, cb, idx, cbRes))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] PQ pre-train failed: ${e.getMessage}")
      None
    }
    // Scale-path dedup variants: the seeded-xxhash64 defaults a production
    // user runs. The inventory's q23/q24 use the md5 oracle-portable hashes
    // (~3x the hash cost) so DuckDB can replay them; these lines measure
    // the path users actually get, kept OUT of `total` so the inventory
    // total stays comparable round-over-round.
    val scaleDefs = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "minhash_xxhash64" -> (() => graft.operators.Dedup.minhashNearDups(
        graft.sources.Tables.table(spark, sfDir, "documents"), threshold = 0.8)),
      "simhash_xxhash64" -> (() => graft.operators.Dedup.simhashPairs(
        graft.sources.Tables.table(spark, sfDir, "documents"), maxHamming = 3)),
      "dedup_corpus_xxhash64" -> (() => graft.operators.Dedup.dedupCorpus(
        graft.sources.Tables.table(spark, sfDir, "documents"), threshold = 0.8)),
      "decontaminate_xxhash64" -> (() => graft.operators.Decontaminate.contaminationHashed(
        graft.sources.Tables.table(spark, sfDir, "documents"),
        org.apache.spark.sql.functions.col("source") === "src0")),
      "incremental_dedup_xxhash64" -> (() => {
        import org.apache.spark.sql.functions.col
        val docs = graft.sources.Tables.table(spark, sfDir, "documents")
          .select(col("doc_id"), col("text"))
        graft.operators.Dedup.incrementalDedup(
          docs.filter(col("doc_id") < 300), docs.filter(col("doc_id") >= 300))
      }),
      "decontaminate_bloom" -> (() => graft.operators.Decontaminate.contaminationBloom(
        graft.sources.Tables.table(spark, sfDir, "documents"),
        org.apache.spark.sql.functions.col("source") === "src0",
        expectedTrainShingles = 1000000L)),
      "chunk_dedup_xxhash64" -> (() => graft.operators.Chunking.dedupChunks(
        graft.sources.Tables.table(spark, sfDir, "documents"), 32, hashKey = true)),
      "cdc_chunks_xxhash64" -> (() => graft.operators.Chunking.cdcChunks(
        graft.sources.Tables.table(spark, sfDir, "documents"))),
      "sample_xxhash64" -> (() => {
        import org.apache.spark.sql.functions._
        val docs = graft.sources.Tables.table(spark, sfDir, "documents")
        docs.filter(graft.operators.Sampling.hashBucketXx(
          concat(col("lang"), lit(":"), col("doc_id").cast("string")), 20) < 3)
      }),
      "boilerplate_xxhash64" -> (() => {
        import org.apache.spark.sql.functions._
        graft.operators.Boilerplate.stripCommonLines(
          graft.sources.Tables.table(spark, sfDir, "documents")
            .select(col("doc_id"), regexp_replace(col("text"),
              "((?:\\S+ ){7}\\S+) ", "$1\n").as("text")),
          minDocs = 50, hashLines = true)
      })) ++ storeSplit.toSeq.flatMap { case (docs, cut) =>
        Seq[(String, () => org.apache.spark.sql.DataFrame)](
          "incremental_store_batch_xxhash64" -> (() => {
            import org.apache.spark.sql.functions.col
            graft.operators.DedupState.incrementalNearDups(
              graft.operators.DedupState.load(spark, storeDir),
              docs.filter(col("doc_id") > cut))
          }),
          // q84's deployment shape: the full admission composite (exact
          // anti-join + near-dup drop) against the pre-built store.
          "admission_batch_xxhash64" -> (() => {
            import org.apache.spark.sql.functions.col
            graft.operators.DedupState.incrementalDedup(
              graft.operators.DedupState.load(spark, storeDir),
              docs.filter(col("doc_id") > cut))
          }))
      } ++ pqTrained.toSeq.flatMap { case (emb, q, cb, idx, cbRes) =>
        Seq[(String, () => org.apache.spark.sql.DataFrame)](
          "pq_adc_batch" -> (() => graft.operators.PQ.neighbors(
            emb, cb, q, k = 20, rerank = 200, excludeId = Some(0L))),
          "ivfadc_batch" -> (() => graft.operators.PQ.ivfadcNeighbors(
            emb, idx, cb, q, k = 20, nProbe = 8, rerank = 200,
            excludeId = Some(0L))),
          "ivfadc_residual_batch" -> (() =>
            graft.operators.PQ.ivfadcResidualNeighbors(
              emb, idx, cbRes, q, k = 20, nProbe = 8, rerank = 200,
              excludeId = Some(0L))))
      } ++ annStore.map { case (st, q) =>
        "ann_store_batch" -> (() =>
          graft.operators.EmbeddingStore.annNeighbors(spark, st, q, k = 20,
            nProbe = 8, rerank = 200, excludeId = Some(0L)))
      } ++ embSplit.map { case (emb, cut) =>
        // q83's deployment shape: batch near-dup against the pre-built
        // cell-partitioned store (partition-pruned corpus read).
        "embedding_store_batch" -> (() => {
          import org.apache.spark.sql.functions.col
          graft.operators.EmbeddingStore.nearDupsAgainst(
            graft.operators.EmbeddingStore.load(spark, embStoreDir),
            emb.filter(col("vec_id") > cut), threshold = 0.2)
        })
      }
    val scaleTimings = scala.collection.mutable.LinkedHashMap[String, Double]()
    for (_ <- 1 to passes) scaleDefs.filter(d => selected(d._1)).foreach { case (name, fn) =>
      try timed(scaleTimings, name) {
        fn().write.format("noop").mode("overwrite").save()
      } catch { case e: Throwable =>
        System.err.println(s"[bench] scale-path $name failed: ${e.getMessage}")
      }
      CacheRegistry.releaseAll()
    }
    // q196 per-leg attribution: the lifecycle query is ONE measured
    // number covering train → build → delta append → compaction →
    // routed scan; as rounds add lifecycle steps the total grows for
    // honest reasons that a single figure can't show. These lines run
    // the SAME body (same splits, same store discipline, fresh dir per
    // pass) with each leg timed separately into scale_path, so any
    // growth in q196 decomposes against q196_leg_*. Kept out of `total`
    // like every scale line.
    if (selected("q196_leg_scan")) {
      import org.apache.spark.sql.functions.col
      val legPath =
        s"${System.getProperty("java.io.tmpdir")}/graft-geostore-legs"
      val legFs = new org.apache.hadoop.fs.Path(legPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      for (_ <- 1 to passes) {
        legFs.delete(new org.apache.hadoop.fs.Path(legPath), true)
        try {
          val emb = graft.sources.Tables.table(spark, sfDir, "embeddings")
            .select(col("vec_id"), col("embedding"))
          val index = timed(scaleTimings, "q196_leg_train") {
            graft.operators.IVF.train(emb, 4, 5, maxTrainRows = 400L)
          }
          val base = timed(scaleTimings, "q196_leg_build") {
            graft.operators.HnswGeoStore.build(spark,
              emb.filter(col("vec_id") < 200), legPath, index)
          }
          val grown = timed(scaleTimings, "q196_leg_append") {
            graft.operators.HnswGeoStore.append(spark, base,
              emb.filter(col("vec_id") >= 200 && col("vec_id") < 350))
          }
          val compacted = timed(scaleTimings, "q196_leg_compact") {
            graft.operators.HnswGeoStore.append(spark, grown,
              emb.filter(col("vec_id") >= 350), asBase = true)
          }
          timed(scaleTimings, "q196_leg_scan") {
            graft.operators.HnswGeoStore.nearDupPairs(compacted, 0.35,
                nProbe = 8)
              .write.format("noop").mode("overwrite").save()
          }
        } catch { case e: Throwable =>
          System.err.println(
            s"[bench] q196 leg attribution failed: ${e.getMessage}")
        }
        CacheRegistry.releaseAll()
      }
    }
    // q201's deployment shape: the standing curated-corpus stores are
    // pre-built OUTSIDE the timing (a deployment seeds once and admits
    // daily), then ONE admitBatch of the 10% batch is timed — one pass
    // only, because the admission folds new generations/epochs into the
    // standing stores, so a second pass would measure a different
    // (already-admitted) contract. xxhash64 defaults, like every scale
    // line. q201 itself stays the honest in-measurement form (seed +
    // admit) for the oracle.
    if (selected("admit_batch_ladder")) {
      import org.apache.spark.sql.functions.{col, max}
      val tDir =
        s"${System.getProperty("java.io.tmpdir")}/graft-admit-text-bench"
      val gDir =
        s"${System.getProperty("java.io.tmpdir")}/graft-admit-geo-bench"
      try {
        val hfs = new org.apache.hadoop.fs.Path(tDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        hfs.delete(new org.apache.hadoop.fs.Path(tDir), true)
        hfs.delete(new org.apache.hadoop.fs.Path(gDir), true)
        val docs = graft.sources.Tables.table(spark, sfDir, "documents")
          .select(col("doc_id"), col("text"))
        val emb = graft.sources.Tables.table(spark, sfDir, "embeddings")
          .select(col("vec_id"), col("embedding"))
        val cut = docs.agg(max("doc_id")).head().getLong(0) * 9 / 10
        val cfg = graft.pipelines.CorpusPipeline.Config()
        val standing = graft.pipelines.CorpusPipeline.qualityLang(
            docs.filter(col("doc_id") <= cut), cfg)
          .select(col("doc_id"), col("text"))
        val text = graft.operators.DedupState.build(spark, standing, tDir)
        val standingEmb = emb.filter(col("vec_id") <= cut)
          .join(standing.select(col("doc_id").as("vec_id")),
            Seq("vec_id"), "left_semi")
        val index = graft.operators.IVF.train(standingEmb, 8, 5,
          maxTrainRows = 800L)
        val geo = graft.operators.HnswGeoStore.build(spark, standingEmb,
          gDir, index)
        CacheRegistry.releaseAll()
        timed(scaleTimings, "admit_batch_ladder") {
          val (kept, _) = graft.pipelines.CorpusPipeline.admitBatch(spark,
            graft.pipelines.CorpusPipeline.CorpusState(text, geo),
            docs.filter(col("doc_id") > cut), emb, cfg,
            semanticThreshold = 0.9)
          kept.write.format("noop").mode("overwrite").save()
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] admit_batch_ladder failed: ${e.getMessage}")
      }
      CacheRegistry.releaseAll()
    }
    // q204/q205 per-leg attribution (round 16): the deletion queries
    // bracket the expensive end of the inventory because they build
    // their stores in-measurement (the q201 honesty discipline). These
    // lines run the same bodies with each leg timed separately into
    // scale_path — any growth in the e2e numbers decomposes against
    // q204_leg_* / q205_leg_*. Kept out of `total` like every scale line.
    if (selected("q204_leg_serve")) {
      import org.apache.spark.sql.functions.col
      val legPath =
        s"${System.getProperty("java.io.tmpdir")}/graft-geostore-q204legs"
      val legFs = new org.apache.hadoop.fs.Path(legPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      for (_ <- 1 to passes) {
        legFs.delete(new org.apache.hadoop.fs.Path(legPath), true)
        try {
          val emb = graft.sources.Tables.table(spark, sfDir, "embeddings")
          val corpus = emb.filter(col("vec_id") >= 5)
            .select(col("vec_id"), col("embedding"))
          val index = timed(scaleTimings, "q204_leg_train") {
            graft.operators.IVF.train(corpus, 4, 5, maxTrainRows = 400L)
          }
          val base = timed(scaleTimings, "q204_leg_build") {
            graft.operators.HnswGeoStore.build(spark,
              corpus.filter(col("vec_id") < 300), legPath, index)
          }
          val grown = timed(scaleTimings, "q204_leg_append") {
            graft.operators.HnswGeoStore.append(spark, base,
              corpus.filter(col("vec_id") >= 300))
          }
          val erased = timed(scaleTimings, "q204_leg_delete") {
            graft.operators.HnswGeoStore.delete(spark, grown,
              corpus.filter(col("vec_id") % 5 === 1).select(col("vec_id")))
          }
          val compacted = timed(scaleTimings, "q204_leg_compact") {
            graft.operators.HnswGeoStore.compact(spark, erased)
          }
          timed(scaleTimings, "q204_leg_serve") {
            graft.operators.HnswGeoStore.batchNeighbors(compacted,
              emb.filter(col("vec_id") < 5)
                .select(col("vec_id").as("probe_id"), col("embedding")),
              k = 10, efSearch = 64, nProbe = 8)
              .write.format("noop").mode("overwrite").save()
          }
        } catch { case e: Throwable =>
          System.err.println(
            s"[bench] q204 leg attribution failed: ${e.getMessage}")
        }
        CacheRegistry.releaseAll()
      }
    }
    if (selected("q205_leg_admit")) {
      import org.apache.spark.sql.functions.col
      val legPath =
        s"${System.getProperty("java.io.tmpdir")}/graft-dedupstate-q205legs"
      val legFs = new org.apache.hadoop.fs.Path(legPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      for (_ <- 1 to passes) {
        legFs.delete(new org.apache.hadoop.fs.Path(legPath), true)
        try {
          val docs = graft.sources.Tables.table(spark, sfDir, "documents")
            .select(col("doc_id"), col("text"))
          val store = timed(scaleTimings, "q205_leg_build") {
            graft.operators.DedupState.build(spark,
              docs.filter(col("doc_id") < 300), legPath, hashTag = "md5")
          }
          val forgotten = timed(scaleTimings, "q205_leg_forget") {
            graft.operators.DedupState.forget(spark, store,
              docs.filter(col("doc_id") < 300 && col("doc_id") % 7 === 3)
                .select(col("doc_id")))
          }
          timed(scaleTimings, "q205_leg_admit") {
            graft.operators.DedupState.incrementalDedup(
                forgotten, docs.filter(col("doc_id") >= 300))
              .write.format("noop").mode("overwrite").save()
          }
        } catch { case e: Throwable =>
          System.err.println(
            s"[bench] q205 leg attribution failed: ${e.getMessage}")
        }
        CacheRegistry.releaseAll()
      }
    }
    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      }
    // 4-decimal timings: 0.1 ms grain is below host noise, and the full
    // unrounded doubles made the 79-query line long enough that the
    // driver's tail capture truncated it mid-JSON in round 6 (BENCH_r06
    // parsed: null). Compactness is a contract here, not cosmetics.
    def num(v: Double): String = f"$v%.4f"
    val qs = timings.map { case (k, v) => s""""${esc(k)}":${num(v)}""" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString("{", ",", "}")
    val sp = scaleTimings.map { case (k, v) => s""""${esc(k)}":${num(v)}""" }.mkString("{", ",", "}")
    val pf = reportedRun.toSeq.sortBy(_._1).map { case (name, key) =>
      s""""${esc(name)}":${metrics.profile(key).toJson}"""
    }.mkString("{", ",", "}")
    val total = timings.values.sum
    val fullJson =
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"scale_path":$sp,"errors":$es,"sf":"${esc(sfDir)}"}"""
    // Dump the full named per-query JSON to a FILE too: the captured
    // stdout keeps only a bounded tail, which has truncated the full line
    // mid-JSON every round. A file in the repo survives intact and is
    // committed with the round. Only the file carries `profile`, the
    // GraftMetrics counters of each reported run (stdout stays as it was).
    try java.nio.file.Files.writeString(
      java.nio.file.Path.of("bench_results.json"),
      fullJson.stripSuffix("}") + s""","profile":$pf}""" + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] results file write failed: ${e.getMessage}")
    }
    // Stop Spark BEFORE printing so no shutdown log line can land after
    // (or interleave with) the JSON in captured output.
    spark.stop()
    println(fullJson)
    // Compact line LAST, sized to fit the driver's 2000-char tail capture
    // WHOLE: every per-query second as a positional array over the sorted
    // query names (the sort this loop ran in — identical to the
    // CORRECTNESS artifact's keys sorted ascending), which at ~7 chars a
    // value keeps 139 queries near 1 kB where the named map is ~4 kB.
    // Full names live in the line above and in bench_results.json.
    val qArr = timings.toSeq.sortBy(_._1).map(t => num(t._2)).mkString("[", ",", "]")
    val esCompact = errors.take(3)
      .map { case (k, v) => s""""${esc(k)}":"${esc(v.take(60))}"""" }
      .mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${num(total)},"unit":"sec","queries_count":${timings.size},"errors_count":${errors.size},"errors_head":$esCompact,"q_order":"query names sorted ascending","q_sec":$qArr,"scale_path":$sp,"sf":"${esc(sfDir)}"}""")
    // tear the scratch root down AFTER the JSON lines land — best
    // effort, stderr only (the driver parses stdout)
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(scratch).iterator().asScala.toSeq
        .reverseIterator.foreach(p =>
          try java.nio.file.Files.deleteIfExists(p)
          catch { case _: Throwable => () })
    } catch { case e: Throwable =>
      System.err.println(s"[bench] scratch teardown failed: ${e.getMessage}")
    }
  }
}
