package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The sf≥1 scale rehearsal — EXECUTED evidence for the 100×-scale claims
  * the operator scaladocs make. Upscales the sf0.1 testdata locally
  * (never touching /root/testdata) and runs flagship paths end-to-end,
  * printing one timing line per path; results are recorded in
  * BASELINE.md's "scale rehearsal" sections.
  *
  * Four suites (args after the factor; default `corpus`):
  *  - `hnsw` — sharded-HNSW build/search/recall/eval-count at both
  *    shard policies (shards ∝ corpus, shards fixed).
  *  - `corpus` — dedup/ANN flagship paths over upscaled documents +
  *    embeddings (the round-9 rehearsal).
  *  - `jw` — the Jaro–Winkler candidate routes and blocked
  *    Fellegi–Sunter linkage over upscaled customer/part names.
  *  - `tpch` — the relational core (q01-class scans/aggs/joins, the q03
  *    WAPE pipeline, the q184 presentation layer) over upscaled
  *    lineitem/orders/customer/events.
  *
  * Upscaling contracts (×F replicas):
  *  - documents: replica k shifts doc_id by k·10⁷ and rewrites every
  *    third token with a replica-salted suffix — that breaks EVERY
  *    3-shingle against other replicas (cross-replica Jaccard ≈ 0, so
  *    near-dup structure grows LINEARLY like a real corpus, not
  *    quadratically as naive duplication would) while transforming
  *    aligned near-dup pairs consistently WITHIN a replica (their mutual
  *    similarity survives, so each replica carries the original corpus's
  *    dup structure).
  *  - embeddings: replica k shifts vec_id and cyclically rotates the
  *    vector by k dims — norms and within-replica geometry are
  *    preserved exactly; cross-replica cosines decorrelate.
  *  - names (customer/part): replica k shifts the key by k·10⁷ and
  *    applies a replica-specific SUBSTITUTION CIPHER (seeded bijection
  *    over [a-zA-Z0-9] via `translate`). Jaro–Winkler depends only on
  *    character equality and position, both invariant under a bijection,
  *    so each replica's pair structure is EXACTLY isomorphic to the
  *    original's — an assertable invariant — while cross-replica strings
  *    decorrelate to JW ≈ 0.5–0.7, far below the rehearsed thresholds.
  *  - relational: replica k shifts every fact key (o_orderkey /
  *    l_orderkey / c_custkey / o_custkey / event_id) by k·10⁷ — inside
  *    int32 range, see the inline sizing comment — so joins stay
  *    consistent inside a replica and key spaces stay disjoint across
  *    replicas; dimension tables (nation/region/supplier/part) are
  *    copied unscaled — exactly how a real ×100 corpus grows facts but
  *    not dims; events keep their calendar (more rows per hour, the
  *    realistic growth for a fixed-calendar fact table).
  *
  * Usage: sbt "runMain graft.tools.ScaleRehearsal [factor] [suite...]"
  *   (factor defaults to 10 — sf0.1 × 10 = sf1-equivalent)
  */
object ScaleRehearsal {

  private def time(factor: Int)(label: String)(f: => Long): Unit = {
    val t0 = System.nanoTime()
    val rows = f
    println(f"REHEARSAL x$factor $label: ${(System.nanoTime() - t0) / 1e9}%.1f s ($rows rows)")
  }

  private def run(df: DataFrame): Long = {
    df.write.format("noop").mode("overwrite").save()
    -1L
  }

  /** Refuse cartesian shapes at plan time — the same check
    * PlanShapeSpec pins at sf0.01, re-applied to the upscaled plans.
    */
  private def requireNoCartesian(df: DataFrame, label: String): Unit = {
    val p = df.queryExecution.executedPlan.toString
    require(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoop"),
      s"$label: cartesian/BNLJ in the upscaled plan:\n$p")
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    require(factor >= 2 && factor <= 200, s"factor $factor out of range")
    val suites = if (args.length > 1) args.drop(1).toSeq else Seq("corpus")
    suites.foreach(s =>
      require(Set("corpus", "jw", "tpch", "hnsw", "exactsubstr",
          "neardup", "geostore", "admit", "hotcell", "erase")(s),
        s"unknown suite '$s' " +
          "(corpus|jw|tpch|hnsw|exactsubstr|neardup|geostore|admit|" +
          "hotcell|erase)"))
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // CLEAN-SCRATCH HARNESS (round-17 verdict #5): evidence runs get a
    // FRESH per-run base by default, torn down afterwards — stale store
    // litter from prior runs measurably taxes the commit-heavy writers
    // (the round-17 tmp-churn attribution). SPARK_GRAFT_REHEARSAL_DIR
    // opts back into a persistent base (iteration caching of the
    // scaled inputs) and is then never torn down.
    val explicitBase = sys.env.get("SPARK_GRAFT_REHEARSAL_DIR")
    val base = explicitBase.getOrElse(
      java.nio.file.Files.createTempDirectory(
        s"graft-rehearsal-x$factor-").toString)
    val spark =
      graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    if (suites.contains("corpus")) corpusSuite(spark, srcDir, base, factor)
    if (suites.contains("jw")) jwSuite(spark, srcDir, base, factor)
    if (suites.contains("tpch")) tpchSuite(spark, srcDir, base, factor)
    if (suites.contains("hnsw")) hnswSuite(spark, srcDir, base, factor)
    if (suites.contains("exactsubstr"))
      exactSubstrSuite(spark, srcDir, base, factor)
    if (suites.contains("neardup")) neardupSuite(spark, srcDir, base, factor)
    if (suites.contains("geostore"))
      geoStoreSuite(spark, srcDir, base, factor)
    if (suites.contains("admit")) admitSuite(spark, srcDir, base, factor)
    if (suites.contains("hotcell")) hotCellSuite(spark, base, factor)
    if (suites.contains("erase")) eraseSuite(spark, srcDir, base, factor)
    spark.stop()
    // tear the default per-run base down (an explicit
    // SPARK_GRAFT_REHEARSAL_DIR is the caller's to keep)
    if (explicitBase.isEmpty) {
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Path.of(base)).iterator()
          .asScala.toSeq.reverseIterator.foreach(p =>
            try java.nio.file.Files.deleteIfExists(p)
            catch { case _: Throwable => () })
      } catch { case e: Throwable =>
        System.err.println(
          s"[rehearsal] scratch teardown failed: ${e.getMessage}")
      }
    }
  }

  private def fsOf(spark: SparkSession, base: String) =
    new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def done(spark: SparkSession, base: String, path: String): Boolean =
    fsOf(spark, base).exists(
      new org.apache.hadoop.fs.Path(s"$path/_SUCCESS"))

  // ───────────────────────── corpus suite (dedup/ANN) ─────────────────────

  private def corpusSuite(spark: SparkSession, srcDir: String,
                          base: String, factor: Int): Unit = {
    val t = time(factor) _
    val docs = ensureDocuments(spark, srcDir, base, factor)
    val emb = ensureEmbeddings(spark, srcDir, base, factor)
    println(s"REHEARSAL x$factor corpus: ${docs.count()} docs, ${emb.count()} vectors")

    // ── flagship dedup paths (xxhash64 scale defaults) ─────────────────
    t("jaccard_neardups") {
      run(graft.operators.Dedup.jaccardPairs(docs, threshold = 0.8))
      graft.CacheRegistry.releaseAll(); -1L
    }
    // ── correctness AT scale, not just speed: the replica construction
    //    makes two exact invariants provable — (a) zero cross-replica
    //    pairs (every 3-token window contains exactly one rewritten
    //    token, so replicas share no shingle at all), and (b) replicas
    //    with equal k mod 3 transform by the same position mask and a
    //    suffix-only shingle bijection, so their EXACT-Jaccard pair
    //    counts must be identical. A violation means the dedup pipeline
    //    broke somewhere between sf0.1 and this factor. ─────────────────
    t("jaccard_scale_invariants") {
      val pairs = graft.operators.Dedup.jaccardPairs(docs, threshold = 0.8)
        .select(col("i"), col("j"))
      def rep(c: Column) = (c / 10000000L).cast("int")
      val cross = pairs.filter(rep(col("i")) =!= rep(col("j"))).count()
      require(cross == 0L,
        s"$cross cross-replica near-dup pairs — replicas must be disjoint")
      val perRep = pairs.groupBy(rep(col("i")).as("r")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      (1 until factor).groupBy(_ % 3).values.foreach { ks =>
        val counts = ks.map(k => perRep.getOrElse(k, 0L)).distinct
        require(counts.size == 1,
          s"pair counts diverge within a mask class: " +
            ks.map(k => s"$k=${perRep.getOrElse(k, 0L)}").mkString(", "))
      }
      graft.CacheRegistry.releaseAll()
      perRep.values.sum
    }
    t("minhash_neardups") {
      run(graft.operators.Dedup.minhashNearDups(docs, threshold = 0.8))
      graft.CacheRegistry.releaseAll(); -1L
    }
    t("dedup_corpus") {
      run(graft.operators.Dedup.dedupCorpus(docs, threshold = 0.8))
      graft.CacheRegistry.releaseAll(); -1L
    }
    t("minhash_calibration") {
      run(graft.operators.Dedup.minhashCalibration(docs))
      graft.CacheRegistry.releaseAll(); -1L
    }
    // ── persistent dedup store: build once, admit a 10% batch ──────────
    val storeDir = s"$base/dedup-store"
    val cut = docs.agg(max("doc_id")).head().getLong(0) * 9 / 10
    val corpusSide = docs.select(col("doc_id"), col("text"))
      .filter(col("doc_id") <= cut)
    val batchSide = docs.select(col("doc_id"), col("text"))
      .filter(col("doc_id") > cut)
    t("dedup_store_build") {
      graft.operators.DedupState.build(spark, corpusSide, storeDir)
      graft.CacheRegistry.releaseAll(); -1L
    }
    t("dedup_store_admission_batch") {
      run(graft.operators.DedupState.incrementalDedup(
        graft.operators.DedupState.load(spark, storeDir), batchSide))
      graft.CacheRegistry.releaseAll(); -1L
    }
    // ── ANN store: build once, query ───────────────────────────────────
    val annDir = s"$base/ann-store"
    val q = emb.orderBy(col("vec_id")).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray
    t("ann_store_build") {
      graft.operators.EmbeddingStore.buildAnn(spark, emb, annDir,
        k = 16, iters = 5, m = 8, pqK = 16, pqIters = 3)
      graft.CacheRegistry.releaseAll(); -1L
    }
    t("ann_store_query") {
      val st = graft.operators.EmbeddingStore.load(spark, annDir)
      run(graft.operators.EmbeddingStore.annNeighbors(spark, st, q, k = 20,
        nProbe = 12, rerank = 200, excludeId = Some(0L)))
      graft.CacheRegistry.releaseAll(); -1L
    }
  }

  /** Upscaled documents (cached on disk): replica k shifts doc_id and
    * rewrites every third token with a replica-salted suffix — breaking
    * every 3-token shingle against other replicas, so near-dup structure
    * grows linearly like a real corpus.
    */
  private def ensureDocuments(spark: SparkSession, srcDir: String,
                              base: String, factor: Int): DataFrame = {
    val t = time(factor) _
    val docsPath = s"$base/documents.parquet"
    if (!done(spark, base, docsPath)) {
      val src = graft.sources.Tables.table(spark, srcDir, "documents")
      val replicas = (0 until factor).map { k =>
        if (k == 0) src
        else src
          .withColumn("doc_id", col("doc_id") + lit(k * 10000000L))
          .withColumn("text", concat_ws(" ",
            transform(split(col("text"), " "), (tk, i) =>
              when(i % 3 === lit(k % 3), concat(tk, lit(s"~$k")))
                .otherwise(tk))))
      }
      t("generate documents") {
        val all = replicas.reduce(_ unionByName _)
          .withColumn("n_chars", length(col("text")))
          .repartition(32)
        all.write.mode("overwrite").parquet(docsPath)
        spark.read.parquet(docsPath).count()
      }
    }
    spark.read.parquet(docsPath)
  }

  // ──────────────── neardup suite (geometry-routed semantic dedup) ────────

  /** Twin corpus with PLANTED ground truth: replica k is the source
    * embeddings rotated by k dims (ids k·10⁷ + i) PLUS a deterministic
    * jittered twin of each rotated vector (ids k·10⁷ + 5·10⁶ + i;
    * per-element hash noise at ε = 0.1 of element scale → twin cosine
    * ≈ 0.995, verified exactly in-run). Every (rotated, twin) pair IS a
    * semantic near-dup; cross-replica and cross-base cosines stay far
    * below the rehearsed threshold. Pair structure therefore grows
    * LINEARLY with the factor — n true pairs for 2n vectors — the shape
    * a real dedup corpus has.
    */
  private def ensureTwinEmbeddings(spark: SparkSession, srcDir: String,
                                   base: String, factor: Int): DataFrame = {
    val t = time(factor) _
    val path = s"$base/twin-embeddings.parquet"
    if (!done(spark, base, path)) {
      val src = graft.sources.Tables.table(spark, srcDir, "embeddings")
      val rotated = (0 until factor).map { k =>
        src.withColumn("vec_id", col("vec_id") + lit(k * 10000000L))
          .withColumn("embedding",
            concat(slice(col("embedding"), k % 64 + 1, 64 - k % 64),
              slice(col("embedding"), 1, k % 64)))
      }.reduce(_ unionByName _)
      // jitter scaled to the VECTOR's own norm (the testdata embeddings
      // are not unit-scale): per-element uniform noise u ∈ [−1, 1] has
      // rms 1/√3, so ε·‖v‖·u/(√dim/√3) gives ‖δ‖ ≈ ε·‖v‖ → twin cosine
      // ≈ 1/√(1+ε²) ≈ 0.995 at ε = 0.1, independent of element scale
      val nrm = sqrt(aggregate(col("embedding"), lit(0.0d),
        (a, x) => a + x.cast("double") * x.cast("double")))
      val twins = rotated
        .withColumn("vec_id", col("vec_id") + lit(5000000L))
        .withColumn("__nrm", nrm)
        .withColumn("embedding",
          transform(col("embedding"), (x, d) =>
            (x + lit(0.1 / (8.0 / math.sqrt(3.0))) * col("__nrm") *
              (pmod(xxhash64(col("vec_id"), d, lit(777L)), lit(2001L)) -
                lit(1000L)).cast("double") / lit(1000.0))
              .cast("float")))
        .drop("__nrm")
      t("generate twin embeddings") {
        rotated.unionByName(twins)
          .select(col("vec_id"), col("embedding")).repartition(32)
          .write.mode("overwrite").parquet(path)
        spark.read.parquet(path).count()
      }
    }
    spark.read.parquet(path)
  }

  /** Geometry-routed semantic near-dup at scale — the ×10/×100 evidence
    * for [[graft.operators.Hnsw.nearDupPairsRouted]]'s linearity claim:
    * cells grow with the corpus (4·factor — the [[hnswSuite]] policy,
    * per-cell graphs stay task-sized) while nProbe stays at the shipped
    * constant, so cell pruning DEEPENS with scale (10× at ×10 factor,
    * 50× at ×100) and shuffled probe rows grow linearly (printed
    * in-run). Asserted invariants, not vibes: (a) the planted-twin
    * ground truth is real — min exact twin cosine ≥ the threshold,
    * computed in-run; (b) routed recall on the planted twins ≥ 0.999 at
    * the SemDeDup operating point (pair cos ≈ 0.995, 10–50× pruning;
    * measured 1.0 at ×10, 199991/200000 at ×100 — the residual is
    * in-cell graph-search misses, not routing losses);
    * (c) no cartesian/BNLJ in the routed plan. The exhaustive fan-out
    * runs beside it at ×10 for the measured gap; at larger factors its
    * n·S probe volume is printed as the projection that justifies NOT
    * running it — the quadratic-shuffle indictment in numbers.
    */
  private def neardupSuite(spark: SparkSession, srcDir: String,
                           base: String, factor: Int): Unit = {
    val t = time(factor) _
    val emb = ensureTwinEmbeddings(spark, srcDir, base, factor)
    val n = emb.count()
    val cells = 4 * factor
    val nProbe = graft.operators.Hnsw.DefaultNearDupNProbe
    val threshold = 0.98
    println(s"REHEARSAL x$factor neardup: $n vectors, $cells cells, " +
      s"nProbe=$nProbe threshold=$threshold")
    // (a) planted ground truth is real: exact min twin cosine, computed
    // on the n/2 twin pairs with the engine's own dot kernel
    val planted = emb.filter(col("vec_id") % 10000000L < 5000000L)
      .select(col("vec_id").as("i"),
        col("embedding").cast("array<double>").as("va"))
      .join(emb.select((col("vec_id") - 5000000L).as("i"),
        col("embedding").cast("array<double>").as("vb")), "i")
    t("neardup_twin_cos_floor") {
      val minCos = planted.select(
        (graft.functions.GraftFunctions.dot_product(col("va"), col("vb")) /
          (sqrt(graft.functions.GraftFunctions.dot_product(col("va"), col("va"))) *
            sqrt(graft.functions.GraftFunctions.dot_product(col("vb"), col("vb")))))
          .as("cos"))
        .agg(min(col("cos"))).head().getDouble(0)
      println(f"REHEARSAL x$factor neardup_twin_cos_floor min=$minCos%.4f")
      require(minCos >= threshold + 0.001,
        f"planted twins not above threshold: min cos $minCos%.4f")
      -1L
    }
    var index: graft.operators.IVF.Index = null
    t("neardup_ivf_train") {
      // sampled training — the at-scale discipline (and the codegen
      // pressure valve: full-corpus Lloyd passes at k=400 fall back to
      // interpreted mode past janino's 64 KB method limit; measured 13
      // min full vs ~1 min sampled at ×100, same assignment quality)
      index = graft.operators.IVF.train(emb, cells, iters = 5,
        maxTrainRows = 100L * cells)
      cells.toLong
    }
    // the linearity claim in rows: probes replicate ≤ nProbe× — print the
    // exact shuffled probe-row count beside the exhaustive route's n·S
    t("neardup_probe_rows") {
      val probeRows = emb.select(explode(graft.operators.IVF.probeExpr(
        col("embedding").cast("array<double>"), index, nProbe)).as("c"))
        .count()
      println(s"REHEARSAL x$factor neardup_probe_rows routed=$probeRows " +
        s"exhaustive_would_be=${n * cells}")
      probeRows
    }
    val geoPath = s"$base/geo-store"
    t("neardup_geo_build") {
      graft.operators.Hnsw.buildGeo(emb, index)
        .write.mode("overwrite").parquet(geoPath)
      spark.read.parquet(geoPath).count()
    }
    val store = spark.read.parquet(geoPath)
    val pairsPath = s"$base/neardup-pairs"
    t("neardup_routed_pairs") {
      val pairs = graft.operators.Hnsw.nearDupPairsRouted(
        store, index, threshold, nProbe)
      requireNoCartesian(pairs, "neardup_routed_pairs")
      pairs.write.mode("overwrite").parquet(pairsPath)
      graft.CacheRegistry.releaseAll()
      spark.read.parquet(pairsPath).count()
    }
    t("neardup_twin_recall_invariant") {
      val pairs = spark.read.parquet(pairsPath)
      val totalTwins = planted.count()
      val found = planted.select(col("i"), (col("i") + 5000000L).as("j"))
        .join(pairs, Seq("i", "j"), "left_semi").count()
      println(s"REHEARSAL x$factor neardup_twin_recall $found/$totalTwins " +
        f"(${found.toDouble / totalTwins}%.6f)")
      // ≥ 0.999, not == 1: graph search is approximate (HnswSpec's own
      // floor is 0.95) — at ×100 the measured residual is a handful of
      // in-cell search misses out of 200k planted pairs, printed above
      require(found >= math.ceil(totalTwins * 0.999).toLong,
        s"routed recall on planted twins: $found/$totalTwins — below the " +
          "0.999 envelope for near-identical pairs")
      found
    }
    // the measured gap vs the exhaustive fan-out — run it at ×10, print
    // the projection (no silent skip) at factors where n·S is the point
    if (factor <= 10) {
      val idPath = s"$base/idhash-store"
      t("neardup_exhaustive_build") {
        graft.operators.Hnsw.build(emb, shards = cells)
          .write.mode("overwrite").parquet(idPath)
        spark.read.parquet(idPath).count()
      }
      t("neardup_exhaustive_pairs") {
        val pairs = graft.operators.Hnsw.nearDupPairs(
          spark.read.parquet(idPath), threshold)
        val c = pairs.count()
        graft.CacheRegistry.releaseAll()
        c
      }
    } else {
      println(s"REHEARSAL x$factor neardup_exhaustive SKIPPED: would " +
        s"shuffle ${n * cells} probe rows (vs routed ${n * nProbe}) — " +
        "the quadratic shape this suite exists to retire")
    }
    graft.CacheRegistry.releaseAll()
  }

  /** Geo-store LIFECYCLE at scale — the ×10/×100 evidence for the
    * round-13 claims: (a) delta admission cost is BATCH-sized, flat as
    * the standing store grows (each append is a buildGeo over just the
    * batch — it never touches the store; the filtered `admit` adds one
    * pass over the store, timed separately); (b) compaction by WARM
    * insertion ([[graft.operators.Hnsw.addGeo]]) folds the deltas into
    * the base cheaper than the from-scratch rebuild it replaces (both
    * timed, same corpus, same index); (c) the compacted standing store
    * still routes planted twins at the ≥ 0.999 envelope; (d) the drift
    * check's negative arm — in-distribution growth measures a cellStats
    * ratio ~1 and does NOT retrain. Seed = the low-id 3/5 of the replica
    * blocks, deltas arrive as monotone batches (append-only ingest — the
    * addGeo-theorem regime a real ingest pipeline sits in).
    */
  private def geoStoreSuite(spark: SparkSession, srcDir: String,
                            base: String, factor: Int): Unit = {
    import graft.operators.{Hnsw, HnswGeoStore, IVF}
    val t = time(factor) _
    // pinned to the (vec_id, embedding) contract: a stray column would
    // make every epoch an attribute-payload write
    val emb = ensureTwinEmbeddings(spark, srcDir, base, factor)
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val cells = 4 * factor
    val nProbe = Hnsw.DefaultNearDupNProbe
    val threshold = 0.98
    val blk = 10000000L
    val seedReps = math.max(1, factor * 3 / 5)
    println(s"REHEARSAL x$factor geostore: $n vectors, $cells cells, " +
      s"seed=$seedReps/$factor replica blocks, nProbe=$nProbe")
    var index: IVF.Index = null
    t("geostore_ivf_train") {
      index = IVF.train(emb, cells, iters = 5, maxTrainRows = 100L * cells)
      cells.toLong
    }
    val dir = s"$base/geo-lifecycle-store"
    var store: HnswGeoStore.Store = null
    t("geostore_seed_build") {
      store = HnswGeoStore.build(spark,
        emb.filter(col("vec_id") < seedReps * blk), dir, index)
      store.segments.count()
    }
    // first delta goes through the FULL filtered admission (routed store
    // search + within-batch exact + id anti-join) — the streaming sink's
    // per-batch shape, distributed end to end
    val restReps = seedReps until factor
    val firstRep = restReps.head
    t("geostore_admit_filtered") {
      val batch = emb.filter(col("vec_id") >= firstRep * blk &&
        col("vec_id") < (firstRep + 1) * blk)
      val (kept, s2) = HnswGeoStore.admit(spark, store, batch, threshold)
      store = s2
      graft.CacheRegistry.releaseAll()
      kept.count()
    }
    // remaining deltas append raw (pre-filtered upstream) — the flat
    // batch-cost claim, one line per batch
    restReps.drop(1).grouped(math.max(1, (restReps.size - 1 + 2) / 3))
      .zipWithIndex.foreach { case (reps, i) =>
        t(s"geostore_append_$i") {
          val batch = emb.filter(col("vec_id") >= reps.head * blk &&
            col("vec_id") < (reps.last + 1) * blk)
          store = HnswGeoStore.append(spark, store, batch)
          batch.count()
        }
      }
    println(s"REHEARSAL x$factor geostore epochs=${store.epochs.size} " +
      s"rows=${store.segments.count()}")
    // contamination audit over the STANDING multi-epoch store (the one
    // routed surface that previously had no executed scale line): eval
    // side scales with the corpus (n/16 probes), shuffle volume is
    // n_eval·nProbe·epochs probe rows, the stored corpus never
    // replicates — the ×10/×100 slope of this line is the eval-side
    // growth evidence
    t("geostore_cross_contamination") {
      val evalSide = emb
        .filter(pmod(col("vec_id"), lit(16L)) === 0L)
        .select((col("vec_id") + lit(1000000000000L)).as("probe_id"),
          col("embedding"))
      val pairs = graft.operators.HnswGeoStore.crossNearDups(
        store, evalSide, threshold, nProbe)
      requireNoCartesian(pairs, "geostore_cross")
      val c = pairs.count()
      require(c > 0L,
        "cross-contamination audit found nothing over planted copies")
      graft.CacheRegistry.releaseAll()
      c
    }
    // the drift CHECK priced both ways over the multi-epoch store: the
    // per-epoch fold (deployment path — epoch-count snapshot reads, cost
    // independent of corpus size) vs the corpus rescan it replaces
    t("geostore_drift_fold") {
      HnswGeoStore.currentStats(spark, store)
        .agg(sum(col("n"))).head().getLong(0)
    }
    t("geostore_drift_rescan_counterfactual") {
      IVF.cellStats(store.segments.select(col("vec_id"),
          col("vec").as("embedding")), index)
        .agg(sum(col("n"))).head().getLong(0)
    }
    t("geostore_compact_warm") {
      store = HnswGeoStore.compact(spark, store)
      require(store.baseEpoch == store.epoch, "compaction must land a base")
      store.segments.count()
    }
    // the counterfactual the warm kernel replaces: from-scratch buildGeo
    // over EXACTLY the corpus compaction folded (the store's own rows),
    // same index, to the same noop sink
    t("geostore_rebuild_counterfactual") {
      run(Hnsw.buildGeo(
        store.segments.select(col("vec_id"), col("vec").as("embedding")),
        index))
    }
    // dropped twins (threshold 0.98 admission drops each twin of an
    // admitted-epoch original!) — recall is asserted on pairs where BOTH
    // endpoints survived admission, i.e. the seed blocks (unfiltered) +
    // raw-append blocks; the filtered block's twins were deliberately
    // dropped by the admission filter, which is its JOB
    t("geostore_twin_recall_invariant") {
      val pairs = HnswGeoStore.nearDupPairs(store, threshold, nProbe)
      requireNoCartesian(pairs, "geostore_pairs")
      val pairsPath = s"$base/geostore-pairs"
      pairs.write.mode("overwrite").parquet(pairsPath)
      graft.CacheRegistry.releaseAll()
      val got = spark.read.parquet(pairsPath)
      val inStore = store.segments.select(col("vec_id"))
      val planted = emb.filter(col("vec_id") % blk < 5000000L)
        .select(col("vec_id").as("i"), (col("vec_id") + 5000000L).as("j"))
        .join(inStore.select(col("vec_id").as("i")), "i")
        .join(inStore.select(col("vec_id").as("j")), "j")
      val total = planted.count()
      val found = planted.join(got, Seq("i", "j"), "left_semi").count()
      println(s"REHEARSAL x$factor geostore_twin_recall $found/$total " +
        f"(${found.toDouble / total}%.6f)")
      require(found >= math.ceil(total * 0.999).toLong,
        s"routed recall over the compacted store: $found/$total")
      found
    }
    // the drift check's negative arm: same-distribution growth must NOT
    // trigger a retrain, and the measured ratio is printed for BASELINE
    t("geostore_drift_check") {
      val (_, report) = HnswGeoStore.retrainIfDrifted(spark, store,
        driftFactor = 2.0)
      println(f"REHEARSAL x$factor geostore_drift ratio=${report.ratio}%.4f " +
        s"retrained=${report.retrained}")
      require(!report.retrained,
        s"in-distribution growth retrained (ratio ${report.ratio})")
      graft.CacheRegistry.releaseAll()
      -1L
    }
    // ── round-19 (verdict #7): the q208/q209 cost claims EXECUTED at the
    // factor instead of asserted. q209 first: the store digest is ONE
    // scan per logical relation over the standing compacted store — its
    // ×10/×100 slope is the linear evidence (never epochs×corpus).
    t("geostore_digest") {
      run(graft.operators.StoreDigest.digestGeo(spark, store))
    }
    // q208: a FIXED-size attribute backfill against a factor-grown ATTR
    // store — update-sized work plus a zero-mass stats leaf, so the line
    // must stay flat as the factor grows. The attr twin's seed build is
    // the one-time corpus-sized cost, printed for contrast (the admit
    // suite's discipline).
    val attrDir = s"$base/geo-attr-store"
    val attrEmb = emb.select(col("vec_id"), col("embedding"),
      pmod(col("vec_id"), lit(7L)).as("bucket"))
    var attrStore: HnswGeoStore.Store = null
    t("geostore_attr_seed") {
      attrStore = HnswGeoStore.build(spark,
        attrEmb.filter(col("vec_id") < seedReps * blk), attrDir, index)
      attrStore.segments.count()
    }
    t("geostore_attr_update") {
      attrStore = HnswGeoStore.updateAttrs(spark, attrStore,
        attrEmb.filter(col("vec_id") < 100000L)
          .select(col("vec_id"),
            pmod(col("bucket") + lit(3L), lit(7L)).as("bucket")))
      100000L
    }
    graft.CacheRegistry.releaseAll()
  }

  /** Incremental curation admission at scale
    * ([[graft.pipelines.CorpusPipeline.admitBatch]]): the standing state
    * is replicas 1..F−1 (GROWS with the factor), the admitted batch is
    * replica 0 (FIXED size) — so the `admit_batch_ladder` line's
    * flatness across ×10 → ×100 is exactly the batch-sized-cost claim
    * the composition's scaladoc makes: quality/lang scan, text admission
    * vs the generational store, routed semantic admission vs the geo
    * store, and both folds, none of them scanning the standing corpus.
    * The seed build line is the one-time corpus-sized cost, printed for
    * contrast. Quality/lang thresholds are permissive here because the
    * upscale's token salting legitimately shifts the quality features —
    * the rehearsal measures cost shape, not curation selectivity.
    */
  /** The HOT-CELL BOUND at scale — executed evidence for the round-16
    * verdict's one unbounded term: geometry sharding inherits cluster
    * skew, and before `maxCellNodes` a hot cell was one giant
    * sequential build task (and one giant graph in task memory) no
    * matter how many executors the cluster has. A DELIBERATELY skewed
    * corpus (60% of vectors in one tight cluster — the shape real
    * embedding corpora have, which is WHY routing works) is built both
    * ways; the suite prints max-task node counts and build/scan walls,
    * and asserts the capped layout's bound plus planted-twin recall
    * DOMINANCE: at production efSearch the capped route must find at
    * least every twin the unsplit route finds (measured: it finds
    * more — a 6k-node hot graph at ef=64 drops twins that 600-node
    * sub-graphs keep), with exact precision both ways. Bitwise pair
    * equality is HotCellSpec's and q206's claim, where efSearch
    * exceeds every graph size.
    *
    * Twin structure: consecutive hot ids share a jitter key, so each
    * hot pair (2k, 2k+1) is an EXACT duplicate (cos 1.0) while unrelated
    * hot vectors sit at cos ~0.999, below the 0.9999 scan threshold —
    * the pair output stays linear in n (the planted-twin set), never
    * quadratic.
    */
  private def hotCellSuite(spark: SparkSession, base: String,
                           factor: Int): Unit = {
    import graft.operators.{Hnsw, IVF}
    val t = time(factor) _
    val n = 1000L * factor
    val cap = 600
    val cells = 4 * factor
    val embPath = s"$base/hotcell-emb"
    if (!fsOf(spark, base).exists(
        new org.apache.hadoop.fs.Path(embPath))) {
      val hot = pmod(col("id"), lit(10L)) < 6L
      // hot: ±0.1 jitter keyed on ⌊id/2⌋, so consecutive hot ids are
      // EXACT twins (cos 1.0) and unrelated hot pairs sit at cos ~0.999
      // — the 0.9999 scan threshold separates them with the whole
      // rounding grid to spare. cold: isotropic ±10.
      val emb = spark.range(1L, n + 1L).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(31)), d =>
          when(hot,
            when(d === 0, lit(10.0)).otherwise(lit(0.5)) +
              (pmod(xxhash64(floor(col("id") / 2L).cast("long") * lit(31L)
                  + d.cast("long")), lit(201L)).cast("double") - 100.0)
                / 1000.0)
          .otherwise(
            (pmod(xxhash64(col("id") * lit(131L) + d.cast("long")),
              lit(2001L)).cast("double") - 1000.0) / 100.0))
          .as("embedding"))
      emb.repartition(32).write.mode("overwrite").parquet(embPath)
    }
    val emb = spark.read.parquet(embPath)
    var index: IVF.Index = null
    t("hotcell_ivf_train") {
      // the index is trained on the COLD mass only — the scenario a hot
      // cell actually arises from: data CONCENTRATES after the index
      // froze (the pre-retrain drift window), so the whole hot cluster
      // assigns to one nearest cold centroid at ANY k. Training on the
      // full corpus instead lets Lloyd dilute the plant across many
      // centroids once cells ∝ corpus grows past the cluster count
      // (measured: ×100 max cell 3.5k instead of 60k) — which is the
      // retrainIfDrifted answer, not the hot-cell one this suite
      // measures.
      index = IVF.train(emb.filter(pmod(col("vec_id"), lit(10L)) >= 6L),
        cells, iters = 5, maxTrainRows = 100L * cells)
      cells.toLong
    }
    def maxShard(df: DataFrame): Long =
      df.groupBy("shard").count().agg(max("count")).head().getLong(0)
    val flatPath = s"$base/hotcell-flat"
    val cappedPath = s"$base/hotcell-capped"
    t("hotcell_unsplit_build") {
      Hnsw.buildGeo(emb, index).write.mode("overwrite").parquet(flatPath)
      spark.read.parquet(flatPath).count()
    }
    t("hotcell_capped_build") {
      Hnsw.buildGeo(emb, index, maxCellNodes = cap)
        .write.mode("overwrite").parquet(cappedPath)
      spark.read.parquet(cappedPath).count()
    }
    val flat = spark.read.parquet(flatPath)
    val capped = spark.read.parquet(cappedPath)
    val flatMax = maxShard(flat)
    val cappedMax = maxShard(capped)
    println(s"REHEARSAL x$factor hotcell_max_task_nodes " +
      s"unsplit=$flatMax capped=$cappedMax cap=$cap")
    require(flatMax >= n * 55 / 100,
      s"skew plant failed: unsplit max shard $flatMax < 55% of $n")
    require(cappedMax <= cap * 13L / 10L,
      s"capped max shard $cappedMax exceeds the cap envelope " +
        s"(${cap} × 1.3)")
    val flatPairsPath = s"$base/hotcell-pairs-flat"
    val cappedPairsPath = s"$base/hotcell-pairs-capped"
    t("hotcell_unsplit_pairs") {
      Hnsw.nearDupPairsRouted(flat, index, 0.9999)
        .write.mode("overwrite").parquet(flatPairsPath)
      graft.CacheRegistry.releaseAll()
      spark.read.parquet(flatPairsPath).count()
    }
    t("hotcell_capped_pairs") {
      Hnsw.nearDupPairsRouted(capped, index, 0.9999)
        .write.mode("overwrite").parquet(cappedPairsPath)
      graft.CacheRegistry.releaseAll()
      spark.read.parquet(cappedPairsPath).count()
    }
    // WITHIN-CELL routing (round-17 verdict #2): the capped store bounds
    // the hot cell's MEMORY, but its pair scan still fans every probe to
    // all ⌈pop/cap⌉ sub-shards — the O(pop²/cap) compute term. The
    // routed store trains a frozen mini-IVF inside the hot cell
    // ([[graft.operators.Hnsw.SubRouting]]); each probe then searches
    // only its nProbeSub nearest sub-cells. Twin pairs are EXACT
    // duplicates (same jitter key → same frozen sub-cell), so recall
    // must hold at any nProbeSub ≥ 1 while the scan drops from
    // cell-population-linear to nProbeSub·cap per probe.
    var routedLayout: Hnsw.GeoLayout = Map.empty
    var routedRouting: Hnsw.GeoRouting = Map.empty
    val routedPath = s"$base/hotcell-routed"
    t("hotcell_routed_build") {
      val (lay, rt) = Hnsw.geoRoutingOf(emb, index, cap)
      routedLayout = lay; routedRouting = rt
      Hnsw.buildGeoWithLayout(
        emb.select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding")),
        index, 8, 64, lay, routing = rt)
        .write.mode("overwrite").parquet(routedPath)
      graft.CacheRegistry.releaseAll()
      spark.read.parquet(routedPath).count()
    }
    val routedStore = spark.read.parquet(routedPath)
    val routedMax = maxShard(routedStore)
    require(routedMax <= cap * 13L / 10L,
      s"routed max shard $routedMax exceeds the cap envelope " +
        s"($cap × 1.3) — the id-hash re-cap failed")
    val routedPairsPaths = Seq(1, 2).map { nps =>
      val p = s"$base/hotcell-pairs-routed-nps$nps"
      t(s"hotcell_routed_pairs_nps$nps") {
        Hnsw.nearDupPairsRouted(routedStore, index, 0.9999,
            knownLayout = Some(routedLayout), routing = routedRouting,
            nProbeSub = nps)
          .write.mode("overwrite").parquet(p)
        graft.CacheRegistry.releaseAll()
        spark.read.parquet(p).count()
      }
      nps -> p
    }
    t("hotcell_twin_recall_invariant") {
      // the planted ground truth: twin pairs (2k, 2k+1), both hot
      val twinPairs = spark.range(2L, n + 1L, 2L)
        .filter(pmod(col("id"), lit(10L)) < 6L && col("id") + 1L <= n)
        .select(col("id").as("i"), (col("id") + 1L).as("j"))
      val total = twinPairs.count()
      def audit(path: String, label: String): Double = {
        val pairs = spark.read.parquet(path)
        val found = twinPairs.join(pairs, Seq("i", "j"), "left_semi").count()
        // precision is exact by construction (0.9999 threshold sits
        // above the non-twin cos band): any non-twin pair is a plant
        // failure, not an engine property
        val spurious = pairs.join(twinPairs, Seq("i", "j"), "left_anti")
          .count()
        require(spurious == 0L,
          s"$label produced $spurious non-twin pairs — the planted " +
            "cos separation failed")
        found.toDouble / total
      }
      val flatRecall = audit(flatPairsPath, "unsplit")
      val cappedRecall = audit(cappedPairsPath, "capped")
      val routedRecalls = routedPairsPaths.map { case (nps, p) =>
        nps -> audit(p, s"routed nps=$nps")
      }
      println(f"REHEARSAL x$factor hotcell_twin_recall " +
        f"unsplit=$flatRecall%.4f capped=$cappedRecall%.4f " +
        routedRecalls.map { case (nps, r) =>
          f"routed_nps$nps=$r%.4f" }.mkString(" ") +
        f" (n_twins=$total)")
      // the routed-scan recall contract: exact twins co-locate under
      // the frozen sub-assignment, so even nProbeSub = 1 must keep the
      // pinned envelope
      routedRecalls.foreach { case (nps, r) =>
        require(r >= 0.99,
          f"routed twin recall $r%.4f below 0.99 at nProbeSub=$nps")
      }
      // splitting never LOSES a twin — the probe still fans to its
      // twin's sub-shard, and smaller graphs search better at the same
      // efSearch — so capped recall must dominate (measured ×10:
      // 0.9940 unsplit vs 0.9999 capped; the bound IMPROVES recall on
      // a hot cell, it does not trade it). Bitwise pair equality is
      // pinned where efSearch exceeds every graph (HotCellSpec, q206).
      require(cappedRecall >= flatRecall - 1e-9,
        f"capped recall $cappedRecall%.4f fell below unsplit " +
          f"$flatRecall%.4f")
      require(cappedRecall >= 0.99,
        f"capped twin recall $cappedRecall%.4f below 0.99")
      total
    }
  }

  /** Takedown-at-scale — the bucketed generational layout's measured
    * payoff (round-16 verdict #2, built honestly): a FORGET's key set
    * is erasure-sized, so on a bucket-partitioned store its doc-keyed
    * scans (posting — the corpus-dominant table — doc_fps, and the
    * fingerprint prune) read only the erased ids' buckets, where the
    * plain layout streams the whole table per erasure. The residual the
    * suite also exposes: the dfs-delta write scans the vocabulary
    * table either way (the erased docs' shingles saturate the
    * s-buckets — the pigeonhole bound the [[graft.operators.DedupState.Store]]
    * doc states), so the bucketed line shrinks with the posting share,
    * it does not go to zero.
    */
  private def eraseSuite(spark: SparkSession, srcDir: String,
                         base: String, factor: Int): Unit = {
    import graft.operators.DedupState
    val t = time(factor) _
    val docs = ensureDocuments(spark, srcDir, base, factor)
    val blk = 10000000L
    val standing = docs.filter(col("doc_id") >= blk)
      .select(col("doc_id"), col("text"))
    var plain: DedupState.Store = null
    var bucketed: DedupState.Store = null
    t("erase_seed_plain") {
      plain = DedupState.build(spark, standing, s"$base/erase-plain")
      graft.CacheRegistry.releaseAll()
      -1L
    }
    t("erase_seed_bucketed") {
      bucketed = DedupState.build(spark, standing,
        s"$base/erase-bucketed", buckets = 256)
      graft.CacheRegistry.releaseAll()
      -1L
    }
    // a takedown-sized erasure: 40 standing ids
    val ids = standing.select(col("doc_id"))
      .filter(col("doc_id") >= blk + 10L && col("doc_id") < blk + 50L)
    t("erase_forget_plain") {
      DedupState.forget(spark, plain, ids)
      graft.CacheRegistry.releaseAll()
      -1L
    }
    t("erase_forget_bucketed") {
      DedupState.forget(spark, bucketed, ids)
      graft.CacheRegistry.releaseAll()
      -1L
    }
  }

  private def admitSuite(spark: SparkSession, srcDir: String,
                         base: String, factor: Int): Unit = {
    import graft.pipelines.CorpusPipeline
    val t = time(factor) _
    val docs = ensureDocuments(spark, srcDir, base, factor)
    val emb = ensureEmbeddings(spark, srcDir, base, factor)
      .select(col("vec_id"), col("embedding"))
    val blk = 10000000L
    val cfg = CorpusPipeline.Config(minTokens = 1,
      maxMeanTokenLength = 1e9, languages = Seq("en", "und"))
    var state: CorpusPipeline.CorpusState = null
    t("admit_seed_state") {
      val standing = CorpusPipeline.qualityLang(
          docs.filter(col("doc_id") >= blk), cfg)
        .select(col("doc_id"), col("text"))
      val text = graft.operators.DedupState.build(spark, standing,
        s"$base/admit-text-store")
      val standingEmb = emb.filter(col("vec_id") >= blk)
        .join(standing.select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi")
      val cells = 4 * factor
      val index = graft.operators.IVF.train(standingEmb, cells,
        iters = 5, maxTrainRows = 100L * cells)
      val geo = graft.operators.HnswGeoStore.build(spark, standingEmb,
        s"$base/admit-geo-store", index)
      state = CorpusPipeline.CorpusState(text, geo)
      val n = standing.count()
      graft.CacheRegistry.releaseAll()
      n
    }
    // per-leg attribution of the ladder (the admitBatch composition run
    // leg by leg against the seed pre-state): where any residual
    // standing-state slope lives — admission filters vs store folds.
    // The legs run BEFORE the e2e ladder so their fold timings write
    // fresh generation/epoch dirs (the ladder's own fold afterwards
    // overwrites them idempotently, which is the replay semantics the
    // e2e number legitimately includes).
    val batchDocs = docs.filter(col("doc_id") < blk)
    var textKept: DataFrame = null
    t("admit_leg_text_admission") {
      val ql = CorpusPipeline.qualityLang(batchDocs, cfg)
        .select(col("doc_id"), col("text"))
      textKept = graft.operators.DedupState
        .incrementalDedup(state.text, ql).localCheckpoint(true)
      val n = textKept.count()
      graft.CacheRegistry.releaseAll()
      n
    }
    var semKept: DataFrame = null
    t("admit_leg_sem_admission") {
      val embBatch = emb
        .join(textKept.select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi")
      semKept = graft.operators.HnswGeoStore.incrementalAdmit(
        state.geo, embBatch, threshold = 0.9).localCheckpoint(true)
      val n = semKept.count()
      graft.CacheRegistry.releaseAll()
      n
    }
    t("admit_leg_text_fold") {
      graft.operators.DedupState.append(spark, state.text,
        textKept.select(col("doc_id"), col("text")))
      graft.CacheRegistry.releaseAll()
      -1L
    }
    t("admit_leg_geo_fold") {
      graft.operators.HnswGeoStore.append(spark, state.geo, semKept,
        checkIds = false)
      graft.CacheRegistry.releaseAll()
      -1L
    }
    t("admit_batch_ladder") {
      val (kept, _) = CorpusPipeline.admitBatch(spark, state,
        docs.filter(col("doc_id") < blk), emb, cfg,
        semanticThreshold = 0.9)
      val n = kept.count()
      graft.CacheRegistry.releaseAll()
      n
    }
  }

  // ─────────────── exactsubstr suite (char-span dedup) ────────────────────

  /** Exact-substring dedup at scale: [[graft.operators.Dedup.charDuplicateSpans]]
    * explodes ONE ROW PER CHARACTER — the same linear blow-up the
    * suffix array itself pays — so this is the path whose constant
    * factor matters most at 100 TB. Times the hashed (8-byte-key) scale
    * path and the full removal pipeline at ×F, and ASSERTS the coverage
    * monotonicity invariant: every position the BASE corpus marks as
    * duplicated must still be marked for replica 0 inside the upscaled
    * corpus (occurrence counts only grow when a corpus grows — a lost
    * position means the pipeline broke between sf0.1 and ×F).
    */
  private def exactSubstrSuite(spark: SparkSession, srcDir: String,
                               base: String, factor: Int): Unit = {
    val t = time(factor) _
    val docs = ensureDocuments(spark, srcDir, base, factor)
    println(s"REHEARSAL x$factor exactsubstr: ${docs.count()} docs, " +
      s"${docs.agg(sum(length(col("text")))).head().getLong(0)} chars")
    t("char_dup_spans_hashed") {
      val spans = graft.operators.Dedup.charDuplicateSpans(
        docs, minLen = 25, minCount = 2, hashed = true)
      requireNoCartesian(spans, "char_dup_spans_hashed")
      run(spans)
      graft.CacheRegistry.releaseAll(); -1L
    }
    t("exactsubstr_remove_hashed") {
      run(graft.operators.Dedup.removeDuplicatedSpans(
        docs, minLen = 25, minCount = 2, hashed = true))
      graft.CacheRegistry.releaseAll(); -1L
    }
    t("exactsubstr_coverage_invariant") {
      val baseSpans = graft.operators.Dedup.charDuplicateSpans(
        graft.sources.Tables.table(spark, srcDir, "documents"),
        minLen = 25, minCount = 2, hashed = true)
      // compute spans over the FULL upscaled corpus, THEN restrict to
      // replica 0 — filtering the input instead would make the check
      // compare the base corpus with itself (duplicate counts must see
      // every replica for the monotonicity claim to mean anything)
      val upSpans = graft.CacheRegistry.persist(
        graft.operators.Dedup.charDuplicateSpans(
          docs, minLen = 25, minCount = 2, hashed = true)
          .filter(col("doc_id") < 10000000L))
      // every base-covered position must sit inside SOME replica-0 span
      val lost = baseSpans.as("b").join(upSpans.as("u"),
          col("b.doc_id") === col("u.doc_id") &&
            col("b.span_start") >= col("u.span_start") &&
            col("b.span_start") <= col("u.span_end"),
          "left_anti")
        .count()
      // span STARTS suffice: if a base span's start is covered but some
      // later position were not, the base span would have been split —
      // so also require no base span extends past its covering span
      val overrun = baseSpans.as("b").join(upSpans.as("u"),
          col("b.doc_id") === col("u.doc_id") &&
            col("b.span_start") >= col("u.span_start") &&
            col("b.span_end") <= col("u.span_end"))
        .count()
      val nBase = baseSpans.count()
      require(lost == 0L && overrun == nBase,
        s"coverage lost at x$factor: $lost base spans uncovered, " +
          s"$overrun/$nBase fully contained")
      graft.CacheRegistry.releaseAll()
      nBase
    }
  }

  /** Upscaled embeddings (cached on disk): replica k shifts vec_id and
    * cyclically rotates the vector — rotations preserve norms and the
    * pairwise-cosine spectrum, so each replica is geometrically
    * isomorphic to the original while sitting elsewhere on the sphere.
    */
  private def ensureEmbeddings(spark: SparkSession, srcDir: String,
                               base: String, factor: Int): DataFrame = {
    val t = time(factor) _
    val embPath = s"$base/embeddings.parquet"
    if (!done(spark, base, embPath)) {
      val src = graft.sources.Tables.table(spark, srcDir, "embeddings")
      val replicas = (0 until factor).map { k =>
        if (k == 0) src
        else src
          .withColumn("vec_id", col("vec_id") + lit(k * 10000000L))
          .withColumn("embedding",
            concat(slice(col("embedding"), k % 64 + 1, 64 - k % 64),
              slice(col("embedding"), 1, k % 64)))
      }
      t("generate embeddings") {
        replicas.reduce(_ unionByName _).repartition(32)
          .write.mode("overwrite").parquet(embPath)
        spark.read.parquet(embPath).count()
      }
    }
    spark.read.parquet(embPath)
  }

  // ───────────────────── hnsw suite (graph ANN) ───────────────────────────

  /** Sharded-HNSW at scale: shards grow WITH the corpus (shards =
    * 4·factor — the documented deployment knob: per-shard graph size
    * stays constant, so build and search parallelize horizontally and
    * per-task memory never grows). Measures build, one top-20 search,
    * total distance evals, and ASSERTS the recall invariant (>= 0.9
    * against the exact top-20 over the full upscaled corpus) — the
    * claim that graph search quality does not decay with corpus size.
    */
  private def hnswSuite(spark: SparkSession, srcDir: String,
                        base: String, factor: Int): Unit = {
    val t = time(factor) _
    val emb = ensureEmbeddings(spark, srcDir, base, factor)
    val n = emb.count()
    println(s"REHEARSAL x$factor hnsw: $n vectors, ${4 * factor} shards")
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray
    val corpus = emb.filter(col("vec_id") =!= 0)
    val storePath = s"$base/hnsw-store"
    t("hnsw_build") {
      graft.operators.Hnsw.build(corpus, shards = 4 * factor)
        .write.mode("overwrite").parquet(storePath)
      spark.read.parquet(storePath).count()
    }
    val store = spark.read.parquet(storePath)
    t("hnsw_search_top20") {
      run(graft.operators.Hnsw.neighbors(store, q, 20, efSearch = 48,
        parallelism = 4 * factor))
    }
    t("hnsw_evals") {
      val st = graft.operators.Hnsw.searchStats(store, q, efSearch = 48,
          parallelism = 4 * factor)
        .agg(sum("dist_evals"), sum("n_nodes")).head()
      val (evals, nodes) = (st.getLong(0), st.getLong(1))
      println(f"REHEARSAL x$factor hnsw_evals evals=$evals nodes=$nodes " +
        f"frac=${evals.toDouble / nodes}%.3f")
      evals
    }
    // admission: insert the top-decile ids into a store built on the
    // rest — per-shard warm insertion, never a rebuild; the line to
    // compare against hnsw_build (a full rebuild at the same size)
    t("hnsw_admission_batch") {
      val cut = emb.agg(max("vec_id")).head().getLong(0) * 9 / 10
      val baseStore = graft.operators.Hnsw.build(
        corpus.filter(col("vec_id") <= cut), shards = 4 * factor)
        .persist()
      baseStore.count() // build outside the measured admission
      val t0 = System.nanoTime()
      val admitted = graft.operators.Hnsw.add(baseStore,
        corpus.filter(col("vec_id") > cut), shards = 4 * factor)
      run(admitted)
      println(f"REHEARSAL x$factor hnsw_admission_batch " +
        f"admit_sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      baseStore.unpersist()
      -1L
    }
    // the OTHER shard policy: hold shards at 4 while the corpus grows —
    // per-shard graphs get deeper, and the visited FRACTION must fall
    // (graph search is ~log n per shard); this is the line that proves
    // the search never degenerates to a scan as shards fill up.
    val storePath4 = s"$base/hnsw-store-4"
    t("hnsw_build_fixedshards") {
      graft.operators.Hnsw.build(corpus, shards = 4)
        .write.mode("overwrite").parquet(storePath4)
      spark.read.parquet(storePath4).count()
    }
    t("hnsw_evals_fixedshards") {
      val st = graft.operators.Hnsw.searchStats(
          spark.read.parquet(storePath4), q, efSearch = 48)
        .agg(sum("dist_evals"), sum("n_nodes")).head()
      val (evals, nodes) = (st.getLong(0), st.getLong(1))
      println(f"REHEARSAL x$factor hnsw_evals_fixedshards evals=$evals " +
        f"nodes=$nodes frac=${evals.toDouble / nodes}%.3f")
      evals
    }
    t("hnsw_recall_invariant") {
      val exact = graft.operators.Similarity.topK(emb, q, 20,
          excludeId = Some(0L))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val got = graft.operators.Hnsw.neighbors(store, q, 20, efSearch = 48,
          parallelism = 4 * factor)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val recall = exact.intersect(got).size
      require(recall >= 18,
        s"recall@20 decayed at x$factor: $recall/20")
      println(s"REHEARSAL x$factor hnsw_recall recall@20=$recall/20")
      recall.toLong
    }
    graft.CacheRegistry.releaseAll()
  }

  // ─────────────────── jw suite (fuzzy matching / linkage) ────────────────

  /** Replica-k substitution cipher target for `translate` over
    * [a-zA-Z0-9]; k = 0 is the identity (the original corpus is replica 0).
    */
  private val CipherAlphabet =
    (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).mkString

  private def cipherTo(k: Int): String =
    if (k == 0) CipherAlphabet
    else new scala.util.Random(k * 7919L + 17)
      .shuffle(CipherAlphabet.toVector).mkString

  private def jwSuite(spark: SparkSession, srcDir: String,
                      base: String, factor: Int): Unit = {
    val t = time(factor) _
    val custPath = s"$base/jw-customer.parquet"
    val partPath = s"$base/jw-part.parquet"
    if (!done(spark, base, custPath)) {
      val src = graft.sources.Tables.table(spark, srcDir, "customer")
      val reps = (0 until factor).map { k =>
        src.withColumn("c_custkey", col("c_custkey") + lit(k * 10000000L))
          .withColumn("c_name",
            translate(col("c_name"), CipherAlphabet, cipherTo(k)))
      }
      t("generate jw customer") {
        reps.reduce(_ unionByName _).repartition(32)
          .write.mode("overwrite").parquet(custPath)
        spark.read.parquet(custPath).count()
      }
    }
    if (!done(spark, base, partPath)) {
      val src = graft.sources.Tables.table(spark, srcDir, "part")
        .select(col("p_partkey"), col("p_name"))
      val reps = (0 until factor).map { k =>
        src.withColumn("p_partkey", col("p_partkey") + lit(k * 10000000L))
          .withColumn("p_name",
            translate(col("p_name"), CipherAlphabet, cipherTo(k)))
      }
      t("generate jw part") {
        reps.reduce(_ unionByName _).repartition(32)
          .write.mode("overwrite").parquet(partPath)
        spark.read.parquet(partPath).count()
      }
    }
    val cust = spark.read.parquet(custPath)
    val part = spark.read.parquet(partPath)
    println(s"REHEARSAL x$factor jw: ${cust.count()} customers, ${part.count()} parts")
    import graft.functions.GraftFunctions.jaro_winkler

    // ── anagram route: q185's shape — tight threshold, NO blocking ─────
    val tTight = 0.985
    var verified: DataFrame = null
    t("jw_anagram_route") {
      val cands = graft.CacheRegistry.persist(
        graft.operators.FuzzyJoin.jaroWinklerSelfCandidates(
          cust.select(col("c_custkey"), col("c_name")),
          tTight - 1e-6, "c_custkey", "c_name"))
      requireNoCartesian(cands, "jw_anagram_route")
      val nCand = cands.count()
      verified = graft.CacheRegistry.persist(
        cands.filter(jaro_winkler(col("si"), col("sj")) >= tTight)
          .select(col("i"), col("j")))
      val nVer = verified.count()
      println(s"REHEARSAL x$factor jw_anagram_route candidates=$nCand verified=$nVer")
      nVer
    }
    // ── correctness AT scale: the cipher is a character bijection, and
    //    JW depends only on character equality/position — so every
    //    replica's verified-pair set is exactly isomorphic to replica
    //    0's. Equal per-replica counts + zero cross-replica pairs are
    //    PROVABLE invariants; a violation means the candidate routes
    //    lost pairs somewhere between sf0.1 and this factor. ───────────
    t("jw_anagram_invariants") {
      def rep(c: Column) = (c / 10000000L).cast("int")
      val cross = verified.filter(rep(col("i")) =!= rep(col("j"))).count()
      require(cross == 0L,
        s"$cross cross-replica JW pairs at $tTight — ciphered replicas " +
          "must not pair")
      val perRep = verified.groupBy(rep(col("i")).as("r")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val counts = (0 until factor).map(k => perRep.getOrElse(k, 0L)).distinct
      require(counts.size == 1,
        s"per-replica JW pair counts diverge (cipher isomorphism broken): " +
          (0 until factor).map(k => s"$k=${perRep.getOrElse(k, 0L)}")
            .mkString(", "))
      graft.CacheRegistry.releaseAll()
      perRep.values.sum
    }
    // ── prefix-filter route: q171's shape — loose threshold inside
    //    hash blocks, block count scaled WITH the corpus (the operator's
    //    documented deployment: prefix filtering bounds per-block work;
    //    block granularity is the corpus-size knob). ────────────────────
    t("jw_prefix_route") {
      val tLoose = 0.9
      val blocked = part.withColumn("__pb",
        graft.operators.Sampling.hashBucket(
          concat(lit("pb:"), col("p_partkey").cast("string")), 32 * factor))
      val cands = graft.CacheRegistry.persist(
        graft.operators.FuzzyJoin.jaroWinklerSelfCandidates(
          blocked, tLoose - 1e-6, "p_partkey", "p_name", Seq("__pb")))
      requireNoCartesian(cands, "jw_prefix_route")
      val nCand = cands.count()
      val nVer = cands.filter(jaro_winkler(col("si"), col("sj")) >= tLoose)
        .count()
      println(s"REHEARSAL x$factor jw_prefix_route candidates=$nCand verified=$nVer")
      graft.CacheRegistry.releaseAll()
      nVer
    }
    // ── blocked Fellegi–Sunter: q173's shape — score-driven candidate
    //    generation (exact-field equi-join ∪ JW prefix candidates), block
    //    key extended by the replica exactly as a production deployment
    //    refines blocks as the corpus grows. ─────────────────────────────
    t("linkage_fuzzy_blocked") {
      val rep = (col("c_custkey") % lit(1000000000L) / 10000000L).cast("long")
      val bk = graft.operators.Sampling.hashBucket(
        col("c_custkey").cast("string"), 21)
      val clean = cust.select(col("c_custkey"), col("c_nationkey"),
        rep.as("__rep"), col("c_name").as("name"),
        col("c_mktsegment").as("segment"),
        round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      val dirty = cust.select(
        (col("c_custkey") + 1000000000L).as("r_id"), col("c_nationkey"),
        rep.as("__rep"),
        // delete the 10th character on every 5th row — q173's one-char
        // perturbation, expressed cipher-agnostically
        when(bk % 5 === 0, concat(substring(col("c_name"), 1, 9),
            substring(col("c_name"), 11, 100)))
          .otherwise(col("c_name")).as("name"),
        when(bk % 7 === 3, lit(null).cast("string"))
          .otherwise(col("c_mktsegment")).as("segment"),
        (round(col("c_acctbal") * 100).cast("long") + (bk % 3 - 1))
          .as("bal_cents"))
      val scored = graft.operators.Linkage.fellegiSunterFuzzyBlocked(
        clean, dirty, "c_custkey", "r_id", Seq("c_nationkey", "__rep"),
        exactFields = Seq(("segment", 0.9, 0.25), ("bal_cents", 0.85, 0.005)),
        fuzzyFields = Seq(("name", 0.95, 0.05, 0.98)),
        threshold = 3.0)
      requireNoCartesian(scored, "linkage_fuzzy_blocked")
      val n = scored.count()
      graft.CacheRegistry.releaseAll()
      n
    }
  }

  // ───────────────────── tpch suite (relational core) ─────────────────────

  private def tpchSuite(spark: SparkSession, srcDir: String,
                        base: String, factor: Int): Unit = {
    val t = time(factor) _
    val dir = s"$base/tpch"
    // guard on the LAST table written (events): a crash mid-generation
    // must re-generate, not read a half-populated cache dir
    if (!done(spark, base, s"$dir/events.parquet")) {
      t("generate tpch tables") {
        // dims copy unscaled — a ×100 corpus grows facts, not dims
        Seq("region", "nation", "supplier", "part").foreach { name =>
          graft.sources.Tables.table(spark, srcDir, name)
            .write.mode("overwrite").parquet(s"$dir/$name.parquet")
        }
        def upscale(name: String, shift: DataFrame => Int => DataFrame): Unit = {
          val src = graft.sources.Tables.table(spark, srcDir, name)
          (0 until factor).map(k => shift(src)(k)).reduce(_ unionByName _)
            .repartition(32)
            .write.mode("overwrite").parquet(s"$dir/$name.parquet")
        }
        // k·10⁷ keeps every shifted key inside int32 range (sf0.1 keys
        // stay under 10⁶; 199·10⁷ + 10⁶ < 2³¹): downstream queries cast
        // order keys to int (q03's hour binding), and the rehearsal must
        // scale the DATA, not widen the reference's column contracts
        upscale("customer", src => k =>
          src.withColumn("c_custkey", col("c_custkey") + lit(k * 10000000L)))
        upscale("orders", src => k =>
          src.withColumn("o_orderkey", col("o_orderkey") + lit(k * 10000000L))
            .withColumn("o_custkey", col("o_custkey") + lit(k * 10000000L)))
        upscale("lineitem", src => k =>
          src.withColumn("l_orderkey", col("l_orderkey") + lit(k * 10000000L)))
        upscale("events", src => k =>
          src.withColumn("event_id", col("event_id") + lit(k * 10000000L)))
        spark.read.parquet(s"$dir/lineitem.parquet").count()
      }
    }
    println(s"REHEARSAL x$factor tpch: " +
      s"${spark.read.parquet(s"$dir/lineitem.parquet").count()} lineitem rows")
    val qs = Seq("q01_filter_project", "q02_hourly_agg", "q03_wape",
      "q04_left_join", "q05_anti_join", "q06_pivot", "q07_topk",
      "q08_distinct", "q15_grouping_sets", "q184_client_csv")
    qs.foreach { name =>
      t(s"tpch_$name") {
        run(graft.SparkEntry.queries(name)(spark, dir))
        graft.CacheRegistry.releaseAll(); -1L
      }
    }
    // ── correctness AT scale: disjoint replica key spaces make exact ×F
    //    row-count and ×F cent-sum invariants provable. ─────────────────
    t("tpch_invariants") {
      def q(n: String, d: String) = graft.SparkEntry.queries(n)(spark, d)
      Seq("q01_filter_project", "q04_left_join", "q05_anti_join")
        .foreach { n =>
          val up = q(n, dir).count()
          val baseN = q(n, srcDir).count()
          require(up == factor * baseN,
            s"$n: $up rows at x$factor, expected ${factor}x$baseN")
        }
      // q03's WAPE frame is day-grained and every replica shares the
      // calendar, so the ×F corpus must reproduce the BASE output in a
      // provable way: per day, the cent-sum MAGNITUDE columns are exact
      // integers that scale exactly ×F, and the MAPE ratios are
      // bitwise-identical (the ×F numerator over the ×F denominator is
      // the same true quotient, and IEEE division correctly rounds it —
      // both operands stay far under 2^53)
      val mags = Seq("forecast", "backcast", "settlement",
        "forecast_abs_error", "backcast_abs_error", "settlement_abs")
      def wproj(d: String, scaleDown: Boolean) = {
        val w = q("q03_wape", d)
        w.select(col("proxy_date") +: col("forecast_mape") +:
          col("backcast_mape") +: mags.map(c =>
            (if (scaleDown) col(c) / factor else col(c)).as(c)): _*)
      }
      val wUp = wproj(dir, scaleDown = true)
      val wBase = wproj(srcDir, scaleDown = false)
      require(wUp.exceptAll(wBase).count() == 0 &&
          wBase.exceptAll(wUp).count() == 0,
        s"q03 daily WAPE must be base×$factor in magnitudes and " +
          "bitwise-identical in ratios")
      def cents(d: String): Long = q("q02_hourly_agg", d)
        .agg(sum(round(col("sum_value") * 100)).cast("long")).head().getLong(0)
      val (upC, baseC) = (cents(dir), cents(srcDir))
      require(upC == factor * baseC,
        s"q02 cent total $upC at x$factor, expected ${factor}x$baseC")
      graft.CacheRegistry.releaseAll()
      -1L
    }
    // ── plan audit at scale: the dim join must still broadcast, the
    //    date filter must still reach the parquet scan, the WAPE
    //    pipeline must stay cartesian-free. ──────────────────────────────
    t("tpch_plan_audit") {
      def q(n: String) = graft.SparkEntry.queries(n)(spark, dir)
      val p04 = q("q04_left_join").queryExecution.executedPlan.toString
      require(p04.contains("BroadcastHashJoin"),
        s"q04 must broadcast the nation dim at x$factor:\n$p04")
      val p01 = q("q01_filter_project").queryExecution.executedPlan.toString
      require(p01.contains("GreaterThanOrEqual(l_shipdate") ||
          p01.contains("PushedFilters: [IsNotNull(l_shipdate)"),
        s"q01's shipdate filter must be pushed to the scan at x$factor:\n$p01")
      requireNoCartesian(q("q03_wape"), "q03_wape")
      requireNoCartesian(q("q05_anti_join"), "q05_anti_join")
      -1L
    }
  }
}
