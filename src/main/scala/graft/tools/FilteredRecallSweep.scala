package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The recall-vs-selectivity curve for FILTERED ANN serving — the table a
  * user sizes `efSearch` from (the documented "raise efSearch with
  * 1/selectivity" knob, MEASURED instead of asserted): recall@10 of
  * [[graft.operators.Hnsw.batchNeighborsFiltered]] against the exact
  * brute-force top-10 over the allowed subset, swept over predicate
  * selectivity 1/3, 1/10, 1/100 × efSearch 16..512, on a ×F upscaled
  * embedding corpus (rotation replicas — the [[ScaleRehearsal]]
  * contract: norms and within-replica geometry preserved).
  *
  * Results are recorded in BASELINE.md's filtered-serving section;
  * HnswSpec asserts a floor at the measured operating points.
  *
  * Usage: sbt "runMain graft.tools.FilteredRecallSweep [factor] [shards]"
  * (shards defaults to 8 — pass shards ∝ factor to hold per-shard
  * graph size while the corpus grows, the scale rule the ×10-vs-×100
  * comparison in BASELINE.md establishes)
  */
object FilteredRecallSweep {

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val shards = args.lift(1).map(_.toInt).getOrElse(8)
    val capped = args.contains("capped")
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark =
      graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("WARN")
    if (capped) runCapped(spark, srcDir, factor, cells = shards)
    else run(spark, srcDir, factor, shards)
    spark.stop()
  }

  def run(spark: SparkSession, srcDir: String, factor: Int,
          shards: Int = 8): Unit = {
    val src = graft.sources.Tables.table(spark, srcDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // rotation replicas (the ScaleRehearsal upscale contract)
    val emb = graft.CacheRegistry.persist((0 until factor).map { k =>
      if (k == 0) src
      else src.withColumn("vec_id", col("vec_id") + lit(k * 10000000L))
        .withColumn("embedding",
          concat(slice(col("embedding"), k % 64 + 1, 64 - k % 64),
            slice(col("embedding"), 1, k % 64)))
    }.reduce(_ unionByName _)
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding")))
    // ~50 probes carved out of the corpus; the rest is the store
    val probes = graft.CacheRegistry.persist(
      emb.filter(pmod(col("vec_id"), lit(401L)) === 7L))
    val corpus = graft.CacheRegistry.persist(
      emb.join(probes.select("vec_id"), Seq("vec_id"), "left_anti"))
    val nProbes = probes.count()
    val n = corpus.count()
    println(s"RECALLSWEEP x$factor shards=$shards: $n stored vectors, $nProbes probes")
    val store = graft.CacheRegistry.persist(
      graft.operators.Hnsw.build(corpus, shards = shards))
    store.count()
    val probeFrame = probes
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val pSide = probes.select(col("vec_id").as("probe_id"),
      col("embedding").cast("array<double>").as("pv"))
    for (selDiv <- Seq(3L, 10L, 100L)) {
      val allowed = graft.CacheRegistry.persist(
        corpus.filter(pmod(col("vec_id"), lit(selDiv)) === 0L))
      val nAllowed = allowed.count()
      // exact brute-force top-10 over the allowed subset (bounded probe
      // side broadcast — the audit shape, not the serving path)
      val truth = graft.CacheRegistry.persist(
        allowed.select(col("vec_id"),
            col("embedding").cast("array<double>").as("cv"))
          .crossJoin(broadcast(pSide))
          .select(col("probe_id"), col("vec_id"),
            round(graft.functions.GraftFunctions.dot_product(
                col("pv"), col("cv")) /
              (graft.functions.GraftFunctions.l2_norm(col("pv")) *
                graft.functions.GraftFunctions.l2_norm(col("cv"))), 6)
              .as("cos"))
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("probe_id"))
              .orderBy(col("cos").desc, col("vec_id").asc)))
          .filter(col("rank") <= 10)
          .select("probe_id", "vec_id"))
      val truthN = truth.count()
      for (ef <- Seq(16, 32, 64, 128, 256, 512)) {
        val got = graft.operators.Hnsw.batchNeighborsFiltered(
            store, probeFrame, allowed.select("vec_id"),
            k = 10, efSearch = ef)
          .select("probe_id", "vec_id")
        val hit = got.join(truth, Seq("probe_id", "vec_id"), "left_semi")
          .count()
        println(f"RECALLSWEEP sel=1/$selDiv%d (allowed=$nAllowed) " +
          f"ef=$ef%d recall@10=${hit.toDouble / truthN}%.4f " +
          f"($hit/$truthN)")
        // NOT releaseAll here: the sweep's own persisted frames (store,
        // corpus, truth) must survive the loop; the serving path's
        // internal persists are small and reclaimed at the end
      }
    }
    graft.CacheRegistry.releaseAll()
  }

  /** The CAPPED-store arm (round-17 verdict #7): the identical
    * recall-vs-selectivity×ef sweep against a `maxCellNodes`-bounded
    * [[graft.operators.HnswGeoStore]]. [[graft.operators.Hnsw.recommendEf]]'s
    * grid was measured pre-[[graft.operators.Hnsw.GeoLayout]] on id-hash
    * shards; a capped store's sub-shard searches at the same ef are MORE
    * exhaustive per graph (q206's recall-improves mechanism), so this
    * arm measures whether the flat grid stays a valid FLOOR for capped
    * stores at equal per-shard node count — per-shard size here is the
    * cap itself (the cap is chosen below the balanced cell size, so
    * EVERY cell splits and sub-shard populations sit at ~cap). Routing
    * is exhaustive (nProbe = cells) so the ef envelope is measured
    * unconfounded by the cell-routing envelope, which BASELINE's
    * routing table covers separately.
    */
  def runCapped(spark: SparkSession, srcDir: String, factor: Int,
                cells: Int = 8): Unit = {
    import graft.operators.{HnswGeoStore, IVF}
    val src = graft.sources.Tables.table(spark, srcDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val emb = graft.CacheRegistry.persist((0 until factor).map { k =>
      if (k == 0) src
      else src.withColumn("vec_id", col("vec_id") + lit(k * 10000000L))
        .withColumn("embedding",
          concat(slice(col("embedding"), k % 64 + 1, 64 - k % 64),
            slice(col("embedding"), 1, k % 64)))
    }.reduce(_ unionByName _)
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding")))
    val probes = graft.CacheRegistry.persist(
      emb.filter(pmod(col("vec_id"), lit(401L)) === 7L))
    val corpus = graft.CacheRegistry.persist(
      emb.join(probes.select("vec_id"), Seq("vec_id"), "left_anti"))
    val n = corpus.count()
    // cap at half the balanced cell size → every cell splits ≥ 2-way
    val cap = math.max(64L, n / cells / 2L).toInt
    println(s"RECALLSWEEP-CAPPED x$factor cells=$cells cap=$cap: " +
      s"$n stored vectors, ${probes.count()} probes")
    val index = IVF.train(corpus, cells, 5, maxTrainRows = 100L * cells)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-recallsweep-capped"
    val store = HnswGeoStore.build(spark, corpus, dir, index,
      maxCellNodes = cap)
    val maxShard = store.segments.groupBy("shard").count()
      .agg(max("count")).head().getLong(0)
    println(s"RECALLSWEEP-CAPPED max_shard_nodes=$maxShard " +
      s"(cap envelope ${cap * 3 / 2})")
    val probeFrame = probes
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val pSide = probes.select(col("vec_id").as("probe_id"),
      col("embedding").cast("array<double>").as("pv"))
    for (selDiv <- Seq(3L, 10L, 100L)) {
      val allowed = graft.CacheRegistry.persist(
        corpus.filter(pmod(col("vec_id"), lit(selDiv)) === 0L))
      val nAllowed = allowed.count()
      val truth = graft.CacheRegistry.persist(
        allowed.select(col("vec_id"),
            col("embedding").cast("array<double>").as("cv"))
          .crossJoin(broadcast(pSide))
          .select(col("probe_id"), col("vec_id"),
            round(graft.functions.GraftFunctions.dot_product(
                col("pv"), col("cv")) /
              (graft.functions.GraftFunctions.l2_norm(col("pv")) *
                graft.functions.GraftFunctions.l2_norm(col("cv"))), 6)
              .as("cos"))
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("probe_id"))
              .orderBy(col("cos").desc, col("vec_id").asc)))
          .filter(col("rank") <= 10)
          .select("probe_id", "vec_id"))
      val truthN = truth.count()
      for (ef <- Seq(16, 32, 64, 128, 256, 512)) {
        val got = HnswGeoStore.batchNeighborsFiltered(
            store, probeFrame, allowed.select("vec_id"),
            k = 10, efSearch = ef, nProbe = cells)
          .select("probe_id", "vec_id")
        val hit = got.join(truth, Seq("probe_id", "vec_id"), "left_semi")
          .count()
        println(f"RECALLSWEEP-CAPPED sel=1/$selDiv%d (allowed=$nAllowed) " +
          f"ef=$ef%d recall@10=${hit.toDouble / truthN}%.4f " +
          f"($hit/$truthN)")
      }
    }
    graft.CacheRegistry.releaseAll()
  }
}
