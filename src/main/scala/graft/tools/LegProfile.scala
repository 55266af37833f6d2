package graft.tools

import graft.GraftMetrics

/** Leg-level job attribution for the store-lifecycle queries — the
  * [[graft.GraftMetrics]] counters Bench reports per query, keyed per
  * lifecycle STEP instead, so "q204 runs 95 jobs" decomposes into "train
  * 12, build 18, append 14, delete 16, compact 24, serve 11".
  * Measurement-only: runs the same bodies as the queries/scale lines on a
  * scratch dir.
  *
  *   sbt "runMain graft.tools.LegProfile [sfDir]"
  */
object LegProfile {
  def main(args: Array[String]): Unit = {
    val sfDir =
      if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val scratch =
      java.nio.file.Files.createTempDirectory("graft-legprof-scratch-")
    System.setProperty("java.io.tmpdir", scratch.toString)
    val spark = graft.GraftSession.local(cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.functions._
    val metrics = GraftMetrics.of(spark)
    try spark.read.parquet(s"$sfDir/nation.parquet")
      .groupBy("n_regionkey").count()
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    def leg[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = GraftMetrics.withLeg(spark, s"legprofile/$name")(body)
      val sec = (System.nanoTime() - t0) / 1e9
      val p = metrics.profile(s"legprofile/$name")
      println(f"$name%-34s $sec%8.3f s ${p.jobs}%5d jobs " +
        f"${p.tasks}%6d tasks ${p.taskSec}%8.2f taskSec")
      r
    }
    val tmp = System.getProperty("java.io.tmpdir")

    println("== q204_geostore_delete legs ==")
    locally {
      val emb = graft.sources.Tables.table(spark, sfDir, "embeddings")
      val corpus = emb.filter(col("vec_id") >= 5)
        .select(col("vec_id"), col("embedding"))
      val path = s"$tmp/legprof-geostore-q204"
      val index = leg("q204 train") {
        graft.operators.IVF.train(corpus, 4, 5, maxTrainRows = 400L)
      }
      val base = leg("q204 build") {
        graft.operators.HnswGeoStore.build(spark,
          corpus.filter(col("vec_id") < 300), path, index)
      }
      val grown = leg("q204 append") {
        graft.operators.HnswGeoStore.append(spark, base,
          corpus.filter(col("vec_id") >= 300))
      }
      val erased = leg("q204 delete") {
        graft.operators.HnswGeoStore.delete(spark, grown,
          corpus.filter(col("vec_id") % 5 === 1).select(col("vec_id")))
      }
      val compacted = leg("q204 compact") {
        graft.operators.HnswGeoStore.compact(spark, erased)
      }
      leg("q204 serve+noop") {
        graft.operators.HnswGeoStore.batchNeighbors(compacted,
          emb.filter(col("vec_id") < 5)
            .select(col("vec_id").as("probe_id"), col("embedding")),
          k = 10, efSearch = 64, nProbe = 8)
          .write.format("noop").mode("overwrite").save()
      }
      graft.CacheRegistry.releaseAll()
    }

    println("== q201_admit_batch legs ==")
    locally {
      val docs = graft.sources.Tables.table(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      val emb = graft.sources.Tables.table(spark, sfDir, "embeddings")
      val config = graft.pipelines.CorpusPipeline.Config(
        permHash = graft.operators.Dedup.Md5PermHash)
      val tPath = s"$tmp/legprof-admit-text"
      val gPath = s"$tmp/legprof-admit-geo"
      val corpus = leg("q201 qualityLang") {
        val c = graft.pipelines.CorpusPipeline.qualityLang(
            docs.filter(col("doc_id") < 300), config)
          .select(col("doc_id"), col("text"))
        c.write.format("noop").mode("overwrite").save()
        c
      }
      val textStore = leg("q201 text build") {
        graft.operators.DedupState.build(spark, corpus, tPath,
          hashTag = "md5")
      }
      val corpusEmb = emb.select(col("vec_id"), col("embedding"))
        .join(corpus.select(col("doc_id").as("vec_id")),
          Seq("vec_id"), "left_semi")
      val index = leg("q201 ivf train") {
        graft.operators.IVF.train(corpusEmb, 4, 5, maxTrainRows = 400L)
      }
      val geoStore = leg("q201 geo build") {
        graft.operators.HnswGeoStore.build(spark, corpusEmb, gPath, index)
      }
      // admitBatch DECOMPOSED — the same steps in the same order, each
      // timed separately (mirrors CorpusPipeline.admitBatch; measurement
      // only, the query runs the real function)
      locally {
        import graft.pipelines.CorpusPipeline
        import graft.functions.TextFunctions
        val batch = docs.filter(col("doc_id") >= 300)
        def cut(df: org.apache.spark.sql.DataFrame) = df.localCheckpoint(true)
        val ql = leg("q201 ab qualityLang") {
          val q = CorpusPipeline.qualityLang(batch, config)
          q.write.format("noop").mode("overwrite").save(); q
        }
        val textKept = leg("q201 ab textKept cut") {
          cut(graft.operators.DedupState.incrementalDedup(
            textStore, ql.select(col("doc_id"), col("text")), 0.8))
        }
        val embBatch = leg("q201 ab embBatch") {
          val e = graft.CacheRegistry.persist(
            emb.select(col("vec_id"), col("embedding"))
              .join(textKept.select(col("doc_id").as("vec_id")),
                Seq("vec_id"), "left_semi"))
          e.write.format("noop").mode("overwrite").save(); e
        }
        val semKept = leg("q201 ab semKept cut") {
          cut(graft.operators.HnswGeoStore.incrementalAdmit(
            geoStore, embBatch, 0.35, 64, 8))
        }
        val kept = leg("q201 ab kept cut") {
          val semDrops = embBatch.select(col("vec_id"))
            .join(semKept.select(col("vec_id")), Seq("vec_id"), "left_anti")
            .select(col("vec_id").as("doc_id"))
          cut(textKept.join(semDrops, Seq("doc_id"), "left_anti")
            .join(ql.drop("text"), Seq("doc_id"))
            .withColumn("subword_tokens",
              TextFunctions.subwordCount(col("text")))
            .withColumn("fingerprint",
              TextFunctions.md5Fingerprint(col("text"))))
        }
        leg("q201 ab text fold") {
          graft.operators.DedupState.append(spark, textStore,
            kept.select(col("doc_id"), col("text")), asBase = false)
        }
        leg("q201 ab geo fold") {
          graft.operators.HnswGeoStore.append(spark, geoStore, semKept,
            asBase = false, checkIds = false)
        }
      }
      graft.CacheRegistry.releaseAll()
    }

    println("== q205_dedupstore_forget legs ==")
    locally {
      val docs = graft.sources.Tables.table(spark, sfDir, "documents")
        .select(col("doc_id"), col("text"))
      val path = s"$tmp/legprof-dedupstate-q205"
      val store = leg("q205 build") {
        graft.operators.DedupState.build(spark,
          docs.filter(col("doc_id") < 300), path, hashTag = "md5")
      }
      val forgotten = leg("q205 forget") {
        graft.operators.DedupState.forget(spark, store,
          docs.filter(col("doc_id") < 300 && col("doc_id") % 7 === 3)
            .select(col("doc_id")))
      }
      leg("q205 admit+noop") {
        graft.operators.DedupState.incrementalDedup(
            forgotten, docs.filter(col("doc_id") >= 300))
          .write.format("noop").mode("overwrite").save()
      }
      graft.CacheRegistry.releaseAll()
    }

    println("== q109_pagerank legs ==")
    locally {
      val li = graft.sources.Tables.table(spark, sfDir, "lineitem")
        .select(col("l_orderkey").as("ok"), col("l_suppkey"))
      val ord = graft.sources.Tables.table(spark, sfDir, "orders")
        .select(col("o_orderkey").as("ok"), col("o_custkey"))
      val sc0 = li.join(ord, "ok")
        .select((col("l_suppkey") * 2).as("src"),
          (col("o_custkey") * 2 + 1).as("dst"))
      val edges = sc0.union(
        sc0.select(col("dst").as("src"), col("src").as("dst")))
      leg("q109 pageRank+noop") {
        graft.operators.Graph.pageRank(edges, 5)
          .write.format("noop").mode("overwrite").save()
      }
      graft.CacheRegistry.releaseAll()
    }

    spark.stop()
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(scratch).iterator().asScala.toSeq
        .reverseIterator.foreach(p =>
          try java.nio.file.Files.deleteIfExists(p)
          catch { case _: Throwable => () })
    } catch { case _: Throwable => () }
  }
}
