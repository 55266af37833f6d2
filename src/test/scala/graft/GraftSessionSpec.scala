package graft

import graft.operators.{HnswGeoStore, IVF}

/** The session factory and the listener that rides on it: the shared test
  * session is the factory's session, the extensions conf line registers
  * the SQL surface by itself, no other main builds a session, and
  * [[GraftMetrics]] attributes every job to the key of the op that
  * launched it — jobs on `ParWrites` pool threads included.
  */
class GraftSessionSpec extends SparkSpec {
  import spark.implicits._

  test("the shared test session resolves every factory conf to the " +
       "factory's value") {
    GraftSession.confs(4).foreach { case (k, v) =>
      assert(spark.conf.get(k) === v, s"$k drifted from the factory")
    }
    // the two load-bearing settings, pinned as literals
    assert(spark.conf.get("spark.shuffle.sort.bypassMergeThreshold") === "0")
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") === "6000")
  }

  test("the spark.sql.extensions conf line alone registers every graft " +
       "function") {
    // a new session starts from the built-in registry plus whatever the
    // session's extensions inject — never from functions another spec
    // added with GraftExtensions.register
    val fresh = spark.newSession()
    GraftExtensions.definitions.foreach { case (id, _, _) =>
      assert(fresh.sessionState.functionRegistry.functionExists(id),
        s"${id.funcName} missing from a session built by GraftSession")
    }
    assert(fresh.sql("SELECT blake2b_hex('123')").head().getString(0) ===
      graft.functions.Blake2b.hexDigest("123".getBytes, 5))
  }

  test("no main source but GraftSession.scala builds a SparkSession") {
    import scala.jdk.CollectionConverters._
    val needle = "SparkSession" + ".builder"
    val root = java.nio.file.Path.of("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), "run from the repo root")
    val builders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => java.nio.file.Files.readString(p).contains(needle))
      .map(root.relativize(_).toString).toSeq.sorted
    assert(builders === Seq("graft/GraftSession.scala"))
  }

  test("GraftMetrics keys every job by graft.leg, ParWrites pool threads " +
       "included, and leaves none unkeyed") {
    val metrics = GraftMetrics.of(spark)
    assert(GraftMetrics.of(spark) eq metrics, "one listener per context")
    val emb = (1L to 120L).map { id =>
      (id, (0 until 16).map(d => ((id * 31 + d * 17) % 23).toFloat - 11f))
    }.toDF("vec_id", "embedding")
    val index = IVF.train(emb, k = 3, iters = 2)
    val dir = tmpDir("graft-metrics") + "/store"
    // an unkeyed build first: write threads that outlived it (a shared
    // pool) would carry no key into the keyed build below
    HnswGeoStore.build(spark, emb, dir, index)
    val run = System.nanoTime()
    val (keyA, keyB) = (s"spec/build#$run", s"spec/count#$run")
    val unkeyedBefore = metrics.profile(GraftMetrics.Unkeyed).jobs
    // build lands its epoch-0 relations from a ParWrites pool
    GraftMetrics.withLeg(spark, keyA) {
      HnswGeoStore.build(spark, emb, dir, index)
    }
    GraftMetrics.withLeg(spark, keyB)(spark.range(100).count())
    val a = metrics.profile(keyA)
    val b = metrics.profile(keyB)
    assert(a.jobs > 0 && a.tasks > 0, a)
    assert(b.jobs >= 1, b)
    assert(metrics.profile(GraftMetrics.Unkeyed).jobs === unkeyedBefore,
      "a job in the window carried no graft.leg")
    assert(spark.sparkContext.getLocalProperty(GraftMetrics.LegKey) === null,
      "withLeg must restore the caller's key")
  }
}
