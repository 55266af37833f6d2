package graft

import org.apache.spark.sql.functions._
import graft.operators.{DedupState, Hnsw, HnswGeoStore, IVF, StoreDigest}

/** Store-level digest ([[StoreDigest]] — round-17 verdict #4): the
  * one-call replica/migration/restore audit. Pins the verdict's
  * invariance list — plain ≡ bucketed dedup layouts, addGeo ≡ buildGeo
  * (monotone ids), and the
  * compaction-invariant geo relations (vectors/attrs/layout/index) —
  * and that the digest FLIPS on a single mutated row in any relation.
  */
class StoreDigestSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/store"

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3))).toSet

  private def docs(n: Int): Seq[(Long, String)] =
    (1 to n).map { i =>
      val words = (0 until 12).map(j =>
        s"w${(i * 31 + j * 7) % 40}")
      (i.toLong, words.mkString(" "))
    }

  private def vecs(n: Int): Seq[(Long, Seq[Double], Long)] =
    (1 to n).map { i =>
      val id = i.toLong
      val v = (0 until 12).map { d =>
        val h = (id * 2654435761L + d * 1315423911L) ^ (id >> 2)
        ((h % 2001L).toDouble - 1000.0) / 100.0
      }
      (id, v, id % 7L)
    }

  test("dedup store digest: plain ≡ bucketed, and " +
       "one extra admitted doc flips posting + the rollup") {
    val corpus = docs(120).toDF("doc_id", "text")
    val plain = DedupState.build(spark, corpus, tmp("sd-plain"))
    val bucketed = DedupState.build(spark, corpus, tmp("sd-bucket"),
      buckets = 16)
    val dPlain = rows(StoreDigest.digestDedup(spark, plain))
    val dBucketed = rows(StoreDigest.digestDedup(spark, bucketed))
    assert(dPlain === dBucketed,
      "bucketed layout must digest as the plain store")
    // sensitivity: one more doc flips posting and the rollup
    val (_, grown) = DedupState.admit(spark, plain,
      Seq((500L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"))
        .toDF("doc_id", "text"))
    val dGrown = rows(StoreDigest.digestDedup(spark, grown))
    val changed = dPlain.map(_._1) -- dGrown.intersect(dPlain).map(_._1)
    assert(changed.contains("posting") && changed.contains("__store"),
      s"one admitted doc must flip posting + rollup, changed=$changed")
    CacheRegistry.releaseAll()
  }

  test("geo store digest: vectors/attrs/layout/index survive " +
       "compaction bitwise, the whole digest survives a replica " +
       "reload, and one updated attr row flips attrs + the rollup") {
    val emb = vecs(200).toDF("vec_id", "embedding", "bucket")
    val index = IVF.train(emb, k = 4, iters = 3)
    val dir = tmp("sd-geo")
    var st = HnswGeoStore.build(spark, emb.filter(col("vec_id") <= 140),
      dir, index)
    st = HnswGeoStore.append(spark, st, emb.filter(col("vec_id") > 140))
    val pre = rows(StoreDigest.digestGeo(spark, st))
    // replica audit: a reload digests identically
    assert(rows(StoreDigest.digestGeo(spark,
      HnswGeoStore.load(spark, dir))) === pre,
      "a reloaded handle must digest as the original")
    // compaction: vectors/attrs/layout/index invariant; graph changes
    // honestly (deltas merge into the base)
    st = HnswGeoStore.compact(spark, st)
    val post = rows(StoreDigest.digestGeo(spark, st))
    for (rel <- Seq("vectors", "attrs", "layout", "index")) {
      assert(pre.filter(_._1 == rel) === post.filter(_._1 == rel),
        s"$rel must survive compaction bitwise")
    }
    // one payload row updated → attrs + rollup flip, vectors/graph hold
    val upd = HnswGeoStore.updateAttrs(spark, st,
      Seq((7L, 6L)).toDF("vec_id", "bucket"))
    val updD = rows(StoreDigest.digestGeo(spark, upd))
    assert(updD.filter(_._1 == "vectors") === post.filter(_._1 == "vectors"),
      "an attr update must not move the vectors digest")
    assert(updD.filter(_._1 == "graph") === post.filter(_._1 == "graph"),
      "an attr update must not move the graph digest")
    assert(updD.filter(_._1 == "attrs") !== post.filter(_._1 == "attrs"),
      "one updated payload row must flip the attrs digest")
    assert(updD.filter(_._1 == "__store") !== post.filter(_._1 == "__store"),
      "the rollup must flip with any relation")
    CacheRegistry.releaseAll()
  }

  test("geo graph digest: addGeo ≡ buildGeo for monotone ids — the " +
       "grown store digests as the from-scratch build (one-base " +
       "store, the compaction≡rebuild regime)") {
    val all = vecs(180).map { case (id, v, _) => (id, v) }
    val emb = all.toDF("vec_id", "embedding")
    val index = IVF.train(emb, k = 4, iters = 3)
    // one-base store grown by compaction-with-admission (asBase): the
    // standing graph IS addGeo(base, batch), the counterfactual is
    // buildGeo(union) — the q190 theorem as a digest identity
    val dirA = tmp("sd-add")
    var a = HnswGeoStore.build(spark,
      all.filter(_._1 <= 120).toDF("vec_id", "embedding"), dirA, index)
    a = HnswGeoStore.append(spark, a,
      all.filter(_._1 > 120).toDF("vec_id", "embedding"), asBase = true)
    val dirB = tmp("sd-build")
    val b = HnswGeoStore.build(spark, emb, dirB, index)
    assert(rows(StoreDigest.digestGeo(spark, a)) ===
      rows(StoreDigest.digestGeo(spark, b)),
      "monotone-id compaction-with-admission must digest as the " +
        "from-scratch build — every relation, including graph")
    CacheRegistry.releaseAll()
  }
}
