package graft

import org.apache.spark.sql.functions._
import graft.operators.{Hnsw, HnswGeoStore, IVF, Similarity, StoreCommits}

/** Segmented geometry-routed HNSW store: epoch/commit round-trips,
  * compaction-by-warm-insertion's bitwise theorem, the routed admission
  * filter's three drop arms, and the drift-triggered retrain lifecycle.
  */
class HnswGeoStoreSpec extends SparkSpec {
  import spark.implicits._

  // same deterministic hash-mix corpus as HnswSpec
  private def corpus(n: Int): Seq[(Long, Seq[Float])] =
    (1L to n.toLong).map { id =>
      val v = (0 until 64).map { d =>
        val h = (id * 1315423911L + d * 2654435761L) ^ (id >> 3)
        ((h % 2001L).toFloat - 1000f) / 1000f
      }
      (id, v)
    }

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString + "/store"

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("build/append/loadAt round-trip: delta epochs are immediately " +
       "routable, batch serving matches the single-query surface, and " +
       "history reads stay pinned") {
    val base = corpus(300)
    val emb = base.toDF("vec_id", "embedding")
    val index = IVF.train(emb, k = 6, iters = 3)
    val dir = tmp("hnsw-geo-rt")
    var store = HnswGeoStore.build(spark, emb, dir, index)
    assert(store.epoch === 0L && store.baseEpoch === 0L)
    val b1 = corpus(340).filter(_._1 > 300L)
    store = HnswGeoStore.append(spark, store,
      b1.toDF("vec_id", "embedding"))
    assert(store.epoch === 1L && store.epochs === Seq(0L, 1L))
    assert(store.segments.count() === 340L)
    // routed self-query finds the vector admitted one epoch ago
    val probe = b1.last
    val got = HnswGeoStore.neighbors(store,
        probe._2.map(_.toDouble).toArray, 1, efSearch = 16)
      .select("vec_id").as[Long].head()
    assert(got === probe._1, "self-query must return the admitted vector")
    // a batch of one reproduces the single-query surface value for value
    val q = probe._2.map(_.toDouble)
    val single = Seq((9001L, q)).toDF("probe_id", "embedding")
    val served = HnswGeoStore.batchNeighbors(store, single, k = 5,
      efSearch = 16)
    // the epoch fan-out is a literal-array explode, never a join — a
    // crossJoin(broadcast) here plans as BroadcastNestedLoopJoin and
    // trips every cartesian tripwire in the repo
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") &&
      !plan.contains("CartesianProduct"),
      s"routed serving plan must not cross-join probes with epochs:\n$plan")
    val batchGot = served
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val want = HnswGeoStore.neighbors(store, q.toArray, 5, efSearch = 16)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(batchGot === want)
    // as-of read does not see the delta epoch
    assert(HnswGeoStore.loadAt(spark, dir, 0L).segments.count() === 300L)
    // poison probes fail loudly, not as executor NPEs
    val bad = Seq((1L, null.asInstanceOf[Seq[Double]]))
      .toDF("probe_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      HnswGeoStore.batchNeighbors(store, bad, k = 1, efSearch = 16)
    }
    assert(e.getMessage.contains("null probe embeddings"), e.getMessage)
    CacheRegistry.releaseAll()
  }

  test("compaction folds delta epochs into the base by WARM insertion " +
       "(addGeo as the kernel) — bitwise the from-scratch buildGeo for " +
       "monotone ids; vacuum reclaims the superseded range") {
    val all = corpus(400)
    val a = all.filter(_._1 <= 300L)
    val b = all.filter(id => id._1 > 300L && id._1 <= 360L)
    val c = all.filter(_._1 > 360L)
    // index frozen over the full distribution — the standing-geometry
    // discipline (growth assigns against it, never moves it)
    val index = IVF.train(all.toDF("vec_id", "embedding"), k = 6, iters = 3)
    val dir = tmp("hnsw-geo-compact")
    var store = HnswGeoStore.build(spark,
      a.toDF("vec_id", "embedding"), dir, index)
    store = HnswGeoStore.append(spark, store, b.toDF("vec_id", "embedding"))
    store = HnswGeoStore.append(spark, store, c.toDF("vec_id", "embedding"),
      asBase = true)
    assert(store.baseEpoch === 2L && store.epochs === Seq(2L))
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val unstrided = store.segments.withColumn("shard",
      col("shard") - lit(2L * HnswGeoStore.CellStride))
    assert(dump(unstrided) ===
      dump(Hnsw.buildGeo(all.toDF("vec_id", "embedding"), index)),
      "warm compaction must reproduce the from-scratch geo build")
    // routed near-dups over the standing store: nProbe >= k is
    // exhaustive-by-construction — equal to the fan-out on the same rows
    assert(pairSet(HnswGeoStore.nearDupPairs(store, 0.3, nProbe = 8)) ===
      pairSet(Hnsw.nearDupPairs(store.segments, 0.3)))
    // vacuum reclaims everything before the new base; the store still answers
    HnswGeoStore.vacuum(spark, store)
    assert(!new java.io.File(s"$dir/segments/epoch=0").exists())
    assert(!new java.io.File(s"$dir/index/epoch=0").exists())
    val re = HnswGeoStore.load(spark, dir)
    assert(re.segments.count() === 400L && re.baseEpoch === 2L)
    assert(re.index.centroids.length === 6)
    CacheRegistry.releaseAll()
  }

  test("incrementalAdmit drops store near-dups, re-sent ids, and " +
       "within-batch dups — all through the ROUTED search, with no " +
       "driver-side batch cap") {
    val base = corpus(200)
    val emb = base.toDF("vec_id", "embedding")
    val index = IVF.train(emb, k = 4, iters = 3)
    val dir = tmp("hnsw-geo-admit")
    val store = HnswGeoStore.build(spark, emb, dir, index)
    val twinOf5 = base(4)._2.map(x => x * 1.0001f) // cos ~ 1 vs stored 5
    val novel1 = (0 until 64).map(d => math.sin(d * 3.7).toFloat)
    val batch = Seq(
      (1000L, twinOf5),                    // near-dup of stored -> drop
      (10L, novel1),                       // re-sent id -> drop
      (1001L, novel1),                     // kept (smaller id of the pair)
      (1002L, novel1.map(_ * 1.0001f)))    // in-batch dup of 1001 -> drop
      .toDF("vec_id", "embedding")
    val (kept, store2) = HnswGeoStore.admit(spark, store, batch, 0.9)
    assert(kept.select("vec_id").as[Long].collect().toSet === Set(1001L))
    assert(store2.epoch === 1L)
    assert(store2.segments.select("vec_id").as[Long].collect().toSet ===
      base.map(_._1).toSet + 1001L)
    // replaying the same batch against the same pre-state is idempotent
    val again = HnswGeoStore.incrementalAdmit(
      HnswGeoStore.loadAt(spark, dir, 0L), batch, 0.9)
    assert(again.select("vec_id").as[Long].collect().toSet === Set(1001L))
    CacheRegistry.releaseAll()
  }

  test("append fails LOUDLY on a duplicate vec_id at the offending " +
       "append — not at the next compaction; the admission path skips " +
       "the redundant probe") {
    val base = corpus(120)
    val emb = base.toDF("vec_id", "embedding")
    val index = IVF.train(emb, k = 4, iters = 3)
    val dir = tmp("hnsw-geo-dupid")
    val store = HnswGeoStore.build(spark, emb, dir, index)
    val dup = Seq((60L, corpus(1).head._2)).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      HnswGeoStore.append(spark, store, dup)
    }
    assert(e.getMessage.contains("shares vec_ids"), e.getMessage)
    // the failed append left nothing committed
    assert(HnswGeoStore.load(spark, dir).epoch === 0L)
    // checkIds = false is the admission path's contract: the id was
    // already proven disjoint there, so the probe is skipped
    val fresh = Seq((500L, corpus(1).head._2.map(_ * 0.5f)))
      .toDF("vec_id", "embedding")
    val s2 = HnswGeoStore.append(spark, store, fresh, checkIds = false)
    assert(s2.epoch === 1L && s2.segments.count() === 121L)
    CacheRegistry.releaseAll()
  }

  test("incremental drift stats: the per-epoch fold (currentStats) " +
       "reproduces the full corpus recompute EXACTLY across deltas, " +
       "compaction, and retrain") {
    val all = corpus(360)
    val emb = all.toDF("vec_id", "embedding")
    val index = IVF.train(emb, k = 6, iters = 3)
    val dir = tmp("hnsw-geo-stats")
    var store = HnswGeoStore.build(spark,
      all.filter(_._1 <= 200L).toDF("vec_id", "embedding"), dir, index)
    store = HnswGeoStore.append(spark, store,
      all.filter(id => id._1 > 200L && id._1 <= 280L)
        .toDF("vec_id", "embedding"))
    store = HnswGeoStore.append(spark, store,
      all.filter(_._1 > 280L).toDF("vec_id", "embedding"))
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("cid").collect().map(_.toString).toSeq
    val recompute = IVF.cellStats(emb, index)
    // fold over three epoch leaves ≡ one corpus scan — the quantized
    // integer domain makes the inertia fold exact, not approximately so
    assert(dump(HnswGeoStore.currentStats(spark, store)) ===
      dump(recompute))
    // compaction folds the leaves into the new base's single snapshot
    store = HnswGeoStore.compact(spark, store)
    assert(store.epochs === Seq(3L))
    assert(dump(HnswGeoStore.currentStats(spark, store)) ===
      dump(recompute))
    assert(dump(spark.read.parquet(s"$dir/stats/epoch=3")) ===
      dump(recompute))
    // the drift check now reads epoch-count snapshots, not the corpus
    val (_, r) = HnswGeoStore.retrainIfDrifted(spark, store, 2.0)
    assert(!r.retrained && r.measurable)
    CacheRegistry.releaseAll()
  }

  test("attribute payloads: attrs ride build/append/admit/compact/" +
       "retrain/vacuum; the expr-filtered serve equals the allowed-frame " +
       "form bitwise; graph columns stay bitwise payload-free") {
    val all = corpus(360)
    def withBucket(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("bucket", pmod(col("vec_id"), lit(7L)))
    val emb = all.toDF("vec_id", "embedding")
    val index = IVF.train(emb, k = 4, iters = 3)
    val dirA = tmp("hnsw-geo-attr")
    val dirP = tmp("hnsw-geo-plain")
    // attr store: build + delta append + admit, all with payloads
    var sa = HnswGeoStore.build(spark,
      withBucket(all.filter(_._1 <= 200L).toDF("vec_id", "embedding")),
      dirA, index)
    sa = HnswGeoStore.append(spark, sa,
      withBucket(all.filter(id => id._1 > 200L && id._1 <= 280L)
        .toDF("vec_id", "embedding")))
    val (_, sa2) = HnswGeoStore.admit(spark, sa,
      withBucket(all.filter(_._1 > 280L).toDF("vec_id", "embedding")),
      threshold = 0.9999)
    sa = sa2
    // plain twin: the same lifecycle without payloads — graph/vector
    // columns must be bitwise identical (payloads never enter the graph)
    var sp = HnswGeoStore.build(spark,
      all.filter(_._1 <= 200L).toDF("vec_id", "embedding"), dirP, index)
    sp = HnswGeoStore.append(spark, sp,
      all.filter(id => id._1 > 200L && id._1 <= 280L)
        .toDF("vec_id", "embedding"))
    val (_, sp2) = HnswGeoStore.admit(spark, sp,
      all.filter(_._1 > 280L).toDF("vec_id", "embedding"),
      threshold = 0.9999)
    sp = sp2
    def segDump(s: HnswGeoStore.Store) =
      s.segments.collect().map(_.toString).sorted.toSeq
    assert(segDump(sa) === segDump(sp),
      "attribute payloads must not perturb the graph rows")
    // the attrs relation covers every stored vector with its cell shard
    val at = HnswGeoStore.attrsOf(spark, sa).get
    assert(at.count() === sa.segments.count())
    assert(at.join(sa.segments, Seq("shard", "vec_id"), "left_anti")
      .count() === 0L, "attr rows must co-stride with their graph rows")
    // expr-filtered serve ≡ allowed-frame serve, bitwise
    val probes = all.filter(_._1 <= 5L).toDF("vec_id", "embedding")
      .select(col("vec_id").as("probe_id"), col("embedding"))
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val viaExpr = dump(HnswGeoStore.batchNeighborsFilteredExpr(sa, probes,
      col("bucket") === lit(2L), k = 5, efSearch = 32, nProbe = 8))
    val viaFrame = dump(HnswGeoStore.batchNeighborsFiltered(sa, probes,
      emb.filter(col("vec_id") % 7 === 2).select("vec_id"),
      k = 5, efSearch = 32, nProbe = 8))
    assert(viaExpr === viaFrame)
    assert(viaExpr.nonEmpty)
    // compaction folds attrs into the new base; vacuum reclaims old attrs
    val compacted = HnswGeoStore.compact(spark, sa)
    val atc = HnswGeoStore.attrsOf(spark, compacted).get
    assert(atc.count() === compacted.segments.count())
    assert(dump(HnswGeoStore.batchNeighborsFilteredExpr(compacted, probes,
      col("bucket") === lit(2L), k = 5, efSearch = 32, nProbe = 8))
      === viaExpr, "compaction must preserve expr-filtered serving")
    HnswGeoStore.vacuum(spark, compacted)
    val fs = new org.apache.hadoop.fs.Path(dirA).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dirA/attrs/epoch=0")),
      "vacuum must reclaim superseded attrs")
    // retrain carries attrs under the NEW assignment
    val (retrained, _) = {
      // force a retrain by an absurdly low drift factor
      HnswGeoStore.retrainIfDrifted(spark, compacted, driftFactor = 1e-9,
        iters = 2)
    }
    assert(retrained.baseEpoch > compacted.baseEpoch, "retrain must land")
    val atr = HnswGeoStore.attrsOf(spark, retrained).get
    assert(atr.count() === retrained.segments.count())
    assert(atr.join(retrained.segments, Seq("shard", "vec_id"),
      "left_anti").count() === 0L,
      "retrained attrs must re-stride with the new cells")
    // mismatch guards fail loudly
    val exNoAttr = intercept[IllegalArgumentException] {
      HnswGeoStore.append(spark, retrained,
        Seq((999L, all.head._2)).toDF("vec_id", "embedding"))
    }
    assert(exNoAttr.getMessage.contains("payload"))
    val exPlain = intercept[IllegalArgumentException] {
      HnswGeoStore.append(spark, sp,
        withBucket(Seq((999L, all.head._2)).toDF("vec_id", "embedding")))
    }
    assert(exPlain.getMessage.contains("payload"))
    // expr serving on a plain store names the problem
    val exServe = intercept[IllegalArgumentException] {
      HnswGeoStore.batchNeighborsFilteredExpr(sp, probes,
        col("bucket") === lit(2L), k = 5, efSearch = 32, nProbe = 8)
    }
    assert(exServe.getMessage.contains("no attribute payloads"))
    CacheRegistry.releaseAll()
  }

  test("delete: tombstoned vectors vanish from every surface, the drift " +
       "fold stays exact, a re-sent id re-admits, and the next compact " +
       "is bitwise the store that never saw them") {
    val all = corpus(400)
    val emb = all.toDF("vec_id", "embedding")
    val index = IVF.train(emb, k = 6, iters = 3)
    val dir = tmp("hnsw-geo-del")
    var store = HnswGeoStore.build(spark,
      all.filter(_._1 <= 300L).toDF("vec_id", "embedding"), dir, index)
    store = HnswGeoStore.append(spark, store,
      all.filter(_._1 > 300L).toDF("vec_id", "embedding"))
    def epochBytes(e: Long): Map[String, Long] = {
      val d = new java.io.File(s"$dir/segments/epoch=$e")
      d.listFiles().filter(_.getName.startsWith("part-"))
        .map(f => f.getName -> f.length()).toMap
    }
    val before = (epochBytes(0L), epochBytes(1L))
    // erased set spans the base AND the delta epoch
    val erased = all.map(_._1).filter(id => id % 5 == 1).toSet
    store = HnswGeoStore.delete(spark, store,
      erased.toSeq.toDF("vec_id"))
    assert(store.epoch === 2L, "delete commits its own epoch")
    assert((epochBytes(0L), epochBytes(1L)) === before,
      "delete must never rewrite a prior epoch's segment files")
    // masked from the segment view, hence from every scan surface
    assert(store.segments.filter(col("vec_id") % 5 === 1).count() === 0L)
    val live = all.filterNot(t => erased(t._1))
    assert(store.segments.count() === live.size.toLong)
    val served = HnswGeoStore.batchNeighbors(store,
      Seq((9001L, all.head._2.map(_.toDouble)))
        .toDF("probe_id", "embedding"),
      k = 20, efSearch = 64, nProbe = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(served.nonEmpty && served.intersect(erased).isEmpty,
      "routed serving must never return a deleted id")
    val pairs = HnswGeoStore.nearDupPairs(store, 0.3, nProbe = 8)
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(pairs.intersect(erased).isEmpty,
      "near-dup pairs must never touch a deleted id")
    // drift fold across the delete is EXACT on EVERY column — n,
    // inertia, mean AND max_d2: the delete leaf carries the recomputed
    // survivor max for each touched cell with replace_max, and the fold
    // supersedes older maxes for exactly those cells (round-16 verdict
    // #7 — previously max_d2 was an upper bound until compaction)
    def statRows(df: org.apache.spark.sql.DataFrame) =
      df.select("cid", "n", "inertia", "mean_d2", "max_d2")
        .orderBy("cid").collect().map(_.toString).toSeq
    val liveStats = IVF.cellStats(live.toDF("vec_id", "embedding"), index)
    assert(statRows(HnswGeoStore.currentStats(spark, store)) ===
      statRows(liveStats))
    // a deleted id is a NEW admission again (GDPR semantics)
    val resent = Seq((1L, all.head._2)).toDF("vec_id", "embedding")
    val kept = HnswGeoStore.incrementalAdmit(store, resent,
      threshold = 0.99999)
    assert(kept.select("vec_id").as[Long].collect().toSet === Set(1L),
      "an erased id must be admissible again")
    CacheRegistry.releaseAll()
    // compaction physically removes the nodes and repairs exactly the
    // dirty cells: bitwise the never-saw build (monotone ids)
    val compacted = HnswGeoStore.compact(spark, store)
    assert(compacted.epochs === Seq(3L))
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val unstrided = compacted.segments.withColumn("shard",
      col("shard") - lit(3L * HnswGeoStore.CellStride))
    assert(dump(unstrided) ===
      dump(Hnsw.buildGeo(live.toDF("vec_id", "embedding"), index)),
      "post-delete compaction must be bitwise the never-saw geo build")
    // the new base's persisted stats leaf is the exact recompute
    def full(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("cid").collect().map(_.toString).toSeq
    assert(full(spark.read.parquet(s"$dir/stats/epoch=3")) ===
      full(liveStats))
    // vacuum reclaims the superseded tombstones with the old range
    HnswGeoStore.vacuum(spark, compacted)
    assert(!new java.io.File(s"$dir/tombstones/epoch=2").exists(),
      "vacuum must reclaim superseded tombstone epochs")
    assert(dump(HnswGeoStore.load(spark, dir).segments) ===
      dump(compacted.segments))
    // deleting unknown ids is a committed no-op (idempotent replays)
    val noop = HnswGeoStore.delete(spark, compacted,
      Seq(999999L).toDF("vec_id"))
    assert(noop.epoch === 4L &&
      noop.segments.count() === compacted.segments.count())
    // re-admission round-trip: once re-appended, the id's new row
    // survives the OLD tombstone (epoch-aware masking — delete id 7
    // first, then bring it back), and a SECOND delete erases it again
    val gone7 = HnswGeoStore.delete(spark, noop, Seq(7L).toDF("vec_id"))
    assert(gone7.segments.filter(col("vec_id") === 7L).count() === 0L)
    val back7 = HnswGeoStore.append(spark, gone7,
      all.filter(_._1 == 7L).toDF("vec_id", "embedding"),
      checkIds = false)
    assert(back7.segments.filter(col("vec_id") === 7L).count() === 1L,
      "a re-admitted id's row must survive the old tombstone")
    val served7 = HnswGeoStore.batchNeighbors(back7,
      Seq((9002L, all.find(_._1 == 7L).get._2.map(_.toDouble)))
        .toDF("probe_id", "embedding"),
      k = 1, efSearch = 32, nProbe = 8)
      .select("vec_id").as[Long].head()
    assert(served7 === 7L, "the re-admitted vector must serve again")
    val gone7b = HnswGeoStore.delete(spark, back7, Seq(7L).toDF("vec_id"))
    assert(gone7b.segments.filter(col("vec_id") === 7L).count() === 0L,
      "a second delete must erase the re-admitted row")
    CacheRegistry.releaseAll()
  }

  test("traversal-only tombstones: between delete and compaction, " +
       "serving recall holds at the pre-delete level where the masked " +
       "read measurably narrows, deleted ids never surface, and the " +
       "batch-of-one surface stays value-identical") {
    // heavy takedown on a sparse graph (m = 4): 70% of a cell's nodes
    // erased — the masked read drops every edge through them, so
    // surviving search paths fragment; the traversal-only route keeps
    // them walkable and must match exact brute force over survivors
    val all = corpus(500)
    val emb = all.toDF("vec_id", "embedding")
    val index = IVF.train(emb, k = 3, iters = 3)
    val dir = tmp("hnsw-geo-trav")
    var store = HnswGeoStore.build(spark, emb, dir, index, m = 4,
      efConstruction = 16)
    val erased = all.map(_._1).filter(id => id % 10 >= 3).toSet
    store = HnswGeoStore.delete(spark, store, erased.toSeq.toDF("vec_id"))
    val live = all.filterNot(t => erased(t._1))
    // exact ground truth over survivors, the engine's own cosine
    val probeVecs = (1 to 20).map(i => (9000L + i,
      all(i * 17)._2.map(d => d.toDouble * 0.93 + 0.011)))
    val probes = probeVecs.toDF("probe_id", "embedding")
    val exact = probeVecs.map { case (pid, q) =>
      pid -> live.map { case (id, v) =>
        val dv = v.map(_.toDouble).toArray
        val dot = dv.zip(q).map { case (a, b) => a * b }.sum
        val cos = dot / (math.sqrt(dv.map(x => x * x).sum) *
          math.sqrt(q.map(x => x * x).sum))
        (id, cos)
      }.sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSet
    }.toMap
    def recallOf(served: Map[Long, Set[Long]]): Double =
      probeVecs.map { case (pid, _) =>
        served.getOrElse(pid, Set.empty)
          .intersect(exact(pid)).size / 10.0
      }.sum / probeVecs.size
    // TODAY'S masked read, emulated: the masked segment frame searched
    // directly (deleted nodes absent, their edges elided)
    val maskedServed = Hnsw.batchNeighbors(store.segments, probes,
        k = 10, efSearch = 48)
      .collect().groupBy(_.getLong(0))
      .map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
    // the store surface: traversal-only tombstones
    val travServed = HnswGeoStore.batchNeighbors(store, probes, k = 10,
        efSearch = 48, nProbe = 3)
      .collect().groupBy(_.getLong(0))
      .map { case (p, rs) => p -> rs.map(_.getLong(1)).toSet }
    val (rMasked, rTrav) = (recallOf(maskedServed), recallOf(travServed))
    info(f"masked recall@10 = $rMasked%.3f, traversal-only = $rTrav%.3f")
    assert(travServed.values.forall(_.intersect(erased).isEmpty),
      "a deleted id surfaced from the traversal-only route")
    assert(rTrav >= rMasked,
      f"traversal-only recall $rTrav%.3f fell below masked $rMasked%.3f")
    assert(rTrav >= 0.95, f"traversal-only recall $rTrav%.3f below 0.95")
    assert(rMasked <= rTrav,
      "plant sanity: masking should not beat traversal")
    // the single-query surface delegates through the batch route on a
    // tombstoned store — value-identical to a batch of one
    val q0 = probeVecs.head._2.toArray
    val single = HnswGeoStore.neighbors(store, q0, 5, efSearch = 16,
        nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b1 = HnswGeoStore.batchNeighbors(store,
        Seq((1L, q0.toSeq)).toDF("probe_id", "embedding"), 5,
        efSearch = 16, nProbe = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(single === b1)
    // pair scans on the tombstoned store: only live pairs, and at least
    // the pairs the masked route finds
    val travPairs = HnswGeoStore.nearDupPairs(store, 0.9, nProbe = 3,
        efSearch = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(travPairs.forall { case (i, j) =>
      !erased(i) && !erased(j) }, "a deleted id appeared in a pair")
    CacheRegistry.releaseAll()
  }

  test("delete on an ATTRIBUTE store: attrs mask with their nodes, the " +
       "expr-filtered serve never returns an erased id, and compaction " +
       "drops the erased attrs physically") {
    val all = corpus(300)
    def withBucket(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("bucket", pmod(col("vec_id"), lit(7L)))
    val emb = all.toDF("vec_id", "embedding")
    val index = IVF.train(emb, k = 4, iters = 3)
    val dir = tmp("hnsw-geo-delattr")
    var store = HnswGeoStore.build(spark, withBucket(emb), dir, index)
    val erased = all.map(_._1).filter(id => id % 7 == 2 && id % 3 == 0).toSet
    assert(erased.nonEmpty)
    store = HnswGeoStore.delete(spark, store, erased.toSeq.toDF("vec_id"))
    // the live range stays uniformly attributed (empty attrs relation at
    // the delete epoch) and the masked attrs cover exactly the live rows
    val at = HnswGeoStore.attrsOf(spark, store).get
    assert(at.count() === store.segments.count())
    assert(at.filter(col("vec_id").isin(erased.toSeq: _*)).count() === 0L)
    val probes = all.filter(_._1 <= 5L).toDF("vec_id", "embedding")
      .select(col("vec_id").as("probe_id"), col("embedding"))
    val got = HnswGeoStore.batchNeighborsFilteredExpr(store, probes,
      col("bucket") === lit(2L), k = 10, efSearch = 64, nProbe = 8)
    val ids = got.select("vec_id").as[Long].collect().toSet
    assert(ids.nonEmpty && ids.intersect(erased).isEmpty,
      "filtered serving must never return an erased id")
    assert(ids.forall(_ % 7 == 2), "the predicate must still hold")
    val compacted = HnswGeoStore.compact(spark, store)
    val atc = spark.read.parquet(s"$dir/attrs/epoch=${compacted.epoch}")
    assert(atc.filter(col("vec_id").isin(erased.toSeq: _*)).count() === 0L,
      "compaction must physically drop erased attrs")
    assert(atc.count() === compacted.segments.count())
    CacheRegistry.releaseAll()
  }

  test("foldStats accumulates inertia in the LONG domain: exact when a " +
       "cell's quantized total crosses 2^53 (ADVICE r14)") {
    // 7 leaves of 1.9e15+1 in the 1e-6-quantized domain: each leaf
    // round-trips double→long exactly (< 2^51), every double PARTIAL sum
    // past the fifth leaf sits above 2^53 where doubles step by 2 — a
    // double-domain accumulation cannot represent the odd running totals
    // and drifts, while the long fold stays exact to 2^63. The contract
    // is cellStats-parity: the fold must equal the long-sum reference
    // (sum as long, ONE cast, ONE divide — IVF.cellStats' algebra).
    val q = 1900000000000001L
    def leaf(i: Int) = Seq((0, 1L, q.toDouble / 1e6, q.toDouble / 1e6,
      q.toDouble / 1e6)).toDF("cid", "n", "inertia", "mean_d2", "max_d2")
    val folded = HnswGeoStore.foldStats((0 until 7).map(leaf))
      .select("inertia", "mean_d2").head()
    val want = (7L * q).toDouble / 1e6
    assert(folded.getDouble(0) === want)
    assert(folded.getDouble(1) === want / 7.0)
  }

  test("cold start: an empty-corpus build writes an UNMEASURABLE drift " +
       "baseline (never a looks-healthy ratio); the first non-empty " +
       "compaction re-snapshots it and drift becomes measurable") {
    val sample = corpus(100)
    val index = IVF.train(sample.toDF("vec_id", "embedding"),
      k = 4, iters = 3)
    val dir = tmp("hnsw-geo-cold")
    var store = HnswGeoStore.build(spark,
      Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding"),
      dir, index)
    // zero segment rows: serving runs through the scan (no early return)
    // and answers with empty frames of the serving schema
    val clean = Seq((1L, sample.head._2)).toDF("probe_id", "embedding")
    val served = HnswGeoStore.batchNeighbors(store, clean, k = 3)
    assert(served.columns.toSeq === Seq("probe_id", "vec_id", "cos", "rank"))
    assert(served.isEmpty)
    assert(HnswGeoStore.batchNeighborsFiltered(store, clean,
      Seq(1L).toDF("vec_id"), k = 3).isEmpty)
    // dirty probes fail fast in requireCleanProbes even with no graph to
    // search: the dim check reads the index, never a segment row
    val wrongDim = Seq((2L, Seq(1f, 0f))).toDF("probe_id", "embedding")
    val eDim = intercept[IllegalArgumentException] {
      HnswGeoStore.batchNeighbors(store, wrongDim, k = 3)
    }
    assert(eDim.getMessage.contains("do not match the store's dim 64"),
      eDim.getMessage)
    val nan = Seq((3L, sample.head._2.updated(5, Float.NaN)))
      .toDF("probe_id", "embedding")
    val eNan = intercept[IllegalArgumentException] {
      HnswGeoStore.batchNeighborsFiltered(store, nan,
        Seq(1L).toDF("vec_id"), k = 3)
    }
    assert(eNan.getMessage.contains("NaN"), eNan.getMessage)
    // nothing measurable: reported as such, not as ratio 1.0
    val (_, r0) = HnswGeoStore.retrainIfDrifted(spark, store, 2.0)
    assert(!r0.retrained && !r0.measurable, s"ratio=${r0.ratio}")
    // growth as deltas, then the first non-empty compaction
    store = HnswGeoStore.append(spark, store,
      sample.take(60).toDF("vec_id", "embedding"))
    val (_, r1) = HnswGeoStore.retrainIfDrifted(spark, store, 2.0)
    assert(!r1.retrained && !r1.measurable,
      "an empty baseline must stay unmeasurable until a compaction " +
        s"re-snapshots it, got ratio=${r1.ratio}")
    store = HnswGeoStore.compact(spark, store)
    val (_, r2) = HnswGeoStore.retrainIfDrifted(spark, store, 2.0)
    assert(r2.measurable && !r2.retrained &&
      math.abs(r2.ratio - 1.0) < 1e-9,
      s"first non-empty compaction must re-baseline: ratio=${r2.ratio}")
    CacheRegistry.releaseAll()
  }

  test("vacuum/loadAt contract: a vacuumed epoch fails AT LOAD TIME on " +
       "the commit-marker require — never as a file-not-found inside a " +
       "scan") {
    val all = corpus(150)
    val index = IVF.train(all.toDF("vec_id", "embedding"), k = 4, iters = 3)
    val dir = tmp("hnsw-geo-vac")
    var store = HnswGeoStore.build(spark,
      all.filter(_._1 <= 100L).toDF("vec_id", "embedding"), dir, index)
    store = HnswGeoStore.append(spark, store,
      all.filter(_._1 > 100L).toDF("vec_id", "embedding"), asBase = true)
    HnswGeoStore.vacuum(spark, store)
    val e = intercept[IllegalArgumentException] {
      HnswGeoStore.loadAt(spark, dir, 0L)
    }
    assert(e.getMessage.contains("not committed"), e.getMessage)
    // the surviving base still loads and answers
    assert(HnswGeoStore.load(spark, dir).segments.count() === 150L)
    CacheRegistry.releaseAll()
  }

  test("epochs beyond the 32k int-stride ceiling write, load, and serve " +
       "(long shard ids at or above epoch × CellStride — an 11-day " +
       "30s-trigger stream survives)") {
    val all = corpus(120)
    val index = IVF.train(all.toDF("vec_id", "embedding"), k = 4, iters = 3)
    val dir = tmp("hnsw-geo-far")
    HnswGeoStore.build(spark,
      all.filter(_._1 <= 100L).toDF("vec_id", "embedding"), dir, index)
    val farEpoch = 40000L // > Int.MaxValue / CellStride ≈ 32767
    // the state 40k micro-batches and their compactions leave behind — a
    // base at epoch farEpoch − 1 — written in place from epoch 0: the
    // segment re-strided into its epoch's range, the index, drift and
    // stats relations copied, the base marker committed last
    val prevBase = farEpoch - 1L
    spark.read.parquet(s"$dir/segments/epoch=0")
      .withColumn("shard",
        col("shard") + lit(prevBase * HnswGeoStore.CellStride))
      .write.parquet(s"$dir/segments/epoch=$prevBase")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    for (rel <- Seq("index", "drift", "stats"))
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(s"$dir/$rel/epoch=0"), fs,
        new org.apache.hadoop.fs.Path(s"$dir/$rel/epoch=$prevBase"),
        false, conf)
    StoreCommits.writeMarker(spark, dir, s"epoch=$prevBase", isBase = true,
      writer = "lifecycle")
    // the next compaction allocates past the int ceiling: its base
    // rewrites every shard id into the far epoch's stride range
    val far = HnswGeoStore.compact(spark, HnswGeoStore.load(spark, dir))
    assert(far.epoch === farEpoch && far.baseEpoch === farEpoch)
    // the next delta allocates past it as usual
    val st0 = HnswGeoStore.append(spark, far,
      all.filter(_._1 > 100L).toDF("vec_id", "embedding"))
    assert(st0.epoch === farEpoch + 1L)
    val st = HnswGeoStore.load(spark, dir)
    assert(st.epoch === farEpoch + 1L && st.baseEpoch === farEpoch &&
      st.epochs === Seq(farEpoch, farEpoch + 1L))
    assert(st.segments.schema("shard").dataType ===
      org.apache.spark.sql.types.LongType)
    val shards = st.segments.select("shard").as[Long].collect()
    assert(shards.forall(_ >= farEpoch * HnswGeoStore.CellStride),
      s"strided long shard ids expected, got ${shards.mkString(",")}")
    assert(shards.map(_ / HnswGeoStore.CellStride).toSet ===
      Set(farEpoch, farEpoch + 1L), "base and delta each own a stride range")
    assert(st.segments.count() === 120L)
    // routed serving reaches both the far base and the delta past it
    val probe = all.last
    val q = probe._2.map(_.toDouble).toArray
    assert(HnswGeoStore.neighbors(st, q, 1, efSearch = 16)
      .select("vec_id").as[Long].head() === probe._1)
    val served = HnswGeoStore.batchNeighbors(st,
      Seq((1L, probe._2), (2L, all.head._2)).toDF("probe_id", "embedding"),
      k = 1, efSearch = 16)
      .select("probe_id", "vec_id").as[(Long, Long)].collect().toMap
    assert(served === Map(1L -> probe._1, 2L -> all.head._1))
    CacheRegistry.releaseAll()
  }

  test("crossNearDups over the standing MULTI-EPOCH store matches the " +
       "exact cross-corpus audit when routing is exhaustive by " +
       "construction, and rejects overlapping id namespaces") {
    val all = corpus(360)
    val train = all.filter(_._1 <= 260L)
    val evalSide = all.filter(_._1 > 260L)
      .map { case (id, v) => (id + 5000L, v) }
    val index = IVF.train(train.toDF("vec_id", "embedding"),
      k = 4, iters = 3)
    val dir = tmp("hnsw-geo-cross")
    var store = HnswGeoStore.build(spark,
      train.filter(_._1 <= 150L).toDF("vec_id", "embedding"), dir, index)
    store = HnswGeoStore.append(spark, store,
      train.filter(_._1 > 150L).toDF("vec_id", "embedding"))
    val probes = evalSide.toDF("probe_id", "embedding")
    val got = pairSet(HnswGeoStore.crossNearDups(store, probes, 0.3,
      nProbe = 8))
    val want = pairSet(Similarity.crossNearDups(
      train.toDF("vec_id", "embedding"),
      evalSide.toDF("vec_id", "embedding"), 0.3))
    assert(got === want)
    // shared ids self-exclude silently — so they must fail loudly
    val clash = Seq((200L, all.head._2)).toDF("probe_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      HnswGeoStore.crossNearDups(store, clash, 0.3)
    }
    assert(e.getMessage.contains("namespaces overlap"), e.getMessage)
    CacheRegistry.releaseAll()
  }

  test("batchNeighborsFiltered: routed + filtered serving returns only " +
       "allowed ids with dense ranks, clears brute force over the " +
       "ALLOWED subset, and an empty allowed set returns zero rows") {
    val all = corpus(300)
    val index = IVF.train(all.toDF("vec_id", "embedding"), k = 4, iters = 3)
    val dir = tmp("hnsw-geo-filt")
    var store = HnswGeoStore.build(spark,
      all.filter(_._1 <= 200L).toDF("vec_id", "embedding"), dir, index)
    store = HnswGeoStore.append(spark, store,
      all.filter(_._1 > 200L).toDF("vec_id", "embedding"))
    val allowedIds = all.map(_._1).filter(_ % 3 == 0).toSet
    val allowed = allowedIds.toSeq.toDF("vec_id")
    val probeRows = all.take(4)
    val probes = probeRows.map { case (id, v) => (id, v.map(_.toDouble)) }
      .toDF("probe_id", "embedding")
    // nProbe 8 >= 4 cells: routing exhaustive by construction — what's
    // under test is the filtered collection across the epoch stride
    val res = HnswGeoStore.batchNeighborsFiltered(store, probes, allowed,
        k = 5, efSearch = 64, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    def brute(q: Array[Double], k: Int): Seq[Long] =
      all.filter(r => allowedIds(r._1)).map { case (id, v) =>
        val dv = v.map(_.toDouble).toArray
        val dot = dv.zip(q).map { case (a, b) => a * b }.sum
        val cos = dot / (math.sqrt(dv.map(x => x * x).sum) *
          math.sqrt(q.map(x => x * x).sum))
        (id, math.rint(cos * 1e6) / 1e6)
      }.sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
    probeRows.foreach { case (pid, v) =>
      val mine = res.filter(_._1 == pid)
      assert(mine.forall(h => allowedIds(h._2)),
        s"probe $pid returned filter-violating ids")
      assert(mine.map(_._3).toSeq.sorted === (1 to 5), s"probe $pid ranks")
      val want = brute(v.map(_.toDouble).toArray, 5).toSet
      val recall = mine.map(_._2).count(want) / 5.0
      assert(recall >= 0.9, s"probe $pid filtered routed recall $recall")
    }
    assert(HnswGeoStore.batchNeighborsFiltered(store, probes,
      Seq.empty[Long].toDF("vec_id"), k = 3, efSearch = 16,
      nProbe = 8).count() === 0L)
    // every stored id allowed: row for row the unfiltered routed serve
    // across both epochs — same ids, bitwise cos, same rank; nProbe 2 of
    // 4 cells keeps the routed prune live on both sides
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3)))
        .sorted.toSeq
    val clean = dump(HnswGeoStore.batchNeighbors(store, probes, k = 5,
      efSearch = 32, nProbe = 2))
    assert(clean.size === 20)
    assert(dump(HnswGeoStore.batchNeighborsFiltered(store, probes,
      all.map(_._1).toDF("vec_id"), k = 5, efSearch = 32,
      nProbe = 2)) === clean)
    CacheRegistry.releaseAll()
  }

  test("retrainIfDrifted: in-distribution growth does not retrain; an " +
       "off-geometry corpus trips the cellStats ratio, retrains, " +
       "advances the base, re-baselines, and the routed near-dup " +
       "envelope holds on the rebuilt store") {
    val a = corpus(200)
    val emb = a.toDF("vec_id", "embedding")
    val index = IVF.train(emb, k = 8, iters = 3)
    val dir = tmp("hnsw-geo-drift")
    var store = HnswGeoStore.build(spark, emb, dir, index)
    // in-distribution growth: same generator, ratio stays ~1
    val b = corpus(240).filter(_._1 > 200L)
    store = HnswGeoStore.append(spark, store, b.toDF("vec_id", "embedding"))
    val (s1, r1) = HnswGeoStore.retrainIfDrifted(spark, store,
      driftFactor = 2.0)
    assert(!r1.retrained && s1.epoch === store.epoch, s"ratio=${r1.ratio}")
    assert(r1.ratio < 2.0 && r1.ratio > 0.0)
    // off-geometry flood: every dim shifted +8 — far off every trained
    // centroid, with planted jittered twins riding along
    val shifted = corpus(600).filter(_._1 > 240L)
      .map { case (id, v) => (id, v.map(_ + 8.0f)) }
    val twins = shifted.take(50)
      .map { case (id, v) => (id + 10000L, v.map(_ * 1.001f)) }
    store = HnswGeoStore.append(spark, s1,
      (shifted ++ twins).toDF("vec_id", "embedding"))
    val (s2, r2) = HnswGeoStore.retrainIfDrifted(spark, store,
      driftFactor = 2.0)
    assert(r2.retrained, s"ratio=${r2.ratio} should trip driftFactor=2")
    assert(r2.ratio > 2.0)
    assert(s2.baseEpoch === s2.epoch && s2.baseEpoch > store.baseEpoch,
      "retrain must land as a fresh base epoch")
    assert(s2.index.centroids.length === 8)
    // the rebuilt store routes the planted twins losslessly at 4x cell
    // pruning — the recall-envelope restoration the retrain exists for
    val got = pairSet(HnswGeoStore.nearDupPairs(s2, 0.98, nProbe = 2))
      .map(p => (p._1, p._2))
    val planted = shifted.take(50).map { case (id, _) => (id, id + 10000L) }
      .toSet
    val missed = planted -- got
    assert(missed.isEmpty,
      s"${missed.size}/${planted.size} planted twins missed post-retrain " +
        s"(e.g. ${missed.take(3)})")
    // the snapshot re-baselined: an immediate re-check does not retrain
    val (_, r3) = HnswGeoStore.retrainIfDrifted(spark, s2, 2.0)
    assert(!r3.retrained && math.abs(r3.ratio - 1.0) < 1e-9,
      s"fresh baseline must measure ratio 1, got ${r3.ratio}")
    CacheRegistry.releaseAll()
  }
}
