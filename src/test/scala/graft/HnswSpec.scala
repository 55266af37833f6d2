package graft

import org.apache.spark.sql.functions._
import graft.operators.{Hnsw, Similarity}

/** Sharded HNSW graph ANN: recall against driver-side brute force,
  * bitwise build determinism under re-partitioning, parquet round-trip,
  * and the visited-fraction bound that makes it a graph SEARCH rather
  * than a disguised exact scan.
  */
class HnswSpec extends SparkSpec {
  import spark.implicits._

  // deterministic pseudo-random corpus: 64-d vectors from a hash mix
  private def corpus(n: Int): Seq[(Long, Seq[Float])] =
    (1L to n.toLong).map { id =>
      val v = (0 until 64).map { d =>
        val h = (id * 1315423911L + d * 2654435761L) ^ (id >> 3)
        ((h % 2001L).toFloat - 1000f) / 1000f
      }
      (id, v)
    }

  private def bruteTop(rows: Seq[(Long, Seq[Float])], q: Array[Double],
                       k: Int): Seq[Long] =
    rows.map { case (id, v) =>
      val dv = v.map(_.toDouble).toArray
      val dot = dv.zip(q).map { case (a, b) => a * b }.sum
      val cos = dot / (math.sqrt(dv.map(x => x * x).sum) *
        math.sqrt(q.map(x => x * x).sum))
      (id, math.rint(cos * 1e6) / 1e6)
    }.sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)

  test("recall@20 vs brute force clears 0.95 on an isotropic corpus " +
       "where IVF's audited ceiling is 0.85") {
    val rows = corpus(800)
    val emb = rows.toDF("vec_id", "embedding")
    val store = Hnsw.build(emb, shards = 4)
    val q = rows.head._2.map(_.toDouble).toArray.map(_ * 0.9 + 0.01)
    val got = Hnsw.neighbors(store, q, 20, efSearch = 48)
      .select("vec_id").as[Long].collect().toSet
    val want = bruteTop(rows, q, 20).toSet
    val recall = got.intersect(want).size / 20.0
    assert(recall >= 0.95, s"recall@20 = $recall")
  }

  test("build is bitwise deterministic and partitioning-invariant; " +
       "neighbors survive a parquet round-trip") {
    val emb = corpus(300).toDF("vec_id", "embedding")
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("shard", "vec_id")
        .collect().map(_.toString).toSeq
    val a = Hnsw.build(emb.repartition(1), shards = 3)
    val b = Hnsw.build(emb.repartition(13), shards = 3)
    assert(dump(a) === dump(b), "store must not depend on input layout")
    val q = Array.fill(64)(0.25)
    val dir = java.nio.file.Files
      .createTempDirectory("hnsw-store").toString + "/idx"
    a.write.parquet(dir)
    val reloaded = spark.read.parquet(dir)
    val na = Hnsw.neighbors(a, q, 10, efSearch = 32).collect().toSeq
    val nb = Hnsw.neighbors(reloaded, q, 10, efSearch = 32).collect().toSeq
    assert(na === nb, "reloaded store must search identically")
  }

  test("searchStats: graph search touches a bounded fraction, and the " +
       "fraction FALLS as the corpus grows — the anti-scan property") {
    val q = Array.tabulate(64)(d => math.sin(d.toDouble))
    def frac(n: Int): Double = {
      val store = Hnsw.build(corpus(n).toDF("vec_id", "embedding"),
        shards = 4)
      val st = Hnsw.searchStats(store, q, efSearch = 48)
        .agg(sum("dist_evals"), sum("n_nodes")).head()
      assert(st.getLong(1) === n.toLong, "stats must cover every node")
      st.getLong(0).toDouble / n
    }
    val f500 = frac(500)
    val f2000 = frac(2000)
    assert(f2000 < f500,
      s"evals/corpus must fall with n: $f500 -> $f2000")
    assert(f2000 < 0.8, s"ef=48 search must not degenerate to a scan: $f2000")
  }

  test("add: monotone-id admission is BITWISE identical to a full " +
       "rebuild; duplicate ids fail loudly") {
    val all = corpus(400)
    val (a, b) = all.partition(_._1 <= 300L)
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val full = Hnsw.build(all.toDF("vec_id", "embedding"), shards = 3)
    val admitted = Hnsw.add(
      Hnsw.build(a.toDF("vec_id", "embedding"), shards = 3),
      b.toDF("vec_id", "embedding"), shards = 3)
    assert(dump(admitted) === dump(full),
      "append-only admission must reproduce the from-scratch store")
    val ex = intercept[org.apache.spark.SparkException] {
      Hnsw.add(full, a.take(1).toDF("vec_id", "embedding"), shards = 3)
        .count()
    }
    assert(ex.getMessage.contains("already in the store") ||
      Option(ex.getCause).exists(_.getMessage.contains("already in the store")))
  }

  test("add: a shard count differing from the store's build-time count " +
       "fails loudly driver-side (no silent isolated mini-graphs)") {
    val store = Hnsw.build(corpus(200).toDF("vec_id", "embedding"),
      shards = 3)
    val fresh = corpus(210).filter(_._1 > 200L).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Hnsw.add(store, fresh, shards = 7)
    }
    assert(e.getMessage.contains("was not built with shards=7"),
      e.getMessage)
    // the matching count still works
    assert(Hnsw.add(store, fresh, shards = 3).count() === 210L)
  }

  test("build fails loudly on duplicate vec_ids instead of silently " +
       "corrupting the local-index mapping") {
    val dup = (corpus(20) ++ corpus(5)).toDF("vec_id", "embedding")
    val ex = intercept[org.apache.spark.SparkException] {
      Hnsw.build(dup, shards = 2).count()
    }
    assert(ex.getMessage.contains("duplicate vec_id") ||
      Option(ex.getCause).exists(_.getMessage.contains("duplicate vec_id")))
  }

  test("add: admitted vectors are immediately searchable (a fresh " +
       "vector's own query returns it first)") {
    val all = corpus(500)
    val (a, b) = all.partition(_._1 <= 450L)
    val store = Hnsw.add(
      Hnsw.build(a.toDF("vec_id", "embedding"), shards = 4),
      b.toDF("vec_id", "embedding"), shards = 4)
    val probe = b.last
    val got = Hnsw.neighbors(store, probe._2.map(_.toDouble).toArray, 1,
        efSearch = 16)
      .select("vec_id").as[Long].head()
    assert(got === probe._1, "self-query must return the admitted vector")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("nearDupPairs vs the exact block route on every shipped corpus: " +
       "precision 1.0 by construction, recall >= 0.95") {
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")) {
      val emb = graft.sources.Tables.table(spark, dir, "embeddings")
      val exact = pairSet(Similarity.cosineNearDups(emb, 0.35))
      val got = pairSet(
        graft.operators.Dedup.hnswNearDupPairs(emb, 0.35, shards = 4))
      val spurious = got -- exact
      val missed = exact -- got
      info(s"$dir exact=${exact.size} hnsw=${got.size} " +
        s"missed=${missed.size} spurious=${spurious.size}")
      assert(spurious.isEmpty,
        s"$dir: emitted pairs must re-score exactly (got ${spurious.take(3)})")
      assert(got.size >= math.ceil(exact.size * 0.95).toInt,
        s"$dir: recall ${got.size}/${exact.size} below 0.95")
    }
  }

  test("nearDupPairs: partitioning-invariant (shards >> parallelism and " +
       "parallelism >> shards give the same pairs), emitted once, i < j") {
    val emb = corpus(600).toDF("vec_id", "embedding")
    val store = Hnsw.build(emb, shards = 12)
    val tight = Hnsw.nearDupPairs(store, 0.3, parallelism = 2)
    val wide = Hnsw.nearDupPairs(store, 0.3, parallelism = 64)
    assert(pairSet(tight) === pairSet(wide),
      "partition count must not change the result")
    assert(tight.count() === tight.distinct().count())
    assert(tight.filter(col("i") >= col("j")).count() === 0L,
      "pairs must be canonical i < j")
  }

  test("pairStream is a one-pass lazy scan: emitting a shard's pairs " +
       "consumes NO rows of later shards, and probes stream one at a " +
       "time (the one-graph-plus-one-probe memory contract)") {
    // two shards, two near-identical vectors per shard (cos ~ 1), rows
    // pre-sorted exactly as pairScan delivers them: (shard, role, id)
    def vec(seed: Int): Seq[Double] =
      (0 until 8).map(d => math.sin(seed * 7 + d).abs + 0.1)
    def jig(v: Seq[Double]): Seq[Double] = v.map(_ * 1.0000001)
    def graphRows(shard: Long, ids: Seq[Long]): Seq[Hnsw.FNode] = {
      // a valid single-level graph: everyone adjacent to everyone
      ids.map(id => (shard, id, if (id % 2 == 0) jig(vec(shard.toInt))
          else vec(shard.toInt), 0,
        Seq(ids.filterNot(_ == id)), true))
    }
    def probeRows(shard: Long, ids: Seq[Long]): Seq[Hnsw.FNode] =
      ids.map(id => (shard, id, if (id % 2 == 0) jig(vec(shard.toInt))
        else vec(shard.toInt), -1, Seq.empty[Seq[Long]], false))
    val rows = (graphRows(0L, Seq(1L, 2L)) ++ probeRows(0L, Seq(1L, 2L)) ++
      graphRows(1L, Seq(11L, 12L)) ++ probeRows(1L, Seq(11L, 12L)))
    var consumed = 0
    val counting = rows.iterator.map { r => consumed += 1; r }
    val out = Hnsw.pairStream(counting, efSearch = 4, margin = 0.5)
    val first = out.next()
    assert(first._1 === 1L && first._2 === 2L)
    // shard 0's graph (2 rows) + its first probe: later rows untouched.
    // (BufferedIterator peeks one row ahead to see the shard boundary,
    // so the bound is graph + probe + 1 peek.)
    assert(consumed <= 4,
      s"consumed $consumed rows before the first pair — the scan is " +
        "materializing ahead instead of streaming")
    val rest = out.toList
    assert(consumed === rows.size)
    assert((first :: rest).map(p => (p._1, p._2)).toSet ===
      Set((1L, 2L), (11L, 12L)))
  }

  test("addGeo: monotone-id admission into the geo store is BITWISE a " +
       "from-scratch buildGeo; wrong index and duplicate ids fail loudly; " +
       "admitted vectors route immediately") {
    val all = corpus(400)
    val (a, b) = all.partition(_._1 <= 300L)
    val emb = all.toDF("vec_id", "embedding")
    val index = graft.operators.IVF.train(emb, k = 6, iters = 3)
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val full = Hnsw.buildGeo(emb, index)
    val admitted = Hnsw.addGeo(
      Hnsw.buildGeo(a.toDF("vec_id", "embedding"), index),
      b.toDF("vec_id", "embedding"), index)
    assert(dump(admitted) === dump(full),
      "append-only geo admission must reproduce the from-scratch store")
    // admitted vectors are immediately routable: the twin of a fresh
    // vector added beside it is found by the routed pair scan
    val pairs = Hnsw.nearDupPairsRouted(admitted, index, 0.3, nProbe = 8)
    assert(pairSet(pairs) === pairSet(Hnsw.nearDupPairs(full, 0.3)),
      "routed pairs over the admitted store must equal the rebuilt store's")
    // wrong index fails the sampled re-assign guard driver-side
    val other = graft.operators.IVF.train(emb, k = 5, iters = 2, seed = 9)
    val e = intercept[IllegalArgumentException] {
      Hnsw.addGeo(full, b.toDF("vec_id", "embedding"), other)
    }
    assert(e.getMessage.contains("was not built with this index"),
      e.getMessage)
    // duplicate ids fail loudly inside the admission task
    val ex = intercept[org.apache.spark.SparkException] {
      Hnsw.addGeo(full, a.take(1).toDF("vec_id", "embedding"), index)
        .count()
    }
    assert(ex.getMessage.contains("already in the store") ||
      Option(ex.getCause).exists(_.getMessage.contains("already in the store")))
  }

  test("buildStream and admitStream are one-pass lazy scans: emitting a " +
       "shard's rows consumes no rows of later shards (the one-shard-at-" +
       "a-time memory contract, build side)") {
    def vec(seed: Int): Seq[Double] =
      (0 until 8).map(d => math.sin(seed * 7 + d))
    // build: 3 shards x 2 rows, pre-sorted by (shard, vec_id) exactly as
    // buildShards delivers them
    val buildRows = for (s <- 0L to 2L; i <- 1L to 2L)
      yield (s, s * 10 + i, vec((s * 10 + i).toInt))
    var consumed = 0
    val counting = buildRows.iterator.map { r => consumed += 1; r }
    val out = Hnsw.buildStream(counting, m = 4, efConstruction = 8)
    val first = out.next()
    assert(first._1 === 0L)
    // shard 0's 2 rows + the BufferedIterator's 1-row boundary peek
    assert(consumed <= 3,
      s"buildStream consumed $consumed rows before emitting shard 0 — " +
        "the build is materializing ahead instead of streaming")
    assert(out.size === buildRows.size - 1)
    assert(consumed === buildRows.size)
    // admission: per shard, stored rows (level >= 0) then fresh (-1),
    // the (shard, role, vec_id) order admitShards sorts into
    val stored = Hnsw.buildStream(buildRows.iterator, 4, 8).toSeq
    val freshRows = (0L to 2L).map(s => (s, s * 10 + 5,
      vec((s * 10 + 5).toInt), -1, Seq.empty[Seq[Long]]))
    val admitRows = (0L to 2L).flatMap(s =>
      stored.filter(_._1 == s) ++ freshRows.filter(_._1 == s))
    var consumed2 = 0
    val counting2 = admitRows.iterator.map { r => consumed2 += 1; r }
    val out2 = Hnsw.admitStream(counting2, 4, 8)
    assert(out2.next()._1 === 0L)
    // shard 0's 2 stored + 1 fresh + 1 peek
    assert(consumed2 <= 4,
      s"admitStream consumed $consumed2 rows before emitting shard 0")
    assert(out2.size === admitRows.size - 1)
    assert(consumed2 === admitRows.size)
  }

  test("buildGeo: cell-sharded store is bitwise deterministic and " +
       "partitioning-invariant; every search surface reads it unchanged") {
    val rows = corpus(300)
    val emb = rows.toDF("vec_id", "embedding")
    val index = graft.operators.IVF.train(emb, k = 6, iters = 3)
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("shard", "vec_id").collect().map(_.toString).toSeq
    val a = Hnsw.buildGeo(emb.repartition(1), index)
    val b = Hnsw.buildGeo(emb.repartition(13), index)
    assert(dump(a) === dump(b), "geo store must not depend on input layout")
    // shard IS the cell assignment
    val mis = a.filter(graft.operators.IVF.assignExpr(col("vec"), index)
      .cast("long") =!= col("shard")).count()
    assert(mis === 0L)
    // neighbors reads a geo store exactly like an id-hash store
    val q = rows.head._2.map(_.toDouble).toArray
    val got = Hnsw.neighbors(a, q, 10, efSearch = 48)
      .select("vec_id").as[Long].collect().toSet
    val want = bruteTop(rows, q, 10).toSet
    assert(got.intersect(want).size >= 8,
      s"geo-store recall@10 = ${got.intersect(want).size}/10")
  }

  test("nearDupPairsRouted: with nProbe >= k routing is exhaustive — " +
       "pair set equals the exhaustive fan-out's on the same graphs; " +
       "probes replicate <= nProbe times; no BNLJ in the plan") {
    val rows = corpus(500)
    val emb = rows.toDF("vec_id", "embedding")
    val index = graft.operators.IVF.train(emb, k = 4, iters = 3)
    val geo = Hnsw.buildGeo(emb, index)
    val routed = Hnsw.nearDupPairsRouted(geo, index, 0.3, nProbe = 8)
    val exhaustive = Hnsw.nearDupPairs(geo, 0.3)
    assert(pairSet(routed) === pairSet(exhaustive),
      "nProbe >= k must search every cell, exactly like the fan-out")
    // the routed probe fan-out is an explode of a <= nProbe array —
    // never a shard cross-join
    val plan = routed.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") &&
      !plan.contains("CartesianProduct"),
      s"routed plan must not cross-join probes with shards:\n$plan")
    val maxFan = emb.select(size(graft.operators.IVF.probeExpr(
        col("embedding").cast("array<double>"), index, 3)).as("s"))
      .agg(max(col("s"))).head().getInt(0)
    assert(maxFan <= 3, s"probeExpr must cap the fan-out at nProbe, got $maxFan")
  }

  test("nearDupPairsRouted: at cells >> nProbe, near-identical pairs " +
       "(the SemDeDup regime) route losslessly — recall 1.0 on planted " +
       "twins; and a store/index mismatch fails loudly") {
    // 24 cells, nProbe 4 (6x pruning): plant one jittered twin per base
    // vector; every (i, i+1000) pair must come back at threshold 0.98
    val base = corpus(400)
    val twins = base.map { case (id, v) =>
      (id + 1000L, v.map(x => x * 1.001f + 0.0004f))
    }
    val emb = (base ++ twins).toDF("vec_id", "embedding")
    val index = graft.operators.IVF.train(emb, k = 24, iters = 3)
    val geo = Hnsw.buildGeo(emb, index)
    val got = pairSet(
      Hnsw.nearDupPairsRouted(geo, index, 0.98, nProbe = 4))
      .map(p => (p._1, p._2))
    val planted = base.map { case (id, _) => (id, id + 1000L) }.toSet
    val missed = planted -- got
    assert(missed.isEmpty,
      s"${missed.size}/${planted.size} planted twins missed at 6x " +
        s"pruning (e.g. ${missed.take(3)})")
    // wrong index: loud, not silently wrong
    val other = graft.operators.IVF.train(emb, k = 23, iters = 2, seed = 7)
    val e = intercept[IllegalArgumentException] {
      Hnsw.nearDupPairsRouted(geo, other, 0.98)
    }
    assert(e.getMessage.contains("was not built with this index"),
      e.getMessage)
  }

  test("batchNeighbors: a one-probe batch reproduces neighbors() value " +
       "for value; a multi-probe batch clears brute-force recall per " +
       "probe; ranks are dense") {
    val rows = corpus(500)
    val emb = rows.toDF("vec_id", "embedding")
    val store = Hnsw.build(emb, shards = 4)
    val q = rows.head._2.map(_.toDouble * 0.9 + 0.01)
    val single = Seq((9001L, q)).toDF("probe_id", "embedding")
    val got = Hnsw.batchNeighbors(store, single, k = 10, efSearch = 48)
      .orderBy("rank")
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val want = Hnsw.neighbors(store, q.toArray, 10, efSearch = 48)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === want,
      "a batch of one must reproduce the single-query surface")
    // multi-probe: recall@10 >= 0.9 against brute force, dense ranks
    val probeRows = rows.take(5)
    val probes = probeRows.map { case (id, v) => (id, v.map(_.toDouble)) }
      .toDF("probe_id", "embedding")
    val res = Hnsw.batchNeighbors(store, probes, k = 10, efSearch = 48)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    probeRows.foreach { case (pid, v) =>
      val mine = res.filter(_._1 == pid)
      assert(mine.map(_._3).toSeq.sorted === (1 to 10), s"probe $pid ranks")
      val brute = bruteTop(rows, v.map(_.toDouble).toArray, 10).toSet
      val recall = mine.map(_._2).count(brute) / 10.0
      assert(recall >= 0.9, s"probe $pid recall $recall")
    }
    graft.CacheRegistry.releaseAll()
  }

  test("batchNeighborsFiltered: every hit satisfies the predicate, " +
       "filtered recall clears brute force over the ALLOWED subset, and " +
       "the k-cut beats post-filtering the unfiltered top-k") {
    val rows = corpus(600)
    val emb = rows.toDF("vec_id", "embedding")
    val store = Hnsw.build(emb, shards = 4)
    val probeRows = rows.take(5)
    val probes = probeRows.map { case (id, v) => (id, v.map(_.toDouble)) }
      .toDF("probe_id", "embedding")
    // predicate: vec_id % 3 == 0 — selectivity 1/3, the moderate regime
    val allowedIds = rows.map(_._1).filter(_ % 3 == 0).toSet
    val allowed = allowedIds.toSeq.toDF("vec_id")
    val res = Hnsw.batchNeighborsFiltered(store, probes, allowed,
        k = 10, efSearch = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3)))
    val allowedRows = rows.filter(r => allowedIds(r._1))
    probeRows.foreach { case (pid, v) =>
      val mine = res.filter(_._1 == pid)
      assert(mine.forall(h => allowedIds(h._2)),
        s"probe $pid returned filter-violating ids: " +
          mine.filterNot(h => allowedIds(h._2)).mkString(","))
      assert(mine.map(_._3).toSeq.sorted === (1 to 10),
        s"probe $pid must fill k from the allowed subset")
      val brute = bruteTop(allowedRows, v.map(_.toDouble).toArray, 10).toSet
      val recall = mine.map(_._2).count(brute) / 10.0
      assert(recall >= 0.9, s"probe $pid filtered recall $recall")
      // the shape post-filtering cannot provide: of the UNFILTERED
      // top-10, only ~1/3 pass the predicate — the filtered search must
      // return strictly more allowed hits than that cut
      val postFiltered = bruteTop(rows, v.map(_.toDouble).toArray, 10)
        .count(allowedIds)
      assert(mine.length > postFiltered,
        s"probe $pid: filtered search returned ${mine.length} allowed " +
          s"hits vs $postFiltered surviving a post-filtered top-10")
    }
    // an empty allowed set returns zero rows, not an error
    assert(Hnsw.batchNeighborsFiltered(store, probes,
      Seq.empty[Long].toDF("vec_id"), k = 5, efSearch = 16).count() === 0L)
    // every stored id allowed: row for row the unfiltered serve — same
    // ids, bitwise cos, same rank
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3)))
        .sorted.toSeq
    val clean = dump(Hnsw.batchNeighbors(store, probes, k = 10, efSearch = 64))
    assert(clean.size === 50)
    assert(dump(Hnsw.batchNeighborsFiltered(store, probes,
      rows.map(_._1).toDF("vec_id"), k = 10, efSearch = 64)) === clean)
    graft.CacheRegistry.releaseAll()
  }

  test("defaultShards: the latency arm governs small corpora, the memory " +
       "arm governs 100TB-shaped ones; both round up") {
    // latency arm: 200k nodes / 65536 cap -> 4 shards (tiny memory)
    assert(Hnsw.defaultShards(200000L, dim = 64) === 4)
    // memory arm: 1e9 x 1024-dim doubles, m=8 -> 8320 B/node
    // = 8.32e12 B / 512 MiB -> 15500 shards, far above the node arm
    val big = Hnsw.defaultShards(1000000000L, dim = 1024)
    assert(big === math.ceil(1e9 * (1024 * 8 + 2 * 8 * 8) /
      (512.0 * 1024 * 1024)).toInt)
    assert(big > 15000 && big < 16000)
    // exact-boundary: no spurious extra shard
    assert(Hnsw.defaultShards(65536L, dim = 64) === 1)
    assert(Hnsw.defaultShards(65537L, dim = 64) === 2)
    assert(Hnsw.defaultShards(0L, dim = 64) === 1)
    assertThrows[IllegalArgumentException](Hnsw.defaultShards(10L, dim = 0))
  }

  test("recommendEf: the measured ef-sizing rule as an API — answers " +
       "pinned at the sweep's operating points, conservative between " +
       "them, None outside the envelope (per-shard size is the knob)") {
    // the BASELINE operating guidance verbatim: recall >= 0.94 needs
    // ef ~ 128 down to selectivity 1/10 and ~ 256 at 1/100 (~2.5k-node
    // shards)
    assert(Hnsw.recommendEf(0.1, 0.94, 2500L) === Some(128))
    assert(Hnsw.recommendEf(0.01, 0.94, 2500L) === Some(256))
    assert(Hnsw.recommendEf(1.0 / 3, 0.99, 2500L) === Some(256))
    assert(Hnsw.recommendEf(1.0, 0.8, 2500L) === Some(64))
    // between calibrated selectivities: the next-RARER bucket answers
    // (recall falls with selectivity, so it bounds from below)
    assert(Hnsw.recommendEf(0.2, 0.94, 2500L) === Some(128))
    // between calibrated shard sizes: the next-LARGER grid answers
    // (bigger shards always read lower — the transfer rule)
    assert(Hnsw.recommendEf(1.0 / 3, 0.9, 10000L) === Some(512))
    // outside the envelope: no calibrated ef reaches the target — the
    // documented remedy is more shards (defaultShards maxNodesPerShard),
    // not a bigger ef
    assert(Hnsw.recommendEf(0.01, 0.9, 25000L) === None)
    assert(Hnsw.recommendEf(0.001, 0.9, 2500L) === None)
    assert(Hnsw.recommendEf(0.1, 0.95, 100000L) === None)
    assertThrows[IllegalArgumentException](Hnsw.recommendEf(0.0, 0.9, 1L))
    assertThrows[IllegalArgumentException](Hnsw.recommendEf(0.5, 1.5, 1L))
  }

  test("semanticDedup composes pairs -> components -> quality argmax: " +
       "every cluster keeps its (quality desc, id asc) best member") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.sources.Tables.table(spark, dir, "embeddings")
    val docs = graft.sources.Tables.table(spark, dir, "documents")
    val reps = graft.operators.Dedup
      .semanticDedup(emb, docs, "n_chars", 0.35, shards = 4)
      .collect()
    assert(reps.nonEmpty)
    // replay the argmax from the pair graph directly
    val pairs = graft.operators.Dedup
      .hnswNearDupPairs(emb, 0.35, shards = 4)
    val comp = graft.operators.Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quality = docs.select("doc_id", "n_chars")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = comp.groupBy(_._2).map { case (c, members) =>
      val best = members.keys.toSeq
        .sortBy(id => (-quality(id), id)).head
      c -> (best, quality(best), members.size.toLong)
    }
    val got = reps.map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === want)
  }

  test("recallAudit over HNSW on the shipped embeddings shape " +
       "(one audit row, k domain)") {
    val rows = corpus(400)
    val emb = rows.toDF("vec_id", "embedding")
    val q = rows.head._2.map(_.toDouble).toArray
    val store = Hnsw.build(emb.filter(col("vec_id") =!= 1L), shards = 4)
    val audit = Similarity.recallAudit(
      Similarity.topK(emb, q, 10, excludeId = Some(1L)),
      Hnsw.neighbors(store, q, 10, efSearch = 32), k = 10)
      .collect()
    assert(audit.length === 1)
    val r = audit.head
    assert(r.getInt(0) === 10)
    assert(r.getLong(1) >= 0L && r.getLong(1) <= 10L)
    assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
  }
}
