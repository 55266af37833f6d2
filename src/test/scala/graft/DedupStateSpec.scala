package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, DedupState, IVF, Similarity}
import graft.sources.Tables

/** Persistent dedup state ([[graft.operators.DedupState]]) and IVF index
  * persistence ([[graft.operators.IVF.save]]/load): state on disk must be
  * indistinguishable from recomputing — batch-over-store ≡
  * recompute-from-union, reloaded index ≡ trained index.
  */
class DedupStateSpec extends SparkSpec {
  import spark.implicits._

  private def docsDf(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private def pairKey(df: DataFrame): Set[(Long, Long, BigDecimal)] =
    df.collect().map { r =>
      (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(2)).setScale(9, BigDecimal.RoundingMode.HALF_UP))
    }.toSet

  test("batch over the store equals recompute-from-union (sf0.001 documents)") {
    val docs = Tables.table(spark, sf0001, "documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 300)
    val fresh = docs.filter(col("doc_id") >= 300)
    val store = DedupState.build(spark, corpus, tmpDir("dstate"))
    val overStore = pairKey(DedupState.incrementalNearDups(store, fresh))
    CacheRegistry.releaseAll()
    val fromScratch = pairKey(Dedup.incrementalNearDups(corpus, fresh))
    CacheRegistry.releaseAll()
    assert(overStore === fromScratch,
      s"only-store=${overStore -- fromScratch} only-scratch=${fromScratch -- overStore}")
    assert(overStore.nonEmpty, "test data produced no near-dup pairs — vacuous")
  }

  test("df-cap flip: a shingle crossing maxDf once the batch arrives " +
       "repairs affected stored signatures exactly") {
    // maxDf = 2; trigram "a b c d e" prefix shingles sit AT the cap in the
    // corpus (docs 1,2) and cross it when fresh doc 10 arrives — the
    // from-scratch run drops them for everyone, so the store must repair
    // docs 1 and 2 before banding or its signatures disagree.
    val corpus = docsDf(
      1L -> "a b c d e f g h i j",
      2L -> "a b c d e f g h i k",
      3L -> "p q r s t u v w x y")
    val fresh = docsDf(
      10L -> "a b c d e f g h i j",
      11L -> "p q r s t u v w x z")
    val store = DedupState.build(spark, corpus, tmpDir("dflip"),
      n = 3, numPerms = 16, bands = 4, maxDf = 2)
    val overStore = pairKey(
      DedupState.incrementalNearDups(store, fresh, threshold = 0.5))
    CacheRegistry.releaseAll()
    val fromScratch = pairKey(Dedup.incrementalNearDups(corpus, fresh,
      threshold = 0.5, maxDf = 2))
    CacheRegistry.releaseAll()
    assert(overStore === fromScratch,
      s"only-store=${overStore -- fromScratch} only-scratch=${fromScratch -- overStore}")
    // the flip genuinely fired: stored signatures were built BEFORE the
    // cap crossed, so the repair set (docs containing a flipped shingle)
    // must be non-empty for this construction
    val flipped = store.shingleDf.filter(col("df") === 2).count()
    assert(flipped > 0, "construction error: no shingle at the cap boundary")
  }

  test("append preserves the storage invariant: append(store, batch) ≡ " +
       "build(corpus ∪ batch), bit-for-bit") {
    val docs = Tables.table(spark, sf0001, "documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 200)
    val batch1 = docs.filter(col("doc_id") >= 200 && col("doc_id") < 350)
    val batch2 = docs.filter(col("doc_id") >= 350)
    val appended = DedupState.append(spark,
      DedupState.build(spark, corpus, tmpDir("dappA")), batch1)
    CacheRegistry.releaseAll()
    val rebuilt = DedupState.build(spark,
      corpus.unionByName(batch1), tmpDir("dappC"))
    CacheRegistry.releaseAll()
    def rows(df: DataFrame): Set[Seq[Any]] =
      df.collect().map(r => r.toSeq.map {
        case null => "NULL"; case x => x.toString
      }).toSet
    assert(appended.gen === 1L, "append must commit generation 1")
    assert(rows(appended.shingleDf) === rows(rebuilt.shingleDf))
    assert(rows(appended.posting) === rows(rebuilt.posting))
    assert(rows(appended.fingerprints) === rows(rebuilt.fingerprints))
    assert(rows(appended.signatures.select(rebuilt.signatures.columns.map(col): _*))
      === rows(rebuilt.signatures))
    // generational reads: loadAt(0) still sees EXACTLY the pre-append
    // store — the replay-determinism contract the streaming sink uses
    val asOf0 = DedupState.loadAt(spark, appended.path, 0L)
    val fresh0 = DedupState.build(spark, corpus, tmpDir("dappD"))
    assert(rows(asOf0.posting) === rows(fresh0.posting))
    assert(rows(asOf0.shingleDf) === rows(fresh0.shingleDf))
    CacheRegistry.releaseAll()
    // and a second batch answered over the appended store still equals a
    // from-scratch incremental run over everything admitted so far
    val overStore = pairKey(DedupState.incrementalNearDups(appended, batch2))
    CacheRegistry.releaseAll()
    val fromScratch = pairKey(
      Dedup.incrementalNearDups(corpus.unionByName(batch1), batch2))
    CacheRegistry.releaseAll()
    assert(overStore === fromScratch)
  }

  test("a crashed (uncommitted) generation is invisible: readers take the " +
       "last COMMITTED generation and prune everything newer") {
    val corpus = docsDf(1L -> "a b c d e f", 2L -> "g h i j k l")
    val store = DedupState.build(spark, corpus, tmpDir("dcrash"))
    val grown = DedupState.append(spark, store,
      docsDf(10L -> "m n o p q r"))
    CacheRegistry.releaseAll()
    // simulate an append that died after writing posting rows but before
    // its commit marker: the junk generation must never surface
    Seq((999L, "x y z")).toDF("doc_id", "s")
      .write.parquet(s"${grown.path}/posting/gen=7")
    val re = DedupState.load(spark, grown.path)
    assert(re.gen === 1L, "uncommitted gen 7 must not advance the store")
    assert(re.posting.filter(col("doc_id") === 999L).count() === 0L,
      "uncommitted posting rows must be partition-pruned away")
    CacheRegistry.releaseAll()
  }

  test("an EMPTY corpus is a valid generation 0: build, load, query, and " +
       "the first admission all work (the streaming cold-start path)") {
    val empty = docsDf()
    val store = DedupState.build(spark, empty, tmpDir("dempty"))
    assert(store.gen === 0L)
    assert(store.posting.count() === 0L)
    val fresh = docsDf(1L -> "a b c d e", 2L -> "a b c d e",
      3L -> "f g h i j")
    // corpus is empty, so the only pair is the fresh×fresh exact dup (1,2)
    val pairs = DedupState.incrementalNearDups(store, fresh).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
    CacheRegistry.releaseAll()
    val (kept, next) = DedupState.admit(spark, store, fresh)
    val keptRows = kept.collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    CacheRegistry.releaseAll()
    assert(keptRows === Map(1L -> 2L, 3L -> 1L),
      "in-batch exact dup must collapse even against an empty corpus")
    assert(next.gen === 1L)
    // the grown store now rejects what it admitted
    assert(DedupState.incrementalDedup(next,
      docsDf(10L -> "a b c d e")).count() === 0L)
    CacheRegistry.releaseAll()
  }

  test("replaying an append is idempotent: same source generation, same " +
       "batch → identical committed generation, no double rows") {
    val corpus = docsDf(1L -> "a b c d e f", 2L -> "g h i j k l")
    val dir = tmpDir("dreplay")
    val s0 = DedupState.build(spark, corpus, dir)
    val batch = docsDf(10L -> "m n o p q r")
    def rows(df: DataFrame) = df.collect().map(_.toSeq.map(_.toString)).toSet
    val first = DedupState.append(spark, s0, batch)
    val firstRows = (rows(first.posting), rows(first.shingleDf),
      rows(first.signatures), rows(first.fingerprints))
    CacheRegistry.releaseAll()
    // the at-least-once case: the epoch re-runs from the SAME source view
    val replay = DedupState.append(spark, DedupState.loadAt(spark, dir, 0L),
      batch)
    assert(replay.gen === first.gen)
    assert((rows(replay.posting), rows(replay.shingleDf),
      rows(replay.signatures), rows(replay.fingerprints)) === firstRows)
    CacheRegistry.releaseAll()
  }

  test("compact collapses generations into a base and vacuum drops " +
       "superseded dirs — answers unchanged throughout") {
    val corpus = docsDf(1L -> "a b c d e f g", 2L -> "h i j k l m n")
    val dir = tmpDir("dcompact")
    val s0 = DedupState.build(spark, corpus, dir)
    val s1 = DedupState.append(spark, s0, docsDf(10L -> "o p q r s t u"))
    val s2 = DedupState.append(spark, s1, docsDf(20L -> "v w x y z aa bb"))
    val probe = docsDf(30L -> "a b c d e f zz", 31L -> "o p q r s t u")
    val pre = pairKey(DedupState.incrementalNearDups(s2, probe, threshold = 0.5))
    CacheRegistry.releaseAll()
    assert(pre.nonEmpty, "probe must near-dup against stored docs")
    val compacted = DedupState.compact(spark, s2)
    assert(compacted.gen === 3L)
    def rows(df: DataFrame) = df.collect().map(_.toSeq.map(_.toString)).toSet
    assert(rows(compacted.posting) === rows(s2.posting))
    assert(pairKey(DedupState.incrementalNearDups(compacted, probe,
      threshold = 0.5)) === pre)
    CacheRegistry.releaseAll()
    // pre-vacuum, as-of reads behind the new base still resolve
    assert(DedupState.loadAt(spark, dir, 1L).gen === 1L)
    DedupState.vacuum(spark, compacted)
    // superseded generations are gone: their markers fail fast, the
    // posting dirs are physically deleted, and the base still answers
    intercept[IllegalArgumentException](DedupState.loadAt(spark, dir, 1L))
    assert(!new java.io.File(s"$dir/posting/gen=0").exists)
    val after = DedupState.load(spark, dir)
    assert(after.gen === 3L)
    assert(pairKey(DedupState.incrementalNearDups(after, probe,
      threshold = 0.5)) === pre)
    CacheRegistry.releaseAll()
  }

  test("append(asBase) fuses compaction into the append: one base " +
       "generation, same answers as append-then-compact") {
    val corpus = docsDf(1L -> "a b c d e f", 2L -> "g h i j k l")
    val batch = docsDf(10L -> "m n o p q r")
    val probe = docsDf(30L -> "a b c d e zz", 31L -> "m n o p q zz")
    val fused = DedupState.append(spark,
      DedupState.build(spark, corpus, tmpDir("dfuseA")), batch, asBase = true)
    CacheRegistry.releaseAll()
    val twoStep = DedupState.compact(spark, DedupState.append(spark,
      DedupState.build(spark, corpus, tmpDir("dfuseB")), batch))
    CacheRegistry.releaseAll()
    assert(fused.gen === 1L, "fused base must keep one-generation-per-batch")
    def rows(df: DataFrame) = df.collect().map(_.toSeq.map(_.toString)).toSet
    assert(rows(fused.posting) === rows(twoStep.posting))
    assert(rows(fused.fingerprints) === rows(twoStep.fingerprints))
    val a = pairKey(DedupState.incrementalNearDups(fused, probe, threshold = 0.5))
    CacheRegistry.releaseAll()
    val b = pairKey(DedupState.incrementalNearDups(twoStep, probe, threshold = 0.5))
    CacheRegistry.releaseAll()
    assert(a === b)
    // the fused base supersedes gen 0: vacuum from a LATER view reclaims it
    val after = DedupState.append(spark, fused, docsDf(40L -> "s t u v w x"))
    DedupState.vacuum(spark, after)
    assert(!new java.io.File(s"${fused.path}/posting/gen=0").exists)
    assert(DedupState.load(spark, fused.path).gen === 2L)
    CacheRegistry.releaseAll()
  }

  test("incrementalDedup over the store equals the from-scratch admission " +
       "(exact anti-join + near-dup drop), without corpus text") {
    val docs = Tables.table(spark, sf0001, "documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 300)
    val fresh = docs.filter(col("doc_id") >= 300)
    val store = DedupState.build(spark, corpus, tmpDir("dadm"))
    def key(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val overStore = key(DedupState.incrementalDedup(store, fresh))
    CacheRegistry.releaseAll()
    val fromScratch = key(Dedup.incrementalDedup(corpus, fresh))
    CacheRegistry.releaseAll()
    assert(overStore === fromScratch)
    assert(overStore.nonEmpty)
  }

  test("bucket-partitioned GENERATIONAL layout: every view, admission " +
       "answer, and the full forget lifecycle are value-identical to " +
       "the unbucketed store, and the erasure-keyed reads carry a " +
       "bucket partition filter") {
    val docs = Tables.table(spark, sf0001, "documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 250)
    val batch1 = docs.filter(col("doc_id") >= 250 && col("doc_id") < 350)
    val probe = docs.filter(col("doc_id") >= 350)
    var plain = DedupState.build(spark, corpus, tmpDir("dgbA"))
    var bk = DedupState.build(spark, corpus, tmpDir("dgbB"), buckets = 16)
    assert(bk.buckets === 16 && bk.bucketed.keySet === Set(
      "posting", "fingerprints"))
    // the partition column never leaks into the public view schemas
    Seq(bk.posting, bk.shingleDf, bk.signatures, bk.fingerprints)
      .foreach(v => assert(!v.columns.contains("bucket"), v.columns.toSeq))
    sameStore(bk, plain, "bucketed build vs plain")
    // admission over the bucketed store ≡ over the plain store
    val a = pairKey(DedupState.incrementalNearDups(plain, batch1))
    CacheRegistry.releaseAll()
    val b = pairKey(DedupState.incrementalNearDups(bk, batch1))
    CacheRegistry.releaseAll()
    assert(a === b && a.nonEmpty)
    // append inherits the layout; the grown views still agree
    plain = DedupState.append(spark, plain, batch1)
    bk = DedupState.append(spark, bk, batch1)
    assert(bk.buckets === 16, "append must inherit the bucket layout")
    sameStore(bk, plain, "bucketed append vs plain")
    // forget: the erasure-keyed registry/posting reads PRUNE to the
    // erased ids' buckets — visible as a partition filter in the scan —
    // and the result is value-identical to the plain store's forget
    val erased = docs.filter(col("doc_id") < 350 &&
      col("doc_id") % 7 === 3).select("doc_id")
    plain = DedupState.forget(spark, plain, erased)
    bk = DedupState.forget(spark, bk, erased)
    sameStore(bk, plain, "bucketed forget vs plain")
    val pa = pairKey(DedupState.incrementalNearDups(plain, probe))
    CacheRegistry.releaseAll()
    val pb = pairKey(DedupState.incrementalNearDups(bk, probe))
    CacheRegistry.releaseAll()
    assert(pa === pb && pa.nonEmpty)
    // compaction carries the layout; the physical-erasure point agrees
    plain = DedupState.compact(spark, plain)
    bk = DedupState.compact(spark, bk)
    sameStore(bk, plain, "bucketed compact vs plain")
    assert(DedupState.load(spark, bk.path).buckets === 16,
      "the bucket marker must survive the whole lifecycle")
    CacheRegistry.releaseAll()
  }

  // ── forget: erasure from the standing store ────────────────────────────

  private def relRows(df: DataFrame): Set[Seq[String]] =
    df.collect().map(_.toSeq.map {
      case null => "NULL"; case x => x.toString
    }).toSet

  private def sameStore(a: DedupState.Store, b: DedupState.Store,
                        clue: String): Unit = {
    assert(relRows(a.posting) === relRows(b.posting), s"$clue: posting")
    assert(relRows(a.shingleDf) === relRows(b.shingleDf), s"$clue: dfs")
    assert(relRows(a.fingerprints) === relRows(b.fingerprints),
      s"$clue: fingerprints")
    assert(relRows(a.signatures.select(b.signatures.columns.map(col): _*))
      === relRows(b.signatures), s"$clue: signatures")
  }

  test("forget erases docs from a grown store: every loaded relation and " +
       "every subsequent admission answer is value-identical to a store " +
       "that never saw them") {
    val docs = Tables.table(spark, sf0001, "documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 250)
    val batch1 = docs.filter(col("doc_id") >= 250 && col("doc_id") < 350)
    val probe = docs.filter(col("doc_id") >= 350)
    // erased set spans BOTH generations (build + append)
    val erased = col("doc_id") % 7 === 3
    var store = DedupState.build(spark, corpus, tmpDir("dforgA"))
    store = DedupState.append(spark, store, batch1)
    store = DedupState.forget(spark, store,
      docs.filter(col("doc_id") < 350 && erased).select("doc_id"))
    assert(store.gen === 2L, "forget commits its own generation")
    CacheRegistry.releaseAll()
    val never = DedupState.build(spark,
      corpus.unionByName(batch1).filter(!erased), tmpDir("dforgB"))
    CacheRegistry.releaseAll()
    sameStore(store, never, "post-forget vs never-saw")
    val overForgotten = pairKey(DedupState.incrementalNearDups(store, probe))
    CacheRegistry.releaseAll()
    val overNever = pairKey(DedupState.incrementalNearDups(never, probe))
    CacheRegistry.releaseAll()
    assert(overForgotten === overNever)
    assert(overForgotten.nonEmpty, "vacuous: no pairs against survivors")
    // the erased docs genuinely stop deduping: re-submitting one of their
    // texts admits it as NEW (GDPR semantics — the fingerprint is gone)
    val gone = docs.filter(col("doc_id") === 3)
      .select(lit(9001L).as("doc_id"), col("text"))
    assert(DedupState.incrementalDedup(store, gone).count() === 1L,
      "an erased text must be admissible again")
    CacheRegistry.releaseAll()
    // but a fingerprint SHARED with a surviving doc keeps deduping: erase
    // one of two docs holding the same text and re-submit it
    val twin = docsDf(1L -> "aa bb cc dd ee", 2L -> "aa bb cc dd ee",
      3L -> "ff gg hh ii jj")
    val tw0 = DedupState.build(spark, twin, tmpDir("dforgT"))
    val tw1 = DedupState.forget(spark, tw0, Seq(1L).toDF("doc_id"))
    assert(DedupState.incrementalDedup(tw1,
      docsDf(10L -> "aa bb cc dd ee")).count() === 0L,
      "a hash still carried by doc 2 must keep deduping")
    CacheRegistry.releaseAll()
  }

  test("forget df-cap DOWN-flip: erasing a doc drops a shingle under " +
       "maxDf and surviving docs' signatures are repaired to the " +
       "never-saw store's, from the posting list alone") {
    // maxDf = 2: the "a b c d e ..." prefix shingles have df 3 (docs
    // 1,2,3 — OVER the cap, so they are in nobody's capped set); erasing
    // doc 3 drops them to df 2, and docs 1,2 must GAIN capped shingles —
    // doc 2's signature appears for the FIRST time (its whole set was
    // over-cap, so the stored signatures have no row to start from)
    val corpusAll = docsDf(
      1L -> "a b c d e f g h i j",
      2L -> "a b c d e f g h i",
      3L -> "a b c d e f g h i l",
      4L -> "p q r s t u v w x y")
    val store = DedupState.build(spark, corpusAll, tmpDir("dflipF"),
      n = 3, numPerms = 16, bands = 4, maxDf = 2)
    assert(store.signatures.filter(col("doc_id") === 2L).count() === 0L,
      "construction error: doc 2 must have no capped shingles pre-forget")
    val forgotten = DedupState.forget(spark, store, Seq(3L).toDF("doc_id"))
    CacheRegistry.releaseAll()
    val never = DedupState.build(spark,
      corpusAll.filter(col("doc_id") =!= 3L), tmpDir("dflipG"),
      n = 3, numPerms = 16, bands = 4, maxDf = 2)
    CacheRegistry.releaseAll()
    sameStore(forgotten, never, "down-flip repair")
    // the flip genuinely fired: doc 2 GAINED its signature
    assert(forgotten.signatures.filter(col("doc_id") === 2L).count() === 1L)
    // a later batch over the repaired store answers as over never-saw,
    // non-vacuously (fresh doc 10 near-dups the untouched doc 4)
    val fresh = docsDf(10L -> "p q r s t u v w x z")
    val a = pairKey(DedupState.incrementalNearDups(forgotten, fresh,
      threshold = 0.5))
    CacheRegistry.releaseAll()
    val b = pairKey(DedupState.incrementalNearDups(never, fresh,
      threshold = 0.5))
    CacheRegistry.releaseAll()
    assert(a === b)
    assert(a.exists { case (i, j, _) => i == 4L && j == 10L },
      "vacuous: the (4,10) near-dup pair must verify")
  }

  test("forget is purge-through-storage: untouched generations stay " +
       "byte-identical; the next compact physically removes erased rows " +
       "and the registry entry") {
    val docs = Tables.table(spark, sf0001, "documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 200)
    val dir = tmpDir("dpurge")
    val s0 = DedupState.build(spark, corpus, dir)
    def genBytes(g: Long): Map[String, Long] = {
      val d = new java.io.File(s"$dir/posting/gen=$g")
      d.listFiles().filter(_.getName.startsWith("part-"))
        .map(f => f.getName -> f.length()).toMap
    }
    val before = genBytes(0L)
    val s1 = DedupState.forget(spark, s0,
      corpus.filter(col("doc_id") % 5 === 1).select("doc_id"))
    CacheRegistry.releaseAll()
    assert(genBytes(0L) === before,
      "forget must never rewrite a prior generation's files")
    // pre-compaction the masking hides the rows; post-compaction they are
    // physically gone from the new base's files
    assert(s1.posting.filter(col("doc_id") % 5 === 1).count() === 0L)
    val s2 = DedupState.compact(spark, s1)
    CacheRegistry.releaseAll()
    val baseRaw = spark.read.parquet(s"$dir/posting/gen=${s2.gen}")
    assert(baseRaw.filter(col("doc_id") % 5 === 1).count() === 0L,
      "compaction must physically drop tombstoned posting rows")
    assert(spark.read.parquet(s"$dir/doc_fps/gen=${s2.gen}")
      .filter(col("doc_id") % 5 === 1).count() === 0L,
      "compaction must physically drop tombstoned registry rows")
    DedupState.vacuum(spark, s2)
    assert(!new java.io.File(s"$dir/tombstones/gen=1").exists(),
      "vacuum must reclaim superseded tombstone generations")
    // a forget against the compacted store still works (fresh registry)
    val s3 = DedupState.forget(spark, s2,
      corpus.filter(col("doc_id") % 5 === 2).select("doc_id"))
    assert(s3.posting.filter(col("doc_id") % 5 === 2).count() === 0L)
    CacheRegistry.releaseAll()
  }

  test("re-admission after forget: the same doc_id and text admitted " +
       "again are fully live (tombstones are generation-aware), and a " +
       "second forget erases them again") {
    val dir = tmpDir("dreadmit")
    val s0 = DedupState.build(spark,
      docsDf(1L -> "a b c d e f g", 2L -> "h i j k l m n"), dir)
    val s1 = DedupState.forget(spark, s0, Seq(1L).toDF("doc_id"))
    assert(s1.posting.filter(col("doc_id") === 1L).count() === 0L)
    // the SAME id + text comes back as a new admission
    val s2 = DedupState.append(spark, s1, docsDf(1L -> "a b c d e f g"))
    CacheRegistry.releaseAll()
    assert(s2.posting.filter(col("doc_id") === 1L).count() > 0L,
      "a re-admitted doc's posting rows must survive the OLD tombstone")
    // its fingerprint dedupes again — value-identical to never-forgetting
    assert(DedupState.incrementalDedup(s2,
      docsDf(10L -> "a b c d e f g")).count() === 0L,
      "a re-admitted text's fingerprint must be live again")
    CacheRegistry.releaseAll()
    val never = DedupState.build(spark,
      docsDf(1L -> "a b c d e f g", 2L -> "h i j k l m n"),
      tmpDir("dreadmitB"))
    sameStore(s2, never, "forget + re-admit vs never-forgot")
    // and a second erasure works on the re-admitted generation
    val s3 = DedupState.forget(spark, s2, Seq(1L).toDF("doc_id"))
    assert(s3.posting.filter(col("doc_id") === 1L).count() === 0L)
    assert(DedupState.incrementalDedup(s3,
      docsDf(11L -> "a b c d e f g")).count() === 1L)
    CacheRegistry.releaseAll()
  }

  test("forget fails LOUDLY on a store predating the fingerprint " +
       "registry, and erasing unknown ids is a committed no-op") {
    val corpus = docsDf(1L -> "a b c d e f", 2L -> "g h i j k l")
    val dir = tmpDir("dlegacyF")
    val s0 = DedupState.build(spark, corpus, dir)
    // unknown ids: a no-op that still commits (idempotent replays)
    val s1 = DedupState.forget(spark, s0, Seq(999L).toDF("doc_id"))
    assert(s1.gen === 1L && s1.posting.count() === s0.posting.count())
    CacheRegistry.releaseAll()
    // strip the registry, simulating a store written before it existed
    val p = new org.apache.hadoop.fs.Path(s"$dir/doc_fps")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val stripped = DedupState.load(spark, dir)
    // every op that reads the live registry refuses with the rebuild
    // remedy — none may commit a registry-less base
    Seq[(String, () => Any)](
      "forget" -> (() => DedupState.forget(spark, stripped,
        Seq(1L).toDF("doc_id"))),
      "compact" -> (() => DedupState.compact(spark, stripped)),
      "append(asBase = true)" -> (() => DedupState.append(spark, stripped,
        docsDf(3L -> "m n o p q r"), asBase = true))).foreach {
      case (op, run) =>
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains(s"$op refused") &&
          e.getMessage.contains("doc_fps") &&
          e.getMessage.contains("rebuild"), s"$op: ${e.getMessage}")
    }
    assert(DedupState.latestGen(spark, dir) === s1.gen,
      "a refused op must not commit a generation")
    CacheRegistry.releaseAll()
  }

  test("IVF index round-trips through parquet: same centroids, same neighbors") {
    val emb = Tables.table(spark, sf0001, "embeddings")
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray
    val idx = IVF.train(emb, k = 8, iters = 3)
    val dir = tmpDir("ivfidx")
    IVF.save(spark, idx, dir)
    val reloaded = IVF.load(spark, dir)
    // q9-quantized coordinates round-trip bit-exact through parquet
    assert(reloaded.centroids.map(_.toSeq).toSeq === idx.centroids.map(_.toSeq).toSeq)
    def nn(i: IVF.Index) = IVF.neighbors(emb, i, q, 10, nProbe = 4,
      excludeId = Some(0L)).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(nn(reloaded) === nn(idx))
  }

  test("IVF.load fails fast on a corrupt (non-contiguous) store") {
    val dir = tmpDir("ivfbad")
    Seq((0, Seq(1.0, 2.0)), (2, Seq(3.0, 4.0)))
      .toDF("cid", "centroid").write.mode("overwrite").parquet(dir)
    val e = intercept[IllegalArgumentException](IVF.load(spark, dir))
    assert(e.getMessage.contains("non-contiguous"))
  }
}
