package graft

import org.apache.spark.sql.functions._
import graft.operators.Anonymize
import graft.functions.Blake2b

/** Anonymization contracts (reference E2/E3,
  * /root/reference/anonymize_datasets.py:27-135): label enumeration and
  * word-boundary replacement, constant scaling, audit stamps, and the
  * cross-run keyed-pseudonym upsert (FIXTURES.md §C).
  */
class AnonymizeSpec extends SparkSpec {
  import spark.implicits._

  test("labelIndex: sorted 1-based enumeration; single label drops the index") {
    assert(Anonymize.labelIndex(Seq("zeta", "alpha", "zeta", null)) ===
      Map("alpha" -> "ANON_CLIENT 1", "zeta" -> "ANON_CLIENT 2"))
    assert(Anonymize.labelIndex(Seq("only")) === Map("only" -> "ANON_CLIENT"))
  }

  test("anonymizeLabels: exact match, embedded word-boundary, case-insensitive, null passthrough") {
    val df = Seq(
      Some("acme"),                    // exact
      Some("ACME energy"),             // embedded, case-insensitive
      Some("acmeco"),                  // no word boundary → untouched
      Some("the zenith co"),           // second label embedded
      None)                            // null passthrough
      .toDF("customer")
    val out = Anonymize.anonymizeLabels(df, "customer", Seq("acme", "zenith"))
      .as[Option[String]].collect().toSeq
    assert(out === Seq(
      Some("ANON_CLIENT 1"),
      Some("ANON_CLIENT 1 energy"),
      Some("acmeco"),
      Some("the ANON_CLIENT 2 co"),
      None))
  }

  test("anonymizeLabels single-pass: prefix labels and token re-injection safe") {
    // sorted enumeration: "2" -> 1, "Acme" -> 2, "Acme Corp" -> 3
    val df = Seq("see Acme Corp filings", "Acme alone", "Acme Corp",
      "2 units shipped").toDF("c")
    val out = Anonymize.anonymizeLabels(df, "c", Seq("Acme", "Acme Corp", "2"))
      .as[String].collect().toSet
    assert(out === Set(
      // longest label wins inside composite strings (no "ANON… Corp" residue)
      "see ANON_CLIENT 3 filings",
      "ANON_CLIENT 2 alone",
      "ANON_CLIENT 3",
      // and the numeric label "2" must NOT rewrite the 2 inside another
      // replacement's token (single pass never rescans replacements)
      "ANON_CLIENT 1 units shipped"))
  }

  test("empty-string labels are dropped, never matched zero-width") {
    assert(Anonymize.labelIndex(Seq("", "acme", null)) === Map("acme" -> "ANON_CLIENT"))
    // a column containing "" must not trigger token injection at every
    // word boundary of every other cell
    val df = Seq("hello acme world", "", "plain text").toDF("c")
    val out = Anonymize.anonymizeColumnLabels(df, "c")
      .as[String].collect().toSet
    // labels = {"", "hello acme world", "plain text"} -> "" dropped,
    // remaining cells are exact matches of themselves
    assert(out === Set("ANON_CLIENT 1", "", "ANON_CLIENT 2"))
  }

  test("anonymizeColumnLabels switches to the distributed join path above the cap") {
    val many = (0 until Anonymize.MaxExpressionLabels + 10)
      .map(i => f"label$i%04d").toDF("src")
    val out = Anonymize.anonymizeColumnLabels(many, "src")
    // join path must still produce the sorted dense-rank enumeration
    val got = out.filter(col("src") === "ANON_CLIENT 1").count()
    assert(got === 1)
    assert(out.filter(col("src").startsWith("ANON_CLIENT")).count() ===
      Anonymize.MaxExpressionLabels + 10)
  }

  test("scaleValues multiplies present columns case-insensitively, skips absent") {
    val df = Seq((100.0, 2.0)).toDF("Amount", "other")
    val out = Anonymize.scaleValues(df, Seq("amount", "missing"), 1.0125)
    val row = out.head()
    assert(row.getDouble(0) === 101.25)
    assert(row.getDouble(1) === 2.0)
  }

  test("stampAudit stamps only when absent; injected clock is deterministic") {
    val df = Seq(1).toDF("x")
    val out = Anonymize.stampAudit(df, timezone = "America/Chicago",
      clock = Some("2026-01-01T00:00:00"))
    val row = out.select("process_time", "timezone").head()
    assert(row.getString(0) === "2026-01-01T00:00:00")
    assert(row.getString(1) === "America/Chicago")
    // pre-existing columns are preserved untouched
    val kept = Anonymize.stampAudit(
      Seq(("t0", "tz0")).toDF("process_time", "timezone")).head()
    assert(kept.getString(0) === "t0" && kept.getString(1) === "tz0")
  }

  test("uid upsert: stable across runs, appends new uids, dedup, null contract") {
    val keyDir = tmpDir("graft-key-test")
    val run1 = Anonymize.uidAnonymization(spark,
      Seq(Some("u1"), Some("u2"), None).toDF("uid"), "uid", keyDir)
    val got1 = run1.as[Option[String]].collect().toSet
    val h1 = Blake2b.hexDigest("u1".getBytes, 5)
    val h2 = Blake2b.hexDigest("u2".getBytes, 5)
    assert(got1 === Set(Some(h1), Some(h2), None)) // nulls stay null

    // run 2: u1 known, u3 new
    val run2 = Anonymize.uidAnonymization(spark,
      Seq("u1", "u3").toDF("uid"), "uid", keyDir)
    val got2 = run2.as[String].collect().toSet
    assert(got2 === Set(h1, Blake2b.hexDigest("u3".getBytes, 5)))

    // key table: exactly 3 rows, duplicate-free, no null row
    val key = Anonymize.readKeyTable(spark, keyDir, "uid")
    assert(key.count() === 3)
    assert(key.distinct().count() === 3)
    assert(key.filter(col("uid").isNull).count() === 0)
    // no stray staging files survive the crash-safe swap
    val leftovers = new java.io.File(keyDir).listFiles()
      .map(_.getName).filter(n => n.startsWith(".tmp-") || n.startsWith(".bak-"))
    assert(leftovers.isEmpty)
  }

  test("a crash between the key-table swap's renames loses no uid history") {
    val keyDir = tmpDir("graft-key-crash")
    Anonymize.uidAnonymization(spark, Seq("u1", "u2").toDF("uid"), "uid", keyDir)
      .collect()
    // the crash state: the old table was staged to .bak, the next run's
    // table sits complete in .tmp-, and the rename of .tmp- into place
    // never ran
    val fs = new org.apache.hadoop.fs.Path(keyDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(s"$keyDir/key_uid.snappy.parquet"),
      new org.apache.hadoop.fs.Path(s"$keyDir/.bak-key_uid"))
    Seq(("u1", "crashed"), ("u9", "crashed")).toDF("uid", "uid_")
      .write.parquet(s"$keyDir/.tmp-key_uid")

    val out = Anonymize.uidAnonymization(spark, Seq("u1", "u3").toDF("uid"), "uid", keyDir)
      .as[String].collect().toSet
    val h = Seq("u1", "u2", "u3").map(u => u -> Blake2b.hexDigest(u.getBytes, 5)).toMap
    assert(out === Set(h("u1"), h("u3")))
    // old ∪ new: u2, unseen by this run, keeps its pseudonym
    val key = Anonymize.readKeyTable(spark, keyDir, "uid").as[(String, String)].collect().toSet
    assert(key === h.toSet)
    val leftovers = new java.io.File(keyDir).listFiles()
      .map(_.getName).filter(n => n.startsWith(".tmp-") || n.startsWith(".bak-"))
    assert(leftovers.isEmpty, leftovers.mkString(", "))
  }

  test("uid column is replaced under its original name (schema tail position)") {
    val keyDir = tmpDir("graft-key-pos")
    val out = Anonymize.uidAnonymization(spark,
      Seq(("a", "u1")).toDF("other", "uid"), "uid", keyDir)
    // pandas merge appends the joined pseudonym column at the end
    assert(out.columns.toSeq === Seq("other", "uid"))
    assert(out.head().getString(1) === Blake2b.hexDigest("u1".getBytes, 5))
  }

  test("integer uids hash their string rendering (astype(str) parity)") {
    val keyDir = tmpDir("graft-key-int")
    val out = Anonymize.uidAnonymization(spark,
      Seq(123, 456).toDF("uid"), "uid", keyDir)
    assert(out.as[String].collect().toSet ===
      Set(Blake2b.hexDigest("123".getBytes, 5), Blake2b.hexDigest("456".getBytes, 5)))
  }

  test("cdmAnonymization composes scale + label + uid + lowercase") {
    val keyDir = tmpDir("graft-key-cdm")
    val df = Seq(("acme", "m1", 100.0), ("zenith", "m2", 200.0))
      .toDF("CustomerCode", "meter", "Amount")
    val out = Anonymize.cdmAnonymization(spark, df, keyDir)
    assert(out.columns.toSeq === Seq("customercode", "amount", "meter"))
    val rows = out.orderBy("amount").collect()
    assert(rows(0).getAs[String]("customercode") === "ANON_CLIENT 1")
    assert(rows(0).getAs[Double]("amount") === 101.25)
    assert(rows(0).getAs[String]("meter") === Blake2b.hexDigest("m1".getBytes, 5))
  }

  test("cdmAnonymization with multiple label AND uid columns (cached-scan path)") {
    val keyDir = tmpDir("graft-key-multi")
    val df = Seq(
      ("acme", "brandA", "m1", "u9", 100.0),
      ("zenith", "brandB", "m2", "u8", 200.0))
      .toDF("customer", "brand", "meter", "uid", "value")
    // 2 label + 2 uid columns → 4 eager passes over one cached scan
    val out = Anonymize.cdmAnonymization(spark, df, keyDir)
    val rows = out.orderBy("value").collect()
    assert(rows(0).getAs[String]("customer") === "ANON_CLIENT 1")
    assert(rows(0).getAs[String]("brand") === "ANON_CLIENT 1")
    assert(rows(1).getAs[String]("brand") === "ANON_CLIENT 2")
    assert(rows(0).getAs[String]("meter") === Blake2b.hexDigest("m1".getBytes, 5))
    assert(rows(0).getAs[String]("uid") === Blake2b.hexDigest("u9".getBytes, 5))
    assert(rows(0).getAs[Double]("value") === 101.25)
    // separate key tables per uid column
    assert(new java.io.File(s"$keyDir/key_meter.snappy.parquet").exists())
    assert(new java.io.File(s"$keyDir/key_uid.snappy.parquet").exists())
  }

  test("kAnonymityAudit: flags quasi-identifier groups below k, exact sizes") {
    val df = Seq(
      ("us", "auto"), ("us", "auto"), ("us", "auto"),
      ("us", "bike"),
      ("de", "auto"), ("de", "auto")).toDF("nation", "segment")
    val bad = Anonymize.kAnonymityAudit(df, Seq("nation", "segment"), k = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // ("us","auto") has 3 rows = k → safe; the two smaller groups violate
    assert(bad === Map(("us", "bike") -> 1L, ("de", "auto") -> 2L))
    intercept[IllegalArgumentException](
      Anonymize.kAnonymityAudit(df, Seq.empty, 3))
    intercept[IllegalArgumentException](
      Anonymize.kAnonymityAudit(df, Seq("nation"), 1))
  }

  test("lDiversityAudit: flags homogeneous groups a k-audit calls safe") {
    // ("us","auto") is k=3-safe but every member shares diagnosis a —
    // exactly the homogeneity leak l-diversity exists to catch.
    val df = Seq(
      ("us", "auto", "a"), ("us", "auto", "a"), ("us", "auto", "a"),
      ("de", "auto", "a"), ("de", "auto", "b"), ("de", "auto", "c")
    ).toDF("nation", "segment", "diag")
    assert(Anonymize.kAnonymityAudit(df, Seq("nation", "segment"), k = 3)
      .count() === 0L, "both groups are size 3 — k-audit must pass them")
    val bad = Anonymize.lDiversityAudit(df, Seq("nation", "segment"), "diag", l = 3)
      .collect().map(r =>
        (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(bad === Map(("us", "auto") -> ((3L, 1L))))
    intercept[IllegalArgumentException](
      Anonymize.lDiversityAudit(df, Seq("diag"), "diag", 3))
    intercept[IllegalArgumentException](
      Anonymize.lDiversityAudit(df, Seq("nation"), "diag", 1))
  }

  test("tClosenessAudit: flags the skewed group a diversity audit passes") {
    // both groups show all 3 sensitive values (l=3-diverse), but "skew"
    // concentrates on value 0 while the table is near-uniform — exactly
    // the skewness leak t-closeness exists to catch
    val rows = Seq.fill(8)(("skew", 0L)) ++ Seq(("skew", 1L), ("skew", 2L)) ++
      (0 until 30).map(i => ("flat", (i % 3).toLong))
    val df = rows.toDF("g", "v")
    assert(Anonymize.lDiversityAudit(df, Seq("g"), "v", l = 3).count() === 0L,
      "both groups are 3-diverse — the l-audit must pass them")
    val flagged = Anonymize.tClosenessAudit(df, Seq("g"), "v", t = 0.1)
      .collect().map(r => r.getString(0)).toSet
    assert(flagged === Set("skew"))
    // identical-to-global distribution ⇒ EMD 0 ⇒ never flagged
    assert(Anonymize.tClosenessAudit(
      (0 until 12).map(i => ("a", (i % 3).toLong)).toDF("g", "v"),
      Seq("g"), "v", t = 0.0001).count() === 0L)
    intercept[IllegalArgumentException](
      Anonymize.tClosenessAudit(df, Seq("v"), "v", 0.1))
    intercept[IllegalArgumentException](
      Anonymize.tClosenessAudit(df, Seq("g"), "v", 0.0))
  }

  test("dpNoisyCounts: deterministic, bounded, epsilon-scaled noise") {
    val df = (0 until 1000).map(i => (i % 40).toLong -> i).toDF("k", "x")
    val rel = Anonymize.dpNoisyCounts(df, Seq("k"), epsilon = 1.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rel.size === 40)
    // rerun + repartition: identical release (sticky noise, no fresh draws)
    val rel2 = Anonymize.dpNoisyCounts(df.repartition(7), Seq("k"), 1.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rel === rel2)
    // every count is 25; |noise| <= ln(2^20)/eps ~ 13.87, and not all zero
    assert(rel.values.forall(v => math.abs(v - 25L) <= 14L))
    assert(rel.values.exists(_ !== 25L), "some keys must actually be noised")
    // 10x epsilon shrinks the total absolute perturbation ~10x
    val tight = Anonymize.dpNoisyCounts(df, Seq("k"), epsilon = 10.0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val err = (m: Map[Long, Long]) => m.values.map(v => math.abs(v - 25L)).sum
    assert(err(tight) < err(rel))
    // tiny epsilon: the 0-floor holds (noise can exceed the count)
    val loose = Anonymize.dpNoisyCounts(df, Seq("k"), epsilon = 0.1)
    assert(loose.collect().forall(_.getLong(1) >= 0L))
    intercept[IllegalArgumentException](
      Anonymize.dpNoisyCounts(df, Seq("k"), 0.0))
  }

  test("kAnonymizeSuppress: released table is k-anonymous by construction") {
    val df = Seq(
      ("us", "auto", 1L), ("us", "auto", 2L), ("us", "auto", 3L),
      ("us", "bike", 4L),
      ("de", "auto", 5L), ("de", "auto", 6L)).toDF("nation", "segment", "id")
    val out = Anonymize.kAnonymizeSuppress(df, Seq("nation", "segment"), k = 3)
    assert(out.select("id").as[Long].collect().sorted === Array(1L, 2L, 3L))
    assert(out.columns.sorted === Array("id", "nation", "segment"),
      "suppression must not leak helper columns")
    // the enforcement closes its own audit
    assert(Anonymize.kAnonymityAudit(out, Seq("nation", "segment"), k = 3)
      .count() === 0L)
    intercept[IllegalArgumentException](
      Anonymize.kAnonymizeSuppress(df, Seq("nation"), 1))
  }

  test("mondrian: every class >= k by construction, rows conserved, " +
    "splits adapt to the data, repartition-invariant") {
    import graft.operators.Anonymize
    // two tight clusters in 2-D: mondrian should separate them while a
    // width-based fixed band straddling both would not
    val rows = (1 to 40).map(i => (100L + i % 5, 10L + i % 3)) ++
      (1 to 40).map(i => (900L + i % 5, 90L + i % 3))
    val df = rows.toDF("a", "b")
    val classes = Anonymize.mondrianClasses(df, Seq("a", "b"), k = 10)
      .collect()
    assert(classes.map(_.getLong(5)).forall(_ >= 10L), "k by construction")
    assert(classes.map(_.getLong(5)).sum === 80L, "rows conserved")
    assert(classes.length >= 2, "the two clusters must separate")
    // no class band straddles both clusters
    classes.foreach { c =>
      val (lo, hi) = (c.getLong(1), c.getLong(2))
      assert(hi <= 200L || lo >= 800L,
        s"class [$lo, $hi] straddles the clusters")
    }
    // deterministic under physical layout
    val again = Anonymize.mondrianClasses(df.repartition(7), Seq("a", "b"),
        k = 10).collect()
    assert(again.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet ===
      classes.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet)
    // too small to split -> one root class
    val tiny = Anonymize.mondrianClasses(
      (1 to 15).map(i => (i.toLong, i.toLong)).toDF("a", "b"),
      Seq("a", "b"), k = 10).collect()
    assert(tiny.length === 1 && tiny.head.getLong(5) === 15L)
    intercept[IllegalArgumentException](
      Anonymize.mondrianClasses(df, Seq("a"), k = 1))
  }

  test("mondrian: the recorded split log is the hand-derived tree — the " +
    "fused per-generation stats job reads the same medians/widths the " +
    "3-job loop did") {
    import graft.operators.Anonymize
    // 8 rows, one quasi column, k=2: root (n=8, median of 1..8 = 4.5)
    // splits at 4.5 -> pids {0: 1..4, 1: 5..8}; each child (n=4 = 2k)
    // splits at its own exact median (2.5 / 6.5); the four leaves
    // (n=2 each) are < 2k and the recursion stops. Every median is an
    // interpolated percentile the setup/fused stats job must reproduce
    // exactly — a drifted or stale stats read changes the tree.
    val df = (1 to 8).map(i => Tuple1(i.toLong)).toDF("a")
    val r = Anonymize.mondrian(df, Seq("a"), k = 2)
    assert(r.log === Seq(
      Seq((0L, 0, 4.5)),
      Seq((0L, 0, 2.5), (1L, 0, 6.5))))
    val classes = r.classes.collect().map(c =>
      (c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3))).sorted
    assert(classes === Array((0L, 1L, 2L, 2L), (1L, 3L, 4L, 2L),
      (2L, 5L, 6L, 2L), (3L, 7L, 8L, 2L)),
      "leaf ranges/sizes must match the hand-derived tree")
  }

  test("mondrian: null quasi values fail fast (they would break k-anonymity)") {
    import graft.operators.Anonymize
    // a null is invisible to the split-feasibility count yet relabels to
    // the lower half, so an upper class could end up under k — the
    // operator must refuse rather than silently emit a broken release
    val withNull = ((1 to 30).map(i => (Some(i.toLong), i.toLong)) :+
      ((None: Option[Long]), 31L)).toDF("a", "b")
    val e = intercept[IllegalArgumentException](
      Anonymize.mondrianClasses(withNull, Seq("a", "b"), k = 5))
    assert(e.getMessage.contains("null"), e.getMessage)
    // non-castable strings surface the same way (cast -> null)
    val bad = Seq(("x", 1L), ("y", 2L), ("3", 3L), ("4", 4L))
      .toDF("a", "b")
    intercept[IllegalArgumentException](
      Anonymize.mondrianClasses(bad, Seq("a"), k = 2))
  }
}
