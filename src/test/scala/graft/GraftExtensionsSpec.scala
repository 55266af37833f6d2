package graft

/** The SQL registration must expose the same native expressions the
  * DataFrame API uses — same values, same codegen path.
  */
class GraftExtensionsSpec extends SparkSpec {

  test("blake2b_hex and array_dot are callable from spark.sql") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT blake2b_hex('123'), blake2b_hex('123', 8), " +
        "array_dot(array(1.0D, 2.0D, 3.0D), array(4.0D, 5.0D, 6.0D))").head()
    // vectors recomputable with python hashlib.blake2b(b'123', digest_size=n)
    assert(r.getString(0) === graft.functions.Blake2b.hexDigest("123".getBytes, 5))
    assert(r.getString(1) === graft.functions.Blake2b.hexDigest("123".getBytes, 8))
    assert(r.getString(1).length === 16)
    assert(r.getDouble(2) === 32.0)
  }

  test("l2_norm and word_shingles are callable from spark.sql") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT l2_norm(array(3.0D, 4.0D)), " +
        "word_shingles('a b c d'), word_shingles('a b c d', 2)").head()
    assert(r.getDouble(0) === 5.0)
    assert(r.getSeq[String](1) === Seq("a b c", "b c d"))
    assert(r.getSeq[String](2) === Seq("a b", "b c", "c d"))
  }

  test("char_shingles is callable from spark.sql with the substr contract") {
    GraftExtensions.register(spark)
    val r = spark.sql("SELECT char_shingles('abcd', 3), " +
      "char_shingles('ab', 3)").head()
    assert(r.getSeq[String](0) === Seq("abc", "bcd"))
    assert(r.getSeq[String](1) === Seq.empty)
  }

  test("md5_lanes is callable from spark.sql and matches the hex definition") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT md5_lanes('a'), " +
        "CAST(conv(substring(md5(CAST('a' AS BINARY)), 1, 8), 16, 10) AS BIGINT)").head()
    assert(r.getSeq[Long](0).head === r.getLong(1))
    assert(r.getSeq[Long](0) === Seq(0x0cc175b9L, 0xc0f1b6a8L, 0x31c399e2L, 0x69772661L))
  }

  test("heavy_hitters aggregate is callable from spark.sql") {
    GraftExtensions.register(spark)
    import spark.implicits._
    Seq("a", "a", "b").toDF("tok").createOrReplaceTempView("hh_toks")
    val r = spark.sql(
      "SELECT heavy_hitters(tok, 4) AS hh FROM hh_toks").head()
    val got = r.getSeq[org.apache.spark.sql.Row](0)
      .map(x => x.getString(0) -> x.getLong(1))
    assert(got === Seq("a" -> 2L, "b" -> 1L))
  }

  test("scrub_pii and url helpers are callable from spark.sql") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT scrub_pii('mail a@b.io from 10.0.0.1'), " +
        "url_domain('https://a.b.co/x?q=1'), " +
        "url_tld(url_domain('https://a.b.co/x')), " +
        "url_path('https://a.b.co/x/y?q=1')").head()
    assert(r.getString(0) === "mail <EMAIL> from <IP>")
    assert(r.getString(1) === "a.b.co")
    assert(r.getString(2) === "co")
    assert(r.getString(3) === "/x/y")
  }

  test("nfc_normalize and char_class_counts are callable from spark.sql") {
    GraftExtensions.register(spark)
    // decomposed e + combining acute must normalize to the composed é
    val r = spark.sql(
      "SELECT nfc_normalize('é'), char_class_counts('ab a!')").head()
    assert(r.getString(0) === "é")
    val counts = r.getSeq[Long](1)
    assert(counts(0) === 2L, "two 'a'")
    assert(counts(1) === 1L, "one 'b'")
    assert(counts(26) === 1L, "one space")
    assert(counts(27) === 1L, "one other ('!')")
  }

  test("jaro_winkler and damerau_levenshtein are callable from spark.sql") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT jaro_winkler('martha', 'marhta'), " +
        "damerau_levenshtein('ca', 'abc'), " +
        "damerau_levenshtein('martha', 'marhta')").head()
    assert(math.abs(r.getDouble(0) - 0.9611111111111111) < 1e-12)
    assert(r.getInt(1) === 2, "unrestricted D-L: ca -> abc is 2, OSA says 3")
    assert(r.getInt(2) === 1, "one transposition")
  }

  test("char_shingles error messages distinguish bad arity from a " +
       "non-literal width") {
    GraftExtensions.register(spark)
    val badN = intercept[Exception] {
      spark.sql("SELECT char_shingles('abc', length('ab'))").collect()
    }
    assert(badN.getMessage.contains("must be a literal INT"),
      s"2-arg non-literal n must not report an arity error: ${badN.getMessage}")
    val badArity = intercept[Exception] {
      spark.sql("SELECT char_shingles('abc')").collect()
    }
    assert(badArity.getMessage.contains("takes 2 arguments"),
      badArity.getMessage)
  }

  test("the whole surface loads through the SparkSessionExtensions " +
       "injector — the class spark.sql.extensions instantiates") {
    // the config line is GraftSession's and is covered by GraftSessionSpec
    // on the shared session; Builder.withExtensions is the other entry
    // point, applying the SAME injector object the config path
    // instantiates (the documented contract is exactly "a
    // Function1[SparkSessionExtensions, Unit] with a zero-arg
    // constructor", which `new GraftExtensions` is)
    val orig = spark
    org.apache.spark.sql.SparkSession.clearActiveSession()
    org.apache.spark.sql.SparkSession.clearDefaultSession()
    try {
      val injected = org.apache.spark.sql.SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      // one probe per registration family: scalar kernel, aggregate,
      // composition — and the full identifier list resolves
      val r = injected.sql(
        "SELECT blake2b_hex('123'), jaro_winkler('ab', 'ab'), " +
          "nfc_normalize('é')").head()
      assert(r.getString(0) ===
        graft.functions.Blake2b.hexDigest("123".getBytes, 5))
      assert(r.getDouble(1) === 1.0)
      assert(r.getString(2) === "é")
      GraftExtensions.definitions.foreach { case (id, _, _) =>
        assert(injected.sessionState.functionRegistry
          .functionExists(id), s"${id.funcName} missing from the " +
          "extensions-injected registry")
      }
      // NO injected.stop(): that would stop the SHARED SparkContext and
      // take the rest of the suite down with it — restoring the original
      // active/default session below is the whole cleanup
    } finally {
      org.apache.spark.sql.SparkSession.setActiveSession(orig)
      org.apache.spark.sql.SparkSession.setDefaultSession(orig)
    }
  }

  test("array_dot casts float arrays like the DataFrame path") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT array_dot(CAST(array(1.5, 2.5) AS ARRAY<FLOAT>), array(2.0D, 4.0D))").head()
    assert(r.getDouble(0) === 13.0)
  }

  test("array_dot fails loudly on dimension mismatch (no silent truncation)") {
    GraftExtensions.register(spark)
    val e = intercept[Exception] {
      spark.sql("SELECT array_dot(array(1.0D, 2.0D), array(1.0D, 2.0D, 3.0D))")
        .collect()
    }
    def causes(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(causes(e).exists(_.contains("dimension mismatch")), e.toString)
  }
}
