package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.operators.StoreCommits
import graft.streaming.StreamingEvents

/** Streaming surface contracts (SURVEY.md §2.8/§7.6): replaying a bounded
  * event set through the streaming plan equals the batch q17 aggregation
  * (the batch query is the oracle), late rows beyond the watermark are
  * dropped, and the foreachBatch pseudonymizing sink keeps key-table
  * identity stable between streaming micro-batches and batch runs.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("streamed hourly sums equal the batch q17 aggregation on replay") {
    // bounded replay of the sf0.001 events table (through Tables so the
    // nanos→ntz conversion applies), re-stamped as wall-clock timestamps
    val batchRows = graft.sources.Tables.table(spark, sf0001, "events")
      .select(col("ts").cast("timestamp").as("ts"), col("value"))
      .collect().map(r => (r.getTimestamp(0), r.getDouble(1))).toSeq
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, Double)]
    stream.addData(batchRows)
    val q = StreamingEvents.hourlySums(stream.toDF().toDF("ts", "value"))
      .writeStream.format("memory").queryName("hourly_stream")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("hourly_stream")
      .collect().map(r => r.getTimestamp(0) -> r.getDouble(1)).toMap
    val batch = batchRows.toDF("ts", "value")
      .groupBy(window(col("ts"), "1 hour"))
      .agg((sum(round(col("value") * 100)) / 100.0).as("sum_value"))
      .select(col("window.start"), col("sum_value"))
      .collect().map(r => r.getTimestamp(0) -> r.getDouble(1)).toMap
    assert(streamed === batch)
  }

  test("append mode drops late rows beyond the 10-minute watermark") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, Double)]
    val q = StreamingEvents.hourlySums(stream.toDF().toDF("ts", "value"))
      .writeStream.format("memory").queryName("late_stream")
      .outputMode("append").start()
    try {
      // batch 1 advances the watermark to 11:20
      stream.addData(Seq(
        (ts("2024-01-01 10:00:00"), 1.0),
        (ts("2024-01-01 10:30:00"), 2.0),
        (ts("2024-01-01 11:30:00"), 4.0)))
      q.processAllAvailable()
      // batch 2: 10:05 is beyond the watermark (its window closed) → dropped;
      // 13:00 advances the watermark past 12:00 so both earlier windows emit
      stream.addData(Seq(
        (ts("2024-01-01 10:05:00"), 100.0),
        (ts("2024-01-01 13:00:00"), 16.0)))
      q.processAllAvailable()
      // one more tick so the second batch's watermark update finalizes 11:00
      stream.addData(Seq((ts("2024-01-01 15:00:00"), 32.0)))
      q.processAllAvailable()
    } finally q.stop()

    val emitted = spark.table("late_stream")
      .collect().map(r => r.getTimestamp(0).toString -> r.getDouble(1)).toMap
    assert(emitted("2024-01-01 10:00:00.0") === 3.0,
      s"late 10:05 row must be dropped, got $emitted")
    assert(emitted("2024-01-01 11:00:00.0") === 4.0)
  }

  test("streamed session windows equal the batch session aggregation on replay") {
    implicit val ctx = spark.sqlContext
    val rows = Seq(
      (ts("2024-01-01 10:00:00"), "u1", 1.0),
      (ts("2024-01-01 10:10:00"), "u1", 2.0),  // same session (gap 10m)
      (ts("2024-01-01 11:30:00"), "u1", 4.0),  // new session (gap 80m)
      (ts("2024-01-01 10:05:00"), "u2", 8.0))
    val stream = MemoryStream[(Timestamp, String, Double)]
    val q = stream.toDF().toDF("ts", "user_id", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("sum_value"))
      .writeStream.format("memory").queryName("session_stream")
      .outputMode("append").start()
    try {
      stream.addData(rows)
      q.processAllAvailable()
      // flush far past every session so the watermark finalizes them all
      stream.addData(Seq((ts("2024-01-03 00:00:00"), "uF", 0.0)))
      q.processAllAvailable()
      stream.addData(Seq((ts("2024-01-04 00:00:00"), "uF", 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("session_stream")
      .filter(col("user_id") =!= "uF")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString, r.getDouble(2)))
      .toSet
    val batch = rows.toDF("ts", "user_id", "value")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("sum_value"))
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString, r.getDouble(2)))
      .toSet
    assert(streamed === batch)
    assert(batch.size === 3, "fixture must produce 3 sessions")
  }

  test("dedupStream drops duplicate ids arriving within the watermark") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String)]
    val q = StreamingEvents.dedupStream(
      stream.toDF().toDF("ts", "event_id"), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      stream.addData(Seq(
        (ts("2024-01-01 10:00:00"), "a"),
        (ts("2024-01-01 10:01:00"), "a"), // dup within watermark
        (ts("2024-01-01 10:02:00"), "b")))
      q.processAllAvailable()
      stream.addData(Seq((ts("2024-01-01 10:03:00"), "b"))) // dup, later batch
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_stream").collect().map(_.getString(1)).sorted
    assert(ids.toSeq === Seq("a", "b"), "each id must survive exactly once")
  }

  test("continuous MAPE: partial store replay equals the batch pipeline") {
    implicit val ctx = spark.sqlContext
    val storeDir = s"${tmpDir("graft-mape-store")}/partials"
    val ckpt = tmpDir("graft-mape-ckpt")
    val rows = Seq(
      ("2024-01-01", 0, 10.0, 9.0, 8.0),
      ("2024-01-01", 0, 5.0, 6.0, 7.0),   // same hour, later batch
      ("2024-01-01", 1, 30.0, 28.0, 32.0),
      ("2024-01-02", 0, 5.0, 6.0, 4.0))
    val stream = MemoryStream[(String, Int, Double, Double, Double)]
    val q = graft.streaming.StreamingEvents.mapePartialsSink(
      stream.toDF().toDF("proxy_date", "hour", "forecast", "backcast", "settlement"),
      storeDir, ckpt)
    try {
      stream.addData(rows.take(2))
      q.processAllAvailable()
      stream.addData(rows.drop(2))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = graft.streaming.StreamingEvents.mapeFromPartials(spark, storeDir)
      .orderBy("proxy_date").collect().map(_.toString).toSeq
    val batch = graft.operators.Mape.dailyMapeAggregation(
      graft.operators.Mape.hourlyAggregation(
        rows.toDF("proxy_date", "hour", "forecast", "backcast", "settlement")))
      .orderBy("proxy_date").collect().map(_.toString).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // the store is partitioned by batch provenance (idempotent replays)
    assert(new java.io.File(s"$storeDir").listFiles()
      .count(_.getName.startsWith("batch_id=")) === 2)
  }

  test("continuous ZONAL MAPE: partial store replay equals batch q33 semantics") {
    implicit val ctx = spark.sqlContext
    val storeDir = s"${tmpDir("graft-zmape-store")}/partials"
    val ckpt = tmpDir("graft-zmape-ckpt")
    val rows = Seq(
      ("2024-01-01", 0, "east", 10.0, 9.0, 8.0),
      ("2024-01-01", 0, "east", 5.0, 6.0, 7.0),   // same (hour, zone), later batch
      ("2024-01-01", 0, "west", 20.0, 22.0, 18.0),
      ("2024-01-01", 1, "west", 30.0, 28.0, 32.0),
      ("2024-01-02", 0, "east", 5.0, 6.0, 4.0))
    val stream = MemoryStream[(String, Int, String, Double, Double, Double)]
    val q = graft.streaming.StreamingEvents.mapePartialsSink(
      stream.toDF().toDF("proxy_date", "hour", "zone",
        "forecast", "backcast", "settlement"),
      storeDir, ckpt, zone = true)
    try {
      stream.addData(rows.take(3))
      q.processAllAvailable()
      stream.addData(rows.drop(3))
      q.processAllAvailable()
    } finally q.stop()

    val streamed = graft.streaming.StreamingEvents
      .mapeFromPartials(spark, storeDir, zone = true)
      .orderBy("proxy_date").collect().map(_.toString).toSeq
    val batch = graft.operators.Mape.dailyMapeAggregation(
      graft.operators.Mape.hourlyAggregation(
        rows.toDF("proxy_date", "hour", "zone",
          "forecast", "backcast", "settlement"), zone = true), zone = true)
      .orderBy("proxy_date").collect().map(_.toString).toSeq
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // zonal output is the pivoted wide shape (metric_zone columns)
    val cols = graft.streaming.StreamingEvents
      .mapeFromPartials(spark, storeDir, zone = true).columns
    assert(cols.contains("forecast_mape_east") && cols.contains("forecast_mape_west"),
      s"expected pivoted zonal columns, got ${cols.mkString(",")}")
  }

  test("flatMapGroupsWithState near-dup candidates: stream equals batch LSH") {
    implicit val ctx = spark.sqlContext
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
      (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup
      (4L, "completely different text with nothing shared here at all"),
      (5L, "another unrelated document about spark query engines"))
    val stream = MemoryStream[(Long, String)]
    val q = StreamingEvents.streamingNearDupCandidates(
        stream.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("neardup_stream")
      .outputMode("append").start()
    try {
      stream.addData(docs.take(1))
      q.processAllAvailable()
      stream.addData(docs.drop(1)) // doc 3, the exact dup of 1, arrives LATER
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("neardup_stream")
      .select("i", "j").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch oracle: the banded LSH candidate generator over the same docs
    val batch = graft.operators.Dedup.minhashCandidates(
        graft.operators.Dedup.minhashSignatures(
          docs.toDF("doc_id", "text")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch, s"stream $streamed vs batch $batch")
    // (1, 3) is an exact dup split ACROSS batches: finding it proves the
    // bucket state carried doc 1's signature into batch 2 — guaranteed,
    // since identical signatures share every band bucket
    assert(streamed.contains((1L, 3L)), "cross-batch state must pair exact dups")
    // estimated jaccard of an exact dup is 1.0 on every emission
    val est13 = spark.table("neardup_stream")
      .filter(col("i") === 1L && col("j") === 3L)
      .select("est_jaccard").collect().map(_.getDouble(0))
    assert(est13.nonEmpty && est13.forall(_ === 1.0))
  }

  test("gap alerts: a silent series alerts once in event time; active series stay quiet") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String)]
    val q = StreamingEvents.streamingGapAlerts(
        stream.toDF().toDF("ts", "series"),
        seriesCol = "series", gap = "15 minutes", watermark = "10 minutes")
      .writeStream.format("memory").queryName("gap_alerts")
      .outputMode("append").start()
    try {
      // batch 1: both series alive at 10:00
      stream.addData(Seq(
        (ts("2024-01-01 10:00:00"), "a"),
        (ts("2024-01-01 10:00:00"), "b")))
      q.processAllAvailable()
      // batch 2: only b keeps flowing; its 10:40 event moves the watermark
      // to 10:30, past a's 10:15 timeout
      stream.addData(Seq((ts("2024-01-01 10:40:00"), "b")))
      q.processAllAvailable()
      // batch 3: timeouts fire against the watermark computed at the END of
      // the previous batch — one more tick delivers a's alert; b re-armed
      // at 10:55 stays quiet (watermark 10:50)
      stream.addData(Seq((ts("2024-01-01 11:00:00"), "b")))
      q.processAllAvailable()
    } finally q.stop()
    val alerts = spark.table("gap_alerts")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString)).toSet
    assert(alerts === Set(("a", "2024-01-01 10:00:00.0")),
      s"expected exactly one alert for the silent series, got $alerts")
  }

  test("stream-stream interval join equals the batch interval join on replay") {
    implicit val ctx = spark.sqlContext
    val imps = Seq(
      (ts("2024-01-01 10:00:00"), "u1", "i1"),
      (ts("2024-01-01 10:40:00"), "u1", "i2"),
      (ts("2024-01-01 10:00:00"), "u2", "i3"),
      (ts("2024-01-01 12:00:00"), "u3", "i4"))
    val clicks = Seq(
      (ts("2024-01-01 10:10:00"), "u1", "c1"), // i1 +10m (and NOT i2: before it)
      (ts("2024-01-01 10:50:00"), "u1", "c2"), // i2 +10m; i1 +50m > 30m bound
      (ts("2024-01-01 11:00:00"), "u2", "c3"), // i3 +60m → no partner
      (ts("2024-01-01 12:05:00"), "u3", "c4")) // i4 +5m
    val li = MemoryStream[(Timestamp, String, String)]
    val rc = MemoryStream[(Timestamp, String, String)]
    li.addData(imps); rc.addData(clicks)
    val q = StreamingEvents.correlateStreams(
        li.toDF().toDF("ts", "user", "imp_id"),
        rc.toDF().toDF("ts", "user", "click_id"), keyCol = "user")
      .writeStream.format("memory").queryName("ss_join")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ss_join")
      .select("user", "l_imp_id", "r_click_id")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // the batch interval join of the same bounded frames is the oracle
    val batch = imps.toDF("lts", "user", "imp").join(
        clicks.toDF("rts", "cu", "click"),
        col("user") === col("cu") && col("rts") >= col("lts") &&
          col("rts") <= col("lts") + expr("INTERVAL 30 minutes"))
      .select("user", "imp", "click")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(streamed === batch)
    assert(streamed === Set(("u1", "i1", "c1"), ("u1", "i2", "c2"),
      ("u3", "i4", "c4")))
  }

  test("streaming as-of join: multi-batch out-of-order replay equals the " +
       "batch asofJoin, with and without tolerance") {
    implicit val ctx = spark.sqlContext
    // probes (ts, key, pid) and state (ts, key, v); pid3/pid10 precede any
    // state for their key, pid2 ties a state row exactly (inclusive)
    val probeRows = Seq(
      (ts("2024-01-01 09:50:00"), "A", 3L),
      (ts("2024-01-01 10:15:00"), "A", 1L),
      (ts("2024-01-01 10:30:00"), "A", 2L),
      (ts("2024-01-01 11:30:00"), "A", 4L),
      (ts("2024-01-01 10:10:00"), "B", 10L),
      (ts("2024-01-01 12:00:00"), "B", 11L))
    val stateRows = Seq(
      (ts("2024-01-01 10:00:00"), "A", 1.0),
      (ts("2024-01-01 10:30:00"), "A", 2.0),
      (ts("2024-01-01 11:10:00"), "A", 3.0),
      (ts("2024-01-01 10:25:00"), "B", 5.0),
      // far-future sentinel on an otherwise probe-less key: advances the
      // GLOBAL watermark so every armed event-time timeout fires
      (ts("2024-01-01 13:00:00"), "C", 9.0))
    def run(tolMs: Option[Long], sink: String): Set[(String, Timestamp, Long,
        Option[Timestamp], Option[Double])] = {
      val ps = MemoryStream[(Timestamp, String, Long)]
      val ss = MemoryStream[(Timestamp, String, Double)]
      val q = StreamingEvents.asofStream(
          ps.toDF().toDF("ts", "key", "pid"),
          ss.toDF().toDF("ts", "key", "v"),
          toleranceMs = tolMs)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        // four micro-batches; each batch's arrivals stay at-or-after the
        // watermark the previous batch set, so nothing here is "late"
        ps.addData(Seq(probeRows(0), probeRows(1), probeRows(4)))
        ss.addData(Seq(stateRows(0), stateRows(1)))
        q.processAllAvailable()
        ps.addData(Seq(probeRows(2)))
        ss.addData(Seq(stateRows(3), stateRows(2)))
        q.processAllAvailable()
        ps.addData(Seq(probeRows(3), probeRows(5)))
        q.processAllAvailable()
        ss.addData(Seq(stateRows(4)))
        q.processAllAvailable()
      } finally q.stop()
      spark.table(sink).collect().map(r => (r.getString(0),
        r.getTimestamp(1), r.getLong(2), Option(r.getTimestamp(3)),
        Option(r.get(4)).map(_.asInstanceOf[Double]))).toSet
    }
    def batchOracle(tol: Option[String]): Set[(String, Timestamp, Long,
        Option[Timestamp], Option[Double])] =
      graft.operators.AsofJoin.asofJoin(
          probeRows.toDF("ts", "key", "pid"),
          stateRows.toDF("ts", "key", "v"),
          Seq("key"), "ts", "ts", Seq("v"), tolerance = tol)
        .collect().map(r => (r.getString(1), r.getTimestamp(0), r.getLong(2),
          Option(r.getTimestamp(3)),
          Option(r.get(4)).map(_.asInstanceOf[Double]))).toSet
    val streamed = run(None, "asof_stream")
    assert(streamed === batchOracle(None))
    assert(streamed === Set(
      ("A", ts("2024-01-01 09:50:00"), 3L, None, None),
      ("A", ts("2024-01-01 10:15:00"), 1L,
        Some(ts("2024-01-01 10:00:00")), Some(1.0)),
      ("A", ts("2024-01-01 10:30:00"), 2L,
        Some(ts("2024-01-01 10:30:00")), Some(2.0)),
      ("A", ts("2024-01-01 11:30:00"), 4L,
        Some(ts("2024-01-01 11:10:00")), Some(3.0)),
      ("B", ts("2024-01-01 10:10:00"), 10L, None, None),
      ("B", ts("2024-01-01 12:00:00"), 11L,
        Some(ts("2024-01-01 10:25:00")), Some(5.0))))
    // tolerance bounds staleness on both engines identically (20 minutes:
    // pid4's 20-minute-old state row is exactly at the bound — kept;
    // pid11's 95-minute-old one is gone)
    val streamedTol = run(Some(20L * 60 * 1000), "asof_stream_tol")
    assert(streamedTol === batchOracle(Some("20 minutes")))
    assert(streamedTol.contains(("B", ts("2024-01-01 12:00:00"), 11L,
      None, None)))
    assert(streamedTol.contains(("A", ts("2024-01-01 11:30:00"), 4L,
      Some(ts("2024-01-01 11:10:00")), Some(3.0))))

    // FORWARD direction over the same data: earliest state at-or-after
    // within the (required) tolerance, replay equals the batch forward
    val pf = MemoryStream[(Timestamp, String, Long)]
    val sf = MemoryStream[(Timestamp, String, Double)]
    val qf = StreamingEvents.asofStreamForward(
        pf.toDF().toDF("ts", "key", "pid"),
        sf.toDF().toDF("ts", "key", "v"),
        toleranceMs = 20L * 60 * 1000)
      .writeStream.format("memory").queryName("asof_stream_fwd")
      .outputMode("append").start()
    try {
      pf.addData(Seq(probeRows(0), probeRows(1), probeRows(4)))
      sf.addData(Seq(stateRows(0), stateRows(1)))
      qf.processAllAvailable()
      pf.addData(Seq(probeRows(2)))
      sf.addData(Seq(stateRows(3), stateRows(2)))
      qf.processAllAvailable()
      pf.addData(Seq(probeRows(3), probeRows(5)))
      qf.processAllAvailable()
      sf.addData(Seq(stateRows(4)))
      qf.processAllAvailable()
    } finally qf.stop()
    val streamedFwd = spark.table("asof_stream_fwd")
      .collect().map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2),
        Option(r.getTimestamp(3)),
        Option(r.get(4)).map(_.asInstanceOf[Double]))).toSet
    val batchFwd = graft.operators.AsofJoin.asofJoin(
        probeRows.toDF("ts", "key", "pid"),
        stateRows.toDF("ts", "key", "v"),
        Seq("key"), "ts", "ts", Seq("v"),
        tolerance = Some("20 minutes"), direction = "forward")
      .collect().map(r => (r.getString(1), r.getTimestamp(0), r.getLong(2),
        Option(r.getTimestamp(3)),
        Option(r.get(4)).map(_.asInstanceOf[Double]))).toSet
    assert(streamedFwd === batchFwd)
    // spot pins: pid3 (09:50) catches 10:00 ahead of it; pid2 matches its
    // own instant (inclusive); pid4 finds nothing within 20 minutes ahead
    assert(streamedFwd.contains(("A", ts("2024-01-01 09:50:00"), 3L,
      Some(ts("2024-01-01 10:00:00")), Some(1.0))))
    assert(streamedFwd.contains(("A", ts("2024-01-01 10:30:00"), 2L,
      Some(ts("2024-01-01 10:30:00")), Some(2.0))))
    assert(streamedFwd.contains(("A", ts("2024-01-01 11:30:00"), 4L,
      None, None)))
  }

  test("stream-stream LEFT OUTER interval join emits unmatched lefts after " +
       "the watermark closes their window") {
    implicit val ctx = spark.sqlContext
    val li = MemoryStream[(Timestamp, String, String)]
    val rc = MemoryStream[(Timestamp, String, String)]
    val q = StreamingEvents.correlateStreams(
        li.toDF().toDF("ts", "user", "imp_id"),
        rc.toDF().toDF("ts", "user", "click_id"),
        keyCol = "user", joinType = "left_outer")
      .writeStream.format("memory").queryName("ss_left")
      .outputMode("append").start()
    try {
      li.addData(Seq(
        (ts("2024-01-01 10:00:00"), "u1", "i1"),   // will match
        (ts("2024-01-01 10:00:00"), "u2", "i2")))  // never matches
      rc.addData(Seq((ts("2024-01-01 10:10:00"), "u1", "c1")))
      q.processAllAvailable()
      // push both watermarks far past 10:30 so u2's window provably closed
      li.addData(Seq((ts("2024-01-01 13:00:00"), "u9", "i9")))
      rc.addData(Seq((ts("2024-01-01 13:00:00"), "u9", "c9")))
      q.processAllAvailable()
      li.addData(Seq((ts("2024-01-01 15:00:00"), "u9", "i10")))
      rc.addData(Seq((ts("2024-01-01 15:00:00"), "u9", "c10")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ss_left")
      .select("user", "l_imp_id", "r_click_id")
      .collect().map(r => (r.getString(0), r.getString(1),
        Option(r.getString(2)).orNull)).toSet
    assert(rows.contains(("u1", "i1", "c1")), s"inner match missing: $rows")
    assert(rows.contains(("u2", "i2", null)),
      s"unmatched left must emit with null right after watermark: $rows")
  }

  test("gap alerts: late rows behind the watermark are dropped; the query survives") {
    // Spark 4.1 filters flatMapGroupsWithState input with the CURRENT
    // watermark, so a 12:00 row arriving after the watermark reached 13:50
    // is dropped — the silent series still alerts once, with its last
    // ACCEPTED event, and the (defensively clamped — see the operator's
    // re-arm comment) query keeps running through the whole sequence
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String)]
    val q = StreamingEvents.streamingGapAlerts(
        stream.toDF().toDF("ts", "series"),
        seriesCol = "series", gap = "15 minutes", watermark = "10 minutes")
      .writeStream.format("memory").queryName("gap_alerts_late")
      .outputMode("append").start()
    try {
      stream.addData(Seq((ts("2024-01-01 10:00:00"), "a"),
        (ts("2024-01-01 10:00:00"), "b")))
      q.processAllAvailable()
      // b catches up to 14:00 → watermark 13:50 next batch
      stream.addData(Seq((ts("2024-01-01 14:00:00"), "b")))
      q.processAllAvailable()
      // a's 12:00 row is now behind the 13:50 watermark → dropped as late;
      // a's 10:15 timeout is also past due → alert fires this batch
      stream.addData(Seq((ts("2024-01-01 12:00:00"), "a")))
      q.processAllAvailable()
      stream.addData(Seq((ts("2024-01-01 16:00:00"), "b")))
      q.processAllAvailable()
      stream.addData(Seq((ts("2024-01-01 17:00:00"), "b")))
      q.processAllAvailable()
    } finally q.stop()
    val alerts = spark.table("gap_alerts_late")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString)).toList
    assert(alerts === List(("a", "2024-01-01 10:00:00.0")),
      s"dropped late row must not resurrect the series; one alert at its " +
        s"last accepted event, got $alerts")
  }

  test("near-dup idleTimeout evicts idle band buckets (opt-in state expiry)") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = StreamingEvents.streamingNearDupCandidates(
        stream.toDF().toDF("doc_id", "text"),
        idleTimeout = Some("50 milliseconds"))
      .writeStream.format("memory").queryName("neardup_evict")
      .outputMode("append").start()
    try {
      stream.addData(Seq((1L, "the quick brown fox jumps over the lazy dog")))
      // a processing-time timeout makes the engine schedule extra no-data
      // batches to fire expirations (why idleTimeout is opt-in) — here
      // that is the test harness: poll the state-operator metrics until
      // the doc's idle band buckets are removed, the positive proof that
      // expiry actually frees state rather than leaking forever
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def evicted = q.recentProgress
        .exists(_.stateOperators.exists(_.numRowsRemoved > 0))
      while (!evicted && System.nanoTime() < deadline) Thread.sleep(50)
      assert(evicted, "idle band-bucket state was never removed")
    } finally q.stop()
  }

  test("foreachBatch pseudonymizing sink: stable identity across micro-batches") {
    implicit val ctx = spark.sqlContext
    val keyDir = tmpDir("graft-stream-key")
    val outDir = s"${tmpDir("graft-stream-out")}/rows"
    val ckpt = tmpDir("graft-stream-ckpt")
    val stream = MemoryStream[String]
    val q = StreamingEvents.pseudonymizeStream(
      stream.toDF().toDF("uid"), "uid", keyDir, outDir, ckpt)
    try {
      stream.addData(Seq("u1", "u2"))
      q.processAllAvailable()
      stream.addData(Seq("u2", "u3")) // u2 again: must reuse its pseudonym
      q.processAllAvailable()
    } finally q.stop()

    val out = spark.read.parquet(outDir).select("uid").as[String].collect()
    assert(out.length === 4)
    assert(out.toSet.size === 3, "u2 must keep one pseudonym across batches")
    assert(out.forall(_.matches("[0-9a-f]{10}")))
    // and the streaming key table equals what the batch operator would build
    val expected = graft.functions.Blake2b.hexDigest("u2".getBytes("UTF-8"), 5)
    assert(out.toSet.contains(expected), "streaming pseudonyms = batch blake2b")
  }

  test("streaming heavy hitters: exact regime equals the batch aggregate across batches") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(String, String)]
    val q = StreamingEvents.streamingHeavyHitters(
        stream.toDF().toDF("g", "item"), "g", "item", k = 8)
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode("update").start()
    val batch1 = Seq("g1" -> "a", "g1" -> "a", "g1" -> "b", "g2" -> "x")
    val batch2 = Seq("g1" -> "a", "g1" -> "c", "g2" -> "x", "g2" -> "y")
    try {
      stream.addData(batch1)
      q.processAllAvailable()
      stream.addData(batch2)
      q.processAllAvailable()
    } finally q.stop()

    // last update per group = the running summary over batch1 ++ batch2;
    // distinct ≤ k, so counts are exact and must equal a plain groupBy
    val last = spark.table("hh_stream")
      .groupBy("group").agg(max(struct(col("n"), col("hitters"))).as("s"))
      .select(col("group"), col("s.n"), col("s.hitters")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getSeq[org.apache.spark.sql.Row](2)
          .map(x => x.getString(0) -> x.getLong(1))))).toMap
    assert(last("g1") === ((5L, Seq("a" -> 3L, "b" -> 1L, "c" -> 1L))))
    assert(last("g2") === ((3L, Seq("x" -> 2L, "y" -> 1L))))
  }

  test("streaming heavy hitters: capacity bound holds and hot item survives") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(String, String)]
    val q = StreamingEvents.streamingHeavyHitters(
        stream.toDF().toDF("g", "item"), "g", "item", k = 2)
      .writeStream.format("memory").queryName("hh_tight")
      .outputMode("update").start()
    // 12 of "hot", 9 distinct one-off items: any item with frequency
    // > n/(k+1) = 21/3 = 7 is guaranteed tracked
    val items = Seq.fill(12)("hot") ++ (1 to 9).map(i => s"rare$i")
    try {
      stream.addData(items.map("g" -> _))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("hh_tight").orderBy(col("n").desc).head()
    val hitters = rows.getSeq[org.apache.spark.sql.Row](2)
      .map(x => x.getString(0) -> x.getLong(1))
    assert(hitters.size <= 2, s"state must stay bounded by k: $hitters")
    assert(hitters.exists(_._1 === "hot"), s"guaranteed hitter evicted: $hitters")
  }

  test("dedupAdmissionStream: streamed admission equals the batch-wise " +
       "incrementalDedup chain, with state folding forward per batch") {
    implicit val ctx = spark.sqlContext
    val stateDir = tmpDir("graft-admit-state")
    val outDir = s"${tmpDir("graft-admit-out")}/rows"
    val ckpt = tmpDir("graft-admit-ckpt")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five")).toDF("doc_id", "text")
    graft.operators.DedupState.build(spark, corpus, stateDir)
    val batch1 = Seq(
      (10L, "alpha beta gamma delta epsilon"), // exact dup of corpus doc 1
      (12L, "six seven eight nine ten"))       // novel → admitted
    val batch2 = Seq(
      (20L, "six seven eight nine ten eleven"), // near-dup of ADMITTED 12
      (21L, "totally different words here now"),
      (22L, "totally different words here now")) // exact dup inside batch
    val stream = MemoryStream[(Long, String)]
    val q = StreamingEvents.dedupAdmissionStream(
      stream.toDF().toDF("doc_id", "text"), stateDir, outDir, ckpt,
      threshold = 0.5)
    try {
      stream.addData(batch1)
      q.processAllAvailable()
      stream.addData(batch2)
      q.processAllAvailable()
    } finally q.stop()

    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val streamed = key(spark.read.parquet(outDir)
      .select("doc_id", "text", "dup_count"))
    // batch oracle: admit batch 1 against the corpus, fold survivors in,
    // admit batch 2 against the grown corpus
    val b1 = batch1.toDF("doc_id", "text")
    val b2 = batch2.toDF("doc_id", "text")
    val kept1 = graft.operators.Dedup.incrementalDedup(corpus, b1, threshold = 0.5)
    val corpus2 = corpus.unionByName(kept1.select("doc_id", "text"))
    val kept2 = graft.operators.Dedup.incrementalDedup(corpus2, b2, threshold = 0.5)
    val expected = key(kept1) ++ key(kept2)
    CacheRegistry.releaseAll()
    assert(streamed === expected)
    // the construction exercised every admission arm
    assert(expected.map(_._1) === Set(12L, 21L),
      "exact dup, near-dup-of-admitted, and in-batch dup must all drop")
    assert(expected.exists(e => e._1 === 21L && e._3 === 2L),
      "in-batch exact dups collapse into the representative's dup_count")
    // the folded store now holds everything admitted: doc 20 still
    // near-dups against it from a COLD load of the latest generation
    val finalStore = graft.operators.DedupState.load(spark, stateDir)
    assert(finalStore.gen === 2L, "two admitted batches = generation 2")
    val again = graft.operators.DedupState.incrementalDedup(
      finalStore, Seq((30L, "six seven eight nine ten eleven"))
        .toDF("doc_id", "text"), threshold = 0.5)
    val againKept = again.collect()
    CacheRegistry.releaseAll()
    assert(againKept.isEmpty, "admitted docs must block future near-dups")
  }

  test("embeddingAdmissionStream: streamed vector admission equals the " +
       "batch-wise incrementalAdmit chain over the epoch store") {
    implicit val ctx = spark.sqlContext
    import graft.operators.EmbeddingStore
    val stateDir = tmpDir("graft-eadmit-state")
    val outDir = s"${tmpDir("graft-eadmit-out")}/rows"
    val ckpt = tmpDir("graft-eadmit-ckpt")
    def vecsDf(rows: (Long, Array[Float])*) =
      rows.toDF("vec_id", "embedding")
    val corpus = vecsDf(
      1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(0f, 1f, 0f, 0f))
    EmbeddingStore.build(spark, corpus, stateDir, k = 2, iters = 2)
    val batch1 = Seq(
      10L -> Array(0.98f, 0.1f, 0f, 0f), // same cell + cos≈0.995 vs corpus 1
      11L -> Array(0f, 0f, 1f, 0f))      // novel direction
    val batch2 = Seq(
      20L -> Array(0f, 0f, 0f, 1f),      // novel
      21L -> Array(0f, 0f, 0f, 0.99f))   // same-cell near-dup of 20 in-batch
    val stream = MemoryStream[(Long, Array[Float])]
    val q = StreamingEvents.embeddingAdmissionStream(
      stream.toDF().toDF("vec_id", "embedding"), stateDir, outDir, ckpt,
      threshold = 0.9)
    try {
      stream.addData(batch1)
      q.processAllAvailable()
      stream.addData(batch2)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.read.parquet(outDir).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    // batch oracle: the same chain, batch-wise
    val s0 = EmbeddingStore.loadAt(spark, stateDir, 0L)
    val kept1 = EmbeddingStore.incrementalAdmit(s0, vecsDf(batch1: _*), 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    CacheRegistry.releaseAll()
    val s1 = EmbeddingStore.loadAt(spark, stateDir, 1L)
    val kept2 = EmbeddingStore.incrementalAdmit(s1, vecsDf(batch2: _*), 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    CacheRegistry.releaseAll()
    assert(streamed === (kept1 ++ kept2))
    // the construction's hand-checkable arms: the corpus near-dup dropped,
    // the novel direction admitted, the in-batch near-dup collapsed
    assert(!streamed.contains(10L), "corpus near-dup must be dropped")
    assert(streamed.contains(11L))
    assert(streamed.contains(20L) && !streamed.contains(21L),
      "smaller-id batch vector wins its cell")
    // final epoch holds everything admitted
    assert(EmbeddingStore.load(spark, stateDir).epoch === 2L)
  }

  test("hnswGeoAdmissionStream: streamed geo-routed admission equals the " +
       "batch-wise admit chain bitwise; delta epochs are batch-sized; " +
       "compaction folds to one base by warm insertion") {
    implicit val ctx = spark.sqlContext
    import graft.operators.{HnswGeoStore, IVF}
    val stateDir = tmpDir("graft-geoadmit-state")
    val chainDir = tmpDir("graft-geoadmit-chain")
    val outDir = s"${tmpDir("graft-geoadmit-out")}/rows"
    val ckpt = tmpDir("graft-geoadmit-ckpt")
    def vecsDf(rows: (Long, Array[Float])*) =
      rows.toDF("vec_id", "embedding")
    val seed = vecsDf(
      1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(0f, 1f, 0f, 0f))
    val index = IVF.train(seed, k = 2, iters = 2)
    HnswGeoStore.build(spark, seed, stateDir, index)
    val batch1 = Seq(
      10L -> Array(0.98f, 0.1f, 0f, 0f), // routed-search dup of stored 1
      11L -> Array(0f, 0f, 1f, 0f))      // novel
    val batch2 = Seq(
      20L -> Array(0f, 0f, 0f, 1f),      // novel
      21L -> Array(0f, 0f, 0f, 0.99f))   // in-batch dup of 20
    val stream = MemoryStream[(Long, Array[Float])]
    val q = StreamingEvents.hnswGeoAdmissionStream(
      stream.toDF().toDF("vec_id", "embedding"), stateDir, outDir, ckpt,
      threshold = 0.9, compactEvery = 2)
    try {
      stream.addData(batch1)
      q.processAllAvailable()
      stream.addData(batch2)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.read.parquet(outDir).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(streamed === Set(11L, 20L),
      "routed dup and in-batch dup drop; novels admit")
    // per-batch state cost is batch-sized: batch 0's delta epoch holds
    // ONLY its own kept row, never a store rewrite
    assert(spark.read.parquet(s"$stateDir/segments/epoch=1")
      .select("vec_id").as[Long].collect().toSeq === Seq(11L))
    val fin = HnswGeoStore.load(spark, stateDir)
    assert(fin.epoch === 2L && fin.baseEpoch === 2L)
    assert(fin.segments.select("vec_id").as[Long].collect().toSet ===
      Set(1L, 2L, 11L, 20L))
    // stream ≡ batch: the driver-side admit chain over the same batches
    // produces the bitwise-identical final store
    val chain = HnswGeoStore.build(spark, seed, chainDir, index)
    val (k1, chain1) = HnswGeoStore.admit(spark, chain,
      vecsDf(batch1: _*), 0.9)
    val (k2, chain2) = HnswGeoStore.admit(spark, chain1,
      vecsDf(batch2: _*), 0.9, asBase = true)
    assert((k1.select("vec_id").as[Long].collect().toSet ++
      k2.select("vec_id").as[Long].collect().toSet) === streamed)
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(dump(chain2.segments) === dump(fin.segments),
      "streamed store must equal the batch admit chain bitwise")
    // as-of reads still answer after compaction (conservative vacuum)
    assert(HnswGeoStore.loadAt(spark, stateDir, 0L).segments
      .select("vec_id").as[Long].collect().toSet === Set(1L, 2L))
    // and the compacted store serves routed queries
    assert(HnswGeoStore.neighbors(fin, Array(0.0, 0.0, 1.0, 0.0), 1,
        efSearch = 8)
      .select("vec_id").as[Long].head() === 11L)
    CacheRegistry.releaseAll()
  }

  test("hnswGeoAdmissionStream: an out-of-band retrain/compact between " +
       "runs SHIFTS the resumed stream's epoch allocation instead of " +
       "being overwritten (the persisted batch→epoch mapping)") {
    implicit val ctx = spark.sqlContext
    import graft.operators.{HnswGeoStore, IVF}
    val stateDir = tmpDir("graft-geooob-state")
    val outDir = s"${tmpDir("graft-geooob-out")}/rows"
    val ckpt = tmpDir("graft-geooob-ckpt")
    def vecsDf(rows: (Long, Array[Float])*) =
      rows.toDF("vec_id", "embedding")
    val seed = vecsDf(
      1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(0f, 1f, 0f, 0f))
    val index = IVF.train(seed, k = 2, iters = 2)
    HnswGeoStore.build(spark, seed, stateDir, index)
    val stream = MemoryStream[(Long, Array[Float])]
    val src = stream.toDF().toDF("vec_id", "embedding")
    val q1 = StreamingEvents.hnswGeoAdmissionStream(src, stateDir,
      outDir, ckpt, threshold = 0.9)
    try {
      stream.addData(Seq(11L -> Array(0f, 0f, 1f, 0f)))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(HnswGeoStore.load(spark, stateDir).epoch === 1L)
    // the documented between-runs lifecycle op: a compaction allocates
    // epoch 2 as a new base OUT OF BAND — a batchId-pinned sink's next
    // batch (batch 1 → epoch 2) would overwrite it and demote its marker
    val compacted = HnswGeoStore.compact(spark,
      HnswGeoStore.load(spark, stateDir))
    assert(compacted.baseEpoch === 2L)
    val q2 = StreamingEvents.hnswGeoAdmissionStream(src, stateDir,
      outDir, ckpt, threshold = 0.9)
    try {
      stream.addData(Seq(20L -> Array(0f, 0f, 0f, 1f)))
      q2.processAllAvailable()
    } finally q2.stop()
    val fin = HnswGeoStore.load(spark, stateDir)
    assert(fin.epoch === 3L && fin.baseEpoch === 2L,
      "the resumed batch must allocate PAST the out-of-band base, " +
        s"not overwrite it (epoch=${fin.epoch} base=${fin.baseEpoch})")
    assert(fin.segments.select("vec_id").as[Long].collect().toSet ===
      Set(1L, 2L, 11L, 20L))
    // the out-of-band base's commit marker survived undemoted
    assert(spark.read.parquet(s"$stateDir/commits/epoch=2")
      .select("is_base").as[Boolean].head(),
      "the out-of-band compaction's base marker must survive the resume")
    CacheRegistry.releaseAll()
  }

  test("geoAdmitBatch replay: an out-of-band base landing AT the " +
       "replay's own allocation fails loudly on the is_base marker " +
       "instead of overwriting it (ADVICE r14)") {
    import graft.operators.{HnswGeoStore, IVF}
    val stateDir = tmpDir("graft-geooobat-state")
    val outDir = s"${tmpDir("graft-geooobat-out")}/rows"
    val seed = Seq(
      1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(0f, 1f, 0f, 0f)).toDF("vec_id", "embedding")
    val index = IVF.train(seed, k = 2, iters = 2)
    HnswGeoStore.build(spark, seed, stateDir, index)
    // a crashed first attempt: the mapping landed, the epoch commit never
    // did — exactly the window the divergence guard exists for
    Seq(Tuple1(0L)).toDF("epoch").coalesce(1)
      .write.mode("overwrite")
      .parquet(s"$stateDir/stream_meta/batch_id=0")
    // ...and an out-of-band compaction races the replay, committing a
    // BASE at epoch 1 — the replay's own allocation
    HnswGeoStore.compact(spark, HnswGeoStore.load(spark, stateDir))
    val batch = Seq(11L -> Array(0f, 0f, 1f, 0f)).toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      StreamingEvents.geoAdmitBatch(batch, 0L, stateDir, outDir,
        threshold = 0.9, compactEvery = 0)
    }
    assert(ex.getMessage.contains("out-of-band"))
    // the out-of-band base survived undemoted
    assert(spark.read.parquet(s"$stateDir/commits/epoch=1")
      .select("is_base").as[Boolean].head())
    CacheRegistry.releaseAll()
  }

  test("dedupAdmissionStream: an out-of-band DedupState compact between " +
       "runs SHIFTS the resumed stream's generation allocation instead " +
       "of being overwritten (the persisted batch→gen mapping)") {
    implicit val ctx = spark.sqlContext
    import graft.operators.DedupState
    val stateDir = tmpDir("graft-dedupoob-state")
    val outDir = s"${tmpDir("graft-dedupoob-out")}/rows"
    val ckpt = tmpDir("graft-dedupoob-ckpt")
    val t1 = "the quick brown fox jumps over the lazy dog and then " +
      "the small cat walks along the river bank while a bird sings"
    val t2 = "a steady rain falls on the quiet town and the empty " +
      "streets shine under a pale lamp while the clock tower rings"
    val t3 = "the captain steers a small boat across the wide bay " +
      "and the morning wind pushes a torn sail toward the rocky shore"
    DedupState.build(spark, Seq(1L -> t1).toDF("doc_id", "text"), stateDir)
    val stream = MemoryStream[(Long, String)]
    val src = stream.toDF().toDF("doc_id", "text")
    val q1 = StreamingEvents.dedupAdmissionStream(src, stateDir, outDir,
      ckpt, threshold = 0.8)
    try {
      stream.addData(Seq(2L -> t2))
      q1.processAllAvailable()
    } finally q1.stop()
    assert(DedupState.load(spark, stateDir).gen === 1L)
    // out-of-band lifecycle op between runs: a compaction commits gen 2
    // as a base — a batchId-pinned sink's next batch (batch 1 → gen 2)
    // would overwrite it and demote its marker
    DedupState.compact(spark, DedupState.load(spark, stateDir))
    assert(DedupState.load(spark, stateDir).gen === 2L)
    val q2 = StreamingEvents.dedupAdmissionStream(src, stateDir, outDir,
      ckpt, threshold = 0.8)
    try {
      stream.addData(Seq(3L -> t3))
      q2.processAllAvailable()
    } finally q2.stop()
    val fin = DedupState.load(spark, stateDir)
    assert(fin.gen === 3L,
      "the resumed batch must allocate PAST the out-of-band base " +
        s"(gen=${fin.gen})")
    // the out-of-band base's marker survived undemoted, and all three
    // docs' fingerprints are live
    val (isBase, writer) = StoreCommits.read(spark, stateDir, "gen=2")
    assert(isBase && writer === "lifecycle")
    assert(fin.fingerprints.count() === 3L)
    CacheRegistry.releaseAll()
  }

  test("dedupAdmitBatch replay: an out-of-band compact landing AT the " +
       "replay's own allocation fails loudly on writer identity, the " +
       "out-of-band base undemoted") {
    import graft.operators.DedupState
    val stateDir = tmpDir("graft-dedupwriter-state")
    val outDir = s"${tmpDir("graft-dedupwriter-out")}/rows"
    val t1 = "the quick brown fox jumps over the lazy dog and then " +
      "the small cat walks along the river bank while a bird sings"
    DedupState.build(spark, Seq(1L -> t1).toDF("doc_id", "text"), stateDir)
    // a crashed first attempt: the mapping landed, the generation commit
    // never did
    Seq(Tuple1(0L)).toDF("gen").coalesce(1)
      .write.mode("overwrite")
      .parquet(s"$stateDir/stream_meta/batch_id=0")
    // ...and an out-of-band compaction races the replay, committing a
    // BASE at gen 1 — the replay's own allocation
    DedupState.compact(spark, DedupState.load(spark, stateDir))
    val batch = Seq(2L -> ("a steady rain falls on the quiet town and " +
      "the empty streets shine under a pale lamp while the clock rings"))
      .toDF("doc_id", "text")
    val ex = intercept[IllegalArgumentException] {
      StreamingEvents.dedupAdmitBatch(batch, 0L, stateDir, outDir,
        threshold = 0.8, compactEvery = 0)
    }
    assert(ex.getMessage.contains("out-of-band"))
    val (isBase, writer) = StoreCommits.read(spark, stateDir, "gen=1")
    assert(isBase && writer === "lifecycle")
    CacheRegistry.releaseAll()
  }

  test("geoAdmitBatch re-pin: a committed batch replayed after its " +
       "stream_meta mapping was cleared pins the pre-state before its own " +
       "commit (writer tag) — not the post-batch state that would empty " +
       "the output") {
    import graft.operators.{HnswGeoStore, IVF}
    val stateDir = tmpDir("graft-georepin-state")
    val outDir = s"${tmpDir("graft-georepin-out")}/rows"
    val seed = Seq(
      1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(0f, 1f, 0f, 0f)).toDF("vec_id", "embedding")
    val index = IVF.train(seed, k = 2, iters = 2)
    HnswGeoStore.build(spark, seed, stateDir, index)
    // batch 0 commits epoch 1 normally...
    val batch = Seq(11L -> Array(0f, 0f, 1f, 0f)).toDF("vec_id", "embedding")
    StreamingEvents.geoAdmitBatch(batch, 0L, stateDir, outDir,
      threshold = 0.9, compactEvery = 0)
    // ...then its mapping is cleared (the guards' "clear stream_meta to
    // re-pin" remedy) and the checkpoint replays it
    val meta = new org.apache.hadoop.fs.Path(s"$stateDir/stream_meta/batch_id=0")
    meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(meta, true)
    // pinning to latest (epoch 1) would see id 11 already stored, admit
    // nothing, and overwrite the output with an empty partition — the
    // marker at epoch 1 carries this batch's tag, so epoch 0 is pinned
    StreamingEvents.geoAdmitBatch(batch, 0L, stateDir, outDir,
      threshold = 0.9, compactEvery = 0)
    assert(spark.read.parquet(s"$outDir/batch_id=0")
      .select("vec_id").as[Long].collect().toSet === Set(11L),
      "the replayed batch's output must contain its own admitted rows")
    assert(spark.read.parquet(s"$stateDir/stream_meta/batch_id=0")
      .select("epoch").as[Long].head() === 0L)
    val fin = HnswGeoStore.load(spark, stateDir)
    assert(fin.epoch === 1L)
    assert(fin.segments.select("vec_id").as[Long].collect().toSet ===
      Set(1L, 2L, 11L))
    CacheRegistry.releaseAll()
  }

  test("streaming erasure (geo): streamed delete ≡ the batch-wise " +
       "delete chain bitwise, replays are idempotent, and an admission " +
       "stream interleaves without losing a batch or resurrecting an " +
       "erased doc") {
    import graft.operators.{HnswGeoStore, IVF}
    val stateA = tmpDir("graft-geoers-a")
    val stateB = tmpDir("graft-geoers-b")
    val outAdm = s"${tmpDir("graft-geoers-adm")}/rows"
    val outErs = s"${tmpDir("graft-geoers-ers")}/rows"
    val seed = Seq(
      1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(0f, 1f, 0f, 0f),
      3L -> Array(0f, 0f, 1f, 0f)).toDF("vec_id", "embedding")
    val index = IVF.train(seed, k = 2, iters = 2)
    HnswGeoStore.build(spark, seed, stateA, index)
    var sb = HnswGeoStore.build(spark, seed, stateB, index)
    val b0 = Seq(11L -> Array(0f, 0f, 0f, 1f),
      12L -> Array(0.6f, 0.6f, 0f, 0f)).toDF("vec_id", "embedding")
    val e0 = Seq(2L, 11L).toDF("vec_id")
    val b1 = Seq(21L -> Array(0f, 0.6f, 0.6f, 0f))
      .toDF("vec_id", "embedding")
    // STREAMED: admit b0 → erase e0 → CRASH-REPLAY of erase e0 →
    // admit b1 (the erasure epoch shifted the admission allocation)
    StreamingEvents.geoAdmitBatch(b0, 0L, stateA, outAdm, 0.9, 0)
    StreamingEvents.geoEraseBatch(e0, 0L, stateA, outErs)
    StreamingEvents.geoEraseBatch(e0, 0L, stateA, outErs) // replay
    StreamingEvents.geoAdmitBatch(b1, 1L, stateA, outAdm, 0.9, 0)
    // BATCH-WISE mirror on store B
    sb = HnswGeoStore.admit(spark, sb, b0, 0.9)._2
    sb = HnswGeoStore.delete(spark, sb, e0)
    sb = HnswGeoStore.admit(spark, sb, b1, 0.9)._2
    val sa = HnswGeoStore.load(spark, stateA)
    assert(sa.epoch === 3L && sb.epoch === 3L,
      s"idempotent replay must not allocate a new epoch " +
        s"(A=${sa.epoch}, B=${sb.epoch})")
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.select("shard", "vec_id", "vec", "level", "nbrs")
        .collect().map(_.toString).sorted.toSeq
    assert(dump(sa.segments) === dump(sb.segments),
      "streamed erasure must be bitwise the batch-wise chain")
    // the erasure ledger carries the erased ids
    assert(spark.read.parquet(s"$outErs/batch_id=0")
      .as[Long].collect().toSet === Set(2L, 11L))
    // no lost batch (21 admitted), no resurrection (2, 11 gone)
    val served = HnswGeoStore.batchNeighbors(sa,
        Seq((900L, Seq(0.5, 0.5, 0.5, 0.5))).toDF("probe_id", "embedding"),
        k = 10, efSearch = 16, nProbe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(served.contains(21L), "the post-erasure batch must be live")
    assert(served.intersect(Set(2L, 11L)).isEmpty,
      "an erased id must never serve")
    CacheRegistry.releaseAll()
  }

  test("streaming erasure (text): streamed forget ≡ the batch-wise " +
       "forget chain on every relation, interleaved with admission") {
    import graft.operators.DedupState
    val stateA = tmpDir("graft-txters-a")
    val stateB = tmpDir("graft-txters-b")
    val outAdm = s"${tmpDir("graft-txters-adm")}/rows"
    val outErs = s"${tmpDir("graft-txters-ers")}/rows"
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five"),
      (3L, "six seven eight nine ten")).toDF("doc_id", "text")
    DedupState.build(spark, corpus, stateA)
    var sb = DedupState.build(spark, corpus, stateB)
    val b0 = Seq((10L, "eleven twelve thirteen fourteen fifteen"))
      .toDF("doc_id", "text")
    val e0 = Seq(2L, 10L).toDF("doc_id")
    val b1 = Seq((20L, "sixteen seventeen eighteen nineteen twenty"))
      .toDF("doc_id", "text")
    StreamingEvents.dedupAdmitBatch(b0, 0L, stateA, outAdm, 0.5, 0)
    StreamingEvents.dedupEraseBatch(e0, 0L, stateA, outErs)
    StreamingEvents.dedupEraseBatch(e0, 0L, stateA, outErs) // replay
    StreamingEvents.dedupAdmitBatch(b1, 1L, stateA, outAdm, 0.5, 0)
    sb = DedupState.admit(spark, sb, b0, 0.5)._2
    sb = DedupState.forget(spark, sb, e0)
    sb = DedupState.admit(spark, sb, b1, 0.5)._2
    val sa = DedupState.load(spark, stateA)
    assert(sa.gen === 3L && sb.gen === 3L,
      s"idempotent replay must not allocate (A=${sa.gen}, B=${sb.gen})")
    def rel(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).toSeq).toSet
    assert(rel(sa.posting) === rel(sb.posting), "posting")
    assert(rel(sa.shingleDf) === rel(sb.shingleDf), "dfs")
    assert(rel(sa.fingerprints) === rel(sb.fingerprints), "fingerprints")
    assert(rel(sa.signatures) === rel(sb.signatures), "signatures")
    // the erased text is admissible again (GDPR), the survivors dedup
    val again = DedupState.incrementalDedup(sa,
      Seq((30L, "one two three four five"),
          (31L, "six seven eight nine ten")).toDF("doc_id", "text"),
      threshold = 0.5).select("doc_id").as[Long].collect().toSet
    assert(again === Set(30L),
      "erased text re-admits; surviving text still dedups")
    CacheRegistry.releaseAll()
  }

  test("delete is an out-of-band lifecycle op under the replay guards: " +
       "between runs it shifts the resumed stream's allocation; inside " +
       "a crash-replay window it fails loudly on writer identity") {
    import graft.operators.{HnswGeoStore, IVF}
    val stateDir = tmpDir("graft-geodelstream-state")
    val outDir = s"${tmpDir("graft-geodelstream-out")}/rows"
    val seed = Seq(
      1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(0f, 1f, 0f, 0f),
      3L -> Array(0.9f, 0.1f, 0f, 0f)).toDF("vec_id", "embedding")
    val index = IVF.train(seed, k = 2, iters = 2)
    HnswGeoStore.build(spark, seed, stateDir, index)
    // batch 0 lands epoch 1
    StreamingEvents.geoAdmitBatch(
      Seq(11L -> Array(0f, 0f, 1f, 0f)).toDF("vec_id", "embedding"),
      0L, stateDir, outDir, threshold = 0.9, compactEvery = 0)
    // an out-of-band DELETE between runs: epoch 2, writer "lifecycle"
    val afterDel = HnswGeoStore.delete(spark,
      HnswGeoStore.load(spark, stateDir), Seq(3L).toDF("vec_id"))
    assert(afterDel.epoch === 2L)
    // the resumed stream's next batch allocates PAST it (epoch 3) and
    // admits against the post-delete view: id 12 is IDENTICAL to the
    // ERASED id 3 (cos 1.0) and below threshold vs everything live
    // (cos vs id 1 ≈ 0.994), so it must now be admitted
    StreamingEvents.geoAdmitBatch(
      Seq(12L -> Array(0.9f, 0.1f, 0f, 0f)).toDF("vec_id", "embedding"),
      1L, stateDir, outDir, threshold = 0.999, compactEvery = 0)
    val fin = HnswGeoStore.load(spark, stateDir)
    assert(fin.epoch === 3L)
    assert(fin.segments.select("vec_id").as[Long].collect().toSet ===
      Set(1L, 2L, 11L, 12L))
    // a delete landing INSIDE batch 2's crash-replay window, at its
    // allocation: the writer guard refuses the overwrite
    Seq(Tuple1(3L)).toDF("epoch").coalesce(1).write.mode("overwrite")
      .parquet(s"$stateDir/stream_meta/batch_id=2")
    HnswGeoStore.delete(spark, fin, Seq(2L).toDF("vec_id"))
    val e = intercept[IllegalArgumentException] {
      StreamingEvents.geoAdmitBatch(
        Seq(13L -> Array(0f, 0f, 0f, 1f)).toDF("vec_id", "embedding"),
        2L, stateDir, outDir, threshold = 0.9, compactEvery = 0)
    }
    assert(e.getMessage.contains("lifecycle") &&
      e.getMessage.contains("out-of-band"), e.getMessage)
    CacheRegistry.releaseAll()
  }

  test("curationAdmissionStream over an ATTRIBUTE-payload geo store: " +
       "batch payload columns flow into the admitted epoch's attrs and " +
       "the store serves them filtered") {
    implicit val ctx = spark.sqlContext
    import graft.operators.{DedupState, HnswGeoStore, IVF}
    import graft.pipelines.CorpusPipeline
    val tDir = tmpDir("graft-curattr-text")
    val gDir = tmpDir("graft-curattr-geo")
    val outDir = s"${tmpDir("graft-curattr-out")}/rows"
    val ckpt = tmpDir("graft-curattr-ckpt")
    val t1 = "the quick brown fox jumps over the lazy dog and then " +
      "the small cat walks along the river bank while a bird sings in " +
      "the tall green tree near the old wooden bridge"
    val cfg = CorpusPipeline.Config()
    val corpus = CorpusPipeline.qualityLang(
        Seq(1L -> t1).toDF("doc_id", "text"), cfg)
      .select(col("doc_id"), col("text"))
    DedupState.build(spark, corpus, tDir)
    val seedEmb = Seq(
      (1L, Array(1f, 0f, 0f, 0f), 1L),
      (2L, Array(0f, 1f, 0f, 0f), 0L))
      .toDF("vec_id", "embedding", "bucket")
    val index = IVF.train(seedEmb, k = 2, iters = 2)
    HnswGeoStore.build(spark, seedEmb.filter(col("vec_id") === 1L),
      gDir, index)
    val rows: Seq[(Long, String, Array[Float], Long)] = Seq(
      (11L, "a slow train crosses the green valley and the passengers " +
        "watch the river bend under the stone arches while the evening " +
        "sun paints the hills in a soft amber glow",
        Array(0f, 0f, 1f, 0f), 1L))
    val stream = MemoryStream[(Long, String, Array[Float], Long)]
    val src = stream.toDF().toDF("doc_id", "text", "embedding", "bucket")
    val q = StreamingEvents.curationAdmissionStream(src, tDir, gDir,
      outDir, ckpt, cfg, semanticThreshold = 0.9, nProbe = 8)
    try {
      stream.addData(rows)
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(s"$outDir/batch_id=0")
      .select("doc_id").as[Long].collect().toSet === Set(11L))
    val st = HnswGeoStore.load(spark, gDir)
    val served = HnswGeoStore.batchNeighborsFilteredExpr(st,
        Seq(5L -> Array(0f, 0f, 1f, 0f))
          .toDF("probe_id", "embedding"),
        col("bucket") === lit(1L), k = 5, efSearch = 32, nProbe = 8)
      .select("vec_id").as[Long].collect().toSet
    assert(served === Set(1L, 11L),
      s"the admitted vector's stored payload must be serveable: $served")
    CacheRegistry.releaseAll()
  }

  test("curationAdmissionStream: the streamed curation ladder equals " +
       "sequential CorpusPipeline.admitBatch calls bitwise — kept rows " +
       "per batch, text-store fingerprints, geo-store contents") {
    implicit val ctx = spark.sqlContext
    import graft.operators.{DedupState, HnswGeoStore, IVF}
    import graft.pipelines.CorpusPipeline
    // ≥ 10 tokens, English trigrams — pass the default quality/language
    // gates (AdmitBatchSpec's fixture texts)
    val t1 = "the quick brown fox jumps over the lazy dog and then " +
      "the small cat walks along the river bank while a bird sings in " +
      "the tall green tree near the old wooden bridge"
    val t2 = "a steady rain falls on the quiet town and the empty " +
      "streets shine under a pale lamp while the clock tower rings " +
      "twice in the cold night air before the dawn arrives"
    val ta1 = "a young engineer draws the long bridge plan on the " +
      "wide desk and the lamp hums while a kettle warms near the " +
      "window and the city sleeps under a thin fog"
    val ta3 = "a slow train crosses the green valley and the " +
      "passengers watch the river bend under the stone arches while " +
      "the evening sun paints the hills in a soft amber glow"
    val t1Swap = t1.split(' ').dropRight(1).mkString(" ") + " night"
    val corpusDocs = Seq(1L -> t1, 2L -> t2).toDF("doc_id", "text")
    val corpusEmb = Seq(
      1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(0f, 1f, 0f, 0f)).toDF("vec_id", "embedding")
    val cfg = CorpusPipeline.Config()
    def seed(tag: String): (String, String) = {
      val tDir = tmpDir(s"graft-curstream-text-$tag")
      val gDir = tmpDir(s"graft-curstream-geo-$tag")
      val corpus = CorpusPipeline.qualityLang(corpusDocs, cfg)
        .select(col("doc_id"), col("text"))
      DedupState.build(spark, corpus, tDir)
      val index = IVF.train(corpusEmb, 2, iters = 2)
      HnswGeoStore.build(spark, corpusEmb, gDir, index)
      CacheRegistry.releaseAll()
      (tDir, gDir)
    }
    // batch 0: exact within-batch dup (11/12), a MinHash near-dup of
    // corpus t1 (13), a semantic twin of corpus emb 1 (14), a novel doc
    // WITHOUT an embedding (15); batch 1: an exact copy of corpus t2
    // (20) and a novel admit (22)
    val b0: Seq[(Long, String, Array[Float])] = Seq(
      (11L, ta1, Array(0f, 0f, 0f, 1f)),
      (12L, ta1, null),
      (13L, t1Swap, Array(0.5f, 0.5f, 0f, 0f)),
      (14L, "the harbor master logs every ship that enters the " +
        "narrow channel and notes the cargo weight in a worn ledger " +
        "kept beside the window", Array(0.99f, 0.1f, 0f, 0f)),
      (15L, ta3, null))
    val b1: Seq[(Long, String, Array[Float])] = Seq(
      (20L, t2, Array(0f, 1f, 0f, 0f)),
      (22L, "the final report lists a dozen clear findings and the " +
        "committee reads each page twice before the vote",
        Array(0.5f, 0.5f, 0.5f, 0.5f)))
    // streamed path
    val (tS, gS) = seed("stream")
    val outDir = s"${tmpDir("graft-curstream-out")}/rows"
    val ckpt = tmpDir("graft-curstream-ckpt")
    val stream = MemoryStream[(Long, String, Array[Float])]
    val src = stream.toDF().toDF("doc_id", "text", "embedding")
    val q = StreamingEvents.curationAdmissionStream(src, tS, gS, outDir,
      ckpt, cfg, semanticThreshold = 0.9, nProbe = 8)
    try {
      stream.addData(b0)
      q.processAllAvailable()
      stream.addData(b1)
      q.processAllAvailable()
    } finally q.stop()
    // batch path: the same two admissions through admitBatch directly
    val (tB, gB) = seed("batch")
    def df(rows: Seq[(Long, String, Array[Float])]) =
      rows.toDF("doc_id", "text", "embedding")
    def embOf(rows: Seq[(Long, String, Array[Float])]) =
      rows.filter(_._3 != null).map(r => (r._1, r._3))
        .toDF("vec_id", "embedding")
    val st0 = CorpusPipeline.CorpusState(
      DedupState.load(spark, tB), HnswGeoStore.load(spark, gB))
    val (keptA, st1) = CorpusPipeline.admitBatch(spark, st0,
      df(b0).select("doc_id", "text"), embOf(b0), cfg,
      semanticThreshold = 0.9, nProbe = 8)
    val dumpA = keptA.collect().map(_.toString).sorted.toSeq
    val (keptB, st2) = CorpusPipeline.admitBatch(spark, st1,
      df(b1).select("doc_id", "text"), embOf(b1), cfg,
      semanticThreshold = 0.9, nProbe = 8)
    val dumpB = keptB.collect().map(_.toString).sorted.toSeq
    val colsA = keptA.columns.toSeq
    CacheRegistry.releaseAll()
    // kept rows per batch, bitwise (same columns, same values)
    def streamed(b: Long): Seq[String] =
      spark.read.parquet(s"$outDir/batch_id=$b")
        .select(colsA.map(col): _*)
        .collect().map(_.toString).sorted.toSeq
    assert(streamed(0L) === dumpA,
      "batch 0: streamed kept rows must equal admitBatch's")
    assert(streamed(1L) === dumpB,
      "batch 1: streamed kept rows must equal admitBatch's")
    // both standing stores agree bitwise on content
    val sFin = DedupState.load(spark, tS)
    val bFin = DedupState.load(spark, tB)
    assert(sFin.fingerprints.select("h").as[String].collect().sorted.toSeq
      === bFin.fingerprints.select("h").as[String].collect().sorted.toSeq)
    val gSFin = HnswGeoStore.load(spark, gS)
    val gBFin = HnswGeoStore.load(spark, gB)
    assert(gSFin.segments.select("vec_id").as[Long].collect().sorted.toSeq
      === gBFin.segments.select("vec_id").as[Long].collect().sorted.toSeq)
    assert(gSFin.epoch === gBFin.epoch,
      "one epoch per micro-batch — the numbering replay depends on")
    CacheRegistry.releaseAll()
  }

  test("curationAdmitBatch replay: a crash between the text fold and " +
       "the geo fold recovers — the replay recomputes from both pinned " +
       "pre-state views and overwrites both folds idempotently") {
    import graft.operators.{DedupState, HnswGeoStore, IVF}
    import graft.pipelines.CorpusPipeline
    val tDir = tmpDir("graft-curreplay-text")
    val gDir = tmpDir("graft-curreplay-geo")
    val outDir = s"${tmpDir("graft-curreplay-out")}/rows"
    val t1 = "the quick brown fox jumps over the lazy dog and then " +
      "the small cat walks along the river bank while a bird sings in " +
      "the tall green tree near the old wooden bridge"
    val cfg = CorpusPipeline.Config()
    val corpus = CorpusPipeline.qualityLang(
        Seq(1L -> t1).toDF("doc_id", "text"), cfg)
      .select(col("doc_id"), col("text"))
    DedupState.build(spark, corpus, tDir)
    val seedEmb = Seq(
      1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(0f, 1f, 0f, 0f)).toDF("vec_id", "embedding")
    val index = IVF.train(seedEmb, k = 2, iters = 2)
    HnswGeoStore.build(spark,
      seedEmb.filter(col("vec_id") === 1L), gDir, index)
    val rows: Seq[(Long, String, Array[Float])] = Seq(
      (11L, "a slow train crosses the green valley and the passengers " +
        "watch the river bend under the stone arches while the evening " +
        "sun paints the hills in a soft amber glow",
        Array(0f, 0f, 1f, 0f)))
    val batch = rows.toDF("doc_id", "text", "embedding")
    // attempt 1
    StreamingEvents.curationAdmitBatch(batch, 0L, tDir, gDir, outDir,
      cfg, 0.9, 8, 64, 0)
    // simulate "crashed after the text fold, before the geo fold": drop
    // the geo epoch's commit (the state a mid-fold crash leaves — text
    // gen 1 committed, geo epoch 1 not)
    val fs = new org.apache.hadoop.fs.Path(gDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$gDir/commits/epoch=1"), true)
    assert(HnswGeoStore.latestEpoch(spark, gDir) === 0L)
    // replay: must land the identical end state, loudly failing nowhere
    StreamingEvents.curationAdmitBatch(batch, 0L, tDir, gDir, outDir,
      cfg, 0.9, 8, 64, 0)
    assert(DedupState.load(spark, tDir).gen === 1L)
    val g = HnswGeoStore.load(spark, gDir)
    assert(g.epoch === 1L)
    assert(g.segments.select("vec_id").as[Long].collect().toSet ===
      Set(1L, 11L))
    assert(spark.read.parquet(s"$outDir/batch_id=0")
      .select("doc_id").as[Long].collect().toSet === Set(11L))
    CacheRegistry.releaseAll()
  }

  test("geoAdmitBatch replay: an out-of-band base at the allocation of " +
       "a replayed COMPACTION-BOUNDARY batch (both bases — the case " +
       "is_base alone cannot split) fails loudly on writer identity") {
    import graft.operators.{HnswGeoStore, IVF}
    val stateDir = tmpDir("graft-geowriter-state")
    val outDir = s"${tmpDir("graft-geowriter-out")}/rows"
    val seed = Seq(
      1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(0f, 1f, 0f, 0f)).toDF("vec_id", "embedding")
    val index = IVF.train(seed, k = 2, iters = 2)
    HnswGeoStore.build(spark, seed, stateDir, index)
    // a crashed first attempt of batch 0 under compactEvery = 1 — the
    // batch itself commits a BASE, so its marker is is_base=true, same
    // as any lifecycle op's
    Seq(Tuple1(0L)).toDF("epoch").coalesce(1)
      .write.mode("overwrite")
      .parquet(s"$stateDir/stream_meta/batch_id=0")
    // the racing out-of-band compaction also commits a base at epoch 1
    HnswGeoStore.compact(spark, HnswGeoStore.load(spark, stateDir))
    val batch = Seq(11L -> Array(0f, 0f, 1f, 0f)).toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      StreamingEvents.geoAdmitBatch(batch, 0L, stateDir, outDir,
        threshold = 0.9, compactEvery = 1)
    }
    assert(ex.getMessage.contains("out-of-band"))
    // the out-of-band base survived undemoted, its writer intact
    val (isBase, writer) = StoreCommits.read(spark, stateDir, "epoch=1")
    assert(isBase && writer === "lifecycle")
    CacheRegistry.releaseAll()
  }

  test("curationAdmissionStream with driftFactor: the flagship " +
       "composition's geo store retrains at the stream's own compaction " +
       "boundary (same epoch, batch writer tag) and keeps curating") {
    implicit val ctx = spark.sqlContext
    import graft.operators.{DedupState, HnswGeoStore, IVF}
    import graft.pipelines.CorpusPipeline
    val tDir = tmpDir("graft-curdrift-text")
    val gDir = tmpDir("graft-curdrift-geo")
    val outDir = s"${tmpDir("graft-curdrift-out")}/rows"
    val ckpt = tmpDir("graft-curdrift-ckpt")
    val cfg = CorpusPipeline.Config()
    val seedText = "the quick brown fox jumps over the lazy dog and " +
      "then the small cat walks along the river bank while a bird " +
      "sings in the tall green tree near the old wooden bridge"
    val corpus = CorpusPipeline.qualityLang(
        Seq(1L -> seedText).toDF("doc_id", "text"), cfg)
      .select(col("doc_id"), col("text"))
    DedupState.build(spark, corpus, tDir)
    // geo seeded on the e0/e1 axes (measurable baseline); the stream
    // arrives on e2/e3 — off the trained geometry
    val seedEmb = Seq(
      1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(0.98f, 0.02f, 0f, 0f),
      3L -> Array(0f, 1f, 0f, 0f),
      4L -> Array(0.02f, 0.98f, 0f, 0f)).toDF("vec_id", "embedding")
    val index = IVF.train(seedEmb, k = 2, iters = 3)
    HnswGeoStore.build(spark, seedEmb, gDir, index)
    val texts = Map(
      11L -> ("a slow train crosses the green valley and the " +
        "passengers watch the river bend under the stone arches while " +
        "the evening sun paints the hills in a soft amber glow"),
      12L -> ("heavy rain fell on the quiet harbor all through the " +
        "night and the fishing boats rocked gently against the wooden " +
        "pier while distant thunder rolled over the dark water"),
      13L -> ("the old library smelled of dust and paper as the " +
        "students turned the brittle pages of forgotten maps tracing " +
        "routes that merchants once sailed across the southern seas"))
    def b(id: Long, v: Array[Float]) = Seq((id, texts(id), v))
    val stream = MemoryStream[(Long, String, Array[Float])]
    val src = stream.toDF().toDF("doc_id", "text", "embedding")
    val q = StreamingEvents.curationAdmissionStream(src, tDir, gDir,
      outDir, ckpt, cfg, semanticThreshold = 0.9, nProbe = 8,
      compactEvery = 2, driftFactor = 2.0)
    try {
      stream.addData(b(11L, Array(0f, 0f, 1f, 0f))); q.processAllAvailable()
      stream.addData(b(12L, Array(0f, 0f, 0f, 1f))); q.processAllAvailable()
      stream.addData(b(13L, Array(0f, 0.6f, 0f, 0.8f))); q.processAllAvailable()
    } finally q.stop()
    val geo = HnswGeoStore.load(spark, gDir)
    assert(geo.epoch === 3L && geo.baseEpoch === 2L,
      "the retrain must land AS batch 1's own base epoch")
    assert(StoreCommits.read(spark, gDir, "epoch=2") ===
      ((true, "stream:batch=1")))
    assert(geo.index.centroids.map(_.toSeq).toSet !==
      index.centroids.map(_.toSeq).toSet,
      "the curated corpus's geometry must have been retrained")
    assert(geo.segments.select("vec_id").as[Long].collect().toSet ===
      Set(1L, 2L, 3L, 4L, 11L, 12L, 13L))
    // the text store compacted normally at the same boundary
    val text = DedupState.load(spark, tDir)
    assert(text.gen === 3L)
    assert(StoreCommits.read(spark, tDir, "gen=2") ===
      ((true, "stream:batch=1")))
    // every admitted doc's output landed
    assert((0L to 2L).flatMap(i =>
      spark.read.parquet(s"$outDir/batch_id=$i")
        .select("doc_id").as[Long].collect()).toSet ===
      Set(11L, 12L, 13L))
    CacheRegistry.releaseAll()
  }

  test("drift-triggered retrain at the sink's COMPACTION boundary: a " +
       "drifted stream retrains as part of the base commit it already " +
       "owns (same epoch, batch writer tag), keeps admitting, and " +
       "equals the batch-wise chain with an interleaved " +
       "retrainIfDrifted — no out-of-band op, no replay conflict") {
    implicit val ctx = spark.sqlContext
    import graft.operators.{HnswGeoStore, IVF}
    val stateDir = tmpDir("graft-geodrift-state")
    val outDir = s"${tmpDir("graft-geodrift-out")}/rows"
    val ckpt = tmpDir("graft-geodrift-ckpt")
    // seed distribution on the e0/e1 axes (small spread -> a small but
    // MEASURABLE baseline); the stream arrives on e2/e3 — far off the
    // trained geometry, exactly what the drift ratio exists to catch
    val seed = Seq(
      1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(0.98f, 0.02f, 0f, 0f),
      3L -> Array(0f, 1f, 0f, 0f),
      4L -> Array(0.02f, 0.98f, 0f, 0f)).toDF("vec_id", "embedding")
    val index = IVF.train(seed, k = 2, iters = 3)
    HnswGeoStore.build(spark, seed, stateDir, index)
    val b0 = Seq(11L -> Array(0f, 0f, 1f, 0f))
    val b1 = Seq(12L -> Array(0f, 0f, 0f, 1f))
    val b2 = Seq(13L -> Array(0f, 0f, 0.7071f, 0.7071f))
    val stream = MemoryStream[(Long, Array[Float])]
    val src = stream.toDF().toDF("vec_id", "embedding")
    val q = StreamingEvents.hnswGeoAdmissionStream(src, stateDir, outDir,
      ckpt, threshold = 0.9, compactEvery = 2, driftFactor = 2.0)
    try {
      stream.addData(b0); q.processAllAvailable()
      stream.addData(b1); q.processAllAvailable()  // compaction + drift
      stream.addData(b2); q.processAllAvailable()  // keeps admitting
    } finally q.stop()
    val fin = HnswGeoStore.load(spark, stateDir)
    assert(fin.epoch === 3L && fin.baseEpoch === 2L,
      "the retrain must land AS batch 1's own base epoch")
    assert(StoreCommits.read(spark, stateDir, "epoch=2") ===
      ((true, "stream:batch=1")),
      "the retrained base carries the BATCH's writer tag, not an " +
        "out-of-band lifecycle marker")
    assert(fin.segments.select("vec_id").as[Long].collect().toSet ===
      Set(1L, 2L, 3L, 4L, 11L, 12L, 13L))
    assert(fin.index.centroids.map(_.toSeq).toSet !==
      index.centroids.map(_.toSeq).toSet,
      "the index must have been retrained on the drifted corpus")
    // ≡ the batch-wise chain with an interleaved retrainIfDrifted
    val dir2 = tmpDir("graft-geodrift-twin")
    var twin = HnswGeoStore.build(spark, seed, dir2, index)
    twin = HnswGeoStore.admit(spark, twin,
      b0.toDF("vec_id", "embedding"), threshold = 0.9)._2
    val k1 = HnswGeoStore.incrementalAdmit(twin,
      b1.toDF("vec_id", "embedding"), threshold = 0.9)
    val (twin2, report) = HnswGeoStore.retrainIfDrifted(spark, twin,
      driftFactor = 2.0, foldIn = Some(k1))
    assert(report.retrained && report.measurable, report.toString)
    twin = HnswGeoStore.admit(spark, twin2,
      b2.toDF("vec_id", "embedding"), threshold = 0.9)._2
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(dump(fin.segments) === dump(twin.segments),
      "stream ≡ batch-wise chain, value for value")
    assert(fin.index.centroids.map(_.toSeq).toSeq ===
      twin.index.centroids.map(_.toSeq).toSeq)
    CacheRegistry.releaseAll()
  }

  test("geoAdmitBatch replay: the batch's OWN crashed-but-committed " +
       "attempt replays idempotently through the marker check") {
    import graft.operators.{HnswGeoStore, IVF}
    val stateDir = tmpDir("graft-georeplay-state")
    val outDir = s"${tmpDir("graft-georeplay-out")}/rows"
    val seed = Seq(
      1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(0f, 1f, 0f, 0f)).toDF("vec_id", "embedding")
    val index = IVF.train(seed, k = 2, iters = 2)
    HnswGeoStore.build(spark, seed, stateDir, index)
    val batch = Seq(11L -> Array(0f, 0f, 1f, 0f)).toDF("vec_id", "embedding")
    def dump() = HnswGeoStore.load(spark, stateDir).segments
      .collect().map(_.toString).sorted.toSeq
    StreamingEvents.geoAdmitBatch(batch, 0L, stateDir, outDir,
      threshold = 0.9, compactEvery = 0)
    val first = dump()
    // replay of the same batch: mapping pins epoch 0, epoch 1 is already
    // committed by the first attempt with the SAME is_base — overwrite
    // must proceed and rewrite a bitwise identical segment
    StreamingEvents.geoAdmitBatch(batch, 0L, stateDir, outDir,
      threshold = 0.9, compactEvery = 0)
    assert(dump() === first, "replayed epoch must be bitwise identical")
    val fin = HnswGeoStore.load(spark, stateDir)
    assert(fin.epoch === 1L)
    assert(fin.segments.select("vec_id").as[Long].collect().toSet ===
      Set(1L, 2L, 11L))
    assert(spark.read.parquet(s"$outDir/batch_id=0")
      .select("vec_id").as[Long].collect().toSet === Set(11L))
    CacheRegistry.releaseAll()
  }

  test("geoAdmitBatch replay: a mapping dir that EXISTS but cannot be " +
       "read rethrows — a transient read failure must not masquerade " +
       "as a first attempt (ADVICE r14)") {
    import graft.operators.{HnswGeoStore, IVF}
    val stateDir = tmpDir("graft-geocorrupt-state")
    val outDir = s"${tmpDir("graft-geocorrupt-out")}/rows"
    val seed = Seq(
      1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(0f, 1f, 0f, 0f)).toDF("vec_id", "embedding")
    val index = IVF.train(seed, k = 2, iters = 2)
    HnswGeoStore.build(spark, seed, stateDir, index)
    // a mapping with a committed-looking part file whose bytes are not
    // parquet: the read must FAIL the batch, not silently re-pin
    val metaDir = java.nio.file.Paths.get(
      s"$stateDir/stream_meta/batch_id=0")
    java.nio.file.Files.createDirectories(metaDir)
    java.nio.file.Files.write(metaDir.resolve("part-00000.parquet"),
      "not parquet".getBytes("UTF-8"))
    val batch = Seq(11L -> Array(0f, 0f, 1f, 0f)).toDF("vec_id", "embedding")
    intercept[Throwable] {
      StreamingEvents.geoAdmitBatch(batch, 0L, stateDir, outDir,
        threshold = 0.9, compactEvery = 0)
    }
    // the store was never touched: no epoch appended, no output written
    assert(HnswGeoStore.latestEpoch(spark, stateDir) === 0L)
    val outFs = new org.apache.hadoop.fs.Path(outDir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!outFs.exists(
      new org.apache.hadoop.fs.Path(s"$outDir/batch_id=0")))
    CacheRegistry.releaseAll()
  }

  test("hnswGeoFilteredSearchStream: streamed routed+filtered serving " +
       "equals the geo store's batchNeighborsFiltered, bit for bit") {
    implicit val ctx = spark.sqlContext
    import graft.operators.{HnswGeoStore, IVF}
    val stateDir = tmpDir("graft-gfserve-state")
    val allowedDir = s"${tmpDir("graft-gfserve-allowed")}/ids"
    val outDir = s"${tmpDir("graft-gfserve-out")}/rows"
    val ckpt = tmpDir("graft-gfserve-ckpt")
    val emb = graft.sources.Tables.table(spark, sf0001, "embeddings")
    val corpus = emb.filter(col("vec_id") >= 10)
    val index = IVF.train(corpus, 4, 5, maxTrainRows = 400L)
    // two epochs so the routed fan-out is exercised, not just one base
    val base = HnswGeoStore.build(spark,
      corpus.filter(col("vec_id") < 300), stateDir, index)
    HnswGeoStore.append(spark, base, corpus.filter(col("vec_id") >= 300))
    emb.filter(col("vec_id") % 3 === 0).select("vec_id")
      .write.mode("overwrite").parquet(allowedDir)
    val probes = emb.filter(col("vec_id") < 10)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val stream = MemoryStream[(Long, Array[Float])]
    val q = StreamingEvents.hnswGeoFilteredSearchStream(
      stream.toDF().toDF("probe_id", "embedding"), stateDir, allowedDir,
      outDir, ckpt, k = 5, efSearch = 32, nProbe = 8)
    try {
      stream.addData(probes.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))
    val streamed = spark.read.parquet(outDir)
      .select("probe_id", "vec_id", "cos", "rank")
      .collect().map(key).toSet
    val store = HnswGeoStore.load(spark, stateDir)
    val want = HnswGeoStore.batchNeighborsFiltered(store,
        emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"), col("embedding")),
        spark.read.parquet(allowedDir), k = 5, efSearch = 32, nProbe = 8)
      .collect().map(key).toSet
    CacheRegistry.releaseAll()
    assert(streamed === want,
      "streamed geo filtered serving must equal the batch routed search")
    assert(streamed.nonEmpty && streamed.forall(_._2 % 3 == 0),
      "a filter-violating row reached the sink")
  }

  test("hnswGeoAttrFilteredSearchStream: streamed serving with a STORED-" +
       "attribute predicate equals batchNeighborsFilteredExpr, bit for " +
       "bit, and no filter-violating row reaches the sink") {
    implicit val ctx = spark.sqlContext
    import graft.operators.{HnswGeoStore, IVF}
    val stateDir = tmpDir("graft-gaserve-state")
    val outDir = s"${tmpDir("graft-gaserve-out")}/rows"
    val ckpt = tmpDir("graft-gaserve-ckpt")
    val emb = graft.sources.Tables.table(spark, sf0001, "embeddings")
    // bucket payload stored BESIDE the vectors — the predicate's input
    val corpus = emb.filter(col("vec_id") >= 10)
      .select(col("vec_id"), col("embedding"),
        pmod(col("vec_id"), lit(3L)).as("bucket"))
    val index = IVF.train(corpus, 4, 5, maxTrainRows = 400L)
    val base = HnswGeoStore.build(spark,
      corpus.filter(col("vec_id") < 300), stateDir, index)
    HnswGeoStore.append(spark, base, corpus.filter(col("vec_id") >= 300))
    val probes = emb.filter(col("vec_id") < 10)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val stream = MemoryStream[(Long, Array[Float])]
    val pred = col("bucket") === lit(0L)
    val q = StreamingEvents.hnswGeoAttrFilteredSearchStream(
      stream.toDF().toDF("probe_id", "embedding"), stateDir, pred,
      outDir, ckpt, k = 5, efSearch = 32, nProbe = 8)
    try {
      stream.addData(probes.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))
    val streamed = spark.read.parquet(outDir)
      .select("probe_id", "vec_id", "cos", "rank")
      .collect().map(key).toSet
    val store = HnswGeoStore.load(spark, stateDir)
    val want = HnswGeoStore.batchNeighborsFilteredExpr(store,
        emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("probe_id"), col("embedding")),
        pred, k = 5, efSearch = 32, nProbe = 8)
      .collect().map(key).toSet
    CacheRegistry.releaseAll()
    assert(streamed === want,
      "streamed attr-filtered serving must equal the batch expr search")
    assert(streamed.nonEmpty && streamed.forall(_._2 % 3 == 0),
      "a filter-violating row reached the sink")
  }

  test("embeddingAdmissionStream over an ANN store: every admitted epoch " +
       "materializes codes, and the stored-codes query answers post-stream") {
    implicit val ctx = spark.sqlContext
    import graft.operators.EmbeddingStore
    val stateDir = tmpDir("graft-annadmit-state")
    val outDir = s"${tmpDir("graft-annadmit-out")}/rows"
    val ckpt = tmpDir("graft-annadmit-ckpt")
    val emb = graft.sources.Tables.table(spark, sf0001, "embeddings")
    val corpus = emb.filter(col("vec_id") < 300)
    // seed with the ANN build: index + residual codebooks on disk
    EmbeddingStore.buildAnn(spark, corpus, stateDir, k = 4, iters = 2,
      m = 8, pqK = 8)
    val batchRows = emb.filter(col("vec_id") >= 300)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val stream = MemoryStream[(Long, Array[Float])]
    val q = StreamingEvents.embeddingAdmissionStream(
      stream.toDF().toDF("vec_id", "embedding"), stateDir, outDir, ckpt,
      threshold = 0.995)
    try {
      stream.addData(batchRows.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val store = EmbeddingStore.load(spark, stateDir)
    assert(store.epoch === 1L)
    // the appended epoch inherited code materialization (the codebooks on
    // disk are the contract — no sink change was needed)
    assert(store.vectors.filter(col("codes").isNull).count() === 0L,
      "every stored vector, streamed ones included, must carry codes")
    // and the stored-codes deployment query runs over the grown store
    val qv = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray
    val ann = EmbeddingStore.annNeighbors(spark, store, qv, k = 5,
      nProbe = 4, rerank = 30, excludeId = Some(0L)).collect()
    assert(ann.length === 5)
    assert(ann.forall(r => r.getDouble(1) >= -1.0 && r.getDouble(1) <= 1.0))
  }

  test("admission sink with compactEvery: every K-th epoch is a base, " +
       "older generations are vacuumed, results unchanged") {
    implicit val ctx = spark.sqlContext
    val stateDir = tmpDir("graft-compact-state")
    val outDir = s"${tmpDir("graft-compact-out")}/rows"
    val ckpt = tmpDir("graft-compact-ckpt")
    val corpus = Seq((1L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    graft.operators.DedupState.build(spark, corpus, stateDir)
    val batch1 = Seq((10L, "one two three four five"))
    val batch2 = Seq((20L, "six seven eight nine ten"),
      (21L, "alpha beta gamma delta epsilon")) // exact dup of corpus
    val stream = MemoryStream[(Long, String)]
    val q = StreamingEvents.dedupAdmissionStream(
      stream.toDF().toDF("doc_id", "text"), stateDir, outDir, ckpt,
      threshold = 0.5, compactEvery = 1)
    try {
      stream.addData(batch1)
      q.processAllAvailable()
      stream.addData(batch2)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(outDir).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(streamed === Set(10L, 20L),
      "admission semantics must survive in-stream compaction")
    // every epoch was a base; the second compaction vacuumed gen 0
    val fin = graft.operators.DedupState.load(spark, stateDir)
    assert(fin.gen === 2L)
    assert(!new java.io.File(s"$stateDir/posting/gen=0").exists,
      "generations behind the previous base must be reclaimed")
    // the surviving base range still answers: corpus + both admissions
    assert(graft.operators.DedupState.incrementalDedup(fin,
      Seq((30L, "six seven eight nine ten")).toDF("doc_id", "text"),
      threshold = 0.5).count() === 0L,
      "docs admitted before compaction must still block dups")
    CacheRegistry.releaseAll()
  }

  test("psi drift sink: shifted window alerts, matching window stays " +
    "quiet; alert psi equals the batch psiFromCounts") {
    implicit val ctx = spark.sqlContext
    val outDir = s"${tmpDir("graft-psi-out")}/alerts"
    val ckpt = tmpDir("graft-psi-ckpt")
    // baseline histogram: bins 0 and 1 balanced
    val baseline = Seq(0L -> 10L, 1L -> 10L)
    val stream = MemoryStream[(Timestamp, Long)]
    val q = StreamingEvents.psiDriftSink(
      stream.toDF().toDF("ts", "v"), "v", width = 10L,
      baseline = baseline, threshold = 0.2, outDir = outDir,
      checkpointDir = ckpt, window = "1 hour", watermark = "0 seconds")
    try {
      // window 10:00: matches the baseline mix (half in bin 0, half bin 1)
      stream.addData(Seq(
        (ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:10:00"), 12L),
        (ts("2024-01-01 10:20:00"), 2L), (ts("2024-01-01 10:30:00"), 15L)))
      q.processAllAvailable()
      // window 11:00: everything lands in bin 5 -- drifted
      stream.addData(Seq(
        (ts("2024-01-01 11:00:00"), 55L), (ts("2024-01-01 11:10:00"), 57L),
        (ts("2024-01-01 11:20:00"), 58L), (ts("2024-01-01 11:30:00"), 59L)))
      q.processAllAvailable()
      // advance the watermark past both windows so they close and score
      stream.addData(Seq((ts("2024-01-01 13:00:00"), 1L)))
      q.processAllAvailable()
    } finally q.stop()

    val alerts = spark.read.parquet(outDir)
      .collect().map(r => r.getTimestamp(0) -> r.getDouble(1)).toMap
    assert(alerts.keySet === Set(ts("2024-01-01 11:00:00")),
      s"only the drifted window alerts, got ${alerts.keySet}")
    // replay contract: the alert's psi equals batch psiFromCounts over the
    // same (bin, n_base, n_cur) histogram
    val counts = Seq((0L, 10L, 0L), (1L, 10L, 0L), (5L, 0L, 4L))
      .toDF("bin", "n_base", "n_cur")
    val want = graft.operators.ColumnStats.psiFromCounts(counts)
      .select("psi").head().getDouble(0)
    assert(alerts(ts("2024-01-01 11:00:00")) === want)
  }

  test("streaming CUSUM: out-of-order multi-batch replay equals the batch " +
    "target-referenced operator; running S survives silent gaps") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Double)]
    val q = StreamingEvents.cusumStream(
        stream.toDF().toDF("ts", "k", "value"),
        keyCol = "k", valueCol = "value",
        targetCents = 10000L, slackCents = 1000L, thresholdCents = 5000L,
        watermark = "1 hour")
      .writeStream.format("memory").queryName("cusum_pts")
      .outputMode("append").start()
    // two keys, three days, rows out of order WITHIN the watermark; "a"
    // skips day 2 entirely (a silent gap the statistic must survive)
    val rows = Seq(
      (ts("2024-01-01 09:00:00"), "a", 80.0),
      (ts("2024-01-01 15:00:00"), "a", 45.0),   // day1 a: 125 > 110
      (ts("2024-01-01 12:00:00"), "b", 90.0),   // day1 b: 90 < 110
      (ts("2024-01-03 10:00:00"), "a", 200.0),  // day3 a: alarm territory
      (ts("2024-01-02 11:00:00"), "b", 115.0),
      (ts("2024-01-02 13:30:00"), "b", 40.0),   // day2 b: 155
      (ts("2024-01-03 09:00:00"), "b", 110.0))
    try {
      stream.addData(rows.take(3))
      q.processAllAvailable()
      stream.addData(rows.drop(3))
      q.processAllAvailable()
      // sentinel on its own key, far enough to finalize every real day
      stream.addData(Seq((ts("2024-01-10 00:00:00"), "zz", 0.0)))
      q.processAllAvailable()
      stream.addData(Seq((ts("2024-01-11 00:00:00"), "zz", 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("cusum_pts")
      .filter(col("key") =!= "zz")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4))).toSet
    val batch = graft.operators.TimeSeries.cusumShiftTarget(
      rows.toDF("ts", "k", "value"), Seq("k"), col("ts"), col("value"),
      targetCents = 10000L, slackCents = 1000L, thresholdCents = 5000L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4))).toSet
    assert(streamed === batch,
      s"stream must equal batch; stream=$streamed batch=$batch")
    // the crafted shift really alarms (S(a) after day 3: 15+90 = 105 > 50)
    assert(streamed.exists(p => p._1 == "a" && p._2 == "2024-01-03" && p._5))
    assert(streamed.count(_._1 == "a") === 2, "a's silent day emits nothing")
  }

  test("streaming EWMA: out-of-order multi-batch replay equals the batch " +
    "target-referenced chart; the window survives silent gaps") {
    implicit val ctx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Double)]
    val q = StreamingEvents.ewmaStream(
        stream.toDF().toDF("ts", "k", "value"),
        keyCol = "k", valueCol = "value",
        span = 4, targetCents = 10000L, thresholdCents = 3000L,
        watermark = "1 hour")
      .writeStream.format("memory").queryName("ewma_pts")
      .outputMode("append").start()
    // same out-of-order shape as the CUSUM contract: "a" skips day 2
    val rows = Seq(
      (ts("2024-01-01 09:00:00"), "a", 80.0),
      (ts("2024-01-01 15:00:00"), "a", 45.0),   // day1 a: 125
      (ts("2024-01-01 12:00:00"), "b", 90.0),   // day1 b: 90
      (ts("2024-01-03 10:00:00"), "a", 200.0),  // day3 a: 200 → alarm
      (ts("2024-01-02 11:00:00"), "b", 115.0),
      (ts("2024-01-02 13:30:00"), "b", 40.0),   // day2 b: 155 → alarm
      (ts("2024-01-03 09:00:00"), "b", 110.0))  // day3 b: decays back
    try {
      stream.addData(rows.take(3))
      q.processAllAvailable()
      stream.addData(rows.drop(3))
      q.processAllAvailable()
      stream.addData(Seq((ts("2024-01-10 00:00:00"), "zz", 0.0)))
      q.processAllAvailable()
      stream.addData(Seq((ts("2024-01-11 00:00:00"), "zz", 0.0)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ewma_pts")
      .filter(col("key") =!= "zz")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4))).toSet
    val batch = graft.operators.TimeSeries.ewmaChartTarget(
      rows.toDF("ts", "k", "value"), Seq("k"), col("ts"), col("value"),
      span = 4, targetCents = 10000L, thresholdCents = 3000L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4))).toSet
    assert(streamed === batch,
      s"stream must equal batch; stream=$streamed batch=$batch")
    // the shift alarms through the smoothing; b's spike day alarms and
    // its decay day does not (the EWMA forgives faster than CUSUM)
    assert(streamed.exists(p => p._1 == "a" && p._2 == "2024-01-03" && p._5))
    assert(streamed.exists(p => p._1 == "b" && p._2 == "2024-01-02" && p._5))
    assert(streamed.exists(p => p._1 == "b" && p._2 == "2024-01-03" && !p._5))
  }

  test("THREE-WAY composition (round-17 verdict #6): a drift retrain " +
       "landing at the admission stream's compaction boundary INSIDE a " +
       "live erasure stream neither resurrects an erased id nor loses " +
       "a tombstone, erasure replay across the retrain boundary is " +
       "idempotent, and post-retrain erasure lands on the new base") {
    import graft.operators.{HnswGeoStore, IVF}
    val stateDir = tmpDir("graft-3way-state")
    val outAdm = s"${tmpDir("graft-3way-adm")}/rows"
    val outErs = s"${tmpDir("graft-3way-ers")}/rows"
    // seed geometry on the e0/e1 axes (measurable baseline); the
    // admission stream arrives on e2/e3 — the drifted regime the
    // retrain trigger exists for
    val seed = Seq(
      1L -> Array(1f, 0f, 0f, 0f),
      2L -> Array(0.98f, 0.02f, 0f, 0f),
      3L -> Array(0f, 1f, 0f, 0f),
      4L -> Array(0.02f, 0.98f, 0f, 0f)).toDF("vec_id", "embedding")
    val index = IVF.train(seed, k = 2, iters = 3)
    HnswGeoStore.build(spark, seed, stateDir, index)
    // the live erasure stream's first batch: erase id 2 (epoch 1)
    StreamingEvents.geoEraseBatch(Seq(2L).toDF("vec_id"), 0L, stateDir,
      outErs)
    // the admission stream runs beside it; batch 1 is its compaction
    // boundary, the corpus has drifted to e2/e3 → the RETRAIN lands as
    // batch 1's own base commit, with the erasure epoch inside the
    // range it rebuilds
    StreamingEvents.geoAdmitBatch(
      Seq(11L -> Array(0f, 0f, 1f, 0f)).toDF("vec_id", "embedding"),
      0L, stateDir, outAdm, 0.9, compactEvery = 2, driftFactor = 2.0)
    StreamingEvents.geoAdmitBatch(
      Seq(12L -> Array(0f, 0f, 0f, 1f)).toDF("vec_id", "embedding"),
      1L, stateDir, outAdm, 0.9, compactEvery = 2, driftFactor = 2.0)
    val retrained = HnswGeoStore.load(spark, stateDir)
    assert(retrained.epoch === 3L && retrained.baseEpoch === 3L,
      s"the retrain must land as batch 1's own base " +
        s"(epoch=${retrained.epoch}, base=${retrained.baseEpoch})")
    assert(retrained.index.centroids.map(_.toSeq).toSet !==
      index.centroids.map(_.toSeq).toSet,
      "the index must have been retrained on the drifted corpus")
    // the tombstone was NOT lost: the rebuild physically removed the
    // erased id (its rows are gone, not just masked)
    assert(!retrained.segments.select("vec_id").as[Long].collect()
      .contains(2L),
      "the retrained base must not resurrect the erased id")
    // erasure replay ACROSS the retrain boundary (at-least-once
    // delivery): same pinned pre-state, same tombstone epoch,
    // overwritten in place — no new allocation, store unchanged
    def dump(st: HnswGeoStore.Store) =
      st.segments.select("shard", "vec_id", "vec", "level", "nbrs")
        .collect().map(_.toString).sorted.toSeq
    val preReplay = dump(retrained)
    StreamingEvents.geoEraseBatch(Seq(2L).toDF("vec_id"), 0L, stateDir,
      outErs)
    val replayed = HnswGeoStore.load(spark, stateDir)
    assert(replayed.epoch === 3L,
      "erasure replay across the retrain must not allocate an epoch")
    assert(dump(replayed) === preReplay,
      "erasure replay across the retrain must leave the store bitwise")
    // the erasure stream CONTINUES against the new base: erase a
    // pre-retrain admitted id, then admit once more
    StreamingEvents.geoEraseBatch(Seq(11L).toDF("vec_id"), 1L, stateDir,
      outErs)
    StreamingEvents.geoAdmitBatch(
      Seq(13L -> Array(0f, 0f, 0.7f, 0.7f)).toDF("vec_id", "embedding"),
      2L, stateDir, outAdm, 0.9, compactEvery = 2, driftFactor = 2.0)
    val fin = HnswGeoStore.load(spark, stateDir)
    assert(fin.epoch === 5L && fin.baseEpoch === 3L,
      s"post-retrain erasure + admission must stack on the new base " +
        s"(epoch=${fin.epoch}, base=${fin.baseEpoch})")
    val served = HnswGeoStore.batchNeighbors(fin,
        Seq((900L, Seq(0.5, 0.5, 0.5, 0.5))).toDF("probe_id", "embedding"),
        k = 10, efSearch = 16, nProbe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(served.intersect(Set(2L, 11L)).isEmpty,
      "no erased id may serve across the retrain boundary")
    assert(Set(12L, 13L).subsetOf(served),
      "no admitted batch may be lost across the composition")
    // both erasure ledger batches intact
    assert(spark.read.parquet(s"$outErs/batch_id=0")
      .as[Long].collect().toSet === Set(2L))
    assert(spark.read.parquet(s"$outErs/batch_id=1")
      .as[Long].collect().toSet === Set(11L))
    CacheRegistry.releaseAll()
  }
}
