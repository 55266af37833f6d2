package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, StreamingQuery}
import graft.functions.TextFunctions
import graft.operators.{Anonymize, DedupState, EmbeddingStore, HnswGeoStore, Mape, MetricFamily, StoreCommits}

/** Structured Streaming surface (SURVEY.md §2.8/§7.6 — no reference
  * counterpart; the reference's only cross-run state, the uid→pseudonym
  * key table, is exactly `foreachBatch` upsert semantics made continuous).
  *
  * Everything here is the same declarative plan the batch engine runs —
  * `hourlySums(stream)` is q17's aggregation with a watermark bolted on —
  * so the batch query IS the oracle: replaying a bounded event set through
  * the stream must equal the batch result, with late rows beyond the
  * watermark dropped (asserted in StreamingSpec).
  */
object StreamingEvents {

  /** Streaming form of q17: 1-hour tumbling windows of cent-quantized
    * value sums over `events(ts, value)`, late data beyond `watermark`
    * dropped. State per key is one partial sum — bounded by the number of
    * open windows, which the watermark caps; at 100 TB/day this scales by
    * shuffle partitions, not data volume.
    */
  def hourlySums(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"))
      .agg((sum(round(col("value") * 100)) / 100.0).as("sum_value"))
      .select(col("window").getField("start").as("window_start"), col("sum_value"))

  /** The reference's MAPE pipeline (E1) made continuous — the partial-sums
    * store that keeps the full batch semantics available at any moment:
    *
    * Each micro-batch pre-aggregates its raw rows to (proxy_date, hour
    * [, zone]) PARTIAL sums and overwrites its own `batch_id=N` partition
    * (idempotent under foreachBatch replay — sum-merging in place would
    * double-count a replayed epoch). Because sums are associative,
    * re-aggregating the partials reproduces the batch hourly aggregation
    * exactly, so [[mapeFromPartials]] can run the UNCHANGED batch
    * operators — same WAPE ordering contract, same filters, same pivot —
    * over data that arrived as a stream. State never lives in the stream:
    * the store IS the state, replayable and inspectable.
    */
  def mapePartialsSink(stream: DataFrame, storeDir: String,
                       checkpointDir: String, zone: Boolean = false,
                       families: Seq[MetricFamily] = Mape.defaultFamilies)
      : StreamingQuery = {
    val keys = if (zone) Seq("proxy_date", "hour", "zone") else Seq("proxy_date", "hour")
    // validate against the (fixed) stream schema BEFORE start(): an empty
    // mapping must fail here with the contract message, not kill the
    // running query on its first micro-batch
    val present = families.flatMap(_.base).filter(stream.columns.contains)
    require(present.nonEmpty,
      "No columns found in the dataframe, make sure to define mappings correctly")
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.groupBy(keys.map(col): _*)
          .agg(present.head -> "sum", present.tail.map(_ -> "sum"): _*)
          .toDF(keys ++ present: _*)
          .write.mode("overwrite").option("compression", "snappy")
          .parquet(s"$storeDir/batch_id=$batchId")
      }
      .start()
  }

  /** Daily MAPE over everything streamed so far: read the partial store,
    * drop the provenance column, and run the batch pipeline.
    *
    * Concurrency note: a crash-recovery REPLAY overwrites its batch
    * partition in place; a read racing that rewrite can see a transient
    * FileNotFoundException. Normal operation only ever ADDS partitions
    * (each batch id is written once) — query freely while the stream runs,
    * and retry the read if it races a recovery rewrite.
    */
  def mapeFromPartials(spark: SparkSession, storeDir: String,
                       zone: Boolean = false,
                       families: Seq[MetricFamily] = Mape.defaultFamilies)
      : DataFrame =
    Mape.dailyMapeAggregation(
      Mape.hourlyAggregation(
        spark.read.parquet(storeDir).drop("batch_id"), zone, families),
      zone, families)

  /** Streaming exact dedup: drop events whose `idCols` key was already
    * seen within the watermark horizon. State is bounded BY the watermark
    * (expired keys are evicted), which is what makes exact dedup viable on
    * an unbounded stream — the batch analog is `dropDuplicates`, the
    * horizon is the price of bounded state.
    */
  def dedupStream(events: DataFrame, idCols: Seq[String],
                  watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  /** One stored signature in a band bucket's state. */
  case class SigEntry(id: Long, sig: Seq[Long])
  /** One banded row entering the stateful operator. */
  case class BandRow(bucket: String, id: Long, sig: Seq[Long])
  /** A streaming near-dup candidate: estimated Jaccard = matching-lane
    * fraction of the two MinHash signatures.
    */
  case class CandPair(i: Long, j: Long, est_jaccard: Double)

  /** Per-ROW MinHash signature as a pure expression — `array_min` over the
    * row's own shingle array per permutation, no aggregation. The min over
    * the (multiset) shingle array equals the min over the shingle SET, so
    * values are identical to the batch signature pipeline's — which is
    * what lets a stream compute signatures without a groupBy that would
    * need watermark gymnastics before any stateful logic.
    */
  /** Stream-stream interval join — correlate two live event streams on a
    * key within a bounded time window (click→impression attribution,
    * request→response pairing, sensor cross-correlation). Right-side rows
    * match a left row when they carry the same `keyCol` and land in
    * `[l_ts, l_ts + within]`.
    *
    * Both sides are watermarked, and the range condition is what makes the
    * state BOUNDED: Spark derives from it how long each side's rows can
    * still find a partner (left rows expire `within` + watermark after
    * their event time, right rows watermark-only), and evicts buffered
    * state past that horizon. Without the interval bound a stream-stream
    * inner join would buffer both streams forever. State scales with rows
    * per (watermark + within) horizon × shuffle partitions, not with
    * stream lifetime.
    *
    * Output: (keyCol, every other left column `l_`-prefixed, every other
    * right column `r_`-prefixed). Replaying bounded streams equals the
    * batch interval join of the same frames (StreamingSpec).
    *
    * `joinType` "left_outer" additionally emits every UNMATCHED left row
    * (null right columns) once the watermark proves no partner can still
    * arrive — the abandoned-impression / unanswered-request feed. Outer
    * results are therefore watermark-delayed by construction; inner
    * matches still emit immediately.
    */
  def correlateStreams(left: DataFrame, right: DataFrame, keyCol: String,
                       tsCol: String = "ts", within: String = "30 minutes",
                       watermark: String = "10 minutes",
                       joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left_outer").contains(joinType),
      s"joinType=$joinType: inner | left_outer (right_outer = swap the sides)")
    def prefixed(df: DataFrame, p: String): DataFrame =
      df.columns.foldLeft(df)((d, c) =>
        if (c == keyCol) d else d.withColumnRenamed(c, s"$p$c"))
    val l = prefixed(left, "l_").withWatermark(s"l_$tsCol", watermark)
    val r = prefixed(right, "r_").withWatermark(s"r_$tsCol", watermark)
    l.join(r, l(keyCol) === r(keyCol) &&
      col(s"r_$tsCol") >= col(s"l_$tsCol") &&
      col(s"r_$tsCol") <= col(s"l_$tsCol") + expr(s"INTERVAL $within"),
      joinType)
      .drop(r(keyCol))
  }

  def rowMinhashSignature(text: Column, n: Int = 3, numPerms: Int = 16): Column =
    array((0 until numPerms).map(p =>
      array_min(transform(TextFunctions.shingles(text, n),
        s => xxhash64(s, lit(p))))): _*)

  /** Streaming MinHash near-dup detection — custom state via
    * `flatMapGroupsWithState`, the piece of the streaming surface windows
    * and `dropDuplicates` can't express: each LSH band bucket keeps the
    * signatures of the last `maxPerBucket` documents that hashed into it,
    * and every arriving document is compared against its buckets' state,
    * emitting candidate pairs with their estimated Jaccard immediately —
    * no batch boundary, no full-corpus join.
    *
    * State bounds, precisely: PER BUCKET, at most `maxPerBucket`
    * signatures (first-in evicted) — the streaming analog of the df cap, so
    * a degenerate hot bucket cannot grow without bound. The bucket
    * POPULATION, however, grows with the distinct content seen — O(docs ×
    * bands) over the stream's lifetime — so a long-running deployment
    * should pass `idleTimeout`: a processing-time timeout that removes any
    * bucket with no arrivals for that long, making total state track the
    * recently-active content space instead. An evicted bucket that later
    * sees a new document restarts empty; the cost is missed pairs against
    * documents older than the idle horizon — the same recall trade
    * `dropDuplicatesWithinWatermark` makes. `idleTimeout` is OPT-IN
    * because processing-time timeouts make the engine schedule extra
    * no-data micro-batches to fire expirations — with the default
    * as-fast-as-possible trigger that is a busy loop; pair it with a real
    * `Trigger.ProcessingTime(...)` interval so expiry batches arrive on
    * the trigger cadence. Candidates are estimates
    * by design (banding recall semantics, matching-lane Jaccard estimate);
    * route them through an exact verify (join back to texts) or dedup them
    * with `dropDuplicatesWithinWatermark("i", "j")` downstream — the same
    * pair can surface from several shared buckets.
    *
    * Works identically on a batch frame (flatMapGroupsWithState's batch
    * fallback starts with empty state), which is what the spec uses to pin
    * stream-equals-batch candidate sets against [[graft.operators.Dedup]].
    */
  def streamingNearDupCandidates(docs: DataFrame, n: Int = 3,
      numPerms: Int = 16, bands: Int = 4,
      maxPerBucket: Int = 64,
      idleTimeout: Option[String] = None): Dataset[CandPair] = {
    require(numPerms % bands == 0,
      s"numPerms ($numPerms) must divide evenly into bands ($bands)")
    val spark = docs.sparkSession
    import spark.implicits._
    val rowsPerBand = numPerms / bands
    val bucketKeys = (0 until bands).map(b =>
      concat_ws(":", lit(b) +: (0 until rowsPerBand)
        .map(r => col("sig")(b * rowsPerBand + r)): _*))
    docs.filter(size(TextFunctions.tokens(col("text"))) >= n)
      .select(col("doc_id").cast("long").as("id"),
        rowMinhashSignature(col("text"), n, numPerms).as("sig"))
      .select(explode(array(bucketKeys: _*)).as("bucket"), col("id"), col("sig"))
      .as[BandRow]
      .groupByKey(_.bucket)
      .flatMapGroupsWithState[Seq[SigEntry], CandPair](
        OutputMode.Append,
        if (idleTimeout.isDefined) GroupStateTimeout.ProcessingTimeTimeout
        else GroupStateTimeout.NoTimeout) { (_, rows, state) =>
        if (state.hasTimedOut) {
          // idle bucket: no arrivals within idleTimeout — free its state
          state.remove()
          Iterator.empty
        } else {
          var entries = state.getOption.getOrElse(Seq.empty)
          val out = Seq.newBuilder[CandPair]
          // intra-batch arrival order within a group is not deterministic —
          // process by ascending id so emissions are replay-stable
          rows.toSeq.sortBy(_.id).foreach { r =>
            entries.foreach { e =>
              if (e.id != r.id)
                out += CandPair(math.min(e.id, r.id), math.max(e.id, r.id),
                  e.sig.zip(r.sig).count { case (a, b) => a == b }.toDouble / numPerms)
            }
            entries = (entries :+ SigEntry(r.id, r.sig)).takeRight(maxPerBucket)
          }
          state.update(entries)
          // the timeout clock restarts on every batch that touches the
          // bucket, so only genuinely idle buckets expire
          idleTimeout.foreach(state.setTimeoutDuration)
          out.result().iterator
        }
      }
  }

  /** A series-silence alert: `series` produced no event for the configured
    * gap (in EVENT time); `last_seen` is its final event before going dark.
    */
  case class GapAlert(series: String, last_seen: java.sql.Timestamp)

  /** Streaming gap DETECTION — the monitoring counterpart of the batch
    * [[graft.operators.TimeSeries.gapFillHourly]]: instead of materializing
    * null rows on a dense spine after the fact, emit an alert the moment a
    * series has been silent for `gap` of event time. The piece only a
    * custom-state operator can express: windows aggregate data that IS
    * there; this fires on data that ISN'T.
    *
    * Mechanics: state per live series is ONE long (its max event time).
    * Each arrival re-arms an event-time timeout at `last_seen + gap`; the
    * timeout fires when the WATERMARK (derived from other series' arrivals)
    * passes that mark — event-time semantics, so replays produce identical
    * alerts and wall-clock stalls of the whole stream alert nothing (no
    * data, no watermark movement — correct: the pipeline is down, not the
    * series). On firing, the alert is emitted once and state is removed; a
    * later arrival restarts the series fresh. Total state = one entry per
    * live series, self-cleaning on silence — strictly bounded.
    */
  def streamingGapAlerts(events: DataFrame, seriesCol: String, gap: String,
                         watermark: String = "10 minutes"): Dataset[GapAlert] = {
    val spark = events.sparkSession
    import spark.implicits._
    // parse once at plan build; months are calendar-dependent, reject them
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    require(iv.months == 0, s"gap must be a fixed duration (days/time), got '$gap'")
    val gapMs = iv.days * 86400000L + iv.microseconds / 1000L
    require(gapMs > 0, s"gap must be positive, got '$gap'")
    events.withWatermark("ts", watermark)
      .select(col(seriesCol).cast("string").as("series"), col("ts"))
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, GapAlert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (series, rows, state) =>
          if (state.hasTimedOut) {
            val lastSeen = state.get
            state.remove()
            Iterator.single(GapAlert(series, new java.sql.Timestamp(lastSeen)))
          } else {
            val maxTs = rows.map(_._2.getTime).max
            val last = math.max(state.getOption.getOrElse(Long.MinValue), maxTs)
            state.update(last)
            // re-arm: silent until the watermark passes last_seen + gap.
            // Clamped above the CURRENT watermark, defensively: whether a
            // row older than the eviction watermark can reach this branch
            // depends on how far the operator's late-row filter lags the
            // eviction watermark, which has shifted across Spark versions.
            // If one ever does, an unclamped setTimeoutTimestamp THROWS
            // ("timestamp cannot be earlier than watermark") and kills the
            // query; the clamp fires the already-overdue alert on the next
            // watermark advance instead. Spark 4.1 filters with the current
            // watermark (spec-pinned), so the clamp is inert today.
            state.setTimeoutTimestamp(
              math.max(last + gapMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** One tracked counter of a group's Misra–Gries summary. */
  case class MGEntry(item: String, count: Long)
  /** A group's rolling heavy-hitters summary: at most k counters plus the
    * total observations n, so consumers can apply the ≤ n/(k+1)
    * undercount bound themselves.
    */
  case class HotKeys(group: String, n: Long, hitters: Seq[MGEntry])

  /** Continuous per-group heavy hitters — the streaming form of q43's
    * `heavy_hitters` aggregate, over the SAME [[graft.functions.MisraGries]]
    * buffer algebra (`MisraGriesCore`): each micro-batch folds its items
    * into the group's bounded counter state and emits the updated summary
    * (Update output mode). The hot-key monitor a pipeline runs next to
    * ingestion: which sources/tokens/uids dominate the stream right now,
    * with O(k) state per group forever — no watermark needed because state
    * never grows past k counters.
    *
    * Items are folded in sorted order within each micro-batch: arrival
    * order inside a batch is nondeterministic, Misra–Gries summaries are
    * order-dependent once decrements fire, and a replayed epoch must
    * produce the identical summary. Any fold order is a valid MG stream,
    * so the bounds are unaffected. When a group's distinct-item count
    * stays ≤ k, counts are EXACT and equal the batch aggregate's — the
    * regime the spec pins stream-equals-batch.
    */
  def streamingHeavyHitters(events: DataFrame, groupCol: String,
                            itemCol: String, k: Int = 8): Dataset[HotKeys] = {
    require(k > 0, s"streamingHeavyHitters needs a positive counter budget, got $k")
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col(groupCol).cast("string").as("g"),
        col(itemCol).cast("string").as("item"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[HotKeys, HotKeys](GroupStateTimeout.NoTimeout) {
        (g, rows, state) =>
          val prev = state.getOption.getOrElse(HotKeys(g, 0L, Seq.empty))
          val buf = scala.collection.mutable.HashMap.newBuilder
            .addAll(prev.hitters.map(e => e.item -> e.count)).result()
          var n = prev.n
          rows.map(_._2).toSeq.sorted.foreach { item =>
            graft.functions.MisraGriesCore.observe(buf, item, k); n += 1
          }
          val next = HotKeys(g, n,
            graft.functions.MisraGriesCore.sorted(buf)
              .map { case (i, c) => MGEntry(i, c) }.toSeq)
          state.update(next)
          next
      }
  }

  /** Continuous uid pseudonymization: every micro-batch runs the batch
    * key-table upsert (J2/S6 — broadcast join + anti-join + blake2b +
    * crash-safe swap) via `foreachBatch`, writing the pseudonymized rows
    * as snappy parquet. Pseudonyms stay stable across batches AND across
    * stream restarts because the key table is the same persistent one the
    * batch pipeline maintains.
    *
    * foreachBatch is AT-LEAST-ONCE: after a crash between the write and
    * the checkpoint commit, the same epoch replays. The write is therefore
    * keyed by batchId — each epoch OVERWRITES its own `batch_id=N`
    * partition, so a replay is idempotent instead of duplicating rows.
    * (The key-table upsert is naturally idempotent: replayed uids anti-join
    * to nothing.) Readers see `batch_id` as an ordinary partition column.
    *
    * Layout contract: `outDir` must be dedicated to this sink (start it
    * empty). Parquet files at the directory root alongside the
    * `batch_id=N` partitions would make reads fail with conflicting
    * directory structures.
    */
  def pseudonymizeStream(stream: DataFrame, column: String, keyDir: String,
                         outDir: String, checkpointDir: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Anonymize.uidAnonymization(batch.sparkSession, batch, column, keyDir)
          .write.mode("overwrite").option("compression", "snappy")
          .parquet(s"$outDir/batch_id=$batchId")
      }
      .start()

  /** Continuous corpus admission over PERSISTED dedup state: each
    * micro-batch of documents (doc_id, text) is deduplicated against the
    * standing corpus STORE ([[DedupState]] — exact-fingerprint anti-join
    * + incremental near-dup, corpus text never re-shingled), survivors
    * land in `outDir/batch_id=N`, and the store folds forward so the NEXT
    * batch dedups against everything admitted so far. The streaming form
    * of the reference's persist-state/upsert-per-run key-table pattern
    * applied to corpus curation.
    *
    * The store is GENERATIONAL ([[DedupState]] class doc): each batch
    * reads the state AS OF its PINNED pre-generation (`loadAt` —
    * partition pruning hides anything newer) and commits the next one,
    * which writes only the batch's own posting/fingerprint rows plus the
    * small dfs/signature snapshots — the corpus-scale tables are never
    * rewritten, so per-batch state cost stays batch-sized at any corpus
    * size. The pre-generation is recorded in a persisted batch→gen
    * mapping BEFORE any store write ([[pinTextPreGen]] — the geo sink's
    * discipline), so at-least-once replay is idempotent (a replay
    * re-reads its unchanged source generation and overwrites the same
    * target generation + `batch_id=b` output partition), an out-of-band
    * [[DedupState]] compact/append BETWEEN runs shifts the resumed
    * stream's allocation instead of being overwritten, and one landing
    * inside a crash-replay window fails loudly on the writer-identity
    * marker. Caller seeds the store with [[DedupState.build]]
    * (generation 0; empty corpus works) before starting the stream.
    *
    * With `compactEvery = K > 0`, every K-th epoch is written as a full
    * BASE generation (append-with-compaction fused — the
    * one-generation-per-batch numbering replay depends on is preserved)
    * and generations before the PREVIOUS base are vacuumed. Vacuuming
    * only up to the previous base is the crash-safety margin: a replay of
    * the current batch still finds its complete source range on disk.
    */
  def dedupAdmissionStream(stream: DataFrame, stateDir: String,
                           outDir: String, checkpointDir: String,
                           threshold: Double = 0.8,
                           compactEvery: Int = 0): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dedupAdmitBatch(batch, batchId, stateDir, outDir, threshold,
          compactEvery)
      }
      .start()

  /** One [[dedupAdmissionStream]] micro-batch — the sink body, exposed
    * package-private so the replay contracts are directly spec-testable.
    * Pre-state is pinned through the persisted batch→generation mapping
    * ([[pinTextPreGen]] — the geo sink's discipline), which LIFTS the
    * historical one-writer restriction: an out-of-band [[DedupState]]
    * compact/append between runs shifts the resumed stream's generation
    * allocation instead of being overwritten, and one landing inside a
    * crash-replay window fails loudly on the writer-identity marker.
    */
  private[graft] def dedupAdmitBatch(batch: DataFrame, batchId: Long,
                                     stateDir: String, outDir: String,
                                     threshold: Double,
                                     compactEvery: Int)
      : Unit = withStoreLock(stateDir) {
    val spark = batch.sparkSession
    val asBase = compactEvery > 0 && (batchId + 1) % compactEvery == 0
    val preGen = pinTextPreGen(spark, stateDir, batchId)
    val store = DedupState.loadAt(spark, stateDir, preGen)
    val (kept, _) = DedupState.admit(spark, store, batch, threshold,
      asBase, writer = geoWriterTag(batchId))
    kept.write.mode("overwrite").option("compression", "snappy")
      .parquet(s"$outDir/batch_id=$batchId")
    // reclaim generations superseded by the PREVIOUS base (the
    // pre-admit store view's latest base) — never the range a replay
    // of THIS batch would re-read
    if (asBase) {
      DedupState.vacuum(spark, store)
      pruneStreamMeta(spark, stateDir, batchId)
    }
    // drop the admission's persisted intermediates (posting lists,
    // merged dfs) — state lives on disk between batches, not in cache
    graft.CacheRegistry.releaseAll()
  }

  /** Continuous EMBEDDING admission over the persisted similarity store —
    * the vector counterpart of [[dedupAdmissionStream]]: each micro-batch
    * of (vec_id, embedding) rows is filtered against everything admitted
    * so far ([[EmbeddingStore.incrementalAdmit]] — same-cell cosine vs
    * the stored corpus and vs smaller-id batch peers, corpus read
    * partition-pruned to the batch's cells), survivors land in
    * `outDir/batch_id=N`, and the store folds forward as epoch `b+1`.
    * Same replay protocol: batch `b` reads epoch `b`, overwrites epoch
    * `b+1` behind its commit marker — at-least-once-safe. Caller seeds
    * the store with [[EmbeddingStore.build]] (epoch 0) before starting;
    * the index is frozen there, so every batch assigns against the same
    * geometry.
    */
  def embeddingAdmissionStream(stream: DataFrame, stateDir: String,
                               outDir: String, checkpointDir: String,
                               threshold: Double,
                               compactEvery: Int = 0): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        withStoreLock(stateDir) {
        val spark = batch.sparkSession
        val asBase = compactEvery > 0 && (batchId + 1) % compactEvery == 0
        // pre-state pinned through the persisted batch→epoch mapping +
        // writer-identity guard (the geo sink's discipline): replays are
        // idempotent, out-of-band compacts between runs shift the
        // resumed allocation, races into a crash window fail loudly
        val preEpoch = pinPreState(spark, stateDir, batchId,
          "embedding-store", "epoch",
          EmbeddingStore.latestEpoch(spark, stateDir))
        val store = EmbeddingStore.loadAt(spark, stateDir, preEpoch)
        val (kept, _) =
          EmbeddingStore.admit(spark, store, batch, threshold, asBase,
            writer = geoWriterTag(batchId))
        kept.write.mode("overwrite").option("compression", "snappy")
          .parquet(s"$outDir/batch_id=$batchId")
        // reclaim epochs superseded by the PREVIOUS base only — a replay
        // of this batch must still find its source range (see
        // dedupAdmissionStream)
        if (asBase) {
          EmbeddingStore.vacuum(spark, store)
          pruneStreamMeta(spark, stateDir, batchId)
        }
        graft.CacheRegistry.releaseAll()
        }
      }
      .start()

  /** Continuous GEO-ROUTED graph-index admission over
    * [[graft.operators.HnswGeoStore]] (the 100 TB semantic-dedup default
    * route): each micro-batch is filtered by the store's ROUTED batch
    * search (probes explode to their nProbe nearest cells across the
    * live epochs — never a full segment fan-out, and never a driver-side
    * batch literal, so the batch size has no cap), survivors land in
    * `outDir/batch_id=N` AND become their own per-cell delta segment
    * as epoch `b+1` — batch-sized writes at any corpus size. Every
    * `compactEvery`-th batch folds the delta epochs into the base by
    * WARM insertion ([[graft.operators.Hnsw.addGeo]] is the compaction
    * kernel — one pass over the base, delta-sized insertions, not a
    * rebuild) and vacuums the superseded range. Same
    * at-least-once replay contract as the other admission sinks, but
    * with the pre-state pinned by a PERSISTED batch→epoch mapping
    * instead of assuming epoch = batchId: a batch's FIRST attempt reads
    * the store's latest committed epoch, records it under
    * `stateDir/stream_meta/batch_id=N` (before any epoch write), and
    * appends epoch latest+1; a REPLAY re-reads the recorded epoch, so
    * the rewrite stays idempotent. This is what makes the documented
    * out-of-band lifecycle ops SAFE between runs: a
    * [[graft.operators.HnswGeoStore.retrainIfDrifted]] or
    * [[graft.operators.HnswGeoStore.compact]] allocates the next epoch
    * itself, and the resumed stream's next batch sees it as the new
    * latest and appends AFTER it — where a batchId-pinned sink would
    * have overwritten the retrained base's segments and demoted its
    * commit marker. An out-of-band epoch landing between a crash and its
    * replay, past the replay's recorded allocation, fails loudly instead
    * of overwriting: epochs beyond the replay's own allocation trip the
    * divergence guard, and an out-of-band write AT the allocation is
    * distinguished from the crashed attempt's own commit by the marker's
    * WRITER identity (the sink commits under `stream:batch=N`, lifecycle
    * ops under `lifecycle`) — exact even when both commit a base, the
    * case r14's is_base-only comparison could not split. Caller seeds
    * with [[graft.operators.HnswGeoStore.build]] (epoch 0; empty corpus
    * works — the index, trained on a sample of the expected
    * distribution, IS the routing geometry, and its empty drift
    * baseline is re-snapshotted at the first non-empty compaction).
    */
  /** With `driftFactor > 0`, every compaction batch ALSO runs the
    * epoch-count drift check ([[graft.operators.HnswGeoStore
    * .retrainIfDrifted]]'s fold) and, when it trips, RETRAINS as part of
    * the base commit the sink already owns — the admitted batch folds
    * into the retrained base as the same epoch `preEpoch + 1` under the
    * batch's writer tag, so one-epoch-per-batch numbering, replay
    * idempotence, and the divergence guards all hold by construction.
    * This removes the operational race the out-of-band
    * `retrainIfDrifted` documented ("stop the stream, retrain,
    * restart"): a continuously-admitting store now retrains at its own
    * compaction cadence.
    */
  def hnswGeoAdmissionStream(stream: DataFrame, stateDir: String,
                             outDir: String, checkpointDir: String,
                             threshold: Double,
                             compactEvery: Int = 0,
                             driftFactor: Double = 0.0): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        geoAdmitBatch(batch, batchId, stateDir, outDir, threshold,
          compactEvery, driftFactor)
      }
      .start()

  /** The admission sinks' writer identity on every commit marker. */
  private def geoWriterTag(batchId: Long): String = s"stream:batch=$batchId"

  /** Pin a store's pre-state id (epoch or generation — `metaCol` names
    * the mapping column and the marker key, `what` the store kind in
    * messages) for a micro-batch and enforce the replay contracts — the
    * prologue every store-writing sink runs BEFORE touching the store:
    *
    * Replay detection: the batch→state mapping under
    * `stateDir/<metaDir>` is written BEFORE any store write, so a
    * half-finished attempt always left one behind. ABSENCE must be
    * detected explicitly (no dir, or a dir whose write never committed a
    * part file — the rename-on-commit protocol leaves none behind on a
    * crash mid-write): only that is a first attempt. Any OTHER read
    * failure rethrows — a catch-all here would let a transient FS error
    * masquerade as a first attempt, re-pin to the POST-batch state, and
    * the admission would then left-anti-drop the batch's own ids: silent
    * data loss on the at-least-once path (ADVICE r14).
    *
    * Divergence guard: a state committed at or beyond this batch's own
    * allocation (pre + 1) is either this batch's own crashed attempt
    * (overwrite is then idempotent) or an out-of-band writer that raced
    * the crash-replay window — overwriting would silently discard or
    * demote it. The marker's WRITER identity tells them apart exactly —
    * the sink commits under a per-batch tag, lifecycle ops under
    * "lifecycle" — even when both commit a base, the case is_base alone
    * cannot split.
    *
    * `metaDir`/`tag` separate SINK IDENTITIES on one store: an erasure
    * stream runs beside an admission stream with its own batch-id space
    * (stream_meta_erase) and its own writer tag, so the two sinks'
    * mappings never collide and an interleaved commit from the other
    * sink reads as exactly what it is — an out-of-band writer — under
    * the unchanged shift/loud-fail discipline.
    */
  private def pinPreState(spark: SparkSession, stateDir: String,
                          batchId: Long, what: String,
                          metaCol: String, latest: => Long,
                          metaDir: String = "stream_meta",
                          tag: Option[String] = None): Long = {
    import spark.implicits._
    val writerTag = tag.getOrElse(geoWriterTag(batchId))
    def writerAt(id: Long): String =
      StoreCommits.read(spark, stateDir, s"$metaCol=$id")._2
    val metaPath = s"$stateDir/$metaDir/batch_id=$batchId"
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaP = new org.apache.hadoop.fs.Path(metaPath)
    val mappingPresent = fs.exists(metaP) &&
      fs.listStatus(metaP).exists(st =>
        st.getPath.getName.startsWith("part-") && st.getLen > 0)
    val recorded: Option[Long] =
      if (!mappingPresent) None
      else Some(spark.read.parquet(metaPath)
        .select(col(metaCol)).head().getLong(0))
    val pre = recorded.getOrElse {
      val l = latest
      // no mapping: a first attempt — or a replay whose mapping was
      // cleared (the guards' "clear stream_meta to re-pin" remedy) after
      // its own commit landed. The marker at `l` then carries THIS
      // batch's writer tag, and the pre-state is the one before it:
      // pinning `l` would pin the POST-batch state, and the admission's
      // left-anti would drop the batch's own rows
      val pinned = if (l >= 1 && writerAt(l) == writerTag) l - 1 else l
      Seq(Tuple1(pinned)).toDF(metaCol).coalesce(1)
        .write.mode("overwrite").parquet(metaPath)
      pinned
    }
    val latestNow = latest
    if (latestNow > pre) {
      // Committed state at or ABOVE the replayed batch's own allocation.
      // Legal only when the allocation carries this batch's own tag: its
      // attempt ALREADY COMMITTED (crash between the commit and the
      // checkpoint), and anything above it is a live PEER SINK that then
      // advanced the store — the admission×erasure composition,
      // including a drift retrain base landing inside the replay window
      // (round-17 verdict #6). The replay then overwrites its own state
      // with content re-derived from the SAME pinned pre-state — bitwise
      // identical by the replay discipline, so the states above (which
      // consumed this one's content) stay consistent. Any other writer
      // at the allocation is a genuine conflict and fails loudly.
      val committedWriter = writerAt(pre + 1)
      require(committedWriter == writerTag,
        s"$what stream replay of batch $batchId pinned pre-state " +
          s"$metaCol $pre, but $metaCol ${pre + 1} (latest $latestNow) " +
          s"is committed by '$committedWriter', not this batch's " +
          s"'$writerTag' — an out-of-band retrain/compact landed between " +
          "the crash and this replay; re-run the out-of-band op after " +
          "the stream catches up, or clear stream_meta to re-pin")
    }
    pre
  }

  private def pinGeoPreEpoch(spark: SparkSession, stateDir: String,
                             batchId: Long): Long =
    pinPreState(spark, stateDir, batchId, "geo-store", "epoch",
      HnswGeoStore.latestEpoch(spark, stateDir))

  /** [[pinGeoPreEpoch]]'s twin for the generational TEXT dedup store —
    * what lifts [[dedupAdmissionStream]]'s historical restriction that
    * nothing else may write generations while the stream exists: the
    * resumed stream allocates PAST an out-of-band compaction instead of
    * overwriting it, and races into a crash-replay window fail loudly on
    * the writer-identity marker ([[graft.operators.DedupState]] commits
    * carry the same (is_base, writer) marker as the geo store's).
    */
  private def pinTextPreGen(spark: SparkSession, stateDir: String,
                            batchId: Long): Long =
    pinPreState(spark, stateDir, batchId, "dedup-store", "gen",
      graft.operators.DedupState.latestGen(spark, stateDir))

  /** Drop mappings of batches older than the current one (checkpointed
    * offsets only ever re-run the CURRENT batch, so they can never
    * replay again).
    */
  private def pruneStreamMeta(spark: SparkSession, stateDir: String,
                              batchId: Long,
                              metaDir: String = "stream_meta"): Unit = {
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaRoot = new org.apache.hadoop.fs.Path(s"$stateDir/$metaDir")
    if (fs.exists(metaRoot))
      fs.listStatus(metaRoot).map(_.getPath)
        .filter { p =>
          val n = p.getName.stripPrefix("batch_id=")
          n.forall(_.isDigit) && n.nonEmpty && n.toLong < batchId
        }
        .foreach(p => fs.delete(p, true))
  }

  /** The post-base reclaim every geo-admitting sink runs: vacuum
    * segments superseded by the PREVIOUS base only — a replay of this
    * batch must still find its source range — and drop older batches'
    * mappings.
    */
  private def reclaimGeoAfterBase(spark: SparkSession,
                                  preStore: graft.operators.HnswGeoStore.Store,
                                  stateDir: String, batchId: Long): Unit = {
    HnswGeoStore.vacuum(spark, preStore)
    pruneStreamMeta(spark, stateDir, batchId)
  }

  /** One [[hnswGeoAdmissionStream]] micro-batch — the sink body, exposed
    * package-private so the replay/divergence contracts are directly
    * spec-testable (a crashed attempt is just "a mapping on disk without
    * its epoch commit").
    */
  private[graft] def geoAdmitBatch(batch: DataFrame, batchId: Long,
                                   stateDir: String, outDir: String,
                                   threshold: Double,
                                   compactEvery: Int,
                                   driftFactor: Double = 0.0)
      : Unit = withStoreLock(stateDir) {
    val spark = batch.sparkSession
    val asBase = compactEvery > 0 && (batchId + 1) % compactEvery == 0
    val preEpoch = pinGeoPreEpoch(spark, stateDir, batchId)
    val store = HnswGeoStore.loadAt(spark, stateDir, preEpoch)
    val kept =
      if (asBase && driftFactor > 0.0) {
        // drift decision at the compaction boundary (see the sink doc):
        // filter first, then either RETRAIN-with-fold-in or the normal
        // compaction append — both commit the same epoch preEpoch + 1
        // under the batch's tag, so a replay re-derives the identical
        // decision from the identical pinned pre-state
        val k0 = graft.CacheRegistry.persist(
          HnswGeoStore.incrementalAdmit(store, batch, threshold))
        val foldRows =
          if (HnswGeoStore.attrsPresent(spark, store)) k0
          else k0.select(col("vec_id"), col("embedding"))
        val (_, report) = HnswGeoStore.retrainIfDrifted(spark, store,
          driftFactor, foldIn = Some(foldRows),
          writer = geoWriterTag(batchId))
        if (!report.retrained)
          HnswGeoStore.append(spark, store, foldRows, asBase = true,
            checkIds = false, writer = geoWriterTag(batchId))
        k0
      } else
        HnswGeoStore.admit(spark, store, batch, threshold, asBase,
          writer = geoWriterTag(batchId))._1
    kept.write.mode("overwrite").option("compression", "snappy")
      .parquet(s"$outDir/batch_id=$batchId")
    if (asBase) reclaimGeoAfterBase(spark, store, stateDir, batchId)
    graft.CacheRegistry.releaseAll()
  }

  /** The erasure sinks' writer identity — distinct from the admission
    * sinks' [[geoWriterTag]], so interleaved commits from the two sink
    * kinds on one store arbitrate loudly on the marker instead of
    * being mistaken for each other's replays.
    */
  private[graft] def eraseWriterTag(batchId: Long): String =
    s"erase:batch=$batchId"

  /** Per-store-path commit locks: two sinks on ONE store (an erasure
    * stream beside an admission stream — the documented composition)
    * run their foreachBatch bodies under the same driver, but Spark
    * does not serialize bodies across queries — without this lock both
    * could pass the pre-state divergence check and allocate the same
    * epoch concurrently (check-then-act), silently overwriting each
    * other's stats/marker writes. The lock serializes whole batch
    * bodies per stateDir on this driver; WRITERS ON ANOTHER DRIVER are
    * outside it and keep the documented out-of-band contract (their
    * commits shift allocations between batches and fail loudly on the
    * writer-identity marker inside a crash window).
    */
  private val storeLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def withStoreLock[T](stateDir: String)(body: => T): T = {
    // Key on the FILESYSTEM-QUALIFIED URI, not the raw string (ADVICE
    // r17): two sinks addressing one store through different spellings
    // (trailing slash, file:-scheme vs plain path) must land on the
    // SAME lock, or the cross-sink epoch serialization silently
    // vanishes for exactly the composition it protects.
    val key = {
      val p = new org.apache.hadoop.fs.Path(stateDir)
      org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .map { s =>
          val conf = s.sparkContext.hadoopConfiguration
          p.getFileSystem(conf).makeQualified(p).toUri.toString
        }
        // No session (shouldn't happen on a sink path): Path still
        // normalizes slashes, which covers the spelling variants
        // short of scheme qualification.
        .getOrElse(p.toUri.toString)
    }
    val lock = storeLocks.computeIfAbsent(key, _ => new Object)
    lock.synchronized(body)
  }

  /** CONTINUOUS ERASURE from the standing GEO store — the streaming
    * twin of [[graft.operators.HnswGeoStore.delete]] (round-16 verdict
    * #3: every other lifecycle op had a streaming twin; takedown/GDPR
    * queues are continuous in production, so erasure gets one too).
    * Each micro-batch of `vec_id` rows commits ONE tombstone epoch
    * (erasure-sized — never a corpus rewrite) and writes the erased ids
    * to `outDir/batch_id=N` as the erasure LEDGER (audit trail).
    *
    * Replay discipline: the pre-state epoch is pinned through a
    * mapping in its OWN namespace (`stream_meta_erase`) under its own
    * writer tag ([[eraseWriterTag]]), so an erasure stream COMPOSES
    * with a live admission stream on the same store: their epochs
    * interleave under the writer-identity discipline — an admission
    * epoch landing between erasure batches shifts the erasure
    * allocation (and vice versa), one landing inside the other's
    * crash-replay window fails loudly, and replays are idempotent
    * (same pinned pre-state, same tombstone epoch, overwritten in
    * place). Between a delete and the next compaction serving runs
    * traversal-only tombstones, so recall holds; compaction stays on
    * the ADMISSION stream's `compactEvery` cadence (or a lifecycle
    * [[graft.operators.HnswGeoStore.compact]]) — a fused
    * delete+compact would need two epochs per batch and break the
    * one-epoch-per-batch replay numbering.
    */
  def geoErasureStream(stream: DataFrame, stateDir: String,
                       outDir: String,
                       checkpointDir: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        geoEraseBatch(batch, batchId, stateDir, outDir)
      }
      .start()

  /** One [[geoErasureStream]] micro-batch — the sink body, exposed so
    * the crash/replay/interleave contracts are directly spec-testable.
    */
  private[graft] def geoEraseBatch(batch: DataFrame, batchId: Long,
                                   stateDir: String, outDir: String)
      : Unit = withStoreLock(stateDir) {
    val spark = batch.sparkSession
    val preEpoch = pinPreState(spark, stateDir, batchId, "geo-store",
      "epoch", HnswGeoStore.latestEpoch(spark, stateDir),
      metaDir = "stream_meta_erase",
      tag = Some(eraseWriterTag(batchId)))
    val store = HnswGeoStore.loadAt(spark, stateDir, preEpoch)
    val ids = graft.CacheRegistry.persist(batch.select(col("vec_id")))
    HnswGeoStore.delete(spark, store, ids,
      writer = eraseWriterTag(batchId))
    ids.write.mode("overwrite").option("compression", "snappy")
      .parquet(s"$outDir/batch_id=$batchId")
    // checkpointed offsets only ever re-run the current batch, so older
    // erasure mappings can never replay again
    pruneStreamMeta(spark, stateDir, batchId, "stream_meta_erase")
    graft.CacheRegistry.releaseAll()
  }

  /** [[geoErasureStream]]'s twin for the generational TEXT dedup store —
    * each micro-batch of `doc_id` rows commits one
    * [[graft.operators.DedupState.forget]] generation (tombstones,
    * df-cap down-flip signature repair, fingerprint-registry
    * arbitration — the full erasure semantics, streamed). Same
    * composition contract as the geo sink: own mapping namespace, own
    * writer tag, idempotent replays, interleaves with
    * [[dedupAdmissionStream]] under the writer-identity discipline.
    */
  def dedupErasureStream(stream: DataFrame, stateDir: String,
                         outDir: String,
                         checkpointDir: String): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dedupEraseBatch(batch, batchId, stateDir, outDir)
      }
      .start()

  /** One [[dedupErasureStream]] micro-batch — the sink body. */
  private[graft] def dedupEraseBatch(batch: DataFrame, batchId: Long,
                                     stateDir: String, outDir: String)
      : Unit = withStoreLock(stateDir) {
    val spark = batch.sparkSession
    val preGen = pinPreState(spark, stateDir, batchId, "dedup-store",
      "gen", DedupState.latestGen(spark, stateDir),
      metaDir = "stream_meta_erase",
      tag = Some(eraseWriterTag(batchId)))
    val store = DedupState.loadAt(spark, stateDir, preGen)
    val ids = graft.CacheRegistry.persist(batch.select(col("doc_id")))
    DedupState.forget(spark, store, ids,
      writer = eraseWriterTag(batchId))
    ids.write.mode("overwrite").option("compression", "snappy")
      .parquet(s"$outDir/batch_id=$batchId")
    pruneStreamMeta(spark, stateDir, batchId, "stream_meta_erase")
    graft.CacheRegistry.releaseAll()
  }

  /** CONTINUOUS CURATION ADMISSION — the streaming twin of
    * [[graft.pipelines.CorpusPipeline.admitBatch]], completing the
    * flagship composition's deployment story: each micro-batch of
    * `(doc_id, text, embedding)` rows (embedding nullable — docs
    * without one pass the semantic leg implicitly, admitBatch's
    * contract) runs the FULL curation ladder against the standing
    * stores — quality → language → exact/MinHash text dedup vs the
    * generational text store → routed semantic dedup vs the segmented
    * geo store — and folds the survivors into both, batch-sized at any
    * corpus size. Admitted rows land in `outDir/batch_id=N` with
    * [[graft.pipelines.CorpusPipeline.curate]]'s feature columns.
    *
    * Replay discipline: BOTH stores are pinned through persisted
    * batch→state mappings with the writer-identity guard (text
    * generation via [[pinTextPreGen]], geo epoch via
    * [[pinGeoPreEpoch]] — written before any store write), so a replay
    * re-reads the exact pre-state each fold saw, out-of-band lifecycle
    * ops on either store between runs shift the resumed stream's
    * allocation instead of being overwritten, and races into a
    * crash-replay window fail loudly. A crash BETWEEN the two folds is
    * safe: the replay recomputes the identical survivors from both
    * stores' pinned pre-state views and overwrites both folds
    * idempotently. Caller seeds with [[graft.operators.DedupState.build]]
    * (generation 0, the corpus' curated texts) and
    * [[graft.operators.HnswGeoStore.build]] (epoch 0, their
    * embeddings) — empty corpora work for both (cold start).
    *
    * With `compactEvery = K > 0`, every K-th batch folds as a BASE in
    * both stores (one-generation/epoch-per-batch numbering preserved)
    * and both stores' superseded ranges are vacuumed conservatively
    * (only below the previous base — a replay of the current batch
    * still finds its complete source range).
    */
  /** With `driftFactor > 0`, every compaction batch also runs the geo
    * store's drift check and retrains AS the base commit it already
    * owns ([[graft.pipelines.CorpusPipeline.admitBatch]]'s drift arm —
    * same epoch, batch writer tag), so the curated corpus's geometry
    * heals at the stream's own compaction cadence.
    */
  def curationAdmissionStream(stream: DataFrame, textStateDir: String,
                              geoStateDir: String, outDir: String,
                              checkpointDir: String,
                              config: graft.pipelines.CorpusPipeline.Config =
                                graft.pipelines.CorpusPipeline.Config(),
                              semanticThreshold: Double = 0.95,
                              nProbe: Int =
                                graft.operators.Hnsw.DefaultNearDupNProbe,
                              efSearch: Int = 64,
                              compactEvery: Int = 0,
                              driftFactor: Double = 0.0): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        curationAdmitBatch(batch, batchId, textStateDir, geoStateDir,
          outDir, config, semanticThreshold, nProbe, efSearch,
          compactEvery, driftFactor)
      }
      .start()

  /** One [[curationAdmissionStream]] micro-batch — the sink body,
    * exposed package-private so the stream ≡ batch and replay contracts
    * are directly spec-testable.
    */
  private[graft] def curationAdmitBatch(
      batch: DataFrame, batchId: Long, textStateDir: String,
      geoStateDir: String, outDir: String,
      config: graft.pipelines.CorpusPipeline.Config,
      semanticThreshold: Double, nProbe: Int, efSearch: Int,
      compactEvery: Int, driftFactor: Double = 0.0): Unit =
    // both stores locked, FIXED order (text, then geo): single-store
    // sinks hold one lock, so no cycle is possible
    withStoreLock(textStateDir) { withStoreLock(geoStateDir) {
    import graft.operators.DedupState
    import graft.pipelines.CorpusPipeline
    val spark = batch.sparkSession
    val asBase = compactEvery > 0 && (batchId + 1) % compactEvery == 0
    // BOTH mappings FIRST (before any store write — the replay-detection
    // contract), then both pre-state views pinned: text by the recorded
    // pre-generation, geo by the recorded pre-epoch — so out-of-band
    // lifecycle ops on EITHER store between runs shift the resumed
    // stream's allocation instead of being overwritten
    val preGen = pinTextPreGen(spark, textStateDir, batchId)
    val preEpoch = pinGeoPreEpoch(spark, geoStateDir, batchId)
    val text = DedupState.loadAt(spark, textStateDir, preGen)
    val geo = HnswGeoStore.loadAt(spark, geoStateDir, preEpoch)
    val docs = batch.select(col("doc_id"), col("text"))
    // every batch column beyond (doc_id, text) rides the embedding side:
    // against an attribute-payload geo store they flow through the
    // admission into the admitted epoch's attrs (admitBatch's payload
    // contract — without this the attr-store stream would fail append's
    // uniformity require on its first admission); a plain store prunes
    // them inside admitBatch, so they are ignored there
    val embCols = batch.columns.filterNot(Set("doc_id", "text")).toSeq
    val emb = batch.filter(col("embedding").isNotNull)
      .select(col("doc_id").as("vec_id") +: embCols.map(col): _*)
    val (kept, _) = CorpusPipeline.admitBatch(spark,
      CorpusPipeline.CorpusState(text, geo), docs, emb, config,
      semanticThreshold, nProbe, efSearch, asBase,
      writer = geoWriterTag(batchId), driftFactor = driftFactor)
    kept.write.mode("overwrite").option("compression", "snappy")
      .parquet(s"$outDir/batch_id=$batchId")
    if (asBase) {
      DedupState.vacuum(spark, text)
      pruneStreamMeta(spark, textStateDir, batchId)
      reclaimGeoAfterBase(spark, geo, geoStateDir, batchId)
    }
    graft.CacheRegistry.releaseAll()
  } }

  /** Continuous ROUTED + FILTERED ANN serving over the segmented GEO
    * store [[graft.operators.HnswGeoStore]], completing the geo
    * lifecycle's serving surface (admit, compact, retrain, and now
    * predicated serving, continuously): each micro-batch of query
    * vectors is served by
    * [[graft.operators.HnswGeoStore.batchNeighborsFiltered]] — geometry
    * bounds WHICH cell graphs a probe touches (|batch|·nProbe·epochs
    * probe rows, the store pass pruned to the probed cells), the
    * predicate bounds WHAT they may return (the allowed-only result
    * heap, so a selective predicate still returns k allowed rows where
    * post-filtering would thin k hits toward zero; recall within the
    * allowed subset follows the ~1/efSearch selectivity knob — raise
    * `efSearch` with 1/selectivity).
    *
    * The admissible set is a PARQUET-BACKED relation at `allowedDir`
    * (one `vec_id` column), re-read per micro-batch — the deployment
    * shape where the predicate is maintained as a table that can change
    * between batches. Each batch reads the latest committed epoch at
    * execution time (commit markers keep half-written admission epochs
    * invisible, so serving and admission streams share a store safely).
    * Replay overwrites the batch's own output directory, though a
    * replayed search may see a newer store or allowed set than the
    * original — results are point-in-time, not versioned.
    */
  def hnswGeoFilteredSearchStream(queries: DataFrame, stateDir: String,
                                  allowedDir: String, outDir: String,
                                  checkpointDir: String, k: Int,
                                  efSearch: Int = 64,
                                  nProbe: Int = 0): StreamingQuery =
    queries.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val store = HnswGeoStore.load(spark, stateDir)
        val allowed = spark.read.parquet(allowedDir).select(col("vec_id"))
        HnswGeoStore
          .batchNeighborsFiltered(store, batch, allowed, k, efSearch,
            nProbe)
          .write.mode("overwrite").option("compression", "snappy")
          .parquet(s"$outDir/batch_id=$batchId")
        graft.CacheRegistry.releaseAll()
      }
      .start()

  /** [[hnswGeoFilteredSearchStream]] with the predicate evaluated by the
    * STORE ITSELF — continuous filtered serving over the attribute
    * payloads written beside the vectors at build/append/admit time
    * ([[graft.operators.HnswGeoStore.batchNeighborsFilteredExpr]]):
    * `predicate` is a Column expression over the stored payload columns,
    * evaluated per micro-batch in the store's own probed-cell-pruned
    * attr scan — no allowed-id table to maintain beside the store, and
    * the filter work stays probed-cells-sized per batch. Each batch
    * serves against the latest committed epoch AND its attrs as of its
    * own execution (the store snapshot semantics of the parent). A
    * store without payloads fails the batch loudly
    * (batchNeighborsFilteredExpr's contract).
    */
  def hnswGeoAttrFilteredSearchStream(queries: DataFrame, stateDir: String,
                                      predicate: org.apache.spark.sql.Column,
                                      outDir: String, checkpointDir: String,
                                      k: Int, efSearch: Int = 64,
                                      nProbe: Int = 0): StreamingQuery =
    queries.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val store = HnswGeoStore.load(spark, stateDir)
        HnswGeoStore
          .batchNeighborsFilteredExpr(store, batch, predicate, k,
            efSearch, nProbe)
          .write.mode("overwrite").option("compression", "snappy")
          .parquet(s"$outDir/batch_id=$batchId")
        graft.CacheRegistry.releaseAll()
      }
      .start()

  /** Continuous distribution-drift alerts — q125's PSI made streaming:
    * tumbling windows of a numeric column's binned histogram, each CLOSED
    * window scored against a static baseline histogram, windows over
    * `threshold` appended to `outDir` as (window_start, psi).
    *
    * Composition: the stream side is ONE standard watermarked windowed
    * aggregation to (window, bin, count) in append mode — so only
    * finalized windows reach the sink, exactly once per window — and the
    * PSI algebra runs as a small batch job per micro-batch inside
    * `foreachBatch`, via [[graft.operators.ColumnStats.psi]]'s smoothing
    * and quantization contract against the baseline frame. State is the
    * windowed aggregation's (bounded by the watermark); the baseline
    * rides the plan as a literal frame, bin-count-sized.
    *
    * Replay contract (spec-pinned): alerts equal computing
    * `ColumnStats.psi(baseline, window-slice)` per window in batch.
    */
  def psiDriftSink(events: DataFrame, valueCol: String, width: Long,
                   baseline: Seq[(Long, Long)], threshold: Double,
                   outDir: String, checkpointDir: String,
                   window: String = "1 hour",
                   watermark: String = "10 minutes"): StreamingQuery = {
    require(width >= 1, s"bin width must be >= 1, got $width")
    require(baseline.nonEmpty, "psiDriftSink needs a non-empty baseline")
    val binned = events.withWatermark("ts", watermark)
      .select(col("ts"),
        floor(col(valueCol).cast("long") / width).cast("long").as("bin"))
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("bin"))
      .agg(count(lit(1)).as("n_cur"))
    binned.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        if (!batch.isEmpty) {
          val windows = batch
            .select(col("window.start").as("ws"), col("bin"), col("n_cur"))
          // score each closed window independently against the baseline
          // histogram at COUNT level (psiFromCounts) — nothing is ever
          // expanded back to rows; windows per batch are few (closed by
          // one watermark advance), bins per window bounded
          val starts = windows.select("ws").distinct()
            .collect().map(_.getTimestamp(0))
          val base = baseline.toDF("bin", "n_base")
          val alerts = starts.flatMap { ws =>
            val cur = windows.filter(col("ws") === lit(ws))
              .select(col("bin"), col("n_cur"))
            val counts = base.join(cur, Seq("bin"), "full_outer")
              .select(col("bin"),
                coalesce(col("n_base"), lit(0L)).as("n_base"),
                coalesce(col("n_cur"), lit(0L)).as("n_cur"))
            val psiVal = graft.operators.ColumnStats.psiFromCounts(counts)
              .select(col("psi")).head(1).headOption
              .map(_.getDouble(0)).getOrElse(0.0)
            graft.CacheRegistry.releaseAll()
            if (psiVal > threshold) Some((ws, psiVal)) else None
          }
          alerts.toSeq.toDF("window_start", "psi")
            .write.mode("append").parquet(outDir)
        }
      }
      .start()
  }

  /** One side-tagged as-of event: state updates (side 0, carrying `v`)
    * and probes (side 1, carrying `pid`) share the union schema — the
    * streaming twin of the batch operator's union-tag discipline
    * ([[graft.operators.AsofJoin]]).
    */
  case class AsofEvent(key: String, ts: java.sql.Timestamp, side: Int,
                       pid: Long, v: Double)
  /** Per-key as-of buffer: retained state points (tsMillis, v) ascending
    * and still-unemittable probes (tsMillis, pid). */
  case class AsofBuf(states: Seq[(Long, Double)], probes: Seq[(Long, Long)])
  /** A resolved probe: the most recent state at-or-before its ts (within
    * tolerance); state_* None when no state qualifies. */
  case class AsofMatch(key: String, probe_ts: java.sql.Timestamp, pid: Long,
                       state_ts: Option[java.sql.Timestamp],
                       state_v: Option[Double])

  /** Streaming as-of join (backward) — each probe picks up the most
    * recent state row for its key at or before its event time, on live
    * streams: the continuous form of [[graft.operators.AsofJoin.asofJoin]]
    * (price as-of each trade, meter state as-of each reading, feature
    * value as-of each label event).
    *
    * Why the stream-stream join operator can't express this:
    * [[correlateStreams]]' interval join emits EVERY state row in the
    * range, and "the latest one" is an argmax no watermarked range join
    * can take. So this is custom state via `flatMapGroupsWithState`
    * ([[streamingNearDupCandidates]]'s discipline), keyed by the join
    * key over the union-tagged pair of streams:
    *
    *  - a probe is held until the WATERMARK passes its event time — only
    *    then can "no earlier state row is still in flight" be promised —
    *    and emits exactly once, matched against the retained state
    *    (state-at-equal-ts visible, the batch operator's inclusive
    *    contract);
    *  - state retention is the as-of minimum: everything newer than the
    *    watermark plus THE latest row at-or-before it (that row is every
    *    future probe's fallback match); with `toleranceMs`, state whose
    *    staleness bound has passed is dropped entirely, so idle keys hold
    *    at most one point, tolerance-bounded keys eventually zero;
    *  - emission order within a key is (ts, pid)-sorted, so replays are
    *    deterministic;
    *  - an event-time timeout is armed at the earliest pending probe, so
    *    probes resolve as soon as the GLOBAL watermark passes them even
    *    if their key never sees another event.
    *
    * Late arrivals past the watermark: a late PROBE still resolves
    * (best-effort, immediately — its guarantee window is already gone),
    * matched against whatever state retention kept; a late STATE row can
    * only affect probes not yet emitted. Both are the standard
    * watermark-lateness trade, same as the engine's own operators.
    *
    * Replay contract (spec-pinned): on bounded streams the emitted set
    * equals the batch `asofJoin` of the same frames — including the
    * `flatMapGroupsWithState` batch fallback, where the whole key group
    * arrives at once and the watermark horizon is unbounded.
    *
    * State bound: per key, pending probes within one watermark horizon +
    * retained state (1 + rows newer than the watermark; tolerance makes
    * even that transient). Keys scale with the state store as any keyed
    * stream.
    */
  /** Union-tag probes (side 1) and state (side 0) under one watermark —
    * shared by both as-of directions. */
  private def asofTagged(probes: DataFrame, state: DataFrame,
                         keyCol: String, tsCol: String, probeIdCol: String,
                         stateValCol: String,
                         watermark: String): Dataset[AsofEvent] = {
    val spark = probes.sparkSession
    import spark.implicits._
    val p = probes.select(col(keyCol).cast("string").as("key"),
      col(tsCol).cast("timestamp").as("ts"), lit(1).as("side"),
      col(probeIdCol).cast("long").as("pid"), lit(0.0).as("v"))
    val s = state.select(col(keyCol).cast("string").as("key"),
      col(tsCol).cast("timestamp").as("ts"), lit(0).as("side"),
      lit(0L).as("pid"), col(stateValCol).cast("double").as("v"))
    p.unionByName(s).withWatermark("ts", watermark).as[AsofEvent]
  }

  def asofStream(probes: DataFrame, state: DataFrame,
                 keyCol: String = "key", tsCol: String = "ts",
                 probeIdCol: String = "pid", stateValCol: String = "v",
                 watermark: String = "10 minutes",
                 toleranceMs: Option[Long] = None): Dataset[AsofMatch] = {
    require(toleranceMs.forall(_ > 0), "toleranceMs must be positive")
    val spark = probes.sparkSession
    import spark.implicits._
    asofTagged(probes, state, keyCol, tsCol, probeIdCol, stateValCol,
      watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState[AsofBuf, AsofMatch](OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) { (key, rows, st) =>
        val buf = st.getOption.getOrElse(AsofBuf(Seq.empty, Seq.empty))
        var states = buf.states
        var pend = buf.probes
        rows.foreach { e =>
          if (e.side == 0) states = states :+ ((e.ts.getTime, e.v))
          else pend = pend :+ ((e.ts.getTime, e.pid))
        }
        states = states.sortBy(_._1)
        // batch fallback: no watermark in the plan -> resolve everything
        val horizon =
          try st.getCurrentWatermarkMs
          catch { case _: UnsupportedOperationException => Long.MaxValue }
        val (ready, pending) = pend.partition(_._1 <= horizon)
        val out = ready.sorted.map { case (tm, pid) =>
          states.filter(x => x._1 <= tm &&
              toleranceMs.forall(t => tm - x._1 <= t)).lastOption match {
            case Some((sm, v)) => AsofMatch(key, new java.sql.Timestamp(tm),
              pid, Some(new java.sql.Timestamp(sm)), Some(v))
            case None => AsofMatch(key, new java.sql.Timestamp(tm), pid,
              None, None)
          }
        }
        if (horizon != Long.MaxValue) {
          // keep the latest at-or-before the horizon + everything after
          val last = states.lastIndexWhere(_._1 <= horizon)
          if (last > 0) states = states.drop(last)
          // tolerance: even the fallback row dies once it is too stale
          // for any future probe (future probe ts >= horizon)
          toleranceMs.foreach(t =>
            states = states.filter(x => horizon - x._1 <= t))
        }
        if (pending.isEmpty && (states.isEmpty || horizon == Long.MaxValue))
          st.remove()
        else {
          st.update(AsofBuf(states, pending))
          if (horizon != Long.MaxValue && pending.nonEmpty)
            st.setTimeoutTimestamp(pending.map(_._1).min)
        }
        out.iterator
      }
  }

  /** Streaming as-of join, FORWARD direction — each probe picks up the
    * EARLIEST state row at-or-after its event time within `toleranceMs`
    * (the next scheduled price, the following maintenance window —
    * [[graft.operators.AsofJoin.asofJoin]]'s `direction = "forward"` on
    * live streams). The tolerance is REQUIRED here, not optional: a
    * forward probe is only resolvable once the watermark proves no
    * earlier qualifying state can still arrive, and without a bound that
    * proof never lands — the probe would wait forever. So a probe emits
    * exactly once, when the watermark passes `ts + toleranceMs`, matched
    * to the earliest retained state in `[ts, ts + toleranceMs]` or null.
    *
    * State retention is symmetric to [[asofStream]]'s: a state row older
    * than `watermark − toleranceMs` is below every pending probe's
    * window (pending means `ts + tol ≥ watermark`) and is dropped, so
    * state is transient by construction. The event-time timeout arms at
    * the earliest pending probe's `ts + tol`, clamped above the current
    * watermark.
    *
    * Replay contract (spec-pinned): bounded streams equal the batch
    * forward `asofJoin` with the same tolerance, batch fallback included.
    */
  def asofStreamForward(probes: DataFrame, state: DataFrame,
                        toleranceMs: Long,
                        keyCol: String = "key", tsCol: String = "ts",
                        probeIdCol: String = "pid", stateValCol: String = "v",
                        watermark: String = "10 minutes"): Dataset[AsofMatch] = {
    require(toleranceMs > 0, s"toleranceMs must be positive, got $toleranceMs")
    val spark = probes.sparkSession
    import spark.implicits._
    asofTagged(probes, state, keyCol, tsCol, probeIdCol, stateValCol,
      watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState[AsofBuf, AsofMatch](OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) { (key, rows, st) =>
        val buf = st.getOption.getOrElse(AsofBuf(Seq.empty, Seq.empty))
        var states = buf.states
        var pend = buf.probes
        rows.foreach { e =>
          if (e.side == 0) states = states :+ ((e.ts.getTime, e.v))
          else pend = pend :+ ((e.ts.getTime, e.pid))
        }
        states = states.sortBy(_._1)
        val horizon =
          try st.getCurrentWatermarkMs
          catch { case _: UnsupportedOperationException => Long.MaxValue }
        // resolvable once every state row in [ts, ts + tol] is provably
        // in: ts + tol strictly below the watermark (batch: everything)
        val (ready, pending) =
          if (horizon == Long.MaxValue) (pend, Seq.empty[(Long, Long)])
          else pend.partition(p => p._1 + toleranceMs < horizon)
        val out = ready.sorted.map { case (tm, pid) =>
          states.find(x => x._1 >= tm && x._1 - tm <= toleranceMs) match {
            case Some((sm, v)) => AsofMatch(key, new java.sql.Timestamp(tm),
              pid, Some(new java.sql.Timestamp(sm)), Some(v))
            case None => AsofMatch(key, new java.sql.Timestamp(tm), pid,
              None, None)
          }
        }
        if (horizon != Long.MaxValue)
          states = states.filter(x => x._1 >= horizon - toleranceMs)
        if (pending.isEmpty && (states.isEmpty || horizon == Long.MaxValue))
          st.remove()
        else {
          st.update(AsofBuf(states, pending))
          if (horizon != Long.MaxValue && pending.nonEmpty)
            st.setTimeoutTimestamp(
              math.max(pending.map(_._1).min + toleranceMs, horizon + 1))
        }
        out.iterator
      }
  }

  /** A key's CUSUM state: per-day partial cent sums still inside the
    * watermark horizon, plus the running statistic over finalized days.
    */
  case class CusumState(partials: Map[Long, Long], s: Long)
  /** One finalized day of a monitored series. */
  case class CusumPoint(key: String, day: String, v: Double,
                        cusum: Double, alarm: Boolean)

  /** Continuous CUSUM level-shift monitoring — the streaming form of
    * [[graft.operators.TimeSeries.cusumShiftTarget]] (the TARGET-referenced
    * variant: a stream cannot know a series' own final mean, a configured
    * reference needs no history). Daily cent sums accumulate as per-day
    * partials in keyed state; when the watermark passes a day's end, that
    * day FINALIZES: its deviation `vc − target − slack` folds into the
    * recurrence `S ← max(0, S + dev)` and one [[CusumPoint]] emits, days
    * strictly ascending per key — exactly the batch fold order, which is
    * what makes bounded replay equal the batch operator (spec-pinned).
    *
    * State bounds: per key, the partials map holds only days not yet
    * behind the watermark (≈ lateness/1 day + 1 entries); the running S
    * is one long and persists across silence — a quiet series resumes
    * where it left off, it does not reset. Rows later than the watermark
    * are dropped by the operator, and a day can only finalize once:
    * every surviving row's day strictly postdates the watermark, so it
    * can never land on an already-finalized day.
    */
  def cusumStream(events: DataFrame, keyCol: String, valueCol: String,
                  targetCents: Long, slackCents: Long, thresholdCents: Long,
                  watermark: String = "10 minutes"): Dataset[CusumPoint] = {
    require(slackCents >= 0, s"slackCents must be >= 0, got $slackCents")
    require(thresholdCents > 0,
      s"thresholdCents must be > 0, got $thresholdCents")
    val spark = events.sparkSession
    import spark.implicits._
    val DayMs = 86400000L
    events.withWatermark("ts", watermark)
      .select(col(keyCol).cast("string").as("k"), col("ts"),
        round(col(valueCol) * 100).cast("long").as("vc"))
      .as[(String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CusumState, CusumPoint](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          var st = state.getOption.getOrElse(CusumState(Map.empty, 0L))
          if (!state.hasTimedOut) {
            // per-day partial sums: addition is order-free, so replayed
            // epochs fold identically whatever the row order
            val partials = rows.foldLeft(st.partials) {
              case (m, (_, t, vc)) =>
                val d = Math.floorDiv(t.getTime, DayMs) * DayMs
                m.updated(d, m.getOrElse(d, 0L) + vc)
            }
            st = st.copy(partials = partials)
          }
          val wm = state.getCurrentWatermarkMs()
          val (ripe, pending) = st.partials.partition {
            case (d, _) => d + DayMs <= wm
          }
          var s = st.s
          val out = ripe.toSeq.sortBy(_._1).map { case (d, vc) =>
            s = math.max(0L, s + (vc - targetCents - slackCents))
            // BigDecimal HALF_UP to match Spark's round(col, 6) exactly
            CusumPoint(key,
              java.time.LocalDate.ofEpochDay(d / DayMs).toString,
              vc / 100.0,
              BigDecimal(s / 100.0).setScale(6,
                BigDecimal.RoundingMode.HALF_UP).toDouble,
              s > thresholdCents)
          }
          state.update(CusumState(pending, s))
          if (pending.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(pending.keys.min + DayMs, wm + 1))
          out.iterator
      }
  }

  /** Continuous table-digest maintenance — the audit trail for a table
    * that only ever APPENDS through a stream: each micro-batch's rows
    * collapse to a per-group digest ([[graft.operators.TableDigest
    * .digestByGroup]]) and fold into a generational on-disk store by the
    * abelian merge algebra, so at any moment the store holds the digest
    * of EVERYTHING ingested so far — compare it against a digest of the
    * sink table (or the upstream system) to prove no row was lost or
    * duplicated in flight, without ever rescanning history.
    *
    * Exactly-once: the merge algebra is NOT idempotent (a re-delivered
    * batch would double-fold), so the store keys generations by the
    * foreachBatch `batchId` and [[graft.operators.TableDigest
    * .mergeBatchIntoStore]] skips ids at or below the last committed
    * generation — Structured Streaming replays a failed batch under the
    * SAME id, which the skip turns into a no-op. Spec-pinned: streamed
    * digest ≡ one batch digest of the union, and a forced same-id replay
    * leaves the store unchanged.
    */
  def digestSink(events: DataFrame, groupCols: Seq[String],
                 cols: Seq[org.apache.spark.sql.Column], stateDir: String,
                 checkpointDir: String): StreamingQuery =
    events.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          graft.operators.TableDigest.mergeBatchIntoStore(
            stateDir, groupCols, batchId,
            graft.operators.TableDigest.digestByGroup(batch, groupCols, cols))
        }
      }
      .start()

  /** A key's EWMA state: per-day partial cent sums still inside the
    * watermark horizon, plus the last `span − 1` FINALIZED daily values
    * (most recent first) — the truncated-geometric window's memory.
    */
  case class EwmaState(partials: Map[Long, Long], recent: Seq[Long])
  /** One finalized day of an EWMA-monitored series. */
  case class EwmaPoint(key: String, day: String, v: Double,
                       ewma: Double, alarm: Boolean)

  /** Continuous EWMA control-chart monitoring — the streaming form of
    * [[graft.operators.TimeSeries.ewmaChartTarget]] (target-referenced,
    * like [[cusumStream]]: a stream cannot know a series' own mean).
    * Finalization discipline is [[cusumStream]]'s: per-day partials in
    * keyed state, a day emits when the watermark passes its end, days
    * strictly ascending per key. Each finalized day joins the front of a
    * bounded window of the last `span` observed daily values; the
    * smoothed level is the same integer-weighted mean as the batch
    * operator (weights 2^(span−1−j)), the division and 1e-6 rounding are
    * the same double ops, and the alarm compares the same plain longs —
    * which is why bounded replay equals batch bit-for-bit (spec-pinned).
    *
    * State bounds: ≤ span−1 longs of window memory + the in-flight
    * partials; silence preserves the window (a quiet series resumes,
    * not resets).
    */
  def ewmaStream(events: DataFrame, keyCol: String, valueCol: String,
                 span: Int, targetCents: Long, thresholdCents: Long,
                 watermark: String = "10 minutes"): Dataset[EwmaPoint] = {
    require(span >= 2 && span <= 32, s"span must be in [2, 32], got $span")
    require(thresholdCents >= 0,
      s"thresholdCents must be >= 0, got $thresholdCents")
    val spark = events.sparkSession
    import spark.implicits._
    val DayMs = 86400000L
    events.withWatermark("ts", watermark)
      .select(col(keyCol).cast("string").as("k"), col("ts"),
        round(col(valueCol) * 100).cast("long").as("vc"))
      .as[(String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[EwmaState, EwmaPoint](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key, rows, state) =>
          var st = state.getOption.getOrElse(EwmaState(Map.empty, Seq.empty))
          if (!state.hasTimedOut) {
            val partials = rows.foldLeft(st.partials) {
              case (m, (_, t, vc)) =>
                val d = Math.floorDiv(t.getTime, DayMs) * DayMs
                m.updated(d, m.getOrElse(d, 0L) + vc)
            }
            st = st.copy(partials = partials)
          }
          val wm = state.getCurrentWatermarkMs()
          val (ripe, pending) = st.partials.partition {
            case (d, _) => d + DayMs <= wm
          }
          var recent = st.recent
          val out = ripe.toSeq.sortBy(_._1).map { case (d, vc) =>
            val window = vc +: recent
            val num = window.zipWithIndex
              .map { case (v, j) => v * (1L << (span - 1 - j)) }.sum
            val den = window.indices.map(j => 1L << (span - 1 - j)).sum
            recent = window.take(span - 1)
            // the batch operator's exact double ops + Spark round(double)
            // semantics (valueOf/HALF_UP — scala BigDecimal(d) matches)
            val x = num / (den * 100.0) * 1e6
            EwmaPoint(key,
              java.time.LocalDate.ofEpochDay(d / DayMs).toString,
              vc / 100.0,
              BigDecimal(x).setScale(0,
                BigDecimal.RoundingMode.HALF_UP).toDouble / 1e6,
              math.abs(num - targetCents * den) > thresholdCents * den)
          }
          state.update(EwmaState(pending, recent))
          if (pending.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(pending.keys.min + DayMs, wm + 1))
          out.iterator
      }
  }
}
