package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.{Dedup, LineageCut}

/** End-to-end training-corpus curation — the composition every LLM data
  * pipeline runs over raw documents, expressed as one lazy plan plus the
  * dedup pass:
  *
  *   quality filter (cheap, pure expressions — runs IN the scan)
  *   → language filter (marker-trigram argmax)
  *   → exact + near-duplicate removal ([[Dedup.dedupCorpus]])
  *   → per-document features (token counts, fingerprint) for downstream
  *     sampling/mixing.
  *
  * Order is the scale decision: the quality and language predicates are
  * O(row) projections that prune BEFORE the dedup pass pays its shuffles,
  * and exact-collapse runs before signature near-dup (see dedupCorpus).
  * Everything upstream of dedup is whole-stage-codegen'd expression work
  * with zero UDFs.
  */
object CorpusPipeline {

  /** Tunable curation thresholds (defaults are conventional, not sacred).
    * `normalizeText = true` prepends [[TextFunctions.cleanText]] (control
    * strip → whitespace collapse → NFC) so decomposed/precomposed
    * renderings of the same text collapse BEFORE exact dedup hashes them —
    * the right default for scraped corpora; opt-in here so existing
    * pipelines keep byte-stable outputs. `permHash` selects the MinHash
    * permutation hash: seeded xxhash64 by default, [[Dedup.Md5PermHash]]
    * for oracle-replayable runs (q85 pins the full composition bitwise).
    */
  case class Config(
      minTokens: Int = 10,
      maxMeanTokenLength: Double = 15.0,
      minStopwordRatio: Double = 0.0,
      languages: Seq[String] = Seq("en"),
      dedupThreshold: Double = 0.8,
      normalizeText: Boolean = false,
      permHash: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column =
        Dedup.XxPermHash)

  /** Curate `docs(doc_id, text, ...)` → kept rows with feature columns
    * (`n_tokens`, `subword_tokens`, `fingerprint`, `dup_count`,
    * `predicted_lang`).
    *
    * The returned frame is lazy and reuses intermediates persisted via
    * [[graft.CacheRegistry]]; after consuming the result (write/collect),
    * call `CacheRegistry.releaseAll()` to free them.
    */
  /** The quality + language legs as one persisted frame — [[curate]]'s
    * pre-dedup prefix factored out so batch ADMISSION ([[admitBatch]])
    * applies bitwise the same predicates and feature columns a
    * whole-corpus curation run would: normalization (when configured),
    * the per-row quality features (`n_tokens`, `mean_tok_len`,
    * `stop_ratio`) with their threshold filters, and the marker-trigram
    * langId argmax with the language filter. Everything is scan-side
    * expression work (zero UDFs, zero shuffles); persisted because every
    * caller consumes it at least twice (the dedup pass + the feature
    * re-join).
    */
  def qualityLang(docs: DataFrame, config: Config = Config()): DataFrame = {
    val normalized =
      if (config.normalizeText)
        docs.withColumn("text", TextFunctions.cleanText(col("text")))
      else docs
    // persisted: consumed by the dedup pass AND re-joined for the feature
    // columns — without it the 25-regex langId and quality projections
    // (the most expensive per-row work here) would run once per consumer.
    // Spread the scan FIRST ([[graft.sources.Tables.ensureParallelism]],
    // the docShingles discipline): these projections otherwise run inside
    // the scan stage's partitioning — measured as ONE task per admission
    // batch at bench scale (1.2-1.9 s serialized on one core while 31
    // idle); at 100 TB the scan has thousands of splits and the guarded
    // round-robin is a no-op
    graft.CacheRegistry.persist(
      graft.sources.Tables.ensureParallelism(normalized)
      .withColumn("n_tokens", TextFunctions.tokenCount(col("text")))
      .withColumn("mean_tok_len", TextFunctions.meanTokenLength(col("text")))
      .withColumn("stop_ratio", TextFunctions.stopwordRatio(col("text")))
      .filter(col("n_tokens") >= config.minTokens &&
        col("mean_tok_len") <= config.maxMeanTokenLength &&
        col("stop_ratio") >= config.minStopwordRatio)
      .withColumn("predicted_lang", TextFunctions.langId(col("text")))
      .filter(col("predicted_lang").isin(config.languages: _*)))
  }

  def curate(docs: DataFrame, config: Config = Config()): DataFrame = {
    val quality = qualityLang(docs, config)
    val deduped = Dedup.dedupCorpus(
      quality.select(col("doc_id"), col("text")), config.dedupThreshold,
      permHash = config.permHash)
    deduped
      .join(quality.drop("text"), Seq("doc_id"))
      .withColumn("subword_tokens", TextFunctions.subwordCount(col("text")))
      .withColumn("fingerprint", TextFunctions.md5Fingerprint(col("text")))
  }

  /** [[curate]] extended with the SEMANTIC leg — the full curation
    * ladder a 100 TB training corpus runs, as one composition:
    *
    *   quality filter → language filter → exact + MinHash near-dup
    *   removal (the text route, [[curate]] unchanged)
    *   → embedding near-dup pairs over the SURVIVORS through the
    *     geometry-routed graph index ([[Dedup.hnswNearDupPairs]] — the
    *     100 TB semantic-dedup default; n·nProbe probe rows, linear)
    *   → transitive closure → keep ONE representative per semantic
    *     cluster by the (n_tokens desc, doc_id asc) argmax
    *     (SemDeDup's keep-the-best-copy policy, Abbas et al. 2023).
    *
    * Output is [[curate]]'s frame with non-representative semantic
    * cluster members REMOVED — the semantic leg is a row filter, so
    * every feature column survives unchanged. Documents without an
    * embedding row never enter the pair graph and are implicitly kept
    * (both engines agree: no pair, no drop).
    *
    * Scale shape: the text legs are [[curate]]'s (scan-side expressions
    * + bucketed equi-joins); the semantic leg inherits the routed
    * scan's linear shuffle bound, the closure runs over the PAIR graph
    * (not the corpus), and the final drop is one doc-keyed anti-join.
    *
    * @param emb (vec_id, embedding) with vec_id = doc_id
    */
  def curateSemantic(docs: DataFrame, emb: DataFrame,
                     config: Config = Config(),
                     semanticThreshold: Double = 0.95, shards: Int = 0,
                     nProbe: Int = graft.operators.Hnsw.DefaultNearDupNProbe,
                     route: String = "auto",
                     maxCellNodes: Int = 0): DataFrame = {
    // lineage CUT, not a plain persist (the [[admitBatch]] cut
    // discipline): `curated` is referenced THREE times downstream
    // (embKept's semi-join, the representatives' quality join, the final
    // anti-join), and a persisted frame still re-renders and re-optimizes
    // its whole logical subtree per reference — measured on q200 as a
    // 13.7M-char plan string and ~8 s of driver time against 1.5 s of
    // task time. The cut materializes exactly what the persist already
    // materialized (one corpus-survivor-sized frame) and truncates the
    // plan to a leaf.
    val curated = LineageCut.cut(curate(docs, config))
    val embKept = emb.select(col("vec_id"), col("embedding"))
      .join(curated.select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_semi")
    val comps = Dedup.connectedComponents(
      Dedup.hnswNearDupPairs(embKept, semanticThreshold, shards,
        nProbe = nProbe, route = route, maxCellNodes = maxCellNodes))
    val reps = Dedup.clusterRepresentatives(comps,
      curated.select(col("doc_id"), col("n_tokens")), "n_tokens")
    val drops = comps
      .join(reps.select(col("cluster"), col("keep_id")), "cluster")
      .filter(col("doc_id") =!= col("keep_id"))
      .select(col("doc_id"))
    curated.join(drops, Seq("doc_id"), "left_anti")
  }

  /** The standing curated-corpus state [[admitBatch]] admits against —
    * the two persistent stores whose generations/epochs together ARE the
    * curated corpus: the text-route dedup store (fingerprints, df-capped
    * shingle postings, MinHash signatures —
    * [[graft.operators.DedupState]], q80/q84's machinery) and the
    * embedding-route segmented geo graph store
    * ([[graft.operators.HnswGeoStore]], q194/q196's). Seed both from the
    * initial corpus (the text store over its curated texts, the geo
    * store over their embeddings) and every subsequent increment flows
    * through [[admitBatch]].
    */
  case class CorpusState(text: graft.operators.DedupState.Store,
                         geo: graft.operators.HnswGeoStore.Store)

  /** INCREMENTAL curation admission — [[curateSemantic]]'s full ladder
    * applied to a daily BATCH against a standing 100 TB corpus, without
    * re-curating the world (the q84 → q85 step repeated at the geo
    * route):
    *
    *   quality filter → language filter (scan-side, [[qualityLang]] —
    *     bitwise the whole-corpus predicates)
    *   → exact + MinHash near-dup vs the STANDING TEXT STORE
    *     ([[graft.operators.DedupState.incrementalDedup]]: within-batch
    *     exact collapse to min-id reps, fingerprint anti-join against
    *     stored hashes, near-dup drop vs stored docs and smaller-id
    *     batch reps — batch-sized shingling, the corpus tables are never
    *     re-read at corpus scale)
    *   → SEMANTIC near-dup vs the STANDING GEO STORE over the text
    *     survivors' embeddings
    *     ([[graft.operators.HnswGeoStore.incrementalAdmit]]: the routed
    *     batch search — |batch|·nProbe·epochs probe rows, stored vectors
    *     never replicate — plus exact within-batch pairs; drop on a
    *     stored neighbor at cos ≥ `semanticThreshold` or a smaller-id
    *     batch twin)
    *   → fold the survivors into BOTH stores (text generation G+1, geo
    *     epoch E+1 — batch-sized writes at any corpus size; `asBase`
    *     compacts each store's live range as it appends).
    *
    * The ORDER is the correctness trap this composition exists to
    * close: the semantic leg must see exactly the POST-text-dedup
    * survivors of corpus and batch — the standing geo store holds only
    * admitted (hence text-surviving) docs' embeddings by construction
    * of this very function, and `embBatch` is pruned to the batch's
    * text survivors before any routed search — hand-wiring the legs in
    * the other order semantically dedups docs the text route was about
    * to drop anyway, wasting the routed scan AND admitting their
    * embeddings into the store.
    *
    * Returns (kept, next state): `kept` is [[curate]]'s output schema
    * for the batch's admitted rows (doc_id, text, dup_count, the
    * quality/lang features, subword_tokens, fingerprint); docs without
    * an embedding row pass the semantic leg implicitly (no pair, no
    * drop — [[curateSemantic]]'s contract). When the standing geo store
    * carries ATTRIBUTE PAYLOADS, every `emb` column beyond (vec_id,
    * embedding) flows through the admission into the new epoch's attrs
    * relation — the curated store stays attr-filter-serveable
    * ([[graft.operators.HnswGeoStore.batchNeighborsFilteredExpr]]); a
    * plain store prunes `emb` to (vec_id, embedding), so incidental
    * wide frames don't trip the payload-uniformity contract. `dup_count` counts within
    * THIS batch (the representative's standing count lives with the
    * generation that admitted it).
    *
    * Admission algebra: for id-MONOTONE batches (every id in batch N+1
    * above every id in batch N — the append-only ingest case),
    * admit-then-admit equals admit-the-union, with one deliberate,
    * oracle-replayed conservatism shared with q84's text route: a batch
    * doc near-dup ONLY to a batch sibling that itself got dropped
    * against the store is dropped in the union form (pairs are computed
    * over the pre-drop batch) but may admit in the sequential form —
    * both engines replay whichever form ran, and the spec pins the
    * equality on data without such chains.
    *
    * Scale shape: every per-row predicate is scan-side; both admission
    * filters are batch-sized against generational/epochal state
    * (ScaleRehearsal's `admit` suite measures the whole ladder flat in
    * corpus size at a fixed batch); both folds write batch-sized
    * deltas. Nothing in this function scans the standing corpus.
    *
    * Lineage cuts ([[LineageCut]]) at the batch-sized seams: the
    * admission ladder nests several persisted-frame layers (quality/lang
    * → text admission → routed semantic admission → feature re-join →
    * two store folds); a cached reference is cheap to EXECUTE but every
    * occurrence prints/walks/optimizes its whole subtree, so plan
    * handling grows exponentially in the nesting depth while the actual
    * compute stays batch-sized. The frames at these seams are
    * batch-sized by construction, so an eager cut costs one small
    * materialization.
    *
    * `driftFactor > 0` (round 16): a BASE fold (`asBase`) additionally
    * runs the geo store's epoch-count drift check and, when it trips,
    * RETRAINS as part of this fold's own base commit
    * ([[graft.operators.HnswGeoStore.retrainIfDrifted]] with the
    * admitted survivors folded in — same epoch allocation, same writer,
    * so the streaming twin's replay guards hold by construction). The
    * text store has no geometry to drift; its fold is unchanged.
    */
  def admitBatch(spark: org.apache.spark.sql.SparkSession,
                 state: CorpusState, docs: DataFrame, emb: DataFrame,
                 config: Config = Config(),
                 semanticThreshold: Double = 0.95,
                 nProbe: Int = graft.operators.Hnsw.DefaultNearDupNProbe,
                 efSearch: Int = 64,
                 asBase: Boolean = false,
                 writer: String = "lifecycle",
                 driftFactor: Double = 0.0): (DataFrame, CorpusState) = {
    val ql = qualityLang(docs, config)
    val textKept = LineageCut.cut(
      graft.operators.DedupState.incrementalDedup(
        state.text, ql.select(col("doc_id"), col("text")),
        config.dedupThreshold))
    // ATTRIBUTE PAYLOADS flow through the admission iff the standing geo
    // store carries them (then every `emb` column beyond (vec_id,
    // embedding) lands beside the admitted vectors, keeping the curated
    // store attr-filter-serveable); against a PLAIN store the batch is
    // pruned to (vec_id, embedding) so a wide embeddings frame — e.g. a
    // label column riding along — does not silently become a payload
    // schema mismatch (HnswGeoStore.append's uniformity contract)
    val geoHasAttrs =
      graft.operators.HnswGeoStore.attrsPresent(spark, state.geo)
    val embSrc =
      if (geoHasAttrs) emb
      else emb.select(col("vec_id"), col("embedding"))
    // the semantic leg runs over the TEXT SURVIVORS' embeddings only —
    // one batch-keyed left-semi prune, the composition's ordering trap
    val embBatch = graft.CacheRegistry.persist(
      embSrc.join(textKept.select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_semi"))
    val semKept = LineageCut.cut(
      graft.operators.HnswGeoStore.incrementalAdmit(
        state.geo, embBatch, semanticThreshold, efSearch, nProbe))
    val semDrops = embBatch.select(col("vec_id"))
      .join(semKept.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .select(col("vec_id").as("doc_id"))
    val kept = LineageCut.cut(
      textKept.join(semDrops, Seq("doc_id"), "left_anti")
        .join(ql.drop("text"), Seq("doc_id"))
        .withColumn("subword_tokens",
          TextFunctions.subwordCount(col("text")))
        .withColumn("fingerprint",
          TextFunctions.md5Fingerprint(col("text"))))
    // the two store FOLDS are independent of each other (the text fold
    // consumes `kept`, the geo fold `semKept` — both already
    // checkpoint-cut batch-sized frames at different paths), so they run
    // OVERLAPPED ([[graft.operators.ParWrites]], guide §2.6): each fold
    // is a chain of small jobs whose driver latency otherwise
    // serializes. Commit order between the two stores was never a
    // contract — a crash between the folds leaves one store one batch
    // ahead, exactly as before, and the replay re-runs both idempotently.
    @volatile var newText: graft.operators.DedupState.Store = null
    @volatile var newGeo: graft.operators.HnswGeoStore.Store = null
    graft.operators.ParWrites.run(
      () => newText = graft.operators.DedupState.append(spark, state.text,
        kept.select(col("doc_id"), col("text")), asBase, writer),
      // checkIds = false: incrementalAdmit's left-anti against stored ids
      // is the disjointness proof (the HnswGeoStore.admit discipline)
      // semKept carries embBatch's columns, so payloads (when flowing)
      // land in the new epoch's attrs relation
      () => newGeo =
        if (asBase && driftFactor > 0.0) {
          val (retrained, report) = graft.operators.HnswGeoStore
            .retrainIfDrifted(spark, state.geo, driftFactor,
              foldIn = Some(semKept), writer = writer)
          if (report.retrained) retrained
          else graft.operators.HnswGeoStore.append(spark, state.geo,
            semKept, asBase = true, checkIds = false, writer = writer)
        } else graft.operators.HnswGeoStore.append(spark, state.geo,
          semKept, asBase, checkIds = false, writer = writer))
    (kept, CorpusState(newText, newGeo))
  }

  /** Per-source dataset card — the one-table summary a data consumer
    * reads before touching a corpus: volume (docs/chars/tokens),
    * exact-duplicate pressure (docs minus distinct content fingerprints),
    * declared-language share, and mean readability ([[TextFunctions
    * .fleschReadingEase]]) and character entropy
    * ([[TextFunctions.charEntropy]]) as quality centroids.
    *
    * Scale shape: every per-document signal is a scan-side expression;
    * the exact-distinct fingerprint makes Catalyst plan the two-phase
    * single-distinct rewrite — dedupe (source, fingerprint) with partial
    * sums riding along, then finalize — so both Exchanges ship hash-sized
    * rows, never text, and every aggregate stays hash-based (plan-audited:
    * no Expand). Float contract: the per-doc
    * quality scores are already 1e-4/1e-6-quantized; their sums ride
    * scaled longs, so the means are order-free and engine-replayable.
    */
  def datasetCard(docs: DataFrame): DataFrame = {
    val n = count(lit(1))
    val flesch4 = round(TextFunctions.fleschReadingEase(col("text")) * 1e4)
      .cast("long")
    val entropy6 = round(TextFunctions.charEntropy(col("text")) * 1e6)
      .cast("long")
    docs.groupBy(col("source"))
      .agg(n.as("n_docs"),
        sum(col("n_chars")).as("chars"),
        sum(TextFunctions.tokenCount(col("text"))).as("tokens"),
        (n - countDistinct(TextFunctions.md5Fingerprint(col("text"))))
          .as("n_dup_docs"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
        (round(sum(flesch4).cast("double") / n) / 1e4).as("mean_flesch"),
        (round(sum(entropy6).cast("double") / n) / 1e6).as("mean_entropy"))
  }
}
