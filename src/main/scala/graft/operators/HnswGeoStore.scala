package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent, SEGMENTED, GEOMETRY-ROUTED HNSW store — the
  * [[StoreCommits]] epoch/commit-marker discipline applied to the
  * [[Hnsw.buildGeo]] route, completing the 100 TB semantic-dedup
  * default's lifecycle (build, admit continuously, compact, retrain on
  * drift, serve).
  *
  * Layout under `path/`: `segments/epoch=N` (graph rows, shard ids
  * strided into the epoch's cell range), `commits/epoch=N` (marker,
  * written LAST — readers prune unmarked epochs, the [[DedupState]]
  * crash-invisibility discipline), `index/epoch=B` and `drift/epoch=B`
  * for each BASE epoch B (the [[IVF]] index the base's cells were
  * assigned with, and the [[IVF.cellStats]] snapshot taken when that
  * index was TRAINED — the drift baseline follows retrains, never
  * compactions, or growth would silently re-baseline itself).
  *
  * Why segments, restated for the geo route: [[Hnsw.addGeo]] mutates
  * every touched cell, so folding a micro-batch into a 100 TB standing
  * graph would rewrite the store every epoch. Instead each admitted
  * batch becomes its OWN per-cell mini-graph family (cells assigned by
  * the FROZEN index — the [[EmbeddingStore]] admission discipline), a
  * probe routes to its nProbe nearest cells ACROSS every live epoch
  * (epochs × nProbe shard targets — bounded, never a fan-out over the
  * corpus), and a periodic COMPACTION folds the delta epochs into the
  * base by WARM insertion: [[Hnsw.addGeo]] is the compaction kernel, so
  * compaction costs one pass over the base plus delta-sized insertions
  * into warm graphs — not a from-scratch rebuild. Only a drift-triggered
  * RETRAIN ([[retrainIfDrifted]]) rebuilds, because retraining moves the
  * cells themselves.
  *
  * Search cost and recall: a probe touches epochs·nProbe cell graphs,
  * never every shard of every segment — LINEAR routing with
  * [[Hnsw.nearDupPairsRouted]]'s measured recall envelope (lossless for
  * near-identical pairs, decaying at low pair cosines on weakly
  * clustered corpora — [[Hnsw.RoutedRecallFloor]]). Where a low
  * threshold needs the exhaustive answer, the unrouted scan
  * ([[Hnsw.nearDupPairs]]) over a built graph is the route to take.
  */
object HnswGeoStore {

  /** A loaded view as of `epoch`: the unioned committed segment rows in
    * [base, epoch], the base's frozen index, and the epoch range the
    * routing surfaces probe across.
    */
  case class Store(path: String, segments: DataFrame, epoch: Long,
                   baseEpoch: Long, index: IVF.Index,
                   layout: Hnsw.GeoLayout = Map.empty,
                   maxCellNodes: Int = 0,
                   routing: Hnsw.GeoRouting = Map.empty,
                   subRouted: Boolean = false) {
    /** Live epochs a probe must route across (one per committed batch
      * since the base — appends allocate them consecutively).
      */
    def epochs: Seq[Long] = baseEpoch to epoch
  }

  /** Cell-in-epoch striding: epoch e, cell c → shard e·Stride + c, so
    * shard ids are globally unique across epochs and the cell id is
    * recoverable as `shard % CellStride` (what the routed surfaces key
    * on). The stride bounds cells-per-epoch; the strided id is a LONG
    * ([[Hnsw.Node]]'s shard column), so the epoch range is ~1.4·10¹⁴ —
    * a streaming sink consuming one epoch per 30 s micro-batch (the
    * cadence that would have exhausted an int stride in ~11 days)
    * outlives the hardware.
    */
  val CellStride: Long = 1L << 16

  /** Largest literal shard-id list worth spelling as an `isin` (which
    * pushes to parquet row-group stats on the shard-sorted segment
    * files); past it the same restriction runs as a broadcast
    * semi-join — an O(list) per-row isin over thousands of ids is plan
    * bloat with no pushdown payoff (ADVICE r17).
    */
  private[graft] val IsinPushdownMaxIds = 4096

  /** Latest committed epoch at `path` — what a fresh writer (the
    * streaming sink's first attempt at a batch) must pin its pre-state
    * to, so epochs allocated OUT OF BAND (a [[retrainIfDrifted]] or
    * [[compact]] between runs) shift the next allocation instead of
    * being overwritten by it.
    */
  def latestEpoch(spark: SparkSession, path: String): Long = {
    StoreCommits.requireSeeded(spark, path, "geo store")
    StoreCommits.committedMap(spark, path, "epoch").keys.max
  }

  /** Fold per-epoch [[IVF.cellStats]] snapshots taken under ONE index
    * into the corpus-wide frame a full recompute would produce. The
    * algebra is mergeable (`n` by sum, `max_d2` by max), and `inertia`
    * is folded in the snapshot's own 1e-6-quantized integer domain
    * (each stored inertia is an exact multiple of 1e-6), so the fold
    * reproduces the recompute EXACTLY — not a float re-association —
    * which is what lets [[retrainIfDrifted]] price a drift check at
    * epoch-count instead of a corpus scan.
    */
  private[graft] def foldStats(snaps: Seq[DataFrame]): DataFrame = {
    // accumulate in the LONG domain, exactly like IVF.cellStats' sum of
    // quantized d2q longs: summing the re-quantized doubles instead
    // (sum(round(inertia*1e6)) — a double sum) silently loses exactness
    // once a cell's total crosses 2^53 in the 1e-6 domain (inertia ≳ 9e9,
    // reachable at corpus scale), breaking the fold ≡ recompute contract
    // the epoch-count drift check rests on (ADVICE r14). Per-leaf values
    // are exact multiples of 1e-6 by cellStats' contract, so the
    // round().cast(long) recovers each leaf's long exactly; the long sum
    // is then exact to 2^63.
    //
    // max_d2 across DELETES (round-16 verdict #7): a max can't be
    // un-maxed by negation, so a [[delete]] leaf carries the EXACT
    // recomputed survivor max for each touched cell with
    // `replace_max = true`, and the fold takes, per cell, the max over
    // leaves AT OR AFTER the cell's latest replace leaf — snaps arrive
    // in epoch order, so the tag index is the epoch order. Append
    // leaves omit the column and default to false, preserving the plain
    // running max.
    val tagged = snaps.zipWithIndex.map { case (s, i) =>
      val withFlag =
        if (s.columns.contains("replace_max")) s
        else s.withColumn("replace_max", lit(false))
      withFlag.withColumn("__idx", lit(i))
    }.reduce(_ unionByName _)
    val d2q = sum(round(col("inertia") * 1e6).cast("long")).cast("double")
    val lastReplace = tagged.filter(col("replace_max"))
      .groupBy(col("cid")).agg(max(col("__idx")).as("__ri"))
    val maxes = tagged.join(broadcast(lastReplace), Seq("cid"), "left")
      .filter(col("__ri").isNull || col("__idx") >= col("__ri"))
      .groupBy(col("cid")).agg(max(col("max_d2")).as("max_d2"))
    tagged
      .groupBy(col("cid"))
      .agg(sum(col("n")).as("n"),
        (d2q / 1e6).as("inertia"),
        ((d2q / 1e6) / sum(col("n")).cast("double")).as("mean_d2"))
      .join(maxes, Seq("cid"))
      .select(col("cid"), col("n"), col("inertia"), col("mean_d2"),
        col("max_d2"))
      // a cell fully emptied by NEGATED delete leaves ([[delete]]) nets
      // to n = 0 — absent from a recompute, so absent from the fold too;
      // a no-op for append-only folds, where every cell has n > 0
      .filter(col("n") > 0)
  }

  /** Columns of a fresh frame beyond the (vec_id, embedding) contract —
    * ATTRIBUTE PAYLOADS, stored beside the vectors so a filtered serve's
    * predicate can be a Column expression the store evaluates in its own
    * probed-cell-pruned scan ([[batchNeighborsFilteredExpr]]) instead of
    * a caller-built, corpus-sized allowed-id frame.
    */
  private def payloadCols(df: DataFrame): Seq[String] =
    df.columns.filterNot(Set("vec_id", "embedding")).toSeq

  /** Write one epoch's attribute relation: (shard, vec_id, payload...)
    * with `shard` the SAME strided cell id the epoch's segment rows
    * carry (assignment under the frozen `index`), so a serving pass can
    * prune attrs and graph rows with one probed-cell set and join them
    * probed-size-to-probed-size — never corpus-sized.
    */
  private def writeAttrs(path: String, src: DataFrame, index: IVF.Index,
                         epoch: Long, cols: Seq[String]): Unit =
    src.select(col("vec_id") +:
        IVF.assignExpr(col("embedding").cast("array<double>"), index)
          .cast("long").as("shard") +: cols.map(col): _*)
      .withColumn("shard", col("shard") + lit(epoch * CellStride))
      .write.mode("overwrite").parquet(s"$path/attrs/epoch=$epoch")

  /** Whether the live epochs carry attribute payloads — all of them do
    * (an attr store) or none does (a plain store); a mixed range would
    * silently fail every predicate on the unpayloaded rows, so it fails
    * loudly here.
    */
  private[graft] def attrsPresent(spark: SparkSession,
                                      store: Store): Boolean = {
    val have = store.epochs.map(e =>
      StoreCommits.fs(spark, store.path).exists(
        new org.apache.hadoop.fs.Path(s"${store.path}/attrs/epoch=$e")))
    require(have.forall(identity) || !have.exists(identity),
      s"store at ${store.path} has attribute payloads for only part of " +
        s"its live epoch range ${store.epochs.mkString(",")} — an append " +
        "without the payload columns slipped in; rebuild or re-append " +
        "with the store's payload schema")
    have.forall(identity) && have.nonEmpty
  }

  /** The live epochs' attribute relation (shard, vec_id, payload...),
    * or None for a plain store. With [[updateAttrs]] epochs in the live
    * range the view resolves LATEST-WINS per vec_id; update-free ranges
    * keep their exact pre-update plans (no window, no extra column —
    * the deletion-free fast-path discipline applied to updates).
    */
  def attrsOf(spark: SparkSession, store: Store): Option[DataFrame] =
    if (!attrsPresent(spark, store)) None
    else Some(resolveLatestAttrs(attrsRawOf(spark, store),
      hasAttrUpdates(spark, store)))

  /** The masked union of the live epochs' attr relations with the
    * writing epoch retained as `__aepoch` (tombstone masking consumes
    * the `epoch` column) — the pre-resolution frame
    * [[batchNeighborsFilteredExpr]] prunes to probed cells BEFORE the
    * latest-wins window, so a serving query's window runs
    * probed-cells-sized, never corpus-sized.
    */
  private def attrsRawOf(spark: SparkSession, store: Store): DataFrame =
    Tombstones.mask(spark, store.path, store.baseEpoch, store.epoch,
      store.epochs.map(e =>
        spark.read.parquet(s"${store.path}/attrs/epoch=$e")
          .withColumn("epoch", lit(e))
          .withColumn("__aepoch", lit(e)))
        .reduce(_ unionByName _))

  /** Latest-wins per vec_id over a frame carrying `__aepoch` — a
    * no-op column drop when the range holds no update epochs, so
    * update-free stores keep bitwise plans.
    */
  private[graft] def resolveLatestAttrs(df: DataFrame,
                                        hasUpdates: Boolean): DataFrame =
    if (!hasUpdates) df.drop("__aepoch")
    else df.withColumn("__rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("vec_id")).orderBy(col("__aepoch").desc)))
      .filter(col("__rn") === 1).drop("__rn", "__aepoch")

  /** Whether any live epoch is an [[updateAttrs]] commit — an
    * epoch-count FS probe for the `_attr_update` sidecar, the same
    * bounded-driver-check discipline as [[attrsPresent]].
    */
  private[graft] def hasAttrUpdates(spark: SparkSession,
                                    store: Store): Boolean =
    store.epochs.exists(e => StoreCommits.fs(spark, store.path).exists(
      new org.apache.hadoop.fs.Path(
        s"${store.path}/attrs/epoch=$e/_attr_update")))

  /** Write one epoch's commit marker. `writer` is the committing
    * actor's identity — `"lifecycle"` for every batch-API op
    * (build/append/compact/retrain), a per-batch tag (e.g.
    * `stream:batch=N`) for the streaming admission sink — recorded so a
    * crash-replay can tell ITS OWN crashed-but-committed attempt (same
    * tag → overwrite is idempotent) from an out-of-band op that landed
    * at the same allocation (different tag → overwriting would discard
    * it), even when both commit a base — the case the is_base marker
    * alone cannot split (ADVICE r14's residual blind spot).
    */
  private def commitEpoch(spark: SparkSession, path: String, epoch: Long,
                          isBase: Boolean,
                          writer: String = "lifecycle"): Unit = {
    // driver-side one-row write — no Spark job ([[StoreCommits.writeMarker]])
    StoreCommits.writeMarker(spark, path, s"epoch=$epoch", isBase, writer)
  }

  private def writeSegment(path: String, rows: DataFrame,
                           epoch: Long): Unit =
    rows.withColumn("shard", col("shard") + lit(epoch * CellStride))
      .write.mode("overwrite").parquet(s"$path/segments/epoch=$epoch")

  /** Persist a base epoch's frozen sub-shard layout
    * ([[Hnsw.GeoLayout]]) beside its index: (cell, n_sub) rows for the
    * SPLIT cells plus the build-time cap on every row (self-describing,
    * so a retrain can re-derive a fresh layout under its new cells with
    * the same policy). Written only for capped stores — an uncapped
    * store has no layout dir and loads as the pre-layout format,
    * bitwise.
    */
  private def writeLayout(spark: SparkSession, path: String, epoch: Long,
                          layout: Hnsw.GeoLayout,
                          maxCellNodes: Int,
                          routing: Hnsw.GeoRouting = Map.empty,
                          subRouted: Boolean = false): Unit = {
    import spark.implicits._
    val rows =
      if (layout.isEmpty)
        Seq((-1L, 1, null: Seq[Seq[Double]], null: Seq[Int]))
      else layout.toSeq.map { case (c, n) =>
        // a routed cell persists its frozen mini-IVF beside the slot
        // count ([[Hnsw.SubRouting]]); pure-hash cells carry nulls, so
        // the relation stays the round-17 shape plus nullable columns
        routing.get(c) match {
          case Some(r) =>
            (c, n, r.centroids.map(_.toSeq).toSeq, r.split.toSeq)
          case None => (c, n, null: Seq[Seq[Double]], null: Seq[Int])
        }
      }
    rows.toDF("cell", "n_sub", "sub_centroids", "sub_split")
      .withColumn("max_cell_nodes", lit(maxCellNodes))
      // the POLICY flag, persisted so compaction/retrain on a routed
      // store know to re-train mini-IVFs for cells they (re-)split —
      // routing.nonEmpty can't carry it: a routed store cold-built on
      // an un-skewed corpus has no routed cell yet
      .withColumn("sub_routed", lit(subRouted))
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$path/layout/epoch=$epoch")
  }

  /** A base epoch's persisted layout + cap + within-cell routing +
    * routing policy flag, or (empty, 0, empty, false) for stores built
    * without a cell cap.
    */
  private[graft] def layoutAt(spark: SparkSession, path: String,
                              epoch: Long)
      : (Hnsw.GeoLayout, Int, Hnsw.GeoRouting, Boolean) = {
    val dir = new org.apache.hadoop.fs.Path(s"$path/layout/epoch=$epoch")
    if (!StoreCommits.fs(spark, path).exists(dir))
      (Map.empty, 0, Map.empty, false)
    else {
      val rows = spark.read.parquet(dir.toString).collect()
      val cap = rows.headOption
        .map(_.getAs[Int]("max_cell_nodes")).getOrElse(0)
      val layout = rows.iterator
        .filter(_.getAs[Long]("cell") >= 0L)
        .map(r => r.getAs[Long]("cell") -> r.getAs[Int]("n_sub"))
        .filter(_._2 > 1).toMap
      val routing = rows.iterator
        .filter(r => r.getAs[Long]("cell") >= 0L &&
          !r.isNullAt(r.fieldIndex("sub_centroids")))
        .map { r =>
          val cents = r.getSeq[scala.collection.Seq[Double]](
              r.fieldIndex("sub_centroids"))
            .map(_.toArray).toArray
          val split = r.getSeq[Int](r.fieldIndex("sub_split")).toArray
          r.getAs[Long]("cell") -> Hnsw.SubRouting(cents, split)
        }.toMap
      val subRouted =
        rows.headOption.exists(_.getAs[Boolean]("sub_routed"))
      (layout, cap, routing, subRouted)
    }
  }

  /** Build the store: epoch 0 is a base segment ([[Hnsw.buildGeo]] over
    * the whole corpus), `index` is frozen beside it, and the
    * [[IVF.cellStats]] snapshot taken here becomes the drift baseline.
    * An empty corpus is a legal seed (the streaming sink's cold start);
    * the index must still be trained — on a sample of the expected
    * distribution — because cells are the routing geometry.
    *
    * Columns of `emb` beyond (vec_id, embedding) are ATTRIBUTE PAYLOADS:
    * written beside the vectors as `attrs/epoch=N` relations (cell-
    * strided like the segments, never inside the graph rows — appends
    * and compaction stay bitwise on the vector/graph columns) so
    * [[batchNeighborsFilteredExpr]] can evaluate a filter predicate in
    * the store's own probed-cell-pruned scan. A store built with
    * payloads requires every subsequent non-empty [[append]] batch to
    * carry the same payload columns.
    */
  def build(spark: SparkSession, emb: DataFrame, path: String,
            index: IVF.Index, m: Int = 8,
            efConstruction: Int = 64, maxCellNodes: Int = 0,
            subRouted: Boolean = false): Store = {
    require(index.k < CellStride,
      s"index.k=${index.k} must sit under the cell stride $CellStride")
    require(!subRouted || maxCellNodes > 0,
      "subRouted needs maxCellNodes > 0 — within-cell routing is a " +
        "refinement of the hot-cell cap, not a standalone mode")
    val f = StoreCommits.fs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    if (f.exists(p)) f.delete(p, true)
    val src = graft.CacheRegistry.persist(emb)
    val corpus = src.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    // the hot-cell bound: cells past maxCellNodes split into id-hash
    // sub-shards under the same centroid, frozen beside the index — the
    // logical shard range must still sit under the epoch stride.
    // `subRouted` additionally trains a frozen mini-IVF inside each hot
    // cell ([[Hnsw.SubRouting]] — the hot cell's COMPUTE bound) whose
    // sub-cells the id-hash re-cap still bounds by construction.
    val (layout, routing) =
      if (maxCellNodes > 0) {
        if (subRouted) Hnsw.geoRoutingOf(corpus, index, maxCellNodes)
        else (Hnsw.geoLayout(corpus, index, maxCellNodes),
          Map.empty[Long, Hnsw.SubRouting])
      } else (Map.empty[Long, Int], Map.empty[Long, Hnsw.SubRouting])
    require(layout.valuesIterator.forall(n =>
        n.toLong * index.k <= CellStride),
      s"sub-shard layout overflows the cell stride: max n_sub " +
        s"${layout.values.max} × k=${index.k} > $CellStride — raise " +
        "maxCellNodes or lower k")
    val pcols = payloadCols(src)
    // the epoch-0 relations are independent (each reads `src`/`corpus` —
    // persisted — and writes its own dir), so they overlap
    // ([[ParWrites]], guide §2.6); the commit marker lands strictly LAST,
    // so crash-invisibility is unchanged
    val stats = graft.CacheRegistry.persist(IVF.cellStats(corpus, index))
    ParWrites.run(Seq[() => Unit](
      () => writeSegment(path,
        Hnsw.buildGeoWithLayout(corpus, index, m, efConstruction, layout,
          routing = routing), 0L),
      () => IVF.save(spark, index, s"$path/index/epoch=0"),
      // the train-time snapshot is both the drift BASELINE and epoch 0's
      // incremental-stats leaf (the same frame, by definition)
      () => stats.write.mode("overwrite").parquet(s"$path/drift/epoch=0"),
      () => stats.write.mode("overwrite").parquet(s"$path/stats/epoch=0")) ++
      (if (maxCellNodes > 0) Seq[() => Unit](() =>
        writeLayout(spark, path, 0L, layout, maxCellNodes, routing,
          subRouted)) else Nil) ++
      (if (pcols.nonEmpty) Seq[() => Unit](() =>
        writeAttrs(path, src, index, 0L, pcols)) else Nil))
    commitEpoch(spark, path, 0L, isBase = true)
    loadAtWith(spark, path, 0L,
      Some(BaseMeta(0L, index, layout, maxCellNodes, routing, subRouted)))
  }

  /** Load the latest committed epoch. */
  def load(spark: SparkSession, path: String): Store =
    loadAt(spark, path,
      StoreCommits.committedMap(spark, path, "epoch").keys.max)

  /** Load AS OF a committed epoch — segments in [latest base ≤ epoch,
    * epoch] plus THAT base's index; deterministic re-reads for
    * at-least-once replay (the streaming sink pins its pre-state with
    * this).
    *
    * DELETION masking ([[delete]]): a delete epoch writes only a
    * tombstone relation; the loaded segment view anti-joins the live
    * tombstones out (broadcast, tombstone-count-sized, applied only when
    * the live range has any — deletion-free stores keep their exact
    * plans). Every surface downstream — routed serving, near-dup scans,
    * admission's already-stored check, retrain's corpus — therefore sees
    * corpus-minus-deleted; surviving nodes' edges INTO deleted nodes are
    * elided at graph reconstruction (the [[Hnsw]] dangling-id tolerance),
    * which narrows traversal until the next [[compact]] physically
    * removes the nodes and rebuilds the touched cells.
    */
  def loadAt(spark: SparkSession, path: String, epoch: Long): Store =
    loadAtWith(spark, path, epoch, None)

  /** [[loadAt]] with the base's immutable metadata (index / layout /
    * routing) already IN HAND — the lifecycle ops' return path: build /
    * append / delete / updateAttrs / retrain know exactly the base
    * metadata the epoch they just committed loads under (the persisted
    * round-trips are bit-exact by IVF's 1e-9 quantization and the layout
    * relation's integer/double columns — spec-pinned), so re-reading the
    * index and layout dirs per op is two driver jobs of pure overhead.
    * The COMMIT verification read stays — the op's visibility proof —
    * and a base mismatch (an out-of-band op landed between the write and
    * this load) falls back to the full disk read.
    */
  /** A base epoch's immutable metadata, as the lifecycle ops hold it. */
  private case class BaseMeta(baseEpoch: Long, index: IVF.Index,
                              layout: Hnsw.GeoLayout, maxCellNodes: Int,
                              routing: Hnsw.GeoRouting, subRouted: Boolean)

  private def loadAtWith(spark: SparkSession, path: String, epoch: Long,
                         known: Option[BaseMeta]): Store = {
    val commits = StoreCommits.committedMap(spark, path, "epoch")
    require(commits.contains(epoch),
      s"epoch $epoch is not committed at $path " +
        s"(committed: ${commits.keys.toSeq.sorted.mkString(",")})")
    val base = StoreCommits.baseAt(commits, epoch)
    val segs = spark.read.parquet(s"$path/segments")
      .filter(col("epoch") >= base && col("epoch") <= epoch)
    val (index, layout, cap, routing, subRouted) = known match {
      case Some(k) if k.baseEpoch == base =>
        (k.index, k.layout, k.maxCellNodes, k.routing, k.subRouted)
      case _ =>
        val (l, c, r, s) = layoutAt(spark, path, base)
        (IVF.load(spark, s"$path/index/epoch=$base"), l, c, r, s)
    }
    Store(path,
      Tombstones.mask(spark, path, base, epoch, segs),
      epoch, base, index, layout, cap, routing, subRouted)
  }

  /** Driver-side sampled guard that the strided segment rows were
    * assigned with the store's index ([[Hnsw.requireGeoStore]] adapted
    * to strided shard ids: cell = shard % stride).
    */
  private def requireStridedGeo(st: DataFrame, index: IVF.Index): Unit = {
    // cell = (shard % stride) % k: the epoch stride above the sub-shard
    // encoding ([[Hnsw.GeoLayout]] — unsplit stores are the k-identity)
    val bad = st.select(col("shard"), col("vec"))
      .limit(Hnsw.ShardCheckSample)
      .filter(IVF.assignExpr(col("vec"), index).cast("long") =!=
        pmod(pmod(col("shard"), lit(CellStride)), lit(index.k.toLong)))
      .count()
    require(bad == 0L,
      s"store segments were not assigned with this index: $bad of a " +
        s"${Hnsw.ShardCheckSample}-row sample re-assign to a different " +
        "cell — load the store's own index (loadAt pairs each epoch " +
        "range with the base index it was built under)")
  }

  /** Fold a fresh batch in as epoch `store.epoch + 1`:
    *
    *  - delta (default): [[Hnsw.buildGeo]] over JUST the batch on the
    *    frozen index — per-cell mini-graphs, batch-sized write at any
    *    corpus size;
    *  - `asBase`: COMPACTION-WITH-ADMISSION through the warm-insertion
    *    kernel — [[Hnsw.addGeo]] folds every delta epoch's vectors plus
    *    the fresh batch into the standing BASE graph (one pass over the
    *    base + delta-sized insertions; for monotone ids bitwise the
    *    from-scratch rebuild, by addGeo's theorem), and the unchanged
    *    index + drift baseline are carried forward to the new base so
    *    `loadAt` stays self-contained and vacuum can reclaim the old
    *    range.
    *
    * Caller contract: vec_ids disjoint from the store's — and, unlike
    * round 13, VERIFIED HERE by default: a one-probe broadcast semi-join
    * (batch ids broadcast, store side column-pruned to `vec_id`, zero
    * shuffle) fails the OFFENDING append instead of serving duplicate
    * rows from every routed scan until the next compaction happens to
    * run. Callers on the admission path ([[incrementalAdmit]] already
    * left-anti-joins the batch against stored ids) pass
    * `checkIds = false` to skip the redundant probe.
    *
    * Every epoch also writes its [[IVF.cellStats]] snapshot under
    * `stats/epoch=N` — batch-sized for deltas, a fold of the live
    * snapshots for compactions (the index is frozen, so the algebra
    * merges) — which is what lets [[retrainIfDrifted]]'s drift CHECK
    * cost epoch-count instead of a corpus scan.
    */
  def append(spark: SparkSession, store: Store, fresh: DataFrame,
             asBase: Boolean = false, m: Int = 8,
             efConstruction: Int = 64, checkIds: Boolean = true,
             writer: String = "lifecycle"): Store = {
    val epoch = store.epoch + 1
    require(epoch < Long.MaxValue / CellStride,
      s"epoch $epoch out of the stride range")
    val freshSrc = graft.CacheRegistry.persist(fresh)
    val freshRows = graft.CacheRegistry.persist(
      freshSrc.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding")))
    // attribute-payload contract: an attr store admits only batches
    // carrying the SAME payload columns (a stored vector without attrs
    // would silently fail every predicate), except the empty compaction
    // batch; a plain store rejects payloads (seed them at build time —
    // a mixed epoch range is the same silent-filter hazard)
    val pcols = payloadCols(freshSrc)
    val storeAttrs = attrsPresent(spark, store)
    if (storeAttrs) {
      if (pcols.isEmpty)
        require(freshSrc.isEmpty,
          "append into an attribute-payload store: the batch carries no " +
            "payload columns — stored vectors without attrs would " +
            "silently fail every predicate; append with the store's " +
            "payload schema")
      else {
        val stored = spark.read
          .parquet(s"${store.path}/attrs/epoch=${store.baseEpoch}")
          .columns.filterNot(Set("vec_id", "shard")).toSet
        require(pcols.toSet == stored,
          s"append payload columns ${pcols.sorted.mkString(",")} do not " +
            s"match the store's ${stored.toSeq.sorted.mkString(",")}")
      }
    } else require(pcols.isEmpty,
      s"append carries payload columns ${pcols.sorted.mkString(",")} " +
        "into a store built without attrs — a mixed epoch range would " +
        "silently fail predicates on the unpayloaded rows; rebuild with " +
        "payloads or drop them from the batch")
    if (checkIds) {
      val dup = store.segments.select(col("vec_id"))
        .join(broadcast(freshRows.select(col("vec_id"))),
          Seq("vec_id"), "left_semi")
        .limit(1).count()
      require(dup == 0L,
        "append batch shares vec_ids with the store — a duplicate id " +
          "would serve duplicate rows from every routed scan and break " +
          "the next compaction's addGeo; dedupe the batch (or route it " +
          "through incrementalAdmit, which drops already-stored ids)")
    }
    val freshStats = graft.CacheRegistry.persist(
      IVF.cellStats(freshRows, store.index))
    val tombs = Tombstones.live(spark, store.path, store.baseEpoch,
      store.epoch)
    // KEEP THE CAP TRUE UNDER ADMISSION (round-17 verdict #1): the
    // layout is frozen between retrains and retrain triggers on
    // GEOMETRIC drift, so a cell that accretes vectors without moving
    // the centroid could outrun `maxCellNodes` unboundedly. Compaction
    // is the one moment the full base is in hand anyway, so it GROWS
    // the layout for exactly the over-cap cells (n_sub = ⌈n/cap⌉,
    // never shrunk — a retrain re-derives from scratch) and rebuilds
    // just those cells from their live vectors under the new split;
    // every other cell keeps the warm addGeo path bitwise. Counts come
    // from the epoch-count stats fold (exact on n across deletes by the
    // negated-leaf algebra) — ≤ k rows to the driver, the [[layoutAt]]
    // bounded-collect discipline. Re-splitting is
    // oracle-invisible by q206's exhaustive-fan argument: probes fan to
    // ALL of a cell's sub-shards, so the served surface is unchanged.
    val (newLayout, newRouting, resplitCells)
        : (Hnsw.GeoLayout, Hnsw.GeoRouting, Set[Long]) =
      if (!asBase || store.maxCellNodes <= 0)
        (store.layout, store.routing, Set.empty[Long])
      else {
        val cap = store.maxCellNodes.toLong
        val perCell = foldStats(liveStats(spark, store) :+ freshStats)
          .select(col("cid").cast("long").as("cid"), col("n"))
        // cells whose live population outgrew their slot budget
        val grownPop = perCell.filter(col("n") > cap).collect()
          .flatMap { r =>
            val c = r.getLong(0)
            val need = ((r.getLong(1) + cap - 1L) / cap).toInt
            if (need > store.layout.getOrElse(c, 1))
              Some(c -> r.getLong(1))
            else None
          }.toMap
        if (grownPop.isEmpty)
          (store.layout, store.routing, Set.empty[Long])
        else {
          val grownR: Hnsw.GeoRouting =
            if (!store.subRouted) Map.empty
            else {
              // a routed store's re-split cells re-train their frozen
              // mini-IVF on their full live vector sets (the same
              // corpus the rebuild below reads) — the slot budget then
              // comes from the per-sub-cell id-hash re-cap
              val kL = store.index.k.toLong
              val gIds = grownPop.keySet.toSeq
                .map(java.lang.Long.valueOf)
              val gSrc = graft.CacheRegistry.persist(store.segments
                .filter(pmod(pmod(col("shard"), lit(CellStride)),
                  lit(kL)).isin(gIds: _*))
                .select(col("vec_id"), col("vec").as("embedding"))
                .unionByName(freshRows.filter(
                  IVF.assignExpr(col("embedding"), store.index)
                    .cast("long").isin(gIds: _*))))
              grownPop.map { case (c, n) =>
                c -> Hnsw.subRoutingFor(
                  gSrc.filter(IVF.assignExpr(col("embedding"),
                    store.index).cast("long") === c),
                  n, store.maxCellNodes)
              }
            }
          val grown =
            if (store.subRouted) grownR.map { case (c, r) => c -> r.slots }
            else grownPop.map { case (c, n) =>
              c -> ((n + cap - 1L) / cap).toInt
            }
          require((store.layout ++ grown).valuesIterator.forall(n =>
              n.toLong * store.index.k <= CellStride),
            "compaction re-split overflows the cell stride: raise " +
              "maxCellNodes or lower k")
          (store.layout ++ grown, store.routing ++ grownR, grown.keySet)
        }
      }
    // the compaction corruption tripwire (see below) runs OVERLAPPED with
    // the segment write instead of serializing before it: both fail the
    // op BEFORE the marker lands, so a tripped probe still leaves the new
    // epoch unmarked and invisible — same guarantee, one less serialized
    // job round-trip
    var corruptionProbe: Option[() => Unit] = None
    val rows =
      if (asBase) {
        val baseLo = store.baseEpoch * CellStride
        val baseRows = tombs match {
          case None =>
            store.segments
              .filter(col("shard") >= baseLo &&
                col("shard") < baseLo + CellStride)
              .withColumn("shard", col("shard") - lit(baseLo))
          case Some(t) =>
            // TOMBSTONE REPAIR — the physical-erasure point: deleted
            // nodes' edges live inside their cell's graph rows, so
            // exactly the base cells that CONTAINED a deleted node are
            // rebuilt from their surviving vectors (per-cell build,
            // ascending ids — for monotone ids bitwise the cell a
            // never-saw-the-docs build produces) while every clean cell
            // carries its graph rows untouched; the raw epoch dir is
            // read because the masked view cannot rebuild a cell. Deleted
            // DELTA vectors need no repair — they simply drop out of the
            // masked deltaVecs re-insertion below.
            val raw = spark.read
              .parquet(s"${store.path}/segments/epoch=${store.baseEpoch}")
              .withColumn("shard", col("shard") - lit(baseLo))
            val del = t.select(col("vec_id"))
            val dirty = graft.CacheRegistry.persist(
              raw.join(broadcast(del), Seq("vec_id"), "left_semi")
                .select(col("shard")).distinct())
            val clean = raw.join(broadcast(dirty), Seq("shard"), "left_anti")
            val dirtyRows = graft.CacheRegistry.persist(
              raw.join(broadcast(dirty), Seq("shard"), "left_semi"))
            // ADVICE r16: the dangling-id tolerance at graph
            // reconstruction masks genuine row loss, so compaction —
            // the one moment the full raw epoch and the tombstone set
            // are both at hand — re-arms the corruption tripwire on
            // exactly the cells it rebuilds: tombstoned nodes are still
            // PRESENT in the raw epoch (delete writes no segment rows),
            // so any id a dirty cell's edges reference that is absent
            // from the raw rows is real corruption, never a deletion.
            // Dirty-cell-bounded, one equi-join, no per-task shipping.
            corruptionProbe = Some(() => {
              val lostRef = dirtyRows
                .select(col("shard"), explode(col("nbrs")).as("__layer"))
                .select(col("shard"), explode(col("__layer")).as("nbr"))
                .join(dirtyRows.select(col("shard"),
                  col("vec_id").as("nbr")), Seq("shard", "nbr"), "left_anti")
                .limit(1).count()
              require(lostRef == 0L,
                s"segment corruption at ${store.path} epoch " +
                  s"${store.baseEpoch}: a rebuilt cell's graph references " +
                  "a node id with no stored row — dangling ids are legal " +
                  "only for tombstoned nodes, which are still present in " +
                  "the raw epoch; restore the segment from a replica " +
                  "before compacting")
            })
            // dirty cells being RE-SPLIT this compaction skip the
            // repair rebuild — they are rebuilt below from their full
            // live vector set under the new layout (the tripwire above
            // still covered them: corruption checks are layout-blind)
            val dirtyRebuild =
              if (resplitCells.isEmpty) dirty
              else dirty.filter(
                !pmod(col("shard"), lit(store.index.k.toLong))
                  .isin(resplitCells.toSeq
                    .map(java.lang.Long.valueOf): _*))
            val dirtyLive = dirtyRows
              .join(broadcast(dirtyRebuild), Seq("shard"), "left_semi")
              .join(broadcast(del), Seq("vec_id"), "left_anti")
              .select(col("vec_id"), col("vec").as("embedding"))
            // rebuild under the FROZEN layout: sub assignment is
            // id-deterministic, so survivors land back in their own
            // sub-shard — only the dirty sub-shards' graphs change
            clean.unionByName(Hnsw.buildGeoWithLayout(
              dirtyLive, store.index, m, efConstruction, newLayout,
              routing = newRouting))
        }
        val k = store.index.k.toLong
        val rsIds = resplitCells.toSeq.map(java.lang.Long.valueOf)
        // warm path excludes the re-split cells everywhere: their base
        // graph rows (built under the old n_sub) and their delta/fresh
        // vectors all route to the from-scratch rebuild instead
        val baseKeep =
          if (resplitCells.isEmpty) baseRows
          else baseRows.filter(!pmod(col("shard"), lit(k)).isin(rsIds: _*))
        val deltaSegs = store.segments
          .filter(col("shard") >= baseLo + CellStride)
        val deltaKeep =
          if (resplitCells.isEmpty) deltaSegs
          else deltaSegs.filter(
            !pmod(pmod(col("shard"), lit(CellStride)), lit(k))
              .isin(rsIds: _*))
        val freshKeep =
          if (resplitCells.isEmpty) freshRows
          else freshRows.filter(
            !IVF.assignExpr(col("embedding"), store.index).cast("long")
              .isin(rsIds: _*))
        val deltaVecs = deltaKeep
          .select(col("vec_id"), col("vec").as("embedding"))
          .unionByName(freshKeep)
        val warm = Hnsw.addGeo(baseKeep, deltaVecs, store.index, m,
          efConstruction, layout = Some(newLayout),
          routing = newRouting)
        if (resplitCells.isEmpty) warm
        else {
          // the re-split cells' FULL live vector sets (store.segments
          // is the tombstone-masked view across every live epoch, so
          // erased rows are already out) rebuilt from scratch under the
          // grown layout — ascending-id per-sub-shard builds, so for
          // monotone ids the result is bitwise the from-scratch
          // buildGeoWithLayout over corpus-minus-erased (the
          // compaction ≡ rebuild theorem carried to the re-split arm)
          val rsVecs = store.segments
            .filter(pmod(pmod(col("shard"), lit(CellStride)), lit(k))
              .isin(rsIds: _*))
            .select(col("vec_id"), col("vec").as("embedding"))
            .unionByName(freshRows.filter(
              IVF.assignExpr(col("embedding"), store.index).cast("long")
                .isin(rsIds: _*)))
          val rsParts = math.max(spark.sparkContext.defaultParallelism,
            math.min(resplitCells.toSeq
              .map(c => newLayout.getOrElse(c, 1)).sum, 4096))
          warm.unionByName(Hnsw.buildGeoWithLayout(
            rsVecs, store.index, m, efConstruction, newLayout, rsParts,
            routing = newRouting))
        }
      } else {
        // DELTA build partitioned to the batch's TOUCHED cells, not
        // k tasks (round-16 verdict #6: the per-batch geo fold was a
        // pure task-count floor — k near-empty tasks for a batch
        // touching a handful of cells). freshStats is already the
        // batch's per-cell relation, so its row count IS the touched
        // cell count; sub-shards of a touched cell at most double it,
        // and partition count is a scheduling choice (one graph at a
        // time per task regardless)
        val touched = freshStats.count()
        val numParts = math.max(
          spark.sparkContext.defaultParallelism,
          math.min(2L * touched, 4096L).toInt)
        Hnsw.buildGeoWithLayout(freshRows, store.index, m,
          efConstruction, store.layout, numParts, store.routing)
      }
    // the delta arm's three writes (segment / attrs / stats) are
    // independent, so they overlap ([[ParWrites]], guide §2.6) with the
    // marker still strictly last; the BASE arm writes the segment first —
    // its tombstoned-range stats recompute below reads that very dir
    // back — then overlaps the rest
    val attrsWrite: Option[() => Unit] = if (!storeAttrs) None
    else Some(() => {
      if (asBase) {
        // the compacted base's attrs: the live epochs' relations with
        // their cells UN-strided (the frozen index never moves a cell)
        // plus the fresh batch's — epoch-count reads, batch-sized
        // assignment work, never a corpus re-assignment
        val lives0 = store.epochs.map(e =>
          spark.read.parquet(s"${store.path}/attrs/epoch=$e")
            .withColumn("shard", pmod(col("shard"), lit(CellStride)))
            .withColumn("epoch", lit(e))
            .withColumn("__aepoch", lit(e)))
          .reduce(_ unionByName _)
        // erased rows' attrs are physically dropped with their nodes
        // (epoch-aware: a re-admitted id's newer attrs survive), and
        // [[updateAttrs]] epochs resolve LATEST-WINS here — the new
        // base carries exactly one (current) payload row per survivor,
        // so post-compaction reads regain their exact update-free plans
        val lives = resolveLatestAttrs(
          Tombstones.mask(spark, store.path, store.baseEpoch,
            store.epoch, lives0),
          hasAttrUpdates(spark, store))
        val merged =
          if (pcols.isEmpty) lives
          else lives.unionByName(freshSrc.select(col("vec_id") +:
            IVF.assignExpr(col("embedding").cast("array<double>"),
                store.index)
              .cast("long").as("shard") +: pcols.map(col): _*))
        merged.withColumn("shard", col("shard") + lit(epoch * CellStride))
          .write.mode("overwrite")
          .parquet(s"${store.path}/attrs/epoch=$epoch")
      } else if (pcols.nonEmpty)
        writeAttrs(store.path, freshSrc, store.index, epoch, pcols)
      else
        // empty payload-less delta into an attr store (guarded above to
        // be empty): land an empty relation with the stored schema so
        // the live range stays uniformly attributed — driver-side, no
        // Spark job for a zero-row write
        StoreCommits.writeEmptyRelation(spark,
          s"${store.path}/attrs/epoch=$epoch",
          spark.read
            .parquet(s"${store.path}/attrs/epoch=${store.baseEpoch}")
            .schema)
      ()
    })
    if (asBase) {
      // the BASE arm's stats snapshot may need to read the new segment
      // back (the tombstoned-range recompute below), so the segment
      // write runs first; everything after it is independent and
      // overlaps. The corruption tripwire overlaps the segment write
      // (both fail before the marker; both read only persisted frames)
      ParWrites.run(Seq[() => Unit](() =>
        writeSegment(store.path, rows, epoch)) ++ corruptionProbe.toSeq)
      // the compacted base's stats snapshot: fold the live epochs' leaves
      // plus the fresh batch — epoch-count cost under the frozen index.
      // A tombstoned range takes the recompute arm: the live fold is
      // exact on every column for leaves written since delete leaves
      // carried replace_max survivor maxes, but a PRE-replace_max
      // delete leaf in the range would leave max_d2 an upper bound —
      // and a compaction already pays a corpus pass — so the new base's
      // PERSISTED leaf (which outlives the tombstones) recomputes
      // unconditionally rather than trusting leaf vintage
      val folded = graft.CacheRegistry.persist(
        if (tombs.isEmpty) foldStats(liveStats(spark, store) :+ freshStats)
        else IVF.cellStats(
          spark.read.parquet(s"${store.path}/segments/epoch=$epoch")
            .select(col("vec_id"), col("vec").as("embedding")),
          store.index))
      val carried =
        spark.read.parquet(s"${store.path}/drift/epoch=${store.baseEpoch}")
      // cold-start re-baseline (ADVICE r13): a store seeded on an empty
      // corpus wrote an empty drift baseline — meanD2 is unmeasurable and
      // retrainIfDrifted could never fire. The first non-empty compaction
      // is the first moment the frozen index has a measurable corpus
      // under it, so ITS snapshot becomes the baseline; a measurable
      // baseline is carried forward unchanged (baselines follow retrains,
      // never growth).
      ParWrites.run(Seq[() => Unit](
        () => IVF.save(spark, store.index,
          s"${store.path}/index/epoch=$epoch"),
        () => folded.write.mode("overwrite")
          .parquet(s"${store.path}/stats/epoch=$epoch"),
        () => {
          // the measurability probe runs INSIDE the drift thunk so its
          // one-row job overlaps the sibling writes instead of
          // serializing before them — same decision, same write
          val baselineUnmeasurable = carried
            .agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0) == 0L
          (if (baselineUnmeasurable) folded else carried)
            .write.mode("overwrite")
            .parquet(s"${store.path}/drift/epoch=$epoch")
        }) ++
        // the layout rides the index to the new base — grown for the
        // over-cap cells this compaction re-split, otherwise carried
        // forward unchanged (only a retrain re-derives it from scratch)
        (if (store.maxCellNodes > 0) Seq[() => Unit](() =>
          writeLayout(spark, store.path, epoch, newLayout,
            store.maxCellNodes, newRouting, store.subRouted)) else Nil) ++
        attrsWrite.toSeq)
    } else
      ParWrites.run(Seq[() => Unit](
        () => writeSegment(store.path, rows, epoch),
        () => freshStats.write.mode("overwrite")
          .parquet(s"${store.path}/stats/epoch=$epoch")) ++
        attrsWrite.toSeq)
    commitEpoch(spark, store.path, epoch, asBase, writer)
    loadAtWith(spark, store.path, epoch,
      Some(if (asBase)
        BaseMeta(epoch, store.index, newLayout, store.maxCellNodes,
          newRouting, store.subRouted)
      else
        BaseMeta(store.baseEpoch, store.index, store.layout,
          store.maxCellNodes, store.routing, store.subRouted)))
  }

  /** Collapse the live segment range into one base — [[append]]'s
    * compaction arm with an empty batch.
    */
  def compact(spark: SparkSession, store: Store, m: Int = 8,
              efConstruction: Int = 64): Store =
    append(spark, store,
      spark.range(0).select(col("id").as("vec_id"),
        lit(null).cast("array<double>").as("embedding")),
      asBase = true, m = m, efConstruction = efConstruction,
      checkIds = false)

  /** ERASE vectors from the standing store — the takedown/right-to-be-
    * forgotten dual of [[admit]], as a TOMBSTONE EPOCH: epoch N+1 holds
    * only the erased vec_ids (no segment rows), [[loadAt]] masks them out
    * of every surface, and the epoch's stats leaf is the erased vectors'
    * [[IVF.cellStats]] NEGATED (exact in the same quantized-long domain,
    * so the epoch-count drift fold stays exact on n/inertia/mean) plus
    * the touched cells' recomputed survivor `max_d2` under
    * `replace_max` — the fold is exact on EVERY column across deletes
    * (a touched-cell-bounded recompute; see the leaf construction
    * below). For an attribute
    * store an empty attrs relation keeps the live range uniform — the
    * erased rows' attrs are masked by the same tombstones in [[attrsOf]].
    *
    * Between the delete and the next [[compact]], serving runs
    * TRAVERSAL-ONLY tombstones ([[flaggedSegments]] — round-16 verdict
    * #4): deleted nodes stay ROUTABLE in the raw graphs and the
    * filtered result heap excludes them, so recall holds at the
    * pre-delete level instead of narrowing with the deleted fraction
    * as the masked read's elided edges did; the
    * COMPACTION physically removes the nodes and rebuilds exactly the
    * base cells that contained one (clean cells carry their graph rows
    * bitwise, deltas re-insert through the warm kernel), so for monotone
    * ids the compacted store is BITWISE the [[build]] over
    * corpus-minus-erased — the store that never saw the docs (q204's
    * contract, HnswSpec-pinned). A re-submitted erased id is a new
    * admission (its node is gone — GDPR semantics). Erasing unknown ids
    * is a no-op that still commits (idempotent replays).
    *
    * Scale shape: one broadcast-pruned scan of the segments (the erased
    * vectors' rows, for the stats leaf), a tombstone-sized write, and the
    * marker — never a corpus rewrite; the corpus-sized repair bill is
    * deferred to compaction and pays only for DIRTY cells.
    */
  def delete(spark: SparkSession, store: Store, ids: DataFrame,
             writer: String = "lifecycle"): Store = {
    val epoch = store.epoch + 1
    require(epoch < Long.MaxValue / CellStride,
      s"epoch $epoch out of the stride range")
    // restrict to ids the store actually holds (store.segments is the
    // already-masked live view, so re-deleting is a committed no-op);
    // stored-ids column streamed through a broadcast of the (small)
    // erasure set — never a corpus-side shuffle
    val del = graft.CacheRegistry.persist(
      store.segments.select(col("vec_id"))
        .join(broadcast(ids.select(col("vec_id")).distinct()),
          Seq("vec_id"), "left_semi"))
    val delVecs = store.segments
      .join(broadcast(del), Seq("vec_id"), "left_semi")
      .select(col("vec_id"), col("vec").as("embedding"))
    // the negated stats leaf: same per-point quantized d2q longs the
    // positive leaves carry, so the fold subtracts them EXACTLY
    val negStats0 = graft.CacheRegistry.persist(
      IVF.cellStats(delVecs, store.index))
    // EXACT max_d2 across deletes (round-16 verdict #7): a max can't be
    // un-maxed by negation, so the touched cells' survivor max is
    // recomputed here and the leaf carries it with `replace_max` — the
    // fold ([[foldStats]]) then supersedes older maxes for exactly
    // these cells. The recompute is touched-cell-bounded: the shard
    // list (touched cells × live epochs × sub-shards) is
    // erasure-bounded and driver-built, and segment files are sorted
    // by shard, so the isin prunes at the row-group stats.
    val touchedCells = negStats0.select(col("cid")).collect()
      .map(_.getInt(0).toLong)
    // an erasure of ids the store never held is a committed no-op — and
    // it must not WRITE a tombstone partition, which would flip every
    // later read into the masking/repair arm for nothing (the
    // deletion-free fast-path contract). Derived from the collect above
    // instead of a separate `del.isEmpty` probe job: del is non-empty iff
    // some stored segment row carries a deleted id iff the erased
    // vectors' cellStats has a row (every vector has exactly one cell)
    val delEmpty = touchedCells.isEmpty
    val touchedShards = stridedShardIds(store, touchedCells.toSeq)
    // small lists stay a literal isin (pushes to row-group stats on
    // the shard-sorted segment files); a BULK erasure touching
    // thousands of cells × epochs × sub-shards would bloat the plan
    // with an O(list) per-row isin (ADVICE r17), so past the pushdown-
    // friendly size the same restriction runs as a broadcast semi-join
    // on the shard-id frame instead
    val shardRestricted =
      if (touchedShards.size <= IsinPushdownMaxIds)
        store.segments.filter(col("shard")
          .isin(touchedShards.map(java.lang.Long.valueOf): _*))
      else {
        import spark.implicits._
        store.segments.join(
          broadcast(touchedShards.toDS.toDF("shard")),
          Seq("shard"), "left_semi")
      }
    val survivors = shardRestricted
      .join(broadcast(del), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("vec").as("embedding"))
    val survMax = IVF.cellStats(survivors, store.index)
      .select(col("cid"), col("max_d2").as("__smax"))
    val negStats = negStats0
      .select(col("cid"), (-col("n")).as("n"),
        (-col("inertia")).as("inertia"), col("mean_d2"))
      .join(broadcast(survMax), Seq("cid"), "left")
      .select(col("cid"), col("n"), col("inertia"), col("mean_d2"),
        coalesce(col("__smax"), lit(0.0)).as("max_d2"),
        lit(true).as("replace_max"))
    // the tombstone / stats / attrs relations are independent
    // erasure-sized writes — overlapped ([[ParWrites]], guide §2.6),
    // marker still strictly last
    ParWrites.run(
      (if (delEmpty) Seq.empty[() => Unit] else Seq[() => Unit](() =>
        del.write.mode("overwrite")
          .parquet(s"${store.path}/tombstones/epoch=$epoch"))) ++
      Seq[() => Unit](() =>
        negStats.write.mode("overwrite")
          .parquet(s"${store.path}/stats/epoch=$epoch")) ++
      (if (attrsPresent(spark, store)) Seq[() => Unit](() =>
        StoreCommits.writeEmptyRelation(spark,
          s"${store.path}/attrs/epoch=$epoch",
          spark.read
            .parquet(s"${store.path}/attrs/epoch=${store.baseEpoch}")
            .schema)) else Nil))
    commitEpoch(spark, store.path, epoch, isBase = false, writer)
    loadAtWith(spark, store.path, epoch,
      Some(BaseMeta(store.baseEpoch, store.index, store.layout,
        store.maxCellNodes, store.routing, store.subRouted)))
  }

  /** ATTRIBUTE UPDATE on the standing store (round-17 verdict #3) —
    * the metadata-backfill op: quality scores re-computed, language IDs
    * re-run, license flags corrected. A PAYLOAD-ONLY commit: epoch N+1
    * holds one attr relation with the updated rows (update-sized —
    * never a corpus rewrite) and an empty stats leaf; the graph and
    * vector rows are untouched BITWISE (no segment dir — the [[delete]]
    * precedent), so every geometric surface keeps its exact plans.
    * Readers resolve LATEST-WINS per vec_id, switched on by the
    * `_attr_update` sidecar so update-free stores keep their exact
    * pre-update plans; the next [[append]]-as-base/[[compact]] folds
    * the resolution into the new base and the sidecar disappears.
    *
    * Semantics: updates must carry the store's full payload schema
    * (a partial-column update would silently null the rest); ids not
    * live in the store — never admitted, or erased — are EXCLUDED
    * (committed no-op, the [[delete]] idempotency discipline), so an
    * update can never resurrect a tombstoned id's payload; duplicate
    * vec_ids within one update batch fail loudly (ambiguous). Replays
    * overwrite in place under the writer-identity discipline like
    * every other commit.
    *
    * Scale shape: one broadcast-pruned pass over the stored id column,
    * one update-sized cell-recovery join against the broadcast update
    * ids, an update-sized write, and the marker.
    */
  def updateAttrs(spark: SparkSession, store: Store, updates: DataFrame,
                  writer: String = "lifecycle"): Store = {
    val epoch = store.epoch + 1
    require(epoch < Long.MaxValue / CellStride,
      s"epoch $epoch out of the stride range")
    require(attrsPresent(spark, store),
      s"store at ${store.path} carries no attribute payloads — there " +
        "is nothing to update; build with payload columns")
    val stored = spark.read
      .parquet(s"${store.path}/attrs/epoch=${store.baseEpoch}")
      .columns.filterNot(Set("vec_id", "shard")).toSet
    val pcols = updates.columns.filterNot(_ == "vec_id").toSeq
    require(pcols.toSet == stored,
      s"update payload columns ${pcols.sorted.mkString(",")} do not " +
        s"match the store's ${stored.toSeq.sorted.mkString(",")} — a " +
        "partial-column update would silently null the rest")
    val src = graft.CacheRegistry.persist(updates)
    val dup = src.groupBy(col("vec_id")).count()
      .filter(col("count") > 1L).limit(1).count()
    require(dup == 0L,
      "update batch carries duplicate vec_ids — latest-wins within " +
        "one epoch is ambiguous; resolve the batch before committing")
    // live targets only: the stored-id column streams through a
    // broadcast of the (small) update id set — never a corpus shuffle
    val liveIds = graft.CacheRegistry.persist(
      store.segments.select(col("vec_id"))
        .join(broadcast(src.select(col("vec_id"))), Seq("vec_id"),
          "left_semi"))
    // each id's frozen plain cell, recovered from the standing attr
    // relation (the index is frozen, so the cell never moves across
    // updates — chained updates share it); update-sized either side
    val cellOf = store.epochs.map(e =>
        spark.read.parquet(s"${store.path}/attrs/epoch=$e")
          .select(col("vec_id"), col("shard")))
      .reduce(_ unionByName _)
      .join(broadcast(liveIds), Seq("vec_id"), "left_semi")
      .select(col("vec_id"),
        pmod(col("shard"), lit(CellStride)).as("__cell"))
      .distinct()
    // the attrs write and the zero-mass stats leaf are independent —
    // overlapped ([[ParWrites]], guide §2.6); the `_attr_update` sidecar
    // lands AFTER the attrs dir write (the overwrite would delete it),
    // and the marker stays strictly last
    ParWrites.run(
      () => src.join(broadcast(liveIds), Seq("vec_id"), "left_semi")
        .join(broadcast(cellOf), Seq("vec_id"))
        .select(col("vec_id") +:
          (col("__cell") + lit(epoch * CellStride)).as("shard") +:
          pcols.map(col): _*)
        .write.mode("overwrite")
        .parquet(s"${store.path}/attrs/epoch=$epoch"),
      // zero-mass stats leaf: the payload moved, the geometry did not —
      // the epoch-count drift fold sees nothing (driver-side empty write)
      () => StoreCommits.writeEmptyRelation(spark,
        s"${store.path}/stats/epoch=$epoch",
        spark.read
          .parquet(s"${store.path}/stats/epoch=${store.baseEpoch}")
          .schema))
    // the latest-wins switch, written INSIDE the epoch's own dir so it
    // rides the commit (readers only see committed epochs) and dies
    // with the next base's resolution
    val flag = new org.apache.hadoop.fs.Path(
      s"${store.path}/attrs/epoch=$epoch/_attr_update")
    val out = StoreCommits.fs(spark, store.path).create(flag, true)
    out.close()
    commitEpoch(spark, store.path, epoch, isBase = false, writer)
    loadAtWith(spark, store.path, epoch,
      Some(BaseMeta(store.baseEpoch, store.index, store.layout,
        store.maxCellNodes, store.routing, store.subRouted)))
  }

  /** Delete segment/commit dirs strictly older than the latest base ≤
    * `store.epoch`, and index/drift/stats dirs of superseded bases — all
    * fully contained in (or carried forward to) that base.
    *
    * Reader contract: vacuum removes the reclaimed epochs' COMMIT
    * markers first in enumeration order, so a subsequent
    * [[loadAt]] of a vacuumed epoch fails AT LOAD TIME on the
    * commit-marker require — never as a file-not-found deep inside a
    * scan. A [[Store]] handle loaded BEFORE the vacuum is a lazy plan
    * over the deleted paths: evaluating it afterwards is a runtime
    * read error by construction. Vacuum only after every reader of the
    * superseded range has been released — the streaming sink upholds
    * this by reclaiming only epochs below the PREVIOUS base.
    */
  def vacuum(spark: SparkSession, store: Store): Unit = {
    val commits = StoreCommits.committedMap(spark, store.path, "epoch")
    val base = StoreCommits.baseAt(commits, store.epoch)
    for (e <- commits.keys if e < base;
         dir <- Seq("commits", "segments", "index",
           "drift", "stats", "attrs", "tombstones", "layout")) {
      val p = new org.apache.hadoop.fs.Path(s"${store.path}/$dir/epoch=$e")
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
    }
  }

  /** The probe fan every routed surface shares: an exploded `cell`
    * column × the live epochs × the cell's sub-shards under the frozen
    * layout ([[Hnsw.fanToSubShards]] — a broadcast layout join that
    * exists only for capped stores; an unsplit store keeps the
    * pre-layout plan), strided into the stored shard-id space. Routing
    * stays ≤ nProbe CELLS; the sub fan is what makes the per-task graph
    * bound hold on the serve side too.
    */
  private def stridedFan(pr: DataFrame, store: Store,
                         nProbeSub: Int = 0): DataFrame =
    Hnsw.fanToSubShards(
      pr.withColumn("epoch", explode(typedLit(store.epochs.toArray))),
      "cell", store.layout, store.index.k, store.routing, nProbeSub)
      .withColumn("shard", col("epoch") * lit(CellStride) + col("shard"))

  /** Driver-side form of [[stridedFan]] — THE one place the strided
    * sub-shard enumeration (epochs × cells × the cell's n_sub) is
    * spelled out for literal shard-id lists ([[neighbors]]' probe
    * targets, [[delete]]'s touched-shard recompute scope); keep it in
    * lockstep with the column form above.
    */
  private def stridedShardIds(store: Store, cells: Seq[Long]): Seq[Long] =
    for (e <- store.epochs; c <- cells;
         s <- 0 until store.layout.getOrElse(c, 1))
      yield e * CellStride + s.toLong * store.index.k + c

  /** The TRAVERSAL-ONLY tombstone serve frame (round-16 verdict #4):
    * between a [[delete]] and its compaction the deleted nodes' ROWS
    * stay in the served graphs — surviving nodes' edges through them
    * remain walkable, so recall does not narrow with the deleted
    * fraction the way the masked read's elided edges did — and the
    * per-row `__live` flag (epoch-aware, exactly [[loadAt]]'s masking
    * rule: a re-admitted id's newer row is live) is what excludes them
    * from every result heap (the one search kernel's allowed-only
    * result heap, [[Hnsw.searchLayer]]). None when the live range has no
    * tombstones — the deletion-free fast path reads the masked segments
    * with every row `ok`.
    */
  private def flaggedSegments(spark: SparkSession,
                              store: Store): Option[DataFrame] =
    Tombstones.live(spark, store.path, store.baseEpoch, store.epoch).map {
      t =>
        val raw = spark.read.parquet(s"${store.path}/segments")
          .filter(col("epoch") >= store.baseEpoch &&
            col("epoch") <= store.epoch)
        val tmax = t.groupBy(col("vec_id"))
          .agg(max(col("epoch")).as("__tepoch"))
        raw.join(broadcast(tmax), Seq("vec_id"), "left")
          .withColumn("__live",
            col("__tepoch").isNull || col("epoch") > col("__tepoch"))
          .select(col("shard"), col("vec_id"), col("vec"), col("level"),
            col("nbrs"), col("__live"))
    }

  /** Routed single-query top-k: the query's `nProbe` nearest cells
    * (driver-side [[IVF.probeIds]] — one vector, no job) across every
    * live epoch, then [[Hnsw.neighbors]] over ONLY those cell graphs —
    * epochs·nProbe shard tasks, never a fan-out over every shard of
    * every epoch. `nProbe <= 0` takes the audited general-kNN default
    * fraction ([[IVF.defaultNProbe]]); near-identical lookups can drop
    * toward [[Hnsw.DefaultNearDupNProbe]] per the routing envelope.
    */
  def neighbors(store: Store, query: Array[Double], k: Int,
                efSearch: Int = 48, nProbe: Int = 0): DataFrame = {
    require(k >= 1 && efSearch >= k,
      s"need efSearch >= k >= 1, got k=$k efSearch=$efSearch")
    val spark = store.segments.sparkSession
    import spark.implicits._
    // tombstoned range → the traversal-only filtered route, through the
    // batch surface (a batch of one is spec-pinned value-identical);
    // the clean path's explicit (cos desc, vec_id) ordering is restored
    // after the rank projection — rank order is a window artifact, not
    // a frame guarantee
    if (flaggedSegments(spark, store).isDefined)
      return batchNeighbors(store,
          Seq((0L, query.toSeq)).toDF("probe_id", "embedding"),
          k, efSearch, nProbe)
        .select(col("vec_id"), col("cos"))
        .orderBy(col("cos").desc, col("vec_id").asc)
    val np = if (nProbe <= 0) IVF.defaultNProbe(store.index.k) else nProbe
    val cells = IVF.probeIds(store.index, query, np)
    val targets = stridedShardIds(store, cells.map(_.toLong))
    Hnsw.neighbors(
      store.segments.filter(
        col("shard").isin(targets.map(java.lang.Long.valueOf): _*)),
      query, k, efSearch)
  }

  /** Routed batch serving — [[Hnsw.batchNeighbors]] with the probe
    * fan-out bounded by geometry instead of shard count: each probe
    * explodes to its `nProbe` nearest cells ([[IVF.probeExpr]], a
    * per-row explode) × the live epochs (a broadcast of at most a few
    * dozen rows between compactions), so shuffle volume is
    * |batch|·nProbe·epochs probe rows — independent of how many cells
    * the corpus needs — and the store-side pass is pruned to the PROBED
    * cells by a broadcast semi-join, so a micro-batch's cost is probed
    * cells, not corpus. Same output contract: (probe_id, vec_id, cos,
    * rank), rank 1..k, 1e-6-rounded, zero-norm probes dropped; null or
    * wrong-dim probes fail loudly before the scan.
    */
  def batchNeighbors(store: Store, probes: DataFrame, k: Int,
                     efSearch: Int = 64, nProbe: Int = 0,
                     parallelism: Int = 32,
                     nProbeSub: Int = 0): DataFrame =
    routedServe(store, probes, k, efSearch, nProbe, parallelism,
      nProbeSub, None)

  /** ROUTED + FILTERED batch serving — [[batchNeighbors]] with the
    * predicate pushed INTO each cell graph's search
    * ([[Hnsw.batchNeighborsFiltered]]'s allowed-only collection heap):
    * "nearest neighbors WHERE lang = 'en'" against the standing
    * segmented store, the deployment combination (geometry bounds WHICH
    * graphs a probe touches, the predicate bounds WHAT they may
    * return). `allowed` is the pre-evaluated admissible vec_id set —
    * one equi-join pins the flag on the store pass, which stays pruned
    * to the probed cells. Same recall caveats as both parents: the
    * routing envelope on which cells are probed, and the ~1/efSearch
    * selectivity decay on what the filtered heap collects — raise
    * `efSearch` with 1/selectivity.
    */
  def batchNeighborsFiltered(store: Store, probes: DataFrame,
                             allowed: DataFrame, k: Int,
                             efSearch: Int = 64, nProbe: Int = 0,
                             parallelism: Int = 32,
                             nProbeSub: Int = 0): DataFrame =
    routedServe(store, probes, k, efSearch, nProbe, parallelism,
      nProbeSub, Some(_ => allowed.select(col("vec_id")).distinct()))

  /** ROUTED + FILTERED serving with the predicate evaluated by the STORE
    * ITSELF — [[batchNeighborsFiltered]] without the caller-built
    * allowed-id frame: `predicate` is a Column expression over the
    * attribute payload columns written beside the vectors at
    * [[build]]/[[append]] time, and it is evaluated on the attrs
    * relation AFTER the probed-cell prune — so a micro-batch's filter
    * work is probed-cells-sized, where the pre-evaluated-frame form
    * costs one corpus-sized attribute join per query when the attribute
    * table lives outside the store. Everything downstream (allowed-only
    * result heap, recall-vs-selectivity knob) is
    * [[batchNeighborsFiltered]]'s; a plain store (no payloads) fails
    * loudly.
    */
  def batchNeighborsFilteredExpr(store: Store, probes: DataFrame,
                                 predicate: org.apache.spark.sql.Column,
                                 k: Int, efSearch: Int = 64,
                                 nProbe: Int = 0,
                                 parallelism: Int = 32,
                                 nProbeSub: Int = 0): DataFrame = {
    val spark = store.segments.sparkSession
    require(attrsPresent(spark, store),
      s"store at ${store.path} carries no attribute payloads — build " +
        "or append with payload columns, or pre-evaluate the " +
        "predicate and use batchNeighborsFiltered")
    val at = attrsRawOf(spark, store)
    val hasUpd = hasAttrUpdates(spark, store)
    routedServe(store, probes, k, efSearch, nProbe, parallelism,
      nProbeSub, Some { probedCells =>
        // the predicate runs INSIDE the probed-cell-pruned attr scan:
        // vec_ids are unique across live epochs (the append-time id
        // guard) and stale update payloads are resolved LATEST-WINS
        // AFTER the prune, so the resolution window — like the
        // predicate — runs probed-cells-sized. Attrs are keyed by
        // PLAIN cell (sub-sharding lives only in the segment graph
        // rows), so a capped store's probed shard ids project down to
        // attr space first: cell = (shard % stride) % k under the
        // epoch stride
        val attrCells =
          if (store.layout.isEmpty) probedCells
          else probedCells.select(
            (col("shard") - pmod(col("shard"), lit(CellStride)) +
              pmod(pmod(col("shard"), lit(CellStride)),
                lit(store.index.k.toLong))).as("shard")).distinct()
        resolveLatestAttrs(
            at.join(broadcast(attrCells), Seq("shard"), "left_semi"),
            hasUpd)
          .filter(predicate).select(col("vec_id"))
      })
  }

  /** The one routed serving core behind [[batchNeighbors]],
    * [[batchNeighborsFiltered]] and [[batchNeighborsFilteredExpr]]: probe
    * explode (cells × epochs), probed-cell prune of the store pass, the
    * `ok` flag pinned as `__live && allowed` — each absent side read as
    * true — then [[Hnsw.batchScan]]. The allowed provider sees the
    * probed-cell set so it can prune its own scan
    * ([[batchNeighborsFilteredExpr]]).
    *
    * Tombstoned range → serve from the RAW graphs ([[flaggedSegments]]):
    * deleted nodes stay routable, never returned — recall parity with
    * the pre-delete store instead of the masked read's edge-elision
    * narrowing. Clean range → the masked segments with every row live.
    */
  private def routedServe(store: Store, probes: DataFrame, k: Int,
                          efSearch: Int, nProbe: Int, parallelism: Int,
                          nProbeSub: Int,
                          allowedOf: Option[DataFrame => DataFrame])
      : DataFrame = {
    require(k >= 1 && efSearch >= k && parallelism >= 1,
      s"need efSearch >= k >= 1, got k=$k efSearch=$efSearch " +
        s"parallelism=$parallelism")
    val spark = store.segments.sparkSession
    val flagged = flaggedSegments(spark, store)
    // NOT persisted (guide §5): the view has exactly one full consumer —
    // the probed-cell-pruned scan below. Persisting wrote the whole
    // corpus into the block manager per serve for zero reuse (and
    // defeated the scan's column pruning at scale).
    val st = flagged.getOrElse(store.segments.select(col("shard"),
      col("vec_id"), col("vec"), col("level"), col("nbrs")))
    // the store's dim is the index's centroid dim (every segment row was
    // assigned under it) — the old one-row segment probe was a whole
    // Spark job per serve for a scalar the driver already holds; a
    // zero-segment store serves the same empty frame through the scan
    // (batchScan: g.n == 0 → no candidates)
    val pr0 = probes.select(col("probe_id").as("vec_id"),
      col("embedding").cast("array<double>").as("vec"))
    Hnsw.requireCleanProbes(pr0, store.index.centroids.head.length)
    val np = if (nProbe <= 0) IVF.defaultNProbe(store.index.k) else nProbe
    // epochs is a driver-side handful — fan out as a literal-array
    // explode (a Generate), never a join: between compactions the
    // multiplier is a few dozen at most
    // persisted because BOTH the probed-cell prune below and the unioned
    // scan consume this frame — without it the routing kernel
    // (IVF.probeExpr, a k×dim nearest-cells pass per probe) and the epoch
    // explode would run twice per batch (ADVICE r13)
    val pr = graft.CacheRegistry.persist(Hnsw.asProbes(stridedFan(pr0
      .withColumn("cell",
        explode(IVF.probeExpr(col("vec"), store.index, np))), store,
      nProbeSub)))
    // prune the store pass to the cells the batch actually probes — a
    // broadcast SEMI-join on the strided shard id (equi-join, never a
    // BNLJ): a micro-batch admission touches a handful of cells, so the
    // graph-reconstruction pass shrinks from every cell to the probed
    // ones; a corpus-sized serving batch saturates the set and the
    // filter degenerates to a cheap broadcast membership no-op
    val probedCells = graft.CacheRegistry.persist(
      pr.select(col("shard")).distinct())
    // prune FIRST, flag SECOND: the ok join runs probed-cells-sized on
    // the store side instead of over the whole segment range. A
    // tombstoned node is allowed only if it is BOTH caller-allowed and
    // live — routable either way
    val stProbed = st.join(broadcast(probedCells), Seq("shard"), "left_semi")
    val live = if (flagged.isDefined) col("__live") else lit(true)
    val graph = allowedOf.fold(stProbed.withColumn("ok", live)) { f =>
      stProbed.join(f(probedCells).withColumn("__ok", lit(true)),
          Seq("vec_id"), "left")
        .withColumn("ok", live && coalesce(col("__ok"), lit(false)))
    }.select(col("shard"), col("vec_id"), col("vec"), col("level"),
      col("nbrs"), col("ok"))
    // partitions sized by the PROBED shard count, not k·epochs: a
    // micro-batch probing a handful of cells schedules ~parallelism
    // tasks instead of a per-batch k·epochs task floor (round-16
    // verdict #6), while a corpus-sized serving batch saturates
    // probedCells and recovers the full spread — the count is one agg
    // on the persisted probe frame
    val numParts = math.max(parallelism,
      math.min(probedCells.count(), 4096L).toInt)
    Hnsw.rankTopK(Hnsw.batchScan(graph, pr, numParts, efSearch), k)
  }

  /** The graph side of the routed pair scans: the raw rows with the live
    * flag as `ok` on a tombstoned range (deleted nodes routable, never
    * collected), else the masked segments `st` with every row `ok`.
    */
  private def pairGraph(spark: SparkSession, store: Store,
                        st: DataFrame): DataFrame =
    flaggedSegments(spark, store).fold(st.withColumn("ok", lit(true))) {
      fl => graft.CacheRegistry.persist(fl.withColumnRenamed("__live", "ok"))
    }

  /** Corpus-wide near-dup pairs over the STANDING segmented geo store —
    * [[Hnsw.nearDupPairsRouted]]'s linear scan shape (every stored
    * vector probes its nProbe nearest cells) extended across the live
    * epochs: n·nProbe·epochs shuffled probe rows, graph rows never
    * replicated, one cell graph per task at a time. Same recall
    * envelope, same (i < j, cos) output. Run post-[[compact]] when
    * possible — epochs is the extra fan-out multiplier. On a tombstoned
    * range only live vectors probe (`st` is the masked view) while the
    * graph side keeps the deleted nodes routable ([[pairGraph]]).
    */
  def nearDupPairs(store: Store, threshold: Double,
                   nProbe: Int = Hnsw.DefaultNearDupNProbe,
                   efSearch: Int = 64, parallelism: Int = 32,
                   nProbeSub: Int = 0): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold=$threshold must be in (0, 1]")
    val spark = store.segments.sparkSession
    val st = graft.CacheRegistry.persist(
      store.segments.select(col("shard"), col("vec_id"), col("vec"),
        col("level"), col("nbrs")))
    requireStridedGeo(st, store.index)
    val probes = Hnsw.asProbes(stridedFan(
      st.select(col("vec_id"), col("vec"))
        .withColumn("cell",
          explode(IVF.probeExpr(col("vec"), store.index, nProbe))),
      store, nProbeSub))
    val numParts = math.max(parallelism,
      math.min(store.index.k.toLong * store.epochs.size, 4096L).toInt)
    Hnsw.pairScan(pairGraph(spark, store, st), probes, numParts, threshold,
      efSearch)
  }

  /** Cross-corpus contamination over the STANDING segmented geo store —
    * [[Hnsw.crossNearDupsRouted]] (q195's corpus-sized-eval audit)
    * without the compact-to-one-base-and-unstride detour it previously
    * required: each EVAL vector probes its `nProbe` nearest cells across
    * every live epoch (the [[nearDupPairs]] epochs×nProbe routing), so
    * shuffle volume is n_eval·nProbe·epochs probe rows, the stored train
    * corpus never replicates, and both sides scale to corpus size.
    * Output and guarantees are the flat route's: canonical (i < j, cos)
    * at cos ≥ `threshold`, exact re-score (precision 1.0), recall per
    * the routing envelope ([[Hnsw.RoutedRecallFloor]]; with
    * cells ≤ nProbe routing is exhaustive by construction). Id
    * namespaces MUST be disjoint — checked loudly, as on the flat route.
    */
  def crossNearDups(store: Store, probes: DataFrame, threshold: Double,
                    nProbe: Int = Hnsw.DefaultNearDupNProbe,
                    efSearch: Int = 64, parallelism: Int = 32,
                    nProbeSub: Int = 0): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold=$threshold must be in (0, 1]")
    require(nProbe >= 1 && efSearch >= 1 && parallelism >= 1,
      s"bad params: nProbe=$nProbe efSearch=$efSearch " +
        s"parallelism=$parallelism")
    val spark = store.segments.sparkSession
    val st = graft.CacheRegistry.persist(
      store.segments.select(col("shard"), col("vec_id"), col("vec"),
        col("level"), col("nbrs")))
    requireStridedGeo(st, store.index)
    // index-derived dim, no segment probe job (see routedServe); a
    // zero-segment store pair-scans to the same empty frame
    val pr0 = graft.CacheRegistry.persist(
      probes.select(col("probe_id").as("vec_id"),
        col("embedding").cast("array<double>").as("vec")))
    Hnsw.requireCleanProbes(pr0, store.index.centroids.head.length)
    val shared = st.select(col("vec_id"))
      .join(pr0.select(col("vec_id")), Seq("vec_id")).limit(1).count()
    require(shared == 0L,
      "store and probe id namespaces overlap — a shared id would " +
        "silently self-exclude from the pair scan; re-key one side")
    val prs = Hnsw.asProbes(stridedFan(pr0
      .withColumn("cell",
        explode(IVF.probeExpr(col("vec"), store.index, nProbe))),
      store, nProbeSub))
    val numParts = math.max(parallelism,
      math.min(store.index.k.toLong * store.epochs.size, 4096L).toInt)
    Hnsw.pairScan(pairGraph(spark, store, st), prs, numParts, threshold,
      efSearch)
  }

  /** Admission filter through the ROUTED batch search. The probe set
    * is a distributed frame end to end (never a driver-side closure
    * literal), so there is NO batch-size cap. A batch vector is dropped
    * when the routed search finds a stored neighbor at cosine ≥
    * `threshold` (the store's own — approximate, envelope-bounded —
    * search semantics), when its vec_id is already stored, or when an
    * exact within-batch near-dup with a smaller id exists. Returns kept
    * rows of `fresh` unchanged.
    *
    * `nProbe` defaults to [[Hnsw.DefaultNearDupNProbe]] — the NEAR-DUP
    * envelope's bounded fan-out, NOT [[IVF.defaultNProbe]]'s general-kNN
    * fraction (0.75·k — which grows with the cell count and at a ×100
    * store turned the batch fan-out into 75% of exhaustive: measured
    * 225 s vs ~20 s for the same batch). Admission hunts near-identical
    * neighbors (threshold ≥ ~0.9 in practice), exactly the regime the
    * envelope routes losslessly; a LOW-threshold admission filter on a
    * weakly clustered corpus under-drops within that envelope — raise
    * nProbe there, the same trade every routed surface documents.
    */
  def incrementalAdmit(store: Store, fresh: DataFrame, threshold: Double,
                       efSearch: Int = 64,
                       nProbe: Int = Hnsw.DefaultNearDupNProbe,
                       nProbeSub: Int = 0)
      : DataFrame = {
    // already-stored ids, pruned to the batch's FIRST (broadcast semi —
    // the corpus-sized id column streams through the scan, never
    // shuffles per batch), then the batch anti-joins the tiny hit set
    val storedHits = store.segments.select(col("vec_id"))
      .join(broadcast(fresh.select(col("vec_id"))), Seq("vec_id"),
        "left_semi")
    val f = graft.CacheRegistry.persist(
      fresh.join(broadcast(storedHits), Seq("vec_id"), "left_anti"))
    val vsStore = batchNeighbors(store,
        f.select(col("vec_id").as("probe_id"), col("embedding")),
        k = 1, efSearch = efSearch, nProbe = nProbe,
        nProbeSub = nProbeSub)
      .filter(col("cos") >= threshold)
      .select(col("probe_id").as("vec_id"))
    val vsBatch = Similarity.cosineNearDups(f, threshold)
      .select(greatest(col("i"), col("j")).as("vec_id")).distinct()
    f.join(vsStore.unionByName(vsBatch).distinct(),
      Seq("vec_id"), "left_anti")
  }

  /** One admission step: filter, fold survivors in as the next segment
    * (or compacted base), return (kept, new store) — what the streaming
    * sink ([[graft.streaming.StreamingEvents.hnswGeoAdmissionStream]])
    * replays per micro-batch.
    */
  def admit(spark: SparkSession, store: Store, fresh: DataFrame,
            threshold: Double, asBase: Boolean = false,
            writer: String = "lifecycle")
      : (DataFrame, Store) = {
    val kept = graft.CacheRegistry.persist(
      incrementalAdmit(store, fresh, threshold))
    // checkIds = false: incrementalAdmit's left-anti against stored ids
    // IS the disjointness proof — the append-time probe would be a
    // redundant second pass. Payload columns flow into the new epoch
    // iff the store carries attrs; against a PLAIN store the fold is
    // pruned to (vec_id, embedding), so an incidental extra column in
    // the batch (a source tag riding along) is ignored rather than
    // tripping append's payload-uniformity contract.
    val foldRows =
      if (attrsPresent(spark, store)) kept
      else kept.select(col("vec_id"), col("embedding"))
    (kept, append(spark, store, foldRows, asBase, checkIds = false,
      writer = writer))
  }

  /** The standing corpus's [[IVF.cellStats]] under the base's frozen
    * index, priced at EPOCH-COUNT: a fold of the per-epoch snapshots
    * written at append time ([[foldStats]] — exact in the snapshots'
    * 1e-6-quantized integer domain, not a float re-association). This
    * is [[retrainIfDrifted]]'s drift
    * measurement, exposed so a monitoring job can watch cell quality
    * without paying a corpus scan per check (q198 drives it under
    * q148's oracle: the fold must reproduce the full recompute).
    *
    * With [[delete]] tombstones in the live range the fold includes
    * their NEGATED leaves: n/inertia/mean_d2 stay exact (same quantized
    * longs subtracted) and `max_d2` is exact too — each delete leaf
    * carries the touched cells' recomputed survivor max under
    * `replace_max`, which the fold honors in epoch order
    * (HnswGeoStoreSpec pins fold ≡ recompute on every column).
    */
  def currentStats(spark: SparkSession, store: Store): DataFrame =
    foldStats(liveStats(spark, store))

  /** The live epochs' `stats/epoch=N` leaves — every epoch-writing op
    * lands one before its commit marker.
    */
  private def liveStats(spark: SparkSession, store: Store): Seq[DataFrame] =
    store.epochs.map(e =>
      spark.read.parquet(s"${store.path}/stats/epoch=$e"))

  /** One [[retrainIfDrifted]] decision, reported honestly: the drift
    * ratio is current corpus-wide mean d² to its own centroid over the
    * TRAIN-TIME baseline's ([[IVF.cellStats]] both times — rising mass
    * off the trained geometry is exactly what that measurement exists
    * for, q148's operator wired into the lifecycle).
    */
  case class DriftReport(retrained: Boolean, baselineMeanD2: Double,
                         currentMeanD2: Double, ratio: Double,
                         epoch: Long, measurable: Boolean = true)

  /** Drift-triggered retrain — the when-to-retrain measurement
    * ([[IVF.cellStats]] vs the baseline snapshotted when the standing
    * index was trained) wired to the retrain → rebuild → re-validate
    * act, closing the loop that was previously "a measurement and a doc
    * note". If current mean d² exceeds `driftFactor` × baseline: a fresh
    * index is trained on a deterministic sample of the CURRENT corpus
    * ([[IVF.train]]'s at-scale discipline), the corpus is rebuilt as a
    * new BASE epoch under it — a retrain moves the cells themselves, so
    * this is the one lifecycle event where a from-scratch
    * [[Hnsw.buildGeo]] is the honest cost — the rebuilt rows are
    * validated with the sampled re-assign guard BEFORE the commit marker
    * lands, and the new [[IVF.cellStats]] snapshot becomes the next
    * baseline. Otherwise the store is returned untouched. Either way the
    * [[DriftReport]] carries the measured ratio.
    */
  /** `foldIn` (round 16): an already-admission-filtered batch folded
    * INTO the retrained base when the retrain fires — what lets the
    * streaming sink run the drift decision AT ITS COMPACTION BOUNDARY
    * (the base commit it already owns) instead of as an out-of-band op
    * racing the replay guards: the batch's vectors (payload columns
    * riding along for an attr store) join the rebuild corpus, the whole
    * thing lands as ONE base epoch `store.epoch + 1` under `writer` —
    * one-epoch-per-batch numbering preserved, no separate allocation.
    * The drift MEASUREMENT stays the standing corpus vs the train-time
    * baseline (the batch is folded either way — by the caller's normal
    * compaction append when the check says healthy).
    */
  def retrainIfDrifted(spark: SparkSession, store: Store,
                       driftFactor: Double = 2.0, iters: Int = 5,
                       maxTrainRows: Long = 0L, k: Int = 0, m: Int = 8,
                       efConstruction: Int = 64,
                       foldIn: Option[DataFrame] = None,
                       writer: String = "lifecycle")
      : (Store, DriftReport) = {
    require(driftFactor > 0.0, s"driftFactor=$driftFactor must be > 0")
    def meanD2(stats: DataFrame): Option[Double] =
      stats.agg((sum(col("inertia")) /
          sum(col("n").cast("double"))).as("m"))
        .take(1).headOption.filterNot(_.isNullAt(0)).map(_.getDouble(0))
    // corpus is only materialized on the path that genuinely needs a
    // corpus pass: the retrain itself. The drift CHECK folds the
    // per-epoch snapshots — epoch-count reads, cost independent of how
    // large the standing store has grown.
    lazy val corpus = graft.CacheRegistry.persist(
      store.segments.select(col("vec_id"), col("vec").as("embedding"))
        .unionByName(foldIn.map(_.select(col("vec_id"),
            col("embedding").cast("array<double>").as("embedding")))
          .getOrElse(spark.range(0).select(col("id").as("vec_id"),
            lit(null).cast("array<double>").as("embedding")))))
    val baseline = meanD2(spark.read
      .parquet(s"${store.path}/drift/epoch=${store.baseEpoch}"))
    val current = meanD2(currentStats(spark, store))
    // a baseline of zero mass (cold-started store before its first
    // non-empty compaction re-snapshots it) or zero inertia makes the
    // ratio undefined — reported as unmeasurable, never as a
    // looks-healthy 1.0 (ADVICE r13)
    val measurable = baseline.exists(_ > 0.0) && current.isDefined
    val ratio =
      if (measurable) current.get / baseline.get else Double.NaN
    if (!measurable || ratio <= driftFactor)
      (store, DriftReport(retrained = false, baseline.getOrElse(0.0),
        current.getOrElse(0.0), ratio, store.epoch, measurable))
    else {
      val kk = if (k > 0) k else store.index.k
      val cap = if (maxTrainRows > 0L) maxTrainRows else 100L * kk
      val fresh = IVF.train(corpus, kk, iters, maxTrainRows = cap)
      val epoch = store.epoch + 1
      require(epoch < Long.MaxValue / CellStride && kk < CellStride,
        s"epoch=$epoch k=$kk out of the stride range")
      // a retrain moves the cells, so the hot-cell layout — and a
      // routed store's mini-IVFs — re-derive under the NEW geometry
      // with the cap the store was built with
      val (layout, routing) =
        if (store.maxCellNodes > 0) {
          if (store.subRouted)
            Hnsw.geoRoutingOf(corpus, fresh, store.maxCellNodes)
          else (Hnsw.geoLayout(corpus, fresh, store.maxCellNodes),
            Map.empty[Long, Hnsw.SubRouting])
        } else (Map.empty[Long, Int], Map.empty[Long, Hnsw.SubRouting])
      require(layout.valuesIterator.forall(n =>
          n.toLong * kk <= CellStride),
        s"retrained sub-shard layout overflows the cell stride: max " +
          s"n_sub ${layout.values.max} × k=$kk > $CellStride")
      val rows = graft.CacheRegistry.persist(
        Hnsw.buildGeoWithLayout(corpus, fresh, m, efConstruction, layout,
          routing = routing))
      // validate BEFORE the marker lands: a mis-assigned rebuild must
      // stay invisible to readers
      Hnsw.requireGeoStore(rows, fresh)
      // the new baseline AND the new base's stats leaf — one frame: the
      // retrained index's train-time snapshot, by definition of both
      val snap = graft.CacheRegistry.persist(IVF.cellStats(corpus, fresh))
      // the retrained base's relations are independent (`rows`, `corpus`
      // and `snap` are persisted; the attr re-stride reads only OLD
      // epochs) — overlapped ([[ParWrites]], guide §2.6), marker LAST
      ParWrites.run(Seq[() => Unit](
        () => writeSegment(store.path, rows, epoch),
        () => IVF.save(spark, fresh, s"${store.path}/index/epoch=$epoch"),
        () => snap.write.mode("overwrite")
          .parquet(s"${store.path}/drift/epoch=$epoch"),
        () => snap.write.mode("overwrite")
          .parquet(s"${store.path}/stats/epoch=$epoch")) ++
        (if (store.maxCellNodes > 0) Seq[() => Unit](() =>
          writeLayout(spark, store.path, epoch, layout,
            store.maxCellNodes, routing, store.subRouted)) else Nil) ++
        // a retrain MOVES the cells, so attribute payloads re-stride
        // under the new assignment — one vec_id-keyed join against the
        // corpus pass the rebuild already pays (the one honest
        // corpus-sized attr write in the lifecycle, like the rebuild)
        (if (!attrsPresent(spark, store)) Nil else Seq[() => Unit](() => {
          // stale [[updateAttrs]] payloads resolve latest-wins before
          // the vec_id join — a duplicate payload row would duplicate
          // corpus rows in the rebuilt segment
          val payload = resolveLatestAttrs(
            Tombstones.mask(spark, store.path, store.baseEpoch,
              store.epoch,
              store.epochs.map(e =>
                spark.read.parquet(s"${store.path}/attrs/epoch=$e")
                  .drop("shard").withColumn("epoch", lit(e))
                  .withColumn("__aepoch", lit(e)))
                .reduce(_ unionByName _)),
            hasAttrUpdates(spark, store))
          val pcols = payload.columns.filterNot(_ == "vec_id").toSeq
          val foldPayload = foldIn.map(_.select(col("vec_id") +:
              pcols.map(col): _*))
            .getOrElse(payload.limit(0))
          writeAttrs(store.path,
            corpus.join(payload.unionByName(foldPayload), Seq("vec_id")),
            fresh, epoch, pcols)
        })))
      commitEpoch(spark, store.path, epoch, isBase = true, writer)
      (loadAtWith(spark, store.path, epoch,
        Some(BaseMeta(epoch, fresh, layout, store.maxCellNodes, routing,
          store.subRouted))),
        DriftReport(retrained = true, baseline.getOrElse(0.0),
          current.getOrElse(0.0), ratio, epoch, measurable))
    }
  }
}
