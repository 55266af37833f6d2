package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Persistent similarity state — [[DedupState]]'s embedding counterpart:
  * store the corpus vectors PARTITIONED BY their IVF cell (directory
  * layout `vectors/cid=K/`), alongside the trained index, so an incoming
  * batch touches only the cells it lands in. Candidate generation is
  * cell-colocation — the IVF analog of LSH banding: deterministic
  * (seeded training, 1e-9-quantized centroids, argmin ties to the lower
  * cid), so the semantics are engine-replayable and oracle-checkable,
  * unlike distance-pruned ANN whose recall depends on data layout.
  *
  * 100 TB shape: the batch assigns against centroid LITERALS in its own
  * scan (no shuffle), the distinct batch cells (≤ k, index-sized) become
  * a partition filter on the store — the corpus read is PRUNED to
  * matching `cid=` directories (pinned in `EmbeddingStoreSpec`) — and
  * the join is a cid equi-join verified by the exact cosine kernel.
  * Corpus vectors outside the batch's cells are never read, let alone
  * shuffled.
  */
object EmbeddingStore {

  /** A loaded store view as of `epoch`: the trained index plus the
    * epoch-and-cell-partitioned corpus vectors (vec_id, embedding, cid),
    * already restricted to committed epochs ≤ `epoch`.
    */
  case class Store(path: String, index: IVF.Index, vectors: DataFrame,
                   epoch: Long)

  /** Train (or reuse) an index, assign every corpus vector in one scan,
    * and write `path/index` + `path/vectors/epoch=0/cid=K/` + the epoch-0
    * commit marker (any stale contents of `path` are cleared first). Pass
    * a pre-trained `index` to share one geometry across stores (train on
    * a sample at scale — see [[IVF.train]]).
    */
  def build(spark: SparkSession, emb: DataFrame, path: String, k: Int = 16,
            iters: Int = 3, index: Option[IVF.Index] = None): Store = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val idx = index.getOrElse(IVF.train(emb, k, iters))
    // the index save and the epoch-0 vector write are independent —
    // overlapped ([[ParWrites]], guide §2.6); the marker (inside
    // writeEpoch) still lands after the vectors
    writeEpoch(spark, path, idx, emb, epoch = 0L, isBase = true,
      alongside = Seq(() => IVF.save(spark, idx, s"$path/index")))
    load(spark, path)
  }

  /** The store's residual PQ codebooks, when it was built with
    * [[buildAnn]]; None for a plain similarity store.
    */
  def codebooks(spark: SparkSession, path: String): Option[PQ.Codebooks] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/codebooks")
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      Some(PQ.load(spark, s"$path/codebooks"))
    else None
  }

  /** Assign + write one epoch's vectors, commit marker LAST — the same
    * crash-invisibility protocol as [[DedupState]]: a half-written epoch
    * has no marker and is pruned away by every reader.
    *
    * When the store carries codebooks (an ANN store — [[buildAnn]]),
    * every epoch ALSO materializes the residual PQ codes next to each
    * vector: codes are a pure function of (frozen index, frozen
    * codebooks, vector), so they are computed once at WRITE time and
    * every later query scans 1-byte-per-subspace codes instead of
    * re-running m×k codeword distances per row. Appends inherit this
    * automatically — the codebooks' presence on disk is the contract.
    */
  private def writeEpoch(spark: SparkSession, path: String, idx: IVF.Index,
                         vectors: DataFrame, epoch: Long,
                         isBase: Boolean = false,
                         writer: String = "lifecycle",
                         alongside: Seq[() => Unit] = Nil): Unit = {
    import spark.implicits._
    val assigned = vectors.select(col("vec_id"), col("embedding"),
      IVF.assignExpr(col("embedding").cast("array<double>"), idx).as("cid"))
    val out = codebooks(spark, path).fold(assigned) { cb =>
      assigned
        .withColumn("__resid", PQ.residualExpr(
          col("embedding").cast("array<double>"), col("cid"), idx))
        .withColumn("codes", PQ.encodeExpr(col("__resid"), cb))
        .drop("__resid")
    }
    // `alongside` = independent sibling writes (e.g. build's index save)
    // overlapped with the vector write ([[ParWrites]], guide §2.6); the
    // marker below still lands strictly after ALL of them
    ParWrites.run(Seq[() => Unit](() =>
      out.write.mode("overwrite").partitionBy("cid")
        .parquet(s"$path/vectors/epoch=$epoch")) ++ alongside)
    // writer identity (the HnswGeoStore marker discipline): lifecycle
    // ops vs the streaming sink's per-batch tag — lets a crash-replay
    // tell its own crashed commit from an out-of-band op at the same
    // allocation even when both are bases. Driver-side one-row write —
    // no Spark job ([[StoreCommits.writeMarker]]).
    StoreCommits.writeMarker(spark, path, s"epoch=$epoch", isBase, writer)
  }

  /** The latest committed epoch at `path`. */
  def latestEpoch(spark: SparkSession, path: String): Long = {
    StoreCommits.requireSeeded(spark, path, "embedding store")
    StoreCommits.committedMap(spark, path, "epoch").keys.max
  }

  /** Build an ANN store: the similarity store plus residual PQ codebooks
    * ([[PQ.trainResidual]] under the store's own index) persisted at
    * `path/codebooks`, with every vector's codes materialized in its
    * epoch partitions — the on-disk IVFADC layout ([[annNeighbors]]
    * queries it without re-encoding anything).
    */
  def buildAnn(spark: SparkSession, emb: DataFrame, path: String,
               k: Int = 16, iters: Int = 3, m: Int = 8,
               pqK: Int = 16, pqIters: Int = -1): Store = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val idx = IVF.train(emb, k, iters)
    // the trained centroids carry the embedding dim — the old
    // head()-on-size probe was one whole Spark job for a scalar the
    // driver already holds (guide §1/§7 job attribution)
    val dim = idx.centroids.head.length
    val cb = PQ.trainResidual(emb, idx, dim, m, pqK,
      if (pqIters > 0) pqIters else iters)
    // the codebook save must precede the epoch write (its on-disk
    // presence is what makes writeEpoch materialize codes); the index
    // save is independent and rides alongside the vector write
    PQ.save(spark, cb, s"$path/codebooks")
    writeEpoch(spark, path, idx, emb, epoch = 0L, isBase = true,
      alongside = Seq(() => IVF.save(spark, idx, s"$path/index")))
    load(spark, path)
  }

  /** IVFADC over the STORED codes — the deployment query of an ANN
    * store: probe cells become a partition filter (only `nProbe` cell
    * directories are read), the ADC estimate is m array lookups on the
    * persisted codes (no residual, no argmin — encoding happened at
    * write), TakeOrdered cuts `rerank` candidates, exact cosine re-ranks
    * them. Identical answers to [[PQ.ivfadcResidualNeighbors]] over the
    * same structures (spec-pinned) at a fraction of the scan compute.
    */
  def annNeighbors(spark: SparkSession, store: Store, query: Array[Double],
                   k: Int, nProbe: Int, rerank: Int,
                   excludeId: Option[Long] = None): DataFrame = {
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    val cb = codebooks(spark, store.path).getOrElse(
      throw new IllegalArgumentException(
        s"${store.path} has no codebooks — build it with buildAnn"))
    val probes = IVF.probeIds(store.index, query, nProbe)
    val lutsByCell = probes.map { i =>
      i -> PQ.adcLuts(cb,
        query.zip(store.index.centroids(i)).map { case (a, b) => a - b })
    }
    val normQ = math.sqrt(query.map(x => x * x).sum)
    val first = when(col("cid") === lutsByCell.head._1,
      PQ.adcScoreExpr(col("codes"), lutsByCell.head._2))
    val est = lutsByCell.tail.foldLeft(first) { case (acc, (i, luts)) =>
      acc.when(col("cid") === i, PQ.adcScoreExpr(col("codes"), luts))
    }
    val base = excludeId.fold(store.vectors)(id =>
      store.vectors.filter(col("vec_id") =!= id))
    base.filter(col("cid").isin(probes.map(Integer.valueOf): _*))
      .withColumn("est", est)
      .orderBy(col("est").asc, col("vec_id").asc)
      .limit(rerank)
      .select(col("vec_id"),
        round(GraftFunctions.dot_product(
          col("embedding").cast("array<double>"), lit(query)) /
          (GraftFunctions.l2_norm(col("embedding").cast("array<double>")) *
            lit(normQ)), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Load the latest committed epoch. */
  def load(spark: SparkSession, path: String): Store =
    loadAt(spark, path,
      StoreCommits.committedMap(spark, path, "epoch").keys.max)

  /** Load the store AS OF a committed epoch — deterministic re-reads for
    * at-least-once replay, exactly as [[DedupState.loadAt]]. Reads the
    * [latest base ≤ epoch, epoch] range (a base epoch contains every
    * earlier epoch; [[build]] and [[compact]] write bases).
    */
  def loadAt(spark: SparkSession, path: String, epoch: Long): Store = {
    val commits = StoreCommits.committedMap(spark, path, "epoch")
    require(commits.contains(epoch),
      s"epoch $epoch is not committed at $path " +
        s"(committed: ${commits.keys.toSeq.sorted.mkString(",")})")
    val base = StoreCommits.baseAt(commits, epoch)
    Store(path, IVF.load(spark, s"$path/index"),
      spark.read.parquet(s"$path/vectors")
        .filter(col("epoch") >= base && col("epoch") <= epoch).drop("epoch"),
      epoch)
  }

  /** Collapse the live epoch range into one new BASE epoch — the
    * small-files antidote for long admission streams, mirroring
    * [[DedupState.compact]]. The frozen index re-assigns identically, so
    * answers are unchanged (spec-pinned); [[vacuum]] then reclaims the
    * superseded epoch directories.
    */
  def compact(spark: SparkSession, store: Store): Store = {
    writeEpoch(spark, store.path, store.index,
      store.vectors.select(col("vec_id"), col("embedding")),
      store.epoch + 1, isBase = true)
    loadAt(spark, store.path, store.epoch + 1)
  }

  /** Delete epoch directories strictly older than the latest base ≤
    * `store.epoch` — fully contained in that base. Vacuumed epochs'
    * markers go too, so stale as-of reads fail fast.
    */
  def vacuum(spark: SparkSession, store: Store): Unit = {
    val commits = StoreCommits.committedMap(spark, store.path, "epoch")
    val base = StoreCommits.baseAt(commits, store.epoch)
    val conf = spark.sparkContext.hadoopConfiguration
    for (e <- commits.keys if e < base;
         dir <- Seq("vectors", "commits")) {
      val p = new org.apache.hadoop.fs.Path(s"${store.path}/$dir/epoch=$e")
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) fs.delete(p, true)
    }
  }

  /** Fold new vectors into the store as epoch `store.epoch + 1`: assign
    * them under the EXISTING index (the geometry is frozen at build time
    * — cells never move, so unlike [[DedupState.append]] there is no
    * repair set) into their own epoch/cid partitions. Write cost is
    * batch-sized at any corpus size, and a replayed epoch overwrites the
    * same partition dirs behind the marker — idempotent. Caller contract:
    * vec_ids disjoint from the store's. Re-training is a [[build]], not
    * an append — a new index re-cells every vector by design.
    */
  def append(spark: SparkSession, store: Store, fresh: DataFrame,
             asBase: Boolean = false,
             writer: String = "lifecycle"): Store = {
    val rows =
      if (asBase)
        store.vectors.select(col("vec_id"), col("embedding"))
          .unionByName(fresh.select(col("vec_id"), col("embedding")))
      else fresh
    writeEpoch(spark, store.path, store.index, rows, store.epoch + 1,
      asBase, writer)
    loadAt(spark, store.path, store.epoch + 1)
  }

  /** Admission filter: batch vectors near-dup (same stored cell, cosine ≥
    * `threshold`) to a STORED vector, or to a smaller-id batch vector in
    * the same cell, are dropped; the rest are kept. The embedding
    * counterpart of [[DedupState.incrementalDedup]]'s near-dup arm.
    * Returns the kept rows of `fresh` unchanged.
    */
  def incrementalAdmit(store: Store, fresh: DataFrame,
                       threshold: Double): DataFrame = {
    val f = graft.CacheRegistry.persist(fresh.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"),
      IVF.assignExpr(col("embedding").cast("array<double>"), store.index)
        .as("cid")))
    val vsCorpus = nearDupsAgainst(store, fresh, threshold)
      .select(col("j").as("vec_id"))
    val vsBatch = f.as("a").join(f.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .filter(round(GraftFunctions.dot_product(col("a.v"), col("b.v")) /
        (GraftFunctions.l2_norm(col("a.v")) * GraftFunctions.l2_norm(col("b.v"))),
        6) >= threshold)
      .select(col("b.vec_id").as("vec_id"))
    fresh.join(vsCorpus.unionByName(vsBatch).distinct(),
      Seq("vec_id"), "left_anti")
  }

  /** One admission step: filter the batch against the store, fold the
    * survivors in as the next epoch, return (kept, new store) — what the
    * streaming embedding-admission sink replays per micro-batch.
    */
  def admit(spark: SparkSession, store: Store, fresh: DataFrame,
            threshold: Double, asBase: Boolean = false,
            writer: String = "lifecycle"): (DataFrame, Store) = {
    val kept = graft.CacheRegistry.persist(
      incrementalAdmit(store, fresh, threshold))
    (kept, append(spark, store,
      kept.select(col("vec_id"), col("embedding")), asBase, writer))
  }

  /** Same-cell near-dup pairs between the stored corpus and a fresh
    * batch: (i = corpus vec_id, j = fresh vec_id, cos) for pairs whose
    * vectors land in the SAME cell of the stored index and whose exact
    * cosine is ≥ `threshold`. The store is read partition-pruned to the
    * batch's cells. Caller contract: stored and fresh vec_ids disjoint.
    *
    * Cell colocation is the candidate semantics, not an approximation
    * bolted on: a near-dup pair straddling a cell boundary is out of
    * contract by definition (same trade as an LSH band miss), which is
    * what keeps the result deterministic and bit-replayable.
    */
  def nearDupsAgainst(store: Store, fresh: DataFrame,
                      threshold: Double): DataFrame = {
    val f = fresh.select(col("vec_id").as("j"),
      col("embedding").cast("array<double>").as("vj"),
      IVF.assignExpr(col("embedding").cast("array<double>"), store.index)
        .as("cid"))
    // distinct batch cells: bounded by k (index-sized), so the collect is
    // centroid-scale; inlined as literals it becomes a partition filter
    // on the store scan
    val cells = f.select(col("cid")).distinct().collect().map(_.getInt(0))
    store.vectors
      .filter(col("cid").isin(cells.map(Integer.valueOf): _*))
      .select(col("vec_id").as("i"),
        col("embedding").cast("array<double>").as("vi"), col("cid"))
      .join(f, "cid")
      .select(col("i"), col("j"),
        round(GraftFunctions.dot_product(col("vi"), col("vj")) /
          (GraftFunctions.l2_norm(col("vi")) * GraftFunctions.l2_norm(col("vj"))),
          6).as("cos"))
      .filter(col("cos") >= threshold)
  }
}
