package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** IVF (inverted-file) approximate nearest neighbors — the
  * centroid-bucketed alternative to the sign-LSH path in [[Similarity]]:
  * partition the vector space with k-means, store each vector under its
  * nearest centroid ("inverted list"), and answer a query by scanning only
  * the `nProbe` lists whose centroids are closest to it.
  *
  * The index is trained with plain DataFrame Lloyd's iterations — no ML
  * library coupling, fully deterministic (seeded hash-ordered init, fixed
  * iteration count, elementwise-mean updates):
  *
  *  - assignment is a pure expression: argmin over k literal centroids of
  *    ‖v‖² − 2·v·c + ‖c‖², with the native dot kernel — runs in the scan;
  *  - the update collects only (cluster, dim, mean) — k×dim rows, never
  *    vectors — so driver traffic is centroid-sized at any data scale.
  *
  * Scale: training touches the data `iters` times (each pass one shuffle
  * of k×dim partial means); at 100 TB you train on a sample (the API takes
  * any DataFrame — pass `emb.sample(...)`) and assign the full set once.
  * Like all ANN here, recall comes from the data having cluster structure;
  * uniform-random vectors are the adversarial case (see
  * [[Similarity.lshNeighbors]]).
  */
object IVF {

  /** Default probe fraction, measured off the q164 recall audit's own
    * sweep (sf0.01 + sf0.1 testdata, 5 query vectors, recall@20):
    *
    * {{{
    * nProbe/k:   1/8   1/4   3/8   1/2   3/4
    * k=8  avg   ----  0.51  ----  0.75  0.93   (min 0.85 at 3/4)
    * k=16 avg   0.31  0.54  0.68  0.79  0.93   (min 0.85 at 3/4)
    * }}}
    *
    * The testdata embeddings are near-isotropic — ANN's adversarial
    * case, where recall tracks the probe fraction almost linearly — so
    * 3/4 is the smallest fraction clearing the 0.8 floor with margin
    * there. Clustered real corpora concentrate true neighbors in few
    * cells and prune far better at the same recall; callers with such
    * data should pass an explicit smaller nProbe after auditing with
    * [[graft.operators.Similarity.recallAudit]] (q164's loop).
    */
  val DefaultProbeFraction: Double = 0.75

  /** The audited default probe count for a k-cell index. */
  def defaultNProbe(k: Int): Int =
    math.max(1, math.ceil(k * DefaultProbeFraction).toInt)

  /** A trained index: row-major centroids. */
  case class Index(centroids: Array[Array[Double]]) {
    def k: Int = centroids.length
  }

  /** Persist a trained index: one parquet row per centroid,
    * (cid, centroid). Training is the expensive part — at 100 TB it runs
    * on a sample once and the index is reused across sessions for weeks —
    * so the index must outlive the session that trained it. Centroid
    * coordinates are already 1e-9-quantized ([[q9]]), so the parquet
    * round-trip is bit-exact and a reloaded index assigns every vector to
    * the same cell as the original (spec-pinned).
    */
  def save(spark: SparkSession, index: Index, path: String): Unit = {
    // DRIVER-SIDE parquet-mr write, no Spark job
    // ([[StoreCommits.writeParquetFile]]): the index is k×dim doubles —
    // centroid-sized, never data-sized — and a full Spark job (plan,
    // schedule, task, commit protocol) per save was a ~50-100 ms slice
    // of every build/compact/retrain in every store family. The file is
    // ordinary parquet with the logical schema Spark would write.
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  optional int32 cid;
        |  optional group centroid (LIST) {
        |    repeated group list {
        |      optional double element;
        |    }
        |  }
        |}""".stripMargin)
    StoreCommits.writeParquetFile(spark, path, schema, "index",
      index.centroids.iterator.zipWithIndex.map { case (c, i) =>
        val g = new SimpleGroup(schema)
        g.add("cid", i)
        val cent = g.addGroup("centroid")
        c.foreach(x => cent.addGroup("list").add("element", x))
        g
      })
  }

  /** Load an index persisted by [[save]]. Fails fast on a corrupt store
    * (missing/duplicated cids or ragged dims) rather than mis-assigning.
    */
  def load(spark: SparkSession, path: String): Index = {
    val rows = spark.read.parquet(path).select(col("cid"), col("centroid"))
      .orderBy(col("cid")).collect()
    require(rows.nonEmpty, s"index at $path is empty")
    val cids = rows.map(_.getInt(0))
    require(cids.sameElements(cids.indices),
      s"index at $path has non-contiguous cids: ${cids.take(10).mkString(",")}")
    val centroids = rows.map(_.getSeq[Double](1).toArray)
    require(centroids.forall(_.length == centroids.head.length),
      s"index at $path has ragged centroid dims")
    Index(centroids)
  }

  /** Per-centroid score whose argmin equals the dist² argmin: the
    * ‖v‖² term of ‖v−c‖² = ‖v‖² − 2·v·c + ‖c‖² is constant across
    * centroids for a given row, so it is dropped — halving the kernel
    * work in the per-row assignment (filter predicates don't get
    * subexpression elimination in codegen).
    *
    * The ‖c‖² scalar rides [[GraftFunctions.stable_lit]], not `lit`:
    * training re-plans this expression every Lloyd iteration with fresh
    * centroids, and embedded scalar constants would make each iteration's
    * generated source unique — forcing janino to recompile the whole
    * k×dim assignment stage per iteration, which dominates training on
    * small-to-medium inputs. With reference-array scalars (the centroid
    * ARRAY literals already compile that way) every iteration shares one
    * compiled class.
    */
  private def scoreToCentroid(v: Column, c: Array[Double]): Column = {
    val c2 = c.map(x => x * x).sum
    GraftFunctions.stable_lit(c2) - lit(2.0) * GraftFunctions.dot_product(v, lit(c))
  }

  /** Nearest-centroid id of a vector column as a pure expression —
    * argmin of [[scoreToCentroid]] with ties on the lower cid,
    * deterministically. Since round 12 this runs through the native
    * [[graft.functions.NearestCells]] kernel (one codegen'd loop over a
    * reference-array matrix) instead of an `array_min` over k struct
    * literals: identical values by construction (same score algebra,
    * same tie order — spec-pinned against the struct form), but the
    * generated source is constant-size in k where the struct form blew
    * janino's 64 KB method limit around k ≈ 400 and silently dropped
    * whole stages to interpreted mode — at the 1e9-vector sizing
    * (~16k cells) the struct form is not even plannable.
    */
  def assignExpr(v: Column, index: Index): Column =
    element_at(
      GraftFunctions.nearest_cells(v, index.centroids, 1), 1)

  /** The `nProbe` nearest cell ids of a vector COLUMN as a pure
    * expression — [[probeIds]] vectorized over a whole frame: the same
    * (score, cid) structs [[assignExpr]] argmins over, array_sorted
    * (struct ordering = score asc, cid tiebreak — exactly [[probeIds]]'s
    * sort) and cut to the first `nProbe` cids. The probe-ROUTING half of
    * cell pruning: `explode(probeExpr(...))` fans each row out to its
    * nProbe nearest cells and nothing else, which is what makes a
    * cell-sharded scan linear in the corpus
    * ([[Hnsw.nearDupPairsRouted]]'s shuffle bound). Codegen'd end to
    * end — k (score, cid) structs per row, one bounded sort, no UDF.
    */
  def probeExpr(v: Column, index: Index, nProbe: Int): Column = {
    require(nProbe >= 1, s"nProbe=$nProbe must be >= 1")
    GraftFunctions.nearest_cells(v, index.centroids,
      math.min(nProbe, index.k))
  }

  /** The expression-tree form of [[probeExpr]] — `array_sort` over k
    * `(score, cid)` struct literals, cut to nProbe. Kept as the
    * REFERENCE implementation the native kernel is spec-pinned
    * bitwise-equal against (CodegenSpec); not used in plans — its
    * generated source is linear in k and stops compiling around
    * k ≈ 400.
    */
  private[graft] def structProbeExpr(v: Column, index: Index,
                                     nProbe: Int): Column = {
    val scored = array(index.centroids.zipWithIndex.toIndexedSeq.map {
      case (c, i) => struct(scoreToCentroid(v, c).as("d"), lit(i).as("cid"))
    }: _*)
    transform(slice(array_sort(scored), 1, math.min(nProbe, index.k)),
      x => x.getField("cid"))
  }

  /** Round to 9 decimals. Trained centroid coordinates are quantized so
    * training is bit-stable across runs: a double mean's last-ulp depends
    * on partial-aggregate merge order (shuffle fetch order is not
    * deterministic), and an unquantized 1-ulp wobble could flip a
    * boundary assignment in the NEXT iteration and diverge visibly.
    * 1e-9 also short-circuits literal round-tripping — the quantized
    * value's decimal string parses back to the identical double in any
    * engine, which is what lets an oracle replay assignment bitwise.
    */
  private[operators] def q9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Train a k-centroid index with `iters` Lloyd's iterations.
    * Initialization: the k vectors with the smallest seeded-hash of their
    * id — a deterministic pseudo-random sample.
    *
    * `maxTrainRows` > 0 trains on a DETERMINISTIC hash-sample of that
    * many rows instead of the full corpus — the standard k-means
    * discipline at scale (centroid quality saturates at a few hundred
    * points per centroid; FAISS trains IVF indexes this way): assignment
    * of the FULL corpus against the trained centroids is unchanged in
    * cost, but each Lloyd pass drops from corpus-sized to sample-sized.
    * The sample is the `maxTrainRows` smallest (seeded-hash, id) keys —
    * same total order as the init pick, so a resample is bit-stable.
    * Also the codegen pressure valve: at k in the hundreds the per-row
    * argmin expression exceeds janino's 64 KB method limit and the
    * assign stage silently falls back to interpreted mode (measured 13
    * min for k=400 over 400k×64 at full corpus vs ~1 min sampled).
    */
  /** Row bound for the DRIVER-SIDE Lloyd arm below: a sampled train
    * already bounds its input, and under this many rows the sample fits
    * the driver trivially (64 Ki × 64-dim doubles ≈ 32 MB), so the
    * 1 init + `iters` collect JOBS of the distributed loop collapse to
    * ONE sample collect and pure driver arithmetic — the lifecycle
    * queries train ~6-8 such indexes per bench at ≤ 800 sample rows,
    * each paying ~6 jobs of scheduler latency for microseconds of math.
    * Larger samples keep the distributed loop.
    */
  private[operators] val DriverLloydMaxRows = 65536L

  /** Spec hook: force the DISTRIBUTED sampled loop below the
    * driver-side bound, so IVFTrainParitySpec can pin driver ≡
    * distributed bitwise on the same sample. Never set in production
    * code paths.
    */
  private[graft] val forceDistributedLloyd =
    new ThreadLocal[java.lang.Boolean] {
      override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
    }

  def train(emb: DataFrame, k: Int, iters: Int = 5, seed: Int = 42,
            maxTrainRows: Long = 0L): Index = {
    // a sample cap below k is always caller error — without this check it
    // would surface as "need at least k vectors to train", blaming the
    // DATA when only the cap is too small
    require(maxTrainRows <= 0L || maxTrainRows >= k.toLong,
      s"maxTrainRows=$maxTrainRows < k=$k: the training sample cannot " +
        "hold one row per centroid — raise maxTrainRows (or pass <= 0 " +
        "to train on the full input)")
    val base = emb.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    if (!forceDistributedLloyd.get() &&
        maxTrainRows > 0L && maxTrainRows <= DriverLloydMaxRows)
      return trainDriverSide(base, k, iters, seed, maxTrainRows.toInt)
    val sampled =
      if (maxTrainRows <= 0L) base
      else {
        val limN = math.min(maxTrainRows, Int.MaxValue.toLong).toInt
        // a global limit collapses to ONE partition — spread the sample
        // back out or every Lloyd pass runs single-threaded (measured
        // 12 min vs seconds at 40k×400 cells). Size-aware: ~1 partition
        // per 1000 sample rows, so a tiny sample doesn't pay 32 tasks
        // of scheduler overhead per pass either. The means are
        // merge-order-safe under [[q9]] quantization, so repartitioning
        // does not move a trained centroid.
        val parts = math.max(1, math.min(
          emb.sparkSession.sparkContext.defaultParallelism, limN / 1000))
        base.orderBy(xxhash64(col("vec_id"), lit(seed)), col("vec_id"))
          .limit(limN)
          .repartition(parts)
      }
    // persisted: the init pass + every Lloyd iteration scans this frame —
    // without the persist each pass re-reads and re-casts the source
    val v = sampled
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var centroids = v.orderBy(xxhash64(col("vec_id"), lit(seed)), col("vec_id"))
        .limit(k).select(col("v")).collect()
        .map(_.getSeq[Double](0).toArray.map(q9))
      require(centroids.length == k, s"need at least $k vectors to train, got ${centroids.length}")
      for (_ <- 1 to iters) {
        val idx = Index(centroids)
        val means = v.select(assignExpr(col("v"), idx).as("cid"),
            posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy(col("cid"), col("pos")).agg(avg(col("x")).as("m"))
          .collect()
        val updated = centroids.map(_.clone())
        means.foreach(r => updated(r.getInt(0))(r.getInt(1)) = q9(r.getDouble(2)))
        centroids = updated // empty clusters keep their previous centroid
      }
      Index(centroids)
    } finally v.unpersist(false)
  }

  /** The driver-side Lloyd arm: collect the seeded-hash sample ONCE (one
    * job — where the distributed loop paid one collect job per pass plus
    * the init pick) and iterate in driver memory through the SAME
    * arithmetic, value-identically:
    *
    *  - the sample and init pick are the same (xxhash64(vec_id, seed),
    *    vec_id) total order the distributed form sorts/limits by;
    *  - assignment calls [[graft.functions.CentroidOps.nearest]] — the
    *    very kernel `assignExpr` compiles to — with the identical
    *    driver-precomputed c² terms, so every (score, cid, tie) decision
    *    is the same machine arithmetic;
    *  - per-cell means quantize through [[q9]] exactly like the
    *    distributed `avg`; the accumulation ORDER differs from Spark's
    *    partition-merge order, which the sampled form already declares
    *    immaterial post-q9 (its own `repartition(parts)` reassociates
    *    the sum the same way — the spec-pinned resample-stability
    *    contract); IVFTrainParitySpec pins driver ≡ distributed on the
    *    test corpora bitwise;
    *  - empty cells keep their previous centroid, as in the loop above.
    */
  private def trainDriverSide(base: DataFrame, k: Int, iters: Int,
                              seed: Int, limN: Int): Index = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val rows = base
      .orderBy(xxhash64(col("vec_id"), lit(seed)), col("vec_id"))
      .limit(limN).select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    var centroids = rows.take(k).map(_.map(q9))
    require(centroids.length == k,
      s"need at least $k vectors to train, got ${centroids.length}")
    val ads = rows.map(r => new GenericArrayData(r))
    for (_ <- 1 to iters) {
      val c2 = centroids.map(_.map(x => x * x).sum)
      val sums = new Array[Array[Double]](k)
      val cnts = new Array[Long](k)
      var i = 0
      while (i < rows.length) {
        val cid = graft.functions.CentroidOps
          .nearest(ads(i), centroids, c2, 1).getInt(0)
        val vv = rows(i)
        if (sums(cid) == null) sums(cid) = new Array[Double](vv.length)
        val s = sums(cid)
        var j = 0
        while (j < vv.length) { s(j) += vv(j); j += 1 }
        cnts(cid) += 1L
        i += 1
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (cnts(c) == 0L) old // empty clusters keep their previous centroid
        else sums(c).map(s => q9(s / cnts(c).toDouble))
      }
    }
    Index(centroids)
  }

  /** The `nProbe` centroid ids nearest the query (ascending dist², ties on
    * the lower cid) — the inverted lists [[neighbors]] scans. Public so an
    * oracle can replay probe selection with the same arithmetic.
    */
  def probeIds(index: Index, query: Array[Double], nProbe: Int): Seq[Int] =
    index.centroids.zipWithIndex.map { case (c, i) =>
      (c.zip(query).map { case (a, b) => (a - b) * (a - b) }.sum, i)
    }.sortBy(p => (p._1, p._2)).take(nProbe).map(_._2).toSeq

  /** Approximate top-k: scan only the `nProbe` inverted lists nearest the
    * query, exact cosine rank within them. One scan, one filter on the
    * assignment expression, TakeOrderedAndProject — no shuffle of the data.
    */
  def neighbors(emb: DataFrame, index: Index, query: Array[Double], k: Int,
                nProbe: Int = 0, excludeId: Option[Long] = None): DataFrame = {
    require(index.centroids.forall(_.length == query.length),
      s"query dim ${query.length} != centroid dim ${index.centroids.head.length}")
    // nProbe <= 0 -> the audited default fraction of the index's cells
    val probes = probeIds(index, query,
      if (nProbe <= 0) defaultNProbe(index.k) else nProbe)
    val base = excludeId.fold(emb)(id => emb.filter(col("vec_id") =!= id))
    val normQ = math.sqrt(query.map(x => x * x).sum)
    base.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(assignExpr(col("v"), index).isin(probes.map(Integer.valueOf): _*))
      .select(col("vec_id"),
        round(GraftFunctions.dot_product(col("v"), lit(query)) /
          (GraftFunctions.l2_norm(col("v")) * lit(normQ)), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Per-cell quality audit — the when-to-retrain measurement for a
    * frozen index serving a growing corpus: (cid, n, inertia, mean_d2,
    * max_d2) where d² is each vector's squared distance to ITS centroid.
    * Rising inertia/max against the build-time snapshot means the data
    * drifted off the trained geometry (new content clusters the index
    * has no cell for) — the signal to [[train]] a fresh index and
    * rebuild, since cells never move under appends by design.
    *
    * Replay discipline: per-row d² is 1e-6-quantized BEFORE the per-cell
    * sums, so inertia is exact long arithmetic — order-free, bitwise on
    * any engine (the established contract). One scan + one
    * k-cell-cardinality hash aggregation; the residual is a NAMED column
    * so the fold isn't re-evaluated per reference.
    */
  def cellStats(emb: DataFrame, index: Index): DataFrame = {
    val v = col("embedding").cast("array<double>")
    emb.select(col("vec_id"), v.as("v"))
      .withColumn("cid", assignExpr(col("v"), index))
      .withColumn("resid", PQ.residualExpr(col("v"), col("cid"), index))
      .withColumn("d2q", round(aggregate(col("resid"), lit(0.0),
        (acc, x) => acc + x * x) * 1e6).cast("long"))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        (sum(col("d2q")).cast("double") / 1e6).as("inertia"),
        ((sum(col("d2q")).cast("double") / 1e6) / count(lit(1)))
          .as("mean_d2"),
        (max(col("d2q")).cast("double") / 1e6).as("max_d2"))
  }
}
