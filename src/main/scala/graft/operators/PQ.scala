package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Product quantization (Jégou, Douze & Schmid 2011, "Product
  * Quantization for Nearest Neighbor Search") — the compressed-codes
  * complement to [[IVF]]'s inverted lists: split each d-dim vector into
  * `m` subvectors, k-means each subspace independently (reusing
  * [[IVF.train]]'s deterministic Lloyd discipline per subspace), and
  * store each vector as `m` small codes. A 64-dim float vector becomes
  * 8 bytes at m=8/k=16 — a 32× compression that lets a 100 TB corpus's
  * codes fit where its vectors never would.
  *
  * Queries run ADC (asymmetric distance computation): the query stays
  * exact, each subspace contributes a k-entry lookup table of
  * ‖q_j − codeword‖², and a vector's estimated dist² is the sum of its
  * codes' table entries — m array lookups per row, no vector arithmetic.
  * Candidates cut by estimated distance are exactly re-ranked (the
  * standard PQ + re-rank pipeline).
  *
  * Determinism contract: codebooks inherit [[IVF.train]]'s seeded init,
  * fixed iterations, and 1e-9 centroid quantization; encoding is the same
  * argmin-over-literals expression ([[IVF.assignExpr]] per subspace, cid
  * tie-break); LUT entries are computed ONCE driver-side and embedded in
  * both the Spark plan and the oracle SQL, and the estimate sums the m
  * lookups in fixed subspace order — so codes, estimates, candidate cuts,
  * and re-ranked results all replay bitwise in any engine.
  *
  * Scale shape: training touches only sliced samples; encoding is one
  * scan-side expression (store the codes next to the corpus); ADC is one
  * scan + TakeOrderedAndProject over `rerank` candidates + an exact
  * re-rank of that bounded set. No shuffles anywhere.
  */
object PQ {

  /** Trained per-subspace codebooks: [m][k][subDim]. */
  case class Codebooks(books: Array[Array[Array[Double]]]) {
    def m: Int = books.length
    def k: Int = books.head.length
    def subDim: Int = books.head.head.length
    def dim: Int = m * subDim
  }

  /** Train m independent sub-quantizers. `dim` must divide evenly by `m`;
    * per-subspace seeds differ so subspaces don't share init accidents.
    *
    * All m Lloyd loops run JOINTLY: one job seeds every subspace (the
    * per-subspace (seeded-hash, id) order [[IVF.train]] uses, as a keyed
    * window over the exploded subspace stream), and each iteration is
    * ONE aggregation job computing every subspace's every centroid mean
    * at once — m×(iters+1) driver-blocking jobs collapse to iters+1,
    * which on a many-query session is mostly scheduler overhead saved
    * (the per-subspace math is identical: same init members, same
    * assignment arms, same means, same 1e-9 quantization; driver state
    * stays m×k×subDim doubles).
    */
  def train(emb: DataFrame, dim: Int, m: Int, k: Int = 16, iters: Int = 5,
            seed: Int = 42): Codebooks = {
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    import org.apache.spark.sql.expressions.Window
    // slice once, cache once: init + every iteration scans this frame
    val subs = emb.select(col("vec_id") +: (0 until m).map(j =>
        slice(col("embedding").cast("array<double>"),
          j * subDim + 1, subDim).as(s"s$j")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // init: per subspace, the k vectors smallest by
      // (xxhash64(vec_id, seed + j), vec_id) — IVF.train's seeded sample,
      // all subspaces in one keyed-window job
      val w = Window.partitionBy(col("j")).orderBy(col("h"), col("vid"))
      val initRows = subs.select(explode(array((0 until m).map(j =>
          struct(lit(j).as("j"),
            xxhash64(col("vec_id"), lit(seed + j)).as("h"),
            col("vec_id").as("vid"), col(s"s$j").as("sub"))): _*)).as("e"))
        .select(col("e.j").as("j"), col("e.h").as("h"),
          col("e.vid").as("vid"), col("e.sub").as("sub"))
        .withColumn("r", row_number().over(w))
        .filter(col("r") <= k)
        .collect()
      require(initRows.length == m * k,
        s"need at least $k vectors to train, got ${initRows.length / m}")
      val books = Array.ofDim[Array[Array[Double]]](m)
      (0 until m).foreach(j => books(j) = Array.ofDim[Array[Double]](k))
      initRows.foreach { r =>
        books(r.getInt(0))(r.getInt(4) - 1) =
          r.getSeq[Double](3).toArray.map(IVF.q9)
      }
      for (_ <- 1 to iters) {
        val means = subs.select(explode(array((0 until m).map(j =>
            struct(lit(j).as("j"),
              IVF.assignExpr(col(s"s$j"), IVF.Index(books(j))).as("cid"),
              col(s"s$j").as("sub"))): _*)).as("e"))
          .select(col("e.j").as("j"), col("e.cid").as("cid"),
            posexplode(col("e.sub")).as(Seq("pos", "x")))
          .groupBy(col("j"), col("cid"), col("pos"))
          .agg(avg(col("x")).as("mv"))
          .collect()
        val updated = books.map(_.map(_.clone()))
        means.foreach(r => updated(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
          IVF.q9(r.getDouble(3)))
        (0 until m).foreach(j => books(j) = updated(j))
        // empty clusters keep their previous centroids (no row to update)
      }
      Codebooks(books)
    } finally subs.unpersist(false)
  }

  /** Persist codebooks: one row per (subspace, code) — m×k×subDim doubles,
    * codebook-sized at any corpus scale. 1e-9-quantized coordinates make
    * the round-trip bit-exact ([[IVF.save]]'s discipline).
    */
  def save(spark: SparkSession, cb: Codebooks, path: String): Unit = {
    // DRIVER-SIDE parquet-mr write, no Spark job ([[IVF.save]]'s
    // discipline): codebooks are m×k×subDim doubles — codebook-sized at
    // any corpus scale — and a full Spark job per save was pure
    // scheduler latency on every ANN-store build.
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  optional int32 sub;
        |  optional int32 code;
        |  optional group codeword (LIST) {
        |    repeated group list {
        |      optional double element;
        |    }
        |  }
        |}""".stripMargin)
    StoreCommits.writeParquetFile(spark, path, schema, "codebooks",
      for (j <- cb.books.indices.iterator; c <- cb.books(j).indices.iterator)
        yield {
          val g = new SimpleGroup(schema)
          g.add("sub", j)
          g.add("code", c)
          val word = g.addGroup("codeword")
          cb.books(j)(c).foreach(x => word.addGroup("list").add("element", x))
          g
        })
  }

  /** Load codebooks persisted by [[save]]; fails fast on gaps or ragged
    * shapes rather than mis-encoding.
    */
  def load(spark: SparkSession, path: String): Codebooks = {
    val rows = spark.read.parquet(path)
      .select(col("sub"), col("code"), col("codeword"))
      .orderBy(col("sub"), col("code")).collect()
    require(rows.nonEmpty, s"no codebooks at $path")
    val bySub = rows.groupBy(_.getInt(0))
    val m = bySub.size
    require(bySub.keySet == (0 until m).toSet,
      s"codebooks at $path have non-contiguous subspace ids")
    val books = (0 until m).map { j =>
      val sub = bySub(j).sortBy(_.getInt(1))
      require(sub.map(_.getInt(1)).sameElements(sub.indices),
        s"subspace $j at $path has non-contiguous codes")
      sub.map(_.getSeq[Double](2).toArray)
    }.toArray
    require(books.flatMap(_.map(_.length)).distinct.length == 1,
      s"codebooks at $path have ragged codeword dims")
    Codebooks(books)
  }

  /** PQ codes of a vector column as ONE pure expression: array of m
    * per-subspace argmins (each [[IVF.assignExpr]] over that subspace's
    * codeword literals — cid tie-break and all).
    */
  def encodeExpr(v: Column, cb: Codebooks): Column =
    array((0 until cb.m).map { j =>
      IVF.assignExpr(slice(v, j * cb.subDim + 1, cb.subDim),
        IVF.Index(cb.books(j)))
    }: _*)

  /** The ADC lookup tables for a query: lut(j)(c) = ‖q_j − codeword‖²,
    * summed in ascending dimension order — computed once, embedded as
    * literals on both engines. Public so oracles replay the identical
    * doubles.
    */
  def adcLuts(cb: Codebooks, query: Array[Double]): Array[Array[Double]] = {
    require(query.length == cb.dim,
      s"query dim ${query.length} != codebook dim ${cb.dim}")
    cb.books.zipWithIndex.map { case (book, j) =>
      val q = query.slice(j * cb.subDim, (j + 1) * cb.subDim)
      book.map { w =>
        var s = 0.0
        var i = 0
        while (i < w.length) { val d = q(i) - w(i); s += d * d; i += 1 }
        s
      }
    }
  }

  /** Estimated dist² of a codes column under the query's LUTs: m array
    * lookups summed in fixed subspace order.
    */
  def adcScoreExpr(codes: Column, luts: Array[Array[Double]]): Column =
    luts.zipWithIndex.map { case (lut, j) =>
      element_at(lit(lut), element_at(codes, j + 1) + 1)
    }.reduce(_ + _)

  /** Approximate top-k: encode in-scan, cut `rerank` candidates by
    * estimated distance (TakeOrderedAndProject, ties on vec_id), then
    * exact-cosine re-rank of the bounded candidate set. Output
    * (vec_id, cos) — [[IVF.neighbors]]'s shape.
    */
  def neighbors(emb: DataFrame, cb: Codebooks, query: Array[Double],
                k: Int, rerank: Int, excludeId: Option[Long] = None)
      : DataFrame = {
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    rankAdc(emb, cb, query, k, rerank, excludeId, identity)
  }

  /** IVFADC (Jégou et al. 2011 §IV): [[IVF]] probes select the inverted
    * lists, ADC ranks INSIDE the probed cells, exact cosine re-ranks the
    * bounded candidate set — the full coarse-quantizer + product-code
    * pipeline at three nested levels of approximation, each one cheap
    * where the previous one pruned. This variant keeps FLAT codes within
    * cells (codebooks over raw vectors, one shared LUT set) — simpler,
    * and with nProbe = k it degenerates exactly to [[neighbors]];
    * [[ivfadcResidualNeighbors]] is the sharper residual-encoded form.
    * One scan: the probe filter and the code expression both run on the
    * same pass; nothing shuffles.
    */
  def ivfadcNeighbors(emb: DataFrame, index: IVF.Index, cb: Codebooks,
                      query: Array[Double], k: Int, nProbe: Int,
                      rerank: Int, excludeId: Option[Long] = None)
      : DataFrame = {
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    val probes = IVF.probeIds(index, query, nProbe)
    rankAdc(emb, cb, query, k, rerank, excludeId,
      df => df.filter(IVF.assignExpr(col("v"), index)
        .isin(probes.map(Integer.valueOf): _*)))
  }

  /** The coarse index's centroid table as ONE literal expression (array of
    * array&lt;double&gt;) — `element_at(..., cell + 1)` picks a row's own
    * centroid without a join.
    */
  private def centroidTableExpr(index: IVF.Index): Column =
    array(index.centroids.toIndexedSeq.map(c =>
      array(c.toIndexedSeq.map(lit): _*)): _*)

  /** Residual of a vector against its assigned cell's centroid,
    * `v − c(cell)`, as a pure expression — the quantity residual PQ
    * encodes (Jégou et al. 2011 §IV-A: residuals concentrate around the
    * origin, so the same m/k code budget spends its codewords on a much
    * smaller-variance distribution than raw vectors).
    */
  def residualExpr(v: Column, cell: Column, index: IVF.Index): Column =
    zip_with(v, element_at(centroidTableExpr(index), cell + 1),
      (a, b) => a - b)

  /** Train codebooks on coarse RESIDUALS (one shared codebook set across
    * cells — Jégou §IV-A's recommended memory/accuracy tradeoff): assign
    * each vector in-scan, subtract its centroid, run [[train]] on the
    * residual frame. Same determinism contract throughout.
    */
  def trainResidual(emb: DataFrame, index: IVF.Index, dim: Int, m: Int,
                    k: Int = 16, iters: Int = 5, seed: Int = 42): Codebooks = {
    val v = col("embedding").cast("array<double>")
    train(emb.select(col("vec_id"),
        residualExpr(v, IVF.assignExpr(v, index), index).as("embedding")),
      dim, m, k, iters, seed)
  }

  /** Mean squared quantization distortion E‖x − q(x)‖² of `cb` over a
    * vector column — the quantity residual encoding exists to shrink
    * (spec-pinned: residual distortion &lt; flat distortion at equal m/k).
    * Pure per-row expression; one aggregation.
    */
  def distortionExpr(v: Column, cb: Codebooks): Column =
    (0 until cb.m).map { j =>
      val vj = slice(v, j * cb.subDim + 1, cb.subDim)
      val w = element_at(
        array(cb.books(j).toIndexedSeq.map(cw =>
          array(cw.toIndexedSeq.map(lit): _*)): _*),
        IVF.assignExpr(vj, IVF.Index(cb.books(j))) + 1)
      aggregate(zip_with(vj, w, (a, b) => (a - b) * (a - b)),
        lit(0.0), _ + _)
    }.reduce(_ + _)

  /** IVFADC with RESIDUAL encoding — the full Jégou §IV construction:
    * codes quantize `v − centroid(cell)` (via [[trainResidual]]'s
    * codebooks), and each probed cell gets its OWN lookup tables built
    * from the residual query `q − centroid(cell)`, so the ADC estimate
    * approximates the true distance rather than the within-cell offset.
    * Still one scan: the probe filter, the residual, the codes, and the
    * per-cell LUT CASE all run on the same pass; the codes column is
    * named so the nProbe CASE arms share one encode, not nProbe of them.
    *
    * `cb` must come from [[trainResidual]] over the same `index` —
    * flat-trained codebooks would place every codeword far from the
    * residual distribution and estimate garbage.
    */
  def ivfadcResidualNeighbors(emb: DataFrame, index: IVF.Index,
                              cb: Codebooks, query: Array[Double], k: Int,
                              nProbe: Int, rerank: Int,
                              excludeId: Option[Long] = None): DataFrame = {
    require(rerank >= k, s"rerank=$rerank must be >= k=$k")
    val probes = IVF.probeIds(index, query, nProbe)
    val lutsByCell = probes.map { i =>
      i -> adcLuts(cb,
        query.zip(index.centroids(i)).map { case (a, b) => a - b })
    }
    val normQ = math.sqrt(query.map(x => x * x).sum)
    val base = excludeId.fold(emb)(id => emb.filter(col("vec_id") =!= id))
    val first = when(col("cell") === lutsByCell.head._1,
      adcScoreExpr(col("codes"), lutsByCell.head._2))
    val est = lutsByCell.tail.foldLeft(first) { case (acc, (i, luts)) =>
      acc.when(col("cell") === i, adcScoreExpr(col("codes"), luts))
    }
    base.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("cell", IVF.assignExpr(col("v"), index))
      .filter(col("cell").isin(probes.map(Integer.valueOf): _*))
      // the residual is NAMED so the m per-subspace argmins slice one
      // materialized 64-element array instead of re-evaluating the
      // zip_with inside every codeword distance (m×k times per row —
      // measured 3x the flat path before this)
      .withColumn("resid", residualExpr(col("v"), col("cell"), index))
      .withColumn("codes", encodeExpr(col("resid"), cb))
      .withColumn("est", est)
      .orderBy(col("est").asc, col("vec_id").asc)
      .limit(rerank)
      .select(col("vec_id"),
        round(GraftFunctions.dot_product(col("v"), lit(query)) /
          (GraftFunctions.l2_norm(col("v")) * lit(normQ)), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  private def rankAdc(emb: DataFrame, cb: Codebooks, query: Array[Double],
                      k: Int, rerank: Int, excludeId: Option[Long],
                      prune: DataFrame => DataFrame): DataFrame = {
    val luts = adcLuts(cb, query)
    val normQ = math.sqrt(query.map(x => x * x).sum)
    val base = excludeId.fold(emb)(id => emb.filter(col("vec_id") =!= id))
    prune(base.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v")))
      // codes NAMED before the score: otherwise project collapsing
      // substitutes the float→double cast into every one of the m×k
      // codeword distances (measured ~1.7x on the batch line)
      .withColumn("codes", encodeExpr(col("v"), cb))
      .withColumn("est", adcScoreExpr(col("codes"), luts))
      .orderBy(col("est").asc, col("vec_id").asc)
      .limit(rerank)
      .select(col("vec_id"),
        round(GraftFunctions.dot_product(col("v"), lit(query)) /
          (GraftFunctions.l2_norm(col("v")) * lit(normQ)), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }
}
