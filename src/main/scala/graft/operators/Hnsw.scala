package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Sharded HNSW graph ANN (Malkov & Yashunin 2018, "Efficient and robust
  * approximate nearest neighbor search using Hierarchical Navigable Small
  * World graphs" — Algorithms 1–5, implemented from the paper).
  *
  * Why it exists beside [[IVF]]: on near-isotropic embeddings cell
  * pruning is information-free — IVF's audited operating point on this
  * testdata is recall 0.85 at ~75% of cells probed (q164's sweep, see
  * `IVF.defaultNProbe`). Graph search does not prune by partition
  * geometry at all: it walks a navigable small-world graph greedily, so
  * its cost is ~`efSearch · M · O(log n)` distance evaluations per shard
  * REGARDLESS of how the mass is distributed — the isotropic case is no
  * worse than the clustered one. q188 audits recall through the same
  * [[Similarity.recallAudit]] harness as IVF; the eval-count honesty
  * line lives in [[searchStats]].
  *
  * Scale shape — the standard sharded-graph deployment (what FAISS and
  * Lucene ship for clusters): vectors hash-shard by id; each shard
  * builds its own in-memory graph INSIDE one task (`mapPartitions` is
  * the point here, as with the multimodal codecs: graph construction is
  * genuinely imperative per-partition work); searches fan out to every
  * shard — embarrassingly parallel, one task each — and merge on an
  * audit-sized top-k. Shard count is the corpus-size knob: n/shards
  * must fit one executor's memory, searches cost shards × (per-graph
  * log-work), and both sides scale horizontally with executors. Build
  * is ONE shuffle (the hash repartition); search is one pass over the
  * stored graph rows with no shuffle before the k-row merge.
  *
  * Everything is deterministic — levels from a splitmix64 finalizer of
  * the vec id (not an RNG), insertion in ascending-id order, all
  * orderings tie-broken by id — so a rebuilt index is bitwise identical
  * and dump-time oracles can re-run the search and embed its result.
  */
object Hnsw {

  /** One stored graph row: node `vec_id` of `shard`, its vector, its top
    * level, and `nbrs(l)` = neighbor ids at layer l for l = 0..level.
    * `shard` is a LONG so wrappers can stride shard ids into globally
    * unique ranges without an epoch ceiling ([[HnswGeoStore.CellStride]]:
    * a long-lived admission stream consumes one epoch per micro-batch,
    * and an int shard id capped epochs at ~32k).
    */
  type Node = (Long, Long, Seq[Double], Int, Seq[Seq[Long]])

  private def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Deterministic HNSW level: u = hash(id) mapped to (0, 1], level =
    * floor(−ln(u) · mL) with mL = 1/ln(M) (the paper's optimum).
    */
  private[operators] def levelOf(id: Long, m: Int): Int = {
    val u = ((mix64(id) >>> 11).toDouble + 1.0) / (1L << 53).toDouble
    math.floor(-math.log(u) / math.log(m.toDouble)).toInt
  }

  /** Cosine distance 1 − cos(a, b); zero-norm vectors sit at distance 1
    * from everything (cos defined 0), matching the engine's cosine
    * kernel convention.
    */
  private def dist(a: Array[Double], na: Double,
                   b: Array[Double], nb: Double): Double = {
    if (na == 0.0 || nb == 0.0) return 1.0
    var dot = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); i += 1 }
    1.0 - dot / (na * nb)
  }

  private def norm(v: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i) * v(i); i += 1 }
    math.sqrt(s)
  }

  /** In-memory per-shard graph under construction or search. */
  private final class Graph(val ids: Array[Long],
                            val vecs: Array[Array[Double]]) {
    val n: Int = ids.length
    val norms: Array[Double] = vecs.map(norm)
    val levels: Array[Int] = new Array[Int](n)
    // adjacency(node)(layer) = buffer of local indexes
    val adj: Array[Array[scala.collection.mutable.ArrayBuffer[Int]]] =
      new Array(n)
    var entry: Int = -1
    var evals: Long = 0L

    def d(q: Array[Double], nq: Double, node: Int): Double = {
      evals += 1
      dist(q, nq, vecs(node), norms(node))
    }
  }

  // min-first ordering on (distance, id-tiebreak): total and deterministic
  private val byDist: Ordering[(Double, Int)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)

  /** Algorithm 2: ef-bounded best-first search of one layer. Returns the
    * ef closest (dist, node) found, ascending.
    *
    * `allow` makes it the standard FILTERED-HNSW form (what Lucene's
    * filtered kNN and the vector DBs ship): the TRAVERSAL stays
    * unrestricted (filtering the walk itself would disconnect it — paths
    * to allowed nodes legitimately cross disallowed regions), while a
    * SECOND ef-bounded result heap collects only nodes with
    * `allow(node)`. Every visited allowed node is considered for that
    * heap whether or not it makes the navigation frontier, so the result
    * is the best-allowed over the whole visited set — strictly better
    * than post-filtering the unfiltered top-ef, which returns < k once
    * the filter is selective. Cost is the unfiltered search's (same
    * frontier, same termination); recall within the allowed subset
    * decays as selectivity drops below ~1/ef — raise `efSearch` with
    * 1/selectivity, the documented knob.
    *
    * `allow` is None when every node is allowed: then the result heap is
    * `found` itself. That is the same answer, not an approximation —
    * with every node allowed the second heap receives exactly `found`'s
    * pushes and pops whenever the entry set holds ≤ ef elements, and
    * [[searchGraph]] enters layer 0 with one.
    */
  private def searchLayer(g: Graph, q: Array[Double], nq: Double,
                          eps: Seq[(Double, Int)], ef: Int, layer: Int,
                          allow: Option[Array[Boolean]] = None)
      : Vector[(Double, Int)] = {
    val visited = new java.util.HashSet[Integer]()
    val cand = scala.collection.mutable.PriorityQueue.empty(byDist.reverse)
    val found = scala.collection.mutable.PriorityQueue.empty(byDist)
    val ok = allow.orNull
    val res =
      if (ok == null) found
      else scala.collection.mutable.PriorityQueue.empty(byDist)
    def collect(dd: Double, e: Int): Unit =
      if (ok != null && ok(e) &&
          (res.size < ef || byDist.lt((dd, e), res.head))) {
        res.enqueue((dd, e))
        if (res.size > ef) res.dequeue()
      }
    eps.foreach { case (dd, e) =>
      if (visited.add(e)) {
        cand.enqueue((dd, e)); found.enqueue((dd, e)); collect(dd, e)
      }
    }
    while (cand.nonEmpty) {
      val (cd, c) = cand.dequeue()
      if (cd > found.head._1 && found.size >= ef) { cand.clear() }
      else {
        val nbrs = g.adj(c)(layer)
        var i = 0
        while (i < nbrs.length) {
          val e = nbrs(i)
          if (visited.add(e)) {
            val ed = g.d(q, nq, e)
            collect(ed, e)
            if (found.size < ef || byDist.lt((ed, e), found.head)) {
              cand.enqueue((ed, e))
              found.enqueue((ed, e))
              if (found.size > ef) found.dequeue()
            }
          }
          i += 1
        }
      }
    }
    res.toVector.sorted(byDist)
  }

  /** Algorithm 4: heuristic neighbor selection — keep a candidate only
    * if it is closer to the query than to every already-kept neighbor
    * (edges point across, not into, one dense clump).
    */
  private def selectHeuristic(g: Graph, cands: Vector[(Double, Int)],
                              m: Int): Vector[Int] = {
    val kept = scala.collection.mutable.ArrayBuffer.empty[Int]
    val it = cands.iterator
    while (it.hasNext && kept.size < m) {
      val (cd, c) = it.next()
      val closerToKept = kept.exists { r =>
        dist(g.vecs(c), g.norms(c), g.vecs(r), g.norms(r)) < cd
      }
      if (!closerToKept) kept += c
    }
    kept.toVector
  }

  /** Algorithm 1: insert nodes `from`..n−1 into a graph whose nodes
    * 0..`from`−1 are already wired (from = 0 builds from scratch;
    * from > 0 is incremental admission — [[add]]). Insertion order is
    * the array order, which callers keep id-ascending.
    */
  private def insertNodes(g: Graph, from: Int, m: Int,
                          efConstruction: Int): Unit = {
    val ids = g.ids
    val vecs = g.vecs
    val mmax0 = 2 * m
    var i = from
    while (i < g.n) {
      val l = levelOf(ids(i), m)
      g.levels(i) = l
      g.adj(i) = Array.fill(l + 1)(scala.collection.mutable.ArrayBuffer.empty[Int])
      if (g.entry < 0) { g.entry = i }
      else {
        val q = vecs(i)
        val nq = g.norms(i)
        var ep = Vector((g.d(q, nq, g.entry), g.entry))
        val top = g.levels(g.entry)
        var lc = top
        while (lc > l) { ep = searchLayer(g, q, nq, ep, 1, lc); lc -= 1 }
        while (lc >= 0) {
          val w = searchLayer(g, q, nq, ep, efConstruction, lc)
          val sel = selectHeuristic(g, w, m)
          sel.foreach { e =>
            g.adj(i)(lc) += e
            g.adj(e)(lc) += i
            val cap = if (lc == 0) mmax0 else m
            if (g.adj(e)(lc).length > cap) {
              val pruned = selectHeuristic(g,
                g.adj(e)(lc).map(x =>
                  (dist(g.vecs(e), g.norms(e), g.vecs(x), g.norms(x)), x))
                  .sorted(byDist).toVector, cap)
              g.adj(e)(lc).clear()
              g.adj(e)(lc) ++= pruned
            }
          }
          ep = w
          lc -= 1
        }
        if (l > g.levels(g.entry)) g.entry = i
      }
      i += 1
    }
  }

  private def buildGraph(ids: Array[Long], vecs: Array[Array[Double]],
                         m: Int, efConstruction: Int): Graph = {
    val g = new Graph(ids, vecs)
    insertNodes(g, 0, m, efConstruction)
    g
  }

  /** Algorithm 5 over one shard: greedy descent through the upper
    * layers, ef-search at layer 0; ascending (dist, local idx). The
    * descent is UNFILTERED (navigation); `allow` restricts only the
    * layer-0 result heap ([[searchLayer]]).
    */
  private def searchGraph(g: Graph, q: Array[Double], ef: Int,
                          allow: Option[Array[Boolean]] = None)
      : Vector[(Double, Int)] = {
    if (g.n == 0) return Vector.empty
    val nq = norm(q)
    var ep = Vector((g.d(q, nq, g.entry), g.entry))
    var lc = g.levels(g.entry)
    while (lc > 0) { ep = searchLayer(g, q, nq, ep, 1, lc); lc -= 1 }
    searchLayer(g, q, nq, ep, ef, 0, allow)
  }

  /** Rows sampled by [[add]]'s driver-side shard-count guard. */
  private[graft] val ShardCheckSample = 10000

  /** Deployment shard sizing — the knob the ×10/×100 rehearsal proved
    * (shards ∝ corpus keeps per-shard work constant; BASELINE's policy
    * table): the smallest shard count that keeps one shard's graph under
    * BOTH limits.
    *
    *  - MEMORY: a shard's task footprint is `n/shards · bytesPerNode`
    *    with bytesPerNode = dim·8 (the vector) + 2·m·8 (the layer-0
    *    adjacency; upper layers add a geometric ~1/(m−1) tail that the
    *    `targetTaskMb` headroom absorbs — the executor's working set,
    *    NOT its full heap).
    *  - BUILD LATENCY: construction is sequential per shard, so
    *    `maxNodesPerShard` caps the longest task (the fixed-shards
    *    rehearsal measured 182 s at 50k nodes/shard — that column is
    *    exactly the failure this cap prevents).
    *
    * At 100 TB the memory arm dominates (1e9 × 1024-dim nodes →
    * ~16k shards of 512 MB); at local test scale the latency arm does.
    *
    * For GEOMETRY sharding this sizes the MEAN cell; the max is bounded
    * by construction when [[buildGeo]] is given `maxCellNodes` (hot
    * cells split into sub-shards under the same centroid —
    * [[GeoLayout]]), so the policy pair is: k from here, the per-task
    * cap from `maxNodesPerShard` passed through as the cell cap.
    */
  def defaultShards(n: Long, dim: Int, m: Int = 8, targetTaskMb: Int = 512,
                    maxNodesPerShard: Long = 65536L): Int = {
    require(n >= 0 && dim >= 1 && m >= 2 && targetTaskMb >= 1 &&
        maxNodesPerShard >= 1,
      s"bad sizing args: n=$n dim=$dim m=$m targetTaskMb=$targetTaskMb " +
        s"maxNodesPerShard=$maxNodesPerShard")
    val bytesPerNode = dim.toLong * 8L + 2L * m.toLong * 8L
    val targetBytes = targetTaskMb.toLong * (1L << 20)
    val byMem = (n * bytesPerNode + targetBytes - 1L) / targetBytes
    val byNodes = (n + maxNodesPerShard - 1L) / maxNodesPerShard
    math.max(1L, math.max(byMem, byNodes)).min(Int.MaxValue.toLong).toInt
  }

  private def shardCol(shards: Int) =
    pmod(xxhash64(col("vec_id")), lit(shards.toLong))

  /** SUB-SHARD layout of a geometry-sharded store — the hard bound on
    * the one data-dependent term in the routed path: cell population.
    * Cells whose population exceeds the build cap split into `n_sub`
    * id-hash sub-shards UNDER THE SAME CENTROID; the logical shard id
    * becomes `sub · k + cell` (cell recoverable as `shard % k`), so an
    * unsplit store's shard ids ARE its cell ids — the pre-layout format,
    * bitwise. The map holds only split cells (absent ⇒ n_sub = 1);
    * it is FROZEN with the store exactly like the index (admission and
    * rebuild assign `sub = hash(vec_id) mod n_sub` — id-deterministic,
    * so the monotone-id compaction≡rebuild theorem survives under a
    * fixed layout), and a retrain re-derives it with the new cells.
    * Probes fan to a probed cell's sub-shards: routing stays ≤ nProbe
    * CELLS while per-task graph memory is capped by construction.
    */
  type GeoLayout = Map[Long, Int]

  /** WITHIN-CELL probe routing for an over-cap (hot) cell (round-17
    * verdict #2) — the hot cell's COMPUTE bound, where [[GeoLayout]]
    * alone bounds only its memory: under a pure id-hash split a probe
    * into a hot cell must fan to ALL ⌈pop/cap⌉ sub-shards, so per-probe
    * work stays linear in the cell's population. A [[SubRouting]] gives
    * the cell a SECONDARY GEOMETRY: `centroids(i)` are mini-IVF
    * sub-centroids trained once on the cell's own vectors (frozen with
    * the layout, like the index), and `split(i)` is the id-hash split
    * factor that re-caps sub-cell `i` by construction (k-means balance
    * is a heuristic; the hash backstop is the guarantee — a hot cell of
    * NEAR-IDENTICAL vectors collapses into one sub-cell and honestly
    * degenerates to today's exhaustive fan, which is also the correct
    * answer there). Slot encoding: slot = offsets(sub) + hash(id) mod
    * split(sub), shard = slot·k + cell — sum(split) slots, exactly the
    * [[GeoLayout]] n_sub of the cell, so every slot-count consumer
    * (stride bounds, exhaustive fans, driver-side shard enumeration) is
    * unchanged. A probe routes to its `nProbeSub` nearest sub-cells and
    * fans only to THEIR slots; `nProbeSub ≤ 0` (or ≥ the sub-cell
    * count) is the exhaustive fan bitwise — the oracle route.
    */
  case class SubRouting(centroids: Array[Array[Double]],
                        split: Array[Int]) {
    require(centroids.nonEmpty && centroids.length == split.length &&
      split.forall(_ >= 1),
      s"malformed sub-routing: ${centroids.length} centroids / " +
        s"${split.length} splits")
    /** first slot of each geometric sub-cell */
    val offsets: Array[Int] = split.scanLeft(0)(_ + _).init
    def slots: Int = split.sum
  }

  /** Per-cell sub-routing of the split cells that carry one — always a
    * subset of the [[GeoLayout]] keys, with `slots == layout(cell)`.
    * Empty on pure-hash layouts (the round-17 format): every consumer
    * falls back to the exhaustive fan / plain hash slot, bitwise.
    */
  type GeoRouting = Map[Long, SubRouting]

  /** Derive the sub-shard layout that caps every cell of `emb` (columns
    * vec_id, embedding) at `maxCellNodes` vectors under `index`: one
    * cell-count aggregation (≤ k rows to the driver — the same bounded
    * collect as [[IVF.cellStats]] audits), n_sub = ⌈population / cap⌉.
    */
  private[graft] def geoLayout(emb: DataFrame, index: IVF.Index,
                               maxCellNodes: Int): GeoLayout = {
    require(maxCellNodes >= 1, s"maxCellNodes=$maxCellNodes must be >= 1")
    emb.select(IVF.assignExpr(
          col("embedding").cast("array<double>"), index)
        .cast("long").as("cell"))
      .groupBy(col("cell")).count()
      .filter(col("count") > maxCellNodes.toLong)
      .collect()
      .map { r =>
        val n = (r.getLong(1) + maxCellNodes - 1L) / maxCellNodes.toLong
        r.getLong(0) -> n.toInt
      }.toMap
  }

  /** Derive the layout AND the within-cell routing of every over-cap
    * cell ([[SubRouting]]): per hot cell, s = ⌈pop/cap⌉ mini-IVF
    * sub-centroids trained on the cell's own vectors (the [[IVF.train]]
    * sampling discipline — Lloyd passes bounded at 100 rows/centroid),
    * then each geometric sub-cell re-capped by an id-hash split of
    * ⌈pop_i/cap⌉ — the hash backstop that keeps the memory bound BY
    * CONSTRUCTION where k-means balance alone could not. The returned
    * layout's n_sub is sum(split), so every slot-count consumer is the
    * pure-hash format's. Cost: one bounded count collect + per-hot-cell
    * trains over column-pruned cell scans — hot cells are few by
    * construction (they are the exception the cap exists for).
    */
  private[graft] def geoRoutingOf(emb: DataFrame, index: IVF.Index,
                                  maxCellNodes: Int, iters: Int = 5)
      : (GeoLayout, GeoRouting) = {
    require(maxCellNodes >= 1, s"maxCellNodes=$maxCellNodes must be >= 1")
    val src = graft.CacheRegistry.persist(
      emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding")))
    val hot = src
      .select(IVF.assignExpr(col("embedding"), index)
        .cast("long").as("cell"))
      .groupBy(col("cell")).count()
      .filter(col("count") > maxCellNodes.toLong)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val routing = hot.map { case (c, pop) =>
      c -> subRoutingFor(
        src.filter(
          IVF.assignExpr(col("embedding"), index).cast("long") === c),
        pop, maxCellNodes, iters)
    }.toMap
    (routing.map { case (c, r) => c -> r.slots }, routing)
  }

  /** Train ONE cell's [[SubRouting]] from its live vectors — the
    * per-cell kernel [[geoRoutingOf]] and the compaction re-split
    * share: s = ⌈pop/cap⌉ mini-IVF sub-centroids (sampled Lloyd), then
    * the per-sub-cell id-hash re-cap (≤ s count rows to the driver).
    */
  private[graft] def subRoutingFor(cellVecs: DataFrame, pop: Long,
                                   maxCellNodes: Int,
                                   iters: Int = 5): SubRouting = {
    val s = ((pop + maxCellNodes - 1L) / maxCellNodes.toLong).toInt
    val sub = IVF.train(cellVecs, s, iters, maxTrainRows = 100L * s)
    val counts = cellVecs
      .select(element_at(graft.functions.GraftFunctions.nearest_cells(
        col("embedding").cast("array<double>"), sub.centroids, 1), 1)
        .as("sub"))
      .groupBy(col("sub")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val split = Array.tabulate(s) { i =>
      val n = counts.getOrElse(i, 0L)
      math.max(1L, (n + maxCellNodes - 1L) / maxCellNodes.toLong).toInt
    }
    SubRouting(sub.centroids, split)
  }

  /** Recover a store's frozen layout from its own shard ids (one
    * column-pruned distinct — ≤ k·maxSub group rows): cell = shard % k,
    * sub = shard / k, n_sub = max sub + 1. Segmented stores carry the
    * layout PERSISTED beside the index instead
    * ([[HnswGeoStore]] `layout/epoch=N`) — this derivation is for naked
    * [[buildGeo]] frames, and under-counts only a cell whose top
    * sub-shards are ALL empty (impossible on the build/append paths,
    * which never write an empty sub-shard's peers without the layout).
    */
  private[graft] def layoutOfStore(store: DataFrame,
                                   index: IVF.Index): GeoLayout = {
    val k = index.k.toLong
    store.select((col("shard") % lit(k)).as("cell"),
        floor(col("shard") / lit(k)).cast("long").as("sub"))
      .groupBy(col("cell")).agg(max(col("sub")).as("maxsub"))
      .filter(col("maxsub") > 0L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1).toInt + 1)).toMap
  }

  /** Assign geometry shard ids under a frozen layout: cell by
    * [[IVF.assignExpr]], sub by id hash within the cell's n_sub. Empty
    * layout short-circuits to the plain cell id — the exact pre-layout
    * expression, so unsplit stores keep bitwise plans.
    */
  private[graft] def withGeoShard(rows: DataFrame, index: IVF.Index,
                                  layout: GeoLayout,
                                  routing: GeoRouting = Map.empty)
      : DataFrame = {
    val cell = IVF.assignExpr(col("vec"), index).cast("long")
    if (layout.isEmpty) rows.withColumn("shard", cell)
    else {
      val spark = rows.sparkSession
      import spark.implicits._
      val lay = layout.toSeq.toDF("__cell", "__nsub")
      val hashSlot = pmod(xxhash64(col("vec_id")),
        coalesce(col("__nsub"), lit(1)).cast("long"))
      // routed cells assign slot = offsets(sub) + hash mod split(sub)
      // under their frozen mini-IVF ([[SubRouting]]); a CASE chain over
      // the routed cells only — hot cells are few by construction, and
      // the chain stays inside codegen ([[GraftFunctions.nearest_cells]]
      // is a native kernel). Non-routed cells keep the pure-hash slot
      // expression BITWISE.
      val slot = routing.foldLeft(hashSlot) { case (acc, (c, r)) =>
        val sub = element_at(graft.functions.GraftFunctions
          .nearest_cells(col("vec"), r.centroids, 1), 1)
        val off = element_at(typedLit(r.offsets), sub + 1).cast("long")
        val spl = element_at(typedLit(r.split), sub + 1).cast("long")
        when(col("__cell") === c,
          off + pmod(xxhash64(col("vec_id")), spl)).otherwise(acc)
      }
      rows.withColumn("__cell", cell)
        .join(broadcast(lay), Seq("__cell"), "left")
        .withColumn("shard", col("__cell") + slot * lit(index.k.toLong))
        .drop("__cell", "__nsub")
    }
  }

  /** Fan a probe frame's exploded `cellCol` out to every sub-shard of
    * that cell under `layout`, as a new `shard` column. Empty layout is
    * the identity cast — the pre-layout plan, bitwise.
    */
  private[graft] def fanToSubShards(pr: DataFrame, cellCol: String,
                                    layout: GeoLayout, k: Int,
                                    routing: GeoRouting = Map.empty,
                                    nProbeSub: Int = 0,
                                    vecCol: String = "vec"): DataFrame =
    if (layout.isEmpty) pr.withColumn("shard", col(cellCol).cast("long"))
    else {
      val spark = pr.sparkSession
      import spark.implicits._
      val lay = layout.toSeq.toDF("__lcell", "__lnsub")
      val exhaustive = sequence(lit(0L),
        coalesce(col("__lnsub"), lit(1)).cast("long") - 1L)
      // nProbeSub > 0 routes a probe into a [[SubRouting]]-carrying
      // cell to its nProbeSub nearest sub-cells and fans only to THEIR
      // id-hash slots; every other cell — and nProbeSub ≥ the sub-cell
      // count — keeps the exhaustive slot list (the oracle route,
      // bitwise the pre-routing plan when routing is empty)
      val slots =
        if (nProbeSub <= 0 || routing.isEmpty) exhaustive
        else routing.foldLeft(exhaustive) { case (acc, (c, r)) =>
          if (nProbeSub >= r.centroids.length) acc
          else {
            val subs = graft.functions.GraftFunctions.nearest_cells(
              col(vecCol).cast("array<double>"), r.centroids, nProbeSub)
            val chosen = flatten(transform(subs, s =>
              sequence(
                element_at(typedLit(r.offsets), s + 1).cast("long"),
                element_at(typedLit(r.offsets), s + 1).cast("long") +
                  element_at(typedLit(r.split), s + 1).cast("long") - 1L)))
            when(col("__lcell") === c, chosen).otherwise(acc)
          }
        }
      pr.join(broadcast(lay), col(cellCol).cast("long") === col("__lcell"),
          "left")
        .withColumn("__sub", explode(slots))
        .withColumn("shard",
          col(cellCol).cast("long") + col("__sub") * lit(k.toLong))
        .drop("__lcell", "__lnsub", "__sub")
    }

  /** Duplicate vec_ids would silently corrupt the local-index mapping
    * (two rows, one adjacency slot) — fail loudly instead, the same
    * id-uniqueness discipline the linkage operators enforce. Input is
    * sorted, so one adjacent pass suffices.
    */
  private def requireUniqueIds(sortedIds: Seq[Long], shard: Long): Unit = {
    var i = 1
    while (i < sortedIds.length) {
      require(sortedIds(i) != sortedIds(i - 1),
        s"shard $shard: duplicate vec_id ${sortedIds(i)} — " +
          "ids must be unique per corpus")
      i += 1
    }
  }

  /** Reassemble each shard's graph from its stored rows and run `f` on
    * it. Store partitioning keys on `shard`; within the partition the
    * rows arrive SORTED by (shard, vec_id) and are consumed as a lazy
    * one-pass stream — ONE shard's graph is materialized at a time and
    * dropped before the next shard's rows are touched ([[pairStream]]'s
    * memory discipline), so a task that receives several shards never
    * holds more than one graph regardless of how shards hash into
    * partitions.
    */
  private def perShard[T: org.apache.spark.sql.Encoder](
      store: DataFrame, parallelism: Int)(
      f: (Long, Graph) => Iterator[T]): Dataset[T] = {
    val spark = store.sparkSession
    import spark.implicits._
    store.select(col("shard"), col("vec_id"), col("vec"), col("level"),
        col("nbrs"))
      .as[Node]
      .repartition(parallelism, col("shard"))
      .sortWithinPartitions(col("shard"), col("vec_id"))
      .mapPartitions(it => shardRuns(it)(_._1) { (shard, rows) =>
        f(shard, materializeGraph(scala.collection.mutable.ArrayBuffer.from(rows), shard))
      })
  }

  /** The lazy one-pass split of a partition whose rows arrive sorted by
    * shard: `f` gets each shard's id and a buffered iterator over that
    * shard's rows only, one shard at a time, and must read them all before
    * its output runs out — the next shard starts where it stopped. Nothing
    * beyond what `f` itself keeps is held per shard.
    */
  private def shardRuns[R, T](rows: Iterator[R])(shardOf: R => Long)(
      f: (Long, BufferedIterator[R]) => Iterator[T]): Iterator[T] = {
    val it = rows.buffered
    Iterator.continually(()).takeWhile(_ => it.hasNext).flatMap { _ =>
      val shard = shardOf(it.head)
      f(shard, new BufferedIterator[R] {
        def hasNext: Boolean = it.hasNext && shardOf(it.head) == shard
        def head: R =
          if (hasNext) it.head else throw new NoSuchElementException(s"end of shard $shard")
        def next(): R = { val r = head; it.next(); r }
      })
    }
  }

  /** Rebuild one shard's graph from its stored rows, sorted by vec_id
    * (duplicate ids fail loudly).
    */
  private def materializeGraph(
      gRows: scala.collection.mutable.ArrayBuffer[Node],
      shard: Long): Graph = {
    requireUniqueIds(gRows.map(_._2).toSeq, shard)
    val ids = gRows.map(_._2).toArray
    val vecs = gRows.map(_._3.toArray).toArray
    val g = new Graph(ids, vecs)
    val local = ids.zipWithIndex.toMap
    gRows.zipWithIndex.foreach { case ((_, _, _, level, nbrs), li) =>
      g.levels(li) = level
      // dangling neighbor ids are DROPPED, not errors: a store with
      // tombstoned (deleted) nodes serves with their edges elided until
      // compaction rebuilds the touched cells. Trade, stated honestly:
      // the previous map-lookup crash doubled as an accidental integrity
      // tripwire for a segment file missing node rows — but deletions
      // make dangling ids a LEGAL state, parquet footers make silent row
      // loss the unlikely corruption mode, and a per-shard "is this
      // dangling id a deletion or corruption" test would need the
      // tombstone set in every task. The tripwire is re-armed at
      // COMPACTION instead (ADVICE r16): [[HnswGeoStore]]'s repair arm
      // asserts every id a rebuilt cell references has a stored row in
      // the raw epoch — where tombstoned nodes still exist — so row loss
      // fails loudly at the next compaction rather than never
      g.adj(li) = nbrs.map(layer => scala.collection.mutable
        .ArrayBuffer(layer.flatMap(local.get): _*)).toArray
    }
    // stored entry contract: the max-level node, min id on ties —
    // exactly what buildGraph ends with (levels only ever grow)
    g.entry =
      if (g.n == 0) -1
      else ids.indices.minBy(i => (-g.levels(i), ids(i)))
    g
  }

  /** Build the sharded index: one hash shuffle, one graph build per
    * shard, out as storable rows (shard, vec_id, vec, level, nbrs) —
    * `df.write.parquet(...)` IS the save path; [[neighbors]] reads the
    * same frame back.
    */
  def build(emb: DataFrame, shards: Int = 4, m: Int = 8,
            efConstruction: Int = 64): DataFrame = {
    require(shards >= 1 && m >= 2 && efConstruction >= m,
      s"bad params: shards=$shards m=$m efConstruction=$efConstruction")
    buildShards(
      emb.select(col("vec_id"),
          col("embedding").cast("array<double>").as("vec"))
        .withColumn("shard", shardCol(shards))
        .select(col("shard"), col("vec_id"), col("vec")),
      shards, m, efConstruction)
  }

  /** [[build]] with GEOMETRY sharding: the shard of a vector is its
    * nearest [[IVF]] cell ([[IVF.assignExpr]] — deterministic, tie on
    * the lower cid) instead of an id hash. Output schema and every
    * search surface ([[neighbors]], [[searchStats]], [[add]]-free reads)
    * are identical to [[build]]'s; what changes is WHERE a vector lives:
    * id hashing is information-free about neighbor location, cell
    * sharding co-locates geometric neighbors — which is what lets
    * [[nearDupPairsRouted]] route each probe to a BOUNDED number of
    * cells instead of fanning out to every shard. Cell population is
    * data-dependent; size `index.k` with [[defaultShards]] so the MEAN
    * cell obeys the memory/latency arms, and pass `maxCellNodes` to
    * BOUND the max: cells past the cap split into id-hash sub-shards
    * under the same centroid ([[GeoLayout]]), so one hot cell can no
    * longer become one giant task — skew is bounded by construction,
    * not merely audited ([[IVF.cellStats]] remains the audit).
    *
    * Incremental admission ([[add]]) targets ID-HASH stores only — its
    * driver-side guard rejects a geo store loudly (cell ids don't
    * re-hash). A geo index absorbs growth by REBUILD on the standing
    * index's centroids (assignment is frozen with the index — the
    * [[EmbeddingStore]] admission discipline), re-training only when
    * centroid drift degrades the audited recall.
    */
  def buildGeo(emb: DataFrame, index: IVF.Index, m: Int = 8,
               efConstruction: Int = 64, maxCellNodes: Int = 0): DataFrame =
    buildGeoWithLayout(emb, index, m, efConstruction,
      if (maxCellNodes > 0) geoLayout(emb, index, maxCellNodes)
      else Map.empty)

  /** [[buildGeo]] under a FIXED [[GeoLayout]] — the delta-epoch /
    * dirty-cell-rebuild arm: a segmented store's appends and tombstone
    * repairs must assign with the layout frozen at base-build time (the
    * [[IVF]] frozen-index discipline applied to sub-shards), never
    * re-derive one from their own batch's counts.
    */
  /** `parallelism` > 0 overrides the default one-partition-per-shard
    * task layout — the DELTA-build knob: a batch-sized delta touching a
    * handful of cells must not schedule k near-empty tasks (the
    * admit-ladder's measured task-count floor); shards group within a
    * partition and [[buildStream]] still materializes one at a time, so
    * partition count is a scheduling choice, never a memory or
    * correctness one.
    */
  private[graft] def buildGeoWithLayout(emb: DataFrame, index: IVF.Index,
                                        m: Int, efConstruction: Int,
                                        layout: GeoLayout,
                                        parallelism: Int = 0,
                                        routing: GeoRouting = Map.empty)
      : DataFrame = {
    require(m >= 2 && efConstruction >= m,
      s"bad params: m=$m efConstruction=$efConstruction")
    buildShards(
      withGeoShard(
        emb.select(col("vec_id"),
          col("embedding").cast("array<double>").as("vec")),
        index, layout, routing)
        .select(col("shard"), col("vec_id"), col("vec")),
      if (parallelism > 0) parallelism
      else index.k + layout.valuesIterator.map(_ - 1).sum,
      m, efConstruction)
  }

  /** Shared build tail: one hash shuffle on `shard` with an
    * in-partition sort, one sequential graph build per shard streamed
    * through [[buildStream]]. `rows` = (shard, vec_id, vec).
    */
  private def buildShards(rows: DataFrame, numParts: Int, m: Int,
                          efConstruction: Int): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.as[(Long, Long, Seq[Double])]
      .repartition(numParts, col("shard"))
      .sortWithinPartitions(col("shard"), col("vec_id"))
      .mapPartitions(it => buildStream(it, m, efConstruction))
      .toDF("shard", "vec_id", "vec", "level", "nbrs")
  }

  /** The lazy one-pass BUILD task body — [[shardScan]]'s memory
    * discipline applied to the build path (the search paths got it in
    * round 12): rows arrive sorted by (shard, vec_id); ONE shard's rows
    * are materialized (bounded by the shard sizing policy), its graph is
    * built and emitted, and both are dropped before the next shard's
    * rows are touched — a build task holds one shard at a time no matter
    * how many shards hash into its partition, where the previous
    * `it.toSeq.groupBy` held the whole partition (a small collision
    * multiple of one shard) eagerly. Per-shard output is unchanged:
    * insertion order is ascending vec_id exactly as before, so stores
    * are bitwise identical (HnswSpec's determinism lines).
    */
  private[graft] def buildStream(rows0: Iterator[(Long, Long, Seq[Double])],
                                 m: Int, efConstruction: Int)
      : Iterator[Node] = {
    shardRuns(rows0)(_._1) { (shard, shardRows) =>
      val rows = scala.collection.mutable.ArrayBuffer.from(shardRows)
      requireUniqueIds(rows.map(_._2).toSeq, shard)
      val ids = rows.map(_._2).toArray
      val vecs = rows.map(_._3.toArray).toArray
      val g = buildGraph(ids, vecs, m, efConstruction)
      ids.indices.iterator.map { i =>
        (shard, ids(i), rows(i)._3, g.levels(i),
          g.adj(i).toSeq.map(_.toSeq.map(ids(_)).sorted))
      }
    }
  }

  /** Incremental admission: insert a fresh batch into an existing store
    * WITHOUT rebuilding it — the index-maintenance half of the ANN
    * lifecycle (the parallel of [[DedupState]]'s corpus admission).
    * Fresh vectors hash to their shards with the same key the store was
    * built with; each shard reconstructs its graph, continues Algorithm
    * 1 over the id-sorted batch (existing nodes' neighbor lists update
    * bidirectionally, exactly as at build time), and emits the full new
    * store. Cost: one shuffle of the batch + one pass over the store —
    * per-shard work is batch-sized insertions into a warm graph, NOT a
    * rebuild.
    *
    * `shards` MUST equal the store's build-time shard count: a larger
    * value hashes fresh ids into shard slots the store never populated,
    * silently creating isolated mini-graphs never wired to the standing
    * corpus. A task cannot see which shards exist globally, so the check
    * runs DRIVER-SIDE before the job: stored shard ids must sit under
    * `shards`, and a [[ShardCheckSample]]-row sample must re-hash to its
    * stored shard under the given count (a wrong modulus moves nearly
    * every id, so a bounded sample catches it; the full scan would double
    * the store pass for a guard).
    *
    * Determinism contract: for MONOTONE arrivals (every fresh id above
    * every stored id — the append-only ingest case) the result is
    * BITWISE IDENTICAL to `build(old ∪ fresh)`, because insertion order
    * (ascending id) coincides; HnswSpec pins this. Interleaved ids stay
    * deterministic for a given (store, batch) but legitimately differ
    * from a from-scratch build, as with any HNSW insertion order.
    * Duplicate ids fail loudly per shard.
    */
  def add(store: DataFrame, fresh: DataFrame, shards: Int, m: Int = 8,
          efConstruction: Int = 64): DataFrame = {
    require(shards >= 1 && m >= 2 && efConstruction >= m,
      s"bad params: shards=$shards m=$m efConstruction=$efConstruction")
    val badSample = store.select(col("shard"), col("vec_id"))
      .limit(ShardCheckSample)
      .filter(col("shard") < 0 || col("shard") >= shards ||
        shardCol(shards) =!= col("shard"))
      .count()
    require(badSample == 0L,
      s"store was not built with shards=$shards: $badSample of a " +
        s"$ShardCheckSample-row sample re-hash to a different shard — " +
        "fresh ids would land in isolated mini-graphs (pass the " +
        "build-time shard count)")
    val freshRows = asProbes(fresh.select(col("vec_id"),
        col("embedding").cast("array<double>").as("vec"))
      .withColumn("shard", shardCol(shards)))
    admitShards(store, freshRows, shards, m, efConstruction)
  }

  /** [[add]] for a GEOMETRY-sharded store ([[buildGeo]]) — incremental
    * admission on the 100 TB semantic-dedup default route, closing its
    * last lifecycle asymmetry (the id-hash route has had warm admission
    * since round 10; the geo route's documented answer was "rebuild"):
    * fresh vectors are assigned to cells with the FROZEN index
    * ([[IVF.assignExpr]] — the [[EmbeddingStore]] admission discipline:
    * cells never move under appends, only a drift-triggered retrain
    * replaces them), warm-inserted into each cell's standing graph
    * exactly as [[add]] inserts per hash shard, and the full store
    * re-emits. Cost: one shuffle of the batch + one pass over the
    * store — per-cell work is batch-sized insertions into a warm graph,
    * NOT a rebuild.
    *
    * Guards, both loud: the store must have been built with THIS index
    * (driver-side [[ShardCheckSample]]-row sampled re-assign — the
    * [[nearDupPairsRouted]] discipline; a wrong index would wire fresh
    * vectors into cells their neighbors don't live in), and duplicate
    * ids fail per cell inside the task exactly as at build time.
    *
    * Determinism contract — the q190 theorem transplanted: for MONOTONE
    * arrivals (every fresh id above every stored id — append-only
    * ingest) the result is BITWISE identical to
    * `buildGeo(old ∪ fresh, index)`, because per-cell insertion order
    * (ascending id) coincides; HnswSpec pins it. Interleaved ids stay
    * deterministic for a given (store, batch) but legitimately differ
    * from a from-scratch build, as with any HNSW insertion order.
    */
  def addGeo(store: DataFrame, fresh: DataFrame, index: IVF.Index,
             m: Int = 8, efConstruction: Int = 64,
             layout: Option[GeoLayout] = None,
             routing: GeoRouting = Map.empty): DataFrame = {
    require(m >= 2 && efConstruction >= m,
      s"bad params: m=$m efConstruction=$efConstruction")
    requireGeoStore(store, index)
    // the frozen sub-shard layout: the segmented store passes its
    // persisted one; a naked frame's is recovered from its shard ids
    val lay = layout.getOrElse(layoutOfStore(store, index))
    val freshRows = asProbes(withGeoShard(
      fresh.select(col("vec_id"),
        col("embedding").cast("array<double>").as("vec")),
      index, lay, routing))
    admitShards(store, freshRows,
      index.k + lay.valuesIterator.map(_ - 1).sum, m, efConstruction)
  }

  /** Shared admission tail of [[add]]/[[addGeo]]: union the store with
    * the batch (fresh rows tagged level = −1), one hash exchange on
    * `shard` with an in-partition sort putting each shard's stored rows
    * (id-ascending) before its fresh rows (id-ascending), then
    * [[admitStream]]'s lazy per-shard warm insertion.
    */
  private def admitShards(store: DataFrame, freshRows: DataFrame,
                          numParts: Int, m: Int,
                          efConstruction: Int): DataFrame = {
    val spark = store.sparkSession
    import spark.implicits._
    store.select(col("shard"), col("vec_id"), col("vec"), col("level"),
        col("nbrs"))
      .unionByName(freshRows)
      .as[Node]
      .repartition(numParts, col("shard"))
      .sortWithinPartitions(col("shard"),
        (col("level") < 0).cast("int"), col("vec_id"))
      .mapPartitions(it => admitStream(it, m, efConstruction))
      .toDF("shard", "vec_id", "vec", "level", "nbrs")
  }

  /** The lazy one-pass ADMISSION task body — [[buildStream]]'s contract
    * for the warm-insertion path: rows arrive sorted by (shard, role,
    * vec_id) with a shard's STORED rows (level ≥ 0) before its fresh
    * rows (level = −1); one shard's graph is reconstructed, the fresh
    * batch is inserted (Algorithm 1 continued — existing neighbor lists
    * update bidirectionally exactly as at build time), the full shard
    * re-emits, and everything is dropped before the next shard's rows
    * are touched.
    */
  private[graft] def admitStream(rows0: Iterator[Node], m: Int,
                                 efConstruction: Int): Iterator[Node] = {
    shardRuns(rows0)(_._1) { (shard, rows) =>
      val oldRows = scala.collection.mutable.ArrayBuffer.empty[Node]
      while (rows.hasNext && rows.head._4 >= 0) oldRows += rows.next()
      val newRows = scala.collection.mutable.ArrayBuffer.from(rows)
      requireUniqueIds(newRows.map(_._2).toSeq, shard)
      val oldIds = oldRows.map(_._2).toSet
      newRows.foreach(r => require(!oldIds(r._2),
        s"shard $shard: vec_id ${r._2} already in the store"))
      val ids = (oldRows.map(_._2) ++ newRows.map(_._2)).toArray
      val vecs = (oldRows.map(_._3.toArray) ++
        newRows.map(_._3.toArray)).toArray
      val g = new Graph(ids, vecs)
      val local = ids.zipWithIndex.toMap
      oldRows.zipWithIndex.foreach { case ((_, _, _, level, nbrs), li) =>
        g.levels(li) = level
        // deleted-node tolerance: see the dangling-id note in
        // materializeGraph
        g.adj(li) = nbrs.map(layer => scala.collection.mutable
          .ArrayBuffer(layer.flatMap(local.get): _*)).toArray
      }
      g.entry =
        if (oldRows.isEmpty) -1
        else oldRows.indices.minBy(i => (-g.levels(i), ids(i)))
      insertNodes(g, oldRows.size, m, efConstruction)
      ids.indices.iterator.map { i =>
        (shard, ids(i), g.vecs(i).toSeq, g.levels(i),
          g.adj(i).toSeq.map(_.toSeq.map(ids(_)).sorted))
      }
    }
  }

  /** Approximate cosine top-k: fan the query out to every shard graph,
    * merge on the audit-sized union. Output (vec_id, cos) with the
    * engine-standard 1e-6-rounded cosine, ordered (cos desc, vec_id) —
    * drop-in for [[Similarity.recallAudit]]'s approx side.
    */
  def neighbors(store: DataFrame, query: Array[Double], k: Int,
                efSearch: Int = 48, parallelism: Int = 32): DataFrame = {
    require(k >= 1 && efSearch >= k,
      s"need efSearch >= k >= 1, got k=$k efSearch=$efSearch")
    val spark = store.sparkSession
    import spark.implicits._
    perShard[(Long, Double)](store, parallelism) { (_, g) =>
      searchGraph(g, query, efSearch).iterator.map {
        case (dd, li) => (g.ids(li), 1.0 - dd)
      }
    }.toDF("vec_id", "cos")
      .select(col("vec_id"), round(col("cos"), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Top-k cosine neighbors for a DISTRIBUTED FRAME of probes — the
    * query-SERVING surface completing the index lifecycle (build, admit,
    * compact, and now batch-query continuously): `probes` = (probe_id,
    * embedding) of any size, each graph-searched against every live
    * shard, per-(probe, shard) candidates re-scored with the exact
    * cosine and merged to the per-probe top-k (cos desc, vec_id tie) by
    * one probe-keyed window. Unlike [[neighbors]] (one query, global
    * sort) this serves a whole batch in one pass, and the probe set is
    * a frame — shuffled, never collected — so it can be a stream's
    * micro-batch or another table.
    *
    * Scale shape: probes replicate once per live shard (|batch|·S rows —
    * batches are query-sized, not corpus-sized, so this is the right
    * trade for serving; corpus-sized probe sets belong to
    * [[nearDupPairsRouted]]); graph rows are never replicated and each
    * task holds one shard graph at a time ([[pairStream]]'s streaming
    * contract via the same scan core). The candidate exchange into the
    * top-k window is ≤ |batch|·S·efSearch rows of (id, id, cos).
    *
    * Output: (probe_id, vec_id, cos, rank), rank 1..k per probe,
    * engine-standard 1e-6-rounded cosine. Zero-norm probes return no
    * rows (cosine undefined — the kernel convention). `probe_id` lives
    * in its own namespace: a probe is NOT excluded from matching a
    * stored vector with the same id.
    */
  def batchNeighbors(store: DataFrame, probes: DataFrame, k: Int,
                     efSearch: Int = 64, parallelism: Int = 32): DataFrame =
    serve(store, probes, None, k, efSearch, parallelism)

  /** FILTERED batch ANN serving — attribute-predicated top-k ("nearest
    * neighbors WHERE lang = 'en'"), the standard vector-DB surface that
    * post-filtering k results cannot provide (a selective predicate
    * post-filters k hits down to near-zero). The predicate arrives
    * PRE-EVALUATED as `allowed` — a frame whose `vec_id` column is the
    * admissible set; evaluating it there keeps the predicate where
    * Catalyst can push it into the ATTRIBUTE table's scan, and this
    * side pays one equi-join (broadcast when the set is small, one
    * honest shuffle otherwise) to pin an `ok` flag on each graph row.
    * Inside each shard the predicate is pushed INTO the graph search
    * ([[searchLayer]]'s `allow` array, the one search kernel):
    * traversal unrestricted — paths to allowed nodes cross disallowed
    * regions — while an allowed-only result heap collects the
    * best-allowed over the whole visited set. Search cost equals the
    * unfiltered search's; recall within the allowed subset decays once
    * selectivity drops below ~1/efSearch — raise `efSearch`
    * proportionally to 1/selectivity (the knob every filtered-HNSW
    * deployment documents).
    *
    * Output contract is [[batchNeighbors]]'s — (probe_id, vec_id, cos,
    * rank), rank 1..k over allowed nodes only; probes with fewer than k
    * allowed reachable neighbors return the rows that exist.
    */
  def batchNeighborsFiltered(store: DataFrame, probes: DataFrame,
                             allowed: DataFrame, k: Int,
                             efSearch: Int = 64,
                             parallelism: Int = 32): DataFrame =
    serve(store, probes, Some(allowed), k, efSearch, parallelism)

  /** The one serving core behind [[batchNeighbors]] (`allowed` None:
    * every graph row flagged `ok`, no join) and [[batchNeighborsFiltered]]
    * (the flag pinned by one left equi-join on the admissible ids).
    */
  private def serve(store: DataFrame, probes: DataFrame,
                    allowed: Option[DataFrame], k: Int, efSearch: Int,
                    parallelism: Int): DataFrame = {
    require(k >= 1 && efSearch >= k && parallelism >= 1,
      s"need efSearch >= k >= 1, got k=$k efSearch=$efSearch " +
        s"parallelism=$parallelism")
    val spark = store.sparkSession
    import spark.implicits._
    val rows = store.select(col("shard"), col("vec_id"), col("vec"),
      col("level"), col("nbrs"))
    val st = graft.CacheRegistry.persist(allowed.fold(
      rows.withColumn("ok", lit(true))) { a =>
      val okIds = a.select(col("vec_id")).distinct()
        .withColumn("__ok", lit(true))
      rows.join(okIds, Seq("vec_id"), "left")
        .select(col("shard"), col("vec_id"), col("vec"), col("level"),
          col("nbrs"), coalesce(col("__ok"), lit(false)).as("ok"))
    })
    val shardIds = st.select(col("shard")).distinct()
    val nShards = shardIds.count()
    if (nShards == 0L)
      return spark.emptyDataset[(Long, Long, Double, Int)]
        .toDF("probe_id", "vec_id", "cos", "rank")
    val pr0 = probes.select(col("probe_id").as("vec_id"),
      col("embedding").cast("array<double>").as("vec"))
    requireCleanProbes(pr0,
      st.select(size(col("vec"))).head().getInt(0))
    val numParts = math.max(parallelism, math.min(nShards, 4096L).toInt)
    val pr = asProbes(pr0.crossJoin(broadcast(shardIds)))
    rankTopK(batchScan(st, pr, numParts, efSearch), k)
  }

  /** Graph row + its allow flag — the one wire shape of every scan.
    * Unfiltered callers flag every row `ok`; filtered and tombstoned
    * ones flag the rows a result may return.
    */
  private[graft] type FNode =
    (Long, Long, Seq[Double], Int, Seq[Seq[Long]], Boolean)

  /** Union the flagged graph rows (shard, vec_id, vec, level, nbrs, ok)
    * with [[asProbes]] rows (level = −1, each already carrying the shard
    * it must search; their `ok` is never read), one hash exchange on
    * `shard` and one in-partition sort putting each shard's graph before
    * its probes — the input shape of [[shardScan]].
    */
  private def scanInput(graph: DataFrame, probes: DataFrame,
                        numParts: Int): Dataset[FNode] = {
    val spark = graph.sparkSession
    import spark.implicits._
    graph.unionByName(probes.withColumn("ok", lit(false)))
      .repartition(numParts, col("shard"))
      .sortWithinPartitions(col("shard"),
        (col("level") < 0).cast("int"), col("vec_id"))
      .as[FNode]
  }

  /** Candidate scan shared by [[batchNeighbors]],
    * [[batchNeighborsFiltered]] and the geo store's routed serving
    * ([[HnswGeoStore.batchNeighbors]]): [[scanInput]]'s exchange + sort,
    * [[shardScan]]'s lazy one-graph-at-a-time pass, exact cosine
    * re-score, 1e-6 rounding. Out: (probe_id, vec_id, cos) candidates
    * over `ok` nodes — ≤ efSearch per (probe, shard) pair.
    */
  private[operators] def batchScan(graph: DataFrame, probes: DataFrame,
                                   numParts: Int,
                                   efSearch: Int): DataFrame = {
    val spark = graph.sparkSession
    import spark.implicits._
    scanInput(graph, probes, numParts)
      .mapPartitions { rows =>
        shardScan(rows) { (g, allow, pid, q, nq) =>
          if (nq == 0.0 || g.n == 0) Iterator.empty
          else searchGraph(g, q, efSearch, allow).iterator.collect {
            case (_, li) if g.norms(li) != 0.0 =>
              (pid, g.ids(li), exactCos(g, q, nq, li))
          }
        }
      }
      .toDF("probe_id", "vec_id", "cos")
      .select(col("probe_id"), col("vec_id"), round(col("cos"), 6).as("cos"))
  }

  /** The per-probe top-k cut over [[batchScan]] candidates: rank 1..k by
    * (cos desc, vec_id tiebreak) under one probe-keyed window.
    */
  private[operators] def rankTopK(cands: DataFrame, k: Int): DataFrame =
    cands
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("probe_id"))
          .orderBy(col("cos").desc, col("vec_id").asc)))
      .filter(col("rank") <= k)

  /** The streaming task body of every near-dup pair scan ([[pairScan]]):
    * rows arrive SORTED by (shard, role, vec_id) — graph rows (level ≥ 0)
    * of a shard first, then that shard's probes (level = −1) — and are
    * consumed as a one-pass lazy stream: each shard's graph is
    * materialized (bounded by the shard sizing policy), its probes are
    * then pulled ONE AT A TIME from the iterator and searched, and the
    * graph is dropped before the next shard's rows are touched. A task
    * therefore holds AT MOST one shard graph plus one in-flight probe,
    * regardless of how many (shard × probe) groups hash into its
    * partition — the memory contract HnswSpec pins by feeding an
    * instrumented iterator.
    *
    * Graph rows flagged `ok = false` (a tombstoned node) stay ROUTABLE —
    * traversal walks their edges exactly as live nodes', so recall does
    * not narrow with the deleted fraction — but the result heap never
    * returns one ([[searchLayer]]'s `allow`).
    *
    * Emitted candidates are re-scored with the exact cosine (the block
    * route's arithmetic: sequential dot, norm-product divide) and
    * prefiltered at `margin` = threshold − 5e-7 (half an ulp of the 1e-6
    * rounding; the contractual filter on the ROUNDED value happens in
    * the caller).
    */
  private[graft] def pairStream(rows0: Iterator[FNode], efSearch: Int,
                                margin: Double)
      : Iterator[(Long, Long, Double)] =
    shardScan(rows0) { (g, allow, pid, q, nq) =>
      if (nq == 0.0 || g.n == 0) Iterator.empty
      else searchGraph(g, q, efSearch, allow).iterator.flatMap {
        case (_, li) =>
          val cid = g.ids(li)
          if (cid == pid || g.norms(li) == 0.0) Iterator.empty
          else {
            val cos = exactCos(g, q, nq, li)
            if (cos >= margin)
              Iterator.single((math.min(pid, cid), math.max(pid, cid), cos))
            else Iterator.empty
          }
      }
    }

  /** The lazy shard-scan skeleton behind [[batchScan]] and
    * [[pairStream]]: materialize ONE shard's graph (and its parallel
    * allow array) from the sorted iterator, stream that shard's probes
    * one at a time through `f`, drop the graph, move to the next shard.
    * The allow array is None when every graph row of the shard is `ok` —
    * read from the shard's own flags — so unfiltered scans search with
    * the plain result heap.
    */
  private def shardScan[T](rows0: Iterator[FNode])(
      f: (Graph, Option[Array[Boolean]], Long, Array[Double], Double) =>
        Iterator[T]): Iterator[T] = {
    shardRuns(rows0)(_._1) { (shard, rows) =>
      val gRows = scala.collection.mutable.ArrayBuffer.empty[Node]
      val okBuf = scala.collection.mutable.ArrayBuffer.empty[Boolean]
      while (rows.hasNext && rows.head._4 >= 0) {
        val r = rows.next()
        gRows += ((r._1, r._2, r._3, r._4, r._5))
        okBuf += r._6
      }
      val g = materializeGraph(gRows, shard)
      val allow = if (okBuf.forall(identity)) None else Some(okBuf.toArray)
      rows.flatMap { case (_, pid, pv, _, _, _) =>
        val q = pv.toArray
        f(g, allow, pid, q, norm(q))
      }
    }
  }

  /** Exact cosine of probe (q, nq) against stored node `li` — the block
    * route's arithmetic: sequential-order dot, norm-product divide.
    */
  private[operators] def exactCos(g: Graph, q: Array[Double], nq: Double,
                       li: Int): Double = {
    val v = g.vecs(li)
    var dot = 0.0
    var k = 0
    while (k < q.length) { dot += q(k) * v(k); k += 1 }
    dot / (nq * g.norms(li))
  }

  /** Shuffle-and-scan tail of every near-dup route: [[scanInput]]'s
    * exchange + sort of the flagged graph rows and the probes, then
    * [[pairStream]]'s lazy scan. The trailing `distinct()` —
    * pair-count-sized, the only other global exchange — collapses the
    * ≤ 2 directions each unordered pair can be found in (both directions
    * compute bitwise-identical cosines: commutative products, same
    * accumulation order).
    */
  private[operators] def pairScan(graph: DataFrame, probes: DataFrame,
                                  numParts: Int, threshold: Double,
                                  efSearch: Int): DataFrame = {
    val spark = graph.sparkSession
    import spark.implicits._
    val margin = threshold - 5e-7
    scanInput(graph, probes, numParts)
      .mapPartitions(it => pairStream(it, efSearch, margin))
      .toDF("i", "j", "cos")
      .select(col("i"), col("j"), round(col("cos"), 6).as("cos"))
      .filter(col("cos") >= threshold)
      .distinct()
  }

  private[operators] def asProbes(df: DataFrame): DataFrame =
    df.select(col("shard"), col("vec_id"), col("vec"),
      lit(-1).as("level"), typedLit(Seq.empty[Seq[Long]]).as("nbrs"))

  /** The measured filtered-serving recall calibration (BASELINE.md
    * "Filtered-serving recall vs selectivity"): recall@10 of
    * [[batchNeighborsFiltered]] against exact brute force over the
    * ALLOWED subset, keyed by PER-SHARD node count — the quantity the
    * sweep proved the curve transfers on
    * (holding per-shard size, the ×100 curve dominates ×10 at every
    * operating point; letting per-shard size grow 10× roughly halves
    * recall). Rows: (efSearch → recall at selectivity 1/3, 1/10, 1/100).
    */
  private val EfCalibration: Seq[(Long, Seq[(Int, Seq[Double])])] = Seq(
    // ~2.5k nodes/shard (×10 sweep, 19,950 vectors / 8 shards)
    2500L -> Seq(
      16 -> Seq(0.492, 0.420, 0.268),
      32 -> Seq(0.688, 0.602, 0.446),
      64 -> Seq(0.850, 0.832, 0.622),
      128 -> Seq(0.946, 0.942, 0.822),
      256 -> Seq(0.992, 0.990, 0.958),
      512 -> Seq(1.000, 1.000, 0.994)),
    // ~25k nodes/shard (×100 sweep, shards PINNED at 8)
    25000L -> Seq(
      64 -> Seq(0.485, 0.414, 0.293),
      128 -> Seq(0.659, 0.594, 0.439),
      256 -> Seq(0.820, 0.775, 0.629),
      512 -> Seq(0.938, 0.908, 0.807)))

  private val EfCalibrationSelectivities = Seq(1.0 / 3, 1.0 / 10, 1.0 / 100)

  /** The MEASURED ef-sizing rule as an API — the smallest `efSearch`
    * whose calibrated filtered-serving recall meets `targetRecall` at
    * `selectivity`, for a store whose shards hold `nodesPerShard`
    * vectors ([[EfCalibration]] — round 15's sweep, interpolated
    * CONSERVATIVELY: the next-smaller calibrated selectivity bucket and
    * the next-larger calibrated shard size answer for anything between
    * operating points). None means the target is OUTSIDE the calibrated
    * envelope — no measured ef reaches it — and the companion knob is
    * per-shard size, not ef: rebuild with more shards
    * ([[defaultShards]]'s `maxNodesPerShard` bound; the sweep showed
    * recall is governed by per-shard size, so shrinking shards moves
    * the whole curve up where raising ef past the envelope just burns
    * evals).
    */
  def recommendEf(selectivity: Double, targetRecall: Double,
                  nodesPerShard: Long): Option[Int] = {
    require(selectivity > 0.0 && selectivity <= 1.0,
      s"selectivity=$selectivity must be in (0, 1]")
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall=$targetRecall must be in (0, 1]")
    require(nodesPerShard >= 1, s"nodesPerShard=$nodesPerShard must be >= 1")
    // conservative selectivity bucket: recall rises with selectivity,
    // so the LARGEST calibrated selectivity <= the request bounds its
    // recall from below (the list is descending — first match wins);
    // anything rarer than 1/100 is outside the envelope
    val bucket = EfCalibrationSelectivities
      .indexWhere(_ <= selectivity + 1e-12)
    if (bucket < 0) None
    // conservative shard-size bucket: the next-LARGER calibrated size
    // (bigger shards always read lower — the sweep's transfer rule)
    else EfCalibration.find(_._1 >= nodesPerShard).flatMap {
      case (_, grid) =>
        grid.collectFirst {
          case (ef, recalls) if recalls(bucket) >= targetRecall => ef
        }
    }
  }

  /** Loud null/NaN/raggedness guard on a probe frame — the [[Dedup]]
    * admission-side discipline mirrored onto the SERVING paths: a null
    * probe embedding NPEs at `pv.toArray` inside a task, a wrong-dim
    * probe fails deep in the dot loop, and a NaN component turns every
    * distance NaN, so the search "ranks" an arbitrary walk — for a
    * continuous serving stream one poison probe would kill (or silently
    * garble) its whole micro-batch. One batch-sized aggregate before the
    * probes ever meet a graph — even an empty one — naming the actual
    * problem.
    */
  private[operators] def requireCleanProbes(pr: DataFrame,
                                            storeDim: Int): Unit = {
    val s = pr.agg(
      sum(when(col("vec").isNull, 1L).otherwise(0L)).as("nulls"),
      min(size(col("vec"))).as("dmin"),
      max(size(col("vec"))).as("dmax"),
      sum(when(exists(col("vec"), isnan), 1L).otherwise(0L)).as("nans"))
      .head()
    if (!s.isNullAt(0)) { // empty probe batch: nothing to check
      require(s.getLong(0) == 0L,
        s"${s.getLong(0)} null probe embeddings — drop or impute before " +
          "searching")
      require(s.getInt(1) == storeDim && s.getInt(2) == storeDim,
        s"probe embedding dims [${s.getInt(1)}, ${s.getInt(2)}] do not " +
          s"match the store's dim $storeDim")
      require(s.getLong(3) == 0L,
        s"${s.getLong(3)} probe embeddings carry NaN components — drop " +
          "or impute before searching")
    }
  }

  /** Corpus-wide embedding near-duplicate pairs by EXHAUSTIVE shard
    * fan-out over a standing graph index: every stored vector is
    * graph-searched against every live shard, so recall does not depend
    * on where the id-hash happened to place a vector's duplicates.
    * Output is [[Similarity.cosineNearDups]]'s exact (i < j, cos) shape
    * (candidates re-scored with the exact cosine; precision 1.0 by
    * construction).
    *
    * Scale shape — HONESTLY quadratic in shard count: probes replicate
    * once per live shard (n·S shuffled probe rows; graph rows are NOT
    * replicated — each stays in its own shard's partition and probes
    * stream against it one at a time, [[pairStream]]'s memory contract).
    * Under the [[defaultShards]] policy S grows ∝ n, so n·S is O(n²/K):
    * the right trade for an audit-scale graph that is already built (it
    * reuses the built shards, and graph walks replace n²/2 exact dot
    * products inside each task), but NOT the 100 TB default — that is
    * [[nearDupPairsRouted]], whose geometry sharding routes each probe
    * to a BOUNDED nProbe cells for an n·nProbe scan. Use this route
    * when the index already exists as a [[build]]/[[add]] graph or when
    * the corpus is adversarially unclustered (near-isotropic embeddings
    * at LOW thresholds — the regime where geometry routing's recall
    * decays; BASELINE's routing envelope table).
    *
    * A probe's near-dups are capped at `efSearch` PER SHARD; graph
    * search is approximate — both bounds are measured, not assumed
    * (HnswSpec's recall line, BASELINE's rehearsal row).
    *
    * @param store  [[build]]/[[add]] output — id-unique rows (the
    *               admission contract)
    */
  def nearDupPairs(store: DataFrame, threshold: Double, efSearch: Int = 64,
                   parallelism: Int = 32): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold=$threshold must be in (0, 1]")
    require(efSearch >= 1 && parallelism >= 1,
      s"bad params: efSearch=$efSearch parallelism=$parallelism")
    val st = graft.CacheRegistry.persist(
      store.select(col("shard"), col("vec_id"), col("vec"), col("level"),
        col("nbrs")))
    val shardIds = st.select(col("shard")).distinct()
    val nShards = shardIds.count()
    if (nShards == 0L) return emptyPairs(store.sparkSession)
    // one partition per shard up to a cap: a task materializes shards
    // ONE AT A TIME either way (pairStream), but partition-per-shard
    // keeps tasks small enough for AQE to balance skewed shards
    val numParts = math.max(parallelism, math.min(nShards, 4096L).toInt)
    val probes = asProbes(st.select(col("vec_id"), col("vec"))
      .crossJoin(broadcast(shardIds)))
    pairScan(st.withColumn("ok", lit(true)), probes, numParts, threshold,
      efSearch)
  }

  /** Fixed probe fan-out for [[nearDupPairsRouted]] — the constant that
    * makes the routed scan linear: a probe searches min(nProbe, k)
    * cells no matter how many cells the corpus needs, so shuffle volume
    * is n·nProbe while the exhaustive route's n·S grows quadratically
    * under shards ∝ corpus. 8 is the measured operating point on the
    * rotation-replica rehearsal corpus (BASELINE's routing envelope:
    * recall ≥ 0.999 for pair cosines ≥ 0.98 at 400 cells — 50× cell
    * pruning — decaying to ~0.90 at pair cosine 0.82); raise it, or
    * fall back to [[nearDupPairs]], for LOW thresholds on unclustered
    * corpora.
    */
  val DefaultNearDupNProbe = 8

  /** The measured lower edge of [[nearDupPairsRouted]]'s recall envelope
    * (BASELINE's routing-envelope table: recall ≥ 0.999 for pair cosines
    * ≥ 0.98 at 50× cell pruning, ~0.90 by pair cosine 0.82, decaying
    * further below): under this pair-cosine threshold, geometry routing
    * on a weakly clustered corpus loses recall BY CONSTRUCTION — the
    * information-free-partitioning wall, not a bug — and there is no
    * runtime signal. [[Dedup.hnswNearDupPairs]]'s auto route therefore
    * refuses to route silently below it when cells > nProbe would make
    * the pruning real.
    */
  val RoutedRecallFloor = 0.9

  /** The measured LOSSLESS edge of the routing envelope (recall ≥ 0.999
    * for pair cosines ≥ 0.98 at 50× cell pruning). Between
    * [[RoutedRecallFloor]] and this edge the envelope is already
    * decaying — [[Dedup.hnswNearDupPairs]]'s auto route still routes
    * there (the decay is small and the fan-out saving is the whole
    * point), but WARNS so the accepted loss is visible instead of
    * silent (ADVICE r13).
    */
  val RoutedRecallLossless = 0.98

  /** Corpus-wide embedding near-duplicate pairs through a
    * GEOMETRY-SHARDED graph index ([[buildGeo]]) — the 100 TB
    * semantic-dedup default: each vector probes only its
    * min(`nProbe`, k) nearest IVF cells ([[IVF.probeExpr]] — a
    * per-row explode, never a shard cross-join), searches those cells'
    * graphs, and candidates are re-scored with the exact cosine into
    * [[Similarity.cosineNearDups]]'s (i < j, cos) shape.
    *
    * Scale shape — LINEAR in the corpus: shuffle volume is n·nProbe
    * probe rows + n graph rows (graph rows are never replicated; probes
    * stream one at a time against each cell graph — [[pairStream]]'s
    * memory contract, one cell graph per task at a time). Search cost is
    * n·nProbe walks of ~efSearch·M·log(n/k) evals. Against the
    * exhaustive route's n·S rows with S ∝ n, this is the difference
    * between a scan that runs at 1e9 vectors and one that doesn't
    * (BASELINE's ×10/×100 rehearsal row).
    *
    * Recall envelope — geometry routing prunes by cell locality, so a
    * pair is searched iff either endpoint's cell is within the other's
    * nProbe nearest (found misses are impossible: precision 1.0 by
    * exact re-score). Near-identical pairs — the SemDeDup regime,
    * pair cosine ≥ 0.95 — co-locate with near-certainty (measured ≥
    * 0.999 at 50× pruning); LOW thresholds on near-isotropic corpora
    * decay (the same information-free-partitioning wall documented on
    * [[IVF.DefaultProbeFraction]]) — there, raise nProbe toward k or
    * use [[nearDupPairs]]. With nProbe ≥ k (every cell probed — the
    * small-corpus case) routing is exhaustive by construction and the
    * envelope question vanishes.
    *
    * @param store  a [[buildGeo]] output for `index` — same index, or
    *               the sampled cell-assignment guard fails loudly (the
    *               [[add]] shard-guard discipline)
    */
  def nearDupPairsRouted(store: DataFrame, index: IVF.Index,
                         threshold: Double,
                         nProbe: Int = DefaultNearDupNProbe,
                         efSearch: Int = 64,
                         parallelism: Int = 32,
                         knownLayout: Option[GeoLayout] = None,
                         routing: GeoRouting = Map.empty,
                         nProbeSub: Int = 0): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold=$threshold must be in (0, 1]")
    require(nProbe >= 1 && efSearch >= 1 && parallelism >= 1,
      s"bad params: nProbe=$nProbe efSearch=$efSearch " +
        s"parallelism=$parallelism")
    requireGeoStore(store, index)
    val st = graft.CacheRegistry.persist(
      store.select(col("shard"), col("vec_id"), col("vec"), col("level"),
        col("nbrs")))
    // callers that built (or loaded) the store with the layout in hand
    // pass it — sparing unsplit stores an unconditional full-store
    // groupBy whose answer is always empty (ADVICE r17)
    val layout = knownLayout.getOrElse(layoutOfStore(st, index))
    val numParts = math.max(parallelism, math.min(index.k, 4096))
    val probes = asProbes(fanToSubShards(
      st.select(col("vec_id"), col("vec"))
        .withColumn("__cell",
          explode(IVF.probeExpr(col("vec"), index, nProbe))),
      "__cell", layout, index.k, routing, nProbeSub).drop("__cell"))
    pairScan(st.withColumn("ok", lit(true)), probes, numParts, threshold,
      efSearch)
  }

  /** Cross-corpus near-duplicate pairs through the geometry-routed
    * index — the CONTAMINATION route for corpus-sized eval sets. The
    * exact [[Similarity.crossNearDups]] broadcasts its eval side (q67's
    * shape — right when eval is audit-sized, impossible when eval is
    * itself a corpus); here the TRAIN corpus stands as a [[buildGeo]]
    * index and each EVAL vector probes only its min(nProbe, k) nearest
    * cells ([[IVF.probeExpr]] explode — never a shard cross-join), so
    * shuffle volume is n_eval·nProbe probe rows and the train side never
    * replicates: both sides scale to corpus size.
    *
    * Output: canonical (i < j, cos) pairs at cos ≥ threshold with the
    * exact re-score (precision 1.0 by construction); recall follows the
    * routing envelope ([[RoutedRecallFloor]] — at nProbe ≥ k routing is
    * exhaustive by construction, the small-index case q195 oracles
    * bitwise). Id namespaces MUST be disjoint — a shared id would
    * silently self-exclude from the pair scan, so it is checked loudly
    * (one key-only equi-join, the only extra exchange).
    */
  def crossNearDupsRouted(store: DataFrame, index: IVF.Index,
                          probes: DataFrame, threshold: Double,
                          nProbe: Int = DefaultNearDupNProbe,
                          efSearch: Int = 64,
                          parallelism: Int = 32,
                          knownLayout: Option[GeoLayout] = None)
      : DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold=$threshold must be in (0, 1]")
    require(nProbe >= 1 && efSearch >= 1 && parallelism >= 1,
      s"bad params: nProbe=$nProbe efSearch=$efSearch " +
        s"parallelism=$parallelism")
    requireGeoStore(store, index)
    val st = graft.CacheRegistry.persist(
      store.select(col("shard"), col("vec_id"), col("vec"), col("level"),
        col("nbrs")))
    val dim = st.select(size(col("vec"))).take(1)
    if (dim.isEmpty) return emptyPairs(store.sparkSession)
    val pr0 = graft.CacheRegistry.persist(
      probes.select(col("probe_id").as("vec_id"),
        col("embedding").cast("array<double>").as("vec")))
    requireCleanProbes(pr0, dim.head.getInt(0))
    val shared = st.select(col("vec_id"))
      .join(pr0.select(col("vec_id")), Seq("vec_id")).limit(1).count()
    require(shared == 0L,
      "store and probe id namespaces overlap — a shared id would " +
        "silently self-exclude from the pair scan; re-key one side")
    val prs = asProbes(fanToSubShards(
      pr0.withColumn("__cell",
        explode(IVF.probeExpr(col("vec"), index, nProbe))),
      "__cell", knownLayout.getOrElse(layoutOfStore(st, index)),
      index.k))
    val numParts = math.max(parallelism, math.min(index.k, 4096))
    pairScan(st.withColumn("ok", lit(true)), prs, numParts, threshold,
      efSearch)
  }

  /** Driver-side sampled guard that `store` is a [[buildGeo]] output for
    * THIS `index` — a [[ShardCheckSample]]-row re-assign check ([[add]]'s
    * shard-guard discipline: a wrong modulus/index moves nearly every
    * row, so a bounded sample catches it without a second store pass).
    * Shared by [[nearDupPairsRouted]], [[addGeo]], and the segmented
    * [[HnswGeoStore]].
    */
  private[operators] def requireGeoStore(store: DataFrame,
                                         index: IVF.Index): Unit = {
    // cell = shard % k under the sub-shard layout ([[GeoLayout]]);
    // an unsplit store's shard ids sit in [0, k), where % k is identity
    val badSample = store.select(col("shard"), col("vec"))
      .limit(ShardCheckSample)
      .filter(IVF.assignExpr(col("vec"), index).cast("long") =!=
        pmod(col("shard"), lit(index.k.toLong)))
      .count()
    require(badSample == 0L,
      s"store was not built with this index: $badSample of a " +
        s"$ShardCheckSample-row sample re-assign to a different cell — " +
        "probes would be routed to cells their duplicates don't live in " +
        "(pass the buildGeo-time index)")
  }

  private[operators] def emptyPairs(spark: org.apache.spark.sql.SparkSession)
      : DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Double)].toDF("i", "j", "cos")
  }

  /** The honesty line for BASELINE: per-shard distance-evaluation counts
    * for one search — (shard, n_nodes, dist_evals). Graph search must
    * touch a vanishing fraction of each shard as shards grow; this is
    * the measurement that claim rests on.
    */
  def searchStats(store: DataFrame, query: Array[Double],
                  efSearch: Int = 48, parallelism: Int = 32): DataFrame = {
    val spark = store.sparkSession
    import spark.implicits._
    perShard[(Long, Long, Long)](store, parallelism) { (shard, g) =>
      g.evals = 0L
      searchGraph(g, query, efSearch)
      Iterator((shard, g.n.toLong, g.evals))
    }.toDF("shard", "n_nodes", "dist_evals")
  }
}
