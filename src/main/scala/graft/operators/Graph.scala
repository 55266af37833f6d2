package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.GraftFunctions

/** Iterative graph analytics over edge DataFrames — the entity-importance
  * half of link analysis ([[Dedup.connectedComponents]] is the
  * partitioning half).
  *
  * [[pageRank]] runs the classic damped random-surfer recurrence
  * (Brin & Page 1998) for a FIXED number of iterations in SCALED-INTEGER
  * arithmetic: ranks are longs at `scale` units per node of initial mass,
  * per-edge shares are floor divisions, and the damping factor is the
  * rational 85/100 — so every sum is order-free, the result is
  * bit-identical under any partitioning, and an engine replaying the same
  * recurrence over the same edges agrees exactly (q109's oracle unrolls
  * the five iterations as chained CTEs). Floating-point PageRank cannot
  * make that promise: its per-node sums accumulate in whatever order the
  * shuffle delivers.
  *
  * Per iteration (all keyed joins/aggregations, nothing collected):
  *   share(u)  = r(u) div outdeg(u)            — u with out-edges
  *   inflow(v) = Σ_{u→v} share(u)              — one shuffle keyed by dst
  *   dmass     = Σ_{outdeg(u)=0} r(u)          — dangling mass, one row
  *   r'(v)     = 15·scale div 100 + (85·(inflow(v) + dmass div N)) div 100
  *
  * Each generation is cut from its lineage by [[LineageCut]], as
  * [[Dedup.connectedComponents]] cuts label tables: a reliable checkpoint
  * when `sc.setCheckpointDir` is set (cluster-safe: an executor loss
  * mid-iteration replays from files, not from the whole prefix of
  * iterations), else an eager `localCheckpoint`; the superseded
  * generation's blocks/files are freed immediately. One job per
  * iteration.
  *
  * Overflow bound: `85 · N · scale` must fit a long — at the default
  * scale=10⁹ that is ~10⁸ nodes; larger graphs pass a smaller `scale`
  * (rank resolution trades against node count). Enforced, not assumed.
  */
object Graph {

  /** @param edges directed edges with `src` and `dst` columns (integral
    *              node ids); duplicates are collapsed before ranking
    * @return (node, r) — every node's integer rank after `iterations`
    *         rounds, Σr ≈ N·scale minus deterministic floor losses
    */
  /** Exact triangle count via degree-ordered edge orientation
    * (Suri & Vassilvitskii 2011, "Counting Triangles and the Curse of the
    * Last Reducer") with array-intersection closure — no iteration, no
    * collect, and no materialized wedge table.
    *
    * Orienting every undirected edge from its lower-(degree, id) endpoint
    * to the higher one bounds each node's OUT-degree by O(√m), so the
    * superlinear step fans out on √m instead of on the raw degree of hub
    * nodes. That is the difference between "finishes at 100 TB" and "the
    * last reducer gets the celebrity node's 10⁸ wedges". Closure never
    * materializes the Σdeg² wedge rows: each node's out-neighbors become
    * ONE sorted array (n rows, Σ = m values), each oriented edge (u, x)
    * picks up both endpoints' arrays, and its triangle contribution is
    * `size(array_intersect)` — a triangle {u < x < w} by rank is counted
    * exactly once, on its unique lowest-rank EDGE (u, x), as the common
    * out-neighbor w. The joins are keyed m-vs-n; the n-row adjacency side
    * is orders of magnitude smaller than the edge side and broadcasts
    * under AQE at moderate n, degrading to a plain shuffled hash join —
    * never a wedge-scale shuffle — beyond that. Pure integer counting —
    * bit-identical on any partitioning, replayable by any engine that
    * agrees on the ties (the (degree, node-id) rank is a total order, so
    * ties cannot differ).
    *
    * @param edges undirected edges as `src`/`dst` columns (integral ids);
    *              duplicates, reversals, and self-loops are collapsed
    * @return one row: `n_triangles` (long)
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val e = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val deg = e.select(col("a").as("node"))
        .union(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val oriented = e
        .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
        .select(
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
            col("a")).otherwise(col("b")).as("u"),
          when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
            col("b")).otherwise(col("a")).as("x"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val adj = oriented.groupBy(col("u").as("node"))
          .agg(sort_array(collect_list(col("x"))).as("nbrs"))
        val counted = oriented
          .join(adj.select(col("node").as("u"), col("nbrs").as("nu")), "u")
          .join(adj.select(col("node").as("x"), col("nbrs").as("nx")), "x")
          .select(size(array_intersect(col("nu"), col("nx"))).as("c"))
          .agg(coalesce(sum(col("c")), lit(0L)).as("n_triangles"))
        // force evaluation inside the persist scope, one local row
        val n = counted.collect().head.getLong(0)
        e.sparkSession.range(1).select(lit(n).as("n_triangles"))
      } finally oriented.unpersist(false)
    } finally e.unpersist(false)
  }

  def pageRank(edges: DataFrame, iterations: Int = 5,
               scale: Long = 1000000000L): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    require(scale >= 1000L, s"scale must be >= 1000, got $scale")
    // Pre-partition the loop's two standing inputs by their JOIN keys and
    // cache them with that distribution: InMemoryRelation reports the
    // child's outputPartitioning, so each iteration's edge join reuses the
    // cached layout instead of re-exchanging the (big) edge table 5×.
    val e = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outdeg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg"))
    // (node, outdeg|null) rides INSIDE every rank generation, so the loop
    // needs no per-iteration join against a degree table and the dangling
    // mass is a plain filter over columns already present.
    val nodesDeg = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .join(outdeg, Seq("node"), "left")
      .repartition(col("node"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = nodesDeg.count()
      require(n > 0, "pageRank needs a non-empty edge set")
      require(n <= Long.MaxValue / scale / 100L,
        s"85*N*scale overflows a long at N=$n, scale=$scale — lower scale")
      val base = 15L * scale / 100L
      // dangling mass of generation 0 (all ranks = scale) costs one count
      // of the cached frame, not a job over the ranks
      var dmass = nodesDeg.filter(col("outdeg").isNull).count() * scale
      var ranks = LineageCut.cut(nodesDeg.withColumn("r", lit(scale)))
      for (k <- 1 to iterations) {
        val shares = ranks.filter(col("outdeg").isNotNull)
          .select(col("node").as("src"), expr("r div outdeg").as("share"))
        val inflow = e.join(shares, "src")
          .groupBy(col("dst").as("node")).agg(sum(col("share")).as("inflow"))
        // dangling share per node, exact driver-side integer division —
        // identical to the previous in-plan `dmass div n`. stable_lit_long
        // keeps ONE compiled stage across iterations even though the
        // constant changes every round.
        val dshare = GraftFunctions.stable_lit_long(dmass / n)
        // the NEXT generation's dangling mass falls out of the same job
        // that materializes the generation (Observation on the checkpoint
        // evaluation) — no separate broadcast-exchange job per iteration.
        val obs = org.apache.spark.sql.Observation(s"pr_dmass_$k")
        val prev = ranks
        val next = nodesDeg
          .join(inflow, Seq("node"), "left")
          .select(col("node"), col("outdeg"),
            (lit(85L) * (coalesce(col("inflow"), lit(0L)) + dshare))
              .as("num"))
          // num div 100L is INTEGER division — Column./ would detour
          // through doubles and lose exactness past 2^53
          .select(col("node"), col("outdeg"),
            (lit(base) + expr("num div 100L")).as("r"))
          .observe(obs,
            coalesce(sum(when(col("outdeg").isNull, col("r"))), lit(0L))
              .as("dmass"))
        ranks = LineageCut.cut(next)
        dmass = obs.get("dmass").asInstanceOf[Long]
        LineageCut.free(prev)
      }
      ranks.select(col("node"), col("r"))
    } finally {
      e.unpersist(false); nodesDeg.unpersist(false)
    }
  }

  /** Synchronous label propagation (Raghavan et al. 2007) for a FIXED
    * number of rounds — community detection as pure dataflow, the graph
    * partitioning that groups co-occurring entities (domains, products,
    * near-dup families) without a cluster-count parameter. Every node
    * starts labeled with its own id; each round every node adopts the
    * most frequent label among its NEIGHBORS, ties to the smallest label
    * — a TOTAL order, so rounds are deterministic on any engine or
    * partitioning, and the fixed round count sidesteps sync-LPA's
    * oscillation non-termination (communities stabilize in a few rounds;
    * the round count is the resolution knob, q109's fixed-iteration
    * discipline).
    *
    * Per round, ONE shuffle: edges join the label table on src (both
    * cached pre-partitioned by join key — the [[pageRank]] layout reuse),
    * neighbor labels count map-side-combined, the per-node argmax is a
    * keyed window over the counts. Generations are checkpoint-cut and
    * freed exactly like [[pageRank]]'s.
    *
    * Input edges are treated as DIRECTED adopt-from edges (`dst` adopts
    * from `src`); symmetrize first for undirected graphs. A node with no
    * in-edges keeps its current label each round (left-join + coalesce
    * onto the full node spine — one extra node-sized keyed join per
    * round), so source-only nodes neither vanish from the output nor
    * lose their outgoing votes. Returns (node, community) — community =
    * the adopted label after `rounds`.
    */
  def labelPropagation(edges: DataFrame, rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 20,
      s"rounds must be in [1, 20], got $rounds")
    val e = edges.select(col("src"), col("dst")).distinct()
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct()
      var labels = LineageCut.cut(nodes.withColumn("l", col("node")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("node"))
        .orderBy(col("cnt").desc, col("l").asc)
      for (_ <- 1 to rounds) {
        val prev = labels
        // Adopted labels exist only for nodes with in-degree > 0; the
        // left-join + coalesce keeps source-only nodes at their previous
        // label instead of silently dropping them (and their votes) from
        // round 2 on — the documented directed adopt-from contract. On a
        // symmetrized graph the adopted side covers every node and the
        // coalesce never fires, so undirected results are unchanged.
        val adopted =
          e.join(labels.select(col("node").as("src"), col("l")), "src")
            .groupBy(col("dst").as("node"), col("l"))
            .agg(count(lit(1)).as("cnt"))
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") === 1)
            .select(col("node"), col("l").as("__adopted"))
        labels = LineageCut.cut(
          prev.join(adopted, Seq("node"), "left")
            .select(col("node"),
              coalesce(col("__adopted"), col("l")).as("l")))
        LineageCut.free(prev)
      }
      labels.select(col("node"), col("l").as("community"))
    } finally e.unpersist(false)
  }
}
