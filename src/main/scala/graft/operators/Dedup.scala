package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Document deduplication for the LLM-data-pipeline surface: exact
  * (hash-groupBy), n-gram Jaccard (shingle-bucket join), MinHash+LSH
  * (shingle → minhash signature → band → bucket join → verify), and SimHash
  * (bit-signature → chunk-bucket join → Hamming verify).
  *
  * 100 TB plan shape: nothing here is all-pairs. Every candidate generator
  * is a shuffle-bucketed equi-join (on a shingle, an LSH band key, or a
  * SimHash chunk), so cost scales with bucket occupancy, not n². Two
  * defenses keep the bucketed joins honest at scale:
  *
  *  - the (doc_id, shingle) posting list is built ONCE and persisted —
  *    every consumer (signatures, set sizes, the verify stage) reuses the
  *    same materialization instead of re-running the explode+distinct;
  *  - shingles whose document frequency exceeds `maxDf` are dropped before
  *    any join. Text shingles are Zipf-distributed, a hot shingle's bucket
  *    costs O(df²) in the self-join, and a shingle present in thousands of
  *    documents carries no near-duplicate signal — capping is standard
  *    practice and bounds every bucket. The cap applies uniformly (to set
  *    sizes as well as intersections), so the reported Jaccard is the
  *    Jaccard of the capped shingle sets — deterministic, engine-agnostic
  *    semantics an oracle can replicate.
  */
object Dedup {

  /** Document frequency above which a shingle is considered background
    * noise and excluded from near-dup computation (see class doc).
    */
  val DefaultMaxShingleDf: Int = 1000

  /** Exact duplicate groups: one row per distinct text with its canonical
    * (minimum) doc_id and multiplicity. Plain hash aggregation — one
    * shuffle on the md5 key, map-side partial agg for free.
    */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(TextFunctions.md5Fingerprint(col("text")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("cnt"))

  /** Distinct (doc_id, shingle) pairs — the posting-list relation all
    * shingle-based dedup below builds on. Unbounded (no df cap, not
    * persisted); prefer [[postingList]] inside operators.
    */
  def docShingles(docs: DataFrame, n: Int = 3): DataFrame =
    graft.sources.Tables.ensureParallelism(docs)
      .filter(size(TextFunctions.tokens(col("text"))) >= n)
      .select(col("doc_id"), explode(TextFunctions.shingles(col("text"), n)).as("s"))
      .distinct()

  /** The shared, df-capped, persisted posting list. Persisted because every
    * caller consumes it at least twice (self-join sides + set sizes;
    * MinHash adds signatures and verify) — without the persist each
    * consumer re-runs the tokenize/explode/distinct shuffle from the scan.
    * MEMORY_AND_DISK: at 100 TB the posting list spills rather than OOMs.
    * Persisted frames are tracked in [[graft.CacheRegistry]]; call
    * `CacheRegistry.releaseAll()` when a batch is done with its dedup
    * results so long sessions don't accumulate an entry per invocation.
    */
  def postingList(docs: DataFrame, n: Int = 3,
                  maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    if (maxDf <= 0) return graft.CacheRegistry.persist(docShingles(docs, n))
    // Persist the raw list too: the df-count aggregation and the keep-join
    // below both consume it, and without the persist the cap would run the
    // tokenize/explode/distinct pipeline twice before capping even starts.
    val sh = graft.CacheRegistry.persist(docShingles(docs, n))
    val keep = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("s"))
    graft.CacheRegistry.persist(
      sh.join(keep, "s").select(col("doc_id"), col("s")))
  }

  /** (doc_id, capped shingle-set size) — computed off the persisted list. */
  private def setSizes(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))

  /** The posting list with each document's (capped) set size attached:
    * (doc_id, s, sz), persisted. Carrying `sz` on every posting row costs
    * one long per row but pays twice: the Jaccard size bound can prune
    * candidates INSIDE the self-join condition (before the groupBy
    * shuffle), and the final Jaccard needs no size re-join — sizes ride
    * the groupBy keys.
    */
  private def sizedPostingList(docs: DataFrame, n: Int, maxDf: Int): DataFrame = {
    val sh = postingList(docs, n, maxDf)
    graft.CacheRegistry.persist(sh.join(setSizes(sh), "doc_id"))
  }

  /** Jaccard ≥ t implies |A∩B| ≤ min(|A|,|B|) and |A∪B| ≥ max(|A|,|B|),
    * so jac ≤ min/max — any size-incompatible pair (min < t·max) is below
    * threshold BEFORE counting a single shingle. The bound is slackened by
    * an epsilon: t·max computed in doubles can round UP past an integer
    * min for a pair whose exact Jaccard equals the threshold, and pruning
    * such a pair would change behavior at the exact boundary. Looseness is
    * free — this is a pre-filter backed by the exact `jac ≥ threshold`
    * verification downstream. Applied inside join conditions to cut
    * candidates before they shuffle.
    */
  private[operators] def sizeCompatible(ni: org.apache.spark.sql.Column,
                             nj: org.apache.spark.sql.Column,
                             threshold: Double): org.apache.spark.sql.Column =
    ni.cast("double") >= lit(threshold) * nj - lit(1e-9) &&
      nj.cast("double") >= lit(threshold) * ni - lit(1e-9)

  /** Jaccard from intersection counts when both sizes already ride the
    * frame: (i, j, ni, nj, common) → (i, j, jac ≥ threshold).
    */
  private def jaccardInline(pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .withColumn("jac",
        col("common").cast("double") /
          (col("ni") + col("nj") - col("common")).cast("double"))
      .filter(col("jac") >= threshold)
      .select(col("i"), col("j"), col("jac"))

  /** Exact n-gram Jaccard near-duplicate pairs at `threshold`, computed as
    * a shingle-bucket self-join: pairs only form when they share at least
    * one (sub-cap) shingle, and `common` falls out of the join group count —
    * |A∩B| / (|A| + |B| − |A∩B|). The size bound ([[sizeCompatible]])
    * prunes hopeless pairs in the join condition itself, and sizes ride
    * the groupBy keys so no re-join is needed. Returns (i, j, jac) with
    * i < j.
    */
  def jaccardPairs(docs: DataFrame, threshold: Double, n: Int = 3,
                   maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    val sh = sizedPostingList(docs, n, maxDf)
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          sizeCompatible(col("a.sz"), col("b.sz"), threshold))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        col("a.sz").as("ni"), col("b.sz").as("nj"))
      .agg(count(lit(1)).as("common"))
    jaccardInline(pairs, threshold)
  }

  /** Near-containment pairs — the quotation/subset duplicates Jaccard
    * structurally misses: a long document that embeds a short one scores
    * Jaccard ≈ |short|/|long| (tiny) but containment |A∩B|/min(|A|,|B|)
    * ≈ 1. Same df-capped posting-list self-join as [[jaccardPairs]], with
    * one deliberate difference: NO symmetric size bound in the join
    * condition — a 50-shingle doc contained in a 5,000-shingle doc is
    * exactly the pair this operator exists to find, so the df cap (and
    * the ≥-1-shared-shingle equi-join itself) is the only candidate
    * pruning. Exact division of the two join-local integers keeps the
    * score engine-portable with no quantization.
    *
    * @return (i, j, containment) with i &lt; j, containment ≥ threshold
    */
  def containmentPairs(docs: DataFrame, threshold: Double, n: Int = 3,
                       maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val sh = sizedPostingList(docs, n, maxDf)
    sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        col("a.sz").as("ni"), col("b.sz").as("nj"))
      .agg(count(lit(1)).as("common"))
      .withColumn("containment",
        col("common").cast("double") /
          least(col("ni"), col("nj")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("i"), col("j"), col("containment"))
  }

  /** Pick each near-dup cluster's best representative by a QUALITY prior
    * instead of [[dedupCorpus]]'s keep-lowest-id: one row per cluster with
    * the (quality desc, doc_id asc) argmax and the member count — the
    * curation policy that keeps the longest/cleanest copy of a duplicated
    * document rather than whichever crawled first. The (quality, id) order
    * is total, so representatives are deterministic on any engine.
    *
    * Scale shape: one keyed equi-join (components ⋈ quality frame, both
    * doc-keyed) and one cluster-keyed window — no self-joins, no
    * collects; parallelism follows cluster cardinality.
    *
    * @param components (doc_id, cluster) — [[connectedComponents]] output
    * @param docs       frame carrying doc_id + `qualityCol`
    */
  def clusterRepresentatives(components: DataFrame, docs: DataFrame,
                             qualityCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
      .orderBy(col(qualityCol).desc, col("doc_id").asc)
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
    components
      .join(docs.select(col("doc_id"), col(qualityCol)), "doc_id")
      .withColumn("__rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(wAll))
      .filter(col("__rn") === 1)
      .select(col("cluster"), col("doc_id").as("keep_id"),
        col(qualityCol).as(s"keep_$qualityCol"), col("n_members"))
  }

  /** Default permutation hash: seeded xxhash64 — the fast scale path. */
  val XxPermHash: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column =
    (s, p) => xxhash64(s, lit(p))

  /** Portable permutation hash: perm `p` reads the 8-hex (32-bit) lane
    * `p % 4` of `md5("${p / 4}|" || shingle)` — one md5 digest feeds FOUR
    * permutations, so 16 perms cost 4 digests per posting row instead of
    * 16 (md5 dominates the portable path's cost; codegen's subexpression
    * elimination shares each [[graft.functions.Md5Lanes]] call across its
    * lanes, and the native kernel skips the hex-string round-trip the
    * definition is written in). 32-bit minima are ample for MinHash —
    * banding compares 4-lane tuples (128 bits) and the verify stage is
    * exact regardless. Heavier than xxhash64 but computable identically by
    * any engine with md5 — used by the oracle-checked q23 so the whole
    * MinHash+LSH pipeline is verifiable cross-engine (the oracle replays
    * the equivalent `conv(substring(md5(...)))` form; equality is
    * spec-pinned).
    */
  val Md5PermHash: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column =
    (s, p) => element_at(
      graft.functions.GraftFunctions.md5_lanes(concat(lit(s"${p / 4}|"), s)),
      p % 4 + 1)

  /** MinHash signature per document: numPerms column-wise minima of the
    * seeded permutation hash over the shingle set, in one aggregation pass
    * over `sh` (a posting-list relation from [[postingList]]).
    */
  def minhashSignaturesFrom(sh: DataFrame, numPerms: Int = 16,
      permHash: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column = XxPermHash)
      : DataFrame = {
    val mins = (0 until numPerms).map(p =>
      min(permHash(col("s"), p)).as(s"mh$p"))
    sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** MinHash signatures straight from a documents table. */
  def minhashSignatures(docs: DataFrame, n: Int = 3, numPerms: Int = 16): DataFrame =
    minhashSignaturesFrom(docShingles(docs, n), numPerms)

  /** (bandId, band minhash tuple) structs over mh0..mh{numPerms−1} — the
    * LSH bucket keys every banded consumer explodes on. ONE definition so
    * a change to banding (key shape, hashing) cannot silently diverge
    * between the full, incremental, and candidate-only paths.
    */
  private[operators] def bandKeys(numPerms: Int, bands: Int): Seq[org.apache.spark.sql.Column] = {
    require(numPerms % bands == 0,
      s"numPerms ($numPerms) must divide evenly into bands ($bands) — a " +
        "remainder would silently drop trailing permutations and change recall")
    val rowsPerBand = numPerms / bands
    (0 until bands).map { b =>
      val cols = (0 until rowsPerBand).map(r =>
        col(s"mh${b * rowsPerBand + r}").as(s"r$r"))
      struct(lit(b).as("band") +: cols: _*)
    }
  }

  /** Signatures + capped set size in ONE aggregation pass over a posting
    * list: a posting row count per doc IS the capped set size, so `sz`
    * rides the signature frame for free and the size bound can prune
    * candidates before any verify join.
    */
  private[operators] def sizedSignatures(sh: DataFrame, numPerms: Int,
      permHash: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column)
      : DataFrame = {
    val mins = (0 until numPerms).map(p => min(permHash(col("s"), p)).as(s"mh$p"))
    sh.groupBy(col("doc_id"))
      .agg(mins.head, (mins.tail :+ count(lit(1)).as("sz")): _*)
  }

  /** Exact-Jaccard verification of candidate pairs (i, j, ni, nj) against
    * the posting list: fan each candidate out by i's shingles, equi-join
    * on the composite (j, shingle) key — the intersection count, never a
    * posting-list × posting-list join.
    */
  private[operators] def verifyPairs(cands: DataFrame, sh: DataFrame,
                          threshold: Double): DataFrame = {
    val common = cands
      .join(sh.select(col("doc_id").as("i"), col("s")), "i")
      .join(sh.select(col("doc_id").as("j"), col("s")), Seq("j", "s"))
      .groupBy(col("i"), col("j"), col("ni"), col("nj"))
      .agg(count(lit(1)).as("common"))
    jaccardInline(common, threshold)
  }

  /** LSH candidate pairs from banded MinHash signatures: documents agreeing
    * on ALL rows of any band land in the same bucket and pair up there.
    * (bandId, band minhash tuple) is the join key — bucketed, never
    * all-pairs.
    */
  def minhashCandidates(signatures: DataFrame, numPerms: Int = 16,
                        bands: Int = 4): DataFrame = {
    val banded = signatures.select(col("doc_id"),
      explode(array(bandKeys(numPerms, bands): _*)).as("bk"))
    banded.as("a").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
  }

  /** MinHash+LSH near-dup pairs: LSH candidates verified with the exact
    * Jaccard of their (capped) shingle sets — no false positives; recall is
    * the banding probability (16 perms in 4 bands catches jac ≥ 0.8 pairs
    * with ≥ 1-(1-0.8⁴)⁴ ≈ 93% per band structure).
    *
    * One posting-list materialization feeds signatures, sizes, AND the
    * verify stage. Verification touches only candidate pairs: fan each
    * candidate out by i's shingles, then equi-join on the composite
    * (j, shingle) key — the intersection count, never a full posting-list ×
    * posting-list join.
    */
  def minhashNearDups(docs: DataFrame, threshold: Double = 0.8, n: Int = 3,
                      numPerms: Int = 16, bands: Int = 4,
                      maxDf: Int = DefaultMaxShingleDf,
                      permHash: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column = XxPermHash)
                      : DataFrame = {
    // the PLAIN posting list: sz falls out of the signature aggregation
    // for free ([[sizedSignatures]]), so the sized variant's extra
    // groupBy+join+persist would be pure overhead here (q22's self-join is
    // the consumer that needs sz ON the posting rows)
    val sh = postingList(docs, n, maxDf)
    val banded = sizedSignatures(sh, numPerms, permHash)
      .select(col("doc_id"), col("sz"),
        explode(array(bandKeys(numPerms, bands): _*)).as("bk"))
    val cands = banded.as("a").join(banded.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id") &&
          sizeCompatible(col("a.sz"), col("b.sz"), threshold))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        col("a.sz").as("ni"), col("b.sz").as("nj"))
      .distinct()
    verifyPairs(cands, sh, threshold)
  }

  /** Full corpus deduplication — the composition a training-data pipeline
    * actually runs:
    *
    *  1. collapse EXACT duplicates to their minimum-id representative
    *     first. This is correctness AND a scale guard: a boilerplate text
    *     repeated k times would land k identical MinHash signatures in
    *     every band bucket — O(k²) candidate pairs for documents that
    *     needed one hash-groupBy to dedup;
    *  2. MinHash+LSH near-dup pairs over the representatives only;
    *  3. greedy keep-first: drop every doc appearing as the larger id of
    *     a surviving near-dup pair (the standard keep-first policy; for
    *     exact transitive clustering use [[dedupCorpusClustered]], which
    *     runs [[connectedComponents]] over the pair graph).
    *
    * Returns the kept (doc_id, text) rows with `dup_count` = how many
    * exact copies each survivor represents.
    */
  def dedupCorpus(docs: DataFrame, threshold: Double = 0.8, n: Int = 3,
                  numPerms: Int = 16, bands: Int = 4,
                  maxDf: Int = DefaultMaxShingleDf,
                  permHash: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column = XxPermHash)
                  : DataFrame = {
    // persisted: consumed by the near-dup posting list AND the final
    // anti-join — without it the exact-collapse groupBy runs twice
    val reps = graft.CacheRegistry.persist(docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_count"))
      .select(col("doc_id"), col("text"), col("dup_count")))
    val nearDupJ = minhashNearDups(reps, threshold, n, numPerms, bands, maxDf,
        permHash)
      .select(col("j").as("doc_id")).distinct()
    reps.join(nearDupJ, Seq("doc_id"), "left_anti")
  }

  /** Edge count at or below which [[connectedComponents]] solves the
    * graph on the driver instead of iterating distributed label
    * propagation. Near-dup pair graphs are SPARSE by construction — the
    * corpus being deduplicated means most documents pair with nothing —
    * so even at 100 TB the pair set is usually million-scale, and a
    * driver union-find over ≤1M edges (≤2M nodes, tens of MB of hash
    * map) beats 3–6 rounds of join+checkpoint jobs by an order of
    * magnitude. Same reasoning as a broadcast join: a bounded small side
    * is cheaper to ship than to shuffle. Above the bound the distributed
    * path takes over unchanged.
    */
  val DefaultDriverEdgeThreshold: Long = 1L << 20

  /** Exact union-find (path compression + union-to-min) over collected
    * edges: cluster = min node id of the component — identical output to
    * the distributed fixpoint.
    */
  private def driverComponents(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { case (i, j) =>
      parent.putIfAbsent(i, i)
      parent.putIfAbsent(j, j)
      val (ri, rj) = (find(i), find(j))
      // roots are node ids: pointing the larger root at the smaller keeps
      // every root the minimum of its component, so the final find IS the
      // cluster label — no second labeling pass
      if (ri < rj) parent.put(rj, ri)
      else if (rj < ri) parent.put(ri, rj)
    }
    val out = new Array[(Long, Long)](parent.size())
    var k = 0
    parent.keySet().forEach { n => out(k) = (n, find(n)); k += 1 }
    out
  }

  /** Connected components over near-dup pairs — exact transitive
    * clustering, the alternative to [[dedupCorpus]]'s greedy keep-first
    * when chains matter (A~B, B~C, A≁C must still collapse to one
    * cluster).
    *
    * Small graphs (≤ `driverEdgeThreshold` edges, integral ids) are
    * solved in one collect + union-find on the driver — the count is
    * read off the already-persisted edge frame, so choosing the path
    * costs one cheap action. Set `driverEdgeThreshold = 0` to force the
    * distributed path.
    *
    * Iterative min-label propagation with pointer jumping: every node
    * starts labeled with its own id; each round every node adopts the
    * minimum of its own label, its neighbors' labels, AND its label's
    * label (path halving — label values are node ids, so "my label's
    * label" is a lookup in the same table). Neighbor-min alone needs
    * O(component diameter) rounds — a pathological near-dup chain of
    * depth 100 would blow the iteration cap; the jump makes long chains
    * collapse in O(log diameter) rounds for one extra small join per
    * round. Labels only ever take values of component members' labels
    * and decrease monotonically, so the jump cannot overshoot the
    * component minimum, and `changed = 0` still certifies the
    * neighbor-min fixpoint.
    *
    * Cluster-safety: each round cuts the label table's lineage through
    * [[LineageCut]] — a RELIABLE checkpoint when the session has a
    * checkpoint dir (`sc.setCheckpointDir`), so label state survives
    * executor loss mid-iteration, else an executor-local
    * `localCheckpoint` — and frees the superseded generation.
    *
    * Each round is ONE job: the changed-label count that decides
    * convergence is collected by an [[org.apache.spark.sql.Observation]]
    * metric DURING the checkpoint's materialization action, not by a
    * second comparison join afterwards.
    *
    * Returns (doc_id, cluster) where cluster = min doc_id of the
    * component. Only nodes appearing in `pairs` are returned — isolated
    * documents are their own cluster by definition.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      driverEdgeThreshold: Long = DefaultDriverEdgeThreshold): DataFrame = {
    val spark = pairs.sparkSession
    val idType = pairs.schema("i").dataType
    val integral = idType == org.apache.spark.sql.types.LongType ||
      idType == org.apache.spark.sql.types.IntegerType
    val edges = pairs.select(col("i"), col("j"))
      .union(pairs.select(col("j").as("i"), col("i").as("j")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // fast path: the count materializes the persisted edge frame (the
    // distributed path's first round would have anyway); the collect then
    // reads cached blocks, never recomputing the upstream near-dup plan
    if (integral && driverEdgeThreshold > 0 &&
        edges.count() / 2 <= driverEdgeThreshold) {
      val collected = edges
        .select(col("i").cast("long"), col("j").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val comp = driverComponents(collected)
      import spark.implicits._
      return comp.toSeq.toDF("doc_id", "cluster")
        .select(col("doc_id").cast(idType).as("doc_id"),
          col("cluster").cast(idType).as("cluster"))
    }
    var labels = LineageCut.cut(edges.select(col("i").as("doc_id"))
      .distinct().withColumn("cluster", col("doc_id")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "j")
          .withColumnRenamed("cluster", "nc"), "j")
        .groupBy(col("i").as("doc_id")).agg(min(col("nc")).as("nc"))
      val obs = org.apache.spark.sql.Observation(s"cc_changed_$iter")
      val prev = labels
      val stepped = prev.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster").as("old"),
          least(col("cluster"), coalesce(col("nc"), col("cluster"))).as("cluster"))
      // pointer jump against the PREVIOUS generation (prev is materialized,
      // so this adds a join without recomputing the step): one-generation-
      // stale label-of-label values are still component members' labels,
      // hence valid upper bounds of the component min
      labels = LineageCut.cut(stepped
        .join(prev.select(col("doc_id").as("cluster"), col("cluster").as("jump")),
          Seq("cluster"), "left")
        .select(col("doc_id"), col("old"),
          least(col("cluster"), coalesce(col("jump"), col("cluster"))).as("cluster"))
        .observe(obs, count(when(col("cluster") =!= col("old"), lit(1)))
          .as("changed"))
        .select(col("doc_id"), col("cluster")))
      // blocks until the checkpoint action above completes — same round,
      // same job; count (not sum) so an empty frame still yields 0
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      // the new label table is materialized; the previous round's copy
      // (executor-local blocks or reliable checkpoint files) is dead
      // weight from here on
      LineageCut.free(prev)
      iter += 1
    }
    // loud, not wrong: stopping early would silently report split clusters
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds — component " +
        "diameter exceeds maxIter; raise it for unusually deep dup chains")
    labels
    // finally (not the happy path only): a mid-loop failure or the
    // non-convergence throw must not strand the persisted edges frame
    } finally edges.unpersist(false)
  }

  /** [[dedupCorpus]] with exact transitive clustering: one survivor (the
    * minimum doc_id) per connected component of the near-dup graph,
    * instead of the greedy pair-wise drop.
    */
  def dedupCorpusClustered(docs: DataFrame, threshold: Double = 0.8, n: Int = 3,
                           numPerms: Int = 16, bands: Int = 4,
                           maxDf: Int = DefaultMaxShingleDf,
                           permHash: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column = XxPermHash)
                           : DataFrame = {
    val reps = graft.CacheRegistry.persist(docs.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_count"))
      .select(col("doc_id"), col("text"), col("dup_count")))
    val pairs = minhashNearDups(reps, threshold, n, numPerms, bands, maxDf,
      permHash)
    val dropped = connectedComponents(pairs)
      .filter(col("doc_id") =!= col("cluster"))
      .select(col("doc_id"))
    reps.join(dropped, Seq("doc_id"), "left_anti")
  }

  /** Corpus-wide embedding near-dup pairs through the GEOMETRY-ROUTED
    * graph index — [[graft.operators.IVF.train]] cells +
    * [[graft.operators.Hnsw.buildGeo]] +
    * [[graft.operators.Hnsw.nearDupPairsRouted]], built inline: the
    * scale-safe default for SEMANTIC dedup. Each vector probes only its
    * `nProbe` nearest cells, so the scan is genuinely LINEAR in the
    * corpus (n·nProbe shuffled probe rows; graph rows never replicate) —
    * against [[Similarity.cosineNearDups]]'s exact O(n²/blocks) fan-out
    * AND the exhaustive [[graft.operators.Hnsw.nearDupPairs]]'s n·shards
    * rows (quadratic under shards ∝ corpus). Identical (i < j, cos)
    * output shape; q191 pins the routes equal on the test corpora (where
    * cells ≤ nProbe makes routing exhaustive by construction), HnswSpec
    * asserts recall ≥ 0.95 at every SF, and the ×10/×100 rehearsal
    * measures the routing-recall envelope at 50× cell pruning
    * (BASELINE). `shards = 0` sizes the cell count by
    * [[graft.operators.Hnsw.defaultShards]] — the rehearsed cells ∝
    * corpus policy that keeps the MEAN cell graph task-sized. To run
    * over a STANDING segmented index instead of building one, use
    * [[HnswGeoStore.nearDupPairs]] (the same routed scan across the
    * store's live epochs).
    */
  def hnswNearDupPairs(emb: DataFrame, threshold: Double, shards: Int = 0,
                       m: Int = 8, efConstruction: Int = 64,
                       efSearch: Int = 64,
                       nProbe: Int = Hnsw.DefaultNearDupNProbe,
                       ivfIters: Int = 5,
                       route: String = "auto",
                       maxCellNodes: Int = 0): DataFrame = {
    require(Set("auto", "routed", "exhaustive")(route),
      s"route=$route must be auto, routed, or exhaustive")
    val spark = emb.sparkSession
    import spark.implicits._
    val e = graft.CacheRegistry.persist(
      emb.select(col("vec_id"), col("embedding")))
    // dims via ONE aggregate, with loud null/raggedness checks: a null
    // first row must not NPE the sizing, and mixed dims must fail here,
    // not deep in a task's dot-product loop
    val stats = e.agg(count(lit(1)).as("n"),
        sum(when(col("embedding").isNull, 1L).otherwise(0L)).as("nulls"),
        min(size(col("embedding"))).as("dmin"),
        max(size(col("embedding"))).as("dmax"))
      .head()
    val n = stats.getLong(0)
    if (n == 0L) return Seq.empty[(Long, Long, Double)].toDF("i", "j", "cos")
    require(stats.getLong(1) == 0L,
      s"${stats.getLong(1)} null embeddings — drop or impute before dedup")
    val (dmin, dmax) = (stats.getInt(2), stats.getInt(3))
    require(dmin == dmax,
      s"ragged embedding dims [$dmin, $dmax] — embeddings must share one " +
        "dimension")
    val cells = if (shards > 0) shards else Hnsw.defaultShards(n, dmax, m)
    // the routing-recall guard (ADVICE r12): below the measured envelope
    // floor AND with real pruning (cells > nProbe), geometry routing
    // would silently lose recall on a weakly clustered corpus — auto
    // refuses and takes the exhaustive fan-out instead, loudly; callers
    // who have audited their corpus's envelope opt back in with
    // route = "routed"
    val wantRouted = route match {
      case "routed"     => true
      case "exhaustive" => false
      case _ =>
        val safe = threshold >= Hnsw.RoutedRecallFloor || cells <= nProbe
        if (!safe) org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"hnswNearDupPairs: threshold=$threshold is below the routed " +
            s"recall envelope floor ${Hnsw.RoutedRecallFloor} with real " +
            s"cell pruning (cells=$cells > nProbe=$nProbe) — falling " +
            "back to the exhaustive shard fan-out (n*shards rows). Pass " +
            "route=\"routed\" to accept the measured recall decay " +
            "(BASELINE's routing-envelope table), or raise nProbe.")
        // the envelope is only measured LOSSLESS from pair cosine ~0.98
        // up and already decaying at the floor — routing in the
        // [floor, lossless) band is accepted (the decay is small) but
        // must be VISIBLE, not silent (ADVICE r13)
        else if (threshold < Hnsw.RoutedRecallLossless && cells > nProbe)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"hnswNearDupPairs: threshold=$threshold sits in the " +
              s"decaying band of the routing envelope " +
              s"[${Hnsw.RoutedRecallFloor}, " +
              s"${Hnsw.RoutedRecallLossless}) with real cell pruning " +
              s"(cells=$cells > nProbe=$nProbe) — routing anyway; a " +
              "measurable recall loss on weakly clustered corpora is " +
              "accepted (BASELINE's routing-envelope table). Raise " +
              "nProbe or pass route=\"exhaustive\" to refuse it.")
        safe
    }
    if (wantRouted) {
      // sampled training — the at-scale k-means discipline (centroid
      // quality saturates at ~100 points/centroid); the full corpus still
      // assigns + probes against the trained index, only the Lloyd passes
      // are bounded
      val index = IVF.train(e, cells, ivfIters,
        maxTrainRows = 100L * cells)
      // maxCellNodes > 0 bounds the hot cell by construction
      // ([[Hnsw.GeoLayout]] sub-shards); the routed scan fans probes to
      // a probed cell's sub-shards, so the output contract is unchanged.
      // The layout is derived ONCE here and passed to both the build
      // and the scan — unsplit stores skip the derivation groupBy
      val lay =
        if (maxCellNodes > 0) Hnsw.geoLayout(e, index, maxCellNodes)
        else Map.empty[Long, Int]
      Hnsw.nearDupPairsRouted(
        Hnsw.buildGeoWithLayout(e, index, m, efConstruction, lay),
        index, threshold, nProbe, efSearch, knownLayout = Some(lay))
    } else
      // id-hash shards for the exhaustive fan-out: no index to train, and
      // hashing balances shard populations where cell sharding would
      // inherit the corpus's cluster skew
      Hnsw.nearDupPairs(Hnsw.build(e, cells, m, efConstruction),
        threshold, efSearch)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication" — the pair-graph + clustering formulation): embedding
    * near-dup pairs from the graph index ([[hnswNearDupPairs]]) →
    * transitive closure ([[connectedComponents]]) → ONE representative
    * per cluster by the (quality desc, id asc) argmax
    * ([[clusterRepresentatives]]) — keep the best copy of each semantic
    * duplicate group, not whichever crawled first. Output is
    * [[clusterRepresentatives]]'s (cluster, keep_id, keep_<quality>,
    * n_members) frame; isolated vectors (no near-dup at `threshold`)
    * never enter the pair graph and are implicitly all kept.
    *
    * Scale shape is the three legs' own: n·shards graph walks for pairs,
    * O(log diameter) checkpointed label rounds over the PAIR graph (not
    * the corpus), one doc-keyed join + one cluster-keyed window for the
    * argmax. Nothing touches n² anywhere.
    *
    * @param quality frame carrying `doc_id` + `qualityCol`, doc_id
    *                aligned with `emb.vec_id` (the embedding of document
    *                d has vec_id = d)
    */
  def semanticDedup(emb: DataFrame, quality: DataFrame, qualityCol: String,
                    threshold: Double, shards: Int = 0, m: Int = 8,
                    efConstruction: Int = 64, efSearch: Int = 64,
                    route: String = "auto",
                    maxCellNodes: Int = 0): DataFrame =
    clusterRepresentatives(
      connectedComponents(
        hnswNearDupPairs(emb, threshold, shards, m, efConstruction,
          efSearch, route = route, maxCellNodes = maxCellNodes)),
      quality, qualityCol)

  /** Default SimHash token hash: seeded xxhash64 — the fast scale path. */
  val XxTokenHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    tok => xxhash64(tok)

  /** Portable 60-bit token hash: the top 15 hex chars of md5, decoded
    * base-16 — computed natively as `(lane0 << 28) | (lane1 >>> 4)` over
    * the [[graft.functions.Md5Lanes]] digest (bit-identical to the hex
    * form, spec-pinned). ~3× the cost of xxhash64 but computable
    * identically by any engine with md5 — chosen for the oracle-checked
    * q24/q71 so sign-vote SimHash and CDC chunking are verifiable
    * cross-engine.
    */
  val Md5TokenHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    tok => {
      val lanes = graft.functions.GraftFunctions.md5_lanes(tok)
      shiftleft(element_at(lanes, 1), 28)
        .bitwiseOR(shiftright(element_at(lanes, 2), 4))
    }

  /** `bits`-bit SimHash per document: each token hash votes ±1 on every
    * bit; the signature takes the sign of each bit's tally. One explode +
    * one aggregation (`bits` sums) — no UDFs, no driver state.
    */
  def simhashSignatures(docs: DataFrame, bits: Int = 64,
      tokenHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column = XxTokenHash)
      : DataFrame = {
    require(bits >= 4 && bits <= 64, s"bits must be in [4, 64], got $bits")
    val tok = graft.sources.Tables.ensureParallelism(docs)
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
      .withColumn("h", tokenHash(col("tok")))
    val bitSums = (0 until bits).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$b"))
    val sums = tok.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until bits).map(b =>
      when(col(s"b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce((a, c) => a.bitwiseOR(c))
    sums.select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, found by
    * splitting the signature into 4 chunks and equi-joining on
    * (chunkIdx, chunkValue): any pair within Hamming distance 3 must
    * agree on at least one chunk (pigeonhole), so recall is exact for
    * maxHamming ≤ 3 and probabilistic above.
    *
    * Degenerate-corpus note: k exact copies of one text share a signature
    * and pair quadratically in their chunk bucket — as with MinHash,
    * collapse exact duplicates first (the [[dedupCorpus]] composition)
    * before running signature-based near-dup at scale.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, bits: Int = 64,
      tokenHash: org.apache.spark.sql.Column => org.apache.spark.sql.Column = XxTokenHash)
      : DataFrame =
    hammingNearDups(
      simhashSignatures(docs, bits, tokenHash)
        .select(col("doc_id"), col("simhash")),
      maxHamming, bits, sigCol = "simhash")

  /** Chunk-bucketed Hamming near-dup pairs over PRECOMPUTED 64-bit-or-less
    * signatures (`idCol`, `sigCol`) — the signature-agnostic core behind
    * [[simhashPairs]] (text) and `Multimodal.imageNearDups` (perceptual
    * dHash). Pigeonhole: a pair within `maxHamming` ≤ 3 differing bits
    * must agree on at least one of the 4 chunks, so the chunk equi-join
    * finds EVERY qualifying pair (exact recall, never all-pairs) and the
    * bit_count verify removes chunk-collision false candidates.
    */
  def hammingNearDups(sigs: DataFrame, maxHamming: Int = 3, bits: Int = 64,
      idCol: String = "doc_id", sigCol: String = "sig"): DataFrame = {
    require(bits % 4 == 0, s"bits must split into 4 equal chunks, got $bits")
    require(maxHamming >= 0 && maxHamming <= 3,
      s"pigeonhole recall over 4 chunks is exact only for maxHamming <= 3, got $maxHamming")
    val chunkBits = bits / 4
    val chunkMask = (1L << chunkBits) - 1
    val base = sigs.select(col(idCol).as("doc_id"), col(sigCol).as("__sig"))
    val chunks = (0 until 4).map(c =>
      struct(lit(c).as("idx"),
        shiftright(col("__sig"), c * chunkBits).bitwiseAND(lit(chunkMask)).as("v")))
    val bucketed = base.select(col("doc_id"), col("__sig"),
      explode(array(chunks: _*)).as("ck"))
    bucketed.as("a").join(bucketed.as("b"),
        col("a.ck") === col("b.ck") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        col("a.__sig").as("si"), col("b.__sig").as("sj"))
      .distinct()
      .withColumn("hamming", bit_count(col("si").bitwiseXOR(col("sj"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("i"), col("j"), col("hamming").cast("long").as("hamming"))
  }

  /** Incremental near-dup detection: MinHash+LSH pairs that TOUCH a fresh
    * batch — (corpus doc, fresh doc) and (fresh, fresh) pairs, never
    * corpus × corpus. This is the shape a production pipeline actually
    * runs daily: the standing corpus is already deduplicated, so re-pairing
    * it against itself is pure waste, and at 100 TB it is THE dominant
    * cost of a from-scratch re-run. Here only band buckets containing a
    * fresh document generate candidates, and verification fans out fresh
    * docs only — the corpus side contributes one linear signature pass
    * (which a deployment amortizes further by persisting signatures and
    * posting lists between runs; [[minhashSignaturesFrom]] is the hook).
    *
    * Output: (i, j, jac) with `j` ALWAYS the fresh doc; for fresh-fresh
    * pairs i < j. Caller contract: corpus and fresh doc_ids are disjoint.
    * Pairs touching fresh docs are computed over the UNION's df-capped
    * posting list, so they equal exactly the fresh-touching subset of a
    * full [[minhashNearDups]] re-run (spec-pinned).
    */
  def incrementalNearDups(corpus: DataFrame, fresh: DataFrame,
      threshold: Double = 0.8, n: Int = 3, numPerms: Int = 16, bands: Int = 4,
      maxDf: Int = DefaultMaxShingleDf,
      permHash: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column = XxPermHash)
      : DataFrame = {
    val union = corpus.select(col("doc_id"), col("text"), lit(false).as("is_new"))
      .unionByName(fresh.select(col("doc_id"), col("text"), lit(true).as("is_new")))
    val sh = postingList(union.select(col("doc_id"), col("text")), n, maxDf)
    val banded = sizedSignatures(sh, numPerms, permHash)
      .join(union.select(col("doc_id"), col("is_new")), "doc_id")
      .select(col("doc_id"), col("sz"), col("is_new"),
        explode(array(bandKeys(numPerms, bands): _*)).as("bk"))
    // the RIGHT side is fresh-only: a bucket with no fresh member joins to
    // nothing, which is precisely the incremental saving; the left side
    // admits corpus docs unconditionally and fresh docs only as the
    // smaller id (fresh-fresh pairs stay canonical i < j)
    val cands = banded.as("a")
      .join(banded.filter(col("is_new")).as("b"),
        col("a.bk") === col("b.bk") &&
          (!col("a.is_new") || col("a.doc_id") < col("b.doc_id")) &&
          col("a.doc_id") =!= col("b.doc_id") &&
          sizeCompatible(col("a.sz"), col("b.sz"), threshold))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        col("a.sz").as("ni"), col("b.sz").as("nj"))
      .distinct()
    verifyPairs(cands, sh, threshold)
  }

  /** Incremental corpus dedup — admit only the fresh documents that
    * survive against the standing corpus, which itself never changes
    * (append-only corpora keep every past training run reproducible):
    *
    *  1. collapse exact duplicates WITHIN the fresh batch to min-id
    *     representatives (`dup_count` preserved);
    *  2. drop representatives whose exact text already exists in the
    *     corpus (fingerprint anti-join — no text shuffle);
    *  3. drop representatives near-dup to a corpus doc or to a smaller-id
    *     fresh representative ([[incrementalNearDups]]'s `j` side).
    *
    * Policy note (spec-pinned): with fresh ids above corpus ids, every
    * fresh doc a from-scratch [[dedupCorpus]] over the union would admit
    * is admitted here too. The incremental run may additionally admit a
    * fresh doc whose only near-dup partner was itself dropped when the
    * corpus was deduplicated — the from-scratch greedy pass drops against
    * ghosts; the incremental pass, deliberately, dedups against what the
    * corpus actually CONTAINS. Returns kept fresh rows:
    * (doc_id, text, dup_count).
    */
  def incrementalDedup(corpus: DataFrame, fresh: DataFrame,
      threshold: Double = 0.8, n: Int = 3, numPerms: Int = 16, bands: Int = 4,
      maxDf: Int = DefaultMaxShingleDf,
      permHash: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column = XxPermHash)
      : DataFrame = {
    val freshReps = fresh.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_count"))
      .select(col("doc_id"), col("text"), col("dup_count"))
    val unseen = freshReps
      .withColumn("h", TextFunctions.md5Fingerprint(col("text")))
      .join(corpus.select(TextFunctions.md5Fingerprint(col("text")).as("h")).distinct(),
        Seq("h"), "left_anti")
      .drop("h")
    val dupOfExisting = incrementalNearDups(corpus, unseen, threshold, n,
      numPerms, bands, maxDf, permHash)
      .select(col("j").as("doc_id")).distinct()
    unseen.join(dupOfExisting, Seq("doc_id"), "left_anti")
  }

  /** Duplicated n-gram SPANS — the token-level view of exact substring
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better": memorized text recurs as long verbatim substrings,
    * not whole-document copies). Every n-token shingle occurring at least
    * `minCount` times ACROSS THE CORPUS (within-doc repeats included)
    * marks its token range; overlapping or adjacent ranges merge into
    * maximal spans per document — the regions a curation pipeline would
    * cut or down-weight.
    *
    * Output: (doc_id, span_start, span_end, span_tokens) with 0-based
    * inclusive token indexes, ordered within a doc by span_start (starts
    * are distinct per doc, so the merge windows are total-ordered and the
    * result is partitioning-invariant).
    *
    * Scale shape: one scan builds (doc, pos, shingle) via the native
    * [[graft.functions.WordShingles]] kernel; the duplicate-shingle set
    * is one keyed aggregation; the hit join is a keyed equi-join on the
    * shingle (`hashed = true` joins on `xxhash64` of the shingle instead
    * of the string — the 100 TB path: 8-byte shuffle keys, collisions
    * only ADD span coverage at ~2⁻⁶⁴); the merge windows are keyed by
    * doc. Nothing global, nothing quadratic.
    */
  def duplicatedNgramSpans(docs: DataFrame, n: Int = 8, minCount: Int = 2,
                           hashed: Boolean = false): DataFrame = {
    require(n >= 1 && minCount >= 2,
      s"need n >= 1 and minCount >= 2, got n=$n minCount=$minCount")
    val shingle = TextFunctions.shingles(col("text"), n)
    val occ = docs.select(col("doc_id"),
      posexplode(shingle).as(Seq("pos", "sh")))
      .select(col("doc_id"), col("pos"),
        (if (hashed) xxhash64(col("sh")) else col("sh")).as("k"))
    val dup = occ.groupBy(col("k")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount).select(col("k"))
    val hits = occ.join(dup, "k")
      .select(col("doc_id"), col("pos").cast("long").as("s"),
        (col("pos") + n - 1).cast("long").as("e"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val prior = w.rowsBetween(Window.unboundedPreceding, -1)
    hits
      .withColumn("maxe", max(col("e")).over(prior))
      .withColumn("fresh",
        (col("maxe").isNull || col("s") > col("maxe") + 1).cast("long"))
      .withColumn("island", sum(col("fresh")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** [[duplicatedNgramSpans]] as ANSI SQL for a DuckDB oracle (same
    * shingling contract as [[graft.functions.WordShingles]], same window
    * algebra; `n`/`minCount` interpolate from the Spark call's values).
    */
  def duplicatedNgramSpansOracleSql(table: String, n: Int = 8,
                                    minCount: Int = 2): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts FROM $table
       |), occ AS (
       |  SELECT doc_id,
       |         unnest(range(1, len(ts) - ${n - 2})) AS i,
       |         ts
       |  FROM toks
       |), keyed AS (
       |  SELECT doc_id, i - 1 AS pos,
       |         array_to_string(ts[i:i + ${n - 1}], ' ') AS sh
       |  FROM occ
       |), dup AS (
       |  SELECT sh FROM keyed GROUP BY sh HAVING COUNT(*) >= $minCount
       |), hits AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS s,
       |         CAST(pos + ${n - 1} AS BIGINT) AS e
       |  FROM keyed JOIN dup USING (sh)
       |), marked AS (
       |  SELECT doc_id, s, e,
       |         MAX(e) OVER (PARTITION BY doc_id ORDER BY s
       |                      ROWS BETWEEN UNBOUNDED PRECEDING
       |                      AND 1 PRECEDING) AS maxe
       |  FROM hits
       |), islands AS (
       |  SELECT doc_id, s, e,
       |         SUM(CASE WHEN maxe IS NULL OR s > maxe + 1
       |                  THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY s
       |                 ROWS UNBOUNDED PRECEDING) AS island
       |  FROM marked
       |)
       |SELECT doc_id, MIN(s) AS span_start, MAX(e) AS span_end,
       |       MAX(e) - MIN(s) + 1 AS span_tokens
       |FROM islands GROUP BY doc_id, island""".stripMargin

  /** CHARACTER-level duplicated spans — the full exact-substring dedup
    * of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better", the ExactSubstr tool): every maximal region of
    * every document that is covered by some substring of length >=
    * `minLen` characters occurring at least `minCount` times across the
    * corpus. This is EXACTLY the coverage their suffix array computes at
    * min-match-length `minLen`, by a two-line equivalence: (=>) a
    * duplicated substring S with |S| >= minLen contains |S|−minLen+1
    * stride-1 windows of length minLen, each occurring wherever S occurs
    * (count >= count(S) >= minCount), so every character of S is covered
    * by a duplicated window; (<=) a duplicated window IS a duplicated
    * substring of length >= minLen. Union-of-coverage is therefore
    * identical, and no suffix array — a fundamentally sequential,
    * memory-resident structure — is needed: stride-1 windows + one keyed
    * count + keyed interval merge is the shuffle-native form.
    *
    * Output: (doc_id, span_start, span_end, span_chars) with 0-based
    * inclusive CHARACTER indexes (code points, matching SQL `substr`
    * semantics), ordered-by-construction within a doc (starts distinct
    * per doc → partitioning-invariant).
    *
    * Scale shape: the window build is the native [[graft.functions.CharShingles]]
    * kernel (one byte pass per row); window rows number one per character
    * — LINEAR in corpus bytes, the same blow-up the suffix array itself
    * pays (it stores one suffix per character); the duplicate set is one
    * keyed aggregation; the hit join is a keyed equi-join; the merge
    * windows are keyed by doc. `hashed = true` joins on `xxhash64` of
    * the window instead of the string — the 100 TB path: 8-byte shuffle
    * keys instead of `minLen`-char strings, collisions only ADD span
    * coverage at ~2⁻⁶⁴.
    */
  def charDuplicateSpans(docs: DataFrame, minLen: Int = 25, minCount: Int = 2,
                         hashed: Boolean = false): DataFrame = {
    require(minLen >= 2 && minCount >= 2,
      s"need minLen >= 2 and minCount >= 2, got minLen=$minLen minCount=$minCount")
    val win = TextFunctions.charShingles(col("text"), minLen)
    // spread the scan FIRST ([[graft.sources.Tables.ensureParallelism]],
    // the docShingles discipline): the window explode emits one row per
    // CHARACTER, and a small single-file corpus scan otherwise runs that
    // blow-up — the operator's dominant per-task work — on 1-4 input
    // splits (round-18 per-query job profile: q186 ran 3.9 task-seconds
    // on 21 tasks).
    // Output is partitioning-invariant by the span construction.
    val occ = graft.sources.Tables.ensureParallelism(docs)
      .select(col("doc_id"), posexplode(win).as(Seq("pos", "sh")))
      .select(col("doc_id"), col("pos"),
        (if (hashed) xxhash64(col("sh")) else col("sh")).as("k"))
    val dup = occ.groupBy(col("k")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount).select(col("k"))
    val hits = occ.join(dup, "k")
      .select(col("doc_id"), col("pos").cast("long").as("s"),
        (col("pos") + minLen - 1).cast("long").as("e"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val prior = w.rowsBetween(Window.unboundedPreceding, -1)
    hits
      .withColumn("maxe", max(col("e")).over(prior))
      .withColumn("fresh",
        (col("maxe").isNull || col("s") > col("maxe") + 1).cast("long"))
      .withColumn("island", sum(col("fresh")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("span_start"), max(col("e")).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_chars"))
  }

  /** [[charDuplicateSpans]] as ANSI SQL for a DuckDB oracle (SQL
    * `substr` is the same code-point indexing as [[graft.functions.CharShingles]]).
    */
  def charDuplicateSpansOracleSql(table: String, minLen: Int = 25,
                                  minCount: Int = 2): String =
    s"""WITH occ AS (
       |  SELECT doc_id, unnest(range(1, length(text) - ${minLen - 2})) AS i,
       |         text
       |  FROM $table
       |), keyed AS (
       |  SELECT doc_id, i - 1 AS pos, substr(text, i, $minLen) AS sh FROM occ
       |), dup AS (
       |  SELECT sh FROM keyed GROUP BY sh HAVING COUNT(*) >= $minCount
       |), hits AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS s,
       |         CAST(pos + ${minLen - 1} AS BIGINT) AS e
       |  FROM keyed JOIN dup USING (sh)
       |), marked AS (
       |  SELECT doc_id, s, e,
       |         MAX(e) OVER (PARTITION BY doc_id ORDER BY s
       |                      ROWS BETWEEN UNBOUNDED PRECEDING
       |                      AND 1 PRECEDING) AS maxe
       |  FROM hits
       |), islands AS (
       |  SELECT doc_id, s, e,
       |         SUM(CASE WHEN maxe IS NULL OR s > maxe + 1
       |                  THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY s
       |                 ROWS UNBOUNDED PRECEDING) AS island
       |  FROM marked
       |)
       |SELECT doc_id, MIN(s) AS span_start, MAX(e) AS span_end,
       |       MAX(e) - MIN(s) + 1 AS span_chars
       |FROM islands GROUP BY doc_id, island""".stripMargin

  /** The full ExactSubstr DEDUP step (Lee et al. 2022 §4.2): cut every
    * character covered by a duplicated span (per [[charDuplicateSpans]])
    * from every document — all occurrences are removed, the released
    * tool's documented behavior — and return the surviving corpus. Gap
    * fragments concatenate directly (no separator insertion), again
    * matching the tool.
    *
    * Output: (doc_id, clean_text, removed_chars) — one row per INPUT
    * document (docs with no duplicated spans pass through whole;
    * fully-covered docs yield an empty clean_text rather than vanishing,
    * so downstream length filters see them).
    *
    * Scale shape: [[charDuplicateSpans]]'s shuffles, plus ONE keyed
    * aggregation collecting each doc's spans (bounded: spans per doc <=
    * chars/minLen) and ONE equi-join back to the corpus; the text
    * surgery itself is scan-side — a sorted-array fold (`aggregate` over
    * the span array) emitting the inter-span gaps, no per-character
    * rows, no window over the corpus.
    */
  def removeDuplicatedSpans(docs: DataFrame, minLen: Int = 25,
                            minCount: Int = 2,
                            hashed: Boolean = false): DataFrame = {
    val spans = charDuplicateSpans(docs, minLen, minCount, hashed)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(
        col("span_start").cast("int").as("ss"),
        col("span_end").cast("int").as("se")))).as("spans"))
    val txt = col("text")
    val folded = aggregate(
      col("spans"),
      struct(lit(0).as("cur"), lit("").as("acc")),
      (st, sp) => struct(
        (sp("se") + 1).as("cur"),
        concat(st("acc"),
          txt.substr(st("cur") + 1, sp("ss") - st("cur"))).as("acc")),
      st => concat(st("acc"),
        txt.substr(st("cur") + 1, length(txt) - st("cur"))))
    docs.join(spans, Seq("doc_id"), "left")
      .withColumn("spans", coalesce(col("spans"),
        array().cast("array<struct<ss:int,se:int>>")))
      .select(col("doc_id"), folded.as("clean_text"),
        (length(txt) - length(folded)).cast("long").as("removed_chars"))
  }

  /** [[removeDuplicatedSpans]] as ANSI SQL for a DuckDB oracle: the span
    * CTE chain, then gaps-between-spans via LAG, a tail piece per
    * spanned doc, ordered string_agg, and a pass-through LEFT JOIN for
    * untouched docs.
    */
  def removeDuplicatedSpansOracleSql(table: String, minLen: Int = 25,
                                     minCount: Int = 2): String =
    s"""WITH occ AS (
       |  SELECT doc_id, unnest(range(1, length(text) - ${minLen - 2})) AS i,
       |         text
       |  FROM $table
       |), keyed AS (
       |  SELECT doc_id, i - 1 AS pos, substr(text, i, $minLen) AS sh FROM occ
       |), dup AS (
       |  SELECT sh FROM keyed GROUP BY sh HAVING COUNT(*) >= $minCount
       |), hits AS (
       |  SELECT doc_id, CAST(pos AS BIGINT) AS s,
       |         CAST(pos + ${minLen - 1} AS BIGINT) AS e
       |  FROM keyed JOIN dup USING (sh)
       |), marked AS (
       |  SELECT doc_id, s, e,
       |         MAX(e) OVER (PARTITION BY doc_id ORDER BY s
       |                      ROWS BETWEEN UNBOUNDED PRECEDING
       |                      AND 1 PRECEDING) AS maxe
       |  FROM hits
       |), islands AS (
       |  SELECT doc_id, s, e,
       |         SUM(CASE WHEN maxe IS NULL OR s > maxe + 1
       |                  THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY s
       |                 ROWS UNBOUNDED PRECEDING) AS island
       |  FROM marked
       |), spans AS (
       |  SELECT doc_id, MIN(s) AS ss, MAX(e) AS se
       |  FROM islands GROUP BY doc_id, island
       |), gaps AS (
       |  SELECT doc_id, ss,
       |         COALESCE(LAG(se) OVER (PARTITION BY doc_id ORDER BY ss), -1)
       |           + 1 AS gs
       |  FROM spans
       |), pieces AS (
       |  SELECT g.doc_id, g.ss AS ord,
       |         substr(d.text, CAST(g.gs + 1 AS BIGINT),
       |                CAST(g.ss - g.gs AS BIGINT)) AS piece
       |  FROM gaps g JOIN $table d USING (doc_id)
       |  UNION ALL
       |  SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS ord,
       |         substr(d.text, CAST(t.last_e + 2 AS BIGINT),
       |                CAST(length(d.text) - t.last_e - 1 AS BIGINT)) AS piece
       |  FROM $table d
       |  JOIN (SELECT doc_id, MAX(se) AS last_e FROM spans GROUP BY doc_id) t
       |    USING (doc_id)
       |), cleaned AS (
       |  SELECT doc_id, string_agg(piece, '' ORDER BY ord) AS clean_text
       |  FROM pieces GROUP BY doc_id
       |)
       |SELECT d.doc_id,
       |       COALESCE(c.clean_text, d.text) AS clean_text,
       |       CAST(length(d.text)
       |            - length(COALESCE(c.clean_text, d.text)) AS BIGINT)
       |         AS removed_chars
       |FROM $table d LEFT JOIN cleaned c USING (doc_id)""".stripMargin

  /** Dedup threshold calibration curve — the "what would this knob do"
    * audit run BEFORE committing a corpus to a similarity threshold: for
    * each candidate threshold (0.50 … 0.95 in 0.05 steps), how many
    * near-dup PAIRS sit at-or-above it and how many distinct DOCUMENTS
    * are touched by at least one such pair (an upper bound on removals
    * under any keep-policy). Built from the EXACT df-capped Jaccard
    * pairs at the 0.5 floor ([[jaccardPairs]] — audit once, read ten
    * thresholds), bucketed on 1e-6-quantized similarities and
    * accumulated by two descending windows over the ≤ 11-bucket
    * histograms (audit-sized frames — the only "global" windows in the
    * plan run on a dozen rows by construction).
    *
    * Output: (threshold, n_pairs, n_docs), thresholds descending-
    * inclusive (a jac = 1.0 pair counts toward every row). The
    * threshold-spine lookups are non-equi joins of two frames bounded at
    * 10 and ≤ 11 rows BY CONSTRUCTION (the bucket domain) — a
    * nested-loop join over ≤ 110 row pairs, the documented
    * bounded-broadcast exception, never data-sized.
    */
  def thresholdCalibration(docs: DataFrame, n: Int = 3,
      maxDf: Int = DefaultMaxShingleDf): DataFrame = {
    val pq = graft.CacheRegistry.persist(
      jaccardPairs(docs, threshold = 0.5, n, maxDf)
        .withColumn("jq", round(col("jac") * 1e6).cast("long"))
        .withColumn("b", least(floor(col("jq") / 50000L).cast("int"), lit(20))))
    val wDesc = org.apache.spark.sql.expressions.Window
      .orderBy(col("b").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val pairCum = pq.groupBy(col("b")).agg(count(lit(1)).as("np"))
      .withColumn("n_pairs", sum(col("np")).over(wDesc))
    val docCum = pq.select(col("i").as("d"), col("jq"))
      .unionByName(pq.select(col("j").as("d"), col("jq")))
      .groupBy(col("d"))
      .agg(least(floor(max(col("jq")) / 50000L).cast("int"), lit(20)).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("nd"))
      .withColumn("n_docs", sum(col("nd")).over(wDesc))
    val spine = docs.sparkSession.range(10, 20)
      .select(col("id").cast("int").as("t"))
    // each threshold reads the cumulative at the smallest bucket >= it
    spine.join(pairCum, col("b") >= col("t"), "left")
      .groupBy(col("t")).agg(max(col("n_pairs")).as("n_pairs"))
      .join(spine.join(docCum, col("b") >= col("t"), "left")
        .groupBy(col("t")).agg(max(col("n_docs")).as("n_docs")), "t")
      .select((col("t") / 20.0).as("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  /** MinHash estimator calibration — the "trust your dedup" audit run
    * BEFORE betting a 100 TB dedup pass on a signature size: for a
    * deterministic sample of document pairs, compare the MinHash
    * similarity ESTIMATE (agreeing permutation lanes / numPerms — an
    * unbiased Jaccard estimator, Broder 1997) against the EXACT shingle
    * Jaccard, bucketed by exact-similarity decile. A well-sized signature
    * shows avg_est ≈ avg_exact per decile with √(j(1−j)/numPerms) spread;
    * systematic bias says the permutation count (or the shingle cap) is
    * wrong for this corpus.
    *
    * Two pair populations, tagged in the output — estimator behavior
    * differs exactly where each matters:
    *  - `candidate`: LSH-banded candidate pairs (the high-similarity
    *    region where dedup DECISIONS happen);
    *  - `background`: hash-sampled documents paired within small
    *    hash-buckets (the dissimilar mass, where a biased estimator would
    *    create false merges). Sampling and pairing are md5-bucket
    *    deterministic, so the audit replays on any engine/partitioning.
    *
    * Exactness discipline: per-pair lane agreements are integers, exact
    * Jaccards quantize to 1e-6 longs BEFORE averaging, so per-decile
    * averages are order-free integer sums divided once (1e-6-quantized).
    *
    * Scale shape: one posting list feeds signatures AND the exact-overlap
    * verify; candidates come from the banded equi-join (never all-pairs);
    * the background cross-pairing is confined INSIDE md5 hash-buckets of
    * the sampled docs, and the sampling modulus is DERIVED from the
    * corpus size so expected background pairs stay ≤
    * `backgroundPairBudget` no matter how large the corpus — O(budget),
    * not O(n²/mod²); the verify fans candidates out by one side's capped
    * shingles only. `backgroundMod` overrides the derivation (tests and
    * replays that need a pinned modulus).
    *
    * Output: (tag, decile 0–9, n_pairs, avg_est, avg_exact).
    */
  def minhashCalibration(docs: DataFrame, n: Int = 3, numPerms: Int = 16,
      bands: Int = 4, backgroundPairBudget: Long = 100000L,
      pairBuckets: Int = 16,
      maxDf: Int = DefaultMaxShingleDf,
      permHash: (org.apache.spark.sql.Column, Int) => org.apache.spark.sql.Column = Md5PermHash,
      backgroundMod: Option[Int] = None)
      : DataFrame = {
    require(backgroundPairBudget >= 1,
      s"backgroundPairBudget must be >= 1, got $backgroundPairBudget")
    backgroundMod.foreach(m =>
      require(m >= 1, s"backgroundMod must be >= 1, got $m"))
    require(pairBuckets >= 1, s"pairBuckets must be >= 1, got $pairBuckets")
    val sh = graft.CacheRegistry.persist(postingList(docs, n, maxDf))
    val sig = graft.CacheRegistry.persist(sizedSignatures(sh, numPerms, permHash))
    // Fixed-pair-budget sampling: with kept = n/mod docs paired inside
    // pairBuckets md5 buckets, expected background pairs are
    // kept²/(2·pairBuckets). A FIXED modulus makes that quadratic in the
    // corpus (at 100× docs, ~10⁴× pairs); deriving the modulus from the
    // signature count keeps pairs ≤ backgroundPairBudget at ANY corpus
    // size — the audit's cost is O(budget), a dial, not a function of
    // the data. The same derivation replays in the oracle from its own
    // COUNT over sig, so both engines pick the same modulus.
    val mod = backgroundMod.getOrElse {
      val nSig = sig.count()
      math.max(1L, math.ceil(nSig /
        math.sqrt(2.0 * backgroundPairBudget * pairBuckets)).toLong).toInt
    }
    val cand = minhashCandidates(sig, numPerms, bands)
      .select(lit("candidate").as("tag"), col("i"), col("j"))
    val sampled = sig.select(col("doc_id"),
        Sampling.hashBucket(concat(lit("cal:"),
          col("doc_id").cast("string")), mod).as("__keep"),
        Sampling.hashBucket(concat(lit("pb:"),
          col("doc_id").cast("string")), pairBuckets).as("__pb"))
      .filter(col("__keep") === 0)
    val background = sampled.as("a").join(sampled.as("b"),
        col("a.__pb") === col("b.__pb") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(lit("background").as("tag"),
        col("a.doc_id").as("i"), col("b.doc_id").as("j"))
    val pairs = cand.unionByName(background)
    val laneEq = (0 until numPerms)
      .map(p => when(col(s"a.mh$p") === col(s"b.mh$p"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = pairs
      .join(sig.as("a"), col("i") === col("a.doc_id"))
      .join(sig.as("b"), col("j") === col("b.doc_id"))
      .select(col("tag"), col("i"), col("j"), laneEq.as("eq"),
        col("a.sz").as("ni"), col("b.sz").as("nj"))
    val common = pairs.select("i", "j").distinct()
      .join(sh.select(col("doc_id").as("i"), col("s")), "i")
      .join(sh.select(col("doc_id").as("j"), col("s")), Seq("j", "s"))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("common"))
    est.join(common, Seq("i", "j"), "left")
      .withColumn("__c", coalesce(col("common"), lit(0L)))
      .withColumn("__jacq", round(col("__c").cast("double") /
        (col("ni") + col("nj") - col("__c")) * 1e6).cast("long"))
      .withColumn("decile",
        least((col("__jacq") / 100000L).cast("int"), lit(9)))
      .groupBy(col("tag"), col("decile"))
      .agg(count(lit(1)).as("n_pairs"),
        (round(sum(col("eq")) * lit(1000000L) /
          (lit(numPerms.toLong) * count(lit(1)))) / 1e6).as("avg_est"),
        (round(sum(col("__jacq")).cast("double") / count(lit(1))) / 1e6)
          .as("avg_exact"))
  }
}
