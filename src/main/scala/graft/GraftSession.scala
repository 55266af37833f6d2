package graft

import org.apache.spark.sql.SparkSession

/** The engine's session: one conf list and the one place graft builds a
  * `SparkSession`. Bench, Verify, the tools and the test harness all run
  * on it, so the session the gates check is the session a library user
  * gets from [[local]].
  */
object GraftSession {

  /** Confs for a `local[cpus]` session. Several are static (codegen cache,
    * extensions, the shuffle writer): they only take effect when set
    * before the session exists.
    */
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.maxPlanStringLength" -> "1000000",
    "spark.ui.enabled" -> "false",
    // the default 100-entry codegen class cache thrashes once an
    // inventory this size (70 queries × several stages × 2 passes) runs
    // in one JVM: by pass 2 every pass-1 class is evicted and janino
    // recompiles whole stages inside the measurement — ~2s artifacts on
    // the biggest generated stage (q38's k×dim assignment). Any
    // production session serving a large query library wants this
    // raised; it is a static conf, so it must be set before the session
    // exists. Round 13 re-hit the wall at 2000 entries: the 194→196
    // growth (three more IVF-training queries) evicted q38's stage
    // again (reproducible 1.75 → ~4.0 s with a uniform ~15% drag on
    // everything) — 6000 restores the measurement.
    "spark.sql.codegen.cache.maxEntries" -> "6000",
    // NEVER take the bypass-merge shuffle writer (round-19 diagnostic
    // of the "8 cores beats 32" cluster): the bypass writer opens one
    // FILE PER REDUCE PARTITION per map task — M×R file creates per
    // shuffle, all cores concurrently in FileOutputStream.open0
    // (thread-dump-attributed; taskSec on q40/q182/q22/q171 inflated
    // 8-20× at local[32] vs local[8], GC ≈ 0, pure file-create
    // contention, then the N-way concat). The sort writer lands ONE
    // data+index file per map task at any R — the shape that scales
    // (it is why sort-based shuffle replaced hash shuffle; the bypass
    // path is the hash writer's remnant). Measured same-window at 32
    // cores: q40 7.3→1.1 s, q182 7.3→1.7, q171 5.2→1.8, q109 taskSec
    // 70→27; at 8 cores every reading also improved — cluster-valid,
    // not a core-count tune.
    "spark.shuffle.sort.bypassMergeThreshold" -> "0",
    "spark.sql.extensions" -> classOf[GraftExtensions].getName)

  /** The graft session on `local[cpus]` (the active one if it exists). */
  def local(cpus: Int): SparkSession = {
    val builder = SparkSession.builder()
    confs(cpus).foreach { case (k, v) => builder.config(k, v) }
    builder.getOrCreate()
  }
}
