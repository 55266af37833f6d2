package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

/** One closed-loop workload: a single client whose next op starts only when
  * the previous one returns. Inputs are generated from the seed outside the
  * timed section; every op's outputs are checked after it returns.
  */
trait Workload {
  def name: String
  /** Input sizes and traffic dimensions, printed beside the metrics. */
  def dims: Seq[(String, String)]
  /** Ops per schedule cycle: a run measures whole cycles, so every run
    * covers the same mix of op kinds.
    */
  def cycle: Int
  /** Warm-up ops before the loop, numbered -warmUpOps .. -1. */
  def warmUpOps: Int = 1
  /** One set-up repetition in the fresh directory `dir`: write the
    * generated inputs and seed any standing state. The warm-up ops and the
    * loop run on the state of the last repetition.
    */
  def prepare(rep: Int, dir: File): Unit
  /** Digest of the state after the warm-up ops, when the workload keeps any:
    * every run with the same seed must reproduce it.
    */
  def stateDigest(): Option[String] = None
  /** Digest of the inputs this run generated, and of the inputs the
    * generator makes afresh for `seed`.
    */
  def inputDigest: String
  def inputDigestOf(seed: Long): String
  /** Untimed per-op input staging. */
  def stage(i: Int): Unit = ()
  /** The timed op; returns the generated input rows it completed. */
  def run(i: Int): Long
  /** A read issued after op `i` against the state it wrote, timed apart and
    * counted inside the op's latency; `false` when the workload has none.
    */
  def serve(i: Int): Boolean = false
  /** Mismatches in op `i`'s outputs; empty when all checks pass. */
  def check(i: Int): Seq[String]
  def opInputBytes(i: Int): Long
  /** Deliverable bytes op `i` wrote outside Hadoop's FileSystem. */
  def directWrittenBytes(i: Int): Long = 0L
  /** End-of-run checks; stops anything the workload started. */
  def finish(): Seq[String] = Nil
  /** Outputs + state on disk at the end, and the input bytes they hold. */
  def stateRoots: Seq[File]
  def stateInputBytes: Long
  def storeRoots: Seq[File]
  def checkpointRoot: Option[File] = None
  /** Extra result lines (check shares, serve recall). */
  def summary: Seq[(String, String)] = Nil
}

object Util {
  def sha256(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p.getBytes(UTF_8)))
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }

  /** (bytes, files) under `f`, recursively. */
  def du(f: File): (Long, Long) =
    if (!f.exists()) (0L, 0L)
    else if (f.isFile) (f.length(), 1L)
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(du)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def write(f: File, content: String): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, content.getBytes(UTF_8))
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(rmrf)
    f.delete()
  }

  /** Nearest-rank value of sorted `xs` at rank `k` (1-based). */
  def rank(xs: Seq[Double], k: Int): Double = xs.sorted.apply(k - 1)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The tail rule: the highest nearest-rank percentile with at least ten
    * ops beyond it, but never below p75 — shorter runs report p75 with
    * fewer ops beyond. Returns (value, percentile, ops beyond).
    */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.size
    val k = math.max(n - 10, math.ceil(0.75 * n).toInt).max(1).min(n)
    (rank(xs, k), 100.0 * k / n, n - k)
  }
}
