package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark's job, stage and task counters, aggregated by the `graft.leg`
  * local property of the thread that launched each job. One listener per
  * SparkContext ([[GraftMetrics.of]]); callers name the work they measure
  * with [[GraftMetrics.withLeg]] and read it back with [[profile]].
  *
  * Local properties are inherited by threads a keyed thread starts, so
  * `ParWrites`' per-call pools and Spark's broadcast/subquery threads
  * carry the key of the op that started them. Jobs launched with no key
  * land under [[GraftMetrics.Unkeyed]].
  */
final class GraftMetrics private (sc: org.apache.spark.SparkContext)
    extends SparkListener {
  import GraftMetrics._

  private val byKey = new ConcurrentHashMap[String, Profile]
  private val stageKey = new ConcurrentHashMap[Int, String]
  private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]

  private def add(key: String, p: Profile): Unit =
    byKey.merge(key, p, (a: Profile, b: Profile) => a + b)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = Option(e.properties).flatMap(p => Option(p.getProperty(LegKey)))
      .getOrElse(Unkeyed)
    add(key, Profile(jobs = 1))
    // a stage shared with an earlier job stays with the job that ran it
    e.stageIds.foreach(stageKey.putIfAbsent(_, key))
    jobStages.put(e.jobId, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStages.remove(e.jobId)).foreach(_.foreach(stageKey.remove))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(stageKey.getOrDefault(e.stageInfo.stageId, Unkeyed), Profile(stages = 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    add(stageKey.getOrDefault(e.stageId, Unkeyed),
      if (m == null) Profile(tasks = 1)
      else Profile(tasks = 1, runMs = m.executorRunTime,
        cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        inputBytes = m.inputMetrics.bytesRead))
  }

  /** The counters under `key`, once every event posted so far (every job
    * that has already returned) has reached this listener.
    */
  def profile(key: String): Profile = {
    GraftListenerBus.drain(sc)
    byKey.getOrDefault(key, Profile())
  }
}

object GraftMetrics {
  /** The local property that keys every counter. */
  val LegKey = "graft.leg"
  /** The key of jobs launched with no [[LegKey]] set. */
  val Unkeyed = ""

  final case class Profile(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                           runMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
                           shuffleReadBytes: Long = 0,
                           shuffleWriteBytes: Long = 0, inputBytes: Long = 0) {
    def +(o: Profile): Profile = Profile(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
      shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes + o.shuffleWriteBytes, inputBytes + o.inputBytes)
    def taskSec: Double = runMs / 1e3
    def cpuSec: Double = cpuNs / 1e9
    def gcSec: Double = gcMs / 1e3
    def shuffleReadMB: Double = shuffleReadBytes / 1e6
    def shuffleWriteMB: Double = shuffleWriteBytes / 1e6
    def inputMB: Double = inputBytes / 1e6
    def toJson: String =
      s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        f""""taskSec":$taskSec%.3f,"cpuSec":$cpuSec%.3f,"gcSec":$gcSec%.3f,""" +
        f""""shuffleReadMB":$shuffleReadMB%.3f,""" +
        f""""shuffleWriteMB":$shuffleWriteMB%.3f,"inputMB":$inputMB%.3f}"""
  }

  /** The session's listener, installed on first use (once per context). */
  def of(spark: SparkSession): GraftMetrics = synchronized {
    val sc = spark.sparkContext
    GraftListenerBus.find[GraftMetrics](sc).getOrElse {
      val m = new GraftMetrics(sc)
      sc.addSparkListener(m)
      m
    }
  }

  /** Run `body` with its jobs (and those of the threads it starts) keyed
    * `key`, restoring the thread's previous key after.
    */
  def withLeg[T](spark: SparkSession, key: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(LegKey)
    sc.setLocalProperty(LegKey, key)
    try body finally sc.setLocalProperty(LegKey, prev)
  }
}
