package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{SparkPlan, SQLExecution}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Harness spans wrap the public calls the benchmark
  * makes; `job` and `sql` spans come from Spark's listener bus and hang
  * under the innermost harness span open when they started.
  */
final case class Span(id: Int, name: String, kind: String, parent: Int,
                      op: Int, startMs: Long, endMs: Long, seconds: Double)

/** The traced run's recorder: harness-owned listeners (Spark jobs, SQL
  * executions with their executed-plan metrics, streaming progress) plus a
  * span stack. Every counter lands in the per-op accumulator of the op whose
  * span was open when the event started. Listeners are attached around
  * traced ops only, so untraced ops in the same run measure the overhead.
  */
final class Tracer(spark: SparkSession) {
  private val lock = new Object
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[(Int, String, Int, Long, Long)]()
  private val perOp = mutable.Map[Int, mutable.Map[String, Double]]()
  private val stageOp = mutable.Map[Int, (Int, Int, Boolean)]()
  private val jobs = mutable.Map[Int, (Int, Int, Long)]()
  private val sqlStarts = mutable.Map[Long, (Int, Int, Long, String)]()
  private var nextId = 0
  // every harness span ever opened, for attributing late listener events
  private val intervals = mutable.ArrayBuffer[(Int, Int, Long, Long)]()

  def spanList: Seq[Span] = lock.synchronized(spans.toList)

  def acc(op: Int): mutable.Map[String, Double] = lock.synchronized(
    perOp.getOrElseUpdate(op, mutable.Map[String, Double]().withDefaultValue(0.0)))

  private def add(op: Int, k: String, v: Double): Unit =
    if (op >= 0) { val a = acc(op); a(k) = a(k) + v }
  private def max(op: Int, k: String, v: Double): Unit =
    if (op >= 0) { val a = acc(op); a(k) = math.max(a(k), v) }

  /** Innermost harness span containing `t` → (op, span id); (-1, -1) when
    * the event belongs to no traced op (set-up, checks, untraced ops).
    */
  private def attribute(t: Long): (Int, Int) = lock.synchronized {
    val hits = intervals.filter { case (_, _, s, e) => s <= t && t <= e }
    if (hits.isEmpty) (-1, -1)
    else { val (id, op, _, _) = hits.maxBy(_._3); (op, id) }
  }

  /** Time `body` as a harness span named `name` under the current one. */
  def span[T](name: String, op: Int)(body: => T): T = {
    val (id, parent, t0) = lock.synchronized {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val t0 = System.currentTimeMillis()
      intervals += ((id, op, t0, Long.MaxValue))
      stack.push((id, name, op, t0, System.nanoTime()))
      (id, parent, t0)
    }
    try body finally lock.synchronized {
      val (_, _, _, _, n0) = stack.pop()
      val t1 = System.currentTimeMillis()
      val i = intervals.indexWhere(_._1 == id)
      intervals(i) = (id, op, t0, t1)
      spans += Span(id, name, "harness", parent, op, t0, t1,
        (System.nanoTime() - n0) / 1e9)
    }
  }

  private def childSpan(name: String, kind: String, op: Int, parent: Int,
                        s: Long, e: Long): Unit = lock.synchronized {
    val id = nextId; nextId += 1
    spans += Span(id, name, kind, parent, op, s, e, (e - s) / 1e3)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val (op, parent) = attribute(e.time)
      val noSql = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .isEmpty
      lock.synchronized {
        jobs(e.jobId) = (op, parent, e.time)
        e.stageInfos.foreach { si =>
          val scan = si.rddInfos.exists(r => r.name.contains("FileScanRDD") ||
            r.scope.exists(_.name.startsWith("Scan ")))
          stageOp(si.stageId) = (op, parent, scan)
        }
      }
      add(op, "spark.jobs", 1)
      if (noSql) add(op, "driver.jobs_without_sql", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      lock.synchronized(jobs.remove(e.jobId)).foreach { case (op, parent, s) =>
        if (op >= 0) childSpan(s"job ${e.jobId}", "job", op, parent, s, e.time)
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized(stageOp.get(e.stageInfo.stageId))
        .foreach { case (op, _, _) => add(op, "spark.stages", 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val (op, _, scan) = lock.synchronized(stageOp.getOrElse(e.stageId, (-1, -1, false)))
      val m = e.taskMetrics
      if (op < 0 || m == null) return
      val info = e.taskInfo
      val run = m.executorRunTime / 1e3
      add(op, "spark.tasks", 1)
      add(op, "spark.task_s", run)
      add(op, "spark.cpu_s", m.executorCpuTime / 1e9)
      add(op, "spark.gc_s", m.jvmGCTime / 1e3)
      add(op, "spark.sched_delay_s", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime) / 1e3)
      add(op, "spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add(op, "spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add(op, "spark.shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      add(op, "sources.bytes_read", m.inputMetrics.bytesRead)
      add(op, "operators.spill_bytes", m.diskBytesSpilled)
      max(op, "operators.peak_exec_mem_mb", m.peakExecutionMemory / 1048576.0)
      if (scan) add(op, "sources.scan_s", run)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val (op, parent) = attribute(s.time)
        if (op >= 0) lock.synchronized(
          sqlStarts(s.executionId) = (op, parent, s.time, s.description.take(60)))
      case end: SparkListenerSQLExecutionEnd =>
        lock.synchronized(sqlStarts.remove(end.executionId)).foreach {
          case (op, parent, s, desc) =>
            childSpan(s"sql ${end.executionId}: $desc", "sql", op, parent, s, end.time)
        }
      case _ =>
    }
  }

  /** Walk an executed plan through AQE stages, commands and subqueries,
    * each node once.
    */
  private def nodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val out = mutable.ArrayBuffer[SparkPlan]()
    def walk(p: SparkPlan): Unit = if (seen.add(p)) p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec =>
      case _ =>
        out += p
        (p.children ++ p.subqueries ++
          p.innerChildren.collect { case c: SparkPlan => c }).foreach(walk)
    }
    walk(root)
    out.toSeq
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                           durationNs: Long): Unit = record(qe)
    override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                           ex: Exception): Unit = record(qe)
    private def record(qe: org.apache.spark.sql.execution.QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      val t = if (phases.isEmpty) System.currentTimeMillis()
              else phases.map(_.startTimeMs).min
      val (op, _) = attribute(t)
      if (op < 0 || !attached) return
      add(op, "driver.plan_s", phases.map(_.durationMs).sum / 1e3)
      nodes(qe.executedPlan).foreach { n =>
        val cls = n.getClass.getSimpleName
        def metric(k: String): Double = n.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
        add(op, "operators.agg_s", metric("aggTime") / 1e3)
        add(op, "operators.sort_s", metric("sortTime") / 1e3)
        if (cls.contains("BroadcastExchange"))
          add(op, "operators.broadcast_build_s",
            (metric("buildTime") + metric("collectTime")) / 1e3)
        if (cls.contains("Scan")) {
          add(op, "sources.files_read", metric("numFiles"))
          add(op, "sources.rows_scanned", metric("numOutputRows"))
        }
        if (cls.contains("DataWritingCommand") || cls.contains("WriteFiles")) {
          add(op, "sinks.files_written", metric("numFiles"))
          add(op, "sinks.bytes_written", metric("numOutputBytes"))
          add(op, "sinks.task_commit_s", metric("taskCommitTime") / 1e3)
          add(op, "sinks.job_commit_s", metric("jobCommitTime") / 1e3)
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val (op, _) = attribute(java.time.Instant.parse(p.timestamp).toEpochMilli)
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0) / 1e3
      add(op, "streaming.add_batch_s", d("addBatch"))
      add(op, "streaming.wal_commit_s", d("walCommit"))
      add(op, "streaming.commit_offsets_s", d("commitOffsets"))
      add(op, "streaming.query_planning_s", d("queryPlanning"))
      add(op, "streaming.trigger_s", d("triggerExecution"))
    }
  }

  // A streaming query runs its batches in a clone of the session, made when
  // the query starts and carrying the query-execution listeners registered
  // by then; so this one stays registered from the start and drops what
  // falls outside traced ops.
  spark.listenerManager.register(qeListener)

  @volatile private var attached = false

  def attach(): Unit = {
    attached = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait for every queued event, then detach the listeners. */
  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Seconds of `opSpan` covered by at least one of its jobs. */
  def jobBusySeconds(opSpan: Span): Double = {
    val iv = spanList.filter(s => s.kind == "job" && s.op == opSpan.op)
      .map(s => (math.max(s.startMs, opSpan.startMs), math.min(s.endMs, opSpan.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    covered / 1e3
  }

  /** All spans as JSON lines, with each span's self time (its duration
    * minus the time covered by its direct children).
    */
  def writeSpans(path: java.io.File): Unit = {
    val all = spanList
    val kids = all.groupBy(_.parent)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(s => (s.startMs, s.id)).foreach { s =>
      val child = kids.getOrElse(s.id, Nil).map(_.seconds).sum
      val name = s.name.replace("\\", "\\\\").replace("\"", "\\\"")
        .filter(c => c >= ' ')
      w.println(f"""{"id":${s.id},"name":"$name","kind":"${s.kind}","parent":${s.parent},""" +
        f""""op":${s.op},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        f""""seconds":${s.seconds}%.6f,"self_s":${math.max(0.0, s.seconds - child)}%.6f}""")
    } finally w.close()
  }
}

/** The span helper workloads call: records under the active tracer when the
  * current op is traced, otherwise just runs the body.
  */
object Spans {
  @volatile var current: Option[(Tracer, Int)] = None
  def apply[T](name: String)(body: => T): T = current match {
    case Some((t, op)) => t.span(name, op)(body)
    case None => body
  }
}
