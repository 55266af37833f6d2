package perfbench

import java.io.File
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** The graft benchmark harness. One process, one `local[N]` session
  * (N = available cores), one closed-loop workload with one client:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <scratch dir> [--spans <file>] [--digests <dir>]
  *
  * Set-up is session start, plus the median of [[SetupReps]] repetitions of
  * input generation and standing-state seeding, plus the warm-up ops. The
  * loop then runs whole schedule cycles of ops until `--seconds` of wall
  * time have passed; each op's outputs are checked outside its timing.
  * `--digests` keeps the state digest after the warm-up ops per seed, and a
  * later run with the same seed must reproduce it. With `--trace 0` it prints
  * the end-to-end metrics from plain timers; with `--trace 1` every other
  * cycle runs under the harness listeners and the per-layer metrics come
  * from its ops, the untraced cycles giving the tracing overhead. The last stdout
  * line is one JSON object: correct, attempted, failed, metrics.
  */
object Main {
  val SetupReps = 2
  val Workloads = Seq("mape_report", "anonymize_daily", "corpus_stream")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: File, spans: Option[File], digests: Option[File])

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", new File(need("work")), m.get("spans").map(new File(_)),
      m.get("digests").map(new File(_)))
    require(Workloads.contains(o.workload), s"unknown workload ${o.workload}; one of ${Workloads.mkString(", ")}")
    require(o.seconds >= 1, "--seconds must be at least 1")
    o
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The session confs Bench.scala measures under, plus a scratch-local
    * warehouse and spill dir.
    */
  def confs(cpus: Int, work: File): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.maxPlanStringLength" -> "1000000",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "6000",
    "spark.shuffle.sort.bypassMergeThreshold" -> "0",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.sql.streaming.checkpointLocation.deleteOnExit" -> "true",
    "spark.local.dir" -> new File(work, "spark-local").getPath,
    "spark.sql.warehouse.dir" -> new File(work, "warehouse").getPath)

  /** Hadoop FileSystem totals over every scheme: (bytes written, bytes
    * read). The local file system keeps no read/write op counts.
    */
  private def fsTotals(): (Long, Long) = {
    def get(s: org.apache.hadoop.fs.StorageStatistics, k: String): Long =
      Option(s.getLong(k)).map(_.longValue).getOrElse(0L)
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator().asScala
      .map(s => (get(s, "bytesWritten"), get(s, "bytesRead")))
      .foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  final case class OpRecord(i: Int, seconds: Double, serveSeconds: Option[Double], rows: Long,
                            inputBytes: Long, fsWritten: Long, fsRead: Long,
                            directWritten: Long, traced: Boolean, failures: Seq[String])

  private def session(cpus: Int, work: File): SparkSession = {
    work.mkdirs()
    val builder = SparkSession.builder().appName("perfbench")
    confs(cpus, work).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def workload(spark: SparkSession, name: String, seed: Long): Workload = name match {
    case "mape_report" => new MapeReport(spark, seed)
    case "anonymize_daily" => new AnonymizeDaily(spark, seed)
    case "corpus_stream" => new CorpusStream(spark, seed)
  }

  def main(args: Array[String]): Unit = args match {
    case Array("--archive-warm-up", work) => archiveWarmUp(new File(work))
    case _ =>
      val o = parse(args)
      val cpus = Runtime.getRuntime.availableProcessors
      val t0 = System.nanoTime()
      val spark = session(cpus, o.work)
      val sessionStart = secondsSince(t0)
      try runWorkload(spark, o, cpus, sessionStart)
      finally spark.stop()
  }

  /** Load every class the workloads use: one set-up and warm-up op each.
    * Run once per build under `-XX:ArchiveClassesAtExit`, so every measured
    * run starts from the same class-data archive.
    */
  private def archiveWarmUp(work: File): Unit = {
    val spark = session(Runtime.getRuntime.availableProcessors, work)
    try Workloads.foreach { name =>
      val wl = workload(spark, name, 0L)
      wl.prepare(0, new File(work, name))
      (-wl.warmUpOps to -1).foreach { w => wl.stage(w); wl.run(w); wl.serve(w); wl.check(w) }
      wl.finish()
    } finally spark.stop()
  }

  private def runWorkload(spark: SparkSession, o: Opts, cpus: Int, sessionStart: Double): Unit = {
    val wl = workload(spark, o.workload, o.seed)
    val setupFailures = mutable.ArrayBuffer[String]()
    System.err.println(f"perfbench: session started in $sessionStart%.2f s")
    val (d1, d2, d3) = (wl.inputDigest, wl.inputDigestOf(o.seed), wl.inputDigestOf(o.seed + 1))
    if (d1 != d2) setupFailures += s"input digest differs for one seed: $d1 vs $d2"
    if (d1 == d3) setupFailures += s"seeds ${o.seed} and ${o.seed + 1} give the same inputs $d1"

    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    // set-up: inputs + standing state, repeated; then the warm-up ops on the
    // last repetition's state
    val repSeconds = (0 until SetupReps).map { r =>
      val dir = new File(o.work, s"rep$r")
      val t = System.nanoTime()
      wl.prepare(r, dir)
      val dt = secondsSince(t)
      System.err.println(f"perfbench: set-up $r took $dt%.2f s")
      if (r < SetupReps - 1) { wl.finish(); Util.rmrf(dir) }
      dt
    }
    val warmS = (-wl.warmUpOps to -1).map { w =>
      wl.stage(w)
      val t = System.nanoTime()
      wl.run(w)
      wl.serve(w)
      val dt = secondsSince(t)
      System.err.println(f"perfbench: warm-up op $w took $dt%.2f s")
      setupFailures ++= wl.check(w).map(s"warm-up op $w: " + _)
      dt
    }.sum
    val setupS = sessionStart + Util.median(repSeconds) + warmS
    val stateDigest = wl.stateDigest()
    for (d <- stateDigest; dir <- o.digests) {
      val f = new File(dir, s"${o.workload}-seed${o.seed}.txt")
      if (f.isFile) {
        val before = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        if (before != d) setupFailures += s"state after the warm-up op is $d, an earlier run with this seed had $before"
      } else Util.write(f, d)
    }

    val ops = mutable.ArrayBuffer[OpRecord]()
    System.gc()
    // whole schedule cycles until --seconds have passed; a traced run
    // alternates untraced and traced cycles, at least one of each
    val cycleLen = if (o.trace) 2 * wl.cycle else wl.cycle
    val loop0 = System.nanoTime()
    var i = 0
    while (secondsSince(loop0) < o.seconds || i % cycleLen != 0) {
      wl.stage(i)
      val traced = tracer.isDefined && (i / wl.cycle) % 2 == 1
      if (traced) { tracer.get.attach(); Spans.current = Some((tracer.get, i)) }
      val (fw0, fr0) = fsTotals()
      val t = System.nanoTime()
      val outcome = scala.util.Try {
        Spans("op") {
          val rows = wl.run(i)
          val ts = System.nanoTime()
          val served = wl.serve(i)
          (rows, if (served) Some(secondsSince(ts)) else None)
        }
      }
      val dt = secondsSince(t)
      val (fw1, fr1) = fsTotals()
      if (traced) { Spans.current = None; tracer.get.detach() }
      val failures = outcome match {
        case scala.util.Success(_) =>
          scala.util.Try(wl.check(i)).fold(e => Seq(s"check threw $e"), identity)
        case scala.util.Failure(e) => Seq(s"op threw $e")
      }
      val (rows, serveS) = outcome.getOrElse((0L, None))
      ops += OpRecord(i, dt, serveS, rows, scala.util.Try(wl.opInputBytes(i)).getOrElse(0L),
        fw1 - fw0, fr1 - fr0, scala.util.Try(wl.directWrittenBytes(i)).getOrElse(0L),
        traced, failures)
      System.err.println(f"perfbench: op $i ${if (traced) "traced " else ""}took $dt%.3f s")
      failures.foreach(f => System.err.println(s"perfbench: op $i FAILED: $f"))
      i += 1
    }
    val finishFailures = wl.finish()
    val rss = peakRssMb()
    val (stateBytes, _) = wl.stateRoots.map(Util.du).foldLeft((0L, 0L)) {
      case ((a, b), (c, d)) => (a + c, b + d)
    }

    val untraced = ops.filterNot(_.traced).toSeq
    val e2e = endToEnd(untraced, setupS, stateBytes, wl.stateInputBytes)
    val failedOps = ops.count(_.failures.nonEmpty)
    val otherFailures = setupFailures ++ finishFailures
    otherFailures.foreach(f => System.err.println(s"perfbench: FAILED: $f"))
    val failed = failedOps + otherFailures.size
    val attempted = ops.size + otherFailures.size

    def p(k: String, v: Any): Unit = println(s"perfbench $k $v")
    p("workload", s"${o.workload} seed=${o.seed} seconds=${o.seconds} trace=${if (o.trace) 1 else 0}")
    p("host", s"nproc=$cpus master=local[$cpus] heap_max_mb=${Runtime.getRuntime.maxMemory / 1048576}")
    p("confs", confs(cpus, o.work).filterNot(_._1.endsWith(".dir")).map { case (k, v) => s"$k=$v" }.mkString(" "))
    p("loop", s"closed, clients=1, ops=${ops.size} traced_ops=${ops.count(_.traced)}")
    wl.dims.foreach { case (k, v) => p(s"dim.$k", v) }
    p("setup.reps_s", repSeconds.map(x => f"$x%.3f").mkString("[", ",", "]") + f" warm_up_ops_s=$warmS%.3f")
    p("check.input_digest", s"$d1 (seed ${o.seed}), $d3 (seed ${o.seed + 1})")
    stateDigest.foreach(d => p("check.state_digest_after_warm_up", d))
    wl.summary.foreach { case (k, v) => p(s"check.$k", v) }
    e2e.foreach { case (k, (v, u)) => p(s"metric.$k", s"$v $u") }
    val (_, tailPct, tailBeyond) = Util.tail(untraced.map(_.seconds))
    p("metric.op_tail_s.rule", f"p$tailPct%.1f with $tailBeyond ops beyond, of ${untraced.size}")
    p("metric.fail_ratio", s"${failed.toDouble / math.max(1, attempted)} ratio")
    p("metric.peak_rss_mb", s"$rss MB")
    val serves = untraced.flatMap(_.serveSeconds)
    if (serves.nonEmpty) {
      val (sv, spct, sbeyond) = Util.tail(serves)
      p("metric.serve_p50_s", s"${Util.median(serves)} s")
      p("metric.serve_tail_s", f"$sv s (p$spct%.1f with $sbeyond serves beyond)")
    }

    val metrics: Seq[(String, (Double, String))] = tracer match {
      case None => e2e
      case Some(t) =>
        val layers = perLayer(t, ops.toSeq, wl, sessionStart) :+ ("driver.peak_rss_mb" -> (rss, "MB"))
        o.spans.foreach { f =>
          f.getParentFile.mkdirs(); t.writeSpans(f)
          val sp = t.spanList
          p("trace.spans_file", s"${f.getPath} spans=${sp.size} with_parent=${sp.count(_.parent >= 0)}")
        }
        layers.foreach { case (k, (v, u)) => p(s"layer.$k", s"$v $u") }
        layers
    }
    val json = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0.0" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${math.max(1, attempted)}, "failed": $failed, "metrics": {$json}}""")
    System.out.flush()
  }

  private def endToEnd(ops: Seq[OpRecord], setupS: Double, stateBytes: Long,
                       stateInputBytes: Long): Seq[(String, (Double, String))] = {
    val secs = ops.map(_.seconds)
    val ok = ops.filter(_.failures.isEmpty)
    val input = ops.map(_.inputBytes).sum.toDouble
    Seq(
      "setup_s" -> (setupS, "s"),
      "rows_per_s" -> (ok.map(_.rows).sum / math.max(1e-9, secs.sum), "rows/s"),
      "op_p50_s" -> (Util.median(secs), "s"),
      "op_tail_s" -> (Util.tail(secs)._1, "s"),
      "write_amp" -> (ops.map(o => o.fsWritten + o.directWritten).sum / math.max(1.0, input), "ratio"),
      "space_amp" -> (stateBytes / math.max(1.0, stateInputBytes.toDouble), "ratio"))
  }

  /** Per-layer metrics over the traced ops: each additive counter as its mean
    * per op (`.op`) and its total over the run's traced ops (`.run`).
    */
  private def perLayer(t: Tracer, ops: Seq[OpRecord], wl: Workload,
                       sessionStart: Double): Seq[(String, (Double, String))] = {
    val traced = ops.filter(_.traced)
    val spans = t.spanList
    val opSpans = spans.filter(s => s.kind == "harness" && s.name == "op").map(s => s.op -> s).toMap
    val perOp: Seq[Map[String, Double]] = traced.map { r =>
      val a = t.acc(r.i)
      val span = opSpans.get(r.i)
      val children = spans.filter(s => s.kind == "harness" && span.exists(_.id == s.parent))
      val busy = span.map(t.jobBusySeconds).getOrElse(0.0)
      a.toMap ++ Map(
        "spark.offcpu_s" -> (a("spark.task_s") - a("spark.cpu_s")),
        "driver.job_busy_s" -> busy,
        "driver.self_s" -> (span.map(_.seconds).getOrElse(0.0) - busy),
        "pipelines.op_s" -> children.filter(_.name != "serve").map(_.seconds).sum,
        "serve.s" -> children.filter(_.name == "serve").map(_.seconds).sum,
        "fs.bytes_written" -> r.fsWritten.toDouble,
        "fs.bytes_read" -> r.fsRead.toDouble,
        "sinks.files_written" -> (a("sinks.files_written") + (if (r.directWritten > 0) 1 else 0)),
        "sinks.bytes_written" -> (a("sinks.bytes_written") + r.directWritten))
    }
    val additive = PerLayerAdditive.flatMap { case (k, u) =>
      val xs = perOp.map(_.getOrElse(k, 0.0))
      Seq(s"$k.op" -> (xs.sum / math.max(1, xs.size), u), s"$k.run" -> (xs.sum, u))
    }
    val (storeBytes, storeFiles) = wl.storeRoots.map(Util.du).foldLeft((0L, 0L)) {
      case ((a, b), (c, d)) => (a + c, b + d)
    }
    def rate(rs: Seq[OpRecord]) = rs.map(_.rows).sum / math.max(1e-9, rs.map(_.seconds).sum)
    val untraced = ops.filterNot(_.traced)
    Seq("session.start_s" -> (sessionStart, "s")) ++ additive ++ Seq(
      "sources.rows_scanned_per_input_row" ->
        (perOp.map(_.getOrElse("sources.rows_scanned", 0.0)).sum / math.max(1L, traced.map(_.rows).sum), "ratio"),
      "operators.peak_exec_mem_mb" -> (perOp.map(_.getOrElse("operators.peak_exec_mem_mb", 0.0)).maxOption.getOrElse(0.0), "MB"),
      "operators.store_bytes" -> (storeBytes.toDouble, "bytes"),
      "operators.store_files" -> (storeFiles.toDouble, "count"),
      "streaming.checkpoint_bytes" -> (wl.checkpointRoot.map(Util.du(_)._1).getOrElse(0L).toDouble, "bytes"),
      "trace.overhead" -> (if (traced.isEmpty || untraced.isEmpty) 0.0 else rate(untraced) / rate(traced) - 1, "ratio"),
      "trace.traced_ops" -> (traced.size.toDouble, "count"),
      "trace.spans" -> (spans.size.toDouble, "count"))
  }

  /** Additive per-op counters, each reported as `.op` (mean) and `.run`. */
  val PerLayerAdditive: Seq[(String, String)] = Seq(
    "sources.scan_s" -> "s", "sources.bytes_read" -> "bytes", "sources.files_read" -> "count",
    "operators.agg_s" -> "s", "operators.sort_s" -> "s", "operators.broadcast_build_s" -> "s",
    "operators.spill_bytes" -> "bytes",
    "pipelines.op_s" -> "s", "serve.s" -> "s",
    "sinks.files_written" -> "count", "sinks.bytes_written" -> "bytes",
    "sinks.task_commit_s" -> "s", "sinks.job_commit_s" -> "s",
    "fs.bytes_written" -> "bytes", "fs.bytes_read" -> "bytes",
    "streaming.add_batch_s" -> "s", "streaming.wal_commit_s" -> "s",
    "streaming.commit_offsets_s" -> "s", "streaming.query_planning_s" -> "s",
    "streaming.trigger_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.cpu_s" -> "s", "spark.offcpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.sched_delay_s" -> "s", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_fetch_wait_s" -> "s",
    "driver.plan_s" -> "s", "driver.job_busy_s" -> "s", "driver.self_s" -> "s",
    "driver.jobs_without_sql" -> "count")
}
