package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one-row commit-marker layout every generational/epochal store
  * shares (`<store>/commits/<key>=N` holding `is_base` and, since the
  * writer-identity hardening, `writer`). Centralized so a marker-schema
  * change lands once, not once per store.
  */
private[graft] object StoreCommits {
  import org.apache.hadoop.fs.{FileSystem, Path}
  import org.apache.parquet.example.data.simple.SimpleGroup
  import org.apache.parquet.hadoop.ParquetReader
  import org.apache.parquet.hadoop.api.ReadSupport
  import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
  import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
  import org.apache.parquet.schema.{MessageType, MessageTypeParser}

  /** One-row marker relations are read and written DRIVER-SIDE through
    * parquet-mr (no Spark job): a lifecycle op pays a marker write plus
    * at least one marker-tree read, and submitting a full Spark job —
    * plan, schedule, task, commit protocol — for one row each way was a
    * measured ~40-100 ms per marker, a visible slice of every
    * build/append/delete/forget at small batch sizes (round-18 per-query
    * job profile on a 32-core host: the geo lifecycle queries run 70-200 jobs at
    * < 10 ms of task time per job). The files stay ORDINARY PARQUET — `spark.read.parquet`
    * reads driver-written markers and parquet-mr reads Spark-written
    * ones, so stores written by either vintage interoperate.
    */
  private val MarkerSchema: MessageType = MessageTypeParser.parseMessageType(
    "message commit { optional boolean is_base; optional binary writer (UTF8); }")
  private val SidecarSchema: MessageType = MessageTypeParser.parseMessageType(
    "message commit_writer { optional binary writer (UTF8); }")

  private def conf(spark: SparkSession) =
    spark.sparkContext.hadoopConfiguration

  /** The filesystem a store's `path` lives on, under the session's
    * Hadoop conf — what the lifecycle ops probe for data dirs, flags
    * and locks.
    */
  private[operators] def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(conf(spark))

  /** Write the one-row marker at `dir` driver-side: temp file + rename,
    * so a concurrent or crashed writer leaves the marker either absent
    * (invisible epoch — the protocol's normal crash state) or complete,
    * exactly like the job-based overwrite write it replaces.
    */
  private def writeOneRow(spark: SparkSession, dir: String,
                          schema: MessageType,
                          fill: SimpleGroup => Unit): Unit = {
    val d = new Path(dir)
    val fs = d.getFileSystem(conf(spark))
    if (fs.exists(d)) fs.delete(d, true)
    fs.mkdirs(d)
    val tmp = new Path(d,
      s".part-00000-${java.util.UUID.randomUUID}.parquet.tmp")
    val w = ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(tmp, conf(spark)))
      .withConf(conf(spark)).withType(schema).build()
    val g = new SimpleGroup(schema)
    fill(g)
    w.write(g)
    w.close()
    fs.rename(tmp, new Path(d, "part-00000-marker.parquet"))
  }

  /** Write the commit marker at `$path/commits/$key` (one row:
    * is_base, writer) — driver-side, atomic-rename, no Spark job.
    */
  def writeMarker(spark: SparkSession, path: String, key: String,
                  isBase: Boolean, writer: String): Unit =
    writeOneRow(spark, s"$path/commits/$key", MarkerSchema, { g =>
      g.add("is_base", isBase)
      g.add("writer", writer)
    })

  /** Land a schema-carrying EMPTY parquet relation at `dir` driver-side
    * (temp file + atomic rename, overwrite semantics) — the zero-row
    * uniformity writes the store layouts require (a forget generation's
    * empty posting/fingerprint/registry deltas, an erasure epoch's empty
    * attrs relation) each previously paid a full Spark job to write
    * nothing. The schema converts exactly as Spark's own parquet writer
    * would, so `spark.read.parquet` round-trips it like the job-written
    * empty file it replaces.
    */
  def writeEmptyRelation(spark: SparkSession, dir: String,
                         schema: org.apache.spark.sql.types.StructType)
      : Unit = {
    val d = new Path(dir)
    val fs = d.getFileSystem(conf(spark))
    if (fs.exists(d)) fs.delete(d, true)
    fs.mkdirs(d)
    val tmp = new Path(d,
      s".part-00000-${java.util.UUID.randomUUID}.parquet.tmp")
    val w = ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(tmp, conf(spark)))
      .withConf(conf(spark))
      .withType(org.apache.spark.sql.GraftShim.parquetMessageType(schema))
      .build()
    w.close()
    fs.rename(tmp, new Path(d, "part-00000-empty.parquet"))
  }

  /** Driver-side read of the single row of one marker dir. Returns the
    * values of the requested field names that EXIST in the file (legacy
    * markers predate the writer column), or None when the dir holds no
    * non-empty part file.
    */
  private def readOneRow(fs: FileSystem, dir: Path,
                         spark: SparkSession)
      : Option[(Boolean, Option[String])] = {
    if (!fs.exists(dir)) return None
    val part = fs.listStatus(dir).find(st =>
      st.isFile && st.getLen > 0 &&
        st.getPath.getName.startsWith("part-"))
    part.flatMap { st =>
      val in = HadoopInputFile.fromPath(st.getPath, conf(spark))
      val fileSchema = {
        val fr = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try fr.getFooter.getFileMetaData.getSchema finally fr.close()
      }
      // project with the FILE's own field types (legacy markers wrote
      // is_base as required where the template says optional — parquet's
      // schema-containment check rejects a repetition mismatch)
      import scala.jdk.CollectionConverters._
      val wantedNames = MarkerSchema.getFields.asScala.map(_.getName).toSet
      val requested = new MessageType("commit",
        fileSchema.getFields.asScala
          .filter(f => wantedNames.contains(f.getName)).asJava)
      val c = new org.apache.hadoop.conf.Configuration(conf(spark))
      c.set(ReadSupport.PARQUET_READ_SCHEMA, requested.toString)
      val r = ParquetReader
        .builder(new GroupReadSupport(), st.getPath).withConf(c).build()
      try {
        val g = r.read()
        if (g == null) None
        else {
          val isBase = requested.containsField("is_base") &&
            g.getFieldRepetitionCount("is_base") > 0 &&
            g.getBoolean("is_base", 0)
          val writer =
            if (requested.containsField("writer") &&
                g.getFieldRepetitionCount("writer") > 0)
              Some(g.getString("writer", 0))
            else None
          Some((isBase, writer))
        }
      } finally r.close()
    }
  }

  /** Every committed key under `$path/commits` as key-value → is_base —
    * the committed-epoch/generation listing every store reads, driver-side
    * (one FS listing + one tiny footer/page read per marker; no Spark job).
    */
  def committedMap(spark: SparkSession, path: String,
                   keyCol: String): Map[Long, Boolean] = {
    val root = new Path(s"$path/commits")
    val fs = root.getFileSystem(conf(spark))
    if (!fs.exists(root)) return Map.empty
    fs.listStatus(root).iterator.flatMap { st =>
      val name = st.getPath.getName
      if (!st.isDirectory || !name.startsWith(s"$keyCol=")) Iterator.empty
      else readOneRow(fs, st.getPath, spark).iterator.map { case (b, _) =>
        name.stripPrefix(s"$keyCol=").toLong -> b
      }
    }.toMap
  }

  /** (is_base, writer) of the marker at `$path/commits/$key` — writer
    * None for markers written before the writer-identity column existed
    * AND never upgraded. An upgraded legacy marker's writer lives in a
    * SIDECAR (`$path/commits_writer/$key`) so the migration never
    * rewrites a COMMITTED marker in place: an overwrite would delete the
    * marker before re-creating it, and a crash (or concurrent reader) in
    * that window loses a committed generation/epoch — the exact
    * crash-invisibility protocol the markers exist for. Losing a torn
    * sidecar merely degrades that one marker back to the legacy
    * fallback, never the commit itself.
    */
  def read(spark: SparkSession, path: String,
           key: String): (Boolean, Option[String]) = {
    val dir = new Path(s"$path/commits/$key")
    val fs = dir.getFileSystem(conf(spark))
    readOneRow(fs, dir, spark) match {
      case Some((isBase, w)) =>
        (isBase, w.orElse(sidecarWriter(spark, path, key)))
      case None =>
        throw new IllegalArgumentException(
          s"no commit marker at $path/commits/$key")
    }
  }

  private def sidecarWriter(spark: SparkSession, path: String,
                            key: String): Option[String] = {
    val p = new Path(s"$path/commits_writer/$key")
    val fs = p.getFileSystem(conf(spark))
    readOneRow(fs, p, spark).flatMap(_._2)
  }

  /** Fail with the seed contract NAMED when a store at `path` was never
    * seeded — the `latest*` entry points otherwise surface an opaque
    * parquet PATH_NOT_FOUND (or `empty.max`) from inside a streaming
    * sink's prologue. `what` names the store kind; the
    * message states the build-seeds-state-zero contract the sinks
    * document.
    */
  def requireSeeded(spark: SparkSession, path: String, what: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/commits")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p) && fs.listStatus(p).nonEmpty,
      s"$what at $path has no committed state — seed it with build() " +
        "(generation/epoch 0; an empty corpus is a legal seed for the " +
        "streaming sinks) before loading or admitting")
  }

  /** Upgrade LEGACY commit markers (written before the writer-identity
    * column existed) to an explicit `writer = "legacy"` — the
    * marker-upgrade migration: a legacy marker at a
    * replay's allocation slot forces the is_base fallback comparison,
    * which is blind to a non-base out-of-band append racing a non-base
    * replay; post-upgrade every marker carries a writer, so that replay
    * fails loudly instead. The writer lands in a SIDECAR
    * (`commits_writer/<key>` — see [[read]]): committed markers are
    * NEVER rewritten in place, so there is no window where a crash or a
    * concurrent reader loses one. `is_base` is untouched; upgraded
    * markers compare as "not this replay's own attempt" exactly like
    * any other out-of-band writer. Runs at every BASE commit (build
    * starts clean, so compaction/retrain is the first opportunity a
    * legacy store meets post-upgrade code) — one merged-schema read of
    * the marker tree (epoch-count-sized), sidecar writes only when
    * legacy markers exist, so a fully-upgraded store pays a no-op read.
    */
  def upgradeLegacy(spark: SparkSession, path: String,
                    keyCol: String): Unit = {
    val root = new Path(s"$path/commits")
    val fs = root.getFileSystem(conf(spark))
    if (!fs.exists(root)) return
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory && name.startsWith(s"$keyCol=")) {
        val legacy = readOneRow(fs, st.getPath, spark)
          .exists(_._2.isEmpty)
        if (legacy)
          writeOneRow(spark, s"$path/commits_writer/$name",
            SidecarSchema, g => g.add("writer", "legacy"))
      }
    }
  }
}

/** Tombstone machinery for [[HnswGeoStore]]'s deletes: a DELETE
  * is an epoch holding only erased vec_ids under `<store>/tombstones/
  * epoch=N`, and readers mask them out EPOCH-AWARE (a tombstone kills
  * rows written at or before its epoch only, so a re-admitted id is
  * live again). Kept beside the commit markers because a tombstone
  * epoch is committed by one like any other epoch.
  */
private[operators] object Tombstones {
  /** The live [base, epoch] tombstones as (vec_id, epoch), or None when
    * the range has none (the deletion-free fast path: no masking join).
    */
  def live(spark: SparkSession, path: String,
           base: Long, epoch: Long): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || fs.listStatus(p).isEmpty) None
    else {
      val inRange = (base to epoch).exists(e => fs.exists(
        new org.apache.hadoop.fs.Path(s"$path/tombstones/epoch=$e")))
      if (!inRange) None
      else Some(spark.read.parquet(s"$path/tombstones")
        .filter(col("epoch") >= base && col("epoch") <= epoch))
    }
  }

  /** Epoch-aware masking of a frame carrying its `epoch` column; drops
    * `epoch` either way. Broadcast-sized: tombstones are erasure-count.
    */
  def mask(spark: SparkSession, path: String, base: Long, epoch: Long,
           rows: DataFrame): DataFrame =
    live(spark, path, base, epoch).fold(rows.drop("epoch")) { t =>
      val tmax = t.groupBy(col("vec_id"))
        .agg(max(col("epoch")).as("__tepoch"))
      rows.join(broadcast(tmax), Seq("vec_id"), "left")
        .filter(col("__tepoch").isNull || col("epoch") > col("__tepoch"))
        .drop("epoch", "__tepoch")
    }
}
