package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one-row commit-marker layout every generational/epochal store
  * shares (`<store>/commits/<key>=N` holding `is_base` and `writer`).
  * Centralized so a marker-schema change lands once, not once per store.
  */
private[graft] object StoreCommits {
  import org.apache.hadoop.fs.{FileSystem, Path}
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.example.data.simple.SimpleGroup
  import org.apache.parquet.hadoop.ParquetReader
  import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
  import org.apache.parquet.hadoop.util.HadoopOutputFile
  import org.apache.parquet.schema.{MessageType, MessageTypeParser}

  /** One-row marker relations are read and written DRIVER-SIDE through
    * parquet-mr (no Spark job): a lifecycle op pays a marker write plus
    * at least one marker-tree read, and submitting a full Spark job —
    * plan, schedule, task, commit protocol — for one row each way was a
    * measured ~40-100 ms per marker, a visible slice of every
    * build/append/delete/forget at small batch sizes (round-18 per-query
    * job profile on a 32-core host: the geo lifecycle queries run 70-200 jobs at
    * < 10 ms of task time per job). The files stay ORDINARY PARQUET, so
    * `spark.read.parquet` reads them like any other relation.
    */
  private val MarkerSchema: MessageType = MessageTypeParser.parseMessageType(
    "message commit { optional boolean is_base; optional binary writer (UTF8); }")

  private def conf(spark: SparkSession) =
    spark.sparkContext.hadoopConfiguration

  /** The filesystem a store's `path` lives on, under the session's
    * Hadoop conf — what the lifecycle ops probe for data dirs, flags
    * and locks.
    */
  private[operators] def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(conf(spark))

  /** Write `rows` (groups of `schema`) as the one parquet file
    * `part-00000-<name>.parquet` at `dir`, DRIVER-SIDE through parquet-mr
    * — the write path for every small metadata relation (commit markers,
    * zero-row uniformity relations, IVF indexes, PQ codebooks), none of
    * which is worth a Spark job. Overwrite semantics; the file lands via
    * temp file + rename, so a concurrent or crashed writer leaves it
    * either absent (for a marker: an invisible epoch — the protocol's
    * normal crash state) or complete.
    */
  private[operators] def writeParquetFile(spark: SparkSession, dir: String,
                                          schema: MessageType, name: String,
                                          rows: Iterator[Group]): Unit = {
    val d = new Path(dir)
    val fs = d.getFileSystem(conf(spark))
    if (fs.exists(d)) fs.delete(d, true)
    fs.mkdirs(d)
    val tmp = new Path(d,
      s".part-00000-${java.util.UUID.randomUUID}.parquet.tmp")
    val w = ExampleParquetWriter.builder(
        HadoopOutputFile.fromPath(tmp, conf(spark)))
      .withConf(conf(spark)).withType(schema).build()
    try rows.foreach(w.write) finally w.close()
    fs.rename(tmp, new Path(d, s"part-00000-$name.parquet"))
  }

  /** Write the commit marker at `$path/commits/$key` (one row:
    * is_base, writer) — driver-side, atomic-rename, no Spark job.
    */
  def writeMarker(spark: SparkSession, path: String, key: String,
                  isBase: Boolean, writer: String): Unit = {
    val g = new SimpleGroup(MarkerSchema)
    g.add("is_base", isBase)
    g.add("writer", writer)
    writeParquetFile(spark, s"$path/commits/$key", MarkerSchema, "marker",
      Iterator.single(g))
  }

  /** Land a schema-carrying EMPTY parquet relation at `dir` driver-side
    * (overwrite semantics) — the zero-row uniformity writes the store
    * layouts require (a forget generation's empty
    * posting/fingerprint/registry deltas, an erasure epoch's empty attrs
    * relation) each previously paid a full Spark job to write nothing.
    * The schema converts exactly as Spark's own parquet writer would, so
    * `spark.read.parquet` round-trips it like a job-written empty file.
    */
  def writeEmptyRelation(spark: SparkSession, dir: String,
                         schema: org.apache.spark.sql.types.StructType)
      : Unit =
    writeParquetFile(spark, dir,
      org.apache.spark.sql.GraftShim.parquetMessageType(schema), "empty",
      Iterator.empty)

  /** Driver-side read of the single row of one marker dir as
    * (is_base, writer), or None when the dir holds no non-empty part file
    * (absent, or a crashed write that never renamed its temp file). A
    * marker without a writer is a store format this code does not read:
    * it fails loudly, naming the remedy.
    */
  private def readOneRow(fs: FileSystem, dir: Path,
                         spark: SparkSession): Option[(Boolean, String)] = {
    if (!fs.exists(dir)) return None
    val part = fs.listStatus(dir).find(st =>
      st.isFile && st.getLen > 0 &&
        st.getPath.getName.startsWith("part-"))
    part.flatMap { st =>
      val r = ParquetReader
        .builder(new GroupReadSupport(), st.getPath)
        .withConf(conf(spark)).build()
      try Option(r.read()).map { g =>
        def has(f: String) =
          g.getType.containsField(f) && g.getFieldRepetitionCount(f) > 0
        require(has("writer"),
          s"commit marker at $dir has no writer — it was written before " +
            "markers carried the writer column, a store format this " +
            "version no longer reads; rebuild the store (build() from " +
            "its source data)")
        (has("is_base") && g.getBoolean("is_base", 0),
          g.getString("writer", 0))
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

  /** The latest committed BASE key ≤ `at` in a [[committedMap]] — where
    * a read, compaction or vacuum as of `at` starts its live range.
    * A store's first retained commit is always a base (build writes key
    * 0; vacuum keeps the latest base), so this is defined for any
    * committed `at`; an empty range fails (`empty.max`).
    */
  def baseAt(commits: Map[Long, Boolean], at: Long): Long =
    commits.collect { case (k, true) if k <= at => k }.max

  /** (is_base, writer) of the marker at `$path/commits/$key`. */
  def read(spark: SparkSession, path: String,
           key: String): (Boolean, String) = {
    val dir = new Path(s"$path/commits/$key")
    readOneRow(dir.getFileSystem(conf(spark)), dir, spark).getOrElse(
      throw new IllegalArgumentException(
        s"no commit marker at $path/commits/$key"))
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
