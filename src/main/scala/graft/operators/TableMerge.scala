package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partition-scoped upsert into a hive-partitioned parquet table — the
  * storage discipline that keeps merges batch-sized at 100 TB: a day's
  * corrections touch a handful of partitions, so ONLY those partitions
  * are read (partition-pruned scan) and ONLY those partitions are
  * replaced (Spark's dynamic partition overwrite commits the swap);
  * every other partition's files are left byte-identical — never read,
  * never rewritten, never invalidated in downstream caches.
  *
  * This is the partitioned-scale sibling of the whole-table keyed upsert
  * sink (reference `anonymize_datasets.py:141-169`'s read-modify-swap,
  * [[Anonymize]] S6): same upsert semantics per key, but cost scales
  * with the BATCH's partition footprint, not the table.
  *
  * Mechanics per call:
  *  1. the batch's distinct partition values — driver state bounded by
  *     the batch's footprint, never table-sized;
  *  2. one partition-pruned read of just those partitions, anti-join on
  *     the keys (rows the batch replaces drop out), union the batch;
  *  3. materialize the merged slice to a staging dir (Spark forbids
  *     overwriting a path while reading it — the staging hop is what
  *     makes the self-merge safe), then write it back with
  *     `partitionOverwriteMode=dynamic`, which replaces exactly the
  *     partitions present in the written data and commits per-partition
  *     atomically via the file committer.
  *
  * New partition values in the batch simply materialize as new
  * partition dirs. Rows in the batch must carry the partition column;
  * a key that MOVES partitions in an update is two logical rows (the
  * old location is untouched) — delete-then-insert across partitions is
  * out of scope here, as it is for every partition-overwrite merge.
  */
object TableMerge {

  /** Upsert `updates` into the partitioned parquet table at `dir` by
    * `keys`. Creates the table (partitioned by `partCol`) if absent.
    * Returns the number of partitions written.
    */
  def upsertPartitioned(spark: SparkSession, dir: String, updates: DataFrame,
                        keys: Seq[String], partCol: String): Int = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    require(!keys.contains(partCol),
      s"partition column '$partCol' cannot be an upsert key — " +
        "within a partition it is constant, across partitions rows never collide")
    (keys :+ partCol).foreach(c =>
      require(updates.columns.contains(c),
        s"updates frame lacks required column '$c'"))
    val fsPath = new org.apache.hadoop.fs.Path(dir)
    val fs = fsPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(fsPath)) {
      updates.write.partitionBy(partCol).parquet(dir)
      return updates.select(partCol).distinct().count().toInt
    }
    val partVals = updates.select(col(partCol)).distinct()
      .collect().map(_.get(0))
    val existing = spark.read.parquet(dir)
      .filter(col(partCol).isInCollection(partVals.toSeq))
    val merged = existing
      .join(updates.select(keys.map(col) :+ col(partCol): _*),
        keys :+ partCol, "left_anti")
      .unionByName(updates.select(existing.columns.map(col).toIndexedSeq: _*))
    // the staging hop: materialize before overwriting what was read
    val staging = dir.stripSuffix("/") + ".__merge_staging"
    merged.write.mode("overwrite").parquet(staging)
    try
      spark.read.parquet(staging)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partCol)
        .parquet(dir)
    finally
      fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    partVals.length
  }

  /** Compact the small files repeated upserts accumulate: every
    * partition holding more than `maxFiles` parquet files is rewritten
    * (coalesced toward `targetBytes` per file); every other partition is
    * untouched — not read, not rewritten. Rows are bit-identical before
    * and after; only the file layout changes. Returns the partitions
    * compacted.
    *
    * 100 TB shape: the partition listing is driver-side metadata (file
    * NAMES, not data); only over-fragmented partitions are scanned, and
    * each is written back through the same dynamic-overwrite commit the
    * merge path uses — compaction cost follows fragmentation, not table
    * size. Run it on whatever cadence upsert frequency demands, like any
    * lakehouse OPTIMIZE.
    */
  def compactPartitions(spark: SparkSession, dir: String, partCol: String,
                        maxFiles: Int = 8,
                        targetBytes: Long = 128L * 1024 * 1024): Seq[String] = {
    require(maxFiles >= 1, s"maxFiles must be >= 1, got $maxFiles")
    require(targetBytes >= 1, s"targetBytes must be >= 1, got $targetBytes")
    val fsPath = new org.apache.hadoop.fs.Path(dir)
    val fs = fsPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(fsPath)) return Seq.empty
    val fragmented = fs.listStatus(fsPath).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(partCol + "="))
      .flatMap { p =>
        val files = fs.listStatus(p.getPath).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        if (files.size <= maxFiles) None
        else Some((p.getPath.getName, files.map(_.getLen).sum))
      }
    fragmented.foreach { case (partDirName, bytes) =>
      // dir names carry Hive path-escaping (%20 and friends) — unescape
      // so string-typed partition values with special chars still filter
      val partValue = org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.unescapePathName(
          partDirName.stripPrefix(partCol + "="))
      val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
      val slice = spark.read.parquet(dir)
        .filter(col(partCol) === lit(partValue))
      val staging = dir.stripSuffix("/") + ".__compact_staging"
      slice.coalesce(nOut).write.mode("overwrite").parquet(staging)
      try
        spark.read.parquet(staging)
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partCol)
          .parquet(dir)
      finally
        fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    }
    fragmented.map(_._1)
  }

  /** Right-to-be-forgotten erasure over a hive-partitioned parquet table
    * — the GDPR/CCPA deletion path with [[upsertPartitioned]]'s cost
    * discipline: rewrite ONLY partitions that actually hold a targeted
    * key; every other partition's files stay byte-identical. Returns a
    * per-partition audit frame (partition, rows_purged) — the deletion
    * receipt a compliance log wants.
    *
    * Mechanics:
    *  1. one semi-join of the table against the (deduplicated) erasure
    *     keys, aggregated to per-partition hit counts — driver state is
    *     bounded by the number of TOUCHED partitions, never rows;
    *  2. partition-pruned read of just those partitions, anti-join the
    *     keys, staging hop, dynamic-partition-overwrite write-back;
    *  3. partitions whose every row was purged are deleted explicitly —
    *     dynamic overwrite only replaces partitions PRESENT in the
    *     written data, so an emptied partition would otherwise silently
    *     keep its old files (the classic erasure bug). The delete runs
    *     after the overwrite commits; a crash between the two leaves the
    *     partition intact-but-stale, never half-written — rerun the
    *     purge to converge (the operation is idempotent).
    *
    * The erasure-key frame may be arbitrarily large (mass erasure): both
    * joins are distributed; nothing row-scale reaches the driver.
    */
  def purgeKeys(spark: SparkSession, dir: String, erase: DataFrame,
                keyCols: Seq[String], partCol: String): DataFrame = {
    import spark.implicits._
    require(keyCols.nonEmpty, "purge needs at least one key column")
    require(!keyCols.contains(partCol),
      s"partition column '$partCol' cannot be a purge key — filter it " +
        "into the erasure frame's rows instead")
    keyCols.foreach(c => require(erase.columns.contains(c),
      s"erasure frame lacks required column '$c'"))
    val fsPath = new org.apache.hadoop.fs.Path(dir)
    val fs = fsPath.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(fsPath), s"no table at $dir")
    val keys = erase.select(keyCols.map(col): _*).distinct()
    // partitions are named by their directory value: a null partition
    // value is the `__HIVE_DEFAULT_PARTITION__` directory, so no name
    // below is ever null (a null would fall out of the slice filter and
    // of collect_set, leaving its targeted rows in place)
    val part = coalesce(col(partCol).cast("string"), lit(
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .DEFAULT_PARTITION_NAME))
    val hits = spark.read.parquet(dir)
      .join(keys, keyCols, "left_semi")
      .groupBy(part.as("partition"))
      .agg(count(lit(1)).as("rows_purged"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    if (hits.isEmpty) return Seq.empty[(String, Long)]
      .toDF("partition", "rows_purged")
    val partVals = hits.map(_._1).toSeq
    val slice = spark.read.parquet(dir)
      .filter(part.isInCollection(partVals))
    val purged = slice.join(keys, keyCols, "left_anti")
    val staging = dir.stripSuffix("/") + ".__purge_staging"
    purged.write.mode("overwrite").parquet(staging)
    val survivors =
      try {
        // an all-purged slice writes no data files — the staged read
        // would have no schema to infer, so detect that case on the fs
        val stagingPath = new org.apache.hadoop.fs.Path(staging)
        val hasData = fs.listStatus(stagingPath).exists(f =>
          f.isFile && f.getPath.getName.endsWith(".parquet"))
        if (!hasData) Set.empty[String]
        else {
          // the surviving-partition set rides the write job as an
          // Observation instead of a separate distinct+collect pass over
          // the staged slice (guide §1/§7 job attribution) — same values,
          // one less driver-blocking job per purge. collect_set is sound
          // here for two reasons: it drops nulls, which is benign because
          // `part` (and so every name in `partVals`) is never null; and
          // the accumulator behind `observe` may see a retried or
          // speculative task's rows twice, which a SET absorbs —
          // collect_list or a count would double-count.
          val obs = org.apache.spark.sql.Observation()
          spark.read.parquet(staging)
            .observe(obs, collect_set(part).as("parts"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partCol)
            .parquet(dir)
          obs.get("parts").asInstanceOf[scala.collection.Seq[String]].toSet
        }
      } finally fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    partVals.filterNot(survivors).foreach { v =>
      val escaped = org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.escapePathName(v)
      fs.delete(new org.apache.hadoop.fs.Path(
        dir.stripSuffix("/") + s"/$partCol=$escaped"), true)
    }
    hits.toSeq.toDF("partition", "rows_purged")
  }
}
