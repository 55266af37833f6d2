package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.hadoop.fs.Path
import graft.functions.GraftFunctions.blake2b_hex

/** Anonymization operators (reference E2/E3,
  * /root/reference/anonymize_datasets.py:27-135) as distributed, lazy
  * DataFrame transforms:
  *
  *  - value scaling and audit stamps are codegen'd projections (P8/P11);
  *  - label anonymization (U2/O2) builds the label→token map from the tiny
  *    distinct label set (collected once, becomes a broadcast-able CASE
  *    expression — never a row-wise closure over the fact table);
  *  - uid pseudonymization (U1/J1/J2/S6) is a broadcast left join against the
  *    persistent key table plus an anti-join for new uids hashed with the
  *    native BLAKE2b expression; the key table is upserted with
  *    write-temp-then-atomic-rename since Spark cannot overwrite a path it is
  *    reading. One upsert body serves every caller: a whole run of frames
  *    ([[cdmAnonymizationRun]]) upserts each uid column's table ONCE, over
  *    the union of that column from every frame, before any frame is
  *    joined; [[uidAnonymization]] is the one-frame case.
  *
  * 100 TB posture: the fact side is never collected; only the distinct label
  * set (bounded, dimension-like) ever reaches the driver. If the key table
  * outgrows the broadcast threshold Catalyst falls back to sort-merge join on
  * its own — the plan shape stays valid.
  */
object Anonymize {

  /** P11: multiply every present value column by a constant
    * (anonymize_datasets.py:120-124; case-insensitive presence check).
    */
  def scaleValues(df: DataFrame, valueCols: Seq[String], factor: Double): DataFrame = {
    val byLower = df.columns.map(c => c.toLowerCase -> c).toMap
    valueCols.flatMap(c => byLower.get(c.toLowerCase)).foldLeft(df) { (d, c) =>
      d.withColumn(c, col(c) * lit(factor))
    }
  }

  /** O2: sorted distinct labels → 1-based enumeration
    * (anonymize_datasets.py:97,104-106). The distinct set is dimension-sized;
    * collect is bounded and the result is embedded as a literal CASE chain.
    */
  def labelIndex(labels: Seq[String], name: String = "ANON_CLIENT"): Map[String, String] = {
    // empty labels dropped along with nulls: "" carries no identity to
    // anonymize, and a zero-width pattern would inject tokens at every
    // word boundary of every cell
    val sorted = labels.filter(l => l != null && l.nonEmpty).distinct.sorted
    if (sorted.size == 1) Map(sorted.head -> name)
    else sorted.zipWithIndex.map { case (l, i) => l -> s"$name ${i + 1}" }.toMap
  }

  /** U2: anonymize one label column. Exact matches map to their enumerated
    * token; otherwise embedded occurrences are replaced case-insensitively
    * at word boundaries (anonymize_datasets.py:100-108 — implementing the
    * evident intent: each label's own pattern is tested/replaced; the
    * reference's `list_items[0]`-only quirk at :107-108 is documented
    * divergence, SURVEY.md §7.4). Nulls pass through.
    *
    * Embedded replacement runs as ONE pass over the cell
    * ([[graft.functions.MultiWordReplace]]): chained `regexp_replace`s are
    * unsound in any order — a prefix label can eat a longer label's front,
    * and a short label (e.g. a numeric code "2") can match inside an
    * earlier replacement's own token. Single-pass never rescans
    * replacements, so neither corruption can occur.
    */
  def anonymizeLabels(df: DataFrame, column: String, labels: Seq[String],
                      name: String = "ANON_CLIENT"): DataFrame = {
    val index = labelIndex(labels, name)
    if (index.isEmpty) return df
    val sorted = index.keys.toSeq.sorted
    val c = col(column)
    val exact = sorted.foldLeft(when(c.isNull, lit(null.asInstanceOf[String]))) {
      (acc, l) => acc.when(c === lit(l), lit(index(l)))
    }
    val replaced = org.apache.spark.sql.GraftShim.column(
      graft.functions.MultiWordReplace(
        org.apache.spark.sql.GraftShim.expression(c),
        sorted, sorted.map(index)))
    df.withColumn(column, exact.otherwise(replaced))
  }

  /** Labels above this count switch from the literal CASE/regex expression
    * chain to a distributed enumeration join: thousands of `when`s +
    * nested `regexp_replace`s blow past the JVM 64 KB method limit in
    * codegen, and the `collect()` pressures the driver.
    */
  val MaxExpressionLabels: Int = 64

  /** Label anonymization where the label universe is the column's own
    * distinct values (anonymize_datasets.py:127-128).
    *
    * Small (dimension-sized) label sets — the reference's only actual use —
    * take the expression-chain path: one bounded `limit(Max + 1).collect()`
    * that both picks the path and returns the labels, exact-match CASE +
    * word-boundary regex, all inside whole-stage codegen. Beyond
    * [[MaxExpressionLabels]] the operator switches to a sorted enumeration
    * computed distributedly (`dense_rank` over the distinct set) and joined
    * back — exact-match replacement only, which is the semantics that
    * matters once labels stop being a curated handful; the plan never
    * collects the label set and scales to arbitrary cardinality.
    */
  def anonymizeColumnLabels(df: DataFrame, column: String,
                            name: String = "ANON_CLIENT"): DataFrame = {
    val distinctLabels = df.select(col(column)).filter(col(column).isNotNull).distinct()
    // one bounded collect decides the path AND carries the small label set
    val firstLabels = distinctLabels.limit(MaxExpressionLabels + 1).collect()
    if (firstLabels.length <= MaxExpressionLabels) {
      anonymizeLabels(df, column, firstLabels.map(_.get(0).toString).toSeq, name)
    } else {
      // Sorted global enumeration WITHOUT an unpartitioned window (that
      // would drag every distinct label through one task — the exact
      // bottleneck this path exists to avoid): orderBy range-partitions the
      // distinct set, zipWithIndex assigns contiguous indices per partition
      // in partition order, so the 1-based enumeration equals dense_rank
      // over the sorted labels while staying fully distributed. Costs one
      // extra job (zipWithIndex counts partition sizes) at plan-build time.
      val spark = df.sparkSession
      val labelField = distinctLabels.schema.fields.head
      val anon = s"__${column}_anon"
      val indexed = distinctLabels.orderBy(col(column)).rdd.zipWithIndex()
        .map { case (r, idx) => org.apache.spark.sql.Row(r.get(0), idx + 1L) }
      val enumDim = spark.createDataFrame(indexed,
        StructType(Seq(labelField,
          StructField(s"${anon}_idx", org.apache.spark.sql.types.LongType))))
        .withColumn(anon, concat(lit(s"$name "), col(s"${anon}_idx")))
        .drop(s"${anon}_idx")
      df.join(enumDim, Seq(column), "left")
        .withColumn(column, coalesce(col(anon), col(column)))
        .drop(anon)
    }
  }

  private def keySchema(column: String): StructType =
    StructType(Seq(StructField(column, StringType), StructField(s"${column}_", StringType)))

  private def keyPath(keyDir: String, column: String): Path =
    new Path(s"$keyDir/key_$column.snappy.parquet")

  private def keyBakPath(keyDir: String, column: String): Path =
    new Path(s"$keyDir/.bak-key_$column")

  /** Read the persistent key table for `column`, or an empty frame on first
    * run (anonymize_datasets.py:37-44). The read carries the table's known
    * schema, so it launches no parquet footer-merge job.
    *
    * A lone `.bak-` copy is a crash between [[overwriteKeyTable]]'s two
    * renames: it is the only copy of the table, so it is rolled back to the
    * table's path before the read. Read as "no table" instead, the next
    * upsert would rebuild the table from that run's uids alone and drop
    * every older uid's pseudonym.
    */
  def readKeyTable(spark: SparkSession, keyDir: String, column: String): DataFrame = {
    val path = keyPath(keyDir, column)
    val bak = keyBakPath(keyDir, column)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path) && fs.exists(bak) && !fs.rename(bak, path))
      throw new java.io.IOException(s"key-table recovery: cannot roll $bak back to $path")
    if (fs.exists(path)) spark.read.schema(keySchema(column)).parquet(path.toString)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      keySchema(column))
  }

  /** S6: replace the key table crash-safely. Spark cannot overwrite a path
    * that feeds the same plan, so stage to `.tmp-`; then swap the old table
    * to `.bak` BEFORE renaming the staged one in, and delete `.bak` only
    * after the swap succeeds — a crash at any point leaves either the old or
    * the new table recoverable (the uid→pseudonym map is unrecoverable state
    * otherwise; [[readKeyTable]] rolls a lone `.bak` back). (SURVEY.md §7.4)
    */
  def overwriteKeyTable(spark: SparkSession, keyDir: String, column: String,
                        keyDf: DataFrame): Unit = {
    val dir = new Path(keyDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val tmp = new Path(s"$keyDir/.tmp-key_$column")
    val bak = keyBakPath(keyDir, column)
    val dst = keyPath(keyDir, column)
    keyDf.write.mode("overwrite").option("compression", "snappy").parquet(tmp.toString)
    if (fs.exists(bak)) fs.delete(bak, true)
    val hadOld = fs.exists(dst)
    if (hadOld && !fs.rename(dst, bak))
      throw new java.io.IOException(s"key-table swap: cannot stage $dst to $bak")
    if (!fs.rename(tmp, dst)) {
      if (hadOld) fs.rename(bak, dst) // roll back
      throw new java.io.IOException(s"key-table swap: cannot publish $tmp to $dst")
    }
    if (hadOld) fs.delete(bak, true)
  }

  /** S6/U1: ONE upsert of `column`'s key table over every frame of `frames`
    * (each must carry `column`): the union of the column, cast to string,
    * is deduplicated, anti-joined against the old table, its new uids are
    * hashed, and the table is swapped in once. Existing uids keep their
    * pseudonym and blake2b of a new uid does not depend on the frame or
    * the order it came in, so one upsert over n frames leaves the same row
    * set as n upserts in sequence.
    *
    * The new-uid hash runs as the native codegen'd BLAKE2b expression, once
    * per DISTINCT new uid, not per fact row.
    */
  private def upsertKeyTable(spark: SparkSession, keyDir: String, column: String,
                             frames: Seq[DataFrame]): Unit = {
    val pseud = s"${column}_"
    val keyDf = readKeyTable(spark, keyDir, column)
    // Null-uid contract (divergence from the reference, by design): pandas
    // `astype(str)` turns missing uids into the literal strings 'None'/'nan'
    // and hashes those; here nulls are excluded from the key table and keep a
    // null pseudonym in the output — a missing identity stays missing rather
    // than colliding into one fake uid.
    val newUids = frames.map(_.select(col(column).cast(StringType).as(column)))
      .reduce(_ union _)
      .filter(col(column).isNotNull)
      .distinct()
      .join(keyDf.select(col(column)), Seq(column), "left_anti")
      .withColumn(pseud, blake2b_hex(col(column)))
    val updatedKey = keyDf.unionByName(newUids)
      .dropDuplicates(Seq(column, pseud))
    // The upsert plan READS the old key path and WRITES the tmp path, so the
    // staged write is safe; the crash-safe rename then swaps it in. No driver
    // materialization — the key table never has to fit on the driver.
    overwriteKeyTable(spark, keyDir, column, updatedKey)
  }

  /** Replace `column` (cast to string) by its pseudonym from `key`, under
    * the original name, appended at the end of the schema (pandas merge
    * appends the joined column).
    *
    * No broadcast() hint: the key table grows monotonically across runs, so
    * a forced broadcast OOMs at high uid cardinality. Catalyst/AQE already
    * broadcasts while it is small and falls back to sort-merge join after
    * (SURVEY.md §7.4 100 TB posture).
    */
  private def joinPseudonyms(df: DataFrame, column: String, key: DataFrame): DataFrame =
    df.withColumn(column, col(column).cast(StringType))
      .join(key, Seq(column), "left")
      .drop(column)
      .withColumnRenamed(s"${column}_", column)

  /** E3/J1/J2/U1: pseudonymize `column` with the persistent keyed mapping.
    *
    * Contract (anonymize_datasets.py:27-84): uid cast to string; existing
    * uids keep their pseudonym from the key table; new uids get
    * `blake2b(uid, digest_size=5).hexdigest()`; the key table is upserted and
    * stays duplicate-free; in the output the raw column is replaced by the
    * pseudonym under the original name, appended at the end of the schema.
    *
    * One key-table upsert over `df` (the same upsert a whole
    * [[cdmAnonymizationRun]] runs once per uid column), then a left join of
    * `df` to the fresh table. The result reads the table's current files
    * lazily, so consume it before the next upsert of `column` swaps them.
    */
  def uidAnonymization(spark: SparkSession, df: DataFrame, column: String,
                       keyDir: String): DataFrame = {
    upsertKeyTable(spark, keyDir, column, Seq(df))
    joinPseudonyms(df, column, readKeyTable(spark, keyDir, column))
  }

  /** P8: stamp audit columns if absent (anonymize_datasets.py:168-173).
    * `process_time` is rendered IN the timezone the `timezone` column
    * declares (the session clock is pinned UTC; the reference ran on a
    * wall clock already in the declared zone). `clock` injectable for
    * deterministic tests (SURVEY.md §7.4).
    */
  def stampAudit(df: DataFrame, timezone: String = "America/Chicago",
                 clock: Option[String] = None): DataFrame = {
    val withTime =
      if (df.columns.contains("process_time")) df
      else df.withColumn("process_time",
        clock.map(lit).getOrElse(
          date_format(from_utc_timestamp(current_timestamp(), timezone),
            "yyyy-MM-dd'T'HH:mm:ss")))
    if (withTime.columns.contains("timezone")) withTime
    else withTime.withColumn("timezone", lit(timezone))
  }

  /** The reference's column roles for `cdm_anonymization`
    * (anonymize_datasets.py:112-124): label columns, uid columns, value
    * columns and the value scale factor.
    */
  private val LabelColumns: Seq[String] = Seq("CustomerCode", "brand", "customer")
  private val UidColumns: Seq[String] = Seq("uid", "meter", "meters")
  private val ValueColumns: Seq[String] = Seq("Amount", "forecast_gross", "backcast_net",
    "backcast_gross", "usage_initial_net", "usage_initial_gross",
    "usage_final_net", "usage_final_gross", "usage", "value",
    "ams_actual_consumption", "ams_actual_net",
    "ams_actual_consumption_abs", "forecast_abs_errors",
    "backcast_abs_errors")
  private val ScaleFactor: Double = 1.0125

  /** E2 core: the reference's `cdm_anonymization` (anonymize_datasets.py:112-135)
    * — scale value columns, anonymize label columns against their own
    * distinct sets, pseudonymize uid columns, lowercase all names. The
    * one-frame case of [[cdmAnonymizationRun]].
    */
  def cdmAnonymization(spark: SparkSession, df: DataFrame, keyDir: String,
      anonCols: Seq[String] = LabelColumns, uidCols: Seq[String] = UidColumns,
      valueCols: Seq[String] = ValueColumns,
      scaleFactor: Double = ScaleFactor): DataFrame =
    cdmAnonymizationRun(spark, Seq(df), keyDir, anonCols, uidCols, valueCols,
      scaleFactor).head

  /** `cdm_anonymization` over every frame of one run, in three steps:
    *
    *  1. scale each frame's value columns and anonymize its label columns
    *     (each against the frame's own distinct labels);
    *  2. run ONE key-table upsert per distinct uid column, over the union of
    *     that column from every frame that carries it;
    *  3. join each frame to the fresh tables (each read once) and lowercase
    *     its names.
    *
    * Returns one frame per input frame, in order; each equals what
    * per-frame `cdmAnonymization` calls in sequence would return (schema
    * and rows), and the key tables end with the same row sets. A uid column
    * is matched by name case-insensitively and keeps the frame's spelling
    * in its key file name, `key_<column>`.
    *
    * A frame with more than one label or uid column is persisted through
    * [[graft.CacheRegistry]]: its label collects and upserts would each
    * rescan it otherwise. The returned frames read those caches and the
    * key tables' current files, so consume them, then release the caches,
    * before the next run.
    */
  def cdmAnonymizationRun(spark: SparkSession, dfs: Seq[DataFrame], keyDir: String,
      anonCols: Seq[String] = LabelColumns, uidCols: Seq[String] = UidColumns,
      valueCols: Seq[String] = ValueColumns,
      scaleFactor: Double = ScaleFactor): Seq[DataFrame] = {
    val labeled = dfs.map { df =>
      val byLower = df.columns.map(c => c.toLowerCase -> c).toMap
      val presentAnon = anonCols.flatMap(c => byLower.get(c.toLowerCase))
      val presentUid = uidCols.flatMap(c => byLower.get(c.toLowerCase))
      val scaled0 = scaleValues(df, valueCols, scaleFactor)
      val scaled =
        if (presentAnon.size + presentUid.size > 1) graft.CacheRegistry.persist(scaled0)
        else scaled0
      (presentAnon.foldLeft(scaled)((d, c) => anonymizeColumnLabels(d, c)), presentUid)
    }
    val uidColumns = labeled.flatMap(_._2).distinct
    uidColumns.foreach { c =>
      upsertKeyTable(spark, keyDir, c, labeled.collect { case (d, cs) if cs.contains(c) => d })
    }
    val fresh = uidColumns.map(c => c -> readKeyTable(spark, keyDir, c)).toMap
    labeled.map { case (d, presentUid) =>
      val pseudonymized = presentUid.foldLeft(d)((acc, c) => joinPseudonyms(acc, c, fresh(c)))
      pseudonymized.toDF(pseudonymized.columns.map(_.toLowerCase).toIndexedSeq: _*)
    }
  }

  /** k-anonymity audit — the check an anonymized dataset still owes its
    * subjects: pseudonymizing direct identifiers ([[uidAnonymization]])
    * does nothing about QUASI-identifier combinations (nation × market
    * segment × birth year …) that single out fewer than k rows; those
    * groups re-identify by linkage (Sweeney's k-anonymity). Returns every
    * violating combination with its size, ready for suppression or
    * generalization upstream. One hash aggregation (map-side partial) —
    * the audit costs one shuffle of the group keys at any scale.
    */
  def kAnonymityAudit(df: DataFrame, quasi: Seq[String], k: Int): DataFrame = {
    require(quasi.nonEmpty, "k-anonymity needs at least one quasi-identifier column")
    require(k >= 2, s"k must be >= 2 (k=1 is vacuous), got $k")
    df.groupBy(quasi.map(col): _*)
      .agg(count(lit(1)).as("group_size"))
      .filter(col("group_size") < k)
  }

  /** l-diversity audit — k-anonymity's follow-up (Machanavajjhala et al.
    * 2007): a quasi-identifier group can be large (k-safe) yet leak the
    * sensitive attribute anyway when every member shares the same value
    * (homogeneity attack: "all 12 people in that group have the same
    * diagnosis"). Flags every quasi group whose sensitive column carries
    * fewer than `l` distinct values, with its size and diversity — the
    * suppression/generalization worklist. One exact distinct-per-group
    * aggregation: Catalyst expands to a two-phase partial-count plan, so
    * the shuffle carries (quasi, sensitive) pairs, never rows.
    */
  def lDiversityAudit(df: DataFrame, quasi: Seq[String], sensitive: String,
                      l: Int): DataFrame = {
    require(quasi.nonEmpty, "l-diversity needs at least one quasi-identifier column")
    require(!quasi.contains(sensitive),
      s"sensitive column '$sensitive' cannot also be a quasi-identifier")
    require(l >= 2, s"l must be >= 2 (l=1 is vacuous), got $l")
    df.groupBy(quasi.map(col): _*)
      .agg(count(lit(1)).as("group_size"),
        countDistinct(col(sensitive)).as("distinct_sensitive"))
      .filter(col("distinct_sensitive") < l)
  }

  /** k-anonymity by suppression: drop every row whose (already
    * generalized) quasi-identifier combination occurs fewer than `k`
    * times, so the released table is k-anonymous by construction — the
    * enforcement step downstream of [[kAnonymityAudit]]'s report. Callers
    * generalize first (bin numerics, truncate codes) and pass the
    * generalized columns as `quasi`; suppression is the residual for
    * groups generalization could not rescue.
    *
    * Plan shape: one map-side-combined count keyed by the quasi columns,
    * then an inner equi-join back on the same keys — both hash-partition
    * identically, and AQE turns the join side into a broadcast when the
    * surviving group list is small. Deliberately NOT a windowed count:
    * a partition-only window buffers whole groups per task (a hot quasi
    * combination becomes one giant task), while the agg+join shape keeps
    * skew handling in AQE's hands.
    */
  def kAnonymizeSuppress(df: DataFrame, quasi: Seq[String], k: Int): DataFrame = {
    require(quasi.nonEmpty, "k-anonymization needs at least one quasi-identifier column")
    require(k >= 2, s"k must be >= 2 (k=1 keeps everything), got $k")
    val safe = df.groupBy(quasi.map(col): _*)
      .agg(count(lit(1)).as("__graft_gs"))
      .filter(col("__graft_gs") >= k)
      .select(quasi.map(col): _*)
    df.join(safe, quasi)
  }

  /** t-closeness audit — the distribution-distance check after
    * [[lDiversityAudit]] (Li et al. 2007): a group can be diverse yet
    * still leak when its sensitive-value DISTRIBUTION differs sharply
    * from the table's (skewness attack: "that group is mostly the rare
    * diagnosis"). For an ORDINAL sensitive column, t-closeness measures
    * Earth Mover's Distance; over an ordered discrete domain that is
    * `EMD = Σᵢ |Σ_{j≤i} (q_j − p_j)| / (m−1)` with p the global and q the
    * group distribution over the m domain values. Flags groups with
    * EMD > t.
    *
    * Bitwise discipline: the cumulative term is kept in SCALED INTEGERS —
    * `cnt_gv·N − cnt_v·n_g` — so the running sum is exact (while
    * count·total fits 64-bit, i.e. well past any real quasi-group size);
    * only the final normalization divides in doubles, rounded to 6.
    *
    * Plan shape: the sensitive domain and its global counts are one
    * bounded aggregate broadcast against the per-group frame (the dense
    * group×domain grid every zero-count cell needs), the per-cell counts
    * shuffle once on (quasi, value), and the running window partitions by
    * group — never a global window. Nothing fact-sized is collected.
    */
  def tClosenessAudit(df: DataFrame, quasi: Seq[String], sensitive: String,
                      t: Double): DataFrame = {
    require(quasi.nonEmpty, "t-closeness needs at least one quasi-identifier column")
    require(!quasi.contains(sensitive),
      s"sensitive column '$sensitive' cannot also be a quasi-identifier")
    require(t > 0 && t < 1, s"t must be in (0,1), got $t")
    val base = df.select(quasi.map(col) :+ col(sensitive).cast("long").as("__v"): _*)
    val vals = base.groupBy(col("__v")).agg(count(lit(1)).as("__cnt_v"))
    val tot = vals.agg(sum(col("__cnt_v")).as("__n"), count(lit(1)).as("__m"))
    val groups = base.groupBy(quasi.map(col): _*)
      .agg(count(lit(1)).as("group_size"))
    val cells = base.groupBy(quasi.map(col) :+ col("__v"): _*)
      .agg(count(lit(1)).as("__cnt_gv"))
    val grid = groups
      .crossJoin(broadcast(vals.crossJoin(broadcast(tot))))
      .join(cells, quasi :+ "__v", "left")
      .withColumn("__d",
        coalesce(col("__cnt_gv"), lit(0L)) * col("__n") -
          col("__cnt_v") * col("group_size"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(quasi.map(col): _*).orderBy(col("__v"))
    grid.withColumn("__run", sum(col("__d")).over(w))
      .groupBy(quasi.map(col) :+ col("group_size"): _*)
      .agg(sum(abs(col("__run"))).as("__sabs"),
        max(col("__n")).as("__nn"), max(col("__m")).as("__mm"))
      .withColumn("emd", when(col("__mm") > 1,
        round(col("__sabs").cast("double") /
          (col("group_size").cast("double") * col("__nn") * (col("__mm") - 1)), 6))
        .otherwise(lit(0.0)))
      .filter(col("emd") > t)
      .select(quasi.map(col) :+ col("group_size") :+ col("emd"): _*)
  }

  /** Differentially private count release — the Laplace mechanism (Dwork
    * et al. 2006) over a group-by count (sensitivity 1, scale b = 1/ε),
    * with DETERMINISTIC noise: the uniform draw is the group key's md5
    * bucket, so the release is reproducible across runs, engines, and
    * partitionings, and re-running never spends extra privacy budget on
    * fresh draws for the same key (the "sticky noise" pattern). The
    * inverse-CDF transform is
    * `noise = −b·sign(u−½)·ln(1−2|u−½|)`, u uniform in (0,1); the
    * released count is integer-rounded (post-processing — DP holds) and
    * floored at 0. u = (bucket+½)/2²⁰ can never be exactly ½ or an
    * endpoint, so the transform is total.
    *
    * One map-side-combined aggregation; the noise is a scan-side
    * expression on the (already small) group frame. The 64-bit md5 lane
    * matches DuckDB's replayable `md5` arithmetic ([[graft.operators.Sampling.hashBucket]]);
    * integer rounding absorbs any last-ulp `ln` libm difference.
    */
  def dpNoisyCounts(df: DataFrame, keys: Seq[String], epsilon: Double,
                    seed: String = "graft-dp"): DataFrame = {
    require(keys.nonEmpty, "dpNoisyCounts needs at least one key column")
    require(epsilon > 0, s"epsilon must be positive, got $epsilon")
    val counts = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__cnt"))
    val keyStr = concat_ws(":", lit(seed) +: keys.map(c => col(c).cast("string")): _*)
    val u = ((element_at(graft.functions.GraftFunctions.md5_lanes(keyStr), 1)
      % 1048576L).cast("double") + 0.5) / 1048576.0
    val centered = u - 0.5
    val noise = -signum(centered) * log(lit(1.0) - lit(2.0) * abs(centered)) / epsilon
    counts.select(keys.map(col) :+
      greatest(round(col("__cnt") + noise, 0), lit(0.0)).cast("long")
        .as("noisy_count"): _*)
  }

  /** Mondrian multidimensional k-anonymity (LeFevre, DeWitt & Ramakrishnan
    * 2006) — the data-adaptive generalization that [[kAnonymizeSuppress]]'s
    * fixed bands cannot match in utility: recursively split the quasi
    * space at per-partition MEDIANS (widest normalized attribute first,
    * falling back in range order until a split keeps both halves ≥ k),
    * then release each final partition as its attribute ranges + size.
    * Every class is k-anonymous BY CONSTRUCTION.
    *
    * Dataflow per round (generations, like connectedComponents): one
    * per-partition aggregation for counts/ranges/exact medians (binary-
    * exact 0.5 prob — engine-replayable), one for ≤-median counts (split
    * feasibility, ties included), then one scan-side relabel
    * `pid → pid·2 + (v > median)` driven by a driver-built decision
    * chain. The (range desc, attribute index) try order is total, so the
    * split TREE is deterministic and any engine replaying the recorded
    * chain ([[MondrianResult.log]]) lands every row in the same class —
    * which is exactly what q133's oracle does, recomputing every class's
    * ranges and size itself.
    *
    * Driver state: per-round stats, bounded by the partition count ≤ n/k
    * (pick k so n/k · attrs stat rows fit the driver — at 10⁹ rows and
    * k = 1000 that is ~10⁶ small rows). Row data never leaves executors.
    */
  case class MondrianResult(classes: DataFrame,
                            log: Seq[Seq[(Long, Int, Double)]])

  /** One row per equivalence class:
    * (pid, <col>_lo, <col>_hi ... per quasi column, n), every n ≥ k.
    */
  def mondrianClasses(df: DataFrame, quasiCols: Seq[String], k: Int,
                      maxRounds: Int = 64): DataFrame =
    mondrian(df, quasiCols, k, maxRounds).classes

  /** Per-partition split statistics, collected once per GENERATION (not
    * per consumer): count, per-attribute min/max (width) and exact
    * median. Decoupled from Row shape so the round-1 stats can ride the
    * setup aggregate.
    */
  private final case class PidStat(pid: Long, n: Long, mn: Array[Long],
                                   mx: Array[Long], md: Array[Double])

  def mondrian(df: DataFrame, quasiCols: Seq[String], k: Int,
               maxRounds: Int = 64): MondrianResult = {
    require(quasiCols.nonEmpty, "mondrian needs quasi columns")
    require(k >= 2, s"k must be >= 2, got $k")
    val m = quasiCols.size
    var cur = df.select(quasiCols.zipWithIndex.map { case (c, i) =>
        col(c).cast("long").as(s"__q$i") } :+ lit(0L).as("__pid"): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val log = Seq.newBuilder[Seq[(Long, Int, Double)]]
    // One driver-blocking job per GENERATION, not three (guide §1/§7 job
    // attribution — this loop was 3 jobs/round of pure scheduler latency
    // on partition-count-sized stats): the stats collect rides the job
    // that materializes the relabeled generation's persist (same frame,
    // same values the old loop-top collect read), so each round pays only
    // the ≤-median feasibility job plus that fused materialize+stats job.
    val statAggs = count(lit(1)).as("n") +: (0 until m).flatMap(i => Seq(
      min(col(s"__q$i")).as(s"mn$i"), max(col(s"__q$i")).as(s"mx$i"),
      percentile(col(s"__q$i"), lit(0.5)).as(s"md$i")))
    def collectStats(gen: DataFrame): Array[PidStat] =
      gen.groupBy(col("__pid")).agg(statAggs.head, statAggs.tail: _*)
        .collect().map(r => PidStat(r.getLong(0), r.getLong(1),
          (0 until m).map(i => r.getLong(2 + 3 * i)).toArray,
          (0 until m).map(i => r.getLong(3 + 3 * i)).toArray,
          (0 until m).map(i => r.getDouble(4 + 3 * i)).toArray))
    try {
      // global ranges normalize the width comparison across attributes;
      // the same pass counts nulls per quasi column, which must be ZERO:
      // a null is invisible to the split-feasibility count (null <=
      // median -> null -> uncounted) yet the relabel routes it to the
      // lower half (null > median -> otherwise(0)), so nulls would let
      // an upper class end up under k — fail fast instead of silently
      // breaking the k-anonymity-by-construction guarantee. The same
      // pass carries round 1's per-attribute medians: generation 0 is one
      // partition (__pid = 0), so its groupBy-__pid stats ARE this global
      // row — the old loop's first stats job re-read the cache for them.
      val gRow = cur.agg(count(lit(1)).as("n"),
        (0 until m).flatMap(i => Seq(min(col(s"__q$i")).as(s"mn$i"),
          max(col(s"__q$i")).as(s"mx$i"))) ++
        (0 until m).map(i =>
          sum(when(col(s"__q$i").isNull, 1L).otherwise(0L)).as(s"nn$i")) ++
        (0 until m).map(i =>
          percentile(col(s"__q$i"), lit(0.5)).as(s"md$i")): _*)
        .head()
      (0 until m).foreach { i =>
        val nn = gRow.getLong(1 + 2 * m + i)
        require(nn == 0L,
          s"mondrian quasi column '${quasiCols(i)}' has $nn null " +
            "value(s) (after cast to long); nulls break the k-anonymity " +
            "guarantee — filter or impute them upstream")
      }
      require(gRow.getLong(0) >= k.toLong,
        s"need at least k=$k rows, got ${gRow.getLong(0)}")
      val gw = (0 until m).map(i => math.max(1L,
        gRow.getLong(2 + 2 * i) - gRow.getLong(1 + 2 * i)).toDouble)
      var stats = Array(PidStat(0L, gRow.getLong(0),
        (0 until m).map(i => gRow.getLong(1 + 2 * i)).toArray,
        (0 until m).map(i => gRow.getLong(2 + 2 * i)).toArray,
        (0 until m).map(i => gRow.getDouble(1 + 3 * m + i)).toArray))
      var round = 0
      var live = true
      while (live && round < maxRounds) {
        round += 1
        val cands = stats.filter(_.n >= 2L * k)
        if (cands.isEmpty) { live = false }
        else {
          val candPids = cands.map(_.pid).toSet
          val meds = cands.map(s => s.pid -> s.md).toMap
          def medExpr(i: Int) = meds.foldLeft(lit(Double.NaN)) {
            case (acc, (pid, md)) =>
              when(col("__pid") === pid, lit(md(i))).otherwise(acc)
          }
          val leAggs = (0 until m).map(i =>
            sum(when(col(s"__q$i") <= medExpr(i), 1L).otherwise(0L))
              .as(s"le$i"))
          val les = cur.filter(col("__pid")
              .isin(candPids.toSeq.map(java.lang.Long.valueOf): _*))
            .groupBy(col("__pid")).agg(leAggs.head, leAggs.tail: _*)
            .collect().map(r => r.getLong(0) ->
              (0 until m).map(i => r.getLong(1 + i)).toArray).toMap
          val decisions = cands.toSeq.flatMap { st =>
            val pid = st.pid
            val n = st.n
            val order = (0 until m).map { i =>
              val w = (st.mx(i) - st.mn(i)).toDouble / gw(i)
              (-w, i)
            }.sorted.map(_._2)
            order.collectFirst(Function.unlift { (i: Int) =>
              val le = les(pid)(i)
              if (le >= k && (n - le) >= k)
                Some((pid, i, meds(pid)(i))) else None
            })
          }
          if (decisions.isEmpty) { live = false }
          else {
            log += decisions.sortBy(_._1)
            val delta = decisions.foldLeft(lit(0L)) {
              case (acc, (pid, a, md)) =>
                when(col("__pid") === pid,
                  when(col(s"__q$a") > md, 1L).otherwise(0L)).otherwise(acc)
            }
            val next = cur
              .withColumn("__pid", col("__pid") * 2 + delta)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            // materializes the persist AND is the next round's loop-top
            // stats read, one job
            stats = collectStats(next)
            cur.unpersist(false)
            cur = next
          }
        }
      }
      val outAggs = count(lit(1)).as("n") +:
        (0 until m).flatMap(i => Seq(
          min(col(s"__q$i")).as(s"${quasiCols(i)}_lo"),
          max(col(s"__q$i")).as(s"${quasiCols(i)}_hi")))
      val classes = cur.groupBy(col("__pid").as("pid"))
        .agg(outAggs.head, outAggs.tail: _*)
        .select(col("pid") +: (0 until m).flatMap(i => Seq(
          col(s"${quasiCols(i)}_lo"), col(s"${quasiCols(i)}_hi"))) :+
          col("n"): _*)
      MondrianResult(classes, log.result())
    } finally cur.unpersist(false)
  }
}
