package graft

import org.apache.spark.sql.functions._
import graft.operators.TableMerge

/** Partition-scoped upsert contracts: merge semantics must equal the
  * logical full-table upsert, while PHYSICALLY only the batch's
  * partitions change — untouched partitions keep byte-identical files,
  * which is the whole 100 TB point.
  */
class TableMergeSpec extends SparkSpec {
  import spark.implicits._

  private def fileState(dir: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
    walk(new java.io.File(dir))
      .map(f => f.getAbsolutePath -> ((f.length(), f.lastModified()))).toMap
  }

  test("upsert rewrites only touched partitions; untouched files are " +
    "byte-identical; semantics equal the logical merge") {
    val dir = tmpDir("graft-merge") + "/table"
    val base = Seq(
      (1L, "a", 0), (2L, "b", 0),
      (3L, "c", 1), (4L, "d", 1),
      (5L, "e", 2), (6L, "f", 2)).toDF("id", "v", "p")
    assert(TableMerge.upsertPartitioned(spark, dir, base,
      Seq("id"), "p") === 3)
    val before = fileState(dir)
    // update key 5, insert key 7 (both p=2), open new partition p=9
    val updates = Seq(
      (5L, "E2", 2), (7L, "g", 2), (8L, "h", 9)).toDF("id", "v", "p")
    assert(TableMerge.upsertPartitioned(spark, dir, updates,
      Seq("id"), "p") === 2)
    val after = fileState(dir)
    // logical result: full upsert
    val got = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got === Set(
      (1L, "a", 0), (2L, "b", 0), (3L, "c", 1), (4L, "d", 1),
      (5L, "E2", 2), (6L, "f", 2), (7L, "g", 2), (8L, "h", 9)))
    // physical: p=0 and p=1 files untouched (same paths, sizes, mtimes)
    val untouchedBefore = before.filter(k => k._1.contains("p=0") || k._1.contains("p=1"))
    val untouchedAfter = after.filter(k => k._1.contains("p=0") || k._1.contains("p=1"))
    assert(untouchedBefore === untouchedAfter,
      "files of unreferenced partitions must not be rewritten")
    // p=2 rewritten, p=9 created
    assert(before.keys.filter(_.contains("p=2")).toSet
      .intersect(after.keys.filter(_.contains("p=2")).toSet).isEmpty,
      "touched partition must have new files")
    assert(after.keys.exists(_.contains("p=9")))
    // staging dir is cleaned up
    assert(!new java.io.File(dir.stripSuffix("/") + ".__merge_staging").exists())
    // idempotent replay: the same batch again changes nothing logically
    TableMerge.upsertPartitioned(spark, dir, updates, Seq("id"), "p")
    val again = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(again === got)
  }

  test("compaction rewrites only over-fragmented partitions; rows and " +
    "other partitions untouched") {
    val dir = tmpDir("graft-compact") + "/table"
    TableMerge.upsertPartitioned(spark,
      dir, Seq((1L, "a", 0), (2L, "b", 1)).toDF("id", "v", "p"),
      Seq("id"), "p")
    // three more single-row upserts into p=1 → it fragments; p=0 stays
    for (i <- 3L to 5L)
      TableMerge.upsertPartitioned(spark,
        dir, Seq((i, s"v$i", 1)).toDF("id", "v", "p"), Seq("id"), "p")
    val before = fileState(dir)
    val expected = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(before.keys.count(_.contains("p=1")) > 2, "p=1 must be fragmented")
    val compacted = TableMerge.compactPartitions(spark, dir, "p", maxFiles = 2)
    assert(compacted === Seq("p=1"))
    val after = fileState(dir)
    assert(after.keys.count(_.contains("p=1")) === 1,
      "fragmented partition collapses to one file at this size")
    assert(before.filter(_._1.contains("p=0")) === after.filter(_._1.contains("p=0")),
      "partitions under the file threshold are untouched")
    val got = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(got === expected, "compaction is layout-only")
    // already compact: second run is a no-op
    assert(TableMerge.compactPartitions(spark, dir, "p", maxFiles = 2).isEmpty)
    assert(fileState(dir) === after)
  }

  test("string partition values with path-escaped characters survive " +
    "upsert and compaction") {
    val dir = tmpDir("graft-merge-esc") + "/t"
    val mk = (id: Long, v: String) => (id, v, "region US west")
    TableMerge.upsertPartitioned(spark,
      dir, Seq(mk(1L, "a")).toDF("id", "v", "p"), Seq("id"), "p")
    for (i <- 2L to 4L)
      TableMerge.upsertPartitioned(spark,
        dir, Seq(mk(i, s"v$i")).toDF("id", "v", "p"), Seq("id"), "p")
    assert(TableMerge.compactPartitions(spark, dir, "p", maxFiles = 2)
      .nonEmpty, "the escaped partition must be found and compacted")
    val got = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(got === (1L to 4L).map((_, "region US west")).toSet,
      "all rows survive compaction under the escaped partition value")
  }

  test("first call creates the partitioned table; contracts hold") {
    val dir = tmpDir("graft-merge-new") + "/t"
    val df = Seq((1L, "x", 7)).toDF("id", "v", "p")
    assert(TableMerge.upsertPartitioned(spark, dir, df, Seq("id"), "p") === 1)
    assert(spark.read.parquet(dir).count() === 1)
    intercept[IllegalArgumentException](
      TableMerge.upsertPartitioned(spark, dir, df, Seq.empty, "p"))
    intercept[IllegalArgumentException](
      TableMerge.upsertPartitioned(spark, dir, df, Seq("p"), "p"))
    intercept[IllegalArgumentException](
      TableMerge.upsertPartitioned(spark, dir,
        df.drop("p"), Seq("id"), "p"))
  }

  test("purgeKeys: only keyed rows die, untouched partitions keep " +
    "byte-identical files, emptied partitions disappear, idempotent") {
    val dir = tmpDir("graft-purge") + "/table"
    Seq((1L, "a", 0), (2L, "b", 0), (3L, "c", 1), (4L, "d", 1),
      (5L, "e", 2))                       // p=2 holds ONLY id 5
      .toDF("id", "v", "p").write.partitionBy("p").parquet(dir)
    val before = fileState(dir)
    val erase = Seq(1L, 5L, 99L).toDF("id")   // 99 hits nothing
    val audit = TableMerge.purgeKeys(spark, dir, erase, Seq("id"), "p")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(audit === Map("0" -> 1L, "2" -> 1L))
    val left = spark.read.parquet(dir)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(left === Set((2L, "b"), (3L, "c"), (4L, "d")))
    assert(!new java.io.File(dir, "p=2").exists(),
      "a fully-purged partition must not keep its old files")
    val after = fileState(dir)
    val p1 = before.keys.filter(_.contains("p=1"))
    assert(p1.nonEmpty && p1.forall(k => after.get(k) === before.get(k)),
      "partition without hits is untouched on disk")
    assert(before.keys.filter(_.contains("p=0"))
      .forall(k => !after.contains(k)), "hit partition was rewritten")
    // idempotent: nothing left to purge, no partition touched
    val again = fileState(dir)
    assert(TableMerge.purgeKeys(spark, dir, erase, Seq("id"), "p")
      .count() === 0L)
    assert(fileState(dir) === again)
    intercept[IllegalArgumentException](
      TableMerge.purgeKeys(spark, dir, erase, Seq.empty, "p"))
    intercept[IllegalArgumentException](
      TableMerge.purgeKeys(spark, dir, Seq(1).toDF("p"), Seq("p"), "p"))
  }

  test("purgeKeys: the null partition (__HIVE_DEFAULT_PARTITION__) is " +
    "purged, audited and emptied like any other") {
    val dir = tmpDir("graft-purge-null") + "/table"
    val nullDir = new java.io.File(dir,
      s"p=${org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .DEFAULT_PARTITION_NAME}")
    Seq[(Long, String, String)]((1L, "a", null), (2L, "b", null),
      (3L, "c", "x"), (4L, "d", "y"))
      .toDF("id", "v", "p").write.partitionBy("p").parquet(dir)
    assert(nullDir.isDirectory)
    def left = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), Option(r.getString(2)))).toSet
    val audit = TableMerge.purgeKeys(spark, dir, Seq(1L, 4L).toDF("id"),
      Seq("id"), "p").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(left === Set((2L, None), (3L, Some("x"))))
    assert(audit === Map(nullDir.getName.stripPrefix("p=") -> 1L, "y" -> 1L))
    assert(!new java.io.File(dir, "p=y").exists())
    TableMerge.purgeKeys(spark, dir, Seq(2L).toDF("id"), Seq("id"), "p")
    assert(left === Set((3L, Some("x"))))
    assert(!nullDir.exists(), "an emptied null partition must not keep " +
      "its old files")
  }
}
