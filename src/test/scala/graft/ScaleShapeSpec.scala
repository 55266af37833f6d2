package graft

import org.apache.spark.sql.functions._
import graft.operators.Skew

/** The explicit scale tools: salted joins must keep exact join semantics
  * while spreading hot keys, and z-ordered layouts must concentrate range
  * queries into fewer files.
  */
class ScaleShapeSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin equals the plain join on skewed data (inner and left)") {
    // hot key 1 carries 80% of the big side
    val big = ((1 to 800).map(_ => 1L) ++ (1 to 200).map(i => (i % 50 + 2).toLong))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "row_id")
    val small = (1 to 40).map(i => (i.toLong, s"name$i")).toDF("k", "name")
    for (jt <- Seq("inner", "left")) {
      val plain = big.join(small, Seq("k"), jt)
        .orderBy("row_id").collect().map(_.toString).toSeq
      val salted = Skew.saltedJoin(big, small, Seq("k"), salts = 8, joinType = jt)
        .orderBy("row_id").collect().map(_.toString).toSeq
      assert(salted === plain, s"$jt join semantics must be preserved")
    }
  }

  test("saltedJoin rejects semantics-changing join types") {
    val df = Seq((1L, "a")).toDF("k", "v")
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(df, df, Seq("k"), 4, joinType = "full_outer")
    }
  }

  test("zorderKey interleaves bits exactly (vs a reference Morton encoder)") {
    import org.apache.spark.sql.functions.col
    def mortonRef(xs: Seq[Long], bits: Int): Long =
      (for ((x, k) <- xs.zipWithIndex; b <- 0 until bits)
        yield ((x >> b) & 1L) << (b * xs.size + k)).foldLeft(0L)(_ | _)
    val samples = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 9L),
      (65535L, 0L), (65535L, 65535L), (12345L, 54321L))
    val got = samples.toDF("x", "y")
      .select(graft.sources.ZOrder.zorderKey(Seq(col("x"), col("y"))))
      .collect().map(_.getLong(0)).toSeq
    assert(got === samples.map { case (x, y) => mortonRef(Seq(x, y), 16) })
  }

  test("z-ordered layout concentrates a 2-D range query into fewer files " +
       "than a single-column sort") {
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(42)
    val pts = Seq.fill(20000)((rnd.nextInt(256).toLong, rnd.nextInt(256).toLong))
      .zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
      .toDF("id", "x", "y")
    val zDir = tmpDir("zorder")
    val xDir = tmpDir("xsort")
    graft.sources.ZOrder.writeZOrdered(pts, zDir, Seq("x", "y"),
      bits = 8, filesPerWrite = 64)
    pts.repartitionByRange(64, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(xDir)
    def filesTouched(dir: String): (Long, Long) = {
      val hit = spark.read.parquet(dir)
        .filter(col("x").between(96, 127) && col("y").between(96, 127))
      (hit.select(input_file_name()).distinct().count(), hit.count())
    }
    val (zFiles, zRows) = filesTouched(zDir)
    val (xFiles, xRows) = filesTouched(xDir)
    assert(zRows === xRows, "layout must not change the answer")
    // an x-only sort spreads any y-selective query across ~every file
    // containing the x range; the Morton layout keeps the 2-D neighborhood
    // in a handful — the file-stat pruning this buys at 100 TB is the point
    assert(zFiles < xFiles,
      s"z-order touched $zFiles files vs x-sort $xFiles — no locality win")
    assert(zFiles <= 6, s"z-order spread the 1/64 query over $zFiles of 64 files")
  }
}
