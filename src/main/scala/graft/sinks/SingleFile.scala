package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}

/** One-file deliverables (a per-input anonymized parquet file, a client
  * CSV): the shape a human or a downstream tool opens by name, not a
  * Spark output directory.
  */
object SingleFile {

  /** Write `df` as exactly ONE file at `target`: `write` lands a
    * single-partition staging directory write (format and options are
    * the caller's), its part file is promoted to `target`, and the
    * staging directory is dropped.
    */
  def publish(spark: SparkSession, df: DataFrame, target: String)(
      write: (DataFrameWriter[Row], String) => Unit): Unit = {
    val targetPath = new Path(target)
    val fs = targetPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(target + ".staging")
    write(df.coalesce(1).write.mode("overwrite"), staging.toString)
    val part = fs.listStatus(staging)
      .map(_.getPath).find(_.getName.startsWith("part-"))
      .getOrElse(throw new java.io.IOException(s"no part file under $staging"))
    if (fs.exists(targetPath)) fs.delete(targetPath, false)
    if (!fs.rename(part, targetPath))
      throw new java.io.IOException(s"cannot promote $part to $targetPath")
    fs.delete(staging, true)
  }
}
