package graft.pipelines

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.operators.Anonymize
import graft.sinks.SingleFile
import graft.sources.Tables

/** E2: the reference's directory-walk anonymizer
  * (/root/reference/anonymize_datasets.py:137-215): resolve the latest
  * date partition of the input directory (S3), then per file — CSV or
  * parquet — read, `cdmAnonymization` (scale values, anonymize labels,
  * pseudonymize uids), stamp audit columns (P8), rename
  * `{client}→{clientDemo}` / `.csv→.snappy.parquet` (S7), and write one
  * snappy parquet file per input file (S4). Returns output paths.
  *
  * Scale posture: the per-file loop is the reference's interface (file
  * name identity in = file name identity out), so each file becomes one
  * bounded single-file write — correct for the reference's per-client
  * extracts. A 100 TB ingest would instead read the whole partition as one
  * DataFrame (`input_file_name()` tracking) and keep directory-shaped
  * output; `cdmAnonymization` itself is already that shape.
  */
object AnonymizePipeline {

  /** S7: output name = input name with the client label swapped for the
    * demo label and `.csv` swapped for `.snappy.parquet`
    * (anonymize_datasets.py:175-177 — parquet inputs keep their name).
    */
  def renameOutput(fileName: String, client: String,
                   clientDemo: String = "client_demo"): String =
    fileName.replace(client, clientDemo).replace(".csv", ".snappy.parquet")

  /** Run the full anonymization pass. `clock` injects a fixed
    * `process_time` for deterministic tests (SURVEY.md §7.4).
    */
  def run(spark: SparkSession, inputDir: String, outputDir: String,
          keyDir: String, client: String, clientDemo: String = "client_demo",
          timezone: String = "America/Chicago",
          clock: Option[String] = None): Seq[String] = {
    val outPath = new Path(outputDir)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(outPath)
    Tables.latestPartition(spark, inputDir) match {
      case None => Seq.empty
      case Some(latest) =>
        Tables.partitionFiles(spark, s"$inputDir/$latest").map { case (kind, path) =>
          val df = kind match {
            case "csv" => Tables.csv(spark, path)
            case _ => Tables.parquet(spark, path)
          }
          val anonymized = Anonymize.stampAudit(
            Anonymize.cdmAnonymization(spark, df, keyDir),
            timezone, clock)
          val outFile = s"$outputDir/${renameOutput(new Path(path).getName, client, clientDemo)}"
          // one snappy parquet FILE per input file (the reference's
          // per-file contract)
          SingleFile.publish(spark, anonymized, outFile)(
            _.option("compression", "snappy").parquet(_))
          // cdmAnonymization persists its scaled scan for the multi-pass
          // label/uid work; release library-held caches before the next
          // file so a long directory walk doesn't accumulate an entry per
          // file (the reference frees per-file memory explicitly too,
          // anonymize_datasets.py:183-184). Registry-scoped: the user's
          // own cached frames are untouched.
          graft.CacheRegistry.releaseAll()
          outFile
        }
    }
  }
}
