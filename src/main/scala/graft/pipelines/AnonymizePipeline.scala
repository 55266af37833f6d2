package graft.pipelines

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.operators.Anonymize
import graft.sinks.SingleFile
import graft.sources.Tables

/** E2: the reference's directory-walk anonymizer
  * (/root/reference/anonymize_datasets.py:137-215): resolve the latest
  * date partition of the input directory (S3), then run
  * `Anonymize.cdmAnonymizationRun` over all of its files — CSV or parquet —
  * in three steps:
  *
  *  1. read every file, scale its values and anonymize its labels;
  *  2. run one key-table upsert per distinct uid column, over that column
  *     from every file that has it;
  *  3. join each file to the fresh key tables, stamp audit columns (P8),
  *     rename `{client}→{clientDemo}` / `.csv→.snappy.parquet` (S7), and
  *     write one snappy parquet file per input file (S4).
  *
  * Returns output paths.
  *
  * Scale posture: file name identity in = file name identity out is the
  * reference's interface, so each file becomes one bounded single-file
  * write — correct for the reference's per-client extracts. The key tables,
  * which grow with the uid history, are rewritten once per run, not once
  * per file. A partition's frames stay cached (memory and disk) until its
  * outputs are written. A 100 TB ingest would instead read the whole
  * partition as one DataFrame (`input_file_name()` tracking) and keep
  * directory-shaped output; `cdmAnonymizationRun` itself is already that
  * shape.
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
        val files = Tables.partitionFiles(spark, s"$inputDir/$latest")
        // cdmAnonymizationRun persists each file's scaled scan for its label
        // collects and upsert reads; release the library-held caches once
        // the partition's outputs are written (the reference frees per-file
        // memory explicitly too, anonymize_datasets.py:183-184).
        // Registry-scoped: the user's own cached frames are untouched.
        try {
          val dfs = files.map {
            case ("csv", path) => Tables.csv(spark, path)
            case (_, path) => Tables.parquet(spark, path)
          }
          Anonymize.cdmAnonymizationRun(spark, dfs, keyDir).zip(files).map {
            case (anonymized, (_, path)) =>
              val outFile = s"$outputDir/${renameOutput(new Path(path).getName, client, clientDemo)}"
              // one snappy parquet FILE per input file (the reference's
              // per-file contract)
              SingleFile.publish(spark, Anonymize.stampAudit(anonymized, timezone, clock),
                outFile)(_.option("compression", "snappy").parquet(_))
              outFile
          }
        } finally graft.CacheRegistry.releaseAll()
    }
  }
}
