package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Mape, MetricFamily}
import graft.sinks.ExcelSink
import graft.sources.Tables

/** E1: the reference's per-client MAPE batch
  * (/root/reference/main.py:156-201) as one lazy DAG per variant off a
  * single shared scan.
  *
  * The reference runs four aggregations per client against the same raw
  * frame; here the raw scan is cached once and all four variants reuse it —
  * two hash-agg shuffles each. The Excel export collects only the bounded
  * daily/hourly aggregates (plus, optionally, the raw sheet the reference
  * also writes — guarded by the sink's row cap).
  *
  * Order: each deliverable frame is ordered once, at its root, by its full
  * key — hourly by (proxy_date, hour[, zone]), daily by proxy_date. That
  * is the reference's pandas `groupby` order (main.py:69), and a total
  * order, so every sheet's bytes are deterministic. Both daily
  * aggregations read the UNSORTED hourly frames: Spark keeps a sort under
  * an aggregate of double sums (`EliminateSorts` treats them as
  * order-sensitive), so a sorted input would cost each daily frame a
  * range-partition sample and a sort shuffle for rows the daily groupBy
  * re-orders anyway.
  */
object MapePipeline {

  /** The four per-client result frames (reference main.py:165-168). */
  case class MapeRun(raw: DataFrame, hourlyPortfolio: DataFrame,
                     dailyPortfolioMape: DataFrame, hourlyZone: DataFrame,
                     dailyZoneMape: DataFrame)

  /** Build all four variants off one cached scan (registry-tracked:
    * `CacheRegistry.releaseAll()` frees it once the results are consumed).
    */
  def run(raw: DataFrame,
          families: Seq[MetricFamily] = Mape.defaultFamilies): MapeRun = {
    val shared = graft.CacheRegistry.persist(raw)
    val hourlyPortfolio = Mape.hourlyAggregation(shared, zone = false, families)
    val hourlyZone = Mape.hourlyAggregation(shared, zone = true, families)
    MapeRun(shared,
      hourlyPortfolio.orderBy("proxy_date", "hour"),
      Mape.dailyMapeAggregation(hourlyPortfolio, zone = false, families).orderBy("proxy_date"),
      hourlyZone.orderBy("proxy_date", "hour", "zone"),
      Mape.dailyMapeAggregation(hourlyZone, zone = true, families).orderBy("proxy_date"))
  }

  /** Full per-client run: CSV scan (S1, lowercased columns) → four
    * aggregation variants → multi-sheet Excel workbook at
    * `outputDir/{client}_performance.xlsx` (S5; sheet set mirrors
    * main.py:170-178). Returns the workbook path.
    *
    * `includeRaw` controls the reference's `raw_data` sheet: it collects
    * the input to the driver, so it is only viable for reference-scale
    * inputs (the sink's row cap enforces that); at fact scale leave it off.
    */
  def runClient(spark: SparkSession, csvPath: String, client: String,
                outputDir: String, includeRaw: Boolean = true,
                families: Seq[MetricFamily] = Mape.defaultFamilies): String = {
    val r = run(Tables.csv(spark, csvPath), families)
    val sheets =
      (if (includeRaw) Seq("raw_data" -> r.raw) else Seq.empty) ++ Seq(
        "hourly_portfolio" -> r.hourlyPortfolio,
        "daily_portfolio_mape" -> r.dailyPortfolioMape,
        "hourly_zone" -> r.hourlyZone,
        "daily_zone_mape" -> r.dailyZoneMape)
    new java.io.File(outputDir).mkdirs()
    val path = s"$outputDir/${client}_performance.xlsx"
    // release in finally: the row-cap guard can throw mid-write, and the
    // error path must not leak the cached scan / pivot frames either
    try ExcelSink.write(path, sheets)
    finally graft.CacheRegistry.releaseAll()
    path
  }
}
