package graft.operators

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Metric-family schema contract: the reference's `column_mappings`
  * (/root/reference/main.py:7-11) as typed config. Each family is the triple
  * (forecast, backcast, actual) plus the five derived column names.
  */
case class MetricFamily(forecast: String, backcast: String, actual: String) {
  val forecastAbsError: String = s"${forecast}_abs_error"
  val backcastAbsError: String = s"${backcast}_abs_error"
  val actualAbs: String = s"${actual}_abs"
  val forecastMape: String = s"${forecast}_mape"
  val backcastMape: String = s"${backcast}_mape"
  def base: Seq[String] = Seq(forecast, backcast, actual)
  def all: Seq[String] = Seq(forecast, backcast, actual, forecastAbsError,
    backcastAbsError, actualAbs, forecastMape, backcastMape)
}

/** WAPE/"MAPE" pipeline operators (reference E1, /root/reference/main.py:38-144),
  * re-expressed as lazy DataFrame transformations so Catalyst gets the whole
  * plan: both groupBys become partial+final hash aggregates, the derived
  * columns stay inside whole-stage codegen, and the raw scan is shared across
  * the portfolio/zonal variants by caching upstream.
  *
  * Semantics contract (SURVEY.md §2.4 A3): errors are computed on HOURLY sums,
  * then summed to day, then ratioed — `Σₕ|Σᵣf − Σᵣs| / Σₕ|Σᵣs|` — i.e.
  * volume-weighted WAPE, not mean-of-pointwise MAPE. Order of operations is
  * the contract; golden/oracle tests pin it.
  */
object Mape {

  /** The reference's exact default mapping (/root/reference/main.py:7-11). */
  val defaultFamilies: Seq[MetricFamily] = Seq(
    MetricFamily("forecast", "backcast", "settlement"),
    MetricFamily("forecast_gross", "backcast_gross", "usage_final_gross"),
    MetricFamily("forecast_net", "backcast_net", "usage_final_net"))

  /** Mapped columns present in `df`, in mapping order (main.py:41-45). */
  private def presentMappedCols(df: DataFrame, families: Seq[MetricFamily]): Seq[String] = {
    val have = df.columns.toSet
    families.flatMap(_.all).filter(have)
  }

  /** A1 + P5/P6 + P9: cast keys, hash-aggregate to (proxy_date, hour
    * [, zone]) sums over every mapped column present, derive per-family
    * absolute-error columns on the hourly sums.
    *
    * Scale: one shuffle on the grouping keys with map-side partial
    * aggregation; the derived columns are projections (no extra pass).
    * The reference sorts here (main.py:69) but that sort is presentational
    * and the daily groupBy immediately destroys it — a global range-shuffle
    * of the hourly grain for nothing at 100 TB. Ordering belongs at final
    * output only: pass `sort = true` (or `orderBy` yourself) when the hourly
    * frame IS the deliverable, and never feed a sorted frame to
    * [[dailyMapeAggregation]] — Spark keeps a sort under an aggregate of
    * double sums (`EliminateSorts` treats them as order-sensitive), so the
    * range shuffle would run for nothing.
    *
    * @param sort order the result by its full key, (proxy_date, hour) or
    *             (proxy_date, hour, zone): the reference's pandas `groupby`
    *             order, and a total order, so the row order is deterministic.
    */
  def hourlyAggregation(raw: DataFrame, zone: Boolean = false,
                        families: Seq[MetricFamily] = defaultFamilies,
                        sort: Boolean = false): DataFrame = {
    val sumCols = presentMappedCols(raw, families)
    require(sumCols.nonEmpty,
      "No columns found in the dataframe, make sure to define mappings correctly")
    val keys = if (zone) Seq("proxy_date", "hour", "zone") else Seq("proxy_date", "hour")
    val casted = raw
      .withColumn("proxy_date", to_date(col("proxy_date")))
      .withColumn("hour", col("hour").cast("int"))
    val aggregated = casted.groupBy(keys.map(col): _*)
      .agg(sumCols.head -> "sum", sumCols.tail.map(_ -> "sum"): _*)
      .toDF(keys ++ sumCols: _*)
    val errors = families.filter(_.base.forall(aggregated.columns.contains)).flatMap { fam =>
      Seq(fam.forecastAbsError -> abs(col(fam.forecast) - col(fam.actual)),
          fam.backcastAbsError -> abs(col(fam.backcast) - col(fam.actual)),
          fam.actualAbs -> abs(col(fam.actual)))
    }
    val withErrors = withDerived(aggregated, errors)
    if (sort) withErrors.orderBy(keys.map(col): _*) else withErrors
  }

  /** Add (or replace in place) `derived` in one projection, in order: one
    * analysis of the plan, where a `withColumn` per column re-analyzed the
    * whole plan each time. The optimized plan is the same.
    */
  private def withDerived(df: DataFrame, derived: Seq[(String, Column)]): DataFrame =
    if (derived.isEmpty) df else df.withColumns(ListMap(derived: _*))

  /** A2 + P10 + F1/F2/F3 + P4 (+ O3 zonal pivot): re-aggregate the hourly
    * frame to daily grain, derive WAPE ratios, drop inf/NaN/any-null rows,
    * drop both-zero (forecast, backcast) pairs, and splice the mape columns
    * at position 1 (portfolio) / 2 (zonal). Mirrors main.py:74-144.
    */
  def dailyMapeAggregation(hourly: DataFrame, zone: Boolean = false,
                           families: Seq[MetricFamily] = defaultFamilies): DataFrame = {
    val sumCols = presentMappedCols(hourly, families)
    require(sumCols.nonEmpty,
      "No columns found in the dataframe, make sure to define mappings correctly")
    val keys = if (zone) Seq("proxy_date", "zone") else Seq("proxy_date")
    val daily = hourly.groupBy(keys.map(col): _*)
      .agg(sumCols.head -> "sum", sumCols.tail.map(_ -> "sum"): _*)
      .toDF(keys ++ sumCols: _*)

    // P10: ratio columns. pandas ÷0 → ±inf then replace→dropna; Spark ÷0 →
    // null (and 0/0 on doubles → NaN under ANSI-off semantics). Emitting null
    // when the denominator is 0 makes F1+F2 below drop exactly the same rows
    // (SURVEY.md §7.4).
    val mapes = families.filter(fam => Seq(fam.actualAbs, fam.forecastAbsError,
        fam.backcastAbsError).forall(daily.columns.contains)).flatMap { fam =>
      val denom = col(fam.actualAbs)
      def ratio(num: String): Column =
        when(denom === 0.0, lit(null).cast(DoubleType))
          .otherwise(col(num) / denom)
      Seq(fam.forecastMape -> ratio(fam.forecastAbsError),
          fam.backcastMape -> ratio(fam.backcastAbsError))
    }
    val withMape = withDerived(daily, mapes)

    // F1 + F2: drop rows with any null/NaN in ANY column (main.py:105-106)
    // — `na.drop` counts NaN as null in float columns, so it is both.
    // F3: drop rows where zipped (forecast*, backcast*) pairs are both 0.0 —
    // the zip pairs (forecast, backcast) AND (f_abs_err, b_abs_err) per
    // family (main.py:108-114, SURVEY.md §7.4) — as ONE predicate: a
    // filter per column and per pair (~30 stacked filters for three
    // families) sent Catalyst's constraint propagation past 100 s of
    // planning before the first job.
    val forecastCols = sumCols.filter(_.contains("forecast"))
    val backcastCols = sumCols.filter(_.contains("backcast"))
    val nonZeroPairs = forecastCols.zip(backcastCols).map { case (f, b) =>
      !(col(f) === 0.0 && col(b) === 0.0)
    }
    val noNulls = withMape.na.drop("any")
    val zeroFiltered =
      nonZeroPairs.reduceOption(_ && _).fold(noNulls)(noNulls.filter)

    // P4: splice mape columns at position 1 (portfolio) / 2 (zonal).
    val insertAt = if (zone) 2 else 1
    val mapeCols = zeroFiltered.columns.filter(_.contains("mape")).toSeq
    val others = zeroFiltered.columns.filterNot(_.contains("mape")).toSeq
    val order = others.take(insertAt) ++ mapeCols ++ others.drop(insertAt)
    val ordered = zeroFiltered.select(order.map(col): _*)

    // The zonal pivot needs the distinct zone set BEFORE the pivot plan can
    // be built (an eager action); persist the daily frame so that action
    // and the pivot itself share one materialization instead of running
    // the whole hourly→daily→mape pipeline twice.
    if (zone) pivotZones(graft.CacheRegistry.persist(ordered), families)
    else ordered
  }

  /** O3: long→wide zonal pivot with pandas-style `{metric}_{zone}` flattened
    * names (main.py:129-141 — Spark's pivot natively emits `{zone}_{metric}`,
    * so rename after). The daily frame is small (one row per date×zone); the
    * pivot's single shuffle is bounded by date cardinality.
    */
  def pivotZones(daily: DataFrame,
                 families: Seq[MetricFamily] = defaultFamilies): DataFrame = {
    val metricCols = daily.columns.filter(c => families.exists(_.all.contains(c))).toSeq
    val zones = daily.select("zone").distinct().collect()
      .map(_.getString(0)).sorted.toSeq
    val pivoted = daily.groupBy(col("proxy_date"))
      .pivot("zone", zones)
      .agg(metricCols.map(c => first(col(c)).as(c)).head,
           metricCols.map(c => first(col(c)).as(c)).tail: _*)
    // Spark names multi-agg pivot columns `{zone}_{metric}`; pandas flattens
    // its MultiIndex to `{metric}_{zone}` in metric-major order (main.py:137).
    val flat =
      if (metricCols.size == 1)
        metricCols.flatMap(m => zones.map(z => col(z).as(s"${m}_$z")))
      else
        metricCols.flatMap(m => zones.map(z => col(s"${z}_$m").as(s"${m}_$z")))
    pivoted.select(col("proxy_date") +: flat: _*)
  }
}
