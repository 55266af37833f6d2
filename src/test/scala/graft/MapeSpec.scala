package graft

import org.apache.spark.sql.DataFrame
import graft.operators.{Mape, MetricFamily}

/** FIXTURES.md schema-A variants (a)–(g): pins the reference's WAPE
  * ordering contract (errors on hourly sums → daily sums → ratio,
  * /root/reference/main.py:61-68,96,101-102), the ÷0/null/zero-pair
  * filters, column splice positions, and the zonal pivot naming.
  * Goldens are hand-computed below.
  */
class MapeSpec extends SparkSpec {
  import spark.implicits._

  private def f1(rows: Seq[(String, Int, Double, Double, Double)]): DataFrame =
    rows.toDF("proxy_date", "hour", "forecast", "backcast", "settlement")

  test("(f) sum-then-error order: errors form on HOURLY SUMS, not per row") {
    // two raw rows in one hour: f = 10+10=20, s = 5+25=30 → |20-30| = 10.
    // Pointwise would give |10-5| + |10-25| = 20: order is the contract.
    val hourly = Mape.hourlyAggregation(f1(Seq(
      ("2024-01-01", 0, 10.0, 8.0, 5.0),
      ("2024-01-01", 0, 10.0, 8.0, 25.0))))
    val r = hourly.collect()
    assert(r.length === 1)
    val row = hourly.select("forecast", "settlement", "forecast_abs_error",
      "backcast_abs_error", "settlement_abs").head()
    assert(row.getDouble(0) === 20.0)
    assert(row.getDouble(1) === 30.0)
    assert(row.getDouble(2) === 10.0) // |20-30|, not 20
    assert(row.getDouble(3) === 14.0) // |16-30|
    assert(row.getDouble(4) === 30.0)
  }

  test("(a/f) daily WAPE: Σₕ|Σf−Σs| / Σₕ|Σs| — volume-weighted, order-pinned") {
    // hour 0: f=20 s=30 → err 10; hour 1: f=50 s=40 → err 10.
    // daily: ferr=20, sabs=70 → mape = 2/7 (NOT mean of 1/3 and 1/4).
    val raw = f1(Seq(
      ("2024-01-01", 0, 10.0, 10.0, 5.0),
      ("2024-01-01", 0, 10.0, 10.0, 25.0),
      ("2024-01-01", 1, 50.0, 50.0, 40.0)))
    val daily = Mape.dailyMapeAggregation(Mape.hourlyAggregation(raw))
    val row = daily.select("forecast_mape", "backcast_mape", "settlement_abs").head()
    assert(math.abs(row.getDouble(0) - 2.0 / 7.0) < 1e-15)
    assert(math.abs(row.getDouble(1) - 2.0 / 7.0) < 1e-15)
    assert(row.getDouble(2) === 70.0)
  }

  test("(b) family-1-only input aggregates only present columns") {
    val hourly = Mape.hourlyAggregation(f1(Seq(("2024-01-01", 3, 1.0, 2.0, 3.0))))
    val cols = hourly.columns.toSet
    assert(cols === Set("proxy_date", "hour", "forecast", "backcast", "settlement",
      "forecast_abs_error", "backcast_abs_error", "settlement_abs"))
  }

  test("(c) no mapped columns raises the reference's error") {
    val e = intercept[IllegalArgumentException] {
      Mape.hourlyAggregation(Seq(("2024-01-01", 1, 9.9)).toDF("proxy_date", "hour", "unmapped"))
    }
    assert(e.getMessage.contains("define mappings correctly"))
  }

  test("(d) ÷0 denominators drop the row (pandas inf→nan→dropna parity)") {
    val raw = f1(Seq(
      ("2024-01-01", 0, 10.0, 10.0, 0.0),   // settlement_abs = 0 → dropped
      ("2024-01-02", 0, 10.0, 10.0, 5.0)))  // survives
    val daily = Mape.dailyMapeAggregation(Mape.hourlyAggregation(raw))
    assert(daily.select("proxy_date").as[java.sql.Date].collect()
      .map(_.toString).toSeq === Seq("2024-01-02"))
  }

  test("(e) both-zero (forecast, backcast) pairs drop; single zero survives") {
    val raw = f1(Seq(
      ("2024-01-01", 0, 0.0, 0.0, 5.0),   // f=b=0 → dropped by F3
      ("2024-01-02", 0, 0.0, 1.0, 5.0)))  // only forecast 0 → kept
    val daily = Mape.dailyMapeAggregation(Mape.hourlyAggregation(raw))
    assert(daily.select("proxy_date").collect().map(_.get(0).toString).toSeq ===
      Seq("2024-01-02"))
  }

  test("(g) hourly sort is opt-in and correct when requested") {
    val raw = f1(Seq(
      ("2024-01-02", 5, 1.0, 1.0, 1.0),
      ("2024-01-01", 7, 1.0, 1.0, 1.0),
      ("2024-01-01", 2, 1.0, 1.0, 1.0)))
    val sorted = Mape.hourlyAggregation(raw, sort = true)
      .select("proxy_date", "hour").collect()
      .map(r => (r.get(0).toString, r.getInt(1))).toSeq
    assert(sorted === Seq(("2024-01-01", 2), ("2024-01-01", 7), ("2024-01-02", 5)))
  }

  test("portfolio daily splices mape columns at position 1") {
    val daily = Mape.dailyMapeAggregation(Mape.hourlyAggregation(
      f1(Seq(("2024-01-01", 0, 10.0, 10.0, 5.0)))))
    assert(daily.columns.take(3).toSeq ===
      Seq("proxy_date", "forecast_mape", "backcast_mape"))
  }

  test("zonal path pivots wide with pandas-style {metric}_{zone} names") {
    val raw = Seq(
      ("2024-01-01", 0, "ZA", 10.0, 10.0, 5.0),
      ("2024-01-01", 0, "ZB", 50.0, 50.0, 40.0))
      .toDF("proxy_date", "hour", "zone", "forecast", "backcast", "settlement")
    val daily = Mape.dailyMapeAggregation(Mape.hourlyAggregation(raw, zone = true),
      zone = true)
    val cols = daily.columns.toSet
    assert(cols.contains("forecast_mape_ZA") && cols.contains("forecast_mape_ZB"))
    assert(cols.contains("settlement_abs_ZA"))
    assert(!cols.exists(_.startsWith("ZA_")), "Spark-native {zone}_{metric} leaked")
    val row = daily.head()
    assert(row.getAs[Double]("forecast_mape_ZA") === 1.0)  // |10-5|/5
    assert(row.getAs[Double]("forecast_mape_ZB") === 0.25) // |50-40|/40
  }

  test("multiple families derive independently and only when complete") {
    val raw = Seq(("2024-01-01", 0, 10.0, 8.0, 5.0, 100.0, 80.0, 50.0))
      .toDF("proxy_date", "hour", "forecast", "backcast", "settlement",
        "forecast_net", "backcast_net", "usage_final_net")
    val daily = Mape.dailyMapeAggregation(Mape.hourlyAggregation(raw))
    val row = daily.head()
    assert(row.getAs[Double]("forecast_mape") === 1.0)
    assert(row.getAs[Double]("forecast_net_mape") === 1.0)
    assert(daily.columns.count(_.endsWith("_mape")) === 4)
  }

  test("all three default families plan and run in seconds, portfolio " +
       "and zonal, with hand-computed WAPE cells") {
    // family 1 (forecast, backcast, settlement) per (date, hour, zone);
    // gross = family 1 doubled (same ratios), net tracks settlement
    // except a backcast miss. 01-02 has settlement 0 (÷0 → dropped by
    // F1); 01-03 has forecast = backcast = 0 (dropped by F3).
    val fam1 = Seq(
      ("2024-01-01", 0, "A", 10.0, 12.0, 8.0, 8.0, 8.0, 8.0),
      ("2024-01-01", 1, "A", 20.0, 18.0, 16.0, 16.0, 17.0, 16.0),
      ("2024-01-01", 0, "B", 5.0, 6.0, 4.0, 4.0, 4.0, 4.0),
      ("2024-01-01", 1, "B", 7.0, 9.0, 10.0, 10.0, 11.0, 10.0),
      ("2024-01-02", 0, "A", 1.0, 1.0, 0.0, 1.0, 1.0, 1.0),
      ("2024-01-02", 0, "B", 1.0, 1.0, 0.0, 1.0, 1.0, 1.0),
      ("2024-01-03", 0, "A", 0.0, 0.0, 5.0, 5.0, 5.0, 5.0),
      ("2024-01-03", 0, "B", 0.0, 0.0, 5.0, 5.0, 5.0, 5.0))
    val raw = fam1.map { case (d, h, z, f, b, s, fn, bn, sn) =>
        (d, h, z, f, b, s, 2 * f, 2 * b, 2 * s, fn, bn, sn) }
      .toDF("proxy_date", "hour", "zone",
        "forecast", "backcast", "settlement",
        "forecast_gross", "backcast_gross", "usage_final_gross",
        "forecast_net", "backcast_net", "usage_final_net")
    val t0 = System.nanoTime()
    val port = Mape.dailyMapeAggregation(Mape.hourlyAggregation(raw))
      .collect()
    val zonal = Mape.dailyMapeAggregation(
      Mape.hourlyAggregation(raw, zone = true), zone = true).collect()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 60.0, f"three-family MAPE took $secs%.1f s")
    // portfolio: hourly sums h0 f=15 b=18 s=12, h1 f=27 b=27 s=26 →
    // Σ|f−s| = 4, Σ|b−s| = 7, Σ|s| = 38; net: Σ|f−s| = 0, Σ|b−s| = 2
    assert(port.length === 1)
    val p = port.head
    assert(p.schema.fieldNames.slice(1, 7).toSeq === Seq(
      "forecast_mape", "backcast_mape", "forecast_gross_mape",
      "backcast_gross_mape", "forecast_net_mape", "backcast_net_mape"))
    assert(p.getAs[java.sql.Date]("proxy_date").toString === "2024-01-01")
    assert(p.getAs[Double]("forecast_mape") === 4.0 / 38.0)
    assert(p.getAs[Double]("backcast_mape") === 7.0 / 38.0)
    assert(p.getAs[Double]("forecast_gross_mape") === 4.0 / 38.0)
    assert(p.getAs[Double]("backcast_gross_mape") === 7.0 / 38.0)
    assert(p.getAs[Double]("forecast_net_mape") === 0.0)
    assert(p.getAs[Double]("backcast_net_mape") === 2.0 / 38.0)
    // zonal: A Σ|f−s| = 6, Σ|b−s| = 6, Σ|s| = 24;
    //        B Σ|f−s| = 4, Σ|b−s| = 3, Σ|s| = 14
    assert(zonal.length === 1)
    val z = zonal.head
    assert(z.getAs[Double]("forecast_mape_A") === 6.0 / 24.0)
    assert(z.getAs[Double]("backcast_mape_A") === 6.0 / 24.0)
    assert(z.getAs[Double]("forecast_mape_B") === 4.0 / 14.0)
    assert(z.getAs[Double]("backcast_mape_B") === 3.0 / 14.0)
    assert(z.getAs[Double]("forecast_gross_mape_B") === 4.0 / 14.0)
    assert(z.getAs[Double]("backcast_gross_mape_A") === 6.0 / 24.0)
    assert(z.getAs[Double]("forecast_net_mape_A") === 0.0)
    assert(z.getAs[Double]("backcast_net_mape_A") === 1.0 / 24.0)
    assert(z.getAs[Double]("backcast_net_mape_B") === 1.0 / 14.0)
  }

  test("MetricFamily derived-name contract matches the reference") {
    val fam = MetricFamily("forecast", "backcast", "settlement")
    assert(fam.all === Seq("forecast", "backcast", "settlement",
      "forecast_abs_error", "backcast_abs_error", "settlement_abs",
      "forecast_mape", "backcast_mape"))
  }

  test("property: daily WAPE is invariant to raw row order and partitioning") {
    // seeded random frame; integer-valued doubles so sums are exact in any
    // accumulation order (the engine's float-determinism contract)
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(200) { i =>
      (f"2024-01-${i % 5 + 1}%02d", rnd.nextInt(24),
        rnd.nextInt(2000).toDouble, rnd.nextInt(2000).toDouble,
        rnd.nextInt(2000).toDouble)
    }
    def runOn(rs: Seq[(String, Int, Double, Double, Double)], parts: Int): Seq[String] =
      Mape.dailyMapeAggregation(Mape.hourlyAggregation(f1(rs).repartition(parts)))
        .orderBy("proxy_date").collect().map(_.toString).toSeq
    val base = runOn(rows, 4)
    assert(runOn(rnd.shuffle(rows), 4) === base, "row order must not matter")
    assert(runOn(rows, 13) === base, "partitioning must not matter")
  }
}
