package graft.sinks

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The client-facing CSV presentation layer — the one output the reference
  * repo ships that no parquet consumer sees: display column names and
  * human number grammar exactly as the committed golden
  * `/root/reference/output/client-MAPE With Weather_imply.csv` renders
  * them:
  *
  *  - header `Start Time,Forecast MAPE (%),Backcast MAPE (%),
  *    Demand Forecast (MW),Backcast (MW),Settlement Usage (MW),
  *    Load Forecast Error,Backcast Abs Errors Gross`;
  *  - timestamps as `yyyy-MM-dd HH:mm:ss`;
  *  - MAPE ratios ×100 with two decimals and a spaced percent sign
  *    (`19.83 %`);
  *  - MW magnitudes with thousands separators and two decimals
  *    (`1,009.29`), which CSV-quotes exactly the values that carry a
  *    comma — the golden's quoting pattern falls out of standard minimal
  *    quoting;
  *  - `Load Forecast Error` SIGNED (forecast − settlement), `Backcast
  *    Abs Errors Gross` unsigned — the golden carries both signs.
  *
  * Presentation only: every column renders to STRING here, terminally —
  * nothing downstream of this frame computes. The engine's analytical
  * columns ([[graft.operators.Mape]]'s daily frame) stay numeric.
  */
object ClientCsv {

  /** The golden header, in order. */
  val DisplayColumns: Seq[String] = Seq(
    "Start Time", "Forecast MAPE (%)", "Backcast MAPE (%)",
    "Demand Forecast (MW)", "Backcast (MW)", "Settlement Usage (MW)",
    "Load Forecast Error", "Backcast Abs Errors Gross")

  /** `19.83 %` — ratio → percent, two decimals, spaced sign. */
  def pct(c: Column): Column =
    concat(format_number(c * 100, 2), lit(" %"))

  /** `1,009.29` — thousands separators, two decimals. */
  def mw(c: Column): Column = format_number(c, 2)

  /** Render a [[graft.operators.Mape.dailyMapeAggregation]] portfolio
    * frame to the golden's display shape. `dateCol` may be a DATE or an
    * ISO `yyyy-MM-dd` string; it renders with a midnight time part, as
    * the golden does for daily grain.
    */
  def mapeDisplayFrame(daily: DataFrame,
                       dateCol: String = "proxy_date",
                       forecastMape: String = "forecast_mape",
                       backcastMape: String = "backcast_mape",
                       forecast: String = "forecast",
                       backcast: String = "backcast",
                       settlement: String = "settlement",
                       backcastAbsError: String = "backcast_abs_error")
      : DataFrame =
    daily.select(
      concat(date_format(col(dateCol).cast("date"), "yyyy-MM-dd"),
        lit(" 00:00:00")).as(DisplayColumns(0)),
      pct(col(forecastMape)).as(DisplayColumns(1)),
      pct(col(backcastMape)).as(DisplayColumns(2)),
      mw(col(forecast)).as(DisplayColumns(3)),
      mw(col(backcast)).as(DisplayColumns(4)),
      mw(col(settlement)).as(DisplayColumns(5)),
      mw(col(forecast) - col(settlement)).as(DisplayColumns(6)),
      mw(col(backcastAbsError)).as(DisplayColumns(7)))

  /** Minimal CSV quoting as a pure expression: wrap iff the rendered
    * value carries the separator (numbers never carry quote characters,
    * so no inner-quote escaping arises in this grammar).
    */
  def csvCell(c: Column): Column =
    when(c.contains(","), concat(lit("\""), c, lit("\""))).otherwise(c)

  /** The display frame rendered to CSV LINES — (start_time, line), the
    * oracle-comparable form of the deliverable (parquet cannot carry the
    * display names' parens/percent characters as column names, and the
    * line string is exactly what the client file holds anyway).
    */
  def csvLines(display: DataFrame): DataFrame =
    display.select(col(DisplayColumns.head).as("start_time"),
      concat_ws(",", DisplayColumns.map(n => csvCell(col(n))): _*)
        .as("line"))

  /** DuckDB replay of [[mw]]: printf fixes two decimals (identical
    * correct rounding of the same binary double — exact .xx5 ties are
    * impossible for this grammar's value classes: integer cents and
    * k/200-irrepresentable ratio percentages), then thousands grouping
    * via the reverse/regex trick (RE2 has no lookahead).
    */
  def mwOracleSql(expr: String): String =
    s"""(CASE WHEN starts_with(printf('%.2f', $expr), '-')
       |      THEN '-' ELSE '' END ||
       |  regexp_replace(reverse(regexp_replace(reverse(
       |    split_part(ltrim(printf('%.2f', $expr), '-'), '.', 1)),
       |    '(\\d{3})', '\\1,', 'g')), '^,', '') ||
       |  '.' || split_part(printf('%.2f', $expr), '.', 2))""".stripMargin

  /** DuckDB replay of [[pct]]. */
  def pctOracleSql(expr: String): String =
    s"(${mwOracleSql(s"($expr) * 100")} || ' %')"

  /** DuckDB replay of [[csvCell]]. */
  def csvCellOracleSql(expr: String): String =
    s"(CASE WHEN contains($expr, ',') THEN '\"' || $expr || '\"' ELSE $expr END)"

  /** Write `display` as exactly ONE headered CSV file at `target` (the
    * client-deliverable contract — one file a human opens, like the
    * reference's). Minimal quoting (only values containing the
    * separator), matching the golden byte grammar. Order before calling
    * if row order matters; this writes the frame as-is through a staged
    * single-partition write ([[SingleFile.publish]]).
    */
  def writeSingleCsv(spark: SparkSession, display: DataFrame,
                     target: String): Unit =
    SingleFile.publish(spark, display, target)(
      _.option("header", "true").csv(_))
}
