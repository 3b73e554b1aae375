package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Technical-indicator operators: trailing-window SMA, RSI (Cutler's method) and
  * Bollinger bands, re-expressing the reference's analytical core
  * (reference: dags/spark_job_1.py:11-97) as pure `DataFrame => DataFrame`
  * functions over a declarative window spec.
  *
  * Semantics pinned to the reference (SURVEY.md §3.1):
  *   - trailing ROWS frame [-(n-1), 0]; warm-up rows EMIT partial-window values
  *     (avg/stddev over however many rows exist), they are not nulled;
  *   - first row of each partition: lag is NULL -> diff NULL -> gain/loss 0.0
  *     (spark_job_1.py:33-34 `otherwise(0.0)`), stddev of 1 row is NULL;
  *   - RSI divide-by-zero (flat or all-gain windows): NULL, then dropped by the
  *     null filter (spark_job_1.py:37,54). Spark 4 runs ANSI mode by default where
  *     x/0 raises, so the NULL is made explicit with nullif — same observable
  *     behavior as the reference's non-ANSI PySpark;
  *   - Bollinger uses SAMPLE stddev (Spark `stddev` = stddev_samp, matching both
  *     PySpark and DuckDB defaults).
  *
  * Scale posture: one shuffle (hashpartitioning on the partition keys) feeds all
  * four indicator branches; callers computing several indicators should use
  * [[Indicators.all]] which computes them in a single WindowExec pass instead of
  * unioning four re-scans (the reference re-derives each branch from a cached
  * scan; at 100 TB a single-pass projection is strictly better — no cache, no
  * 4x window evaluation).
  */
object Indicators {

  /** Window-series coordinates: which columns identify a series, how it is
    * ordered, and which column carries the price. Order columns should include a
    * unique tiebreaker (e.g. an id) so results are deterministic under ties.
    */
  final case class SeriesSpec(
      partitionCols: Seq[String],
      orderCols: Seq[String],
      priceCol: String,
      n: Int = 14) {
    // n = 0 builds the inverted frame rowsBetween(1, 0) — an analysis-time
    // frame error far from the caller; fail at construction instead
    require(n >= 1, s"SeriesSpec: window length n must be >= 1, got $n")
    def window: WindowSpec =
      Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCols.map(col): _*)
    def frame: WindowSpec = window.rowsBetween(-(n - 1), Window.currentRow)
  }

  /** Simple moving average over the trailing n rows (reference: spark_job_1.py:28). */
  def smaCol(spec: SeriesSpec): Column = avg(col(spec.priceCol)).over(spec.frame)

  /** RSI by Cutler's method — simple MA of gains/losses, not Wilder's EMA
    * (reference: spark_job_1.py:32-39). NULL when the trailing window has no
    * losses (division by zero), matching the reference's non-ANSI semantics.
    */
  def rsiCol(spec: SeriesSpec): Column = {
    val diff = col(spec.priceCol) - lag(col(spec.priceCol), 1).over(spec.window)
    val gain = when(diff > 0, diff).otherwise(lit(0.0))
    val loss = when(diff < 0, -diff).otherwise(lit(0.0))
    val avgGain = avg(gain).over(spec.frame)
    val avgLoss = avg(loss).over(spec.frame)
    val rs = avgGain / nullif(avgLoss, lit(0.0))
    lit(100.0) - (lit(100.0) / (lit(1.0) + rs))
  }

  /** Bollinger middle/upper/lower: SMA ± k * sample-stddev
    * (reference: spark_job_1.py:42-45, k=2).
    */
  def bollingerUpCol(spec: SeriesSpec, k: Double = 2.0): Column =
    smaCol(spec) + lit(k) * stddev_samp(col(spec.priceCol)).over(spec.frame)

  def bollingerDownCol(spec: SeriesSpec, k: Double = 2.0): Column =
    smaCol(spec) - lit(k) * stddev_samp(col(spec.priceCol)).over(spec.frame)

  /** All four indicators in ONE window pass (wide shape). A single WindowExec
    * evaluates every aggregate over the shared frame — one shuffle, one sort,
    * no cache, no union. Columns: input ++ (sma, rsi, bb_up, bb_down).
    */
  def all(df: DataFrame, spec: SeriesSpec, k: Double = 2.0): DataFrame =
    df.withColumns(Map(
      "sma" -> smaCol(spec),
      "rsi" -> rsiCol(spec),
      "bb_up" -> bollingerUpCol(spec, k),
      "bb_down" -> bollingerDownCol(spec, k)
    ))

  /** Reference-parity "long" shape: the 4-branch unionByName + null filter
    * (reference: spark_job_1.py:48-54). Output columns:
    * partitionCols ++ orderCols ++ (type_name, value).
    *
    * Implemented as the single-pass wide computation followed by an unpivot
    * (stack) — semantically identical to the reference's 4-way union of
    * separately-projected branches, but evaluates the window once. The null
    * filter drops RSI ÷0 rows and single-row-stddev Bollinger rows exactly as
    * the reference's `filter(value IS NOT NULL)` does (spark_job_1.py:54).
    * `carry` names extra input columns repeated on each of a row's four
    * output rows (between the order columns and type_name).
    */
  def allLong(df: DataFrame, spec: SeriesSpec, k: Double = 2.0,
      carry: Seq[String] = Nil): DataFrame = {
    val wide = all(df, spec, k)
    val keep = (spec.partitionCols ++ spec.orderCols ++ carry).distinct.map(col)
    val unpivoted = wide.select(keep :+ expr(
      "stack(4, 'SMA', sma, 'RSI', rsi, 'BB_UP', bb_up, 'BB_DOWN', bb_down) AS (type_name, value)"
    ): _*)
    unpivoted.filter(col("value").isNotNull)
  }
}
