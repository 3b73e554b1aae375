package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.operators.{Indicators, Joins}
import graft.streaming.IdempotentWriter

/** Batch indicator job — full parity with the reference's analytical core
  * (dags/spark_job_1.py:11-97), recomposed Spark-first. `run` has two plans:
  *
  *   empty sink:   kline scan -> single-pass 4-indicator window -> long shape
  *                 -> null filter -> broadcast dim join -> append
  *   sink has data: (kline scan ∪ sink key scan) -> ONE exchange on the
  *                 series -> per-timestamp type mask of the sink's keys ->
  *                 kline rows only -> the same windows, long shape and dim
  *                 join -> drop rows whose type bit is set -> append
  *
  * The type mask is the reference's 4-key left-anti join against the sink
  * (spark_job_1.py:74-85), folded into the window exchange: a computed
  * (series, type, timestamp) row is dropped iff the sink holds that key, and
  * the windows see only kline rows, so every value is unchanged. One hash
  * exchange and one sort feed all windows; no sort-merge join.
  *
  * Differences from the reference, by design (SURVEY.md §3.1 findings):
  *   - ONE WindowExec pass instead of cache + 4 branch re-scans: same result,
  *     one shuffle, no cache memory at 100 TB;
  *   - no `rdd.isEmpty` pre-action (spark_job_1.py:88 triggers a full extra
  *     job) — an empty append is a no-op;
  *   - timestamps second-grain end to end, so the idempotence key survives
  *     sink round-trips (the reference's DATETIME-precision bug).
  */
object IndicatorJob {

  val keyCols: Seq[String] = Seq("symbol_id", "interval_id", "type_id", "timestamp")

  /** Pure transform: kline fact rows -> indicator fact rows (without the
    * sink-side anti-join). Input needs (symbol_id, interval_id, close_time,
    * close_price); output (symbol_id, interval_id, type_id, value, timestamp).
    */
  def computeIndicators(klines: DataFrame, typeDim: DataFrame, n: Int = 14): DataFrame =
    output(indicatorRows(series(klines), typeDim, n))

  /** Drop rows already present in the sink (idempotence, spark_job_1.py:74-85). */
  def newOnly(computed: DataFrame, existing: DataFrame): DataFrame =
    Joins.antiJoinNew(computed, existing, keyCols)

  /** End-to-end run against a parquet warehouse directory: reads
    * `$dir/kline_fact` and `$dir/indicator_fact` (if it holds data files),
    * appends only new indicator rows. Re-running on unchanged input appends
    * nothing. Returns the number of rows appended.
    *
    * Type ids must lie in 0..62 (the bits of the sink's type mask); any other
    * id, in `typeDim` or in the sink, fails the run inside its own query.
    */
  def run(spark: SparkSession, klineFactPath: String, indicatorFactPath: String,
      typeDim: DataFrame, n: Int = 14): Long = {
    val klines = series(spark.read.parquet(klineFactPath))
    val types = typeDim.withColumn("type_id", maskId(col("type_id")))
    // a sink holding only committer droppings (a first append that died
    // mid-write) has no schema to infer: treat it as empty
    val fresh = output(
      if (IdempotentWriter.sinkHasData(spark, indicatorFactPath))
        newRows(klines, spark.read.parquet(indicatorFactPath), types, n)
      else indicatorRows(klines, types, n))
    // Two actions, count then append, over one cached frame: the count is
    // the return value and skips the write when nothing is new. On a cold
    // run the cache holds every indicator row.
    val toWrite = fresh.persist()
    try {
      val nRows = toWrite.count()
      if (nRows > 0)
        toWrite.write.mode(SaveMode.Append).parquet(indicatorFactPath)
      nRows
    } finally toWrite.unpersist() // a failed append must not leak the cache
  }

  // Indicator math runs in DOUBLE (decimal inputs would make the SMA
  // branch decimal while RSI/Bollinger are double — stack() refuses the
  // mix, and the reference's computation is effectively double anyway);
  // the declared DECIMAL(18,8) precision is applied to the OUTPUT.
  private def series(klines: DataFrame): DataFrame =
    klines
      // a NULL close_time indicator row could never satisfy the sink
      // anti-join's NOT NULL key contract (Joins.antiJoinNew) — it would
      // be RE-APPENDED on every run, breaking the idempotence promise
      // (round-13 fix); a timestamp-less kline carries no ordering
      // position for the window indicators anyway
      .filter(col("close_time").isNotNull)
      .select(col("symbol_id"), col("interval_id"), col("close_time"),
        col("close_price").cast("double").as("close_price"))

  private def indicatorRows(series: DataFrame, typeDim: DataFrame, n: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val spec = Indicators.SeriesSpec(
      partitionCols = Seq("symbol_id", "interval_id"),
      orderCols = Seq("close_time"),
      priceCol = "close_price",
      n = n)
    Joins.dimJoin(Indicators.allLong(series, spec, carry = carry), typeDim, Seq("type_name"))
  }

  private def output(rows: DataFrame): DataFrame =
    rows.select(
      col("symbol_id"), col("interval_id"), col("type_id"),
      col("value").cast(Schemas.indicatorDecimal).as("value"),
      col("close_time").as("timestamp"))

  /** Indicator rows of `series` whose key is not in `sink` — equal to
    * `newOnly(computeIndicators(...), sink)` in one exchange. Sink rows ride
    * the kline exchange as (series, close_time, `_have` = their type bit);
    * `bit_or` per (series, close_time) gives each kline the set of types the
    * sink already holds there. Sink rows with a NULL key are dropped first:
    * a NULL key never matches in the anti-join either.
    */
  private def newRows(series: DataFrame, sink: DataFrame, types: DataFrame, n: Int): DataFrame = {
    val have = sink
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
      .select(col("symbol_id"), col("interval_id"), col("timestamp").as("close_time"),
        lit(null).cast("double").as("close_price"),
        typeBit(maskId(col("type_id"))).as("_have"), lit(false).as("_kline"))
    val masked = series
      .select(col("*"), lit(0L).as("_have"), lit(true).as("_kline"))
      .unionByName(have)
      // the indicator windows partition by the series too, so they reuse
      // this exchange and the mask window's sort
      .repartition(col("symbol_id"), col("interval_id"))
      .withColumn("_have", bit_or(col("_have"))
        .over(Window.partitionBy("symbol_id", "interval_id", "close_time")))
      .filter(col("_kline"))
    indicatorRows(masked, types, n, carry = Seq("_have"))
      // a NULL type_id has no bit and is kept, as the anti-join keeps it
      .filter(coalesce(col("_have").bitwiseAND(typeBit(col("type_id"))), lit(0L)) === 0L)
  }

  private def typeBit(typeId: Column): Column = call_function("shiftleft", lit(1L), typeId)

  /** A mask bit exists for ids 0..62 only (`shiftleft` wraps the shift
    * count mod 64, so a wider id would alias a smaller one). Anything else
    * raises inside the query, so no extra job checks it. */
  private def maskId(typeId: Column): Column =
    when(typeId.between(0, 62) || typeId.isNull, typeId)
      .otherwise(raise_error(concat(lit("IndicatorJob: type_id "), typeId.cast("string"),
        lit(" is outside 0..62, the bits of the sink's type mask"))))
}
