package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.KafkaJson

/** The two ingestion pipelines (SURVEY.md §3.2/§3.3) as Structured Streaming
  * flows: source -> explicit-schema decode -> validity guard -> idempotent
  * sink. Sources are plain DataFrames so the same transform runs on a Kafka
  * stream, a file-replay stream (tests, zero-egress env) or a MemoryStream.
  * Micro-batches are stateless: exactly-once effect comes from the replayable
  * source plus the idempotent sink, as in the reference (INSERT IGNORE).
  *
  * Streaming semantics mapping (SURVEY.md §2.10):
  *   T1 at-least-once + post-commit offsets  -> checkpoint + IdempotentWriter
  *   T4 producer high-watermark              -> IdempotentWriter in-batch dedup + sink anti-join
  *   T5 polling cadence                      -> Trigger.ProcessingTime
  *   T6 bounded drain (poll max_records)     -> Trigger.AvailableNow
  *   T7 Airflow run-to-completion cycle      -> availableNow batch-drain mode
  */
object Pipelines {

  /** Kafka source for a topic, earliest offsets (consumer_prices.py:45-52).
    * Requires the spark-sql-kafka connector on the cluster classpath; in this
    * zero-egress dev image the connector jar is absent, so tests exercise the
    * decode/dedup/sink chain through file and memory sources instead.
    */
  def kafkaSource(spark: SparkSession, servers: String, topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", servers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .load()

  /** Decode + guard for the price stream. Input: raw frame with a `value`
    * column. Output: typed klines, malformed messages dropped. No dedup:
    * [[start]] dedups through [[IdempotentWriter]]; a caller writing the
    * flow anywhere else must dedup on [[klineKeys]] itself.
    */
  def priceFlow(raw: DataFrame): DataFrame =
    KafkaJson.parsePrices(raw)
      .filter(col("symbol").isNotNull && col("open_time").isNotNull)

  /** Decode + URL whitelist (producer_news.py:29-36) for the news stream.
    * No dedup: the reference's sent_urls set and consumer existence check
    * collapse into [[IdempotentWriter]] behind [[start]]; a caller writing
    * the flow anywhere else must dedup on [[newsKeys]] itself.
    */
  def newsFlow(raw: DataFrame): DataFrame =
    KafkaJson.parseNews(raw)
      .filter(col("url").isNotNull && KafkaJson.validNewsUrl(col("url")))

  val klineKeys: Seq[String] = Seq("symbol", "interval", "open_time")
  val newsKeys: Seq[String] = Seq("url")

  /** Stream-stream correlation: klines joined with news published in the
    * preceding `lookback` window (the price x news analysis the reference's
    * star schema supports only offline). Both sides carry watermarks so the
    * join state is bounded; the time-range predicate lets Spark expire rows
    * deterministically.
    *
    * Inputs: decoded kline stream (with `symbol`, event-time `open_time`)
    * and a news stream carrying a `symbol` column (extraction from
    * title/content is the caller's tokenizer choice) and `created_date`.
    */
  def priceNewsJoin(
      klines: DataFrame,
      news: DataFrame,
      lookback: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame = {
    val k = klines.withWatermark("open_time", watermark)
    val n = news.withWatermark("created_date", watermark)
    k.join(n,
      k("symbol") === n("symbol") &&
        n("created_date") >= k("open_time") - expr(s"INTERVAL $lookback") &&
        n("created_date") <= k("open_time"),
      "inner")
      .drop(n("symbol"))
  }

  /** Start a pipeline into an idempotent parquet sink: every micro-batch goes
    * through [[IdempotentWriter.appendNew]] on `keys`. `availableNow = true`
    * is the Airflow-style run-to-completion drain (T6/T7); false runs
    * continuously at `cadence` (T5; 10s prices / 30s news in the reference).
    */
  def start(
      flow: DataFrame,
      sinkPath: String,
      checkpoint: String,
      keys: Seq[String],
      availableNow: Boolean = true,
      cadence: String = "10 seconds"): StreamingQuery =
    flow.writeStream
      .foreachBatch(IdempotentWriter.appendNew(sinkPath, keys) _)
      .option("checkpointLocation", checkpoint)
      .trigger(if (availableNow) Trigger.AvailableNow() else Trigger.ProcessingTime(cadence))
      .start()
}
