package perfbench

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.sources.KafkaJson
import graft.streaming.Pipelines

/** ingest_replay: a run-to-completion drain of landed kline wire JSON through
  * priceFlow -> Pipelines.start (IdempotentWriter sink), one file per
  * micro-batch, then a restart that replays the tail into the same sink
  * from a fresh checkpoint. Closed loop: each micro-batch starts when the
  * previous one has committed. */
object Ingest {

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val sink = s"${c.work}/sink"
    def drain(dir: String, checkpoint: String) = {
      val raw = spark.readStream.option("maxFilesPerTrigger", "1").text(dir)
      val q = c.tracer.span("pipelines.start")(
        Pipelines.start(Pipelines.priceFlow(raw), sink, checkpoint, Pipelines.klineKeys))
      c.tracer.span("streaming.await") {
        q.awaitTermination()
        c.drainBus()
        val batches = c.progress.of(q.id)
        batches.foreach(traceBatch(c, _))
        batches
      }
    }
    // set-up: a one-file drain into a throwaway sink, so the streaming engine's
    // first-query start-up and JIT warm-up are paid before the timed round
    // (they show in setup_s instead)
    val warm = s"${c.work}/warm-landing"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(warm))
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"${c.inputs}/landing/part-00000.json"),
      java.nio.file.Paths.get(s"$warm/part-00000.json"))
    Pipelines.start(Pipelines.priceFlow(spark.readStream.option("maxFilesPerTrigger", "1").text(warm)),
      s"${c.work}/warm-sink", s"${c.work}/ckpt-warm", Pipelines.klineKeys).awaitTermination()
    var drainMs, replayMs = 0.0
    var batches, replayBatches = Seq.empty[StreamingQueryProgress]
    c.round("ingest.round") {
      val (b, ms) = c.timed("ingest.drain")(drain(s"${c.inputs}/landing", s"${c.work}/ckpt-drain"))
      batches = b; drainMs = ms
      val (r, rms) = c.timed("ingest.replay")(drain(s"${c.inputs}/replay", s"${c.work}/ckpt-replay"))
      replayBatches = r; replayMs = rms
    }
    val messages = c.expect("messages").toDouble
    val nonEmpty = batches.filter(_.numInputRows > 0)
    val trigger = nonEmpty.map(_.durationMs.get("triggerExecution").toDouble)
    c.rec.ops ++= trigger
    c.rec.figures ++= Seq(
      "ingest_rows_per_s" -> messages / (drainMs / 1000),
      "batch_ms_p50" -> Stats.median(trigger),
      "batch_ms_p90" -> Stats.quantile(trigger, 0.9),
      "batches" -> nonEmpty.size.toDouble,
      "replay_rows_per_s" -> c.expect("replay_messages").toDouble / (replayMs / 1000),
      "drain_s" -> drainMs / 1000, "replay_s" -> replayMs / 1000)

    val sinkDf = spark.read.parquet(sink)
    val keys = sinkDf.select(
      concat_ws("|", col("symbol"), col("interval"), unix_seconds(col("open_time")).cast("string")))
      .collect().map(r => Option(r.getString(0)).getOrElse("<null>"))
    val n = keys.length.toLong
    c.rec.check("sink holds every distinct valid key once",
      n == c.expect("expected_keys").toLong && keys.distinct.length == keys.length,
      s"rows=$n distinct=${keys.distinct.length} expected=${c.expect("expected_keys")}")
    c.rec.check("sink key hash equals the generator's",
      KeyHash(keys) == c.expect("expected_key_hash"),
      s"sink=${KeyHash(keys)} expected=${c.expect("expected_key_hash")}")
    val replayAppended = replayBatches.map(_.numInputRows).sum
    c.rec.check("restart replay read its files and appended nothing",
      replayAppended == c.expect("replay_messages").toLong && n == c.expect("expected_keys").toLong,
      s"replayed_rows=$replayAppended sink_rows=$n")
    c.rec.check("no batch missing from the progress log",
      nonEmpty.size >= c.expect("files").toInt, s"non-empty batches=${nonEmpty.size}")

    if (c.tracer.on) {
      val all = batches ++ replayBatches
      def sumD(k: String) = all.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
      val adds = nonEmpty.map(_.durationMs.get("addBatch").toDouble)
      // growth of the sink's cost as the sink grows: the last third of the
      // batches against the first third, the query's first batch left out
      val third = math.max(1, (adds.size - 1) / 3)
      val st = all.flatMap(_.stateOperators)
      val files = new java.io.File(sink).listFiles().count(_.getName.endsWith(".parquet"))
      c.rec.layers ++= Seq(
        "streaming.latest_offset_ms" -> sumD("latestOffset"),
        "streaming.query_planning_ms" -> sumD("queryPlanning"),
        "streaming.wal_commit_ms" -> sumD("walCommit"),
        "streaming.state_rows" -> (if (st.isEmpty) 0.0 else st.map(_.numRowsTotal).max.toDouble),
        "streaming.state_mem_bytes" -> (if (st.isEmpty) 0.0 else st.map(_.memoryUsedBytes).max.toDouble),
        "streaming.rows_dropped_by_watermark" -> st.map(_.numRowsDroppedByWatermark).sum.toDouble,
        "streaming.sink.add_batch_ms_p50" -> Stats.median(adds),
        "streaming.sink.add_batch_growth" ->
          Stats.mean(adds.takeRight(third)) / Stats.mean(adds.slice(1, 1 + third)),
        "streaming.sink.rows_appended" -> n.toDouble,
        "streaming.sink.accept_ratio" -> n / messages,
        "streaming.sink.files" -> files.toDouble)
      // the decode layer alone, called as a batch over the same landed files
      val raw = spark.read.text(s"${c.inputs}/landing")
      val (_, decodeMs) = c.timed("sources.decode")(
        KafkaJson.parsePrices(raw).write.format("noop").mode("overwrite").save())
      val malformed = KafkaJson.parsePrices(raw)
        .filter(col("symbol").isNull || col("open_time").isNull).count()
      c.rec.layers ++= Seq(
        "sources.decode_ms" -> decodeMs,
        "sources.decode_rows_per_s" -> messages / (decodeMs / 1000),
        "sources.malformed_rows" -> malformed.toDouble)
      c.rec.check("decode drops exactly the malformed messages",
        malformed == c.expect("malformed").toLong, s"malformed=$malformed")
    }
  }

  /** A micro-batch as a span, with its phase durations laid out as child
    * spans in the order the engine runs them. */
  private def traceBatch(c: Ctx, p: StreamingQueryProgress): Unit = if (c.tracer.on) {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val total = p.durationMs.get("triggerExecution").toDouble
    val batch = c.tracer.record("streaming.batch", start, start + total)
    var t = start
    Seq("latestOffset" -> "streaming.latest_offset", "queryPlanning" -> "streaming.query_planning",
      "addBatch" -> "streaming.sink.add_batch", "walCommit" -> "streaming.wal_commit").foreach {
      case (k, name) =>
        val d = Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
        if (d > 0) c.tracer.record(name, t, t + d, batch)
        t += d
    }
  }
}

/** Order-independent multiset hash of key strings: the sum mod 2^64 of the
  * first 8 bytes (big-endian) of each key's MD5, as perfbench/gen.py
  * computes it for the expected keys. */
object KeyHash {
  def apply(keys: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    var sum = BigInt(0)
    keys.foreach { k =>
      sum += BigInt(1, md.digest(k.getBytes("UTF-8")).take(8))
    }
    (sum mod (BigInt(1) << 64)).toString
  }
}
