package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.queries.WireQueries
import graft.streaming.{IdempotentWriter, Pipelines, StatefulIndicators}

/** Streaming semantics (SURVEY.md §2.10): duplicate suppression, replay
  * idempotence, run-to-completion drain parity with batch, and stateful
  * incremental indicators matching the batch window computation.
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String) = graft.util.TempDirs.create(prefix).toString

  test("priceFlow through MemoryStream: duplicates collapse, malformed rows dropped (T3/T4)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val flow = Pipelines.priceFlow(mem.toDF().withColumnRenamed("value", "value"))
    val sink = tmp("graft-sink") + "/klines"
    val q = Pipelines.start(flow, sink, tmp("graft-ckpt"), Pipelines.klineKeys,
      availableNow = false, cadence = "1 second")
    try {
      // 4 clean fixtures + a re-send of the first + one malformed message
      mem.addData(WireQueries.priceFixtures: _*)
      mem.addData(WireQueries.priceFixtures.head)
      mem.addData("not json")
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(sink)
    assert(rows.count() == 4) // dedup by (symbol, interval, open_time)
    assert(rows.filter($"symbol".isNull).count() == 0)
  }

  test("round-13: a backfilled kline with an arbitrarily old open_time " +
      "still lands (the event-time watermark dropped history replays)") {
    // the flow carries no watermark at all — adding a symbol replays its
    // history, whose open_times sit far behind the stream's horizon; under
    // the old open_time watermark these rows were silently dropped before
    // the sink (and its anti-join) ever saw them
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val flow = Pipelines.priceFlow(mem.toDF())
    val sink = tmp("graft-backfill") + "/klines"
    val q = Pipelines.start(flow, sink, tmp("graft-backfill-ckpt"),
      Pipelines.klineKeys, availableNow = false, cadence = "1 second")
    try {
      mem.addData(WireQueries.priceFixtures: _*) // 2024 data sets the clock
      q.processAllAvailable()
      mem.addData("""{"symbol":"SOLUSDT","interval":"1h","open_time":1577836800000,"open":"1.0","high":"1.1","low":"0.9","close":"1.05","volume":"10.0","close_time":1577840399999,"fetched_at":"2024-01-02T00:00:00"}""")
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(sink)
    assert(out.filter($"symbol" === "SOLUSDT").count() == 1,
      "backfilled 2020 kline was dropped as late data")
  }

  /** Lands each file's lines as one text file, mtimes ascending, so a
    * `maxFilesPerTrigger=1` drain reads them one micro-batch each. */
  private def land(dir: String, files: Seq[Seq[String]]): Unit =
    files.zipWithIndex.foreach { case (lines, i) =>
      val f = java.nio.file.Paths.get(dir, f"part-$i%05d.json")
      Files.createDirectories(f.getParent)
      Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      assert(f.toFile.setLastModified(1700000000000L + i * 1000L))
    }

  /** Drains `dir` through `flow` into the sink from `checkpoint`, one file
    * per micro-batch; returns the query's progress log. */
  private def drainFiles(flow: DataFrame => DataFrame, dir: String, sink: String,
      checkpoint: String, keys: Seq[String]) = {
    val raw = spark.readStream.option("maxFilesPerTrigger", "1").text(dir)
    val q = Pipelines.start(flow(raw), sink, checkpoint, keys)
    assert(q.awaitTermination(120000), s"drain of $dir did not finish")
    assert(q.exception.isEmpty, s"drain failed: ${q.exception}")
    // stateless micro-batches: no operator keeps a state store
    assert(q.lastProgress != null && q.lastProgress.stateOperators.isEmpty,
      s"state operators left in the flow: ${q.lastProgress}")
    assert(q.recentProgress.forall(_.stateOperators.isEmpty))
    q.recentProgress.toSeq
  }

  /** Asserts the sink holds exactly `expected` keys once each, and that a
    * replay of the last two landed files from a fresh checkpoint appends
    * nothing. */
  private def assertSinkDedup(flow: DataFrame => DataFrame, files: Seq[Seq[String]],
      keys: Seq[String], key: Column, expected: Set[String]): Unit = {
    val root = tmp("graft-sinkdedup")
    land(root + "/landing", files)
    val sink = root + "/sink"
    val batches = drainFiles(flow, root + "/landing", sink, root + "/ckpt", keys)
    assert(batches.count(_.numInputRows > 0) == files.size,
      "each landed file must be its own micro-batch")
    def sinkKeys() = spark.read.parquet(sink).select(key.cast("string"))
      .as[String].collect().toSeq
    assert(sinkKeys().sorted == expected.toSeq.sorted)
    land(root + "/replay", files.takeRight(2))
    val replayed = drainFiles(flow, root + "/replay", sink, root + "/ckpt-replay", keys)
    assert(replayed.map(_.numInputRows).sum == files.takeRight(2).map(_.size).sum)
    assert(sinkKeys().sorted == expected.toSeq.sorted, "replay appended rows")
  }

  private def kline(sym: String, openMs: Long) =
    s"""{"symbol":"$sym","interval":"1h","open_time":$openMs,"open":"1.0","high":"1.1","low":"0.9","close":"1.05","volume":"10.0","close_time":${openMs + 3599999L},"fetched_at":"2024-01-01T01:00:05"}"""

  private def article(url: String) =
    s"""{"title":"t","url":"$url","created_date":"2024-01-01 12:00:00+00:00","tag":null,"content":"c","sentiment_score":0.1}"""

  test("stateless priceFlow: the sink alone dedups within a file, across " +
      "micro-batches and on replay, and drops malformed lines") {
    val h = 3600000L
    val t0 = 1704067200000L
    val files = Seq(
      Seq(kline("BTCUSDT", t0), kline("ETHUSDT", t0), kline("BTCUSDT", t0), "not json"),
      Seq(kline("BTCUSDT", t0 + h), kline("SOLUSDT", t0),
        """{"symbol":null,"interval":"1h","open_time":1704067200000}"""),
      Seq(kline("SOLUSDT", t0), kline("ETHUSDT", t0 + h), "{broken"))
    val expected = Seq("BTCUSDT" -> t0, "ETHUSDT" -> t0, "BTCUSDT" -> (t0 + h),
      "SOLUSDT" -> t0, "ETHUSDT" -> (t0 + h))
      .map { case (sym, ms) => s"$sym|1h|${ms / 1000}" }.toSet
    assertSinkDedup(Pipelines.priceFlow, files, Pipelines.klineKeys,
      concat_ws("|", $"symbol", $"interval", unix_seconds($"open_time").cast("string")),
      expected)
  }

  test("stateless newsFlow: the sink alone dedups URLs within a file, " +
      "across micro-batches and on replay, and drops bad lines") {
    val a = "https://www.coindesk.com/markets-a"
    val b = "https://www.newsbtc.com/analysis/b"
    val c = "https://www.coindesk.com/policy-c"
    val files = Seq(
      Seq(article(a), article(b), article(a), "not json"),
      Seq(article(c), article("https://evil.example.com/x")),
      Seq(article(c), article(b), """{"title":"no url"}"""))
    assertSinkDedup(Pipelines.newsFlow, files, Pipelines.newsKeys, $"url", Set(a, b, c))
  }

  test("IdempotentWriter key read-back: non-key sink columns in another " +
      "order do not matter") {
    val sink = tmp("graft-keyorder") + "/out"
    Seq(("x", "n1", 1), ("y", "n2", 2)).toDF("v", "note", "id").write.parquet(sink)
    IdempotentWriter.appendNew(sink, Seq("id"))(Seq((2, "b"), (3, "c")).toDF("id", "v"), 0L)
    val ids = spark.read.schema("id INT").parquet(sink).as[Int].collect().toSeq
    assert(ids.sorted == Seq(1, 2, 3))
  }

  test("IdempotentWriter key read-back: a key named in another case " +
      "resolves under spark.sql.caseSensitive=false") {
    assert(!spark.conf.get("spark.sql.caseSensitive").toBoolean)
    val sink = tmp("graft-keycase") + "/out"
    val batch = Seq((1, "a"), (2, "b")).toDF("id", "v")
    IdempotentWriter.appendNew(sink, Seq("ID"))(batch, 0L)
    IdempotentWriter.appendNew(sink, Seq("ID"))(batch, 0L) // replay
    IdempotentWriter.appendNew(sink, Seq("Id"))(Seq((2, "b"), (3, "c")).toDF("id", "v"), 1L)
    val ids = spark.read.parquet(sink).select("id").as[Int].collect().toSeq
    assert(ids.sorted == Seq(1, 2, 3))
  }

  test("IdempotentWriter key read-back: a sink key of an incompatible type " +
      "fails the batch and appends nothing") {
    val sink = tmp("graft-keytype") + "/out"
    Seq(("1", "a"), ("2", "b")).toDF("id", "v").write.parquet(sink)
    val filesBefore = new java.io.File(sink).list().sorted.toSeq
    intercept[Exception] {
      IdempotentWriter.appendNew(sink, Seq("id"))(Seq((2, "b"), (3, "c")).toDF("id", "v"), 0L)
    }
    assert(new java.io.File(sink).list().sorted.toSeq == filesBefore)
    assert(spark.read.parquet(sink).count() == 2)
  }

  test("Drain registry drops terminated queries on each add and is empty " +
      "after a sweep") {
    import scala.jdk.CollectionConverters._
    import graft.streaming.Drain
    val src = tmp("graft-drainreg")
    Seq("a", "b").toDF("value").write.text(src + "/in")
    def drain() = {
      val q = spark.readStream.schema("value STRING").text(src + "/in")
        .writeStream.format("noop")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      Drain.awaitOrFail(q, "registry")
      q
    }
    val first = Seq(drain(), drain())
    drain()
    val live = Drain.tracked.asScala.flatMap(r => Option(r.get())).toSeq
    assert(first.forall(q => !live.exists(_ eq q)),
      "terminated drains were kept past the next add")
    Drain.stopLeftovers()
    assert(Drain.tracked.isEmpty)
  }

  test("IdempotentWriter: replayed micro-batch appends nothing (T1 effectively-once)") {
    val sink = tmp("graft-replay") + "/out"
    val batch = Seq((1, "a"), (2, "b")).toDF("id", "v")
    IdempotentWriter.appendNew(sink, Seq("id"))(batch, 0L)
    IdempotentWriter.appendNew(sink, Seq("id"))(batch, 0L) // replay after "crash"
    IdempotentWriter.appendNew(sink, Seq("id"))(Seq((2, "b"), (3, "c")).toDF("id", "v"), 1L)
    val out = spark.read.parquet(sink)
    assert(out.count() == 3)
    assert(out.select("id").as[Int].collect().toSet == Set(1, 2, 3))
  }

  test("round-14: a sink dir holding only committer droppings does not " +
      "wedge the stream (schema inference is never attempted on it)") {
    val sink = tmp("graft-wedge") + "/out"
    // simulate a first write that died mid-commit: path exists, but only
    // _temporary/_SUCCESS/dot entries inside — no data files
    val p = new java.io.File(sink + "/_temporary/0")
    assert(p.mkdirs())
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(sink, "_SUCCESS"))
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(sink, "._started.crc"))
    assert(Files.isDirectory(java.nio.file.Paths.get(sink)))
    assert(!IdempotentWriter.sinkHasData(spark, sink))
    // the replayed batch must append cleanly instead of failing forever
    val batch = Seq((1, "a"), (2, "b")).toDF("id", "v")
    IdempotentWriter.appendNew(sink, Seq("id"))(batch, 0L)
    assert(IdempotentWriter.sinkHasData(spark, sink))
    IdempotentWriter.appendNew(sink, Seq("id"))(batch, 0L) // replay: no dupes
    assert(spark.read.parquet(sink).count() == 2)
  }

  test("round-15: a sink under a dot/underscore-prefixed ANCESTOR dir (or " +
      "with such a leaf name) still sees its own data files — only segments " +
      "BELOW the sink root count as hidden") {
    // ~/.cache/... and /data/_work/... shaped sinks: the old string-prefix
    // cut compared against the UNQUALIFIED path, so the qualified listing's
    // extra `file:` prefix shifted the cut mid-path and ancestor segments
    // leaked into the hidden check — every real file classified hidden,
    // sinkHasData stayed false, and replays re-appended duplicates
    for (sink <- Seq(tmp("graft-dotanc") + "/.cache/deep/out",
        tmp("graft-underanc") + "/_work/out",
        tmp("graft-dotleaf") + "/_out")) {
      val batch = Seq((1, "a"), (2, "b")).toDF("id", "v")
      IdempotentWriter.appendNew(sink, Seq("id"))(batch, 0L)
      assert(IdempotentWriter.sinkHasData(spark, sink),
        s"data files under $sink classified as hidden")
      IdempotentWriter.appendNew(sink, Seq("id"))(batch, 0L) // replay
      assert(spark.read.parquet(sink).count() == 2,
        s"replayed batch appended duplicates under $sink")
      // committer droppings BELOW the root must still read as hidden
      val empty = sink + "-empty"
      assert(new java.io.File(empty + "/_temporary/0").mkdirs())
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(empty, "_SUCCESS"))
      assert(!IdempotentWriter.sinkHasData(spark, empty))
    }
  }

  test("news flow: URL whitelist + url dedup (P6/P7/J3)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val flow = Pipelines.newsFlow(mem.toDF())
    val sink = tmp("graft-news") + "/news"
    val q = Pipelines.start(flow, sink, tmp("graft-news-ckpt"), Pipelines.newsKeys,
      availableNow = false, cadence = "1 second")
    try {
      mem.addData(WireQueries.newsFixtures: _*)
      mem.addData(WireQueries.newsFixtures.head) // duplicate URL
      mem.addData("""{"title":"evil","url":"https://evil.example.com/x","created_date":"2024-01-01 00:00:00+00:00","tag":null,"content":"","sentiment_score":0}""")
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(sink)
    assert(out.count() == 3) // 3 distinct whitelisted urls
    assert(out.filter($"url".contains("evil")).count() == 0)
  }

  test("news flow: a NEW article with an arbitrarily old created_date still lands") {
    // the flow carries no watermark at all — an event-time watermark on
    // created_date would drop an old-dated backfill article as late data
    // before the sink ever saw it
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val flow = Pipelines.newsFlow(mem.toDF())
    val sink = tmp("graft-news-old") + "/news"
    val q = Pipelines.start(flow, sink, tmp("graft-news-old-ckpt"), Pipelines.newsKeys,
      availableNow = false, cadence = "1 second")
    try {
      mem.addData(WireQueries.newsFixtures.head) // fresh article, advances ingest clock
      q.processAllAvailable()
      mem.addData("""{"title":"ancient","url":"https://www.coindesk.com/from-the-archive","created_date":"2019-06-01 00:00:00+00:00","tag":null,"content":"old but new to us","sentiment_score":0}""")
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(sink)
    assert(out.filter($"url".contains("from-the-archive")).count() == 1,
      "old-dated but never-seen article was dropped")
  }

  test("AvailableNow drain produces the same sink as batch processing (T6/T7)") {
    implicit val sqlCtx = spark.sqlContext
    // file-source replay: write fixtures as a text 'value' table
    val srcDir = tmp("graft-src")
    WireQueries.priceFixtures.toDF("value").write.text(srcDir + "/msgs")
    val stream = spark.readStream
      .schema("value STRING").text(srcDir + "/msgs")
    val sink = tmp("graft-an") + "/klines"
    val q = Pipelines.start(Pipelines.priceFlow(stream), sink,
      tmp("graft-an-ckpt"), Pipelines.klineKeys, availableNow = true)
    q.awaitTermination()

    val streamed = spark.read.parquet(sink).orderBy("symbol", "interval")
      .drop("fetched_at").collect().map(_.toString).toSeq
    val batch = graft.sources.KafkaJson.parsePrices(WireQueries.priceFixtures.toDF("value"))
      .orderBy("symbol", "interval").drop("fetched_at").collect().map(_.toString).toSeq
    assert(streamed == batch)
  }

  test("stateful incremental indicators == batch window computation") {
    val rows = for {
      sym <- Seq(1, 2); i <- 0 until 30
    } yield (sym, 1, i.toLong, 100.0 + sym + math.sin(i * 0.7) * 10 + (i % 5))
    val df = rows.toDF("symbol_id", "interval_id", "close_time", "close_price")

    val incremental = StatefulIndicators.fromDataFrame(df)
      .orderBy("symbol_id", "close_time")
      .select("symbol_id", "close_time", "sma", "rsi", "bb_up", "bb_down")
      .collect()

    val spec = graft.operators.Indicators.SeriesSpec(
      Seq("symbol_id", "interval_id"), Seq("close_time"), "close_price")
    val batch = graft.operators.Indicators.all(df, spec)
      .orderBy("symbol_id", "close_time")
      .select("symbol_id", "close_time", "sma", "rsi", "bb_up", "bb_down")
      .collect()

    assert(incremental.length == batch.length)
    incremental.zip(batch).foreach { case (a, b) =>
      assert(a.getInt(0) == b.getInt(0) && a.getLong(1) == b.getLong(1))
      (2 to 5).foreach { i =>
        val (x, y) = (a.isNullAt(i), b.isNullAt(i))
        assert(x == y, s"nullability diff at col $i: $a vs $b")
        if (!x) assert(math.abs(a.getDouble(i) - b.getDouble(i)) < 1e-9,
          s"value diff at col $i: $a vs $b")
      }
    }
  }

  test("stream-stream join: klines correlate with news in the lookback window (T8 upgrade)") {
    implicit val sqlCtx = spark.sqlContext
    val kMem = MemoryStream[(String, java.sql.Timestamp, Double)]
    val nMem = MemoryStream[(String, java.sql.Timestamp, String)]
    val klines = kMem.toDF().toDF("symbol", "open_time", "close_price")
    val news = nMem.toDF().toDF("symbol", "created_date", "title")
    val joined = Pipelines.priceNewsJoin(klines, news, lookback = "1 hour")
    val name = "price_news_join"
    val q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      nMem.addData(
        ("BTCUSDT", ts("2024-01-01 09:30:00"), "btc rallies"),
        ("BTCUSDT", ts("2024-01-01 07:00:00"), "too old"),
        ("ETHUSDT", ts("2024-01-01 09:45:00"), "wrong symbol"))
      kMem.addData(("BTCUSDT", ts("2024-01-01 10:00:00"), 42000.0))
      q.processAllAvailable()
      val rows = spark.table(name).collect()
      // only the in-window, same-symbol article correlates
      assert(rows.length == 1)
      assert(rows.head.getAs[String]("title") == "btc rallies")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join: null padding only after the window closes") {
    implicit val sqlCtx = spark.sqlContext
    val lMem = MemoryStream[(Long, java.sql.Timestamp)]
    val rMem = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = lMem.toDF().toDF("user_id", "l_t").withWatermark("l_t", "0 seconds")
    val right = rMem.toDF().toDF("r_user", "r_t").withWatermark("r_t", "0 seconds")
    val joined = left.join(right,
      left("user_id") === right("r_user") &&
        right("r_t") >= left("l_t") &&
        right("r_t") <= left("l_t") + expr("INTERVAL 10 MINUTES"),
      "left_outer")
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ss_left_outer").start()
    try {
      // user 1 matches; user 2 never does; user 3's window is still open
      lMem.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:00:00")))
      rMem.addData((1L, ts("2024-01-01 10:05:00")))
      q.processAllAvailable()
      val early = spark.table("ss_left_outer").collect()
      // no null padding yet: user 2's window has not closed under the watermark
      assert(early.forall(!_.isNullAt(2)), s"premature outer row: ${early.toSeq}")
      assert(early.count(_.getLong(0) == 1L) == 1)
      // advance both watermarks past user 2's window; open a fresh window for 3
      lMem.addData((3L, ts("2024-01-01 11:00:00")))
      rMem.addData((99L, ts("2024-01-01 11:00:00")))
      q.processAllAvailable()
      val late = spark.table("ss_left_outer").collect()
      val padded = late.filter(_.isNullAt(2)).map(_.getLong(0)).toSet
      assert(padded == Set(2L),
        s"expected exactly user 2 null-padded after watermark passed: ${late.toSeq}")
      // user 3's window is still open — must not be padded yet
      assert(!padded.contains(3L))
    } finally q.stop()
  }

  test("round-13: a non-integral tiebreak column is rejected up front " +
      "(cast-to-long nulled UUIDs into a non-nullable encoder crash)") {
    val df = Seq((1, 1, 1000L, 10.0, "uuid-a"))
      .toDF("symbol_id", "interval_id", "close_time", "close_price", "eid")
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StatefulIndicators.fromDataFrame(
        df, tiebreakCol = Some("eid"))
    }
    assert(e.getMessage.contains("must be integral"))
  }

  test("round-13: drains run isolated — repeated drains register no temp " +
      "views on the caller session and leave its conf untouched") {
    implicit val sqlCtx = spark.sqlContext
    val beforeParts = spark.conf.get("spark.sql.shuffle.partitions")
    val beforeViews = spark.catalog.listTables().count()
    def stream() = {
      val mem = MemoryStream[(Long, Double)]
      mem.addData((1L, 2.5), (1L, 3.5), (2L, 1.0))
      mem.toDF().toDF("user_id", "value")
    }
    val a = graft.streaming.RunningTotals.drain(spark, stream())
    val b = graft.streaming.RunningTotals.drain(spark, stream())
    assert(a.count() == 2 && b.count() == 2)
    assert(spark.conf.get("spark.sql.shuffle.partitions") == beforeParts)
    assert(spark.catalog.listTables().count() == beforeViews,
      "drain leaked memory-sink temp views into the caller session")
  }

  test("round-14: drain re-binds the RESOLVED plan — input referencing a " +
      "parent-session temp view survives the isolated child session") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Double)]
    mem.addData((1L, 2.5), (1L, 3.5), (2L, 1.0))
    val view = "rt_parent_view_r14"
    mem.toDF().toDF("user_id", "value").createOrReplaceTempView(view)
    try {
      // spark.table(view) resolves only in THIS session's catalog; the
      // child session drain used to re-analyze the raw logical plan there
      // and fail with TABLE_OR_VIEW_NOT_FOUND
      val out = graft.streaming.RunningTotals.drain(spark, spark.table(view))
      val rows = out.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(rows == Map(1L -> 2L, 2L -> 1L))
    } finally spark.catalog.dropTempView(view)
  }

  test("stateful indicators keep state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StatefulIndicators.KlinePoint]
    val out = StatefulIndicators.transform(mem.toDS())
    val name = "stateful_out"
    val q = out.writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      mem.addData(StatefulIndicators.KlinePoint(1, 1, 1L, 10.0),
        StatefulIndicators.KlinePoint(1, 1, 2L, 12.0))
      q.processAllAvailable()
      mem.addData(StatefulIndicators.KlinePoint(1, 1, 3L, 11.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name).orderBy("close_time")
      .select("sma").as[Double].collect()
    // running partial-window SMAs: 10, 11, 11 — the third value needs state
    // from the first micro-batch to be correct
    assert(got.toSeq == Seq(10.0, 11.0, 11.0))
  }
}
