package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.IndicatorJob
import graft.streaming.IdempotentWriter

/** End-to-end batch indicator job: compute -> dim join -> anti-join vs sink ->
  * append, with the reference's idempotence property (re-run appends 0).
  */
class IndicatorJobSpec extends SparkTestBase {
  import spark.implicits._

  private def typeDim = graft.model.Schemas.indicatorTypeSeed.toDF("type_id", "type_name")

  private def klineFixture = {
    // 2 series x 20 klines of drifting prices, second-grain timestamps
    val rows = for {
      (sym, iv) <- Seq((1, 1), (2, 1))
      i <- 0 until 20
    } yield (sym, iv,
      java.sql.Timestamp.valueOf(f"2024-01-01 ${i}%02d:00:00"),
      100.0 + sym * 10 + math.sin(i * 1.3) * 5 + i * 0.5)
    rows.toDF("symbol_id", "interval_id", "close_time", "close_price")
  }

  test("run is idempotent: second run on unchanged input appends 0 rows") {
    val dir = graft.util.TempDirs.create("graft-ind").toString
    val klinePath = s"$dir/kline_fact"
    val indPath = s"$dir/indicator_fact"
    klineFixture.write.parquet(klinePath)

    val first = IndicatorJob.run(spark, klinePath, indPath, typeDim)
    assert(first > 0)
    val second = IndicatorJob.run(spark, klinePath, indPath, typeDim)
    assert(second == 0, "re-run must append nothing (spark_job_1.py:74-85 parity)")
    assert(spark.read.parquet(indPath).count() == first)
  }

  test("round-13: NULL close_time klines never break idempotence (the " +
      "null-unsafe anti-join would re-append their rows on every run)") {
    val dir = graft.util.TempDirs.create("graft-ind3").toString
    val klinePath = s"$dir/kline_fact"
    val indPath = s"$dir/indicator_fact"
    klineFixture
      .unionByName(Seq((1, 1, null: java.sql.Timestamp, 999.0))
        .toDF("symbol_id", "interval_id", "close_time", "close_price"))
      .write.parquet(klinePath)
    val first = IndicatorJob.run(spark, klinePath, indPath, typeDim)
    assert(first > 0)
    val second = IndicatorJob.run(spark, klinePath, indPath, typeDim)
    assert(second == 0,
      "NULL-timestamp rows re-appended: idempotence contract broken")
    assert(spark.read.parquet(indPath)
      .filter(col("timestamp").isNull).count() == 0,
      "NULL-timestamp indicator rows reached the sink")
  }

  test("late rows: only the new keys are appended on re-run") {
    val dir = graft.util.TempDirs.create("graft-ind2").toString
    val klinePath = s"$dir/kline_fact"
    val indPath = s"$dir/indicator_fact"
    klineFixture.write.parquet(klinePath)
    val first = IndicatorJob.run(spark, klinePath, indPath, typeDim)

    // two more klines arrive for series (1,1)
    Seq(
      (1, 1, java.sql.Timestamp.valueOf("2024-01-01 20:00:00"), 123.4),
      (1, 1, java.sql.Timestamp.valueOf("2024-01-01 21:00:00"), 124.9))
      .toDF("symbol_id", "interval_id", "close_time", "close_price")
      .write.mode("append").parquet(klinePath)

    val appended = IndicatorJob.run(spark, klinePath, indPath, typeDim)
    // 2 new timestamps x at most 4 types each (RSI may be NULL-filtered)
    assert(appended > 0 && appended <= 8)
    val total = spark.read.parquet(indPath).count()
    assert(total == first + appended)
    // key uniqueness — the UNIQUE(symbol,interval,type,timestamp) invariant
    val dups = spark.read.parquet(indPath)
      .groupBy(IndicatorJob.keyCols.map(col): _*).count().filter($"count" > 1).count()
    assert(dups == 0)
  }

  test("computed values carry declared decimal type and join to seeded type ids") {
    val out = IndicatorJob.computeIndicators(klineFixture, typeDim)
    assert(out.schema("value").dataType == graft.model.Schemas.indicatorDecimal)
    val ids = out.select("type_id").distinct().as[Int].collect().toSet
    assert(ids.subsetOf(Set(1, 2, 3, 4)) && ids.contains(1))
  }

  private val klineCols = Seq("symbol_id", "interval_id", "close_time", "close_price")
  private val sinkCols = Seq("symbol_id", "interval_id", "type_id", "value", "timestamp")

  private def bySink(df: DataFrame) = df.select(sinkCols.map(col): _*)

  test("a sink dir holding only committer droppings does not wedge the job " +
      "(a crashed first append leaves no schema to infer)") {
    val dir = graft.util.TempDirs.create("graft-ind-wedge").toString
    val klinePath = s"$dir/kline_fact"
    val indPath = s"$dir/indicator_fact"
    klineFixture.write.parquet(klinePath)
    assert(new java.io.File(s"$indPath/_temporary/0").mkdirs())
    Files.createFile(Paths.get(indPath, "_SUCCESS"))
    Files.createFile(Paths.get(indPath, "._started.crc"))

    val expected = IndicatorJob.computeIndicators(klineFixture, typeDim).count()
    assert(IndicatorJob.run(spark, klinePath, indPath, typeDim) == expected)
    assert(spark.read.parquet(indPath).count() == expected)
    assert(IndicatorJob.run(spark, klinePath, indPath, typeDim) == 0)
  }

  test("run equals full recompute + newOnly over random out-of-order landings") {
    val n = 5
    var flips = 0L
    (1 to 5).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      // mostly rising prices: short windows without a loss have a NULL RSI,
      // and a late kline inside the lookback can flip it to a value
      val klines = for {
        (sym, iv) <- Seq((1, 1), (1, 2), (2, 1))
        price = Iterator.iterate(100.0)(p => p + (if (rnd.nextInt(10) < 8) 1 else -1) * rnd.nextInt(300) / 100.0)
        (p, i) <- price.take(24).zipWithIndex
      } yield (Option(sym), iv, java.sql.Timestamp.valueOf(f"2024-01-01 $i%02d:00:00"), Option(p))
      // a NULL key never matches in the anti-join, so the NULL-symbol
      // kline's rows are appended again by every run, on both sides
      val rows = klines ++ Seq(
        (Option(1), 1, null: java.sql.Timestamp, Option(5.0)),
        (Option(2), 1, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), None),
        (None, 1, java.sql.Timestamp.valueOf("2024-01-01 03:00:00"), Option(7.0)))
      val shuffled = rnd.shuffle(rows).grouped((rows.size + 3) / 4).toSeq
      // an exact duplicate kline lands beside its twin: both of its rows are
      // new, so the sink ends up holding a duplicated key
      val twins = shuffled(1).filter(r => r._1.isDefined && r._3 != null && r._4.isDefined)
      val chunks = shuffled.updated(1, shuffled(1) :+ twins(rnd.nextInt(twins.size)))

      val dir = graft.util.TempDirs.create(s"graft-ind-eq$seed").toString
      val (fact, sink, ref) = (s"$dir/kline_fact", s"$dir/indicator_fact", s"$dir/reference")
      chunks.zipWithIndex.foreach { case (chunk, k) =>
        chunk.toDF(klineCols: _*).write.mode("append").parquet(fact)
        val appended = IndicatorJob.run(spark, fact, sink, typeDim, n)

        val computed = IndicatorJob.computeIndicators(spark.read.parquet(fact), typeDim, n)
        val old = if (IdempotentWriter.sinkHasData(spark, ref)) Some(spark.read.parquet(ref)) else None
        val fresh = old.fold(computed)(IndicatorJob.newOnly(computed, _)).localCheckpoint()
        // new rows at a timestamp the sink already holds: a late kline
        // changed an old window (e.g. an RSI that was NULL now has a value)
        old.foreach { o => flips += fresh.join(o.select("symbol_id", "interval_id", "timestamp")
          .distinct(), Seq("symbol_id", "interval_id", "timestamp")).count() }
        val expected = fresh.count()
        if (expected > 0) bySink(fresh).write.mode("append").parquet(ref)

        assert(appended == expected, s"seed $seed landing $k: appended $appended, reference $expected")
        val (got, want) = (bySink(spark.read.parquet(sink)), bySink(spark.read.parquet(ref)))
        assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
          s"seed $seed landing $k: sink differs from the reference")
      }
      val dupKeys = spark.read.parquet(sink).filter($"symbol_id".isNotNull)
        .groupBy(IndicatorJob.keyCols.map(col): _*).count()
        .filter($"count" > 1).count()
      assert(dupKeys > 0, s"seed $seed: the duplicated kline left no duplicated sink key")
    }
    assert(flips > 0, "no landing reached into an old row's lookback")
  }

  test("cold and incremental runs write one column order in every part file") {
    val dir = graft.util.TempDirs.create("graft-ind-order").toString
    val klinePath = s"$dir/kline_fact"
    val indPath = s"$dir/indicator_fact"
    klineFixture.write.parquet(klinePath)
    IndicatorJob.run(spark, klinePath, indPath, typeDim)
    Seq((1, 1, java.sql.Timestamp.valueOf("2024-01-01 20:00:00"), 123.4))
      .toDF(klineCols: _*).write.mode("append").parquet(klinePath)
    assert(IndicatorJob.run(spark, klinePath, indPath, typeDim) > 0)

    val parts = new java.io.File(indPath).listFiles().map(_.getPath).filter(_.endsWith(".parquet"))
    assert(parts.length >= 2)
    parts.foreach { f =>
      // a single file's schema is its own footer's
      assert(spark.read.parquet(f).schema.fieldNames.toSeq == sinkCols, s"field order of $f")
    }
  }

  test("type ids outside the sink mask's 0..62 fail the run loudly; nothing is appended") {
    def rootMessages(e: Throwable): String =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    def badDim(id: Int) = graft.model.Schemas.indicatorTypeSeed
      .map { case (i, name) => (if (i == 2) id else i, name) }.toDF("type_id", "type_name")
    def assertFails(klinePath: String, indPath: String, dim: DataFrame, id: Int): Unit = {
      val before = if (IdempotentWriter.sinkHasData(spark, indPath)) spark.read.parquet(indPath).count() else 0L
      val e = intercept[Exception](IndicatorJob.run(spark, klinePath, indPath, dim))
      assert(rootMessages(e).contains(s"type_id $id is outside 0..62"), rootMessages(e))
      val after = if (IdempotentWriter.sinkHasData(spark, indPath)) spark.read.parquet(indPath).count() else 0L
      assert(after == before, s"a failed run appended ${after - before} rows")
    }
    val dir = graft.util.TempDirs.create("graft-ind-mask").toString
    val klinePath = s"$dir/kline_fact"
    val indPath = s"$dir/indicator_fact"
    klineFixture.write.parquet(klinePath)

    assertFails(klinePath, indPath, badDim(63), 63) // cold: empty sink
    val first = IndicatorJob.run(spark, klinePath, indPath, typeDim)
    assert(first > 0)
    Seq((1, 1, java.sql.Timestamp.valueOf("2024-01-01 20:00:00"), 123.4))
      .toDF(klineCols: _*).write.mode("append").parquet(klinePath)
    assertFails(klinePath, indPath, badDim(-1), -1) // incremental: bad dim id
    assertFails(klinePath, indPath, badDim(64), 64)
    // a sink row written with an id the mask cannot hold
    Seq((1, 1, 63, BigDecimal(1), java.sql.Timestamp.valueOf("2023-01-01 00:00:00")))
      .toDF(sinkCols: _*)
      .withColumn("value", col("value").cast(graft.model.Schemas.indicatorDecimal))
      .write.mode("append").parquet(indPath)
    assertFails(klinePath, indPath, typeDim, 63)
  }
}
