package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.operators.Indicators
import graft.pipeline.IndicatorJob

/** indicator_backfill: IndicatorJob.run over a skewed kline_fact, three
  * phases per round: a cold run into an empty sink (write-heavy), a rerun on
  * unchanged input (appends nothing, read-heavy anti-join), then one
  * incremental run per landed tail chunk (the scheduled-job steady state). */
object Backfill {

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val fact = s"${c.work}/kline_fact"
    val sink = s"${c.work}/indicator_fact"
    val chunks = c.expect("tail_chunks").toInt
    val expectIncr = c.expect("expected_incremental_rows").split(",").map(_.toLong)
    def land(part: Int): Unit = {
      val name = f"part-$part%05d.parquet"
      Files.createDirectories(Paths.get(fact))
      Files.copy(Paths.get(s"${c.inputs}/kline_fact/$name"), Paths.get(s"$fact/$name"))
    }
    import spark.implicits._
    val typeDim = Schemas.indicatorTypeSeed.toDF("type_id", "type_name")
    // set-up: one run over a small tail chunk into a throwaway sink, so most
    // JIT and codegen warm-up is paid before the timed round
    val warmFact = s"${c.work}/warm-fact"
    Files.createDirectories(Paths.get(warmFact))
    Files.copy(Paths.get(s"${c.inputs}/kline_fact/part-00001.parquet"), Paths.get(s"$warmFact/part-00001.parquet"))
    IndicatorJob.run(spark, warmFact, s"${c.work}/warm-sink", typeDim)
    land(0)
    def job(phase: String) =
      c.timed(s"pipeline.run.$phase")(IndicatorJob.run(spark, fact, sink, typeDim))
    var cold, rerun = (0L, 0.0)
    val incr = Array.fill(chunks)((0L, 0.0))
    c.round("backfill.round") {
      cold = job("cold")
      rerun = job("rerun")
      for (k <- 0 until chunks) {
        c.tracer.span("backfill.land")(land(k + 1))
        incr(k) = job("incr")
      }
    }
    c.rec.ops ++= incr.map(_._2)
    c.rec.figures ++= Seq(
      "indicator_cold_s" -> cold._2 / 1000,
      "indicator_rerun_s" -> rerun._2 / 1000,
      "indicator_incr_s" -> Stats.median(incr.map(_._2).toSeq) / 1000)

    c.rec.check("cold run appends rows", cold._1 > 0, s"appended=${cold._1}")
    c.rec.check("rerun on unchanged input appends 0 rows", rerun._1 == 0, s"appended=${rerun._1}")
    c.rec.check("each incremental run appends exactly the expected rows",
      incr.map(_._1).toSeq == expectIncr.toSeq,
      s"appended=${incr.map(_._1).mkString(",")} expected=${expectIncr.mkString(",")}")
    val sinkRows = spark.read.parquet(sink).count()
    c.rec.check("sink holds cold + incremental rows, no duplicates",
      sinkRows == cold._1 + incr.map(_._1).sum &&
        spark.read.parquet(sink).select(IndicatorJob.keyCols.map(col): _*).distinct().count() == sinkRows,
      s"sink=$sinkRows")
    checkSamples(c, fact, sink)

    if (c.tracer.on) {
      val klines = spark.read.parquet(fact)
      val spec = Indicators.SeriesSpec(Seq("symbol_id", "interval_id"), Seq("close_time"),
        "close_price", 14)
      val prepared = klines.filter(col("close_time").isNotNull)
        .select(col("symbol_id"), col("interval_id"), col("close_time"),
          col("close_price").cast("double").as("close_price"))
      def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
      val (_, indMs) = c.timed("operators.indicators")(noop(Indicators.allLong(prepared, spec)))
      val computed = IndicatorJob.computeIndicators(klines, typeDim)
      val (_, compMs) = c.timed("pipeline.compute")(noop(computed))
      val existing = spark.read.parquet(sink).select(IndicatorJob.keyCols.map(col): _*)
      val (_, antiMs) = c.timed("pipeline.anti_join")(noop(IndicatorJob.newOnly(computed, existing)))
      val computedRows = computed.count()
      c.rec.check("recomputing the final input gives the sink's rows", computedRows == sinkRows,
        s"computed=$computedRows sink=$sinkRows")
      // rows computed per phase: every run recomputes the whole input it sees
      val incrComputed = incr.indices.map(k => cold._1 + incr.take(k + 1).map(_._1).sum)
      c.rec.layers ++= Seq(
        "operators.indicators_ms" -> indMs,
        "pipeline.compute_ms" -> compMs,
        "pipeline.anti_join_ms" -> antiMs,
        "pipeline.cold.rows_computed" -> cold._1.toDouble,
        "pipeline.cold.rows_appended" -> cold._1.toDouble,
        "pipeline.cold.useful_ratio" -> 1.0,
        "pipeline.rerun.rows_computed" -> cold._1.toDouble,
        "pipeline.rerun.rows_appended" -> rerun._1.toDouble,
        "pipeline.rerun.useful_ratio" -> rerun._1.toDouble / cold._1,
        "pipeline.incr.rows_computed" -> incrComputed.sum.toDouble,
        "pipeline.incr.rows_appended" -> incr.map(_._1).sum.toDouble,
        "pipeline.incr.useful_ratio" -> incr.map(_._1).sum.toDouble / incrComputed.sum)
    }
  }

  /** Sampled series against a plain-Scala SMA/RSI/Bollinger over the same
    * close prices: every indicator row must be present within 1e-8. */
  private def checkSamples(c: Ctx, fact: String, sink: String): Unit = {
    val spark = c.spark
    val samples = c.expect("sample_series").split(";").map(_.split(",").map(_.toInt)).map(a => (a(0), a(1)))
    val names = Schemas.indicatorTypeSeed.toMap
    var worst = 0.0
    var bad = 0
    var checked = 0
    def sampled(path: String, cols: String*) = spark.read.parquet(path)
      .filter(samples.map { case (s, i) => col("symbol_id") === s && col("interval_id") === i }
        .reduce(_ || _))
      .select((Seq("symbol_id", "interval_id") ++ cols).map(col): _*).collect()
      .groupBy(r => (r.getInt(0), r.getInt(1)))
    val klines = sampled(fact, "close_time", "close_price")
    val rows = sampled(sink, "type_id", "timestamp", "value")
    samples.foreach { case (sym, iv) =>
      val series = klines.getOrElse((sym, iv), Array.empty)
        .map(r => (r.getTimestamp(2).getTime, r.getDecimal(3).doubleValue)).sortBy(_._1)
      val ref = Reference.indicators(series.map(_._2), 14).zipWithIndex.flatMap { case (vals, i) =>
        vals.collect { case (name, Some(v)) => (name, series(i)._1) -> v }
      }.toMap
      val got = rows.getOrElse((sym, iv), Array.empty)
        .map(r => (names(r.getInt(2)), r.getTimestamp(3).getTime) -> r.getDecimal(4).doubleValue).toMap
      if (got.keySet != ref.keySet) bad += (got.keySet diff ref.keySet).size + (ref.keySet diff got.keySet).size
      ref.foreach { case (k, v) =>
        got.get(k).foreach { g =>
          val d = math.abs(g - v)
          worst = worst max d
          if (d > 1e-8) bad += 1
        }
      }
      checked += ref.size
    }
    c.rec.check("sampled series match the plain-Scala reference within 1e-8", bad == 0 && checked > 0,
      s"series=${samples.length} rows=$checked mismatched=$bad max_abs_diff=$worst")
  }
}

/** Plain-Scala SMA / Cutler RSI / Bollinger(2, sample stddev) over trailing
  * n-row windows, independent of Spark: the check's reference. */
object Reference {
  def indicators(p: Array[Double], n: Int): Array[Seq[(String, Option[Double])]] =
    p.indices.map { i =>
      val lo = math.max(0, i - n + 1)
      val w = p.slice(lo, i + 1)
      val sma = w.sum / w.length
      val sd =
        if (w.length < 2) None
        else Some(math.sqrt(w.map(x => (x - sma) * (x - sma)).sum / (w.length - 1)))
      val diffs = (lo to i).map(j => if (j == 0) 0.0 else p(j) - p(j - 1))
      val gain = diffs.map(d => if (d > 0) d else 0.0).sum / w.length
      val loss = diffs.map(d => if (d < 0) -d else 0.0).sum / w.length
      val rsi = if (loss == 0.0) None else Some(100.0 - 100.0 / (1.0 + gain / loss))
      Seq("SMA" -> Some(sma), "RSI" -> rsi,
        "BB_UP" -> sd.map(sma + 2 * _), "BB_DOWN" -> sd.map(sma - 2 * _))
    }.toArray
}
