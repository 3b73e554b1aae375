package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** query_mix: fixed SparkEntry queries, one at a time, each built and then
  * materialized with a noop write as graft.Bench does. When verifying, every
  * third query's built DataFrame (which third, the run picks) is written to
  * parquet after the timed round, for the DuckDB oracle compare that
  * perfbench/run.py makes. */
object QueryMix {

  /** query -> domain. Per domain, the members that stress its layers. */
  val members: Seq[(String, String)] = Seq(
    "q_tpch_q3" -> "tpch", "q_tpch_q6" -> "tpch", "q_tpch_q12" -> "tpch",
    "q_minhash_neardup" -> "dedup", "q_exact_dedup" -> "dedup",
    "q_sentiment" -> "text",
    "q_window_rsi" -> "window", "q_window_bollinger" -> "window",
    "q_stream_dedup" -> "streaming",
    "q_pagerank" -> "graph")

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val corpus = s"${c.inputs}/corpus"
    // set-up: every table read once, so no query pays the first cold scan
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
      "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$corpus/$t.parquet").write.format("noop").mode("overwrite").save()
    }
    val per = scala.collection.mutable.ArrayBuffer.empty[(String, String, Double, Double, Double)]
    val built = scala.collection.mutable.ArrayBuffer.empty[(String, org.apache.spark.sql.DataFrame)]
    c.round("queries.round") {
      members.foreach { case (name, domain) =>
        c.tracer.span(s"queries.$domain") {
          val t0 = Clock.now()
          val df = c.tracer.span("queries.build")(SparkEntry.queries(name)(spark, corpus))
          val t1 = Clock.now()
          c.tracer.span("queries.exec")(df.write.format("noop").mode("overwrite").save())
          val t2 = Clock.now()
          per += ((name, domain, t0, t1, t2))
          built += name -> df
          spark.catalog.clearCache()
        }
      }
    }
    val wall = per.map { case (_, _, t0, _, t2) => t2 - t0 }.toSeq
    c.rec.ops ++= wall
    c.rec.figures ++= Seq(
      "suite_s" -> wall.sum / 1000,
      "query_s_p50" -> Stats.median(wall) / 1000,
      "queries" -> wall.size.toDouble)
    per.foreach { case (name, _, t0, _, t2) => c.rec.figures += s"query.$name.s" -> (t2 - t0) / 1000 }

    if (c.tracer.on) {
      c.drainBus()
      val build = per.map { case (_, _, t0, t1, _) => t1 - t0 }
      val plan = per.map { case (_, _, _, t1, t2) => c.phases.planMsBetween(t1, t2) }
      val exec = per.zip(plan).map { case ((_, _, _, t1, t2), p) => (t2 - t1) - p }
      c.rec.layers ++= Seq(
        "queries.build_ms" -> build.sum,
        "queries.eager_jobs" -> per.map { case (_, _, t0, t1, _) => c.counters.jobsBetween(t0, t1) }.sum.toDouble,
        "queries.plan_ms" -> plan.sum,
        "queries.exec_ms" -> exec.sum)
      per.groupBy(_._2).foreach { case (d, qs) =>
        c.rec.layers += s"queries.$d.wall_s" -> qs.map { case (_, _, t0, _, t2) => t2 - t0 }.sum / 1000
      }
    }

    if (c.verify > 0) {
      val out = s"${c.work}/outputs"
      built.zipWithIndex.filter(_._2 % 3 == c.verify - 1).map(_._1).foreach { case (name, df) =>
        df.write.mode("overwrite").parquet(s"$out/$name")
        spark.catalog.clearCache()
      }
      val oracle = SparkEntry.oracleSql
      val json = members.flatMap { case (n, _) => oracle.get(n).map(n -> _) }
        .map { case (n, sql) => Json.str(n) + ":" + Json.str(sql) }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$out/oracle_sql.json"), json)
    }
  }
}
