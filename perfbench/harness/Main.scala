package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark pass in a fresh JVM: set up a Spark session, run one round
  * of a workload through the program's public entry points, check its
  * outputs, and write a JSON record for perfbench/run.py to aggregate.
  *
  * Usage: perfbench.Main <workload> <inputs dir> <work dir> <record path>
  *   <trace 0|1> <verify 0..3> [key=value ...]
  * where key=value pairs are the Spark session settings and the expected
  * answers from the input manifest (keys prefixed `expect.`).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, recordPath, trace, verify) = args.take(6)
    val kv = args.drop(6).map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }
    val expect = kv.collect { case (k, v) if k.startsWith("expect.") => k.stripPrefix("expect.") -> v }.toMap
    val loadStart = loadavg()
    val builder = kv.filterNot(_._1.startsWith("expect.")).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }
    val spark = builder
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Record
    val tracer = new Tracer(trace == "1")
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val counters = new SparkCounters
    val phases = new PhaseListener
    if (tracer.on) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(phases)
    }
    val c = new Ctx(spark, tracer, counters, phases, progress, inputs, work, expect,
      verify.toInt, rec)
    val status = try {
      workload match {
        case "ingest_replay" => Ingest.run(c)
        case "indicator_backfill" => Backfill.run(c)
        case "query_mix" => QueryMix.run(c)
      }
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        rec.check("pass completed", ok = false, e.toString)
        1
    }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    rec.spans = tracer.spans.toSeq
    rec.stamps ++= Seq(
      "workload" -> workload, "traced" -> tracer.on.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "master" -> spark.sparkContext.master,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "jvm" -> System.getProperty("java.vm.name"),
      "loadavg_start" -> loadStart, "loadavg_finish" -> loadavg())
    rec.peakRssMb = peakRssMb()
    spark.stop()
    Files.writeString(Paths.get(recordPath), rec.json)
    System.exit(status)
  }

  def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "?" }

  /** High-water resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024
    } catch { case _: Throwable => -1 }
}

/** What one pass hands to a workload. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val counters: SparkCounters,
    val phases: PhaseListener,
    val progress: ProgressLog,
    val inputs: String,
    val work: String,
    val expect: Map[String, String],
    /** 0: no output check; k > 0: query_mix checks queries k, k+3, ... */
    val verify: Int,
    val rec: Record) {

  /** Run `body` as the pass's timed round: marks the first timed call (the
    * end of set-up) and records the round's wall time. */
  def round(name: String)(body: => Unit): Unit = {
    if (tracer.on) drainBus()
    val before = counters.snapshot()
    val t0 = Clock.now()
    rec.setupS = (t0 - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000
    tracer.span(name)(body)
    val wallMs = Clock.now() - t0
    rec.roundS = wallMs / 1000
    if (tracer.on) {
      drainBus()
      val d = counters.snapshot().map { case (k, v) => k -> (v - before(k)) }
      rec.layers ++= d.map { case (k, v) => s"spark.$k" -> v }
      rec.layers ++= Seq(
        "spark.tasks_per_stage" -> d("tasks") / math.max(1.0, d("stages")),
        "spark.core_util" -> d("task_ms") / (wallMs * spark.sparkContext.defaultParallelism))
    }
  }

  /** Time `body` in milliseconds, as a span when tracing. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val t0 = Clock.now()
    val r = tracer.span(name)(body)
    (r, Clock.now() - t0)
  }

  def drainBus(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

/** The JSON record of one pass. */
final class Record {
  var setupS, roundS, peakRssMb = 0.0
  val ops = mutable.ArrayBuffer.empty[Double]
  val figures = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val stamps = mutable.LinkedHashMap.empty[String, String]
  var spans: Seq[Span] = Nil

  def check(name: String, ok: Boolean, detail: String): Unit = checks += ((name, ok, detail))

  def json: String = {
    def s(x: String) = Json.str(x)
    def n(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(kv: Iterable[(String, String)]) = kv.map { case (k, v) => s(k) + ":" + v }.mkString("{", ",", "}")
    obj(Seq(
      "setup_s" -> n(setupS), "round_s" -> n(roundS), "peak_rss_mb" -> n(peakRssMb),
      "ops_ms" -> ops.map(n).mkString("[", ",", "]"),
      "figures" -> obj(figures.map { case (k, v) => k -> n(v) }),
      "layers" -> obj(layers.map { case (k, v) => k -> n(v) }),
      "checks" -> checks.map { case (k, ok, d) =>
        obj(Seq("name" -> s(k), "ok" -> ok.toString, "detail" -> s(d))) }.mkString("[", ",", "]"),
      "stamps" -> obj(stamps.map { case (k, v) => k -> s(v) }),
      "spans" -> spans.map(sp => obj(Seq("id" -> sp.id.toString, "parent" -> sp.parent.toString,
        "name" -> s(sp.name), "start" -> n(sp.start), "end" -> n(sp.end)))).mkString("[", ",", "]")))
  }
}

object Json {
  /** `x` as a JSON string literal. */
  def str(x: String): String = "\"" + x.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
  } + "\""
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val v = xs.sorted
      val pos = q * (v.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      v(lo) + (v(hi) - v(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}
