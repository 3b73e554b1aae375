package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so span
  * times line up with Spark's own event timestamps. */
object Clock {
  private val ms0 = System.currentTimeMillis()
  private val ns0 = System.nanoTime()
  def now(): Double = ms0 + (System.nanoTime() - ns0) / 1e6
}

final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double) {
  def ms: Double = end - start
}

/** In-memory span recorder. With `on = false` a span only runs its body. The
  * harness drives Spark from one thread, so the parent stack is a plain list. */
final class Tracer(val on: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.head
      stack = id :: stack
      val t0 = Clock.now()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, t0, Clock.now())
      }
    }

  /** A span whose interval was measured elsewhere (a streaming batch, from
    * its progress event), by default under the innermost open span. Returns
    * its id. */
  def record(name: String, start: Double, end: Double, parent: Int = -1): Int = {
    val id = nextId
    if (on) {
      spans += Span(id, if (parent < 0) stack.head else parent, name, start, end)
      nextId += 1
    }
    id
  }
}

/** Job/stage/task counters from Spark's listener bus. Job start times are
  * kept so jobs can be attributed to the span they started in. */
final class SparkCounters extends SparkListener {
  val jobs, stages, tasks, taskMs, cpuNs, shuffleRead, shuffleWrite, spill, gcMs =
    new AtomicLong()
  val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStarts.add(e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }

  def snapshot(): Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble, "task_ms" -> taskMs.get.toDouble,
    "task_cpu_ms" -> cpuNs.get / 1e6, "shuffle_read_bytes" -> shuffleRead.get.toDouble,
    "shuffle_write_bytes" -> shuffleWrite.get.toDouble, "spill_bytes" -> spill.get.toDouble,
    "gc_ms" -> gcMs.get.toDouble,
    "codegen_compiles" ->
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble)

  def jobsBetween(a: Double, b: Double): Int =
    jobStarts.asScala.count(t => t >= a && t <= b)
}

/** Planning-phase intervals of every successful query execution. */
final class PhaseListener extends QueryExecutionListener {
  /** (first phase start ms, analysis + optimization + planning ms) */
  val plans = new ConcurrentLinkedQueue[(Double, Double)]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty)
      plans.add((ph.values.map(_.startTimeMs).min.toDouble,
        ph.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def planMsBetween(a: Double, b: Double): Double =
    plans.asScala.filter { case (t, _) => t >= a && t <= b }.map(_._2).sum
}

/** Every progress event of every streaming query, beyond the
  * `numRecentProgressUpdates` window `StreamingQuery.recentProgress` keeps. */
final class ProgressLog extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = events.add(e.progress)
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
    events.asScala.filter(_.id == id).toSeq.sortBy(_.batchId)
}
