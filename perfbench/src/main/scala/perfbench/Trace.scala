package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters read from Spark's own event stream. One instance per run; the
  * per-op figures are differences of two snapshots taken around the op with
  * the listener bus drained. */
final class Counters {
  val jobs, stages, tasks, runMs, cpuNs, gcMs = new AtomicLong
  val shuffleWrite, shuffleRead, spill = new AtomicLong
  val queries, analysisMs, optimizationMs, planningMs = new AtomicLong

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "run_ms" -> runMs.get, "cpu_ns" -> cpuNs.get, "gc_ms" -> gcMs.get,
    "shuffle_write_b" -> shuffleWrite.get, "shuffle_read_b" -> shuffleRead.get,
    "spill_b" -> spill.get, "queries" -> queries.get,
    "analysis_ms" -> analysisMs.get, "optimization_ms" -> optimizationMs.get,
    "planning_ms" -> planningMs.get)
}

/** One timed interval: an op, a phase of it, a Spark job or SQL execution.
  * Times are epoch milliseconds. */
final case class Span(id: Long, name: String, startMs: Double, endMs: Double,
                      parent: Long, op: Long)

/** The traced run's instrument, built only from Spark's public listener
  * interfaces: a [[SparkListener]] for jobs, stages, tasks and SQL
  * executions, and a [[QueryExecutionListener]] for the planning phases of
  * every query the engine runs. `attach`/`detach` let a run interleave
  * traced and untraced rounds to measure the instrument's own cost. */
final class Tracer(spark: SparkSession) {
  val counters = new Counters
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong(1)
  @volatile private var currentOp = 0L
  @volatile private var currentOpSpan = 0L
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]
  private val sqlStart = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]
  private val epochBaseMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()

  def nowMs: Double = epochBaseMs + (System.nanoTime() - nanoBase) / 1e6

  private def record(name: String, s: Double, e: Double, parent: Long): Long = {
    val id = nextId.getAndIncrement()
    spans.synchronized(spans += Span(id, name, s, e, parent, currentOp))
    id
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      counters.jobs.incrementAndGet()
      jobStart.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(s =>
        record("exec.job", s.toDouble, e.time.toDouble, currentOpSpan))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      counters.stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      counters.tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        counters.runMs.addAndGet(m.executorRunTime)
        counters.cpuNs.addAndGet(m.executorCpuTime)
        counters.gcMs.addAndGet(m.jvmGCTime)
        counters.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        counters.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        counters.spill.addAndGet(m.diskBytesSpilled)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlStart.put(s.executionId, s.time)
      case s: SparkListenerSQLExecutionEnd =>
        Option(sqlStart.remove(s.executionId)).foreach(t =>
          record("plans.query", t.toDouble, s.time.toDouble, currentOpSpan))
      case _ =>
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      counters.queries.incrementAndGet()
      val p = qe.tracker.phases
      def ms(phase: String) = p.get(phase).map(_.durationMs).getOrElse(0L)
      counters.analysisMs.addAndGet(ms("analysis"))
      counters.optimizationMs.addAndGet(ms("optimization"))
      counters.planningMs.addAndGet(ms("planning"))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    attached = false
  }

  def drain(): Unit = org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)

  /** Run `f` as op `opId` under span `name`; returns its result and the
    * counter deltas the op caused. */
  def op[T](opId: Long, name: String)(f: => T): (T, Map[String, Long]) = {
    drain()
    val before = counters.snapshot
    currentOp = opId
    val s = nowMs
    val spanId = nextId.getAndIncrement()
    currentOpSpan = spanId
    val r = try f finally {
      val e = nowMs
      drain()
      spans.synchronized(spans += Span(spanId, name, s, e, 0L, opId))
      currentOp = 0L
      currentOpSpan = 0L
    }
    val after = counters.snapshot
    (r, after.map { case (k, v) => k -> (v - before(k)) })
  }

  /** A top-level span outside any op (set-up, layer probes). */
  def phase[T](name: String)(f: => T): T = {
    val s = nowMs
    try f finally record(name, s, nowMs, 0L)
  }

  def spansJsonl: Seq[String] = spans.synchronized(spans.toList).sortBy(_.startMs).map { s =>
    Json.obj(Seq("id" -> Json.num(s.id), "name" -> Json.str(s.name),
      "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
      "parent" -> Json.num(s.parent), "op" -> Json.num(s.op)))
  }
}
