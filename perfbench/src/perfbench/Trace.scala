package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.arxiv.ScholarClient

/** Monotonic engine counters; `b - a` brackets a region. */
final case class Counters(jobs: Long, stages: Long, tasks: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, shuffleReadB: Long,
    shuffleWriteB: Long, spillB: Long, executions: Long, planMs: Long,
    codegenNs: Long, codegenClasses: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, runMs - o.runMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleReadB - o.shuffleReadB, shuffleWriteB - o.shuffleWriteB,
    spillB - o.spillB, executions - o.executions, planMs - o.planMs,
    codegenNs - o.codegenNs, codegenClasses - o.codegenClasses)
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, runMs + o.runMs, cpuNs + o.cpuNs, gcMs + o.gcMs,
    shuffleReadB + o.shuffleReadB, shuffleWriteB + o.shuffleWriteB,
    spillB + o.spillB, executions + o.executions, planMs + o.planMs,
    codegenNs + o.codegenNs, codegenClasses + o.codegenClasses)
}
object Counters { val zero: Counters = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0) }

/** Scheduler-side counters: jobs (with their wall intervals, for the gap
  * between jobs), stages, tasks and the task metrics of the executors.
  */
final class EngineListener extends SparkListener {
  val jobs, stages, tasks, runMs, cpuNs, gcMs, shufR, shufW, spill = new AtomicLong
  private val starts = new ConcurrentHashMap[Int, java.lang.Long]()
  val intervals = new ConcurrentLinkedQueue[(Long, Long)]()
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    starts.put(e.jobId, e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = starts.remove(e.jobId)
    if (s != null) intervals.add((s.longValue, e.time))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
    }
  }

  /** Milliseconds of [t0, t1] covered by no job. */
  def gapMs(t0: Long, t1: Long): Long = {
    val in = intervals.asScala.toSeq
      .map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var end = t0
    in.foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    (t1 - t0) - covered
  }
}

/** Catalyst phases of every Dataset action: analysis, optimization and
  * physical planning, as `QueryExecution.tracker` records them.
  */
final class PlanListener extends QueryExecutionListener {
  val executions, planMs = new AtomicLong
  private def record(qe: QueryExecution): Unit = {
    executions.incrementAndGet()
    val ph = qe.tracker.phases
    planMs.addAndGet(Seq("analysis", "optimization", "planning")
      .flatMap(ph.get).map(_.durationMs).sum)
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

/** Calls through the Scholar client. JVM-global because local-mode tasks
  * run in this JVM on deserialized copies of the client.
  */
object ScholarStats {
  val calls, nanos = new LongAdder
  val queries: java.util.Set[String] = ConcurrentHashMap.newKeySet[String]()
  def reset(): Unit = { calls.reset(); nanos.reset(); queries.clear() }
}

final class CountingScholarClient(inner: ScholarClient) extends ScholarClient {
  override def search(query: String): Option[String] = {
    val t0 = System.nanoTime()
    try inner.search(query)
    finally {
      ScholarStats.nanos.add(System.nanoTime() - t0)
      ScholarStats.calls.increment()
      ScholarStats.queries.add(query)
    }
  }
}

/** One timed span: wall time, engine counters and inter-job gap. */
final case class Span(name: String, ms: Double, c: Counters, gapMs: Long)

/** Times named spans. Untraced, it reads only the clock; traced, it also
  * drains the listener bus after each span and takes the counter deltas.
  */
final class Tracer(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val engine = new EngineListener
  private val plan = new PlanListener
  val spans = scala.collection.mutable.ArrayBuffer.empty[Span]

  if (traced) {
    sc.addSparkListener(engine)
    spark.listenerManager.register(plan)
  }

  def close(): Unit = if (traced) {
    BusDrain(sc)
    sc.removeSparkListener(engine)
    spark.listenerManager.unregister(plan)
  }

  private def snap(): Counters = {
    BusDrain(sc)
    Counters(engine.jobs.get, engine.stages.get, engine.tasks.get,
      engine.runMs.get, engine.cpuNs.get, engine.gcMs.get, engine.shufR.get,
      engine.shufW.get, engine.spill.get, plan.executions.get,
      plan.planMs.get, CodeGenerator.compileTime,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  def apply[T](name: String)(f: => T): T = {
    val before = if (traced) snap() else Counters.zero
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = f
    val ms = (System.nanoTime() - t0) / 1e6
    val w1 = System.currentTimeMillis()
    if (traced) spans += Span(name, ms, snap() - before, engine.gapMs(w0, w1))
    else spans += Span(name, ms, Counters.zero, 0L)
    out
  }

  def wallMs: Double = spans.map(_.ms).sum
  def total: Counters = spans.map(_.c).foldLeft(Counters.zero)(_ + _)
  def gapMs: Long = spans.map(_.gapMs).sum
}
