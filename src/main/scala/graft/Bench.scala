package graft
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every catalog query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line. A query that THROWS is reported in a "failed"
  * list and as value -1 in "queries" — never as a (fast-looking) elapsed
  * time, and never summed into the total.
  *
  * Every timing carries execution-shape counters (jobs, stages, tasks,
  * shuffle read/write bytes, task GC ms, disk spill) captured by a
  * [[SparkListener]] scoped to exactly that execution (the listener bus
  * is drained before and after the timed region). The counters are what
  * make round-over-round numbers LEGIBLE: a wall-clock swing with
  * identical job/stage/shuffle counts is environment noise (JVM, GC,
  * page cache); a job-count change is a real plan change.
  */
object Bench {

  /** Execution-shape counters for one timed query run. */
  final case class Stats(jobs: Long, stages: Long, tasks: Long,
      shuffleReadB: Long, shuffleWriteB: Long, gcMs: Long, spillB: Long) {
    def -(o: Stats): Stats = Stats(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, shuffleReadB - o.shuffleReadB,
      shuffleWriteB - o.shuffleWriteB, gcMs - o.gcMs, spillB - o.spillB)
  }
  object Stats { val zero: Stats = Stats(0, 0, 0, 0, 0, 0, 0) }

  /** Monotonic counters fed by the scheduler's listener bus; `snap` +
    * [[Stats.-]] brackets a region. (Counters, not per-query maps: the
    * bench runs queries strictly sequentially.)
    */
  private final class BenchListener extends SparkListener {
    private val jobs, stages, tasks = new AtomicLong
    private val shufR, shufW, gc, spill = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        tasks.incrementAndGet()
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        gc.addAndGet(m.jvmGCTime)
        spill.addAndGet(m.diskBytesSpilled)
      }
    }
    def snap(): Stats = Stats(jobs.get, stages.get, tasks.get,
      shufR.get, shufW.get, gc.get, spill.get)
  }

  final case class Result(times: Map[String, Double], failed: Seq[String],
      details: Map[String, Stats] = Map.empty,
      calibCpuSec: Double = -1, calibShuffleSec: Double = -1) {
    def total: Double = times.values.sum
    def totalGcSec: Double = details.values.map(_.gcMs).sum / 1e3
    def totalJobs: Long = details.values.map(_.jobs).sum
  }

  /** Fixed calibration probes — identical work every round, so their
    * round-over-round drift IS the machine-noise factor to discount
    * wall-clock numbers by (per-query counters catch plan changes; the
    * calibration catches the environment). `cpu`: codegen'd scan-sum,
    * no shuffle. `shuffle`: one keyed exchange. Median of 5 runs.
    */
  private def calibrate(spark: SparkSession): (Double, Double) = {
    import org.apache.spark.sql.functions.{count => fcount, _}
    def median5(work: () => Unit): Double = {
      val ts = (1 to 5).map { _ =>
        val t0 = System.nanoTime(); work(); (System.nanoTime() - t0) / 1e9
      }
      ts.sorted.apply(2)
    }
    val cpu = median5(() =>
      spark.range(50L * 1000 * 1000).agg(sum(col("id"))).collect())
    val shuffle = median5(() =>
      spark.range(2L * 1000 * 1000)
        .groupBy(pmod(col("id"), lit(4096)).as("k"))
        .agg(fcount(lit(1))).agg(sum(col("k"))).collect())
    (cpu, shuffle)
  }

  /** Warmup + min-of-`passes` timing for each query; failures isolated
    * per query. Separated from main so a spec can inject a failing query.
    *
    * The Spark cache is CLEARED before every execution: several catalog
    * queries cache intermediates internally (shingle sets, component
    * labels) through `CacheHandle.untracked`, and across the catalog ×
    * (1 + passes) executions in one JVM those entries accumulate until
    * the storage-memory pressure evicts/recomputes mid-query — the later
    * (heavier) queries then measure GC thrash, not the operator. Clearing
    * per execution makes each number a self-contained cold-cache run;
    * parquet footer/file-listing caches live outside the cache manager
    * and stay warm, which is what the warmup pass is for.
    *
    * Reported [[Stats]] are those of the MIN-time pass, so the counters
    * describe the same execution the number does.
    */
  def run(spark: SparkSession, sfDir: String,
      queries: Map[String, (SparkSession, String) => DataFrame],
      passes: Int = 2): Result = {
    require(passes >= 1, s"passes must be >= 1, got $passes")
    val sc = spark.sparkContext
    val listener = new BenchListener
    sc.addSparkListener(listener)
    try {
      val sorted = queries.toSeq.sortBy(_._1)
      // One warmup pass (codegen + JIT + parquet footer caches), then
      // `passes` timed passes per query reporting the min — steady-state
      // throughput with GC/scheduler noise damped.
      sorted.foreach { case (_, fn) =>
        spark.catalog.clearCache()
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
      }
      def timeOnce(fn: (SparkSession, String) => DataFrame): Option[(Double, Stats)] = {
        spark.catalog.clearCache() // outside the timed region
        ListenerBusDrain.drain(sc)
        val before = listener.snap()
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).count()
          val sec = (System.nanoTime() - t0) / 1e9
          ListenerBusDrain.drain(sc)
          Some((sec, listener.snap() - before))
        } catch { case _: Throwable => None }
      }
      val timed = sorted.map { case (name, fn) =>
        val runs = (1 to passes).flatMap(_ => timeOnce(fn))
        name -> (if (runs.size == passes) Some(runs.minBy(_._1)) else None)
      }
      spark.catalog.clearCache()
      val (calibCpu, calibShuffle) = calibrate(spark)
      Result(
        times = timed.collect { case (n, Some((t, _))) => n -> t }.toMap,
        failed = timed.collect { case (n, None) => n },
        details = timed.collect { case (n, Some((_, s))) => n -> s }.toMap,
        calibCpuSec = calibCpu, calibShuffleSec = calibShuffle)
    } finally sc.removeSparkListener(listener)
  }

  /** Key used in the one-line JSON: the catalog name's `qNN` prefix with
    * the `q` stripped (so `q124_bm25_topk` → `"124"`). The full names
    * make the line ~1,900 chars, which overflows the 2,000-char tail
    * window the driver parses the line out of (both prior rounds
    * recorded `parsed: null` for exactly this reason). Full names and
    * 3-decimal timings are printed as separate per-query detail lines
    * by [[main]].
    */
  private def shortKey(name: String): String =
    name.takeWhile(_ != '_').stripPrefix("q")

  /** How many slowest queries keep a full `"queries"` map entry (in
    * seconds); the complete per-query record rides in the positional
    * `"qds"` list.
    */
  private val TopN = 12

  /** One-line JSON, built to stay FAR inside the driver's 2,000-char
    * tail window as the catalog keeps growing (the r8→r9 map-of-all-
    * queries form crossed 1,900 chars at 185 rows — one round from the
    * r1/r2 `parsed: null` cliff). Per-query data is split in two:
    *
    *  - `"queries"`: the [[TopN]] slowest queries only, short key →
    *    1-decimal SECONDS (plus every failed query as -1) — the at-a-
    *    glance map, and a dict under the `queries` field for anything
    *    driver-side that expects one;
    *  - `"qds"`: ALL queries as a comma-joined list of integer
    *    DECISECONDS (failed = -1), in lexicographic order of the FULL
    *    catalog names — the same `sorted(SparkEntry.queries.keys)`
    *    order any reader can reproduce from the committed code. ~2.6
    *    chars/query keeps 300+ rows inside the window; `"n"` is the
    *    list length as a zip check.
    *
    * Full precision per query lives in the stderr detail lines and the
    * committed PLANS.md counter sections.
    */
  def render(r: Result, sfDir: String, cpus: Int = -1,
      parallelism: Int = -1): String = {
    // Locale.ROOT: a comma-decimal default locale would render 1.234 as
    // "1,234" and corrupt the JSON
    def fmt(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def fmtQ(v: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    val failedSet = r.failed.toSet
    val allNames = (r.times.keySet ++ failedSet).toSeq.sorted
    val qds = allNames.map { n =>
      if (failedSet(n)) "-1"
      else math.round(r.times(n) * 10).toString
    }.mkString(",")
    val top = r.times.toSeq.sortBy(-_._2).take(TopN)
      .map { case (n, v) => shortKey(n) -> fmtQ(v) }
    val entries = (top ++ r.failed.map(shortKey(_) -> "-1"))
      .sortBy(_._1)
    val qs = entries.map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val failedJson = r.failed.sorted.map("\"" + shortKey(_) + "\"").mkString("[", ",", "]")
    val sfShort = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    // "cpus"/"parallelism" echo the SPARK_GRAFT_CPUS contract into the
    // artifact itself (additions-only: every pre-existing field is
    // unchanged) — a scaling run can now PROVE what core count it ran
    // with, which the r14 `suspect_cpus_ignored` flag could not see.
    s"""{"metric":"total","value":${fmt(r.total)},"unit":"sec","cpus":$cpus,"parallelism":$parallelism,"gc_sec":${fmt(r.totalGcSec)},"jobs":${r.totalJobs},"calib_cpu":${fmt(r.calibCpuSec)},"calib_shuffle":${fmt(r.calibShuffleSec)},"n":${allNames.size},"queries":$qs,"qds":"$qds","failed":$failedJson,"sf":"$sfShort"}"""
  }

  private def mb(b: Long): String =
    "%.1f".formatLocal(java.util.Locale.ROOT, b / 1e6)

  /** One stderr detail line per query — full name, seconds, and the
    * execution-shape counters of the reported (min) pass.
    */
  def detailLines(r: Result): Seq[String] =
    r.times.toSeq.sortBy(-_._2).map { case (n, t) =>
      val s = r.details.getOrElse(n, Stats.zero)
      "[bench] %-28s %8.3f s  jobs=%-3d stages=%-4d tasks=%-5d shufR=%sMB shufW=%sMB gc=%dms spill=%sMB"
        .formatLocal(java.util.Locale.ROOT, n, t, s.jobs, s.stages, s.tasks,
          mb(s.shuffleReadB), mb(s.shuffleWriteB), s.gcMs, mb(s.spillB))
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // dev aid: SPARK_GRAFT_ONLY=q72,q65 restricts the run to exact names
    // (q11* for a prefix family; the driver never sets it, so round
    // numbers stay full-catalog)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val queries = only.fold(SparkEntry.queries) { pats =>
      SparkEntry.queries.filter { case (n, _) => GraftSession.nameSelected(n, pats) }
    }
    val result = run(spark, sfDir, queries)
    if (result.failed.nonEmpty)
      System.err.println(s"[bench] FAILED queries: ${result.failed.mkString(", ")}")
    // full-name per-query detail (human/judge-readable; the parseable
    // one-line JSON below uses short keys to fit the driver's tail window)
    detailLines(result).foreach(System.err.println)
    println(render(result, sfDir, cpus.toInt,
      spark.sparkContext.defaultParallelism))
    spark.stop()
  }
}
