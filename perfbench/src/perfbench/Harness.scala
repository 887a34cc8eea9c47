package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry, Tables}
import graft.arxiv._
import graft.operators.AuditDiff

/** JVM side of the benchmark: one workload in one JVM on `local[cores]`,
  * one closed-loop client. Sets up once from process start, runs one
  * untimed op, then whole ops until `seconds` would be exceeded, and
  * writes `result.json` (timings, live memory, per-layer metrics) plus the
  * first op's outputs for the DuckDB checks that `run.py` makes after this
  * JVM exits.
  *
  * Usage: Harness <workload> <inputDir> <outDir> <seconds> <trace 0|1> <cores>
  */
object Harness {

  /** One op's result: a fingerprint every later op must reproduce, the
    * op's spans, and its per-layer metrics when traced.
    */
  final case class OpResult(fingerprint: String, tracer: Tracer,
      layers: Map[String, Double])

  trait Workload {
    def itemsPerOp: Long
    /** Everything an op needs beyond the session: input listing, tables. */
    def prepare(spark: SparkSession): Unit
    /** One op. `live` is called, outside every span, where the op holds
      * the most: its results still pinned, before caches are cleared.
      */
    def op(spark: SparkSession, t: Tracer, first: Boolean, live: () => Unit): OpResult
    /** Layer metrics of untimed extra spans, run once in a traced run
      * after the first op. */
    def extras(spark: SparkSession): Map[String, Double] = Map.empty
    def layerNames: Seq[String]
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inputDir, outDir, secondsS, traceS, coresS) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    val procStart = ProcessHandle.current().info().startInstant().get()

    val w: Workload = workload match {
      case "arxiv_daily" => new ArxivWorkload(inputDir, out)
      case "catalog_lifecycle" => new CatalogWorkload(inputDir, out)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // -- set-up: process start (JVM start, class loading, Spark context)
    //    until the session is ready with the inputs registered
    val spark = GraftSession.builder(coresS).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    w.prepare(spark)
    val setupMs =
      java.time.Duration.between(procStart, java.time.Instant.now()).toNanos / 1e6

    // -- live memory: heap after a full GC plus non-heap, sampled at the
    //    high point of the first two timed ops (every run times at least
    //    two, so the peak does not depend on how many ops fit)
    var liveMb = 0.0
    var sampling = false
    val live = () => if (sampling) liveMb = math.max(liveMb, Harness.liveMb())

    // -- one untimed op, whose outputs are what run.py checks; op times keep
    //    falling over several ops while the JIT compiles (about 17, 8, 6, 6 s
    //    for arxiv_daily on a 4-core host), but a second untimed op would
    //    not fit a run's time budget while the host is slow
    val t0 = System.nanoTime()
    val first = w.op(spark, new Tracer(spark, traced = false), first = true, live)
    val firstOpMs = (System.nanoTime() - t0) / 1e6
    val extraLayers = if (trace) w.extras(spark) else Map.empty[String, Double]
    spark.catalog.clearCache()

    // -- timed ops: at least two, so that how many fit in `seconds` does not
    //    swing with host speed; a traced run alternates untraced and traced
    //    ops and runs at least three, so that the mean of the untraced ops
    //    around a traced one cancels the JIT's warm-up trend
    val opsMs = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[OpResult]
    val untracedMs = ArrayBuffer.empty[Double]
    var attempted, failed = 0
    val loop0 = System.nanoTime()
    def elapsedMs = (System.nanoTime() - loop0) / 1e6
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    val minOps = if (trace) 3 else 2
    while (attempted < minOps ||
        (opsMs.nonEmpty && elapsedMs + median(opsMs.toSeq) <= seconds * 1000)) {
      val isTraced = trace && attempted % 2 == 1
      attempted += 1
      sampling = attempted <= 2
      val t = new Tracer(spark, isTraced)
      try {
        val r = w.op(spark, t, first = false, live)
        if (r.fingerprint != first.fingerprint) {
          failed += 1
          System.err.println(s"[perfbench] op $attempted output differs from the first op")
        } else {
          opsMs += t.wallMs
          if (isTraced) traced += r else untracedMs += t.wallMs
        }
      } catch { case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] op $attempted failed: $e")
      } finally t.close()
    }

    val layers: Map[String, Double] =
      if (!trace || traced.isEmpty) Map.empty
      else {
        val names = w.layerNames
        val base = names.map(n => n -> median(traced.map(_.layers.getOrElse(n, 0.0)).toSeq)).toMap
        base ++ extraLayers ++ Map(
          "warmup.first_op_ms" -> firstOpMs,
          "trace.overhead_ms" -> (median(traced.map(_.tracer.wallMs).toSeq) -
            untracedMs.sum / untracedMs.size))
      }

    spark.stop()
    val result = new java.util.LinkedHashMap[String, Any]
    result.put("workload", workload)
    result.put("setup_ms", setupMs)
    result.put("first_op_ms", firstOpMs)
    result.put("ops_ms", opsMs.asJava)
    result.put("attempted", attempted)
    result.put("failed", failed)
    result.put("items_per_op", w.itemsPerOp)
    result.put("live_mb", liveMb)
    result.put("layers", new java.util.TreeMap[String, Double](layers.asJava))
    Files.write(out.resolve("result.json"), json.writeValueAsBytes(result))
  }

  private val json = new ObjectMapper()

  /** Heap in use after a full collection, plus non-heap (metaspace, code
    * cache), in MB.
    */
  def liveMb(): Double = {
    System.gc()
    val m = ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** Common per-op layer metrics from a traced op. */
  def engineLayers(t: Tracer, cores: Int, storedMb: Double): Map[String, Double] = {
    val c = t.total
    val wall = t.wallMs
    Map(
      "engine.jobs" -> c.jobs.toDouble,
      "engine.stages" -> c.stages.toDouble,
      "engine.tasks" -> c.tasks.toDouble,
      "engine.gap_ms" -> t.gapMs.toDouble,
      "catalyst.executions" -> c.executions.toDouble,
      "catalyst.plan_ms" -> c.planMs.toDouble,
      "codegen.compile_ms" -> c.codegenNs / 1e6,
      "codegen.classes" -> c.codegenClasses.toDouble,
      "exec.run_ms" -> c.runMs.toDouble,
      "exec.cpu_ms" -> c.cpuNs / 1e6,
      "exec.gc_ms" -> c.gcMs.toDouble,
      "exec.busy_share" -> (if (wall > 0) c.runMs / (wall * cores) else 0.0),
      "shuffle.read_mb" -> c.shuffleReadB / 1048576.0,
      "shuffle.write_mb" -> c.shuffleWriteB / 1048576.0,
      "exec.spill_mb" -> c.spillB / 1048576.0,
      "cache.stored_mb" -> storedMb)
  }

  val engineNames: Seq[String] = Seq("engine.jobs", "engine.stages",
    "engine.tasks", "engine.gap_ms", "catalyst.executions", "catalyst.plan_ms",
    "codegen.compile_ms", "codegen.classes", "exec.run_ms", "exec.cpu_ms",
    "exec.gc_ms", "exec.busy_share", "shuffle.read_mb", "shuffle.write_mb",
    "exec.spill_mb", "cache.stored_mb")

  def storedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def cores(spark: SparkSession): Int = spark.sparkContext.defaultParallelism

  /** Order-insensitive fingerprint of a frame: row count plus the sums of
    * the two 32-bit halves of each row's xxhash64 (no overflow below 2^31
    * rows).
    */
  def fingerprint(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => col(s"`$c`")).toSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFFFL))),
      sum(shiftrightunsigned(h, 32))).head()
    s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
  }

  def sha256(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Rows as JSON arrays, one per line; dates as ISO strings. */
  def writeRowsJson(path: Path, rows: Seq[Row]): Unit =
    Files.write(path, rows.map { r =>
      json.writeValueAsString(r.toSeq.map {
        case d: java.sql.Date => d.toString
        case v => v
      }.asJava)
    }.mkString("\n").getBytes(UTF_8))

  def writeJson(path: Path, value: Any): Unit =
    Files.write(path, json.writeValueAsBytes(value))
}

/** arXiv pipeline stages over a generated batch. One op: a fresh store,
  * Ingest → Clean → Citations (each pinned and materialized as
  * `Pipeline` does in cache mode), then the three `Analytics` reports
  * collected.
  */
final class ArxivWorkload(inputDir: String, out: Path) extends Harness.Workload {
  private val input = s"$inputDir/arxiv.json"
  val itemsPerOp: Long = Files.readAllLines(Paths.get(s"$inputDir/records.txt")).get(0).trim.toLong
  private val tableNames = Seq("publications", "citations", "authors",
    "categories", "authorship", "publication_category")
  private def tables(s: ArxivStore): Seq[DataFrame] = Seq(s.publications,
    s.citations, s.authors, s.categories, s.authorship, s.publicationCategory)
  private var firstStores: Option[(ArxivStore, ArxivStore, ArxivStore)] = None

  def prepare(spark: SparkSession): Unit =
    spark.read.schema(Schemas.arxivInput).option("multiLine", true).json(input)

  val stages = Seq("ingest", "clean", "enrich", "citations", "validate", "audit", "reports")
  val layerNames: Seq[String] = Harness.engineNames ++
    stages.flatMap(s => Seq(s"arxiv.$s.ms", s"arxiv.$s.jobs")) ++
    Seq("scholar.calls", "scholar.ms", "scholar.distinct_share")

  def op(spark: SparkSession, t: Tracer, first: Boolean, live: () => Unit): Harness.OpResult = {
    ScholarStats.reset()
    val client: ScholarClient =
      if (t.traced) new CountingScholarClient(new MockScholarClient())
      else new MockScholarClient()
    val s0 = t("ingest")(Ingest.run(spark, ArxivStore.empty(spark), input)
      .cached().materialize())
    val s1 = t("clean")(Clean.run(s0).cached().materialize())
    val s2 = t("citations")(Citations.run(spark, s1, client).cached().materialize())
    val reports = t("reports")(Seq(
      Analytics.authorPublicationCounts(s2).collect().toSeq,
      Analytics.citationCounts(s2).collect().toSeq,
      Analytics.categoryPublicationCounts(s2).collect().toSeq))
    // untimed from here: memory, fingerprints and, for the first op, the
    // outputs
    val stored = Harness.storedMb(spark)
    live()
    val ingested = s0.publications.count()
    val fp = (s"ingested=$ingested" +: tables(s2).map(Harness.fingerprint) :+
      Harness.sha256(reports.flatten.map(_.toString))).mkString(";")
    if (first) {
      tableNames.zip(tables(s2)).foreach { case (n, df) =>
        df.write.mode("overwrite").parquet(out.resolve(s"tables/$n").toString)
      }
      Files.write(out.resolve("ingested.txt"), ingested.toString.getBytes(UTF_8))
      Seq("author_counts", "citation_counts", "category_counts").zip(reports)
        .foreach { case (n, rows) => Harness.writeRowsJson(out.resolve(s"$n.jsonl"), rows) }
      firstStores = Some((s0, s1, s2))
    } else {
      spark.catalog.clearCache()
    }
    val layers =
      if (!t.traced) Map.empty[String, Double]
      else {
        val calls = ScholarStats.calls.sum.toDouble
        Harness.engineLayers(t, Harness.cores(spark), stored) ++
          t.spans.flatMap(s => Seq(s"arxiv.${s.name}.ms" -> s.ms,
            s"arxiv.${s.name}.jobs" -> s.c.jobs.toDouble)) ++ Map(
          "scholar.calls" -> calls,
          "scholar.ms" -> ScholarStats.nanos.sum / 1e6,
          "scholar.distinct_share" ->
            (if (calls > 0) ScholarStats.queries.size / calls else 0.0))
      }
    Harness.OpResult(fp, t, layers)
  }

  /** Stages the timed op leaves out, once each on the first op's stores:
    * one enrichment cycle, the validation report, the audit diff of the
    * clean stage, and the SQL forms of the reports (checked, not timed).
    */
  override def extras(spark: SparkSession): Map[String, Double] = {
    val (s0, s1, s2) = firstStores.get
    val t = new Tracer(spark, traced = true)
    t("enrich")(Enrich.run(spark, s1, new MockScholarClient(), cycles = 1))
    val validation = t("validate")(Validate.run(s2).collect().toSeq)
    Harness.writeRowsJson(out.resolve("validation.jsonl"), validation)
    t("audit") {
      val common = s1.publications.columns.filter(s0.publications.columns.contains).toSeq
      AuditDiff.diff(s0.publications.select(common.map(col): _*),
        s1.publications.select(common.map(col): _*), "id", "publications",
        clock = current_timestamp()).count()
    }
    s2.registerViews()
    Seq("author_counts_sql" -> Analytics.authorPublicationCountsSql(spark),
        "citation_counts_sql" -> Analytics.citationCountsSql(spark),
        "category_counts_sql" -> Analytics.categoryPublicationCountsSql(spark))
      .foreach { case (n, df) =>
        Harness.writeRowsJson(out.resolve(s"$n.jsonl"), df.collect().toSeq) }
    t.close()
    t.spans.flatMap(s => Seq(s"arxiv.${s.name}.ms" -> s.ms,
      s"arxiv.${s.name}.jobs" -> s.c.jobs.toDouble)).toMap
  }
}

/** Committed-store catalog rows through `SparkEntry.queries`. One op: one
  * pass over the rows, each row's result collected.
  */
final class CatalogWorkload(inputDir: String, out: Path) extends Harness.Workload {
  val rows: Seq[String] = Seq("q197_hits", "q242_committed_winnow_ingest")
  val itemsPerOp: Long = rows.size.toLong
  private val tmp = Paths.get(sys.props("java.io.tmpdir"))

  def prepare(spark: SparkSession): Unit =
    Seq("documents", "orders", "lineitem").foreach(Tables(spark, inputDir, _))

  val layerNames: Seq[String] = Harness.engineNames ++ rows.flatMap(r =>
    Seq("ms", "jobs", "plan_ms", "gap_ms", "bytes_written", "files_written")
      .map(m => s"store.$r.$m"))

  /** Bytes and files under the JVM's temp dir, where the rows keep their
    * scratch stores.
    */
  private def footprint(): (Long, Long) = {
    val s = Files.walk(tmp)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .foldLeft((0L, 0L)) { case ((b, n), p) => (b + Files.size(p), n + 1) }
    finally s.close()
  }

  def op(spark: SparkSession, t: Tracer, first: Boolean, live: () => Unit): Harness.OpResult = {
    val perRow = rows.map { r =>
      val before = if (t.traced) footprint() else (0L, 0L)
      val (result, schema) = t(r) {
        val df = SparkEntry.queries(r)(spark, inputDir)
        (df.collect().toSeq, df.schema)
      }
      val stored = if (t.traced) Harness.storedMb(spark) else 0.0
      live()
      val after = if (t.traced) footprint() else (0L, 0L)
      if (first) {
        spark.createDataFrame(result.asJava, schema).coalesce(1).write
          .mode("overwrite").parquet(out.resolve(s"rows/$r").toString)
      }
      spark.catalog.clearCache()
      (r, Harness.sha256(result.map(_.toString).sorted), stored,
        after._1 - before._1, after._2 - before._2)
    }
    if (first) {
      Harness.writeJson(out.resolve("oracle_sql.json"),
        rows.map(r => r -> SparkEntry.oracleSql.getOrElse(r, "")).toMap.asJava)
    }
    val layers =
      if (!t.traced) Map.empty[String, Double]
      else {
        Harness.engineLayers(t, Harness.cores(spark), perRow.map(_._3).max) ++
          t.spans.zip(perRow).flatMap { case (s, (r, _, _, bytes, files)) => Seq(
            s"store.$r.ms" -> s.ms,
            s"store.$r.jobs" -> s.c.jobs.toDouble,
            s"store.$r.plan_ms" -> s.c.planMs.toDouble,
            s"store.$r.gap_ms" -> s.gapMs.toDouble,
            s"store.$r.bytes_written" -> bytes.toDouble,
            s"store.$r.files_written" -> files.toDouble)
          }.toMap
      }
    Harness.OpResult(perRow.map(p => s"${p._1}=${p._2}").mkString(";"), t, layers)
  }
}
