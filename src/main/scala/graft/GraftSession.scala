package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory: every entrypoint (tests, Bench, Verify,
  * the benchmark harness, pipeline drivers) builds its session here, so
  * each setting exists once.
  *
  * Runs `local[n]` on the host's cores (`SPARK_GRAFT_CPUS` overrides) but
  * is written for a real cluster: AQE handles runtime re-planning (skew
  * joins, shuffle coalescing), shuffle partitions default to the core
  * count instead of 200, and parquet nanosecond timestamps (the `events`
  * table) are read as longs that [[Tables]] converts explicitly.
  */
object GraftSession {
  /** Local cores: `SPARK_GRAFT_CPUS`, else every core of the host. */
  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def builder(cpus: String = defaultCpus): SparkSession.Builder =
    SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        listParallelThreshold)
      // static: sizes the JVM-wide cache of compiled whole-stage and
      // expression classes. A warm arXiv op (ingest → clean → citations
      // → reports) uses about 207 generated classes and one pass of the
      // benchmarked catalog rows about 145 (`codegen.classes` in a traced
      // perfbench run); Spark's default of 100 evicted them, so every
      // warm op recompiled all of them. 2000 holds both five times over.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")

  def get(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_ONLY` matcher shared by Bench and Verify: a pattern
    * selects a query by EXACT name, or by prefix when it carries an
    * explicit trailing `*` — so `q11` selects only q11, not q110-q118;
    * `q11*` opts into the prefix family deliberately.
    */
  def nameSelected(name: String, patterns: Set[String]): Boolean =
    patterns.exists { p =>
      if (p.endsWith("*")) name.startsWith(p.dropRight(1)) else name == p
    }

  /** How many scan root paths a read may have before Spark launches a
    * DISTRIBUTED listing job instead of listing on the driver
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`,
    * default 32). The stores here serve snapshot reads as explicit
    * manifest file lists (often 50-150 paths), and on a LOCAL
    * filesystem each such read then pays a full job round-trip
    * (~100 ms scheduler latency) to stat files a driver walk handles
    * in single-digit ms. Parameterised (env) with a local-appropriate
    * default; on an object-store/HDFS cluster, where per-path listing
    * latency is what the distributed listing amortizes, set
    * SPARK_GRAFT_LIST_PARALLEL_THRESHOLD=32 to restore the stock
    * behavior.
    */
  private def listParallelThreshold: String =
    sys.env.getOrElse("SPARK_GRAFT_LIST_PARALLEL_THRESHOLD", "4096")
}
