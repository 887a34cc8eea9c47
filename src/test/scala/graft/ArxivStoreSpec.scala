package graft

import scala.jdk.CollectionConverters._

import graft.arxiv._
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._

/** How a stage's store is pinned (`cached().materialize()`) and what a
  * warm arXiv op costs: tables already loaded are skipped, the others are
  * filled concurrently without changing the SERIAL ids, and a repeated op
  * reuses its generated code.
  */
class ArxivStoreSpec extends SparkSpec {

  private val fixture = getClass.getResource("/dataset.json").getPath
  private val clock = to_date(lit("2026-01-15"))

  private def tables(s: ArxivStore): Seq[(String, DataFrame)] =
    s.productElementNames.zip(s.productIterator).collect {
      case (n, df: DataFrame) => n -> df
    }.toSeq

  private def loaded(df: DataFrame): Boolean =
    spark.sharedState.cacheManager.lookupCachedData(df)
      .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)

  private def unloaded(s: ArxivStore): Set[String] =
    tables(s).collect { case (n, df) if !loaded(df) => n }.toSet

  /** The jobs `action` launches, as the SQL execution id each ran under,
    * read after the listener bus is drained.
    */
  private def jobsOf(action: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        execs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .getOrElse("none"))
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try { action; ListenerBusDrain.drain(sc) }
    finally sc.removeSparkListener(listener)
    execs.asScala.toSeq
  }

  private def ingested(): ArxivStore =
    Ingest.run(spark, ArxivStore.empty(spark), fixture, clock)
      .cached().materialize()

  test("materialize() loads every table; a second call launches no job") {
    val s0 = ingested()
    try {
      assert(unloaded(s0).isEmpty)
      assert(jobsOf(s0.materialize()).isEmpty)
    } finally s0.unpersist()
  }

  test("pinning Clean's store runs one action per table Clean rewrites") {
    val s0 = ingested()
    val s1 = Clean.run(s0).cached()
    try {
      // the five pass-through tables share s0's loaded cache entries
      assert(unloaded(s1) == Set("publications", "authorship", "publicationCategory"))
      val execs = jobsOf(s1.materialize())
      assert(execs.nonEmpty && !execs.contains("none"))
      assert(execs.distinct.size == 3, s"jobs by SQL execution: $execs")
      assert(unloaded(s1).isEmpty)
    } finally { s1.unpersist(); s0.unpersist() }
  }

  test("concurrent pinning keeps SERIAL ids deterministic") {
    // ingest → clean → citations, pinned stage by stage or left lazy
    def ids(pin: Boolean): (Seq[Row], Seq[Row]) = {
      def p(s: ArxivStore) = if (pin) s.cached().materialize() else s
      val s0 = p(Ingest.run(spark, ArxivStore.empty(spark), fixture, clock))
      val s1 = p(Clean.run(s0))
      val s2 = p(Citations.run(spark, s1, new MockScholarClient()))
      try (s2.publications.select("id", "title").orderBy("id").collect().toSeq,
        s2.citations.select("id", "publication_id", "title").orderBy("id")
          .collect().toSeq)
      finally Seq(s2, s1, s0).foreach(_.unpersist())
    }
    val (pubs, cites) = ids(pin = true)
    assert(pubs.nonEmpty && cites.nonEmpty)
    assert(ids(pin = true) == ((pubs, cites)))
    assert(ids(pin = false) == ((pubs, cites)))
  }

  test("a repeated arXiv op compiles no generated code") {
    // the benchmark's op: ingest → clean → citations, each pinned, then
    // the three reports; generated classes outlive the op's caches
    def op(): Unit = {
      val s0 = ingested()
      val s1 = Clean.run(s0).cached().materialize()
      val s2 = Citations.run(spark, s1, new MockScholarClient()).cached().materialize()
      Analytics.authorPublicationCounts(s2).collect()
      Analytics.citationCounts(s2).collect()
      Analytics.categoryPublicationCounts(s2).collect()
      Seq(s2, s1, s0).foreach(_.unpersist())
    }
    op()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    op()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled)
  }
}
