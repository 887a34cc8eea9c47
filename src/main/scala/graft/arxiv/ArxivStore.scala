package graft.arxiv

import graft.Parallel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.Row
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.types.StructType

/** The pipeline's table state — the Spark analog of the reference's
  * "between-task state lives in Postgres" (SURVEY.md §3 E1). Stages are
  * `ArxivStore => ArxivStore` transitions; [[registerViews]] exposes every
  * table to `spark.sql` for the SQL-parity surface.
  */
final case class ArxivStore(
    publications: DataFrame,
    citations: DataFrame,
    authors: DataFrame,
    publicationVenues: DataFrame,
    categories: DataFrame,
    authorship: DataFrame,
    publicationCategory: DataFrame,
    logTable: DataFrame) {

  def registerViews(): Unit = {
    publications.createOrReplaceTempView("publications")
    citations.createOrReplaceTempView("citations")
    authors.createOrReplaceTempView("authors")
    publicationVenues.createOrReplaceTempView("publication_venues")
    categories.createOrReplaceTempView("categories")
    authorship.createOrReplaceTempView("authorship")
    publicationCategory.createOrReplaceTempView("publication_category")
    logTable.createOrReplaceTempView("log_table")
  }

  /** Pin every table in memory — between-cycle state must re-read the
    * UPDATED tables (SURVEY §2.13 D4), so callers checkpoint via cache.
    */
  def cached(): ArxivStore = copy(
    publications = publications.cache(),
    citations = citations.cache(),
    authors = authors.cache(),
    publicationVenues = publicationVenues.cache(),
    categories = categories.cache(),
    authorship = authorship.cache(),
    publicationCategory = publicationCategory.cache(),
    logTable = logTable.cache())

  private def all: Seq[DataFrame] = Seq(publications, citations, authors,
    publicationVenues, categories, authorship, publicationCategory, logTable)

  /** Fill every table's cache that is not loaded yet — call before
    * unpersisting a predecessor store whose frames this one's lineage
    * still references. A table the stage passed through unchanged shares
    * its predecessor's loaded entry and costs nothing. Each remaining
    * table is filled by one `noop` write of the cached frame (a scan
    * without the shuffle a `count()` adds), and those writes run at once,
    * one thread per table (see [[graft.Parallel]]). Concurrent fills of
    * shared lineage meet in the block manager, which computes each
    * cached partition once.
    */
  def materialize(): ArxivStore = {
    Parallel.map(all.filterNot(loaded), all.size)(
      _.write.format("noop").mode("overwrite").save())
    this
  }

  private def loaded(df: DataFrame): Boolean =
    df.sparkSession.sharedState.cacheManager.lookupCachedData(df)
      .exists(_.cachedRepresentation.cacheBuilder.isCachedColumnBuffersLoaded)

  /** Release this store's cached tables (safe only after successors are
    * materialized — see [[materialize]]).
    */
  def unpersist(): Unit = all.foreach(_.unpersist())

  /** Release the cached tables that `successor` does not share — the
    * rule for dropping a superseded snapshot. Spark keys caches by plan,
    * so unpersisting a table the successor passed through unchanged
    * would drop the successor's cache of it too. Safe only after the
    * successor is materialized (see [[materialize]]).
    */
  def releaseFor(successor: ArxivStore): Unit = {
    val kept = successor.all.map(_.queryExecution.analyzed)
    all.filterNot(df => kept.exists(_.sameResult(df.queryExecution.analyzed)))
      .foreach(_.unpersist())
  }

  /** Durable lineage break: write every table to `dir` and re-read it.
    * The 100×-safe analog of the reference's "between-task state lives in
    * the database" (SURVEY §3 E1) — an executor loss after this point
    * recomputes from the checkpoint parquet, never back through the
    * (side-effecting) enrichment lineage; memory-only caches are not
    * load-bearing for correctness. The write doubles as the stage's
    * materialization barrier.
    */
  def checkpointTo(spark: SparkSession, dir: String): ArxivStore = {
    def cp(df: DataFrame, name: String): DataFrame = {
      val path = s"$dir/$name"
      df.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(path)
      spark.read.schema(df.schema).parquet(path)
    }
    ArxivStore(
      publications = cp(publications, "publications"),
      citations = cp(citations, "citations"),
      authors = cp(authors, "authors"),
      publicationVenues = cp(publicationVenues, "publication_venues"),
      categories = cp(categories, "categories"),
      authorship = cp(authorship, "authorship"),
      publicationCategory = cp(publicationCategory, "publication_category"),
      logTable = cp(logTable, "log_table"))
  }
}

object ArxivStore {
  /** All-empty store (the freshly-created database). */
  def empty(spark: SparkSession): ArxivStore = {
    def e(s: StructType): DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
    ArxivStore(
      publications = e(Schemas.publications),
      citations = e(Schemas.citations),
      authors = e(Schemas.authors),
      publicationVenues = e(Schemas.publicationVenues),
      categories = e(Schemas.categories),
      authorship = e(Schemas.authorship),
      publicationCategory = e(Schemas.publicationCategory),
      logTable = e(Schemas.logTable))
  }
}
