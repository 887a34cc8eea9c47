package graft.arxiv

import graft.operators.Relational
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Enrichment stage (enrich_publications, process_publications_dag.py:
  * 202-259): select 2 papers per category, look each title up on Scholar,
  * upsert the results into publications on title, wire author/category
  * bridges; repeat for `cycles` (cycle 2 re-reads the updated tables —
  * SURVEY §2.13 D4).
  *
  * Set-based re-expression:
  *  - the per-category `LIKE ... ORDER BY id LIMIT k` loop (py:161-178)
  *    becomes ONE broadcast contains-join + ranking window (SURVEY §2.5 W1)
  *    — note the reference's substring semantics (`cs.C` matches `cs.CG`)
  *    are preserved via `contains`, not array membership (P5);
  *  - the HTTP call runs in `mapPartitions` via [[ScholarClient]];
  *  - `ON CONFLICT (title) DO UPDATE SET journal_ref = EXCLUDED...,
  *    doi = COALESCE(EXCLUDED.doi, old.doi), update_date = EXCLUDED...`
  *    (py:227-231) is a keyed merge: journal_ref/update_date overwrite,
  *    doi coalesces, submitter only set on insert;
  *  - sequential last-wins per title within a batch is reproduced by
  *    ranking on (category id, publication id, result index).
  */
object Enrich {

  /** One-pass per-category top-k selection (replaces k queries).
    *
    * PARITY MODE: preserves the reference's substring semantics (`cs.C`
    * matches `cs.CG`, py:165 LIKE '%...%') via a contains-join, which
    * plans as BroadcastNestedLoopJoin over pubs × categories — fine while
    * the category dim is a small broadcast, O(pubs·cats) if it grows with
    * the corpus. Prefer [[selectPapersExact]] at scale.
    */
  def selectPapers(store: ArxivStore, limitPerCategory: Int = 2): DataFrame = {
    val cats = store.categories
      .select(col("id").as("cat_id"), col("category_name"))
    val pubs = store.publications.select(col("id"), col("title"), col("categories"))
    val w = Window.partitionBy(col("cat_id")).orderBy(col("id").asc)
    pubs.join(broadcast(cats), pubs("categories").contains(col("category_name")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= limitPerCategory)
      .select(col("cat_id"), col("id").as("pub_id"), col("title"),
        col("categories").as("categories_str"))
  }

  /** SCALE MODE: equi-join on exploded category tokens — the shuffle key
    * is the exact category code, so the join hash-partitions (and
    * broadcasts only while the dim is genuinely small) instead of
    * nested-looping pubs × categories. Semantics differ from
    * [[selectPapers]] ONLY on the reference's substring quirk: a category
    * code that is a proper substring of another token (`cs.C` vs `cs.CG`)
    * no longer matches. Token-exact is the intended behavior at 100 TB;
    * the parity default stays substring for reference fidelity
    * (PipelineConfig.enrichExactCategoryMatch switches).
    */
  def selectPapersExact(store: ArxivStore, limitPerCategory: Int = 2): DataFrame = {
    val cats = store.categories
      .select(col("id").as("cat_id"), col("category_name"))
    val tokens = store.publications
      .select(col("id"), col("title"), col("categories"),
        explode(split(col("categories"), " ")).as("category_name"))
      // a code repeated inside one categories string must not occupy two
      // rank slots (the contains-join yields one row per (pub, cat) pair)
      .dropDuplicates("id", "category_name")
    val w = Window.partitionBy(col("cat_id")).orderBy(col("id").asc)
    tokens.join(cats, Seq("category_name"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= limitPerCategory)
      .select(col("cat_id"), col("id").as("pub_id"), col("title"),
        col("categories").as("categories_str"))
  }

  /** Distributed lookup: one client per partition, one call per row —
    * retries/rate limits live inside the client, results come back as a
    * raw JSON column parsed with from_json (F11).
    */
  def fetchResponses(spark: SparkSession, papers: DataFrame,
      client: ScholarClient, queryCol: String): DataFrame = {
    val schema = StructType(papers.schema.fields :+
      StructField("response", StringType, nullable = true))
    val qIdx = papers.schema.fieldIndex(queryCol)
    val rows = papers.rdd.mapPartitions { it =>
      it.map { r =>
        val resp = client.search(r.getString(qIdx)).orNull
        Row.fromSeq(r.toSeq :+ resp)
      }
    }
    // Materialize ONCE: five downstream tables branch off this frame, and
    // without pinning each would re-run the side-effecting HTTP sweep —
    // with a live client that means N× quota and, worse, tables built
    // from DIFFERENT response sets (dangling bridges). A `noop` write
    // fills the cache in one job, where `count()` adds a shuffle.
    val out = spark.createDataFrame(rows, schema).cache()
    out.write.format("noop").mode("overwrite").save()
    out
  }

  def run(spark: SparkSession, store0: ArxivStore, client: ScholarClient,
      cycles: Int = 2, limitPerCategory: Int = 2,
      clock: Column = current_date(),
      exactCategoryMatch: Boolean = false): ArxivStore = {
    var store = store0
    var owned = false // never unpersist the caller's store
    for (_ <- 1 to cycles) {
      val next = runOnce(spark, store, client, limitPerCategory, clock,
          exactCategoryMatch)
        .cached().materialize()
      if (owned) store.releaseFor(next) // superseded cycle snapshots don't accumulate
      store = next
      owned = true
    }
    store
  }

  private[arxiv] def runOnce(spark: SparkSession, store: ArxivStore,
      client: ScholarClient, limitPerCategory: Int, clock: Column,
      exactCategoryMatch: Boolean = false): ArxivStore = {
    val papers =
      if (exactCategoryMatch) selectPapersExact(store, limitPerCategory)
      else selectPapers(store, limitPerCategory)
    val responses = fetchResponses(spark, papers, client, "title")
      .withColumn("parsed", from_json(col("response"), Scholar.responseSchema))
      .filter(col("parsed.organic_results").isNotNull) // skip-on-bad-response (py:211-213)

    // one row per organic result, with its batch-order key
    val results = responses
      .select(col("cat_id"), col("pub_id"), col("categories_str"),
        posexplode(col("parsed.organic_results")).as(Seq("result_idx", "r")))
      .select(
        col("cat_id"), col("pub_id"), col("categories_str"), col("result_idx"),
        trim(col("r.title")).as("new_title"),
        trim(col("r.link")).as("new_link"),
        nullif(trim(col("r.result_id")), lit("")).as("new_doi"),
        coalesce(col("r.publication_info.authors")(0)("name"), lit("Unknown"))
          .as("first_author"),
        col("r.publication_info.authors").as("author_list"))

    // last result processed wins the publication row for its title
    val wTitle = Window.partitionBy(col("new_title"))
      .orderBy(col("cat_id").desc, col("pub_id").desc, col("result_idx").desc)
    val delta = results.withColumn("__rn", row_number().over(wTitle))
      .filter(col("__rn") === 1).drop("__rn")

    // -- upsert publications on title
    val pubs = store.publications
    val matchedTitles = pubs.select(col("title"))
    val inserts = delta.join(matchedTitles, delta("new_title") === matchedTitles("title"), "left_anti")
    val insertOrder = inserts
      .withColumn("__ord",
        concat(lpad(col("cat_id").cast("string"), 10, "0"),
          lpad(col("pub_id").cast("string"), 10, "0"),
          lpad(col("result_idx").cast("string"), 10, "0")))
    val insertedPubs = Relational.allocateIds(insertOrder, "__ord", Relational.maxId(pubs))
      .select((col("id") +: pubs.columns.filter(_ != "id").map {
        case "submitter"    => col("first_author").as("submitter")
        case "title"        => col("new_title").as("title")
        case "journal_ref"  => col("new_link").as("journal_ref")
        case "doi"          => col("new_doi").as("doi")
        case "update_date"  => clock.as("update_date")
        case other          => lit(null).cast(fieldType(pubs, other)).as(other)
      }.toSeq): _*)

    // EXCLUDED.journal_ref overwrites even when null, but only for matched
    // rows — detect "matched" via a marker, not value-nullness
    val dm = delta.select(col("new_title").as("title"),
      col("new_link").as("__jr"), col("new_doi").as("__doi"),
      lit(true).as("__hit"))
    val mergedPubs = pubs.join(broadcast(dm), Seq("title"), "left")
      .select(pubs.columns.map {
        case "journal_ref" =>
          when(col("__hit"), col("__jr")).otherwise(col("journal_ref")).as("journal_ref")
        case "doi" =>
          when(col("__hit"), coalesce(col("__doi"), col("doi")))
            .otherwise(col("doi")).as("doi")
        case "update_date" =>
          when(col("__hit"), clock).otherwise(col("update_date")).as("update_date")
        case other => col(other)
      }.toSeq: _*)
      .unionByName(insertedPubs)

    // -- resolve every result row (not only the title-winner) to its pub id
    val titleIds = mergedPubs.select(col("id").as("publication_id"), col("title"))
    val resultsWithId = results
      .join(titleIds, results("new_title") === titleIds("title"))

    // -- authors from each result (skip null/blank names, py:240-241)
    val newAuthorNames = resultsWithId
      .select(explode(col("author_list")).as("a"))
      .select(trim(col("a.name")).as("name"))
      .filter(col("name").isNotNull && col("name") =!= "")
    val authors = Ingest.upsertAuthorDim(store.authors, newAuthorNames)

    val authorship = store.authorship.unionByName(
      resultsWithId.select(col("publication_id"), explode(col("author_list")).as("a"))
        .select(col("publication_id"), trim(col("a.name")).as("name"))
        .filter(col("name").isNotNull && col("name") =!= "")
        .join(authors.select(col("id").as("author_id"), col("name")), "name")
        .select(col("publication_id"), col("author_id")))
      .dropDuplicates("publication_id", "author_id")

    // -- categories of the SOURCE paper attach to the upserted publication
    val newCatNames = resultsWithId
      .select(explode(split(col("categories_str"), " ")).as("name"))
    val categories = Ingest.upsertCategoryDim(store.categories, newCatNames)

    val publicationCategory = store.publicationCategory.unionByName(
      resultsWithId.select(col("publication_id"),
          explode(split(col("categories_str"), " ")).as("category_name"))
        .join(categories.select(col("id").as("category_id"), col("category_name")),
          "category_name")
        .select(col("publication_id"), col("category_id")))
      .dropDuplicates("publication_id", "category_id")

    store.copy(publications = mergedPubs, authors = authors,
      categories = categories, authorship = authorship,
      publicationCategory = publicationCategory)
  }

  private def fieldType(df: DataFrame, name: String) =
    df.schema(name).dataType
}
