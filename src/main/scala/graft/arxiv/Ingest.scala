package graft.arxiv

import graft.operators.Relational
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Ingest stage (insert_data, process_publications_dag.py:45-88): JSON →
  * normalized star schema, set-based.
  *
  * Fidelity notes (SURVEY §2.4 A1/A3/A4):
  *  - `ON CONFLICT (doi) DO NOTHING` ⇒ first-in-file-order row wins per
  *    non-null doi; null-doi rows are never deduped (UNIQUE nulls are
  *    distinct in SQL).
  *  - bridge rows are built only for publications that were actually
  *    inserted (a conflicting row returns no id in the reference, so its
  *    authors/categories are silently dropped — preserved).
  *  - `update_date` is overwritten with the current date, discarding the
  *    JSON value (py:63,69 — quirk preserved; inject `clock` for tests).
  *  - authors get affiliation 'Unknown' (py:33).
  *  - the reference's N+1 row-at-a-time `get_or_insert_*` loops become
  *    explode + distinct + dense-id allocation + key joins (Catalyst
  *    broadcasts the dim side while it is small; no forced hint, since
  *    dims grow with the corpus): a constant number of shuffles regardless
  *    of row count. A batch whose new rows fit
  *    [[Relational.DriverIdBudget]] is numbered on the driver in one job
  *    per allocation and comes back as a local relation, so the bridges
  *    and dims built from it broadcast it without further jobs; a larger
  *    batch takes the distributed sort.
  */
object Ingest {

  /** Read the arXiv JSON array preserving file order as `input_idx`
    * (the reference iterates the array in order; order decides conflict
    * winners and SERIAL ids).
    */
  def readArxivJson(spark: SparkSession, path: String): DataFrame =
    withInputIdx(spark.read.schema(Schemas.arxivInput)
      .option("multiLine", true).json(path))

  /** Attach the 0-based input order (distributed zipWithIndex). */
  def withInputIdx(raw: DataFrame): DataFrame = {
    val spark = raw.sparkSession
    val withIdx = raw.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
    spark.createDataFrame(withIdx,
      StructType(raw.schema.fields :+ StructField("input_idx", LongType, nullable = false)))
  }

  def run(spark: SparkSession, store: ArxivStore, inputPath: String,
      clock: Column = current_date()): ArxivStore =
    run(spark, store, readArxivJson(spark, inputPath), clock)

  def run(spark: SparkSession, store: ArxivStore, input: DataFrame,
      clock: Column): ArxivStore = {
    // -- normalize column names + project the INSERT columns (py:64-69)
    val normalized = input.select(
      col("input_idx"),
      col("submitter"), col("title"), col("comments"),
      col("`journal-ref`").as("journal_ref"), col("doi"),
      col("`report-no`").as("report_no"), col("categories"), col("license"),
      col("abstract"), col("authors").as("authors_str"))

    // -- A1: the reference's insert hits THREE unique constraints
    //    (doi via ON CONFLICT DO NOTHING; title/report_no via caught
    //    unique-violation → rollback → skip row, py:79-82 +
    //    aupostgres.sql:8,9,17-18). Nulls compare distinct throughout.
    //    Enforced as chained first-in-order dedups per key plus anti-joins
    //    against the existing table. (Edge divergence, documented: the
    //    reference's row-sequential greedy can keep a later row whose key
    //    was only "taken" by an already-skipped row; the chained set-based
    //    form drops it. Identical on data without cross-key collision
    //    chains — the fixture has none.)
    val fresh = Seq("doi", "title", "report_no").foldLeft(normalized) { (df, key) =>
      val deduped = Relational.dedupByKey(df, key, Seq(col("input_idx").asc))
      val existing = store.publications.select(col(key).as("__existing"))
        .filter(col("__existing").isNotNull)
      deduped.join(existing, deduped(key) === col("__existing"), "left_anti")
    }

    // -- A3: SERIAL ids continue after the current max, in file order.
    // newPubs feeds five outputs: the distributed path's rows are cached
    // so the dedup + anti-join + global sort + zipWithIndex chain runs
    // once, not per consumer (the driver path's are a local relation)
    val numbered = Relational.allocateIds(fresh.withColumn("update_date", clock),
      "input_idx", Relational.maxId(store.publications))
    val newPubs =
      if (Relational.localRows(numbered).isDefined) numbered else numbered.cache()

    val publications = store.publications.unionByName(
      newPubs.select(Schemas.publications.fieldNames.map(col).toSeq: _*))

    // -- dims: explode author/category lists (F3), upsert with dense ids
    val authorNames = newPubs.select(
      explode(split(col("authors_str"), ", ")).as("name"))
    val authors = upsertAuthorDim(store.authors, authorNames)

    val categoryNames = newPubs.select(
      explode(split(col("categories"), " ")).as("name"))
    val categories = upsertCategoryDim(store.categories, categoryNames)

    // -- A4 bridges: resolve surrogate keys via key joins (auto-broadcast
    //    while dims are small), dedup on the composite PK
    //    (ON CONFLICT DO NOTHING)
    val authorship = store.authorship.unionByName(
      newPubs.select(col("id").as("publication_id"),
          explode(split(col("authors_str"), ", ")).as("name"))
        .join(authors.select(col("id").as("author_id"), col("name")), "name")
        .select(col("publication_id"), col("author_id")))
      .dropDuplicates("publication_id", "author_id")

    val publicationCategory = store.publicationCategory.unionByName(
      newPubs.select(col("id").as("publication_id"),
          explode(split(col("categories"), " ")).as("category_name"))
        .join(categories.select(col("id").as("category_id"), col("category_name")),
          "category_name")
        .select(col("publication_id"), col("category_id")))
      .dropDuplicates("publication_id", "category_id")

    store.copy(publications = publications, authors = authors,
      categories = categories, authorship = authorship,
      publicationCategory = publicationCategory)
  }

  /** Authors dim upsert preserving the 'Unknown' affiliation default. */
  private[arxiv] def upsertAuthorDim(dim: DataFrame, names: DataFrame): DataFrame = {
    val base = Relational.upsertDim(
      dim.select(col("id"), col("name")),
      names.select(col("name")), "name")
    // aliased key avoids self-join ambiguity (base derives from dim)
    val aff = dim.select(col("id").as("__aff_id"), col("affiliation"))
    base.join(aff, base("id") === aff("__aff_id"), "left")
      .select(base("id"), base("name"),
        coalesce(col("affiliation"), lit("Unknown")).as("affiliation"))
  }

  /** Categories dim upsert of `names` (a `name` column). */
  private[arxiv] def upsertCategoryDim(dim: DataFrame, names: DataFrame): DataFrame =
    Relational.upsertDim(dim.withColumnRenamed("category_name", "name"), names, "name")
      .withColumnRenamed("name", "category_name")
      .select(Schemas.categories.fieldNames.map(col).toSeq: _*)
}
