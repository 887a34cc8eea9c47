package graft.arxiv

import graft.operators.Relational
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Citations stage (query_and_store_citations, process_publications_dag
  * .py:446-478): look every publication title up on Scholar and append one
  * citations row per organic result.
  *
  * F4 author extraction: first '-'-segment of publication_info.summary,
  * 'Unknown' when no dash (py:452-453). `year` is always null (py:460 —
  * quirk preserved). Citation ids continue the SERIAL sequence in
  * (publication_id, result_idx) order.
  */
object Citations {

  def run(spark: SparkSession, store: ArxivStore, client: ScholarClient): ArxivStore = {
    val pubs = store.publications.select(col("id").as("publication_id"), col("title"))
    val responses = Enrich.fetchResponses(spark, pubs, client, "title")
      .withColumn("parsed", from_json(col("response"), Scholar.responseSchema))
      .filter(col("parsed.organic_results").isNotNull)

    val rows = responses
      .select(col("publication_id"),
        posexplode(col("parsed.organic_results")).as(Seq("result_idx", "r")))
      .select(col("publication_id"), col("result_idx"),
        trim(col("r.title")).as("title"),
        extractAuthor(col("r.publication_info.summary")).as("author"),
        lit(null).cast("int").as("year"))

    val ordered = rows.withColumn("__ord",
      concat(lpad(col("publication_id").cast("string"), 10, "0"),
        lpad(col("result_idx").cast("string"), 10, "0")))
    val withIds = Relational.allocateIds(ordered, "__ord",
        Relational.maxId(store.citations))
      .select(col("id"), col("publication_id"), col("title"), col("author"), col("year"))

    store.copy(citations = store.citations.unionByName(withIds))
  }

  /** `summary.split('-')[0].strip() if '-' in summary else 'Unknown'` —
    * SURVEY §2.8 F4: split-and-take-first with fallback.
    */
  def extractAuthor(summary: Column): Column =
    when(summary.contains("-"), trim(element_at(split(summary, "-"), 1)))
      .otherwise(lit("Unknown"))
}
