package graft.arxiv

import graft.operators.AuditDiff
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pipeline driver (the Airflow DAG, process_publications_dag.py:540-612):
  * linear chain Ingest → Clean → Enrich → Citations → Validate, with
  *  - per-stage retry (D3: retries=1 in the reference's default_args);
  *  - the three commented-out transforms as opt-in stages (D2);
  *  - change-capture on publications around every stage (the Postgres
  *    trigger → [[AuditDiff]] snapshot diff, SURVEY §2.10 C1);
  *  - config injected (no hardcoded credentials/keys — explicitly NOT
  *    replicating the reference's leaked literals, SURVEY §0).
  */
final case class PipelineConfig(
    inputPath: String,
    client: ScholarClient = new MockScholarClient(),
    enrichCycles: Int = 2,
    limitPerCategory: Int = 2,
    stageRetries: Int = 1,
    /** delay before a stage retry — the reference's retry_delay is 5 min
      * (py:544); default 0 keeps tests fast, production configs mirror it */
    stageRetryDelayMs: Long = 0,
    enableResolvePublicationTypes: Boolean = false,
    enableResolveAuthorNames: Boolean = false,
    enableNormalizeFieldsOfStudy: Boolean = false,
    /** Scale switch for enrichment's per-category selection: false keeps
      * the reference's substring semantics (broadcast contains-join);
      * true uses the token-exact equi-join (hash-partitionable — the
      * 100 TB shape). See [[Enrich.selectPapersExact]].
      */
    enrichExactCategoryMatch: Boolean = false,
    /** When set, every stage durably checkpoints the store to
      * `<dir>/<n>_<stage>/` parquet and continues from the re-read — the
      * lineage break survives executor loss (memory caches do not). Unset
      * keeps the cache+materialize mode, which is fine for fixture-scale
      * runs and tests.
      */
    checkpointDir: Option[String] = None)

final case class PipelineResult(store: ArxivStore, validation: DataFrame)

object Pipeline {

  def run(spark: SparkSession, config: PipelineConfig,
      clock: Column = current_date()): PipelineResult = {
    var store = ArxivStore.empty(spark)

    var ownedStore = false
    var stageIdx = 0
    def stage(name: String)(f: ArxivStore => ArxivStore): Unit = {
      var attempt = 0
      var done = false
      stageIdx += 1
      while (!done) {
        try {
          val before = store
          val after =
            if (config.checkpointDir.isDefined) f(store) else f(store).cached()
          // trigger-equivalent audit append (aupostgres.sql:82-97); align
          // both snapshots to common columns when the stage evolved the
          // schema (clean drops abstract, transforms add publication_type).
          // operation_time uses the injected clock so runs are reproducible
          // (the trigger's CURRENT_TIMESTAMP ≙ the default clock value).
          val common = before.publications.columns
            .filter(after.publications.columns.contains).toSeq
          val log = AuditDiff.diff(
            before.publications.select(common.map(col): _*),
            after.publications.select(common.map(col): _*),
            "id", "publications", clock = clock.cast("timestamp"))
          val next = after.copy(logTable = store.logTable
            .unionByName(log.select(store.logTable.columns.map(col).toSeq: _*)))
          // force materialization INSIDE the try: Spark stages are lazy,
          // so without this the retry would only ever guard plan
          // construction while real failures surfaced later, outside it.
          // Checkpoint mode materializes by WRITING (durable lineage
          // break, overwrite-idempotent under retry); cache mode counts.
          config.checkpointDir match {
            case Some(dir) =>
              // pin the stage result across the 8 table writes: the audit
              // diff reads after.publications a second time (logTable),
              // and every write would otherwise re-run the stage lineage
              val pinned = next.cached()
              try store = pinned.checkpointTo(spark, s"$dir/${stageIdx}_$name")
              finally pinned.unpersist() // store now reads parquet
            case None =>
              next.materialize()
              if (ownedStore) before.releaseFor(next) // bound cached-snapshot growth
              store = next
              ownedStore = true
          }
          done = true
        } catch {
          case e: Exception if attempt < config.stageRetries =>
            attempt += 1 // D3: one retry, matching default_args retries=1
            System.err.println(s"[pipeline] stage $name attempt $attempt " +
              s"failed, retrying: ${e.getMessage}")
            if (config.stageRetryDelayMs > 0) Thread.sleep(config.stageRetryDelayMs)
        }
      }
    }

    stage("ingest")(s => Ingest.run(spark, s, config.inputPath, clock))
    stage("clean")(Clean.run)
    stage("enrich")(s => Enrich.run(spark, s, config.client,
      config.enrichCycles, config.limitPerCategory, clock,
      config.enrichExactCategoryMatch))
    if (config.enableResolvePublicationTypes)
      stage("resolve_publication_types")(s =>
        Transforms.resolvePublicationTypes(spark, s, config.client))
    if (config.enableResolveAuthorNames)
      stage("resolve_author_names")(s =>
        Transforms.resolveAuthorNames(spark, s, config.client))
    if (config.enableNormalizeFieldsOfStudy)
      stage("normalize_fields_of_study")(s =>
        Transforms.normalizeFieldsOfStudy(spark, s))
    stage("citations")(s => Citations.run(spark, s, config.client))

    store.registerViews()
    PipelineResult(store, Validate.run(store))
  }
}
