package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The committed RAW-DOCUMENT store (family #12, [[Stores.docstore]])
  * — the data-lake "bronze table" for the corpus itself: the documents
  * relation under the standard manifest lifecycle (atomic commit, OCC
  * appends, tombstone deletes, vacuum, time travel), saved CLUSTERED on
  * (source, doc_id) so each committed file carries a TIGHT zone-map
  * envelope on both columns.
  *
  * What the clustering buys at 100 TB: a read restricted to one source
  * (`source BETWEEN 'web' AND 'web'`) or an id range prunes its file
  * list at PLAN time from the committed string/long envelopes —
  * the other sources' files are never listed, never footer-read, never
  * scanned. This is the engine's string-zone-map story (the r12
  * verdict's open question): parquet binary min/max, truncation-safe,
  * compared in the same unsigned UTF-8 order Spark filters by.
  *
  * The reference pipeline reads its corpus from an uncommitted
  * directory scan (process_publications_dag.py's source read); this
  * store is the scale-correct replacement — same rows, plus a commit
  * point, snapshots, and plan-time pruning.
  */
object DocStore {

  /** Save + commit generation 0. `docs` must carry `doc_id` (long) and
    * `source` (string); every other column rides along unchanged.
    * Range-clustering on (source, doc_id) keeps per-file envelopes
    * disjoint in BOTH stat columns. `numFiles` > 0 pins the file count
    * (an EXPLICIT range partitioning AQE must not coalesce — a small
    * corpus would otherwise land as one file and zone maps would have
    * nothing to skip); 0 leaves it to the shuffle-partition default,
    * which is right when the corpus is large relative to the cluster.
    */
  def saveDocStoreCommitted(spark: SparkSession, dir: String,
      docs: DataFrame, numFiles: Int = 0): Unit = {
    Stores.docstore.clearLedger(spark, dir)
    val clustered =
      if (numFiles > 0)
        docs.repartitionByRange(numFiles, col("source"), col("doc_id"))
      else docs.repartitionByRange(col("source"), col("doc_id"))
    Stores.docstore.saveCommitted(spark, dir) {
      clustered.write.mode("overwrite").parquet(s"$dir/docs")
    }
  }

  /** OCC-committed append of new documents (new files only; the
    * manifest rename is the commit point). Returns the generation.
    */
  def appendDocStoreCommitted(spark: SparkSession, dir: String,
      docs: DataFrame): Long =
    Stores.docstore.appendCommitted(spark, dir) {
      docs.repartitionByRange(col("source"), col("doc_id"))
        .write.mode("append").parquet(s"$dir/docs")
    }

  /** [[appendDocStoreCommitted]] made EXACTLY-ONCE for a replayable
    * writer (foreachBatch): the batch id rides the manifest commit as
    * a ledger header — a re-delivered batch writes nothing. The quiet
    * failure the ledger prevents on THIS family is the one a lake
    * cares most about: a doubled ingest batch silently duplicates the
    * bronze documents themselves, and every derived store then bakes
    * the duplicates in. Returns the committed generation, or None on
    * a replay.
    */
  def appendDocStoreCommittedIdempotent(spark: SparkSession, dir: String,
      docs: DataFrame, batchId: Long): Option[Long] =
    Stores.docstore.appendCommittedIdempotent(spark, dir, batchId) {
      docs.repartitionByRange(col("source"), col("doc_id"))
        .write.mode("append").parquet(s"$dir/docs")
    }

  /** The committed snapshot (optionally as of a generation), with the
    * tombstone ledger folded out.
    */
  def loadDocStoreSnapshot(spark: SparkSession, dir: String,
      asOf: Option[Long] = None): DataFrame =
    Stores.docstore.dropDeleted(spark, dir,
      Stores.docstore.snapshot(spark, dir, asOf)("docs"))

  /** Snapshot restricted to `source ∈ [lo, hi]` with STRING zone-map
    * file skipping: committed files whose UTF-8 source envelope misses
    * the range never enter the scan (predicate also applied in-plan).
    */
  def loadDocStoreSourceRange(spark: SparkSession, dir: String,
      lo: String, hi: String): DataFrame =
    Stores.docstore.dropDeleted(spark, dir,
      Stores.docstore.snapshotSkippingStr(spark, dir, "source",
        lo, hi)("docs"))

  /** Snapshot restricted to `doc_id ∈ [lo, hi]` with integral zone-map
    * file skipping.
    */
  def loadDocStoreIdRange(spark: SparkSession, dir: String,
      lo: Long, hi: Long): DataFrame =
    Stores.docstore.dropDeleted(spark, dir,
      Stores.docstore.snapshotSkipping(spark, dir, "doc_id",
        lo, hi)("docs"))
}
