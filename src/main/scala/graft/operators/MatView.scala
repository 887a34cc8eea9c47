package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental MATERIALIZED AGGREGATE maintenance — the relational
  * sibling of the sketch lifecycles (extension surface; the reference's
  * closest analog is re-running its report SQL from scratch every day,
  * `aupostgres.sql:102-129`).
  *
  * A grouped aggregate over an append-only corpus never needs to re-read
  * the corpus: `count/sum/min/max` are MERGEABLE, so the stored state is
  * DELTA rows — each batch contributes its own partial aggregate
  * (`(keys…, cnt, sum_v, min_v, max_v)`) and the live aggregate at any
  * time is one merge pass over the deltas (`sum` of counts and sums,
  * `min` of mins, `max` of maxs; the mean is DERIVED at serve time as
  * the exact integer ratio `avg_micro = (sum_v · 10⁶) div cnt`, never
  * stored — a stored mean would not merge). Same additive-state idea as
  * the q130 sketch partitions and the postings stats rows, generalized
  * to the full mergeable-aggregate surface.
  *
  * Lifecycle (the stored-family contract shared with bands/IVF/PQ/
  * Bloom/SimHash/labels/postings): [[buildAggState]] pays the one
  * corpus scan; [[saveAggState]] persists state + a params row (group
  * keys and value column travel with the store, so an append can never
  * aggregate a different grouping); [[appendAggState]] aggregates ONLY
  * the batch and appends NEW files; [[serveAgg]] merges deltas with
  * zero corpus re-reads; [[compactAggState]] squashes the delta pile
  * back to one row per key ([[StoreFiles.swapIn]] guarded swap).
  *
  * Scale shape: state size is O(distinct keys · committed batches)
  * rows of 5 columns — independent of corpus row count; serve is one
  * shuffle of the state, never of the data. Appends are embarrassingly
  * small jobs (aggregate the batch, write its partials).
  *
  * Overflow bound (BIGINT): `avg_micro` computes `sum_v · 10⁶`, exact
  * while `sum_v < 2⁶³/10⁶ ≈ 9.2 · 10¹²` — ~9 trillion tokens per key
  * group; past that move the ratio to DECIMAL(38,0).
  */
object MatView {

  /** A stored-or-in-memory aggregate state: `state` holds delta rows
    * (keys…, cnt, sum_v, min_v, max_v); the live aggregate is their
    * merge ([[serveAgg]]).
    */
  final case class AggState(state: DataFrame, keys: Seq[String],
      valueCol: String)

  /** The partial-aggregate rows one slice of data contributes. */
  private def delta(df: DataFrame, keys: Seq[String],
      valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"),
        sum(col(valueCol)).as("sum_v"),
        min(col(valueCol)).as("min_v"),
        max(col(valueCol)).as("max_v"))

  /** Aggregate the corpus into fresh state — the one full scan of the
    * lifecycle. `valueCol` must be integral (LongType contract: the
    * serve-side mean is an exact integer ratio).
    */
  def buildAggState(df: DataFrame, keys: Seq[String],
      valueCol: String): AggState = {
    require(keys.nonEmpty, "at least one group key")
    AggState(delta(df, keys, valueCol), keys, valueCol)
  }

  /** Persist: delta rows + a one-row params parquet (keys CSV, value
    * column) so appends can only ever aggregate the stored grouping.
    */
  def saveAggState(st: AggState, dir: String): Unit = {
    val spark = st.state.sparkSession
    st.state.write.mode("overwrite").parquet(s"$dir/state")
    StoreFiles.writeParams(spark, dir, Seq(
      "keys" -> st.keys.mkString(","), "value_col" -> st.valueCol))
  }

  private[operators] def readParams(spark: SparkSession,
      dir: String): (Seq[String], String) = {
    val p = StoreFiles.readParams(spark, dir)
    (p("keys").split(",").toIndexedSeq, p("value_col"))
  }

  /** The partial-aggregate rows one batch contributes to a STORED
    * state, under the store's own params (shared by [[appendAggState]]
    * and the streaming twin
    * [[graft.streaming.DocumentStreams.aggIngestBatch]]).
    */
  def aggDelta(spark: SparkSession, dir: String,
      batch: DataFrame): DataFrame = {
    val (keys, valueCol) = readParams(spark, dir)
    delta(batch, keys, valueCol)
  }

  /** Append one batch's partial-aggregate rows as NEW files (existing
    * files are never rewritten; grouping read from the stored params).
    * Unlike the index families there is no disjoint-ids contract —
    * re-aggregating keys already present just adds more delta rows,
    * which is exactly what the merge absorbs.
    */
  def appendAggState(spark: SparkSession, dir: String,
      batch: DataFrame): Unit =
    aggDelta(spark, dir, batch)
      .write.mode("append").parquet(s"$dir/state")

  def loadAggState(spark: SparkSession, dir: String): AggState = {
    val (keys, valueCol) = readParams(spark, dir)
    AggState(spark.read.parquet(s"$dir/state"), keys, valueCol)
  }

  /** The live aggregate: merge the delta rows. Output (keys…, cnt,
    * sum_v, min_v, max_v, avg_micro) with the mean as the exact
    * integer ratio floor(sum_v · 10⁶ / cnt) — engine-reproducible
    * (both operands non-negative under the LongType value contract
    * makes `div`'s truncation identical to floor division). Keys whose
    * counts merge to zero — fully [[retractAggState]]-retracted before
    * any [[refreshExtremes]] — are dropped: a from-scratch aggregate
    * would not have the key, and the filter makes the mean's division
    * structurally safe.
    */
  def serveAgg(st: AggState): DataFrame =
    mergeDeltas(st.state, st.keys)
      .filter(col("cnt") > 0)
      .withColumn("avg_micro",
        expr("(sum_v * 1000000L) div cnt"))

  /** The associative merge of delta rows: one row per key. The merged
    * partials are themselves valid delta rows.
    */
  private[operators] def mergeDeltas(state: DataFrame,
      keys: Seq[String]): DataFrame =
    state.groupBy(keys.map(col): _*)
      .agg(sum(col("cnt")).as("cnt"),
        sum(col("sum_v")).as("sum_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))

  /** RETRACT deleted rows from the stored aggregate — the delete path
    * of the mergeable-aggregate family, as RETRACTION rows (the classic
    * incremental-view-maintenance move): the deleted slice aggregates
    * to NEGATIVE (cnt, sum_v) deltas with NULL min/max, appended as new
    * files. Counts, sums, and the derived mean are exact again
    * immediately (negative deltas merge like any other); `min_v`/
    * `max_v` CANNOT retract — a min only widens monotonically — so
    * after a retraction they are conservative BOUNDS (the true extreme
    * is ≥ min_v / ≤ max_v) until [[refreshExtremes]] repairs the
    * touched keys from the surviving corpus. This split is the honest
    * production contract: the cheap exact part lands with the delete;
    * the part that genuinely needs data lands with the next
    * maintenance pass, priced by touched keys, never the corpus.
    */
  def retractAggState(spark: SparkSession, dir: String,
      deleted: DataFrame): Unit = {
    val (keys, valueCol) = readParams(spark, dir)
    deleted.groupBy(keys.map(col): _*)
      .agg((count(lit(1)) * lit(-1L)).as("cnt"),
        (coalesce(sum(col(valueCol)), lit(0L)) * lit(-1L)).as("sum_v"),
        lit(null).cast("long").as("min_v"),
        lit(null).cast("long").as("max_v"))
      .write.mode("append").parquet(s"$dir/state")
  }

  /** Repair min/max for every key touched by a retraction: keys with a
    * negative-count delta row get their extremes RECOMPUTED from the
    * (surviving) corpus — one scan filtered to the touched keys — and
    * their delta pile squashed to a single corrected row; untouched
    * keys keep their rows byte-identical. Guarded temp-swap; a key
    * retracted to zero rows disappears (matching what a from-scratch
    * aggregate would produce). After this pass [[serveAgg]] is exact
    * on every column again.
    */
  def refreshExtremes(spark: SparkSession, dir: String,
      corpus: DataFrame): Unit = {
    val (keys, valueCol) = readParams(spark, dir)
    val kc = keys.map(col)
    // a committed store repairs its COMMITTED state — a torn append's
    // orphan rows must not be baked into the rewritten generation 0
    val state =
      (if (StoreFiles.dirExists(spark, s"$dir/manifest"))
         StoreFiles.snapshotRead(spark, dir, "state")
       else spark.read.parquet(s"$dir/state")).localCheckpoint()
    val touched = state.filter(col("cnt") < 0).select(kc: _*).distinct()
      .localCheckpoint()
    val untouched = state.join(broadcast(touched), keys, "left_anti")
    val merged = state.join(broadcast(touched), keys, "left_semi")
      .groupBy(kc: _*)
      .agg(sum(col("cnt")).as("cnt"), sum(col("sum_v")).as("sum_v"))
      .filter(col("cnt") > 0)
    val fresh = corpus.join(broadcast(touched), keys, "left_semi")
      .groupBy(kc: _*)
      .agg(min(col(valueCol)).as("min_v"), max(col(valueCol)).as("max_v"))
    val repaired = merged.join(fresh, keys)
      .select((kc :+ col("cnt") :+ col("sum_v") :+ col("min_v")
        :+ col("max_v")): _*)
      .localCheckpoint()
    StoreFiles.swapIn(spark, s"$dir/state") { tmp =>
      untouched.unionByName(repaired).write.parquet(tmp)
    }
    // the swap replaced every state file — a committed store's manifest
    // must collapse to a fresh generation 0 or it would reference
    // deleted paths (same rule as compaction)
    if (StoreFiles.dirExists(spark, s"$dir/manifest"))
      Stores.agg.commitInitial(spark, dir)
  }

  /** [[retractAggState]] with a commit point: the retraction rows are a
    * batch like any other, and a torn retraction is WORSE than a torn
    * append (counts shrink for part of the deleted slice — the served
    * aggregate lies in a direction no reader expects). Returns the
    * committed generation.
    */
  def retractAggStateCommitted(spark: SparkSession, dir: String,
      deleted: DataFrame, expectedGen: Option[Long] = None): Long =
    Stores.agg.appendCommitted(spark, dir, expectedGen) {
      retractAggState(spark, dir, deleted)
    }

  /** Nightly maintenance: squash the delta pile into one row per key
    * (the merged partials are themselves valid delta rows), via the
    * guarded temp-swap. Serve results are unchanged; params untouched.
    */
  def compactAggState(spark: SparkSession, dir: String): Unit =
    Stores.agg.compactScaffold(spark, dir) { (manifested, _) =>
      Map("state" ->
        (if (manifested)
           StoreFiles.snapshotRead(spark, dir, "state").localCheckpoint()
         else spark.read.parquet(s"$dir/state")))
    } { (_, src, tmp) =>
      mergeDeltas(src, readParams(spark, dir)._1).write.parquet(tmp)
    }

  // --- snapshot-manifest commit log for the aggregate-state family
  // --- (shared StoreFiles machinery; postings-family semantics). For
  // --- MERGEABLE state a torn append is the quiet kind of wrong: the
  // --- half-landed delta rows still merge into a plausible aggregate,
  // --- just one that counts part of a batch — no reader could tell.
  // --- The commit point restores all-or-nothing batches.

  /** [[saveAggState]] plus the initial manifest (generation 0). */
  def saveAggStateCommitted(st: AggState, dir: String): Unit =
    Stores.agg.saveCommitted(st.state.sparkSession, dir) {
      saveAggState(st, dir)
    }

  /** [[appendAggState]] with a commit point (OCC via `expectedGen`);
    * returns the committed generation.
    */
  def appendAggStateCommitted(spark: SparkSession, dir: String,
      batch: DataFrame, expectedGen: Option[Long] = None): Long =
    Stores.agg.appendCommitted(spark, dir, expectedGen) {
      appendAggState(spark, dir, batch)
    }

  /** [[appendAggStateCommitted]] made EXACTLY-ONCE for a replayable
    * writer (foreachBatch): `batchId` rides the manifest commit as a
    * ledger header; a re-delivered id writes nothing and returns None.
    * For MERGEABLE state the ledger matters doubly: a doubled delta
    * batch would not fail loudly — it would merge into a plausible
    * aggregate that silently double-counts the batch.
    */
  def appendAggStateCommittedIdempotent(spark: SparkSession, dir: String,
      batch: DataFrame, batchId: Long): Option[Long] =
    Stores.agg.appendCommittedIdempotent(spark, dir, batchId) {
      appendAggState(spark, dir, batch)
    }

  /** Load exactly the COMMITTED delta rows (optionally as of a
    * generation — the aggregate as it stood after that commit; the
    * merge is order-insensitive, so any committed prefix is itself a
    * valid state).
    */
  def loadAggStateSnapshot(spark: SparkSession, dir: String,
      asOf: Option[Long] = None): AggState = {
    val (keys, valueCol) = readParams(spark, dir)
    AggState(StoreFiles.snapshotRead(spark, dir, "state", asOf),
      keys, valueCol)
  }
}
