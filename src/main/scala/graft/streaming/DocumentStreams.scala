package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Streaming document curation — the training-data pipeline run
  * INCREMENTALLY over a landing directory of document drops (extension
  * surface; the reference's closest analog is its @daily batch DAG,
  * `process_publications_dag.py:551`).
  *
  * The curation transforms are MODE-AGNOSTIC DataFrame programs: the same
  * function runs under `spark.read` (backfill) and `spark.readStream`
  * (daily drops) — which is the point of Structured Streaming, and what
  * the parity spec asserts. Metrics are computed on NORMALIZED text
  * (the fingerprint's input), so every member of an exact-dup group
  * carries identical (lang-stats) metrics and the dedup representative
  * choice can never change the downstream statistics.
  */
object DocumentStreams {

  /** documents parquet schema as stored by the driver. */
  val documentsFileSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source stream over a documents landing dir.
    * `maxFilesPerTrigger=1` gives deterministic per-drop batches in
    * tests; at scale leave the default and let the source batch.
    */
  def readDocuments(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(documentsFileSchema)
    val r2 = maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n))
    r2.parquet(path)
  }

  /** Quality gate + corpus-lifetime fingerprint dedup. Works identically
    * on a batch or streaming frame (streaming: append mode; the dedup
    * state IS the fingerprint store, deliberately not watermarked —
    * a training corpus dedups against everything ever admitted, so state
    * grows with the DISTINCT corpus, not with time; at cluster scale
    * back it with the RocksDB state store, or compact it into a
    * fingerprint table and use [[graft.SparkEntry]] q80's anti-join
    * shape per drop).
    */
  def gateAndDedup(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    val toks = split(norm, " ")
    docs
      // the SHARED fingerprint — the streaming dedup state and the batch
      // q80 anti-join store stay interchangeable only while both sides
      // compute the identical key
      .withColumn("fp", graft.functions.TextAnalysis.fingerprint(col("text")))
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("uniq_ratio",
        size(array_distinct(toks)).cast("double") /
          greatest(size(toks), lit(1)))
      .filter(col("n_tokens") >= 20 && col("uniq_ratio") >= 0.2)
      .dropDuplicates("fp")
  }

  /** Per-language corpus statistics over curated docs. Batch, or a
    * standalone streaming aggregation (complete mode).
    */
  def langStats(curated: DataFrame): DataFrame =
    curated.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))

  /** Full batch curation = gate → dedup → stats (one declarative plan). */
  def curate(docs: DataFrame): DataFrame = langStats(gateAndDedup(docs))

  /** Run gate+dedup over a landing dir as a REAL streaming query —
    * `Trigger.AvailableNow` drains every currently-visible file and
    * stops — materializing the curated docs to `outDir` parquet (append
    * mode; the file sink is exactly-once via its `_spark_metadata` log).
    * Returns the curated frame read back from the sink.
    *
    * Oracle caveat the caller owns: the streaming dedup keeps the
    * FIRST-ARRIVING row per fingerprint, so any downstream aggregate
    * must key on columns derived from the normalized text alone
    * (n_tokens, uniq_ratio, fp — identical across an exact-dup group by
    * construction); a column like `lang` can disagree inside a group and
    * would make the result depend on file/partition arrival order.
    */
  def curateAvailableNow(spark: SparkSession, landingDir: String,
      outDir: String, checkpointDir: String): DataFrame = {
    val q = gateAndDedup(readDocuments(spark, landingDir))
      // heavy text dropped before the sink: the curated record is ids +
      // fingerprint + metrics; the corpus payload stays in the lake
      .select(col("doc_id"), col("source"), col("fp"),
        col("n_tokens"), col("uniq_ratio"))
      .writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outDir)
      .start()
    q.awaitTermination()
    // explicit schema: a drop whose docs ALL fail the gate commits zero
    // part files, and a schema-less read of the empty sink would throw
    // instead of returning an empty frame
    spark.read.schema(StructType(Seq(
        StructField("doc_id", LongType),
        StructField("source", StringType),
        StructField("fp", StringType),
        StructField("n_tokens", LongType),
        StructField("uniq_ratio", DoubleType))))
      .parquet(outDir)
  }

  /** Exact-membership ingest run continuously, for the Bloom family:
    * each micro-batch fingerprints its documents, keeps the first row
    * per fingerprint within the drop, admits only fingerprints NOT
    * already in the corpus (the STORED Bloom filter gates; the exact
    * confirm scrubs its false positives), lands the admitted rows in
    * their own `batch_id=N` partition of `outPath`, and absorbs the
    * admitted keys into the stored filter — so LATER drops dedup
    * against EARLIER ones without the corpus ever being re-hashed or
    * shuffled.
    *
    * The exact-confirm relation at each trigger is `corpus` ∪ the rows
    * this query already admitted (read back from the sink), which keeps
    * [[graft.operators.Dedup.bloomGatedAntiJoinIndexed]]'s equivalence
    * contract: the filter has absorbed a superset of the confirm keys at
    * every trigger (caller seeds the filter over `corpus` once, this
    * loop appends every admitted batch).
    *
    * Replay idempotency (foreachBatch is at-least-once): a re-executed
    * batch OVERWRITES its own batch_id partition — no duplicate rows —
    * and its filter append re-derives the word rows from the COMMITTED
    * partition, so a replay ORs in bits identical to the first run's;
    * Bloom bitmaps are idempotent under OR, leaving the filter unchanged.
    * Crucially the confirm relation EXCLUDES the replaying batch's own
    * committed partition: a batch that committed its sink write and
    * filter append but died before the checkpoint commit re-executes
    * with its own keys already in both — counting them as "earlier
    * admissions" would reject every row and overwrite the partition
    * with an empty set (silent data loss). Excluding batch_id=N from
    * the glob makes the re-execution byte-identical to the first.
    */
  def bloomIngest(spark: SparkSession, landingDir: String, bloomDir: String,
      corpus: DataFrame, outPath: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    readDocuments(spark, landingDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        bloomIngestBatch(spark, bloomDir, corpus, outPath)(batch.toDF(), batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Committed part files under `outPath/batch_id=*`, excluding
    * `excludeBatchId`'s own partition (Hadoop FS, not java.io — the sink
    * can be any cluster filesystem); empty until the first admitting
    * batch commits.
    */
  private def committedParts(spark: SparkSession, outPath: String,
      excludeBatchId: Long): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(outPath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Seq.empty
    else fs.globStatus(new org.apache.hadoop.fs.Path(s"$outPath/batch_id=*/*.parquet"))
      .map(_.getPath.toString).toIndexedSeq
      .filterNot(_.contains(s"batch_id=$excludeBatchId/"))
  }

  /** One [[bloomIngest]] trigger, exposed so a spec can re-execute a
    * batch directly and assert the at-least-once contract.
    */
  def bloomIngestBatch(spark: SparkSession, bloomDir: String,
      corpus: DataFrame, outPath: String)(batch: DataFrame, batchId: Long): Unit = {
    val fp = graft.functions.TextAnalysis.fingerprint(col("text"))
    val corpusKeys = corpus.select(fp.as("fp"))
    val parts = committedParts(spark, outPath, batchId)
    val admittedKeys =
      if (parts.isEmpty) corpusKeys.limit(0)
      else spark.read.parquet(parts: _*).select(col("fp"))
    val keyed = batch.withColumn("fp", fp).dropDuplicates("fp")
    val admitted = graft.operators.Dedup.bloomGatedAntiJoinIndexed(
      graft.operators.Dedup.loadBloomIndex(spark, bloomDir),
      keyed, corpusKeys.unionByName(admittedKeys), "fp")
    val dir = s"$outPath/batch_id=$batchId"
    admitted.write.mode("overwrite").parquet(dir)
    // explicit fp-only schema: a batch whose rows were ALL rejected
    // commits zero part files, and schema inference over the empty
    // partition dir would throw instead of appending nothing
    graft.operators.Dedup.appendBloomIndex(spark, bloomDir,
      spark.read.schema(StructType(Seq(StructField("fp", StringType))))
        .parquet(dir), "fp")
  }

  /** Near-dup-gated ingest — the NEAR-DUP twin of [[bloomIngest]] for
    * the MinHash band family: each micro-batch probes the STORED band
    * index (seeded over the corpus) unioned with bands re-derived from
    * every previously-committed drop, rejects any document with a
    * verified near-dup (jaccard ≥ 0.5) on the index side, and lands the
    * admitted rows in their own `batch_id=N` partition — so later drops
    * near-dedup against the corpus AND earlier drops.
    *
    * The stored index is never mutated during the run: earlier drops
    * participate through bands re-derived each trigger from the
    * COMMITTED sink partitions (with the index's own parameters). That
    * makes the whole trigger replay-idempotent with zero coordination —
    * a re-executed batch excludes its own partition from the re-derived
    * side, reproduces the identical admitted set, and overwrites only
    * its own partition. The re-derived side grows with admitted DROP
    * volume only; the 100 TB corpus stays in the immutable stored index
    * (bands partitioned by band, probe-side pruning). Compact the sink
    * into the stored index offline with
    * [[graft.operators.Dedup.appendBandIndex]] between runs.
    *
    * Within-batch near-dups are BOTH admitted (the probe forms
    * cross-side pairs only; q110's fingerprint gate owns within-drop
    * dedup) — this operator's contract is "nothing near-duplicate of
    * what the corpus or an earlier drop already holds".
    */
  def bandIngest(spark: SparkSession, landingDir: String, idxDir: String,
      outPath: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    readDocuments(spark, landingDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        bandIngestBatch(spark, idxDir, outPath)(batch.toDF(), batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One [[bandIngest]] trigger, exposed for the replay spec. */
  def bandIngestBatch(spark: SparkSession, idxDir: String,
      outPath: String)(batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.Dedup
    val stored = Dedup.loadBandIndex(spark, idxDir)
    val parts = committedParts(spark, outPath, batchId)
    val index =
      if (parts.isEmpty) stored
      else {
        val prior = Dedup.buildBandIndex(
          spark.read.parquet(parts: _*).select(col("doc_id"), col("text")),
          "doc_id", "text",
          stored.shingleSize, stored.numHashes, stored.rowsPerBand)
        stored.copy(bands = stored.bands.unionByName(prior.bands),
          sets = stored.sets.unionByName(prior.sets))
      }
    val pairs = Dedup.minHashLshProbe(index, batch, "doc_id", "text")
    // every pair is cross-side, so exactly one id per pair is the
    // batch's; the union over both columns hits it, and index-side ids
    // fall out of the anti join for free
    val dupIds = pairs.select(col("id_a").as("doc_id"))
      .unionByName(pairs.select(col("id_b").as("doc_id"))).distinct()
    batch.join(dupIds, Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
  }

  /** STORE-MAINTAINING band-gated ingest — [[bandIngest]]'s
    * exactly-once sibling. Where [[bandIngest]] keeps the stored index
    * immutable and parks admissions in sink partitions (re-deriving
    * their bands every trigger), this twin APPENDS each trigger's
    * admitted documents straight into the committed band store and
    * lets the [[graft.operators.CompactionPolicy]] regulate the L0 it
    * grows — the full online lifecycle: gate against the committed
    * snapshot (corpus ∪ every earlier admission), append under the
    * manifest commit protocol, background-compact when the policy
    * fires.
    *
    * Exactly-once without coordination: foreachBatch re-delivers a
    * crashed batch under the SAME batchId, and the append is
    * [[graft.operators.Dedup.appendBandIndexCommittedIdempotent]] —
    * the id is checked against the manifest's ledger BEFORE any write
    * and committed as a header INSIDE the manifest file whose rename
    * publishes the batch, so a replay appends nothing and double
    * admission is structurally impossible. The ledger survives the
    * policy's L0 re-bases ([[graft.operators.StoreFiles.compactL0]]
    * carries headers forward). Maintenance runs unconditionally after
    * every trigger — including replays, covering the crash window
    * between a batch's commit and its compaction.
    */
  def bandIngestCommitted(spark: SparkSession, landingDir: String,
      idxDir: String, checkpointDir: String,
      policy: graft.operators.CompactionPolicy,
      maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    readDocuments(spark, landingDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        bandIngestCommittedBatch(spark, idxDir, policy)(batch.toDF(), batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One [[bandIngestCommitted]] trigger, exposed for the replay spec
    * and the in-row idempotence pin.
    */
  def bandIngestCommittedBatch(spark: SparkSession, idxDir: String,
      policy: graft.operators.CompactionPolicy)(
      batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.{Dedup, StoreFiles, Stores}
    // early ledger probe saves the replay even the gating jobs; the
    // authoritative check stays inside the idempotent append
    if (!StoreFiles.committedBatchIds(spark, idxDir).contains(batchId)) {
      val pairs = Dedup.minHashLshProbe(
        Dedup.loadBandIndexSnapshot(spark, idxDir),
        batch, "doc_id", "text")
      // every pair is cross-side; the union over both id columns hits
      // the batch's member, index-side ids fall out of the anti join
      val dupIds = pairs.select(col("id_a").as("doc_id"))
        .unionByName(pairs.select(col("id_b").as("doc_id"))).distinct()
      // pinned eagerly: the append writes two subs (bands, sets) and
      // must not re-run the LSH probe per sub — and it must not READ
      // the snapshot lazily while its own files land
      val admitted =
        batch.join(dupIds, Seq("doc_id"), "left_anti").localCheckpoint()
      Dedup.appendBandIndexCommittedIdempotent(spark, idxDir, admitted,
        "doc_id", "text", batchId)
    }
    // unconditional — including on replays, covering the crash window
    // between a batch's commit and its compaction
    Stores.band.maintain(spark, idxDir, policy)
    ()
  }

  /** WINNOW-gated ingest MAINTAINING the committed store exactly-once
    * — [[bandIngestCommitted]]'s design on the winnow family: each
    * trigger probes the COMMITTED snapshot (base corpus ∪ earlier
    * admitted batches — the same sequential admission chain as
    * [[winnowIngest]]), APPENDS the admitted documents' fingerprints
    * into the store itself under the batch-id ledger (the admitted
    * docs' share of the trigger's pinned fingerprints,
    * [[graft.operators.Dedup.appendWinnowFpsCommittedIdempotent]]),
    * and lets the [[graft.operators.CompactionPolicy]] self-regulate
    * the L0 the stream grows. A re-delivered batch writes nothing:
    * the ledger rides the manifest commit and survives the re-base.
    */
  def winnowIngestCommitted(spark: SparkSession, landingDir: String,
      idxDir: String, checkpointDir: String,
      policy: graft.operators.CompactionPolicy,
      maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    readDocuments(spark, landingDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        winnowIngestCommittedBatch(spark, idxDir, policy)(batch.toDF(), batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One [[winnowIngestCommitted]] trigger, exposed for the replay
    * spec and the in-row idempotence pin. The rows the trigger holds on
    * the driver, the batch's fingerprints and the probe's collects
    * ([[graft.operators.Dedup.winnowProbeFps]]), are bounded by
    * `spark.sql.autoBroadcastJoinThreshold`.
    */
  def winnowIngestCommittedBatch(spark: SparkSession, idxDir: String,
      policy: graft.operators.CompactionPolicy)(
      batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.{Dedup, Relational, StoreFiles, Stores}
    // early ledger probe saves the replay even the gating jobs; the
    // authoritative check stays inside the idempotent append
    if (!StoreFiles.committedBatchIds(spark, idxDir).contains(batchId)) {
      val index = Dedup.loadWinnowIndexSnapshot(spark, idxDir)
      // Fingerprinted once and pinned eagerly (a local relation within
      // the budget): the probe reads these rows, and the append writes
      // the admitted docs' share of them, with the build's schema, so
      // the append must not READ the snapshot lazily while its own
      // files land
      val built = Dedup.buildWinnowIndex(batch, "doc_id", "text", index.k, index.w).fps
      val held = Relational.driverRows(built, SQLConf.get.autoBroadcastJoinThreshold)
      val fps = held.fold(built.localCheckpoint())(
        Relational.localFrame(spark, _, built.schema))
      // pairs are (id_a = index side, id_b = batch side) by contract
      val pairs = Dedup.winnowProbeFps(index,
        fps.select(col("id").as("id_b"), col("fp")),
        minShared = 2L, maxDf = 50L)
      val admitted = (held, Relational.localRows(pairs)) match {
        case (Some(rows), Some(dups)) =>
          // a null id matches no pair, as in the anti join below
          val idType = fps.schema("id").dataType
          val dupIds = dups.map(_.get(1, idType)).toSet
          // one file, as the distributed plan writes a small batch
          Relational.localFrame(spark,
            rows.filterNot(r => !r.isNullAt(0) && dupIds(r.get(0, idType))),
            fps.schema).coalesce(1)
        case _ =>
          fps.join(pairs.select(col("id_b").as("id")).distinct(), Seq("id"), "left_anti")
            .select(fps.columns.map(col): _*).localCheckpoint()
      }
      Dedup.appendWinnowFpsCommittedIdempotent(spark, idxDir, admitted, batchId)
    }
    // unconditional — including on replays, covering the crash window
    // between a batch's commit and its compaction
    Stores.winnow.maintain(spark, idxDir, policy)
    ()
  }

  /** Postings ingest MAINTAINING the committed store exactly-once —
    * the UNGATED member of the committed-twin family (every batch
    * document enters the index; there is nothing to probe): each
    * trigger appends the batch's postings + stats delta under the
    * batch-id ledger. The ledger is the ONLY thing making this
    * exactly-once — unlike the sink-partition twins, a re-delivered
    * append here would double postings rows AND stats totals, which is
    * exactly the corruption the `#batch=` header prevents.
    */
  def postingsIngestCommitted(spark: SparkSession, landingDir: String,
      idxDir: String, checkpointDir: String,
      policy: graft.operators.CompactionPolicy,
      maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    readDocuments(spark, landingDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        postingsIngestCommittedBatch(spark, idxDir, policy)(batch.toDF(), batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One [[postingsIngestCommitted]] trigger, exposed for the replay
    * spec and the in-row idempotence pin.
    */
  def postingsIngestCommittedBatch(spark: SparkSession, idxDir: String,
      policy: graft.operators.CompactionPolicy)(
      batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.{Retrieval, Stores}
    Retrieval.appendPostingsIndexCommittedIdempotent(spark, idxDir,
      batch, "doc_id", "text", batchId)
    Stores.postings.maintain(spark, idxDir, policy)
    ()
  }

  /** RAW-DOCUMENT (bronze) ingest MAINTAINING the committed docstore
    * exactly-once — the entry point of the whole lake: every trigger
    * appends the batch's documents range-clustered on (source, doc_id)
    * under the batch-id ledger, and the [[graft.operators
    * .CompactionPolicy]] self-regulates the L0 the stream grows (the
    * clustered re-base restores the string+long zone-map envelopes the
    * per-batch files lose). Ungated like the postings twin — a bronze
    * table admits everything; dedup/curation are downstream, derived
    * stores. A re-delivered batch writes nothing: the ledger rides the
    * manifest commit and survives the re-base. With this, the lake
    * story is end-to-end — raw landing → committed bronze →
    * generation-pinned derived builds ([[graft.operators.Suffix
    * .saveDupIndexFromDocStore]]), every hop replay-idempotent.
    */
  def docIngestCommitted(spark: SparkSession, landingDir: String,
      storeDir: String, checkpointDir: String,
      policy: graft.operators.CompactionPolicy,
      maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    readDocuments(spark, landingDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        docIngestCommittedBatch(spark, storeDir, policy)(batch.toDF(), batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One [[docIngestCommitted]] trigger, exposed for the replay spec
    * and the in-row idempotence pin.
    */
  def docIngestCommittedBatch(spark: SparkSession, storeDir: String,
      policy: graft.operators.CompactionPolicy)(
      batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.{DocStore, Stores}
    DocStore.appendDocStoreCommittedIdempotent(spark, storeDir, batch,
      batchId)
    Stores.docstore.maintain(spark, storeDir, policy)
    ()
  }

  /** Winnow-gated ingest — [[bandIngest]]'s twin on the WINNOW
    * fingerprint store (partial-overlap gating: a drop doc is rejected
    * when it shares ≥ 2 df-capped selected fingerprints with the
    * corpus or an earlier admission — substantial copied RUNS block
    * admission even when the whole document looks novel). Same
    * replay-idempotent construction: the stored index is immutable,
    * earlier drops re-fingerprint from committed partitions (own
    * partition excluded), admitted rows land per batch_id.
    */
  def winnowIngest(spark: SparkSession, landingDir: String, idxDir: String,
      outPath: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    readDocuments(spark, landingDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        winnowIngestBatch(spark, idxDir, outPath)(batch.toDF(), batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One [[winnowIngest]] trigger, exposed for the replay spec. */
  def winnowIngestBatch(spark: SparkSession, idxDir: String,
      outPath: String)(batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.Dedup
    val stored = Dedup.loadWinnowIndex(spark, idxDir)
    val parts = committedParts(spark, outPath, batchId)
    val index =
      if (parts.isEmpty) stored
      else {
        val prior = Dedup.buildWinnowIndex(
          spark.read.parquet(parts: _*).select(col("doc_id"), col("text")),
          "doc_id", "text", stored.k, stored.w)
        stored.copy(fps = stored.fps.unionByName(prior.fps))
      }
    // pairs are (id_a = index side, id_b = batch side) by contract, so
    // the gate removes exactly the batch ids that matched
    val pairs = Dedup.winnowProbe(index, batch, "doc_id", "text",
      minShared = 2L, maxDf = 50L)
    batch.join(pairs.select(col("id_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
  }

  /** SimHash-gated ingest — [[bandIngest]]'s twin on the SIMHASH index,
    * and the one gate whose probe is LOSSLESS (pigeonhole banding ⇒
    * probe ≡ exact cross-side hamming filter), so its oracle carries no
    * recall caveat at all. Same replay-idempotent construction: the
    * stored corpus index is immutable, earlier drops re-band from
    * committed partitions (own partition excluded), admitted rows land
    * per batch_id.
    */
  def simhashIngest(spark: SparkSession, landingDir: String, idxDir: String,
      outPath: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    readDocuments(spark, landingDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        simhashIngestBatch(spark, idxDir, outPath)(batch.toDF(), batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One [[simhashIngest]] trigger, exposed for the replay spec. */
  def simhashIngestBatch(spark: SparkSession, idxDir: String,
      outPath: String)(batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.Dedup
    val stored = Dedup.loadSimHashIndex(spark, idxDir)
    val parts = committedParts(spark, outPath, batchId)
    val index =
      if (parts.isEmpty) stored
      else stored.copy(banded = stored.banded.unionByName(
        Dedup.buildSimHashIndex(
          spark.read.parquet(parts: _*).select(col("doc_id"), col("text")),
          "doc_id", "text", stored.maxHamming).banded))
    val pairs = Dedup.simHashProbe(index, batch, "doc_id", "text")
    val dupIds = pairs.select(col("id_a").as("doc_id"))
      .unionByName(pairs.select(col("id_b").as("doc_id"))).distinct()
    batch.join(dupIds, Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
  }

  /** Incremental corpus STATISTICS — the stats sibling of the three
    * ingest gates: each micro-batch reduces to its per-(lang, bucket)
    * log-histogram sketch rows ([[graft.operators.Curation.logHistSketch]]
    * over the token count) written to the batch's own partition; the
    * corpus-wide sketch at any time is the SUM of all committed
    * partitions (sketch merge is bucket-count addition), from which
    * quantile estimates come without ever re-reading a document. A
    * re-executed batch overwrites its own partition with identical rows
    * — stateless, so replay-idempotent with no exclusions needed.
    */
  def sketchIngest(spark: SparkSession, landingDir: String,
      outPath: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    readDocuments(spark, landingDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Curation.logHistSketch(
            batch.select(col("lang"),
              graft.functions.TextAnalysis.tokenCount(col("text"))
                .cast("long").as("tok")),
            Seq("lang"), "tok")
          .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** Merge every committed sketch partition into one corpus sketch. */
  def loadSketch(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(outPath)
      .groupBy(col("lang"), col("bucket"))
      .agg(sum(col("n")).as("n"))

  /** Streaming DISTINCT-COUNT maintenance — [[sketchIngest]]'s idiom
    * with a MAX-mergeable sketch instead of a SUM-mergeable one: each
    * micro-batch writes its own per-source HLL register partition
    * (3-word shingle stream → (source, bucket, max rank)); the corpus
    * registers at any time are the per-(source, bucket) MAX over
    * committed partitions ([[loadHll]]), with zero document re-reads.
    * Stateless per batch (registers are a pure function of batch
    * content) → replay-idempotent with no exclusions.
    */
  def hllIngest(spark: SparkSession, landingDir: String,
      outPath: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    readDocuments(spark, landingDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        hllBatchRegisters(batch.toDF())
          .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One batch's per-source HLL registers — shared by [[hllIngest]] and
    * the seed write (and by the replay spec, which re-executes it
    * against a committed batch and asserts byte-identical registers).
    */
  def hllBatchRegisters(batch: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.operators.Curation.hllSketch(
      batch.select(col("source"),
        explode(graft.functions.TextAnalysis.wordNGrams(col("text"), 3))
          .as("sh")),
      Seq("source"), "sh")

  /** The live corpus registers: per-(source, bucket) MAX over every
    * committed partition.
    */
  def loadHll(spark: SparkSession, outPath: String): DataFrame =
    graft.operators.Curation.hllMerge(
      spark.read.parquet(outPath), Seq("source"))

  /** Streaming DRIFT-MONITOR maintenance — [[sketchIngest]]'s idiom on
    * the source-drift histograms: each micro-batch writes its own
    * per-(source, bucket) token-count partition
    * ([[graft.operators.Curation.driftBucketCounts]]); the live corpus
    * histogram at any time is the per-key SUM over committed partitions
    * ([[loadDriftCounts]]), and the TVD report over it
    * ([[graft.operators.Curation.driftTvdFromCounts]]) is exactly the
    * batch q185 report — integer count addition is associative, so the
    * batch split can't move a single count. Stateless per batch
    * (partition content is a pure function of batch content) →
    * replay-idempotent with no exclusions.
    */
  def driftIngest(spark: SparkSession, landingDir: String,
      outPath: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    readDocuments(spark, landingDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Curation.driftBucketCounts(
            batch.toDF(), "text", "source")
          .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** The live per-(source, bucket) histogram: SUM over every committed
    * partition.
    */
  def loadDriftCounts(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(outPath)
      .groupBy(col("source"), col("bucket"))
      .agg(sum(col("o")).as("o"))

  /** Streaming maintenance twin for the COUNT-MIN sketch (q132's
    * frequency store): each batch writes its own depth×width cell
    * relation ([[graft.operators.Curation.cmSketch]] over the batch's
    * token stream) as a `batch_id=N` partition; the live sketch is the
    * per-(r, c) SUM over committed partitions ([[loadCmCells]]) —
    * count-min cells merge by ADDITION, so the batch split cannot move
    * a single counter and estimates over the live sketch equal the
    * batch sketch over the union corpus exactly. Stateless per batch →
    * replay-idempotent with no exclusions (the [[driftIngest]]
    * contract).
    */
  def cmIngest(spark: SparkSession, landingDir: String,
      outPath: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    readDocuments(spark, landingDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Curation.cmSketch(
            batch.toDF().select(
              explode(split(col("text"), " ")).as("token")), "token")
          .cells
          .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** The live count-min cell relation: per-(r, c) SUM over every
    * committed partition — ≤ depth·width rows regardless of corpus or
    * batch count.
    */
  def loadCmCells(spark: SparkSession, outPath: String): DataFrame =
    spark.read.parquet(outPath)
      .groupBy(col("r"), col("c"))
      .agg(sum(col("n")).as("n"))

  /** L0 → base absorb for the drift store: collapse every accumulated
    * `batch_id=N` partition (plus the old base) into ONE merged base
    * partition — counts sum exactly, so the served histogram is
    * unchanged — and clear the checkpoint so the next streaming run
    * starts clean. The [[absorbPostingsDeltas]] contract: run BETWEEN
    * streaming runs only (single-nightly-writer); bounds the
    * partition-per-batch growth of a long-lived ingest. The whole-dir
    * swap goes through the guarded temp-rename
    * ([[graft.operators.StoreFiles.swapIn]]).
    */
  def absorbDriftPartitions(spark: SparkSession, outPath: String,
      checkpointDir: String): Unit = {
    val merged = loadDriftCounts(spark, outPath).coalesce(1)
      .localCheckpoint() // materialize BEFORE the swap deletes the input
    graft.operators.StoreFiles.swapIn(spark, outPath) { tmp =>
      merged.write.mode("overwrite").parquet(s"$tmp/batch_id=-1")
    }
    val p = new org.apache.hadoop.fs.Path(checkpointDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** embeddings parquet schema as stored by the driver. */
  val embeddingsFileSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** File-source stream over an embeddings landing dir (the vector-drop
    * sibling of [[readDocuments]]).
    */
  def readEmbeddings(spark: SparkSession, path: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(embeddingsFileSchema)
    val r2 = maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n))
    r2.parquet(path)
  }

  /** Incremental VECTOR-INDEX maintenance — the IVF-PQ streaming twin
    * (with this one, every stored family that serves probes has a
    * streaming ingest path): each micro-batch of embedding drops is
    * routed and encoded with the STORED centroids/codebooks
    * ([[graft.operators.Similarity.pqCodesDelta]] — only the two tiny
    * params tables are read, ZERO training jobs, the drift-accumulates-
    * in-fit-only contract of the batch append) and written as the
    * batch's OWN codes partition. The live index is [[livePqIndex]]:
    * stored codes ∪ committed deltas under the same params, served by
    * the unchanged [[graft.operators.Similarity.pqSearchIndex]].
    * Stateless per batch ⇒ replay-idempotent with no exclusions.
    */
  def pqIngest(spark: SparkSession, landingDir: String, idxDir: String,
      outPath: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    readEmbeddings(spark, landingDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        pqIngestBatch(spark, idxDir, outPath)(batch.toDF(), batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One [[pqIngest]] trigger, exposed for the replay spec. */
  def pqIngestBatch(spark: SparkSession, idxDir: String,
      outPath: String)(batch: DataFrame, batchId: Long): Unit =
    graft.operators.Similarity.pqCodesDelta(spark, idxDir,
        batch.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding")
      .select(col("neighbor_id"), col("cell"), col("codes"))
      .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")

  /** The stream's live PQ index: stored codes ∪ committed code deltas
    * under the stored params (empty-sink schema from the seed itself).
    */
  def livePqIndex(spark: SparkSession, idxDir: String,
      outPath: String): graft.operators.Similarity.PqIndex = {
    val seed = graft.operators.Similarity.loadPqIndex(spark, idxDir)
    val aligned = seed.codes.select(col("neighbor_id"), col("cell"),
      col("codes"))
    seed.copy(codes = sinkUnion(spark, aligned, outPath, aligned.schema))
  }

  private val momentsSchema = StructType(Seq(
    StructField("i", IntegerType), StructField("j", IntegerType),
    StructField("v", LongType)))

  /** Streaming MODEL-STATISTICS maintenance — the PCA moment relation
    * ([[graft.operators.Pca.momentsOf]]) kept live by a stream: each
    * embedding drop writes ONLY its own exact-integer moment rows
    * (upper-triangle seconds + firsts + count) to its batch partition.
    * Moments merge by per-(i, j) SUM, so the live sufficient statistics
    * are seed ∪ committed deltas with zero vector re-reads — the q130
    * sketch idiom applied to a MODEL's sufficient statistics; a
    * refreshed PCA basis is one driver eigensolve away at any time
    * ([[graft.operators.Pca.fitFromMoments]]), never a corpus repass.
    * Stateless per batch ⇒ replay overwrites identically.
    */
  def momentsIngest(spark: SparkSession, landingDir: String,
      outPath: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    readEmbeddings(spark, landingDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        momentsIngestBatch(spark, outPath)(batch.toDF(), batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One [[momentsIngest]] trigger, exposed for the replay spec. */
  def momentsIngestBatch(spark: SparkSession, outPath: String)(
      batch: DataFrame, batchId: Long): Unit =
    graft.operators.Pca.momentsOf(batch, "embedding")
      .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")

  /** The live moment relation: seed moments ∪ committed per-batch
    * deltas (callers merge by summing per (i, j) — fitFromMoments does
    * this itself).
    */
  def liveMoments(spark: SparkSession, seedPath: String,
      outPath: String): DataFrame =
    sinkUnion(spark, spark.read.parquet(seedPath), outPath,
      momentsSchema)

  /** The plain-IVF sibling of [[pqIngest]] (same stateless-delta idiom;
    * assignments keep the quantized vector, so serving is exact cosine
    * within probed cells rather than ADC): drops assign to the STORED
    * centroids ([[graft.operators.Similarity.ivfAssignDelta]], no
    * retrain) into their own batch partitions; [[liveIvfIndex]] serves
    * stored ∪ streamed assignments through the unchanged
    * [[graft.operators.Similarity.ivfSearchIndex]].
    */
  def ivfIngest(spark: SparkSession, landingDir: String, idxDir: String,
      outPath: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    readEmbeddings(spark, landingDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        ivfIngestBatch(spark, idxDir, outPath)(batch.toDF(), batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One [[ivfIngest]] trigger, exposed for the replay spec. */
  def ivfIngestBatch(spark: SparkSession, idxDir: String,
      outPath: String)(batch: DataFrame, batchId: Long): Unit =
    graft.operators.Similarity.ivfAssignDelta(spark, idxDir,
        batch.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding")
      .select(col("neighbor_id"), col("cv"), col("cell"))
      .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")

  /** VECTOR ingest MAINTAINING the committed IVF store exactly-once —
    * [[postingsIngestCommitted]]'s design on the IVF family (ungated:
    * every drop vector enters the index): each trigger routes the
    * batch with the STORED centroids (zero training jobs) and appends
    * the assignments INTO the store under the batch-id ledger; the
    * [[graft.operators.CompactionPolicy]] self-regulates the L0 the
    * stream grows. A re-delivered batch writes nothing — the ledger
    * rides the manifest commit and survives the policy's re-bases.
    */
  def ivfIngestCommitted(spark: SparkSession, landingDir: String,
      idxDir: String, checkpointDir: String,
      policy: graft.operators.CompactionPolicy,
      maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    readEmbeddings(spark, landingDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        ivfIngestCommittedBatch(spark, idxDir, policy)(batch.toDF(), batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One [[ivfIngestCommitted]] trigger, exposed for the replay spec
    * and the in-row idempotence pin.
    */
  def ivfIngestCommittedBatch(spark: SparkSession, idxDir: String,
      policy: graft.operators.CompactionPolicy)(
      batch: DataFrame, batchId: Long): Unit = {
    graft.operators.Similarity.appendIvfIndexCommittedIdempotent(spark,
      idxDir, batch.select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", batchId)
    graft.operators.Stores.ivf.maintain(spark, idxDir, policy)
    ()
  }

  /** SEMANTICALLY-GATED vector ingest MAINTAINING the committed IVF
    * store exactly-once — [[bandIngestCommitted]]'s GATED design in
    * EMBEDDING space (the 5th gate family: band, SimHash, Bloom, and
    * winnow gate on content duplication; this one gates on EVAL-SET
    * PROXIMITY — ingest-time benchmark decontamination, the streaming
    * arm of q261's batch rule): each trigger flags batch vectors
    * within cosine `tau` of ANY vector in the frozen `evalSet`
    * ([[graft.operators.Similarity.semanticContamination]] — exact,
    * eval side broadcast), DROPS them, and appends only the clean
    * remainder with the STORED centroids under the batch-id ledger.
    * The eval set is static, so admission is per-drop independent (no
    * band-style sequential chain) and a re-delivered batch writes
    * nothing — the early ledger probe even skips the gate's jobs.
    */
  def semanticIvfIngestCommitted(spark: SparkSession, landingDir: String,
      idxDir: String, checkpointDir: String, evalSet: DataFrame,
      tau: Double, policy: graft.operators.CompactionPolicy,
      maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    readEmbeddings(spark, landingDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        semanticIvfIngestCommittedBatch(spark, idxDir, evalSet, tau,
          policy)(batch.toDF(), batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One [[semanticIvfIngestCommitted]] trigger, exposed for the
    * replay spec and the in-row idempotence pin.
    */
  def semanticIvfIngestCommittedBatch(spark: SparkSession,
      idxDir: String, evalSet: DataFrame, tau: Double,
      policy: graft.operators.CompactionPolicy)(
      batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.{Similarity, StoreFiles, Stores}
    if (!StoreFiles.committedBatchIds(spark, idxDir).contains(batchId)) {
      val flagged = Similarity.semanticContamination(batch, evalSet,
          "vec_id", "embedding", tau)
        .select(col("corpus_id").as("vec_id"))
      // pinned eagerly: the append routes cells + writes files and
      // must not re-run the contamination scan per consumer
      val admitted = batch.select(col("vec_id"), col("embedding"))
        .join(flagged, Seq("vec_id"), "left_anti").localCheckpoint()
      Similarity.appendIvfIndexCommittedIdempotent(spark, idxDir,
        admitted, "vec_id", "embedding", batchId)
    }
    // unconditional — including on replays, covering the crash window
    // between a batch's commit and its compaction
    Stores.ivf.maintain(spark, idxDir, policy)
    ()
  }

  /** [[ivfIngestCommitted]] on the PQ family: drops encode with the
    * STORED codebooks and append into the committed codes under the
    * batch-id ledger; the policy self-regulates L0.
    */
  def pqIngestCommitted(spark: SparkSession, landingDir: String,
      idxDir: String, checkpointDir: String,
      policy: graft.operators.CompactionPolicy,
      maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    readEmbeddings(spark, landingDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        pqIngestCommittedBatch(spark, idxDir, policy)(batch.toDF(), batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One [[pqIngestCommitted]] trigger, exposed for the replay spec
    * and the in-row idempotence pin.
    */
  def pqIngestCommittedBatch(spark: SparkSession, idxDir: String,
      policy: graft.operators.CompactionPolicy)(
      batch: DataFrame, batchId: Long): Unit = {
    graft.operators.Similarity.appendPqIndexCommittedIdempotent(spark,
      idxDir, batch.select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", batchId)
    graft.operators.Stores.pq.maintain(spark, idxDir, policy)
    ()
  }

  /** The stream's live IVF index: stored ∪ committed assignment deltas. */
  def liveIvfIndex(spark: SparkSession, idxDir: String,
      outPath: String): graft.operators.Similarity.IvfIndex = {
    val seed = graft.operators.Similarity.loadIvfIndex(spark, idxDir)
    val aligned = seed.assignments.select(col("neighbor_id"), col("cv"),
      col("cell"))
    seed.copy(assignments =
      sinkUnion(spark, aligned, outPath, aligned.schema))
  }

  /** Incremental AGGREGATE maintenance — the MatView-family streaming
    * twin (q143's store kept live by a stream): each micro-batch
    * reduces to its own partial-aggregate delta rows under the STORED
    * params ([[graft.operators.MatView.aggDelta]] — a drop can never
    * aggregate a different grouping than the seed) written to the
    * batch's own partition; the live aggregate at any time is
    * [[liveAggState]] served through the unchanged merge
    * ([[graft.operators.MatView.serveAgg]]) with zero corpus re-reads.
    * Stateless per batch ⇒ replay-idempotent with no exclusions. Binds
    * to the documents schema like the other twins (value = whitespace
    * token count, the q143 instantiation).
    */
  def aggIngest(spark: SparkSession, landingDir: String, mvDir: String,
      outPath: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    readDocuments(spark, landingDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        aggIngestBatch(spark, mvDir, outPath)(batch.toDF(), batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One [[aggIngest]] trigger, exposed for the replay spec. */
  def aggIngestBatch(spark: SparkSession, mvDir: String,
      outPath: String)(batch: DataFrame, batchId: Long): Unit =
    graft.operators.MatView.aggDelta(spark, mvDir,
        batch.withColumn("tok", size(split(col("text"), " ")).cast("long")))
      .write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")

  /** Aggregate ingest MAINTAINING the committed store exactly-once —
    * [[postingsIngestCommitted]]'s design on the MatView family: each
    * trigger reduces the batch to its delta rows under the STORED
    * params and appends them INTO the store under the batch-id ledger;
    * the [[graft.operators.CompactionPolicy]] self-regulates the delta
    * pile. The quiet failure the ledger prevents here: a re-delivered
    * delta batch merges into a PLAUSIBLE aggregate that double-counts
    * the batch — no reader could tell.
    */
  def aggIngestCommitted(spark: SparkSession, landingDir: String,
      mvDir: String, checkpointDir: String,
      policy: graft.operators.CompactionPolicy,
      maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    readDocuments(spark, landingDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        aggIngestCommittedBatch(spark, mvDir, policy)(batch.toDF(), batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One [[aggIngestCommitted]] trigger, exposed for the replay spec
    * and the in-row idempotence pin.
    */
  def aggIngestCommittedBatch(spark: SparkSession, mvDir: String,
      policy: graft.operators.CompactionPolicy)(
      batch: DataFrame, batchId: Long): Unit = {
    graft.operators.MatView.appendAggStateCommittedIdempotent(spark, mvDir,
      batch.withColumn("tok", size(split(col("text"), " ")).cast("long")),
      batchId)
    graft.operators.Stores.agg.maintain(spark, mvDir, policy)
    ()
  }

  /** The stream's live aggregate state: stored seed ∪ committed delta
    * partitions (the empty-sink schema comes from the seed itself, so
    * this stays generic over the store's grouping).
    */
  def liveAggState(spark: SparkSession, mvDir: String,
      outPath: String): graft.operators.MatView.AggState = {
    val seed = graft.operators.MatView.loadAggState(spark, mvDir)
    seed.copy(state =
      sinkUnion(spark, seed.state, outPath, seed.state.schema))
  }

  // ------------------------------------------------------------------
  // L0 → base ABSORB — the promotion step the stateless twins need for
  // long-lived sinks: every trigger writes its own `batch_id=N`
  // partition, so a long-running ingest accumulates one L0 partition
  // per batch without bound (the streaming analog of the small-file
  // problem the compact* ops fix for batch appends). An absorb
  // reads the committed sink partitions, appends their rows to the
  // stored structure through the SAME write path as the batch append
  // (new files, partitioned identically), then deletes the sink and
  // its checkpoint — the live view is unchanged throughout (deltas in
  // the sink before, in the store after; parity spec-pinned per
  // family). Contract: run BETWEEN streaming runs only
  // (single-nightly-writer, like every store maintenance op); the next
  // run starts with a fresh landing dir and checkpoint, as the catalog
  // rows already do.
  // ------------------------------------------------------------------

  private def deleteDirs(spark: SparkSession, dirs: String*): Unit =
    dirs.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) { fs.delete(p, true); () }
    }

  /** Promote a postings stream's committed deltas into the stored
    * index ([[postingsIngest]]'s sink → q139's store), then clear the
    * sink + checkpoint.
    */
  def absorbPostingsDeltas(spark: SparkSession, idxDir: String,
      outPath: String, checkpointDir: String): Unit = {
    val pParts = committedParts(spark, s"$outPath/postings", -1L)
    if (pParts.nonEmpty)
      graft.operators.StoreFiles.clusterForWrite(
          spark.read.parquet(pParts: _*)
            .select(col("doc_id"), col("dl"), col("token"), col("tf"),
              col("bucket")), "bucket")
        .write.mode("append").partitionBy("bucket")
        .parquet(s"$idxDir/postings")
    val sParts = committedParts(spark, s"$outPath/stats", -1L)
    if (sParts.nonEmpty)
      spark.read.parquet(sParts: _*)
        .write.mode("append").parquet(s"$idxDir/stats")
    deleteDirs(spark, outPath, checkpointDir)
  }

  /** Delta-row schemas of the postings stream — must match what
    * [[graft.operators.Retrieval.postingsDelta]] produces, so a sink no
    * batch has written yet reads as EMPTY with the right shape.
    */
  private val postingsDeltaSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("dl", LongType),
    StructField("token", StringType), StructField("tf", LongType),
    StructField("bucket", IntegerType)))
  private val statsDeltaSchema = StructType(Seq(
    StructField("n", LongType), StructField("t", LongType)))

  /** Incremental RETRIEVAL maintenance — the postings-family streaming
    * twin (the 5th stored family to get one, after Bloom/band/SimHash/
    * sketch): each micro-batch tokenizes ONLY its own documents with
    * the stored index's nBuckets
    * ([[graft.operators.Retrieval.postingsDelta]] — the params read
    * means a drop can never bucket differently from the seed) and
    * writes the batch's postings rows and its one-row (n, t) stats
    * delta to the batch's OWN `batch_id=N` partitions. The live index
    * at any time is [[livePostingsIndex]]: stored seed ∪ committed
    * deltas — postings union and additive stats, exactly the stored
    * form's own append contract, so serving is unchanged
    * ([[graft.operators.Retrieval.bm25SearchIndex]]) and pays ZERO
    * corpus-tokenize jobs. Stateless per batch (the outputs are a pure
    * function of batch content + stored params), so a re-executed
    * batch overwrites its partitions with identical rows —
    * replay-idempotent with no exclusions needed.
    */
  def postingsIngest(spark: SparkSession, landingDir: String,
      idxDir: String, outPath: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    readDocuments(spark, landingDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        postingsIngestBatch(spark, idxDir, outPath)(batch.toDF(), batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One [[postingsIngest]] trigger, exposed for the replay spec. */
  def postingsIngestBatch(spark: SparkSession, idxDir: String,
      outPath: String)(batch: DataFrame, batchId: Long): Unit = {
    val delta = graft.operators.Retrieval.postingsDelta(spark, idxDir,
      batch.select(col("doc_id"), col("text")), "doc_id", "text")
    delta.postings.select(col("doc_id"), col("dl"), col("token"),
        col("tf"), col("bucket"))
      .write.mode("overwrite").parquet(s"$outPath/postings/batch_id=$batchId")
    delta.stats
      .write.mode("overwrite").parquet(s"$outPath/stats/batch_id=$batchId")
  }

  /** The stream's live inverted index: stored seed ∪ committed postings
    * and stats deltas (stats totals are a SUM over delta rows by the
    * stored form's own contract, so no merge step is needed here).
    */
  def livePostingsIndex(spark: SparkSession, idxDir: String,
      outPath: String): graft.operators.Retrieval.PostingsIndex = {
    val seed = graft.operators.Retrieval.loadPostingsIndex(spark, idxDir)
    seed.copy(
      postings = sinkUnion(spark,
        seed.postings.select(col("doc_id"), col("dl"), col("token"),
          col("tf"), col("bucket")),
        s"$outPath/postings", postingsDeltaSchema),
      stats = sinkUnion(spark, seed.stats, s"$outPath/stats",
        statsDeltaSchema))
  }

  private val positionalDeltaSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("pos", IntegerType),
    StructField("token", StringType), StructField("bucket", IntegerType)))

  /** Streaming POSITIONAL-index maintenance — q170's stored family kept
    * live by a stream (the [[postingsIngest]] shape on per-occurrence
    * rows): each drop writes ONLY its own positional rows to its batch
    * partition, bucketed with the stored index's own nBuckets.
    * Stateless per batch ⇒ replay overwrites identically.
    */
  def positionalIngest(spark: SparkSession, landingDir: String,
      idxDir: String, outPath: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    readDocuments(spark, landingDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        positionalIngestBatch(spark, idxDir, outPath)(batch.toDF(), batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One [[positionalIngest]] trigger, exposed for the replay spec. */
  def positionalIngestBatch(spark: SparkSession, idxDir: String,
      outPath: String)(batch: DataFrame, batchId: Long): Unit =
    graft.operators.Retrieval.positionalDelta(spark, idxDir,
        batch.select(col("doc_id"), col("text")), "doc_id", "text")
      .select(col("doc_id"), col("pos"), col("token"), col("bucket"))
      .write.mode("overwrite").parquet(s"$outPath/postings/batch_id=$batchId")

  /** The stream's live positional index: stored seed ∪ committed
    * per-batch positional rows, served by the unchanged
    * [[graft.operators.Retrieval.phraseSearchIndex]].
    */
  def livePositionalIndex(spark: SparkSession, idxDir: String,
      outPath: String): graft.operators.Retrieval.PositionalIndex = {
    val seed = graft.operators.Retrieval.loadPositionalIndex(spark, idxDir)
    seed.copy(postings = sinkUnion(spark,
      seed.postings.select(col("doc_id"), col("pos"), col("token"),
        col("bucket")),
      s"$outPath/postings", positionalDeltaSchema))
  }

  /** Read committed part files (possibly none) with an explicit schema —
    * a batch partition whose write committed zero files, or a sink no
    * batch has written yet, must read as EMPTY, not throw.
    */
  private def readParts(spark: SparkSession, parts: Seq[String],
      schema: StructType): DataFrame =
    if (parts.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.parquet(parts: _*)

  /** base ∪ committed sink partitions — THE streaming-twin serve
    * pattern, pinned once (r10 verdict Next #6): a stored base
    * relation (already the committed base ∪ L0 when the store is
    * manifested) extended by a stream sink's committed per-batch
    * partitions, read under `schema` (the delta writer's shape; a
    * sink no batch has written yet reads as EMPTY, not a throw).
    */
  private def sinkUnion(spark: SparkSession, base: DataFrame,
      sinkPath: String, schema: StructType): DataFrame =
    base.unionByName(readParts(spark,
      committedParts(spark, sinkPath, -1L), schema))

  /** Long ids: the streaming twin binds to the documents table (doc_id);
    * the batch-side store stays type-generic.
    */
  private val labelsSchema = StructType(Seq(
    StructField("id", LongType), StructField("label", LongType)))

  /** Incremental connected components run as a STREAM — the label-store
    * twin of [[bandIngest]] (the r8 lifecycle q131 runs in batch): each
    * micro-batch probes the STORED band index (corpus side, immutable
    * during the run) plus earlier drops' COMMITTED band/set deltas,
    * adds its within-batch pairs, and folds the edges into cluster
    * state via [[graft.operators.Dedup.incrementLabels]] — writing its
    * (id, label) rows and label-merge remaps to its OWN `batch_id=N`
    * partitions under `outPath/labels` and `outPath/remap`, plus its
    * own bands/sets under `outPath/bands` and `outPath/sets` (what
    * later drops probe against — each trigger banded its batch anyway;
    * re-deriving prior bands from a docs sink re-shingled every prior
    * drop every trigger). The live (id, component) view at any time is
    * [[resolvedStreamLabels]]: seed store ∪ committed deltas, chains
    * followed to fixpoint — identical labels to the batch lifecycle
    * folding the same drops in the same order, which is exactly what
    * the q140 oracle checks.
    *
    * Replay idempotency (foreachBatch is at-least-once): every input to
    * a batch's computation — stored index, seed labels, committed
    * partitions EXCLUDING its own — is immutable during the run, and
    * the contracted min-id flood and band pipeline are deterministic,
    * so a re-executed batch overwrites its partitions with identical
    * rows (the replay spec asserts byte-level equality).
    */
  def labelIngest(spark: SparkSession, landingDir: String, idxDir: String,
      storeDir: String, outPath: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): org.apache.spark.sql.streaming.StreamingQuery =
    readDocuments(spark, landingDir, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        labelIngestBatch(spark, idxDir, storeDir, outPath)(batch.toDF(), batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** One [[labelIngest]] trigger, exposed for the replay spec.
    *
    * Cache discipline (the q108 GC fix applied to the label path): one
    * handle per trigger tracks every shingle cache the probe/pairs
    * pipeline builds plus the resolved label view, and
    * [[graft.operators.Dedup.incrementLabels]] forwards it into the
    * component flood — which releases everything the moment the
    * contracted edge cache is pinned, so the flood rounds (the
    * trigger's task bulk) run with no dead buffers resident. Without
    * this, each trigger's untracked caches outlived the trigger and
    * the stream's task GC grew with every drop.
    */
  def labelIngestBatch(spark: SparkSession, idxDir: String,
      storeDir: String, outPath: String)(batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.Dedup
    val cache = new Dedup.CacheHandle()
    val stored = Dedup.loadBandIndex(spark, idxDir)
    // earlier drops enter the probe through their COMMITTED bands/sets
    // partitions (each trigger banded its batch anyway and persists the
    // result below) — re-deriving them from the docs sink re-shingled
    // EVERY prior drop EVERY trigger, O(drops²) text passes over the
    // stream's lifetime for relations that were already computed once
    val bandParts = committedParts(spark, s"$outPath/bands", batchId)
    val index =
      if (bandParts.isEmpty) stored
      else stored.copy(
        bands = stored.bands.unionByName(spark.read.parquet(bandParts: _*)),
        sets = stored.sets.unionByName(spark.read.parquet(
          committedParts(spark, s"$outPath/sets", batchId): _*)))
    val labels = spark.read.parquet(s"$storeDir/labels").unionByName(
      readParts(spark,
        committedParts(spark, s"$outPath/labels", batchId), labelsSchema))
    val remap = readParts(spark,
      committedParts(spark, s"$outPath/remap", batchId), Dedup.remapSchema)
    val resolved = cache.trackCached(
      Dedup.resolveLabelChains(labels, remap).cache())
    // the batch's bands/sets build ONCE and under their OWN handle:
    // within-pairs, the probe AND the sink writes below all derive from
    // them, and the flood's release-early discipline (which frees
    // `cache` the moment the contracted edge pin lands) must not drop
    // the sets cache before the sink writes have read it
    val batchCache = new Dedup.CacheHandle()
    try {
      val bIdx = Dedup.buildBandIndex(batch, "doc_id", "text",
        stored.shingleSize, stored.numHashes, stored.rowsPerBand,
        cache = batchCache)
      // within + cross pairs in ONE fused verify pass (candidate union
      // → single sets join pair) — same pair set as the two-call form;
      // batch ids are new by the landing contract
      val pairs = Dedup.minHashLshLabelPairs(index, bIdx)
      Dedup.incrementLabels(resolved, batch.select(col("doc_id")),
          "doc_id", pairs, upstream = cache) { (lab, rem) =>
        lab.write.mode("overwrite").parquet(s"$outPath/labels/batch_id=$batchId")
        rem.write.mode("overwrite").parquet(s"$outPath/remap/batch_id=$batchId")
      }
      // the batch's OWN band/set deltas — what later triggers union
      // into their probe side instead of re-banding this batch's text
      // (deterministic pipeline: a replayed batch rewrites identical
      // rows, like the label/remap deltas above)
      bIdx.bands.write.mode("overwrite")
        .parquet(s"$outPath/bands/batch_id=$batchId")
      bIdx.sets.write.mode("overwrite")
        .parquet(s"$outPath/sets/batch_id=$batchId")
    } finally { batchCache.release(); cache.release(); resolved.unpersist(); () }
  }

  /** The stream's live (id, component) view: seed labels ∪ committed
    * label deltas, remap chains followed to fixpoint.
    */
  def resolvedStreamLabels(spark: SparkSession, storeDir: String,
      outPath: String): DataFrame = {
    import graft.operators.Dedup
    Dedup.resolveLabelChains(
      sinkUnion(spark, spark.read.parquet(s"$storeDir/labels"),
        s"$outPath/labels", labelsSchema),
      readParts(spark,
        committedParts(spark, s"$outPath/remap", -1L), Dedup.remapSchema))
  }
}
