package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full-text retrieval over the document corpus — BM25-family ranking as
  * a distributed inverted-index program (extension surface; the
  * reference has no retrieval operator, its text search is the P5 LIKE
  * filter, `process_publications_dag.py:171`).
  *
  * Scoring is a LOG-FREE BM25 variant with the standard k1 = 1.2,
  * b = 0.75, written as EXACT integer arithmetic so the result is
  * engine-reproducible: with N docs, total token count T (so
  * avgdl = T/N), per-term document frequency df, in-document frequency
  * tf, and doc length dl, the per-term score is
  *
  *   idf_raw · tf_norm = (N - df + ½)/(df + ½) · tf·(k1+1)/(tf + k1·(1 - b + b·dl/avgdl))
  *
  * i.e. classic Okapi with the idf's log REMOVED. The raw ratio is a
  * strictly decreasing function of df, so single-term rankings are
  * identical to Okapi's; multi-term rankings weight rare terms more
  * aggressively (~N/df, linear, vs Okapi's logarithmic damping). The
  * trade is deliberate: ln is not IEEE-reproducible across engines
  * (Spark vs DuckDB libm differ in ulps), while the ratio clears to one
  * exact rational. ([[bm25TopKLog]] restores the true logarithmic idf
  * without giving that up — the per-queried-token idf is computed once
  * on the driver with StrictMath and consumed as literals by BOTH
  * engines, so no engine runs its own ln.) The formula clears to the
  * single rational A/B with
  *
  *   A = (2N - 2df + 1) · 22 · tf · T
  *   B = (2df + 1) · (10·tf·T + 3·T + 9·dl·N)
  *
  * (k1 = 6/5, b = 3/4, both sides scaled by 10·T). A and B are computed
  * as exact BIGINT products, the per-term score as
  * `floor(A/B · 1e6)` — ONE correctly-rounded IEEE division and
  * multiplication, identical on every engine — and per-document scores
  * as the exact integer SUM of those micro-scores (integer addition is
  * associative, so partitioning can never change the result; this is
  * the q76 fixed-point idiom extended to a multi-factor formula).
  * Since df ≤ N, A and B are both strictly positive: unlike Robertson's
  * log-idf (negative for df > N/2), every term CONTRIBUTES a positive
  * score here — stopword-heavy terms contribute little, never subtract.
  *
  * Overflow bounds (BIGINT): A ≤ (2N+1)·22·tf·T and B ≤
  * (2N+1)·(10·tf+3)·T·≈ — at N = 10⁶ docs, T = 10⁸ tokens, tf ≤ 10³
  * both stay under 2⁶³. Past that, swap the products to DECIMAL(38,0).
  *
  * Scale shape: the postings build is ONE shuffle of the token stream
  * on (doc, token); the query side (a few terms per query) broadcasts;
  * df is computed over the postings RESTRICTED to query terms (never
  * the full vocabulary); scoring aggregates on (qid, doc) and the
  * top-k is one ranking window per query.
  *
  * [[bm25TopK]] builds the postings in-flight (a correctness/one-shot
  * form); the [[PostingsIndex]] lifecycle below persists them so a
  * serving system pays the token-stream shuffle ONCE at index time —
  * build → save → append-as-new-files → load → [[bm25SearchIndex]],
  * the same contract as the PQ/band/Bloom/IVF/label-store families.
  */
object Retrieval {

  /** Tokenized postings for a corpus slice: (doc_id, dl, token, tf) —
    * one row per distinct (doc, token), aggregated in ONE shuffle of
    * the token stream.
    */
  private def tokenize(corpus: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val toks = split(col(textCol), " ")
    corpus
      .select(col(idCol).as("doc_id"), toks.as("toks"),
        size(toks).cast("long").as("dl"))
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("token"))
      .groupBy(col("doc_id"), col("dl"), col("token"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Stable token → partition bucket: xxhash64 (engine-pinned, seed 42)
    * mod nBuckets. Build, append, and serve must agree, so the params
    * row stores nBuckets and every path derives the bucket through this
    * one function.
    */
  private def tokenBucket(token: org.apache.spark.sql.Column,
      nBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(token), lit(nBuckets.toLong)).cast("int")

  /** A stored-or-in-memory inverted index: `postings` is (bucket, token,
    * doc_id, dl, tf); `stats` is corpus-stats DELTA rows (n, t) — the
    * live totals are their SUM, so an append extends the stats by
    * writing one new row instead of rewriting a total (same
    * additive-state idea as the q130 sketch partitions). `nBuckets`
    * travels with the index so probe-side bucketing can never diverge
    * from how the files were partitioned.
    */
  final case class PostingsIndex(postings: DataFrame, stats: DataFrame,
      nBuckets: Int)

  /** Tokenize and aggregate the corpus into a fresh index — the ONE
    * token-stream shuffle of the lifecycle. (bucket, token, doc_id, dl,
    * tf): `bucket` is the token's [[tokenBucket]], what the stored form
    * partitions by so a serve scan prunes to its terms' buckets.
    */
  def buildPostingsIndex(corpus: DataFrame, idCol: String, textCol: String,
      nBuckets: Int = 64): PostingsIndex = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val posts = tokenize(corpus, idCol, textCol)
      .withColumn("bucket", tokenBucket(col("token"), nBuckets))
    val stats = corpus.select(col(idCol),
        size(split(col(textCol), " ")).cast("long").as("dl"))
      .agg(count(lit(1)).as("n"), sum(col("dl")).as("t"))
    PostingsIndex(posts, stats, nBuckets)
  }

  /** Persist: postings PARTITIONED BY bucket (a query's serve scan reads
    * only its terms' buckets), stats as delta rows, nBuckets as a
    * one-row params parquet so load/append can only bucket the way the
    * index was built.
    */
  def savePostingsIndex(index: PostingsIndex, dir: String): Unit = {
    val spark = index.postings.sparkSession
    Stores.postings.clearLedger(spark, dir)
    StoreFiles.clusterForWrite(index.postings, "bucket")
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/postings")
    index.stats.write.mode("overwrite").parquet(s"$dir/stats")
    StoreFiles.writeParams(spark, dir,
      Seq("n_buckets" -> index.nBuckets.toString))
  }

  /** The postings + stats DELTA a batch of NEW documents contributes to
    * a stored index: only the batch is tokenized, bucketed with the
    * index's OWN nBuckets (read from the params file — a mismatched
    * bucketing can't happen). Shared by [[appendPostingsIndex]] (batch
    * append-as-new-files) and the streaming twin
    * ([[graft.streaming.DocumentStreams.postingsIngestBatch]], which
    * writes the same delta to the micro-batch's own partition).
    */
  def postingsDelta(spark: SparkSession, dir: String,
      batch: DataFrame, idCol: String, textCol: String): PostingsIndex = {
    val nBuckets = StoreFiles.readParams(spark, dir)("n_buckets").toInt
    PostingsIndex(
      tokenize(batch, idCol, textCol)
        .withColumn("bucket", tokenBucket(col("token"), nBuckets)),
      batch.select(col(idCol),
          size(split(col(textCol), " ")).cast("long").as("dl"))
        .agg(count(lit(1)).as("n"), sum(col("dl")).as("t")),
      nBuckets)
  }

  /** Incrementally add a batch of NEW documents to a stored index:
    * tokenize ONLY the batch ([[postingsDelta]]), append its postings
    * as new files to the bucket-partitioned table, and append one stats
    * delta row. Existing files are never rewritten. Ids must be new —
    * re-appending a stored doc_id would double its postings (same
    * disjoint-ids contract as the band/PQ appends).
    */
  def appendPostingsIndex(spark: SparkSession, dir: String,
      batch: DataFrame, idCol: String, textCol: String): Unit = {
    val delta = postingsDelta(spark, dir, batch, idCol, textCol)
    StoreFiles.clusterForWrite(delta.postings, "bucket")
      .write.mode("append").partitionBy("bucket").parquet(s"$dir/postings")
    delta.stats.write.mode("append").parquet(s"$dir/stats")
  }

  /** Delete documents from a stored index — the LSM tombstone path
    * (committed postings files are NEVER rewritten; that's what
    * [[compactPostingsIndex]] is for). The delete is ONE append write
    * of (doc_id, dl) tombstone rows: dl travels with the tombstone so
    * the serve-side stats adjustment (live N, T must shrink with the
    * deleted docs) is a tiny aggregate over the tombstone relation —
    * never a postings scan at serve, and no negative stats rows to
    * keep consistent with a second write. Ids are restricted to docs
    * actually live in the index (semi join against the stored
    * doc-lengths), so deleting an absent id is a no-op, and
    * [[StoreFiles.appendTombstones]] drops already-tombstoned ids, so
    * the delete is idempotent.
    *
    * Cost shape: one column-pruned scan of the stored postings'
    * (doc_id, dl) pair — the price of not maintaining a separate
    * doc-length table. A deployment deleting constantly would add one;
    * nightly GDPR batches amortize the scan across the batch.
    */
  def deleteFromPostingsIndex(spark: SparkSession, dir: String,
      ids: DataFrame, idCol: String): Unit = {
    val victims = spark.read.parquet(s"$dir/postings")
      .select(col("doc_id"), col("dl")).distinct()
      .join(ids.select(col(idCol).as("doc_id")).distinct(),
        Seq("doc_id"), "left_semi")
    StoreFiles.appendTombstones(spark, s"$dir/tombstones", victims,
      "doc_id")
  }

  /** Load a stored index. With tombstones present, the served relations
    * are delete-adjusted LAZILY: postings anti-join the tombstoned
    * doc_ids (the bucket partition-pruning filter still reaches the
    * scan below the join), and the stats deltas gain ONE negative row
    * aggregated from the tombstones' (count, Σdl). Stores that never
    * saw a delete load exactly as before — same plan, same counters.
    */
  def loadPostingsIndex(spark: SparkSession, dir: String): PostingsIndex =
    mkPostingsIndex(spark, dir, Stores.postings.raw(spark, dir))

  /** Assemble a [[PostingsIndex]] under a per-sub reader (raw or
    * snapshot). The ledger fold is the family's own: postings
    * anti-join the tombstoned doc_ids (bucket pruning still reaches
    * the scan below the join), and the stats deltas gain ONE negative
    * row aggregated from the tombstones' (count, sum dl).
    */
  private def mkPostingsIndex(spark: SparkSession, dir: String,
      rd: String => DataFrame): PostingsIndex = {
    val raw = PostingsIndex(rd("postings"), rd("stats"),
      StoreFiles.readParams(spark, dir)("n_buckets").toInt)
    Stores.postings.ledgerRows(spark, dir).fold(raw) { tombs =>
      raw.copy(
        postings = raw.postings.join(broadcast(tombs.select(col("doc_id"))),
          Seq("doc_id"), "left_anti"),
        stats = raw.stats.unionByName(tombs.agg(
          (count(lit(1)) * lit(-1L)).as("n"),
          (coalesce(sum(col("dl")), lit(0L)) * lit(-1L)).as("t"))))
    }
  }

  // ------------------------------------------------------------------
  // Snapshot manifests — reader isolation for the store. The plain
  // lifecycle above is single-WRITER safe but not single-READER safe:
  // a serve that lists the directory while an append is mid-write sees
  // a TORN batch (some of its files, not all) — wrong df counts, wrong
  // stats. The manifest closes that: every committed batch appends one
  // manifest row-file LISTING its data files (written AFTER the data),
  // and a snapshot load reads exactly the union of manifested files —
  // an append that died mid-write left data files but no manifest row,
  // so no reader ever sees it. This is the core of the Iceberg/Delta
  // commit idea reduced to its minimum: the manifest write is the
  // commit point, and it is one file. (The tombstones ledger needs no
  // manifest — a delete is already a single-append-file commit.)
  // ------------------------------------------------------------------

  /** [[savePostingsIndex]] plus the initial manifest: the full data-file
    * listing becomes manifest generation 0 (replacing any previous
    * manifest, like the save replaces the data).
    */
  def savePostingsIndexCommitted(index: PostingsIndex, dir: String): Unit =
    Stores.postings.saveCommitted(index.postings.sparkSession, dir) {
      savePostingsIndex(index, dir)
    }

  /** [[appendPostingsIndex]] with a COMMIT POINT: the batch's data files
    * land first, then ONE manifest row-file listing exactly those files
    * — the single-writer contract makes the before/after listing diff
    * the batch's files. A crash before the manifest write leaves the
    * data files invisible to every [[loadPostingsIndexSnapshot]] reader
    * (re-run the append; the orphaned files are dead weight until
    * `Stores.postings.vacuum` or the next compaction). With
    * `expectedGen` set (from `Stores.postings.gen`) the commit is OPTIMISTIC:
    * it refuses if another writer committed in between, leaving this
    * batch's files as reclaimable orphans — redo the append against the
    * new snapshot. Returns the committed generation.
    */
  def appendPostingsIndexCommitted(spark: SparkSession, dir: String,
      batch: DataFrame, idCol: String, textCol: String,
      expectedGen: Option[Long] = None): Long =
    Stores.postings.appendCommitted(spark, dir, expectedGen) {
      appendPostingsIndex(spark, dir, batch, idCol, textCol)
    }

  /** [[appendPostingsIndexCommitted]] made EXACTLY-ONCE for a
    * replayable writer (foreachBatch): `batchId` rides the manifest
    * commit as a ledger header; a re-delivered id writes nothing and
    * returns None ([[StoreFiles.commitAppendIdempotent]] — the ledger
    * survives [[StoreFamily.compactL0]]'s re-base).
    */
  def appendPostingsIndexCommittedIdempotent(spark: SparkSession,
      dir: String, batch: DataFrame, idCol: String, textCol: String,
      batchId: Long): Option[Long] =
    Stores.postings.appendCommittedIdempotent(spark, dir, batchId) {
      appendPostingsIndex(spark, dir, batch, idCol, textCol)
    }

  /** Load exactly the COMMITTED file set — the union of every manifest
    * row — so a concurrent or torn append is never visible. With
    * `asOf`, only generations ≤ that bound: TIME TRAVEL to the index as
    * it stood after that commit (generation 0 is the save; each
    * committed append adds one). basePath keeps the bucket partition
    * column (and its pruning) intact when reading explicit leaf files.
    * Tombstones apply as in [[loadPostingsIndex]] — the delete ledger
    * is deliberately UNVERSIONED, so deletes are retroactive across
    * snapshots: a forgotten document must not resurface through a
    * historical read (the right-to-be-forgotten reading of time
    * travel; Delta/Iceberg choose the opposite).
    */
  def loadPostingsIndexSnapshot(spark: SparkSession, dir: String,
      asOf: Option[Long] = None): PostingsIndex =
    mkPostingsIndex(spark, dir, Stores.postings.snapshot(spark, dir, asOf))

  /** FILTERED-SEARCH load: the committed snapshot restricted to
    * candidate documents with `doc_id ∈ [lo, hi]`, with ZONE-MAP file
    * skipping — committed postings files whose per-file (min, max)
    * doc_id envelope (recorded in the manifest at commit time from the
    * parquet footers) provably misses the range never enter the scan's
    * file list. Because batches commit as their own files, an
    * id-correlated ingest (the normal case: ids grow with time) gives
    * every commit a tight envelope, so a range serve touches only the
    * commits it can hit — at 100 TB the difference between scanning
    * the probed buckets of the whole store and of the matching
    * commits. The range predicate is also applied in-plan; stats only
    * prune, never decide.
    *
    * Scoring contract (the [[graft.operators.Similarity.pqSearchIndex]]
    * `corpusFilter` semantics, on this family): candidates are
    * restricted BEFORE scoring — the top-k ranks allowed documents
    * only, which a post-filtered k-limited result cannot give — while
    * the stored global stats (N, total length) still describe the
    * WHOLE index, so idf/avgdl keep their corpus-level meaning. df
    * counts restricted hits, as in every serve (df is hit-derived).
    */
  def loadPostingsIndexSnapshotRange(spark: SparkSession, dir: String,
      lo: Long, hi: Long): PostingsIndex = {
    val ranged = Stores.postings.snapshotSkipping(spark, dir, "doc_id",
      lo, hi)
    val full = Stores.postings.snapshot(spark, dir)
    mkPostingsIndex(spark, dir,
      sub => if (sub == "postings") ranged(sub) else full(sub))
  }

  /** CHANGE FEED over the commit log — the incremental-consumer read
    * (Delta's table_changes / Iceberg's incremental scan, reduced to
    * the manifest): the documents ADDED in each committed generation g
    * with fromGen < g ≤ toGen, as distinct (gen, doc_id, dl) rows read
    * from ONLY that window's manifested postings files — a downstream
    * consumer (index replicator, materialized-view refresher, audit)
    * catches up from generation f to t without rescanning the store.
    * Deletes do NOT appear here: they ride the tombstone ledger, which
    * a consumer reads separately ([[graft.operators.StoreFiles
    * .readTombstones]]); additions-only matches the append-only commit
    * semantics. Cost is proportional to the WINDOW's data, not the
    * store: the scan list is exactly the window's manifest rows.
    */
  def postingsAdditions(spark: SparkSession, dir: String,
      fromGen: Long, toGen: Long): DataFrame = {
    require(fromGen <= toGen,
      s"postingsAdditions: fromGen $fromGen > toGen $toGen")
    val windows = StoreFiles.manifestEntries(spark, dir)
      .filter { case (g, _) => g > fromGen && g <= toGen }
      .map { case (g, ps) => (g, ps.filter(_.contains("/postings/"))) }
      .filter(_._2.nonEmpty)
    val perGen = windows.map { case (g, ps) =>
      spark.read.option("basePath", s"$dir/postings")
        .parquet(ps: _*)
        .select(lit(g).as("gen"), col("doc_id"), col("dl"))
        .distinct()
    }
    if (perGen.isEmpty)
      spark.emptyDataFrame
        .select(lit(0L).as("gen"), lit(0L).as("doc_id"), lit(0L).as("dl"))
        .limit(0)
    else perGen.reduce(_.unionByName(_))
  }

  /** Nightly small-file compaction for a stored postings index: one
    * file per bucket partition, and the K stats delta rows collapsed
    * into their single-row sum, both via the guarded temp-swap
    * ([[graft.operators.StoreFiles.swapIn]]). Tombstones (if any) are
    * APPLIED here — deleted docs' postings physically dropped, their
    * (count, Σdl) folded into the single stats row, the tombstones
    * directory removed — so the nightly pass also bounds tombstone
    * growth. Serve results are unchanged throughout (the loaded
    * relations are equal before and after); params are untouched.
    *
    * Sequencing note (single-nightly-writer contract, like every
    * `compact*`): the postings swap and the stats swap each leave a
    * consistent store if the process dies between them (tombstones
    * still present ⇒ the load-time adjustment still applies, and
    * anti-joining already-removed postings is a no-op) — the ONE
    * unsafe window is between the stats swap and the tombstone
    * delete, where a serve would subtract the deleted docs twice.
    * Rerunning the compaction from the top repairs nothing by itself
    * (the stats row is already net), so a crash there needs the
    * tombstone directory removed manually before serving resumes.
    */
  def compactPostingsIndex(spark: SparkSession, dir: String): Unit =
    Stores.postings.compactScaffold(spark, dir) { (manifested, tombs) =>
      if (manifested) {
        val snap = loadPostingsIndexSnapshot(spark, dir)
        // snapshot already applies tombstones — use its relations as-is
        Map("postings" -> snap.postings.localCheckpoint(),
          "stats" -> snap.stats.localCheckpoint())
      } else {
        val rawP = spark.read.parquet(s"$dir/postings")
        val rawS = spark.read.parquet(s"$dir/stats")
        Map(
          "postings" -> tombs.fold(rawP)(t =>
            rawP.join(broadcast(t.select(col("doc_id"))),
              Seq("doc_id"), "left_anti")),
          "stats" -> tombs.fold(rawS)(t => rawS.unionByName(t.agg(
            (count(lit(1)) * lit(-1L)).as("n"),
            (coalesce(sum(col("dl")), lit(0L)) * lit(-1L)).as("t")))))
      }
    } {
      case ("postings", src, tmp) =>
        src.repartition(col("bucket"))
          .write.partitionBy("bucket").parquet(tmp)
      case (_, src, tmp) =>
        src.agg(sum(col("n")).as("n"), sum(col("t")).as("t"))
          .coalesce(1).write.parquet(tmp)
    }

  /** The shared scoring tail: `hit` is postings already restricted to
    * query terms — (token, doc_id, dl, tf); `qterms` is the exploded
    * (qid, token) query side; `stats` ONE row (n, t). df is counted over
    * `hit` only (never the full vocabulary), the query side and df
    * broadcast, stats cross-joins as a broadcast single row (the q47
    * scalar shape), and the top-k is one ranking window per query.
    */
  private def scoreHits(hit: DataFrame, qterms: DataFrame,
      stats: DataFrame, k: Int): DataFrame = {
    val dfreq = hit.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val a = (lit(2L) * col("n") - lit(2L) * col("df") + lit(1L)) *
      lit(22L) * col("tf") * col("t")
    val b = (lit(2L) * col("df") + lit(1L)) *
      (lit(10L) * col("tf") * col("t") + lit(3L) * col("t") +
        lit(9L) * col("dl") * col("n"))
    val termMicro = floor(a.cast("double") / b.cast("double") *
      lit(1000000.0)).cast("long")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    hit.join(broadcast(dfreq), "token")
      .join(broadcast(qterms), "token")
      .crossJoin(broadcast(stats))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(termMicro).as("score_micro"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("doc_id"), col("score_micro"),
        col("rn").cast("int").as("rn"))
  }

  /** BM25 top-k documents per query, postings built in-flight.
    *
    * @param corpus  (idCol, textCol) documents; whitespace-tokenized
    * @param queries (qidCol, qtermsCol: array<string>) — terms are
    *                matched as exact tokens; duplicate terms should be
    *                pre-distinct'd by the caller (each occurrence would
    *                score again)
    * @return (qid, doc_id, score_micro, rn) — top `k` docs per query by
    *         (score desc, doc_id asc), score in 1e-6 units
    */
  def bm25TopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, textCol: String,
      qidCol: String, qtermsCol: String, k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val docs = corpus.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).cast("long").as("dl"))
    val stats = docs.agg(count(lit(1)).as("n"), sum(col("dl")).as("t"))
    val qterms = queries.select(col(qidCol).as("qid"),
      explode(col(qtermsCol)).as("token"))
    // restrict postings to query terms FIRST (broadcast semi join), so
    // df is only ever counted for the handful of queried tokens
    val hit = tokenize(corpus, idCol, textCol).join(
      broadcast(qterms.select(col("token")).distinct()),
      Seq("token"), "left_semi")
    scoreHits(hit, qterms, stats, k)
  }

  /** Okapi BM25 with the REAL logarithmic idf — the companion to
    * [[bm25TopK]]'s documented log-free variant, restoring Okapi's
    * multi-term semantics (rare terms damped logarithmically, not
    * ~N/df). idf uses the non-negative Robertson/Spärck Jones form
    *
    *   idf(t) = ln(1 + (N − df + ½)/(df + ½))
    *
    * computed ONCE on the driver with [[StrictMath]] (fdlibm,
    * bit-identical on every JVM) over the per-queried-token df relation
    * — a collect bounded by the query side's distinct terms, the same
    * driver-literal pattern as IVF centroid training. Neither engine
    * ever runs its own `ln`: the micro-scaled idf values join in as
    * literals (and render into the DuckDB mirror as a VALUES table).
    *
    * Per-term score: floor(idf_micro · tf_norm) with the exact rational
    * tf_norm = 22·tf·T / (10·tf·T + 3·T + 9·dl·N) (k1 = 6/5, b = 3/4 —
    * the same clearing as [[bm25TopK]]'s B), evaluated as
    * (idf_micro · (22·tf·T)) / den in DOUBLE — each factor is an exact
    * BIGINT below 2⁵³ at any realistic scale (22·tf·T ≤ 2.2·10¹² at
    * T = 10⁸, tf = 10³), and the two IEEE ops are correctly rounded,
    * so the floor is engine-identical. Per-doc score = exact integer
    * sum of term micro-scores.
    *
    * @return (qid, doc_id, score_micro, rn) — top `k` per query by
    *         (score desc, doc_id asc), score in 1e-6·idf-nat units
    */
  /** The driver-computed pieces of [[bm25TopKLog]]: corpus totals
    * (N, T) and the micro-scaled StrictMath idf per queried token
    * (sorted by token). Public so the DuckDB mirror generator replays
    * the IDENTICAL literals.
    */
  def bm25LogIdf(corpus: DataFrame, queries: DataFrame,
      idCol: String, textCol: String,
      qtermsCol: String): (Long, Long, Seq[(String, Long)]) = {
    val docs = corpus.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).cast("long").as("dl"))
    val statsRow = docs.agg(count(lit(1)), sum(col("dl"))).head()
    val (n, t) = (statsRow.getLong(0), statsRow.getLong(1))
    val terms = queries.select(explode(col(qtermsCol)).as("token")).distinct()
    // df only for queried tokens; the collect is bounded by the query
    // side's distinct terms (which broadcasts anyway)
    val idf = tokenize(corpus, idCol, textCol)
      .join(broadcast(terms), Seq("token"), "left_semi")
      .groupBy(col("token")).agg(count(lit(1)).as("df"))
      .collect().map { r =>
        val df = r.getLong(1)
        val w = StrictMath.log(1.0 + (n - df + 0.5) / (df + 0.5))
        (r.getString(0), Math.round(w * 1e6))
      }.toSeq.sortBy(_._1)
    (n, t, idf)
  }

  def bm25TopKLog(corpus: DataFrame, queries: DataFrame,
      idCol: String, textCol: String,
      qidCol: String, qtermsCol: String, k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val (n, t, idf) = bm25LogIdf(corpus, queries, idCol, textCol, qtermsCol)
    val qterms = queries.select(col(qidCol).as("qid"),
      explode(col(qtermsCol)).as("token"))
    val hit = tokenize(corpus, idCol, textCol).join(
      broadcast(qterms.select(col("token")).distinct()),
      Seq("token"), "left_semi")
    val idfDf = idf.toDF("token", "idf_micro")
    val den = lit(10L) * col("tf") * lit(t) + lit(3L) * lit(t) +
      lit(9L) * col("dl") * lit(n)
    val termMicro = floor(
      (col("idf_micro").cast("double") *
        (lit(22L) * col("tf") * lit(t)).cast("double")) /
        den.cast("double")).cast("long")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    hit.join(broadcast(idfDf), "token")
      .join(broadcast(qterms), "token")
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(termMicro).as("score_micro"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("doc_id"), col("score_micro"),
        col("rn").cast("int").as("rn"))
  }

  /** BM25 with PSEUDO-RELEVANCE-FEEDBACK query expansion — the
    * Rocchio-weighted reading of RM3 (Rocchio 1971; Abdul-Jaleel et
    * al.'s RM3 is the probabilistic form), kept integer-exact:
    *
    *  1. round 1: score the original terms with the log-free BM25
    *     ([[bm25TopK]]'s formula) and keep each query's top `fbDocs`
    *     FEEDBACK documents;
    *  2. expansion: candidate terms are the feedback docs' tokens minus
    *     the original terms, weighted by their summed tf across the
    *     feedback docs (an exact integer); the top `fbTerms` per query
    *     (weight desc, token asc) join the query;
    *  3. round 2: rescore with per-term weights — original terms
    *     multiplied by `origWeight`, expansion terms by `expWeight`
    *     (the Rocchio α/β as integer micro-multipliers, default 10:4)
    *     — and return the weighted top `k`.
    *
    * Every stage is relational and deterministic: term weights are
    * integer sums, both rankings break ties on (value desc, key asc),
    * and the round-2 score is Σ w·termMicro — exact BIGINT products
    * (termMicro < 2⁴² at any realistic scale, so the weighted sum
    * stays far under 2⁶³).
    *
    * Scale shape: ONE postings build shared by both rounds (the
    * token-stream shuffle; localCheckpoint'd so round 2 reuses round
    * 1's materialization instead of re-tokenizing), query sides always
    * broadcast, df only ever counted for queried/expanded tokens, and
    * the expansion candidate set is bounded by fbDocs·|doc| per query.
    */
  def bm25Expand(corpus: DataFrame, queries: DataFrame,
      idCol: String, textCol: String, qidCol: String, qtermsCol: String,
      k: Int = 10, fbDocs: Int = 10, fbTerms: Int = 5,
      origWeight: Long = 10L, expWeight: Long = 4L): DataFrame = {
    require(k >= 1 && fbDocs >= 1 && fbTerms >= 0,
      s"need k >= 1, fbDocs >= 1, fbTerms >= 0; got $k/$fbDocs/$fbTerms")
    require(origWeight >= 1 && expWeight >= 0,
      s"need origWeight >= 1, expWeight >= 0; got $origWeight/$expWeight")
    val docs = corpus.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).cast("long").as("dl"))
    val stats = docs.agg(count(lit(1)).as("n"), sum(col("dl")).as("t"))
    val qterms = queries.select(col(qidCol).as("qid"),
      explode(col(qtermsCol)).as("token"))
    // one postings build for both rounds
    val postings = tokenize(corpus, idCol, textCol).localCheckpoint()
    val hit1 = postings.join(
      broadcast(qterms.select(col("token")).distinct()),
      Seq("token"), "left_semi")
    val fb = scoreHits(hit1, qterms, stats, fbDocs)
      .select(col("qid"), col("doc_id"))
    // candidate expansion terms: feedback docs' tokens minus the
    // original terms, weighted by summed tf (exact integer)
    val expSel = postings.join(broadcast(fb), Seq("doc_id"))
      .join(broadcast(qterms.select("qid", "token")),
        Seq("qid", "token"), "left_anti")
      .groupBy(col("qid"), col("token"))
      .agg(sum(col("tf")).as("wsum"))
      .withColumn("ern", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("wsum").desc, col("token").asc)))
      .filter(col("ern") <= fbTerms)
      .select(col("qid"), col("token"), lit(expWeight).as("wq"))
    // materialize the tiny weighted query side ONCE: it feeds three
    // places in round 2 (the semi join, the score join, and df), and
    // without the cut each would re-plan the whole round-1 subtree —
    // three extra executions of the feedback scoring
    val q2 = qterms.select(col("qid"), col("token"),
        lit(origWeight).as("wq"))
      .unionByName(expSel)
      .localCheckpoint()
    val hit2 = postings.join(
      broadcast(q2.select(col("token")).distinct()),
      Seq("token"), "left_semi")
    scoreHitsWeighted(hit2, q2, stats, k)
  }

  /** HARD-NEGATIVE mining for retrieval-model training (the BM25-
    * negatives recipe of DPR, Karpukhin et al. EMNLP'20): a hard
    * negative is a document the LEXICAL ranker scores highly that the
    * query's EMBEDDING disagrees with — lexically plausible,
    * semantically far — which is exactly the contrastive signal a
    * dense retriever trains on. Takes a (qid, doc_id, rn) run whose
    * qids share the vector id space, attaches the floor-micro
    * quantized cosine between query and doc embeddings, and keeps
    * pairs below `simThresholdMicro` (self-pairs dropped). The run
    * broadcasts onto the vector scan twice; the corpus never shuffles.
    *
    * @return (qid, doc_id, rn, sim_micro < threshold)
    */
  def hardNegatives(run: DataFrame, vectors: DataFrame, idCol: String,
      vecCol: String, simThresholdMicro: Long): DataFrame = {
    val dot = org.apache.spark.sql.graft.VectorExpressions.dot_long _
    val vm = vectors.select(col(idCol).as("id"),
      Similarity.quantize(col(vecCol)).as("vm"))
    run.filter(col("qid") =!= col("doc_id"))
      .join(broadcast(vm.select(col("id").as("qid"), col("vm").as("qv"))),
        Seq("qid"))
      .join(vm.select(col("id").as("doc_id"), col("vm").as("dv")),
        Seq("doc_id"))
      .withColumn("sim_micro",
        floor(dot(col("qv"), col("dv")).cast("double") * lit(1000000.0) /
          (sqrt(dot(col("qv"), col("qv")).cast("double")) *
            sqrt(dot(col("dv"), col("dv")).cast("double")))).cast("long"))
      .filter(col("sim_micro") < simThresholdMicro)
      .select(col("qid"), col("doc_id"), col("rn"), col("sim_micro"))
  }

  /** MMR diversified RE-RANKING (Maximal Marginal Relevance, Carbonell
    * & Goldstein SIGIR'98) — the anti-redundancy re-ranker: picks are
    * greedy by
    *
    *   mmr(c) = λ·rel(c) − (1−λ)·max_{s ∈ selected} sim(c, s)
    *
    * so each next result is relevant AND unlike what's already shown.
    * Deterministic integer form: relevance is rank-linear
    * (1e6 − (rn−1)·1e5 micro — scale-free, no cross-run calibration),
    * similarity is the floor-micro quantized cosine of the docs'
    * embeddings, λ = lambdaTenths/10, ties break on doc_id. The greedy
    * loop UNROLLS into k relational steps (argmax = one ranking window
    * per step over ≤|run| rows per query; each step localCheckpoints
    * so plans stay flat) — no driver iteration over queries, no UDFs;
    * candidate pair sims are |run|² per query, bounded by k'·k' of the
    * base ranker, never corpus-sized.
    *
    * @param run     (qid, doc_id, rn) — the base ranking to diversify
    * @param vectors (idCol, vecCol) — embeddings; candidates without a
    *                vector are dropped (inner-join contract)
    * @return (qid, doc_id, pick [1..k], mmr_micro at selection time)
    */
  def mmrRerank(run: DataFrame, vectors: DataFrame, idCol: String,
      vecCol: String, k: Int = 5, lambdaTenths: Int = 7): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(lambdaTenths >= 0 && lambdaTenths <= 10,
      s"lambdaTenths must be in [0, 10], got $lambdaTenths")
    // ONE grouped pass instead of the former k-step loop of
    // join + window + anti-join with two pins per step (~3 jobs and two
    // materializations per pick at any scale): each query's candidate
    // list is BOUNDED by the top-k run contract (|run ∩ vectors| per
    // qid ≤ the run's k), so the greedy MMR selection is a
    // bounded-per-group computation — the same bounded-driver-literal
    // reasoning as the components fast path, but distributed per group
    // (groups stay embarrassingly parallel; nothing collects to the
    // driver). Arithmetic is the exact former expression chain:
    // s(a,b) = floor(dotL(va,vb)·1e6 / (sqrt(dotL(va,va)) ·
    // sqrt(dotL(vb,vb)))) on IEEE doubles (bit-identical in the JVM),
    // mmr = λ·rel − (10−λ)·max_sim over picked, pick order
    // (mmr desc, doc_id asc) — spec-pinned equal to the loop form.
    val lam = lambdaTenths.toLong
    val mmrUdf = udf((cands: Seq[org.apache.spark.sql.Row]) => {
      val n = cands.length
      val ids = new Array[Long](n)
      val rel = new Array[Long](n)
      val vs = new Array[Array[Long]](n)
      var i = 0
      while (i < n) {
        val r = cands(i)
        ids(i) = r.getLong(0); rel(i) = r.getLong(1)
        vs(i) = r.getSeq[Long](2).toArray
        i += 1
      }
      def dotL(x: Array[Long], y: Array[Long]): Long = {
        var s = 0L; var j = 0
        while (j < x.length) { s += x(j) * y(j); j += 1 }
        s
      }
      val norm = vs.map(v => math.sqrt(dotL(v, v).toDouble))
      def sim(a: Int, b: Int): Long =
        math.floor(dotL(vs(a), vs(b)).toDouble * 1000000.0 /
          (norm(a) * norm(b))).toLong
      val alive = Array.fill(n)(true)
      // UNFLOORED max cosine to the selected set (sims can be negative;
      // the former loop's 0 applies only before anything is selected —
      // its left-join coalesce(0) never fires once a pick exists,
      // because every a≠b pair carries a sim row)
      val maxSim = Array.fill(n)(Long.MinValue)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
      var step = 1
      var left = n
      while (step <= k && left > 0) {
        var best = -1; var bestMmr = 0L
        var c = 0
        while (c < n) {
          if (alive(c)) {
            val ms = if (maxSim(c) == Long.MinValue) 0L else maxSim(c)
            val mmr = lam * rel(c) - (10L - lam) * ms
            if (best < 0 || mmr > bestMmr ||
                (mmr == bestMmr && ids(c) < ids(best))) {
              best = c; bestMmr = mmr
            }
          }
          c += 1
        }
        out += ((ids(best), step, bestMmr))
        // the former anti-join removed EVERY row of the picked doc_id
        var d = 0
        while (d < n) {
          if (alive(d) && ids(d) == ids(best)) { alive(d) = false; left -= 1 }
          d += 1
        }
        d = 0
        while (d < n) {
          if (alive(d)) {
            val s = sim(d, best)
            if (s > maxSim(d)) maxSim(d) = s
          }
          d += 1
        }
        step += 1
      }
      out.toSeq
    })
    val vm = vectors.select(col(idCol).as("doc_id"),
      Similarity.quantize(col(vecCol)).as("vm"))
    run.select(col("qid"), col("doc_id"),
        (lit(1000000L) - (col("rn") - 1) * lit(100000L)).as("rel_micro"))
      .join(vm, Seq("doc_id"))
      .groupBy(col("qid"))
      .agg(collect_list(struct(col("doc_id"), col("rel_micro"),
        col("vm"))).as("cands"))
      .select(col("qid"), explode(mmrUdf(col("cands"))).as("p"))
      .select(col("qid"), col("p._1").as("doc_id"),
        col("p._2").as("pick"), col("p._3").as("mmr_micro"))
  }

  /** KWIC SNIPPET extraction — the keyword-in-context display pass a
    * search result page runs after ranking: for each hit, the token
    * window of width `window` around the EARLIEST occurrence of any
    * query term (deterministic: min position over all terms), rebuilt
    * as text. Relational end-to-end: the corpus's positional stream
    * joins the broadcast query terms, restricts to the broadcast hit
    * pairs, takes one min per hit, and slices the document's token
    * array — the corpus is scanned once and never shuffled (hits and
    * terms broadcast).
    *
    * @param run (qid, doc_id, rn) — the ranked hits to decorate
    * @return (qid, doc_id, rn, first_pos [1-based], snippet)
    */
  def kwicSnippets(run: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, textCol: String, qidCol: String, qtermsCol: String,
      window: Int = 3): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val qterms = queries.select(col(qidCol).as("qid"),
      explode(col(qtermsCol)).as("token"))
    // the positional stream does NOT carry the doc array (a long doc
    // would duplicate it per matched occurrence); the tiny per-hit
    // first-position relation broadcasts back onto a second corpus
    // scan instead
    val tok = corpus.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "token")))
    val firstPos = tok
      .join(broadcast(qterms), Seq("token"))
      .join(broadcast(run.select(col("qid"), col("doc_id"))),
        Seq("qid", "doc_id"), "left_semi")
      .groupBy(col("qid"), col("doc_id"))
      .agg((min(col("pos")) + 1).as("first_pos"))
      .join(broadcast(run), Seq("qid", "doc_id"))
    val start = greatest(col("first_pos") - window, lit(1))
    corpus.select(col(idCol).as("doc_id"),
        split(col(textCol), " ").as("arr"))
      .join(broadcast(firstPos), Seq("doc_id"))
      .select(col("qid"), col("doc_id"), col("rn"),
        col("first_pos").cast("int").as("first_pos"),
        concat_ws(" ", slice(col("arr"), start,
          col("first_pos") + window - start + 1)).as("snippet"))
  }

  /** Search-time RESULT DEDUP — suppress lower-ranked hits that carry
    * the same content signature as a higher-ranked hit in the same
    * result list (the SERP-dedup every production search runs; without
    * it a duplicated document fills the page). `docSig` maps doc_id →
    * an equality signature (e.g. the normalized-text fingerprint for
    * exact dups, or a band key for near-dups); within each (qid, sig)
    * group only the best-ranked survivor stays, and survivors re-rank
    * densely. Two windows over k-row-per-query relations — the corpus
    * is never touched beyond the signature join.
    *
    * @return (qid, doc_id, rn_orig, rn) — rn dense over survivors
    */
  def dedupResults(run: DataFrame, docSig: DataFrame): DataFrame = {
    val keepW = Window.partitionBy(col("qid"), col("sig"))
    val rerankW = Window.partitionBy(col("qid")).orderBy(col("rn_orig").asc)
    run.select(col("qid"), col("doc_id"), col("rn").as("rn_orig"))
      .join(docSig.select(col("doc_id"), col("sig")), Seq("doc_id"))
      .withColumn("keep_rn", min(col("rn_orig")).over(keepW))
      .filter(col("rn_orig") === col("keep_rn"))
      .withColumn("rn", row_number().over(rerankW).cast("int"))
      .select(col("qid"), col("doc_id"), col("rn_orig"), col("rn"))
  }

  /** RECIPROCAL RANK FUSION (Cormack et al. SIGIR'09) — the standard
    * hybrid-search combiner: each run contributes 1/(kRrf + rank) per
    * (query, doc), fused docs rank by the summed score. Kept
    * integer-exact as micro-units via INTEGER division
    * (1e6 DIV (kRrf + rn) — no floating point at all), so fusion is
    * engine- and partitioning-reproducible. Runs are (qid, doc_id, rn)
    * relations — e.g. a BM25 run and an ANN run over the same query
    * set; RRF needs no score calibration between them, which is
    * exactly why it is the hybrid default.
    *
    * Scale shape: rank lists are k rows per query, so the union
    * aggregates tiny relations; one ranking window per query.
    */
  def rrfFuse(runs: Seq[DataFrame], k: Int = 10, kRrf: Int = 60): DataFrame = {
    require(runs.nonEmpty, "rrfFuse: no runs")
    require(k >= 1 && kRrf >= 1, s"need k, kRrf >= 1; got $k/$kRrf")
    val all = runs.map(_.select(col("qid"), col("doc_id"), col("rn")))
      .reduce(_ unionByName _)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("rrf_micro").desc, col("doc_id").asc)
    all
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(expr(s"1000000L div (${kRrf}L + rn)")).as("rrf_micro"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("doc_id"), col("rrf_micro"),
        col("rn").cast("int").as("rn"))
  }

  /** Offline ranking-AGREEMENT metrics between two retrieval runs — the
    * eval harness a ranker change ships with (is the log idf, an
    * expansion round, or a new index changing what users see, and by
    * how much?). Inputs are two (qid, doc_id, rn) runs; output one row
    * per qid of run `a`:
    *
    *   k_a      — run a's result count for the query
    *   n_common — how many of a's docs b also returned (overlap@k)
    *   rank_l1  — Σ |rn_a − rn_b| over the common docs (0 = identical
    *              ordering on the overlap; null when no overlap)
    *
    * One broadcast-friendly equi-join + one aggregation; exact
    * integers throughout.
    */
  /** DCG rank discounts as micro-fixed-point literals:
    * floor(10⁶ / log₂(rank+1)) for rank 1..k. Generated ONCE on the
    * driver (the BM25-log idf-literal discipline) and consumed by both
    * the Spark plan and the DuckDB mirror as the same VALUES table — so
    * no engine evaluates its own transcendental log and the eval below
    * is bit-reproducible. */
  def dcgDiscountMicros(k: Int): Seq[(Int, Long)] =
    (1 to k).map { r =>
      (r, math.floor(1e6 / (StrictMath.log(r + 1.0) / StrictMath.log(2.0)))
        .toLong)
    }

  /** Graded-relevance retrieval eval — nDCG@k and MRR@k per query, in
    * exact integer micro units (Järvelin & Kekäläinen 2002 /
    * Voorhees 1999). Inputs: a run (qid, doc_id, rn ≤ k from a ranking
    * operator) and qrels (qid, doc_id, rel ≥ 0 graded judgments;
    * unjudged run docs count rel = 0, the TREC convention). Output one
    * row per run qid:
    *
    *   n_rel      — judged-relevant count for the query (rel > 0)
    *   dcg_micro  — Σ rel(doc@r) · disc(r) over the run's top k
    *   idcg_micro — the same sum over the IDEAL ordering of the
    *                query's qrels (rel desc, doc_id tiebreak), top k
    *   mrr_micro  — 10⁶ div rank-of-first-relevant (0 if none in k)
    *   ndcg_micro — (dcg · 10⁶) div idcg (0 when idcg = 0)
    *
    * with disc the shared [[dcgDiscountMicros]] literal table. Every
    * step is integer: products, sums, and two floor divisions — any
    * engine replaying the same literals agrees bit-for-bit.
    *
    * Scale shape: one broadcast join of the run against the (tiny)
    * discount table, one keyed join run⋈qrels, one ranking window over
    * qrels partitioned by qid (ideal ordering — judgment lists are
    * bounded per query, so the window partitions are small), and two
    * keyed aggregations. No driver state; everything shuffles on qid.
    *
    * CAVEAT — one row per RUN qid only: a query that is in qrels but
    * for which the run returned nothing is silently absent, so a mean
    * nDCG over this output is inflated relative to the TREC convention
    * (missing queries score 0). Averages you intend to trust should be
    * taken over [[ndcgMrrEvalFull]], which seeds from qrels ∪ run.
    */
  def ndcgMrrEval(run: DataFrame, qrels: DataFrame, k: Int): DataFrame =
    ndcgMrrEvalJoined(run, qrels, k, "left")

  /** [[ndcgMrrEval]] over the FULL query set qrels ∪ run: a judged
    * query the run skipped still gets its row, with dcg_micro = 0,
    * mrr_micro = 0, ndcg_micro = 0 (and its real n_rel/idcg_micro) —
    * the TREC convention, so a mean over this relation is trustworthy.
    * Same plan shape; the final qid join is full-outer instead of
    * left.
    */
  def ndcgMrrEvalFull(run: DataFrame, qrels: DataFrame,
      k: Int): DataFrame =
    ndcgMrrEvalJoined(run, qrels, k, "full")

  private def ndcgMrrEvalJoined(run: DataFrame, qrels: DataFrame,
      k: Int, joinType: String): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = run.sparkSession
    val disc = spark.createDataFrame(dcgDiscountMicros(k))
      .toDF("rn", "disc_micro")
    val judged = qrels.select(col("qid"), col("doc_id"),
      col("rel").cast("long").as("rel"))
    val gain = run.select(col("qid"), col("doc_id"), col("rn"))
      .filter(col("rn") <= k)
      .join(judged, Seq("qid", "doc_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
      .join(broadcast(disc), Seq("rn"))
      .groupBy(col("qid"))
      .agg(sum(col("rel") * col("disc_micro")).as("dcg_micro"),
        min(when(col("rel") > 0L, col("rn"))).as("first_rel"))
    val ideal = judged
      .withColumn("irn", row_number().over(
        Window.partitionBy(col("qid"))
          .orderBy(col("rel").desc, col("doc_id").asc)))
      .join(broadcast(disc.withColumnRenamed("rn", "irn")),
        Seq("irn"), "left")
      .groupBy(col("qid"))
      .agg(count(when(col("rel") > 0L, lit(1))).as("n_rel"),
        sum(when(col("rel") > 0L && col("irn") <= k,
          col("rel") * col("disc_micro")).otherwise(lit(0L)))
          .as("idcg_micro"))
    // the run-absent-qid coalesces exist only on the full path so the
    // one-row-per-run-qid variant keeps its exact original plan
    val full = joinType == "full"
    gain.join(ideal, Seq("qid"), joinType)
      .select(col("qid"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        (if (full) coalesce(col("dcg_micro"), lit(0L))
         else col("dcg_micro")).as("dcg_micro"),
        coalesce(col("idcg_micro"), lit(0L)).as("idcg_micro"),
        coalesce(expr("1000000L div first_rel"), lit(0L)).as("mrr_micro"),
        when(coalesce(col("idcg_micro"), lit(0L)) > 0L,
          if (full) expr("(coalesce(dcg_micro, 0L) * 1000000L) div idcg_micro")
          else expr("(dcg_micro * 1000000L) div idcg_micro"))
          .otherwise(lit(0L)).as("ndcg_micro"))
  }

  /** Per-query agreement of two ranked runs. API CONTRACT: `b` must be
    * a top-k run of a BOUNDED eval query batch (≤ |queries|·k rows —
    * the qb-broadcast contract every serve path here relies on),
    * because it is broadcast unconditionally: the sort-merge plan paid
    * two exchanges + two sorts on pinned run lists whose size estimate
    * (LogicalRDD) Spark cannot see. A caller comparing UNBOUNDED
    * relations (not eval runs) must pre-aggregate or pass the smaller
    * side as `b`; Spark's 8 GB broadcast cap is the hard backstop.
    */
  def rankAgreement(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("qid"), col("doc_id"), col("rn"))
      .join(broadcast(b.select(col("qid"), col("doc_id"),
          col("rn").as("rn_b"))),
        Seq("qid", "doc_id"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("k_a"),
        count(col("rn_b")).as("n_common"),
        sum(abs(col("rn") - col("rn_b"))).as("rank_l1"))

  /** POSITIONAL exact-phrase search: which documents contain each
    * multi-token phrase as consecutive tokens, and how many times
    * (overlapping occurrences counted — "a a a" holds "a a" twice).
    * The classic positional-postings query, run as ONE equi-join plus
    * one aggregation instead of a per-phrase scan:
    *
    *  - corpus side: (doc_id, pos, token) from `posexplode` — the
    *    positional token stream, never shuffled (the phrase side
    *    broadcasts into a scan-side hash join);
    *  - phrase side: (pid, off, token) per phrase term, broadcast;
    *  - a corpus token at `pos` matching phrase term at `off` witnesses
    *    a candidate start `pos − off`; a start with ALL `plen` offsets
    *    witnessed is an occurrence — `count(*) = plen` per
    *    (pid, doc_id, start), since each (start, off) pair can match at
    *    most one corpus row. The only shuffle is the matched-row
    *    aggregation, bounded by occurrences of phrase TOKENS (not
    *    corpus size).
    *
    * @param phrases (pidCol, ptermsCol: array<string>) — each phrase a
    *                non-empty token array
    * @return (pid, doc_id, n_matches ≥ 1) — one row per phrase ×
    *         matching document
    */
  def phraseMatch(corpus: DataFrame, phrases: DataFrame,
      idCol: String, textCol: String,
      pidCol: String, ptermsCol: String): DataFrame = {
    val tok = corpus
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "token")))
    val ptok = phrases.select(col(pidCol).as("pid"),
        posexplode(col(ptermsCol)).as(Seq("off", "token")))
    val plen = phrases.select(col(pidCol).as("pid"),
      size(col(ptermsCol)).cast("long").as("plen"))
    matchPhrases(tok, ptok, plen)
  }

  /** The shared phrase-match tail: `ptoks` is the exploded broadcast
    * (pid, off, token) phrase side, `plen` the (pid, plen) lengths,
    * `tok` a positional token stream (doc_id, pos, token). A start with
    * all plen offsets witnessed is one occurrence.
    */
  private def matchPhrases(tok: DataFrame, ptok: DataFrame,
      plen: DataFrame): DataFrame =
    tok.join(broadcast(ptok), Seq("token"))
      .groupBy(col("pid"), col("doc_id"),
        (col("pos") - col("off")).as("start"))
      .agg(count(lit(1)).as("c"))
      .join(broadcast(plen), Seq("pid"))
      .filter(col("c") === col("plen"))
      .groupBy(col("pid"), col("doc_id"))
      .agg(count(lit(1)).as("n_matches"))

  /** A stored POSITIONAL inverted index: (bucket, token, doc_id, pos)
    * — one row per token OCCURRENCE (vs [[PostingsIndex]]'s one per
    * distinct (doc, token)), what phrase/proximity queries need.
    * `nBuckets` travels with the index ([[PostingsIndex]] contract).
    */
  final case class PositionalIndex(postings: DataFrame, nBuckets: Int)

  /** Tokenize the corpus into the positional stream — ZERO shuffles
    * (no aggregation; the position column rides the explode).
    */
  def buildPositionalIndex(corpus: DataFrame, idCol: String,
      textCol: String, nBuckets: Int = 64): PositionalIndex = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    PositionalIndex(
      corpus.select(col(idCol).as("doc_id"),
          posexplode(split(col(textCol), " ")).as(Seq("pos", "token")))
        .withColumn("bucket", tokenBucket(col("token"), nBuckets)),
      nBuckets)
  }

  /** Persist partitioned by token-hash bucket (a phrase serve prunes to
    * its terms' buckets) plus the one-row params parquet.
    */
  def savePositionalIndex(index: PositionalIndex, dir: String): Unit = {
    val spark = index.postings.sparkSession
    Stores.positional.clearLedger(spark, dir)
    StoreFiles.clusterForWrite(index.postings, "bucket")
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/postings")
    StoreFiles.writeParams(spark, dir,
      Seq("n_buckets" -> index.nBuckets.toString))
  }

  /** The positional rows a batch of NEW documents contributes under a
    * stored index's params — only the batch tokenizes, bucketed with
    * the index's OWN nBuckets. Shared by [[appendPositionalIndex]] and
    * the streaming twin
    * ([[graft.streaming.DocumentStreams.positionalIngestBatch]]).
    */
  def positionalDelta(spark: SparkSession, dir: String,
      batch: DataFrame, idCol: String, textCol: String): DataFrame = {
    val nBuckets = StoreFiles.readParams(spark, dir)("n_buckets").toInt
    batch.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "token")))
      .withColumn("bucket", tokenBucket(col("token"), nBuckets))
  }

  /** Append a batch of NEW documents: tokenize ONLY the batch, bucket
    * with the index's stored nBuckets, new files only (ids must be new
    * — the family's disjoint-ids contract).
    */
  def appendPositionalIndex(spark: SparkSession, dir: String,
      batch: DataFrame, idCol: String, textCol: String): Unit =
    StoreFiles.clusterForWrite(
        positionalDelta(spark, dir, batch, idCol, textCol), "bucket")
      .write.mode("append").partitionBy("bucket").parquet(s"$dir/postings")

  /** Load; with tombstones present the postings anti-join them lazily
    * (bucket partition pruning still reaches the scan below the join);
    * a store that never saw a delete keeps its exact pre-tombstone
    * plan.
    */
  def loadPositionalIndex(spark: SparkSession,
      dir: String): PositionalIndex =
    mkPositionalIndex(spark, dir, Stores.positional.raw(spark, dir))

  /** Assemble a [[PositionalIndex]] under a per-sub reader (raw or
    * snapshot); the ledger anti-joins lazily.
    */
  private def mkPositionalIndex(spark: SparkSession, dir: String,
      rd: String => DataFrame): PositionalIndex =
    PositionalIndex(
      Stores.positional.dropDeleted(spark, dir, rd("postings")),
      StoreFiles.readParams(spark, dir)("n_buckets").toInt)

  /** Nightly small-file compaction: one file per bucket partition via
    * the guarded temp-swap; tombstones (if any) applied physically and
    * the ledger cleared. Serve results identical before and after.
    */
  def compactPositionalIndex(spark: SparkSession, dir: String): Unit =
    Stores.positional.compactScaffold(spark, dir) { (manifested, tombs) =>
      Map("postings" ->
        (if (manifested)
           loadPositionalIndexSnapshot(spark, dir).postings.localCheckpoint()
         else {
           val raw = spark.read.parquet(s"$dir/postings")
           tombs.fold(raw)(t =>
             raw.join(broadcast(t), Seq("doc_id"), "left_anti"))
         }))
    } { (_, src, tmp) =>
      src.repartition(col("bucket")).write.partitionBy("bucket").parquet(tmp)
    }

  // --- snapshot-manifest commit log for the positional family (shared
  // --- StoreFiles machinery; postings-family semantics — completing
  // --- the family's lifecycle to parity with its BM25 sibling:
  // --- serve/delete/stream/compact + commit/time-travel/OCC/vacuum)

  /** [[savePositionalIndex]] plus the initial manifest (generation 0). */
  def savePositionalIndexCommitted(index: PositionalIndex,
      dir: String): Unit =
    Stores.positional.saveCommitted(index.postings.sparkSession, dir) {
      savePositionalIndex(index, dir)
    }

  /** [[appendPositionalIndex]] with a commit point (OCC via
    * `expectedGen`); returns the committed generation.
    */
  def appendPositionalIndexCommitted(spark: SparkSession, dir: String,
      batch: DataFrame, idCol: String, textCol: String,
      expectedGen: Option[Long] = None): Long =
    Stores.positional.appendCommitted(spark, dir, expectedGen) {
      appendPositionalIndex(spark, dir, batch, idCol, textCol)
    }

  /** Load exactly the COMMITTED file set (optionally as of a generation
    * — TIME TRAVEL to the phrase index as it stood after that commit).
    * Tombstones stay retroactive: a forgotten document's phrases never
    * resurface through a historical read ([[loadPostingsIndexSnapshot]]
    * contract). Bucket pruning survives via basePath.
    */
  def loadPositionalIndexSnapshot(spark: SparkSession, dir: String,
      asOf: Option[Long] = None): PositionalIndex =
    mkPositionalIndex(spark, dir,
      Stores.positional.snapshot(spark, dir, asOf))

  /** Serve phrase queries from the stored index with ZERO corpus
    * tokenize jobs: the scan reads only the phrase terms' bucket
    * partitions (literal pruning via the index's own [[tokenBucket]]),
    * then the [[phraseMatch]] tail. Same output contract:
    * (pid, doc_id, n_matches ≥ 1), overlapping occurrences counted.
    */
  def phraseSearchIndex(phrases: DataFrame, index: PositionalIndex,
      pidCol: String, ptermsCol: String): DataFrame = {
    val ptok = phrases.select(col(pidCol).as("pid"),
      posexplode(col(ptermsCol)).as(Seq("off", "token")))
    val plen = phrases.select(col(pidCol).as("pid"),
      size(col(ptermsCol)).cast("long").as("plen"))
    val buckets = ptok
      .select(tokenBucket(col("token"), index.nBuckets).as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq
    matchPhrases(
      index.postings.filter(col("bucket").isin(buckets: _*))
        .select(col("doc_id"), col("pos"), col("token")),
      ptok, plen)
  }

  /** [[scoreHits]] with a per-(qid, token) weight column `wq`: per-doc
    * score = Σ wq·termMicro (exact integer). Shared tail of
    * [[bm25Expand]]'s round 2.
    */
  private def scoreHitsWeighted(hit: DataFrame, qtermsW: DataFrame,
      stats: DataFrame, k: Int): DataFrame = {
    val dfreq = hit.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val a = (lit(2L) * col("n") - lit(2L) * col("df") + lit(1L)) *
      lit(22L) * col("tf") * col("t")
    val b = (lit(2L) * col("df") + lit(1L)) *
      (lit(10L) * col("tf") * col("t") + lit(3L) * col("t") +
        lit(9L) * col("dl") * col("n"))
    val termMicro = floor(a.cast("double") / b.cast("double") *
      lit(1000000.0)).cast("long")
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_micro").desc, col("doc_id").asc)
    hit.join(broadcast(dfreq), "token")
      .join(broadcast(qtermsW), "token")
      .crossJoin(broadcast(stats))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("wq") * termMicro).as("score_micro"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("doc_id"), col("score_micro"),
        col("rn").cast("int").as("rn"))
  }

  /** Serve BM25 top-k from a stored index with ZERO postings-build jobs:
    * the corpus is never tokenized — the scan reads the stored postings
    * pruned to the query terms' buckets (partition pruning on the
    * literal bucket list) and semi-joined to the terms; live (N, T) is
    * the SUM of the stored stats deltas. Scoring is identical to
    * [[bm25TopK]] — on the same corpus the two return the same rows.
    *
    * The one driver-side action is collecting the DISTINCT query terms'
    * buckets (needed as literals for partition pruning) — bounded by
    * the query side, which broadcasts anyway, and hashed by the SAME
    * [[tokenBucket]] expression the build used, so probe bucketing can
    * never drift from the file layout; the corpus side runs no job
    * until the result executes.
    */
  def bm25SearchIndex(queries: DataFrame, index: PostingsIndex,
      qidCol: String, qtermsCol: String, k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val qterms = queries.select(col(qidCol).as("qid"),
      explode(col(qtermsCol)).as("token"))
    val buckets = qterms
      .select(tokenBucket(col("token"), index.nBuckets).as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val hit = index.postings
      .filter(col("bucket").isin(buckets: _*))
      .join(broadcast(qterms.select(col("token")).distinct()),
        Seq("token"), "left_semi")
    val live = index.stats.agg(sum(col("n")).as("n"), sum(col("t")).as("t"))
    scoreHits(hit, qterms, live, k)
  }
}
