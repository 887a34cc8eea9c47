package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed suffix-rank construction (prefix doubling / the
  * Karp–Miller–Rosenberg repeated-doubling scheme, as in Manber &
  * Myers' suffix-array construction) and the unbounded
  * maximal-duplicated-span detector built on it — the true ExactSubstr
  * of Lee et al. 2021 ("Deduplicating Training Data Makes Language
  * Models Better"), at word-token granularity.
  *
  * [[Curation.duplicatedSpans]] approximates duplication with FIXED-n
  * gram fingerprints: a span is "duplicated" when each covering 5-gram
  * repeats somewhere, so two different documents' unrelated repeats can
  * chain into one span and span length says nothing about how long the
  * actually-shared substring is. This module computes, for every token
  * position p, the EXACT length of the longest substring starting at p
  * that occurs at least twice in the corpus (dup_len(p) = the classic
  * max-of-adjacent-LCPs suffix-array quantity), with no upper bound on
  * span length and no fixed gram width.
  *
  * Scale shape, built entirely from keyed shuffles (no single-partition
  * window, no driver state beyond one long per partition):
  *
  *  1. The corpus is laid out as ONE global token stream by
  *     [[Layout.tokenOffsets]] (two-phase distributed prefix sum), one
  *     slot per token plus one per-document UNIQUE SENTINEL slot. The
  *     sentinels make every suffix distinct and stop any match at the
  *     document boundary, so ranks resolve in O(log max_doc_tokens)
  *     doubling rounds — a function of DOCUMENT length, not corpus
  *     size: 100 TB of 2k-token documents needs the same handful of
  *     rounds as 1 GB of them.
  *  2. Rank doubling, 4-ARY: rank_{4L}(p) = dense rank of (rank_L(p),
  *     rank_L(p+L), rank_L(p+2L), rank_L(p+3L)), missing → −1
  *     (end-padding sorts first, i.e. the shorter suffix wins ties —
  *     standard lexicographic suffix order). Quadrupling instead of
  *     doubling HALVES the number of rounds and of retained levels
  *     (the LCP lift below re-reads every level, so each level is
  *     `localCheckpoint`-pinned — peak resident levels is the module's
  *     memory bill; ~6 for 2k-token documents instead of ~11). The
  *     neighbor lookups are three self equi-joins on the dense gpos;
  *     dense ranks are assigned by the [[Relational.allocateIds]]
  *     sort-then-zipWithIndex idiom over the DISTINCT tuple set (never
  *     the position set). (On a real cluster, reliable `checkpoint` to
  *     the cluster FS is the same call with durability.)
  *  3. Exact LCPs by BASE-4 LIFTING over the retained levels: suffix
  *     pairs adjacent in the final rank order walk levels from widest
  *     to width 1, adding the level's width 2^{2k} for each of UP TO
  *     THREE agreements of the level ranks at the current offsets (a
  *     base-4 digit is 0..3) — still ONE left-deep plan.
  *  4. dup_len(p) = max(LCP with the rank predecessor, LCP with the
  *     rank successor) — for a lexicographic order, the max-LCP partner
  *     of any suffix is rank-adjacent (LCP over a rank range is the
  *     range minimum), so the two neighbors are sufficient.
  *  5. Positions with dup_len ≥ minLen emit the interval
  *     [p, p + dup_len − 1] (sentinels guarantee it stays inside the
  *     document) and intervals island-merge per document with the same
  *     one-window pass as the fixed-n family ([[Curation.mergeSpans]]).
  *
  * Engine-exactness: every rank is an equality-class id, and both
  * dup_len and the merged spans are invariant to HOW ties between
  * equal-prefix windows are ordered (only rank EQUALITY enters LCP
  * lifting, and the max-LCP neighbor is adjacent in ANY lexicographic
  * order) and to the doubling ARITY (the resolved head order and the
  * rank equality classes at any window width are construction
  * facts of the corpus). A mirror engine may therefore use its own
  * collation, its own doubling base, and its own depth and still agree
  * bit-for-bit on the output.
  *
  * PERSISTENCE (store family #11, [[Stores.suffix]]): the pipeline
  * above is the only compute-heavy artifact in the codebase that a
  * per-query rebuild cannot amortize — at 100 TB, re-deriving suffix
  * ranks per audit query is a re-ingest, not a report. [[buildDupIndex]]
  * distills the whole construction into the per-token relation
  * (doc_id, pos, dup_len, prev_len) plus per-doc token counts;
  * [[saveDupIndexCommitted]] commits both through the standard manifest
  * lifecycle (zone-mapped on doc_id, range-clustered so a per-doc or
  * ranged audit prunes files); every report/trim/serve below then runs
  * from the store with ZERO positions/doubling/ANSV jobs. The family is
  * deliberately build-once/rebuild (no incremental append): a new
  * document can lengthen dup_len of ARBITRARY earlier positions, so
  * there is no sound per-batch delta — the honest lifecycle is the PQ
  * codebook one (rebuild on a staleness policy), not the postings one.
  */
object Suffix {

  /** The corpus as one global token stream: one row per token plus one
    * unique per-document sentinel row after the document's last token.
    *
    * @return (doc_id, pos, gpos, flag, key): `pos` 1-based within the
    *         document (sentinel = n_tokens + 1), `gpos` the dense
    *         global slot, `flag` 1 for real tokens / 0 for sentinels
    *         (sentinel keys live in their own namespace so a token
    *         equal to a doc-id string can never collide), `key` the
    *         token text or the sentinel's doc-id string
    */
  def positions(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
        graft.functions.TextAnalysis.tokens(col(textCol)).as("w"))
      .withColumn("n", size(col("w")).cast("long"))
    // one slot per token + 1 sentinel slot per doc; tokenOffsets is the
    // two-phase distributed exclusive prefix sum over doc_id order
    val off = Layout.tokenOffsets(
      toks.select(col("doc_id"), (col("n") + 1L).as("slots")),
      "doc_id", "slots")
    val based = toks.join(off.select(col("doc_id"), col("start")), Seq("doc_id"))
    val real = based
      .select(col("doc_id"), col("start"), col("n"),
        posexplode(col("w")).as(Seq("i0", "tok")))
      .select(col("doc_id"), (col("i0") + 1L).as("pos"),
        (col("start") + col("i0")).as("gpos"), lit(1).as("flag"),
        col("tok").as("key"))
    val sentinels = based.select(col("doc_id"), (col("n") + 1L).as("pos"),
      (col("start") + col("n")).as("gpos"), lit(0).as("flag"),
      col("doc_id").cast("string").as("key"))
    real.unionByName(sentinels)
  }

  /** Dense 0-based ranks AND their count for a DISTINCT key relation:
    * global sort on all columns, then the two-phase id assignment (the
    * [[Relational.allocateIds]] idiom — no single-partition window).
    * ONE eager job (the partition-size scan, which also yields the
    * count the doubling loop needs for its termination test — no
    * separate `.count()` pass); the id assignment itself stays lazy
    * and re-reads the sort's shuffle output. Input rows must be
    * distinct; ties would get different ids.
    */
  private def denseRanksCounted(distinctKeys: DataFrame): (DataFrame, Long) = {
    val spark = distinctKeys.sparkSession
    val sorted = distinctKeys.orderBy(distinctKeys.columns.map(col).toSeq: _*)
    val schema = StructType(sorted.schema.fields :+
      StructField("r", LongType, nullable = false))
    val rdd = sorted.rdd // ONE rdd: both passes reuse its shuffle output
    val sizes = rdd.mapPartitionsWithIndex { case (i, it) =>
        Iterator.single((i, {
          var c = 0L; while (it.hasNext) { it.next(); c += 1 }; c
        }))
      }.collect().sortBy(_._1).map(_._2)
    val offsets = sizes.scanLeft(0L)(_ + _)
    val rows = rdd.mapPartitionsWithIndex { case (i, it) =>
      var k = offsets(i)
      it.map { row => val out = Row.fromSeq(row.toSeq :+ k); k += 1; out }
    }
    (spark.createDataFrame(rows, schema), sizes.sum)
  }

  /** 4-ary prefix-doubling suffix ranks over a pinned position stream.
    *
    * @param pos   [[positions]] output, already pinned by the caller
    * @param nPos  total slot count (= pos.count(), passed so the one
    *              action is shared with the caller)
    * @return levels widest-first: (window length 4^k, (gpos, r)) with
    *         the HEAD fully resolved (ranks distinct, a suffix-array
    *         permutation); every level localCheckpoint-pinned. Peak
    *         resident: ⌈log₄ max_doc_tokens⌉ + 1 slim (gpos, r)
    *         relations — document-bounded, never corpus-bounded.
    */
  def suffixRankLevels(pos: DataFrame, nPos: Long): Seq[(Long, DataFrame)] = {
    val (rk0, n0) = denseRanksCounted(
      pos.select(col("flag"), col("key")).distinct())
    val r0 = pos.join(rk0, Seq("flag", "key"))
      .select(col("gpos"), col("r")).localCheckpoint()
    var levels = List((1L, r0))
    var nDistinct = n0
    var len = 1L
    // sentinels bound the resolution depth: ranks are distinct once the
    // window covers the longest document + its sentinel. The require is
    // a defensive cap (4^25 would mean the invariant broke, not data).
    while (nDistinct < nPos) {
      require(len < (1L << 50),
        s"suffix ranks failed to resolve by window $len — sentinel invariant broken")
      val (_, cur) = levels.head
      def shifted(m: Long, as: String) =
        cur.select((col("gpos") - m * len).as("gpos"), col("r").as(as))
      // pinned: consumed twice (distinct tuples + the rank join-back),
      // and the next round's three shifted self-joins read it again
      val paired = cur
        .join(shifted(1L, "s1"), Seq("gpos"), "left")
        .join(shifted(2L, "s2"), Seq("gpos"), "left")
        .join(shifted(3L, "s3"), Seq("gpos"), "left")
        .select(col("gpos"), col("r").as("r1"),
          coalesce(col("s1"), lit(-1L)).as("r2"),
          coalesce(col("s2"), lit(-1L)).as("r3"),
          coalesce(col("s3"), lit(-1L)).as("r4"))
        .localCheckpoint()
      val (ranked, m) = denseRanksCounted(
        paired.select(col("r1"), col("r2"), col("r3"), col("r4")).distinct())
      val next = paired.join(ranked, Seq("r1", "r2", "r3", "r4"))
        .select(col("gpos"), col("r")).localCheckpoint()
      len *= 4
      levels ::= (len, next)
      nDistinct = m
    }
    levels
  }

  /** Exact LCPs for rank-adjacent suffix pairs by BASE-4 lifting over
    * the doubling levels (head level excluded — its ranks are distinct,
    * so it can never contribute): at each retained level the pair tries
    * to advance by the level's width UP TO THREE times (a base-4 digit
    * is 0..3; a failed agreement repeats the identical comparison and
    * adds nothing, so correctness never depends on short-circuiting).
    * Max representable = Σ 3·4^k = 4^m − 1 ≥ any adjacent LCP (head
    * distinct at window 4^m bounds LCPs strictly below it).
    *
    * @return (p, q, lcp, sar): global positions of each adjacent pair
    *         in rank order with their exact common-prefix token count;
    *         `sar` is p's 0-based final rank (the pair covers ranks
    *         sar and sar + 1)
    */
  def adjacentLcp(levels: Seq[(Long, DataFrame)]): DataFrame = {
    val sa = levels.head._2
    val init = sa.select(col("gpos").as("p"), col("r").as("sar"),
        (col("r") + 1L).as("rn"))
      .join(sa.select(col("gpos").as("q"), col("r").as("rn")), Seq("rn"))
      .select(col("p"), col("q"), lit(0L).as("lcp"), col("sar"))
    // one left-deep plan (≤ 3 × 2 joins per level against the PINNED
    // level tables) — no per-level materialization: the whole lift runs
    // as one job when the caller consumes it
    levels.tail.foldLeft(init) { case (lvlPairs, (len, lvl)) =>
      val rp = lvl.select(col("gpos").as("pg"), col("r").as("pr"))
      val rq = lvl.select(col("gpos").as("qg"), col("r").as("qr"))
      (1 to 3).foldLeft(lvlPairs) { case (pairs, _) =>
        pairs
          .withColumn("pg", col("p") + col("lcp"))
          .join(rp, Seq("pg"), "left")
          .withColumn("qg", col("q") + col("lcp"))
          .join(rq, Seq("qg"), "left")
          .withColumn("lcp", col("lcp") +
            when(col("pr").isNotNull && col("pr") === col("qr"), lit(len))
              .otherwise(lit(0L)))
          .select(col("p"), col("q"), col("lcp"), col("sar"))
      }
    }
  }

  /** Per-position duplicated-prefix length: dup_len(gpos) = the exact
    * length of the longest substring starting at gpos that occurs ≥ 2
    * times anywhere in the corpus (self-document repeats included).
    * Sentinel positions are unique by construction and report 0.
    */
  def dupLengths(levels: Seq[(Long, DataFrame)]): DataFrame =
    dupLengthsFromPairs(adjacentLcp(levels))

  private def dupLengthsFromPairs(pairs: DataFrame): DataFrame =
    pairs.select(col("p").as("gpos"), col("lcp"))
      .union(pairs.select(col("q").as("gpos"), col("lcp")))
      .groupBy(col("gpos")).agg(max(col("lcp")).as("dup_len"))

  // ------------------------------------------------------------------
  // Store family #11: the persisted exact-duplication index.
  // ------------------------------------------------------------------

  /** A loaded suffix-duplication index: `duplens` = one row per REAL
    * token (doc_id, pos, dup_len, prev_len); `doclens` = one row per
    * document (doc_id, n_tokens). Everything the serve surface needs —
    * spans, trims, reports — derives from these two relations with
    * plain filters/windows/joins; the suffix construction never reruns.
    */
  final case class DupIndex(duplens: DataFrame, doclens: DataFrame)

  /** Build the per-token exact-duplication relation: ONE suffix
    * construction yields both dup_len (any-second-occurrence length,
    * [[dupLengths]]) and prev_len (strictly-earlier-occurrence length,
    * [[prevLengths]]) for every real token position. This is the
    * build step of store family #11 — all four audit/trim shapes
    * (maximal spans, remove-all trim, keep-first trim, boilerplate
    * report) serve from its output at ANY minLen ≥ 1 without
    * re-deriving ranks.
    */
  def buildDupIndex(docs: DataFrame, idCol: String,
      textCol: String): DupIndex = {
    val pos = positions(docs, idCol, textCol).localCheckpoint()
    val nPos = pos.count()
    val levels = suffixRankLevels(pos, nPos)
    // the lift is the construction's most expensive single plan — pin
    // it ONCE and feed both consumers (dup_len and the ANSV's L array)
    val pairs = adjacentLcp(levels).localCheckpoint()
    val duplens = pos.filter(col("flag") === 1)
      .select(col("gpos"), col("doc_id"), col("pos"))
      .join(dupLengthsFromPairs(pairs), Seq("gpos"))
      .join(prevLengthsFromPairs(levels.head._2, pairs, nPos), Seq("gpos"))
      .select(col("doc_id"), col("pos"), col("dup_len"), col("prev_len"))
    val doclens = docs.select(col(idCol).cast("long").as("doc_id"),
      size(graft.functions.TextAnalysis.tokens(col(textCol)))
        .cast("long").as("n_tokens"))
    DupIndex(duplens, doclens)
  }

  /** Build and COMMIT the duplication index as store family #11:
    * both subs land range-clustered on doc_id (disjoint per-file
    * zone-map envelopes — a per-document or id-ranged audit prunes
    * files at plan time), then one manifest commit publishes the
    * store with its envelopes ([[StoreFamily.saveCommitted]]).
    */
  def saveDupIndexCommitted(spark: SparkSession, dir: String,
      docs: DataFrame, idCol: String, textCol: String,
      numFiles: Int = 0): Unit =
    writeDupIndexCommitted(spark, dir, buildDupIndex(docs, idCol, textCol),
      numFiles, Seq.empty)

  private def writeDupIndexCommitted(spark: SparkSession, dir: String,
      idx: DupIndex, numFiles: Int, headers: Seq[String]): Unit = {
    // numFiles > 0 pins the duplens file count (an EXPLICIT range
    // partitioning AQE must not coalesce — a small corpus would land
    // as one file and a doc-ranged audit would have nothing to skip);
    // 0 leaves it to the shuffle-partition default, right at scale
    val clustered =
      if (numFiles > 0)
        idx.duplens.repartitionByRange(numFiles, col("doc_id"), col("pos"))
      else idx.duplens.repartitionByRange(col("doc_id"), col("pos"))
    Stores.suffix.saveCommitted(spark, dir, headers) {
      clustered.write.mode("overwrite").parquet(s"$dir/duplens")
      idx.doclens.repartitionByRange(4, col("doc_id"))
        .write.mode("overwrite").parquet(s"$dir/doclens")
    }
  }

  /** [[saveDupIndexCommitted]] reading the corpus FROM a committed
    * raw-document store snapshot (the bronze→silver lineage build):
    * the suffix manifest records the docstore generation and committed
    * byte count it was built against (`#corpusgen=`, `#corpusbytes=`),
    * so (a) the build is REPRODUCIBLE — time-travel the docstore to
    * `corpusgen` and the identical corpus comes back — and (b)
    * [[rebuildDue]] answers staleness later from driver FS metadata
    * alone. Returns the pinned docstore generation.
    */
  def saveDupIndexFromDocStore(spark: SparkSession, dir: String,
      docstoreDir: String, idCol: String = "doc_id",
      textCol: String = "text", numFiles: Int = 0): Long = {
    val gen = Stores.docstore.gen(spark, docstoreDir)
    require(gen >= 0L,
      s"saveDupIndexFromDocStore: $docstoreDir has no committed snapshot")
    val bytes = StoreFiles.committedBytes(spark, docstoreDir)
    val docs = DocStore.loadDocStoreSnapshot(spark, docstoreDir, Some(gen))
    writeDupIndexCommitted(spark, dir,
      buildDupIndex(docs, idCol, textCol), numFiles,
      Seq(s"corpusgen=$gen", s"corpusbytes=$bytes"))
    gen
  }

  /** WHEN is a build-once index due for its full rebuild? The family
    * has no sound incremental append (a new document changes dup_len
    * at arbitrary earlier positions), so the operational question is
    * when to re-pay the construction — the [[Similarity.RetrainPolicy]]
    * question on this family. Trigger: the fraction of the corpus's
    * committed bytes APPENDED since the recorded build (bytes are the
    * FS-metadata proxy for tokens — the docstore manifest lists its
    * files; no job runs, no data is read). Deletes don't fire it:
    * tombstones only shrink the audited set, never invalidate a
    * baked dup_len upward.
    */
  final case class RebuildPolicy(maxAppendedFraction: Double = 0.2) {
    require(maxAppendedFraction > 0,
      s"maxAppendedFraction must be > 0, got $maxAppendedFraction")
    def due(builtBytes: Long, currentBytes: Long): Boolean =
      currentBytes > builtBytes &&
        (currentBytes - builtBytes).toDouble > maxAppendedFraction * builtBytes
  }

  /** True when the suffix store at `dir` is stale against the corpus
    * docstore per `policy`. Requires the store to carry corpus
    * provenance (built via [[saveDupIndexFromDocStore]]) — a store
    * with no record refuses loudly rather than guessing.
    */
  def rebuildDue(spark: SparkSession, dir: String, docstoreDir: String,
      policy: RebuildPolicy): Boolean = {
    val built = StoreFiles.manifestHeaders(spark, dir)
      .collectFirst { case ("corpusbytes", v) => v.toLong }
      .getOrElse(throw new IllegalStateException(
        s"rebuildDue: $dir has no #corpusbytes provenance — build the " +
          "store via saveDupIndexFromDocStore"))
    policy.due(built, StoreFiles.committedBytes(spark, docstoreDir))
  }

  /** Background-maintenance hook (the PQ auto-retrain shape on family
    * #11): rebuild + re-baseline the suffix store from the CURRENT
    * docstore snapshot iff the policy fires — the rebuild re-records
    * provenance, so the same corpus never re-fires. Returns whether a
    * rebuild ran; the staleness probe itself is driver FS metadata
    * only (a no-fire call costs zero jobs).
    */
  def maintainDupIndexRebuild(spark: SparkSession, dir: String,
      docstoreDir: String, policy: RebuildPolicy,
      numFiles: Int = 0): Boolean =
    rebuildDue(spark, dir, docstoreDir, policy) && {
      saveDupIndexFromDocStore(spark, dir, docstoreDir,
        numFiles = numFiles)
      true
    }

  /** Committed snapshot of the duplens relation restricted to
    * `doc_id ∈ [lo, hi]` with zone-map FILE SKIPPING: committed files
    * whose doc_id envelope misses the range never enter the scan —
    * the per-tenant/per-slice audit read (predicate also in-plan).
    * Sound by construction: dup_len/prev_len are CORPUS-GLOBAL values
    * baked at build time, so restricting the rows restricts WHICH
    * documents are audited, never what the lengths mean. Pair with
    * the full doclens for the trim charges.
    */
  def loadDupIndexIdRange(spark: SparkSession, dir: String,
      lo: Long, hi: Long): DupIndex =
    DupIndex(
      Stores.suffix.snapshotSkipping(spark, dir, "doc_id", lo, hi)("duplens"),
      Stores.suffix.snapshot(spark, dir)("doclens"))

  /** Load exactly the COMMITTED file set (optionally as of a
    * generation — time travel over rebuilds).
    */
  def loadDupIndexSnapshot(spark: SparkSession, dir: String,
      asOf: Option[Long] = None): DupIndex = {
    val read = Stores.suffix.snapshot(spark, dir, asOf)
    DupIndex(read("duplens"), read("doclens"))
  }

  /** Build and COMMIT the SURVIVOR-TRIM store (family #13): the DEDUP
    * STAGE'S OUTPUT — `surv`, the keep-best survivor corpus with
    * `idCol`, `textCol`, and any metadata columns riding along — next
    * to its own suffix duplication index, every sub range-clustered on
    * the id. This makes the curation capstone's exact-trim stage
    * build-once: the trim AND the splice that ships the cleaned
    * artifact serve from the committed relations with ZERO suffix-
    * construction jobs and without re-running the dedup that keyed the
    * store. The full-corpus [[Stores.suffix]] store is deliberately
    * NOT reused here: prev_len must be computed against what dedup
    * KEPT, or "first occurrence" could point at a removed duplicate.
    * Build-once/rebuild, the family #11 contract — a changed survivor
    * set re-bases the whole store atomically.
    *
    * `params` — an optional fingerprint of the DEDUP CONFIGURATION
    * that produced `surv` (shingle size, hash count, band shape,
    * threshold, keep policy), recorded as a `#survparams=` manifest
    * header (the `#corpusbytes=` provenance pattern). The committed
    * rows only say WHAT survived, not under which config; the header
    * lets a serve assert it is reading survivors of the config it
    * expects — see [[loadSurvTrimSnapshot]]'s `expectParams`.
    */
  def saveSurvTrimCommitted(spark: SparkSession, dir: String,
      surv: DataFrame, idCol: String, textCol: String,
      numFiles: Int = 0, params: Option[String] = None): Unit = {
    params.foreach(p => require(!p.contains("\n"),
      s"params fingerprint must be newline-free, got: $p"))
    val idx = buildDupIndex(surv, idCol, textCol)
    def clustered(df: DataFrame,
        cols: Seq[org.apache.spark.sql.Column]) =
      if (numFiles > 0) df.repartitionByRange(numFiles, cols: _*)
      else df.repartitionByRange(cols: _*)
    Stores.survtrim.saveCommitted(spark, dir,
        params.toSeq.map(p => s"survparams=$p")) {
      clustered(idx.duplens, Seq(col("doc_id"), col("pos")))
        .write.mode("overwrite").parquet(s"$dir/duplens")
      idx.doclens.repartitionByRange(4, col("doc_id"))
        .write.mode("overwrite").parquet(s"$dir/doclens")
      clustered(surv, Seq(col(idCol)))
        .write.mode("overwrite").parquet(s"$dir/surv")
    }
  }

  /** Committed snapshot of the survivor-trim store: (the survivor
    * corpus's suffix index, the survivor corpus itself). Everything
    * the capstone's trim + splice stages need; no suffix job reruns.
    *
    * `expectParams` — when set, the caller states which dedup
    * configuration it expects the survivors to descend from; a store
    * committed under a DIFFERENT fingerprint (or with none recorded)
    * refuses loudly instead of silently serving stale survivors.
    * The check is driver FS metadata only (manifest headers).
    */
  def loadSurvTrimSnapshot(spark: SparkSession, dir: String,
      asOf: Option[Long] = None,
      expectParams: Option[String] = None): (DupIndex, DataFrame) = {
    expectParams.foreach { want =>
      val got = survTrimParams(spark, dir)
      require(got.contains(want),
        s"loadSurvTrimSnapshot: $dir was committed under dedup params " +
          s"${got.getOrElse("<none recorded>")} but the caller expects " +
          s"$want — rebuild the store (saveSurvTrimCommitted) under " +
          "the current configuration instead of serving its survivors")
    }
    val read = Stores.survtrim.snapshot(spark, dir, asOf)
    (DupIndex(read("duplens"), read("doclens")), read("surv"))
  }

  /** The dedup-configuration fingerprint the store was committed
    * under, if one was recorded ([[saveSurvTrimCommitted]]'s
    * `params`). None for a pre-provenance store.
    */
  def survTrimParams(spark: SparkSession, dir: String): Option[String] =
    StoreFiles.manifestHeaders(spark, dir)
      .collectFirst { case ("survparams", v) => v }

  /** [[maximalDupSpans]] served from a built index: filter + island
    * merge only — no suffix jobs.
    */
  def maximalDupSpansFrom(index: DupIndex, idCol: String,
      minLen: Long): DataFrame = {
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    val hits = index.duplens
      .filter(col("dup_len") >= minLen)
      .select(col("doc_id").as(idCol), col("pos"),
        (col("pos") + col("dup_len") - 1L).as("end"))
    Curation.mergeSpans(hits, idCol)
      .withColumnRenamed("n_grams", "n_pos")
  }

  /** Per-document trim charge of a span relation against the stored
    * token counts — the shared tail of both trim policies.
    */
  private def chargeSpans(index: DupIndex, idCol: String,
      hits: DataFrame): DataFrame = {
    val trimmed = Curation.mergeSpans(hits, idCol)
      .groupBy(col(idCol))
      .agg(sum(col("span_tokens")).as("trimmed_tokens"))
    index.doclens.select(col("doc_id").as(idCol), col("n_tokens"))
      .join(trimmed, Seq(idCol), "left")
      .na.fill(0L, Seq("trimmed_tokens"))
      .withColumn("kept_tokens", col("n_tokens") - col("trimmed_tokens"))
  }

  /** [[trimDupSpansAll]] served from a built index. */
  def trimDupSpansAllFrom(index: DupIndex, idCol: String,
      minLen: Long): DataFrame = {
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    chargeSpans(index, idCol, index.duplens
      .filter(col("dup_len") >= minLen)
      .select(col("doc_id").as(idCol), col("pos"),
        (col("pos") + col("dup_len") - 1L).as("end")))
  }

  /** [[trimDupSpansKeepFirst]] served from a built index. */
  def trimDupSpansKeepFirstFrom(index: DupIndex, idCol: String,
      minLen: Long): DataFrame = {
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    chargeSpans(index, idCol, keepFirstHits(index, idCol, minLen))
  }

  private def keepFirstHits(index: DupIndex, idCol: String,
      minLen: Long): DataFrame =
    index.duplens
      .filter(col("prev_len") >= minLen)
      .select(col("doc_id").as(idCol), col("pos"),
        (col("pos") + col("prev_len") - 1L).as("end"))

  /** The keep-first-occurrence APPLY step MATERIALIZED: rebuild each
    * document's cleaned text with every duplicated-span token removed
    * (the corpus-wide first occurrence of every duplicated substring
    * survives, so re-running detection on the output finds nothing ≥
    * minLen — the splice-back law [[Curation.stripDupSpans]] pins at
    * fixed n, here exact and unbounded). This is the artifact a
    * curation pipeline actually ships — the cleaned corpus — where
    * [[trimDupSpansKeepFirstFrom]] only reports the token charge.
    *
    * Scale shape: spans expand to covered positions (output-linear:
    * Σ span_tokens rows, never n × n), the token stream anti-joins
    * them, and ONE ordered per-doc aggregation splices the survivors —
    * all keyed by doc.
    *
    * @return one row per document: (idCol, n_tokens, kept_tokens,
    *         clean_text) — clean_text '' when everything was trimmed
    */
  def trimDupSpansKeepFirstText(index: DupIndex, docs: DataFrame,
      idCol: String, textCol: String, minLen: Long): DataFrame = {
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    val covered = Curation.mergeSpans(keepFirstHits(index, idCol, minLen), idCol)
      .select(col(idCol),
        explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    val toks = docs.select(col(idCol).cast("long").as(idCol),
        posexplode(graft.functions.TextAnalysis.tokens(col(textCol)))
          .as(Seq("i0", "tok")))
      .select(col(idCol), (col("i0") + 1L).as("pos"), col("tok"))
    val rebuilt = toks.join(covered, Seq(idCol, "pos"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").as("clean_text"))
    index.doclens.select(col("doc_id").as(idCol), col("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("kept_tokens"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** The keep-first cleaner ITERATED TO FIXPOINT — the loop an
    * ExactSubstr deployment actually runs: one splice pass is not
    * idempotent (removing a span makes its neighbors adjacent, and the
    * new adjacency can duplicate text elsewhere — why Lee et al.
    * iterate), so re-build the index on the cleaned corpus and re-trim
    * until a pass finds NO position with prev_len ≥ minLen. Returns
    * the converged corpus (idCol, textCol — docs cleaned to empty are
    * dropped) and the number of TRIM passes run; the output provably
    * contains no duplicated substring of ≥ minLen tokens (that is the
    * termination test, checked against the rebuilt index, not
    * assumed). Convergence is guaranteed: every pass that does not
    * terminate strictly removes ≥ minLen tokens from the corpus.
    *
    * Each pass is one [[buildDupIndex]] + one splice — K passes cost
    * K polylog-round constructions, and real corpora converge in 1–2
    * passes (new-adjacency duplicates are rare); `maxIters` bounds the
    * pathological case loudly rather than silently.
    */
  def cleanCorpusToFixpoint(docs: DataFrame, idCol: String,
      textCol: String, minLen: Long, maxIters: Int = 8): (DataFrame, Int) = {
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    // the working corpus pins through [[pinRows]] so each superseded
    // iteration's blocks RELEASE once the next is materialized (ADVICE
    // r13) — repeated fixpoint runs in one JVM must not accrete every
    // pass's corpus in executor storage; only the pin being returned
    // stays resident (the caller reads it lazily)
    var (cur, curPin) = pinRows(docs.select(col(idCol), col(textCol)))
    var iters = 0
    while (iters < maxIters) {
      val idx = buildDupIndex(cur, idCol, textCol)
      val dupPositions = idx.duplens
        .filter(col("prev_len") >= minLen).limit(1).count()
      if (dupPositions == 0L) return (cur, iters)
      iters += 1
      val (nc, ncPin) = pinRows(
        trimDupSpansKeepFirstText(idx, cur, idCol, textCol, minLen)
          .filter(col("kept_tokens") > 0)
          .select(col(idCol), col("clean_text").as(textCol)))
      // nc is materialized (pinRows counts eagerly); nothing re-reads
      // the superseded corpus — free it now, not at session end
      releasePin(curPin)
      cur = nc
      curPin = ncPin
    }
    // maxIters trims without a clean verification pass — refuse to
    // return a corpus the contract cannot vouch for
    throw new IllegalStateException(
      s"cleanCorpusToFixpoint: no fixpoint after $maxIters passes")
  }

  /** [[longestDupSpans]] served from a built index. */
  def longestDupSpansFrom(index: DupIndex, docs: DataFrame, idCol: String,
      textCol: String, minLen: Long, k: Int): DataFrame =
    maximalDupSpansFrom(index, idCol, minLen)
      .join(docs.select(col(idCol),
        graft.functions.TextAnalysis.tokens(col(textCol)).as("w")), Seq(idCol))
      .select(col(idCol), col("span_start"), col("span_end"),
        col("span_tokens"),
        concat_ws(" ", slice(col("w"), col("span_start").cast("int"),
          col("span_tokens").cast("int"))).as("span_text"))
      .orderBy(col("span_tokens").desc, col(idCol), col("span_start"))
      .limit(k)

  /** Maximal duplicated-substring spans, UNBOUNDED length (the exact
    * ExactSubstr span relation): every position opening a duplicated
    * substring of ≥ `minLen` tokens emits its exact-length interval,
    * and intervals island-merge per document. Build-inline convenience
    * ([[buildDupIndex]] + [[maximalDupSpansFrom]]) — repeated audits
    * should build ONCE through [[saveDupIndexCommitted]] and serve.
    *
    * @return one row per maximal span: (idCol, span_start, span_end,
    *         span_tokens, n_pos) — 1-based inclusive token positions;
    *         n_pos = duplicated suffix-start positions merged in
    */
  def maximalDupSpans(docs: DataFrame, idCol: String, textCol: String,
      minLen: Long): DataFrame =
    maximalDupSpansFrom(buildDupIndex(docs, idCol, textCol), idCol, minLen)

  /** The ExactSubstr APPLY step at unbounded length under the
    * REMOVE-ALL-COPIES policy (what Lee et al. 2021's released tool
    * does — every occurrence of a duplicated substring of ≥ `minLen`
    * tokens is cut, including the first): per-document token charge
    * of the [[maximalDupSpans]] relation. The fixed-n sibling
    * [[Curation.trimDuplicatedSpans]] implements the paper TEXT's
    * keep-one-copy policy instead. Build-inline convenience.
    *
    * @return one row per document: (idCol, n_tokens, trimmed_tokens,
    *         kept_tokens) — trimmed_tokens 0 for untouched docs
    */
  def trimDupSpansAll(docs: DataFrame, idCol: String, textCol: String,
      minLen: Long): DataFrame =
    trimDupSpansAllFrom(buildDupIndex(docs, idCol, textCol), idCol, minLen)

  private val Inf = Long.MaxValue

  /** Pin a recurrence step by materializing its ROWS (RDD local
    * checkpoint) and re-wrapping them as a fresh relation. Equivalent
    * to `Dataset.localCheckpoint` for lineage truncation, but it also
    * RESETS the plan's size statistics — and that is the point: the
    * doubling recurrence below derives each level from repeated
    * references to the previous pinned level, and Catalyst's size-only
    * estimator MULTIPLIES child sizes through a join, so inherited
    * stats double their DIGIT count per level (a ~2^K-digit BigInteger
    * by level K; observed as minutes of BigInteger.multiplyToomCook3
    * on the driver past K ≈ 12). A fresh LogicalRDD carries the engine
    * default size instead, keeping every downstream stats product
    * bounded. Returns the wrapped relation AND its pinned RDD so the
    * caller can RELEASE the blocks ([[org.apache.spark.rdd.RDD.unpersist]])
    * the moment nothing downstream re-reads them — the ANSV walk
    * consumes its sparse-table levels in strict widest-first order, so
    * consumed levels free incrementally instead of all K staying
    * resident to the end. The rank levels' shallower recurrence (digit
    * count ~2^8) stays on Dataset.localCheckpoint, where the rewritten
    * stats are still cheap and useful.
    */
  private def pinRows(df: DataFrame)
      : (DataFrame, org.apache.spark.rdd.RDD[Row]) = {
    val spark = df.sparkSession
    val rdd = df.rdd
    rdd.localCheckpoint()
    rdd.count()
    (spark.createDataFrame(rdd, df.schema), rdd)
  }

  /** Release a superseded pin's blocks WITHOUT Spark's per-block
    * "locally checkpointed … cannot be recomputed" WARN. The release
    * is by design — only superseded pins are freed, and every
    * successor is eagerly materialized first (the invariant each call
    * site documents) — so the warning is pure noise here, and a long
    * fixpoint/ANSV run used to emit hundreds of them. The RDD's class
    * logger is scoped to ERROR for the duration of the (non-blocking,
    * driver-local) unpersist call. The log4j2 config is process-global,
    * so a concurrent warning from the same RDD class could be lost in
    * that microsecond window — an accepted trade, documented rather
    * than engineered around, since that logger's only other messages
    * are this same unpersist path.
    */
  private[graft] def releasePin(rdd: org.apache.spark.rdd.RDD[_]): Unit = {
    val name = rdd.getClass.getName
    val prev = org.apache.logging.log4j.LogManager.getLogger(name).getLevel
    org.apache.logging.log4j.core.config.Configurator
      .setLevel(name, org.apache.logging.log4j.Level.ERROR)
    try rdd.unpersist(blocking = false)
    finally org.apache.logging.log4j.core.config.Configurator
      .setLevel(name, prev)
  }

  /** prev_len(gpos) = the EXACT length of the longest prefix of the
    * suffix at gpos that also occurs at some STRICTLY EARLIER global
    * position (any document, any offset; "earlier" = the (doc, pos)
    * stream order). 0 for first occurrences and sentinels.
    *
    * This is the distributed ANSV (all-nearest-smaller-values) step
    * behind exact first-occurrence detection, built with the same
    * doubling + descend idiom as the rank levels and the LCP lift:
    *
    *  - ONE set of 4-ARY SPARSE TABLES: `tab_k(r)` = (min gpos, min
    *    adjacent-LCP) over ranks [r, r + 4^k) — K = ⌊log₄ n⌋ rounds of
    *    three shifted self-joins each. K grows with the CORPUS here
    *    (unlike the rank levels' document bound) — the price of a
    *    global first-occurrence order; still polylog rounds of linear
    *    keyed shuffles. The 4-ary base HALVES both the rounds and the
    *    peak pinned levels vs binary (⌊log₄ n⌋ + 1 ≈ 15 corpus-sized
    *    relations at 100 TB, vs 30+).
    *  - TWO DESCENDS against the same tables: each position walks from
    *    its own rank leftward and rightward, skipping UP TO THREE 4^k
    *    blocks per level (a base-4 digit) whenever the block's min gpos
    *    proves no earlier-gpos suffix lives there, accumulating the
    *    skipped blocks' LCP-min. The walks are stepped level-by-level
    *    with BOTH walks pinned every few levels, after which every
    *    table level they consumed is UNPERSISTED — peak resident
    *    during the descend DECREASES monotonically from K instead of
    *    holding all K to the end (the r12 scale note).
    *
    * Each walk lands exactly on the NEAREST rank on its side whose
    * suffix began earlier in the corpus, with acc = the min
    * adjacent-LCP over the skipped range — i.e. lcp(suffix_i,
    * suffix_{r*}), which is the best lcp against ANY earlier-gpos
    * suffix on that side (moving past r* only min-reduces the
    * range-min). prev_len = the max of the two sides.
    */
  def prevLengths(levels: Seq[(Long, DataFrame)], nPos: Long): DataFrame =
    prevLengthsFromPairs(levels.head._2, adjacentLcp(levels), nPos)

  private def prevLengthsFromPairs(sa: DataFrame, pairs: DataFrame,
      nPos: Long): DataFrame = {
    // sa: (gpos, r) — ranks dense 0..nPos-1
    val lnext = pairs.select(col("sar").as("i"), col("lcp").as("lnext"))
    var kMax = 0
    while (pow4(kMax + 1) <= nPos) kMax += 1
    val st0 = sa.select(col("r").as("i"), col("gpos").as("g"))
      .join(lnext, Seq("i"), "left").localCheckpoint()
    // 4-ary sparse tables over SA order: tab_k(r) = (min g over ranks
    // [r, r+4^k), min L over L-indexes [r, r+4^k)); partial blocks at
    // the top pad with Inf (least() keeps the existing part's min)
    val tab0 = pinRows(st0.select(col("i").as("r"),
      col("g").as("mg"), coalesce(col("lnext"), lit(Inf)).as("ml")))
    var tabs: List[(Int, DataFrame, org.apache.spark.rdd.RDD[Row])] =
      List((0, tab0._1, tab0._2))
    for (k <- 0 until kMax) {
      val step = pow4(k)
      val t = tabs.head._2
      def sh(m: Long, gn: String, ln: String) =
        t.select((col("r") - m * step).as("r"), col("mg").as(gn),
          col("ml").as(ln))
      val (df, rdd) = pinRows(t
        .join(sh(1L, "g1", "l1"), Seq("r"), "left")
        .join(sh(2L, "g2", "l2"), Seq("r"), "left")
        .join(sh(3L, "g3", "l3"), Seq("r"), "left")
        .select(col("r"),
          least(col("mg"), coalesce(col("g1"), lit(Inf)),
            coalesce(col("g2"), lit(Inf)),
            coalesce(col("g3"), lit(Inf))).as("mg"),
          least(col("ml"), coalesce(col("l1"), lit(Inf)),
            coalesce(col("l2"), lit(Inf)),
            coalesce(col("l3"), lit(Inf))).as("ml")))
      tabs ::= (k + 1, df, rdd)
    }
    val init = st0.select(col("i"), col("g"), col("i").as("c"),
      lit(Inf).as("acc"))
    // LEFT invariant: "ranks in [c, i) are all non-qualifying"; skip
    // block [c-4^k, c-1] when its min g >= g_i (L-range = the same
    // block), up to 3 times per level; finish at r* = c-1 with L[r*]
    // joined on top
    def leftStep(w: DataFrame, tab: DataFrame, k: Int): DataFrame = {
      val step = pow4(k)
      val sp = tab.select(col("r").as("s"), col("mg"), col("ml"))
      (1 to 3).foldLeft(w) { case (cur, _) =>
        cur.withColumn("s", col("c") - step)
          .join(sp, Seq("s"), "left")
          .withColumn("skip", col("s") >= 0 && col("mg").isNotNull &&
            col("mg") >= col("g"))
          .select(col("i"), col("g"),
            when(col("skip"), col("s")).otherwise(col("c")).as("c"),
            when(col("skip"), least(col("acc"), col("ml")))
              .otherwise(col("acc")).as("acc"))
      }
    }
    // RIGHT invariant: "ranks in (i, c] are all non-qualifying"; skip
    // block [c+1, c+4^k] when its min g >= g_i (minG keyed at c+1;
    // L-range = [c, c+4^k-1], keyed at c), up to 3 times per level;
    // finish at r* = c+1 with L[c] joined on top; c past the top rank
    // means no qualifier
    def rightStep(w: DataFrame, tab: DataFrame, k: Int): DataFrame = {
      val step = pow4(k)
      val sp = tab.select(col("r").as("s"), col("mg"))
      val spl = tab.select(col("r").as("cc"), col("ml"))
      (1 to 3).foldLeft(w) { case (cur, _) =>
        cur.withColumn("s", col("c") + 1L)
          .join(sp, Seq("s"), "left")
          .withColumn("cc", col("c"))
          .join(spl, Seq("cc"), "left")
          .withColumn("skip", col("mg").isNotNull && col("mg") >= col("g"))
          .select(col("i"), col("g"),
            when(col("skip"), col("c") + step).otherwise(col("c")).as("c"),
            when(col("skip"), least(col("acc"), col("ml")))
              .otherwise(col("acc")).as("acc"))
      }
    }
    // the interleaved descend: widest level first for both walks, pin
    // both every `chunk` levels, then RELEASE the consumed tables —
    // nothing re-reads a level once both walks folded past it
    val chunk = 3
    var lw = init
    var rw = init
    var consumed = List.empty[org.apache.spark.rdd.RDD[Row]]
    // the walks' own superseded pins release too (ADVICE r13): a new
    // pin is materialized eagerly by pinRows, so the stage it replaces
    // is never re-read — only the FINAL pair must stay resident (the
    // returned plan reads it lazily)
    var walkPins = List.empty[org.apache.spark.rdd.RDD[Row]]
    var sinceLastPin = 0
    for ((k, tab, rdd) <- tabs) { // tabs is widest-first by construction
      lw = leftStep(lw, tab, k)
      rw = rightStep(rw, tab, k)
      consumed ::= rdd
      sinceLastPin += 1
      if (sinceLastPin >= chunk || k == 0) {
        val lp = pinRows(lw)
        val rp = pinRows(rw)
        lw = lp._1
        rw = rp._1
        walkPins.foreach(releasePin)
        walkPins = List(lp._2, rp._2)
        consumed.foreach(releasePin)
        consumed = Nil
        sinceLastPin = 0
      }
    }
    val lAtLeft = st0.select((col("i") + 1L).as("c"),
      coalesce(col("lnext"), lit(Inf)).as("lstar"))
    val left = lw.join(lAtLeft, Seq("c"), "left")
      .select(col("i"),
        when(col("c") === 0, lit(0L))
          .otherwise(least(col("acc"), col("lstar"))).as("llen"))
    val lAtRight = st0.select(col("i").as("c"),
      coalesce(col("lnext"), lit(Inf)).as("lstar"))
    val right = rw.join(lAtRight, Seq("c"), "left")
      .select(col("i"),
        when(col("c") >= nPos - 1L, lit(0L))
          .otherwise(least(col("acc"), col("lstar"))).as("rlen"))
    left.join(right, Seq("i"))
      .select(col("i"), greatest(col("llen"), col("rlen")).as("prev_len"))
      .join(sa.select(col("r").as("i"), col("gpos")), Seq("i"))
      .select(col("gpos"), col("prev_len"))
  }

  private def pow4(k: Int): Long = 1L << (2 * k)

  /** The ExactSubstr APPLY step at unbounded length under the
    * KEEP-FIRST-OCCURRENCE policy (the paper TEXT's "keep one copy",
    * exact and total-order-canonical): every position p whose suffix
    * shares a prefix of ≥ `minLen` tokens with a STRICTLY EARLIER
    * global position is trimmed over exactly that shared extent
    * [p, p + prev_len(p) − 1]; the corpus-wide FIRST occurrence of
    * every duplicated substring survives untouched. Contrast
    * [[trimDupSpansAll]] (removes every copy, the released tool's
    * policy) and [[Curation.trimDuplicatedSpans]] (keep-one-copy but
    * only at fixed gram width). Identical duplicate documents keep
    * exactly one full copy — the earliest. Build-inline convenience.
    *
    * @return one row per document: (idCol, n_tokens, trimmed_tokens,
    *         kept_tokens)
    */
  def trimDupSpansKeepFirst(docs: DataFrame, idCol: String,
      textCol: String, minLen: Long): DataFrame =
    trimDupSpansKeepFirstFrom(buildDupIndex(docs, idCol, textCol),
      idCol, minLen)

  /** The BOILERPLATE REPORT: the corpus's `k` longest maximal
    * duplicated spans WITH their text — the auditor-facing artifact
    * (license headers, navigation chrome, templated paragraphs
    * surface here first). Deterministic total order:
    * (span_tokens desc, id, span_start); ORDER BY + LIMIT plans as
    * TakeOrderedAndProject (no global sort materializes).
    * Build-inline convenience.
    */
  def longestDupSpans(docs: DataFrame, idCol: String, textCol: String,
      minLen: Long, k: Int): DataFrame =
    longestDupSpansFrom(buildDupIndex(docs, idCol, textCol), docs,
      idCol, textCol, minLen, k)
}
