package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, sum}

/** Typed descriptor of one persisted store family — the paths, delete
  * ledger key, and commit-log wiring that used to be ten hand-cloned
  * ~80-line lifecycle quartets. A family is:
  *
  *   - `subs`: its data subdirectories under a store dir — the unit
  *     the manifest commit log lists and vacuum/compaction walk.
  *     Parameter tables (`params`, `centroids`, `codebooks`) live
  *     OUTSIDE: they are save-time-immutable, so they need no commit
  *     protocol;
  *   - `ledger`: the tombstone key column, when the family keeps an
  *     id-tombstone delete ledger (None = deletes are out of scope or
  *     ride another mechanism — Bloom's documented stale-keys trade,
  *     the agg store's retraction rows).
  *
  * The methods here are the COMMITTED lifecycle every family shares
  * verbatim: save + generation-0 commit, OCC append commit,
  * latest-generation read, orphan vacuum, ledger append/read/lazy
  * anti-join, and the full-compaction scaffold (committed-snapshot
  * source, guarded temp-swap per sub, spent-ledger clear, manifest
  * re-base). Family #11 is a registration in [[Stores]] plus its own
  * build/append-delta/load-assembly/merge-law code — not a
  * re-implementation of any of this.
  *
  * `l0` registers how [[compactL0]] re-bases each sub's appended runs
  * ([[L0Layout]]); a family without it (bloom, the build-once suffix
  * stores) has no L0 compaction. A non-empty layout map must name
  * exactly `subs`.
  *
  * What stays with the family, deliberately: what an append computes
  * (the delta under the stored params), how a load assembles its
  * typed index, and its full-rewrite compaction layout. Those are
  * semantics; this is plumbing.
  */
final case class StoreFamily(
    name: String,
    subs: Seq[String],
    ledger: Option[String] = None,
    statCols: Map[String, Seq[String]] = Map.empty,
    l0: Map[String, L0Layout] = Map.empty) {
  require(l0.isEmpty || l0.keySet == subs.toSet,
    s"store family '$name': L0 layouts for " +
      s"[${l0.keys.toSeq.sorted.mkString(", ")}] must match its subs " +
      s"[${subs.mkString(", ")}]")

  def dataDirs(dir: String): Seq[String] = subs.map(s => s"$dir/$s")
  private def ledgerDir(dir: String) = s"$dir/tombstones"

  /** Commit the store's CURRENT files as manifest generation 0 — the
    * shared tail of every `save*Committed` and of a full compaction's
    * history-collapsing re-base (atomic: [[StoreFiles.writeManifest]]
    * publishes the new log as a new epoch). Every committed file's
    * zone-map envelope ([[statCols]]) rides the same commit.
    */
  def commitInitial(spark: SparkSession, dir: String,
      headers: Seq[String] = Seq.empty): Unit = {
    val files = StoreFiles.listDataFiles(spark, dataDirs(dir))
    StoreFiles.writeManifest(spark, dir, 0L, files, "overwrite",
      headers ++ StoreFiles.zoneMapHeaders(spark, files, statCols))
  }

  /** Run `save`, then commit generation 0. `headers` ride the commit
    * as `#key=value` manifest lines — the writer-metadata side channel
    * (e.g. the suffix family's corpus-provenance record).
    */
  def saveCommitted(spark: SparkSession, dir: String,
      headers: Seq[String] = Seq.empty)(save: => Unit): Unit = {
    save
    commitInitial(spark, dir, headers)
  }

  /** Run `append` under the commit protocol — data files land first,
    * then ONE manifest file is the commit point; with `expectedGen`
    * the commit is optimistic ([[StoreFiles.commitAppend]]). Returns
    * the committed generation.
    */
  def appendCommitted(spark: SparkSession, dir: String,
      expectedGen: Option[Long] = None)(append: => Unit): Long =
    StoreFiles.commitAppend(spark, dir, dataDirs(dir), expectedGen,
      statCols = statCols)(append)

  /** [[appendCommitted]] made EXACTLY-ONCE for a replayable writer
    * (foreachBatch): the batch id rides the manifest commit as a
    * ledger header; a re-delivered id writes nothing and returns None
    * ([[StoreFiles.commitAppendIdempotent]]).
    */
  def appendCommittedIdempotent(spark: SparkSession, dir: String,
      batchId: Long)(append: => Unit): Option[Long] =
    StoreFiles.commitAppendIdempotent(spark, dir, dataDirs(dir),
      batchId, statCols = statCols)(append)

  /** Latest committed generation (-1 if never committed). */
  def gen(spark: SparkSession, dir: String): Long =
    StoreFiles.manifestGen(spark, dir)

  /** Delete data files no committed snapshot references — torn
    * appends and lost optimistic commits. Returns the deleted paths.
    */
  def vacuum(spark: SparkSession, dir: String): Seq[String] =
    StoreFiles.vacuumStore(spark, dir, dataDirs(dir))

  /** Tombstone-delete by id: ONE append of bare ledger-key rows
    * (idempotent — [[StoreFiles.appendTombstones]]); committed data
    * files are never touched. Families whose ledger carries a payload
    * (the postings family's dl) keep their own delete function.
    */
  def delete(spark: SparkSession, dir: String, ids: DataFrame,
      idCol: String): Unit = {
    val lc = ledgerKey
    StoreFiles.appendTombstones(spark, ledgerDir(dir),
      ids.select(col(idCol).as(lc)).distinct(), lc)
  }

  private def ledgerKey: String = ledger.getOrElse(throw
    new IllegalStateException(s"store family '$name' keeps no delete ledger"))

  /** The ledger relation, or None if the store never saw a delete. */
  def ledgerRows(spark: SparkSession, dir: String): Option[DataFrame] =
    StoreFiles.readTombstones(spark, ledgerDir(dir))

  /** Reset the ledger (fresh saves — a new index at the same path
    * must not inherit the old one's deletes).
    */
  def clearLedger(spark: SparkSession, dir: String): Unit =
    StoreFiles.clearTombstones(spark, ledgerDir(dir))

  /** Anti-join the (broadcast) ledger ids out of `df` — the lazy
    * delete adjustment every load applies. A store that never saw a
    * delete keeps its exact pre-tombstone plan: no extra relation, no
    * counter drift.
    */
  def dropDeleted(spark: SparkSession, dir: String, df: DataFrame): DataFrame =
    ledger.fold(df)(lc => ledgerRows(spark, dir).fold(df)(t =>
      df.join(broadcast(t.select(col(lc))), Seq(lc), "left_anti")))

  /** Raw per-sub reader — directory listing, sees torn appends (the
    * contrast that makes the manifest the commit point).
    */
  def raw(spark: SparkSession, dir: String): String => DataFrame =
    sub => spark.read.parquet(s"$dir/$sub")

  /** Committed-snapshot per-sub reader, optionally as of a generation
    * (time travel). Tombstones are NOT applied here — the ledger is
    * unversioned and retroactive, and each family folds it through
    * [[dropDeleted]] in its load assembly.
    */
  def snapshot(spark: SparkSession, dir: String,
      asOf: Option[Long] = None): String => DataFrame =
    sub => StoreFiles.snapshotRead(spark, dir, sub, asOf)

  /** Committed-snapshot per-sub reader with ZONE-MAP file skipping for
    * `colName ∈ [lo, hi]` ([[StoreFiles.snapshotReadSkipping]]):
    * committed files whose recorded envelope misses the range never
    * enter the scan; the predicate is also applied in-plan, so
    * correctness never rests on the stats.
    */
  def snapshotSkipping(spark: SparkSession, dir: String, colName: String,
      lo: Long, hi: Long, asOf: Option[Long] = None): String => DataFrame =
    sub => StoreFiles.snapshotReadSkipping(spark, dir, sub, colName,
      lo, hi, asOf)

  /** [[snapshotSkipping]] for a STRING range — committed files whose
    * recorded UTF-8 envelope misses `colName ∈ [lo, hi]` never enter
    * the scan ([[StoreFiles.snapshotReadSkippingStr]]).
    */
  def snapshotSkippingStr(spark: SparkSession, dir: String,
      colName: String, lo: String, hi: String,
      asOf: Option[Long] = None): String => DataFrame =
    sub => StoreFiles.snapshotReadSkippingStr(spark, dir, sub, colName,
      lo, hi, asOf)

  /** L0 state of a committed store: the appended runs (manifest
    * generations >= 1) and their total committed bytes — the two
    * inputs a compaction trigger reads. Driver FS calls only (one
    * `getFileStatus` per L0 data file — the same scale as the
    * manifest itself); the generation-0 base is deliberately not
    * measured, because L0 policy must not depend on corpus size.
    */
  def l0Stats(spark: SparkSession, dir: String): L0Stats = {
    val l0 = StoreFiles.manifestEntries(spark, dir).filter(_._1 >= 1L)
    val conf = spark.sparkContext.hadoopConfiguration
    val bytes = l0.flatMap(_._2).map { s =>
      val p = new org.apache.hadoop.fs.Path(s)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
    L0Stats(l0.size, bytes)
  }

  /** Size-tiered L0 compaction ([[StoreFiles.compactL0]]): merge the
    * appended manifest generations into one fresh run per sub under its
    * registered [[L0Layout]], re-basing the manifest WITHOUT rewriting
    * the generation-0 base. Returns false below `minRuns` appended
    * generations. The tombstone ledger survives (deleted docs may live
    * in the untouched base — the family's full-rewrite compaction
    * clears it), and so do batch-id headers.
    */
  def compactL0(spark: SparkSession, dir: String, minRuns: Int = 4): Boolean = {
    require(l0.nonEmpty, s"store family '$name' registers no L0 layout")
    StoreFiles.compactL0(spark, dir, subs, minRuns, statCols) { (sub, runs) =>
      val out = s"$dir/$sub"
      l0(sub) match {
        case L0Layout.Coalesce =>
          runs.coalesce(1).write.mode("append").parquet(out)
        case L0Layout.Clustered(key, id, partitioned) =>
          val w = runs.repartitionByRange(StoreFiles.rebaseParts(runs),
            col(key), col(id)).write.mode("append")
          (if (partitioned) w.partitionBy(key) else w).parquet(out)
        case L0Layout.Merge(law) =>
          law(spark, dir, runs).write.mode("append").parquet(out)
      }
    }
  }

  /** Background-maintenance step: measure L0 ([[l0Stats]] — file-system
    * calls, no job), ask the [[CompactionPolicy]], and run [[compactL0]]
    * iff it triggered (minRuns=1: the POLICY is the trigger; the
    * compaction's own count check must not second-guess it). Ingest
    * loops call this unconditionally after every committed append, so
    * the store self-regulates its read amplification (run count) and
    * fragmentation (L0 bytes) at a cost proportional to the ingest,
    * never the corpus. Returns whether a compaction ran.
    */
  def maintain(spark: SparkSession, dir: String,
      policy: CompactionPolicy): Boolean =
    policy.triggered(l0Stats(spark, dir)) && compactL0(spark, dir, minRuns = 1)

  /** The full-compaction scaffold: checkpoint the ledger, pick the
    * source state — the COMMITTED snapshot when manifested (a torn
    * append's orphans must be dropped by the rewrite, never
    * resurrected), else raw + ledger — temp-swap each sub through
    * `layout`, clear the spent ledger, re-base the manifest to a
    * fresh generation 0 (the vacuum-horizon trade: compaction rewrote
    * every committed file, so older snapshots no longer exist to
    * time-travel to). `sources(manifested, ledger)` returns the
    * per-sub relations to rewrite — localCheckpoint'd when they read
    * the store itself, because the swap deletes the files they read.
    * Single-nightly-writer contract, like every stored structure.
    */
  def compactScaffold(spark: SparkSession, dir: String)(
      sources: (Boolean, Option[DataFrame]) => Map[String, DataFrame])(
      layout: (String, DataFrame, String) => Unit): Unit = {
    val tombs = ledger.flatMap(_ => ledgerRows(spark, dir))
      .map(_.localCheckpoint())
    val manifested = StoreFiles.dirExists(spark, s"$dir/manifest")
    val srcs = sources(manifested, tombs)
    for (sub <- subs; src <- srcs.get(sub))
      StoreFiles.swapIn(spark, s"$dir/$sub")(tmp => layout(sub, src, tmp))
    if (tombs.nonEmpty) clearLedger(spark, dir)
    if (manifested) commitInitial(spark, dir)
  }
}

/** How [[StoreFamily.compactL0]] re-bases one sub's appended L0 runs
  * into a single fresh run.
  */
sealed trait L0Layout
object L0Layout {
  /** One file: the rows are order-free, so merging runs is purely
    * physical.
    */
  case object Coalesce extends L0Layout
  /** CLUSTERED re-base: range-partition on (`key`, `id`) with an
    * explicit count ([[StoreFiles.rebaseParts]]), so the compacted
    * run's per-file `id` envelopes stay disjoint and zone-map skipping
    * survives store aging (a hash repartition would give every file the
    * whole id domain). `partitioned` writes `partitionBy(key)`.
    */
  final case class Clustered(key: String, id: String,
      partitioned: Boolean = true) extends L0Layout
  /** A merge law: `law(spark, dir, runs)` folds the runs into fewer
    * rows under the family's algebra, written as it comes.
    */
  final case class Merge(law: (SparkSession, String, DataFrame) => DataFrame)
      extends L0Layout
}

/** One committed store's L0 measurement: appended runs and their
  * total bytes (base excluded — see [[StoreFamily.l0Stats]]).
  */
final case class L0Stats(runs: Int, bytes: Long)

/** AUTO-TRIGGER compaction policy — the background-maintenance
  * decision RocksDB/LSM stores make after every flush, here made
  * after every committed append: compact the L0 runs when either
  * trigger fires —
  *
  *   - `maxRuns`: run-COUNT trigger (read amplification bound: every
  *     snapshot serve unions base + all L0 runs, so runs is the
  *     number of extra file groups each query touches);
  *   - `maxL0Bytes`: run-SIZE trigger (write amplification bound:
  *     many tiny appends can stay under any count threshold forever
  *     while the store fragments — bytes catches the hot-ingest case
  *     the count trigger exists to protect).
  *
  * A policy never fires on an empty L0 (nothing to merge), so ingest
  * loops call [[StoreFamily.maintain]] unconditionally after each
  * commit and the store self-regulates: cost stays proportional to the
  * ingest rate, never the corpus (the compaction itself is
  * [[StoreFiles.compactL0]] — base files untouched).
  */
final case class CompactionPolicy(
    maxRuns: Int = 4,
    maxL0Bytes: Long = Long.MaxValue) {
  require(maxRuns >= 1, s"CompactionPolicy: maxRuns must be >= 1, got $maxRuns")
  require(maxL0Bytes >= 1L,
    s"CompactionPolicy: maxL0Bytes must be >= 1, got $maxL0Bytes")

  /** Should the store compact its L0 now? */
  def triggered(st: L0Stats): Boolean =
    st.runs >= 1 && (st.runs >= maxRuns || st.bytes >= maxL0Bytes)
}

/** The registered store families. Adding family #11 = one line here
  * plus the family's own build/delta/load-assembly code; the whole
  * committed lifecycle (commit, OCC, vacuum, time travel, tombstone
  * fold, compaction scaffold) comes from the descriptor.
  */
object Stores {
  import L0Layout.{Clustered, Coalesce, Merge}

  /** MinHash LSH band index ([[Dedup.BandIndex]]). Deleting an id is
    * load-bearing for a DEDUP gate beyond storage hygiene: after a
    * right-to-be-forgotten delete, a future near-duplicate of the
    * deleted doc MUST be admitted — the tombstoned id can no longer
    * produce candidate pairs, so it cannot block an ingest. The same
    * re-admission holds for [[simhash]] and [[winnow]]. */
  val band = StoreFamily("band", Seq("bands", "sets"), Some("id"),
    statCols = Map("bands" -> Seq("id"), "sets" -> Seq("id")),
    l0 = Map("bands" -> Clustered("band", "id"), "sets" -> Coalesce))
  /** Bloom membership filter ([[Dedup.BloomIndex]]) — no ledger:
    * deletes are the documented stale-keys trade (extra candidates
    * only, scrubbed by the exact confirm). No zone maps: word_idx is
    * hash-uniform per file, so envelopes never prune. */
  val bloom = StoreFamily("bloom", Seq("words"))
  /** SimHash banded fingerprint index ([[Dedup.SimHashIndex]]). */
  val simhash = StoreFamily("simhash", Seq("banded"), Some("id"),
    statCols = Map("banded" -> Seq("id")),
    l0 = Map("banded" -> Clustered("band", "id")))
  /** Connected-components label store (labels + merge remaps).
    *
    * L0 compaction is PURELY physical: remap rows are an order-free
    * edge set resolved to fixpoint at read time
    * ([[Dedup.resolveLabelChains]]), so coalescing runs changes no
    * view; chain SHORTENING is [[Dedup.compactLabelStore]]'s job.
    *
    * A delete tombstones ids, which drop from every served view, with
    * two deliberate approximations: a component a deleted id bridged
    * stays merged (decremental connectivity needs the edge set, which
    * this store does not keep — an offline rebuild from the band index
    * recovers exact splits), and a deleted id may persist as a LABEL
    * value (labels are opaque canonical min-member ids; the deleted
    * doc's content is gone from every relation). Pair-source contract:
    * edges fed to a later [[Dedup.appendLabels]] must come from a probe
    * structure that saw the SAME delete (the [[band]] index), or an
    * edge naming a deleted id would link the batch to that id's old
    * component label. */
  val label = StoreFamily("label", Seq("labels", "remap"), Some("id"),
    statCols = Map("labels" -> Seq("id")),
    l0 = Map("labels" -> Coalesce, "remap" -> Coalesce))
  /** Winnowing fingerprint index ([[Dedup.WinnowIndex]]). */
  val winnow = StoreFamily("winnow", Seq("fps"), Some("id"),
    statCols = Map("fps" -> Seq("id")),
    l0 = Map("fps" -> Coalesce))
  /** IVF coarse-quantized ANN index ([[Similarity.IvfIndex]]);
    * centroids are save-time-immutable and live outside the log. */
  val ivf = StoreFamily("ivf", Seq("assignments"), Some("neighbor_id"),
    statCols = Map("assignments" -> Seq("neighbor_id")),
    l0 = Map("assignments" -> Clustered("cell", "neighbor_id")))
  /** IVF-PQ coded ANN index ([[Similarity.PqIndex]]); centroids and
    * codebooks live outside the log. A delete is bare neighbor_ids:
    * ADC scoring has no corpus-total term, so unlike the [[postings]]
    * delete there are no stats to adjust. */
  val pq = StoreFamily("pq", Seq("codes"), Some("neighbor_id"),
    statCols = Map("codes" -> Seq("neighbor_id")),
    l0 = Map("codes" -> Clustered("cell", "neighbor_id")))
  /** BM25 postings index ([[Retrieval.PostingsIndex]]) — the ledger
    * carries (doc_id, dl) so serve-side stats adjust without a scan;
    * its delete function stays with the family. L0 compaction sums
    * the per-append stats DELTA rows into one delta row (total stats
    * stay base + the deltas). */
  val postings = StoreFamily("postings", Seq("postings", "stats"),
    Some("doc_id"),
    statCols = Map("postings" -> Seq("doc_id")),
    l0 = Map("postings" -> Clustered("bucket", "doc_id"),
      "stats" -> Merge((_, _, runs) =>
        runs.agg(sum(col("n")).as("n"), sum(col("t")).as("t")).coalesce(1))))
  /** Positional phrase index ([[Retrieval.PositionalIndex]]). Phrase
    * matching has no corpus-total term (unlike BM25's (N, T)), so a
    * delete is bare doc_ids and the serve-side adjustment is just the
    * anti join. */
  val positional = StoreFamily("positional", Seq("postings"),
    Some("doc_id"),
    statCols = Map("postings" -> Seq("doc_id")),
    l0 = Map("postings" -> Clustered("bucket", "doc_id")))
  /** Mergeable aggregate state ([[MatView.AggState]]) — no ledger:
    * deletes are explicit retraction delta rows. No zone maps: state
    * keys are group values, not range-predicated ids. L0 compaction
    * collapses the delta runs to at most one row per key under the
    * associative merge [[MatView.serveAgg]] applies (fully-retracted
    * keys keep their cnt=0 row, exactly as the uncollapsed pile would
    * merge). */
  val agg = StoreFamily("agg", Seq("state"),
    l0 = Map("state" -> Merge((spark, dir, runs) =>
      MatView.mergeDeltas(runs, MatView.readParams(spark, dir)._1))))
  /** Exact-duplication suffix index ([[Suffix.DupIndex]]) — the
    * per-token (dup_len, prev_len) relation plus per-doc token counts.
    * Build-once/rebuild (no ledger, no incremental append: a new
    * document can change dup_len at ARBITRARY earlier positions, so
    * no sound per-batch delta exists — the PQ-codebook lifecycle, not
    * the postings one). Both subs are range-clustered on doc_id at
    * save, so the zone maps stay disjoint per file. */
  val suffix = StoreFamily("suffix", Seq("duplens", "doclens"),
    statCols = Map("duplens" -> Seq("doc_id"), "doclens" -> Seq("doc_id")))
  /** Committed raw-document store ([[DocStore]]) — the "bronze table":
    * the corpus itself under the manifest lifecycle, clustered on
    * (source, doc_id) at save so BOTH the string `source` envelope and
    * the integral `doc_id` envelope prune files at plan time (a
    * source- or id-ranged read never lists the rest of the corpus).
    * L0 compaction re-clusters the same way, so the compacted files
    * regain the disjoint envelopes the ingest stream's per-batch files
    * lose. */
  val docstore = StoreFamily("docstore", Seq("docs"), Some("doc_id"),
    statCols = Map("docs" -> Seq("doc_id", "source")),
    l0 = Map("docs" -> Clustered("source", "doc_id", partitioned = false)))
  /** SURVIVOR-TRIM store ([[Suffix.saveSurvTrimCommitted]]) — the
    * curation capstone's exact-trim stage made build-once: the DEDUP
    * STAGE'S OUTPUT (the keep-best survivor corpus) committed next to
    * its own suffix duplication index. The full-corpus [[suffix]]
    * store is deliberately the WRONG index for the post-dedup trim
    * (prev_len must be computed against what dedup KEPT, or "first
    * occurrence" could point at a removed duplicate), so the survivor
    * index is its own family, keyed by the dedup output. Build-once/
    * rebuild like [[suffix]] (no sound per-batch delta exists). */
  val survtrim = StoreFamily("survtrim",
    Seq("duplens", "doclens", "surv"),
    statCols = Map("duplens" -> Seq("doc_id"), "doclens" -> Seq("doc_id"),
      "surv" -> Seq("doc_id")))
}
