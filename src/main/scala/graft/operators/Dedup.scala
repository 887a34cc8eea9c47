package graft.operators

import graft.functions.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Document deduplication for large-scale training-data pipelines: exact
  * (hash groupBy), MinHash+LSH banding, SimHash hamming, and exact n-gram
  * Jaccard (builder-prompt extension surface).
  *
  * Scale design: every algorithm is shuffle-bounded on its bucketing key —
  * exact dedup shuffles once on the content hash; MinHash shuffles on
  * (band, band_hash) so only genuinely-similar docs meet; SimHash shuffles
  * on band values (pigeonhole-complete: maxHamming+1 bands ⇒ every
  * qualifying pair shares a band);
  * n-gram Jaccard shuffles on shingles (inverted index) and never
  * materializes the doc×doc cross product. All hashing is md5-based so the
  * same algorithm is expressible in any SQL engine for oracle checks.
  */
object Dedup {

  /** Tracks the intermediate frames an operator caches so the CALLER can
    * release them once the (lazy) result is materialized — a long-lived
    * session issuing many dedup jobs would otherwise accumulate
    * MEMORY_AND_DISK shingle sets until LRU pressure. Default
    * [[CacheHandle.untracked]] keeps the old fire-and-forget behavior.
    */
  final class CacheHandle(private val record: Boolean = true) {
    private val frames = scala.collection.mutable.Buffer.empty[DataFrame]
    private[graft] def track(df: DataFrame): DataFrame = {
      df.cache()
      trackCached(df)
    }
    /** Record an ALREADY-cached frame (avoids the CacheManager
      * "already cached" warning a second `.cache()` would log).
      */
    private[graft] def trackCached(df: DataFrame): DataFrame = {
      // synchronized: concurrent dedup jobs may share a handle
      if (record) frames.synchronized { frames += df }
      df
    }
    /** Unpersist every tracked frame (call AFTER materializing results). */
    def release(): Unit = frames.synchronized {
      frames.foreach(_.unpersist()); frames.clear()
    }
  }
  object CacheHandle {
    /** Shared sink for callers that don't manage cache lifetime — caches
      * but deliberately records NOTHING (a JVM-lifetime buffer of every
      * default-arg call's frame would itself be the leak, and a stray
      * `untracked.release()` would unpersist unrelated in-flight jobs).
      */
    val untracked: CacheHandle = new CacheHandle(record = false)
  }

  /** Exact-duplicate clusters on a content key (default: normalized md5
    * fingerprint). Returns (key, representative = min id, dup_count ≥ 2).
    */
  def exactClusters(df: DataFrame, idCol: String, key: Column): DataFrame =
    df.select(col(idCol), key.as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("representative"), count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  /** Keep one representative (min id) per content key — the dedup action. */
  def dedupExact(df: DataFrame, idCol: String, key: Column): DataFrame =
    Relational.dedupByKey(df.withColumn("__fp", key), "__fp",
      Seq(col(idCol).asc)).drop("__fp")

  /** Cross-group duplicate-pair matrix: for every exact-duplicate pair
    * (same content key, distinct ids), count pairs per unordered group
    * pair — "which crawl sources copy from which" / train–eval leakage
    * accounting. Returns (grp_a ≤ grp_b, n_pairs).
    *
    * Plan shape: a hash self-equi-join on the fixed-width content key —
    * no cross product anywhere; a duplicate cluster of size c costs
    * c(c-1)/2 pairs, which for NORMAL clusters is just the output size.
    * The pathological case — ONE boilerplate fingerprint spanning every
    * source at 100 TB — would emit c(c-1)/2 ≈ 10¹⁶ rows from a single
    * shuffle key, so clusters larger than `maxClusterSize` are EXCLUDED
    * here (the guard is a co-partitioned size join on the same fp key,
    * not an extra wide shuffle) and surfaced cluster-level by
    * [[crossGroupDupOversized]] — report the c-row cluster, never its
    * c² pairs. The default cap keeps any one cluster's pair emission
    * ≤ ~5·10⁷ rows; testdata clusters sit far below it, so capped and
    * uncapped results agree everywhere the cap doesn't bind.
    */
  def crossGroupDupMatrix(df: DataFrame, idCol: String, grpCol: String,
      key: Column, maxClusterSize: Long = 10000L): DataFrame = {
    val d = df.select(col(idCol).as("id"), col(grpCol).as("grp"), key.as("fp"))
    val small = d.join(
      d.groupBy(col("fp")).agg(count(lit(1)).as("__csz"))
        .filter(col("__csz") <= maxClusterSize)
        .select(col("fp")),
      Seq("fp"), "left_semi")
    val a = small.select(col("fp"), col("id").as("id_a"), col("grp").as("grp_l"))
    val b = small.select(col("fp"), col("id").as("id_b"), col("grp").as("grp_r"))
    a.join(b, Seq("fp")).filter(col("id_a") < col("id_b"))
      .select(least(col("grp_l"), col("grp_r")).as("grp_a"),
        greatest(col("grp_l"), col("grp_r")).as("grp_b"))
      .groupBy(col("grp_a"), col("grp_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** The clusters [[crossGroupDupMatrix]] refused to expand: fingerprints
    * whose duplicate cluster exceeds `maxClusterSize`, reported at
    * CLUSTER granularity — (fp, cluster_size, n_groups) — so the signal
    * ("this boilerplate spans k sources, c docs") survives without the
    * c(c-1)/2 pair blowup. Output is bounded by the number of oversized
    * fingerprints, each costing one aggregation row.
    */
  def crossGroupDupOversized(df: DataFrame, idCol: String, grpCol: String,
      key: Column, maxClusterSize: Long = 10000L): DataFrame =
    df.select(col(idCol).as("id"), col(grpCol).as("grp"), key.as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("cluster_size"),
        countDistinct(col("grp")).as("n_groups"))
      .filter(col("cluster_size") > maxClusterSize)

  /** Distinct (id, shingle) pairs — the exploded posting-list relation
    * for MinHash signatures and prefix indexing.
    */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    shingleSets(df, idCol, textCol, n)
      .select(col("id"), explode(col("shset")).as("shingle"))

  /** MinHash signatures via Kirsch-Mitzenmacher double hashing: ONE md5
    * per shingle yields two independent integers (h1 = hex[1..15],
    * h2 = hex[16..29]); permutation i is `h1 + i·h2` (h2 is 56-bit so the
    * sum never overflows a signed long for i < 64). One hash call instead
    * of `numHashes` — and still expressible in any engine with md5 for
    * the oracle mirror. Returns (id, seed, sig).
    */
  def minHashSignatures(sh: DataFrame, numHashes: Int): DataFrame =
    minHashAgg(sh.select(col("id"),
      conv(substring(md5(col("shingle")), 1, 15), 16, 10).cast("long").as("h1"),
      conv(substring(md5(col("shingle")), 16, 14), 16, 10).cast("long").as("h2")),
      numHashes)

  /** The aggregation half of [[minHashSignatures]], over an ALREADY
    * hashed (id, h1, h2) relation — shared by the string path above and
    * the long-payload path ([[hashedShingleSets]]).
    */
  private def minHashAgg(hashed: DataFrame, numHashes: Int): DataFrame = {
    // all numHashes mins in ONE groupBy(id) (map-side combined) — the
    // explode-seeds-then-shuffle alternative moves numHashes× the rows
    val aggs = (0 until numHashes).map(i =>
      min(col("h1") + lit(i) * col("h2")).as(s"__sig$i"))
    hashed.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
      .select(col("id"), explode(array((0 until numHashes).map(i =>
        struct(lit(i).as("seed"), col(s"__sig$i").as("sig"))): _*)).as("s"))
      .select(col("id"), col("s.seed"), col("s.sig"))
  }

  /** LSH banding: group signatures into `numHashes/rowsPerBand` bands,
    * hash each band; docs sharing any (band, band_hash) are candidates.
    * Returns (id, band, band_hash).
    */
  def lshBands(sigs: DataFrame, rowsPerBand: Int): DataFrame =
    sigs.withColumn("band", (col("seed") / rowsPerBand).cast("int"))
      .groupBy(col("id"), col("band"))
      // array_sort + fixed '|' joiner: band hash must not depend on the
      // (nondeterministic) aggregation arrival order of the r sigs.
      .agg(md5(concat_ws("|", array_sort(collect_list(
        concat(col("seed").cast("string"), lit(":"), col("sig").cast("string"))))))
        .as("band_hash"))

  /** Per-doc distinct shingle SETS — the verify-side relation: one array
    * row per doc instead of an exploded posting list.
    */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("id"),
      array_distinct(TextAnalysis.wordNGrams(col(textCol), n)).as("shset"))

  /** [[shingleSets]] with the strings HASHED AWAY at build time: per doc
    * one array of (h1, h2) structs — the md5-derived longs
    * [[minHashSignatures]] computes per shingle anyway, now computed
    * once while the cache is built. Everything downstream (signature
    * mins, band hashes, intersection counts) runs on longs: the cached
    * payload is ~16 bytes/shingle instead of a ~30-char string, and the
    * verify step's set intersection allocates no strings at all — the
    * GC lever for the q68/q72/q105/q108 family, whose task GC was
    * string churn, not compute.
    *
    * Exactness: two DISTINCT shingles of one doc would merge only on a
    * 120-bit md5-prefix collision (P < 2⁻¹⁰⁰ corpus-wide at any
    * realistic scale — far inside the engine-exactness envelopes
    * accepted elsewhere, cf. the md5 bucket and BIGINT bounds), so
    * signatures, candidates, and Jaccard values are bit-identical to
    * the string path and the SAME DuckDB mirror stays exact.
    */
  def hashedShingleSets(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val sharr = array_distinct(TextAnalysis.wordNGrams(col(textCol), n))
    df.select(col(idCol).as("id"),
      transform(sharr, s => struct(
        conv(substring(md5(s), 1, 15), 16, 10).cast("long").as("h1"),
        conv(substring(md5(s), 16, 14), 16, 10).cast("long").as("h2")))
        .as("harr"))
  }

  /** Exact Jaccard for candidate pairs: |A∩B| / (|A|+|B|-|A∩B|) computed
    * with array_intersect over the per-doc sets — two narrow joins and
    * zero explosion (the exploded-postings verify shuffles |pairs|×|doc|
    * rows; this shuffles |pairs|).
    */
  def verifyJaccard(docSets: DataFrame, candidates: DataFrame): DataFrame = {
    val a = docSets.select(col("id").as("id_a"), col("shset").as("set_a"))
    val b = docSets.select(col("id").as("id_b"), col("shset").as("set_b"))
    candidates.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("set_a"), col("set_b"))).as("n_common"),
        size(col("set_a")).as("n_a"), size(col("set_b")).as("n_b"))
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
  }

  /** Full MinHash+LSH near-dup pipeline: shingle → sign → band → bucket-join
    * → exact-Jaccard verify ≥ `threshold`. Output (id_a, id_b, jaccard).
    *
    * Runs on the HASHED shingle payload ([[hashedShingleSets]]): the
    * cache holds long pairs, signatures aggregate longs, and the verify
    * intersects long arrays — values identical to the string path (see
    * the collision envelope there), at a fraction of the allocation.
    */
  def minHashLshPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 12, rowsPerBand: Int = 2,
      threshold: Double = 0.5,
      cache: CacheHandle = CacheHandle.untracked): DataFrame = {
    // cached because signatures and verify both consume it; pass a real
    // CacheHandle and release() after materializing to bound memory in
    // long-lived sessions
    val sets = cache.track(hashedShingleSets(df, idCol, textCol, shingleSize))
    val hsh = sets.select(col("id"), explode(col("harr")).as("h"))
      .select(col("id"), col("h.h1").as("h1"), col("h.h2").as("h2"))
    val bands = lshBands(minHashAgg(hsh, numHashes), rowsPerBand)
    val l = bands.select(col("band"), col("band_hash"), col("id").as("id_a"))
    val r = bands.select(col("band"), col("band_hash"), col("id").as("id_b"))
    val candidates = l.join(r, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    verifyJaccardHashed(sets, candidates).filter(col("jaccard") >= threshold)
  }

  /** [[verifyJaccard]] over the hashed payload: candidates join the
    * per-doc (h1, h2) arrays and intersect on the h1 KEYS — long-array
    * intersection, no string allocation.
    *
    * Collision envelope — DELIBERATELY 60-bit here, narrower than
    * [[hashedShingleSets]]' 120-bit build envelope: the VERIFY step's
    * set counts ride h1 alone, so two distinct shingles of a candidate
    * pair merge at ~2⁻⁶⁰ per pair (≈10⁻⁹ corpus-wide even at a billion
    * verified pairs — still far inside the engine-exactness envelopes
    * accepted elsewhere). The full-struct alternative was MEASURED and
    * rejected: `array_intersect` over struct elements leaves codegen
    * and runs the whole minhash family 2.4–6.7× slower at sf0.1
    * (q51 1.6→9.6 s, q68 2.9→10.3 s, q101/q105/q160/q208 with it) —
    * a real regression bought against a purely theoretical bound.
    * Signatures, bands, and candidate generation keep the 120-bit
    * envelope; only the verify's intersection COUNT narrows.
    * `array_intersect` / `array_distinct` already return distinct
    * elements, mirroring the string path's distinct-shingle counts.
    */
  def verifyJaccardHashed(docSets: DataFrame, candidates: DataFrame): DataFrame = {
    def keys(c: Column): Column = transform(c, x => x.getField("h1"))
    val a = docSets.select(col("id").as("id_a"), keys(col("harr")).as("set_a"))
    val b = docSets.select(col("id").as("id_b"), keys(col("harr")).as("set_b"))
    candidates.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("set_a"), col("set_b"))).as("n_common"),
        size(array_distinct(col("set_a"))).as("n_a"),
        size(array_distinct(col("set_b"))).as("n_b"))
      .select(col("id_a"), col("id_b"),
        (col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common"))).as("jaccard"))
  }

  /** WITHIN-corpus near-dup pairs derived from an ALREADY-BUILT band
    * index — [[minHashLshPairs]] without its shingle+sign pass: the
    * index's own bands self-join for candidates and its sets feed the
    * hashed verify. Identical rows to [[minHashLshPairs]] with the
    * index's parameters (same bands, same verify). This is the seed
    * idiom for the label-store rows: a pipeline that both STORES the
    * band index and floods components from its pairs was paying the
    * corpus shingle+sign twice — build the index once, derive the
    * pairs from it.
    */
  def minHashLshPairsFromIndex(index: BandIndex,
      threshold: Double = 0.5): DataFrame = {
    val l = index.bands.select(col("band"), col("band_hash"),
      col("id").as("id_a"))
    val r = index.bands.select(col("band"), col("band_hash"),
      col("id").as("id_b"))
    val candidates = l.join(r, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    verifyJaccardHashed(index.sets, candidates)
      .filter(col("jaccard") >= threshold)
  }

  /** [[minHashLshProbe]] over an ALREADY-BUILT batch index — the probe
    * without its shingle+sign pass, for callers that need the batch's
    * within-pairs AND its cross-pairs in one trigger (the label-stream
    * shape): build the batch's bands/sets once, derive both from it.
    * Parameters must match (required — a mismatched probe is a silent
    * recall hole).
    */
  def minHashLshProbeIndexed(index: BandIndex, batchIdx: BandIndex,
      threshold: Double = 0.5): DataFrame = {
    require(index.shingleSize == batchIdx.shingleSize &&
        index.numHashes == batchIdx.numHashes &&
        index.rowsPerBand == batchIdx.rowsPerBand,
      s"minHashLshProbeIndexed: parameter mismatch — index " +
        s"(${index.shingleSize},${index.numHashes},${index.rowsPerBand}) " +
        s"vs batch (${batchIdx.shingleSize},${batchIdx.numHashes}," +
        s"${batchIdx.rowsPerBand})")
    val nb = batchIdx.bands.select(col("band"), col("band_hash"),
      col("id").as("nid"))
    val c = index.bands.select(col("band"), col("band_hash"),
      col("id").as("cid"))
    val candidates = nb.join(c, Seq("band", "band_hash"))
      .select(least(col("nid"), col("cid")).as("id_a"),
        greatest(col("nid"), col("cid")).as("id_b"))
      .distinct()
    verifyJaccardHashed(index.sets.unionByName(batchIdx.sets), candidates)
      .filter(col("jaccard") >= threshold)
  }

  /** A label-ingest trigger's WHOLE pair derivation in ONE verify pass:
    * the batch's within-pairs ([[minHashLshPairsFromIndex]] on
    * `batchIdx`) plus its cross-pairs against the stored index
    * ([[minHashLshProbeIndexed]]) — the same pair SET, computed by
    * unioning the two CANDIDATE relations before a single hashed verify
    * over (index ∪ batch) sets instead of verifying each side
    * separately: two joins against the sets relation instead of four,
    * one candidate distinct instead of two. Contract: index and batch
    * ids disjoint (every lifecycle row's invariant — a batch id already
    * in the index would make a within-pair coincide with a cross-pair,
    * which this fused form emits once where the two-call form emitted
    * it twice); consumers are edge floods that de-duplicate pairs
    * anyway ([[connectedComponents]]), so multiplicity is not part of
    * the contract. Returns (id_a, id_b).
    */
  def minHashLshLabelPairs(index: BandIndex, batchIdx: BandIndex,
      threshold: Double = 0.5): DataFrame = {
    require(index.shingleSize == batchIdx.shingleSize &&
        index.numHashes == batchIdx.numHashes &&
        index.rowsPerBand == batchIdx.rowsPerBand,
      s"minHashLshLabelPairs: parameter mismatch — index " +
        s"(${index.shingleSize},${index.numHashes},${index.rowsPerBand}) " +
        s"vs batch (${batchIdx.shingleSize},${batchIdx.numHashes}," +
        s"${batchIdx.rowsPerBand})")
    val bl = batchIdx.bands.select(col("band"), col("band_hash"),
      col("id").as("id_a"))
    val br = batchIdx.bands.select(col("band"), col("band_hash"),
      col("id").as("id_b"))
    val within = bl.join(br, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val nb = batchIdx.bands.select(col("band"), col("band_hash"),
      col("id").as("nid"))
    val c = index.bands.select(col("band"), col("band_hash"),
      col("id").as("cid"))
    val across = nb.join(c, Seq("band", "band_hash"))
      .select(least(col("nid"), col("cid")).as("id_a"),
        greatest(col("nid"), col("cid")).as("id_b"))
    val candidates = within.unionByName(across).distinct()
    verifyJaccardHashed(index.sets.unionByName(batchIdx.sets), candidates)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** Near-dup pairs of a NEW batch against an EXISTING corpus — the
    * incremental form of [[minHashLshPairs]] and the fuzzy analog of a
    * fingerprint anti-join: dedup tonight's crawl against the corpus
    * without re-pairing the corpus with itself.
    *
    * Production shape: the corpus side's band table is precomputed and
    * STORED (a signature index, refreshed as batches are accepted);
    * only the new batch is shingled and signed per run, and the bucket
    * join probes the stored bands — corpus text is never re-read. This
    * convenience form builds the index in-plan ([[buildBandIndex]]) and
    * probes it ([[minHashLshProbe]]); the stored case saves/loads the
    * SAME index ([[saveBandIndex]]/[[loadBandIndex]]) and the plan from
    * the bucket join onward is identical. Within-corpus and within-batch
    * pairs never form by construction (the join is new × corpus). Ids
    * must be disjoint across the sides. Returns
    * (id_a < id_b, jaccard ≥ threshold), cross pairs only.
    */
  def minHashLshPairsAcross(corpus: DataFrame, newBatch: DataFrame,
      idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 12, rowsPerBand: Int = 2,
      threshold: Double = 0.5,
      cache: CacheHandle = CacheHandle.untracked): DataFrame =
    minHashLshProbe(
      buildBandIndex(corpus, idCol, textCol, shingleSize, numHashes,
        rowsPerBand, cache),
      newBatch, idCol, textCol, threshold, cache)

  // ------------------------------------------------------------------
  // Persisted MinHash band index — the stored form the `Across` Scaladoc
  // promises: band-partitioned signature table + the shingle sets the
  // exact-Jaccard verify needs. Mirrors the IVF index API
  // (build/save/load/probe, cf. Similarity.saveIvfIndex): accept a batch
  // → probe the stored bands → union the accepted batch into the index —
  // corpus text is never re-shingled at probe time.
  // ------------------------------------------------------------------

  /** A stored-or-in-memory LSH index over a corpus: `bands` is
    * (band, band_hash, id), `sets` the per-doc distinct HASHED shingle
    * arrays ((h1, h2) long structs — [[hashedShingleSets]]; ~16 B per
    * shingle on disk and in cache instead of a ~30-char string), and
    * the three parameters that SHAPE the index travel with it so a
    * probe can never silently hash with mismatched settings.
    */
  final case class BandIndex(bands: DataFrame, sets: DataFrame,
      shingleSize: Int, numHashes: Int, rowsPerBand: Int)

  /** Shingle + sign + band the corpus once. `sets` is cache-tracked (both
    * the band build and any later verify consume it).
    */
  def buildBandIndex(corpus: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 12, rowsPerBand: Int = 2,
      cache: CacheHandle = CacheHandle.untracked): BandIndex = {
    // HASHED payload end-to-end ([[hashedShingleSets]]): the stored
    // sets table holds (h1, h2) long pairs (~16 B/shingle instead of a
    // ~30-char string), signatures aggregate longs, and every probe's
    // verify intersects long structs — values bit-identical to the
    // string path (see the collision envelope there), which is why the
    // family's oracle mirrors needed no change when the format moved
    val sets = cache.track(
      hashedShingleSets(corpus, idCol, textCol, shingleSize))
    val bands = lshBands(minHashAgg(
      sets.select(col("id"), explode(col("harr")).as("h"))
        .select(col("id"), col("h.h1").as("h1"), col("h.h2").as("h2")),
      numHashes), rowsPerBand)
    BandIndex(bands, sets, shingleSize, numHashes, rowsPerBand)
  }

  /** Persist: bands PARTITIONED BY band (a probe of one band's buckets
    * prunes to that band's files), sets keyed by id, parameters as a
    * one-row `params` parquet so load() restores an index that can only
    * be probed the way it was built.
    */
  def saveBandIndex(index: BandIndex, dir: String): Unit = {
    val spark = index.bands.sparkSession
    Stores.band.clearLedger(spark, dir)
    StoreFiles.clusterForWrite(index.bands, "band")
      .write.mode("overwrite").partitionBy("band")
      .parquet(s"$dir/bands")
    index.sets.write.mode("overwrite").parquet(s"$dir/sets")
    StoreFiles.writeParams(spark, dir, Seq(
      "shingle_size" -> index.shingleSize.toString,
      "num_hashes" -> index.numHashes.toString,
      "rows_per_band" -> index.rowsPerBand.toString))
  }

  /** Assemble a [[BandIndex]] under a per-sub reader (raw or
    * snapshot); with tombstones present BOTH relations anti-join the
    * ledger lazily, a store that never saw a delete keeps its exact
    * pre-tombstone plan.
    */
  private def mkBandIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, rd: String => DataFrame): BandIndex = {
    val p = StoreFiles.readParams(spark, dir)
    BandIndex(Stores.band.dropDeleted(spark, dir, rd("bands")),
      Stores.band.dropDeleted(spark, dir, rd("sets")),
      p("shingle_size").toInt, p("num_hashes").toInt,
      p("rows_per_band").toInt)
  }

  /** Load a stored index from the raw directories. */
  def loadBandIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): BandIndex =
    mkBandIndex(spark, dir, Stores.band.raw(spark, dir))

  /** Incrementally add an ACCEPTED batch to a stored index: shingle +
    * sign + band the batch with the INDEX'S OWN parameters (loaded from
    * its params file — a mismatched probe/append can't happen) and
    * append to the band-partitioned table and the sets table. Existing
    * files are never rewritten (the nightly-ingest shape; the IVF twin
    * is [[graft.operators.Similarity.appendIvfIndex]]). Appending a
    * batch BEFORE probing it makes the probe see the batch in the index
    * and emit degenerate self-pairs — probe first, then append.
    */
  def appendBandIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      batch: DataFrame, idCol: String, textCol: String): Unit = {
    // only the params are needed — loading the full index would list
    // and footer-scan the (large) bands/sets tables for nothing
    val p = StoreFiles.readParams(spark, dir)
    val (shingleSize, numHashes, rowsPerBand) =
      (p("shingle_size").toInt, p("num_hashes").toInt,
        p("rows_per_band").toInt)
    // cached: the band write and the sets write both consume it — an
    // uncached plan would shingle the batch twice
    val nSets = hashedShingleSets(batch, idCol, textCol, shingleSize).cache()
    try {
      StoreFiles.clusterForWrite(lshBands(minHashAgg(
          nSets.select(col("id"), explode(col("harr")).as("h"))
            .select(col("id"), col("h.h1").as("h1"), col("h.h2").as("h2")),
          numHashes), rowsPerBand), "band")
        .write.mode("append").partitionBy("band").parquet(s"$dir/bands")
      nSets.write.mode("append").parquet(s"$dir/sets")
    } finally { nSets.unpersist(); () }
  }

  /** [[appendBandIndex]] from an ALREADY-BUILT batch index — for
    * callers that banded the batch this trigger anyway (the label
    * lifecycle: within-pairs, probe, and append all from ONE
    * shingle+sign pass): writes the index's own bands/sets relations —
    * rows identical to re-deriving them from the batch text, without
    * paying the re-shingle [[appendBandIndex]]'s standalone shape
    * pays. The parameters must match the stored index's (required — a
    * mismatched append would poison every later probe).
    */
  def appendBandIndexFrom(spark: org.apache.spark.sql.SparkSession,
      dir: String, idx: BandIndex): Unit = {
    val p = StoreFiles.readParams(spark, dir)
    require(idx.shingleSize == p("shingle_size").toInt &&
        idx.numHashes == p("num_hashes").toInt &&
        idx.rowsPerBand == p("rows_per_band").toInt,
      s"appendBandIndexFrom: parameter mismatch — stored " +
        s"(${p("shingle_size")},${p("num_hashes")},${p("rows_per_band")}) " +
        s"vs batch (${idx.shingleSize},${idx.numHashes},${idx.rowsPerBand})")
    StoreFiles.clusterForWrite(idx.bands, "band")
      .write.mode("append").partitionBy("band").parquet(s"$dir/bands")
    idx.sets.write.mode("append").parquet(s"$dir/sets")
  }

  /** Nightly small-file compaction for a stored band index: rewrite the
    * band-partitioned `bands` into one file per band (a repartition on
    * the partition key lands each band in a single task) and `sets`
    * into `setsFiles` files, via [[StoreFiles.swapIn]]'s guarded
    * temp-swap. Probe results are unchanged — the relations are
    * identical, only the file layout shrinks. Params are untouched.
    */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, setsFiles: Int = 8): Unit = {
    require(setsFiles >= 1, s"setsFiles must be >= 1, got $setsFiles")
    Stores.band.compactScaffold(spark, dir) { (manifested, tombs) =>
      if (manifested) {
        val snap = loadBandIndexSnapshot(spark, dir)
        Map("bands" -> snap.bands.localCheckpoint(),
          "sets" -> snap.sets.localCheckpoint())
      } else {
        val rawB = spark.read.parquet(s"$dir/bands")
        val rawS = spark.read.parquet(s"$dir/sets")
        Map(
          "bands" -> tombs.fold(rawB)(t =>
            rawB.join(broadcast(t), Seq("id"), "left_anti")),
          "sets" -> tombs.fold(rawS)(t =>
            rawS.join(broadcast(t), Seq("id"), "left_anti")))
      }
    } {
      case ("bands", src, tmp) =>
        src.repartition(col("band")).write.partitionBy("band").parquet(tmp)
      case (_, src, tmp) => src.coalesce(setsFiles).write.parquet(tmp)
    }
  }

  // --- committed lifecycle: [[Stores.band]] (manifest commit point,
  // --- OCC, vacuum, time travel, retroactive deletes)

  /** [[saveBandIndex]] plus the initial manifest (generation 0). */
  def saveBandIndexCommitted(index: BandIndex, dir: String): Unit =
    Stores.band.saveCommitted(index.bands.sparkSession, dir) {
      saveBandIndex(index, dir)
    }

  /** [[appendBandIndex]] with a commit point (OCC via `expectedGen`);
    * returns the committed generation.
    */
  def appendBandIndexCommitted(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, idCol: String, textCol: String,
      expectedGen: Option[Long] = None): Long =
    Stores.band.appendCommitted(spark, dir, expectedGen) {
      appendBandIndex(spark, dir, batch, idCol, textCol)
    }

  /** [[appendBandIndexCommitted]] made EXACTLY-ONCE for a replayable
    * writer (foreachBatch): `batchId` rides the manifest commit as a
    * ledger header; a re-delivered id writes nothing and returns None
    * ([[StoreFiles.commitAppendIdempotent]] — the ledger survives
    * [[StoreFamily.compactL0]]'s re-base).
    */
  def appendBandIndexCommittedIdempotent(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      batch: DataFrame, idCol: String, textCol: String,
      batchId: Long): Option[Long] =
    Stores.band.appendCommittedIdempotent(spark, dir, batchId) {
      appendBandIndex(spark, dir, batch, idCol, textCol)
    }

  /** Load exactly the COMMITTED file set (optionally as of a
    * generation); tombstones apply as in [[loadBandIndex]] — the delete
    * ledger is unversioned, so a forgotten doc never resurfaces through
    * a historical read.
    */
  def loadBandIndexSnapshot(spark: org.apache.spark.sql.SparkSession,
      dir: String, asOf: Option[Long] = None): BandIndex =
    mkBandIndex(spark, dir, Stores.band.snapshot(spark, dir, asOf))

  /** Probe a (possibly loaded) band index with a new batch: only the
    * batch is shingled and signed; candidates are cross-side bucket
    * collisions; verify is exact Jaccard over batch sets ∪ INDEXED sets.
    * Within-corpus and within-batch pairs never form by construction.
    * Ids must be disjoint across the sides. Returns
    * (id_a < id_b, jaccard ≥ threshold), cross pairs only.
    */
  def minHashLshProbe(index: BandIndex, newBatch: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.5,
      cache: CacheHandle = CacheHandle.untracked): DataFrame = {
    val nSets = cache.track(
      hashedShingleSets(newBatch, idCol, textCol, index.shingleSize))
    val nb = lshBands(minHashAgg(
        nSets.select(col("id"), explode(col("harr")).as("h"))
          .select(col("id"), col("h.h1").as("h1"), col("h.h2").as("h2")),
        index.numHashes), index.rowsPerBand)
      .select(col("band"), col("band_hash"), col("id").as("nid"))
    val c = index.bands.select(col("band"), col("band_hash"),
      col("id").as("cid"))
    val candidates = nb.join(c, Seq("band", "band_hash"))
      .select(least(col("nid"), col("cid")).as("id_a"),
        greatest(col("nid"), col("cid")).as("id_b"))
      .distinct()
    verifyJaccardHashed(index.sets.unionByName(nSets), candidates)
      .filter(col("jaccard") >= threshold)
  }

  // ------------------------------------------------------------------
  // Bloom-gated exact membership — the standard cheap pre-filter in
  // front of an incremental dedup join at corpus scale. The bitmap is
  // a RELATION (word_idx, 64 bits), not driver state: m = 2^30 bits is
  // 16M rows / 128 MB however big the corpus, it broadcasts (or
  // bucket-joins, beyond ~8 GB bitmaps) to the probe side, and at
  // 100 TB it would be built once and persisted next to the corpus
  // (the fingerprint twin of the band/IVF index lifecycle). Bloom
  // positions use the Kirsch–Mitzenmacher double-hash scheme over
  // xxhash64 (two seeds), same construction as the minhash family.
  //
  // No oracle mirror is needed anywhere: a Bloom filter has NO false
  // negatives, and every positive is exact-verified against the
  // corpus, so the gated result EQUALS the plain anti join — which is
  // exactly what q117's plain-SQL oracle checks.
  //
  // DELETES need no tombstones here, unlike the band/SimHash/IVF/PQ/
  // postings families: bits can't be unset (that's a counting filter),
  // but they don't have to be — the confirm relation is the source of
  // truth, so removing a key from the CORPUS side is sufficient. The
  // deleted key's stale bits cost exactly one extra confirm lookup if
  // the same fingerprint ever arrives again, never a wrong answer.
  // ------------------------------------------------------------------

  /** The kHashes bit positions of a key in an mBits-bit Bloom filter:
    * pos_i = (h1 + i·h2) mod m, both hashes pre-reduced mod m so every
    * intermediate stays far from Long range (ANSI mode would reject an
    * overflowing multiply); h2 lands in 1..m−1 (the classic
    * `mod (m−1) + 1` step) so the k probes never collapse onto one bit.
    */
  private def bloomPositions(key: Column, mBits: Long, kHashes: Int): Column = {
    // mBits = 1 would divide by zero in the h2 reduction; the upper
    // bound keeps the worst intermediate h1 + (k−1)·h2 < kHashes·mBits
    // inside Long range, preserving the no-false-negative guarantee
    // (an overflow would wrap silently in non-ANSI mode)
    require(mBits >= 2 && kHashes >= 1 && mBits <= Long.MaxValue / kHashes,
      s"bloom params out of range: mBits=$mBits kHashes=$kHashes " +
        s"(need mBits in [2, Long.MaxValue/kHashes], kHashes >= 1)")
    val h1 = pmod(xxhash64(lit("bloom1"), key), lit(mBits))
    val h2 = pmod(xxhash64(lit("bloom2"), key), lit(mBits - 1)) + 1L
    array((0 until kHashes).map(i =>
      pmod(h1 + lit(i.toLong) * h2, lit(mBits))): _*)
  }

  /** Build the filter over `keys` as (word, bits) rows — word =
    * position / 64, bits = OR of the position masks. Rows for words
    * with no set bit are simply absent (a probe treats absence as 0).
    * One explode + one groupBy(word) shuffle of kHashes×|keys| longs;
    * the result has at most mBits/64 rows.
    */
  def bloomBuild(keys: DataFrame, key: Column, mBits: Long = 1L << 20,
      kHashes: Int = 7): DataFrame =
    keys.select(explode(bloomPositions(key, mBits, kHashes)).as("pos"))
      .select(shiftright(col("pos"), 6).as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("mask"))
      .groupBy(col("word")).agg(expr("bit_or(mask)").as("bits"))

  /** Distinct probe keys the filter reports PRESENT (every one of the
    * kHashes bits set) — the corpus members plus the false positives
    * (rate ≈ (1 − e^(−k·n/m))^k; ~1% at 10 bits/element, k = 7).
    * The words side broadcasts; a missing word row means bit unset.
    */
  def bloomCandidates(batch: DataFrame, keyCol: String, words: DataFrame,
      mBits: Long = 1L << 20, kHashes: Int = 7): DataFrame =
    batch.select(col(keyCol)).distinct()
      .select(col(keyCol),
        explode(bloomPositions(col(keyCol), mBits, kHashes)).as("pos"))
      .select(col(keyCol), shiftright(col("pos"), 6).as("word"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").as("mask"))
      .join(broadcast(words), Seq("word"), "left")
      .groupBy(col(keyCol))
      .agg(min(when(col("bits").isNotNull &&
        (col("bits").bitwiseAND(col("mask")) =!= 0), 1).otherwise(0)).as("hit"))
      .filter(col("hit") === 1).select(col(keyCol))

  /** Batch rows whose key is NOT in the corpus — semantically IDENTICAL
    * to `batch.join(corpus, key, "left_anti")`, executed as:
    * bloom-build over corpus keys → probe the batch's distinct keys →
    * exact-confirm ONLY the bloom positives with a scan-side semi join
    * (candidates broadcast; the corpus never shuffles) → anti join the
    * batch against the confirmed members (also broadcast — confirmed ⊆
    * batch keys). The corpus is read twice but shuffled zero times; at
    * scale the first read amortizes away by persisting the (word, bits)
    * relation alongside the corpus.
    */
  def bloomGatedAntiJoin(batch: DataFrame, corpus: DataFrame,
      keyCol: String, mBits: Long = 1L << 20, kHashes: Int = 7,
      maxBroadcastCandidates: Long = 4L << 20): DataFrame = {
    val words = bloomBuild(corpus.select(col(keyCol)), col(keyCol), mBits, kHashes)
    confirmAndAnti(batch, corpus, keyCol,
      bloomCandidates(batch, keyCol, words, mBits, kHashes),
      maxBroadcastCandidates)
  }

  /** Exact-confirm the bloom positives against the corpus, then anti-join
    * the batch against the confirmed members. The candidate/confirmed key
    * sets broadcast ONLY while the candidate count stays under
    * `maxBroadcastCandidates` (confirmed ⊆ candidates, so one gate covers
    * both hints) — a saturated filter or a huge batch would otherwise
    * blow the 8 GB broadcast limit / driver memory; past the gate the
    * joins fall back to plain shuffled semi/anti (the corpus shuffles,
    * which is exactly the cost the caller was warned the filter could no
    * longer avoid). The gate's count() re-evaluates the candidate plan
    * once — a pass over the BATCH's distinct keys against the broadcast
    * bitmap, never a corpus scan.
    */
  private def confirmAndAnti(batch: DataFrame, corpus: DataFrame,
      keyCol: String, candidates: DataFrame, maxBroadcast: Long): DataFrame = {
    val small = candidates.count() <= maxBroadcast
    def hint(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val confirmed = corpus.join(hint(candidates), Seq(keyCol), "left_semi")
      .select(col(keyCol)).distinct()
    batch.join(hint(confirmed), Seq(keyCol), "left_anti")
  }

  /** A persisted Bloom filter: the (word, bits) relation + the params it
    * was built with (a probe with different m or k would silently lose
    * the no-false-negative guarantee, so they travel with the index —
    * the [[BandIndex]]/IVF convention).
    */
  final case class BloomIndex(words: DataFrame, mBits: Long, kHashes: Int)

  def buildBloomIndex(corpus: DataFrame, keyCol: String,
      mBits: Long = 1L << 20, kHashes: Int = 7): BloomIndex =
    BloomIndex(bloomBuild(corpus.select(col(keyCol)), col(keyCol),
      mBits, kHashes), mBits, kHashes)

  def saveBloomIndex(index: BloomIndex, dir: String): Unit = {
    val spark = index.words.sparkSession
    index.words.write.mode("overwrite").parquet(s"$dir/words")
    StoreFiles.writeParams(spark, dir, Seq(
      "m_bits" -> index.mBits.toString,
      "k_hashes" -> index.kHashes.toString))
  }

  /** Load re-ORs the word rows at read time (see [[appendBloomIndex]]:
    * an append adds PARTIAL word rows as new files), restoring the
    * single-bits-per-word shape probes consume. The OR is associative
    * and commutative, so any number of appends in any order load
    * identically.
    */
  def loadBloomIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): BloomIndex = {
    val p = StoreFiles.readParams(spark, dir)
    BloomIndex(spark.read.parquet(s"$dir/words")
        .groupBy(col("word")).agg(expr("bit_or(bits)").as("bits")),
      p("m_bits").toLong, p("k_hashes").toInt)
  }

  /** Incrementally absorb a batch's keys into a stored filter: build the
    * batch's own (word, bits) rows with the INDEX'S params and append
    * them as new files — existing files are never rewritten (Bloom
    * bitmaps are mergeable by bitwise OR, so "merge" can happen lazily
    * at load). The nightly-ingest twin of [[appendBandIndex]] /
    * [[graft.operators.Similarity.appendIvfIndex]].
    */
  def appendBloomIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, keyCol: String): Unit = {
    val p = StoreFiles.readParams(spark, dir)
    bloomBuild(batch.select(col(keyCol)), col(keyCol),
        p("m_bits").toLong, p("k_hashes").toInt)
      .write.mode("append").parquet(s"$dir/words")
  }

  /** Compaction for a stored Bloom filter: appends leave PARTIAL
    * (word, bits) rows as new files ([[appendBloomIndex]]); compaction
    * materializes the bit_or merge [[loadBloomIndex]] performs lazily,
    * collapsing K appends' rows into one row per word in `targetFiles`
    * files. Loads before and after are identical (OR is associative,
    * commutative, idempotent).
    */
  def compactBloomIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, targetFiles: Int = 1): Unit = {
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    Stores.bloom.compactScaffold(spark, dir) { (manifested, _) =>
      Map("words" ->
        (if (manifested)
           StoreFiles.snapshotRead(spark, dir, "words").localCheckpoint()
         else spark.read.parquet(s"$dir/words")))
    } { (_, src, tmp) =>
      src.groupBy(col("word")).agg(expr("bit_or(bits)").as("bits"))
        .coalesce(targetFiles).write.parquet(tmp)
    }
  }

  // --- committed lifecycle: [[Stores.bloom]] (the lazy bit_or merge
  // --- is order-insensitive, so the committed subset of word rows
  // --- loads exactly like any other append order; no tombstone
  // --- ledger — Bloom deletes are the documented stale-keys trade)

  /** [[saveBloomIndex]] plus the initial manifest (generation 0). */
  def saveBloomIndexCommitted(index: BloomIndex, dir: String): Unit =
    Stores.bloom.saveCommitted(index.words.sparkSession, dir) {
      saveBloomIndex(index, dir)
    }

  /** [[appendBloomIndex]] with a commit point (OCC via `expectedGen`);
    * returns the committed generation.
    */
  def appendBloomIndexCommitted(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, keyCol: String,
      expectedGen: Option[Long] = None): Long =
    Stores.bloom.appendCommitted(spark, dir, expectedGen) {
      appendBloomIndex(spark, dir, batch, keyCol)
    }

  /** Load exactly the COMMITTED word rows (optionally as of a
    * generation), re-ORed at read like [[loadBloomIndex]]. Making a
    * torn absorb invisible matters more here than for any other
    * family: a partially-written batch leaves some of a key's k bit
    * positions unset, so the key probes bloom-NEGATIVE, skips the
    * exact confirm, and a later duplicate of it is silently admitted —
    * the no-false-negative guarantee the whole gate rests on breaks.
    * The committed set is always a whole number of absorbs, so the
    * guarantee holds for exactly the keys of committed batches.
    */
  def loadBloomIndexSnapshot(spark: org.apache.spark.sql.SparkSession,
      dir: String, asOf: Option[Long] = None): BloomIndex = {
    val p = StoreFiles.readParams(spark, dir)
    BloomIndex(StoreFiles.snapshotRead(spark, dir, "words", asOf)
        .groupBy(col("word")).agg(expr("bit_or(bits)").as("bits")),
      p("m_bits").toLong, p("k_hashes").toInt)
  }

  /** [[bloomGatedAntiJoin]] against a STORED filter: the bitmap loads
    * (m/64 rows max) instead of the corpus being re-hashed, so the only
    * touches on the corpus itself are the scan-side exact-confirm of
    * the bloom positives. EQUIVALENCE CONTRACT: the filter must have
    * absorbed (a superset of) `corpus`'s keys — a corpus key the filter
    * never saw could probe bloom-negative and skip the confirm, hiding
    * a member. Extra STALE keys in the filter (deleted docs) are safe:
    * they only add candidates that the exact confirm scrubs.
    */
  def bloomGatedAntiJoinIndexed(index: BloomIndex, batch: DataFrame,
      corpus: DataFrame, keyCol: String,
      maxBroadcastCandidates: Long = 4L << 20): DataFrame =
    confirmAndAnti(batch, corpus, keyCol,
      bloomCandidates(batch, keyCol, index.words, index.mBits, index.kHashes),
      maxBroadcastCandidates)

  /** Exact n-gram Jaccard similar pairs with PPJoin-style prefix
    * filtering (Xiao et al., WWW'08): rank each doc's shingles rarest
    * first and index only the first `|A| - ceil(t·|A|) + 1` of them — two
    * docs with jaccard ≥ t MUST share a prefix shingle, so the inverted-
    * index join shrinks by orders of magnitude while staying EXACT.
    * A size-ratio filter (`|A| ≥ t·|B|`, also necessary) prunes further
    * before the full-intersection verify.
    *
    * Hot-shingle handling (the 100 TB adversarial case): a shingle with
    * document frequency > `maxShingleDf` that lands in prefixes creates a
    * quadratic inverted-index bucket — one shuffle key, one straggler
    * task. The prefix relation is therefore split by frequency:
    *  - COLD prefix entries (df ≤ cap) join through the inverted index as
    *    usual — fan-out is bounded by the cap;
    *  - HOT prefix entries go through a triangle-TILED self-join per
    *    shingle (same scheme as `Similarity.nearDupPairs`), so even a
    *    shingle shared by every document spreads its candidate pairs
    *    evenly over the cluster instead of one reducer.
    * EXACTNESS is preserved, not approximated: candidates(cold) ∪
    * candidates(hot) = pairs sharing ANY prefix shingle, which is the
    * original PPJoin candidate set. (Under the rarest-first global order,
    * hot shingles rank last, so a hot shingle enters a doc's prefix only
    * when the doc has fewer than p rarer shingles — i.e. hot-heavy docs —
    * which keeps the hot side small on natural corpora.)
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.6,
      cache: CacheHandle = CacheHandle.untracked,
      maxShingleDf: Long = 256, nTiles: Int = 0): DataFrame = {
    // the shingle sets feed the prefix build and the verify — cache once
    // instead of re-exploding the corpus each time
    val sets = cache.track(shingleSets(df, idCol, textCol, n))
    // nTiles ≤ 0 auto-sizes the hot-shingle tile grid: the worst-case
    // per-(shingle, tile) bucket is every doc sharing one shingle, so
    // doc count × prefix-entry bytes bounds the per-task join side.
    // NOTE: this runs an EAGER count job at builder time (pass nTiles
    // explicitly to stay lazy); counting the CACHED shingle sets — one
    // row per doc — materializes the cache the prefix build and verify
    // reuse, instead of scanning the raw input a second time
    val tiles =
      if (nTiles > 0) nTiles
      else Similarity.autoTiles(sets.count(), 80L,
        df.sparkSession.sparkContext.defaultParallelism)
    // carry |A| through the explode: sz comes from the array length, not
    // a second groupBy-count shuffle over the posting list
    val sh = sets.select(col("id"), size(col("shset")).as("sz"),
      explode(col("shset")).as("shingle"))
    val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("f"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("f").asc, col("shingle").asc)
    val prefix = sh.join(freq, "shingle")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("sz") - ceil(lit(threshold) * col("sz")) + 1)
      .select(col("id"), col("shingle"), col("sz"), col("rn"), col("f"))

    // size-ratio bound: jaccard ≥ t ⇒ min ≥ t·max; positional bound
    // (PPJoin): matching at prefix positions (i, j) caps the remaining
    // overlap at 1 + min(|A|-i, |B|-j), which must reach the required
    // α = ceil(t/(1+t)·(|A|+|B|)). Both are symmetric in (a, b).
    def pairFilters(d: DataFrame): DataFrame = d
      .filter(least(col("sz_a"), col("sz_b")) >=
        lit(threshold) * greatest(col("sz_a"), col("sz_b")))
      .filter(lit(1) + least(col("sz_a") - col("rn_a"), col("sz_b") - col("rn_b")) >=
        ceil(lit(threshold) / (1 + threshold) * (col("sz_a") + col("sz_b"))))

    val cold = prefix.filter(col("f") <= maxShingleDf)
    val coldPairs = pairFilters(
      cold.select(col("id").as("id_a"), col("shingle"),
          col("sz").as("sz_a"), col("rn").as("rn_a"))
        .join(cold.select(col("id").as("id_b"), col("shingle"),
          col("sz").as("sz_b"), col("rn").as("rn_b")), Seq("shingle"))
        .filter(col("id_a") < col("id_b")))
      .select(col("id_a"), col("id_b"))

    // hot path: per-shingle triangle tiling — every doc pair sharing the
    // hot shingle meets in exactly one (shingle, ti, tj) task
    val hot = prefix.filter(col("f") > maxShingleDf)
      .withColumn("g", pmod(xxhash64(col("id")), lit(tiles)).cast("int"))
    val hl = hot.select(col("id").as("id_l"), col("shingle"),
      col("sz").as("sz_l"), col("rn").as("rn_l"),
      col("g").as("ti"), explode(sequence(col("g"), lit(tiles - 1))).as("tj"))
    val hr = hot.select(col("id").as("id_r"), col("shingle"),
      col("sz").as("sz_r"), col("rn").as("rn_r"),
      explode(sequence(lit(0), col("g"))).as("ti"), col("g").as("tj"))
    val hotPairs = pairFilters(
      hl.join(hr, Seq("shingle", "ti", "tj"))
        .filter(col("ti") =!= col("tj") || col("id_l") < col("id_r"))
        .filter(col("id_l") =!= col("id_r"))
        .select(
          least(col("id_l"), col("id_r")).as("id_a"),
          greatest(col("id_l"), col("id_r")).as("id_b"),
          when(col("id_l") < col("id_r"), col("sz_l")).otherwise(col("sz_r")).as("sz_a"),
          when(col("id_l") < col("id_r"), col("sz_r")).otherwise(col("sz_l")).as("sz_b"),
          when(col("id_l") < col("id_r"), col("rn_l")).otherwise(col("rn_r")).as("rn_a"),
          when(col("id_l") < col("id_r"), col("rn_r")).otherwise(col("rn_l")).as("rn_b")))
      .select(col("id_a"), col("id_b"))

    val pairs = coldPairs.unionByName(hotPairs).distinct()
    verifyJaccard(sets, pairs).filter(col("jaccard") >= threshold)
  }

  /** BENCHMARK DECONTAMINATION (the GPT-3 appendix-C rule, Brown et
    * al. 2020, since standard in every pretraining pipeline): flag
    * training documents that share any word n-gram with an EVALUATION
    * set, so test answers don't leak into training. Returns the
    * attribution relation (doc_id, eval_id, n_shared) — n_shared =
    * |distinct shared n-grams| ≥ 1 — which both drives the drop action
    * (anti-join training on doc_id) and answers the audit question
    * "contaminated by WHICH benchmark item".
    *
    * Scale shape: per-side distinct n-grams (scan-linear explodes), an
    * equi-join keyed on the gram, one keyed aggregation. The eval side
    * is BROADCAST — an evaluation suite is benchmark-sized by
    * definition (thousands of items), megabytes against a 100 TB
    * training corpus; the training side streams map-side with no
    * shuffle at all. With a long-gram default (n=13 in the paper;
    * configurable for short-document corpora), gram collisions are
    * near-certain leaks, so no similarity verification step is needed
    * — that exactness is why the rule won.
    */
  def contaminationPairs(train: DataFrame, eval: DataFrame,
      idCol: String, textCol: String, n: Int = 13): DataFrame = {
    require(n >= 1, s"contaminationPairs: n must be >= 1, got $n")
    def grams(df: DataFrame, as: String) = df.select(col(idCol).as(as),
      explode(array_distinct(
        graft.functions.TextAnalysis.wordNGrams(col(textCol), n))).as("g"))
    grams(train, "doc_id")
      .join(broadcast(grams(eval, "eval_id")), Seq("g"))
      .groupBy(col("doc_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** DIRECTIONAL n-gram containment pairs: C(a→b) = |A∩B| / |A| ≥ t —
    * the asymmetric cousin of [[ngramJaccardPairs]] that catches SUBSET
    * duplication (a quote, an excerpt, a doc pasted inside a larger
    * one), which symmetric Jaccard misses whenever |B| ≫ |A|. Exact, in
    * integer micros (cont_micro = ⌊|A∩B|·1e6 / |A|⌋, engine-portable).
    *
    * Candidate generation adapts the PPJoin prefix rule to the
    * asymmetric threshold: C(a→b) ≥ t forces |A∩B| ≥ ⌈t·|A|⌉, so at
    * most |A| − ⌈t·|A|⌉ of A's shingles miss B — A's rarest-first
    * prefix of length |A| − ⌈t·|A|⌉ + 1 must contain a witness shared
    * with B. Only the PROBE side shortens; the index side must carry
    * B's FULL posting list (any shingle of B can be the witness — there
    * is no size-ratio bound on |B|, that asymmetry is the point). The
    * ceil runs in exact integers: ⌈sz·t⌉ = (sz·tm + 999999) div 1e6.
    *
    * Hot shingles split per-shingle by df exactly like the Jaccard
    * path — cold buckets bound fan-out by `maxShingleDf`; hot postings
    * go through an ORDERED-pair tile grid (probe keeps its tile and
    * replicates over index tiles, index vice versa, join on
    * (shingle, ta, tb)) so a stopword shingle spreads its candidates
    * over tiles² tasks instead of one reducer. The per-shingle split
    * keeps the union exhaustive: a witness shingle is cold on both
    * sides or hot on both.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, thresholdMicro: Long = 800000L,
      cache: CacheHandle = CacheHandle.untracked,
      maxShingleDf: Long = 256, nTiles: Int = 0): DataFrame = {
    require(thresholdMicro >= 1L && thresholdMicro <= 1000000L,
      s"containmentPairs: thresholdMicro in [1, 1e6], got $thresholdMicro")
    val sets = cache.track(shingleSets(df, idCol, textCol, n))
    val tiles =
      if (nTiles > 0) nTiles
      else Similarity.autoTiles(sets.count(), 80L,
        df.sparkSession.sparkContext.defaultParallelism)
    val sh = sets.select(col("id"), size(col("shset")).cast("long").as("sz"),
      explode(col("shset")).as("shingle"))
    val freq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("f"))
    val shf = sh.join(freq, "shingle")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("f").asc, col("shingle").asc)
    val prefix = shf
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <=
        col("sz") - expr(s"(sz * ${thresholdMicro}L + 999999L) div 1000000L")
          + lit(1L))
      .select(col("id"), col("shingle"), col("f"))

    val coldPairs = prefix.filter(col("f") <= maxShingleDf)
      .select(col("id").as("id_a"), col("shingle"))
      .join(shf.filter(col("f") <= maxShingleDf)
        .select(col("id").as("id_b"), col("shingle")), Seq("shingle"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))

    val hotA = prefix.filter(col("f") > maxShingleDf)
      .select(col("id").as("id_a"), col("shingle"),
        pmod(xxhash64(col("id")), lit(tiles)).cast("int").as("ta"),
        explode(sequence(lit(0), lit(tiles - 1))).as("tb"))
    val hotB = shf.filter(col("f") > maxShingleDf)
      .select(col("id").as("id_b"), col("shingle"),
        explode(sequence(lit(0), lit(tiles - 1))).as("ta"),
        pmod(xxhash64(col("id")), lit(tiles)).cast("int").as("tb"))
    val hotPairs = hotA.join(hotB, Seq("shingle", "ta", "tb"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"))

    val pairs = coldPairs.unionByName(hotPairs).distinct()
    val a = sets.select(col("id").as("id_a"), col("shset").as("set_a"))
    val b = sets.select(col("id").as("id_b"), col("shset").as("set_b"))
    pairs.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .select(col("id_a"), col("id_b"), expr(
        "(CAST(size(array_intersect(set_a, set_b)) AS BIGINT) * 1000000L)" +
          " div CAST(size(set_a) AS BIGINT)").as("cont_micro"))
      .filter(col("cont_micro") >= thresholdMicro)
  }

  /** Connected components over an undirected near-dup pair graph — the
    * clustering step that turns pairwise signals (minhash/simhash/
    * embedding) into dedup groups. Iterative min-label propagation WITH
    * POINTER JUMPING: every node starts labeled with its own id; each
    * round takes (1) the min of its own and its neighbors' labels, then
    * (2) its label's label (path-halving, cf. Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14) — so label
    * chains collapse doubling-fast and an adversarial PATH graph
    * converges in O(log n) rounds, not O(n) (a 1000-node chain at 100 TB
    * would otherwise exhaust any sane round budget; near-dup clusters
    * are near-cliques and still converge in 1-3 rounds).
    *
    * Scale shape: each round is two keyed shuffles (neighbor-min
    * join+groupBy, then the label self-join) — no driver-side graph.
    * Round state is EAGERLY LOCAL-CHECKPOINTED, not just cached: the
    * round-k plan embeds the round-(k-1) plan several times (labels
    * feeds both join sides), so without truncation catalyst analysis
    * goes exponential in the round count and hangs near round ~10 —
    * caching shortcuts execution but not the logical plan. Each round
    * frees the previous round's checkpoint blocks; the returned frame's
    * blocks are released by the ContextCleaner when the frame is GC'd.
    * (localCheckpoint trades fault tolerance for speed: an executor loss
    * mid-operator means re-running the operator. On a long cluster run,
    * swap in `Dataset.checkpoint` against a reliable checkpoint dir —
    * the round structure is unchanged.)
    *
    * Returns (id, component) for EVERY node (singletons map to
    * themselves). Deterministic: min over longs.
    *
    * Small-graph fast path: the edge list is counted anyway (to pin its
    * cache), so when it fits `driverEdgeBudget` the components come from
    * a driver-side min-root union-find over the collected pairs — one
    * broadcast join instead of ~4 rounds × 3 jobs of iterative overhead.
    * This is the bounded-collect pattern (like the IVF centroid pull):
    * near-dup edge sets are pairs ABOVE a high similarity threshold, so
    * even petabyte corpora commonly produce edge lists in the millions;
    * a graph over budget takes the iterative path unchanged. Both paths
    * compute the same labeling (component = min node id). Set the budget
    * to 0 to force the distributed loop.
    */
  def connectedComponents(nodes: DataFrame, idCol: String, pairs: DataFrame,
      maxIters: Int = 25, driverEdgeBudget: Long = 1L << 20,
      upstream: CacheHandle = CacheHandle.untracked): DataFrame = {
    // ids are label values here: the long cast must be lossless. A string
    // id would cast to null, silently drop every edge, and return each doc
    // as its own singleton — fail loudly instead.
    def requireIntegral(df: DataFrame, c: String): Unit = {
      import org.apache.spark.sql.types.{ByteType, IntegerType, ShortType}
      val dt = df.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"connectedComponents needs an integral id column; '$c' is $dt " +
          "(map string ids to longs first, e.g. via a surrogate-key join)")
    }
    requireIntegral(nodes, idCol)
    requireIntegral(pairs, "id_a"); requireIntegral(pairs, "id_b")
    val sc = nodes.sparkSession.sparkContext
    // snapshot-diff of the persistent-RDD registry identifies the blocks
    // a localCheckpoint just created, so each round can free its
    // predecessor's explicitly (the ContextCleaner would only get to
    // them after a GC)
    def persisted(): Set[Int] = sc.getPersistentRDDs.keySet.toSet
    def free(ids: Set[Int]): Unit =
      sc.getPersistentRDDs.filter(kv => ids.contains(kv._1))
        .values.foreach(_.unpersist(blocking = false))

    // normalized single-direction edge set: dedupe on (min, max) BEFORE
    // mirroring — the old symmetric-union distinct pushed BOTH
    // directions of every pair through its exchange (2× rows); the
    // mirror is now a projection over the cached normalized set,
    // distinct by construction (§2.3, shuffle fewer bytes). The
    // union-find fast path collects half the rows for the identical
    // labeling (direction is irrelevant to union-find).
    val norm = pairs
      .select(least(col("id_a"), col("id_b")).cast("long").as("src"),
        greatest(col("id_a"), col("id_b")).cast("long").as("dst"))
      .distinct().cache()
    // materialize norm (and, transitively, any lazy caches inside the
    // `pairs` pipeline, e.g. minhash shingle sets) BEFORE the first
    // registry snapshot — SQL caches appear in getPersistentRDDs only
    // when their buffers are first built, and if that happened inside a
    // round's snapshot window the round-end free() would unpersist
    // caches this function does not own
    val nNorm = norm.count()
    // directed-edge count, so the printed line and the driver-budget
    // boundary match the old symmetric-distinct semantics exactly for
    // irreflexive pair sources (every caller's; a hypothetical
    // self-loop now counts twice instead of once)
    val nEdges = 2 * nNorm
    // the count above folded the whole pairs pipeline into the edges
    // cache — any caches the CALLER's pipeline tracked (minhash shingle
    // sets, typically tens of MB of string arrays) are dead weight from
    // here, and carrying them through the label rounds is exactly the
    // measured 2-2.6 s/run GC amplification of the q68 family: release
    // them BEFORE the rounds, not after the operator returns
    upstream.release()
    // one stderr line per call names the path taken and the edge count —
    // bench logs must be able to PROVE which path a measurement measured
    // (a fast-path optimization whose engagement is invisible is an
    // unverifiable claim)
    System.err.println(
      s"[components] edges=$nEdges budget=$driverEdgeBudget path=" +
        (if (nEdges <= driverEdgeBudget) "driver-union-find" else "pointer-jumping"))
    if (nEdges <= driverEdgeBudget) {
      // min-root union-find: attach the larger root under the smaller, so
      // find(x) is the min id of x's component — the same labeling the
      // iterative path converges to. Collected size is bounded: nEdges
      // pairs of longs ≤ 16·driverEdgeBudget bytes (16 MB at the default).
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      norm.select(col("src"), col("dst")).collect().foreach { row =>
        val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      // a snapshot of the keys: find's path compression writes into
      // parent, and a write can grow the table under a live key iterator
      val mapping = parent.keys.toVector.map(x => (x, find(x)))
      norm.unpersist(blocking = false)
      val spark = nodes.sparkSession
      import spark.implicits._
      val mapDf = mapping.toDF("__mid", "__mcomp")
      return nodes
        .select(col(idCol).cast("long").as("id"))
        .join(broadcast(mapDf), col("id") === col("__mid"), "left")
        .select(col("id"), coalesce(col("__mcomp"), col("id")).as("component"))
    }
    // both directions for the flood rounds, as a projection over the
    // cached normalized set (distinct by construction: src < dst there)
    val edges = norm.unionByName(
      norm.select(col("dst").as("src"), col("src").as("dst")))
    val before0 = persisted()
    var labels = nodes
      .select(col(idCol).cast("long").as("id"), col(idCol).cast("long").as("component"))
      .localCheckpoint() // eager: materializes AND truncates the plan
    var labelBlocks = persisted().diff(before0)
    var iter = 0
    var done = false
    while (!done) {
      require(iter < maxIters,
        s"connectedComponents did not converge in $maxIters rounds")
      val byDst = labels.select(col("id").as("dst"), col("component").as("__nc"))
      val nmin = edges.join(byDst, "dst")
        .groupBy(col("src")).agg(min(col("__nc")).as("__nmin"))
        .withColumnRenamed("src", "id")
      // checkpointed: both pointer-jump sides below consume it — without
      // the pin the neighbor-min join would run twice per round
      val beforeHop = persisted()
      val hop = labels.join(nmin, Seq("id"), "left")
        .select(col("id"), col("component").as("__old"),
          least(col("component"), coalesce(col("__nmin"), col("component")))
            .as("component"))
        .localCheckpoint()
      val hopBlocks = persisted().diff(beforeHop)
      // pointer jumping: component ← label(component). Labels only ever
      // decrease and every label value is some node's id, so the lookup
      // hits (left join only for robustness against edge ids ∉ nodes);
      // this halves label-chain depth each round.
      val byId = hop.select(col("id").as("component"), col("component").as("__cc"))
      val beforeNext = persisted()
      val next = hop.join(byId, Seq("component"), "left")
        .select(col("id"), col("__old"),
          least(col("component"), coalesce(col("__cc"), col("component")))
            .as("component"))
        .localCheckpoint()
      val nextBlocks = persisted().diff(beforeNext)
      val changed = next
        .agg(sum(when(col("component") < col("__old"), 1L).otherwise(0L)))
        .head().getLong(0)
      done = changed == 0L
      // next is checkpoint-materialized: its predecessors can go
      free(hopBlocks); free(labelBlocks)
      labelBlocks = nextBlocks
      labels = next.drop("__old")
      iter += 1
    }
    norm.unpersist()
    labels.select(col("id"), col("component"))
  }

  /** Near-dup dedup ACTION: cluster the pair graph and keep only each
    * component's representative (the minimum id). Composes any pair
    * source (minhash/simhash/embedding/ensemble) with
    * [[connectedComponents]].
    */
  def dedupByComponents(df: DataFrame, idCol: String, pairs: DataFrame,
      upstream: CacheHandle = CacheHandle.untracked): DataFrame = {
    val reps = connectedComponents(df.select(col(idCol)), idCol, pairs,
        upstream = upstream)
      .filter(col("id") === col("component"))
      .select(col("id").as("__keep"))
    df.join(reps, col(idCol) === col("__keep")).drop("__keep")
  }

  /** Near-dup dedup action with a QUALITY policy: cluster the pair graph
    * and keep, per component, the row maximizing `score` (ties broken on
    * min id — a total order, so the survivor set is deterministic). The
    * curation-grade alternative to [[dedupByComponents]]' min-id rule:
    * when a boilerplate page and its well-formatted twin collide, the
    * better document survives, not the numerically-smaller id.
    *
    * Scale shape: components as usual, then ONE ranking window keyed by
    * component — no extra join beyond the label attach.
    */
  def dedupByComponentsBest(df: DataFrame, idCol: String,
      pairs: DataFrame, score: Column,
      upstream: CacheHandle = CacheHandle.untracked): DataFrame = {
    val labels = connectedComponents(df.select(col(idCol)), idCol, pairs,
        upstream = upstream)
      .withColumnRenamed("id", "__cid")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(score.desc, col(idCol).asc)
    df.join(labels, col(idCol) === col("__cid"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__cid", "component", "__rk")
  }

  /** 64-bit SimHash over word tokens. Per token a 60-bit md5-derived hash
    * votes ±1 on each bit position; the sign vector is the fingerprint.
    * Explode → 60 conditional sums → reassemble; one shuffle on id.
    */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bits = 60 // 15 md5 hex chars → fits a signed long exactly
    val tok = df.select(col(idCol).as("id"),
        explode(TextAnalysis.tokens(col(textCol))).as("t"))
      .select(col("id"),
        conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long").as("h"))
    val votes = (0 until bits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val agged = tok.groupBy(col("id")).agg(votes.head, votes.tail: _*)
    val fp = (0 until bits).map { j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    agged.select(col("id"), fp.as("simhash"))
  }

  /** Band layout for a given hamming budget: pigeonhole needs
    * `maxHamming + 1` bands (differing in ≤ maxHamming bits ⇒ at least one
    * band untouched), so the band count DERIVES from the threshold — a
    * fixed band count would silently drop qualifying pairs whose diffs
    * spread across all bands. Returns (shift, width) per band over 60 bits.
    */
  def simHashBandLayout(maxHamming: Int): Seq[(Int, Int)] = {
    val nBands = maxHamming + 1
    require(nBands <= 60, s"maxHamming $maxHamming too large for 60-bit simhash")
    val widths = Array.tabulate(nBands)(b => 60 / nBands + (if (b < 60 % nBands) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    (0 until nBands).map(b => (offsets(b), widths(b)))
  }

  /** Banded fingerprint rows `(id, simhash, band, bv)` for a hamming
    * budget — the bucket key both the pair enumeration and the stored
    * index probe join on. Shared so an index built here and a probe
    * banded here can never disagree on the layout.
    */
  private def simHashBanded(hashes: DataFrame, maxHamming: Int): DataFrame = {
    val layout = simHashBandLayout(maxHamming)
    hashes.select(col("id"), col("simhash"),
        explode(array(layout.zipWithIndex.map { case ((shift, width), b) =>
          struct(lit(b).as("band"),
            shiftright(col("simhash"), shift).bitwiseAND((1L << width) - 1).as("bv"))
        }: _*)).as("bb"))
      .select(col("id"), col("simhash"), col("bb.band"), col("bb.bv"))
  }

  /** SimHash near-dup pairs: band the 60-bit fingerprint into
    * `maxHamming + 1` bands (pigeonhole-complete), bucket-join, verify
    * hamming ≤ `maxHamming` via bit_count(xor).
    */
  def simHashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val banded = simHashBanded(simHash(df, idCol, textCol), maxHamming)
    val l = banded.select(col("band"), col("bv"),
      col("id").as("id_a"), col("simhash").as("h_a"))
    val r = banded.select(col("band"), col("bv"),
      col("id").as("id_b"), col("simhash").as("h_b"))
    l.join(r, Seq("band", "bv")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------------------------
  // Persisted SimHash index — the fifth stored-index lifecycle (bands,
  // IVF, Bloom, PQ, now simhash). A corpus's banded fingerprints are a
  // tiny relation (maxHamming+1 rows of (band, bv, id, simhash) per
  // doc — no shingle sets to keep), partitioned by band so a probe
  // prunes to the band's files. Unlike the minhash family the
  // pigeonhole banding is RECALL-COMPLETE: hamming ≤ maxHamming
  // guarantees at least one band matches, so a probe is LOSSLESS —
  // it EQUALS the exact cross-side hamming filter (which is exactly
  // what the catalog oracle checks).
  // ------------------------------------------------------------------

  /** A stored-or-in-memory SimHash index: `banded` is
    * (id, simhash, band, bv); the hamming budget that SHAPED the band
    * layout travels with it so a probe can never band differently.
    */
  final case class SimHashIndex(banded: DataFrame, maxHamming: Int)

  def buildSimHashIndex(corpus: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 6): SimHashIndex =
    SimHashIndex(
      simHashBanded(simHash(corpus, idCol, textCol), maxHamming), maxHamming)

  /** Persist: banded rows PARTITIONED BY band, the hamming budget as a
    * one-row `params` parquet (same contract as [[saveBandIndex]]).
    */
  def saveSimHashIndex(index: SimHashIndex, dir: String): Unit = {
    val spark = index.banded.sparkSession
    Stores.simhash.clearLedger(spark, dir)
    StoreFiles.clusterForWrite(index.banded, "band")
      .write.mode("overwrite").partitionBy("band")
      .parquet(s"$dir/banded")
    StoreFiles.writeParams(spark, dir,
      Seq("max_hamming" -> index.maxHamming.toString))
  }

  /** Assemble a [[SimHashIndex]] under a per-sub reader (raw or
    * snapshot); the ledger anti-joins lazily.
    */
  private def mkSimHashIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, rd: String => DataFrame): SimHashIndex = {
    SimHashIndex(Stores.simhash.dropDeleted(spark, dir, rd("banded")),
      StoreFiles.readParams(spark, dir)("max_hamming").toInt)
  }

  def loadSimHashIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): SimHashIndex =
    mkSimHashIndex(spark, dir, Stores.simhash.raw(spark, dir))

  /** Incrementally add an ACCEPTED batch: fingerprint + band with the
    * INDEX'S OWN stored hamming budget and append to the
    * band-partitioned table — existing files are never rewritten.
    * Probe first, then append (an appended batch probing itself would
    * emit degenerate self-pairs), same ordering contract as
    * [[appendBandIndex]].
    */
  def appendSimHashIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, idCol: String, textCol: String): Unit = {
    val maxHamming = StoreFiles.readParams(spark, dir)("max_hamming").toInt
    StoreFiles.clusterForWrite(
        simHashBanded(simHash(batch, idCol, textCol), maxHamming), "band")
      .write.mode("append").partitionBy("band").parquet(s"$dir/banded")
  }

  /** Nightly small-file compaction for a stored SimHash index: one file
    * per band partition, guarded temp-swap, probes unchanged — the
    * [[compactBandIndex]] contract on the `banded` table.
    */
  def compactSimHashIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    Stores.simhash.compactScaffold(spark, dir) { (manifested, tombs) =>
      Map("banded" ->
        (if (manifested)
           loadSimHashIndexSnapshot(spark, dir).banded.localCheckpoint()
         else {
           val raw = spark.read.parquet(s"$dir/banded")
           tombs.fold(raw)(t =>
             raw.join(broadcast(t), Seq("id"), "left_anti"))
         }))
    } { (_, src, tmp) =>
      src.repartition(col("band")).write.partitionBy("band").parquet(tmp)
    }

  // --- committed lifecycle: [[Stores.simhash]]

  /** [[saveSimHashIndex]] plus the initial manifest (generation 0). */
  def saveSimHashIndexCommitted(index: SimHashIndex, dir: String): Unit =
    Stores.simhash.saveCommitted(index.banded.sparkSession, dir) {
      saveSimHashIndex(index, dir)
    }

  /** [[appendSimHashIndex]] with a commit point (OCC via `expectedGen`);
    * returns the committed generation.
    */
  def appendSimHashIndexCommitted(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, idCol: String, textCol: String,
      expectedGen: Option[Long] = None): Long =
    Stores.simhash.appendCommitted(spark, dir, expectedGen) {
      appendSimHashIndex(spark, dir, batch, idCol, textCol)
    }

  /** Load exactly the COMMITTED file set (optionally as of a
    * generation); tombstones stay retroactive ([[loadBandIndexSnapshot]]
    * contract).
    */
  def loadSimHashIndexSnapshot(spark: org.apache.spark.sql.SparkSession,
      dir: String, asOf: Option[Long] = None): SimHashIndex =
    mkSimHashIndex(spark, dir, Stores.simhash.snapshot(spark, dir, asOf))

  /** Probe a (possibly loaded) SimHash index with a new batch: only the
    * batch is fingerprinted; candidates are cross-side band-bucket
    * collisions; verify is bit_count(xor) ≤ the index's budget. By
    * pigeonhole completeness the result EQUALS the exact cross-side
    * hamming filter. Ids must be disjoint across the sides. Returns
    * (id_a < id_b, hamming), cross pairs only.
    */
  def simHashProbe(index: SimHashIndex, newBatch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val nb = simHashBanded(simHash(newBatch, idCol, textCol),
        index.maxHamming)
      .select(col("band"), col("bv"), col("id").as("nid"),
        col("simhash").as("nh"))
    val c = index.banded.select(col("band"), col("bv"),
      col("id").as("cid"), col("simhash").as("ch"))
    nb.join(c, Seq("band", "bv"))
      .select(least(col("nid"), col("cid")).as("id_a"),
        greatest(col("nid"), col("cid")).as("id_b"),
        bit_count(col("nh").bitwiseXOR(col("ch"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= index.maxHamming)
  }

  // ------------------------------------------------------------------
  // Incremental connected components — nightly dedup clustering WITHOUT
  // a full recompute. Append-only stored state:
  //   dir/labels — (id, label) rows; a row is written ONCE, when its id
  //                first enters the store
  //   dir/remap  — (old_label, new_label) rows appended when a new
  //                batch's edges MERGE previously-distinct components
  // An increment contracts the new edges onto the CURRENT labels (each
  // corpus endpoint replaced by its component label), runs components
  // on that contracted graph — whose size is the batch plus the TOUCHED
  // components, never the corpus — and appends batch labels + label
  // remaps. Because every stored label is the min id of its component,
  // the contracted min is the true min of the merged component, so
  // labels stay canonical min-ids forever. Resolution follows remap
  // chains to fixpoint (chain length is bounded by the number of
  // increments since the last compaction); compaction = resolve + bulk
  // rewrite offline. The LSM shape of the other stored indexes, for
  // cluster state.
  // ------------------------------------------------------------------

  private[graft] val remapSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("old_label",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("new_label",
      org.apache.spark.sql.types.LongType)))

  /** Seed the store with a bulk labeling (e.g. [[connectedComponents]]
    * over the corpus): `labels` must be (id, component) min-id labels.
    */
  def saveLabelStore(labels: DataFrame, dir: String): Unit = {
    val spark = labels.sparkSession
    Stores.label.clearLedger(spark, dir)
    labels.select(col("id"), col("component").as("label"))
      .write.mode("overwrite").parquet(s"$dir/labels")
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], remapSchema)
      .write.mode("overwrite").parquet(s"$dir/remap")
  }

  /** Current (id, component) view: stored labels with remap chains
    * followed to fixpoint. Each pass rewrites every label that still has
    * a pending remap; passes are bounded by the longest chain, i.e. the
    * increments since the last compaction (the loop squares nothing —
    * chains are short by construction; compact if they are not).
    */
  def resolveLabels(spark: org.apache.spark.sql.SparkSession,
      dir: String, maxChain: Int = 64): DataFrame =
    resolveLabelChains(
      // tombstoned ids leave the view BEFORE the chase (fewer rows
      // through the chain resolution); remap rows stay — surviving
      // members keep resolving through merges the deleted doc caused
      Stores.label.dropDeleted(spark, dir,
        spark.read.parquet(s"$dir/labels")),
      spark.read.schema(remapSchema).parquet(s"$dir/remap"), maxChain)

  /** The resolution engine behind [[resolveLabels]], over EXPLICIT
    * (id, label) / (old_label, new_label) relations — also the view
    * step of the streaming twin, whose labels and remaps live as
    * per-batch sink partitions rather than store files.
    *
    * Small-remap fast path (the [[connectedComponents]] bounded-collect
    * pattern): the remap relation is one row per label MERGE since the
    * last compaction — orders of magnitude smaller than the labels —
    * so when it fits `driverRemapBudget` the chains are closed on the
    * driver (memoized chase; remaps strictly decrease the label, so no
    * cycles) and applied in ONE broadcast join, replacing the
    * ~2·chain-length jobs of the iterative loop. An over-budget remap
    * takes the iterative path unchanged; both paths compute the same
    * fixpoint. Set the budget to 0 to force the loop.
    */
  def resolveLabelChains(labels: DataFrame, remap: DataFrame,
      maxChain: Int = 64, driverRemapBudget: Long = 1L << 20): DataFrame = {
    val pairs = remap.select(col("old_label"), col("new_label"))
    val nRemap = pairs.count()
    // path taken is printed so bench logs can PROVE what a measurement
    // measured (same contract as the components fast path)
    System.err.println(
      s"[resolve] remaps=$nRemap budget=$driverRemapBudget path=" +
        (if (nRemap <= driverRemapBudget) "driver-closure" else "iterative"))
    if (nRemap <= driverRemapBudget) {
      // localCheckpoint on both returns: callers consume the resolved
      // view several times (both contracted-join sides, flood, writes),
      // and the iterative path always handed them a MATERIALIZED
      // relation — returning a lazy scan+join here re-plans those
      // consumers with extra exchanges (measured: q131 137 → 181 jobs
      // without it)
      if (nRemap == 0)
        return labels.select(col("id"), col("label").as("component"))
          .localCheckpoint(true)
      val m = scala.collection.mutable.HashMap.empty[Long, Long]
      pairs.collect().foreach(r => m(r.getLong(0)) = r.getLong(1))
      // memoized chase carrying (root, hops-to-root): the depth is each
      // label's TRUE chain length even when a chase stops early at an
      // already-closed suffix, so the maxChain contract matches the
      // iterative path exactly (≤ maxChain resolves, beyond fails)
      val closed = scala.collection.mutable.HashMap.empty[Long, (Long, Int)]
      def chase(x: Long): (Long, Int) = closed.getOrElse(x, {
        val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
        var cur = x
        while (m.contains(cur) && !closed.contains(cur)) {
          seen += cur
          cur = m(cur)
        }
        val (root, baseDepth) = closed.getOrElse(cur, (cur, 0))
        val depth = baseDepth + seen.length
        require(depth <= maxChain,
          s"remap chains exceed $maxChain — compact the label store")
        seen.zipWithIndex.foreach { case (s, i) =>
          closed(s) = (root, baseDepth + seen.length - i)
        }
        (root, depth)
      })
      val spark = labels.sparkSession
      import spark.implicits._
      val cdf = m.keys.toSeq.sorted.map(k => (k, chase(k)._1))
        .toDF("old_label", "new_label")
      labels.join(broadcast(cdf),
          labels("label") === cdf("old_label"), "left")
        .select(labels("id"),
          coalesce(col("new_label"), labels("label")).as("component"))
        .localCheckpoint(true)
    } else {
      var cur = labels
      var changed = true
      var i = 0
      while (changed && i < maxChain) {
        // localCheckpoint truncates the per-pass join lineage — without
        // it pass i's changed-check re-executes all i prior joins from
        // parquet (O(chain²) total) and the caller's first action
        // replays the whole chain once more
        val step = cur.join(remap, cur("label") === remap("old_label"), "left")
          .select(cur("id"),
            coalesce(col("new_label"), cur("label")).as("label"))
          .localCheckpoint(true)
        // one driver count per pass: cheap against the labels scan, and
        // it is what bounds the loop deterministically
        changed = step.join(remap, step("label") === remap("old_label"), "left_semi")
          .limit(1).count() > 0
        cur = step
        i += 1
      }
      require(i < maxChain || !changed,
        s"remap chains exceed $maxChain — compact the label store")
      cur.select(col("id"), col("label").as("component"))
    }
  }

  /** Offline compaction: squash remap chains into the labels table and
    * truncate the remap relation — the LSM merge step. Resolution cost
    * returns to a single scan until the next merge-producing increment.
    * Runs in place via a temp swap (write resolved labels to a side dir,
    * then move); not concurrent-safe with appends, like every stored
    * structure here (single nightly writer).
    */
  def compactLabelStore(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    // a manifested store compacts its COMMITTED view (postings
    // contract: torn-increment orphans are dropped, never resurrected)
    val manifested = StoreFiles.dirExists(spark, s"$dir/manifest")
    val resolved =
      (if (manifested) resolveLabelsSnapshot(spark, dir)
       else resolveLabels(spark, dir))
        .select(col("id"), col("component").as("label"))
    resolved.write.mode("overwrite").parquet(s"$dir/labels_compact")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // rename signals most failures by RETURNING FALSE, not throwing —
    // an unchecked false here (after the delete) would silently destroy
    // the store. Fail loudly instead; labels_compact still holds the
    // full resolved state for manual recovery.
    require(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/labels"), true),
      s"compactLabelStore: could not delete $dir/labels")
    require(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/labels_compact"),
        new org.apache.hadoop.fs.Path(s"$dir/labels")),
      s"compactLabelStore: rename of $dir/labels_compact failed — " +
        s"resolved labels preserved there; restore manually")
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], remapSchema)
      .write.mode("overwrite").parquet(s"$dir/remap")
    // the resolved view already excluded tombstoned ids, so the rewrite
    // APPLIED the deletes — the ledger is spent
    Stores.label.clearLedger(spark, dir)
    if (manifested) // history collapses to a fresh generation 0
      Stores.label.commitInitial(spark, dir)
  }

  /** Fold one batch into the store. `batchIds` are the new ids (absent
    * from the store); `pairs` (id_a, id_b) are ALL new edges — within
    * the batch and between batch and stored ids (e.g. from
    * [[minHashLshPairs]] on the batch plus [[minHashLshPairsAcross]]
    * against the corpus). Existing files are never rewritten.
    */
  def appendLabels(spark: org.apache.spark.sql.SparkSession, dir: String,
      batchIds: DataFrame, idCol: String, pairs: DataFrame,
      upstream: CacheHandle = CacheHandle.untracked): Unit = {
    // resolved rides the upstream handle: it is consumed only inside
    // the contracted-edge plan, so connectedComponents releases it —
    // together with the caller's shingle caches — the moment the edge
    // cache is pinned, BEFORE the label flood rounds (the q108 GC
    // discipline applied to the label path); the finally stays as the
    // fallback for the driver-union-find fast path and error exits
    val resolved = upstream.trackCached(resolveLabels(spark, dir).cache())
    try incrementLabels(resolved, batchIds, idCol, pairs, upstream) {
      (lab, rem) =>
        lab.write.mode("append").parquet(s"$dir/labels")
        rem.write.mode("append").parquet(s"$dir/remap")
    } finally { resolved.unpersist(); () }
  }

  // --- snapshot-manifest commit log for the label store (shared
  // --- StoreFiles machinery; postings-family semantics). An increment
  // --- here is TWO relations (batch labels + merge remaps) — without
  // --- the commit point a writer dying between them leaves labels
  // --- whose merges never happened, a torn state a raw reader serves
  // --- as wrongly-split clusters; the manifest makes both halves land
  // --- or neither.

  /** [[saveLabelStore]] plus the initial manifest (generation 0). */
  def saveLabelStoreCommitted(labels: DataFrame, dir: String): Unit =
    Stores.label.saveCommitted(labels.sparkSession, dir) {
      saveLabelStore(labels, dir)
    }

  /** [[appendLabels]] with a commit point (OCC via `expectedGen`): the
    * increment computes against the COMMITTED resolved view, so a torn
    * predecessor can't contaminate the contraction. Returns the
    * committed generation.
    */
  def appendLabelsCommitted(spark: org.apache.spark.sql.SparkSession,
      dir: String, batchIds: DataFrame, idCol: String, pairs: DataFrame,
      expectedGen: Option[Long] = None): Long =
    Stores.label.appendCommitted(spark, dir, expectedGen) {
      val resolved = resolveLabelsSnapshot(spark, dir).cache()
      try incrementLabels(resolved, batchIds, idCol, pairs) { (lab, rem) =>
        lab.write.mode("append").parquet(s"$dir/labels")
        rem.write.mode("append").parquet(s"$dir/remap")
      } finally { resolved.unpersist(); () }
    }

  /** [[resolveLabels]] over exactly the COMMITTED file set (optionally
    * as of a generation — the cluster state as it stood after that
    * commit). The remap side may have no committed files (a store that
    * never merged); tombstones stay retroactive, as everywhere.
    */
  def resolveLabelsSnapshot(spark: org.apache.spark.sql.SparkSession,
      dir: String, asOf: Option[Long] = None,
      maxChain: Int = 64): DataFrame = {
    val remapPaths = StoreFiles.manifestPaths(spark, dir, asOf)
      .filter(_.contains("/remap/"))
    val remap =
      if (remapPaths.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], remapSchema)
      else spark.read.schema(remapSchema)
        .option("basePath", s"$dir/remap").parquet(remapPaths: _*)
    resolveLabelChains(
      Stores.label.dropDeleted(spark, dir,
        Stores.label.snapshot(spark, dir, asOf)("labels")),
      remap, maxChain)
  }

  /** Compute one batch's increment against an already-RESOLVED current
    * view (`resolved` must be the (id, component) fixpoint — the caller
    * should cache it): hands `write` the batch's (id, label) rows and
    * the (old_label, new_label) merge remaps. A callback rather than a
    * return value so the internal caches (contracted edges, component
    * flood) outlive both writes. Deterministic in its inputs — the
    * streaming twin relies on a re-executed batch writing identical
    * rows.
    */
  def incrementLabels(resolved: DataFrame, batchIds: DataFrame,
      idCol: String, pairs: DataFrame,
      upstream: CacheHandle = CacheHandle.untracked)(
      write: (DataFrame, DataFrame) => Unit): Unit = {
    {
      val ids = batchIds.select(col(idCol).as("id"))
      // contract endpoints: stored id → its component label; batch id →
      // itself (left joins leave batch ids unlabeled → coalesce)
      def contracted(side: String) = {
        val r = resolved.select(col("id").as(s"__$side"),
          col("component").as(s"__c$side"))
        r
      }
      // cached: the caller's pair plan is typically EXPENSIVE (minhash
      // probe + verify); touched-node derivation, the component flood,
      // and both writes would otherwise each re-execute it
      val e = pairs
        .join(contracted("a"), col("id_a") === col("__a"), "left")
        .join(contracted("b"), col("id_b") === col("__b"), "left")
        .select(coalesce(col("__ca"), col("id_a")).as("id_a"),
          coalesce(col("__cb"), col("id_b")).as("id_b"))
        .filter(col("id_a") =!= col("id_b"))
        .cache()
      try {
        val touched = e.select(col("id_a").as("id"))
          .unionByName(e.select(col("id_b").as("id"))).distinct()
        val nodes = ids.unionByName(touched).distinct()
        // upstream forwarded: pinning the edge cache folds the whole
        // pair pipeline (shingle caches, resolved labels) into `e`, so
        // the flood rounds run with those buffers already released
        val comp = connectedComponents(nodes, "id", e,
          upstream = upstream).cache()
        try {
          // batch rows enter labels exactly once, with their final
          // label; merged old labels get a remap row (only where the
          // label moved)
          write(
            comp.join(ids, Seq("id"), "left_semi")
              .select(col("id"), col("component").as("label")),
            comp.join(ids, Seq("id"), "left_anti")
              .filter(col("id") =!= col("component"))
              .select(col("id").as("old_label"),
                col("component").as("new_label")))
        } finally { comp.unpersist(); () }
      } finally { e.unpersist(); () }
    }
  }

  // --- WINNOW fingerprint index — the tenth persisted store family
  // --- (build → committed save → probe → committed append → delete →
  // --- compact, snapshot-manifest commit log from day one). Backs the
  // --- Schank-style local fingerprinting of
  // --- [[graft.operators.Curation.winnowFingerprints]] (Schleimer,
  // --- Wilkerson & Aiken, SIGMOD 2003) with the same lifecycle the
  // --- band/SimHash/Bloom families have: a corpus is fingerprinted
  // --- ONCE, and every nightly batch probes the stored sketch for
  // --- partial-overlap candidates instead of re-reading the corpus.

  /** A persisted winnow fingerprint relation plus the (k, w) that
    * SHAPED it — traveling together so a probe can only winnow its
    * batch the way the index was built (the BandIndex contract).
    * `fps`: distinct (id, fp_pos, fp).
    */
  final case class WinnowIndex(fps: DataFrame, k: Int, w: Int)


  /** Fingerprint the corpus once ([[graft.operators.Curation.winnowFingerprints]]). */
  def buildWinnowIndex(corpus: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): WinnowIndex =
    WinnowIndex(
      graft.operators.Curation.winnowFingerprints(corpus, idCol, textCol, k, w)
        .select(col(idCol).as("id"), col("fp_pos"), col("fp")),
      k, w)

  /** Persist: the fingerprint relation plus a one-row params parquet. */
  def saveWinnowIndex(index: WinnowIndex, dir: String): Unit = {
    val spark = index.fps.sparkSession
    Stores.winnow.clearLedger(spark, dir)
    index.fps.write.mode("overwrite").parquet(s"$dir/fps")
    StoreFiles.writeParams(spark, dir, Seq(
      "k" -> index.k.toString, "w" -> index.w.toString))
  }

  /** [[saveWinnowIndex]] plus the initial manifest (generation 0). */
  def saveWinnowIndexCommitted(index: WinnowIndex, dir: String): Unit =
    Stores.winnow.saveCommitted(index.fps.sparkSession, dir) {
      saveWinnowIndex(index, dir)
    }

  /** Fingerprint an accepted batch with the INDEX'S OWN (k, w) and
    * append — existing files never rewritten. Probe before appending
    * (the [[appendBandIndex]] ordering note).
    */
  def appendWinnowIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, idCol: String, textCol: String): Unit = {
    val p = StoreFiles.readParams(spark, dir)
    graft.operators.Curation
      .winnowFingerprints(batch, idCol, textCol, p("k").toInt, p("w").toInt)
      .select(col(idCol).as("id"), col("fp_pos"), col("fp"))
      .write.mode("append").parquet(s"$dir/fps")
  }

  /** [[appendWinnowIndex]] with a commit point (OCC via `expectedGen`);
    * returns the committed generation.
    */
  def appendWinnowIndexCommitted(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, idCol: String, textCol: String,
      expectedGen: Option[Long] = None): Long =
    Stores.winnow.appendCommitted(spark, dir, expectedGen) {
      appendWinnowIndex(spark, dir, batch, idCol, textCol)
    }

  /** Append rows already winnowed with the index's own (k, w) — the
    * (id, fp_pos, fp) rows of [[buildWinnowIndex]] — EXACTLY-ONCE for a
    * replayable writer (foreachBatch): `batchId` rides the manifest
    * commit as a ledger header; a re-delivered id writes nothing and
    * returns None ([[StoreFiles.commitAppendIdempotent]] — the ledger
    * survives [[StoreFamily.compactL0]]'s re-base).
    */
  def appendWinnowFpsCommittedIdempotent(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      fps: DataFrame, batchId: Long): Option[Long] =
    Stores.winnow.appendCommittedIdempotent(spark, dir, batchId) {
      fps.write.mode("append").parquet(s"$dir/fps")
    }

  /** Assemble a [[WinnowIndex]] under a per-sub reader (raw or
    * snapshot); the ledger anti-joins lazily.
    */
  private def mkWinnowIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, rd: String => DataFrame): WinnowIndex = {
    val p = StoreFiles.readParams(spark, dir)
    WinnowIndex(Stores.winnow.dropDeleted(spark, dir, rd("fps")),
      p("k").toInt, p("w").toInt)
  }

  /** Raw directory load (tombstones anti-join lazily). */
  def loadWinnowIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): WinnowIndex =
    mkWinnowIndex(spark, dir, Stores.winnow.raw(spark, dir))

  /** Load exactly the COMMITTED file set (optionally as of a
    * generation); tombstones stay retroactive — the delete ledger is
    * unversioned, a forgotten doc never resurfaces through a
    * historical read.
    */
  def loadWinnowIndexSnapshot(spark: org.apache.spark.sql.SparkSession,
      dir: String, asOf: Option[Long] = None): WinnowIndex =
    mkWinnowIndex(spark, dir, Stores.winnow.snapshot(spark, dir, asOf))

  /** Nightly compaction: rewrite `fps` into `nFiles` files with
    * tombstones applied physically; a manifested store compacts its
    * COMMITTED snapshot and history collapses to a fresh generation 0
    * (the [[compactBandIndex]] semantics).
    */
  def compactWinnowIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, nFiles: Int = 8): Unit = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    Stores.winnow.compactScaffold(spark, dir) { (manifested, tombs) =>
      Map("fps" ->
        (if (manifested)
           loadWinnowIndexSnapshot(spark, dir).fps.localCheckpoint()
         else {
           val raw = spark.read.parquet(s"$dir/fps")
           tombs.fold(raw)(t =>
             raw.join(broadcast(t), Seq("id"), "left_anti"))
         }))
    } { (_, src, tmp) => src.coalesce(nFiles).write.parquet(tmp) }
  }

  /** Probe a batch against the stored sketch: partial-overlap
    * candidate pairs (id_a = index doc, id_b = batch doc, n_shared =
    * distinct common fingerprints ≥ `minShared`). Fingerprints held by
    * more than `maxDf` index documents are DROPPED before pairing —
    * corpus-wide boilerplate selects the same minimum everywhere, and
    * without the cap one hot fingerprint pairs every batch doc with
    * its whole posting list (the quadratic-bucket guard; same role as
    * the hot-gram caps elsewhere). The winnowing guarantee (a shared
    * run of ≥ w + k − 1 tokens shares a fingerprint) holds for any
    * run that is not itself df-capped boilerplate. The batch is
    * fingerprinted with the index's (k, w), then [[winnowProbeFps]].
    */
  def winnowProbe(index: WinnowIndex, batch: DataFrame, idCol: String,
      textCol: String, minShared: Long = 2L, maxDf: Long = 50L): DataFrame =
    winnowProbeFps(index,
      graft.operators.Curation
        .winnowFingerprints(batch, idCol, textCol, index.k, index.w)
        .select(col(idCol).as("id_b"), col("fp")),
      minShared, maxDf)

  /** [[winnowProbe]] of a batch already winnowed with the index's (k, w):
    * `batchFps` holds its (id_b, fp) rows, duplicates allowed.
    *
    * Scale shape, one budget over two sides: the bytes of collected rows
    * ([[Relational.driverRows]]) may not pass
    * `spark.sql.autoBroadcastJoinThreshold`, read at call time.
    *  - driver: the batch's rows fit (read without a job when `batchFps`
    *    is a local relation), and so do the index's (id, fp) rows whose
    *    fp occurs in the batch, collected through an IN filter on the
    *    batch's distinct fps (an InSet past a few values, so no broadcast
    *    job; its length is bounded by the budget). The driver counts each
    *    fp's distinct index ids (its df over the whole index: every index
    *    row of that fp was collected), drops the fps over `maxDf`, and
    *    counts the shared fps per pair. A batch without fingerprints runs
    *    no job; the pairs are a local relation.
    *  - distributed (either side over budget, or a threshold ≤ 0): one
    *    df aggregate over the index, one keyed join on the fingerprint
    *    (fan-out bounded by maxDf per fp), one pair aggregate.
    * The corpus text is never re-read.
    */
  def winnowProbeFps(index: WinnowIndex, batchFps: DataFrame,
      minShared: Long = 2L, maxDf: Long = 50L): DataFrame = {
    require(minShared >= 1 && maxDf >= 1,
      s"need minShared >= 1, maxDf >= 1; got $minShared/$maxDf")
    val budget = SQLConf.get.autoBroadcastJoinThreshold
    val idxFps = index.fps.select(col("id"), col("fp"))
    val bFps = batchFps.select(col("id_b"), col("fp"))
    def distributed(b: DataFrame): DataFrame = {
      val idx = idxFps.distinct()
      val keep = idx.groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select(col("fp"))
      idx.join(keep, Seq("fp"))
        .join(b.distinct(), Seq("fp"))
        .groupBy(col("id").as("id_a"), col("id_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= minShared)
    }
    Relational.driverRows(bFps, budget) match {
      case None => distributed(bFps)
      case Some(bRows) =>
        val Seq(idType, fpType) = idxFps.schema.map(_.dataType)
        val bIdType = bFps.schema("id_b").dataType
        // a null fp matches nothing
        val batchIds = bRows.filterNot(_.isNullAt(1))
          .groupMap(_.get(1, fpType))(_.get(0, bIdType))
          .view.mapValues(_.distinct).toMap
        val shared =
          if (batchIds.isEmpty) Some(Seq.empty)
          else Relational.driverRows(idxFps.filter(col("fp").isin(batchIds.keys.toSeq
            .map(CatalystTypeConverters.convertToScala(_, fpType)): _*)), budget)
        shared match {
          case None =>
            distributed(Relational.localFrame(bFps.sparkSession, bRows, bFps.schema))
          case Some(iRows) =>
            val nShared = scala.collection.mutable.HashMap.empty[(Any, Any), Long]
            iRows.map(r => (r.get(1, fpType), r.get(0, idType))).distinct
              .groupMap(_._1)(_._2)
              .foreach { case (fp, ids) =>
                if (ids.size <= maxDf)
                  for (a <- ids; b <- batchIds(fp))
                    nShared((a, b)) = nShared.getOrElse((a, b), 0L) + 1L
              }
            Relational.localFrame(bFps.sparkSession,
              nShared.collect { case ((a, b), n) if n >= minShared => InternalRow(a, b, n) }.toSeq,
              StructType(Seq(idxFps.schema("id").copy(name = "id_a"),
                bFps.schema("id_b"), StructField("n_shared", LongType, nullable = false))))
        }
    }
  }
}
