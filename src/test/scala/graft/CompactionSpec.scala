package graft

import graft.operators.{Dedup, Retrieval, Similarity, Stores}
import org.apache.spark.sql.functions._

/** Small-file compaction for every append-only stored index family:
  * appends are new-files-only by design, so a nightly loop accumulates
  * files without bound; each `compact*Index` must rewrite the store
  * into fewer files while leaving probe/serve results AND the params
  * tables bit-identical. (The label store's own LSM merge is covered in
  * DedupSpec; these are the r8-noted remaining families.)
  */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables(spark, sf, "documents")
  private lazy val emb = Tables(spark, sf, "embeddings")

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_compact_$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def files(dir: String): Int = parquetStamps(dir).size

  /** Probe batch with ids disjoint from the corpus (index contract). */
  private lazy val shifted = docs.filter($"doc_id" % 10 === 5)
    .select(($"doc_id" + 1000000L).as("doc_id"), $"text")

  test("compactL0 re-base scopes BOTH zone-map forms to surviving files " +
      "(strstat lines of merged-away L0 files must drop with the files)") {
    import graft.operators.{DocStore, StoreFiles}
    val dir = tmpDir("docl0str")
    // docstore: statCols (doc_id, source) — source is a STRING column,
    // so every commit writes strstat header lines
    DocStore.saveDocStoreCommitted(spark, dir,
      docs.filter($"doc_id" % 3 === 0), numFiles = 2)
    DocStore.appendDocStoreCommitted(spark, dir, docs.filter($"doc_id" % 3 === 1))
    DocStore.appendDocStoreCommitted(spark, dir, docs.filter($"doc_id" % 3 === 2))
    def headerPaths(kind: String): Set[String] =
      StoreFiles.manifestHeaders(spark, dir).collect {
        case (`kind`, v) => v.split("\\|", 4).last
      }.toSet
    assert(headerPaths("strstat").nonEmpty, "docstore commits must carry strstat")
    val served = DocStore.loadDocStoreSnapshot(spark, dir)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(Stores.docstore.compactL0(spark, dir, minRuns = 2))
    val committed = StoreFiles.manifestPaths(spark, dir).toSet
    for (kind <- Seq("stat", "strstat")) {
      val orphans = headerPaths(kind) -- committed
      assert(orphans.isEmpty,
        s"$kind lines reference merged-away files: $orphans")
    }
    assert(DocStore.loadDocStoreSnapshot(spark, dir)
      .select($"doc_id").as[Long].collect().sorted.toSeq == served)
  }

  test("compactBandIndex: probes identical, fewer files, params preserved") {
    val dir = tmpDir("band")
    Dedup.saveBandIndex(
      Dedup.buildBandIndex(docs.filter($"doc_id" % 3 === 0), "doc_id", "text"), dir)
    Dedup.appendBandIndex(spark, dir, docs.filter($"doc_id" % 3 === 1), "doc_id", "text")
    Dedup.appendBandIndex(spark, dir, docs.filter($"doc_id" % 3 === 2), "doc_id", "text")
    def probe = Dedup.minHashLshProbe(Dedup.loadBandIndex(spark, dir),
        shifted, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    val (before, filesBefore) = (probe, files(dir))
    val params = graft.operators.StoreFiles.readParams(spark, dir)
    Dedup.compactBandIndex(spark, dir, setsFiles = 2)
    assert(probe == before && before.nonEmpty)
    assert(files(dir) < filesBefore, s"${files(dir)} !< $filesBefore")
    assert(graft.operators.StoreFiles.readParams(spark, dir) == params)
  }

  test("compactSimHashIndex: probes identical, fewer files, params preserved") {
    val dir = tmpDir("simhash")
    Dedup.saveSimHashIndex(
      Dedup.buildSimHashIndex(docs.filter($"doc_id" % 3 === 0), "doc_id", "text"), dir)
    Dedup.appendSimHashIndex(spark, dir, docs.filter($"doc_id" % 3 === 1), "doc_id", "text")
    Dedup.appendSimHashIndex(spark, dir, docs.filter($"doc_id" % 3 === 2), "doc_id", "text")
    def probe = Dedup.simHashProbe(Dedup.loadSimHashIndex(spark, dir),
        shifted, "doc_id", "text")
      .as[(Long, Long, Long)].collect().toSet
    val (before, filesBefore) = (probe, files(dir))
    val params = graft.operators.StoreFiles.readParams(spark, dir)
    Dedup.compactSimHashIndex(spark, dir)
    assert(probe == before && before.nonEmpty)
    assert(files(dir) < filesBefore, s"${files(dir)} !< $filesBefore")
    assert(graft.operators.StoreFiles.readParams(spark, dir) == params)
  }

  test("compactBloomIndex: merged bitmap identical, fewer files, params preserved") {
    val dir = tmpDir("bloom")
    val fp = graft.functions.TextAnalysis.fingerprint($"text")
    def keys(m: Int) = docs.filter($"doc_id" % 3 === m).select(fp.as("fp"))
    Dedup.saveBloomIndex(Dedup.buildBloomIndex(keys(0), "fp"), dir)
    Dedup.appendBloomIndex(spark, dir, keys(1), "fp")
    Dedup.appendBloomIndex(spark, dir, keys(2), "fp")
    def loaded = {
      val ix = Dedup.loadBloomIndex(spark, dir)
      (ix.words.as[(Long, Long)].collect().toSet, ix.mBits, ix.kHashes)
    }
    val (before, filesBefore) = (loaded, files(dir))
    Dedup.compactBloomIndex(spark, dir)
    assert(loaded == before && before._1.nonEmpty)
    assert(files(dir) < filesBefore, s"${files(dir)} !< $filesBefore")
    // compaction materialized the lazy OR: one row per word on disk now
    val disk = spark.read.parquet(s"$dir/words")
    assert(disk.count() == disk.select($"word").distinct().count())
  }

  test("compactIvfIndex: served top-k identical, fewer files, centroids preserved") {
    val dir = tmpDir("ivf")
    Similarity.saveIvfIndex(
      Similarity.buildIvfIndex(emb.filter($"vec_id" % 10 =!= 0),
        "vec_id", "embedding"), dir)
    Similarity.appendIvfIndex(spark, dir,
      emb.filter($"vec_id" % 10 === 0), "vec_id", "embedding")
    val queries = emb.filter($"vec_id" % 25 === 0)
    def served = Similarity.ivfSearchIndex(queries,
        Similarity.loadIvfIndex(spark, dir), "vec_id", "embedding", 10)
      .as[(Long, Long, Double, Int)].collect().toSet
    val (before, filesBefore) = (served, files(dir))
    val cents = graft.operators.StoreFiles.readVecTable(spark, s"$dir/centroids").map { case (a, b, v) => (a, b, v.toSeq) }
    Similarity.compactIvfIndex(spark, dir)
    assert(served == before && before.nonEmpty)
    assert(files(dir) < filesBefore, s"${files(dir)} !< $filesBefore")
    assert(graft.operators.StoreFiles.readVecTable(spark, s"$dir/centroids").map { case (a, b, v) => (a, b, v.toSeq) } == cents)
  }

  test("compactPqIndex: served top-k identical, fewer files, codebooks preserved") {
    val dir = tmpDir("pq")
    Similarity.savePqIndex(
      Similarity.buildPqIndex(emb.filter($"vec_id" % 10 =!= 0),
        "vec_id", "embedding"), dir)
    Similarity.appendPqIndex(spark, dir,
      emb.filter($"vec_id" % 10 === 0), "vec_id", "embedding")
    val queries = emb.filter($"vec_id" % 25 === 0)
    def served = Similarity.pqSearchIndex(queries,
        Similarity.loadPqIndex(spark, dir), "vec_id", "embedding", 10)
      .as[(Long, Long, Long, Int)].collect().toSet
    val (before, filesBefore) = (served, files(dir))
    val books = graft.operators.StoreFiles.readVecTable(spark, s"$dir/codebooks").map { case (a, b, v) => (a, b, v.toSeq) }
    Similarity.compactPqIndex(spark, dir)
    assert(served == before && before.nonEmpty)
    assert(files(dir) < filesBefore, s"${files(dir)} !< $filesBefore")
    assert(graft.operators.StoreFiles.readVecTable(spark, s"$dir/codebooks").map { case (a, b, v) => (a, b, v.toSeq) } == books)
  }

  test("compactPostingsIndex: serve identical, fewer files, stats collapse to one row") {
    val dir = tmpDir("postings")
    Retrieval.savePostingsIndex(
      Retrieval.buildPostingsIndex(docs.filter($"doc_id" % 3 === 0),
        "doc_id", "text"), dir)
    Retrieval.appendPostingsIndex(spark, dir,
      docs.filter($"doc_id" % 3 === 1), "doc_id", "text")
    Retrieval.appendPostingsIndex(spark, dir,
      docs.filter($"doc_id" % 3 === 2), "doc_id", "text")
    val queries = docs.filter($"doc_id" % 50 === 7)
      .select($"doc_id".as("qid"),
        array_distinct(slice(split($"text", " "), 1, 4)).as("qterms"))
    def served = Retrieval.bm25SearchIndex(queries,
        Retrieval.loadPostingsIndex(spark, dir), "qid", "qterms", k = 5)
      .as[(Long, Long, Long, Int)].collect().toSet
    val (before, filesBefore) = (served, files(dir))
    val params = graft.operators.StoreFiles.readParams(spark, dir)
    Retrieval.compactPostingsIndex(spark, dir)
    assert(served == before && before.nonEmpty)
    assert(files(dir) < filesBefore, s"${files(dir)} !< $filesBefore")
    assert(graft.operators.StoreFiles.readParams(spark, dir) == params)
    assert(spark.read.parquet(s"$dir/stats").count() == 1)
  }

  test("compactPositionalIndex: serve identical, fewer files, tombstones applied and cleared") {
    val dir = tmpDir("positional")
    Retrieval.savePositionalIndex(
      Retrieval.buildPositionalIndex(docs.filter($"doc_id" % 3 === 0),
        "doc_id", "text"), dir)
    Retrieval.appendPositionalIndex(spark, dir,
      docs.filter($"doc_id" % 3 === 1), "doc_id", "text")
    Retrieval.appendPositionalIndex(spark, dir,
      docs.filter($"doc_id" % 3 === 2), "doc_id", "text")
    Stores.positional.delete(spark, dir,
      docs.filter($"doc_id" % 7 === 3).select("doc_id"), "doc_id")
    val phrases = docs.filter($"doc_id" % 100 === 11 &&
        size(split($"text", " ")) >= 5)
      .select($"doc_id".as("pid"), slice(split($"text", " "), 3, 3).as("pterms"))
    def served = Retrieval.phraseSearchIndex(phrases,
        Retrieval.loadPositionalIndex(spark, dir), "pid", "pterms")
      .as[(Long, Long, Long)].collect().toSet
    val (before, filesBefore) = (served, files(dir))
    Retrieval.compactPositionalIndex(spark, dir)
    assert(served == before && before.nonEmpty)
    assert(files(dir) < filesBefore, s"${files(dir)} !< $filesBefore")
    // tombstones applied physically and the ledger cleared
    assert(!new java.io.File(s"$dir/tombstones").exists())
    assert(spark.read.parquet(s"$dir/postings")
      .filter($"doc_id" % 7 === 3).count() == 0)
  }

  test("compactPostingsL0: merges ONLY the appended runs — base files " +
      "untouched (path+mtime), serve identical, tombstones survive, " +
      "store stays appendable") {
    import graft.operators.StoreFiles
    val dir = tmpDir("postings_l0")
    Retrieval.savePostingsIndexCommitted(
      Retrieval.buildPostingsIndex(docs.filter($"doc_id" % 3 === 0),
        "doc_id", "text"), dir)
    val baseStamps = parquetStamps(s"$dir/postings", s"$dir/stats")
    for (r <- Seq(1, 4, 7))
      Retrieval.appendPostingsIndexCommitted(spark, dir,
        docs.filter($"doc_id" % 9 === r), "doc_id", "text")
    // tombstone docs that live in the BASE — the ledger must survive an
    // L0 compaction (the base is never rewritten, so the physical apply
    // is impossible; only the full compaction clears it)
    Retrieval.deleteFromPostingsIndex(spark, dir,
      docs.filter($"doc_id" % 30 === 3).select("doc_id"), "doc_id")
    val queries = docs.filter($"doc_id" % 50 === 7)
      .select($"doc_id".as("qid"),
        array_distinct(slice(split($"text", " "), 1, 4)).as("qterms"))
    def served = Retrieval.bm25SearchIndex(queries,
        Retrieval.loadPostingsIndexSnapshot(spark, dir),
        "qid", "qterms", k = 5)
      .as[(Long, Long, Long, Int)].collect().toSet
    val before = served
    val l0Files = StoreFiles.manifestPaths(spark, dir).toSet --
      baseStamps.keySet.map("file:" + _)
    assert(l0Files.nonEmpty)
    // below the run-count trigger the policy REFUSES (no rewrite)
    assert(!Stores.postings.compactL0(spark, dir, minRuns = 4))
    assert(StoreFiles.manifestGen(spark, dir) == 3L)
    assert(Stores.postings.compactL0(spark, dir, minRuns = 3))
    // manifest re-based to a fresh generation 0
    assert(StoreFiles.manifestGen(spark, dir) == 0L)
    val after = StoreFiles.manifestPaths(spark, dir).toSet
    // every base file is still committed, byte-identical (same mtime)
    assert(baseStamps.keySet.map("file:" + _).subsetOf(after))
    val nowStamps = parquetStamps(s"$dir/postings", s"$dir/stats")
    baseStamps.foreach { case (p, ts) =>
      assert(nowStamps.get(p).contains(ts), s"base file rewritten: $p")
    }
    // no old L0 run survives in the committed set, and the replaced
    // files are physically gone (post-commit cleanup)
    assert((after & l0Files).isEmpty)
    l0Files.foreach { f =>
      assert(!new java.io.File(f.stripPrefix("file:")).exists(),
        s"replaced L0 file still on disk: $f")
    }
    // serve is bit-identical (tombstones still anti-joined lazily)
    assert(served == before && before.nonEmpty)
    assert(new java.io.File(s"$dir/tombstones").exists())
    // and the compacted store accepts the next committed append
    assert(Retrieval.appendPostingsIndexCommitted(spark, dir,
      docs.filter($"doc_id" % 9 === 2), "doc_id", "text") == 1L)
  }

  test("CompactionPolicy: bytes trigger fires when the count trigger " +
      "would wait forever; empty L0 never fires; maintain loop " +
      "self-regulates with serve unchanged") {
    import graft.operators.{CompactionPolicy, L0Stats, StoreFiles}
    // decision table, no store needed
    val byCount = CompactionPolicy(maxRuns = 3)
    assert(!byCount.triggered(L0Stats(0, 0L)))
    assert(!byCount.triggered(L0Stats(2, 1L << 40))) // count-only ignores bytes
    assert(byCount.triggered(L0Stats(3, 0L)))
    val byBytes = CompactionPolicy(maxRuns = 1000, maxL0Bytes = 1L)
    assert(!byBytes.triggered(L0Stats(0, 0L))) // nothing to merge
    assert(byBytes.triggered(L0Stats(1, 1L)))
    // against a real store: a bytes-1 policy compacts after EVERY
    // append (the hot-ingest case the count trigger can't see), so the
    // L0 stack never exceeds one run and gen never exceeds 1
    val dir = tmpDir("postings_policy")
    Retrieval.savePostingsIndexCommitted(
      Retrieval.buildPostingsIndex(docs.filter($"doc_id" % 3 === 0),
        "doc_id", "text"), dir)
    for (r <- Seq(1, 4, 7)) {
      Retrieval.appendPostingsIndexCommitted(spark, dir,
        docs.filter($"doc_id" % 9 === r), "doc_id", "text")
      assert(Stores.postings.l0Stats(spark, dir).runs == 1)
      assert(Stores.postings.maintain(spark, dir, byBytes))
      assert(StoreFiles.manifestGen(spark, dir) == 0L)
      assert(Stores.postings.l0Stats(spark, dir) == L0Stats(0, 0L))
      // quiescent store: the policy does not re-fire on empty L0
      assert(!Stores.postings.maintain(spark, dir, byBytes))
    }
    // serve over the self-regulated store ≡ the same corpus indexed
    // in one shot
    val corpus = docs.filter($"doc_id" % 3 === 0 || $"doc_id" % 9 === 1 ||
      $"doc_id" % 9 === 4 || $"doc_id" % 9 === 7)
    val queries = docs.filter($"doc_id" % 50 === 7)
      .select($"doc_id".as("qid"),
        array_distinct(slice(split($"text", " "), 1, 4)).as("qterms"))
    val served = Retrieval.bm25SearchIndex(queries,
        Retrieval.loadPostingsIndexSnapshot(spark, dir),
        "qid", "qterms", k = 5)
      .as[(Long, Long, Long, Int)].collect().toSet
    val oneShot = Retrieval.bm25SearchIndex(queries,
        Retrieval.buildPostingsIndex(corpus, "doc_id", "text"),
        "qid", "qterms", k = 5)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(served == oneShot && served.nonEmpty)
  }

  /** The shared maintain-L0 contract, asserted per family: 3 committed
    * appends; maxRuns=4 refuses; maxRuns=3 fires and re-bases to
    * generation 0; generation-0 base files untouched (path + mtime);
    * serve byte-identical to never having compacted.
    */
  private def checkL0Maintain(baseDirs: Seq[String],
      append: Int => Unit,
      maintain: graft.operators.CompactionPolicy => Boolean,
      gen: => Long, serve: => Set[_]): Unit = {
    import graft.operators.CompactionPolicy
    val baseStamps = parquetStamps(baseDirs: _*)
    (1 to 3).foreach(append)
    val before = serve
    assert(!maintain(CompactionPolicy(maxRuns = 4)), "fired below maxRuns")
    assert(gen == 3L)
    assert(maintain(CompactionPolicy(maxRuns = 3)), "did not fire at maxRuns")
    assert(gen == 0L, "manifest must re-base to generation 0")
    val now = parquetStamps(baseDirs: _*)
    baseStamps.foreach { case (p, ts) =>
      assert(now.get(p).contains(ts), s"base file rewritten: $p")
    }
    assert(serve == before && before.nonEmpty)
  }

  test("a StoreFamily whose L0 layouts do not name exactly its subs " +
      "fails at construction") {
    import graft.operators.{L0Layout, StoreFamily}
    val e = intercept[IllegalArgumentException] {
      StoreFamily("bad", Seq("a", "b"), l0 = Map("a" -> L0Layout.Coalesce))
    }
    assert(e.getMessage.contains("'bad'") &&
      e.getMessage.contains("must match its subs [a, b]"))
    // no layouts at all is legal: that family has no L0 compaction
    val none = StoreFamily("none", Seq("a"))
    assert(intercept[IllegalArgumentException](
        none.compactL0(spark, tmpDir("none_l0")))
      .getMessage.contains("registers no L0 layout"))
  }

  test("L0 maintain sweep: band, winnow, simhash, ivf, pq, postings, " +
      "positional, label, agg, docstore all honor the shared policy " +
      "contract") {
    import graft.operators.{DocStore, MatView}
    locally { // band
      val dir = tmpDir("band_sweep_l0")
      Dedup.saveBandIndexCommitted(
        Dedup.buildBandIndex(docs.filter($"doc_id" % 3 === 0),
          "doc_id", "text"), dir)
      checkL0Maintain(Seq(s"$dir/bands", s"$dir/sets"),
        r => { Dedup.appendBandIndexCommitted(spark, dir,
          docs.filter($"doc_id" % 9 === 3 * r - 2), "doc_id", "text"); () },
        Stores.band.maintain(spark, dir, _),
        Stores.band.gen(spark, dir),
        Dedup.minHashLshProbe(Dedup.loadBandIndexSnapshot(spark, dir),
            shifted, "doc_id", "text")
          .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet)
      // the re-based store accepts the next committed append
      assert(Dedup.appendBandIndexCommitted(spark, dir,
        docs.filter($"doc_id" % 9 === 2), "doc_id", "text") == 1L)
    }
    locally { // winnow
      val dir = tmpDir("winnow_l0")
      Dedup.saveWinnowIndexCommitted(
        Dedup.buildWinnowIndex(docs.filter($"doc_id" % 3 === 0),
          "doc_id", "text"), dir)
      checkL0Maintain(Seq(s"$dir/fps"),
        r => { Dedup.appendWinnowIndexCommitted(spark, dir,
          docs.filter($"doc_id" % 9 === 3 * r - 2), "doc_id", "text"); () },
        Stores.winnow.maintain(spark, dir, _),
        Stores.winnow.gen(spark, dir),
        Dedup.winnowProbe(Dedup.loadWinnowIndexSnapshot(spark, dir),
            shifted, "doc_id", "text", minShared = 1L)
          .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet)
    }
    locally { // simhash
      val dir = tmpDir("simhash_l0")
      Dedup.saveSimHashIndexCommitted(
        Dedup.buildSimHashIndex(docs.filter($"doc_id" % 3 === 0),
          "doc_id", "text"), dir)
      checkL0Maintain(Seq(s"$dir/banded"),
        r => { Dedup.appendSimHashIndexCommitted(spark, dir,
          docs.filter($"doc_id" % 9 === 3 * r - 2), "doc_id", "text"); () },
        Stores.simhash.maintain(spark, dir, _),
        Stores.simhash.gen(spark, dir),
        Dedup.simHashProbe(Dedup.loadSimHashIndexSnapshot(spark, dir),
            shifted, "doc_id", "text")
          .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet)
    }
    locally { // ivf
      val dir = tmpDir("ivf_l0")
      val queries = emb.filter($"vec_id" % 25 === 0 && $"vec_id" < 40)
      Similarity.saveIvfIndexCommitted(
        Similarity.buildIvfIndex(emb.filter($"vec_id" < 40),
          "vec_id", "embedding"), dir)
      checkL0Maintain(Seq(s"$dir/assignments"),
        r => { Similarity.appendIvfIndexCommitted(spark, dir,
          emb.filter($"vec_id" >= 40 * r && $"vec_id" < 40 * (r + 1)),
          "vec_id", "embedding"); () },
        Stores.ivf.maintain(spark, dir, _),
        Stores.ivf.gen(spark, dir),
        Similarity.ivfSearchIndex(queries,
            Similarity.loadIvfIndexSnapshot(spark, dir),
            "vec_id", "embedding", k = 5)
          .select($"query_id", $"neighbor_id", $"rank")
          .as[(Long, Long, Int)].collect().toSet)
    }
    locally { // pq
      val dir = tmpDir("pq_l0")
      val queries = emb.filter($"vec_id" % 25 === 0 && $"vec_id" < 40)
      Similarity.savePqIndexCommitted(
        Similarity.buildPqIndex(emb.filter($"vec_id" < 40),
          "vec_id", "embedding"), dir)
      checkL0Maintain(Seq(s"$dir/codes"),
        r => { Similarity.appendPqIndexCommitted(spark, dir,
          emb.filter($"vec_id" >= 40 * r && $"vec_id" < 40 * (r + 1)),
          "vec_id", "embedding"); () },
        Stores.pq.maintain(spark, dir, _),
        Stores.pq.gen(spark, dir),
        Similarity.pqSearchIndex(queries,
            Similarity.loadPqIndexSnapshot(spark, dir),
            "vec_id", "embedding", k = 5)
          .select($"query_id", $"neighbor_id", $"rank")
          .as[(Long, Long, Int)].collect().toSet)
    }
    locally { // postings (stats runs fold under the sum law)
      val dir = tmpDir("postings_sweep_l0")
      val queries = docs.filter($"doc_id" % 50 === 7)
        .select($"doc_id".as("qid"),
          array_distinct(slice(split($"text", " "), 1, 4)).as("qterms"))
      Retrieval.savePostingsIndexCommitted(
        Retrieval.buildPostingsIndex(docs.filter($"doc_id" % 3 === 0),
          "doc_id", "text"), dir)
      checkL0Maintain(Seq(s"$dir/postings", s"$dir/stats"),
        r => { Retrieval.appendPostingsIndexCommitted(spark, dir,
          docs.filter($"doc_id" % 9 === 3 * r - 2), "doc_id", "text"); () },
        Stores.postings.maintain(spark, dir, _),
        Stores.postings.gen(spark, dir),
        Retrieval.bm25SearchIndex(queries,
            Retrieval.loadPostingsIndexSnapshot(spark, dir),
            "qid", "qterms", k = 5)
          .as[(Long, Long, Long, Int)].collect().toSet)
    }
    locally { // positional
      val dir = tmpDir("pos_l0")
      val phrases = docs.filter($"doc_id" % 40 === 1)
        .select($"doc_id".as("pid"),
          slice(split($"text", " "), 1, 3).as("pterms"))
      Retrieval.savePositionalIndexCommitted(
        Retrieval.buildPositionalIndex(docs.filter($"doc_id" % 3 === 0),
          "doc_id", "text", nBuckets = 8), dir)
      checkL0Maintain(Seq(s"$dir/postings"),
        r => { Retrieval.appendPositionalIndexCommitted(spark, dir,
          docs.filter($"doc_id" % 9 === 3 * r - 2), "doc_id", "text"); () },
        Stores.positional.maintain(spark, dir, _),
        Stores.positional.gen(spark, dir),
        Retrieval.phraseSearchIndex(phrases,
            Retrieval.loadPositionalIndexSnapshot(spark, dir),
            "pid", "pterms")
          .as[(Long, Long, Long)].collect().toSet)
    }
    locally { // label (remap side may legitimately carry no L0 files)
      val dir = tmpDir("label_l0")
      Dedup.saveLabelStoreCommitted(
        Dedup.connectedComponents(
          Seq(1L, 2L, 3L, 4L).toDF("id"), "id",
          Seq((1L, 2L)).toDF("id_a", "id_b")), dir)
      checkL0Maintain(Seq(s"$dir/labels", s"$dir/remap"),
        r => { Dedup.appendLabelsCommitted(spark, dir,
          Seq(10L + r).toDF("id"), "id",
          Seq((10L + r, 1L)).toDF("id_a", "id_b")); () },
        Stores.label.maintain(spark, dir, _),
        Stores.label.gen(spark, dir),
        Dedup.resolveLabelsSnapshot(spark, dir)
          .select($"id", $"component").as[(Long, Long)].collect().toSet)
    }
    locally { // agg (delta runs fold under the keyed merge law)
      val dir = tmpDir("agg_l0")
      val toks = docs.withColumn("tok", size(split($"text", " ")).cast("long"))
      MatView.saveAggStateCommitted(
        MatView.buildAggState(toks.filter($"doc_id" % 3 === 0),
          Seq("lang", "source"), "tok"), dir)
      checkL0Maintain(Seq(s"$dir/state"),
        r => { MatView.appendAggStateCommitted(spark, dir,
          toks.filter($"doc_id" % 9 === 3 * r - 2)); () },
        Stores.agg.maintain(spark, dir, _),
        Stores.agg.gen(spark, dir),
        MatView.serveAgg(MatView.loadAggStateSnapshot(spark, dir))
          .collect().map(_.toSeq).toSet)
    }
    locally { // docstore (clustered without partitionBy)
      val dir = tmpDir("doc_l0")
      DocStore.saveDocStoreCommitted(spark, dir,
        docs.filter($"doc_id" % 3 === 0), numFiles = 2)
      checkL0Maintain(Seq(s"$dir/docs"),
        r => { DocStore.appendDocStoreCommitted(spark, dir,
          docs.filter($"doc_id" % 9 === 3 * r - 2)); () },
        Stores.docstore.maintain(spark, dir, _),
        Stores.docstore.gen(spark, dir),
        DocStore.loadDocStoreSnapshot(spark, dir)
          .collect().map(_.toSeq).toSet)
    }
  }
}
