package graft

import graft.operators.{Similarity, Stores}
import org.apache.spark.sql.functions._

/** MEASURED read-pruning for the stored ANN indexes — the read-side
  * twin of SkewSpec's measured shuffle bound: "probing nprobe of nlist
  * cells touches nprobe/nlist of the index files" as per-task
  * input-bytes arithmetic, not a comment.
  *
  * Why measured: the broadcast cell join ALONE plans a
  * DynamicPruningExpression but does not prune at runtime (under the
  * default reuseBroadcastOnly the probe side's exchange isn't
  * reusable here, so the fallback scans every cell — nprobe=1 and
  * nprobe=nlist read identical bytes; observed before the fix). The
  * serves therefore collect the probed cells (bounded: ≤ nlist
  * values — the bm25SearchIndex bucket-collect discipline) and filter
  * on the literal set, which prunes at plan time unconditionally.
  */
class PruningSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables(spark, sf, "embeddings")

  private def tmpDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_prune_$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  /** Total task input bytes during `action` — scoped listener, bus
    * drained before reading (the SkewSpec/Bench discipline).
    */
  private def totalInputBytes(action: => Unit): Long = {
    val sc = spark.sparkContext
    val tot = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) { tot.addAndGet(m.inputMetrics.bytesRead); () }
      }
    }
    sc.addSparkListener(l)
    try { action; org.apache.spark.graft.ListenerBusDrain.drain(sc) }
    finally sc.removeSparkListener(l)
    tot.get()
  }

  test("ivfSearchIndex: input bytes scale with nprobe, and the probed " +
      "cells reach the scan as a STATIC partition filter") {
    val dir = tmpDir("ivf")
    Similarity.saveIvfIndex(
      Similarity.buildIvfIndex(emb, "vec_id", "embedding"), dir)
    val idx = Similarity.loadIvfIndex(spark, dir)
    val q = emb.filter($"vec_id" === 0).localCheckpoint()
    def bytes(np: Int): Long = totalInputBytes {
      Similarity.ivfSearchIndex(q, idx, "vec_id", "embedding",
        k = 5, nprobe = np).count(); ()
    }
    val (b1, b4, bAll) = (bytes(1), bytes(4), bytes(16))
    // one probed cell must read a FRACTION of the all-cells scan (the
    // exact ratio is file-size dependent; 4x is a conservative floor
    // for a 16-cell index), and bytes must grow with nprobe
    assert(b1 * 4 <= bAll,
      s"nprobe=1 read $b1 bytes vs $bAll for all cells — scan not pruned")
    assert(b4 < bAll, s"nprobe=4 ($b4) did not read less than all ($bAll)")
    assert(b1 < b4, s"nprobe=1 ($b1) did not read less than nprobe=4 ($b4)")
    // the plan carries the literal cell set as a partition filter, and
    // no dynamic-pruning fallback remains
    val plan = Similarity.ivfSearchIndex(q, idx, "vec_id", "embedding",
      k = 5, nprobe = 1).queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"cell partition filter missing on assignments scan:\n$plan")
    assert(!plan.contains("dynamicpruning"),
      "serve must not rely on dynamic partition pruning (it silently " +
        "falls back to a full scan when the broadcast is not reusable)")
  }

  test("zone maps: a ranged postings serve skips non-overlapping " +
      "committed files, and envelopes survive an L0 re-base") {
    import graft.operators.{Retrieval, StoreFiles}
    val docs = Tables(spark, sf, "documents")
    val dir = tmpDir("zonemap")
    val mx = docs.agg(max($"doc_id")).head().getLong(0)
    val c1 = mx / 2; val c2 = (mx * 3) / 4; val lo = c2 + 1
    Retrieval.savePostingsIndexCommitted(
      Retrieval.buildPostingsIndex(docs.filter($"doc_id" <= c1),
        "doc_id", "text", nBuckets = 8), dir)
    Retrieval.appendPostingsIndexCommitted(spark, dir,
      docs.filter($"doc_id" > c1 && $"doc_id" <= c2), "doc_id", "text")
    Retrieval.appendPostingsIndexCommitted(spark, dir,
      docs.filter($"doc_id" > c2), "doc_id", "text")
    // every committed postings file carries a doc_id envelope, and the
    // range keeps only a strict minority (base + first append skipped)
    val allPost = StoreFiles.manifestPaths(spark, dir)
      .filter(_.contains("/postings/"))
    val st1 = StoreFiles.fileStats(spark, dir)
    assert(allPost.forall(p => st1.get(p).exists(_.contains("doc_id"))),
      "a committed postings file has no doc_id envelope")
    val kept = allPost.filter { p =>
      val (mn, mxv) = st1(p)("doc_id"); mxv >= lo && mn <= mx
    }
    assert(kept.nonEmpty && kept.size * 2 <= allPost.size,
      s"range [$lo,$mx] kept ${kept.size} of ${allPost.size} files")
    val queries = docs.filter($"doc_id" % 200 === 7)
      .select($"doc_id".as("qid"),
        array_distinct(slice(split($"text", " "), 1, 4)).as("qterms"))
      .localCheckpoint()
    def ranged() = Retrieval.bm25SearchIndex(queries,
      Retrieval.loadPostingsIndexSnapshotRange(spark, dir, lo, mx),
      "qid", "qterms", k = 10)
    // stats only PRUNE: identical rows to the unpruned ranged serve
    val plain = Retrieval.loadPostingsIndexSnapshot(spark, dir)
    val unpruned = Retrieval.bm25SearchIndex(queries,
      plain.copy(postings = plain.postings.filter($"doc_id".between(lo, mx))),
      "qid", "qterms", k = 10)
    assert(ranged().collect().toSet == unpruned.collect().toSet)
    // measured, three ways: (a) the ranged serve reads strictly less
    // than the full serve; (b) it reads strictly less than the SAME
    // range served without zone maps — parquet row-group pushdown can
    // skip a missed file's data pages but still opens and reads every
    // file's footer, and never-listing the file is the part that
    // matters at millions of files; (c) at this scale, where per-file
    // fixed costs dominate, the skipped bytes are at least the footer
    // mass of the skipped files (kept is a minority of the list, so a
    // conservative 10% floor)
    val bFull = totalInputBytes {
      Retrieval.bm25SearchIndex(queries,
        Retrieval.loadPostingsIndexSnapshot(spark, dir),
        "qid", "qterms", k = 10).count(); ()
    }
    val bRanged = totalInputBytes { ranged().count(); () }
    val bPushdownOnly = totalInputBytes {
      val idx = Retrieval.loadPostingsIndexSnapshot(spark, dir)
      Retrieval.bm25SearchIndex(queries,
        idx.copy(postings = idx.postings.filter($"doc_id".between(lo, mx))),
        "qid", "qterms", k = 10).count(); ()
    }
    assert(bRanged < bFull,
      s"ranged serve read $bRanged of $bFull bytes — files not skipped")
    assert(bRanged < bPushdownOnly,
      s"zone-map skip ($bRanged) must beat pushdown-only ($bPushdownOnly): " +
        "pushdown still reads every skipped file's footer")
    assert((bFull - bRanged) * 10 >= bFull,
      s"skipping saved ${bFull - bRanged} of $bFull bytes — below the 10% floor")
    // L0 re-base: the compacted run gets a FRESH envelope from its
    // footers, survivors keep theirs, serve rows unchanged, and the
    // untouched base is still skippable
    val before = ranged().collect().toSet
    assert(Stores.postings.compactL0(spark, dir, minRuns = 1))
    val post2 = StoreFiles.manifestPaths(spark, dir)
      .filter(_.contains("/postings/"))
    val st2 = StoreFiles.fileStats(spark, dir)
    assert(post2.forall(p => st2.get(p).exists(_.contains("doc_id"))),
      "a post-compaction postings file has no doc_id envelope")
    assert(ranged().collect().toSet == before)
    val kept2 = post2.filter { p =>
      val (mn, mxv) = st2(p)("doc_id"); mxv >= lo && mn <= mx
    }
    assert(kept2.size < post2.size,
      "the re-based store must still skip the untouched base files")
  }

  test("pqSearchIndex: same measured pruning on the codes scan") {
    val dir = tmpDir("pq")
    Similarity.savePqIndex(
      Similarity.buildPqIndex(emb, "vec_id", "embedding"), dir)
    val idx = Similarity.loadPqIndex(spark, dir)
    val q = emb.filter($"vec_id" === 0).localCheckpoint()
    def bytes(np: Int): Long = totalInputBytes {
      Similarity.pqSearchIndex(q, idx, "vec_id", "embedding",
        k = 5, nprobe = np).count(); ()
    }
    val (b1, bAll) = (bytes(1), bytes(16))
    assert(b1 * 4 <= bAll,
      s"nprobe=1 read $b1 bytes vs $bAll for all cells — scan not pruned")
    val plan = Similarity.pqSearchIndex(q, idx, "vec_id", "embedding",
      k = 5, nprobe = 1).queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"cell partition filter missing on codes scan:\n$plan")
    assert(!plan.contains("dynamicpruning"))
  }

  test("zone maps on the PQ family: a ranged codes serve skips " +
      "non-overlapping committed files and equals filtered search") {
    import graft.operators.StoreFiles
    val dir = tmpDir("pqzone")
    val mx = emb.agg(max($"vec_id")).head().getLong(0)
    val c1 = mx / 2; val c2 = (mx * 3) / 4; val lo = c2 + 1
    Similarity.savePqIndexCommitted(
      Similarity.buildPqIndex(emb.filter($"vec_id" <= c1),
        "vec_id", "embedding"), dir)
    Similarity.appendPqIndexCommitted(spark, dir,
      emb.filter($"vec_id" > c1 && $"vec_id" <= c2), "vec_id", "embedding")
    Similarity.appendPqIndexCommitted(spark, dir,
      emb.filter($"vec_id" > c2), "vec_id", "embedding")
    // every committed codes file carries a neighbor_id envelope; the
    // top-quarter range keeps a strict minority of the file list
    val allCodes = StoreFiles.manifestPaths(spark, dir)
      .filter(_.contains("/codes/"))
    val st = StoreFiles.fileStats(spark, dir)
    assert(allCodes.forall(p => st.get(p).exists(_.contains("neighbor_id"))),
      "a committed codes file has no neighbor_id envelope")
    val kept = allCodes.filter { p =>
      val (mn, mxv) = st(p)("neighbor_id"); mxv >= lo && mn <= mx
    }
    assert(kept.nonEmpty && kept.size * 2 <= allCodes.size,
      s"range [$lo,$mx] kept ${kept.size} of ${allCodes.size} codes files")
    val q = emb.filter($"vec_id" % 25 === 0).localCheckpoint()
    def ranged() = Similarity.pqSearchIndex(q,
      Similarity.loadPqIndexSnapshotRange(spark, dir, lo, mx),
      "vec_id", "embedding", k = 10)
    // stats only PRUNE: identical rows to corpusFilter-ed full serve
    val viaFilter = Similarity.pqSearchIndex(q,
      Similarity.loadPqIndexSnapshot(spark, dir), "vec_id", "embedding",
      k = 10, corpusFilter = Some($"neighbor_id".between(lo, mx)))
    assert(ranged().collect().toSet == viaFilter.collect().toSet)
    // measured: ranged < pushdown-only < full — never-listing a file
    // beats opening it for its footer, which beats reading it
    val bFull = totalInputBytes {
      Similarity.pqSearchIndex(q, Similarity.loadPqIndexSnapshot(spark, dir),
        "vec_id", "embedding", k = 10).count(); ()
    }
    // each serve BUILDS its load inside the measured region (the
    // params tables and manifest-listed footers count for all three)
    val bPushdownOnly = totalInputBytes {
      Similarity.pqSearchIndex(q, Similarity.loadPqIndexSnapshot(spark, dir),
        "vec_id", "embedding", k = 10,
        corpusFilter = Some($"neighbor_id".between(lo, mx))).count(); ()
    }
    val bRanged = totalInputBytes { ranged().count(); () }
    assert(bRanged < bFull,
      s"ranged serve read $bRanged of $bFull bytes — files not skipped")
    assert(bRanged < bPushdownOnly,
      s"zone-map skip ($bRanged) must beat pushdown-only ($bPushdownOnly)")
    assert((bFull - bRanged) * 10 >= bFull,
      s"skipping saved ${bFull - bRanged} of $bFull bytes — below the 10% floor")
  }

  test("clustered L0 re-base: interleaved appends regain disjoint " +
      "envelopes — the compacted run skips where the raw pile cannot") {
    import graft.operators.StoreFiles
    val dir = tmpDir("pqcluster")
    val mx = emb.agg(max($"vec_id")).head().getLong(0)
    val c1 = mx / 2; val lo = (mx * 3) / 4 + 1
    Similarity.savePqIndexCommitted(
      Similarity.buildPqIndex(emb.filter($"vec_id" <= c1),
        "vec_id", "embedding"), dir)
    // two INTERLEAVED appends: each spans the whole upper id domain, so
    // every L0 file's envelope covers (c1, mx] and a top-quarter range
    // can skip NONE of them
    Similarity.appendPqIndexCommitted(spark, dir,
      emb.filter($"vec_id" > c1 && $"vec_id" % 2 === 0),
      "vec_id", "embedding")
    Similarity.appendPqIndexCommitted(spark, dir,
      emb.filter($"vec_id" > c1 && $"vec_id" % 2 === 1),
      "vec_id", "embedding")
    def codesFiles() = StoreFiles.manifestPaths(spark, dir)
      .filter(_.contains("/codes/"))
    def keptOf(files: Seq[String]): Seq[String] = {
      val st = StoreFiles.fileStats(spark, dir)
      files.filter { p =>
        st.get(p).flatMap(_.get("neighbor_id"))
          .forall { case (mn, mxv) => mxv >= lo && mn <= mx }
      }
    }
    val preFiles = codesFiles()
    val preKept = keptOf(preFiles)
    // pre-compaction: every L0 file overlaps the range (the base files
    // may or may not be skipped; the L0 pile provably cannot be)
    val q = emb.filter($"vec_id" % 25 === 0).localCheckpoint()
    def ranged() = Similarity.pqSearchIndex(q,
      Similarity.loadPqIndexSnapshotRange(spark, dir, lo, mx),
      "vec_id", "embedding", k = 10)
    val before = ranged().collect().toSet
    // CLUSTERED re-base (repartitionByRange on (cell, neighbor_id)):
    // the compacted run's files get tight, near-disjoint id envelopes
    assert(Stores.pq.compactL0(spark, dir, minRuns = 1))
    val postFiles = codesFiles()
    val compacted = postFiles.filterNot(preFiles.toSet)
    assert(compacted.nonEmpty, "the re-base wrote no compacted files")
    val keptCompacted = keptOf(compacted)
    // the claim the clustering exists for: SOME compacted file's
    // envelope provably misses the range (a hash-repartitioned rewrite
    // gives every file the full id domain and skips nothing)
    assert(keptCompacted.size < compacted.size,
      s"range kept all ${compacted.size} compacted files — the re-base " +
        "did not cluster on the stat column")
    // serve rows unchanged, and the serve skips at least as large a
    // file FRACTION as before the re-base
    assert(ranged().collect().toSet == before)
    val postKept = keptOf(postFiles)
    assert(postKept.size.toDouble / postFiles.size <=
      preKept.size.toDouble / preFiles.size,
      s"kept fraction worsened: ${postKept.size}/${postFiles.size} vs " +
        s"${preKept.size}/${preFiles.size}")
  }
}
