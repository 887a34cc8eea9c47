package graft

import graft.operators.{Retrieval, Stores}
import org.apache.spark.sql.functions._

/** Snapshot-manifest commits for the postings index: the manifest
  * row-file is the commit point, so a torn append (data files, no
  * manifest row) is invisible to snapshot readers, visible to raw
  * directory readers — and compaction drops the orphans instead of
  * resurrecting them.
  */
class ManifestSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "spark runs distributed queries over columnar data"),
    (2L, "spark queries shuffle data between executors"),
    (3L, "ducks swim over the pond water"),
    (4L, "columnar data formats compress well"),
    (5L, "the pond water reflects the spark of dawn light"),
    (6L, "executors cache columnar data for spark queries")
  ).toDF("doc_id", "text")

  private val queries = Seq(
    (100L, Seq("spark", "data")),
    (200L, Seq("pond", "water", "columnar"))
  ).toDF("qid", "qterms")

  private def serveSnap(dir: String): Set[(Long, Long, Long, Int)] =
    Retrieval.bm25SearchIndex(queries,
        Retrieval.loadPostingsIndexSnapshot(spark, dir), "qid", "qterms",
        k = 6)
      .as[(Long, Long, Long, Int)].collect().toSet

  private def serveRaw(dir: String): Set[(Long, Long, Long, Int)] =
    Retrieval.bm25SearchIndex(queries,
        Retrieval.loadPostingsIndex(spark, dir), "qid", "qterms", k = 6)
      .as[(Long, Long, Long, Int)].collect().toSet

  private def inflight(docs: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Int)] =
    Retrieval.bm25TopK(docs, queries, "doc_id", "text", "qid", "qterms",
        k = 6)
      .as[(Long, Long, Long, Int)].collect().toSet

  test("listDataFiles local fast path returns byte-identical strings to " +
      "the Hadoop listing (manifest membership is string-keyed)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_listfast").toString
    // nested partition layout like a real store sub
    corpus.write.partitionBy("doc_id").parquet(s"$dir/postings")
    corpus.limit(2).write.parquet(s"$dir/stats")
    val fast = graft.operators.StoreFiles.listDataFiles(spark,
      Seq(s"$dir/postings", s"$dir/stats", s"$dir/absent"))
    // reference: the plain Hadoop recursive listing
    val conf = spark.sparkContext.hadoopConfiguration
    val slow = Seq(s"$dir/postings", s"$dir/stats").flatMap { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      val fs = p.getFileSystem(conf)
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet")) buf += f.toString
      }
      buf.toSeq
    }.toSet
    assert(fast == slow && fast.nonEmpty)
    assert(fast.forall(_.startsWith("file:/")))
  }

  test("committed appends serve identically through snapshot and raw loads") {
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest").toString
    Retrieval.savePostingsIndexCommitted(
      Retrieval.buildPostingsIndex(corpus.filter(col("doc_id") <= 4),
        "doc_id", "text", nBuckets = 4), dir)
    Retrieval.appendPostingsIndexCommitted(spark, dir,
      corpus.filter(col("doc_id") > 4), "doc_id", "text")
    val want = inflight(corpus)
    assert(serveSnap(dir) == want)
    assert(serveRaw(dir) == want)
  }

  test("a torn append is invisible to snapshot readers, visible raw; compaction drops the orphans") {
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest_torn").toString
    Retrieval.savePostingsIndexCommitted(
      Retrieval.buildPostingsIndex(corpus.filter(col("doc_id") <= 4),
        "doc_id", "text", nBuckets = 4), dir)
    // the torn writer: plain append lands data files, no manifest row
    Retrieval.appendPostingsIndex(spark, dir,
      corpus.filter(col("doc_id") > 4), "doc_id", "text")
    val committed = inflight(corpus.filter(col("doc_id") <= 4))
    assert(serveSnap(dir) == committed)
    // the raw directory reader DOES see the torn batch — the contrast
    // that makes the manifest the commit point
    assert(serveRaw(dir) == inflight(corpus))
    assert(serveRaw(dir) != committed)
    // compaction rewrites the COMMITTED snapshot: orphans gone from the
    // raw directory too, manifest regenerated, snapshot serve unchanged
    Retrieval.compactPostingsIndex(spark, dir)
    assert(spark.read.parquet(s"$dir/postings")
      .filter(col("doc_id") > 4).count() == 0)
    assert(serveSnap(dir) == committed)
    assert(serveRaw(dir) == committed)
    // the store keeps working: a later committed append serves
    Retrieval.appendPostingsIndexCommitted(spark, dir,
      corpus.filter(col("doc_id") > 4), "doc_id", "text")
    assert(serveSnap(dir) == inflight(corpus))
  }

  test("time travel: as-of generation g serves the first g+1 committed batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest_tt").toString
    Retrieval.savePostingsIndexCommitted(
      Retrieval.buildPostingsIndex(corpus.filter(col("doc_id") <= 2),
        "doc_id", "text", nBuckets = 4), dir)
    Retrieval.appendPostingsIndexCommitted(spark, dir,
      corpus.filter(col("doc_id").isin(3L, 4L)), "doc_id", "text")
    Retrieval.appendPostingsIndexCommitted(spark, dir,
      corpus.filter(col("doc_id") > 4), "doc_id", "text")
    assert(Stores.postings.gen(spark, dir) == 2L)
    def at(g: Long) =
      Retrieval.bm25SearchIndex(queries,
          Retrieval.loadPostingsIndexSnapshot(spark, dir, Some(g)),
          "qid", "qterms", k = 6)
        .as[(Long, Long, Long, Int)].collect().toSet
    assert(at(0L) == inflight(corpus.filter(col("doc_id") <= 2)))
    assert(at(1L) == inflight(corpus.filter(col("doc_id") <= 4)))
    assert(at(2L) == inflight(corpus))
    assert(serveSnap(dir) == inflight(corpus))
    // the delete ledger is unversioned: a forgotten doc never
    // resurfaces through a historical read
    Retrieval.deleteFromPostingsIndex(spark, dir, Seq(2L).toDF("doc_id"),
      "doc_id")
    assert(at(0L) ==
      inflight(corpus.filter(col("doc_id") === 1L)))
  }

  test("optimistic commit: a stale expected generation refuses; vacuum reclaims the loser's orphans") {
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest_occ").toString
    Retrieval.savePostingsIndexCommitted(
      Retrieval.buildPostingsIndex(corpus.filter(col("doc_id") <= 4),
        "doc_id", "text", nBuckets = 4), dir)
    val g = Stores.postings.gen(spark, dir)
    assert(Retrieval.appendPostingsIndexCommitted(spark, dir,
      corpus.filter(col("doc_id") === 5L), "doc_id", "text",
      expectedGen = Some(g)) == g + 1)
    // the loser read generation g before the winner committed
    intercept[IllegalStateException] {
      Retrieval.appendPostingsIndexCommitted(spark, dir,
        corpus.filter(col("doc_id") === 6L), "doc_id", "text",
        expectedGen = Some(g))
    }
    // no snapshot sees the loser's files; the winner's state serves
    val want = inflight(corpus.filter(col("doc_id") <= 5))
    assert(serveSnap(dir) == want)
    // vacuum physically removes exactly the orphans; serve unchanged
    // and the raw directory load converges to the committed state
    assert(Stores.postings.vacuum(spark, dir).nonEmpty)
    assert(Stores.postings.vacuum(spark, dir).isEmpty)
    assert(serveSnap(dir) == want)
    assert(serveRaw(dir) == want)
  }

  test("PQ index: torn append invisible to snapshot, time travel, vacuum, compaction collapses history") {
    import graft.operators.Similarity
    val emb = Tables(spark, sf, "embeddings")
    val seed = emb.filter(col("vec_id") < 40)
    val batchA = emb.filter(col("vec_id") >= 40 && col("vec_id") < 60)
    val torn = emb.filter(col("vec_id") >= 60 && col("vec_id") < 80)
    val queries = emb.filter(col("vec_id") % 25 === 0 && col("vec_id") < 40)
    def rows(idx: Similarity.PqIndex): Set[(Long, Long, Long, Int)] =
      Similarity.pqSearchIndex(queries, idx, "vec_id", "embedding", k = 5)
        .as[(Long, Long, Long, Int)].collect().toSet

    val dir = java.nio.file.Files.createTempDirectory("graft_pq_manifest").toString
    Similarity.savePqIndexCommitted(
      Similarity.buildPqIndex(seed, "vec_id", "embedding"), dir)
    Similarity.appendPqIndexCommitted(spark, dir, batchA, "vec_id",
      "embedding", expectedGen = Some(Stores.pq.gen(spark, dir)))
    Similarity.appendPqIndex(spark, dir, torn, "vec_id", "embedding")

    // the committed reference states, built independently
    val refDir = java.nio.file.Files.createTempDirectory("graft_pq_ref").toString
    Similarity.savePqIndex(
      Similarity.buildPqIndex(seed, "vec_id", "embedding"), refDir)
    val seedOnly = rows(Similarity.loadPqIndex(spark, refDir))
    Similarity.appendPqIndex(spark, refDir, batchA, "vec_id", "embedding")
    val committed = rows(Similarity.loadPqIndex(spark, refDir))

    assert(rows(Similarity.loadPqIndexSnapshot(spark, dir)) == committed)
    // time travel to the save; the raw load DOES see the torn batch
    assert(rows(Similarity.loadPqIndexSnapshot(spark, dir, Some(0L))) ==
      seedOnly)
    assert(rows(Similarity.loadPqIndex(spark, dir)) != committed)
    // vacuum reclaims the torn files; raw converges to committed
    assert(Stores.pq.vacuum(spark, dir).nonEmpty)
    assert(Stores.pq.vacuum(spark, dir).isEmpty)
    assert(rows(Similarity.loadPqIndex(spark, dir)) == committed)
    // OCC: a stale expectation refuses
    intercept[IllegalStateException] {
      Similarity.appendPqIndexCommitted(spark, dir, torn, "vec_id",
        "embedding", expectedGen = Some(0L))
    }
    Stores.pq.vacuum(spark, dir)
    // compaction rewrites the committed snapshot and collapses history
    Similarity.compactPqIndex(spark, dir)
    assert(Stores.pq.gen(spark, dir) == 0L)
    assert(rows(Similarity.loadPqIndexSnapshot(spark, dir)) == committed)
  }

  test("overwrite re-base is atomic: a torn re-base leaves the old log active; a real one retires it") {
    import graft.operators.StoreFiles
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest_atomic").toString
    Retrieval.savePostingsIndexCommitted(
      Retrieval.buildPostingsIndex(corpus.filter(col("doc_id") <= 4),
        "doc_id", "text", nBuckets = 4), dir)
    Retrieval.appendPostingsIndexCommitted(spark, dir,
      corpus.filter(col("doc_id") > 4), "doc_id", "text")
    val want = inflight(corpus)
    assert(StoreFiles.manifestGen(spark, dir) == 1L)
    // TORN overwrite: a re-base that crashed before its commit rename —
    // new epoch dir exists, its gen file only as a temp. Readers must
    // still see the OLD complete log (the pre-fix delete-then-rewrite
    // window would have left NO manifest at all here).
    val torn = new java.io.File(s"$dir/manifest/epoch-00000001")
    torn.mkdirs()
    java.nio.file.Files.write(
      torn.toPath.resolve(".tmp-gen-0000000000000000"),
      "half-written".getBytes)
    assert(StoreFiles.manifestGen(spark, dir) == 1L)
    assert(serveSnap(dir) == want)
    // a real re-base (the full compaction) commits atomically as the
    // next epoch and retires the superseded log
    Retrieval.compactPostingsIndex(spark, dir)
    assert(StoreFiles.manifestGen(spark, dir) == 0L)
    assert(serveSnap(dir) == want)
    val names = new java.io.File(s"$dir/manifest").listFiles()
      .map(_.getName).toSet
    assert(!names.exists(_.matches("gen-\\d{16}\\.txt")),
      s"superseded bare gen files must be retired: $names")
    // the store keeps working on its new epoch: append + serve
    Retrieval.appendPostingsIndexCommitted(spark, dir,
      corpus.filter(col("doc_id") === 1L), "doc_id", "text")
    assert(StoreFiles.manifestGen(spark, dir) == 1L)
  }

  test("manifest readers survive concurrent overwrite re-bases (list-then-read retry)") {
    // writeManifest's post-commit cleanup deletes superseded epoch dirs
    // and bare gen files while readers do a non-atomic list-then-read —
    // and re-bases happen ONLINE now (maintain*L0 fires inside streaming
    // ingest), so this race is realistic. Readers must never surface a
    // FileNotFoundException or an empty/partial log: a vanished path
    // means the epoch was superseded, and the retry re-lists from the
    // top. 200 re-bases under two hot reader threads exercises the
    // window thousands of times.
    import graft.operators.StoreFiles
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest_race").toString
    StoreFiles.writeManifest(spark, dir, 0L,
      Set(s"$dir/sub/p-0.parquet"), "overwrite", Seq("v=0"))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    val readers = (1 to 2).map { _ =>
      new Thread(() => {
        while (!stop.get()) {
          try {
            val es = StoreFiles.manifestEntries(spark, dir)
            require(es.nonEmpty && es.flatMap(_._2).size == 1,
              s"reader saw an incomplete log: $es")
            val hv = StoreFiles.manifestHeaders(spark, dir)
              .collect { case ("v", x) => x.toLong }
            require(hv.size == 1, s"reader saw headers $hv")
            require(StoreFiles.manifestGen(spark, dir) == 0L)
            reads.incrementAndGet(); ()
          } catch { case t: Throwable => failures.add(t); stop.set(true) }
        }
      })
    }
    readers.foreach(_.start())
    for (i <- 1 to 200)
      StoreFiles.writeManifest(spark, dir, 0L,
        Set(s"$dir/sub/p-$i.parquet"), "overwrite", Seq(s"v=$i"))
    stop.set(true)
    readers.foreach(_.join())
    assert(failures.isEmpty,
      failures.asScala.map(_.toString).mkString("; "))
    assert(reads.get() > 0L, "readers never completed a read")
  }

  test("tombstone deletes compose with snapshot loads") {
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest_del").toString
    Retrieval.savePostingsIndexCommitted(
      Retrieval.buildPostingsIndex(corpus, "doc_id", "text", nBuckets = 4),
      dir)
    Retrieval.deleteFromPostingsIndex(spark, dir,
      Seq(2L, 4L).toDF("doc_id"), "doc_id")
    assert(serveSnap(dir) ==
      inflight(corpus.filter(!col("doc_id").isin(2L, 4L))))
  }
}
