package graft

import graft.operators.{Dedup, Retrieval, Similarity, Stores}
import org.apache.spark.sql.functions._

/** Tombstone-delete lifecycle over the stored postings and PQ indexes:
  * a delete is ONE append write (committed data files never touched), a
  * deleted id can never be served, stats shrink as if the corpus never
  * held the doc, deletes are idempotent, and compaction applies the
  * tombstones physically then removes them — with serve results
  * identical before and after.
  */
class TombstoneSpec extends SparkSpec {
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

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def serve(dir: String): Set[(Long, Long, Long, Int)] =
    Retrieval.bm25SearchIndex(queries,
        Retrieval.loadPostingsIndex(spark, dir), "qid", "qterms", k = 3)
      .as[(Long, Long, Long, Int)].collect().toSet

  private def freshPostings(dir: String): Unit =
    Retrieval.savePostingsIndex(
      Retrieval.buildPostingsIndex(corpus, "doc_id", "text", nBuckets = 4),
      dir)

  test("postings: deleted serve equals an index built without the docs") {
    val dir = tmpDir("graft_tomb_posts")
    freshPostings(dir)
    Retrieval.deleteFromPostingsIndex(spark, dir,
      Seq(2L, 4L).toDF("doc_id"), "doc_id")
    val survivors = corpus.filter(!col("doc_id").isin(2L, 4L))
    val want = Retrieval.bm25TopK(survivors, queries, "doc_id", "text",
        "qid", "qterms", k = 3)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(serve(dir) == want)
    // live (N, T) shrank to the survivors' totals
    val live = Retrieval.loadPostingsIndex(spark, dir).stats
      .agg(sum("n"), sum("t")).as[(Long, Long)].head()
    val wantNT = survivors
      .select(size(split(col("text"), " ")).cast("long").as("dl"))
      .agg(count(lit(1)), sum("dl")).as[(Long, Long)].head()
    assert(live == wantNT)
  }

  test("postings: delete never rewrites committed files and is idempotent") {
    val dir = tmpDir("graft_tomb_idem")
    freshPostings(dir)
    val before = parquetStamps(s"$dir/postings", s"$dir/stats")
    val victims = Seq(2L, 4L).toDF("doc_id")
    Retrieval.deleteFromPostingsIndex(spark, dir, victims, "doc_id")
    assert(parquetStamps(s"$dir/postings", s"$dir/stats") == before)
    val afterOnce = serve(dir)
    val tombRows = spark.read.parquet(s"$dir/tombstones").count()
    assert(tombRows == 2)
    // re-issuing the same delete appends nothing and changes nothing
    Retrieval.deleteFromPostingsIndex(spark, dir, victims, "doc_id")
    assert(spark.read.parquet(s"$dir/tombstones").count() == 2)
    assert(serve(dir) == afterOnce)
    // deleting an id the index never held is a no-op too
    Retrieval.deleteFromPostingsIndex(spark, dir,
      Seq(99L).toDF("doc_id"), "doc_id")
    assert(spark.read.parquet(s"$dir/tombstones").count() == 2)
  }

  test("postings: compaction applies tombstones physically, serve unchanged") {
    val dir = tmpDir("graft_tomb_compact")
    freshPostings(dir)
    Retrieval.deleteFromPostingsIndex(spark, dir,
      Seq(2L, 4L).toDF("doc_id"), "doc_id")
    val before = serve(dir)
    Retrieval.compactPostingsIndex(spark, dir)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    // the deleted docs are physically gone from the stored postings
    assert(spark.read.parquet(s"$dir/postings")
      .filter(col("doc_id").isin(2L, 4L)).count() == 0)
    // stats collapsed to one NET row
    val stats = spark.read.parquet(s"$dir/stats")
    assert(stats.count() == 1)
    assert(serve(dir) == before)
    // later deletes keep working against the compacted store
    Retrieval.deleteFromPostingsIndex(spark, dir,
      Seq(1L).toDF("doc_id"), "doc_id")
    val want = Retrieval.bm25TopK(
        corpus.filter(!col("doc_id").isin(1L, 2L, 4L)), queries,
        "doc_id", "text", "qid", "qterms", k = 3)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(serve(dir) == want)
  }

  test("postings: a fresh save never inherits a previous index's deletes") {
    val dir = tmpDir("graft_tomb_fresh")
    freshPostings(dir)
    Retrieval.deleteFromPostingsIndex(spark, dir,
      Seq(2L, 4L).toDF("doc_id"), "doc_id")
    freshPostings(dir) // overwrite-in-place, as a rebuild job would
    assert(!new java.io.File(s"$dir/tombstones").exists())
    val want = Retrieval.bm25TopK(corpus, queries, "doc_id", "text",
        "qid", "qterms", k = 3)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(serve(dir) == want)
  }

  private def pqServe(dir: String,
      emb: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Int)] =
    Similarity.pqSearchIndex(emb.filter(col("vec_id") % 25 === 0),
        Similarity.loadPqIndex(spark, dir), "vec_id", "embedding", k = 5)
      .as[(Long, Long, Long, Int)].collect().toSet

  test("pq: deleted serve equals the same params over the surviving codes") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = tmpDir("graft_tomb_pq")
    Similarity.savePqIndex(
      Similarity.buildPqIndex(emb, "vec_id", "embedding"), dir)
    val raw = Similarity.loadPqIndex(spark, dir) // pre-delete view
    val expected = Similarity.pqSearchIndex(
        emb.filter(col("vec_id") % 25 === 0),
        raw.copy(codes = raw.codes.filter(col("neighbor_id") % 7 =!= 3)),
        "vec_id", "embedding", k = 5)
      .as[(Long, Long, Long, Int)].collect().toSet
    val stamps = parquetStamps(s"$dir/codes")
    Stores.pq.delete(spark, dir,
      emb.filter(col("vec_id") % 7 === 3).select("vec_id"), "vec_id")
    assert(parquetStamps(s"$dir/codes") == stamps) // append-only delete
    assert(pqServe(dir, emb) == expected)
    // no served neighbor is a deleted id
    assert(pqServe(dir, emb).forall { case (_, n, _, _) => n % 7 != 3 })
    // compaction: tombstones applied physically, serve identical
    Similarity.compactPqIndex(spark, dir)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    assert(spark.read.parquet(s"$dir/codes")
      .filter(col("neighbor_id") % 7 === 3).count() == 0)
    assert(pqServe(dir, emb) == expected)
  }

  test("band: a tombstoned doc stops producing pairs — the gate unblocks") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val dir = tmpDir("graft_tomb_band")
    Dedup.saveBandIndex(
      Dedup.buildBandIndex(corpus, "doc_id", "text"), dir)
    val full = Dedup.minHashLshProbe(Dedup.loadBandIndex(spark, dir),
        batch, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(full.nonEmpty) // planted near-dups must cross the split
    // pick a corpus member of a known pair and delete it
    val victim = full.map { case (a, b, _) => if (a % 10 == 0) b else a }.head
    Stores.band.delete(spark, dir,
      Seq(victim).toDF("doc_id"), "doc_id")
    val after = Dedup.minHashLshProbe(Dedup.loadBandIndex(spark, dir),
        batch, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(after == full.filterNot { case (a, b, _) =>
      a == victim || b == victim })
    // and equals a probe of an index built without the victim
    val rebuilt = java.nio.file.Files.createTempDirectory("graft_tomb_band_rb").toString
    Dedup.saveBandIndex(Dedup.buildBandIndex(
      corpus.filter(col("doc_id") =!= victim), "doc_id", "text"), rebuilt)
    val want = Dedup.minHashLshProbe(Dedup.loadBandIndex(spark, rebuilt),
        batch, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(after == want)
    // compaction drops the victim physically; probe unchanged
    Dedup.compactBandIndex(spark, dir)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    assert(spark.read.parquet(s"$dir/bands")
      .filter(col("id") === victim).count() == 0)
    assert(spark.read.parquet(s"$dir/sets")
      .filter(col("id") === victim).count() == 0)
    assert(Dedup.minHashLshProbe(Dedup.loadBandIndex(spark, dir),
        batch, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet == after)
  }

  test("simhash: delete ≡ index built without the docs; compaction parity") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val dir = tmpDir("graft_tomb_sh")
    Dedup.saveSimHashIndex(
      Dedup.buildSimHashIndex(corpus, "doc_id", "text"), dir)
    Stores.simhash.delete(spark, dir,
      corpus.filter(col("doc_id") % 7 === 3).select("doc_id"), "doc_id")
    val after = Dedup.simHashProbe(Dedup.loadSimHashIndex(spark, dir),
        batch, "doc_id", "text")
      .as[(Long, Long, Int)].collect().toSet
    val rebuilt = tmpDir("graft_tomb_sh_rb")
    Dedup.saveSimHashIndex(Dedup.buildSimHashIndex(
      corpus.filter(col("doc_id") % 7 =!= 3), "doc_id", "text"), rebuilt)
    val want = Dedup.simHashProbe(Dedup.loadSimHashIndex(spark, rebuilt),
        batch, "doc_id", "text")
      .as[(Long, Long, Int)].collect().toSet
    assert(after == want)
    Dedup.compactSimHashIndex(spark, dir)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    assert(Dedup.simHashProbe(Dedup.loadSimHashIndex(spark, dir),
        batch, "doc_id", "text")
      .as[(Long, Long, Int)].collect().toSet == after)
  }

  test("label store: delete hides members, never re-splits; compaction applies") {
    val nodes = Seq(1L, 2L, 3L, 5L, 6L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val dir = tmpDir("graft_tomb_labels")
    Dedup.saveLabelStore(
      Dedup.connectedComponents(nodes, "id", edges), dir)
    // delete the BRIDGE doc 2: members 1 and 3 keep ONE component (no
    // re-split — documented), labeled by the full-graph min 1
    Stores.label.delete(spark, dir, Seq(2L).toDF("id"), "id")
    val view = Dedup.resolveLabels(spark, dir)
      .as[(Long, Long)].collect().toSet
    assert(view == Set((1L, 1L), (3L, 1L), (5L, 5L), (6L, 5L)))
    // deleting the min-id anchor: its id survives as an opaque label
    Stores.label.delete(spark, dir, Seq(5L).toDF("id"), "id")
    assert(Dedup.resolveLabels(spark, dir)
      .as[(Long, Long)].collect().toSet ==
      Set((1L, 1L), (3L, 1L), (6L, 5L)))
    // compaction applies the tombstones and spends the ledger
    Dedup.compactLabelStore(spark, dir)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    assert(spark.read.parquet(s"$dir/labels")
      .filter(col("id").isin(2L, 5L)).count() == 0)
    assert(Dedup.resolveLabels(spark, dir)
      .as[(Long, Long)].collect().toSet ==
      Set((1L, 1L), (3L, 1L), (6L, 5L)))
    // later increments keep working against the compacted store
    Dedup.appendLabels(spark, dir, Seq(7L).toDF("id"), "id",
      Seq((7L, 3L)).toDF("id_a", "id_b"))
    assert(Dedup.resolveLabels(spark, dir)
      .as[(Long, Long)].collect().toSet ==
      Set((1L, 1L), (3L, 1L), (6L, 5L), (7L, 1L)))
  }

  test("ivf: delete ≡ same centroids over surviving assignments") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val dir = tmpDir("graft_tomb_ivf")
    Similarity.saveIvfIndex(
      Similarity.buildIvfIndex(emb, "vec_id", "embedding"), dir)
    val raw = Similarity.loadIvfIndex(spark, dir)
    val queries = emb.filter(col("vec_id") % 25 === 0)
    val expected = Similarity.ivfSearchIndex(queries,
        raw.copy(assignments =
          raw.assignments.filter(col("neighbor_id") % 7 =!= 3)),
        "vec_id", "embedding", k = 5)
      .collect().toSet
    Stores.ivf.delete(spark, dir,
      emb.filter(col("vec_id") % 7 === 3).select("vec_id"), "vec_id")
    assert(Similarity.ivfSearchIndex(queries,
        Similarity.loadIvfIndex(spark, dir), "vec_id", "embedding", k = 5)
      .collect().toSet == expected)
    Similarity.compactIvfIndex(spark, dir)
    assert(!new java.io.File(s"$dir/tombstones").exists())
    assert(spark.read.parquet(s"$dir/assignments")
      .filter(col("neighbor_id") % 7 === 3).count() == 0)
    assert(Similarity.ivfSearchIndex(queries,
        Similarity.loadIvfIndex(spark, dir), "vec_id", "embedding", k = 5)
      .collect().toSet == expected)
  }
}
