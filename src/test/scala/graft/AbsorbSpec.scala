package graft

import graft.operators.Retrieval
import graft.streaming.DocumentStreams
import org.apache.spark.sql.functions._

/** L0 → base absorb for the postings streaming twin: promoting the
  * sink's batch partitions into the stored structure must leave serving
  * bit-identical, empty the sink and checkpoint, and hand the next
  * streaming run a clean L0.
  */
class AbsorbSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables(spark, sf, "documents")

  private def tmp(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_absorb_$tag")
    d.toFile.deleteOnExit()
    d.toString
  }

  private def exists(p: String): Boolean = new java.io.File(p).exists()

  test("postings: store-only serve after absorb ≡ live view before; sink cleared; next run clean") {
    val base = tmp("postings")
    val idx = s"$base/idx"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    Retrieval.savePostingsIndex(
      Retrieval.buildPostingsIndex(
        docs.filter($"doc_id" % 3 === 0), "doc_id", "text"), idx)
    // two committed triggers (the trigger body is what the real stream
    // runs; the stream-to-sink path itself is covered in
    // DocumentStreamsSpec)
    DocumentStreams.postingsIngestBatch(spark, idx, out)(
      docs.filter($"doc_id" % 3 === 1), 0L)
    DocumentStreams.postingsIngestBatch(spark, idx, out)(
      docs.filter($"doc_id" % 3 === 2), 1L)
    new java.io.File(ckpt).mkdirs()
    val queries = docs.filter($"doc_id" % 50 === 7)
      .select($"doc_id".as("qid"),
        array_distinct(slice(split($"text", " "), 1, 4)).as("qterms"))
    def serve(idxDf: Retrieval.PostingsIndex) =
      Retrieval.bm25SearchIndex(queries, idxDf, "qid", "qterms", k = 10)
        .as[(Long, Long, Long, Int)].collect().toSet
    val before = serve(DocumentStreams.livePostingsIndex(spark, idx, out))
    DocumentStreams.absorbPostingsDeltas(spark, idx, out, ckpt)
    assert(!exists(out) && !exists(ckpt), "sink and checkpoint cleared")
    assert(serve(Retrieval.loadPostingsIndex(spark, idx)) == before &&
      before.nonEmpty)
    // a fresh run over the absorbed store keeps working: a new-ids drop
    // lands in a clean L0 and the live view extends the absorbed base
    DocumentStreams.postingsIngestBatch(spark, idx, out)(
      docs.filter($"doc_id" % 3 === 1)
        .select(($"doc_id" + 1000000L).as("doc_id"), $"text"), 0L)
    val extended = serve(DocumentStreams.livePostingsIndex(spark, idx, out))
    assert(extended != before, "new drop must change scores (N grew)")
  }
}
