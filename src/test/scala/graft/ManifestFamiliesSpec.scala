package graft

import graft.operators.{Dedup, MatView, Retrieval, Similarity, StoreFiles, Stores}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Snapshot-manifest commits for the families that gained them in r10
  * (bands, SimHash, Bloom, IVF, label store, agg state, positional):
  * per family, a torn append (data files, no manifest) is invisible to
  * snapshot readers and visible to raw directory readers; OCC refuses
  * stale generations; vacuum reclaims orphans; asOf time-travels.
  * The postings/PQ originals are covered by ManifestSpec.
  */
class ManifestFamiliesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(tag).toString

  // near-dup fixture: every probe is an exact text twin of its target
  // (jaccard 1, hamming 0), every other text distinct
  private val sA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val sB = "one two three four five six seven eight nine ten"
  private val sC = "red orange yellow green blue indigo violet pink black white"
  private val filler1 = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
  private val filler2 = "sphinx of black quartz judge my vow while zephyrs wake"
  private val filler3 = "pack my box with five dozen liquor jugs tonight again"

  test("band index: torn append invisible to snapshot; OCC; vacuum; time travel") {
    val dir = tmp("graft_band_manifest")
    val corpus = Seq((1L, sA), (2L, filler1), (3L, filler2), (4L, filler3))
      .toDF("doc_id", "text")
    val b1 = Seq((5L, sB)).toDF("doc_id", "text")
    val torn = Seq((7L, sC)).toDF("doc_id", "text")
    val probes = Seq((11L, sA), (12L, sB), (13L, sC)).toDF("doc_id", "text")
    def pairs(idx: Dedup.BandIndex): Set[(Long, Long)] =
      Dedup.minHashLshProbe(idx, probes, "doc_id", "text")
        .select(col("id_a"), col("id_b"))
        .as[(Long, Long)].collect().toSet

    Dedup.saveBandIndexCommitted(
      Dedup.buildBandIndex(corpus, "doc_id", "text"), dir)
    assert(Stores.band.gen(spark, dir) == 0L)
    assert(Dedup.appendBandIndexCommitted(spark, dir, b1, "doc_id", "text",
      expectedGen = Some(0L)) == 1L)
    Dedup.appendBandIndex(spark, dir, torn, "doc_id", "text") // torn
    // snapshot: committed twins pair, the torn doc's twin does not
    assert(pairs(Dedup.loadBandIndexSnapshot(spark, dir)) ==
      Set((1L, 11L), (5L, 12L)))
    // raw directory reader DOES see the torn batch
    assert(pairs(Dedup.loadBandIndex(spark, dir)) ==
      Set((1L, 11L), (5L, 12L), (7L, 13L)))
    // time travel to the save
    assert(pairs(Dedup.loadBandIndexSnapshot(spark, dir, Some(0L))) ==
      Set((1L, 11L)))
    // OCC: stale expectation refuses
    intercept[IllegalStateException] {
      Dedup.appendBandIndexCommitted(spark, dir, torn, "doc_id", "text",
        expectedGen = Some(0L))
    }
    // vacuum reclaims the torn + OCC-loser orphans; raw converges
    assert(Stores.band.vacuum(spark, dir).nonEmpty)
    assert(Stores.band.vacuum(spark, dir).isEmpty)
    assert(pairs(Dedup.loadBandIndex(spark, dir)) ==
      Set((1L, 11L), (5L, 12L)))
    // compaction collapses history to generation 0; snapshot unchanged
    Dedup.compactBandIndex(spark, dir)
    assert(Stores.band.gen(spark, dir) == 0L)
    assert(pairs(Dedup.loadBandIndexSnapshot(spark, dir)) ==
      Set((1L, 11L), (5L, 12L)))
  }

  test("winnow index: full lifecycle — torn invisible, OCC, vacuum, time travel, delete re-admits, compaction") {
    val dir = tmp("graft_winnow_manifest")
    val corpus = Seq((1L, sA), (2L, filler1), (3L, filler2), (4L, filler3))
      .toDF("doc_id", "text")
    val b1 = Seq((5L, sB)).toDF("doc_id", "text")
    val torn = Seq((7L, sC)).toDF("doc_id", "text")
    val probes = Seq((11L, sA), (12L, sB), (13L, sC)).toDF("doc_id", "text")
    def pairs(idx: Dedup.WinnowIndex): Set[(Long, Long)] =
      Dedup.winnowProbe(idx, probes, "doc_id", "text", minShared = 1L)
        .select(col("id_a"), col("id_b"))
        .as[(Long, Long)].collect().toSet

    Dedup.saveWinnowIndexCommitted(
      Dedup.buildWinnowIndex(corpus, "doc_id", "text"), dir)
    assert(Stores.winnow.gen(spark, dir) == 0L)
    assert(Dedup.appendWinnowIndexCommitted(spark, dir, b1, "doc_id", "text",
      expectedGen = Some(0L)) == 1L)
    Dedup.appendWinnowIndex(spark, dir, torn, "doc_id", "text") // torn
    assert(pairs(Dedup.loadWinnowIndexSnapshot(spark, dir)) ==
      Set((1L, 11L), (5L, 12L)))
    assert(pairs(Dedup.loadWinnowIndex(spark, dir)) ==
      Set((1L, 11L), (5L, 12L), (7L, 13L)))
    assert(pairs(Dedup.loadWinnowIndexSnapshot(spark, dir, Some(0L))) ==
      Set((1L, 11L)))
    intercept[IllegalStateException] {
      Dedup.appendWinnowIndexCommitted(spark, dir, torn, "doc_id", "text",
        expectedGen = Some(0L))
    }
    assert(Stores.winnow.vacuum(spark, dir).nonEmpty)
    assert(Stores.winnow.vacuum(spark, dir).isEmpty)
    assert(pairs(Dedup.loadWinnowIndex(spark, dir)) ==
      Set((1L, 11L), (5L, 12L)))
    // right-to-be-forgotten: doc 1 out — its twin must re-admit
    Stores.winnow.delete(spark, dir,
      Seq(1L).toDF("doc_id"), "doc_id")
    assert(pairs(Dedup.loadWinnowIndexSnapshot(spark, dir)) ==
      Set((5L, 12L)))
    Dedup.compactWinnowIndex(spark, dir)
    assert(Stores.winnow.gen(spark, dir) == 0L)
    assert(pairs(Dedup.loadWinnowIndexSnapshot(spark, dir)) ==
      Set((5L, 12L)))
  }

  test("winnowProbe: a df-capped hot fingerprint pairs nothing") {
    val dir = tmp("graft_winnow_dfcap")
    // the same boilerplate text in three index docs: every fingerprint
    // is held by all three → df 3 > maxDf 2 → all dropped → no pairs,
    // even for an exact twin probe
    val corpus = Seq((1L, sA), (2L, sA), (3L, sA)).toDF("doc_id", "text")
    Dedup.saveWinnowIndexCommitted(
      Dedup.buildWinnowIndex(corpus, "doc_id", "text"), dir)
    val probes = Seq((11L, sA)).toDF("doc_id", "text")
    assert(Dedup.winnowProbe(Dedup.loadWinnowIndexSnapshot(spark, dir),
      probes, "doc_id", "text", minShared = 1L, maxDf = 2L).count() == 0L)
    assert(Dedup.winnowProbe(Dedup.loadWinnowIndexSnapshot(spark, dir),
      probes, "doc_id", "text", minShared = 1L, maxDf = 3L).count() == 3L)
  }

  test("winnowProbeFps: the driver probe equals the distributed one (broadcasts off)") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val dir = tmp("graft_winnow_driver_probe")
    // (id, fp_pos, fp): fp 100 held by 3 docs (id 1 at two positions),
    // fp 200 by 4, fp 400 by 4 of which doc 7 is tombstoned below
    val fps = (Seq(1L, 2L, 3L).map((_, 100L)) ++ Seq((1L, 100L)) ++
      Seq(1L, 2L, 3L, 4L).map((_, 200L)) ++
      Seq((1L, 300L), (5L, 300L), (1L, 301L), (5L, 301L)) ++
      Seq(6L, 7L, 8L, 9L).map((_, 400L)) ++ Seq((6L, 401L)))
      .zipWithIndex.map { case ((id, fp), i) => (id, i.toLong + 1, fp) }
      .toDF("id", "fp_pos", "fp")
    Dedup.saveWinnowIndexCommitted(Dedup.WinnowIndex(fps, 4, 4), dir)
    Stores.winnow.delete(spark, dir, Seq(7L).toDF("doc_id"), "doc_id")
    val index = Dedup.loadWinnowIndexSnapshot(spark, dir)
    // (id_b, fp), a duplicate row included; doc 15 shares nothing
    val batch = Seq((11L, 100L), (11L, 100L), (11L, 300L), (12L, 100L),
      (12L, 200L), (13L, 300L), (13L, 301L), (14L, 400L), (14L, 401L),
      (15L, 999L)).toDF("id_b", "fp")
    def probe(b: DataFrame, minShared: Long, maxDf: Long, budget: Long) =
      withConf("spark.sql.autoBroadcastJoinThreshold" -> budget.toString) {
        Dedup.winnowProbeFps(index, b, minShared, maxDf)
      }
    val emptyBatch = batch.limit(0)
    for (b <- Seq(batch, emptyBatch); minShared <- Seq(1L, 2L, 3L);
        maxDf <- Seq(3L, 4L)) {
      val onDriver = probe(b, minShared, maxDf, Long.MaxValue)
      assert(onDriver.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
      val distributed = probe(b, minShared, maxDf, -1L)
      // 24 bytes a row: the batch's 10 rows fit, the index's 16 do not
      val indexOver = probe(b, minShared, maxDf, 300L)
      assert(indexOver.queryExecution.optimizedPlan.isInstanceOf[LocalRelation] ==
        (b eq emptyBatch))
      for (other <- Seq(distributed, indexOver)) {
        assert(onDriver.schema == other.schema)
        assert(onDriver.as[(Long, Long, Long)].collect().toSet ==
          other.as[(Long, Long, Long)].collect().toSet,
          s"minShared $minShared, maxDf $maxDf")
      }
    }
    // df exactly maxDf (100; 400 once doc 7 is out) counts, maxDf + 1
    // (200) does not: doc 12 shares one fp with 1, minShared − 1
    assert(probe(batch, 2L, 3L, Long.MaxValue).as[(Long, Long, Long)]
      .collect().toSet == Set((1L, 11L, 2L), (1L, 13L, 2L), (5L, 13L, 2L),
        (6L, 14L, 2L)))
  }

  test("winnowProbe: the driver probe equals the distributed one on texts") {
    val dir = tmp("graft_winnow_driver_texts")
    val corpus = Seq((1L, sA), (2L, sB), (3L, s"$sA $filler1"),
      (4L, filler2), (5L, s"$sB $filler3")).toDF("doc_id", "text")
    Dedup.saveWinnowIndexCommitted(
      Dedup.buildWinnowIndex(corpus, "doc_id", "text"), dir)
    Stores.winnow.delete(spark, dir, Seq(3L).toDF("doc_id"), "doc_id")
    val index = Dedup.loadWinnowIndexSnapshot(spark, dir)
    // 13 is too short to fingerprint at all
    val probes = Seq((11L, sA), (12L, s"$filler1 $sB"), (13L, "too short"),
      (14L, filler2)).toDF("doc_id", "text")
    for (b <- Seq(probes, probes.limit(0), probes.filter(col("doc_id") === 13L));
        minShared <- Seq(1L, 2L); maxDf <- Seq(1L, 2L, 50L)) {
      def probe(budget: Long) =
        withConf("spark.sql.autoBroadcastJoinThreshold" -> budget.toString) {
          Dedup.winnowProbe(index, b, "doc_id", "text", minShared, maxDf)
            .as[(Long, Long, Long)].collect().toSet
        }
      assert(probe(Long.MaxValue) == probe(-1L), s"minShared $minShared, maxDf $maxDf")
    }
    assert(Dedup.winnowProbe(index, probes, "doc_id", "text")
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet ==
      Set((1L, 11L), (2L, 12L), (5L, 12L), (4L, 14L)))
  }

  test("snapshotRead: the footer's schema equals schema inference, and building the read runs no job") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val emb = Tables(spark, sf, "embeddings")
    val seed = emb.filter(col("vec_id") < 40)
    val corpus = Seq((1L, sA), (2L, filler1), (3L, filler2), (4L, filler3))
      .toDF("doc_id", "text")
    val band = tmp("graft_read_band")
    Dedup.saveBandIndexCommitted(Dedup.buildBandIndex(corpus, "doc_id", "text"), band)
    val postings = tmp("graft_read_postings")
    Retrieval.savePostingsIndexCommitted(
      Retrieval.buildPostingsIndex(corpus, "doc_id", "text"), postings)
    val ivf = tmp("graft_read_ivf")
    Similarity.saveIvfIndexCommitted(
      Similarity.buildIvfIndex(seed, "vec_id", "embedding"), ivf)
    val pq = tmp("graft_read_pq")
    Similarity.savePqIndexCommitted(
      Similarity.buildPqIndex(seed, "vec_id", "embedding"), pq)
    // a file written from a local relation whose columns are not nullable
    val winnow = tmp("graft_read_winnow")
    Dedup.saveWinnowIndexCommitted(Dedup.WinnowIndex(spark.createDataFrame(
      java.util.List.of(Row(1L, 1L, 7L), Row(2L, 3L, 9L)),
      StructType(Seq("id", "fp_pos", "fp").map(StructField(_, LongType, nullable = false)))),
      4, 4), winnow)
    val subs = Seq(band -> "bands", band -> "sets", postings -> "postings",
      postings -> "stats", ivf -> "assignments", pq -> "codes", winnow -> "fps")
    for ((dir, sub) <- subs) {
      val paths = StoreFiles.manifestPaths(spark, dir).filter(_.contains(s"/$sub/"))
      val inferred = spark.read.option("basePath", s"$dir/$sub").parquet(paths: _*)
      var read: DataFrame = null
      val jobs = jobsOf { read = StoreFiles.snapshotRead(spark, dir, sub) }
      assert(jobs.isEmpty, s"$sub: $jobs")
      assert(read.schema == inferred.schema, sub)
      assert(read.collect().map(_.toString).sorted.sameElements(
        inferred.collect().map(_.toString).sorted), sub)
    }
    assert(StoreFiles.snapshotRead(spark, band, "bands").columns.last == "band")
    assert(StoreFiles.snapshotRead(spark, ivf, "assignments").columns.last == "cell")
  }

  test("simhash index: torn append invisible to snapshot; vacuum converges raw") {
    val dir = tmp("graft_simhash_manifest")
    val corpus = Seq((1L, sA), (2L, filler1)).toDF("doc_id", "text")
    val b1 = Seq((5L, sB)).toDF("doc_id", "text")
    val torn = Seq((7L, sC)).toDF("doc_id", "text")
    val probes = Seq((11L, sA), (12L, sB), (13L, sC)).toDF("doc_id", "text")
    def pairs(idx: Dedup.SimHashIndex): Set[(Long, Long)] =
      Dedup.simHashProbe(idx, probes, "doc_id", "text")
        .select(col("id_a"), col("id_b"))
        .as[(Long, Long)].collect().toSet

    Dedup.saveSimHashIndexCommitted(
      Dedup.buildSimHashIndex(corpus, "doc_id", "text"), dir)
    Dedup.appendSimHashIndexCommitted(spark, dir, b1, "doc_id", "text",
      expectedGen = Some(0L))
    Dedup.appendSimHashIndex(spark, dir, torn, "doc_id", "text") // torn
    assert(pairs(Dedup.loadSimHashIndexSnapshot(spark, dir)) ==
      Set((1L, 11L), (5L, 12L)))
    assert(pairs(Dedup.loadSimHashIndex(spark, dir)) ==
      Set((1L, 11L), (5L, 12L), (7L, 13L)))
    assert(pairs(Dedup.loadSimHashIndexSnapshot(spark, dir, Some(0L))) ==
      Set((1L, 11L)))
    assert(Stores.simhash.vacuum(spark, dir).nonEmpty)
    assert(pairs(Dedup.loadSimHashIndex(spark, dir)) ==
      Set((1L, 11L), (5L, 12L)))
    Dedup.compactSimHashIndex(spark, dir)
    assert(Stores.simhash.gen(spark, dir) == 0L)
    assert(pairs(Dedup.loadSimHashIndexSnapshot(spark, dir)) ==
      Set((1L, 11L), (5L, 12L)))
  }

  test("bloom filter: a torn absorb cannot break the no-false-negative guarantee") {
    val dir = tmp("graft_bloom_manifest")
    val k14 = (1L to 4L).map(i => s"key$i").toDF("fp")
    val k56 = Seq("key5", "key6").toDF("fp")
    val k78 = Seq("key7", "key8").toDF("fp")
    def bits(idx: Dedup.BloomIndex): Map[Long, Long] =
      idx.words.select(col("word").cast("long"), col("bits"))
        .as[(Long, Long)].collect().toMap

    Dedup.saveBloomIndexCommitted(
      Dedup.buildBloomIndex(k14, "fp"), dir)
    Dedup.appendBloomIndexCommitted(spark, dir, k56, "fp",
      expectedGen = Some(0L))
    Dedup.appendBloomIndex(spark, dir, k78, "fp") // torn
    // reference filters built in one shot over the committed key sets
    val ref16 = bits(Dedup.buildBloomIndex(k14.unionByName(k56), "fp"))
    val ref14 = bits(Dedup.buildBloomIndex(k14, "fp"))
    assert(bits(Dedup.loadBloomIndexSnapshot(spark, dir)) == ref16)
    assert(bits(Dedup.loadBloomIndexSnapshot(spark, dir, Some(0L))) == ref14)
    // the raw load sees the torn partial bits
    assert(bits(Dedup.loadBloomIndex(spark, dir)) != ref16)
    intercept[IllegalStateException] {
      Dedup.appendBloomIndexCommitted(spark, dir, k78, "fp",
        expectedGen = Some(0L))
    }
    assert(Stores.bloom.vacuum(spark, dir).nonEmpty)
    assert(bits(Dedup.loadBloomIndex(spark, dir)) == ref16)
    Dedup.compactBloomIndex(spark, dir)
    assert(Stores.bloom.gen(spark, dir) == 0L)
    assert(bits(Dedup.loadBloomIndexSnapshot(spark, dir)) == ref16)
  }

  test("ivf index: torn append invisible to snapshot; time travel; vacuum") {
    val emb = Tables(spark, sf, "embeddings")
    val seed = emb.filter(col("vec_id") < 40)
    val batchA = emb.filter(col("vec_id") >= 40 && col("vec_id") < 60)
    val torn = emb.filter(col("vec_id") >= 60 && col("vec_id") < 80)
    val queries = emb.filter(col("vec_id") % 25 === 0 && col("vec_id") < 40)
    def rows(idx: Similarity.IvfIndex): Set[(Long, Long, Int)] =
      Similarity.ivfSearchIndex(queries, idx, "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .as[(Long, Long, Int)].collect().toSet

    val dir = tmp("graft_ivf_manifest")
    Similarity.saveIvfIndexCommitted(
      Similarity.buildIvfIndex(seed, "vec_id", "embedding"), dir)
    Similarity.appendIvfIndexCommitted(spark, dir, batchA, "vec_id",
      "embedding", expectedGen = Some(Stores.ivf.gen(spark, dir)))
    Similarity.appendIvfIndex(spark, dir, torn, "vec_id", "embedding")

    // committed reference states, built independently
    val refDir = tmp("graft_ivf_ref")
    Similarity.saveIvfIndex(
      Similarity.buildIvfIndex(seed, "vec_id", "embedding"), refDir)
    val seedOnly = rows(Similarity.loadIvfIndex(spark, refDir))
    Similarity.appendIvfIndex(spark, refDir, batchA, "vec_id", "embedding")
    val committed = rows(Similarity.loadIvfIndex(spark, refDir))

    assert(rows(Similarity.loadIvfIndexSnapshot(spark, dir)) == committed)
    assert(rows(Similarity.loadIvfIndexSnapshot(spark, dir, Some(0L))) ==
      seedOnly)
    assert(rows(Similarity.loadIvfIndex(spark, dir)) != committed)
    assert(Stores.ivf.vacuum(spark, dir).nonEmpty)
    assert(rows(Similarity.loadIvfIndex(spark, dir)) == committed)
    intercept[IllegalStateException] {
      Similarity.appendIvfIndexCommitted(spark, dir, torn, "vec_id",
        "embedding", expectedGen = Some(0L))
    }
    Stores.ivf.vacuum(spark, dir)
    Similarity.compactIvfIndex(spark, dir)
    assert(Stores.ivf.gen(spark, dir) == 0L)
    assert(rows(Similarity.loadIvfIndexSnapshot(spark, dir)) == committed)
  }

  test("label store: a torn increment (labels + remaps) is invisible as a unit") {
    val dir = tmp("graft_label_manifest")
    def cc(ids: Seq[Long], pairs: Seq[(Long, Long)]): DataFrame =
      Dedup.connectedComponents(ids.toDF("id"), "id",
        pairs.toDF("id_a", "id_b"))
    def resolved(df: DataFrame): Map[Long, Long] =
      df.select(col("id"), col("component"))
        .as[(Long, Long)].collect().toMap

    Dedup.saveLabelStoreCommitted(
      cc(Seq(1L, 2L, 3L, 4L, 5L, 6L), Seq((1L, 2L), (3L, 4L))), dir)
    assert(Stores.label.gen(spark, dir) == 0L)
    // committed increment: 7 joins component(1); 8 is a singleton
    Dedup.appendLabelsCommitted(spark, dir, Seq(7L, 8L).toDF("id"), "id",
      Seq((7L, 1L)).toDF("id_a", "id_b"), expectedGen = Some(0L))
    // torn increment: 9 would MERGE components 1 and 3 — must not show
    Dedup.appendLabels(spark, dir, Seq(9L).toDF("id"),
      "id", Seq((9L, 1L), (9L, 3L)).toDF("id_a", "id_b"))
    val committed = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L,
      5L -> 5L, 6L -> 6L, 7L -> 1L, 8L -> 8L)
    assert(resolved(Dedup.resolveLabelsSnapshot(spark, dir)) == committed)
    // the raw resolve sees the torn merge (9 present, 3/4 relabeled)
    val raw = resolved(Dedup.resolveLabels(spark, dir))
    assert(raw.contains(9L) && raw(3L) == 1L)
    // time travel to the save
    assert(resolved(Dedup.resolveLabelsSnapshot(spark, dir, Some(0L))) ==
      committed -- Seq(7L, 8L))
    intercept[IllegalStateException] {
      Dedup.appendLabelsCommitted(spark, dir, Seq(10L).toDF("id"), "id",
        spark.emptyDataFrame.select(lit(0L).as("id_a"), lit(0L).as("id_b"))
          .limit(0), expectedGen = Some(0L))
    }
    assert(Stores.label.vacuum(spark, dir).nonEmpty)
    assert(resolved(Dedup.resolveLabels(spark, dir)) == committed)
    Dedup.compactLabelStore(spark, dir)
    assert(Stores.label.gen(spark, dir) == 0L)
    assert(resolved(Dedup.resolveLabelsSnapshot(spark, dir)) == committed)
  }

  test("agg state: a torn delta batch is invisible; retraction commits like any batch") {
    val dir = tmp("graft_agg_manifest")
    val s1 = Seq(("en", 10L), ("en", 20L), ("fr", 7L)).toDF("lang", "tok")
    val s2 = Seq(("en", 30L), ("de", 5L)).toDF("lang", "tok")
    val s3 = Seq(("en", 100L), ("fr", 100L)).toDF("lang", "tok")
    def served(st: MatView.AggState): Set[(String, Long, Long, Long, Long, Long)] =
      MatView.serveAgg(st)
        .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    def ref(df: DataFrame): Set[(String, Long, Long, Long, Long, Long)] =
      served(MatView.buildAggState(df, Seq("lang"), "tok"))

    MatView.saveAggStateCommitted(
      MatView.buildAggState(s1, Seq("lang"), "tok"), dir)
    MatView.appendAggStateCommitted(spark, dir, s2, expectedGen = Some(0L))
    MatView.appendAggState(spark, dir, s3) // torn
    assert(served(MatView.loadAggStateSnapshot(spark, dir)) ==
      ref(s1.unionByName(s2)))
    assert(served(MatView.loadAggStateSnapshot(spark, dir, Some(0L))) ==
      ref(s1))
    // raw load silently counts the torn half — the quiet wrong answer
    assert(served(MatView.loadAggState(spark, dir)) !=
      ref(s1.unionByName(s2)))
    intercept[IllegalStateException] {
      MatView.appendAggStateCommitted(spark, dir, s3, expectedGen = Some(0L))
    }
    assert(Stores.agg.vacuum(spark, dir).nonEmpty)
    assert(served(MatView.loadAggState(spark, dir)) ==
      ref(s1.unionByName(s2)))
    // a committed retraction: counts/sums exact, extremes conservative
    MatView.retractAggStateCommitted(spark, dir,
      Seq(("en", 30L)).toDF("lang", "tok"), expectedGen = Some(1L))
    val after = MatView.serveAgg(MatView.loadAggStateSnapshot(spark, dir))
      .filter(col("lang") === "en")
      .select(col("cnt"), col("sum_v")).as[(Long, Long)].head()
    assert(after == ((2L, 30L)))
    MatView.compactAggState(spark, dir)
    assert(Stores.agg.gen(spark, dir) == 0L)
  }

  test("positional index: torn append invisible; phrase time travel; vacuum") {
    val dir = tmp("graft_pos_manifest")
    val corpus = Seq((1L, sA), (2L, filler1)).toDF("doc_id", "text")
    val b1 = Seq((3L, sA)).toDF("doc_id", "text")
    val torn = Seq((4L, sA)).toDF("doc_id", "text")
    val phrases = Seq((100L, Seq("beta", "gamma", "delta")))
      .toDF("pid", "pterms")
    def matches(idx: Retrieval.PositionalIndex): Set[(Long, Long, Long)] =
      Retrieval.phraseSearchIndex(phrases, idx, "pid", "pterms")
        .as[(Long, Long, Long)].collect().toSet

    Retrieval.savePositionalIndexCommitted(
      Retrieval.buildPositionalIndex(corpus, "doc_id", "text",
        nBuckets = 4), dir)
    Retrieval.appendPositionalIndexCommitted(spark, dir, b1, "doc_id",
      "text", expectedGen = Some(0L))
    Retrieval.appendPositionalIndex(spark, dir, torn, "doc_id", "text")
    assert(matches(Retrieval.loadPositionalIndexSnapshot(spark, dir)) ==
      Set((100L, 1L, 1L), (100L, 3L, 1L)))
    assert(matches(Retrieval.loadPositionalIndex(spark, dir)) ==
      Set((100L, 1L, 1L), (100L, 3L, 1L), (100L, 4L, 1L)))
    assert(matches(
      Retrieval.loadPositionalIndexSnapshot(spark, dir, Some(0L))) ==
      Set((100L, 1L, 1L)))
    intercept[IllegalStateException] {
      Retrieval.appendPositionalIndexCommitted(spark, dir, torn, "doc_id",
        "text", expectedGen = Some(0L))
    }
    assert(Stores.positional.vacuum(spark, dir).nonEmpty)
    assert(matches(Retrieval.loadPositionalIndex(spark, dir)) ==
      Set((100L, 1L, 1L), (100L, 3L, 1L)))
    // deletes stay retroactive through historical reads
    Stores.positional.delete(spark, dir, Seq(1L).toDF("doc_id"),
      "doc_id")
    assert(matches(
      Retrieval.loadPositionalIndexSnapshot(spark, dir, Some(0L))).isEmpty)
    Retrieval.compactPositionalIndex(spark, dir)
    assert(Stores.positional.gen(spark, dir) == 0L)
    assert(matches(Retrieval.loadPositionalIndexSnapshot(spark, dir)) ==
      Set((100L, 3L, 1L)))
  }

  test("idempotent append: replay skips before any write; a torn " +
      "attempt's retry commits only its own files; the batch ledger " +
      "survives the L0 re-base") {
    val dir = tmp("graft_band_idem")
    val corpus = Seq((1L, sA), (2L, filler1)).toDF("doc_id", "text")
    val b0 = Seq((5L, sB)).toDF("doc_id", "text")
    val b1 = Seq((6L, sC)).toDF("doc_id", "text")
    val probes = Seq((11L, sA), (12L, sB), (13L, sC)).toDF("doc_id", "text")
    def pairs: Set[(Long, Long)] =
      Dedup.minHashLshProbe(Dedup.loadBandIndexSnapshot(spark, dir),
          probes, "doc_id", "text")
        .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet

    Dedup.saveBandIndexCommitted(
      Dedup.buildBandIndex(corpus, "doc_id", "text"), dir)
    // first delivery commits and records its id in the same manifest
    assert(Dedup.appendBandIndexCommittedIdempotent(spark, dir, b0,
      "doc_id", "text", batchId = 0L).contains(1L))
    assert(StoreFiles.committedBatchIds(spark, dir) == Set(0L))
    // replay: nothing written at all — no data files, no generation
    val stamps = parquetStamps(s"$dir/bands", s"$dir/sets")
    assert(Dedup.appendBandIndexCommittedIdempotent(spark, dir, b0,
      "doc_id", "text", batchId = 0L).isEmpty)
    assert(parquetStamps(s"$dir/bands", s"$dir/sets") == stamps)
    assert(Stores.band.gen(spark, dir) == 1L)
    // torn first attempt of batch 1 (data landed, no manifest): the
    // retry's listing diff commits ONLY the retry's files; the torn
    // files stay orphans for vacuum
    Dedup.appendBandIndex(spark, dir, b1, "doc_id", "text")
    assert(Dedup.appendBandIndexCommittedIdempotent(spark, dir, b1,
      "doc_id", "text", batchId = 1L).contains(2L))
    assert(Stores.band.vacuum(spark, dir).nonEmpty)
    assert(pairs == Set((1L, 11L), (5L, 12L), (6L, 13L)))
    // the ledger rides the L0 re-base — a late replay after background
    // maintenance still finds both ids
    assert(Stores.band.compactL0(spark, dir, minRuns = 1))
    assert(Stores.band.gen(spark, dir) == 0L)
    assert(StoreFiles.committedBatchIds(spark, dir) == Set(0L, 1L))
    assert(Dedup.appendBandIndexCommittedIdempotent(spark, dir, b1,
      "doc_id", "text", batchId = 1L).isEmpty)
    assert(pairs == Set((1L, 11L), (5L, 12L), (6L, 13L)))
  }

  test("postings: exactly-once store-maintaining stream ingest — " +
      "replay writes nothing even after the policy's mid-stream re-base") {
    import graft.streaming.DocumentStreams
    val dir = tmp("graft_postings_ledger")
    val corpus = Seq((1L, sA), (2L, filler1)).toDF("doc_id", "text")
    val b0 = Seq((5L, sB)).toDF("doc_id", "text")
    val b1 = Seq((6L, sC)).toDF("doc_id", "text")
    val queries = Seq((100L, Seq("two", "alpha", "red")))
      .toDF("qid", "qterms")
    def served: Set[(Long, Long, Long, Int)] =
      Retrieval.bm25SearchIndex(queries,
          Retrieval.loadPostingsIndexSnapshot(spark, dir),
          "qid", "qterms", k = 6)
        .as[(Long, Long, Long, Int)].collect().toSet
    Retrieval.savePostingsIndexCommitted(
      Retrieval.buildPostingsIndex(corpus, "doc_id", "text"), dir)
    val policy = graft.operators.CompactionPolicy(maxRuns = 2)
    DocumentStreams.postingsIngestCommittedBatch(spark, dir, policy)(b0, 0L)
    assert(Stores.postings.gen(spark, dir) == 1L)
    // the second trigger hits maxRuns: L0 re-bases, ledger carried
    DocumentStreams.postingsIngestCommittedBatch(spark, dir, policy)(b1, 1L)
    assert(Stores.postings.gen(spark, dir) == 0L)
    assert(StoreFiles.committedBatchIds(spark, dir) == Set(0L, 1L))
    // a doubled replay would double postings rows AND stats totals —
    // the serve must equal the in-flight build over corpus ∪ b0 ∪ b1,
    // and replays must not move a byte
    val want = Retrieval.bm25TopK(corpus.unionByName(b0).unionByName(b1),
        queries, "doc_id", "text", "qid", "qterms", k = 6)
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(served == want)
    val stamps = parquetStamps(s"$dir/postings", s"$dir/stats")
    DocumentStreams.postingsIngestCommittedBatch(spark, dir, policy)(b0, 0L)
    DocumentStreams.postingsIngestCommittedBatch(spark, dir, policy)(b1, 1L)
    assert(parquetStamps(s"$dir/postings", s"$dir/stats") == stamps)
    assert(Stores.postings.gen(spark, dir) == 0L)
    assert(served == want)
  }

  test("winnow: exactly-once gated stream ingest — admissions chain " +
      "through the store, replay writes nothing") {
    import graft.streaming.DocumentStreams
    val dir = tmp("graft_winnow_ledger")
    val corpus = Seq((1L, sA), (2L, filler1)).toDF("doc_id", "text")
    // b0: a twin of a corpus doc (rejected) + a novel doc (admitted);
    // b1: a twin of b0's ADMISSION (rejected only if the chain runs
    // through the store) + a novel doc (admitted)
    val b0 = Seq((5L, sA), (6L, sB)).toDF("doc_id", "text")
    val b1 = Seq((7L, sB), (8L, sC)).toDF("doc_id", "text")
    def storedIds: Set[Long] =
      Dedup.loadWinnowIndexSnapshot(spark, dir).fps
        .select(col("id")).distinct().as[Long].collect().toSet
    Dedup.saveWinnowIndexCommitted(
      Dedup.buildWinnowIndex(corpus, "doc_id", "text"), dir)
    val policy = graft.operators.CompactionPolicy(maxRuns = 2)
    DocumentStreams.winnowIngestCommittedBatch(spark, dir, policy)(b0, 0L)
    assert(storedIds == Set(1L, 2L, 6L),
      "corpus twin must be rejected, novel doc admitted")
    DocumentStreams.winnowIngestCommittedBatch(spark, dir, policy)(b1, 1L)
    assert(storedIds == Set(1L, 2L, 6L, 8L),
      "a twin of an earlier ADMISSION must be rejected by the store chain")
    // the policy re-based mid-stream; the ledger survived
    assert(Stores.winnow.gen(spark, dir) == 0L)
    assert(StoreFiles.committedBatchIds(spark, dir) == Set(0L, 1L))
    // replays append nothing
    val stamps = parquetStamps(s"$dir/fps")
    DocumentStreams.winnowIngestCommittedBatch(spark, dir, policy)(b0, 0L)
    DocumentStreams.winnowIngestCommittedBatch(spark, dir, policy)(b1, 1L)
    assert(parquetStamps(s"$dir/fps") == stamps)
    assert(Stores.winnow.gen(spark, dir) == 0L && storedIds == Set(1L, 2L, 6L, 8L))
  }

  test("ivf: exactly-once store-maintaining stream ingest — replay " +
      "writes nothing even after the policy's mid-stream re-base") {
    import graft.streaming.DocumentStreams
    val emb = Tables(spark, sf, "embeddings")
    val dir = tmp("graft_ivf_ledger")
    val seed = emb.filter(col("vec_id") < 40)
    val b0 = emb.filter(col("vec_id") >= 40 && col("vec_id") < 60)
    val b1 = emb.filter(col("vec_id") >= 60 && col("vec_id") < 80)
    val queries = emb.filter(col("vec_id") % 25 === 0 && col("vec_id") < 40)
      .localCheckpoint()
    def served: Set[(Long, Long, Int)] =
      Similarity.ivfSearchIndex(queries,
          Similarity.loadIvfIndexSnapshot(spark, dir),
          "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .as[(Long, Long, Int)].collect().toSet
    Similarity.saveIvfIndexCommitted(
      Similarity.buildIvfIndex(seed, "vec_id", "embedding"), dir)
    val policy = graft.operators.CompactionPolicy(maxRuns = 2)
    DocumentStreams.ivfIngestCommittedBatch(spark, dir, policy)(b0, 0L)
    assert(Stores.ivf.gen(spark, dir) == 1L)
    // the second trigger hits maxRuns: L0 re-bases, ledger carried
    DocumentStreams.ivfIngestCommittedBatch(spark, dir, policy)(b1, 1L)
    assert(Stores.ivf.gen(spark, dir) == 0L)
    assert(StoreFiles.committedBatchIds(spark, dir) == Set(0L, 1L))
    // serve must equal an independently-built store over seed ∪ b0 ∪ b1
    // (a doubled replay would duplicate candidate rows)
    val refDir = tmp("graft_ivf_ledger_ref")
    Similarity.saveIvfIndex(
      Similarity.buildIvfIndex(seed, "vec_id", "embedding"), refDir)
    Similarity.appendIvfIndex(spark, refDir, b0, "vec_id", "embedding")
    Similarity.appendIvfIndex(spark, refDir, b1, "vec_id", "embedding")
    val want = Similarity.ivfSearchIndex(queries,
        Similarity.loadIvfIndex(spark, refDir), "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .as[(Long, Long, Int)].collect().toSet
    assert(served == want)
    val stamps = parquetStamps(s"$dir/assignments")
    DocumentStreams.ivfIngestCommittedBatch(spark, dir, policy)(b0, 0L)
    DocumentStreams.ivfIngestCommittedBatch(spark, dir, policy)(b1, 1L)
    assert(parquetStamps(s"$dir/assignments") == stamps)
    assert(Stores.ivf.gen(spark, dir) == 0L)
    assert(served == want)
  }

  test("pq: exactly-once store-maintaining stream ingest — drops encode " +
      "with the stored codebooks, replay writes nothing") {
    import graft.streaming.DocumentStreams
    val emb = Tables(spark, sf, "embeddings")
    val dir = tmp("graft_pq_ledger")
    val seed = emb.filter(col("vec_id") < 40)
    val b0 = emb.filter(col("vec_id") >= 40 && col("vec_id") < 60)
    val b1 = emb.filter(col("vec_id") >= 60 && col("vec_id") < 80)
    val queries = emb.filter(col("vec_id") % 25 === 0 && col("vec_id") < 40)
      .localCheckpoint()
    def served: Set[(Long, Long, Int)] =
      Similarity.pqSearchIndex(queries,
          Similarity.loadPqIndexSnapshot(spark, dir),
          "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .as[(Long, Long, Int)].collect().toSet
    Similarity.savePqIndexCommitted(
      Similarity.buildPqIndex(seed, "vec_id", "embedding"), dir)
    val policy = graft.operators.CompactionPolicy(maxRuns = 2)
    DocumentStreams.pqIngestCommittedBatch(spark, dir, policy)(b0, 0L)
    assert(Stores.pq.gen(spark, dir) == 1L)
    DocumentStreams.pqIngestCommittedBatch(spark, dir, policy)(b1, 1L)
    assert(Stores.pq.gen(spark, dir) == 0L)
    assert(StoreFiles.committedBatchIds(spark, dir) == Set(0L, 1L))
    val refDir = tmp("graft_pq_ledger_ref")
    Similarity.savePqIndex(
      Similarity.buildPqIndex(seed, "vec_id", "embedding"), refDir)
    Similarity.appendPqIndex(spark, refDir, b0, "vec_id", "embedding")
    Similarity.appendPqIndex(spark, refDir, b1, "vec_id", "embedding")
    val want = Similarity.pqSearchIndex(queries,
        Similarity.loadPqIndex(spark, refDir), "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
      .as[(Long, Long, Int)].collect().toSet
    assert(served == want)
    val stamps = parquetStamps(s"$dir/codes")
    DocumentStreams.pqIngestCommittedBatch(spark, dir, policy)(b0, 0L)
    DocumentStreams.pqIngestCommittedBatch(spark, dir, policy)(b1, 1L)
    assert(parquetStamps(s"$dir/codes") == stamps)
    assert(Stores.pq.gen(spark, dir) == 0L)
    assert(served == want)
  }

  test("agg: exactly-once store-maintaining stream ingest — a doubled " +
      "delta would merge silently; the ledger and re-base prevent it") {
    import graft.streaming.DocumentStreams
    val dir = tmp("graft_agg_ledger")
    val corpus = Seq((1L, "en", "web", sA), (2L, "de", "web", filler1))
      .toDF("doc_id", "lang", "source", "text")
    val b0 = Seq((5L, "en", "web", sB)).toDF("doc_id", "lang", "source", "text")
    val b1 = Seq((6L, "en", "book", sC)).toDF("doc_id", "lang", "source", "text")
    def served: Set[(String, String, Long, Long, Long, Long, Long)] =
      MatView.serveAgg(MatView.loadAggStateSnapshot(spark, dir))
        .as[(String, String, Long, Long, Long, Long, Long)].collect().toSet
    MatView.saveAggStateCommitted(
      MatView.buildAggState(corpus.withColumn("tok",
        size(split(col("text"), " ")).cast("long")),
        Seq("lang", "source"), "tok"), dir)
    val policy = graft.operators.CompactionPolicy(maxRuns = 2)
    DocumentStreams.aggIngestCommittedBatch(spark, dir, policy)(b0, 0L)
    assert(Stores.agg.gen(spark, dir) == 1L)
    // second trigger hits maxRuns: the delta pile collapses to one row
    // per key in a fresh run, base untouched, ledger carried
    DocumentStreams.aggIngestCommittedBatch(spark, dir, policy)(b1, 1L)
    assert(Stores.agg.gen(spark, dir) == 0L)
    assert(StoreFiles.committedBatchIds(spark, dir) == Set(0L, 1L))
    // serve = the from-scratch aggregate over corpus ∪ b0 ∪ b1
    val want = MatView.serveAgg(MatView.buildAggState(
        corpus.unionByName(b0).unionByName(b1).withColumn("tok",
          size(split(col("text"), " ")).cast("long")),
        Seq("lang", "source"), "tok"))
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toSet
    assert(served == want)
    // replays write nothing — the double-count the merge would absorb
    // silently is exactly what the mtime pin rules out
    val stamps = parquetStamps(s"$dir/state")
    DocumentStreams.aggIngestCommittedBatch(spark, dir, policy)(b0, 0L)
    DocumentStreams.aggIngestCommittedBatch(spark, dir, policy)(b1, 1L)
    assert(parquetStamps(s"$dir/state") == stamps)
    assert(Stores.agg.gen(spark, dir) == 0L && served == want)
  }

  test("idempotent append is DESCRIPTOR-level: any family gets the " +
      "batch ledger through appendCommittedIdempotent — postings shown") {
    val dir = tmp("graft_postings_idem")
    val corpus = Seq((1L, sA), (2L, filler1)).toDF("doc_id", "text")
    val b0 = Seq((5L, sB)).toDF("doc_id", "text")
    val queries = Seq((100L, Seq("two", "three", "alpha")))
      .toDF("qid", "qterms")
    def served: Set[(Long, Long)] =
      Retrieval.bm25SearchIndex(queries,
          Retrieval.loadPostingsIndexSnapshot(spark, dir),
          "qid", "qterms", k = 5)
        .select(col("qid"), col("doc_id"))
        .as[(Long, Long)].collect().toSet

    Retrieval.savePostingsIndexCommitted(
      Retrieval.buildPostingsIndex(corpus, "doc_id", "text"), dir)
    assert(Stores.postings.appendCommittedIdempotent(spark, dir, 7L) {
      Retrieval.appendPostingsIndex(spark, dir, b0, "doc_id", "text")
    }.contains(1L))
    val after = served
    assert(after.contains((100L, 5L)) && after.contains((100L, 1L)))
    // replay through the descriptor: no write, no generation, serve same
    val stamps = parquetStamps(s"$dir/postings", s"$dir/stats")
    assert(Stores.postings.appendCommittedIdempotent(spark, dir, 7L) {
      Retrieval.appendPostingsIndex(spark, dir, b0, "doc_id", "text")
    }.isEmpty)
    assert(parquetStamps(s"$dir/postings", s"$dir/stats") == stamps)
    assert(Stores.postings.gen(spark, dir) == 1L)
    assert(served == after)
  }

  test("suffix store (family #11): build-once commit, rebuild re-bases " +
      "atomically, vacuum reclaims a torn rebuild's orphans") {
    import graft.operators.Suffix
    val dir = tmp("graft_suffix_manifest")
    val v1 = Seq((1L, sA), (2L, filler1), (3L, sA)).toDF("doc_id", "text")
    Suffix.saveDupIndexCommitted(spark, dir, v1, "doc_id", "text")
    assert(Stores.suffix.gen(spark, dir) == 0L)
    def spans(minLen: Long): Set[(Long, Long, Long)] =
      Suffix.maximalDupSpansFrom(Suffix.loadDupIndexSnapshot(spark, dir),
          "doc_id", minLen)
        .select(col("doc_id"), col("span_start"), col("span_tokens"))
        .as[(Long, Long, Long)].collect().toSet
    // docs 1 and 3 are 10-token twins: both fully covered at minLen 10
    assert(spans(10L) == Set((1L, 1L, 10L), (3L, 1L, 10L)))
    // REBUILD (the family's only update path — no incremental append
    // exists because a new doc changes dup_len at arbitrary earlier
    // positions): a fresh save re-bases to a new epoch's generation 0,
    // and the serve flips atomically to the new corpus
    val v2 = Seq((1L, sA), (2L, filler1), (3L, filler2)).toDF("doc_id", "text")
    Suffix.saveDupIndexCommitted(spark, dir, v2, "doc_id", "text")
    assert(Stores.suffix.gen(spark, dir) == 0L)
    assert(spans(10L).isEmpty) // the twin is gone; nothing repeats
    // a torn rebuild (data written, no commit) leaves orphans the
    // snapshot never sees and vacuum reclaims
    Suffix.buildDupIndex(v1, "doc_id", "text").duplens
      .write.mode("append").parquet(s"$dir/duplens")
    assert(spans(10L).isEmpty)
    assert(Stores.suffix.vacuum(spark, dir).nonEmpty)
    assert(Stores.suffix.vacuum(spark, dir).isEmpty)
    // every committed duplens file carries a doc_id envelope (the
    // range-clustered save makes them disjoint per file)
    val files = graft.operators.StoreFiles.manifestPaths(spark, dir)
      .filter(_.contains("/duplens/"))
    val st = graft.operators.StoreFiles.fileStats(spark, dir)
    assert(files.nonEmpty &&
      files.forall(p => st.get(p).exists(_.contains("doc_id"))))
  }

  test("docstore (family #12): commit, OCC append, torn invisible, " +
      "string + long zone maps prune, delete, time travel, vacuum") {
    import graft.operators.{DocStore, StoreFiles}
    val dir = tmp("graft_docstore_manifest")
    val mk = (rows: Seq[(Long, String, String)]) =>
      rows.toDF("doc_id", "source", "text")
    val base = mk(Seq((1L, "arx", sA), (2L, "arx", filler1),
      (3L, "web", sB), (4L, "web", filler2), (5L, "wiki", sC)))
    DocStore.saveDocStoreCommitted(spark, dir, base, numFiles = 3)
    assert(Stores.docstore.gen(spark, dir) == 0L)
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select(col("doc_id")).as[Long].collect().toSet
    assert(ids(DocStore.loadDocStoreSnapshot(spark, dir)) ==
      Set(1L, 2L, 3L, 4L, 5L))
    // OCC append commits; a raw (uncommitted) write stays invisible
    assert(DocStore.appendDocStoreCommitted(spark, dir,
      mk(Seq((6L, "web", filler3)))) == 1L)
    mk(Seq((9L, "zzz", filler3))).write.mode("append")
      .parquet(s"$dir/docs") // torn
    assert(ids(DocStore.loadDocStoreSnapshot(spark, dir)) ==
      Set(1L, 2L, 3L, 4L, 5L, 6L))
    // STRING zone maps: the 'web' serve returns exactly the web docs
    // and provably skips committed files whose source envelope misses
    assert(ids(DocStore.loadDocStoreSourceRange(spark, dir, "web", "web"))
      == Set(3L, 4L, 6L))
    val all = StoreFiles.manifestPaths(spark, dir).filter(_.contains("/docs/"))
    val sst = StoreFiles.fileStringStats(spark, dir)
    assert(all.forall(p => sst.get(p).exists(_.contains("source"))),
      "a committed docs file has no source envelope")
    val web = "web".getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val keptStr = all.filter { p =>
      val (mn, mx) = sst(p)("source")
      java.util.Arrays.compareUnsigned(mx, web) >= 0 &&
        java.util.Arrays.compareUnsigned(mn, web) <= 0
    }
    assert(keptStr.nonEmpty && keptStr.size < all.size,
      s"source range kept ${keptStr.size} of ${all.size} files")
    // LONG zone maps on the same family
    assert(ids(DocStore.loadDocStoreIdRange(spark, dir, 1L, 2L)) ==
      Set(1L, 2L))
    // time travel to the save; tombstone-delete is retroactive
    assert(ids(DocStore.loadDocStoreSnapshot(spark, dir, Some(0L))) ==
      Set(1L, 2L, 3L, 4L, 5L))
    Stores.docstore.delete(spark, dir, Seq(4L).toDF("doc_id"), "doc_id")
    assert(ids(DocStore.loadDocStoreSnapshot(spark, dir)) ==
      Set(1L, 2L, 3L, 5L, 6L))
    assert(ids(DocStore.loadDocStoreSourceRange(spark, dir, "web", "web"))
      == Set(3L, 6L))
    assert(ids(DocStore.loadDocStoreSnapshot(spark, dir, Some(0L))) ==
      Set(1L, 2L, 3L, 5L))
    // vacuum reclaims exactly the torn write's orphan
    assert(Stores.docstore.vacuum(spark, dir).nonEmpty)
    assert(Stores.docstore.vacuum(spark, dir).isEmpty)
    assert(ids(DocStore.loadDocStoreSnapshot(spark, dir)) ==
      Set(1L, 2L, 3L, 5L, 6L))
  }

  test("docstore: exactly-once store-maintaining stream ingest — replay " +
      "writes nothing even after the policy's mid-stream re-base") {
    import graft.operators.DocStore
    import graft.streaming.DocumentStreams
    val dir = tmp("graft_doc_ledger")
    val mk = (rows: Seq[(Long, String, String)]) =>
      rows.toDF("doc_id", "source", "text")
    val seed = mk(Seq((1L, "arx", sA), (2L, "web", filler1)))
    val b0 = mk(Seq((5L, "web", sB), (6L, "wiki", filler2)))
    val b1 = mk(Seq((7L, "arx", sC)))
    def ids: Set[Long] = DocStore.loadDocStoreSnapshot(spark, dir)
      .select(col("doc_id")).as[Long].collect().toSet
    DocStore.saveDocStoreCommitted(spark, dir, seed, numFiles = 2)
    val policy = graft.operators.CompactionPolicy(maxRuns = 2)
    DocumentStreams.docIngestCommittedBatch(spark, dir, policy)(b0, 0L)
    assert(Stores.docstore.gen(spark, dir) == 1L)
    assert(ids == Set(1L, 2L, 5L, 6L))
    // the second trigger hits maxRuns: L0 re-bases CLUSTERED on
    // (source, doc_id), the batch-id ledger carried
    DocumentStreams.docIngestCommittedBatch(spark, dir, policy)(b1, 1L)
    assert(Stores.docstore.gen(spark, dir) == 0L)
    assert(StoreFiles.committedBatchIds(spark, dir) == Set(0L, 1L))
    assert(ids == Set(1L, 2L, 5L, 6L, 7L))
    // a doubled replay would duplicate the bronze DOCUMENTS themselves
    // — replays must not move a byte, and the row set must hold
    val stamps = parquetStamps(s"$dir/docs")
    DocumentStreams.docIngestCommittedBatch(spark, dir, policy)(b0, 0L)
    DocumentStreams.docIngestCommittedBatch(spark, dir, policy)(b1, 1L)
    assert(parquetStamps(s"$dir/docs") == stamps)
    assert(Stores.docstore.gen(spark, dir) == 0L)
    assert(ids == Set(1L, 2L, 5L, 6L, 7L))
    // the serve keeps the bronze contract end-to-end: source-ranged
    // reads still prune on the re-based clustered envelopes
    assert(DocStore.loadDocStoreSourceRange(spark, dir, "web", "web")
      .select(col("doc_id")).as[Long].collect().toSet == Set(2L, 5L))
  }

  test("suffix rebuild policy: no-fire on an unchanged corpus, " +
      "fire-exactly-once on growth, provenance required loudly") {
    import graft.operators.{DocStore, Suffix}
    val dsDir = tmp("graft_rebuild_corpus")
    val sxDir = tmp("graft_rebuild_suffix")
    val mk = (rows: Seq[(Long, String, String)]) =>
      rows.toDF("doc_id", "source", "text")
    DocStore.saveDocStoreCommitted(spark, dsDir,
      mk(Seq((1L, "arx", sA), (2L, "web", filler1))))
    assert(Suffix.saveDupIndexFromDocStore(spark, sxDir, dsDir) == 0L)
    val policy = Suffix.RebuildPolicy(maxAppendedFraction = 0.1)
    // unchanged corpus: the probe is driver FS metadata only — no fire
    assert(!Suffix.maintainDupIndexRebuild(spark, sxDir, dsDir, policy))
    // growth past the fraction: fire EXACTLY once (the rebuild
    // re-records provenance), then the same corpus never re-fires
    DocStore.appendDocStoreCommitted(spark, dsDir,
      mk(Seq((3L, "web", sA), (4L, "wiki", filler2))))
    assert(Suffix.maintainDupIndexRebuild(spark, sxDir, dsDir, policy))
    assert(!Suffix.maintainDupIndexRebuild(spark, sxDir, dsDir, policy))
    // the rebuilt index covers the grown corpus: docs 1 and 3 are
    // 10-token twins now, invisible to the pre-rebuild index
    val spans = Suffix.maximalDupSpansFrom(
        Suffix.loadDupIndexSnapshot(spark, sxDir), "doc_id", 10L)
      .select(col("doc_id"), col("span_start"), col("span_tokens"))
      .as[(Long, Long, Long)].collect().toSet
    assert(spans == Set((1L, 1L, 10L), (3L, 1L, 10L)))
    // a store with no provenance refuses the staleness question loudly
    val bare = tmp("graft_rebuild_bare")
    Suffix.saveDupIndexCommitted(spark, bare,
      mk(Seq((1L, "arx", sA))), "doc_id", "text")
    intercept[IllegalStateException] {
      Suffix.rebuildDue(spark, bare, dsDir, policy)
    }
  }

  test("survivor-trim store (family #13): committed surv + index serve " +
      "the trim and the splice identically to the inline build") {
    import graft.operators.Suffix
    val dir = tmp("graft_survtrim_manifest")
    // the "dedup output": doc 3 already removed by an upstream keep-best
    val surv = Seq((1L, "arx", sA), (2L, "web", filler1),
        (4L, "web", sA), (5L, "wiki", filler3))
      .toDF("doc_id", "source", "text")
    Suffix.saveSurvTrimCommitted(spark, dir, surv, "doc_id", "text",
      numFiles = 2)
    assert(Stores.survtrim.gen(spark, dir) == 0L)
    val (idx, storedSurv) = Suffix.loadSurvTrimSnapshot(spark, dir)
    // the committed surv sub IS the dedup output, columns intact
    assert(storedSurv.columns.toSet == Set("doc_id", "source", "text"))
    assert(storedSurv.select(col("doc_id")).as[Long].collect().toSet ==
      Set(1L, 2L, 4L, 5L))
    // trim + splice from the store ≡ the inline build over the same
    // survivor corpus (docs 1 and 4 are twins: 1 survives verbatim,
    // 4 splices to empty)
    def cleanMap(idx2: Suffix.DupIndex, docs2: org.apache.spark.sql.DataFrame) =
      Suffix.trimDupSpansKeepFirstText(idx2, docs2, "doc_id", "text", 3L)
        .select(col("doc_id"), col("kept_tokens"), col("clean_text"))
        .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    val viaStore = cleanMap(idx, storedSurv)
    val inline = cleanMap(Suffix.buildDupIndex(surv, "doc_id", "text"), surv)
    assert(viaStore == inline)
    assert(viaStore(1L)._3 == sA && viaStore(4L)._3 == "")
    // ZERO suffix-construction jobs on serve: the splice is spans →
    // covered positions → anti-join → one ordered per-doc aggregation
    // (a rebuild costs dozens of doubling/ANSV jobs)
    val sc = spark.sparkContext
    val before = sc.statusTracker.getJobIdsForGroup(null).length
    val (idx3, surv3) = Suffix.loadSurvTrimSnapshot(spark, dir)
    Suffix.trimDupSpansKeepFirstText(idx3, surv3, "doc_id", "text", 3L)
      .count()
    val after = sc.statusTracker.getJobIdsForGroup(null).length
    assert(after - before <= 12,
      s"splice serve launched ${after - before} jobs — a suffix " +
        "rebuild costs dozens; the serve must stay joins+aggregation")
  }

  test("survivor-trim store: dedup-params provenance travels in the " +
      "manifest and a mismatched serve refuses loudly") {
    import graft.operators.Suffix
    val surv = Seq((1L, sA), (2L, filler1)).toDF("doc_id", "text")
    // params recorded at save → readable, and an expecting load serves
    val dir = tmp("graft_survtrim_params")
    val fpA = "minhash:shingle=3,hashes=12;keep=best:n_tokens"
    Suffix.saveSurvTrimCommitted(spark, dir, surv, "doc_id", "text",
      params = Some(fpA))
    assert(Suffix.survTrimParams(spark, dir).contains(fpA))
    val (_, served) = Suffix.loadSurvTrimSnapshot(spark, dir,
      expectParams = Some(fpA))
    assert(served.select(col("doc_id")).as[Long].collect().toSet ==
      Set(1L, 2L))
    // a caller expecting a DIFFERENT dedup config must not be served
    // this store's survivors
    intercept[IllegalArgumentException] {
      Suffix.loadSurvTrimSnapshot(spark, dir,
        expectParams = Some("minhash:shingle=5,hashes=24;keep=min_id"))
    }
    // a pre-provenance store refuses any expectation rather than guess
    val bare = tmp("graft_survtrim_noparams")
    Suffix.saveSurvTrimCommitted(spark, bare, surv, "doc_id", "text")
    assert(Suffix.survTrimParams(spark, bare).isEmpty)
    intercept[IllegalArgumentException] {
      Suffix.loadSurvTrimSnapshot(spark, bare, expectParams = Some(fpA))
    }
    // no expectation stays compatible with both
    Suffix.loadSurvTrimSnapshot(spark, bare)
    // a re-save under new params re-bases: the fingerprint follows
    Suffix.saveSurvTrimCommitted(spark, dir, surv, "doc_id", "text",
      params = Some("minhash:shingle=5,hashes=24;keep=min_id"))
    assert(Suffix.survTrimParams(spark, dir)
      .contains("minhash:shingle=5,hashes=24;keep=min_id"))
  }
}
