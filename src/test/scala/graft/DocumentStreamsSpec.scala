package graft

import graft.streaming.{DocumentStreams, EventStreams}
import org.apache.spark.sql.functions._

/** Streaming document curation: the same gate→dedup program must produce
  * identical corpus statistics whether the documents arrive as one batch
  * read or as a sequence of incremental drops, and replayed drops must
  * be absorbed by the fingerprint state.
  */
class DocumentStreamsSpec extends SparkSpec {
  import spark.implicits._

  /** Landing dir with the sf documents split into 3 drop files. */
  private lazy val landingDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("docs_stream")
    val docs = Tables(spark, sf, "documents")
    for (k <- 0 until 3) {
      val out = java.nio.file.Files.createTempDirectory(s"docs_chunk$k")
      docs.filter(col("doc_id") % 3 === k).coalesce(1)
        .write.mode("overwrite").parquet(out.toString)
      val part = java.nio.file.Files.list(out).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS")).head
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(part), dir.resolve(f"drop_$k%02d.parquet"))
    }
    dir.toString
  }

  test("streamed gate+dedup yields the same per-language stats as the batch read") {
    val curatedStream = DocumentStreams.gateAndDedup(
      DocumentStreams.readDocuments(spark, landingDir, maxFilesPerTrigger = Some(1)))
    EventStreams.runToMemory(curatedStream, "curated_docs")
    val streamed = DocumentStreams.langStats(spark.table("curated_docs"))
      .as[(String, Long, Long)].collect().toSet
    val batch = DocumentStreams.curate(Tables(spark, sf, "documents"))
      .as[(String, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("a replayed drop adds nothing: fingerprint state absorbs duplicates") {
    val dir = java.nio.file.Files.createTempDirectory("docs_replay")
    val src = java.nio.file.Paths.get(s"$landingDir/drop_00.parquet")
    java.nio.file.Files.copy(src, dir.resolve("drop_a.parquet"))
    val stream = DocumentStreams.gateAndDedup(
      DocumentStreams.readDocuments(spark, dir.toString))
    val q = stream.writeStream.format("memory").queryName("curated_replay")
      .outputMode("append").start()
    q.processAllAvailable()
    val afterFirst = spark.table("curated_replay").count()
    // the same drop lands again (retried upload / duplicated daily file)
    java.nio.file.Files.copy(src, dir.resolve("drop_a_replay.parquet"))
    q.processAllAvailable()
    val afterReplay = spark.table("curated_replay").count()
    q.stop()
    assert(afterFirst > 0)
    assert(afterReplay == afterFirst,
      "replayed docs must be absorbed by the fingerprint dedup state")
  }

  test("bloom ingest: later drops dedup against earlier; append is replay-idempotent") {
    import graft.operators.Dedup
    val fpCol = graft.functions.TextAnalysis.fingerprint(col("text"))
    def mkDocs(rows: Seq[(Long, String)]) =
      rows.map { case (id, tx) => (id, tx, "en", "syn", tx.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    val corpus = mkDocs((0 until 50).map(i => (i.toLong, s"corpus document body number $i")))
    // drop0: 10 fresh docs + 5 re-deliveries of corpus texts (new ids, same fp)
    val drop0 = mkDocs((100 until 110).map(i => (i.toLong, s"fresh drop zero doc $i")) ++
      (0 until 5).map(i => (1000L + i, s"corpus document body number $i")))
    // drop1: 10 fresh docs + 5 re-deliveries of DROP0 texts + 1 corpus text
    val drop1 = mkDocs((200 until 210).map(i => (i.toLong, s"fresh drop one doc $i")) ++
      (100 until 105).map(i => (2000L + i, s"fresh drop zero doc $i")) ++
      Seq((3000L, "corpus document body number 5")))
    val base = java.nio.file.Files.createTempDirectory("bloom_ingest").toString
    val landing = s"$base/landing"; new java.io.File(landing).mkdirs()
    val bloomDir = s"$base/bloom"; val outPath = s"$base/out"
    Dedup.saveBloomIndex(
      Dedup.buildBloomIndex(corpus.withColumn("fp", fpCol), "fp"), bloomDir)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(name).toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.copy(java.nio.file.Paths.get(part),
        java.nio.file.Paths.get(s"$landing/$name.parquet"))
    }
    land(drop0, "drop_00")
    val q = DocumentStreams.bloomIngest(spark, landing, bloomDir, corpus,
      outPath, s"$base/ckpt", maxFilesPerTrigger = Some(1))
    q.processAllAvailable()
    land(drop1, "drop_01")
    q.processAllAvailable()
    q.stop()
    // drop0's fresh docs admitted; drop1's fresh docs admitted; every
    // re-delivery (corpus texts AND drop0 texts) rejected — later drops
    // dedup against earlier ones through the appended filter
    val admitted = spark.read.parquet(outPath)
      .select($"doc_id").as[Long].collect().toSet
    assert(admitted == ((100 until 110) ++ (200 until 210)).map(_.toLong).toSet)
    // stream ≡ batch on the key set: all drops at once against the corpus
    val bulkFps = Dedup.bloomGatedAntiJoin(
        drop0.unionByName(drop1).withColumn("fp", fpCol).dropDuplicates("fp"),
        corpus.withColumn("fp", fpCol), "fp")
      .select($"fp").as[String].collect().toSet
    val streamedFps = spark.read.parquet(outPath)
      .select($"fp").as[String].collect().toSet
    assert(streamedFps == bulkFps)
    // replay idempotency: re-running a committed batch's filter append
    // ORs in identical bits — the loaded filter is unchanged
    val before = Dedup.loadBloomIndex(spark, bloomDir).words
      .as[(Long, Long)].collect().toSet
    Dedup.appendBloomIndex(spark, bloomDir,
      spark.read.parquet(s"$outPath/batch_id=1"), "fp")
    val after = Dedup.loadBloomIndex(spark, bloomDir).words
      .as[(Long, Long)].collect().toSet
    assert(after == before)
    // FULL at-least-once replay: the whole foreachBatch body re-executes
    // for an already-committed batch (sink write + filter append landed,
    // checkpoint commit did not). Its own keys are in the filter AND its
    // own partition is on disk — the re-execution must reproduce the
    // partition byte-for-byte-equivalent, not reject its own rows and
    // overwrite the partition with an empty set.
    val batch1Before = spark.read.parquet(s"$outPath/batch_id=1")
      .select($"doc_id").as[Long].collect().toSet
    DocumentStreams.bloomIngestBatch(spark, bloomDir, corpus, outPath)(
      drop1, 1L)
    val batch1After = spark.read.parquet(s"$outPath/batch_id=1")
      .select($"doc_id").as[Long].collect().toSet
    assert(batch1After == batch1Before && batch1Before.nonEmpty,
      "replayed batch must re-admit exactly its first-run rows")
    val filterAfterReplay = Dedup.loadBloomIndex(spark, bloomDir).words
      .as[(Long, Long)].collect().toSet
    assert(filterAfterReplay == before, "replay must leave the filter unchanged")
  }

  test("simhash ingest: lossless gate vs corpus and earlier drops; replay-idempotent") {
    import graft.operators.Dedup
    def mkDocs(rows: Seq[(Long, String)]) =
      rows.map { case (id, tx) => (id, tx, "en", "syn", tx.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    def body(i: Int) = s"steady corpus prose item $i about engines pipelines " +
      s"and shuffles with plenty of stable shared filler vocabulary $i"
    val corpus = mkDocs((0 until 25).map(i => (i.toLong, body(i))))
    // drop0: 4 fresh + 2 exact copies of corpus texts (hamming 0)
    val drop0 = mkDocs(
      (100 until 104).map(i => (i.toLong, s"wholly new drop zero material $i with vocabulary disjoint from production $i")) ++
      (0 until 2).map(i => (1000L + i, body(i))))
    // drop1: 3 fresh + 1 exact copy of a DROP0 fresh text + 1 of corpus
    val drop1 = mkDocs(
      (200 until 203).map(i => (i.toLong, s"later second drop contribution $i carrying its own token stream $i")) ++
      Seq((2000L, s"wholly new drop zero material 101 with vocabulary disjoint from production 101"),
          (3000L, body(5))))
    val base = java.nio.file.Files.createTempDirectory("simhash_ingest").toString
    val landing = s"$base/landing"; new java.io.File(landing).mkdirs()
    val idxDir = s"$base/idx"; val outPath = s"$base/out"
    Dedup.saveSimHashIndex(
      Dedup.buildSimHashIndex(corpus, "doc_id", "text", maxHamming = 6), idxDir)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(name).toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.copy(java.nio.file.Paths.get(part),
        java.nio.file.Paths.get(s"$landing/$name.parquet"))
    }
    val q = DocumentStreams.simhashIngest(spark, landing, idxDir, outPath,
      s"$base/ckpt", maxFilesPerTrigger = Some(1))
    land(drop0, "drop_00"); q.processAllAvailable()
    land(drop1, "drop_01"); q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(outPath).select($"doc_id").as[Long].collect().toSet
    // exact copies of corpus (1000, 1001, 3000) and of drop0's admitted
    // 101 (2000) rejected; fresh docs admitted
    assert(got.contains(100L) && got.contains(200L))
    assert(!got.contains(1000L) && !got.contains(1001L) &&
      !got.contains(2000L) && !got.contains(3000L))
    // batch twin: same two-stage gate computed directly
    val stored = Dedup.loadSimHashIndex(spark, idxDir)
    def gate(idx: Dedup.SimHashIndex, batch: org.apache.spark.sql.DataFrame) = {
      val pairs = Dedup.simHashProbe(idx, batch, "doc_id", "text")
      val dup = pairs.select($"id_a".as("doc_id"))
        .unionByName(pairs.select($"id_b".as("doc_id"))).distinct()
      batch.join(dup, Seq("doc_id"), "left_anti")
    }
    val adm1 = gate(stored, drop0)
    val idx2 = stored.copy(banded = stored.banded.unionByName(
      Dedup.buildSimHashIndex(adm1.select($"doc_id", $"text"),
        "doc_id", "text", stored.maxHamming).banded))
    val expect = adm1.select($"doc_id")
      .unionByName(gate(idx2, drop1).select($"doc_id"))
      .as[Long].collect().toSet
    assert(got == expect)
    // at-least-once replay of committed batch 1
    val b1 = spark.read.parquet(s"$outPath/batch_id=1")
      .select($"doc_id").as[Long].collect().toSet
    DocumentStreams.simhashIngestBatch(spark, idxDir, outPath)(drop1, 1L)
    val b1After = spark.read.parquet(s"$outPath/batch_id=1")
      .select($"doc_id").as[Long].collect().toSet
    assert(b1After == b1 && b1.nonEmpty)
  }

  test("sketch ingest: merged streamed partitions ≡ bulk sketch; replay overwrites identically") {
    import graft.operators.Curation
    val docs = Tables(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("sketch_ingest").toString
    val landing = s"$base/landing"; new java.io.File(landing).mkdirs()
    val outPath = s"$base/out"
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(name).toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.copy(java.nio.file.Paths.get(part),
        java.nio.file.Paths.get(s"$landing/$name.parquet"))
    }
    val q = DocumentStreams.sketchIngest(spark, landing, outPath,
      s"$base/ckpt", maxFilesPerTrigger = Some(1))
    land(docs.filter($"doc_id" % 3 === 0), "drop_00"); q.processAllAvailable()
    land(docs.filter($"doc_id" % 3 =!= 0), "drop_01"); q.processAllAvailable()
    q.stop()
    val merged = DocumentStreams.loadSketch(spark, outPath)
      .as[(String, Int, Long)].collect().toSet
    val bulk = Curation.logHistSketch(
        docs.select($"lang",
          graft.functions.TextAnalysis.tokenCount($"text").cast("long").as("tok")),
        Seq("lang"), "tok")
      .as[(String, Int, Long)].collect().toSet
    assert(merged == bulk && bulk.nonEmpty)
    // replay: re-running a batch's reduction overwrites its partition
    // with identical rows (stateless), leaving the merge unchanged
    Curation.logHistSketch(
        docs.filter($"doc_id" % 3 === 0).select($"lang",
          graft.functions.TextAnalysis.tokenCount($"text").cast("long").as("tok")),
        Seq("lang"), "tok")
      .write.mode("overwrite").parquet(s"$outPath/batch_id=0")
    val afterReplay = DocumentStreams.loadSketch(spark, outPath)
      .as[(String, Int, Long)].collect().toSet
    assert(afterReplay == bulk)
  }

  test("hll ingest: merged streamed registers ≡ bulk sketch; replay overwrites identically") {
    import graft.operators.Curation
    val docs = Tables(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("hll_ingest").toString
    val landing = s"$base/landing"; new java.io.File(landing).mkdirs()
    val outPath = s"$base/out"
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(name).toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.copy(java.nio.file.Paths.get(part),
        java.nio.file.Paths.get(s"$landing/$name.parquet"))
    }
    val q = DocumentStreams.hllIngest(spark, landing, outPath,
      s"$base/ckpt", maxFilesPerTrigger = Some(1))
    land(docs.filter($"doc_id" % 3 === 0), "drop_00"); q.processAllAvailable()
    land(docs.filter($"doc_id" % 3 =!= 0), "drop_01"); q.processAllAvailable()
    q.stop()
    val merged = DocumentStreams.loadHll(spark, outPath)
      .as[(String, Int, Int)].collect().toSet
    val bulk = DocumentStreams.hllBatchRegisters(docs)
      .as[(String, Int, Int)].collect().toSet
    assert(merged == bulk && bulk.nonEmpty)
    // replay: registers are a pure function of batch content — the
    // re-executed batch overwrites its partition with identical rows
    DocumentStreams.hllBatchRegisters(docs.filter($"doc_id" % 3 === 0))
      .write.mode("overwrite").parquet(s"$outPath/batch_id=0")
    assert(DocumentStreams.loadHll(spark, outPath)
      .as[(String, Int, Int)].collect().toSet == bulk)
  }

  test("band ingest: near-dup gate vs corpus and earlier drops; replay-idempotent") {
    import graft.operators.Dedup
    def mkDocs(rows: Seq[(Long, String)]) =
      rows.map { case (id, tx) => (id, tx, "en", "syn", tx.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    def body(i: Int) = s"unique corpus narrative number $i about spark engines " +
      s"and data curation with several shared words in sequence $i"
    val corpus = mkDocs((0 until 30).map(i => (i.toLong, body(i))))
    // drop0: 5 fresh + 3 NEAR-dups of corpus texts (one word changed)
    val drop0 = mkDocs(
      (100 until 105).map(i => (i.toLong, s"entirely fresh drop zero story $i with its own distinct vocabulary stream $i")) ++
      (0 until 3).map(i => (1000L + i, body(i).replace("narrative", "account"))))
    // drop1: 4 fresh + 2 near-dups of DROP0 fresh texts + 1 of corpus
    val drop1 = mkDocs(
      (200 until 204).map(i => (i.toLong, s"later drop one chronicle $i carrying different tokens entirely batch $i")) ++
      (100 until 102).map(i => (2000L + i, s"entirely fresh drop zero story $i with its own distinct vocabulary river $i")) ++
      Seq((3000L, body(7).replace("narrative", "report"))))
    val base = java.nio.file.Files.createTempDirectory("band_ingest").toString
    val landing = s"$base/landing"; new java.io.File(landing).mkdirs()
    val idxDir = s"$base/bands"; val outPath = s"$base/out"
    Dedup.saveBandIndex(Dedup.buildBandIndex(corpus, "doc_id", "text"), idxDir)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(name).toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.copy(java.nio.file.Paths.get(part),
        java.nio.file.Paths.get(s"$landing/$name.parquet"))
    }
    val q = DocumentStreams.bandIngest(spark, landing, idxDir, outPath,
      s"$base/ckpt", maxFilesPerTrigger = Some(1))
    land(drop0, "drop_00"); q.processAllAvailable()
    land(drop1, "drop_01"); q.processAllAvailable()
    q.stop()
    // batch twin: admitted1 = drop0 minus probe hits vs the stored
    // index; admitted2 = drop1 minus probe hits vs stored ∪ admitted1
    val stored = Dedup.loadBandIndex(spark, idxDir)
    def gate(idx: Dedup.BandIndex, batch: org.apache.spark.sql.DataFrame) = {
      val pairs = Dedup.minHashLshProbe(idx, batch, "doc_id", "text")
      val dup = pairs.select($"id_a".as("doc_id"))
        .unionByName(pairs.select($"id_b".as("doc_id"))).distinct()
      batch.join(dup, Seq("doc_id"), "left_anti")
    }
    val adm1 = gate(stored, drop0)
    val idx2 = {
      val pr = Dedup.buildBandIndex(adm1.select($"doc_id", $"text"),
        "doc_id", "text", stored.shingleSize, stored.numHashes, stored.rowsPerBand)
      stored.copy(bands = stored.bands.unionByName(pr.bands),
        sets = stored.sets.unionByName(pr.sets))
    }
    val adm2 = gate(idx2, drop1)
    val expect = adm1.select($"doc_id").unionByName(adm2.select($"doc_id"))
      .as[Long].collect().toSet
    val got = spark.read.parquet(outPath).select($"doc_id").as[Long].collect().toSet
    assert(got == expect)
    // the planted structure actually exercised the gate: fresh admitted,
    // near-dups of corpus and of drop0 rejected
    assert(got.contains(100L) && got.contains(200L))
    assert(!got.contains(1000L) && !got.contains(2000L + 100) && !got.contains(3000L))
    // FULL at-least-once replay of committed batch 1: own partition on
    // disk, must reproduce identical rows (own partition excluded from
    // the re-derived prior side — else its rows would self-reject)
    val b1Before = spark.read.parquet(s"$outPath/batch_id=1")
      .select($"doc_id").as[Long].collect().toSet
    DocumentStreams.bandIngestBatch(spark, idxDir, outPath)(drop1, 1L)
    val b1After = spark.read.parquet(s"$outPath/batch_id=1")
      .select($"doc_id").as[Long].collect().toSet
    assert(b1After == b1Before && b1Before.nonEmpty)
    // OFFLINE COMPACTION (the documented between-runs step): absorb the
    // committed admitted drops into the stored index with
    // appendBandIndex — a fresh probe against the compacted stored
    // index must equal the in-run gate (stored ∪ re-derived drops)
    val admittedDocs = spark.read.parquet(outPath).select($"doc_id", $"text")
    val inRunIdx = {
      val pr = Dedup.buildBandIndex(admittedDocs, "doc_id", "text",
        stored.shingleSize, stored.numHashes, stored.rowsPerBand)
      stored.copy(bands = stored.bands.unionByName(pr.bands),
        sets = stored.sets.unionByName(pr.sets))
    }
    Dedup.appendBandIndex(spark, idxDir, admittedDocs, "doc_id", "text")
    val probeBatch = mkDocs(Seq(
      (9000L, body(3).replace("narrative", "chronicle")), // near-dups corpus
      (9001L, "entirely fresh drop zero story 101 with its own distinct vocabulary stream 101"), // dups an admitted drop doc
      (9002L, "wholly novel probe text with vocabulary shared by no earlier document at all")))
    def probePairs(idx: Dedup.BandIndex) =
      Dedup.minHashLshProbe(idx, probeBatch, "doc_id", "text")
        .as[(Long, Long, Double)].collect().toSet
    val compacted = probePairs(Dedup.loadBandIndex(spark, idxDir))
    assert(compacted == probePairs(inRunIdx))
    assert(compacted.exists(p => p._1 == 9000L || p._2 == 9000L))
    assert(compacted.exists(p => p._1 == 9001L || p._2 == 9001L))
    assert(!compacted.exists(p => p._1 == 9002L || p._2 == 9002L))
  }

  test("winnow ingest: partial-overlap gate vs corpus and earlier drops; replay-idempotent") {
    import graft.operators.Dedup
    def mkDocs(rows: Seq[(Long, String)]) =
      rows.map { case (id, tx) => (id, tx, "en", "syn", tx.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    def body(i: Int) = s"unique corpus narrative number $i about spark engines " +
      s"and data curation with several shared words in sequence $i"
    val corpus = mkDocs((0 until 30).map(i => (i.toLong, body(i))))
    // drop0: 5 fresh + 3 docs sharing a LONG RUN with corpus texts
    // (one word swapped — the partial-overlap case the winnow
    // guarantee is about: the ≥ w+k−1-token shared tail must select
    // ≥ 2 common fingerprints)
    val drop0 = mkDocs(
      (100 until 105).map(i => (i.toLong, s"entirely fresh drop zero story $i with its own distinct vocabulary stream $i")) ++
      (0 until 3).map(i => (1000L + i, body(i).replace("narrative", "account"))))
    // drop1: 4 fresh + 2 sharing the drop0-fresh PREFIX run + 1 corpus overlap
    val drop1 = mkDocs(
      (200 until 204).map(i => (i.toLong, s"later drop one chronicle $i carrying different tokens entirely batch $i")) ++
      (100 until 102).map(i => (2000L + i, s"entirely fresh drop zero story $i with its own distinct vocabulary river $i")) ++
      Seq((3000L, body(7).replace("narrative", "report"))))
    val base = java.nio.file.Files.createTempDirectory("winnow_ingest").toString
    val landing = s"$base/landing"; new java.io.File(landing).mkdirs()
    val idxDir = s"$base/winnow"; val outPath = s"$base/out"
    Dedup.saveWinnowIndex(Dedup.buildWinnowIndex(corpus, "doc_id", "text"),
      idxDir)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(name).toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.copy(java.nio.file.Paths.get(part),
        java.nio.file.Paths.get(s"$landing/$name.parquet"))
    }
    val q = DocumentStreams.winnowIngest(spark, landing, idxDir, outPath,
      s"$base/ckpt", maxFilesPerTrigger = Some(1))
    land(drop0, "drop_00"); q.processAllAvailable()
    land(drop1, "drop_01"); q.processAllAvailable()
    q.stop()
    // batch twin: admitted1 = drop0 minus winnow matches vs the stored
    // index; admitted2 = drop1 minus matches vs stored ∪ admitted1
    val stored = Dedup.loadWinnowIndex(spark, idxDir)
    def gate(idx: Dedup.WinnowIndex, batch: org.apache.spark.sql.DataFrame) = {
      val pairs = Dedup.winnowProbe(idx, batch, "doc_id", "text",
        minShared = 2L, maxDf = 50L)
      batch.join(pairs.select($"id_b".as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    }
    val adm1 = gate(stored, drop0)
    val idx2 = stored.copy(fps = stored.fps.unionByName(
      Dedup.buildWinnowIndex(adm1.select($"doc_id", $"text"),
        "doc_id", "text", stored.k, stored.w).fps))
    val adm2 = gate(idx2, drop1)
    val expect = adm1.select($"doc_id").unionByName(adm2.select($"doc_id"))
      .as[Long].collect().toSet
    val got = spark.read.parquet(outPath).select($"doc_id")
      .as[Long].collect().toSet
    assert(got == expect)
    // planted structure exercised: fresh admitted; long-run overlaps
    // with corpus and with drop0 admissions rejected
    assert(got.contains(100L) && got.contains(200L))
    assert(!got.contains(1000L) && !got.contains(2100L) && !got.contains(3000L))
    // FULL at-least-once replay of committed batch 1: own partition on
    // disk, must reproduce identical rows (own partition excluded from
    // the re-derived prior side — else its rows would self-reject)
    val b1Before = spark.read.parquet(s"$outPath/batch_id=1")
      .select($"doc_id").as[Long].collect().toSet
    DocumentStreams.winnowIngestBatch(spark, idxDir, outPath)(drop1, 1L)
    val b1After = spark.read.parquet(s"$outPath/batch_id=1")
      .select($"doc_id").as[Long].collect().toSet
    assert(b1After == b1Before && b1Before.nonEmpty)
  }

  test("a second committed winnow stream over the same drops compiles no new classes") {
    import graft.operators.{CompactionPolicy, Dedup}
    import org.apache.spark.metrics.source.CodegenMetrics
    def mkDocs(rows: Seq[(Long, String)]) =
      rows.map { case (id, tx) => (id, tx, "en", "syn", tx.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    def body(i: Int) = s"unique corpus narrative number $i about spark engines " +
      s"and data curation with several shared words in sequence $i"
    val corpus = mkDocs((0 until 20).map(i => (i.toLong, body(i))))
    val drops = Seq(
      mkDocs((100 until 104).map(i => (i.toLong, s"fresh drop story $i with its own vocabulary $i")) :+
        ((1000L, body(3).replace("narrative", "account")))),
      mkDocs((200 until 203).map(i => (i.toLong, s"later drop chronicle $i carrying other tokens $i"))))
    // each streaming query runs on a cloned session; the generated code
    // of one query's triggers must serve the next query's
    def ingest(): Unit = {
      val base = java.nio.file.Files.createTempDirectory("winnow_cstream").toString
      val landing = s"$base/landing"; new java.io.File(landing).mkdirs()
      val idxDir = s"$base/winnow"
      Dedup.saveWinnowIndexCommitted(
        Dedup.buildWinnowIndex(corpus, "doc_id", "text"), idxDir)
      val q = DocumentStreams.winnowIngestCommitted(spark, landing, idxDir,
        s"$base/ckpt", CompactionPolicy(maxRuns = 2), maxFilesPerTrigger = Some(1))
      try for ((d, i) <- drops.zipWithIndex) {
        val tmp = s"$base/stage$i"
        d.coalesce(1).write.parquet(tmp)
        val part = new java.io.File(tmp).listFiles().map(_.toString)
          .filter(_.endsWith(".parquet")).head
        java.nio.file.Files.copy(java.nio.file.Paths.get(part),
          java.nio.file.Paths.get(f"$landing/drop_$i%02d.parquet"))
        q.processAllAvailable()
      } finally q.stop()
    }
    ingest()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    ingest()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled)
  }

  private def winnowFixture() = {
    def mkDocs(rows: Seq[(Long, String)]) =
      rows.map { case (id, tx) => (id, tx, "en", "syn", tx.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    def body(i: Int) = s"unique corpus narrative number $i about spark engines " +
      s"and data curation with several shared words in sequence $i"
    val corpus = mkDocs((0 until 20).map(i => (i.toLong, body(i))))
    // two twins of corpus docs, three novel docs and one too short to
    // fingerprint
    val batch = mkDocs((100 until 103).map(i =>
        (i.toLong, s"fresh drop story $i with its own vocabulary $i")) ++
      Seq((1000L, body(3).replace("narrative", "account")), (1001L, body(7)),
        (1002L, "tiny")))
    (corpus, batch)
  }

  private def winnowStore(corpus: org.apache.spark.sql.DataFrame): String = {
    import graft.operators.Dedup
    val dir = java.nio.file.Files.createTempDirectory("winnow_trigger").toString
    Dedup.saveWinnowIndexCommitted(
      Dedup.buildWinnowIndex(corpus, "doc_id", "text"), dir)
    dir
  }

  private def storedFps(dir: String): Set[(Long, Long, Long)] =
    graft.operators.Dedup.loadWinnowIndexSnapshot(spark, dir).fps
      .as[(Long, Long, Long)].collect().toSet

  test("one committed winnow trigger: one fingerprinting, a driver probe, at most 5 jobs, one file") {
    import graft.operators.{CompactionPolicy, StoreFiles}
    val (corpus, batch) = winnowFixture()
    val dir = winnowStore(corpus)
    val files = StoreFiles.manifestPaths(spark, dir).size
    val noCompaction = CompactionPolicy(maxRuns = 100)
    // the gating probe, the pin of the admitted docs and the second
    // fingerprinting for the append ran 10 jobs
    val jobs = jobsOf(DocumentStreams.winnowIngestCommittedBatch(
      spark, dir, noCompaction)(batch, 0L))
    assert(jobs.size <= 5, s"jobs by SQL execution: $jobs")
    assert(StoreFiles.committedBatchIds(spark, dir) == Set(0L))
    assert(StoreFiles.manifestPaths(spark, dir).size == files + 1)
    // the twins are rejected, the novel docs admitted
    val ids = storedFps(dir).map(_._1)
    assert(Set(100L, 101L, 102L).subsetOf(ids) && !ids.contains(1000L) &&
      !ids.contains(1001L))
  }

  test("committed winnow trigger: driver and distributed probes, and a retry after a torn attempt, commit the same fps") {
    import graft.operators.{CompactionPolicy, Dedup, StoreFiles, Stores}
    val (corpus, batch) = winnowFixture()
    val policy = CompactionPolicy(maxRuns = 100)
    def ingest(budget: Long)(dir: String): String = {
      withConf("spark.sql.autoBroadcastJoinThreshold" -> budget.toString) {
        DocumentStreams.winnowIngestCommittedBatch(spark, dir, policy)(batch, 0L)
      }
      dir
    }
    val onDriver = storedFps(ingest(Long.MaxValue)(winnowStore(corpus)))
    assert(storedFps(ingest(-1L)(winnowStore(corpus))) == onDriver)
    // a torn first attempt: every fingerprint of the batch landed in the
    // store's directory, and no manifest row committed them
    val torn = winnowStore(corpus)
    Dedup.buildWinnowIndex(batch, "doc_id", "text").fps
      .write.mode("append").parquet(s"$torn/fps")
    assert(storedFps(torn) == storedFps(winnowStore(corpus)))
    assert(storedFps(ingest(Long.MaxValue)(torn)) == onDriver)
    assert(StoreFiles.committedBatchIds(spark, torn) == Set(0L))
    // the replay writes nothing
    val stamps = parquetStamps(s"$torn/fps")
    ingest(Long.MaxValue)(torn)
    assert(parquetStamps(s"$torn/fps") == stamps && Stores.winnow.gen(spark, torn) == 1L)
  }

  test("label ingest stream equals the batch lifecycle and replays idempotently") {
    import graft.operators.Dedup
    val docs = Tables(spark, sf, "documents")
    val corpus = docs.filter($"doc_id" % 10 =!= 0 && $"doc_id" % 10 =!= 5)
    val drop1 = docs.filter($"doc_id" % 10 === 0)
    val drop2 = docs.filter($"doc_id" % 10 === 5)
    val base = java.nio.file.Files.createTempDirectory("label_stream").toString

    def seed(store: String, idxDir: String): Unit = {
      val cPairs = Dedup.minHashLshPairs(corpus, "doc_id", "text")
        .select($"id_a", $"id_b")
      Dedup.saveLabelStore(
        Dedup.connectedComponents(corpus.select($"doc_id"), "doc_id",
          cPairs), store)
      Dedup.saveBandIndex(
        Dedup.buildBandIndex(corpus, "doc_id", "text"), idxDir)
    }

    // streaming lifecycle: two drops folded through labelIngestBatch
    val store = s"$base/store"; val idxDir = s"$base/bands"
    val out = s"$base/out"
    seed(store, idxDir)
    DocumentStreams.labelIngestBatch(spark, idxDir, store, out)(drop1.toDF(), 0L)
    DocumentStreams.labelIngestBatch(spark, idxDir, store, out)(drop2.toDF(), 1L)
    val streamed = DocumentStreams.resolvedStreamLabels(spark, store, out)
      .as[(Long, Long)].collect().toSet

    // batch lifecycle (q131's loop) over a second store: same labels
    val store2 = s"$base/store2"; val idx2 = s"$base/bands2"
    seed(store2, idx2)
    for (d <- Seq(drop1, drop2)) {
      val pairs = Dedup.minHashLshPairs(d, "doc_id", "text")
        .select($"id_a", $"id_b")
        .unionByName(Dedup.minHashLshProbe(
            Dedup.loadBandIndex(spark, idx2), d, "doc_id", "text")
          .select($"id_a", $"id_b"))
      Dedup.appendLabels(spark, store2, d.select($"doc_id"), "doc_id", pairs)
      Dedup.appendBandIndex(spark, idx2, d, "doc_id", "text")
    }
    val batch = Dedup.resolveLabels(spark, store2)
      .as[(Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.size.toLong == docs.count(),
      "every document must carry exactly one resolved label")

    // FULL at-least-once replay of committed batch 1: stored index, seed
    // labels, and earlier committed partitions are unchanged, own
    // partitions excluded from its inputs — the re-execution must
    // rewrite identical label and remap deltas and leave the resolved
    // view unchanged
    val labBefore = spark.read.parquet(s"$out/labels/batch_id=1")
      .as[(Long, Long)].collect().toSet
    val remBefore = spark.read.schema(Dedup.remapSchema)
      .parquet(s"$out/remap/batch_id=1").as[(Long, Long)].collect().toSet
    DocumentStreams.labelIngestBatch(spark, idxDir, store, out)(drop2.toDF(), 1L)
    val labAfter = spark.read.parquet(s"$out/labels/batch_id=1")
      .as[(Long, Long)].collect().toSet
    val remAfter = spark.read.schema(Dedup.remapSchema)
      .parquet(s"$out/remap/batch_id=1").as[(Long, Long)].collect().toSet
    assert(labAfter == labBefore && labBefore.nonEmpty)
    assert(remAfter == remBefore)
    val replayed = DocumentStreams.resolvedStreamLabels(spark, store, out)
      .as[(Long, Long)].collect().toSet
    assert(replayed == streamed)
  }

  test("curateAvailableNow drains the landing dir and equals the batch twin") {
    val base = java.nio.file.Files.createTempDirectory("curate_an").toString
    val curated = DocumentStreams.curateAvailableNow(
      spark, landingDir, s"$base/out", s"$base/ckpt")
    // compare on representative-INVARIANT facts only: the streaming dedup
    // keeps the first-arriving row per fp, so (fp, n_tokens, uniq_ratio)
    // are stable but source/doc_id are arrival-order dependent
    val streamed = curated.select($"fp", $"n_tokens")
      .as[(String, Long)].collect().toSet
    val batch = DocumentStreams.gateAndDedup(Tables(spark, sf, "documents"))
      .select($"fp", $"n_tokens").as[(String, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("ivf ingest: live-index serve ≡ batch append lifecycle; replay overwrites identically") {
    import graft.operators.Similarity
    val emb = Tables(spark, sf, "embeddings")
    val base = java.nio.file.Files.createTempDirectory("ivf_ingest").toString
    val landing = s"$base/landing"; new java.io.File(landing).mkdirs()
    val idxDir = s"$base/idx"; val out = s"$base/out"
    val seed = emb.filter($"vec_id" % 3 === 0)
    Similarity.saveIvfIndex(
      Similarity.buildIvfIndex(seed, "vec_id", "embedding"), idxDir)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(name).toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.copy(java.nio.file.Paths.get(part),
        java.nio.file.Paths.get(s"$landing/$name.parquet"))
    }
    val q = DocumentStreams.ivfIngest(spark, landing, idxDir, out,
      s"$base/ckpt", maxFilesPerTrigger = Some(1))
    land(emb.filter($"vec_id" % 3 === 1), "drop_00"); q.processAllAvailable()
    land(emb.filter($"vec_id" % 3 === 2), "drop_01"); q.processAllAvailable()
    q.stop()
    val queries = emb.filter($"vec_id" % 10 === 5)
    def rows(idx: Similarity.IvfIndex) =
      Similarity.ivfSearchIndex(queries, idx, "vec_id", "embedding", k = 5)
        .collect().map(_.toSeq).toSet
    val live = rows(DocumentStreams.liveIvfIndex(spark, idxDir, out))
    val idxDir2 = s"$base/idx2"
    Similarity.saveIvfIndex(
      Similarity.buildIvfIndex(seed, "vec_id", "embedding"), idxDir2)
    Similarity.appendIvfIndex(spark, idxDir2,
      emb.filter($"vec_id" % 3 === 1), "vec_id", "embedding")
    Similarity.appendIvfIndex(spark, idxDir2,
      emb.filter($"vec_id" % 3 === 2), "vec_id", "embedding")
    assert(live == rows(Similarity.loadIvfIndex(spark, idxDir2)) &&
      live.nonEmpty)
    val before = spark.read.parquet(s"$out/batch_id=0")
      .collect().map(_.toSeq).toSet
    DocumentStreams.ivfIngestBatch(spark, idxDir, out)(
      emb.filter($"vec_id" % 3 === 1), 0L)
    assert(spark.read.parquet(s"$out/batch_id=0")
      .collect().map(_.toSeq).toSet == before)
    assert(rows(DocumentStreams.liveIvfIndex(spark, idxDir, out)) == live)
  }

  test("semantic ivf ingest: eval-near vectors rejected at the door; " +
      "store holds exactly seed ∪ admitted; replay appends nothing") {
    import graft.operators.{CompactionPolicy, Similarity, StoreFiles}
    val emb = Tables(spark, sf, "embeddings")
    val base = java.nio.file.Files.createTempDirectory("semgate").toString
    val landing = s"$base/landing"; new java.io.File(landing).mkdirs()
    val idxDir = s"$base/idx"
    val evalSet = emb.filter($"vec_id" % 25 === 0)
    val seed = emb.filter($"vec_id" % 10 =!= 0 && $"vec_id" % 25 =!= 0)
    Similarity.saveIvfIndexCommitted(
      Similarity.buildIvfIndex(seed, "vec_id", "embedding"), idxDir)
    val policy = CompactionPolicy(maxRuns = 99)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(name).toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.copy(java.nio.file.Paths.get(part),
        java.nio.file.Paths.get(s"$landing/$name.parquet"))
    }
    val q = DocumentStreams.semanticIvfIngestCommitted(spark, landing,
      idxDir, s"$base/ckpt", evalSet, tau = 0.30, policy,
      maxFilesPerTrigger = Some(1))
    def drop(m: Int) = emb.filter(
      $"vec_id" % 20 === m && $"vec_id" % 25 =!= 0)
    land(drop(0), "drop_00"); q.processAllAvailable()
    land(drop(10), "drop_01"); q.processAllAvailable()
    q.stop()
    // the committed store holds EXACTLY seed ∪ (drops minus flagged) —
    // the gate's semantics pinned against the batch operator itself
    val flagged = Similarity.semanticContamination(
        drop(0).unionByName(drop(10)), evalSet, "vec_id", "embedding", 0.30)
      .select($"corpus_id").as[Long].collect().toSet
    assert(flagged.nonEmpty, "fixture gives the gate nothing to reject")
    val want = seed.select($"vec_id").as[Long].collect().toSet ++
      drop(0).unionByName(drop(10)).select($"vec_id").as[Long]
        .collect().toSet.diff(flagged)
    val stored = Similarity.loadIvfIndexSnapshot(spark, idxDir)
      .assignments.select($"neighbor_id").as[Long].collect().toSet
    assert(stored == want)
    assert(StoreFiles.committedBatchIds(spark, idxDir) == Set(0L, 1L))
    // a re-delivered trigger writes nothing — the ledger probe fires
    // before the gate's jobs
    DocumentStreams.semanticIvfIngestCommittedBatch(spark, idxDir,
      evalSet, 0.30, policy)(drop(0).toDF(), 0L)
    assert(Similarity.loadIvfIndexSnapshot(spark, idxDir)
      .assignments.select($"neighbor_id").as[Long].collect().toSet == stored)
  }

  test("pq ingest: live-index serve ≡ batch append lifecycle; replay overwrites identically") {
    import graft.operators.Similarity
    val emb = Tables(spark, sf, "embeddings")
    val base = java.nio.file.Files.createTempDirectory("pq_ingest").toString
    val landing = s"$base/landing"; new java.io.File(landing).mkdirs()
    val idxDir = s"$base/idx"; val out = s"$base/out"
    val seed = emb.filter($"vec_id" % 3 === 0)
    Similarity.savePqIndex(
      Similarity.buildPqIndex(seed, "vec_id", "embedding"), idxDir)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(name).toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.copy(java.nio.file.Paths.get(part),
        java.nio.file.Paths.get(s"$landing/$name.parquet"))
    }
    val q = DocumentStreams.pqIngest(spark, landing, idxDir, out,
      s"$base/ckpt", maxFilesPerTrigger = Some(1))
    land(emb.filter($"vec_id" % 3 === 1), "drop_00"); q.processAllAvailable()
    land(emb.filter($"vec_id" % 3 === 2), "drop_01"); q.processAllAvailable()
    q.stop()
    val queries = emb.filter($"vec_id" % 10 === 5)
    def rows(idx: Similarity.PqIndex) =
      Similarity.pqSearchIndex(queries, idx, "vec_id", "embedding", k = 5)
        .collect().map(_.toSeq).toSet
    val live = rows(DocumentStreams.livePqIndex(spark, idxDir, out))
    // the batch lifecycle over the same drops (q119's shape)
    val idxDir2 = s"$base/idx2"
    Similarity.savePqIndex(
      Similarity.buildPqIndex(seed, "vec_id", "embedding"), idxDir2)
    Similarity.appendPqIndex(spark, idxDir2,
      emb.filter($"vec_id" % 3 === 1), "vec_id", "embedding")
    Similarity.appendPqIndex(spark, idxDir2,
      emb.filter($"vec_id" % 3 === 2), "vec_id", "embedding")
    val batch = rows(Similarity.loadPqIndex(spark, idxDir2))
    assert(live == batch && live.nonEmpty)
    // replay: stateless trigger overwrites its own partition identically
    val before = spark.read.parquet(s"$out/batch_id=0")
      .collect().map(_.toSeq).toSet
    DocumentStreams.pqIngestBatch(spark, idxDir, out)(
      emb.filter($"vec_id" % 3 === 1), 0L)
    assert(spark.read.parquet(s"$out/batch_id=0")
      .collect().map(_.toSeq).toSet == before)
    assert(rows(DocumentStreams.livePqIndex(spark, idxDir, out)) == live)
  }

  test("agg ingest: live merged state ≡ bulk aggregate; replay overwrites identically") {
    import graft.operators.MatView
    val docs = Tables(spark, sf, "documents")
      .withColumn("tok", size(split($"text", " ")).cast("long"))
    val base = java.nio.file.Files.createTempDirectory("agg_ingest").toString
    val landing = s"$base/landing"; new java.io.File(landing).mkdirs()
    val mvDir = s"$base/mv"; val out = s"$base/out"
    MatView.saveAggState(
      MatView.buildAggState(docs.filter($"doc_id" % 3 === 0),
        Seq("lang", "source"), "tok"), mvDir)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(name).toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.copy(java.nio.file.Paths.get(part),
        java.nio.file.Paths.get(s"$landing/$name.parquet"))
    }
    val q = DocumentStreams.aggIngest(spark, landing, mvDir, out,
      s"$base/ckpt", maxFilesPerTrigger = Some(1))
    land(Tables(spark, sf, "documents").filter($"doc_id" % 3 === 1), "drop_00")
    q.processAllAvailable()
    land(Tables(spark, sf, "documents").filter($"doc_id" % 3 === 2), "drop_01")
    q.processAllAvailable()
    q.stop()
    def rows(st: MatView.AggState) =
      MatView.serveAgg(st)
        .as[(String, String, Long, Long, Long, Long, Long)].collect().toSet
    val live = rows(DocumentStreams.liveAggState(spark, mvDir, out))
    val bulk = rows(MatView.buildAggState(docs, Seq("lang", "source"), "tok"))
    assert(live == bulk && bulk.nonEmpty)
    // replay: stateless trigger overwrites its own partition identically
    val before = spark.read.parquet(s"$out/batch_id=0").collect().toSet
    DocumentStreams.aggIngestBatch(spark, mvDir, out)(
      Tables(spark, sf, "documents").filter($"doc_id" % 3 === 1), 0L)
    assert(spark.read.parquet(s"$out/batch_id=0").collect().toSet == before)
    assert(rows(DocumentStreams.liveAggState(spark, mvDir, out)) == bulk)
  }

  test("postings ingest: live-index serve ≡ in-flight bm25; replay overwrites identically") {
    import graft.operators.Retrieval
    val docs = Tables(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("postings_ingest").toString
    val landing = s"$base/landing"; new java.io.File(landing).mkdirs()
    val idxDir = s"$base/idx"; val out = s"$base/out"
    Retrieval.savePostingsIndex(
      Retrieval.buildPostingsIndex(
        docs.filter($"doc_id" % 10 =!= 0), "doc_id", "text"), idxDir)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(name).toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.copy(java.nio.file.Paths.get(part),
        java.nio.file.Paths.get(s"$landing/$name.parquet"))
    }
    val q = DocumentStreams.postingsIngest(spark, landing, idxDir, out,
      s"$base/ckpt", maxFilesPerTrigger = Some(1))
    land(docs.filter($"doc_id" % 20 === 0), "drop_00"); q.processAllAvailable()
    land(docs.filter($"doc_id" % 20 === 10), "drop_01"); q.processAllAvailable()
    q.stop()
    val queries = docs.filter($"doc_id" % 100 === 7)
      .select($"doc_id".as("qid"),
        array_distinct(slice(split($"text", " "), 1, 4)).as("qterms"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Int)].collect().toSet
    val served = rows(Retrieval.bm25SearchIndex(queries,
      DocumentStreams.livePostingsIndex(spark, idxDir, out),
      "qid", "qterms", k = 10))
    val bulk = rows(Retrieval.bm25TopK(docs, queries,
      "doc_id", "text", "qid", "qterms", k = 10))
    assert(served == bulk && bulk.nonEmpty)
    // replay: re-executing a committed trigger is stateless — it
    // overwrites the batch's own partitions with identical rows and the
    // serve result is unchanged (foreachBatch is at-least-once)
    val postingsBefore = spark.read.parquet(s"$out/postings/batch_id=0")
      .collect().toSet
    val statsBefore = spark.read.parquet(s"$out/stats/batch_id=0")
      .collect().toSet
    DocumentStreams.postingsIngestBatch(spark, idxDir, out)(
      docs.filter($"doc_id" % 20 === 0), 0L)
    assert(spark.read.parquet(s"$out/postings/batch_id=0")
      .collect().toSet == postingsBefore)
    assert(spark.read.parquet(s"$out/stats/batch_id=0")
      .collect().toSet == statsBefore)
    assert(rows(Retrieval.bm25SearchIndex(queries,
      DocumentStreams.livePostingsIndex(spark, idxDir, out),
      "qid", "qterms", k = 10)) == bulk)
  }

  test("positional ingest: live-index phrase serve ≡ in-flight; replay overwrites identically") {
    import graft.operators.Retrieval
    val docs = Tables(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("positional_ingest").toString
    val landing = s"$base/landing"; new java.io.File(landing).mkdirs()
    val idxDir = s"$base/idx"; val out = s"$base/out"
    Retrieval.savePositionalIndex(
      Retrieval.buildPositionalIndex(
        docs.filter($"doc_id" % 10 =!= 0), "doc_id", "text"), idxDir)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(name).toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.copy(java.nio.file.Paths.get(part),
        java.nio.file.Paths.get(s"$landing/$name.parquet"))
    }
    val q = DocumentStreams.positionalIngest(spark, landing, idxDir, out,
      s"$base/ckpt", maxFilesPerTrigger = Some(1))
    land(docs.filter($"doc_id" % 20 === 0), "drop_00"); q.processAllAvailable()
    land(docs.filter($"doc_id" % 20 === 10), "drop_01"); q.processAllAvailable()
    q.stop()
    val phrases = docs.filter($"doc_id" % 100 === 11 &&
        size(split($"text", " ")) >= 5)
      .select($"doc_id".as("pid"), slice(split($"text", " "), 3, 3).as("pterms"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    val served = rows(Retrieval.phraseSearchIndex(phrases,
      DocumentStreams.livePositionalIndex(spark, idxDir, out),
      "pid", "pterms"))
    val bulk = rows(Retrieval.phraseMatch(docs, phrases, "doc_id", "text",
      "pid", "pterms"))
    assert(served == bulk && bulk.nonEmpty)
    val before = spark.read.parquet(s"$out/postings/batch_id=0")
      .collect().toSet
    DocumentStreams.positionalIngestBatch(spark, idxDir, out)(
      docs.filter($"doc_id" % 20 === 0), 0L)
    assert(spark.read.parquet(s"$out/postings/batch_id=0")
      .collect().toSet == before)
    assert(rows(Retrieval.phraseSearchIndex(phrases,
      DocumentStreams.livePositionalIndex(spark, idxDir, out),
      "pid", "pterms")) == bulk)
  }

  test("drift ingest: merged streamed histograms ≡ bulk TVD report; replay overwrites identically") {
    import graft.operators.Curation
    val docs = Tables(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("drift_ingest").toString
    val landing = s"$base/landing"; new java.io.File(landing).mkdirs()
    val outPath = s"$base/out"
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(name).toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.copy(java.nio.file.Paths.get(part),
        java.nio.file.Paths.get(s"$landing/$name.parquet"))
    }
    val q = DocumentStreams.driftIngest(spark, landing, outPath,
      s"$base/ckpt", maxFilesPerTrigger = Some(1))
    land(docs.filter($"doc_id" % 3 === 0), "drop_00"); q.processAllAvailable()
    land(docs.filter($"doc_id" % 3 =!= 0), "drop_01"); q.processAllAvailable()
    q.stop()
    val report = Curation.driftTvdFromCounts(
        DocumentStreams.loadDriftCounts(spark, outPath), "source", 64)
      .as[(String, Long, Long)].collect().toSet
    val bulk = Curation.bucketDriftTvd(docs, "text", "source")
      .as[(String, Long, Long)].collect().toSet
    assert(report == bulk && bulk.nonEmpty)
    // replay: counts are a pure function of batch content — the
    // re-executed batch overwrites its partition with identical rows
    Curation.driftBucketCounts(docs.filter($"doc_id" % 3 === 0),
        "text", "source")
      .write.mode("overwrite").parquet(s"$outPath/batch_id=0")
    assert(Curation.driftTvdFromCounts(
        DocumentStreams.loadDriftCounts(spark, outPath), "source", 64)
      .as[(String, Long, Long)].collect().toSet == bulk)
    // absorb: every batch partition collapses into one merged base —
    // served counts identical, partition count down to one, checkpoint
    // cleared for the next run
    val before = DocumentStreams.loadDriftCounts(spark, outPath)
      .as[(String, Long, Long)].collect().toSet
    DocumentStreams.absorbDriftPartitions(spark, outPath, s"$base/ckpt")
    val partDirs = new java.io.File(outPath).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
    assert(partDirs.map(_.getName).toSeq == Seq("batch_id=-1"))
    assert(DocumentStreams.loadDriftCounts(spark, outPath)
      .as[(String, Long, Long)].collect().toSet == before)
    assert(!new java.io.File(s"$base/ckpt").exists())
  }

  test("count-min ingest: summed streamed cells ≡ bulk sketch; replay overwrites identically") {
    import graft.operators.Curation
    import org.apache.spark.sql.functions.{explode, split}
    val docs = Tables(spark, sf, "documents")
    val base = java.nio.file.Files.createTempDirectory("cm_ingest").toString
    val landing = s"$base/landing"; new java.io.File(landing).mkdirs()
    val outPath = s"$base/out"
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory(name).toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.copy(java.nio.file.Paths.get(part),
        java.nio.file.Paths.get(s"$landing/$name.parquet"))
    }
    def tokens(df: org.apache.spark.sql.DataFrame) =
      df.select(explode(split($"text", " ")).as("token"))
    val q = DocumentStreams.cmIngest(spark, landing, outPath,
      s"$base/ckpt", maxFilesPerTrigger = Some(1))
    land(docs.filter($"doc_id" % 3 === 0), "drop_00"); q.processAllAvailable()
    land(docs.filter($"doc_id" % 3 =!= 0), "drop_01"); q.processAllAvailable()
    q.stop()
    val live = DocumentStreams.loadCmCells(spark, outPath)
      .as[(Int, Int, Long)].collect().toSet
    val bulk = Curation.cmSketch(tokens(docs), "token").cells
      .as[(Int, Int, Long)].collect().toSet
    assert(live == bulk && bulk.nonEmpty)
    // estimates over the live sketch = estimates over the bulk sketch
    val probe = tokens(docs.filter($"doc_id" % 50 === 1)).distinct()
    val liveEst = Curation.cmEstimate(
        Curation.CmSketch(DocumentStreams.loadCmCells(spark, outPath), 4, 1024),
        probe, "token")
      .as[(String, Long)].collect().toSet
    assert(liveEst == Curation.cmEstimate(
        Curation.cmSketch(tokens(docs), "token"), probe, "token")
      .as[(String, Long)].collect().toSet && liveEst.nonEmpty)
    // replay: cells are a pure function of batch content
    Curation.cmSketch(tokens(docs.filter($"doc_id" % 3 === 0)), "token")
      .cells.write.mode("overwrite").parquet(s"$outPath/batch_id=0")
    assert(DocumentStreams.loadCmCells(spark, outPath)
      .as[(Int, Int, Long)].collect().toSet == bulk)
  }
}
