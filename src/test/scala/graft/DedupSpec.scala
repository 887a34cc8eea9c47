package graft

import graft.functions.TextAnalysis
import graft.operators.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "the quick brown fox jumps over the lazy dog today"), // near-dup of 1
    (3L, "completely different text about spark query engines here"),
    (4L, "the quick brown fox jumps over the lazy dog tonight") // exact dup of 1
  ).toDF("doc_id", "text")

  test("exactClusters finds the exact duplicate pair only") {
    val cl = Dedup.exactClusters(docs, "doc_id", TextAnalysis.fingerprint(col("text")))
      .select($"representative", $"dup_count").as[(Long, Long)].collect().toSeq
    assert(cl == Seq((1L, 2L)))
  }

  test("dedupExact keeps min-id representative") {
    val kept = Dedup.dedupExact(docs, "doc_id", TextAnalysis.fingerprint(col("text")))
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L))
  }

  test("ngramJaccardPairs finds exact and near dups, not unrelated docs") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 4L))) // identical → jaccard 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minHashLshPairs candidates verify to a subset of exact jaccard pairs") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
    val lsh = Dedup.minHashLshPairs(docs, "doc_id", "text", 3, 12, 2, 0.5)
      .select($"id_a", $"id_b", $"jaccard").as[(Long, Long, Double)].collect().toSet
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((1L, 4L, 1.0))) // identical docs always collide
  }

  test("simHash: identical docs equal, near-dups close, distinct docs far") {
    val h = Dedup.simHash(docs, "doc_id", "text").as[(Long, Long)].collect().toMap
    assert(h(1L) == h(4L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(h(1L), h(2L)) < hamming(h(1L), h(3L)))
  }

  test("simHashPairs returns exact-dup pair at hamming 0") {
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select($"id_a", $"id_b", $"hamming").as[(Long, Long, Int)].collect().toSet
    assert(pairs.contains((1L, 4L, 0)))
  }

  test("simHash band layout is pigeonhole-complete for any threshold") {
    for (h <- Seq(0, 3, 6, 10, 59)) {
      val layout = Dedup.simHashBandLayout(h)
      assert(layout.size == h + 1)
      assert(layout.map(_._2).sum == 60)
      assert(layout.forall(_._2 >= 1))
      // bands tile [0, 60) contiguously
      assert(layout.sliding(2).forall {
        case Seq((s1, w1), (s2, _)) => s2 == s1 + w1
        case _ => true
      })
    }
  }

  test("simHashPairs candidate recall is complete up to maxHamming (brute-force check)") {
    val h = Dedup.simHash(docs, "doc_id", "text").as[(Long, Long)].collect().toMap
    val brute = (for {
      a <- h.keys; b <- h.keys if a < b
      d = java.lang.Long.bitCount(h(a) ^ h(b)) if d <= 6
    } yield (a, b, d)).toSet
    val pairs = Dedup.simHashPairs(docs, "doc_id", "text", maxHamming = 6)
      .select($"id_a", $"id_b", $"hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(pairs == brute)
  }

  test("connectedComponents: chains, cliques and singletons label to the component min") {
    val nodes = (1L to 9L).toDF("id")
    // component {1,2,3,4} as a path (forces multi-round propagation),
    // component {5,6,7} as a triangle, {8} and {9} singletons
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (6L, 7L), (5L, 7L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(nodes, "id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 8L, 9L -> 9L))
  }

  test("connectedComponents converges on a long path graph in O(log n) rounds") {
    // a 300-node chain has eccentricity 299: plain min-label propagation
    // would need ~300 rounds and blow the maxIters budget — pointer
    // jumping must collapse it within ~log2(300)+slack rounds
    val n = 300L
    val nodes = (1L to n).toDF("id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // budget 0 forces the ITERATIVE path — the default budget would route
    // a 299-edge graph through the driver union-find and test nothing
    val got = Dedup.connectedComponents(nodes, "id", pairs, maxIters = 15,
        driverEdgeBudget = 0L)
      .as[(Long, Long)].collect()
    assert(got.length == n)
    assert(got.forall(_._2 == 1L), "every chain node must label to the min id")
  }

  test("connectedComponents: driver fast path and iterative path agree") {
    // mixed shapes (path + triangle + singletons) plus a seeded random
    // graph: the union-find fast path must produce the identical
    // min-id labeling the distributed loop converges to
    val rnd = new scala.util.Random(7)
    val nodes = (1L to 60L).toDF("id")
    val pairs = ((1L to 59L).filter(_ => rnd.nextBoolean())
      .map(i => (i, i + 1)) ++ Seq((3L, 41L), (10L, 50L)))
      .toDF("id_a", "id_b")
    val fast = Dedup.connectedComponents(nodes, "id", pairs)
      .as[(Long, Long)].collect().toMap
    val iter = Dedup.connectedComponents(nodes, "id", pairs,
        driverEdgeBudget = 0L)
      .as[(Long, Long)].collect().toMap
    assert(fast == iter)
  }

  test("connectedComponents: union-find labels every node at the hash table's resize counts") {
    // the driver path maps each attached node through find(), whose path
    // compression writes into the parent table; with 11 or 23 attached
    // nodes (one below a resize point of a 16- or 32-slot table) that
    // write grows the table under the key iterator. Disjoint pairs attach
    // one node each and a 4-node chain three.
    for (attached <- Seq(11, 23)) {
      val pairs = (1 to attached - 3).map(i => (10L * i, 10L * i + 1)) ++
        Seq((1000L, 1001L), (1001L, 1002L), (1002L, 1003L))
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct.toDF("id")
      val edges = pairs.toDF("id_a", "id_b")
      val fast = Dedup.connectedComponents(nodes, "id", edges)
        .as[(Long, Long)].collect().toMap
      val iter = Dedup.connectedComponents(nodes, "id", edges, driverEdgeBudget = 0L)
        .as[(Long, Long)].collect().toMap
      assert(fast == iter, s"$attached attached nodes")
    }
  }

  test("connectedComponents rejects non-integral id columns loudly") {
    // a string id would cast to null, drop every edge, and silently return
    // all-singletons — the operator must fail instead
    val nodes = Seq("a", "b").toDF("id")
    val pairs = Seq(("a", "b")).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(nodes, "id", pairs)
    }
    assert(e.getMessage.contains("integral id column"))
  }

  test("connectedComponents groups the exact/near dup docs, leaves the rest alone") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select($"id_a", $"id_b")
    val comp = Dedup.connectedComponents(docs.select($"doc_id"), "doc_id", pairs)
      .as[(Long, Long)].collect().toMap
    assert(comp(1L) == 1L && comp(2L) == 1L && comp(4L) == 1L) // dup cluster
    assert(comp(3L) == 3L) // unrelated doc is its own component
  }

  test("hot-shingle split is EXACT: tiny df-cap output equals uncapped output") {
    val corpus = Tables(spark, sf, "documents")
    val uncapped = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.5,
        maxShingleDf = Long.MaxValue)
      .as[(Long, Long, Double)].collect().toSet
    // cap of 2 forces nearly every prefix entry through the tiled hot path
    val capped = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 3, 0.5,
        maxShingleDf = 2, nTiles = 5)
      .as[(Long, Long, Double)].collect().toSet
    assert(uncapped.nonEmpty)
    assert(capped == uncapped,
      s"capped=${capped.size} uncapped=${uncapped.size}")
  }

  test("adversarial corpus (one shingle in every doc) completes without a quadratic bucket") {
    // every 4-word doc carries the universal shingle "alpha beta gamma"
    // IN ITS PREFIX (2 shingles, prefix = 2 at t = 0.5) — the inverted
    // index would put all 300 docs in one bucket; the tiled hot path must
    // spread it. Two planted duplicates must still be found, the random
    // tails must not pair.
    val adversarial = ((1 to 300).map(i => (i.toLong, s"alpha beta gamma u$i")) ++
      Seq((900L, "alpha beta gamma u77"))).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(adversarial, "doc_id", "text", 3, 0.5,
        maxShingleDf = 16)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((77L, 900L))) // the planted duplicate only
    // and the physical plan keeps the hot self-join keyed on tiles, not
    // a single-shingle hash bucket: the join keys include the tile ids
    val plan = Dedup.ngramJaccardPairs(adversarial, "doc_id", "text", 3, 0.5,
        maxShingleDf = 16)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ti") && plan.contains("tj"))
  }

  test("crossGroupDupMatrix counts unordered group pairs of exact dups") {
    import graft.functions.TextAnalysis
    val docs = Seq(
      (1L, "same text here", "web"), (2L, "same text here", "book"),
      (3L, "same text here", "web"), // web-web pair + two cross pairs
      (4L, "unique text", "web"), (5L, "other unique", "book")
    ).toDF("doc_id", "text", "source")
    val out = Dedup.crossGroupDupMatrix(docs, "doc_id", "source",
        TextAnalysis.fingerprint($"text"))
      .select($"grp_a", $"grp_b", $"n_pairs")
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // cluster {1,2,3}: pairs (1,2) book-web, (1,3) web-web, (2,3) book-web
    assert(out == Map(("book", "web") -> 2L, ("web", "web") -> 1L))
    // plan is a hash equi-join on the fingerprint — no cross product
    val plan = Dedup.crossGroupDupMatrix(docs, "doc_id", "source",
        TextAnalysis.fingerprint($"text"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("crossGroupDupMatrix caps a mega-cluster to a cluster-level report") {
    import graft.functions.TextAnalysis
    // adversarial: ONE fingerprint shared by all 500 docs (would emit
    // 500·499/2 pairs uncapped) + a small honest dup pair that must survive
    val docs = ((1 to 500).map(i =>
        (i.toLong, "boilerplate header text", if (i % 2 == 0) "web" else "book")) :+
      (1001L, "real dup", "web") :+ (1002L, "real dup", "book"))
      .toDF("doc_id", "text", "source")
    val fp = TextAnalysis.fingerprint($"text")
    val matrix = Dedup.crossGroupDupMatrix(docs, "doc_id", "source", fp,
        maxClusterSize = 50)
      .select($"grp_a", $"grp_b", $"n_pairs")
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // bounded output: only the honest pair, never the 124,750 mega rows
    assert(matrix == Map(("book", "web") -> 1L))
    val over = Dedup.crossGroupDupOversized(docs, "doc_id", "source", fp,
        maxClusterSize = 50)
      .select($"cluster_size", $"n_groups").as[(Long, Long)].collect().toSeq
    assert(over == Seq((500L, 2L)))
    // and with the cap above the cluster, pair counts are the uncapped ones
    val uncapped = Dedup.crossGroupDupMatrix(docs, "doc_id", "source", fp)
      .agg(sum($"n_pairs")).as[Long].head()
    assert(uncapped == 500L * 499 / 2 + 1)
  }

  test("minHashLshPairsAcross equals the full pair set restricted to cross pairs") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog today"),   // ~dup of 1
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // exact dup of 1, new side
      (20L, "completely different content with no overlap at all here"),
      (3L, "another unrelated document about sorting and shuffling data")
    ).toDF("doc_id", "text")
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val batch = docs.filter($"doc_id" % 10 === 0)
    val across = Dedup.minHashLshPairsAcross(corpus, batch, "doc_id", "text")
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val full = Dedup.minHashLshPairs(docs, "doc_id", "text")
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
      .filter { case (a, b) => (a % 10 == 0) != (b % 10 == 0) }.toSet
    assert(across == full)
    assert(across.contains((1L, 10L))) // the planted cross dup
    // within-side pairs must never form, even for the (1,2) near-dup
    assert(across.forall { case (a, b) => (a % 10 == 0) != (b % 10 == 0) })
  }

  test("dedupByComponentsBest keeps the max-score row per cluster, min id on ties") {
    val docs = Seq(
      (1L, "short", 5L), (2L, "longer", 9L), (4L, "also long", 9L), // cluster
      (3L, "solo", 7L)
    ).toDF("doc_id", "text", "score")
    val pairs = Seq((1L, 2L), (2L, 4L)).toDF("id_a", "id_b")
    val kept = Dedup.dedupByComponentsBest(docs, "doc_id", pairs, $"score")
      .select($"doc_id").as[Long].collect().toSet
    // cluster {1,2,4}: max score 9 held by 2 and 4 → min id 2 survives
    assert(kept == Set(2L, 3L))
    // min-id policy would have kept 1 — the two actions genuinely differ
    val minId = Dedup.dedupByComponents(docs, "doc_id", pairs)
      .select($"doc_id").as[Long].collect().toSet
    assert(minId == Set(1L, 3L))
  }

  test("band index save/load round trip probes to identical pairs") {
    val docs = Tables(spark, sf, "documents")
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val batch = docs.filter($"doc_id" % 10 === 0)
    val direct = Dedup.minHashLshPairsAcross(corpus, batch, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    val dir = java.nio.file.Files.createTempDirectory("band_idx").toString
    Dedup.saveBandIndex(
      Dedup.buildBandIndex(corpus, "doc_id", "text", numHashes = 12), dir)
    val loaded = Dedup.loadBandIndex(spark, dir)
    // parameters travel with the index
    assert((loaded.shingleSize, loaded.numHashes, loaded.rowsPerBand) == (3, 12, 2))
    val probed = Dedup.minHashLshProbe(loaded, batch, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(probed == direct)
    assert(probed.nonEmpty)
    // the stored layout prunes: bands/ is partitioned by band
    assert(new java.io.File(s"$dir/bands").listFiles()
      .exists(_.getName.startsWith("band=")))
  }

  test("appendBandIndex: K appends ≡ bulk rebuild; earlier files never touched") {
    val docs = Tables(spark, sf, "documents")
    val corpus = docs.filter($"doc_id" % 10 =!= 0 && $"doc_id" % 10 =!= 5)
    val drops = Seq(
      docs.filter($"doc_id" % 10 === 0),
      docs.filter($"doc_id" % 10 === 5))
    // re-keyed copies of corpus docs: ids disjoint from the index, text
    // identical → guaranteed jaccard-1 pairs against the index
    val probe = docs.filter($"doc_id" % 20 === 3)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    val dir = java.nio.file.Files.createTempDirectory("band_append").toString
    Dedup.saveBandIndex(Dedup.buildBandIndex(corpus, "doc_id", "text"), dir)
    for (d <- drops) {
      val before = parquetStamps(s"$dir/bands", s"$dir/sets")
      Dedup.appendBandIndex(spark, dir, d, "doc_id", "text")
      val after = parquetStamps(s"$dir/bands", s"$dir/sets")
      before.foreach { case (p, m) =>
        assert(after.contains(p), s"append removed $p")
        assert(after(p) == m, s"append rewrote $p")
      }
      assert(after.size > before.size, "append must add data files")
    }
    // probing the appended index == probing a bulk-built index over
    // corpus ∪ both drops (the append is only an incremental band build)
    val appended = Dedup.minHashLshProbe(Dedup.loadBandIndex(spark, dir),
        probe, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    val bulk = Dedup.minHashLshPairsAcross(
        corpus.unionByName(drops.reduce(_ unionByName _)), probe,
        "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(appended == bulk)
    assert(appended.nonEmpty, "the planted near-dups must surface")
  }

  test("minHashLshLabelPairs ≡ pairsFromIndex ∪ probeIndexed (fused single-verify form)") {
    val docs = Tables(spark, sf, "documents")
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val batch = docs.filter($"doc_id" % 10 === 0)
    val cIdx = Dedup.buildBandIndex(corpus, "doc_id", "text")
    val bIdx = Dedup.buildBandIndex(batch, "doc_id", "text")
    val twoCall = Dedup.minHashLshPairsFromIndex(bIdx)
      .select($"id_a", $"id_b")
      .unionByName(Dedup.minHashLshProbeIndexed(cIdx, bIdx)
        .select($"id_a", $"id_b"))
      .as[(Long, Long)].collect().toSet
    val fused = Dedup.minHashLshLabelPairs(cIdx, bIdx)
      .as[(Long, Long)].collect().toSet
    assert(fused == twoCall)
    assert(fused.nonEmpty, "split corpora must produce both pair kinds")
    // both kinds actually present: within (both ids % 10 == 0) and cross
    assert(fused.exists { case (a, b) => a % 10 == 0 && b % 10 == 0 })
    assert(fused.exists { case (a, b) => (a % 10 == 0) != (b % 10 == 0) })
  }

  test("appendBandIndexFrom ≡ appendBandIndex (probe parity, no rewrites, param guard)") {
    val docs = Tables(spark, sf, "documents")
    val corpus = docs.filter($"doc_id" % 10 =!= 0 && $"doc_id" % 10 =!= 5)
    val drop = docs.filter($"doc_id" % 10 === 0)
    val probe = docs.filter($"doc_id" % 20 === 3)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    val dirA = java.nio.file.Files.createTempDirectory("band_app_text").toString
    val dirB = java.nio.file.Files.createTempDirectory("band_app_from").toString
    val cIdx = Dedup.buildBandIndex(corpus, "doc_id", "text")
    Dedup.saveBandIndex(cIdx, dirA)
    Dedup.saveBandIndex(cIdx, dirB)
    Dedup.appendBandIndex(spark, dirA, drop, "doc_id", "text")
    val before = parquetStamps(s"$dirB/bands", s"$dirB/sets")
    Dedup.appendBandIndexFrom(spark, dirB,
      Dedup.buildBandIndex(drop, "doc_id", "text"))
    val after = parquetStamps(s"$dirB/bands", s"$dirB/sets")
    before.foreach { case (p, m) =>
      assert(after.contains(p) && after(p) == m, s"appendFrom touched $p")
    }
    assert(after.size > before.size, "appendFrom must add data files")
    def probed(dir: String) =
      Dedup.minHashLshProbe(Dedup.loadBandIndex(spark, dir), probe,
          "doc_id", "text")
        .as[(Long, Long, Double)].collect().toSet
    val a = probed(dirA)
    assert(a == probed(dirB) && a.nonEmpty)
    // a mismatched batch index must be refused, not silently appended
    intercept[IllegalArgumentException] {
      Dedup.appendBandIndexFrom(spark, dirB,
        Dedup.buildBandIndex(drop, "doc_id", "text", numHashes = 6))
    }
  }

  test("bloomGatedAntiJoin ≡ plain anti join, even saturated with false positives") {
    val rnd = new scala.util.Random(7)
    // batch keys half-overlap the corpus; duplicate rows per key in both
    val corpus = (0 until 400).map(i => (i.toLong, s"k${rnd.nextInt(300)}"))
      .toDF("row_id", "fp")
    val batch = (1000 until 1200).map(i => (i.toLong, s"k${rnd.nextInt(600)}"))
      .toDF("row_id", "fp")
    val plain = batch.join(corpus.select($"fp"), Seq("fp"), "left_anti")
      .select($"row_id", $"fp").as[(Long, String)].collect().toSet
    // mBits = 256 with k = 7 over 300 keys: bitmap saturated, nearly every
    // probe is bloom-positive — the exact-confirm stage must scrub them all
    val gatedTiny = Dedup.bloomGatedAntiJoin(batch, corpus, "fp", mBits = 256L)
      .select($"row_id", $"fp").as[(Long, String)].collect().toSet
    assert(gatedTiny == plain)
    // and at the default healthy sizing too
    val gated = Dedup.bloomGatedAntiJoin(batch, corpus, "fp")
      .select($"row_id", $"fp").as[(Long, String)].collect().toSet
    assert(gated == plain)
    assert(plain.nonEmpty && plain.size < 200, "split must be non-trivial")
  }

  test("bloom params are validated; shuffled fallback past the broadcast gate ≡ plain anti join") {
    val corpus = (0 until 100).map(i => (i.toLong, s"k$i")).toDF("row_id", "fp")
    val batch = (50 until 150).map(i => (i.toLong, s"k$i")).toDF("row_id", "fp")
    // mBits = 1 would divide by zero in the double-hash reduction
    intercept[IllegalArgumentException] {
      Dedup.bloomGatedAntiJoin(batch, corpus, "fp", mBits = 1L)
    }
    // mBits·kHashes overflowing Long would wrap h1 + i·h2 silently
    intercept[IllegalArgumentException] {
      Dedup.bloomGatedAntiJoin(batch, corpus, "fp", mBits = 1L << 62)
    }
    intercept[IllegalArgumentException] {
      Dedup.bloomGatedAntiJoin(batch, corpus, "fp", kHashes = 0)
    }
    // force the size gate OFF (every candidate set is "too big"): the
    // joins fall back to plain shuffled semi/anti and stay exact
    val shuffled = Dedup.bloomGatedAntiJoin(batch, corpus, "fp",
        maxBroadcastCandidates = 0L)
      .select($"row_id", $"fp").as[(Long, String)].collect().toSet
    val plain = batch.join(corpus.select($"fp"), Seq("fp"), "left_anti")
      .select($"row_id", $"fp").as[(Long, String)].collect().toSet
    assert(shuffled == plain && plain.nonEmpty)
  }

  test("bloom filter has no false negatives: every corpus key is a candidate") {
    val corpus = (0 until 500).map(i => (i.toLong, s"fp$i")).toDF("row_id", "fp")
    val words = Dedup.bloomBuild(corpus.select($"fp"), $"fp", mBits = 1L << 14)
    val cands = Dedup.bloomCandidates(corpus, "fp", words, mBits = 1L << 14)
      .as[String].collect().toSet
    assert((0 until 500).forall(i => cands.contains(s"fp$i")))
  }

  test("bloom index appends never rewrite files; loaded ≡ bulk-built filter") {
    val seed = (0 until 200).map(i => (i.toLong, s"k$i")).toDF("row_id", "fp")
    val drops = Seq(
      (200 until 300).map(i => (i.toLong, s"k$i")).toDF("row_id", "fp"),
      (300 until 400).map(i => (i.toLong, s"k$i")).toDF("row_id", "fp"))
    val batch = (0 until 600 by 3).map(i => (1000L + i, s"k$i")).toDF("row_id", "fp")
    val all = seed.unionByName(drops.head).unionByName(drops.last)
    val dir = java.nio.file.Files.createTempDirectory("bloom_append").toString
    Dedup.saveBloomIndex(
      Dedup.buildBloomIndex(seed, "fp", mBits = 1L << 14), dir)
    for (d <- drops) {
      val before = parquetStamps(s"$dir/words")
      Dedup.appendBloomIndex(spark, dir, d, "fp")
      val after = parquetStamps(s"$dir/words")
      before.foreach { case (p, m) =>
        assert(after.contains(p) && after(p) == m, s"append touched $p")
      }
      assert(after.size > before.size, "append must add data files")
    }
    val loaded = Dedup.loadBloomIndex(spark, dir)
    assert(loaded.mBits == (1L << 14) && loaded.kHashes == 7)
    // loaded (seed + 2 appends) word rows ≡ one bulk build over the union
    val bulk = Dedup.bloomBuild(all.select($"fp"), $"fp", mBits = 1L << 14)
      .as[(Long, Long)].collect().toSet
    assert(loaded.words.as[(Long, Long)].collect().toSet == bulk)
    // and the indexed gate still equals the plain anti join
    val gated = Dedup.bloomGatedAntiJoinIndexed(loaded, batch, all, "fp")
      .select($"row_id").as[Long].collect().toSet
    val plain = batch.join(all.select($"fp"), Seq("fp"), "left_anti")
      .select($"row_id").as[Long].collect().toSet
    assert(gated == plain && plain.nonEmpty)
  }

  test("label store: merges remap, chains resolve, appends never touch files, ≡ bulk flood") {
    import org.apache.spark.sql.DataFrame
    val dir = java.nio.file.Files.createTempDirectory("label_store").toString
    def ids(xs: Long*): DataFrame = xs.toDF("doc_id")
    def edges(ps: (Long, Long)*): DataFrame = ps.toDF("id_a", "id_b")
    // seed: {2}, {3} as singletons
    Dedup.saveLabelStore(
      Dedup.connectedComponents(ids(2L, 3L), "doc_id", edges()), dir)
    // inc1: 10 joins 3's component — labels row only, no remap
    Dedup.appendLabels(spark, dir, ids(10L), "doc_id", edges((10L, 3L)))
    // inc2: 1 joins {3,10} — the component's min drops to 1: remap 3→1
    val before = parquetStamps(s"$dir/labels", s"$dir/remap")
    Dedup.appendLabels(spark, dir, ids(1L), "doc_id", edges((1L, 3L)))
    val after = parquetStamps(s"$dir/labels", s"$dir/remap")
    before.foreach { case (p, m) =>
      assert(after.contains(p) && after(p) == m, s"append touched $p")
    }
    assert(after.size > before.size)
    // inc3: 0 joins via 1 — remap 1→0; id 10 now resolves 3→1→0 (chain of 2)
    Dedup.appendLabels(spark, dir, ids(0L), "doc_id", edges((0L, 1L)))
    val got = Dedup.resolveLabels(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 2L, 3L -> 0L, 10L -> 0L))
    // ≡ one bulk flood over all ids and all edges ever seen
    val bulk = Dedup.connectedComponents(ids(0L, 1L, 2L, 3L, 10L), "doc_id",
        edges((10L, 3L), (1L, 3L), (0L, 1L)))
      .as[(Long, Long)].collect().toMap
    assert(got == bulk)
    // compaction squashes the chains into labels and empties remap; the
    // resolved view is unchanged and later increments keep working
    Dedup.compactLabelStore(spark, dir)
    assert(spark.read.parquet(s"$dir/remap").count() == 0)
    val compacted = Dedup.resolveLabels(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(compacted == got)
    Dedup.appendLabels(spark, dir, ids(7L), "doc_id", edges((7L, 2L)))
    val afterMore = Dedup.resolveLabels(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(afterMore == got ++ Map(7L -> 2L))
  }

  test("resolveLabelChains: driver-closure path equals the forced-iterative path") {
    val labels = Seq((10L, 9L), (11L, 9L), (20L, 7L), (30L, 5L), (40L, 40L))
      .toDF("id", "label")
    // chains: 9→7→5→3 (length 3), 40 untouched, 5→3 (length 1)
    val remap = Seq((9L, 7L), (7L, 5L), (5L, 3L)).toDF("old_label", "new_label")
    val fast = Dedup.resolveLabelChains(labels, remap)
      .as[(Long, Long)].collect().toMap
    val iterative = Dedup.resolveLabelChains(labels, remap,
        driverRemapBudget = 0L)
      .as[(Long, Long)].collect().toMap
    assert(fast == iterative)
    assert(fast == Map(10L -> 3L, 11L -> 3L, 20L -> 3L, 30L -> 3L, 40L -> 40L))
    // both paths enforce the chain bound with the same failure
    intercept[IllegalArgumentException] {
      Dedup.resolveLabelChains(labels, remap, maxChain = 2)
        .as[(Long, Long)].collect()
    }
    intercept[IllegalArgumentException] {
      Dedup.resolveLabelChains(labels, remap, maxChain = 2,
          driverRemapBudget = 0L)
        .as[(Long, Long)].collect()
    }
  }

  test("simhash index: appends never touch files; probe of appended index is EXACT") {
    val corpus = Tables(spark, sf, "documents")
    val seed = corpus.filter($"doc_id" % 10 =!= 0 && $"doc_id" % 10 =!= 5)
    val drops = Seq(
      corpus.filter($"doc_id" % 10 === 0),
      corpus.filter($"doc_id" % 10 === 5))
    // re-keyed copies: ids disjoint from the index, text identical →
    // guaranteed hamming-0 pairs against the index
    val probe = corpus.filter($"doc_id" % 20 === 3)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    val dir = java.nio.file.Files.createTempDirectory("simhash_append").toString
    Dedup.saveSimHashIndex(
      Dedup.buildSimHashIndex(seed, "doc_id", "text", maxHamming = 6), dir)
    for (d <- drops) {
      val before = parquetStamps(s"$dir/banded")
      Dedup.appendSimHashIndex(spark, dir, d, "doc_id", "text")
      val after = parquetStamps(s"$dir/banded")
      before.foreach { case (p, m) =>
        assert(after.contains(p) && after(p) == m, s"append touched $p")
      }
      assert(after.size > before.size, "append must add data files")
    }
    val loaded = Dedup.loadSimHashIndex(spark, dir)
    assert(loaded.maxHamming == 6)
    val probed = Dedup.simHashProbe(loaded, probe, "doc_id", "text")
      .as[(Long, Long, Int)].collect().toSet
    // the pigeonhole-banding losslessness contract: probe ≡ the exact
    // cross-side hamming filter over corpus ∪ both drops
    val all = seed.unionByName(drops.reduce(_ unionByName _))
    val idxSide = Dedup.simHash(all, "doc_id", "text")
      .select($"id".as("cid"), $"simhash".as("ch"))
    val probeSide = Dedup.simHash(probe, "doc_id", "text")
      .select($"id".as("nid"), $"simhash".as("nh"))
    val exact = probeSide.crossJoin(idxSide)
      .select(least($"nid", $"cid").as("id_a"),
        greatest($"nid", $"cid").as("id_b"),
        bit_count($"nh".bitwiseXOR($"ch")).as("hamming"))
      .filter($"hamming" <= 6)
      .as[(Long, Long, Int)].collect().toSet
    assert(probed == exact)
    assert(probed.nonEmpty, "the planted exact copies must surface")
  }

  test("containmentPairs: directional subset duplication found, Jaccard " +
      "blind to it; hot-path tiling exact") {
    // doc 1 is pasted verbatim inside doc 2 (which is 4x longer), so
    // C(1->2) = 1.0 while Jaccard(1,2) ~ 0.25 — the pair symmetric
    // dedup misses by construction
    val small = (1 to 8).map(i => s"tok$i").mkString(" ")
    val big = small + " " + (9 to 32).map(i => s"pad$i").mkString(" ")
    val other = (1 to 20).map(i => s"zzz$i").mkString(" ")
    val docs = Seq((1L, small), (2L, big), (3L, other)).toDF("doc_id", "text")

    val got = Dedup.containmentPairs(docs, "doc_id", "text",
        n = 3, thresholdMicro = 800000L)
      .as[(Long, Long, Long)].collect().toSet
    assert(got.contains((1L, 2L, 1000000L)),
      s"subset direction 1->2 must be found: $got")
    assert(!got.exists(p => p._1 == 2L && p._2 == 1L),
      s"2->1 direction must miss the 0.8 cut (big is not inside small): $got")
    assert(!got.exists(p => p._1 == 3L || p._2 == 3L))
    // the symmetric operator at the same cut is blind to the pair
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 2L)))
    // brute-force every ordered pair: the prefix filter is exact
    val sets = Dedup.shingleSets(docs, "doc_id", "text", 3)
    val brute = sets.select($"id".as("id_a"), $"shset".as("sa"))
      .crossJoin(sets.select($"id".as("id_b"), $"shset".as("sb")))
      .filter($"id_a" =!= $"id_b")
      .select($"id_a", $"id_b", expr(
        "(CAST(size(array_intersect(sa, sb)) AS BIGINT) * 1000000L)" +
          " div CAST(size(sa) AS BIGINT)").as("cm"))
      .filter($"cm" >= 800000L)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == brute)
    // forcing every shingle through the hot tile grid changes nothing
    val hot = Dedup.containmentPairs(docs, "doc_id", "text",
        n = 3, thresholdMicro = 800000L, maxShingleDf = 0, nTiles = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(hot == brute)
  }
}
