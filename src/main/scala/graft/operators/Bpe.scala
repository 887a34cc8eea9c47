package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding VOCABULARY TRAINING (Sennrich, Haddow & Birch,
  * "Neural Machine Translation of Rare Words with Subword Units", ACL
  * 2016) — the one standard LLM-pipeline preprocessing operator the
  * engine lacked: q96's token-fertility row PRESUMES a tokenizer; this
  * LEARNS one. Extension surface: the reference has nothing of the
  * kind.
  *
  * The classic algorithm is an iterative count-merge-recount: start
  * from characters, repeatedly find the most frequent ADJACENT symbol
  * pair in the current segmentation and merge it, k times; the ranked
  * merge list IS the trained tokenizer. Re-expressed in the engine's
  * integer-relational discipline:
  *
  *   - state is the WORD-FREQUENCY relation (word, freq, seg) — one
  *     groupBy over the corpus tokens builds it, and every later round
  *     works on the VOCABULARY, never the corpus (at 100 TB the corpus
  *     is petabytes; its vocabulary is millions of rows);
  *   - one round = one pair-count aggregation (weighted by freq,
  *     map-side combined) + ONE top-1 collect (the bounded
  *     driver-literal pattern: a single (a, b) row) + one string-map
  *     merge application; k rounds unroll like the q182 MMR steps;
  *   - counts are exact integers and the argmax tiebreak is the total
  *     order (count desc, a asc, b asc), so the learned table is
  *     bit-deterministic in any engine.
  *
  * SEGMENTATION REPRESENTATION — the part that makes the merge step a
  * single codegen'd `replace`: a segmentation is a STRING of wrapped
  * symbols `⟨sym⟩⟨sym⟩…` with ⟨ = \u0001 and ⟩ = \u0002. Merging pair
  * (a, b) is then `replace(seg, "⟨a⟩⟨b⟩", "⟨ab⟩")`:
  *
  *   - the wrappers make matches ALIGN to symbol boundaries (a search
  *     for ⟨a⟩⟨b⟩ cannot start or end inside a longer symbol — ⟨xa⟩⟨b⟩
  *     and ⟨a⟩⟨bc⟩ don't match), the bug a space-joined form has;
  *   - `replace` scans left-to-right non-overlapping, which IS the BPE
  *     merge convention: ⟨a⟩⟨a⟩⟨a⟩ under (a,a) → ⟨aa⟩⟨a⟩;
  *   - DuckDB's `replace` has identical semantics, so the oracle
  *     replays the learned table as k nested replace() calls — the
  *     trained-literal discipline (dsir/centroid pattern) applied to a
  *     learned VOCABULARY.
  *
  * Pair COUNTING deliberately counts overlapping pairs (⟨a⟩⟨a⟩⟨a⟩
  * contributes (a,a) twice — the reference implementation's
  * zip(word, word[1:]) does the same); merge APPLICATION is
  * non-overlapping. Corpus contract: text must not contain \u0001 or
  * \u0002 (they are the symbol delimiters); real pipelines strip
  * control characters in the clean stage anyway.
  */
object Bpe {

  private val Open = "\u0001"
  private val Close = "\u0002"

  /** One learned merge: rank is 0-based training order; `a`/`b` the
    * merged pair, `ab` the resulting symbol.
    */
  final case class Merge(rank: Int, a: String, b: String)

  /** The word-frequency relation with the initial character
    * segmentation — the ONLY corpus-sized pass of training.
    */
  def initialVocab(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("seg",
        regexp_replace(col("word"), "(.)", s"$Open$$1$Close"))

  /** The wrapped-symbol string as an ARRAY of symbols (for pair
    * counting): strip the outer wrappers, split on the inner `⟩⟨`
    * boundary.
    */
  private def symbols(seg: org.apache.spark.sql.Column) =
    split(regexp_replace(seg, s"^$Open|$Close$$", ""), s"$Close$Open")

  /** Adjacent symbol pairs of a segmentation (overlapping, the
    * counting convention). NULL for single-symbol words — explode
    * drops nulls, so they simply contribute no pairs.
    */
  private def adjacentPairs(seg: org.apache.spark.sql.Column) = {
    val syms = symbols(seg)
    F.when(size(syms) >= 2,
      transform(sequence(lit(0), size(syms) - 2),
        i => struct(element_at(syms, i + 1).as("a"),
          element_at(syms, i + 2).as("b"))))
  }

  /** Apply one merge to a segmentation string — a single codegen'd
    * string replace, boundary-aligned by the wrappers.
    */
  def applyMerge(seg: org.apache.spark.sql.Column,
      a: String, b: String): org.apache.spark.sql.Column =
    F.replace(seg, lit(s"$Open$a$Close$Open$b$Close"),
      lit(s"$Open$a$b$Close"))

  /** Train `nMerges` BPE merges on the corpus. Stops early when no
    * pair reaches `minCount`. Returns the ranked merge table (bounded:
    * k rows on the driver — the trained-literal contract).
    *
    * Scale shape: one corpus-sized groupBy builds the vocab; each
    * round is one vocab-sized pair aggregation + a TOP-1 collect + a
    * map-side replace, with the vocab localCheckpoint'ed per round so
    * the plan stays one step deep (the [[Graph.pageRank]] iteration
    * discipline). Driver state: exactly one (a, b, count) row per
    * round. Vocabularies within `driverVocabBudget` rows take the
    * bit-identical driver path (see [[trainBatchedCounted]]); 0
    * forces the distributed loop.
    */
  def train(docs: DataFrame, textCol: String, nMerges: Int,
      minCount: Long = 2L, driverVocabBudget: Long = 1L << 20): Seq[Merge] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    var vocab = initialVocab(docs, textCol).localCheckpoint()
    val n = vocab.count()
    if (n <= driverVocabBudget) {
      // classic training IS batched training with batchSize=1 (the
      // spec-pinned identity), so the small-vocab path is shared
      System.err.println(s"[bpe] path=driver vocab=$n (budget $driverVocabBudget)")
      val out = trainDriver(collectVocab(vocab), nMerges, batchSize = 1,
        minCount, overfetch = 1)._1
      vocab.unpersist(blocking = false)
      return out
    }
    System.err.println(s"[bpe] path=distributed vocab=$n (budget $driverVocabBudget)")
    var pinned = vocab // the last checkpointed relation (freed on advance)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var rank = 0
    var done = false
    while (rank < nMerges && !done) {
      val top = vocab
        .select(col("freq"), explode(adjacentPairs(col("seg"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("c"))
        .filter(col("c") >= minCount)
        .orderBy(col("c").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += Merge(rank, a, b)
        vocab = vocab.withColumn("seg", applyMerge(col("seg"), a, b))
        rank += 1
        // re-materialize every 4th round, not every round: unapplied
        // merges are cheap stacked replace() projections on top of the
        // last checkpoint (≤ 3 deep). LAZY checkpoint — the boundary
        // truncates the plan now, materialization rides the next
        // round's collect — keeps training at ~1 job per round.
        // Results are bit-identical either way.
        if (rank % 4 == 0) {
          val prev = pinned
          vocab = vocab.localCheckpoint(false)
          pinned = vocab
          prev.unpersist(blocking = false)
        }
      }
    }
    pinned.unpersist(blocking = false)
    merges.toSeq
  }

  /** BATCHED BPE training — the SentencePiece-style speedup: per round,
    * take the top-`batchSize` pairs of ONE pair count and accept the
    * ranked prefix that is CONFLICT-FREE (no accepted pair shares a
    * symbol with an earlier accepted pair, nor touches a symbol an
    * earlier acceptance just created), then apply the whole batch and
    * recount once. Disjoint symbols mean the batch's replaces cannot
    * overlap on any occurrence, so applying them in rank order inside
    * one round ≡ applying them simultaneously — the merge table stays a
    * valid, deterministic BPE tokenizer (exact counts, the
    * (count desc, a, b) total order, a bounded `4·batchSize` candidate
    * collect per round).
    *
    * This is a DIFFERENT (published) training variant, not a fast path
    * to [[train]]'s answer: classic BPE recounts after every merge, so
    * from rank 2 on the argmax may differ (a batch cannot see pairs
    * involving symbols it creates until the next round — BpeSpec pins
    * `batchSize = 1` ≡ [[train]] exactly, and pins the round count of
    * the batched run at ~k/batchSize). The payoff at vocabulary scale:
    * a 32k-merge training drops from 32k vocab recounts to ~32k/m.
    *
    * `overfetch` sizes the ranked candidate list per recount
    * (`batchSize × overfetch` rows collected — still bounded driver
    * literals). On symbol-dense corpora (ID-like strings where every
    * early pair shares a digit symbol) the conflict filter thins the
    * list hard, and a deeper overfetch is what keeps per-round
    * acceptance near the batch size; 4 is plenty for natural text.
    */
  def trainBatched(docs: DataFrame, textCol: String, nMerges: Int,
      batchSize: Int, minCount: Long = 2L, overfetch: Int = 4,
      driverVocabBudget: Long = 1L << 20): Seq[Merge] =
    trainBatchedCounted(docs, textCol, nMerges, batchSize, minCount,
      overfetch, driverVocabBudget)._1

  /** [[trainBatched]] that also reports its RECOUNT-ROUND count — the
    * number the batching exists to compress (classic training = one
    * recount per merge; batched ≈ nMerges / batchSize, inflated only
    * by conflict thinning). Catalog rows pin it so the at-scale claim
    * ("32k merges in ~k/batch recounts") stays a measured fact.
    *
    * SMALL-VOCAB DRIVER PATH (the [[Dedup.connectedComponents]]
    * driver-union-find idiom applied here): the corpus-sized work is
    * the ONE vocab groupBy; every round after is vocab-sized, and an
    * iterative distributed loop pays ~1 scheduled job per recount
    * regardless of data size. When the vocab fits
    * `driverVocabBudget` rows it is collected once and the rounds run
    * in driver memory — BIT-IDENTICAL merges (same exact counts, the
    * same (count desc, a, b) total order with strings compared as
    * UTF-8 bytes, the same overfetch truncation and conflict filter,
    * the same left-to-right non-overlapping apply) — else the
    * distributed loop runs. One stderr line names the path taken
    * (bench logs must prove which path a measurement measured). Set
    * the budget to 0 to force the distributed loop.
    *
    * The DISTRIBUTED loop maintains the PAIR-COUNT RELATION ACROSS
    * ROUNDS instead of recounting the vocabulary: counts(t+1) =
    * counts(t) + delta, where the delta aggregates only the AFFECTED
    * words — those whose segmentation contains one of the round's
    * merge patterns. Soundness of the filter: batch merges are
    * symbol-disjoint, and a merge replaces two symbols with one NEW
    * symbol, so it can neither create an occurrence of another
    * accepted pattern (the new symbol is not that pattern's a or b,
    * and the pattern's own symbols never become newly adjacent — the
    * merged symbol sits between them) nor destroy one (it cannot
    * consume the other pattern's symbols); a word without any pattern
    * has a zero pair delta. Per-round cost: a TakeOrdered scan of the
    * cached counts relation, a predicate scan of the cached vocab, an
    * affected-sized aggregation, and a co-partitioned full-outer fold
    * into counts (the counts side is checkpoint-pinned hash(a, b) —
    * only the delta moves). Deltas are exact integers, so the
    * maintained relation EQUALS the full recount and the learned
    * table is bit-identical on every path (BpeSpec).
    */
  def trainBatchedCounted(docs: DataFrame, textCol: String, nMerges: Int,
      batchSize: Int, minCount: Long = 2L,
      overfetch: Int = 4, driverVocabBudget: Long = 1L << 20): (Seq[Merge], Int) = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(overfetch >= 1, s"overfetch must be >= 1, got $overfetch")
    var vocab = initialVocab(docs, textCol).localCheckpoint()
    val n = vocab.count()
    if (n <= driverVocabBudget) {
      System.err.println(s"[bpe] path=driver vocab=$n (budget $driverVocabBudget)")
      // the INDEXED loop: bit-identical table, O(affected words) per
      // merge instead of O(vocab) — what makes 32k-merge tables train
      // in seconds (q243) rather than hours
      val out = trainDriverIndexed(collectVocab(vocab), nMerges, batchSize,
        minCount, overfetch)
      vocab.unpersist(blocking = false)
      return out
    }
    System.err.println(
      s"[bpe] path=distributed-incremental vocab=$n (budget $driverVocabBudget)")
    def pairsOf(df: DataFrame): DataFrame = df
      .select(col("freq"), explode(adjacentPairs(col("seg"))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("freq")).as("c"))
    // the cached-across-rounds relation: hash(a, b) partitioning is
    // pinned by the checkpoint, so each round's fold moves only the
    // delta (counts below minCount are RETAINED — a merge elsewhere
    // can push them back up; the floor applies at selection time only)
    var counts = pairsOf(vocab).localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var rounds = 0
    var done = false
    // retire windows for the LAZY checkpoints: generation g
    // materializes at round g+1's collect, READING generation g-1's
    // cache — so a superseded generation is freed only once the
    // collect frontier has moved two rounds past it (freeing earlier
    // would destroy data a locally-checkpointed child still needs)
    val retireV = scala.collection.mutable.Queue.empty[DataFrame]
    val retireC = scala.collection.mutable.Queue.empty[DataFrame]
    while (merges.size < nMerges && !done) {
      val want = math.min(batchSize, nMerges - merges.size)
      // overfetch: the conflict filter thins the ranked list; the
      // first candidate is always conflict-free, so a non-empty count
      // always advances (no livelock)
      val top = counts
        .filter(col("c") >= minCount)
        .orderBy(col("c").desc, col("a").asc, col("b").asc)
        .limit(want * overfetch).collect()
      while (retireV.size > 1) retireV.dequeue().unpersist(blocking = false)
      while (retireC.size > 1) retireC.dequeue().unpersist(blocking = false)
      if (top.isEmpty) done = true
      else {
        rounds += 1
        val used = scala.collection.mutable.Set.empty[String]
        val batch = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        val it = top.iterator
        while (batch.size < want && it.hasNext) {
          val r = it.next()
          val (a, b) = (r.getString(0), r.getString(1))
          if (!used(a) && !used(b)) {
            batch += ((a, b))
            used += a; used += b; used += (a + b)
          }
        }
        val cur = vocab
        val isAffected = batch.map { case (a, b) =>
          col("seg").contains(lit(s"$Open$a$Close$Open$b$Close"))
        }.reduce(_ || _)
        val affected = cur.filter(isAffected)
        val after = batch.foldLeft(affected) { case (df, (a, b)) =>
          df.withColumn("seg", applyMerge(col("seg"), a, b))
        }
        val delta = pairsOf(after).unionByName(
            pairsOf(affected).select(col("a"), col("b"), (-col("c")).as("c")))
          .groupBy(col("a"), col("b")).agg(sum(col("c")).as("dc"))
          .filter(col("dc") =!= 0L)
        batch.foreach { case (a, b) => merges += Merge(merges.size, a, b) }
        retireV.enqueue(cur)
        retireC.enqueue(counts)
        // LAZY checkpoints: the plan truncates to an RDD boundary right
        // away (bounded analysis depth), but materialization rides the
        // NEXT round's collect — ~1 job per round. Results are
        // bit-identical either way.
        counts = counts.join(delta, Seq("a", "b"), "full_outer")
          .select(col("a"), col("b"),
            (coalesce(col("c"), lit(0L)) + coalesce(col("dc"), lit(0L))).as("c"))
          .filter(col("c") =!= 0L)
          .localCheckpoint(false)
        vocab = batch.foldLeft(cur) { case (df, (a, b)) =>
          df.withColumn("seg", applyMerge(col("seg"), a, b))
        }.localCheckpoint(false)
      }
    }
    (retireV ++ retireC).foreach(_.unpersist(blocking = false))
    counts.unpersist(blocking = false)
    vocab.unpersist(blocking = false)
    (merges.toSeq, rounds)
  }

  /** The collected vocab for the driver path: per WORD (rows are never
    * collapsed — parity with the distributed relation) its initial
    * symbol array (one code point per symbol, matching `(.)`) and
    * corpus frequency.
    */
  private[graft] def collectVocab(vocab: DataFrame): Array[(Array[String], Long)] =
    vocab.select(col("word"), col("freq")).collect().map { r =>
      val w = r.getString(0)
      val syms = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        syms += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      (syms.toArray, r.getLong(1))
    }

  /** Spark's StringType orders by UTF-8 bytes (unsigned); the driver
    * tiebreak must match it exactly or the two paths could learn
    * different tables on non-ASCII symbols.
    */
  private def utf8Lt(x: String, y: String): Boolean = {
    // allocation-free ASCII fast path: below 0x80 the UTF-8 byte order
    // IS the char order, so the common case (hex/latin vocabularies,
    // and the count-1 tie storms of large-merge training, where this
    // comparator is the hot path) never materializes byte arrays; the
    // first non-ASCII char on either side falls back to comparing the
    // REMAINDERS as UTF-8 bytes — equal-so-far prefixes make that
    // exactly the whole-string byte comparison
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val cx = x.charAt(i); val cy = y.charAt(i)
      if (cx < 0x80 && cy < 0x80) {
        if (cx != cy) return cx < cy
        i += 1
      } else {
        val a = x.substring(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val b = y.substring(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var j = 0
        while (j < a.length && j < b.length) {
          val c = (a(j) & 0xff) - (b(j) & 0xff)
          if (c != 0) return c < 0
          j += 1
        }
        return a.length < b.length
      }
    }
    x.length < y.length
  }

  /** One merge applied to one symbol array — the left-to-right
    * non-overlapping scan `replace` performs on the wrapped string.
    */
  private def applyMergeDriver(syms: Array[String], a: String,
      b: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Three-way [[utf8Lt]] — ONE walk returns the sign, where the
    * `!= then utf8Lt` idiom walked equal prefixes twice (an equality
    * scan, then the ordering scan); this comparator is the tie-storm
    * hot path, called tens of millions of times per 32k-merge
    * training. Order identical to [[utf8Lt]] by construction.
    */
  private def utf8Cmp(x: String, y: String): Int = {
    if (x eq y) return 0
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val cx = x.charAt(i); val cy = y.charAt(i)
      if (cx < 0x80 && cy < 0x80) {
        if (cx != cy) return cx - cy
        i += 1
      } else {
        val a = x.substring(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val b = y.substring(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        var j = 0
        while (j < a.length && j < b.length) {
          val c = (a(j) & 0xff) - (b(j) & 0xff)
          if (c != 0) return c
          j += 1
        }
        return a.length - b.length
      }
    }
    x.length - y.length
  }

  private def pairBetter(c1: Long, a1: String, b1: String,
      c2: Long, a2: String, b2: String): Boolean =
    if (c1 != c2) c1 > c2
    else {
      val ca = utf8Cmp(a1, a2)
      if (ca != 0) ca < 0 else utf8Cmp(b1, b2) < 0
    }

  private def pairLt(x: (String, String), y: (String, String)): Boolean = {
    val ca = utf8Cmp(x._1, y._1)
    if (ca != 0) ca < 0 else utf8Cmp(x._2, y._2) < 0
  }

  /** Partially order `arr` so its first `n` elements are the n
    * smallest by (a, b) — Hoare quickselect; the selected SET is
    * pivot-independent because the order is strict and total (map
    * keys are distinct), so the caller's final sort makes the result
    * deterministic.
    */
  private def quickSelectPairs(arr: Array[((String, String), Long)],
      n: Int): Unit = {
    var lo = 0; var hi = arr.length - 1
    while (lo < hi) {
      val pivot = arr((lo + hi) >>> 1)._1
      var i = lo; var j = hi
      while (i <= j) {
        while (pairLt(arr(i)._1, pivot)) i += 1
        while (pairLt(pivot, arr(j)._1)) j -= 1
        if (i <= j) {
          val t = arr(i); arr(i) = arr(j); arr(j) = t
          i += 1; j -= 1
        }
      }
      if (n - 1 <= j) hi = j
      else if (n - 1 >= i) lo = i
      else lo = hi
    }
  }

  /** Top-k pair candidates under the trainer's (count desc, a, b)
    * UTF-8 total order WITHOUT sorting the whole count table: a count
    * HISTOGRAM finds the threshold count T where the k-th candidate
    * sits (pure long arithmetic — no string compares at all), every
    * pair above T enters outright, and the tie population AT T is cut
    * by quickselect on (a, b). Large-merge training spends its late
    * rounds in count-1 tie storms (hundreds of thousands of tied
    * candidates per round); a k-bounded heap pays O(wins · log k)
    * comparator sifts there — measured 40 s of a 50 s q243 run —
    * while this is two O(P) scans and one O(ties) select. Result ≡
    * full-sort-take(k).
    */
  private def selectTopPairs(counts: scala.collection.Map[(String, String), Long],
      k: Int, minCount: Long): Array[((String, String), Long)] = {
    if (k <= 0) return Array.empty
    val hist = scala.collection.mutable.HashMap.empty[Long, Int]
    counts.foreach { case (_, c) =>
      if (c >= minCount) { hist.update(c, hist.getOrElse(c, 0) + 1); () }
    }
    selectTopPairsHist(counts, hist, k, minCount)
  }

  /** [[selectTopPairsHist]] over count-BUCKETED pair sets (the indexed
    * trainer maintains them incrementally): the threshold walk reads
    * bucket SIZES, the candidate collect reads only the buckets above
    * the threshold plus the tie bucket AT it — O(selected + distinct
    * counts), never a scan of the pair table. Result set and order are
    * IDENTICAL to [[selectTopPairsHist]]: same threshold T (bucket
    * sizes ARE the histogram), same strictly-above-T "sure" set, same
    * (a, b) quickselect cut of the tie bucket, same final
    * (count desc, a, b) sort.
    */
  /** Reusable per-training scratch for the tie cut — grown on demand,
    * so storm rounds (hundreds of thousands of count-1 ties) don't
    * allocate a fresh array (and a boxed (pair, count) tuple per tie)
    * every round.
    */
  private final class TieScratch {
    var arr: Array[(String, String)] = new Array(0)
    def ensure(n: Int): Unit =
      if (arr.length < n) arr = new Array(math.max(n, arr.length * 2))
  }

  private val pairCmp: java.util.Comparator[(String, String)] =
    new java.util.Comparator[(String, String)] {
      override def compare(x: (String, String), y: (String, String)): Int = {
        val c = utf8Cmp(x._1, y._1)
        if (c != 0) c else utf8Cmp(x._2, y._2)
      }
    }

  /** CROSS-ROUND sorted cache of ONE count bucket — the tie/storm
    * bucket. Large-merge training spends its late rounds cutting the
    * same low-count bucket (hundreds of thousands of pairs) round
    * after round; the per-round quickselect re-visited that whole
    * population every time (~45 M pair compares over a 32k-merge
    * training). Here the bucket is SORTED once (by the trainer's
    * (a, b) UTF-8 order) and kept current across rounds by the same
    * `bucketMove` hook that maintains the count buckets: membership
    * deltas land in a remove-set / sorted add-set, and a round's cut
    * is a merge-walk taking the first `need` live pairs —
    * O(need + log-factor on the deltas) instead of O(|bucket|).
    * Invariant (single-writer, every mutation through [[onMove]]):
    * live(bucket) = snapshot \ removed ∪ added, with added ∩ snapshot
    * live entries empty. The walk therefore yields EXACTLY the `need`
    * (a, b)-smallest live pairs — the identical set the quickselect
    * cut produced. The snapshot is rebuilt when the tie count moves to
    * a different bucket or the remove-set outgrows half the snapshot.
    */
  private final class SortedTieCache {
    var count: Long = Long.MinValue // which bucket is cached (none yet)
    private var snap: Array[(String, String)] = new Array(0)
    private var snapLen = 0
    private val removed = new java.util.HashSet[(String, String)]()
    private val added = new java.util.TreeSet[(String, String)](pairCmp)
    var rebuilds = 0L; var hits = 0L // engagement counters for the log line
    /** [[bucketMove]] hook: O(1) when the move does not touch the
      * cached count, O(log |added|) when it does.
      */
    def onMove(k: (String, String), from: Long, to: Long): Unit = {
      if (from == count) { if (!added.remove(k)) { removed.add(k); () } }
      if (to == count) { if (!removed.remove(k)) { added.add(k); () } }
    }
    private def rebuild(tieSet: scala.collection.mutable.HashSet[(String, String)],
        t: Long): Unit = {
      count = t
      if (snap.length < tieSet.size) snap = new Array(tieSet.size)
      var j = 0
      tieSet.foreach { p => snap(j) = p; j += 1 }
      snapLen = j
      java.util.Arrays.sort(snap.asInstanceOf[Array[AnyRef]], 0, snapLen,
        pairCmp.asInstanceOf[java.util.Comparator[AnyRef]])
      removed.clear(); added.clear()
      rebuilds += 1
    }
    /** Append the `need` (a, b)-smallest live pairs of the tie bucket
      * to `out` (tagged with count `t`). Caller guarantees
      * `tieSet.size > need`.
      */
    def takeSmallest(tieSet: scala.collection.mutable.HashSet[(String, String)],
        t: Long, need: Int,
        out: scala.collection.mutable.ArrayBuffer[((String, String), Long)]): Unit = {
      if (count != t || removed.size > snapLen / 2 + 16) rebuild(tieSet, t)
      else hits += 1
      var i = 0
      val addIt = added.iterator()
      var nextAdd: (String, String) = if (addIt.hasNext) addIt.next() else null
      var taken = 0
      while (taken < need) {
        while (i < snapLen && removed.contains(snap(i))) i += 1
        val s = if (i < snapLen) snap(i) else null
        require(s != null || nextAdd != null,
          s"SortedTieCache: bucket $t exhausted at $taken of $need — " +
            "cache out of sync with the count buckets")
        val pick =
          if (nextAdd == null || (s != null && pairCmp.compare(s, nextAdd) <= 0)) {
            i += 1; s
          } else {
            val a = nextAdd
            nextAdd = if (addIt.hasNext) addIt.next() else null
            a
          }
        out += ((pick, t))
        taken += 1
      }
    }
  }

  /** Tie-bucket population below which the plain quickselect cut is
    * kept (sorting a small bucket that may never recur as the tie
    * count would cost more than it saves; the cache targets the storm
    * regime, where the SAME huge bucket is cut for hundreds of
    * consecutive rounds).
    */
  private val TieCacheMin = 4096

  /** [[quickSelectPairs]] on a bare pair array (first `len` slots). */
  private def quickSelectPairsOnly(arr: Array[(String, String)], len: Int,
      n: Int): Unit = {
    var lo = 0; var hi = len - 1
    while (lo < hi) {
      val pivot = arr((lo + hi) >>> 1)
      var i = lo; var j = hi
      while (i <= j) {
        while (pairLt(arr(i), pivot)) i += 1
        while (pairLt(pivot, arr(j))) j -= 1
        if (i <= j) {
          val t = arr(i); arr(i) = arr(j); arr(j) = t
          i += 1; j -= 1
        }
      }
      if (n - 1 <= j) hi = j
      else if (n - 1 >= i) lo = i
      else lo = hi
    }
  }

  private def selectTopPairsBuckets(
      buckets: scala.collection.Map[Long,
        scala.collection.mutable.HashSet[(String, String)]],
      k: Int, minCount: Long, scratch: TieScratch,
      tieCache: SortedTieCache = null): Array[((String, String), Long)] = {
    if (k <= 0) return Array.empty
    val descCounts = buckets.keysIterator.filter(_ >= minCount).toArray
    if (descCounts.isEmpty) return Array.empty
    java.util.Arrays.sort(descCounts)
    var cum = 0; var ti = descCounts.length - 1; var T = descCounts(ti)
    var stop = false
    while (!stop && ti >= 0) {
      cum += buckets(descCounts(ti)).size
      T = descCounts(ti)
      if (cum >= k) stop = true else ti -= 1
    }
    val sure = scala.collection.mutable.ArrayBuffer.empty[((String, String), Long)]
    var i = descCounts.length - 1
    while (i >= 0 && descCounts(i) > T) {
      val c = descCounts(i)
      buckets(c).foreach(p => sure += ((p, c)))
      i -= 1
    }
    val need = k - sure.size
    for (tieSet <- buckets.get(T)) {
      if (tieSet.size <= need) tieSet.foreach(p => sure += ((p, T)))
      else if (tieCache != null && tieSet.size >= TieCacheMin)
        // storm regime: the sorted cross-round cache cuts in
        // O(need + deltas) what the quickselect re-visited in
        // O(|bucket|) every round — same selected SET by the cache
        // invariant (need smallest live pairs under the same order)
        tieCache.takeSmallest(tieSet, T, need, sure)
      else {
        scratch.ensure(tieSet.size)
        val arr = scratch.arr
        var j = 0
        tieSet.foreach { p => arr(j) = p; j += 1 }
        quickSelectPairsOnly(arr, j, need)
        var q = 0
        while (q < need) { sure += ((arr(q), T)); q += 1 }
      }
    }
    sure.toArray.sortWith((x, y) =>
      pairBetter(x._2, x._1._1, x._1._2, y._2, y._1._1, y._1._2))
  }

  /** [[selectTopPairs]] with the count histogram supplied (selection
    * is then one collect scan plus the tie quickselect, never two
    * table scans).
    */
  private def selectTopPairsHist(
      counts: scala.collection.Map[(String, String), Long],
      hist: scala.collection.Map[Long, Int],
      k: Int, minCount: Long): Array[((String, String), Long)] = {
    if (k <= 0) return Array.empty
    val descCounts = hist.keysIterator.filter(_ >= minCount).toArray
    if (descCounts.isEmpty) return Array.empty
    java.util.Arrays.sort(descCounts)
    var cum = 0; var ti = descCounts.length - 1; var T = descCounts(ti)
    var stop = false
    while (!stop && ti >= 0) {
      cum += hist(descCounts(ti))
      T = descCounts(ti)
      if (cum >= k) stop = true else ti -= 1
    }
    val sure = scala.collection.mutable.ArrayBuffer.empty[((String, String), Long)]
    val ties = scala.collection.mutable.ArrayBuffer.empty[((String, String), Long)]
    counts.foreach { case (p, c) =>
      if (c > T && c >= minCount) { sure += ((p, c)); () }
      else if (c == T && c >= minCount) { ties += ((p, c)); () }
    }
    val need = k - sure.size
    val pick =
      if (ties.size <= need) ties.toArray
      else {
        val arr = ties.toArray
        quickSelectPairs(arr, need)
        arr.take(need)
      }
    (sure.toArray ++ pick).sortWith((x, y) =>
      pairBetter(x._2, x._1._1, x._1._2, y._2, y._1._1, y._1._2))
  }

  /** The conflict-free batch prefix of a ranked candidate list — the
    * exact selection rule of every trainer path here: a candidate
    * enters the batch only if neither symbol (nor the merged symbol)
    * was touched by an earlier member, so the batch's merges commute
    * and one in-rank-order pass ≡ sequential whole-vocab passes.
    */
  private def conflictFreeBatch(top: Array[((String, String), Long)],
      want: Int): Seq[(String, String)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val batch = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val it = top.iterator
    while (batch.size < want && it.hasNext) {
      val ((a, b), _) = it.next()
      if (!used(a) && !used(b)) {
        batch += ((a, b))
        used += a; used += b; used += (a + b)
      }
    }
    batch.toSeq
  }

  /** The driver loop at REAL tokenizer scale (k in the tens of
    * thousands): pair counts are maintained INCREMENTALLY (a merge
    * removes each affected word's old adjacency contribution and
    * re-adds its new one — counts(t+1) = counts(t) + delta, the same
    * law the distributed loop's delta fold applies), and a
    * pair → word-postings index finds the affected words, so applying
    * a merge costs O(words containing the pair), never O(vocab).
    * Postings are stale-tolerant (a word is re-checked for the pair
    * before processing; a duplicate or superseded entry skips), which
    * keeps the index append-only. Selection, ordering, batching, and
    * application are byte-for-byte the shared rules above, so the
    * learned table is bit-identical to [[trainDriverRecount]] and to
    * the distributed loop (BpeSpec pins the three-way agreement; the
    * q243 oracle pins indexed ≡ recount at the full 32k scale).
    */
  private[graft] def trainDriverIndexed(words: Array[(Array[String], Long)],
      nMerges: Int, batchSize: Int, minCount: Long,
      overfetch: Int): (Seq[Merge], Int) = {
    val syms = words.map(_._1)
    val freq = words.map(_._2)
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val occ = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.ArrayBuffer[Int]]
    // count-BUCKETED pair sets maintained INCREMENTALLY alongside
    // counts (bucket(c) = the pairs whose count is exactly c; bucket
    // sizes are the old histogram), so per-round selection walks only
    // the buckets it selects from — the previous histogram-only form
    // still paid one full O(pairs) table scan per round to COLLECT the
    // above-threshold pairs, which dominated selection at 32k-merge
    // scale (hundreds of rounds x hundreds of thousands of live pairs)
    val buckets = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.HashSet[(String, String)]]
    val tieCache = new SortedTieCache
    def bucketMove(k: (String, String), from: Long, to: Long): Unit = {
      if (from != 0L) {
        val s = buckets(from)
        s.remove(k)
        if (s.isEmpty) { buckets.remove(from); () }
      }
      if (to != 0L) {
        buckets.getOrElseUpdate(to,
          scala.collection.mutable.HashSet.empty[(String, String)]).add(k)
        ()
      }
      tieCache.onMove(k, from, to)
    }
    def contribute(wi: Int, sign: Long, index: Boolean): Unit = {
      val s = syms(wi); var i = 0
      while (i < s.length - 1) {
        val k = (s(i), s(i + 1))
        val c0 = counts.getOrElse(k, 0L)
        val c = c0 + sign * freq(wi)
        if (c == 0L) { counts.remove(k); () } else counts.update(k, c)
        bucketMove(k, c0, c)
        if (index) {
          occ.getOrElseUpdate(k,
            scala.collection.mutable.ArrayBuffer.empty[Int]) += wi
          ()
        }
        i += 1
      }
    }
    var wi0 = 0
    while (wi0 < syms.length) { contribute(wi0, 1L, index = true); wi0 += 1 }
    def hasPair(s: Array[String], a: String, b: String): Boolean = {
      var i = 0
      while (i < s.length - 1) {
        if (s(i) == a && s(i + 1) == b) return true
        i += 1
      }
      false
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var rounds = 0
    var done = false
    var tSel = 0L; var tApp = 0L; var nTouch = 0L
    val tieScratch = new TieScratch
    // DELTA-aware touch: the remove-whole-word / re-add-whole-word form
    // (contribute ±1) paid 2 global hashmap updates + 2 bucket/tie-cache
    // moves for EVERY adjacent pair of the word, although only pairs
    // around the merge sites change — the rest net to zero (and their
    // paired onMove calls cancel exactly, see SortedTieCache.onMove).
    // Folding the word's old/new adjacency multisets into a LOCAL delta
    // first touches the global counts/buckets/cache only for pairs whose
    // net count actually moved: final counts identical term-by-term,
    // bucket/cache end-state identical (net-zero move pairs cancelled
    // anyway). occ registration: a pair needs a posting for this word
    // only when NEW to it (net-positive delta) — carried-over pairs
    // registered wi when they first appeared, and postings are
    // append-only and stale-tolerant (one posting per word suffices;
    // the old form appended one per occurrence).
    val localDelta = scala.collection.mutable.HashMap.empty[(String, String), Long]
    def applyTouch(wi: Int, a: String, b: String): Unit = {
      val s = syms(wi)
      val t = applyMergeDriver(s, a, b)
      syms(wi) = t
      val f = freq(wi)
      localDelta.clear()
      var i = 0
      while (i < s.length - 1) {
        val k = (s(i), s(i + 1))
        localDelta.update(k, localDelta.getOrElse(k, 0L) - f)
        i += 1
      }
      i = 0
      while (i < t.length - 1) {
        val k = (t(i), t(i + 1))
        localDelta.update(k, localDelta.getOrElse(k, 0L) + f)
        i += 1
      }
      localDelta.foreach { case (k, dv) =>
        if (dv != 0L) {
          val c0 = counts.getOrElse(k, 0L)
          val c = c0 + dv
          if (c == 0L) { counts.remove(k); () } else counts.update(k, c)
          bucketMove(k, c0, c)
          if (dv > 0L) {
            occ.getOrElseUpdate(k,
              scala.collection.mutable.ArrayBuffer.empty[Int]) += wi
            ()
          }
        }
      }
    }
    while (merges.size < nMerges && !done) {
      val want = math.min(batchSize, nMerges - merges.size)
      val t0 = System.nanoTime()
      val top = selectTopPairsBuckets(buckets, want * overfetch, minCount,
        tieScratch, tieCache)
      tSel += System.nanoTime() - t0
      if (top.isEmpty) done = true
      else {
        rounds += 1
        val t1 = System.nanoTime()
        for ((a, b) <- conflictFreeBatch(top, want)) {
          merges += Merge(merges.size, a, b)
          for (buf <- occ.remove((a, b)); wi <- buf
               if hasPair(syms(wi), a, b)) {
            nTouch += 1
            applyTouch(wi, a, b)
          }
        }
        tApp += System.nanoTime() - t1
      }
    }
    System.err.println(s"[bpe] indexed sel=${tSel/1000000}ms app=${tApp/1000000}ms " +
      s"touches=$nTouch pairs=${counts.size} " +
      s"tiecache_hits=${tieCache.hits} rebuilds=${tieCache.rebuilds}")
    (merges.toSeq, rounds)
  }

  /** The RECOUNT reference for [[trainDriverIndexed]]: full pair
    * recount every round (no incremental state at all) and one
    * whole-vocab pass per round applying the batch in rank order —
    * algorithmically independent of the index/delta machinery, so
    * agreement at full scale is a real cross-implementation check
    * (this is what generates the q243 oracle literals).
    */
  private[graft] def trainDriverRecount(words: Array[(Array[String], Long)],
      nMerges: Int, batchSize: Int, minCount: Long,
      overfetch: Int): (Seq[Merge], Int) = {
    var vocab = words
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var rounds = 0
    var done = false
    while (merges.size < nMerges && !done) {
      val want = math.min(batchSize, nMerges - merges.size)
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (s, f) =>
        var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      val top = selectTopPairs(counts, want * overfetch, minCount)
      if (top.isEmpty) done = true
      else {
        rounds += 1
        val batch = conflictFreeBatch(top, want)
        batch.foreach { case (a, b) => merges += Merge(merges.size, a, b) }
        // conflict-free ⇒ one in-rank-order pass per word ≡ sequential
        // whole-vocab passes (no batch member can create or destroy
        // another's adjacency — they share no symbol)
        vocab = vocab.map { case (s, f) =>
          (batch.foldLeft(s) { case (cur, (a, b)) =>
            if (hasPairRef(cur, a, b)) applyMergeDriver(cur, a, b) else cur
          }, f)
        }
      }
    }
    (merges.toSeq, rounds)
  }

  private def hasPairRef(s: Array[String], a: String, b: String): Boolean = {
    var i = 0
    while (i < s.length - 1) {
      if (s(i) == a && s(i + 1) == b) return true
      i += 1
    }
    false
  }

  /** The round loop of [[trainBatchedCounted]] run in driver memory —
    * a step-for-step replica of the distributed loop (overlapping pair
    * counts weighted by freq, minCount filter, (count desc, a, b)
    * UTF-8 total order, `want × overfetch` truncation, conflict-free
    * prefix, in-rank-order apply), so the learned table is
    * bit-identical on either path (BpeSpec pins it).
    */
  private[graft] def trainDriver(words: Array[(Array[String], Long)], nMerges: Int,
      batchSize: Int, minCount: Long, overfetch: Int): (Seq[Merge], Int) = {
    var vocab = words
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var rounds = 0
    var done = false
    while (merges.size < nMerges && !done) {
      val want = math.min(batchSize, nMerges - merges.size)
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      val top = counts.iterator.filter(_._2 >= minCount).toArray
        .sortWith { case (((a1, b1), c1), ((a2, b2), c2)) =>
          if (c1 != c2) c1 > c2
          else if (a1 != a2) utf8Lt(a1, a2)
          else utf8Lt(b1, b2)
        }
        .take(want * overfetch)
      if (top.isEmpty) done = true
      else {
        rounds += 1
        val used = scala.collection.mutable.Set.empty[String]
        val batch = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        val it = top.iterator
        while (batch.size < want && it.hasNext) {
          val ((a, b), _) = it.next()
          if (!used(a) && !used(b)) {
            batch += ((a, b))
            used += a; used += b; used += (a + b)
          }
        }
        batch.foreach { case (a, b) =>
          merges += Merge(merges.size, a, b)
          vocab = vocab.map { case (syms, f) =>
            (applyMergeDriver(syms, a, b), f)
          }
        }
      }
    }
    (merges.toSeq, rounds)
  }

  /** Segment the VOCABULARY under a learned merge table: fold the k
    * merges, in rank order, over the initial character segmentation —
    * nested replace expressions in one codegen'd projection (no
    * per-round materialization needed at apply time; only training
    * recounts). Vocabulary-scale tables (k in the thousands — q234)
    * would overflow Catalyst's recursive analysis as ONE expression
    * tree, so the fold is broken into layers of ≤ 100 replaces with a
    * plan-truncating localCheckpoint between layers (vocab-sized, a
    * handful of layers); a table within one layer keeps the exact
    * single-projection plan and job count it always had. Returns
    * (word, freq, seg, n_subwords).
    */
  def segmentVocab(docs: DataFrame, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val layerSize = 100
    def fold(seed: org.apache.spark.sql.Column, ms: Seq[Merge]) =
      ms.foldLeft(seed) { (acc, m) =>
        F.replace(acc, lit(s"$Open${m.a}$Close$Open${m.b}$Close"),
          lit(s"$Open${m.a}${m.b}$Close"))
      }
    val ranked = merges.sortBy(_.rank)
    val base = docs.select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("seg",
        fold(regexp_replace(col("word"), "(.)", s"$Open$$1$Close"),
          ranked.take(layerSize)))
    val segged = ranked.drop(layerSize).grouped(layerSize)
      .foldLeft(base) { (df, layer) =>
        // lazy: the boundary truncates analysis depth now; the layers
        // materialize inside whatever single job consumes the result
        df.localCheckpoint(false).withColumn("seg", fold(col("seg"), layer))
      }
    segged.withColumn("n_subwords",
      (length(col("seg")) -
        length(F.replace(col("seg"), lit(Open), lit("")))).cast("long"))
  }

  /** Encode the corpus to TOKEN IDS under a learned merge table — the
    * last step of the tokenizer story (train → segment → encode): the
    * text a model actually consumes is an integer sequence, and the id
    * assignment must be deterministic across engines and runs.
    *
    *   - ids: dense 0..V−1 over the DISTINCT subword vocabulary in
    *     UTF-8 binary order, allocated by [[Relational.allocateIds]]
    *     (numbered on the driver within its byte budget, else the
    *     two-pass sort; never a single-partition window);
    *   - the segmentation work stays vocabulary-sized ([[segmentVocab]]);
    *     the corpus only tokenizes, joins its words to their subword
    *     arrays, and positions subwords with a per-document running
    *     offset (window partitioned BY DOCUMENT — never global);
    *   - output is per-document integer CHECKSUMS of the id sequence:
    *     `n_ids`, `sum_ids` (multiset), and the order-sensitive
    *     `possum_ids` = Σ (pos+1)·id — a transposition of two ids
    *     changes it, so the hash pins the exact sequence without
    *     materializing it. Overflow envelope: safe while
    *     n_ids · (n_ids · V) < 2⁶³ (≈ documents up to ~10⁶ subwords
    *     with a ~10⁶-entry vocabulary).
    *
    * @return (docs.idCol as doc_id, n_ids, sum_ids, possum_ids)
    */
  def encodeCorpusIds(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val sv = segmentVocab(docs, textCol, merges)
      .select(col("word"), symbols(col("seg")).as("subs"),
        col("n_subwords"))
    val vocabIds = Relational.allocateIds(
      sv.select(explode(col("subs")).as("subword")).distinct(),
      "subword", startAfter = -1L, idCol = "tid")
    val tok = docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("wpos", "word")))
      .filter(col("word") =!= "")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("wpos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val withOff = tok.join(sv, Seq("word"))
      .withColumn("off", coalesce(sum(col("n_subwords")).over(w), lit(0L)))
    withOff
      .select(col("doc_id"), col("off"),
        posexplode(col("subs")).as(Seq("j", "subword")))
      .join(vocabIds, Seq("subword"))
      .select(col("doc_id"), (col("off") + col("j")).as("pos"), col("tid"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_ids"),
        sum(col("tid")).as("sum_ids"),
        sum((col("pos") + 1L) * col("tid")).as("possum_ids"))
  }

  /** Per-document subword statistics under a learned merge table: each
    * document's token stream joins the segmented vocabulary (the merge
    * work is vocab-sized; the corpus only tokenizes and joins).
    * Returns (docs.idCol, n_words, n_subwords) with n_subwords the
    * BPE token count q96-style fertility would divide by.
    */
  def segmentCorpus(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val v = segmentVocab(docs, textCol, merges)
      .select(col("word"), col("n_subwords"))
    docs.select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .join(v, Seq("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_subwords")).as("n_subwords"))
  }
}
