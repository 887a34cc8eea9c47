package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search and near-duplicate detection over an
  * embedding column (`Array[Float]`) — brute-force cosine as the exact
  * baseline, plus two scale paths: random-hyperplane LSH bucketing and IVF
  * (k-means coarse quantizer). Builder-prompt extension surface.
  *
  * Scale design: the corpus is never collected; small sides broadcast;
  * dot products are codegen'd native expressions, no UDFs. All routing
  * arithmetic (LSH bucket signs, IVF cell argmax) is EXACT-INTEGER —
  * vectors quantized to milli-units, hyperplanes/centroids to fixed-point
  * longs — so every candidate set and ranking is bit-reproducible in any
  * engine (the DuckDB oracle mirrors render the same literals).
  */
object Similarity {

  /** Dot product of two double-array columns — native codegen expression
    * ([[org.apache.spark.sql.graft.DoubleDot]]); left-to-right
    * accumulation, deterministic.
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.dot_double(a, b)

  /** Tile count for a triangle-tiled self-join, derived from the input
    * instead of hand-tuned: enough tiles that (a) ONE tile's rows fit
    * `targetTileBytes` — the per-task join-side memory bound, which is
    * what keeps tiling safe at 100× the data without retuning — and
    * (b) the tile-pair grid (nTiles·(nTiles+1)/2 tasks) covers the
    * cluster's parallelism, so small inputs still spread. Capped at 4096
    * (replication factor = nTiles; past that, tiling is the wrong tool).
    */
  private[graft] def autoTiles(nRows: Long, rowBytes: Long,
      parallelism: Int, targetTileBytes: Long = 64L << 20): Int = {
    val byMemory = math.ceil(nRows.toDouble * rowBytes / targetTileBytes).toLong
    val byCpu = math.ceil((math.sqrt(8.0 * parallelism + 1) - 1) / 2).toLong
    math.max(1L, math.max(byMemory, byCpu)).min(4096L).toInt
  }

  /** Quantize a float embedding to exact integer milliunits — makes every
    * downstream sum/product exact (deterministic across engines).
    * The float is widened to double BEFORE the multiply: `float * 1000`
    * evaluated in float32 rounds differently from an engine computing in
    * double at .5-boundary products (observed at sf0.1), while
    * float→double widening is exact everywhere.
    */
  def quantize(v: Column): Column =
    transform(v, x => round(x.cast("double") * 1000).cast("long"))

  private def dotLong(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExpressions.dot_long(a, b)

  /** Dimension of the first vector — one tiny job; None on an empty
    * frame or a null first vector (callers treat both as "nothing to
    * search"). The single probe every plane/tile sizing shares.
    */
  private def headDim(df: DataFrame, vecCol: String): Option[Int] = {
    val r = df.select(size(col(vecCol))).limit(1).collect()
    if (r.isEmpty || r.head.isNullAt(0)) None else Some(r.head.getInt(0))
  }

  /** A milli-vector as ONE Literal node (`typedlit`), not a
    * CreateArray of `dim` lit nodes: the values and the data type
    * (non-null array<long>) are identical, but a 64-dim vector costs 1
    * Catalyst node instead of 65 — and the centroid/codebook MATRICES
    * built from these ([[matLit]]) were costing nlist·dim (1k+) nodes
    * PER REFERENCE, which made every PQ/IVF build, append and serve
    * pay ~0.5-1 s of analyzer/optimizer/codegen walks per planned
    * action (measured on q245's commit.append: 682-1033 ms with only
    * ~250 ms of jobs inside).
    */
  private def longLit(a: Array[Long]): Column = typedlit(a.toSeq)

  /** A centroid/codebook matrix as ONE Literal node — see [[longLit]];
    * same non-null array<array<long>> type and values as the former
    * CreateArray-of-CreateArrays.
    */
  private def matLit(m: Array[Array[Long]]): Column =
    typedlit(m.map(_.toSeq).toSeq)

  /** Cosine similarity on quantized vectors: integer dot and norms, one
    * final IEEE sqrt+divide (bit-identical in any engine).
    */
  def cosineQuantized(a: Column, b: Column): Column =
    dotLong(a, b) / (sqrt(dotLong(a, a).cast("double")) * sqrt(dotLong(b, b).cast("double")))

  /** Exact brute-force top-k cosine neighbors for each query vector.
    * `queries` and `corpus` both have (idCol, vecCol); self-pairs excluded.
    * The queries side is broadcast (assumed ≪ corpus); ranking is
    * tie-broken on neighbor id for determinism. This is the DOCUMENTED
    * exact baseline — [[lshTopK]]/[[ivfTopK]] are the scale paths.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    // norms are computed ONCE per vector before the cross join — inside it
    // they'd be recomputed per pair (O(n·m·d) extra work)
    val q = queries.select(col(idCol).as("query_id"), quantize(col(vecCol)).as("qv"))
      .withColumn("qn", sqrt(dotLong(col("qv"), col("qv")).cast("double")))
    val c = corpus.select(col(idCol).as("neighbor_id"), quantize(col(vecCol)).as("cv"))
      .withColumn("cn", sqrt(dotLong(col("cv"), col("cv")).cast("double")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotLong(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** SEMANTIC benchmark decontamination (the embedding-level sibling of
    * [[Curation.contaminatedIds]]'s n-gram rule — the DataComp/FineWeb
    * "semantic leakage" filter): flag every corpus vector whose cosine
    * to ANY eval-set vector reaches `tau`, with the hit count and the
    * closest eval item per flagged doc. Paraphrased eval questions
    * share no n-gram with a training doc; they do share an embedding
    * neighborhood — this catches what the lexical rule cannot.
    *
    * EXACTNESS IS THE CONTRACT: a decontamination miss is eval leakage,
    * so no ANN shortlist (recall < 1) is acceptable here — the scan is
    * deliberately exact, exactly as q83 probes every training gram.
    * Scale shape: the EVAL side broadcasts (an eval suite is bounded —
    * thousands of items — by definition; same contract as the
    * benchmark gram side of [[Curation.decontaminate]]), the corpus
    * side is one scan with per-row work O(|eval|·d) and NEVER
    * shuffles its vectors: the only exchange is the per-flagged-doc
    * aggregation row (map-side combined — flagged hits for a corpus
    * row are produced in that row's own partition). Corpus-linear at
    * any scale; the quadratic-looking nested loop is O(n·|eval|), the
    * sanctioned bounded-broadcast shape, not all-pairs. For
    * UNBOUNDED both-sides similarity use the ANN/banded stack
    * (q65/q67) — different contract (recall), different tool.
    *
    * Norms are computed once per side before the loop (the
    * [[bruteForceTopK]] discipline); ties for the closest eval item
    * break on eval id asc via one lexicographic struct-max — no
    * ranking window, the aggregation stays one shuffle of flagged
    * rows only.
    *
    * @return (corpus_id, n_eval_hits, best_eval_id, best_cosine)
    */
  def semanticContamination(corpus: DataFrame, evalSet: DataFrame,
      idCol: String, vecCol: String, tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"tau must be in (0, 1], got $tau")
    val ev = evalSet.select(col(idCol).as("eval_id"),
        quantize(col(vecCol)).as("ev"))
      .withColumn("en", sqrt(dotLong(col("ev"), col("ev")).cast("double")))
    val co = corpus.select(col(idCol).as("corpus_id"),
        quantize(col(vecCol)).as("cv"))
      .withColumn("cn", sqrt(dotLong(col("cv"), col("cv")).cast("double")))
    val hits = co.crossJoin(broadcast(ev))
      .select(col("corpus_id"), col("eval_id"),
        (dotLong(col("cv"), col("ev")) / (col("cn") * col("en")))
          .as("cosine"))
      .filter(col("cosine") >= tau)
    hits.groupBy(col("corpus_id"))
      .agg(count(lit(1)).as("n_eval_hits"),
        max(struct(col("cosine").as("c"),
          (-col("eval_id")).as("nid"))).as("m"))
      .select(col("corpus_id"), col("n_eval_hits"),
        (-col("m.nid")).as("best_eval_id"), col("m.c").as("best_cosine"))
  }

  /** Per-group embedding outliers by distance to the group centroid — the
    * SemDeDup-flavored curation signal: vectors far from their cluster's
    * center are mislabeled/noisy candidates a training pipeline reviews
    * or drops. Returns the `topK` farthest vectors per `labelCol` group
    * as (label, id, dist2_milli, rk), ties broken on id.
    *
    * Exactness contract: vectors quantize to integer milli-units; the
    * centroid coordinate is floor(sum/n) computed as one correctly-
    * rounded double division of exact integers (exact while |sum| < 2^53
    * — ~10^12 vectors at milli scale; beyond that shard the centroid
    * agg), and dist2 is an exact integer sum of squared milli deltas. So
    * the ranking is bit-reproducible in any engine — no FP-accumulation
    * drift ANN scores suffer.
    *
    * Scale shape: posexplode (d× rows, map-side combined partial sums) →
    * per-(label, dim) centroid (G·d rows, broadcast) → scan-side join +
    * one re-group per vector → per-label ranking window bounded by
    * WindowGroupLimit pushdown (rk ≤ k prunes before the full sort).
    */
  def embeddingOutliers(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String, topK: Int = 5): DataFrame = {
    val q = emb.select(col(idCol), col(labelCol),
      posexplode(quantize(col(vecCol))).as(Seq("dim", "m")))
    val cent = q.groupBy(col(labelCol), col("dim"))
      .agg(floor(sum(col("m")).cast("double") / count(lit(1))).cast("long").as("c"))
    val dist = q.join(broadcast(cent), Seq(labelCol, "dim"))
      .select(col(idCol), col(labelCol),
        ((col("m") - col("c")) * (col("m") - col("c"))).as("d2"))
      .groupBy(col(idCol), col(labelCol))
      .agg(sum(col("d2")).as("dist2_milli"))
    val w = Window.partitionBy(col(labelCol))
      .orderBy(col("dist2_milli").desc, col(idCol).asc)
    dist.withColumn("rk", row_number().over(w)).filter(col("rk") <= topK)
      .select(col(labelCol), col(idCol), col("dist2_milli"), col("rk"))
  }

  /** All near-duplicate pairs with cosine ≥ threshold (id_a < id_b) —
    * EXACT, with a cluster-shaped plan.
    *
    * An exact cosine-threshold self-join over dense embeddings is
    * inherently O(n²) comparisons: at thresholds like q55's 0.35 the
    * qualifying pairs sit AT the boundary (measured min cosine 0.35000 on
    * the test corpora), where no sub-quadratic candidate generator can
    * reach recall 1 for less work than the comparisons themselves. What
    * this operator fixes vs a naive `crossJoin` is the EXECUTION SHAPE:
    * ids hash into `nTiles` groups and each group pair (i ≤ j) becomes
    * one tile of a triangle-tiled self-join (the classic MapReduce
    * theta-join partitioning, cf. Okcan & Riedewald SIGMOD'11): the left
    * side replicates each row to tiles (g, j ≥ g), the right side to
    * tiles (i ≤ g, g), so every pair meets in EXACTLY one tile. The plan
    * is a shuffled equi-join on the tile key — no CartesianProduct /
    * BroadcastNestedLoopJoin node, no single unsplittable task, no
    * full-side broadcast — with per-side replication ≤ nTiles and
    * ~(n/nTiles)² comparisons per tile, spread evenly over the cluster.
    *
    * Scale knob: `nTiles ≤ 0` (the default) AUTO-SIZES from the input —
    * one cheap count() and the vector dim give n·rowBytes, and
    * [[autoTiles]] picks the smallest grid whose tiles fit a task's
    * memory budget AND cover the cluster's parallelism, so the operator
    * survives a 100× scale-up without retuning. NOTE: the count is an
    * EAGER Spark job at builder-construction time that scans the
    * (uncached) input plan once before the pair job scans it again —
    * pass `nTiles > 0` to keep the builder fully lazy and skip that
    * scan. For CAPPED near-dup thresholds
    * (≥ ~0.7) prefer [[nearDupPairsBanded]], which is genuinely
    * sub-quadratic at a documented recall.
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nTiles: Int = 0): DataFrame = {
    val tiles =
      if (nTiles > 0) nTiles
      else autoTiles(df.count(), 8L * headDim(df, vecCol).getOrElse(0) + 48L,
        df.sparkSession.sparkContext.defaultParallelism)
    val base = df.select(col(idCol).as("id"), quantize(col(vecCol)).as("v"))
      .withColumn("g", pmod(xxhash64(col("id")), lit(tiles)).cast("int"))
      .withColumn("nrm", sqrt(dotLong(col("v"), col("v")).cast("double")))
    val lefts = base.select(
      col("id").as("id_l"), col("v").as("v_l"), col("nrm").as("n_l"),
      col("g").as("tile_i"),
      explode(sequence(col("g"), lit(tiles - 1))).as("tile_j"))
    val rights = base.select(
      col("id").as("id_r"), col("v").as("v_r"), col("nrm").as("n_r"),
      explode(sequence(lit(0), col("g"))).as("tile_i"),
      col("g").as("tile_j"))
    lefts.join(rights, Seq("tile_i", "tile_j"))
      // diagonal tiles see both orderings of a pair — keep one; off-diagonal
      // tiles see each pair exactly once (group pair uniqueness)
      .filter(col("tile_i") =!= col("tile_j") || col("id_l") < col("id_r"))
      .select(
        least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"),
        (dotLong(col("v_l"), col("v_r")) / (col("n_l") * col("n_r"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Deterministic random hyperplanes: `nPlanes` × `dim`, seeded. */
  private[operators] def hyperplanes(dim: Int, nPlanes: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian())
  }

  /** Hyperplanes quantized to integer micro-units: sign(v·p) evaluated on
    * (milli-vector · micro-plane) is exact BIGINT arithmetic — terms stay
    * below 2^40, 64-dim sums below 2^46 — so bucket assignment cannot be
    * flipped by float summation order in ANY engine (the oracle renders
    * these exact longs as SQL literals).
    */
  def planesMicro(dim: Int, nPlanes: Int, seed: Long): Array[Array[Long]] =
    hyperplanes(dim, nPlanes, seed).map(_.map(x => math.round(x * 1e6)))

  /** The per-table plane matrices for multi-table LSH (table t seeded
    * seed+t) — shared between the Spark operators and the oracle renderer.
    */
  def lshTables(dim: Int, nPlanes: Int, nTables: Int,
      seed: Long): Seq[(Int, Array[Array[Long]])] =
    (0 until nTables).map(t => (t, planesMicro(dim, nPlanes, seed + t)))

  /** Sign-random-projection LSH bucket id (0 .. 2^nPlanes-1) for a
    * MILLI-QUANTIZED vector column: bit i = sign(v · plane_i), exact
    * integer. Pure expression, no UDF.
    */
  def lshBucket(vecMilli: Column, planes: Array[Array[Long]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dotLong(vecMilli, longLit(p)) >= 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)

  /** (id, vm, tbl, bucket) — each vector exploded into its bucket in each
    * of the `tables`.
    */
  private def bucketed(df: DataFrame, idCol: String, vecCol: String,
      tables: Seq[(Int, Array[Array[Long]])]): DataFrame =
    df.select(col(idCol).as("id"), quantize(col(vecCol)).as("vm"))
      .select(col("id"), col("vm"),
        explode(array(tables.map { case (t, planes) =>
          struct(lit(t).as("tbl"), lshBucket(col("vm"), planes).as("bucket"))
        }: _*)).as("tb"))
      .select(col("id"), col("vm"), col("tb.tbl"), col("tb.bucket"))

  /** Exact quantized cosine for candidate (id_a, id_b) pairs: join the
    * milli-vectors back and score — candidates stay narrow through the
    * distinct.
    */
  private def scorePairs(base: DataFrame, candidates: DataFrame): DataFrame = {
    val a = base.select(col("id").as("id_a"), col("vm").as("va"))
    val b = base.select(col("id").as("id_b"), col("vm").as("vb"))
    candidates.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (dotLong(col("va"), col("vb")) /
          (sqrt(dotLong(col("va"), col("va")).cast("double")) *
           sqrt(dotLong(col("vb"), col("vb")).cast("double")))).as("cosine"))
  }

  /** LSH-bucketed approximate top-k: hash corpus and queries into
    * sign-projection buckets (`nTables` independent tables to boost
    * recall), search only same-bucket candidates, exact-rerank with
    * quantized cosine. The shuffle key is (table, bucket) — at 100 TB the
    * corpus partitions by bucket and each query touches nTables buckets
    * instead of the full corpus. Recall for a pair at cosine c is
    * 1 - (1 - p^nPlanes)^nTables with p = 1 - acos(c)/π.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nPlanes: Int = 5, nTables: Int = 8,
      seed: Long = 42L): DataFrame = {
    val dimOpt = headDim(queries, vecCol)
    if (dimOpt.isEmpty) // no queries → empty result, not a crash
      return queries.sparkSession.emptyDataFrame
        .select(lit(0L).as("query_id"), lit(0L).as("neighbor_id"),
          lit(0.0).as("cosine"), lit(0).as("rank")).limit(0)
    val tables = lshTables(dimOpt.get, nPlanes, nTables, seed)
    val qb = bucketed(queries, idCol, vecCol, tables)
    val cb = bucketed(corpus, idCol, vecCol, tables)
    val candidates = cb.join(broadcast(qb.select(col("tbl"), col("bucket"),
        col("id").as("query_id"))), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"))
      // dedup multi-table collisions on the id PAIR (array-valued columns
      // would make the dedup shuffle compare whole vectors)
      .distinct()
    // score each side from its OWN frame (queries need not be ⊆ corpus)
    val qv = queries.select(col(idCol).as("query_id"), quantize(col(vecCol)).as("qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"), quantize(col(vecCol)).as("cv"))
    val scored = candidates.join(broadcast(qv), Seq("query_id")).join(cv, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotLong(col("qv"), col("cv")) /
          (sqrt(dotLong(col("qv"), col("qv")).cast("double")) *
           sqrt(dotLong(col("cv"), col("cv")).cast("double")))).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** MULTI-PROBE LSH top-k: each query probes its own bucket plus every
    * bucket at Hamming distance 1 (flip each plane bit) in every table —
    * the classic recall lever that does NOT grow the corpus side: corpus
    * buckets are built and shuffled once, identical to [[lshTopK]]; only
    * the broadcast query side fans out ×(nPlanes+1). The candidate set
    * is a superset of the single-probe set (probe j = 0 is the original
    * bucket), so per-rank result quality can only improve — spec-pinned
    * against [[lshTopK]] and measured against the exact baseline.
    */
  def lshTopKMultiProbe(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, nPlanes: Int = 5,
      nTables: Int = 8, seed: Long = 42L): DataFrame = {
    val dimOpt = headDim(queries, vecCol)
    if (dimOpt.isEmpty)
      return queries.sparkSession.emptyDataFrame
        .select(lit(0L).as("query_id"), lit(0L).as("neighbor_id"),
          lit(0.0).as("cosine"), lit(0).as("rank")).limit(0)
    val tables = lshTables(dimOpt.get, nPlanes, nTables, seed)
    val probes = (-1 until nPlanes).map { j =>
      if (j < 0) col("bucket") else col("bucket").bitwiseXOR(lit(1L << j))
    }
    val qb = bucketed(queries, idCol, vecCol, tables)
      .select(col("id").as("query_id"), col("tbl"),
        explode(array(probes: _*)).as("bucket"))
    val cb = bucketed(corpus, idCol, vecCol, tables)
    val candidates = cb.join(broadcast(qb), Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"))
      .distinct()
    val qv = queries.select(col(idCol).as("query_id"),
      quantize(col(vecCol)).as("qv"))
    val cv = corpus.select(col(idCol).as("neighbor_id"),
      quantize(col(vecCol)).as("cv"))
    val scored = candidates.join(broadcast(qv), Seq("query_id"))
      .join(cv, Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotLong(col("qv"), col("cv")) /
          (sqrt(dotLong(col("qv"), col("qv")).cast("double")) *
           sqrt(dotLong(col("cv"), col("cv")).cast("double")))).as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Near-duplicate pairs via multi-table sign-projection banding —
    * the SUB-QUADRATIC embedding near-dup path: candidates are same-bucket
    * pairs in any table, verified with exact quantized cosine ≥ threshold.
    *
    * Approximate BY DESIGN with a documented recall bound: a pair at
    * cosine c collides with probability 1 - (1 - p^nPlanes)^nTables,
    * p = 1 - acos(c)/π (e.g. ≥ 98% at c = 0.9 with the defaults; the
    * operator is meant for genuine near-dup thresholds ≥ ~0.7). Both the
    * banding and the verify are exact-integer, so the SAME candidate set
    * is reproducible in any engine — the oracle mirrors the algorithm,
    * literals included. Sizing: buckets per table = 2^nPlanes; scale
    * nPlanes ≈ log2(n / targetBucketSize) to keep bucket self-joins flat.
    */
  def nearDupPairsBanded(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nPlanes: Int = 6, nTables: Int = 8,
      seed: Long = 42L): DataFrame = {
    val dimOpt = headDim(df, vecCol)
    if (dimOpt.isEmpty)
      return df.sparkSession.emptyDataFrame
        .select(lit(0L).as("id_a"), lit(0L).as("id_b"), lit(0.0).as("cosine"))
        .limit(0)
    val tables = lshTables(dimOpt.get, nPlanes, nTables, seed)
    val banded = bucketed(df, idCol, vecCol, tables)
    val l = banded.select(col("tbl"), col("bucket"), col("id").as("id_a"))
    val r = banded.select(col("tbl"), col("bucket"), col("id").as("id_b"))
    val candidates = l.join(r, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val base = df.select(col(idCol).as("id"), quantize(col(vecCol)).as("vm"))
    scorePairs(base, candidates).filter(col("cosine") >= threshold)
  }

  /** IVF coarse quantizer: Lloyd k-means over the corpus with EXACT-INTEGER
    * state — vectors in milli-units, per-(cell, dim) updates as long sums
    * (associative ⇒ partition-order independent), centroids re-rounded to
    * milli-units each iteration, init = the `nlist` lowest-id vectors.
    * Two trainings over the same data produce IDENTICAL centroids, which
    * is what lets the oracle render them as SQL literals. Centroids live
    * on the driver — nlist milli-vectors, tiny; at scale the trained index
    * (centroids + assignments) would be persisted, not retrained per query.
    */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 3, seed: Long = 42L): Array[Array[Long]] =
    trainCentroidsQ(
      corpus.select(col(idCol).as("id"), quantize(col(vecCol)).as("v")),
      nlist, iters, seed)

  /** [[trainCentroids]] over an ALREADY-QUANTIZED (id, v) relation —
    * the shared-pin entry point: a caller that also trains codebooks
    * and/or encodes (the PQ/IVF builds) quantizes and pins the corpus
    * ONCE and feeds every pass from the pin, instead of re-reading and
    * re-quantizing the raw vectors per training iteration. Identical
    * arithmetic, identical init, identical centroids.
    */
  private def trainCentroidsQ(quant: DataFrame, nlist: Int,
      iters: Int = 3, seed: Long = 42L): Array[Array[Long]] = {
    val initRows = quant.orderBy(col("id").asc).limit(nlist).collect()
    if (initRows.isEmpty) return Array.empty
    val dim = initRows.head.getSeq[Long](1).length
    var centroids: Array[Array[Long]] = initRows.map(_.getSeq[Long](1).toArray)
    if (centroids.length < nlist) centroids = centroids ++
      hyperplanes(dim, nlist - centroids.length, seed).map(_.map(x => math.round(x * 1000)))
    for (_ <- 1 to iters) {
      val assigned = quant.withColumn("cell", nearestCell(col("v"), centroids))
      // per-(cell, dim) long sum + count: exact, scales to any cell size
      // (no per-cell list); the collected result is only nlist × dim rows
      val stats = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = centroids.map(_.clone())
      for (r <- stats)
        next(r.getInt(0))(r.getInt(1)) =
          math.round(r.getLong(2).toDouble / r.getLong(3))
      centroids = next
    }
    centroids
  }

  /** Per-centroid integer dot scores as ONE array expression — a single
    * literal centroid matrix + nested lambda keeps the codegen tree linear
    * in nlist×dim (a naive reduce-of-structs duplicates the dot
    * expressions quadratically and stalls codegen).
    */
  private def cellScores(vecMilli: Column, centroids: Array[Array[Long]]): Column =
    transform(matLit(centroids), c => dotLong(vecMilli, c))

  /** Index of the nearest centroid (max integer dot; first index wins
    * ties) for a milli-quantized vector.
    */
  def nearestCell(vecMilli: Column, centroids: Array[Array[Long]]): Column = {
    val s = cellScores(vecMilli, centroids)
    (array_position(s, array_max(s)) - 1).cast("int")
  }

  /** STATIC cell-pruning predicate for a stored-index probe: collect
    * the query batch's probed cells (ONE bounded driver action —
    * ≤ |queries|·nprobe rows, ≤ nlist distinct values; the same
    * bounded-collect discipline as [[Retrieval.bm25SearchIndex]]'s
    * bucket collect) and filter the stored relation on the literal set.
    * This matters because the broadcast cell join alone does NOT prune
    * the scan: Spark plans a DynamicPruningExpression on the partition
    * column, but under the default reuseBroadcastOnly the runtime
    * falls back to scanning every cell when the probe side's exchange
    * isn't reusable — MEASURED in PruningSpec, where nprobe=1 and
    * nprobe=nlist read identical bytes without this filter. A literal
    * IN list prunes at plan time, unconditionally, in any engine. At
    * 100 TB this is the difference between touching nprobe/nlist of
    * the index files and re-scanning the corpus index per query batch.
    */
  private def probedCells(qb: DataFrame): Column = {
    val cells = qb.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).toSeq
    if (cells.isEmpty) lit(false) else col("cell").isin(cells: _*)
  }

  /** Pin a query-side probe batch before [[probedCells]] reads it: the
    * collected literal cell set and the later broadcast join consume
    * the SAME materialized rows (localCheckpoint — one bounded job over
    * ≤ |queries|·nprobe rows), so a nondeterministic queries input
    * (sampled / rand-derived) cannot yield an IN set that disagrees
    * with the join's cells and silently drop valid probes.
    */
  private def pinProbes(qb: DataFrame): DataFrame = qb.localCheckpoint()

  /** (vec_id, vm, cell, crn): every (vector, cell) scored and ranked by
    * (score desc, cell asc) — crn = 1 is the assignment, crn ≤ nprobe the
    * query probes. Relational form mirrors the oracle SQL one-to-one.
    */
  private def cellRanked(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Long]]): DataFrame = {
    val w = Window.partitionBy(col("id"))
      .orderBy(col("s").desc, col("cell").asc)
    df.select(col(idCol).as("id"), quantize(col(vecCol)).as("vm"))
      .select(col("id"), col("vm"),
        posexplode(cellScores(col("vm"), centroids)).as(Seq("cell", "s")))
      .withColumn("crn", row_number().over(w))
  }

  /** IVF search with given centroids: corpus rows live in their argmax
    * cell (this is the persisted index at scale), each query probes its
    * `nprobe` best cells, exact quantized-cosine rerank within.
    */
  def ivfSearch(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, centroids: Array[Array[Long]],
      nprobe: Int): DataFrame =
    ivfSearchQ(queries,
      corpus.select(col(idCol).as("id"), quantize(col(vecCol)).as("v")),
      idCol, vecCol, k, centroids, nprobe)

  /** [[ivfSearch]] over an already-quantized (id, v) corpus relation —
    * the shared-pin entry point of the train-then-search paths.
    */
  private def ivfSearchQ(queries: DataFrame, quant: DataFrame,
      idCol: String, vecCol: String, k: Int,
      centroids: Array[Array[Long]], nprobe: Int): DataFrame = {
    // corpus assignment is a pure argmax EXPRESSION (scan-side, no
    // explode/window shuffle over n×nlist rows) — identical semantics to
    // cellRanked's crn = 1 (first max wins both ways)
    val cb = quant
      .select(col("id").as("neighbor_id"), col("v").as("cv"))
      .withColumn("cell", nearestCell(col("cv"), centroids))
    val qb = cellRanked(queries, idCol, vecCol, centroids)
      .filter(col("crn") <= nprobe)
      .select(col("id").as("query_id"), col("vm").as("qv"), col("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cb.join(broadcast(qb), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotLong(col("qv"), col("cv")) /
          (sqrt(dotLong(col("qv"), col("qv")).cast("double")) *
           sqrt(dotLong(col("cv"), col("cv")).cast("double")))).as("cosine"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** IVF top-k: train the coarse quantizer, then search. Deterministic end
    * to end (integer k-means), so an oracle can replay the exact centroids.
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      iters: Int = 3): DataFrame = {
    // quantize + pin once: the (iters+1) training passes and the search
    // assignment read the pin (see buildPqParts)
    val q = corpus
      .select(col(idCol).as("id"), quantize(col(vecCol)).as("v"))
      .localCheckpoint()
    val centroids = trainCentroidsQ(q, nlist, iters)
    if (centroids.isEmpty) // empty corpus → empty result
      return corpus.sparkSession.emptyDataFrame
        .select(lit(0L).as("query_id"), lit(0L).as("neighbor_id"),
          lit(0.0).as("cosine"), lit(0).as("rank")).limit(0)
    ivfSearchQ(queries, q, idCol, vecCol, k, centroids, nprobe)
  }

  // ------------------------------------------------------------------
  // Persisted IVF index — the actual 100 TB shape: train + assign ONCE,
  // store the assignments partitioned by cell, serve queries against the
  // stored index. Probing nprobe of nlist cells then touches nprobe/nlist
  // of the corpus files (partition pruning on the cell key) instead of
  // rescanning and re-quantizing everything per query batch.
  // ------------------------------------------------------------------

  /** A trained IVF index: driver-held centroids (nlist milli-vectors,
    * tiny) + the cell-assigned, milli-quantized corpus.
    */
  final case class IvfIndex(centroids: Array[Array[Long]], assignments: DataFrame)

  /** Train and assign. `assignments` has (neighbor_id, cv, cell). */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, iters: Int = 3): IvfIndex = {
    // quantize + pin ONCE: the (iters+1) training passes and the
    // assignment read the pin instead of re-reading and re-quantizing
    // the raw vectors each time (see buildPqParts)
    val q = corpus
      .select(col(idCol).as("id"), quantize(col(vecCol)).as("v"))
      .localCheckpoint()
    val centroids = trainCentroidsQ(q, nlist, iters)
    val assigned = q
      .select(col("id").as("neighbor_id"), col("v").as("cv"))
      .withColumn("cell", nearestCell(col("cv"), centroids))
    IvfIndex(centroids, assigned)
  }

  /** Persist: centroids as a tiny parquet (cell, centroid), assignments
    * PARTITIONED BY cell — the layout that lets a probe read only its
    * cells' files.
    */
  def saveIvfIndex(index: IvfIndex, dir: String): Unit = {
    val spark = index.assignments.sparkSession
    StoreFiles.writeVecTable(spark, s"$dir/centroids",
      index.centroids.zipWithIndex.map { case (c, i) => (i, 0, c) }.toSeq)
    Stores.ivf.clearLedger(spark, dir)
    StoreFiles.clusterForWrite(index.assignments, "cell")
      .write.mode("overwrite")
      .partitionBy("cell").parquet(s"$dir/assignments")
  }

  /** Assemble an [[IvfIndex]] under a per-sub reader (raw or
    * snapshot); the ledger anti-joins lazily.
    */
  private def mkIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, rd: String => DataFrame): IvfIndex = {
    val cents = StoreFiles.readVecTable(spark, s"$dir/centroids")
      .sortBy(_._1).map(_._3).toArray
    IvfIndex(cents,
      Stores.ivf.dropDeleted(spark, dir, rd("assignments")))
  }

  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String): IvfIndex =
    mkIvfIndex(spark, dir, Stores.ivf.raw(spark, dir))

  /** Incrementally add a batch to a STORED index: assign the new vectors
    * to the EXISTING centroids and append to the cell-partitioned
    * assignments — no retrain, and the existing files are never
    * rewritten (the nightly-ingest shape; retrain offline when centroid
    * drift accumulates). The IVF twin of the MinHash band-index probe
    * story (`Dedup.minHashLshProbe`).
    */
  def appendIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      batch: DataFrame, idCol: String, vecCol: String): Unit =
    StoreFiles.clusterForWrite(
        ivfAssignDelta(spark, dir, batch, idCol, vecCol), "cell")
      .write.mode("append").partitionBy("cell").parquet(s"$dir/assignments")

  /** The assignment-rows delta a batch contributes under a STORED
    * index's centroids (no retrain). Shared by [[appendIvfIndex]] and
    * the streaming twin
    * ([[graft.streaming.DocumentStreams.ivfIngestBatch]]).
    */
  def ivfAssignDelta(spark: org.apache.spark.sql.SparkSession, dir: String,
      batch: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val idx = loadIvfIndex(spark, dir)
    batch.select(col(idCol).as("neighbor_id"), quantize(col(vecCol)).as("cv"))
      .withColumn("cell", nearestCell(col("cv"), idx.centroids))
  }

  /** Nightly small-file compaction for a stored IVF index: rewrite the
    * cell-partitioned assignments into one file per cell through the
    * guarded temp-swap ([[graft.operators.StoreFiles.swapIn]]); search
    * results are unchanged, the centroids params table is untouched.
    */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    Stores.ivf.compactScaffold(spark, dir) { (manifested, tombs) =>
      Map("assignments" ->
        (if (manifested)
           loadIvfIndexSnapshot(spark, dir).assignments.localCheckpoint()
         else {
           val raw = spark.read.parquet(s"$dir/assignments")
           tombs.fold(raw)(t =>
             raw.join(broadcast(t), Seq("neighbor_id"), "left_anti"))
         }))
    } { (_, src, tmp) =>
      src.repartition(col("cell")).write.partitionBy("cell").parquet(tmp)
    }

  // --- committed lifecycle: [[Stores.ivf]]. Centroids are
  // --- save-time-immutable — like the params tables they live outside
  // --- the manifest; only the append-accumulating assignments commit.

  /** [[saveIvfIndex]] plus the initial manifest (generation 0). */
  def saveIvfIndexCommitted(index: IvfIndex, dir: String): Unit =
    Stores.ivf.saveCommitted(index.assignments.sparkSession, dir) {
      saveIvfIndex(index, dir)
    }

  /** [[appendIvfIndex]] with a commit point (OCC via `expectedGen`);
    * returns the committed generation.
    */
  def appendIvfIndexCommitted(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, idCol: String, vecCol: String,
      expectedGen: Option[Long] = None): Long =
    Stores.ivf.appendCommitted(spark, dir, expectedGen) {
      appendIvfIndex(spark, dir, batch, idCol, vecCol)
    }

  /** [[appendIvfIndexCommitted]] made EXACTLY-ONCE for a replayable
    * writer (foreachBatch): `batchId` rides the manifest commit as a
    * ledger header; a re-delivered id writes nothing and returns None
    * ([[StoreFiles.commitAppendIdempotent]] — the ledger survives
    * [[StoreFamily.compactL0]]'s re-base).
    */
  def appendIvfIndexCommittedIdempotent(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      batch: DataFrame, idCol: String, vecCol: String,
      batchId: Long): Option[Long] =
    Stores.ivf.appendCommittedIdempotent(spark, dir, batchId) {
      appendIvfIndex(spark, dir, batch, idCol, vecCol)
    }

  /** Load exactly the COMMITTED assignments (optionally as of a
    * generation); tombstones stay retroactive. The cell partition
    * column (and a probe's pruning on it) survives via basePath.
    */
  def loadIvfIndexSnapshot(spark: org.apache.spark.sql.SparkSession,
      dir: String, asOf: Option[Long] = None): IvfIndex =
    mkIvfIndex(spark, dir, Stores.ivf.snapshot(spark, dir, asOf))

  // ------------------------------------------------------------------
  // Product quantization (PQ) — the memory side of billion-vector ANN
  // (Jégou, Douze & Schmid, "Product Quantization for Nearest Neighbor
  // Search", TPAMI 2011). The vector splits into nSub contiguous
  // subspaces; each subspace gets its own ksub-centroid codebook; a
  // stored corpus row is then (cell, nSub small ints) — e.g. 8 bytes —
  // instead of dim floats, a 32× compression that is what lets a
  // 100 TB corpus's index fit in cluster memory. Search reads ONLY the
  // codes (asymmetric distance computation, ADC): the query keeps full
  // precision and scores a neighbor by summing exact per-subspace
  // distances to the neighbor's selected sub-centroids.
  //
  // Same exactness contract as the rest of this file: milli-quantized
  // vectors, integer Lloyd (L2 assignment, first-min ties, floor-mean
  // updates), so codebooks, codes and ADC scores are bit-reproducible
  // and the DuckDB oracle replays them as literals.
  // ------------------------------------------------------------------

  /** Squared-L2 rank scores of a milli sub-vector against each sub-
    * centroid as ONE array expression: score_j = |c_j|² − 2·v·c_j,
    * which orders exactly like dist²(v, c_j) = |v|² + |c_j|² − 2·v·c_j
    * (the |v|² term is constant across j). All-integer.
    */
  private def subScores(vecMilli: Column, centroids: Array[Array[Long]]): Column =
    transform(matLit(centroids),
      c => dotLong(c, c) - lit(2L) * dotLong(vecMilli, c))

  /** Index of the nearest sub-centroid by exact squared L2 (first index
    * wins ties) — the PQ twin of [[nearestCell]] (which routes by max
    * dot; PQ encodes by min L2 because the code must MINIMIZE
    * reconstruction error, not maximize alignment).
    */
  def nearestSubCell(vecMilli: Column, centroids: Array[Array[Long]]): Column = {
    val s = subScores(vecMilli, centroids)
    (array_position(s, array_min(s)) - 1).cast("int")
  }

  /** The m-th milli sub-vector (dims m·dsub .. (m+1)·dsub − 1). */
  private def subVec(vecMilli: Column, m: Int, dsub: Int): Column =
    slice(vecMilli, m * dsub + 1, dsub)

  /** Train the nSub per-subspace codebooks (each ksub × dsub milli
    * longs) with integer Lloyd under L2 assignment. ALL subspaces train
    * together — one job per iteration, not nSub of them: rows explode
    * to (sub, sub-vector), assignment picks the branch for its
    * subspace, and the per-(sub, cell, dim) long-sum stats collect as
    * nSub·ksub·dsub rows (tiny). Init = each subspace's slice of the
    * ksub lowest-id vectors (padded with seeded noise if the corpus is
    * smaller), mirroring [[trainCentroids]].
    */
  def trainPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      nSub: Int, ksub: Int, iters: Int = 3, seed: Long = 42L): Array[Array[Array[Long]]] =
    trainPqCodebooksQ(
      corpus.select(col(idCol).as("id"), quantize(col(vecCol)).as("v")),
      nSub, ksub, iters, seed)

  /** [[trainPqCodebooks]] over an already-quantized (id, v) relation —
    * see [[trainCentroidsQ]]; identical arithmetic and codebooks.
    */
  private def trainPqCodebooksQ(quant: DataFrame, nSub: Int, ksub: Int,
      iters: Int = 3, seed: Long = 42L): Array[Array[Array[Long]]] = {
    val initRows = quant.orderBy(col("id").asc).limit(ksub).collect()
    if (initRows.isEmpty) return Array.empty
    val dim = initRows.head.getSeq[Long](1).length
    require(dim % nSub == 0, s"dim $dim not divisible into $nSub subspaces")
    val dsub = dim / nSub
    var books: Array[Array[Array[Long]]] = Array.tabulate(nSub) { m =>
      val own = initRows.map(_.getSeq[Long](1).slice(m * dsub, (m + 1) * dsub).toArray)
      if (own.length >= ksub) own
      else own ++ hyperplanes(dsub, ksub - own.length, seed + m)
        .map(_.map(x => math.round(x * 1000)))
    }
    val subbed = quant.select(col("id"),
      posexplode(array((0 until nSub).map(m => subVec(col("v"), m, dsub)): _*))
        .as(Seq("sub", "sv")))
    for (_ <- 1 to iters) {
      val cellExpr = (0 until nSub).map { m =>
        (col("sub") === m, nearestSubCell(col("sv"), books(m)))
      }.foldRight(lit(-1): Column) { case ((p, c), acc) => when(p, c).otherwise(acc) }
      val stats = subbed.withColumn("cell", cellExpr)
        .select(col("sub"), col("cell"), posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("cell"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = books.map(_.map(_.clone()))
      for (r <- stats)
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) =
          math.round(r.getLong(3).toDouble / r.getLong(4))
      books = next
    }
    books
  }

  /** PQ codes for a milli vector: array of nSub sub-centroid indices. */
  def pqEncode(vecMilli: Column, books: Array[Array[Array[Long]]]): Column = {
    val dsub = books.head.head.length
    array(books.zipWithIndex.map { case (cb, m) =>
      nearestSubCell(subVec(vecMilli, m, dsub), cb)
    }: _*)
  }

  /** Asymmetric squared-L2 distance from a full-precision milli query to
    * a PQ-coded neighbor: Σ over subspaces of the EXACT integer
    * dist²(q_m, codebook_m[code_m]). `element_at` on the literal
    * codebook array selects the coded sub-centroid at runtime — the
    * whole score is one scan-side expression, no join against a
    * reconstruction table.
    */
  def adcDist2(qMilli: Column, codes: Column, books: Array[Array[Array[Long]]]): Column = {
    val dsub = books.head.head.length
    books.zipWithIndex.map { case (cb, m) =>
      val q = subVec(qMilli, m, dsub)
      val sel = element_at(matLit(cb), element_at(codes, m + 1) + 1)
      dotLong(q, q) + dotLong(sel, sel) - lit(2L) * dotLong(q, sel)
    }.reduce(_ + _)
  }

  /** IVF-PQ top-k: coarse cells route the search (as [[ivfTopK]]); the
    * probed cells' candidates are scored from their CODES ONLY via
    * [[adcDist2]] — the corpus's vectors are projected away right after
    * encoding, which is the point: the serving index is
    * (neighbor_id, cell, nSub bytes), small enough to pin in memory at
    * corpus sizes where the raw vectors cannot be. Ranking is
    * (adc_dist2 asc, neighbor_id asc); output is all-scalar
    * (query_id, neighbor_id, adc_dist2, rank). Approximate BY DESIGN —
    * quantization error shifts ranks near ties; the exactness contract
    * is that the APPROXIMATION ITSELF is bit-reproducible, which is
    * what the oracle verifies.
    */
  /** Measured recall@10 vs the exact [[bruteForceTopK]] baseline on the
    * driver fixtures (queries = vec_id % 25 = 0): 0.215 (sf0.001) /
    * 0.295 (sf0.01) at the default nprobe = 4, rising to 0.275 / 0.33
    * at nprobe = 8. Plain IVF with the identical cell routing reaches
    * 0.56 / 0.655 — the difference is pure PQ coding loss, which
    * [[pqSearchRefined]]'s exact re-rank recovers (it converges to the
    * IVF result as the shortlist grows; spec-pinned). The spec asserts
    * the documented floor recall@10 > 0.15.
    */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      nSub: Int = 8, ksub: Int = 16, iters: Int = 3): DataFrame = {
    // shared quantize-once pin + concurrent trainings (see buildPqParts)
    val (q, coarse, books) =
      buildPqParts(corpus, idCol, vecCol, nlist, nSub, ksub, iters)
    if (coarse.isEmpty || books.isEmpty)
      return corpus.sparkSession.emptyDataFrame
        .select(lit(0L).as("query_id"), lit(0L).as("neighbor_id"),
          lit(0L).as("adc_dist2"), lit(0).as("rank")).limit(0)
    // the stored index: id + coarse cell + codes, vectors DROPPED
    val coded = q
      .select(col("id").as("neighbor_id"), col("v").as("cv"))
      .select(col("neighbor_id"),
        nearestCell(col("cv"), coarse).as("cell"),
        pqEncode(col("cv"), books).as("codes"))
    val qb = cellRanked(queries, idCol, vecCol, coarse)
      .filter(col("crn") <= nprobe)
      .select(col("id").as("query_id"), col("vm").as("qv"), col("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist2").asc, col("neighbor_id").asc)
    coded.join(broadcast(qb), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        adcDist2(col("qv"), col("codes"), books).as("adc_dist2"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Per-dimension (min, span) of the milli-quantized corpus — the SQ8
    * scalar quantizer's training statistics (the faiss
    * `ScalarQuantizer` recipe: linear per-dimension range map). One
    * keyed aggregation over the exploded dimension stream; the result
    * is d rows → the bounded driver-literal pattern (same contract as
    * centroids/codebooks). Integer min/max — deterministic and
    * partition-invariant by construction.
    */
  def trainSq8Bounds(corpus: DataFrame, idCol: String,
      vecCol: String): (Array[Long], Array[Long]) =
    trainSq8BoundsQ(
      corpus.select(col(idCol).as("id"), quantize(col(vecCol)).as("v")))

  /** [[trainSq8Bounds]] over an already-quantized (id, v) relation. */
  private def trainSq8BoundsQ(quant: DataFrame): (Array[Long], Array[Long]) = {
    val rows = quant.select(col("v").as("vm"))
      .select(posexplode(col("vm")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("i")).collect()
    (rows.map(_.getLong(1)), rows.map(r => r.getLong(2) - r.getLong(1)))
  }

  /** SQ8-encode a milli vector: per dimension,
    * code = ((x − min) · 255) div span ∈ [0, 255] (0 on a degenerate
    * constant dimension). The floor is evaluated as a DOUBLE division —
    * exact here: numerator ≤ span·255 and denominator = span are
    * integers ≪ 2⁵³ whose true quotient is never within an ulp of the
    * next integer unless it IS that integer, so `floor` agrees with
    * integer division bit-for-bit (the mirror uses `//` directly).
    */
  def sq8Encode(vm: Column, mn: Array[Long], span: Array[Long]): Column = {
    val mnL = longLit(mn); val spL = longLit(span)
    transform(vm, (x, i) => {
      val m = element_at(mnL, i + 1); val s = element_at(spL, i + 1)
      when(s > 0L,
        floor(((x - m) * lit(255L)).cast("double") / s.cast("double"))
          .cast("long"))
        .otherwise(lit(0L))
    })
  }

  /** 255·(reconstructed milli vector) from SQ8 codes — integer exact:
    * 255·x̂_d = 255·min_d + code_d·span_d.
    */
  private def sq8Recon255(codes: Column, mn: Array[Long],
      span: Array[Long]): Column = {
    val mnL = longLit(mn); val spL = longLit(span)
    transform(codes, (c, i) =>
      lit(255L) * element_at(mnL, i + 1) + c * element_at(spL, i + 1))
  }

  /** IVF-SQ8 search — the faiss middle ground between raw IVF (full
    * vectors in the index) and IVF-PQ (aggressive subspace codes): the
    * stored index keeps ONE BYTE per dimension (id, coarse cell,
    * per-dimension linear codes), cutting index bytes 8× against
    * float64/milli-long storage while ranking by near-exact L2.
    * Distances are EXACT integers on the 255-scaled reconstruction:
    * ‖255·q − 255·x̂‖² with 255·x̂ = 255·min + code⊙span — products
    * ≤ (2·255·|milli|)²·d ≪ 2⁶³ (and ≪ 2⁵³, so the mirror's double
    * list arithmetic is exact too).
    *
    * Scale shape: identical to [[ivfPqTopK]] — the coded corpus lives
    * in its argmax cell, probed queries broadcast, candidates meet on
    * the cell key (never all-pairs), one ranking window.
    */
  def ivfSq8TopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      iters: Int = 3): DataFrame = {
    // quantize-once pin + concurrent independent trainings (the
    // centroid loop and the per-dimension bounds share nothing)
    val q = corpus
      .select(col(idCol).as("id"), quantize(col(vecCol)).as("v"))
      .localCheckpoint()
    val (coarse, bounds) = par2(
      trainCentroidsQ(q, nlist, iters),
      trainSq8BoundsQ(q))
    if (coarse.isEmpty)
      return corpus.sparkSession.emptyDataFrame
        .select(lit(0L).as("query_id"), lit(0L).as("neighbor_id"),
          lit(0L).as("sq_dist2"), lit(0).as("rank")).limit(0)
    val (mn, span) = bounds
    val coded = q
      .select(col("id").as("neighbor_id"), col("v").as("cv"))
      .select(col("neighbor_id"),
        nearestCell(col("cv"), coarse).as("cell"),
        sq8Encode(col("cv"), mn, span).as("codes"))
    val qb = cellRanked(queries, idCol, vecCol, coarse)
      .filter(col("crn") <= nprobe)
      .select(col("id").as("query_id"), col("vm").as("qv"), col("cell"))
    val diff = zip_with(col("qv"), sq8Recon255(col("codes"), mn, span),
      (q, y) => lit(255L) * q - y)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sq_dist2").asc, col("neighbor_id").asc)
    coded.join(broadcast(qb), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        dotLong(diff, diff).as("sq_dist2"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  // ------------------------------------------------------------------
  // Persisted IVF-PQ index — the fourth stored-index lifecycle (after
  // MinHash bands, IVF and the Bloom membership filter): train ONCE
  // offline, store (codes partitioned by cell + the tiny params tables),
  // serve and append with ZERO training jobs. This is the whole point of
  // PQ — a serving index of nSub small ints per vector that lives in
  // cluster memory while the raw 100 TB of vectors stays at rest; a
  // search that retrains per query batch (q116's in-memory form) is a
  // correctness demo, not a serving path.
  // ------------------------------------------------------------------

  /** A trained IVF-PQ index: driver-held coarse centroids and per-
    * subspace codebooks (nlist·dim + nSub·ksub·dsub milli longs — tiny)
    * plus the coded corpus (neighbor_id, cell, codes) with the raw
    * vectors DROPPED at encode time.
    */
  final case class PqIndex(centroids: Array[Array[Long]],
      books: Array[Array[Array[Long]]], codes: DataFrame)

  /** Train both quantizers and encode the corpus. `codes` has
    * (neighbor_id, cell, codes) — no vector column survives.
    */
  /** Run two independent driver-side training loops CONCURRENTLY
    * (guide §2.6 — actions are only sequential because the driver calls
    * them sequentially): the coarse-centroid and codebook trainings
    * read the same pinned corpus and share nothing else, so their
    * per-iteration jobs overlap instead of queueing. Results are the
    * byte-identical arrays the sequential calls produce.
    */
  private def par2[A, B](fa: => A, fb: => B): (A, B) = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fut1 = pool.submit(new java.util.concurrent.Callable[A] {
        override def call(): A = fa
      })
      val fut2 = pool.submit(new java.util.concurrent.Callable[B] {
        override def call(): B = fb
      })
      def get[T](f: java.util.concurrent.Future[T]): T =
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        }
      (get(fut1), get(fut2))
    } finally { pool.shutdown(); () }
  }

  /** The shared first half of every PQ build: quantize + PIN the corpus
    * once (one materialization feeds the 2·(iters+1) training passes
    * AND the encode, where the lazy form re-read and re-quantized the
    * raw vectors for each), then train both quantizers concurrently.
    */
  private def buildPqParts(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, nSub: Int, ksub: Int, iters: Int)
      : (DataFrame, Array[Array[Long]], Array[Array[Array[Long]]]) = {
    val q = corpus
      .select(col(idCol).as("id"), quantize(col(vecCol)).as("v"))
      .localCheckpoint()
    val (centroids, books) = par2(
      trainCentroidsQ(q, nlist, iters),
      trainPqCodebooksQ(q, nSub, ksub, iters))
    (q, centroids, books)
  }

  def buildPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, nSub: Int = 8, ksub: Int = 16, iters: Int = 3): PqIndex = {
    val (q, centroids, books) =
      buildPqParts(corpus, idCol, vecCol, nlist, nSub, ksub, iters)
    val coded = q
      .select(col("id").as("neighbor_id"), col("v").as("cv"))
      .select(col("neighbor_id"),
        nearestCell(col("cv"), centroids).as("cell"),
        pqEncode(col("cv"), books).as("codes"))
    PqIndex(centroids, books, coded)
  }

  /** Persist: coarse centroids and codebooks as two tiny parquet params
    * tables, codes PARTITIONED BY cell (a probe reads nprobe/nlist of
    * the files). The codebooks row is (code, sub, centroid); the
    * centroids table reuses the shape with sub = 0.
    */
  def savePqIndex(index: PqIndex, dir: String): Unit = {
    val spark = index.codes.sparkSession
    Stores.pq.clearLedger(spark, dir)
    StoreFiles.writeVecTable(spark, s"$dir/centroids",
      index.centroids.zipWithIndex.map { case (c, i) => (i, 0, c) }.toSeq)
    StoreFiles.writeVecTable(spark, s"$dir/codebooks",
      (for {
        (cb, m) <- index.books.zipWithIndex
        (c, j) <- cb.zipWithIndex
      } yield (j, m, c)).toSeq)
    StoreFiles.clusterForWrite(index.codes, "cell")
      .write.mode("overwrite")
      .partitionBy("cell").parquet(s"$dir/codes")
  }

  /** Read ONLY the params tables (centroids + codebooks) — what the
    * append path needs; the coded corpus is never scanned.
    */
  def loadPqParams(spark: org.apache.spark.sql.SparkSession,
      dir: String): (Array[Array[Long]], Array[Array[Array[Long]]]) = {
    val cents = StoreFiles.readVecTable(spark, s"$dir/centroids")
      .sortBy(_._1).map(_._3).toArray
    val bookRows = StoreFiles.readVecTable(spark, s"$dir/codebooks")
    val books = bookRows.groupBy(_._2).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._1).map(_._3).toArray)
    (cents, books)
  }

  /** Load a stored index. With tombstones present the codes relation
    * anti-joins them lazily (cell partition pruning still reaches the
    * scan below the join); a store that never saw a delete loads with
    * its exact pre-tombstone plan.
    */
  /** Assemble a [[PqIndex]] under a per-sub reader (raw or
    * snapshot); the ledger anti-joins lazily.
    */
  private def mkPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, rd: String => DataFrame): PqIndex = {
    val (cents, books) = loadPqParams(spark, dir)
    PqIndex(cents, books,
      Stores.pq.dropDeleted(spark, dir, rd("codes")))
  }

  def loadPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String): PqIndex =
    mkPqIndex(spark, dir, Stores.pq.raw(spark, dir))

  /** Incrementally add a batch to a STORED PQ index: encode the new
    * vectors with the STORED codebooks (no retraining — drift accumulates
    * in quantizer fit only, fixed by an offline rebuild, never in the
    * stored codes) and append to the cell-partitioned codes; existing
    * files are never rewritten. Reads only the two tiny params tables.
    */
  def appendPqIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      batch: DataFrame, idCol: String, vecCol: String): Unit =
    StoreFiles.clusterForWrite(
        pqCodesDelta(spark, dir, batch, idCol, vecCol), "cell")
      .write.mode("append").partitionBy("cell").parquet(s"$dir/codes")

  /** The encoded-codes delta a batch contributes under a STORED index's
    * params — routed and encoded with the stored centroids/codebooks
    * (reads only the two tiny params tables). Shared by
    * [[appendPqIndex]] (batch append-as-new-files) and the streaming
    * twin ([[graft.streaming.DocumentStreams.pqIngestBatch]], which
    * writes the same delta to the micro-batch's own partition).
    */
  def pqCodesDelta(spark: org.apache.spark.sql.SparkSession, dir: String,
      batch: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val (cents, books) = loadPqParams(spark, dir)
    batch.select(col(idCol).as("neighbor_id"), quantize(col(vecCol)).as("cv"))
      .select(col("neighbor_id"),
        nearestCell(col("cv"), cents).as("cell"),
        pqEncode(col("cv"), books).as("codes"))
  }

  /** Codebook-STALENESS metric: the exact-integer ADC reconstruction
    * error of `df` under the STORED codebooks at `dir` — one row
    * (n, sum_dist2, mean_dist2), where each vector's dist² is its
    * self-ADC distance ([[adcDist2]] against its own [[pqEncode]]
    * codes: Σ over subspaces of the exact integer distance to the
    * chosen sub-centroid) and the mean is the floor integer division.
    * All-BIGINT, so the report is engine- and partitioning-exact.
    *
    * [[appendPqIndex]] deliberately encodes drift batches with stored
    * codebooks (correct — drift accumulates in quantizer FIT, never in
    * the stored codes), but nothing else measures that fit decaying;
    * this is the number an operator watches to decide when to retrain
    * offline: flat across appends = in-distribution, rising = the
    * codebooks no longer describe the incoming data.
    */
  def pqCodingError(spark: org.apache.spark.sql.SparkSession, dir: String,
      df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val (_, books) = loadPqParams(spark, dir)
    df.select(col(idCol).as("id"), quantize(col(vecCol)).as("cv"))
      .select(adcDist2(col("cv"), pqEncode(col("cv"), books), books)
        .as("dist2"))
      .agg(count(lit(1)).as("n"), sum(col("dist2")).as("sum_dist2"))
      .select(col("n"), col("sum_dist2"),
        expr("sum_dist2 DIV n").as("mean_dist2"))
  }

  /** [[appendPqIndex]] plus one staleness-ledger row: the batch's
    * [[pqCodingError]] appended as a new file of `dir/coding_error`
    * (same new-files-only contract as the codes append) — the
    * per-append relation a monitoring job reads to plot coding-error
    * growth across appends.
    */
  def appendPqIndexReported(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, idCol: String, vecCol: String): Unit = {
    appendPqIndex(spark, dir, batch, idCol, vecCol)
    pqCodingError(spark, dir, batch, idCol, vecCol)
      .coalesce(1).write.mode("append").parquet(s"$dir/coding_error")
  }

  /** AUTO-RETRAIN policy for the LEARNED index parameters — the
    * [[graft.operators.CompactionPolicy]] idea applied to MODEL
    * staleness instead of file fragmentation: codebooks trained on
    * yesterday's distribution code today's drifted batches worse and
    * worse ([[pqCodingError]] measures it); fire a retrain when a
    * batch's mean coding error exceeds `maxRatioPct`% of the
    * SAVE-TIME baseline (the error of the training corpus under its
    * own codebooks). Pure integer comparison — no float thresholds.
    */
  final case class RetrainPolicy(maxRatioPct: Int = 150) {
    require(maxRatioPct >= 100,
      s"RetrainPolicy: maxRatioPct must be >= 100, got $maxRatioPct")
    /** Should the batch's coding error trigger a retrain? */
    def triggered(baselineMean: Long, batchMean: Long): Boolean =
      batchMean * 100L > baselineMean * maxRatioPct.toLong
  }

  /** Record the save-time coding-error BASELINE: the training corpus'
    * own [[pqCodingError]] under the just-trained codebooks — the
    * denominator every later [[maintainPqCodebooks]] decision divides
    * by. One-row parquet beside the params tables (save-time state,
    * like them).
    */
  def recordPqBaseline(spark: org.apache.spark.sql.SparkSession,
      dir: String, trainCorpus: DataFrame, idCol: String,
      vecCol: String): Unit = {
    val r = pqCodingError(spark, dir, trainCorpus, idCol, vecCol).head()
    writeBaselineRow(spark, dir, r)
  }

  private def writeBaselineRow(spark: org.apache.spark.sql.SparkSession,
      dir: String, r: org.apache.spark.sql.Row): Unit =
    StoreFiles.writeParams(spark, dir, Seq(
      "n" -> r.getAs[Long]("n").toString,
      "sum_dist2" -> r.getAs[Long]("sum_dist2").toString,
      "mean_dist2" -> r.getAs[Long]("mean_dist2").toString),
      sub = "baseline_error")

  /** Build + committed save + baseline record over ONE encode of the
    * training corpus — the fused form of
    * `savePqIndexCommitted(buildPqIndex(corpus…)); recordPqBaseline(corpus…)`,
    * which paid the full pqEncode pass TWICE (once into the stored
    * codes, once again re-encoding the corpus for its own coding
    * error). Here the encode lands in a pinned frame carrying the
    * self-ADC dist² alongside the codes (the exact [[pqCodingError]]
    * expression over the same codes column, so the recorded baseline
    * is bit-identical); the committed save writes the codes projection
    * of the pin and the baseline aggregates its dist² column — the
    * corpus is encoded exactly once at any scale.
    */
  def savePqIndexCommittedWithBaseline(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      corpus: DataFrame, idCol: String, vecCol: String, nlist: Int = 16,
      nSub: Int = 8, ksub: Int = 16, iters: Int = 3): Unit = {
    val (q, centroids, books) =
      buildPqParts(corpus, idCol, vecCol, nlist, nSub, ksub, iters)
    val coded = q
      .select(col("id").as("neighbor_id"), col("v").as("cv"))
      .select(col("neighbor_id"),
        nearestCell(col("cv"), centroids).as("cell"),
        pqEncode(col("cv"), books).as("codes"), col("cv"))
      .select(col("neighbor_id"), col("cell"), col("codes"),
        adcDist2(col("cv"), col("codes"), books).as("dist2"))
      .localCheckpoint()
    savePqIndexCommitted(PqIndex(centroids, books,
      coded.select(col("neighbor_id"), col("cell"), col("codes"))), dir)
    val r = coded
      .agg(count(lit(1)).as("n"), sum(col("dist2")).as("sum_dist2"))
      .select(col("n"), col("sum_dist2"),
        expr("sum_dist2 DIV n").as("mean_dist2"))
      .head()
    writeBaselineRow(spark, dir, r)
  }

  /** Background-maintenance step for the CODEBOOKS (the model-side
    * twin of maintain*L0): measure the batch's coding error against
    * the stored baseline; when the policy fires, RETRAIN on the full
    * current corpus — a fresh committed save (new centroids/codebooks,
    * every vector re-encoded, history collapses to generation 0, the
    * offline-rebuild semantics) — and re-record the baseline, so a
    * later batch from the SAME new distribution no longer fires.
    * Returns whether a retrain ran. `corpus` must be the raw vectors
    * of everything the index should hold — codes are lossy, so a
    * retrain cannot be reconstructed from the store itself; the
    * caller owns the corpus relation (same contract as every build).
    */
  def maintainPqCodebooks(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, policy: RetrainPolicy): Boolean = {
    val baseMean = StoreFiles.readParams(spark, dir,
      sub = "baseline_error")("mean_dist2").toLong
    val batchMean = pqCodingError(spark, dir, batch, idCol, vecCol)
      .head().getAs[Long]("mean_dist2")
    if (!policy.triggered(baseMean, batchMean)) false
    else {
      // fused retrain: one encode feeds both the stored codes and the
      // re-recorded baseline (the old build+save+record paid it twice)
      savePqIndexCommittedWithBaseline(spark, dir, corpus, idCol, vecCol)
      true
    }
  }

  /** Nightly small-file compaction for a stored PQ index: one file per
    * cell partition of the codes table, guarded temp-swap, ADC results
    * unchanged; the two params tables are untouched. Tombstones (if
    * any) are applied physically — deleted ids' codes dropped, the
    * tombstones directory removed — bounding tombstone growth. Safe to
    * die between the swap and the tombstone delete (the load-time
    * anti join over already-removed codes is a no-op).
    */
  def compactPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit =
    Stores.pq.compactScaffold(spark, dir) { (manifested, tombs) =>
      Map("codes" ->
        (if (manifested)
           loadPqIndexSnapshot(spark, dir).codes.localCheckpoint()
         else {
           val raw = spark.read.parquet(s"$dir/codes")
           tombs.fold(raw)(t =>
             raw.join(broadcast(t), Seq("neighbor_id"), "left_anti"))
         }))
    } { (_, src, tmp) =>
      src.repartition(col("cell")).write.partitionBy("cell").parquet(tmp)
    }

  // ------------------------------------------------------------------
  // Snapshot-manifest commits for the PQ index — the same generation-
  // numbered commit log the postings family carries
  // ([[graft.operators.StoreFiles]] manifest section), on the family
  // whose serving path matters most: a vector index whose reader lists
  // the codes directory mid-append would score a TORN batch. Only the
  // codes table is manifested (appends write nothing else; the params
  // tables are save-time-immutable, the tombstone ledger and the
  // coding-error ledger are each single-append-file commits already).
  // ------------------------------------------------------------------

  /** [[savePqIndex]] plus the initial manifest (generation 0). */
  def savePqIndexCommitted(index: PqIndex, dir: String): Unit =
    Stores.pq.saveCommitted(index.codes.sparkSession, dir) {
      savePqIndex(index, dir)
    }

  /** [[appendPqIndex]] with the commit point (and, with `expectedGen`
    * from `Stores.pq.gen`, optimistic concurrency — a stale expectation
    * refuses and leaves the batch's files as vacuum-reclaimable
    * orphans). Returns the committed generation.
    */
  def appendPqIndexCommitted(spark: org.apache.spark.sql.SparkSession,
      dir: String, batch: DataFrame, idCol: String, vecCol: String,
      expectedGen: Option[Long] = None): Long =
    Stores.pq.appendCommitted(spark, dir, expectedGen) {
      appendPqIndex(spark, dir, batch, idCol, vecCol)
    }

  /** [[appendPqIndexCommitted]] made EXACTLY-ONCE for a replayable
    * writer (foreachBatch): `batchId` rides the manifest commit as a
    * ledger header; a re-delivered id writes nothing and returns None
    * ([[StoreFiles.commitAppendIdempotent]] — the ledger survives
    * [[StoreFamily.compactL0]]'s re-base).
    */
  def appendPqIndexCommittedIdempotent(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      batch: DataFrame, idCol: String, vecCol: String,
      batchId: Long): Option[Long] =
    Stores.pq.appendCommittedIdempotent(spark, dir, batchId) {
      appendPqIndex(spark, dir, batch, idCol, vecCol)
    }

  /** Load exactly the committed codes file set — torn appends invisible;
    * with `asOf`, time travel to that generation. basePath keeps the
    * cell partition column (and probe pruning) intact. The tombstone
    * ledger is unversioned, so deletes apply to historical reads too
    * (right-to-be-forgotten — a forgotten vector never resurfaces
    * through an as-of load).
    */
  def loadPqIndexSnapshot(spark: org.apache.spark.sql.SparkSession,
      dir: String, asOf: Option[Long] = None): PqIndex =
    mkPqIndex(spark, dir, Stores.pq.snapshot(spark, dir, asOf))

  /** [[loadPqIndexSnapshot]] restricted to `neighbor_id ∈ [lo, hi]`
    * with ZONE-MAP FILE SKIPPING: committed codes files whose
    * manifest-recorded (min, max) envelope misses the range never
    * enter the scan's file list, and the range predicate is also
    * applied in-plan (correctness never rests on the stats). Serving
    * against this index IS filtered search — disallowed candidates
    * never reach the ADC expression, so
    * `pqSearchIndex(..., loadPqIndexSnapshotRange(lo, hi), ...)` ≡
    * `pqSearchIndex(..., corpusFilter = id BETWEEN lo AND hi)` row for
    * row, but reads only the surviving files: on a store committed in
    * id-range batches (the natural shape when ingest partitions by id
    * epoch), a serve over one batch's range reads ~1/batches of the
    * codes bytes, at ANY corpus size.
    */
  def loadPqIndexSnapshotRange(spark: org.apache.spark.sql.SparkSession,
      dir: String, lo: Long, hi: Long): PqIndex =
    mkPqIndex(spark, dir,
      Stores.pq.snapshotSkipping(spark, dir, "neighbor_id", lo, hi))

  /** Serve IVF-PQ top-k against a stored index — q116's ADC scan with
    * ZERO training jobs: queries rank cells against the loaded centroids
    * (driver literals, no corpus job), probe their nprobe best, and score
    * the probed cells' CODES with [[adcDist2]]. The cell equi-join prunes
    * the codes table to nprobe/nlist of its partitions.
    *
    * `corpusFilter` is the FILTERED-SEARCH hook (metadata-restricted
    * ANN): a predicate over the codes columns (`neighbor_id`, `cell`,
    * plus whatever metadata the caller stored alongside) applied BEFORE
    * scoring — disallowed rows never reach the ADC expression, and on a
    * loaded index a plain comparison predicate additionally reaches the
    * codes parquet scan as a pushed filter (arithmetic predicates stay a
    * post-scan Filter, still upstream of the join). The top-k then ranks
    * allowed candidates only, which is the semantics a post-filter of a
    * k-limited result CANNOT give (it returns < k rows when the filter
    * bites).
    */
  def pqSearchIndex(queries: DataFrame, index: PqIndex, idCol: String,
      vecCol: String, k: Int, nprobe: Int = 4,
      corpusFilter: Option[Column] = None): DataFrame = {
    val qb = pinProbes(cellRanked(queries, idCol, vecCol, index.centroids)
      .filter(col("crn") <= nprobe)
      .select(col("id").as("query_id"), col("vm").as("qv"), col("cell")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist2").asc, col("neighbor_id").asc)
    corpusFilter.foldLeft(index.codes.filter(probedCells(qb)))(
        (c, f) => c.filter(f))
      .join(broadcast(qb), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        adcDist2(col("qv"), col("codes"), index.books).as("adc_dist2"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** ADC shortlist + EXACT re-rank — THE DEFAULT SERVING PATH for a
    * stored PQ index (the raw [[pqSearchIndex]] ADC ranking is the
    * store-lifecycle proof the commit/ledger/zone-map rows exercise,
    * not what a product query should run: RecallAtScaleSpec pins raw
    * ADC recall@10 at 0.150 vs 0.360 refined at sf0.1, and the floor
    * for THIS path is asserted at >= 0.35). Two-stage shape (Jégou
    * et al.'s IVFADC+R refinement): the stored index ADC-ranks each
    * query's probed cells down to a `shortlist` of candidates using
    * codes only, then ONLY those |q|·shortlist rows fetch their raw
    * vectors back from the corpus (the shortlist BROADCASTS to a
    * scan-side hash join on neighbor_id — the corpus never shuffles)
    * and the final top-k is exact quantized cosine. This recovers the
    * PQ coding loss entirely within the probed cells: as `shortlist`
    * grows past the probed-cell population, the result CONVERGES TO
    * [[ivfSearch]] with the same centroids and nprobe (spec-pinned
    * equality). Measured recall@10 on the driver fixtures with the
    * default shortlist = 50: matches plain IVF's 0.56 (sf0.001) /
    * 0.655 (sf0.01) — vs 0.215 / 0.295 for the raw ADC ranking.
    */
  def pqSearchRefined(queries: DataFrame, index: PqIndex, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int = 4,
      shortlist: Int = 50): DataFrame = {
    val short = pqSearchIndex(queries, index, idCol, vecCol, shortlist, nprobe)
      .select(col("query_id"), col("neighbor_id"))
    val cv = corpus.select(col(idCol).as("neighbor_id"),
      quantize(col(vecCol)).as("cv"))
    val qv = queries.select(col(idCol).as("query_id"),
      quantize(col(vecCol)).as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cv.join(broadcast(short), Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotLong(col("qv"), col("cv")).cast("double") /
          (sqrt(dotLong(col("qv"), col("qv")).cast("double")) *
           sqrt(dotLong(col("cv"), col("cv")).cast("double")))).as("cosine"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Serve top-k against a stored index: queries probe their nprobe best
    * cells; the per-cell equi-join prunes to those cells' partitions.
    */
  def ivfSearchIndex(queries: DataFrame, index: IvfIndex, idCol: String,
      vecCol: String, k: Int, nprobe: Int = 4): DataFrame = {
    val qb = pinProbes(cellRanked(queries, idCol, vecCol, index.centroids)
      .filter(col("crn") <= nprobe)
      .select(col("id").as("query_id"), col("vm").as("qv"), col("cell")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    index.assignments.filter(probedCells(qb)).join(broadcast(qb), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dotLong(col("qv"), col("cv")) /
          (sqrt(dotLong(col("qv"), col("qv")).cast("double")) *
           sqrt(dotLong(col("cv"), col("cv")).cast("double")))).as("cosine"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  // ------------------------------------------------------------------
  // Semantic dedup & diversity sampling over the IVF cell structure —
  // the k-means cells double as the comparison scope (SemDeDup) and
  // the strata (cluster-quota sampling), so the quadratic work is
  // bounded per cell, never corpus-wide.
  // ------------------------------------------------------------------

  /** (id, vm, cell, csim): milli-quantized corpus with its argmax cell
    * and cosine to that cell's centroid. The cell dot is `array_max` of
    * the per-cell scores (the assignment IS the argmax, so no second
    * pass); centroid norms enter as exact ∑c² long literals, one IEEE
    * sqrt each — engine-identical, the oracle replays the same integers.
    */
  private def assignWithCentroidSim(corpus: DataFrame, idCol: String,
      vecCol: String, cents: Array[Array[Long]]): DataFrame = {
    val normSq = longLit(cents.map(c => c.map(x => x * x).sum))
    corpus.select(col(idCol).as("id"), quantize(col(vecCol)).as("vm"))
      .withColumn("sl", cellScores(col("vm"), cents))
      .withColumn("cell",
        (array_position(col("sl"), array_max(col("sl"))) - 1).cast("int"))
      .withColumn("csim",
        array_max(col("sl")) /
          (sqrt(dotLong(col("vm"), col("vm")).cast("double")) *
           sqrt(element_at(normSq, col("cell") + 1).cast("double"))))
      .drop("sl")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the corpus
    * with the integer k-means coarse quantizer, compare embeddings ONLY
    * within their cluster, and drop a document when a sufficiently-
    * similar cluster-mate dominates it. Deterministic form of the
    * paper's keep-the-point-farthest-from-the-centroid policy: for each
    * within-cell pair with cosine ≥ `threshold`, the endpoint with the
    * LOWER centroid cosine survives (ties break to the lower id); the
    * kept set is the docs with no dominating partner.
    *
    * Scale: nlist grows with the corpus (nlist ≈ N/targetCellSize), so
    * per-cell pair work stays bounded — the published algorithm's
    * intent. The self-join is an equi-join on the cell key, never a
    * cartesian; integer-deterministic k-means means the oracle replays
    * the trained centroids as SQL literals, and every comparison is an
    * integer dot + one IEEE sqrt/divide, engine-identical.
    *
    * @return one row per corpus doc: (vec_id, cell, centroid_sim,
    *         kept 1/0)
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 16, iters: Int = 3): DataFrame = {
    val cents = trainCentroids(corpus, idCol, vecCol, nlist, iters)
    if (cents.isEmpty)
      return corpus.sparkSession.emptyDataFrame
        .select(lit(0L).as("vec_id"), lit(0).as("cell"),
          lit(0.0).as("centroid_sim"), lit(1).as("kept")).limit(0)
    val assigned = assignWithCentroidSim(corpus, idCol, vecCol, cents)
    val l = assigned.select(col("cell"), col("id").as("id_a"),
      col("vm").as("va"), col("csim").as("ca"))
    val r = assigned.select(col("cell"), col("id").as("id_b"),
      col("vm").as("vb"), col("csim").as("cb"))
    val dominated = l.join(r, Seq("cell"))
      .filter(col("id_a") =!= col("id_b"))
      .filter(cosineQuantized(col("va"), col("vb")) >= threshold)
      .filter(col("cb") < col("ca") ||
        (col("cb") === col("ca") && col("id_b") < col("id_a")))
      .select(col("id_a").as("id")).distinct()
    assigned
      .join(dominated.withColumn("dom", lit(1)), Seq("id"), "left")
      .select(col("id").as("vec_id"), col("cell"),
        col("csim").as("centroid_sim"),
        when(col("dom").isNotNull, lit(0)).otherwise(lit(1)).as("kept"))
  }

  /** Cluster-quota DIVERSITY sample: assign docs to their k-means cell
    * and cap each cell at `quota` rows chosen by a deterministic md5
    * order — the cluster-balanced subset shape (shed mass from over-
    * dense regions of embedding space while keeping coverage of sparse
    * ones). One scan + one per-cell bounded window; order is a pure
    * function of the id, so the sample is reproducible across engines
    * and partitionings.
    *
    * @return kept rows only: (vec_id, cell, pos) with pos = 1..quota
    */
  def diverseSample(corpus: DataFrame, idCol: String, vecCol: String,
      quota: Int, nlist: Int = 16, iters: Int = 3): DataFrame = {
    require(quota >= 1, s"diverseSample: quota must be >= 1, got $quota")
    val cents = trainCentroids(corpus, idCol, vecCol, nlist, iters)
    if (cents.isEmpty)
      return corpus.sparkSession.emptyDataFrame
        .select(lit(0L).as("vec_id"), lit(0).as("cell"),
          lit(0).as("pos")).limit(0)
    val m = graft.operators.Curation.md5Micro("divs:", col("id"))
    val w = Window.partitionBy(col("cell")).orderBy(m.asc, col("id").asc)
    corpus.select(col(idCol).as("id"), quantize(col(vecCol)).as("vm"))
      .withColumn("cell", nearestCell(col("vm"), cents))
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <= quota)
      .select(col("id").as("vec_id"), col("cell"), col("pos"))
  }
}
