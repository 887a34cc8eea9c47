package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Iterative graph analytics over edge relations — the rank/centrality
  * side of the graph story whose connectivity side is the incremental
  * connected components in [[Dedup]]. Extension surface: the reference
  * has no graph operators at all.
  *
  * Everything here is FIXED-POINT INTEGER arithmetic (the same
  * engine-exactness discipline as the BM25/PCA/NB literals): ranks are
  * integer shares of a scaled total mass, every division is an integer
  * `div` over non-negative values, so Spark and any mirror engine agree
  * bit-for-bit and the result is partitioning-invariant (integer sums
  * are exact and commutative — no IEEE reassociation drift).
  */
object Graph {

  /** Pin a STATIC relation that still needs `dedupCols`-dedup with
    * `localCheckpoint`, partitioned and sorted on `key`: repartition
    * FIRST, dedup after — hash(`key`) co-locates every duplicate group
    * (key ∈ dedupCols, so HashPartitioning(key) satisfies
    * ClusteredDistribution(dedupCols)), making the dedup
    * partition-local. One shuffle buys dedup + pin together, where
    * `.distinct().repartition(key)` would pay two edge-sized ones.
    *
    * The pin computes the relation once and keeps each round's lineage
    * one step deep. It does NOT make the rounds exchange-free: the
    * checkpoint's LogicalRDD reports unknown partitioning (so does a
    * cached relation), so every per-round join or aggregation keyed on
    * `key` re-shuffles this side, unless AQE turns the join into a
    * broadcast of the other side.
    */
  private def pinDedupByKey(df: DataFrame, key: String,
      dedupCols: Seq[String]): DataFrame =
    df.repartition(col(key)).dropDuplicates(dedupCols)
      .sortWithinPartitions(key).localCheckpoint()

  /** [[pinDedupByKey]] for an aggregation/distinct output ALREADY
    * hash-partitioned on `key` (a groupBy/dropDuplicates keyed on it):
    * just sort and pin — a repartition here would be a redundant
    * key-identical exchange Spark does not elide.
    */
  private def pinAgged(df: DataFrame, key: String): DataFrame =
    df.sortWithinPartitions(key).localCheckpoint()

  /** Total scaled rank mass: ranks are "picos" of 1 (1e12 units). Large
    * enough that 6-8 iterations of floor division keep ~6 significant
    * digits on graphs up to ~1e9 nodes; small enough that
    * dampBp · mass = 8.5e15 stays far inside BIGINT.
    */
  val Scale: Long = 1000L * 1000 * 1000 * 1000

  /** PageRank by power iteration with floor arithmetic.
    *
    * Per iteration (damping in basis points, d = dampBp/10⁴):
    * {{{
    *   share(u)  = r(u) div outdeg(u)
    *   r'(v)     = ((10⁴−dampBp)·(S div N)) div 10⁴
    *             + (dampBp · Σ_{u→v} share(u)) div 10⁴
    * }}}
    * The floors are part of the OPERATOR SEMANTICS (documented
    * "PageRank with floor division") — a deliberate trade for exact
    * cross-engine reproducibility; the dropped fractional mass per node
    * per iteration is < 1 pico · (outdeg + 2). Dangling nodes (no
    * out-edges) simply evaporate their mass, the simplified power
    * iteration — pass bidirectional edges for a random-walk-on-
    * undirected-graph reading, which also guarantees no dangling nodes.
    *
    * Scale shape: each iteration is one equi-join of the edge relation
    * with the current rank relation (shuffle keyed on src) plus a keyed
    * aggregation on dst — the standard distributed PageRank step, no
    * driver state beyond the node COUNT (one scalar). Ranks are
    * `localCheckpoint`ed every iteration so the plan stays one-step
    * deep (the lineage of an iterative join chain otherwise grows
    * exponentially in the optimizer).
    *
    * @param edges  (srcCol, dstCol) LONG node ids; duplicate edges are
    *               collapsed (multi-edges would double-count shares)
    * @param iters  power iterations (6-8 reaches ~1e-3 relative
    *               stationarity on social-ish graphs)
    * @return (node, rank) — rank in [[Scale]] units, Σ rank ≤ Scale
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, dampBp: Int = 8500): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampBp >= 0 && dampBp <= 10000,
      s"dampBp must be in [0, 10000], got $dampBp")
    // Static relations computed and pinned ONCE: the edge relation and
    // out-degrees, the node universe. The pins keep each round's lineage
    // one step deep but do not save its exchanges: a localCheckpoint
    // reports unknown partitioning, so every round re-shuffles (or AQE
    // broadcasts) the pinned sides it joins, besides the contribution
    // aggregation's hash(dst).
    val e = pinDedupByKey(edges.select(col(srcCol).as("src"),
      col(dstCol).as("dst")), "src", Seq("src", "dst"))
    val nodes = pinAgged(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct(), "node")
    // one scalar to the driver — the same bounded collect as the BM25
    // (N, T) stats row
    val n = nodes.count()
    require(n > 0, "pageRank: empty graph")
    // keyed "src" directly (not "node") so the per-round join needs no
    // rename
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .sortWithinPartitions("src").localCheckpoint()
    val base = ((10000L - dampBp) * (Scale / n)) / 10000L
    var r = nodes.withColumn("rank", lit(Scale / n))
    for (_ <- 1 to iters) {
      val contrib = e
        .join(r.withColumnRenamed("node", "src"), Seq("src"))
        .join(outdeg, Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("rank div d")).as("contrib"))
      r = nodes
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(base) +
            expr(s"(${dampBp}L * coalesce(contrib, 0L)) div 10000L"))
            .as("rank"))
        .localCheckpoint()
    }
    r
  }

  /** TRUSTRANK (Gyöngyi, Garcia-Molina & Pedersen, VLDB'04) — biased
    * PageRank whose teleport mass lands ONLY on a curated trusted SEED
    * set: trust flows out of the whitelist along edges and decays with
    * distance, so a node reachable only through untrusted regions ends
    * near zero however well-linked it is. This is the crawl-quality /
    * spam-demotion signal of web-scale corpus curation (a high
    * PageRank with a low TrustRank is the classic link-spam shape) —
    * the graph-side sibling of the content-side quality gates.
    *
    * Identical execution contract to [[pageRank]]: edges, out-degrees
    * and nodes pinned once, the same per-round joins and hash(dst)
    * aggregation, floor-integer [[Scale]] arithmetic any engine replays.
    * Differences, both standard TrustRank: (a) r₀ = Scale/|S| on the
    * seeds and 0 elsewhere (the seed distribution, not uniform);
    * (b) the per-round teleport term is per-NODE — (1−d)·Scale/|S| on
    * seeds, 0 elsewhere — so total mass stays ≤ Scale with trust
    * conserved to the whitelist. Seeds not present in the graph are
    * ignored (they can neither receive nor forward trust); requiring
    * at least one surviving seed is the caller-visible contract.
    *
    * @param seeds single-column relation of trusted node ids (the
    *              whitelist — bounded by curation definition, but
    *              joined, never collected)
    * @return (node, trust) in [[Scale]] units, Σ trust ≤ Scale
    */
  def trustRank(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, iters: Int, dampBp: Int = 8500): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(dampBp >= 0 && dampBp <= 10000,
      s"dampBp must be in [0, 10000], got $dampBp")
    val e = pinDedupByKey(edges.select(col(srcCol).as("src"),
      col(dstCol).as("dst")), "src", Seq("src", "dst"))
    val nodes0 = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    // seed membership rides the node universe (one flag column) so the
    // per-round teleport needs no extra join; seeds outside the graph
    // drop out of the inner join here
    val seedIds = seeds.toDF("node").distinct()
    val nodes = pinAgged(
      nodes0.join(seedIds.withColumn("is_seed", lit(1)),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("is_seed"), lit(0)).as("is_seed")),
      "node")
    val s = nodes.filter(col("is_seed") === 1).count()
    require(s > 0, "trustRank: no seed survives in the graph")
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .sortWithinPartitions("src").localCheckpoint()
    val seedBase = ((10000L - dampBp) * (Scale / s)) / 10000L
    var r = nodes.select(col("node"), col("is_seed"),
      when(col("is_seed") === 1, lit(Scale / s)).otherwise(lit(0L))
        .as("rank"))
    for (_ <- 1 to iters) {
      val contrib = e
        .join(r.select(col("node").as("src"), col("rank")), Seq("src"))
        .join(outdeg, Seq("src"))
        .groupBy(col("dst").as("node"))
        .agg(sum(expr("rank div d")).as("contrib"))
      r = nodes
        .join(contrib, Seq("node"), "left")
        .select(col("node"), col("is_seed"),
          (when(col("is_seed") === 1, lit(seedBase)).otherwise(lit(0L)) +
            expr(s"(${dampBp}L * coalesce(contrib, 0L)) div 10000L"))
            .as("rank"))
        .localCheckpoint()
    }
    r.select(col("node"), col("rank").as("trust"))
  }

  /** Scale of [[hits]] scores: max-normalized to 1e6 ("micro of the top
    * node") so the normalization multiply a·S stays inside BIGINT even
    * at degree 10⁹ (a_raw ≤ d_max·S ≤ 10¹⁵; ·S = 10²¹ would overflow —
    * hence S = 10⁶, giving a_raw·S ≤ 10²¹⁻⁶ = safely bounded for
    * d_max ≤ 10⁶; document-scale graphs with larger hubs should bucket
    * first).
    */
  val HitsScale: Long = 1000000L

  /** HITS hubs & authorities (Kleinberg 1999) in fixed-point integers:
    * per iteration, authority(v) = Σ_{u→v} hub(u) then hub(u) =
    * Σ_{u→v} authority(v), each MAX-normalized to [[HitsScale]] by
    * integer division (x·S div max_x) — the classic power iteration
    * with max- instead of L2-normalization, chosen because it needs no
    * square root and keeps every intermediate an exact BIGINT both
    * engines reproduce. 4-6 iterations separate hubs from authorities
    * on link-shaped graphs.
    *
    * The deduplicated edges are pinned once. One budget, `driverBudget`
    * bytes of collected rows ([[Relational.collectWithin]]), picks one of
    * three tiers, tried in this order; all three give the same integers:
    *  - edges: the pinned edges fit (24 bytes an edge as `UnsafeRow`s).
    *    One collect, then every round runs on driver arrays: each edge is
    *    indexed once into the sorted node ids, and a half-round is one
    *    loop over the edges. No job after the collect; the result is a
    *    local relation.
    *  - ranks: the edges do not fit but the node ids do (16 bytes a
    *    node). Hub and authority are driver arrays; each half-round joins
    *    the edges with a broadcast local relation of the nonzero ranks
    *    and collects the per-node sums. At most three jobs a half-round;
    *    the result is a local relation.
    *  - distributed (neither fits, or `driverBudget` ≤ 0): the ranks are
    *    relations, each half-round's raw sums are pinned with
    *    `localCheckpoint`, and the max is observed while the pin runs.
    * On the driver tiers the driver fills absent nodes with 0, takes the
    * max and normalizes; sums use `Math.addExact` and the normalization
    * `Math.multiplyExact`, which throw on overflow as Spark's ANSI `sum`
    * and `*` do. The node set is every non-null endpoint; an edge with a
    * null endpoint adds to no sum, as it joins nothing in Spark.
    * The default budget is `spark.sql.autoBroadcastJoinThreshold`: the
    * rank side is what each half-round's join broadcasts, and AQE
    * broadcasts it under that bound on the ranks and distributed tiers.
    * A threshold of -1 (broadcasts off) takes the distributed tier.
    *
    * @param edges (srcCol, dstCol) integral node ids, cast to BIGINT;
    *              duplicate edges are collapsed and null ids drop out
    * @return (node, hub, auth) in [[HitsScale]] units (top node = S)
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String, iters: Int,
      driverBudget: Long = SQLConf.get.autoBroadcastJoinThreshold): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = pinDedupByKey(edges.select(col(srcCol).cast(LongType).as("src"),
      col(dstCol).cast(LongType).as("dst")), "src", Seq("src", "dst"))
    Relational.collectWithin(e.queryExecution.toRdd, e.schema, driverBudget) match {
      case Some(rows) => hitsOverEdges(e.sparkSession, rows, iters)
      case None =>
        val nodes = e.select(col("src").as("node"))
          .union(e.select(col("dst").as("node"))).distinct()
        Relational.collectWithin(nodes.queryExecution.toRdd, nodes.schema,
            driverBudget) match {
          case Some(rows) =>
            hitsOnDriver(e, rows.filterNot(_.isNullAt(0)).map(_.getLong(0)).sorted,
              iters)
          case None => hitsDistributed(e, pinAgged(nodes, "node"), iters)
        }
    }
  }

  /** `iters` rounds with hub and authority in driver arrays indexed like
    * the sorted, distinct `nodes`; `toAuth` and `toHub` give one
    * half-round's raw sums from the other side's ranks, which the driver
    * max-normalizes (`multiplyExact` throws on overflow, as Spark's ANSI
    * `*` does). The result is a local relation.
    */
  private def driverRounds(spark: org.apache.spark.sql.SparkSession,
      nodes: Array[Long], iters: Int)(toAuth: Array[Long] => Array[Long],
      toHub: Array[Long] => Array[Long]): DataFrame = {
    def maxNorm(raw: Array[Long], name: String): Array[Long] = {
      val m = raw.maxOption.getOrElse(0L)
      require(m > 0L, s"hits: degenerate graph, max $name = $m")
      raw.map(x => Math.multiplyExact(x, HitsScale) / m)
    }
    var h = Array.fill(nodes.length)(HitsScale)
    var a: Array[Long] = null
    for (_ <- 1 to iters) {
      a = maxNorm(toAuth(h), "auth")
      h = maxNorm(toHub(a), "hub")
    }
    spark.createDataFrame(
      nodes.indices.map(i => Row(nodes(i), h(i), a(i))).asJava,
      StructType(Seq("node", "hub", "auth")
        .map(StructField(_, LongType, nullable = false))))
  }

  /** [[hits]] on the collected (src, dst) `edges`: each half-round is one
    * loop over the edges, summing with `addExact` (Spark's ANSI `sum`
    * throws on overflow too).
    */
  private def hitsOverEdges(spark: org.apache.spark.sql.SparkSession,
      edges: Array[UnsafeRow], iters: Int): DataFrame = {
    val nodes = edges.iterator
      .flatMap(r => Iterator(0, 1).filterNot(r.isNullAt).map(r.getLong))
      .toArray.distinct.sorted
    // the edges that carry rank, each endpoint indexed into `nodes` once
    val whole = edges.filterNot(r => r.isNullAt(0) || r.isNullAt(1))
    def at(c: Int) = whole.map(r => java.util.Arrays.binarySearch(nodes, r.getLong(c)))
    val (src, dst) = (at(0), at(1))
    def sums(rank: Array[Long], from: Array[Int], to: Array[Int]): Array[Long] = {
      val raw = new Array[Long](nodes.length)
      for (i <- from.indices)
        raw(to(i)) = Math.addExact(raw(to(i)), rank(from(i)))
      raw
    }
    driverRounds(spark, nodes, iters)(sums(_, src, dst), sums(_, dst, src))
  }

  /** [[hits]] with the ranks on the driver and each half-round's edge
    * pass in Spark over the pinned `e`.
    */
  private def hitsOnDriver(e: DataFrame, nodes: Array[Long],
      iters: Int): DataFrame = {
    val spark = e.sparkSession
    // Σ rank(key) over the edges key → other, per `other` node; zero
    // ranks add nothing to a sum, so the broadcast side carries only the
    // nonzero ones
    def sums(rank: Array[Long], key: String, other: String): Array[Long] = {
      val side = spark.createDataFrame(
        nodes.indices.filter(rank(_) != 0L).map(i => Row(nodes(i), rank(i))).asJava,
        StructType(Seq(key, "r").map(StructField(_, LongType, nullable = false))))
      val raw = new Array[Long](nodes.length)
      e.join(broadcast(side), Seq(key)).groupBy(col(other))
        .agg(sum(col("r"))).collect()
        .foreach { r =>
          if (!r.isNullAt(0))
            raw(java.util.Arrays.binarySearch(nodes, r.getLong(0))) = r.getLong(1)
        }
      raw
    }
    driverRounds(spark, nodes, iters)(sums(_, "src", "dst"), sums(_, "dst", "src"))
  }

  /** [[hits]] with the ranks as relations over the pinned `nodes`. */
  private def hitsDistributed(e: DataFrame, nodes: DataFrame,
      iters: Int): DataFrame = {
    // Pin the RAW per-round aggregate and observe its max while the pin
    // runs, then normalize as a pure projection over the pin: the max
    // and the next round's join consume ONE materialization of the
    // edge join+agg, and the max costs no job of its own.
    def maxNorm(raw: DataFrame, c: String): DataFrame = {
      val obs = Observation()
      val pinned = raw.observe(obs, coalesce(max(col(c)), lit(0L)).as("m"))
        .localCheckpoint()
      val m = obs.get("m").asInstanceOf[Long]
      require(m > 0L, s"hits: degenerate graph, max $c = $m")
      pinned.select(col("node"),
        expr(s"($c * ${HitsScale}L) div ${m}L").as(c))
    }
    var h = nodes.withColumn("hub", lit(HitsScale))
    var a: DataFrame = null
    for (_ <- 1 to iters) {
      a = maxNorm(nodes.join(
          e.join(h.withColumnRenamed("node", "src"), Seq("src"))
            .groupBy(col("dst").as("node"))
            .agg(sum(col("hub")).as("auth")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("auth"), lit(0L)).as("auth")),
        "auth")
      h = maxNorm(nodes.join(
          e.join(a.withColumnRenamed("node", "dst"), Seq("dst"))
            .groupBy(col("src").as("node"))
            .agg(sum(col("auth")).as("hub")),
          Seq("node"), "left")
        .select(col("node"), coalesce(col("hub"), lit(0L)).as("hub")),
        "hub")
    }
    h.join(a, Seq("node")).select(col("node"), col("hub"), col("auth"))
  }

  /** Multi-source BFS: exact hop distance from the nearest seed, up to
    * `maxHops`. Iteration k relaxes every edge once —
    * dist'(v) = min(dist(v), min_{u→v} dist(u) + 1) — so after k
    * rounds every node within k hops carries its true distance.
    * Pure integer min/join arithmetic; the per-round relation holds
    * only REACHED nodes (frontier-bounded state, not |V|).
    *
    * @return (node, dist) for every node within `maxHops` of a seed
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be >= 0, got $maxHops")
    // edges deduplicated and pinned once; each relaxation joins them
    // with the frontier. The pin reports unknown partitioning, so every
    // round re-shuffles the edge side (or AQE broadcasts the frontier)
    // besides the min-dist aggregation over frontier-sized rows.
    val e = pinDedupByKey(edges.select(col(srcCol).as("src"),
      col(dstCol).as("dst")), "src", Seq("src", "dst"))
    var dist = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint()
    for (_ <- 1 to maxHops) {
      val relaxed = e
        .join(dist.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .localCheckpoint()
    }
    dist
  }

  /** k-core peel: iteratively delete every node of degree < k (and its
    * edges) for `rounds` rounds over an UNDIRECTED graph — the standard
    * graph-curation gate for link-farm / spam subgraph detection (a
    * dense scraped cluster survives a high-k peel; organic long-tail
    * pages do not). Matula/Beck peeling run a bounded number of rounds
    * so the result is a pure function of (edges, k, rounds) that any
    * engine reproduces by unrolling the same rounds; callers pick
    * `rounds` ≥ the graph's peel depth (typically ≤ 10-20 even on
    * web-scale graphs — each round removes a full "onion layer") and
    * [[kCoreFixpointReached]] checks one more round changes nothing.
    *
    * Scale shape per round: one keyed count aggregation (degrees) plus
    * two left-semi joins of the edge relation against the surviving
    * node set — all shuffles keyed on node id, no driver state at all
    * (not even a scalar), edge relation only ever shrinks.
    * localCheckpoint per round keeps the iterative lineage flat.
    *
    * @param edges  undirected edges as (aCol, bCol); orientation and
    *               duplicates are normalized away (self-loops dropped —
    *               a self-loop would let an isolated node count itself
    *               toward k)
    * @param k      minimum degree to survive a round
    * @param rounds peel rounds (fixed, part of the result's identity)
    * @return (node, degree) for nodes surviving all rounds, degree
    *         within the surviving subgraph
    */
  def kCore(edges: DataFrame, aCol: String, bCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // The shrinking edge relation is pinned every round. The relation
    // is SYMMETRIC, so swapping (src, dst) afterwards is a set-identity.
    // A localCheckpoint reports unknown partitioning, so each round's
    // degree aggregation and both semi joins re-shuffle the pinned
    // edges (or AQE broadcasts the surviving node set).
    var e = pinDedupByKey(symmetrizeRaw(edges, aCol, bCol), "src",
      Seq("src", "dst"))
    for (_ <- 1 to rounds) {
      val keep = e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select(col("node"))
      e = e.join(keep.withColumnRenamed("node", "src"), Seq("src"),
          "left_semi")
        .join(keep.withColumnRenamed("node", "dst"), Seq("dst"),
          "left_semi")
        .select(col("dst").as("src"), col("src").as("dst"))
        .localCheckpoint()
    }
    e.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))
  }

  /** True iff one more peel round would not change [[kCore]]'s result —
    * i.e. `rounds` already reached the fixpoint (every surviving degree
    * is ≥ k). One scalar aggregation. */
  def kCoreFixpointReached(core: DataFrame, k: Int): Boolean = {
    val m = core.agg(min(col("degree"))).head()
    m.isNullAt(0) || m.getLong(0) >= k
  }

  /** Both directions of an undirected edge list, no self-loops:
    * (a,b) → {(a,b), (b,a)} — NOT yet deduplicated (the caller's
    * [[pinDedupByKey]] folds the dedup into the pin shuffle). In the
    * deduplicated symmetric relation a node's out-count IS its
    * undirected degree. */
  private def symmetrizeRaw(edges: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val ab = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .filter(col("src") =!= col("dst"))
    ab.union(ab.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** Orient the canonical (a < b) edge list by DEGREE rank: each edge
    * points from its (degree, id)-smaller endpoint to the larger — the
    * Schank/Wagner orientation. Under it every node's FORWARD degree is
    * O(√m) (a node with forward degree d has d neighbors of degree ≥ d,
    * so d² ≤ 2m), which bounds the wedge relation at Σ d_fwd² ≤ 2m·√m
    * REGARDLESS of how ids fall on the hubs. Raw-id orientation has no
    * such bound: a hub whose neighbors straddle its id keeps ~d/2 edges
    * on each side and generates ~d²/4 wedges.
    */
  private[graft] def orientByDegree(e: DataFrame): DataFrame = {
    val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val fwd = // true iff rank(a) < rank(b) in the (deg, id) total order
      col("da") < col("db") || (col("da") === col("db") && col("a") < col("b"))
    e.join(deg.select(col("node").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("node").as("b"), col("deg").as("db")), Seq("b"))
      .select(when(fwd, col("a")).otherwise(col("b")).as("u"),
        when(fwd, col("b")).otherwise(col("a")).as("v"))
  }

  /** Per-node TRIANGLE counts over an UNDIRECTED edge list given as
    * canonical (a < b) pairs: edges are re-oriented by DEGREE rank
    * ([[orientByDegree]]), so each triangle is found exactly once
    * through its rank-ordered form u→v→w (two joins on the oriented
    * list), then credited to all three corners. Degree ordering — not
    * raw ids — is what caps the wedge explosion at Σ d_fwd² = O(m^1.5)
    * on skewed graphs (Schank & Wagner 2005): a high-degree hub sorts
    * LAST, so all its edges point into it and it roots no wedges.
    *
    * @param edges distinct (aCol, bCol) rows with aCol < bCol
    * @return (node, triangles) for nodes in ≥ 1 triangle
    */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = edges.select(col(aCol).as("a"), col(bCol).as("b"))
      .filter(col("a") < col("b")).distinct()
    val f = orientByDegree(e).localCheckpoint()
    val tri = f.as("uv")
      .join(f.as("vw"), col("uv.v") === col("vw.u"))
      .join(f.as("uw"),
        col("uw.u") === col("uv.u") && col("uw.v") === col("vw.v"))
      .select(col("uv.u").as("x"), col("uv.v").as("y"),
        col("vw.v").as("z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("triangles"))
  }
}
