package graft

import graft.operators.Graph
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** Fixed-point PageRank: known-graph values, symmetry, mass bounds,
  * determinism.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long)], iters: Int = 6): Map[Long, Long] =
    Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters)
      .as[(Long, Long)].collect().toMap

  test("symmetric cycle: every node gets exactly S div N") {
    // 3-cycle both directions: the uniform distribution is stationary,
    // and with floor arithmetic each step reproduces base + d·(S/N)/1
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (2L, 1L), (3L, 2L), (1L, 3L))
    val r = ranks(edges)
    assert(r.keySet == Set(1L, 2L, 3L))
    // uniform within 1 pico of each other (floor noise only)
    assert(r.values.max - r.values.min <= 3,
      s"cycle ranks must stay uniform, got $r")
    // total mass bounded by the scaled total (floors only lose mass)
    assert(r.values.sum <= Graph.Scale)
    assert(r.values.sum > Graph.Scale * 99 / 100)
  }

  test("star graph: the hub outranks every leaf") {
    // hub 0 ↔ leaves 1..6
    val edges = (1L to 6L).flatMap(l => Seq((0L, l), (l, 0L)))
    val r = ranks(edges)
    val hub = r(0L)
    (1L to 6L).foreach(l => assert(hub > r(l),
      s"hub $hub must outrank leaf ${r(l)}"))
    // leaves are symmetric — identical ranks, not merely close
    assert((1L to 6L).map(r).toSet.size == 1)
  }

  test("multi-edges collapse: duplicating an edge changes nothing") {
    val base = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
    assert(ranks(base) == ranks(base ++ base ++ Seq((1L, 2L))))
  }

  test("deterministic across runs and partitionings") {
    val edges = (1L to 40L).flatMap { i =>
      val j = (i * 7) % 40 + 1
      Seq((i, j), (j, i))
    }
    val a = ranks(edges)
    val b = Graph.pageRank(edges.toDF("src", "dst").repartition(13),
        "src", "dst", 6)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }

  test("dangling nodes evaporate mass but ranks stay well-defined") {
    // 1 → 2 → 3, no back edges: 3 is dangling
    val r = ranks(Seq((1L, 2L), (2L, 3L)))
    assert(r.keySet == Set(1L, 2L, 3L))
    assert(r.values.sum < Graph.Scale, "dangling mass must evaporate")
    assert(r(3L) > r(1L), "sink accumulates more than the source")
  }

  test("hits: the double-cited page is the top authority, the double-citer the top hub") {
    // 1 → 3, 2 → 3, 1 → 4: 3 is cited twice, 1 cites twice
    val edges = Seq((1L, 3L), (2L, 3L), (1L, 4L)).toDF("src", "dst")
    val out = Graph.hits(edges, "src", "dst", iters = 4)
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // max normalization pins the top of each side to exactly HitsScale
    assert(out(3L)._2 == Graph.HitsScale, "3 is the top authority")
    assert(out(1L)._1 == Graph.HitsScale, "1 is the top hub")
    assert(out(3L)._2 > out(4L)._2)
    assert(out(1L)._1 > out(2L)._1)
    // pure sources have no authority; pure sinks no hub score
    assert(out(1L)._2 == 0L && out(3L)._1 == 0L)
  }

  test("hits is deterministic across partitionings") {
    val edges = (1L to 30L).flatMap(i => Seq((i, (i * 3) % 30 + 31)))
    val a = Graph.hits(edges.toDF("src", "dst"), "src", "dst", 4)
      .as[(Long, Long, Long)].collect().toSet
    val b = Graph.hits(edges.toDF("src", "dst").repartition(7),
        "src", "dst", 4)
      .as[(Long, Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("hits: the edges, ranks and distributed tiers give equal results") {
    val rnd = new scala.util.Random(17)
    def inCore() = 1L + rnd.nextInt(40)
    // a random core over 1..40 (duplicates and self-loops included), pure
    // sources 100..104 citing into it, pure sinks 200..204 cited from
    // it, an isolated pair 300 → 301, and null endpoints: 400 and 401
    // are nodes only through an edge whose other end is null
    val random: Seq[(Option[Long], Option[Long])] =
      (Seq.fill(150)((inCore(), inCore())) ++
        (100L to 104L).flatMap(s => Seq.fill(3)((s, inCore()))) ++
        (200L to 204L).flatMap(t => Seq.fill(2)((inCore(), t))) :+ ((300L, 301L)))
        .map { case (a, b) => (Some(a), Some(b)) } ++
        Seq((Some(400L), None), (None, Some(401L)), (None, None),
          (Some(3L), None), (None, Some(3L)))
    def some(g: Seq[(Long, Long)]) = g.map { case (a, b) => (Some(a), Some(b)) }
    val graphs = Seq(
      some(Seq((1L, 3L), (2L, 3L), (1L, 4L))),
      some((1L to 30L).map(i => (i, (i * 3) % 30 + 31))),
      random)
    for (g <- graphs) {
      def run(budget: Long) =
        Graph.hits(g.toDF("src", "dst"), "src", "dst", 4, driverBudget = budget)
      val edges = run(Long.MaxValue)
      assert(edges.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
        "a small graph takes a driver tier")
      // 24 bytes a collected edge and 16 a node (a null node included):
      // one byte short of the edges takes the ranks tier
      val nEdges = g.distinct.size
      val nNodes = g.flatMap(e => Seq(e._1, e._2)).distinct.size
      assert(16L * nNodes < 24L * nEdges - 1)
      val ranks = run(24L * nEdges - 1).as[(Long, Long, Long)].collect().toSet
      val distributed = run(0L).as[(Long, Long, Long)].collect().toSet
      assert(edges.as[(Long, Long, Long)].collect().toSet == distributed)
      assert(ranks == distributed)
      assert(distributed.map(_._1) == g.flatMap(e => Seq(e._1, e._2)).flatten.toSet)
    }
  }

  test("hits on the driver: at most three jobs a half-round") {
    // the ranks tier: a budget that holds the 40 node ids (16 bytes
    // each) but not the 30 edges (24 bytes each). The distributed rounds
    // ran about nine jobs (AQE stages, the checkpoint and the max) per
    // half-round
    val edges = (1L to 30L).map(i => (i, (i * 3) % 30 + 31)).toDF("src", "dst")
    val iters = 4
    val jobs = jobsOf(Graph.hits(edges, "src", "dst", iters,
      driverBudget = 16L * 40 + 40).collect())
    assert(jobs.size <= 3 * 2 * iters + 6, s"jobs by SQL execution: $jobs")
    assert(jobs.size > 8, s"the ranks tier runs jobs every half-round: $jobs")
  }

  test("hits over driver-held edges: a q197-shaped graph in at most 8 jobs") {
    // customers (even ids) buying from suppliers (odd ids) through many
    // line items, duplicates included, as q197 joins orders to lineitem
    val lines = (0 until 600).map(i => ((i % 37).toLong * 2, (i * 7 % 23).toLong * 2 + 1))
    val edges = lines.toDF("src", "dst").repartition(4)
    val jobs = jobsOf(Graph.hits(edges, "src", "dst", iters = 4)
      .orderBy(col("auth").desc, col("hub").desc, col("node").asc)
      .limit(20).collect())
    assert(jobs.size <= 8, s"jobs by SQL execution: $jobs")
  }

  test("bfsHops: exact hop distances on a path graph, min over multiple seeds") {
    // path 1-2-3-4-5 (bidirectional), seeds {1, 5}
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val seeds = Seq(1L, 5L).toDF("node")
    val d = Graph.bfsHops(e.toDF("src", "dst"), "src", "dst",
        seeds, "node", maxHops = 4)
      .as[(Long, Long)].collect().toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
  }

  test("bfsHops: maxHops truncates the reach; unreachable nodes are absent") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 10L))
    val d = Graph.bfsHops(e.toDF("src", "dst"), "src", "dst",
        Seq(1L).toDF("node"), "node", maxHops = 2)
      .as[(Long, Long)].collect().toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("triangleCounts: K4 gives every node 3 triangles; an appended tail adds none") {
    val k4 = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    val withTail = k4 ++ Seq((4L, 9L))
    val t = Graph.triangleCounts(withTail.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(t == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangleCounts counts each triangle once regardless of duplicate edges") {
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val t = Graph.triangleCounts((tri ++ tri).toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(t == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("triangleCounts: degree orientation bounds the wedge relation on a mid-ID hub") {
    // the skew case raw-ID orientation gets wrong: hub 100 with 100
    // degree-1 neighbors straddling its id (0-99 below, 101-200 above).
    // ID ordering keeps ~d/2 edges on each side of the hub, so the
    // u→v→w wedge join roots 100·100 = 10,000 rows at the hub before
    // the closing join prunes them all (no triangles exist). Degree
    // ordering sorts the hub LAST: all 200 edges point INTO it, the hub
    // roots zero wedges, and the wedge relation is empty.
    val hub = 100L
    val edges = ((0L until hub) ++ (hub + 1 to 2 * hub))
      .map(n => if (n < hub) (n, hub) else (hub, n))
    val e = edges.toDF("a", "b")
    def wedges(fwd0: org.apache.spark.sql.DataFrame): Long = {
      val fwd = fwd0.toDF("u", "v")
      fwd.as("uv").join(fwd.as("vw"), col("uv.v") === col("vw.u")).count()
    }
    val idOriented = e // the old orientation: the raw a < b canonical form
    assert(wedges(idOriented) == hub * hub,
      "ID orientation must exhibit the d^2/4-shaped wedge blowup this spec guards against")
    assert(wedges(Graph.orientByDegree(e)) == 0L,
      "degree orientation must root no wedges at the hub")
    assert(Graph.triangleCounts(e, "a", "b").count() == 0L)
  }

  test("triangleCounts: correct on a triangle-rich graph with a low-ID hub") {
    // node 0 is a hub (connected to 1..8) and the rim 1..8 is an
    // 8-cycle: triangles are exactly the 8 (0, i, i+1) fans. Every rim
    // node is in 2 fans, the hub in all 8 — counts must survive the
    // re-orientation.
    val rim = (1L to 8L).map(i => (i, if (i == 8) 1L else i + 1))
      .map { case (x, y) => (math.min(x, y), math.max(x, y)) }
    val spokes = (1L to 8L).map(i => (0L, i))
    val t = Graph.triangleCounts((rim ++ spokes).toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(t(0L) == 8L)
    assert((1L to 8L).forall(t(_) == 2L), s"rim counts wrong: $t")
  }

  private def core(edges: Seq[(Long, Long)], k: Int,
      rounds: Int): Map[Long, Long] =
    Graph.kCore(edges.toDF("a", "b"), "a", "b", k, rounds)
      .as[(Long, Long)].collect().toMap

  test("kCore: K4 plus a pendant chain peels to exactly the clique") {
    // K4 on 1..4; chain 4-5-6 hangs off it. k=3: 6 peels first (deg 1),
    // then 5, then the clique survives with internal degree 3 each.
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val chain = Seq((4L, 5L), (5L, 6L))
    val c = core(k4 ++ chain, k = 3, rounds = 3)
    assert(c == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $c")
  }

  test("kCore: peeling cascades one onion layer per round") {
    // chain 1-2-3-4-5 with k=2: endpoints peel each round, the whole
    // chain dies — but only after enough rounds. After 1 round the
    // middle still stands (deterministic intermediate state, the same
    // relation the unrolled oracle computes).
    val chain = (1L to 4L).map(i => (i, i + 1))
    // round 1 drops the endpoints; survivors report their NEW degree
    // within the peeled subgraph (2-3-4 path): 2:1, 3:2, 4:1
    assert(core(chain, k = 2, rounds = 1) ==
      Map(2L -> 1L, 3L -> 2L, 4L -> 1L))
    // round 2 peels the new endpoints, leaving node 3 edgeless → gone
    assert(core(chain, k = 2, rounds = 2).isEmpty)
  }

  test("kCore: fixpoint check, self-loops ignored, duplicates collapse") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val noisy = k4 ++ k4.map(_.swap) ++ Seq((9L, 9L), (9L, 9L))
    val c = Graph.kCore(noisy.toDF("a", "b"), "a", "b", k = 3, rounds = 2)
    assert(c.as[(Long, Long)].collect().toMap ==
      Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    assert(Graph.kCoreFixpointReached(c, k = 3))
    // a graph still mid-peel: chain endpoints drop but round 1 leaves
    // degree-1 survivors → fixpoint NOT reached
    val mid = Graph.kCore((1L to 4L).map(i => (i, i + 1)).toDF("a", "b"),
      "a", "b", k = 2, rounds = 1)
    assert(!Graph.kCoreFixpointReached(mid, k = 2))
  }

  private def trusts(edges: Seq[(Long, Long)], seeds: Seq[Long],
      iters: Int = 6): Map[Long, Long] =
    Graph.trustRank(edges.toDF("src", "dst"), "src", "dst",
      seeds.toDF("node"), iters).as[(Long, Long)].collect().toMap

  test("trustRank: trust decays with distance from the seed and never " +
      "reaches a node untouched by the whitelist") {
    // s → a → b, plus spammy c → b (c has in-links from nobody): trust
    // flows s > a > b; c gets NOTHING however much it links out
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 3L))
    val t = trusts(edges, seeds = Seq(1L))
    assert(t(1L) > t(2L) && t(2L) > t(3L) && t(3L) > 0L,
      s"trust must decay along the chain, got $t")
    assert(t(4L) == 0L,
      s"a node unreachable from the whitelist must hold zero trust, got $t")
    // mass is conserved to the whitelist's teleport: Σ ≤ Scale
    assert(t.values.sum <= Graph.Scale)
    // the same graph under uniform PageRank DOES pay c — the spam
    // shape TrustRank exists to demote (c outranks nothing here, but
    // its rank is strictly positive under pageRank)
    val pr = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", 6)
      .as[(Long, Long)].collect().toMap
    assert(pr(4L) > 0L)
  }

  test("trustRank: seeds outside the graph are ignored; an all-outside " +
      "whitelist refuses; symmetric seeds split trust evenly") {
    val edges = Seq((1L, 2L), (2L, 1L))
    // node 99 is not in the graph — the surviving whitelist is {1}
    val t = trusts(edges, seeds = Seq(1L, 99L))
    assert(t(1L) > t(2L) && !t.contains(99L))
    intercept[IllegalArgumentException] {
      trusts(edges, seeds = Seq(99L))
    }
    // both nodes seeded on a symmetric 2-cycle: identical trust
    val sym = trusts(edges, seeds = Seq(1L, 2L))
    assert(sym(1L) == sym(2L))
  }

  test("trustRank is deterministic across partitionings") {
    val edges = (1L to 30L).map(i => (i, i % 7 + 1))
    val a = trusts(edges, seeds = Seq(1L, 3L))
    val b = Graph.trustRank(
      edges.toDF("src", "dst").repartition(13), "src", "dst",
      Seq(3L, 1L).toDF("node").repartition(3), 6)
      .as[(Long, Long)].collect().toMap
    assert(a == b)
  }
}
