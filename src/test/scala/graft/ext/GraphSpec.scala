package graft.ext

import graft.SparkSpec

class GraphSpec extends SparkSpec {

  test("connected components: chain, triangle, isolated pair") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3 forces several propagation rounds),
    // triangle 10-11-12, pair 20-21
    val edges = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (21L, 20L)).toDF("src", "dst")
    val got = Graph.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    graft.Caches.clearPersisted()
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("self-loops and duplicate edges are harmless") {
    import spark.implicits._
    val edges = Seq((1L, 1L), (1L, 2L), (2L, 1L), (1L, 2L)).toDF("src", "dst")
    val got = Graph.connectedComponents(edges).as[(Long, Long)].collect().toMap
    graft.Caches.clearPersisted()
    assert(got == Map(1L -> 1L, 2L -> 1L))
  }

  test("large-star/small-star agrees with min-label on structured + random graphs") {
    import spark.implicits._
    // structured shapes: long chain (worst case for propagation),
    // star, clique, self-loop singleton, two-node islands
    val chain = (1L until 40L).map(i => (i, i + 1))
    val star = (101L to 120L).map(i => (100L, i))
    val clique = for (i <- 200L to 207L; j <- (i + 1) to 207L) yield (i, j)
    val loops = Seq((500L, 500L), (601L, 600L))
    // deterministic pseudo-random edges over a 300-node id space
    val rnd = new scala.util.Random(42)
    val random = (1 to 400).map(_ => (rnd.nextInt(300).toLong + 1000L,
      rnd.nextInt(300).toLong + 1000L))
    val edges = (chain ++ star ++ clique ++ loops ++ random).toDF("src", "dst")
    // every block either function pins is query-scoped: none outlives
    // the clear (a coalesced or re-wrapped checkpoint used to stay)
    def persistentIds = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persistentIds
    val a = Graph.connectedComponents(edges).as[(Long, Long)].collect().toMap
    graft.Caches.clearPersisted()
    assert((persistentIds -- before).isEmpty, "connectedComponents left blocks")
    val b = Graph.connectedComponentsStars(edges).as[(Long, Long)].collect().toMap
    graft.Caches.clearPersisted()
    assert((persistentIds -- before).isEmpty, "connectedComponentsStars left blocks")
    assert(a == b)
    assert(b(40L) == 1L && b(120L) == 100L && b(500L) == 500L && b(601L) == 600L)
  }

  /** Reference PageRank: the same symmetrize / contribute / 9dp-round
    * loop in plain Scala maps — the in-test mirror of both the engine
    * and the DuckDB oracle's unrolled CTE chain.
    */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int,
      d: Double = 0.85): Map[Long, Double] = {
    val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter(e => e._1 != e._2).distinct
    val out = sym.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val n = out.size
    var r = out.keys.map(k => k -> 1.0 / n).toMap
    (1 to iters).foreach { _ =>
      val contrib = sym.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) => r(src) / out(src).size }.sum
      }
      r = contrib.map { case (k, c) =>
        k -> BigDecimal((1 - d) / n + d * c)
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    r
  }

  test("pageRank matches a plain-Scala reference on star + path + clique") {
    import spark.implicits._
    // star 1-{2,3,4}, path 10-11-12, triangle 20-21-22, plus a bridge
    // 4-10 so contributions cross shapes
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (10L, 11L), (11L, 12L),
      (20L, 21L), (21L, 22L), (22L, 20L), (4L, 10L)).toDF("src", "dst")
    val got = Graph.pageRank(edges, iterations = 4)
      .as[(Long, Double)].collect().toMap
    val want = refPageRank(Seq((1L, 2L), (1L, 3L), (1L, 4L), (10L, 11L),
      (11L, 12L), (20L, 21L), (21L, 22L), (22L, 20L), (4L, 10L)), 4)
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-9, s"node $k") }
    // structure sanity: the star hub out-ranks its leaves, triangle
    // nodes are symmetric, total mass ~ 1
    assert(got(1L) > got(2L) && got(2L) == got(3L))
    assert(got(20L) == got(21L) && got(21L) == got(22L))
    assert(math.abs(got.values.sum - 1.0) < 1e-6)
  }

  test("pageRank: duplicate/reversed/self-loop edges do not change ranks") {
    import spark.implicits._
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    val noisy = base ++ Seq((2L, 1L), (1L, 2L), (5L, 5L), (1L, 1L)) ++
      base.map(_.swap)
    val a = Graph.pageRank(base.toDF("src", "dst"), 3)
      .as[(Long, Double)].collect().toMap
    val b = Graph.pageRank(noisy.toDF("src", "dst"), 3)
      .as[(Long, Double)].collect().toMap
    graft.Caches.clearPersisted()
    // pure self-loop node 5 has no real edge and drops out of the graph.
    // Per-node tolerance, not Map == (r10 ADVICE: hash-aggregate addend
    // order over differently-partitioned inputs is not guaranteed, and
    // the 9dp per-iteration round only usually masks the ULP difference)
    assert(a.keySet == b.keySet)
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-9, s"node $k") }
  }

  test("pageRank and triangleCensus handle an empty edge list") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graph.pageRank(empty, 3).count() == 0)
    // only-self-loop input is an empty graph after the self-loop drop
    val loops = Seq((7L, 7L)).toDF("src", "dst")
    assert(Graph.pageRank(loops, 3).count() == 0)
    val census = Graph.triangleCensus(empty).as[(Long, Long, Double)].head()
    graft.Caches.clearPersisted()
    assert(census == ((0L, 0L, 0.0)))
  }

  test("pageRank/triangleCensus leave no orphan blocks after Caches cleanup") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    Graph.pageRank(edges, 4).count()
    Graph.triangleCensus(edges).count()
    graft.Caches.clearPersisted()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persisted RDD ids: $leaked")
  }

  /** Reference personalized weighted PageRank: the same symmetrize /
    * weighted-contribute / seed-teleport / 9dp-round loop in plain
    * Scala maps — the in-test mirror of the engine and the oracle.
    */
  private def refPpr(edges: Seq[(Long, Long, Long)], seeds: Set[Long],
      iters: Int, d: Double = 0.85): Map[Long, Double] = {
    val sym = edges.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
      .filter(e => e._1 != e._2)
    val bySrc = sym.groupBy(_._1)
    val wdeg = bySrc.view.mapValues(_.map(_._3).sum).toMap
    val nodes = bySrc.keySet
    val s = nodes.intersect(seeds)
    val ns = s.size
    var r = nodes.map(n => n -> (if (s(n)) 1.0 / ns else 0.0)).toMap
    (1 to iters).foreach { _ =>
      val contrib = sym.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _, w) => r(src) * w / wdeg(src) }.sum
      }
      r = nodes.map { n =>
        val tele = if (s(n)) (1 - d) / ns else 0.0
        n -> BigDecimal(tele + d * contrib.getOrElse(n, 0.0))
          .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      }.toMap
    }
    r
  }

  test("personalizedPageRank matches a plain-Scala reference; seed locality holds") {
    import spark.implicits._
    // weighted: the 1-2 edge is 3x heavier than 2-3; bridge 4-10 links
    // a second cluster the walk must discount through the restart
    val edges = Seq((1L, 2L, 3L), (2L, 3L, 1L), (3L, 1L, 1L), (1L, 4L, 2L),
      (4L, 10L, 1L), (10L, 11L, 2L), (11L, 12L, 1L))
    val seeds = Seq(1L, 2L)
    val got = Graph.personalizedPageRank(edges.toDF("src", "dst", "w"),
        seeds.toDF("node"), iterations = 4)
      .as[(Long, Double)].collect().toMap
    graft.Caches.clearPersisted()
    val want = refPpr(edges, seeds.toSet, 4)
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-9, s"node $k") }
    // restart mass keeps the walk near the seeds: any seed out-ranks
    // every far-cluster node; total mass ~ 1
    assert(Seq(10L, 11L, 12L).forall(f => got(1L) > got(f) && got(2L) > got(f)))
    assert(math.abs(got.values.sum - 1.0) < 1e-6)
  }

  test("personalizedPageRank: seeds outside the graph are dropped; none → empty") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    // seed 99 has no edges: ns must count only node 1
    val got = Graph.personalizedPageRank(edges, Seq(1L, 99L).toDF("node"), 3)
      .as[(Long, Double)].collect().toMap
    val want = Graph.personalizedPageRank(edges, Seq(1L).toDF("node"), 3)
      .as[(Long, Double)].collect().toMap
    graft.Caches.clearPersisted()
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-9, s"node $k") }
    assert(Graph.personalizedPageRank(edges, Seq(99L).toDF("node"), 3).count() == 0)
  }

  test("labelPropagation: planted two communities separated by one bridge") {
    import spark.implicits._
    // clique A = {1..5}, clique B = {10..15}, single bridge 5-10:
    // connected components would merge everything; LPA must keep the
    // two dense clusters apart and label each with its min node
    val cliqueA = for (i <- 1L to 5L; j <- (i + 1) to 5L) yield (i, j)
    val cliqueB = for (i <- 10L to 15L; j <- (i + 1) to 15L) yield (i, j)
    val edges = (cliqueA ++ cliqueB ++ Seq((5L, 10L))).toDF("src", "dst")
    val got = Graph.labelPropagation(edges, iterations = 4)
      .as[(Long, Long)].collect().toMap
    graft.Caches.clearPersisted()
    assert((1L to 5L).forall(got(_) == 1L),
      s"clique A must converge to label 1: $got")
    assert((10L to 15L).forall(got(_) == 10L),
      s"clique B must converge to label 10: $got")
  }

  test("labelPropagation: deterministic under duplicate/reversed edges and empty input") {
    import spark.implicits._
    val base = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
    val noisy = base ++ base.map(_.swap) ++ Seq((1L, 1L), (1L, 2L))
    val a = Graph.labelPropagation(base.toDF("src", "dst"), 4)
      .as[(Long, Long)].collect().toMap
    val b = Graph.labelPropagation(noisy.toDF("src", "dst"), 4)
      .as[(Long, Long)].collect().toMap
    graft.Caches.clearPersisted()
    assert(a == b) // integer voting: exact equality is safe here
    assert(Graph.labelPropagation(
      Seq.empty[(Long, Long)].toDF("src", "dst"), 4).count() == 0)
  }

  test("labelPropagation weighted: tie strength overrides link count") {
    import spark.implicits._
    // node 100 has TWO unit edges into clique A = {1,2,3} but ONE
    // heavy (w=10) edge to hub 200 of clique B = {200,201,202}:
    // unweighted voting pulls 100 into A (2 votes vs 1); weighted
    // voting pulls it into B (10 vs 2). B's internal ties (w=20)
    // out-weigh the spoke so the hub stays anchored in its own clique
    // (a symmetric heaviest-dyad would label-swap — sync LPA's known
    // oscillation — and B would adopt 100's label instead)
    val cliqueA = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L))
    val cliqueB = Seq((200L, 201L, 20L), (201L, 202L, 20L), (200L, 202L, 20L))
    val spoke = Seq((100L, 1L, 1L), (100L, 2L, 1L), (100L, 200L, 10L))
    val edges = (cliqueA ++ cliqueB ++ spoke).toDF("src", "dst", "w")
    val unw = Graph.labelPropagation(edges, iterations = 4)
      .as[(Long, Long)].collect().toMap
    val wtd = Graph.labelPropagation(edges, iterations = 4, weighted = true)
      .as[(Long, Long)].collect().toMap
    graft.Caches.clearPersisted()
    // the PARTITION is the contract (which side 100 lands on); exact
    // label values are an LPA artifact (min ids spread through hubs)
    def groupsOf(m: Map[Long, Long]): (Set[Long], Set[Long]) =
      (Set(m(1L), m(2L), m(3L)), Set(m(200L), m(201L), m(202L)))
    val (unwA, unwB) = groupsOf(unw)
    val (wtdA, wtdB) = groupsOf(wtd)
    assert(unwA.size == 1 && unwB.size == 1 && unwA != unwB,
      s"two communities must survive unweighted: $unw")
    assert(wtdA.size == 1 && wtdB.size == 1 && wtdA != wtdB,
      s"two communities must survive weighted: $wtd")
    assert(unw(100L) == unwA.head, s"unweighted: 100 joins clique A (2 links vs 1): $unw")
    assert(wtd(100L) == wtdB.head, s"weighted: the w=10 tie pulls 100 into B: $wtd")
  }

  test("triangleCensus: planted counts and clustering") {
    import spark.implicits._
    // triangle 1-2-3 with pendant 3-4, isolated edge 10-11:
    // T=1; degrees 2,2,3,1,1,1 -> wedges 1+1+3 = 5; C = 3/5
    val got = Graph.triangleCensus(
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (10L, 11L))
        .toDF("src", "dst"))
      .as[(Long, Long, Double)].head()
    graft.Caches.clearPersisted()
    assert(got == ((1L, 5L, 0.6)))
    // K4: every wedge closes -> T=4, W=12, C=1.0
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val got4 = Graph.triangleCensus(k4.toDF("src", "dst"))
      .as[(Long, Long, Double)].head()
    graft.Caches.clearPersisted()
    assert(got4 == ((4L, 12L, 1.0)))
  }

  test("localClustering: planted coefficients; per-node credits sum to 3T") {
    import spark.implicits._
    // triangle 1-2-3 with pendant 3-4: c(1)=c(2)=1.0 (deg 2, 1 tri),
    // c(3)=2·1/(3·2)=1/3, node 4 excluded (deg 1)
    val got = Graph.localClustering(
      Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst"))
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    graft.Caches.clearPersisted()
    assert(got == Map(
      1L -> ((2L, 1L, 1.0)), 2L -> ((2L, 1L, 1.0)), 3L -> ((3L, 1L, 0.333333))))
    // K4: every node deg 3, 3 triangles each, c = 1.0; credits = 3T = 12
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val gotK4 = Graph.localClustering(k4.toDF("src", "dst"))
      .as[(Long, Long, Long, Double)].collect()
    graft.Caches.clearPersisted()
    assert(gotK4.length == 4 && gotK4.forall(r => r._2 == 3L && r._3 == 3L && r._4 == 1.0))
    // cross-check against the global census on a random graph:
    // Σ per-node triangles = 3 · T
    val rnd = new scala.util.Random(11)
    val edges = (1 to 400).map(_ => (rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    val perNode = Graph.localClustering(edges)
      .agg(org.apache.spark.sql.functions.sum("n_tri")).head().getLong(0)
    val global = Graph.triangleCensus(edges).as[(Long, Long, Double)].head()
    graft.Caches.clearPersisted()
    assert(perNode == 3 * global._1, s"credits $perNode != 3 x ${global._1}")
  }

  test("bfsHops: path distances, round bound, isolated seed kept at 0") {
    import spark.implicits._
    // path 1-2-3-4-5 seeded at {1, 99}: node 5 is 4 hops away and must
    // NOT appear with rounds = 3; isolated seed 99 reports distance 0
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val seeds = Seq(1L, 99L).toDF("node")
    val got = Graph.bfsHops(edges, seeds, rounds = 3)
      .as[(Long, Long)].collect().toMap
    graft.Caches.clearPersisted()
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 99L -> 0L))
  }

  test("ssspBounded: cheap detour beats the direct edge; round bound is exact") {
    import spark.implicits._
    // A(1)—B(2) cost 5, B—C(3) cost 1, A—C cost 10: the 2-edge detour
    // (cost 6) beats the direct edge (10) — but only once rounds ≥ 2.
    // After 1 round the best known C is the direct 10.
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 1L), (1L, 3L, 10L))
      .toDF("src", "dst", "c")
    val seeds = Seq(1L).toDF("node")
    val r1 = Graph.ssspBounded(edges, seeds, rounds = 1)
      .as[(Long, Long)].collect().toMap
    graft.Caches.clearPersisted()
    val r2 = Graph.ssspBounded(edges, seeds, rounds = 2)
      .as[(Long, Long)].collect().toMap
    graft.Caches.clearPersisted()
    assert(r1 == Map(1L -> 0L, 2L -> 5L, 3L -> 10L))
    assert(r2 == Map(1L -> 0L, 2L -> 5L, 3L -> 6L))
    // undirectedness: seeding C finds A through the same detour
    val r2c = Graph.ssspBounded(edges, Seq(3L).toDF("node"), rounds = 2)
      .as[(Long, Long)].collect().toMap
    graft.Caches.clearPersisted()
    assert(r2c == Map(3L -> 0L, 2L -> 1L, 1L -> 6L))
  }

  test("bfsHops: min over multiple seeds and reversed-duplicate edges") {
    import spark.implicits._
    // triangle 1-2-3 plus tail 3-4; seeds {1, 4}: node 3 is 1 hop from
    // both sides, node 2 is 1 from seed 1 / 2 from seed 4 -> min wins
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (2L, 1L), (4L, 3L)).toDF("src", "dst")
    val got = Graph.bfsHops(edges, Seq(1L, 4L).toDF("node"), rounds = 2)
      .as[(Long, Long)].collect().toMap
    graft.Caches.clearPersisted()
    assert(got == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
  }

  test("kCore: clique survives, pendant tail peels, duplicates harmless") {
    import spark.implicits._
    // 4-clique {1,2,3,4}; pendant path 4-5-6-7 (peels back to the
    // clique one hop per round); duplicate + reversed + self-loop noise
    val clique = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val tail = Seq((4L, 5L), (5L, 6L), (6L, 7L))
    val noise = Seq((2L, 1L), (1L, 2L), (3L, 3L))
    val got = Graph.kCore((clique ++ tail ++ noise).toDF("src", "dst"), k = 3)
      .as[(Long, Long)].collect().toMap
    graft.Caches.clearPersisted()
    // survivors = exactly the clique, each with induced degree 3
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCore: k above max degree empties the graph; k=1 drops nothing connected") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val none = Graph.kCore(edges, k = 2, rounds = 2).count()
    val all = Graph.kCore(edges, k = 1, rounds = 2)
      .as[(Long, Long)].collect().toMap
    graft.Caches.clearPersisted()
    // path 1-2-3: k=2 peels the endpoints round 1, then node 2 round 2
    assert(none == 0L)
    assert(all == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("bfsHopsFrontier: parity with full relaxation on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val edges = (1 to 250).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    val seeds = Seq(1L, 7L, 42L).toDF("node")
    val full = Graph.bfsHops(edges, seeds, rounds = 4)
      .as[(Long, Long)].collect().toMap
    val frontier = Graph.bfsHopsFrontier(edges, seeds, rounds = 4)
      .as[(Long, Long)].collect().toMap
    graft.Caches.clearPersisted()
    assert(frontier == full)
  }

  test("kCore: cores nest (3-core within 2-core) on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val edges = (1 to 300).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    // enough rounds to converge on a 40-node graph
    val c2 = Graph.kCore(edges, k = 2, rounds = 8).as[(Long, Long)]
      .collect().toMap
    val c3 = Graph.kCore(edges, k = 3, rounds = 8).as[(Long, Long)]
      .collect().toMap
    graft.Caches.clearPersisted()
    // nesting: every 3-core member is a 2-core member, and its degree
    // can only GROW in the larger induced subgraph
    assert(c3.keySet.subsetOf(c2.keySet))
    c3.foreach { case (node, d3) => assert(d3 <= c2(node), s"node $node") }
    // converged cores respect the defining bound
    assert(c2.values.forall(_ >= 2) && c3.values.forall(_ >= 3))
  }

  test("kCore: the plan does not grow with the peel rounds") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    def joins(rounds: Int): Int = {
      val plan = org.apache.spark.sql.graftshim.ColumnShim.logicalPlan(
        Graph.kCore(edges, k = 2, rounds = rounds))
      plan.collect { case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }.size
    }
    val (two, eight) = (joins(2), joins(8))
    graft.Caches.clearPersisted()
    assert(eight == two)
  }

  test("triangleCensus degree-oriented count equals the naive id-ordered join") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val edges = (1 to 600).map(_ => (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    val census = Graph.triangleCensus(edges)
      .as[(Long, Long, Double)].head()
    graft.Caches.clearPersisted()
    import org.apache.spark.sql.functions._
    val e = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b")).distinct()
    val naive = e.as("x")
      .join(e.as("y"), col("y.a") === col("x.b"))
      .join(e.as("z"), col("z.a") === col("x.a") && col("z.b") === col("y.b"))
      .count()
    assert(census._1 == naive)
  }

  test("HITS: one iteration is exact on a planted bipartite graph") {
    import spark.implicits._
    // hubs {1,2} → auths {10,11,12}: 1 touches all three, 2 only 10.
    // iter 1: a = (2,1,1) → max-norm (1, .5, .5); h = (2, 1) → (1, .5)
    val e = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L)).toDF("src", "dst")
    val got = Graph.hits(e, iterations = 1)
      .as[(String, Long, Double)].collect().toSet
    graft.Caches.clearPersisted()
    assert(got === Set(("hub", 1L, 1.0), ("hub", 2L, 0.5),
      ("authority", 10L, 1.0), ("authority", 11L, 0.5),
      ("authority", 12L, 0.5)))
  }

  test("HITS: two iterations keep max-normalization and symmetry invariants") {
    import spark.implicits._
    val e = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 10L)).toDF("src", "dst")
    val got = Graph.hits(e, iterations = 2)
      .as[(String, Long, Double)].collect()
    graft.Caches.clearPersisted()
    val hubs = got.filter(_._1 == "hub").map(r => r._2 -> r._3).toMap
    val auths = got.filter(_._1 == "authority").map(r => r._2 -> r._3).toMap
    // the top node on each side is pinned to exactly 1.0 by max-norm
    assert(hubs(1L) === 1.0 && auths(10L) === 1.0)
    // 11 and 12 have identical in-edges → identical authority
    assert(auths(11L) === auths(12L))
    assert(hubs(2L) > 0.0 && hubs(2L) < 1.0)
    assert(auths(11L) > 0.0 && auths(11L) < 1.0)
  }

  test("graph_random_walk: every step follows an edge, walks are complete and deterministic") {
    val dir = "/root/testdata/sf0.001"
    val q = graft.SparkEntry.queries("graph_random_walk")
    val rows = q(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    graft.Caches.clearPersisted()
    val bySeed = rows.groupBy(_._1)
    assert(bySeed.nonEmpty)
    // complete fixed-length walks: steps 0..4 once each per seed
    bySeed.foreach { case (_, ws) =>
      assert(ws.map(_._2).sorted.toSeq == Seq(0L, 1L, 2L, 3L, 4L), ws.toSeq.toString)
    }
    // every consecutive (node_i, node_{i+1}) must be a co-purchase edge
    import spark.implicits._
    val walkEdges = bySeed.values.flatMap { ws =>
      val m = ws.map(w => w._2 -> w._3).toMap
      (0 until 4).map(i => (m(i.toLong), m(i.toLong + 1)))
    }.toSeq
    val li = spark.read.parquet(dir + "/lineitem.parquet")
      .select($"l_orderkey".as("okey"), $"l_partkey".as("pk")).distinct()
    val edges = li.as("a").join(li.as("b"), $"a.okey" === $"b.okey" && $"a.pk" =!= $"b.pk")
      .select($"a.pk".as("s"), $"b.pk".as("d")).distinct()
      .as[(Long, Long)].collect().toSet
    walkEdges.foreach { case (a, b) => assert(edges.contains((a, b)), s"($a,$b) not an edge") }
    // deterministic: a second run returns the identical table
    val again = q(spark, dir).collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    graft.Caches.clearPersisted()
    assert(rows.toSeq == again.toSeq)
  }

  test("louvainMoveLabels: hand-computed synchronous move round") {
    import spark.implicits._
    // W = 11; strengths: s1=4 s2=5 s3=1 s4=6 s5=6
    // gain2(v→u) = 2W·w_vu − s_v·s_u:
    //   1→2: 88−20=68   2→1: 88−20=68   2→3: 22−5=17 (argmax for 2 is 1)
    //   3→2: 22−5=17    4→5: 132−36=96  5→4: 96
    val edges = Seq((1L, 2L, 4L), (2L, 3L, 1L), (4L, 5L, 6L))
      .toDF("src", "dst", "w")
    val got = Graph.louvainMoveLabels(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 1L, 3L -> 2L, 4L -> 5L, 5L -> 4L))
    graft.Caches.clearPersisted()
  }

  test("louvainMoveLabels: argmax prefers higher gain, then smaller node id") {
    import spark.implicits._
    // node 1 has equal-weight ties to 2 and 3; s2 = s3 (symmetric), so
    // both gains tie — label must be the SMALLER neighbor id (2)
    val edges = Seq((1L, 2L, 2L), (1L, 3L, 2L), (2L, 9L, 1L), (3L, 8L, 1L))
      .toDF("src", "dst", "w")
    val got = Graph.louvainMoveLabels(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 2L)
    graft.Caches.clearPersisted()
  }

  test("louvainCondense: inter-community sums, intra weight as self-loops") {
    import spark.implicits._
    // two unit-weight triangles {1,2,3} and {4,5,6} bridged 3—4.
    // Phase-1 synchronous move (W=7, hand-computed gains):
    //   1→2, 2→1, 3→1, 4→5, 5→6, 6→5
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
      (4L, 6L), (5L, 6L)).map { case (a, b) => (a, b, 1L) }
      .toDF("src", "dst", "w")
    val l1 = Graph.louvainMoveLabels(edges)
    val got1 = l1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 4L -> 5L,
      5L -> 6L, 6L -> 5L))
    val cond = Graph.louvainCondense(edges, l1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(cond == Set((1L, 1L, 1L), (1L, 2L, 2L), (1L, 5L, 1L),
      (5L, 5L, 1L), (5L, 6L, 2L)))
    graft.Caches.clearPersisted()
  }

  test("louvainMoveLabelsWithSelfLoops: condensed move, self-loop strength") {
    import spark.implicits._
    // the condensed super-graph from the triangles fixture: W stays 7;
    // strengths s(1)=2·1+2+1=5, s(2)=2, s(5)=2·1+1+2=5, s(6)=2.
    // gains: 1→2: 28−10=18  1→5: 14−25=−11  (2↔1, 5↔6, 6↔5 mirror)
    val cond = Seq((1L, 1L, 1L), (1L, 2L, 2L), (1L, 5L, 1L),
      (5L, 5L, 1L), (5L, 6L, 2L)).toDF("src", "dst", "w")
    val got = Graph.louvainMoveLabelsWithSelfLoops(cond).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 1L, 5L -> 6L, 6L -> 5L))
    graft.Caches.clearPersisted()
  }

  test("louvainMoveLabelsWithSelfLoops: isolated self-loop community keeps its label") {
    import spark.implicits._
    val cond = Seq((1L, 1L, 3L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    val got = Graph.louvainMoveLabelsWithSelfLoops(cond).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node 1 has only its self-loop → never a candidate, stays 1;
    // W=4, s2=s3=1: gain2(2→3) = 8−1 = 7 > 0 → 2 and 3 swap-merge
    assert(got == Map(1L -> 1L, 2L -> 3L, 3L -> 2L))
    graft.Caches.clearPersisted()
  }

  test("swap break: a mutual-best pair MERGES in its round instead of swapping") {
    import spark.implicits._
    // single edge (1,2): mutual best, gain2 = 2·1·1 − 1·1 = 1 > 0.
    // Ungated synchronous kernel: the documented label swap.
    val e = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    val swap = Graph.louvainMoveLabelsWithSelfLoops(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(swap == Map(1L -> 2L, 2L -> 1L))
    // swapFree: the smaller member (1) holds, 2 joins it — merged.
    val merged = Graph.louvainMoveLabelsWithSelfLoops(e, swapFree = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == Map(1L -> 1L, 2L -> 1L))
    graft.Caches.clearPersisted()
  }

  test("louvainFull: two bridged triangles — hand-computed telemetry to the no-move fixed point") {
    import spark.implicits._
    // triangles {1,2,3} and {5,6,7} bridged by (3,5); W = 7.
    // Level 1 (hand-computed, gain2 = 14·w − s_v·s_u): 1↔2 mutual
    // (10 each) → swap break holds 1, 2→1; 3→1 (tie 8 with 2, u asc),
    // 5→6 (8), 6↔7 mutual (10) → holds 6, 7→6... 6's best is 7 (10)
    // — (6,7) mutual → 6 holds, 7→6; 5→6 rides along →
    // communities {1:{1,2,3}, 6:{5,6,7}}; condensed
    // e1 = (1,1,3),(1,6,1),(6,6,3): intra=6, strengths 7/7 →
    // ssq=98, sc1 = 168−98 = 70 > sc0 = −34. Level 2: only candidate
    // move 1↔6 has gain2 = 14−49 < 0 → n_moved = 0, e2 ≡ e1,
    // sc2 = sc1 → stop. The no-move FIXED POINT is the emitted stall
    // — exactly what the swap break exists to make reachable (the
    // ungated kernel swapped both pairs here forever).
    val edges = Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L),
      (3L, 5L, 1L), (5L, 6L, 1L), (5L, 7L, 1L), (6L, 7L, 1L))
      .toDF("src", "dst", "w")
    val got = Graph.louvainFull(edges, maxLevels = 10).orderBy("level")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.toSeq == Seq(
      (0L, 6L, 0L, 0L, -0.173469), // Q0 = −34/196
      (1L, 2L, 4L, 6L, 0.357143), // Q1 = 6/7 − 98/196; 1 and 6 held
      (2L, 2L, 0L, 6L, 0.357143)), // n_moved = 0: the fixed point
      got.toSeq.toString)
    // the dQ stop's invariant: modularity strictly rises on every
    // emitted level EXCEPT the final (stalling) one
    got.map(_._5).toSeq.sliding(2).toSeq.dropRight(1).foreach {
      case Seq(a, b) => assert(b > a)
      case _ => ()
    }
    got.map(_._5).toSeq.takeRight(2) match {
      case Seq(a, b) => assert(b <= a || got.size <= 1)
      case _ => ()
    }
    graft.Caches.clearPersisted()
  }

  test("conductance: two triangles + bridge, hand-computed") {
    import spark.implicits._
    // triangle {1,2,3} (edge 1-2 weighted 2), triangle {4,5,6},
    // bridge 3-4; W = 8, 2W = 16
    val edges = Seq(
      (1L, 2L, 2L), (2L, 3L, 1L), (1L, 3L, 1L),
      (4L, 5L, 1L), (5L, 6L, 1L), (4L, 6L, 1L),
      (3L, 4L, 1L)).toDF("src", "dst", "w")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L),
      (4L, 4L), (5L, 4L), (6L, 4L)).toDF("node", "community")
    val got = Graph.conductance(edges, labels)
      .orderBy("community")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    graft.Caches.clearPersisted()
    // vol(1) = 2·(2+1+1) + 1 = 9, cut = 1, φ = 1/min(9, 7) = 1/7
    // vol(4) = 2·3 + 1 = 7,       cut = 1, φ = 1/min(7, 9) = 1/7
    assert(got.toSeq == Seq(
      (1L, 3L, 9L, 1L, 1.0 / 7.0),
      (4L, 3L, 7L, 1L, 1.0 / 7.0)))
  }

  test("conductance is in [0, 1] on random labeled graphs") {
    import spark.implicits._
    // φ = cut/min(vol, 2W−vol) ≤ 1 because every cut edge contributes
    // to BOTH sides' volumes; ≥ 0 because weights are positive
    val rnd = new scala.util.Random(11)
    val edges = (1 to 150).map { _ =>
      val a = rnd.nextInt(30).toLong; var b = rnd.nextInt(30).toLong
      if (a == b) b = (b + 1) % 30
      (math.min(a, b), math.max(a, b), 1L + rnd.nextInt(5))
    }.distinct.toDF("src", "dst", "w")
    val labels = (0L until 30L).map(n => (n, n % 4)).toDF("node", "community")
    val got = Graph.conductance(edges, labels).collect()
    graft.Caches.clearPersisted()
    assert(got.nonEmpty)
    got.foreach { r =>
      if (!r.isNullAt(4)) {
        val phi = r.getDouble(4)
        assert(phi >= 0.0 && phi <= 1.0, s"phi out of range: $r")
      }
    }
  }

  test("conductance: single community reports null, not a zero division") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    val labels = Seq((1L, 7L), (2L, 7L)).toDF("node", "community")
    val got = Graph.conductance(edges, labels).collect()
    graft.Caches.clearPersisted()
    assert(got.length == 1)
    assert(got(0).getLong(2) == 2L && got(0).getLong(3) == 0L)
    assert(got(0).isNullAt(4))
  }
}
