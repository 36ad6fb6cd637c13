package graft

import graft.text.LinkGraph
import org.apache.spark.sql.functions._

/** Centrality laws on hand-built graphs: exact hop counts on a path,
  * zero lanes for isolated nodes, early convergence, and partition
  * independence; sharedSpanEdges' df cap must drop boilerplate hubs.
  */
class LinkGraphSpec extends SparkSpec {
  import spark.implicits._

  private def nodes(ids: Long*) = ids.toDF("id")

  private def edgesOf(pairs: (Long, Long)*) = {
    val p = pairs.toDF("src", "dst")
    p.unionAll(p.select($"dst".as("src"), $"src".as("dst")))
  }

  test("path graph 1-2-3-4-5: exact per-hop counts and harmonic") {
    val out = LinkGraph.centrality(nodes(1, 2, 3, 4, 5), "id",
      edgesOf((1, 2), (2, 3), (3, 4), (4, 5)), maxHops = 3)
      .orderBy($"id").collect()
    // node 1: d1={2}, d2={3}, d3={4}
    assert(out(0).getAs[Long]("n_hop_1") == 1)
    assert(out(0).getAs[Long]("n_hop_2") == 1)
    assert(out(0).getAs[Long]("n_hop_3") == 1)
    assert(out(0).getAs[Long]("reach") == 3)
    assert(out(0).getAs[Double]("harmonic") == 1.0 + 0.5 + 1.0 / 3.0)
    // node 3 (center): d1={2,4}, d2={1,5}
    assert(out(2).getAs[Long]("n_hop_1") == 2)
    assert(out(2).getAs[Long]("n_hop_2") == 2)
    assert(out(2).getAs[Long]("n_hop_3") == 0)
  }

  test("min distance wins: triangle plus pendant reports shortest hops") {
    // 1-2, 2-3, 1-3 (triangle), 3-4: node 1 sees 4 at d=2 (via 3), not 3
    val out = LinkGraph.centrality(nodes(1, 2, 3, 4), "id",
      edgesOf((1, 2), (2, 3), (1, 3), (3, 4)), maxHops = 3)
      .orderBy($"id").collect()
    assert(out(0).getAs[Long]("n_hop_1") == 2)
    assert(out(0).getAs[Long]("n_hop_2") == 1)
    assert(out(0).getAs[Long]("n_hop_3") == 0)
  }

  test("isolated nodes report all-zero lanes and stay in the output") {
    val out = LinkGraph.centrality(nodes(1, 2, 9), "id",
      edgesOf((1, 2)), maxHops = 2).orderBy($"id").collect()
    assert(out.length == 3)
    assert(out(2).getAs[Long]("reach") == 0)
    assert(out(2).getAs[Double]("harmonic") == 0.0)
  }

  test("converges before maxHops on a small-diameter graph") {
    val out = LinkGraph.centrality(nodes(1, 2, 3), "id",
      edgesOf((1, 2), (2, 3), (1, 3)), maxHops = 10).orderBy($"id").collect()
    out.foreach { r =>
      assert(r.getAs[Long]("n_hop_1") == 2)
      assert(r.getAs[Long]("reach") == 2)
    }
  }

  test("partition-independent: identical rows at repartition(2) vs repartition(13)") {
    val n = (0L until 60L).toDF("id")
    val e = edgesOf((0L until 59L).map(i => (i, i + 1)): _*)
    val a = LinkGraph.centrality(n.repartition(2), "id", e.repartition(3), maxHops = 3)
      .orderBy($"id").collect().map(_.toSeq)
    val b = LinkGraph.centrality(n.repartition(13), "id", e.repartition(7), maxHops = 3)
      .orderBy($"id").collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("centralityCapped: supernode root reports a flagged partial ball, healthy roots exact") {
    // hub 0 touches 1..10 (ball blows up immediately); a disjoint path
    // 20-21-22-23 is the healthy component
    val hubEdges = (1L to 10L).map(i => (0L, i))
    val pathEdges = Seq((20L, 21L), (21L, 22L), (22L, 23L))
    val n = nodes((Seq(0L) ++ (1L to 10L) ++ Seq(20L, 21L, 22L, 23L)): _*)
    val e = edgesOf((hubEdges ++ pathEdges): _*)
    val capped = LinkGraph.centralityCapped(n, "id", e, maxHops = 3, maxReachPerRoot = 5)
      .orderBy($"id").collect()
    val exact = LinkGraph.centrality(n, "id", e, maxHops = 3)
      .orderBy($"id").collect()
    val byId = capped.map(r => r.getAs[Long]("id") -> r).toMap
    // the hub blew the cap after hop 1 (reach 10 > 5): flagged, expansion
    // stopped — its hop-1 lane is complete, deeper lanes truncated
    assert(byId(0L).getAs[Boolean]("capped"), "hub root must be flagged")
    assert(byId(0L).getAs[Long]("n_hop_1") == 10, "the materialized hop stays")
    // spoke roots reach {hub} + 9 siblings = 10 > 5 after hop 2 → flagged
    assert(byId(1L).getAs[Boolean]("capped"))
    // healthy path roots: unflagged and IDENTICAL to the uncapped run
    val exactById = exact.map(r => r.getAs[Long]("id") -> r).toMap
    Seq(20L, 21L, 22L, 23L).foreach { id =>
      assert(!byId(id).getAs[Boolean]("capped"), s"path root $id")
      assert(byId(id).getAs[Long]("reach") == exactById(id).getAs[Long]("reach"))
      assert(byId(id).getAs[Double]("harmonic") == exactById(id).getAs[Double]("harmonic"))
    }
    // capped lanes are a LOWER BOUND, never an overcount
    capped.foreach { r =>
      val id = r.getAs[Long]("id")
      assert(r.getAs[Long]("reach") <= exactById(id).getAs[Long]("reach"), s"root $id")
    }
    // a generous cap reproduces the uncapped result with capped = false
    val loose = LinkGraph.centralityCapped(n, "id", e, maxHops = 3, maxReachPerRoot = 1000)
      .orderBy($"id").collect()
    assert(loose.forall(!_.getAs[Boolean]("capped")))
    assert(loose.map(_.toSeq.dropRight(1)).toSeq == exact.map(_.toSeq).toSeq)
  }

  test("sharedSpanEdges links shared rare spans and drops over-df hubs") {
    val docs = Seq(
      (0L, "alpha beta gamma delta unique tail zero"),
      (1L, "alpha beta gamma delta other words here"),
      (2L, "totally different text with no overlap at all"),
      // every doc below shares the hub span, df = 4 > maxDf = 3
      (3L, "hub one two three x"),
      (4L, "hub one two three y"),
      (5L, "hub one two three z"),
      (6L, "hub one two three w")
    ).toDF("doc_id", "text")
    val e = LinkGraph.sharedSpanEdges(docs, "doc_id", "text", w = 4, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(e.contains((0L, 1L)) && e.contains((1L, 0L)), "shared rare span links 0-1")
    assert(!e.exists { case (s, d) => s >= 3L || d >= 3L }, s"hub spans must be dropped: $e")
  }

  test("density guard: a dense all-roots closure fails fast with the guard message") {
    // complete graph on 20 nodes: avg out-degree 19, geometric 3-hop
    // estimate 20·(19 + 19² + 19³) ≈ 1.4e5 — over a small explicit bound
    val ids = (1L to 20L)
    val clique = edgesOf(ids.flatMap(a => ids.filter(_ > a).map(a -> _)): _*)
    val n = nodes(ids: _*)
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val ex = intercept[IllegalArgumentException] {
      LinkGraph.centrality(n, "id", clique, maxHops = 3, maxEstimatedReach = 1000L)
    }
    assert(ex.getMessage.contains("maxEstimatedReach") &&
      ex.getMessage.contains("disk-exhaustion"), ex.getMessage)
    // the guard must not leak cached state when it fires
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore,
      "fail-fast leaked a cache entry")
    // the same closure runs when the caller accepts the cost explicitly,
    // and the default bound passes sparse graphs untouched
    val accepted = LinkGraph.centrality(n, "id", clique, maxHops = 3,
      maxEstimatedReach = Long.MaxValue).orderBy($"id").collect()
    assert(accepted.forall(r => r.getAs[Long]("n_hop_1") == 19 && r.getAs[Long]("reach") == 19))
    val default = LinkGraph.centrality(n, "id", clique, maxHops = 3)
      .orderBy($"id").collect()
    assert(default.map(_.toSeq).toSeq == accepted.map(_.toSeq).toSeq,
      "default bound admits a 20-node clique and matches the explicit run")
  }

  test("pageRank: hand-computed fixed-point iteration on a path + isolated node") {
    // path 1-2-3 (symmetric) + isolated 4; N=4, scale 1e12:
    //   r0 = 250e9 each, teleport = (15e12/100)/4 = 37.5e9
    //   deg: 1→1, 2→2, 3→1
    //   contrib into 1: r0(2)/2 = 125e9 → r1(1) = 37.5e9 + 85·125e9/100 = 143.75e9
    //   contrib into 2: r0(1)+r0(3) = 500e9 → r1(2) = 37.5e9 + 425e9 = 462.5e9
    //   isolated 4 keeps teleport only
    val e = edgesOf((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
    val out = LinkGraph.pageRank(nodes(1L, 2L, 3L, 4L), "id", e, iters = 1)
      .orderBy($"id").collect()
    val ranks = out.map(r => r.getAs[Long]("id") -> r.getAs[Long]("rank_fp")).toMap
    assert(ranks == Map(1L -> 143750000000L, 2L -> 462500000000L,
      3L -> 143750000000L, 4L -> 37500000000L), s"got $ranks")
    assert(out.forall(r =>
      r.getAs[Double]("score") == r.getAs[Long]("rank_fp").toDouble / 1e12))
    // mass is conserved up to deterministic truncation (never exceeds scale)
    assert(ranks.values.sum <= 1000000000000L)
  }

  test("pageRank: foreign edge dst enters the rank table (declared node-set contract)") {
    // scaladoc contract pin: a dst OUTSIDE `nodes` gets a rank row since
    // the r18 union-into-aggregate shape (teleport + contributions); a
    // caller wanting node-set-only ranks pre-filters the edges. N counts
    // `nodes` only (2), so teleport = (15e12/100)/2 = 75e9.
    //   1→99 (foreign), symmetric back-edge omitted; node 2 isolated
    val e = Seq((1L, 99L)).toDF("src", "dst")
    val out = LinkGraph.pageRank(nodes(1L, 2L), "id", e, iters = 1)
      .orderBy($"id").collect()
    val ranks = out.map(r => r.getAs[Long]("id") -> r.getAs[Long]("rank_fp")).toMap
    // foreign 99 present: teleport + 85% of r0(1)/deg(1) = 75e9 + 425e9
    assert(ranks.keySet == Set(1L, 2L, 99L), s"got $ranks")
    assert(ranks(99L) == 75000000000L + 425000000000L, s"got $ranks")
    assert(ranks(1L) == 75000000000L && ranks(2L) == 75000000000L, s"got $ranks")
    // the documented pre-filter restores node-set-only output
    val filtered = e.join(nodes(1L, 2L).select($"id".as("dst")), Seq("dst"), "left_semi")
      .select($"src", $"dst")
    val fOut = LinkGraph.pageRank(nodes(1L, 2L), "id", filtered, iters = 1)
      .select($"id").as[Long].collect().sorted.toSeq
    assert(fOut == Seq(1L, 2L), s"pre-filtered ranks leaked foreign ids: $fOut")
  }

  test("pageRankWeighted: hand-computed weighted contributions + guards") {
    import org.apache.spark.sql.functions._
    // edges (src,dst,w): 1→2 w1, 1→3 w3 (W(1)=4), 2→1 w2, 3→1 w1
    // N=3, r0 = 1e12/3 = 333333333333, teleport = 50e9
    //   into 1: r0·2/2 + r0·1/1 = 666666666666 → 50e9 + 85·x/100 = 616666666666
    //   into 2: r0·1/4 = 83333333333   → 50e9 + 70833333333  = 120833333333
    //   into 3: r0·3/4 = 249999999999  → 50e9 + 212499999999 = 262499999999
    val e = Seq((1L, 2L, 1L), (1L, 3L, 3L), (2L, 1L, 2L), (3L, 1L, 1L))
      .toDF("src", "dst", "weight")
    val out = LinkGraph.pageRankWeighted(nodes(1L, 2L, 3L), "id", e, iters = 1)
      .orderBy($"id").collect()
    val ranks = out.map(r => r.getAs[Long]("id") -> r.getAs[Long]("rank_fp")).toMap
    assert(ranks == Map(1L -> 616666666666L, 2L -> 120833333333L, 3L -> 262499999999L),
      s"got $ranks")
    // duplicate (src,dst) rows are weight-summed: splitting w3 into 1+2 is identical
    val eSplit = Seq((1L, 2L, 1L), (1L, 3L, 1L), (1L, 3L, 2L), (2L, 1L, 2L), (3L, 1L, 1L))
      .toDF("src", "dst", "weight")
    val out2 = LinkGraph.pageRankWeighted(nodes(1L, 2L, 3L), "id", eSplit, iters = 1)
      .orderBy($"id").collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rank_fp")).toMap
    assert(out2 == ranks)
    // overflow guard: a source weight past the bound fails fast with the formula
    val heavy = Seq((1L, 2L, 2000000L)).toDF("src", "dst", "weight")
    val ex = intercept[IllegalArgumentException] {
      LinkGraph.pageRankWeighted(nodes(1L, 2L), "id", heavy, iters = 1)
    }
    assert(ex.getMessage.contains("maxSourceWeight"), ex.getMessage)
    // ...and runs when raised explicitly (products still checked)
    val ok = LinkGraph.pageRankWeighted(nodes(1L, 2L), "id", heavy, iters = 1,
      maxSourceWeight = 3000000L).collect()
    assert(ok.length == 2)
  }

  test("connectedComponents: long path labels in O(log n) rounds, min-id rep") {
    // a 301-node chain is the diameter pathology: min-label propagation
    // needs 300 rounds; the alternating star algorithm must land well
    // inside the default 30-round bound
    val ids = (0L to 300L)
    val e = edgesOf(ids.dropRight(1).map(i => (i, i + 1)): _*)
    val out = LinkGraph.connectedComponents(nodes(ids: _*), "id", e)
      .collect()
    assert(out.length == 301)
    assert(out.forall(_.getAs[Long]("rep") == 0L), "chain rep must be the min id")
    assert(out.forall(_.getAs[Long]("component_size") == 301L))
  }

  test("connectedComponents: maxRounds too low fails fast instead of mislabeling") {
    val ids = (0L to 64L)
    val e = edgesOf(ids.dropRight(1).map(i => (i, i + 1)): _*)
    val ex = intercept[IllegalStateException] {
      LinkGraph.connectedComponents(nodes(ids: _*), "id", e, maxRounds = 1)
    }
    assert(ex.getMessage.contains("maxRounds"), ex.getMessage)
  }

  test("connectedComponents: maxRounds = 0 is rejected (at least one round)") {
    val ex = intercept[IllegalArgumentException] {
      LinkGraph.connectedComponents(nodes(1L, 2L), "id", edgesOf(1L -> 2L), maxRounds = 0)
    }
    assert(ex.getMessage.contains("maxRounds"), ex.getMessage)
  }

  test("connectedComponents: matches clusterRepresentatives on a random graph") {
    val rnd = new scala.util.Random(11)
    val pairs = Seq.fill(80)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2).distinct
    val e = edgesOf(pairs: _*)
    val cc = LinkGraph.connectedComponents(nodes((0L until 60L): _*), "id", e)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rep")).toMap
    val pairDf = pairs.toDF("id_a", "id_b")
    val mp = graft.dedup.Dedup.clusterRepresentatives(pairDf, maxIters = 100)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rep")).toMap
    // clusterRepresentatives covers only nodes present in pairs; the star
    // labeling must agree there, and label everything else a singleton
    mp.foreach { case (id, rep) => assert(cc(id) == rep, s"node $id: $rep vs ${cc(id)}") }
    (0L until 60L).filterNot(mp.contains).foreach(id => assert(cc(id) == id))
  }

  test("connectedComponents: singletons, per-component sizes, string ids") {
    // components {1,2,3} (rep 1), {7,8} (rep 7); 9 isolated
    val out = LinkGraph.connectedComponents(nodes(1, 2, 3, 7, 8, 9), "id",
      edgesOf((2, 1), (2, 3), (8, 7))).collect()
      .map(r => r.getAs[Long]("id") -> (r.getAs[Long]("rep"), r.getAs[Long]("component_size")))
      .toMap
    assert(out == Map(1L -> (1L, 3L), 2L -> (1L, 3L), 3L -> (1L, 3L),
      7L -> (7L, 2L), 8L -> (7L, 2L), 9L -> (9L, 1L)))
    val sOut = LinkGraph.connectedComponents(
      Seq("a", "b", "c", "z").toDF("id"), "id",
      Seq(("b", "a"), ("b", "c")).toDF("src", "dst")).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getAs[Long]("component_size"))).toMap
    assert(sOut == Map("a" -> ("a", 3L), "b" -> ("a", 3L), "c" -> ("a", 3L),
      "z" -> ("z", 1L)))
  }

  test("connectedComponents: partition-invariant and duplicate-edge-proof") {
    val rnd = new scala.util.Random(23)
    val pairs = Seq.fill(70)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(p => p._1 != p._2)
    val n = nodes((0L until 40L): _*)
    val a = LinkGraph.connectedComponents(n.repartition(2), "id",
        edgesOf(pairs: _*).repartition(3))
      .orderBy($"id").collect().map(_.toSeq).toSeq
    val b = LinkGraph.connectedComponents(n.repartition(13), "id",
        edgesOf((pairs ++ pairs): _*).repartition(7))
      .orderBy($"id").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("connectedComponentsIncremental: fold-in equals full recompute, new nodes join") {
    val rnd = new scala.util.Random(41)
    val pairs = Seq.fill(70)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter(p => p._1 != p._2).distinct
    val (half1, half2) = pairs.partition(p => (p._1 + p._2) % 2 == 0)
    val n = nodes((0L until 50L): _*)
    val prior = LinkGraph.connectedComponents(n, "id", edgesOf(half1: _*))
    val inc = LinkGraph.connectedComponentsIncremental(n, "id", prior, edgesOf(half2: _*))
      .orderBy($"id").collect().map(_.toSeq).toSeq
    val full = LinkGraph.connectedComponents(n, "id", edgesOf(pairs: _*))
      .orderBy($"id").collect().map(_.toSeq).toSeq
    assert(inc == full, "incremental fold-in must equal the full recompute")
    // a batch introducing brand-new nodes (50, 51) bridging two components
    val prior2 = LinkGraph.connectedComponents(nodes(1, 2, 7, 8), "id",
      edgesOf((1, 2), (7, 8)))
    val out = LinkGraph.connectedComponentsIncremental(
      nodes(1, 2, 7, 8, 50, 51), "id", prior2, edgesOf((2, 50), (50, 7), (51, 51 + 0)))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rep")).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 7L -> 1L, 8L -> 1L, 50L -> 1L, 51L -> 51L))
  }

  test("kCore: peel drops pendant chains, keeps cycles, exact core degrees") {
    // triangle {1,2,3} with a chain 3-4-5 hanging off: 2-core = triangle
    val out = LinkGraph.kCore(nodes(1, 2, 3, 4, 5, 9), "id",
      edgesOf((1, 2), (2, 3), (1, 3), (3, 4), (4, 5)), k = 2).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Boolean]("in_core"), r.getAs[Long]("core_degree")))).toMap
    assert(out(1L) == ((true, 2L)) && out(2L) == ((true, 2L)) && out(3L) == ((true, 2L)))
    assert(out(4L) == ((false, 0L)) && out(5L) == ((false, 0L)) && out(9L) == ((false, 0L)))
    // K4 + pendant at k=3: the clique survives with degree 3, pendant drops
    val ids = (1L to 4L)
    val k4p = edgesOf((ids.flatMap(a => ids.filter(_ > a).map(a -> _)) :+ (4L, 5L)): _*)
    val out3 = LinkGraph.kCore(nodes((1L to 5L): _*), "id", k4p, k = 3).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Boolean]("in_core"), r.getAs[Long]("core_degree")))).toMap
    assert((1L to 4L).forall(i => out3(i) == ((true, 3L))) && out3(5L) == ((false, 0L)))
    // k=1 keeps every non-isolated node; a cascading chain peels fully at k=2
    val chain = edgesOf((1L, 2L), (2L, 3L), (3L, 4L))
    val k1 = LinkGraph.kCore(nodes(1, 2, 3, 4), "id", chain, k = 1).collect()
    assert(k1.forall(_.getAs[Boolean]("in_core")))
    val k2 = LinkGraph.kCore(nodes(1, 2, 3, 4), "id", chain, k = 2).collect()
    assert(k2.forall(!_.getAs[Boolean]("in_core")), "an open chain has no 2-core")
    // maxRounds too low fails fast (chain needs 2 cascading peel rounds)
    val ex = intercept[IllegalStateException] {
      LinkGraph.kCore(nodes(1, 2, 3, 4), "id", chain, k = 2, maxRounds = 1)
    }
    assert(ex.getMessage.contains("maxRounds"), ex.getMessage)
  }

  test("degreeDistribution: hand graph with zero bin, direction/dup proof") {
    // triangle {1,2,3} + pendant 3-4 + isolated 9: degrees 2,2,3,1,0
    val out = LinkGraph.degreeDistribution(nodes(1, 2, 3, 4, 9), "id",
      edgesOf((1, 2), (2, 3), (1, 3), (3, 4), (1, 2))).collect()
      .map(r => r.getAs[Long]("degree") -> r.getAs[Long]("n_nodes")).toMap
    assert(out == Map(0L -> 1L, 1L -> 1L, 2L -> 2L, 3L -> 1L), s"got $out")
  }

  test("degreeAssortativity: star is maximally disassortative, regular graph pins 0") {
    // star 0-{1..5}: ends samples are (5,1)x5 and (1,5)x5 → r = -1
    val star = edgesOf((1L to 5L).map(i => (0L, i)): _*)
    val r1 = LinkGraph.degreeAssortativity(star).head()
    assert(r1.getAs[Long]("n_edges") == 5L)
    assert(r1.getAs[Double]("r") == -1.0, s"got ${r1.getAs[Double]("r")}")
    // cycle (2-regular): zero degree variance → pinned 0.0
    val cycle = edgesOf((0L until 6L).map(i => (i, (i + 1) % 6)): _*)
    assert(LinkGraph.degreeAssortativity(cycle).head().getAs[Double]("r") == 0.0)
    // two disjoint cliques K3 + K4: within-clique ends are (2,2)/(3,3) →
    // assortative; expected value replayed in the engine's exact op
    // order (sqrt(72)·sqrt(72) is an ulp off 72, so r is ~1, not == 1)
    val ids3 = (1L to 3L); val ids4 = (10L to 13L)
    val cl = edgesOf((ids3.flatMap(a => ids3.filter(_ > a).map(a -> _)) ++
      ids4.flatMap(a => ids4.filter(_ > a).map(a -> _))): _*)
    val expect = (18.0 * 132.0 - 48.0 * 48.0) /
      (math.sqrt(18.0 * 132.0 - 48.0 * 48.0) * math.sqrt(18.0 * 132.0 - 48.0 * 48.0))
    assert(LinkGraph.degreeAssortativity(cl).head().getAs[Double]("r") == expect)
    // empty edge set: one row, zeros
    val e0 = LinkGraph.degreeAssortativity(edgesOf()).head()
    assert(e0.getAs[Long]("n_edges") == 0L && e0.getAs[Double]("r") == 0.0)
  }

  test("triangleStats: hand-counted triangles, coefficient, isolated nodes") {
    // triangle {1,2,3} + pendant 3-4; 9 isolated
    val out = LinkGraph.triangleStats(nodes(1, 2, 3, 4, 9), "id",
      edgesOf((1, 2), (2, 3), (1, 3), (3, 4))).collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("degree"), r.getAs[Long]("triangles"), r.getAs[Double]("clustering"))))
      .toMap
    assert(out(1L) == ((2L, 1L, 1.0)))
    assert(out(2L) == ((2L, 1L, 1.0)))
    assert(out(3L) == ((3L, 1L, 2.0 * 1.0 / 6.0)))
    assert(out(4L) == ((1L, 0L, 0.0)))
    assert(out(9L) == ((0L, 0L, 0.0)))
    // two triangles sharing edge 2-3: each shared node sees both
    val out2 = LinkGraph.triangleStats(nodes(1, 2, 3, 4), "id",
      edgesOf((1, 2), (2, 3), (1, 3), (2, 4), (3, 4))).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("triangles")).toMap
    assert(out2 == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 1L))
    // K4: every node in 3 triangles, coefficient exactly 1.0
    val ids = (1L to 4L)
    val k4 = LinkGraph.triangleStats(nodes(ids: _*), "id",
      edgesOf(ids.flatMap(a => ids.filter(_ > a).map(a -> _)): _*)).collect()
    assert(k4.forall(r => r.getAs[Long]("triangles") == 3L &&
      r.getAs[Double]("clustering") == 1.0))
  }

  test("triangleStats: partition-invariant, duplicate- and direction-proof") {
    val rnd = new scala.util.Random(31)
    val pairs = Seq.fill(90)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(p => p._1 != p._2)
    val n = nodes((0L until 30L): _*)
    val a = LinkGraph.triangleStats(n.repartition(2), "id",
        pairs.toDF("src", "dst").repartition(3))
      .orderBy($"id").collect().map(_.toSeq).toSeq
    // symmetric + duplicated edge rows, different partitioning
    val b = LinkGraph.triangleStats(n.repartition(11), "id",
        edgesOf((pairs ++ pairs): _*).repartition(7))
      .orderBy($"id").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("triangleStats: wedge-volume guard fails fast on dense graphs") {
    val ids = (1L to 20L)
    val clique = edgesOf(ids.flatMap(a => ids.filter(_ > a).map(a -> _)): _*)
    val ex = intercept[IllegalArgumentException] {
      LinkGraph.triangleStats(nodes(ids: _*), "id", clique, maxEstimatedWedges = 100L)
    }
    assert(ex.getMessage.contains("maxEstimatedWedges"), ex.getMessage)
    // accepted explicitly: K20 has C(20,3) = 1140 triangles, C(19,2) = 171 per node
    val ok = LinkGraph.triangleStats(nodes(ids: _*), "id", clique,
      maxEstimatedWedges = 1000000L).collect()
    assert(ok.forall(r => r.getAs[Long]("triangles") == 171L &&
      r.getAs[Double]("clustering") == 1.0))
  }

  test("labelPropagation: hand-computed synchronous rounds, isolated nodes, invariance") {
    // triangle {1,2,3}: round 1 gives (1→2, 2→1, 3→1) — each node adopts
    // its neighbors' min label on the all-distinct tie; round 2 converges
    // every label to 1 (node 1 sees {1,1}; nodes 2,3 see {2,1}/{2,1},
    // count tie → min 1). Isolated 9 keeps itself.
    val out1 = LinkGraph.labelPropagation(nodes(1, 2, 3, 9), "id",
      edgesOf((1, 2), (2, 3), (1, 3)), iters = 1)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("community")).toMap
    assert(out1 == Map(1L -> 2L, 2L -> 1L, 3L -> 1L, 9L -> 9L), s"got $out1")
    val out2 = LinkGraph.labelPropagation(nodes(1, 2, 3, 9), "id",
      edgesOf((1, 2), (2, 3), (1, 3)), iters = 2)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("community"), r.getAs[Long]("community_size")))).toMap
    assert(out2 == Map(1L -> ((1L, 3L)), 2L -> ((1L, 3L)), 3L -> ((1L, 3L)),
      9L -> ((9L, 1L))), s"got $out2")
    // partition/duplication invariance (synchronous + min tie-break)
    val rnd = new scala.util.Random(53)
    val pairs = Seq.fill(60)((rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter(p => p._1 != p._2)
    val n = nodes((0L until 20L): _*)
    val a = LinkGraph.labelPropagation(n, "id", edgesOf(pairs: _*), iters = 3)
      .orderBy($"id").collect().map(_.toSeq).toSeq
    val b = LinkGraph.labelPropagation(n.repartition(7), "id",
        edgesOf((pairs ++ pairs): _*).repartition(3), iters = 3)
      .orderBy($"id").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("pageRankPersonalized: hand-computed seed-teleport iteration + guards") {
    // path 1-2-3 (symmetric) + isolated 4; seed = {1}; scale 1e12:
    //   r0: 1e12 at the seed, 0 elsewhere; teleport = (15e12/100)/1 = 1.5e11
    //   deg: 1→1, 2→2, 3→1
    //   into 2: r0(1)/1 = 1e12 → r1(2) = 0 + 85·1e12/100 = 850e9
    //   into 1 and 3: r0(2)/2 = 0 → r1(1) = teleport only, r1(3) = 0
    val e = edgesOf((1L, 2L), (2L, 3L))
    val out = LinkGraph.pageRankPersonalized(nodes(1L, 2L, 3L, 4L), "id", e,
        nodes(1L), iters = 1)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rank_fp")).toMap
    assert(out == Map(1L -> 150000000000L, 2L -> 850000000000L, 3L -> 0L, 4L -> 0L),
      s"got $out")
    // seeds outside the node set fail fast
    val ex = intercept[IllegalArgumentException] {
      LinkGraph.pageRankPersonalized(nodes(1L, 2L), "id", e, nodes(99L), iters = 1)
    }
    assert(ex.getMessage.contains("seed"), ex.getMessage)
    // partition/duplication invariance (the fixed-point contract)
    val rnd = new scala.util.Random(17)
    val pairs = Seq.fill(50)((rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter(p => p._1 != p._2)
    val n = nodes((0L until 12L): _*)
    val seeds = nodes(0L, 5L)
    val a = LinkGraph.pageRankPersonalized(n, "id", edgesOf(pairs: _*), seeds, iters = 3)
      .orderBy($"id").collect().map(_.toSeq).toSeq
    val b = LinkGraph.pageRankPersonalized(n.repartition(5), "id",
        edgesOf((pairs ++ pairs): _*).repartition(3), seeds.repartition(2), iters = 3)
      .orderBy($"id").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("pageRank: bit-identical across partitionings and edge duplication") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(60)((rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
      .filter(p => p._1 != p._2).flatMap(p => Seq(p, p.swap)).distinct
    val n = nodes((0L until 15L): _*)
    val a = LinkGraph.pageRank(n, "id", edgesOf(pairs: _*), iters = 3)
      .orderBy($"id").collect().map(_.toSeq).toSeq
    // different partitioning + duplicated edge rows (pageRank distincts)
    val dupEdges = edgesOf((pairs ++ pairs): _*).repartition(7)
    val b = LinkGraph.pageRank(n.repartition(3), "id", dupEdges, iters = 3)
      .orderBy($"id").collect().map(_.toSeq).toSeq
    assert(a == b, "fixed-point PageRank must be partition-invariant")
    // more iterations stay within total mass and move toward stationarity
    val r5 = LinkGraph.pageRank(n, "id", edgesOf(pairs: _*), iters = 5)
      .agg(org.apache.spark.sql.functions.sum($"rank_fp")).head().getLong(0)
    assert(r5 <= 1000000000000L && r5 > 0L)
  }
}
