package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.ext.GraphOps
import graft.plans.Rounds

/** Unit contracts for the bounded k-core peel (its oracle gate checks
  * end-to-end equality on the fixture; these pin the algorithm).
  */
class GraphOpsSpec extends GraftSuite {

  test("kCore: hand-computed peel on a tailed clique") {
    import spark.implicits._
    // 4-clique {1,2,3,4} + a tail 4-5-6: the tail peels in two rounds
    // (6 has degree 1, then 5), the clique survives k=3 with degree 3
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 6L)).toDF("src", "dst")
    val got = GraphOps.kCore(spark, edges, k = 3, rounds = 6)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
  }

  test("localClustering: triangle + pendant, duplicate/reverse edges collapse") {
    import spark.implicits._
    // triangle {1,2,3} + pendant 4 on 3; a duplicate and a reversed
    // edge must canonicalize away. lcc(1)=lcc(2)=1 (their whole
    // neighborhood is connected), lcc(3)=2·1/(3·2)=1/3 (the pendant
    // dilutes), vertex 4 (deg 1) is excluded by contract
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (2L, 1L), (1L, 3L))
      .toDF("src", "dst")
    val got = GraphOps.localClustering(spark, edges).orderBy("id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq === Seq(
      (1L, 2L, 1L, 1000000L), (2L, 2L, 1L, 1000000L),
      (3L, 3L, 1L, 333333L)))
  }

  test("kTruss: peel cascade empties the triangle strip, the K4 survives") {
    import spark.implicits._
    // K4 {1,2,3,4}: every edge sits in 2 triangles → the whole K4 is
    // a 4-truss. Strip {11..15} (triangles 11-12-13, 12-13-14,
    // 13-14-15): edges (12,13) and (13,14) have support 2 at round 1
    // but lose it when the support-1 edges peel — the CASCADE needs
    // round 2 to empty the strip
    val edges = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (11L, 12L), (11L, 13L), (12L, 13L), (12L, 14L), (13L, 14L),
      (13L, 15L), (14L, 15L)).toDF("src", "dst")
    val got = GraphOps.kTruss(spark, edges, k = 4, rounds = 3)
      .orderBy("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === Seq(
      (1L, 2L, 2L), (1L, 3L, 2L), (1L, 4L, 2L),
      (2L, 3L, 2L), (2L, 4L, 2L), (3L, 4L, 2L)))
    // one round is NOT enough for the strip — the contract's round
    // count is real (the cascade peels across rounds)
    val oneRound = GraphOps.kTruss(spark, edges, k = 4, rounds = 1)
    assert(oneRound.count() == 8L,
      "round 1 keeps the strip's two support-2 edges")
  }

  test("harmonicFromSeeds: hand-computed chain, two seeds, depth cap") {
    import spark.implicits._
    // chain 1-2-3-4-5 plus an isolated edge 10-11; seeds 1 and 10.
    // From 1: d(2)=1, d(3)=2, d(4)=3, d(5)=4 →
    //   h = 1000000 + 500000 + 333333 + 250000 = 2083333, reached 4.
    // From 10: d(11)=1 → 1000000, reached 1.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("src", "dst")
    val seeds = Seq(1L, 10L).toDF("id")
    val got = GraphOps.harmonicFromSeeds(spark, edges, seeds)
      .orderBy("seed").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 2083333L, 4L), (10L, 1000000L, 1L)))
    // depth cap truncates the frontier, never wrong-answers below it
    val capped = GraphOps.harmonicFromSeeds(spark, edges, seeds, maxDepth = 2)
      .orderBy("seed").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(capped == Seq((1L, 1500000L, 2L), (10L, 1000000L, 1L)))
  }

  test("betweennessFromSeeds: hand-computed diamond (sigma=2) and dependency chain") {
    import spark.implicits._
    // diamond + tail: 0-1, 0-2, 1-3, 2-3, 3-4. From seed 0: layers
    // {0}, {1,2} sigma=1, {3} sigma=2, {4} sigma=2. Backward (micro):
    // delta(3) = 2·(1e6+0) div 2 = 1e6; delta(1) = 1·(1e6+1e6) div 2
    // = 1e6 = delta(2) — exactly Brandes' sigma_u/sigma_w·(1+delta).
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
      .toDF("src", "dst")
    val one = GraphOps.betweennessFromSeeds(spark, edges,
        Seq(0L).toDF("id"), maxDepth = 3)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(one == Seq((1L, 1000000L), (2L, 1000000L), (3L, 1000000L)))
    // second seed 4 adds: delta(3) = 1·(1e6+500000) div 1 twice =
    // 3e6 (successors 1 AND 2), delta(1) = delta(2) = 1·1e6 div 2 =
    // 500000 (their successor 0 has sigma 2); contributions SUM per id
    val both = GraphOps.betweennessFromSeeds(spark, edges,
        Seq(0L, 4L).toDF("id"), maxDepth = 3)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(both == Seq((1L, 1500000L), (2L, 1500000L), (3L, 4000000L)))
    // depth truncation: maxDepth=1 reaches only leaves -> no interior
    // vertex, empty result
    val capped = GraphOps.betweennessFromSeeds(spark, edges,
      Seq(0L).toDF("id"), maxDepth = 1)
    assert(capped.isEmpty)
  }

  test("kCore: k above max degree empties the graph") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    assert(GraphOps.kCore(spark, edges, k = 3, rounds = 4).isEmpty)
  }

  test("diameterSweep: exact on a chain (double sweep finds the true diameter)") {
    import spark.implicits._
    // chain 1-2-3-4-5 plus an isolated edge 10-11. Sweep 1 from the
    // min id (1): ecc1 = 4, farthest = {5}. Sweep 2 from 5: ecc2 = 4
    // (the true diameter), component size 5.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("src", "dst")
    val got = GraphOps.diameterSweep(spark, edges).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((1L, 4L, 5L, 4L, 5L)))
  }

  test("diameterSweep: empty graph yields an empty frame, not an NPE") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    val got = GraphOps.diameterSweep(spark, empty)
    assert(got.columns.toSeq ==
      Seq("seed1", "ecc1", "seed2", "ecc2", "n_reached") && got.isEmpty)
  }

  test("modularityByCommunity: both-directions input does not inflate m") {
    import spark.implicits._
    // the same triangle pair, with SOME edges listed in both
    // directions — canonicalization must keep m = 7 and q unchanged
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (1L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L), (4L, 3L)).toDF("src", "dst")
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 10L),
      (4L, 20L), (5L, 20L), (6L, 20L)).toDF("id", "label")
    val got = GraphOps.modularityByCommunity(spark, edges, labels)
      .orderBy("label").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == Seq((10L, 3L, 7L, 178571L), (20L, 3L, 7L, 178571L)))
  }

  test("modularityByCommunity: two triangles bridged by one edge (textbook Q)") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6} joined by 3-4: m=7; per community
    // e_c=3, d_c=7 → t1 = 3000000 div 7 = 428571, d_norm = 7000000
    // div 14 = 500000, t2 = 250000 → q_micro = 178571 each (Q ≈ .357)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L)).toDF("src", "dst")
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 10L),
      (4L, 20L), (5L, 20L), (6L, 20L)).toDF("id", "label")
    val got = GraphOps.modularityByCommunity(spark, edges, labels)
      .orderBy("label").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == Seq((10L, 3L, 3L, 7L, 178571L), (20L, 3L, 3L, 7L, 178571L)))
  }

  test("diameterSweep: star seeds hop from the center to a leaf") {
    import spark.implicits._
    // star centered at 1: sweep 1 ecc = 1, farthest min id = 2,
    // sweep 2 from the leaf sees the true diameter 2
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val r = GraphOps.diameterSweep(spark, edges).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4)) == ((1L, 1L, 2L, 2L, 4L)))
  }

  test("hits: hand-computed alternating integer rounds") {
    import spark.implicits._
    // star 1→3, 2→3 plus 1→4: after r1: auth(3)=2, auth(4)=1, hub(1)=3,
    // hub(2)=2; r2: auth(3)=hub1+hub2=5, auth(4)=hub1=3, hub(1)=8, hub(2)=5
    val edges = Seq((1L, 3L), (2L, 3L), (1L, 4L)).toDF("src", "dst")
    val got = GraphOps.hits(spark, edges, rounds = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) == ((8L, 0L)) && got(2L) == ((5L, 0L)))
    assert(got(3L) == ((0L, 5L)) && got(4L) == ((0L, 3L)))
  }

  test("hits: out-of-contract round counts fail loudly") {
    import spark.implicits._
    // un-normalized Long scores can wrap silently past 2 rounds — the
    // contract rejects instead of returning garbage rankings
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    intercept[IllegalArgumentException] { GraphOps.hits(spark, edges, rounds = 3) }
    intercept[IllegalArgumentException] { GraphOps.hits(spark, edges, rounds = 0) }
  }

  test("personalizedPageRank: hand-computed DAG closed form") {
    import spark.implicits._
    // 1→2, 3→2, 2→4; seed {1}: rank1 = 0.15, rank2 = 0.85·0.15 =
    // 0.1275, rank4 = 0.85·0.1275 = 0.108375; vertex 3 (not reachable
    // from the seed mass) is dropped
    val edges = Seq((1L, 2L), (3L, 2L), (2L, 4L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val got = GraphOps.personalizedPageRank(spark, edges, seeds, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 0.15, 2L -> 0.1275, 4L -> 0.108375))
    // fan-out divides by out-degree: 1→{2,4}, seed {1}
    val e2 = Seq((1L, 2L), (1L, 4L)).toDF("src", "dst")
    val got2 = GraphOps.personalizedPageRank(spark, e2, seeds, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got2 == Map(1L -> 0.15, 2L -> 0.063750, 4L -> 0.063750))
    // an ISOLATED seed (no edges at all) still surfaces with its
    // restart mass — it must not be dropped by edge-vertex derivation
    val got3 = GraphOps.personalizedPageRank(spark, e2,
      Seq(1L, 99L).toDF("id"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got3(99L) == 0.15 && got3(1L) == 0.15)
  }

  test("adamicAdar: hand-computed micro-nat scores; degree-1 and hub cuts") {
    import spark.implicits._
    // suppliers: 10 serves {1,2,3} (deg 3), 11 serves {1,2} (deg 2),
    // 12 serves {3} (deg 1 — never a common neighbor), 13 serves
    // {1..70} (deg 70 > maxDeg 64 — hub-capped out of the score)
    val edges = (Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 11L), (2L, 11L),
      (3L, 12L)) ++ (1L to 70L).map(p => (p, 13L)))
      .toDF("left", "right")
    val got = graft.ext.GraphOps.adamicAdar(edges, maxDeg = 64)
      .orderBy("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val w3 = math.round(1e6 / math.log(3)) // 910239
    val w2 = math.round(1e6 / math.log(2)) // 1442695
    assert(got.toSeq === Seq(
      (1L, 2L, 2L, w3 + w2), (1L, 3L, 1L, w3), (2L, 3L, 1L, w3)))
  }

  test("labelPropagation: hand-computed sync rounds") {
    import spark.implicits._
    // path 1-2-3: after round 1 → (1:2, 2:1, 3:2); after round 2 the
    // ends adopt 2's round-1 label and 2 sees {2,2} → (1:1, 2:2, 3:1)
    val path = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got2 = GraphOps.labelPropagation(spark, path, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
    // triangle: min label floods the clique in two rounds
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val gotTri = GraphOps.labelPropagation(spark, tri, rounds = 2)
      .collect().map(r => r.getLong(1)).toSet
    assert(gotTri == Set(1L))
  }

  test("g_kcore fixture converges inside the 6-round contract") {
    val edges = graft.core.Tables(spark, sf, "lineitem").select(
      (col("l_partkey") + 1000000).cast("long").as("src"),
      (col("l_suppkey") + 100000).cast("long").as("dst"))
    val at6 = GraphOps.kCore(spark, edges, k = 3, rounds = 6)
    val at7 = GraphOps.kCore(spark, edges, k = 3, rounds = 7)
    // bounded peel == true 3-core iff one more round changes nothing
    assert(at6.unionByName(at7).distinct().count() == at6.count(),
      "peel not converged after 6 rounds — bounded result is not the k-core")
    assert(at6.filter(col("core_deg") < 3).isEmpty,
      "converged core contains a vertex below degree k")
  }

  test("weightedPathsFromSeeds: min-plus relaxation on a hand-computed diamond") {
    import spark.implicits._
    // a—b(5), b—d(5), a—c(1), c—d(2), a—d(9): the 2-hop a→c→d (3)
    // undercuts both the direct edge (9) and the heavy path (10)
    val edges = Seq(
      (1L, 2L, 5L), (2L, 4L, 5L), (1L, 3L, 1L), (3L, 4L, 2L), (1L, 4L, 9L))
      .toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("id")
    val got = GraphOps.weightedPathsFromSeeds(spark, edges, seeds, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 0L, 2L -> 5L, 3L -> 1L, 4L -> 3L))
    // the bounded-round contract: with ONE round only direct edges
    // relax — d reports the 1-edge distance 9, not the 2-edge 3
    val r1 = GraphOps.weightedPathsFromSeeds(spark, edges, seeds, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1(4L) == 9L && r1(3L) == 1L)
    // undirected: seeding the far corner mirrors the distances
    val rev = GraphOps.weightedPathsFromSeeds(spark, edges,
      Seq(4L).toDF("id"), rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rev == Map(4L -> 0L, 3L -> 2L, 1L -> 3L, 2L -> 5L))
  }

  test("randomWalkFromSeeds: chain-following, dead-end absorption, determinism (r17)") {
    import spark.implicits._
    // a single-out-neighbor chain pins the walk exactly without
    // knowing the hash: 1→2→3→4→5→6, seed 1 visits 1,2,3,4,5
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("src", "dst")
    val gotChain = GraphOps.randomWalkFromSeeds(spark, chain,
      Seq(1L).toDF("id"), rounds = 4)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(gotChain == Map(0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L))
    // a dead-end seed absorbs: node 9 has no out-edges, walk stays put
    val gotDead = GraphOps.randomWalkFromSeeds(spark, chain,
      Seq(9L).toDF("id"), rounds = 3)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(gotDead == Map(0L -> 9L, 1L -> 9L, 2L -> 9L, 3L -> 9L))
    // branching graph: the hash argmin is deterministic — two runs
    // agree row-for-row, and every step follows a real edge
    val branchy = Seq((1L, 2L), (1L, 3L), (2L, 1L), (2L, 3L), (3L, 1L),
      (3L, 2L)).toDF("src", "dst")
    val runA = GraphOps.randomWalkFromSeeds(spark, branchy,
      Seq(1L, 2L, 3L).toDF("id"), rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val runB = GraphOps.randomWalkFromSeeds(spark, branchy,
      Seq(1L, 2L, 3L).toDF("id"), rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(runA == runB, "hash-seeded walk must be deterministic")
    assert(runA.size == 15, "3 seeds x 5 steps")
    val stepsBySeed = runA.groupBy(_._1).view.mapValues(
      _.toSeq.sortBy(_._2).map(_._3)).toMap
    val edgeSet = Set((1L, 2L), (1L, 3L), (2L, 1L), (2L, 3L), (3L, 1L), (3L, 2L))
    stepsBySeed.values.foreach { path =>
      path.sliding(2).foreach { p =>
        assert(edgeSet.contains((p(0), p(1))),
          s"walk step ${p(0)}->${p(1)} is not an edge")
      }
    }
  }

  test("weightedWalkFromSeeds: weight bias, chain-following, determinism (r17)") {
    import spark.implicits._
    // single-out-edge chain: weights are irrelevant when there is no
    // choice — the walk follows exactly
    val chain = Seq((1L, 2L, 7L), (2L, 3L, 1L), (3L, 4L, 99L))
      .toDF("src", "dst", "w")
    val gotChain = GraphOps.weightedWalkFromSeeds(spark, chain,
      Seq(1L).toDF("id"), rounds = 3)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(gotChain == Map(0L -> 1L, 1L -> 2L, 2L -> 3L, 3L -> 4L))
    // 40 seeds each face the same fork: weight 1e6 vs weight 1 — the
    // exponential race makes the heavy edge win unless the light
    // edge's uniform lands within ~1e-6 of 1 (deterministic per seed,
    // overwhelmingly heavy in aggregate)
    val fork = (1 to 40).flatMap(i =>
      Seq((100L + i, 1L, 1000000L), (100L + i, 2L, 1L)))
      .toDF("src", "dst", "w")
    val seeds = (1 to 40).map(i => 100L + i).toDF("id")
    val step1 = GraphOps.weightedWalkFromSeeds(spark, fork, seeds, rounds = 1)
      .filter(col("step") === 1)
      .collect().map(_.getLong(2))
    val heavyWins = step1.count(_ == 1L)
    assert(heavyWins >= 30,
      s"weight-proportional choice broken: heavy edge won $heavyWins/40")
    // deterministic: a second run is identical
    val rerun = GraphOps.weightedWalkFromSeeds(spark, fork, seeds, rounds = 1)
      .filter(col("step") === 1)
      .collect().map(_.getLong(2))
    assert(step1.sorted.sameElements(rerun.sorted))
  }

  test("round-loop operators leave persisted only the checkpoints their result reads") {
    import spark.implicits._
    // two triangles sharing vertex 3, a pendant 6, a self-loop 7
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L),
      (5L, 6L), (7L, 7L)).toDF("src", "dst")
    val w = e.withColumn("w", col("src") + col("dst"))
    val seeds = Seq(1L, 4L).toDF("id")
    val labels = (1L to 7L).toDF("id").withColumn("label", col("id") % 2)
    Seq[(String, () => DataFrame)](
      "kCore" -> (() => GraphOps.kCore(spark, e, k = 2)),
      "kTruss" -> (() => GraphOps.kTruss(spark, e, k = 3)),
      "localClustering" -> (() => GraphOps.localClustering(spark, e)),
      "triangleCount" -> (() => GraphOps.triangleCount(spark, e)),
      "personalizedPageRank" ->
        (() => GraphOps.personalizedPageRank(spark, e, seeds, iters = 3)),
      "shortestHops" -> (() => GraphOps.shortestHops(spark, e, seeds)),
      "harmonicFromSeeds" -> (() => GraphOps.harmonicFromSeeds(spark, e, seeds)),
      "closenessFromSeeds" ->
        (() => GraphOps.closenessFromSeeds(spark, e, seeds, maxDepth = 2)),
      "betweennessFromSeeds" ->
        (() => GraphOps.betweennessFromSeeds(spark, e, seeds, maxDepth = 3)),
      "weightedPathsFromSeeds" ->
        (() => GraphOps.weightedPathsFromSeeds(spark, w, seeds)),
      "randomWalkFromSeeds" ->
        (() => GraphOps.randomWalkFromSeeds(spark, e, seeds)),
      "weightedWalkFromSeeds" ->
        (() => GraphOps.weightedWalkFromSeeds(spark, w, seeds)),
      "diameterSweep" -> (() => GraphOps.diameterSweep(spark, e)),
      "modularityByCommunity" ->
        (() => GraphOps.modularityByCommunity(spark, e, labels)),
      "hits" -> (() => GraphOps.hits(spark, e)),
      "labelPropagation" -> (() => GraphOps.labelPropagation(spark, e))
    ).foreach { case (name, op) =>
      withClue(s"$name: ") { assertCheckpointsOwned(op()) }
    }
  }

  test("Rounds: a lazy derivation of a live checkpoint is never released") {
    import spark.implicits._
    val before = persistedRdds()
    val out = Rounds { r =>
      val base = r.keep(Seq(1L, 2L, 3L).toDF("v"))
      // round 1's previous state is a projection of `base`, not a
      // checkpoint of its own: swapping it out must leave `base` alone
      var cur = base.withColumn("s", lit(0L))
      for (_ <- 1 to 2) {
        val prev = cur
        cur = r.swap(cur, cur.select(col("v"), (col("s") + col("v")).as("s")))
        assert(checkpointLeaves(base).subsetOf(persistedRdds()),
          "swap released the checkpoint under a lazy previous state")
        assert((persistedRdds() & (checkpointLeaves(prev) -- checkpointLeaves(base)))
          .isEmpty, "swap kept the superseded round's checkpoint")
      }
      r.release(base.select(col("v")))
      assert(checkpointLeaves(base).subsetOf(persistedRdds()),
        "release of a derivation freed its upstream checkpoint")
      cur.join(base, "v")
    }
    assert(out.orderBy("v").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq == Seq((1L, 2L), (2L, 4L), (3L, 6L)))
    // base and round 2 stay (the result reads them); round 1 is gone
    assert(persistedRdds() -- before == checkpointLeaves(out) &&
      checkpointLeaves(out).size == 2)
  }

  test("Rounds: an early stop leaves no superseded round persisted") {
    import spark.implicits._
    val before = persistedRdds()
    // halving chain 64 → 32 → … → 0: the frontier empties after 7 of
    // at most 100 rounds
    var rounds = 0
    val out = Rounds { r =>
      var state = r.keep(Seq(64L).toDF("v"))
      var frontier = state
      var done = false
      while (!done && rounds < 100) {
        rounds += 1
        val next = r.keep(frontier.select((col("v") / 2).cast("long").as("v"))
          .join(state, Seq("v"), "left_anti"))
        val superseded = checkpointLeaves(state) ++ checkpointLeaves(frontier)
        if (next.isEmpty) {
          r.release(next)
          assert((persistedRdds() & checkpointLeaves(next)).isEmpty)
          done = true
        } else {
          state = r.swap(state, state.unionByName(next))
          r.release(frontier)
          frontier = next
          assert((persistedRdds() & superseded).isEmpty,
            "a superseded round is still persisted after the swap")
        }
      }
      state
    }
    assert(rounds == 8 && out.count() == 8L)
    assert(persistedRdds() -- before == checkpointLeaves(out) &&
      checkpointLeaves(out).size == 1)
    // a body that throws releases everything it kept
    intercept[IllegalStateException] {
      Rounds { r => r.keep(Seq(1L).toDF("v")); throw new IllegalStateException }
    }
    assert(persistedRdds() -- before == checkpointLeaves(out))
  }

  test("Rounds: a probe returns its aggregates with the keep, from the keep's own jobs") {
    import spark.implicits._
    val probes = Seq(count(lit(1)), max("v"))
    // a fresh plan per call (nothing cached or reused between keeps),
    // with a shuffle, so each keep runs its own stage jobs
    def fresh(n: Long): DataFrame = spark.range(0, n, 1, 4)
      .select((col("id") % 7).as("v")).groupBy("v").agg(count(lit(1)).as("c"))
    Rounds { r =>
      val (kept, p) = r.probe(fresh(100), probes: _*)
      assert(p.getLong(0) == 7L && p.getLong(1) == 6L)
      assert(kept.as[(Long, Long)].collect().map(_._2).sum == 100L)
      // dynamically empty: the plan runs, the join matches nothing
      val (noMatch, pj) = r.probe(fresh(50).join(Seq(99L).toDF("v"), "v"), probes: _*)
      assert(pj.getLong(0) == 0L && pj.isNullAt(1))
      assert(noMatch.isEmpty)
      // statically empty: the optimizer prunes the plan to no rows
      for (empty <- Seq(fresh(50).filter(lit(false)), fresh(50).limit(0))) {
        val (_, ps) = r.probe(empty, probes: _*)
        assert(ps.getLong(0) == 0L && ps.isNullAt(1))
      }
      assert(r.probe(fresh(10))._2 == Row.empty)
      val (_, plainJobs) = jobsIn(r.keep(fresh(200)))
      val (_, probedJobs) = jobsIn(r.probe(fresh(200), probes: _*))
      assert(plainJobs > 0 && probedJobs <= plainJobs,
        s"a probed keep ran $probedJobs jobs, a plain keep $plainJobs")
      0L
    }
  }

  test("Rounds: a nested scope hands its result's checkpoints to the enclosing scope") {
    import spark.implicits._
    val before = persistedRdds()
    var inner: DataFrame = null
    val out = Rounds { _ =>
      inner = Rounds(r => r.keep(Seq(1L, 2L).toDF("v")))
      assert(checkpointLeaves(inner).subsetOf(persistedRdds()),
        "the inner scope freed the checkpoint its result reads")
      Rounds(r => r.keep(inner.select((col("v") * 10).as("v"))))
    }
    assert(out.as[Long].collect().sorted.toSeq == Seq(10L, 20L))
    // the outer result reads only its own seal: the enclosing scope
    // freed the inner result it was handed
    assert((persistedRdds() & checkpointLeaves(inner)).isEmpty,
      "the enclosing scope did not free the nested scope's result")
    assert(persistedRdds() -- before == checkpointLeaves(out))
  }

  test("Rounds: a scope opened on another thread does not attach to the outer scope") {
    import spark.implicits._
    var other: DataFrame = null
    Rounds { _ =>
      val t = new Thread(() => other = Rounds(r => r.keep(Seq(1L).toDF("v"))))
      t.start()
      t.join()
      0L
    }
    assert(checkpointLeaves(other).nonEmpty &&
      checkpointLeaves(other).subsetOf(persistedRdds()),
      "a scope on this thread freed another thread's result")
    assert(other.count() == 1L)
    Rounds.releaseRoot(other)
  }
}
