package graft.ext

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.LogicalRDD

import graft.plans.Rounds

/** Graph analytics over the quad graph / relational edge lists
  * (SURVEY §2.D: "GraphX for components/PageRank, Pregel for
  * traversals" — the analytics the reference's delegated engine
  * cannot express in SPARQL at all).
  *
  * API shape: DataFrame in (`src: long, dst: long` edge list — e.g.
  * dictionary-encoded RDF terms or harness keys), DataFrame out, so
  * results join back into Catalyst plans. GraphX is used where its
  * Pregel machinery wins (components, PageRank); plain-DataFrame
  * round loops where a bounded traversal is enough, each round's
  * state an eager checkpoint owned by [[graft.plans.Rounds]]. Every
  * stop test and driver-side scalar (an empty frontier, an unchanged
  * edge count, a landmark id, a vertex or edge count) is a probe on
  * the keep it reads: the operators here run no Dataset action of
  * their own.
  *
  * Scale: GraphX partitions edges (EdgePartition2D for skew); the
  * BFS variant shuffles only the frontier each round. Vertex ids are
  * caller-provided stable longs — at RDF scale they come from the
  * term dictionary (SURVEY §1.5), not from hashing at query time.
  */
object GraphOps {

  private def toEdgeRdd(edges: DataFrame) =
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1))

  /** Unpersist every cached RDD derived from the checkpoint `ck`.
    * GraphX caches each graph it builds (triangleCount builds several)
    * and hands back no handle to them. `ck` must be the operator's own
    * checkpoint, so whatever reads it is the operator's own too; call
    * this only once nothing reads those RDDs.
    */
  private def releaseDerived(ck: DataFrame): Unit = {
    val root = ck.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id
    val memo = scala.collection.mutable.Map.empty[Int, Boolean]
    def reads(x: RDD[_]): Boolean =
      memo.getOrElseUpdate(x.id, x.id == root || x.dependencies.exists(d => reads(d.rdd)))
    ck.sparkSession.sparkContext.getPersistentRDDs.valuesIterator
      .filter(x => x.id != root && reads(x)).foreach(_.unpersist(blocking = false))
  }

  /** Undirected form: every edge in both directions (carrying the
    * `extra` columns along), deduped.
    */
  private def undirected(edges: DataFrame, extra: String*): DataFrame = {
    val rest = extra.map(col)
    edges.select(col("src") +: col("dst") +: rest: _*)
      .unionByName(edges.select(col("dst").as("src") +: col("src").as("dst") +: rest: _*))
      .distinct()
  }

  /** Canonical undirected form: (least, greatest) long id pairs, deduped. */
  private def canonical(edges: DataFrame): DataFrame =
    edges.select(least(col("src"), col("dst")).cast("long").as("src"),
      greatest(col("src"), col("dst")).cast("long").as("dst")).distinct()

  /** [[canonical]] without self-loops: the simple graph. */
  private def simple(edges: DataFrame): DataFrame =
    canonical(edges).filter(col("src") =!= col("dst"))

  /** Connected components (undirected reachability); component id =
    * min vertex id in the component (GraphX convention, deterministic).
    */
  def connectedComponents(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._
    Graph.fromEdges(toEdgeRdd(edges), 0)
      .connectedComponents()
      .vertices.map { case (id, comp) => (id, comp) }
      .toDF("id", "component")
  }

  /** The GraphX triangle path of [[triangleCount]] and
    * [[localClustering]]: keep the simple graph `canon`, count each
    * vertex's triangles over it (rows `id`, `triangles`), keep
    * `result(canon, triangles)` and release the graphs GraphX cached
    * on the way, which the kept result no longer reads.
    */
  private def withTriangles(spark: SparkSession, edges: DataFrame)(
      result: (DataFrame, DataFrame) => DataFrame): DataFrame = Rounds { r =>
    import spark.implicits._
    val canon = r.keep(simple(edges))
    val tri = Graph.fromEdges(toEdgeRdd(canon), 0)
      .partitionBy(org.apache.spark.graphx.PartitionStrategy.EdgePartition2D)
      .triangleCount()
      .vertices.map { case (id, n) => (id, n.toLong) }
      .toDF("id", "triangles")
    val out = r.keep(result(canon, tri))
    releaseDerived(canon)
    out
  }

  /** Per-vertex triangle counts (undirected). Edges are canonicalized
    * (src < dst, deduped) before GraphX's TriangleCount, which
    * requires a canonical orientation; isolated self-loops drop out.
    * Scale: GraphX's implementation joins each edge against the
    * smaller adjacency set of its endpoints — no enumeration of all
    * 2-paths on hub vertices.
    */
  def triangleCount(spark: SparkSession, edges: DataFrame): DataFrame =
    withTriangles(spark, edges)((_, tri) => tri)

  /** Per-vertex LOCAL CLUSTERING COEFFICIENT (r16, the r15 verdict's
    * coverage item): lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1)) over the
    * canonical undirected simple graph, on the engine-exact integer
    * micro plane (FLOAT_AUDIT rule): rows (id, degree, triangles,
    * lcc_micro) for deg ≥ 2 (the coefficient is undefined below).
    * T(v) rides GraphX TriangleCount — per-edge smaller-adjacency-set
    * intersection, never a wedge enumeration on hubs (the same hub
    * contract as [[triangleCount]]); degrees are one combinable count;
    * the assembly is one join keyed by 8-byte ids.
    */
  def localClustering(spark: SparkSession, edges: DataFrame): DataFrame =
    withTriangles(spark, edges) { (canon, tri) =>
      canon.select(col("src").as("id"))
        .unionByName(canon.select(col("dst").as("id")))
        .groupBy("id").agg(count(lit(1)).as("degree"))
        .filter(col("degree") >= 2)
        .join(tri, "id")
        .select(col("id"), col("degree"), col("triangles"),
          expr("(2000000L * triangles) div (degree * (degree - 1L))")
            .as("lcc_micro"))
    }

  /** Bounded k-TRUSS peel (r16): keep edges whose SUPPORT (triangles
    * through the edge) is ≥ k−2, peeling for `rounds` rounds — the
    * round count is part of the contract (the [[kCore]] discipline;
    * fixtures converge inside it). Triangles are enumerated once each
    * at their order-minimal vertex under a FIXED total vertex order
    * (original degree, then id) — the standard degree-ordered
    * orientation: out-neighborhoods are O(√m) amortized, so a
    * pendant-heavy hub orients its pendants INWARD and generates no
    * wedges (no cap contract needed, unlike the shared-neighbor link
    * predictors). Per round: one wedge self-join of the directed
    * surviving edges + one closing join + one combinable support
    * count; 8-byte ids in every exchange. Returns the surviving
    * canonical edges with their last-round support.
    */
  def kTruss(spark: SparkSession, edges: DataFrame, k: Int = 4,
      rounds: Int = 3): DataFrame = {
    require(k >= 3, s"kTruss: k must be >= 3 (got $k)")
    def lt(d1: Column, v1: Column, d2: Column, v2: Column): Column =
      d1 < d2 || (d1 === d2 && v1 < v2)
    Rounds { r =>
      val canon = r.keep(simple(edges))
      val ord = r.keep(canon.select(col("src").as("v"))
        .unionByName(canon.select(col("dst").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d")))
      // support is a pure function of the surviving set, so an
      // unchanged count also means identical support: [[peel]]'s early
      // exit stays exact (no count before round 1: support is unset)
      peel(r, canon.withColumn("support", lit(0L)), -1L, rounds) { cur =>
        val e = cur
          .join(ord.select(col("v").as("src"), col("d").as("ds")), Seq("src"))
          .join(ord.select(col("v").as("dst"), col("d").as("dd")), Seq("dst"))
        val dir = e.select(
          when(lt(col("ds"), col("src"), col("dd"), col("dst")),
            col("src")).otherwise(col("dst")).as("u"),
          when(lt(col("ds"), col("src"), col("dd"), col("dst")),
            col("dst")).otherwise(col("src")).as("w"),
          when(lt(col("ds"), col("src"), col("dd"), col("dst")),
            col("dd")).otherwise(col("ds")).as("dw"))
        val d1 = dir.select(col("u"), col("w").as("b"), col("dw").as("db"))
        val d2 = dir.select(col("u"), col("w").as("c"), col("dw").as("dc"))
        val tri = d1.join(d2, Seq("u"))
          .where(lt(col("db"), col("b"), col("dc"), col("c")))
          .join(dir.select(col("u").as("b"), col("w").as("c")), Seq("b", "c"),
            "left_semi")
          .select(col("u").as("a"), col("b"), col("c"))
        val sup = tri.select(least(col("a"), col("b")).as("src"),
            greatest(col("a"), col("b")).as("dst"))
          .unionByName(tri.select(least(col("a"), col("c")).as("src"),
            greatest(col("a"), col("c")).as("dst")))
          .unionByName(tri.select(least(col("b"), col("c")).as("src"),
            greatest(col("b"), col("c")).as("dst")))
          .groupBy("src", "dst").agg(count(lit(1)).as("sup"))
        cur.select(col("src"), col("dst"))
          .join(sup, Seq("src", "dst"))
          .filter(col("sup") >= k - 2)
          .select(col("src"), col("dst"), col("sup").as("support"))
      }
    }
  }

  /** Bounded peel: up to `rounds` rounds of `step` from `init` (`n`
    * rows, or −1 when unknown), each round's state a swapped keep.
    * Peeling only REMOVES rows, so a round that keeps as many rows as
    * the one before kept the identical set and every remaining round
    * is the identity: the loop stops there, with EXACTLY the
    * round-`rounds` result (the oracle's unrolled contract). The count
    * is a probe on each round's keep.
    */
  private def peel(r: Rounds, init: DataFrame, n: Long, rounds: Int)(
      step: DataFrame => DataFrame): DataFrame = {
    var (cur, last, converged) = (init, n, false)
    for (_ <- 1 to rounds if !converged) {
      val (next, p) = r.probe(step(cur), count(lit(1)))
      r.release(cur)
      cur = next
      converged = p.getLong(0) == last
      last = p.getLong(0)
    }
    cur
  }

  /** Fixed-iteration PageRank (GraphX semantics: rank = reset + (1 -
    * reset) · Σ in-contributions, contributions divided by out-degree,
    * NOT normalized). Deterministic for a fixed iteration count.
    */
  def pageRank(spark: SparkSession, edges: DataFrame, iters: Int,
      reset: Double = 0.15): DataFrame = {
    import spark.implicits._
    Graph.fromEdges(toEdgeRdd(edges), 0)
      .staticPageRank(iters, reset)
      .vertices.map { case (id, rank) => (id, rank) }
      .toDF("id", "rank0")
      .select(col("id"), (round(col("rank0") * lit(1e6), 0)
        .cast("long").cast("double") / lit(1e6)).as("rank"))
  }

  /** Personalized PageRank over a SEED SET, bounded-iteration
    * UNNORMALIZED contract: `rank = reset·personal + (1−reset)·Σ_in
    * rank/outdeg` with the restart indicator 1 on each seed — total
    * restart mass |seeds|, no final normalization, so on a DAG the
    * converged ranks have an exact closed form a cross-engine oracle
    * can state directly. Vertices outside the seeds' forward closure
    * hold rank 0 and are dropped from the output (their row count at
    * web scale would dwarf the interesting mass).
    *
    * The topic-sensitive / random-walk-with-restart primitive of
    * graph-aware curation (seed = trusted domains → rank = crawl
    * authority). Scale shape: per round one join against the edge
    * list + one combinable sum keyed by 8-byte ids;
    * `localCheckpoint` truncates lineage per round.
    */
  def personalizedPageRank(spark: SparkSession, edges: DataFrame,
      seeds: DataFrame, iters: Int = 10, reset: Double = 0.15): DataFrame =
    Rounds { r =>
      val e = r.keep(edges.select(col("src"), col("dst")).distinct())
      val outdeg = r.keep(
        e.groupBy(col("src").as("v")).agg(count(lit(1)).as("od")))
      // restart mass comes from the seed set ALONE — a seed with no
      // edges still carries its indicator (rank = reset), it just never
      // propagates; semi-joining seeds against edge-derived vertices
      // would silently drop isolated seeds, breaking the documented
      // "restart indicator 1 on each seed" contract
      val pers = r.keep(seeds.select(col("id").as("v")).distinct()
        .withColumn("p", lit(1.0)))
      var rank = r.keep(pers.select(col("v"), (col("p") * reset).as("rank")))
      for (_ <- 1 to iters) {
        val contrib = e
          .join(rank.select(col("v").as("src"), col("rank")), Seq("src"))
          .join(outdeg.select(col("v").as("src"), col("od")), Seq("src"))
          .groupBy(col("dst").as("v"))
          .agg(sum(col("rank") / col("od")).as("in_mass"))
        rank = r.swap(rank, pers.select(col("v"), (col("p") * reset).as("base"))
          .join(contrib, Seq("v"), "full")
          .select(col("v"),
            (coalesce(col("base"), lit(0.0)) +
              lit(1.0 - reset) * coalesce(col("in_mass"), lit(0.0))).as("rank")))
      }
      rank.select(col("v").as("id"), (round(col("rank") * lit(1e6), 0)
          .cast("long").cast("double") / lit(1e6)).as("rank"))
        .where(col("rank") > 0)
    }

  /** Unweighted shortest hop counts from a set of source vertices,
    * treating edges as undirected. Semi-naive BFS: each round joins
    * only the new frontier against the edge list — the DataFrame
    * equivalent of a Pregel iteration.
    */
  def shortestHops(spark: SparkSession, edges: DataFrame, sources: DataFrame): DataFrame =
    Rounds(r => hops(r, r.keep(undirected(edges)), sources, labelled = false)._1)

  /** Labelled semi-naive BFS over a kept undirected edge list `und`:
    * rows (seed, id, dist) when `labelled` (one BFS per source, the
    * source id as the label), (id, dist) otherwise. Each round joins
    * only the new frontier against `und`, keeps the per-(label, id)
    * minimum hop and drops pairs already reached; it stops on an empty
    * frontier (a zero count probe on the frontier's keep) or after
    * `maxDepth` rounds. Returns the reached rows, a checkpoint tracked
    * by `r`, with the depth of the last non-empty frontier and that
    * frontier's probe row (count, least id).
    */
  private def hops(r: Rounds, und: DataFrame, sources: DataFrame,
      labelled: Boolean, maxDepth: Int = Int.MaxValue): (DataFrame, Int, Row) = {
    val id = col("id").cast("long")
    val keys = (if (labelled) Seq("seed") else Nil) :+ "id"
    val probes = Seq(count(lit(1)), min(id))
    var (dists, last) = r.probe(sources.select(
      keys.map(k => id.as(k)) :+ lit(0L).as("dist"): _*).distinct(), probes: _*)
    var frontier = dists
    var depth = 0
    var done = false
    while (!done && depth < maxDepth) {
      val (next, p) = r.probe(frontier.join(und, frontier("id") === und("src"))
        .select(keys.init.map(frontier(_)) :+ und("dst").as("id") :+
          (frontier("dist") + 1).as("dist"): _*)
        .groupBy(keys.map(col): _*).agg(min("dist").as("dist"))
        .join(dists.select(keys.map(k => col(k).as(s"__$k")): _*),
          keys.map(k => col(k) === col(s"__$k")).reduce(_ && _), "left_anti"),
        probes: _*)
      if (p.getLong(0) == 0) { r.release(next); done = true }
      else {
        dists = r.swap(dists, dists.unionByName(next))
        r.release(frontier)
        frontier = next
        last = p
        depth += 1
      }
    }
    (dists, depth, last)
  }

  /** Per-seed aggregate over the (seed, id, dist) rows [[hops]] reaches
    * from each seed within `maxDepth` (the seed itself excluded),
    * sealed as the result.
    */
  private def seedAggregate(edges: DataFrame, seeds: DataFrame, maxDepth: Int)(
      agg: org.apache.spark.sql.RelationalGroupedDataset => DataFrame): DataFrame =
    Rounds { r =>
      val (reached, _, _) = hops(r, r.keep(undirected(edges)), seeds,
        labelled = true, maxDepth)
      r.keep(agg(reached.filter(col("dist") > 0).groupBy("seed")))
    }

  /** Harmonic centrality from a SEED SET (landmark influence):
    * h(seed) = Σ over reachable v ≠ seed of 1/d(seed, v), per seed,
    * by the labelled semi-naive BFS [[hops]] over undirected edges.
    * Contributions ship as the engine-exact integer `1000000 div d`
    * (micro-units — the FLOAT_AUDIT integer-plane rule for
    * cross-engine quotients). Seeds are an explicit bounded frame:
    * state is O(|seeds| · reachable) — landmark centrality, not
    * all-pairs — and `maxDepth` caps the rounds on long-tailed graphs.
    * Returns (seed, h_micro, n_reached).
    */
  def harmonicFromSeeds(spark: SparkSession, edges: DataFrame,
      seeds: DataFrame, maxDepth: Int = 8): DataFrame =
    seedAggregate(edges, seeds, maxDepth)(_.agg(
      sum(expr("1000000L div dist")).as("h_micro"),
      count(lit(1)).as("n_reached")))

  /** Closeness centrality from a SEED SET (r14 — the 10-line sibling
    * of [[harmonicFromSeeds]]): c(seed) = n_reached / Σ d(seed, v) over
    * the reachable set — the within-component closeness, emitted as
    * the engine-exact integer `1000000·n_reached div sum_dist`
    * (micro-units, FLOAT_AUDIT integer-plane rule; `sum_dist ≥
    * n_reached ≥ 1` for any seed that reaches anything, so the
    * division is total). Same labelled BFS, same O(|seeds|·reachable)
    * state bound.
    */
  def closenessFromSeeds(spark: SparkSession, edges: DataFrame,
      seeds: DataFrame, maxDepth: Int = 8): DataFrame =
    seedAggregate(edges, seeds, maxDepth)(_.agg(
        sum("dist").as("sum_dist"),
        count(lit(1)).as("n_reached"))
      .select(col("seed"), col("sum_dist"), col("n_reached"),
        expr("(1000000L * n_reached) div sum_dist").as("closeness_micro")))

  /** Betweenness from a SEED SET — truncated Brandes (r15, the r14
    * verdict's item 7b): one layer-synchronous forward BFS per seed
    * set (the [[seedDistances]] machinery extended with shortest-path
    * COUNTS: σ(v) at layer d = Σ σ(u) over its layer-(d−1)
    * neighbors, exact because layers are synchronous), then the
    * Brandes backward dependency accumulation level by level:
    *
    *   δ(u) = Σ over DAG successors w:  σ_u·(10⁶ + δ(w)) div σ_w
    *
    * — ALL-INTEGER micro-units (FLOAT_AUDIT integer-plane rule; the
    * division order is part of the operator contract and the oracle
    * replays it), truncated at `maxDepth` (ego-betweenness — the
    * standard bounded-neighborhood variant; exact Brandes needs
    * eccentricity-many rounds). Emitted rows: (id, bc_micro) for
    * every non-seed vertex with a positive dependency, summed over
    * seeds. Scale shape: the forward pass shuffles only frontiers,
    * the backward pass one layer join per depth; state is
    * O(|seeds|·reachable), never all-pairs. Overflow bounds FAIL
    * LOUD: σ < 2²⁰ and δ < 2⁴⁰ keep every product under 2⁶³.
    */
  def betweennessFromSeeds(spark: SparkSession, edges: DataFrame,
      seeds: DataFrame, maxDepth: Int = 2): DataFrame = Rounds { r =>
    val und = r.keep(undirected(edges))
    val sigGuard = when(col("sigma") < (1L << 20), col("sigma"))
      .otherwise(raise_error(concat(lit("betweennessFromSeeds: sigma "),
        col("sigma"), lit(" exceeds the 2^20 product bound"))).cast("long"))
    val seedLayer = r.keep(
      seeds.select(col("id").cast("long").as("seed"),
          col("id").cast("long").as("id"),
          lit(1L).as("sigma")).distinct())
    var layers = Vector(seedLayer)
    var visited = seedLayer
    var depth = 0
    var done = false
    while (!done && depth < maxDepth) {
      depth += 1
      val frontier = layers.last
      val (next, p) = r.probe(frontier.join(und, frontier("id") === und("src"))
        .groupBy(frontier("seed").as("seed"), und("dst").as("id"))
        .agg(sum(frontier("sigma")).as("sigma"))
        .select(col("seed"), col("id"), sigGuard.as("sigma"))
        .join(visited.select(col("seed").as("s2"), col("id").as("i2")),
          col("seed") === col("s2") && col("id") === col("i2"), "left_anti")
        .select("seed", "id", "sigma"), count(lit(1)))
      if (p.getLong(0) == 0) { r.release(next); done = true }
      else {
        // the seed layer (round 1's visited) is never read again: the
        // backward pass starts at layer 1
        visited = r.swap(visited, visited.unionByName(next))
        layers :+= next
      }
    }
    // backward: δ = 0 at the deepest layer; each shallower layer sums
    // the integer dependency terms over its DAG successors
    val deltaGuard = (d: Column) =>
      when(d < (1L << 40), d)
        .otherwise(raise_error(concat(lit("betweennessFromSeeds: delta "),
          d, lit(" exceeds the 2^40 product bound"))).cast("long"))
    var deltas = List.empty[DataFrame]
    var succDelta = layers.last.select(col("seed"), col("id"),
      col("sigma"), lit(0L).as("delta"))
    for (d <- (layers.size - 2) to 1 by -1) {
      val cur = layers(d)
      val sd = succDelta.select(col("seed").as("ws"), col("id").as("wi"),
        col("sigma").as("wsigma"), deltaGuard(col("delta")).as("wdelta"))
      val terms = cur.join(und, cur("id") === und("src"))
        .join(sd, cur("seed") === col("ws") && und("dst") === col("wi"))
        .select(cur("seed").as("seed"), cur("id").as("id"),
          expr("sigma * (1000000L + wdelta) div wsigma").as("term"))
        .groupBy("seed", "id").agg(sum("term").as("delta"))
      val level = r.keep(cur.join(
          terms.select(col("seed").as("ts"), col("id").as("ti"),
            col("delta").as("tdelta")),
          cur("seed") === col("ts") && cur("id") === col("ti"), "left_outer")
        .select(cur("seed"), cur("id"), cur("sigma"),
          coalesce(col("tdelta"), lit(0L)).as("delta")))
      deltas ::= level
      succDelta = level
    }
    r.keep(deltas.map(_.select(col("id"), col("delta")))
      .reduceOption(_.unionByName(_))
      .getOrElse(spark.range(0).select(col("id"), lit(0L).as("delta")))
      .groupBy("id").agg(sum("delta").as("bc_micro"))
      .filter(col("bc_micro") > 0))
  }

  /** Bounded-round WEIGHTED shortest paths from a seed set (r17, the
    * r16 verdict's #6 — the min-plus sibling of [[shortestHops]]):
    * classic Bellman-Ford over an undirected integer-weighted edge
    * list. Each round relaxes every edge once — ONE join plus one
    * map-side-combinable `min` aggregate, 8-byte ids and longs in
    * every exchange — and the ROUND COUNT is part of the operator
    * contract: after R rounds the distances are exact for every
    * shortest path of ≤ R edges, and the oracle unrolls the same R
    * relaxations as materialized CTEs (the kCore bounded-peel
    * discipline). Superseded round checkpoints release as soon as the
    * next round materializes.
    *
    * @return (id, dist) for every vertex reachable within `rounds`
    *         edges of a seed (seeds at dist 0).
    */
  def weightedPathsFromSeeds(spark: SparkSession, edges: DataFrame,
      seeds: DataFrame, rounds: Int = 4): DataFrame = Rounds { r =>
    val und = r.keep(undirected(edges.select(col("src").cast("long"),
      col("dst").cast("long"), col("w").cast("long")), "w"))
    var dist = r.keep(seeds.select(col("id").cast("long"), lit(0L).as("dist"))
      .distinct())
    for (_ <- 1 to rounds)
      dist = r.swap(dist, dist.join(und, dist("id") === und("src"))
        .select(und("dst").as("id"), (dist("dist") + und("w")).as("dist"))
        .unionByName(dist)
        .groupBy("id").agg(min("dist").as("dist")))
    dist
  }

  /** Deterministic hash-seeded random walks (r17 — the node2vec-style
    * positive-pair sampler a graph-embedding corpus build runs): from
    * each seed, `rounds` steps where the step-t successor of v is the
    * out-neighbor u minimizing the wide polynomial hash of
    * `v|t|u` — reproducible pseudo-randomness with no RNG state, so
    * the walk corpus is bit-identical on any cluster layout (and
    * oracle-checkable: the DuckDB side unrolls the same argmin
    * rounds). Each round is ONE equi-join of the frontier on the edge
    * list plus one map-side-combinable min over (hash, candidate)
    * structs on 8-byte ids — a hub's fan-out collapses in the partial
    * aggregate, never materializing beyond (seed, out-degree) rows.
    * Dead-end vertices absorb (the walk stays put). Step frames
    * reference their round's checkpoint, so checkpoints release only
    * after the output union is sealed.
    *
    * @return (seed, step, node) — walk position after each step,
    *         steps 0..rounds.
    */
  def randomWalkFromSeeds(spark: SparkSession, edges: DataFrame,
      seeds: DataFrame, rounds: Int = 4): DataFrame =
    walkFromSeeds(
      edges.select(col("src").cast("long"), col("dst").cast("long")),
      seeds, rounds,
      t => graft.ext.TextAnalysis.polyHash(
        concat_ws("|", col("node").cast("string"), lit(t.toString),
          col("dst").cast("string"))))

  /** WEIGHTED deterministic random walks (r17 — the edge-weight form
    * of [[randomWalkFromSeeds]]): the step-t successor is chosen with
    * probability ∝ edge weight via the exponential race — each
    * candidate edge draws the deterministic uniform u from the hash of
    * (v, t, u-node) and races with key −ln(u)/w (the Efraimidis–
    * Spirakis key the weighted samplers already use, in the integer
    * micro plane so both engines agree bit-for-bit); the minimum key
    * wins, so a double-weight edge wins twice as often across the
    * seed/step population while staying fully reproducible. Same
    * one-join + combinable-argmin round shape; weights are positive
    * integer longs.
    */
  def weightedWalkFromSeeds(spark: SparkSession, edges: DataFrame,
      seeds: DataFrame, rounds: Int = 4): DataFrame = {
    val p = 1000000007L
    walkFromSeeds(
      edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("w").cast("long")),
      seeds, rounds,
      t => {
        val h = graft.ext.TextAnalysis.polyHash(
          concat_ws("|", col("node").cast("string"), lit(t.toString),
            col("dst").cast("string")))
        val u = (((h * 2654435761L % p) + p) % p + 1L).cast("double") /
          (p + 1).toDouble
        round(-log(u) * 1e6 / col("w"), 0).cast("long")
      })
  }

  /** Shared bounded-round walk loop: per round join the frontier on
    * the edge list, score each candidate with `prio(t)` (read over
    * columns `node`, `dst` and the round's extra edge columns), take
    * the per-seed argmin as one combinable min over (prio, dst)
    * structs, absorb dead ends. Step frames reference their round's
    * checkpoint, so checkpoints release only after the output union
    * is sealed.
    */
  private def walkFromSeeds(edges: DataFrame, seeds: DataFrame,
      rounds: Int, prio: Int => Column): DataFrame =
    Rounds { r =>
      val e = r.keep(edges.distinct())
      val walk = (1 to rounds).scanLeft(r.keep(
          seeds.select(col("id").cast("long").as("seed"),
            col("id").cast("long").as("node")).distinct())) { (cur, t) =>
        val stepped = cur.join(e, cur("node") === e("src"))
          .withColumn("__prio", prio(t))
          .groupBy("seed")
          .agg(min(struct(col("__prio"), col("dst"))).as("m"))
          .select(col("seed"), col("m")("dst").as("node"))
        r.keep(stepped.unionByName(
          cur.join(stepped.select("seed"), Seq("seed"), "left_anti")))
      }
      r.keep(walk.zipWithIndex
        .map { case (cur, t) =>
          cur.select(col("seed"), lit(t.toLong).as("step"), col("node"))
        }
        .reduce(_ unionByName _))
    }

  /** Diameter lower bound by the classic DOUBLE SWEEP (the first
    * step of iFUB / Magnien-Latapy-Habib): BFS from a deterministic
    * start (the globally smallest vertex id), hop to the smallest id
    * among the farthest vertices found, BFS again — the second
    * eccentricity is the standard tight lower bound on the
    * component's diameter (exact on trees and on the star
    * hierarchies the fixture graphs form). Both sweeps are the
    * distributed [[shortestHops]] fixpoint; the landmarks are probes
    * on checkpoints the sweep keeps anyway (the least id on the
    * undirected edge list, the least id of the first sweep's last
    * frontier), so the operator runs exactly two BFS passes regardless
    * of graph size — never all-pairs. Returns ONE row (seed1, ecc1,
    * seed2, ecc2, n_reached): ecc2 is the diameter lower bound,
    * n_reached the size of seed2's component (the reachability
    * certificate); an empty graph gives an empty frame.
    */
  def diameterSweep(spark: SparkSession, edges: DataFrame): DataFrame = Rounds { r =>
    import spark.implicits._
    val (und, p) = r.probe(undirected(edges), min(col("src").cast("long")))
    if (p.isNullAt(0))
      spark.range(0).select(
        col("id").as("seed1"), col("id").as("ecc1"), col("id").as("seed2"),
        col("id").as("ecc2"), col("id").as("n_reached"))
    else {
      val seed1 = p.getLong(0)
      val (d1, ecc1, last) = hops(r, und, Seq(seed1).toDF("id"), labelled = false)
      val seed2 = last.getLong(1)
      r.release(d1)
      val (d2, _, _) = hops(r, und, Seq(seed2).toDF("id"), labelled = false)
      r.keep(d2.agg(max("dist").as("ecc2"), count(lit(1)).as("n_reached"))
        .select(lit(seed1).as("seed1"), lit(ecc1.toLong).as("ecc1"),
          lit(seed2).as("seed2"), col("ecc2"), col("n_reached")))
    }
  }

  /** Per-community MODULARITY contributions for a given labeling
    * (r14): with m = |distinct undirected edges|, e_c = edges inside
    * community c and d_c = Σ member degrees, the Newman-Girvan
    * contribution is q_c = e_c/m − (d_c/2m)². Emitted on the integer
    * plane as q_micro = (10⁶·e_c) div m − ((10⁶·d_c div 2m)²
    * div 10⁶) — two bounded divisions so nothing multiplies past
    * 10¹² even at m ~ 10⁹ edges (the naive 10⁶·d_c² blows a long at
    * m ~ 10⁶). Shape: one distinct, two combinable degree/intra
    * counts keyed by community, a label join; m is the single
    * driver-side scalar, a probe on the edge keep.
    */
  def modularityByCommunity(spark: SparkSession, edges: DataFrame,
      labels: DataFrame): DataFrame = Rounds { r =>
    // canonicalize to UNDIRECTED form first: a caller handing the
    // common both-directions representation — or a mix of once- and
    // twice-listed edges — must not inflate m, degrees, or intra counts
    val (e0, p) = r.probe(canonical(edges), count(lit(1)))
    val m = p.getLong(0)
    val l = labels.select(col("id"), col("label"))
    val ls = l.select(col("id").as("__s"), col("label").as("__lsrc"))
    val ld = l.select(col("id").as("__d"), col("label").as("__ldst"))
    val intra = e0.join(ls, col("src") === col("__s"))
      .join(ld, col("dst") === col("__d"))
      .filter(col("__lsrc") === col("__ldst"))
      .groupBy(col("__lsrc").as("label"))
      .agg(count(lit(1)).as("intra_edges"))
    val comm = e0.select(col("src").as("id"))
      .unionByName(e0.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("__deg"))
      .join(l, Seq("id"))
      .groupBy("label")
      .agg(sum("__deg").as("degree_sum"), count(lit(1)).as("n_nodes"))
    r.keep(comm.join(intra, Seq("label"), "left_outer")
      .select(col("label"), col("n_nodes"),
        coalesce(col("intra_edges"), lit(0L)).as("intra_edges"),
        col("degree_sum"))
      .withColumn("q_micro", expr(
        s"(1000000L * intra_edges) div ${m}L - " +
          s"(((1000000L * degree_sum) div ${2 * m}L) * " +
          s"((1000000L * degree_sum) div ${2 * m}L)) div 1000000L")))
  }

  /** Bounded k-core peel: `rounds` iterations of "drop every vertex
    * with undirected degree < k, then drop dangling edges". At
    * convergence (fixture graphs converge in 2-3 rounds; the spec
    * asserts it) the survivors ARE the k-core; the ROUND COUNT is part
    * of the operator contract so a closed-form oracle can unroll the
    * same peel exactly.
    *
    * Scale shape: each round is one map-side-combinable degree count
    * plus two semi-joins on long vertex ids; `localCheckpoint` per
    * round truncates the growing plan. No vertex collection, no
    * all-pairs work — the classic distributed peeling schedule.
    *
    * @return surviving `(id, core_deg)` — vertex and its degree within
    *         the peeled subgraph.
    */
  def kCore(spark: SparkSession, edges: DataFrame, k: Int = 3,
      rounds: Int = 6): DataFrame = Rounds { r =>
    def degrees(e: DataFrame): DataFrame =
      e.select(col("src").as("v")).unionByName(e.select(col("dst").as("v")))
        .groupBy("v").agg(count(lit(1)).as("c"))
    val (e0, p) = r.probe(edges.select(col("src"), col("dst")).distinct(),
      count(lit(1)))
    val e = peel(r, e0, p.getLong(0), rounds) { cur =>
      val keep = degrees(cur).filter(col("c") >= k).select("v")
      cur.join(keep.withColumnRenamed("v", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("v", "dst"), Seq("dst"), "left_semi")
    }
    degrees(e).select(col("v").as("id"), col("c").as("core_deg"))
  }

  /** HITS hubs-and-authorities, integer-exact bounded variant: scores
    * start at 1; each round computes `auth(v) = Σ hub(u)` over in-edges
    * then `hub(u) = Σ auth(v)` over out-edges (the classic alternating
    * update). Normalization is deliberately OMITTED and the round count
    * bounded: integer sums are exact cross-engine (no float-reduction
    * order sensitivity), and relative ranking — the quantity HITS is
    * used for — is normalization-invariant. Scores grow ~(d_avg)^2 per
    * round; two rounds stay far inside BIGINT for any realistic degree
    * distribution (overflow at ~d_avg^4 > 9·10^18 would need average
    * degree beyond 50 000).
    */
  def hits(spark: SparkSession, edges: DataFrame, rounds: Int = 2): DataFrame = {
    // un-normalized scores grow ~d_avg^2 per round; beyond 2 rounds the
    // Long sums can wrap SILENTLY on dense graphs, producing garbage
    // rankings with no error — out-of-contract round counts fail loudly
    require(rounds >= 1 && rounds <= 2,
      s"hits: rounds must be 1 or 2 (got $rounds) — the un-normalized " +
        "integer-exact contract only bounds Long overflow through 2 rounds")
    // r19 (guide §3.1 "pick the join strategy deliberately", §2.4):
    // probe-profiled, the old per-round plan auto-BROADCAST the EDGE
    // list every half-round (a checkpoint carries accurate size
    // stats, 160k edges ≈ 2.8 MB < the 10 MB threshold) while the
    // per-round score table's checkpoint was AQE-coalesced to ONE
    // partition — so every probe + partial-sum ran in a single task.
    // Flip the build side: the per-round hub/auth table is VERTEX-
    // sized (the side that stays broadcastable as edges grow);
    // explicitly broadcasting it makes the edge checkpoint the
    // parallel probe side and drops the per-round edge broadcast
    // build. The "vertices with no in-edges keep 0" union + max
    // re-agg is a LEFT OUTER join against a checkpointed verts
    // instead (sums are ≥ 0 so max(sum, 0) ≡ coalesce(sum, 0)
    // exactly; verts was recomputed as a lazy distinct ~5× before).
    // Per half-round: broadcast build (vertex-sized) + one partial-
    // combined sum exchange, instead of an edge-list broadcast + a
    // vertex exchange + a union-wide re-aggregation exchange.
    Rounds { r =>
      val e = r.keep(edges.select(col("src"), col("dst")).distinct())
      val (verts, p) = r.probe(e.select(col("src").as("v"))
        .unionByName(e.select(col("dst").as("v"))).distinct(), count(lit(1)))
      val bc = Rounds.broadcastVertexState(p.getLong(0))
      var hub = verts.withColumn("hub", lit(1L))
      var auth = verts.withColumn("auth", lit(1L))
      for (_ <- 1 to rounds) {
        auth = r.swap(auth, verts.join(
            e.join(bc(hub.select(col("v").as("src"), col("hub"))),
                Seq("src"))
              .groupBy(col("dst").as("v")).agg(sum("hub").as("auth")),
            Seq("v"), "left")
          // vertices with no in-edges keep authority 0 this round
          .select(col("v"), coalesce(col("auth"), lit(0L)).as("auth")))
        hub = r.swap(hub, verts.join(
            e.join(bc(auth.select(col("v").as("dst"), col("auth"))),
                Seq("dst"))
              .groupBy(col("src").as("v")).agg(sum("auth").as("hub")),
            Seq("v"), "left")
          .select(col("v"), coalesce(col("hub"), lit(0L)).as("hub")))
      }
      r.keep(hub.join(auth, Seq("v"))
        .select(col("v").as("id"), col("hub"), col("auth")))
    }
  }

  /** Adamic–Adar link-prediction scores over a bipartite edge list
    * (left, right): for every left-pair sharing a right neighbor,
    * `score = Σ_z 1/ln(deg z)` over the common neighbors z —
    * integer micro-unit contributions (each z's weight rounds to a
    * long once, from its degree, BEFORE the sum), so the distributed
    * sum is order-independent and cross-engine exact. deg z ≥ 2 for
    * any common neighbor, so ln never hits 0.
    *
    * Scale shape: one combinable degree count, then the wedge join
    * (edges ⋈ edges on the shared neighbor) — the hub mitigation
    * every production link predictor uses is part of the CONTRACT:
    * neighbors with degree > `maxDeg` are excluded (a 1e6-degree hub
    * contributes ~1/ln(1e6) ≈ 0.07 per pair while generating 1e12
    * wedges; capping changes the score by ≤ pairs·0.07 and bounds the
    * join at O(Σ min(deg, maxDeg)²)). Ranking quality is famously
    * insensitive to the cap; exactness vs the capped oracle is exact.
    */
  def adamicAdar(edges: DataFrame, maxDeg: Long = 64): DataFrame = {
    val e = edges.select(col("left").cast("long"), col("right").cast("long"))
      .distinct()
    val deg = e.groupBy("right").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2 && col("deg") <= maxDeg)
      .withColumn("w_micro",
        round(lit(1e6) / log(col("deg").cast("double")), 0).cast("long"))
    val ew = e.join(deg, Seq("right"))
    val a = ew.select(col("right"), col("left").as("a"), col("w_micro"))
    val b = ew.select(col("right"), col("left").as("b"))
    a.join(b, Seq("right"))
      .where(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"), sum("w_micro").as("aa_micro"))
  }

  /** Neighbor-set Jaccard link prediction — the set-overlap sibling
    * of [[adamicAdar]]: J(a,b) = |N(a)∩N(b)| / |N(a)∪N(b)| over the
    * shared-neighbor wedge join, with the SAME deg≤cap hub contract
    * on the shared side (an uncapped hub's wedges are quadratic for
    * near-zero signal). Union sizes use the TRUE left degrees; the
    * emitted score is micro-units/1e6 (integer-ratio class — see
    * FLOAT_AUDIT.md). Shuffles carry 8-byte ids and longs only.
    */
  def neighborJaccard(edges: DataFrame, maxDeg: Long = 64): DataFrame = {
    val e = edges.select(col("left").cast("long"), col("right").cast("long"))
      .distinct()
    val rdeg = e.groupBy("right").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2 && col("deg") <= maxDeg)
    val ldeg = e.groupBy("left").agg(count(lit(1)).as("ldeg"))
    val ew = e.join(rdeg.select("right"), Seq("right"))
    val a = ew.select(col("right"), col("left").as("a"))
    val b = ew.select(col("right"), col("left").as("b"))
    val common = a.join(b, Seq("right"))
      .where(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"))
    common
      .join(ldeg.select(col("left").as("a"), col("ldeg").as("da")), Seq("a"))
      .join(ldeg.select(col("left").as("b"), col("ldeg").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("n_common"), col("da"), col("db"),
        (round(col("n_common").cast("double") * lit(1e6)
            / (col("da") + col("db") - col("n_common")), 0)
          .cast("long").cast("double") / lit(1e6)).as("jaccard"))
  }

  /** Deterministic SYNCHRONOUS label propagation (community
    * detection): labels start as the vertex id; each round every
    * vertex adopts its neighbors' most frequent label, ties broken by
    * the smallest label. The round count is part of the contract
    * (bounded rounds — an async LPA would be run-order dependent and
    * uncheckable cross-engine). Per round: one join + one aggregation,
    * labels are 8-byte longs in every exchange — the standard
    * billion-edge community pass.
    */
  def labelPropagation(spark: SparkSession, edges: DataFrame,
      rounds: Int = 3): DataFrame = Rounds { r =>
    // r19 (guide §3.1, probe-profiled like [[hits]]): the old per-
    // round join auto-BROADCAST the 2×|E| undirected edge checkpoint
    // (accurate stats, under the 10 MB threshold) and probed from the
    // label table's checkpoint — which AQE had coalesced to ONE
    // partition, serializing the neighbor-histogram on a single core
    // every round. Explicitly broadcasting the VERTEX-sized per-round
    // label table flips the probe to the edge checkpoint's partitions
    // (parallel) and drops the per-round edge broadcast build.
    val und0 = edges.select(col("src"), col("dst")).distinct()
    val und = r.keep(und0.unionByName(
      und0.select(col("dst").as("src"), col("src").as("dst"))))
    val (verts, p) = r.probe(und.select(col("src").as("v")).distinct(),
      count(lit(1)))
    var labels = verts.withColumn("lbl", col("v"))
    val bc = Rounds.broadcastVertexState(p.getLong(0))
    for (_ <- 1 to rounds) {
      // argmax by (count desc, label asc) as a MIN over (-c, lbl)
      // structs: both aggregation steps are map-side combinable, so a
      // celebrity vertex's neighbor-label histogram reduces in
      // parallel — a per-vertex window sort would stream the whole
      // hub through one task (and pay a sort the argmax doesn't need)
      labels = r.swap(labels, und
        .join(bc(labels.select(col("v").as("dst"), col("lbl"))),
          Seq("dst"))
        .groupBy(col("src").as("v"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy("v")
        .agg(min(struct((-col("c")).as("nc"), col("lbl").as("lbl"))).as("best"))
        .select(col("v"), col("best")("lbl").as("lbl")))
    }
    labels.select(col("v").as("id"), col("lbl").as("label"))
  }
}
