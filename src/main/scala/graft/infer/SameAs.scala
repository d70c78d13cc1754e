package graft.infer

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.Rounds

/** Distributed sameAs equivalence classes — the 100 TB path of
  * OWL-Horst's eq-* rules (SURVEY §2.C "hard parts"). The driver-side
  * union-find in [[OwlHorst]] is right for alias-scale sameAs (a few
  * thousand pairs); entity-resolution-scale sameAs (millions of links)
  * must never be resident on the driver. Here classes are discovered
  * with GraphX connected components over 64-bit term-hash vertex ids
  * (the [[graft.core.TermDictionary]] id scheme: content-derived, no
  * allocator) and the expansion pair table stays a DataFrame end to
  * end.
  *
  * Incremental maintenance: the fixpoint caller seeds once with
  * [[classes]] and then folds each round's NEW edges in with
  * [[increment]] — a CC over the previous assignment's star edges
  * (depth 1, converges immediately) plus the new edges, instead of
  * re-running CC over every edge seen so far each round.
  * [[bridgingCount]] is the cheap change test: an edge whose endpoints
  * already share a component cannot change anything, so rounds whose
  * delta only re-derives known equivalences skip CC entirely.
  *
  * Reference behavior: GraphDB's sameAs optimization groups equivalent
  * IRIs behind a single id and expands at query time
  * (`repo-config.ttl:45` `owlim:disable-sameAs "false"`); the
  * materialized cross-pair expansion below reproduces the same visible
  * statements.
  */
object SameAs {

  /** Number of GraphX CC executions — observability hook for specs
    * asserting that unchanged rounds do not re-run CC.
    */
  val ccRuns = new AtomicLong(0)

  /** default per-class member cap for cross-pair expansion */
  def classCap: Long =
    sys.props.getOrElse("graft.sameas.class.cap", "10000").toLong

  /** `(member, cc)` over `edges`, checkpointed through `r.keep`.
    * GraphX caches the edge and vertex RDDs of the input graph and of
    * the components graph and frees neither; both are released once
    * the assignment is checkpointed, so only the checkpoint outlives
    * the call.
    */
  private def runCc(r: Rounds, spark: SparkSession, members: DataFrame,
      edges: DataFrame): DataFrame = {
    import spark.implicits._
    ccRuns.incrementAndGet()
    // id = content hash is the vertex IDENTITY: a collision would merge
    // unrelated equivalence classes, so fail loudly instead (same
    // discipline as TermDictionary.build)
    val m = members.select(xxhash64(col("member")).as("id"), col("member"))
    val nMembers = m.count()
    val nIds = m.select("id").distinct().count()
    require(nMembers == nIds,
      s"sameAs term-hash collision: $nMembers members, $nIds ids — widen the id")
    val es = edges.as[(Long, Long)].rdd.map { case (s, d) => Edge(s, d, 1) }
    val g = Graph.fromEdges(es, 0)
    val cc = g.connectedComponents()
    try r.keep(m.join(cc.vertices.toDF("id", "cc"), "id")
      .select(col("member"), col("cc")))
    finally { cc.unpersist(blocking = false); g.unpersist(blocking = false) }
  }

  private def sameAsEdges(triples: DataFrame): DataFrame =
    triples.filter(col("p")("lex") === "owl:sameAs")
      .select(col("s")("lex").as("a"), col("o")("lex").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** `(member, cc)` — every term appearing in a sameAs statement with
    * its connected-component id (GraphX convention: min vertex id in
    * the component, deterministic). Full build from scratch — the
    * fixpoint seed.
    */
  def classes(r: Rounds, spark: SparkSession, triples: DataFrame): DataFrame = {
    val pairs = sameAsEdges(triples)
    val members = pairs.select(col("a").as("member"))
      .unionByName(pairs.select(col("b").as("member"))).distinct()
    runCc(r, spark, members,
      pairs.select(xxhash64(col("a")).as("src"), xxhash64(col("b")).as("dst")))
  }

  /** Count of new `(a, b)` lex edges that connect two currently-distinct
    * components (unknown endpoints count as their own singleton). Zero
    * means the class structure cannot have changed — no CC needed.
    */
  def bridgingCount(prev: DataFrame, newEdges: DataFrame): Long = {
    val pa = prev.select(xxhash64(col("member")).as("ia"), col("cc").as("ca"))
    val pb = prev.select(xxhash64(col("member")).as("ib"), col("cc").as("cb"))
    newEdges.select(xxhash64(col("a")).as("ia"), xxhash64(col("b")).as("ib"))
      .join(pa, Seq("ia"), "left").join(pb, Seq("ib"), "left")
      .filter(coalesce(col("ca"), col("ia")) =!= coalesce(col("cb"), col("ib")))
      .count()
  }

  /** Fold one round's new `(a, b)` lex edges into a previous
    * `(member, cc)` assignment. The graph re-run is over the previous
    * assignment's STAR edges (member → component id, a member hash
    * itself) plus the new edges — linear in |members| + |newEdges| and
    * diameter ≤ 2, not the full historical edge multiset.
    */
  def increment(r: Rounds, spark: SparkSession, prev: DataFrame,
      newEdges: DataFrame): DataFrame = {
    val newMembers = newEdges.select(col("a").as("member"))
      .unionByName(newEdges.select(col("b").as("member")))
    val members = prev.select("member").unionByName(newMembers).distinct()
    val edges = prev
      .select(xxhash64(col("member")).as("src"), col("cc").as("dst"))
      .unionByName(
        newEdges.select(xxhash64(col("a")).as("src"), xxhash64(col("b")).as("dst")))
    runCc(r, spark, members, edges)
  }

  /** Ordered `(from, to)` cross pairs within each class (`from ≠ to`)
    * — the eq-rep expansion table, never resident on the driver. The
    * within-class self-join is quadratic in class size, so classes
    * beyond `cap` members are EXCLUDED with a loud warning: a
    * million-member class is degenerate input (everything equals
    * everything), and its 10¹² expansion pairs would take the job down
    * — same discipline as the LSH bucket cap in [[graft.ext.Dedup]].
    */
  def pairsFromClasses(classes: DataFrame, cap: Long): DataFrame = {
    val sizes = classes.groupBy("cc").count()
    val nOver = sizes.filter(col("count") > cap).count()
    if (nOver > 0) System.err.println(
      s"[sameas] WARNING: $nOver equivalence class(es) exceed $cap members — " +
        "excluded from cross-pair expansion (degenerate sameAs input); " +
        "raise -Dgraft.sameas.class.cap to override")
    val kept = classes.join(sizes.filter(col("count") <= cap), Seq("cc"))
    val l = kept.select(col("cc"), col("member").as("from"))
    val r = kept.select(col("cc"), col("member").as("to"))
    l.join(r, "cc").filter(col("from") =!= col("to")).select("from", "to")
  }
}
