package graft.plans

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Driver-side iterative fixpoints over DataFrames — the one thing
  * Catalyst cannot express (no recursion; SURVEY §4.2). Used by
  * property paths (`p+`/`p*`) and the graph-analytics operators.
  * OWL-Horst uses none: its materialization closes transitive
  * properties as a one-hop rule inside each rule round, and its DRed
  * delete walks transitive edges on collected rows.
  *
  * Discipline at scale (SURVEY §2.C "hard parts"):
  *  - semi-naive: each round joins only the NEW pairs (delta) against
  *    the base relation, never the whole accumulator;
  *  - the accumulator lives as cached RDD deltas sharing ONE
  *    `HashPartitioner`: the novelty check is `subtractByKey` against
  *    their partitioner-aware union, and both operations are NARROW
  *    when co-partitioned — a round shuffles O(|candidate|) records,
  *    never the accumulated closure. (A DataFrame `except(acc)`
  *    re-shuffles the whole closure every round — O(diameter ×
  *    |closure|) shuffle volume — and checkpointed-leaf partitioning
  *    is not reusable by Catalyst, so this is the one place the
  *    engine drops to the RDD API: partitioner-preserving union and
  *    set-difference are per-partition logic Catalyst cannot see.)
  *  - per-delta caching truncates recompute lineage (the union DAG is
  *    narrow over cached leaves), bounding rounds by graph diameter,
  *    not path count. FixpointSpec asserts the shuffle-records budget.
  *  - each call is one [[Rounds]] scope: the seed checkpoint is freed
  *    on return, the sealed result is handed to an enclosing scope
  *    (OwlHorst's) or, outside one, left to the caller.
  */
object Fixpoint {

  /** Transitive closure of a binary relation with columns (a, b).
    * Equality on pairs uses whole-row semantics (external `Row`
    * equality is structural), so strings, numerics, and nested term
    * STRUCTS all work — but NOT binary columns: `Row.equals` compares
    * `Array[Byte]` by content while `Row.hashCode` hashes the array by
    * identity, so the HashPartitioner would scatter equal keys and
    * `subtractByKey` would miss duplicates (normalize binary to base64
    * first). `groupCols` closes each group independently (e.g. per
    * named graph) in one shared fixpoint whose rounds are bounded by
    * the max diameter across groups. A reach loop seeded with the edge
    * set: each round joins the new pairs' heads onto the edges.
    */
  def closure(edges0: DataFrame, joinCond: (DataFrame, DataFrame) => Column,
      maxRounds: Int = 64, groupCols: Seq[String] = Nil): DataFrame =
    // normalize column order to (groupCols, a, b): candidate rows are
    // built in that order and Row-level set ops are positional
    reach(edges0.select((groupCols.map(col) :+ col("a") :+ col("b")): _*),
        seedVisited = true, maxRounds, "closure") { edges =>
      val step = groupCols.foldLeft(
          edges.withColumnRenamed("a", "m").withColumnRenamed("b", "b2")) {
        (d, g) => d.withColumnRenamed(g, s"__$g")
      }
      frontier => {
        val cond = (joinCond(frontier, step) +:
          groupCols.map(g => frontier(g) === step(s"__$g"))).reduce(_ && _)
        frontier.join(step, cond)
          .select((groupCols.map(g => frontier(g).as(g)) :+
            frontier("a").as("a") :+ col("b2").as("b")): _*)
      }
    }

  /** The one semi-naive loop behind [[closure]] and [[reachNodes]],
    * run as one [[Rounds]] scope. The distinct `seed` is the first
    * frontier (checkpointed through `r.keep`); with `seedVisited` it is
    * also the first visited delta and part of the result. Each round
    * steps the frontier (`step` gets the checkpointed seed), dedups,
    * and keeps only rows no earlier delta holds — a narrow
    * `subtractByKey` against the co-partitioned delta union, whose
    * `count()` both caches the delta and tests for the stop. The
    * result is the union of the visited deltas, sealed by `r.keep`;
    * the RDD deltas are unpersisted on return and on a throw.
    */
  private def reach(seed: DataFrame, seedVisited: Boolean, maxRounds: Int,
      what: String)(step: DataFrame => DataFrame => DataFrame): DataFrame =
    Rounds { r =>
      val spark = seed.sparkSession
      val sc = spark.sparkContext
      val part = new HashPartitioner(spark.sessionState.conf.numShufflePartitions)
      val start = r.keep(seed.distinct())
      val schema = start.schema
      val next = step(start)
      var cached = List.empty[RDD[(Row, Unit)]]
      def visit(rows: RDD[(Row, Unit)]): Long = {
        cached = rows.persist(StorageLevel.MEMORY_AND_DISK) :: cached
        rows.count()
      }
      def keyed(df: DataFrame): RDD[(Row, Unit)] =
        df.rdd.map(row => (row, ())).partitionBy(part)
      try {
        var deltas = List.empty[RDD[(Row, Unit)]]
        if (seedVisited) { val d = keyed(start); visit(d); deltas = List(d) }
        var frontier = start
        var round = 0
        var done = false
        while (!done && round < maxRounds) {
          round += 1
          val k = keyed(next(frontier).distinct())
          val fresh = if (deltas.isEmpty) k else k.subtractByKey(sc.union(deltas))
          if (visit(fresh) == 0) done = true
          else {
            deltas = fresh :: deltas
            frontier = spark.createDataFrame(fresh.keys, schema)
          }
        }
        if (!done) System.err.println(
          s"[fixpoint] WARNING: $what stopped at the $maxRounds-round cap " +
            "before convergence — results may be incomplete")
        if (deltas.isEmpty) seed.limit(0)
        else r.keep(spark.createDataFrame(sc.union(deltas).keys, schema))
      } finally cached.foreach(_.unpersist(blocking = false))
    }

  /** Node set reachable in ≥1 application of `step` from `n0` (a
    * single-column "n" DataFrame). The seeded counterpart of
    * [[closure]]: when a path endpoint is bound, BFS from it touches
    * only the reachable subgraph instead of closing the whole edge
    * relation — the difference between O(reachable) and O(graph) work
    * at store scale. Same loop: distinct frontier, narrow subtract
    * against co-partitioned visited deltas.
    */
  def reachNodes(n0: DataFrame, step: DataFrame => DataFrame,
      maxRounds: Int = 64): DataFrame =
    reach(n0, seedVisited = false, maxRounds, "reachability")(_ => step)

  /** Closure for plain string pairs. */
  def closureStrings(edges: DataFrame): DataFrame =
    closure(edges, (f, s) => f("b") === s("m"))
}
