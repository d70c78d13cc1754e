package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.broadcast

/** Checkpoint owner for one operator, iterative or staged (the
  * Pregelix shape: each round or stage is cut off from its lineage by
  * an eager `localCheckpoint` and owned by the loop that made it).
  * Every checkpoint the operator takes goes through [[keep]]; [[swap]]
  * replaces a round's state and frees the one it supersedes; when the
  * body returns, every tracked checkpoint the result does not read as
  * a `LogicalRDD` leaf is released. No terminal seal, no extra job: a
  * result that is itself a [[keep]] is the operator's own seal.
  *
  * Stop tests: a stop test or driver scalar over a frame the loop
  * keeps is a [[probe]] on that keep — an aggregate the checkpoint's
  * own job computes — never a second action (`count`, `isEmpty`,
  * `agg(...).head`) on the kept frame.
  *
  * Release is by ownership, never by plan walk: only a frame that IS
  * a tracked checkpoint root frees blocks, so a lazy derivation of a
  * live checkpoint (a round-1 "previous" state projected off the edge
  * list) and a frame released twice are both no-ops. `Dataset.
  * unpersist` cannot do this — it is a no-op for localCheckpoint
  * blocks (UnpersistProbeSpec); the leaf RDD's own unpersist is what
  * frees them.
  *
  * Nesting: a scope opened inside another scope on the same thread
  * (OwlHorst's run calling [[Fixpoint]]) hands the checkpoints its
  * result reads to the enclosing scope, which frees them when its own
  * result does not read them. A scope on another thread never attaches
  * to this one. So a frame made inside a body may reach only that
  * body's result — never a cache or a field, whose blocks the
  * enclosing scope would free. [[releaseRoot]] is the one release
  * outside a scope.
  */
final class Rounds private (outer: Option[Rounds]) {
  private val held = scala.collection.mutable.LinkedHashMap.empty[Int, RDD[_]]

  /** Eagerly checkpoint `df` and track the blocks. The pre-checkpoint
    * plan is offered to [[graft.ext.SealCapture]], so plan-shape
    * contracts see through the checkpoint scan.
    */
  def keep(df: DataFrame): DataFrame = probe(df)._1

  /** [[keep]] `df` and return, with the checkpoint, the values of the
    * aggregate `cols` over its rows (in order; `Row.empty` for none).
    * The checkpoint's own job computes them (`Dataset.observe`), so
    * the probe starts no job of its own; over no rows a count reads 0
    * and a min or max null. The values are read from the execution
    * that ran the checkpoint as soon as it returns: an `Observation`
    * would wait for a listener-bus event, which a full bus queue drops.
    */
  def probe(df: DataFrame, cols: Column*): (DataFrame, Row) = {
    val name = s"probe-${java.util.UUID.randomUUID}"
    val src = if (cols.isEmpty) df else df.observe(name, cols.head, cols.tail: _*)
    val out = src.localCheckpoint()
    graft.ext.SealCapture.add(src.queryExecution)
    Rounds.root(out).foreach(r => held(r.id) = r)
    (out, if (cols.isEmpty) Row.empty else src.queryExecution.observedMetrics(name))
  }

  /** The next round's state: checkpoint `next`, then free `prev`. */
  def swap(prev: DataFrame, next: DataFrame): DataFrame = {
    val out = keep(next)
    release(prev)
    out
  }

  /** Free `df`'s blocks now if it is a tracked checkpoint root. */
  def release(df: DataFrame): Unit =
    Rounds.root(df).flatMap(r => held.remove(r.id))
      .foreach(_.unpersist(blocking = false))

  /** Free what `live` does not name; hand the rest to the enclosing
    * scope, if any. */
  private def close(live: Set[Int]): Unit = {
    val (kept, freed) = held.values.partition(r => live(r.id))
    freed.foreach(_.unpersist(blocking = false))
    outer.foreach(o => kept.foreach(r => o.held(r.id) = r))
    held.clear()
  }
}

object Rounds {

  /** Vertex count up to which the per-round vertex-state table is
    * broadcast: (long, long) rows are ~16 bytes serialized, so 5M rows
    * is ~80 MB built relation, far below the 8 GB / 512M-row broadcast
    * limits. Beyond it Catalyst plans the shuffle join a graph that
    * size needs.
    */
  private val BroadcastVertexCap = 5000000L

  /** The open scopes of this thread, innermost first. A plain
    * ThreadLocal: an inheritable one would attach the threads Spark
    * spawns to the scope that spawned them.
    */
  private val open = ThreadLocal.withInitial[List[Rounds]](() => Nil)

  /** Run one operator's body; release every tracked checkpoint its
    * result does not read — the result frame, or the frame fields of a
    * case class or tuple result — and all of them if the body throws.
    */
  def apply[T](body: Rounds => T): T = {
    val enclosing = open.get
    val r = new Rounds(enclosing.headOption)
    open.set(r :: enclosing)
    val out =
      try body(r)
      catch { case e: Throwable => r.close(Set.empty); throw e }
      finally open.set(enclosing)
    r.close(out match {
      case p: Product => p.productIterator.flatMap(reads).toSet
      case x => reads(x)
    })
    out
  }

  /** Free `df`'s blocks now if it is a checkpoint root; a no-op for any
    * other frame. The one release outside a scope: for checkpoints a
    * scope cannot own, which are [[graft.core.DfCache]] entries.
    */
  private[graft] def releaseRoot(df: Dataset[_]): Unit =
    root(df).foreach(_.unpersist(blocking = false))

  /** Broadcast hint for a per-round vertex-state table over `vertices`
    * vertices (the caller's probe of its vertex keep): without the
    * guard the hint would bypass the auto-threshold at any graph size.
    */
  def broadcastVertexState(vertices: Long): DataFrame => DataFrame =
    if (vertices <= BroadcastVertexCap) broadcast(_) else identity

  private def reads(x: Any): Set[Int] = x match {
    case d: Dataset[_] => d.queryExecution.analyzed.collectLeaves()
      .collect { case l: LogicalRDD => l.rdd.id }.toSet
    case _ => Set.empty
  }

  private def root(df: Dataset[_]): Option[RDD[_]] =
    df.queryExecution.analyzed match {
      case l: LogicalRDD => Some(l.rdd)
      case _ => None
    }
}
