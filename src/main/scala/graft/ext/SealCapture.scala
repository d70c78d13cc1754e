package graft.ext

/** Test hook: pre-seal finalized QueryExecutions recorded by
  * [[graft.plans.Rounds.keep]], the only capture point. PlanQualitySpec
  * enables capture around a gate build so its plan-shape contracts
  * (broadcast joins, partial window-group-limits, no-cartesian pins)
  * keep asserting the REAL join/aggregate shapes of operators whose
  * results are sealed by a terminal checkpoint — without it the
  * executed plan of the returned frame is a bare `Scan ExistingRDD`
  * and every assertion is vacuous (the r18 verdict's PlanQualitySpec
  * breakage). Disabled (one volatile read per kept frame) outside
  * tests.
  *
  * Capture is OWNER-THREAD-scoped, not just thread-buffered (r19
  * review): suites share one session and run in parallel, so while
  * one suite has capture enabled, other threads' seals must not
  * record at all — a buffer on a pool thread that never calls
  * clear() would pin QueryExecution plan trees (and the checkpointed
  * RDDs they reference) for the thread's lifetime.
  */
object SealCapture {
  @volatile private var owner: Long = -1L
  private val buf =
    scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.execution.QueryExecution]
  /** Start capturing seals made on THIS thread (the buffer is only
    * ever touched by the owner, so no further synchronization). */
  private[graft] def enable(): Unit = {
    owner = Thread.currentThread().getId; buf.clear()
  }
  private[graft] def disable(): Unit = { owner = -1L; buf.clear() }
  private[graft] def clear(): Unit =
    if (owner == Thread.currentThread().getId) buf.clear()
  /** Executed-plan strings of every owner-thread seal since clear(). */
  private[graft] def plans(): Seq[String] =
    if (owner == Thread.currentThread().getId)
      buf.toVector.map(_.executedPlan.toString)
    else Vector.empty
  private[graft] def add(
      qe: org.apache.spark.sql.execution.QueryExecution): Unit =
    if (owner == Thread.currentThread().getId) buf += qe
}
