package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped cache for shared intermediate DataFrames (the quads
  * view, the OWL-Horst materialization, predicate stats, the graph
  * gates' edge list). Mirrors the reference's load-time artifacts:
  * computed once per (session, dataset), reused by every query.
  *
  * Keys are `applicationId:sessionUUID:dir:name` — a stable unique
  * session identity, not `SparkSession.hashCode` (which can collide
  * across sessions and outlives stopped ones). Entries are evicted
  * when their application ends (so a stale DataFrame is never handed
  * to a different session); an application that churns through many
  * sub-sessions should additionally call [[invalidateSession]] on
  * each stop, since per-session entries are otherwise held until the
  * application exits.
  */
object DfCache {

  private val entries = new ConcurrentHashMap[String, AnyRef]()
  private val hooked = ConcurrentHashMap.newKeySet[String]()

  // Reference-identity-keyed session UUIDs: two distinct live sessions
  // can never share a key (unlike hashCode), and dead sessions are
  // GC'd out of the weak map.
  private val sessionIds =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())

  private def sessionKey(s: SparkSession): String = {
    val uuid = sessionIds.computeIfAbsent(
      s, _ => java.util.UUID.randomUUID().toString)
    s.sparkContext.applicationId + ":" + uuid
  }

  /** Drop every cached entry belonging to `appId` once its context
    * ends — the backing blocks die with the executors, so the
    * DataFrames are unusable anyway.
    */
  private def hookEviction(s: SparkSession): Unit = {
    val app = s.sparkContext.applicationId
    if (hooked.add(app)) {
      s.sparkContext.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
          hooked.remove(app)
          val it = entries.keySet.iterator
          while (it.hasNext) if (it.next().startsWith(app + ":")) it.remove()
        }
      })
    }
  }

  /** get → compute OUTSIDE the map lock → publish. Entry loaders here
    * call back into the cache (the OWL-Horst materialization builds on
    * the quads view), and ConcurrentHashMap forbids reentrant updates
    * from inside computeIfAbsent's mapping function — same-bin
    * recursion throws IllegalStateException. The race cost is a
    * duplicate computation, settled by putIfAbsent. The LOSER is NOT
    * unpersisted: Spark's CacheManager keys cached data by
    * canonicalized plan, so the loser's `persist` was a no-op on the
    * winner's entry and an `unpersist` would drop the winner's blocks.
    */
  private def getOrPublish(key: String, compute: () => AnyRef): AnyRef = {
    val hit = entries.get(key)
    if (hit != null) hit
    else {
      val fresh = compute()
      val prior = entries.putIfAbsent(key, fresh)
      if (prior != null) prior else fresh
    }
  }

  /** Compute-once persisted DataFrame shared across queries of one
    * session+dataset. `persist=false` for inputs that are already
    * materialized leaves (e.g. localCheckpoint results).
    */
  def df(s: SparkSession, dir: String, name: String, persist: Boolean = true)(
      f: => DataFrame): DataFrame = {
    hookEviction(s)
    getOrPublish(sessionKey(s) + ":" + dir + ":" + name, () => {
      val d = f
      val out = if (persist) d.persist(StorageLevel.MEMORY_AND_DISK) else d
      out.count()
      out
    }).asInstanceOf[DataFrame]
  }

  /** Compute-once plain value (e.g. collected statistics). */
  def value[T <: AnyRef](s: SparkSession, dir: String, name: String)(f: => T): T = {
    hookEviction(s)
    getOrPublish(sessionKey(s) + ":" + dir + ":" + name, () => f).asInstanceOf[T]
  }

  /** Drop (and unpersist) ONE named entry of (session, dataset) — for
    * gate-family-scoped shared views (e.g. the edge list used only by
    * the graph gates): a long benchmark session releases them
    * when their family is done instead of pinning every view until the
    * application exits and letting the storage pool crowd execution
    * memory. No-op if the entry was never computed.
    */
  def invalidate(s: SparkSession, dir: String, name: String): Unit =
    entries.remove(sessionKey(s) + ":" + dir + ":" + name) match {
      case d: DataFrame => try {
        d.unpersist(blocking = false)
        // persist=false entries are localCheckpoint leaves (e.g. the
        // OWL-Horst closure) — Dataset.unpersist is a NO-OP for those
        // (UnpersistProbeSpec); free the entry's own LogicalRDD blocks
        // promptly instead of waiting on GC + ContextCleaner
        graft.plans.Rounds.releaseRoot(d)
      } catch { case _: Throwable => () }
      case _ => ()
    }

  /** Drop (and unpersist) every entry belonging to `s` — call when
    * stopping a SUB-session of a long-lived application (application-
    * end eviction alone would hold its DataFrames until the whole app
    * exits). Caveat: Spark caches by canonicalized plan, so if another
    * LIVE session cached the identical plan, its blocks drop too and
    * it silently recomputes — invalidate only sessions whose datasets
    * are not shared.
    */
  def invalidateSession(s: SparkSession): Unit = {
    val prefix = sessionKey(s) + ":"
    val it = entries.entrySet().iterator
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.startsWith(prefix)) {
        e.getValue match {
          case d: DataFrame => try {
            d.unpersist()
            graft.plans.Rounds.releaseRoot(d) // checkpoint-leaf entries
          } catch { case _: Throwable => () }
          case _ => ()
        }
        it.remove()
      }
    }
  }
}
