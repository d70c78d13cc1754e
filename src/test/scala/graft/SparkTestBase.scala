package graft

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM-wide SparkSession. */
object SparkTestBase {
  lazy val spark: SparkSession = graft.core.LocalIo(SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false"))
    .getOrCreate()
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sf: String = "/root/testdata/sf0.001"

  def persistedRdds(): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids of the checkpoint RDDs `df` reads as `LogicalRDD` leaves. */
  def checkpointLeaves(df: Dataset[_]): Set[Int] =
    df.queryExecution.analyzed.collectLeaves()
      .collect { case l: LogicalRDD => l.rdd.id }.toSet

  /** Runs `op` and forces its result: the persisted-RDD set may grow
    * only by the checkpoints the result reads — a frame result, or the
    * frame fields of a case class or tuple result (none for any other
    * result) — so every intermediate checkpoint was released.
    */
  def assertCheckpointsOwned[T](op: => T): T = {
    val before = persistedRdds()
    val out = op
    val frames = out match {
      case d: Dataset[_] => Seq(d)
      case p: Product => p.productIterator.collect { case d: Dataset[_] => d }.toSeq
      case _ => Nil
    }
    val reads = frames.flatMap { d => d.collect(); checkpointLeaves(d) }.toSet
    val added = persistedRdds() -- before
    assert(added.subsetOf(reads),
      s"persisted RDDs the result does not read: ${added -- reads}")
    out
  }

  /** Runs `op` in a job group of its own and returns its result with
    * the number of Spark jobs started in that group. Suites share the
    * session, so jobs of other threads are not counted.
    */
  def jobsIn[T](op: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-in-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobsIn")
    try {
      val out = op
      org.apache.spark.graft.ListenerSync.await(sc)
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
