package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  def checkpointLeaves(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves()
      .collect { case l: LogicalRDD => l.rdd.id }.toSet

  /** Runs `op` and forces its result: the persisted-RDD set may grow
    * only by the checkpoints a frame result reads (by none for any
    * other result) — every intermediate checkpoint was released.
    */
  def assertCheckpointsOwned[T](op: => T): T = {
    val before = persistedRdds()
    val out = op
    val reads = out match {
      case df: DataFrame => df.collect(); checkpointLeaves(df)
      case _ => Set.empty[Int]
    }
    val added = persistedRdds() -- before
    assert(added.subsetOf(reads),
      s"persisted RDDs the result does not read: ${added -- reads}")
    out
  }
}
