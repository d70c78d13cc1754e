package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import graft.plans.Fixpoint

/** Closure correctness plus the round-3 verdict's scale assertion: the
  * novelty check must not re-shuffle the accumulated closure every
  * round (the old `except(acc)` did — O(diameter × |closure|) shuffle
  * volume). With the chain-of-co-partitioned-deltas check, per-round
  * shuffle is O(|frontier| + |edges| + |delta|).
  */
class FixpointSpec extends GraftSuite {

  test("chain closure is complete and per-round shuffle stays delta-sized") {
    import spark.implicits._
    val n = 40
    val edges = (1 until n).map(i => (f"n$i%02d", f"n${i + 1}%02d")).toDF("a", "b")

    val shuffleRecords = new LongAdder
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) shuffleRecords.add(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val closed = assertCheckpointsOwned(Fixpoint.closureStrings(edges))
      val cnt = closed.count()
      org.apache.spark.graft.ListenerSync.await(spark.sparkContext)
      assert(cnt == n.toLong * (n - 1) / 2) // all i<j pairs of a 40-chain

      // Budget: Σ(|frontier| + |edges| + 2|delta|) ≈ 5×|closure| for a
      // chain. Re-shuffling the accumulator each round (the old
      // behavior) adds Σ|acc_k| ≈ n³/6 ≈ 13×|closure| and blows this.
      val total = shuffleRecords.sum()
      assert(total < 8L * cnt,
        s"closure shuffled $total records for a $cnt-pair closure — " +
          "the novelty check is re-shuffling the accumulator")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("grouped closure closes each group independently") {
    import spark.implicits._
    val edges = Seq(
      ("g1", "a", "b"), ("g1", "b", "c"),
      ("g2", "a", "b")).toDF("g", "a", "b")
    val closed = assertCheckpointsOwned(Fixpoint.closure(edges,
        (f, s) => f("b") === s("m"), groupCols = Seq("g")))
      .as[(String, String, String)].collect().toSet
    assert(closed == Set(
      ("g1", "a", "b"), ("g1", "b", "c"), ("g1", "a", "c"),
      ("g2", "a", "b")))
  }

  test("reachNodes visits only the reachable slice") {
    import spark.implicits._
    val edges = (Seq(("s", "a"), ("a", "b"), ("b", "s")) ++
      Seq(("x", "y"), ("y", "z"))).toDF("from", "to")
    val seeds = Seq("s").toDF("n")
    val reached = assertCheckpointsOwned(Fixpoint.reachNodes(seeds, f =>
        edges.join(f, edges("from") === f("n")).select(edges("to").as("n"))))
      .as[String].collect().toSet
    assert(reached == Set("a", "b", "s")) // cycle closes back to the seed
  }
}
