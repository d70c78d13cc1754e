package graft

/** Pins the checkpoint-release mechanics the engine's memory
  * discipline rides on (r16 review finding): on this Spark build,
  * `Dataset.unpersist` does NOT release a localCheckpoint's blocks
  * (it only uncaches CacheManager-registered plans) — the LogicalRDD
  * leaf's own `rdd.unpersist` is the mechanism that actually frees
  * them: [[graft.plans.Rounds]] uses it for every checkpoint it owns,
  * and [[graft.plans.Rounds.releaseRoot]] is its one release outside a
  * scope. If a Spark upgrade ever changes either half, this spec flags
  * it so the release discipline can be revisited.
  */
class UnpersistProbeSpec extends GraftSuite {
  test("Dataset.unpersist is a no-op for checkpoint blocks; releaseRoot frees them") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = Seq(1, 2, 3).toDF("v").localCheckpoint()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, "localCheckpoint must register a persistent RDD")
    df.unpersist(blocking = true)
    val afterNoop = spark.sparkContext.getPersistentRDDs.keySet
    assert((added -- afterNoop).isEmpty,
      "Dataset.unpersist RELEASED checkpoint blocks — the no-op " +
        "assumption changed with this Spark build; revisit every " +
        "Rounds release")
    graft.plans.Rounds.releaseRoot(df)
    val afterReal = spark.sparkContext.getPersistentRDDs.keySet
    assert((added -- afterReal) == added,
      s"releaseRoot failed to release: ${added.intersect(afterReal)}")
  }

  // the repo-wide release discipline rides on the root release's two
  // halves — it frees a checkpoint ROOT's own blocks, and it never
  // walks into a derivation's leaves (a round-1
  // "previous" frame is often a lazy projection of the still-live edge
  // checkpoint; releasing that leaf mid-loop is a missing-block crash)
  test("releaseRoot frees a checkpoint root, never a derivation's leaves") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val base = Seq(1, 2, 3).toDF("v").localCheckpoint()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty)
    // a derivation of the checkpoint: releasing it must NOT touch base
    val derived = base.select(org.apache.spark.sql.functions.col("v") * 2)
    graft.plans.Rounds.releaseRoot(derived)
    val afterDerived = spark.sparkContext.getPersistentRDDs.keySet
    assert((added -- afterDerived).isEmpty,
      "releaseRoot on a DERIVATION released the upstream " +
        "checkpoint's blocks — the root-only contract broke")
    assert(derived.collect().map(_.getInt(0)).sorted.toSeq == Seq(2, 4, 6))
    // the root itself releases for real
    graft.plans.Rounds.releaseRoot(base)
    val afterRoot = spark.sparkContext.getPersistentRDDs.keySet
    assert((added -- afterRoot) == added,
      s"releaseRoot failed to release the root: ${added.intersect(afterRoot)}")
  }
}
