package graft.core

import org.apache.spark.sql.SparkSession

/** Session configs that route local-mode file I/O away from Hadoop's
  * forking permission paths (see [[graft.hadoop.BareLocalFileSystem]]
  * and [[graft.streaming.NioCheckpointFileManager]] for the why).
  * Applied by every graft-owned session builder (the mains through
  * [[session]], tests); a production cluster session would keep the
  * defaults for HDFS/S3 and never hit the local-permission code at
  * all.
  */
object LocalIo {
  val configs: Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> "graft.hadoop.BareLocalFileSystem",
    "spark.sql.streaming.checkpointFileManagerClass" ->
      "graft.streaming.NioCheckpointFileManager",
    // Every graft session reads the TIMESTAMP_NTZ event data under the
    // UTC invariant core.Tables documents — pin it here so diagnostic
    // mains can't drift from Verify/Bench/tests on a non-UTC host.
    "spark.sql.session.timeZone" -> "UTC",
    // r19 (reverting the r18 16kb experiment): keep Spark's own 1 MB
    // AQE coalescing floor. The r18 global 16kb floor bought a few
    // compute-heavy-per-byte gates a 2–5× win but regressed ~50 gates
    // up to 10× at 32 cores (driver scaling data, PERF_r18: every
    // KB-scale shuffle in multi-stage/iterative pipelines fanned out
    // to 32 tiny tasks and paid per-task overhead × stages). Stages
    // that genuinely need fan-out on a KB-scale-but-CPU-heavy shuffle
    // now request it LOCALLY with an explicit scale-adaptive
    // repartition (AQE never coalesces a user-specified partition
    // count) instead of a global config twiddle.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1mb")

  def apply(b: SparkSession.Builder): SparkSession.Builder =
    configs.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }

  /** The local session of every main (Bench, Verify, OpProbe,
    * DredAdjudicate, PlanDump, StreamProbe): `local[cpus]` with one shuffle partition per
    * core and the UI off. The first limit/collect job runs over (up
    * to) every partition at once — CollectLimit's default incremental
    * scale-up (1, 4, 16… serialized 1-task jobs) dominates the wall
    * time of limit guards over multi-stage DAGs.
    */
  def session(cpus: String): SparkSession =
    apply(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.limit.initialNumPartitions", "1000"))
      .getOrCreate()
}
