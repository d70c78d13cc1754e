package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}

/** Stage-level timing probe for ONE registry gate: runs the gate
  * `reps` times (construction + count, the bench action) and prints
  * every job/stage with wall duration, task count and shuffle bytes —
  * the "which stage is slow" loop of guide §1.1 without the UI.
  *
  * Usage: runMain graft.tools.OpProbe <gate> [reps]
  */
object OpProbe {
  def main(args: Array[String]): Unit = {
    val gate = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.LocalIo.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    @volatile var rep = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        println(f"[probe] rep=$rep job=${j.jobId}%3d stages=${j.stageInfos.size}")
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (for {
          s <- si.submissionTime; c <- si.completionTime
        } yield c - s).getOrElse(-1L)
        val m = si.taskMetrics
        println(f"[probe] rep=$rep   stage=${si.stageId}%3d tasks=${si.numTasks}%4d " +
          f"wall=${ms}%5dms exec=${m.executorRunTime}%6dms " +
          f"shR=${m.shuffleReadMetrics.totalBytesRead}%9d shW=${m.shuffleWriteMetrics.bytesWritten}%9d " +
          s"| ${si.name.takeWhile(_ != '\n').take(90)}")
      }
    })
    for (r <- 1 to reps) {
      rep = r
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(gate)(spark, dir)
      val t1 = System.nanoTime()
      val n = df.count()
      val t2 = System.nanoTime()
      println(f"[probe] rep=$r TOTAL build=${(t1 - t0) / 1e9}%.3fs " +
        f"count=${(t2 - t1) / 1e9}%.3fs rows=$n")
    }
    spark.stop()
  }
}
