package graft.streaming

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Diagnostic main: runs the streaming gates with a progress listener
  * dumping per-micro-batch duration breakdowns (triggerExecution,
  * addBatch, walCommit, stateOperators commit times) — the data needed
  * to attribute harness wall cost to state-store commits vs file-source
  * listing vs actual processing. Not part of the driver contract.
  */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val gates = sys.env.getOrElse("SPARK_GRAFT_ONLY",
      "st_stream_window,st_stream_dedup,st_watermark_drop,st_stream_join")
      .split(",").map(_.trim).toSeq
    val spark = graft.core.LocalIo.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    // self-profiler: sample executor-task + stream-execution threads
    val sampler = new Thread(() => {
      while (true) {
        Thread.sleep(1500)
        import scala.jdk.CollectionConverters._
        Thread.getAllStackTraces.asScala.foreach { case (th, frames) =>
          if ((th.getName.startsWith("Executor task launch") ||
               th.getName.contains("stream execution")) && frames.nonEmpty &&
              th.getState != Thread.State.WAITING) {
            System.err.println(s"[sample] ${th.getName} state=${th.getState}")
            frames.take(12).foreach(f => System.err.println(s"[sample]   $f"))
          }
        }
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val dur = for { a <- i.submissionTime; b <- i.completionTime } yield b - a
        if (dur.exists(_ > 300)) System.err.println(
          s"[stage] id=${i.stageId} tasks=${i.numTasks} dur=${dur.getOrElse(-1L)}ms name=${i.name.take(80)}")
      }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null && t.taskInfo.duration > 300) System.err.println(
          s"[task] stage=${t.stageId} dur=${t.taskInfo.duration}ms " +
            s"deser=${m.executorDeserializeTime}ms run=${m.executorRunTime}ms " +
            s"gc=${m.jvmGCTime}ms resultSer=${m.resultSerializationTime}ms " +
            s"cpu=${m.executorCpuTime / 1000000}ms " +
            s"launchDelay=${t.taskInfo.launchTime}")
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        System.err.println(s"[probe] started ${e.name} at ${System.nanoTime() / 1000000}ms")
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        System.err.println(s"[probe] ${p.name} batch=${p.batchId} " +
          s"rows=${p.numInputRows} durations=${p.durationMs} " +
          s"state=${p.stateOperators.map(s => s"commit=${s.commitTimeMs}ms mem=${s.memoryUsedBytes}").mkString(";")}")
      }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        System.err.println(s"[probe] terminated at ${System.nanoTime() / 1000000}ms")
    })
    gates.foreach { g =>
      val t0 = System.nanoTime()
      val n = (g match {
        case "st_stream_window" => StreamOps.hourlyCountsStreaming(spark, dir)
        case "st_stream_dedup" => StreamOps.streamDedupCounts(spark, dir)
        case "st_watermark_drop" => StreamOps.watermarkedHourlyCounts(spark, dir)
        case "st_stream_join" => StreamOps.streamStreamJoin(spark, dir)
      }).count()
      System.err.println(f"[probe] $g rows=$n wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
