package graft.tools

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named registry gates to files —
  * the before/after plan evidence of the optimization rounds
  * (plans/rNN/<gate>_{before,after}.txt). Not a benchmark: runs at a
  * small SF so the plan shape (Exchange count, join strategy,
  * PushedFilters) is inspectable without timing anything.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <gate>[,<gate>...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "PlanDump <outDir> <suffix> <gates,csv>")
    val Array(outDir, suffix, gatesCsv) = args
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.core.LocalIo.session("4")
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    // sealed/iterative gates truncate their returned frame's plan to a
    // checkpoint scan — capture the pre-seal FINALIZED plans of every
    // checkpoint taken through Rounds.keep (the only capture point) and
    // append them, so the dump carries the real join/aggregate shapes
    graft.ext.SealCapture.enable()
    for (g <- gatesCsv.split(",").map(_.trim).filter(_.nonEmpty)) {
      graft.ext.SealCapture.clear()
      val df = graft.SparkEntry.queries(g)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val sealedPlans = graft.ext.SealCapture.plans()
      val extra = sealedPlans.zipWithIndex.map { case (p, i) =>
        s"\n== Sealed subplan ${i + 1}/${sealedPlans.size} (pre-checkpoint, executed) ==\n$p"
      }.mkString
      Files.write(Paths.get(outDir, s"${g}_$suffix.txt"),
        (txt + extra).getBytes("UTF-8"))
      println(s"[plandump] wrote $outDir/${g}_$suffix.txt")
    }
    graft.ext.SealCapture.disable()
    spark.stop()
  }
}
