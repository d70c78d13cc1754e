package graftbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import org.apache.spark.sql.SparkSession

/** Answer records for the checker (`perfbench/check.py`), one JSON object
  * per line. Nothing here is compared inside the JVM except the replay
  * drift, which is recorded as a failure directly.
  */
final class Answers(path: Path) {
  private val out = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(path), UTF_8))

  private def write(fields: (String, Any)*): Unit = synchronized {
    out.write(Json(collection.immutable.ListMap(fields: _*)))
    out.newLine()
  }

  def select(t: SelectTask, response: String): Unit =
    write("kind" -> "select", "id" -> t.id, "template" -> t.template, "sparql" -> t.sparql,
      "oracle" -> t.oracle, "response" -> response)

  def expected(name: String, sparql: String, response: String, rows: Seq[Seq[String]]): Unit =
    write("kind" -> "expected", "id" -> name, "sparql" -> sparql, "response" -> response, "rows" -> rows)

  def count(name: String, got: Long, want: Long): Unit =
    write("kind" -> "count", "id" -> name, "got" -> got, "want" -> want)

  def gate(name: String, path: String, oracle: String): Unit =
    write("kind" -> "gate", "id" -> name, "path" -> path, "oracle" -> oracle)

  def failure(id: String, reason: String, text: String): Unit =
    write("kind" -> "failure", "id" -> id, "reason" -> reason, "text" -> text)

  def close(): Unit = out.close()
}

/** Everything a workload needs, plus the sections of the result file. */
final class Ctx(val spark: SparkSession, val rec: Recorder,
    val seed: Long, val seconds: Int, val dataDir: String, val work: Path,
    launchEpochS: Double) {
  val answers = new Answers(work.resolve("answers.jsonl"))
  /** end-to-end metrics (untraced runs) */
  val e2e = Ctx.section()
  /** per-layer metrics shared by every workload (traced runs) */
  val layers = Ctx.section()
  /** figures printed beside the metrics: load_s, select_p50_ms, pipeline_s, … */
  val summary = Ctx.section()
  /** workload-specific per-layer figures of the traced run */
  val detail = Ctx.section()
  /** input sizes and sample counts */
  val info = Ctx.section()
  var setupS: Double = Double.NaN
  var opSamples: Int = 0
  /** the workload's interactive operations (SELECT tasks, gates) */
  var interactiveOps: Seq[Int] = Nil
  /** operations whose wall time layer spans must cover */
  var coverageOps: Seq[Int] = Nil

  private def epochS(): Double = { val i = Instant.now(); i.getEpochSecond + i.getNano / 1e9 }

  /** Set-up ends here: the next thing the workload does is timed. */
  def markSetupDone(): Unit = setupS = epochS() - launchEpochS

  /** Called once the timed work is done, while the workload still holds
    * its store, adapter and results: the heap those keep reachable, after
    * two full collections. It does not see the transient working memory
    * of a query while it runs; `peak_rss_mb` is printed for that, but it
    * depends on when the collector happens to run and moves between runs
    * of the same code.
    */
  def measureLiveHeap(): Unit = {
    // the first collection lets Spark's cleaner drop blocks of
    // unreachable broadcasts and shuffles; the second reclaims them
    System.gc()
    Thread.sleep(300)
    System.gc()
    e2e("live_heap_mb") =
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Ctx {
  def section(): collection.mutable.LinkedHashMap[String, Any] = collection.mutable.LinkedHashMap.empty
}

/** Entry point: `graftbench.Main --workload W --seed N --seconds S --trace
  * 0|1 --data DIR --work DIR --launch-epoch T`. Writes `result.json`,
  * `answers.jsonl` and, when traced, `spans.jsonl` into the work dir.
  */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "mocha" -> Mocha.run,
    "pipeline_ops" -> Pipeline.run)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val run = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val traced = args("trace") == "1"
    val work = Paths.get(args("work"))
    Files.createDirectories(work)
    val spark = graft.core.LocalIo(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.limit.initialNumPartitions", "1000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    Recorder.sparkContext = spark.sparkContext
    val rec = new Recorder(traced)
    val ctx = new Ctx(spark, rec, args("seed").toLong, args("seconds").toInt,
      args("data"), work, args("launch-epoch").toDouble)
    val wall0 = System.nanoTime()
    try run(ctx)
    finally ctx.answers.close()
    val wallS = (System.nanoTime() - wall0) / 1e9
    org.apache.spark.BenchBus.drain(spark.sparkContext)

    val e2e = ctx.e2e
    e2e("setup_s") = ctx.setupS
    ctx.info("peak_rss_mb") = peakRssMb()
    if (traced) {
      val ops = ctx.interactiveOps.toSet
      val (jobs, stages, tasks, single, shuffle, runMs) = counters.totals(ops)
      val opWallS = rec.all.filter(s => s.parent == -1 && ops(s.op)).map(_.durNs).sum / 1e9
      val n = ops.size.max(1).toDouble
      val l = ctx.layers
      l("spark.jobs_per_op") = jobs / n
      l("spark.stages_per_op") = stages / n
      l("spark.tasks_per_op") = tasks / n
      l("spark.single_task_stages_per_op") = single / n
      l("spark.shuffle_mb_per_op") = shuffle / 1e6 / n
      l("spark.executor_busy_ratio") = runMs / 1e3 / (opWallS * 4)
      val cov = rec.coverage
      l("trace.coverage_min") = ctx.coverageOps.map(cov).min
      // self time per span name: the span's duration minus its children
      val self = rec.selfTimes
      rec.all.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
        ctx.detail(s"self_s.$name") = ss.map(s => self(s.id)).sum / 1e9
      }
      rec.writeJsonLines(work.resolve("spans.jsonl"))
    }
    val result = collection.immutable.ListMap(
      "workload" -> workload, "seed" -> ctx.seed, "trace" -> traced, "wall_s" -> wallS,
      "op_samples" -> ctx.opSamples,
      "e2e" -> e2e, "layers" -> ctx.layers, "summary" -> ctx.summary,
      "detail" -> ctx.detail, "info" -> ctx.info,
      "spark" -> collection.immutable.ListMap("master" -> spark.sparkContext.master,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20)))
    Files.writeString(work.resolve("result.json"), Json(result))
    spark.stop()
  }

  /** `VmHWM` of this JVM: its resident-set high-water mark. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}
