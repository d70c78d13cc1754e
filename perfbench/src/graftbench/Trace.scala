package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval at a layer boundary. `op` groups the spans of one
  * benchmark operation (a load cycle, a task, a gate); `parent` is the
  * enclosing span (-1 for the operation's root span).
  */
final case class Span(id: Int, name: String, op: Int, parent: Int, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. With tracing off, [[span]] runs its body and
  * records nothing, so untraced runs pay one branch per call; [[op]]
  * always times its body because the end-to-end metrics come from it.
  */
final class Recorder(val enabled: Boolean) {
  private val ids = new AtomicInteger(0)
  private val opIds = new AtomicInteger(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Int, Int)]] { // (span id, op id)
    override def initialValue(): List[(Int, Int)] = Nil
  }
  private val opKinds = new ConcurrentHashMap[Int, String]()

  /** Run `body` as a new operation of `kind`; returns (result, op id, wall ns). */
  def op[A](kind: String)(body: => A): (A, Int, Long) = {
    val opId = opIds.incrementAndGet()
    opKinds.put(opId, kind)
    val sc = Recorder.sparkContext
    if (sc != null) sc.setLocalProperty(Recorder.OpProperty, opId.toString)
    val t0 = System.nanoTime()
    val r = try withSpan(s"op.$kind", opId, root = true)(body)
      finally if (sc != null) sc.setLocalProperty(Recorder.OpProperty, null)
    (r, opId, System.nanoTime() - t0)
  }

  /** Record `body` as a child span of the innermost open span. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else stack.get() match {
      case (_, opId) :: _ => withSpan(name, opId, root = false)(body)
      case Nil => withSpan(name, 0, root = false)(body)
    }

  private def withSpan[A](name: String, opId: Int, root: Boolean)(body: => A): A = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val outer = stack.get()
    val parent = if (root) -1 else outer.headOption.map(_._1).getOrElse(-1)
    stack.set((id, opId) :: outer)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, name, opId, parent, t0, System.nanoTime()))
      stack.set(outer)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Summed duration of the direct child (layer) spans of operation `opId`. */
  def layerNs(opId: Int): Long = {
    val spansNow = all
    spansNow.find(s => s.op == opId && s.parent == -1)
      .map(root => spansNow.filter(_.parent == root.id).map(_.durNs).sum).getOrElse(0L)
  }
  def kindOf(opId: Int): String = opKinds.getOrDefault(opId, "")

  /** Span duration minus the part of it that its child spans cover. */
  def selfTimes: Map[Int, Long] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      s.id -> (s.durNs - Recorder.unionNs(kids, s.startNs, s.endNs))
    }.toMap
  }

  /** Per operation: share of the root span's wall time that its direct
    * child (layer) spans cover.
    */
  def coverage: Map[Int, Double] = {
    val roots = all.filter(_.parent == -1)
    val byParent = all.groupBy(_.parent)
    roots.map { r =>
      val kids = byParent.getOrElse(r.id, Nil).map(k => (k.startNs, k.endNs))
      r.op -> (if (r.durNs <= 0) 1.0
        else Recorder.unionNs(kids, r.startNs, r.endNs).toDouble / r.durNs)
    }.toMap
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","op":${s.op},"kind":"${kindOf(s.op)}",""" +
        s""""parent":${s.parent},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Recorder {
  val OpProperty = "graftbench.op"
  @volatile var sparkContext: SparkContext = _

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def unionNs(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var end = lo
    ivs.map { case (a, b) => (a max lo, b min hi) }.filter { case (a, b) => b > a }
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - (a max end); end = b }
      }
    covered
  }
}

/** Job, stage and task counters per benchmark operation. Jobs carry the
  * submitting thread's [[Recorder.OpProperty]]; stages and tasks are
  * attributed through their job.
  */
final class SparkCounters extends SparkListener {
  final class Acc {
    val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
    val singleTaskStages = new AtomicLong; val shuffleBytes = new AtomicLong
    val taskRunMs = new AtomicLong
  }
  private val byOp = new ConcurrentHashMap[Int, Acc]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()

  private def acc(op: Int): Acc = byOp.computeIfAbsent(op, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.OpProperty)))
      .map(_.toInt).getOrElse(0)
    acc(op).jobs.incrementAndGet()
    e.stageIds.foreach(s => stageOp.putIfAbsent(s, op))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val op = stageOp.getOrDefault(e.stageInfo.stageId, 0)
    val a = acc(op)
    a.stages.incrementAndGet()
    if (e.stageInfo.numTasks == 1) a.singleTaskStages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageOp.getOrDefault(e.stageId, 0))
    a.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      a.taskRunMs.addAndGet(m.executorRunTime)
      a.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Totals over `ops`: (jobs, stages, tasks, single-task stages, shuffle bytes, task run ms). */
  def totals(ops: Iterable[Int]): (Long, Long, Long, Long, Long, Long) = {
    val as = ops.flatMap(o => Option(byOp.get(o)))
    (as.map(_.jobs.get).sum, as.map(_.stages.get).sum, as.map(_.tasks.get).sum,
      as.map(_.singleTaskStages.get).sum, as.map(_.shuffleBytes.get).sum,
      as.map(_.taskRunMs.get).sum)
  }
}

/** Small helpers shared by the workloads. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Geometric mean: one summary for operations of different kinds, in
    * which a 10% change of any kind moves the result the same amount.
    */
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.length)

  /** Highest percentile (multiple of 5) that leaves at least ten samples above it. */
  def supportedPercentile(n: Int): Int =
    (95 to 50 by -5).find(p => n - math.ceil(n * p / 100.0) >= 10).getOrElse(50)
}

/** Minimal JSON writer for the result file (numbers, strings, nesting). */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\""); case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n"); case '\r' => sb.append("\\r"); case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
