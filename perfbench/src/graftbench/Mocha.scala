package graftbench

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.ingest.{MochaAdapter, QuadStore}
import graft.rio.SparqlJson
import graft.sparql.{Compiler, Sparql, SparqlParser}

/** The MOCHA path: staged N-Triples chunks → versioned bulk load over the
  * 151/150 protocol → compaction → OWL-Horst materialization → SELECT
  * tasks → `INSERT DATA` tasks, all through `MochaAdapter` and
  * `QuadStore`. `MochaAdapter` never compacts or materializes, so the
  * benchmark calls `compact()` and `materializeInference()` itself, as an
  * operator of the reference would.
  */
object Mocha {
  val ChunkFiles = 8
  val FilesPerPhase = 4
  val MessageBytes = 64 * 1024
  val InsertBatches = 3
  val InsertTriples = 50

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    // ---- set-up: generation from the seed ----
    val lines = Gen.ntLines(spark, ctx.dataDir)
    val files = Gen.writeChunkFiles(lines, ctx.seed, ChunkFiles, ctx.work.resolve("gen"))
    val keys = Gen.orderKeys(lines)
    val tasks = Gen.selectTasks(ctx.seed, 4000, keys)
    val batches = Gen.insertBatches(ctx.seed, InsertBatches, InsertTriples / 2)
    val ntBytes = files.map(Files.size).sum
    ctx.info("triples") = lines.length
    ctx.info("nt_bytes") = ntBytes
    ctx.info("files") = files.length
    ctx.info("message_bytes") = MessageBytes
    ctx.info("phases") = files.length / FilesPerPhase
    ctx.info("insert_batches") = batches.length
    ctx.info("insert_triples_per_batch") = InsertTriples
    ctx.info("select_templates") = Gen.Templates.length
    Files.writeString(ctx.work.resolve("quads.sql"), graft.rdf.TpchRdf.quadsSql)
    ctx.markSetupDone()

    // ---- load cycle: fresh store, 2 phases over the 151/150 protocol ----
    val storeDir = ctx.work.resolve("store")
    val store = new QuadStore(spark, storeDir.toString)
    val adapter = new MochaAdapter(spark, store, ctx.work.resolve("staging").toString)
    var loadNs, compactNs, materializeNs = 0L
    var messages = 0
    val (_, cycleOp, _) = rec.op("load_cycle") {
      val t0 = System.nanoTime()
      files.grouped(FilesPerPhase).zipWithIndex.foreach { case (phase, pi) =>
        var n = 0
        phase.foreach { f =>
          Files.readAllBytes(f).grouped(MessageBytes).foreach { chunk =>
            val msg = dataMessage(f.getFileName.toString, chunk)
            rec.span("mocha.receive_data")(adapter.receiveData(msg))
            n += 1
          }
        }
        messages += n
        val lastPhase = pi == files.length / FilesPerPhase - 1
        if (!rec.enabled) {
          val payload = ByteBuffer.allocate(5).putInt(n).put((if (lastPhase) 1 else 0).toByte).array()
          val ack = adapter.receiveCommand(adapter.CommandBulkLoadGenFinished, payload)
          require(ack.contains(adapter.CommandBulkLoadingFinished), s"phase $pi: no 150 ACK")
        } else {
          // traced replay of receiveCommand's load step: the harness sent
          // every message synchronously, so the barrier is already met
          val staged = listFiles(ctx.work.resolve("staging"))
          rec.span("store.load_version")(store.loadVersion(staged.map(_.toString)))
          staged.foreach(Files.delete)
        }
      }
      loadNs = System.nanoTime() - t0
      val t1 = System.nanoTime()
      rec.span("store.compact")(store.compact())
      compactNs = System.nanoTime() - t1
      val t2 = System.nanoTime()
      rec.span("store.materialize")(store.materializeInference())
      materializeNs = System.nanoTime() - t2
    }
    ctx.summary("load_s") = loadNs / 1e9
    ctx.summary("compact_s") = compactNs / 1e9
    ctx.summary("materialize_s") = materializeNs / 1e9
    ctx.info("data_messages") = messages
    // untimed: the load must hold exactly the generated triples
    val inf = graft.infer.OwlHorst.InferredGraph
    val snap = store.snapshot()
    val byPlane = snap.groupBy(col("g") === inf).count().collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    val explicit = byPlane.getOrElse(false, 0L)
    val inferred = byPlane.getOrElse(true, 0L)
    ctx.answers.count("explicit_triples", explicit, lines.length.toLong)
    ctx.info("inferred_triples") = inferred

    if (rec.enabled) loadProbes(ctx, store, files, snap.filter(col("g") =!= inf))

    // ---- SELECT tasks: one closed-loop client for --seconds ----
    val selectLat = ArrayBuffer.empty[Double]
    val selectOps = ArrayBuffer.empty[Int]
    val jsonBytes = ArrayBuffer.empty[Double]
    val overheadMs = ArrayBuffer.empty[Double]
    val idPlane = ArrayBuffer.empty[Boolean]
    val segments = ArrayBuffer.empty[Double]
    val it = tasks.iterator
    val phaseStart = System.nanoTime()
    // whole rounds only: every template has the same weight in the sample
    while (selectLat.length % Gen.Templates.length != 0 ||
        System.nanoTime() - phaseStart < ctx.seconds * 1000000000L) {
      val t = it.next()
      val q = t.sparql.getBytes(UTF_8)
      val replayFirst = selectLat.length % 2 == 0
      var adapterOut: Array[Byte] = null
      var adapterNs = 0L
      def viaAdapter(): Unit = {
        val (out, _, ns) = rec.op("select_check")(rec.span("mocha.receive_task")(adapter.receiveTask(t.id, q)))
        adapterOut = out; adapterNs = ns
      }
      if (rec.enabled && !replayFirst) viaAdapter()
      val (out, opId, ns) = rec.op("select") {
        if (rec.enabled) replaySelect(ctx, adapter, store, t, idPlane) else adapter.receiveTask(t.id, q)
      }
      if (rec.enabled) {
        if (replayFirst) viaAdapter()
        if (!java.util.Arrays.equals(out, adapterOut))
          ctx.answers.failure(t.id, "replay bytes differ from receiveTask bytes", t.sparql)
        overheadMs += (adapterNs - rec.layerNs(opId)) / 1e6
        segments += manifestLines(storeDir)
      }
      selectLat += ns / 1e6
      selectOps += opId
      val json = unframe(out)
      jsonBytes += json.length
      ctx.answers.select(t, new String(json, UTF_8))
    }
    val selectPhaseS = (System.nanoTime() - phaseStart) / 1e9

    // ---- INSERT DATA tasks: closed loop after the SELECT phase ----
    val insertLat = ArrayBuffer.empty[Double]
    val bytesBefore = dirBytes(storeDir)
    val insertStart = System.nanoTime()
    var autoCompactions = 0
    batches.foreach { b =>
      val before = manifestLines(storeDir)
      val (out, _, ns) = rec.op("insert") {
        if (rec.enabled) {
          rec.span("store.update")(store.executeUpdate(b.text))
          adapter.frame(b.id, Array.emptyByteArray)
        } else adapter.receiveTask(b.id, b.text.getBytes(UTF_8))
      }
      require(unframe(out).isEmpty, s"${b.id}: INSERT DATA returned a non-empty result")
      if (manifestLines(storeDir) < before) autoCompactions += 1
      insertLat += ns / 1e6
    }
    ctx.summary("insert_rate_per_s") = batches.length / ((System.nanoTime() - insertStart) / 1e9)
    val insertedBytes = batches.map(_.text.getBytes(UTF_8).length.toLong).sum
    val (markerSparql, markerRows) = Gen.markerCheck(batches)
    // the first SELECT after the inserts unions every new segment
    val segmentsAfterInserts = manifestLines(storeDir)
    val (markerOut, _, markerNs) = rec.op("marker_check")(adapter.receiveTask("marker", markerSparql.getBytes(UTF_8)))
    ctx.summary("select_after_inserts_ms") = markerNs / 1e6
    ctx.info("segments_after_inserts") = segmentsAfterInserts
    ctx.answers.expected("marker_counts", markerSparql, new String(unframe(markerOut), UTF_8), markerRows)

    // the checks above confirm each term of this sum
    val liveTriples = explicit + inferred + batches.map(_.triples).sum
    val storeBytes = dirBytes(storeDir)
    ctx.measureLiveHeap()
    adapter.drain(60)

    // ---- metrics ----
    val p = Stats.supportedPercentile(selectLat.length)
    ctx.summary("select_p50_ms") = Stats.median(selectLat.toSeq)
    ctx.summary(s"select_p${p}_ms") = Stats.quantile(selectLat.toSeq, p / 100.0)
    ctx.summary("select_samples") = selectLat.length
    tasks.take(selectLat.length).map(_.template).zip(selectLat).groupBy(_._1).toSeq.sortBy(_._1)
      .foreach { case (tpl, xs) => ctx.summary(s"select_ms.$tpl") = Stats.median(xs.map(_._2)) }
    ctx.summary("insert_p50_ms") = Stats.median(insertLat.toSeq)
    ctx.summary("insert_max_ms") = insertLat.max
    ctx.summary("insert_samples") = insertLat.length
    ctx.summary("store_bytes_per_triple") = storeBytes.toDouble / liveTriples
    ctx.info("select_phase_s") = selectPhaseS
    ctx.info("live_triples") = liveTriples
    ctx.info("store_bytes") = storeBytes

    ctx.e2e("batch_s") = (loadNs + compactNs + materializeNs) / 1e9
    ctx.e2e("op_geomean_ms") = Stats.geomean(selectLat.toSeq)
    ctx.opSamples = selectLat.length
    ctx.interactiveOps = selectOps.toSeq

    if (rec.enabled) {
      def total(name: String): Double = rec.all.filter(_.name == name).map(_.durNs).sum / 1e9
      val selectSet = selectOps.toSet
      def perOpMs(names: Set[String]): Double =
        rec.all.filter(s => names(s.name) && selectSet(s.op)).map(_.durNs).sum / 1e6 / selectOps.length
      val parseS = total("rio.turtle_parse")
      val loadVersionS = total("store.load_version")
      val closureS = total("infer.closure")
      val d = ctx.detail
      d("mocha.stage_ms") = total("mocha.receive_data") * 1e3 / messages
      d("mocha.task_overhead_ms") = Stats.median(overheadMs.toSeq)
      d("rio.turtle_parse_s") = parseS
      d("rio.parse_mb_per_s") = ntBytes / 1e6 / parseS
      d("rio.json_bytes") = Stats.median(jsonBytes.toSeq)
      d("store.load_version_s") = loadVersionS
      d("store.commit_s") = loadVersionS - parseS
      d("store.compact_s") = total("store.compact")
      d("store.snapshot_ms") = perOpMs(Set("store.snapshot"))
      d("store.snapshot_encoded_ms") = perOpMs(Set("store.snapshot_encoded"))
      d("store.update_ms") = total("store.update") * 1e3 / batches.length
      d("store.segments") = Stats.median(segments.toSeq)
      d("store.auto_compactions") = autoCompactions
      d("store.write_amp") = (storeBytes - bytesBefore).toDouble / insertedBytes
      d("dict.encode_s") = total("core.dict_encode")
      d("dict.build_s") = total("core.dict_build")
      d("infer.closure_s") = closureS
      d("infer.commit_s") = total("store.materialize") - closureS
      d("infer.inferred_triples") = inferred
      d("sparql.parse_ms") = perOpMs(Set("sparql.parse"))
      d("sparql.compile_ms") = perOpMs(Set("sparql.compile"))
      d("sparql.plan_ms") = perOpMs(Set("sparql.plan"))
      d("sparql.exec_json_ms") = perOpMs(Set("sparql.exec_json"))
      d("sparql.id_plane_share") = idPlane.count(identity).toDouble / idPlane.length.max(1)
      ctx.layers("layer.build_ms") = perOpMs(Set("sparql.parse", "store.snapshot", "store.snapshot_encoded", "sparql.compile"))
      ctx.layers("layer.plan_ms") = perOpMs(Set("sparql.plan"))
      ctx.layers("layer.exec_ms") = perOpMs(Set("sparql.exec_json"))
      ctx.coverageOps = Seq(cycleOp) ++ selectOps ++
        rec.all.filter(s => s.parent == -1 && rec.kindOf(s.op) == "insert").map(_.op)
    }
  }

  /** The adapter's SELECT branch, call for call, with a span per layer. */
  private def replaySelect(ctx: Ctx, adapter: MochaAdapter, store: QuadStore, t: SelectTask,
      idPlane: ArrayBuffer[Boolean]): Array[Byte] = {
    val rec = ctx.rec
    val json =
      try {
        val parsed = rec.span("sparql.parse")(SparqlParser.parse(t.sparql))
        val snap = rec.span("store.snapshot")(store.snapshot())
        val enc = rec.span("store.snapshot_encoded")(store.snapshotEncoded())
        val result = rec.span("sparql.compile") {
          Sparql.evaluate(new Compiler(ctx.spark, snap, fromGraphs = parsed.fromGraphs,
            fromNamed = parsed.fromNamed, encoded = enc), parsed)
        }
        result match {
          case Sparql.SelectResult(sol) =>
            val plan = rec.span("sparql.plan")(sol.queryExecution.executedPlan)
            // id-plane scans read the (s_id, p_id, o_id) columns of an -enc sidecar
            idPlane += plan.toString.contains("p_id#")
            rec.span("sparql.exec_json")(SparqlJson.select(sol))
          case Sparql.AskResult(b) => SparqlJson.ask(b)
          case Sparql.GraphResult(triples) => rec.span("sparql.exec_json")(SparqlJson.selectLexical(triples))
        }
      } catch { case _: Throwable => SparqlJson.failurePlaceholder }
    adapter.frame(t.id, json.getBytes(UTF_8))
  }

  /** Traced-only side measurements of the load path's inner layers, each
    * to the noop sink so that only that layer's work is timed.
    */
  private def loadProbes(ctx: Ctx, store: QuadStore, files: Seq[Path], explicit: DataFrame): Unit = {
    val rec = ctx.rec
    val spark = ctx.spark
    rec.op("load_probe") {
      files.grouped(FilesPerPhase).zipWithIndex.foreach { case (phase, pi) =>
        rec.span("rio.turtle_parse") {
          graft.rio.Turtle.read(spark, phase.map(_.toString), store.versionGraph(pi))
            .write.format("noop").mode("overwrite").save()
        }
        val seg = spark.read.parquet(ctx.work.resolve("store").resolve(s"seg-v$pi").toString)
        rec.span("core.dict_encode")(graft.core.TermDictionary.encode(seg).write.format("noop").mode("overwrite").save())
        rec.span("core.dict_build")(graft.core.TermDictionary.build(seg).write.format("noop").mode("overwrite").save())
      }
      rec.span("infer.closure") {
        graft.infer.OwlHorst.materialize(spark, explicit).write.format("noop").mode("overwrite").save()
      }
    }
  }

  /** `[int len][fileName][content]` — the reference's data-message framing. */
  private def dataMessage(name: String, chunk: Array[Byte]): Array[Byte] = {
    val n = name.getBytes(UTF_8)
    ByteBuffer.allocate(4 + n.length + chunk.length).putInt(n.length).put(n).put(chunk).array()
  }

  /** Strip the `[int idLen][id][int dataLen]` result frame. */
  private def unframe(framed: Array[Byte]): Array[Byte] = {
    val buf = ByteBuffer.wrap(framed)
    buf.position(4 + buf.getInt())
    val data = new Array[Byte](buf.getInt())
    buf.get(data)
    data
  }

  private def listFiles(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toList.sortBy(_.toString) finally s.close()
  }

  private def manifestLines(storeDir: Path): Int =
    Files.readString(storeDir.resolve("_manifest")).split("\n").count(_.nonEmpty)

  def dirBytes(dir: Path): Long = {
    val w = Files.walk(dir)
    try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally w.close()
  }
}
