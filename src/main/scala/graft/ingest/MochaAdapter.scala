package graft.ingest

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.concurrent.Semaphore
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.rio.SparqlJson
import graft.sparql.{Sparql, SparqlParser}

/** Benchmark-protocol state machine — the reference adapter's whole
  * dataflow re-expressed over the Spark-native engine (SURVEY §2.A,
  * §3): chunked-file staging, versioned bulk-load barrier, the
  * 151/150 command handshake, streaming inserts after the last
  * loading phase, and SELECT/INSERT task dispatch with SPARQL-JSON
  * results.
  *
  * Protocol facts mirrored from the reference:
  *  - data message = `[int len][fileName utf8][content bytes]`
  *    (`GraphDBSystemAdapter.java:167-172`); multi-chunk files append
  *    to a staging dir (`:179`, dir created `:88-90`)
  *  - filename normalization strips directory prefixes with
  *    `replaceAll("[^/]*[/]", "")` (`:176-178`)
  *  - command 151 (`BULK_LOAD_DATA_GEN_FINISHED`, `Constants.java:22`)
  *    carries `[int nMessages][byte lastPhase]` (`:298-301`); the
  *    adapter barriers until every announced message arrived
  *    (`:306-315`), loads the version, deletes staged files
  *    (`:320-323`), ACKs 150 (`BULK_LOADING_DATA_FINISHED`,
  *    `Constants.java:17`, sent `:327`), increments the version
  *    (`:332`) and on the last phase flips to streaming mode (`:333`)
  *  - after the flip, data-channel messages are SPARQL updates: the
  *    A10 `INSERT…WITH` rewrite then execution (`:190-203`)
  *  - task channel: `INSERT DATA` → exclusive write + empty-result ACK
  *    (`:223-231`); otherwise SELECT → SPARQL-JSON bytes, placeholder
  *    document on failure (`:240-261`)
  *
  * Isolation: each query compiles against one [[QuadStore.pin]] — one
  * committed version, struct and id planes alike — instead of the
  * reference's shared read lock, so a SELECT never sees a half-applied
  * insert (the reference quirk SURVEY flags at A14) and an update that
  * commits from the update pool mid-query never gives it two versions.
  */
final class MochaAdapter(spark: SparkSession, store: QuadStore, stagingDir: String) {

  val CommandBulkLoadGenFinished: Byte = 151.toByte // Constants.java:22
  val CommandBulkLoadingFinished: Byte = 150.toByte // Constants.java:17

  private val staging = Paths.get(stagingDir)
  Files.createDirectories(staging)

  private val receivedMessages = new AtomicInteger(0)
  private val announced = new AtomicInteger(-1)
  private val barrier = new Semaphore(0)
  @volatile var dataLoadingFinished: Boolean = false
  private val insertCount = new AtomicInteger(0)
  private val updateFailures = new AtomicInteger(0)
  private val selectCount = new AtomicInteger(0)

  /** streamed updates run async on a 2-thread pool, the reference's
    * concurrency level (`GraphDBSystemAdapter.java:81,198`); commits
    * serialize inside [[QuadStore]], readers stay on snapshots
    */
  private val updateExecutor = java.util.concurrent.Executors.newFixedThreadPool(2)

  // ---- framing (HOBBIT RabbitMQUtils shape, AbstractSystemAdapter1.java:139-149,195-206)

  def readString(buf: ByteBuffer): String = {
    val len = buf.getInt()
    val bytes = new Array[Byte](len)
    buf.get(bytes)
    new String(bytes, UTF_8)
  }

  def frame(taskId: String, data: Array[Byte]): Array[Byte] = {
    val id = taskId.getBytes(UTF_8)
    val out = ByteBuffer.allocate(4 + id.length + 4 + data.length)
    out.putInt(id.length).put(id).putInt(data.length).put(data)
    out.array()
  }

  /** strip directory prefixes — `GraphDBSystemAdapter.java:176-178` */
  def normalizeFileName(name: String): String = name.replaceAll("[^/]*[/]", "")

  // ---- data channel (A1/A4/A5/A6/A11) --------------------------------

  def receiveData(msg: Array[Byte]): Unit = {
    if (!dataLoadingFinished) {
      val buf = ByteBuffer.wrap(msg)
      val fileName = normalizeFileName(readString(buf))
      val content = new Array[Byte](buf.remaining())
      buf.get(content)
      val target = staging.resolve(fileName)
      Files.write(target, content, StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      receivedMessages.incrementAndGet()
      checkBarrier()
    } else {
      // streaming phase: the message IS a SPARQL update, executed
      // asynchronously (ref `:188-203`, fire-and-forget)
      val update = new String(msg, UTF_8)
      updateExecutor.submit(new Runnable {
        def run(): Unit =
          try {
            store.executeUpdate(update)
            insertCount.incrementAndGet()
          } catch {
            case e: Throwable => // fire-and-forget must still leave a trace
              updateFailures.incrementAndGet()
              System.err.println(s"[mocha] streamed update failed: ${e.getMessage}")
          }
      })
    }
  }

  /** Graceful drain (A18): stop accepting updates, wait for in-flight
    * ones — the reference's bounded `shutdownAndAwaitTermination`
    * (`GraphDBSystemAdapter.java:338-362`, 2 h timeout at `:344`).
    */
  def drain(timeoutSeconds: Long = 7200): Boolean = {
    updateExecutor.shutdown()
    updateExecutor.awaitTermination(timeoutSeconds, java.util.concurrent.TimeUnit.SECONDS)
  }

  // exactly-once per phase: the data thread handling the final message
  // and the command thread that just set `announced` can BOTH observe
  // received >= announced — without the CAS the double release leaves a
  // stale permit that lets the NEXT phase load before its files arrive
  private val barrierReleased = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def checkBarrier(): Unit =
    if (announced.get() >= 0 && receivedMessages.get() >= announced.get() &&
        barrierReleased.compareAndSet(false, true))
      barrier.release()

  // ---- command channel (A7/A16) ---------------------------------------

  /** Handle a controller command; returns the ACK command to send, if
    * any. Command 151 payload: `[int nMessages][byte lastPhase]`.
    */
  def receiveCommand(command: Byte, payload: Array[Byte]): Option[Byte] = {
    if (command != CommandBulkLoadGenFinished) return None
    val buf = ByteBuffer.wrap(payload)
    val nMessages = buf.getInt()
    val lastPhase = buf.get() != 0
    announced.set(nMessages)
    checkBarrier()
    barrier.acquire() // block until every announced message arrived (ref `:306-315`)
    val listing = Files.list(staging)
    val files =
      try listing.iterator().asScala
        .filter(Files.isRegularFile(_)).map(_.toString).toList.sorted
      finally listing.close()
    if (files.nonEmpty) store.loadVersion(files)
    files.foreach(f => Files.delete(Paths.get(f))) // A9 staging GC (ref `:320-323`)
    // Reset order matters: disarm the barrier (announced = -1) BEFORE
    // adjusting the counters — a next-phase data message arriving
    // between the resets would otherwise see stale announced <=
    // received and spuriously release the barrier for the next phase.
    // The received counter is DECREMENTED by this phase's consumed
    // count, never zeroed: next-phase messages that already arrived
    // during loadVersion() (or this reset window) must keep their
    // counts, or the next barrier would wait for permits that never
    // come. Tradeoff (inherent without per-message epoch tags, which
    // the protocol lacks): a DUPLICATE delivery of a phase-N message
    // leaves a +1 surplus that an early next-phase arrival is
    // indistinguishable from; the driver announces exact counts and
    // does not redeliver, so early arrivals are the case that occurs.
    announced.set(-1)
    receivedMessages.addAndGet(-nMessages)
    barrierReleased.set(false)
    dataLoadingFinished = lastPhase // FSM flip (ref `:333`)
    Some(CommandBulkLoadingFinished)
  }

  // ---- task channel (A12/A13) -----------------------------------------

  /** Execute a task; returns the framed result for eval storage. */
  def receiveTask(taskId: String, data: Array[Byte]): Array[Byte] = {
    val queryString = new String(data, UTF_8)
    val upper = queryString.toUpperCase
    // ref branches on the literal "INSERT DATA" (`:223`); extended here
    // to the full ground-update surface (DELETE DATA / CLEAR / DROP)
    if (upper.contains("INSERT DATA") || upper.contains("DELETE DATA") ||
        upper.matches("(?s)\\s*(CLEAR|DROP)\\s.*")) {
      store.executeUpdate(queryString)
      insertCount.incrementAndGet()
      frame(taskId, Array.emptyByteArray) // empty-result ACK (ref `:231`)
    } else {
      val json =
        try {
          val parsed = SparqlParser.parse(queryString)
          val pin = store.pin()
          val c = new graft.sparql.Compiler(spark, pin.quads,
            fromGraphs = parsed.fromGraphs, fromNamed = parsed.fromNamed,
            encoded = pin.encoded)
          graft.sparql.Sparql.evaluate(c, parsed) match {
            case graft.sparql.Sparql.AskResult(b) => SparqlJson.ask(b)
            case graft.sparql.Sparql.SelectResult(sol) => SparqlJson.select(sol)
            case graft.sparql.Sparql.GraphResult(triples) =>
              SparqlJson.selectLexical(triples) // graph form: lexical envelope
          }
        } catch {
          case _: Throwable => SparqlJson.failurePlaceholder // ref `:251-258`
        }
      selectCount.incrementAndGet()
      frame(taskId, json.getBytes(UTF_8))
    }
  }

  def counters: (Int, Int) = (insertCount.get(), selectCount.get())

  /** Streamed updates that errored (fire-and-forget leaves a trace). */
  def failures: Int = updateFailures.get()
}
