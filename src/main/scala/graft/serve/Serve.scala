package graft.serve

import java.io.{BufferedReader, BufferedWriter, InputStreamReader, OutputStreamWriter}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.sql.SparkSession

/** Minimal query-serving surface — the engine analog of the reference's
  * `seamless/akka-http` module (trembita exposed pipeline outputs over
  * HTTP; SURVEY §2.1 S9). The sandbox ships no HTTP stack, so the
  * transport is a newline-delimited JSON protocol over a plain TCP
  * socket — the part that matters (a long-lived session serving the
  * DECLARED query registry to out-of-process consumers, with bounded
  * result collection) is real; swapping the framing for HTTP or
  * Spark Connect is a transport change, not an engine change.
  *
  * Protocol (one request per connection):
  *   → `{"query":"<name>","sfDir":"<dir>","limit":N,"offset":K}`
  *     (one line; sfDir/limit/offset optional — defaults from the
  *     server / 100 / 0). `offset` pages past the clamp: every declared
  *     query ends in an ORDER BY over unique keys (the registry
  *     contract), so `offset`+`limit` is a stable window — a client
  *     reads the whole result in `MaxRows` pages without a bulk sink.
  *   ← `{"columns":[...]}`                               (header line)
  *   ← one JSON object per ROW (Spark's canonical `toJSON` encoding)
  *   ← `{"done":<rowCount>}`                             (trailer line)
  *   or a single `{"error":"..."}` line.
  *   Discovery: `{"list":true}` → one `{"queries":[...names...]}` line
  *   (the reference's HTTP module listed its routes; this is that).
  *
  * Scale contract: serving is a CONTROL-PLANE face — results collect to
  * the driver, so `limit` is clamped to [[MaxRows]] (ask for the first
  * page, not the corpus; bulk output goes through the sinks). The query
  * itself still executes distributed; only the clamped head crosses the
  * socket. One worker thread per connection, daemon, so a hung client
  * never wedges the session.
  */
object Serve {

  /** Hard cap on rows collected per request — the driver-heap guard. */
  val MaxRows = 10000

  /** Once the response starts streaming, a client that sends a request
    * and never READS could park the worker in a blocking write (the
    * socket send buffer fills; `setSoTimeout` only bounds reads). A
    * daemon watchdog closes the socket when the write phase goes this
    * long WITHOUT PROGRESS, releasing the worker and its collected
    * rows. Progress resets the deadline: rows stream in
    * [[WriteChunkRows]] batches and each successful flush re-arms the
    * timer (r13, closing the r12 ADVICE note) — so a legitimately
    * slow-but-reading client draining a 10k-row page is never reset as
    * long as it keeps consuming, while a stalled one is cut within one
    * deadline of its last drained chunk. The reset is a hard socket
    * close (the client sees a connection reset mid-stream, before the
    * `done` trailer — the honest signal that the response is
    * incomplete). */
  val WriteDeadlineMs = 60000L

  /** Rows per flush between watchdog re-arms — small enough that a
    * reading client's progress is observed well inside the deadline,
    * large enough that the timer churn is noise. */
  val WriteChunkRows = 256

  private lazy val watchdog =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-serve-watchdog"); t.setDaemon(true); t
    }

  final class Handle(server: ServerSocket, thread: Thread) extends AutoCloseable {
    def port: Int = server.getLocalPort
    override def close(): Unit = server.close()
  }

  /** Start serving on `port` (0 = ephemeral; read it back from the
    * handle). Binds loopback only — this is a local control surface,
    * not an exposed service. `registry` defaults to the engine's
    * declared queries; pass a custom map to serve your own. */
  def start(spark: SparkSession, defaultSfDir: String, port: Int = 0,
            registry: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
              graft.SparkEntry.queries,
            writeDeadlineMs: Long = WriteDeadlineMs): Handle = {
    val server = new ServerSocket(port, 16, InetAddress.getLoopbackAddress)
    val acceptor = new Thread(() => {
      try {
        while (!server.isClosed) {
          val sock = server.accept()
          val worker = new Thread(() =>
            handle(spark, defaultSfDir, registry, sock, writeDeadlineMs))
          worker.setDaemon(true)
          worker.start()
        }
      } catch { case _: java.io.IOException => () } // closed
    }, "graft-serve-accept")
    acceptor.setDaemon(true)
    acceptor.start()
    new Handle(server, acceptor)
  }

  private def handle(spark: SparkSession, defaultSfDir: String,
                     registry: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
                     sock: Socket,
                     writeDeadlineMs: Long = WriteDeadlineMs): Unit = {
    val mapper = new ObjectMapper()
    // a client that connects and never sends a line must not park this
    // worker (and its socket) forever
    sock.setSoTimeout(30000)
    val in = new BufferedReader(
      new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
    val out = new BufferedWriter(
      new OutputStreamWriter(sock.getOutputStream, StandardCharsets.UTF_8))
    def writeLine(s: String): Unit = { out.write(s); out.write("\n") }
    try {
      val line = in.readLine()
      if (line == null) return
      val req = mapper.readTree(line)
      if (Option(req.get("list")).exists(_.asBoolean(false))) {
        val listing = mapper.createObjectNode()
        val arr = listing.putArray("queries")
        registry.keys.toSeq.sorted.foreach(arr.add)
        writeLine(mapper.writeValueAsString(listing))
        out.flush()
        return
      }
      val name = Option(req.get("query")).map(_.asText()).getOrElse("")
      val sfDir = Option(req.get("sfDir")).map(_.asText()).getOrElse(defaultSfDir)
      // asLong, not asInt: Jackson's asInt is a narrowing cast, so a
      // 2^32-ish limit would wrap to 0 and "clamp" to one row
      val limit = Option(req.get("limit")).map(_.asLong()).getOrElse(100L)
        .max(1L).min(MaxRows.toLong).toInt
      val offset = Option(req.get("offset")).map(_.asLong()).getOrElse(0L)
        .max(0L).min(Int.MaxValue.toLong - MaxRows).toInt
      registry.get(name) match {
        case None =>
          writeLine(mapper.writeValueAsString(
            mapper.createObjectNode().put("error", s"unknown query: $name")))
        case Some(fn) =>
          val base = fn(spark, sfDir)
          // offset pages over the declared ORDER BY (unique keys, so the
          // window is deterministic); offset-then-limit = rows
          // [offset, offset+limit), same plan shape as SQL LIMIT/OFFSET
          val df = (if (offset > 0) base.offset(offset) else base).limit(limit)
          // collect BEFORE the header goes out: an execution failure must
          // surface as the protocol's single error line, never as an
          // error object in row position after a header (a conformant
          // client could not tell it from a data row). The collect is
          // bounded by the limit clamp; toJSON keeps the encoding
          // canonical (timestamps, decimals, arrays).
          val rows = df.toJSON.collect()
          // write phase under the watchdog: a never-reading client fills
          // the send buffer and blocks us — the deadline close frees the
          // worker (the client sees a reset, which is the honest signal).
          // The deadline bounds time WITHOUT progress, not the whole
          // response: every flushed chunk re-arms it, so a slow reader
          // finishes and only a stalled one is cut (see WriteDeadlineMs)
          // progress is a TIMESTAMP, not a reschedule: the earlier
          // design re-armed a fresh timer per flush, and a deadline
          // firing in the gap between flush() returning and the re-arm
          // closed a healthy stream (cancel(false) on an already-fired
          // task is a no-op). The closer now re-checks idle time at
          // fire time and only closes when the deadline truly elapsed
          // without a completed flush; otherwise it sleeps the
          // remainder. recordProgress is a lock-free set — nothing is
          // scheduled on the hot path.
          val deadlineNanos = writeDeadlineMs * 1000000L
          val lastProgress =
            new java.util.concurrent.atomic.AtomicLong(System.nanoTime())
          val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
          val kill =
            new java.util.concurrent.atomic.AtomicReference[
              java.util.concurrent.ScheduledFuture[_]]()
          val closer: Runnable = new Runnable {
            def run(): Unit = {
              if (finished.get()) return
              val idle = System.nanoTime() - lastProgress.get()
              if (idle >= deadlineNanos) {
                try sock.close() catch { case _: Throwable => () }
              } else kill.set(watchdog.schedule(this,
                math.max(1L, (deadlineNanos - idle) / 1000000L),
                java.util.concurrent.TimeUnit.MILLISECONDS))
            }
          }
          kill.set(watchdog.schedule(closer, writeDeadlineMs,
            java.util.concurrent.TimeUnit.MILLISECONDS))
          def recordProgress(): Unit = lastProgress.set(System.nanoTime())
          try {
            val header = mapper.createObjectNode()
            val cols = header.putArray("columns")
            df.columns.foreach(cols.add)
            writeLine(mapper.writeValueAsString(header))
            rows.grouped(WriteChunkRows).foreach { chunk =>
              chunk.foreach(writeLine)
              // flush returning means the kernel accepted the bytes —
              // a stalled client's full send buffer blocks HERE, and
              // the armed deadline cuts it; anything else is progress
              out.flush()
              recordProgress()
            }
            writeLine(mapper.writeValueAsString(
              mapper.createObjectNode().put("done", rows.length)))
            out.flush()
          } finally {
            finished.set(true)
            Option(kill.get()).foreach(_.cancel(false))
          }
      }
      out.flush()
    } catch {
      case e: Throwable =>
        try {
          writeLine(mapper.writeValueAsString(mapper.createObjectNode()
            .put("error", Option(e.getMessage).getOrElse(e.getClass.getName))))
          out.flush()
        } catch { case _: Throwable => () }
    } finally sock.close()
  }

  /** `runMain graft.serve.Serve <sfDir> [port]` — serve until killed. */
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // 7177, not 7077: 7077 is Spark standalone master's default port —
    // colocating graft-serve with a master must not collide
    val port = args.lift(1).map(_.toInt).getOrElse(7177)
    val spark = graft.Session.local()
    val h = start(spark, sfDir, port)
    println(s"graft-serve listening on ${h.port} (sfDir=$sfDir)")
    Thread.currentThread().join()
  }
}
