package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.model.Tables
import graft.queries.Q
import graft.sources.Sinks

/** The benchmark's JVM side. `perfbench/run.py` builds this together with
  * the program, generates the inputs and reads back the JSON this writes:
  *
  *   --workload query_mix|store_serve  --data <input dir> --out <result dir>
  *   --seconds <measured window> --trace 0|1 --cpus <local[n]> --tmp <scratch dir>
  *
  * Untraced (`--trace 0`): the session is set up [[SetupRuns]] times, the
  * workload's outputs are written once for the correctness check (which
  * also compiles generated code), then whole passes of the workload are timed for
  * `--seconds`; every operation is a sample, named by its kind, of wall
  * and CPU time, and each pass runs every kind once.
  * Traced (`--trace 1`): one set-up, untraced and traced passes of the
  * workload, then one traced call into every layer (see [[Probes]]).
  */
object Main {
  val SetupRuns = 3
  val mapper = new ObjectMapper()

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload"); val dir = a("data"); val out = a("out")
    val seconds = a("seconds").toDouble; val trace = a("trace") == "1"
    val cpus = a("cpus").toInt; val tmp = a("tmp")
    val res = mapper.createObjectNode()
    val setups = res.putArray("setup_s")
    var spark: SparkSession = null
    // a traced run reports no set-up time: one set-up is enough
    (0 until (if (trace) 1 else SetupRuns)).foreach { i =>
      if (spark != null) {
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession(); spark.stop()
      }
      val t0 = if (i == 0) java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
               else System.currentTimeMillis()
      spark = setup(cpus, tmp, dir)
      setups.add((System.currentTimeMillis() - t0) / 1e3)
    }
    res.put("jit_threads", jitTids.size)
    res.put("unified_mb",
      org.apache.spark.SparkEnv.get.memoryManager.maxOnHeapStorageMemory / 1048576.0)
    val failures = res.putArray("failures")
    def fail(op: String, e: Throwable): Unit = {
      val msg = Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(2).mkString(" ")
      failures.addObject().put("op", op).put("why", msg.take(300))
    }
    val layers = res.putObject("layers")
    val phases = res.putObject("phases")
    def phase[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally phases.put(name, secsSince(t0))
    }
    workload match {
      case "query_mix" =>
        val qr = new QueryWorkload(spark, dir, queryMix, fail)
        if (!trace) {
          phase("check_pass")(qr.dump(s"$out/dump", res.putObject("oracles")))
          phase("measure")(qr.measure(seconds, res.putArray("samples"), res.putArray("passes")))
        } else {
          val off = new Tracer(spark, false)
          qr.pass(off) // compiles generated code
          val before = qr.pass(off)
          val tr = new Tracer(spark, true)
          val traced = qr.pass(tr)
          tr.close()
          // untraced passes on both sides, so later passes running warmer
          // does not read as negative overhead
          layers.put("trace.overhead_ratio", traced / ((before + qr.pass(off)) / 2))
          Probes.workloadCounts(tr, tr.spansOf("queries"), cpus, layers)
          Probes.queryLayers(tr, tr.spansOf("queries"), layers)
          res.put("traced_calls",
            tr.spans.size + Probes.all(spark, dir, tmp, cpus, layers, fail, withStores = true))
        }
      case "store_serve" =>
        if (!trace) {
          val st = new StoreServe(spark, dir, s"$tmp/stores", new Tracer(spark, false))
          phase("bootstrap")(st.bootstrap())
          phase("warm_and_measure")(st.run(seconds, res.putArray("samples"), res.putArray("passes"), fail))
          phase("finish")(st.finish(s"$out/dump", res.putObject("store"), fail))
        } else {
          val plain = new StoreServe(spark, dir, s"$tmp/plain", new Tracer(spark, false))
          plain.bootstrap()
          plain.round(0, fail) // compiles generated code
          val base = (1 to 2).map(plain.round(_, fail)).sum
          plain.close()
          val tr = new Tracer(spark, true)
          val st = new StoreServe(spark, dir, s"$tmp/stores", tr)
          st.bootstrap()
          val traced = (1 to 2).map(st.round(_, fail)).sum
          st.serveOnce(fail)
          st.readDirect(fail)
          st.close()
          // the relational requests Serve answers, called directly, give
          // the queries and plan layers a traced run on this workload too
          val qw = new QueryWorkload(spark, dir, queriesNamed(StoreServe.RelationalRequests), fail)
          qw.pass(tr)
          tr.close()
          layers.put("trace.overhead_ratio", traced / base)
          Probes.workloadCounts(tr, tr.spansOf("streaming", "apply"), cpus, layers)
          Probes.queryLayers(tr, tr.spansOf("streaming", "apply") ++ tr.spansOf("serve"), layers)
          st.layerMetrics(layers)
          res.put("traced_calls",
            tr.spans.size + Probes.all(spark, dir, tmp, cpus, layers, fail, withStores = false))
        }
    }
    res.put("peak_rss_mb", vmHwmMb())
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/raw.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(res))
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    spark.stop()
  }

  /** Process start (first call) or session start until the session is
    * ready to answer: optimizer rules registered and every input table's
    * footer read, as `graft.Bench` prepares it. `Warmup.kernels` is left
    * out: the correctness pass compiles the measured plans' code before
    * any timing starts. */
  def setup(cpus: Int, tmp: String, dir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftExtensions.registerRules(spark)
    Tables.names.foreach { n =>
      (if (n == "events") Tables.events(spark, dir) else Tables.df(spark, dir, n)).count()
    }
    spark
  }

  /** The query_mix workload, in name order: every 6th agg_/op_/win_/fn_
    * query (trembita's relational surface) and every 48th llm_ query,
    * leaving out the declared-price faces that `graft.Bench`'s engine lane
    * skips too (in-query store lifecycles are store_serve's job; contract
    * replays measure a verification price, not the engine). */
  def queryMix: Seq[(String, (SparkSession, String) => DataFrame)] = {
    def every(k: Int, prefixes: String*) =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (n, _) => prefixes.exists(n.startsWith) && !Q.declaredPriceFaces(n) }
        .zipWithIndex.collect { case (q, i) if i % k == 0 => q }
    every(6, "agg_", "op_", "win_", "fn_") ++ every(48, "llm_")
  }

  def queriesNamed(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] =
    names.map(n => n -> SparkEntry.queries(n))

  /** The process's resident-memory high-water mark, MB. */
  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def readProc(path: String): String =
    scala.util.Try(java.nio.file.Files.readString(java.nio.file.Paths.get(path))).getOrElse("")
  /** The JIT compiler threads; a fixed set, as `run.py` starts the JVM
    * with `-XX:-UseDynamicNumberOfCompilerThreads`. */
  lazy val jitTids: Seq[String] = new java.io.File("/proc/self/task").listFiles().toSeq
    .map(_.getName)
    .filter { t => val c = readProc(s"/proc/self/task/$t/comm"); c.startsWith("C1 Compiler") || c.startsWith("C2 Compiler") }
  /** CPU time of every thread of the process except the JIT compiler's,
    * ns: the program's own threads (driver, tasks, streams, Serve) and
    * the GC. Linux leaves out of it the time the host ran other guests
    * (steal) and the time threads waited for a core. */
  def cpuNanos(): Long = osBean.getProcessCpuTime - jitTids.map { t =>
    scala.util.Try(readProc(s"/proc/self/task/$t/schedstat").split(" ")(0).toLong).getOrElse(0L)
  }.sum
  def cpuSecsSince(c0: Long): Double = (cpuNanos() - c0) / 1e9
}

/** Registry queries run through the full-plan sink (`Sinks.noop`, which
  * executes every projection — `count()` would prune them). */
final class QueryWorkload(spark: SparkSession, dir: String,
                          ops: Seq[(String, (SparkSession, String) => DataFrame)],
                          fail: (String, Throwable) => Unit) {

  /** Each output once, as parquet, for the check against DuckDB. */
  def dump(to: String, oracles: ObjectNode): Unit = ops.foreach { case (n, fn) =>
    SparkEntry.oracleSql.get(n).foreach(oracles.put(n, _))
    try fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$to/$n")
    catch { case e: Throwable => fail(n, e) }
  }

  /** One pass over every query; returns its wall time. Records each
    * query's time into `samples`, if given. */
  def pass(tr: Tracer, samples: Option[ArrayNode] = None): Double = {
    val p0 = System.nanoTime()
    ops.foreach { case (n, fn) =>
      val t0 = System.nanoTime(); val c0 = Main.cpuNanos()
      try {
        val df = tr.span("queries", "build") {
          val df = fn(spark, dir)
          tr.planned(df.queryExecution)
          df
        }
        tr.span("queries", "exec")(Sinks.noop(df))
        samples.foreach(_.addObject().put("op", n).put("s", Main.secsSince(t0))
          .put("cpu_s", Main.cpuSecsSince(c0)))
      } catch { case e: Throwable => fail(n, e) }
    }
    Main.secsSince(p0)
  }

  /** Whole passes until `seconds` have gone by and at least
    * [[QueryWorkload.MinPasses]] ran. */
  def measure(seconds: Double, samples: ArrayNode, passes: ArrayNode): Unit = {
    val t0 = System.nanoTime()
    val off = new Tracer(spark, false)
    while (passes.size < QueryWorkload.MinPasses || Main.secsSince(t0) < seconds)
      passes.add(pass(off, Some(samples)))
  }
}

object QueryWorkload {
  /** Enough samples of every query for a median. */
  val MinPasses = 3
}
