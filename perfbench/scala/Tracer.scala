package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around the benchmark's calls into each layer, and the
  * Spark listener events (jobs, stages, tasks, planning phases) that fall
  * inside them. Events are matched to spans by wall-clock interval, so
  * work a call starts on another thread (a stream's micro-batch, a Serve
  * worker) is still charged to the call that waited for it. With tracing
  * off, `span` only runs its body and no listener is registered.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  import Tracer._

  val spans = ArrayBuffer.empty[Span]
  private val jobs = scala.collection.mutable.Map.empty[Int, Job]
  private val stages = ArrayBuffer.empty[Stage]
  private val tasks = ArrayBuffer.empty[Task]
  private val phases = ArrayBuffer.empty[Phases]
  private val taskMsByStage = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = Job(e.time, Long.MaxValue)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m != null) {
        tasks += Task(i.launchTime, i.finishTime - i.launchTime,
          m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled,
          m.memoryBytesSpilled, m.peakExecutionMemory, m.inputMetrics.recordsRead)
        taskMsByStage.getOrElseUpdate(e.stageId, ArrayBuffer.empty) +=
          (i.finishTime - i.launchTime)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      stages += Stage(s.submissionTime.getOrElse(0L), s.completionTime.getOrElse(0L),
        s.numTasks, s.parentIds.nonEmpty,
        s.rddInfos.count(_.name == "FileScanRDD"),
        taskMsByStage.remove(s.stageId).map(_.toSeq).getOrElse(Nil))
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planned(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  if (on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Records the planning phases `qe` went through. A query's own
    * DataFrame is analysed when it is built; the sink's command plan is
    * optimized and planned when it runs (reported by the listener). */
  def planned(qe: QueryExecution): Unit = if (on) {
    val p = qe.tracker.phases
    def ms(n: String) = p.get(n).map(_.durationMs).getOrElse(0L)
    val start = p.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
    synchronized { phases += Phases(start, ms("analysis"), ms("optimization"), ms("planning")) }
  }

  def span[T](layer: String, name: String)(f: => T): T =
    if (!on) f
    else {
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
      try f
      finally {
        val s = Span(layer, name, t0, System.currentTimeMillis(), (System.nanoTime() - n0) / 1e9)
        synchronized { spans += s }
      }
    }

  /** Stops recording; every event posted so far has been handled after this. */
  def close(): Unit = if (on) {
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def spansOf(layer: String, name: String = null): Seq[Span] = synchronized {
    spans.filter(s => s.layer == layer && (name == null || s.name == name)).toSeq
  }
  def secs(layer: String, name: String = null): Double = spansOf(layer, name).map(_.secs).sum

  private def in(t: Long, w: Seq[Span]) = w.exists(s => t >= s.t0 && t <= s.t1)

  /** Listener counts for the events that started inside any of `w`. */
  def counts(w: Seq[Span], cores: Int): Map[String, Double] = synchronized {
    val ts = tasks.filter(t => in(t.launch, w))
    val ss = stages.filter(s => in(s.submit, w))
    val js = jobs.values.filter(j => in(j.start, w)).toSeq
    val ph = phases.filter(p => in(p.start, w))
    val wall = w.map(_.secs).sum
    val mb = 1024.0 * 1024.0
    val longest = ss.filter(_.taskMs.nonEmpty).sortBy(s => -(s.done - s.submit)).headOption
    val skew = longest.map { s =>
      val sorted = s.taskMs.sorted
      sorted.last.toDouble / math.max(sorted(sorted.size / 2), 1L)
    }.getOrElse(1.0)
    Map(
      "jobs" -> js.size.toDouble,
      "stages" -> ss.size.toDouble,
      "tasks" -> ts.size.toDouble,
      "task_s" -> ts.map(_.ms).sum / 1e3,
      "task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "busy_ratio" -> (if (wall > 0) ts.map(_.ms).sum / 1e3 / (wall * cores) else 0.0),
      "driver_gap_s" -> w.map(gap(_, js)).sum,
      "shuffle_write_mb" -> ts.map(_.shufW).sum / mb,
      "shuffle_read_mb" -> ts.map(_.shufR).sum / mb,
      "spill_disk_mb" -> ts.map(_.spillDisk).sum / mb,
      "spill_mem_mb" -> ts.map(_.spillMem).sum / mb,
      "peak_exec_mem_mb" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max / mb),
      "single_task_stages" -> ss.count(s => s.tasks == 1 && s.readsShuffle).toDouble,
      "task_skew" -> skew,
      "scan_rdds" -> ss.map(_.fileScans).sum.toDouble,
      // rows, not bytes: local-filesystem parquet scans report almost no
      // bytesRead (about 1 KB for a 0.8 MB file), while recordsRead is exact
      "input_rows" -> ts.map(_.inRows).sum.toDouble,
      "analysis_s" -> ph.map(_.analysis).sum / 1e3,
      "optimization_s" -> ph.map(_.optimization).sum / 1e3,
      "planning_s" -> ph.map(_.planning).sum / 1e3)
  }

  /** Time inside `s` during which none of `js` was running. */
  private def gap(s: Span, js: Seq[Job]): Double = {
    val iv = js.map(j => (math.max(j.start, s.t0), math.min(j.end, s.t1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var edge = s.t0
    iv.foreach { case (a, b) =>
      if (b > edge) { covered += b - math.max(a, edge); edge = b }
    }
    math.max(s.t1 - s.t0 - covered, 0L) / 1e3
  }
}

object Tracer {
  final case class Span(layer: String, name: String, t0: Long, t1: Long, secs: Double)
  final case class Job(start: Long, var end: Long)
  final case class Stage(submit: Long, done: Long, tasks: Int, readsShuffle: Boolean,
                         fileScans: Int, taskMs: Seq[Long])
  final case class Task(launch: Long, ms: Long, cpuNs: Long, shufW: Long, shufR: Long,
                        spillDisk: Long, spillMem: Long, peakMem: Long, inRows: Long)
  final case class Phases(start: Long, analysis: Long, optimization: Long, planning: Long)
}
