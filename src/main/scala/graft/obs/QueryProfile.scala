package graft.obs

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The one answer to "what did this run execute?": every executed-cost
  * gate, the scale probe and `graft.Profile` read their numbers from
  * [[QueryProfile.measure]]. The listener is attached only for the
  * duration of one `measure` call, so a session that never measures
  * pays nothing.
  */
object QueryProfile {

  /** What one measured body executed.
    *
    * @param jobs              Spark jobs started.
    * @param scans             distinct `FileScanRDD` ids across all jobs:
    *                          each materialized scan operator creates one,
    *                          so a stage re-derived N times counts N even
    *                          when the plan shows only a `Scan ExistingRDD`
    *                          cut.
    * @param shuffles          distinct `ShuffledRowRDD` / `ShuffledRDD` ids:
    *                          one per executed exchange; a reused exchange
    *                          counts once (it IS computed once).
    * @param shuffleBytes      shuffle bytes written by all tasks.
    * @param shuffleRecords    shuffle records written by all tasks.
    * @param spillBytes        memory plus disk bytes spilled.
    * @param maxSingleTaskRows the largest input-plus-shuffle-read record
    *                          count of any stage that ran exactly one task
    *                          (no single-task stage may hold corpus-sized
    *                          data).
    */
  final case class Run(
      jobs: Int,
      scans: Int,
      shuffles: Int,
      shuffleBytes: Long,
      shuffleRecords: Long,
      spillBytes: Long,
      maxSingleTaskRows: Long)

  /** Runs `body` under one listener and returns its result with the
    * [[Run]] it caused. The listener bus is drained before the listener
    * is attached (no earlier run's events leak in) and again before the
    * counts are read (every event of `body` has arrived). */
  def measure[A](spark: SparkSession)(body: => A): (A, Run) = {
    val listener = new Listener
    ColumnBridge.waitListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = body
      ColumnBridge.waitListenerBus(spark)
      (a, listener.run)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private final class Listener extends SparkListener {
    private var jobs = 0
    private val scans = mutable.Set.empty[Int]
    private val shuffles = mutable.Set.empty[Int]
    private var shuffleBytes, shuffleRecords, spillBytes, maxSingleTaskRows = 0L
    private val stageRows = mutable.Map.empty[Int, Long]

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      j.stageInfos.foreach(_.rddInfos.foreach { r =>
        r.name match {
          case "FileScanRDD"                    => scans += r.id
          case "ShuffledRowRDD" | "ShuffledRDD" => shuffles += r.id
          case _                                => ()
        }
      })
    }

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      if (m != null) {
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        stageRows(t.stageId) = stageRows.getOrElse(t.stageId, 0L) +
          m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      }
    }

    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
      val rows = stageRows.remove(s.stageInfo.stageId).getOrElse(0L)
      if (s.stageInfo.numTasks == 1) maxSingleTaskRows = math.max(maxSingleTaskRows, rows)
    }

    def run: Run = synchronized {
      Run(jobs, scans.size, shuffles.size, shuffleBytes, shuffleRecords,
        spillBytes, maxSingleTaskRows)
    }
  }
}
