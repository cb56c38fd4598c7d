package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Shared local SparkSession for all specs (one JVM, forked by sbt).
  * Mirrors the reference's per-operator unit-spec style (SURVEY §5.1/5.2)
  * on tiny literal datasets with hand-computed expectations.
  */
object SparkSpec {
  /** Fixed, not `SPARK_GRAFT_CPUS`: plan-shape assertions and budgets
    * are pinned at 4 shuffle partitions on every machine. */
  val cpus = 4
  lazy val spark: SparkSession = Session.local(cpus,
    Map("spark.sql.warehouse.dir" -> "/tmp/graft_test_warehouse"))
}

abstract class SparkSpec extends AnyFunSuite with Matchers {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
