package graft

import java.nio.file.{Files, Paths}

/** The session factory's contract, read off the suite's own session
  * (built by [[Session.local]] with [[SparkSpec.cpus]]). */
class SessionSpec extends SparkSpec {
  test("the session time zone is UTC") {
    spark.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
  }

  test("local cores and shuffle partitions equal the cpus passed in") {
    spark.sparkContext.master shouldBe s"local[${SparkSpec.cpus}]"
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe SparkSpec.cpus.toString
  }

  test("the UI is disabled") {
    spark.sparkContext.getConf.get("spark.ui.enabled") shouldBe "false"
    spark.sparkContext.uiWebUrl shouldBe None
  }

  test("the optimizer rewrites are registered") {
    spark.experimental.extraOptimizations should contain allOf (
      graft.functions.RewriteDotProduct, graft.plans.RewriteRangeJoin)
  }

  test("graft/Session.scala is the only SparkSession builder under src/") {
    val src = Paths.get("src")
    assume(Files.isDirectory(src), s"run from the repository root (no $src)")
    val builder = raw"SparkSession\s*\.\s*builder".r
    SourceGuard.scan(src, builder) shouldBe List("main/scala/graft/Session.scala")
  }
}
