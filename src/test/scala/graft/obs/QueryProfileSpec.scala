package graft.obs

import java.nio.file.{Files, Paths}

import graft.{SourceGuard, SparkSpec}
import graft.model.Tables

/** [[QueryProfile]], the one run profiler: it counts what a body ran, and
  * it is the only Spark listener under `src/`. */
class QueryProfileSpec extends SparkSpec {
  private val sf = graft.plans.RegistrySweep.sfDir

  test("measure reports no job for a frame build and some for an inferring read") {
    assume(new java.io.File(sf).isDirectory, s"fixture dir $sf missing")
    QueryProfile.measure(spark)(Tables.region(spark, sf))._2.jobs shouldBe 0
    QueryProfile.measure(spark)(spark.read.parquet(s"$sf/region.parquet"))._2.jobs should be > 0
  }

  test("graft/obs/QueryProfile.scala is the only Spark listener under src/") {
    val src = Paths.get("src")
    assume(Files.isDirectory(src), s"run from the repository root (no $src)")
    val listener = raw"(extends|new)\s+(org\.apache\.spark\.scheduler\.)?SparkListener\b|addSparkListener\s*\(".r
    SourceGuard.scan(src, listener) shouldBe
      List("main/scala/graft/obs/QueryProfile.scala")
    // live: the one listener is found where it lives
    val found = SourceGuard.hits(SourceGuard.sources(src), listener)
    found should not be empty
    found.map(_.file).distinct shouldBe List("main/scala/graft/obs/QueryProfile.scala")
    // it fires: a planted listener is reported with its case class (the
    // token is split here so this spec does not plant it in src/ itself)
    SourceGuard.hits(Seq("main/scala/graft/Planted.scala" ->
      ("case class Planted(n: Int) {\n  val l = new Spark" + "Listener {}\n}")), listener) shouldBe
      List(SourceGuard.Hit("main/scala/graft/Planted.scala",
        Some(SourceGuard.Block("case class", "Planted"))))
  }
}
