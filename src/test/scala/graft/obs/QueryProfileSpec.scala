package graft.obs

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
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
    val walk = Files.walk(src)
    val sites = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        listener.findFirstIn(Files.readString(p)).isDefined)
      .map(p => src.relativize(p).toString).toList.sorted
    finally walk.close()
    sites shouldBe List("main/scala/graft/obs/QueryProfile.scala")
  }
}
