package graft.sources

import java.nio.file.{Files, Paths}

import graft.{SourceGuard, SparkSpec}
import graft.model.Tables
import graft.obs.QueryProfile
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit, pmod}

/** [[Sources.parquet]], the one parquet reader: its schema, read from
  * one footer on the driver, equals Spark's inference, and building a
  * frame through it starts no Spark job. */
class SourcesSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"
  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def inferred(path: String) = spark.read.parquet(path).schema

  private def withNanosAsLong[T](v: Boolean)(body: => T): T = {
    val prev = spark.conf.getOption(NanosAsLong)
    spark.conf.set(NanosAsLong, v.toString)
    try body finally prev.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
  }

  private def withTmp[T](body: String => T): T = {
    val dir = Files.createTempDirectory("graft_sources")
    try body(dir.toString) finally FileUtils.deleteQuietly(dir.toFile)
  }

  private def jobsStartedBy(body: => Unit): Int = QueryProfile.measure(spark)(body)._2.jobs

  private val readers: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "region" -> Tables.region _, "nation" -> Tables.nation _,
    "customer" -> Tables.customer _, "supplier" -> Tables.supplier _,
    "part" -> Tables.part _, "orders" -> Tables.orders _,
    "lineitem" -> Tables.lineitem _, "documents" -> Tables.documents _,
    "embeddings" -> Tables.embeddings _)

  test("every Tables reader's schema equals the inferred one, events under both nanosAsLong") {
    readers.foreach { case (n, read) =>
      withClue(n) { read(spark, sf).schema shouldBe inferred(s"$sf/$n.parquet") }
    }
    Seq(false, true).foreach { v =>
      withNanosAsLong(v) {
        withClue(s"events, nanosAsLong=$v") {
          Tables.df(spark, sf, "events").schema shouldBe inferred(s"$sf/events.parquet")
        }
      }
    }
  }

  test("a flat multi-file directory and a k=v partitioned directory read the inferred schema") {
    withTmp { dir =>
      val rows = spark.range(0, 200, 1, 2).select(col("id"),
        concat(lit("t"), col("id").cast("string")).as("text"),
        (col("id") / 7).as("score"), pmod(col("id"), lit(3)).cast("int").as("k"))
      rows.write.parquet(s"$dir/flat")
      rows.write.partitionBy("k").parquet(s"$dir/parted")
      new java.io.File(s"$dir/flat").list().count(_.endsWith(".parquet")) should be > 1
      Seq("flat", "parted").foreach { d =>
        withClue(d) { Sources.parquet(spark, s"$dir/$d").schema shouldBe inferred(s"$dir/$d") }
      }
      Sources.parquet(spark, s"$dir/parted").where(col("k") === 2).count() shouldBe 66L
    }
  }

  test("building every Tables frame starts no Spark job") {
    // the counter is not vacuous: Spark's own inference is a job
    jobsStartedBy(spark.read.parquet(s"$sf/region.parquet")) should be > 0
    jobsStartedBy {
      readers.foreach { case (_, read) => read(spark, sf) }
      Tables.events(spark, sf)
    } shouldBe 0
  }

  test("a missing path fails as spark.read.parquet fails") {
    withTmp { dir =>
      val path = s"$dir/missing.parquet"
      val bare = intercept[Exception](spark.read.parquet(path))
      val ours = intercept[Exception](Sources.parquet(spark, path))
      ours.getClass shouldBe bare.getClass
      (ours, bare) match {
        case (o: org.apache.spark.SparkThrowable, b: org.apache.spark.SparkThrowable) =>
          o.getCondition shouldBe b.getCondition
        case _ => fail(s"not a SparkThrowable: $bare")
      }
    }
  }

  test("no schema-inferring parquet read remains in Tables, IO or SparkEntry") {
    val src = Paths.get("src/main/scala/graft")
    assume(Files.isDirectory(src), s"run from the repository root (no $src)")
    val bare = raw"spark\s*\.\s*read\s*\.\s*parquet\s*\(".r
    val files = Seq("model/Tables.scala", "sources/IO.scala", "SparkEntry.scala")
      .map(f => f -> Files.readString(src.resolve(f)))
    SourceGuard.hits(files, bare) shouldBe Nil
    // the scan fires: a planted bare read is reported with its case class
    SourceGuard.hits(files :+ ("model/Planted.scala" ->
      "case class Planted(sf: String) {\n  def df = spark.read.parquet(sf)\n}"), bare) shouldBe
      List(SourceGuard.Hit("model/Planted.scala", Some(SourceGuard.Block("case class", "Planted"))))
  }

  test("no schema-inferring parquet read remains in the streaming stores") {
    val src = Paths.get("src/main/scala/graft/streaming")
    assume(Files.isDirectory(src), s"run from the repository root (no $src)")
    val bare = raw"spark\s*\.\s*read\s*\.\s*parquet\s*\(".r
    val files = Seq("StreamOps.scala", "Store.scala")
      .map(f => f -> Files.readString(src.resolve(f)))
    SourceGuard.hits(files, bare) shouldBe Nil
    // the scan fires: a planted store read is reported with its case class
    SourceGuard.hits(files :+ ("Planted.scala" ->
      "case class Planted(root: String) {\n  def rows = spark.read.parquet(root)\n}"), bare) shouldBe
      List(SourceGuard.Hit("Planted.scala", Some(SourceGuard.Block("case class", "Planted"))))
  }
}
