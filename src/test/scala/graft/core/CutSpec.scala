package graft.core

import java.nio.file.{Files, Paths}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.{SourceGuard, SparkSpec}
import graft.core.Cut.CutOps
import graft.obs.QueryProfile

/** [[Cut]], the one owner of checkpoint blocks: what a scope releases,
  * what it hands on, and what [[Cut.release]] and [[Cut.isView]]
  * accept. */
class CutSpec extends SparkSpec {
  import spark.implicits._

  /** A checkpoint call or a release outside Cut.scala. */
  private val guarded = raw"\.localCheckpoint\s*\(|releaseCheckpoint".r

  private def frame(n: Int): DataFrame = (1 to n).map(i => (i.toLong, i % 3)).toDF("id", "g")

  private def rddOf(cut: DataFrame): RDD[_] =
    cut.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd

  private def persisted(cut: DataFrame): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(rddOf(cut).id)

  test("a scope releases the cuts it made, on return and on a throw") {
    var made = Seq.empty[DataFrame]
    Cut.scope {
      made = Seq(frame(4).cut(), frame(5).cutNow())
      made.foreach(persisted(_) shouldBe true)
      made.map(_.count()).sum
    } shouldBe 9L
    made.foreach(persisted(_) shouldBe false)
    an[IllegalStateException] should be thrownBy Cut.scope {
      made = Seq(frame(6).cutNow(), frame(7).cut())
      throw new IllegalStateException("body")
    }
    made.foreach(persisted(_) shouldBe false)
  }

  test("the body's exception wins; a release failure is suppressed onto it") {
    val failing = (_: RDD[_]) => throw new RuntimeException("release")
    var cut: DataFrame = null
    val e = intercept[IllegalStateException](Cut.scopeWith(failing) {
      cut = frame(3).cut()
      throw new IllegalStateException("body")
    })
    e.getMessage shouldBe "body"
    e.getSuppressed.map(_.getMessage).toSeq shouldBe Seq("release")
    Cut.release(cut)
    // with no body failure the release failure itself is thrown
    intercept[RuntimeException](Cut.scopeWith(failing)(frame(3).cut().count()))
      .getMessage shouldBe "release"
  }

  test("a cut the result reads survives its scope; a nested scope hands it to its parent") {
    var inner: DataFrame = null
    var upstream: DataFrame = null
    var other: DataFrame = null
    val n = Cut.scope {
      val view = Cut.scope {
        other = frame(4).cut()
        upstream = frame(8).cutNow()
        // a lazy cut that has not materialized yet still reads `upstream`
        inner = upstream.where(col("g") === 1).cut()
        inner.select("id")
      }
      persisted(other) shouldBe false
      Seq(inner, upstream).foreach(persisted(_) shouldBe true)
      view.count()
    }
    n shouldBe 3L
    // the parent did not return them: released on its exit
    Seq(inner, upstream).foreach(persisted(_) shouldBe false)
  }

  test("with no scope open nothing is registered: the cut outlives later scopes") {
    val unowned = frame(5).cutNow()
    Cut.scope(frame(2).cut().count()) shouldBe 2L
    persisted(unowned) shouldBe true
    unowned.count() shouldBe 5L
    Cut.release(unowned)
    persisted(unowned) shouldBe false
  }

  test("release of a frame derived from a caller's cut throws and leaves the cut persisted") {
    val callers = frame(6).cutNow()
    val derived = callers.where(col("g") === 0).select("id")
    an[IllegalArgumentException] should be thrownBy Cut.release(derived)
    an[IllegalArgumentException] should be thrownBy Cut.release(frame(2))
    persisted(callers) shouldBe true
    derived.count() shouldBe 2L
    Cut.release(callers)
  }

  test("isView: filters, projections and unions of cuts; not a join, not a raw LogicalRDD") {
    val c1 = frame(4).cut()
    val c2 = frame(5).cut()
    Cut.isView(c1) shouldBe true
    Cut.isView(c1.where(col("g") > 0).select(col("id").as("x"))) shouldBe true
    Cut.isView(c1.union(c2.select("id", "g"))) shouldBe true
    Cut.isView(c1.join(c2, "id")) shouldBe false
    Cut.isView(c1.groupBy("g").count()) shouldBe false
    Cut.isView(frame(3)) shouldBe false
    // what foreachBatch hands a sink: a LogicalRDD no Cut made
    val batch = spark.createDataFrame(frame(3).rdd, frame(3).schema)
    batch.queryExecution.analyzed shouldBe a[LogicalRDD]
    Cut.isView(batch) shouldBe false
    Cut.isView(batch.select("id")) shouldBe false
    an[IllegalArgumentException] should be thrownBy Cut.release(batch)
    Seq(c1, c2).foreach(Cut.release)
  }

  test("a cut's RDD names the line that made the cut as its creation site") {
    val sc = spark.sparkContext
    sc.setCallSite("planted site")
    try {
      val line = new Throwable().getStackTrace()(0).getLineNumber + 1
      val cuts = Seq(frame(3).cut(), frame(3).cutNow())
      cuts.foreach { c =>
        rddOf(c).toString should endWith(s" at localCheckpoint at CutSpec.scala:$line")
      }
      // the caller's own call site is back in place
      sc.getLocalProperty("callSite.short") shouldBe "planted site"
      cuts.foreach(Cut.release)
    } finally sc.clearCallSite()
  }

  test("an eager cut counts its rows and bytes, and gathers a key set, in the one job that stores it") {
    Cut.scope {
      val ((cut, keys), run) = QueryProfile.measure(spark)(frame(7).cutNow(col("g")))
      run.jobs shouldBe 1
      keys shouldBe Seq(0, 1, 2)
      Cut.rows(cut) shouldBe Some(7L)
      val stats = cut.queryExecution.optimizedPlan.stats
      stats.rowCount shouldBe Some(BigInt(7))
      stats.sizeInBytes should be > BigInt(0)
      // a projection keeps every row; a filter, a join or a lazy cut does not know
      Cut.rows(cut.select(col("id").as("x")).withColumn("y", lit(1))) shouldBe Some(7L)
      Cut.rows(cut.where(col("g") === 0)) shouldBe None
      Cut.rows(cut.join(cut, "id")) shouldBe None
      Cut.rows(frame(3).cut()) shouldBe None
      Cut.rows(frame(3)) shouldBe None
      cut.orderBy("id").collect().map(_.getLong(0)).toSeq shouldBe (1L to 7L)
      // an empty frame counts 0 and gathers nothing
      val (noRows, noKeys) = frame(3).where(col("id") < 0).cutNow(col("g"))
      Cut.rows(noRows) shouldBe Some(0L)
      noKeys shouldBe empty
    }
  }

  test("graft/core/Cut.scala is the only main source that checkpoints or releases") {
    val main = Paths.get("src/main/scala")
    assume(Files.isDirectory(main), s"run from the repository root (no $main)")
    SourceGuard.scan(main, guarded) shouldBe List("graft/core/Cut.scala")
  }

  test("the guard scan reports exactly the file with a violating line") {
    val files = Seq(
      "graft/a/Clean.scala" -> "object Clean { def f(df: DataFrame) = df.cut() }",
      "graft/b/Raw.scala" -> "object Raw {\n  val x = 1\n  def f(df: DataFrame) = df.localCheckpoint(false)\n}",
      "graft/c/Doc.scala" -> "/** `localCheckpoint` cuts, released by their scope */ object Doc")
    SourceGuard.offenders(files, guarded) shouldBe List("graft/b/Raw.scala")
  }
}
