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

  test("the generated-code cache holds a working set: a query re-run after twenty others compiles no class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    spark.conf.get("spark.sql.codegen.cache.maxEntries") shouldBe
      Session.CodegenCacheEntries.toString
    // cold, twenty aggregation queries compile well over Spark's default
    // 100 entries, which would evict the first query's classes
    val others = SparkEntry.queries.keys.toSeq.sorted
      .filter(q => q.startsWith("agg_") && q != "agg_count").take(20)
    def run(q: String): Unit = SparkEntry.queries(q)(spark, graft.plans.RegistrySweep.sfDir)
      .write.format("noop").mode("overwrite").save()
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run("agg_count")
    others.foreach(run)
    val before = compiles
    run("agg_count")
    compiles shouldBe before
  }

  test("graft/Session.scala is the only SparkSession builder under src/") {
    val src = Paths.get("src")
    assume(Files.isDirectory(src), s"run from the repository root (no $src)")
    val builder = raw"SparkSession\s*\.\s*builder".r
    SourceGuard.scan(src, builder) shouldBe List("main/scala/graft/Session.scala")
    // live: the one builder is found where it lives
    val owner = "main/scala/graft/Session.scala"
    val found = SourceGuard.hits(SourceGuard.sources(src), builder)
    found should not be empty
    found.map(_.file).distinct shouldBe List(owner)
    // it fires: a planted builder is reported with its case class (the
    // token is split here so this spec does not plant it in src/ itself)
    SourceGuard.hits(Seq("main/scala/graft/Planted.scala" ->
      ("case class Planted(n: Int) {\n  def s = SparkSession" + ".builder().getOrCreate()\n}")),
      builder) shouldBe
      List(SourceGuard.Hit("main/scala/graft/Planted.scala",
        Some(SourceGuard.Block("case class", "Planted"))))
  }
}
