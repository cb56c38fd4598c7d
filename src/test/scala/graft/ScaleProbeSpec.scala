package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.model.Tables

/** The scale probe's replicated fixture, written twice from sf0.001 at
  * 2× and read against the fixture itself, and its row list. Each check
  * runs as one job per directory: the suite pays the two replications,
  * not a job per table. */
class ScaleProbeSpec extends SparkSpec {
  private val sf = graft.plans.RegistrySweep.sfDir
  private lazy val root = Files.createTempDirectory("scaleprobe").toString
  private lazy val (x2, x2again) = {
    ScaleProbe.replicate(spark, sf, 2, s"$root/x2")
    ScaleProbe.replicate(spark, sf, 2, s"$root/x2again")
    (s"$root/x2", s"$root/x2again")
  }
  private def t(dir: String, name: String): DataFrame = ScaleProbe.table(spark, dir, name)
  private val scaled = Tables.names.filterNot(ScaleProbe.sharedTables)

  /** One job per directory: per table, (rows, sum of row hashes) — equal
    * for equal row multisets. */
  private def fingerprint(dir: String): Map[String, (Long, BigDecimal)] =
    Tables.names.map { n =>
      val df = t(dir, n)
      df.select(lit(n).as("t"), xxhash64(df.columns.toSeq.map(col): _*).cast("decimal(38,0)").as("h"))
    }.reduce(_ union _).groupBy("t").agg(count(lit(1)), sum("h")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
  private lazy val baseFp = fingerprint(sf)
  private lazy val x2Fp = fingerprint(x2)

  /** One job over the base fixture and the 2× replica: `agg` of `v` per
    * `label`, over the (label, v) frames `f` builds for a directory. */
  private def perDir(agg: Column)(f: String => Seq[DataFrame])
      : (Map[String, Long], Map[String, Long]) = {
    val rows = Seq(sf, x2).flatMap(dir => f(dir).map(_.withColumn("dir", lit(dir))))
      .reduce(_ union _).groupBy("dir", "label").agg(agg).collect()
    def of(dir: String) =
      rows.filter(_.getString(0) == dir).map(r => r.getString(1) -> r.getLong(2)).toMap
    (of(sf), of(x2))
  }

  test("every replicated table doubles; nation and region are copied as they are") {
    Tables.names.foreach { n =>
      withClue(n) {
        if (ScaleProbe.sharedTables(n)) x2Fp(n) shouldBe baseFp(n)
        else x2Fp(n)._1 shouldBe 2 * baseFp(n)._1
      }
    }
  }

  test("two runs write identical rows") {
    fingerprint(x2again) shouldBe x2Fp
  }

  test("key columns stay distinct across replicas") {
    val (base, doubled) = perDir(count_distinct(col("v")))(dir => scaled.map { n =>
      val df = t(dir, n)
      df.select(explode(map(ScaleProbe.keyCols(df).flatMap(c =>
        Seq(lit(s"$n.$c"), col(c).cast("long"))): _*)).as(Seq("label", "v")))
    })
    base.keySet should contain allOf ("customer.c_custkey", "orders.o_custkey",
      "lineitem.l_suppkey", "events.event_id", "documents.doc_id", "embeddings.vec_id")
    doubled shouldBe base.map { case (k, v) => k -> 2 * v }
  }

  test("foreign-key joins match exactly twice as often at 2×") {
    val (base, doubled) = perDir(count(col("v")))(dir => Seq(
      ("lineitem", "orders", "l_orderkey", "o_orderkey"),
      ("orders", "customer", "o_custkey", "c_custkey"),
      ("lineitem", "part", "l_partkey", "p_partkey"),
      ("embeddings", "documents", "vec_id", "doc_id")).map { case (a, b, ka, kb) =>
      t(dir, a).join(t(dir, b), col(ka) === col(kb)).select(lit(s"$a⋈$b").as("label"), lit(1).as("v"))
    })
    base should have size 4
    base.values.foreach(_ should be > 0L)
    doubled shouldBe base.map { case (j, v) => j -> 2 * v }
  }

  test("the 2× documents hold no more than twice the base near-dup pairs") {
    def pairs(dir: String) = graft.llm.Dedup.minHashNearDups(t(dir, "documents"),
      k = 2, bands = 8, rowsPerBand = 2, threshold = 0.5).count()
    val base = pairs(sf)
    base should be > 0L
    pairs(x2) should be <= 2 * base
  }

  test("the 1× side spread over N× files holds the base rows in as many files as the N× table") {
    val x1 = s"$root/x1spread"
    ScaleProbe.replicate(spark, sf, 1, x1, spread = 2)
    fingerprint(x1) shouldBe baseFp
    def files(dir: String, n: String): Int =
      new java.io.File(s"$dir/$n.parquet").listFiles()
        .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    scaled.foreach(n => withClue(n)(files(x1, n) shouldBe files(x2, n)))
  }

  test("the probe rows are every declared query, sorted, then the kept shapes") {
    ScaleProbe.rows(spark, root, 5000L, root).map(_._1) shouldBe
      SparkEntry.queries.keys.toSeq.sorted ++ Seq("dup_clusters_hub", "cc_rounds",
        "dedup_tail_probe", "dedup_tail_folded", "quantile_rank_pass")
  }
}
