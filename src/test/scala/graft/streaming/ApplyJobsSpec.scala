package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.obs.QueryProfile
import graft.relational.Cdc

/** Spark jobs per store apply — a micro-batch's cost is driver-bound
  * (each job pays scheduling, planning and a driver round trip), so the
  * job count of one steady-state apply is a ratchet next to the
  * scan, exchange and window budgets: lower an entry in the same commit
  * as the change that earns it; never raise one.
  *
  * Each apply runs on a fixed fixture batch after one warm batch, under
  * one [[QueryProfile.measure]]. The dedup batch holds a corpus dup, a
  * within-batch pair and fresh docs, and folds its tail
  * (`maxTailBatches = 1`), as every batch of the `store_serve` benchmark
  * does. The components and canon batches each add edges that merge two
  * stored components.
  */
class ApplyJobsSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs of one steady-state apply: measured actuals, lower-only. */
  val budgets: Map[String, Int] = Map(
    "applyDedupBatch" -> 25,
    "applyCdcBatch" -> 6,
    "applyAnnBatch" -> 8,
    "applyComponentsBatch" -> 20,
    "applyCanonBatch" -> 33)

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private def jobsOf(apply: String)(body: => Unit): Int = {
    val jobs = QueryProfile.measure(spark)(body)._2.jobs
    info(s"$apply: $jobs jobs (budget ${budgets(apply)})")
    jobs
  }

  private def text(i: Int): String =
    (0 until 16).map(w => s"w${i}x$w").mkString(" ")

  private def docs(rows: (Long, Int)*): DataFrame =
    rows.map { case (id, t) => (id, text(t)) }.toDF("doc_id", "text")

  test("applyDedupBatch stays within its job budget") {
    val dir = tmp("jobs_dedup"); val idx = s"$dir/idx"; val corp = s"$dir/corp"
    StreamOps.bootstrapDedup(docs((1L to 20L).map(i => i -> i.toInt): _*), idx, corp,
      k = 2, bands = 8, rowsPerBand = 2, nBuckets = 4, nIdxBuckets = 4)
    def apply(batch: DataFrame, id: Long): Unit =
      StreamOps.applyDedupBatch(batch, id, idx, corp, k = 2, bands = 8,
        rowsPerBand = 2, threshold = 0.5, nBuckets = 4, idCol = "doc_id",
        textCol = "text", poly = false, writer = "w", nIdxBuckets = 4,
        maxTailBatches = 1)
    // a corpus dup, a within-batch pair and fresh docs, twice
    apply(docs(100L -> 1, 101L -> 101, 102L -> 101, 103L -> 103), 0L)
    jobsOf("applyDedupBatch")(
      apply(docs(200L -> 2, 201L -> 201, 202L -> 201, 203L -> 203), 1L)) should be <=
      budgets("applyDedupBatch")
    StreamOps.readDedupCorpus(spark, corp).count() shouldBe 24L
  }

  test("applyCdcBatch stays within its job budget") {
    val snap = tmp("jobs_cdc")
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(
      (1L to 20L).map(k => (k, s"n$k")).toDF("k", "name"), Seq("k")), snap, Seq("k"), 4)
    def apply(rows: (Long, String, Long, String)*): Unit =
      StreamOps.applyCdcBatch(rows.toDF("k", "name", "version", "op"), snap,
        Seq("k"), "version", "op", 4, Some("w"))
    // an update, an insert and a delete, twice
    apply((1L, "u1", 1L, "U"), (30L, "i30", 1L, "U"), (2L, "", 1L, "D"))
    jobsOf("applyCdcBatch")(
      apply((3L, "u3", 2L, "U"), (31L, "i31", 2L, "U"), (4L, "", 2L, "D"))) should be <=
      budgets("applyCdcBatch")
    Cdc.publicSnapshot(StreamOps.readCdcSnapshot(spark, snap)).count() shouldBe 20L
  }

  test("applyAnnBatch stays within its job budget") {
    val dims = 4
    val coarse = (0 until 2).map(c => (0 until dims).map(j => ((c + j) % 4 - 2) / 2.0))
    val pq = (0 until 2).map(s => (0 until 2).map(k =>
      (0 until 2).map(j => ((s + k + j) % 4 - 2) / 2.0)))
    def vecs(ids: Range): DataFrame =
      ids.map(i => (i.toLong, (0 until dims).map(j => ((i * 7 + j * 3) % 17 - 8) / 8.0f)))
        .toDF("vec_id", "embedding")
    val dir = tmp("jobs_ann") + "/ann"
    StreamOps.bootstrapAnn(vecs(0 until 20), dir, coarse, pq)
    def apply(ids: Range, id: Long): Unit =
      StreamOps.applyAnnBatch(vecs(ids), id, dir, writer = "w", maxTailBatches = 1)
    apply(100 until 110, 0L)
    jobsOf("applyAnnBatch")(apply(200 until 210, 1L)) should be <=
      budgets("applyAnnBatch")
    StreamOps.annIndexTailBatches(spark, dir) shouldBe 0
  }

  test("applyComponentsBatch stays within its job budget") {
    val labels = tmp("jobs_components") + "/labels"
    def apply(edges: (Long, Long)*): Unit =
      StreamOps.applyComponentsBatch(edges.toDF("a", "b"), labels, "a", "b", "node",
        1L << 20, "w")
    apply((1L, 2L), (3L, 4L), (5L, 6L))
    apply((7L, 8L))
    jobsOf("applyComponentsBatch")(apply((2L, 3L), (8L, 9L))) should be <=
      budgets("applyComponentsBatch")
    spark.read.parquet(labels).select("component").distinct().count() shouldBe 3L
  }

  test("applyCanonBatch stays within its job budget") {
    val dir = tmp("jobs_canon")
    def apply(id: Long, edges: (String, String, Long)*): Unit =
      StreamOps.applyCanonBatch(edges.toDF("src", "dst_host", "n_links"), id,
        s"$dir/l", s"$dir/c", "w", "src", "dst_host", "n_links", 4, 1L << 20)
    apply(0L, ("s1", "a.com", 3L), ("s2", "b.com", 2L), ("s3", "c.com", 1L))
    apply(1L, ("s4", "d.com", 4L))
    jobsOf("applyCanonBatch")(apply(2L, ("s1", "b.com", 5L), ("s5", "e.com", 1L))) should be <=
      budgets("applyCanonBatch")
    StreamOps.readCanonEdges(spark, s"$dir/c").count() shouldBe 5L
  }
}
