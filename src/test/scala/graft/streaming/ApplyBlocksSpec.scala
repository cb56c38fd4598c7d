package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.relational.Cdc

/** Every store apply and compaction releases the checkpoints it makes:
  * a stream runs for the life of its session, so one block set left
  * per micro-batch is a leak that only grows. */
class ApplyBlocksSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  /** The RDDs `body` leaves persisted that were not persisted before. */
  private def pinnedBy(body: => Unit): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    body
    (sc.getPersistentRDDs.keySet -- before).toSet
  }

  private def text(i: Int): String =
    (0 until 16).map(w => s"w${i}x$w").mkString(" ")

  private def docs(rows: (Long, Int)*): DataFrame =
    rows.map { case (id, t) => (id, text(t)) }.toDF("doc_id", "text")

  test("applyDedupBatch (both within-batch elections) and compactDedupIndex") {
    val dir = tmp("blocks_dedup"); val idx = s"$dir/idx"; val corp = s"$dir/corp"
    val owner = "/ckpt/blocks_dedup"
    StreamOps.bootstrapDedup(docs(1L -> 1, 2L -> 2, 3L -> 3), idx, corp,
      k = 2, bands = 8, rowsPerBand = 2, nBuckets = 8)
    // a corpus dup (10 ~ 1), a within-batch pair (11, 12) and a fresh doc
    val batch = docs(10L -> 1, 11L -> 11, 12L -> 11, 13L -> 13)
    for ((exact, id) <- Seq(false -> 0L, true -> 1L))
      withClue(s"exactWithinBatch = $exact: ") {
        pinnedBy(StreamOps.applyDedupBatch(batch, id, idx, corp, k = 2,
          bands = 8, rowsPerBand = 2, threshold = 0.5, nBuckets = 8,
          idCol = "doc_id", textCol = "text", poly = false,
          writer = StreamOps.writerIdFor(owner),
          exactWithinBatch = exact)) shouldBe empty
      }
    pinnedBy(StreamOps.compactDedupIndex(spark, idx, Some(corp),
      Some(owner))) shouldBe empty
    StreamOps.readDedupCorpus(spark, corp).count() shouldBe 5L
  }

  test("applyCdcBatch and compactCdcSnapshot") {
    val snap = tmp("blocks_cdc")
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(
      Seq((1L, "a"), (2L, "b")).toDF("k", "name"), Seq("k")), snap, Seq("k"), 8)
    val batch = Seq((2L, "", 2L, "D"), (3L, "c", 1L, "U"))
      .toDF("k", "name", "version", "op")
    pinnedBy(StreamOps.applyCdcBatch(batch, snap, Seq("k"), "version", "op",
      8)) shouldBe empty
    pinnedBy(StreamOps.compactCdcSnapshot(spark, snap, horizon = 3L,
      Seq("k"))) shouldBe empty
    Cdc.publicSnapshot(StreamOps.readCdcSnapshot(spark, snap))
      .select("k").as[Long].collect().sorted shouldBe Array(1L, 3L)
  }

  test("applyAnnBatch, its auto-fold, and compactAnnIndex") {
    val dims = 4
    val coarse = (0 until 2).map(c => (0 until dims).map(j => ((c + j) % 4 - 2) / 2.0))
    val pq = (0 until 2).map(s => (0 until 2).map(k =>
      (0 until 2).map(j => ((s + k + j) % 4 - 2) / 2.0)))
    def vecs(ids: Range): DataFrame =
      ids.map(i => (i.toLong, (0 until dims).map(j => ((i * 7 + j * 3) % 17 - 8) / 8.0f)))
        .toDF("vec_id", "embedding")
    val dir = tmp("blocks_ann") + "/ann"
    val owner = "/ckpt/blocks_ann"
    StreamOps.bootstrapAnn(vecs(0 until 20), dir, coarse, pq)
    def ap(ids: Range, id: Long, bound: Int): Unit =
      StreamOps.applyAnnBatch(vecs(ids), id, dir,
        writer = StreamOps.writerIdFor(owner), maxTailBatches = bound)
    pinnedBy(ap(100 until 110, 0L, 64)) shouldBe empty
    pinnedBy(ap(5 until 8, 1L, 2)) shouldBe empty // crosses the bound: folds
    StreamOps.annIndexTailBatches(spark, dir) shouldBe 0
    pinnedBy(ap(200 until 205, 2L, 64)) shouldBe empty
    pinnedBy(StreamOps.compactAnnIndex(spark, dir, Some(owner))) shouldBe empty
  }

  test("applyComponentsBatch, first batch and incremental") {
    val labels = tmp("blocks_cc") + "/labels"
    def ap(edges: Seq[(Long, Long)]): Unit =
      StreamOps.applyComponentsBatch(edges.toDF("a", "b"), labels, "a", "b",
        "node", 1L << 20)
    pinnedBy(ap(Seq(2L -> 1L, 2L -> 3L, 5L -> 6L))) shouldBe empty
    pinnedBy(ap(Seq(3L -> 5L, 20L -> 21L))) shouldBe empty
    spark.read.parquet(labels).where(col("component") === 1L).count() shouldBe 5L
  }

  test("applyCanonBatch, first batch and a merging fold") {
    val labels = tmp("blocks_canon_l") + "/l"; val canon = tmp("blocks_canon_c") + "/c"
    def ap(edges: Seq[(String, String, Long)], id: Long): Unit =
      StreamOps.applyCanonBatch(edges.toDF("src", "dst_host", "n_links"), id,
        labels, canon, "w1", "src", "dst_host", "n_links", 8, 1L << 20)
    pinnedBy(ap(Seq(("s1", "a.com", 3L), ("s2", "b.com", 1L),
      ("s2", "a.com", 2L), ("s3", "x.com", 5L)), 0L)) shouldBe empty
    pinnedBy(ap(Seq(("s2", "x.com", 4L), ("s9", "z.com", 7L)), 1L)) shouldBe empty
    StreamOps.readCanonEdges(spark, canon).count() shouldBe 4L
  }
}
