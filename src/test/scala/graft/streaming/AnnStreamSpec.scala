package graft.streaming

import graft.SparkSpec
import graft.llm.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Maintained ANN serving tier (r19): an embedding stream maintains a
  * stored IVF-PQ code index (two-tier: cell-bucketed base + per-batch
  * tail partitions, the dedup-index LSM shape), served by a read-only
  * probe. The defining parity: probing the maintained store equals the
  * inline [[Similarity.ivfPqTopK]] over the union of everything
  * ingested — the store IS the index, batches and all. */
class AnnStreamSpec extends SparkSpec {
  import spark.implicits._

  // planted quarter-step codebooks (dims 8; coarse 4×8, PQ 4 subspaces
  // × 4 codes × 2 dims) — small enough that routing and ADC both have
  // live branches at 40 corpus vectors
  private val dims = 8
  private val coarse: Seq[Seq[Double]] =
    (0 until 4).map(c => (0 until dims).map(j => ((c * 3 + j) % 8 - 4) / 4.0))
  private val pq: Seq[Seq[Seq[Double]]] =
    (0 until 4).map(s => (0 until 4).map(k =>
      (0 until 2).map(j => ((s + k * 2 + j) % 8 - 4) / 4.0)))

  private def vecs(ids: Range): DataFrame =
    ids.map(i => (i.toLong,
        (0 until dims).map(j => ((i * 7 + j * 3) % 17 - 8) / 8.0f)))
      .toDF("vec_id", "embedding")

  private def corpus = vecs(0 until 40)
  private def batch1 = vecs(100 until 110)
  private def batch2 = vecs(200 until 210)
  private def queries = vecs(0 until 5).withColumnRenamed("vec_id", "qid")

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString + "/ann"

  private def results(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.orderBy("qid", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq

  private def ap(dir: String, b: DataFrame, id: Long,
                 writer: String = "default", bound: Int = 64): Unit =
    StreamOps.applyAnnBatch(b, id, dir, writer = writer,
      maxTailBatches = bound)

  test("parity: probing the maintained store == inline ivfPqTopK over everything ingested") {
    val dir = tmp("ann_parity")
    StreamOps.bootstrapAnn(corpus, dir, coarse, pq)
    ap(dir, batch1, 0L)
    ap(dir, batch2, 1L)
    val got = results(StreamOps.probeAnn(queries, dir, k = 5, nprobe = 2))
    val inline = results(Similarity.ivfPqTopK(queries,
      corpus.unionByName(batch1).unionByName(batch2), coarse, pq,
      k = 5, nprobe = 2))
    got shouldBe inline
    got.nonEmpty shouldBe true
    // batch-ingested vectors are really served: at least one ingested
    // id appears among somebody's neighbors in this fixture
    // (vecs(100..) reuse the same generator, so near-twins exist)
    inline.exists(_._2 >= 100L) shouldBe true
  }

  test("read-only probe: not one byte of the store moves") {
    val dir = tmp("ann_ro")
    StreamOps.bootstrapAnn(corpus, dir, coarse, pq)
    ap(dir, batch1, 0L)
    def walk(f: java.io.File): Seq[(String, Long, Long)] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else Seq((f.getPath, f.length(), f.lastModified()))
    val before = walk(new java.io.File(dir)).sortBy(_._1)
    StreamOps.probeAnn(queries, dir, k = 3, nprobe = 2).collect()
    walk(new java.io.File(dir)).sortBy(_._1) shouldBe before
  }

  test("at-least-once replay: re-applying a batch converges to the same store") {
    val dir = tmp("ann_replay")
    StreamOps.bootstrapAnn(corpus, dir, coarse, pq)
    ap(dir, batch1, 0L)
    def state = spark.read.parquet(s"$dir/codes")
      .orderBy("vec_id", "subspace").collect().map(_.toString).toSeq
    val once = state
    ap(dir, batch1, 0L) // redelivery rewrites the same batch partition
    state shouldBe once
  }

  test("tail bound: auto-fold past maxTailBatches; probe results unchanged, layout preserved") {
    val dir = tmp("ann_fold"); val dirU = tmp("ann_unfold")
    for (d <- Seq(dir, dirU)) StreamOps.bootstrapAnn(corpus, d, coarse, pq)
    ap(dir, batch1, 0L, bound = 1); ap(dir, batch2, 1L, bound = 1)
    ap(dirU, batch1, 0L, bound = 100); ap(dirU, batch2, 1L, bound = 100)
    StreamOps.annIndexTailBatches(spark, dir) shouldBe 0
    StreamOps.annIndexTailBatches(spark, dirU) shouldBe 2
    results(StreamOps.probeAnn(queries, dir, k = 5, nprobe = 2)) shouldBe
      results(StreamOps.probeAnn(queries, dirU, k = 5, nprobe = 2))
    // folded layout: every top dir is a real cell (no tail dir), rows
    // carry their cell both as data and as partition
    val tops = new java.io.File(s"$dir/codes").listFiles()
      .filter(_.isDirectory).map(_.getName).toSeq
    all(tops) should startWith (StreamOps.AnnCellCol + "=")
    tops should not contain s"${StreamOps.AnnCellCol}=${StreamOps.AnnTail}"
    spark.read.parquet(s"$dir/codes")
      .where(col(StreamOps.AnnCellCol) =!= col("cell")).count() shouldBe 0L
  }

  test("ownership: the first batch claims the store atomically; a second writer bounces") {
    val dir = tmp("ann_own")
    StreamOps.bootstrapAnn(corpus, dir, coarse, pq)
    ap(dir, batch1, 0L, writer = "wA")
    val e = intercept[IllegalArgumentException] {
      ap(dir, batch2, 0L, writer = "wB") }
    e.getMessage should include ("maintained by writer wA")
    // bootstrap is the ownership reset
    StreamOps.bootstrapAnn(corpus, dir, coarse, pq)
    ap(dir, batch2, 0L, writer = "wB")
  }

  test("a re-sent id converges to its LATEST codes — at SERVE time immediately, durably at the fold") {
    val dir = tmp("ann_resent")
    StreamOps.bootstrapAnn(corpus, dir, coarse, pq)
    val wR = StreamOps.writerIdFor("/ckpt/rs")
    // vector 5's embedding is UPDATED in a later batch
    val updated = vecs(5 until 6).select(col("vec_id"),
      reverse(col("embedding")).as("embedding"))
    ap(dir, updated, 0L, writer = wR)
    val expect = results(Similarity.ivfPqTopK(queries,
      vecs(0 until 5).unionByName(updated).unionByName(vecs(6 until 40)),
      coarse, pq, k = 5, nprobe = 2))
    // LATEST-WINS AT SERVE TIME (r20): BEFORE any fold, while the old
    // generation's codes still sit in the cell tier, the probe already
    // answers like an inline index over the UPDATED corpus — the
    // r19 pre-fold double-count window is closed
    results(StreamOps.probeAnn(queries, dir, k = 5, nprobe = 2)) shouldBe
      expect
    StreamOps.compactAnnIndex(spark, dir, ownerCheckpoint = Some("/ckpt/rs"))
    // post-fold: exactly one code per (id, subspace) — the old
    // generation's codes are gone...
    spark.read.parquet(s"$dir/codes").groupBy("vec_id", "subspace")
      .count().where(col("count") > 1).count() shouldBe 0L
    // ...and the store still answers like the inline index over the
    // UPDATED corpus (the defining parity, now durable)
    results(StreamOps.probeAnn(queries, dir, k = 5, nprobe = 2)) shouldBe
      expect
  }

  test("a batch replayed AFTER a fold recognizes itself at the watermark and skips (r20)") {
    val dir = tmp("ann_replayfold")
    StreamOps.bootstrapAnn(corpus, dir, coarse, pq)
    val w = StreamOps.writerIdFor("/ckpt/rf")
    ap(dir, batch1, 0L, writer = w, bound = 1) // auto-fold absorbs batch 0
    StreamOps.annIndexTailBatches(spark, dir) shouldBe 0
    def state = spark.read.parquet(s"$dir/codes")
      .orderBy("vec_id", "subspace", "code")
      .collect().map(_.toString).toSeq
    val foldedState = state
    val served = results(StreamOps.probeAnn(queries, dir, k = 5, nprobe = 2))
    // the crash window: the fold deleted batch 0's tail partition (the
    // thing that made its write idempotent) before the stream's
    // checkpoint committed — redelivery must NOT re-land the codes
    ap(dir, batch1, 0L, writer = w)
    StreamOps.annIndexTailBatches(spark, dir) shouldBe 0
    state shouldBe foldedState
    results(StreamOps.probeAnn(queries, dir, k = 5, nprobe = 2)) shouldBe
      served
    // a batch ABOVE the watermark still lands…
    ap(dir, batch2, 1L, writer = w)
    StreamOps.annIndexTailBatches(spark, dir) shouldBe 1
    // …and the watermark is WRITER-scoped: a takeover stream's batch
    // ids restart at 0 and must not be gated by the old writer's mark
    StreamOps.releaseStoreClaim(spark, s"$dir/codes")
    ap(dir, vecs(300 until 305), 0L, writer = StreamOps.writerIdFor("/ckpt/rf2"))
    StreamOps.annIndexTailBatches(spark, dir) shouldBe 2
  }

  test("allowIds: a retired id stops being served while its codes still sit in the store; k survivors (filter-then-rank)") {
    val dir = tmp("ann_allow")
    StreamOps.bootstrapAnn(corpus, dir, coarse, pq)
    val unfiltered = results(StreamOps.probeAnn(queries, dir, k = 5, nprobe = 2))
    // retire the id at the top of the first query's neighbors (its own
    // vector — the strongest possible rank-1 hit)
    val retired = unfiltered.head._2
    val live = corpus.select(col("vec_id")).where(col("vec_id") =!= retired)
    val got = results(StreamOps.probeAnn(queries, dir, k = 5, nprobe = 2,
      allowIds = Some(live)))
    got.map(_._2) should not contain retired
    // the codes are STILL stored — liveness is a serving gate, not a
    // deletion (deletions remain re-bootstraps)
    spark.read.parquet(s"$dir/codes")
      .where(col("vec_id") === retired).count() should be > 0L
    // FILTER-THEN-RANK: every query still serves k full survivors…
    got.groupBy(_._1).values.foreach(_.size shouldBe 5)
    // …and the gated store answers exactly like an inline index over
    // the LIVE corpus (the defining parity, under the gate)
    got shouldBe results(Similarity.ivfPqTopK(queries,
      corpus.where(col("vec_id") =!= retired), coarse, pq,
      k = 5, nprobe = 2))
  }

  test("the fold's convergence is tail-sized: shuffle records ~ index + tail, never 2x index (r20 receipt)") {
    val dir = tmp("ann_foldcost")
    StreamOps.bootstrapAnn(corpus, dir, coarse, pq) // 40 ids x 4 subspaces
    val w = StreamOps.writerIdFor("/ckpt/fc")
    ap(dir, vecs(100 until 102), 0L, writer = w) // 2 ids = 8 tail rows
    val indexRows = 42L * 4L // base 160 + tail 8
    val (_, run) = graft.obs.QueryProfile.measure(spark)(
      StreamOps.compactAnnIndex(spark, dir, ownerCheckpoint = Some("/ckpt/fc")))
    // the r19 shape windowed the WHOLE store per fold (~2x index rows
    // through exchanges: full window + clustered write); the r20 split
    // shuffles the clustered write (index-sized, inherent to the
    // rewrite) + the tail-sized window ONLY. Bound well under 2x.
    run.shuffleRecords should be <= (indexRows + 8L * 4L)
    run.shuffleRecords should be >= indexRows // the write itself
    // and the fold still converged: one row per (id, subspace)
    spark.read.parquet(s"$dir/codes").groupBy("vec_id", "subspace")
      .count().where(col("count") > 1).count() shouldBe 0L
  }

  test("tailFiles: one partition COMMIT per batch, several files inside it for large batches (r20)") {
    val dir = tmp("ann_tailfiles")
    StreamOps.bootstrapAnn(corpus, dir, coarse, pq)
    StreamOps.applyAnnBatch(vecs(100 until 140), 0L, dir)
    StreamOps.applyAnnBatch(vecs(200 until 240), 1L, dir, tailFiles = 4)
    def batchDir(b: Long) = new java.io.File(
      s"$dir/codes/${StreamOps.AnnCellCol}=${StreamOps.AnnTail}/" +
        s"${StreamOps.AnnWriterCol}=default/${StreamOps.AnnBatchCol}=$b")
    def dataFiles(f: java.io.File): Int = f.listFiles()
      .count(x => x.isFile && !x.getName.startsWith(".") &&
        !x.getName.startsWith("_")) // Hadoop local FS writes .crc sidecars
    dataFiles(batchDir(0)) shouldBe 1 // the default: one task, one file
    val n = dataFiles(batchDir(1))
    n should be > 1 // the one-task encode ceiling is gone…
    n should be <= 4
    // …the layout contract is unchanged (one batch dir per commit)…
    batchDir(1).getParentFile.listFiles().count(_.isDirectory) shouldBe 2
    // …and serving is file-layout-blind
    results(StreamOps.probeAnn(queries, dir, k = 5, nprobe = 2)) shouldBe
      results(Similarity.ivfPqTopK(queries,
        corpus.unionByName(vecs(100 until 140)).unionByName(vecs(200 until 240)),
        coarse, pq, k = 5, nprobe = 2))
  }

  test("the fold honors the ownership claim; codebook coherence is fingerprint-checked (r19 review)") {
    val dir = tmp("ann_guard")
    StreamOps.bootstrapAnn(corpus, dir, coarse, pq)
    val wA = StreamOps.writerIdFor("/ckpt/annA")
    ap(dir, batch1, 0L, writer = wA) // first batch claims the store
    // an ownerless fold is the compactCdcSnapshot race shape: it would
    // overwrite a live batch's committed tail partition permanently
    val e = intercept[IllegalArgumentException] {
      StreamOps.compactAnnIndex(spark, dir) }
    e.getMessage should include ("ownerCheckpoint")
    StreamOps.compactAnnIndex(spark, dir, ownerCheckpoint = Some("/ckpt/annA"))
    StreamOps.annIndexTailBatches(spark, dir) shouldBe 0
    // torn re-bootstrap: a NEW codebook table lands but the crash comes
    // before the codes/meta write — the meta's recorded fingerprint no
    // longer matches the table, and a FRESH process serving under the
    // mismatched quantization would return silently wrong neighbors.
    // (In THIS process the generation-keyed cache still holds the
    // matching old table — consistent serving — so simulate the fresh
    // process with a cold path copy.)
    val shifted = coarse.map(_.map(_ + 0.25))
    graft.sources.Sinks.writeCodebooks(spark, s"$dir/codebooks", shifted, pq)
    val conf = spark.sessionState.newHadoopConf()
    val hfs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val dir2 = dir + "2" // codes.meta lives under dir — one copy suffices
    org.apache.hadoop.fs.FileUtil.copy(hfs, new org.apache.hadoop.fs.Path(dir),
      hfs, new org.apache.hadoop.fs.Path(dir2), false, conf)
    val e2 = intercept[IllegalArgumentException] {
      StreamOps.probeAnn(queries, dir2, k = 3, nprobe = 2).collect() }
    e2.getMessage should include ("recorded quantization")
    // completing the re-bootstrap recovers (and refreshes the
    // codebook cache — keyed by fingerprint generation, not path)
    StreamOps.bootstrapAnn(corpus, dir, shifted, pq)
    results(StreamOps.probeAnn(queries, dir, k = 5, nprobe = 2)) shouldBe
      results(Similarity.ivfPqTopK(queries, corpus, shifted, pq,
        k = 5, nprobe = 2))
  }

  test("misuse is loud: cold start without bootstrap, torn overwrite, compaction of a remnant") {
    val dir = tmp("ann_misuse")
    val eCold = intercept[IllegalArgumentException] { ap(dir, batch1, 0L) }
    eCold.getMessage should include ("bootstrapAnn")
    an[IllegalArgumentException] should be thrownBy
      StreamOps.probeAnn(queries, dir, k = 3, nprobe = 2)
    StreamOps.bootstrapAnn(corpus, dir, coarse, pq)
    // torn overwrite: data dirs gone, meta survives (sibling file)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(s"$dir/codes"))
    new java.io.File(s"$dir/codes.meta").exists() shouldBe true
    for (op <- Seq[() => Any](
        () => ap(dir, batch1, 1L),
        () => StreamOps.probeAnn(queries, dir, k = 3, nprobe = 2),
        () => StreamOps.compactAnnIndex(spark, dir))) {
      val e = intercept[IllegalArgumentException](op())
      e.getMessage should include ("crashed mid-overwrite")
    }
  }
}
