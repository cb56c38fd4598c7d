package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

object DedupStreamSpec {
  final case class Doc(doc_id: Long, text: String)
}

/** Streaming near-dedup (r17): a document stream maintains a deduped
  * corpus + its stored signature index. Candidates come from probing
  * the index (never re-hashing the corpus), verification is exact
  * k-gram Jaccard over bucket-pruned corpus text, survivors append to
  * both stores — corpus as CDC state (replay = merge fixed point),
  * signatures as batch-keyed partitions (replay = same overwrite). */
class DedupStreamSpec extends SparkSpec {
  import spark.implicits._
  import DedupStreamSpec.Doc

  // distinct long texts: near-dup detection at threshold 0.5 / k=2
  // needs real shingle sets; t(i) and t(j) share no tokens for i != j
  private def t(i: Int): String =
    (0 until 16).map(w => s"w${i}x$w").mkString(" ")

  private def corpus0 = Seq(Doc(1L, t(1)), Doc(2L, t(2)), Doc(3L, t(3))).toDF()
  // batch 1: 10 = exact dup of corpus doc 1; 11 fresh; 12 = near-clone
  // of 11 (one trailing token differs -> jaccard 15/17, the higher side
  // of a within-batch pair); 13 fresh
  private def batch1 = Seq(
    Doc(10L, t(1)),
    Doc(11L, t(11)),
    Doc(12L, t(11) + " zq"),
    Doc(13L, t(13)))
  // batch 2: 20 = exact dup of batch-1 SURVIVOR 11 (cross-batch state);
  // 21 fresh; 22 = exact dup of corpus doc 3
  private def batch2 = Seq(
    Doc(20L, t(11)),
    Doc(21L, t(21)),
    Doc(22L, t(3)))

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private def ids(corpusPath: String): Seq[Long] =
    StreamOps.readDedupCorpus(spark, corpusPath)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq

  private def apply1(idx: String, corp: String, b: Seq[Doc], id: Long,
                     writer: String = "default"): Unit =
    StreamOps.applyDedupBatch(b.toDF(), id, idx, corp, k = 2, bands = 8,
      rowsPerBand = 2, threshold = 0.5, nBuckets = 8, idCol = "doc_id",
      textCol = "text", poly = false, writer = writer)

  test("e2e stream: dups vs corpus, within batch, and vs earlier-batch survivors all drop") {
    val dir = tmp("dedup_stream"); val idx = s"$dir/idx"; val corp = s"$dir/corp"
    StreamOps.bootstrapDedup(corpus0, idx, corp, k = 2, bands = 8,
      rowsPerBand = 2, nBuckets = 8)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val q = StreamOps.dedupStream(mem.toDF(), idx, corp, tmp("dedup_ckpt"),
      k = 2, bands = 8, rowsPerBand = 2, threshold = 0.5, nBuckets = 8)
    try {
      mem.addData(batch1); q.processAllAvailable()
      mem.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    // 10 dropped (corpus dup), 12 dropped (within-batch higher side),
    // 20 dropped (dup of survivor 11 — proves the index grew), 22
    // dropped (corpus dup); 11, 13, 21 survive
    ids(corp) shouldBe Seq(1L, 2L, 3L, 11L, 13L, 21L)
    // the index holds signatures for corpus + survivors only
    val idxIds = spark.read.parquet(idx).select("doc_id").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    idxIds shouldBe Seq(1L, 2L, 3L, 11L, 13L, 21L)
  }

  test("at-least-once replay: re-applying a batch converges to the same stores") {
    val dir = tmp("dedup_replay"); val idx = s"$dir/idx"; val corp = s"$dir/corp"
    StreamOps.bootstrapDedup(corpus0, idx, corp, k = 2, bands = 8,
      rowsPerBand = 2, nBuckets = 8)
    apply1(idx, corp, batch1, 0L)
    def state = (ids(corp),
      spark.read.parquet(idx).orderBy("doc_id", "band")
        .collect().map(_.toString).toSeq)
    val once = state
    apply1(idx, corp, batch1, 0L) // the redelivered batch
    state shouldBe once
  }

  test("crash between corpus write and index write heals on redelivery") {
    val dir = tmp("dedup_crash"); val idx = s"$dir/idx"; val corp = s"$dir/corp"
    StreamOps.bootstrapDedup(corpus0, idx, corp, k = 2, bands = 8,
      rowsPerBand = 2, nBuckets = 8)
    apply1(idx, corp, batch1, 0L)
    // simulate the crash: the corpus committed but batch 0's index
    // partitions did not (corpus commits FIRST by design) — partitions
    // are (bucket, writer, batch)-keyed (r18 bucket dirs atop the r11
    // idempotent-sink keying)
    def batch0Parts: Seq[java.io.File] =
      new java.io.File(idx).listFiles().filter(_.isDirectory)
        .filter(_.getName.startsWith(StreamOps.DedupIdxBucketCol + "="))
        .map(b => new java.io.File(b,
          s"${StreamOps.DedupWriterCol}=default/${StreamOps.DedupBatchCol}=0"))
        .filter(_.exists()).toSeq
    val before = batch0Parts
    before should not be empty
    before.foreach { part =>
      part.listFiles().foreach(_.delete()); part.delete() shouldBe true
    }
    apply1(idx, corp, batch1, 0L) // redelivery
    ids(corp) shouldBe Seq(1L, 2L, 3L, 11L, 13L)
    batch0Parts should not be empty
    // and dups of the survivors are still caught afterwards
    apply1(idx, corp, batch2, 1L)
    ids(corp) shouldBe Seq(1L, 2L, 3L, 11L, 13L, 21L)
  }

  test("cold start: no bootstrap — first batch self-dedups and creates both stores") {
    val dir = tmp("dedup_cold"); val idx = s"$dir/idx"; val corp = s"$dir/corp"
    apply1(idx, corp, batch1, 0L)
    ids(corp) shouldBe Seq(10L, 11L, 13L) // no corpus to match; 12 drops within
    apply1(idx, corp, batch2, 1L)
    ids(corp) shouldBe Seq(10L, 11L, 13L, 21L, 22L) // 20 dups survivor 11
  }

  test("compactDedupIndex folds batch partitions; probing still works") {
    val dir = tmp("dedup_compact"); val idx = s"$dir/idx"; val corp = s"$dir/corp"
    StreamOps.bootstrapDedup(corpus0, idx, corp, k = 2, bands = 8,
      rowsPerBand = 2, nBuckets = 8)
    apply1(idx, corp, batch1, 0L)
    val rowsBefore = spark.read.parquet(idx).count()
    // the index is claimed by the batches' writer ("default") — fold
    // as the owner (the public ownerCheckpoint gate is spec'd below)
    StreamOps.compactDedupIndexOwned(spark, idx, None, Some("default"))
    // after the fold, every bucket dir holds exactly the compact
    // partition — the bucket layout survives compaction
    val parts = new java.io.File(idx).listFiles().filter(_.isDirectory)
      .filter(_.getName.startsWith(StreamOps.DedupIdxBucketCol + "="))
      .flatMap(b => b.listFiles().filter(_.isDirectory)
        .flatMap(w => w.listFiles().filter(_.isDirectory)
          .map(p => s"${w.getName}/${p.getName}"))).toSet
    parts shouldBe Set(
      s"${StreamOps.DedupWriterCol}=compact/${StreamOps.DedupBatchCol}=-1")
    spark.read.parquet(idx).count() shouldBe rowsBefore
    apply1(idx, corp, batch2, 1L)
    ids(corp) shouldBe Seq(1L, 2L, 3L, 11L, 13L, 21L)
  }

  test("a second writer fails loudly at the corpus pin (r18) — and the index partition layer would hold regardless") {
    // two layers of two-writer protection: (1) the r18 CDC writer pin —
    // the corpus store is claimed by the first writer's first batch, so
    // a second dedupStream on the same corpusPath now fails LOUDLY
    // before touching anything (the r17 verdict's top ask: the
    // read-merge-overwrite race silently lost committed survivors);
    // (2) beneath it, the r11 idempotent-sink rule still keys index
    // partitions by (writer, batch) so even interleaved writers could
    // never clobber each other's signature partitions
    val dir = tmp("dedup_writers"); val idx = s"$dir/idx"; val corp = s"$dir/corp"
    StreamOps.bootstrapDedup(corpus0, idx, corp, k = 2, bands = 8,
      rowsPerBand = 2, nBuckets = 8)
    apply1(idx, corp, batch1, 0L, writer = "w1") // survivors 11, 13; claims pin
    val e = intercept[IllegalArgumentException] {
      apply1(idx, corp, Seq(Doc(40L, t(40))), 0L, writer = "w2") }
    e.getMessage should include ("maintained by writer w1")
    // w1's index partitions untouched, corpus state intact
    new java.io.File(idx).listFiles().filter(_.isDirectory)
      .filter(_.getName.startsWith(StreamOps.DedupIdxBucketCol + "="))
      .exists(b => new java.io.File(b,
        s"${StreamOps.DedupWriterCol}=w1/${StreamOps.DedupBatchCol}=0")
        .exists()) shouldBe true
    ids(corp) shouldBe Seq(1L, 2L, 3L, 11L, 13L)
    // the explicit takeover path: re-pin the corpus AND release the
    // index claim (old stream stopped — both stores change hands, r19),
    // then w2 proceeds — and dups of w1's survivors are still caught
    // through the shared index
    StreamOps.repinCdcSnapshot(spark, corp, Some("/ckpt/of/w2"))
    StreamOps.releaseStoreClaim(spark, idx)
    val w2 = StreamOps.writerIdFor("/ckpt/of/w2")
    StreamOps.applyDedupBatch(Seq(Doc(50L, t(11)), Doc(51L, t(51))).toDF(),
      1L, idx, corp, k = 2, bands = 8, rowsPerBand = 2, threshold = 0.5,
      nBuckets = 8, idCol = "doc_id", textCol = "text", poly = false,
      writer = w2)
    ids(corp) shouldBe Seq(1L, 2L, 3L, 11L, 13L, 51L)
  }

  test("retraction: a CDC delete frees the content; compact GCs the stale sigs") {
    val dir = tmp("dedup_retract"); val idx = s"$dir/idx"; val corp = s"$dir/corp"
    StreamOps.bootstrapDedup(corpus0, idx, corp, k = 2, bands = 8,
      rowsPerBand = 2, nBuckets = 8)
    // doc 1 leaves the corpus through the CDC store's own machinery
    val retract = Seq((1L, null.asInstanceOf[String], 100L, "D"))
      .toDF("doc_id", "text", "version", "op")
    StreamOps.applyCdcBatch(retract, corp, Seq("doc_id"), "version", "op", 8)
    ids(corp) shouldBe Seq(2L, 3L)
    // doc 1's index rows are stale but BENIGN: a clone of its text is
    // correctly ADMITTED (verification fetches current text and finds
    // none), while a clone of live doc 2 still drops
    apply1(idx, corp, Seq(Doc(30L, t(1)), Doc(31L, t(2))), 0L)
    ids(corp) shouldBe Seq(2L, 3L, 30L)
    // compaction with the corpus GCs the retracted doc's signatures
    spark.read.parquet(idx).where(col("doc_id") === 1L).count() should be > 0L
    StreamOps.compactDedupIndexOwned(spark, idx, Some(corp), Some("default"))
    spark.read.parquet(idx).where(col("doc_id") === 1L).count() shouldBe 0L
    spark.read.parquet(idx).select("doc_id").distinct().count() shouldBe 3L
  }

  test("index layout (r18): rows live in their (band,sig)-hash bucket; mismatched nIdxBuckets fails loudly") {
    val dir = tmp("dedup_layout"); val idx = s"$dir/idx"; val corp = s"$dir/corp"
    StreamOps.bootstrapDedup(corpus0, idx, corp, k = 2, bands = 8,
      rowsPerBand = 2, nBuckets = 8, nIdxBuckets = 4)
    StreamOps.applyDedupBatch(batch1.toDF(), 0L, idx, corp, k = 2, bands = 8,
      rowsPerBand = 2, threshold = 0.5, nBuckets = 8, idCol = "doc_id",
      textCol = "text", poly = false, nIdxBuckets = 4)
    // two-tier invariants: every COMPACTED-tier row hashes to exactly
    // the bucket dir holding it (what path-level probe pruning rests
    // on), while the per-batch write landed whole in the tail dir −1
    // (ONE partition commit per batch, the L0 of the LSM shape)
    val misplaced = spark.read.parquet(idx)
      .where(col(StreamOps.DedupIdxBucketCol) =!= StreamOps.DedupIdxTail &&
        pmod(xxhash64(col("band"), col("sig")), lit(4)).cast("int")
          =!= col(StreamOps.DedupIdxBucketCol))
    misplaced.count() shouldBe 0L
    spark.read.parquet(idx)
      .where(col(StreamOps.DedupIdxBucketCol) === StreamOps.DedupIdxTail)
      .select("doc_id").distinct().count() should be > 0L
    // top-level dirs are tier dirs (≤ nIdxBuckets + the tail), never
    // writer dirs
    val tops = new java.io.File(idx).listFiles().filter(_.isDirectory)
      .map(_.getName).toSeq
    all(tops) should startWith (StreamOps.DedupIdxBucketCol + "=")
    tops.size should be <= 5
    // a probe configured with a different bucket count would prune the
    // wrong dirs and silently ADMIT dups — it must throw instead
    val e = intercept[IllegalArgumentException] {
      StreamOps.applyDedupBatch(batch2.toDF(), 1L, idx, corp, k = 2,
        bands = 8, rowsPerBand = 2, threshold = 0.5, nBuckets = 8,
        idCol = "doc_id", textCol = "text", poly = false, nIdxBuckets = 8) }
    e.getMessage should include ("nIdxBuckets=4")
    // compaction folds the tail INTO the buckets (no −1 dir left) and
    // preserves the stored layout without being told it
    StreamOps.compactDedupIndexOwned(spark, idx, None, Some("default"))
    spark.read.parquet(idx)
      .where(pmod(xxhash64(col("band"), col("sig")), lit(4)).cast("int")
        =!= col(StreamOps.DedupIdxBucketCol)).count() shouldBe 0L
    new java.io.File(idx,
      s"${StreamOps.DedupIdxBucketCol}=${StreamOps.DedupIdxTail}")
      .exists() shouldBe false
    // and the dedup semantics are unchanged under the bucketed probe
    StreamOps.applyDedupBatch(batch2.toDF(), 1L, idx, corp, k = 2, bands = 8,
      rowsPerBand = 2, threshold = 0.5, nBuckets = 8, idCol = "doc_id",
      textCol = "text", poly = false, nIdxBuckets = 4)
    ids(corp) shouldBe Seq(1L, 2L, 3L, 11L, 13L, 21L)
  }

  test("exactWithinBatch (r18): closure election vs the default pairwise estimate on a chain") {
    // chain fixture: 1 ~ 3 and 3 ~ 2 verify (sliding 16-token windows
    // overlapping by 12 → k=2 Jaccard 11/19 ≈ 0.58), but 1 ~ 2 does NOT
    // (overlap 8 → 7/23 ≈ 0.30 < 0.5) — the exact case the pairwise
    // rule over-keeps: drops = pair b-sides = {3} → keeps {1, 2}
    // although 2's transitive cluster has rep 1
    def w(r: Range) = r.map(i => s"w$i").mkString(" ")
    val chain = Seq(Doc(1L, w(1 to 16)), Doc(2L, w(9 to 24)),
      Doc(3L, w(5 to 20)))
    def run(exact: Boolean): Seq[Long] = {
      val dir = tmp(s"dedup_exact_$exact")
      val idx = s"$dir/idx"; val corp = s"$dir/corp"
      StreamOps.applyDedupBatch(chain.toDF(), 0L, idx, corp, k = 2,
        bands = 16, rowsPerBand = 1, threshold = 0.5, nBuckets = 8,
        idCol = "doc_id", textCol = "text", poly = false,
        exactWithinBatch = exact)
      ids(corp)
    }
    run(exact = false) shouldBe Seq(1L, 2L) // the documented estimate
    run(exact = true) shouldBe Seq(1L)      // one min-id rep per cluster
  }

  test("probeDedup (r18): read-only serving — dup evidence, no store mutation") {
    val dir = tmp("dedup_probe"); val idx = s"$dir/idx"; val corp = s"$dir/corp"
    StreamOps.bootstrapDedup(corpus0, idx, corp, k = 2, bands = 8,
      rowsPerBand = 2, nBuckets = 8)
    apply1(idx, corp, batch1, 0L) // survivors 11, 13 join the stores
    def storeState: Seq[(String, Long, Long)] =
      Seq(idx, corp).flatMap { root =>
        def walk(f: java.io.File): Seq[java.io.File] =
          if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
        walk(new java.io.File(root)).filterNot(_.getName.startsWith("."))
          .map(f => (f.getPath, f.length(), f.lastModified())).sortBy(_._1)
      }
    val before = storeState
    // probe: 30 dups corpus doc 1; 31 dups SURVIVOR 11 (cross-batch
    // state through the stored index); 32 is fresh → NULL
    val probe = Seq(Doc(30L, t(1)), Doc(31L, t(11)), Doc(32L, t(32)))
    val got = StreamOps.probeDedup(probe.toDF(), idx, corp, k = 2,
        bands = 8, rowsPerBand = 2, threshold = 0.5, idCol = "doc_id",
        textCol = "text", poly = false)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)).map(_.toString.toLong))).toSeq
    got shouldBe Seq((30L, Some(1L)), (31L, Some(11L)), (32L, None))
    // read-only: not one byte of either store moved
    storeState shouldBe before
    // dup_of is the LOWEST matching corpus id (deterministic evidence):
    // a probe doc matching both 1 and its survivor-twin reports 1...
    // (t(1) matches only doc 1 here; pin determinism on the trivial case)
    // ...and a probe against an EMPTY deployment reports all-NULL
    val none = StreamOps.probeDedup(probe.toDF(), s"$dir/noidx",
        s"$dir/nocorp", idCol = "doc_id", textCol = "text")
      .where(col("dup_of").isNotNull).count()
    none shouldBe 0L
  }

  test("the index fold honors the ownership claim (r19): ownerless compaction bounces, the owner folds") {
    val dir = tmp("dedup_idx_claim"); val idx = s"$dir/idx"; val corp = s"$dir/corp"
    StreamOps.bootstrapDedup(corpus0, idx, corp, k = 2, bands = 8,
      rowsPerBand = 2, nBuckets = 8)
    val w1 = StreamOps.writerIdFor("/ckpt/d1")
    apply1(idx, corp, batch1, 0L, writer = w1)
    val e = intercept[IllegalArgumentException] {
      StreamOps.compactDedupIndex(spark, idx) }
    e.getMessage should include ("ownerCheckpoint")
    an[IllegalArgumentException] should be thrownBy
      StreamOps.compactDedupIndex(spark, idx,
        ownerCheckpoint = Some("/ckpt/other"))
    StreamOps.compactDedupIndex(spark, idx,
      ownerCheckpoint = Some("/ckpt/d1"))
    StreamOps.dedupIndexTailBatches(spark, idx) shouldBe 0
    // the fold preserved the claim — maintenance, not takeover
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sessionState.newHadoopConf())
    StreamOps.readClaim(fs, idx) shouldBe Some(w1)
  }

  test("tail bound (r19): the index auto-folds past maxTailBatches; corpus and probe results unchanged") {
    // two deployments fed the same batches — one folding after every
    // batch (bound 1), one never folding here (bound 100): corpus state
    // and serving answers must be identical mid-stream, only the tail
    // tier differs
    def run(bound: Int): (Seq[Long], Int, Seq[(Long, Option[Long])]) = {
      val dir = tmp(s"dedup_bound_$bound")
      val idx = s"$dir/idx"; val corp = s"$dir/corp"
      StreamOps.bootstrapDedup(corpus0, idx, corp, k = 2, bands = 8,
        rowsPerBand = 2, nBuckets = 8)
      def ap(b: Seq[Doc], id: Long): Unit =
        StreamOps.applyDedupBatch(b.toDF(), id, idx, corp, k = 2, bands = 8,
          rowsPerBand = 2, threshold = 0.5, nBuckets = 8, idCol = "doc_id",
          textCol = "text", poly = false, maxTailBatches = bound)
      ap(batch1, 0L); ap(batch2, 1L)
      val probeAns = StreamOps.probeDedup(
          Seq(Doc(90L, t(11)), Doc(91L, t(91))).toDF(), idx, corp, k = 2,
          bands = 8, rowsPerBand = 2, threshold = 0.5, idCol = "doc_id",
          textCol = "text", poly = false)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), Option(r.get(1)).map(_.toString.toLong)))
        .toSeq
      (ids(corp), StreamOps.dedupIndexTailBatches(spark, idx), probeAns)
    }
    val (idsB, tailB, probeB) = run(bound = 1)
    val (idsU, tailU, probeU) = run(bound = 100)
    idsB shouldBe idsU
    probeB shouldBe probeU
    tailB shouldBe 0 // folded into the buckets
    tailU shouldBe 2 // two per-batch fact partitions accumulated
    probeB shouldBe Seq((90L, Some(11L)), (91L, None))
  }

  test("a batch replayed AFTER a fold recognizes itself at the watermark and skips (r20)") {
    val dir = tmp("dedup_replayfold")
    val idx = s"$dir/idx"; val corp = s"$dir/corp"
    StreamOps.bootstrapDedup(corpus0, idx, corp, k = 2, bands = 8,
      rowsPerBand = 2, nBuckets = 8)
    val w = StreamOps.writerIdFor("/ckpt/drf")
    def ap(b: Seq[Doc], id: Long, wr: String = w, bound: Int = 64): Unit =
      StreamOps.applyDedupBatch(b.toDF(), id, idx, corp, k = 2, bands = 8,
        rowsPerBand = 2, threshold = 0.5, nBuckets = 8, idCol = "doc_id",
        textCol = "text", poly = false, writer = wr, maxTailBatches = bound)
    ap(batch1, 0L, bound = 1) // the auto-fold absorbs batch 0's partition
    StreamOps.dedupIndexTailBatches(spark, idx) shouldBe 0
    def state = (ids(corp),
      spark.read.parquet(idx).orderBy("doc_id", "band")
        .collect().map(_.toString).toSeq)
    val folded = state
    // the crash window the r19 replay contract missed: the fold deleted
    // batch 0's tail partition — the thing that made its index write
    // idempotent — before the checkpoint committed. Redelivery must
    // leave ONE copy of every signature, not re-land the batch.
    ap(batch1, 0L)
    StreamOps.dedupIndexTailBatches(spark, idx) shouldBe 0
    state shouldBe folded
    // a batch above the watermark still lands; a takeover writer's
    // restarted batch ids are not gated by the old writer's mark
    ap(batch2, 1L)
    ids(corp) shouldBe Seq(1L, 2L, 3L, 11L, 13L, 21L)
    StreamOps.dedupIndexTailBatches(spark, idx) shouldBe 1
  }

  test("overlapped store writes (r21): an offline fold after a crash that landed ONLY the index tail cannot lose the corpus merge") {
    val dir = tmp("dedup_ovl"); val idx = s"$dir/idx"; val corp = s"$dir/corp"
    StreamOps.bootstrapDedup(corpus0, idx, corp, k = 2, bands = 8,
      rowsPerBand = 2, nBuckets = 8)
    val ckpt = "/ckpt/ovl"; val w = StreamOps.writerIdFor(ckpt)
    def ap(b: Seq[Doc], id: Long): Unit =
      StreamOps.applyDedupBatch(b.toDF(), id, idx, corp, k = 2, bands = 8,
        rowsPerBand = 2, threshold = 0.5, nBuckets = 8, idCol = "doc_id",
        textCol = "text", poly = false, writer = w)
    // snapshot the corpus store (data dirs + meta + claim) at its
    // bootstrap state, apply batch 0, then REWIND the corpus — the
    // crash window the r21 overlapped writes introduce: index tail
    // committed, corpus merge not. (Before r21 the corpus-then-index
    // commit ORDER excluded this window, and the folded-watermark skip
    // leaned on it: "a folded tail proves the whole batch landed".)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (!f.exists()) Seq.empty
      else if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) :+ f
      else Seq(f)
    def cpTree(from: java.io.File, to: java.io.File): Unit = {
      val base = from.toPath
      walk(from).reverse.foreach { f =>
        val t = to.toPath.resolve(base.relativize(f.toPath))
        if (f.isDirectory) java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(f.toPath, t)
      }
    }
    // include Hadoop's local-FS `.crc` sidecars (the CLAUDE.md rule):
    // restoring a meta without its checksum trips ChecksumException
    def corpusArtifacts = Seq(corp, s"$corp.meta", s"$corp.meta.claim",
      s"$dir/.corp.meta.crc", s"$dir/.corp.meta.claim.crc")
    corpusArtifacts.foreach(p =>
      cpTree(new java.io.File(p), new java.io.File(p + ".bak")))
    ap(batch1, 0L)
    corpusArtifacts.foreach { p =>
      walk(new java.io.File(p)).foreach(_.delete())
      cpTree(new java.io.File(p + ".bak"), new java.io.File(p))
    }
    // the operator folds the stopped stream's index offline — the
    // watermark now covers batch 0, exactly the state that used to make
    // redelivery skip the WHOLE batch (silently losing the corpus merge
    // forever; the batch's docs would never enter the corpus)
    StreamOps.compactDedupIndex(spark, idx, None, Some(ckpt))
    StreamOps.dedupIndexTailBatches(spark, idx) shouldBe 0
    ap(batch1, 0L) // redelivery
    ids(corp) shouldBe Seq(1L, 2L, 3L, 11L, 13L)
    // and the index write recognized the watermark: no re-landed tail
    // partition, no duplicated signature rows
    StreamOps.dedupIndexTailBatches(spark, idx) shouldBe 0
    val sigRows = spark.read.parquet(idx).select("doc_id", "band", "sig")
    sigRows.count() shouldBe sigRows.distinct().count()
    // dups of the recovered survivors still drop afterwards
    ap(batch2, 1L)
    ids(corp) shouldBe Seq(1L, 2L, 3L, 11L, 13L, 21L)
  }

  test("claim ordering under overlapped writes (r21): a batch doomed at the corpus pin touches NEITHER store") {
    val dir = tmp("dedup_doomed")
    val idx1 = s"$dir/idx1"; val idx2 = s"$dir/idx2"; val corp = s"$dir/corp"
    StreamOps.bootstrapDedup(corpus0, idx1, corp, k = 2, bands = 8,
      rowsPerBand = 2, nBuckets = 8)
    StreamOps.applyDedupBatch(batch1.toDF(), 0L, idx1, corp, k = 2,
      bands = 8, rowsPerBand = 2, threshold = 0.5, nBuckets = 8,
      idCol = "doc_id", textCol = "text", poly = false, writer = "w1")
    val before = ids(corp)
    // a second stream misconfigured to SHARE the corpus but carrying
    // its OWN index: its index claim succeeds, so only the corpus pin
    // can stop it — with the writes overlapped, the index write must
    // not land a tail partition for a batch whose corpus merge is
    // about to bounce (the corpus claim is verified BEFORE the fork)
    val e = intercept[IllegalArgumentException] {
      StreamOps.applyDedupBatch(Seq(Doc(60L, t(60))).toDF(), 0L, idx2,
        corp, k = 2, bands = 8, rowsPerBand = 2, threshold = 0.5,
        nBuckets = 8, idCol = "doc_id", textCol = "text", poly = false,
        writer = "w2")
    }
    e.getMessage should include ("maintained by writer w1")
    ids(corp) shouldBe before
    // no data landed in the doomed stream's index (its claim sidecar
    // is ownership metadata, not data)
    new java.io.File(idx2).exists() shouldBe false
  }

  test("torn compaction (meta without dirs) fails loudly; rebuildDedupIndex recovers (r19)") {
    val dir = tmp("dedup_torn"); val idx = s"$dir/idx"; val corp = s"$dir/corp"
    StreamOps.bootstrapDedup(corpus0, idx, corp, k = 2, bands = 8,
      rowsPerBand = 2, nBuckets = 8)
    // simulate the crash: a static overwrite deleted the data and died
    // before the commit — the meta survives (it is a sibling file).
    // Treating this as "no index" would silently ADMIT every dup.
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(idx))
    new java.io.File(idx + ".meta").exists() shouldBe true
    val e = intercept[IllegalArgumentException] {
      StreamOps.applyDedupBatch(Seq(Doc(60L, t(1))).toDF(), 5L, idx, corp,
        k = 2, bands = 8, rowsPerBand = 2, threshold = 0.5, nBuckets = 8,
        idCol = "doc_id", textCol = "text", poly = false) }
    e.getMessage should include ("rebuildDedupIndex")
    an[IllegalArgumentException] should be thrownBy
      StreamOps.compactDedupIndex(spark, idx)
    // recovery: rebuild from the live corpus text; the dup drops again
    StreamOps.rebuildDedupIndex(spark, idx, corp, k = 2, bands = 8,
      rowsPerBand = 2)
    StreamOps.applyDedupBatch(Seq(Doc(60L, t(1)), Doc(61L, t(61))).toDF(),
      5L, idx, corp, k = 2, bands = 8, rowsPerBand = 2, threshold = 0.5,
      nBuckets = 8, idCol = "doc_id", textCol = "text", poly = false)
    ids(corp) shouldBe Seq(1L, 2L, 3L, 61L)
  }

  test("probeDedup memoizes the meta-less layout verification (r19, the r18 advice)") {
    // a crash-remnant index (dirs, no .meta) forces a one-time re-hash
    // verification; a WRITER's next batch lands the meta, but the
    // read-only probe never writes — without memoization every serving
    // probe would re-pay the full-index scan the r18 layout removed
    val dir = tmp("dedup_memo"); val idx = s"$dir/idx"; val corp = s"$dir/corp"
    StreamOps.bootstrapDedup(corpus0, idx, corp, k = 2, bands = 8,
      rowsPerBand = 2, nBuckets = 8)
    new java.io.File(idx + ".meta").delete() shouldBe true
    val probe = Seq(Doc(30L, t(1)))
    def run(path: String): Unit =
      StreamOps.probeDedup(probe.toDF(), path, corp, k = 2, bands = 8,
        rowsPerBand = 2, threshold = 0.5, idCol = "doc_id",
        textCol = "text", poly = false).collect()
    run(idx) // pays the one-time verification, memoizes the pass
    // corrupt the layout in a way a FRESH verification rejects (a
    // bucket dir above the configured count), prove it via a COPY at a
    // new path (not memoized — raises), then show the memoized path
    // skips the re-check entirely (completes)
    val buckets = new java.io.File(idx).listFiles().filter(_.isDirectory)
      .filter(_.getName.startsWith(StreamOps.DedupIdxBucketCol + "="))
    buckets.head.renameTo(new java.io.File(idx,
      s"${StreamOps.DedupIdxBucketCol}=99")) shouldBe true
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(conf)
    val idx2 = s"$dir/idx2"
    org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(idx),
      fs, new org.apache.hadoop.fs.Path(idx2), false, conf)
    val e = intercept[IllegalArgumentException](run(idx2))
    e.getMessage should include ("=99")
    run(idx) // memoized: no re-verification, the probe serves
  }

  test("when both overlapped bootstrap writes fail, the error carries both causes") {
    // each store path sits under its own regular file, so neither write
    // can create its directory and each failure names its own file
    val dir = tmp("dedup_both_fail")
    val files = Seq("index_parent", "corpus_parent").map { n =>
      val f = new java.io.File(dir, n); f.createNewFile() shouldBe true; f }
    val e = intercept[Exception] {
      StreamOps.bootstrapDedup(corpus0, s"${files(0)}/idx", s"${files(1)}/corp",
        k = 2, bands = 8, rowsPerBand = 2, nBuckets = 8)
    }
    e.getMessage should include ("corpus_parent")
    e.getSuppressed.map(_.getMessage).filter(_ != null)
      .exists(_.contains("index_parent")) shouldBe true
  }

  test("docs carrying the store's internal merge columns are rejected") {
    val dir = tmp("dedup_cols")
    val bad = Seq((1L, "x", 1L)).toDF("doc_id", "text", "version")
    val e = intercept[IllegalArgumentException] {
      StreamOps.applyDedupBatch(bad, 0L, s"$dir/idx", s"$dir/corp", 2, 8, 2,
        0.5, 8, "doc_id", "text", poly = false) }
    e.getMessage should include ("version")
  }
}
