package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.{SourceGuard, SparkSpec}
import graft.relational.Cdc
import graft.streaming.Store.{AnnMeta, CanonMeta, CdcMeta, IdxMeta}
import org.apache.spark.sql.types.{DataType, StructType}

/** The store lifecycle's contract: every meta a parent build wrote
  * still opens and decodes to the same values (CDC, index and ANN metas
  * re-encode byte for byte), a corrupt meta fails the same way on every
  * store — naming the store and its path — and no code outside
  * `Store.scala` touches a meta or claim sidecar. */
class StoreSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  // a schema line exactly as StructType.json writes it
  private val schemaJson =
    """{"type":"struct","fields":[{"name":"k","type":"long","nullable":true,"metadata":{}},""" +
      """{"name":"name","type":"string","nullable":true,"metadata":{}}]}"""
  private val schema = DataType.fromJson(schemaJson).asInstanceOf[StructType]

  /** Land `content` as the meta of `root` byte for byte, dropping the
    * local FS checksum sidecar a prior meta write left (it would fail
    * the read with a ChecksumException). */
  private def overwrite(root: String, content: String): Unit = {
    val meta = Paths.get(root + ".meta")
    Files.deleteIfExists(meta.resolveSibling(s".${meta.getFileName}.crc"))
    Files.write(meta, content.getBytes(StandardCharsets.UTF_8))
  }

  /** A meta the way a parent build's writer landed it (content + newline). */
  private def planted(root: String, content: String): Unit =
    overwrite(root, content + "\n")

  private def metaBytes(root: String): String =
    new String(Files.readAllBytes(Paths.get(root + ".meta")), StandardCharsets.UTF_8)

  /** Decodes `content` through `kind`, and (when `same`) re-encodes it
    * byte for byte. */
  private def roundTrip[M](kind: Store.Kind[M], content: String,
                           same: Boolean = true): M = {
    val root = tmp("store_meta") + "/s"
    planted(root, content)
    val store = kind.at(spark, root)
    val m = store.meta.get
    store.writeMeta(m)
    if (same) metaBytes(root) shouldBe content + "\n"
    m
  }

  test("CDC snapshot metas of every parent generation decode and re-encode byte for byte") {
    roundTrip(Store.CdcSnapshot, "nBuckets=8") shouldBe
      CdcMeta(8, None, None, None)
    roundTrip(Store.CdcSnapshot, s"nBuckets=8\nschema=$schemaJson") shouldBe
      CdcMeta(8, Some(schema), None, None)
    roundTrip(Store.CdcSnapshot, s"nBuckets=64\nschema=$schemaJson\nwriter=1a2b3c") shouldBe
      CdcMeta(64, Some(schema), Some("1a2b3c"), None)
    roundTrip(Store.CdcSnapshot, s"nBuckets=8\nschema=$schemaJson\nretained=12") shouldBe
      CdcMeta(8, Some(schema), None, Some(12L))
    roundTrip(Store.CdcSnapshot,
      s"nBuckets=8\nschema=$schemaJson\nwriter=w\nretained=3") shouldBe
      CdcMeta(8, Some(schema), Some("w"), Some(3L))
  }

  test("signature-index and ANN metas, with and without folded watermarks, re-encode byte for byte") {
    roundTrip(Store.SignatureIndex, s"nIdxBuckets=64\nschema=$schemaJson") shouldBe
      IdxMeta(64, schema, Map.empty)
    roundTrip(Store.SignatureIndex,
      s"nIdxBuckets=4\nschema=$schemaJson\nfolded:9f00=3\nfolded:a1=12") shouldBe
      IdxMeta(4, schema, Map("9f00" -> 3L, "a1" -> 12L))
    roundTrip(Store.AnnCodes, s"cells=4\ncbhash=5e2a11c0\nschema=$schemaJson") shouldBe
      AnnMeta(4, "5e2a11c0", schema, Map.empty)
    roundTrip(Store.AnnCodes,
      s"cells=4\ncbhash=-3f\nschema=$schemaJson\nfolded:default=0\nfolded:wA=7") shouldBe
      AnnMeta(4, "-3f", schema, Map("default" -> 0L, "wA" -> 7L))
  }

  test("canon, labels and inflight metas decode; the canon ';' line moves to the newline form") {
    roundTrip(Store.CanonEdges, "nBuckets=8;writer=w1;applied=3", same = false) shouldBe
      CanonMeta(8, "w1", 3L)
    roundTrip(Store.CanonEdges, "nBuckets=8\nwriter=w1\napplied=3") shouldBe
      CanonMeta(8, "w1", 3L)
    roundTrip(Store.Labels, "graft-labels") shouldBe (())
    roundTrip(Store.Inflight, "7") shouldBe 7L
  }

  test("a canonical snapshot whose meta is the parent's ';' line still opens, replays and folds") {
    val edges = Seq(("s1", "a.com", 3L), ("s1", "b.com", 2L), ("s3", "x.com", 5L))
      .toDF("src", "dst_host", "n_links")
    val more = Seq(("s3", "b.com", 4L)).toDF("src", "dst_host", "n_links")
    def apply1(labels: String, canon: String, b: org.apache.spark.sql.DataFrame,
               id: Long): Unit =
      StreamOps.applyCanonBatch(b, id, labels, canon, "w1", "src",
        "dst_host", "n_links", 8, 1L << 20)
    def canonAt(path: String) = StreamOps.readCanonEdges(spark, path)
      .as[(String, String, Long)].collect().toSet
    val dir = tmp("store_canon_legacy")
    val (labels, canon) = (s"$dir/l", s"$dir/c")
    val (labelsC, canonC) = (s"$dir/lc", s"$dir/cc")
    apply1(labels, canon, edges, 0L)
    apply1(labelsC, canonC, edges, 0L)
    planted(canon, "nBuckets=8;writer=w1;applied=0")
    apply1(labels, canon, edges, 0L) // a replay at the legacy watermark folds nothing
    apply1(labels, canon, more, 1L)
    apply1(labelsC, canonC, more, 1L)
    canonAt(canon) shouldBe canonAt(canonC)
    metaBytes(canon) shouldBe "nBuckets=8\nwriter=w1\napplied=1\n"
  }

  // ---- a corrupt meta fails the same way on every store: an
  // IllegalArgumentException naming the store and its path, for a
  // zero-byte meta (a create-then-die write) and for a foreign one (a
  // stream pointed at another store's path)

  private val foreign = "graft-labels"

  private def failsNaming(store: String, root: String)(op: => Any): Unit = {
    val e = intercept[IllegalArgumentException](op)
    e.getMessage should include (store)
    e.getMessage should include (root)
  }

  test("a corrupt CDC snapshot meta fails naming the store and its path") {
    val snap = tmp("store_bad_cdc") + "/snap"
    val base = Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "name", "amt")
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")), snap, Seq("k"), nBuckets = 4)
    val batch = Seq((1L, "a2", 3.0, 5L, "U")).toDF("k", "name", "amt", "version", "op")
    for (content <- Seq("", foreign)) {
      overwrite(snap, content)
      failsNaming("snapshot", snap) {
        StreamOps.applyCdcBatch(batch, snap, Seq("k"), "version", "op", 4) }
      failsNaming("snapshot", snap) {
        StreamOps.readLatest(spark, snap, batch, Seq("k")) }
    }
  }

  test("a corrupt signature-index meta fails naming the store and its path") {
    val dir = tmp("store_bad_idx"); val idx = s"$dir/idx"; val corp = s"$dir/corp"
    val docs = Seq((1L, "the cat sat on the mat"), (2L, "a dog ran in the park"))
      .toDF("doc_id", "text")
    StreamOps.bootstrapDedup(docs, idx, corp, nBuckets = 4, nIdxBuckets = 4)
    val batch = Seq((3L, "the cat sat on the mat")).toDF("doc_id", "text")
    for (content <- Seq("", foreign)) {
      overwrite(idx, content)
      failsNaming("signature index", idx) {
        StreamOps.applyDedupBatch(batch, 0L, idx, corp, 2, 8, 2, 0.5, 4,
          "doc_id", "text", poly = false, nIdxBuckets = 4) }
    }
  }

  test("a corrupt ANN code-store meta fails naming the store and its path") {
    val dir = tmp("store_bad_ann") + "/ann"
    val dims = 4
    val coarse = (0 until 2).map(c => (0 until dims).map(j => ((c + j) % 4 - 2) / 2.0))
    val pq = (0 until 2).map(s => (0 until 2).map(k =>
      (0 until 2).map(j => ((s + k + j) % 4 - 2) / 2.0)))
    def vecs(ids: Range) = ids.map(i => (i.toLong,
        (0 until dims).map(j => ((i * 5 + j) % 7 - 3) / 3.0f)))
      .toDF("vec_id", "embedding")
    StreamOps.bootstrapAnn(vecs(0 until 10), dir, coarse, pq)
    for (content <- Seq("", foreign)) {
      overwrite(s"$dir/codes", content)
      failsNaming("ANN code store", s"$dir/codes") {
        StreamOps.applyAnnBatch(vecs(20 until 22), 0L, dir) }
      failsNaming("ANN code store", s"$dir/codes") {
        StreamOps.probeAnn(vecs(0 until 2).withColumnRenamed("vec_id", "qid"),
          dir, k = 2, nprobe = 1) }
    }
  }

  test("a corrupt labels meta fails naming the store and its path") {
    val labels = tmp("store_bad_labels") + "/labels"
    val wave = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    StreamOps.applyComponentsBatch(wave, labels, "a", "b", "node", 1L << 20)
    for (content <- Seq("", s"nBuckets=8\nschema=$schemaJson")) {
      overwrite(labels, content)
      failsNaming("labels store", labels) {
        StreamOps.applyComponentsBatch(wave, labels, "a", "b", "node", 1L << 20) }
    }
  }

  test("a corrupt canonical snapshot meta fails naming the store and its path") {
    val dir = tmp("store_bad_canon")
    val (labels, canon) = (s"$dir/l", s"$dir/c")
    val edges = Seq(("s1", "a.com", 3L), ("s2", "a.com", 1L))
      .toDF("src", "dst_host", "n_links")
    def apply1(id: Long): Unit = StreamOps.applyCanonBatch(edges, id, labels,
      canon, "w1", "src", "dst_host", "n_links", 8, 1L << 20)
    apply1(0L)
    for (content <- Seq("", s"nBuckets=8\nschema=$schemaJson")) {
      overwrite(canon, content)
      failsNaming("canonical snapshot", canon)(apply1(1L))
    }
  }

  test("Store.scala is the only main source that touches a meta or claim sidecar") {
    val main = Paths.get("src/main/scala")
    assume(Files.isDirectory(main), s"run from the repository root (no $main)")
    // a string literal naming a sidecar (".meta", "x.meta", ".meta.claim"),
    // or the claim sidecar's reader / exclusive create
    val sidecar = raw""""[^"\n]*\.(meta|claim)\b|\breadClaim\s*\(|CREATE_NEW""".r
    SourceGuard.scan(main, sidecar) shouldBe List("graft/streaming/Store.scala")
  }
}
