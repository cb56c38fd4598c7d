package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.{SourceGuard, SparkSpec}
import graft.obs.QueryProfile
import graft.relational.Cdc
import graft.streaming.Store.{AnnMeta, CanonMeta, CdcMeta, IdxMeta}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, StructType}

/** The store lifecycle's contract: every meta a parent build wrote
  * still opens and decodes to the same values (CDC, index and ANN metas
  * re-encode byte for byte), a corrupt meta fails the same way on every
  * store — naming the store and its path —, the one bucket reader reads
  * what a filtered full read reads, and no code outside `Store.scala`
  * touches a meta or claim sidecar or the bucket layout. */
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

  // ---- the one bucket reader, over each bucketed kind

  /** The reader contract of the bucketed store at `root`: no bucket
    * reads an empty frame carrying the stored schema; a touched read
    * (a bucket with no dir skipped) holds exactly the full read's rows
    * of those buckets — and of the tail, when the kind has one; and the
    * schema resolves from one footer, with no Spark job, when there is
    * no meta to read it from. */
  private def readsItsBuckets[M](kind: Store.Kind[M], root: String,
                                 bucketCol: String, tail: Option[Long] = None): Unit = {
    val store = kind.at(spark, root)
    val (m, listed) = store.open()
    val schema = store.schema(m, listed)
    val full = spark.read.parquet(root)
    def rowsOf(df: DataFrame) =
      df.select(schema.fieldNames.map(col).toIndexedSeq: _*).collect().map(_.toString).sorted.toSeq
    def fullOf(buckets: Seq[Long]) = rowsOf(full.where(col(bucketCol).isin(buckets: _*)))

    val none = store.read(schema, listed, Nil)
    none.schema shouldBe schema
    none.count() shouldBe 0L

    val buckets = listed.map(_.stripPrefix(bucketCol + "=").toLong)
      .filterNot(tail.contains).sorted.take(2).toSeq
    buckets should not be empty
    val absent = buckets.max + 1000L
    val touched = store.read(schema, listed, buckets :+ absent)
    touched.columns.toSeq shouldBe schema.fieldNames.toSeq
    rowsOf(touched) shouldBe fullOf(buckets)
    rowsOf(touched) should not be empty
    tail.foreach { t =>
      rowsOf(store.read(schema, listed, buckets, withTail = true)) shouldBe fullOf(buckets :+ t)
    }

    val (footer, run) = QueryProfile.measure(spark)(store.schema(None, listed))
    run.jobs shouldBe 0
    footer.map(f => f.name -> f.dataType) shouldBe schema.map(f => f.name -> f.dataType)
  }

  test("the CDC snapshot reads its buckets as a filtered full read does") {
    val snap = tmp("store_read_cdc") + "/snap"
    val base = (1L to 40L).map(k => (k, s"n$k", k * 1.5)).toDF("k", "name", "amt")
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")), snap, Seq("k"), nBuckets = 8)
    readsItsBuckets(Store.CdcSnapshot, snap, StreamOps.CdcBucketCol)
  }

  test("the signature index reads its buckets and its tail as a filtered full read does") {
    val dir = tmp("store_read_idx"); val idx = s"$dir/idx"; val corp = s"$dir/corp"
    def text(i: Int) = (0 until 12).map(w => s"w${i}x$w").mkString(" ")
    StreamOps.bootstrapDedup((1 to 30).map(i => (i.toLong, text(i))).toDF("doc_id", "text"),
      idx, corp, nBuckets = 4, nIdxBuckets = 8)
    // one batch lands in the tail
    StreamOps.applyDedupBatch((40 to 45).map(i => (i.toLong, text(i))).toDF("doc_id", "text"),
      0L, idx, corp, 2, 8, 2, 0.5, 4, "doc_id", "text", poly = false, nIdxBuckets = 8)
    readsItsBuckets(Store.SignatureIndex, idx, StreamOps.DedupIdxBucketCol,
      Some(StreamOps.DedupIdxTail.toLong))
  }

  test("the ANN code store reads its cells and its tail as a filtered full read does") {
    val dir = tmp("store_read_ann") + "/ann"
    val dims = 4
    val coarse = (0 until 4).map(c => (0 until dims).map(j => ((c + j) % 4 - 2) / 2.0))
    val pq = (0 until 2).map(s => (0 until 2).map(k =>
      (0 until 2).map(j => ((s + k + j) % 4 - 2) / 2.0)))
    def vecs(ids: Range) = ids.map(i => (i.toLong,
        (0 until dims).map(j => ((i * 5 + j) % 7 - 3) / 3.0f)))
      .toDF("vec_id", "embedding")
    StreamOps.bootstrapAnn(vecs(0 until 40), dir, coarse, pq)
    StreamOps.applyAnnBatch(vecs(50 until 56), 0L, dir)
    readsItsBuckets(Store.AnnCodes, s"$dir/codes", StreamOps.AnnCellCol, Some(StreamOps.AnnTail))
  }

  test("the canonical-edge snapshot reads its buckets as a filtered full read does") {
    val dir = tmp("store_read_canon")
    val edges = (1 to 30).map(i => (s"s${i % 7}", s"h$i.com", i.toLong))
      .toDF("src", "dst_host", "n_links")
    StreamOps.applyCanonBatch(edges, 0L, s"$dir/l", s"$dir/c", "w1", "src",
      "dst_host", "n_links", 8, 1L << 20)
    readsItsBuckets(Store.CanonEdges, s"$dir/c", StreamOps.CanonBucketCol)
  }

  test("Store.scala is the only main source that touches a meta or claim sidecar") {
    val main = Paths.get("src/main/scala")
    assume(Files.isDirectory(main), s"run from the repository root (no $main)")
    // a string literal naming a sidecar (".meta", "x.meta", ".meta.claim"),
    // or the claim sidecar's reader / exclusive create
    val sidecar = raw""""[^"\n]*\.(meta|claim)\b|\breadClaim\s*\(|CREATE_NEW""".r
    SourceGuard.scan(main, sidecar) shouldBe List("graft/streaming/Store.scala")
  }

  /** A partitioned write, a dynamic overwrite, a base-path read. */
  private val layoutToken = """partitionBy\(|partitionOverwriteMode|"basePath"""".r

  /** A bucket-dir name built from a bucket-column constant. */
  private val bucketDirName =
    """\$\{?[\w.]*(BucketCol|AnnCellCol)\}?=|(BucketCol|AnnCellCol)\s*\+\s*"="""".r

  test("Store.scala is the only main source that builds a bucket-dir name or partitions a store") {
    val main = Paths.get("src/main/scala")
    assume(Files.isDirectory(main), s"run from the repository root (no $main)")
    val streaming = SourceGuard.sources(main.resolve("graft/streaming"))
    // live: the store's own reads and writes are found, and only there
    val layout = SourceGuard.hits(streaming, layoutToken)
    layout should not be empty
    layout.map(_.file).distinct shouldBe List("Store.scala")
    SourceGuard.hits(SourceGuard.sources(main), bucketDirName)
      .filterNot(_.file == "graft/streaming/Store.scala") shouldBe Nil
    // it fires: a planted sink that names a bucket dir and partitions
    // its own write is reported, attributed to its case class
    val planted = "Planted.scala" ->
      ("case class Planted(root: String) {\n" +
        "  def dir(b: Int) = s\"$root/${StreamOps.CdcBucketCol}=$b\"\n" +
        "  def put(df: DataFrame) = df.write.partitionBy(\"b\").parquet(root)\n}")
    val at = Some(SourceGuard.Block("case class", "Planted"))
    SourceGuard.hits(streaming :+ planted, layoutToken).filterNot(_.file == "Store.scala") shouldBe
      List(SourceGuard.Hit("Planted.scala", at))
    SourceGuard.hits(Seq(planted), bucketDirName) shouldBe List(SourceGuard.Hit("Planted.scala", at))
  }
}
