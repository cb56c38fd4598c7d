package graft.streaming

import graft.SparkSpec
import graft.relational.Cdc
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

object CdcStreamSpec {
  final case class Change(k: Long, name: String, amt: Double,
                          version: Long, op: String)
}

/** Streaming CDC (r16): a changelog arriving as a stream maintains the
  * snapshot `Cdc.upsert` would compute over the whole log — including
  * version order violated ACROSS micro-batches, which per-batch upsert
  * alone cannot survive (the snapshot's version memory + tombstones
  * carry the cross-batch total order). Replay idempotence is the merge
  * itself (change wins at >=), not batch-keyed partitions — state
  * converges, facts append. */
class CdcStreamSpec extends SparkSpec {
  import spark.implicits._
  import CdcStreamSpec.Change

  private def base = Seq(
    (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
    .toDF("k", "name", "amt")

  // batches arrive OUT OF VERSION ORDER across the stream: every
  // batch-2 change is a LATE, LOWER version that must lose to batch 1
  private val batch1 = Seq(
    Change(2L, "", 0.0, 2L, "D"),       // delete key 2 at v2
    Change(3L, "c9", 33.0, 5L, "U"),    // update key 3 at v5
    Change(7L, "", 0.0, 3L, "D"))       // delete an UNSEEN key (tombstone memory)
  private val batch2 = Seq(
    Change(2L, "b2", 21.0, 1L, "U"),    // late U under key 2's tombstone
    Change(3L, "c1", 31.0, 1L, "U"),    // late U under key 3's v5
    Change(7L, "ghost", 70.0, 1L, "U"), // late U under the unseen-key tombstone
    Change(9L, "i", 90.0, 1L, "U"))     // plain insert

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq

  test("e2e stream: final public snapshot equals batch Cdc.upsert over the whole log") {
    val snap = tmp("cdc_snap"); val ckpt = tmp("cdc_ckpt")
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")), snap, Seq("k"), nBuckets = 8)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Change]
    val q = StreamOps.cdcStream(mem.toDF(), snap, ckpt, Seq("k"), nBuckets = 8)
    try {
      mem.addData(batch1); q.processAllAvailable()
      mem.addData(batch2); q.processAllAvailable()
    } finally q.stop()
    val streamed = rows(Cdc.publicSnapshot(StreamOps.readCdcSnapshot(spark, snap)))
    val batched = rows(Cdc.upsert(base, (batch1 ++ batch2).toDF(), Seq("k")))
    streamed shouldBe batched
    streamed shouldBe Seq((1L, "a", 10.0), (3L, "c9", 33.0), (9L, "i", 90.0))
    // version memory, internal face: key 2 is a v2 tombstone (the late
    // v1 'U' lost), key 7 a v3 tombstone that never surfaced publicly
    val internal = StreamOps.readCdcSnapshot(spark, snap)
      .where(col(Cdc.DeletedCol))
      .select(col("k"), col(Cdc.VersionCol)).as[(Long, Long)]
      .collect().sorted
    internal shouldBe Seq((2L, 2L), (7L, 3L))
  }

  test("at-least-once replay: re-applying a batch is a fixed point of the merge") {
    val snap = tmp("cdc_replay")
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")), snap, Seq("k"), nBuckets = 8)
    StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version", "op", 8)
    StreamOps.applyCdcBatch(batch2.toDF(), snap, Seq("k"), "version", "op", 8)
    def full = StreamOps.readCdcSnapshot(spark, snap)
      .orderBy("k").collect().map(_.toString).toSeq
    val once = full
    // the double-feed: a crash after the write but before the offset
    // commit replays the LAST batch verbatim
    StreamOps.applyCdcBatch(batch2.toDF(), snap, Seq("k"), "version", "op", 8)
    full shouldBe once
  }

  test("only the buckets a batch touches are rewritten (partition pruning + dynamic overwrite)") {
    val snap = tmp("cdc_buckets")
    val wide = spark.range(0, 64).select(col("id").as("k"),
      concat(lit("n"), col("id")).as("name"), lit(1.0).as("amt"))
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(wide, Seq("k")), snap, Seq("k"), nBuckets = 8)
    def filesByBucket: Map[String, Set[String]] =
      new java.io.File(snap).listFiles().filter(_.isDirectory)
        .filter(_.getName.startsWith(StreamOps.CdcBucketCol + "="))
        .map(d => d.getName ->
          d.listFiles().map(_.getName).filterNot(_.startsWith(".")).toSet)
        .toMap
    val before = filesByBucket
    before.size shouldBe 8 // 64 keys spread over 8 buckets
    StreamOps.applyCdcBatch(
      Seq(Change(5L, "upd", 2.0, 10L, "U")).toDF(), snap, Seq("k"), "version", "op", 8)
    val after = filesByBucket
    val touched = spark.range(1).select(
      pmod(xxhash64(lit(5L)), lit(8)).cast("int")).head().getInt(0)
    val changedDirs = after.keySet.filter(d => before(d) != after(d))
    changedDirs shouldBe Set(s"${StreamOps.CdcBucketCol}=$touched")
    // and the merge landed
    Cdc.publicSnapshot(StreamOps.readCdcSnapshot(spark, snap))
      .where(col("k") === 5L).select("name").as[String].head() shouldBe "upd"
  }

  test("cold start: a first batch on a missing snapshot bootstraps from the batch schema") {
    val snap = tmp("cdc_cold") + "/nested" // does not exist yet
    StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version", "op", 8)
    val pub = rows(Cdc.publicSnapshot(StreamOps.readCdcSnapshot(spark, snap)))
    pub shouldBe Seq((3L, "c9", 33.0)) // the two deletes tombstone
    StreamOps.applyCdcBatch(batch2.toDF(), snap, Seq("k"), "version", "op", 8)
    rows(Cdc.publicSnapshot(StreamOps.readCdcSnapshot(spark, snap))) shouldBe
      Seq((3L, "c9", 33.0), (9L, "i", 90.0))
  }

  test("compact drops only below-horizon tombstones; above-horizon late changes still lose") {
    val snap = java.nio.file.Files.createTempDirectory("cdc_gc").toString
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")), snap, Seq("k"), nBuckets = 8)
    StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version", "op", 8)
    // horizon 3: key 2's v2 tombstone is GC-able, key 7's v3 is NOT
    val compacted = Cdc.compact(StreamOps.readCdcSnapshot(spark, snap), horizon = 3L)
    compacted.where(col(Cdc.DeletedCol)).select("k").as[Long].collect().toSeq shouldBe Seq(7L)
    // live rows (1 at v0, 3 at v5) keep their version memory untouched
    compacted.where(!col(Cdc.DeletedCol))
      .select(col("k"), col(Cdc.VersionCol)).as[(Long, Long)]
      .collect().sorted shouldBe Seq((1L, 0L), (3L, 5L))
    // rewrite in place through the sink helper (compact's frame is lazy
    // over the files being replaced — the helper cuts first), then keep
    // merging: a late lower version under the SURVIVING tombstone loses
    StreamOps.compactCdcSnapshot(spark, snap, horizon = 3L, Seq("k"))
    StreamOps.applyCdcBatch(
      Seq(Change(7L, "ghost", 70.0, 1L, "U")).toDF(), snap, Seq("k"), "version", "op", 8)
    Cdc.publicSnapshot(StreamOps.readCdcSnapshot(spark, snap))
      .where(col("k") === 7L).count() shouldBe 0L
    // while key 2 (tombstone GONE) would resurrect on a sub-horizon
    // change — exactly why compact requires the writer's horizon
    an[IllegalArgumentException] should be thrownBy
      Cdc.compact(base, horizon = 1L)
  }

  test("layout meta: mismatched nBuckets and crashed overwrites fail loudly; key dtypes align") {
    val snap = tmp("cdc_meta")
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")), snap, Seq("k"), nBuckets = 8)
    // a stream configured with a different bucket count must throw, not
    // silently prune the wrong buckets and duplicate keys
    val eN = intercept[IllegalArgumentException] {
      StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version", "op", 16) }
    eN.getMessage should include ("nBuckets=8")
    an[IllegalArgumentException] should be thrownBy
      StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")), snap, Seq("k"), nBuckets = 16)
    // an INT-keyed changelog merges against the long-keyed snapshot
    // (aligned before hashing) instead of missing every key
    val intKeyed = Seq((2, "b9", 29.0, 9L, "U")).toDF("k", "name", "amt", "version", "op")
    StreamOps.applyCdcBatch(intKeyed, snap, Seq("k"), "version", "op", 8)
    Cdc.publicSnapshot(StreamOps.readCdcSnapshot(spark, snap))
      .where(col("k") === 2L).select("name").as[String].collect().toSeq shouldBe Seq("b9")
    // crashed overwrite: meta present, bucket dirs gone → loud failure,
    // never a silent re-bootstrap from empty
    new java.io.File(snap).listFiles()
      .filter(_.getName.startsWith(StreamOps.CdcBucketCol + "="))
      .foreach { d => d.listFiles().foreach(_.delete()); d.delete() }
    val eC = intercept[IllegalArgumentException] {
      StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version", "op", 8) }
    eC.getMessage should include ("crashed mid-write")
  }

  test("readLatest: read-your-writes parity with the sink's merge") {
    val snap = tmp("cdc_mor")
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")), snap, Seq("k"), nBuckets = 8)
    StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version", "op", 8)
    // batch2 is the tail the sink has NOT applied yet — merge-on-read
    // must equal the whole-log batch upsert...
    val latest = rows(StreamOps.readLatest(spark, snap, batch2.toDF(), Seq("k")))
    latest shouldBe rows(Cdc.upsert(base, (batch1 ++ batch2).toDF(), Seq("k")))
    // ...and equal waiting for the next sink batch (the same merge)
    StreamOps.applyCdcBatch(batch2.toDF(), snap, Seq("k"), "version", "op", 8)
    latest shouldBe rows(Cdc.publicSnapshot(StreamOps.readCdcSnapshot(spark, snap)))
    // an empty tail reads exactly the public snapshot
    rows(StreamOps.readLatest(spark, snap, batch2.toDF().limit(0), Seq("k"))) shouldBe latest
    // INT-keyed tail aligns to the long-keyed snapshot before hashing
    val intKeyed = Seq((3, "c10", 34.0, 9L, "U")).toDF("k", "name", "amt", "version", "op")
    rows(StreamOps.readLatest(spark, snap, intKeyed, Seq("k")))
      .find(_._1 == 3L).map(_._2) shouldBe Some("c10")
    // no meta → loud failure, never a guessed layout
    new java.io.File(snap + ".meta").delete() shouldBe true
    val e = intercept[IllegalArgumentException] {
      StreamOps.readLatest(spark, snap, batch2.toDF(), Seq("k")) }
    e.getMessage should include ("layout meta")
  }

  test("readLatest: only touched buckets flow through the merge (path-level pruning)") {
    val snap = tmp("cdc_mor_prune")
    val wide = spark.range(0, 64).select(col("id").as("k"),
      concat(lit("n"), col("id")).as("name"), lit(1.0).as("amt"))
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(wide, Seq("k")), snap, Seq("k"), nBuckets = 8)
    val tail = Seq(Change(5L, "upd", 2.0, 10L, "U")).toDF()
    def dataFiles(dirName: String): Int =
      new java.io.File(snap, dirName).listFiles()
        .count(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    val touchedBucket = spark.range(1).select(
      pmod(xxhash64(lit(5L)), lit(8)).cast("int")).head().getInt(0)
    val allBuckets = new java.io.File(snap).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith(StreamOps.CdcBucketCol + "="))
    val touchedFiles = dataFiles(s"${StreamOps.CdcBucketCol}=$touchedBucket")
    val totalFiles = allBuckets.map(dataFiles).sum
    // AQE wraps stages in leaf nodes the tree walk can't cross; the
    // partition pruning under test happens at scan planning either way
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = StreamOps.readLatest(spark, snap, tail, Seq("k"))
      df.collect().length shouldBe 64 // an update replaces, count unchanged
      val scans = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      // two snapshot scans: merge side (touched dirs, read by NAME —
      // r17 moved the pruning from a partition filter to the path
      // level, so the merge leg never even lists the rest) +
      // pass-through (the remaining dirs)
      scans should have size 2
      val numFiles = scans.map(_.metrics("numFiles").value).sorted
      numFiles.head shouldBe touchedFiles        // merge leg: k/nBuckets of the I/O
      numFiles.sum shouldBe totalFiles           // disjoint split, nothing read twice
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("readAsOf: time travel from a retained bootstrap + the changelog since it") {
    val snap = tmp("cdc_asof")
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")), snap, Seq("k"), nBuckets = 8)
    val log = (batch1 ++ batch2).toDF() // versions present: 1, 2, 3, 5
    // at every version cut, time travel equals the batch upsert over the
    // visible prefix of the log (the bootstrap is at version 0, so every
    // visible change wins exactly as upsert's latest-per-key does)
    for (v <- Seq(1L, 2L, 3L, 5L))
      rows(StreamOps.readAsOf(spark, snap, log, v, Seq("k"))) shouldBe
        rows(Cdc.upsert(base, log.where(col("version") <= v), Seq("k")))
    // spot-check v=1: late-arriving v1 rows apply, the v2/v3 deletes and
    // the v5 update do not exist yet
    rows(StreamOps.readAsOf(spark, snap, log, 1L, Seq("k"))) shouldBe Seq(
      (1L, "a", 10.0), (2L, "b2", 21.0), (3L, "c1", 31.0),
      (7L, "ghost", 70.0), (9L, "i", 90.0))
    // a version below every change reads exactly the public bootstrap
    rows(StreamOps.readAsOf(spark, snap, log, 0L, Seq("k"))) shouldBe rows(base)
  }

  test("readAsOf: a snapshot already past the requested version raises, both legs") {
    val snap = tmp("cdc_asof_guard")
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")), snap, Seq("k"), nBuckets = 8)
    StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version", "op", 8)
    // the snapshot now holds versions up to 5 — state AS OF 1 is
    // unreconstructible from it (changes cannot be un-applied). An empty
    // tail touches NO buckets, so this exercises the UNTOUCHED leg's
    // guard (a future-versioned row there is just as unreconstructible);
    // a tail covering the advanced keys exercises the merge leg's.
    for (tail <- Seq(batch2.toDF().limit(0), batch2.toDF())) {
      val e = intercept[Exception] {
        StreamOps.readAsOf(spark, snap, tail, 1L, Seq("k")).collect() }
      e.getMessage should include ("retained at or below")
    }
    // but reading AS OF a version at/above the snapshot's max still works
    rows(StreamOps.readAsOf(spark, snap, batch2.toDF(), 5L, Seq("k"))) shouldBe
      rows(Cdc.upsert(base, (batch1 ++ batch2).toDF(), Seq("k")))
  }

  test("readAsOf: a snapshot advanced past the cut ONLY by deletes still raises") {
    // the r17 high advice: publicSnapshot's plain !deleted filter used
    // to push into the scan BELOW the raise_error guard, so an
    // all-tombstone advance read as silently wrong history (0 rows, no
    // error) — the fused predicate must raise on the UNTOUCHED leg too
    val snap = tmp("cdc_asof_del_guard")
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")), snap, Seq("k"), nBuckets = 8)
    // advance every key past v1 exclusively with deletes (v2 tombstones)
    val deletes = Seq(Change(1L, "", 0.0, 2L, "D"), Change(2L, "", 0.0, 2L, "D"),
      Change(3L, "", 0.0, 2L, "D")).toDF()
    StreamOps.applyCdcBatch(deletes, snap, Seq("k"), "version", "op", 8)
    // empty tail → all buckets are UNTOUCHED; keys live at v1 are
    // unreconstructible from a v2-advanced base, tombstoned or not
    val e = intercept[Exception] {
      StreamOps.readAsOf(spark, snap, deletes.limit(0), 1L, Seq("k")).collect() }
    e.getMessage should include ("retained at or below")
    // at/above the advance the read works and the tombstones hide rows
    rows(StreamOps.readAsOf(spark, snap, deletes.limit(0), 2L, Seq("k"))) shouldBe Seq()
  }

  test("readAsOf: bucket discovery runs on the version-FILTERED tail") {
    val snap = tmp("cdc_asof_prune")
    val wide = spark.range(0, 64).select(col("id").as("k"),
      concat(lit("n"), col("id")).as("name"), lit(1.0).as("amt"))
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(wide, Seq("k")), snap, Seq("k"), nBuckets = 8)
    // key 5 changes at v1 (visible AS OF 1); key 6 only at v10 — a key
    // changed ONLY above the cut must not pull its bucket into the merge
    val tail = Seq(Change(5L, "upd", 2.0, 1L, "U"),
      Change(6L, "future", 9.0, 10L, "U")).toDF()
    val touchedBucket = spark.range(1).select(
      pmod(xxhash64(lit(5L)), lit(8)).cast("int")).head().getInt(0)
    def dataFiles(dirName: String): Int =
      new java.io.File(snap, dirName).listFiles()
        .count(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = StreamOps.readAsOf(spark, snap, tail, 1L, Seq("k"))
      val byKey = df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      byKey(5L) shouldBe "upd" // the visible change applied
      byKey(6L) shouldBe "n6"  // the future change did not
      val scans = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      scans should have size 2
      val numFiles = scans.map(_.metrics("numFiles").value).sorted
      numFiles.head shouldBe dataFiles(s"${StreamOps.CdcBucketCol}=$touchedBucket")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("evolveCdcSnapshot: O(1) additive evolution — no data movement, old rows null") {
    import org.apache.spark.sql.types.StringType
    val snap = tmp("cdc_evolve")
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")), snap, Seq("k"), nBuckets = 8)
    def dataFiles = new java.io.File(snap).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filter(f => !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
      .map(f => (f.getPath, f.length(), f.lastModified())).sortBy(_._1).toSeq
    val before = dataFiles
    StreamOps.evolveCdcSnapshot(spark, snap, Seq("note" -> StringType))
    dataFiles shouldBe before // O(1): the meta evolved, not one data byte
    // the read face surfaces the column, null over pre-evolution rows
    val snapDf = StreamOps.readCdcSnapshot(spark, snap)
    snapDf.columns should contain ("note")
    snapDf.where(col("note").isNotNull).count() shouldBe 0L
    // a batch carrying the column merges; untouched keys stay null —
    // and ONE read now spans pre- and post-evolution bucket files (the
    // exact mixed-generation case footer inference would get wrong)
    val b = Seq((1L, "a2", 11.0, "hello", 5L, "U"))
      .toDF("k", "name", "amt", "note", "version", "op")
    StreamOps.applyCdcBatch(b, snap, Seq("k"), "version", "op", 8)
    val out = Cdc.publicSnapshot(StreamOps.readCdcSnapshot(spark, snap))
      .orderBy("k").select("k", "note").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    out shouldBe Seq((1L, Some("hello")), (2L, None), (3L, None))
    // merge-on-read over the evolved layout: a tail carrying the column
    val tail = Seq((9L, "i", 90.0, "tl", 7L, "U"))
      .toDF("k", "name", "amt", "note", "version", "op")
    StreamOps.readLatest(spark, snap, tail, Seq("k"))
      .where(col("k") === 9L).select("note").head().getString(0) shouldBe "tl"
    // compaction MATERIALIZES the evolved schema into the files as a
    // by-product of its full rewrite: afterwards even a meta-less
    // plain read sees the column, and the data is unchanged
    val preCompact = Cdc.publicSnapshot(StreamOps.readCdcSnapshot(spark, snap))
      .orderBy("k").collect().map(_.toString).toSeq
    StreamOps.compactCdcSnapshot(spark, snap, horizon = 0L, Seq("k"))
    spark.read.parquet(snap).columns should contain ("note")
    Cdc.publicSnapshot(StreamOps.readCdcSnapshot(spark, snap))
      .orderBy("k").collect().map(_.toString).toSeq shouldBe preCompact
  }

  test("evolveCdcSnapshot: strict from the moment of evolution, loud misuse") {
    import org.apache.spark.sql.types.StringType
    val snap = tmp("cdc_evolve_guard")
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")), snap, Seq("k"), nBuckets = 8)
    StreamOps.evolveCdcSnapshot(spark, snap, Seq("note" -> StringType))
    // a changelog still missing the evolved column fails the merge's
    // missing-columns require — evolve snapshot and producer together
    val old = intercept[Exception] {
      StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version", "op", 8) }
    old.getMessage should include ("missing columns")
    // colliding with an existing payload, internal, or bucket column
    for (bad <- Seq("name", Cdc.VersionCol, StreamOps.CdcBucketCol)) {
      val e = intercept[IllegalArgumentException] {
        StreamOps.evolveCdcSnapshot(spark, snap, Seq(bad -> StringType)) }
      e.getMessage should include ("already exist")
    }
    // evolving a path that was never bootstrapped
    intercept[IllegalArgumentException] {
      StreamOps.evolveCdcSnapshot(spark, tmp("cdc_evolve_none") + "/nope",
        Seq("x" -> StringType))
    }.getMessage should include ("no layout meta")
  }

  test("missing meta with bucket dirs present: layout verified against configured nBuckets") {
    // the first write can crash AFTER the parquet commit but BEFORE the
    // .meta write; a restart with a different nBuckets must not trust
    // pruning against a layout written with another bucket count
    val snap = tmp("cdc_nometa")
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")), snap, Seq("k"), nBuckets = 8)
    new java.io.File(snap + ".meta").delete() shouldBe true
    // dir-name gate: a dir value >= the configured count is proof
    val eBig = intercept[IllegalArgumentException] {
      StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version", "op", 2) }
    eBig.getMessage should include ("different bucket count")
    // re-hash gate: all dir values < configured count, but the rows
    // hash elsewhere under nBuckets=16 — the dir names alone can't see it
    val eSmall = intercept[IllegalArgumentException] {
      StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version", "op", 16) }
    eSmall.getMessage should include ("do not hash")
    // the MATCHING count passes the one-time verification and lands the
    // meta, so the next batch skips the re-hash entirely
    StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version", "op", 8)
    new java.io.File(snap + ".meta").exists() shouldBe true
    StreamOps.applyCdcBatch(batch2.toDF(), snap, Seq("k"), "version", "op", 8)
    rows(Cdc.publicSnapshot(StreamOps.readCdcSnapshot(spark, snap))) shouldBe
      rows(Cdc.upsert(base, (batch1 ++ batch2).toDF(), Seq("k")))
  }

  test("retainSnapshot: a frozen time-travel base — readAsOf works over it, mutation refuses") {
    val snap = tmp("cdc_retain")
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")), snap, Seq("k"), nBuckets = 8)
    StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version", "op", 8)
    // retain at the snapshot's applied ceiling (batch1 tops at v5)
    val (retained, v) = StreamOps.retainSnapshot(spark, snap)
    v shouldBe 5L
    retained shouldBe s"$snap.retained/v=5"
    // the live snapshot advances past the copy...
    StreamOps.applyCdcBatch(
      Seq(Change(3L, "c99", 39.0, 9L, "U")).toDF(), snap, Seq("k"), "version", "op", 8)
    // ...while time travel over the FROZEN copy still serves v5 (its
    // floor) and beyond, fed by the changelog recorded since it
    rows(StreamOps.readAsOf(spark, retained, batch2.toDF(), 5L, Seq("k"))) shouldBe
      rows(Cdc.upsert(base, (batch1 ++ batch2).toDF()
        .where(col("version") <= 5L), Seq("k")))
    // below the copy's floor the guard raises (nothing can be un-applied)
    an[Exception] should be thrownBy
      StreamOps.readAsOf(spark, retained, batch2.toDF(), 1L, Seq("k")).collect()
    // every mutating op refuses the frozen copy — in particular
    // compaction, whose tombstone GC would corrupt historical reads
    val ops = Seq[() => Unit](
      () => StreamOps.applyCdcBatch(batch2.toDF(), retained, Seq("k"), "version", "op", 8),
      () => StreamOps.compactCdcSnapshot(spark, retained, 99L, Seq("k")),
      () => StreamOps.evolveCdcSnapshot(spark, retained,
        Seq("x" -> org.apache.spark.sql.types.StringType)),
      () => StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")),
        retained, Seq("k"), nBuckets = 8),
      () => StreamOps.repinCdcSnapshot(spark, retained, Some("/c")))
    for (op <- ops) {
      val e = intercept[IllegalArgumentException](op())
      e.getMessage should include ("RETAINED time-travel base")
    }
    // a second retention at the same target refuses (files would mix)
    an[IllegalArgumentException] should be thrownBy
      StreamOps.retainSnapshot(spark, snap, Some(retained))
    // the LIVE snapshot stays compactable and mergeable
    StreamOps.compactCdcSnapshot(spark, snap, horizon = 3L, Seq("k"))
    rows(Cdc.publicSnapshot(StreamOps.readCdcSnapshot(spark, snap)))
      .find(_._1 == 3L).map(_._2) shouldBe Some("c99")
  }

  test("retention lifecycle GC (r19): listRetained enumerates, dropRetained reclaims, misuse bounces") {
    val snap = tmp("cdc_retlist")
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")), snap, Seq("k"), nBuckets = 8)
    val (r0, v0) = StreamOps.retainSnapshot(spark, snap)
    StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version", "op", 8)
    val (r5, v5) = StreamOps.retainSnapshot(spark, snap)
    v0 shouldBe 0L
    v5 shouldBe 5L
    StreamOps.listRetained(spark, snap).map(_._2) shouldBe Seq(0L, 5L)
    // a torn copy (files, no meta — a crashed retention) is invisible
    // to the listing, exactly as it is to readers
    val torn = s"$snap.retained/v=99"
    new java.io.File(torn).mkdirs() shouldBe true
    new java.io.File(torn, "part-zzz.parquet").createNewFile() shouldBe true
    StreamOps.listRetained(spark, snap).map(_._2) shouldBe Seq(0L, 5L)
    // GC the older copy; the newer one still serves time travel
    StreamOps.dropRetained(spark, r0)
    StreamOps.listRetained(spark, snap).map(_._2) shouldBe Seq(5L)
    new java.io.File(r0).exists() shouldBe false
    rows(StreamOps.readAsOf(spark, r5, batch2.toDF(), 5L, Seq("k"))) shouldBe
      rows(Cdc.upsert(base,
        (batch1 ++ batch2).toDF().where(col("version") <= 5L), Seq("k")))
    // misuse bounces: the LIVE snapshot and a meta-less dir both refuse
    an[IllegalArgumentException] should be thrownBy
      StreamOps.dropRetained(spark, snap)
    an[IllegalArgumentException] should be thrownBy
      StreamOps.dropRetained(spark, torn)
    rows(Cdc.publicSnapshot(StreamOps.readCdcSnapshot(spark, snap)))
      .nonEmpty shouldBe true
  }

  test("readKeys: point lookup reads only the requested keys' buckets + the tail") {
    val snap = tmp("cdc_keys")
    val wide = spark.range(0, 64).select(col("id").as("k"),
      concat(lit("n"), col("id")).as("name"), lit(1.0).as("amt"))
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(wide, Seq("k")), snap, Seq("k"), nBuckets = 8)
    // sink applied: update key 5, tombstone key 6
    StreamOps.applyCdcBatch(Seq(Change(5L, "upd", 2.0, 10L, "U"),
      Change(6L, "", 0.0, 10L, "D")).toDF(), snap, Seq("k"), "version", "op", 8)
    // un-applied tail: update key 7, insert key 100
    val tail = Seq(Change(7L, "tailu", 3.0, 11L, "U"),
      Change(100L, "new", 4.0, 11L, "U")).toDF()
    val wanted = Seq(5L, 6L, 7L, 8L, 100L, 999L).toDF("k")
    val got = rows(StreamOps.readKeys(spark, snap, wanted, tail, Seq("k")))
    got shouldBe Seq(
      (5L, "upd", 2.0),    // sink-applied update
      (7L, "tailu", 3.0),  // tail overrides the stored row
      (8L, "n8", 1.0),     // base passthrough
      (100L, "new", 4.0))  // tail insert; 6 deleted, 999 never existed
    // parity: readKeys == readLatest semi-filtered to the key set
    got shouldBe rows(StreamOps.readLatest(spark, snap, tail, Seq("k"))
      .join(broadcast(wanted), Seq("k"), "left_semi"))
    // file gate: ONE snapshot scan, reading ONLY the wanted keys'
    // bucket dirs — the full-snapshot union is the thing point lookup
    // must never pay
    def dataFiles(dirName: String): Int =
      new java.io.File(snap, dirName).listFiles()
        .count(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    val wantedBuckets = Seq(5L, 6L, 7L, 8L, 100L, 999L).map { k =>
      spark.range(1).select(pmod(xxhash64(lit(k)), lit(8)).cast("int"))
        .head().getInt(0) }.toSet
    val wantedFiles = wantedBuckets.toSeq
      .map(b => dataFiles(s"${StreamOps.CdcBucketCol}=$b")).sum
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = StreamOps.readKeys(spark, snap, wanted, tail, Seq("k"))
      df.collect().length shouldBe 4
      val scans = df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      scans should have size 1 // the touched leg; NO untouched leg at all
      scans.head.metrics("numFiles").value shouldBe wantedFiles
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // INT-typed key requests align to the long-keyed layout
    rows(StreamOps.readKeys(spark, snap, Seq(5).toDF("k"), tail, Seq("k"))) shouldBe
      Seq((5L, "upd", 2.0))
    // ...and so does an INT-typed TAIL (r19, the r18 advice): its keys
    // align to the stored dtype explicitly, not through implicit
    // join-key coercion (xxhash64(int) != xxhash64(long))
    val intTail = Seq((7, "tailint", 9.0, 12L, "U"))
      .toDF("k", "name", "amt", "version", "op")
    rows(StreamOps.readKeys(spark, snap, Seq(7L).toDF("k"), intTail,
      Seq("k"))) shouldBe Seq((7L, "tailint", 9.0))
  }

  test("writer pin: a second stream (or a pinless direct write) fails loudly; takeover is explicit") {
    // the r17 verdict's top ask: applyCdcBatch is read-merge-overwrite,
    // so a second concurrent writer would PERMANENTLY lose committed
    // batches (its checkpoint advances; replay never redelivers) — the
    // pin turns the silent loss into a loud failure at the second
    // writer's first batch
    val snap = tmp("cdc_pin")
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")), snap, Seq("k"), nBuckets = 8)
    // bootstrap leaves the store unpinned; stream A's first batch claims
    val writerA = StreamOps.writerIdFor("/ckpt/a")
    StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version", "op", 8,
      writer = Some(writerA))
    // stream B and a pinless direct application both bounce off the pin
    val eB = intercept[IllegalArgumentException] {
      StreamOps.applyCdcBatch(batch2.toDF(), snap, Seq("k"), "version", "op", 8,
        writer = Some("streamB")) }
    eB.getMessage should include (s"maintained by writer $writerA")
    val eD = intercept[IllegalArgumentException] {
      StreamOps.applyCdcBatch(batch2.toDF(), snap, Seq("k"), "version", "op", 8) }
    eD.getMessage should include (s"maintained by writer $writerA")
    // the owner keeps going; evolve PRESERVES its pin, and compaction —
    // itself a read-compact-overwrite — demands the OWNER's checkpoint
    // identity (r18 self-review: a pinless compaction racing a live
    // batch would silently lose its keys, the exact hole the pin kills)
    StreamOps.evolveCdcSnapshot(spark, snap,
      Seq("note" -> org.apache.spark.sql.types.StringType))
    val eC = intercept[IllegalArgumentException] {
      StreamOps.compactCdcSnapshot(spark, snap, horizon = 0L, Seq("k")) }
    eC.getMessage should include ("ownerCheckpoint")
    StreamOps.compactCdcSnapshot(spark, snap, horizon = 0L, Seq("k"),
      ownerCheckpoint = Some("/ckpt/a"))
    val eB2 = intercept[IllegalArgumentException] {
      StreamOps.applyCdcBatch(batch2.toDF(), snap, Seq("k"), "version", "op", 8,
        writer = Some("streamB")) }
    eB2.getMessage should include (s"maintained by writer $writerA")
    // retention is mutating-ADJACENT (a per-file copy a live batch's
    // overwrite could tear): a pinned store demands the owner's
    // checkpoint identity like compaction does (r19, the r18 advice)
    val eR = intercept[IllegalArgumentException] {
      StreamOps.retainSnapshot(spark, snap) }
    eR.getMessage should include ("ownerCheckpoint")
    StreamOps.retainSnapshot(spark, snap,
      ownerCheckpoint = Some("/ckpt/a"))._2 should be >= 0L
    // explicit takeover: repin to B's checkpoint identity (A stopped)
    StreamOps.repinCdcSnapshot(spark, snap, Some("/ckpt/b"))
    val noted = batch2.toDF().withColumn("note", lit("n"))
    StreamOps.applyCdcBatch(noted, snap, Seq("k"), "version", "op", 8,
      writer = Some(StreamOps.writerIdFor("/ckpt/b")))
    rows(Cdc.publicSnapshot(StreamOps.readCdcSnapshot(spark, snap))
      .drop("note")) shouldBe
      rows(Cdc.upsert(base, (batch1 ++ batch2).toDF(), Seq("k")))
    // full static rewrite = ownership reset: pin cleared, next claims
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")), snap,
      Seq("k"), nBuckets = 8)
    StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version", "op", 8,
      writer = Some("streamC")) // claims the cleared pin
    an[IllegalArgumentException] should be thrownBy
      StreamOps.applyCdcBatch(batch2.toDF(), snap, Seq("k"), "version", "op", 8,
        writer = Some("streamA"))
  }

  test("evolve racing an in-flight batch survives: the closing meta write unions schemas") {
    // the r17 race note: a batch that read the meta BEFORE an evolution
    // used to finish by writing the PRE-evolution schema, silently
    // erasing the evolved column — the closing write now re-reads the
    // meta and unions (additive evolution makes the union well-defined)
    import org.apache.spark.sql.types.StringType
    val snap = tmp("cdc_evolve_race")
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")), snap, Seq("k"), nBuckets = 8)
    // the evolution lands mid-batch, after the batch's meta read and
    // data write, before its closing meta write (the raceHook point)
    StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version", "op", 8,
      raceHook = () =>
        StreamOps.evolveCdcSnapshot(spark, snap, Seq("note" -> StringType)))
    // the evolved column SURVIVED the batch's meta write...
    val snapDf = StreamOps.readCdcSnapshot(spark, snap)
    snapDf.columns should contain ("note")
    // ...reads null everywhere (no batch carried it yet), and the next
    // batch can carry it (strict-from-evolution would reject a
    // column-less changelog — proving the meta really is evolved)
    snapDf.where(col("note").isNotNull).count() shouldBe 0L
    val b = Seq((9L, "i", 90.0, "hello", 7L, "U"))
      .toDF("k", "name", "amt", "note", "version", "op")
    StreamOps.applyCdcBatch(b, snap, Seq("k"), "version", "op", 8)
    Cdc.publicSnapshot(StreamOps.readCdcSnapshot(spark, snap))
      .where(col("k") === 9L).select("note").head().getString(0) shouldBe "hello"
  }

  test("a reader racing a compaction fails LOUDLY, never silently wrong (r19 stretch)") {
    // readLatest/readKeys/readAsOf capture the snapshot's file list at
    // frame construction; a compaction's full overwrite replaces every
    // file, so a stale frame's action must surface as an error (the
    // reader retries by reconstructing), NEVER as silently wrong rows —
    // the documented reader contract (writers are pinned; readers are
    // not, by design: serving reads must not take a lock)
    val snap = tmp("cdc_reader_race")
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")), snap, Seq("k"), nBuckets = 8)
    StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version", "op", 8)
    val df = StreamOps.readLatest(spark, snap, batch2.toDF(), Seq("k"))
    val expected = rows(df) // pre-compaction read serves
    // horizon 0 drops nothing — same logical content, every file name new
    StreamOps.compactCdcSnapshot(spark, snap, horizon = 0L, Seq("k"))
    val e = intercept[Exception] {
      StreamOps.readLatest(spark, snap, batch2.toDF(), Seq("k")) // fresh is fine
      df.collect() // the STALE frame must fail, not serve wrong rows
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    withClue(e.toString) {
      chain(e).exists(c => c.isInstanceOf[java.io.FileNotFoundException] ||
        Option(c.getMessage).exists(m =>
          m.contains("FILE_NOT_EXIST") || m.contains("does not exist") ||
            m.contains("FAILED_READ_FILE"))) shouldBe true
    }
    // the retry contract: reconstructing the frame serves correctly
    rows(StreamOps.readLatest(spark, snap, batch2.toDF(), Seq("k"))) shouldBe
      expected
  }

  test("the ownership claim is a CAS (r19, the r18 top ask): racing FIRST batches resolve to one winner") {
    val snap = tmp("cdc_cas")
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")), snap, Seq("k"), nBuckets = 8)
    val writerA = StreamOps.writerIdFor("/ckpt/casa")
    val writerB = StreamOps.writerIdFor("/ckpt/casb")
    // B's WHOLE first batch lands inside A's claim window (after A read
    // the unowned meta, before A's claim attempt — the worst
    // interleaving of the old read-then-write claim, where BOTH writers
    // claimed and A's overwrite permanently erased B's committed keys):
    // with the exclusive-create claim sidecar, B wins and A fails
    // LOUDLY naming B, before A writes any data
    var bRan = false
    val eA = intercept[IllegalArgumentException] {
      StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version", "op", 8,
        writer = Some(writerA),
        claimHook = () => {
          StreamOps.applyCdcBatch(batch2.toDF(), snap, Seq("k"), "version",
            "op", 8, writer = Some(writerB))
          bRan = true
        })
    }
    bRan shouldBe true
    eA.getMessage should include (writerB)
    // B's committed batch SURVIVED A's failed attempt — the exact state
    // the old bootstrap-overlap window silently lost — and B keeps going
    rows(Cdc.publicSnapshot(StreamOps.readCdcSnapshot(spark, snap))) shouldBe
      rows(Cdc.upsert(base, batch2.toDF(), Seq("k")))
    StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version", "op", 8,
      writer = Some(writerB))
    rows(Cdc.publicSnapshot(StreamOps.readCdcSnapshot(spark, snap))) shouldBe
      rows(Cdc.upsert(base, (batch1 ++ batch2).toDF(), Seq("k")))
  }

  test("a claim without meta (crash before the first write) is still owned; bootstrap rewrite resets it") {
    val snap = tmp("cdc_claim_crash") + "/s"
    val fs = new org.apache.hadoop.fs.Path(snap)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // stream A claims the store, then crashes before its first write
    // lands anything: the claim sidecar alone records ownership
    Store.claimOwnership(fs, snap, Some("wA"), None, "snapshot")
    Store.readClaim(fs, snap) shouldBe Some("wA")
    // admin ops must not go around the claim (compaction-shaped holes)
    val e = intercept[IllegalArgumentException] {
      StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version", "op", 8) }
    e.getMessage should include ("wA")
    // A's restart re-claims idempotently and proceeds
    StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version", "op", 8,
      writer = Some("wA"))
    // a lost writer id recovers through the documented ownership RESET
    // (full bootstrap rewrite); the claim sidecar resets with the meta
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")), snap,
      Seq("k"), nBuckets = 8)
    Store.readClaim(fs, snap) shouldBe None
    StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version", "op", 8,
      writer = Some("wB"))
  }

  test("a torn claim (zero-byte sidecar) refuses everyone; releaseStoreClaim recovers (r19 review)") {
    val snap = tmp("cdc_torn_claim") + "/s"
    val fs = new org.apache.hadoop.fs.Path(snap)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // simulate the create-then-die gap: sidecar created, content never
    // landed — nobody can prove the claim is theirs, so everyone
    // (including the crashed owner's replay and direct applications)
    // is refused until the operator clears it explicitly
    fs.create(new org.apache.hadoop.fs.Path(snap + ".meta.claim"), true)
      .close()
    for (w <- Seq(Some("wA"), None)) {
      val e = intercept[IllegalArgumentException] {
        StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"),
          "version", "op", 8, writer = w) }
      e.getMessage should include ("releaseStoreClaim")
    }
    StreamOps.releaseStoreClaim(spark, snap)
    StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version",
      "op", 8, writer = Some("wA"))
    Store.readClaim(fs, snap) shouldBe Some("wA")
  }

  test("compaction re-records the EFFECTIVE owner — claim-first, never a stale meta pin (r19 review)") {
    val snap = tmp("cdc_eff_owner")
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")), snap, Seq("k"), nBuckets = 8)
    val wA = StreamOps.writerIdFor("/ckpt/ea")
    val fs = new org.apache.hadoop.fs.Path(snap)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // the crash window the effectiveOwner rule covers: the claim landed,
    // the first closing meta write did not (meta still records no pin)
    Store.claimOwnership(fs, snap, Some(wA), None, "snapshot")
    // an ownerless compaction bounces off the CLAIM...
    val e = intercept[IllegalArgumentException] {
      StreamOps.compactCdcSnapshot(spark, snap, horizon = 0L, Seq("k")) }
    e.getMessage should include ("ownerCheckpoint")
    // ...the owner's compaction succeeds AND the claim survives it —
    // writing back the stale meta pin (None) used to delete the claim,
    // re-opening the store to a second writer mid-deployment
    StreamOps.compactCdcSnapshot(spark, snap, horizon = 0L, Seq("k"),
      ownerCheckpoint = Some("/ckpt/ea"))
    Store.readClaim(fs, snap) shouldBe Some(wA)
    an[IllegalArgumentException] should be thrownBy
      StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version",
        "op", 8, writer = Some("intruder"))
  }

  test("a repin takeover landing mid-batch is preserved, not silently reverted (r19)") {
    val snap = tmp("cdc_repin_race")
    StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("k")), snap, Seq("k"), nBuckets = 8)
    val writerA = StreamOps.writerIdFor("/ckpt/ra")
    val writerB = StreamOps.writerIdFor("/ckpt/rb")
    // A's batch passes its pin check (store unpinned), then a takeover
    // to B lands mid-batch (after A's data write, before its closing
    // meta write — the raceHook point): the closing write must keep B's
    // pin so A's NEXT batch bounces loudly, instead of re-asserting A
    // and silently reverting the takeover
    StreamOps.applyCdcBatch(batch1.toDF(), snap, Seq("k"), "version", "op", 8,
      writer = Some(writerA),
      raceHook = () => StreamOps.repinCdcSnapshot(spark, snap, Some("/ckpt/rb")))
    val e = intercept[IllegalArgumentException] {
      StreamOps.applyCdcBatch(batch2.toDF(), snap, Seq("k"), "version", "op", 8,
        writer = Some(writerA)) }
    e.getMessage should include (writerB)
    // the takeover's writer proceeds
    StreamOps.applyCdcBatch(batch2.toDF(), snap, Seq("k"), "version", "op", 8,
      writer = Some(writerB))
    rows(Cdc.publicSnapshot(StreamOps.readCdcSnapshot(spark, snap))) shouldBe
      rows(Cdc.upsert(base, (batch1 ++ batch2).toDF(), Seq("k")))
  }

  test("plan: the merge's full-outer join rides the latest-per-key window hash") {
    // the r16 <=> regression class: a null-safe join hashes on
    // (coalesce, isnull) and re-exchanges BOTH sides above the window —
    // pin the 2-exchange shape (snapshot side + window) like upsert's
    val snap = Cdc.bootstrap(base, Seq("k"))
    val plan = Cdc.mergeVersioned(snap, (batch1 ++ batch2).toDF(), Seq("k"))
      .queryExecution.executedPlan.toString
    "Exchange hashpartitioning".r.findAllIn(plan).length shouldBe 2
    plan should not include "ObjectHashAggregate"
  }

  test("composite keys: two-column merge equals the batch upsert") {
    val base2 = Seq((1L, "x", 10.0), (1L, "y", 11.0), (2L, "x", 20.0))
      .toDF("k1", "k2", "amt")
    val chg = Seq(
      (1L, "x", 99.0, 2L, "U"),  // update one composite key
      (1L, "y", 0.0, 1L, "D"),   // delete its sibling
      (3L, "z", 30.0, 1L, "U"))  // insert
      .toDF("k1", "k2", "amt", "version", "op")
    val s0 = Cdc.bootstrap(base2, Seq("k1", "k2"))
    val streamed = Cdc.publicSnapshot(
        Cdc.mergeVersioned(s0, chg, Seq("k1", "k2")))
      .orderBy("k1", "k2").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val batched = Cdc.upsert(base2, chg, Seq("k1", "k2"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    streamed shouldBe batched
    streamed shouldBe Seq((1L, "x", 99.0), (2L, "x", 20.0), (3L, "z", 30.0))
  }

  test("mergeVersioned: >= tie goes to the change (replay), < loses (late arrival)") {
    val snap = Cdc.bootstrap(Seq((1L, "a", 10.0)).toDF("k", "name", "amt"), Seq("k"), 5L)
    val tie = Seq(Change(1L, "tie", 1.0, 5L, "U")).toDF()
    Cdc.publicSnapshot(Cdc.mergeVersioned(snap, tie, Seq("k")))
      .select("name").as[String].head() shouldBe "tie"
    val late = Seq(Change(1L, "late", 1.0, 4L, "U")).toDF()
    Cdc.publicSnapshot(Cdc.mergeVersioned(snap, late, Seq("k")))
      .select("name").as[String].head() shouldBe "a"
    // unversioned input is a caller error
    an[IllegalArgumentException] should be thrownBy
      Cdc.mergeVersioned(Seq((1L, "a", 10.0)).toDF("k", "name", "amt"),
        tie, Seq("k"))
  }
}
