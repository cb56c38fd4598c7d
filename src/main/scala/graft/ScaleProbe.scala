package graft

import graft.model.Tables
import graft.sources.Sinks
import graft.streaming.{Store, StreamOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: scale-behavior probe. Replicates the whole fixture 1× and
  * `factor`× into /tmp, then runs every declared query
  * (`SparkEntry.queries`, into the full-plan [[Sinks.noop]]) plus a few
  * kept shapes at both scales — the "would this plan survive a 10×
  * scale-up" check the 100 TB design demands, run locally on the
  * pipelines the registry declares, never on copies of them.
  *
  * Usage: runMain graft.ScaleProbe [sfDir] [factor] [name...]
  * Env: SPARK_GRAFT_CPUS (default 4, see [[Session]]).
  */
object ScaleProbe {
  /** The dimension tables every replica shares; copied as they are. */
  val sharedTables: Set[String] = Set("nation", "region")

  /** The columns a replica shifts: every `*key` / `*_id` column except
    * the references into [[sharedTables]]. */
  def keyCols(df: DataFrame): Seq[String] = df.columns.toSeq.filter(c =>
    (c.endsWith("key") || c.endsWith("_id")) &&
      !c.endsWith("nationkey") && !c.endsWith("regionkey"))

  private[graft] def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") Tables.events(spark, dir) else Tables.df(spark, dir, name)

  // replica r > 0 renames every token with three letters chosen by
  // xxhash64(token, r): within a replica the token structure (and so
  // every near-dup pair) is the base's, across replicas no token is
  // shared — plain copies would make each replica a near-dup of its
  // source, and near-dup pair volume would grow quadratically in N
  private val replicaText = expr("array_join(transform(split(text, ' '), t -> " +
    "if(__rep = 0 or t = '', t, concat(t, array_join(transform(sequence(0, 2), " +
    "i -> chr(97 + pmod(xxhash64(t, __rep, i), 26))), '')))), ' ')")
  // the same for vectors: replica r > 0 flips the sign of each dimension
  // chosen by xxhash64(dim, r) — one fixed orthogonal jitter per replica,
  // so norms and within-replica cosines are the base's while a vector
  // and its source sit ~orthogonal
  private val replicaVector = expr("transform(embedding, (x, i) -> " +
    "if(__rep = 0 or pmod(xxhash64(i, __rep), 2) = 0, x, -x))")

  /** Writes every fixture table of `sfDir` `rep`× into `dest`, one file
    * set per replica, so a file holds the same rows at every scale and
    * only the file count grows. Replica r adds r × K to the [[keyCols]],
    * with one K (one more than the largest key in the fixture) so every
    * foreign-key join still matches within its replica. */
  def replicate(spark: SparkSession, sfDir: String, rep: Int, dest: String): Unit = {
    val tables = Tables.names.map(n => n -> table(spark, sfDir, n))
    val k = 1L + tables.filterNot { case (n, _) => sharedTables(n) }.map { case (_, df) =>
      df.agg(max(greatest(keyCols(df).map(c => col(c).cast("long")) :+ lit(0L): _*)))
    }.reduce(_ union _).collect().map(_.getLong(0)).max
    tables.foreach { case (name, df) =>
      val keys = keyCols(df).toSet
      def replica(r: Int): DataFrame = {
        val shifted = df.select(df.columns.toSeq.map(c =>
          if (keys(c)) (col(c) + r * k).cast(df.schema(c).dataType).as(c)
          else col(c)) :+ lit(r).as("__rep"): _*)
        (name match {
          case "documents" => shifted.withColumn("text", replicaText)
            .withColumn("n_chars", length(col("text")).cast("long"))
          case "embeddings" => shifted.withColumn("embedding", replicaVector)
          case _ => shifted
        }).drop("__rep")
      }
      val rows = if (sharedTables(name)) df else (0 until rep).map(replica).reduce(_ union _)
      rows.write.mode("overwrite").parquet(s"$dest/$name.parquet")
    }
  }

  /** Every probe row at one scale: each declared query over the fixture
    * in `dir`, sorted by name, then the kept shapes at corpus size `n`
    * (their on-disk fixtures live under `out`). */
  def rows(spark: SparkSession, dir: String, n: Long,
           out: String): Seq[(String, () => Any)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (q, fn) =>
      q -> (() => Sinks.noop(fn(spark, dir)))
    } ++ shapes(spark, n, out)

  /** The kept shapes: each drives an input property the replicated
    * fixture cannot produce. */
  private def shapes(spark: SparkSession, n: Long,
                     out: String): Seq[(String, () => Any)] = Seq(
    // hub skew: ONE hub node joined to n/10 spokes, every edge shares its key
    ("dup_clusters_hub", () => graft.llm.Components.dupClusters(
      spark.range(n).toDF("doc_id"),
      spark.range(n / 10).select(lit(0L).as("a"), (col("id") + 1).as("b"))).count()),
    // chain diameter (chain-of-6 components): the closure's round count
    // (obs) must not move with n
    ("cc_rounds", () => {
      val (comp, rounds) = graft.llm.Components.pairComponentsWithRounds(
        spark.range(n - 1).where(pmod(col("id"), lit(6)) < 5)
          .select(col("id").as("a"), (col("id") + 1).as("b")))
      observe(rounds.toLong)
      comp.count()
    }),
    // an unfolded dedup index tail of n/1000 batches (50 at 10×)
    ("dedup_tail_probe", () => {
      val (idx, corp, b) = dedupTailFixture(spark, out, n, folded = false)
      probeTailRequest(spark, idx, corp, b)
    }),
    // the same document set with the tail folded away
    ("dedup_tail_folded", () => {
      val (idx, corp, b) = dedupTailFixture(spark, out, n, folded = true)
      probeTailRequest(spark, idx, corp, b)
    }),
    // near-unique doubles: Aggs.discreteRankPass's histogram cannot compress
    ("quantile_rank_pass", () => {
      val rows = n * 800
      val df = spark.range(rows).select(
        (pmod(xxhash64(col("id")), lit(10000000)).cast("double") / 10.0).as("x"))
      val rks = Seq(2500L, 5000L, 9000L).map(q => (q * rows + 9999L) / 10000L)
      graft.agg.Aggs.discreteRankPass(df, "x",
        Seq(250000.0, 500000.0, 900000.0), rks).getLong(0)
    }))

  // memo gates read a fixture's meta through its Store: an absent meta
  // and one that does not decode (a run killed between the meta's
  // create and write leaves zero bytes) both take the re-bootstrap
  // branch, never a throw
  private def storedMeta[M](store: Store[M]): Option[M] =
    scala.util.Try(store.meta).toOption.flatten

  private def tailDocs(spark: SparkSession, start: Long, cnt: Long): DataFrame =
    spark.range(start, start + cnt).select(col("id").as("doc_id"),
      array_join(transform(sequence(lit(1), lit(40)),
        i => concat(lit("w"), pmod(xxhash64(col("id"), i), lit(500)))), " ").as("text"))

  // the dedup-tail fixture pair: same document set both ways — unfolded =
  // bucketed 2048-doc base + n/1000 per-batch tail partitions of 4096 docs
  // (built through the real batch path, auto-fold disabled); folded = one
  // bootstrap of ALL the docs (bit-identical to compacting the unfolded
  // index: bootstrap and compaction share Store.writeTier's bucketed
  // tier). nIdxBuckets follows the KV rule on the TOTAL doc count in
  // both, so the folded probe's rows-per-bucket stay constant across n.
  // 4096 docs per batch: at 512 the 1× base sat under the fixed-cost
  // floor and the pair read flat-vs-flat while saying nothing.
  private def dedupTailFixture(spark: SparkSession, out: String, n: Long,
                               folded: Boolean): (String, String, Int) = {
    val batches = (n / 1000L).toInt
    val batchDocs = 4096L
    val nIdxBuckets = math.max(64L, (2048L + batches * batchDocs) / 64L).toInt
    val dir = s"$out/dedup_tail_${if (folded) "f" else "u"}_$n"
    val idx = s"$dir/idx"; val corp = s"$dir/corp"
    val corpReady = storedMeta(Store.CdcSnapshot.at(spark, corp)).isDefined &&
      storedMeta(Store.SignatureIndex.at(spark, idx)).isDefined
    val tailNow = if (corpReady) StreamOps.dedupIndexTailBatches(spark, idx) else -1
    if (!(corpReady && tailNow == (if (folded) 0 else batches))) {
      val path = new org.apache.hadoop.fs.Path(dir)
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(path, true)
      val base = tailDocs(spark, 0L, 2048L)
      StreamOps.bootstrapDedup(
        if (folded) base.unionAll(tailDocs(spark, 100000L, batches * batchDocs)) else base,
        idx, corp, k = 2, bands = 8, rowsPerBand = 2, nBuckets = 16,
        nIdxBuckets = nIdxBuckets)
      if (!folded) for (j <- 0 until batches)
        StreamOps.applyDedupBatch(
          tailDocs(spark, 100000L + j * batchDocs, batchDocs), j, idx, corp,
          k = 2, bands = 8, rowsPerBand = 2, threshold = 0.5,
          nBuckets = 16, idCol = "doc_id", textCol = "text",
          poly = false, nIdxBuckets = nIdxBuckets,
          maxTailBatches = 1000000)
    }
    (idx, corp, nIdxBuckets)
  }

  // the fixed serving request both tail shapes measure: 4 base dups +
  // 4 tail dups + 4 fresh, re-idded so the dup text carries a new id;
  // the sink consumes dup_of (a bare count() would let Catalyst prune
  // the evidence join)
  private def probeTailRequest(spark: SparkSession, idx: String, corp: String,
                               nIdxBuckets: Int): Long = {
    val req = tailDocs(spark, 0L, 4L)
      .select((col("doc_id") + 999000L).as("doc_id"), col("text"))
      .unionAll(tailDocs(spark, 100000L, 4L)
        .select((col("doc_id") + 999100L).as("doc_id"), col("text")))
      .unionAll(tailDocs(spark, 5000000L, 4L))
    StreamOps.probeDedup(req, idx, corp, k = 2, bands = 8, rowsPerBand = 2,
        threshold = 0.5, idCol = "doc_id", textCol = "text", poly = false,
        nIdxBuckets = nIdxBuckets)
      .agg(count(col("dup_of"))).head().getLong(0)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    // optional row-name filter (args 3+): probe just the named rows
    val only = args.drop(2).toSet
    val out = "/tmp/graft_scale"
    val spark = Session.local()

    // BOTH scales are written through the same writer: reading the 1×
    // side from the driver-provided fixture layout conflated file-layout
    // differences (partition count, row-group sizes) with scale behavior
    // — a scan-bound ratio was uninterpretable. `rep = 1` reproduces the
    // fixture content in this session's layout.
    val (dir1, dirN) = (s"$out/x1", s"$out/x$factor")
    replicate(spark, sfDir, 1, dir1)
    replicate(spark, sfDir, factor, dirN)
    val llmBase = 5000L
    val all = rows(spark, dir1, llmBase, out).zip(rows(spark, dirN, llmBase * factor, out))
      .collect { case ((n, f1), (_, fN)) if only.isEmpty || only(n) => (n, f1, fN) }

    def time(f: => Any): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    // Per-row error isolation: one row failing at factor× (the case the
    // probe exists to find) must not abort the run and discard every
    // other measurement — record a -1 sentinel instead (Bench discipline).
    def timeSafe(f: () => Any): Double =
      try time(f()) catch {
        case e: Throwable =>
          System.err.println(s"[scaleprobe] row failed: ${e.getMessage}")
          -1.0
      }
    def warmSafe(f: () => Any): Unit =
      try { f(); () } catch { case _: Throwable => () }
    // warm both paths once (JIT/codegen/parquet footers), then measure —
    // TWICE per row as two separated passes, keeping the min: a single
    // contention spike in a one-shot measurement lands straight in the
    // printed ratio (the BENCH_r03 lesson; CLAUDE.md forbids single-shot)
    all.foreach { case (_, f1, fN) => warmSafe(f1); warmSafe(fN) }
    // each measurement also captures the row's executed shuffle-write and
    // spill bytes (time ratios catch blow-ups but not memory-regime
    // changes — a row that starts spilling at 10× is a scale bug even if
    // the clock still looks linear), the largest single-task stage input,
    // and the optional observable a shape reports via `observe`
    val metrics = new ProbeMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    def measure(f: () => Any): Probe = {
      observed = -1L
      metrics.reset(spark)
      val t = timeSafe(f)
      val (sh, sp, st) = metrics.snapshot(spark)
      Probe(t, sh / 1e6, sp / 1e6, st, observed)
    }
    def pass(): Seq[(Probe, Probe)] =
      all.map { case (_, f1, fN) => (measure(f1), measure(fN)) }
    val (pa, pb) = (pass(), pass())
    // per side keep the faster run's WHOLE record — mixing the min time
    // with the other run's bytes would fabricate a measurement
    def minPos(a: Probe, b: Probe): Probe =
      if (a.sec < 0) b else if (b.sec < 0) a else if (a.sec <= b.sec) a else b
    val results = all.zip(pa.zip(pb)).map { case ((n, _, _), ((a1, aN), (b1, bN))) =>
      val p1 = minPos(a1, b1)
      val pN = minPos(aN, bN)
      val ratio = if (p1.sec > 0 && pN.sec >= 0) pN.sec / p1.sec else -1.0
      val obs = if (p1.obs >= 0 || pN.obs >= 0)
        s""","obs_base":${p1.obs},"obs_x$factor":${pN.obs}""" else ""
      f"""{"shape":"$n","base_sec":${p1.sec}%.2f,"x${factor}_sec":${pN.sec}%.2f,"ratio":$ratio%.1f,""" +
        f""""shuffle_mb_base":${p1.shuffleMb}%.1f,"shuffle_mb_x$factor":${pN.shuffleMb}%.1f,""" +
        f""""spill_mb_base":${p1.spillMb}%.1f,"spill_mb_x$factor":${pN.spillMb}%.1f,""" +
        s""""max_single_task_rows_base":${p1.singleTaskRows},""" +
        s""""max_single_task_rows_x$factor":${pN.singleTaskRows}""" + obs + "}"
    }
    println(results.mkString("[", ",", "]"))
    spark.stop()
  }

  /** One timed invocation's record: seconds, executed shuffle-write MB,
    * spilled MB (memory + disk), the largest single-task stage input in
    * records, and the shape-reported observable (−1 = none). */
  private final case class Probe(sec: Double, shuffleMb: Double,
                                 spillMb: Double, singleTaskRows: Long, obs: Long)

  /** Shape-reported observable for the CURRENT invocation (the CC round
    * count); reset by the harness before each measurement. */
  @volatile private var observed: Long = -1L
  private def observe(n: Long): Unit = observed = n

  /** Sums executed task metrics between resets — shuffle bytes written
    * and bytes spilled — and keeps the largest input-plus-shuffle-read
    * record count of any stage that ran exactly one task (the north-star
    * rule: no single-task stage holds corpus-sized data). */
  private final class ProbeMetricsListener
      extends org.apache.spark.scheduler.SparkListener {
    private val shuffle = new java.util.concurrent.atomic.LongAdder
    private val spill = new java.util.concurrent.atomic.LongAdder
    private val stageRows = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]
    private val singleTaskRows = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shuffle.add(m.shuffleWriteMetrics.bytesWritten)
        spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        stageRows.merge(t.stageId,
          m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead, (a, b) => a + b)
      }
    }
    override def onStageCompleted(
        s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val rows = Option(stageRows.remove(s.stageInfo.stageId)).fold(0L)(_.longValue)
      if (s.stageInfo.numTasks == 1) singleTaskRows.accumulateAndGet(rows, (a, b) => math.max(a, b))
    }
    def reset(spark: SparkSession): Unit = {
      org.apache.spark.sql.graftbridge.ColumnBridge.waitListenerBus(spark)
      shuffle.reset(); spill.reset(); singleTaskRows.set(0L)
    }
    def snapshot(spark: SparkSession): (Long, Long, Long) = {
      org.apache.spark.sql.graftbridge.ColumnBridge.waitListenerBus(spark)
      (shuffle.sum(), spill.sum(), singleTaskRows.get())
    }
  }
}
