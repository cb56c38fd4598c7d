package graft.streaming

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.Cut
import graft.core.Cut.CutOps
import graft.model.Event
import graft.streaming.Store.{AnnMeta, CanonMeta, CdcMeta, IdxMeta}

/** Streaming surface (SURVEY §2.8). The reference's SparkStreaming
  * environment runs the same pipeline ops over DStream micro-batches with
  * no event-time semantics (CITE: integrations/spark/streaming/, recalled
  * path — /root/reference empty). The engine replaces that with Structured
  * Streaming: every function here takes a Dataset that may be batch or
  * streaming (`isStreaming`) and returns the same logical plan for both —
  * batch/stream parity is what the MemoryStream specs assert.
  *
  * Scale notes: windowed aggregations are keyed state — at 100 TB use the
  * RocksDB state store provider and watermarks tight enough to bound state
  * (SURVEY §7.5); all windows below group by (window, key) so state is
  * partitioned by the same keys the shuffle already uses.
  */
object StreamOps {

  /** T1 tumbling window aggregate. `value` carries 2dp amounts — summing
    * in decimal is exact and order-independent, where a double sum's
    * rounding depends on accumulation order (SURVEY §2.9-bis rule 2). */
  def tumbling(events: DataFrame, width: String = "1 hour"): DataFrame =
    events.groupBy(window(col("ts"), width).as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select(col("win.start").as("win_start"), col("event_type"), col("n"), col("total"))

  /** T2 sliding window count. */
  def sliding(events: DataFrame, width: String = "2 hours", slide: String = "1 hour"): DataFrame =
    events.groupBy(window(col("ts"), width, slide).as("win"))
      .agg(count(lit(1)).as("n"))
      .select(col("win.start").as("win_start"), col("n"))

  /** T3 session window per user (gap-based). */
  def sessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events.groupBy(session_window(col("ts"), gap).as("win"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("win.start").as("session_start"), col("n"))

  /** T4 watermarked tumbling agg — the streaming-only form (late data
    * beyond `lateness` is dropped; state is bounded). */
  def tumblingWithWatermark(events: DataFrame, width: String, lateness: String): DataFrame =
    tumbling(events.withWatermark("ts", lateness), width)

  /** Watermarked session windows — the production form of T3: append mode
    * emits a session only once the watermark passes its close, which is
    * what bounds session state at scale (otherwise every open session for
    * every user lives in the store forever). */
  def sessionsWithWatermark(events: DataFrame, gap: String, lateness: String): DataFrame =
    sessions(events.withWatermark("ts", lateness), gap)

  /** Windowed quantile sketch — per-window percentile state that stays
    * CONSTANT-SIZE however many rows land in the window: the
    * [[graft.functions.QuantileSketch]] GK summary as the aggregate,
    * so a streaming dashboard holds kilobytes per open window where a
    * windowed `percentile_disc` would buffer every row. Runs on batch
    * and streaming frames alike (TypedImperativeAggregate partials
    * serialize through the state store); downstream queries the
    * emitted bytes driver-side ([[graft.functions.QuantileSketch.query]])
    * under GK's ±eps·N rank guarantee — merge order may move the
    * VALUE inside the bound, which is why the oracle face gates the
    * rank window, never the bytes. Emits `(win_start, sk, n)`. */
  def windowedQuantileSketch(events: DataFrame, width: String = "1 hour",
                             valueCol: String = "value",
                             relativeError: Double = 0.01): DataFrame =
    events.groupBy(window(col("ts"), width).as("win"))
      .agg(graft.functions.QuantileSketch
          .agg(col(valueCol), relativeError).as("sk"),
        count(lit(1)).as("n"))
      .select(col("win.start").as("win_start"), col("sk"), col("n"))

  /** Stream-stream inner join: pair left and right rows sharing `keyCol`
    * with `right.ts` inside `[left.ts, left.ts + within]`. BOTH sides are
    * watermarked and the join carries an explicit event-time range — that
    * combination is what lets Spark expire buffered join state; a
    * stream-stream join without it grows state forever, which is the
    * 100 TB failure mode. Columns are prefixed `l_`/`r_` so arbitrary
    * same-schema streams (e.g. two slices of `events`) compose. Runs
    * unchanged on batch frames (watermark is a no-op there) — parity
    * asserted in StreamOpsSpec. */
  def streamStreamJoin(left: DataFrame, right: DataFrame,
                       keyCol: String, tsCol: String,
                       lateness: String, within: String): DataFrame = {
    def pref(df: DataFrame, p: String): DataFrame =
      df.select(df.columns.map(c => col(c).as(p + c)): _*)
    val l = pref(left, "l_").withWatermark(s"l_$tsCol", lateness)
    val r = pref(right, "r_").withWatermark(s"r_$tsCol", lateness)
    l.join(r,
      col(s"l_$keyCol") === col(s"r_$keyCol") &&
        col(s"r_$tsCol") >= col(s"l_$tsCol") &&
        col(s"r_$tsCol") <= col(s"l_$tsCol") + expr(s"INTERVAL $within"))
  }

  /** T5a stateful dedup within the watermark horizon. */
  def dedupWithinWatermark(events: DataFrame, lateness: String, keys: Seq[String]): DataFrame =
    events.withWatermark("ts", lateness).dropDuplicatesWithinWatermark(keys)

  /** Continuous-ingest curation — the streaming form of the batch
    * curation gate over a document stream (tsCol timestamp, langCol,
    * textCol, rest passes through): normalize the text (lowercase,
    * whitespace-collapse, trim — so trivially-reformatted copies hash
    * identically), apply [[graft.llm.TextStats.qualityGate]]'s per-rule
    * drop flags, then exact content dedup on `sha2(normalized text)`
    * WITHIN the watermark horizon — `dropDuplicatesWithinWatermark`
    * expires its state with event time, so the dedup map is bounded by
    * arrival rate × lateness, never corpus size. Everything upstream of
    * the dedup is a narrow codegen'd projection (no shuffle per batch
    * beyond the dedup's own state-store exchange).
    *
    * Near-dup pruning (LSH banding needs corpus-global buckets) and
    * stratified caps (per-group totals) stay periodic batch compaction
    * jobs by design — a stream cannot bound that state; see
    * [[graft.llm.Curation.curateFull]] and docs/DEPLOY.md.
    * Streaming-only: `dropDuplicatesWithinWatermark` rejects batch
    * frames by contract — the batch analog of this pass is
    * [[graft.llm.TextStats.normalize]] + [[graft.llm.TextStats.qualityGate]]
    * + [[graft.llm.Dedup.exact]]. */
  def curateStream(docs: DataFrame, lateness: String = "10 minutes",
                   targetLang: String = "en", minTokens: Long = 1,
                   maxTokens: Long = 100000, maxRepetition: Double = 1.0,
                   tsCol: String = "ts", textCol: String = "text",
                   langCol: String = "lang"): DataFrame = {
    require(!docs.columns.contains("content_hash"),
      "curateStream writes a 'content_hash' working column; input already has one — rename it first")
    val normed = docs.withColumn(textCol,
      trim(regexp_replace(lower(col(textCol)), graft.llm.TextStats.WsRun, " ")))
    val hashed = normed.withColumn("content_hash", sha2(col(textCol), 256))
    val gated = graft.llm.TextStats.qualityGate(hashed, targetLang,
        minTokens, maxTokens, maxRepetition,
        textCol = textCol, langCol = langCol)
      .where(col("keep"))
      .drop("fail_lang", "fail_len", "fail_rep", "keep")
    gated.withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("content_hash")
  }

  /** Continuous-ingest incremental dedup — the streaming face of
    * [[graft.llm.Dedup.incrementalExact]]: arriving documents are
    * dropped when their content hash (1) already occurred in the stream
    * within the watermark (`dropDuplicatesWithinWatermark` — bounded
    * state), or (2) exists in the STATIC corpus snapshot, via a
    * stream-static left-anti join on the 32-byte hash. The static side
    * re-resolves per micro-batch against a snapshot the caller keeps
    * stable for the run; joining reduces it to hashes first so the
    * per-batch probe never reads corpus text. Stream-static joins are
    * STATELESS (no watermark cost beyond the dedup's own), so the only
    * state is the within-watermark hash set — arrival-rate × lateness
    * bounded, same contract as [[curateStream]].
    *
    * Ordering caveat by construction: a stream dedups by ARRIVAL (first
    * fetch wins within the watermark), where the batch operator elects
    * min-id; re-run [[graft.llm.Dedup.exact]] at compaction when the
    * election identity matters. */
  def dedupAgainstSnapshot(docs: DataFrame, corpus: DataFrame,
                           lateness: String = "10 minutes",
                           tsCol: String = "ts", textCol: String = "text"): DataFrame = {
    require(!docs.columns.contains("content_hash"),
      "dedupAgainstSnapshot writes a 'content_hash' working column; input already has one — rename it first")
    // no .distinct(): the anti join dedups inherently, and the static
    // side re-resolves EVERY micro-batch — a distinct here would add a
    // corpus-wide shuffle to each one (the r4 probe-side lesson)
    val priorH = corpus
      .select(sha2(col(textCol), 256).as("content_hash"))
    docs.withColumn("content_hash", sha2(col(textCol), 256))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("content_hash")
      .join(priorH, Seq("content_hash"), "left_anti")
  }

  /** Streaming face of [[graft.llm.Curation.ingestDelta]] — continuous
    * crawl acceptance: within-watermark + vs-snapshot dedup
    * ([[dedupAgainstSnapshot]]), then the quality gate, then
    * decontamination against the eval set — all three as NARROW
    * projections/filters after the one stateful dedup, so the plan
    * stays append-mode legal with no extra state.
    *
    * The contamination stage is where streaming differs structurally
    * from batch: a per-doc shingle AGGREGATION would add keyed state,
    * so the benchmark's distinct shingle set (small by contract,
    * `maxBenchShingles` fail-fast) is collected ONCE at plan-build time
    * into an `array_intersect` literal — `contamination_bp` is then a
    * pure per-row expression, bit-identical to the batch operator's
    * round-half-up ratio (spec-pinned: stream survivors == batch
    * [[graft.llm.Curation.ingestDelta]] survivors on the same data).
    * The benchmark is frozen at START, matching the static-snapshot
    * contract of the dedup stage; restart the query to pick up a new
    * eval set. Same arrival-order caveat as [[dedupAgainstSnapshot]]:
    * within a watermark the FIRST fetch wins, not the min id. */
  def ingestStream(docs: DataFrame, corpus: DataFrame, benchmark: DataFrame,
                   minQualityBp: Long, maxContamBp: Long, k: Int = 3,
                   lateness: String = "10 minutes",
                   tsCol: String = "ts", textCol: String = "text",
                   maxBenchShingles: Int = 1 << 20): DataFrame = {
    import graft.functions.WordShingles
    Seq("quality_bp", "contamination_bp").foreach { c =>
      require(!docs.columns.contains(c),
        s"ingestStream writes '$c'; input already has it — rename it first")
    }
    val benchRows = benchmark
      .select(explode(array_distinct(WordShingles(col(textCol), k))).as("sh"))
      .distinct().limit(maxBenchShingles + 1).collect()
    require(benchRows.length <= maxBenchShingles,
      s"benchmark shingle set exceeds maxBenchShingles=$maxBenchShingles — " +
        "decontaminate in the batch compactor (Curation.ingestDelta) instead")
    val benchLit = typedLit(benchRows.map(_.getString(0)).toSeq)
    val sh = array_distinct(WordShingles(col(textCol), k))
    val intDiv = graft.functions.VectorFunctions.intDiv _
    dedupAgainstSnapshot(docs, corpus, lateness, tsCol, textCol)
      .withColumn("quality_bp", graft.llm.TextStats.qualityBp(col(textCol)))
      .where(col("quality_bp") >= minQualityBp)
      .withColumn("contamination_bp", intDiv(
        size(array_intersect(sh, benchLit)).cast("long") * 20000L
          + size(sh).cast("long"),
        size(sh).cast("long") * 2L))
      .where(col("contamination_bp") <= maxContamBp)
  }

  /** Streaming sinks. Durable sinks REQUIRE a checkpoint location — at
    * scale that is the exactly-once contract, not an option. */
  // default 'append': 'complete' is only legal for aggregation queries
  // and crashed this module's own non-aggregating streams (curateStream,
  // dedupWithinWatermark, streamStreamJoin); windowed aggregations pass
  // mode = "complete" explicitly
  def toMemory(df: DataFrame, name: String, mode: String = "append")
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode(mode).start()

  def toParquet(df: DataFrame, path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", path).option("checkpointLocation", checkpoint)
      .outputMode("append").start()

  /** Incremental shard manifest — the streaming RELEASE face of
    * [[graft.llm.Audit.shardManifest]]: as a layout writer streams
    * `(shard_id, pos_in_shard, text)` rows out, each micro-batch's
    * PARTIAL manifest (the batch's per-shard counts, token totals,
    * position range, order-invariant checksum) is appended to
    * `manifestPath`, stamped with the batch id.
    * [[graft.llm.Audit.mergeManifests]] folds the partials into the
    * exact whole-layout manifest — the checksum is an order-invariant
    * DECIMAL(38,0) sum precisely so this fold loses nothing (spec-pinned
    * stream == batch, column for column). The release record thus grows
    * WITH the corpus write instead of requiring a full re-read after it.
    *
    * Contract: slab-per-batch — a batch carries contiguous position
    * runs per shard (any layout streamed in position order does);
    * interleaved writers merge with a conservative `contiguous=false`
    * (see mergeManifests). State: none — each batch aggregates
    * independently onto |its shards| rows; the checkpoint carries only
    * source offsets.
    *
    * Exactly-once mechanism: foreachBatch is AT-LEAST-once (a batch can
    * replay after a crash that wrote but didn't commit the offset), so a
    * plain append would double-count the replayed batch's partials in
    * [[graft.llm.Audit.mergeManifests]] (which folds by shard, not batch
    * id). The sink therefore partitions by `(run_id, batch_id)` and
    * overwrites in DYNAMIC partition-overwrite mode: a replayed batch
    * replaces its own partition and touches nothing else, making the
    * write idempotent per batch id. `run_id` is derived from the
    * CHECKPOINT path — the stream's identity — so it is STABLE across
    * restarts of the same stream (a post-restart replay still lands on
    * its original partition) while two writers sharing one manifestPath
    * under different checkpoints can never overwrite each other's
    * batch-N partials. (Partition columns read back with inferred types;
    * mergeManifests never reads either.) Upgrade note: a manifestPath
    * holding pre-r11 FLAT partials (batch_id as a data column) cannot be
    * mixed with the partitioned layout — point new streams at a fresh
    * directory. */
  def manifestStream(laidOut: DataFrame, manifestPath: String,
                     checkpoint: String, shardCol: String = "shard_id",
                     posCol: String = "pos_in_shard", textCol: String = "text",
                     tokenCount: Option[Column] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val runId = runIdOf(checkpoint)
    laidOut.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        writeManifestPartial(batch.toDF(), batchId, runId, manifestPath,
          shardCol, posCol, textCol, tokenCount)
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** Stable stream identity: the sanitized checkpoint path. Two streams
    * with different checkpoints get different run ids (no cross-writer
    * overwrite); one stream restarted from its checkpoint keeps its id
    * (replay stays idempotent across restarts). */
  private[graft] def runIdOf(checkpoint: String): String = {
    val base = new java.io.File(checkpoint).getAbsolutePath
    // hash ALL the UTF-8 bytes: base.length is the UTF-16 char count,
    // which under-counts for non-ASCII paths and would hash a prefix
    val baseBytes = base.getBytes(StandardCharsets.UTF_8)
    val h = java.lang.Long.toHexString(
      org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
        baseBytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
        baseBytes.length, 42) & 0xffffffffL)
    // keep a readable suffix next to the collision-resistant hash
    val tail = base.replaceAll("[^a-zA-Z0-9]", "_").takeRight(24)
    s"${h}_$tail"
  }

  /** The per-batch manifest write [[manifestStream]] runs — idempotent
    * per `(runId, batchId)` (dynamic partition overwrite), so an
    * at-least-once replay of the same batch leaves one copy.
    * Package-visible so the replay contract is spec-testable without
    * forcing a mid-stream crash. */
  private[graft] def writeManifestPartial(batch: DataFrame, batchId: Long,
                                          runId: String, manifestPath: String,
                                          shardCol: String, posCol: String,
                                          textCol: String,
                                          tokenCount: Option[Column]): Unit = {
    Store.writeKeyed(
      graft.llm.Audit.shardManifest(batch, shardCol, posCol, textCol, tokenCount),
      manifestPath, Seq("run_id" -> lit(runId), "batch_id" -> lit(batchId)))
  }

  final case class DocIn(doc_id: Long, source: String, text: String)
  final case class Admitted(doc_id: Long, source: String,
                            n_tokens: Long, start_offset: Long)

  /** Streaming token-budget admission — the continuous-ingest face of
    * [[graft.llm.Sampling.tokenBudget]]: admit arriving documents per
    * stratum until the stratum's cumulative token count reaches
    * `budgetTokens`, carrying ONE Long of state per stratum (the
    * consumed-token counter — state is |strata|-bounded, no timeout
    * needed). The start-offset discipline holds exactly: a document is
    * admitted iff the stratum's consumed count BEFORE it is under
    * budget, so the straddling document is kept and overshoot is less
    * than one document — byte-identical to the batch operator's rule.
    *
    * Ordering caveat (the [[dedupAgainstSnapshot]] class): the batch
    * operator takes the greedy prefix in shuffleHash order; a stream
    * admits in ARRIVAL order (within a micro-batch, ties broken by
    * doc_id for determinism). The admitted SET therefore differs from
    * the batch set whenever arrival order isn't the lattice order —
    * run the batch operator for retrospective corrections; use this for
    * the live admission gate. Token metric: [[graft.llm.TextStats.WsRun]]
    * split, matching the batch default.
    *
    * Memory bound: within-batch doc_id ordering materializes ONE
    * stratum's micro-batch slice in the task (the sort buffer) — an
    * exhausted stratum short-circuits and streams, but an open stratum's
    * per-trigger memory is O(its rows in the trigger). Cap the trigger
    * (`maxOffsetsPerTrigger` / rate limit) so a single stratum's slice
    * fits executor memory; state itself stays one Long per stratum. */
  def budgetAdmission(docs: Dataset[DocIn], budgetTokens: Long): Dataset[Admitted] = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    import docs.sparkSession.implicits._
    val wsRun = graft.llm.TextStats.WsRun
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[Long, Admitted](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src: String, it: Iterator[DocIn], state: GroupState[Long]) =>
          var consumed = state.getOption.getOrElse(0L)
          val out = Seq.newBuilder[Admitted]
          // exhausted stratum: drain without buffering (no sort needed —
          // nothing can be admitted), keeping the task memory flat
          val ordered =
            if (consumed >= budgetTokens) Iterator.empty
            // within-batch determinism: micro-batch iteration order is not
            // guaranteed — admit in doc_id order (buffers this stratum's
            // slice of the trigger; see the scaladoc memory bound)
            else it.toSeq.sortBy(_.doc_id).iterator
          ordered.foreach { d =>
            if (consumed < budgetTokens) {
              val nt = if (d.text == null) 0L
                else d.text.split(wsRun, -1).length.toLong
              out += Admitted(d.doc_id, src, nt, consumed)
              consumed += nt
            }
          }
          state.update(consumed)
          out.result().iterator
      }
  }

  final case class FunnelEv(user_id: Long, ts_us: Long, tie: Long, tp: String)
  final case class FunnelProgress(user_id: Long, steps_completed: Long,
                                  completed_ts_us: Option[Long])

  /** Streaming funnel — the live twin of [[graft.relational.Funnel]]:
    * the same greedy-earliest per-user fold, run as a keyed state
    * machine via `transformWithState` (the arbitrary-state v2 API —
    * two Longs of `ValueState` per user: current step index + last
    * matched timestamp, NEVER the event list). Each trigger advances
    * every touched user's state over its new events (sorted
    * (ts, event_id) within the trigger — micro-batch iteration order is
    * not guaranteed) and emits the user's updated depth row.
    *
    * Ordering caveat, the [[budgetAdmission]] class: greedy-earliest is
    * an in-order fold, so an event arriving in a LATER trigger with an
    * EARLIER timestamp than one already folded cannot retro-advance the
    * state — across-trigger correctness requires per-user
    * monotonically-ordered arrival (true of per-key ordered sources;
    * replay the batch operator at compaction when it isn't). Within one
    * trigger — and therefore in BATCH execution, where each user's
    * whole history is one group — the fold is EXACTLY
    * [[graft.relational.Funnel.funnel]], which is what lets the
    * declared query face carry op_funnel's oracle (spec-pinned).
    *
    * State at 100 TB: |users| × 2 longs under the RocksDB provider —
    * streaming queries must set
    * `spark.sql.streaming.stateStore.providerClass` to the RocksDB
    * provider (transformWithState requires it; batch execution does
    * not). No TTL by default: a funnel dashboard's users stay
    * addressable; pass the store a TTL'd variant at deployment if
    * abandonment expiry is wanted. */
  def funnelStream(events: Dataset[Event], steps: Seq[String],
                   maxGapUs: Long): Dataset[FunnelProgress] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size,
      s"duplicate steps not supported (greedy state is a single index): $steps")
    require(maxGapUs > 0, s"maxGapUs must be positive, got $maxGapUs")
    import events.sparkSession.implicits._
    // batch execution loads a real (ephemeral) state store and needs
    // the coordinator endpoint streaming queries create lazily
    org.apache.spark.sql.graftbridge.ColumnBridge
      .ensureStateStoreCoordinator(events.sparkSession)
    events
      .map(e => FunnelEv(e.user_id,
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(e.ts),
        e.event_id, e.event_type))
      .groupByKey(_.user_id)
      .transformWithState(
        new FunnelProcessor(steps.toIndexedSeq, maxGapUs),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Append())
  }

  /** The keyed state machine behind [[funnelStream]] — top-level (not a
    * closure) because `StatefulProcessor` instances are serialized to
    * tasks. State layout matches the batch fold's accumulator struct
    * `(k, ts)` field for field. */
  private[graft] final class FunnelProcessor(steps: IndexedSeq[String],
                                             maxGapUs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, FunnelEv, FunnelProgress] {

    @transient private var st:
      org.apache.spark.sql.streaming.ValueState[(Int, Long)] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      st = getHandle.getValueState[(Int, Long)]("funnel_state",
        org.apache.spark.sql.Encoders.product[(Int, Long)],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[FunnelEv],
                                 tv: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[FunnelProgress] = {
      var (k, last) = Option(st.get()).getOrElse((0, 0L))
      val n = steps.length
      rows.toSeq.sortBy(e => (e.ts_us, e.tie)).foreach { e =>
        if (k < n && e.tp == steps(k) &&
            (k == 0 || e.ts_us - last <= maxGapUs)) {
          k += 1
          last = e.ts_us
        }
      }
      st.update((k, last))
      Iterator.single(FunnelProgress(user, k.toLong,
        if (k == n) Some(last) else None))
    }
  }

  // ---- streaming CDC (r16): a changelog stream maintains a snapshot ----

  /** Bucket partition column of the stored snapshot layout. */
  val CdcBucketCol = "__cdc_bucket"

  private def cdcBucket(keyCols: Seq[String], nBuckets: Int): Column =
    pmod(xxhash64(keyCols.map(col): _*), lit(nBuckets)).cast("int")

  /** Drop a store's ownership claim WITHOUT rewriting the store — the
    * explicit recovery for (a) an orphaned claim after a store was
    * deleted and rebuilt out-of-band (the canonical-edge store has no
    * rewriting bootstrap API, so this is its only takeover path) and
    * (b) a TORN claim (zero-byte sidecar from a claim attempt that
    * crashed between create and write — [[Store.claimOwnership]]
    * refuses everyone until it is cleared, because nobody can prove the
    * torn claim is theirs). Run with EVERY stream on the store stopped:
    * this helper removes the race protection; the next batch re-claims
    * atomically. Fails loudly when there was no claim at `storePath`. */
  def releaseStoreClaim(spark: org.apache.spark.sql.SparkSession,
                        storePath: String): Unit =
    Store.releaseClaim(spark, storePath)

  /** Every MUTATING op refuses a retained time-travel base: its rows
    * AND its tombstones reproduce history for [[readAsOf]]; any write
    * (a merge, a compaction's tombstone GC, even a schema evolve)
    * would silently change what a historical read returns. */
  private def requireNotRetained(meta: Option[CdcMeta], path: String,
                                 op: String): Unit =
    meta.flatMap(_.retained).foreach { v =>
      throw new IllegalArgumentException(
        s"$op: snapshot at $path is a RETAINED time-travel base " +
          s"(retained=$v) — frozen by retainSnapshot; its rows and " +
          "tombstones are load-bearing for readAsOf over the changelog " +
          "recorded since it. Mutate the LIVE snapshot and re-retain " +
          "instead.")
    }

  /** Write a versioned snapshot ([[graft.relational.Cdc.bootstrap]]) in
    * the key-hash-bucketed layout [[cdcStream]] maintains — the initial
    * load every CDC deployment does before tailing the log. A full
    * static rewrite is an OWNERSHIP RESET: any stored writer pin is
    * cleared (pass `writer` to set one), so this is also the takeover
    * path after a stream's checkpoint — and with it its derived writer
    * id — is lost ([[repinCdcSnapshot]] re-pins without the rewrite). */
  def writeCdcSnapshot(versioned: DataFrame, snapshotPath: String,
                       keyCols: Seq[String], nBuckets: Int = 64,
                       writer: Option[String] = None): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val snap = Store.CdcSnapshot.at(versioned.sparkSession, snapshotPath)
    snap.meta.foreach { parsed =>
      requireNotRetained(Some(parsed), snapshotPath, "writeCdcSnapshot")
      require(parsed.nBuckets == nBuckets,
        s"snapshot at $snapshotPath is laid out with " +
          s"nBuckets=${parsed.nBuckets}; " +
          s"rewriting it with nBuckets=$nBuckets would strand rows in " +
          "stale buckets — delete the snapshot AND its meta sidecar to " +
          "relayout")
    }
    snap.write(versioned, cdcBucket(keyCols, nBuckets), dynamic = false)
    // a full static rewrite carries the frame's own schema — it IS the
    // layout now (a prior evolved-ahead meta schema is materialized or
    // replaced by what was just written); OWNERSHIP resets to the
    // caller's (None = unowned — the next stream's first batch claims
    // it atomically), both in the meta record and the claim sidecar
    snap.writeMeta(CdcMeta(nBuckets, Some(versioned.schema), writer, None))
    snap.resetClaim(writer)
  }

  /** Re-pin (or unpin) the snapshot's writer WITHOUT a rewrite — the
    * explicit takeover path when a stream's checkpoint (and with it the
    * derived writer id) is lost: point the NEW stream's checkpoint here
    * to compute the id it will present, or pass None to let the next
    * stream's first batch claim the pin. Refuses retained bases. Run
    * with the old stream STOPPED — this helper replaces the pin, it
    * cannot stop a live writer. */
  def repinCdcSnapshot(spark: org.apache.spark.sql.SparkSession,
                       snapshotPath: String, checkpoint: Option[String])
      : Unit = {
    val snap = Store.CdcSnapshot.at(spark, snapshotPath)
    val (meta, dirs) = snap.openExisting(
      "re-pin an EXISTING maintained snapshot")
    requireNotRetained(Some(meta), snapshotPath, "repinCdcSnapshot")
    val writer = checkpoint.map(writerIdFor)
    snap.writeMeta(CdcMeta(meta.nBuckets,
      Some(snap.schema(Some(meta), dirs)), writer, None))
    snap.resetClaim(writer)
  }

  /** The maintained snapshot, versioned face (internal columns intact —
    * [[graft.relational.Cdc.publicSnapshot]] strips them). Reads under
    * the meta's LOGICAL schema when present, so columns added by
    * [[evolveCdcSnapshot]] surface (null over pre-evolution rows); a
    * pre-meta or schema-less layout reads under one bucket file's
    * footer. */
  def readCdcSnapshot(spark: org.apache.spark.sql.SparkSession,
                      snapshotPath: String): DataFrame = {
    val snap = Store.CdcSnapshot.at(spark, snapshotPath)
    snap.readAll(snap.meta)
  }

  /** Additive schema evolution of a maintained snapshot — O(1), no
    * data movement: the new nullable payload columns are appended to
    * the layout meta's LOGICAL schema; every reader and the sink's
    * merge pass that schema explicitly, so rows written before the
    * evolution read as NULL and a changelog may carry the column from
    * the next batch on. (Without the meta schema this would be
    * impossible to do safely: schema inference over mixed-generation
    * bucket files picks ONE footer, and picking a pre-evolution file
    * would silently drop the new column from evolved buckets.)
    *
    * STRICT from the moment of evolution: [[graft.relational.Cdc]]'s
    * merges require the changelog to carry every payload column, so
    * evolve the snapshot and the upstream producer together (a
    * transitional batch can select an explicit NULL column). Dropping
    * or retyping columns is NOT supported — that is a rewrite
    * ([[compactCdcSnapshot]] materializes the evolved schema into the
    * files as a by-product of its full rewrite). */
  def evolveCdcSnapshot(spark: org.apache.spark.sql.SparkSession,
                        snapshotPath: String,
                        newCols: Seq[(String, org.apache.spark.sql.types.DataType)])
      : Unit = {
    import org.apache.spark.sql.types.{StructField, StructType}
    require(newCols.nonEmpty, "evolveCdcSnapshot needs at least one column")
    require(newCols.map(_._1).distinct.size == newCols.size,
      s"duplicate new column names: ${newCols.map(_._1).mkString(", ")}")
    val snap = Store.CdcSnapshot.at(spark, snapshotPath)
    val (meta, dirs) = snap.openExisting("evolve an EXISTING " +
      "maintained snapshot (bootstrap through writeCdcSnapshot first)")
    requireNotRetained(Some(meta), snapshotPath, "evolveCdcSnapshot")
    val current = snap.schema(Some(meta), dirs)
    val clash = newCols.map(_._1)
      .filter(n => current.fieldNames.contains(n) || n == CdcBucketCol)
    require(clash.isEmpty,
      s"columns already exist in the snapshot layout: ${clash.mkString(", ")}")
    // new payload columns go BEFORE the internal columns, keeping the
    // key ++ payload ++ internal order the merges emit
    val (payload, internal) = current.fields.partition(f =>
      f.name != graft.relational.Cdc.VersionCol &&
        f.name != graft.relational.Cdc.DeletedCol)
    val evolved = StructType(
      payload ++ newCols.map { case (n, t) => StructField(n, t, nullable = true) }
        ++ internal)
    // the writer pin survives evolution — evolve changes the logical
    // schema, never the store's ownership. Re-read the meta immediately
    // before writing (the applyCdcBatch closing-write discipline, r18
    // self-review): a batch's closing write or a first-batch pin claim
    // landing between our entry read and here must not be erased by
    // writing back the STALE pin/schema — the union keeps both sides'
    // additive columns and the freshest pin wins.
    val fresh = snap.meta
    snap.writeMeta(CdcMeta(meta.nBuckets,
      Some(unionAdditiveSchema(evolved, fresh.flatMap(_.schema))),
      fresh.flatMap(_.writer).orElse(meta.writer), None))
  }

  /** Merge-on-read (r17, the round-16 top ask): the LATEST public state
    * — maintained snapshot plus a changelog `tail` the sink has not
    * applied yet. Between two micro-batches the snapshot is stale by
    * exactly the tail; every CDC deployment's read path wants
    * read-your-writes over it without waiting for the next sink batch.
    *
    * Semantics: `Cdc.publicSnapshot(Cdc.mergeVersioned(snapshot, tail))`
    * — the sink's own merge, so version memory and tombstones behave
    * identically to waiting for the batch (spec-pinned parity with
    * [[applyCdcBatch]]).
    *
    * Scale shape (the applyCdcBatch pruning, read-side): only the
    * buckets the tail's keys hash into flow through the full-outer
    * MERGE — one tail key-hash exchange + the touched buckets, read by
    * constructed dir name (path-level pruning: the merge leg never
    * lists the rest of the snapshot). The untouched buckets
    * union in as a plain scan + tombstone filter: no exchange, no
    * join — a tail touching k of nBuckets buckets
    * pays merge I/O on k/nBuckets of the snapshot, never all of it.
    * The tail is consumed twice (bucket discovery + merge input) —
    * cut a derived tail with `localCheckpoint` if its lineage is
    * expensive, same as the sink's contract.
    *
    * `nBuckets` comes from the snapshot's own meta — the reader must
    * match the writer's layout, never guess it (a wrong bucket count
    * would prune wrong and silently drop the tail's effect on unpruned
    * keys). A snapshot without meta (crashed first write) fails loudly;
    * bootstrap through [[writeCdcSnapshot]] first. */
  def readLatest(spark: org.apache.spark.sql.SparkSession,
                 snapshotPath: String, tail: DataFrame,
                 keyCols: Seq[String], versionCol: String = "version",
                 opCol: String = "op"): DataFrame = {
    import graft.relational.Cdc
    val (touched, untouched, aligned) =
      splitByTailBuckets(spark, snapshotPath, tail, keyCols, "readLatest")
    Cdc.publicSnapshot(
        Cdc.mergeVersioned(touched, aligned, keyCols, versionCol, opCol))
      .unionByName(Cdc.publicSnapshot(untouched))
  }

  /** Time travel over a RETAINED snapshot (r17, the round-16 stretch
    * ask): the live state AS OF `asOfVersion` =
    * [[graft.relational.Cdc.asOf]] with the tail's key-hash buckets
    * pruning the snapshot read — [[readLatest]]'s shape with the tail
    * version-filtered FIRST, so only keys changed at or below
    * `asOfVersion` pull their buckets through the full-outer merge.
    *
    * The stored snapshot must have been retained at or below
    * `asOfVersion` (the bootstrap, or a copy taken before the
    * maintained snapshot advanced) — a base row applied above it
    * raises in-plan on BOTH legs, touched and untouched alike (a
    * future-versioned row in an untouched bucket is just as
    * unreconstructible). Changelog retention and the compaction-horizon
    * interplay are [[graft.relational.Cdc.asOf]]'s contract. */
  def readAsOf(spark: org.apache.spark.sql.SparkSession,
               snapshotPath: String, tail: DataFrame, asOfVersion: Long,
               keyCols: Seq[String], versionCol: String = "version",
               opCol: String = "op"): DataFrame = {
    import graft.relational.Cdc
    // filter BEFORE bucket discovery: a key changed only above
    // asOfVersion must not pull its bucket through the merge
    val visible = tail.where(col(versionCol).cast("long") <= asOfVersion)
    val (touched, untouched, aligned) =
      splitByTailBuckets(spark, snapshotPath, visible, keyCols, "readAsOf")
    // untouched leg: guard and tombstone filter FUSED into one
    // predicate (Cdc.publicAtOrBelow) — stacked, the plain !deleted
    // filter pushes into the scan below the raise_error guard and a
    // delete-only-advanced snapshot reads silently wrong (r18 fix)
    Cdc.asOf(touched, aligned, asOfVersion, keyCols, versionCol, opCol)
      .unionByName(Cdc.publicAtOrBelow(untouched, asOfVersion))
  }

  /** Point lookup (r18, the r17 "what's missing #4"): the LATEST state
    * of a BOUNDED key set — the serving query a CDC deployment runs
    * per-request, which must never pay [[readLatest]]'s full-snapshot
    * union. `keys` carries exactly the key columns (request-sized by
    * contract — it is broadcast); `tail` is the un-applied changelog,
    * as in [[readLatest]].
    *
    * Semantics: [[readLatest]] semi-filtered to `keys` — same merge,
    * same version memory and tombstones (a deleted or never-seen key
    * returns no row). Scale shape: ONLY the buckets the requested
    * keys hash into are read (by constructed dir name — ≤ |keys|
    * dirs, never the snapshot), semi-joined to the broadcast key set;
    * the tail is semi-filtered the same way. No untouched leg at all
    * — that is the point. */
  def readKeys(spark: org.apache.spark.sql.SparkSession,
               snapshotPath: String, keys: DataFrame, tail: DataFrame,
               keyCols: Seq[String], versionCol: String = "version",
               opCol: String = "op"): DataFrame = {
    import graft.relational.Cdc
    val wanted = keys.select(keyCols.map(col): _*)
    val (touched, _, alignedKeys) =
      splitByTailBuckets(spark, snapshotPath, wanted, keyCols, "readKeys",
        withUntouched = false)
    // align the TAIL's key dtypes to the stored layout too (r19, the
    // r18 advice): splitByTailBuckets aligned only `keys`; an int-keyed
    // tail against a long-keyed layout worked only through implicit
    // join-key coercion, diverging from the stated xxhash64(int) !=
    // xxhash64(long) discipline (touched carries the stored schema)
    val alignedTail = keyCols.foldLeft(tail) { (b, k) =>
      b.withColumn(k, col(k).cast(touched.schema(k).dataType))
    }
    // request-sized by contract, and past any caller checkpoint the
    // frame has no stats (the LogicalRDD rule) — broadcast explicitly
    val keySet = broadcast(alignedKeys)
    Cdc.publicSnapshot(Cdc.mergeVersioned(
      touched.join(keySet, keyCols, "left_semi"),
      alignedTail.join(keySet, keyCols, "left_semi"),
      keyCols, versionCol, opCol))
  }

  /** The merge-on-read bucket split shared by [[readLatest]],
    * [[readAsOf]] and [[readKeys]]: the stored snapshot partitioned
    * into the buckets the tail's keys hash into (these flow through
    * the merge, read by constructed dir NAME — pruning at the path
    * level, so the touched leg never even lists the rest of the
    * snapshot) and the rest (a plain scan — no exchange, no join).
    * Returns (touched, untouched, dtype-aligned tail). `nBuckets` and
    * the logical schema come from the snapshot's own meta — the
    * reader must match the writer's layout, never guess it (a wrong
    * bucket count would prune wrong and silently drop the tail's
    * effect on unpruned keys). The tail is consumed twice (bucket
    * discovery + merge input) — cut a derived tail (`Cut.lazyCut`) if
    * its lineage is expensive.
    *
    * `withUntouched = false` skips CONSTRUCTING the untouched-leg frame
    * (an empty schema-carrying placeholder is returned instead):
    * building a DataFrame over the untouched dirs pays a driver-side
    * file listing that grows with the snapshot even if the frame is
    * never executed — the r18 cdc_point_lookup probe measured readKeys
    * 2.8× at 10× snapshot from exactly this before the flag (fixed:
    * ~flat). Pass false whenever the caller discards the leg. */
  private def splitByTailBuckets(spark: org.apache.spark.sql.SparkSession,
                                 snapshotPath: String, tail: DataFrame,
                                 keyCols: Seq[String], caller: String,
                                 withUntouched: Boolean = true)
      : (DataFrame, DataFrame, DataFrame) = {
    val layout = cdcLayout(spark, snapshotPath, caller)
    // align tail KEY dtypes to the stored snapshot's before hashing —
    // the applyCdcBatch rule (xxhash64(int) != xxhash64(long))
    val aligned = keyCols.foldLeft(tail) { (b, k) =>
      b.withColumn(k, col(k).cast(layout.schema(k).dataType))
    }
    // touched buckets: bounded by nBuckets, so the collect is too
    val changed = aligned
      .select(cdcBucket(keyCols, layout.nBuckets).as("b")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    (layout.read(changed),
      layout.read(if (withUntouched)
        (0 until layout.nBuckets).filterNot(changed.toSet) else Nil),
      aligned)
  }

  /** What a reader of an existing snapshot needs of its layout: the
    * bucket count, the bucket dirs (one root listing) and the logical
    * schema — from the snapshot's own meta, never guessed. */
  private final case class CdcLayout(snap: Store[CdcMeta], nBuckets: Int,
                                     dirs: Array[String],
                                     schema: org.apache.spark.sql.types.StructType) {
    /** The stored bucket of one key column `key` named `keyCol`, cast to
      * the stored dtype first (xxhash64(int) != xxhash64(long)). */
    def bucketOf(key: Column, keyCol: String): Column =
      pmod(xxhash64(key.cast(schema(keyCol).dataType)), lit(nBuckets)).cast("int")

    /** The rows of `buckets`: only the dirs that exist are read. */
    def read(buckets: Seq[Int]): DataFrame = snap.read(schema, dirs, buckets)
  }

  private def cdcLayout(spark: org.apache.spark.sql.SparkSession,
                        snapshotPath: String, caller: String): CdcLayout = {
    val snap = Store.CdcSnapshot.at(spark, snapshotPath)
    val (meta, dirs) = snap.openExisting(
      s"$caller must match the writer's bucket layout, never guess it; " +
        "bootstrap the snapshot through writeCdcSnapshot (or let the " +
        "stream's first batch land) before reading through it")
    CdcLayout(snap, meta.nBuckets, dirs, snap.schema(Some(meta), dirs))
  }

  /** In-place tombstone GC of a maintained snapshot
    * ([[graft.relational.Cdc.compact]] over the sink's bucket layout):
    * the surviving rows are eager-checkpointed before the rewrite —
    * `compact` returns a LAZY frame over the very files the rewrite
    * replaces, so writing it back directly reads deleted files
    * mid-job. Full static overwrite, since compaction may empty
    * buckets that dynamic mode would leave behind.
    *
    * READER contract (r19): writers are pinned; readers deliberately
    * are not (serving reads must not take a lock). A [[readLatest]]/
    * [[readKeys]]/[[readAsOf]] frame captures the file list at
    * construction, so one racing this overwrite fails LOUDLY
    * (FILE_NOT_EXIST / FAILED_READ_FILE — spec-pinned, never silently
    * wrong rows); the reader's retry is to reconstruct the frame.
    * Deployments that cannot retry should quiesce reads around the
    * compaction cadence, or serve historical reads from a retained
    * copy (immutable by the mutation-refusal contract). */
  def compactCdcSnapshot(spark: org.apache.spark.sql.SparkSession,
                         snapshotPath: String, horizon: Long,
                         keyCols: Seq[String],
                         ownerCheckpoint: Option[String] = None): Unit = Cut.scope {
    val snap = Store.CdcSnapshot.at(spark, snapshotPath)
    val meta = snap.meta.getOrElse(throw snap.missing("compact an " +
      "EXISTING maintained snapshot (the meta owns the bucket layout)"))
    // a RETAINED base refuses compaction outright (not just a horizon
    // check): its tombstones must out-rank whatever RECORDED sub-horizon
    // versions the changelog segment it replays may carry, and nothing
    // here can see that segment's floor — compact the LIVE snapshot
    // (whose writer horizon covers in-flight changes) and re-retain
    requireNotRetained(Some(meta), snapshotPath, "compactCdcSnapshot")
    // the writer pin gates compaction too (r18 self-review): this is a
    // read-compact-overwrite, the exact shape the pin exists to police —
    // a compaction racing a live batch would overwrite the batch's
    // committed keys with the pre-batch state, permanently (the stream's
    // checkpoint has advanced). A pinned store demands the OWNER's
    // checkpoint path as an explicit ownership assertion; run it with
    // the stream STOPPED — the assertion is who may compact, the
    // quiescence is still the operator's contract.
    snap.requireOwner(meta.writer, ownerCheckpoint.map(writerIdFor),
      "compactCdcSnapshot")
    val owner = snap.owner(meta.writer)
    val cut = graft.relational.Cdc
      .compact(readCdcSnapshot(spark, snapshotPath), horizon)
      .cutNow()
    // compaction is maintenance, not takeover — OWNERSHIP survives: the
    // rewrite re-records the EFFECTIVE owner (claim-first — writing
    // back meta.writer alone would downgrade a store whose claim landed
    // but whose first meta write did not, r19 self-review), and the
    // bucket layout comes from the meta (never re-supplied)
    writeCdcSnapshot(cut, snapshotPath, keyCols, meta.nBuckets, owner)
  }

  /** Retain the maintained snapshot as a FROZEN time-travel base
    * (r18, closing [[readAsOf]]'s documented retention contract with
    * an engine-owned artifact): copies every bucket dir byte-for-byte
    * and marks the copy `retained=<v>` where `v` is the highest
    * version applied to the snapshot — the copy can then serve
    * [[readAsOf]] for any `asOfVersion >= v` given the changelog
    * recorded since. Returns `(retainedPath, v)`.
    *
    * The mark has mechanical teeth: every mutating op
    * ([[applyCdcBatch]]/[[writeCdcSnapshot]]/[[compactCdcSnapshot]]/
    * [[evolveCdcSnapshot]]) REFUSES a retained base — in particular
    * compaction, whose tombstone GC would let a recorded sub-horizon
    * 'U' in the replayed segment silently resurrect a deleted key
    * (the [[graft.relational.Cdc.asOf]] interplay, now enforced
    * rather than documented). Want a compacted base? Compact the
    * LIVE snapshot (its horizon is the writer's in-flight guarantee)
    * and re-retain. The copy carries no writer pin — nothing may
    * ever write it.
    *
    * Run against a QUIESCED snapshot (stream stopped or between
    * batches): the copy is per-file, not transactional, and a
    * concurrent batch's dynamic overwrite could tear it. A PINNED
    * snapshot therefore demands the owner's checkpoint path
    * (`ownerCheckpoint`) as an explicit ownership assertion, the
    * [[compactCdcSnapshot]] rule (r19, the r18 advice): a retention
    * run racing a live batch mid-overwrite would silently freeze a
    * TORN copy and trust it as history. Cost: one narrow max-version
    * scan + a byte copy of the snapshot — an admin op, not a
    * per-batch one. Default target: `<snapshotPath>.retained/v=<v>`. */
  def retainSnapshot(spark: org.apache.spark.sql.SparkSession,
                     snapshotPath: String,
                     retainedPath: Option[String] = None,
                     ownerCheckpoint: Option[String] = None): (String, Long) = {
    val snap = Store.CdcSnapshot.at(spark, snapshotPath)
    val (meta, dirs) = snap.openExisting("retain an EXISTING maintained " +
      "snapshot (bootstrap through writeCdcSnapshot or let the stream's " +
      "first batch land)")
    snap.requireOwner(meta.writer, ownerCheckpoint.map(writerIdFor),
      "retainSnapshot")
    val storedSchema = snap.schema(Some(meta), dirs)
    // the copy's serving floor: the highest version applied (narrow
    // column scan — version only, parquet-pruned)
    val v = snap.readAll(Some(meta), dirs)
      .agg(max(col(graft.relational.Cdc.VersionCol)).cast("long"))
      .head().getLong(0)
    val target = retainedPath.getOrElse(s"$snapshotPath.retained/v=$v")
    val copy = Store.CdcSnapshot.at(spark, target)
    val dstRoot = new org.apache.hadoop.fs.Path(target)
    if (copy.fs.exists(dstRoot) && copy.fs.listStatus(dstRoot).nonEmpty) {
      // the meta is written LAST, so files-without-meta = a prior
      // retention crashed mid-copy: invisible to readers, safe to clear
      // and redo (the default target is deterministic — refusing would
      // brick it forever, r18 self-review). Files WITH meta = a
      // completed retention; never mix two copies' files.
      require(copy.meta.isEmpty,
        s"retention target $target already holds a COMPLETED retained " +
          "copy — refusing to overwrite history; pick a fresh target")
      copy.remove()
    }
    snap.copyInto(copy, dirs)
    copy.writeMeta(CdcMeta(meta.nBuckets, Some(storedSchema), None, Some(v)))
    (target, v)
  }

  /** Enumerate a snapshot's COMPLETED retained time-travel copies
    * (r19, the r18 verdict ask 4 — before this, old frozen copies
    * accumulated invisibly to everything but `ls`): every completed
    * copy under the default target family `<snapshotPath>.retained/`,
    * as `(path, retained version)`, version-ascending. Torn copies
    * (files without meta — a crashed retention) are NOT listed: they
    * are invisible to readers and self-heal when that retention is
    * re-run. Copies retained to explicit custom targets live outside
    * this family; track those paths yourself. */
  def listRetained(spark: org.apache.spark.sql.SparkSession,
                   snapshotPath: String): Seq[(String, Long)] = {
    val root = new org.apache.hadoop.fs.Path(snapshotPath + ".retained")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).filter(_.isDirectory).toSeq
      .flatMap { d =>
        // the FULL path string (scheme included): toUri.getPath would
        // strip the filesystem and a non-default-FS snapshot's copies
        // would resolve against the wrong store downstream (the
        // applyCanonBatch two-scheme rule, r19 self-review)
        val p = d.getPath.toString
        Store.CdcSnapshot.at(spark, p).meta
          .flatMap(_.retained).map(v => (p, v))
      }
      .sortBy(_._2)
  }

  /** GC one retained copy — the other half of the retention lifecycle
    * ([[retainSnapshot]] freezes; this reclaims). Refuses any path that
    * is not a COMPLETED retained copy (its meta must carry the
    * `retained=` mark): the live snapshot, an arbitrary directory, and
    * a torn copy all bounce — a torn copy clears by re-running its
    * retention. Dropping a copy ends time travel for `asOfVersion >=
    * its floor` through IT; make sure no reader depends on it (the
    * deployment's retention-window policy — see DEPLOY.md). */
  def dropRetained(spark: org.apache.spark.sql.SparkSession,
                   retainedPath: String): Unit = {
    val copy = Store.CdcSnapshot.at(spark, retainedPath)
    require(copy.meta.exists(_.retained.isDefined),
      s"$retainedPath is not a completed retained copy (no retained= " +
        "mark in its meta) — dropRetained never touches a live " +
        "snapshot or an arbitrary directory; a torn copy (files " +
        "without meta) is cleared by re-running retainSnapshot at " +
        "that target")
    copy.remove()
  }

  /** Maintain a snapshot from a changelog STREAM — `Cdc.upsert`
    * composed with foreachBatch (the r11 manifestStream sink family):
    * each micro-batch MERGEs into the bucketed snapshot via
    * [[graft.relational.Cdc.mergeVersioned]] and dynamic-partition-
    * overwrites ONLY the buckets its keys touch.
    *
    * At-least-once replay: manifest partials are per-batch FACTS, so
    * that sink gets idempotency from batch-keyed partitions; a snapshot
    * is CONVERGENT STATE, so this one gets it from the merge itself —
    * a change wins at version `>=` the applied version, making a
    * replayed batch (same keys, same versions, same payloads) a fixed
    * point of the merge (spec-pinned by double-applying a batch).
    * That fixed-point argument REQUIRES per-key version uniqueness
    * (the changelog's `(key, version)` contract — see
    * [[graft.relational.Cdc.mergeVersioned]]): two distinct changes to
    * one key at one version are last-applied-wins across batches, and
    * a replay of the older batch would flip the payload.
    * Cross-batch ordering: the snapshot remembers each key's applied
    * version and keeps DELETE tombstones, so a late lower-version
    * change loses even across micro-batch boundaries — semantics a
    * per-batch `Cdc.upsert` alone cannot provide.
    *
    * Scale shape: one changelog key-hash exchange (latest-per-key
    * window) + the snapshot side read PRUNED to changed buckets
    * (partition filter on `__cdc_bucket`) — a batch touching k of
    * `nBuckets` buckets reads and rewrites k/nBuckets of the snapshot,
    * never all of it. Size `nBuckets` so one bucket ≪ executor memory
    * at the deployment's snapshot size. The merged buckets are
    * eager-checkpointed before the write (the engine cannot overwrite a
    * path its plan is reading; blocks released in the same batch), so
    * per-batch memory is changed-bucket-bounded. The parquet-dir +
    * dynamic-overwrite layout stands in for MERGE INTO on a table
    * format; the merge logic is format-agnostic. */
  def cdcStream(changes: DataFrame, snapshotPath: String, checkpoint: String,
                keyCols: Seq[String], versionCol: String = "version",
                opCol: String = "op", nBuckets: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // pin the snapshot to THIS stream's identity (derived from the
    // checkpoint path — stable across restarts, distinct across
    // writers): a second cdcStream on the same snapshotPath fails its
    // first batch loudly instead of silently losing committed batches
    // to the read-merge-overwrite race (r18, the r17 top ask)
    val writer = writerIdFor(checkpoint)
    changes.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        applyCdcBatch(batch.toDF(), snapshotPath, keyCols, versionCol,
          opCol, nBuckets, Some(writer))
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** One micro-batch's snapshot MERGE — package-visible so the replay
    * contract is spec-testable without forcing a mid-stream crash
    * (the writeManifestPartial discipline). A missing snapshot
    * bootstraps empty from the batch's own schema (key + payload
    * types), so a stream can start cold; an explicit initial load goes
    * through [[writeCdcSnapshot]] first.
    *
    * `writer`: Some = a STREAM's identity — the batch claims an
    * unowned store and must match an owned one (the merge is
    * read-merge-overwrite; a second concurrent writer would
    * permanently lose committed batches, see [[Store.CdcMeta]]). None = a
    * direct/administrative application, allowed only on an UNOWNED
    * store (an owned store means a stream maintains it — going around
    * the pin is the exact race the pin exists to kill). The claim is a
    * filesystem CAS (r19): an exclusive create of the `.meta.claim`
    * sidecar ([[Store.claimOwnership]]) — two writers' very FIRST batches
    * overlapping resolve to exactly one winner, the loser failing
    * loudly before it writes any data. */
  private[graft] def applyCdcBatch(batch: DataFrame, snapshotPath: String,
                                   keyCols: Seq[String], versionCol: String,
                                   opCol: String, nBuckets: Int,
                                   writer: Option[String] = None,
                                   // test-only interleave point: runs after
                                   // the data write, before the closing
                                   // meta re-read — lets the evolve-race
                                   // spec land an evolution mid-batch
                                   raceHook: () => Unit = () => (),
                                   // test-only interleave point: runs after
                                   // the meta read, before the ownership
                                   // claim — lets the claim-race spec land
                                   // a competing writer's WHOLE first batch
                                   // inside this batch's claim window
                                   claimHook: () => Unit = () => ()): Unit = {
    import graft.relational.Cdc
    val spark = batch.sparkSession
    val snap = Store.CdcSnapshot.at(spark, snapshotPath)
    // the layout is ours, so detect it precisely: partition dirs are
    // `__cdc_bucket=N` (a bare "not underscore" filter would reject
    // them — they start with one — and silently merge against empty).
    // ONE root listStatus serves detection, the no-meta layout check,
    // AND the touched-dir existence filter below — never a recursive
    // full-file listing, whose cost scales with the whole snapshot
    // (the r17 cdc_sink_prune probe: two full listings per batch made
    // a fixed batch 3× slower at 10× the snapshot). Read unguarded: an
    // empty batch returns before any check, as it always has.
    val bucketDirs = snap.dirs
    val storedMeta = snap.meta
    val exists = bucketDirs.nonEmpty
    val storedSchema = Option.when(exists)(snap.schema(storedMeta, bucketDirs))
    // align the batch's KEY dtypes to the stored snapshot's before
    // anything hashes: xxhash64(int) != xxhash64(long), so an
    // unaligned changelog would compute the wrong buckets AND miss its
    // own keys in the merge join
    val aligned = storedSchema.fold(batch) { s =>
      keyCols.foldLeft(batch) { (b, k) =>
        b.withColumn(k, col(k).cast(s(k).dataType))
      }
    }
    Cut.scope {
      // the batch cut ONCE, eagerly: its count is the emptiness check
      // and the same job gathers the touched buckets (bounded by
      // nBuckets) — no isEmpty job, no distinct-collect of its own
      val (changes, changed) = aligned.cutNow(cdcBucket(keyCols, nBuckets))
      if (Cut.rows(changes).exists(_ > 0)) {
        snap.requireIntact(storedMeta, bucketDirs)
        storedMeta match {
          case Some(m) =>
            requireNotRetained(Some(m), snapshotPath, "applyCdcBatch")
            require(m.nBuckets == nBuckets,
              s"snapshot at $snapshotPath is laid out with " +
                s"nBuckets=${m.nBuckets} but this " +
                s"stream was configured with nBuckets=$nBuckets — pruning " +
                "would read the wrong buckets and silently duplicate keys")
          case None if exists =>
            // dirs without meta: verify the on-disk layout used THIS
            // nBuckets before trusting pruning (at most once — this
            // batch's successful write lands the meta)
            snap.verifyLayout(bucketDirs, "nBuckets", nBuckets,
              cdcBucket(keyCols, nBuckets), "this stream")
          case None => // cold start: meta lands AFTER the first successful
            // write (writing it first would make a crashed FIRST batch
            // read as lost state)
        }
        // ownership — BEFORE any data moves: a stream's batch atomically
        // claims an unowned store (exclusive sidecar create — exactly one
        // of two racing first batches wins) or must match the owner; a
        // direct (writer = None) application must not go around a live
        // stream's ownership either
        claimHook()
        snap.claim(writer, storedMeta.flatMap(_.writer))
        // read ONLY the touched buckets — the bucket-pruning contract
        // applied to the LISTING too (a partition filter over a root read
        // still lists every file first). The merge side carries the
        // STORED schema, not the batch's, even when empty — a payload
        // dtype drift would otherwise land mixed-schema files in one dir.
        val existing = storedSchema.fold(
          Cdc.bootstrap(changes.drop(versionCol, opCol).limit(0), keyCols))(
          snap.read(_, bucketDirs, changed))
        val merged = Cdc.mergeVersioned(existing, changes, keyCols, versionCol, opCol)
          .cutNow() // sever the snapshot self-read before overwrite
        // bucket-clustered like writeCdcSnapshot: one exchange of ONLY
        // the touched rows (data the batch already moves) buys every
        // later read a listing that scales with buckets, not batches ×
        // tasks
        snap.write(merged, cdcBucket(keyCols, nBuckets), dynamic = true)
        // the meta carries the layout's LOGICAL schema from here on (a
        // pre-r17 schema-less meta upgrades on its next batch). The
        // schema written is the UNION of the merge's output schema and
        // the meta re-read NOW — an evolveCdcSnapshot racing this batch
        // (appending a column after our read, before this write) must
        // not be silently reverted by us rewriting the pre-evolution
        // schema (r18, the r17 race note; evolution is additive-only,
        // so the union is well-defined). The writer pin: the RE-READ pin
        // wins when present (r19, the r18 advice — a repinCdcSnapshot
        // takeover landing mid-batch must stay loud: preserving the NEW
        // pin makes OUR next batch fail its pin check, instead of this
        // closing write silently reverting the takeover); absent a
        // stored pin (first batch, or an explicit unpin), ours claims.
        raceHook()
        val reRead = snap.meta
        snap.writeMeta(CdcMeta(nBuckets,
          Some(unionAdditiveSchema(merged.schema, reRead.flatMap(_.schema))),
          reRead.flatMap(_.writer).orElse(writer), None))
      }
    }
  }

  /** The additive-evolution schema union: fields the stored LOGICAL
    * schema carries that `current` lacks are appended to the payload
    * (before the internal merge columns, the [[evolveCdcSnapshot]]
    * order), nullable — pre-evolution data null-backfills them. */
  private def unionAdditiveSchema(
      current: org.apache.spark.sql.types.StructType,
      stored: Option[org.apache.spark.sql.types.StructType])
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.StructType
    val missing = stored.map(_.fields.filterNot(f =>
      current.fieldNames.contains(f.name))).getOrElse(Array.empty)
    if (missing.isEmpty) current
    else {
      val (payload, internal) = current.fields.partition(f =>
        f.name != graft.relational.Cdc.VersionCol &&
          f.name != graft.relational.Cdc.DeletedCol)
      StructType(payload ++ missing.map(_.copy(nullable = true)) ++ internal)
    }
  }

  // ---- streaming near-dedup (r17): a document stream maintains a
  // deduped corpus + its signature index ----

  /** Writer partition column of the stored signature index — the r11
    * idempotent-sink rule: partitions keyed by (stable-writer-id,
    * batch-id), because batch ids alone restart at 0 under a fresh
    * stream checkpoint and a second writer's batch 0 would dynamically
    * overwrite the first's partition, silently deleting those
    * survivors' signatures. */
  val DedupWriterCol = "__dedup_writer"
  /** Batch partition column of the stored signature index. */
  val DedupBatchCol = "__dedup_batch"
  /** Signature-hash bucket partition column of the stored index (r18,
    * the r17 verdict ask 2): TOP-level dirs keyed by
    * `hash(band, sig) mod nIdxBuckets`, so a batch's probe reads ONLY
    * the buckets its own signatures hash into, by constructed dir
    * name — the `splitByTailBuckets` path-pruning discipline applied
    * to the index. This kills the last linear-in-corpus per-batch
    * term (the r17 full-index scan, tens of GB per micro-batch at
    * 100 TB corpus). The layout is two-tier (the LSM/base-plus-delta
    * shape): corpus-sized writes (bootstrap, compaction) land
    * BUCKETED, while per-batch survivor writes land in the single
    * UNBUCKETED tail dir `-1` — one cheap partition commit per batch,
    * not one per touched bucket — and every probe reads its touched
    * buckets PLUS the whole tail (batches since the last compaction;
    * narrow, compaction-cadence-bounded, the deployment's knob).
    * Writer/batch partitions nest BENEATH the tier dirs, keeping the
    * r11 idempotency keying. Size `nIdxBuckets` so one bucket holds
    * roughly constant rows at the deployment's corpus size (the
    * KV-store approximation: a fixed batch then reads ~constant
    * bytes no matter how large the corpus grows). */
  val DedupIdxBucketCol = "__dedup_sig_bucket"
  /** The unbucketed tail tier's dir value (per-batch L0 writes). */
  val DedupIdxTail = -1

  /** An index row's bucket: signature-hash, the probe's join key. */
  private def sigBucket(nIdxBuckets: Int): Column =
    pmod(xxhash64(col("band"), col("sig")), lit(nIdxBuckets)).cast("int")

  /** The probe-side index read shared by [[applyDedupBatch]] and
    * [[probeDedup]]: verify the stored layout against the configured
    * `nIdxBuckets` (a mismatch would prune the wrong buckets and
    * silently ADMIT dups — loud failure instead), then read ONLY the
    * buckets `sigs` hashes into plus the unbucketed tail (path-level
    * pruning: the probe never lists the rest of the index, r18).
    * `touched` is evaluated only when an index exists. Returns
    * `(touchedIndex, storedIdType)`: touchedIndex is None when nothing
    * relevant is stored; the id dtype is Some whenever the index EXISTS
    * — the dtype every write must cast to (mixed-dtype files in one
    * dataset are unreadable). */
  private def readTouchedIndex(spark: org.apache.spark.sql.SparkSession,
                               indexPath: String, touched: => Seq[Int],
                               nIdxBuckets: Int, idCol: String, who: String)
      : (Option[DataFrame], Option[org.apache.spark.sql.types.DataType]) = {
    // ONE root listStatus (rejects the pre-r18 flat layout loudly); meta
    // without dirs = a compaction/rewrite's static overwrite died between
    // the delete and the commit (r19) — treating it as "no index" would
    // silently ADMIT every dup, so it fails loudly
    val idx = Store.SignatureIndex.at(spark, indexPath)
    val (idxMeta, idxDirs) = idx.open()
    idxMeta match {
      case Some(m) =>
        require(m.nIdxBuckets == nIdxBuckets,
          s"signature index at $indexPath is laid out with " +
            s"nIdxBuckets=${m.nIdxBuckets}, $who configured " +
            s"$nIdxBuckets — probing would read the wrong buckets " +
            "and silently admit dups")
      case None =>
        idx.verifyLayout(idxDirs, "nIdxBuckets", nIdxBuckets,
          sigBucket(nIdxBuckets), who)
    }
    val schema = Option.when(idxDirs.nonEmpty)(idx.schema(idxMeta, idxDirs))
    lazy val buckets = touched
    val storedIdx = schema.filter(_ => idx.holds(idxDirs, buckets, withTail = true))
      .map(idx.read(_, idxDirs, buckets, withTail = true))
    (storedIdx, schema.map(_(idCol).dataType))
  }

  /** Banding candidates `(bid, cid)`, one row per shared band (the
    * caller takes the distinct): touched index rows ⨝ batch signatures
    * (batch side size-gated broadcast — an initial-load batch can be
    * huge, and an unconditional broadcast OOMs; the Joins gate); id
    * equality excludes a replayed doc's own prior entry. */
  private def indexCandidates(idx: DataFrame, sigs: DataFrame,
                              idCol: String): DataFrame =
    idx.join(graft.llm.Joins.gatedBroadcast(sigs.select(
        col(idCol).as("bid"), col("band"), col("sig"))), Seq("band", "sig"))
      .where(col(idCol) =!= col("bid"))
      .select(col("bid"), col(idCol).as("cid"))

  /** `cand` cut, and the live corpus rows of the `cid`s its `stored`
    * rows name, read from their buckets only: the cut gathers those
    * buckets in the job that stores it, so the fetch starts no job of its
    * own (the r17 probe measured 300 MB of corpus text moving for a
    * 64-row id list before the text was bucket-pruned). */
  private def cutWithCorpus(spark: org.apache.spark.sql.SparkSession,
                            corpusPath: String, cand: DataFrame, stored: Column,
                            idCol: String, caller: String): (DataFrame, DataFrame) = {
    val layout = cdcLayout(spark, corpusPath, caller)
    val (cut, touched) = cand.cutNow(when(stored, layout.bucketOf(col("cid"), idCol)))
    (cut, graft.relational.Cdc.publicSnapshot(layout.read(touched)))
  }

  /** Read-only dedup PROBE (r18) — "would these docs be near-dups of
    * the corpus, and of WHICH doc?": the serving query of a
    * [[dedupStream]] deployment (an ingest API checking content before
    * accepting it, an attribution/debug lookup), answered WITHOUT
    * mutating either store. Per probed doc, `dup_of` = the LOWEST
    * corpus id whose exact k-gram Jaccard clears `threshold` among the
    * stored-index banding candidates, or NULL — each doc judged
    * independently against the corpus (no within-batch pass: serving
    * asks about each doc alone; the ingest-time within-batch election
    * is [[applyDedupBatch]]'s concern).
    *
    * Scale shape = the per-batch probe's read side verbatim: touched
    * index buckets + tail by constructed name, probe side size-gated
    * broadcast, corpus TEXT fetched bucket-pruned for candidate ids
    * only. Emits `(idCol, dup_of)`, un-ordered. */
  def probeDedup(docs: DataFrame, indexPath: String, corpusPath: String,
                 k: Int = 2, bands: Int = 8, rowsPerBand: Int = 2,
                 threshold: Double = 0.5, idCol: String = "doc_id",
                 textCol: String = "text", poly: Boolean = false,
                 nIdxBuckets: Int = 64): DataFrame = {
    import graft.llm.{Dedup, Joins}
    val spark = docs.sparkSession
    // unowned cuts (GC-released): the probe RETURNS a frame that reads
    // them, so the scope discipline of the batch path does not apply.
    // Eager, as there: their counts answer the gates, and the signature
    // cut gathers the index buckets it touches
    val b = docs.cutNow()
    val (sigsB, idxTouched) = Dedup.signatureIndex(b, k, bands, rowsPerBand,
      idCol, textCol, poly).cutNow(sigBucket(nIdxBuckets))
    val (storedIdx, idxIdType) =
      readTouchedIndex(spark, indexPath, idxTouched, nIdxBuckets, idCol,
        "this probe")
    val noDup = lit(null)
      .cast(idxIdType.getOrElse(b.schema(idCol).dataType)).as("dup_of")
    storedIdx match {
      case None => b.select(col(idCol), noDup)
      case Some(idx) =>
        // candidate-sized; feeds fetch + verify
        val (cand, corpusCand) = cutWithCorpus(spark, corpusPath,
          indexCandidates(idx, sigsB, idCol).distinct(), lit(true), idCol,
          "probeDedup")
        // the gate decision also applies to the final evidence join,
        // whose post-agg side the planner cannot size
        val small = Joins.fitsBroadcast(cand)
        val best = Dedup.verifiedDupPairs(cand, b, corpusCand,
            k, threshold, idCol, textCol)
          .groupBy("bid").agg(min(col("cid")).as("dup_of"))
          .withColumnRenamed("bid", idCol)
        b.select(col(idCol)).join(Joins.hinted(small, best), Seq(idCol), "left")
    }
  }

  /** Run two independent store writes overlapped: `side` on a second
    * driver thread, `main` on this one, then join. Every failure is
    * reported: a `main` failure is rethrown after the side write
    * finishes, carrying the side's failure (if any) as suppressed; a
    * side-only failure is rethrown as itself. */
  private def overlapped(threadName: String)(side: => Unit)(main: => Unit): Unit = {
    val task = new java.util.concurrent.FutureTask[Unit](() => side)
    new Thread(task, threadName).start()
    // get() waits for the side write to finish
    def sideFailure(): Option[Throwable] =
      try { task.get(); None }
      catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) }
    try main
    catch {
      case e: Throwable =>
        sideFailure().filterNot(_ eq e).foreach(e.addSuppressed)
        throw e
    }
    sideFailure().foreach(e => throw e)
  }

  /** Initial load of a streaming-dedup deployment: the (already
    * deduped) corpus into the CDC snapshot layout at `corpusPath`
    * (version 0) and its signature index into `indexPath` (partition
    * −1). Static overwrite — a fresh start. */
  def bootstrapDedup(corpus: DataFrame, indexPath: String,
                     corpusPath: String, k: Int = 2, bands: Int = 8,
                     rowsPerBand: Int = 2, nBuckets: Int = 64,
                     idCol: String = "doc_id", textCol: String = "text",
                     poly: Boolean = false, nIdxBuckets: Int = 64): Unit = {
    // the two store writes are independent (different paths, both
    // static overwrites of a fresh deployment) — overlapped from two
    // driver threads (r21, guide §2.6), same as the per-batch applier.
    // A crash leaving either store alone was already an incomplete
    // bootstrap under the sequential order (re-run bootstrapDedup —
    // the documented fresh-start recovery); overlap adds no new torn
    // state class.
    require(nIdxBuckets > 0, s"nIdxBuckets must be positive, got $nIdxBuckets")
    val idx = Store.SignatureIndex.at(corpus.sparkSession, indexPath)
    val sigs = graft.llm.Dedup.signatureIndex(corpus, k, bands, rowsPerBand,
      idCol, textCol, poly)
    overlapped("graft-dedup-index-bootstrap")(
      idx.writeTier(sigs, "bootstrap", -1L, Some(sigBucket(nIdxBuckets)),
        IdxMeta(nIdxBuckets, sigs.schema, Map.empty)))(
      writeCdcSnapshot(graft.relational.Cdc.bootstrap(corpus, Seq(idCol)),
        corpusPath, Seq(idCol), nBuckets))
    // a fresh start resets BOTH stores' ownership (the corpus reset
    // happens inside writeCdcSnapshot)
    idx.resetClaim(None)
  }

  /** The maintained deduped corpus — live public rows. */
  def readDedupCorpus(spark: org.apache.spark.sql.SparkSession,
                      corpusPath: String): DataFrame =
    graft.relational.Cdc.publicSnapshot(readCdcSnapshot(spark, corpusPath))

  /** Maintain a NEAR-DEDUPED corpus from a document STREAM — the
    * continuous-ingest face of [[graft.llm.Dedup.incrementalNear]]
    * with the corpus signature index STORED instead of re-hashed per
    * batch: each micro-batch (1) probes the index for banding
    * candidates (batch signatures broadcast — batch ≪ index), (2)
    * verifies candidates by exact k-gram Jaccard against corpus text
    * fetched bucket-pruned from the CDC-maintained survivor store, (3)
    * drops batch docs that match the corpus or are the HIGHER side of
    * a verified within-batch pair (the pairwise keep-lowest-id rule —
    * [[graft.llm.Dedup.thresholdSweep]]'s documented estimate;
    * `exactWithinBatch = true` swaps in the transitive-closure
    * election — one min-id rep per within-batch cluster, the
    * [[graft.llm.Dedup.dupClusters]] semantics — for deployments that
    * want closure-exact batches), and (4) appends survivors to both
    * stores.
    *
    * State and idempotence, by store kind: the survivor corpus is
    * CONVERGENT STATE → a CDC snapshot keyed by `idCol` (version =
    * batch id; an at-least-once replay is a fixed point of the merge);
    * signature rows are PER-BATCH FACTS → batch-keyed index partitions
    * dynamically overwritten (the r11 manifest discipline; a replay
    * rewrites the same partition with identical content). Replay
    * self-consistency: a replayed doc's own index entry is excluded by
    * id equality. The two per-batch store writes run overlapped, so
    * their commit ORDER carries no recovery meaning: each write is
    * idempotent on redelivery by itself, and a redelivered batch
    * always re-applies the corpus merge (a fixed point) — only the
    * index write skips a batch a fold already absorbed.
    *
    * Scale shape: the index is fixed-width `(id, band, sig)` rows —
    * ~8 B × bands per doc — hash-bucketed on `(band, sig)` into
    * `nIdxBuckets` dirs (r18): a batch probes ONLY the buckets its
    * own signatures hash into, read by constructed dir name with the
    * batch side size-gate-broadcast — per-batch index I/O is
    * batch-bounded (≤ touched-buckets/nIdxBuckets of the index),
    * never linear in the corpus (the r17 full-index scan, the last
    * linear per-batch term, is gone). Corpus TEXT moves only for
    * candidate ids, bucket-pruned by constructed dir name. A
    * boilerplate index bucket multiplies |batch ∩ bucket| × |corpus ∩
    * bucket| — AQE skew-join splits it, and the within-batch pass
    * keeps [[graft.llm.Dedup.minHashNearDups]]'s `maxBucket` cap.
    * Size `nIdxBuckets` so one bucket ≪ executor memory at the
    * deployment's corpus size. Per-batch fact partitions accumulate in
    * the tail dir — BOUNDED (r19): when the tail crosses
    * `maxTailBatches` the batch auto-folds it into the buckets
    * ([[compactDedupIndex]], layout-preserving; an amortized
    * 1/maxTailBatches share of an index rewrite per batch — size the
    * bound so fold cost ≈ the tail read it saves, and watch the tail
    * with [[dedupIndexTailBatches]]). Retraction GC stays the offline
    * compaction call — the auto path never adds a corpus read.
    *
    * Contract: `idCol` values are fresh per document (a re-sent id
    * UPSERTS the corpus store but its stale index rows keep verifying
    * against CURRENT text — benign, re-verified); the doc schema must
    * not carry `version`/`op` (the corpus store's internal merge
    * columns). */
  def dedupStream(docs: DataFrame, indexPath: String, corpusPath: String,
                  checkpoint: String, k: Int = 2, bands: Int = 8,
                  rowsPerBand: Int = 2, threshold: Double = 0.5,
                  nBuckets: Int = 64, idCol: String = "doc_id",
                  textCol: String = "text", poly: Boolean = false,
                  nIdxBuckets: Int = 64, exactWithinBatch: Boolean = false,
                  maxTailBatches: Int = 64, tailFiles: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = writerIdFor(checkpoint)
    docs.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        applyDedupBatch(batch.toDF(), id, indexPath, corpusPath, k, bands,
          rowsPerBand, threshold, nBuckets, idCol, textCol, poly, writer,
          nIdxBuckets, exactWithinBatch, maxTailBatches, tailFiles)
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** The tail-tier size OBSERVABLE (r19, the r18 verdict ask 2): how
    * many per-batch fact partitions the unbucketed tail dir currently
    * holds. Every probe reads the WHOLE tail, so this is the number
    * that grows between compactions — [[applyDedupBatch]] auto-folds
    * when it crosses `maxTailBatches`, and deployments watching their
    * own cadence read it here. One tail-dir listStatus + one per
    * writer dir — never touches data. */
  def dedupIndexTailBatches(spark: org.apache.spark.sql.SparkSession,
                            indexPath: String): Int =
    Store.SignatureIndex.at(spark, indexPath).tailBatches

  /** One micro-batch of [[dedupStream]] — package-visible so parity,
    * replay, and crash ordering are spec-testable (the applyCdcBatch
    * discipline). */
  private[graft] def applyDedupBatch(batch: DataFrame, batchId: Long,
                                     indexPath: String, corpusPath: String,
                                     k: Int, bands: Int, rowsPerBand: Int,
                                     threshold: Double, nBuckets: Int,
                                     idCol: String, textCol: String,
                                     poly: Boolean,
                                     writer: String = "default",
                                     nIdxBuckets: Int = 64,
                                     exactWithinBatch: Boolean = false,
                                     maxTailBatches: Int = 64,
                                     tailFiles: Int = 1): Unit = {
    require(maxTailBatches > 0,
      s"maxTailBatches must be positive, got $maxTailBatches")
    import graft.llm.{Dedup, Joins}
    val spark = batch.sparkSession
    // the batch feeds signatures, the verify and the survivor anti join
    // — cut once so the source is not re-derived per consumer; its count
    // is the emptiness check
    Cut.scope {
      val b = batch.cutNow()
      if (Cut.rows(b).exists(_ > 0)) {
        require(!batch.columns.contains("version") && !batch.columns.contains("op"),
          "dedupStream docs must not carry 'version'/'op' — the survivor " +
            "store's internal merge columns")
        // BOTH stores are claimed before anything mutates (r19): the corpus
        // claim lands inside its applyCdcBatch; the INDEX store is claimed
        // here — an offline compactDedupIndex is a read-compact-overwrite
        // racing the tail writes (the compactAnnIndex class), so the index
        // carries its own claim and compaction must present the owner.
        // Takeover of a dedup deployment = repinCdcSnapshot on the corpus
        // + releaseStoreClaim on the index (DEPLOY.md).
        val idx = Store.SignatureIndex.at(spark, indexPath)
        idx.claim(Some(writer), None)
        // a batch at or below this writer's folded watermark is a REPLAY
        // of a batch a fold already moved into the bucketed tier (r20, the
        // r19 ADVICE note): the INDEX write recognizes itself and skips.
        // The CORPUS merge is NOT skipped (r21): with the two store writes
        // overlapped (guide §2.6), a folded tail no longer proves the
        // corpus merge committed (the r20 ordering proof "tail lands AFTER
        // corpus"), so redelivery always re-applies the merge — a fixed
        // point by the at-least-once replay contract. Cost: one extra merge
        // on the rare replay-after-fold path; benefit: an offline fold
        // taken between a crash and the restart can never silently lose a
        // batch's survivors (DedupStreamSpec pins exactly that window).
        // Checked after the claim, so second writers still bounce on
        // replays.
        val idxMeta = idx.meta
        val indexFolded = idx.isFolded(idxMeta, writer, batchId)
        // the cut that writes the signatures also gathers the index
        // buckets they hash into
        val (sigsB, idxTouched) = Dedup.signatureIndex(b, k, bands, rowsPerBand,
          idCol, textCol, poly).cutNow(sigBucket(nIdxBuckets))
        val (storedIdx, idxIdType) =
          readTouchedIndex(spark, indexPath, idxTouched, nIdxBuckets, idCol,
            "this stream")
        val indexExists = storedIdx.isDefined || idxIdType.isDefined
        // survivors is eagerly materialized, so this inner scope releases
        // the candidate and shingle-set cuts the moment it returns,
        // instead of leaking them per micro-batch for the session (r21,
        // the r20 ADVICE note; the Curation pairStage pattern). b and
        // sigsB belong to the outer scope.
        val survivors = Cut.scope {
          // ONE candidate frame for both kinds — the stored-index probe
          // and the within-batch banding over the ALREADY-COMPUTED batch
          // signatures (r20: sigsB IS signatureIndex(b) under this batch's
          // (k, bands, rowsPerBand, poly); re-deriving it would pay the
          // MinHash encode of every ingested document a second time). Its
          // cut gathers the corpus buckets of the stored candidates, so
          // their text is fetched bucket-pruned with no job of its own.
          val corpusPairs = storedIdx.fold(
            sigsB.select(col(idCol).as("bid"), col(idCol).as("cid")).limit(0))(
            indexCandidates(_, sigsB, idCol))
          val batchCand = Dedup.batchCandidates(corpusPairs, sigsB, idCol)
          val (cand, corpusDocs) =
            if (indexExists) cutWithCorpus(spark, corpusPath, batchCand,
              !col("within"), idCol, "applyDedupBatch")
            else (batchCand.cutNow(), b.limit(0))
          // one verify pass. The within-batch election: the default
          // pairwise keep-lowest-id rule drops each verified pair's higher
          // side — the documented ESTIMATE (it over-keeps a doc whose only
          // pairs are with higher ids that themselves dropped: on pairs
          // (1,3),(2,3) it keeps {1,2} though 2's whole cluster has rep
          // 1). `exactWithinBatch` elects one min-id rep per TRANSITIVE
          // cluster instead (Dedup.dupClusters' closure, batch-pair-sized)
          // — closure-exact batches for deployments that want them; the
          // estimate stays the default (cheaper — no iteration — and the
          // oracle-matched shape).
          val drops = Dedup.verifiedBatchDrops(cand, b, corpusDocs, k, threshold,
            idCol, textCol, exactWithinBatch)
          // no distinct on the drops: the left_anti probe side dedups
          // inherently (the r4 rule); they number at most the candidates
          b.join(Joins.hinted(Joins.fitsBroadcast(cand),
              drops.select(col("bid").as(idCol))), Seq(idCol), "left_anti")
            .cutNow() // feeds the corpus merge + the index write
        }
        // the corpus store is pinned to THIS stream's writer id — a
        // second dedupStream on the same corpusPath fails loudly
        // instead of silently losing committed survivors to the CDC
        // read-merge-overwrite race (r18: DEPLOY.md's "one stream
        // per (indexPath, corpusPath)" now has mechanical teeth).
        // PRE-verify that claim before the overlapped writes fork
        // (r21): applyCdcBatch re-checks it on its own thread, but a
        // batch doomed at the corpus pin must touch NEITHER store —
        // without this, the concurrent index write would land a tail
        // partition for a bounced batch (claim-ordering spec in
        // DedupStreamSpec). Idempotent for the rightful writer.
        val corpus = Store.CdcSnapshot.at(spark, corpusPath)
        corpus.claim(Some(writer), corpus.meta.flatMap(_.writer))
        // the two store writes are INDEPENDENT — different paths,
        // every shared input an eager checkpoint — so they run
        // OVERLAPPED from two driver threads (r21, guide §2.6: the
        // index write's tasks back-fill executor slots the corpus
        // merge's straggler tail leaves idle; at deployment scale
        // the two writes are the batch's dominant sequential jobs).
        // Commit ORDER no longer carries recovery semantics: the
        // corpus merge replays unconditionally (see the
        // folded-watermark comment above), and each write is
        // idempotent on redelivery by itself.
        overlapped("graft-dedup-index-write")(
          if (!indexFolded) {
            val survivorSigs = sigsB
              .join(survivors.select(idCol), Seq(idCol), "left_semi")
            val typed = idxIdType.fold(survivorSigs)(t =>
              survivorSigs.withColumn(idCol, col(idCol).cast(t)))
            // the per-batch meta carries the fold watermarks through
            idx.writeTier(typed, writer, batchId, None,
              IdxMeta(nIdxBuckets, typed.schema,
                idxMeta.fold(Map.empty[String, Long])(_.folded)),
              tailFiles)
          })(
          applyCdcBatch(
            survivors.withColumn("version", lit(batchId + 1L))
              .withColumn("op", lit("U")),
            corpusPath, Seq(idCol), "version", "op", nBuckets,
            Some(writer)))
        // the TAIL BOUND (r19, the r18 verdict ask 2): every probe
        // reads the whole tail, so unbounded per-batch fact
        // partitions are the one growth term the two-tier layout
        // left to operator cadence — auto-fold when the tail
        // crosses the bound. The fold is index-wide (an amortized
        // 1/maxTailBatches share per batch); retraction GC (the
        // corpus semi-join) stays the offline compactDedupIndex
        // call — the auto path must never add a corpus read to a
        // micro-batch. Crash mid-fold = meta-without-dirs, caught
        // loudly by the next probe's torn-layout guard; the
        // replayed batch then re-folds after rebuildDedupIndex.
        if (idx.tailBatches >= maxTailBatches)
          compactDedupIndexOwned(spark, indexPath, None, Some(writer))
      }
    }
  }

  /** Fold the accumulated batch-keyed index partitions into one
    * (partition −1) — the compaction closing the [[dedupStream]]
    * lifecycle, run between stream runs. Static overwrite of the files
    * the fold reads, so the survivors are eager-cut first (the
    * compactCdcSnapshot rule).
    *
    * RETRACTION GC: documents leave the corpus through the CDC store
    * (an `op = 'D'` batch via `applyCdcBatch` on `corpusPath` — the
    * tombstone machinery is already the corpus's). A retracted doc's
    * index rows are BENIGN in the meantime — verification fetches
    * CURRENT text, so its candidates find no row and drop, and a
    * near-dup of retracted content is correctly admitted — but they
    * are dead weight; pass `corpusPath` to also drop signature rows
    * whose doc no longer lives in the corpus (a semi-join against the
    * live ids — both sides narrow, an offline compaction cost).
    *
    * A CLAIMED index (a [[dedupStream]] runs against it) demands the
    * owning stream's checkpoint path (`ownerCheckpoint`) and the
    * stream stopped — this is a read-compact-overwrite racing the
    * per-batch tail writes, the compactAnnIndex/compactCdcSnapshot
    * rule (r19). */
  def compactDedupIndex(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String,
                        corpusPath: Option[String] = None,
                        ownerCheckpoint: Option[String] = None): Unit =
    compactDedupIndexOwned(spark, indexPath, corpusPath,
      ownerCheckpoint.map(writerIdFor))

  /** The fold itself, ownership asserted by writer ID — the auto-fold
    * inside [[applyDedupBatch]] IS the owning stream's batch. */
  private[graft] def compactDedupIndexOwned(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      corpusPath: Option[String], asWriter: Option[String]): Unit = Cut.scope {
    val idx = Store.SignatureIndex.at(spark, indexPath)
    // the fold preserves the stored bucket layout — the meta owns it
    val (meta, _, folded) = idx.beginFold(asWriter, "compactDedupIndex",
      "compact an index written by this engine (a pre-r18 flat index " +
        "has none; rebuild via bootstrapDedup)")
    val all = idx.readAll(Some(meta))
    val idCol = all.columns.filterNot(Seq("band", "sig").contains).head
    val kept = corpusPath.fold(all) { cp =>
      all.join(readDedupCorpus(spark, cp).select(idCol), Seq(idCol), "left_semi")
    }
    val cut = kept.cutNow()
    idx.writeTier(cut, "compact", -1L, Some(sigBucket(meta.nIdxBuckets)),
      IdxMeta(meta.nIdxBuckets, cut.schema, folded))
  }

  /** Rebuild the signature index from the LIVE corpus — the recovery
    * path the torn-overwrite guard points at (a compaction's static
    * overwrite died between delete and commit), and the only supported
    * way to CHANGE `nIdxBuckets` on an existing deployment (re-size
    * when the KV-approximation drifts: one bucket should hold roughly
    * constant rows as the corpus grows). Reads the corpus text once,
    * re-signatures it, lands bucketed; stale remnants removed first.
    * Run with the stream stopped — this is a full-index admin op. */
  def rebuildDedupIndex(spark: org.apache.spark.sql.SparkSession,
                        indexPath: String, corpusPath: String, k: Int = 2,
                        bands: Int = 8, rowsPerBand: Int = 2,
                        idCol: String = "doc_id", textCol: String = "text",
                        poly: Boolean = false, nIdxBuckets: Int = 64): Unit = {
    require(nIdxBuckets > 0, s"nIdxBuckets must be positive, got $nIdxBuckets")
    val idx = Store.SignatureIndex.at(spark, indexPath)
    idx.remove()
    val sigs = graft.llm.Dedup.signatureIndex(readDedupCorpus(spark, corpusPath),
      k, bands, rowsPerBand, idCol, textCol, poly)
    idx.writeTier(sigs, "bootstrap", -1L, Some(sigBucket(nIdxBuckets)),
      IdxMeta(nIdxBuckets, sigs.schema, Map.empty))
    idx.resetClaim(None) // a full rewrite is an ownership reset
  }

  // ---- maintained ANN serving tier (r19, the r18 verdict ask 5): a
  // document-embedding stream maintains a STORED IVF-PQ index; a
  // read-only probe serves "top-k nearest stored ids for these query
  // vectors" — the probeDedup pattern applied to Similarity's
  // quantized index, the serving query of every embedding-dedup /
  // retrieval deployment ----

  /** Tier partition column of the stored ANN code index: the coarse
    * CELL for bucketed writes (bootstrap/compaction — the IVF routing
    * key, so a probe reads only its routed cells' dirs by constructed
    * name), or [[AnnTail]] for per-batch fact writes (the dedup-index
    * two-tier LSM shape: one cheap partition commit per batch; every
    * probe reads its routed cell dirs PLUS the whole tail, which the
    * `maxTailBatches` auto-fold bounds). `cell` stays a DATA column in
    * every row — tail rows carry their true cell through it, and the
    * search's cell join serves both tiers identically. Writer/batch
    * partitions nest beneath (the r11 idempotent-sink keying). */
  val AnnCellCol = "__ann_cell"
  /** The unbucketed tail tier's dir value (per-batch L0 writes). */
  val AnnTail = -1L
  /** Writer partition column of the stored ANN code index. */
  val AnnWriterCol = "__ann_writer"
  /** Batch partition column of the stored ANN code index. */
  val AnnBatchCol = "__ann_batch"

  /** Deterministic fingerprint of a (coarse, pq) codebook pair — the
    * coherence token between the codebook table and the code store's
    * meta: codes are only meaningful under the EXACT quantization that
    * encoded them, and the two land in separate writes, so the meta
    * records which codebooks its codes were encoded under and every
    * reader verifies the loaded table against it (a re-bootstrap that
    * crashed between the two writes would otherwise serve silently
    * wrong neighbors, r19 self-review). MurmurHash3 over the nested
    * Double seqs — stable across JVMs for equal values. */
  private def cbFingerprint(coarse: Seq[Seq[Double]],
                            codebooks: Seq[Seq[Seq[Double]]]): String =
    java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.productHash((coarse, codebooks)))

  /** Codebooks are immutable for one quantization generation (the meta
    * fingerprint names it; re-quantizing is a rebuild that changes it),
    * so each process collects them once per (store, generation) — a
    * per-batch collect would re-read the table every micro-batch for
    * bytes that never change, while a path-only cache key would serve
    * STALE codebooks forever after an out-of-process re-bootstrap.
    * Bounded by `Similarity.MaxCentroids` per entry. */
  private val annCodebookCache = new java.util.concurrent.ConcurrentHashMap[
    (String, String), (Seq[Seq[Double]], Seq[Seq[Seq[Double]]])]()

  private def annCodebooks(spark: org.apache.spark.sql.SparkSession,
                           indexPath: String, expectedHash: String)
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    val loaded = annCodebookCache.computeIfAbsent((indexPath, expectedHash), _ => {
      val fresh = graft.llm.Similarity
        .loadCodebooks(spark, s"$indexPath/codebooks")
      val got = cbFingerprint(fresh._1, fresh._2)
      require(got == expectedHash,
        s"codebook table at $indexPath/codebooks (fingerprint $got) does " +
          s"not match the code store's recorded quantization " +
          s"($expectedHash) — a re-bootstrap crashed between the " +
          "codebook write and the codes write; re-run bootstrapAnn")
      fresh
    })
    // bound the cache in a long-lived driver (r20, the r19 ADVICE
    // note): an in-process rebuild evicts in bootstrapAnn, but an
    // OUT-of-process re-quantization would otherwise leak one dead
    // table (up to MaxCentroids rows) per generation per store — once
    // a generation is loaded for a path, every other generation of
    // that path is superseded by the meta that named this one
    annCodebookCache.keySet
      .removeIf(e => e._1 == indexPath && e._2 != expectedHash)
    loaded
  }

  /** Initial load of a maintained ANN deployment: the codebook table
    * (the quantization — immutable configuration from here on; see
    * [[graft.llm.Similarity.trainCodebook]] for training one) plus the
    * corpus's IVF-PQ codes, cell-bucketed. Static overwrite — a fresh
    * start; ownership resets (the next stream's first batch claims the
    * store atomically). Re-quantizing an existing deployment is, by
    * definition, a re-bootstrap. */
  def bootstrapAnn(corpus: DataFrame, indexPath: String,
                   coarse: Seq[Seq[Double]],
                   codebooks: Seq[Seq[Seq[Double]]],
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    // codebook table FIRST, codes + meta second: the meta's cbhash
    // names the quantization generation, so a crash between the two
    // writes leaves new codebooks against an OLD-hash meta — every
    // reader's fingerprint check then fails loudly instead of routing
    // queries under one quantization against codes from another
    graft.sources.Sinks.writeCodebooks(spark, s"$indexPath/codebooks",
      coarse, codebooks)
    val codes = Store.AnnCodes.at(spark, s"$indexPath/codes")
    val rows = graft.llm.Similarity.buildPqIndex(corpus, coarse, codebooks,
      idCol, vecCol)
    codes.writeTier(rows, "bootstrap", -1L, Some(col("cell")),
      AnnMeta(coarse.length, cbFingerprint(coarse, codebooks), rows.schema,
        Map.empty))
    codes.resetClaim(None)
    // evict SUPERSEDED generations for this store: the cache keys by
    // (path, fingerprint), so without eviction every re-quantization
    // leaks one dead codebook table per rebuild in a long-lived driver
    annCodebookCache.keySet.removeIf(_._1 == indexPath)
  }

  /** Maintain the stored ANN index from an embedding STREAM — each
    * micro-batch encodes its vectors with the STORED codebooks and
    * lands one per-batch fact partition in the tail tier. A RE-SENT id
    * (an updated embedding) is served under its LATEST codes
    * immediately — [[probeAnn]]'s read is latest-wins per
    * (id, subspace) (r20) — and [[compactAnnIndex]] makes the
    * convergence durable, keeping one row per key (upsert semantics;
    * deletions remain re-bootstraps — nothing marks absence, but the
    * [[probeAnn]] `allowIds` liveness gate stops serving retired ids
    * between re-bootstraps). Replay safety: the r11 idempotent-sink
    * rule (batch-keyed partitions dynamically overwritten) while the
    * batch's tail partition exists, and the folded-through watermark
    * ([[Store.isFolded]]) after a fold absorbed it — a redelivered
    * folded batch recognizes itself and skips; two-writer safety is
    * the atomic ownership claim ([[Store.claimOwnership]]) on the code
    * store, taken by the first batch.
    *
    * Scale shape: a batch writes ONE tail partition (batch-sized — no
    * index read at all on the write path, encoding is a narrow kernel
    * projection); serving cost is [[probeAnn]]'s routed-cells + tail,
    * with the tail bounded by the `maxTailBatches` auto-fold
    * ([[compactAnnIndex]], an amortized 1/maxTailBatches share of an
    * index rewrite per batch). Vector deletions are a rebuild — codes
    * are facts, not CDC state; retrieval deployments retire content
    * through their corpus store and re-bootstrap the index on that
    * cadence. */
  def annStream(vectors: DataFrame, indexPath: String, checkpoint: String,
                idCol: String = "vec_id", vecCol: String = "embedding",
                maxTailBatches: Int = 64, tailFiles: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = writerIdFor(checkpoint)
    vectors.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        applyAnnBatch(batch.toDF(), id, indexPath, writer, idCol, vecCol,
          maxTailBatches, tailFiles)
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** One micro-batch of [[annStream]] — package-visible for the
    * replay/ownership/fold specs (the applyCdcBatch discipline). */
  private[graft] def applyAnnBatch(batch: DataFrame, batchId: Long,
                                   indexPath: String,
                                   writer: String = "default",
                                   idCol: String = "vec_id",
                                   vecCol: String = "embedding",
                                   maxTailBatches: Int = 64,
                                   tailFiles: Int = 1): Unit = {
    require(maxTailBatches > 0,
      s"maxTailBatches must be positive, got $maxTailBatches")
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val codes = Store.AnnCodes.at(spark, s"$indexPath/codes")
    // the stream cannot start cold: the stored codebooks ARE the
    // quantization every batch must encode under — without them a batch
    // would have to invent one, silently diverging from the corpus's
    val (meta, _) = codes.openExisting("bootstrapAnn the corpus first " +
      "(the stored codebooks define the quantization every batch " +
      "encodes under)")
    codes.claim(Some(writer), None)
    // a replay of a batch a fold already absorbed skips (after the
    // ownership claim — a second writer still bounces loudly on replays)
    if (codes.isFolded(Some(meta), writer, batchId)) return
    val (coarse, codebooks) = annCodebooks(spark, indexPath, meta.cbHash)
    require(meta.cells == coarse.length,
      s"ANN code store at ${codes.root} records cells=${meta.cells} but " +
        s"the codebook table has ${coarse.length} coarse centroids — " +
        "re-run bootstrapAnn")
    // align the batch's id dtype to the stored layout (the dedup-index
    // rule: mixed-dtype files in one dataset are unreadable); the
    // per-batch meta carries the existing watermarks through
    val rows = graft.llm.Similarity.buildPqIndex(
      batch.withColumn(idCol, col(idCol).cast(meta.schema(idCol).dataType)),
      coarse, codebooks, idCol, vecCol)
    codes.writeTier(rows, writer, batchId, None,
      meta.copy(schema = rows.schema), tailFiles)
    if (codes.tailBatches >= maxTailBatches)
      compactAnnIndexOwned(spark, indexPath, Some(writer))
  }

  /** The ANN tail-tier size observable — the [[dedupIndexTailBatches]]
    * twin for the code store. */
  def annIndexTailBatches(spark: org.apache.spark.sql.SparkSession,
                          indexPath: String): Int =
    Store.AnnCodes.at(spark, s"$indexPath/codes").tailBatches

  /** Fold the tail tier into the cell buckets — the compaction closing
    * the [[annStream]] lifecycle (layout-preserving static overwrite;
    * survivors eager-cut first, the compactCdcSnapshot rule). Run on a
    * cadence, or let the `maxTailBatches` auto-fold call it. A CLAIMED
    * store demands the owning stream's checkpoint path
    * (`ownerCheckpoint`) and the stream stopped — this is a
    * read-compact-overwrite, the exact shape the claim exists to
    * police: a fold racing a live batch's tail write would overwrite
    * the committed partition, permanently (the compactCdcSnapshot
    * rule, applied at birth instead of retrofitted). */
  def compactAnnIndex(spark: org.apache.spark.sql.SparkSession,
                      indexPath: String,
                      ownerCheckpoint: Option[String] = None): Unit =
    compactAnnIndexOwned(spark, indexPath, ownerCheckpoint.map(writerIdFor))

  /** The fold itself, ownership asserted by writer ID — the auto-fold
    * inside [[applyAnnBatch]] IS the owning stream's batch, so it
    * passes its own id directly. */
  private def compactAnnIndexOwned(spark: org.apache.spark.sql.SparkSession,
                                   indexPath: String,
                                   asWriter: Option[String]): Unit = {
    val codes = Store.AnnCodes.at(spark, s"$indexPath/codes")
    val (meta, dirs, folded) = codes.beginFold(asWriter, "compactAnnIndex",
      "compact a store written by bootstrapAnn/annStream")
    // no tail → nothing to fold: the base is already one converged
    // generation per (id, subspace) by construction (bootstrap encodes
    // a unique corpus; prior folds keep one row per key) — rewriting
    // it would be an index-sized no-op
    if (!codes.hasTail(dirs)) return
    val idCol = meta.schema.fieldNames
      .filterNot(Seq("cell", "subspace", "code").contains).head
    // fold-time convergence for RE-SENT ids is CANDIDATE-sized (r20,
    // the r19 verdict's What's-wrong 2 — previously an (id, subspace)
    // window over the ENTIRE store on every fold): the untouched base
    // flows STRAIGHT to the cell-clustered write (shuffle-records
    // receipt pinned in AnnStreamSpec)
    Cut.scope {
      // eager cut before the static overwrite of the files this plan
      // reads (the compactCdcSnapshot rule)
      val cut = annLatestWins(codes, meta.schema, dirs, idCol,
          0L until meta.cells)
        .select(meta.schema.fieldNames.map(col).toIndexedSeq: _*)
        .cutNow()
      codes.writeTier(cut, "compact", -1L, Some(col("cell")),
        meta.copy(schema = cut.schema, folded = folded))
    }
  }

  /** The ANN codes read LATEST-WINS per (id, subspace) — the one read
    * the fold and the serving probe share (r20, the r19 ADVICE
    * replay-after-fold finding): tail rows are per-batch FACTS — an id
    * re-sent (updated) in a later batch, or a batch replayed after a
    * fold already moved its rows into the cell tier, would double-count
    * in the ADC sum and keep serving a superseded quantization until
    * the next fold. A tail re-send carries ALL its subspaces
    * (buildPqIndex is a whole-vector projection; a defect vector
    * encodes to no rows at all), so base rows of tail-touched ids are
    * superseded outright: they drop via a size-gated anti-join (no
    * exchange below the Joins gate), and the tail — bounded by the
    * auto-fold — resolves its own generations with one TAIL-sized
    * window. The base read flows on untouched: no index-sized exchange
    * lands on either path. Bootstrap and prior folds sit at batch −1,
    * so any tail write outranks them. `cells` are the base cells to
    * read; a store without a tail (folded) returns that base as is. The
    * tail is a lazy cut, owned by the caller's [[Cut.scope]] if one is
    * open. */
  private def annLatestWins(codes: Store[AnnMeta],
                            stored: org.apache.spark.sql.types.StructType,
                            dirs: Array[String], idCol: String,
                            cells: Seq[Long]): DataFrame = {
    val base = codes.read(stored, dirs, cells)
    if (!codes.hasTail(dirs)) base
    else {
      val tail = codes.readTail(stored, dirs).cut()
      val fitTail = graft.llm.Joins.fitsBroadcast(tail)
      val latestTail = codes.latest(tail, Seq(col(idCol), col("subspace")), col("code"))
      // no distinct on the anti-join probe side (the r4 rule — the
      // join dedups inherently)
      base.join(graft.llm.Joins.hinted(fitTail, tail.select(idCol)),
          Seq(idCol), "left_anti")
        .unionByName(latestTail)
    }
  }

  /** Read-only ANN serving probe (r19) — "the top-k nearest STORED ids
    * for these query vectors": [[graft.llm.Similarity.searchPqIndex]]
    * over the maintained store, the [[probeDedup]] pattern applied to
    * the quantized index. Per request: route queries to their `nprobe`
    * nearest cells (driver-collects the routed cell SET — bounded by
    * min(|queries|·nprobe, cells), request-sized by contract), read
    * ONLY those cell dirs plus the tail by constructed name (tail rows
    * of unrouted cells drop in the search's cell join — `cell` is a
    * data column in every tier), ADC-score, bounded-heap top-k. No
    * store mutation; returns `(queryIdCol, idCol, dist16, rnk)`.
    *
    * The serving read is LATEST-WINS per (id, subspace) (r20): a
    * re-sent id's tail codes supersede its base codes immediately —
    * not on the fold cadence — and a batch replayed after a fold
    * cannot double-count in the ADC sum. Tail-sized cost, see the
    * in-body comment.
    *
    * `allowIds` (r20) filters WHICH stored ids may be served, with
    * filter-then-rank semantics (k SURVIVORS per query, never
    * k-then-filter): pass the corpus store's live ids to stop serving
    * retired documents between re-bootstraps (the [[probeDedup]]
    * current-text discipline applied to ANN), or any metadata
    * predicate's id set ("nearest WHERE lang = 'en'" — select the ids
    * matching the predicate from the metadata table). The gate is a
    * semi-join of the ADC-scored candidates (candidate-sized) against
    * the id frame — size-gated broadcast below the [[graft.llm.Joins]]
    * threshold, shuffle-hash above it; pass a cut or cheap-to-evaluate
    * frame (the Joins contract: the gate counts it once). */
  def probeAnn(queries: DataFrame, indexPath: String, k: Int = 10,
               nprobe: Int = 2, queryIdCol: String = "qid",
               vecCol: String = "embedding", idCol: String = "vec_id",
               allowIds: Option[DataFrame] = None)
      : DataFrame = {
    import graft.llm.Similarity
    val spark = queries.sparkSession
    val codes = Store.AnnCodes.at(spark, s"$indexPath/codes")
    val (meta, dirs) = codes.openExisting("bootstrapAnn the corpus first")
    val (coarse, codebooks) = annCodebooks(spark, indexPath, meta.cbHash)
    require(nprobe >= 1 && nprobe <= coarse.length,
      s"nprobe must be in [1, ${coarse.length}], got $nprobe")
    // queries feed routing (collected) and the search — cut once, lazily
    val q = queries.cut()
    // the routing is resolved ONCE: the collected (query, cell) pairs
    // drive the dir pruning AND go back into the search as a local
    // relation — re-executing the routing window inside searchPqIndex
    // would pay the request-sized exchange twice. Bounded by
    // |queries| × nprobe (request-sized by contract).
    val routedDf = Similarity
      .routeToCells(q, coarse, nprobe, queryIdCol, vecCol)
    val routedRows = routedDf.collect()
    val routedLocal = spark.createDataFrame(
      java.util.Arrays.asList(routedRows: _*), routedDf.schema)
    val routedCells = routedRows
      .map(_.getLong(routedDf.schema.fieldIndex("cell")))
      .distinct.sorted
    // latest-wins serving over the routed cells plus the tail; a folded
    // store (no tail dir) pays nothing for it
    val served = annLatestWins(codes, meta.schema, dirs, idCol, routedCells.toSeq)
    Similarity.searchPqIndexWith(q,
      Similarity.PqIndex(served, coarse, codebooks), routedLocal,
      k, queryIdCol, vecCol, idCol, allowIds)
  }

  // ---- streaming connected components (r16): edges arrive, labels live ----

  /** Maintain a component labeling from an EDGE STREAM — the
    * continuous-crawl face of [[graft.llm.Components.incremental]]:
    * each micro-batch of new edges relabels over the prior labeling's
    * star contraction (cost per batch scales with |nodes| + |delta|,
    * never with everything ever closed) and overwrites the label
    * snapshot. Replay safety is algebraic, like [[cdcStream]]'s merge:
    * re-adding already-merged edges is the identity on the labeling,
    * so an at-least-once replay converges to the same labels.
    *
    * MONOTONE, additive-only — [[graft.llm.Components.incremental]]'s
    * contract: a batch can only ADD connectivity; an edge retraction
    * cannot un-merge a component (the contraction keeps no edge to
    * delete). Retractions require a full re-close of the surviving
    * edge set offline and a fresh `labelsPath`.
    *
    * The label snapshot is NODE-sized; the operator is for bounded
    * node domains (host graphs, source registries — the hostRank
    * codebook discipline), enforced by `maxNodes` fail-fast. Dedup
    * pair graphs over a raw corpus belong in the batch
    * [[graft.llm.Components.pairComponents]] path instead. */
  def componentsStream(edges: DataFrame, labelsPath: String,
                       checkpoint: String, aCol: String = "a",
                       bCol: String = "b", idCol: String = "node",
                       maxNodes: Long = 1L << 20)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = writerIdFor(checkpoint)
    edges.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        applyComponentsBatch(batch.toDF(), labelsPath, aCol, bCol, idCol,
          maxNodes, writer)
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** One edge batch's relabel — package-visible for the replay spec
    * (the applyCdcBatch discipline). First batch closes the batch
    * alone; later batches run the incremental contraction. The new
    * labeling is eager-checkpointed before the overwrite (its plan
    * reads the files being replaced) and released after. */
  private[graft] def applyComponentsBatch(batch: DataFrame,
                                          labelsPath: String, aCol: String,
                                          bCol: String, idCol: String,
                                          maxNodes: Long,
                                          writer: String = "default"): Unit = {
    if (batch.isEmpty) return
    val labels = Store.Labels.at(batch.sparkSession, labelsPath)
    // the labels store is claimed by its stream (r19): labels CONVERGE
    // under serialized batches (each fold includes the stored prior),
    // but two CONCURRENT streams read-fold-overwrite — the loser's
    // edges never come back (its checkpoint advanced). Takeover after
    // a lost checkpoint = releaseStoreClaim with the stream stopped
    // (labels are monotone state; any stream may resume them solo).
    labels.claim(Some(writer), None)
    // the scope releases BOTH the write cut and the closure's own final
    // labels checkpoint — a long-running stream would otherwise pin one
    // dead label frame per micro-batch
    Cut.scope {
      val cut = nextLabels(priorLabels(labels), batch, aCol, bCol, idCol)
        .cutNow()
      // the eager cut counted itself
      val n = Cut.rows(cut).get
      require(n <= maxNodes,
        s"componentsStream labeling grew to $n nodes (> $maxNodes) — " +
          "bounded node domains only; use the batch closure for corpora")
      cut.write.mode("overwrite").parquet(labelsPath)
      labels.writeMeta(())
    }
  }

  /** The label phase both streaming graph sinks share, first half: the
    * stored prior labeling, None before the first batch — behind the
    * crashed-overwrite guard (the sibling marker outlives the static
    * overwrite: present with the data gone fails loudly instead of
    * silently re-closing over this batch's edges alone). LAZY — still
    * reading the labels path; callers cut what they derive from it
    * before any overwrite of that path. */
  private def priorLabels(labels: Store[Unit]): Option[DataFrame] = {
    val (_, files) = labels.open()
    if (files.isEmpty) None else Some(labels.readAll(None, files))
  }

  /** The label phase, second half: next labeling = incremental
    * contraction of the stored prior over this batch's pairs (the
    * first batch closes the batch alone). */
  private def nextLabels(prior: Option[DataFrame], pairs: DataFrame,
                         aCol: String, bCol: String,
                         idCol: String): DataFrame = prior match {
    case None => graft.llm.Components.pairComponents(pairs, aCol, bCol, idCol)
    case Some(p) => graft.llm.Components.incremental(p, pairs, idCol,
      "component", aCol, bCol)
  }

  // ---- streaming host canonicalization (r17): the components tier,
  // maintained — labels AND the canonical edge table live ----

  /** Bucket partition column of the canonical-edge snapshot. */
  val CanonBucketCol = "__canon_bucket"

  /** Writer identity derived from the CHECKPOINT path — stable across
    * restarts of one stream, distinct across writers (the r11
    * manifestStream discipline): batch-id watermarks are only
    * meaningful within one writer's monotone batch sequence. */
  private[graft] def writerIdFor(checkpoint: String): String =
    java.lang.Long.toHexString(
      new org.apache.hadoop.fs.Path(checkpoint).toUri.getPath.hashCode
        & 0xffffffffL)

  /** Maintain the CANONICAL outlink-edge table from a weighted edge
    * STREAM — [[componentsStream]]'s labels composed with the
    * `llm_host_canon` rewrite, kept as state instead of recomputed:
    * each micro-batch of `(src, host, weight)` edges (1) advances the
    * bipartite component labeling by incremental contraction, and
    * (2) folds the batch into a canonical-edge snapshot keyed by
    * `(src, canonical host)` — when a batch MERGES two components,
    * previously written rows under the absorbed representative are
    * re-keyed onto the surviving one, so the stored table always
    * equals the batch rewrite over every edge ever seen (parity
    * spec-pinned).
    *
    * Scale shape: the snapshot is hash-bucketed on the canonical host;
    * a batch rewrites only the buckets holding (its own hosts' reps ∪
    * representatives its merges retired ∪ their survivors) — the
    * label DIFF, node-sized by the `maxNodes` bound, never the edge
    * volume. Per-batch cost scales with |batch| + |affected buckets|.
    *
    * Replay/crash contract (edge sums are per-batch FACTS — a sum is
    * not a fixed point, unlike [[cdcStream]]'s versioned merge):
    * idempotence comes from an applied-batch watermark in the layout
    * meta — a replayed batch id ≤ the watermark skips the fold (labels
    * re-run anyway; re-adding merged edges is the identity). Edges
    * commit BEFORE labels so a crash between them replays with the
    * prior labels and recomputes the same diff. An `.inflight` marker
    * brackets the fold: found on restart above the watermark = the
    * dynamic overwrite crashed mid-commit (buckets possibly half
    * moved) — fail loudly, rebuild from the raw edge log. The meta
    * also pins the writer id (from the checkpoint path): a second
    * stream pointed at the same snapshot fails instead of interleaving
    * watermarks. MONOTONE like the labels it rides on — edge
    * retraction requires an offline re-close and a fresh snapshot. */
  def canonEdgesStream(edges: DataFrame, labelsPath: String,
                       canonPath: String, checkpoint: String,
                       srcCol: String = "src", hostCol: String = "dst_host",
                       weightCol: String = "n_links", nBuckets: Int = 64,
                       maxNodes: Long = 1L << 20)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val writer = writerIdFor(checkpoint)
    edges.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        applyCanonBatch(batch.toDF(), id, labelsPath, canonPath, writer,
          srcCol, hostCol, weightCol, nBuckets, maxNodes)
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** The maintained canonical-edge table: `(srcCol, canon_host,
    * weightCol)`, weights summed over every edge applied so far. */
  def readCanonEdges(spark: org.apache.spark.sql.SparkSession,
                     canonPath: String): DataFrame =
    Store.CanonEdges.at(spark, canonPath).readAll(None)

  /** One micro-batch of [[canonEdgesStream]] — package-visible so
    * parity/replay/crash are spec-testable (the applyCdcBatch
    * discipline). See the stream doc for the ordering and idempotence
    * argument. */
  private[graft] def applyCanonBatch(batch: DataFrame, batchId: Long,
                                     labelsPath: String, canonPath: String,
                                     writer: String, srcCol: String,
                                     hostCol: String, weightCol: String,
                                     nBuckets: Int, maxNodes: Long): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val canon = Store.CanonEdges.at(spark, canonPath)
    val inflight = Store.Inflight.at(spark, canonPath + ".inflight")
    // ---- meta: watermark + writer ownership + crash marker ----
    val stored = canon.meta
    stored.foreach { m =>
      require(m.nBuckets == nBuckets,
        s"canonical snapshot at $canonPath is laid out with " +
          s"nBuckets=${m.nBuckets}, stream configured $nBuckets — " +
          "pruning would rewrite the wrong buckets")
    }
    val applied = stored.fold(-1L)(_.applied)
    // two writers' batch watermarks cannot interleave — the first batch
    // claims the store atomically (exclusive sidecar create, r19), and
    // every later batch must match the owner
    canon.claim(Some(writer), stored.map(_.writer))
    inflight.meta.foreach { b =>
      require(b <= applied,
        s"canonical snapshot at $canonPath has an inflight marker for " +
          s"batch $b above the applied watermark $applied — the fold's " +
          "dynamic overwrite crashed mid-commit and buckets may be half " +
          "moved; rebuild the snapshot from the raw edge log")
      inflight.removeMeta() // stale marker: batch landed
    }
    // ---- label phase: bipartite contraction over (src:, host:) ----
    val labelStore = Store.Labels.at(spark, labelsPath)
    val prior = priorLabels(labelStore)
    // a canonical table without its labels cannot re-key correctly:
    // closing over this batch alone would elect wrong representatives
    require(prior.isDefined || applied < 0L,
      s"canonical snapshot at $canonPath exists but its labels at " +
        s"$labelsPath are gone — rebuild both from the raw edge log")
    // the labels store is claimed too (r19): the canon fold re-keys
    // against exactly these labels, and a concurrent componentsStream
    // (or second canon stream) folding the same labelsPath would lose
    // edges to the read-fold-overwrite race
    labelStore.claim(Some(writer), None)
    // one eager cut of the batch: the two batch consumers (pairs + the
    // fold's canon agg) read one materialization instead of re-deriving
    // the source. The scope releases it, the closure's labels and the
    // write cut when the batch ends; a caller's checkpoints upstream of
    // `batch` are not its to release.
    Cut.scope {
      val b = batch.cutNow()
      val pairs = b.select(
        concat(lit("src:"), col(srcCol).cast("string")).as("a"),
        concat(lit("host:"), col(hostCol).cast("string")).as("b"))
      val newLabels = nextLabels(prior, pairs, "a", "b", "node").cutNow()
      val n = Cut.rows(newLabels).get
      require(n <= maxNodes,
        s"canonEdgesStream labeling grew to $n nodes (> $maxNodes) — " +
          "bounded host/source domains only")
      if (batchId > applied) {
        inflight.writeMeta(batchId)
        foldCanonBatch(b, newLabels, prior, canon, srcCol, hostCol,
          weightCol, nBuckets)
        canon.writeMeta(CanonMeta(nBuckets, writer, batchId))
        inflight.removeMeta()
      }
      // labels LAST: a crash above replays against the prior labels and
      // recomputes the same rep diff (see the ordering argument)
      newLabels.write.mode("overwrite").parquet(labelsPath)
      // the labels marker goes through labelsPath's OWN FileSystem —
      // the two paths may live on different schemes
      labelStore.writeMeta(())
    }
  }

  /** The fold: batch edges canonicalized under `newLabels`, retired
    * representatives re-keyed onto their survivors, touched buckets
    * sum-merged and dynamically overwritten (with an explicit delete of
    * any touched bucket the re-key emptied — dynamic mode would leave
    * its stale files behind, the compactCdcSnapshot lesson).
    * `priorLabels` is the stored labeling the batch contracted over
    * (None on the very first batch — nothing stored to re-key). */
  private def foldCanonBatch(batch: DataFrame, newLabels: DataFrame,
                             priorLabels: Option[DataFrame],
                             canon: Store[CanonMeta],
                             srcCol: String, hostCol: String,
                             weightCol: String, nBuckets: Int): Unit = Cut.scope {
    // ONE root listStatus: layout detection + the touched-dir existence
    // filter (the applyCdcBatch r17 rule — a recursive full listing
    // grows with the whole snapshot and taxes every batch)
    val canonDirs = canon.dirs
    val exists = canonDirs.nonEmpty
    def bucketOf(c: Column): Column =
      pmod(xxhash64(c), lit(nBuckets)).cast("int")
    // a bipartite component always elects a host ('host:' < 'src:'
    // and every edge touches a host), so label minus prefix is a host
    val canonOf = newLabels.where(col("node").startsWith("host:"))
      .select(expr("substring(node, 6)").as(hostCol),
        expr("substring(component, 6)").as("canon_host"))
    // label frames read from LogicalRDD checkpoints (no stats):
    // broadcast the node-sized sides explicitly, the llm_host_canon
    // rule. Cut: consumed by bucket discovery AND the merge.
    val batchCanon = batch
      .join(broadcast(canonOf), hostCol)
      .groupBy(col(srcCol), col("canon_host"))
      .agg(sum(col(weightCol).cast("long")).as(weightCol))
      .cutNow()
    // representatives this batch RETIRED: a stored row's canon_host is
    // always a prior rep (self-labeled node), so the re-key map is the
    // prior reps whose label moved — node-sized, never edge-sized
    val repMap = priorLabels.filter(_ => exists).map { prior =>
      prior.where(col("node") === col("component")).select(col("node"))
        .join(newLabels, "node")
        .where(col("node") =!= col("component"))
        .select(expr("substring(node, 6)").as("old_rep"),
          expr("substring(component, 6)").as("new_rep"))
    }
    // touched buckets: batch reps ∪ retired reps ∪ survivors —
    // bucket ids collected driver-side, bounded by nBuckets
    val touchedFrames =
      batchCanon.select(bucketOf(col("canon_host")).as("b")) +:
        repMap.toSeq.flatMap(m => Seq(
          m.select(bucketOf(col("old_rep")).as("b")),
          m.select(bucketOf(col("new_rep")).as("b"))))
    val touched = touchedFrames.reduce(_ unionByName _)
      .distinct().collect().map(_.getInt(0)).sorted
    val merged0 =
      if (!exists) batchCanon
      else {
        // read ONLY the touched buckets (an all-new touched set merges
        // against an empty frame carrying the stored schema)
        val existing = canon.read(canon.schema(None, canonDirs), canonDirs, touched)
        val rekeyed = repMap match {
          case None => existing
          case Some(m) => existing
            .join(broadcast(m), col("canon_host") === col("old_rep"),
              "left")
            .select(col(srcCol),
              coalesce(col("new_rep"), col("canon_host")).as("canon_host"),
              col(weightCol))
        }
        rekeyed.unionByName(batchCanon)
          .groupBy(col(srcCol), col("canon_host"))
          .agg(sum(col(weightCol)).as(weightCol))
      }
    // sever the snapshot self-read pre-overwrite; the same job gathers
    // the buckets the merge writes
    val (merged, written) = merged0.cutNow(bucketOf(col("canon_host")))
    canon.write(merged, bucketOf(col("canon_host")), dynamic = true)
    // a touched bucket whose rows ALL re-keyed away is absent from
    // `merged` — dynamic overwrite leaves its stale files; delete
    // explicitly (crash before this point = inflight marker trips)
    canon.removeBuckets(touched.toSet -- written)
  }

  final case class UserRunning(user_id: Long, n: Long, total: Double)

  /** T5b custom keyed state: running per-user count/sum via
    * flatMapGroupsWithState — the engine's `mapGroupsWithState` surface. */
  def runningPerUser(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.n
          // accumulate in exact long cents, not double: within-group
          // iteration order is nondeterministic and a double sum's rounding
          // depends on it (repo decimal-money rule, SURVEY §2.9-bis).
          // values are 2dp by contract so round(v*100) is exact.
          var cents = math.round(prev.total * 100)
          it.foreach { e => n += 1; cents += math.round(e.value * 100) }
          val next = UserRunning(uid, n, cents / 100.0)
          state.update(next)
          Iterator.single(next)
      }
  }
}
