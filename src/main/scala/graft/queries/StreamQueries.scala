package graft.queries

import graft.core.Cut.CutOps
import graft.model.Tables
import graft.streaming.StreamOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Streaming semantics, verified via their batch equivalents (SURVEY §2.8):
  * Verify.scala writes static parquet, so the declared queries run the SAME
  * logical window ops (graft.streaming.StreamOps) on the batch events
  * table; MemoryStream specs assert batch/stream parity for the
  * streaming-only pieces (watermark, stateful dedup, custom state).
  */
object StreamQueries {

  val all: Seq[Q] = Seq(

    Q("stream_tumbling",
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start, event_type,
        |  count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) {
      (spark, sf) =>
        StreamOps.tumbling(Tables.events(spark, sf), "1 hour")
          .orderBy("win_start", "event_type")
    },

    Q("stream_sliding",
      """SELECT CAST(ws AS TIMESTAMP) AS win_start, count(*) AS n FROM (
        |  SELECT unnest([date_trunc('hour', ts),
        |                 date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws
        |  FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin) {
      (spark, sf) =>
        StreamOps.sliding(Tables.events(spark, sf), "2 hours", "1 hour")
          .orderBy("win_start")
    },

    Q("stream_session",
      """WITH m AS (
        |  SELECT user_id, ts, event_id,
        |    -- <= : session_window merges events landing exactly on the
        |    -- previous session's end (gap boundary is inclusive)
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |              <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS brk
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    -- same (ts, event_id) tiebreak as the lag above: a ROWS frame
        |    -- ordered by ts alone leaves tied rows' visit order to the
        |    -- engine, and a tied pair straddling a session break would
        |    -- get sids flakily (brk was assigned under the full order)
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start, count(*) AS n
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) {
      (spark, sf) =>
        StreamOps.sessions(Tables.events(spark, sf), "30 minutes")
          .orderBy("user_id", "session_start")
    },

    // T5 stateful op on the batch surface: flatMapGroupsWithState executes
    // in batch mode too (each group seen once), so the same code path the
    // MemoryStream specs exercise is also driver-verifiable. The final
    // per-user projection is deterministic (count + exact-cents sum), so it
    // carries a full oracle: max(n)/max(total) over the single batch
    // emission ≡ per-user count/sum.
    // Windowed quantile sketch on the batch surface (r15): per-hour GK
    // summaries (constant state per window — the streaming-percentile
    // story), queried driver-side at p50 and gated on the rank window
    // with a ±1 slack for the 1-row windows the sf0.001 fixture has;
    // the exact per-window median rides the hash (quantile_disc lane).
    Q("stream_quantile",
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS win_start,
        |  CAST(count(*) AS BIGINT) AS n,
        |  quantile_disc(value, 0.5) AS exact_p50,
        |  TRUE AS within_rank_eps
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, sf) =>
      import spark.implicits._
      val parts = StreamOps.windowedQuantileSketch(
        Tables.events(spark, sf), "1 hour").collect()
      require(parts.length <= 4096,
        s"windowed sketch collect expects bounded windows, got ${parts.length}")
      val ests = parts.toSeq.map { r =>
        (r.getTimestamp(0), graft.functions.QuantileSketch
          .query(graft.functions.QuantileSketch
            .fromBytes(r.getAs[Array[Byte]]("sk")), 0.5)
          .getOrElse(sys.error("empty window sketch")))
      }.toDF("win_start", "est")
      val ev = Tables.events(spark, sf)
        .select(date_trunc("hour", col("ts")).as("win_start"), col("value"))
      ev.join(broadcast(ests), "win_start")
        .groupBy("win_start")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(when(col("value") < col("est"), 1L).otherwise(0L))
            .cast("long").as("__lo"),
          sum(when(col("value") <= col("est"), 1L).otherwise(0L))
            .cast("long").as("__hi"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)")
            .as("exact_p50"))
        .select(col("win_start"), col("n"), col("exact_p50"),
          (((col("__lo") + 1L) * 10000L <= lit(5100L) * col("n") + 10000L) &&
            (col("__hi") * 10000L >= lit(4900L) * col("n") - 10000L))
            .as("within_rank_eps"))
        .orderBy("win_start")
    },

    // Streaming funnel on the batch surface (r15): transformWithState
    // executes in batch mode too (each user's whole history is one
    // group, so the keyed state machine IS the batch greedy-earliest
    // fold — FunnelStreamSpec pins stream-trigger convergence), which
    // lets the v2-state operator carry op_funnel's own oracle.
    Q("stream_funnel",
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) tsu, event_type tp, event_id
        |  FROM events),
        |l AS (
        |  SELECT user_id,
        |    list(struct_pack(k := 0, ts := tsu, tp := tp)
        |      ORDER BY tsu, event_id) evs
        |  FROM e GROUP BY 1),
        |f AS (
        |  SELECT user_id,
        |    list_reduce(
        |      list_prepend(struct_pack(k := 0, ts := 0::BIGINT, tp := ''), evs),
        |      (s, x) -> CASE
        |        WHEN s.k < 3 AND x.tp = (['view', 'click', 'purchase'])[s.k + 1]
        |          AND (s.k = 0 OR x.ts - s.ts <= 86400000000)
        |        THEN struct_pack(k := s.k + 1, ts := x.ts, tp := '')
        |        ELSE struct_pack(k := s.k, ts := s.ts, tp := '') END) st
        |  FROM l)
        |SELECT user_id, CAST(st.k AS BIGINT) steps_completed,
        |  CASE WHEN st.k = 3 THEN st.ts END AS completed_ts_us
        |FROM f ORDER BY user_id""".stripMargin) { (spark, sf) =>
      StreamOps.funnelStream(Tables.eventsDs(spark, sf),
          Seq("view", "click", "purchase"), maxGapUs = 86400000000L)
        .toDF()
        .orderBy("user_id")
    },

    // Streaming CDC (r16, verdict ask 2): the op_upsert fixture replayed
    // through the streaming sink's MERGE (Cdc.mergeVersioned — the exact
    // function cdcStream's foreachBatch applies per micro-batch),
    // version-split into two "batches" arriving OUT of version order:
    // all v2 deletes first, then the v1 updates/inserts late. The
    // versioned snapshot's version memory + tombstones make the chained
    // result equal the whole-log batch upsert — which is the oracle
    // (op_upsert's SQL verbatim). Disk/state live in CdcStreamSpec's
    // e2e (MemoryStream → bucketed parquet, replay idempotence); this
    // face pins the merge SEMANTICS under the DuckDB gate tri-scale.
    Q("stream_cdc_upsert",
      CdcFixture.changelogCtes + "\n" + CdcFixture.mergedSelect) {
      (spark, sf) =>
      import graft.relational.Cdc
      val (base, rawChanges) = CdcFixture.baseAndChanges(spark, sf)
      // changelog-sized cut: two micro-batches filter ONE planted frame —
      // uncut, each would re-derive (and re-scan) the orders projection
      val changes = rawChanges.cut()
      val deletesFirst = changes.where(col("version") === 2L)
      val lateLower = changes.where(col("version") === 1L)
      val s0 = Cdc.bootstrap(base, Seq("o_orderkey"))
      val s1 = Cdc.mergeVersioned(s0, deletesFirst, Seq("o_orderkey"))
      val s2 = Cdc.mergeVersioned(s1, lateLower, Seq("o_orderkey"))
      Cdc.publicSnapshot(s2).orderBy("o_orderkey")
    },

    // Merge-on-read (r17, verdict ask 1): the read path every CDC
    // deployment queries BETWEEN sink batches — latest state = stored
    // bucketed snapshot + the changelog tail the sink has not applied
    // yet, merged at read time (StreamOps.readLatest). The fixture
    // replays stream_cdc_upsert's out-of-order split through the REAL
    // disk lifecycle: bootstrap the %3 base into a bucketed snapshot,
    // let the sink apply the v2 deletes, hold back the late v1
    // updates/inserts as the un-applied tail — merge-on-read must equal
    // the whole-log batch upsert (the same oracle SQL verbatim). Only
    // the tail's key-hash buckets flow through the full-outer merge;
    // untouched buckets union in as a plain pruned scan (the
    // partition-filter spec lives in CdcStreamSpec).
    Q("stream_cdc_read_latest",
      CdcFixture.changelogCtes + "\n" + CdcFixture.mergedSelect) {
      (spark, sf) =>
      import graft.relational.Cdc
      val (base, rawChanges) = CdcFixture.baseAndChanges(spark, sf)
      val changes = rawChanges.cut()
      val applied = changes.where(col("version") === 2L) // sink got these
      val tail = changes.where(col("version") === 1L)    // un-applied tail
      val snap = Q.createTempDirectory("cdc_mor_q") + "/snap"
      StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("o_orderkey")),
        snap, Seq("o_orderkey"), nBuckets = 16)
      StreamOps.applyCdcBatch(applied, snap, Seq("o_orderkey"),
        "version", "op", nBuckets = 16)
      StreamOps.readLatest(spark, snap, tail, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    },

    // Time travel (r17, the round-16 stretch ask; r18: over the FULL
    // retention lifecycle): state AS OF version 1 from a RETAINED
    // snapshot + the changelog recorded since it (StreamOps.readAsOf =
    // Cdc.asOf with the tail's key-hash buckets pruning the snapshot
    // read). The fixture bootstraps the %3 base, FREEZES it with
    // retainSnapshot (the r18 engine-owned retention artifact,
    // retained=0), lets the LIVE snapshot advance past the cut (the
    // sink applies the v2 deletes — reading IT as-of 1 would raise),
    // then time-travels over the frozen copy with the whole changelog
    // as the retained segment: the v1 updates/inserts apply, the v2
    // deletes are filtered before bucket discovery — the version-1
    // cut of the log (oracle: the same merge SELECT over
    // latest-per-key WHERE v <= 1). Freshness guard (incl. the
    // delete-only advance), mutation-refusal, and bucket pruning are
    // spec'd in CdcStreamSpec.
    Q("stream_cdc_read_asof",
      CdcFixture.changelogCtes + CdcFixture.asOfV1Ctes + "\n" +
        CdcFixture.mergedSelectOn("l1v")) {
      (spark, sf) =>
      import graft.relational.Cdc
      val (base, rawChanges) = CdcFixture.baseAndChanges(spark, sf)
      val changes = rawChanges.cut()
      val snap = Q.createTempDirectory("cdc_asof_q") + "/snap"
      StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("o_orderkey")),
        snap, Seq("o_orderkey"), nBuckets = 16)
      val (retained, _) = StreamOps.retainSnapshot(spark, snap)
      StreamOps.applyCdcBatch(changes.where(col("version") === 2L),
        snap, Seq("o_orderkey"), "version", "op", nBuckets = 16)
      StreamOps.readAsOf(spark, retained, changes, asOfVersion = 1L,
          Seq("o_orderkey"))
        .orderBy("o_orderkey")
    },

    // Point lookup (r18, the r17 "what's missing #4"): latest state of
    // a bounded key set — the serving query a CDC deployment runs
    // per-request (StreamOps.readKeys). Same disk lifecycle as
    // read_latest (bootstrap, sink applies the v2 deletes, v1 tail
    // un-applied), probed with a planted key set spanning base
    // passthrough / updated / deleted / inserted / absent classes;
    // ONLY those keys' buckets are read (≤ |keys| dirs, no untouched
    // leg — the file gate lives in CdcStreamSpec). Oracle: the
    // whole-log merge restricted to the same wanted set.
    Q("stream_cdc_read_keys",
      CdcFixture.changelogCtes + CdcFixture.wantedKeysCte + "\n" +
        CdcFixture.keyedSelect) {
      (spark, sf) =>
      import graft.relational.Cdc
      val (base, rawChanges) = CdcFixture.baseAndChanges(spark, sf)
      val changes = rawChanges.cut()
      val applied = changes.where(col("version") === 2L)
      val tail = changes.where(col("version") === 1L)
      val snap = Q.createTempDirectory("cdc_keys_q") + "/snap"
      StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("o_orderkey")),
        snap, Seq("o_orderkey"), nBuckets = 16)
      StreamOps.applyCdcBatch(applied, snap, Seq("o_orderkey"),
        "version", "op", nBuckets = 16)
      // request-sized, consumed thrice (bucket discovery + two
      // broadcast semi-joins) — cut once, never re-derive the scan
      val wanted = CdcFixture.wantedKeys(spark, sf).cut()
      StreamOps.readKeys(spark, snap, wanted, tail, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    },

    // Schema evolution (r17): the full additive-evolution lifecycle on
    // disk — bootstrap WITHOUT the column, evolveCdcSnapshot (an O(1)
    // meta append, no data rewrite), then a sink batch and a
    // merge-on-read tail that both carry it. Readers pass the meta's
    // logical schema explicitly, so the pre-evolution bootstrap files
    // null-backfill (base-only keys read NULL o_note) while evolved
    // batches' values surface — the mixed-generation read footer
    // inference would get wrong. Oracle: the whole-log merge with the
    // note column, NULL unless the winning change carries one.
    Q("stream_cdc_evolve", CdcFixture.notedOracle) {
      (spark, sf) =>
      import graft.relational.Cdc
      val (base, rawChanges) = CdcFixture.baseAndNotedChanges(spark, sf)
      val changes = rawChanges.cut()
      val applied = changes.where(col("version") === 2L)
      val tail = changes.where(col("version") === 1L)
      val snap = Q.createTempDirectory("cdc_evolve_q") + "/snap"
      StreamOps.writeCdcSnapshot(Cdc.bootstrap(base, Seq("o_orderkey")),
        snap, Seq("o_orderkey"), nBuckets = 16)
      StreamOps.evolveCdcSnapshot(spark, snap,
        Seq("o_note" -> org.apache.spark.sql.types.StringType))
      StreamOps.applyCdcBatch(applied, snap, Seq("o_orderkey"),
        "version", "op", nBuckets = 16)
      StreamOps.readLatest(spark, snap, tail, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    },

    // Changelog DERIVATION (r18): diffSnapshots — the inverse of
    // upsert, for deployments that receive periodic full dumps instead
    // of a log. prev = the %3 base; next = the same base with %21 keys
    // updated (priority + price), %15 keys REMOVED, and %33 inserts
    // under fresh ids (the CdcFixture change classes, applied as dump
    // deltas). The emitted changelog must be exactly {U for changed/new
    // keys with next's payload, D for vanished keys} — unchanged keys
    // (the bulk) emit nothing. The defining law upsert(prev, diff) ==
    // next is spec-pinned in CdcSpec; this face gates the row-level
    // diff itself against the SQL full-outer IS DISTINCT FROM replay.
    Q("stream_cdc_diff",
      """WITH o AS (
        |  SELECT o_orderkey k, o_orderpriority p, o_totalprice t FROM orders),
        |prev AS (SELECT k, p, t FROM o WHERE k % 3 = 0),
        |next AS (
        |  SELECT k,
        |    CASE WHEN k % 21 = 0 THEN 'X-UPD' ELSE p END AS p,
        |    CASE WHEN k % 21 = 0 THEN t + 1.0 ELSE t END AS t
        |  FROM o WHERE k % 3 = 0 AND k % 15 <> 0
        |  UNION ALL
        |  SELECT k + 100000000, '9-NEW', t FROM o WHERE k % 33 = 0)
        |SELECT coalesce(p.k, n.k) AS o_orderkey,
        |  CASE WHEN n.k IS NULL THEN p.p ELSE n.p END AS o_orderpriority,
        |  CASE WHEN n.k IS NULL THEN p.t ELSE n.t END AS o_totalprice,
        |  CAST(7 AS BIGINT) AS version,
        |  CASE WHEN n.k IS NULL THEN 'D' ELSE 'U' END AS op
        |FROM prev p FULL OUTER JOIN next n ON p.k = n.k
        |WHERE p.k IS NULL OR n.k IS NULL
        |  OR (p.p IS DISTINCT FROM n.p) OR (p.t IS DISTINCT FROM n.t)
        |ORDER BY o_orderkey""".stripMargin) { (spark, sf) =>
      import graft.relational.Cdc
      val o = Tables.orders(spark, sf)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      val prev = o.where(pmod(col("o_orderkey"), lit(3)) === 0)
      // next carved from ONE scan projection (the one-scan planting
      // rule): per order row emit [surviving-base-row?, insert?]
      def row(k: Column, p: Column, t: Column) =
        struct(k.as("o_orderkey"), p.as("o_orderpriority"),
          t.as("o_totalprice"))
      val next = o.select(explode(array(
          when(pmod(col("o_orderkey"), lit(3)) === 0 &&
              pmod(col("o_orderkey"), lit(15)) =!= 0,
            row(col("o_orderkey"),
              when(pmod(col("o_orderkey"), lit(21)) === 0, lit("X-UPD"))
                .otherwise(col("o_orderpriority")),
              when(pmod(col("o_orderkey"), lit(21)) === 0,
                col("o_totalprice") + 1.0d)
                .otherwise(col("o_totalprice")))),
          when(pmod(col("o_orderkey"), lit(33)) === 0,
            row(col("o_orderkey") + 100000000L, lit("9-NEW"),
              col("o_totalprice")))))
          .as("c"))
        .where(col("c").isNotNull)
        .select(col("c.*"))
      Cdc.diffSnapshots(prev, next, Seq("o_orderkey"), version = 7L)
        .orderBy("o_orderkey")
    },

    Q("stream_state",
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) {
      (spark, sf) =>
        StreamOps.runningPerUser(Tables.eventsDs(spark, sf))
          .groupBy("user_id")
          .agg(max("n").as("n_events"), max("total").as("total"))
          .orderBy("user_id")
    }
  )
}
