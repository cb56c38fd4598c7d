package graft.queries

/** Per-query EXECUTED shuffle budgets — the round-12 verdict's "next
  * cost class after scans". Every `groupBy`/`join`/`distinct`/
  * `repartition`/global sort is a shuffle exchange; at 100 TB each one
  * is a full-corpus network pass, and the r8–r11 history shows exactly
  * this class regressing by accident (`.distinct()` on a probe side
  * feeding a semi-join, stages re-derived per consumer). Scans are
  * gated; this gates shuffles.
  *
  * Semantics: running a declared query to completion at sf0.001 (one
  * noop-sink action, builder jobs included — same protocol as the
  * executed scan gate) may materialize at most `budget(name)` DISTINCT
  * shuffle RDDs (`ShuffledRowRDD` for SQL exchanges, `ShuffledRDD` for
  * RDD-level ops), counted across all jobs of the action by
  * `graft.plans.ExchangeBudgetSpec`. A reused exchange counts once —
  * the count is shuffles COMPUTED, not shuffle operators planned.
  *
  * The numbers are RATCHETS pinned to the measured actuals at gate
  * landing (2026-08-14, AQE on, sf0.001): lower (or delete) an entry in
  * the same commit as the fix that earns it; never raise. The default
  * covers the bulk of the registry — a scan + one aggregation/join +
  * the declared ORDER BY.
  *
  * AQE note: counts are what ACTUALLY executed under
  * spark.sql.adaptive.enabled=true — a broadcast-converted join or an
  * eliminated empty-side shuffle does not count, so the gate also locks
  * in AQE wins.
  */
object ExchangeBudgets {
  /** Max distinct executed shuffle RDDs per declared query at sf0.001. */
  val default: Int = 3

  /** Measured actuals at gate landing, by class:
    * - connected-components iteration (each label-propagation round is
    *   a self-join + agg over the edge frame — shuffles scale with
    *   rounds; the r13 closure rework cut this whole class): split_safe,
    *   dedup_cluster, quality_dedup, curate_full[_poly] (compose the
    *   near-dup CC closure).
    * - select_full: no CC — its 14 are the DSIR histogram stages, the
    *   per-source budget window, unimax's strata/water-fill stages and
    *   the shuffleShards global sort + offset index, each a distinct
    *   key. The documented composite shape.
    * - k-means training rounds (one agg shuffle per Lloyd round +
    *   init): ivf_train[_poly], semdedup[_q].
    * - multi-stage composites where each stage legitimately re-keys
    *   (stats → strata → allocation → layout): assemble, unimax,
    *   curriculum, dsir, mix_audit, ingest, tfidf (df → idf → join →
    *   norm), manifest, dup_mass, quality_tiers, adaptive_gate.
    * - snapshot+delta double pipelines: dedup_incremental[_near,
    *   _near_poly], contamination_bloom/_report, domain_boilerplate,
    *   pq_persist, ivf_pq (index build + query side).
    * - RDD-level zip (zipWithIndex repartitions both sides): op_zip.
    * - DSv2 write + read-back round trip: src_shard_jsonl. */
  val perQuery: Map[String, Int] = Map(
    // two independent aggregation pipelines by design: partial-sketch
    // groupBy + union agg on one side, exact distinct (2-phase) on the
    // other — the contract being gated IS that both paths exist
    "agg_hll_merge"                   -> 4,
    // r21: the exact-percentile replay moved from three percentile_disc
    // buffers (each the whole column in ONE final-agg task) onto
    // Aggs.discreteRankPass — the +1 is the value-HISTOGRAM partial agg
    // exchange (distinct-values-sized partials, narrow (v, count) rows),
    // bought against removing all three full-column buffers; measured
    // 1.50 s → 0.66 s min-of-5 at sf0.1/32 (plans/r21/)
    "agg_quantile_merge"              -> 4,
    "llm_adaptive_gate"               -> 4,
    "llm_assemble"                    -> 6,
    // margin mining re-keys by construction: k-NN sums per SIDE (2
    // groupBys), margin join against both sums (2 joins), per-side
    // argmax (2 groupBys), the mutual equi-join, the declared sort,
    // plus the scored-frame build joins — measured 10 at landing
    "llm_bitext_margin"               -> 10,
    // the LSH production face: the brute face's 10 minus nothing (the
    // cross join was exchange-free) plus the candidate stage's
    // signature equi-join and its load-bearing DISTINCT (a pair
    // sharing several tables must score once) — every added exchange
    // is signature- or candidate-sized, never |src|×|tgt|
    "llm_bitext_margin_lsh"           -> 11,
    // per-lang tercile machinery: histogram groupBy, per-lang CDF window
    // partition, per-lang totals + cut election over the (checkpoint-cut)
    // histogram frame, declared sort — every exchange histogram- or
    // |langs|-sized except the first; measured 5 at landing
    "llm_ccnet_buckets"               -> 5,
    "llm_contamination_bloom"         -> 5,
    "llm_contamination_report"        -> 4,
    // 22 → 18: the pair stage's eager cuts carry their measured row
    // counts, so its candidate-sized joins plan as broadcasts
    "llm_curate_full"                 -> 18,
    "llm_curate_full_poly"            -> 18,
    "llm_curriculum"                  -> 5,
    "llm_dedup_cluster"               -> 18,
    // r16 outlink-graph components: one corpus-sized edge aggregation
    // (outlinks' groupBy, paid at the closure's edge cut), then the
    // CC-iteration class on the 104-node bipartite graph — each
    // propagation round re-keys the edge frame (neighbour-min agg +
    // pointer-jump self-join) plus the declared sort
    "llm_components"                  -> 13,
    // the incremental face runs TWO closures by design — the prior
    // star-graph labeling plus the incremental relabel over its
    // contraction — each paying the CC-iteration class per round;
    // the corpus is scanned ONCE (edge cut), executed scans = 1
    "llm_components_incremental"      -> 30,
    // canonicalization = the components closure (13) plus the
    // host-keyed rewrite join + (src, canon) re-aggregation over the
    // weighted edge cut
    "llm_host_canon"                  -> 14,
    // r17 maintained face runs the whole DISK LIFECYCLE in-query:
    // wave-1 bootstrap closure (the llm_components CC-iteration class)
    // + wave-2 incremental relabel (the _incremental second-closure
    // class) + two snapshot folds (batch canon agg + touched-bucket
    // discovery distinct + sum-merge each). Production per-batch cost
    // is ONLY the incremental + one fold; the bootstrap closure is the
    // fixture's cold start, priced here like _incremental's.
    // 35 → 37 (r17, a DELIBERATE raise): each fold's snapshot write now
    // clusters by bucket first — one exchange of only the rows being
    // written per fold (two folds in this fixture), killing the
    // nTasks-files-per-bucket layout the cdc_sink_prune probe measured
    // at 3× batch cost under a 10× snapshot (listing-bound).
    // 37 → 33: each batch reads its label count off the eager cut and
    // its written buckets off the merge cut's own job — no count
    // aggregate, no distinct over the cut (two batches)
    "llm_host_canon_stream"           -> 33,
    // sweep: banding groupBy + bucket-pair distinct + the multi-distinct
    // Expand aggregate over the CANDIDATE frame + the |thresholds| sort
    "llm_dedup_sweep"                 -> 4,
    "llm_dedup_incremental"           -> 4,
    "llm_dedup_incremental_near"      -> 8,
    "llm_dedup_incremental_near_poly" -> 8,
    "llm_domain_boilerplate"          -> 5,
    "llm_dsir"                        -> 5,
    "llm_dup_mass"                    -> 4,
    "llm_ingest"                      -> 8,
    "llm_ivf_pq"                      -> 4,
    "llm_ivf_train"                   -> 5,
    "llm_ivf_train_poly"              -> 5,
    "llm_manifest"                    -> 4,
    "llm_mix_audit"                   -> 8,
    // phrases: pair-count groupBy (the one corpus-sized exchange) +
    // the checkpointed vocab-sized unigram agg + 1-row total + final
    // sort; backoff adds the second (score-slice) scan's doc agg and
    // a third tiny count table (c3 filters, c2/c1 aggregate once each
    // behind their cuts)
    "llm_phrases"                     -> 4,
    "llm_backoff_score"               -> 6,
    // ann_recall composes TWO search paths (brute truth + LSH approx)
    // plus the recall join: brute top-k heap, the LSH signature
    // equi-join pair + candidate distinct + top-k, and the two
    // list-sized recall aggregates — every exchange past the two index
    // builds is top-k-bounded
    "llm_ann_recall"                  -> 7,
    // hard-negative mining: the signature bucket equi-join, its
    // load-bearing candidate DISTINCT, the bounded-heap top-k
    // aggregate, and the declared (qid, rank) sort — the anti join and
    // both scoring attaches ride the cuts without re-keying; every
    // exchange past the bucket join is candidate- or top-k-sized
    "llm_hard_negatives"              -> 4,
    // host_rank: ONE corpus-sized exchange (the edge aggregation);
    // everything after — host-set distinct, out-degrees, one
    // contribution groupBy per power round (3), final sort — runs on
    // |hosts|-sized frames with rank lookups broadcast
    "llm_host_rank"                   -> 8,
    // doremi: ONE corpus exchange (the domain aggregate, paid at the
    // cut); count + two tiny-frame totals + the 5-row final sort
    "llm_doremi"                      -> 5, // r14: n+maxLoss guards share one agg head (was 6)
    "llm_pq_persist"                  -> 4,
    "llm_quality_dedup"               -> 20,
    "llm_quality_tiers"               -> 4,
    "llm_select_full"                 -> 14,
    "llm_semdedup"                    -> 5,
    "llm_semdedup_q"                  -> 5,
    "llm_split_safe"                  -> 18,
    "llm_tfidf"                       -> 6,
    "llm_unimax"                      -> 6,
    // r15 retention redesign: collect_set's ObjectHashAggregate
    // sort-fallback traded for one extra user-days-sized exchange —
    // (user,day) distinct, window user-hash, cells agg, declared sort
    "op_retention"                    -> 4,
    "op_zip"                          -> 5,
    // r16 streaming-CDC face: TWO chained micro-batch merges by design
    // (the out-of-order replay being gated) — per merge a changelog
    // latest-per-key window hash that the USING-join RIDES (the <=>
    // form hashed on (coalesce,isnull) and paid 7), plus the base
    // exchange, the full-outer re-key between merges (full-outer
    // output partitioning is Unknown to the planner), and the sort
    "stream_cdc_upsert"               -> 5,
    // r17 merge-on-read face: the REAL disk lifecycle runs in-query
    // (bootstrap write, one sink batch, then readLatest) — two merges
    // (sink apply + read-time), each = touched-bucket discovery
    // distinct (≤nBuckets ints after map-side combine) + changelog
    // window hash the USING-join rides + the snapshot-side exchange,
    // plus the declared sort. The untouched-bucket union leg is
    // exchange-free by design (plain pruned scan + filter).
    // 7 → 9 (r17, a DELIBERATE raise, not a regression): the two disk
    // writes (bootstrap + sink batch) now each cluster by bucket
    // before the partitioned write — one exchange of only the rows
    // being written, killing the nTasks-files-per-bucket layout whose
    // full-root listing made a fixed batch 3× slower at 10× snapshot
    // (cdc_sink_prune probe, measured before/after: 3.0× → 1.1×).
    // 9 → 8: the sink batch's eager cut gathers its touched buckets
    // (no discovery distinct)
    "stream_cdc_read_latest"          -> 8,
    // r17 time-travel face; 5 → 10 (r18, a DELIBERATE lifecycle
    // extension, not a regression): the face now runs the FULL
    // retention story in-query — retainSnapshot (its max-version
    // floor is one narrow global agg = 1 exchange) and a live sink
    // batch advancing PAST the cut (discovery distinct + changelog
    // window + bucket-clustered write = 3, proving the frozen copy is
    // what makes the read possible) — on top of the r17 shape
    // (bootstrap clustering + readAsOf's filtered-tail discovery +
    // window + snapshot exchange + declared sort, with an extra
    // full-outer side exchange now that the base is the retained
    // copy). Every added exchange is changelog- or single-row-sized;
    // the untouched leg stays exchange-free by design.
    // 10 → 9: the live sink batch's discovery distinct is gone (its
    // eager cut gathers the touched buckets)
    "stream_cdc_read_asof"            -> 9,
    // r18 point-lookup face (readKeys): bootstrap clustering + one
    // sink batch (discovery + window + clustering) + the lookup
    // itself — wanted-keys bucket discovery distinct, the tail's
    // latest-per-key window, the full-outer merge of TWO request-
    // sized semi-filtered sides (both exchanges key-bounded; full
    // outer cannot broadcast, and both sides are ≤|keys| rows by
    // construction — the snapshot side was bucket-pruned and
    // semi-joined to the broadcast key set BEFORE the exchange) +
    // the declared sort. No untouched leg at all — the point priced.
    // 9 → 8: the sink batch's discovery distinct, as read_latest
    "stream_cdc_read_keys"            -> 8,
    // r17 evolution face: read_latest's exact lifecycle (bootstrap
    // incl. bucket clustering + sink batch + merge-on-read) — the
    // evolution step itself is an O(1) meta append costing ZERO
    // exchanges, which is the point being priced
    // 9 → 8: as read_latest
    "stream_cdc_evolve"               -> 8,
    // r17 streaming-dedup disk lifecycle: bootstrap (CDC snapshot +
    // index writes, each bucket/partition-clustered) + TWO
    // applyDedupBatch rounds, each = batch cut + index-probe distinct
    // + corpus-bucket discovery + the capped within-batch banding
    // (groupBy + pair distinct + verify joins) + the corpus-text
    // verify joins + survivor anti-join + CDC merge (window + join +
    // clustering) + the index partition write. Per PRODUCTION batch
    // the cost is roughly half this; the llm_host_canon_stream class.
    // 36 → 32: the explicit candidate-side broadcasts (the LogicalRDD
    // stats-loss rule, probe-caught) removed four SMJ exchanges.
    // 32 → 34 (r18, a DELIBERATE raise): the signature index is now
    // hash-bucketed on (band, sig) and each batch pays ONE extra
    // batch-sized bucket-discovery distinct (×2 batches in this face)
    // to read ONLY its touched index buckets by constructed dir name —
    // trading a ≤nIdxBuckets-int exchange per batch for the r17
    // full-index scan, the last linear-in-corpus per-batch term
    // (dedup_stream_batch probe, re-measured r18).
    // 34 → 15: each batch's eager cuts gather the index and corpus
    // buckets they touch (no discovery distincts), the within-batch and
    // corpus candidates share one distinct and one verify pass, and
    // the cuts' measured row counts plan the candidate-sized joins as
    // broadcasts.
    "llm_dedup_stream"                -> 15,
    // r18 read-only serving probe face: bootstrap (corpus clustering +
    // bucketed index write = 2) + the probe itself — candidate
    // distinct, the gated-broadcast cid distinct, the exact-verify
    // joins over checkpoint-cut candidate frames (SMJ pairs×sets, the
    // priced verifiedDupPairs shape shared with the batch path), the
    // min-evidence agg and the declared sort. Every probe-side
    // exchange is candidate-sized; corpus text moves only for
    // candidate ids.
    // 9 → 7: the candidate cut gathers the corpus buckets it fetches
    // (no discovery distinct) and the fetch is pruned by the verify's
    // own candidate semi-join only
    "llm_dedup_probe"                 -> 7,
    // r19 maintained-ANN lifecycle face: bootstrap (one cell-clustered
    // codes write) + TWO ingest batches (one tail-clustered write
    // each — the write path reads NO index at all) + the serving probe
    // — the routing window ONCE (collected for dir pruning AND passed
    // back into the search as a local relation; 9 → 7 when the
    // in-search re-execution was removed, searchPqIndexWith), the ADC
    // (qid, id) partial-agg exchange, the bounded-heap top-k agg and
    // the declared sort. Only the bootstrap exchange is corpus-sized
    // (the one-time lifecycle price); every serving exchange is
    // request- or candidate-sized. 7 → 8 in r20: the serving read
    // became LATEST-WINS per (id, subspace) — a TAIL-sized window (the
    // one new exchange, bounded by the auto-fold) resolves re-sent and
    // replayed-after-fold generations; the routed base read still
    // flows to the cell join with no index-subset exchange
    // (AnnStreamSpec pins the semantics, the fold receipt pins the
    // cost shape).
    "llm_ann_probe"                   -> 8,
    // the llm_ann_probe lifecycle + the r20 allowIds liveness gate:
    // SAME counts as the unfiltered face — the filter-then-rank
    // semi-join broadcasts below the Joins gate (zero exchanges) and
    // the live-id frame derives from the shared cut (zero scans);
    // the gate is free at this scale by construction
    "llm_ann_probe_filtered"          -> 8,
    // ADC probe (the ivf_pq pipeline, paid ONCE into the candidate
    // cut — measured 9 uncut) + the exact re-rank: candidate-sized
    // broadcast joins (no exchange), the bounded-heap top-k agg and
    // the declared sort
    "llm_ann_rerank"                  -> 5,
    "src_shard_jsonl"                 -> 4)

  def budget(name: String): Int = perQuery.getOrElse(name, default)
}
