package graft.queries

/** Per-query parquet-scan budgets — the standing regression gate for the
  * multi-consumer re-scan class (caught by hand in r8, r9, and r10;
  * automated in r11 per the round-10 verdict).
  *
  * Semantics: for every declared query, the FORMATTED physical plan may
  * contain at most `budget(name)` `Scan parquet` operators **per distinct
  * table**. The default is 2 — a self-join/union/zip of a table with
  * itself inherently plans two scans, and the near-dup verify shape's
  * "signature pass + candidate-pruned text pass" is the documented
  * 100 TB-correct two-read plan. Anything above 2 means some frame feeds
  * multiple consumers without a cut and re-derives the corpus per
  * consumer — at 100 TB each extra count is a full corpus read.
  *
  * The per-query entries below are RATCHETS, not endorsements: each is
  * the measured count at the time the gate landed, committed so the
  * number can never silently grow, and to be driven DOWN as the shapes
  * get the checkpoint-cut treatment. A fixed query's entry must be
  * lowered (or deleted) in the same commit as the fix — the gate fails
  * on regression, the ledger records progress.
  *
  * Enforced by `graft.plans.ScanBudgetSpec` over every
  * [[graft.SparkEntry.queries]] entry at sf0.001.
  */
object ScanBudgets {
  /** Max `Scan parquet` operators per distinct table in one query plan. */
  val default: Int = 2

  /** Ratcheted exceptions, re-measured 2026-08-14 after the round-11
    * cuts (llm_ingest 10→1, llm_dedup_ngram 7→0, llm_curate 4→2,
    * llm_ivf_pq 4→3, llm_dedup_near/_poly 14→0, llm_semdedup 8→0,
    * llm_ann_lsh 4→1 — via candidate-sized lazy checkpoints or fused
    * narrow projections; removed entries now ride the default).
    *
    * Every remaining entry is a DELIBERATE shape, by class:
    * - narrow corpus re-scans chosen over corpus-sized checkpoints (the
    *   incrementalNear discipline — a 100 TB corpus is re-read
    *   column-pruned, never checkpointed): dedup_budget,
    *   dedup_substring + dup_mass (window
    *   election / token rebuild / id base), dedup_paragraph,
    *   quality_dedup, split_leakage. (r12: reweight/reweight_tokens
    *   dropped 3→2 = default — reweightBy's feasibility min is now a
    *   tiny-frame window, so counts is consumed once; assemble moved to
    *   the executed gate — its declared face checkpoints the kept split.)
    * - small-side re-scans (benchmark/delta-sized frame derived twice,
    *   each a pushed-filter scan; the CORPUS side is single-scan):
    *   contamination, contamination_report, contamination_sweep,
    *   domain_boilerplate.
    * - in-query planting scaffolding (probe frames carved from ONE
    *   fixture table that are distinct tables in production):
    *   corpus_diff.
    * - demo face of a checkpoint-cut _q sibling: dedup_embed.
    * - persisted-index construction + two pushed-filter query-side
    *   scans: ivf_pq, pq_persist. */
  val perQuery: Map[String, Int] = Map(
    "llm_contamination"        -> 3,
    "llm_contamination_report" -> 4,
    "llm_contamination_sweep"  -> 3,
    "llm_corpus_diff"          -> 3,
    "llm_dedup_budget"         -> 3,
    "llm_dedup_embed"          -> 3,
    "llm_dedup_paragraph"      -> 3,
    "llm_dedup_substring"      -> 3,
    "llm_domain_boilerplate"   -> 4,
    "llm_dup_mass"             -> 4,
    "llm_ivf_pq"               -> 3,
    "llm_pq_persist"           -> 3,
    "llm_quality_dedup"        -> 3,
    "llm_split_leakage"        -> 3
  )

  def budget(query: String): Int = perQuery.getOrElse(query, default)

  /** EXECUTED-scan budgets — the gate the formatted-plan count above
    * cannot provide: a lazy `localCheckpoint` truncates the displayed
    * plan at `Scan ExistingRDD` (a cut query reports 0 plan scans no
    * matter how many times its UPSTREAM stages re-read parquet when the
    * checkpoints materialize), and eager BUILDER jobs — a k-means
    * trainer's collects, a bloom sizing pass — never appear in the
    * declared frame's plan at all. Since r13 the gate is TOTAL:
    * `ExchangeBudgetSpec` executes EVERY declared query at sf0.001
    * under a SparkListener and counts DISTINCT FileScanRDD instances
    * across every job the action triggers (checkpoint-materialization
    * and builder jobs included) — the number of physical scans one
    * action actually pays, which is what the r8–r10 multi-consumer
    * regressions inflated. NOTE the executed count is a TOTAL across
    * tables (a lineitem⋈orders join = 2), unlike the per-table plan
    * budget above — hence its own default. Budgets are the measured
    * count at gate landing; same lower-don't-raise ratchet contract as
    * [[perQuery]]. */
  val executedDefault: Int = 3

  val executedPerQuery: Map[String, Int] = Map(
    "llm_assemble"        -> 2, // r12: kept-split ckpt (dedup self-join derives once) — was 6 plan scans: counts double-consume (fixed by reweightBy's window-min) × the uncut chain
    "llm_dedup_near"      -> 2, // signature/banding pass + pruned text pass
    "llm_dedup_near_poly" -> 2,
    "llm_semdedup"        -> 2, // r12: sampled-train default — sample ckpt + assignment ckpt (was 7 = init + 5 full-corpus Lloyd iterations)
    "llm_ann_lsh"         -> 3, // fit dim-probe + index ckpt + queries
    "llm_ingest"          -> 4, // r13: batch ckpt (election+join derive once) + corpus + bench — was 6 (batch 2-scan union derived twice)
    "llm_dedup_ngram"     -> 2, // pairs ckpt + sets ckpt share the pushed scan
    "llm_select_full"     -> 3, // DSIR's documented three-scan shape; budget ckpt reuses them
    "llm_curate_full"     -> 3, // gated ckpt + pair-stage cand/sets materializations
    "llm_curate_full_poly" -> 3,
    "llm_semdedup_q"      -> 2, // quantization ckpt + verify attach
    "llm_ann_lsh_q"       -> 2,
    "llm_dedup_embed_q"   -> 2,
    "llm_dedup_incremental"           -> 3, // election ckpt + bloom-pruned corpus + anti base
    "llm_dedup_incremental_near"      -> 4, // batch ckpt + corpus sig + cand ckpt + pruned text
    "llm_dedup_incremental_near_poly" -> 4,
    "llm_split_safe"      -> 3, // r13: closure's edge ckpt derives pairs ONCE + docs join + split (was 7: sym + participants each re-ran the pair lineage)
    // r13 total-coverage pins (first measurement of the non-cut tier;
    // each is the documented shape, not a regression):
    "llm_ivf_train"       -> 5, // unsampled trainer: init draw + farthest-first + 3 Lloyd rounds each scan embeddings (sampled mode is the scale path)
    "llm_ivf_train_poly"  -> 5,
    "llm_pq_persist"      -> 5, // codebook train + index write + read-back + query side
    "llm_quality_dedup"   -> 5, // planted 2-scan pair self-join (cut once) + participant scores + corpus + anti probe
    "llm_dedup_cluster"   -> 4, // two planted edge self-joins (4 scans) materialize the edge ckpt once
    "llm_contamination_report" -> 4, // bench-side frame derived per report column (delta-sized; plan budget 4 documents it)
    "llm_domain_boilerplate"   -> 4, // per-domain footer probe re-reads the small side (plan budget 4)
    "llm_dup_mass"        -> 4, // token rebuild + id-base window over the planted-runs side (plan budget 4)
    "llm_dedup_edit"      -> 2, // r14: clone planting fused into the scan projection (explode) — was 4 (clone union carved documents twice per pass); now exactly the near-dup 2-scan shape
    "llm_dedup_contain"   -> 4, // planting scaffolding (successor self-join builds composites: 2 scans, cut once) + the near-dup 2-scan shape
    "llm_hybrid_rank"     -> 4, // two-TABLE composite: bm25's stats+score passes over documents + the dense side's query-vector lookup + score pass over embeddings (executed budget counts totals across tables)
    "llm_ann_recall"      -> 4, // two independent search paths over one table: brute truth + LSH approx each quantize (query, corpus) once behind their cuts — 2 scans per path; at 100 TB the stored signature/code index replaces the corpus side
    "stream_cdc_read_latest" -> 4, // r17 in-query disk lifecycle: orders (changelog ckpt + bootstrap write = 2) + the temp snapshot read by the sink batch's merge and by readLatest's touched leg (the untouched leg prunes to ZERO files at sf0.001 — the ~100-key tail hits all 16 buckets — so only the partition-filter spec sees it scan)
    "stream_cdc_evolve"      -> 4, // r17: read_latest's exact lifecycle; the evolution step reads nothing (O(1) meta append)
    "stream_cdc_read_asof"   -> 5, // r18 full retention lifecycle: orders (changelog ckpt + bootstrap write = 2) + retainSnapshot's narrow max-version scan + the live sink batch's merge read + readAsOf's touched leg over the RETAINED copy (its untouched leg prunes to zero files at sf0.001 — the tail hits all 16 buckets)
    "stream_cdc_read_keys"   -> 5, // r18 point lookup: orders (changelog ckpt + bootstrap write + wanted-keys ckpt = 3) + the sink batch's merge read + the lookup's wanted-bucket read; NO untouched leg by design
    "llm_dedup_probe"        -> 5, // r18 read-only serving probe: documents ×3 (corpus twice at bootstrap — the no-corpus-checkpoint discipline — + the one-scan probe planting at its cut) + the touched index read + the candidate-pruned corpus text read
    "llm_dedup_stream"       -> 13, // 17 → 13: one verify pass reads the batch and the fetched corpus text once; r17 disk lifecycle: documents derived narrowly ~6x (corpus twice at bootstrap — the incrementalNear no-corpus-checkpoint discipline — and each batch union twice at its cut) + the temp index/corpus-store reads across two batches and the final read-back; per production batch only the index probe + touched-bucket reads recur
    "llm_ann_probe"          -> 4, // r19 maintained-ANN lifecycle: embeddings once (the shared cut's materialization feeds bootstrap + both batches + queries) + the codebook-table read + the probe's codes reads — 3 → 4 in r20: the latest-wins serving read splits the TAIL (read once into its cut, tail-bounded) from the routed cell dirs, so re-sent/replayed generations resolve at serve time; the two serving scans are the only per-request reads
    "llm_ann_probe_filtered" -> 4, // the llm_ann_probe lifecycle + the allowIds gate: SAME scans — the live-id frame derives from the shared embeddings cut (zero extra source reads)
    "llm_host_canon_stream"  -> 7  // r17 disk lifecycle: documents (edge cut) + wave-2's node-sized labels reads (incremental prior + repMap prior) + the canon snapshot's touched-bucket reads + the final declared read-back; per production batch only the labels + touched-bucket reads recur
  )

  def executedBudget(query: String): Int =
    executedPerQuery.getOrElse(query, executedDefault)
}
