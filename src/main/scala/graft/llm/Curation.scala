package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Cut
import graft.core.Cut.CutOps

/** The composite the individual LLM operators exist for: a training-data
  * curation pass over a document corpus.
  *
  *   exact dedup (keep min doc_id per content hash)
  *     → quality scoring (TextStats) and thresholding
  *     → language filter
  *     → inner join to the embedding modality (docs without vectors drop)
  *     → per-source corpus stats
  *
  * Everything is one Catalyst plan: the dedup groupBy, the quality
  * projection, the filters and the modality join fuse under AQE — no
  * intermediate materialization. At 100 TB the dedup shuffle moves 32-byte
  * hashes, the quality pass is a narrow codegen'd projection, and the
  * modality join shuffles on the id both sides already carry.
  */
object Curation {

  def curate(docs: DataFrame, embeddings: DataFrame,
             lang: String, minQuality: Double,
             idCol: String = "doc_id", textCol: String = "text",
             vecIdCol: String = "vec_id"): DataFrame = {
    val keepers = Dedup.exact(docs, idCol, textCol).select(col("keep_id").as(idCol))
    val kept = docs.join(keepers, idCol)
    // score INLINE (assemble's discipline): quality and the token count
    // are narrow functions of the row — the stats-frame join formulation
    // re-derived the dedup stage on its second input (a full extra scan
    // + corpus SortMergeJoin; r11 scan audit: 4 scans, now 2). Same
    // integer arithmetic as TextStats.quality, so the oracle is unmoved.
    val scored = kept
      .withColumn("n_tokens", size(split(col(textCol), " ")).cast("long"))
      .withColumn("quality", TextStats.qualityCol(col(textCol)))
    scored
      .where(col("lang") === lang && col("quality") >= minQuality)
      .join(embeddings.select(col(vecIdCol).as(idCol)), idCol)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        // quality values are 4dp-rounded; summing them in decimal is exact
        // and order-independent, where avg() flips last digits between
        // engines (SURVEY §2.9-bis rule 2)
        sum(col("quality").cast("decimal(18,4)")).cast("double").as("sum_quality"))
  }

  /** The FULL pipeline a 100 TB pretraining corpus actually runs, as one
    * composition: exact dedup → language + quality gate → MinHash near-dup
    * prune with transitive closure (cluster the pair graph, keep each
    * cluster's min-id representative) → stratified cap per (lang, source)
    * → per-document accounting. Returns surviving
    * (doc_id, lang, source, n_tokens, quality) rows.
    *
    * NOT fully lazy: the clustering stage ([[Components.pairComponents]]) is
    * iterative, so calling this method runs its O(log diameter) rounds of
    * Spark jobs immediately; the returned frame is lazy from the anti
    * join onward.
    *
    * Order matters at scale — cheapest prune first, most expensive last,
    * on the smallest surviving corpus: exact dedup (32-byte-hash shuffle;
    * also shields the banded tier from exact-dup super-buckets — see
    * [[Dedup.bucketPairs]]) → narrow lang + quality gates (codegen'd
    * filters; near-dups across discarded languages are irrelevant, so
    * gating first loses nothing) → MinHash near-dup prune (the expensive
    * stage, now over the gated survivors only) → the cap (bounded-heap
    * per group, no window sort).
    *
    * The gated frame feeds several downstream branches (minhash lanes,
    * verify sets, the anti-join, the cap); Catalyst re-derives it per
    * branch — dedup shuffle, quality projection and gate run once PER
    * BRANCH. `materializeGated = true` cuts that stage boundary with a
    * lazy `localCheckpoint` (MEMORY_AND_DISK blocks, spill-safe): the
    * stage computes once on the first action, downstream branches read
    * the stored blocks, and — unlike `persist`, which pins an
    * InMemoryRelation in the session's CacheManager until someone calls
    * `clearCache()` — the blocks are released by the ContextCleaner as
    * soon as the returned frame is garbage-collected, so a multi-query
    * session (Bench runs ~40 queries after this one) doesn't carry the
    * stage around forever. Results are identical either way. The
    * tradeoff is fault-tolerance, not correctness: checkpoint blocks
    * have no lineage, so losing an executor mid-query fails the query
    * instead of recomputing — acceptable for a single curation pass;
    * a bucketed table write (docs/DEPLOY.md) is the durable alternative
    * for corpus-scale runs that must survive preemption.
    */
  def curateFull(docs: DataFrame, lang: String, minQuality: Double,
                 nearDupThreshold: Double = 0.7, maxPerGroup: Int = 1000,
                 idCol: String = "doc_id", textCol: String = "text",
                 materializeGated: Boolean = false,
                 polyHash: Boolean = false): DataFrame = {
    val keepers = Dedup.exact(docs, idCol, textCol).select(col("keep_id").as(idCol))
    val deduped = docs.join(keepers, idCol)
    val scored = deduped.join(
      TextStats.quality(deduped, idCol = idCol, textCol = textCol)
        .select(col(idCol), col("quality"), col("n_tokens")), idCol)
    val gatedPlan = scored.where(col("lang") === lang && col("quality") >= minQuality)
    val gated =
      if (materializeGated) gatedPlan.cut()
      else gatedPlan
    // near-dup prune on the gated survivors, with TRANSITIVE closure:
    // the old pairwise rule ("drop the higher id of each pair") leaked
    // duplicates — pairs (2,4) and (3,4) drop only 4, keeping 2 and 3
    // although they are transitive near-dups. Cluster the pair graph
    // ([[Components.pairComponents]]) and keep each cluster's min-id
    // representative instead. The iteration runs over PAIR PARTICIPANTS
    // only — the dup graph, a small fraction of a 100 TB corpus — never
    // over all docs; singletons skip the loop entirely and survive via
    // the anti join. r13: losers are exactly the non-min participants —
    // the closure derives its node set inside its own first-round
    // shuffle, and reads the eager pair checkpoint below as its edge
    // cut (no second copy). The closure runs its rounds eagerly;
    // `losers` reads only the final labels checkpoint, so the scope
    // frees the pair blocks before the (lazy) anti join + cap run.
    val losers = Cut.scope {
      val pairs = pairStage(gated, nearDupThreshold, idCol, textCol, polyHash)
      Components.pairComponents(pairs, idCol = idCol)
        .where(col(idCol) =!= col("component")).select(col(idCol))
    }
    val pruned = gated.join(losers, Seq(idCol), "left_anti")
    Sampling.capPerGroup(pruned,
        keys = Seq(col("lang"), col("source")), n = maxPerGroup,
        order = Seq(col(idCol), col("n_tokens"), col("quality")))
      .select(col(idCol), col("lang"), col("source"), col("n_tokens"), col("quality"))
  }

  /** The near-dup pair stage of [[curateFull]], cut with an EAGER
    * localCheckpoint. Since r13 the cut IS the closure's edge
    * checkpoint ([[Components.pairComponents]] reads a cut in place —
    * the symmetric view, the participant shuffle and every round read
    * these blocks through a narrow projection), so the minhash stage
    * (shingling, 16 hash lanes, the banding shuffle, Jaccard
    * verification — the most expensive stage of the whole pipeline)
    * executes exactly once no matter how many consumers the closure
    * fans it into. Eager rather than lazy for two measured reasons:
    * the closure's first-round count job has concurrent subtrees that
    * would race to compute the pair partitions before a lazy cache
    * lands (lazy 2.23 s vs eager 1.82 s at sf0.1, r11), and the
    * eager materialization lets the near-dup stage's internal
    * candidate cuts be released immediately below instead of riding
    * until the first count. Package-private so CurationSpec can assert
    * the plan IS a checkpoint boundary. */
  private[llm] def pairStage(gated: DataFrame, nearDupThreshold: Double,
                             idCol: String, textCol: String,
                             polyHash: Boolean = false): DataFrame = Cut.scope {
    // polyHash selects the cross-engine affine family (the
    // llm_dedup_near_poly relationship: minHashNearDups' plan under
    // bandSignaturesPoly) so the WHOLE composite can be oracle-gated;
    // xxhash64 stays the production default. The eager
    // pair checkpoint supersedes the near-dup stage's internal cuts
    // (candidates + pruned shingle sets): the scope releases them now
    // instead of holding candidate-sized blocks for the session
    val sigs = Dedup.signatureIndex(gated, k = 2, bands = 8, rowsPerBand = 2,
      idCol = idCol, textCol = textCol, poly = polyHash)
    Dedup.nearDupsFromSigs(sigs, gated, k = 2, threshold = nearDupThreshold,
      idCol = idCol, textCol = textCol).cutNow()
  }

  /** Corpus ASSEMBLY — the recipe stage after curation: exact dedup →
    * quality gate → deterministic split (keep one band) → reweight to a
    * target stratum mixture → TRUE sequence packing into context-length
    * blocks. Where [[curateFull]] is the cleaning pass (and needs
    * minhash, which no SQL oracle can replay), every assembly stage is
    * integer/hash arithmetic — so this composite is the END-TO-END
    * oracle gate of the tier: one DuckDB query replays dedup election,
    * the quality gate, both lattices, the feasibility scan, and the
    * block layout, and any drift anywhere in the chain shifts the
    * packed blocks loudly.
    *
    * Plan shape at 100 TB: the dedup groupBy is the only corpus-wide
    * shuffle (32-byte sha2 keys); quality is one narrow projection;
    * split and reweight are narrow residue filters (reweight's
    * feasibility scan reduces to |strata| rows before its exchange);
    * packing shuffles only the `keepSplit` survivors of the target
    * strata — the smallest frame in the pipeline — per [[Packing]]'s
    * per-stratum sizing rule. Everything is ONE Catalyst plan (no
    * iterative stage), so AQE sizes every exchange from runtime stats.
    *
    * Returns [[Packing.packSequences]]'s (stratum, block_id, block_text,
    * n_tokens) rows; `tokens` switches the packed unit (e.g.
    * [[TextStats.bpeTokens]] for subword-faithful blocks). */
  def assemble(docs: DataFrame, minQuality: Double,
               splits: Seq[(String, Double)], keepSplit: String,
               mixture: Map[String, Double], blockTokens: Long,
               idCol: String = "doc_id", textCol: String = "text",
               stratumCol: String = "lang",
               tokens: Option[org.apache.spark.sql.Column] = None,
               materializeKept: Boolean = false): DataFrame = {
    require(splits.exists(_._1 == keepSplit),
      s"keepSplit '$keepSplit' is not one of the split bands ${splits.map(_._1)}")
    val keepers = Dedup.exact(docs, idCol, textCol).select(col("keep_id").as(idCol))
    val deduped = docs.join(keepers, idCol)
    // the score is computed INLINE (TextStats.qualityCol), not joined
    // back from the stats frame: quality is a narrow function of the row,
    // and the join formulation re-derives the dedup stage on its second
    // input — a full extra scan + SortMergeJoin for nothing (caught in
    // this operator's own .explain audit)
    val gated = deduped
      .where(TextStats.qualityCol(col(textCol)) >= minQuality)
    val keptPlan = Sampling.split(gated, splits, idCol)
      .where(col("split") === keepSplit)
    // reweight's feasibility scan + its keep filter both consume `kept`,
    // so the dedup shuffle and both gates derive TWICE per action — the
    // default keeps the documented one-plan/no-materialization contract
    // (a 100 TB corpus is re-read, never checkpointed implicitly);
    // materializeKept = true is the curateFull(materializeGated)
    // tradeoff made explicit: one lazy localCheckpoint of the kept-split
    // survivors (lineage dropped; results identical, spec-pinned) for
    // callers who'd rather pay storage than the second derivation.
    val kept =
      if (materializeKept) keptPlan.cut() else keptPlan
    val balanced = Sampling.reweight(kept, mixture, idCol, stratumCol)
    Packing.packSequences(
      balanced.select(col(idCol), col(stratumCol), col(textCol)),
      blockTokens, partitionCols = Seq(stratumCol), orderCol = idCol,
      textCol = textCol, tokens = tokens)
  }

  /** TRAINING-ORDER assembly — the recipe stage after [[assemble]]'s
    * content work: per-source token-budget sampling → deterministic
    * split (keep one band) → weighted round-robin interleaving → shard
    * layout. Where [[assemble]] answers "which tokens go in the
    * corpus", trainOrder answers "in what order does the model see
    * them" — and like assemble, every stage is integer/hash arithmetic,
    * so the whole path from curated docs to `(shard_id, pos_in_shard)`
    * is ONE oracle-gated plan (budget window, both lattices, the
    * interleave windows and the global position all replay in SQL; any
    * drift anywhere shifts the layout loudly).
    * [[graft.sources.Sinks.trainingShards]] is its durable endpoint.
    *
    * Plan shape at 100 TB: the budget and interleave rank windows are
    * per-source ([[Packing]]'s stratum sizing rule), the split is a
    * narrow residue filter between them, and the only global operation
    * is interleave's (cycle, source, slot) range sort + the two-pass
    * offset index — [[Packing.shuffleShards]]'s tail. Sources not in
    * `weights` are dropped (the unlisted-stratum discipline). */
  def trainOrder(docs: DataFrame, budgetTokens: Long,
                 splits: Seq[(String, Double)], keepSplit: String,
                 weights: Map[String, Int], rowsPerShard: Long,
                 idCol: String = "doc_id", textCol: String = "text",
                 sourceCol: String = "source"): DataFrame = {
    require(splits.exists(_._1 == keepSplit),
      s"keepSplit '$keepSplit' is not one of the split bands ${splits.map(_._1)}")
    val budgeted = Sampling.tokenBudget(docs, budgetTokens,
      partitionCols = Seq(sourceCol), idCol = idCol, textCol = textCol)
    val kept = Sampling.split(budgeted, splits, idCol)
      .where(col("split") === keepSplit).drop("split")
    val ordered = Packing.interleave(
      kept.select(col(idCol), col(sourceCol), col("n_tokens")),
      weights, sourceCol, idCol)
    Packing.shardByPos(ordered, rowsPerShard, "interleave_pos")
  }

  /** CONTINUOUS-INGEST composite — the fourth oracle-gated composite:
    * "accept today's crawl into the corpus". Within-batch exact dedup +
    * drop-already-known ([[Dedup.incrementalExact]] — the bloom-probed
    * plan, corpus scanned once and never shuffled) → quality gate
    * ([[TextStats.qualityBp]] ≥ `minQualityBp`) → eval decontamination
    * ([[Dedup.contamination]] against the benchmark, round-half-up
    * basis points ≤ `maxContamBp`). Returns the rows a snapshot append
    * would write, carrying the audit columns a release log keeps:
    * `dup_count` (within-batch copies), `quality_bp`,
    * `contamination_bp`. [[Audit.corpusDiff]] against the post-append
    * snapshot is the matching review artifact.
    *
    * Scale shape: every exchange is DELTA-sized — the corpus pays one
    * narrow bloom-probed hash scan, the benchmark broadcasts into the
    * contamination semi join, and the batch is the only side that
    * shuffles (on its own id). Stage order is the 100 TB order: dedup
    * halves the batch before quality scoring touches text, and only
    * gate survivors pay the shingle explode.
    *
    * RETENTION: inherits [[Dedup.incrementalExact]]'s contract — the
    * elected-batch checkpoint stays pinned until the ContextCleaner
    * collects it; long-lived sessions call it inside [[Cut.scope]]. */
  def ingestDelta(batch: DataFrame, corpus: DataFrame, benchmark: DataFrame,
                  minQualityBp: Long, maxContamBp: Long, k: Int = 3,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    Seq("dup_count", "quality_bp", "contamination_bp").foreach { c =>
      require(!batch.columns.contains(c),
        s"ingestDelta writes '$c'; the batch already has it — rename it first")
    }
    // `batch` feeds TWO consumers (the dedup election inside
    // incrementalExact and the keep join below) — uncut, each re-derived
    // the caller's batch lineage (for llm_ingest a 2-scan union: 6
    // executed scans total, the r12 verdict's highest non-iterative
    // count). Batch-sized BY CONTRACT (it is the ingest delta, never
    // the corpus) → one lazy localCheckpoint, the same cut discipline
    // as `kept`; executed scans drop to batch + corpus + benchmark.
    val b = batch.cut()
    val fresh = Dedup.incrementalExact(b, corpus,
        idCol = idCol, textCol = textCol)
      .select(col("keep_id").as(idCol), col("dup_count"))
    // `kept` feeds TWO consumers (the contamination probe and the final
    // join) — uncut, each re-derived the dedup election and the
    // corpus-side anti join (r11 scan audit: llm_ingest read its table
    // 10×). Batch-sized by contract → one lazy localCheckpoint; call
    // inside Cut.scope in long-lived sessions.
    val kept = b.join(fresh, Seq(idCol))
      .withColumn("quality_bp", TextStats.qualityBp(col(textCol)))
      .where(col("quality_bp") >= minQualityBp)
      .cut()
    val contam = Dedup.contamination(kept, benchmark, k, idCol, textCol)
      .select(col(idCol), graft.functions.VectorFunctions.intDiv(
        col("matched") * 20000L + col("total"), col("total") * 2L)
        .as("contamination_bp"))
    kept.join(contam, Seq(idCol))
      .where(col("contamination_bp") <= maxContamBp)
  }

  /** CURRICULUM training order — the third oracle-gated composite:
    * [[TextStats.qualityTiers]]' corpus-derived quality buckets become
    * the training schedule (`bestFirst` feeds the model the cleanest
    * tier first — curriculum learning's easy-to-hard schedule over data
    * quality; flip it for anti-curriculum), documents WITHIN a tier run
    * in [[Packing.shuffleHash]] order (a tier is a quality band, not an
    * order — id order inside it would replay crawl sequence), and the
    * whole order lands in [[Packing.shardByPos]]'s shard layout, ready
    * for [[graft.sources.Sinks.trainingShards]]. Deterministic
    * end-to-end: tier cuts are exact discrete percentiles, the in-tier
    * order is the lattice permutation, so the layout replays in SQL and
    * across retries/cluster sizes.
    *
    * Plan shape at 100 TB: qualityTiers' two narrow corpus scans + its
    * histogram-sized cut window, then ONE global range-sort exchange on
    * (tier, hash) + the two-pass offset index — [[Packing.shuffleShards]]'
    * tail with the tier prepended to the sort key. The output carries
    * (id, quality_bp, tier, layout) — fixed-width rows; join text back
    * by id at write time if the sink needs it. */
  def curriculumOrder(docs: DataFrame, tiers: Int, rowsPerShard: Long,
                      bestFirst: Boolean = true,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val tiered = TextStats.qualityTiers(docs, tiers, idCol = idCol, textCol = textCol)
    val tierOrd = if (bestFirst) -col("tier") else col("tier")
    val indexed = graft.core.Positional.zipWithIndex(tiered,
      Seq(tierOrd, Packing.shuffleHash(col(idCol)), col(idCol)), "curriculum_pos")
    Packing.shardByPos(indexed, rowsPerShard, "curriculum_pos")
  }

  /** Leakage-safe train/val/test split: near-duplicate documents must
    * land in the SAME band, or the held-out sets silently contain
    * near-copies of training documents and every eval on them is
    * contaminated (the near-dup face of train/test leakage — doc-level
    * [[Sampling.split]] cannot see it, because each member of a dup
    * cluster hashes independently). Takes the near-dup pair list (from
    * [[Dedup.minHashNearDups]]/[[Dedup.ngramJaccard]]/any pair source),
    * closes it TRANSITIVELY ([[Components.connectedComponents]] — A~B,
    * B~C puts A and C together even though (A,C) was never a pair), and
    * assigns every document the band of its cluster's min-id
    * representative; documents in no pair keep their own id as the
    * group key, so on a pair-free corpus this IS [[Sampling.split]].
    * Band proportions then hold over GROUPS rather than docs — the
    * deviation is bounded by the dup-cluster mass, which is exactly the
    * mass that had to move to make the split sound.
    *
    * Scale shape: the component iteration runs over PAIR PARTICIPANTS
    * only (the dup graph — a small fraction of the corpus, the
    * [[curateFull]] discipline); the label map joins back to the corpus
    * as fixed-width (id, component) rows on the id the corpus already
    * carries, and the band itself is [[Sampling.split]]'s narrow
    * lattice projection. The corpus body never shuffles. */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame,
                       fractions: Seq[(String, Double)],
                       idCol: String = "doc_id",
                       aCol: String = "a", bCol: String = "b"): DataFrame = {
    Seq("__cid", "component", "__g").foreach { c =>
      require(!docs.columns.contains(c),
        s"leakageSafeSplit reserves '$c' internally; rename the input column")
    }
    // r13: the closure derives its own participant set from its edge
    // checkpoint — a separate union+distinct here would re-execute the
    // pair lineage a third time for the node frame alone
    val comp = Components.pairComponents(pairs, aCol, bCol, idCol)
      .select(col(idCol).as("__cid"), col("component"))
    val keyed = docs
      .join(comp, docs(idCol) === col("__cid"), "left")
      .withColumn("__g", coalesce(col("component"), col(idCol)))
      .drop("__cid", "component")
    Sampling.split(keyed, fractions, idCol = "__g").drop("__g")
  }

  /** Entity-disjoint TEMPORAL split — the time-axis face of
    * [[leakageSafeSplit]]: evaluation data must be AFTER the cutoff
    * AND from entities with no pre-cutoff presence, or per-entity
    * information (style, preferences, history) leaks from train into
    * eval exactly like a near-dup doc pair leaks across hash bands.
    * Every event gets a `band`:
    *   - `train`          — ts < cutoff;
    *   - `eval`           — ts ≥ cutoff and the entity's FIRST event is
    *                        ≥ cutoff (a genuinely fresh entity);
    *   - `dropped_leaky`  — ts ≥ cutoff but the entity already appears
    *                        in train; kept visible (not silently
    *                        filtered) so release audits can count the
    *                        leakage mass they excluded.
    * Timestamps compare at SECOND granularity (`date_trunc`) on both
    * engines — the events fixture's ns/µs parity discipline.
    *
    * Scale shape: one map-side-combined min per entity + one shuffle
    * join on the entity key the events already carry — the entity
    * frame is |entities|-sized and stays distributed (no broadcast
    * assumption: user dimensions at corpus scale are huge). */
  def temporalEntitySplit(events: DataFrame, cutoff: String,
                          entityCol: String = "user_id",
                          tsCol: String = "ts"): DataFrame = {
    require(!events.columns.contains("band") && !events.columns.contains("__first"),
      "temporalEntitySplit writes 'band'/'__first'; rename the input column")
    val cut = lit(cutoff).cast("timestamp")
    val t = date_trunc("second", col(tsCol))
    val firstSeen = events.groupBy(entityCol)
      .agg(min(date_trunc("second", col(tsCol))).as("__first"))
    events.join(firstSeen, entityCol)
      .withColumn("band",
        when(t < cut, lit("train"))
          .when(col("__first") < cut, lit("dropped_leaky"))
          .otherwise(lit("eval")))
      .drop("__first")
  }

  /** Quality-aware dedup winner election: within each transitive
    * duplicate cluster keep the member with the HIGHEST `scoreCol`
    * (ties to the smallest id), drop the rest. [[Dedup.exact]] and
    * [[Components.dupClusters]] elect the min-id member — correct for
    * byte-identical copies, but for NEAR-duplicates the members differ
    * (one is the cleanly-extracted page, one the ad-ridden mirror) and
    * min-id keeps whichever was crawled first. This operator keeps the
    * best copy instead — the retention policy a curated corpus wants.
    *
    * `pairs` is any verified near-dup pair list; the closure is
    * transitive ([[leakageSafeSplit]]'s discipline — A~B, B~C elects
    * ONE winner among {A,B,C}). `scoreCol` is evaluated over `docs`
    * (pass [[TextStats.qualityBp]]`(col("text"))` or a stored column).
    * Pairs whose endpoints are missing from `docs` elect among the
    * present members only; clusters wholly absent are a no-op. A NULL
    * score means unknown quality and LOSES to every scored member
    * (spec-pinned); a cluster that is all-NULL falls back to the min-id
    * election.
    *
    * Scale shape: the component iteration and the argmax election run
    * over PAIR PARTICIPANTS only; the corpus pays one narrow score
    * projection on that participant subset plus the final anti join
    * against the loser set — dup-mass-sized, usually broadcastable.
    * The corpus text itself never shuffles. */
  /** Post-split leakage audit — the check a release runs AFTER
    * [[Sampling.split]] (or [[leakageSafeSplit]]) and BEFORE training:
    * how much of each TRAIN document's shingle set already appears in
    * the held-out bands? Composes the split lattice with
    * [[Dedup.contamination]], treating every held-out doc as benchmark
    * text: train docs with high contamination mean the held-out sets
    * can't measure generalization (shared boilerplate, near-copies the
    * split separated, template text). Returns one row per TRAIN doc —
    * `(idCol, matched, total, contamination)`, contamination in
    * [[Dedup.contamination]]'s round-half-up convention. Use k ≥ 3:
    * k = 2 bigrams are corpus-universal and saturate (the CLAUDE.md
    * shingle lesson — probed: k = 3 spreads 230–804 distinct bp values
    * at every fixture scale).
    *
    * Plan shape (100 TB): the split is a pure narrow projection (no
    * shuffle), so this inherits [[Dedup.contamination]]'s shape — the
    * held-out shingle set broadcasts (≈ heldFraction of the corpus's
    * distinct shingles; past broadcast size, swap in
    * [[Dedup.bloomContamination]] — same output contract), and the
    * train side is scanned once, never shuffled. */
  def splitLeakage(docs: DataFrame, fractions: Seq[(String, Double)],
                   heldOutLabels: Seq[String], k: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(heldOutLabels.nonEmpty, "splitLeakage needs at least one held-out label")
    val labels = fractions.map(_._1).toSet
    heldOutLabels.foreach(l => require(labels.contains(l),
      s"held-out label '$l' is not a split band (${labels.mkString(", ")})"))
    require(heldOutLabels.toSet != labels,
      "at least one band must remain train-side")
    val split = Sampling.split(docs, fractions, idCol)
    val heldOut = split.where(col("split").isInCollection(heldOutLabels))
      .select(col(idCol), col(textCol))
    val train = split.where(!col("split").isInCollection(heldOutLabels))
      .select(col(idCol), col(textCol))
    Dedup.contamination(train, heldOut, k, idCol, textCol)
  }

  def qualityDedup(docs: DataFrame, pairs: DataFrame, scoreCol: Column,
                   idCol: String = "doc_id",
                   aCol: String = "a", bCol: String = "b"): DataFrame = {
    require(!docs.columns.exists(_.startsWith("__")),
      "qualityDedup reserves '__'-prefixed names internally; rename the input columns")
    // r13: participant derivation now lives inside the closure (edge
    // checkpoint + fused first round) — see leakageSafeSplit
    val comp = Components.pairComponents(pairs, aCol, bCol, idCol)
      .select(col(idCol).as("__pid"), col("component").as("__comp"))
    val scored = comp.join(
      docs.select(col(idCol).as("__pid"), scoreCol.as("__score")), Seq("__pid"))
    // min(struct(null-marker, -score, id)) = highest score, ties to the
    // smallest id; the marker makes NULL scores sort LAST (struct
    // ordering is NULLS FIRST per field, which would otherwise hand a
    // null-score member the win)
    val winners = scored.groupBy("__comp")
      .agg(min(struct(
        when(col("__score").isNull, 1).otherwise(0).as("__nm"),
        (-col("__score")).as("__ns"), col("__pid").as("__wid")))
        .as("__w"))
      .select(col("__comp"), col("__w.__wid").as("__winner"))
    val losers = scored.join(winners, Seq("__comp"))
      .where(col("__pid") =!= col("__winner"))
      .select(col("__pid").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** DATA-SELECTION composite — the fifth oracle-gated composite, the
    * end-to-end gate of the selection tier: [[TextStats.dsirKeep]]
    * (distributional fit vs the target slice, top `keepFraction` by
    * score) → [[Sampling.tokenBudget]] (hard per-`budgetStratumCol`
    * token cap — the "no source dominates" guard) → [[Sampling.unimax]]
    * (epoch-capped water-filling of `budgetBp` of the SELECTED tokens
    * across `mixStratumCol` strata — the fair-mixture pass, one row per
    * (doc, epoch)) → [[Packing.shuffleShards]] over the (doc, epoch)
    * slot key (`id·maxEpochs + epoch` — unique since epoch < maxEpochs;
    * requires id ≤ Long.Max / maxEpochs). Stage order is the 100 TB
    * order: quality selection prunes before any window pays for a row,
    * the budget cap bounds what unimax and the global sort ever see.
    * Feed the result to [[Audit.shardManifest]] for the release record
    * and [[graft.sources.Sinks.trainingShards]] for the durable layout —
    * every stage is integer/hash arithmetic, so selection, budget,
    * water-filling, epoch explosion and layout all replay in SQL and a
    * drift ANYWHERE shifts every downstream shard checksum loudly.
    *
    * Plan shape at 100 TB: DSIR's three corpus scans (distribution
    * collect, score histogram, the in-place keep filter — no join-back:
    * [[TextStats.dsirKeep]] exists exactly so this composite doesn't pay
    * a corpus shuffle to recover text), the budget window per source
    * ([[Packing]]'s stratum sizing rule), then a lazy localCheckpoint at
    * the budget boundary — the frame is budget-bounded (≈ |sources|·
    * budget tokens, tiny vs the corpus) and feeds unimax's strata agg
    * AND its join side (the multi-consumer rule; no lineage after the
    * cut, by design). unimax's only single-partition window is
    * |strata|-sized; the epoch explosion amplifies by allocated epochs
    * only; the layout costs the ONE global range-sort + two-pass offset
    * index. Returns `(idCol, mixStratumCol, n_tokens, epoch, textCol,
    * shard_id, pos_in_shard)`. */
  def selectFull(docs: DataFrame, isTarget: Column, keepFraction: Double,
                 budgetTokens: Long, budgetBp: Long, maxEpochs: Int,
                 rowsPerShard: Long,
                 k: Int = 2, buckets: Int = 64, quantum: Long = 1024L,
                 budgetStratumCol: String = "source",
                 mixStratumCol: String = "lang",
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val kept = TextStats.dsirKeep(docs, isTarget, keepFraction, k, buckets,
      quantum, idCol, textCol)
    val budgeted = Sampling.tokenBudget(kept, budgetTokens,
        partitionCols = Seq(budgetStratumCol), idCol = idCol, textCol = textCol)
      .withColumnRenamed("n_tokens", "__bnt")
      .cut()
    val epochs = Sampling.unimax(budgeted, budgetBp, maxEpochs, mixStratumCol,
      idCol, textCol, tokenCount = Some(col("__bnt")),
      carryCols = Seq(textCol))
    // slot key = id*maxEpochs+epoch must stay within Long or two docs
    // collide on __rid and the layout double-books a position. The
    // precondition (|id| ≤ Long.Max/maxEpochs) is ENFORCED row-wise —
    // a narrow codegen'd guard, no extra corpus pass — so overflow
    // throws loudly instead of silently corrupting the layout.
    val maxSafeId = (Long.MaxValue - (maxEpochs.toLong - 1L)) / maxEpochs.toLong
    val slotKey = when(
      col(idCol) > maxSafeId || col(idCol) < -maxSafeId,
      raise_error(concat(
        lit(s"selectFull: $idCol out of slot-key range ±$maxSafeId for " +
          s"maxEpochs=$maxEpochs: "), col(idCol).cast("string"))))
      .otherwise(col(idCol) * maxEpochs.toLong + col("epoch"))
    Packing.shuffleShards(
        epochs.withColumn("__rid", slotKey),
        rowsPerShard, idCol = "__rid")
      .drop("__rid")
  }

  /** Preference-pair assembly (the reward-model / DPO data-prep step):
    * per candidate group, CHOSEN = the highest-scoring member and
    * REJECTED = the lowest, both with ties to the LOWER id, emitted
    * only when the margin is strictly positive (an all-tied group has
    * no preference signal and is dropped). Scoring is the caller's —
    * pass any integer quality column — so the operator composes with
    * the classifier/quality/LM tiers. ONE map-side-combinable groupBy:
    * argmax and argmin travel as lexicographic struct extremes
    * (`max(struct(score, −id))` / `min(struct(score, id))` — the
    * min-by determinism rule without a window), so the corpus shuffles
    * once and no per-group sort exists. Output ORDER BY group. */
  def prefPairs(scored: DataFrame, groupCol: String = "prompt_id",
                idCol: String = "doc_id",
                scoreCol: String = "score_bp"): DataFrame =
    scored
      .groupBy(col(groupCol))
      .agg(
        max(struct(col(scoreCol).cast("long").as("s"),
          (-col(idCol)).cast("long").as("ni"))).as("__c"),
        min(struct(col(scoreCol).cast("long").as("s"),
          col(idCol).cast("long").as("i"))).as("__r"))
      .where(col("__c.s") > col("__r.s"))
      .select(col(groupCol),
        (-col("__c.ni")).as("chosen_id"),
        col("__r.i").as("rejected_id"),
        col("__c.s").as("chosen_score"),
        col("__r.s").as("rejected_score"),
        (col("__c.s") - col("__r.s")).as("margin"))
      .orderBy(col(groupCol))
}
