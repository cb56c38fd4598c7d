package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-scale corpora (SURVEY §2.9; north-star
  * mandate in BASELINE.json — not present in the reference, which only has
  * exact `distinct`, CITE: kernel/src/main/scala/trembita/operations/
  * CanDistinct.scala, recalled path — /root/reference empty).
  *
  * Scale design (100 TB):
  *  - exact dedup groups by a 256-bit content hash, never by the document
  *    body — the shuffle moves 32-byte keys, not documents;
  *  - MinHash/SimHash candidate generation is pure hash-partitioned
  *    groupBy/join on small fixed-width keys (band signatures), so the
  *    quadratic pair space is never materialized — only same-bucket pairs;
  *  - every hash is a seeded, deterministic Spark built-in (`xxhash64`),
  *    so results are reproducible across runs and cluster sizes.
  */
object Dedup {

  /** Candidate (a, b) pairs from same-bucket co-membership, in ONE pass
    * over the banded stream: groupBy bucket → sorted id set → pair
    * explosion. A self-join formulation recomputes the (expensive)
    * signature pipeline once per join side — Catalyst has no cross-branch
    * subtree reuse — and shuffles the stream twice; this shuffles it once.
    * Per-bucket sets are O(1)-sized by LSH construction (that bound is the
    * premise of banding) — but a skewed/adversarial corpus (e.g. an
    * exact-duplicate super-cluster fed in without running [[exact]] dedup
    * first, as [[graft.llm.Curation]] does) can violate it, so the
    * collector is a bounded heap: each bucket keeps at most `maxBucket`
    * members (the smallest ids — deterministic under any partitioning),
    * bounding BOTH the aggregation buffer and the quadratic within-bucket
    * explosion. The worst case degrades recall, never the job; the number
    * of buckets that hit the cap is observable via
    * `queryExecution.observedMetrics` under a name PREFIX-matched as
    * `graft_bucket_cap_<cols>_<seq>` — the suffix is a per-JVM sequence
    * (two bucketPairs calls composed into ONE plan must not define the
    * same observed metric twice), so match by `startsWith`, never by the
    * exact name, when scraping across runs. NOTE the metric lives on the
    * query that EXECUTES this stage: composed faces that cut the
    * candidate frame with a localCheckpoint ([[minHashNearDups]] since
    * r11) publish it on the candidate-stage execution, not the final
    * frame — read it there, or call bucketPairs directly.
    * Output pairs are distinct
    * with a < b; a FIXED-WIDTH payload column (e.g. a 64-bit hash) can ride
    * along in the bucket set so downstream scoring needs no re-attach join
    * — never route wide payloads (vectors, shingle sets) through here. */
  private val metricSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  private[llm] def bucketPairs(banded: DataFrame, bucketCols: Seq[String],
                               idCol: String, payloadCol: Option[String] = None,
                               maxBucket: Int = 256): DataFrame = {
    require(maxBucket > 1, "maxBucket must be at least 2")
    val member = payloadCol match {
      case Some(p) => struct(col(idCol).as("id"), col(p).as("pl"))
      case None    => struct(col(idCol).as("id"))
    }
    // bounded-heap collect (reverse = keep the maxBucket SMALLEST member
    // structs, i.e. smallest ids): the per-bucket buffer never exceeds
    // maxBucket entries even on a super-bucket, unlike collect_set
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val bounded = ColumnBridge.collectTopK(
      ColumnBridge.expression(member), maxBucket, reverse = true)
    val pairs = banded.groupBy(bucketCols.map(col): _*)
      .agg(sort_array(bounded).as("__ids")) // sorts by id → a < b
      .where(size(col("__ids")) > 1)
      // a bucket at exactly maxBucket members was (possibly) truncated —
      // surface the count so operators can see recall-degrading skew
      // the name carries a per-invocation sequence number: two
      // bucketPairs calls with the same bucket columns composed into ONE
      // plan (multi-resolution dedup, a union of two band configs)
      // otherwise define the same observed metric twice and fail analysis
      .observe(s"graft_bucket_cap_${bucketCols.mkString("_")}_${metricSeq.incrementAndGet()}",
        sum(when(size(col("__ids")) === maxBucket, 1L).otherwise(0L))
          .as("capped_buckets"))
      .select(explode(flatten(transform(col("__ids"), (a, i) =>
        transform(slice(col("__ids"), i + lit(2), size(col("__ids"))),
          b => struct(a.as("a"), b.as("b")))))).as("__p"))
      // ids are unique per bucket for every in-repo caller (one banded row
      // per (doc, band)); guard anyway so duplicate ids can never emit a
      // self-pair now that the bounded collector doesn't dedup
      .where(col("__p.a.id") < col("__p.b.id"))
    payloadCol match {
      case Some(p) => pairs.select(col("__p.a.id").as("a"), col("__p.b.id").as("b"),
          col("__p.a.pl").as(s"${p}_a"), col("__p.b.pl").as(s"${p}_b"))
        .distinct()
      case None => pairs.select(col("__p.a.id").as("a"), col("__p.b.id").as("b"))
        .distinct()
    }
  }

  /** Exact dedup: one surviving doc per distinct content (min doc_id), with
    * the duplicate count. GroupBy on sha2(text) — fixed-width shuffle key. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Duplication BUDGET — the middle ground between "keep every copy"
    * (memorization risk, Lee et al. 2022) and [[exact]]'s "keep one":
    * keep up to `maxCopies` members of each exact-content group. Bounded
    * duplication is how curated mixes upsample naturally-popular content
    * without letting a viral page dominate an epoch — the per-content
    * repetition cap of quality-weighted corpus designs. Emits one row
    * per SURVIVOR: `content_hash`, the `order` fields, `idCol`,
    * `copy_rank` (1-based within the group).
    *
    * `order` ranks copies within a group; it defaults to crawl order
    * (the id alone), so `maxCopies = 1` elects exactly [[exact]]'s
    * min-id winners. Exact copies have identical text, so a
    * content-derived order (quality, length) cannot discriminate here —
    * that is [[graft.llm.Curation.qualityDedup]]'s job on NEAR-dup
    * clusters; pass e.g. `Packing.shuffleHash(col("doc_id"))` for an
    * unbiased copy sample instead of earliest-crawled.
    *
    * Plan shape (100 TB): delegates to the bounded-heap
    * [[graft.relational.TopK.topKPerGroupRanked]] — each map task keeps
    * ≤ `maxCopies` sort structs per content, so the shuffle carries
    * `maxCopies·|contents|` fixed-width rows and the TEXT never moves
    * (column pruning keeps the scan at id + hash + order fields); a
    * million-copy viral page costs the heap `maxCopies`, not a
    * partition sort. Rejoin survivors to the corpus by id when the
    * payload is needed. */
  def duplicationBudget(docs: DataFrame, maxCopies: Int,
                        order: Seq[Column] = Seq.empty,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    require(maxCopies > 0, s"maxCopies must be positive, got $maxCopies")
    Seq("content_hash", "copy_rank").foreach { c =>
      require(!docs.columns.contains(c),
        s"duplicationBudget writes '$c'; input already has it — rename it first")
    }
    graft.relational.TopK.topKPerGroupRanked(
      docs.withColumn("content_hash", sha2(col(textCol), 256)),
      Seq(col("content_hash")), order :+ col(idCol), maxCopies, "copy_rank")
  }

  /** Incremental exact dedup — dedup a NEW batch against an existing
    * corpus snapshot (the daily-crawl regime: yesterday's corpus is
    * already deduped; only the delta needs election). A batch document
    * survives iff (1) it wins [[exact]]'s min-id election WITHIN the
    * batch, and (2) its content hash has NO occurrence in `corpus`.
    * Output is [[exact]]'s contract (`content_hash, keep_id, dup_count`
    * — dup_count counts WITHIN-BATCH copies) restricted to hashes new to
    * the corpus.
    *
    * Plan shape (100 TB corpus, GB-scale delta): the naive anti join
    * shuffles the ENTIRE corpus by hash to discard a delta-sized result —
    * the exact asymmetry [[bloomContamination]] solves, applied in
    * reverse: the SMALL side (the batch's elected hashes) builds a bloom
    * sketch that rides into a [[graft.functions.BloomMightContainStr]]
    * probe over the corpus-hash scan, dropping non-candidates inside
    * whole-stage codegen; only corpus rows whose hash might be in the
    * batch (true re-fetches + the FPP sliver) reach the exact anti join,
    * so both exchange inputs are batch-sized and the corpus is scanned
    * once, narrowly, and never shuffled. Bloom error is one-sided: a
    * false positive only sends a row to exact verification, so the
    * output equals the naive plan's exactly (spec-pinned at fpp = 0.5).
    *
    * The elected batch feeds the bloom build and the anti join, so it's
    * cut once with a lazy localCheckpoint ([[bloomContamination]]'s
    * pattern — no lineage after the cut, by design). Same RETENTION
    * contract: long-lived sessions should release the blocks after the
    * result is materialized via `ColumnBridge.releaseCheckpoint(result)`.
    * `expectedItems < 0` (default) sizes the bloom from the cut set's
    * exact count; pass it when known to skip that job. */
  def incrementalExact(batch: DataFrame, corpus: DataFrame,
                       fpp: Double = 0.01, expectedItems: Long = -1L,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.functions.BloomMightContainStr
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0, 1), got $fpp")
    val elected = exact(batch, idCol, textCol).localCheckpoint(false)
    val n = if (expectedItems >= 0) expectedItems else elected.count()
    val bloom = elected.stat.bloomFilter("content_hash", math.max(n, 1L), fpp)
    val priorCand = corpus
      .select(sha2(col(textCol), 256).as("content_hash"))
      .where(BloomMightContainStr(col("content_hash"), bloom))
    elected.join(priorCand, Seq("content_hash"), "left_anti")
  }

  /** Word k-shingles per doc — the Jaccard universe for MinHash. `distinct`
    * costs a full shuffle of the shingle stream; min-lane signatures don't
    * need it (min over duplicates is the same min) so the minhash path
    * passes `distinct = false` and dedups only inside per-doc aggregates.
    * The exploded row form exists for callers that want the stream; the
    * near-dup pipelines use the array-valued kernel directly and never
    * explode at all. */
  def shingles(docs: DataFrame, k: Int, idCol: String = "doc_id",
               textCol: String = "text", distinct: Boolean = true): DataFrame = {
    val sh = docs.select(col(idCol),
      explode(graft.functions.WordShingles(col(textCol), k)).as("shingle"))
    if (distinct) sh.distinct() else sh
  }

  /** MinHash + LSH banded near-dup candidates, verified with exact Jaccard.
    *
    * numHashes = bands * rowsPerBand seeded hash functions
    * h_i(s) = xxhash64(s, i). MinHash, like SimHash, is a pure
    * per-document function, so the signature side is ALL NARROW — one
    * [[graft.functions.MinHashLanes]] kernel pass per doc (no shingle
    * explode, no H-lane aggregation shuffle), then the band-signature
    * projection. The only wide ops in the whole pipeline are the banding
    * groupBy in [[bucketPairs]] and the two candidate-attach joins of the
    * verify stage, whose shingle sets are ALSO computed narrowly
    * (array_distinct over the per-doc shingle array) and semi-join-pruned
    * to candidate docs first. No cartesian product anywhere.
    *
    * Returns (a, b, jaccard) pairs with a < b, jaccard ≥ threshold.
    */
  def minHashNearDups(docs: DataFrame, k: Int = 3, bands: Int = 4,
                      rowsPerBand: Int = 4, threshold: Double = 0.8,
                      idCol: String = "doc_id", textCol: String = "text",
                      maxBucket: Int = 256): DataFrame =
    minHashNearDupsCut(docs, k, bands, rowsPerBand, threshold, idCol,
      textCol, maxBucket)._1

  /** [[minHashNearDups]] also returning its two internal lazy
    * checkpoints (candidates, pruned shingle sets) so a composite that
    * eagerly materializes the pair list ([[Curation]]'s pairStage) can
    * release the superseded cuts immediately instead of holding them
    * for the session. */
  private[llm] def minHashNearDupsCut(docs: DataFrame, k: Int, bands: Int,
                                      rowsPerBand: Int, threshold: Double,
                                      idCol: String, textCol: String,
                                      maxBucket: Int = 256)
      : (DataFrame, Seq[DataFrame]) = {
    val bandSig = bandSignatures(docs, k, bands, rowsPerBand, idCol, textCol)
    // Same (band, sig) bucket → candidate pair, one pass (no self-join).
    val candidates = bucketPairs(bandSig, Seq("band", "sig"), idCol,
      maxBucket = maxBucket)
    verifiedPairs(docs, candidates, k, threshold, idCol, textCol)
  }

  /** [[minHashNearDups]] under the CROSS-ENGINE affine hash family
    * ([[graft.functions.PolyMinHashLanes]]) instead of xxhash64: same
    * banding topology, same bucket cap, same exact-Jaccard verify — but
    * every hash in the candidate stage is polynomial arithmetic mod
    * 2³¹−1, so the WHOLE pipeline (signatures → banding → cap → verify)
    * replays in DuckDB SQL and the family is oracle-gated end to end,
    * not just rows-checked. Recall characteristics are the universal-
    * family guarantee rather than xxhash64's avalanche, which is why
    * the xxhash64 path remains the production default; the two share
    * [[bucketPairs]] and [[verifiedPairs]] so they cannot drift. Plan
    * shape is identical: one narrow signature projection (no shingle
    * strings materialized at all on this path), banding groupBy, two
    * candidate-pruned verify joins. */
  def polyMinHashNearDups(docs: DataFrame, k: Int = 3, bands: Int = 4,
                          rowsPerBand: Int = 4, threshold: Double = 0.8,
                          idCol: String = "doc_id", textCol: String = "text",
                          maxBucket: Int = 256): DataFrame =
    polyMinHashNearDupsCut(docs, k, bands, rowsPerBand, threshold, idCol,
      textCol, maxBucket)._1

  /** The cuts-returning twin, as [[minHashNearDupsCut]]. */
  private[llm] def polyMinHashNearDupsCut(docs: DataFrame, k: Int, bands: Int,
                                          rowsPerBand: Int, threshold: Double,
                                          idCol: String, textCol: String,
                                          maxBucket: Int = 256)
      : (DataFrame, Seq[DataFrame]) = {
    val bandSig = bandSignaturesPoly(docs, k, bands, rowsPerBand, idCol, textCol)
    val candidates = bucketPairs(bandSig, Seq("band", "sig"), idCol,
      maxBucket = maxBucket)
    verifiedPairs(docs, candidates, k, threshold, idCol, textCol)
  }

  /** Character-level EDIT-DISTANCE verify over poly-banded candidates —
    * the fuzzy-dedup verify family Jaccard cannot express: shingle-set
    * overlap is insensitive to WHERE an edit lands (a one-token append
    * and a scattered 10-token rewrite can share a Jaccard) while
    * normalized Levenshtein counts the actual character operations, the
    * criterion CCNet/RefinedWeb-style "verbatim-with-small-edits"
    * dedup gates on. Same candidate topology as
    * [[polyMinHashNearDups]] (shared [[bandSignaturesPoly]] +
    * [[bucketPairs]], so the two verify families cannot drift on the
    * candidate stage), then ONE `levenshtein` per candidate pair —
    * never per corpus pair; the banding contract keeps the verify stage
    * candidate-sized, which is what makes an O(|a|·|b|) per-pair DP
    * affordable at 100 TB. Emits EVERY candidate pair with its
    * distance, `rel_bp` = round-half-up bp of dist/max(len), and the
    * `dup` verdict at `maxRelBp` — both branches of the threshold stay
    * visible to downstream election/audit. Cross-engine exact: both
    * engines' `levenshtein` is the unit-cost DP, and the
    * normalization is the integer [[TextStats.bp]]. */
  def polyEditNearDups(docs: DataFrame, k: Int = 2, bands: Int = 8,
                       rowsPerBand: Int = 2, maxRelBp: Long = 2000L,
                       idCol: String = "doc_id", textCol: String = "text",
                       maxBucket: Int = 256): DataFrame = {
    val bandSig = bandSignaturesPoly(docs, k, bands, rowsPerBand, idCol, textCol)
    val candidates = bucketPairs(bandSig, Seq("band", "sig"), idCol,
      maxBucket = maxBucket)
    editVerify(docs, candidates, maxRelBp, idCol, textCol)
  }

  /** The verify half of [[polyEditNearDups]], reusable over ANY
    * candidate frame `(a, b)` — the xxhash64 banding, an embedding
    * blocker, or an external pair list compose identically. Checkpoint
    * discipline as [[verifiedPairs]]: candidates and the pruned text
    * attach are both candidate-pair-sized cuts, so the corpus is read
    * once for banding and once column-pruned for the text attach. */
  private[llm] def editVerify(docs: DataFrame, candidates: DataFrame,
                              maxRelBp: Long, idCol: String,
                              textCol: String): DataFrame = {
    val cand = candidates.localCheckpoint(false)
    val candIds = cand.select(col("a").as(idCol))
      .union(cand.select(col("b").as(idCol)))
    // candIds and the pruned texts are candidate-pair-sized by the
    // banding contract — broadcast them EXPLICITLY, matching
    // [[polyMinHashContainDups]]: when `docs` carries a LogicalRDD leg
    // (a checkpointed planted frame, an ingested batch) the planner
    // loses the size estimate and falls back to sort-merge on every
    // verify join (the measured 3 → 10-shuffle llm_dedup_contain class)
    val texts = docs.select(col(idCol), col(textCol))
      .join(broadcast(candIds), Seq(idCol), "left_semi")
      .localCheckpoint(false)
    cand
      .join(broadcast(texts.select(col(idCol).as("a"),
        col(textCol).as("__ta"))), "a")
      .join(broadcast(texts.select(col(idCol).as("b"),
        col(textCol).as("__tb"))), "b")
      .withColumn("edits", levenshtein(col("__ta"), col("__tb")).cast("long"))
      .withColumn("rel_bp", TextStats.bp(col("edits"),
        greatest(length(col("__ta")), length(col("__tb"))).cast("long")))
      .select(col("a"), col("b"), col("edits"), col("rel_bp"),
        (col("rel_bp") <= maxRelBp).as("dup"))
  }

  /** The exact-Jaccard verify stage every near-dup candidate generator
    * funnels through: narrow array_distinct shingle sets, semi-join-
    * pruned to docs that appear in a candidate pair (a tiny fraction of
    * the corpus). No distinct on the probe side: left_semi dedups
    * inherently, and the distinct was an extra shuffle.
    *
    * Multi-consumer cuts (r11, the [[incrementalNearImpl]] discipline):
    * `candidates` feeds THREE consumers (both halves of the id union and
    * the pair-attach join) and `sets` TWO (the a- and b-side attaches) —
    * uncut, every consumer re-derived the full corpus signature pass and
    * Explain showed 14 `Scan parquet` nodes on `llm_dedup_near`. Both
    * frames are candidate-pair-sized (a tiny fraction of the corpus by
    * the banding contract), so each gets one lazy `localCheckpoint`:
    * per action the corpus is now read exactly twice — once for the
    * signature/banding pass that materializes `candidates`, once for
    * the candidate-pruned shingle-set attach — the same two reads the
    * incremental face documents as the 100 TB shape. Tradeoff as
    * everywhere: checkpoint drops lineage; long-lived sessions release
    * blocks after materializing the result
    * (`ColumnBridge.releaseCheckpoint`). */
  private def verifiedPairs(docs: DataFrame, candidates: DataFrame, k: Int,
                            threshold: Double, idCol: String,
                            textCol: String): (DataFrame, Seq[DataFrame]) = {
    import graft.functions.WordShingles
    val cand = candidates.localCheckpoint(false)
    val candIds = cand.select(col("a").as(idCol))
      .union(cand.select(col("b").as(idCol)))
    val sets = docs
      .select(col(idCol), array_distinct(WordShingles(col(textCol), k)).as("set"))
      .join(candIds, Seq(idCol), "left_semi")
      .localCheckpoint(false)
    val withSets = cand
      .join(sets.select(col(idCol).as("a"), col("set").as("sa")), "a")
      .join(sets.select(col(idCol).as("b"), col("set").as("sb")), "b")
    val out = withSets
      .withColumn("jaccard", jaccardOf(col("sa"), col("sb")))
      .where(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
    (out, Seq(cand, sets))
  }

  /** Near-dup THRESHOLD sweep (r14) — the "what cutoff drops how much"
    * calibration a dedup deployment runs BEFORE committing a Jaccard
    * threshold (the [[graft.llm.Classifier.sweep]] discipline applied
    * to dedup): one banding + verify pass over the corpus, then per
    * candidate threshold the surviving pair count and the distinct
    * would-drop docs (the b-side of each a<b pair — the keep-lowest-id
    * pairwise estimate; exact cluster-closure drops are
    * [[dupClusters]]' job, this is the dial-tuning upper bound).
    *
    * Cost is ONE [[bandSignaturesPoly]]+[[bucketPairs]]+shingle-verify
    * pass regardless of how many thresholds — versus running the dedup
    * once per candidate. The per-threshold distinct-drop counts are a
    * multi-distinct aggregate (Spark plans an Expand ×|thresholds|),
    * but it runs over the CANDIDATE-PAIR frame, which the banding
    * contract keeps a tiny fraction of the corpus — never over corpus
    * rows. Poly hash family, so the whole sweep replays in SQL.
    * Emits (threshold_bp, n_pairs, n_docs_dropped), ascending. */
  def thresholdSweep(docs: DataFrame, thresholdsBp: Seq[Long], k: Int = 2,
                     bands: Int = 8, rowsPerBand: Int = 2,
                     idCol: String = "doc_id", textCol: String = "text",
                     maxBucket: Int = 256): DataFrame = {
    require(thresholdsBp.nonEmpty, "thresholdSweep needs >= 1 threshold")
    require(thresholdsBp.distinct.size == thresholdsBp.size,
      "duplicate thresholds — each output row must be one candidate")
    require(thresholdsBp.forall(t => t >= 0 && t <= 10000),
      s"thresholds are basis points in [0,10000], got $thresholdsBp")
    import graft.functions.WordShingles
    val intDiv = graft.functions.VectorFunctions.intDiv _
    val bandSig = bandSignaturesPoly(docs, k, bands, rowsPerBand, idCol, textCol)
    // same checkpoint + explicit-broadcast discipline as verifiedPairs
    val cand = bucketPairs(bandSig, Seq("band", "sig"), idCol,
      maxBucket = maxBucket).localCheckpoint(false)
    val candIds = cand.select(col("a").as(idCol))
      .union(cand.select(col("b").as(idCol)))
    val sets = docs
      .select(col(idCol), array_distinct(WordShingles(col(textCol), k)).as("set"))
      .join(broadcast(candIds), Seq(idCol), "left_semi")
      .localCheckpoint(false)
    val i = size(array_intersect(col("sa"), col("sb"))).cast("long")
    val u = size(array_union(col("sa"), col("sb"))).cast("long")
    val pairs = cand
      .join(broadcast(sets.select(col(idCol).as("a"), col("set").as("sa"))), "a")
      .join(broadcast(sets.select(col(idCol).as("b"), col("set").as("sb"))), "b")
      .select(col("b").as("__drop"),
        intDiv(i * 20000L + u, u * 2L).as("__jbp"))
    val sorted = thresholdsBp.sorted
    val aggs = sorted.flatMap { t =>
      Seq(sum(when(col("__jbp") >= t, 1L).otherwise(0L)).as(s"__p_$t"),
        countDistinct(when(col("__jbp") >= t, col("__drop"))).as(s"__d_$t"))
    }
    val wide = pairs.agg(aggs.head, aggs.tail: _*)
    val rows = sorted.map { t =>
      struct(lit(t).as("threshold_bp"),
        coalesce(col(s"__p_$t"), lit(0L)).as("n_pairs"),
        coalesce(col(s"__d_$t"), lit(0L)).cast("long").as("n_docs_dropped"))
    }
    wide.select(explode(array(rows: _*)).as("__r"))
      .select(col("__r.threshold_bp"), col("__r.n_pairs"),
        col("__r.n_docs_dropped"))
      .orderBy(col("threshold_bp"))
  }

  /** The (id, band, sig) LSH index rows shared by [[minHashNearDups]]
    * and [[incrementalNear]]: per-doc minhash lanes in one narrow
    * [[graft.functions.MinHashLanes]] kernel pass (null text drops, as
    * the exploded formulation did), band signature = xxhash64 over the
    * band's ordered lanes — identical bytes to the lane-column
    * formulation. At scale this IS the signature index a corpus keeps
    * on disk (8 B × bands per doc) so incremental runs never recompute
    * the corpus side. */
  private def bandSignatures(docs: DataFrame, k: Int, bands: Int,
                             rowsPerBand: Int, idCol: String,
                             textCol: String): DataFrame = {
    import graft.functions.{MinHashLanes, WordShingles}
    val h = bands * rowsPerBand
    val minhash = docs
      .select(col(idCol), MinHashLanes(WordShingles(col(textCol), k), h).as("mh"))
      .where(col("mh").isNotNull)
    minhash.select(col(idCol),
      posexplode(array((0 until bands).map { b =>
        xxhash64(concat_ws(",",
          (0 until rowsPerBand).map(r =>
            element_at(col("mh"), b * rowsPerBand + r + 1)): _*))
      }: _*)).as(Seq("band", "sig")))
  }

  /** The cross-engine twin of [[bandSignatures]]: lanes from
    * [[graft.functions.PolyMinHashLanes]], band signature = the base-
    * 1000003 polynomial chain over the band's ordered lanes mod 2³¹−1
    * (the [[graft.functions.TextKernelObjs.gramHashes]] combine — a
    * DuckDB `list_reduce` replays it; largest intermediate < 2⁵¹).
    * Same (id, band, sig) index-row contract, so [[bucketPairs]] and
    * the incremental faces compose with either family. */
  private[llm] def bandSignaturesPoly(docs: DataFrame, k: Int, bands: Int,
                                      rowsPerBand: Int, idCol: String,
                                      textCol: String): DataFrame = {
    val h = bands * rowsPerBand
    val minhash = docs
      .select(col(idCol),
        graft.functions.PolyMinHashLanes(col(textCol), k, h).as("mh"))
      .where(col("mh").isNotNull)
    minhash.select(col(idCol),
      posexplode(array((0 until bands).map { b =>
        (0 until rowsPerBand)
          .map(r => element_at(col("mh"), b * rowsPerBand + r + 1))
          .reduceLeft((acc, l) => (acc * lit(1000003L) + l) % lit(2147483647L))
      }: _*)).as(Seq("band", "sig")))
  }

  /** Near-dup face of [[incrementalExact]] — drop batch documents that
    * are near-duplicates of the EXISTING corpus (the crawl-delta regime
    * where yesterday's corpus is already near-deduped, so only
    * batch-vs-corpus pairs need checking, never corpus-vs-corpus): a
    * batch doc is dropped when it shares any LSH band bucket with a
    * corpus doc AND the exact n-gram Jaccard clears `threshold`
    * (the [[minHashNearDups]] verify discipline — candidates from
    * banding, correctness from exact verification). Returns the
    * SURVIVING batch rows unchanged. Within-batch near-dups are the
    * caller's [[minHashNearDups]] pass — this operator's contract is
    * batch-vs-corpus only.
    *
    * Scale shape: both signature sides are narrow kernel projections
    * (fixed-width (id, band, sig) rows — at 100 TB the corpus side is
    * the PRECOMPUTED signature index, stored once, 8 B × bands per
    * doc); the bucket join is a hash equi-join on (band, sig); corpus
    * TEXT is touched only for candidate docs (semi-join-pruned before
    * the shingle-set attach). A corpus-wide boilerplate bucket
    * multiplies |batch ∩ bucket| × |corpus ∩ bucket| — AQE skew-join
    * splits it, and fewer rowsPerBand / more bands trades that skew
    * against recall exactly as in [[minHashNearDups]]. The candidate
    * list feeds THREE consumers (both semi-prunes and the verify join),
    * so it's cut once with a lazy localCheckpoint — without the cut,
    * both corpus-wide signature passes would derive three times per
    * action. Same RETENTION contract as [[bloomContamination]]:
    * long-lived sessions release the blocks after materializing the
    * result (`ColumnBridge.releaseCheckpoint`). */
  def incrementalNear(batch: DataFrame, corpus: DataFrame,
                      k: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
                      threshold: Double = 0.8,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    incrementalNearImpl(batch, corpus, bandSignatures, k, bands, rowsPerBand,
      threshold, idCol, textCol)

  /** [[incrementalNear]] under the cross-engine affine hash family —
    * the [[polyMinHashNearDups]] relationship exactly: same plan, same
    * candidate checkpoint, same verify, but the signature index is
    * [[bandSignaturesPoly]]'s polynomial arithmetic mod 2³¹−1, so the
    * whole batch-vs-corpus path is oracle-replayable in SQL. xxhash64
    * remains the production default (avalanche mixing); the two share
    * one implementation so they cannot drift. */
  def incrementalNearPoly(batch: DataFrame, corpus: DataFrame,
                          k: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
                          threshold: Double = 0.8,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    incrementalNearImpl(batch, corpus, bandSignaturesPoly, k, bands,
      rowsPerBand, threshold, idCol, textCol)

  /** The STORED signature-index rows for a set of documents —
    * `(idCol, band, sig)`, fixed-width, ~8 B × bands per doc: the
    * "corpus side is the PRECOMPUTED index, stored once" shape
    * [[incrementalNear]]'s scaladoc promises, made a first-class
    * artifact (r17) so a continuous-ingest deployment persists it and
    * probes it per batch instead of re-hashing the corpus
    * (`StreamOps.dedupStream` maintains exactly that). `poly = true`
    * selects the cross-engine affine family ([[bandSignaturesPoly]] —
    * SQL-replayable, the oracle face); the default is the xxhash64
    * production family. The two are plan-identical. */
  def signatureIndex(docs: DataFrame, k: Int = 3, bands: Int = 4,
                     rowsPerBand: Int = 4, idCol: String = "doc_id",
                     textCol: String = "text",
                     poly: Boolean = false): DataFrame =
    (if (poly) bandSignaturesPoly _ else bandSignatures _)(
      docs, k, bands, rowsPerBand, idCol, textCol)

  /** [[minHashNearDups]] / [[polyMinHashNearDups]] with the banding
    * SIGNATURES precomputed (r20): the streaming ingest path
    * (`StreamOps.applyDedupBatch`) already holds the batch's
    * checkpointed [[signatureIndex]] frame for the index write and the
    * stored-index probe — re-deriving the same signatures from text
    * inside the within-batch pass paid the whole MinHash encode a
    * second time per batch (at deployment scale, a second full pass
    * over every ingested document's tokens). Same candidate topology,
    * bucket cap and exact-Jaccard verify as the text-input faces
    * (shared [[bucketPairs]] + [[verifiedPairs]], so the families
    * cannot drift); `sigs` MUST be [[signatureIndex]] of `docs` under
    * the same (k, bands, rowsPerBand, family) — the cap's bounded heap
    * keeps the smallest ids per bucket, so a checkpointed frame's row
    * order cannot change the candidate set (spec-pinned equal to the
    * text-input face in DedupSpec). */
  private[graft] def nearDupsFromSigs(sigs: DataFrame, docs: DataFrame,
                                      k: Int, threshold: Double,
                                      idCol: String = "doc_id",
                                      textCol: String = "text",
                                      maxBucket: Int = 256): DataFrame =
    nearDupsFromSigsCut(sigs, docs, k, threshold, idCol, textCol,
      maxBucket)._1

  /** The cuts-returning twin, as [[minHashNearDupsCut]] (r21, the r20
    * ADVICE note): the streaming batch applier materializes the pair
    * list eagerly every micro-batch, so without the cuts it would leak
    * [[verifiedPairs]]' two internal lazy checkpoints per batch for the
    * session (checkpoint blocks GC-release). */
  private[graft] def nearDupsFromSigsCut(sigs: DataFrame, docs: DataFrame,
                                         k: Int, threshold: Double,
                                         idCol: String = "doc_id",
                                         textCol: String = "text",
                                         maxBucket: Int = 256)
      : (DataFrame, Seq[DataFrame]) = {
    val candidates = bucketPairs(sigs, Seq("band", "sig"), idCol,
      maxBucket = maxBucket)
    verifiedPairs(docs, candidates, k, threshold, idCol, textCol)
  }

  /** The verify half of the incremental family with the CANDIDATES
    * precomputed (an index probe) and the corpus text already fetched
    * and pruned by the caller: distinct batch ids whose exact k-gram
    * Jaccard against some candidate corpus doc clears `threshold`.
    * `pairs` columns: `(bid, cid)`. Shingle sets are computed only for
    * docs appearing in `pairs` (semi-join-pruned), the
    * [[minHashNearDups]] verify discipline — candidates from banding,
    * correctness from exact verification, identical across hash
    * families (shingles are exact strings). */
  def verifiedDupIds(pairs: DataFrame, batchDocs: DataFrame,
                     corpusDocs: DataFrame, k: Int, threshold: Double,
                     idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    verifiedDupPairs(pairs, batchDocs, corpusDocs, k, threshold,
      idCol, textCol)
      .select(col("bid")).distinct()

  /** The pair-level face of [[verifiedDupIds]] (r18): the verified
    * `(bid, cid)` pairs themselves — for callers that need the
    * EVIDENCE (which corpus doc matched), e.g. the read-only serving
    * probe `StreamOps.probeDedup`. Same plan: candidate-pruned shingle
    * sets on both sides, exact-Jaccard filter. */
  def verifiedDupPairs(pairs: DataFrame, batchDocs: DataFrame,
                       corpusDocs: DataFrame, k: Int, threshold: Double,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    import graft.functions.WordShingles
    // pairs typically arrives as a checkpoint (no size stats), so the
    // candidate-sized probe sides get the SIZE-GATED broadcast
    // explicitly — without a hint the doc text shuffles into a
    // sort-merge join against a pair-sized id list (the LogicalRDD
    // stats-loss rule); above the gate (a banding blow-up) the hint
    // degrades to shuffle_hash instead of OOMing the broadcast. The
    // decision is made ONCE on the raw pair frame (a narrow count —
    // gating each distinct view would re-execute its shuffle) and
    // applied to both sides, the Joins.hinted discipline; pair count
    // bounds each distinct id set, so the gate is conservative.
    val small = Joins.fitsBroadcast(pairs)
    def sets(docs: DataFrame, side: String) = docs
      .join(Joins.hinted(small,
          pairs.select(col(side).as(idCol)).distinct()),
        Seq(idCol), "left_semi")
      .select(col(idCol).as(side),
        array_distinct(WordShingles(col(textCol), k)).as(s"set_$side"))
    pairs
      .join(sets(batchDocs, "bid"), "bid")
      .join(sets(corpusDocs, "cid"), "cid")
      .where(jaccardOf(col("set_bid"), col("set_cid")) >= threshold)
      .select(col("bid"), col("cid"))
  }

  private def incrementalNearImpl(
      batch: DataFrame, corpus: DataFrame,
      signatures: (DataFrame, Int, Int, Int, String, String) => DataFrame,
      k: Int, bands: Int, rowsPerBand: Int, threshold: Double,
      idCol: String, textCol: String): DataFrame = {
    import graft.functions.WordShingles
    // the BATCH side feeds three consumers (its signatures, its shingle
    // sets, the final anti join) and is delta-sized by contract — cut it
    // once (r10 plan audit: without the cut the batch re-derived 3×);
    // the corpus side is NEVER cut (100 TB — its two reads are the
    // documented signature-index + candidate-pruned text scans)
    val b = batch.localCheckpoint(false)
    val bSig = signatures(b, k, bands, rowsPerBand, idCol, textCol)
    val cSig = signatures(corpus, k, bands, rowsPerBand, idCol, textCol)
      .select(col(idCol).as("__cid"), col("band"), col("sig"))
    val cand = bSig.join(cSig, Seq("band", "sig"))
      .select(col(idCol), col("__cid")).distinct()
      .localCheckpoint(false)
    val bSets = b
      .select(col(idCol), array_distinct(WordShingles(col(textCol), k)).as("__sa"))
      .join(cand.select(idCol), Seq(idCol), "left_semi")
    val cSets = corpus
      .select(col(idCol).as("__cid"),
        array_distinct(WordShingles(col(textCol), k)).as("__sb"))
      .join(cand.select("__cid"), Seq("__cid"), "left_semi")
    val matched = cand
      .join(bSets, Seq(idCol))
      .join(cSets, Seq("__cid"))
      .where(jaccardOf(col("__sa"), col("__sb")) >= threshold)
      .select(col(idCol))
    b.join(matched, Seq(idCol), "left_anti")
  }

  /** Exact Jaccard of two shingle-set columns, 4dp round-half-up in
    * integer arithmetic — ONE rounding discipline shared by
    * [[minHashNearDups]]'s verify stage and [[ngramJaccard]] (they
    * previously disagreed on .00005-boundary pairs: double `round(i/u,4)`
    * vs integer bp — exactly the cross-engine divergence SURVEY §2.9-bis
    * rule 2 exists to prevent, here INTRA-engine). Thresholds compare
    * against the rounded value. */
  /** CONTAINMENT-verified near-dup pairs over poly-banded candidates —
    * the asymmetric criterion symmetric Jaccard dilutes: a short
    * document quoted whole inside a long one shares most of ITS
    * shingles but few of the composite's, so J = |A∩B|/|A∪B| sinks
    * with the length ratio while containment |A∩B|/min(|A|,|B|) stays
    * at 1 — the quote-inclusion / sub-document-duplication face
    * (Broder's containment, the criterion behind "remove documents
    * wholly contained in others"). Emits every candidate pair with
    * BOTH measures (round-half-up 4dp, shared rounding with
    * [[jaccardOf]]) and the verdict at `minContainment` — threshold
    * branches stay visible, and a pair can be `contained` while far
    * below any Jaccard cut, which is the point. Same candidate
    * topology and checkpoint discipline as [[polyMinHashNearDups]]
    * (shared [[bandSignaturesPoly]]/[[bucketPairs]]); the shingle
    * attach is candidate-pruned exactly as [[verifiedPairs]]. */
  def polyMinHashContainDups(docs: DataFrame, k: Int = 2, bands: Int = 8,
                             rowsPerBand: Int = 2,
                             minContainment: Double = 0.8,
                             idCol: String = "doc_id", textCol: String = "text",
                             maxBucket: Int = 256): DataFrame = {
    import graft.functions.WordShingles
    val bandSig = bandSignaturesPoly(docs, k, bands, rowsPerBand, idCol, textCol)
    val cand = bucketPairs(bandSig, Seq("band", "sig"), idCol,
      maxBucket = maxBucket).localCheckpoint(false)
    val candIds = cand.select(col("a").as(idCol))
      .union(cand.select(col("b").as(idCol)))
    // candIds and the pruned sets are candidate-pair-sized by the
    // banding contract — broadcast them EXPLICITLY: when `docs` carries
    // a LogicalRDD leg (a checkpointed planted frame, an ingested
    // batch), the planner loses the size estimate and quietly falls
    // back to sort-merge on every verify join (measured: 3 → 10
    // executed shuffles on llm_dedup_contain before the hints)
    val sets = docs
      .select(col(idCol), array_distinct(WordShingles(col(textCol), k)).as("set"))
      .join(broadcast(candIds), Seq(idCol), "left_semi")
      .localCheckpoint(false)
    val minBp = math.round(minContainment * 10000).toLong
    val i = size(array_intersect(col("sa"), col("sb"))).cast("long")
    val u = size(array_union(col("sa"), col("sb"))).cast("long")
    val m = least(size(col("sa")), size(col("sb"))).cast("long")
    val containBp = graft.functions.VectorFunctions.intDiv(i * 20000 + m, m * 2)
    cand
      .join(broadcast(sets.select(col(idCol).as("a"), col("set").as("sa"))), "a")
      .join(broadcast(sets.select(col(idCol).as("b"), col("set").as("sb"))), "b")
      .select(col("a"), col("b"),
        (graft.functions.VectorFunctions.intDiv(i * 20000 + u, u * 2)
          .cast("double") / 10000.0).as("jaccard"),
        (containBp.cast("double") / 10000.0).as("containment"),
        (containBp >= minBp).as("contained"))
  }

  private def jaccardOf(sa: Column, sb: Column): Column = {
    val i = size(array_intersect(sa, sb)).cast("long")
    val u = size(array_union(sa, sb)).cast("long")
    graft.functions.VectorFunctions.intDiv(i * 20000 + u, u * 2)
      .cast("double") / 10000.0
  }

  /** Paragraph-level exact dedup — the C4-style boilerplate-removal pass:
    * split each document on `sep`, keep only the FIRST global occurrence
    * of every distinct paragraph (min (doc_id, paragraph-index) — the
    * deterministic "first" discipline, SURVEY §2.9-bis), and reassemble
    * each document from its surviving paragraphs in original order.
    * Returns (id, text, n_kept) for EVERY input document — a document
    * whose every paragraph first appeared elsewhere survives with empty
    * text and n_kept = 0.
    *
    * Scale design: the winner election groups by `sha2(paragraph, 256)` —
    * a 32-byte shuffle key regardless of paragraph size — carrying a
    * 16-byte min-struct; paragraphs themselves move only on the semi join
    * probe and the per-document reassembly groupBy (keyed by the id the
    * rows already carry). The reassembly uses a sorted collect_list over
    * (idx, para) structs — deterministic because idx is unique per doc.
    * `sep` is a Java regex for the split and a literal for the re-join
    * (identical for the plain separators this is meant for). */
  def paragraphDedup(docs: DataFrame, sep: String = "\n\n",
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val paras = docs
      .select(col(idCol), posexplode(split(col(textCol), sep)).as(Seq("idx0", "para")))
      .select(col(idCol), (col("idx0") + 1).as("idx"), col("para"))
    val winners = paras
      .groupBy(sha2(col("para"), 256).as("__ph"))
      .agg(min(struct(col(idCol), col("idx"))).as("__w"))
      .select(col(s"__w.$idCol"), col("__w.idx"))
    val surv = paras.join(winners, Seq(idCol, "idx"), "left_semi")
    val rebuilt = surv.groupBy(col(idCol))
      .agg(
        array_join(transform(
          sort_array(collect_list(struct(col("idx"), col("para")))),
          s => s.getField("para")), sep).as(textCol),
        count(lit(1)).as("n_kept"))
    docs.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col(textCol), lit("")).as(textCol),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Exact-substring dedup (the Lee et al. 2022 "Deduplicating Training
    * Data Makes Language Models Better" class): every k-token window that
    * occurs at MORE than one (doc, start) position — across documents or
    * within one — keeps only its first occurrence (min (id, start)); all
    * other occurrences have those token positions removed from their
    * documents, and the surviving tokens are re-joined in order. This is
    * the repeated-long-span memorization lever doc-level dedup can't
    * reach: two distinct pages sharing one boilerplate paragraph are not
    * near-dups, but the paragraph still repeats in the training set.
    *
    * Returns (id, text, n_kept) for EVERY input document, like
    * [[paragraphDedup]] — a fully-duplicated document survives with
    * empty text and n_kept = 0.
    *
    * Scale design: the paper's suffix array is a single-node structure;
    * the distributed, declarative equivalent is window-granular. Window
    * construction is explode + slice + sha2 in ONE narrow codegen stage
    * (O(nt·k) hash CPU, but each emitted row is a fixed-width
    * (id, start, 32-byte hash) — the doc body never rides the explode
    * past its own stage). Winner election is a window MIN over the hash
    * partition — ONE shuffle of the fixed-width stream, no join (the
    * groupBy+join alternative shuffles it twice); per-hash groups are
    * occurrence counts, so the WindowExec buffer is duplicate-bounded.
    * Removed-position explosion amplifies LOSERS only — proportional to
    * the duplicated volume being deleted, not the corpus. Reassembly
    * (r21): the covered positions aggregate into per-doc sorted sets
    * (loser-volume-bounded collect_set — overlapping windows dedup
    * there), attach with a doc-level join, and one compiled
    * [[graft.functions.RemoveAtJoin]] walk rebuilds each document — no
    * corpus-token-stream exchange, no per-token lambda (the pre-r21
    * posexplode + anti-join + collect_list shape shuffled every token
    * to delete loser positions only).
    *
    * Granularity caveat (documented, inherent): spans shorter than k
    * tokens are never matched, and a duplicated span's first/last
    * partial windows align to window starts, so up to k-1 leading
    * tokens of a repeat can survive. Pick k = the span length you mean
    * to police (the paper uses 50 BPE tokens). */
  def substringDedup(docs: DataFrame, k: Int = 50,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(k > 0, "k must be positive")
    val (toks, _, losers) = substringStages(docs, k, idCol, textCol)
    val covered = losers
      .select(col(idCol), explode(sequence(col("__s"), col("__s") + (k - 1))).as("__i"))
    // reassembly (r21, guide §2.3 "shuffle fewer bytes"): the old shape
    // posexploded EVERY document's tokens and rebuilt them through a
    // corpus-token-stream groupBy + sort-based collect_list (the r15
    // collect-agg class) with an interpreted transform lambda — a full
    // token exchange to delete LOSER positions only. Aggregate the
    // covered positions instead (proportional to the duplicated volume
    // being deleted, never the corpus — collect_set's buffer is
    // loser-bounded and dedups overlapping windows), attach per doc,
    // and rebuild with one compiled merge walk
    // ([[graft.functions.RemoveAtJoin]], bit-identical by
    // TextKernelsSpec). Every input doc flows through `toks`, so the
    // fully-duplicated survivor contract (empty text, n_kept = 0) falls
    // out of the left join + empty-position kernel result — no outer
    // re-join against `docs`. n_kept = |toks| − |covered| exactly:
    // positions are distinct and in [1, |toks|] by construction.
    val coveredSets = covered.groupBy(col(idCol))
      .agg(sort_array(collect_set(col("__i"))).as("__cov"))
    // null-text parity with the pre-r21 shape (the old posexplode
    // emitted no rows for a null token array and the final outer
    // re-join coalesced the vanished doc to ("", 0)): a null __toks
    // coalesces to the empty array BEFORE the kernel, so a null-text
    // doc still survives as ("", 0), never (null, null)
    val safeToks = coalesce(col("__toks"), array().cast("array<string>"))
    toks.join(coveredSets, Seq(idCol), "left")
      .select(col(idCol),
        graft.functions.RemoveAtJoin(safeToks,
          coalesce(col("__cov"), array().cast("array<int>"))).as(textCol),
        (size(safeToks) - coalesce(size(col("__cov")), lit(0)))
          .cast("long").as("n_kept"))
  }

  /** The window-hash construction and loser-election stages of
    * [[substringDedup]], exposed so dev profilers measure the DECLARED
    * pipeline instead of a silently-drifting copy (the r20 ADVICE
    * codebook rule applied here). Returns (toks, hashed, losers):
    * `toks` = (id, __toks), `hashed` = (id, __s, __wh) one row per
    * k-window position, `losers` = (id, __s) the non-first occurrences. */
  private[graft] def substringStages(docs: DataFrame, k: Int,
                                     idCol: String = "doc_id",
                                     textCol: String = "text")
      : (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol),
      split(col(textCol), TextStats.WsRun).as("__toks"))
    val hashed = toks
      .select(col(idCol), col("__toks"),
        explode(when(size(col("__toks")) >= k,
            sequence(lit(1), size(col("__toks")) - (k - 1)))
          .otherwise(array().cast("array<int>"))).as("__s"))
      .select(col(idCol), col("__s"),
        sha2(array_join(slice(col("__toks"), col("__s"), lit(k)), " "), 256).as("__wh"))
    val byHash = Window.partitionBy(col("__wh"))
    val losers = hashed
      .withColumn("__w", min(struct(col(idCol), col("__s"))).over(byHash))
      .where(col(idCol) =!= col(s"__w.$idCol") || col("__s") =!= col("__w.__s"))
      .select(col(idCol), col("__s"))
    (toks, hashed, losers)
  }

  /** 64-bit SimHash per document: per-token xxhash64, bitwise majority
    * vote, as ONE narrow codegen'd projection
    * ([[graft.functions.SimHash64]]). SimHash is a pure per-document
    * function — the earlier explode → 64-vote-lane groupBy formulation
    * paid a full shuffle of the token stream for it (and its 64
    * aggregate lanes flirted with codegen size limits); the kernel makes
    * the signature stage shuffle-free, so [[simHashNearDups]]'s only
    * wide op is the banding join. Values are bit-identical (same
    * xxhash64 seed, same majority rule). */
  def simHash(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      graft.functions.SimHash64(split(col(textCol), " ")).as("simhash"))

  /** SimHash near-dup pairs within `maxHamming` bit flips. Pigeonhole
    * banding: split the 64-bit hash into (maxHamming+1) chunks — any pair
    * within distance maxHamming agrees on at least one chunk, so candidate
    * generation is an equi-join on (chunkIdx, chunkValue). */
  def simHashNearDups(docs: DataFrame, maxHamming: Int = 3,
                      idCol: String = "doc_id", textCol: String = "text",
                      maxBucket: Int = 256): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 63,
      s"maxHamming must be in [0, 63], got $maxHamming")
    val chunks = maxHamming + 1
    val width = 64 / chunks
    // width == 64 (the maxHamming = 0 exact-match case) needs the
    // all-ones mask spelled -1L: Scala masks shift counts mod 64, so
    // (1L << 64) - 1 is 0 — which made every doc land in ONE (0, 0)
    // bucket and silently capped exact-dup recall at maxBucket
    val mask = if (width == 64) -1L else (1L << width) - 1
    val sh = simHash(docs, idCol, textCol)
    val banded = sh.select(col(idCol), col("simhash"),
      posexplode(array((0 until chunks).map(c =>
        shiftright(col("simhash"), c * width)
          .bitwiseAND(lit(mask))): _*)).as(Seq("chunk", "cv")))
    // one-pass bucket pairing with the 64-bit hash riding in the bucket
    // set — the 64-lane vote aggregation runs ONCE and no re-attach join
    bucketPairs(banded, Seq("chunk", "cv"), idCol, payloadCol = Some("simhash"),
      maxBucket = maxBucket)
      .select(col("a"), col("b"),
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** [[simHashNearDups]] under the cross-engine affine family — the
    * [[polyMinHashNearDups]] relationship for the SimHash axis: a
    * 32-bit signature from [[graft.functions.PolySimHash]] (bit j =
    * majority vote of an affine hash-threshold lane over the doc's
    * polynomial token hashes), the same pigeonhole banding (maxHamming
    * + 1 chunks — ≤ maxHamming flipped bits leave at least one chunk
    * intact, and bits above `chunks·width` only ADD candidate recall),
    * the same bounded bucket cap, exact Hamming verify via
    * bit_count(xor). Every stage is integer arithmetic both engines
    * share, so the SimHash family is oracle-gated end to end; xxhash64
    * [[simHashNearDups]] stays the production default (64 avalanche
    * bits vs 32 affine ones). */
  def polySimHashNearDups(docs: DataFrame, maxHamming: Int = 3,
                          idCol: String = "doc_id", textCol: String = "text",
                          maxBucket: Int = 256): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 31,
      s"maxHamming must be in [0, 31], got $maxHamming")
    val bits = 32
    val chunks = maxHamming + 1
    val width = bits / chunks
    require(width > 0, s"maxHamming $maxHamming leaves zero-width chunks at $bits bits")
    val mask = (1L << width) - 1
    val sh = docs.select(col(idCol),
        graft.functions.PolySimHash(col(textCol), bits).as("simhash"))
      .where(col("simhash").isNotNull)
    val banded = sh.select(col(idCol), col("simhash"),
      posexplode(array((0 until chunks).map(c =>
        shiftright(col("simhash"), c * width)
          .bitwiseAND(lit(mask))): _*)).as(Seq("chunk", "cv")))
    bucketPairs(banded, Seq("chunk", "cv"), idCol, payloadCol = Some("simhash"),
      maxBucket = maxBucket)
      .select(col("a"), col("b"),
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b")))
          .cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Exact n-gram (word) Jaccard similarity for given candidate pairs —
    * the verification kernel shared by the approximate paths. */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, k: Int = 2,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // The verifiedPairs multi-consumer discipline (r11): `pairs` feeds
    // three consumers (both id-union halves + the attach join) and the
    // pruned `sets` two — both are candidate-pair-sized by contract, so
    // each gets one lazy localCheckpoint; uncut, every consumer
    // re-derived its full lineage per action (llm_dedup_ngram read its
    // table 7×). Release via ColumnBridge.releaseCheckpoint in
    // long-lived sessions.
    val cand = pairs.localCheckpoint(false)
    // prune shingle-set materialization to docs referenced by the pairs
    // (no distinct — the left_semi probe side dedups inherently)
    val pairIds = cand.select(col("a").as(idCol))
      .union(cand.select(col("b").as(idCol)))
    // narrow per-doc shingle sets (array_distinct over the kernel array) —
    // no explode, no collect_set shuffle; null-text docs drop like the
    // exploded formulation dropped them
    val sets = docs
      .select(col(idCol),
        array_distinct(graft.functions.WordShingles(col(textCol), k)).as("set"))
      .where(col("set").isNotNull)
      .join(pairIds, Seq(idCol), "left_semi")
      .localCheckpoint(false)
    cand
      .join(sets.select(col(idCol).as("a"), col("set").as("sa")), "a")
      .join(sets.select(col(idCol).as("b"), col("set").as("sb")), "b")
      // one rounding discipline with minHashNearDups' verify stage
      .select(col("a"), col("b"), jaccardOf(col("sa"), col("sb")).as("jaccard"))
  }

  /** Benchmark-contamination check — the decontamination pass a training
    * corpus runs against its eval sets: for each document, the fraction
    * of its DISTINCT word k-shingles that appear in ANY benchmark
    * document. Returns (id, matched, total, contamination) with the
    * ratio 4dp round-half-up in integer arithmetic (cross-engine exact,
    * SURVEY §2.9-bis rule 2).
    *
    * Scale design: the benchmark side is small by contract (eval sets,
    * not corpora) — its distinct shingle set builds once and BROADCASTS
    * to a semi join against the exploded document shingles; the document
    * side stays a narrow kernel projection + explode with no shuffle at
    * all (the per-doc matched counts aggregate on the already-id-keyed
    * stream). Totals come from a second narrow projection, no explode. */
  def contamination(docs: DataFrame, benchmark: DataFrame, k: Int = 3,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    contaminationRatio(docs,
      benchmarkMatchedCounts(docs, benchmark, k, idCol, textCol),
      k, idCol, textCol)

  /** Per-doc count of distinct shingles present in the broadcast
    * benchmark set — the matched side shared by [[contamination]] and
    * [[contaminationSweep]] (ONE definition, so a sweep can never
    * measure a different overlap than the gate applies). */
  private def benchmarkMatchedCounts(docs: DataFrame, benchmark: DataFrame,
                                     k: Int, idCol: String,
                                     textCol: String): DataFrame = {
    import graft.functions.WordShingles
    val docSh = docs.select(col(idCol),
      explode(array_distinct(WordShingles(col(textCol), k))).as("shingle"))
    val benchSh = benchmark
      .select(explode(array_distinct(WordShingles(col(textCol), k))).as("shingle"))
      .distinct()
    docSh.join(broadcast(benchSh), Seq("shingle"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("matched"))
  }

  /** Decontamination threshold calibration — "what does each candidate
    * contamination cutoff COST?": for every threshold, the documents and
    * tokens that survive `contamination_bp <= threshold`. The eval-risk
    * side of [[graft.llm.Classifier.sweep]]'s quality calibration, and
    * the tool that makes shingle-size saturation VISIBLE (a k too small
    * for the corpus reads as every threshold keeping ~nothing — see the
    * k=2-vs-k=3 probe note in CLAUDE.md).
    *
    * One corpus pass regardless of candidate count: the per-doc bp and
    * token count are computed once, and each threshold is a pair of
    * conditional aggregates over that shared projection
    * ([[Classifier.sweep]]'s shape) — the exchange carries
    * 2·|thresholds| partials. The matched counts are
    * [[benchmarkMatchedCounts]], the SAME definition [[contamination]]
    * gates on. `tokenCount` overrides the token metric (pass
    * [[TextStats.bpeTokenCount]] for subword-faithful budgets).
    *
    * Empty input: an EMPTY docs frame still yields one row per
    * threshold with zero counts (the global aggregate over zero rows
    * produces one all-null partial row; the coalesces turn it into
    * zeros). A SQL mirror built as `thresholds CROSS JOIN per_doc_cte`
    * would instead emit ZERO rows on empty input — if this shape is
    * ever oracle-gated on a possibly-empty slice, write the oracle as a
    * LEFT JOIN from the threshold list so both engines agree. */
  def contaminationSweep(docs: DataFrame, benchmark: DataFrame,
                         thresholds: Seq[Long], k: Int = 3,
                         idCol: String = "doc_id", textCol: String = "text",
                         tokenCount: Option[Column] = None): DataFrame = {
    require(thresholds.nonEmpty, "sweep needs at least one threshold")
    require(thresholds.distinct.size == thresholds.size,
      "duplicate thresholds — each output row must be one candidate")
    val matched = benchmarkMatchedCounts(docs, benchmark, k, idCol, textCol)
    val perDoc = docs.select(col(idCol),
        size(array_distinct(graft.functions.WordShingles(col(textCol), k)))
          .cast("long").as("__total"),
        tokenCount.getOrElse(
          size(split(col(textCol), TextStats.WsRun)).cast("long")).as("__nt"))
      .join(matched, Seq(idCol), "left")
      .select(TextStats.bp(coalesce(col("matched"), lit(0L)), col("__total"))
        .as("__cbp"), col("__nt"))
    val sorted = thresholds.sorted
    val aggs = sorted.flatMap { t =>
      Seq(sum(when(col("__cbp") <= t, 1L).otherwise(0L)).as(s"__kept_$t"),
        sum(when(col("__cbp") <= t, col("__nt")).otherwise(0L)).as(s"__toks_$t"))
    }
    val wide = perDoc.agg(aggs.head, aggs.tail: _*)
    val rows = sorted.map { t =>
      struct(lit(t).as("threshold"),
        coalesce(col(s"__kept_$t"), lit(0L)).as("kept_docs"),
        coalesce(col(s"__toks_$t"), lit(0L)).as("kept_tokens"))
    }
    wide.select(explode(array(rows: _*)).as("__r"))
      .select(col("__r.threshold"), col("__r.kept_docs"), col("__r.kept_tokens"))
  }

  /** Shared tail of the two contamination paths: per-doc distinct-shingle
    * totals (narrow, no explode) joined to the matched counts, ratio 4dp
    * round-half-up in integer arithmetic. */
  private def contaminationRatio(docs: DataFrame, matched: DataFrame, k: Int,
                                 idCol: String, textCol: String): DataFrame = {
    val totals = docs.select(col(idCol),
      size(array_distinct(graft.functions.WordShingles(col(textCol), k)))
        .cast("long").as("total"))
    totals.join(matched, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("matched"), lit(0L)).as("matched"), col("total"))
      .select(col(idCol), col("matched"), col("total"),
        (graft.functions.VectorFunctions.intDiv(
          col("matched") * 20000 + col("total"), col("total") * 2)
          .cast("double") / 10000.0).as("contamination"))
  }

  /** [[contamination]] for benchmark sets too big to broadcast as a
    * string set — the "union of every eval suite" regime (tens of
    * millions of shingles): identical OUTPUT, different plan. A bloom
    * filter over the benchmark shingles (~1.2 B/item at the default 1 %
    * FPP, vs dozens of bytes per broadcast string) rides into a narrow
    * [[graft.functions.BloomMightContainStr]] kernel probe over the
    * exploded document shingles, dropping non-candidates INSIDE
    * whole-stage codegen before any exchange; only the survivors — true
    * matches plus the FPP sliver — pay the exact shuffle semi-join
    * against the benchmark set that makes the result EXACT (bloom error
    * is one-sided, so prefilter-then-verify loses nothing). The doc side
    * is scanned once and the stream that shuffles is ~(contamination
    * rate + fpp) of it, instead of a broadcast of the un-broadcastable.
    *
    * The benchmark shingle set is consumed twice (bloom build + verify
    * join), so it's cut once with a lazy localCheckpoint (the
    * [[Curation.curateFull]] pattern — no lineage after the cut, by
    * design). `expectedItems < 0` (default) sizes the bloom from the cut
    * set's exact count; pass it when known to skip that job.
    *
    * RETENTION: the checkpoint's blocks stay pinned until the session's
    * ContextCleaner notices the frame is unreachable — in a long-lived
    * session, callers that are done with the RESULT should release them
    * eagerly via `ColumnBridge.releaseCheckpoint(result)` (the cut
    * benchmark set is the plan's only `LogicalRDD` leaf). Any later
    * action on the result then fails instead of recomputing — release
    * only after the result is materialized. */
  def bloomContamination(docs: DataFrame, benchmark: DataFrame, k: Int = 3,
                         fpp: Double = 0.01, expectedItems: Long = -1L,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.functions.{BloomMightContainStr, WordShingles}
    require(fpp > 0.0 && fpp < 1.0, s"fpp must be in (0, 1), got $fpp")
    val benchSh = benchmark
      .select(explode(array_distinct(WordShingles(col(textCol), k))).as("shingle"))
      .distinct()
      .localCheckpoint(false)
    val n = if (expectedItems >= 0) expectedItems else benchSh.count()
    val bloom = benchSh.stat.bloomFilter("shingle", math.max(n, 1L), fpp)
    val docSh = docs.select(col(idCol),
        explode(array_distinct(WordShingles(col(textCol), k))).as("shingle"))
      .where(BloomMightContainStr(col("shingle"), bloom))
    val matched = docSh.join(benchSh, Seq("shingle"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("matched"))
    contaminationRatio(docs, matched, k, idCol, textCol)
  }

  /** Eval-integrity report — the TRANSPOSE of [[contamination]]: for
    * each BENCHMARK document, the fraction of its distinct word
    * k-shingles that appear anywhere in the training corpus. Same
    * output contract (id, matched, total, contamination), but the ids
    * are benchmark ids — the direction an eval-set release review is
    * written in ("which of OUR prompts does the corpus already
    * contain"), where [[contamination]] answers the corpus-curation
    * direction ("which corpus docs must be dropped").
    *
    * Scale shape: the benchmark shingle set is small by contract and
    * BROADCASTS into an in-scan semi join that discards every
    * non-matching corpus shingle inside codegen — the corpus is
    * scanned once and never shuffles; the only exchange is the
    * distinct over MATCHED corpus shingles, whose cardinality is
    * bounded by the benchmark shingle set itself (map-side partial
    * distinct caps each task's emit at that bound). The per-benchmark
    * aggregation then runs entirely on benchmark-sized frames. */
  def contaminationReport(docs: DataFrame, benchmark: DataFrame, k: Int = 3,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import graft.functions.WordShingles
    val benchSh = benchmark.select(col(idCol),
      explode(array_distinct(WordShingles(col(textCol), k))).as("shingle"))
    val benchSet = benchSh.select("shingle").distinct()
    val hit = docs
      .select(explode(array_distinct(WordShingles(col(textCol), k))).as("shingle"))
      .join(broadcast(benchSet), Seq("shingle"), "left_semi")
      .distinct()
    val matched = benchSh.join(hit, Seq("shingle"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("matched"))
    contaminationRatio(benchmark, matched, k, idCol, textCol)
  }

  /** Embedding near-dup: pairs with cosine ≥ threshold, LSH-bucketed.
    *
    * Candidate generation is banded sign-random-projection LSH — the
    * cosine analog of [[minHashNearDups]]'s banding: `numTables` tables ×
    * `bitsPerTable` seeded gaussian hyperplanes; a table signature packs
    * the projection signs into one long (AND-amplification within the
    * band), and a pair is a candidate iff some table's signatures agree —
    * a hash-partitioned equi-join on (table, signature). The banded stream
    * carries only (table, sig, id) — 3 fixed-width values per row per
    * table, never the vectors — and the quadratic pair space is never
    * materialized. Candidates are then re-scored with the exact codegen'd
    * dot kernel on the original vectors, so reported cosines are identical
    * to [[embeddingNearDupsExact]]; only recall (< 1 by LSH construction,
    * measured in DedupSpec) differs. Sign collision prob per hyperplane is
    * `1 − θ/π` — defaults give ≥ 0.99 recall at cos ≥ 0.95; permissive
    * thresholds on diffuse corpora want smaller `bitsPerTable`.
    *
    * Sizing at scale: an unrelated pair collides on a table with prob
    * ≈ 2^-bitsPerTable, so expected bucket sizes stay O(1) only while
    * `bitsPerTable ≳ log2(n)` — grow the signature with the corpus (and
    * add tables to buy recall back). Its registry face,
    * `llm_dedup_embed`, reads a fixed 500-vector prefix at any scale.
    * The default (`bitsPerTable = 0` = auto) applies that rule for you:
    * `clamp(ceil(log2(count)), 4, 24)` from a cheap corpus count (a
    * count-star — parquet answers it from footers), so scaling the corpus
    * 100× can't silently push bucket sizes superlinear. Pass an explicit
    * value to override (permissive thresholds on diffuse corpora want
    * SHORTER signatures than the collision rule — recall, not bucket
    * size, binds there).
    */
  def embeddingNearDups(emb: DataFrame, threshold: Double,
                        idCol: String = "vec_id", vecCol: String = "embedding",
                        numTables: Int = 8, bitsPerTable: Int = 0,
                        seed: Long = 42L, maxBucket: Int = 256): DataFrame = {
    val n = Similarity.withNorm(emb.select(col(idCol), col(vecCol)), vecCol, "n")
    // dims probe skips NULL vectors: without the filter, a corpus whose
    // FIRST-returned row (partition-order dependent) happens to carry a
    // null embedding crashed getInt with a flaky NPE, while the same
    // corpus under another partitioning worked — null rows are tolerated
    // by the signature kernel, so they must be tolerated here too
    val dims = emb.where(col(vecCol).isNotNull)
      .select(size(col(vecCol)).as("d")).take(1) match {
      case Array(row) => row.getInt(0)
      case _ => return n.select(col(idCol).as("a"), col(idCol).as("b"),
        col("n").as("cos")).where(lit(false)) // no non-null vectors → empty result
    }
    val bits =
      if (bitsPerTable > 0) bitsPerTable
      else autoBits(emb.count()) // keep expected bucket size O(1) as n grows
    val rng = new scala.util.Random(seed)
    // one SignProjection kernel computes ALL numTables×bits plane dots per
    // row — numTables×bits separate when(dot≥0) columns overflow codegen
    // limits and fall back to interpreted eval (measured ~100× slower, round 3)
    val planes = Array.fill(numTables * bits)(Array.fill(dims)(rng.nextGaussian()))
    val banded = n.select(col(idCol),
        posexplode(graft.functions.SignProjection(col(vecCol), planes, numTables, bits))
          .as(Seq("tbl", "sig")))
    bucketPairs(banded, Seq("tbl", "sig"), idCol, maxBucket = maxBucket)
      .join(n.select(col(idCol).as("a"), col(vecCol).as("va"), col("n").as("na")), "a")
      .join(n.select(col(idCol).as("b"), col(vecCol).as("vb"), col("n").as("nb")), "b")
      .select(col("a"), col("b"),
        (Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .where(col("cos") >= threshold)
      .select(col("a"), col("b"), round(col("cos"), 4).as("cos"))
  }

  /** [[embeddingNearDups]] under an INTEGER-EXACT construction — the
    * embedding axis of the cross-engine family ([[polyMinHashNearDups]]
    * / [[polySimHashNearDups]]' relationship): vectors quantize to a
    * power-of-two grid (`floor(v·scale + 0.5)` — every step exact in
    * binary, the llm_pq_search discipline), hyperplanes are
    * formula-planted small INTEGERS, so the sign projections
    * ([[graft.functions.SignProjection]] over integer-valued doubles —
    * products ≪ 2⁵³, order-free), the banding and the verify are all
    * integer arithmetic and the whole path replays in SQL. The verify
    * reports `cos2_bp` — round-half-up basis points of cosine SQUARED
    * on the quantized vectors (squaring keeps it rational; the sign
    * guard `dot > 0` excludes anti-parallel pairs) — so `thresholdBp`
    * compares against cos²·10⁴ (cos ≥ 0.9 → 8100). Gaussian-plane
    * [[embeddingNearDups]] stays the production default: full-precision
    * cosines and seeded planes, at the price of no SQL oracle. */
  def quantizedEmbeddingNearDups(emb: DataFrame, thresholdBp: Long,
                                 numTables: Int = 8, bits: Int = 2,
                                 dims: Int = 64, scale: Int = 64,
                                 idCol: String = "vec_id",
                                 vecCol: String = "embedding",
                                 maxBucket: Int = 256): DataFrame = {
    require(scale > 0 && (scale & (scale - 1)) == 0,
      s"scale must be a power of two (exact in binary floats), got $scale")
    require(thresholdBp >= 0 && thresholdBp <= 10000,
      s"thresholdBp is cos²·10⁴ in [0, 10⁴], got $thresholdBp")
    val planes = quantPlanes(numTables * bits, dims).map(_.map(_.toDouble))
    // three consumers (banding, both verify sides) — without the cut
    // each re-derives the quantization from the source (6 scans
    // measured in the round-10 plan audit; the multi-consumer rule)
    val vq = quantized(emb, idCol, vecCol, scale).localCheckpoint(false)
    val banded = vq.select(col(idCol),
      posexplode(graft.functions.SignProjection(col("__vq"), planes,
        numTables, bits)).as(Seq("tbl", "sig")))
    cos2Verify(bucketPairs(banded, Seq("tbl", "sig"), idCol,
      maxBucket = maxBucket), vq, thresholdBp, idCol)
  }

  /** The integer cos²·10⁴ verify stage shared by
    * [[quantizedEmbeddingNearDups]] and [[semDedupQuantized]]: exact
    * quantized dot/norm arithmetic, round-half-up basis points,
    * anti-parallel pairs excluded by the `dot > 0` guard. `vq` carries
    * (idCol, __vq) — the quantized vectors. */
  private def cos2Verify(pairs: DataFrame, vq: DataFrame, thresholdBp: Long,
                         idCol: String): DataFrame =
    cos2Score(pairs,
        vq.select(col(idCol).as("a"), col("__vq").as("__va")),
        vq.select(col(idCol).as("b"), col("__vq").as("__vb")))
      .where(col("cos2_bp") >= thresholdBp)
      .select(col("a"), col("b"), col("cos2_bp"))

  /** The raw integer cos²·10⁴ scoring join behind [[cos2Verify]] — also
    * the verify stage of [[Similarity.quantizedLshTopK]] (two DIFFERENT
    * quantized frames there: queries vs corpus). `pairs` carries
    * (a, b); `vqA`/(a, __va), `vqB`/(b, __vb). One formula, every
    * quantized face. */
  private[llm] def cos2Score(pairs: DataFrame, vqA: DataFrame,
                             vqB: DataFrame): DataFrame = {
    val intDiv = graft.functions.VectorFunctions.intDiv _
    pairs
      .join(vqA, "a")
      .join(vqB, "b")
      .withColumn("__dot", Similarity.dot(col("__va"), col("__vb")).cast("long"))
      .withColumn("__na", Similarity.dot(col("__va"), col("__va")).cast("long"))
      .withColumn("__nb", Similarity.dot(col("__vb"), col("__vb")).cast("long"))
      .where(col("__dot") > 0 && col("__na") > 0 && col("__nb") > 0)
      .withColumn("cos2_bp", intDiv(
        col("__dot") * col("__dot") * 20000L + col("__na") * col("__nb"),
        col("__na") * col("__nb") * 2L))
  }

  /** Quantize a vector column to the `scale` grid as exact doubles —
    * the shared entry of the quantized family ([[quantizedEmbeddingNearDups]],
    * [[semDedupQuantized]], [[Similarity.quantizedLshTopK]]). */
  private[llm] def quantized(df: DataFrame, idCol: String, vecCol: String,
                             scale: Int): DataFrame = {
    require(scale > 0 && (scale & (scale - 1)) == 0,
      s"scale must be a power of two (exact in binary floats), got $scale")
    df.where(col(vecCol).isNotNull)
      .select(col(idCol), transform(col(vecCol),
        x => floor(x.cast("double") * scale + lit(0.5)).cast("double"))
        .as("__vq"))
  }

  /** [[semDedup]] under the cross-engine construction — clusters from a
    * PLANTED quarter-step codebook ([[Similarity.clusterBalance]]'s
    * integer-exact PQ-cell assignment) instead of seeded k-means, the
    * within-cluster greedy min-id prune deciding on the quantized
    * integer cos²·10⁴ of [[quantizedEmbeddingNearDups]]. Same
    * Σ|cluster|² cost model and `maxCluster` cap as [[semDedup]];
    * k-means [[semDedup]] stays the production default (learned
    * clusters track the corpus; a fixed codebook doesn't) — this face
    * exists so the cluster-then-prune SEMANTICS are oracle-gated.
    * Returns surviving `(idCol, cluster)` rows. */
  def semDedupQuantized(emb: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
                        thresholdBp: Long, maxCluster: Int = 4096,
                        scale: Int = 64, idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    require(scale > 0 && (scale & (scale - 1)) == 0,
      s"scale must be a power of two (exact in binary floats), got $scale")
    val k = codebooks.head.length
    require(codebooks.forall(_.length == k),
      "all subspaces must share one centroid count (cell id = Σ code·K^s)")
    val cellCol = aggregate(
      graft.functions.PqEncode(col(vecCol), codebooks),
      lit(0L), (acc, c) => acc * k + c)
    val assigned = emb.select(col(idCol), cellCol.as("cluster"),
        transform(col(vecCol),
          x => floor(x.cast("double") * scale + lit(0.5)).cast("double"))
          .as("__vq"))
      .where(col("cluster").isNotNull)
      // three consumers (pair stage, verify vectors, anti-join base) —
      // without the cut each re-derives the assignment projection
      .localCheckpoint(false)
    val pairs = bucketPairs(assigned.select(col("cluster"), col(idCol)),
      Seq("cluster"), idCol, maxBucket = maxCluster)
    val dropped = cos2Verify(pairs, assigned.select(col(idCol), col("__vq")),
        thresholdBp, idCol)
      .select(col("b").as(idCol)) // no .distinct(): the anti join dedups
    assigned.select(col(idCol), col("cluster"))
      .join(dropped, Seq(idCol), "left_anti")
  }

  /** The formula-planted integer hyperplanes
    * [[quantizedEmbeddingNearDups]] projects against — public so the
    * oracle's VALUES literal is GENERATED from the same definition
    * (the codebook discipline; engines cannot drift). */
  def quantPlanes(numPlanes: Int, dims: Int): Array[Array[Long]] =
    Array.tabulate(numPlanes)(p =>
      Array.tabulate(dims)(i => (((p * 31 + i * 17) % 19) - 9).toLong))

  /** The `bitsPerTable ≳ log2(n)` sizing rule behind
    * [[embeddingNearDups]]'s auto default, clamped to [4, 24]: below 4 the
    * tables stop discriminating even on tiny fixtures; above 24 a table is
    * already selective past 16M docs per AND-band and more bits only cost
    * recall. */
  private[llm] def autoBits(n: Long): Int =
    math.min(24, math.max(4,
      math.ceil(math.log(math.max(2L, n).toDouble) / math.log(2)).toInt))

  /** Exact all-pairs variant — the correctness baseline for
    * [[embeddingNearDups]]'s recall measurement. O(n²) by construction:
    * reserve for fixtures and already-bucketed shards, never a raw corpus. */
  def embeddingNearDupsExact(emb: DataFrame, threshold: Double,
                             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // norms once per row BEFORE the pair blow-up: a pair costs one dot
    val n = Similarity.withNorm(emb.select(col(idCol), col(vecCol)), vecCol, "n")
    val l = n.select(col(idCol).as("a"), col(vecCol).as("va"), col("n").as("na"))
    val r = n.select(col(idCol).as("b"), col(vecCol).as("vb"), col("n").as("nb"))
    l.join(r, col("a") < col("b"))
      .select(col("a"), col("b"),
        (Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cos"))
      .where(col("cos") >= threshold)
      .select(col("a"), col("b"), round(col("cos"), 4).as("cos"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space with the in-library cosine k-means
    * ([[Similarity.trainCodebook]] — deterministic under any
    * partitioning), then prune, WITHIN each cluster, every vector that
    * has a lower-id cluster-mate at cosine ≥ `threshold`. Near-dup
    * comparison cost drops from O(n²) to Σ O(|cluster|²), the paper's
    * trick for corpus-scale semantic dedup — the cross-cluster pairs
    * LSH would catch are traded away for never materializing a global
    * candidate join (recall vs the exact baseline is measured in
    * DedupSpec, the same contract [[embeddingNearDups]] carries).
    *
    * Semantics: GREEDY min-id-wins, the paper's one-pass rule — drop `x`
    * iff some same-cluster `y < x` scores ≥ threshold; `y` itself may
    * also be dropped by a yet-lower mate. For TRANSITIVE-closure
    * representatives compose the pair list with
    * [[Components.dupClusters]] instead ([[Curation.curateFull]]'s
    * wiring).
    *
    * Scale shape: train + assign are narrow kernel projections; the only
    * wide ops are the per-cluster bounded-heap pair generation
    * ([[bucketPairs]] — a runaway mega-cluster degrades recall, never
    * the job, observable via the prefix-matched `graft_bucket_cap_cid_*`
    * metric) and one anti join.
    * Returns the SURVIVING rows `(id, vector, cid)`.
    *
    * Cost model (how to size it): assignment is O(n·k·dims) — LINEAR in
    * n only at fixed k, and k is hard-capped at
    * [[Similarity.MaxCentroids]]; the pair stage is
    * O(k · min(n/k, maxCluster)²). Size k ≈ n/maxCluster so clusters sit
    * near the cap; past n ≈ k·maxCluster the cap engages and RECALL
    * degrades (pairs beyond the cap's smallest-id window are skipped)
    * while cost stays bounded (`llm_semdedup` is the registry face).
    * Growing k with the corpus instead compounds train and pair
    * cost superlinearly (a measured 14× at 10× data); at that scale,
    * train the codebook on a fixed-size SAMPLE of the corpus and keep k
    * at the cap. */
  def semDedup(emb: DataFrame, threshold: Double, numClusters: Int,
               iters: Int = 5, seed: Long = 42L, maxCluster: Int = 4096,
               idCol: String = "vec_id", vecCol: String = "embedding",
               trainSample: Option[Int] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"cosine threshold must be in (0, 1], got $threshold")
    // trainSample = the corpus-scale mode: k-means iterations run on the
    // deterministic lowest-hash sample (train cost flat in corpus size);
    // assignment and the within-cluster prune still see every vector
    val centroids = Similarity.trainCodebook(emb, numClusters, iters, seed,
      idCol, vecCol, trainSample)
    // The norm-annotated assignment frame feeds FOUR consumers (the
    // pair generator, both sides of the verify join, and the final
    // anti-join base) — uncut, each re-derived the corpus from parquet
    // (r10 plan audit: 8 Scan parquet on llm_semdedup). One lazy
    // localCheckpoint = the cluster-assignment materialization SemDeDup
    // does anyway (the paper's assignments table); corpus is read once.
    // Tradeoff as everywhere: lineage dropped; long-lived sessions
    // release via `ColumnBridge.releaseCheckpoint` after materializing.
    val assigned = Similarity.withNorm(
        Similarity.assign(emb,
          centroids.select(col("cid").as(idCol), col(vecCol)), idCol, vecCol),
        vecCol, "__n")
      .localCheckpoint(false)
    val pairs = bucketPairs(assigned.select(col("cid"), col(idCol)),
      Seq("cid"), idCol, maxBucket = maxCluster)
    val dropped = pairs
      .join(assigned.select(col(idCol).as("a"), col(vecCol).as("__va"), col("__n").as("__na")), "a")
      .join(assigned.select(col(idCol).as("b"), col(vecCol).as("__vb"), col("__n").as("__nb")), "b")
      .where(Similarity.dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))
        >= threshold)
      .select(col("b").as(idCol)) // no .distinct(): the anti join dedups inherently
    assigned.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol), col(vecCol), col("cid"))
  }
}
