package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Cut.CutOps

/** Corpus-versioning audit ops (training-data pipeline mandate; no analog
  * in the reference). A 100 TB corpus is rebuilt, refreshed and patched
  * continuously — the audit trail of WHAT changed between two snapshots
  * is what makes a training-data release reviewable.
  */
object Audit {

  /** Snapshot diff — per-document status between two corpus versions:
    * `added` (id only in `next`), `removed` (id only in `prev`),
    * `changed` (both, content hash differs), `unchanged` (both, same
    * hash). Content comparison is by sha2-256 — the [[Dedup.exact]]
    * discipline — so "changed" means the BYTES changed, not the id.
    *
    * Plan shape (100 TB): each side reduces to `(id, 32-byte hash)` in a
    * narrow projection before the join, so the full-outer join — the one
    * unavoidable exchange of a diff — shuffles fixed-width rows, never
    * text. With both snapshots stored bucketed-and-sorted by `idCol`
    * (the natural layout for versioned corpora), the sort-merge join
    * runs exchange-free. The status projection is narrow; downstream
    * accounting (`groupBy(status).count()`) map-side combines. */
  def corpusDiff(prev: DataFrame, next: DataFrame,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // presence is tested on explicit markers, NOT hash nullness: sha2 of a
    // NULL text is NULL, and a null-text row present in both snapshots
    // must read 'unchanged' (null-safe hash compare), not 'added'
    val p = prev.select(col(idCol).as("__id"), lit(true).as("__inp"),
      sha2(col(textCol), 256).as("__ph"))
    val n = next.select(col(idCol).as("__id"), lit(true).as("__inn"),
      sha2(col(textCol), 256).as("__nh"))
    p.join(n, Seq("__id"), "full_outer")
      .select(col("__id").as(idCol),
        when(col("__inp").isNull, "added")
          .when(col("__inn").isNull, "removed")
          .when(!(col("__ph") <=> col("__nh")), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Cross-source duplicate matrix — for every unordered source pair
    * (a < b), how many DISTINCT contents appear in both: the "how much
    * of source B is already in source A" question a mixture designer
    * asks before weighting sources ([[graft.llm.Sampling.mixture]]
    * rates over overlapping sources double-count unless dedup runs
    * first — this measures by how much). Content identity is sha2-256
    * over `textCol`, the [[Dedup.exact]] discipline.
    *
    * Scale shape: one shuffle, keyed on the 32-byte hash, with map-side
    * partial `collect_set` (source cardinality is small by nature —
    * tens, not millions — so per-hash sets are bounded); hashes seen in
    * one source only are dropped before pair expansion, and the pair
    * expansion itself is a per-row transform over those bounded sets.
    * The text never shuffles; the matrix aggregation runs on
    * |sources|² keys. */
  def sourceOverlap(docs: DataFrame, textCol: String = "text",
                    sourceCol: String = "source"): DataFrame = {
    val sets = docs
      .where(col(textCol).isNotNull) // null text is absence, not shared content
      .select(sha2(col(textCol), 256).as("__h"), col(sourceCol).as("__s"))
      .groupBy("__h").agg(sort_array(collect_set(col("__s"))).as("__ss"))
      .where(size(col("__ss")) > 1)
    val pairs = sets.select(explode(expr(
      "flatten(transform(__ss, (x, i) -> transform(" +
        "slice(__ss, i + 2, size(__ss)), y -> struct(x AS a, y AS b))))"))
      .as("__p"))
    pairs.groupBy(col("__p.a").as("source_a"), col("__p.b").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Duplication profile — the multiplicity histogram a dedup audit
    * publishes: for each copy-count k, how many DISTINCT contents occur
    * exactly k times and how many documents that accounts for
    * (`n_docs = k · n_contents`, emitted for direct reading). The
    * "what fraction of the corpus is duplicate mass" number falls out
    * as `1 − Σn_contents/Σn_docs`; a post-[[Dedup.exact]] corpus must
    * profile to a single `dup_count = 1` row (idempotence check —
    * cheaper than re-running dedup to find out). Null text is absence,
    * the [[sourceOverlap]] rule.
    *
    * Scale shape: one hash-keyed shuffle with map-side combine (the
    * [[Dedup.exact]] exchange), then a second aggregation over
    * \|distinct copy-counts\| keys — dozens of rows, effectively free. */
  def dupProfile(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.where(col(textCol).isNotNull)
      .groupBy(sha2(col(textCol), 256).as("__h"))
      .agg(count(lit(1)).as("__c"))
      .groupBy("__c").agg(count(lit(1)).as("n_contents"))
      .select(col("__c").as("dup_count"), col("n_contents"),
        (col("__c") * col("n_contents")).as("n_docs"))

  /** Embedding-integrity report — the audit an ANN/semantic-dedup stage
    * runs BEFORE trusting a vector column: per dimension-count, how many
    * vectors there are, how many contain a NaN (poisons every cosine
    * they touch), and how many are all-zero (norm 0 — undefined cosine,
    * the [[Dedup.embeddingNearDups]] null-probe class). NULL vectors
    * report as `dims = -1`. A healthy corpus reports ONE row: the model's
    * dimension, n_nan = 0, n_zero = 0 — anything else names the broken
    * slice and how big it is. All counts are integer-exact (no float
    * aggregation), so the report is oracle-gated.
    *
    * Scale shape: one narrow scan with per-row lambda probes; the only
    * exchange carries \|distinct dims\| keys. The HOF lambdas run
    * interpreted (CLAUDE.md rule) — fine for an audit pass that runs
    * once per release; kernel-ize if it ever sits in a hot loop. */
  def embeddingReport(emb: DataFrame, vecCol: String = "embedding"): DataFrame =
    emb.select(
        coalesce(size(col(vecCol)).cast("long"), lit(-1L)).as("dims"),
        when(exists(col(vecCol), x => isnan(x)), 1L).otherwise(0L).as("__nan"),
        when(col(vecCol).isNotNull &&
          forall(col(vecCol), x => x === lit(0.0f)), 1L)
          .otherwise(0L).as("__zero"))
      .groupBy("dims")
      .agg(count(lit(1)).as("n_vecs"),
        sum("__nan").as("n_nan"), sum("__zero").as("n_zero"))

  /** Per-source corpus datasheet — the summary table a dataset release
    * publishes: document count, whitespace-token and character totals,
    * token-length extremes, distinct-language count, and mean document
    * length in round-half-up centitokens (integer arithmetic both
    * sides, SURVEY §2.9-bis rule 2). One scan, map-side combined —
    * |sources| output rows regardless of corpus size. `tokenCount`
    * overrides the length metric (pass
    * [[TextStats.bpeTokenCount]] for subword-faithful totals). */
  /** Duplicated-token-mass audit — the substring-level companion to
    * [[dupProfile]] (which counts whole-doc copies): per group, how many
    * tokens does [[Dedup.substringDedup]]'s repeated-span removal
    * (Lee et al. 2022 class) take away? Returns one row per `groupCol`
    * value: `(groupCol, n_docs, total_tokens, kept_tokens, removed_bp)`
    * — removal in round-half-up basis points of the group's token total
    * (0 for a token-free group). A healthy post-dedup release profiles
    * near-flat here; a high-removal source is shipping boilerplate.
    *
    * Plan shape (100 TB): [[Dedup.substringDedup]]'s plan (ONE
    * window-hash shuffle, loser-only position explosion) feeding a
    * fixed-width id join and a map-side-combined groupBy onto |groups|
    * rows — the audit adds no corpus-sized exchange beyond the dedup it
    * measures. */
  def dupMass(docs: DataFrame, k: Int = 50, groupCol: String = "source",
              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(docs.columns.contains(groupCol),
      s"dupMass groups by '$groupCol' — column not found")
    val intDiv = graft.functions.VectorFunctions.intDiv _
    val nt = docs.select(col(idCol), col(groupCol),
      size(split(col(textCol), TextStats.WsRun)).cast("long").as("__nt"))
    val surv = Dedup.substringDedup(
        docs.select(col(idCol), col(textCol)), k, idCol, textCol)
      .select(col(idCol), col("n_kept"))
    nt.join(surv, Seq(idCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__nt")).as("total_tokens"),
        sum(col("n_kept")).as("kept_tokens"))
      .withColumn("removed_bp", when(col("total_tokens") > 0,
          intDiv((col("total_tokens") - col("kept_tokens")) * 20000L
              + col("total_tokens"),
            col("total_tokens") * 2L))
        .otherwise(lit(0L)))
  }

  /** Per-shard mixture-balance audit — checks the property
    * [[Packing.interleave]] GUARANTEES and [[Packing.shuffleShards]]
    * only approximates: does every shard locally reproduce the global
    * stratum mix? (A loader reading shards sequentially sees the
    * mixture only if it holds per shard.) Returns one row per shard:
    * `(shardCol, n_docs, max_dev_bp)` — the worst absolute deviation
    * between the shard's local stratum share and the global share, both
    * in round-half-up basis points; a stratum absent from a shard
    * contributes its full global share as deviation. 0 everywhere =
    * perfectly locally-mixed layout.
    *
    * Plan shape (100 TB): ONE corpus aggregation onto fixed-width
    * (shard, stratum) cells — cut with a lazy localCheckpoint because
    * THREE consumers derive from it (shard totals, global strata, the
    * deviation matrix — the multi-consumer rule; \|shards\|·\|strata\|
    * rows, fixed-width by construction); global shares broadcast; the
    * deviation matrix and final max are map-side-combinable. The corpus
    * is scanned once. */
  def mixReport(laidOut: DataFrame, shardCol: String = "shard_id",
                stratumCol: String = "source"): DataFrame = {
    Seq(shardCol, stratumCol).foreach(c => require(laidOut.columns.contains(c),
      s"mixReport needs the '$c' column"))
    val intDiv = graft.functions.VectorFunctions.intDiv _
    def rhu(num: Column, den: Column): Column =
      intDiv(num * 20000L + den, den * 2L)
    val cell = laidOut.groupBy(col(shardCol), col(stratumCol))
      .agg(count(lit(1)).as("__c"))
      .cut()
    val shardTot = cell.groupBy(col(shardCol)).agg(sum("__c").as("__n"))
    val strata = cell.groupBy(col(stratumCol)).agg(sum("__c").as("__g"))
    val total = strata.agg(sum("__g").as("__t"))
    val global = strata.crossJoin(broadcast(total))
      .select(col(stratumCol), rhu(col("__g"), col("__t")).as("__gbp"))
    shardTot.crossJoin(broadcast(global))
      .join(cell, Seq(shardCol, stratumCol), "left")
      .select(col(shardCol), col("__n"), col("__gbp"),
        coalesce(col("__c"), lit(0L)).as("__c"))
      .withColumn("__dev", abs(rhu(col("__c"), col("__n")) - col("__gbp")))
      .groupBy(col(shardCol))
      .agg(max(col("__n")).as("n_docs"), max(col("__dev")).as("max_dev_bp"))
  }

  /** Shard manifest — the release-integrity record written NEXT TO a
    * sharded corpus layout ([[Packing.shuffleShards]] /
    * [[Packing.shardByPos]] output): per shard, the doc count, token
    * total, position range with a contiguity flag (first..last must
    * cover exactly n_docs positions — a dropped or duplicated row shows
    * up here before a training run does), and an ORDER-INVARIANT content
    * checksum `Σ charPolyHash(text)` in DECIMAL(38,0) (summable → the
    * aggregation is map-side combinable and re-runnable in any order;
    * the per-doc hash is [[graft.functions.CharPolyHash]], the
    * cross-engine polynomial chain, so the whole manifest replays in
    * SQL). A loader verifies a shard by recomputing three numbers; two
    * releases diff by comparing manifests, never bytes.
    *
    * Plan shape (100 TB): ONE map-side-combined groupBy onto |shards|
    * fixed-width rows — no corpus shuffle beyond the shard keys; with
    * the corpus already written `partitionBy(shard_id)`
    * ([[graft.sources.Sinks.trainingShards]]) the agg is
    * partition-local. `tokenCount` overrides the token metric (pass
    * [[TextStats.bpeTokenCount]] for subword-faithful manifests). */
  def shardManifest(shards: DataFrame, shardCol: String = "shard_id",
                    posCol: String = "pos_in_shard", textCol: String = "text",
                    tokenCount: Option[Column] = None): DataFrame = {
    Seq(shardCol, posCol, textCol).foreach(c => require(shards.columns.contains(c),
      s"shardManifest needs the '$c' column (a sharded layout output)"))
    val nt = tokenCount.getOrElse(
      size(split(col(textCol), TextStats.WsRun)).cast("long"))
    shards.groupBy(col(shardCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(nt).as("n_tokens"),
        min(col(posCol)).as("first_pos"),
        max(col(posCol)).as("last_pos"),
        countDistinct(col(posCol)).as("__np"),
        sum(graft.functions.CharPolyHash(col(textCol))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0))).as("checksum"))
      // span check alone is spoofable by duplicate positions (0,0,2 spans
      // 3 = n_docs): contiguity also requires every position distinct
      .withColumn("contiguous",
        (col("last_pos") - col("first_pos") + 1 === col("n_docs")) &&
          (col("__np") === col("n_docs")))
      .drop("__np")
  }

  /** Fold per-batch partial manifests ([[shardManifest]] over each
    * micro-batch of a streaming layout writer, stamped with a
    * `batch_id` — [[graft.streaming.StreamOps.manifestStream]]'s sink
    * rows) into the manifest of the WHOLE layout. Counts, token totals
    * and the checksum are sums, the position range is min/max — all
    * order-invariant, so the fold is EXACT regardless of batch
    * boundaries or arrival order. Contiguity is re-proven from the
    * partials, not trusted: the merged flag holds iff every partial was
    * contiguous AND, per shard, the partials' position ranges are
    * ADJACENT in sorted order (each batch starts one past the previous
    * batch's end) — which together prove global distinctness and full
    * span without re-reading a single document. A writer whose batches
    * INTERLEAVE positions within one shard (not slab-per-batch) can be
    * contiguous in total yet read `false` here — the conservative
    * direction; the streaming contract is slab-per-batch, which
    * [[graft.llm.Packing.shuffleShards]] layouts streamed in
    * position order satisfy by construction.
    *
    * Plan shape: the input is |batches|·|shards| MANIFEST rows, never
    * corpus data — the per-shard adjacency window and the fold both run
    * on a frame that fits in one partition per thousands of shards. */
  def mergeManifests(partials: DataFrame,
                     shardCol: String = "shard_id"): DataFrame = {
    Seq(shardCol, "n_docs", "n_tokens", "first_pos", "last_pos",
        "checksum", "contiguous").foreach(c =>
      require(partials.columns.contains(c),
        s"mergeManifests needs the '$c' column (shardManifest partials)"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(shardCol)).orderBy(col("first_pos"), col("last_pos"))
    partials
      .withColumn("__prevLast", lag(col("last_pos"), 1).over(w))
      .withColumn("__adj", col("contiguous") &&
        (col("__prevLast").isNull || col("first_pos") === col("__prevLast") + 1))
      .groupBy(col(shardCol))
      .agg(
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("first_pos")).as("first_pos"),
        max(col("last_pos")).as("last_pos"),
        sum(col("checksum"))
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)).as("checksum"),
        bool_and(col("__adj")).as("contiguous"))
  }

  def corpusReport(docs: DataFrame, textCol: String = "text",
                   sourceCol: String = "source", langCol: String = "lang",
                   tokenCount: Option[Column] = None): DataFrame = {
    val nt = tokenCount
      .getOrElse(size(split(col(textCol), TextStats.WsRun)).cast("long"))
    val cnt = count(lit(1))
    docs.select(col(sourceCol), nt.as("__nt"),
        length(col(textCol)).cast("long").as("__nc"), col(langCol))
      .groupBy(sourceCol)
      .agg(cnt.as("n_docs"),
        sum(col("__nt")).as("total_tokens"),
        sum(col("__nc")).as("total_chars"),
        min(col("__nt")).as("min_tokens"),
        max(col("__nt")).as("max_tokens"),
        countDistinct(col(langCol)).as("n_langs"),
        graft.functions.VectorFunctions.intDiv(
          sum(col("__nt")) * 200L + cnt, cnt * 2L).as("mean_tokens_centi"))
  }

  /** Outlink extraction — the CommonCrawl-style link-graph step
    * between raw HTML and [[hostRank]]: pull every `href="…"` target
    * out of the document markup, normalize to a lowercase host, and
    * aggregate `(source, host)` edge weights. One narrow codegen'd
    * regexp projection + explode + a map-side-combinable groupBy on
    * the fixed-width edge key — the corpus shuffles once, already
    * reduced to edges (hosts² -bounded, the frame [[hostRank]]
    * requires). Relative/malformed hrefs (no `scheme://host`) drop by
    * construction; fragments/paths are normalized away. Emits
    * `(src, dst_host, n_links)`. */
  def outlinks(docs: DataFrame, srcCol: String = "source",
               textCol: String = "text"): DataFrame =
    docs.select(col(srcCol).as("src"),
        explode(regexp_extract_all(col(textCol),
          lit("href=\"([^\"]+)\""), lit(1))).as("__url"))
      .select(col("src"), lower(regexp_extract(col("__url"),
        "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)).as("dst_host"))
      .where(col("dst_host") =!= "")
      .groupBy("src", "dst_host")
      .agg(count(lit(1)).as("n_links"))

  /** Host-graph PageRank in exact integer arithmetic — the
    * crawl-quality weighting web-corpus curation pipelines (CCNet /
    * RefinedWeb host ranking) feed into source weights: `iters`
    * damped power-method rounds over a WEIGHTED host link graph,
    * total mass 10¹², per-round
    * `r'(dst) = (100−damp)·10¹² div (100·n) +
    * Σ_in ((damp·r(src)) div (100·outdeg(src))) · w` — every division
    * truncating, so any ANSI engine replays it bit-for-bit. Dangling
    * hosts (no out-edges) leak their mass — the simplified classic
    * variant, documented rather than patched.
    *
    * Shape for 100 TB: the CORPUS pass is the caller's edge
    * aggregation (one shuffle onto |hosts|²-bounded weighted edges);
    * everything here runs on host-sized frames — edge table, host
    * set and out-degrees are checkpoint-cut once (multi-consumer:
    * every round re-reads all three), rank lookups broadcast, and
    * `n` is a driver count of the HOST set (codebook discipline —
    * hosts are bounded; a corpus-sized frame here is a caller bug
    * that fails fast in the require). */
  def hostRank(edges: DataFrame, iters: Int = 3, dampPct: Int = 85,
               maxHosts: Int = 1 << 20, srcCol: String = "src",
               dstCol: String = "dst", weightCol: String = "c"): DataFrame = {
    require(iters >= 1 && iters <= 16, s"iters must be in [1,16], got $iters")
    require(dampPct >= 1 && dampPct <= 99,
      s"dampPct must be in [1,99], got $dampPct")
    val w = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"), col(weightCol).cast("long").as("c"))
      .cut()
    val hosts = w.select(col("src").as("h"))
      .union(w.select(col("dst").as("h"))).distinct()
      .cut()
    val od = w.groupBy(col("src")).agg(sum(col("c")).cast("long").as("odeg"))
      .cut()
    val n = hosts.count()
    require(n > 0 && n <= maxHosts,
      s"hostRank expects a bounded host set (1..$maxHosts), got $n")
    val T = 1000000000000L
    val base = (T * (100L - dampPct)) / (100L * n)
    val intDiv = graft.functions.VectorFunctions.intDiv _
    var r = hosts.select(col("h"), lit(T / n).as("r"))
    (1 to iters).foreach { _ =>
      val contrib = w
        .join(broadcast(r.select(col("h").as("src"), col("r"))), "src")
        .join(broadcast(od), "src")
        .groupBy(col("dst"))
        .agg(sum(intDiv(lit(dampPct.toLong) * col("r"),
          lit(100L) * col("odeg")) * col("c")).cast("long").as("__in"))
      // broadcast the host-sized contribution frame EXPLICITLY: hosts
      // is a LogicalRDD (no size estimates), so the planner would
      // sort-merge this join and pay two extra exchanges per round
      r = hosts
        .join(broadcast(contrib.select(col("dst").as("h"), col("__in"))),
          Seq("h"), "left")
        .select(col("h"), (lit(base) + coalesce(col("__in"), lit(0L))).as("r"))
    }
    r.join(broadcast(od.select(col("src").as("h"), col("odeg"))), Seq("h"), "left")
      .select(col("h").as("host"),
        coalesce(col("odeg"), lit(0L)).as("out_edges"),
        col("r").as("rank_fp"))
      .orderBy(col("host"))
  }
}
