package graft.examples

import graft.agg.Aggs
import graft.core.Pipeline
import graft.llm.{Dedup, Similarity}
import graft.model.Tables
import org.apache.spark.sql.functions._

/** Executable documentation — the reference ships an `examples` module as
  * living docs (CITE: examples/src/main/scala/com/examples/, recalled path
  * — /root/reference empty); this is the engine's analog. Each block is
  * the README usage sample, runnable against the sf0.001 fixtures:
  *
  *   sbt "runMain graft.examples.Examples [sfDir]"
  */
object Examples {
  /** Target row shape for the typed-QL example (`Ql.resultAs`). */
  final case class FlagQty(flag: String, qty: Double)

  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local()
    import spark.implicits._

    // 1. typed fluent pipeline — the reference's DataPipelineT surface
    val bigSpenders = Pipeline(Tables.ordersDs(spark, sf))
      .filter(_.o_totalprice > 300000)
      .map(o => (o.o_custkey, o.o_totalprice))
      .distinct
      .evalSize
    println(s"[1] customers with >300k orders: $bigSpenders")

    // 2. QL builder — declarative groupBy/aggregate/having in one agg node
    val ql = Pipeline(Tables.lineitemDs(spark, sf)).query(_
      .where(col("l_shipdate") <= lit("1998-09-01"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .aggregate(sum(col("l_quantity")).as("qty"),
        Aggs.stringAgg(col("l_returnflag"), "|").as("tags"))
      .having(col("qty") > 100)
      .orderBy(col("l_returnflag"), col("l_linestatus")))
    println(s"[2] QL result rows: ${ql.count()}")

    // 3. error channel — poison rows become rows
    val attempts = Pipeline(Tables.documentsDs(spark, sf))
      .attempt(d => 100 / (d.n_chars % 7).toInt)
      .evalVector
    println(s"[3] attempts ok=${attempts.count(_.isOk)} err=${attempts.count(!_.isOk)}")

    // 4. LLM ops — near-dup candidates and ANN top-k
    val dups = Dedup.minHashNearDups(
      Tables.documents(spark, sf), k = 2, bands = 8, rowsPerBand = 2,
      threshold = 0.5).count()
    val emb = Tables.embeddings(spark, sf)
    val nn = Similarity.ivfTopK(emb.where(col("vec_id") < 5), emb,
      centroids = emb.where(col("vec_id") % 25 === 0), k = 3, nprobe = 2).count()
    println(s"[4] near-dup pairs: $dups; ivf neighbors: $nn")

    // 5. as-of join — latest click at-or-before each view, per user
    val ev = Tables.events(spark, sf)
    val asof = graft.relational.AsOf.joinAsOf(
      ev.where(col("event_type") === "view").select("event_id", "user_id", "ts"),
      ev.where(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("event_id").as("click_id")),
      timeCol = "ts", keys = Seq("user_id"), rightCols = Seq("click_id"))
    println(s"[5] views with a prior click: ${asof.where(col("click_id").isNotNull).count()}")

    // 6. typed QL results — grouped rows straight into a case class
    val typed = graft.agg.Ql(Tables.lineitem(spark, sf))
      .groupBy(col("l_returnflag").as("flag"))
      .aggregate(sum(col("l_quantity")).as("qty"))
      .orderBy(col("flag"))
      .resultAs[FlagQty].collect()
    println(s"[6] typed QL: ${typed.mkString(", ")}")

    // 7. naive range join auto-bucketized by the RewriteRangeJoin rule:
    // write the natural predicate, get a hash join (docs/PLANS.md §4a);
    // graft.Session registered the rule with the session
    val evts = ev.select("event_id", "ts")
    val banded = evts.join(
      evts.select(col("event_id").as("b_id"), col("ts").as("b_ts")),
      col("b_ts") > col("ts") && col("b_ts") <= col("ts") + expr("INTERVAL 1 HOUR"))
    println(s"[7] auto-bucketized range pairs: ${banded.count()}")

    // 8. SQL text through the registered views + the native kernel
    graft.functions.GraftExtensions.register(spark)
    Tables.registerAll(spark, sf)
    val sql = spark.sql(
      """SELECT a.vec_id, graft_dot(a.embedding, b.embedding) AS dot
        |FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
        |ORDER BY a.vec_id LIMIT 3""".stripMargin).collect()
    println(s"[8] SQL graft_dot sample: ${sql.mkString(", ")}")

    // 9. train an IVF codebook in-library, then probe with it — the full
    // ANN loop with no offline step (deterministic: same data+seed ⇒ same
    // codebook under any partitioning). At corpus scale pass
    // sampleSize=Some(n) so Lloyd iterations train on a fixed lowest-hash
    // sample instead of re-scanning the corpus per round; drawKey swaps
    // the draw ordering (the cross-engine hook llm_ivf_train_poly uses).
    val codebook = graft.llm.Similarity.trainCodebook(emb, k = 8, iters = 3)
    val ann = graft.llm.Similarity.ivfTopK(
      emb.where(col("vec_id") < 3), emb,
      centroids = codebook.select(col("cid").as("vec_id"), col("embedding")),
      k = 2, nprobe = 2)
    println(s"[9] trained-codebook IVF hits: ${ann.count()}")

    // 10. the full curation composite with the gated stage materialized
    // once for its 4 downstream branches (checkpoint blocks GC-release —
    // no clearCache() needed)
    val docs = Tables.documents(spark, sf)
    val curated = graft.llm.Curation.curateFull(docs, lang = "en",
      minQuality = 0.3, nearDupThreshold = 0.5, maxPerGroup = 100,
      materializeGated = true)
    println(s"[10] curateFull survivors: ${curated.count()}")

    // 11. paragraph-level boilerplate removal + repetition scoring — the
    // C4/Gopher-style text-quality passes
    val withBoiler = docs.select(col("doc_id"), concat_ws("\n\n",
      col("text"), lit("subscribe to our newsletter")).as("text"))
    val cleaned = Dedup.paragraphDedup(withBoiler)
    val boilerFree = cleaned.where(!col("text").contains("newsletter")).count()
    val repetitive = graft.llm.TextStats.repetition(docs)
      .where(col("rep_ratio") > 0.2).count()
    println(s"[11] boilerplate stripped from $boilerFree docs; $repetitive repetitive docs")

    // 12. post-curation corpus assembly — the chain a pretraining recipe
    // runs after gating: near-dup pairs → TRANSITIVE clusters (A~B, B~C ⇒
    // one cluster even though (A,C) was never a pair) → keep each
    // cluster's min-id representative → source-weighted mixture →
    // token-budget shards
    val pairs = Dedup.minHashNearDups(docs, k = 2, bands = 8,
      rowsPerBand = 2, threshold = 0.5)
    val nodes = pairs.select(col("a").as("doc_id"))
      .union(pairs.select(col("b").as("doc_id"))).distinct()
    val losers = graft.llm.Components.dupClusters(nodes, pairs)
      .where(!col("is_rep")).select("doc_id")
    val unique = docs.join(losers, Seq("doc_id"), "left_anti")
    // fixture corpus has 20 sources; listing 3 drops the other 17 — an
    // unlisted source must never leak into a weighed mixture
    val weighted = graft.llm.Sampling.mixture(unique,
      Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.3))
    val shards = graft.llm.Packing.packShards(weighted, tokensPerShard = 256)
    println(s"[12] assembly: ${pairs.count()} near-dup pairs → " +
      s"${losers.count()} pruned → ${weighted.count()} after mixture → " +
      s"${shards.agg(countDistinct(col("shard_id"))).head.getLong(0)} shards")

    // 13. raw-crawl intake — the stages BEFORE any hashing: strip markup,
    // score with the (offline-trained) linear quality model, rebalance to
    // a target language mixture, split train/val/test, chunk to context
    // windows. Every stage is oracle-gated in the declared suite.
    val crawled = docs.select(col("doc_id"), col("lang"),
      concat(lit("<html><body><p>"), col("text"),
        lit("</p><!-- footer --></body></html>")).as("text"))
    val stripped = graft.llm.Cleanup.stripMarkup(crawled)
      .join(docs.select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"), col("clean_text").as("text"))
    val scored = graft.llm.Classifier.score(stripped,
      graft.llm.Classifier.Weights(wDistinct = 5, wStopword = -4, bias = -30000),
      threshold = 0)
    val quality = stripped.join(scored.where(col("keep")), Seq("doc_id"), "left_semi")
    val balanced = graft.llm.Sampling.reweight(quality,
      Map("en" -> 0.5, "de" -> 0.25, "zh" -> 0.25), stratumCol = "lang")
    val splits = graft.llm.Sampling.split(balanced,
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    val chunks = graft.llm.Chunking.chunk(
      splits.where(col("split") === "train"), chunkTokens = 64, overlap = 8)
    println(s"[13] intake: ${quality.count()} past the classifier → " +
      s"${balanced.count()} after reweight → " +
      s"${chunks.count()} training chunks")

    // 13b. the two block-emitting finishers: exact context-length blocks
    // (docs straddle boundaries — no padding, no dropped tokens) and the
    // corpus-derived length band
    val blocks = graft.llm.Packing.packSequences(
      splits.where(col("split") === "train").select("doc_id", "lang", "text"),
      blockTokens = 256, partitionCols = Seq("lang"))
    val lengthBand = graft.llm.TextStats.adaptiveLengthGate(docs, 0.05, 0.95)
    println(s"[13b] ${blocks.count()} packed blocks; " +
      s"${lengthBand.count()} docs inside the 5–95 pct length band")

    // 14. decontamination at eval-suite scale (bloom prefilter + exact
    // verify — identical output to the broadcast path) and semantic dedup
    // over the embedding space (SemDeDup)
    val evalSet = docs.where(col("doc_id") % 97 === 0)
    val contaminated = Dedup.bloomContamination(docs, evalSet, k = 3)
      .where(col("contamination") > 0.5).count()
    val semKept = Dedup.semDedup(emb, threshold = 0.3, numClusters = 8).count()
    println(s"[14] $contaminated contaminated docs; semDedup keeps $semKept vectors")

    // 15. exact-substring dedup (Lee et al. 2022): repeated ≥k-token
    // spans keep only their first occurrence — the memorization lever
    // doc-level dedup can't reach
    val substrDeduped = Dedup.substringDedup(docs, k = 20)
    println(s"[15] substring dedup: " +
      s"${substrDeduped.where(col("n_kept") === 0).count()} docs fully consumed, " +
      s"${substrDeduped.agg(sum("n_kept")).head().getLong(0)} tokens kept")

    // 16. BPE-faithful budgets: a fixed subword vocab makes every packing
    // budget mean what it says (ws-run counts under-state context cost);
    // the same tokens can be packed directly
    val vocab = Seq("scan", "sc", "an", "cust", "omer", "qu", "ery", "ta", "ble")
    val bpeBudgeted = graft.llm.Packing.packShards(
      docs.select("doc_id", "source", "text"), tokensPerShard = 1024,
      tokenCount = Some(graft.llm.TextStats.bpeTokenCount(col("text"), vocab)))
    println(s"[16] ${bpeBudgeted.agg(max("shard_id")).head().getLong(0) + 1} " +
      "BPE-budgeted shards")

    // 17. LM quality filter (the KenLM/CCNet stage): the n-gram model is
    // a planted integer table, scoring is one kernel projection
    val lm = graft.llm.TextStats.LmModel(
      unigrams = Seq("the" -> -900L, "table" -> -950L, "scan" -> -1000L),
      bigrams = Seq(("the", "table", -250L)),
      backoffPenalty = -450L, oovPenalty = -3200L)
    val lmKept = graft.llm.TextStats.lmScore(docs, lm, minPerTransition = -3000L)
      .where(col("keep")).count()
    println(s"[17] LM filter keeps $lmKept docs")

    // 18. the fully-oracle-gated assembly composite: dedup → quality
    // gate → split → mixture reweight → context-length blocks, one plan
    val assembled = graft.llm.Curation.assemble(
      docs.select("doc_id", "lang", "text"), minQuality = 0.2,
      splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
      keepSplit = "train",
      mixture = Map("en" -> 0.5, "de" -> 0.25, "zh" -> 0.25),
      blockTokens = 128)
    println(s"[18] assembled ${assembled.count()} training blocks")

    // 19. corpus operations day-to-day: sample each source to a token
    // budget, shuffle globally into training shards, gate spam domains on
    // corpus-derived stats, dedup a crawl delta against the snapshot, and
    // diff two releases
    val budgeted = graft.llm.Sampling.tokenBudget(
      docs.select("doc_id", "source", "text"), budgetTokens = 400)
    val shuffled = graft.llm.Packing.shuffleShards(
      budgeted.select("doc_id"), rowsPerShard = 32)
    val withUrls = docs.select(col("doc_id"), col("text"),
      concat(lit("https://h"), pmod(col("doc_id"), lit(20)),
        lit(".example.com/p/"), col("doc_id")).as("url"))
    val domainKept = graft.llm.TextStats.domainGate(withUrls,
      minAvgQualityBp = 4400, maxDocsPerDomain = 1000).count()
    val delta = docs.where(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val freshInDelta = Dedup.incrementalExact(
      delta, docs.where(col("doc_id") % 9 =!= 0)).count()
    val nextRelease = docs.where(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"), when(col("doc_id") % 5 === 0,
        concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"))
      .unionAll(delta.select("doc_id", "text"))
    val diffed = graft.llm.Audit.corpusDiff(docs, nextRelease)
      .groupBy("status").count().orderBy("status")
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" ")
    println(s"[19] ${budgeted.count()} docs in budget → " +
      s"${shuffled.agg(countDistinct(col("shard_id"))).head.getLong(0)} shuffled shards; " +
      s"$domainKept past the domain gate; $freshInDelta fresh in delta; diff: $diffed")

    // 20. calibration and curriculum: price classifier cutoffs in one
    // scan, bucket quality into quartiles, interleave sources at a fixed
    // local ratio, re-shuffle deterministically for epoch 2, and
    // near-dedup a crawl delta against the existing corpus
    val sweep = graft.llm.Classifier.sweep(docs,
        graft.llm.Classifier.Weights(wDistinct = 5, wStopword = -4, bias = -30000),
        thresholds = Seq(0L, 10000L, 20000L))
      .collect().map(r => s"${r.getLong(0)}→${r.getLong(1)}").mkString(" ")
    val tiers = graft.llm.TextStats.qualityTiers(docs, tiers = 4)
      .groupBy("tier").count().orderBy("tier")
      .collect().map(r => r.getLong(1)).mkString("/")
    val interleaved = graft.llm.Packing.interleave(
      docs.select("doc_id", "source"),
      Map("src0" -> 2, "src1" -> 1, "src2" -> 1))
    val epoch2 = graft.llm.Packing.shuffleShards(
      docs.select("doc_id"), rowsPerShard = 64, epoch = 2)
    val nearFresh = Dedup.incrementalNear(
      delta, docs.where(col("doc_id") % 9 =!= 0), k = 2, bands = 8,
      rowsPerBand = 2, threshold = 0.3).count()
    println(s"[20] sweep kept: $sweep; tier sizes $tiers; " +
      s"${interleaved.count()} docs interleaved; " +
      s"${epoch2.agg(countDistinct(col("shard_id"))).head.getLong(0)} epoch-2 shards; " +
      s"$nearFresh delta docs near-fresh")

    // 21. host-level cleanup and graded sampling: strip each domain's
    // shared footer chrome (but keep the paragraph where it is rare),
    // then keep docs in proportion to a quality score, sharper at t=2;
    // and a salted join for the one key too hot for AQE's skew split
    val hosted = docs.select(col("doc_id"),
      concat(lit("host"), col("doc_id") % 3).as("domain"),
      concat_ws("\n\n", col("text"),
        when(col("doc_id") % 3 =!= 2, concat(lit("(c) host"), col("doc_id") % 3)))
        .as("text"))
    val dechromed = graft.llm.Cleanup.domainBoilerplate(hosted, ratioPct = 60)
    val chromeFree = dechromed.where(!col("text").contains("(c) host")).count()
    val graded = graft.llm.Sampling.scoreWeighted(
      docs.select(col("doc_id"), (col("doc_id") % 101 * 100).as("q")),
      col("q"), temperature = 2).count()
    val salted = graft.relational.Skew.saltedJoin(
      Tables.lineitem(spark, sf).select("l_orderkey", "l_linenumber", "l_suppkey"),
      Tables.supplier(spark, sf).select("s_suppkey", "s_name"),
      col("l_suppkey"), col("s_suppkey"),
      struct(col("l_orderkey"), col("l_linenumber")), buckets = 4).count()
    println(s"[21] chrome stripped: $chromeFree chrome-free docs; " +
      s"$graded docs kept by score; $salted salted-join rows")

    // 22. release hygiene: split so near-dup clusters can't straddle
    // train/val, keep the best copy (not the first-crawled) of each
    // cluster, report how contaminated an eval set already is, measure
    // cross-source duplication before picking mixture weights, pick the
    // least-wasteful context length, and publish the per-source datasheet
    val chains = docs.select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
      .where(col("a") % 6 < 3)
    val safeSplit = graft.llm.Curation.leakageSafeSplit(
        docs.select("doc_id"), chains,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split").count().orderBy("split")
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(" ")
    val bestKept = graft.llm.Curation.qualityDedup(
      docs.select(col("doc_id"), (col("doc_id") % 101).as("q")),
      chains, col("q")).count()
    val evalHoldout = docs.where(col("doc_id") % 25 === 3).limit(8)
    val reported = Dedup.contaminationReport(docs, evalHoldout, k = 2)
      .agg(max("contamination")).head.getDouble(0)
    val overlap = graft.llm.Audit.sourceOverlap(
      docs.select(col("source"), (col("doc_id") % 11).cast("string").as("text")))
      .agg(coalesce(sum("n_shared"), lit(0L))).head.getLong(0)
    val bestBlock = graft.llm.Packing.paddingSweep(docs, Seq(64L, 128L, 256L))
      .orderBy("waste_bp").select("block_tokens").as[Long].head()
    val datasheet = graft.llm.Audit.corpusReport(docs).count()
    println(s"[22] safe split: $safeSplit; $bestKept best copies kept; " +
      s"max eval contamination $reported; $overlap shared contents; " +
      s"block $bestBlock wastes least; $datasheet datasheet rows")

    // 23. training-run endgame: curriculum schedule from quality tiers,
    // loss-mask spans beside the packed blocks, and the two audits a
    // release sign-off reads — the copy-count histogram (flat after
    // dedup) and the vector-integrity report (one healthy row)
    val schedule = graft.llm.Curation.curriculumOrder(docs,
        tiers = 4, rowsPerShard = 64L)
      .groupBy("tier").count().orderBy(desc("tier"))
      .collect().map(r => s"t${r.getLong(0)}:${r.getLong(1)}").mkString(" ")
    val spans = graft.llm.Packing.packSpans(
      docs.select("doc_id", "source", "text"), blockTokens = 256L)
    val straddlers = spans.groupBy("source", "doc_id").count()
      .where(col("count") > 1).count()
    val profile = graft.llm.Audit.dupProfile(docs)
      .orderBy("dup_count")
      .collect().map(r => s"${r.getLong(0)}x${r.getLong(1)}").mkString(" ")
    val vecHealth = graft.llm.Audit.embeddingReport(
        Tables.embeddings(spark, sf))
      .select("dims", "n_vecs", "n_nan", "n_zero")
      .collect().map(r => s"dims=${r.getLong(0)} n=${r.getLong(1)} " +
        s"nan=${r.getLong(2)} zero=${r.getLong(3)}").mkString("; ")
    println(s"[23] curriculum $schedule; $straddlers docs straddle blocks; " +
      s"dup profile $profile; vectors: $vecHealth")

    // 24. data selection + loading layout: DSIR keeps the docs whose
    // hashed-ngram distribution matches the target slice; UniMax spreads
    // a token budget with an epoch cap; length-grouped batches cut
    // pad-to-longest waste; the split-leakage audit and the shard
    // manifest are what a release sign-off actually reads
    val dsirKept = graft.llm.TextStats.dsir(docs,
      isTarget = col("lang") === "en", keepFraction = 0.4).count()
    val epochs = graft.llm.Sampling.unimax(
        docs.select("doc_id", "lang", "text"),
        budgetBp = 9000L, maxEpochs = 2, stratumCol = "lang")
      .groupBy("lang").agg(count(lit(1)).as("n"))
      .orderBy("lang")
      .collect().map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(" ")
    val batches = graft.llm.Packing.lengthBatches(
        docs.select("doc_id", "source", "text"), batchSize = 16)
      .agg(count(lit(1)), max("waste_bp")).head()
    val leaky = graft.llm.Curation.splitLeakage(
        docs.select("doc_id", "text"),
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
        heldOutLabels = Seq("val", "test"), k = 3)
      .where(col("contamination") > 0.5).count()
    val manifest = graft.llm.Audit.shardManifest(
        graft.llm.Packing.shuffleShards(
          docs.select("doc_id", "text"), rowsPerShard = 64L))
      .agg(count(lit(1)), min("contiguous")).head()
    println(s"[24] dsir keeps $dsirKept; unimax rows $epochs; " +
      s"${batches.getLong(0)} batches (worst waste ${batches.getLong(1)} bp); " +
      s"$leaky train docs >50% leaked; ${manifest.getLong(0)} shards " +
      s"(all contiguous: ${manifest.getBoolean(1)})")

    // 25. the PQ index family: encode once, then search the codes —
    // flat ADC or IVF-routed — and keep the corpus diverse per cell
    val embAll = Tables.embeddings(spark, sf)
    val coarse = (0 until 8).map(k =>
      (0 until 64).map(j => (((k * 17 + j * 7) % 19) - 9) / 4.0))
    val pqcb = (0 until 8).map(s => (0 until 4).map(k =>
      (0 until 8).map(j => (((s * 31 + k * 17 + j * 7) % 19) - 9) / 4.0)))
    val queries25 = embAll.where(col("vec_id") < 5)
      .withColumnRenamed("vec_id", "qid")
    val flatTop = graft.llm.Similarity.pqTopK(queries25,
      graft.llm.Similarity.pqEncode(embAll, pqcb), pqcb, k = 3).count()
    val routedTop = graft.llm.Similarity.ivfPqTopK(queries25, embAll,
      coarse, pqcb, k = 3, nprobe = 3).count()
    val diverse = graft.llm.Similarity.clusterBalance(embAll,
      Seq(coarse), capPerCluster = 50).count()
    println(s"[25] ADC top-3 rows: flat $flatTop, ivf-routed $routedTop; " +
      s"cluster-balanced corpus keeps $diverse vectors")

    // 26. the selection composite: DSIR fit → per-source token budget →
    // UniMax epoch mixture → global shuffle layout → release manifest,
    // one plan; the manifest is the artifact a release ships
    val selLayout = graft.llm.Curation.selectFull(
      docs.select("doc_id", "source", "lang", "text"),
      isTarget = col("lang") === "en", keepFraction = 0.4,
      budgetTokens = 300L, budgetBp = 14000L, maxEpochs = 2,
      rowsPerShard = 16L)
    val selMani = graft.llm.Audit.shardManifest(selLayout)
      .agg(count(lit(1)), sum("n_docs"), min("contiguous")).head()
    println(s"[26] selectFull: ${selMani.getLong(1)} (doc, epoch) slots in " +
      s"${selMani.getLong(0)} shards (contiguous: ${selMani.getBoolean(2)})")

    // 27. the graft-jsonl DataSource V2 connector: write the layout as
    // sharded JSONL, read it back with a shard filter — the filter is
    // consumed at PLANNING time, so pruned shards are never even listed
    val jdir = "/tmp/graft_examples_jsonl"
    graft.sources.Sinks.jsonlShards(
      graft.llm.Packing.shuffleShards(
        docs.select("doc_id", "source", "text"), rowsPerShard = 64L),
      jdir)
    val backJsonl = spark.read.format("graft-jsonl")
      .schema("doc_id LONG, source STRING, text STRING, pos_in_shard LONG, shard_id LONG")
      .load(jdir)
      .where(col("shard_id") === 1L)
    println(s"[27] graft-jsonl shard 1 holds ${backJsonl.count()} docs; " +
      s"scan: ${backJsonl.queryExecution.executedPlan.toString()
        .linesIterator.find(_.contains("BatchScan")).map(_.trim.take(120)).getOrElse("?")}")

    // 28. the continuous-release loop: STREAM the layout through the
    // connector into per-batch partial manifests, fold them — the fold
    // is exact, so the streamed manifest equals the batch one
    val mdir = "/tmp/graft_examples_manifest"
    // fresh dir: the r11 sink partitions by (run_id, batch_id) and a
    // leftover flat layout from an older run cannot mix with it
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(mdir))
    val stream28 = spark.readStream.format("graft-jsonl")
      .schema("doc_id LONG, source STRING, text STRING, pos_in_shard LONG, shard_id LONG")
      .load(jdir)
    val q28 = graft.streaming.StreamOps.manifestStream(
      stream28, s"$mdir/parts", s"$mdir/ckpt")
    try q28.processAllAvailable() finally q28.stop()
    val folded = graft.llm.Audit.mergeManifests(
        spark.read.parquet(s"$mdir/parts"))
      .agg(count(lit(1)), sum(col("checksum").cast("decimal(38,0)"))).head()
    val direct = graft.llm.Audit.shardManifest(
        spark.read.format("graft-jsonl")
          .schema("doc_id LONG, source STRING, text STRING, pos_in_shard LONG, shard_id LONG")
          .load(jdir))
      .agg(count(lit(1)), sum(col("checksum").cast("decimal(38,0)"))).head()
    println(s"[28] streamed manifest: ${folded.getLong(0)} shards, " +
      s"checksum Σ ${folded.getDecimal(1)} — batch agrees: " +
      s"${folded.getDecimal(1) == direct.getDecimal(1)}")

    // 29. the cross-engine (poly) family: every xxhash64-based operator
    // has a polynomial-arithmetic sibling that replays bit-for-bit in
    // ANSI SQL — same implementation skeleton, swapped hash family — so
    // an external system (or the DuckDB oracle) can re-verify any run.
    // Near-dup pairs, the content fingerprint, and the compressibility
    // proxy, side by side with their production defaults:
    val polyPairs = graft.llm.Dedup.polyMinHashNearDups(docs, k = 2,
      bands = 8, rowsPerBand = 2, threshold = 0.5).count()
    val xxPairs = graft.llm.Dedup.minHashNearDups(docs, k = 2,
      bands = 8, rowsPerBand = 2, threshold = 0.5).count()
    val fpPoly = graft.llm.TextStats.fingerprintPoly(docs)
      .agg(min("fingerprint"), max("fingerprint")).head()
    val proxySpread = graft.llm.TextStats.compressibilityProxy(docs)
      .agg(min("compress_proxy"), max("compress_proxy")).head()
    println(s"[29] near-dup pairs: poly $polyPairs vs xxhash64 $xxPairs; " +
      s"poly fingerprint range [${fpPoly.getLong(0)}, ${fpPoly.getLong(1)}]; " +
      s"compressibility 1024·log2(dup) in [${proxySpread.getLong(0)}, " +
      s"${proxySpread.getLong(1)}]")

    // 30. the serving surface: the declared query registry answered over
    // a loopback socket — request a page of any query by name, get the
    // canonical JSON rows back (the control-plane face; bulk output goes
    // through the sinks)
    val srv = graft.serve.Serve.start(spark, "/root/testdata/sf0.001")
    val sock = new java.net.Socket("127.0.0.1", srv.port)
    val sout = new java.io.PrintWriter(sock.getOutputStream, true)
    val sin = new java.io.BufferedReader(
      new java.io.InputStreamReader(sock.getInputStream))
    sout.println("""{"query":"agg_multikey","limit":3}""")
    val served = Iterator.continually(sin.readLine())
      .takeWhile(_ != null).toSeq
    sock.close()
    // paging past the clamp: offset windows over the declared ORDER BY
    // tile the full result — page 2 of src_range picks up at row 5
    val sock2 = new java.net.Socket("127.0.0.1", srv.port)
    val sout2 = new java.io.PrintWriter(sock2.getOutputStream, true)
    val sin2 = new java.io.BufferedReader(
      new java.io.InputStreamReader(sock2.getInputStream))
    sout2.println("""{"query":"src_range","limit":5,"offset":5}""")
    val page2 = Iterator.continually(sin2.readLine())
      .takeWhile(_ != null).toSeq
    sock2.close(); srv.close()
    println(s"[30] served ${served.length - 2} rows of agg_multikey over " +
      s"the socket; header ${served.head.take(60)}; " +
      s"offset page starts ${page2(1)}")

    // 31. character-entropy quality gate + the pair-graph closure
    // primitive (both r13): entropy in 1/1024-bit fixed point separates
    // one-character spam (0) from prose (~4200) from random blobs
    // (~6100); pairComponents is the dedup pipelines' closure face —
    // losers are exactly id =!= component, no corpus-sized node frame
    val noisy = docs.select("doc_id", "text").unionByName(spark.range(2).select(
      (col("id") + 90000).as("doc_id"),
      when(col("id") === 0, lit("a" * 400))
        .otherwise(lit((33 to 126).map(_.toChar).mkString * 5)).as("text")))
    val ent = graft.llm.TextStats.charEntropy(noisy)
    val entSpread = ent.agg(min("entropy_fp"), max("entropy_fp")).head()
    val comp = graft.llm.Components.pairComponents(
      Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b"))
    val losers31 = comp.where(col("doc_id") =!= col("component")).count()
    println(s"[31] entropy_fp spread [${entSpread.getLong(0)}, " +
      s"${entSpread.getLong(1)}] over prose+spam+blob; closure drops " +
      s"$losers31 of ${comp.count()} pair participants")

    // 32. optimal-vs-greedy tokenization and the temporal leakage split:
    // the Viterbi DP quantifies greedy over-segmentation (tokens you pay
    // but never needed), and temporalEntitySplit bands events so eval is
    // post-cutoff AND entity-fresh, with straddlers' leakage mass
    // visible instead of silently filtered
    val vocab32 = Seq("ab", "bcd", "a", "the", "sc", "an")
    val seg = Seq((0L, "abcd the scan")).toDF("id", "text").select(
        graft.llm.TextStats.bpeTokenCount(col("text"), vocab32).as("greedy"),
        graft.llm.TextStats.viterbiTokenCount(col("text"), vocab32).as("optimal"))
      .head()
    // events read through Tables.events ONLY — the fixture's ts encoding
    // varies by generation (ns vs µs NTZ) and the adaptive reader owns that
    val ev32 = graft.model.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "ts")
    val bands = graft.llm.Curation.temporalEntitySplit(ev32, "2024-01-01 06:00:00")
      .groupBy("band").count().as[(String, Long)].collect().toMap
    println(s"[32] greedy ${seg.getLong(0)} vs optimal ${seg.getLong(1)} tokens; " +
      s"temporal bands $bands")

    // 33. the multilingual-corpus trio (late r13): margin-based bitext
    // mining (mutual-best pairs at >=1.2x their neighborhoods' k-NN
    // mean), per-lang tokenizer fertility (which scripts a vocab
    // shortchanges), and CCNet per-lang perplexity terciles (the
    // keep-head-and-middle policy's input)
    val vecs = graft.model.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .join(docs.select("doc_id", "lang"), col("doc_id") === col("vec_id"))
      .localCheckpoint(false)
    val mined = graft.llm.Similarity.marginMine(
      vecs.where(col("lang") === "de").select(col("vec_id").as("a"), col("embedding")),
      vecs.where(col("lang") === "en").select(col("vec_id").as("b"), col("embedding")),
      k = 4, minMarginFp = 1200L)
    val fert = graft.llm.TextStats.tokenizerFertility(
        docs, Seq("the", "sc", "an", "er", "in"))
      .agg(min("fert_char_fp"), max("fert_char_fp")).head()
    val ccnet = graft.llm.TextStats.pplBuckets(docs,
        graft.llm.TextStats.LmModel(
          Seq("the" -> -900L, "a" -> -937L), Seq(("the", "a", -250L)),
          backoffPenalty = -450L, oovPenalty = -3200L))
      .groupBy("bucket").count().as[(String, Long)].collect().toMap
    println(s"[33] mined ${mined.count()} mutual-best bitext pairs; " +
      s"fertility spread [${fert.getLong(0)}, ${fert.getLong(1)}]; " +
      s"ccnet buckets $ccnet")

    // 34. structural curation + denoising prep (late r13): the Gopher
    // rule battery reports WHICH rule fails (the per-rule mix is the
    // datasheet), edit-distance verify catches verbatim-with-small-edits
    // dups that shingle-Jaccard blurs, and spanCorruption lays out the
    // T5 denoising masks deterministically before tokenization
    val gopher = graft.llm.TextStats.gopherRules(docs)
    val failMix = gopher.agg(
        sum(when(!col("bullet_ok"), 1L).otherwise(0L)),
        sum(when(!col("stop_ok"), 1L).otherwise(0L)),
        sum(when(col("keep"), 1L).otherwise(0L))).head()
    val editPairs = graft.llm.Dedup.polyEditNearDups(
        docs.select("doc_id", "text"), maxRelBp = 600L)
      .where(col("dup")).count()
    val masks = graft.llm.Packing.spanCorruption(docs)
      .agg(sum("n_spans"), sum("input_len"), sum("target_len")).head()
    println(s"[34] gopher fail-mix bullet=${failMix.getLong(0)} " +
      s"stop=${failMix.getLong(1)} keep=${failMix.getLong(2)}; " +
      s"$editPairs edit-verified dup pairs; " +
      s"${masks.getLong(0)} corruption spans → enc ${masks.getLong(1)} / " +
      s"dec ${masks.getLong(2)} tokens")

    // 35. lexical retrieval + repetition battery (late r13): BM25 in
    // exact integer arithmetic (idf floored Lucene-style — on this
    // corpus only 'dup' is rare enough to score), and the Gopher
    // repetition rules whose gram stats run as ONE codegen kernel pass
    val hits = graft.llm.TextStats.bm25(docs, Seq("dup", "merge"), limit = 5)
      .select("doc_id", "score_fp").as[(Long, Long)].collect()
    val rep = graft.llm.TextStats.repetitionRules(docs)
      .agg(sum(when(!col("keep"), 1L).otherwise(0L)),
        max("top_gram_bp")).head()
    println(s"[35] bm25 top hit doc ${hits.head._1} at ${hits.head._2} fp " +
      s"(${hits.length} scored); repetition drops ${rep.getLong(0)} docs, " +
      s"max top-gram mass ${rep.getLong(1)} bp")

    // 36. corpus statistics tier (r13 session 3): word2phrase
    // collocations (the fixture's natural bigrams all sit at the
    // independence score ≈ 10⁴, so none passes), distinct-n diversity
    // per source, and a stupid-backoff LM trained on half the corpus
    // scoring the other half held-out — the (n_bo1, n_bo2) backoff
    // counts ARE the fluency signal
    val phr = graft.llm.TextStats.phrases(docs, minScoreFp = 20000L).count()
    val divn = graft.llm.TextStats.distinctNgrams(docs)
      .where(col("n") === 2).agg(min("distinct_bp"), max("distinct_bp")).head()
    val bo = graft.llm.TextStats.backoffScore(
        docs.where(col("doc_id") % 2 === 0),
        docs.where(col("doc_id") % 2 === 1))
      .agg(sum("n_tri"), sum("n_bo1"), sum("n_bo2")).head()
    println(s"[36] $phr phrases pass 2×-independence; distinct-2 bp " +
      s"[${divn.getLong(0)}, ${divn.getLong(1)}]; backoff levels " +
      s"${bo.getLong(0)}/${bo.getLong(1)}/${bo.getLong(2)}")

    // 37. training-example transforms (r13 session 3): SFT chat
    // assembly with loss-mask spans, fill-in-the-middle at 50%, and
    // DPO preference pairs from any integer score — here the
    // classifier-free TTR proxy
    val turns = docs.select(
      (col("doc_id") / 4).cast("long").as("conv_id"),
      pmod(col("doc_id"), lit(4)).cast("long").as("turn"),
      when(pmod(col("doc_id"), lit(4)) === 2, "assistant")
        .otherwise("user").as("role"),
      substring(col("text"), 1, 40).as("content"))
    val chat = graft.llm.Packing.chatPack(turns)
      .agg(sum("masked_chars"), count(lit(1))).head()
    val fim = graft.llm.Packing.fim(docs)
      .groupBy("fim_mode").count().as[(String, Long)].collect().toMap
    val ttr = graft.functions.VectorFunctions.intDiv(
      size(array_distinct(split(col("text"), " "))).cast("long") * 10000L,
      size(split(col("text"), " ")).cast("long"))
    val prefs = graft.llm.Curation.prefPairs(docs.select(col("doc_id"),
      (col("doc_id") / 8).cast("long").as("prompt_id"), ttr.as("score_bp")))
    val pm = prefs.agg(count(lit(1)), max("margin")).head()
    println(s"[37] chat: ${chat.getLong(1)} convs / ${chat.getLong(0)} " +
      s"supervised chars; fim split $fim; ${pm.getLong(0)} preference " +
      s"pairs, max margin ${pm.getLong(1)} bp")

    // 38. retrieval composition (r13 session 3): BM25 ∪ dense by
    // reciprocal-rank fusion (rank positions fuse — no score
    // calibration), then MMR re-ranks a twin-planted pool and keeps
    // one of each duplicate
    val lexL = graft.llm.TextStats.bm25(docs, Seq("dup", "merge"), limit = 10)
      .withColumn("rank", row_number().over(org.apache.spark.sql.expressions
        .Window.orderBy(col("score_fp").desc, col("doc_id"))))
      .select(col("doc_id").as("id"), col("rank"))
    val denL = lexL.select(col("id"), (lit(11) - col("rank")).as("rank"))
    val fused = graft.llm.Similarity.rrfFuse(lexL, denL, limit = 5).collect()
    println(s"[38] rrf fused top id ${fused.head.getLong(0)} at " +
      s"${fused.head.getLong(3)} fp (reversed-list fusion favors the " +
      s"middle ranks — ${fused.length} returned)")

    // 39. datasheet monitors (r14): per-column profile, classifier
    // calibration bins, PSI drift between corpus halves, and the
    // per-lang OOV rate against a top-20 vocab — the standing panel a
    // long-running ingestion pipeline re-runs per batch
    val prof = graft.relational.Profile.profile(docs,
      Seq("doc_id", "lang")).collect()
    val calPred = greatest(lit(0L), least(lit(9999L),
      col("n_chars").cast("long") * 10L))
    val cal = graft.llm.Classifier.calibration(
      docs.select(col("doc_id"), calPred.as("p"),
        (pmod(col("doc_id") * 9301L + 49297L, lit(10000L)) < calPred).as("y")),
      col("p"), col("y")).collect()
    val psi = graft.llm.TextStats.psiDrift(docs,
        pmod(col("doc_id"), lit(2)) === 0,
        col("n_chars").cast("long") * 10L +
          when(pmod(col("doc_id"), lit(3)) === 0, 700L).otherwise(0L))
      .agg(sum("psi_fp")).head().getLong(0)
    val oov = graft.llm.TextStats.oovRate(
      docs.where(pmod(col("doc_id"), lit(2)) === 1),
      graft.llm.TextStats.vocab(
        docs.where(pmod(col("doc_id"), lit(2)) === 0), topK = 20))
      .agg(max("oov_bp")).head().getLong(0)
    println(s"[39] profile ${prof.length} columns (doc_id distinct_est " +
      s"${prof.head.getLong(5)}); ${cal.length} calibration bins; " +
      s"planted psi ${psi} fp; worst-lang oov ${oov} bp")

    // 40. dedup dial tuning + training-data mining (r14): one
    // banding pass prices four Jaccard cutoffs; hard negatives mine
    // the closest non-positive bucket-mates per query
    val dialSweep = graft.llm.Dedup.thresholdSweep(docs,
      Seq(3000L, 5000L, 8000L)).as[(Long, Long, Long)].collect()
    println(s"[40] dedup sweep " +
      dialSweep.map(r => s"${r._1}bp→${r._2} pairs").mkString(", "))

    // 41. event analytics (r14): funnel depth + gap sessions over the
    // events table, and the held-out n-gram novelty read on documents
    val evs = Tables.events(spark, sf)
    val fun = graft.relational.Funnel.funnel(evs,
        Seq("view", "click", "purchase"), maxGapUs = 86400000000L)
      .groupBy("steps_completed").count()
      .as[(Long, Long)].collect().toMap
    val sess = graft.relational.Sessionize.sessionize(evs,
      gapUs = 86400000000L).count()
    val nov = graft.llm.TextStats.novelty(
        docs.where(pmod(col("doc_id"), lit(2)) === 0),
        docs.where(pmod(col("doc_id"), lit(2)) === 1))
      .agg(avg("novelty_bp")).head().getDouble(0).round
    val ret = graft.relational.Retention.retention(evs, bucketDays = 7)
      .agg(count(lit(1)), sum("n_users")).head()
    println(s"[41] funnel depths $fun; $sess sessions; " +
      s"retention ${ret.getLong(0)} cells / ${ret.getLong(1)} user-weeks; " +
      s"mean held-out novelty $nov bp")

    // 42. round-15 additions — CDC upsert + time travel, the mergeable
    // quantile sketch, kNN labeling, and the streaming funnel's batch face
    val ordBase = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_totalprice"))
      .where(pmod(col("o_orderkey"), lit(3)) === 0)
    val ordChanges = Tables.orders(spark, sf)
      .where(pmod(col("o_orderkey"), lit(15)) === 0)
      .select(col("o_orderkey"), col("o_totalprice"),
        lit(1L).as("version"), lit("D").as("op"))
    val merged = graft.relational.Cdc.upsert(ordBase, ordChanges,
      Seq("o_orderkey")).count()
    val asOf0 = graft.relational.Cdc.snapshotAsOf(
      ordChanges, lit(0L), Seq("o_orderkey")).count()
    val skParts = Tables.orders(spark, sf).groupBy("o_orderpriority")
      .agg(graft.functions.QuantileSketch
        .agg(col("o_totalprice").cast("double")).as("sk"))
      .collect()
    val skMerged = skParts.map(r => graft.functions.QuantileSketch
        .fromBytes(r.getAs[Array[Byte]]("sk")))
      .reduce(graft.functions.QuantileSketch.merge)
    val p50 = graft.functions.QuantileSketch.query(skMerged, 0.5).get.round
    val embs = Tables.embeddings(spark, sf)
      .where(col("embedding").isNotNull && col("vec_id") < 400)
    val knnQ = embs.where(pmod(col("vec_id"), lit(7)) === 0)
      .select((col("vec_id") + 100000L).as("qid"), col("embedding"))
    val labeled = Similarity.knnLabel(knnQ, embs, k = 5).count()
    val sfun = graft.streaming.StreamOps.funnelStream(
        Tables.eventsDs(spark, sf),
        Seq("view", "click", "purchase"), maxGapUs = 86400000000L)
      .where(col("completed_ts_us").isNotNull).count()
    println(s"[42] upsert snapshot $merged rows (as-of-0 state $asOf0); " +
      s"merged-sketch p50 $p50; $labeled queries kNN-labeled; " +
      s"$sfun users complete the streamed funnel")

    // 43. round-16 additions — a changelog STREAM maintaining a bucketed
    // snapshot (out-of-order micro-batches, tombstone GC), and the
    // outlink graph's connected components closed incrementally
    val snapDir = java.nio.file.Files.createTempDirectory("ex_cdc").toString
    graft.streaming.StreamOps.writeCdcSnapshot(
      graft.relational.Cdc.bootstrap(ordBase, Seq("o_orderkey")),
      snapDir, Seq("o_orderkey"), nBuckets = 8)
    // batch 1: v2 deletes land first; batch 2: late v1 updates must lose
    graft.streaming.StreamOps.applyCdcBatch(
      Tables.orders(spark, sf).where(pmod(col("o_orderkey"), lit(15)) === 0)
        .select(col("o_orderkey"), col("o_totalprice"),
          lit(2L).as("version"), lit("D").as("op")),
      snapDir, Seq("o_orderkey"), "version", "op", 8)
    graft.streaming.StreamOps.applyCdcBatch(
      Tables.orders(spark, sf).where(pmod(col("o_orderkey"), lit(15)) === 0)
        .select(col("o_orderkey"), (col("o_totalprice") + 1).as("o_totalprice"),
          lit(1L).as("version"), lit("U").as("op")),
      snapDir, Seq("o_orderkey"), "version", "op", 8)
    graft.streaming.StreamOps.compactCdcSnapshot(spark, snapDir,
      horizon = 2L, Seq("o_orderkey"))
    val live = graft.relational.Cdc.publicSnapshot(
      graft.streaming.StreamOps.readCdcSnapshot(spark, snapDir)).count()
    val tombs = graft.streaming.StreamOps.readCdcSnapshot(spark, snapDir)
      .where(col(graft.relational.Cdc.DeletedCol)).count()
    val linkDocs = docs.select(col("source"),
      concat(col("text"), lit(" <a href=\"http://h"),
        pmod(col("doc_id"), lit(11)).cast("string"),
        lit(".example.com/\">x</a>")).as("text"))
    val linkEdges = graft.llm.Audit.outlinks(linkDocs)
      .select(concat(lit("s:"), col("src")).as("a"),
        concat(lit("h:"), col("dst_host")).as("b"))
    val prior = graft.llm.Components.pairComponents(linkEdges, idCol = "node")
    val grown = graft.llm.Components.incremental(prior,
        prior.limit(1).select(col("node").as("a"), lit("z:new-host").as("b")),
        idCol = "node")
      .select(countDistinct(col("component"))).head().getLong(0)
    println(s"[43] streamed CDC snapshot: $live live rows, $tombs surviving " +
      s"tombstones after GC; outlink graph closes to $grown components " +
      "after the incremental delta")

    // 44. the r17 CDC read tier + continuous-ingest dedup: time travel
    // from a retained bootstrap (readAsOf), O(1) additive schema
    // evolution (evolveCdcSnapshot — a meta append, no data rewrite),
    // and a dedupStream batch dropping a near-clone against the
    // maintained corpus + stored signature index
    {
      import graft.streaming.StreamOps
      import graft.relational.Cdc
      val dir44 = java.nio.file.Files.createTempDirectory("ex44").toString
      val base44 = Seq((1L, "alice", 10.0), (2L, "bob", 20.0))
        .toDF("k", "name", "amt")
      StreamOps.writeCdcSnapshot(Cdc.bootstrap(base44, Seq("k")),
        s"$dir44/snap", Seq("k"), nBuckets = 4)
      val log44 = Seq((2L, "bob2", 21.0, 1L, "U"), (1L, "", 0.0, 2L, "D"))
        .toDF("k", "name", "amt", "version", "op")
      val asOf1 = StreamOps.readAsOf(spark, s"$dir44/snap", log44, 1L, Seq("k"))
        .orderBy("k").collect().map(r => r.getString(1)).mkString(",")
      StreamOps.evolveCdcSnapshot(spark, s"$dir44/snap",
        Seq("tier" -> org.apache.spark.sql.types.StringType))
      val evolved = StreamOps.readCdcSnapshot(spark, s"$dir44/snap").columns
        .contains("tier")
      val corpus44 = Seq((1L, "the fast brown fox jumps over the lazy dog today"))
        .toDF("doc_id", "text")
      StreamOps.bootstrapDedup(corpus44, s"$dir44/idx", s"$dir44/corp",
        nBuckets = 4)
      StreamOps.applyDedupBatch(
        Seq((10L, "the fast brown fox jumps over the lazy dog today zq"),
          (11L, "completely different words in this one qq ww ee rr tt yy"))
          .toDF("doc_id", "text"),
        0L, s"$dir44/idx", s"$dir44/corp", k = 2, bands = 8, rowsPerBand = 2,
        threshold = 0.5, nBuckets = 4, idCol = "doc_id", textCol = "text",
        poly = false)
      val kept = StreamOps.readDedupCorpus(spark, s"$dir44/corp")
        .select("doc_id").collect().map(_.getLong(0)).sorted.mkString(",")
      println(s"[44] readAsOf(v=1) names=[$asOf1] (the v2 delete not yet " +
        s"visible); schema evolved in O(1): $evolved; dedupStream kept " +
        s"docs [$kept] — the near-clone dropped, the fresh doc survived")
    }

    // 45. the r18 CDC ownership + serving tier: an engine-owned frozen
    // retention copy (mutation refuses it), point lookup reading only
    // the requested keys' buckets, and a changelog DERIVED from two
    // dumps (diffSnapshots — the inverse of upsert; replaying it over
    // prev reconstructs next exactly)
    {
      import graft.streaming.StreamOps
      import graft.relational.Cdc
      val dir45 = java.nio.file.Files.createTempDirectory("ex45").toString
      val prev = Seq((1L, "alice", 10.0), (2L, "bob", 20.0), (3L, "eve", 30.0))
        .toDF("k", "name", "amt")
      StreamOps.writeCdcSnapshot(Cdc.bootstrap(prev, Seq("k")),
        s"$dir45/snap", Seq("k"), nBuckets = 4)
      val (retained, rv) = StreamOps.retainSnapshot(spark, s"$dir45/snap")
      val frozen =
        try { StreamOps.compactCdcSnapshot(spark, retained, 99L, Seq("k")); "no" }
        catch { case _: IllegalArgumentException => "yes" }
      val tail45 = Seq((2L, "bob9", 29.0, 5L, "U"))
        .toDF("k", "name", "amt", "version", "op")
      val point = StreamOps.readKeys(spark, s"$dir45/snap",
          Seq(2L, 3L).toDF("k"), tail45, Seq("k"))
        .orderBy("k").collect().map(_.getString(1)).mkString(",")
      val next = Seq((1L, "alice", 10.0), (2L, "bob9", 29.0), (9L, "nina", 90.0))
        .toDF("k", "name", "amt")
      val log = Cdc.diffSnapshots(prev, next, Seq("k"), version = 1L)
      val replayed = Cdc.upsert(prev, log, Seq("k")).orderBy("k")
        .collect().map(_.getString(1)).mkString(",")
      println(s"[45] retained copy at v=$rv refuses compaction: $frozen; " +
        s"point lookup [2,3] -> [$point]; diffSnapshots derived " +
        s"${log.count()} changes and upsert(prev, diff) replays to " +
        s"[$replayed]")
    }

    // 46. the r19 maintained-ANN serving tier + retention GC: bootstrap
    // a stored IVF-PQ index, ingest a batch through the streaming
    // write path (encoded under the STORED codebooks, landed in the
    // tail tier), serve a top-k probe — then fold the tail and probe
    // again (same answers); and the retention window GC'd explicitly
    {
      import graft.streaming.StreamOps
      val dir46 = java.nio.file.Files.createTempDirectory("ex46").toString
      val vecs46 = (0 until 24).map(i => (i.toLong,
          (0 until 8).map(j => ((i * 7 + j * 3) % 17 - 8) / 8.0f)))
        .toDF("vec_id", "embedding")
      val coarse46 = (0 until 4).map(c =>
        (0 until 8).map(j => ((c * 3 + j) % 8 - 4) / 4.0))
      val pq46 = (0 until 4).map(s => (0 until 4).map(k =>
        (0 until 2).map(j => ((s + k * 2 + j) % 8 - 4) / 4.0)))
      StreamOps.bootstrapAnn(vecs46, s"$dir46/ann", coarse46, pq46)
      StreamOps.applyAnnBatch(
        vecs46.where(col("vec_id") < 4)
          .select((col("vec_id") + 100L).as("vec_id"),
            reverse(col("embedding")).as("embedding")),
        0L, s"$dir46/ann", writer = StreamOps.writerIdFor(s"$dir46/ck"))
      val q46 = vecs46.where(col("vec_id") < 3)
        .withColumnRenamed("vec_id", "qid")
      def top(d: String) = StreamOps.probeAnn(q46, d, k = 3, nprobe = 2)
        .orderBy("qid", "rnk").collect()
        .map(r => s"${r.getLong(0)}→${r.getLong(1)}").mkString(",")
      val before46 = top(s"$dir46/ann")
      StreamOps.compactAnnIndex(spark, s"$dir46/ann",
        ownerCheckpoint = Some(s"$dir46/ck"))
      val same46 = top(s"$dir46/ann") == before46
      // retention GC on example 45's snapshot family shape
      val snap46 = s"$dir46/snap"
      StreamOps.writeCdcSnapshot(
        graft.relational.Cdc.bootstrap(
          Seq((1L, "a")).toDF("k", "name"), Seq("k")),
        snap46, Seq("k"), nBuckets = 2)
      val (r46, _) = StreamOps.retainSnapshot(spark, snap46)
      val listed = StreamOps.listRetained(spark, snap46).map(_._2)
      StreamOps.dropRetained(spark, r46)
      println(s"[46] ANN probe top-3 [$before46]; fold preserves " +
        s"answers: $same46; tail after fold: " +
        s"${StreamOps.annIndexTailBatches(spark, s"$dir46/ann")}; " +
        s"retained versions $listed GC'd to " +
        s"${StreamOps.listRetained(spark, snap46).map(_._2)}")
    }

    // 47. filtered ANN serving + exact re-rank (r20): the same
    // maintained store served (a) through a LIVE-ID gate — retired
    // documents drop out of the top-k immediately, filter-then-rank
    // so k survivors still come back — and (b) refined by exact
    // re-rank: top-R ADC candidates re-scored on their raw vectors
    {
      import graft.streaming.StreamOps
      val dir47 = java.nio.file.Files.createTempDirectory("ex47").toString
      val vecs47 = (0 until 24).map(i => (i.toLong,
          (0 until 8).map(j => ((i * 7 + j * 3) % 17 - 8) / 8.0f)))
        .toDF("vec_id", "embedding")
      val coarse47 = (0 until 4).map(c =>
        (0 until 8).map(j => ((c * 3 + j) % 8 - 4) / 4.0))
      val pq47 = (0 until 4).map(s => (0 until 4).map(k =>
        (0 until 2).map(j => ((s + k * 2 + j) % 8 - 4) / 4.0)))
      StreamOps.bootstrapAnn(vecs47, s"$dir47/ann", coarse47, pq47)
      val q47 = vecs47.where(col("vec_id") === 1)
        .withColumnRenamed("vec_id", "qid")
      def served(allow: Option[org.apache.spark.sql.DataFrame]) =
        StreamOps.probeAnn(q47, s"$dir47/ann", k = 3, nprobe = 2,
            allowIds = allow)
          .orderBy("rnk").collect().map(_.getLong(1)).mkString(",")
      val all47 = served(None) // rank 1 is the query's own vector (id 1)
      // retire id 1 from the live set: it vanishes, 3 survivors remain
      val live47 = vecs47.select(col("vec_id")).where(col("vec_id") =!= 1)
      val gated47 = served(Some(live47))
      // exact re-rank: top-6 by ADC -> exact squared-L2 -> top-3
      val rr47 = graft.llm.Similarity.rerankExact(q47,
          StreamOps.probeAnn(q47, s"$dir47/ann", k = 6, nprobe = 2),
          vecs47, k = 3)
        .orderBy("rnk").collect()
        .map(r => s"${r.getLong(1)}@${r.getLong(2)}").mkString(",")
      println(s"[47] ANN served [$all47]; with id 1 retired [$gated47]; " +
        s"exact re-rank of the ADC top-6 [$rr47]")
    }

    spark.stop()
  }
}
