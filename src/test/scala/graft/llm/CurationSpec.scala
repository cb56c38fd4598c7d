package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, concat, lit, pmod}

/** curateFull: every stage of the composite pipeline must fire on its
  * planted victim — exact dup, near dup, quality gate, language gate,
  * stratified cap — and nothing else. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  // (doc_id, text, lang, source, n_chars)
  private def docs = {
    val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    Seq(
      (0L, base, "en", "web", base.length.toLong),
      (1L, base, "en", "web", base.length.toLong),                    // exact dup of 0
      (2L, base.replace("juliet", "kilo"), "en", "web", 60L),         // near dup of 0
      (3L, "uno dos tres cuatro cinco seis siete ocho nueve diez", "es", "web", 50L), // wrong lang
      (4L, "the the the the the the the the the the", "en", "web", 40L),              // low quality
      (5L, "mike november oscar papa quebec romeo sierra tango", "en", "book", 50L),
      (6L, "uniform victor whiskey xray yankee zulu one two three", "en", "book", 52L),
      (7L, "four five six seven eight nine ten eleven twelve", "en", "book", 48L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("each stage drops exactly its planted victim; cap bounds the group") {
    val out = Curation.curateFull(docs, lang = "en", minQuality = 0.3,
        nearDupThreshold = 0.5, maxPerGroup = 2)
      .select("doc_id").as[Long].collect().toSet
    // 1 exact-dup, 2 near-dup, 3 lang, 4 quality; books {5,6,7} capped
    // at 2 → lowest ids {5,6}; web group has only 0 left
    out shouldBe Set(0L, 5L, 6L)
  }

  test("without a cap every gate survivor remains") {
    val out = Curation.curateFull(docs, lang = "en", minQuality = 0.3,
        nearDupThreshold = 0.5, maxPerGroup = 100)
      .select("doc_id").as[Long].collect().toSet
    out shouldBe Set(0L, 5L, 6L, 7L)
  }

  test("polyHash path drops the same planted victims as the xxhash64 default") {
    // the hash family changes only CANDIDATE generation; on clear-cut
    // planted dups (exact copy, one-token near-dup) both families band
    // them together and the shared exact-Jaccard verify decides alike
    for (cap <- Seq(2, 100)) {
      val xx = Curation.curateFull(docs, lang = "en", minQuality = 0.3,
          nearDupThreshold = 0.5, maxPerGroup = cap)
        .select("doc_id").as[Long].collect().toSet
      val poly = Curation.curateFull(docs, lang = "en", minQuality = 0.3,
          nearDupThreshold = 0.5, maxPerGroup = cap, polyHash = true)
        .select("doc_id").as[Long].collect().toSet
      poly shouldBe xx
    }
  }

  test("near-dup prune is transitive: a chain cluster keeps exactly its min id") {
    // k=2 shingle jaccards: J(2,4)=J(3,4)=6/11≈0.55 ≥ 0.5 but
    // J(2,3)=3/13≈0.23 < 0.5 — only the pairs (2,4) and (3,4) verify.
    // The old pairwise drop-higher-id rule dropped only 4, keeping both
    // 2 and 3 although they are transitive near-dups; clustering must
    // keep exactly the min id 2 of the {2,3,4} cluster.
    val chain = Seq(
      (0L, "mike november oscar papa quebec romeo sierra tango", "en", "web", 50L),
      (2L, "alpha bravo charlie delta echo foxtrot golf apple banana", "en", "web", 57L),
      (3L, "kilo lima delta echo foxtrot golf hotel india juliet", "en", "web", 53L),
      (4L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet", "en", "web", 62L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = Curation.curateFull(chain, lang = "en", minQuality = 0.3,
        nearDupThreshold = 0.5, maxPerGroup = 100)
      .select("doc_id").as[Long].collect().toSet
    out shouldBe Set(0L, 2L)
  }

  test("the near-dup pair stage is one checkpoint boundary the closure reads") {
    // the pair checkpoint IS the closure's edge cut (pairComponents
    // reads a cut in place): the symmetric view, the participant shuffle and
    // every propagation round read these blocks — unless the pair
    // stage is a checkpoint (a single LogicalRDD), the minhash
    // pipeline (shingling, hash lanes, banding shuffle, Jaccard
    // verify: the most expensive stage of curateFull) would derive
    // once per closure consumer
    val pairs = Curation.pairStage(docs, 0.5, "doc_id", "text")
    val plan = pairs.queryExecution.analyzed
    plan.collectLeaves().length shouldBe 1
    "LogicalRDD".r.findAllIn(plan.toString).length shouldBe 1
    plan.toString should not include "minhash" // stage cut, not re-derived
  }

  test("curateFull releases every superseded checkpoint; one survivor") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Curation.curateFull(docs, lang = "en", minQuality = 0.3,
      nearDupThreshold = 0.5, maxPerGroup = 2)
    val fresh = spark.sparkContext.getPersistentRDDs.keySet -- before
    // pairs, the per-round CC labels and the edge view are all released
    // eagerly; the single survivor is the final CC labels checkpoint the
    // (still lazy) anti join reads
    fresh.size shouldBe 1
    out.select("doc_id").as[Long].collect().toSet shouldBe Set(0L, 5L, 6L)
  }

  test("materializeGated checkpoints the stage boundary once, results unchanged") {
    def nCheckpointReads(df: org.apache.spark.sql.DataFrame): Int =
      "LogicalRDD".r.findAllIn(df.queryExecution.optimizedPlan.toString).length
    val plain = Curation.curateFull(docs, lang = "en", minQuality = 0.3,
      nearDupThreshold = 0.5, maxPerGroup = 2)
    // the clustering stage's checkpointed labels put ONE LogicalRDD into
    // even the plain plan (the anti-join probe); the gated stage itself
    // is still re-derived per branch — no stage cut for it
    val plainReads = nCheckpointReads(plain)
    val plainIds = plain.select("doc_id").as[Long].collect().toSet
    val mat = Curation.curateFull(docs, lang = "en", minQuality = 0.3,
      nearDupThreshold = 0.5, maxPerGroup = 2, materializeGated = true)
    // the gated frame is derived once: every surviving downstream branch
    // reads the checkpointed LogicalRDD instead of re-running
    // dedup + quality + gate, so the plan has strictly more checkpoint
    // reads than the plain one. Unlike the round-3 persist() this pins
    // nothing in the CacheManager — blocks are GC-released — so there is
    // no clearCache() to forget.
    nCheckpointReads(mat) should be > plainReads
    spark.sharedState.cacheManager.isEmpty shouldBe true
    mat.select("doc_id").as[Long].collect().toSet shouldBe plainIds
  }

  test("trainOrder IS budget -> split -> interleave -> shards, in order") {
    import org.apache.spark.sql.functions._
    val docs = (0L until 200L).map { i =>
      (i, s"s${i % 4}", (0 to (i % 7).toInt).map(j => s"w$j").mkString(" "))
    }.toDF("doc_id", "source", "text")
    val splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val weights = Map("s0" -> 2, "s1" -> 1, "s2" -> 1)
    val out = Curation.trainOrder(docs, budgetTokens = 60L,
        splits, "train", weights, rowsPerShard = 8L)
      .orderBy("doc_id")
      .as[(Long, String, Long, Long, Long, Long)].collect()
    // the same stages composed by hand, same order
    val budgeted = Sampling.tokenBudget(docs, 60L)
    val kept = Sampling.split(budgeted, splits).where(col("split") === "train")
    val manual = Packing.shardByPos(
        Packing.interleave(kept.select("doc_id", "source", "n_tokens"), weights),
        8L, "interleave_pos")
      .orderBy("doc_id")
      .as[(Long, String, Long, Long, Long, Long)].collect()
    out shouldBe manual
    // every stage must actually bind on this fixture
    out.length should be < 200 // budget + split + unlisted-source drops
    out.map(_._2).toSet shouldBe Set("s0", "s1", "s2") // s3 dropped
    out.map(_._5).toSet.size should be > 1 // more than one shard
  }

  test("assemble IS the five-stage composition, in order") {
    import org.apache.spark.sql.functions._
    // enough rows per lang that split/reweight keep something
    val corpus = (0L until 120L).map { i =>
      val lang = Seq("en", "de", "zh")((i % 3).toInt)
      (i, s"alpha$i bravo charlie delta echo foxtrot golf$i hotel india", lang)
    } :+ ((120L, "alpha0 bravo charlie delta echo foxtrot golf0 hotel india", "en")) // exact dup of 0
    val docs = corpus.toDF("doc_id", "text", "lang")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val mix = Map("en" -> 0.5, "de" -> 0.25, "zh" -> 0.25)

    val out = Curation.assemble(docs, minQuality = 0.2, splits, "train",
      mix, blockTokens = 16L).orderBy("lang", "block_id")

    // the same stages composed by hand, same order
    val keepers = Dedup.exact(docs).select(col("keep_id").as("doc_id"))
    val deduped = docs.join(keepers, "doc_id")
    val gated = deduped
      .join(TextStats.quality(deduped).select("doc_id", "quality"), "doc_id")
      .where(col("quality") >= 0.2)
    val kept = Sampling.split(gated, splits).where(col("split") === "train")
    val balanced = Sampling.reweight(kept, mix, stratumCol = "lang")
    val manual = Packing.packSequences(
        balanced.select("doc_id", "lang", "text"), 16L,
        partitionCols = Seq("lang"))
      .orderBy("lang", "block_id")

    val a = out.as[(String, Long, String, Long)].collect()
    a.nonEmpty shouldBe true
    a shouldBe manual.as[(String, Long, String, Long)].collect()
    // the exact dup was consumed by stage 1: doc 120's marker word can
    // appear at most once across all block text
    a.map(_._3).mkString(" ").sliding("alpha0 ".length).count(_ == "alpha0 ") should be <= 1
    // every non-final block per stratum is exactly full
    a.groupBy(_._1).values.foreach(bs => bs.init.foreach(_._4 shouldBe 16L))

    // materializeKept = true (cut the kept-split boundary instead of
    // deriving it twice through reweight) must change NOTHING but the
    // plan: results identical row for row
    val cut = Curation.assemble(docs, minQuality = 0.2, splits, "train",
        mix, blockTokens = 16L, materializeKept = true)
      .orderBy("lang", "block_id")
    cut.as[(String, Long, String, Long)].collect() shouldBe a
  }

  // ----- leakageSafeSplit ---------------------------------------------
  // Hand-computed lattice bands (cuts train<8006, val<9007 over the
  // 10007/4871 lattice): res(1)=4871→train, res(2)=9742→test,
  // res(10)=8682→val, res(11)=3546→train, res(12)=8417→val.

  private val splitFracs = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  test("leakageSafeSplit keeps a near-dup pair in the rep's band, not each member's own") {
    // ids 1 and 2 individually hash to DIFFERENT bands (train vs test);
    // paired, both must take rep 1's band
    val docs = Seq(1L, 2L).toDF("doc_id")
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    val out = Curation.leakageSafeSplit(docs, pairs, splitFracs)
      .as[(Long, String)].collect().toMap
    out(1L) shouldBe "train"
    out(2L) shouldBe "train" // member-hashing would say "test"
  }

  test("leakageSafeSplit closes transitively: A~B, B~C land together without an (A,C) pair") {
    val docs = Seq(10L, 11L, 12L).toDF("doc_id")
    val pairs = Seq((10L, 11L), (11L, 12L)).toDF("a", "b")
    val out = Curation.leakageSafeSplit(docs, pairs, splitFracs)
      .as[(Long, String)].collect().toMap
    // rep 10 → val; 11 alone would be train, 12 alone val
    out.values.toSet shouldBe Set("val")
  }

  test("leakageSafeSplit unpaired docs keep their own band — equals Sampling.split") {
    val docs = spark.range(500).toDF("doc_id")
    val pairs = Seq.empty[(Long, Long)].toDF("a", "b")
    val safe = Curation.leakageSafeSplit(docs, pairs, splitFracs)
      .as[(Long, String)].collect().toMap
    val plain = Sampling.split(docs, splitFracs)
      .as[(Long, String)].collect().toMap
    safe shouldBe plain
  }

  test("temporalEntitySplit: fresh entities eval, straddlers drop leaky, pre-cutoff trains") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      (0L, 1L, t("2024-01-01 01:00:00")), // u1 pre-cutoff        → train
      (1L, 1L, t("2024-01-01 09:00:00")), // u1 post, but straddles → dropped_leaky
      (2L, 2L, t("2024-01-01 08:00:00")), // u2 only post-cutoff  → eval
      (3L, 2L, t("2024-01-01 10:00:00")), // u2 again             → eval
      (4L, 3L, t("2024-01-01 02:00:00")), // u3 only pre-cutoff   → train
      (5L, 4L, t("2024-01-01 06:00:00"))) // exactly AT cutoff: ts !< cut, first !< cut → eval
      .toDF("event_id", "user_id", "ts")
    val out = Curation.temporalEntitySplit(events, "2024-01-01 06:00:00")
      .select("event_id", "band").as[(Long, String)].collect().toMap
    out shouldBe Map(0L -> "train", 1L -> "dropped_leaky", 2L -> "eval",
      3L -> "eval", 4L -> "train", 5L -> "eval")
    // partition invariance + no silent row loss
    val shuffled = Curation.temporalEntitySplit(
        events.repartition(5), "2024-01-01 06:00:00")
      .select("event_id", "band").as[(Long, String)].collect().toMap
    shuffled shouldBe out
    an[IllegalArgumentException] should be thrownBy
      Curation.temporalEntitySplit(
        events.withColumn("band", lit("x")), "2024-01-01 06:00:00")
  }

  test("leakageSafeSplit mixes paired and unpaired docs correctly in one corpus") {
    val docs = Seq(1L, 2L, 10L, 11L, 12L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (10L, 11L), (11L, 12L)).toDF("a", "b")
    val out = Curation.leakageSafeSplit(docs, pairs, splitFracs)
      .as[(Long, String)].collect().toMap
    out(1L) shouldBe "train"
    out(2L) shouldBe "train"
    out(10L) shouldBe "val"
    out(11L) shouldBe "val"
    out(12L) shouldBe "val"
    // 20 is in no pair: res(20)=20*4871%10007=7357 → train, its own band
    out(20L) shouldBe "train"
  }

  // ----- ingestDelta --------------------------------------------------

  test("ingestDelta: every gate fires on its planted victim, nothing else") {
    val corpus = Seq((1L, "known corpus document body here"))
      .toDF("doc_id", "text")
    val bench = Seq((9L, "omega psi chi phi")).toDF("doc_id", "text")
    val batch = Seq(
      (101L, "known corpus document body here"), // already in corpus → dedup drops
      (102L, "alpha beta gamma delta"), // within-batch dup, min id wins
      (103L, "alpha beta gamma delta"),
      (104L, "the the the the"), // all stopwords → quality 0 → gate drops
      (105L, "omega psi chi phi"), // exact benchmark copy → contamination 10000
      (106L, "epsilon zeta eta theta")) // clean → kept
      .toDF("doc_id", "text")
    val out = Curation.ingestDelta(batch, corpus, bench,
        minQualityBp = 2000L, maxContamBp = 9000L, k = 3)
      .select("doc_id", "dup_count", "quality_bp", "contamination_bp")
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long)].collect()
    out shouldBe Array(
      (102L, 2L, 10000L, 0L),
      (106L, 1L, 10000L, 0L))
  }

  test("ingestDelta fails fast when the batch already carries an audit column") {
    val df = Seq((1L, "x", 1L)).toDF("doc_id", "text", "quality_bp")
    an[IllegalArgumentException] should be thrownBy
      Curation.ingestDelta(df, df.select("doc_id", "text"),
        df.select("doc_id", "text"), 0L, 10000L)
  }

  // ----- curriculumOrder ----------------------------------------------

  test("curriculumOrder schedules whole tiers, best first, shuffled inside") {
    // vocabulary-rich docs score high; repetitive docs score low with a
    // SPREAD of scores (a point-mass low band would vault whole into the
    // top tier under ties-land-high cuts — the CLAUDE.md percentile
    // lesson, re-learned by this very spec's first draft)
    val docs = (0L until 40L).map { i =>
      val text = if (i % 2 == 0) s"alpha beta gamma delta epsilon z$i"
      else ("the " * (2 + (i % 4)).toInt).trim + s" t$i"
      (i, text)
    }.toDF("doc_id", "text")
    val out = Curation.curriculumOrder(docs, tiers = 2, rowsPerShard = 8L)
      .orderBy("curriculum_pos")
      .select("doc_id", "tier", "curriculum_pos", "shard_id", "pos_in_shard")
      .as[(Long, Long, Long, Long, Long)].collect()
    // positions are a 0-based total order
    out.map(_._3) shouldBe (0L until 40L).toArray
    // every high-tier doc precedes every low-tier doc (bestFirst), and
    // both tiers are populated
    val tiersInOrder = out.map(_._2)
    tiersInOrder.zip(tiersInOrder.tail).foreach { case (a, b) => a should be >= b }
    tiersInOrder.toSet shouldBe Set(0L, 1L)
    // every rich doc is in the top tier (the cut may promote some of the
    // best repetitive docs too — that's the percentile's call)
    val topIds = out.takeWhile(_._2 == 1L).map(_._1)
    topIds.toSet should contain allElementsOf (0L until 40L).filter(_ % 2 == 0)
    // within each tier the order is the shuffle lattice, not id order
    def latticeOf(i: Long): Long = (i % 999999937L) * 654435887L % 999999937L
    out.groupBy(_._2).values.foreach { tier =>
      val ids = tier.sortBy(_._3).map(_._1)
      ids shouldBe ids.sortBy(i => (latticeOf(i), i))
    }
    topIds should not be topIds.sorted
    // shard arithmetic
    out.foreach { case (_, _, p, s, ps) =>
      s shouldBe p / 8L
      ps shouldBe p % 8L
    }
  }

  test("curriculumOrder bestFirst=false reverses the tier schedule only") {
    val docs = (0L until 30L).map { i =>
      (i, if (i % 3 == 0) s"alpha beta gamma delta e$i" else s"the the the t$i")
    }.toDF("doc_id", "text")
    val best = Curation.curriculumOrder(docs, 2, 8L, bestFirst = true)
      .orderBy("curriculum_pos").select("doc_id").as[Long].collect()
    val anti = Curation.curriculumOrder(docs, 2, 8L, bestFirst = false)
      .orderBy("curriculum_pos").select("doc_id").as[Long].collect()
    best should not be anti
    best.toSet shouldBe anti.toSet
  }

  test("curriculumOrder is invariant under input partitioning") {
    val docs = spark.range(200).select(col("id").as("doc_id"),
      concat(lit("w"), pmod(col("id") * 17, lit(23)),
        lit(" x"), pmod(col("id"), lit(7)), lit(" y z")).as("text"))
    val a = Curation.curriculumOrder(docs, 4, 16L)
      .orderBy("doc_id").as[(Long, Long, Long, Long, Long, Long)].collect()
    val b = Curation.curriculumOrder(docs.repartition(7), 4, 16L)
      .orderBy("doc_id").as[(Long, Long, Long, Long, Long, Long)].collect()
    b shouldBe a
  }

  // ----- qualityDedup -------------------------------------------------

  test("qualityDedup keeps the highest-scoring member of each transitive cluster") {
    // {1,2,3} is one cluster only via transitivity (no (1,3) pair);
    // 2 has the top score; 9 is unpaired and must survive untouched
    val docs = Seq((1L, 10L), (2L, 30L), (3L, 20L), (9L, 5L))
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val out = Curation.qualityDedup(docs, pairs, col("score"))
      .select("doc_id").as[Long].collect().sorted
    out shouldBe Array(2L, 9L) // min-id election would keep 1 instead
  }

  test("qualityDedup ties go to the smallest id") {
    val docs = Seq((5L, 7L), (6L, 7L)).toDF("doc_id", "score")
    val pairs = Seq((5L, 6L)).toDF("a", "b")
    Curation.qualityDedup(docs, pairs, col("score"))
      .select("doc_id").as[Long].collect() shouldBe Array(5L)
  }

  test("qualityDedup elects among present members when a pair endpoint is missing") {
    // id 1 is referenced by the pair list but absent from docs — the
    // {1,2,3} cluster elects among {2,3}; a winner lookup that required
    // every member would drop the whole cluster
    val docs = Seq((2L, 1L), (3L, 9L)).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    Curation.qualityDedup(docs, pairs, col("score"))
      .select("doc_id").as[Long].collect() shouldBe Array(3L)
  }

  test("qualityDedup: a NULL score loses the election; all-NULL falls back to min id") {
    val docs = Seq((1L, Some(3L)), (2L, None), (5L, None), (6L, None))
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (5L, 6L)).toDF("a", "b")
    // {1,2}: scored 1 beats null 2 (NULLS-FIRST struct order would say 2);
    // {5,6}: both null → min id 5
    Curation.qualityDedup(docs, pairs, col("score"))
      .select("doc_id").as[Long].collect().sorted shouldBe Array(1L, 5L)
  }

  test("qualityDedup and leakageSafeSplit fail fast on reserved column collisions") {
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    an[IllegalArgumentException] should be thrownBy
      Curation.qualityDedup(Seq((1L, 1L)).toDF("doc_id", "__score"),
        pairs, lit(1L))
    an[IllegalArgumentException] should be thrownBy
      Curation.leakageSafeSplit(Seq((1L, "x")).toDF("doc_id", "component"),
        pairs, Seq("train" -> 1.0))
  }

  test("splitLeakage flags a train doc copying held-out text and clears disjoint vocab") {
    // find ids landing train vs held-out under the .9/.05/.05 lattice
    val res = (id: Long) => ((id % 10007L) * 4871L) % 10007L
    val ids = (0L until 4000L)
    val trainIds = ids.filter(res(_) < 9006L)
    val heldIds = ids.filter(res(_) >= 9006L)
    val held = heldIds.head
    val leakyTrain = trainIds.head
    val cleanTrain = trainIds(1)
    val docs = Seq(
      (held, "alpha beta gamma delta epsilon zeta eta theta"),
      (leakyTrain, "alpha beta gamma delta epsilon zeta eta theta"), // verbatim copy
      (cleanTrain, "uno dos tres cuatro cinco seis siete ocho")      // disjoint vocab
    ).toDF("doc_id", "text")
    val out = Curation.splitLeakage(docs,
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
        heldOutLabels = Seq("val", "test"), k = 3)
      .orderBy("doc_id")
      .select("doc_id", "contamination").as[(Long, Double)].collect().toMap
    out.keySet shouldBe Set(leakyTrain, cleanTrain) // held-out docs are not scored
    out(leakyTrain) shouldBe 1.0
    out(cleanTrain) shouldBe 0.0
  }

  test("splitLeakage rejects unknown and all-covering held-out label sets") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    val fr = Seq("train" -> 0.9, "val" -> 0.1)
    an[IllegalArgumentException] should be thrownBy
      Curation.splitLeakage(docs, fr, Seq("dev"))
    an[IllegalArgumentException] should be thrownBy
      Curation.splitLeakage(docs, fr, Seq("train", "val"))
    an[IllegalArgumentException] should be thrownBy
      Curation.splitLeakage(docs, fr, Seq.empty)
  }

  test("qualityDedup is invariant under input partitioning") {
    val docs = spark.range(300).select(col("id").as("doc_id"),
      pmod(col("id") * 7, lit(31)).as("score"))
    val pairs = spark.range(299).select(col("id").as("a"), (col("id") + 1).as("b"))
      .where(pmod(col("id"), lit(4)) < 2)
    val a = Curation.qualityDedup(docs, pairs, col("score"))
      .orderBy("doc_id").as[(Long, Long)].collect()
    val b = Curation.qualityDedup(docs.repartition(7), pairs.repartition(3),
        col("score"))
      .orderBy("doc_id").as[(Long, Long)].collect()
    b shouldBe a
    a.length should be < 300 // the fixture must actually drop losers
  }

  test("prefPairs: argmax/argmin ties to lower id, tied and singleton groups drop") {
    val scored = Seq(
      (0L, 1L, 50L), (0L, 2L, 80L), (0L, 3L, 80L), (0L, 4L, 10L),
      (1L, 5L, 42L), (1L, 6L, 42L),            // all tied → dropped
      (2L, 7L, 9L),                            // singleton → dropped
      (3L, 8L, 5L), (3L, 9L, 5L), (3L, 10L, 20L)
    ).toDF("prompt_id", "doc_id", "score_bp")
    val out = Curation.prefPairs(scored).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    out.keySet shouldBe Set(0L, 3L)
    out(0L) shouldBe ((2L, 4L, 80L, 10L, 70L))  // chosen tie 2|3 → 2
    out(3L) shouldBe ((10L, 8L, 20L, 5L, 15L))  // rejected tie 8|9 → 8
    Curation.prefPairs(scored.repartition(5)).collect().map(_.toSeq) shouldBe
      Curation.prefPairs(scored).collect().map(_.toSeq)
  }
}
