package graft.llm

import graft.SparkSpec
import graft.core.Cut
import graft.core.Cut.CutOps
import org.apache.spark.sql.functions._

/** Dedup operators (SURVEY §2.9): fixtures with one planted duplicate pair
  * and one near-duplicate pair (FIXTURES.md micro-fixtures). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  // 0 and 1 identical; 2 near-dup of 0 (one token changed); 3 unrelated.
  private def docs = Seq(
    (0L, "the fast key order sort table scan merge join group"),
    (1L, "the fast key order sort table scan merge join group"),
    (2L, "the fast key order sort table scan merge join batch"),
    (3L, "completely different words about nothing at all here now"))
    .toDF("doc_id", "text")

  test("exact dedup groups identical texts and keeps the min id") {
    val out = Dedup.exact(docs).orderBy("keep_id")
      .select("keep_id", "dup_count").as[(Long, Long)].collect()
    out shouldBe Array((0L, 2L), (2L, 1L), (3L, 1L))
  }

  test("exact dedup is idempotent") {
    val once = Dedup.exact(docs)
    val keepers = docs.join(once.select(col("keep_id").as("doc_id")), "doc_id")
    val twice = Dedup.exact(keepers)
    twice.agg(max("dup_count")).as[Long].head() shouldBe 1L
    twice.count() shouldBe once.count()
  }

  test("shingles produce distinct word k-grams per doc") {
    val sh = Dedup.shingles(Seq((7L, "a b c d")).toDF("doc_id", "text"), k = 2)
      .as[(Long, String)].collect().sortBy(_._2)
    sh shouldBe Array((7L, "a b"), (7L, "b c"), (7L, "c d"))
  }

  test("nearDupsFromSigs == the text-input faces, both hash families, even from a checkpoint (r20)") {
    // a larger planted set so buckets hold >2 members: base docs + two
    // clone tiers, exercising cap ordering and multi-pair buckets
    val many = docs.unionByName(
        docs.select((col("doc_id") + 10L).as("doc_id"), col("text")))
      .unionByName(docs.select((col("doc_id") + 20L).as("doc_id"),
        concat(col("text"), lit(" zz")).as("text")))
    for (poly <- Seq(false, true)) {
      val viaText =
        (if (poly) Dedup.polyMinHashNearDups(many, k = 2, bands = 8,
          rowsPerBand = 2, threshold = 0.3)
        else Dedup.minHashNearDups(many, k = 2, bands = 8,
          rowsPerBand = 2, threshold = 0.3))
          .select("a", "b", "jaccard").as[(Long, Long, Double)]
          .collect().toSet
      // the streaming caller's shape: signatures precomputed AND
      // checkpointed (row order may differ from a fresh derivation —
      // the bounded-heap cap must make that immaterial)
      Cut.scope {
        val sigs = Dedup.signatureIndex(many, k = 2, bands = 8,
          rowsPerBand = 2, poly = poly).cutNow()
        val viaSigs = Dedup.nearDupsFromSigs(sigs, many, k = 2,
            threshold = 0.3)
          .select("a", "b", "jaccard").as[(Long, Long, Double)]
          .collect().toSet
        viaSigs shouldBe viaText
      }
    }
  }

  test("minhash LSH finds the identical and near-dup pairs, not the unrelated one") {
    val out = Dedup.minHashNearDups(docs, k = 2, bands = 8, rowsPerBand = 2,
        threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    out should contain((0L, 1L))   // identical → jaccard 1.0
    out should contain((0L, 2L))   // near-dup → high jaccard
    out.flatMap(p => Set(p._1, p._2)) should not contain 3L
  }

  test("poly minhash LSH finds the identical and near-dup pairs, not the unrelated one") {
    val out = Dedup.polyMinHashNearDups(docs, k = 2, bands = 8, rowsPerBand = 2,
        threshold = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    out should contain((0L, 1L))   // identical → every lane equal → every band
    out should contain((0L, 2L))   // near-dup → high jaccard
    out.flatMap(p => Set(p._1, p._2)) should not contain 3L
  }

  test("poly and xxhash64 near-dup paths agree on every shared pair's jaccard") {
    // the verify stage is shared code — any pair BOTH families surface
    // must carry the identical exact-Jaccard value; the identical pair
    // is guaranteed surfaced by both (all lanes collide in any family)
    val xx = Dedup.minHashNearDups(docs, k = 2, bands = 8, rowsPerBand = 2,
        threshold = 0.3).as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val poly = Dedup.polyMinHashNearDups(docs, k = 2, bands = 8, rowsPerBand = 2,
        threshold = 0.3).as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    poly.keySet should contain((0L, 1L))
    xx.keySet should contain((0L, 1L))
    (poly.keySet intersect xx.keySet).foreach { p => poly(p) shouldBe xx(p) }
  }

  test("thresholdSweep: monotone counts, parity with the single-threshold operator") {
    val out = Dedup.thresholdSweep(docs, Seq(9000L, 5000L, 1L),
        k = 2, bands = 8, rowsPerBand = 2)
      .as[(Long, Long, Long)].collect()
    out.map(_._1).toSeq shouldBe Seq(1L, 5000L, 9000L)   // ascending
    // pair and drop counts are monotone non-increasing in the threshold
    out.map(_._2).toSeq shouldBe out.map(_._2).sortBy(-_).toSeq
    out.map(_._3).toSeq shouldBe out.map(_._3).sortBy(-_).toSeq
    // each sweep row equals the single-threshold operator run at that
    // cutoff — the sweep measuring a different pipeline than the dedup
    // applies is the bug this exists to catch
    out.foreach { case (t, nPairs, nDrop) =>
      val single = Dedup.polyMinHashNearDups(docs, k = 2, bands = 8,
        rowsPerBand = 2, threshold = t.toDouble / 10000.0)
      single.count() shouldBe nPairs
      single.select("b").distinct().count() shouldBe nDrop
    }
    an[IllegalArgumentException] should be thrownBy
      Dedup.thresholdSweep(docs, Seq.empty)
    an[IllegalArgumentException] should be thrownBy
      Dedup.thresholdSweep(docs, Seq(1L, 1L))
    an[IllegalArgumentException] should be thrownBy
      Dedup.thresholdSweep(docs, Seq(10001L))
  }

  test("polyEditNearDups: appended-token clone verifies as dup, rewrite does not") {
    // 0/1 identical (edits 0), 2 is one token changed ('join'→'batch' is
    // a 5-char edit window on a ~50-char doc → above a tight threshold),
    // 4 is 0 plus one appended token (3-char edit). Threshold 700 bp:
    // the clone and the identical pair verify, the rewrite is emitted
    // with dup=false — both branches in one output, pairs never dropped.
    val clone = Seq((4L, docs.where(col("doc_id") === 0)
      .select("text").as[String].head() + " zq")).toDF("doc_id", "text")
    val out = Dedup.polyEditNearDups(docs.unionAll(clone), k = 2, bands = 8,
        rowsPerBand = 2, maxRelBp = 700L)
      .select("a", "b", "edits", "dup").as[(Long, Long, Long, Boolean)]
      .collect().map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    out((0L, 1L)) shouldBe ((0L, true))
    out((0L, 4L)) shouldBe ((3L, true))   // ' zq' append
    out((1L, 4L)) shouldBe ((3L, true))
    out.keySet should contain((0L, 2L))   // banded candidate…
    out((0L, 2L))._2 shouldBe false       // …but fails the edit verify
    out.keySet.flatMap(p => Set(p._1, p._2)) should not contain 3L
  }

  test("editVerify rel_bp is round-half-up bp of edits over the longer text") {
    val d = Seq((1L, "abcd"), (2L, "abzd"), (3L, "abcdxy")).toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (1L, 3L)).toDF("a", "b")
    val out = Dedup.editVerify(d, cand, maxRelBp = 2500L,
        idCol = "doc_id", textCol = "text")
      .select("a", "b", "edits", "rel_bp", "dup")
      .as[(Long, Long, Long, Long, Boolean)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // levenshtein(abcd, abzd)=1, m=4 → (1·20000+4)//8 = 2500 (round-half-up
    // of 2500.0); levenshtein(abcd, abcdxy)=2, m=6 → (2·20000+6)//12 = 3333
    out((1L, 2L)) shouldBe ((1L, 2500L, true))
    out((1L, 3L)) shouldBe ((2L, 3333L, false))
  }

  test("polyEditNearDups is deterministic under input repartitioning") {
    val a = Dedup.polyEditNearDups(docs, maxRelBp = 700L)
      .orderBy("a", "b").collect().toSeq
    val b = Dedup.polyEditNearDups(docs.repartition(7), maxRelBp = 700L)
      .orderBy("a", "b").collect().toSeq
    a shouldBe b
  }

  test("polyMinHashContainDups: quote inclusion hits containment 1.0 while jaccard dilutes") {
    // doc 1 embeds ALL of doc 0 plus filler: every shingle of 0 is in
    // 1, so containment = 1.0 exactly while jaccard sinks with the
    // filler; doc 3 stays out of every bucket
    val short = "the fast key order sort table scan merge join group"
    val filler = "f1 f2 f3 f4 f5 f6"
    val docs2 = Seq(
      (0L, short),
      (1L, short + " " + filler),
      (2L, short),                                  // identical to 0
      (3L, "completely different words about nothing at all here now"))
      .toDF("doc_id", "text")
    val out = Dedup.polyMinHashContainDups(docs2, minContainment = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    out((0L, 2L)) shouldBe ((1.0, 1.0, true))
    val (jac, cont, contained) = out((0L, 1L))
    cont shouldBe 1.0
    contained shouldBe true
    jac should be < 0.7   // 10 shared shingles of 16 united = 0.625
    out.keySet.flatMap(p => Set(p._1, p._2)) should not contain 3L
  }

  test("simhash of identical docs is identical; near-dup within small hamming") {
    val sh = Dedup.simHash(docs).as[(Long, Long)].collect().toMap
    sh(0L) shouldBe sh(1L)
    java.lang.Long.bitCount(sh(0L) ^ sh(2L)) should be <= 16
    val pairs = Dedup.simHashNearDups(docs, maxHamming = 16)
      .select("a", "b").as[(Long, Long)].collect().toSet
    pairs should contain((0L, 1L))
  }

  test("polySimHashNearDups: identical docs pair at hamming 0, disjoint vocab stays out") {
    val pairs = Dedup.polySimHashNearDups(docs, maxHamming = 0)
      .as[(Long, Long, Long)].collect()
    pairs.map(p => (p._1, p._2)) should contain((0L, 1L)) // exact copies
    pairs.filter(p => (p._1, p._2) == ((0L, 1L))).head._3 shouldBe 0L
    // doc 3 is a disjoint vocabulary — a generous radius still excludes it
    val wide = Dedup.polySimHashNearDups(docs, maxHamming = 7)
      .select("a", "b").as[(Long, Long)].collect().toSet
    wide.exists(p => p._1 == 3L || p._2 == 3L) shouldBe false
    an[IllegalArgumentException] should be thrownBy
      Dedup.polySimHashNearDups(docs, maxHamming = 32)
  }

  test("quantizedEmbeddingNearDups: perturbed copy pairs, orthogonal stays out") {
    val base = (0 until 64).map(i => (i % 7 - 3) * 0.1).toArray
    val near = base.clone(); near(0) += 0.02; near(13) -= 0.02
    val ortho = (0 until 64).map(i => if (i % 2 == 0) 0.3 else -0.3).toArray
    val emb = Seq((0L, base.toSeq), (1L, near.toSeq), (2L, ortho.toSeq))
      .toDF("vec_id", "v")
      .select(col("vec_id"), col("v").cast("array<double>").as("v"))
    val out = Dedup.quantizedEmbeddingNearDups(emb, thresholdBp = 8100L,
        vecCol = "v")
      .as[(Long, Long, Long)].collect()
    out.map(p => (p._1, p._2)) shouldBe Array((0L, 1L))
    out.head._3 should be > 9000L // near-identical after quantization
    an[IllegalArgumentException] should be thrownBy
      Dedup.quantizedEmbeddingNearDups(emb, thresholdBp = 8100L,
        vecCol = "v", scale = 63) // not a power of two
  }

  test("semDedupQuantized: greedy min-id prune within planted-codebook cells") {
    val base = (0 until 64).map(i => (i % 7 - 3) * 0.1).toArray
    val near = base.clone(); near(0) += 0.02 // same cell, cos² ≈ 1 → dropped
    val far = (0 until 64).map(i => if (i % 2 == 0) 0.3 else -0.3).toArray
    val emb = Seq((0L, base.toSeq), (1L, near.toSeq), (2L, far.toSeq))
      .toDF("vec_id", "v")
      .select(col("vec_id"), col("v").cast("array<double>").as("v"))
    val cb = (0 until 8).map(k => (0 until 64).map(j =>
      (((k * 17 + j * 7) % 19) - 9) / 4.0))
    val out = Dedup.semDedupQuantized(emb, Seq(cb), thresholdBp = 8100L,
        vecCol = "v")
      .select("vec_id").as[Long].collect().toSet
    out should contain(0L)  // min id of the near pair survives
    out should not contain 1L
    out should contain(2L)  // dissimilar vector untouched
  }

  test("ngramJaccard computes exact overlap for given pairs") {
    val pairs = Seq((0L, 1L), (0L, 3L)).toDF("a", "b")
    val out = Dedup.ngramJaccard(docs, pairs, k = 2)
      .orderBy("b").as[(Long, Long, Double)].collect()
    out(0) shouldBe ((0L, 1L, 1.0))   // identical
    out(1)._3 shouldBe 0.0            // disjoint vocabularies
  }

  test("embeddingNearDups finds only pairs above the cosine threshold") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f)),   // ~same direction as 0
      (2L, Array(0.0f, 1.0f, 0.0f)))    // orthogonal
      .toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDups(emb, threshold = 0.9)
      .select("a", "b").as[(Long, Long)].collect().toSet
    out shouldBe Set((0L, 1L))
  }

  // Clustered fixture: 10 base directions × 10 noisy copies. True near-dup
  // pairs live inside clusters (cos ≥ 0.95); cross-cluster pairs are far.
  private def clusteredEmb = {
    val rnd = new scala.util.Random(7)
    val bases = Array.fill(10)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val data = for { c <- 0 until 10; i <- 0 until 10 } yield
      (c * 10L + i, bases(c).map(x => x + rnd.nextGaussian().toFloat * 0.05f))
    data.toDF("vec_id", "embedding")
  }

  test("embeddingNearDups (LSH-banded) recall vs exact all-pairs is high") {
    val emb = clusteredEmb
    val exact = Dedup.embeddingNearDupsExact(emb, threshold = 0.95)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingNearDups(emb, threshold = 0.95)
      .select("a", "b").as[(Long, Long)].collect().toSet
    exact should not be empty
    lsh.subsetOf(exact) shouldBe true // precision 1.0: exact re-score gate
    val recall = lsh.size.toDouble / exact.size
    recall should be >= 0.9
  }

  test("embeddingNearDups plan is an equi-join, not a nested-loop product") {
    val plan = Dedup.embeddingNearDups(clusteredEmb, threshold = 0.95)
      .queryExecution.executedPlan.toString
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
  }

  test("contamination scores the shingle overlap with a benchmark set") {
    // benchmark = doc 0's text; doc 1 identical (full contamination),
    // doc 2 near-dup (8 of 9 shingles shared), doc 3 disjoint
    val bench = docs.where(col("doc_id") === 0)
    val out = Dedup.contamination(docs, bench, k = 2)
      .orderBy("doc_id")
      .select("doc_id", "matched", "total", "contamination")
      .as[(Long, Long, Long, Double)].collect()
    out(0) shouldBe ((0L, 9L, 9L, 1.0))
    out(1) shouldBe ((1L, 9L, 9L, 1.0))
    out(2) shouldBe ((2L, 8L, 9L, 0.8889))
    out(3) shouldBe ((3L, 0L, 8L, 0.0)) // 9 words → 8 shingles, none shared
  }

  test("simHashNearDups(maxHamming = 0) finds exact matches beyond one bucket's cap") {
    // width = 64 made the old (1L << 64) - 1 mask 0 (Scala masks shift
    // counts mod 64): EVERY doc landed in one (0, 0) bucket and exact-dup
    // recall silently capped at maxBucket. With the -1L mask, distinct
    // hashes spread across buckets and identical ones still pair.
    val docs = ((0 until 300).map(i => (i.toLong, s"unique text number $i prose")) ++
      Seq((900L, "twin document body"), (901L, "twin document body")))
      .toDF("doc_id", "text")
    val out = Dedup.simHashNearDups(docs, maxHamming = 0, maxBucket = 8)
      .select("a", "b").as[(Long, Long)].collect()
    out should contain((900L, 901L))
    an[IllegalArgumentException] should be thrownBy
      Dedup.simHashNearDups(docs, maxHamming = -1)
  }

  test("embeddingNearDups tolerates a null vector in the dims-probe row") {
    // the dims probe reads the first-returned row; a null embedding there
    // crashed with a partition-order-dependent NPE
    val emb = Seq[(Long, Array[Float])](
      (1L, null),
      (2L, Array(1.0f, 0.0f)),
      (3L, Array(1.0f, 0.01f))).toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDups(emb, threshold = 0.9, bitsPerTable = 4)
      .select("a", "b").as[(Long, Long)].collect()
    out should contain((2L, 3L))
    // all-null corpus → empty result, not a crash
    Dedup.embeddingNearDups(
      Seq[(Long, Array[Float])]((1L, null)).toDF("vec_id", "embedding"),
      threshold = 0.9, bitsPerTable = 4).count() shouldBe 0L
  }

  test("bloomContamination returns exactly contamination's output (prefilter loses nothing)") {
    val bench = docs.where(col("doc_id") === 0)
    val exact = Dedup.contamination(docs, bench, k = 2).orderBy("doc_id")
      .select("doc_id", "matched", "total", "contamination")
      .as[(Long, Long, Long, Double)].collect()
    val viaBloom = Dedup.bloomContamination(docs, bench, k = 2).orderBy("doc_id")
      .select("doc_id", "matched", "total", "contamination")
      .as[(Long, Long, Long, Double)].collect()
    viaBloom shouldBe exact
    // tight bloom (high fpp → many false positives) still exact: the
    // verify join owns correctness, the bloom only owns the data volume
    val sloppy = Dedup.bloomContamination(docs, bench, k = 2, fpp = 0.5,
        expectedItems = 2L).orderBy("doc_id")
      .select("doc_id", "matched", "total", "contamination")
      .as[(Long, Long, Long, Double)].collect()
    sloppy shouldBe exact
  }

  test("bloomContamination plans the kernel probe below the verify join") {
    val bench = docs.where(col("doc_id") === 0)
    val plan = Dedup.bloomContamination(docs, bench, k = 2)
      .queryExecution.executedPlan.toString
    plan should include("graft_bloom_might_contain")
  }

  test("bloomContamination rejects a degenerate fpp") {
    an[IllegalArgumentException] should be thrownBy
      Dedup.bloomContamination(docs, docs, fpp = 0.0)
    an[IllegalArgumentException] should be thrownBy
      Dedup.bloomContamination(docs, docs, fpp = 1.0)
  }

  test("incrementalExact elects within the batch and drops corpus re-fetches") {
    val corpus = Seq((0L, "alpha text"), (1L, "beta text")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "gamma text"), // new content, one copy → kept
      (11L, "alpha text"), // re-fetch of corpus content → dropped
      (12L, "delta text"), // within-batch dup pair: 12 wins, 13 drops
      (13L, "delta text"),
      (14L, "beta text")) // another re-fetch → dropped
      .toDF("doc_id", "text")
    val out = Dedup.incrementalExact(batch, corpus)
      .select("keep_id", "dup_count").orderBy("keep_id")
      .as[(Long, Long)].collect()
    out shouldBe Array((10L, 1L), (12L, 2L))
  }

  test("incrementalExact equals the naive anti join even with a sloppy bloom") {
    // fpp 0.5 + undersized sketch floods the prefilter with false
    // positives; the exact anti join owns correctness, so the output
    // must not change — the bloom only owns the data volume
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val batch = docs.where(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 1000L).as("doc_id"), col("text"))
    val naive = Dedup.exact(batch).join(
        corpus.select(sha2(col("text"), 256).as("content_hash")),
        Seq("content_hash"), "left_anti")
      .orderBy("keep_id").as[(String, Long, Long)].collect()
    naive should not be empty // the planted overlap must actually discriminate
    Dedup.incrementalExact(batch, corpus).orderBy("keep_id")
      .as[(String, Long, Long)].collect() shouldBe naive
    Dedup.incrementalExact(batch, corpus, fpp = 0.5, expectedItems = 2L)
      .orderBy("keep_id").as[(String, Long, Long)].collect() shouldBe naive
  }

  test("incrementalNear drops near-dups and exact dups of the corpus, keeps fresh docs") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog today"),
      (1L, "pack my box with five dozen liquor jugs right now"))
      .toDF("doc_id", "text")
    val batch = Seq(
      // one word changed vs corpus 0 → near-dup, must drop
      (10L, "the quick brown fox leaps over the lazy dog today"),
      // exact copy of corpus 1 → jaccard 1.0, must drop
      (11L, "pack my box with five dozen liquor jugs right now"),
      // unrelated → must survive
      (12L, "completely different words entirely unrelated content appears here"))
      .toDF("doc_id", "text")
    val out = Dedup.incrementalNear(batch, corpus, k = 2, bands = 8,
      rowsPerBand = 2, threshold = 0.3)
    out.select("doc_id").as[Long].collect().toSet shouldBe Set(12L)
    // survivors come back as the batch's own rows, text intact
    out.columns shouldBe Array("doc_id", "text")
    // a stricter threshold than the near-pair's jaccard lets the
    // near-dup back through while the exact copy still drops
    Dedup.incrementalNear(batch, corpus, k = 2, bands = 8,
        rowsPerBand = 2, threshold = 0.95)
      .select("doc_id").as[Long].collect().toSet shouldBe Set(10L, 12L)
    // the poly family agrees on the planted clear-cut triple at both
    // thresholds (exact Jaccard decides; only candidate RECALL differs
    // between hash families, and these pairs band together under both)
    Dedup.incrementalNearPoly(batch, corpus, k = 2, bands = 8,
        rowsPerBand = 2, threshold = 0.3)
      .select("doc_id").as[Long].collect().toSet shouldBe Set(12L)
    Dedup.incrementalNearPoly(batch, corpus, k = 2, bands = 8,
        rowsPerBand = 2, threshold = 0.95)
      .select("doc_id").as[Long].collect().toSet shouldBe Set(10L, 12L)
  }

  test("incrementalExact plans the bloom probe on the corpus scan") {
    // a Range-backed frame: a LocalRelation corpus would let Catalyst
    // evaluate the probe at optimization time and elide it from the plan
    val ranged = spark.range(100).select(col("id").as("doc_id"),
      concat(lit("text "), col("id")).as("text"))
    val corpus = ranged.where(col("doc_id") % 2 === 0)
    val batch = ranged.where(col("doc_id") % 3 === 0)
    val plan = Dedup.incrementalExact(batch, corpus)
      .queryExecution.executedPlan.toString
    plan should include("graft_bloom_might_contain")
    an[IllegalArgumentException] should be thrownBy
      Dedup.incrementalExact(batch, corpus, fpp = 0.0)
  }

  test("semDedup keeps the min id of each within-cluster near-dup group") {
    // two tight direction-clusters plus an outlier; cos(1,2)=cos(1,3)=1
    // (scaled copies), cos(10,11)=1 — greedy min-id keeps 1, 10, 20
    val emb = Seq(
      (1L, Array(1.0f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(2.0f, 0.2f, 0.0f, 0.0f)),
      (3L, Array(4.0f, 0.4f, 0.0f, 0.0f)),
      (10L, Array(0.0f, 0.0f, 1.0f, 0.1f)),
      (11L, Array(0.0f, 0.0f, 3.0f, 0.3f)),
      (20L, Array(0.5f, -0.5f, 0.5f, -0.5f))).toDF("vec_id", "embedding")
    val kept = Dedup.semDedup(emb, threshold = 0.95, numClusters = 3)
      .select("vec_id").as[Long].collect().toSet
    kept shouldBe Set(1L, 10L, 20L)
  }

  test("semDedup greedy rule: a dropped doc still drops its own higher-id near-dups") {
    // chain within one cluster: cos(1,2) ≥ t, cos(2,3) ≥ t, cos(1,3) < t.
    // Greedy drops 2 (mate 1) AND 3 (mate 2, even though 2 is dropped) —
    // the paper's one-pass rule; transitive representatives are the
    // dupClusters composition.
    val a = Array(1.0f, 0.0f)
    val b = Array(math.cos(0.45).toFloat, math.sin(0.45).toFloat)
    val c = Array(math.cos(0.9).toFloat, math.sin(0.9).toFloat)
    // cos(a,b)=cos(b,c)=cos(0.45)≈0.90, cos(a,c)=cos(0.9)≈0.62
    val emb = Seq((1L, a), (2L, b), (3L, c)).toDF("vec_id", "embedding")
    val kept = Dedup.semDedup(emb, threshold = 0.85, numClusters = 1)
      .select("vec_id").as[Long].collect().toSet
    kept shouldBe Set(1L)
  }

  test("semDedup is deterministic under repartitioning") {
    val emb = spark.range(64).select(col("id").as("vec_id"),
      array((0 until 4).map(d => pmod(col("id") + d, lit(7)).cast("float") + 0.1f): _*)
        .as("embedding"))
    val once = Dedup.semDedup(emb, 0.9, numClusters = 4)
      .select("vec_id").as[Long].collect().toSet
    val again = Dedup.semDedup(emb.repartition(13), 0.9, numClusters = 4)
      .select("vec_id").as[Long].collect().toSet
    again shouldBe once
  }

  test("semDedup recall vs the exact all-pairs baseline on one cluster") {
    // with numClusters=1 every pair is in-cluster: the survivors must be
    // exactly the exact-baseline greedy survivors (no clustering loss)
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.14f, 0.0f)),
      (5L, Array(0.0f, 1.0f, 0.0f)),
      (6L, Array(0.0f, 0.99f, 0.14f))).toDF("vec_id", "embedding")
    val exactPairs = Dedup.embeddingNearDupsExact(emb, 0.95)
      .select("b").as[Long].collect().toSet
    val kept = Dedup.semDedup(emb, 0.95, numClusters = 1)
      .select("vec_id").as[Long].collect().toSet
    kept shouldBe Set(1L, 2L, 5L, 6L).diff(exactPairs)
  }

  test("autoBits follows clamp(ceil(log2(n)), 4, 24)") {
    Dedup.autoBits(0L) shouldBe 4        // degenerate corpora clamp low
    Dedup.autoBits(16L) shouldBe 4
    Dedup.autoBits(100L) shouldBe 7
    Dedup.autoBits(1L << 20) shouldBe 20
    Dedup.autoBits(1L << 40) shouldBe 24 // clamp high
  }

  test("bucketPairs caps hot buckets: a super-cluster degrades recall, not the job") {
    // 600 members sharing each of 2 band buckets — uncapped, each bucket
    // would buffer all 600 and explode ~180k pairs; the bounded-heap
    // collector keeps only the 32 smallest ids per bucket. Driven at the
    // bucketPairs stage directly: the composed minHashNearDups face cuts
    // its candidate frame with a localCheckpoint (r11 single-derivation
    // plan), which by design severs inline lineage — the cap metric's
    // home is the candidate-stage query, which is what this exercises.
    val banded = (0 until 600).flatMap(i => Seq((i.toLong, 0, 7L), (i.toLong, 1, 9L)))
      .toDF("doc_id", "band", "sig")
    val out = Dedup.bucketPairs(banded, Seq("band", "sig"), "doc_id", maxBucket = 32)
    // collect `out` itself — observedMetrics belong to the executed query
    val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1)))
    pairs.length should be <= 32 * 31 / 2
    pairs.length should be > 0 // recall degraded, not zeroed
    all(pairs.flatMap(p => Seq(p._1, p._2))) should be < 32L // smallest ids kept
    // the truncation is observable: both band buckets sat at the cap
    // (metric names carry a per-invocation sequence number — look up by
    // prefix so composed plans can define several)
    capMetric(out) should be >= 2L
  }

  test("bucketPairs cap metric reads zero on a well-bucketed corpus") {
    val banded = Seq((0L, 0, 1L), (1L, 0, 1L), (2L, 0, 2L), (3L, 1, 3L))
      .toDF("doc_id", "band", "sig")
    val out = Dedup.bucketPairs(banded, Seq("band", "sig"), "doc_id", maxBucket = 32)
    out.collect()
    capMetric(out) shouldBe 0L
  }

  test("two same-column bucketPairs invocations compose in one plan") {
    // the observe() names are sequence-numbered: without that, a union of
    // two band configs defined the same metric twice and failed analysis
    val coarse = Dedup.minHashNearDups(docs, k = 2, bands = 2, rowsPerBand = 4,
      threshold = 0.3)
    val fine = Dedup.minHashNearDups(docs, k = 2, bands = 8, rowsPerBand = 1,
      threshold = 0.3)
    noException should be thrownBy coarse.union(fine).collect()
  }

  private def capMetric(out: org.apache.spark.sql.DataFrame): Long =
    out.queryExecution.observedMetrics
      .collectFirst { case (n, r) if n.startsWith("graft_bucket_cap_band_sig") => r.getLong(0) }
      .get

  test("paragraphDedup keeps first global occurrence, reassembles in order") {
    val pdocs = Seq(
      (0L, "alpha one\n\nshared boilerplate\n\nalpha two"),
      (1L, "beta one\n\nshared boilerplate\n\nbeta two"),
      (2L, "shared boilerplate"), // every paragraph first seen elsewhere
      (3L, "gamma\n\ngamma"))     // intra-doc repeat: keep first copy only
      .toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(pdocs).orderBy("doc_id")
      .as[(Long, String, Long)].collect()
    out(0) shouldBe ((0L, "alpha one\n\nshared boilerplate\n\nalpha two", 3L))
    out(1) shouldBe ((1L, "beta one\n\nbeta two", 2L))
    out(2) shouldBe ((2L, "", 0L)) // survives as a row, empty text
    out(3) shouldBe ((3L, "gamma", 1L))
    // partition-invariance: winners are min (doc_id, idx) under any layout
    Dedup.paragraphDedup(pdocs.repartition(5)).orderBy("doc_id")
      .as[(Long, String, Long)].collect() shouldBe out
  }

  test("substringDedup removes a shared 60-token span everywhere but its first occurrence") {
    val span = (0 until 60).map(i => s"s$i").mkString(" ")
    val sdocs = Seq(
      (0L, s"intro zero $span outro zero"),
      (1L, s"one starts differently $span and ends differently"),
      (2L, span),                       // the span IS the doc → fully removed
      (3L, "unrelated words that never repeat anywhere at all"))
      .toDF("doc_id", "text")
    val out = Dedup.substringDedup(sdocs, k = 20).orderBy("doc_id")
      .as[(Long, String, Long)].collect()
    // doc 0 is the first (min doc_id) occurrence — untouched
    out(0) shouldBe ((0L, s"intro zero $span outro zero", 64L))
    // docs 1 and 2 lose the span: every k-window inside the span repeats
    // doc 0's, and the covering windows blanket all 60 positions
    out(1) shouldBe ((1L, "one starts differently and ends differently", 6L))
    out(2) shouldBe ((2L, "", 0L))
    out(3) shouldBe ((3L, "unrelated words that never repeat anywhere at all", 8L))
    // partition-invariance: winner is min (doc_id, start) under any layout
    Dedup.substringDedup(sdocs.repartition(5), k = 20).orderBy("doc_id")
      .as[(Long, String, Long)].collect() shouldBe out
  }

  test("substringDedup: a null-text doc survives as (\"\", 0), the pre-r21 outer-join parity") {
    val span = (0 until 20).map(i => s"n$i").mkString(" ")
    val sdocs = Seq((0L, span), (1L, null.asInstanceOf[String]), (2L, s"lead $span"))
      .toDF("doc_id", "text")
    val out = Dedup.substringDedup(sdocs, k = 20).orderBy("doc_id")
      .as[(Long, String, Long)].collect()
    out(1) shouldBe ((1L, "", 0L)) // null text never reads back as null
    out(0) shouldBe ((0L, span, 20L))
  }

  test("substringDedup dedups an intra-document repeat and ignores sub-k spans") {
    val span = (0 until 20).map(i => s"r$i").mkString(" ")
    val short = "tiny shared bit" // 3 tokens < k — never matched
    val sdocs = Seq(
      (0L, s"$span middle words $span"), // same 20-token span twice in one doc
      (1L, s"$short padding apple $short banana cherry"),
      (2L, "a b")) // shorter than k: no windows at all, passes through
      .toDF("doc_id", "text")
    val out = Dedup.substringDedup(sdocs, k = 20).orderBy("doc_id")
      .as[(Long, String, Long)].collect()
    out(0) shouldBe ((0L, s"$span middle words", 22L))
    out(1) shouldBe ((1L, s"$short padding apple $short banana cherry", 10L))
    out(2) shouldBe ((2L, "a b", 2L))
  }

  // ----- contaminationReport ------------------------------------------

  test("contaminationReport scores each BENCHMARK doc against the whole corpus") {
    // bench 100: every shingle from corpus doc 0 → 1.0; bench 101: one
    // of four shingles in the corpus → 0.25; bench 102: disjoint → 0.0
    val bench = Seq(
      (100L, "the fast key order sort"),
      (101L, "table scan zz1 zz2 zz3"),
      (102L, "qq1 qq2 qq3"))
      .toDF("doc_id", "text")
    val out = Dedup.contaminationReport(docs, bench, k = 2)
      .orderBy("doc_id")
      .select("doc_id", "matched", "total", "contamination")
      .as[(Long, Long, Long, Double)].collect()
    out shouldBe Array(
      (100L, 4L, 4L, 1.0),
      (101L, 1L, 4L, 0.25),
      (102L, 0L, 2L, 0.0))
  }

  test("contaminationReport matches against the corpus only, never benchmark-vs-benchmark") {
    // 'xx yy'/'yy zz' appear in BOTH benchmark docs but nowhere in the
    // corpus — a report that pooled benchmark shingles into the corpus
    // side would read 1.0 here
    val bench = Seq((200L, "xx yy zz"), (201L, "xx yy zz")).toDF("doc_id", "text")
    val out = Dedup.contaminationReport(docs, bench, k = 2)
      .select("contamination").as[Double].collect()
    out shouldBe Array(0.0, 0.0)
  }

  test("contaminationSweep counts survivors per threshold from the gate's own bp") {
    // corpus: 100 (4 tokens, all bigrams in bench → 10000bp),
    // 101 (4 tokens, 1 of 4 bigrams matched? compute: text 'aa bb qq rr'
    // vs bench 'aa bb cc': doc bigrams {aa bb, bb qq, qq rr}, bench
    // {aa bb, bb cc} → 1/3 → 3333bp), 102 (no overlap → 0bp)
    val corpus = Seq((100L, "aa bb cc dd"), (101L, "aa bb qq rr"),
      (102L, "xx yy zz ww")).toDF("doc_id", "text")
    val bench = Seq((0L, "aa bb cc")).toDF("doc_id", "text")
    val out = Dedup.contaminationSweep(corpus, bench,
        thresholds = Seq(0L, 3333L, 9999L, 10000L), k = 2)
      .orderBy("threshold")
      .as[(Long, Long, Long)].collect()
    // doc 100: bigrams {aa bb, bb cc, cc dd}, matched {aa bb, bb cc} →
    // 2/3 → 6667bp; tokens are 4 each
    out shouldBe Array((0L, 1L, 4L), (3333L, 2L, 8L), (9999L, 3L, 12L),
      (10000L, 3L, 12L))
    an[IllegalArgumentException] should be thrownBy
      Dedup.contaminationSweep(corpus, bench, Seq.empty)
    an[IllegalArgumentException] should be thrownBy
      Dedup.contaminationSweep(corpus, bench, Seq(1L, 1L))
  }

  test("contaminationSweep token override drives kept_tokens") {
    val corpus = Seq((1L, "aa bb"), (2L, "zz ww")).toDF("doc_id", "text")
    val bench = Seq((0L, "aa bb")).toDF("doc_id", "text")
    val out = Dedup.contaminationSweep(corpus, bench, Seq(5000L), k = 2,
        tokenCount = Some(lit(100L)))
      .as[(Long, Long, Long)].head()
    out shouldBe ((5000L, 1L, 100L))
  }

  test("duplicationBudget keeps the first maxCopies of each content group, ranked") {
    // content A ×4 (ids 10,11,12,13), B ×2 (20,21), C ×1 (30)
    val batch = Seq((10L, "aa"), (11L, "aa"), (12L, "aa"), (13L, "aa"),
      (20L, "bb"), (21L, "bb"), (30L, "cc")).toDF("doc_id", "text")
    val out = Dedup.duplicationBudget(batch, maxCopies = 2)
      .orderBy("doc_id").select("doc_id", "copy_rank")
      .as[(Long, Long)].collect()
    out shouldBe Array((10L, 1L), (11L, 2L), (20L, 1L), (21L, 2L), (30L, 1L))
  }

  test("duplicationBudget with maxCopies=1 elects exactly Dedup.exact's winners") {
    val batch = Seq((5L, "x"), (3L, "x"), (9L, "y"), (1L, "z"), (2L, "z"))
      .toDF("doc_id", "text")
    val budget = Dedup.duplicationBudget(batch, maxCopies = 1)
      .select("doc_id").as[Long].collect().sorted
    val exact = Dedup.exact(batch).select("keep_id").as[Long].collect().sorted
    budget shouldBe exact
  }

  test("duplicationBudget honors a caller order and stays partition-invariant") {
    // descending-id order via negation: the LAST two copies survive
    val batch = Seq((10L, "aa"), (11L, "aa"), (12L, "aa"), (20L, "bb"))
      .toDF("doc_id", "text")
    val out = Dedup.duplicationBudget(batch.repartition(5), maxCopies = 2,
        order = Seq((-col("doc_id")).as("__neg")))
      .select("doc_id", "copy_rank").orderBy("doc_id")
      .as[(Long, Long)].collect()
    // 12 ranks first, 11 second; 10 (rank 3) exceeds the budget
    out shouldBe Array((11L, 2L), (12L, 1L), (20L, 1L))
    an[IllegalArgumentException] should be thrownBy
      Dedup.duplicationBudget(batch, 0)
    an[IllegalArgumentException] should be thrownBy
      Dedup.duplicationBudget(
        batch.withColumn("copy_rank", lit(1L)), 2)
  }
}
