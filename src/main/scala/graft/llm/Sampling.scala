package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Cut.CutOps

/** Deterministic corpus sampling (training-data pipeline mandate; no
  * analog in the reference). Both ops are reproducible across runs,
  * retries and cluster sizes — `df.sample`'s partition-seeded RNG is not
  * (repartitioning reshuffles which rows the seed hits), which at 100 TB
  * means a retried stage can silently change the corpus.
  */
object Sampling {

  /** Seeded hash-Bernoulli sample: keep a row iff
    * `xxhash64(keys, seed) mod 1e6 < fraction·1e6`. A pure narrow filter —
    * pushes into the scan when `keys` are scan columns, no shuffle, and
    * membership depends only on the key values. The same (keys, seed)
    * always selects the same rows, so derived datasets (e.g. a held-out
    * split with the complementary predicate) stay consistent. */
  def bernoulli(df: DataFrame, fraction: Double, keys: Seq[Column],
                seed: Long = 42L): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction must be in [0, 1]")
    df.where(pmod(xxhash64((keys :+ lit(seed)): _*), lit(1000000L))
      < (fraction * 1000000L).toLong)
  }

  /** CONTENT-keyed Bernoulli sample: the keep decision hashes the text
    * itself — `((a·charPolyHash(text) + b) mod (2³¹−1)) mod 10⁶ <
    * fraction·10⁶` with the seeded affine pair `a = 2·(seed mod 2²⁰)+3`,
    * `b = 5·(seed mod 2²⁰)+7` (a < 2²¹ keeps every intermediate < 2⁵²,
    * ANSI-safe and DuckDB-BIGINT-exact, which is why the seed is folded
    * to 20 bits). Two properties [[bernoulli]] can't give: (1) exact
    * duplicates sample IDENTICALLY — a content-hash decision survives id
    * reassignment across re-crawls, so resampled snapshots stay
    * consistent row-for-row; (2) the whole decision is cross-engine
    * arithmetic, so downstream pipelines built on it stay oracle-gatable.
    * Same plan shape: one narrow pushable filter, no shuffle.
    *
    * Mixing caveat: an affine map of a polynomial hash keeps NEARBY
    * inputs nearby — a family of texts differing only in a trailing
    * counter lands in a narrow residue band and can sample at 0% or
    * 100% as a block (probed). Real corpus text varies enough (keep
    * rate 0.50–0.55 at fraction 0.5 tri-scale); for id-like or
    * templated keys use the xxhash64 [[bernoulli]], whose avalanche
    * has no such bands. */
  def bernoulliContent(df: DataFrame, fraction: Double,
                       textCol: String = "text", seed: Long = 42L): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction must be in [0, 1]")
    val s = java.lang.Math.floorMod(seed, 1048576L)
    val a = 2L * s + 3L
    val b = 5L * s + 7L
    df.where(
      ((graft.functions.CharPolyHash(col(textCol)) * a + b) % 2147483647L)
        % 1000000L < (fraction * 1000000L).toLong)
  }

  /** Stratified cap: at most `n` rows per `keys` group, chosen as the
    * first `n` under `order` — the "≤ N documents per (source, lang)"
    * balancing step of corpus curation. Delegates to the bounded-heap
    * per-group top-k (k rows per key per map task shuffle), NOT a window
    * row_number, which would sort every group in full. Pass a hash column
    * as `order` for an unbiased cap; a real column for a ranked cap.
    * Output columns are `keys ++ order` (the heap carries the order
    * struct); append payload columns to `order`'s tail — they ride along
    * without affecting selection when the prefix is already unique. */
  def capPerGroup(df: DataFrame, keys: Seq[Column], n: Int,
                  order: Seq[Column]): DataFrame =
    graft.relational.TopK.topKPerGroup(df, keys, order, n)

  /** Source-weighted mixture sampling — the "40 % web, 30 % code, …"
    * recipe step of training-data assembly: each stratum keeps a
    * deterministic fraction of its rows. `rates` maps a stratum value to
    * its keep-fraction; strata not listed are dropped (an unlisted
    * source must never leak into a weighed mixture). The keep decision
    * is a pure narrow filter on `(id · 2654435761) mod 10⁴ < rate·10⁴`
    * (Knuth's multiplicative constant; odd and coprime to 10⁴, so
    * consecutive ids sweep all residues uniformly), computed in REDUCED
    * residues: 2654435761 ≡ 5761 (mod 10⁴), so `(id mod 10⁴) · 5761
    * mod 10⁴` selects bit-identically — and its largest intermediate is
    * 9999 · 5761 < 2²⁶, where the naive product wraps Long past ids
    * ~3.47·10⁹ (an ANSI-mode crash at exactly the id spaces a corpus
    * recipe runs over). Codegen'd, pushable into the scan, retry-stable,
    * and expressible in ANSI SQL so the whole mixture is oracle-gated
    * end-to-end. For adversarial/clustered id spaces use [[bernoulli]]'s
    * xxhash64 per stratum instead; the rate plumbing here is the
    * operator, the lattice hash is the cross-engine-exact selector. */
  def mixture(df: DataFrame, rates: Map[String, Double],
              idCol: String = "doc_id",
              stratumCol: String = "source"): DataFrame = {
    require(rates.nonEmpty, "mixture needs at least one stratum rate")
    require(rates.values.forall(r => r >= 0.0 && r <= 1.0),
      "rates must be fractions in [0, 1]")
    val bp = rates.map { case (s, r) => s -> math.round(r * 10000).toInt }
    val rateCol = bp.foldLeft(lit(-1)) { case (acc, (s, b)) =>
      when(col(stratumCol) === s, lit(b)).otherwise(acc)
    }
    df.where(
      pmod(pmod(col(idCol).cast("long"), lit(10000L)) * 5761L, lit(10000L)) < rateCol)
  }

  /** The reduced-residue lattice hash shared by [[mixture]], [[split]]
    * and [[reweight]]: `(id mod 10⁴)·5761 mod 10⁴` — bit-identical to
    * `(id·2654435761) mod 10⁴` (Knuth's constant reduced mod 10⁴) with a
    * largest intermediate of 9999·5761 < 2²⁶, so it is ANSI-overflow-free
    * at any id and replayable in any SQL engine. */
  def latticeResidue(id: Column): Column =
    pmod(pmod(id.cast("long"), lit(10000L)) * 5761L, lit(10000L))

  /** [[split]]'s lattice: same construction as [[latticeResidue]] but
    * over the PRIME modulus 10007 with multiplier 4871 — coprime to the
    * mixture/reweight modulus 10⁴, which is what makes the two residues
    * jointly equidistributed (CRT): a row's split band is statistically
    * independent of whether the mixture/reweight residue kept it.
    * Largest intermediate 10006·4871 < 2²⁶ — ANSI-safe at any id. */
  val SplitModulus = 10007L
  private val splitMultiplier = 4871L

  /** Deterministic train/val/test split: every row gets a `split` label
    * from contiguous residue bands of a SECOND lattice hash —
    * `fractions` lists (label, fraction) in band order, fractions
    * summing to 1 (the LAST band absorbs rounding so the assignment is
    * total). A pure narrow projection — no shuffle, no RNG: the same id
    * lands in the same split across runs, retries, cluster sizes and
    * engine versions, which is what makes a held-out set trustworthy at
    * 100 TB (`df.randomSplit`'s partition-seeded RNG is none of those).
    *
    * The split lattice runs over the prime modulus [[SplitModulus]],
    * COPRIME to [[mixture]]/[[reweight]]'s 10⁴ — deliberately: with the
    * same lattice, the survivors of a rate-R stratum all have residues
    * below R·10⁴ and land 100 % in the first band, silently destroying
    * the held-out sets (caught in round-7 review; spec-pinned). With
    * coprime moduli the band proportions hold WITHIN any
    * mixture/reweight survivor set, so recipe → split composes in
    * either order. A row's split also never depends on which other rows
    * survived upstream filters. */
  def split(df: DataFrame, fractions: Seq[(String, Double)],
            idCol: String = "doc_id"): DataFrame = {
    require(!df.columns.contains("split"),
      "split writes a 'split' column; input already has one — rename it first")
    require(fractions.nonEmpty, "split needs at least one band")
    require(fractions.forall(_._2 >= 0.0), "fractions must be non-negative")
    val sum = fractions.map(_._2).sum
    require(math.abs(sum - 1.0) < 1e-9, s"fractions must sum to 1, got $sum")
    val cuts = fractions.init
      .scanLeft(0L) { case (acc, (_, f)) => acc + math.round(f * SplitModulus) }
      .tail // cumulative upper bounds for all bands but the last
    val res = pmod(
      pmod(col(idCol).cast("long"), lit(SplitModulus)) * splitMultiplier,
      lit(SplitModulus))
    val label = fractions.init.zip(cuts).reverse
      .foldLeft(lit(fractions.last._1)) { case (acc, ((name, _), cut)) =>
        when(res < cut, lit(name)).otherwise(acc)
      }
    df.withColumn("split", label)
  }

  /** Token-budget sampling — the "take ~50 B tokens from each source"
    * assembly step: within each stratum, documents are taken in
    * deterministic [[Packing.shuffleHash]] order (an unbiased hash
    * order — id order would correlate the sample with crawl time; the
    * FINE-GRAINED prime lattice, not the coarse mod-10⁴ [[latticeResidue]],
    * because the budget boundary falls inside one residue class and with
    * only 10⁴ classes a billion-doc stratum would degrade to id order
    * exactly there) until the cumulative token count reaches
    * `budgetTokens`. A document straddling the budget boundary is KEPT —
    * the same start-offset discipline as [[Packing.packShards]]:
    * selection depends on where a document STARTS, so the realized total
    * overshoots by less than one document and a stratum with fewer than
    * `budgetTokens` tokens survives whole. The shuffle modulus is prime
    * (coprime to both recipe lattices), so budget sampling composes with
    * [[mixture]]/[[reweight]]/[[split]] without correlation. Deterministic,
    * retry-stable, and integer arithmetic end-to-end (oracle-gated).
    *
    * Plan shape: one narrow token-count projection, then a per-stratum
    * running-sum window ordered by (residue, id) — [[Packing]]'s sizing
    * rule applies verbatim (the prefix sum serializes per stratum; pack
    * per (source, dt-bucket) when one stratum dominates). When exact
    * greedy selection isn't required, the window is avoidable entirely:
    * derive a keep-RATE `budget/Σtokens` per stratum ([[reweight]]'s
    * two-scan shape) and filter on the residue — approximate budget, no
    * window. This operator is the exact variant.
    *
    * `tokenCount` overrides the budget metric (default [[TextStats.WsRun]]
    * run count) — pass [[TextStats.bpeTokenCount]] for subword-faithful
    * budgets, same contract as [[Packing.packShards]]. */
  def tokenBudget(df: DataFrame, budgetTokens: Long,
                  partitionCols: Seq[String] = Seq("source"),
                  idCol: String = "doc_id",
                  textCol: String = "text",
                  tokenCount: Option[Column] = None): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    require(!df.columns.contains("n_tokens"),
      "tokenBudget writes an 'n_tokens' column; input already has one — rename it first")
    val w = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(Packing.shuffleHash(col(idCol)), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("n_tokens",
        tokenCount.getOrElse(size(org.apache.spark.sql.functions
          .split(col(textCol), TextStats.WsRun)).cast("long")))
      .withColumn("__start", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .where(col("__start") < budgetTokens)
      .drop("__start")
  }

  /** UniMax mixture (Chung et al. 2023, "UniMax: Fairer and More
    * Effective Language Sampling for Large-Scale Multilingual
    * Pretraining"): spread a token budget across strata as uniformly as
    * possible, capping every stratum at `maxEpochs` passes over its own
    * data — the epoch-capped water-filling that keeps low-resource
    * strata from being over-repeated and high-resource strata from
    * swallowing the budget. Budget `T = total_tokens · budgetBp / 10⁴`
    * (basis points of the RAW corpus token total, so one recipe scales
    * with the corpus; > 10⁴ oversamples deliberately).
    *
    * Allocation (exact integer water-filling, single closed-form pass —
    * no driver loop): strata ascending by capacity `cap = tokens·E`
    * (ties by name); at rank i, `share = (T − prefix) div (S − i + 1)`;
    * a stratum with `cap ≤ share` is EXHAUSTED (gets its full cap); the
    * first non-exhausted rank's share is the water level — every
    * non-exhausted stratum gets exactly that. Exhaustion is
    * prefix-closed under integer division (`cap_i > share_i` forces
    * `share_{i+1} < cap_i ≤ cap_{i+1}`), so the one-pass rule IS the
    * fixpoint; division remainders leave < S − i* + 1 tokens of the
    * budget unspent, by design.
    *
    * Application: each stratum's allocation becomes `full = alloc div
    * tokens` whole epochs plus a partial-epoch greedy prefix in
    * [[Packing.shuffleHash]] order ([[tokenBudget]]'s start-offset
    * discipline: a doc is in the partial epoch iff its running start
    * precedes `alloc − full·tokens`). Output: one row per (doc,
    * epoch) — `(idCol, stratumCol, n_tokens, epoch)` plus any
    * `carryCols` (the composition face: [[graft.llm.Curation.selectFull]]
    * carries text through to the manifest), epochs 0-based,
    * every doc of an exhausted stratum appearing exactly `maxEpochs`
    * times. Deterministic, integer-exact, oracle-replayable end to end.
    *
    * Plan shape for 100 TB: one narrow token projection, a map-side-
    * combined groupBy onto |strata| rows, the water-filling on that tiny
    * frame (the only single-partition window is STRATA-domain-sized —
    * the histogram discipline), the plan broadcast back, and
    * [[tokenBudget]]'s per-stratum running-sum window (the packing
    * sizing rule applies). The epoch explode amplifies rows only by the
    * epochs actually allocated, bounded by `maxEpochs`. Overflow:
    * `total_tokens · budgetBp` ≤ 2.5e13·10⁵ < 2⁶³ at 100 TB. */
  def unimax(df: DataFrame, budgetBp: Long, maxEpochs: Int,
             stratumCol: String = "source", idCol: String = "doc_id",
             textCol: String = "text",
             tokenCount: Option[Column] = None,
             carryCols: Seq[String] = Nil): DataFrame = {
    require(budgetBp > 0, s"budgetBp must be positive, got $budgetBp")
    carryCols.foreach(c => require(df.columns.contains(c),
      s"unimax carryCols references '$c', not an input column"))
    require(maxEpochs >= 1 && maxEpochs <= 1000,
      s"maxEpochs must be in [1, 1000], got $maxEpochs")
    Seq("n_tokens", "epoch").foreach(c => require(!df.columns.contains(c),
      s"unimax writes an '$c' column; input already has one — rename it first"))
    val intDiv = graft.functions.VectorFunctions.intDiv _
    val nt = df.withColumn("n_tokens",
      tokenCount.getOrElse(size(org.apache.spark.sql.functions
        .split(col(textCol), TextStats.WsRun)).cast("long")))
    // the |strata| frame feeds FOUR consumers (totals, ranked, star,
    // plan) — without a cut each would re-derive it from the corpus
    // (5 scans measured in the round-9 plan audit); the lazy
    // localCheckpoint materializes the tiny frame once (multi-consumer
    // rule; no lineage after the cut, by design)
    val strata = nt.groupBy(stratumCol).agg(sum("n_tokens").as("__tok"))
      .cut()
    val totals = strata.agg(sum("__tok").as("__tt"), count(lit(1)).as("__ns"))
    val w1 = Window.orderBy(col("__cap"), col(stratumCol))
    val ranked = strata
      .withColumn("__cap", col("__tok") * maxEpochs)
      .crossJoin(broadcast(totals))
      .withColumn("__T", intDiv(col("__tt") * budgetBp, lit(10000L)))
      .withColumn("__i", row_number().over(w1).cast("long"))
      .withColumn("__pre", coalesce(
        sum(col("__cap")).over(w1.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("__share",
        intDiv(col("__T") - col("__pre"), col("__ns") - col("__i") + 1))
      .withColumn("__exh", col("__cap") <= col("__share"))
    val star = ranked
      .agg(min(when(!col("__exh"), struct(col("__i"), col("__share")))).as("__m"))
      .select(coalesce(col("__m.__share"), lit(0L)).as("__star"))
    val plan = ranked.crossJoin(broadcast(star))
      .withColumn("__alloc", when(col("__exh"), col("__cap")).otherwise(col("__star")))
      .withColumn("__full", when(col("__tok") > 0,
        intDiv(col("__alloc"), col("__tok"))).otherwise(lit(0L)))
      .withColumn("__part", col("__alloc") - col("__full") * col("__tok"))
      .select(col(stratumCol), col("__full"), col("__part"))
    val w2 = Window.partitionBy(stratumCol)
      .orderBy(Packing.shuffleHash(col(idCol)), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nt.join(broadcast(plan), Seq(stratumCol))
      .withColumn("__start", sum(col("n_tokens")).over(w2) - col("n_tokens"))
      .withColumn("__napp", col("__full") +
        when(col("__start") < col("__part"), 1L).otherwise(0L))
      .where(col("__napp") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("__napp") - 1)))
      .select(Seq(col(idCol), col(stratumCol), col("n_tokens"), col("epoch")) ++
        carryCols.map(col): _*)
  }

  /** Downsample-only rebalancing toward a target mixture — the "make the
    * corpus 60 % web / 30 % code / 10 % wiki" assembly step when the raw
    * strata DON'T already have those proportions (where [[mixture]] takes
    * explicit per-stratum rates, reweight DERIVES them from the data).
    * `target` maps stratum → proportion (summing to 1); strata not listed
    * are dropped. The realized corpus is the LARGEST achievable under
    * downsampling: feasible total `T = min_s floor(nₛ·10⁴ / pₛ_bp)`, per-
    * stratum keep-rate `rₛ_bp = min(10⁴, floor(pₛ_bp·T / nₛ))`, rows kept
    * by `latticeResidue(id) < rₛ_bp`. The min ranges over the TARGET
    * strata: a listed stratum with zero input rows (a typo'd name, a
    * missing source) makes T = 0 and the output EMPTY — a recipe whose
    * mixture cannot be realized fails loudly rather than silently
    * ignoring one constraint.
    *
    * Plan shape: one map-side-combined `groupBy(stratum).count()` (rows
    * shrink to |strata| before the exchange), the rate arithmetic on that
    * tiny table (numerator widened to DECIMAL(38,0) — `pₛ_bp·T` passes
    * Long at trillion-row strata), then a BROADCAST join of the rates
    * back onto the corpus feeding a narrow residue filter. The 100 TB
    * side is scanned once and never shuffled. Rates are basis-point
    * granular, so realized proportions track the target to ~1e-4 — the
    * hash-rate contract [[mixture]] documents; an exact-count variant is
    * `capPerGroup(df, stratum, kₛ, order = residue)` at the cost of a
    * per-stratum shuffle. */
  def reweight(df: DataFrame, target: Map[String, Double],
               idCol: String = "doc_id",
               stratumCol: String = "source"): DataFrame =
    reweightBy(df, target, lit(1L), idCol, stratumCol)

  /** [[reweight]] with the target proportions read as TOKEN shares, not
    * row shares — the form mixture recipes are actually written in
    * ("60 % of TOKENS from web"): per-stratum mass is the token sum, the
    * feasibility scan and rates run on token mass, and the keep decision
    * stays the per-row lattice filter. Realized token share therefore
    * tracks the target in EXPECTATION (rows are hash-sampled uniformly
    * within a stratum, so kept-token mass ≈ rate·tokens with sampling
    * noise from length variance — the hash-rate contract [[mixture]]
    * documents, on the token metric); for exact-to-the-document token
    * totals use [[tokenBudget]] with per-stratum budgets derived from
    * the same proportions. `tokenCount` overrides the metric (pass
    * [[graft.llm.TextStats.bpeTokenCount]] for subword-faithful
    * shares). Plan shape identical to [[reweight]]: one
    * map-side-combined sum per stratum, broadcast rates, narrow residue
    * filter — the corpus never shuffles. */
  def reweightTokens(df: DataFrame, target: Map[String, Double],
                     idCol: String = "doc_id",
                     stratumCol: String = "source",
                     textCol: String = "text",
                     tokenCount: Option[Column] = None): DataFrame =
    reweightBy(df, target,
      tokenCount.getOrElse(size(org.apache.spark.sql.functions
        .split(col(textCol), TextStats.WsRun)).cast("long")),
      idCol, stratumCol)

  private def reweightBy(df: DataFrame, target: Map[String, Double],
                         mass: Column, idCol: String,
                         stratumCol: String): DataFrame = {
    require(target.nonEmpty, "reweight needs at least one target stratum")
    require(target.values.forall(p => p > 0.0 && p <= 1.0),
      "target proportions must be in (0, 1]")
    val sum = target.values.sum
    require(math.abs(sum - 1.0) < 1e-9, s"target proportions must sum to 1, got $sum")
    val pBp = target.map { case (s, p) => s -> math.round(p * 10000) }
    // a proportion below half a basis point rounds to pBp = 0, which
    // would divide-by-zero the feasibility scan (null under non-ANSI —
    // the stratum silently drops out of the min; a crash under ANSI)
    require(pBp.values.forall(_ >= 1L),
      "target proportions below 0.00005 are under the lattice granularity — " +
        "merge the stratum or coarsen the recipe")
    val intDiv = graft.functions.VectorFunctions.intDiv _
    // anchor the feasibility scan on the TARGET list, not the observed
    // strata: a target stratum with zero input mass must drive T to 0
    // (an empty feasible corpus — its proportion is unsatisfiable), not
    // silently drop out of the min and skew the realized mixture
    // (round-7 review catch, spec-pinned)
    import df.sparkSession.implicits._
    val targets = pBp.toSeq.toDF(stratumCol, "__pbp")
    val counts = targets
      .join(df.groupBy(col(stratumCol))
          .agg(org.apache.spark.sql.functions.sum(mass).as("__n")),
        Seq(stratumCol), "left")
      .select(col(stratumCol), col("__pbp"), coalesce(col("__n"), lit(0L)).as("__n"))
    // feasibility T = min over the target strata, taken as a WINDOW over
    // the counts frame rather than a separate agg: the old
    // `counts.agg(min) crossJoin counts` consumed counts TWICE, and since
    // counts' lineage is the full input, the corpus derived twice on the
    // rates side alone (3 derivations per action incl. the keep filter —
    // 6 scans on llm_assemble's dedup chain). The global window runs
    // single-partition over ≤|target| rows — the tiny-frame WindowExec
    // pattern (unimax), not a corpus sort. T is computed over ALL target
    // rows (zero-mass strata drive T to 0) BEFORE the __n > 0 filter,
    // exactly as the agg formulation did.
    val allStrata = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val rates = counts
      .withColumn("__t", min(intDiv(col("__n") * 10000L, col("__pbp")))
        .over(allStrata))
      .where(col("__n") > 0)
      .select(col(stratumCol),
        least(lit(10000L),
          intDiv(col("__pbp").cast("decimal(38,0)") * col("__t"), col("__n"))
            .cast("long")).as("__rate"))
    df.join(broadcast(rates), stratumCol)
      .where(latticeResidue(col(idCol)) < col("__rate"))
      .drop("__rate")
  }

  /** [[scoreWeighted]]'s lattice: prime modulus 9973 with multiplier
    * 7919 — coprime to [[mixture]]/[[reweight]]'s 10⁴, [[split]]'s
    * 10007 and [[graft.llm.Packing.shuffleHash]]'s primes, so a row's
    * score-sampling fate is jointly equidistributed (CRT) with every
    * other recipe lattice and the operators compose in any order.
    * Largest intermediate 9972·7919 < 2²⁷ — ANSI-safe at any id. */
  val ScoreModulus = 9973L
  private val scoreMultiplier = 7919L

  /** Score-proportional (temperature) sampling — the classifier-weighted
    * keep step of quality-filtered corpus assembly (the GPT-3/LLaMA
    * "sample in proportion to the quality score" recipe, made
    * deterministic): each row survives with probability
    * `(score/10⁴)^temperature`, decided by its OWN id's lattice residue,
    * never an RNG. Where [[mixture]]/[[reweight]] rate whole strata and
    * a hard classifier gate rates every doc 0-or-1, this grades the
    * keep-rate per document: temperature 1 is score-proportional,
    * higher temperatures sharpen toward high-scoring docs (a doc at
    * 0.5 quality survives at 0.5, 0.25, 0.125 for t = 1, 2, 3).
    *
    * `scoreBp` is any integer basis-point column (0..10⁴ — e.g.
    * [[TextStats.qualityCol]] or a [[Classifier]] score); values are
    * clamped to the range, so 10⁴ always keeps and ≤0 always drops.
    * The keep rule compares integers exactly — `res·10^(4t) <
    * M·score^t` — so it is retry-stable, upstream-filter-stable and
    * replayable in ANSI SQL (oracle-gated); `temperature ≤ 3` keeps the
    * largest intermediate (≲10¹⁶) inside Long for both engines. Per
    * row the rule is monotone in score: raising a doc's score can only
    * flip it drop→keep (spec-pinned).
    *
    * Scale shape: one narrow codegen'd filter over (id, score) — no
    * shuffle, no state; when `scoreBp` is a stored column the predicate
    * pushes into the scan. */
  /** One DoReMi-style domain-reweighting step (Xie et al. 2023's
    * Group-DRO update, the engine-side arithmetic): given a per-row
    * domain, a mass column (the base-weight numerator — token counts)
    * and a loss-proxy column, emit per domain the base weight, the
    * clamped excess loss over the corpus mean, and the multiplicative-
    * weights update `w'_d ∝ w_d · (10⁴ + excess_d div etaDiv)` followed
    * by uniform smoothing `w''_d = ((10⁴−s)·w'_d + s·(10⁴ div n)) div
    * 10⁴` — the LINEARIZED Hedge factor (1 + η·excess), so every step
    * is exact int64 and any ANSI engine replays it bit-for-bit (a true
    * exp update would leave the cross-engine-exact class). The proxy
    * losses are the caller's: real DoReMi feeds proxy-model excess
    * losses; the engine owns the accounting and the update.
    *
    * Shape for 100 TB: ONE corpus-sized exchange (the domain
    * aggregate); the |domains|-row result is checkpoint-cut (it feeds
    * the totals aggregate AND the update join — uncut, each consumer
    * re-runs the corpus pass), totals ride 1-row broadcast cross
    * joins, and domains are codebook-bounded (driver-count `require`,
    * same discipline as hostRank/MMR). Weights in [0,10⁴] with f ≤
    * 10⁴ + 10⁸ div etaDiv keep every product under 2⁶³. */
  def doremiStep(df: DataFrame, domain: Column, mass: Column,
                 lossNum: Column, etaDiv: Long = 100L,
                 smoothBp: Long = 1000L, maxDomains: Int = 4096): DataFrame = {
    require(etaDiv >= 1L, s"etaDiv must be >= 1, got $etaDiv")
    require(smoothBp >= 0L && smoothBp <= 10000L,
      s"smoothBp must be in [0,10000], got $smoothBp")
    val intDiv = graft.functions.VectorFunctions.intDiv _
    val d = df
      .groupBy(domain.as("domain"))
      .agg(count(lit(1)).as("docs"),
        sum(mass.cast("long")).cast("long").as("__m"),
        sum(lossNum.cast("long")).cast("long").as("__ln"))
      .cut()
    // one head over the cut frame yields BOTH driver-side guards: the
    // domain bound and the int64 contract the scaladoc promises —
    // factor ≤ 10⁴ + 10⁸ div etaDiv requires per-domain mean loss_fp
    // ≤ 10⁸ (per-doc lossNum average ≤ 10⁴); previously documented but
    // unenforced, so a caller feeding large loss numerators silently
    // overflowed the w_base_bp·factor·10⁴ lane instead of failing fast
    val hd = d.agg(count(lit(1)).cast("long").as("n"),
      max(intDiv(col("__ln") * 10000L, col("docs"))).as("maxLoss")).head()
    val n = hd.getLong(0)
    require(n > 0 && n <= maxDomains,
      s"doremiStep expects a bounded domain set (1..$maxDomains), got $n")
    val maxLossFp = hd.getLong(1)
    require(maxLossFp <= 100000000L,
      s"doremiStep int64 contract: per-domain mean loss (fixed-point) must be" +
        s" <= 10^8 — i.e. per-doc lossNum averages <= 10^4 — got $maxLossFp;" +
        s" rescale the loss proxy upstream")
    val g = d.agg(sum(col("docs")).cast("long").as("__td"),
      sum(col("__m")).cast("long").as("__tm"),
      sum(col("__ln")).cast("long").as("__tl"))
    val s = d.crossJoin(broadcast(g))
      .withColumn("w_base_bp", intDiv(col("__m") * 10000L, col("__tm")))
      .withColumn("loss_fp", intDiv(col("__ln") * 10000L, col("docs")))
      .withColumn("excess_fp", greatest(lit(0L),
        col("loss_fp") - intDiv(col("__tl") * 10000L, col("__td"))))
      .withColumn("__un",
        col("w_base_bp") * (lit(10000L) + intDiv(col("excess_fp"), lit(etaDiv))))
    val t = s.agg(sum(col("__un")).cast("long").as("__tun"))
    s.crossJoin(broadcast(t))
      .withColumn("w_new_bp", intDiv(col("__un") * 10000L, col("__tun")))
      .select(col("domain"), col("docs"), col("__m").as("mass"),
        col("w_base_bp"), col("loss_fp"), col("excess_fp"), col("w_new_bp"),
        intDiv(lit(10000L - smoothBp) * col("w_new_bp") +
          lit(smoothBp * (10000L / n)), lit(10000L)).as("w_smooth_bp"))
      .orderBy(col("domain"))
  }

  def scoreWeighted(df: DataFrame, scoreBp: Column, temperature: Int = 1,
                    idCol: String = "doc_id"): DataFrame = {
    require(temperature >= 1 && temperature <= 3,
      "temperature must be in 1..3 (the integer-exact Long range)")
    val s = greatest(lit(0L), least(lit(10000L), scoreBp.cast("long")))
    val res = pmod(
      pmod(col(idCol).cast("long"), lit(ScoreModulus)) * scoreMultiplier,
      lit(ScoreModulus))
    val lhs = res * lit(Seq.fill(temperature)(10000L).product)
    val rhs = Seq.fill(temperature)(s).reduce(_ * _) * lit(ScoreModulus)
    df.where(lhs < rhs)
  }
}
