package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Cut.CutOps

/** Text-analysis operators for training-data pipelines (SURVEY §2.9 L4 +
  * builder-prompt mandate): language-ID heuristic, quality scoring, token
  * counting, document fingerprinting. All codegen'd Column expressions —
  * no UDFs — so they run inside whole-stage codegen over 100 TB scans.
  */
object TextStats {

  /** Deterministic per-language marker-token profiles. The fixture corpus
    * draws from one shared vocabulary, so these are structural stand-ins:
    * the operator shape (score per profile → argmax) is what matters. */
  val profiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("key", "row", "merge"),
    "en" -> Seq("the", "fast", "scan"),
    "es" -> Seq("table", "value", "sort"),
    "fr" -> Seq("hash", "order", "part"),
    "zh" -> Seq("batch", "agg", "slow"))

  private def toks(textCol: Column): Column = split(textCol, " ")

  /** Whitespace-run regex, spelled as an EXPLICIT character class rather
    * than `\s+`: Java's `\s` includes U+000B (vertical tab) while
    * RE2/DuckDB's does not, so `\s+` silently diverges on a document
    * containing \x0B. Listing the six characters (space, tab, LF, VT,
    * FF, CR) — with VT as `\x0B`, a hex escape both dialects accept —
    * keeps the Java∩RE2 byte-for-byte claim true. The DuckDB oracle
    * side uses the same literal: `[ \t\n\x0B\f\r]+`. */
  val WsRun: String = "[ \\t\\n\\x0B\\f\\r]+"

  /** Count of tokens belonging to a marker set (occurrences, not
    * distinct) — the narrow [[graft.functions.CountTokensIn]] kernel
    * (hash-set probe in codegen; the filter-HOF form it replaces ran the
    * membership lambda interpreted, per token). */
  def profileHits(textCol: Column, markers: Seq[String]): Column =
    graft.functions.CountTokensIn(toks(textCol), markers)

  /** Language-ID: per-profile occurrence scores plus the argmax language
    * (ties broken by language code, ascending — deterministic). Every
    * incoming column except the text body is kept, so no id column needs
    * naming. */
  def langId(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val reserved = profiles.map { case (l, _) => s"score_$l" } :+ "pred_lang"
    require(!docs.columns.exists(reserved.contains),
      s"langId writes ${reserved.mkString("/")}; input already has one — rename it first")
    // keep every incoming column (e.g. the true label) except the text body
    val scored = profiles.foldLeft(docs) {
      case (df, (lang, markers)) =>
        df.withColumn(s"score_$lang", profileHits(col(textCol), markers))
    }
    // argmax over the score columns; ties → lexicographically smallest lang
    val maxScore = greatest(profiles.map { case (l, _) => col(s"score_$l") }: _*)
    val lang = profiles.reverse.foldLeft(lit("und")) { case (acc, (l, _)) =>
      when(col(s"score_$l") === maxScore, lit(l)).otherwise(acc)
    }
    scored
      .withColumn("pred_lang", lang)
      .drop(textCol)
  }

  /** Default stopword marker set shared by [[quality]] and
    * [[Classifier.score]] — fixture-vocabulary stand-ins, same contract
    * as [[profiles]]. */
  val DefaultStopwords: Seq[String] = Seq("the", "a", "fast", "slow")

  /** 4dp basis points of a/b, round-half-up, pure integer ops —
    * `(20000·a + b) div (2·b)` is round(10000·a/b) exactly, with no
    * floating division anywhere. Double `round(a/b, 4)` disagrees
    * between engines when the true ratio lands on a .00005 boundary
    * (observed at sf0.1) — integer arithmetic cannot. Shared by every
    * ratio-emitting operator in this tier. */
  private[llm] def bp(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.intDiv(a * 20000 + b, b * 2)

  /** The raw integer feature projection [[quality]] and
    * [[Classifier.score]] both build on — ONE definition so the
    * classifier's features can never silently diverge from the quality
    * operator's: `(id, __nt tokens, __ns stopword hits, __nd distinct
    * tokens, __len chars)`. */
  private[llm] def bpFeatures(docs: DataFrame, stopwords: Seq[String],
                              idCol: String, textCol: String): DataFrame = {
    val t = toks(col(textCol))
    docs.select(
      col(idCol),
      size(t).cast("long").as("__nt"),
      graft.functions.CountTokensIn(t, stopwords).as("__ns"),
      size(array_distinct(t)).cast("long").as("__nd"),
      length(col(textCol)).cast("long").as("__len"))
  }

  /** The composite quality score of [[quality]] as ONE column expression
    * — for pipelines that gate on the score inline ([[Curation.assemble]])
    * instead of joining the full stats frame back on: the same integer-bp
    * arithmetic, zero extra scan, zero join. */
  def qualityCol(textCol: Column, stopwords: Seq[String] = DefaultStopwords): Column =
    qualityBp(textCol, stopwords).cast("double") / 10000.0

  /** THE composite-score arithmetic — round-half-up of dr·(1−sr) at 4dp,
    * in integer space: the single definition [[quality]], [[qualityCol]],
    * [[qualityBp]] (and through them [[domainGate]], `Classifier`,
    * `Curation.assemble`) all reduce to, so the gate arithmetic can never
    * silently diverge from the quality report. */
  private[llm] def compositeBp(drBp: Column, srBp: Column): Column =
    graft.functions.VectorFunctions.intDiv(
      drBp * (lit(10000L) - srBp) * 2 + lit(10000L), lit(20000L))

  /** [[qualityCol]]'s integer basis-point form — for operators that
    * aggregate or compare the score in exact integer space
    * ([[domainGate]]'s cross-multiplied mean test) instead of reporting
    * it as a ratio. */
  def qualityBp(textCol: Column, stopwords: Seq[String] = DefaultStopwords): Column = {
    val t = toks(textCol)
    val nt = size(t).cast("long")
    val srBp = bp(graft.functions.CountTokensIn(t, stopwords), nt)
    val drBp = bp(size(array_distinct(t)).cast("long"), nt)
    compositeBp(drBp, srBp)
  }

  /** Quality heuristics: token count, mean token length, stopword ratio,
    * distinct-token ratio, and a composite score. All ratios via [[bp]]
    * (integer round-half-up, cross-engine exact); the scaled value
    * divided by 1e4 is an exact double (≤ 2^53). */
  def quality(docs: DataFrame, stopwords: Seq[String] = DefaultStopwords,
              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    def asRatio(bpCol: Column): Column = bpCol.cast("double") / 10000.0
    val counted = bpFeatures(docs, stopwords, idCol, textCol)
    val srBp = bp(col("__ns"), col("__nt"))
    val drBp = bp(col("__nd"), col("__nt"))
    counted.select(
      col(idCol),
      col("__nt").as("n_tokens"),
      asRatio(bp(col("__len") - col("__nt") + 1, col("__nt"))).as("mean_tok_len"),
      asRatio(srBp).as("stopword_ratio"),
      asRatio(drBp).as("distinct_ratio"),
      // composite in integer space too: round(dr·(1−sr)) at 4dp
      asRatio(compositeBp(drBp, srBp)).as("quality"))
  }

  /** The Gopher document-quality rule battery (Rae et al. 2021,
    * Appendix A) as NAMED per-rule verdicts — the full structural
    * filter [[quality]]'s composite score approximates with ratios:
    * word-count bounds, mean-word-length bounds, symbol-to-word ratio
    * (`#` plus `...` occurrences), bullet-line and ellipsis-line
    * fractions, alphabetic-word fraction, and a minimum stopword count,
    * plus the conjunction `keep`. Emitting every rule separately is the
    * point: at curation time the per-rule failure MIX is the datasheet
    * (which rule dominates per source decides what to fix upstream),
    * where a fused boolean only says how much was dropped.
    *
    * One narrow projection per document — no join, no shuffle, nothing
    * wide; every ratio is the integer round-half-up [[bp]], so the
    * whole battery replays exactly in ANSI SQL. Thresholds are bp
    * values (10000 = 1.0; mean length 30000 = 3.0 chars/word). Lines
    * split on `\n`; words on [[WsRun]]; a bullet line starts with
    * `"- "` or `"* "`; an ellipsis line ends with `"..."`; `...`
    * occurrences count non-overlapping left-to-right (both engines'
    * `replace` discipline). The three membership filters run as
    * interpreted HOF lambdas over ≤ a few hundred tokens per row —
    * measured well under kernel-worthy; the stopword count is the
    * [[graft.functions.CountTokensIn]] codegen kernel. */
  def gopherRules(docs: DataFrame,
                  minWords: Long = 20, maxWords: Long = 90,
                  minMeanBp: Long = 30000, maxMeanBp: Long = 100000,
                  maxSymbolBp: Long = 1000, maxBulletBp: Long = 9000,
                  maxEllipsisBp: Long = 3000, minAlphaBp: Long = 8000,
                  minStopHits: Long = 2,
                  stopwords: Seq[String] = DefaultStopwords,
                  idCol: String = "doc_id", textCol: String = "text",
                  carryCols: Seq[String] = Nil): DataFrame = {
    val t = split(col(textCol), WsRun)
    val ln = split(col(textCol), "\n")
    val noWs = regexp_replace(col(textCol), WsRun, "")
    val nHash = length(col(textCol)) - length(replace(col(textCol), lit("#")))
    val nEll = graft.functions.VectorFunctions.intDiv(
      length(col(textCol)) - length(replace(col(textCol), lit("..."))), lit(3))
    val counted = docs.select(
      (col(idCol) +: carryCols.map(col)) ++ Seq(
      size(t).cast("long").as("__nt"),
      size(ln).cast("long").as("__nl"),
      length(noWs).cast("long").as("__nch"),
      (nHash + nEll).cast("long").as("__nsym"),
      size(filter(t, x => x.rlike("[A-Za-z]"))).cast("long").as("__na"),
      graft.functions.CountTokensIn(t, stopwords).as("__ns"),
      size(filter(ln, l => l.startsWith("- ") || l.startsWith("* ")))
        .cast("long").as("__nb"),
      size(filter(ln, l => l.endsWith("..."))).cast("long").as("__ne")): _*)
    val meanBp = bp(col("__nch"), col("__nt"))
    val symBp = bp(col("__nsym"), col("__nt"))
    val bulletBp = bp(col("__nb"), col("__nl"))
    val ellBp = bp(col("__ne"), col("__nl"))
    val alphaBp = bp(col("__na"), col("__nt"))
    val rules = counted.select(
      (col(idCol) +: carryCols.map(col)) ++ Seq(
      col("__nt").as("n_words"),
      col("__nl").as("n_lines"),
      col("__nt").between(minWords, maxWords).as("words_ok"),
      meanBp.between(minMeanBp, maxMeanBp).as("mean_len_ok"),
      (symBp <= maxSymbolBp).as("symbol_ok"),
      (bulletBp <= maxBulletBp).as("bullet_ok"),
      (ellBp <= maxEllipsisBp).as("ellipsis_ok"),
      (alphaBp >= minAlphaBp).as("alpha_ok"),
      (col("__ns") >= minStopHits).as("stop_ok")): _*)
    rules.withColumn("keep",
      col("words_ok") && col("mean_len_ok") && col("symbol_ok") &&
        col("bullet_ok") && col("ellipsis_ok") && col("alpha_ok") &&
        col("stop_ok"))
  }

  /** The per-group Gopher DATASHEET over [[gopherRules]]: failure count
    * of every rule plus kept docs/tokens by `groupCol` — "which rule
    * dominates where" is what decides the upstream fix (a source
    * drowning in bullet failures needs a markup stripper, not a better
    * classifier). Default thresholds; for custom ones run
    * [[gopherRules]] with `carryCols = Seq(groupCol)` and aggregate —
    * this rollup is ONE groupBy on that frame. One scan, one |groups|-sized
    * aggregate (partial map-side), nothing corpus-wide shuffled. */
  def gopherMix(docs: DataFrame, groupCol: String = "source",
                stopwords: Seq[String] = DefaultStopwords,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val r = gopherRules(docs, stopwords = stopwords, idCol = idCol,
      textCol = textCol, carryCols = Seq(groupCol))
    def f(c: String, as: String) =
      sum(when(!col(c), 1L).otherwise(0L)).as(as)
    r.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_docs"),
      f("words_ok", "f_words"), f("mean_len_ok", "f_mean_len"),
      f("symbol_ok", "f_symbol"), f("bullet_ok", "f_bullet"),
      f("ellipsis_ok", "f_ellipsis"), f("alpha_ok", "f_alpha"),
      f("stop_ok", "f_stop"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
      sum(when(col("keep"), col("n_words")).otherwise(0L)).as("kept_tokens"))
  }

  /** The Gopher REPETITION battery (Rae 2021 App. A — the natural-text
    * side [[repetition]]'s single duplicate-bigram ratio approximates):
    * duplicate-LINE fraction and duplicate-line CHARACTER fraction
    * (occurrences after the first of each distinct line), top-`topN`-
    * gram character mass over the document length, and the fraction of
    * token positions covered by `dupN`-grams occurring ≥ 2 times — each
    * as an integer-bp ratio with its named verdict plus the `keep`
    * conjunction. Repetition is the one quality defect a vocabulary
    * filter can't see: templated spam is made of perfectly normal
    * words.
    *
    * Line stats are narrow array ops (integer HOF sums — order-exact);
    * gram stats are ONE [[graft.functions.RepGramStats]] codegen kernel
    * pass (per-row maps; the explode formulation is a corpus-wide
    * shuffle per gram size, the HOF argmax O(grams²) interpreted). One
    * narrow projection, no shuffle; every ratio replays in SQL. */
  def repetitionRules(docs: DataFrame,
                      maxDupLineBp: Long = 3000, maxDupLineCharBp: Long = 2000,
                      maxTopGramBp: Long = 2000, maxDupGramBp: Long = 1500,
                      topN: Int = 2, dupN: Int = 5,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = split(col(textCol), WsRun)
    val ln = split(col(textCol), "\n")
    def lineSum(c: Column): Column =
      aggregate(c, lit(0L), (acc, x) => acc + length(x))
    val counted = docs.select(
      col(idCol),
      size(t).cast("long").as("__nt"),
      size(ln).cast("long").as("__nl"),
      length(col(textCol)).cast("long").as("__nc"),
      (size(ln) - size(array_distinct(ln))).cast("long").as("__dl"),
      lineSum(ln).as("__tlc"),
      lineSum(array_distinct(ln)).as("__dlc"),
      graft.functions.RepGramStats(t, topN, dupN).as("__gs"))
    val dupLineBp = bp(col("__dl"), col("__nl"))
    val dupLineCharBp = when(col("__tlc") > 0,
      bp(col("__tlc") - col("__dlc"), col("__tlc"))).otherwise(lit(0L))
    val topBp = when(col("__nc") > 0,
      bp(element_at(col("__gs"), 1), col("__nc"))).otherwise(lit(0L))
    val dupBp = bp(element_at(col("__gs"), 2), col("__nt"))
    counted.select(
      col(idCol),
      col("__nt").as("n_words"),
      col("__nl").as("n_lines"),
      dupLineBp.as("dup_line_bp"),
      dupLineCharBp.as("dup_line_char_bp"),
      topBp.as("top_gram_bp"),
      dupBp.as("dup_gram_bp"),
      (dupLineBp <= maxDupLineBp).as("line_ok"),
      (dupLineCharBp <= maxDupLineCharBp).as("line_char_ok"),
      (topBp <= maxTopGramBp).as("top_gram_ok"),
      (dupBp <= maxDupGramBp).as("dup_gram_ok"))
      .withColumn("keep",
        col("line_ok") && col("line_char_ok") && col("top_gram_ok") &&
          col("dup_gram_ok"))
  }

  /** Fixed-point log2 as a COLUMN over positive integers — the l2 kit
    * (`msb·1024 + (x·1024 >> msb) − 1024`, 1/1024-bit units) spelled in
    * Spark functions: msb from `length(bin(x)) − 1` (the bin() trick
    * both engines share), the variable shift via `call_function`
    * (the `shiftright` SQL function takes expression bits; the Scala
    * `shiftright` helper only takes a literal). Exact for x ≥ 1. */
  private def l2Col(x: Column): Column = {
    val msb = (length(bin(x)) - lit(1)).cast("int")
    (msb.cast("long") * 1024L +
      call_function("shiftright", x * 1024L, msb) - 1024L)
  }

  /** Population-stability-index drift monitor (r14) — the standing
    * check a long-running ingestion pipeline runs per batch: has the
    * quality-score (or any bounded-bp statistic's) DISTRIBUTION moved
    * against the baseline slice? PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i);
    * the classic triage bands (<0.1 stable, 0.1–0.25 drifting, >0.25
    * shifted) apply to Σ psi_fp / (10⁴·1024·ln2⁻¹) — downstream reads
    * the integer lanes and picks its own alarm threshold.
    *
    * Fixed-point, cross-engine exact: shares are round-half-up basis
    * points clamped to ≥ 1 (the standard add-eps for an empty bin —
    * ln(0) never evaluates, a bin absent from one side still
    * contributes), the log is the l2 kit (1/1024-bit units), and the
    * per-bin lane `(base_bp − cur_bp)·(l2(base_bp) − l2(cur_bp))` is
    * ≥ 0 because both factors share a sign — so Σ over bins is
    * monotone in drift, exactly PSI's shape up to the ln2 scale.
    *
    * ONE scan over the combined frame (baseline and current ride a
    * flag column, not two inputs — a two-frame API would scan twice);
    * the binned frame is |bins| rows, checkpoint-cut (it feeds the
    * totals aggregate AND the share projection), totals ride a 1-row
    * broadcast. Contract: both slices non-empty (an empty side's
    * total would divide by zero — the caller owns slice selection).
    * Emits (bin, n_base, n_cur, base_bp, cur_bp, psi_fp), ORDER BY
    * bin; a bin with no rows on EITHER side emits nothing. */
  def psiDrift(df: DataFrame, isBase: Column, scoreBp: Column,
               bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins must be in [2,1000], got $bins")
    val intDiv = graft.functions.VectorFunctions.intDiv _
    val p = greatest(lit(0L), least(lit(9999L), scoreBp.cast("long")))
    val binned = df.select(intDiv(p * bins, lit(10000L)).as("bin"),
        when(isBase.cast("boolean"), 1L).otherwise(0L).as("__b"))
      .groupBy(col("bin"))
      .agg(sum(col("__b")).cast("long").as("n_base"),
        sum(lit(1L) - col("__b")).cast("long").as("n_cur"))
      .cut()
    val tot = binned.agg(sum(col("n_base")).cast("long").as("__tb"),
      sum(col("n_cur")).cast("long").as("__tc"))
    binned.crossJoin(broadcast(tot))
      .select(col("bin"), col("n_base"), col("n_cur"),
        greatest(lit(1L), intDiv(col("n_base") * 20000L + col("__tb"),
          col("__tb") * 2L)).as("base_bp"),
        greatest(lit(1L), intDiv(col("n_cur") * 20000L + col("__tc"),
          col("__tc") * 2L)).as("cur_bp"))
      .withColumn("psi_fp", (col("base_bp") - col("cur_bp")) *
        (l2Col(col("base_bp")) - l2Col(col("cur_bp"))))
      .orderBy(col("bin"))
  }

  /** BM25 ranking under a FIXED query-term set, in exact integer
    * arithmetic — the lexical-retrieval face [[tfidf]]'s per-doc
    * salient-term report doesn't give. Per term, with k1 = 6/5 and
    * b = 3/4 cross-multiplied away and idf in the l2 fixed point
    * (Robertson idf ≈ log((N−df+½)/(df+½)) as
    * `l2(2N−2df+1) − l2(2df+1)`, floored at 0 — the Lucene-style clamp
    * for common terms):
    *
    *   score_t = idf_fp · tf · 44 · T  div  (20·tf·T + 6·T + 18·dl·N)
    *
    * (T = corpus tokens, N = docs, dl = doc tokens — avdl = T/N kept as
    * the T,N pair so nothing rounds early). The whole pipeline is two
    * narrow passes: a per-doc (dl, tf_t…) projection via the
    * [[graft.functions.CountTokensIn]] kernel, a one-row corpus-stats
    * aggregate broadcast back, then TakeOrdered — no explode, no
    * corpus-wide shuffle, no per-term join. Overflow bound: the
    * idf·tf·44·T product needs idf_fp·tf·44·T < 2⁶³ — safe past 10¹³
    * corpus tokens at fixture tf; a 100 TB deployment crossing it moves
    * the product to DECIMAL(38,0) (same arithmetic, wider lane).
    * Deterministic output: integer scores, ORDER BY score DESC, id. */
  def bm25(docs: DataFrame, terms: Seq[String], limit: Int = 20,
           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    require(terms.distinct.size == terms.size, s"duplicate query terms: $terms")
    val t = toks(col(textCol))
    val counted = docs.select(
      (Seq(col(idCol), size(t).cast("long").as("__dl")) ++
        terms.indices.map(i =>
          graft.functions.CountTokensIn(t, Seq(terms(i))).as(s"__tf$i"))): _*)
    val aggs =
      Seq(count(lit(1)).cast("long").as("__n"), sum(col("__dl")).as("__t")) ++
        terms.indices.map(i =>
          sum(when(col(s"__tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i"))
    val stats = counted.agg(aggs.head, aggs.tail: _*)
    val joined = counted.crossJoin(broadcast(stats))
    val score = terms.indices.map { i =>
      val tf = col(s"__tf$i")
      val df = col(s"__df$i")
      val idf = greatest(lit(0L),
        l2Col(lit(2L) * col("__n") - lit(2L) * df + 1L) -
          l2Col(lit(2L) * df + 1L))
      when(tf > 0,
        graft.functions.VectorFunctions.intDiv(
          idf * tf * 44L * col("__t"),
          lit(20L) * tf * col("__t") + lit(6L) * col("__t") +
            lit(18L) * col("__dl") * col("__n")))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    joined
      .select((Seq(col(idCol), col("__dl").as("doc_tokens")) ++
        terms.indices.map(i => col(s"__tf$i").as(s"tf_${terms(i)}")) :+
        score.as("score_fp")): _*)
      .where(col("score_fp") > 0)
      .orderBy(col("score_fp").desc, col(idCol))
      .limit(limit)
  }

  /** Greedy-subword (BPE-faithful) token count of `textCol` under a
    * fixed vocabulary: the [[WsRun]] split feeds
    * [[graft.functions.BpeTokenCount]] — one narrow kernel projection.
    * This is the budget column to hand [[Packing.packShards]] /
    * [[adaptiveLengthGate]] when whitespace-run counts under-state the
    * real context-length cost. */
  def bpeTokenCount(textCol: Column, vocab: Seq[String]): Column =
    graft.functions.BpeTokenCount(split(textCol, WsRun), vocab)

  /** Minimum-piece (Viterbi) subword count under the same vocab — the
    * optimal segmentation [[bpeTokenCount]]'s greedy longest-match
    * approximates (never exceeds it; the gap measures greedy
    * over-segmentation, which inflates every downstream token budget).
    * See [[graft.functions.ViterbiTokenCount]]. */
  def viterbiTokenCount(textCol: Column, vocab: Seq[String]): Column =
    graft.functions.ViterbiTokenCount(split(textCol, WsRun), vocab)

  /** Unigram-LM (weighted-Viterbi) segmentation: maximize summed piece
    * scores, ties to the fewest pieces — SentencePiece-style inference
    * with the scores as DATA. Returns a struct (pieces, score); project
    * the fields out. [[unigramWeights]] derives the canonical score
    * table from a [[bpeTrain]] merge table. */
  def unigramSegment(textCol: Column, weighted: Seq[(String, Long)]): Column =
    graft.functions.UnigramSegment(split(textCol, WsRun), weighted)

  /** Piece scores from a [[bpeTrain]] merge table: piece = left‖right,
    * score = l2(pair_count + 1) in 1/1024-bit units (the dsirWeights
    * fixed-point log2 — frequent merges score high, exactly the
    * unigram-LM log-frequency shape). Two merges CAN produce the same
    * string ((a,bc) and (ab,c) both yield "abc"); the max count wins,
    * deterministically. Driver-bounded: the merge table is ≤ numMerges
    * rows by construction. */
  def unigramWeights(merges: DataFrame): Seq[(String, Long)] = {
    def l2(x: Long): Long = {
      val msb = 63 - java.lang.Long.numberOfLeadingZeros(x)
      msb * 1024L + ((x << 10) >> msb) - 1024L
    }
    merges.select("left", "right", "pair_count").collect()
      .groupBy(r => r.getString(0) + r.getString(1))
      .map { case (p, rs) => p -> l2(rs.map(_.getLong(2)).max + 1L) }
      .toSeq.sortBy(_._1)
  }

  /** The greedy subword tokens themselves (flattened, in order) — what
    * [[Packing.packSequences]] / [[Chunking.chunk]] slice when packing
    * BPE-faithful blocks. */
  def bpeTokens(textCol: Column, vocab: Seq[String]): Column =
    graft.functions.BpeTokens(split(textCol, WsRun), vocab)

  /** BPE merge TRAINING — the learn side of [[bpeTokenCount]]/
    * [[bpeTokens]]' apply side. The classic algorithm (Sennrich et al.
    * 2016) trains on the WORD-FREQUENCY TABLE, not the corpus: one
    * corpus scan builds `word → count` (map-side combined — the only
    * distributed work regardless of corpus size), then `numMerges`
    * rounds of "merge the most frequent adjacent symbol pair" run
    * driver-side over that bounded table. Deterministic tiebreak: max
    * pair count, then lexicographically smallest (left, right) —
    * retry/partitioning stable. Pair occurrences merge left-to-right
    * non-overlapping (the reference implementation's greedy rule:
    * `a a a` has ONE `(a,a)` merge site after the first is taken).
    *
    * Returns the ranked merge table (rank, left, right, pair_count);
    * [[bpeVocabOf]] turns it into the vocabulary [[bpeTokens]] expects.
    * Training stops early if no pair reaches `minPairCount`.
    *
    * Sizing at scale: the driver table is the DISTINCT VOCABULARY —
    * millions of rows for web corpora, not corpus-sized — and is capped
    * at `maxVocab` with a fail-fast (the [[Similarity]] codebook
    * discipline): past the cap, raise `minCount` (rare words contribute
    * ~nothing to merge statistics) or train on a
    * [[Sampling.bernoulli]] sample, both standard practice. */
  def bpeTrain(docs: DataFrame, numMerges: Int, minCount: Long = 1L,
               minPairCount: Long = 2L, textCol: String = "text",
               maxVocab: Int = 1 << 20): DataFrame = {
    require(numMerges > 0 && numMerges <= 65536,
      s"numMerges must be in [1, 65536], got $numMerges")
    val spark = docs.sparkSession
    val words = docs
      .select(explode(split(col(textCol), WsRun)).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("c"))
      .where(col("c") >= minCount)
    val vocabRows = words.limit(maxVocab + 1).collect()
    require(vocabRows.length <= maxVocab,
      s"vocabulary exceeds maxVocab=$maxVocab — raise minCount or train on a sample")
    var seqs: Seq[(Vector[String], Long)] = vocabRows
      .map(r => (r.getString(0).map(_.toString).toVector, r.getLong(1))).toSeq
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var rank = 0L
    var done = false
    while (rank < numMerges && !done) {
      val pairCounts = scala.collection.mutable.HashMap[(String, String), Long]()
      seqs.foreach { case (s, c) =>
        var i = 0
        while (i < s.length - 1) {
          val p = (s(i), s(i + 1))
          pairCounts.update(p, pairCounts.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      val best = pairCounts.toSeq
        .sortBy { case ((l, r), c) => (-c, l, r) }.headOption
      best match {
        case Some(((l, r), c)) if c >= minPairCount =>
          merges += ((rank, l, r, c))
          val merged = l + r
          seqs = seqs.map { case (s, c0) =>
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < s.length) {
              if (i < s.length - 1 && s(i) == l && s(i + 1) == r) {
                out += merged; i += 2
              } else { out += s(i); i += 1 }
            }
            (out.result(), c0)
          }
          rank += 1
        case _ => done = true
      }
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      merges.map(m => org.apache.spark.sql.Row(m._1, m._2, m._3, m._4)).asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("left",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("right",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("pair_count",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** The [[bpeTokens]]/[[bpeTokenCount]] vocabulary implied by a
    * [[bpeTrain]] merge table: every merged symbol, longest-match
    * greedy inference then reconstructs the training segmentation
    * closely (exactly, for text whose words appeared in training —
    * the single-char fallback covers the rest). */
  def bpeVocabOf(merges: DataFrame): Seq[String] =
    merges.select(concat(col("left"), col("right")))
      .collect().map(_.getString(0)).toSeq

  /** Token counting: whitespace tokens plus a BPE-ish regex token count
    * (runs of letters / digits / single punctuation). */
  def tokenCounts(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(
      col(idCol),
      size(split(col(textCol), WsRun)).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col(textCol), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        .cast("long").as("re_tokens"),
      length(col(textCol)).cast("long").as("n_chars"))

  /** Per-language tokenizer-fertility audit over a fixed subword vocab —
    * the multilingual "tokenizer fairness" measurement (Ács 2019 class):
    * fertility = subword tokens per 10⁴ characters (`fert_char_fp`) and
    * per 10³ whitespace words (`fert_word_fp`), by `langCol`. A vocab
    * trained on one script inflates every other script's fertility (an
    * ASCII-subword vocab forces CJK text to single-character fallback,
    * ~2-4× the token budget per character) — exactly the imbalance to
    * surface BEFORE a training run prices languages by it. Ratios are
    * integral division over per-language sums (cross-engine exact; a
    * zero-char language yields NULL rather than a fake 0).
    *
    * Plan shape: one narrow corpus scan (lang + three per-row token
    * kernels), one |langs|-key aggregate, no joins. */
  def tokenizerFertility(docs: DataFrame, vocab: Seq[String],
                         langCol: String = "lang",
                         textCol: String = "text"): DataFrame = {
    val intDiv = graft.functions.VectorFunctions.intDiv _
    docs.select(col(langCol),
        length(col(textCol)).cast("long").as("__chars"),
        size(split(col(textCol), WsRun)).cast("long").as("__ws"),
        bpeTokenCount(col(textCol), vocab).as("__bpe"))
      .groupBy(langCol)
      .agg(count(lit(1)).as("docs"), sum("__chars").as("chars"),
        sum("__ws").as("ws_tokens"), sum("__bpe").as("bpe_tokens"))
      .select(col(langCol), col("docs"), col("chars"), col("ws_tokens"),
        col("bpe_tokens"),
        intDiv(col("bpe_tokens") * 10000L, col("chars")).as("fert_char_fp"),
        intDiv(col("bpe_tokens") * 1000L, col("ws_tokens")).as("fert_word_fp"))
  }

  /** Default PII patterns for [[redact]] — written in the regex subset
    * Java and RE2 interpret identically (char classes, bounded repeats,
    * \b, \d), so the oracle can replay them in DuckDB byte-for-byte. */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b" -> "<IP>",
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "<ID>")

  /** Named faces of [[piiPatterns]] for the stats datasheet. */
  val piiStatPatterns: Seq[(String, String)] = piiPatterns.map {
    case (re, tag) => tag.stripPrefix("<").stripSuffix(">").toLowerCase -> re
  }

  /** Per-source PII-density datasheet — the release-audit face of
    * [[redact]]: for each group, docs/chars, the non-overlapping match
    * count of every named pattern, how many docs carry ANY hit, and
    * total hits per 10⁶ chars (truncating fixed point). The counting
    * regexes are the same Java∩RE2 subset as [[piiPatterns]], so a SQL
    * oracle replays them byte-for-byte; run it BEFORE [[redact]] to
    * record what shipped out, after to prove the scrub converged (all
    * zeros).
    *
    * Shape for 100 TB: one narrow codegen'd projection (lengths +
    * `regexp_count` per pattern) feeding one map-side-combinable
    * |sources|-sized aggregate — no window, no second pass. */
  def piiStats(docs: DataFrame, patterns: Seq[(String, String)] = piiStatPatterns,
               groupCol: String = "source", textCol: String = "text"): DataFrame = {
    require(patterns.nonEmpty, "piiStats needs at least one pattern")
    val intDiv = graft.functions.VectorFunctions.intDiv _
    val perRow = docs.select(
      col(groupCol) +: length(col(textCol)).cast("long").as("__chars") +:
        patterns.map { case (nm, re) =>
          regexp_count(col(textCol), lit(re)).cast("long").as(s"__$nm")
        }: _*)
    val rowTotal = patterns.map(p => col(s"__${p._1}")).reduce(_ + _)
    val aggs =
      Seq(count(lit(1)).as("docs"),
        sum(col("__chars")).cast("long").as("chars")) ++
      patterns.map { case (nm, _) =>
        sum(col(s"__$nm")).cast("long").as(s"n_$nm") } ++
      Seq(sum(when(rowTotal > 0L, 1L).otherwise(0L)).cast("long")
        .as("pii_docs"))
    val g = perRow.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
    val hitSum = patterns.map(p => col(s"n_${p._1}")).reduce(_ + _)
    g.withColumn("pii_per_mchar_fp", intDiv(hitSum * 1000000L, col("chars")))
      .orderBy(col(groupCol))
  }

  /** PII scrubbing: apply the (pattern → replacement) list in order via
    * `regexp_replace` — a pure narrow codegen'd projection, the transform
    * every pretraining corpus runs before anything else. Patterns apply
    * sequentially, so earlier replacements can shadow later matches
    * (email first: its local part may contain digit runs). */
  def redact(docs: DataFrame, patterns: Seq[(String, String)] = piiPatterns,
             idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      patterns.foldLeft(col(textCol)) { case (c, (p, r)) =>
        regexp_replace(c, p, r)
      }.as("redacted"))

  /** Deflate compression ratio per document — the RefinedWeb-style
    * "templated text compresses too well" quality signal: boilerplate
    * and machine-generated text land well below natural prose. One
    * narrow [[graft.functions.CompressionRatioBp]] kernel pass (reused
    * per-thread Deflater, raw mode, fixed level). Deflate output is
    * deterministic per JVM/zlib but not contractual across engines, so
    * this is spec-gated (determinism, monotonicity, partition-invariance
    * laws in TextStatsSpec), not DuckDB-oracle-gated. */
  def compressionRatio(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      (graft.functions.CompressionRatioBp(col(textCol)).cast("double") / 10000.0)
        .as("compression_ratio"))

  /** The CROSS-ENGINE integer face of [[compressionRatio]]'s quality
    * signal: fixed-point log2 of the k-gram DUPLICATION factor —
    * `l2((grams·1024) div distinct_grams)` in 1/1024-bit units, where
    * grams are the [[graft.functions.TextKernelObjs.gramHashes]] chain
    * mod 2²⁰ buckets (the llm_winnow arithmetic) and `l2` is the
    * `length(bin(x))` kit replayable in ANSI SQL. Redundant/templated
    * text repeats grams → high proxy; natural prose ≈ all-distinct →
    * 1024·log2(1) = 0. Deflate measures the same redundancy, so the two
    * RANK documents consistently (tier-order law in TextStatsSpec) —
    * but this face is bit-identical across engines and oracle-gated
    * (llm_compression_q) where deflate output bytes never can be.
    * Token-free docs have no grams and are dropped (both engines).
    * One narrow kernel projection — no shuffle, no join. */
  def compressibilityProxy(docs: DataFrame, k: Int = 3, buckets: Int = 1 << 20,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    val intDiv = graft.functions.VectorFunctions.intDiv _
    docs.select(col(idCol),
        graft.functions.HashedNgramBuckets(col(textCol), k, buckets).as("__b"))
      .where(size(col("__b")) > 0)
      .select(col(idCol),
        intDiv(size(col("__b")).cast("long") * 1024L,
          size(array_distinct(col("__b"))).cast("long")).as("__x"))
      .selectExpr(idCol,
        // l2(x) = msb·1024 + (x·1024 >> msb) − 1024; the shift amount is
        // a column, which only the SQL face of shiftright accepts
        "CAST((length(bin(__x)) - 1) AS BIGINT) * 1024 " +
          "+ (__x * 1024) div shiftleft(CAST(1 AS BIGINT), length(bin(__x)) - 1) " +
          "- 11264 AS compress_proxy")  // −1024 (l2 kit) −10240 (the ×1024 fixed-point offset of x): all-distinct ⇒ 0
  }

  /** Character-entropy quality signal — the gibberish/noise face the
    * length/stopword ratios miss: single-character spam scores 0,
    * natural prose ~4200–4500, base64/random blobs ~6100 (all in
    * 1/1024-bit fixed point — [[graft.functions.TextKernelObjs
    * .charEntropyFp]], exact integer arithmetic, DuckDB-replayable, so
    * unlike [[compressionRatio]] this face is oracle-gated end to end:
    * llm_entropy). Gate LOW entropy to drop repeated-character noise,
    * HIGH to drop encoded blobs. One narrow codegen'd projection —
    * no shuffle, no join; empty docs are dropped (no distribution to
    * measure, both engines). */
  def charEntropy(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs.where(length(col(textCol)) > 0)
      .select(col(idCol),
        length(col(textCol)).cast("long").as("n_chars"),
        graft.functions.CharEntropyFp(col(textCol)).as("entropy_fp"))

  /** Corpus vocabulary: token → occurrence count, top-K by count with
    * ties broken by token (deterministic). The token stream shuffles
    * with map-side combine (partial counts per partition before the
    * exchange), and the top-K is `TakeOrderedAndProject` — each
    * partition keeps K rows, the driver merges K×partitions, never a
    * global sort. At 100 TB the shuffle carries one row per DISTINCT
    * token per partition, not per occurrence. */
  def vocab(docs: DataFrame, topK: Int, textCol: String = "text"): DataFrame =
    docs.select(explode(toks(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(topK)

  /** N-gram novelty audit (r14) — the memorization-risk measurement of
    * Lee et al. 2022 (§5, "novel n-grams") read over a held-out slice:
    * per document, how many of its order-`n` grams NEVER appear in the
    * training slice? A held-out doc scoring near zero novelty is
    * (trigram-wise) reconstructible from training data — the
    * completion-memorization signal; a corpus whose held-out median
    * drops round over round is saturating its gram space (measured
    * here: the fixture's median novelty falls 6000 → 0 bp from
    * sf0.001 to sf0.1 — the audit working as intended).
    *
    * Shape: train grams distinct once (corpus-sized exchange BY
    * DECLARATION — exact membership is the point; the probabilistic
    * scale sibling is a bloom filter, the [[llm.Audit]]
    * contamination-bloom pattern), checkpoint-cut (feeds the size
    * gate + the join build); the held-out side explodes positions and
    * flags membership through a SIZE-GATED join ([[Joins]] — a
    * Heaps-law gram table above the gate degrades to shuffle-hash on
    * the gram key instead of OOMing a broadcast). Emits
    * (idCol, n_grams, n_novel, novelty_bp); a doc shorter than `n`
    * tokens has no grams and no row (both engines). ORDER BY id. */
  def novelty(train: DataFrame, score: DataFrame, n: Int = 3,
              idCol: String = "doc_id", textCol: String = "text",
              maxBroadcastRows: Long = Joins.DefaultMaxBroadcastRows): DataFrame = {
    require(n >= 1 && n <= 8, s"n must be in [1,8], got $n")
    val t = toks(col(textCol))
    // r20: the compiled WordShingles walk, not an interpreted
    // transform(slice/array_join) lambda (the gramStream finding —
    // this one runs over the TRAIN corpus). The size guard keeps the
    // no-grams-for-short-docs contract (WordShingles clips instead).
    val gram = explode(
      if (n == 1) graft.functions.WordShingles(col(textCol), n)
      else when(size(t) >= n, graft.functions.WordShingles(col(textCol), n))
        .otherwise(array().cast("array<string>")))
    val tg = train.select(gram.as("g")).distinct().cut()
    val small = Joins.fitsBroadcast(tg, maxBroadcastRows)
    score.select(col(idCol), gram.as("g"))
      .join(Joins.hinted(small, tg.withColumn("__in", lit(1L))),
        Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).cast("long")
          .as("n_novel"))
      .select(col(idCol), col("n_grams"), col("n_novel"),
        graft.functions.VectorFunctions.intDiv(
          col("n_novel") * 20000L + col("n_grams"),
          col("n_grams") * 2L).as("novelty_bp"))
      .orderBy(col(idCol))
  }

  /** Vocabulary-coverage audit (r14) — the OOV-rate datasheet column a
    * tokenizer team reads per language before and after retraining: of
    * the held-out slice's whitespace tokens, what fraction falls
    * outside a reference vocabulary ([[vocab]]'s top-K, a tokenizer's
    * word list, last month's vocab for drift)? A language whose OOV
    * rate runs hot against the shared vocab is under-served by it —
    * the UniMax/fertility complement at the vocabulary level.
    *
    * ONE corpus pass: explode tokens, flag membership with a left join
    * against the vocab (SIZE-GATED via [[Joins]] — a top-K vocab
    * broadcasts, a caller passing a raw Heaps-unbounded term table
    * degrades to a shuffle-hash join on the token key), then one
    * |groups|-key aggregate. The vocab frame is checkpoint-cut once:
    * it feeds the gate's count AND the join build, and its own lineage
    * is typically a corpus-sized TakeOrdered that must not run twice.
    * Emits (groupCol, total_tokens, oov_tokens, oov_bp) with the
    * round-half-up bp; ORDER BY group. */
  def oovRate(docs: DataFrame, vocab: DataFrame, groupCol: String = "lang",
              textCol: String = "text",
              maxBroadcastRows: Long = Joins.DefaultMaxBroadcastRows): DataFrame = {
    val v = vocab.select(col("token")).cut()
    val small = Joins.fitsBroadcast(v, maxBroadcastRows)
    docs.select(col(groupCol), explode(toks(col(textCol))).as("token"))
      .join(Joins.hinted(small, v.withColumn("__in", lit(1L))),
        Seq("token"), "left")
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("total_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).cast("long")
          .as("oov_tokens"))
      .select(col(groupCol), col("total_tokens"), col("oov_tokens"),
        graft.functions.VectorFunctions.intDiv(
          col("oov_tokens") * 20000L + col("total_tokens"),
          col("total_tokens") * 2L).as("oov_bp"))
      .orderBy(col(groupCol))
  }

  /** Per-document top-K salient terms by TF-IDF, with a RATIONAL idf
    * (`N/df`) in round-half-up basis points: `score_bp =
    * round(10⁴ · tf · N / df)` — integer arithmetic end-to-end, so the
    * ranking is cross-engine exact and oracle-gated (the classic
    * `ln(N/df)` idf needs floating log, whose last-ulp differences
    * between engines can flip ranks at ties; rational idf preserves the
    * rare-term-boost semantics without it). Ties break by term,
    * ascending. Plan shape: explode → (doc, term) count (map-side
    * combined) → term-keyed df join → per-doc row_number cut. The df
    * side is vocab-sized — at 100 TB still a shuffle join keyed by term,
    * never a broadcast (a web-scale vocab is GBs). `nDocs` is computed
    * with one `count()` when not supplied; pass it when the corpus size
    * is already known to keep the operator fully lazy.
    *
    * Overflow: the numerator `tf·N·20000` is computed in DECIMAL(38,0)
    * — at web scale tf·N alone passes 4.6·10¹⁴ (N=10¹² docs, tf=10³)
    * and a Long numerator wraps (or throws under ANSI). The quotient
    * comes back as a Long via `div`: it must satisfy
    * `10⁴·tf·N/df < 2⁶³`, a bound on the SCORE's own magnitude (the
    * representational limit of an int64 score column), not an artifact
    * of evaluation order — it binds only for a near-hapax term
    * (df≈1) repeated thousands of times inside one document of a
    * trillion-doc corpus. */
  def tfIdf(docs: DataFrame, topK: Int = 3, nDocs: Long = -1L,
            idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val n = if (nDocs >= 0) nDocs else docs.count()
    val tf = docs
      .select(col(idCol), explode(toks(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = tf.join(df_, "term")
      .withColumn("score_bp", graft.functions.VectorFunctions.intDiv(
        col("tf").cast("decimal(38,0)") * lit(n) * 20000L + col("df"),
        col("df") * 2L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col("score_bp").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col(idCol), col("term"), col("tf").cast("long").as("tf"),
        col("df").cast("long").as("df"), col("score_bp"), col("rank"))
  }

  /** Collocation (phrase) mining with the word2phrase score (Mikolov
    * et al. 2013, §4): for each adjacent token pair,
    *
    *   score_fp = (c(ab) − δ) · N · 10⁴  div  (c(a) · c(b))
    *
    * — pointwise-mutual-information scaled so independence reads
    * ≈ 10⁴; δ discounts hapax-driven pairs; pairs below `minCount`
    * never score (the filter runs BEFORE the discount, so the
    * subtraction can't go negative). The pass set is the phrase table
    * a tokenizer-prep pipeline joins into multi-word units.
    *
    * Shape for 100 TB: ONE corpus scan explodes each token with its
    * successor (last token pairs with NULL, so the same stream yields
    * both bigram and unigram mass); the (w, next) count frame is
    * vocab²-BOUNDED and localCheckpoint-cut (multi-consumer tiny
    * frame — unigram totals, the corpus-token scalar, and the scored
    * join all read it; without the cut each consumer re-derives the
    * corpus scan). Everything downstream of the cut joins the
    * vocab-sized unigram table — SIZE-GATED ([[Joins.fitsBroadcast]],
    * decided once, both renamed views inherit it): a natural-text
    * vocabulary is Heaps-law-unbounded, so above `maxBroadcastRows`
    * the lookups degrade to shuffled hash joins on the word key
    * instead of OOMing the executors (the hint is explicit either way;
    * a LogicalRDD leg has no size estimates, so the planner can't see
    * when the table is tiny). Only the
    * first exchange is corpus-sized. Overflow: (c−δ)·N·10⁴ needs
    * c·N·10⁴ < 2⁶³ — safe past 10⁹ pair occurrences at 10⁹ corpus
    * tokens; a deployment crossing it moves the product to
    * DECIMAL(38,0) (same arithmetic, wider lane — the bm25 note).
    * Deterministic: integer scores, ORDER BY score DESC, w1, w2. */
  def phrases(docs: DataFrame, delta: Long = 5L, minCount: Long = 10L,
              minScoreFp: Long = 20000L, textCol: String = "text",
              maxBroadcastRows: Long = Joins.DefaultMaxBroadcastRows): DataFrame = {
    require(delta >= 0 && minCount > delta,
      s"need minCount > delta >= 0, got minCount=$minCount delta=$delta")
    // r20: the compiled PairGrams walk, not an interpreted zip_with
    // lambda over every corpus token (the gramStream finding; pinned
    // bit-identical by TextKernelsSpec)
    val paired = docs.select(explode(
      graft.functions.PairGrams(col(textCol))).as("p"))
    val cnt = paired
      .groupBy(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .agg(count(lit(1)).as("c"))
      .cut()
    // uni feeds THREE consumers (both join sides + the total) — cut it
    // too, or each broadcast build re-runs its aggregate (6 → 4
    // executed shuffles, ExchangeBudgets)
    val uni = cnt.groupBy(col("w1").as("w")).agg(sum(col("c")).as("cu"))
      .cut()
    val tot = uni.agg(sum(col("cu")).as("n"))
    val uniSmall = Joins.fitsBroadcast(uni, maxBroadcastRows)
    cnt.where(col("w2").isNotNull && col("c") >= minCount)
      .join(Joins.hinted(uniSmall,
        uni.select(col("w").as("w1"), col("cu").as("__ca"))), "w1")
      .join(Joins.hinted(uniSmall,
        uni.select(col("w").as("w2"), col("cu").as("__cb"))), "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("c").as("pair_count"),
        graft.functions.VectorFunctions.intDiv(
          (col("c") - delta) * col("n") * 10000L,
          col("__ca") * col("__cb")).as("score_fp"))
      .where(col("score_fp") >= minScoreFp)
      .orderBy(col("score_fp").desc, col("w1"), col("w2"))
  }

  /** Distinct-n diversity audit (the distinct-1/2/3 metric of Li et
    * al. 2016, read over a corpus instead of generations): per group
    * and n-gram order, total grams, DISTINCT grams, and their ratio in
    * basis points — the cheap lexical-diversity datasheet column that
    * flags a template-stamped or over-deduplicated source (low
    * distinct-2/3) next to a healthy one. One corpus scan builds every
    * order's gram stream at once (per-row arrays of (n, gram) structs,
    * concatenated then exploded — orders widen the projection, never
    * add scans); the first exchange keys (group, n, gram) — exact
    * distinct counting is inherently one corpus-sized shuffle, the
    * second aggregate is |groups|·|ns| rows. Deterministic integers;
    * ORDER BY group, n. A group with fewer than n tokens in every doc
    * simply has no order-n row (both engines). */
  def distinctNgrams(docs: DataFrame, ns: Seq[Int] = Seq(1, 2, 3),
                     groupCol: String = "source",
                     textCol: String = "text"): DataFrame = {
    gramStream(docs, ns, groupCol, textCol)
      .groupBy(col(groupCol), col("n"), col("gram"))
      .agg(count(lit(1)).as("occ"))
      .groupBy(col(groupCol), col("n"))
      .agg(sum(col("occ")).cast("long").as("total_grams"),
        count(lit(1)).as("distinct_grams"))
      .select(col(groupCol), col("n").cast("long").as("n"),
        col("total_grams"), col("distinct_grams"),
        graft.functions.VectorFunctions.intDiv(
          col("distinct_grams") * 10000L, col("total_grams"))
          .as("distinct_bp"))
      .orderBy(col(groupCol), col("n"))
  }

  /** The shared gram-stream projection under [[distinctNgrams]] and
    * [[distinctNgramsApprox]]: one corpus scan emits every order's
    * (group, n, gram) rows at once — orders widen the projection,
    * never add scans. */
  private def gramStream(docs: DataFrame, ns: Seq[Int], groupCol: String,
                         textCol: String): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1) && ns.distinct.size == ns.size,
      s"ns must be distinct positive orders, got $ns")
    val t = toks(col(textCol))
    // r20: the gram walk is the [[graft.functions.WordShingles]] kernel
    // (compiled), not a transform(slice/array_join) lambda — HOF bodies
    // run INTERPRETED per element, and this projection was the hot loop
    // of the suite's most expensive pure-compute query (measured at
    // sf0.1/32 cores: gram projection 5.9–11.7 s interpreted vs 0.86 s
    // kernel; full distinct agg 6.9 s → 1.8 s; gram multiset verified
    // identical). WordShingles CLIPS when the doc is shorter than n
    // (emits one short shingle) where this stream must emit nothing —
    // the size guard keeps that contract.
    val gramArrays = ns.map { n =>
      val sh = graft.functions.WordShingles(col(textCol), n)
      val guarded =
        if (n == 1) sh
        else when(size(t) >= n, sh).otherwise(array().cast("array<string>"))
      transform(guarded, g => struct(lit(n).as("n"), g.as("gram")))
    }
    docs.select(col(groupCol), explode(concat(gramArrays: _*)).as("g"))
      .select(col(groupCol), col("g.n").as("n"), col("g.gram").as("gram"))
  }

  /** The SKETCHED face of [[distinctNgrams]] — the 100 TB datasheet
    * shape. The exact face is inherently one corpus-sized
    * (group, n, gram) exchange (exact distinct counting cannot be
    * pre-aggregated); this face replaces it with a DataSketches HLL
    * per (group, order): partial sketches build map-side in constant
    * memory (lgK=14 ≈ 16 KB a sketch, ~0.8 % RSE) and the shuffle
    * carries |groups|·|ns| sketch partials instead of every distinct
    * gram — the same mergeable-sketch contract [[agg_hll_merge]] pins,
    * applied to the suite's single most expensive exact query (r13
    * bench: llm_distinct_n 4.5 s, the one shape a 100 TB datasheet job
    * cannot afford). `total_grams` stays exact (counts pre-aggregate
    * for free). Estimates are engine-internal, so the oracle-gated
    * query face joins this against the exact report and gates the
    * |est − exact| ≤ 2 % contract instead of the values (the
    * agg_approx discipline). Deterministic modulo the sketch's fixed
    * hash — same input, same estimate; ORDER BY group, n. */
  def distinctNgramsApprox(docs: DataFrame, ns: Seq[Int] = Seq(1, 2, 3),
                           groupCol: String = "source",
                           textCol: String = "text",
                           lgK: Int = 14): DataFrame = {
    require(lgK >= 4 && lgK <= 21, s"lgK out of DataSketches range: $lgK")
    gramStream(docs, ns, groupCol, textCol)
      .groupBy(col(groupCol), col("n"))
      .agg(count(lit(1)).cast("long").as("total_grams"),
        expr(s"hll_sketch_estimate(hll_sketch_agg(gram, $lgK))")
          .as("distinct_est"))
      .select(col(groupCol), col("n").cast("long").as("n"),
        col("total_grams"), col("distinct_est"))
      .orderBy(col(groupCol), col("n"))
  }

  /** The AUDIT composition of [[distinctNgrams]] × [[distinctNgramsApprox]]
    * — exact counts AND the HLL estimate from ONE corpus exchange, for
    * the gate that must compare them anyway. The trick is HLL's
    * DUPLICATE-INSENSITIVITY: inserting each distinct gram once (the
    * rows the exact path's first aggregation already produced) builds
    * the bit-identical sketch the one-pass sketch face builds from the
    * raw stream (spec-pinned), so the estimate column here IS the
    * production face's estimate — while the naive composition (run
    * both operators, join) paid a second corpus scan + hash pass
    * (measured: the r14 gate query dropped ~2× with this fold). The
    * sketch-only [[distinctNgramsApprox]] remains the 100 TB
    * production shape — THIS face inherently pays the exact
    * corpus-sized gram exchange. */
  def distinctNgramsAudit(docs: DataFrame, ns: Seq[Int] = Seq(1, 2, 3),
                          groupCol: String = "source",
                          textCol: String = "text",
                          lgK: Int = 14): DataFrame = {
    require(lgK >= 4 && lgK <= 21, s"lgK out of DataSketches range: $lgK")
    gramStream(docs, ns, groupCol, textCol)
      .groupBy(col(groupCol), col("n"), col("gram"))
      .agg(count(lit(1)).as("occ"))
      .groupBy(col(groupCol), col("n"))
      .agg(sum(col("occ")).cast("long").as("total_grams"),
        count(lit(1)).as("distinct_exact"),
        expr(s"hll_sketch_estimate(hll_sketch_agg(gram, $lgK))")
          .as("distinct_est"))
      .select(col(groupCol), col("n").cast("long").as("n"),
        col("total_grams"), col("distinct_exact"), col("distinct_est"))
      .orderBy(col(groupCol), col("n"))
  }

  /** Stupid-backoff n-gram LM scoring (Brants et al. 2007): counts are
    * TRAINED from `train` (the held-in corpus half) and each position
    * of `score` with a full trigram context is scored at the deepest
    * level its context was seen at —
    *
    *   lvl 3: c(w₋₂w₋₁w) / c(w₋₂w₋₁)     (trigram seen)
    *   lvl 2: c(w₋₁w) / c(w₋₁)           (backoff to bigram)
    *   lvl 1: (c(w)+1) / (N+1)           (add-one backstop — exact
    *           even for a token the training half never saw)
    *
    * The 0.4 backoff multiplier is NOT folded into the score: the
    * ratio sum stays exact in the l2 fixed point (Σ l2(num) − l2(den),
    * 1/1024-bit units, always ≤ 0) and the per-level position counts
    * travel as their own columns — a reader applies any α
    * downstream, and the (n_bo1, n_bo2) pair IS the fluency signal
    * (held-out text backs off; template text doesn't). This is the
    * corpus-TRAINED companion to [[lmScore]]'s planted-model face.
    *
    * Shape for 100 TB: ONE pass over `train` explodes each token with
    * its two predecessors (null-padded, so the finest (p2,p1,w) count
    * frame yields the bigram/unigram/total tables by re-aggregation,
    * localCheckpoint-cut: four consumers would otherwise each
    * re-derive the train scan); one pass over `score` explodes trigram
    * positions. The count-table lookups are SIZE-GATED joins
    * ([[Joins.fitsBroadcast]], decided once per table): the trigram
    * table is NOT vocab-bounded in practice — distinct-trigram count
    * grows near-linearly with natural-text corpus size (Heaps' law; the
    * r13 verdict's one `weak` was the unconditional `broadcast()` here,
    * which would OOM every executor at 100 TB) — so each table
    * broadcasts only while it fits `maxBroadcastRows` and degrades to a
    * shuffled hash join on its gram key above that (an explicit hint
    * either way: LogicalRDD legs past the checkpoint carry no size
    * estimates, so the planner cannot make this call). `minCount`
    * prunes trigram entries seen fewer than that many times BEFORE the
    * join — standard stupid-backoff practice (Brants 2007 §3 drop
    * singletons): on natural text singletons are MOST of the table, and
    * a pruned position simply scores one level shallower, exactly the
    * semantics the backoff ladder already defines. Default 1 = exact.
    * Only corpus-sized exchanges: the two scans' first aggregations
    * (plus, above the gate, the score side's per-level re-keying —
    * linear, hash-partitioned). Deterministic integers; ORDER BY id. */
  def backoffScore(train: DataFrame, score: DataFrame,
                   idCol: String = "doc_id",
                   textCol: String = "text",
                   minCount: Long = 1L,
                   maxBroadcastRows: Long = Joins.DefaultMaxBroadcastRows): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    // r20: both position walks are the compiled ContextTriples kernel —
    // the transform(sequence(...)) lambda bodies ran INTERPRETED per
    // position (the gramStream finding), and the train side walks half
    // the corpus. Semantics pinned bit-identical by TextKernelsSpec.
    val pos = train.select(explode(
      graft.functions.ContextTriples(col(textCol), 1)).as("s"))
    val cnt = pos
      .groupBy(col("s.p2").as("p2"), col("s.p1").as("p1"), col("s.w").as("w"))
      .agg(count(lit(1)).as("c"))
      .cut()
    // minCount prunes ONLY the deepest table: bigram/unigram counts
    // stay exact so every backoff denominator is consistent with its
    // numerator's level
    val c3 = cnt.where(col("p2").isNotNull && col("c") >= minCount)
      .select(col("p2"), col("p1"), col("w"), col("c").as("__tri"))
    // c2 and c1 each feed two join sides (and c1 the total) — cut the
    // tiny aggregates too, or every broadcast build re-runs them
    // (9 → 6 executed shuffles, ExchangeBudgets)
    val c2 = cnt.where(col("p1").isNotNull)
      .groupBy(col("p1"), col("w")).agg(sum(col("c")).cast("long").as("__big"))
      .cut()
    val c1 = cnt.groupBy(col("w")).agg(sum(col("c")).cast("long").as("__uni"))
      .cut()
    val tot = c1.agg(sum(col("__uni")).cast("long").as("__n"))
    val sp = score.select(col(idCol), explode(
      graft.functions.ContextTriples(col(textCol), 3)).as("s"))
      .select(col(idCol), col("s.p2").as("p2"), col("s.p1").as("p1"),
        col("s.w").as("w"))
    // one gate decision per BASE table (c3/c2/c1 are cut or
    // cut-derived, so the gate count is a cheap RDD pass); each view
    // of a table inherits its base's decision
    val triSmall = Joins.fitsBroadcast(c3, maxBroadcastRows)
    val bigSmall = Joins.fitsBroadcast(c2, maxBroadcastRows)
    val uniSmall = Joins.fitsBroadcast(c1, maxBroadcastRows)
    val joined = sp
      .join(Joins.hinted(triSmall, c3), Seq("p2", "p1", "w"), "left")
      .join(Joins.hinted(bigSmall, c2.select(col("p1").as("p2"),
        col("w").as("p1"), col("__big").as("__ctx3"))), Seq("p2", "p1"), "left")
      .join(Joins.hinted(bigSmall, c2), Seq("p1", "w"), "left")
      .join(Joins.hinted(uniSmall, c1.select(col("w").as("p1"),
        col("__uni").as("__ctx2"))), Seq("p1"), "left")
      .join(Joins.hinted(uniSmall, c1), Seq("w"), "left")
      .crossJoin(broadcast(tot))
    val lvl = when(col("__tri").isNotNull, 3)
      .when(col("__big").isNotNull, 2).otherwise(1)
    val contrib = when(col("__tri").isNotNull,
        l2Col(col("__tri")) - l2Col(col("__ctx3")))
      .when(col("__big").isNotNull,
        l2Col(col("__big")) - l2Col(col("__ctx2")))
      .otherwise(l2Col(coalesce(col("__uni"), lit(0L)) + 1L) -
        l2Col(col("__n") + 1L))
    joined
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_pos"),
        sum(when(lvl === 3, 1L).otherwise(0L)).cast("long").as("n_tri"),
        sum(when(lvl === 2, 1L).otherwise(0L)).cast("long").as("n_bo1"),
        sum(when(lvl === 1, 1L).otherwise(0L)).cast("long").as("n_bo2"),
        sum(contrib).cast("long").as("logp_fp"))
      .orderBy(col(idCol))
  }

  /** Host of a URL, normalized: scheme and port/path/query dropped,
    * leading `www.` stripped, lowercased. Regexes in the Java∩RE2
    * dialect so a DuckDB oracle replays them byte-for-byte; a non-URL
    * input yields the empty string (regexp_extract's no-match value in
    * both engines). */
  def domainOf(url: Column): Column =
    // lowercase BEFORE stripping www. — the reversed order misses
    // 'WWW.Host' (same both-sides bug canonicalUrl's spec caught: a
    // mirrored oracle cannot see it)
    regexp_replace(lower(
      regexp_extract(url, "^[A-Za-z]+://([^/:?#]+)", 1)), "^www\\.", "")

  /** Canonical form of a URL — the key for crawl-level dedup (the same
    * page is fetched as `http://WWW.X.com:80/a/`, `https://x.com/a#top`,
    * `https://x.com/a?utm_source=…`): scheme and host lowercased,
    * `www.` stripped, default ports (http:80, https:443) dropped,
    * non-default ports kept, QUERY AND FRAGMENT DROPPED (the aggressive
    * crawl-dedup policy — tracking params dominate query strings; keep
    * the query upstream if your corpus has meaningful ones), trailing
    * path slashes trimmed. Pure regexp_extract/replace + concat in the
    * Java∩RE2 dialect — a narrow codegen'd projection the oracle replays
    * byte-for-byte. Path CASE IS PRESERVED (paths are case-sensitive;
    * hosts aren't). A non-URL input canonicalizes to the empty string. */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z]+)://", 1))
    // lowercase BEFORE stripping www.: the strip pattern is lowercase and
    // 'WWW.Host' must not keep its prefix (caught by spec, not oracle —
    // a both-sides bug is invisible to a mirrored oracle)
    val host = regexp_replace(lower(
      regexp_extract(noFrag, "^[A-Za-z]+://([^/:?#]+)", 1)), "^www\\.", "")
    val port = regexp_extract(noFrag, "^[A-Za-z]+://[^/:?#]+:([0-9]+)", 1)
    // the path group matches the EMPTY alternative rather than being
    // optional: a non-participating group's extract differs between
    // engines; an empty match is '' in both
    val path = regexp_replace(
      regexp_extract(noFrag, "^[A-Za-z]+://[^/?#]*(/[^?#]*|)", 1), "/+$", "")
    val portPart = when(port === "" ||
        (scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    when(scheme === "", lit(""))
      .otherwise(concat(scheme, lit("://"), host, portPart, path))
  }

  /** Crawl-level URL dedup: group by [[canonicalUrl]], keep the min-id
    * fetch of each page, report the duplicate count — [[graft.llm.Dedup.exact]]'s
    * contract keyed on the canonical URL instead of the content hash (it
    * runs FIRST in a crawl pipeline: no text needs reading to drop a
    * re-fetch). A NON-PARSING url (canonical form '') is its own group:
    * collapsing every malformed row into one '' bucket would mark all
    * but one of them duplicates and silently drop distinct pages
    * (round-7 review catch, spec-pinned) — unparsed rows pass through
    * with `canonical_url = ''` and `dup_count = 1` for the caller's
    * quarantine policy. One groupBy on a string key; at 100 TB, hash the
    * canonical form (`xxhash64`) if URL lengths dominate the shuffle. */
  def urlDedup(docs: DataFrame, idCol: String = "doc_id",
               urlCol: String = "url"): DataFrame =
    docs
      .select(col(idCol), canonicalUrl(col(urlCol)).as("canonical_url"))
      .withColumn("__k", when(col("canonical_url") === "",
          concat(lit("unparsed:"), col(idCol).cast("string")))
        .otherwise(col("canonical_url")))
      .groupBy("__k")
      .agg(min(col("canonical_url")).as("canonical_url"),
        min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
      .select("canonical_url", "keep_id", "dup_count")

  /** URL blocklist gate — the web-corpus filter that runs before any
    * text processing: annotate each row with its normalized domain and
    * drop rows whose domain is blocked. A literal blocklist compiles to
    * a narrow NOT-IN filter — codegen'd, pushable, no join, no shuffle;
    * crawl blocklists are list-of-domains small by contract, and a
    * table-sized list should broadcast-anti-join on
    * [[domainOf]] instead. Fails fast if the input already has a
    * `domain` column (same reserved-working-column discipline as
    * [[graft.relational.AsOf]]) — withColumn would silently overwrite
    * the caller's data. */
  def blockDomains(docs: DataFrame, blocked: Seq[String],
                   urlCol: String = "url"): DataFrame = {
    require(!docs.columns.contains("domain"),
      "blockDomains writes a 'domain' working column; input already has one — rename it first")
    val d = docs.withColumn("domain", domainOf(col(urlCol)))
    if (blocked.isEmpty) d else d.where(!col("domain").isin(blocked: _*))
  }

  /** Corpus-DERIVED domain blocklist — where [[blockDomains]] applies a
    * list someone else wrote, domainGate derives the list from the corpus
    * itself (the spam/SEO-farm removal pass of web curation): a domain is
    * blocked when its MEAN [[qualityBp]] falls below `minAvgQualityBp`
    * (compared as `sum(q) < minAvg·n` — integer cross-multiplication,
    * no division, cross-engine exact) or when it crowds the corpus with
    * more than `maxDocsPerDomain` fetches (host-crowding: one domain
    * dominating a crawl is itself a spam signal). Rows whose URL does not
    * parse (domain = '') are NEVER gated — collapsing them into one ''
    * bucket would block or pass them as a group ([[urlDedup]]'s
    * round-7 lesson); they pass through with `domain = ''` for the
    * caller's quarantine policy.
    *
    * Plan shape (100 TB): one narrow domain+quality projection over the
    * scan, a map-side-combined `groupBy(domain)` whose exchange carries
    * per-domain partials (not rows), the gate on that tiny table, and a
    * BROADCAST anti join of the blocked list back onto the corpus — the
    * corpus itself is never shuffled. The broadcast assumes the BLOCKED
    * list stays driver-sized (failing domains are the tail, and a crawl's
    * domain count is millions, not billions); for an adversarial corpus
    * where most domains fail, drop the hint and let AQE pick the join. */
  def domainGate(docs: DataFrame, minAvgQualityBp: Long, maxDocsPerDomain: Long,
                 stopwords: Seq[String] = DefaultStopwords,
                 urlCol: String = "url", textCol: String = "text"): DataFrame = {
    require(!docs.columns.contains("domain"),
      "domainGate writes a 'domain' working column; input already has one — rename it first")
    require(minAvgQualityBp >= 0L && minAvgQualityBp <= 10000L,
      "minAvgQualityBp is a basis-point score in [0, 10000]")
    require(maxDocsPerDomain > 0L, "maxDocsPerDomain must be positive")
    val d = docs.withColumn("domain", domainOf(col(urlCol)))
    val blocked = d.where(col("domain") =!= "")
      .groupBy("domain")
      .agg(count(lit(1)).as("__n"),
        sum(qualityBp(col(textCol), stopwords)).as("__q"))
      .where(col("__q") < lit(minAvgQualityBp) * col("__n") ||
        col("__n") > maxDocsPerDomain)
      .select("domain")
    d.join(broadcast(blocked), Seq("domain"), "left_anti")
  }

  /** Deterministic text normalization — the C4-style cleanup pass that
    * runs before any hashing or dedup: lowercase, collapse whitespace
    * runs to a single space, trim. The regexes stay in the Java∩RE2
    * dialect ([[WsRun]]'s explicit class — `\s` itself differs between
    * the dialects on \x0B), so DuckDB replays them byte-for-byte. One narrow
    * codegen'd projection; `chars_removed` makes the cleanup observable
    * for pipeline accounting. */
  def normalize(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    docs
      .select(col(idCol), col(textCol),
        trim(regexp_replace(lower(col(textCol)), WsRun, " ")).as("norm_text"))
      .select(col(idCol), col("norm_text"),
        (length(col(textCol)) - length(col("norm_text"))).cast("long").as("chars_removed"))

  /** Gopher-style quality gate with per-rule accounting: evaluate each
    * drop rule as its own boolean flag — wrong language, token count out
    * of [minTokens, maxTokens], duplicate-n-gram fraction above
    * `maxRepetition` — plus the conjunctive `keep`. Every non-text input
    * column is carried through, so the caller can aggregate drop counts
    * by any dimension (the "why was data dropped" report a corpus
    * curation run publishes). All flags are narrow kernel projections
    * over the scan — no shuffle until the caller's accounting groupBy;
    * the repetition ratio reuses [[repetition]]'s integer round-half-up
    * basis points so the gate is cross-engine exact.
    *
    * NULL inputs fail closed: a NULL lang sets `fail_lang`, a NULL text
    * sets `fail_len` (and leaves `fail_rep` false, so the rep bucket
    * stays meaningful). Without the coalesce a NULL flag made `keep`
    * NULL — the doc counted in n_docs but in NO per-rule bucket and not
    * in n_kept, silently breaking the accounting invariant
    * `n_kept + |failures| covers n_docs`. */
  def qualityGate(docs: DataFrame, targetLang: String,
                  minTokens: Long, maxTokens: Long, maxRepetition: Double,
                  n: Int = 2, textCol: String = "text",
                  langCol: String = "lang"): DataFrame = {
    require(!docs.columns.exists(Seq("fail_lang", "fail_len", "fail_rep", "keep").contains),
      "qualityGate writes fail_lang/fail_len/fail_rep/keep; input already has one — rename it first")
    val t = toks(col(textCol))
    val g = graft.functions.WordShingles(col(textCol), n)
    val total = size(g).cast("long")
    val repBp = graft.functions.VectorFunctions.intDiv(
      (total - size(array_distinct(g)).cast("long")) * 20000 + total, total * 2)
    // every input column (text included) passes through — a gate that
    // drops the data it gates would force a re-join downstream; callers
    // that only want accounting drop the text themselves
    val keep = docs.columns.map(col).toSeq
    docs
      .select(keep ++ Seq(
        coalesce(col(langCol) =!= targetLang, lit(true)).as("fail_lang"),
        coalesce(size(t) < minTokens || size(t) > maxTokens, lit(true)).as("fail_len"),
        coalesce(repBp > math.round(maxRepetition * 10000), lit(false)).as("fail_rep")): _*)
      .withColumn("keep",
        !col("fail_lang") && !col("fail_len") && !col("fail_rep"))
  }

  /** Intra-document repetition score — the Gopher-style quality signal:
    * the fraction of a document's word n-grams that are repeats of an
    * earlier n-gram in the same document, `(total − distinct) / total`,
    * 4dp round-half-up in integer arithmetic (cross-engine exact, SURVEY
    * §2.9-bis rule 2). One narrow [[graft.functions.WordShingles]] kernel
    * pass + array_distinct per document — no explode, no shuffle; at
    * 100 TB this is a pure codegen'd projection over the scan. */
  def repetition(docs: DataFrame, n: Int = 2,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val g = docs.select(col(idCol),
      graft.functions.WordShingles(col(textCol), n).as("__g"))
    g.select(col(idCol),
        size(col("__g")).cast("long").as("n_grams"),
        size(array_distinct(col("__g"))).cast("long").as("n_distinct"))
      .select(col(idCol), col("n_grams"), col("n_distinct"),
        (graft.functions.VectorFunctions.intDiv(
          (col("n_grams") - col("n_distinct")) * 20000 + col("n_grams"),
          col("n_grams") * 2).cast("double") / 10000.0).as("rep_ratio"))
  }

  /** Adaptive length gate — [[qualityGate]]'s token-count band with the
    * cuts DERIVED from the corpus instead of fixed: keep documents whose
    * token count lies between the `pLow` and `pHigh` DISCRETE percentiles
    * (cut(p) = smallest count v with `|docs ≤ v| ≥ ceil(p·n)` — the exact
    * order-statistic definition, integer arithmetic end-to-end, so both
    * engines agree on every boundary document; interpolating percentiles
    * differ between engines in their last ulp and flip boundary rows).
    *
    * Plan shape for 100 TB: one narrow token-count projection, a groupBy
    * onto the LENGTH HISTOGRAM (cardinality = distinct doc lengths,
    * ~10⁵-ish at web scale — tiny), a running-sum window OVER THE
    * HISTOGRAM (single-partition by construction, and safe ONLY because
    * the input is histogram-sized, never the corpus), the two cuts
    * reduced to one broadcast row, and a narrow BETWEEN filter back over
    * the corpus. The corpus is scanned twice and shuffled never. */
  def adaptiveLengthGate(docs: DataFrame, pLow: Double, pHigh: Double,
                         idCol: String = "doc_id", textCol: String = "text",
                         tokenCount: Option[Column] = None): DataFrame = {
    require(pLow >= 0.0 && pHigh <= 1.0 && pLow < pHigh,
      s"need 0 <= pLow < pHigh <= 1, got ($pLow, $pHigh)")
    val intDiv = graft.functions.VectorFunctions.intDiv _
    val loBp = math.round(pLow * 10000)
    val hiBp = math.round(pHigh * 10000)
    // tokenCount overrides the length metric (e.g. [[bpeTokenCount]] for
    // subword-faithful cuts); the histogram stays count-keyed either way
    val nt = docs.select(col(idCol),
      tokenCount.getOrElse(size(toks(col(textCol))).cast("long")).as("n_tokens"))
    // ceil(p·n) in integer bp: (n·p_bp + 9999) div 10000
    val cuts = discreteCuts(nt, "n_tokens", Seq(
      "__lo" -> (t => intDiv(t * loBp + 9999L, lit(10000L))),
      "__hi" -> (t => intDiv(t * hiBp + 9999L, lit(10000L)))))
    nt.crossJoin(broadcast(cuts))
      .where(col("n_tokens").between(col("__lo"), col("__hi")))
      .select(col(idCol), col("n_tokens"))
  }

  /** THE discrete-percentile machinery [[adaptiveLengthGate]] and
    * [[qualityTiers]] share — one definition so the two order-statistic
    * operators can never drift: histogram over `valCol` (the groupBy
    * that shrinks the corpus to its value domain), running-sum CDF over
    * the HISTOGRAM (the only window — value-domain-sized by
    * construction, never corpus-sized), and one broadcast row of cuts,
    * each `min(valCol | cum ≥ rank(total))` for a caller-supplied rank
    * function (exact order statistics, integer arithmetic). */
  private def discreteCuts(vals: DataFrame, valCol: String,
                           ranks: Seq[(String, Column => Column)]): DataFrame = {
    // the histogram feeds TWO consumers (the CDF window and the total);
    // without a cut point each consumer re-derives it from the CORPUS —
    // one extra full scan per percentile-gated operator (caught in the
    // round-9 plan audit). The lazy localCheckpoint materializes the
    // tiny value-domain-sized frame once (the multi-consumer rule;
    // no lineage after the cut, by design — bounded by construction).
    val hist = vals.groupBy(valCol).agg(count(lit(1)).as("__c"))
      .cut()
    val cdf = hist.withColumn("__cum",
      sum(col("__c")).over(org.apache.spark.sql.expressions.Window
        .orderBy(valCol)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
    val withTotal = cdf.crossJoin(
      broadcast(hist.agg(sum(col("__c")).as("__total"))))
    val cutCols = ranks.map { case (name, rankOf) =>
      min(when(col("__cum") >= rankOf(col("__total")), col(valCol))).as(name)
    }
    withTotal.agg(cutCols.head, cutCols.tail: _*)
  }

  /** Quality-tier assignment — the curriculum/quality-bucket stage
    * (sample tier-3 web heavily, tier-0 rarely; DCLM-style quality
    * buckets): every document gets a tier in `[0, tiers)` from exact
    * DISCRETE percentile cuts over the [[qualityBp]] distribution —
    * cut_i = smallest score v with `|docs ≤ v| ≥ ceil(i·n/tiers)`
    * ([[adaptiveLengthGate]]'s order-statistic definition, integer
    * arithmetic end-to-end), tier = #cuts at or below the document's
    * score. Deterministic and total; heavy ties at a cut land in the
    * higher tier together, so tier POPULATIONS are equal only up to
    * tie mass — what exact bucketing means on a discrete score.
    *
    * Plan shape is [[adaptiveLengthGate]]'s verbatim: narrow score
    * projection, histogram groupBy (cardinality ≤ 10⁴+1 by construction
    * — the score is basis points), running sum over the HISTOGRAM (the
    * only window, score-domain-sized), cuts reduced to one broadcast
    * row, narrow tier projection back over the corpus. Scanned twice,
    * shuffled never. */
  def qualityTiers(docs: DataFrame, tiers: Int,
                   stopwords: Seq[String] = DefaultStopwords,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(tiers >= 2 && tiers <= 1000, s"tiers must be in [2, 1000], got $tiers")
    val intDiv = graft.functions.VectorFunctions.intDiv _
    val q = docs.select(col(idCol), qualityBp(col(textCol), stopwords).as("quality_bp"))
    // ceil(i·n/tiers): cut_i = smallest score covering the i-th k-tile
    val cuts = discreteCuts(q, "quality_bp", (1 until tiers).map { i =>
      s"__cut$i" -> ((t: Column) => intDiv(t * i + (tiers - 1), lit(tiers.toLong)))
    })
    q.crossJoin(broadcast(cuts))
      .select(col(idCol), col("quality_bp"),
        (1 until tiers).foldLeft(lit(0L)) { (acc, i) =>
          acc + when(col("quality_bp") >= col(s"__cut$i"), 1L).otherwise(0L)
        }.as("tier"))
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169), the hashed-n-gram data-selection stage: score
    * every document by how much its k-gram distribution looks like a
    * TARGET slice of the corpus (`isTarget`, e.g. a curated/wiki-like
    * source) versus the raw corpus, then keep the top `keepFraction` by
    * score. Deterministic, integer-exact, oracle-able end to end:
    *  - features: [[graft.functions.HashedNgramBuckets]] — one bucket in
    *    [0, buckets) per k-gram, the winnowing hash chain mod `buckets`;
    *  - bucket log-ratio: `lw(b) = [l2(tgt_b+1) − l2(T+NB)] −
    *    [l2(raw_b+1) − l2(R+NB)]` — add-one-smoothed log importance
    *    ratio in fixed-point log2 units of 1/1024 bit, where `l2` is the
    *    integer fixed-point log2 `msb·1024 + (x·1024 >> msb) − 1024`
    *    (replayable in SQL as `length(bin(x))-1` + shift arithmetic),
    *    T/R the target/raw gram totals and NB the observed-bucket count;
    *  - score: [[graft.functions.HashedNgramScore]] — 1024·Σ lw[bucket]
    *    over the doc's grams, truncating-divided by the gram count
    *    (length-normalized: selection ranks distributional fit, not
    *    document length — measured corr(score, length) ≈ 0);
    *  - keep: score-quantile gate via [[discreteCuts]] over the
    *    `score div quantum` HISTOGRAM — cut = smallest quantized score
    *    with `cum ≥ ceil((1−keepFraction)·n)`, ties land high (the
    *    [[qualityTiers]] discipline), so the kept set is the top
    *    `keepFraction` up to tie mass at one quantum boundary.
    * Token-free documents have no features and are dropped (they cannot
    * be scored); returns (idCol, dsir_score) of kept docs.
    *
    * Plan shape for 100 TB: scan 1 computes BOTH distributions in one
    * conditional-aggregate pass (explode → groupBy bucket, map-side
    * combined onto ≤ `buckets` keys); the ≤ `buckets` rows collect to
    * the driver (hard-capped at 2²⁰ by construction — 8 MB of weights,
    * the codebook discipline) and compile into the score kernel's
    * reference array; scans 2–3 are [[adaptiveLengthGate]]'s shape —
    * narrow score projection, histogram groupBy + one histogram-sized
    * window (bounded because scores are QUANTIZED: domain ≤ score
    * range / quantum, ~10³–10⁵ values), one broadcast cut row, narrow
    * filter. The corpus is scanned three times and shuffled never. */
  def dsir(docs: DataFrame, isTarget: Column, keepFraction: Double,
           k: Int = 2, buckets: Int = 64, quantum: Long = 1024L,
           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(keepFraction > 0.0 && keepFraction < 1.0,
      s"keepFraction must be in (0, 1), got $keepFraction")
    require(quantum >= 1L, s"quantum must be >= 1, got $quantum")
    val (rawC, tgtC) = dsirDist(docs, isTarget, k, buckets, textCol)
    dsirSelect(docs, dsirWeights(rawC, tgtC), keepFraction, k, buckets,
      quantum, idCol, textCol)
  }

  /** [[dsir]] returning the kept documents with ALL input columns plus
    * `dsir_score` — the composition face (a downstream stage needs the
    * text/strata it selects on, and joining the (id, score) projection
    * back would cost a corpus-sized shuffle the in-place filter
    * avoids). Same distributions, weights, score kernel and percentile
    * cut as [[dsir]] — one machinery, two output shapes. */
  def dsirKeep(docs: DataFrame, isTarget: Column, keepFraction: Double,
               k: Int = 2, buckets: Int = 64, quantum: Long = 1024L,
               idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(keepFraction > 0.0 && keepFraction < 1.0,
      s"keepFraction must be in (0, 1), got $keepFraction")
    require(quantum >= 1L, s"quantum must be >= 1, got $quantum")
    require(!docs.columns.contains("dsir_score"),
      "dsirKeep writes a 'dsir_score' column; input already has one — rename it first")
    val (rawC, tgtC) = dsirDist(docs, isTarget, k, buckets, textCol)
    dsirSelect(docs, dsirWeights(rawC, tgtC), keepFraction, k, buckets,
      quantum, idCol, textCol, keepAll = true)
  }

  /** Scan 1 of the DSIR plan: raw + target gram-bucket counts in ONE
    * conditional-aggregate pass; ≤ `buckets` rows collect to the driver
    * (hard-capped at 2²⁰ by construction — the codebook discipline). */
  private def dsirDist(docs: DataFrame, isTarget: Column, k: Int,
                       buckets: Int, textCol: String): (Array[Long], Array[Long]) = {
    val dist = docs.select(
        explode(graft.functions.HashedNgramBuckets(col(textCol), k, buckets)).as("__b"),
        isTarget.cast("boolean").as("__t"))
      .groupBy("__b")
      .agg(count(lit(1)).as("__raw"),
        count(when(col("__t"), lit(1))).as("__tgt"))
      .collect()
    val rawC = new Array[Long](buckets)
    val tgtC = new Array[Long](buckets)
    dist.foreach { r =>
      val b = r.getLong(0).toInt
      rawC(b) = r.getLong(1)
      tgtC(b) = r.getLong(2)
    }
    (rawC, tgtC)
  }

  /** [[dsir]] when the target is a SEPARATE curated corpus (the method's
    * native call shape — Xie et al. score a raw crawl against Wikipedia
    * + books): the raw distribution comes from `docs` alone, the target
    * distribution from `target` alone, and only `docs` are scored and
    * selected. Same integer weight/score/cut machinery as [[dsir]]
    * (which handles the target-is-a-slice-of-the-corpus case); the
    * smoothing constant counts buckets observed in EITHER corpus. One
    * extra distribution scan over `target` — everything else is
    * [[dsir]]'s plan shape. */
  def dsirAgainst(docs: DataFrame, target: DataFrame, keepFraction: Double,
                  k: Int = 2, buckets: Int = 64, quantum: Long = 1024L,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(keepFraction > 0.0 && keepFraction < 1.0,
      s"keepFraction must be in (0, 1), got $keepFraction")
    require(quantum >= 1L, s"quantum must be >= 1, got $quantum")
    def counts(df: DataFrame): Array[Long] = {
      val out = new Array[Long](buckets)
      df.select(explode(
          graft.functions.HashedNgramBuckets(col(textCol), k, buckets)).as("__b"))
        .groupBy("__b").agg(count(lit(1)).as("__n"))
        .collect()
        .foreach(r => out(r.getLong(0).toInt) = r.getLong(1))
      out
    }
    dsirSelect(docs, dsirWeights(counts(docs), counts(target)), keepFraction,
      k, buckets, quantum, idCol, textCol)
  }

  /** Add-one-smoothed fixed-point log2 importance weights shared by
    * [[dsir]] and [[dsirAgainst]] — one definition so the two entry
    * points can never drift. `l2(x) = msb·1024 + (x·1024 >> msb) − 1024`
    * (1/1024-bit units, exact integer arithmetic for x ≤ 2⁵²); the
    * smoothing normalizer counts observed buckets. */
  private def dsirWeights(rawC: Array[Long], tgtC: Array[Long]): Array[Long] = {
    val buckets = rawC.length
    def l2(x: Long): Long = {
      val msb = 63 - java.lang.Long.numberOfLeadingZeros(x)
      msb * 1024L + ((x << 10) >> msb) - 1024L
    }
    var nb = 0L
    var b = 0
    while (b < buckets) {
      if (rawC(b) > 0 || tgtC(b) > 0) nb += 1
      b += 1
    }
    val weights = new Array[Long](buckets)
    if (nb > 0) {
      val tNorm = l2(tgtC.sum + nb)
      val rNorm = l2(rawC.sum + nb)
      b = 0
      while (b < buckets) {
        if (rawC(b) > 0 || tgtC(b) > 0)
          weights(b) = (l2(tgtC(b) + 1) - tNorm) - (l2(rawC(b) + 1) - rNorm)
        b += 1
      }
    }
    weights
  }

  /** Scans 2–3 of the DSIR plan, shared by both entry points: narrow
    * score projection, quantized score-histogram percentile cut, keep. */
  private def dsirSelect(docs: DataFrame, weights: Array[Long],
                         keepFraction: Double, k: Int, buckets: Int,
                         quantum: Long, idCol: String,
                         textCol: String, keepAll: Boolean = false): DataFrame = {
    val intDiv = graft.functions.VectorFunctions.intDiv _
    // withColumn (not a narrow select) so keepAll can carry the input
    // columns through; the (id, score) shape still prunes to a narrow
    // scan — the final select drops everything else before the source
    val scored = docs.withColumn("dsir_score",
        graft.functions.HashedNgramScore(col(textCol), k, buckets, weights))
      .where(col("dsir_score").isNotNull)
      .withColumn("__sq", intDiv(col("dsir_score"), lit(quantum)))
    val dropBp = 10000L - math.round(keepFraction * 10000)
    val cuts = discreteCuts(scored, "__sq", Seq(
      "__cut" -> (t => intDiv(t * dropBp + 9999L, lit(10000L)))))
    val kept = scored.crossJoin(broadcast(cuts))
      .where(col("__sq") >= col("__cut"))
    if (keepAll) kept.drop("__sq", "__cut")
    else kept.select(col(idCol), col("dsir_score"))
  }

  /** A fixed n-gram language model as DATA: integer centi-log-prob scores
    * per unigram/bigram plus backoff and OOV penalties — the
    * deterministic stand-in for a KenLM binary (the model is a table;
    * scoring is lookup + addition). */
  final case class LmModel(unigrams: Seq[(String, Long)],
                           bigrams: Seq[(String, String, Long)],
                           backoffPenalty: Long, oovPenalty: Long)

  /** Perplexity-style LM quality scoring (the CCNet/Gopher "does this
    * document look like the reference corpus" filter): total
    * [[graft.functions.NgramLmScore]] over the [[WsRun]] words, the
    * transition count, and a keep flag gating on the PER-TRANSITION
    * score — `lm_score >= n_trans · minPerTransition`, kept in integer
    * space so both engines agree on every boundary document (scores are
    * negative centi-log-probs, so a HIGHER per-transition score means
    * more model-like text). Documents with fewer than two words have no
    * transitions and keep trivially (0 ≥ 0) — compose with a length
    * gate, which is the stage that owns short-document policy.
    * One narrow kernel projection: no explode, no model join, no
    * shuffle. */
  def lmScore(docs: DataFrame, model: LmModel, minPerTransition: Long,
              idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val t = split(col(textCol), WsRun)
    val nTrans = greatest(size(t).cast("long") - 1L, lit(0L))
    val sc = graft.functions.NgramLmScore(t, model.unigrams, model.bigrams,
      model.backoffPenalty, model.oovPenalty)
    docs.select(col(idCol), sc.as("lm_score"), nTrans.as("n_trans"),
      (sc >= nTrans * minPerTransition).as("keep"))
  }

  /** CCNet-style per-LANGUAGE perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359): score every document against the reference LM
    * ([[lmScore]]'s kernel), normalize to a per-transition integer
    * perplexity proxy (`ppl_ct = −lm_score·10³ div n_trans` — scores are
    * negative centi-log-probs, so HIGHER ppl_ct = less model-like), and
    * cut each LANGUAGE's distribution into head/middle/tail terciles —
    * per-lang cuts are the point (CCNet's insight: one global cut just
    * ranks languages by their LM coverage; within-language terciles rank
    * documents). Documents with <2 words have no transitions and are
    * excluded — the length gate owns short-document policy ([[lmScore]]).
    *
    * Cuts are exact discrete order statistics over the QUANTIZED
    * perplexity (`ppl_ct div quantum` — the [[dsir]] quantum discipline:
    * the histogram domain is bounded by score-range/quantum, not corpus
    * size): cut_i = smallest quantized value v with
    * `|lang docs ≤ v| ≥ ceil(i·n_lang/3)`; a document's bucket compares
    * its quantized value against its language's cuts, so tie mass at a
    * cut lands in the lower (better) bucket together.
    *
    * Plan shape at 100 TB: narrow kernel score projection (scanned
    * twice, the [[qualityTiers]] discipline — re-deriving a narrow
    * projection beats checkpointing a corpus-sized frame), histogram
    * groupBy onto (lang, quantized) keys, CDF window PARTITIONED BY
    * LANG over the histogram (per-lang value-domain-sized, never
    * corpus-sized, never partition-less), cuts reduced to one
    * |langs|-row broadcast frame, narrow bucket projection back over
    * the corpus. Shuffles are histogram-sized; the corpus never
    * shuffles. */
  def pplBuckets(docs: DataFrame, model: LmModel, quantum: Long = 1024L,
                 langCol: String = "lang", idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    require(quantum >= 1L, s"quantum must be >= 1, got $quantum")
    val intDiv = graft.functions.VectorFunctions.intDiv _
    val t = split(col(textCol), WsRun)
    val nTrans = size(t).cast("long") - 1L
    val sc = graft.functions.NgramLmScore(t, model.unigrams, model.bigrams,
      model.backoffPenalty, model.oovPenalty)
    def scored = docs
      .select(col(idCol), col(langCol), sc.as("__lm"), nTrans.as("__n"))
      .where(col("__n") >= 1L)
      .select(col(idCol), col(langCol),
        intDiv(col("__lm") * -1000L, col("__n")).as("ppl_ct"))
      .withColumn("__pq", intDiv(col("ppl_ct"), lit(quantum)))
    val hist = scored.groupBy(col(langCol), col("__pq"))
      .agg(count(lit(1)).as("__c"))
    // the CDF feeds two consumers (per-lang totals + the cut election) —
    // cut the tiny histogram-sized frame once (the multi-consumer rule)
    val cdf = hist.withColumn("__cum",
        sum(col("__c")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(langCol).orderBy("__pq")
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .cut()
    val totals = cdf.groupBy(langCol).agg(max(col("__cum")).as("__total"))
    val cuts = cdf.join(broadcast(totals), langCol)
      .groupBy(langCol)
      .agg(
        min(when(col("__cum") >= intDiv(col("__total") + 2L, lit(3L)),
          col("__pq"))).as("__c1"),
        min(when(col("__cum") >= intDiv(col("__total") * 2L + 2L, lit(3L)),
          col("__pq"))).as("__c2"))
    scored.join(broadcast(cuts), langCol)
      .select(col(idCol), col(langCol), col("ppl_ct"),
        when(col("__pq") <= col("__c1"), "head")
          .when(col("__pq") <= col("__c2"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Document fingerprint: min over 5-char-gram xxhash64 rolling hashes —
    * a winnowing-style content signature, stable under trailing edits.
    * One narrow kernel pass per doc ([[graft.functions.MinGramHash]] —
    * the transform-over-sequence HOF it replaces ran an interpreted
    * xxhash64 + substr per character position).
    * xxhash64 is Spark-specific → no DuckDB oracle (rows-only check). */
  def fingerprint(docs: DataFrame, gram: Int = 5,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      graft.functions.MinGramHash(col(textCol), gram).as("fingerprint"))

  /** [[fingerprint]] under the CROSS-ENGINE base-31 code-point chain mod
    * 2³¹−1 instead of xxhash64 — the [[winnow]] relationship exactly:
    * same rolling char-gram min shape, but every gram hash replays in
    * DuckDB SQL (`list_reduce` over `string_split(text, '')` slices), so
    * the family is oracle-gated end to end (llm_fingerprint_poly) while
    * the xxhash64 face stays the production default (avalanche mixing).
    * Empty texts carry no gram → NULL fingerprint; both engines filter
    * them rather than inventing a sentinel. */
  def fingerprintPoly(docs: DataFrame, gram: Int = 5,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.where(length(col(textCol)) > 0)
      .select(col(idCol),
        graft.functions.PolyMinGramHash(col(textCol), gram).as("fingerprint"))

  /** Winnowing fingerprints (Schleimer et al. 2003 — MOSS): one row per
    * (doc, selected fingerprint). Where [[fingerprint]] is one global
    * min per document (cheap, but a single leading edit changes it),
    * winnowing guarantees any shared token run of ≥ w+k−1 tokens between
    * two documents yields a SHARED fingerprint — the position-robust
    * overlap signal plagiarism/boilerplate detection joins on. All
    * arithmetic is polynomial hashing mod 2³¹−1
    * ([[graft.functions.TextKernelObjs.winnow]]), replayable in ANSI SQL
    * — unlike [[fingerprint]]'s xxhash64, this IS oracle-gated.
    *
    * Scale shape: ONE narrow kernel projection + explode — no shuffle at
    * all; output is ~1/w of the gram stream. Overlap mining composes
    * downstream: join/[[graft.llm.Dedup]]-style banding on `fp` keys,
    * each fingerprint a 2³¹-bounded long. */
  def winnow(docs: DataFrame, k: Int = 3, w: Int = 4,
             idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      explode(graft.functions.WinnowFingerprints(col(textCol), k, w)).as("fp"))
}
