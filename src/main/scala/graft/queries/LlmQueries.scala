package graft.queries

import graft.llm.{Audit, Curation, Dedup, Multimodal, Packing, Sampling, Similarity, TextStats}
import graft.model.Tables
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._

/** North-star LLM-data-pipeline queries (SURVEY §2.9 + builder-prompt
  * mandate): dedup (exact / MinHash-LSH / SimHash / n-gram Jaccard /
  * embedding-cosine), similarity search (brute-force + IVF), text analysis
  * (lang-ID, quality, tokens, fingerprint) and multimodal plumbing.
  *
  * Bounded-subset policy: candidate-pair generators run on a fixed id
  * prefix (stable across scale factors) so the declared queries stay
  * deterministic and bench-bounded, while the library functions themselves
  * scale to the full corpus (see graft.llm scaladocs for the 100 TB paths).
  */
object LlmQueries {

  private val docCap = 2000L  // fixed prefix for pairwise ops

  /** Shared DuckDB CTE fragments for the poly-hash near-dup family —
    * the codebook discipline applied to SQL TEXT: the token-hash /
    * gram-hash / minhash-lane / band-signature chain and the
    * exact-Jaccard verify are generated from ONE definition, so the
    * three gates that replay them (llm_dedup_near_poly,
    * llm_dedup_incremental_near_poly, llm_curate_full_poly) cannot
    * drift from each other. Each fragment expects a `toks` CTE in scope
    * with (carry..., doc_id, tk, tkf); `carry` columns ride through. */
  private object PolySql {
    /** th → gh → lanes → sigs: per-doc token hashes (base-31 chain mod
      * 2³¹−1), k=2 gram hashes (base-1000003), `lanes` affine minhash
      * lanes, and per-band polynomial signatures. */
    def laneSigCtes(carry: Seq[String] = Nil, lanes: Int = 16,
                    bands: Int = 8, rowsPerBand: Int = 2): String = {
      val cy = carry.map(_ + ", ").mkString
      s"""th AS (
         |  SELECT ${cy}doc_id, list_transform(tkf, t ->
         |      list_reduce(list_transform(string_split(t, ''),
         |          c -> CAST(unicode(c) AS BIGINT)),
         |        (a, b) -> (a * 31 + b) % 2147483647)) AS hs
         |  FROM toks WHERE len(tkf) > 0),
         |gh AS (
         |  SELECT ${cy}doc_id, list_transform(range(1, greatest(len(hs) - 2, 0) + 2),
         |      p -> list_reduce(hs[p:least(p + 1, len(hs))],
         |        (a, b) -> (a * 1000003 + b) % 2147483647)) AS gh
         |  FROM th),
         |lanes AS (
         |  SELECT ${cy}doc_id, list_transform(range(0, $lanes),
         |      i -> list_min(list_transform(gh,
         |        g -> ((2*i + 3) * g + (5*i + 7)) % 2147483647))) AS ln
         |  FROM gh),
         |sigs AS (
         |  SELECT ${cy}doc_id, band,
         |    list_reduce(ln[band*$rowsPerBand + 1:band*$rowsPerBand + $rowsPerBand],
         |      (a, b) -> (a * 1000003 + b) % 2147483647) AS sig
         |  FROM (SELECT ${cy}doc_id, unnest(range(0, $bands)) AS band, ln FROM lanes))""".stripMargin
    }

    /** Distinct k=2 word-shingle sets per doc (the exact-verify input). */
    def shingleCte(carry: Seq[String] = Nil): String = {
      val cy = carry.map(_ + ", ").mkString
      s"""sh AS (
         |  SELECT ${cy}doc_id, list_distinct(list_transform(
         |      range(1, greatest(len(tk) - 1, 1) + 1),
         |      i -> array_to_string(tk[i:i+1], ' '))) AS s
         |  FROM toks)""".stripMargin
    }

    /** Round-half-up 4dp Jaccard of sa.s vs sb.s (the one rounding
      * discipline `Dedup.jaccardOf` uses). */
    val jaccard: String =
      """((20000 * CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT)
        |          + CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS BIGINT))
        |         // (2 * CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS BIGINT)))
        |        / 10000.0""".stripMargin
  }
  private val vecCap = 500L

  // Planted structural-defect classes for llm_gopher_rules (the
  // oracle-planting discipline: the fixture corpus is clean single-line
  // text, so each Gopher rule's fail branch is planted identically on
  // both sides). Single definitions — the SQL literals are derived from
  // these strings, never re-typed.
  private val gopherBullets: String =
    Seq.fill(8)("- the fast alpha beta gamma").mkString("\n")
  private val gopherEllipsis: String =
    Seq.fill(8)("the fast alpha beta gamma...").mkString("\n")
  private val gopherSymbols: String = " " + Seq.fill(12)("#").mkString(" ")
  private val gopherDigits: String =
    (1 to 21).map(i => f"$i%02d").mkString(" ")
  private val gopherLongWords: String =
    "the fast " + Seq.fill(23)("abcdefghijklmnop").mkString(" ")

  // Planted repetition-defect classes for llm_rep_rules (%19 residues
  // 1–3): duplicated lines, a dominant bigram, a repeated 5-gram block.
  // Classes 1–2 legitimately fail several rules at once (duplicate
  // lines DO duplicate bigrams and 5-grams); class 3 isolates the
  // dup-gram rule (its bigrams tie at count 2, below the top-gram cut).
  private val repDupLines: String =
    (Seq.fill(3)("the fast line one") :+ "unique a line two").mkString("\n")
  private val repBigramSpam: String =
    Seq.fill(6)("buy now").mkString(" ") + " the a fast slow end here"
  private val repDupGram: String =
    "c1 c2 c3 c4 c5 the a c1 c2 c3 c4 c5 fast slow end here now www qqq zzz rrr"

  private object GopherSql {
    private def nlJoin(s: String): String =
      "'" + s.split("\n").mkString("' || chr(10) || '") + "'"

    /** planted → c → f → r: the planted defect classes and the
      * per-document integer feature/ratio chain shared VERBATIM by
      * llm_gopher_rules (per-doc verdicts) and llm_gopher_mix (the
      * per-source rollup) — one definition, two gated faces. `carry`
      * threads extra columns (e.g. source) through every CTE. */
    def ctes(carry: Seq[String] = Nil): String = {
      val cy = carry.map(_ + ", ").mkString
      s"""planted AS (
         |  SELECT ${cy}doc_id,
         |    CASE doc_id % 13
         |      WHEN 3 THEN ${nlJoin(gopherBullets)}
         |      WHEN 4 THEN ${nlJoin(gopherEllipsis)}
         |      WHEN 5 THEN text || '$gopherSymbols'
         |      WHEN 6 THEN '$gopherDigits'
         |      WHEN 7 THEN '$gopherLongWords'
         |      ELSE text END AS text
         |  FROM documents),
         |c AS (
         |  SELECT ${cy}doc_id,
         |    regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+') AS tk,
         |    string_split(text, chr(10)) AS ln,
         |    CAST(length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]+', '', 'g'))
         |      AS BIGINT) AS nch,
         |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT) AS nhash,
         |    CAST((length(text) - length(replace(text, '...', ''))) // 3
         |      AS BIGINT) AS nell
         |  FROM planted),
         |f AS (
         |  SELECT ${cy}doc_id,
         |    CAST(len(tk) AS BIGINT) AS nt, CAST(len(ln) AS BIGINT) AS nl,
         |    nch, nhash + nell AS nsym,
         |    CAST(len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]')))
         |      AS BIGINT) AS na,
         |    CAST(len(list_filter(tk,
         |      t -> list_contains(['the', 'a', 'fast', 'slow'], t))) AS BIGINT) AS ns,
         |    CAST(len(list_filter(ln,
         |      l -> starts_with(l, '- ') OR starts_with(l, '* '))) AS BIGINT) AS nb,
         |    CAST(len(list_filter(ln, l -> ends_with(l, '...'))) AS BIGINT) AS ne
         |  FROM c),
         |r AS (
         |  SELECT ${cy}doc_id, nt, nl,
         |    (nch * 20000 + nt) // (2 * nt) AS mean_bp,
         |    (nsym * 20000 + nt) // (2 * nt) AS sym_bp,
         |    (nb * 20000 + nl) // (2 * nl) AS bullet_bp,
         |    (ne * 20000 + nl) // (2 * nl) AS ell_bp,
         |    (na * 20000 + nt) // (2 * nt) AS alpha_bp,
         |    ns
         |  FROM f)""".stripMargin
    }

    /** The per-rule predicates over `r`'s columns — spelled once. */
    val wordsOk = "nt BETWEEN 20 AND 90"
    val meanOk = "mean_bp BETWEEN 30000 AND 100000"
    val symOk = "sym_bp <= 1000"
    val bulletOk = "bullet_bp <= 9000"
    val ellOk = "ell_bp <= 3000"
    val alphaOk = "alpha_bp >= 8000"
    val stopOk = "ns >= 2"
    val keepCond: String =
      s"($wordsOk) AND ($meanOk) AND $symOk AND $bulletOk AND $ellOk" +
        s" AND $alphaOk AND $stopOk"
  }

  /** The Spark-side planted defect classes — same %13 residue map as
    * [[GopherSql.ctes]], shared by both gopher faces. */
  private def gopherPlanted(docs: org.apache.spark.sql.DataFrame,
                            extraCols: Seq[String]) = {
    val m = pmod(col("doc_id"), lit(13))
    docs.select((Seq(col("doc_id")) ++ extraCols.map(col)) :+
      when(m === 3, lit(gopherBullets))
        .when(m === 4, lit(gopherEllipsis))
        .when(m === 5, concat(col("text"), lit(gopherSymbols)))
        .when(m === 6, lit(gopherDigits))
        .when(m === 7, lit(gopherLongWords))
        .otherwise(col("text")).as("text"): _*)
  }

  // Planted subword vocabulary for the BPE-budget queries (the llm_redact
  // discipline: the tokenizer model is DATA, planted identically on both
  // sides). Entries overlap ('scan' vs 'sc'+'an') so greedy longest-match
  // actually discriminates; unmatched code points fall back to
  // single-char tokens.
  private val bpeVocab: Seq[String] = Seq(
    "scan", "sc", "an", "cust", "omer", "er", "ta", "ble", "or", "der",
    "val", "ue", "qu", "ery", "ow", "in", "dow", "str", "eam", "gr",
    "oup", "jo", "ha", "sh", "ba", "tch", "fil", "ter", "sm", "all",
    "ro", "w", "li", "ne", "da", "the", "key", "agg")

  // Planted product-quantization codebooks for llm_pq: 8 subspaces ×
  // 4 centroids × 8 dims, quarter-step values in [-2.25, 2.25] — every
  // value exactly representable in binary, so squared-L2 double
  // arithmetic is identical across engines; formula-generated so the
  // Spark kernel and the DuckDB VALUES literal share one definition.
  // private[graft] so the benchmark under perfbench/ measures the
  // DECLARED codebooks instead of a silently-drifting copy
  private[graft] val pqCodebooks: Seq[Seq[Seq[Double]]] =
    (0 until 8).map(s => (0 until 4).map(k =>
      (0 until 8).map(j => (((s * 31 + k * 17 + j * 7) % 19) - 9) / 4.0)))

  // Planted full-width codebook for llm_cluster_balance: ONE subspace of
  // 8 centroids x 64 dims (the fixture's embedding width), same
  // quarter-step formula family as pqCodebooks — every value exactly
  // representable, squared-L2 double arithmetic identical cross-engine.
  private[graft] val clusterCodebook: Seq[Seq[Double]] =
    (0 until 8).map(k => (0 until 64).map(j => (((k * 17 + j * 7) % 19) - 9) / 4.0))

  // The IVF-PQ search oracle, shared VERBATIM by llm_ivf_pq (inline
  // construction) and llm_pq_persist (write → reload → search): the
  // persisted round trip must be IDENTITY, so the two queries gating on
  // one SQL string is itself the save/load contract. llm_ann_probe
  // (r19) replays the SAME search over a different `e` corpus — the
  // bootstrap set plus two planted ingest batches — so the body is
  // parameterized by the e-CTE body (pre-stripped fragments are
  // CONCATENATED, never re-interpolated into a stripMargin — the r13
  // rule). r20 splits the CTE chain (through `rk`, every query's ADC
  // ranking) from the final select so llm_ann_rerank can extend it,
  // and adds `candWhere` — the candidate-domain filter of the
  // filter-then-rank serving face (a single-line fragment, safe to
  // interpolate in place).
  private def ivfPqCtes(eBody: String, candWhere: String = ""): String = {
    val coarseSql = clusterCodebook.zipWithIndex.map { case (vals, kk) =>
      s"($kk, [${vals.mkString(", ")}])"
    }.mkString(", ")
    val cbSql = pqCodebooks.zipWithIndex.flatMap { case (ks, s) =>
      ks.zipWithIndex.map { case (vals, k) =>
        s"($s, $k, [${vals.mkString(", ")}])"
      }
    }.mkString(", ")
    s"""WITH co(code, vals) AS (VALUES $coarseSql),
       |coi AS (SELECT code,
       |  list_transform(vals, v -> CAST(round(v * 4) AS BIGINT)) AS ci FROM co),
       |cb(sub, code, vals) AS (VALUES $cbSql),
       |cbi AS (SELECT sub, code,
       |  list_transform(vals, v -> CAST(round(v * 4) AS BIGINT)) AS ci FROM cb),
       |e AS (""".stripMargin + eBody + s"""),
       |cd AS (SELECT vec_id, co.code,
       |        list_reduce(list_transform(range(1, 65),
       |          j -> (v[j] - vals[j]) * (v[j] - vals[j])), (a, b) -> a + b) AS dist
       |      FROM e, co),
       |cr AS (SELECT vec_id, code,
       |        row_number() OVER (PARTITION BY vec_id ORDER BY dist, code) AS rn
       |      FROM cd),
       |cells AS (SELECT vec_id, code AS cell FROM cr WHERE rn = 1),
       |sv AS (SELECT vec_id, s.sub, v[s.sub*8+1 : s.sub*8+8] AS sl
       |       FROM e, (SELECT unnest(range(0, 8)) AS sub) s),
       |d AS (SELECT vec_id, sv.sub, cb.code,
       |        list_sum(list_transform(range(1, 9),
       |          j -> (sl[j] - vals[j]) * (sl[j] - vals[j]))) AS dist
       |      FROM sv JOIN cb ON sv.sub = cb.sub),
       |r AS (SELECT vec_id, sub, code,
       |        row_number() OVER (PARTITION BY vec_id, sub
       |          ORDER BY dist, code) AS rn
       |      FROM d),
       |codes AS (SELECT vec_id, sub, code FROM r WHERE rn = 1),
       |q AS (SELECT vec_id AS qid,
       |        list_transform(v, x -> CAST(floor(x * 4 + 0.5) AS BIGINT)) AS qi
       |      FROM e WHERE vec_id < 20),
       |route AS (SELECT qid, coi.code AS cell,
       |            row_number() OVER (PARTITION BY qid ORDER BY
       |              list_sum(list_transform(range(1, 65),
       |                j -> (qi[j] - ci[j]) * (qi[j] - ci[j]))), coi.code) AS rn
       |          FROM q, coi),
       |probed AS (SELECT qid, cell FROM route WHERE rn <= 3),
       |lut AS (SELECT qid, cbi.sub, cbi.code,
       |          list_sum(list_transform(range(1, 9),
       |            j -> (qi[sub*8+j] - ci[j]) * (qi[sub*8+j] - ci[j]))) AS dd
       |        FROM q, cbi),
       |cand AS (SELECT p.qid, c.vec_id FROM probed p
       |         JOIN cells c ON c.cell = p.cell$candWhere),
       |sc AS (SELECT cand.qid, cand.vec_id, CAST(sum(dd) AS BIGINT) AS dist16
       |       FROM cand
       |       JOIN codes ON codes.vec_id = cand.vec_id
       |       JOIN lut ON lut.qid = cand.qid AND lut.sub = codes.sub
       |              AND lut.code = codes.code
       |       GROUP BY cand.qid, cand.vec_id),
       |rk AS (SELECT qid, vec_id, dist16,
       |         row_number() OVER (PARTITION BY qid ORDER BY dist16, vec_id) AS rnk
       |       FROM sc)""".stripMargin
  }

  private def ivfPqSqlOver(eBody: String, candWhere: String = ""): String =
    ivfPqCtes(eBody, candWhere) + """
      |SELECT qid, vec_id, dist16, CAST(rnk AS BIGINT) AS rnk
      |FROM rk WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  private lazy val ivfPqSql: String = ivfPqSqlOver(
    "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings")

  // llm_ann_probe's corpus: the bootstrap set plus two deterministic
  // planted ingest batches — reversed vectors under +100000 ids and
  // negated vectors under +200000 ids (float reverse/negate are exact,
  // then widen exactly to the oracle's DOUBLE[] — the llm_pq
  // quantization discipline carries the rest)
  private lazy val annProbeEBody: String =
    """SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |UNION ALL
      |SELECT vec_id + 100000, list_reverse(CAST(embedding AS DOUBLE[]))
      |FROM embeddings WHERE vec_id % 7 = 0
      |UNION ALL
      |SELECT vec_id + 200000,
      |  list_transform(CAST(embedding AS DOUBLE[]), x -> -x)
      |FROM embeddings WHERE vec_id % 11 = 1""".stripMargin

  private lazy val annProbeSql: String = ivfPqSqlOver(annProbeEBody)

  // llm_ann_probe_filtered (r20): the SAME maintained-store lifecycle,
  // served through the liveness/metadata gate — only ids with
  // vec_id % 3 <> 1 may be served (a third of every tier retired:
  // excluded ids are spread across cells AND both planted batches, so
  // routing still discriminates and the gate has live branches in
  // base and tail). FILTER-THEN-RANK: the WHERE cuts the candidate
  // set BEFORE the per-query ranking, so every query still ranks k
  // SURVIVORS — a k-then-filter implementation would hash-mismatch on
  // both membership and rnk.
  private lazy val annProbeFilteredSql: String =
    ivfPqSqlOver(annProbeEBody, " WHERE c.vec_id % 3 <> 1")

  // llm_ann_rerank (r20): the standard ANN refinement — each query's
  // top-15 ADC candidates re-scored by EXACT squared-L2 over the raw
  // vectors, top-5 kept. The exact distance is a sequential
  // list_reduce fold of (qᵢ−vᵢ)² in double precision — bit-identical
  // to the Spark side's aggregate(zip_with(...)) left fold (the r9
  // exactness kit) — and lands as floor(dist·1024) so the output
  // column is an engine-exact BIGINT.
  private lazy val annRerankSql: String = ivfPqCtes(
    "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings") + """,
      |cr15 AS (SELECT qid, vec_id FROM rk WHERE rnk <= 15),
      |ex AS (SELECT cr15.qid, cr15.vec_id,
      |         list_reduce(list_transform(range(1, 65),
      |           j -> (qv.v[j] - cv.v[j]) * (qv.v[j] - cv.v[j])),
      |           (a, b) -> a + b) AS dist
      |       FROM cr15
      |       JOIN e qv ON qv.vec_id = cr15.qid
      |       JOIN e cv ON cv.vec_id = cr15.vec_id),
      |rr AS (SELECT qid, vec_id, dist,
      |         row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rnk
      |       FROM ex)
      |SELECT qid, vec_id, CAST(floor(dist * 1024) AS BIGINT) AS dist_b,
      |  CAST(rnk AS BIGINT) AS rnk
      |FROM rr WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  // Planted n-gram LM (the llm_redact discipline: the model is data,
  // written identically on both sides). Scores are negative
  // centi-log-probs; entries are formula-generated so the two listings
  // can't drift.
  private val lmUnigrams: Seq[(String, Long)] =
    Seq("the", "a", "table", "scan", "query", "join", "hash", "row",
      "batch", "value", "fast", "data", "key", "sort", "group")
      .zipWithIndex.map { case (w, i) => w -> -(900L + 37L * i) }
  private val lmBigrams: Seq[(String, String, Long)] =
    Seq(("the", "table"), ("fast", "scan"), ("hash", "join"),
      ("table", "scan"), ("query", "join"), ("a", "row"), ("sort", "key"),
      ("data", "value"), ("group", "value"), ("the", "key"))
      .zipWithIndex.map { case ((a, b), i) => (a, b, -(250L + 41L * i)) }

  // Greedy longest-match subword counting as recursive SQL: one
  // recursion step per emitted token (the correlated max-length lookup
  // IS the longest-match rule), summed per document. Shared by
  // llm_bpe_count and llm_pack_shards_bpe.
  private def bpeCountCtesFor(docsRel: String): String = {
    val vlist = bpeVocab.map(v => s"('$v')").mkString(", ")
    s"""vocab(tok) AS (VALUES $vlist),
       |__ws AS (SELECT doc_id, regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+') AS toks
       |         FROM $docsRel),
       |__words AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS widx, toks FROM __ws),
       |__w2 AS (SELECT doc_id, widx, toks[widx] AS w FROM __words),
       |__step AS (
       |  SELECT doc_id, widx, w, CAST(1 AS BIGINT) AS pos, CAST(0 AS BIGINT) AS n FROM __w2
       |  UNION ALL
       |  SELECT doc_id, widx, w,
       |    pos + coalesce((SELECT max(length(v.tok)) FROM vocab v
       |                    WHERE substr(w, CAST(pos AS INTEGER), length(v.tok)) = v.tok), 1),
       |    n + 1
       |  FROM __step WHERE pos <= length(w)),
       |__done AS (SELECT doc_id, widx, n FROM __step WHERE pos > length(w)),
       |__bpe AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS bpe_tokens
       |          FROM __done GROUP BY doc_id)""".stripMargin
  }

  private val bpeCountCtes: String = bpeCountCtesFor("documents")

  /** The Viterbi (minimum-piece) DP as recursive SQL, appended after
    * [[bpeCountCtesFor]]'s CTE chain (shares vocab/__w2): per word the
    * recursion walks positions 1..len(w) carrying the whole DP cost
    * ARRAY in one list column — costs[i] = minimal pieces for the
    * length-(i−1) prefix; each step appends `min over pieces ending
    * here of costs[start]+1`, with the single-character fallback as the
    * always-present candidate (the same correlated-vocab-subquery
    * pattern the greedy __step uses). */
  private val bpeViterbiCtes: String =
    s"""__vs AS (
       |  SELECT doc_id, widx, w, [CAST(0 AS BIGINT)] AS costs,
       |    CAST(1 AS BIGINT) AS pos
       |  FROM __w2
       |  UNION ALL
       |  SELECT doc_id, widx, w,
       |    costs || [least(
       |      costs[CAST(pos AS INT)] + 1,
       |      coalesce((SELECT min(costs[CAST(pos - length(v.tok) + 1 AS INT)]) + 1
       |                FROM vocab v
       |                WHERE length(v.tok) <= pos
       |                  AND substr(w, CAST(pos - length(v.tok) + 1 AS INT),
       |                             length(v.tok)) = v.tok),
       |        9223372036854775807))],
       |    pos + 1
       |  FROM __vs WHERE pos <= length(w)),
       |__vdone AS (SELECT doc_id, widx, costs[CAST(length(w) + 1 AS INT)] AS c
       |            FROM __vs WHERE pos = length(w) + 1),
       |__vit AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS viterbi_tokens
       |          FROM __vdone GROUP BY doc_id)""".stripMargin

  /** The full DuckDB replay of [[TextStats.bpeTrain]] — see
    * llm_bpe_train's comment for the derivation (state-in-one-row
    * recursive CTE; symbol-wise list_reduce greedy merge; chr(30)-keyed
    * argmax tiebreak). `docsRel` is any relation exposing a `text`
    * column; `rounds` must equal the Spark side's numMerges. Shared by
    * llm_bpe_train (real corpus) and llm_bpe_train_redup (planted
    * reduplicated-word corpus that forces the contiguous-merge path). */
  // NOTE: pre-stripped CTE fragments must be CONCATENATED, never
  // interpolated into another stripMargin template — a continuation
  // line beginning with `||` would lose a pipe to the outer strip
  // (bit us in r13: three oracles broke at once).
  private def bpeTrainOracle(docsRel: String, rounds: Int): String =
    "WITH RECURSIVE\n" + bpeTrainCtes(docsRel, rounds) + "\n" +
      """SELECT CAST(step - 1 AS BIGINT) AS rank, l AS "left", r AS "right",
        |  cnt AS pair_count
        |FROM steps WHERE step >= 1 ORDER BY rank""".stripMargin

  /** Just the CTE chain of [[bpeTrainOracle]] (wf/init/steps) so
    * composites can consume the trained merge table (`steps` rows with
    * step ≥ 1) inside a larger WITH RECURSIVE — llm_bpe_unigram scores
    * its pieces from it. */
  private def bpeTrainCtes(docsRel: String, rounds: Int): String =
    s"""wf AS (
       |  SELECT w, count(*)::BIGINT AS c FROM (
       |    SELECT unnest(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+')) AS w
       |    FROM $docsRel) t
       |  WHERE len(w) > 0 GROUP BY w),
       |init AS (
       |  SELECT list(struct_pack(
       |    s := chr(31) || array_to_string(string_split(w, ''), chr(31)) || chr(31),
       |    c := c)) AS seqs
       |  FROM wf),
       |steps AS (
       |  SELECT 0 AS step, seqs, NULL::VARCHAR AS l, NULL::VARCHAR AS r,
       |    NULL::BIGINT AS cnt
       |  FROM init
       |  UNION ALL
       |  SELECT step + 1,
       |    list_transform(seqs, w -> struct_pack(
       |      s := list_reduce(
       |        list_prepend(chr(31), string_split(trim(w.s, chr(31)), chr(31))),
       |        (acc, x) -> CASE
       |          WHEN x = string_split(bestk, chr(30))[2]
       |            AND ends_with(acc, chr(31) || string_split(bestk, chr(30))[1] || chr(31))
       |          THEN left(acc, len(acc) - len(string_split(bestk, chr(30))[1]) - 1)
       |            || replace(bestk, chr(30), '') || chr(31)
       |          ELSE acc || x || chr(31) END),
       |      c := w.c)),
       |    string_split(bestk, chr(30))[1], string_split(bestk, chr(30))[2], bestc
       |  FROM (
       |    SELECT step, seqs, bestc,
       |      list_min(list_filter(dks, d ->
       |        list_sum(list_transform(pairs,
       |          p -> CASE WHEN p.k = d THEN p.c ELSE 0 END)) = bestc)) AS bestk
       |    FROM (
       |      SELECT step, seqs, pairs, dks,
       |        list_max(list_transform(dks, d ->
       |          list_sum(list_transform(pairs,
       |            p -> CASE WHEN p.k = d THEN p.c ELSE 0 END)))) AS bestc
       |      FROM (
       |        SELECT step, seqs, pairs,
       |          list_distinct(list_transform(pairs, p -> p.k)) AS dks
       |        FROM (
       |          SELECT step, seqs,
       |            flatten(list_transform(seqs, w ->
       |              list_transform([string_split(trim(w.s, chr(31)), chr(31))], sym ->
       |                list_transform(range(1, len(sym)), i ->
       |                  struct_pack(k := sym[i] || chr(30) || sym[i+1],
       |                    c := w.c)))[1])) AS pairs
       |          FROM steps WHERE step < $rounds) q1) q2) q3) q4
       |  WHERE bestk IS NOT NULL AND bestc >= 2)""".stripMargin

  /** The llm_bpe_train_redup planted corpus: (word, repetitions) — one
    * doc per word, text = the word repeated n times. Engineered so that
    * winning pairs occur as contiguous l·r·l·r runs inside words
    * ('abab', 'aaaa', 'aaaaaa', 'abababab'), the exact class where the
    * r12 string-replace oracle diverged from bpeTrain's greedy i+=2
    * scan ('aaaaaa' also separates fold from replace-until-fixpoint).
    * Verified: merges 2/3/4/7 of the 8 rounds are reduplication merges
    * ((ab,ab), (aa,aa), (aaaa,aa), (abab,ab)). */
  private val bpeRedupPlant: Seq[(String, Int)] = Seq(
    ("abab", 50), ("aaaa", 40), ("aaaaaa", 30), ("ababab", 20),
    ("abcabc", 15), ("banana", 10), ("aab", 5), ("zq", 3),
    ("abababab", 7))

  // Shared by llm_contamination and llm_contamination_bloom (identical
  // output contract; the bloom path is prefilter-then-exact-verify).
  private val contaminationSql: String =
    s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t
         |  FROM documents WHERE doc_id < $docCap),
         |sh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |      range(1, greatest(len(t) - 1, 1) + 1),
         |      i -> array_to_string(t[i:i+1], ' '))) AS s
         |  FROM toks),
         |dsh AS (SELECT doc_id, s FROM sh WHERE doc_id < 500),
         |du AS (SELECT doc_id, unnest(s) AS shingle FROM dsh),
         |bsh AS (SELECT DISTINCT unnest(s) AS shingle FROM sh WHERE doc_id % 50 = 0),
         |m AS (
         |  SELECT doc_id, count(*) AS matched FROM du
         |  WHERE shingle IN (SELECT shingle FROM bsh) GROUP BY doc_id),
         |t AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS total FROM dsh)
         |SELECT t.doc_id, COALESCE(m.matched, 0) AS matched, t.total,
         |  ((20000 * COALESCE(m.matched, 0) + t.total) // (2 * t.total)) / 10000.0
         |    AS contamination
         |FROM t LEFT JOIN m USING (doc_id) ORDER BY t.doc_id""".stripMargin


  val all: Seq[Q] = Seq(

    Q("llm_dedup_exact",
      """SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
        |  count(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin) {
      (spark, sf) =>
        Dedup.exact(Tables.documents(spark, sf)).orderBy("keep_id")
    },

    // Duplication budget: keep ≤2 copies per exact content. Copy groups
    // are PLANTED in-query on both sides — %3 rows gain a second copy,
    // %9 rows a third — so the cap binds (3-copy groups lose one) and
    // doesn't (1- and 2-copy groups survive whole) at every scale. The
    // oracle replays the crawl-order election with row_number; drift in
    // the heap's struct comparison or rank numbering hash-mismatches.
    Q("llm_dedup_budget",
      """WITH batch AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, text FROM documents
        |  WHERE doc_id % 9 = 0),
        |r AS (
        |  SELECT sha256(text) AS content_hash, doc_id,
        |    row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id)
        |      AS rk
        |  FROM batch)
        |SELECT content_hash, doc_id, CAST(rk AS BIGINT) AS copy_rank
        |FROM r WHERE rk <= 2 ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        val docs = Tables.documents(spark, sf).select("doc_id", "text")
        val batch = docs
          .unionAll(docs.where(pmod(col("doc_id"), lit(3)) === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
          .unionAll(docs.where(pmod(col("doc_id"), lit(9)) === 0)
            .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
        Dedup.duplicationBudget(batch, maxCopies = 2)
          .select("content_hash", "doc_id", "copy_rank")
          .orderBy("doc_id")
    },

    // Incremental exact dedup: the batch/corpus split and the overlaps
    // are PLANTED in-query on both sides (the oracle-planting rule) —
    // %5 rows become the new batch under fresh ids, %7-not-%5 rows enter
    // the batch with text already in the corpus (must drop), %35 rows
    // appear TWICE in the batch (within-batch election must keep the
    // lower fresh id) — all three behaviors non-empty at every scale.
    Q("llm_dedup_incremental",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
        |batch AS (
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents
        |  WHERE doc_id % 5 = 0 OR doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id, text FROM documents
        |  WHERE doc_id % 35 = 0),
        |elected AS (
        |  SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
        |    count(*) AS dup_count
        |  FROM batch GROUP BY 1)
        |SELECT e.content_hash, e.keep_id, e.dup_count FROM elected e
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM corpus c WHERE sha256(c.text) = e.content_hash)
        |ORDER BY keep_id""".stripMargin) {
      (spark, sf) =>
        val docs = Tables.documents(spark, sf).select("doc_id", "text")
        val corpus = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
        val batch = docs
          .where(pmod(col("doc_id"), lit(5)) === 0 || pmod(col("doc_id"), lit(7)) === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
          .unionAll(docs.where(pmod(col("doc_id"), lit(35)) === 0)
            .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
        Dedup.incrementalExact(batch, corpus).orderBy("keep_id")
    },

    // Continuous-ingest composite: the llm_dedup_incremental planting
    // (re-fetches, within-batch dups, fresh docs) + a %35 benchmark
    // whose exact copies in the batch read 10000 bp contamination and
    // are dropped at EVERY scale, while k=3 trigram shingles keep the
    // background contamination low (k=2 saturates ≥8889 at sf0.1 — the
    // fixture vocabulary is small, so bigrams are corpus-universal; a
    // probed, not guessed, threshold choice). Both gates split
    // non-trivially tri-scale (quality ≥4500 keeps ~40%, contamination
    // ≤7000 keeps ~85%). Surviving dup_counts are all 1 by construction
    // (the within-batch dups ARE the benchmark copies) — dup election
    // itself is llm_dedup_incremental's oracle.
    Q("llm_ingest",
      """WITH docs AS (SELECT doc_id, text FROM documents),
        |corpus AS (SELECT * FROM docs WHERE doc_id % 5 <> 0),
        |batch AS (
        |  SELECT doc_id + 100000 AS doc_id, text FROM docs
        |  WHERE doc_id % 5 = 0 OR doc_id % 7 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id, text FROM docs WHERE doc_id % 35 = 0),
        |bench AS (SELECT text FROM docs WHERE doc_id % 35 = 0),
        |elected AS (
        |  SELECT sha256(text) AS h, min(doc_id) AS keep_id, count(*) AS dup_count
        |  FROM batch GROUP BY 1),
        |fresh AS (SELECT e.* FROM elected e WHERE NOT EXISTS
        |  (SELECT 1 FROM corpus c WHERE sha256(c.text) = e.h)),
        |kept AS (SELECT b.doc_id, b.text, f.dup_count
        |         FROM batch b JOIN fresh f ON b.doc_id = f.keep_id),
        |c AS (SELECT doc_id, text, dup_count,
        |    CAST(len(string_split(text,' ')) AS BIGINT) AS nt,
        |    CAST(len(list_filter(string_split(text,' '),
        |      t -> list_contains(['the','a','fast','slow'], t))) AS BIGINT) AS ns,
        |    CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS nd
        |  FROM kept),
        |qq AS (SELECT doc_id, text, dup_count,
        |    (((20000*nd+nt) // (2*nt)) * (10000 - ((20000*ns+nt) // (2*nt))) * 2
        |      + 10000) // 20000 AS q_bp
        |  FROM c),
        |bt AS (SELECT string_split(text,' ') AS t FROM bench),
        |bsh AS (SELECT DISTINCT unnest(list_transform(
        |    range(1, greatest(len(t)-2,1)+1),
        |    i -> array_to_string(t[i:i+2],' '))) AS sh FROM bt),
        |dsh AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text,' '))-2,1)+1),
        |    i -> array_to_string(string_split(text,' ')[i:i+2],' '))) AS s
        |  FROM qq WHERE q_bp >= 4500),
        |m AS (SELECT doc_id, count(*) AS matched FROM
        |    (SELECT doc_id, unnest(s) AS sh FROM dsh)
        |  WHERE sh IN (SELECT sh FROM bsh) GROUP BY 1),
        |t AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS total FROM dsh),
        |cb AS (SELECT t.doc_id,
        |    (20000*coalesce(m.matched,0)+t.total) // (2*t.total) AS c_bp
        |  FROM t LEFT JOIN m USING (doc_id))
        |SELECT qq.doc_id, qq.dup_count, CAST(qq.q_bp AS BIGINT) AS quality_bp,
        |  CAST(cb.c_bp AS BIGINT) AS contamination_bp
        |FROM qq JOIN cb USING (doc_id)
        |WHERE qq.q_bp >= 4500 AND cb.c_bp <= 7000
        |ORDER BY qq.doc_id""".stripMargin) {
      (spark, sf) =>
        val docs = Tables.documents(spark, sf).select("doc_id", "text")
        val corpus = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
        val batch = docs
          .where(pmod(col("doc_id"), lit(5)) === 0 || pmod(col("doc_id"), lit(7)) === 0)
          .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
          .unionAll(docs.where(pmod(col("doc_id"), lit(35)) === 0)
            .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
        val bench = docs.where(pmod(col("doc_id"), lit(35)) === 0)
        graft.llm.Curation.ingestDelta(batch, corpus, bench,
            minQualityBp = 4500L, maxContamBp = 7000L, k = 3)
          .select("doc_id", "dup_count", "quality_bp", "contamination_bp")
          .orderBy("doc_id")
    },

    // Corpus snapshot diff: the two versions are PLANTED from one table
    // on both sides — %6 rows deleted, %5-not-%6 rows get edited text,
    // %11 rows re-enter under fresh ids — so added/removed/changed/
    // unchanged are all non-empty at every scale.
    Q("llm_corpus_diff",
      """WITH prev AS (
        |  SELECT doc_id, text FROM documents),
        |next AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' [edited]' ELSE text END AS text
        |  FROM documents WHERE doc_id % 6 <> 0
        |  UNION ALL
        |  SELECT doc_id + 500000 AS doc_id, text FROM documents
        |  WHERE doc_id % 11 = 0),
        |p AS (SELECT doc_id, sha256(text) AS h FROM prev),
        |n AS (SELECT doc_id, sha256(text) AS h FROM next)
        |SELECT coalesce(p.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN p.h IS NULL THEN 'added'
        |       WHEN n.h IS NULL THEN 'removed'
        |       WHEN p.h <> n.h THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM p FULL OUTER JOIN n ON p.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        val docs = Tables.documents(spark, sf).select("doc_id", "text")
        val next = docs.where(pmod(col("doc_id"), lit(6)) =!= 0)
          .select(col("doc_id"),
            when(pmod(col("doc_id"), lit(5)) === 0,
              concat(col("text"), lit(" [edited]"))).otherwise(col("text")).as("text"))
          .unionAll(docs.where(pmod(col("doc_id"), lit(11)) === 0)
            .select((col("doc_id") + 500000L).as("doc_id"), col("text")))
        Audit.corpusDiff(docs, next).orderBy("doc_id")
    },

    // Cross-source duplicate matrix. The fixture corpus has no natural
    // cross-source exact dups, so content is PLANTED in-query on both
    // sides (the oracle-planting rule): text := doc_id % 23 — every
    // residue class spans many sources at every scale (sf0.001's ids
    // 0–49 still collide mod 23), so the matrix is dense and a pair
    // expansion that emitted ordered pairs twice, dropped the a<b
    // dedup, or counted docs instead of distinct contents all
    // hash-mismatch.
    Q("llm_source_overlap",
      """WITH d AS (
        |  SELECT source, CAST(doc_id % 23 AS VARCHAR) AS text FROM documents),
        |hs AS (SELECT DISTINCT sha256(text) AS h, source FROM d)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  count(*) AS n_shared
        |FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) {
      (spark, sf) =>
        Audit.sourceOverlap(Tables.documents(spark, sf)
            .select(col("source"),
              pmod(col("doc_id"), lit(23)).cast("string").as("text")))
          .orderBy("source_a", "source_b")
    },

    // Cross-source set algebra via THETA sketches (r15) — the 100 TB
    // sibling of llm_source_overlap above: where the exact face pair-
    // expands shared hashes, this builds ONE theta partial per source
    // (a groupBy pass; kilobyte compacts) and answers intersection AND
    // difference per pair driver-side — HLL can't intersect, theta can
    // (the DataSketches KMV family Spark bundles but doesn't expose).
    // The planted key domain varies per source (modulus 17..23 by
    // source-name length) so pair overlaps SPREAD instead of
    // saturating at sf0.1 (the point-mass rule). Below 2^lgK retained
    // entries theta is exact — require'd, so the oracle pins VALUES;
    // past it the estimate carries the published RSE (documented, not
    // gated).
    Q("llm_source_overlap_theta",
      """WITH d AS (
        |  SELECT source,
        |    CAST(doc_id % (17 + length(source) % 7) AS VARCHAR) AS key
        |  FROM documents),
        |hs AS (SELECT DISTINCT source, key FROM d),
        |c AS (SELECT source, CAST(count(*) AS BIGINT) n FROM hs GROUP BY 1)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(count(*) AS BIGINT) AS n_shared,
        |  ca.n - count(*) AS n_only_a,
        |  cb.n - count(*) AS n_only_b
        |FROM hs a JOIN hs b ON a.key = b.key AND a.source < b.source
        |JOIN c ca ON ca.source = a.source
        |JOIN c cb ON cb.source = b.source
        |GROUP BY a.source, b.source, ca.n, cb.n
        |ORDER BY 1, 2""".stripMargin) { (spark, sf) =>
      import spark.implicits._
      import graft.functions.ThetaSketch
      val d = Tables.documents(spark, sf).select(col("source"),
        pmod(col("doc_id"),
          lit(17) + pmod(length(col("source")), lit(7)))
          .cast("string").as("key"))
      val parts = d.groupBy("source")
        .agg(ThetaSketch.agg(col("key")).as("sk"))
        .collect()
      require(parts.length <= 64,
        s"theta overlap expects a bounded source set, got ${parts.length}")
      val sks = parts.map(r =>
          (r.getString(0), ThetaSketch.fromBytes(r.getAs[Array[Byte]]("sk"))))
        .sortBy(_._1)
      require(sks.forall(!_._2.isEstimationMode),
        "a source exceeded the exact-mode threshold — raise lgK or gate bounds")
      val rows = (for {
        i <- sks.indices
        j <- (i + 1) until sks.length
      } yield {
        val (sa, ka) = sks(i)
        val (sb, kb) = sks(j)
        (sa, sb,
          ThetaSketch.estimateLong(ThetaSketch.intersect(ka, kb)),
          ThetaSketch.estimateLong(ThetaSketch.aNotB(ka, kb)),
          ThetaSketch.estimateLong(ThetaSketch.aNotB(kb, ka)))
      }).filter(_._3 > 0)
      rows.toDF("source_a", "source_b", "n_shared", "n_only_a", "n_only_b")
        .orderBy("source_a", "source_b")
    },

    // Incremental-arrival novelty via theta difference (r15) — the
    // crawl-growth accounting every continuous-ingest pipeline tracks:
    // per day, how many keys were ACTIVE and how many were NEVER SEEN
    // BEFORE. One groupBy pass builds a per-day theta partial; the
    // driver chains aNotB(day, union-of-prior) over 30 kilobyte
    // compacts — where the exact formulation is a growing anti-join
    // per day (N² in days over the corpus). Exact below 2^lgK
    // (require'd), so the oracle replays first-seen days exactly.
    Q("llm_arrival_novelty_theta",
      """WITH dd AS (
        |  SELECT DISTINCT CAST(ts AS DATE) d, user_id FROM events),
        |fs AS (SELECT user_id, min(d) fd FROM dd GROUP BY 1),
        |seen AS (SELECT d, CAST(count(*) AS BIGINT) n_seen FROM dd GROUP BY 1),
        |nw AS (SELECT fd, CAST(count(*) AS BIGINT) n_new FROM fs GROUP BY 1)
        |SELECT s.d AS day, s.n_seen, coalesce(n.n_new, 0) AS n_new
        |FROM seen s LEFT JOIN nw n ON n.fd = s.d
        |ORDER BY 1""".stripMargin) { (spark, sf) =>
      import spark.implicits._
      import graft.functions.ThetaSketch
      val parts = Tables.events(spark, sf)
        .select(to_date(col("ts")).as("d"), col("user_id"))
        .groupBy("d")
        .agg(ThetaSketch.agg(col("user_id")).as("sk"))
        .collect()
      require(parts.length <= 4096,
        s"arrival novelty expects a calendar-bounded day set, got ${parts.length}")
      val byDay = parts.map(r =>
          (r.getDate(0), ThetaSketch.fromBytes(r.getAs[Array[Byte]]("sk"))))
        .sortBy(_._1.getTime)
      require(byDay.forall(!_._2.isEstimationMode),
        "a day exceeded the exact-mode threshold — raise lgK or gate bounds")
      val rows = Seq.newBuilder[(java.sql.Date, Long, Long)]
      // the CUMULATIVE union grows past any one day's cardinality —
      // per-day exactness alone doesn't bound it (r15 advice): chain
      // it at lgK 20 (exact to 2^20 cumulative users) and require
      // exactness after EVERY step, so n_new can never silently slip
      // into estimation while the oracle replays exact first-seen days
      val cumLgK = 20
      var prior: Option[org.apache.datasketches.theta.CompactSketch] = None
      byDay.foreach { case (d, sk) =>
        val nNew = prior match {
          case None    => ThetaSketch.estimateLong(sk)
          case Some(p) => ThetaSketch.estimateLong(ThetaSketch.aNotB(sk, p))
        }
        rows += ((d, ThetaSketch.estimateLong(sk), nNew))
        prior = Some(prior.fold(sk)(p => ThetaSketch.union(p, sk, cumLgK)))
        require(!prior.get.isEstimationMode,
          s"cumulative union left exact mode at day $d — raise cumLgK " +
            "above the total user cardinality")
      }
      rows.result().toDF("day", "n_seen", "n_new").orderBy("day")
    },

    // Outlink/link-graph extraction (r15) — the step between raw HTML
    // and llm_host_rank's edge table: href targets pulled per doc,
    // host-normalized (scheme/host case-folded, path/query/fragment
    // dropped), aggregated to weighted (source, host) edges. The
    // fixture corpus is clean text, so anchors are planted IN-QUERY on
    // both sides: %4 docs link h{id%7}.example.com, %8 docs add an
    // UPPERCASE-scheme second host (normalization is load-bearing),
    // %16 docs add a relative href that must DROP.
    Q("llm_outlinks",
      """WITH p AS (
        |  SELECT source,
        |    text
        |    || CASE WHEN doc_id % 4 = 0
        |      THEN ' <a href="http://h' || (doc_id % 7) || '.example.com/p1">x</a>'
        |      ELSE '' END
        |    || CASE WHEN doc_id % 8 = 0
        |      THEN ' <a href="HTTPS://H' || (doc_id % 5) || '.Example.org/q#f">y</a>'
        |      ELSE '' END
        |    || CASE WHEN doc_id % 16 = 0
        |      THEN ' <a href="/relative">r</a>' ELSE '' END AS text
        |  FROM documents),
        |u AS (
        |  SELECT source AS src,
        |    unnest(regexp_extract_all(text, 'href="([^"]+)"', 1)) AS url
        |  FROM p),
        |h AS (
        |  SELECT src,
        |    lower(regexp_extract(url,
        |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS dst_host
        |  FROM u)
        |SELECT src, dst_host, count(*) AS n_links
        |FROM h WHERE dst_host IS NOT NULL AND dst_host <> ''
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, sf) =>
      val planted = Tables.documents(spark, sf).select(col("source"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(4)) === 0,
            concat(lit(" <a href=\"http://h"),
              pmod(col("doc_id"), lit(7)).cast("string"),
              lit(".example.com/p1\">x</a>"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(8)) === 0,
            concat(lit(" <a href=\"HTTPS://H"),
              pmod(col("doc_id"), lit(5)).cast("string"),
              lit(".Example.org/q#f\">y</a>"))).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(16)) === 0,
            lit(" <a href=\"/relative\">r</a>")).otherwise(lit("")))
          .as("text"))
      graft.llm.Audit.outlinks(planted).orderBy("src", "dst_host")
    },

    // Weakly-connected components over the outlink edge table (r16,
    // verdict ask 7) — the graph tier between [[Audit.outlinks]] and
    // host-level canonicalization: sources and the hosts they link form
    // a bipartite graph; its components are the "same operator" groups
    // (link-farm / mirror detection) host dedup canonicalizes by. The
    // planted graph lives ONCE in [[GraphFixture]] (every doc links its
    // source's host, doc_id%7 docs bridge by srcnum%4 with an UPPERCASE
    // scheme so normalization stays load-bearing — DuckDB-probed: 104
    // nodes, 4 components of 26, stable tri-scale); labels are strings,
    // the min-label election lexicographic on both engines. The oracle
    // replays extraction + full transitive closure (recursive CTE);
    // the engine runs the pointer-jumping propagation — agreement gates
    // BOTH the graph construction and the closure.
    Q("llm_components",
      GraphFixture.closureCtes + "\n" +
        """SELECT id AS node, component
          |FROM comp ORDER BY node""".stripMargin) { (spark, sf) =>
      val edges = GraphFixture.bipartiteEdges(
        GraphFixture.weightedEdges(spark, sf))
      graft.llm.Components.pairComponents(edges, idCol = "node")
        .orderBy("node")
    },

    // Incremental closure face (r16): the SAME planted outlink graph,
    // arrived in two waves — the per-source star edges close first
    // (yesterday's crawl), then the bridge edges land as the DELTA and
    // [[Components.incremental]] relabels over the prior labeling's
    // star contraction instead of re-closing the full edge set. The
    // final labels must equal the one-shot closure, so the oracle is
    // llm_components' SQL verbatim — one recursive-CTE truth, two
    // engine paths gated against it. The edge table is cut once
    // (hosts²-bounded); prior and delta are filters over the cut.
    Q("llm_components_incremental",
      GraphFixture.closureCtes + "\n" +
        """SELECT id AS node, component
          |FROM comp ORDER BY node""".stripMargin) { (spark, sf) =>
      val edges = GraphFixture.bipartiteEdges(
          GraphFixture.weightedEdges(spark, sf))
        .localCheckpoint(false)
      val star = edges.where(!col("b").startsWith("host:bridge-"))
      val delta = edges.where(col("b").startsWith("host:bridge-"))
      val prior = graft.llm.Components.pairComponents(
        star, idCol = "node", inputIsCut = true)
      graft.llm.Components.incremental(prior, delta, idCol = "node",
          compCol = "component")
        .orderBy("node")
    },

    // Host canonicalization (r16) — the step the components tier
    // exists FOR: rewrite every outlink edge onto its host's component
    // representative (link farms / mirrors collapse onto one canonical
    // host) and re-aggregate weights — the edge table `hostRank` would
    // consume after canonicalization. Same planted graph as
    // llm_components; the component label of a bipartite node is
    // always a host ('host:' < 'src:' lexicographically, and every
    // component contains a host), so canon(host) = label minus the
    // prefix. The weighted edge table is cut ONCE; the closure and the
    // rewrite both read the cut.
    Q("llm_host_canon",
      GraphFixture.closureCtes + "\n" +
        """SELECT e.src, substr(c.component, 6) AS canon_host,
          |  CAST(sum(e.n_links) AS BIGINT) AS n_links
          |FROM e JOIN comp c ON c.id = 'host:' || e.dst_host
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, sf) =>
      val weighted = GraphFixture.weightedEdges(spark, sf)
        .localCheckpoint(false)
      val pairEdges = GraphFixture.bipartiteEdges(weighted)
      val canon = graft.llm.Components
        .pairComponents(pairEdges, idCol = "node", inputIsCut = true)
        .where(col("node").startsWith("host:"))
        .select(expr("substring(node, 6)").as("dst_host"),
          expr("substring(component, 6)").as("canon_host"))
      // canon is host-sized but reads from the closure's CHECKPOINT —
      // a LogicalRDD has no size estimates, so the planner would SMJ;
      // broadcast explicitly (the hostRank rank-lookup precedent)
      weighted.join(broadcast(canon), "dst_host")
        .groupBy("src", "canon_host")
        .agg(sum(col("n_links")).as("n_links"))
        .orderBy("src", "canon_host")
    },

    // Streaming host canonicalization (r17, verdict ask 3): the
    // maintained composition of the two r16 pieces — labels advance by
    // incremental contraction, the canonical-edge table folds each
    // batch and RE-KEYS rows stored under representatives the batch's
    // merges retired. The fixture arrives as two "micro-batches"
    // through the real disk lifecycle (StreamOps.applyCanonBatch —
    // exactly what canonEdgesStream's foreachBatch applies): plain
    // outlinks first, then the bridge edges whose merges force the
    // re-key path. The stored table must equal the one-shot batch
    // rewrite (llm_host_canon's SQL verbatim) — arrival order is
    // invisible in the final state.
    Q("llm_host_canon_stream",
      GraphFixture.closureCtes + "\n" +
        """SELECT e.src, substr(c.component, 6) AS canon_host,
          |  CAST(sum(e.n_links) AS BIGINT) AS n_links
          |FROM e JOIN comp c ON c.id = 'host:' || e.dst_host
          |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, sf) =>
      val weighted = GraphFixture.weightedEdges(spark, sf)
        .localCheckpoint(false) // two waves filter ONE planted frame
      val wave1 = weighted.where(!col("dst_host").startsWith("bridge-"))
      val wave2 = weighted.where(col("dst_host").startsWith("bridge-"))
      val dir = java.nio.file.Files.createTempDirectory("canon_q").toString
      val labels = dir + "/labels"; val canon = dir + "/canon"
      StreamOps.applyCanonBatch(wave1, 0L, labels, canon, "q",
        "src", "dst_host", "n_links", nBuckets = 16, maxNodes = 1L << 20)
      StreamOps.applyCanonBatch(wave2, 1L, labels, canon, "q",
        "src", "dst_host", "n_links", nBuckets = 16, maxNodes = 1L << 20)
      StreamOps.readCanonEdges(spark, canon)
        .select(col("src"), col("canon_host"), col("n_links"))
        .orderBy("src", "canon_host")
    },

    // Embedding-integrity audit: the fixture vectors are all clean, so
    // every defect class is PLANTED in-query on both sides — %17
    // residues become null / NaN-poisoned / truncated-to-16 / all-zero
    // vectors — and the report must name each slice with exact counts
    // (a NaN probe using x <> x would miss under Spark's NaN = NaN
    // comparison semantics; an exists-based zero test would miscount
    // the NaN rows).
    Q("llm_embed_audit",
      """WITH d AS (
        |  SELECT vec_id,
        |    CASE WHEN vec_id % 17 = 0 THEN NULL
        |         WHEN vec_id % 17 = 1
        |           THEN [CAST('nan' AS FLOAT)] || embedding[2:]
        |         WHEN vec_id % 17 = 2 THEN embedding[1:16]
        |         WHEN vec_id % 17 = 3
        |           THEN list_transform(embedding, x -> CAST(0 AS FLOAT))
        |         ELSE embedding END AS v
        |  FROM embeddings)
        |SELECT CAST(coalesce(len(v), -1) AS BIGINT) AS dims,
        |  count(*) AS n_vecs,
        |  CAST(sum(CASE WHEN len(list_filter(v, x -> isnan(x))) > 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_nan,
        |  CAST(sum(CASE WHEN v IS NOT NULL
        |      AND len(list_filter(v, x -> x <> 0)) = 0
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin) {
      (spark, sf) =>
        val m = pmod(col("vec_id"), lit(17))
        val planted = Tables.embeddings(spark, sf).select(col("vec_id"),
          when(m === 0, lit(null).cast("array<float>"))
            .when(m === 1,
              concat(array(lit(Float.NaN)), slice(col("embedding"), 2, 63)))
            .when(m === 2, slice(col("embedding"), 1, 16))
            .when(m === 3, transform(col("embedding"), _ => lit(0.0f)))
            .otherwise(col("embedding")).as("embedding"))
        Audit.embeddingReport(planted).orderBy("dims")
    },

    // Duplication-multiplicity histogram over the same planted mod-23
    // content: at every scale the id range splits residues into two
    // adjacent copy-counts (e.g. 500 docs → 17 residues × 22 copies +
    // 6 × 21), so the profile always has ≥2 rows and a profiler that
    // counted docs where it should count contents mismatches both.
    Q("llm_dup_profile",
      """WITH d AS (
        |  SELECT CAST(doc_id % 23 AS VARCHAR) AS text FROM documents),
        |h AS (SELECT sha256(text) AS hh, count(*) AS c FROM d GROUP BY 1)
        |SELECT c AS dup_count, count(*) AS n_contents,
        |  c * count(*) AS n_docs
        |FROM h GROUP BY c ORDER BY dup_count""".stripMargin) {
      (spark, sf) =>
        Audit.dupProfile(Tables.documents(spark, sf)
            .select(pmod(col("doc_id"), lit(23)).cast("string").as("text")))
          .orderBy("dup_count")
    },

    // Per-source datasheet: one scan, |sources| rows, integer mean in
    // round-half-up centitokens. Non-trivial at every scale (the fixture
    // always has >1 source and variable-length texts), and the lang
    // column gives countDistinct a real target.
    Q("llm_corpus_report",
      """WITH d AS (
        |  SELECT source, lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |    CAST(length(text) AS BIGINT) AS nc
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS total_tokens,
        |  CAST(sum(nc) AS BIGINT) AS total_chars,
        |  min(nt) AS min_tokens, max(nt) AS max_tokens,
        |  count(DISTINCT lang) AS n_langs,
        |  CAST((sum(nt) * 200 + count(*)) // (2 * count(*)) AS BIGINT)
        |    AS mean_tokens_centi
        |FROM d GROUP BY source ORDER BY source""".stripMargin) {
      (spark, sf) =>
        Audit.corpusReport(Tables.documents(spark, sf)).orderBy("source")
    },

    Q.noOracle("llm_dedup_near") { (spark, sf) =>
      Dedup.minHashNearDups(
          Tables.documents(spark, sf).where(col("doc_id") < docCap),
          k = 2, bands = 8, rowsPerBand = 2, threshold = 0.3)
        .orderBy("a", "b")
    },

    // MinHash/LSH near-dup under the cross-engine affine hash family —
    // the oracle-gated face of the whole LSH pipeline: poly lane mins,
    // band signatures, the smallest-256-ids bucket cap (mirrored as
    // row_number ≤ 256; probed max bucket is 56 at sf0.1, so the cap is
    // live code on both sides but never truncates on the fixture) and
    // the exact-Jaccard verify all replay in SQL. Same banding topology
    // and verify stage as llm_dedup_near (shared bucketPairs/
    // verifiedPairs), so this gate also pins the machinery the xxhash64
    // path rides. 25–45 verified pairs tri-scale (probed).
    Q("llm_dedup_near_poly",
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk,
         |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS tkf
         |  FROM documents WHERE doc_id < $docCap),
         |${PolySql.laneSigCtes()},
         |capped AS (
         |  SELECT doc_id, band, sig,
         |    row_number() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rn
         |  FROM sigs),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM capped a JOIN capped b ON a.band = b.band AND a.sig = b.sig
         |    AND a.doc_id < b.doc_id AND a.rn <= 256 AND b.rn <= 256),
         |${PolySql.shingleCte()},
         |p AS (
         |  SELECT c.a, c.b, ${PolySql.jaccard} AS jaccard
         |  FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b)
         |SELECT a, b, jaccard FROM p WHERE jaccard >= 0.3
         |ORDER BY a, b""".stripMargin) { (spark, sf) =>
      Dedup.polyMinHashNearDups(
          Tables.documents(spark, sf).where(col("doc_id") < docCap),
          k = 2, bands = 8, rowsPerBand = 2, threshold = 0.3)
        .orderBy("a", "b")
    },

    // Containment-verified dedup (r13): Broder's asymmetric
    // |A∩B|/min(|A|,|B|) over the same poly-banded candidates — the
    // quote-inclusion criterion symmetric Jaccard dilutes with the
    // length ratio. Composites planted in-query (each %23 doc re-enters
    // at +600000 concatenated with its successor) band with their
    // parts and verify at containment EXACTLY 1.0 (part shingles ⊆
    // composite); probed tri-scale: 65→179 contained of 1086→17106
    // candidates, including 1→13 contained-but-Jaccard<0.3 pairs —
    // the pairs only this criterion finds. Both measures emitted on
    // every candidate pair.
    Q("llm_dedup_contain",
      s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < $docCap),
         |planted AS (
         |  SELECT doc_id, text FROM base
         |  UNION ALL
         |  SELECT a.doc_id + 600000, a.text || ' ' || b.text
         |  FROM base a JOIN base b ON b.doc_id = a.doc_id + 1
         |  WHERE a.doc_id % 23 = 0),
         |toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk,
         |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS tkf
         |  FROM planted),
         |${PolySql.laneSigCtes()},
         |capped AS (
         |  SELECT doc_id, band, sig,
         |    row_number() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rn
         |  FROM sigs),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM capped a JOIN capped b ON a.band = b.band AND a.sig = b.sig
         |    AND a.doc_id < b.doc_id AND a.rn <= 256 AND b.rn <= 256),
         |${PolySql.shingleCte()},
         |p AS (
         |  SELECT c.a, c.b, ${PolySql.jaccard} AS jaccard,
         |    ((20000 * CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT)
         |        + CAST(least(len(sa.s), len(sb.s)) AS BIGINT))
         |      // (2 * CAST(least(len(sa.s), len(sb.s)) AS BIGINT))) AS cbp
         |  FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b)
         |SELECT a, b, jaccard, cbp / 10000.0 AS containment,
         |  cbp >= 8000 AS contained
         |FROM p ORDER BY a, b""".stripMargin) { (spark, sf) =>
      val base = Tables.documents(spark, sf)
        .where(col("doc_id") < docCap).select("doc_id", "text")
      val aSide = base.where(pmod(col("doc_id"), lit(23)) === 0)
        .select(col("doc_id").as("aid"), col("text").as("ta"))
      val bSide = base.select(col("doc_id").as("bid"), col("text").as("tb"))
      // the composite side is planting scaffolding AND tiny (~4 % of
      // docCap): one lazy cut stops the self-join from re-deriving base
      // inside BOTH the banding pass and the shingle attach
      val comp = broadcast(aSide).join(bSide, col("bid") === col("aid") + 1)
        .select((col("aid") + 600000L).as("doc_id"),
          concat(col("ta"), lit(" "), col("tb")).as("text"))
        .localCheckpoint(false)
      Dedup.polyMinHashContainDups(base.unionAll(comp), k = 2, bands = 8,
          rowsPerBand = 2, minContainment = 0.8)
        .orderBy("a", "b")
    },

    // Near-dup threshold SWEEP (r14): pair counts + distinct would-drop
    // docs at four candidate Jaccard cutoffs from ONE banding+verify
    // pass — the dial-tuning run before committing a threshold. The
    // fixture's natural candidates are all near-exact (every cutoff
    // read identically — the vacuity trap), so three prefix-clone
    // grades are planted: quarter (+junk, jbp ≈ 2400), half (≈ 3300),
    // three-quarter (≈ 7300). Probed tri-scale: pairs 84/81/56/30 →
    // 260/230/134/46 — every threshold row differs at every scale.
    Q("llm_dedup_sweep", {
      val jbp = "((20000 * CAST(len(list_intersect(sa.s, sb.s)) AS BIGINT) + CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS BIGINT)) // (2 * CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS BIGINT)))"
      s"""WITH base0 AS (SELECT doc_id, text FROM documents WHERE doc_id < $docCap),
         |tk0 AS (SELECT doc_id, string_split(text, ' ') tk FROM base0),
         |base AS (
         |  SELECT doc_id, text FROM base0
         |  UNION ALL
         |  SELECT doc_id + 700000,
         |    coalesce(array_to_string(tk[1:len(tk)//4], ' '), '') || ' qq1 qq2'
         |  FROM tk0 WHERE doc_id % 23 = 0
         |  UNION ALL
         |  SELECT doc_id + 800000,
         |    coalesce(array_to_string(tk[1:len(tk)//2], ' '), '') || ' qq3'
         |  FROM tk0 WHERE doc_id % 17 = 0
         |  UNION ALL
         |  SELECT doc_id + 900000,
         |    coalesce(array_to_string(tk[1:(3*len(tk))//4], ' '), '')
         |  FROM tk0 WHERE doc_id % 29 = 0),
         |toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk,
         |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS tkf
         |  FROM base),
         |${PolySql.laneSigCtes()},
         |capped AS (
         |  SELECT doc_id, band, sig,
         |    row_number() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rn
         |  FROM sigs),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM capped a JOIN capped b ON a.band = b.band AND a.sig = b.sig
         |    AND a.doc_id < b.doc_id AND a.rn <= 256 AND b.rn <= 256),
         |${PolySql.shingleCte()},
         |p AS (
         |  SELECT c.a, c.b, $jbp AS jbp
         |  FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b)
         |SELECT CAST(t.t AS BIGINT) threshold_bp,
         |  CAST(sum(CASE WHEN jbp >= t.t THEN 1 ELSE 0 END) AS BIGINT) n_pairs,
         |  CAST(count(DISTINCT CASE WHEN jbp >= t.t THEN b END) AS BIGINT)
         |    n_docs_dropped
         |FROM p CROSS JOIN (VALUES (2000), (3000), (5000), (8000)) t(t)
         |GROUP BY 1 ORDER BY 1""".stripMargin
    }) { (spark, sf) =>
      val intDiv = graft.functions.VectorFunctions.intDiv _
      val t = split(col("text"), " ")
      def prefix(num: Int, den: Int) = array_join(
        slice(t, lit(1), intDiv(size(t).cast("long") * num, lit(den.toLong))
          .cast("int")), " ")
      val emptyArr =
        array().cast("array<struct<doc_id:bigint,text:string>>")
      def grade(m: Int, offset: Long, body: org.apache.spark.sql.Column) =
        when(pmod(col("doc_id"), lit(m)) === 0, array(struct(
          (col("doc_id") + offset).as("doc_id"), body.as("text"))))
          .otherwise(emptyArr)
      val planted = Tables.documents(spark, sf)
        .where(col("doc_id") < docCap).select(col("doc_id"), col("text"))
        .select(explode(concat(
          array(struct(col("doc_id").as("doc_id"), col("text").as("text"))),
          grade(23, 700000L, concat(prefix(1, 4), lit(" qq1 qq2"))),
          grade(17, 800000L, concat(prefix(1, 2), lit(" qq3"))),
          grade(29, 900000L, prefix(3, 4)))).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
      Dedup.thresholdSweep(planted, Seq(2000L, 3000L, 5000L, 8000L))
    },

    // Edit-distance-verified fuzzy dedup (r13): the OTHER verify family
    // — normalized Levenshtein over the same poly-banded candidates,
    // the "verbatim with small edits" criterion shingle-Jaccard can't
    // express (a one-token append and a scattered rewrite can share a
    // Jaccard; they never share an edit distance). Clones planted
    // in-query (%13 docs re-enter at +500000 with one appended token)
    // pin the dup branch at every scale — the 3-char append lands
    // ≤566 bp while the candidate mass sits near 6900 bp (probed
    // tri-scale; threshold 600 keeps every clone pair plus the natural
    // near-identicals: 69/1121 → 65/1082 → 203/17128 dup). Every
    // candidate pair is emitted with its verdict so both branches are
    // in the gated output.
    // levenshtein is the unit-cost DP in BOTH engines — the verify is
    // exact cross-engine, no quantization needed.
    Q("llm_dedup_edit",
      s"""WITH base AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < $docCap
         |  UNION ALL
         |  SELECT doc_id + 500000, text || ' zq' FROM documents
         |  WHERE doc_id < $docCap AND doc_id % 13 = 0),
         |toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk,
         |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS tkf
         |  FROM base),
         |${PolySql.laneSigCtes()},
         |capped AS (
         |  SELECT doc_id, band, sig,
         |    row_number() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rn
         |  FROM sigs),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM capped a JOIN capped b ON a.band = b.band AND a.sig = b.sig
         |    AND a.doc_id < b.doc_id AND a.rn <= 256 AND b.rn <= 256),
         |p AS (
         |  SELECT c.a, c.b,
         |    CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edits,
         |    CAST(greatest(length(ta.text), length(tb.text)) AS BIGINT) AS m
         |  FROM cand c
         |  JOIN base ta ON ta.doc_id = c.a
         |  JOIN base tb ON tb.doc_id = c.b)
         |SELECT a, b, edits,
         |  CAST((edits * 20000 + m) // (2 * m) AS BIGINT) AS rel_bp,
         |  ((edits * 20000 + m) // (2 * m)) <= 600 AS dup
         |FROM p ORDER BY a, b""".stripMargin) { (spark, sf) =>
      // planting as ONE scan (r14, the 4→2 executed-scan cut): instead
      // of a clone-union — which makes every pass over the planted
      // corpus re-read documents TWICE — each %13 row explodes into
      // itself plus its clone inside the projection, so the two verify
      // passes cost exactly the near-dup 2-scan shape and the frame
      // keeps its parquet size estimates (no LogicalRDD leg)
      val planted = Tables.documents(spark, sf)
        .where(col("doc_id") < docCap)
        .select(explode(when(pmod(col("doc_id"), lit(13)) === 0, array(
            struct(col("doc_id").as("doc_id"), col("text").as("text")),
            struct((col("doc_id") + 500000L).as("doc_id"),
              concat(col("text"), lit(" zq")).as("text"))))
          .otherwise(array(
            struct(col("doc_id").as("doc_id"), col("text").as("text")))))
          .as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))
      Dedup.polyEditNearDups(planted, k = 2, bands = 8,
          rowsPerBand = 2, maxRelBp = 600L)
        .orderBy("a", "b")
    },

    // Near-dup face of incremental dedup: batch-vs-corpus LSH banding +
    // exact-Jaccard verify (xxhash64 signatures — not DuckDB-expressible,
    // so rows-only here; the behavioral gate is DedupSpec's planted
    // near-dup/exact-dup/fresh triple and the llm_dedup_near recall
    // suite the banding machinery shares). The operator's candidate
    // checkpoint is NOT released here by design: its blocks are
    // candidate-pair-sized (dozens of rows at this docCap), the
    // bloomContamination retention tradeoff the scaladoc documents.
    Q.noOracle("llm_dedup_incremental_near") { (spark, sf) =>
      val docs = Tables.documents(spark, sf)
        .where(col("doc_id") < docCap).select("doc_id", "text")
      val corpus = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
      val batch = docs.where(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        .unionAll(docs.where(pmod(col("doc_id"), lit(10)) === 1)
          .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
      Dedup.incrementalNear(batch, corpus, k = 2, bands = 8,
          rowsPerBand = 2, threshold = 0.3)
        .orderBy("doc_id")
    },

    // The SAME batch-vs-corpus plan under the cross-engine poly hash
    // family (the llm_dedup_near_poly relationship): signatures, the
    // band bucket join, the exact-Jaccard verify and the anti join all
    // replay in SQL, so the incremental face is oracle-gated end to
    // end — llm_dedup_incremental_near stays the xxhash64 production
    // default, rows-checked, sharing one implementation with this gate.
    Q("llm_dedup_incremental_near_poly",
      s"""WITH base AS (
         |  SELECT doc_id, text FROM documents WHERE doc_id < $docCap),
         |corpus AS (SELECT doc_id, text FROM base WHERE doc_id % 5 <> 0),
         |batch AS (
         |  SELECT doc_id + 100000 AS doc_id, text FROM base WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 200000 AS doc_id, text FROM base WHERE doc_id % 10 = 1),
         |allr AS (
         |  SELECT 'c' AS side, doc_id, text FROM corpus
         |  UNION ALL
         |  SELECT 'b' AS side, doc_id, text FROM batch),
         |toks AS (
         |  SELECT side, doc_id, string_split(text, ' ') AS tk,
         |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS tkf
         |  FROM allr),
         |${PolySql.laneSigCtes(carry = Seq("side"))},
         |cand AS (
         |  SELECT DISTINCT b.doc_id AS bid, c.doc_id AS cid
         |  FROM sigs b JOIN sigs c ON b.band = c.band AND b.sig = c.sig
         |  WHERE b.side = 'b' AND c.side = 'c'),
         |${PolySql.shingleCte(carry = Seq("side"))},
         |matched AS (
         |  SELECT DISTINCT cand.bid
         |  FROM cand
         |  JOIN sh sa ON sa.doc_id = cand.bid AND sa.side = 'b'
         |  JOIN sh sb ON sb.doc_id = cand.cid AND sb.side = 'c'
         |  WHERE ${PolySql.jaccard} >= 0.3)
         |SELECT doc_id, text FROM batch
         |WHERE doc_id NOT IN (SELECT bid FROM matched)
         |ORDER BY doc_id""".stripMargin) { (spark, sf) =>
      val docs = Tables.documents(spark, sf)
        .where(col("doc_id") < docCap).select("doc_id", "text")
      val corpus = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
      val batch = docs.where(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        .unionAll(docs.where(pmod(col("doc_id"), lit(10)) === 1)
          .select((col("doc_id") + 200000L).as("doc_id"), col("text")))
      Dedup.incrementalNearPoly(batch, corpus, k = 2, bands = 8,
          rowsPerBand = 2, threshold = 0.3)
        .orderBy("doc_id")
    },

    // Streaming dedup lifecycle (r17): the REAL disk state machine runs
    // in-query — bootstrap the corpus + signature index, feed two
    // micro-batches through applyDedupBatch (the exact function
    // dedupStream's foreachBatch applies), read the maintained corpus
    // back. Batch 1 plants corpus re-fetches (%5=0 under fresh ids) and
    // within-batch near-clones (%15=0 + ' zq', the higher side of each
    // verified pair must drop); batch 2 plants re-fetches of CORPUS
    // text (%10=1 — cross-batch state: their sigs live in the
    // bootstrap partition) and genuinely fresh docs (%20=3 under a
    // disjoint token vocabulary, so no banding candidate survives
    // verification). The oracle replays the full two-batch fold: the
    // poly banding chain ONCE over all three sides, the UNCAPPED index
    // probe per batch (batch-vs-index is a plain join, never
    // bucketPairs), the CAPPED within-batch candidates (the
    // llm_dedup_near_poly capped CTE verbatim), the exact-Jaccard
    // verify, and the survivor union feeding batch 2's index.
    Q("llm_dedup_stream",
      s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < $docCap),
         |corpus AS (SELECT doc_id, text FROM base WHERE doc_id % 5 <> 0),
         |b1 AS (
         |  SELECT doc_id + 100000 AS doc_id, text FROM base WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 300000, text || ' zq' FROM base WHERE doc_id % 15 = 0),
         |b2 AS (
         |  SELECT doc_id + 200000 AS doc_id, text FROM base WHERE doc_id % 10 = 1
         |  UNION ALL
         |  SELECT doc_id + 400000,
         |    'qa' || doc_id || ' qb' || doc_id || ' qc' || doc_id
         |  FROM base WHERE doc_id % 20 = 3),
         |allr AS (
         |  SELECT 'c' AS side, doc_id, text FROM corpus
         |  UNION ALL SELECT '1', doc_id, text FROM b1
         |  UNION ALL SELECT '2', doc_id, text FROM b2),
         |toks AS (
         |  SELECT side, doc_id, string_split(text, ' ') AS tk,
         |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS tkf
         |  FROM allr),
         |${PolySql.laneSigCtes(carry = Seq("side"))},
         |${PolySql.shingleCte(carry = Seq("side"))},
         |cand1 AS (
         |  SELECT DISTINCT b.doc_id AS bid, c.doc_id AS cid
         |  FROM sigs b JOIN sigs c ON b.band = c.band AND b.sig = c.sig
         |  WHERE b.side = '1' AND c.side = 'c' AND b.doc_id <> c.doc_id),
         |m1 AS (
         |  SELECT DISTINCT cand1.bid FROM cand1
         |  JOIN sh sa ON sa.doc_id = cand1.bid AND sa.side = '1'
         |  JOIN sh sb ON sb.doc_id = cand1.cid AND sb.side = 'c'
         |  WHERE ${PolySql.jaccard} >= 0.3),
         |cap1 AS (
         |  SELECT doc_id, band, sig,
         |    row_number() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rn
         |  FROM sigs WHERE side = '1'),
         |wc1 AS (
         |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM cap1 a JOIN cap1 b ON a.band = b.band AND a.sig = b.sig
         |    AND a.doc_id < b.doc_id AND a.rn <= 256 AND b.rn <= 256),
         |w1 AS (
         |  SELECT DISTINCT wc1.b AS bid FROM wc1
         |  JOIN sh sa ON sa.doc_id = wc1.a AND sa.side = '1'
         |  JOIN sh sb ON sb.doc_id = wc1.b AND sb.side = '1'
         |  WHERE ${PolySql.jaccard} >= 0.3),
         |s1 AS (
         |  SELECT doc_id, text FROM b1
         |  WHERE doc_id NOT IN (SELECT bid FROM m1)
         |    AND doc_id NOT IN (SELECT bid FROM w1)),
         |idx2 AS (
         |  SELECT doc_id, band, sig FROM sigs WHERE side = 'c'
         |  UNION ALL
         |  SELECT doc_id, band, sig FROM sigs
         |  WHERE side = '1' AND doc_id IN (SELECT doc_id FROM s1)),
         |cand2 AS (
         |  SELECT DISTINCT b.doc_id AS bid, c.doc_id AS cid
         |  FROM sigs b JOIN idx2 c ON b.band = c.band AND b.sig = c.sig
         |  WHERE b.side = '2' AND b.doc_id <> c.doc_id),
         |shc2 AS (
         |  SELECT doc_id, s FROM sh WHERE side = 'c'
         |  UNION ALL SELECT doc_id, s FROM sh WHERE side = '1'),
         |m2 AS (
         |  SELECT DISTINCT cand2.bid FROM cand2
         |  JOIN sh sa ON sa.doc_id = cand2.bid AND sa.side = '2'
         |  JOIN shc2 sb ON sb.doc_id = cand2.cid
         |  WHERE ${PolySql.jaccard} >= 0.3),
         |cap2 AS (
         |  SELECT doc_id, band, sig,
         |    row_number() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rn
         |  FROM sigs WHERE side = '2'),
         |wc2 AS (
         |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM cap2 a JOIN cap2 b ON a.band = b.band AND a.sig = b.sig
         |    AND a.doc_id < b.doc_id AND a.rn <= 256 AND b.rn <= 256),
         |w2 AS (
         |  SELECT DISTINCT wc2.b AS bid FROM wc2
         |  JOIN sh sa ON sa.doc_id = wc2.a AND sa.side = '2'
         |  JOIN sh sb ON sb.doc_id = wc2.b AND sb.side = '2'
         |  WHERE ${PolySql.jaccard} >= 0.3),
         |s2 AS (
         |  SELECT doc_id, text FROM b2
         |  WHERE doc_id NOT IN (SELECT bid FROM m2)
         |    AND doc_id NOT IN (SELECT bid FROM w2))
         |SELECT doc_id, text FROM corpus
         |UNION ALL SELECT doc_id, text FROM s1
         |UNION ALL SELECT doc_id, text FROM s2
         |ORDER BY doc_id""".stripMargin) { (spark, sf) =>
      val docs = Tables.documents(spark, sf)
        .where(col("doc_id") < docCap).select("doc_id", "text")
      val corpus = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
      val b1 = docs.where(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
        .unionAll(docs.where(pmod(col("doc_id"), lit(15)) === 0)
          .select((col("doc_id") + 300000L).as("doc_id"),
            concat(col("text"), lit(" zq")).as("text")))
      val b2 = docs.where(pmod(col("doc_id"), lit(10)) === 1)
        .select((col("doc_id") + 200000L).as("doc_id"), col("text"))
        .unionAll(docs.where(pmod(col("doc_id"), lit(20)) === 3)
          .select((col("doc_id") + 400000L).as("doc_id"),
            concat(lit("qa"), col("doc_id").cast("string"),
              lit(" qb"), col("doc_id").cast("string"),
              lit(" qc"), col("doc_id").cast("string")).as("text")))
      val dir = java.nio.file.Files
        .createTempDirectory("dedup_stream_q").toString
      // nIdxBuckets sized to the FIXTURE corpus per the r18 sizing rule
      // (buckets hold ~constant rows): the 64-bucket default on a tiny
      // corpus pays 64 dirs of probe/commit overhead for no pruning
      StreamOps.bootstrapDedup(corpus, s"$dir/idx", s"$dir/corp",
        k = 2, bands = 8, rowsPerBand = 2, nBuckets = 16, poly = true,
        nIdxBuckets = 8)
      StreamOps.applyDedupBatch(b1, 0L, s"$dir/idx", s"$dir/corp",
        k = 2, bands = 8, rowsPerBand = 2, threshold = 0.3, nBuckets = 16,
        idCol = "doc_id", textCol = "text", poly = true, nIdxBuckets = 8)
      StreamOps.applyDedupBatch(b2, 1L, s"$dir/idx", s"$dir/corp",
        k = 2, bands = 8, rowsPerBand = 2, threshold = 0.3, nBuckets = 16,
        idCol = "doc_id", textCol = "text", poly = true, nIdxBuckets = 8)
      StreamOps.readDedupCorpus(spark, s"$dir/corp").orderBy("doc_id")
    },

    // Read-only dedup probe (r18): the SERVING query of a dedupStream
    // deployment — "would these docs be near-dups of the corpus, and
    // of WHICH doc?" — answered from the stored signature index +
    // bucket-pruned corpus text without mutating either store
    // (StreamOps.probeDedup; the no-mutation guarantee is spec'd in
    // DedupStreamSpec). Probe planting: %5=0 corpus re-fetches (dup_of
    // = the original id), %15=0 near-clones (' zq' — still above the
    // 0.3 gate), %20=3 fresh docs under a disjoint vocabulary (NULL).
    // Oracle: the poly banding chain over both sides, candidate join,
    // exact-Jaccard verify, min(cid) evidence, LEFT JOIN back to the
    // probe set. Each doc judged independently — no within-batch pass
    // (that is ingest's concern, not serving's).
    Q("llm_dedup_probe",
      s"""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < $docCap),
         |corpus AS (SELECT doc_id, text FROM base WHERE doc_id % 5 <> 0),
         |probe AS (
         |  SELECT doc_id + 100000 AS doc_id, text FROM base WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 300000, text || ' zq' FROM base WHERE doc_id % 15 = 0
         |  UNION ALL
         |  SELECT doc_id + 400000,
         |    'qa' || doc_id || ' qb' || doc_id || ' qc' || doc_id
         |  FROM base WHERE doc_id % 20 = 3),
         |allr AS (
         |  SELECT 'c' AS side, doc_id, text FROM corpus
         |  UNION ALL SELECT 'b', doc_id, text FROM probe),
         |toks AS (
         |  SELECT side, doc_id, string_split(text, ' ') AS tk,
         |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS tkf
         |  FROM allr),
         |${PolySql.laneSigCtes(carry = Seq("side"))},
         |${PolySql.shingleCte(carry = Seq("side"))},
         |cand AS (
         |  SELECT DISTINCT b.doc_id AS bid, c.doc_id AS cid
         |  FROM sigs b JOIN sigs c ON b.band = c.band AND b.sig = c.sig
         |  WHERE b.side = 'b' AND c.side = 'c' AND b.doc_id <> c.doc_id),
         |m AS (
         |  SELECT cand.bid, min(cand.cid) AS dup_of
         |  FROM cand
         |  JOIN sh sa ON sa.doc_id = cand.bid AND sa.side = 'b'
         |  JOIN sh sb ON sb.doc_id = cand.cid AND sb.side = 'c'
         |  WHERE ${PolySql.jaccard} >= 0.3
         |  GROUP BY cand.bid)
         |SELECT p.doc_id, m.dup_of
         |FROM probe p LEFT JOIN m ON m.bid = p.doc_id
         |ORDER BY p.doc_id""".stripMargin) { (spark, sf) =>
      val docs = Tables.documents(spark, sf)
        .where(col("doc_id") < docCap).select("doc_id", "text")
      val corpus = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
      // one-scan planting (the r14 rule): all three probe classes emit
      // from a single scan projection, not a 3-leg union
      def prow(id: org.apache.spark.sql.Column, t: org.apache.spark.sql.Column) =
        struct(id.as("doc_id"), t.as("text"))
      val probe = docs.select(explode(array(
          when(pmod(col("doc_id"), lit(5)) === 0,
            prow(col("doc_id") + 100000L, col("text"))),
          when(pmod(col("doc_id"), lit(15)) === 0,
            prow(col("doc_id") + 300000L, concat(col("text"), lit(" zq")))),
          when(pmod(col("doc_id"), lit(20)) === 3,
            prow(col("doc_id") + 400000L,
              concat(lit("qa"), col("doc_id").cast("string"),
                lit(" qb"), col("doc_id").cast("string"),
                lit(" qc"), col("doc_id").cast("string"))))))
          .as("c"))
        .where(col("c").isNotNull)
        .select(col("c.*"))
      val dir = java.nio.file.Files
        .createTempDirectory("dedup_probe_q").toString
      StreamOps.bootstrapDedup(corpus, s"$dir/idx", s"$dir/corp",
        k = 2, bands = 8, rowsPerBand = 2, nBuckets = 16, poly = true,
        nIdxBuckets = 8)
      StreamOps.probeDedup(probe, s"$dir/idx", s"$dir/corp",
          k = 2, bands = 8, rowsPerBand = 2, threshold = 0.3,
          idCol = "doc_id", textCol = "text", poly = true, nIdxBuckets = 8)
        .orderBy("doc_id")
    },

    Q.noOracle("llm_dedup_simhash") { (spark, sf) =>
      Dedup.simHashNearDups(
          Tables.documents(spark, sf).where(col("doc_id") < docCap), maxHamming = 3)
        .orderBy("a", "b")
    },

    // SimHash under the cross-engine family (the llm_dedup_near_poly
    // relationship for the SimHash axis): 32-bit signature from
    // majority votes of MIXED hash-threshold lanes (MINSTD-power
    // multipliers mod 2³¹−1 — the VALUES table below is GENERATED from
    // TextKernelObjs.simHashLaneConsts, one formula both engines;
    // small affine multipliers measured ~90% of all pairs into radius
    // 3 on this fixture — too correlated), pigeonhole banding, exact
    // bit_count(xor) verify. maxHamming=1 PROBED: 286/251/3610 pairs
    // tri-scale — non-vacuous and discriminating at a 1/32 radius.
    Q("llm_dedup_simhash_poly", {
      val kv = graft.functions.TextKernelObjs.simHashLaneConsts(32)
        .zipWithIndex.map { case ((k, c), j) => s"($j, $k, $c)" }.mkString(", ")
      s"""WITH kc(j, kk, cc) AS (VALUES $kv),
         |toks AS (
         |  SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS tkf
         |  FROM documents WHERE doc_id < $docCap),
         |th AS (
         |  SELECT doc_id, list_transform(tkf, t ->
         |      list_reduce(list_transform(string_split(t, ''),
         |          c -> CAST(unicode(c) AS BIGINT)),
         |        (a, b) -> (a * 31 + b) % 2147483647)) AS hs
         |  FROM toks WHERE len(tkf) > 0),
         |votes AS (
         |  SELECT doc_id, j,
         |    CASE WHEN list_sum(list_transform(hs, h ->
         |        CASE WHEN (kk * h + cc) % 2147483647 > 1073741823
         |             THEN 1 ELSE -1 END)) > 0
         |      THEN (1::BIGINT << j) ELSE 0 END AS bitv
         |  FROM th, kc),
         |sig AS (
         |  SELECT doc_id, CAST(sum(bitv) AS BIGINT) AS simhash
         |  FROM votes GROUP BY doc_id),
         |banded AS (
         |  SELECT doc_id, simhash, chunk, (simhash >> (chunk * 16)) & 65535 AS cv
         |  FROM (SELECT doc_id, simhash, unnest(range(0, 2)) AS chunk FROM sig)),
         |capped AS (
         |  SELECT doc_id, simhash, chunk, cv,
         |    row_number() OVER (PARTITION BY chunk, cv ORDER BY doc_id) AS rn
         |  FROM banded),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a, a.simhash AS sa,
         |    b.doc_id AS b, b.simhash AS sb
         |  FROM capped a JOIN capped b ON a.chunk = b.chunk AND a.cv = b.cv
         |    AND a.doc_id < b.doc_id AND a.rn <= 256 AND b.rn <= 256)
         |SELECT a, b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(sa, sb)) <= 1
         |ORDER BY a, b""".stripMargin
    }) { (spark, sf) =>
      Dedup.polySimHashNearDups(
          Tables.documents(spark, sf).where(col("doc_id") < docCap),
          maxHamming = 1)
        .orderBy("a", "b")
    },

    // Consecutive-id pairs through the exact Jaccard verifier — fully
    // DuckDB-expressible (list ops + the integer round-half-up discipline),
    // so the verification kernel shared by every near-dup path is
    // oracle-gated, not just rows-checked.
    Q("llm_dedup_ngram",
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t
         |  FROM documents WHERE doc_id < $docCap),
         |sh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |      range(1, greatest(len(t) - 1, 1) + 1),
         |      i -> array_to_string(t[i:i+1], ' '))) AS s
         |  FROM toks),
         |p AS (
         |  SELECT a.doc_id AS a, b.doc_id AS b,
         |    CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS i,
         |    CAST(len(list_distinct(list_concat(a.s, b.s))) AS BIGINT) AS u
         |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1)
         |SELECT a, b, ((20000 * i + u) // (2 * u)) / 10000.0 AS jaccard
         |FROM p ORDER BY a, b""".stripMargin) { (spark, sf) =>
      val docs = Tables.documents(spark, sf).where(col("doc_id") < docCap)
      val pairs = docs.select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
        .where(col("b") < docCap)
      Dedup.ngramJaccard(docs, pairs, k = 2).orderBy("a", "b")
    },

    // Paragraph-level dedup (C4-style boilerplate removal), oracle-gated
    // for real: the fixture corpus is single-line, so paragraph structure
    // is planted in-query on BOTH sides (the llm_redact discipline) — two
    // per-doc slices plus two boilerplate paragraphs shared by EVERY doc.
    // The boilerplate survives only in doc 0 (first global occurrence);
    // each doc keeps its unique slices; kept counts and reassembled text
    // hash-match DuckDB exactly.
    Q("llm_dedup_paragraph",
      """WITH planted AS (
        |  SELECT doc_id,
        |    substr(text, 1, 80) || chr(10)||chr(10) ||
        |    'subscribe to our newsletter today' || chr(10)||chr(10) ||
        |    substr(text, 41, 80) || chr(10)||chr(10) ||
        |    'all rights reserved' AS text
        |  FROM documents WHERE doc_id < 500),
        |parts AS (SELECT doc_id, string_split(text, chr(10)||chr(10)) AS ps FROM planted),
        |paras AS (
        |  SELECT doc_id, unnest(generate_series(1, len(ps))) AS idx, unnest(ps) AS para
        |  FROM parts),
        |winners AS (
        |  SELECT doc_id, idx FROM (
        |    SELECT doc_id, idx,
        |      row_number() OVER (PARTITION BY para ORDER BY doc_id, idx) AS rn
        |    FROM paras) WHERE rn = 1),
        |surv AS (
        |  SELECT p.doc_id, p.idx, p.para FROM paras p JOIN winners w USING (doc_id, idx)),
        |rebuilt AS (
        |  SELECT doc_id, string_agg(para, chr(10)||chr(10) ORDER BY idx) AS text,
        |         count(*) AS n_kept
        |  FROM surv GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.text, '') AS text,
        |       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
        |FROM planted d LEFT JOIN rebuilt r USING (doc_id) ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        val planted = Tables.documents(spark, sf).where(col("doc_id") < 500)
          .select(col("doc_id"), concat_ws("\n\n",
            substring(col("text"), 1, 80),
            lit("subscribe to our newsletter today"),
            substring(col("text"), 41, 80),
            lit("all rights reserved")).as("text"))
        Dedup.paragraphDedup(planted).orderBy("doc_id")
    },

    // Exact-substring dedup (Lee et al. 2022 class): repeated ≥k-token
    // spans keep only their first occurrence. The fixture corpus is
    // unique prose, so a 30-token boilerplate span is planted on every
    // 5th document on BOTH sides (the llm_redact discipline); with k=20
    // the span is fully window-covered, so every planted doc but the
    // first loses it. Spark elects winners by window-hash; the oracle
    // groups by the window TEXT itself — equal text ⟺ equal sha2, so
    // the elections agree without a cross-engine hash.
    Q("llm_dedup_substring", {
      val bp = (0 until 30).map(i => f"bp$i%02d").mkString(" ")
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN text || ' ' || '$bp'
         |         ELSE text END AS text
         |  FROM documents),
         |t AS (
         |  SELECT doc_id, regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+') AS toks,
         |    CAST(len(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS nt
         |  FROM planted),
         |h AS (
         |  SELECT doc_id, unnest(range(1, nt - 18)) AS s, toks FROM t),
         |h2 AS (
         |  SELECT doc_id, s, array_to_string(toks[s : s + 19], ' ') AS wtext FROM h),
         |ranked AS (
         |  SELECT doc_id, s,
         |    row_number() OVER (PARTITION BY wtext ORDER BY doc_id, s) AS rn
         |  FROM h2),
         |cov AS (
         |  SELECT doc_id, unnest(range(s, s + 20)) AS i FROM ranked WHERE rn > 1),
         |tok AS (
         |  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS i, toks FROM t),
         |tok2 AS (SELECT doc_id, i, toks[i] AS tok FROM tok),
         |surv AS (
         |  SELECT k.doc_id, k.i, k.tok FROM tok2 k
         |  WHERE NOT EXISTS (SELECT 1 FROM cov c WHERE c.doc_id = k.doc_id AND c.i = k.i)),
         |rebuilt AS (
         |  SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text, count(*) AS n_kept
         |  FROM surv GROUP BY doc_id)
         |SELECT p.doc_id, coalesce(r.text, '') AS text,
         |       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
         |FROM planted p LEFT JOIN rebuilt r USING (doc_id) ORDER BY doc_id""".stripMargin
    }) { (spark, sf) =>
      val bp = (0 until 30).map(i => f"bp$i%02d").mkString(" ")
      val planted = Tables.documents(spark, sf).select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" " + bp)))
          .otherwise(col("text")).as("text"))
      Dedup.substringDedup(planted, k = 20).orderBy("doc_id")
    },

    // Duplicated-token-mass audit: per source, tokens removed by
    // substring dedup in round-half-up bp — llm_dedup_substring's
    // planted boilerplate (%5 docs share a 30-token run) guarantees a
    // non-zero removal mass at every scale.
    Q("llm_dup_mass", {
      val bp = (0 until 30).map(i => f"bp$i%02d").mkString(" ")
      s"""WITH planted AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id % 5 = 0 THEN text || ' ' || '$bp'
         |         ELSE text END AS text
         |  FROM documents),
         |t AS (
         |  SELECT doc_id, source,
         |    regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+') AS toks,
         |    CAST(len(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS nt
         |  FROM planted),
         |h AS (
         |  SELECT doc_id, unnest(range(1, nt - 18)) AS s, toks FROM t),
         |h2 AS (
         |  SELECT doc_id, s, array_to_string(toks[s : s + 19], ' ') AS wtext FROM h),
         |ranked AS (
         |  SELECT doc_id, s,
         |    row_number() OVER (PARTITION BY wtext ORDER BY doc_id, s) AS rn
         |  FROM h2),
         |cov AS (
         |  SELECT doc_id, unnest(range(s, s + 20)) AS i FROM ranked WHERE rn > 1),
         |covd AS (SELECT doc_id, count(DISTINCT i) AS ncov FROM cov GROUP BY doc_id),
         |perdoc AS (
         |  SELECT t.doc_id, t.source, t.nt,
         |    t.nt - coalesce(c.ncov, 0) AS n_kept
         |  FROM t LEFT JOIN covd c USING (doc_id))
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(nt) AS BIGINT) AS total_tokens,
         |  CAST(sum(n_kept) AS BIGINT) AS kept_tokens,
         |  CAST(CASE WHEN sum(nt) > 0
         |    THEN ((sum(nt) - sum(n_kept)) * 20000 + sum(nt)) // (2 * sum(nt))
         |    ELSE 0 END AS BIGINT) AS removed_bp
         |FROM perdoc GROUP BY source ORDER BY source""".stripMargin
    }) { (spark, sf) =>
      val bp = (0 until 30).map(i => f"bp$i%02d").mkString(" ")
      val planted = Tables.documents(spark, sf).select(col("doc_id"), col("source"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" " + bp)))
          .otherwise(col("text")).as("text"))
      Audit.dupMass(planted, k = 20).orderBy("source")
    },

    // Transitive duplicate clustering: near-dup pair lists only ever name
    // (A,B) and (B,C) — turning them into keep/drop decisions needs the
    // transitive closure. Edges are planted arithmetically on BOTH sides
    // (chains of 6 docs with a shortcut edge, endpoints join-verified so
    // the graph is identical cross-engine); the oracle computes min
    // reachable id per node with a recursive CTE, gating the iterative
    // pointer-jumping propagation exactly.
    Q("llm_dedup_cluster",
      """WITH RECURSIVE nodes AS (SELECT doc_id FROM documents),
        |e1 AS (SELECT x.doc_id AS src, y.doc_id AS dst FROM nodes x
        |       JOIN nodes y ON y.doc_id = x.doc_id + 1 WHERE x.doc_id % 6 < 5),
        |e2 AS (SELECT x.doc_id AS src, y.doc_id AS dst FROM nodes x
        |       JOIN nodes y ON y.doc_id = x.doc_id + 3 WHERE x.doc_id % 6 = 0),
        |edges AS (SELECT src, dst FROM e1 UNION ALL SELECT src, dst FROM e2),
        |sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
        |reach(id, m) AS (
        |  SELECT doc_id, doc_id FROM nodes
        |  UNION
        |  SELECT s.dst, r.m FROM reach r JOIN sym s ON s.src = r.id)
        |SELECT id AS doc_id, min(m) AS component
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        val ids = Tables.documents(spark, sf).select("doc_id")
        val e1 = ids.as("x").join(ids.as("y"),
            col("y.doc_id") === col("x.doc_id") + 1)
          .where(col("x.doc_id") % 6 < 5)
          .select(col("x.doc_id").as("src"), col("y.doc_id").as("dst"))
        val e2 = ids.as("x").join(ids.as("y"),
            col("y.doc_id") === col("x.doc_id") + 3)
          .where(col("x.doc_id") % 6 === 0)
          .select(col("x.doc_id").as("src"), col("y.doc_id").as("dst"))
        graft.llm.Components.connectedComponents(
            ids, e1.union(e2), idCol = "doc_id")
          .orderBy("doc_id")
    },

    // Quality-aware dedup winner: within each planted chain cluster
    // ({6k..6k+3}, the llm_split_safe lattice) keep the member with the
    // highest planted score ((id%101)*37%101 — consecutive ids never
    // tie, and the max lands on a DIFFERENT chain position per cluster,
    // so a min-id election, a min-score election, or a non-transitive
    // closure each drop different ids and hash-mismatch; the tiebreak
    // path is spec-pinned instead, since the lattice never ties).
    Q("llm_quality_dedup",
      """WITH RECURSIVE nodes AS (SELECT doc_id FROM documents),
        |e AS (SELECT x.doc_id AS a, y.doc_id AS b FROM nodes x
        |      JOIN nodes y ON y.doc_id = x.doc_id + 1 WHERE x.doc_id % 6 < 3),
        |sym AS (SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e),
        |parts AS (SELECT DISTINCT src AS id FROM sym),
        |reach(id, m) AS (
        |  SELECT id, id FROM parts
        |  UNION
        |  SELECT s.dst, r.m FROM reach r JOIN sym s ON s.src = r.id),
        |comp AS (SELECT id AS doc_id, min(m) AS component FROM reach GROUP BY id),
        |scored AS (SELECT c.doc_id, c.component,
        |           ((c.doc_id % 101) * 37) % 101 AS score FROM comp c),
        |r AS (SELECT doc_id, row_number() OVER
        |        (PARTITION BY component ORDER BY score DESC, doc_id) AS rn
        |      FROM scored),
        |losers AS (SELECT doc_id FROM r WHERE rn > 1)
        |SELECT d.doc_id, d.source,
        |  CAST(((d.doc_id % 101) * 37) % 101 AS BIGINT) AS score
        |FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
        |ORDER BY d.doc_id""".stripMargin) {
      (spark, sf) =>
        val docs = Tables.documents(spark, sf).select("doc_id", "source")
          .withColumn("score",
            pmod(pmod(col("doc_id"), lit(101)) * 37, lit(101)))
        val ids = Tables.documents(spark, sf).select("doc_id")
        val pairs = ids.as("x").join(ids.as("y"),
            col("y.doc_id") === col("x.doc_id") + 1)
          .where(col("x.doc_id") % 6 < 3)
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        graft.llm.Curation.qualityDedup(docs, pairs, col("score"))
          .orderBy("doc_id")
    },

    // Intra-document repetition (Gopher-style quality signal): duplicate
    // word-bigram fraction per doc — narrow kernel + array_distinct, the
    // integer round-half-up ratio discipline, full-table (no pair stage).
    Q("llm_repetition",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    list_transform(range(1, greatest(len(t) - 1, 1) + 1),
        |      i -> array_to_string(t[i:i+1], ' ')) AS grams
        |  FROM toks)
        |SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
        |  CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
        |  (((len(grams) - len(list_distinct(grams))) * 20000 + len(grams))
        |    // (2 * len(grams))) / 10000.0 AS rep_ratio
        |FROM g ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        TextStats.repetition(Tables.documents(spark, sf)).orderBy("doc_id")
    },

    // The full Gopher repetition battery (r13): dup-line fraction,
    // dup-line CHAR fraction, top-bigram char mass, dup-5-gram position
    // coverage — the repetition defects the single bigram ratio above
    // approximates. Gram stats via the RepGramStats codegen kernel
    // (per-row maps, no explode); the oracle replays them with the
    // unnest→count→window formulation, including the kernel's
    // binary-smallest tie-break (ORDER BY c DESC, g). Defect classes
    // planted in-query on %19 residues; probed tri-scale: every rule
    // fails 27–791 docs, keep ≈ 83 %, with a natural top-gram fail
    // branch (p99 of the natural mass sits just over the 2000 bp cut).
    Q("llm_rep_rules", {
      def nlJoin(s: String): String =
        "'" + s.split("\n").mkString("' || chr(10) || '") + "'"
      s"""WITH planted AS (
         |  SELECT doc_id, CASE doc_id % 19
         |    WHEN 1 THEN ${nlJoin(repDupLines)}
         |    WHEN 2 THEN '$repBigramSpam'
         |    WHEN 3 THEN '$repDupGram'
         |    ELSE text END AS text
         |  FROM documents),
         |t AS (
         |  SELECT doc_id, regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+') tk,
         |    string_split(text, chr(10)) ln, CAST(length(text) AS BIGINT) nc
         |  FROM planted),
         |lstat AS (
         |  SELECT doc_id, CAST(len(ln) AS BIGINT) nl,
         |    CAST(len(ln) - len(list_distinct(ln)) AS BIGINT) dl,
         |    CAST(coalesce(list_sum(list_transform(ln, l -> length(l))), 0)
         |      AS BIGINT) tlc,
         |    CAST(coalesce(list_sum(list_transform(list_distinct(ln),
         |      l -> length(l))), 0) AS BIGINT) dlc
         |  FROM t),
         |g2 AS (
         |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(tk)-1,0)+1),
         |    i -> array_to_string(tk[i:i+1], ' '))) g
         |  FROM t WHERE len(tk) >= 2),
         |gc AS (SELECT doc_id, g, count(*) c FROM g2 GROUP BY 1, 2),
         |top AS (
         |  SELECT doc_id, c * length(g) AS mass,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, g) rn
         |  FROM gc),
         |h AS (
         |  SELECT doc_id, unnest(range(1, greatest(len(tk)-4,0)+1)) s, tk
         |  FROM t WHERE len(tk) >= 5),
         |g5 AS (SELECT doc_id, s, array_to_string(tk[s:s+4], ' ') g FROM h),
         |gcnt AS (SELECT doc_id, g, count(*) c2 FROM g5 GROUP BY 1, 2),
         |cov AS (
         |  SELECT g5.doc_id, unnest(range(g5.s, g5.s+5)) p
         |  FROM g5 JOIN gcnt ON gcnt.doc_id = g5.doc_id AND gcnt.g = g5.g
         |  WHERE gcnt.c2 >= 2),
         |covd AS (
         |  SELECT doc_id, CAST(count(DISTINCT p) AS BIGINT) cover
         |  FROM cov GROUP BY 1),
         |m AS (
         |  SELECT t.doc_id, CAST(len(tk) AS BIGINT) nt, nc, nl, dl, tlc, dlc,
         |    CAST(coalesce(tp.mass, 0) AS BIGINT) mass,
         |    coalesce(covd.cover, 0) cover
         |  FROM t JOIN lstat USING (doc_id)
         |  LEFT JOIN (SELECT doc_id, mass FROM top WHERE rn = 1) tp USING (doc_id)
         |  LEFT JOIN covd USING (doc_id)),
         |r AS (
         |  SELECT doc_id, nt, nl,
         |    (dl * 20000 + nl) // (2 * nl) AS dup_line_bp,
         |    CASE WHEN tlc > 0 THEN ((tlc - dlc) * 20000 + tlc) // (2 * tlc)
         |      ELSE 0 END AS dup_line_char_bp,
         |    CASE WHEN nc > 0 THEN (mass * 20000 + nc) // (2 * nc)
         |      ELSE 0 END AS top_gram_bp,
         |    (cover * 20000 + nt) // (2 * nt) AS dup_gram_bp
         |  FROM m)
         |SELECT doc_id, nt AS n_words, nl AS n_lines,
         |  dup_line_bp, dup_line_char_bp, top_gram_bp, dup_gram_bp,
         |  dup_line_bp <= 3000 AS line_ok,
         |  dup_line_char_bp <= 2000 AS line_char_ok,
         |  top_gram_bp <= 2000 AS top_gram_ok,
         |  dup_gram_bp <= 1500 AS dup_gram_ok,
         |  dup_line_bp <= 3000 AND dup_line_char_bp <= 2000
         |    AND top_gram_bp <= 2000 AND dup_gram_bp <= 1500 AS keep
         |FROM r ORDER BY doc_id""".stripMargin
    }) { (spark, sf) =>
      val m = pmod(col("doc_id"), lit(19))
      val planted = Tables.documents(spark, sf).select(col("doc_id"),
        when(m === 1, lit(repDupLines))
          .when(m === 2, lit(repBigramSpam))
          .when(m === 3, lit(repDupGram))
          .otherwise(col("text")).as("text"))
      TextStats.repetitionRules(planted).orderBy("doc_id")
    },

    // Compression-ratio quality signal: deflate output length is
    // deterministic per JVM/zlib but implementation-defined across
    // engines (DuckDB has no SQL deflate at all) → rows-only here;
    // TextStatsSpec pins the laws (repetitive < natural, determinism
    // under repartitioning, bounds) and the kernel's eval/codegen paths
    // agree bit-identically via the shared static kernel.
    Q.noOracle("llm_compression") { (spark, sf) =>
      TextStats.compressionRatio(Tables.documents(spark, sf)).orderBy("doc_id")
    },

    // Character-entropy quality scoring (r13): the gibberish/noise face
    // the length/stopword ratios miss — single-character spam scores 0,
    // natural prose ~4200-4500 fp, encoded blobs ~6100 fp. Exact
    // integer arithmetic (the l2 bin() kit over the per-doc character
    // histogram), hash-gated per row across the whole corpus; two rows
    // planted in-query pin the edge paths at every scale (a one-class
    // histogram -> 0, an all-distinct one -> exactly bits*1024).
    // Codepoint counting matches string_split(text,'') / length() on
    // both engines.
    Q("llm_entropy", {
      def l2(x: String): String =
        s"((length(bin($x)) - 1) * 1024 + (($x) * 1024 // (1::BIGINT << (length(bin($x)) - 1))) - 1024)"
      s"""WITH docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL SELECT -1, 'aaaaaaaaaa'
         |  UNION ALL SELECT -2, 'abcdefgh'),
         |ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c
         |       FROM docs WHERE len(text) > 0),
         |hist AS (SELECT doc_id, c, count(*)::BIGINT AS k
         |         FROM ch GROUP BY doc_id, c),
         |tot AS (SELECT doc_id, sum(k)::BIGINT AS n FROM hist GROUP BY doc_id)
         |SELECT h.doc_id, t.n AS n_chars,
         |  CAST((t.n * ${l2("t.n")} - sum(h.k * ${l2("h.k")})) // t.n
         |    AS BIGINT) AS entropy_fp
         |FROM hist h JOIN tot t USING (doc_id)
         |GROUP BY h.doc_id, t.n
         |ORDER BY doc_id""".stripMargin
    }) { (spark, sf) =>
      import spark.implicits._
      val planted = Seq((-1L, "aaaaaaaaaa"), (-2L, "abcdefgh"))
        .toDF("doc_id", "text")
      TextStats.charEntropy(
          Tables.documents(spark, sf).select("doc_id", "text")
            .unionAll(planted))
        .orderBy("doc_id")
    },

    // The integer face that oracle-gates the compressibility family:
    // fixed-point log2 (1/1024-bit units, the bin() kit) of the 3-gram
    // duplication factor over the llm_winnow hash chain mod 2^20. The
    // whole pipeline — token hashes, gram chain, bucket mod, duplication
    // ratio, l2 — replays in DuckDB; TextStatsSpec ties its RANKING to
    // deflate's on a planted redundancy ladder. docCap bounds the
    // per-character list arithmetic on the DuckDB side. The fixture
    // corpus is clean prose (3-grams ~all distinct → the proxy would
    // point-mass at 10240, the l2 leg vacuous), so boilerplate
    // repetition is planted IN-QUERY on both sides, reps scaled by
    // doc_id so the duplication factor SPREADS (the r8 percentile rule).
    Q("llm_compression_q",
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    text || repeat(' boiler plate row', CAST(doc_id % 8 AS INT) * 6)
         |      AS text
         |  FROM documents WHERE doc_id < $docCap),
         |toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
         |  FROM planted),
         |th AS (
         |  SELECT doc_id, list_transform(tk, t ->
         |      list_reduce(list_transform(string_split(t, ''),
         |          c -> CAST(unicode(c) AS BIGINT)),
         |        (a, b) -> (a * 31 + b) % 2147483647)) AS hs
         |  FROM toks WHERE len(tk) > 0),
         |g AS (
         |  SELECT doc_id,
         |    unnest(range(1, greatest(len(hs) - 3 + 1, 1) + 1)) AS pos, hs
         |  FROM th),
         |grams AS (
         |  SELECT doc_id,
         |    list_reduce(hs[pos:least(pos + 2, len(hs))],
         |      (a, b) -> (a * 1000003 + b) % 2147483647) % 1048576 AS b
         |  FROM g),
         |gd AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS ng,
         |    CAST(count(DISTINCT b) AS BIGINT) AS nd
         |  FROM grams GROUP BY doc_id),
         |x AS (SELECT doc_id, (ng * 1024) // nd AS x FROM gd)
         |SELECT doc_id,
         |  CAST(length(bin(x)) - 1 AS BIGINT) * 1024
         |    + (x * 1024) // (1::BIGINT << (length(bin(x)) - 1))
         |    - 11264 AS compress_proxy
         |FROM x ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        TextStats.compressibilityProxy(
            Tables.documents(spark, sf).where(col("doc_id") < docCap)
              .select(col("doc_id"),
                concat(col("text"),
                  repeat(lit(" boiler plate row"),
                    pmod(col("doc_id"), lit(8)).cast("int") * 6)).as("text")))
          .orderBy("doc_id")
    },

    // Corpus vocabulary top-50: explode + map-side-combined count +
    // TakeOrderedAndProject (bounded per-partition top-k, no global
    // sort); ties broken by token so the cut is deterministic.
    Q("llm_vocab",
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |SELECT token, count(*) AS n FROM toks GROUP BY 1
        |ORDER BY n DESC, token LIMIT 50""".stripMargin) {
      (spark, sf) =>
        TextStats.vocab(Tables.documents(spark, sf), topK = 50)
    },

    // Per-document salient terms: TF-IDF with a RATIONAL idf (N/df) in
    // round-half-up basis points — integer-exact cross-engine, so the
    // full explode → tf → df-join → per-doc top-k pipeline is
    // oracle-gated (ln-idf would hinge on floating log ulps at ties).
    // BM25 ranking (r13): lexical retrieval over the corpus under a
    // fixed query-term set, exact integer arithmetic end to end — k1/b
    // cross-multiplied away, Robertson idf in the l2 fixed point with
    // the Lucene-style floor at 0 (the fixture vocabulary is dense:
    // every natural word but 'dup' sits in ~77 % of docs, so unclamped
    // idf would go negative — the clamp is live code on both sides).
    // Query terms zq1/zq2 are PLANTED on %37 residues (controlled
    // df ≈ 8 % and a tf=2 class); 'dup' rides its natural 5 % df. Two
    // narrow passes + a one-row broadcast + TakeOrdered — no explode,
    // no corpus shuffle.
    Q("llm_bm25", {
      def l2(x: String): String =
        s"((length(bin($x)) - 1) * 1024 + (($x) * 1024 // (1::BIGINT << (length(bin($x)) - 1))) - 1024)"
      def idf(df: String): String =
        s"greatest(0, ${l2(s"2*n - 2*$df + 1")} - ${l2(s"2*$df + 1")})"
      def ts(tf: String, df: String): String =
        s"CASE WHEN $tf > 0 THEN (${idf(df)} * $tf * 44 * t) // (20 * $tf * t + 6 * t + 18 * dl * n) ELSE 0 END"
      s"""WITH planted AS (
         |  SELECT doc_id, CASE doc_id % 37
         |    WHEN 1 THEN text || ' zq1'
         |    WHEN 2 THEN text || ' zq1 zq2'
         |    WHEN 3 THEN text || ' zq2 zq2 zq1'
         |    ELSE text END AS text FROM documents),
         |c AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) dl,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x = 'zq1'))
         |      AS BIGINT) tf0,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x = 'zq2'))
         |      AS BIGINT) tf1,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x = 'dup'))
         |      AS BIGINT) tf2
         |  FROM planted),
         |s AS (
         |  SELECT CAST(count(*) AS BIGINT) n, CAST(sum(dl) AS BIGINT) t,
         |    CAST(sum((tf0 > 0)::INT) AS BIGINT) df0,
         |    CAST(sum((tf1 > 0)::INT) AS BIGINT) df1,
         |    CAST(sum((tf2 > 0)::INT) AS BIGINT) df2
         |  FROM c),
         |r AS (SELECT doc_id, dl, tf0, tf1, tf2, n, t, df0, df1, df2 FROM c, s),
         |sc AS (
         |  SELECT doc_id, dl AS doc_tokens,
         |    tf0 AS tf_zq1, tf1 AS tf_zq2, tf2 AS tf_dup,
         |    ${ts("tf0", "df0")} + ${ts("tf1", "df1")} + ${ts("tf2", "df2")}
         |      AS score_fp
         |  FROM r)
         |SELECT doc_id, doc_tokens, tf_zq1, tf_zq2, tf_dup, score_fp
         |FROM sc WHERE score_fp > 0
         |ORDER BY score_fp DESC, doc_id LIMIT 20""".stripMargin
    }) { (spark, sf) =>
      val m = pmod(col("doc_id"), lit(37))
      val planted = Tables.documents(spark, sf).select(col("doc_id"),
        when(m === 1, concat(col("text"), lit(" zq1")))
          .when(m === 2, concat(col("text"), lit(" zq1 zq2")))
          .when(m === 3, concat(col("text"), lit(" zq2 zq2 zq1")))
          .otherwise(col("text")).as("text"))
      TextStats.bm25(planted, Seq("zq1", "zq2", "dup"), limit = 20)
    },

    // Hybrid retrieval (r13): reciprocal-rank fusion of the BM25
    // lexical list with a dense quantized-cosine list — rank positions
    // fuse, so the two scoring scales never need calibration. The
    // dense query vector is vec 77's own embedding (built IN-QUERY via
    // a 1-row broadcast, no driver collect): 77 is %37 class 3, so it
    // sits in the lexical top-20 at every scale (probed ranks 3/10/13)
    // AND tops the dense list — the fused winner demonstrably draws on
    // BOTH lists tri-scale. Every post-corpus frame is limit-sized;
    // the two partition-less rank windows run over ≤ 20 rows
    // (WindowBudgets entry).
    Q("llm_hybrid_rank", {
      def l2(x: String): String =
        s"((length(bin($x)) - 1) * 1024 + (($x) * 1024 // (1::BIGINT << (length(bin($x)) - 1))) - 1024)"
      def idf(df: String): String =
        s"greatest(0, ${l2(s"2*n - 2*$df + 1")} - ${l2(s"2*$df + 1")})"
      def ts(tf: String, df: String): String =
        s"CASE WHEN $tf > 0 THEN (${idf(df)} * $tf * 44 * t) // (20 * $tf * t + 6 * t + 18 * dl * n) ELSE 0 END"
      s"""WITH planted AS (
         |  SELECT doc_id, CASE doc_id % 37
         |    WHEN 1 THEN text || ' zq1'
         |    WHEN 2 THEN text || ' zq1 zq2'
         |    WHEN 3 THEN text || ' zq2 zq2 zq1'
         |    ELSE text END AS text FROM documents),
         |c AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) dl,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x = 'zq1'))
         |      AS BIGINT) tf0,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x = 'zq2'))
         |      AS BIGINT) tf1,
         |    CAST(len(list_filter(string_split(text, ' '), x -> x = 'dup'))
         |      AS BIGINT) tf2
         |  FROM planted),
         |s AS (
         |  SELECT CAST(count(*) AS BIGINT) n, CAST(sum(dl) AS BIGINT) t,
         |    CAST(sum((tf0 > 0)::INT) AS BIGINT) df0,
         |    CAST(sum((tf1 > 0)::INT) AS BIGINT) df1,
         |    CAST(sum((tf2 > 0)::INT) AS BIGINT) df2
         |  FROM c),
         |r AS (SELECT doc_id, dl, tf0, tf1, tf2, n, t, df0, df1, df2 FROM c, s),
         |lexsc AS (
         |  SELECT doc_id,
         |    ${ts("tf0", "df0")} + ${ts("tf1", "df1")} + ${ts("tf2", "df2")}
         |      AS score_fp
         |  FROM r),
         |lex20 AS (
         |  SELECT doc_id, score_fp FROM lexsc WHERE score_fp > 0
         |  ORDER BY score_fp DESC, doc_id LIMIT 20),
         |lex AS (
         |  SELECT doc_id AS id,
         |    row_number() OVER (ORDER BY score_fp DESC, doc_id) AS rank_l
         |  FROM lex20),
         |raw AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
         |  WHERE embedding IS NOT NULL AND vec_id < 400),
         |cq AS (
         |  SELECT vec_id,
         |    list_transform(v, x -> CAST(floor(x * 64 + 0.5) AS BIGINT)) vq
         |  FROM raw),
         |qq AS (SELECT vq FROM cq WHERE vec_id = 77),
         |sc AS (
         |  SELECT c2.vec_id,
         |    CAST(list_sum(list_transform(range(1, 65), i -> c2.vq[i] * q.vq[i]))
         |      AS BIGINT) dot,
         |    CAST(list_sum(list_transform(range(1, 65), i -> c2.vq[i] * c2.vq[i]))
         |      AS BIGINT) na,
         |    CAST(list_sum(list_transform(range(1, 65), i -> q.vq[i] * q.vq[i]))
         |      AS BIGINT) nb
         |  FROM cq c2, qq q),
         |p3 AS (
         |  SELECT vec_id, (dot*dot*20000 + na*nb) // (na*nb*2) cos2_bp
         |  FROM sc WHERE dot > 0 AND na > 0 AND nb > 0),
         |d20 AS (
         |  SELECT vec_id, cos2_bp FROM p3
         |  ORDER BY cos2_bp DESC, vec_id LIMIT 20),
         |den AS (
         |  SELECT vec_id AS id,
         |    row_number() OVER (ORDER BY cos2_bp DESC, vec_id) AS rank_d
         |  FROM d20),
         |fused AS (
         |  SELECT coalesce(lex.id, den.id) id,
         |    CAST(coalesce(rank_l, 0) AS BIGINT) rank_lex,
         |    CAST(coalesce(rank_d, 0) AS BIGINT) rank_dense,
         |    CAST(coalesce(1000000 // (rank_l + 60), 0)
         |       + coalesce(1000000 // (rank_d + 60), 0) AS BIGINT) rrf_fp
         |  FROM lex FULL OUTER JOIN den ON lex.id = den.id)
         |SELECT id, rank_lex, rank_dense, rrf_fp
         |FROM fused ORDER BY rrf_fp DESC, id LIMIT 20""".stripMargin
    }) { (spark, sf) =>
      import org.apache.spark.sql.expressions.Window
      val intDiv = graft.functions.VectorFunctions.intDiv _
      val m = pmod(col("doc_id"), lit(37))
      val planted = Tables.documents(spark, sf).select(col("doc_id"),
        when(m === 1, concat(col("text"), lit(" zq1")))
          .when(m === 2, concat(col("text"), lit(" zq1 zq2")))
          .when(m === 3, concat(col("text"), lit(" zq2 zq2 zq1")))
          .otherwise(col("text")).as("text"))
      val lex = TextStats.bm25(planted, Seq("zq1", "zq2", "dup"), limit = 20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score_fp").desc, col("doc_id"))))
        .select(col("doc_id").as("id"), col("rank"))
      val raw = Tables.embeddings(spark, sf)
        .where(col("embedding").isNotNull && col("vec_id") < 400)
        .select(col("vec_id"),
          transform(col("embedding").cast("array<double>"),
            x => floor(x * 64 + lit(0.5)).cast("long")).as("vq"))
      val qv = raw.where(col("vec_id") === 77).select(col("vq").as("qv"))
      val isum = (c: org.apache.spark.sql.Column) =>
        aggregate(c, lit(0L), (s, x) => s + x)
      val dense = raw.crossJoin(broadcast(qv))
        .select(col("vec_id"),
          isum(zip_with(col("vq"), col("qv"), (a, b) => a * b)).as("dot"),
          isum(transform(col("vq"), a => a * a)).as("na"),
          isum(transform(col("qv"), a => a * a)).as("nb"))
        .where(col("dot") > 0 && col("na") > 0 && col("nb") > 0)
        .select(col("vec_id"), intDiv(
          col("dot") * col("dot") * 20000L + col("na") * col("nb"),
          col("na") * col("nb") * 2L).as("cos2_bp"))
        .orderBy(col("cos2_bp").desc, col("vec_id")).limit(20)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("cos2_bp").desc, col("vec_id"))))
        .select(col("vec_id").as("id"), col("rank"))
      graft.llm.Similarity.rrfFuse(lex, dense, kRrf = 60L, limit = 20)
        .orderBy(col("rrf_fp").desc, col("id"))
    },

    // Collocation mining (r13): word2phrase PMI-style phrase table.
    // The fixture corpus is a 31-word random salad — every natural
    // bigram scores ≈ 10⁴ (independence) and fails the 20000 cut, so
    // the collocations are planted in-query on both sides: %7 classes
    // append 'new york'/'new jersey'/'san francisco' plus a scrambled
    // 'york san new jersey' class that gives the planted unigrams mass
    // OUTSIDE their pair (the δ discount and the cross-pair fail
    // branch both live — probed tri-scale: 6/7/9 pass rows, boundary
    // pairs like (dup,new) flip with scale while natural bigrams
    // always fail).
    Q("llm_phrases",
      """WITH planted AS (
        |  SELECT doc_id, CASE doc_id % 7
        |    WHEN 1 THEN text || ' new york new york'
        |    WHEN 2 THEN text || ' new jersey'
        |    WHEN 3 THEN text || ' san francisco'
        |    WHEN 4 THEN text || ' york san new jersey'
        |    ELSE text END AS text
        |  FROM documents),
        |toks AS (SELECT doc_id, string_split(text, ' ') t FROM planted),
        |pairs AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t) + 1),
        |    i -> struct_pack(w1 := t[i],
        |      w2 := CASE WHEN i < len(t) THEN t[i + 1] ELSE NULL END))) p
        |  FROM toks),
        |cnt AS (SELECT p.w1 w1, p.w2 w2, count(*)::BIGINT c
        |        FROM pairs GROUP BY 1, 2),
        |uni AS (SELECT w1 w, CAST(sum(c) AS BIGINT) cu FROM cnt GROUP BY 1),
        |tot AS (SELECT CAST(sum(cu) AS BIGINT) n FROM uni)
        |SELECT c.w1, c.w2, c.c AS pair_count,
        |  ((c.c - 5) * n * 10000) // (ua.cu * ub.cu) AS score_fp
        |FROM cnt c
        |JOIN uni ua ON c.w1 = ua.w
        |JOIN uni ub ON c.w2 = ub.w
        |CROSS JOIN tot
        |WHERE c.w2 IS NOT NULL AND c.c >= 10
        |  AND ((c.c - 5) * n * 10000) // (ua.cu * ub.cu) >= 20000
        |ORDER BY score_fp DESC, c.w1, c.w2""".stripMargin) { (spark, sf) =>
      val m = pmod(col("doc_id"), lit(7))
      val planted = Tables.documents(spark, sf).select(col("doc_id"),
        when(m === 1, concat(col("text"), lit(" new york new york")))
          .when(m === 2, concat(col("text"), lit(" new jersey")))
          .when(m === 3, concat(col("text"), lit(" san francisco")))
          .when(m === 4, concat(col("text"), lit(" york san new jersey")))
          .otherwise(col("text")).as("text"))
      TextStats.phrases(planted)
    },

    // Distinct-n diversity audit (r13): per-source distinct-1/2/3
    // ratios — the lexical-diversity datasheet column. No threshold,
    // no planting needed: a REPORT is non-vacuous when its values
    // spread, and they do (probed: distinct-2 bp 4721 at sf0.001 vs
    // 700 at sf0.1 — the fixed 31-word vocabulary saturates, exactly
    // what the metric is for).
    Q("llm_distinct_n",
      """WITH toks AS (SELECT source, string_split(text, ' ') t FROM documents),
        |g AS (
        |  SELECT source, n, unnest(list_transform(range(1, len(t) - n + 2),
        |    i -> array_to_string(t[i:i+n-1], ' '))) gram
        |  FROM toks CROSS JOIN (SELECT unnest([1, 2, 3]) n) ns
        |  WHERE len(t) >= n),
        |c AS (SELECT source, n, gram, count(*) occ FROM g GROUP BY 1, 2, 3)
        |SELECT source, CAST(n AS BIGINT) n,
        |  CAST(sum(occ) AS BIGINT) total_grams,
        |  CAST(count(*) AS BIGINT) distinct_grams,
        |  CAST((CAST(count(*) AS BIGINT) * 10000)
        |    // CAST(sum(occ) AS BIGINT) AS BIGINT) distinct_bp
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, sf) =>
      TextStats.distinctNgrams(Tables.documents(spark, sf))
    },

    // The sketched sibling (r14, verdict ask): llm_distinct_n is the
    // suite's most expensive query BECAUSE exact distinct counting is
    // one corpus-sized (source, n, gram) exchange — the shape a 100 TB
    // datasheet job cannot afford. distinctNgramsApprox replaces it
    // with mergeable HLL partials (shuffle = |sources|·3 sketches).
    // Estimates are engine-internal (DuckDB's approx_count_distinct is
    // a different sketch), so the gate is the agg_approx contract: the
    // oracle replays the EXACT counts and asserts the 2 % bound
    // boolean literally TRUE — a broken sketch pipeline (or a bound
    // sloppier than ~2.5σ at lgK=14) hash-mismatches.
    Q("llm_distinct_n_approx",
      """WITH toks AS (SELECT source, string_split(text, ' ') t FROM documents),
        |g AS (
        |  SELECT source, n, unnest(list_transform(range(1, len(t) - n + 2),
        |    i -> array_to_string(t[i:i+n-1], ' '))) gram
        |  FROM toks CROSS JOIN (SELECT unnest([1, 2, 3]) n) ns
        |  WHERE len(t) >= n),
        |c AS (SELECT source, n, gram, count(*) occ FROM g GROUP BY 1, 2, 3)
        |SELECT source, CAST(n AS BIGINT) n,
        |  CAST(sum(occ) AS BIGINT) total_grams,
        |  CAST(count(*) AS BIGINT) distinct_exact,
        |  TRUE AS within_bound
        |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, sf) =>
      // distinctNgramsAudit folds exact + estimate into ONE corpus
      // exchange (HLL is duplicate-insensitive, so sketching the exact
      // path's deduped gram rows gives the production face's
      // bit-identical estimate) — the naive two-operator join paid a
      // second corpus scan + hash pass
      TextStats.distinctNgramsAudit(Tables.documents(spark, sf))
        .select(col("source"), col("n"), col("total_grams"),
          col("distinct_exact"),
          (abs(col("distinct_est") - col("distinct_exact")) * 100 <=
            col("distinct_exact") * 2).as("within_bound"))
        .orderBy("source", "n")
    },

    // Stupid-backoff LM (r13): counts trained on the EVEN corpus half,
    // the odd half < 1000 scored held-out — so the backoff branches
    // fire NATURALLY (probed levels 3/2/1: 5549/7472/7 at sf0.001,
    // 25378/240/0 at sf0.1). The planted ' zq9' tail on %5 scored docs
    // keeps the unigram backstop live at every scale (zq9 is unseen in
    // training, exercising the add-one OOV path exactly).
    Q("llm_backoff_score", {
      def l2(x: String): String =
        s"((length(bin($x)) - 1) * 1024 + (($x) * 1024 // (1::BIGINT << (length(bin($x)) - 1))) - 1024)"
      s"""WITH train AS (
         |  SELECT string_split(text, ' ') t FROM documents WHERE doc_id % 2 = 0),
         |pos AS (
         |  SELECT unnest(list_transform(range(1, len(t) + 1), i -> struct_pack(
         |    p2 := CASE WHEN i >= 3 THEN t[i-2] ELSE NULL END,
         |    p1 := CASE WHEN i >= 2 THEN t[i-1] ELSE NULL END,
         |    w := t[i]))) s
         |  FROM train),
         |cnt AS (SELECT s.p2 p2, s.p1 p1, s.w w, count(*)::BIGINT c
         |        FROM pos GROUP BY 1, 2, 3),
         |c3 AS (SELECT p2, p1, w, c FROM cnt WHERE p2 IS NOT NULL),
         |c2 AS (SELECT p1, w, CAST(sum(c) AS BIGINT) c FROM cnt
         |       WHERE p1 IS NOT NULL GROUP BY 1, 2),
         |c1 AS (SELECT w, CAST(sum(c) AS BIGINT) c FROM cnt GROUP BY 1),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) n FROM c1),
         |sl AS (
         |  SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' zq9'
         |    ELSE text END AS text
         |  FROM documents WHERE doc_id % 2 = 1 AND doc_id < 1000),
         |sl2 AS (SELECT doc_id, string_split(text, ' ') t FROM sl),
         |sp AS (
         |  SELECT doc_id, unnest(list_transform(range(3, len(t) + 1),
         |    i -> struct_pack(p2 := t[i-2], p1 := t[i-1], w := t[i]))) s
         |  FROM sl2 WHERE len(t) >= 3),
         |spf AS (SELECT doc_id, s.p2 p2, s.p1 p1, s.w w FROM sp),
         |j AS (
         |  SELECT spf.doc_id,
         |    c3.c tri, bc.c bct, c2.c big, uc.c uct, u.c uni, tot.n n
         |  FROM spf
         |  LEFT JOIN c3 ON spf.p2 = c3.p2 AND spf.p1 = c3.p1 AND spf.w = c3.w
         |  LEFT JOIN c2 bc ON spf.p2 = bc.p1 AND spf.p1 = bc.w
         |  LEFT JOIN c2 ON spf.p1 = c2.p1 AND spf.w = c2.w
         |  LEFT JOIN c1 uc ON spf.p1 = uc.w
         |  LEFT JOIN c1 u ON spf.w = u.w
         |  CROSS JOIN tot),
         |sc AS (
         |  SELECT doc_id,
         |    CASE WHEN tri IS NOT NULL THEN 3
         |         WHEN big IS NOT NULL THEN 2 ELSE 1 END lvl,
         |    CASE WHEN tri IS NOT NULL THEN ${l2("tri")} - ${l2("bct")}
         |         WHEN big IS NOT NULL THEN ${l2("big")} - ${l2("uct")}
         |         ELSE ${l2("coalesce(uni, 0) + 1")} - ${l2("n + 1")} END contrib
         |  FROM j)
         |SELECT doc_id, CAST(count(*) AS BIGINT) n_pos,
         |  CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) n_tri,
         |  CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) n_bo1,
         |  CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) n_bo2,
         |  CAST(sum(contrib) AS BIGINT) logp_fp
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin
    }) { (spark, sf) =>
      val docs = Tables.documents(spark, sf)
      val train = docs.where(pmod(col("doc_id"), lit(2)) === 0)
      val slice = docs
        .where(pmod(col("doc_id"), lit(2)) === 1 && col("doc_id") < 1000)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(col("text"), lit(" zq9")))
            .otherwise(col("text")).as("text"))
      TextStats.backoffScore(train, slice)
    },

    // SFT chat assembly (r13): documents planted into 5-turn
    // conversations (system/user/assistant/user/assistant), a ≥300-char
    // gate dropping ~half the turns so conversations arrive RAGGED —
    // probed tri-scale: 97 convs / 79 with an assistant turn at
    // sf0.001, so the empty-mask branch is live everywhere. The gated
    // output includes the assembled text itself AND the span string,
    // so any drift in offsets, ordering, or tag shape hash-mismatches.
    Q("llm_chat_pack",
      """WITH turns AS (
        |  SELECT doc_id // 5 conv_id, doc_id % 5 turn,
        |    CASE WHEN doc_id % 5 = 0 THEN 'system'
        |         WHEN doc_id % 5 IN (2, 4) THEN 'assistant'
        |         ELSE 'user' END trole,
        |    array_to_string(list_slice(string_split(text, ' '), 1, 12), ' ')
        |      AS content
        |  FROM documents WHERE length(text) >= 300),
        |seg AS (
        |  SELECT conv_id, turn, trole,
        |    '<|' || trole || '|>' || content AS s,
        |    CAST(length(trole) + 4 AS BIGINT) taglen,
        |    CAST(length(content) AS BIGINT) clen
        |  FROM turns),
        |o AS (
        |  SELECT conv_id, turn, trole, s, taglen, clen,
        |    CAST(coalesce(sum(length(s)) OVER (PARTITION BY conv_id
        |      ORDER BY turn ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS BIGINT) ofs
        |  FROM seg),
        |asm AS (
        |  SELECT conv_id, CAST(count(*) AS BIGINT) n_turns,
        |    string_agg(s, '' ORDER BY turn) assembled
        |  FROM o GROUP BY conv_id),
        |spans AS (
        |  SELECT conv_id,
        |    string_agg(CAST(ofs + taglen AS VARCHAR) || ':' ||
        |      CAST(clen AS VARCHAR), ';' ORDER BY turn) mask_spans,
        |    CAST(sum(clen) AS BIGINT) masked_chars
        |  FROM o WHERE trole = 'assistant' GROUP BY conv_id)
        |SELECT asm.conv_id, n_turns, assembled,
        |  coalesce(mask_spans, '') mask_spans,
        |  CAST(coalesce(masked_chars, 0) AS BIGINT) masked_chars,
        |  CAST(length(assembled) AS BIGINT) total_chars
        |FROM asm LEFT JOIN spans USING (conv_id)
        |ORDER BY asm.conv_id""".stripMargin) { (spark, sf) =>
      val intDiv = graft.functions.VectorFunctions.intDiv _
      val m = pmod(col("doc_id"), lit(5))
      val turns = Tables.documents(spark, sf)
        .where(length(col("text")) >= 300)
        .select(intDiv(col("doc_id"), lit(5L)).as("conv_id"),
          m.cast("long").as("turn"),
          when(m === 0, "system").when(m === 2 || m === 4, "assistant")
            .otherwise("user").as("role"),
          array_join(slice(split(col("text"), " "), 1, 12), " ")
            .as("content"))
      Packing.chatPack(turns)
    },

    // MMR diversity re-rank (r13): retrieval-time dedup over the dense
    // top-20. The plant makes every odd vector a TWIN of its even
    // neighbor, so the plain similarity list is wall-to-wall duplicate
    // pairs (probed: [40,41,178,179,…]) while MMR returns 10 DISTINCT
    // contents ([40,178,358,…]) at every scale — selection ≠ producer
    // order tri-scale, and the redundancy column spreads (0/243/5/11).
    // The oracle replays the greedy loop as a state-in-one-row
    // recursive CTE (the ivf_train_poly machinery): sel list + argmax
    // with first-index tie-break = the engine's (higher simq, lower
    // id) rule.
    Q("llm_mmr",
      """WITH RECURSIVE
        |emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) ev FROM embeddings
        |        WHERE embedding IS NOT NULL),
        |plant AS (
        |  SELECT a.vec_id, b.ev FROM emb a
        |  JOIN emb b ON b.vec_id = a.vec_id - (a.vec_id % 2)
        |  WHERE a.vec_id < 400),
        |raw AS (SELECT vec_id, list_transform(ev,
        |    x -> CAST(floor(x * 64 + 0.5) AS BIGINT)) vq FROM plant),
        |qq AS (SELECT list_transform(ev,
        |    x -> CAST(floor(x * 64 + 0.5) AS BIGINT)) vq FROM emb WHERE vec_id = 77),
        |sc AS (
        |  SELECT r.vec_id, r.vq,
        |    CAST(list_sum(list_transform(range(1, 65), i -> r.vq[i] * q.vq[i])) AS BIGINT) dot,
        |    CAST(list_sum(list_transform(range(1, 65), i -> r.vq[i] * r.vq[i])) AS BIGINT) na,
        |    CAST(list_sum(list_transform(range(1, 65), i -> q.vq[i] * q.vq[i])) AS BIGINT) nb
        |  FROM raw r, qq q),
        |pool AS (
        |  SELECT vec_id, vq, na, (dot*dot*20000 + na*nb) // (na*nb*2) simq
        |  FROM sc WHERE dot > 0 AND na > 0 AND nb > 0
        |  ORDER BY simq DESC, vec_id LIMIT 20),
        |st AS (
        |  SELECT list(vec_id ORDER BY simq DESC, vec_id) ids,
        |    list(simq ORDER BY simq DESC, vec_id) sq,
        |    list(vq ORDER BY simq DESC, vec_id) vs,
        |    list(na ORDER BY simq DESC, vec_id) ns,
        |    len(list(vec_id)) nc
        |  FROM pool),
        |pm AS (
        |  SELECT ids, sq, nc,
        |    list_transform(range(1, nc + 1), i ->
        |      list_transform(range(1, nc + 1), j ->
        |        CASE WHEN list_sum(list_transform(range(1, 65), t -> vs[i][t] * vs[j][t])) > 0
        |        THEN (CAST(list_sum(list_transform(range(1, 65), t -> vs[i][t] * vs[j][t])) AS BIGINT)
        |              * CAST(list_sum(list_transform(range(1, 65), t -> vs[i][t] * vs[j][t])) AS BIGINT)
        |              * 20000 + ns[i] * ns[j]) // (ns[i] * ns[j] * 2)
        |        ELSE 0 END)) m
        |  FROM st),
        |ff AS (
        |  SELECT 0 AS it, CAST([] AS BIGINT[]) sel
        |  UNION ALL
        |  SELECT it + 1, list_append(sel, pick)
        |  FROM (
        |    SELECT it, sel,
        |      list_filter(range(1, nc + 1), i -> NOT list_contains(sel, i)
        |        AND mmr[i] = best)[1] AS pick
        |    FROM (
        |      SELECT it, sel, nc, mmr,
        |        list_max(list_transform(
        |          list_filter(range(1, nc + 1), i -> NOT list_contains(sel, i)),
        |          i -> mmr[i])) best
        |      FROM (
        |        SELECT ff.it, ff.sel, p.nc,
        |          list_transform(range(1, p.nc + 1), i ->
        |            p.sq[i] - coalesce(list_max(list_transform(ff.sel,
        |              s -> p.m[i][CAST(s AS INT)])), 0)) mmr
        |        FROM ff, pm p WHERE ff.it < 10) q1) q2) q3),
        |fin AS (SELECT sel FROM ff WHERE it = 10)
        |SELECT r AS rank, p.ids[CAST(f.sel[CAST(r AS INT)] AS INT)] vec_id,
        |  p.sq[CAST(f.sel[CAST(r AS INT)] AS INT)] simq_bp,
        |  coalesce(list_max(list_transform(f.sel[1:CAST(r - 1 AS INT)],
        |    s -> p.m[CAST(f.sel[CAST(r AS INT)] AS INT)][CAST(s AS INT)])), 0) redundancy_bp
        |FROM fin f, pm p, (SELECT unnest(range(1, 11)) AS r) rr
        |ORDER BY rank""".stripMargin) { (spark, sf) =>
      val intDiv = graft.functions.VectorFunctions.intDiv _
      val isum = (c: org.apache.spark.sql.Column) =>
        aggregate(c, lit(0L), (s, x) => s + x)
      val quant = (c: org.apache.spark.sql.Column) =>
        transform(c.cast("array<double>"),
          x => floor(x * 64 + lit(0.5)).cast("long"))
      val emb = Tables.embeddings(spark, sf).where(col("embedding").isNotNull)
      val a = emb.where(col("vec_id") < 400)
        .select(col("vec_id"),
          (col("vec_id") - pmod(col("vec_id"), lit(2))).as("__src"))
      val b = emb.select(col("vec_id").as("__src"),
        quant(col("embedding")).as("vq"))
      val planted = b.join(broadcast(a), "__src").select(col("vec_id"), col("vq"))
      val qv = emb.where(col("vec_id") === 77)
        .select(quant(col("embedding")).as("qv"))
      val pool = planted.crossJoin(broadcast(qv))
        .select(col("vec_id"), col("vq"),
          isum(zip_with(col("vq"), col("qv"), (x, y) => x * y)).as("dot"),
          isum(transform(col("vq"), x => x * x)).as("na"),
          isum(transform(col("qv"), x => x * x)).as("nb"))
        .where(col("dot") > 0 && col("na") > 0 && col("nb") > 0)
        .select(col("vec_id"), col("vq"), col("na"),
          intDiv(col("dot") * col("dot") * 20000L + col("na") * col("nb"),
            col("na") * col("nb") * 2L).as("simq_bp"))
        .orderBy(col("simq_bp").desc, col("vec_id")).limit(20)
      Similarity.mmrRerank(pool, k = 10)
    },

    // Fill-in-the-middle (r13): PSM document transform at 50% rate —
    // prefix/middle/suffix token counts and the exact reassembled
    // string are both gated, so a cut-point or ordering drift
    // hash-mismatches. The lattice split points make the empty-prefix
    // (a=0), empty-middle (a=b) and empty-suffix (b=n) branches all
    // live naturally.
    Q("llm_fim",
      """WITH t0 AS (SELECT doc_id, string_split(text, ' ') t, text
        |            FROM documents),
        |c AS (
        |  SELECT doc_id, t, text, CAST(len(t) AS BIGINT) n,
        |    (doc_id * 9301 + 49297) % 10000 selh,
        |    (doc_id * 6007 + 1009) % (CAST(len(t) AS BIGINT) + 1) h1,
        |    (doc_id * 9973 + 7) % (CAST(len(t) AS BIGINT) + 1) h2
        |  FROM t0),
        |d AS (
        |  SELECT doc_id, t, text, n, selh < 5000 sel,
        |    least(h1, h2) a, greatest(h1, h2) b
        |  FROM c)
        |SELECT doc_id,
        |  CASE WHEN sel THEN 'fim' ELSE 'plain' END fim_mode,
        |  CAST(CASE WHEN sel THEN a ELSE 0 END AS BIGINT) n_prefix,
        |  CAST(CASE WHEN sel THEN b - a ELSE n END AS BIGINT) n_middle,
        |  CAST(CASE WHEN sel THEN n - b ELSE 0 END AS BIGINT) n_suffix,
        |  -- array_to_string([]) is NULL in DuckDB (Spark's array_join
        |  -- gives '') — coalesce each segment or empty prefix/middle/
        |  -- suffix poisons the whole concat
        |  CASE WHEN sel THEN '<PRE>' ||
        |      coalesce(array_to_string(t[1:CAST(a AS INT)], ' '), '') ||
        |    '<SUF>' ||
        |      coalesce(array_to_string(t[CAST(b + 1 AS INT):CAST(n AS INT)], ' '), '') ||
        |    '<MID>' ||
        |      coalesce(array_to_string(t[CAST(a + 1 AS INT):CAST(b AS INT)], ' '), '')
        |    ELSE text END out_text
        |FROM d ORDER BY doc_id""".stripMargin) { (spark, sf) =>
      Packing.fim(Tables.documents(spark, sf))
    },

    // Preference pairs (r13): DPO/reward-model data prep — 8-candidate
    // prompt groups scored by type-token ratio, chosen = argmax /
    // rejected = argmin with ties to lower id, strict-margin filter.
    // Group 1's score is planted CONSTANT so the all-tied drop branch
    // is provably live tri-scale (prompt_id 1 absent from the output).
    Q("llm_pref_pairs",
      """WITH s AS (
        |  SELECT doc_id, doc_id // 8 prompt_id,
        |    CASE WHEN doc_id // 8 = 1 THEN 777
        |      ELSE CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |        * 10000 // CAST(len(string_split(text, ' ')) AS BIGINT)
        |      END score_bp
        |  FROM documents),
        |w AS (
        |  SELECT prompt_id, doc_id, score_bp,
        |    max(score_bp) OVER (PARTITION BY prompt_id) mx,
        |    min(score_bp) OVER (PARTITION BY prompt_id) mn
        |  FROM s)
        |SELECT prompt_id,
        |  CAST(min(CASE WHEN score_bp = mx THEN doc_id END) AS BIGINT) chosen_id,
        |  CAST(min(CASE WHEN score_bp = mn THEN doc_id END) AS BIGINT) rejected_id,
        |  CAST(max(score_bp) AS BIGINT) chosen_score,
        |  CAST(min(score_bp) AS BIGINT) rejected_score,
        |  CAST(max(score_bp) - min(score_bp) AS BIGINT) margin
        |FROM w GROUP BY prompt_id
        |HAVING max(score_bp) > min(score_bp)
        |ORDER BY prompt_id""".stripMargin) { (spark, sf) =>
      val intDiv = graft.functions.VectorFunctions.intDiv _
      val t = split(col("text"), " ")
      val ttr = intDiv(size(array_distinct(t)).cast("long") * 10000L,
        size(t).cast("long"))
      val pid = intDiv(col("doc_id"), lit(8L))
      val scored = Tables.documents(spark, sf).select(col("doc_id"),
        pid.as("prompt_id"),
        when(pid === 1, 777L).otherwise(ttr).as("score_bp"))
      Curation.prefPairs(scored)
    },

    Q("llm_tfidf",
      """WITH n AS (SELECT count(*) AS n_docs FROM documents),
        |tf AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tfc AS (SELECT doc_id, term, count(*) AS tf FROM tf GROUP BY 1, 2),
        |dfc AS (SELECT term, count(*) AS df FROM tfc GROUP BY 1),
        |scored AS (
        |  SELECT t.doc_id, t.term, t.tf, d.df,
        |    (t.tf * (SELECT n_docs FROM n) * 20000 + d.df) // (d.df * 2) AS score_bp
        |  FROM tfc t JOIN dfc d USING (term)),
        |ranked AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score_bp DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  CAST(score_bp AS BIGINT) AS score_bp, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin) {
      (spark, sf) =>
        TextStats.tfIdf(Tables.documents(spark, sf), topK = 3)
          .orderBy("doc_id", "rank")
    },

    // URL blocklist gate (the web-corpus filter that precedes text
    // processing): domains planted in-query on BOTH sides — half the
    // URLs carry a leading www. that normalization must strip — and a
    // 3-domain blocklist drops its rows via a narrow NOT-IN filter.
    Q("llm_url_filter",
      """WITH planted AS (
        |  SELECT doc_id,
        |    'https://' || (CASE WHEN doc_id % 4 = 0 THEN 'WWW.'
        |                        WHEN doc_id % 2 = 0 THEN 'www.' ELSE '' END) ||
        |    'h' || (doc_id % 20) || '.example.com/p/' || doc_id AS url
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/:?#]+)', 1)),
        |      '^www\.', '') AS domain
        |  FROM planted)
        |SELECT doc_id, domain FROM d
        |WHERE domain NOT IN ('h3.example.com', 'h7.example.com', 'h11.example.com')
        |ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        val planted = Tables.documents(spark, sf).select(col("doc_id"),
          concat(lit("https://"),
            when(col("doc_id") % 4 === 0, "WWW.")
              .when(col("doc_id") % 2 === 0, "www.").otherwise(""),
            lit("h"), pmod(col("doc_id"), lit(20)),
            lit(".example.com/p/"), col("doc_id")).as("url"))
        TextStats.blockDomains(planted,
            Seq("h3.example.com", "h7.example.com", "h11.example.com"))
          .select("doc_id", "domain").orderBy("doc_id")
    },

    // Quality-tier assignment (curriculum buckets): exact discrete
    // quartile cuts over the quality-bp histogram — the adaptive-gate
    // order-statistic machinery applied to the score domain; tier =
    // #cuts at or below the doc's score. The fixture's quality spread
    // (we measured 2806-7034bp domain means) makes all 4 tiers
    // non-empty at every scale.
    Q("llm_quality_tiers",
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> list_contains(['the', 'a', 'fast', 'slow'], t))) AS BIGINT) AS ns,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    (((20000*nd+nt) // (2*nt)) * (10000 - ((20000*ns+nt) // (2*nt))) * 2
        |      + 10000) // 20000 AS q_bp
        |  FROM c),
        |h AS (SELECT q_bp, count(*) AS cnt FROM q GROUP BY 1),
        |cdf AS (
        |  SELECT q_bp, sum(cnt) OVER (ORDER BY q_bp
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM h),
        |t AS (SELECT max(cum) AS total FROM cdf),
        |cuts AS (
        |  SELECT
        |    min(CASE WHEN cum >= (total * 1 + 3) // 4 THEN q_bp END) AS c1,
        |    min(CASE WHEN cum >= (total * 2 + 3) // 4 THEN q_bp END) AS c2,
        |    min(CASE WHEN cum >= (total * 3 + 3) // 4 THEN q_bp END) AS c3
        |  FROM cdf, t)
        |SELECT q.doc_id, q.q_bp AS quality_bp,
        |  CAST((CASE WHEN q.q_bp >= c1 THEN 1 ELSE 0 END)
        |     + (CASE WHEN q.q_bp >= c2 THEN 1 ELSE 0 END)
        |     + (CASE WHEN q.q_bp >= c3 THEN 1 ELSE 0 END) AS BIGINT) AS tier
        |FROM q, cuts ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        TextStats.qualityTiers(Tables.documents(spark, sf), tiers = 4)
          .orderBy("doc_id")
    },

    // Curriculum order: the tier CTE above + best-first global position
    // (tier DESC, then the 999999937/654435887 shuffle lattice, then id)
    // + the 64-row shard arithmetic — one oracle over the whole
    // composite, so a tier drift, an id-ordered tier interior, or an
    // off-by-one in the position all shift the layout loudly.
    Q("llm_curriculum",
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> list_contains(['the', 'a', 'fast', 'slow'], t))) AS BIGINT) AS ns,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd
        |  FROM documents),
        |q AS (
        |  SELECT doc_id,
        |    (((20000*nd+nt) // (2*nt)) * (10000 - ((20000*ns+nt) // (2*nt))) * 2
        |      + 10000) // 20000 AS q_bp
        |  FROM c),
        |h AS (SELECT q_bp, count(*) AS cnt FROM q GROUP BY 1),
        |cdf AS (
        |  SELECT q_bp, sum(cnt) OVER (ORDER BY q_bp
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM h),
        |t AS (SELECT max(cum) AS total FROM cdf),
        |cuts AS (
        |  SELECT
        |    min(CASE WHEN cum >= (total * 1 + 3) // 4 THEN q_bp END) AS c1,
        |    min(CASE WHEN cum >= (total * 2 + 3) // 4 THEN q_bp END) AS c2,
        |    min(CASE WHEN cum >= (total * 3 + 3) // 4 THEN q_bp END) AS c3
        |  FROM cdf, t),
        |tiers AS (
        |  SELECT q.doc_id, q.q_bp AS quality_bp,
        |    CAST((CASE WHEN q.q_bp >= c1 THEN 1 ELSE 0 END)
        |       + (CASE WHEN q.q_bp >= c2 THEN 1 ELSE 0 END)
        |       + (CASE WHEN q.q_bp >= c3 THEN 1 ELSE 0 END) AS BIGINT) AS tier
        |  FROM q, cuts),
        |pos AS (
        |  SELECT doc_id, quality_bp, tier,
        |    CAST(row_number() OVER (ORDER BY tier DESC,
        |      (doc_id % 999999937) * 654435887 % 999999937, doc_id) - 1
        |      AS BIGINT) AS curriculum_pos
        |  FROM tiers)
        |SELECT doc_id, quality_bp, tier, curriculum_pos,
        |  curriculum_pos // 64 AS shard_id,
        |  curriculum_pos % 64 AS pos_in_shard
        |FROM pos ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        graft.llm.Curation.curriculumOrder(
            Tables.documents(spark, sf), tiers = 4, rowsPerShard = 64L)
          .orderBy("doc_id")
    },

    // Corpus-derived domain blocklist: URLs planted so one domain crowds
    // past the 400-doc cap at every scale (445-450 fetches), per-domain
    // mean quality (integer cross-multiplied, threshold 4400bp) splits
    // the 20 h*-domains both ways at every scale (verified: domain means
    // span 2806-7034 at sf0.001/0.01, 4168-4635 at sf0.1), and %97 rows
    // get unparsable URLs exercising the ''-passthrough quarantine.
    Q("llm_domain_gate",
      """WITH planted AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 97 = 0 THEN 'relative/' || doc_id
        |         WHEN doc_id < 450 THEN 'https://crowd.example.com/p/' || doc_id
        |         ELSE 'https://h' || (doc_id % 20) || '.example.com/p/' || doc_id
        |    END AS url
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(regexp_extract(url, '^[A-Za-z]+://([^/:?#]+)', 1)),
        |      '^www\.', '') AS domain,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> list_contains(['the', 'a', 'fast', 'slow'], t))) AS BIGINT) AS ns,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd
        |  FROM planted),
        |q AS (
        |  SELECT doc_id, domain,
        |    (((20000*nd+nt) // (2*nt)) * (10000 - ((20000*ns+nt) // (2*nt))) * 2
        |      + 10000) // 20000 AS qbp
        |  FROM d),
        |blocked AS (
        |  SELECT domain FROM q WHERE domain <> ''
        |  GROUP BY domain
        |  HAVING sum(qbp) < 4400 * count(*) OR count(*) > 400)
        |SELECT doc_id, domain FROM q
        |WHERE domain NOT IN (SELECT domain FROM blocked)
        |ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        val planted = Tables.documents(spark, sf).select(col("doc_id"), col("text"),
          when(pmod(col("doc_id"), lit(97)) === 0,
              concat(lit("relative/"), col("doc_id").cast("string")))
            .when(col("doc_id") < 450,
              concat(lit("https://crowd.example.com/p/"), col("doc_id").cast("string")))
            .otherwise(concat(lit("https://h"), pmod(col("doc_id"), lit(20)),
              lit(".example.com/p/"), col("doc_id").cast("string"))).as("url"))
        TextStats.domainGate(planted, minAvgQualityBp = 4400L,
            maxDocsPerDomain = 400L)
          .select("doc_id", "domain").orderBy("doc_id")
    },

    // Text normalization (C4-style cleanup before hashing/dedup):
    // lowercase + whitespace-collapse + trim, oracle-exercised on planted
    // messiness (upper-cased prefix, double spaces, a tab, trailing
    // newline+space) — the fixture corpus is already clean, so without
    // planting the pass would be vacuous.
    Q("llm_normalize",
      """WITH planted AS (
        |  SELECT doc_id,
        |    upper(substr(text, 1, 30)) || '  ' || chr(9) || text ||
        |      chr(10) || ' ' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm_text,
        |  CAST(length(text) -
        |    length(trim(regexp_replace(lower(text), '[ \t\n\x0B\f\r]+', ' ', 'g')))
        |    AS BIGINT) AS chars_removed
        |FROM planted ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        val planted = Tables.documents(spark, sf).select(col("doc_id"),
          concat(upper(substring(col("text"), 1, 30)), lit("  \t"),
            col("text"), lit("\n ")).as("text"))
        TextStats.normalize(planted).orderBy("doc_id")
    },

    // Adaptive length gate: token-count band with corpus-DERIVED discrete
    // percentile cuts (exact order statistics, integer ceil arithmetic —
    // interpolating percentiles flip boundary rows between engines).
    Q("llm_adaptive_gate",
      """WITH nt AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |h AS (SELECT n_tokens, count(*) AS c FROM nt GROUP BY 1),
        |cdf AS (
        |  SELECT n_tokens, sum(c) OVER (ORDER BY n_tokens
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM h),
        |t AS (SELECT max(cum) AS total FROM cdf),
        |cuts AS (
        |  SELECT
        |    min(CASE WHEN cum >= (total * 500 + 9999) // 10000 THEN n_tokens END) AS lo,
        |    min(CASE WHEN cum >= (total * 9500 + 9999) // 10000 THEN n_tokens END) AS hi
        |  FROM cdf, t)
        |SELECT nt.doc_id, nt.n_tokens FROM nt, cuts
        |WHERE nt.n_tokens BETWEEN cuts.lo AND cuts.hi
        |ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        TextStats.adaptiveLengthGate(Tables.documents(spark, sf),
            pLow = 0.05, pHigh = 0.95)
          .orderBy("doc_id")
    },

    // Crawl-level URL dedup: canonicalization (scheme/host case, www,
    // default ports, query+fragment, trailing slashes) planted as 4
    // variants per group of 4 ids on BOTH sides; groups of 4 fetches
    // collapse to one canonical page each, min-id kept.
    Q("llm_url_dedup",
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 8 = 7 THEN 'relative/path/' || doc_id
        |         WHEN doc_id % 4 = 0 THEN 'https://WWW.Site' || (doc_id // 4) || '.com:443/p/Q/'
        |         WHEN doc_id % 4 = 1 THEN 'https://site' || (doc_id // 4) || '.com/p/Q#frag'
        |         WHEN doc_id % 4 = 2 THEN 'https://site' || (doc_id // 4) || '.com/p/Q?utm_source=news'
        |         ELSE 'https://site' || (doc_id // 4) || '.com/p/Q'
        |    END AS url
        |  FROM documents),
        |nf AS (SELECT doc_id, regexp_replace(url, '#.*$', '') AS u FROM planted),
        |parts AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(u, '^([A-Za-z]+)://', 1)) AS scheme,
        |    regexp_replace(lower(regexp_extract(u, '^[A-Za-z]+://([^/:?#]+)', 1)), '^www\.', '') AS host,
        |    regexp_extract(u, '^[A-Za-z]+://[^/:?#]+:([0-9]+)', 1) AS port,
        |    regexp_replace(regexp_extract(u, '^[A-Za-z]+://[^/?#]*(/[^?#]*|)', 1), '/+$', '') AS path
        |  FROM nf),
        |canon AS (
        |  SELECT doc_id,
        |    CASE WHEN scheme = '' THEN '' ELSE
        |      scheme || '://' || host ||
        |      (CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
        |                 OR (scheme = 'https' AND port = '443')
        |            THEN '' ELSE ':' || port END) || path END AS canonical_url
        |  FROM parts),
        |keyed AS (
        |  SELECT doc_id, canonical_url,
        |    CASE WHEN canonical_url = '' THEN 'unparsed:' || doc_id
        |         ELSE canonical_url END AS k
        |  FROM canon)
        |SELECT min(canonical_url) AS canonical_url, min(doc_id) AS keep_id,
        |  count(*) AS dup_count
        |FROM keyed GROUP BY k ORDER BY keep_id""".stripMargin) {
      (spark, sf) =>
        val g = graft.functions.VectorFunctions.intDiv(col("doc_id"), lit(4L))
          .cast("string")
        val v = pmod(col("doc_id"), lit(4))
        val planted = Tables.documents(spark, sf).select(col("doc_id"),
          when(pmod(col("doc_id"), lit(8)) === 7,
              concat(lit("relative/path/"), col("doc_id").cast("string")))
            .when(v === 0, concat(lit("https://WWW.Site"), g, lit(".com:443/p/Q/")))
            .when(v === 1, concat(lit("https://site"), g, lit(".com/p/Q#frag")))
            .when(v === 2, concat(lit("https://site"), g, lit(".com/p/Q?utm_source=news")))
            .otherwise(concat(lit("https://site"), g, lit(".com/p/Q"))).as("url"))
        TextStats.urlDedup(planted).orderBy("keep_id")
    },

    // Markup stripping (web-crawl extraction), oracle-gated for real: the
    // fixture corpus is clean text, so HTML structure — comments, style
    // and script blocks, tags, escaped entities — is planted in-query on
    // BOTH sides (the llm_redact discipline). The DuckDB replacement
    // chain is GENERATED from Cleanup.markupRules, so the two engines
    // replay one rule list byte-for-byte.
    Q("llm_strip_markup", {
      def sq(s: String) = s.replace("'", "''")
      val chain = graft.llm.Cleanup.markupRules.foldLeft("text") {
        case (e, (p, r)) => s"regexp_replace($e, '${sq(p)}', '${sq(r)}', 'g')"
      }
      val clean = s"trim(regexp_replace($chain, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))"
      val prefix = """<html><head><style type="text/css">p{color:red}</style></head><body class="m"><!-- nav bar --><h1>"""
      val suffix = """ &amp; &lt;raw&gt; &quot;it&#39;s&quot;&nbsp;end</p><script src="x.js">var i=0;
""" + """var j=1;</script><br/></body></html>"""
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    '${sq(prefix)}' || substr(text, 1, 20) || '</h1><p>' || text ||
         |      '${sq(suffix)}' AS text
         |  FROM documents)
         |SELECT doc_id, $clean AS clean_text,
         |  CAST(len(regexp_extract_all(text, '<[^>]*>')) AS BIGINT) AS n_tags,
         |  CAST(length(text) - length($clean) AS BIGINT) AS chars_removed
         |FROM planted ORDER BY doc_id""".stripMargin
    }) { (spark, sf) =>
      val prefix = """<html><head><style type="text/css">p{color:red}</style></head><body class="m"><!-- nav bar --><h1>"""
      val suffix = """ &amp; &lt;raw&gt; &quot;it&#39;s&quot;&nbsp;end</p><script src="x.js">var i=0;
""" + """var j=1;</script><br/></body></html>"""
      val planted = Tables.documents(spark, sf).select(col("doc_id"),
        concat(lit(prefix), substring(col("text"), 1, 20), lit("</h1><p>"),
          col("text"), lit(suffix)).as("text"))
      graft.llm.Cleanup.stripMarkup(planted).orderBy("doc_id")
    },

    // Per-domain boilerplate removal (C4 line-frequency / RefinedWeb
    // host-level cleanup). The fixture has no domains or repeated
    // paragraphs, so both are planted in-query on BOTH sides (the
    // llm_redact discipline), with the distribution SPREAD so every rule
    // edge discriminates (CLAUDE.md): 7 domains of 70 docs each, plus one
    // single-doc domain carved out (doc 480, exercising the minDf floor —
    // its paragraphs all have df=1 and must ALL survive). Planted
    // paragraphs per doc, against ratioPct=40:
    //   - 'mailing list'  on doc_id%2=0  → 50%/domain   → stripped;
    //   - 'shared promo'  on %7=0 or %70=1 → 100% of d0 (stripped) but
    //     10% of d1 (kept) — a global, domain-blind df would get one of
    //     the two wrong;
    //   - 'limited time'  on %5∈{0,1}   → EXACTLY 28/70 = 40% in d0–d6
    //     (ties strip: a '>' where '≥' belongs flips every domain) —
    //     except d4, which lost doc 480 to 'solo' → 27/69 = 39.1% (kept:
    //     the same paragraph lands on both sides of the threshold in
    //     different domains);
    //   - 'occasional footnote' on %10=0 → 10% → kept everywhere.
    Q("llm_domain_boilerplate",
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id = 480 THEN 'solo'
        |         ELSE 'd' || CAST(doc_id % 7 AS VARCHAR) END AS domain,
        |    concat_ws(chr(10)||chr(10),
        |      substr(text, 1, 80),
        |      CASE WHEN doc_id % 2 = 0 THEN 'join our mailing list for updates' END,
        |      CASE WHEN doc_id % 7 = 0 OR doc_id % 70 = 1 THEN 'shared promo line' END,
        |      CASE WHEN doc_id % 5 IN (0, 1) THEN 'limited time offer banner' END,
        |      CASE WHEN doc_id % 10 = 0 THEN 'occasional footnote' END,
        |      substr(text, 41, 80)) AS text
        |  FROM documents WHERE doc_id < 490),
        |parts AS (SELECT doc_id, domain, string_split(text, chr(10)||chr(10)) AS ps FROM planted),
        |paras AS (
        |  SELECT doc_id, domain, unnest(generate_series(1, len(ps))) AS idx, unnest(ps) AS para
        |  FROM parts),
        |stats AS (
        |  SELECT domain, para, count(DISTINCT doc_id) AS df FROM paras GROUP BY 1, 2),
        |dn AS (SELECT domain, count(*) AS nd FROM planted GROUP BY 1),
        |chrome AS (
        |  SELECT domain, para FROM stats JOIN dn USING (domain)
        |  WHERE df >= 2 AND df * 100 >= nd * 40),
        |surv AS (
        |  SELECT p.doc_id, p.idx, p.para FROM paras p
        |  WHERE NOT EXISTS (SELECT 1 FROM chrome c
        |                    WHERE c.domain = p.domain AND c.para = p.para)),
        |rebuilt AS (
        |  SELECT doc_id, string_agg(para, chr(10)||chr(10) ORDER BY idx) AS text,
        |         count(*) AS n_kept
        |  FROM surv GROUP BY doc_id)
        |SELECT d.doc_id, d.domain, coalesce(r.text, '') AS text,
        |       CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept
        |FROM planted d LEFT JOIN rebuilt r USING (doc_id) ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        val planted = Tables.documents(spark, sf).where(col("doc_id") < 490)
          .select(col("doc_id"),
            when(col("doc_id") === 480, lit("solo"))
              .otherwise(concat(lit("d"), (col("doc_id") % 7).cast("string")))
              .as("domain"),
            concat_ws("\n\n",
              substring(col("text"), 1, 80),
              when(col("doc_id") % 2 === 0, lit("join our mailing list for updates")),
              when(col("doc_id") % 7 === 0 || col("doc_id") % 70 === 1,
                lit("shared promo line")),
              when(col("doc_id") % 5 === 0 || col("doc_id") % 5 === 1,
                lit("limited time offer banner")),
              when(col("doc_id") % 10 === 0, lit("occasional footnote")),
              substring(col("text"), 41, 80)).as("text"))
        graft.llm.Cleanup.domainBoilerplate(planted, ratioPct = 40)
          .orderBy("doc_id")
    },

    // Gopher-style quality gate with per-rule drop accounting: each rule
    // (language, token-count band, duplicate-bigram fraction) is its own
    // flag, aggregated per (lang, source) — the "why was data dropped"
    // report a corpus curation run publishes. Narrow flags, one groupBy.
    Q("llm_quality_gate",
      """WITH toks AS (SELECT doc_id, lang, source, string_split(text, ' ') AS t FROM documents),
        |g AS (SELECT doc_id, lang, source, CAST(len(t) AS BIGINT) AS nt,
        |        list_transform(range(1, greatest(len(t) - 1, 1) + 1),
        |          i -> array_to_string(t[i:i+1], ' ')) AS grams
        |      FROM toks),
        |f AS (SELECT lang, source,
        |        (lang <> 'en') AS fail_lang,
        |        (nt < 40 OR nt > 90) AS fail_len,
        |        (((len(grams) - len(list_distinct(grams))) * 20000 + len(grams))
        |          // (2 * len(grams)) > 300) AS fail_rep
        |      FROM g)
        |SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN fail_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_lang,
        |  CAST(sum(CASE WHEN fail_len THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_len,
        |  CAST(sum(CASE WHEN fail_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_rep,
        |  CAST(sum(CASE WHEN NOT (fail_lang OR fail_len OR fail_rep) THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM f GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) {
      (spark, sf) =>
        TextStats.qualityGate(Tables.documents(spark, sf), targetLang = "en",
            minTokens = 40, maxTokens = 90, maxRepetition = 0.03)
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("fail_lang"), 1L).otherwise(0L)).as("n_fail_lang"),
            sum(when(col("fail_len"), 1L).otherwise(0L)).as("n_fail_len"),
            sum(when(col("fail_rep"), 1L).otherwise(0L)).as("n_fail_rep"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
          .orderBy("lang", "source")
    },

    // Decontamination: per-document fraction of distinct 2-shingles that
    // appear in a pseudo eval set (every 50th doc of the same prefix) —
    // fully DuckDB-expressible (list ops + the integer round-half-up
    // discipline), so the contamination kernel is oracle-gated.
    Q("llm_contamination", contaminationSql) { (spark, sf) =>
      val prefix = Tables.documents(spark, sf).where(col("doc_id") < docCap)
      Dedup.contamination(
          prefix.where(col("doc_id") < 500),
          prefix.where(col("doc_id") % 50 === 0), k = 2)
        .orderBy("doc_id")
    },

    // The bloom-prefiltered decontamination path: identical output
    // contract to llm_contamination (bloom error is one-sided and the
    // exact verify join removes it), so it shares the SAME DuckDB oracle
    // — the strongest possible check that prefilter-then-verify loses
    // nothing. The plan differs: narrow codegen'd bloom probe over the
    // exploded shingle stream, shuffle semi-join only for survivors.
    Q("llm_contamination_bloom", contaminationSql) { (spark, sf) =>
      val prefix = Tables.documents(spark, sf).where(col("doc_id") < docCap)
      Dedup.bloomContamination(
          prefix.where(col("doc_id") < 500),
          prefix.where(col("doc_id") % 50 === 0), k = 2)
        .orderBy("doc_id")
    },

    // Post-split leakage audit: split 90/5/5 on the coprime split
    // lattice, treat val+test as benchmark, k=3 shingle contamination of
    // every train doc (k=2 saturates; k=3 probed to spread 230-804
    // distinct bp values tri-scale).
    Q("llm_split_leakage",
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |      range(1, greatest(len(t) - 2, 1) + 1),
        |      i -> array_to_string(t[i:i+2], ' '))) AS s
        |  FROM toks),
        |tr AS (SELECT doc_id, s FROM sh
        |  WHERE ((doc_id % 10007) * 4871) % 10007 < 9006),
        |bm AS (SELECT DISTINCT unnest(s) AS shingle FROM sh
        |  WHERE ((doc_id % 10007) * 4871) % 10007 >= 9006),
        |du AS (SELECT doc_id, unnest(s) AS shingle FROM tr),
        |m AS (
        |  SELECT doc_id, count(*) AS matched FROM du
        |  WHERE shingle IN (SELECT shingle FROM bm) GROUP BY doc_id),
        |t AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS total FROM tr)
        |SELECT t.doc_id, COALESCE(m.matched, 0) AS matched, t.total,
        |  ((20000 * COALESCE(m.matched, 0) + t.total) // (2 * t.total)) / 10000.0
        |    AS contamination
        |FROM t LEFT JOIN m USING (doc_id) ORDER BY t.doc_id""".stripMargin) {
      (spark, sf) =>
        Curation.splitLeakage(
            Tables.documents(spark, sf).select("doc_id", "text"),
            fractions = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
            heldOutLabels = Seq("val", "test"), k = 3)
          .orderBy("doc_id")
    },

    // Decontamination threshold sweep over llm_contamination's exact
    // planting: per candidate cutoff, surviving docs + tokens in one
    // conditional-aggregate scan. Thresholds (3000/6000/9000/10000) were
    // PROBED against the bp distribution at all three scales (CLAUDE.md
    // rule): medians run ~3.6k/4.2k/9.0k bp at sf0.001/0.01/0.1, so at
    // least two cutoffs split strictly between 0% and 100% at every
    // scale — and the sf0.1 saturation of k=2 bigrams is exactly what
    // the sweep exists to expose.
    Q("llm_contamination_sweep",
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t
         |  FROM documents WHERE doc_id < $docCap),
         |sh AS (
         |  SELECT doc_id, list_distinct(list_transform(
         |      range(1, greatest(len(t) - 1, 1) + 1),
         |      i -> array_to_string(t[i:i+1], ' '))) AS s
         |  FROM toks),
         |dsh AS (SELECT doc_id, s FROM sh WHERE doc_id < 500),
         |du AS (SELECT doc_id, unnest(s) AS shingle FROM dsh),
         |bsh AS (SELECT DISTINCT unnest(s) AS shingle FROM sh
         |        WHERE doc_id % 50 = 0),
         |m AS (
         |  SELECT doc_id, count(*) AS matched FROM du
         |  WHERE shingle IN (SELECT shingle FROM bsh) GROUP BY doc_id),
         |t AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS total FROM dsh),
         |ntk AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
         |          AS nt
         |        FROM documents WHERE doc_id < 500),
         |j AS (
         |  SELECT (20000 * COALESCE(m.matched, 0) + t.total)
         |      // (2 * t.total) AS cbp, ntk.nt
         |  FROM t LEFT JOIN m USING (doc_id) JOIN ntk USING (doc_id)),
         |th AS (SELECT unnest([3000, 6000, 9000, 10000]) AS threshold)
         |SELECT CAST(th.threshold AS BIGINT) AS threshold,
         |  CAST(sum(CASE WHEN j.cbp <= th.threshold THEN 1 ELSE 0 END)
         |    AS BIGINT) AS kept_docs,
         |  CAST(sum(CASE WHEN j.cbp <= th.threshold THEN j.nt ELSE 0 END)
         |    AS BIGINT) AS kept_tokens
         |FROM th, j GROUP BY 1 ORDER BY 1""".stripMargin) {
      (spark, sf) =>
        val prefix = Tables.documents(spark, sf).where(col("doc_id") < docCap)
        Dedup.contaminationSweep(
            prefix.where(col("doc_id") < 500),
            prefix.where(col("doc_id") % 50 === 0),
            thresholds = Seq(3000L, 6000L, 9000L, 10000L), k = 2)
          .orderBy("threshold")
    },

    // Eval-integrity transpose: per BENCHMARK doc, the fraction of its
    // shingles found anywhere in the corpus. The benchmark is PLANTED
    // in-query as a mix — its first five words copy a real corpus doc
    // (those shingles must match), its tail is doc-unique junk (those
    // must not) — so every report row is strictly between 0 and 1: a
    // report that compared the benchmark against itself (vacuous 1.0),
    // or dropped the corpus side (0.0), hash-mismatches at every scale.
    Q("llm_contamination_report",
      """WITH bench AS (
        |  SELECT doc_id,
        |    array_to_string(string_split(text, ' ')[1:5], ' ')
        |      || ' zzq' || doc_id || 'a zzq' || doc_id || 'b' AS text
        |  FROM documents WHERE doc_id % 50 = 7),
        |ct AS (SELECT string_split(text, ' ') AS t FROM documents),
        |csh AS (SELECT DISTINCT unnest(list_transform(
        |    range(1, greatest(len(t) - 1, 1) + 1),
        |    i -> array_to_string(t[i:i+1], ' '))) AS shingle FROM ct),
        |bt AS (SELECT doc_id, string_split(text, ' ') AS t FROM bench),
        |bsh AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(len(t) - 1, 1) + 1),
        |    i -> array_to_string(t[i:i+1], ' '))) AS s FROM bt),
        |du AS (SELECT doc_id, unnest(s) AS shingle FROM bsh),
        |m AS (SELECT doc_id, count(*) AS matched FROM du
        |      WHERE shingle IN (SELECT shingle FROM csh) GROUP BY doc_id),
        |t AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS total FROM bsh)
        |SELECT t.doc_id, COALESCE(m.matched, 0) AS matched, t.total,
        |  ((20000 * COALESCE(m.matched, 0) + t.total) // (2 * t.total)) / 10000.0
        |    AS contamination
        |FROM t LEFT JOIN m USING (doc_id) ORDER BY t.doc_id""".stripMargin) {
      (spark, sf) =>
        val docs = Tables.documents(spark, sf)
        val bench = docs.where(pmod(col("doc_id"), lit(50)) === 7)
          .select(col("doc_id"), concat_ws(" ",
            concat_ws(" ", slice(split(col("text"), " "), 1, 5)),
            concat(lit("zzq"), col("doc_id"), lit("a")),
            concat(lit("zzq"), col("doc_id"), lit("b"))).as("text"))
        Dedup.contaminationReport(docs, bench, k = 2).orderBy("doc_id")
    },

    Q.noOracle("llm_dedup_embed") { (spark, sf) =>
      // fixture embeddings are near-orthogonal random vectors (max pairwise
      // cos ≈ 0.44) — 0.3 keeps the result non-empty yet selective; the
      // permissive threshold wants short band signatures (4 bits) or LSH
      // recall collapses (sign collision prob at cos 0.3 is only ~0.6).
      Dedup.embeddingNearDups(
          Tables.embeddings(spark, sf).where(col("vec_id") < vecCap),
          threshold = 0.3, bitsPerTable = 4)
        .orderBy("a", "b")
    },

    // The embedding axis of the cross-engine family: quantize vectors to
    // the 1/64 grid (floor(v·64 + 0.5) — exact both engines), project
    // against formula-planted INTEGER hyperplanes (VALUES generated from
    // Dedup.quantPlanes — one definition), band, verify with integer
    // cos²·10⁴. The fixture's raw vectors are near-orthogonal (probed: 0
    // organic pairs at any threshold), so near-dups are PLANTED in-query
    // on both sides — perturbed copies of every 7th vector (±0.04-class
    // noise, enough to flip quantization cells: cos2_bp spreads
    // 9471–9678, so the verify arithmetic is exercised, not an identity
    // check). 58 pairs at every scale.
    Q("llm_dedup_embed_q", {
      val planes = Dedup.quantPlanes(16, 64)
      val pl = planes.zipWithIndex.map { case (w, p) =>
        s"($p, [${w.mkString(", ")}])"
      }.mkString(", ")
      s"""WITH pl(p, w) AS (VALUES $pl),
         |raw AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE embedding IS NOT NULL AND vec_id < 400),
         |planted AS (
         |  SELECT vec_id, v FROM raw
         |  UNION ALL
         |  -- vid, not vec_id: DuckDB's LATERAL alias resolution would bind
         |  -- vec_id inside the lambda to the +100000 output alias
         |  SELECT vid + 100000 AS vec_id,
         |    list_transform(range(1, 65),
         |      i -> v[i] + ((vid * 31 + (i-1) * 7) % 9 - 4) * 0.01) AS v
         |  FROM (SELECT vec_id AS vid, v FROM raw WHERE vec_id % 7 = 0)),
         |e AS (
         |  SELECT vec_id,
         |    list_transform(v, x -> CAST(floor(x * 64 + 0.5) AS BIGINT)) AS vq
         |  FROM planted),
         |dots AS (
         |  SELECT e.vec_id, pl.p,
         |    list_sum(list_transform(range(1, 65), i -> e.vq[i] * pl.w[i])) AS d
         |  FROM e CROSS JOIN pl),
         |bitsv AS (
         |  SELECT vec_id, p // 2 AS tbl,
         |    CASE WHEN d >= 0 THEN (1::BIGINT << (p % 2)) ELSE 0 END AS bv
         |  FROM dots),
         |sigs AS (
         |  SELECT vec_id, tbl, CAST(sum(bv) AS BIGINT) AS sig
         |  FROM bitsv GROUP BY 1, 2),
         |capped AS (
         |  SELECT vec_id, tbl, sig,
         |    row_number() OVER (PARTITION BY tbl, sig ORDER BY vec_id) AS rn
         |  FROM sigs),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS a, b.vec_id AS b
         |  FROM capped a JOIN capped b ON a.tbl = b.tbl AND a.sig = b.sig
         |    AND a.vec_id < b.vec_id AND a.rn <= 256 AND b.rn <= 256),
         |p2 AS (
         |  SELECT c.a, c.b,
         |    CAST(list_sum(list_transform(range(1, 65), i -> ea.vq[i]*eb.vq[i])) AS BIGINT) AS dot,
         |    CAST(list_sum(list_transform(range(1, 65), i -> ea.vq[i]*ea.vq[i])) AS BIGINT) AS na,
         |    CAST(list_sum(list_transform(range(1, 65), i -> eb.vq[i]*eb.vq[i])) AS BIGINT) AS nb
         |  FROM cand c JOIN e ea ON ea.vec_id = c.a JOIN e eb ON eb.vec_id = c.b),
         |p3 AS (
         |  SELECT a, b, (dot*dot*20000 + na*nb) // (na*nb*2) AS cos2_bp
         |  FROM p2 WHERE dot > 0 AND na > 0 AND nb > 0)
         |SELECT a, b, cos2_bp FROM p3 WHERE cos2_bp >= 8100
         |ORDER BY a, b""".stripMargin
    }) { (spark, sf) =>
      val raw = Tables.embeddings(spark, sf)
        .where(col("embedding").isNotNull && col("vec_id") < 400)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      // vid, not vec_id: BOTH engines lateral-alias-resolve a vec_id
      // reference in the lambda to the +100000 output alias (caught by
      // the gate — the two sides agreed with each other's bug class but
      // not with the reference arithmetic until disambiguated)
      val copies = raw.where(pmod(col("vec_id"), lit(7)) === 0)
        .select(col("vec_id").as("vid"), col("v"))
        .select((col("vid") + 100000L).as("vec_id"),
          transform(col("v"), (x, i) =>
            x + (pmod(col("vid") * 31 + i * 7, lit(9)) - 4) * lit(0.01))
            .as("v"))
      Dedup.quantizedEmbeddingNearDups(raw.unionAll(copies),
          thresholdBp = 8100L, vecCol = "v")
        .orderBy("a", "b")
    },

    // Host-graph PageRank (r13): the CCNet/RefinedWeb-style crawl
    // quality weight, in exact integer arithmetic. Planted host graph
    // (src = id%20, %4-class links rerouted to host 0 → a hub) gives a
    // 54× rank spread; ranks are SCALE-INVARIANT across sf (weights
    // scale uniformly — PageRank's defining property, probed) while
    // out_edges scale 10×, so the oracle pins both the iteration
    // arithmetic and the edge aggregation.
    Q("llm_host_rank",
      """WITH e0 AS (
        |  SELECT doc_id % 20 src,
        |    CASE WHEN doc_id % 4 = 0 THEN 0 ELSE (doc_id * 7 + 3) % 20 END dst
        |  FROM documents),
        |w AS (SELECT src, dst, count(*)::BIGINT c FROM e0 GROUP BY 1, 2),
        |hosts AS (SELECT DISTINCT h FROM
        |  (SELECT src h FROM w UNION SELECT dst FROM w) t),
        |n AS (SELECT count(*)::BIGINT n FROM hosts),
        |od AS (SELECT src, CAST(sum(c) AS BIGINT) odeg FROM w GROUP BY 1),
        |r0 AS (SELECT h, (1000000000000 // n.n) r FROM hosts, n),
        |r1 AS (
        |  SELECT hosts.h,
        |    (SELECT 1000000000000 * 15 // (100 * n.n) FROM n) +
        |    coalesce((SELECT CAST(sum(((85 * r0.r) // (100 * od.odeg)) * w.c) AS BIGINT)
        |      FROM w JOIN r0 ON r0.h = w.src JOIN od ON od.src = w.src
        |      WHERE w.dst = hosts.h), 0) r
        |  FROM hosts),
        |r2 AS (
        |  SELECT hosts.h,
        |    (SELECT 1000000000000 * 15 // (100 * n.n) FROM n) +
        |    coalesce((SELECT CAST(sum(((85 * r1.r) // (100 * od.odeg)) * w.c) AS BIGINT)
        |      FROM w JOIN r1 ON r1.h = w.src JOIN od ON od.src = w.src
        |      WHERE w.dst = hosts.h), 0) r
        |  FROM hosts),
        |r3 AS (
        |  SELECT hosts.h,
        |    (SELECT 1000000000000 * 15 // (100 * n.n) FROM n) +
        |    coalesce((SELECT CAST(sum(((85 * r2.r) // (100 * od.odeg)) * w.c) AS BIGINT)
        |      FROM w JOIN r2 ON r2.h = w.src JOIN od ON od.src = w.src
        |      WHERE w.dst = hosts.h), 0) r
        |  FROM hosts)
        |SELECT r3.h host, CAST(coalesce(od.odeg, 0) AS BIGINT) out_edges,
        |  r3.r rank_fp
        |FROM r3 LEFT JOIN od ON od.src = r3.h ORDER BY r3.h""".stripMargin) {
      (spark, sf) =>
        val m4 = pmod(col("doc_id"), lit(4))
        val edges = Tables.documents(spark, sf)
          .select(pmod(col("doc_id"), lit(20)).as("src"),
            when(m4 === 0, 0L)
              .otherwise(pmod(col("doc_id") * 7L + 3L, lit(20L))).as("dst"))
          .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c"))
        Audit.hostRank(edges)
    },

    // DoReMi domain-reweighting step (r13): the Group-DRO
    // multiplicative-weights update in its linearized (1 + η·excess)
    // integer-exact form, domains = lang (skewed en ≈ 2.8× — the base
    // weights spread), loss proxy = chars/doc in 1/10⁴ fixed point.
    // Probed tri-scale: the excess clamp keeps BOTH branches live at
    // every sf (en/zh at 0 excess at sf0.001; zh at sf0.1) and the
    // update visibly moves mass (fr 1763 → 2063 bp at sf0.001).
    Q("llm_doremi",
      """WITH d AS (
        |  SELECT lang AS domain, count(*)::BIGINT docs,
        |    CAST(sum(length(text) - length(replace(text,' ','')) + 1) AS BIGINT) mass,
        |    CAST(sum(length(text)) AS BIGINT) lossn
        |  FROM documents GROUP BY 1),
        |g AS (SELECT CAST(sum(docs) AS BIGINT) tdocs,
        |  CAST(sum(mass) AS BIGINT) tmass, CAST(sum(lossn) AS BIGINT) tloss,
        |  count(*)::BIGINT n FROM d),
        |s AS (
        |  SELECT d.domain, d.docs, d.mass,
        |    10000 * d.mass // g.tmass AS w_base_bp,
        |    10000 * d.lossn // d.docs AS loss_fp,
        |    greatest(0, 10000 * d.lossn // d.docs
        |      - 10000 * g.tloss // g.tdocs) AS excess_fp,
        |    g.n
        |  FROM d, g),
        |u AS (SELECT s.*, s.w_base_bp * (10000 + s.excess_fp // 100) AS un
        |  FROM s),
        |t AS (SELECT CAST(sum(un) AS BIGINT) tun FROM u)
        |SELECT u.domain, u.docs, u.mass, u.w_base_bp, u.loss_fp, u.excess_fp,
        |  10000 * u.un // t.tun AS w_new_bp,
        |  (9000 * (10000 * u.un // t.tun) + 1000 * (10000 // u.n)) // 10000
        |    AS w_smooth_bp
        |FROM u, t ORDER BY u.domain""".stripMargin) { (spark, sf) =>
      val docs = Tables.documents(spark, sf)
      Sampling.doremiStep(docs, col("lang"),
        mass = length(col("text"))
          - length(translate(col("text"), " ", "")) + lit(1L),
        lossNum = length(col("text")))
    },

    // JL random projection (r13): 64 → 16 dims under the deterministic
    // ±1 lattice matrix, audited by per-pair distance distortion —
    // probed tri-scale: mean ≈ 10⁴ exactly (the JL expectation
    // E[d²_proj] = outDims·d²_full), per-pair spread 416–62858 bp (16
    // dims is the honesty of the bound, not a bug).
    Q("llm_rand_proj",
      """WITH raw AS (
        |  SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
        |    x -> CAST(floor(x * 64 + 0.5) AS BIGINT)) vq
        |  FROM embeddings WHERE embedding IS NOT NULL AND vec_id < 400),
        |proj AS (
        |  SELECT vec_id, vq, list_transform(range(1, 17), j ->
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CASE WHEN (i*6007 + j*9151 + 13) % 9973 < 4987
        |           THEN vq[i] ELSE -vq[i] END)) AS BIGINT)) y
        |  FROM raw),
        |pairs AS (
        |  SELECT a.vec_id a, b.vec_id b, a.vq va, b.vq vb, a.y ya, b.y yb
        |  FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1),
        |d2 AS (
        |  SELECT a, b,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> (va[i]-vb[i])*(va[i]-vb[i]))) AS BIGINT) d2_full,
        |    CAST(list_sum(list_transform(range(1, 17),
        |      j -> (ya[j]-yb[j])*(ya[j]-yb[j]))) AS BIGINT) d2_proj
        |  FROM pairs)
        |SELECT a, b, d2_full, d2_proj,
        |  (d2_proj * 10000) // (16 * d2_full) AS distortion_bp
        |FROM d2 WHERE d2_full > 0 ORDER BY a""".stripMargin) { (spark, sf) =>
      val intDiv = graft.functions.VectorFunctions.intDiv _
      val dot = graft.functions.VectorFunctions.dot _
      val raw = Tables.embeddings(spark, sf)
        .where(col("embedding").isNotNull && col("vec_id") < 400)
      // the projected frame feeds both sides of the consecutive-pair
      // self-join — cut it once (multi-consumer rule)
      val pr = Similarity.randomProject(raw).localCheckpoint(false)
      val a = pr.select(col("vec_id").as("a"),
        transform(col("__vq"), x => x.cast("double")).as("va"),
        transform(col("proj"), x => x.cast("double")).as("ya"))
      val b = pr.select((col("vec_id") - 1L).as("a"),
        transform(col("__vq"), x => x.cast("double")).as("vb"),
        transform(col("proj"), x => x.cast("double")).as("yb"))
      val d2f = (dot(col("va"), col("va")) - dot(col("va"), col("vb")) * 2.0 +
        dot(col("vb"), col("vb"))).cast("long")
      val d2p = (dot(col("ya"), col("ya")) - dot(col("ya"), col("yb")) * 2.0 +
        dot(col("yb"), col("yb"))).cast("long")
      a.join(b, "a")
        .select(col("a"), (col("a") + 1L).as("b"),
          d2f.as("d2_full"), d2p.as("d2_proj"))
        .where(col("d2_full") > 0)
        .select(col("a"), col("b"), col("d2_full"), col("d2_proj"),
          intDiv(col("d2_proj") * 10000L, col("d2_full") * 16L)
            .as("distortion_bp"))
        .orderBy(col("a"))
    },

    // ANN recall audit (r13): the quality measurement the LSH dial is
    // tuned against — per query, |approx ∩ exact| over the exact
    // quantized top-10. tables=4 × bits=4 probed for a NON-TRIVIAL
    // verdict tri-scale (sf0.001: recall 1000–8000 bp, mean ~4465,
    // no query at 0 or 10⁴ — the dial demonstrably trades recall).
    Q("llm_ann_recall", {
      val planes = Dedup.quantPlanes(16, 64)
      val pl = planes.zipWithIndex.map { case (w, p) =>
        s"($p, [${w.mkString(", ")}])"
      }.mkString(", ")
      s"""WITH pl(p, w) AS (VALUES $pl),
         |raw AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE embedding IS NOT NULL AND vec_id < 400),
         |qv AS (
         |  SELECT vid + 100000 AS qid,
         |    list_transform(range(1, 65),
         |      i -> v[i] + ((vid * 31 + (i-1) * 7) % 9 - 4) * 0.01) AS v
         |  FROM (SELECT vec_id AS vid, v FROM raw WHERE vec_id % 7 = 0)),
         |cq AS (
         |  SELECT vec_id,
         |    list_transform(v, x -> CAST(floor(x * 64 + 0.5) AS BIGINT)) AS vq
         |  FROM raw),
         |qq AS (
         |  SELECT qid,
         |    list_transform(v, x -> CAST(floor(x * 64 + 0.5) AS BIGINT)) AS vq
         |  FROM qv),
         |cd AS (
         |  SELECT cq.vec_id AS id, pl.p,
         |    list_sum(list_transform(range(1, 65), i -> cq.vq[i] * pl.w[i])) AS d
         |  FROM cq CROSS JOIN pl),
         |qd AS (
         |  SELECT qq.qid, pl.p,
         |    list_sum(list_transform(range(1, 65), i -> qq.vq[i] * pl.w[i])) AS d
         |  FROM qq CROSS JOIN pl),
         |csig AS (
         |  SELECT id, p // 4 AS tbl,
         |    CAST(sum(CASE WHEN d >= 0 THEN (1::BIGINT << (p % 4)) ELSE 0 END) AS BIGINT) AS sig
         |  FROM cd GROUP BY 1, 2),
         |qsig AS (
         |  SELECT qid, p // 4 AS tbl,
         |    CAST(sum(CASE WHEN d >= 0 THEN (1::BIGINT << (p % 4)) ELSE 0 END) AS BIGINT) AS sig
         |  FROM qd GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT q.qid, c.id
         |  FROM qsig q JOIN csig c ON q.tbl = c.tbl AND q.sig = c.sig),
         |sc AS (
         |  SELECT cand.qid, cand.id,
         |    CAST(list_sum(list_transform(range(1, 65), i -> a.vq[i]*b.vq[i])) AS BIGINT) AS dot,
         |    CAST(list_sum(list_transform(range(1, 65), i -> a.vq[i]*a.vq[i])) AS BIGINT) AS na,
         |    CAST(list_sum(list_transform(range(1, 65), i -> b.vq[i]*b.vq[i])) AS BIGINT) AS nb
         |  FROM cand JOIN qq a ON a.qid = cand.qid JOIN cq b ON b.vec_id = cand.id),
         |ap3 AS (
         |  SELECT qid, id, (dot*dot*20000 + na*nb) // (na*nb*2) AS cos2_bp
         |  FROM sc WHERE dot > 0 AND na > 0 AND nb > 0),
         |ark AS (
         |  SELECT qid, id, row_number() OVER (PARTITION BY qid
         |      ORDER BY 10000 - cos2_bp, id) AS rn
         |  FROM ap3),
         |approx AS (SELECT qid, id FROM ark WHERE rn <= 10),
         |tsc AS (
         |  SELECT qq.qid, cq.vec_id AS id,
         |    CAST(list_sum(list_transform(range(1, 65), i -> qq.vq[i]*cq.vq[i])) AS BIGINT) AS dot,
         |    CAST(list_sum(list_transform(range(1, 65), i -> qq.vq[i]*qq.vq[i])) AS BIGINT) AS na,
         |    CAST(list_sum(list_transform(range(1, 65), i -> cq.vq[i]*cq.vq[i])) AS BIGINT) AS nb
         |  FROM qq CROSS JOIN cq),
         |tp3 AS (
         |  SELECT qid, id, (dot*dot*20000 + na*nb) // (na*nb*2) AS cos2_bp
         |  FROM tsc WHERE dot > 0 AND na > 0 AND nb > 0),
         |trk AS (
         |  SELECT qid, id, row_number() OVER (PARTITION BY qid
         |      ORDER BY 10000 - cos2_bp, id) AS rn
         |  FROM tp3),
         |truth AS (SELECT qid, id FROM trk WHERE rn <= 10),
         |nt AS (SELECT qid, CAST(count(*) AS BIGINT) n_true FROM truth GROUP BY 1),
         |nh AS (
         |  SELECT t.qid, CAST(count(*) AS BIGINT) n_hits
         |  FROM truth t JOIN approx a ON t.qid = a.qid AND t.id = a.id
         |  GROUP BY 1)
         |SELECT nt.qid, nt.n_true,
         |  CAST(coalesce(nh.n_hits, 0) AS BIGINT) n_hits,
         |  CAST(coalesce(nh.n_hits, 0) * 10000 // nt.n_true AS BIGINT) recall_bp
         |FROM nt LEFT JOIN nh ON nt.qid = nh.qid
         |ORDER BY nt.qid""".stripMargin
    }) { (spark, sf) =>
      val raw = Tables.embeddings(spark, sf)
        .where(col("embedding").isNotNull && col("vec_id") < 400)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val queries = raw.where(pmod(col("vec_id"), lit(7)) === 0)
        .select(col("vec_id").as("vid"), col("v"))
        .select((col("vid") + 100000L).as("qid"),
          transform(col("v"), (x, i) =>
            x + (pmod(col("vid") * 31 + i * 7, lit(9)) - 4) * lit(0.01))
            .as("v"))
      val truth = Similarity.quantizedBruteTopK(queries, raw, k = 10,
        vecCol = "v")
      val approx = Similarity.quantizedLshTopK(queries, raw, k = 10,
        numTables = 4, bits = 4, vecCol = "v")
      Similarity.annRecall(truth, approx)
    },

    // Hard-negative mining (r14): the DPR/ANCE contrastive-training
    // data-prep step — per query, the top-3 highest-scoring NON-positive
    // bucket-mates with their margin below the labeled positive. The
    // raw fixture's negatives are all easy (margins probed 7600–9400
    // bp), so %14 corpus vectors plant a 0.03-perturbed DISTRACTOR
    // (+200000) that buckets with the query and squeezes the margin —
    // probed spread 1237–9366 bp tri-scale, the distribution a miner
    // actually triages. Distractors enter via explode fusion (the
    // llm_dedup_edit one-scan trick). Oracle replays bucketing, the
    // positive anti-join, ranking and both scoring passes.
    Q("llm_hard_negatives", {
      val planes = Dedup.quantPlanes(16, 64)
      val pl = planes.zipWithIndex.map { case (w, p) =>
        s"($p, [${w.mkString(", ")}])"
      }.mkString(", ")
      s"""WITH pl(p, w) AS (VALUES $pl),
         |raw0 AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE embedding IS NOT NULL AND vec_id < 400),
         |hard AS (
         |  SELECT vid + 200000 AS vec_id,
         |    list_transform(range(1, 65),
         |      i -> v[i] + ((vid * 37 + (i-1) * 11) % 9 - 4) * 0.03) AS v
         |  FROM (SELECT vec_id AS vid, v FROM raw0 WHERE vec_id % 14 = 0)),
         |raw AS (SELECT * FROM raw0 UNION ALL SELECT * FROM hard),
         |qv AS (
         |  SELECT vid + 100000 AS qid,
         |    list_transform(range(1, 65),
         |      i -> v[i] + ((vid * 31 + (i-1) * 7) % 9 - 4) * 0.01) AS v
         |  FROM (SELECT vec_id AS vid, v FROM raw0 WHERE vec_id % 7 = 0)),
         |cq AS (
         |  SELECT vec_id,
         |    list_transform(v, x -> CAST(floor(x * 64 + 0.5) AS BIGINT)) AS vq
         |  FROM raw),
         |qq AS (
         |  SELECT qid,
         |    list_transform(v, x -> CAST(floor(x * 64 + 0.5) AS BIGINT)) AS vq
         |  FROM qv),
         |cd AS (
         |  SELECT cq.vec_id AS id, pl.p,
         |    list_sum(list_transform(range(1, 65), i -> cq.vq[i] * pl.w[i])) AS d
         |  FROM cq CROSS JOIN pl),
         |qd AS (
         |  SELECT qq.qid, pl.p,
         |    list_sum(list_transform(range(1, 65), i -> qq.vq[i] * pl.w[i])) AS d
         |  FROM qq CROSS JOIN pl),
         |csig AS (
         |  SELECT id, p // 4 AS tbl,
         |    CAST(sum(CASE WHEN d >= 0 THEN (1::BIGINT << (p % 4)) ELSE 0 END) AS BIGINT) AS sig
         |  FROM cd GROUP BY 1, 2),
         |qsig AS (
         |  SELECT qid, p // 4 AS tbl,
         |    CAST(sum(CASE WHEN d >= 0 THEN (1::BIGINT << (p % 4)) ELSE 0 END) AS BIGINT) AS sig
         |  FROM qd GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT q.qid, c.id
         |  FROM qsig q JOIN csig c ON q.tbl = c.tbl AND q.sig = c.sig
         |  WHERE c.id <> q.qid - 100000),
         |sc AS (
         |  SELECT cand.qid, cand.id,
         |    CAST(list_sum(list_transform(range(1, 65), i -> a.vq[i]*b.vq[i])) AS BIGINT) AS dot,
         |    CAST(list_sum(list_transform(range(1, 65), i -> a.vq[i]*a.vq[i])) AS BIGINT) AS na,
         |    CAST(list_sum(list_transform(range(1, 65), i -> b.vq[i]*b.vq[i])) AS BIGINT) AS nb
         |  FROM cand JOIN qq a ON a.qid = cand.qid JOIN cq b ON b.vec_id = cand.id),
         |neg AS (
         |  SELECT qid, id, (dot*dot*20000 + na*nb) // (na*nb*2) AS nbp
         |  FROM sc WHERE dot > 0 AND na > 0 AND nb > 0),
         |rk AS (
         |  SELECT qid, id, nbp, row_number() OVER (PARTITION BY qid
         |      ORDER BY 10000 - nbp, id) AS rn
         |  FROM neg),
         |ps AS (
         |  SELECT a.qid,
         |    CAST(list_sum(list_transform(range(1, 65), i -> a.vq[i]*b.vq[i])) AS BIGINT) AS dot,
         |    CAST(list_sum(list_transform(range(1, 65), i -> a.vq[i]*a.vq[i])) AS BIGINT) AS na,
         |    CAST(list_sum(list_transform(range(1, 65), i -> b.vq[i]*b.vq[i])) AS BIGINT) AS nb
         |  FROM qq a JOIN cq b ON b.vec_id = a.qid - 100000),
         |pos AS (
         |  SELECT qid, (dot*dot*20000 + na*nb) // (na*nb*2) AS pbp
         |  FROM ps WHERE dot > 0 AND na > 0 AND nb > 0)
         |SELECT r.qid, r.id AS vec_id, CAST(r.rn AS BIGINT) AS rank,
         |  r.nbp AS neg_bp, pos.pbp AS pos_bp, pos.pbp - r.nbp AS margin_bp
         |FROM rk r JOIN pos USING (qid) WHERE r.rn <= 3
         |ORDER BY qid, rank""".stripMargin
    }) { (spark, sf) =>
      val raw0 = Tables.embeddings(spark, sf)
        .where(col("embedding").isNotNull && col("vec_id") < 400)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val corpus = raw0.select(explode(
          when(pmod(col("vec_id"), lit(14)) === 0, array(
            struct(col("vec_id").as("vec_id"), col("v").as("v")),
            struct((col("vec_id") + 200000L).as("vec_id"),
              transform(col("v"), (x, i) =>
                x + (pmod(col("vec_id") * 37 + i * 11, lit(9)) - 4) * lit(0.03))
                .as("v"))))
          .otherwise(array(
            struct(col("vec_id").as("vec_id"), col("v").as("v")))))
          .as("r"))
        .select(col("r.vec_id").as("vec_id"), col("r.v").as("embedding"))
      val qSide = raw0.where(pmod(col("vec_id"), lit(7)) === 0)
        .select(col("vec_id").as("vid"), col("v"))
      val queries = qSide.select((col("vid") + 100000L).as("qid"),
        transform(col("v"), (x, i) =>
          x + (pmod(col("vid") * 31 + i * 7, lit(9)) - 4) * lit(0.01))
          .as("embedding"))
      val positives = qSide.select((col("vid") + 100000L).as("qid"),
        col("vid").as("vec_id"))
      Similarity.hardNegatives(queries, corpus, positives, k = 3,
        numTables = 4, bits = 4)
    },

    // The SEARCH face of the quantized family (llm_ann_lsh's
    // cross-engine twin the way embed_q twins llm_dedup_embed): the
    // perturbed copies become the QUERY set, the raw vectors the
    // corpus; candidates are bucket-mates under the shared integer
    // planes, scored with the one cos²·10⁴ formula, ranked top-3 per
    // query by the bounded heap — replayed in SQL as row_number over
    // (10⁴ − cos2_bp, id). Every query's true source vector must
    // surface (near-identical signatures collide in every table).
    Q("llm_ann_lsh_q", {
      val planes = Dedup.quantPlanes(16, 64)
      val pl = planes.zipWithIndex.map { case (w, p) =>
        s"($p, [${w.mkString(", ")}])"
      }.mkString(", ")
      s"""WITH pl(p, w) AS (VALUES $pl),
         |raw AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE embedding IS NOT NULL AND vec_id < 400),
         |qv AS (
         |  SELECT vid + 100000 AS qid,
         |    list_transform(range(1, 65),
         |      i -> v[i] + ((vid * 31 + (i-1) * 7) % 9 - 4) * 0.01) AS v
         |  FROM (SELECT vec_id AS vid, v FROM raw WHERE vec_id % 7 = 0)),
         |cq AS (
         |  SELECT vec_id,
         |    list_transform(v, x -> CAST(floor(x * 64 + 0.5) AS BIGINT)) AS vq
         |  FROM raw),
         |qq AS (
         |  SELECT qid,
         |    list_transform(v, x -> CAST(floor(x * 64 + 0.5) AS BIGINT)) AS vq
         |  FROM qv),
         |cd AS (
         |  SELECT cq.vec_id AS id, pl.p,
         |    list_sum(list_transform(range(1, 65), i -> cq.vq[i] * pl.w[i])) AS d
         |  FROM cq CROSS JOIN pl),
         |qd AS (
         |  SELECT qq.qid, pl.p,
         |    list_sum(list_transform(range(1, 65), i -> qq.vq[i] * pl.w[i])) AS d
         |  FROM qq CROSS JOIN pl),
         |csig AS (
         |  SELECT id, p // 2 AS tbl,
         |    CAST(sum(CASE WHEN d >= 0 THEN (1::BIGINT << (p % 2)) ELSE 0 END) AS BIGINT) AS sig
         |  FROM cd GROUP BY 1, 2),
         |qsig AS (
         |  SELECT qid, p // 2 AS tbl,
         |    CAST(sum(CASE WHEN d >= 0 THEN (1::BIGINT << (p % 2)) ELSE 0 END) AS BIGINT) AS sig
         |  FROM qd GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT q.qid, c.id
         |  FROM qsig q JOIN csig c ON q.tbl = c.tbl AND q.sig = c.sig),
         |sc AS (
         |  SELECT cand.qid, cand.id,
         |    CAST(list_sum(list_transform(range(1, 65), i -> a.vq[i]*b.vq[i])) AS BIGINT) AS dot,
         |    CAST(list_sum(list_transform(range(1, 65), i -> a.vq[i]*a.vq[i])) AS BIGINT) AS na,
         |    CAST(list_sum(list_transform(range(1, 65), i -> b.vq[i]*b.vq[i])) AS BIGINT) AS nb
         |  FROM cand JOIN qq a ON a.qid = cand.qid JOIN cq b ON b.vec_id = cand.id),
         |p3 AS (
         |  SELECT qid, id, (dot*dot*20000 + na*nb) // (na*nb*2) AS cos2_bp
         |  FROM sc WHERE dot > 0 AND na > 0 AND nb > 0),
         |rk AS (
         |  SELECT qid, id, cos2_bp,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY 10000 - cos2_bp, id) AS rn
         |  FROM p3)
         |SELECT qid, id AS vec_id, cos2_bp FROM rk WHERE rn <= 3
         |ORDER BY qid, vec_id""".stripMargin
    }) { (spark, sf) =>
      val raw = Tables.embeddings(spark, sf)
        .where(col("embedding").isNotNull && col("vec_id") < 400)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val queries = raw.where(pmod(col("vec_id"), lit(7)) === 0)
        .select(col("vec_id").as("vid"), col("v"))
        .select((col("vid") + 100000L).as("qid"),
          transform(col("v"), (x, i) =>
            x + (pmod(col("vid") * 31 + i * 7, lit(9)) - 4) * lit(0.01))
            .as("v"))
      Similarity.quantizedLshTopK(queries, raw, k = 3, vecCol = "v")
        .orderBy("qid", "vec_id")
    },

    // k-NN majority-vote labeling (r15): the semi-supervised labeling
    // step — each perturbed query is labeled by its 5 nearest labeled
    // bucket-mates under the quantized LSH construction (ann_lsh_q's
    // exact CTE skeleton, k=5, plus the vote). The fixture's labels
    // are space-uncorrelated, so most elections are 1-vote ties — the
    // (votes, best-similarity, label) tiebreak chain is what the
    // oracle actually exercises; a real deployment's labels cluster
    // and the same election applies. n_neighbors is a HUGEINT sum in
    // DuckDB → CAST BIGINT (the sum rule).
    Q("llm_knn_label", {
      val planes = Dedup.quantPlanes(16, 64)
      val pl = planes.zipWithIndex.map { case (w, p) =>
        s"($p, [${w.mkString(", ")}])"
      }.mkString(", ")
      s"""WITH pl(p, w) AS (VALUES $pl),
         |raw AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE embedding IS NOT NULL AND vec_id < 400),
         |lbl AS (
         |  SELECT vec_id, label FROM embeddings
         |  WHERE embedding IS NOT NULL AND vec_id < 400),
         |qv AS (
         |  SELECT vid + 100000 AS qid,
         |    list_transform(range(1, 65),
         |      i -> v[i] + ((vid * 31 + (i-1) * 7) % 9 - 4) * 0.01) AS v
         |  FROM (SELECT vec_id AS vid, v FROM raw WHERE vec_id % 7 = 0)),
         |cq AS (
         |  SELECT vec_id,
         |    list_transform(v, x -> CAST(floor(x * 64 + 0.5) AS BIGINT)) AS vq
         |  FROM raw),
         |qq AS (
         |  SELECT qid,
         |    list_transform(v, x -> CAST(floor(x * 64 + 0.5) AS BIGINT)) AS vq
         |  FROM qv),
         |cd AS (
         |  SELECT cq.vec_id AS id, pl.p,
         |    list_sum(list_transform(range(1, 65), i -> cq.vq[i] * pl.w[i])) AS d
         |  FROM cq CROSS JOIN pl),
         |qd AS (
         |  SELECT qq.qid, pl.p,
         |    list_sum(list_transform(range(1, 65), i -> qq.vq[i] * pl.w[i])) AS d
         |  FROM qq CROSS JOIN pl),
         |csig AS (
         |  SELECT id, p // 2 AS tbl,
         |    CAST(sum(CASE WHEN d >= 0 THEN (1::BIGINT << (p % 2)) ELSE 0 END) AS BIGINT) AS sig
         |  FROM cd GROUP BY 1, 2),
         |qsig AS (
         |  SELECT qid, p // 2 AS tbl,
         |    CAST(sum(CASE WHEN d >= 0 THEN (1::BIGINT << (p % 2)) ELSE 0 END) AS BIGINT) AS sig
         |  FROM qd GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT q.qid, c.id
         |  FROM qsig q JOIN csig c ON q.tbl = c.tbl AND q.sig = c.sig),
         |sc AS (
         |  SELECT cand.qid, cand.id,
         |    CAST(list_sum(list_transform(range(1, 65), i -> a.vq[i]*b.vq[i])) AS BIGINT) AS dot,
         |    CAST(list_sum(list_transform(range(1, 65), i -> a.vq[i]*a.vq[i])) AS BIGINT) AS na,
         |    CAST(list_sum(list_transform(range(1, 65), i -> b.vq[i]*b.vq[i])) AS BIGINT) AS nb
         |  FROM cand JOIN qq a ON a.qid = cand.qid JOIN cq b ON b.vec_id = cand.id),
         |p3 AS (
         |  SELECT qid, id, (dot*dot*20000 + na*nb) // (na*nb*2) AS cos2_bp
         |  FROM sc WHERE dot > 0 AND na > 0 AND nb > 0),
         |rk AS (
         |  SELECT qid, id, cos2_bp,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY 10000 - cos2_bp, id) AS rn
         |  FROM p3),
         |knn AS (
         |  SELECT r.qid, r.cos2_bp, CAST(e.label AS BIGINT) AS lb
         |  FROM rk r JOIN lbl e ON e.vec_id = r.id WHERE r.rn <= 5),
         |votes AS (
         |  SELECT qid, lb, count(*) AS nv, max(cos2_bp) AS best
         |  FROM knn GROUP BY 1, 2),
         |tot AS (SELECT qid, CAST(sum(nv) AS BIGINT) AS nn FROM votes GROUP BY 1),
         |el AS (
         |  SELECT qid, lb, nv,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY nv DESC, best DESC, lb) AS rn
         |  FROM votes)
         |SELECT e.qid, e.lb AS pred_label, CAST(e.nv AS BIGINT) AS n_votes,
         |  t.nn AS n_neighbors
         |FROM el e JOIN tot t USING (qid) WHERE e.rn = 1
         |ORDER BY qid""".stripMargin
    }) { (spark, sf) =>
      val emb = Tables.embeddings(spark, sf)
        .where(col("embedding").isNotNull && col("vec_id") < 400)
      val corpus = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"),
        col("label"))
      val queries = emb.where(pmod(col("vec_id"), lit(7)) === 0)
        .select(col("vec_id").as("vid"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .select((col("vid") + 100000L).as("qid"),
          transform(col("v"), (x, i) =>
            x + (pmod(col("vid") * 31 + i * 7, lit(9)) - 4) * lit(0.01))
            .as("v"))
      Similarity.knnLabel(queries, corpus, k = 5, vecCol = "v")
        .orderBy("qid")
    },

    // SemDeDup's cluster-then-prune SEMANTICS, oracle-gated: clusters
    // from the planted quarter-step codebook (llm_cluster_balance's
    // integer-exact cell assignment), within-cluster greedy min-id
    // prune on the quantized integer cos² verify, same planted
    // near-dups as llm_dedup_embed_q. k-means llm_semdedup stays the
    // production face (learned clusters); this gate pins the pruning
    // machinery both share.
    Q("llm_semdedup_q", {
      val cbSql = clusterCodebook.zipWithIndex.map { case (vals, kk) =>
        s"($kk, [${vals.mkString(", ")}])"
      }.mkString(", ")
      s"""WITH cb(code, vals) AS (VALUES $cbSql),
         |raw AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings WHERE embedding IS NOT NULL AND vec_id < 400),
         |planted AS (
         |  SELECT vec_id, v FROM raw
         |  UNION ALL
         |  SELECT vid + 100000 AS vec_id,
         |    list_transform(range(1, 65),
         |      i -> v[i] + ((vid * 31 + (i-1) * 7) % 9 - 4) * 0.01) AS v
         |  FROM (SELECT vec_id AS vid, v FROM raw WHERE vec_id % 7 = 0)),
         |d AS (
         |  SELECT vec_id, cb.code,
         |    list_reduce(list_transform(range(1, 65),
         |      j -> (v[j] - vals[j]) * (v[j] - vals[j])), (a, b) -> a + b) AS dist
         |  FROM planted, cb),
         |r AS (
         |  SELECT vec_id, code,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, code) AS rn
         |  FROM d),
         |asg AS (SELECT vec_id, CAST(code AS BIGINT) AS cluster FROM r WHERE rn = 1),
         |e AS (
         |  SELECT p.vec_id, asg.cluster,
         |    list_transform(p.v, x -> CAST(floor(x * 64 + 0.5) AS BIGINT)) AS vq
         |  FROM planted p JOIN asg USING (vec_id)),
         |capped AS (
         |  SELECT vec_id, cluster,
         |    row_number() OVER (PARTITION BY cluster ORDER BY vec_id) AS rn
         |  FROM e),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS a, b.vec_id AS b
         |  FROM capped a JOIN capped b ON a.cluster = b.cluster
         |    AND a.vec_id < b.vec_id AND a.rn <= 4096 AND b.rn <= 4096),
         |p2 AS (
         |  SELECT c.a, c.b,
         |    CAST(list_sum(list_transform(range(1, 65), i -> ea.vq[i]*eb.vq[i])) AS BIGINT) AS dot,
         |    CAST(list_sum(list_transform(range(1, 65), i -> ea.vq[i]*ea.vq[i])) AS BIGINT) AS na,
         |    CAST(list_sum(list_transform(range(1, 65), i -> eb.vq[i]*eb.vq[i])) AS BIGINT) AS nb
         |  FROM cand c JOIN e ea ON ea.vec_id = c.a JOIN e eb ON eb.vec_id = c.b),
         |dropped AS (
         |  SELECT DISTINCT b FROM p2
         |  WHERE dot > 0 AND na > 0 AND nb > 0
         |    AND (dot*dot*20000 + na*nb) // (na*nb*2) >= 8100)
         |SELECT vec_id, cluster FROM e
         |WHERE vec_id NOT IN (SELECT b FROM dropped)
         |ORDER BY vec_id""".stripMargin
    }) { (spark, sf) =>
      val raw = Tables.embeddings(spark, sf)
        .where(col("embedding").isNotNull && col("vec_id") < 400)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
      val copies = raw.where(pmod(col("vec_id"), lit(7)) === 0)
        .select(col("vec_id").as("vid"), col("v"))
        .select((col("vid") + 100000L).as("vec_id"),
          transform(col("v"), (x, i) =>
            x + (pmod(col("vid") * 31 + i * 7, lit(9)) - 4) * lit(0.01))
            .as("v"))
      Dedup.semDedupQuantized(raw.unionAll(copies), Seq(clusterCodebook),
          thresholdBp = 8100L, vecCol = "v")
        .orderBy("vec_id")
    },

    // SemDeDup: cosine k-means clusters → within-cluster greedy min-id
    // prune. Seeded k-means has no DuckDB analog → rows-only; greedy
    // semantics, determinism and recall-vs-exact pinned in DedupSpec.
    // trainSample: the declared face runs the corpus-scale default —
    // k-means iterations train on a fixed lowest-hash sample (one scan
    // to materialize it), and only the final assignment touches the
    // full corpus. 256 ≥ the 10·k oversample, so the init candidates
    // are identical to unsampled training; executed corpus scans drop
    // 7 → 2 (ScanBudgets.executedPerQuery, ratcheted same-commit).
    Q.noOracle("llm_semdedup") { (spark, sf) =>
      Dedup.semDedup(
          Tables.embeddings(spark, sf).where(col("vec_id") < vecCap),
          threshold = 0.3, numClusters = 16, trainSample = Some(256))
        .select("vec_id", "cid")
        .orderBy("vec_id")
    },

    // DuckDB computes list_cosine_similarity in float; cast→double before
    // the 4dp round matches Spark's double kernel on this fixture (verified
    // row-identical at sf0.01 and sf0.001 — ranks never disagree because
    // the id tiebreak handles float-level score ties).
    Q("llm_sim_topk",
      """WITH scored AS (
        |  SELECT q.vec_id AS qid, c.vec_id,
        |    round(CAST(list_cosine_similarity(q.embedding, c.embedding) AS DOUBLE), 4) AS cos,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS rnk
        |  FROM embeddings q JOIN embeddings c ON q.vec_id < 20 AND q.vec_id <> c.vec_id)
        |SELECT qid, vec_id, cos, CAST(rnk AS BIGINT) AS rnk
        |FROM scored WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin) {
      (spark, sf) =>
        val emb = Tables.embeddings(spark, sf)
        Similarity.bruteTopK(emb.where(col("vec_id") < 20), emb, k = 5)
          .select(col("qid"), col("vec_id"), round(col("cos"), 4).as("cos"), col("rnk"))
          .orderBy("qid", "rnk")
    },

    // Margin-based bitext mining (Artetxe & Schwenk, arXiv:1811.01136):
    // align de-lang vectors to en-lang vectors by MUTUAL-BEST margin —
    // pair similarity relative to each side's k-NN mean, the
    // CCMatrix/LASER criterion. Integer end to end (the quantized
    // family's cos²·10⁴ metric, integral margin with marginScale=1000,
    // the enc=mfp·2⁴⁰+(2⁴⁰−1−id) argmax encoding), so the full mining
    // pipeline replays in SQL. Threshold 1200 (pair ≥1.2× its
    // neighborhoods' k-NN mean) probed tri-scale per the CLAUDE.md rule:
    // keeps 54/66, 57/66, 154/230 mutual pairs at sf0.001/0.01/0.1 —
    // discriminating at every scale, no vacuous gate. The all-pairs
    // candidate stage IS the declared correctness baseline (quadratic by
    // construction, like llm_sim_topk); marginMine's `candidates` hook is
    // the LSH-bucketed scale path.
    Q("llm_bitext_margin",
      """WITH v AS (
        |  SELECT vec_id, lang,
        |    list_transform(CAST(embedding AS DOUBLE[]),
        |      x -> CAST(floor(x * 64 + 0.5) AS BIGINT)) AS vq
        |  FROM embeddings JOIN documents ON doc_id = vec_id
        |  WHERE embedding IS NOT NULL),
        |src AS (SELECT vec_id AS a, vq FROM v WHERE lang = 'de'),
        |tgt AS (SELECT vec_id AS b, vq FROM v WHERE lang = 'en'),
        |p2 AS (
        |  SELECT a, b,
        |    CAST(list_sum(list_transform(range(1, 65), i -> s.vq[i]*t.vq[i])) AS BIGINT) AS dot,
        |    CAST(list_sum(list_transform(range(1, 65), i -> s.vq[i]*s.vq[i])) AS BIGINT) AS na,
        |    CAST(list_sum(list_transform(range(1, 65), i -> t.vq[i]*t.vq[i])) AS BIGINT) AS nb
        |  FROM src s CROSS JOIN tgt t),
        |sc AS (
        |  SELECT a, b, CAST((dot*dot*20000 + na*nb) // (na*nb*2) AS BIGINT) AS c
        |  FROM p2 WHERE dot > 0 AND na > 0 AND nb > 0),
        |ka AS (
        |  SELECT a, CAST(sum(c) AS BIGINT) AS sa FROM (
        |    SELECT a, c, row_number() OVER (PARTITION BY a ORDER BY c DESC, b) AS rn FROM sc)
        |  WHERE rn <= 4 GROUP BY a),
        |kb AS (
        |  SELECT b, CAST(sum(c) AS BIGINT) AS sb FROM (
        |    SELECT b, c, row_number() OVER (PARTITION BY b ORDER BY c DESC, a) AS rn FROM sc)
        |  WHERE rn <= 4 GROUP BY b),
        |m AS (
        |  SELECT sc.a, sc.b, CAST((sc.c * 8000) // (ka.sa + kb.sb) AS BIGINT) AS mfp
        |  FROM sc JOIN ka USING (a) JOIN kb USING (b)),
        |besta AS (SELECT a, CAST(max(mfp * 1099511627776 + (1099511627775 - b)) AS BIGINT) AS e
        |          FROM m GROUP BY a),
        |bestb AS (SELECT b, CAST(max(mfp * 1099511627776 + (1099511627775 - a)) AS BIGINT) AS e
        |          FROM m GROUP BY b),
        |mutual AS (
        |  SELECT ba.a, 1099511627775 - (ba.e % 1099511627776) AS b,
        |    ba.e // 1099511627776 AS mfp
        |  FROM besta ba JOIN bestb bb ON bb.b = 1099511627775 - (ba.e % 1099511627776)
        |    AND 1099511627775 - (bb.e % 1099511627776) = ba.a)
        |SELECT a, b, mfp AS margin_fp FROM mutual WHERE mfp >= 1200
        |ORDER BY a""".stripMargin) { (spark, sf) =>
      val v = Tables.embeddings(spark, sf)
        .join(Tables.documents(spark, sf), col("doc_id") === col("vec_id"))
        .where(col("embedding").isNotNull)
        .select(col("vec_id"), col("lang"), col("embedding"))
        // src/tgt both slice this frame — one cut, 2 executed scans total
        .localCheckpoint(false)
      Similarity.marginMine(
          v.where(col("lang") === "de")
            .select(col("vec_id").as("a"), col("embedding")),
          v.where(col("lang") === "en")
            .select(col("vec_id").as("b"), col("embedding")),
          k = 4, minMarginFp = 1200L)
        .orderBy("a")
    },

    // The PRODUCTION path of bitext mining, oracle-gated (r14, verdict
    // ask #3): same mutual-best margin mine, but scored pairs come from
    // Similarity.lshCandidates — the sign-LSH bucket equi-join — so the
    // k-NN sums are approximate exactly the way the paper's FAISS
    // retrieval is. The brute face above stays the declared correctness
    // baseline; this face is what runs at 100 TB (probe: LSH 1.2× vs
    // brute 3.6× at 10×). DuckDB replays the bucketing verbatim (the
    // llm_ann_lsh_q cand CTE) then the margin pipeline over it.
    // Threshold probed tri-scale: mutual pairs 63/64/232, of which
    // ≥1200 keeps 60/62/184 — both branches live at every scale.
    Q("llm_bitext_margin_lsh", {
      val planes = Dedup.quantPlanes(16, 64)
      val pl = planes.zipWithIndex.map { case (w, p) =>
        s"($p, [${w.mkString(", ")}])"
      }.mkString(", ")
      s"""WITH pl(p, w) AS (VALUES $pl),
         |v AS (
         |  SELECT vec_id, lang,
         |    list_transform(CAST(embedding AS DOUBLE[]),
         |      x -> CAST(floor(x * 64 + 0.5) AS BIGINT)) AS vq
         |  FROM embeddings JOIN documents ON doc_id = vec_id
         |  WHERE embedding IS NOT NULL),
         |src AS (SELECT vec_id AS a, vq FROM v WHERE lang = 'de'),
         |tgt AS (SELECT vec_id AS b, vq FROM v WHERE lang = 'en'),
         |sd AS (
         |  SELECT a, pl.p,
         |    list_sum(list_transform(range(1, 65), i -> src.vq[i]*pl.w[i])) AS d
         |  FROM src CROSS JOIN pl),
         |td AS (
         |  SELECT b, pl.p,
         |    list_sum(list_transform(range(1, 65), i -> tgt.vq[i]*pl.w[i])) AS d
         |  FROM tgt CROSS JOIN pl),
         |ssig AS (
         |  SELECT a, p // 4 AS tbl,
         |    CAST(sum(CASE WHEN d >= 0 THEN (1::BIGINT << (p % 4)) ELSE 0 END) AS BIGINT) AS sig
         |  FROM sd GROUP BY 1, 2),
         |tsig AS (
         |  SELECT b, p // 4 AS tbl,
         |    CAST(sum(CASE WHEN d >= 0 THEN (1::BIGINT << (p % 4)) ELSE 0 END) AS BIGINT) AS sig
         |  FROM td GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT s.a, t.b
         |  FROM ssig s JOIN tsig t ON s.tbl = t.tbl AND s.sig = t.sig),
         |p2 AS (
         |  SELECT cand.a, cand.b,
         |    CAST(list_sum(list_transform(range(1, 65), i -> s.vq[i]*t.vq[i])) AS BIGINT) AS dot,
         |    CAST(list_sum(list_transform(range(1, 65), i -> s.vq[i]*s.vq[i])) AS BIGINT) AS na,
         |    CAST(list_sum(list_transform(range(1, 65), i -> t.vq[i]*t.vq[i])) AS BIGINT) AS nb
         |  FROM cand JOIN src s ON s.a = cand.a JOIN tgt t ON t.b = cand.b),
         |sc AS (
         |  SELECT a, b, CAST((dot*dot*20000 + na*nb) // (na*nb*2) AS BIGINT) AS c
         |  FROM p2 WHERE dot > 0 AND na > 0 AND nb > 0),
         |ka AS (
         |  SELECT a, CAST(sum(c) AS BIGINT) AS sa FROM (
         |    SELECT a, c, row_number() OVER (PARTITION BY a ORDER BY c DESC, b) AS rn FROM sc)
         |  WHERE rn <= 4 GROUP BY a),
         |kb AS (
         |  SELECT b, CAST(sum(c) AS BIGINT) AS sb FROM (
         |    SELECT b, c, row_number() OVER (PARTITION BY b ORDER BY c DESC, a) AS rn FROM sc)
         |  WHERE rn <= 4 GROUP BY b),
         |m AS (
         |  SELECT sc.a, sc.b, CAST((sc.c * 8000) // (ka.sa + kb.sb) AS BIGINT) AS mfp
         |  FROM sc JOIN ka USING (a) JOIN kb USING (b)),
         |besta AS (SELECT a, CAST(max(mfp * 1099511627776 + (1099511627775 - b)) AS BIGINT) AS e
         |          FROM m GROUP BY a),
         |bestb AS (SELECT b, CAST(max(mfp * 1099511627776 + (1099511627775 - a)) AS BIGINT) AS e
         |          FROM m GROUP BY b),
         |mutual AS (
         |  SELECT ba.a, 1099511627775 - (ba.e % 1099511627776) AS b,
         |    ba.e // 1099511627776 AS mfp
         |  FROM besta ba JOIN bestb bb ON bb.b = 1099511627775 - (ba.e % 1099511627776)
         |    AND 1099511627775 - (bb.e % 1099511627776) = ba.a)
         |SELECT a, b, mfp AS margin_fp FROM mutual WHERE mfp >= 1200
         |ORDER BY a""".stripMargin
    }) { (spark, sf) =>
      val v = Tables.embeddings(spark, sf)
        .join(Tables.documents(spark, sf), col("doc_id") === col("vec_id"))
        .where(col("embedding").isNotNull)
        .select(col("vec_id"), col("lang"), col("embedding"))
        // four slices read this frame (each side's signature pass +
        // the scorer's quantize pass) — one cut
        .localCheckpoint(false)
      val src = v.where(col("lang") === "de")
        .select(col("vec_id").as("a"), col("embedding"))
      val tgt = v.where(col("lang") === "en")
        .select(col("vec_id").as("b"), col("embedding"))
      Similarity.marginMine(src, tgt, k = 4, minMarginFp = 1200L,
          candidates = Some(Similarity.lshCandidates(src, tgt,
            numTables = 4, bits = 4)))
        .orderBy("a")
    },

    Q.noOracle("llm_ann_ivf") { (spark, sf) =>
      val emb = Tables.embeddings(spark, sf)
      // fixed ≤100-entry codebook at every sf: the IVF contract is a small
      // centroid set; an sf-proportional one would make assignment O(n·sf)
      Similarity.ivfTopK(
          emb.where(col("vec_id") < 20), emb,
          centroids = emb.where(col("vec_id") % 25 === 0 && col("vec_id") < 2500),
          k = 5, nprobe = 3)
        .select(col("qid"), col("vec_id"), round(col("cos"), 4).as("cos"), col("rnk"))
        .orderBy("qid", "rnk")
    },

    // In-library IVF codebook training (cosine Lloyd's with deterministic
    // k-means||-style farthest-first init and fixed-point centroid sums).
    // Rows-only on THIS face because the candidate draw is xxhash64
    // (engine-specific); everything downstream is engine-neutral
    // arithmetic, and llm_ivf_train_poly below pins the whole trainer
    // with a full DuckDB replay by swapping only the draw to an affine
    // lattice (the _poly relationship). SimilaritySpec additionally pins
    // exact cluster recovery, cohesion improvement, and bit-identical
    // results under repartitioning.
    Q.noOracle("llm_ivf_train") { (spark, sf) =>
      val emb = Tables.embeddings(spark, sf).where(col("vec_id") < 2500)
      val cb = Similarity.trainCodebook(emb, k = 16, iters = 3)
      // report the codebook as partition-invariant accounting rows
      Similarity.assign(emb, cb.select(col("cid").as("vec_id"), col("embedding")))
        .groupBy("cid").agg(count(lit(1)).as("n"))
        .join(cb.select(col("cid"),
          round(Similarity.norm(col("embedding")), 4).as("c_norm")), "cid")
        .orderBy("cid")
    },

    // llm_ivf_train's oracle-gated sibling: identical trainer, identical
    // reporting — only the candidate draw swaps xxhash64 for the affine
    // lattice (vec_id·6007 + 1009) mod 9973, so DuckDB can replay the
    // ENTIRE training loop: the 160-candidate lowest-hash draw, the
    // farthest-first sweep (state-in-one-row recursive CTE: chosen list +
    // per-candidate running max-cos, strict-< argmin = ties-to-first),
    // three unrolled Lloyd rounds (assignment = list_position of
    // list_max over left-to-right list_reduce dots — the TopDotKernel
    // loop order and lowest-cid tiebreak — and fixed-point centroid sums:
    // trunc(x·2^20) BIGINT, order-free, divided back in the scala
    // operation order (s/2^20)/n), the float32 rounding trainCodebook
    // applies to its output matrix, and the final assignment + norm
    // accounting. Every float op mirrors the kernel's accumulation order
    // (list_reduce, never list_sum), so the match is bit-exact, not
    // approximate.
    Q("llm_ivf_train_poly",
      """WITH RECURSIVE
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 2500),
        |candl AS (
        |  SELECT list(v ORDER BY h, vec_id) AS cands FROM (
        |    SELECT v, (vec_id * 6007 + 1009) % 9973 AS h, vec_id
        |    FROM e ORDER BY h, vec_id LIMIT 160) t),
        |unitl AS (
        |  SELECT cands, list_transform(cands, v ->
        |    list_transform([greatest(sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)), 5e-324)],
        |      nn -> list_transform(v, x -> x / nn))[1]) AS units,
        |    len(cands) AS nc
        |  FROM candl),
        |ff AS (
        |  SELECT 1 AS it, [1] AS chosen,
        |    (SELECT list_transform(range(1, nc + 1), i -> CAST(-2.0 AS DOUBLE)) FROM unitl) AS maxcos
        |  UNION ALL
        |  SELECT it + 1, list_append(chosen, best), newmax
        |  FROM (
        |    SELECT it, chosen, newmax,
        |      list_filter(range(1, nc + 1), i -> NOT list_contains(chosen, i)
        |        AND newmax[i] = bestcos)[1] AS best
        |    FROM (
        |      SELECT it, chosen, newmax, nc,
        |        list_min(list_transform(
        |          list_filter(range(1, nc + 1), i -> NOT list_contains(chosen, i)),
        |          i -> newmax[i])) AS bestcos
        |      FROM (
        |        SELECT ff.it, ff.chosen, u.nc,
        |          list_transform(range(1, u.nc + 1), i ->
        |            CASE WHEN list_contains(ff.chosen, i) THEN ff.maxcos[i]
        |                 ELSE greatest(ff.maxcos[i],
        |                   list_reduce(list_transform(range(1, 65),
        |                     j -> u.units[ff.chosen[len(ff.chosen)]][j] * u.units[i][j]),
        |                     (a, b) -> a + b))
        |            END) AS newmax
        |        FROM ff, unitl u WHERE ff.it < 16) q1) q2) q3),
        |m0 AS (
        |  SELECT list_transform(ff.chosen, i -> u.cands[i]) AS mat
        |  FROM ff, unitl u WHERE ff.it = 16),
        |cb1 AS (
        |  SELECT mat, list_transform(mat, c ->
        |    list_transform([greatest(sqrt(list_reduce(list_transform(c, x -> x * x), (a, b) -> a + b)), 5e-324)],
        |      nn -> list_transform(c, x -> x / nn))[1]) AS cb
        |  FROM m0),
        |a1 AS (
        |  SELECT e.vec_id, e.v,
        |    list_position(dots, list_max(dots)) AS cid
        |  FROM (
        |    SELECT e.vec_id, e.v,
        |      list_transform(cb.cb, c -> list_reduce(list_transform(range(1, 65), j -> e.v[j] * c[j]), (a, b) -> a + b)) AS dots
        |    FROM e, cb1 cb) e),
        |s1 AS (
        |  SELECT cid, list(val ORDER BY dim) AS cvec
        |  FROM (
        |    SELECT cid, dim,
        |      (CAST(sum(CAST(trunc(x * 1048576.0) AS BIGINT)) AS DOUBLE) / 1048576.0) / count(*) AS val
        |    FROM (SELECT cid, d.dim, v[d.dim] AS x
        |          FROM a1, (SELECT unnest(range(1, 65)) AS dim) d) t
        |    GROUP BY cid, dim) g
        |  GROUP BY cid),
        |m1 AS (
        |  SELECT list_transform(range(1, 17), c ->
        |    coalesce(mm[c][1], mat[c])) AS mat
        |  FROM (SELECT map_from_entries(list(struct_pack(k := cid, v := cvec))) AS mm FROM s1),
        |       m0),
        |cb2 AS (
        |  SELECT mat, list_transform(mat, c ->
        |    list_transform([greatest(sqrt(list_reduce(list_transform(c, x -> x * x), (a, b) -> a + b)), 5e-324)],
        |      nn -> list_transform(c, x -> x / nn))[1]) AS cb
        |  FROM m1),
        |a2 AS (
        |  SELECT e.vec_id, e.v,
        |    list_position(dots, list_max(dots)) AS cid
        |  FROM (
        |    SELECT e.vec_id, e.v,
        |      list_transform(cb.cb, c -> list_reduce(list_transform(range(1, 65), j -> e.v[j] * c[j]), (a, b) -> a + b)) AS dots
        |    FROM e, cb2 cb) e),
        |s2 AS (
        |  SELECT cid, list(val ORDER BY dim) AS cvec
        |  FROM (
        |    SELECT cid, dim,
        |      (CAST(sum(CAST(trunc(x * 1048576.0) AS BIGINT)) AS DOUBLE) / 1048576.0) / count(*) AS val
        |    FROM (SELECT cid, d.dim, v[d.dim] AS x
        |          FROM a2, (SELECT unnest(range(1, 65)) AS dim) d) t
        |    GROUP BY cid, dim) g
        |  GROUP BY cid),
        |m2 AS (
        |  SELECT list_transform(range(1, 17), c ->
        |    coalesce(mm[c][1], mat[c])) AS mat
        |  FROM (SELECT map_from_entries(list(struct_pack(k := cid, v := cvec))) AS mm FROM s2),
        |       m1),
        |cb3 AS (
        |  SELECT mat, list_transform(mat, c ->
        |    list_transform([greatest(sqrt(list_reduce(list_transform(c, x -> x * x), (a, b) -> a + b)), 5e-324)],
        |      nn -> list_transform(c, x -> x / nn))[1]) AS cb
        |  FROM m2),
        |a3 AS (
        |  SELECT e.vec_id, e.v,
        |    list_position(dots, list_max(dots)) AS cid
        |  FROM (
        |    SELECT e.vec_id, e.v,
        |      list_transform(cb.cb, c -> list_reduce(list_transform(range(1, 65), j -> e.v[j] * c[j]), (a, b) -> a + b)) AS dots
        |    FROM e, cb3 cb) e),
        |s3 AS (
        |  SELECT cid, list(val ORDER BY dim) AS cvec
        |  FROM (
        |    SELECT cid, dim,
        |      (CAST(sum(CAST(trunc(x * 1048576.0) AS BIGINT)) AS DOUBLE) / 1048576.0) / count(*) AS val
        |    FROM (SELECT cid, d.dim, v[d.dim] AS x
        |          FROM a3, (SELECT unnest(range(1, 65)) AS dim) d) t
        |    GROUP BY cid, dim) g
        |  GROUP BY cid),
        |m3 AS (
        |  SELECT list_transform(range(1, 17), c ->
        |    coalesce(mm[c][1], mat[c])) AS mat
        |  FROM (SELECT map_from_entries(list(struct_pack(k := cid, v := cvec))) AS mm FROM s3),
        |       m2),
        |m3f AS (
        |  SELECT list_transform(mat, c ->
        |    list_transform(c, x -> CAST(CAST(x AS FLOAT) AS DOUBLE))) AS mat
        |  FROM m3),
        |fin AS (
        |  SELECT mat, list_transform(mat, c ->
        |    list_transform([greatest(sqrt(list_reduce(list_transform(c, x -> x * x), (a, b) -> a + b)), 5e-324)],
        |      nn -> list_transform(c, x -> x / nn))[1]) AS cb
        |  FROM m3f),
        |af AS (
        |  SELECT e.vec_id,
        |    list_position(dots, list_max(dots)) AS cid
        |  FROM (
        |    SELECT e.vec_id,
        |      list_transform(cb.cb, c -> list_reduce(list_transform(range(1, 65), j -> e.v[j] * c[j]), (a, b) -> a + b)) AS dots
        |    FROM e, fin cb) e)
        |SELECT CAST(a.cid - 1 AS BIGINT) AS cid, count(*)::BIGINT AS n,
        |  round(sqrt(list_reduce(list_transform(f.mat[a.cid], x -> x * x), (a, b) -> a + b)), 4) AS c_norm
        |FROM af a, fin f
        |GROUP BY a.cid, f.mat[a.cid]
        |ORDER BY cid""".stripMargin) { (spark, sf) =>
      val emb = Tables.embeddings(spark, sf).where(col("vec_id") < 2500)
      val cb = Similarity.trainCodebook(emb, k = 16, iters = 3,
        drawKey = Some((col("vec_id") * 6007 + 1009) % 9973))
      Similarity.assign(emb, cb.select(col("cid").as("vec_id"), col("embedding")))
        .groupBy("cid").agg(count(lit(1)).as("n"))
        .join(cb.select(col("cid"),
          round(Similarity.norm(col("embedding")), 4).as("c_norm")), "cid")
        .orderBy("cid")
    },

    // Product-quantization codes over a PLANTED 8×4×8 codebook (quarter-
    // step values — exact in binary, so double arithmetic agrees across
    // engines; formula-generated so the two listings can't drift). The
    // oracle replays subspace slicing, squared-L2 distances and the
    // ties-to-lowest-code argmin with row_number.
    Q("llm_pq", {
      val cbSql = pqCodebooks.zipWithIndex.flatMap { case (ks, s) =>
        ks.zipWithIndex.map { case (vals, k) =>
          s"($s, $k, [${vals.mkString(", ")}])"
        }
      }.mkString(", ")
      s"""WITH cb(sub, code, vals) AS (VALUES $cbSql),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |      FROM embeddings WHERE vec_id < $vecCap),
         |sv AS (SELECT vec_id, s.sub, v[s.sub*8+1 : s.sub*8+8] AS sl
         |       FROM e, (SELECT unnest(range(0, 8)) AS sub) s),
         |d AS (SELECT vec_id, sv.sub, cb.code,
         |        list_sum(list_transform(range(1, 9),
         |          j -> (sl[j] - vals[j]) * (sl[j] - vals[j]))) AS dist
         |      FROM sv JOIN cb ON sv.sub = cb.sub),
         |r AS (SELECT vec_id, sub, code,
         |        row_number() OVER (PARTITION BY vec_id, sub
         |          ORDER BY dist, code) AS rn
         |      FROM d)
         |SELECT vec_id, CAST(sub AS BIGINT) AS subspace,
         |  CAST(code AS BIGINT) AS code
         |FROM r WHERE rn = 1 ORDER BY vec_id, subspace""".stripMargin
    }) { (spark, sf) =>
      Similarity.pqEncode(
          Tables.embeddings(spark, sf).where(col("vec_id") < vecCap),
          pqCodebooks)
        .orderBy("vec_id", "subspace")
    },

    Q.noOracle("llm_ann_lsh") { (spark, sf) =>
      val emb = Tables.embeddings(spark, sf)
      Similarity.lshTopK(emb.where(col("vec_id") < 20), emb, k = 5)
        .select(col("qid"), col("vec_id"), round(col("cos"), 4).as("cos"), col("rnk"))
        .orderBy("qid", "rnk")
    },

    // PQ top-k search (ADC over the code index): corpus vectors are
    // scored through their (subspace, code) pairs and a per-query LUT —
    // raw vectors never read. Queries snap to the quarter-step grid
    // (floor(q·4+0.5), exact both engines) so dist16 is an INTEGER and
    // the subspace sum is order-free.
    Q("llm_pq_search", {
      val cbSql = pqCodebooks.zipWithIndex.flatMap { case (ks, s) =>
        ks.zipWithIndex.map { case (vals, k) =>
          s"($s, $k, [${vals.mkString(", ")}])"
        }
      }.mkString(", ")
      s"""WITH cb(sub, code, vals) AS (VALUES $cbSql),
         |cbi AS (SELECT sub, code,
         |  list_transform(vals, v -> CAST(round(v * 4) AS BIGINT)) AS ci FROM cb),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sv AS (SELECT vec_id, s.sub, v[s.sub*8+1 : s.sub*8+8] AS sl
         |       FROM e, (SELECT unnest(range(0, 8)) AS sub) s),
         |d AS (SELECT vec_id, sv.sub, cb.code,
         |        list_sum(list_transform(range(1, 9),
         |          j -> (sl[j] - vals[j]) * (sl[j] - vals[j]))) AS dist
         |      FROM sv JOIN cb ON sv.sub = cb.sub),
         |r AS (SELECT vec_id, sub, code,
         |        row_number() OVER (PARTITION BY vec_id, sub
         |          ORDER BY dist, code) AS rn
         |      FROM d),
         |codes AS (SELECT vec_id, sub, code FROM r WHERE rn = 1),
         |q AS (SELECT vec_id AS qid,
         |        list_transform(v, x -> CAST(floor(x * 4 + 0.5) AS BIGINT)) AS qi
         |      FROM e WHERE vec_id < 20),
         |lut AS (SELECT qid, cbi.sub, cbi.code,
         |          list_sum(list_transform(range(1, 9),
         |            j -> (qi[sub*8+j] - ci[j]) * (qi[sub*8+j] - ci[j]))) AS dd
         |        FROM q, cbi),
         |sc AS (SELECT qid, vec_id, CAST(sum(dd) AS BIGINT) AS dist16
         |       FROM codes JOIN lut ON codes.sub = lut.sub AND codes.code = lut.code
         |       GROUP BY qid, vec_id),
         |rk AS (SELECT qid, vec_id, dist16,
         |         row_number() OVER (PARTITION BY qid ORDER BY dist16, vec_id) AS rnk
         |       FROM sc)
         |SELECT qid, vec_id, dist16, CAST(rnk AS BIGINT) AS rnk
         |FROM rk WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin
    }) { (spark, sf) =>
      val emb = Tables.embeddings(spark, sf)
      Similarity.pqTopK(
          emb.where(col("vec_id") < 20).withColumnRenamed("vec_id", "qid"),
          Similarity.pqEncode(emb, pqCodebooks), pqCodebooks, k = 5)
        .orderBy("qid", "rnk")
    },

    // IVF-PQ: coarse cells from the full-width planted codebook route
    // each query to its 3 nearest cells (same integer quantized-query
    // metric as the ADC stage), then PQ-ADC scores probed cells only.
    Q("llm_ivf_pq", ivfPqSql) { (spark, sf) =>
      val emb = Tables.embeddings(spark, sf)
      Similarity.ivfPqTopK(
          emb.where(col("vec_id") < 20).withColumnRenamed("vec_id", "qid"),
          emb, clusterCodebook, pqCodebooks, k = 5, nprobe = 3)
        .orderBy("qid", "rnk")
    },

    // The PERSISTED-index face of IVF-PQ: build + write the index
    // (codes parquet partitioned by coarse cell + a codebook table),
    // reload it from disk, and search over the LOADED index. The oracle
    // is llm_ivf_pq's SQL verbatim — the save/load round trip must be
    // identity, and gating both queries on one SQL string IS that
    // contract. At scale this is the build-once/search-many ANN story:
    // search cost tracks nprobe/C of the index, never the corpus.
    Q("llm_pq_persist", ivfPqSql) { (spark, sf) =>
      val emb = Tables.embeddings(spark, sf)
      // keyed by the sanitized sf STRING, not its hashCode: distinct
      // sfDirs can hash-collide onto one directory (and abs(MinValue)
      // is negative), racing overwrite-vs-read across runs
      val dir = "/tmp/graft_pq_index_" + sf.replaceAll("[^a-zA-Z0-9]", "_")
      graft.sources.Sinks.pqIndex(emb, dir, clusterCodebook, pqCodebooks)
      val idx = Similarity.loadPqIndex(spark, dir)
      Similarity.searchPqIndex(
          emb.where(col("vec_id") < 20).withColumnRenamed("vec_id", "qid"),
          idx, k = 5, nprobe = 3)
        .orderBy("qid", "rnk")
    },

    // Maintained ANN serving tier (r19): the FULL lifecycle in-query —
    // bootstrap the stored IVF-PQ index from the embeddings corpus,
    // ingest two planted batches through the streaming batch path
    // (encoded under the STORED codebooks, landed in the tail tier),
    // then serve a read-only top-k probe over the maintained store.
    // The oracle replays the identical search over the union corpus
    // (ivf_pq's SQL with the planted batches in `e`): the store after
    // two batches must answer exactly like an inline index over
    // everything ingested — the defining parity of a maintained index.
    // Probe cost at scale: routed cell dirs + the bounded tail, never
    // the index (AnnStreamSpec pins fold/ownership/replay; this query's
    // ScaleProbe row times the whole lifecycle, bootstrap included).
    Q("llm_ann_probe", annProbeSql) { (spark, sf) =>
      import graft.streaming.StreamOps
      // one materialization feeds bootstrap, both planted batches, and
      // the query set — uncut, each consumer re-scans the parquet
      val emb = Tables.embeddings(spark, sf).localCheckpoint(false)
      val dir = java.nio.file.Files
        .createTempDirectory("ann_probe_q").toString + "/ann"
      StreamOps.bootstrapAnn(emb, dir, clusterCodebook, pqCodebooks)
      StreamOps.applyAnnBatch(
        emb.where(pmod(col("vec_id"), lit(7)) === 0)
          .select((col("vec_id") + 100000L).as("vec_id"),
            reverse(col("embedding")).as("embedding")),
        0L, dir)
      StreamOps.applyAnnBatch(
        emb.where(pmod(col("vec_id"), lit(11)) === 1)
          .select((col("vec_id") + 200000L).as("vec_id"),
            transform(col("embedding"), x => negate(x)).as("embedding")),
        1L, dir)
      StreamOps.probeAnn(
          emb.where(col("vec_id") < 20).withColumnRenamed("vec_id", "qid"),
          dir, k = 5, nprobe = 3)
        .orderBy("qid", "rnk")
    },

    // Filtered / liveness-aware ANN serving (r20, the r19 verdict's top
    // ask): the llm_ann_probe lifecycle served through the `allowIds`
    // gate — a live-id frame retiring every id with vec_id % 3 == 1
    // (spread across cells and both planted batches, so routing still
    // discriminates). FILTER-THEN-RANK: the gate semi-joins the
    // ADC-scored candidates BEFORE the top-k heap, so each query ranks
    // 5 SURVIVORS — retired documents (including a query's own vector)
    // stop being served the moment they leave the live set, without
    // waiting for a re-bootstrap. The oracle applies the identical
    // predicate to the candidate domain of the shared IVF-PQ SQL.
    Q("llm_ann_probe_filtered", annProbeFilteredSql) { (spark, sf) =>
      import graft.streaming.StreamOps
      val emb = Tables.embeddings(spark, sf).localCheckpoint(false)
      val dir = java.nio.file.Files
        .createTempDirectory("ann_probe_f_q").toString + "/ann"
      StreamOps.bootstrapAnn(emb, dir, clusterCodebook, pqCodebooks)
      StreamOps.applyAnnBatch(
        emb.where(pmod(col("vec_id"), lit(7)) === 0)
          .select((col("vec_id") + 100000L).as("vec_id"),
            reverse(col("embedding")).as("embedding")),
        0L, dir)
      StreamOps.applyAnnBatch(
        emb.where(pmod(col("vec_id"), lit(11)) === 1)
          .select((col("vec_id") + 200000L).as("vec_id"),
            transform(col("embedding"), x => negate(x)).as("embedding")),
        1L, dir)
      // the live-id set: the union corpus minus the retired third —
      // derived from the shared cut, so no extra source scan
      val live = emb.select(col("vec_id"))
        .unionByName(emb.where(pmod(col("vec_id"), lit(7)) === 0)
          .select((col("vec_id") + 100000L).as("vec_id")))
        .unionByName(emb.where(pmod(col("vec_id"), lit(11)) === 1)
          .select((col("vec_id") + 200000L).as("vec_id")))
        .where(pmod(col("vec_id"), lit(3)) =!= 1)
      StreamOps.probeAnn(
          emb.where(col("vec_id") < 20).withColumnRenamed("vec_id", "qid"),
          dir, k = 5, nprobe = 3, allowIds = Some(live))
        .orderBy("qid", "rnk")
    },

    // Exact re-rank refinement (r20, the r19 verdict's What's-missing
    // 2): top-15 per query by ADC over the inline IVF-PQ index, then
    // the raw vectors of those candidates fetched by id (request-sized
    // — the readKeys shape) and re-scored with EXACT squared-L2; top-5
    // by the exact metric. The quality step every ANN deployment runs
    // between the quantized index and the answer — previously exact
    // distances meant the brute face over the whole corpus.
    Q("llm_ann_rerank", annRerankSql) { (spark, sf) =>
      val emb = Tables.embeddings(spark, sf).localCheckpoint(false)
      val queries = emb.where(col("vec_id") < 20)
        .withColumnRenamed("vec_id", "qid")
      Similarity.rerankExact(queries,
          Similarity.ivfPqTopK(queries, emb, clusterCodebook, pqCodebooks,
            k = 15, nprobe = 3),
          emb, k = 5)
        .orderBy("qid", "rnk")
    },

    // Cluster-balanced diversity sampling: one planted 8-centroid/64-dim
    // codebook (quarter-step values — double arithmetic identical
    // cross-engine, the llm_pq discipline) assigns every vector a PQ
    // cell; each cell keeps <= 100 members in shuffleHash order. Cap 100
    // PROBED tri-scale: cluster sizes 12-828, so the cap binds for some
    // clusters and spares others at every scale (both branches live).
    Q("llm_cluster_balance", {
      val cbSql = clusterCodebook.zipWithIndex.map { case (vals, kk) =>
        s"($kk, [${vals.mkString(", ")}])"
      }.mkString(", ")
      s"""WITH cb(code, vals) AS (VALUES $cbSql),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |d AS (SELECT vec_id, cb.code,
         |        list_reduce(list_transform(range(1, 65),
         |          j -> (v[j] - vals[j]) * (v[j] - vals[j])), (a, b) -> a + b) AS dist
         |      FROM e, cb),
         |r AS (SELECT vec_id, code,
         |        row_number() OVER (PARTITION BY vec_id ORDER BY dist, code) AS rn
         |      FROM d),
         |a AS (SELECT vec_id, CAST(code AS BIGINT) AS cluster FROM r WHERE rn = 1),
         |h AS (SELECT vec_id, cluster,
         |        ((vec_id % 999999937) * 654435887) % 999999937 AS hh FROM a),
         |q AS (SELECT vec_id, cluster,
         |        row_number() OVER (PARTITION BY cluster ORDER BY hh, vec_id) AS rn2
         |      FROM h)
         |SELECT vec_id, cluster FROM q WHERE rn2 <= 100 ORDER BY vec_id""".stripMargin
    }) { (spark, sf) =>
      Similarity.clusterBalance(Tables.embeddings(spark, sf),
          Seq(clusterCodebook), capPerCluster = 100)
        .orderBy("vec_id")
    },

    Q("llm_text_stats",
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  ((200 * CAST(sum(n_chars) AS BIGINT) + count(*))
        |    // (2 * count(*))) / 100.0 AS avg_chars
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) {
      (spark, sf) =>
        Tables.documents(spark, sf)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(size(split(col("text"), " "))).cast("long").as("n_tokens"),
            (graft.functions.VectorFunctions.intDiv(
                sum(col("n_chars")).cast("long") * 200 + count(lit(1)),
                count(lit(1)) * 2).cast("double") / 100.0).as("avg_chars"))
          .orderBy("lang")
    },

    Q("llm_lang_id", {
      val scores = TextStats.profiles.map { case (l, ms) =>
        val arr = ms.map(m => s"'$m'").mkString("[", ", ", "]")
        s"CAST(len(list_filter(string_split(text, ' '), t -> list_contains($arr, t))) AS BIGINT) AS score_$l"
      }.mkString(", ")
      s"""SELECT doc_id, lang, score_de, score_en, score_es, score_fr, score_zh,
         |  CASE WHEN score_de = m THEN 'de' WHEN score_en = m THEN 'en'
         |       WHEN score_es = m THEN 'es' WHEN score_fr = m THEN 'fr'
         |       ELSE 'zh' END AS pred_lang
         |FROM (SELECT *, greatest(score_de, score_en, score_es, score_fr, score_zh) AS m
         |      FROM (SELECT doc_id, lang, $scores FROM documents))
         |ORDER BY doc_id""".stripMargin
    }) {
      (spark, sf) =>
        TextStats.langId(Tables.documents(spark, sf).select("doc_id", "lang", "text"))
          .orderBy("doc_id")
    },

    // Ratios as 4dp round-half-up via INTEGER arithmetic on both sides —
    // (20000a+b)//(2b) = round(10000a/b) exactly; double round(a/b, 4)
    // flips .00005-boundary rows between engines (seen at sf0.1).
    Q("llm_quality",
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> list_contains(['the', 'a', 'fast', 'slow'], t))) AS BIGINT) AS ns,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd,
        |    CAST(length(text) AS BIGINT) AS len
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, nt,
        |    (20000 * (len - nt + 1) + nt) // (2 * nt) AS ml_bp,
        |    (20000 * ns + nt) // (2 * nt) AS sr_bp,
        |    (20000 * nd + nt) // (2 * nt) AS dr_bp
        |  FROM c)
        |SELECT doc_id, nt AS n_tokens,
        |  ml_bp / 10000.0 AS mean_tok_len,
        |  sr_bp / 10000.0 AS stopword_ratio,
        |  dr_bp / 10000.0 AS distinct_ratio,
        |  ((dr_bp * (10000 - sr_bp) * 2 + 10000) // 20000) / 10000.0 AS quality
        |FROM b ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        TextStats.quality(Tables.documents(spark, sf)).orderBy("doc_id")
    },

    // Gopher rule battery (Rae 2021 Appendix A): the named structural
    // rules as independent verdicts + the keep conjunction — the
    // per-rule failure MIX is the curation datasheet llm_quality's
    // fused score can't provide. The fixture is clean single-line
    // text, so every structural defect class is planted in-query on
    // both sides (%13 residues 3–7: all-bullet lines, all-ellipsis
    // lines, '#' spam, digit-only words, 16-char gibberish words);
    // naturals provide the words_ok and stop_ok fail branches. Probed
    // tri-scale: every rule fails 39–796 docs and keep ≈ 48 % at all
    // three scales. All ratios integer bp; one narrow projection, no
    // shuffle before the declared ORDER BY.
    Q("llm_gopher_rules",
      s"""WITH ${GopherSql.ctes()}
         |SELECT doc_id, nt AS n_words, nl AS n_lines,
         |  ${GopherSql.wordsOk} AS words_ok,
         |  ${GopherSql.meanOk} AS mean_len_ok,
         |  ${GopherSql.symOk} AS symbol_ok,
         |  ${GopherSql.bulletOk} AS bullet_ok,
         |  ${GopherSql.ellOk} AS ellipsis_ok,
         |  ${GopherSql.alphaOk} AS alpha_ok,
         |  ${GopherSql.stopOk} AS stop_ok,
         |  ${GopherSql.keepCond} AS keep
         |FROM r ORDER BY doc_id""".stripMargin) { (spark, sf) =>
      TextStats.gopherRules(gopherPlanted(Tables.documents(spark, sf), Nil))
        .orderBy("doc_id")
    },

    // Per-source Gopher datasheet: the failure count of EVERY rule plus
    // kept docs/tokens by source — the "which rule dominates where"
    // rollup that decides what to fix UPSTREAM (a source drowning in
    // bullet failures needs a markup stripper, not a better classifier).
    // Same planted classes and integer feature chain as
    // llm_gopher_rules (one GopherSql definition, two gated faces);
    // one scan, one |sources| aggregate.
    Q("llm_gopher_mix",
      s"""WITH ${GopherSql.ctes(carry = Seq("source"))}
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN NOT (${GopherSql.wordsOk}) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS f_words,
         |  CAST(sum(CASE WHEN NOT (${GopherSql.meanOk}) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS f_mean_len,
         |  CAST(sum(CASE WHEN NOT (${GopherSql.symOk}) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS f_symbol,
         |  CAST(sum(CASE WHEN NOT (${GopherSql.bulletOk}) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS f_bullet,
         |  CAST(sum(CASE WHEN NOT (${GopherSql.ellOk}) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS f_ellipsis,
         |  CAST(sum(CASE WHEN NOT (${GopherSql.alphaOk}) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS f_alpha,
         |  CAST(sum(CASE WHEN NOT (${GopherSql.stopOk}) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS f_stop,
         |  CAST(sum(CASE WHEN ${GopherSql.keepCond} THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_keep,
         |  CAST(sum(CASE WHEN ${GopherSql.keepCond} THEN nt ELSE 0 END)
         |    AS BIGINT) AS kept_tokens
         |FROM r GROUP BY source ORDER BY source""".stripMargin) { (spark, sf) =>
      TextStats.gopherMix(
          gopherPlanted(Tables.documents(spark, sf), Seq("source")))
        .orderBy("source")
    },

    // Model-based quality scoring (fastText-classifier stage): offline-
    // trained weights applied as one integer linear projection — score
    // AND decision cross-engine exact, oracle-gated.
    Q("llm_classifier",
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> list_contains(['the', 'a', 'fast', 'slow'], t))) AS BIGINT) AS ns,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd,
        |    CAST(length(text) AS BIGINT) AS len
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    -60000 + 3 * nt + ((20000 * (len - nt + 1) + nt) // (2 * nt))
        |      - 4 * ((20000 * ns + nt) // (2 * nt))
        |      + 5 * ((20000 * nd + nt) // (2 * nt)) AS score
        |  FROM c)
        |SELECT doc_id, score, score >= 2800 AS keep
        |FROM s ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        graft.llm.Classifier.score(Tables.documents(spark, sf),
            graft.llm.Classifier.Weights(wTokens = 3, wMeanLen = 1,
              wStopword = -4, wDistinct = 5, bias = -60000),
            threshold = 2800)
          .orderBy("doc_id")
    },

    // Threshold calibration sweep: kept docs/tokens at each candidate
    // cutoff in ONE scan (conditional aggregates over one score
    // projection); same planted weights as llm_classifier, thresholds
    // straddling its 2800 so the sweep rows differ at every scale.
    // Padding-waste sweep for the pad-to-block loading regime: per
    // candidate context length, total blocks / real / padded tokens and
    // the round-half-up waste fraction, all from ONE corpus scan. The
    // candidates straddle the fixture's token-count band (~40–90), so
    // short lengths split docs into multiple blocks and long lengths
    // pad heavily — every candidate produces a DIFFERENT waste profile
    // (a sweep whose candidates all land on one side of the corpus
    // would not discriminate the ceil arithmetic).
    Q("llm_padding_sweep",
      """WITH c AS (
        |  SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents)
        |SELECT CAST(t.c AS BIGINT) AS block_tokens,
        |  CAST(sum((nt + t.c - 1) // t.c) AS BIGINT) AS n_blocks,
        |  CAST(sum(nt) AS BIGINT) AS total_tokens,
        |  CAST(sum(((nt + t.c - 1) // t.c) * t.c) AS BIGINT) AS padded_tokens,
        |  CAST(((sum(((nt + t.c - 1) // t.c) * t.c) - sum(nt)) * 20000
        |          + sum(((nt + t.c - 1) // t.c) * t.c))
        |        // (2 * sum(((nt + t.c - 1) // t.c) * t.c)) AS BIGINT) AS waste_bp
        |FROM c CROSS JOIN (VALUES (32), (64), (128), (256)) AS t(c)
        |GROUP BY 1 ORDER BY 1""".stripMargin) {
      (spark, sf) =>
        graft.llm.Packing.paddingSweep(Tables.documents(spark, sf),
            Seq(32L, 64L, 128L, 256L))
          .orderBy("block_tokens")
    },

    // T5 span-corruption planning (r13): deterministic mask layout —
    // counts, encoder/decoder length accounting, AND the exact span
    // placement (blocked-jitter over the poly affine chain, so the
    // whole layout replays in SQL; spans serialize to a canonical
    // "start:len;…" STRING per the oracle output contract). 15 % noise,
    // mean span 3 — the T5 defaults.
    Q("llm_span_corrupt",
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, n, greatest(1, (n * 3000 + 10000) // 20000) AS nm
        |  FROM c),
        |s AS (SELECT doc_id, n, nm, greatest(1, (nm * 2 + 3) // 6) AS ns FROM m),
        |d AS (
        |  SELECT doc_id, n, nm, ns,
        |    n // ns AS stride, nm // ns AS base, nm % ns AS rem
        |  FROM s)
        |SELECT doc_id, n AS n_tokens, nm AS n_mask, ns AS n_spans,
        |  n - nm + ns AS input_len, nm + ns + 1 AS target_len,
        |  array_to_string(list_transform(range(0, ns), i ->
        |    CAST(i * stride
        |        + (((doc_id % 2147483647) * 1000003 + i * 31 + 7) % 2147483647)
        |          % greatest(stride - (base + CASE WHEN i < rem THEN 1 ELSE 0 END), 1)
        |      AS VARCHAR)
        |    || ':' ||
        |    CAST(base + CASE WHEN i < rem THEN 1 ELSE 0 END AS VARCHAR)), ';')
        |    AS spans
        |FROM d ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        graft.llm.Packing.spanCorruption(Tables.documents(spark, sf))
          .orderBy("doc_id")
    },

    Q("llm_classifier_sweep",
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> list_contains(['the', 'a', 'fast', 'slow'], t))) AS BIGINT) AS ns,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd,
        |    CAST(length(text) AS BIGINT) AS len
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, nt,
        |    -60000 + 3 * nt + ((20000 * (len - nt + 1) + nt) // (2 * nt))
        |      - 4 * ((20000 * ns + nt) // (2 * nt))
        |      + 5 * ((20000 * nd + nt) // (2 * nt)) AS score
        |  FROM c)
        |SELECT CAST(t.threshold AS BIGINT) AS threshold,
        |  CAST(sum(CASE WHEN s.score >= t.threshold THEN 1 ELSE 0 END) AS BIGINT)
        |    AS kept_docs,
        |  CAST(sum(CASE WHEN s.score >= t.threshold THEN s.nt ELSE 0 END) AS BIGINT)
        |    AS kept_tokens
        |FROM s CROSS JOIN (VALUES (0), (2800), (6000)) AS t(threshold)
        |GROUP BY 1 ORDER BY 1""".stripMargin) {
      (spark, sf) =>
        graft.llm.Classifier.sweep(Tables.documents(spark, sf),
            graft.llm.Classifier.Weights(wTokens = 3, wMeanLen = 1,
              wStopword = -4, wDistinct = 5, bias = -60000),
            thresholds = Seq(0L, 2800L, 6000L))
          .orderBy("threshold")
    },

    // Calibration audit (r14): reliability bins + per-bin ECE lanes
    // over the SAME planted classifier as llm_classifier. Predicted
    // probability = affine clamp of the linear score into [0,9999]
    // (probed: scores −11339..30560, (s+12000)//5 spreads bins 0–9);
    // the planted LABEL is lattice-sampled AT the predicted rate
    // (residue < pbp — the scoreWeighted trick), so the fixture is a
    // near-calibrated model with small nonzero per-bin gaps at every
    // scale (probed obs tracks pred within ~±600 bp tri-scale) — a
    // constant label would make the diagram vacuous.
    Q("llm_calibration",
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> list_contains(['the', 'a', 'fast', 'slow'], t))) AS BIGINT) AS ns,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd,
        |    CAST(length(text) AS BIGINT) AS len
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    -60000 + 3 * nt + ((20000 * (len - nt + 1) + nt) // (2 * nt))
        |      - 4 * ((20000 * ns + nt) // (2 * nt))
        |      + 5 * ((20000 * nd + nt) // (2 * nt)) AS score
        |  FROM c),
        |p AS (
        |  SELECT doc_id,
        |    greatest(0, least(9999, (score + 12000) // 5)) AS pbp
        |  FROM s),
        |b AS (
        |  SELECT (pbp * 10) // 10000 AS bin, pbp,
        |    CASE WHEN (doc_id * 9301 + 49297) % 10000 < pbp THEN 1 ELSE 0 END AS y
        |  FROM p),
        |g AS (
        |  SELECT CAST(bin AS BIGINT) bin, count(*) n,
        |    CAST((2 * sum(pbp) + count(*)) // (2 * count(*)) AS BIGINT) mean_pred_bp,
        |    CAST((20000 * sum(y) + count(*)) // (2 * count(*)) AS BIGINT) obs_bp
        |  FROM b GROUP BY 1)
        |SELECT bin, n, mean_pred_bp, obs_bp,
        |  abs(mean_pred_bp - obs_bp) AS gap_bp,
        |  n * abs(mean_pred_bp - obs_bp) AS ece_num
        |FROM g ORDER BY bin""".stripMargin) { (spark, sf) =>
      val intDiv = graft.functions.VectorFunctions.intDiv _
      val scored = graft.llm.Classifier.score(Tables.documents(spark, sf),
        graft.llm.Classifier.Weights(wTokens = 3, wMeanLen = 1,
          wStopword = -4, wDistinct = 5, bias = -60000),
        threshold = 2800)
      val base = scored.select(col("doc_id"),
        greatest(lit(0L), least(lit(9999L),
          intDiv(col("score") + 12000L, lit(5L)))).as("pbp"))
      graft.llm.Classifier.calibration(base, col("pbp"),
        pmod(col("doc_id") * 9301L + 49297L, lit(10000L)) < col("pbp"))
    },

    // PSI drift monitor (r14): baseline = even half, current = odd half
    // with a PLANTED +900 bp score shift on its %3 docs — without the
    // plant, the halves share one distribution and every psi lane reads
    // ~0 (the vacuity trap). Probed tri-scale: per-bin psi_fp 800–
    // 794560, totals 4.1M/633k/618k. Same classifier-score pbp map as
    // llm_calibration; the l2 fixed point replays via the bin() kit.
    Q("llm_psi_drift", {
      def l2(x: String): String =
        s"((length(bin($x)) - 1) * 1024 + (($x) * 1024 // (1::BIGINT << (length(bin($x)) - 1))) - 1024)"
      s"""WITH c AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      t -> list_contains(['the', 'a', 'fast', 'slow'], t))) AS BIGINT) AS ns,
         |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd,
         |    CAST(length(text) AS BIGINT) AS len
         |  FROM documents),
         |s AS (
         |  SELECT doc_id,
         |    -60000 + 3 * nt + ((20000 * (len - nt + 1) + nt) // (2 * nt))
         |      - 4 * ((20000 * ns + nt) // (2 * nt))
         |      + 5 * ((20000 * nd + nt) // (2 * nt)) AS score
         |  FROM c),
         |p AS (
         |  SELECT doc_id, doc_id % 2 = 0 AS is_base,
         |    greatest(0, least(9999, (score + 12000) // 5 +
         |      CASE WHEN doc_id % 2 = 1 AND doc_id % 3 = 0 THEN 900 ELSE 0 END)) AS pbp
         |  FROM s),
         |b AS (
         |  SELECT (pbp * 10) // 10000 AS bin,
         |    CASE WHEN is_base THEN 1 ELSE 0 END AS nb
         |  FROM p),
         |g AS (
         |  SELECT CAST(bin AS BIGINT) bin, CAST(sum(nb) AS BIGINT) n_base,
         |    CAST(sum(1 - nb) AS BIGINT) n_cur
         |  FROM b GROUP BY 1),
         |t AS (
         |  SELECT CAST(sum(n_base) AS BIGINT) tb, CAST(sum(n_cur) AS BIGINT) tc
         |  FROM g),
         |sh AS (
         |  SELECT bin, n_base, n_cur,
         |    greatest(1, (n_base * 20000 + tb) // (tb * 2)) base_bp,
         |    greatest(1, (n_cur * 20000 + tc) // (tc * 2)) cur_bp
         |  FROM g CROSS JOIN t)
         |SELECT bin, n_base, n_cur, base_bp, cur_bp,
         |  (base_bp - cur_bp) * (${l2("base_bp")} - ${l2("cur_bp")}) AS psi_fp
         |FROM sh ORDER BY bin""".stripMargin
    }) { (spark, sf) =>
      val intDiv = graft.functions.VectorFunctions.intDiv _
      val scored = graft.llm.Classifier.score(Tables.documents(spark, sf),
        graft.llm.Classifier.Weights(wTokens = 3, wMeanLen = 1,
          wStopword = -4, wDistinct = 5, bias = -60000),
        threshold = 2800)
      val shifted = intDiv(col("score") + 12000L, lit(5L)) +
        when(pmod(col("doc_id"), lit(2)) === 1 &&
          pmod(col("doc_id"), lit(3)) === 0, 900L).otherwise(0L)
      TextStats.psiDrift(
        scored.select(col("doc_id"), col("score")),
        pmod(col("doc_id"), lit(2)) === 0,
        shifted)
    },

    // N-gram novelty audit (r14): per held-out doc, trigrams unseen in
    // the training half (Lee 2022's memorization-risk read). No
    // planting needed — the metric's own saturation IS the signal
    // (probed medians: 6000 bp at sf0.001 → 0 at sf0.1 as the train
    // half saturates the fixture's gram space; spread 0–9091 at every
    // scale, never degenerate).
    Q("llm_novelty",
      """WITH train AS (
        |  SELECT string_split(text, ' ') t FROM documents WHERE doc_id % 2 = 0),
        |tg AS (
        |  SELECT DISTINCT array_to_string(t[i:i+2], ' ') g
        |  FROM train, unnest(range(1, len(t) - 1)) r(i) WHERE len(t) >= 3),
        |held AS (
        |  SELECT doc_id, string_split(text, ' ') t
        |  FROM documents WHERE doc_id % 2 = 1),
        |hg AS (
        |  SELECT doc_id, array_to_string(t[i:i+2], ' ') g
        |  FROM held, unnest(range(1, len(t) - 1)) r(i) WHERE len(t) >= 3)
        |SELECT hg.doc_id, count(*) n_grams,
        |  CAST(sum(CASE WHEN tg.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_novel,
        |  CAST((20000 * sum(CASE WHEN tg.g IS NULL THEN 1 ELSE 0 END)
        |    + count(*)) // (2 * count(*)) AS BIGINT) AS novelty_bp
        |FROM hg LEFT JOIN tg USING (g)
        |GROUP BY hg.doc_id ORDER BY hg.doc_id""".stripMargin) { (spark, sf) =>
      val docs = Tables.documents(spark, sf)
      TextStats.novelty(
        docs.where(pmod(col("doc_id"), lit(2)) === 0),
        docs.where(pmod(col("doc_id"), lit(2)) === 1))
    },

    // OOV-rate audit (r14): reference vocab = top-20 tokens of the even
    // half (TextStats.vocab's exact tie order: count desc, token asc),
    // coverage measured per lang on the odd half. Probed tri-scale:
    // oov_bp 3270–3463 spreading by lang and scale — the per-language
    // under-service signal the shared-vocab decision needs.
    Q("llm_oov_rate",
      """WITH train AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
        |tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM train),
        |voc AS (SELECT token FROM (
        |  SELECT token, count(*) n FROM tok GROUP BY 1
        |  ORDER BY n DESC, token LIMIT 20)),
        |held AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE doc_id % 2 = 1)
        |SELECT lang, count(*) total_tokens,
        |  CAST(sum(CASE WHEN voc.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS oov_tokens,
        |  CAST((20000 * sum(CASE WHEN voc.token IS NULL THEN 1 ELSE 0 END)
        |    + count(*)) // (2 * count(*)) AS BIGINT) AS oov_bp
        |FROM held LEFT JOIN voc USING (token)
        |GROUP BY lang ORDER BY lang""".stripMargin) { (spark, sf) =>
      val docs = Tables.documents(spark, sf)
      TextStats.oovRate(
        docs.where(pmod(col("doc_id"), lit(2)) === 1),
        TextStats.vocab(docs.where(pmod(col("doc_id"), lit(2)) === 0),
          topK = 20))
    },

    Q("llm_tokens",
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        TextStats.tokenCounts(Tables.documents(spark, sf)).orderBy("doc_id")
    },

    // xxhash64 has no DuckDB analog → rows-only here; the DuckDB-free
    // differential self-oracle lives in TextStatsSpec: the kernel is
    // checked against an independent HOF formulation on a 500-doc corpus
    // plus the winnowing laws (append-monotonicity, partition-invariance).
    Q.noOracle("llm_fingerprint") { (spark, sf) =>
      TextStats.fingerprint(Tables.documents(spark, sf)).orderBy("doc_id")
    },

    // The cross-engine sibling that oracle-gates the fingerprint family:
    // same rolling 5-char-gram min, hash = base-31 code-point chain mod
    // 2^31-1 — DuckDB replays every gram via list_reduce over character
    // slices (first element seeds the accumulator, matching the kernel).
    // Short texts (< gram chars) hash once whole via the greatest/least
    // clamps; empty texts are filtered on BOTH sides (no gram exists).
    Q("llm_fingerprint_poly",
      """WITH ch AS (
        |  SELECT doc_id,
        |    list_transform(string_split(text, ''),
        |      c -> CAST(unicode(c) AS BIGINT)) AS cs
        |  FROM documents WHERE length(text) > 0),
        |g AS (
        |  SELECT doc_id,
        |    unnest(range(1, greatest(len(cs) - 5 + 1, 1) + 1)) AS pos, cs
        |  FROM ch),
        |h AS (
        |  SELECT doc_id,
        |    list_reduce(cs[pos:least(pos + 4, len(cs))],
        |      (a, b) -> (a * 31 + b) % 2147483647) AS gh
        |  FROM g)
        |SELECT doc_id, min(gh) AS fingerprint FROM h
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        TextStats.fingerprintPoly(Tables.documents(spark, sf)).orderBy("doc_id")
    },

    // Winnowing fingerprint SET (MOSS): k=3 token grams, window w=4,
    // distinct window-min hashes per doc. Unlike llm_fingerprint's
    // xxhash64 this is pure polynomial arithmetic mod 2^31-1, so the
    // oracle replays the whole pipeline — token hashes and gram hashes
    // as list_reduce (first element seeds the accumulator, matching the
    // kernel), window mins as a frame, the m<w collapse via the
    // window-start filter. Fixed docCap prefix bounds the output.
    Q("llm_winnow",
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
         |  FROM documents WHERE doc_id < $docCap),
         |th AS (
         |  SELECT doc_id, list_transform(tk, t ->
         |      list_reduce(list_transform(string_split(t, ''),
         |          c -> CAST(unicode(c) AS BIGINT)),
         |        (a, b) -> (a * 31 + b) % 2147483647)) AS hs
         |  FROM toks WHERE len(tk) > 0),
         |g AS (
         |  SELECT doc_id,
         |    unnest(range(1, greatest(len(hs) - 3 + 1, 1) + 1)) AS pos, hs
         |  FROM th),
         |grams AS (
         |  SELECT doc_id, pos,
         |    list_reduce(hs[pos:least(pos + 2, len(hs))],
         |      (a, b) -> (a * 1000003 + b) % 2147483647) AS h
         |  FROM g),
         |wm AS (
         |  SELECT doc_id, pos,
         |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
         |    count(*) OVER (PARTITION BY doc_id) AS m
         |  FROM grams)
         |SELECT DISTINCT doc_id, wmin AS fp FROM wm
         |WHERE pos <= greatest(m - 4, 0) + 1
         |ORDER BY doc_id, fp""".stripMargin) {
      (spark, sf) =>
        TextStats.winnow(
            Tables.documents(spark, sf).where(col("doc_id") < docCap),
            k = 3, w = 4)
          .orderBy("doc_id", "fp")
    },

    // PII redaction, oracle-gated for real: deterministic synthetic PII
    // (an email, an IP, an SSN-shaped id derived from doc_id) is planted
    // in-query on BOTH sides, so the regex patterns — written in the
    // Java∩RE2 dialect — are exercised, not vacuously matched on clean
    // fixture text. Adversarial placements (r3 verdict item 5): an
    // SSN-shaped id at string START (\b at position 0), an IP at string
    // END (\b at end-of-input), and an email whose local part is
    // IP-shaped (10.2.3.4@ex.org) — email runs first and consumes it,
    // pinning the sequential-replacement order cross-engine (IP-first
    // would yield '<IP>@ex.org').
    Q("llm_redact",
      """SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(
        |    '123-45-6789 ' || text || ' contact u' || doc_id ||
        |      '@ex.org from 10.0.' || (doc_id % 256) ||
        |      '.7 id 123-45-6789 also 10.2.3.4@ex.org end 10.' ||
        |      (doc_id % 256) || '.0.1',
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{3}-\d{2}-\d{4}\b', '<ID>', 'g') AS redacted
        |FROM documents WHERE doc_id < 500 ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        val planted = Tables.documents(spark, sf).where(col("doc_id") < 500)
          .select(col("doc_id"),
            concat(lit("123-45-6789 "), col("text"),
              lit(" contact u"), col("doc_id"),
              lit("@ex.org from 10.0."), pmod(col("doc_id"), lit(256)),
              lit(".7 id 123-45-6789 also 10.2.3.4@ex.org end 10."),
              pmod(col("doc_id"), lit(256)), lit(".0.1")).as("text"))
        TextStats.redact(planted).orderBy("doc_id")
    },

    // Stratified cap (corpus balancing): ≤ 50 docs per lang by doc_id —
    // bounded-heap per-group selection, oracled by a row_number window.
    Q("llm_sample_cap",
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 50 ORDER BY lang, doc_id""".stripMargin) {
      (spark, sf) =>
        Sampling.capPerGroup(
            Tables.documents(spark, sf).select("lang", "doc_id"),
            keys = Seq(col("lang")), n = 50, order = Seq(col("doc_id")))
          .orderBy("lang", "doc_id")
    },

    // Source-weighted mixture: per-stratum keep fractions via the
    // multiplicative-lattice hash ((id·2654435761) mod 1e4 < rate_bp),
    // computed in reduced residues on BOTH sides (2654435761 ≡ 5761
    // mod 1e4 — bit-identical selection, no Long overflow at any id) —
    // pure integer arithmetic both engines, so the whole recipe step
    // (rate lookup + deterministic selection + unlisted-stratum drop)
    // is oracle-gated.
    Q("llm_mixture",
      """WITH r AS (
        |  SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
        |                WHEN 'src2' THEN 2500 WHEN 'src3' THEN 1000
        |                ELSE -1 END AS rate_bp
        |  FROM documents)
        |SELECT doc_id, source FROM r
        |WHERE ((doc_id % 10000) * 5761) % 10000 < rate_bp
        |ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        Sampling.mixture(
            Tables.documents(spark, sf).select("doc_id", "source"),
            Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1))
          .orderBy("doc_id")
    },

    // Score-proportional (temperature) sampling at t=2: keep probability
    // (score/10⁴)², decided by the 9973/7919 score lattice. The planted
    // score (doc_id·37 mod 101)·100 SPREADS over {0,100,…,10000}
    // (CLAUDE.md: a point-mass score puts every doc on one side of the
    // keep rule and the gate stops discriminating), so the survivor set
    // exercises the whole threshold range: score-0 docs must all drop,
    // score-10000 docs must all survive. Intent (keep-rate ≈ (s/10⁴)^t,
    // per-row monotonicity, lattice independence) is pinned by
    // SamplingSpec — the SQL here replays the integer rule.
    Q("llm_score_sample",
      """WITH scored AS (
        |  SELECT doc_id, source, ((doc_id * 37) % 101) * 100 AS score_bp
        |  FROM documents)
        |SELECT doc_id, source, score_bp FROM scored
        |WHERE ((doc_id % 9973) * 7919 % 9973) * 100000000
        |      < 9973 * score_bp * score_bp
        |ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        val scored = Tables.documents(spark, sf)
          .select(col("doc_id"), col("source"),
            (col("doc_id") * 37 % 101 * 100).as("score_bp"))
        Sampling.scoreWeighted(scored, col("score_bp"), temperature = 2)
          .orderBy("doc_id")
    },

    // Leakage-safe split: near-dup clusters land whole in one band. The
    // pair list is planted (chains of length 4: (x, x+1) for x%6<3, so
    // ids ≡ 4,5 mod 6 are NOT participants and must fall back to their
    // own id — the coalesce path), the closure is transitive (the chain
    // pairs never link 6k to 6k+3 directly), and the oracle recomputes
    // components with a recursive CTE + the split lattice on the
    // representative — so a split that hashed member ids instead of the
    // rep, or a non-transitive closure, hash-mismatches.
    Q("llm_split_safe",
      """WITH RECURSIVE nodes AS (SELECT doc_id FROM documents),
        |e AS (SELECT x.doc_id AS a, y.doc_id AS b FROM nodes x
        |      JOIN nodes y ON y.doc_id = x.doc_id + 1 WHERE x.doc_id % 6 < 3),
        |sym AS (SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e),
        |parts AS (SELECT DISTINCT src AS id FROM sym),
        |reach(id, m) AS (
        |  SELECT id, id FROM parts
        |  UNION
        |  SELECT s.dst, r.m FROM reach r JOIN sym s ON s.src = r.id),
        |comp AS (SELECT id AS doc_id, min(m) AS component FROM reach GROUP BY id),
        |g AS (SELECT d.doc_id, d.source, coalesce(c.component, d.doc_id) AS gk
        |      FROM documents d LEFT JOIN comp c USING (doc_id))
        |SELECT doc_id, source,
        |  CASE WHEN ((gk % 10007) * 4871) % 10007 < 8006 THEN 'train'
        |       WHEN ((gk % 10007) * 4871) % 10007 < 9007 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM g ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        val ids = Tables.documents(spark, sf).select("doc_id")
        val pairs = ids.as("x").join(ids.as("y"),
            col("y.doc_id") === col("x.doc_id") + 1)
          .where(col("x.doc_id") % 6 < 3)
          .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
        graft.llm.Curation.leakageSafeSplit(
            Tables.documents(spark, sf).select("doc_id", "source"), pairs,
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .orderBy("doc_id")
    },

    // Entity-disjoint TEMPORAL split (r13) — the time-axis leakage
    // face: eval must be post-cutoff AND entity-fresh, or per-entity
    // history leaks across the boundary; straddling entities' post-
    // cutoff events land in an explicit dropped_leaky band (audit-
    // visible, never silently filtered). Cutoff 06:00 day one was
    // PROBED tri-scale: all three bands non-empty at every sf (the
    // fixture's time span is fixed at ~30 days; scale adds density).
    // date_trunc('second') both sides — the events ns/µs discipline.
    Q("llm_split_temporal",
      """WITH u AS (
        |  SELECT user_id, min(date_trunc('second', ts)) AS mt
        |  FROM events GROUP BY user_id)
        |SELECT e.event_id, e.user_id,
        |  CASE WHEN date_trunc('second', e.ts) < TIMESTAMP '2024-01-01 06:00:00'
        |         THEN 'train'
        |       WHEN u.mt < TIMESTAMP '2024-01-01 06:00:00'
        |         THEN 'dropped_leaky'
        |       ELSE 'eval' END AS band
        |FROM events e JOIN u USING (user_id)
        |ORDER BY event_id""".stripMargin) { (spark, sf) =>
      graft.llm.Curation.temporalEntitySplit(
          Tables.events(spark, sf).select("event_id", "user_id", "ts"),
          cutoff = "2024-01-01 06:00:00")
        .select("event_id", "user_id", "band")
        .orderBy("event_id")
    },

    // Deterministic train/val/test split: contiguous residue bands over
    // the PRIME-modulus split lattice (10007/4871 — coprime to the
    // mixture/reweight lattice so recipe→split composes), total
    // assignment, no RNG — oracle-gated end-to-end. Cuts are cumulative
    // rounds: round(0.8·10007)=8006, +round(0.1·10007)=9007.
    Q("llm_split",
      """SELECT doc_id, source,
        |  CASE WHEN ((doc_id % 10007) * 4871) % 10007 < 8006 THEN 'train'
        |       WHEN ((doc_id % 10007) * 4871) % 10007 < 9007 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        Sampling.split(
            Tables.documents(spark, sf).select("doc_id", "source"),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .orderBy("doc_id")
    },

    // Target-mixture rebalancing: rates DERIVED from per-stratum counts
    // (largest downsample-only corpus hitting the target proportions),
    // integer feasibility arithmetic on both sides. lang is the stratum —
    // the fixture's lang counts are skewed, so the binding-stratum min and
    // the per-stratum rates are all non-trivial.
    Q("llm_reweight",
      """WITH c AS (
        |  SELECT lang, count(*) AS n,
        |    CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500
        |              WHEN 'zh' THEN 2500 ELSE -1 END AS pbp
        |  FROM documents GROUP BY 1),
        |k AS (SELECT lang, n, pbp FROM c WHERE pbp > 0),
        |t AS (SELECT min(n * 10000 // pbp) AS t FROM k),
        |r AS (SELECT lang, least(10000, pbp * t // n) AS rate FROM k, t)
        |SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
        |WHERE ((d.doc_id % 10000) * 5761) % 10000 < r.rate
        |ORDER BY d.doc_id""".stripMargin) {
      (spark, sf) =>
        Sampling.reweight(
            Tables.documents(spark, sf).select("doc_id", "lang"),
            Map("en" -> 0.5, "de" -> 0.25, "zh" -> 0.25),
            stratumCol = "lang")
          .select("doc_id", "lang")
          .orderBy("doc_id")
    },

    // Token-mass reweighting: the mixture recipe read in TOKENS (the
    // form recipes are written in) — feasibility and rates on per-lang
    // token sums, keep decision the same row lattice.
    Q("llm_reweight_tokens",
      """WITH d AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS BIGINT) AS nt
        |  FROM documents),
        |c AS (
        |  SELECT lang, CAST(sum(nt) AS BIGINT) AS n,
        |    CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500
        |              WHEN 'zh' THEN 2500 ELSE -1 END AS pbp
        |  FROM d GROUP BY 1),
        |k AS (SELECT lang, n, pbp FROM c WHERE pbp > 0),
        |t AS (SELECT min(n * 10000 // pbp) AS t FROM k),
        |r AS (SELECT lang, least(10000, pbp * t // n) AS rate FROM k, t)
        |SELECT d.doc_id, d.lang, d.nt AS n_tokens FROM d JOIN r USING (lang)
        |WHERE ((d.doc_id % 10000) * 5761) % 10000 < r.rate
        |ORDER BY d.doc_id""".stripMargin) {
      (spark, sf) =>
        Sampling.reweightTokens(
            Tables.documents(spark, sf).select("doc_id", "lang", "text"),
            Map("en" -> 0.5, "de" -> 0.25, "zh" -> 0.25),
            stratumCol = "lang")
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), "[ \\t\\n\\x0B\\f\\r]+")).cast("long")
              .as("n_tokens"))
          .orderBy("doc_id")
    },

    // Token-budget sampling: greedy prefix in shuffle-lattice order
    // (the FINE prime modulus — see tokenBudget's scaladoc) until each
    // source's running token sum reaches the budget (600 — every
    // fixture source holds 1.1–1.7k tokens, so the gate discriminates at
    // every scale); the straddling doc is kept (start < budget). Window
    // + integer arithmetic on both sides — oracle-gated end-to-end.
    Q("llm_token_budget",
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_tokens,
        |    ((doc_id % 999999937) * 654435887) % 999999937 AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS strt
        |  FROM t)
        |SELECT doc_id, source, n_tokens FROM c
        |WHERE strt < 600 ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        Sampling.tokenBudget(
            Tables.documents(spark, sf).select("doc_id", "source", "text"),
            budgetTokens = 600L)
          .select("doc_id", "source", "n_tokens")
          .orderBy("doc_id")
    },

    // UniMax epoch-capped mixture (Chung et al. 2023): integer
    // water-filling of a 90%-of-corpus token budget across LANG strata
    // (langs, not sources — source sizes are near-uniform in the
    // fixture, which would leave the exhausted branch vacuous; langs
    // are skewed en≈2.8×, probed tri-scale: 4 strata exhaust, en is
    // water-leveled at every sf), then per-stratum partial-epoch greedy
    // prefix in shuffleHash order. One row per (doc, epoch).
    Q("llm_unimax",
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_tokens,
        |    ((doc_id % 999999937) * 654435887) % 999999937 AS h
        |  FROM documents),
        |s AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS tok FROM t GROUP BY lang),
        |tt AS (
        |  SELECT CAST(sum(tok) * 9000 // 10000 AS BIGINT) AS bdg,
        |    CAST(count(*) AS BIGINT) AS ns
        |  FROM s),
        |r AS (
        |  SELECT lang, tok, tok AS cap,
        |    CAST(row_number() OVER (ORDER BY tok, lang) AS BIGINT) AS i,
        |    coalesce(sum(tok) OVER (ORDER BY tok, lang
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
        |  FROM s),
        |sh AS (
        |  SELECT r.*, (bdg - pre) // (ns - i + 1) AS share,
        |    cap <= (bdg - pre) // (ns - i + 1) AS exh
        |  FROM r, tt),
        |star AS (SELECT coalesce(arg_min(share, i) FILTER (NOT exh), 0) AS st FROM sh),
        |plan AS (
        |  SELECT lang, tok,
        |    CASE WHEN exh THEN cap ELSE st END AS alloc
        |  FROM sh, star),
        |plan2 AS (
        |  SELECT lang,
        |    CASE WHEN tok > 0 THEN alloc // tok ELSE 0 END AS fullep,
        |    alloc - (CASE WHEN tok > 0 THEN alloc // tok ELSE 0 END) * tok AS part
        |  FROM plan),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS strt
        |  FROM t),
        |a AS (
        |  SELECT c.doc_id, c.lang, c.n_tokens,
        |    CAST(p.fullep + (CASE WHEN c.strt < p.part THEN 1 ELSE 0 END) AS BIGINT) AS napp
        |  FROM c JOIN plan2 p USING (lang))
        |SELECT doc_id, lang, n_tokens,
        |  CAST(unnest(range(0, napp)) AS BIGINT) AS epoch
        |FROM a WHERE napp > 0 ORDER BY doc_id, epoch""".stripMargin) {
      (spark, sf) =>
        Sampling.unimax(
            Tables.documents(spark, sf).select("doc_id", "lang", "text"),
            budgetBp = 9000L, maxEpochs = 1, stratumCol = "lang")
          .orderBy("doc_id", "epoch")
    },

    // Token-budget shard packing: running token sum per source (stable
    // doc_id order), shard = start-offset // budget — integer window
    // arithmetic, oracle-gated end-to-end.
    Q("llm_pack_shards",
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS strt
        |  FROM t)
        |SELECT doc_id, source, n_tokens,
        |  CAST(strt // 2048 AS BIGINT) AS shard_id,
        |  CAST(strt - (strt // 2048) * 2048 AS BIGINT) AS offset_in_shard
        |FROM c ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        Packing.packShards(
            Tables.documents(spark, sf).select("doc_id", "source", "text"),
            tokensPerShard = 2048L)
          .select("doc_id", "source", "n_tokens", "shard_id", "offset_in_shard")
          .orderBy("doc_id")
    },

    // Deterministic global corpus shuffle + shard layout: global position
    // under the prime-modulus shuffle lattice (999999937/654435887 — a
    // fine-grained pseudo-permutation, ties on id), 64 rows per shard.
    // The oracle replays the permutation with row_number over the same
    // (hash, id) order — integer arithmetic end-to-end.
    Q("llm_shuffle_shards",
      """WITH h AS (
        |  SELECT doc_id,
        |    ((doc_id % 999999937) * 654435887) % 999999937 AS hh
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY hh, doc_id) - 1 AS pos
        |  FROM h)
        |SELECT doc_id, CAST(pos // 64 AS BIGINT) AS shard_id,
        |  CAST(pos - (pos // 64) * 64 AS BIGINT) AS pos_in_shard
        |FROM p ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        Packing.shuffleShards(
            Tables.documents(spark, sf).select("doc_id"),
            rowsPerShard = 64L)
          .orderBy("doc_id")
    },

    // Length-grouped batching: per-source sort by (token count, id),
    // chop into 16-doc batches, report pad-to-longest waste in
    // round-half-up bp — the dynamic-batching layout stage.
    Q("llm_length_batches",
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS BIGINT) AS nt
        |  FROM documents),
        |b AS (
        |  SELECT source,
        |    (row_number() OVER (PARTITION BY source ORDER BY nt, doc_id) - 1) // 16 AS batch_id,
        |    nt
        |  FROM t),
        |a AS (
        |  SELECT source, CAST(batch_id AS BIGINT) AS batch_id,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(max(nt) AS BIGINT) AS max_tokens,
        |    CAST(sum(nt) AS BIGINT) AS real_tokens
        |  FROM b GROUP BY 1, 2)
        |SELECT source, batch_id, n_docs, max_tokens, real_tokens,
        |  CAST(CASE WHEN max_tokens * n_docs > 0
        |    THEN ((max_tokens * n_docs - real_tokens) * 20000 + max_tokens * n_docs)
        |         // (max_tokens * n_docs * 2)
        |    ELSE 0 END AS BIGINT) AS waste_bp
        |FROM a ORDER BY source, batch_id""".stripMargin) { (spark, sf) =>
      Packing.lengthBatches(
          Tables.documents(spark, sf).select("doc_id", "source", "text"),
          batchSize = 16)
        .orderBy("source", "batch_id")
    },

    // Shard manifest: shuffleShards layout → per-shard doc/token counts,
    // position-contiguity flag and an order-invariant Σ charPolyHash
    // checksum in DECIMAL(38,0) — the release-integrity record a loader
    // re-verifies without reading manifests' neighbors.
    Q("llm_manifest",
      """WITH h AS (
        |  SELECT doc_id, text,
        |    ((doc_id % 999999937) * 654435887) % 999999937 AS hh
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, text, row_number() OVER (ORDER BY hh, doc_id) - 1 AS pos
        |  FROM h),
        |s AS (
        |  SELECT doc_id, text, CAST(pos // 64 AS BIGINT) AS shard_id,
        |    CAST(pos - (pos // 64) * 64 AS BIGINT) AS pis
        |  FROM p),
        |ch AS (
        |  SELECT shard_id, pis,
        |    CAST(len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS BIGINT) AS nt,
        |    CASE WHEN len(text) = 0 THEN 0
        |      ELSE list_reduce(list_transform(string_split(text, ''),
        |             c -> CAST(unicode(c) AS BIGINT)),
        |           (a, b) -> (a * 31 + b) % 2147483647) END AS chash
        |  FROM s)
        |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  CAST(min(pis) AS BIGINT) AS first_pos,
        |  CAST(max(pis) AS BIGINT) AS last_pos,
        |  CAST(CAST(sum(chash) AS DECIMAL(38,0)) AS VARCHAR) AS checksum,
        |  max(pis) - min(pis) + 1 = count(*)
        |    AND count(DISTINCT pis) = count(*) AS contiguous
        |FROM ch GROUP BY shard_id ORDER BY shard_id""".stripMargin) { (spark, sf) =>
      // DECIMAL(38,0) is summable (manifest stays map-side combinable and
      // the streaming face can Σ per-batch checksums), but the driver's
      // comparator can't hash decimal.Decimal objects — serialize the
      // GATED representation to a canonical string on both sides.
      Audit.shardManifest(
          Packing.shuffleShards(
            Tables.documents(spark, sf).select("doc_id", "text"),
            rowsPerShard = 64L))
        .withColumn("checksum", col("checksum").cast("string"))
        .orderBy("shard_id")
    },

    // Per-shard mixture balance over the shuffleShards layout: worst
    // |local share − global share| per shard in round-half-up bp — the
    // local-mixture property interleave guarantees, audited. Strata
    // absent from a shard charge their full global share.
    Q("llm_mix_audit",
      """WITH h AS (
        |  SELECT doc_id, source,
        |    ((doc_id % 999999937) * 654435887) % 999999937 AS hh
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, source, row_number() OVER (ORDER BY hh, doc_id) - 1 AS pos
        |  FROM h),
        |s AS (SELECT doc_id, source, CAST(pos // 64 AS BIGINT) AS shard_id FROM p),
        |cell AS (
        |  SELECT shard_id, source, CAST(count(*) AS BIGINT) AS c
        |  FROM s GROUP BY 1, 2),
        |st AS (SELECT shard_id, CAST(sum(c) AS BIGINT) AS n FROM cell GROUP BY 1),
        |g AS (SELECT source, CAST(sum(c) AS BIGINT) AS gc FROM cell GROUP BY 1),
        |tt AS (SELECT CAST(sum(gc) AS BIGINT) AS t FROM g),
        |gl AS (SELECT source, (gc * 20000 + t) // (2 * t) AS gbp FROM g, tt),
        |m AS (
        |  SELECT st.shard_id, st.n, gl.source, gl.gbp,
        |    coalesce(cell.c, 0) AS c
        |  FROM st CROSS JOIN gl
        |  LEFT JOIN cell ON cell.shard_id = st.shard_id AND cell.source = gl.source)
        |SELECT shard_id, CAST(max(n) AS BIGINT) AS n_docs,
        |  CAST(max(abs((c * 20000 + n) // (2 * n) - gbp)) AS BIGINT) AS max_dev_bp
        |FROM m GROUP BY shard_id ORDER BY shard_id""".stripMargin) {
      (spark, sf) =>
        Audit.mixReport(
            Packing.shuffleShards(
              Tables.documents(spark, sf).select("doc_id", "source"),
              rowsPerShard = 64L))
          .orderBy("shard_id")
    },

    // The SELECTION-tier composite, fully oracle-gated end to end: DSIR
    // (llm_dsir's exact machinery, keep top 40% by distributional fit
    // vs lang='en') → per-source token budget (300 — binds: ~200 kept
    // docs → ~120 budgeted tri-scale) → UniMax water-filling of 140% of
    // the selected tokens across LANG strata at maxEpochs=2 (bbp>10⁴ =
    // deliberate oversampling, PROBED so BOTH branches live at every
    // scale: low-resource langs exhaust at 2 epochs, en is water-leveled
    // with a partial epoch) → global shuffle of the (doc, epoch) slots →
    // 16-row shards. The gated output is the shard MANIFEST — doc/token
    // counts, position range, order-invariant poly-hash checksum — so a
    // drift in ANY stage (weights, cut, budget window, water level,
    // epoch explosion, permutation) shifts a shard checksum loudly. One
    // DuckDB query replays all five stages.
    Q("llm_select_full", {
      def l2(x: String): String =
        s"((length(bin($x)) - 1) * 1024 + (($x) * 1024 // (1::BIGINT << (length(bin($x)) - 1))) - 1024)"
      s"""WITH toks AS (
         |  SELECT doc_id, lang, source, text,
         |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
         |  FROM documents),
         |th AS (
         |  SELECT doc_id, lang, list_transform(tk, t ->
         |      list_reduce(list_transform(string_split(t, ''),
         |          c -> CAST(unicode(c) AS BIGINT)),
         |        (a, b) -> (a * 31 + b) % 2147483647)) AS hs
         |  FROM toks WHERE len(tk) > 0),
         |g AS (
         |  SELECT doc_id, lang,
         |    unnest(range(1, greatest(len(hs) - 1, 1) + 1)) AS pos, hs
         |  FROM th),
         |grams AS (
         |  SELECT doc_id, lang,
         |    list_reduce(hs[pos:least(pos + 1, len(hs))],
         |      (a, b) -> (a * 1000003 + b) % 2147483647) % 64 AS b
         |  FROM g),
         |dist AS (
         |  SELECT b, CAST(count(*) AS BIGINT) AS rc,
         |    CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS tc
         |  FROM grams GROUP BY b),
         |tot AS (
         |  SELECT CAST(sum(rc) AS BIGINT) AS r, CAST(sum(tc) AS BIGINT) AS t,
         |    CAST(count(*) AS BIGINT) AS nb
         |  FROM dist),
         |lw AS (
         |  SELECT b, (${l2("tc + 1")} - ${l2("t + nb")})
         |           - (${l2("rc + 1")} - ${l2("r + nb")}) AS w
         |  FROM dist, tot),
         |sc AS (
         |  SELECT doc_id, CAST(sum(w) AS BIGINT) * 1024 // count(*) AS dsir_score
         |  FROM grams JOIN lw USING (b) GROUP BY doc_id),
         |sq AS (SELECT doc_id, dsir_score // 1024 AS s FROM sc),
         |hist AS (SELECT s, count(*) AS c FROM sq GROUP BY s),
         |cdf AS (SELECT s, sum(c) OVER (ORDER BY s) AS cum FROM hist),
         |n AS (SELECT max(cum) AS n FROM cdf),
         |cut AS (
         |  SELECT min(s) AS cut FROM cdf, n
         |  WHERE cum >= (n * 6000 + 9999) // 10000),
         |keptd AS (
         |  SELECT t.doc_id, t.source, t.lang, t.text
         |  FROM toks t JOIN sq USING (doc_id), cut WHERE sq.s >= cut.cut),
         |tb AS (
         |  SELECT doc_id, source, lang, text,
         |    CAST(len(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS n_tokens,
         |    ((doc_id % 999999937) * 654435887) % 999999937 AS h
         |  FROM keptd),
         |cw AS (
         |  SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS strt
         |  FROM tb),
         |bud AS (SELECT doc_id, lang, text, n_tokens, h FROM cw WHERE strt < 300),
         |s2 AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS tok FROM bud GROUP BY lang),
         |tt2 AS (
         |  SELECT CAST(sum(tok) * 14000 // 10000 AS BIGINT) AS bdg,
         |    CAST(count(*) AS BIGINT) AS ns
         |  FROM s2),
         |r2 AS (
         |  SELECT lang, tok, tok * 2 AS cap,
         |    CAST(row_number() OVER (ORDER BY tok * 2, lang) AS BIGINT) AS i,
         |    coalesce(sum(tok * 2) OVER (ORDER BY tok * 2, lang
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
         |  FROM s2),
         |sh2 AS (
         |  SELECT r2.*, (bdg - pre) // (ns - i + 1) AS share,
         |    cap <= (bdg - pre) // (ns - i + 1) AS exh
         |  FROM r2, tt2),
         |star AS (SELECT coalesce(arg_min(share, i) FILTER (NOT exh), 0) AS st FROM sh2),
         |plan AS (
         |  SELECT lang, tok, CASE WHEN exh THEN cap ELSE st END AS alloc
         |  FROM sh2, star),
         |plan2 AS (
         |  SELECT lang,
         |    CASE WHEN tok > 0 THEN alloc // tok ELSE 0 END AS fullep,
         |    alloc - (CASE WHEN tok > 0 THEN alloc // tok ELSE 0 END) * tok AS part
         |  FROM plan),
         |cb AS (
         |  SELECT doc_id, lang, text, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS strt
         |  FROM bud),
         |a2 AS (
         |  SELECT cb.doc_id, cb.text, cb.n_tokens,
         |    CAST(p.fullep + (CASE WHEN cb.strt < p.part THEN 1 ELSE 0 END) AS BIGINT) AS napp
         |  FROM cb JOIN plan2 p USING (lang)),
         |ep AS (
         |  SELECT doc_id, text, n_tokens,
         |    CAST(unnest(range(0, napp)) AS BIGINT) AS epoch
         |  FROM a2 WHERE napp > 0),
         |rid AS (SELECT *, doc_id * 2 + epoch AS rid FROM ep),
         |hh AS (SELECT *, ((rid % 999999937) * 654435887) % 999999937 AS hh FROM rid),
         |p AS (SELECT *, row_number() OVER (ORDER BY hh, rid) - 1 AS pos FROM hh),
         |shl AS (
         |  SELECT *, CAST(pos // 16 AS BIGINT) AS shard_id,
         |    CAST(pos - (pos // 16) * 16 AS BIGINT) AS pis
         |  FROM p),
         |mh AS (
         |  SELECT shard_id, pis, n_tokens,
         |    CASE WHEN len(text) = 0 THEN 0
         |      ELSE list_reduce(list_transform(string_split(text, ''),
         |             c -> CAST(unicode(c) AS BIGINT)),
         |           (a, b) -> (a * 31 + b) % 2147483647) END AS chash
         |  FROM shl)
         |SELECT shard_id, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(min(pis) AS BIGINT) AS first_pos,
         |  CAST(max(pis) AS BIGINT) AS last_pos,
         |  CAST(CAST(sum(chash) AS DECIMAL(38,0)) AS VARCHAR) AS checksum,
         |  max(pis) - min(pis) + 1 = count(*)
         |    AND count(DISTINCT pis) = count(*) AS contiguous
         |FROM mh GROUP BY shard_id ORDER BY shard_id""".stripMargin
    }) { (spark, sf) =>
      Audit.shardManifest(
          Curation.selectFull(
            Tables.documents(spark, sf).select("doc_id", "source", "lang", "text"),
            isTarget = col("lang") === "en", keepFraction = 0.4,
            budgetTokens = 300L, budgetBp = 14000L, maxEpochs = 2,
            rowsPerShard = 16L))
        .withColumn("checksum", col("checksum").cast("string"))
        .orderBy("shard_id")
    },

    // Z-order (Morton) storage layout: interleave (lang code, token
    // count) bits and range-sort on the interleaved value, so every
    // 64-row shard covers a tight rectangle of (lang, length) space and
    // a reader filtering on EITHER dimension partition-prunes. The
    // DuckDB bit-interleave is GENERATED from Layout.mortonSql's per-bit
    // term list — both engines replay one formula; position/shard
    // arithmetic is llm_shuffle_shards' row_number machinery.
    Q("llm_zorder",
      s"""WITH c AS (
        |  SELECT doc_id,
        |    CASE lang WHEN 'de' THEN 0 WHEN 'en' THEN 1 WHEN 'es' THEN 2
        |              WHEN 'fr' THEN 3 WHEN 'zh' THEN 4 ELSE 5 END AS a,
        |    least(greatest(CAST(len(string_split(text, ' ')) AS BIGINT), 0),
        |          1023) AS b
        |  FROM documents),
        |z AS (SELECT doc_id, ${graft.llm.Layout.mortonSql("a", "b", 10)} AS zv
        |      FROM c),
        |p AS (SELECT doc_id, zv,
        |        row_number() OVER (ORDER BY zv, doc_id) - 1 AS pos
        |      FROM z)
        |SELECT doc_id, CAST(zv AS BIGINT) AS z_value,
        |  CAST(pos // 64 AS BIGINT) AS shard_id,
        |  CAST(pos % 64 AS BIGINT) AS pos_in_shard
        |FROM p ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
        val langCode = when(col("lang") === "de", 0L)
          .when(col("lang") === "en", 1L).when(col("lang") === "es", 2L)
          .when(col("lang") === "fr", 3L).when(col("lang") === "zh", 4L)
          .otherwise(5L)
        val nTok = size(split(col("text"), TextStats.WsRun)).cast("long")
        graft.llm.Layout.zOrder(docs, langCode, nTok, bits = 10,
            rowsPerShard = 64L)
          .select("doc_id", "z_value", "shard_id", "pos_in_shard")
          .orderBy("doc_id")
    },

    // TRAINING-ORDER composite, fully oracle-gated: per-source token
    // budget (600, binds at every scale) → split keep 'train' (0.9 band
    // of the prime lattice, cut round(0.9·10007) = 9006) → 2:1:1
    // interleave of src0-2 (others dropped) → 16-row shards. One DuckDB
    // query replays the budget window, both lattices, the interleave
    // windows and the global position — drift anywhere shifts the
    // layout loudly.
    Q("llm_train_order",
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS BIGINT) AS n_tokens,
        |    ((doc_id % 999999937) * 654435887) % 999999937 AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens, h,
        |    sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS strt
        |  FROM t),
        |b AS (SELECT doc_id, source, n_tokens, h FROM c WHERE strt < 600),
        |s AS (SELECT * FROM b
        |  WHERE ((doc_id % 10007) * 4871) % 10007 < 9006
        |    AND source IN ('src0', 'src1', 'src2')),
        |r AS (
        |  SELECT doc_id, source, n_tokens,
        |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) - 1 AS r,
        |    CASE source WHEN 'src0' THEN 2 ELSE 1 END AS w,
        |    CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 1 ELSE 2 END AS p
        |  FROM s)
        |SELECT doc_id, source, n_tokens, pos AS interleave_pos,
        |  CAST(pos // 16 AS BIGINT) AS shard_id,
        |  CAST(pos - (pos // 16) * 16 AS BIGINT) AS pos_in_shard
        |FROM (SELECT doc_id, source, n_tokens,
        |    row_number() OVER (ORDER BY r // w, p, r % w) - 1 AS pos
        |  FROM r)
        |ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        Curation.trainOrder(
            Tables.documents(spark, sf).select("doc_id", "source", "text"),
            budgetTokens = 600L,
            splits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05),
            keepSplit = "train",
            weights = Map("src0" -> 2, "src1" -> 1, "src2" -> 1),
            rowsPerShard = 16L)
          .orderBy("doc_id")
    },

    // Weighted round-robin interleaving: src0 at weight 2 against src1/
    // src2 at 1 — every 4-slot cycle reads src0, src0, src1, src2 until
    // a source exhausts; unlisted sources dropped. The oracle replays
    // the per-source rank windows and the (cycle, source, slot) sort.
    Q("llm_interleave",
      """WITH d AS (
        |  SELECT doc_id, source,
        |    ((doc_id % 999999937) * 654435887) % 999999937 AS h
        |  FROM documents WHERE source IN ('src0', 'src1', 'src2')),
        |r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) - 1 AS r,
        |    CASE source WHEN 'src0' THEN 2 ELSE 1 END AS w,
        |    CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 1 ELSE 2 END AS p
        |  FROM d),
        |k AS (SELECT doc_id, source, r // w AS c, p, r % w AS o FROM r)
        |SELECT doc_id, source,
        |  row_number() OVER (ORDER BY c, p, o) - 1 AS interleave_pos
        |FROM k ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        Packing.interleave(
            Tables.documents(spark, sf).select("doc_id", "source"),
            Map("src0" -> 2, "src1" -> 1, "src2" -> 1))
          .select("doc_id", "source", "interleave_pos")
          .orderBy("doc_id")
    },

    // Epoch re-shuffle: epoch 1's multiplier is M^2 mod P = 175517260 —
    // a DIFFERENT deterministic permutation of the same corpus, laid out
    // with the same shard arithmetic; the oracle replays it from the
    // literal multiplier (driver-side modPow, per-row one multiply+mod).
    Q("llm_shuffle_epoch",
      """WITH h AS (
        |  SELECT doc_id,
        |    ((doc_id % 999999937) * 175517260) % 999999937 AS hh
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY hh, doc_id) - 1 AS pos
        |  FROM h)
        |SELECT doc_id, CAST(pos // 64 AS BIGINT) AS shard_id,
        |  CAST(pos - (pos // 64) * 64 AS BIGINT) AS pos_in_shard
        |FROM p ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        Packing.shuffleShards(
            Tables.documents(spark, sf).select("doc_id"),
            rowsPerShard = 64L, epoch = 1)
          .orderBy("doc_id")
    },

    // BPE merge TRAINING (the learn side of llm_bpe_count's apply side):
    // word-frequency table → numMerges rounds of most-frequent-pair
    // merge, driver-side over the bounded vocab. Oracle-gated since r12:
    // the stateful iteration replays as a recursive CTE whose entire
    // state (every word's segmentation) rides in ONE row — a list of
    // sep-wrapped strings ("␟s␟y␟m␟"). The per-word merge is a
    // SYMBOL-WISE list_reduce fold reproducing bpeTrain's greedy i+=2
    // scan exactly (r13, closing the r12 ADVICE defect): the r12
    // `replace('␟l␟r␟' → '␟lr␟')` consumed the shared delimiter and so
    // SKIPPED the second of two contiguous disjoint sites ('abab' →
    // [ab,a,b] instead of [ab,ab]); replace-until-fixpoint is wrong the
    // other way ('aaaaaa' → [aa,a,aa,a] vs [aa,aa,aa]). The fold's
    // state is the rebuilt sep-wrapped prefix: append x, except when x=r
    // and the prefix ends with '␟l␟' — then rewrite that tail to '␟lr␟'.
    // That IS the greedy scan because a just-merged symbol can never
    // match as l again (l||r = l would need r empty), and the delimiter
    // guard means suffix symbols like 'xl' never false-match '␟l␟'.
    // Divergence + fix both verified empirically; llm_bpe_train_redup
    // below plants the pathological corpus so the gate exercises this
    // path at every scale, not just if the fixture happens to.
    // The per-round argmax with the scala tiebreak sortBy(-c, l, r) is
    // list_max over the distinct pair keys then list_min over the tied
    // keys: pairs encode as 'l' || chr(30) || 'r', and with chr(30)
    // below every non-whitespace char, string-min = (l, r) tuple-min.
    // Char split parity (scala UTF-16 chars vs DuckDB codepoints) holds
    // because the fixture vocabulary is pure ASCII (probed tri-scale).
    // Driver-side iteration count = 16 ⇒ the CTE recurses 16 rounds.
    Q("llm_bpe_train", bpeTrainOracle("documents", 16)) { (spark, sf) =>
      TextStats.bpeTrain(Tables.documents(spark, sf), numMerges = 16)
        .orderBy("rank")
    },

    // The pathological-corpus gate for the merge rule itself (r13): the
    // real fixture happens not to exercise contiguous l·r·l·r repeats,
    // so llm_bpe_train alone would stay green under a merge-step bug
    // (the r12 ADVICE defect). This query trains on `bpeRedupPlant` —
    // planted IN-QUERY on both sides per the repo's oracle-planting
    // rule — where reduplication merges WIN rounds 2/3/4/7, so any
    // future drift between the Spark greedy scan and the oracle fold
    // hash-fails immediately at every scale.
    Q("llm_bpe_train_redup",
      bpeTrainOracle(
        "(SELECT array_to_string([w for _ in range(n)], ' ') AS text " +
          "FROM (VALUES " +
          bpeRedupPlant.map { case (w, n) => s"('$w', $n)" }.mkString(", ") +
          ") AS plant(w, n))",
        8)) { (spark, _) =>
      import spark.implicits._
      val docs = bpeRedupPlant.toDF("w", "n")
        .select(array_join(array_repeat(col("w"), col("n")), " ").as("text"))
      TextStats.bpeTrain(docs, numMerges = 8).orderBy("rank")
    },

    // Deterministic subword (BPE-faithful) token counting: greedy
    // longest-match over the planted vocab — the kernel's direct gate.
    // The oracle replays greedy matching as a recursive CTE (one step
    // per emitted token); ws_tokens rides along so the "whitespace
    // under-counts real budgets" gap is visible in the result itself.
    Q("llm_bpe_count",
      s"""WITH RECURSIVE
         |$bpeCountCtes
         |SELECT d.doc_id,
         |  CAST(len(regexp_split_to_array(d.text, '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS ws_tokens,
         |  b.bpe_tokens
         |FROM documents d JOIN __bpe b USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (spark, sf) =>
      Tables.documents(spark, sf).select(col("doc_id"),
          size(split(col("text"), TextStats.WsRun)).cast("long").as("ws_tokens"),
          TextStats.bpeTokenCount(col("text"), bpeVocab).as("bpe_tokens"))
        .orderBy("doc_id")
    },

    // Per-language tokenizer-fertility audit (Ács 2019 class): subword
    // tokens per 10⁴ chars / per 10³ words by lang under the planted
    // vocab — the report that surfaces which scripts a vocabulary
    // shortchanges BEFORE a training run prices languages by it. The
    // fixture corpus is ASCII in every lang (probed: per-lang fertility
    // lands near-uniform ~2500/4550 fp), so the CJK single-char-fallback
    // premium is pinned by TextStatsSpec's mixed-script fixture; THIS
    // gate pins the rollup arithmetic tri-scale. Oracle composes the
    // llm_bpe_count recursion with a lang join + per-lang
    // integral-ratio rollup; fragments CONCATENATED, never re-stripped
    // (the r13 stripMargin rule).
    Q("llm_tok_fertility",
      "WITH RECURSIVE\n" + bpeCountCtes + ",\n" +
        """d AS (SELECT doc_id, lang, length(text) AS chars,
          |  len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS ws
          |  FROM documents),
          |j AS (SELECT d.lang, d.chars, d.ws, b.bpe_tokens
          |      FROM d JOIN __bpe b USING (doc_id)),
          |g AS (SELECT lang, count(*) AS docs,
          |        CAST(sum(chars) AS BIGINT) AS chars,
          |        CAST(sum(ws) AS BIGINT) AS ws_tokens,
          |        CAST(sum(bpe_tokens) AS BIGINT) AS bpe_tokens
          |      FROM j GROUP BY lang)
          |SELECT lang, docs, chars, ws_tokens, bpe_tokens,
          |  CAST((bpe_tokens * 10000) // chars AS BIGINT) AS fert_char_fp,
          |  CAST((bpe_tokens * 1000) // ws_tokens AS BIGINT) AS fert_word_fp
          |FROM g ORDER BY lang""".stripMargin) { (spark, sf) =>
      TextStats.tokenizerFertility(Tables.documents(spark, sf), bpeVocab)
        .orderBy("lang")
    },

    // The END-TO-END tokenizer pipeline (r13): train merges on the FULL
    // corpus (llm_bpe_train's replay), score each learned piece
    // unigram-LM style — l2(pair_count + 1), frequent merges score high
    // — and Viterbi-decode documents under those scores (maximize
    // summed score, ties to fewest pieces). One oracle gates all three
    // stages composed: a drift anywhere (a merge, a weight, a DP
    // transition) shifts some document's (pieces, score_fp). The DP
    // state rides as ONE encoded list per word — enc = score·2²⁰ +
    // (2²⁰−1−pieces), monotone in the (score, −pieces) order and linear
    // under piece-append, so `greatest` over candidates IS the Viterbi
    // argmax (words are < 2²⁰ chars by construction). docCap bounds the
    // decode recursion; training reads every document, same as
    // llm_bpe_train.
    Q("llm_bpe_unigram", {
      def l2(x: String): String =
        s"((length(bin($x)) - 1) * 1024 + (($x) * 1024 // (1::BIGINT << (length(bin($x)) - 1))) - 1024)"
      "WITH RECURSIVE\n" + bpeTrainCtes("documents", 16) + ",\n" +
      s"""wv AS (SELECT l || r AS tok, ${l2("max(cnt) + 1")} AS wt
         |       FROM steps WHERE step >= 1 GROUP BY l || r),
         |__dws AS (SELECT doc_id,
         |    regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+') AS toks
         |  FROM documents WHERE doc_id < $docCap),
         |__dwords AS (SELECT doc_id, unnest(range(1, len(toks) + 1)) AS widx, toks
         |             FROM __dws),
         |__dw2 AS (SELECT doc_id, widx, toks[widx] AS word FROM __dwords),
         |__us AS (
         |  SELECT doc_id, widx, word, [CAST(1048575 AS BIGINT)] AS encs,
         |    CAST(1 AS BIGINT) AS pos
         |  FROM __dw2
         |  UNION ALL
         |  SELECT doc_id, widx, word,
         |    encs || [greatest(
         |      encs[CAST(pos AS INT)] - 1,
         |      coalesce((SELECT max(encs[CAST(pos - length(v.tok) + 1 AS INT)]
         |                           + v.wt * 1048576 - 1)
         |                FROM wv v WHERE length(v.tok) <= pos
         |                  AND substr(word, CAST(pos - length(v.tok) + 1 AS INT),
         |                             length(v.tok)) = v.tok),
         |        CAST(-4611686018427387904 AS BIGINT)))],
         |    pos + 1
         |  FROM __us WHERE pos <= length(word)),
         |__ud AS (SELECT doc_id, widx, encs[CAST(length(word) + 1 AS INT)] AS enc
         |         FROM __us WHERE pos = length(word) + 1),
         |__uagg AS (SELECT doc_id,
         |    CAST(sum(1048575 - (enc % 1048576)) AS BIGINT) AS pieces,
         |    CAST(sum(enc // 1048576) AS BIGINT) AS score_fp
         |  FROM __ud GROUP BY doc_id)
         |SELECT doc_id, pieces, score_fp FROM __uagg
         |ORDER BY doc_id""".stripMargin
    }) { (spark, sf) =>
      val docs = Tables.documents(spark, sf)
      val weighted = TextStats.unigramWeights(
        TextStats.bpeTrain(docs, numMerges = 16))
      docs.where(col("doc_id") < docCap)
        .select(col("doc_id"),
          TextStats.unigramSegment(col("text"), weighted).as("__u"))
        .select(col("doc_id"),
          col("__u.pieces").as("pieces"),
          col("__u.score").as("score_fp"))
        .orderBy("doc_id")
    },

    // Optimal vs greedy segmentation (r13): the Viterbi DP computes the
    // MINIMUM-piece segmentation under the same planted vocab (the
    // SentencePiece-inference face of the subword family); the gap to
    // greedy longest-match is the over-segmentation every downstream
    // token budget silently inflates by. Both counts in one result so
    // the oracle hash pins the pair; docCap bounds the per-character
    // DP recursion on the DuckDB side (the pairwise-op discipline).
    Q("llm_bpe_viterbi",
      s"""WITH RECURSIVE
         |${bpeCountCtesFor(s"(SELECT * FROM documents WHERE doc_id < $docCap)")},
         |$bpeViterbiCtes
         |SELECT b.doc_id, b.bpe_tokens, v.viterbi_tokens
         |FROM __bpe b JOIN __vit v USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (spark, sf) =>
      Tables.documents(spark, sf).where(col("doc_id") < docCap)
        .select(col("doc_id"),
          TextStats.bpeTokenCount(col("text"), bpeVocab).as("bpe_tokens"),
          TextStats.viterbiTokenCount(col("text"), bpeVocab).as("viterbi_tokens"))
        .orderBy("doc_id")
    },

    // Shard packing under SUBWORD budgets: same window arithmetic as
    // llm_pack_shards, but n_tokens comes from the BPE kernel — the
    // composition gate for tokenCount-parameterized budgets (any count
    // error shifts every downstream running sum, so shard ids mismatch
    // loudly).
    Q("llm_pack_shards_bpe",
      s"""WITH RECURSIVE
         |$bpeCountCtes,
         |t AS (
         |  SELECT d.doc_id, d.source, b.bpe_tokens AS n_tokens
         |  FROM documents d JOIN __bpe b USING (doc_id)),
         |c AS (
         |  SELECT doc_id, source, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS strt
         |  FROM t)
         |SELECT doc_id, source, n_tokens,
         |  CAST(strt // 1024 AS BIGINT) AS shard_id,
         |  CAST(strt - (strt // 1024) * 1024 AS BIGINT) AS offset_in_shard
         |FROM c ORDER BY doc_id""".stripMargin) { (spark, sf) =>
      Packing.packShards(
          Tables.documents(spark, sf).select("doc_id", "source", "text"),
          tokensPerShard = 1024L,
          tokenCount = Some(TextStats.bpeTokenCount(col("text"), bpeVocab)))
        .select("doc_id", "source", "n_tokens", "shard_id", "offset_in_shard")
        .orderBy("doc_id")
    },

    // Context-length chunking: 16-token windows, 4-token overlap —
    // sequence→explode→slice, integer 1-based-inclusive slicing on both
    // sides, oracle-gated end-to-end.
    Q("llm_chunk",
      """WITH t AS (
        |  SELECT doc_id, regexp_split_to_array(text, '[ \t\n\x0B\f\r]+') AS toks,
        |    CAST(len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS BIGINT) AS nt
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks,
        |    greatest(1, (nt - 4 + 11) // 12) AS nc
        |  FROM t),
        |e AS (
        |  SELECT doc_id, toks, unnest(range(nc)) AS chunk_id FROM c)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  array_to_string(toks[chunk_id * 12 + 1 : chunk_id * 12 + 16], ' ') AS chunk_text,
        |  CAST(len(toks[chunk_id * 12 + 1 : chunk_id * 12 + 16]) AS BIGINT) AS n_tokens
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin) {
      (spark, sf) =>
        graft.llm.Chunking.chunk(Tables.documents(spark, sf),
            chunkTokens = 16, overlap = 4)
          .orderBy("doc_id", "chunk_id")
    },

    // True sequence packing: per-source concatenation sliced into exact
    // 256-token blocks, straddling documents split across blocks — window
    // prefix sum + block-range explode + sorted reassembly, integer/list
    // arithmetic both sides, oracle-gated end-to-end.
    Q("llm_pack_sequences",
      """WITH t AS (
        |  SELECT doc_id, source,
        |    regexp_split_to_array(text, '[ \t\n\x0B\f\r]+') AS toks,
        |    CAST(len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS BIGINT) AS nt
        |  FROM documents),
        |laid AS (
        |  SELECT doc_id, source, toks, nt,
        |    CAST(sum(nt) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt AS BIGINT) AS strt
        |  FROM t),
        |e AS (
        |  SELECT source, toks, nt, strt,
        |    unnest(generate_series(strt // 256, (strt + nt - 1) // 256)) AS block_id
        |  FROM laid),
        |pieces AS (
        |  SELECT source, block_id, strt,
        |    toks[(greatest(block_id * 256, strt) - strt + 1) :
        |         (least((block_id + 1) * 256, strt + nt) - strt)] AS piece
        |  FROM e),
        |blocks AS (
        |  SELECT source, block_id, flatten(list(piece ORDER BY strt)) AS ftoks
        |  FROM pieces GROUP BY 1, 2)
        |SELECT source, CAST(block_id AS BIGINT) AS block_id,
        |  array_to_string(ftoks, ' ') AS block_text,
        |  CAST(len(ftoks) AS BIGINT) AS n_tokens
        |FROM blocks ORDER BY source, block_id""".stripMargin) {
      (spark, sf) =>
        Packing.packSequences(
            Tables.documents(spark, sf).select("doc_id", "source", "text"),
            blockTokens = 256L)
          .orderBy("source", "block_id")
    },

    // Loss-mask span metadata for the packed layout above — same window
    // arithmetic, one row per (block, doc piece), no reassembly shuffle.
    // Same 256-token blocks as llm_pack_sequences, so straddling docs
    // produce multi-block span chains at every scale; the SpanSpec
    // parity test pins the two layouts to each other bit-for-bit.
    Q("llm_pack_spans",
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS BIGINT) AS nt
        |  FROM documents),
        |laid AS (
        |  SELECT doc_id, source, nt,
        |    CAST(sum(nt) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt AS BIGINT) AS strt
        |  FROM t WHERE nt > 0),
        |e AS (
        |  SELECT source, doc_id, nt, strt,
        |    unnest(generate_series(strt // 256, (strt + nt - 1) // 256)) AS block_id
        |  FROM laid)
        |SELECT source, CAST(block_id AS BIGINT) AS block_id, doc_id,
        |  CAST(greatest(block_id * 256, strt) - block_id * 256 AS BIGINT)
        |    AS span_start,
        |  CAST(least((block_id + 1) * 256, strt + nt)
        |    - greatest(block_id * 256, strt) AS BIGINT) AS span_len
        |FROM e ORDER BY source, block_id, span_start""".stripMargin) {
      (spark, sf) =>
        Packing.packSpans(
            Tables.documents(spark, sf).select("doc_id", "source", "text"),
            blockTokens = 256L)
          .orderBy("source", "block_id", "span_start")
    },

    // Perplexity-style LM quality filter (the CCNet/KenLM stage): the
    // n-gram model is DATA — integer centi-log-prob tables planted
    // identically on both sides — so scoring is lookup + addition and
    // the keep gate is integer arithmetic (threshold −2400/transition ≈
    // the corpus median: the gate splits ~50/50, maximally
    // discriminating). Spark scores in ONE kernel projection; the oracle
    // replays it as explode + two LEFT JOINs + the backoff coalesce.
    Q("llm_lm_score", {
      val uv = lmUnigrams.map { case (w, s) => s"('$w', $s)" }.mkString(", ")
      val bv = lmBigrams.map { case (a, b, s) => s"('$a', '$b', $s)" }.mkString(", ")
      s"""WITH uni(w, s) AS (VALUES $uv),
         |big(w1, w2, s) AS (VALUES $bv),
         |t AS (
         |  SELECT doc_id, regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+') AS toks,
         |    CAST(len(regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+')) AS BIGINT) AS nt
         |  FROM documents),
         |tr AS (SELECT doc_id, unnest(range(2, nt + 1)) AS i, toks FROM t),
         |p AS (SELECT doc_id, toks[i-1] AS w1, toks[i] AS w2 FROM tr),
         |sc AS (
         |  SELECT p.doc_id, coalesce(b.s, u.s + (-450), -3200) AS s
         |  FROM p LEFT JOIN big b ON b.w1 = p.w1 AND b.w2 = p.w2
         |         LEFT JOIN uni u ON u.w = p.w2),
         |agg AS (
         |  SELECT doc_id, CAST(sum(s) AS BIGINT) AS lm_score,
         |         CAST(count(*) AS BIGINT) AS n_trans
         |  FROM sc GROUP BY doc_id)
         |SELECT t.doc_id, coalesce(a.lm_score, 0) AS lm_score,
         |  coalesce(a.n_trans, 0) AS n_trans,
         |  coalesce(a.lm_score, 0) >= coalesce(a.n_trans, 0) * (-2400) AS keep
         |FROM t LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin
    }) { (spark, sf) =>
      TextStats.lmScore(Tables.documents(spark, sf),
          TextStats.LmModel(lmUnigrams, lmBigrams,
            backoffPenalty = -450L, oovPenalty = -3200L),
          minPerTransition = -2400L)
        .orderBy("doc_id")
    },

    // CCNet per-LANGUAGE perplexity terciles (Wenzek et al. 2020): the
    // head/middle/tail bucketing the CCNet pipeline keys its
    // keep-head-and-middle policy on. Per-lang cuts are the semantics
    // (a global cut ranks LANGUAGES by LM coverage, not documents);
    // quantum=1024 bounds the histogram domain (the dsir discipline).
    // Probed tri-scale before planting: ppl_ct is 71-190 distinct
    // values per lang at sf0.001 (near-continuous — no point-mass
    // vacuity), so every lang splits ~n/3 per bucket up to quantum-tie
    // mass. Scoring replays llm_lm_score's join CTEs; the kernel/SQL
    // scoring parity is already pinned there.
    Q("llm_ccnet_buckets", {
      val uv = lmUnigrams.map { case (w, s) => s"('$w', $s)" }.mkString(", ")
      val bv = lmBigrams.map { case (a, b, s) => s"('$a', '$b', $s)" }.mkString(", ")
      s"""WITH uni(w, s) AS (VALUES $uv),
         |big(w1, w2, s) AS (VALUES $bv),
         |t AS (
         |  SELECT doc_id, lang,
         |    regexp_split_to_array(text, '[ \\t\\n\\x0B\\f\\r]+') AS toks
         |  FROM documents),
         |t2 AS (SELECT doc_id, lang, toks, len(toks) AS nt FROM t WHERE len(toks) >= 2),
         |tr AS (SELECT doc_id, lang, unnest(range(2, nt + 1)) AS i, toks FROM t2),
         |p AS (SELECT doc_id, lang, toks[i-1] AS w1, toks[i] AS w2 FROM tr),
         |sc AS (
         |  SELECT p.doc_id, p.lang, coalesce(b.s, u.s + (-450), -3200) AS s
         |  FROM p LEFT JOIN big b ON b.w1 = p.w1 AND b.w2 = p.w2
         |         LEFT JOIN uni u ON u.w = p.w2),
         |agg AS (
         |  SELECT doc_id, lang, CAST(sum(s) AS BIGINT) AS lm,
         |         CAST(count(*) AS BIGINT) AS n
         |  FROM sc GROUP BY doc_id, lang),
         |ppl AS (
         |  SELECT doc_id, lang, CAST((lm * -1000) // n AS BIGINT) AS ppl_ct,
         |         CAST(((lm * -1000) // n) // 1024 AS BIGINT) AS pq
         |  FROM agg),
         |hist AS (SELECT lang, pq, count(*) AS c FROM ppl GROUP BY lang, pq),
         |cdf AS (
         |  SELECT lang, pq, sum(c) OVER (PARTITION BY lang ORDER BY pq
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM hist),
         |tot AS (SELECT lang, max(cum) AS total FROM cdf GROUP BY lang),
         |cuts AS (
         |  SELECT cdf.lang,
         |    CAST(min(CASE WHEN cum >= (total + 2) // 3 THEN pq END) AS BIGINT) AS c1,
         |    CAST(min(CASE WHEN cum >= (total * 2 + 2) // 3 THEN pq END) AS BIGINT) AS c2
         |  FROM cdf JOIN tot ON cdf.lang = tot.lang GROUP BY cdf.lang)
         |SELECT ppl.doc_id, ppl.lang, ppl.ppl_ct,
         |  CASE WHEN pq <= c1 THEN 'head' WHEN pq <= c2 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM ppl JOIN cuts ON ppl.lang = cuts.lang
         |ORDER BY doc_id""".stripMargin
    }) { (spark, sf) =>
      TextStats.pplBuckets(Tables.documents(spark, sf),
          TextStats.LmModel(lmUnigrams, lmBigrams,
            backoffPenalty = -450L, oovPenalty = -3200L))
        .orderBy("doc_id")
    },

    // DSIR importance resampling (Xie et al. 2023): hashed-bigram
    // distributions (64 buckets, the winnowing hash chain mod 64), raw
    // vs target = lang='en', add-one-smoothed fixed-point log2 ratio
    // weights (1/1024-bit units, l2(x) = (len(bin(x))−1)·1024 +
    // x·1024 // 2^msb − 1024 — pure integer both engines), per-doc
    // length-normalized score, keep the top 40 % via the quantized
    // score-histogram percentile cut (ties land high). Probed tri-scale
    // before planting: 488–4283 distinct scores, corr(score, length)≈0,
    // en-docs rank visibly higher at sf0.001/sf0.01.
    Q("llm_dsir", {
      def l2(x: String): String =
        s"((length(bin($x)) - 1) * 1024 + (($x) * 1024 // (1::BIGINT << (length(bin($x)) - 1))) - 1024)"
      s"""WITH toks AS (
         |  SELECT doc_id, lang,
         |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS tk
         |  FROM documents),
         |th AS (
         |  SELECT doc_id, lang, list_transform(tk, t ->
         |      list_reduce(list_transform(string_split(t, ''),
         |          c -> CAST(unicode(c) AS BIGINT)),
         |        (a, b) -> (a * 31 + b) % 2147483647)) AS hs
         |  FROM toks WHERE len(tk) > 0),
         |g AS (
         |  SELECT doc_id, lang,
         |    unnest(range(1, greatest(len(hs) - 1, 1) + 1)) AS pos, hs
         |  FROM th),
         |grams AS (
         |  SELECT doc_id, lang,
         |    list_reduce(hs[pos:least(pos + 1, len(hs))],
         |      (a, b) -> (a * 1000003 + b) % 2147483647) % 64 AS b
         |  FROM g),
         |dist AS (
         |  SELECT b, CAST(count(*) AS BIGINT) AS rc,
         |    CAST(count(*) FILTER (lang = 'en') AS BIGINT) AS tc
         |  FROM grams GROUP BY b),
         |tot AS (
         |  SELECT CAST(sum(rc) AS BIGINT) AS r, CAST(sum(tc) AS BIGINT) AS t,
         |    CAST(count(*) AS BIGINT) AS nb
         |  FROM dist),
         |lw AS (
         |  SELECT b, (${l2("tc + 1")} - ${l2("t + nb")})
         |           - (${l2("rc + 1")} - ${l2("r + nb")}) AS w
         |  FROM dist, tot),
         |sc AS (
         |  SELECT doc_id, CAST(sum(w) AS BIGINT) * 1024 // count(*) AS dsir_score
         |  FROM grams JOIN lw USING (b) GROUP BY doc_id),
         |sq AS (SELECT doc_id, dsir_score, dsir_score // 1024 AS s FROM sc),
         |hist AS (SELECT s, count(*) AS c FROM sq GROUP BY s),
         |cdf AS (SELECT s, sum(c) OVER (ORDER BY s) AS cum FROM hist),
         |n AS (SELECT max(cum) AS n FROM cdf),
         |cut AS (
         |  SELECT min(s) AS cut FROM cdf, n
         |  WHERE cum >= (n * 6000 + 9999) // 10000)
         |SELECT doc_id, dsir_score FROM sq, cut
         |WHERE s >= cut ORDER BY doc_id""".stripMargin
    }) { (spark, sf) =>
      TextStats.dsir(Tables.documents(spark, sf),
          isTarget = col("lang") === "en", keepFraction = 0.4,
          k = 2, buckets = 64, quantum = 1024L)
        .orderBy("doc_id")
    },

    // End-to-end corpus ASSEMBLY, fully oracle-gated: exact dedup →
    // quality gate → train split → lang-mixture reweight → true sequence
    // packing, ONE DuckDB query replaying the dedup election, the gate's
    // integer-bp arithmetic, both lattices, the feasibility scan and the
    // block layout. llm_curate_full can't have this gate (minhash isn't
    // SQL-expressible); this composite is the tier's end-to-end check —
    // drift in ANY stage shifts every packed block downstream.
    Q("llm_assemble",
      """WITH dd AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |base AS (SELECT d.* FROM documents d JOIN dd USING (doc_id)),
        |c0 AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |    CAST(len(list_filter(string_split(text, ' '),
        |      t -> list_contains(['the', 'a', 'fast', 'slow'], t))) AS BIGINT) AS ns,
        |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS nd
        |  FROM base),
        |q AS (
        |  SELECT doc_id,
        |    ((((20000 * nd + nt) // (2 * nt)) *
        |      (10000 - ((20000 * ns + nt) // (2 * nt))) * 2 + 10000) // 20000) AS q_bp
        |  FROM c0),
        |gated AS (
        |  SELECT b.doc_id, b.lang, b.text FROM base b JOIN q USING (doc_id)
        |  WHERE q.q_bp >= 3000),
        |kept AS (SELECT * FROM gated WHERE ((doc_id % 10007) * 4871) % 10007 < 8006),
        |cnt AS (
        |  SELECT lang, count(*) AS n,
        |    CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2000
        |              WHEN 'zh' THEN 3000 ELSE -1 END AS pbp
        |  FROM kept GROUP BY 1),
        |k AS (SELECT * FROM cnt WHERE pbp > 0),
        |tt AS (SELECT min(n * 10000 // pbp) AS t FROM k),
        |r AS (SELECT lang, least(10000, pbp * t // n) AS rate FROM k, tt),
        |bal AS (
        |  SELECT g.doc_id, g.lang, g.text FROM kept g JOIN r USING (lang)
        |  WHERE ((g.doc_id % 10000) * 5761) % 10000 < r.rate),
        |toks AS (
        |  SELECT doc_id, lang,
        |    regexp_split_to_array(text, '[ \t\n\x0B\f\r]+') AS toks,
        |    CAST(len(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+')) AS BIGINT) AS nt
        |  FROM bal),
        |laid AS (
        |  SELECT doc_id, lang, toks, nt,
        |    CAST(sum(nt) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt AS BIGINT) AS strt
        |  FROM toks),
        |e AS (
        |  SELECT lang, toks, nt, strt,
        |    unnest(generate_series(strt // 128, (strt + nt - 1) // 128)) AS block_id
        |  FROM laid),
        |pieces AS (
        |  SELECT lang, block_id, strt,
        |    toks[(greatest(block_id * 128, strt) - strt + 1) :
        |         (least((block_id + 1) * 128, strt + nt) - strt)] AS piece
        |  FROM e),
        |blocks AS (
        |  SELECT lang, block_id, flatten(list(piece ORDER BY strt)) AS ftoks
        |  FROM pieces GROUP BY 1, 2)
        |SELECT lang, CAST(block_id AS BIGINT) AS block_id,
        |  array_to_string(ftoks, ' ') AS block_text,
        |  CAST(len(ftoks) AS BIGINT) AS n_tokens
        |FROM blocks ORDER BY lang, block_id""".stripMargin) { (spark, sf) =>
      // materializeKept: the declared face runs the corpus-scale mode —
      // one explicit lazy checkpoint of the kept-split survivors feeds
      // reweight's feasibility scan AND the pack stage, so the dedup
      // self-join derives once per action (executed corpus scans 6 → 2,
      // ScanBudgets.executedPerQuery; the library default stays uncut).
      Curation.assemble(
          Tables.documents(spark, sf).select("doc_id", "lang", "text"),
          minQuality = 0.3,
          splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          keepSplit = "train",
          mixture = Map("en" -> 0.5, "de" -> 0.2, "zh" -> 0.3),
          blockTokens = 128L,
          materializeKept = true)
        .orderBy("lang", "block_id")
    },

    // Seeded hash-Bernoulli sample, CONTENT-keyed — the keep decision is
    // the seeded affine map over charPolyHash(text) (seed 42 → a=87,
    // b=217), so exact duplicates sample identically across id
    // reassignment AND the whole decision replays in SQL. Keep rate
    // probed 0.50–0.55 tri-scale at fraction 0.5. The id-keyed xxhash64
    // face (Sampling.bernoulli) stays spec-covered in SamplingSpec.
    Q("llm_sample_bernoulli",
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN len(text) = 0 THEN 0
        |      ELSE list_reduce(list_transform(string_split(text, ''),
        |             c -> CAST(unicode(c) AS BIGINT)),
        |           (a, b) -> (a * 31 + b) % 2147483647) END AS h
        |  FROM documents)
        |SELECT doc_id, lang FROM h
        |WHERE ((87 * h + 217) % 2147483647) % 1000000 < 500000
        |ORDER BY doc_id""".stripMargin) { (spark, sf) =>
      Sampling.bernoulliContent(
          Tables.documents(spark, sf).select("doc_id", "lang", "text"),
          fraction = 0.5)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },

    // The composite curation pass — dedup → quality/lang filter → modality
    // join → per-source stats — in ONE Catalyst plan (graft.llm.Curation).
    Q("llm_curate", {
      val nTok = "CAST(len(string_split(text, ' ')) AS BIGINT)"
      val nStop = "CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['the','a','fast','slow'], t))) AS BIGINT)"
      val nDist = "CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)"
      s"""WITH keep AS (
         |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
         |cnt AS (
         |  SELECT d.doc_id, d.lang, d.source, $nTok AS nt, $nStop AS ns, $nDist AS nd
         |  FROM documents d JOIN keep USING (doc_id)),
         |scored AS (
         |  SELECT doc_id, lang, source, nt AS n_tokens,
         |    ((((20000 * nd + nt) // (2 * nt))
         |      * (10000 - ((20000 * ns + nt) // (2 * nt))) * 2 + 10000) // 20000)
         |      / 10000.0 AS quality
         |  FROM cnt)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(CAST(quality AS DECIMAL(18,4))) AS DOUBLE) AS sum_quality
         |FROM scored JOIN embeddings e ON doc_id = vec_id
         |WHERE lang = 'en' AND quality >= 0.3
         |GROUP BY 1 ORDER BY 1""".stripMargin
    }) {
      (spark, sf) =>
        Curation.curate(Tables.documents(spark, sf), Tables.embeddings(spark, sf),
            lang = "en", minQuality = 0.3)
          .withColumn("n_tokens", col("n_tokens").cast("long"))
          .orderBy("source")
    },

    // The FULL curation pipeline (exact dedup → lang/quality gate →
    // minhash near-dup prune → stratified cap) — the minhash stage is
    // seeded-hash-dependent (xxhash64 band signatures have no DuckDB
    // analog and the surviving id set depends on them), so the composite
    // can never be oracle-gated, only rows-checked; each constituent op IS
    // oracle-gated individually and CurationSpec pins the composition.
    Q.noOracle("llm_curate_full") { (spark, sf) =>
      // bounded-subset policy (see object doc): the composite contains a
      // pairwise stage, so it runs on the fixed docCap prefix.
      // materializeGated: the gated frame feeds 4 downstream branches
      // (minhash lanes, verify sets, anti-join probe, cap) — checkpoint it
      // so dedup + quality + gate run once, not once per branch; the
      // blocks self-release on GC (no session-long cache pin).
      Curation.curateFull(
          Tables.documents(spark, sf).where(col("doc_id") < docCap),
          lang = "en", minQuality = 0.3, nearDupThreshold = 0.5, maxPerGroup = 50,
          materializeGated = true)
        .orderBy("doc_id")
    },

    // The FLAGSHIP composite, oracle-gated at last: curateFull under the
    // cross-engine poly hash family (polyHash = true — the ONLY stage
    // that blocked an oracle was xxhash64 banding). One DuckDB query
    // replays exact dedup, the integer-bp quality gate, poly banding
    // with the 256-id bucket cap, exact-Jaccard verify, TRANSITIVE
    // closure via recursive CTE (min-id representative), the anti join
    // and the stratified cap. maxPerGroup=10 PROBED to bind at every
    // scale (largest (en, source) group: 16/16/45); near-dup losers
    // 5/3/6 tri-scale — every stage fires.
    Q("llm_curate_full_poly", {
      val nTok = "CAST(len(string_split(text, ' ')) AS BIGINT)"
      val nStop = "CAST(len(list_filter(string_split(text, ' '), t -> list_contains(['the','a','fast','slow'], t))) AS BIGINT)"
      val nDist = "CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)"
      s"""WITH RECURSIVE
         |dd AS (SELECT min(doc_id) AS doc_id FROM documents
         |       WHERE doc_id < $docCap GROUP BY text),
         |base AS (SELECT d.doc_id, d.lang, d.source, d.text
         |         FROM documents d JOIN dd USING (doc_id)),
         |c0 AS (SELECT doc_id, $nTok AS nt, $nStop AS ns, $nDist AS nd FROM base),
         |scored AS (
         |  SELECT b.doc_id, b.lang, b.source, b.text, c0.nt AS n_tokens,
         |    ((((20000 * nd + nt) // (2 * nt))
         |      * (10000 - ((20000 * ns + nt) // (2 * nt))) * 2 + 10000) // 20000)
         |      / 10000.0 AS quality
         |  FROM base b JOIN c0 USING (doc_id)),
         |gated AS (SELECT * FROM scored WHERE lang = 'en' AND quality >= 0.3),
         |toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS tk,
         |    list_filter(string_split(text, ' '), t -> len(t) > 0) AS tkf
         |  FROM gated),
         |${PolySql.laneSigCtes()},
         |capped AS (
         |  SELECT doc_id, band, sig,
         |    row_number() OVER (PARTITION BY band, sig ORDER BY doc_id) AS rn
         |  FROM sigs),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
         |  FROM capped a JOIN capped b ON a.band = b.band AND a.sig = b.sig
         |    AND a.doc_id < b.doc_id AND a.rn <= 256 AND b.rn <= 256),
         |${PolySql.shingleCte()},
         |pairs AS (
         |  SELECT c.a, c.b
         |  FROM cand c JOIN sh sa ON sa.doc_id = c.a JOIN sh sb ON sb.doc_id = c.b
         |  WHERE ${PolySql.jaccard} >= 0.5),
         |sym AS (SELECT a AS src, b AS dst FROM pairs UNION SELECT b, a FROM pairs),
         |parts AS (SELECT DISTINCT src AS id FROM sym),
         |reach(id, m) AS (
         |  SELECT id, id FROM parts
         |  UNION
         |  SELECT s.dst, r.m FROM reach r JOIN sym s ON s.src = r.id),
         |comp AS (SELECT id, min(m) AS rep FROM reach GROUP BY id),
         |losers AS (SELECT id FROM comp WHERE rep <> id),
         |pruned AS (
         |  SELECT * FROM gated WHERE doc_id NOT IN (SELECT id FROM losers)),
         |capd AS (
         |  SELECT doc_id, lang, source, n_tokens, quality,
         |    row_number() OVER (PARTITION BY lang, source
         |      ORDER BY doc_id, n_tokens, quality) AS rn
         |  FROM pruned)
         |SELECT doc_id, lang, source, n_tokens, quality
         |FROM capd WHERE rn <= 10 ORDER BY doc_id""".stripMargin
    }) { (spark, sf) =>
      Curation.curateFull(
          Tables.documents(spark, sf).where(col("doc_id") < docCap),
          lang = "en", minQuality = 0.3, nearDupThreshold = 0.5, maxPerGroup = 10,
          materializeGated = true, polyHash = true)
        .withColumn("n_tokens", col("n_tokens").cast("long"))
        .orderBy("doc_id")
    },

    Q("llm_join_modal",
      """SELECT d.lang, e.label, count(*) AS n, min(d.doc_id) AS min_doc
        |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) {
      (spark, sf) =>
        Tables.documents(spark, sf)
          .join(Tables.embeddings(spark, sf), col("doc_id") === col("vec_id"))
          .groupBy("lang", "label")
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_doc"))
          .orderBy("lang", "label")
    },

    // Frame sampling (the video-shaped multimodal op): every 2nd 64-byte
    // frame of the payload as its own row; byte arithmetic is exact on
    // both engines so the one-to-many plumbing is fully oracle-gated.
    Q("llm_frames",
      """WITH d AS (
        |  SELECT doc_id, octet_length(encode(text)) AS len FROM documents),
        |f AS (
        |  SELECT doc_id, len,
        |    unnest(range(0, CAST((len + 63) // 64 AS BIGINT), 2)) AS i
        |  FROM d)
        |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        |  CAST(least(64, len - i * 64) AS BIGINT) AS frame_bytes
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin) {
      (spark, sf) =>
        Multimodal.sampleFrames(
            Multimodal.asMedia(Tables.documents(spark, sf)), frameBytes = 64, stride = 2)
          .select(col("doc_id"), col("frame_idx"),
            length(col("frame")).cast("long").as("frame_bytes"))
          .orderBy("doc_id", "frame_idx")
    },

    Q("llm_multimodal",
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(list_sum(list_transform(string_split(text, ''), c -> ascii(c))) AS DOUBLE)
        |    / len(string_split(text, '')) AS mean_byte,
        |  CAST(list_max(list_transform(string_split(text, ''), c -> ascii(c))) AS DOUBLE) AS max_byte,
        |  CAST(list_min(list_transform(string_split(text, ''), c -> ascii(c))) AS DOUBLE) AS min_byte
        |FROM documents ORDER BY doc_id""".stripMargin) {
      (spark, sf) =>
        Multimodal.decodeFeatures(Multimodal.asMedia(Tables.documents(spark, sf)))
          .orderBy("doc_id")
    }
  )
}
