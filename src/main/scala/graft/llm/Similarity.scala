package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Cut.CutOps

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (SURVEY §2.9 L3; north-star mandate — absent in the reference).
  *
  * Two tiers:
  *  - [[bruteTopK]]: exact cosine top-k — broadcast the (small) query set,
  *    score every vector with codegen'd higher-order functions, take top-k
  *    per query via window rank. The correctness baseline.
  *  - [[ivfTopK]]: IVF-style bucketed search — assign vectors to their
  *    nearest centroid with a NARROW codegen'd top-dot kernel over a
  *    driver-collected codebook (no join, no shuffle, no row blow-up),
  *    then probe only `nprobe` buckets per query. At 100 TB this turns a
  *    full scan per query into a ~(nprobe/nlist) partial scan; the only
  *    wide op left is the probe-bucket equi-join (hash-partitioned,
  *    AQE-managed).
  *
  * Norms are computed ONCE per row before any pairing ([[withNorm]]), so a
  * pair costs a single dot product — not dot + two norms over the same
  * vectors again. All arithmetic is double-precision over the float vectors
  * via `zip_with`/`aggregate` — whole-stage-codegen'd, no UDFs, no MLlib
  * vector conversions on the hot path.
  */
object Similarity {

  /** dot(a, b) in double precision, left-to-right accumulation. Native
    * codegen kernel (graft.functions.DotProduct) — the HOF formulation
    * `aggregate(zip_with(...))` is interpreted and allocates per row. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorFunctions.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Attach the L2 norm as a column — compute once, reuse across pairs. */
  def withNorm(df: DataFrame, vecCol: String, out: String): DataFrame =
    df.withColumn(out, norm(col(vecCol)))

  /** Exact top-k cosine neighbors for each query vector (excluding self).
    * Output: (qid, vec_id, cos, rank 1..k). */
  def bruteTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(withNorm(queries, vecCol, "qn")
      .select(col(idCol).as("qid"), col(vecCol).as("qv"), col("qn")))
    val c = withNorm(corpus.select(col(idCol), col(vecCol)), vecCol, "cn")
    val scored = q.join(c, col("qid") =!= col(idCol))
      .select(col("qid"), col(idCol),
        (dot(col("qv"), col(vecCol)) / (col("qn") * col("cn"))).as("cos"))
    topK(scored, k, idCol)
  }

  /** Per-query top-k by (cos desc, id asc) via the bounded-heap collector
    * (graft.relational.TopK) — each map task keeps k candidates per query
    * instead of the window formulation's full sort of every scored row. */
  private def topK(scored: DataFrame, k: Int, idCol: String): DataFrame =
    graft.relational.TopK.topKPerGroupRanked(
        scored.select(col("qid"), (-col("cos")).as("__negcos"), col(idCol)),
        keys = Seq(col("qid")),
        sortCols = Seq(col("__negcos"), col(idCol)), k = k, rankCol = "rnk")
      .select(col("qid"), col(idCol), (-col("__negcos")).as("cos"), col("rnk"))

  /** Hard ceiling on the driver-collected codebook — 64Ki centroids × a
    * few-hundred-double vectors is the most a plan-attached reference
    * object (and driver heap) should ever carry; a corpus-sized frame
    * passed by mistake must fail fast, not OOM the driver. */
  val MaxCentroids = 65536

  /** Driver-collected codebook: cid-ascending ids + L2-normalized vector
    * matrix. Small by contract (the IVF codebook — thousands at most);
    * the matrix ships once per task as a kernel reference object.
    * dot(v, c_norm) ranks identically to cosine for a fixed v, and the
    * cid-ascending order makes [[graft.functions.TopDotIndices]]'s
    * lowest-index tie-break the deterministic lowest-cid contract. */
  private case class Codebook(cids: Array[Long], matrix: Array[Array[Double]])

  private def codebook(centroids: DataFrame, idCol: String, vecCol: String): Codebook = {
    val capped = centroids.select(col(idCol).cast("long"), col(vecCol))
      .limit(MaxCentroids + 1)
    val rows = capped.collect()
    require(rows.length <= MaxCentroids,
      s"IVF codebook exceeds $MaxCentroids centroids — this is a driver-side " +
        "plan object; cluster the codebook down (or use lshTopK) instead")
    val normed = rows
      .map { r =>
        // element type may be float or double — go through Number
        val v = r.getSeq[Number](1).map(_.doubleValue()).toArray
        val n = math.sqrt(v.map(x => x * x).sum) max java.lang.Double.MIN_VALUE
        (r.getLong(0), v.map(_ / n))
      }
      .sortBy(_._1)
    require(normed.nonEmpty, "centroid set must be non-empty")
    Codebook(normed.map(_._1), normed.map(_._2))
  }

  /** nearest-`n` centroid ids for a vector column, via the codegen'd
    * top-dot kernel — the `graft_dot`-inside-`transform` formulation this
    * replaces ran every centroid dot on the interpreted HOF path. */
  private def nearestCids(vec: Column, cb: Codebook, n: Int): Column =
    transform(graft.functions.TopDotIndices(vec, cb.matrix, n),
      idx => element_at(typedLit(cb.cids.toSeq), idx + 1))

  /** Assign every vector to its nearest centroid (ties → lowest cid).
    * Pure narrow projection — no join, no window, no shuffle, and the
    * scoring loop stays inside whole-stage codegen at any codebook size. */
  def assign(corpus: DataFrame, centroids: DataFrame,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    assignWith(corpus, codebook(centroids, idCol, vecCol), idCol, vecCol)

  private def assignWith(corpus: DataFrame, cb: Codebook,
                         idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol), col(vecCol))
      .withColumn("cid", element_at(nearestCids(col(vecCol), cb, 1), 1))

  /** LSH-bucketed ANN (MLlib BucketedRandomProjectionLSH) — the third tier
    * next to [[bruteTopK]] (exact) and [[ivfTopK]] (needs a codebook).
    * Vectors are L2-normalized first, so euclidean bucket distance orders
    * like cosine (cos = 1 − d²/2) and `maxDist` bounds the candidate join.
    * Seeded → deterministic buckets across runs and cluster sizes.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              bucketLength: Double = 1.0, numHashTables: Int = 3,
              maxDist: Double = 1.2, seed: Long = 42L,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
    import org.apache.spark.ml.functions.array_to_vector
    def unitVec(df: DataFrame): DataFrame =
      withNorm(df.select(col(idCol), col(vecCol)), vecCol, "__n")
        .select(col(idCol), array_to_vector(
          transform(col(vecCol), x => x.cast("double") / col("__n"))).as("__v"))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("__v").setOutputCol("__h")
      .setBucketLength(bucketLength).setNumHashTables(numHashTables).setSeed(seed)
    val c = unitVec(corpus)
    val model = lsh.fit(c)
    // Hash the corpus ONCE and cut it: approxSimilarityJoin skips its
    // internal transform when the hash column is already present, and
    // uncut the corpus branch fed both fit and the join's explode side
    // (r10 plan audit: 4 Scan parquet on llm_ann_lsh). The checkpointed
    // hashed frame IS the persisted LSH index at scale — the artifact a
    // 100 TB deployment stores next to the corpus. Lineage dropped;
    // call inside `Cut.scope` in long sessions.
    val cHashed = model.transform(c).cut()
    val joined = model.approxSimilarityJoin(
        model.transform(unitVec(queries)), cHashed, maxDist, "dist")
      .select(col(s"datasetA.$idCol").as("qid"), col(s"datasetB.$idCol").as(idCol),
        (lit(1.0) - col("dist") * col("dist") / 2).as("cos"))
      .where(col("qid") =!= col(idCol))
    topK(joined, k, idCol)
  }

  /** Train an IVF codebook in-library: Lloyd's k-means over the corpus
    * (or a sample of it — the usual 100 TB practice), returning a
    * `(cid, embedding)` frame ready to pass as [[ivfTopK]]'s `centroids`.
    *
    * Scale design: assignment is the narrow [[graft.functions.TopDotIndices]]
    * kernel (no join, no shuffle); the centroid update is
    * `posexplode(vector) → groupBy(cid, dim) → sum` — partial aggregation
    * combines map-side, so the shuffle carries only k×dims rows PER
    * PARTITION regardless of corpus size, and the k×dims result collects
    * to the driver (codebook-sized by the [[MaxCentroids]] cap).
    *
    * Determinism contract (SURVEY §2.9-bis): double sums are
    * order-dependent, so components accumulate as FIXED-POINT longs
    * (×2^20, exact integer addition — order-free) and divide back on the
    * driver. Same data + same seed ⇒ bit-identical centroids under ANY
    * partitioning. Empty clusters keep their previous centroid. Note
    * dot-based assignment partitions by DIRECTION (cosine k-means on the
    * unit sphere) — the right metric for the cosine-probe index this
    * codebook feeds.
    *
    * Init is k-means||-shaped and deterministic: ONE pass hash-orders the
    * corpus and takes ~10k oversampled candidates; a driver-side
    * farthest-first sweep (ties → first candidate) then picks k
    * directionally-spread seeds, so well-separated clusters each get a
    * seed instead of colliding as a plain random draw would. For k past
    * 4096 the O(ℓ·k) driver sweep is skipped and the plain hash draw is
    * used (at that codebook size seed collisions wash out).
    */
  def trainCodebook(corpus: DataFrame, k: Int, iters: Int = 5, seed: Long = 42L,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    sampleSize: Option[Int] = None,
                    drawKey: Option[Column] = None): DataFrame = {
    require(k > 0 && k <= MaxCentroids, s"k must be in 1..$MaxCentroids")
    require(iters >= 0, "iters must be non-negative")
    require(sampleSize.forall(_ >= k),
      s"sampleSize must hold at least k=$k vectors")
    val spark = corpus.sparkSession
    import spark.implicits._
    // sampleSize = the 100 TB training mode the scaladoc has always
    // prescribed, made first-class: every Lloyd iteration scans the
    // TRAIN SET, so unsampled training pays `iters` full corpus reads
    // (measured: llm_semdedup's 7 executed scans are 1 init + 5
    // iterations + the assignment). With sampleSize the train set is
    // the deterministic lowest-hash prefix (same draw lattice as the
    // init, so the init candidates are IDENTICAL to unsampled training
    // whenever sampleSize ≥ the oversample), checkpointed once —
    // train cost becomes O(sample · iters) regardless of corpus size,
    // and only the final assignment touches the full corpus.
    val base = corpus.select(col(idCol), col(vecCol))
    // drawKey: the pseudo-random draw ordering. xxhash64 is the
    // production default; the cross-engine face passes an affine lattice
    // over the id (the _poly relationship) so a SQL oracle can replay
    // the draw — everything downstream (farthest-first, fixed-point
    // Lloyd) is already engine-neutral arithmetic.
    val draw = drawKey.getOrElse(xxhash64(col(idCol), lit(seed)))
    val vecs = sampleSize match {
      case Some(n) => base
        .orderBy(draw, col(idCol))
        .limit(n)
        .cut()
      case None => base
    }
    // deterministic pseudo-random candidate draw: lowest hash-ordered rows
    val oversample = if (k <= 4096) 10L * k else k.toLong
    val candRows = vecs
      .orderBy(draw, col(idCol))
      .limit(oversample.toInt).select(col(vecCol)).collect()
    require(candRows.nonEmpty, "corpus must be non-empty")
    val cand = candRows.map(_.getSeq[Number](0).map(_.doubleValue()).toArray)
    var matrix =
      if (k > 4096 || cand.length <= k) cand.take(k)
      else {
        // farthest-first on the candidates: greedily add the candidate
        // whose max cosine to the chosen set is smallest
        val unit = normalizeRows(cand)
        val taken = new Array[Boolean](cand.length)
        val maxCos = Array.fill(cand.length)(-2.0)
        val chosen = scala.collection.mutable.ArrayBuffer(0)
        taken(0) = true
        while (chosen.size < k) {
          val last = unit(chosen.last)
          var best = -1
          var bestCos = 2.0
          var i = 0
          while (i < cand.length) {
            if (!taken(i)) {
              var d = 0.0
              var j = 0
              while (j < math.min(last.length, unit(i).length)) {
                d += last(j) * unit(i)(j); j += 1
              }
              if (d > maxCos(i)) maxCos(i) = d
              if (maxCos(i) < bestCos) { bestCos = maxCos(i); best = i }
            }
            i += 1
          }
          chosen += best
          taken(best) = true
        }
        chosen.map(cand).toArray
      }
    val Scale = 1L << 20
    (0 until iters).foreach { _ =>
      val cb = Codebook(matrix.indices.map(_.toLong).toArray, normalizeRows(matrix))
      val assigned = assignWith(vecs, cb, idCol, vecCol)
      val sums = assigned
        .select(col("cid"), posexplode(col(vecCol)).as(Seq("dim", "x")))
        .groupBy("cid", "dim")
        .agg(sum((col("x") * Scale).cast("long")).as("s"), count(lit(1)).as("n"))
        .as[(Long, Int, Long, Long)].collect()
      val next = matrix.map(_.clone()) // empty clusters keep their centroid
      sums.groupBy(_._1).foreach { case (cid, dims) =>
        val c = next(cid.toInt)
        dims.foreach { case (_, dim, s, n) =>
          c(dim) = s.toDouble / Scale / n
        }
      }
      matrix = next
    }
    // the sample checkpoint is fully consumed (centroids live on the
    // driver now) — release its blocks instead of waiting for GC
    if (sampleSize.isDefined)
      graft.core.Cut.release(vecs)
    matrix.toSeq.zipWithIndex
      .map { case (v, i) => (i.toLong, v.map(_.toFloat).toSeq) }
      .toDF("cid", "embedding")
  }

  private def normalizeRows(m: Array[Array[Double]]): Array[Array[Double]] =
    m.map { v =>
      val n = math.sqrt(v.map(x => x * x).sum) max java.lang.Double.MIN_VALUE
      v.map(_ / n)
    }

  /** IVF search: probe the `nprobe` nearest centroids' buckets per query.
    * Recall < 1.0 by construction; the ScalaTest spec measures it against
    * [[bruteTopK]]. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, centroids: DataFrame,
              k: Int, nprobe: Int = 2,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // accept trainCodebook's (cid, embedding) frame directly: its id
    // column is 'cid', not the corpus idCol — every caller used to need
    // a rename, and the trainCodebook scaladoc promised the direct pass
    val centroidIdCol = if (centroids.columns.contains(idCol)) idCol else "cid"
    val cb = codebook(centroids, centroidIdCol, vecCol)
    val assigned = withNorm(assignWith(corpus, cb, idCol, vecCol), vecCol, "cn")
    // nprobe nearest centroids per query — the kernel clamps to the
    // codebook size, so an over-asked nprobe can't drop queries
    val probes = withNorm(queries, vecCol, "qn")
      .select(col(idCol).as("qid"), col(vecCol).as("qv"), col("qn"),
        explode(nearestCids(col(vecCol), cb, nprobe)).as("cid"))
    // search only the probed buckets — equi-join on centroid id
    val scored = probes.join(assigned, "cid")
      .where(col("qid") =!= col(idCol))
      .select(col("qid"), col(idCol),
        (dot(col("qv"), col(vecCol)) / (col("qn") * col("cn"))).as("cos"))
    topK(scored, k, idCol)
  }

  /** Product-quantization codes for every vector — one row per
    * (id, subspace, code): [[graft.functions.PqEncode]]'s narrow kernel
    * projection, exploded. `codebooks` is `[subspace][centroid][dim]`;
    * with 8 subspaces × ≤256 centroids a 64-dim float vector compresses
    * 256 B → 8 B, the storage step that makes billion-vector ANN
    * (IVF-PQ) fit executor memory. Defect vectors (wrong dims,
    * null/NaN elements — [[Audit.embeddingReport]]'s classes) yield NO
    * rows here, never a wrong code.
    *
    * Scale shape: codebooks ride the plan as a compiled reference
    * object — no join, no shuffle, no explode before the final
    * (id, sub, code) stream; downstream asymmetric-distance search
    * joins per-subspace lookup tables against these fixed-width rows.
    * Train per-subspace codebooks by slicing the corpus and running
    * [[trainCodebook]] on each slice; PLANTED codebooks keep the whole
    * encoder replayable in ANSI SQL (the declared-query discipline). */
  def pqEncode(vectors: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame =
    vectors.select(col(idCol),
        posexplode(graft.functions.PqEncode(col(vecCol), codebooks))
          .as(Seq("subspace", "code")))
      .select(col(idCol), col("subspace").cast("long").as("subspace"),
        col("code").cast("long").as("code"))

  /** Top-k search over a PRODUCT-QUANTIZATION index — the search side of
    * [[pqEncode]] (together they are the PQ half of IVF-PQ): score every
    * indexed vector against each query using only its (subspace, code)
    * pairs and a per-query lookup table, never the raw vectors. The
    * query is first snapped to the codebook's quarter-step grid
    * (`floor(q·4 + 0.5)` — floor, not round: both engines compute it
    * identically on the exactly-representable q·4), which makes every
    * distance an INTEGER — `dist16` = 16 · squared-L2 between the
    * quantized query and the code's centroid chain — so the per-vector
    * sum over subspaces is order-free (no double-accumulation
    * nondeterminism in the aggregate) and the whole search replays in
    * SQL. Ranking: (dist16, id) ascending — ties deterministic.
    *
    * Plan shape (100 TB): the LUT is |queries|·S·K rows built from the
    * broadcast query set and the LITERAL codebook (no corpus touch);
    * the stored code index — S fixed-width int rows per vector, the
    * artifact [[pqEncode]] exists to produce — broadcast-joins the LUT
    * in-scan, one map-side-combinable (qid, id) sum, and the
    * bounded-heap top-k collector. The corpus's raw vectors are never
    * read: that is the point of ADC search. */
  def pqTopK(queries: DataFrame, codes: DataFrame,
             codebooks: Seq[Seq[Seq[Double]]], k: Int,
             queryIdCol: String = "qid", vecCol: String = "embedding",
             idCol: String = "vec_id"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val lut = pqLut(queries, codebooks, queryIdCol, vecCol)
    val scored = codes.join(broadcast(lut), Seq("subspace", "code"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum(col("__d")).as("dist16"))
    graft.relational.TopK.topKPerGroupRanked(scored, Seq(col(queryIdCol)),
        Seq(col("dist16"), col(idCol)), k, "rnk")
      .select(col(queryIdCol), col(idCol), col("dist16"), col("rnk"))
  }

  /** The ADC lookup table [[pqTopK]] and [[ivfPqTopK]] share: per
    * (query, subspace, code), the integer 16× squared-L2 between the
    * quarter-step-quantized query slice and the centroid. |queries|·S·K
    * rows from the broadcast query set and the LITERAL codebook — no
    * corpus touch. */
  private def pqLut(queries: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
                    queryIdCol: String, vecCol: String): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val subDim = codebooks.head.head.size
    // literal codebook in quarter-step INTEGER space (values are
    // quarter-steps by the pqEncode planting discipline; round() here is
    // driver-side Scala on exact doubles)
    val cbRows = codebooks.zipWithIndex.flatMap { case (ks, s) =>
      ks.zipWithIndex.map { case (c, code) =>
        (s, code, c.map(v => math.round(v * 4).toLong))
      }
    }
    val cbDf = cbRows.toDF("subspace", "code", "__ci")
    val qQuant = queries.select(col(queryIdCol),
      transform(col(vecCol),
        v => floor(v.cast("double") * 4.0 + 0.5).cast("long")).as("__qi"))
    qQuant.crossJoin(cbDf)
      .select(col(queryIdCol), col("subspace").cast("long").as("subspace"),
        col("code").cast("long").as("code"),
        aggregate(
          zip_with(
            slice(col("__qi"), col("subspace").cast("int") * subDim + 1, lit(subDim)),
            col("__ci"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x).as("__d"))
  }

  /** IVF-PQ search — the full two-level ANN index this tier builds up
    * to ([[pqEncode]] stores codes, [[pqTopK]] scores them; this adds
    * the IVF routing that makes the scan PROBE-BOUND): every corpus
    * vector lives in a coarse cell (nearest `coarse` centroid — one
    * full-width subspace, [[clusterBalance]]'s assignment), each query
    * routes to its `nprobe` nearest cells by the SAME integer
    * quantized-query distance the ADC stage uses, and only vectors in
    * probed cells are scored. Returns `(queryIdCol, idCol, dist16,
    * rnk)` like [[pqTopK]] — recall is bounded by the routing (a true
    * neighbor in an unprobed cell is missed; raise nprobe), exactness
    * within probed cells is [[pqTopK]]'s.
    *
    * Plan shape (100 TB): the stored index is `(id, cell, subspace,
    * code)` fixed-width rows, written partitioned by cell — the probed
    * cell set broadcasts as a semi filter and PRUNES PARTITIONS before
    * any scoring; the LUT join, (qid, id) sum and bounded-heap top-k
    * then run over probed cells only (~nprobe/C of the index). */
  def ivfPqTopK(queries: DataFrame, corpus: DataFrame,
                coarse: Seq[Seq[Double]], codebooks: Seq[Seq[Seq[Double]]],
                k: Int, nprobe: Int = 2,
                queryIdCol: String = "qid", vecCol: String = "embedding",
                idCol: String = "vec_id"): DataFrame =
    searchPqIndex(queries,
      PqIndex(buildPqIndex(corpus, coarse, codebooks, idCol, vecCol),
        coarse, codebooks),
      k, nprobe, queryIdCol, vecCol, idCol)

  /** A loaded (or inline-built) IVF-PQ index: `codes` = the fixed-width
    * `(id, cell, subspace, code)` rows, plus the two codebooks as plan
    * literals. Built by [[buildPqIndex]], persisted by
    * [[graft.sources.Sinks.pqIndex]], reloaded by [[loadPqIndex]] — the
    * round trip is identity (spec-pinned), so a search over a reloaded
    * index returns exactly what [[ivfPqTopK]] returns inline. */
  case class PqIndex(codes: DataFrame, coarse: Seq[Seq[Double]],
                     codebooks: Seq[Seq[Seq[Double]]])

  /** The STORED side of IVF-PQ: every corpus vector's coarse cell
    * (nearest `coarse` centroid) + its PQ codes — S+1 fixed-width ints
    * per vector, the entire artifact ANN search needs (raw vectors are
    * never read again). Persist with [[graft.sources.Sinks.pqIndex]],
    * which writes these rows partitioned by `cell` so [[searchPqIndex]]'s
    * probed-cell filter partition-prunes the scan. */
  def buildPqIndex(corpus: DataFrame, coarse: Seq[Seq[Double]],
                   codebooks: Seq[Seq[Seq[Double]]],
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    // cell and codes are BOTH narrow functions of the vector — one
    // projection computes them together (the r10 cut joined two separate
    // corpus-wide projections on id: an extra full scan AND a
    // corpus-wide shuffle join, for nothing)
    corpus.select(col(idCol),
        element_at(graft.functions.PqEncode(col(vecCol), Seq(coarse)), 1)
          .cast("long").as("cell"),
        posexplode(graft.functions.PqEncode(col(vecCol), codebooks))
          .as(Seq("subspace", "code")))
      .select(col(idCol), col("cell"),
        col("subspace").cast("long").as("subspace"),
        col("code").cast("long").as("code"))

  /** SEARCH over a built/loaded IVF-PQ index — [[ivfPqTopK]] minus the
    * construction: query routing (nprobe nearest coarse centroids under
    * the SAME integer quantized-query metric as the ADC stage — coarse =
    * one subspace, so the LUT rows ARE the query-to-cell distances),
    * probed-cell pruning, ADC scoring, bounded-heap top-k. Search cost
    * tracks |queries| · nprobe/C · |index| — NOT corpus construction —
    * which is the point of persisting the index. */
  def searchPqIndex(queries: DataFrame, index: PqIndex, k: Int,
                    nprobe: Int = 2, queryIdCol: String = "qid",
                    vecCol: String = "embedding",
                    idCol: String = "vec_id"): DataFrame = {
    require(nprobe >= 1 && nprobe <= index.coarse.length,
      s"nprobe must be in [1, ${index.coarse.length}], got $nprobe")
    searchPqIndexWith(queries, index,
      routeToCells(queries, index.coarse, nprobe, queryIdCol, vecCol),
      k, queryIdCol, vecCol, idCol)
  }

  /** [[searchPqIndex]] with the routing PRE-RESOLVED: the maintained
    * store's serving probe (`StreamOps.probeAnn`) already collects the
    * routed (query, cell) pairs for path-level dir pruning, so
    * re-executing the routing window inside the search would pay the
    * same request-sized window exchange twice — it passes the resolved
    * pairs back as a local relation instead (r19; the probe's exchange
    * ratchet dropped 9 → 7 with the change, measured). */
  private[graft] def searchPqIndexWith(queries: DataFrame, index: PqIndex,
                                       routed: DataFrame, k: Int,
                                       queryIdCol: String, vecCol: String,
                                       idCol: String,
                                       allowIds: Option[DataFrame] = None)
      : DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val lut = pqLut(queries, index.codebooks, queryIdCol, vecCol)
    val scored = index.codes.join(broadcast(routed), Seq("cell"))
      .join(broadcast(lut), Seq(queryIdCol, "subspace", "code"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum(col("__d")).as("dist16"))
    // the liveness/metadata gate (r20): FILTER-THEN-RANK — the allowed
    // set cuts the scored candidates BEFORE the top-k heap, so every
    // query still gets k SURVIVORS (k-then-filter would silently
    // return short lists). A candidate-sized semi-join; the id frame
    // broadcasts below the Joins gate, shuffle-hashes above it.
    val gated = allowIds.fold(scored) { a =>
      scored.join(graft.llm.Joins.gatedBroadcast(a.select(col(idCol))),
        Seq(idCol), "left_semi")
    }
    graft.relational.TopK.topKPerGroupRanked(gated, Seq(col(queryIdCol)),
        Seq(col("dist16"), col(idCol)), k, "rnk")
      .select(col(queryIdCol), col(idCol), col("dist16"), col("rnk"))
  }

  /** EXACT re-rank refinement (r20, the r19 verdict's What's-missing
    * 2): the standard ANN quality step — take each query's top-R
    * candidates by ADC ([[searchPqIndex]] / `StreamOps.probeAnn` with
    * k = R), fetch the R raw vectors by id, score the EXACT squared-L2
    * distance, keep the top-k. Request-sized by construction: the
    * candidate pair frame is |queries| × R rows, the corpus read is a
    * semi-join for candidate ids only (the readKeys shape — at scale a
    * bucket-pruned point read), and every joining side that ships is
    * request-sized (size-gated broadcast). The distance is a per-row
    * sequential left fold in double precision ((qᵢ−vᵢ)² accumulated
    * left-to-right) — the interpreted-HOF path, fine on a
    * request-sized frame, and bit-identical to a DuckDB `list_reduce`
    * mirror (the r9 cross-engine exactness kit: 0.0 + t == t for the
    * non-negative first term, then identical IEEE fold order).
    *
    * Returns `(queryIdCol, idCol, dist_b, rnk)`, rnk 1..k per query by
    * (exact distance, id); `dist_b` = floor(dist · 1024) — ×2¹⁰ only
    * shifts the exponent, so the integer is as engine-exact as the
    * fold itself. */
  def rerankExact(queries: DataFrame, candidates: DataFrame,
                  corpus: DataFrame, k: Int,
                  queryIdCol: String = "qid", vecCol: String = "embedding",
                  idCol: String = "vec_id"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // the candidate frame is typically an ADC probe's output — it
    // feeds the size gate, the id fetch, and the pair join, so an
    // uncut frame would re-run the whole probe per consumer (the
    // multi-consumer rule; measured 9 executed shuffles uncut vs the
    // probe paid once)
    val cand = candidates.select(col(queryIdCol), col(idCol))
      .cut()
    val fitCand = Joins.fitsBroadcast(cand)
    // raw vectors for candidate ids ONLY — no distinct on the semi-join
    // probe side (the r4 rule: the join dedups inherently)
    val fetched = corpus
      .join(Joins.hinted(fitCand, cand.select(col(idCol))),
        Seq(idCol), "left_semi")
      .select(col(idCol), col(vecCol).cast("array<double>").as("__cv"))
    val qv = queries.select(col(queryIdCol),
      col(vecCol).cast("array<double>").as("__qv"))
    val scored = fetched
      .join(Joins.hinted(fitCand, cand), Seq(idCol))
      .join(broadcast(qv), Seq(queryIdCol)) // queries: request-sized by contract
      .select(col(queryIdCol), col(idCol),
        aggregate(
          zip_with(col("__qv"), col("__cv"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, t) => acc + t).as("__dist"))
    graft.relational.TopK.topKPerGroupRanked(scored, Seq(col(queryIdCol)),
        Seq(col("__dist"), col(idCol)), k, "rnk")
      .select(col(queryIdCol), col(idCol),
        floor(col("__dist") * 1024).cast("long").as("dist_b"), col("rnk"))
  }

  /** IVF query routing — the (query, cell) pairs [[searchPqIndex]]
    * scores within: each query's `nprobe` nearest coarse centroids
    * under the SAME integer quantized-query metric the ADC stage uses.
    * Public (r19) so the maintained ANN store's serving probe
    * (`StreamOps.probeAnn`) can collect the probed cell set for
    * path-level dir pruning BEFORE constructing the codes read. */
  def routeToCells(queries: DataFrame, coarse: Seq[Seq[Double]],
                   nprobe: Int, queryIdCol: String = "qid",
                   vecCol: String = "embedding"): DataFrame =
    pqLut(queries, Seq(coarse), queryIdCol, vecCol)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(queryIdCol))
          .orderBy(col("__d"), col("code"))))
      .where(col("__rn") <= nprobe)
      .select(col(queryIdCol), col("code").as("cell"))

  /** Reload an index persisted by [[graft.sources.Sinks.pqIndex]]. The
    * codes frame stays DISTRIBUTED (partition-pruned by `cell` at scan
    * time); only the codebook table is collected, under the
    * [[MaxCentroids]] fail-fast — the same driver-side-plan-object
    * discipline as [[codebook]]. */
  def loadPqIndex(spark: org.apache.spark.sql.SparkSession,
                  path: String, idCol: String = "vec_id"): PqIndex = {
    val (coarse, codebooks) = loadCodebooks(spark, s"$path/codebooks")
    val codes = spark.read.parquet(s"$path/codes")
      .select(col(idCol), col("cell").cast("long"),
        col("subspace").cast("long"), col("code").cast("long"))
    PqIndex(codes, coarse, codebooks)
  }

  /** The codebook-table half of [[loadPqIndex]] — public (r19) for the
    * maintained ANN store (`StreamOps.bootstrapAnn`), whose codes live
    * tiered under its own layout while the codebook table keeps exactly
    * this format (level 0 = coarse, level 1 = per-subspace PQ). */
  def loadCodebooks(spark: org.apache.spark.sql.SparkSession,
                    codebooksPath: String)
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]]) = {
    val cb = spark.read.parquet(codebooksPath)
      .limit(MaxCentroids + 1).collect()
    require(cb.length <= MaxCentroids,
      s"persisted codebook exceeds $MaxCentroids centroids — not a codebook table")
    def level(l: Int): Seq[(Int, Int, Seq[Double])] = cb.toSeq
      .filter(_.getAs[Int]("level") == l)
      .map(r => (r.getAs[Int]("subspace"), r.getAs[Int]("code"),
        r.getSeq[Double](r.fieldIndex("centroid"))))
      .sortBy(t => (t._1, t._2))
    val coarse = level(0).map(_._3)
    val codebooks = level(1).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.sortBy(_._2).map(_._3) }
    require(coarse.nonEmpty && codebooks.nonEmpty,
      s"$codebooksPath has no coarse (level 0) or pq (level 1) rows")
    (coarse, codebooks)
  }

  /** Cluster-balanced diversity sampling — the embedding-space
    * counterpart of [[graft.llm.Sampling.capPerGroup]] (cluster-capped
    * pruning: semantic density must not buy corpus share, the
    * "diversify by cluster" selection stage next to
    * [[graft.llm.Dedup.semDedup]]'s near-duplicate pruning): every
    * vector lands in its PRODUCT-QUANTIZATION CELL (per-subspace nearest
    * centroid under squared L2 via [[graft.functions.PqEncode]], cell =
    * Σ codeₛ·Kˢ — K^S cells from S·K centroids), and each cell keeps at
    * most `capPerCluster` members in [[Packing.shuffleHash]] order (an
    * unbiased deterministic draw — id order would keep each cluster's
    * earliest crawl). Defect vectors (wrong dims, NULL/NaN components)
    * encode to NULL and are dropped — run [[graft.llm.Audit.embeddingReport]]
    * first. With PLANTED codebooks the whole selection replays in SQL.
    *
    * Plan shape (100 TB): assignment is ONE narrow codegen'd kernel
    * projection (codebooks ride the plan via addReferenceObj — no join);
    * the quota is the bounded-heap [[graft.relational.TopK]] collector
    * keyed by cell (≤ capPerCluster structs per cell cross the wire,
    * never a window sort). The only exchange is cell-keyed and
    * fixed-width. Regime note: the heap carries O(capPerCluster) structs
    * per (cell, partition) in the partial aggregate — right for quotas
    * up to ~10⁴–10⁵; for caps that SCALE with the corpus, a per-cell
    * window row_number (cell-sized sort, constant memory) is the better
    * physical plan. */
  def clusterBalance(vectors: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
                     capPerCluster: Int,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(capPerCluster > 0, s"capPerCluster must be positive, got $capPerCluster")
    val k = codebooks.head.length
    require(codebooks.forall(_.length == k),
      "all subspaces must share one centroid count (cell id = Σ code·K^s)")
    val cell = aggregate(
      graft.functions.PqEncode(col(vecCol), codebooks),
      lit(0L), (acc, c) => acc * k + c)
    val assigned = vectors.select(col(idCol), cell.as("cluster"))
      .where(col("cluster").isNotNull)
    Sampling.capPerGroup(assigned, Seq(col("cluster")), capPerCluster,
        Seq(Packing.shuffleHash(col(idCol)).as("__h"), col(idCol)))
      .select(col(idCol), col("cluster"))
  }

  /** Approximate top-k SEARCH under the quantized sign-LSH construction
    * — the search twin of [[Dedup.quantizedEmbeddingNearDups]] (one
    * quantization, one plane family, one cos²·10⁴ scoring formula;
    * [[lshTopK]] with its MLlib gaussian planes stays the
    * full-precision production face): both sides quantize to the
    * power-of-two grid, project against the shared integer hyperplanes,
    * and a query's candidates are the corpus vectors sharing ANY
    * table's signature — a hash equi-join on (table, sig), never a
    * cross join. Candidates score with the exact integer metric and
    * rank through the bounded-heap top-k (k rows per query per map
    * task — no per-query window sort). Returns `(qIdCol, idCol,
    * cos2_bp)`, ties on id; queries with no candidate bucket-mates are
    * absent (raise tables / lower bits for recall, the LSH dial).
    *
    * Plan shape at scale: the corpus side is a narrow kernel projection
    * onto fixed-width (id, tbl, sig) rows — at 100 TB the STORED
    * signature index, 8 B × tables per vector — and corpus text/vectors
    * are touched only for candidates (the [[Dedup.verifiedPairs]]
    * discipline); the quantized-corpus frame feeds the signature and
    * scoring consumers once (lazy checkpoint, multi-consumer rule). */
  def quantizedLshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                       numTables: Int = 8, bits: Int = 2, dims: Int = 64,
                       scale: Int = 64,
                       qIdCol: String = "qid", idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val planes = Dedup.quantPlanes(numTables * bits, dims).map(_.map(_.toDouble))
    def sigs(vq: DataFrame, id: String): DataFrame =
      vq.select(col(id),
        posexplode(graft.functions.SignProjection(col("__vq"), planes,
          numTables, bits)).as(Seq("tbl", "sig")))
    val qVq = Dedup.quantized(queries, qIdCol, vecCol, scale)
      .cut()
    val cVq = Dedup.quantized(corpus, idCol, vecCol, scale)
      .cut()
    val cand = sigs(qVq, qIdCol)
      .join(sigs(cVq, idCol), Seq("tbl", "sig"))
      .select(col(qIdCol).as("a"), col(idCol).as("b"))
      .distinct()
    val scored = Dedup.cos2Score(cand,
      qVq.select(col(qIdCol).as("a"), col("__vq").as("__va")),
      cVq.select(col(idCol).as("b"), col("__vq").as("__vb")))
    graft.relational.TopK.topKPerGroup(
        scored.select(col("a").as(qIdCol),
          (lit(10000L) - col("cos2_bp")).as("__inv"),
          col("b").as(idCol), col("cos2_bp")),
        keys = Seq(col(qIdCol)),
        sortCols = Seq(col("__inv"), col(idCol), col("cos2_bp")),
        k = k)
      .select(col(qIdCol), col(idCol), col("cos2_bp"))
  }

  /** k-NN majority-vote labeling — the semi-supervised labeling /
    * weak-supervision step (label the unlabeled corpus slice from its
    * nearest labeled neighbors, kNN-classifier style): per query, the
    * [[quantizedLshTopK]] top-k labeled neighbors vote; the winning
    * label is `(votes desc, best-neighbor similarity desc, label asc)`
    * — similarity breaks vote ties before the label does, so a 2-2
    * split goes to the CLOSER evidence, and the final label tiebreak
    * makes the whole election deterministic.
    *
    * Shape for 100 TB: candidates/scoring are the LSH construction
    * (bucket equi-join, bounded heap — never all-pairs); the label
    * attach is a hash join of the k·|queries| neighbor rows against
    * the (id, label) projection — corpus-sized, so NOT broadcast (the
    * Joins size-gate class); the vote is one (qid, label) aggregate
    * that rides into a qid-partitioned window election. Queries with
    * no bucket-mates are absent, the [[quantizedLshTopK]] contract.
    * Emits `(qIdCol, pred_label, n_votes, n_neighbors)`. */
  def knnLabel(queries: DataFrame, corpus: DataFrame, k: Int = 5,
               numTables: Int = 8, bits: Int = 2, dims: Int = 64,
               scale: Int = 64,
               qIdCol: String = "qid", idCol: String = "vec_id",
               vecCol: String = "embedding",
               labelCol: String = "label"): DataFrame = {
    require(corpus.columns.contains(labelCol),
      s"corpus needs a '$labelCol' column to vote with")
    // the Funnel tie-column rule applied to its sibling: a blind
    // cast("long") turns a string label into NULL and the election
    // votes unanimously for pred_label = null — integral labels cast
    // exactly, anything else (string, fractional) is a caller error,
    // surfaced at plan time rather than as silent null votes
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    val lbl = corpus.schema(labelCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        col(labelCol).cast("long")
      case other => throw new IllegalArgumentException(
        s"label column '$labelCol' must be integral (vote identity must " +
          s"be exact), got ${other.simpleString}; dictionary-encode " +
          "string labels upstream")
    }
    val neigh = quantizedLshTopK(queries, corpus, k, numTables, bits,
      dims, scale, qIdCol, idCol, vecCol)
    val labels = corpus.select(col(idCol), lbl.as("__lbl"))
    val votes = neigh.join(labels, idCol)
      .groupBy(col(qIdCol), col("__lbl"))
      .agg(count(lit(1)).as("n_votes"), max(col("cos2_bp")).as("__best"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(qIdCol))
      .orderBy(col("n_votes").desc, col("__best").desc, col("__lbl"))
    val total = org.apache.spark.sql.expressions.Window.partitionBy(col(qIdCol))
    votes
      .withColumn("n_neighbors", sum(col("n_votes")).over(total))
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select(col(qIdCol), col("__lbl").as("pred_label"),
        col("n_votes"), col("n_neighbors"))
  }

  /** Raw LSH bucket-mate candidates between two vector sets — the
    * candidate stage of [[quantizedLshTopK]] factored out as a PAIR
    * GENERATOR, for operators that take a `candidates` hook
    * ([[marginMine]]'s production path) rather than a ranked list.
    * Same integer planes ([[Dedup.quantPlanes]]), same sign-projection
    * signatures, same distinct bucket equi-join — so the DuckDB replay
    * is exactly llm_ann_lsh_q's `cand` CTE. The DISTINCT is load-
    * bearing here (unlike the semi/anti probe rule): a pair sharing
    * several tables would otherwise score repeatedly and corrupt any
    * downstream k-NN sum. Each side is quantized once for ONE consumer
    * (the signature pass), so no cut: with the scorer's own quantize
    * pass this composes to the standard two-read shape (signatures +
    * candidate-pruned attach). Returns `(srcIdCol, tgtIdCol)`. */
  def lshCandidates(src: DataFrame, tgt: DataFrame,
                    numTables: Int = 8, bits: Int = 2, dims: Int = 64,
                    scale: Int = 64,
                    srcIdCol: String = "a", tgtIdCol: String = "b",
                    vecCol: String = "embedding"): DataFrame = {
    val planes = Dedup.quantPlanes(numTables * bits, dims).map(_.map(_.toDouble))
    def sigs(vq: DataFrame, id: String): DataFrame =
      vq.select(col(id),
        posexplode(graft.functions.SignProjection(col("__vq"), planes,
          numTables, bits)).as(Seq("tbl", "sig")))
    sigs(Dedup.quantized(src, srcIdCol, vecCol, scale), srcIdCol)
      .join(sigs(Dedup.quantized(tgt, tgtIdCol, vecCol, scale), tgtIdCol),
        Seq("tbl", "sig"))
      .select(col(srcIdCol), col(tgtIdCol))
      .distinct()
  }

  /** Hard-negative mining for contrastive/retrieval training (r14) —
    * the DPR/ANCE data-prep step: for each query, the top-k
    * HIGHEST-scoring corpus vectors that are NOT its labeled positive,
    * with each negative's margin below the positive's score. Small
    * margins are the training signal (the "hard" in hard negative); a
    * NEGATIVE margin flags a candidate scoring above the labeled
    * positive — the false-negative/mislabel audit a mining run surfaces
    * for review rather than silently training on.
    *
    * Candidates are sign-LSH bucket-mates (the [[lshCandidates]]
    * construction, inlined here so the signature pass and BOTH scoring
    * passes share one quantized cut per side — the 100 TB path;
    * all-pairs mining is exactly the shape banding exists to avoid),
    * the labeled `(qIdCol, idCol)` positives are
    * anti-joined out BEFORE scoring (a positive must never pay a score
    * only to be dropped), scoring is the one integer cos²·10⁴ formula,
    * and per-query ranking is the bounded-heap collector
    * ([[graft.relational.TopK.topKPerGroupRanked]] — k rows per key per
    * map task cross the shuffle, no window sort). The positive's own
    * score rides a second candidate-sized scoring pass over the same
    * quantized cuts, aggregated to ONE row per query — when the labels
    * carry several positives for a qid, `pos_bp`/`margin_bp` are
    * measured against the best-scoring one (max), never fanned out. All joins key on ids; the anti join is
    * hash-partitioned and linear (positives are query-sized — NOT
    * broadcast: production mines negatives for every training query at
    * once). Emits `(qIdCol, idCol, rank, neg_bp, pos_bp, margin_bp)`;
    * a query whose positive pair is dropped by the `dot > 0` guard, or
    * with no non-positive bucket-mates, emits no rows (both engines). */
  def hardNegatives(queries: DataFrame, corpus: DataFrame,
                    positives: DataFrame, k: Int = 3,
                    numTables: Int = 8, bits: Int = 2, dims: Int = 64,
                    scale: Int = 64,
                    qIdCol: String = "qid", idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val planes = Dedup.quantPlanes(numTables * bits, dims).map(_.map(_.toDouble))
    def sigs(vq: DataFrame, id: String): DataFrame =
      vq.select(col(id),
        posexplode(graft.functions.SignProjection(col("__vq"), planes,
          numTables, bits)).as(Seq("tbl", "sig")))
    // each quantized side feeds signatures + two scoring passes — cut
    // both (the multi-consumer rule); positives feeds the anti join AND
    // the positive-score pass, and is (qid, id) pairs — 16 bytes a row,
    // the Components iteration-state class, never document-sized — so
    // it gets the same one cut (measured: uncut, each consumer re-ran
    // the caller's positive-derivation lineage — 4 executed scans on
    // llm_hard_negatives instead of 3)
    val qVq = Dedup.quantized(queries, qIdCol, vecCol, scale)
      .cut()
    val cVq = Dedup.quantized(corpus, idCol, vecCol, scale)
      .cut()
    val posCut = positives.select(col(qIdCol).as("a"), col(idCol).as("b"))
      .cut()
    val cand = sigs(qVq, qIdCol)
      .join(sigs(cVq, idCol), Seq("tbl", "sig"))
      .select(col(qIdCol).as("a"), col(idCol).as("b"))
      .distinct()
      .join(posCut, Seq("a", "b"), "left_anti")
    val negs = graft.relational.TopK.topKPerGroupRanked(
      Dedup.cos2Score(cand,
          qVq.select(col(qIdCol).as("a"), col("__vq").as("__va")),
          cVq.select(col(idCol).as("b"), col("__vq").as("__vb")))
        .select(col("a").as(qIdCol),
          (lit(10000L) - col("cos2_bp")).as("__inv"),
          col("b").as(idCol), col("cos2_bp").as("neg_bp")),
      keys = Seq(col(qIdCol)),
      sortCols = Seq(col("__inv"), col(idCol), col("neg_bp")),
      k = k, rankCol = "rank")
    // one pos_bp row per query even when the labels carry SEVERAL
    // positives per qid (multi-positive retrieval sets are normal):
    // the margin is measured against the BEST labeled positive —
    // an un-aggregated join would fan every negative out per positive
    // with ambiguous pos_bp. The groupBy is query-sized.
    val posScore = Dedup.cos2Score(posCut,
        qVq.select(col(qIdCol).as("a"), col("__vq").as("__va")),
        cVq.select(col(idCol).as("b"), col("__vq").as("__vb")))
      .groupBy(col("a").as(qIdCol))
      .agg(max(col("cos2_bp")).as("pos_bp"))
    negs.join(posScore, qIdCol)
      .select(col(qIdCol), col(idCol), col("rank").cast("long").as("rank"),
        col("neg_bp"), col("pos_bp"),
        (col("pos_bp") - col("neg_bp")).as("margin_bp"))
      .orderBy(col(qIdCol), col("rank"))
  }

  /** Exact top-k under the QUANTIZED integer metric — the ground-truth
    * side of [[annRecall]]: same grid, same cos²·10⁴ formula, same
    * (score desc, id) tie order as [[quantizedLshTopK]], but the
    * candidate set is ALL query×corpus pairs (query side broadcast —
    * callers keep it bounded; quadratic by declaration, the
    * [[bruteTopK]] cost model in the cross-engine-exact family). */
  def quantizedBruteTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                         scale: Int = 64, qIdCol: String = "qid",
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // each quantized side feeds the candidate frame AND the scorer —
    // cut both (the multi-consumer rule) or the input scans re-run
    // per consumer
    val qVq = Dedup.quantized(queries, qIdCol, vecCol, scale)
      .cut()
    val cVq = Dedup.quantized(corpus, idCol, vecCol, scale)
      .cut()
    val cand = broadcast(qVq.select(col(qIdCol).as("a")))
      .crossJoin(cVq.select(col(idCol).as("b")))
    val scored = Dedup.cos2Score(cand,
      qVq.select(col(qIdCol).as("a"), col("__vq").as("__va")),
      cVq.select(col(idCol).as("b"), col("__vq").as("__vb")))
    graft.relational.TopK.topKPerGroup(
        scored.select(col("a").as(qIdCol),
          (lit(10000L) - col("cos2_bp")).as("__inv"),
          col("b").as(idCol), col("cos2_bp")),
        keys = Seq(col(qIdCol)),
        sortCols = Seq(col("__inv"), col(idCol), col("cos2_bp")),
        k = k)
      .select(col(qIdCol), col(idCol), col("cos2_bp"))
  }

  /** Deterministic ±1 random projection (Achlioptas 2003 /
    * Johnson–Lindenstrauss) of the quantized embedding onto `outDims`
    * integer components: `y_j = Σ_i s_ij · vq_i` with the sign matrix
    * drawn from the house lattice (`(i·6007 + j·9151 + 13) mod 9973
    * < 4987` → +1), so the projection is seed-free, retry-stable and
    * replayable in ANSI SQL. `E[|y_a − y_b|²] = outDims · |a − b|²` —
    * the distance-preservation contract `llm_rand_proj` audits.
    * Each component is ONE [[graft.functions.DotProduct]] kernel call
    * against a plan-literal sign row (the codebook discipline —
    * codegen'd, no interpreted per-row loop); double accumulation is
    * EXACT here (|terms| < 2⁵³ by construction) and the result is
    * cast back to long. Adds `projCol` (array<long>, outDims wide)
    * next to the quantized `__vq`. */
  def randomProject(df: DataFrame, outDims: Int = 16, dims: Int = 64,
                    scale: Int = 64, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    projCol: String = "proj"): DataFrame = {
    require(outDims >= 1 && outDims <= dims,
      s"need 1 <= outDims <= dims, got outDims=$outDims dims=$dims")
    val vq = Dedup.quantized(df, idCol, vecCol, scale)
    val vqd = transform(col("__vq"), x => x.cast("double"))
    val comps = (1 to outDims).map { j =>
      val row = (1 to dims).map(i =>
        if ((i * 6007L + j * 9151L + 13L) % 9973L < 4987L) 1.0 else -1.0)
      dot(vqd, typedLit(row)).cast("long")
    }
    vq.withColumn(projCol, array(comps: _*))
  }

  /** ANN quality audit: recall of an approximate top-k list against the
    * exact one, per query — the measurement a 100 TB ANN deployment
    * tunes its LSH dial (tables/bits) and IVF nprobe against. Both
    * inputs are (qIdCol, idCol, …) ranked lists; output per TRUTH
    * query: `n_true`, `n_hits = |approx ∩ truth|`, `recall_bp`. A query
    * the approximate index returned nothing for (no bucket-mates — the
    * documented LSH absence case) scores recall 0 rather than
    * vanishing. Both lists are top-k-bounded, so every join here is
    * list-sized; ORDER BY query id. */
  def annRecall(truth: DataFrame, approx: DataFrame,
                qIdCol: String = "qid", idCol: String = "vec_id"): DataFrame = {
    // truth feeds both the denominator and the hit join; it is
    // top-k-bounded, so the cut is list-sized (multi-consumer rule —
    // without it the whole exact-scoring plan runs twice)
    val t = truth.select(col(qIdCol), col(idCol)).cut()
    val a = approx.select(col(qIdCol), col(idCol))
    val hits = t.join(a, Seq(qIdCol, idCol), "left_semi")
      .groupBy(col(qIdCol)).agg(count(lit(1)).as("n_hits"))
    t.groupBy(col(qIdCol)).agg(count(lit(1)).as("n_true"))
      .join(hits, Seq(qIdCol), "left")
      .select(col(qIdCol), col("n_true"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        graft.functions.VectorFunctions.intDiv(
          coalesce(col("n_hits"), lit(0L)) * 10000L, col("n_true"))
          .as("recall_bp"))
      .orderBy(col(qIdCol))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk, arXiv:1811.01136 —
    * the CCMatrix/LASER candidate-pair criterion): align a source-language
    * and a target-language embedding set by MUTUAL-BEST margin, where the
    * margin of a pair is its similarity relative to the mean similarity of
    * each side's k nearest neighbors — absolute-cosine thresholds can't
    * separate "parallel" from "merely on-topic" in dense regions, the
    * ratio can.
    *
    * Cross-engine-exact construction (the quantized-family discipline):
    * vectors quantize to the `scale` grid, pairs score with the one
    * integer cos²·10⁴ formula ([[Dedup.cos2Score]] — anti-parallel pairs
    * excluded by its `dot > 0` guard), and the margin is integral:
    * `margin_fp = cos2_bp · 2k · marginScale div (Σtop-k(src) +
    * Σtop-k(tgt))` — `marginScale = 1000` reads as a milli-ratio
    * (1200 ⇒ the pair scores 1.2× its neighborhoods' k-NN mean). A
    * scored pair's own side-sums are ≥ its cos2_bp, so the denominator is
    * never zero and `margin_fp ≤ 2k·marginScale`. The per-side argmax is
    * the encoded-scalar pattern (`enc = margin_fp·2⁴⁰ + (2⁴⁰−1−id)`,
    * monotone in (margin, −id) — ids must be in [0, 2⁴⁰)), so both
    * engines take the identical max; mutual-best then needs only an
    * equi-join of the two argmax frames.
    *
    * Plan shape at scale: `candidates = None` scores ALL |src|×|tgt|
    * pairs — the correctness baseline, quadratic by declaration (the
    * [[bruteTopK]] cost model). The production path passes an LSH/IVF
    * candidate frame (`(srcIdCol, tgtIdCol)` — e.g.
    * [[quantizedLshTopK]]'s bucket equi-join), which also makes the k-NN
    * sums approximate exactly the way the paper's FAISS retrieval is.
    * The scored frame feeds three consumers (both k-NN sums + the margin
    * join) and the margin frame two (both argmax sides) — each is cut
    * once (lazy checkpoint, the multi-consumer rule); k-NN sums use the
    * bounded-heap collector folded WITHOUT re-exploding (k values per key
    * per map task, one shuffle each, no window sort).
    *
    * Returns one row per mutual-best pair with `margin_fp ≥ minMarginFp`:
    * `(srcIdCol, tgtIdCol, margin_fp)`.
    */
  def marginMine(src: DataFrame, tgt: DataFrame, k: Int = 4,
                 minMarginFp: Long = 0L, marginScale: Long = 1000L,
                 scale: Int = 64,
                 srcIdCol: String = "a", tgtIdCol: String = "b",
                 vecCol: String = "embedding",
                 candidates: Option[DataFrame] = None): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(marginScale > 0, s"marginScale must be positive, got $marginScale")
    val enc = 1L << 40
    val intDiv = graft.functions.VectorFunctions.intDiv _
    val vqA = Dedup.quantized(src, srcIdCol, vecCol, scale)
      .select(col(srcIdCol).as("a"), col("__vq")).cut()
    val vqB = Dedup.quantized(tgt, tgtIdCol, vecCol, scale)
      .select(col(tgtIdCol).as("b"), col("__vq")).cut()
    val pairs = candidates
      .map(_.select(col(srcIdCol).as("a"), col(tgtIdCol).as("b")))
      .getOrElse(vqA.select("a").crossJoin(vqB.select("b")))
    val scored = Dedup.cos2Score(pairs,
        vqA.select(col("a"), col("__vq").as("__va")),
        vqB.select(col("b"), col("__vq").as("__vb")))
      .select(col("a"), col("b"), col("cos2_bp"))
      .cut()
    // Σ of the k best cos2_bp per side: bounded-heap collect of the
    // (inverted-score, id, score) struct, then an in-array fold — no
    // explode, no second aggregation over the exploded rows.
    def knnSum(key: String, other: String): DataFrame =
      scored.select(col(key),
          struct((lit(10000L) - col("cos2_bp")).as("__inv"),
            col(other).as("__o"), col("cos2_bp").as("__c")).as("__s"))
        .groupBy(key)
        .agg(org.apache.spark.sql.graftbridge.ColumnBridge
          .collectTopK(org.apache.spark.sql.graftbridge.ColumnBridge
            .expression(col("__s")), k, reverse = true).as("__topk"))
        .select(col(key), aggregate(col("__topk"), lit(0L),
          (acc, x) => acc + x.getField("__c")).as(s"__sum_$key"))
    val margins = scored
      .join(knnSum("a", "b"), "a")
      .join(knnSum("b", "a"), "b")
      .select(col("a"), col("b"), intDiv(
          col("cos2_bp") * lit(2L * k * marginScale),
          col("__sum_a") + col("__sum_b")).as("margin_fp"))
      .cut()
    def best(key: String, other: String): DataFrame =
      margins.groupBy(key)
        .agg(max(col("margin_fp") * enc + (lit(enc - 1) - col(other)))
          .as(s"__e_$key"))
    val bestA = best("a", "b")
      .select(col("a"), (lit(enc - 1) - pmod(col("__e_a"), lit(enc))).as("b"),
        shiftright(col("__e_a"), 40).as("margin_fp"))
    val bestB = best("b", "a")
      .select(col("b").as("__b2"),
        (lit(enc - 1) - pmod(col("__e_b"), lit(enc))).as("__a2"))
    bestA.join(bestB,
        bestA("b") === bestB("__b2") && bestA("a") === bestB("__a2"))
      .where(col("margin_fp") >= minMarginFp)
      .select(col("a").as(srcIdCol), col("b").as(tgtIdCol), col("margin_fp"))
  }

  /** Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    * 1998) with λ = ½ cross-multiplied away: greedily pick
    * `argmax_d (simq(d) − max_{s∈S} sim(d,s))` — ties break to the
    * higher query similarity, then the lower id (the pool's sort
    * order). `sim` is the same signed quantized-cosine² the ANN tier
    * uses (`(dot²·2·10⁴ + nₐn_b) div (2·nₐn_b)`, 0 when dot ≤ 0 —
    * anti-correlation is not redundancy). This is retrieval-time
    * dedup: a result list full of near-identical hits keeps ONE of
    * each and back-fills with diverse members.
    *
    * The pool MUST be producer-bounded (a top-k limit upstream):
    * selection is inherently sequential, so the pool is collected and
    * the O(n²) sim matrix + greedy scan run driver-side — the
    * codebook discipline, enforced by a hard `require` at 4096 rows.
    * At 100 TB nothing changes: the corpus-sized work is the
    * producer's scored scan; re-ranking 20 rows is free. Expects
    * columns (idCol, simCol, vq: array<long>, na: long) as built by
    * the quantized scorer. Returns (rank, id, simq_bp,
    * redundancy_bp) with redundancy measured at selection time. */
  def mmrRerank(pool: DataFrame, k: Int, idCol: String = "vec_id",
                simCol: String = "simq_bp"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = pool.sparkSession
    import spark.implicits._
    val rows = pool.select(col(idCol).cast("long"), col(simCol).cast("long"),
      col("vq"), col("na").cast("long")).collect()
    require(rows.length <= 4096,
      s"mmrRerank pool must be producer-bounded (<= 4096 rows), got ${rows.length}")
    val sorted = rows.map { r =>
      (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toArray, r.getLong(3))
    }.sortBy { case (id, sq, _, _) => (-sq, id) }
    val n = sorted.length
    val pm = Array.tabulate(n, n) { (i, j) =>
      val (_, _, vi, nai) = sorted(i)
      val (_, _, vj, naj) = sorted(j)
      var dot = 0L
      var t = 0
      while (t < vi.length && t < vj.length) { dot += vi(t) * vj(t); t += 1 }
      if (dot > 0) (dot * dot * 20000L + nai * naj) / (nai * naj * 2L) else 0L
    }
    val sel = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    while (sel.length < math.min(k, n)) {
      val chosen = sel.map(_._1)
      var bestIdx = -1
      var bestMmr = Long.MinValue
      var bestRed = 0L
      var i = 0
      while (i < n) {
        if (!chosen.contains(i)) {
          val red =
            if (chosen.isEmpty) 0L else chosen.map(s => pm(i)(s)).max
          val mmr = sorted(i)._2 - red
          if (mmr > bestMmr) { bestIdx = i; bestMmr = mmr; bestRed = red }
        }
        i += 1
      }
      sel += ((bestIdx, bestRed))
    }
    sel.zipWithIndex.map { case ((i, red), r) =>
      ((r + 1).toLong, sorted(i)._1, sorted(i)._2, red)
    }.toSeq.toDF("rank", idCol, simCol, "redundancy_bp")
      .orderBy(col("rank"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two bounded ranked
    * lists — the standard hybrid-retrieval combiner for a lexical
    * (BM25) and a dense (embedding) list: rank positions, not scores,
    * are fused, so the two scoring scales never need calibration.
    * `rrf_fp = Σ_present 10⁶ div (kRrf + rank)` in exact integer
    * fixed point (rank 1-based). Inputs are `(idCol, rank)` frames each
    * bounded by its producer's top-k limit, so EVERYTHING here — the
    * full-outer join (which Spark cannot broadcast — both lists being
    * limit-sized is what keeps its sort-merge trivial at any corpus
    * scale) and the final ordering — is list-sized, never
    * corpus-sized. Absent ids carry rank 0 / no contribution. */
  def rrfFuse(lex: DataFrame, dense: DataFrame, kRrf: Long = 60L,
              limit: Int = 20, idCol: String = "id"): DataFrame = {
    require(kRrf >= 1, s"kRrf must be >= 1, got $kRrf")
    val intDiv = graft.functions.VectorFunctions.intDiv _
    val l = lex.select(col(idCol), col("rank").cast("long").as("__rl"))
    val d = dense.select(col(idCol), col("rank").cast("long").as("__rd"))
    l.join(d, Seq(idCol), "full_outer")
      .select(col(idCol),
        coalesce(col("__rl"), lit(0L)).as("rank_lex"),
        coalesce(col("__rd"), lit(0L)).as("rank_dense"),
        (coalesce(intDiv(lit(1000000L), col("__rl") + kRrf), lit(0L)) +
          coalesce(intDiv(lit(1000000L), col("__rd") + kRrf), lit(0L)))
          .as("rrf_fp"))
      .orderBy(col("rrf_fp").desc, col(idCol))
      .limit(limit)
  }
}
