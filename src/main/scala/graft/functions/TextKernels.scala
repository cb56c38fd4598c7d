package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Shared interpreted/codegen kernels for the shingle/minhash hot path.
  * Both reproduce the exact semantics of the Column formulations they
  * replace (pinned by TextKernelsSpec):
  *  - shingles: `transform(sequence(0, greatest(n-k, 0)), i =>
  *    concat_ws(" ", slice(split(text, " "), i+1, k)))` — same
  *    UTF8String.split(" ", -1) tokenization (empty tokens kept), same
  *    n-k+1 count with a single short shingle when n < k;
  *  - minhash lanes: lane i = min over shingles of
  *    `xxhash64(shingle, lit(i))` = the XxHash64 chain
  *    hashInt(i, hashString(shingle, seed 42)) — hashInt because lit(i)
  *    is an IntegerType child in the formulation being replaced.
  */
object TextKernelObjs {
  private val space = UTF8String.fromString(" ")

  def shingles(text: UTF8String, k: Int): ArrayData = {
    val toks = text.split(space, -1)
    val n = toks.length
    val count = math.max(n - k, 0) + 1
    val out = new Array[AnyRef](count)
    var i = 0
    while (i < count) {
      val end = math.min(i + k, n)
      var sh = toks(i)
      var j = i + 1
      while (j < end) { sh = UTF8String.concat(sh, space, toks(j)); j += 1 }
      out(i) = sh
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing fingerprint SET (Schleimer et al. 2003 — the MOSS
    * algorithm): hash every k-token gram, slide a window of `w`
    * consecutive gram hashes, keep each window's minimum; the distinct
    * selected values, sorted ascending, are the document's fingerprints.
    * Guarantee: two documents sharing any run of ≥ w+k-1 identical
    * tokens share at least one fingerprint — position-robust overlap
    * detection a single global min ([[minGramHash]]) can't give.
    *
    * All hashing is cross-engine-replayable integer arithmetic (NOT
    * xxhash): token hash = polynomial over code points, base 31 mod the
    * Mersenne prime 2³¹−1 (largest intermediate < 2³⁶); gram hash =
    * polynomial over token hashes, base 1000003 mod the same prime
    * (< 2⁵², ANSI-safe) — both spelled as a SQL `list_reduce` whose
    * first element seeds the accumulator. Tokens split on single
    * spaces, empties dropped (so both engines agree on positions);
    * n < k grams clip to the text end; m < w windows collapse to one
    * window over all grams; empty text → empty set. Only VALUES are
    * selected (no positions), so the rightmost-min tie rule of the
    * paper is moot here. O(m) via a monotonic deque. */
  /** The cross-engine-replayable token hash [[winnow]] and the DSIR
    * kernels share: polynomial over code points, base 31 mod the
    * Mersenne prime 2³¹−1 — one definition so the two families can
    * never drift. Tokens split on single spaces, empties dropped. */
  /** Static kernel under [[ContextTriples]]: positions fromPos..n of
    * the single-space token stream as (p2, p1, w) rows, p2/p1 null
    * while the context is shorter than the ladder needs. */
  def contextTriples(text: UTF8String, fromPos: Int): ArrayData = {
    val toks = text.split(space, -1)
    val n = toks.length
    if (n < fromPos) return new GenericArrayData(new Array[AnyRef](0))
    val out = new Array[AnyRef](n - fromPos + 1)
    var i = fromPos
    while (i <= n) {
      out(i - fromPos) = org.apache.spark.sql.catalyst.InternalRow(
        if (i >= 3) toks(i - 3) else null,
        if (i >= 2) toks(i - 2) else null,
        toks(i - 1))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Static kernel under [[PairGrams]]: position i's (token, successor)
    * pair, successor null at the last position — the word2phrase pair
    * walk of [[graft.llm.TextStats.phrases]]. */
  def pairGrams(text: UTF8String): ArrayData = {
    val toks = text.split(space, -1)
    val n = toks.length
    val out = new Array[AnyRef](n)
    var i = 0
    while (i < n) {
      out(i) = org.apache.spark.sql.catalyst.InternalRow(
        toks(i), if (i + 1 < n) toks(i + 1) else null)
      i += 1
    }
    new GenericArrayData(out)
  }

  def tokenHashes(text: UTF8String): Array[Long] = {
    val M = 2147483647L
    val toks = text.split(space, -1).filter(_.numChars() > 0)
    val n = toks.length
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = toks(i).toString
      var h = -1L
      var ci = 0
      while (ci < s.length) {
        val cp = s.codePointAt(ci)
        h = if (h < 0) cp.toLong else (h * 31L + cp) % M
        ci += Character.charCount(cp)
      }
      th(i) = h
      i += 1
    }
    th
  }

  /** k-gram hashes over [[tokenHashes]]: polynomial over token hashes,
    * base 1000003 mod the same Mersenne prime (largest intermediate
    * < 2⁵², ANSI-safe); n < k grams clip to the end, so n ≥ 1 tokens
    * always yield max(n−k, 0) + 1 grams. */
  def gramHashes(th: Array[Long], k: Int): Array[Long] = {
    val M = 2147483647L
    val n = th.length
    val m = math.max(n - k, 0) + 1
    val gh = new Array[Long](m)
    var p = 0
    while (p < m) {
      val end = math.min(p + k, n)
      var g = th(p)
      var j = p + 1
      while (j < end) { g = (g * 1000003L + th(j)) % M; j += 1 }
      gh(p) = g
      p += 1
    }
    gh
  }

  def winnow(text: UTF8String, k: Int, w: Int): ArrayData = {
    val th = tokenHashes(text)
    val n = th.length
    if (n == 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val gh = gramHashes(th, k)
    val m = gh.length
    val ws = math.min(w, m)
    val sel = new java.util.TreeSet[java.lang.Long]()
    val deque = new Array[Int](m)
    var head = 0
    var tail = -1
    var p = 0
    while (p < m) {
      while (tail >= head && gh(deque(tail)) >= gh(p)) tail -= 1
      tail += 1
      deque(tail) = p
      if (deque(head) <= p - ws) head += 1
      if (p >= ws - 1) sel.add(gh(deque(head)))
      p += 1
    }
    val out = new Array[Long](sel.size)
    val it = sel.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Hashed-n-gram bucket ids — the DSIR feature map (Xie et al. 2023,
    * arXiv:2302.03169): one bucket id per k-gram, bucket = [[gramHashes]]
    * mod `buckets`. Empty text → empty array (a doc with no tokens has
    * no features). Fully cross-engine-replayable integer arithmetic —
    * the llm_winnow oracle proves the hash chain in SQL. */
  def ngramBuckets(text: UTF8String, k: Int, buckets: Int): ArrayData = {
    val th = tokenHashes(text)
    if (th.length == 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val gh = gramHashes(th, k)
    var i = 0
    while (i < gh.length) { gh(i) = gh(i) % buckets; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(gh)
  }

  /** Length-normalized hashed-n-gram importance score: 1024·Σ w[bucket]
    * over the doc's k-grams, truncating-divided by the gram count (Java
    * `/` = SQL `div` = DuckDB `//` — all truncate toward zero). NULL
    * (boxed null) when the doc has no tokens: a featureless doc cannot
    * be scored. Largest intermediate: |Σw| ≤ m·2¹⁷ and ·1024 keeps it
    * < 2⁶³ for any real corpus (m < 2³⁵ grams per doc). */
  def ngramScoreBoxed(text: UTF8String, k: Int, buckets: Int,
                      weights: Array[Long]): java.lang.Long = {
    val th = tokenHashes(text)
    if (th.length == 0) return null
    val gh = gramHashes(th, k)
    var sum = 0L
    var i = 0
    while (i < gh.length) { sum += weights((gh(i) % buckets).toInt); i += 1 }
    java.lang.Long.valueOf(sum * 1024L / gh.length)
  }

  /** Content hash of the WHOLE text under the same cross-engine
    * polynomial chain as [[tokenHashes]] (base 31 over code points, mod
    * 2³¹−1, spaces included): the manifest-checksum hash — summable
    * per shard into an order-invariant release fingerprint, and
    * replayable in SQL as a `list_reduce` over the character split.
    * Empty text → 0. */
  def charPolyHash(text: UTF8String): Long = {
    val M = 2147483647L
    val s = text.toString
    if (s.isEmpty) return 0L
    var h = -1L
    var ci = 0
    while (ci < s.length) {
      val cp = s.codePointAt(ci)
      h = if (h < 0) cp.toLong else (h * 31L + cp) % M
      ci += Character.charCount(cp)
    }
    h
  }

  /** min over i of xxhash64(substr(text, i, gram)) for i in
    * 1..max(len-gram+1, 1) — the winnowing fingerprint, identical to the
    * `array_min(transform(sequence(...), i => xxhash64(substr(...))))`
    * formulation (same SQL substr clipping on short strings). */
  def minGramHash(text: UTF8String, gram: Int): Long = {
    val count = math.max(text.numChars() - (gram - 1), 1)
    var best = Long.MaxValue
    var i = 1
    while (i <= count) {
      val g = text.substringSQL(i, gram)
      val h = XXH64.hashUnsafeBytes(g.getBaseObject, g.getBaseOffset, g.numBytes, 42L)
      if (h < best) best = h
      i += 1
    }
    best
  }

  /** The CROSS-ENGINE twin of [[minGramHash]]: min over rolling CHAR-gram
    * polynomial hashes — each gram hashed by the base-31 code-point chain
    * of [[tokenHashes]] (first code point seeds, then (h·31+cp) mod
    * 2³¹−1), so a DuckDB `list_reduce` over `string_split(text, '')`
    * slices replays every gram bit-for-bit (the llm_winnow discipline).
    * Positions 1..max(numChars−gram+1, 1); a text shorter than `gram`
    * hashes once, whole. Boxed null on EMPTY text (no gram exists —
    * DuckDB's list_reduce errors on an empty slice, so both engines
    * filter empty docs instead of inventing a sentinel). */
  def minGramHashPolyBoxed(text: UTF8String, gram: Int): java.lang.Long = {
    val M = 2147483647L
    val nc = text.numChars()
    if (nc == 0) return null
    val count = math.max(nc - (gram - 1), 1)
    var best = Long.MaxValue
    var i = 1
    while (i <= count) {
      val s = text.substringSQL(i, gram).toString
      var h = -1L
      var ci = 0
      while (ci < s.length) {
        val cp = s.codePointAt(ci)
        h = if (h < 0) cp.toLong else (h * 31L + cp) % M
        ci += Character.charCount(cp)
      }
      if (h < best) best = h
      i += 1
    }
    best
  }

  def minHashLanes(shingles: ArrayData, numLanes: Int): ArrayData = {
    val m = shingles.numElements()
    val lanes = new Array[Long](numLanes)
    java.util.Arrays.fill(lanes, Long.MaxValue)
    var i = 0
    while (i < m) {
      if (!shingles.isNullAt(i)) {
        val s = shingles.getUTF8String(i)
        // same bytes Spark's XxHash64 hashes for a StringType child
        val h0 = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        var l = 0
        while (l < numLanes) {
          val v = XXH64.hashInt(l, h0)
          if (v < lanes(l)) lanes(l) = v
          l += 1
        }
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(lanes)
  }

  /** All MinHash lanes under the CROSS-ENGINE affine family — the
    * poly-hash twin of [[minHashLanes]]: shingle universe =
    * [[gramHashes]] over [[tokenHashes]] (base-31 / base-1000003 chains
    * mod the Mersenne prime 2³¹−1, the exact arithmetic the llm_winnow
    * oracle already replays in SQL), lane i = min over gram hashes g of
    * `((2i+3)·g + (5i+7)) mod (2³¹−1)` — an affine map over the prime
    * field, pairwise-independent like any universal family, and every
    * intermediate < 2³⁸ so DuckDB BIGINT replays it exactly. xxhash64
    * mixes better; THIS family exists so the whole LSH pipeline can be
    * oracle-gated end to end. Empty/whitespace-only text → null (a doc
    * with no tokens has no shingles, hence no signature). */
  def polyMinHashLanes(text: UTF8String, k: Int, numLanes: Int): ArrayData = {
    val M = 2147483647L
    val th = tokenHashes(text)
    if (th.length == 0) return null
    val gh = gramHashes(th, k)
    val lanes = new Array[Long](numLanes)
    var l = 0
    while (l < numLanes) {
      val a = 2L * l + 3L
      val b = 5L * l + 7L
      var best = Long.MaxValue
      var j = 0
      while (j < gh.length) {
        val v = (a * gh(j) + b) % M
        if (v < best) best = v
        j += 1
      }
      lanes(l) = best
      l += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(lanes)
  }

  /** Per-bit SimHash lane constants: multiplier `48271^(j+1) mod 2³¹−1`
    * (MINSTD powers — multiplication mod the Mersenne prime is a strong
    * mixer; the [[polyMinHashLanes]]-style SMALL affine multipliers are
    * nearly monotone maps whose threshold signs correlate across lanes,
    * measured: on the fixture they put ~90% of all pairs within Hamming
    * 3) and offset `j·2654435761 mod 2³¹−1`. One formula generates both
    * the kernel's table and the oracle's VALUES literal — the codebook
    * discipline, so the engines cannot drift. */
  def simHashLaneConsts(bits: Int): Seq[(Long, Long)] = {
    val M = 2147483647L
    var k = 1L
    (0 until bits).map { j =>
      k = (k * 48271L) % M
      (k, (j * 2654435761L) % M)
    }
  }

  private val simHashK: Array[Long] = simHashLaneConsts(32).map(_._1).toArray
  private val simHashC: Array[Long] = simHashLaneConsts(32).map(_._2).toArray

  /** Cross-engine SimHash over [[tokenHashes]]'s polynomial token
    * hashes: bit j of the signature is the majority vote, over the
    * document's tokens, of the mixed lane `(K_j·h + C_j) mod 2³¹−1`
    * exceeding the modulus midpoint (the hash-threshold hyperplane
    * construction — each lane splits the hash space in half, so each
    * bit is a ±1 vote per token; ties land 0; constants from
    * [[simHashLaneConsts]]). `bits ≤ 32`; null for token-free text.
    * Replays in SQL as `list_sum` over CASE votes against the planted
    * constant table — largest intermediate (2³¹−2)² + 2³¹ < 2⁶². */
  def polySimHash(text: UTF8String, bits: Int): java.lang.Long = {
    val M = 2147483647L
    val half = (M - 1) / 2
    val th = tokenHashes(text)
    if (th.length == 0) return null
    var sig = 0L
    var j = 0
    while (j < bits) {
      val kj = simHashK(j)
      val cj = simHashC(j)
      var vote = 0L
      var i = 0
      while (i < th.length) {
        val v = (kj * th(i) + cj) % M
        vote += (if (v > half) 1L else -1L)
        i += 1
      }
      if (vote > 0) sig |= (1L << j)
      j += 1
    }
    java.lang.Long.valueOf(sig)
  }

  // per-thread Deflater, reset per row — raw deflate (no zlib header),
  // fixed level 6 so the signal is comparable across the corpus
  private val deflaters: ThreadLocal[java.util.zip.Deflater] =
    ThreadLocal.withInitial(() => new java.util.zip.Deflater(6, true))

  /** round-half-up basis points of compressedBytes/rawBytes; empty
    * input → 10000 (ratio 1.0) by convention. */
  def compressionBp(text: UTF8String): Long = {
    val raw = text.getBytes
    if (raw.length == 0) return 10000L
    val d = deflaters.get()
    d.reset()
    d.setInput(raw)
    d.finish()
    val buf = new Array[Byte](128)
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    (total * 20000L + raw.length) / (2L * raw.length)
  }

  /** Shannon entropy of the CHARACTER distribution in fixed point
    * (1/1024-bit units) — exact integer arithmetic, replayable in ANSI
    * SQL via the `length(bin(x))` kit: with character counts c_i over
    * n = Σc_i characters,
    *   H_fp = (n·l2(n) − Σ c_i·l2(c_i)) div n,
    * l2(x) = msb·1024 + (x·1024 >> msb) − 1024 (the [[graft.llm
    * .TextStats]] dsirWeights definition — one l2 everywhere). Counting
    * is over CODEPOINTS — the same unit as Spark's `length()` and
    * DuckDB's `string_split(text, '')`, so the three agree beyond the
    * BMP too. Sort-then-run-count: no per-row hash map, one int-array
    * copy, deterministic (long sums are order-free anyway). Empty
    * text → 0 by convention. */
  /** Gopher repetition gram statistics in ONE pass over the token
    * array: `[top_mass, dup_cover]` where
    *  - `top_mass` = occurrences of the most frequent `topN`-gram ×
    *    the gram's code-point length (tokens joined by single spaces;
    *    ties → the binary-smallest gram string, which on UTF-8 is
    *    exactly DuckDB's default collation, so `row_number() OVER
    *    (ORDER BY c DESC, g)` replays the choice), and
    *  - `dup_cover` = number of token POSITIONS covered by at least
    *    one `dupN`-gram occurring ≥ 2 times in the document (the
    *    coverage semantics of the substring-dedup tier, scored instead
    *    of rewritten).
    * Fewer tokens than the gram size → zero grams → 0. The two maps
    * are per-row and gram-count-sized; no explode, no shuffle. */
  def repGramStats(tokens: ArrayData, topN: Int, dupN: Int): ArrayData = {
    val n = tokens.numElements()
    def gram(start: Int, k: Int): UTF8String = {
      var g = tokens.getUTF8String(start)
      var j = start + 1
      while (j < start + k) {
        g = UTF8String.concat(g, space, tokens.getUTF8String(j)); j += 1
      }
      g
    }
    var topMass = 0L
    if (n >= topN) {
      val counts = new java.util.HashMap[UTF8String, Array[Int]]()
      var i = 0
      while (i <= n - topN) {
        val c = counts.computeIfAbsent(gram(i, topN), _ => Array(0))
        c(0) += 1
        i += 1
      }
      var best: UTF8String = null
      var bestC = 0
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val c = e.getValue()(0)
        if (c > bestC || (c == bestC && (best == null || e.getKey.compareTo(best) < 0))) {
          best = e.getKey; bestC = c
        }
      }
      if (best != null) topMass = bestC.toLong * best.numChars()
    }
    var cover = 0L
    if (n >= dupN) {
      val counts = new java.util.HashMap[UTF8String, Array[Int]]()
      var i = 0
      while (i <= n - dupN) {
        val c = counts.computeIfAbsent(gram(i, dupN), _ => Array(0))
        c(0) += 1
        i += 1
      }
      val covered = new Array[Boolean](n)
      i = 0
      while (i <= n - dupN) {
        if (counts.get(gram(i, dupN))(0) >= 2) {
          var j = i
          while (j < i + dupN) { covered(j) = true; j += 1 }
        }
        i += 1
      }
      var j = 0
      while (j < n) { if (covered(j)) cover += 1L; j += 1 }
    }
    new GenericArrayData(Array(topMass, cover))
  }

  def charEntropyFp(text: UTF8String): Long = {
    val a = text.toString.codePoints().toArray
    val n = a.length.toLong
    if (n == 0L) return 0L
    java.util.Arrays.sort(a)
    def l2(x: Long): Long = {
      val msb = 63 - java.lang.Long.numberOfLeadingZeros(x)
      msb * 1024L + ((x << 10) >> msb) - 1024L
    }
    var acc = 0L
    var i = 0
    while (i < a.length) {
      var j = i
      while (j < a.length && a(j) == a(i)) j += 1
      val c = (j - i).toLong
      acc += c * l2(c)
      i = j
    }
    (n * l2(n) - acc) / n
  }

  /** Join `toks` with single spaces, skipping the 1-based positions in
    * `pos` — [[graft.llm.Dedup.substringDedup]]'s reassembly as one
    * compiled merge walk. `pos` must be ascending and distinct (the
    * caller's sort_array(collect_set) contract); out-of-range entries
    * are impossible by the covered-window construction but would simply
    * be skipped by the walk. Empty result (all positions covered) is
    * the empty string, matching `coalesce(array_join(...), '')`. */
  def removeAtJoin(toks: ArrayData, pos: ArrayData): UTF8String = {
    val n = toks.numElements()
    val m = pos.numElements()
    val kept = new Array[UTF8String](n)
    var i = 0; var p = 0; var k = 0
    while (i < n) {
      while (p < m && pos.getInt(p) < i + 1) p += 1
      if (p < m && pos.getInt(p) == i + 1) p += 1
      else { kept(k) = toks.getUTF8String(i); k += 1 }
      i += 1
    }
    UTF8String.concatWs(UTF8String.fromString(" "),
      java.util.Arrays.copyOf(kept, k): _*)
  }
}

/** Word k-shingles of a string column as ONE narrow kernel — replaces a
  * split + sequence + transform(slice + concat_ws) chain whose lambda
  * body ran on the interpreted HOF path, allocating per shingle. */
case class WordShingles(child: Expression, k: Int) extends UnaryExpression with StaticKernel {
  require(k > 0, "shingle size k must be positive")
  def kernel: Kernel = Kernel("graft_word_shingles", Seq(StringType),
    ArrayType(StringType, containsNull = false))("shingles", k)
}

object WordShingles {
  def apply(text: Column, k: Int): Column = StaticKernel.on(text)(WordShingles(_, k))
}

/** All MinHash lanes of a shingle array as ONE narrow kernel: lane i is
  * `min(xxhash64(shingle, i))`, bit-identical to the
  * posexplode + H-min-lane groupBy it replaces — minhash, like simhash,
  * is a pure per-document function, so computing it in a projection
  * removes the shingle stream's explode AND its aggregation shuffle from
  * [[graft.llm.Dedup.minHashNearDups]]; the banding join becomes the
  * only wide op. Each shingle's string hash is computed once and the
  * per-lane values derive from it with one hashLong each — H× less
  * string hashing than the exploded form. Empty array → all-MaxValue
  * lanes (unreachable via [[WordShingles]], which emits ≥ 1 shingle). */
case class MinHashLanes(child: Expression, numLanes: Int)
    extends UnaryExpression with StaticKernel {
  require(numLanes > 0, "need at least one lane")
  def kernel: Kernel = Kernel("graft_minhash_lanes", Seq(ArrayType(StringType)),
    Kernel.LongArray)("minHashLanes", numLanes)
}

object MinHashLanes {
  def apply(shingles: Column, numLanes: Int): Column =
    StaticKernel.on(shingles)(MinHashLanes(_, numLanes))
}

/** MinHash lanes under the cross-engine affine family, straight from the
  * text column ([[TextKernelObjs.polyMinHashLanes]]) — the oracle-gatable
  * signature side of [[graft.llm.Dedup.polyMinHashNearDups]]. Unlike
  * [[MinHashLanes]] this never materializes shingle STRINGS at all: the
  * k-gram universe is the integer gram-hash chain, so the per-row cost is
  * one token-hash pass + numLanes·m multiply-mods. Null for tokenless
  * text (no shingles → no signature → the doc drops from banding). */
case class PolyMinHashLanes(child: Expression, k: Int, numLanes: Int)
    extends UnaryExpression with StaticKernel {
  require(k > 0, "shingle size k must be positive")
  require(numLanes > 0, "need at least one lane")
  def kernel: Kernel = Kernel("graft_poly_minhash_lanes", Seq(StringType), Kernel.LongArray,
    nullable = true)("polyMinHashLanes", k, numLanes)
}

object PolyMinHashLanes {
  def apply(text: Column, k: Int, numLanes: Int): Column =
    StaticKernel.on(text)(PolyMinHashLanes(_, k, numLanes))
}

/** [[TextKernelObjs.polySimHash]] as a narrow codegen kernel — the
  * cross-engine twin of [[SimHash64]] (which votes on xxhash64 bits and
  * therefore can't be replayed in SQL). Null for tokenless text. */
case class PolySimHash(child: Expression, bits: Int) extends UnaryExpression with StaticKernel {
  require(bits > 0 && bits <= 32, s"bits must be in [1, 32], got $bits")
  def kernel: Kernel = Kernel("graft_poly_simhash", Seq(StringType), LongType,
    nullable = true)("polySimHash", bits)
}

object PolySimHash {
  def apply(text: Column, bits: Int): Column = StaticKernel.on(text)(PolySimHash(_, bits))
}

/** Occurrence count of tokens belonging to a fixed marker set, as ONE
  * narrow kernel — replaces `size(filter(toks, t => array_contains(
  * array(markers...), t)))`, whose lambda ran per token on the
  * interpreted HOF path with a linear scan of the marker array. The set
  * probes as a hash set; null elements don't count (the filter lambda's
  * null predicate dropped them too). */
case class CountTokensIn(child: Expression, markers: Seq[String])
    extends UnaryExpression {

  @transient private lazy val set: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](markers.size * 2)
    markers.foreach(m => s.add(UTF8String.fromString(m)))
    s
  }

  override def prettyName: String = "graft_count_tokens_in"
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<string> input, got ${t.sql}")
  }

  def count(arr: ArrayData): Long = {
    var n = 0L
    var i = 0
    val m = arr.numElements()
    while (i < m) {
      if (!arr.isNullAt(i) && set.contains(arr.getUTF8String(i))) n += 1
      i += 1
    }
    n
  }

  override def nullSafeEval(input: Any): Any =
    count(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("countTokensIn", this,
      classOf[CountTokensIn].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $self.count($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CountTokensIn {
  def apply(tokens: Column, markers: Seq[String]): Column =
    ColumnBridge.column(CountTokensIn(ColumnBridge.expression(tokens), markers))
}

/** Winnowing-style rolling-gram fingerprint as ONE narrow kernel —
  * replaces a transform-over-sequence HOF that paid an interpreted
  * xxhash64 + substr per character position. */
case class MinGramHash(child: Expression, gram: Int) extends UnaryExpression with StaticKernel {
  require(gram > 0, "gram size must be positive")
  def kernel: Kernel =
    Kernel("graft_min_gram_hash", Seq(StringType), LongType)("minGramHash", gram)
}

object MinGramHash {
  def apply(text: Column, gram: Int): Column = StaticKernel.on(text)(MinGramHash(_, gram))
}

/** [[TextKernelObjs.minGramHashPolyBoxed]] as a narrow codegen kernel —
  * the CROSS-ENGINE twin of [[MinGramHash]]: same rolling char-gram min,
  * but each gram hashed by the base-31 code-point chain mod 2³¹−1
  * instead of xxhash64, so the whole fingerprint replays in DuckDB SQL
  * (llm_fingerprint_poly). NULL on empty text (no gram exists). */
case class PolyMinGramHash(child: Expression, gram: Int)
    extends UnaryExpression with StaticKernel {
  require(gram > 0, "gram size must be positive")
  def kernel: Kernel = Kernel("graft_poly_min_gram_hash", Seq(StringType), LongType,
    nullable = true)("minGramHashPolyBoxed", gram)
}

object PolyMinGramHash {
  def apply(text: Column, gram: Int): Column = StaticKernel.on(text)(PolyMinGramHash(_, gram))
}

/** [[TextKernelObjs.charPolyHash]] as a narrow codegen kernel: the
  * whole-text polynomial content hash backing shard-manifest checksums. */
case class CharPolyHash(child: Expression) extends UnaryExpression with StaticKernel {
  def kernel: Kernel = Kernel("graft_char_poly_hash", Seq(StringType), LongType)("charPolyHash")
}

object CharPolyHash {
  def apply(text: Column): Column = StaticKernel.on(text)(CharPolyHash(_))
}

/** [[TextKernelObjs.winnow]] as a narrow codegen kernel: the document's
  * winnowing fingerprint set (distinct selected window-min gram hashes,
  * sorted ascending). */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with StaticKernel {
  require(k > 0, s"gram size k must be positive, got $k")
  require(w > 0, s"window size w must be positive, got $w")
  def kernel: Kernel = Kernel("graft_winnow", Seq(StringType), Kernel.LongArray)("winnow", k, w)
}

object WinnowFingerprints {
  def apply(text: Column, k: Int, w: Int): Column =
    StaticKernel.on(text)(WinnowFingerprints(_, k, w))
}

/** Deflate compression ratio of the text's UTF-8 bytes in 4dp basis
  * points (round-half-up integer arithmetic): the RefinedWeb-style
  * "machine-generated / templated text compresses too well" quality
  * signal. One narrow kernel per document — the per-thread Deflater is
  * reused across rows (reset, raw mode, fixed level 6), so the hot loop
  * allocates only the output buffer. Deflate output length is
  * deterministic for a given JVM's zlib, identical across partitions
  * and runs on one cluster image — but NOT contractual across engines,
  * which is why the operator is spec-gated, not DuckDB-oracle-gated.
  * Empty text → 10000 (ratio 1.0) by convention. */
case class CompressionRatioBp(child: Expression) extends UnaryExpression with StaticKernel {
  def kernel: Kernel = Kernel("graft_compression_bp", Seq(StringType), LongType)("compressionBp")
}

object CompressionRatioBp {
  def apply(text: Column): Column = StaticKernel.on(text)(CompressionRatioBp(_))
}

/** Fixed-point character-entropy kernel ([[TextKernelObjs.charEntropyFp]])
  * — the gibberish/noise face of the quality family: natural prose sits
  * around 4.1–4.4 bits/char (4200–4500 fp), single-character spam at 0,
  * base64/random blobs near 6 (≈6100 fp). One narrow codegen'd
  * projection; cross-engine exact, so oracle-gated (llm_entropy) where
  * [[CompressionRatioBp]]'s deflate bytes never can be. */
case class CharEntropyFp(child: Expression) extends UnaryExpression with StaticKernel {
  def kernel: Kernel = Kernel("graft_char_entropy_fp", Seq(StringType), LongType)("charEntropyFp")
}

object CharEntropyFp {
  def apply(text: Column): Column = StaticKernel.on(text)(CharEntropyFp(_))
}

/** [[TextKernelObjs.repGramStats]] as a narrow codegen kernel: the
  * Gopher repetition battery's gram pass — `[top_mass, dup_cover]` per
  * document, per-row maps, no explode (the HOF formulation of the top-
  * gram argmax is O(grams²) in interpreted lambdas; the explode one is
  * a corpus-wide shuffle per gram size). Cross-engine exact — both
  * outputs are integer counts over the single-space gram strings, so
  * the whole battery is oracle-gated. */
case class RepGramStats(child: Expression, topN: Int, dupN: Int)
    extends UnaryExpression with StaticKernel {
  require(topN > 0, s"topN must be positive, got $topN")
  require(dupN > 0, s"dupN must be positive, got $dupN")
  def kernel: Kernel = Kernel("graft_rep_gram_stats", Seq(ArrayType(StringType)),
    Kernel.LongArray)("repGramStats", topN, dupN)
}

object RepGramStats {
  def apply(tokens: Column, topN: Int, dupN: Int): Column =
    StaticKernel.on(tokens)(RepGramStats(_, topN, dupN))
}

/** Trigram-context positions of a document in one compiled walk — the
  * projection under [[graft.llm.TextStats.backoffScore]]'s two scans
  * (train side `fromPos = 1`, null-padded contexts; score side
  * `fromPos = 3`, full contexts only — a doc with fewer than `fromPos`
  * tokens emits nothing). Bit-identical to the interpreted reference
  *
  *   `explode(transform(sequence(fromPos, size(t)), i => struct(
  *      when(i >= 3, t[i-2]) as p2, when(i >= 2, t[i-1]) as p1,
  *      t[i] as w)))` (guarded to empty when size(t) < fromPos)
  *
  * which ran its lambda body INTERPRETED per position — the r20
  * gramStream finding applied to the backoff LM's hot loop (the train
  * side walks half the corpus). Same single-space split as the
  * formulation it replaces (empty tokens kept). */
case class ContextTriples(child: Expression, fromPos: Int)
    extends UnaryExpression with StaticKernel {
  require(fromPos == 1 || fromPos == 3,
    s"fromPos must be 1 (padded) or 3 (full contexts), got $fromPos")
  def kernel: Kernel = Kernel("graft_context_triples", Seq(StringType), ArrayType(StructType(Seq(
    StructField("p2", StringType, nullable = true),
    StructField("p1", StringType, nullable = true),
    StructField("w", StringType, nullable = false))),
    containsNull = false))("contextTriples", fromPos)
}

object ContextTriples {
  def apply(text: Column, fromPos: Int): Column = StaticKernel.on(text)(ContextTriples(_, fromPos))
}

/** Adjacent-token pairs of a document in one compiled walk — the
  * projection under [[graft.llm.TextStats.phrases]]'s corpus scan.
  * Bit-identical to the interpreted reference
  * `zip_with(t, concat(slice(t, 2, greatest(size(t)-1, 0)),
  * array(null)), (a, b) -> struct(a, b))` — position i pairs with its
  * successor, the last position with null (the word2phrase boundary
  * marker). Same single-space split (empty tokens kept). */
case class PairGrams(child: Expression) extends UnaryExpression with StaticKernel {
  def kernel: Kernel = Kernel("graft_pair_grams", Seq(StringType), ArrayType(StructType(Seq(
    StructField("w1", StringType, nullable = false),
    StructField("w2", StringType, nullable = true))),
    containsNull = false))("pairGrams")
}

object PairGrams {
  def apply(text: Column): Column = StaticKernel.on(text)(PairGrams(_))
}

/** Space-join of a token array MINUS a sorted set of 1-based positions,
  * in one compiled merge walk — [[graft.llm.Dedup.substringDedup]]'s
  * reassembly. Bit-identical to the interpreted reference
  *
  *   `coalesce(array_join(transform(sort_array(collect_list(struct(i,
  *      tok))), s -> s.tok), " "), "")` over anti-joined kept tokens
  *
  * which rebuilt EVERY document through a corpus-token-stream groupBy +
  * sort-based collect (the r15 collect-agg class) and ran its transform
  * lambda interpreted per kept token. Positions must be ascending and
  * distinct (sort_array(collect_set) upstream). */
case class RemoveAtJoin(left: Expression, right: Expression)
    extends BinaryExpression with StaticKernel {
  def kernel: Kernel = Kernel("graft_remove_at_join",
    Seq(ArrayType(StringType), ArrayType(IntegerType)), StringType)("removeAtJoin")
}

object RemoveAtJoin {
  def apply(toks: Column, pos: Column): Column =
    ColumnBridge.column(RemoveAtJoin(
      ColumnBridge.expression(toks), ColumnBridge.expression(pos)))
}
