package graft.functions

import java.nio.file.{Files, Paths}

import graft.{SourceGuard, SparkSpec}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._

/** WordShingles / MinHashLanes: the narrow kernels must be bit-identical
  * to the Column formulations they replaced — including split()'s
  * empty-token behavior and xxhash64's hashInt seed chaining. */
class TextKernelsSpec extends SparkSpec {
  import spark.implicits._

  // tricky tokenizations: repeated spaces, trailing space, n < k, 1 token
  private def texts = Seq(
    (0L, "the quick brown fox"),
    (1L, "a  double  space"),
    (2L, "trailing space "),
    (3L, "short"),
    (4L, ""),
    (5L, "exactly two"))
    .toDF("doc_id", "text")

  private def naiveShingles(k: Int) = {
    val toks = split(col("text"), " ")
    val n = org.apache.spark.sql.functions.size(toks)
    texts.select(col("doc_id"),
      transform(sequence(lit(0), greatest(n - k, lit(0))),
        i => concat_ws(" ", slice(toks, i + 1, lit(k)))).as("sh"))
  }

  test("WordShingles matches split+transform+slice+concat_ws exactly") {
    for (k <- Seq(1, 2, 3, 7)) {
      val kernel = texts.select(col("doc_id"),
          WordShingles(col("text"), k).as("sh"))
        .as[(Long, Seq[String])].collect().toMap
      val naive = naiveShingles(k).as[(Long, Seq[String])].collect().toMap
      kernel shouldBe naive
    }
  }

  test("ContextTriples matches the interpreted transform(sequence) reference (r20)") {
    val t = split(col("text"), " ")
    val n = org.apache.spark.sql.functions.size(t)
    // fromPos = 1: the train-side padded walk
    val ref1 = texts.select(col("doc_id"),
      transform(sequence(lit(1), n), i => struct(
        when(i >= 3, element_at(t, i - 2)).as("p2"),
        when(i >= 2, element_at(t, i - 1)).as("p1"),
        element_at(t, i).as("w"))).as("s"))
      .as[(Long, Seq[(Option[String], Option[String], String)])]
      .collect().toMap
    val ker1 = texts.select(col("doc_id"),
      ContextTriples(col("text"), 1).as("s"))
      .as[(Long, Seq[(Option[String], Option[String], String)])]
      .collect().toMap
    ker1 shouldBe ref1
    // fromPos = 3: the score-side full-context walk with the short-doc
    // guard (size < 3 → no positions)
    val ref3 = texts.select(col("doc_id"),
      when(n >= 3, transform(sequence(lit(3), n), i => struct(
        element_at(t, i - 2).as("p2"),
        element_at(t, i - 1).as("p1"),
        element_at(t, i).as("w"))))
        .otherwise(array().cast("array<struct<p2:string,p1:string,w:string>>"))
        .as("s"))
      .as[(Long, Seq[(Option[String], Option[String], String)])]
      .collect().toMap
    val ker3 = texts.select(col("doc_id"),
      ContextTriples(col("text"), 3).as("s"))
      .as[(Long, Seq[(Option[String], Option[String], String)])]
      .collect().toMap
    ker3 shouldBe ref3
    // null text → null triples (UnaryExpression null propagation)
    val nulls = Seq((0L, null: String)).toDF("doc_id", "text")
      .select(ContextTriples(col("text"), 1).as("s"))
      .collect()
    nulls.head.isNullAt(0) shouldBe true
  }

  test("PairGrams matches the interpreted zip_with reference (r20)") {
    val t = split(col("text"), " ")
    val n = org.apache.spark.sql.functions.size(t)
    val ref = texts.select(col("doc_id"), zip_with(
      t, concat(slice(t, lit(2), greatest(n - 1, lit(0))),
        array(lit(null).cast("string"))),
      (a, b) => struct(a.as("w1"), b.as("w2"))).as("p"))
      .as[(Long, Seq[(String, Option[String])])].collect().toMap
    val ker = texts.select(col("doc_id"), PairGrams(col("text")).as("p"))
      .as[(Long, Seq[(String, Option[String])])].collect().toMap
    ker shouldBe ref
    val nulls = Seq((0L, null: String)).toDF("doc_id", "text")
      .select(PairGrams(col("text")).as("p")).collect()
    nulls.head.isNullAt(0) shouldBe true
  }

  test("MinHashLanes matches min(xxhash64(shingle, i)) per lane") {
    val h = 6
    val kernel = texts.select(col("doc_id"),
        MinHashLanes(WordShingles(col("text"), 2), h).as("mh"))
      .as[(Long, Seq[Long])].collect().toMap
    val sh = texts.select(col("doc_id"),
      explode(WordShingles(col("text"), 2)).as("shingle"))
    val lanes = (0 until h).map(i =>
      min(xxhash64(col("shingle"), lit(i))).as(s"mh$i"))
    val naive = sh.groupBy("doc_id").agg(lanes.head, lanes.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to h).map(r.getLong)).toMap
    kernel.keySet shouldBe naive.keySet
    kernel.foreach { case (id, mh) => mh shouldBe naive(id) }
  }

  // independent reference: straightforward Scala reimplementation of the
  // token-chain / gram-chain / affine-lane arithmetic (no shared code
  // with the kernel beyond the published constants)
  private def refPolyLanes(text: String, k: Int, h: Int): Option[Seq[Long]] = {
    val M = 2147483647L
    val toks = text.split(" ", -1).filter(_.nonEmpty)
    if (toks.isEmpty) return None
    val th = toks.map(t =>
      t.codePoints().toArray.foldLeft(-1L)((a, c) =>
        if (a < 0) c.toLong else (a * 31 + c) % M))
    val m = math.max(th.length - k, 0) + 1
    val gh = (0 until m).map { p =>
      th.slice(p, math.min(p + k, th.length)).reduceLeft((a, b) => (a * 1000003 + b) % M)
    }
    Some((0 until h).map(i => gh.map(g => ((2L * i + 3) * g + (5L * i + 7)) % M).min))
  }

  test("PolyMinHashLanes matches the independent reference, null on tokenless text") {
    for (k <- Seq(1, 2, 3)) {
      val kernel = texts.select(col("doc_id"),
          PolyMinHashLanes(col("text"), k, 8).as("mh"))
        .as[(Long, Option[Seq[Long]])].collect().toMap
      val expected = texts.as[(Long, String)].collect()
        .map { case (id, t) => id -> refPolyLanes(t, k, 8) }.toMap
      kernel shouldBe expected
    }
    // doc 4 is empty → tokenless → null signature
    texts.where(col("doc_id") === 4L)
      .select(PolyMinHashLanes(col("text"), 2, 4).isNull).as[Boolean].head() shouldBe true
  }

  // independent SimHash reference: recompute the MINSTD-power constants
  // from their published recurrence and replay the vote arithmetic
  private def refPolySimHash(text: String, bits: Int): Option[Long] = {
    val M = 2147483647L
    val toks = text.split(" ", -1).filter(_.nonEmpty)
    if (toks.isEmpty) return None
    val th = toks.map(t =>
      t.codePoints().toArray.foldLeft(-1L)((a, c) =>
        if (a < 0) c.toLong else (a * 31 + c) % M))
    var k = 1L
    var sig = 0L
    for (j <- 0 until bits) {
      k = (k * 48271L) % M
      val c = (j * 2654435761L) % M
      val vote = th.map(h => if ((k * h + c) % M > (M - 1) / 2) 1L else -1L).sum
      if (vote > 0) sig |= (1L << j)
    }
    Some(sig)
  }

  test("PolySimHash matches the independent reference, null on tokenless text") {
    for (bits <- Seq(8, 32)) {
      val kernel = texts.select(col("doc_id"),
          PolySimHash(col("text"), bits).as("sh"))
        .as[(Long, Option[Long])].collect().toMap
      val expected = texts.as[(Long, String)].collect()
        .map { case (id, t) => id -> refPolySimHash(t, bits) }.toMap
      kernel shouldBe expected
    }
    texts.where(col("doc_id") === 4L)
      .select(PolySimHash(col("text"), 32).isNull).as[Boolean].head() shouldBe true
    // one flipped token flips few bits; disjoint vocab flips many
    val near = refPolySimHash("alpha beta gamma delta epsilon zeta", 32).get ^
      refPolySimHash("alpha beta gamma delta epsilon eta", 32).get
    val far = refPolySimHash("alpha beta gamma delta epsilon zeta", 32).get ^
      refPolySimHash("one two three four five six", 32).get
    java.lang.Long.bitCount(near) should be < java.lang.Long.bitCount(far)
  }

  test("MinGramHash matches array_min(transform(sequence, xxhash64(substr)))") {
    val gram = 5
    val kernel = texts.select(col("doc_id"),
        MinGramHash(col("text"), gram).as("fp"))
      .as[(Long, Long)].collect().toMap
    val naive = texts.select(col("doc_id"),
        array_min(transform(
          sequence(lit(1), greatest(
            org.apache.spark.sql.functions.length(col("text")) - (gram - 1), lit(1))),
          i => xxhash64(col("text").substr(i, lit(gram))))).as("fp"))
      .as[(Long, Long)].collect().toMap
    kernel shouldBe naive
  }

  test("CountTokensIn matches size(filter(toks, array_contains(markers)))") {
    val markers = Seq("the", "a", "space")
    val kernel = texts.select(col("doc_id"),
        CountTokensIn(split(col("text"), " "), markers).as("n"))
      .as[(Long, Long)].collect().toMap
    val naive = texts.select(col("doc_id"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.filter(split(col("text"), " "),
            t => array_contains(array(markers.map(lit): _*), t)))
          .cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    kernel shouldBe naive
  }

  test("RemoveAtJoin matches the interpreted filter+array_join reference (r21)") {
    // substringDedup's reassembly kernel: toks joined by ' ' minus a
    // sorted distinct 1-based position set. Edges: empty positions
    // (identity re-join), full coverage (empty string), single-token
    // docs, the empty-string token split('') produces, gaps/run ends
    val fixtures = Seq(
      ("a b c d e", Seq(2, 4)),
      ("a b c d e", Seq.empty[Int]),
      ("a b c d e", Seq(1, 2, 3, 4, 5)), // fully covered
      ("solo", Seq(1)),
      ("solo", Seq.empty[Int]),
      ("", Seq.empty[Int]),              // split('') = [""] — kept
      ("", Seq(1)),                      // ...and removable
      ("x y", Seq(1)), ("x y", Seq(2)),
      ("p q r s t u v w", Seq(1, 3, 5, 7)),
      ("p q r s t u v w", Seq(6, 7, 8)))
    val df = fixtures.zipWithIndex
      .map { case ((t, ps), i) => (i.toLong, t, ps) }
      .toDF("id", "text", "pos")
      .select(col("id"), split(col("text"), " ").as("toks"),
        col("pos").cast("array<int>").as("pos"))
    val kernel = df.select(col("id"),
        RemoveAtJoin(col("toks"), col("pos")).as("out"))
      .as[(Long, String)].collect().toMap
    import org.apache.spark.sql.functions.{array_join, filter, sequence, struct, transform, zip_with}
    val ref = df.select(col("id"),
        array_join(transform(
          filter(
            zip_with(col("toks"),
              sequence(lit(1),
                org.apache.spark.sql.functions.size(col("toks"))),
              (t, i) => struct(t.as("t"), i.as("i"))),
            s => !array_contains(col("pos"), s.getField("i"))),
          s => s.getField("t")), " ").as("out"))
      .as[(Long, String)].collect().toMap
    kernel shouldBe ref
    // null propagation: either side null → null
    Seq((null.asInstanceOf[String], Seq(1)))
      .toDF("text", "pos")
      .select(RemoveAtJoin(split(col("text"), " "),
        col("pos").cast("array<int>")).as("out"))
      .head().isNullAt(0) shouldBe true
  }

  test("the kernels are callable from SQL text via GraftExtensions") {
    GraftExtensions.register(spark)
    texts.createOrReplaceTempView("__tk_docs")
    val row = spark.sql(
      """SELECT graft_simhash64(split(text, ' ')) AS h,
        |  graft_word_shingles(text, 2) AS sh,
        |  graft_minhash_lanes(graft_word_shingles(text, 2), 4) AS mh,
        |  graft_min_gram_hash(text, 5) AS fp
        |FROM __tk_docs WHERE doc_id = 0""".stripMargin).head()
    row.getLong(0) shouldBe
      texts.where(col("doc_id") === 0)
        .select(SimHash64(split(col("text"), " "))).head().getLong(0)
    row.getSeq[String](1) shouldBe Seq("the quick", "quick brown", "brown fox")
    row.getSeq[Long](2).length shouldBe 4
    // int-literal-only params fail at analysis, not mid-job
    an[Exception] should be thrownBy
      spark.sql("SELECT graft_word_shingles(text, doc_id) FROM __tk_docs").collect()
    // a wrong input type fails at analysis too: never implicitly cast
    Seq("graft_word_shingles(doc_id, 2)", "graft_simhash64(text)",
        "graft_min_gram_hash(split(text, ' '), 5)").foreach { call =>
      withClue(call) {
        an[AnalysisException] should be thrownBy spark.sql(s"SELECT $call FROM __tk_docs")
      }
    }
  }

  test("each stateless kernel is a direct static call in whole-stage codegen") {
    // parquet-backed, so the projection is planned and compiled rather
    // than folded into a LocalRelation at optimization time (which takes
    // the interpreted path, as the literal-frame specs here do)
    val dir = Files.createTempDirectory("graft_tk_codegen")
    try {
      texts.write.mode("overwrite").parquet(dir.toString)
      val docs = spark.read.parquet(dir.toString)
      val text = col("text")
      val toks = split(text, " ")
      Seq(
        WordShingles(text, 2) -> "TextKernelObjs.shingles(",
        MinHashLanes(toks, 4) -> "TextKernelObjs.minHashLanes(",
        PolyMinHashLanes(text, 2, 4) -> "TextKernelObjs.polyMinHashLanes(",
        PolySimHash(text, 32) -> "TextKernelObjs.polySimHash(",
        MinGramHash(text, 5) -> "TextKernelObjs.minGramHash(",
        PolyMinGramHash(text, 5) -> "TextKernelObjs.minGramHashPolyBoxed(",
        CharPolyHash(text) -> "TextKernelObjs.charPolyHash(",
        WinnowFingerprints(text, 2, 2) -> "TextKernelObjs.winnow(",
        CompressionRatioBp(text) -> "TextKernelObjs.compressionBp(",
        CharEntropyFp(text) -> "TextKernelObjs.charEntropyFp(",
        RepGramStats(toks, 2, 2) -> "TextKernelObjs.repGramStats(",
        ContextTriples(text, 1) -> "TextKernelObjs.contextTriples(",
        PairGrams(text) -> "TextKernelObjs.pairGrams(",
        RemoveAtJoin(toks, array(lit(1))) -> "TextKernelObjs.removeAtJoin(",
        HashedNgramBuckets(text, 2, 16) -> "TextKernelObjs.ngramBuckets(",
        SimHash64(toks) -> "SimHashKernel.compute("
      ).foreach { case (kernel, fn) =>
        withClue(fn) {
          val compiled = docs.select(col("doc_id"), kernel.as("k"))
          val code = codegenStringSeq(compiled.queryExecution.executedPlan)
            .map(_._2).mkString("\n")
          code should include(s"graft.functions.$fn")
          code should not include ".invoke("
          // the compiled call and the interpreted one agree
          compiled.orderBy("doc_id").collect() shouldBe
            texts.select(col("doc_id"), kernel.as("k")).orderBy("doc_id").collect()
        }
      }
    } finally FileUtils.deleteQuietly(dir.toFile)
  }

  test("under graft/functions only the model-carrying kernels and DotProduct keep their own eval and codegen") {
    // the stateless kernels are StaticKernel declarations; a kernel that
    // carries a driver-built model compares by that model's content and
    // keeps its addReferenceObj codegen, and RewriteDotProduct matches
    // DotProduct's class
    val own = raw"def\s+(doGenCode|nullSafeEval)\b".r
    val allowed = Set("CountTokensIn", "HashedNgramScore", "BpeTokenCount",
      "ViterbiTokenCount", "UnigramSegment", "BpeTokens", "NgramLmScore", "PqEncode",
      "SignProjection", "TopDotIndices", "BloomMightContainStr", "DotProduct")
      .map(n => Option(SourceGuard.Block("case class", n)))
    val src = Paths.get("src/main/scala/graft/functions")
    assume(Files.isDirectory(src), s"run from the repository root (no $src)")
    val found = SourceGuard.hits(SourceGuard.sources(src), own)
    found should not be empty
    found.filterNot(h => allowed(h.in)) shouldBe Nil
    // the guard fires: a planted stateless kernel with its own eval is reported
    SourceGuard.hits(Seq("Planted.scala" ->
      """case class Planted(child: Expression) extends UnaryExpression {
        |  override def nullSafeEval(input: Any): Any = input""".stripMargin), own)
      .filterNot(h => allowed(h.in)) shouldBe
      List(SourceGuard.Hit("Planted.scala", Some(SourceGuard.Block("case class", "Planted"))))
  }

  test("null text yields null shingles and null lanes") {
    val out = Seq((0L, null.asInstanceOf[String])).toDF("doc_id", "text")
      .select(WordShingles(col("text"), 2).as("sh"),
        MinHashLanes(WordShingles(col("text"), 2), 4).as("mh"))
      .head()
    out.isNullAt(0) shouldBe true
    out.isNullAt(1) shouldBe true
  }
}
