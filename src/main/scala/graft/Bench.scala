package graft
import org.apache.spark.sql.SparkSession
/** Driver-contract benchmark: wall-clock `count()` per declared query
  * (the metric BASELINE was measured with — see BASELINE.md). count()
  * lets Catalyst prune final projections/sorts, so this measures the
  * scan/join/aggregate skeleton; that is the harness's definition, applied
  * identically to baseline and engine. For full-plan timing use
  * `Sinks.noop(df)`, which executes every projection.
  *
  * Output: TWO JSON lines — the full `{"metric":"total_full",...}` line
  * with the per-query map FIRST, then a compact `{"metric":"total",...}`
  * line LAST (the driver keeps the TAIL of stdout, so the line it must
  * parse is the short final one the long map can't crowd out). A failed
  * query is recorded as -1 in the map and named in `errors`, never
  * silently timed as a success; a query that failed in exactly one pass
  * is timed from the surviving pass but named in `warnings` (a flaky
  * query is a correctness signal that must not vanish from the record).
  * Each query is executed twice and the min recorded — as two FULL
  * passes over the sorted suite, not back-to-back: round 5 proved
  * adjacent samples share any sustained contention window (BENCH_r05
  * recorded the whole stream block at 4-15x its reproducible cost
  * because one multi-second spike covered both consecutive runs of
  * several consecutive queries). With the suite between a query's two
  * samples they are minutes apart, so a single window can poison at
  * most one of them and the min stays honest.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    // warm the session once (parquet footers, codegen, JIT) so the first
    // measured query isn't charged JVM/session initialization
    Warmup.tables(spark, sfDir)
    Warmup.kernels(spark)
    // sorted order: Map iteration order shifts whenever a query is added,
    // silently moving any residual warmup tax onto a different query and
    // making per-query numbers incomparable across rounds (this is what
    // round 2's "unexplained" llm_dedup_ngram 4× turned out to be)
    val errors = scala.collection.mutable.ListBuffer.empty[String]
    val warnings = scala.collection.mutable.ListBuffer.empty[String]
    // min-of-2 per query: Bench ran each query exactly once through round 3,
    // so a single machine-contention spike during the capture window landed
    // straight in the official record (BENCH_r03: llm_curate_full 21.85 s
    // recorded vs 4.5 s reproducible — a 5x outlier that moved the total
    // from ~36 s to ~60 s). min (not mean) because contention only ever
    // adds time. Round 4 took the two samples back-to-back; round 5 showed
    // that still fails under SUSTAINED contention (one window covered both
    // runs of every query it overlapped — the whole stream block recorded
    // 4-15x). The two samples now come from two separate full passes over
    // the sorted suite, so each query's samples are the full suite apart.
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    // each run in its own try: a failure in one pass must not discard a
    // valid measurement from the other; -1 only when BOTH fail
    def timeSafe(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] =
      try Some(timeOnce(fn)) catch { case _: Throwable => None }
    // the engine-lane instrument (r18 BASELINE.md lane decision):
    // declared-price faces — in-query disk lifecycles and exact
    // contract replays, ~30 % of the unified total at r18 — can be
    // skipped for a deployment-shaped measurement. DEFAULT OFF: the
    // driver's BENCH_r{N} record stays the unified, cross-round-
    // comparable suite; the committed per-query map remains the single
    // record both lane totals derive from.
    val skipDeclared =
      sys.env.get("SPARK_GRAFT_BENCH_SKIP_DECLARED").exists(_ == "1")
    val suite = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) =>
        skipDeclared && graft.queries.Q.declaredPriceFaces.contains(n) }
    def pass(): Map[String, Option[Double]] =
      suite.map { case (name, fn) => name -> timeSafe(fn) }.toMap
    val passA = pass()
    val passB = pass()
    val results = suite.map { case (name, _) =>
      val t = (passA(name), passB(name)) match {
        case (Some(a), Some(b)) => math.min(a, b)
        case (Some(a), None)    => warnings += name; a
        case (None, Some(b))    => warnings += name; b
        case (None, None)       => errors += name; -1.0
      }
      name -> t
    }.toMap
    // sorted map: cross-round diffs of the artifact must align line-by-
    // line; a hash-ordered map reshuffles on every added query
    val entries = results.toSeq.sortBy(_._1)
      .map { case (k, v) => f""""$k":$v%.3f""" }
    val qs = entries.mkString("{", ",", "}")
    val errs = strArr(errors.toSeq)
    val warns = strArr(warnings.toSeq)
    val total = results.values.filter(_ >= 0).sum
    // per-pass suite totals: the record carries its OWN variance (the
    // r11 ledger lesson — single-capture noise dominates round-over-round
    // deltas; a reader of BENCH_r{N} should see the spread without
    // rerunning). `value` stays the min-of-2 composition; the totals are
    // composed over the queries timed in BOTH passes ONLY (r12 ADVICE:
    // a query that errored in one pass would otherwise silently shrink
    // that pass's total and the spread would compare unequal query
    // sets), with `runs_n` recording that composition size.
    val inBoth = suite.map(_._1).filter(n => passA(n).isDefined && passB(n).isDefined)
    def passTotal(p: Map[String, Option[Double]]): Double =
      inBoth.flatMap(p(_)).sum
    val runs = f"[${passTotal(passA)}%.3f,${passTotal(passB)}%.3f]"
    val runsN = inBoth.size
    val fullLine = s"""{"metric":"total_full","value":$total,"unit":"sec","queries":$qs,"runs":$runs,"runs_n":$runsN,"errors":$errs,"warnings":$warns,"sf":"$sfDir"}"""
    println(fullLine)
    // the per-query map CHUNKED across short tail lines (r21, the r20
    // verdict ask 2): the driver keeps ~2,000 chars of stdout tail and
    // parses the short LAST line, so the full map line above never
    // reached PERF's per-query comparison (empty `queries` every round
    // since r09). PHYSICS: ~5.6 KB of map cannot fit a 2,000-char keep
    // in any format — a tail-bounded reader retains ONE complete part
    // (the last, ~1.6 KB) plus the compact total line; a full-stdout
    // reader can reassemble all parts. To make the surviving part worth
    // keeping, entries are ordered ASCENDING by time so the LAST part
    // carries the slowest ~60 queries — the whole set a regression
    // audit cares about (everything below is the ~0.1 s framework
    // floor). Each part is a self-contained JSON line carrying the SAME
    // total/sf as the final line — a parser that reads only the last
    // line still reads the compact `total` line (last, see
    // [[totalLine]]), and one that accidentally picks a part still reads
    // the correct total. Parts carry metric:"total_part" so they can
    // never be mistaken for the record.
    val partMax = 1500 // chars of map payload per line, < the tail keep
    val byTime = results.toSeq.sortBy { case (k, v) => (v, k) }
      .map { case (k, v) => f""""$k":$v%.3f""" }
    val parts = byTime.foldLeft(List(List.empty[String])) { (acc, e) =>
      if (acc.head.map(_.length + 1).sum + e.length <= partMax)
        (e :: acc.head) :: acc.tail
      else List(e) :: acc
    }.reverse.map(_.reverse)
    parts.zipWithIndex.foreach { case (p, i) =>
      println(s"""{"metric":"total_part","value":$total,"unit":"sec","part":${i + 1},"parts":${parts.size},"queries":${p.mkString("{", ",", "}")},"sf":"$sfDir"}""")
    }
    // errors/warnings ride in the PARSED (tail) line too: a query failing
    // both passes is excluded from the total, and without these fields the
    // record would read as a performance win — "never silently timed as a
    // success" must hold for the line the driver actually keeps
    println(totalLine(results.toSeq, total, runs, runsN, errors.toSeq, warnings.toSeq, sfDir))
    // the driver's BENCH_r{N}.json truncates the per-query tail at 2,000
    // chars, so only ~80 of the timings survive into the official
    // artifact (the r12 audit's regression table was partial exactly
    // because of this) — persist the FULL line to a file the repo can
    // commit per round (env override for ad-hoc captures); best-effort,
    // a read-only cwd must not fail the bench
    try {
      val p = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON", "bench/latest_queries.json"))
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p,
        (fullLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => () }
    spark.stop()
  }

  /** The compact `total` line, the record a tail-bounded reader parses:
    * its `queries` holds the slowest queries in descending order, as many
    * as keep the WHOLE line (errors and warnings included) within 1,800
    * chars — such a reader keeps ~2,000 chars of stdout tail. */
  def totalLine(results: Seq[(String, Double)], total: Double, runs: String,
                runsN: Int, errors: Seq[String], warnings: Seq[String],
                sf: String): String = {
    def line(qs: Seq[String]) =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${qs.mkString("{", ",", "}")},"runs":$runs,"runs_n":$runsN,"errors":${strArr(errors)},"warnings":${strArr(warnings)},"sf":"$sf"}"""
    val slowest = results.sortBy { case (k, v) => (-v, k) }
      .map { case (k, v) => f""""$k":$v%.3f""" }
    // each entry adds its length plus one comma
    val room = 1800 - line(Nil).length + 1
    val lengths = slowest.scanLeft(0)(_ + _.length + 1).tail
    line(slowest.take(lengths.takeWhile(_ <= room).size))
  }

  private def strArr(xs: Seq[String]) = xs.map("\"" + _ + "\"").mkString("[", ",", "]")
}
