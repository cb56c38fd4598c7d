package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Bench's compact `total` line, the record a tail-bounded reader
  * parses, composed without Spark. */
class BenchLineSpec extends AnyFunSuite with Matchers {
  private val entry = """"([a-z0-9_]+)":(-?[0-9.]+)""".r

  private def queries(line: String): Seq[(String, Double)] = {
    val from = line.indexOf("\"queries\":{") + "\"queries\":{".length
    entry.findAllMatchIn(line.substring(from, line.indexOf('}', from)))
      .map(m => m.group(1) -> m.group(2).toDouble).toSeq
  }

  // 236 entries the length of real query names; the last three failed
  private val results = (1 to 236).map(i =>
    f"llm_query_$i%03d_name" -> (if (i > 233) -1.0 else i * 0.037))

  private def line(errors: Seq[String]) =
    Bench.totalLine(results, 157.383, "[160.100,158.900]", 233, errors, Nil, "sf0.1")

  private def slowest = results.sortBy { case (k, v) => (-v, k) }

  test("the line holds the slowest entries, descending, as many as fit 1,800 chars") {
    val l = line(Seq("llm_query_234_name"))
    l.length should be <= 1800
    val qs = queries(l)
    qs.size should be > 40
    qs.map(_._1) shouldBe slowest.take(qs.size).map(_._1)
    val next = slowest(qs.size)
    l.length + f""""${next._1}":${next._2}%.3f""".length + 1 should be > 1800
    l should startWith ("""{"metric":"total","value":157.383,"unit":"sec","queries":{""")
    l should endWith (""""runs":[160.100,158.900],"runs_n":233,"errors":["llm_query_234_name"],"warnings":[],"sf":"sf0.1"}""")
  }

  test("long error strings shrink the map, never push the line past 1,800 chars") {
    val errors = (1 to 10).map(i => s"llm_failing_query_with_a_long_descriptive_name_${"x" * 40}_$i")
    val l = line(errors)
    l.length should be <= 1800
    errors.foreach(e => l should include ("\"" + e + "\""))
    val qs = queries(l)
    qs should not be empty
    qs.size should be < queries(line(Nil)).size
    qs.map(_._1) shouldBe slowest.take(qs.size).map(_._1)
  }
}
