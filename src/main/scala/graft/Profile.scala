package graft

import graft.obs.QueryProfile

/** Dev tool: what declared queries plan, cost and execute.
  *
  * With `--explain`, prints each query's formatted physical plan and runs
  * nothing — the loop for auditing pushdown / pruning / join strategy /
  * codegen spans (SURVEY §4.2 physical-execution policy). Otherwise warms
  * the session as [[Bench]] does, times `iters` runs of each query into
  * Bench's own `count()` sink, and prints one JSON line per query: the
  * times, their min, and the [[QueryProfile.Run]] of the fastest run.
  *
  * Usage: runMain graft.Profile <sfDir> [query...] [--iters n] [--explain]
  * With no names, every declared query in sorted order.
  * Env: SPARK_GRAFT_CPUS (default 4, see [[Session]]).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Profile <sfDir> [query...] [--iters n] [--explain]")
    val sfDir = args.head
    var explain = false
    var iters = 3
    val named = Vector.newBuilder[String]
    val rest = args.iterator.drop(1)
    while (rest.hasNext) rest.next() match {
      case "--explain" => explain = true
      case "--iters"   =>
        require(rest.hasNext, "--iters needs a value")
        iters = rest.next().toInt
      case q           => named += q
    }
    require(iters > 0, s"--iters must be positive: $iters")
    val known = SparkEntry.queries.keys.toSeq.sorted
    val names = Some(named.result()).filter(_.nonEmpty).getOrElse(known)
    names.find(!SparkEntry.queries.contains(_)).foreach { n =>
      sys.error(s"unknown query: $n (known: ${known.mkString(", ")})")
    }

    val spark = Session.local()
    if (explain) names.foreach { n =>
      println(s"\n========== $n ==========")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
    } else {
      Warmup.tables(spark, sfDir)
      Warmup.kernels(spark) // same policy as Bench: don't charge janino to iter 1
      names.foreach { name =>
        val runs = Seq.fill(iters)(QueryProfile.measure(spark)(
          Bench.timeOnce(spark, sfDir, SparkEntry.queries(name))))
        val (min, r) = runs.minBy(_._1)
        println(f"""{"query":"$name","times":[${runs.map(t => f"${t._1}%.3f").mkString(",")}],"min":$min%.3f,""" +
          s""""jobs":${r.jobs},"scans":${r.scans},"shuffles":${r.shuffles},""" +
          s""""shuffle_bytes":${r.shuffleBytes},"shuffle_records":${r.shuffleRecords},""" +
          s""""spill_bytes":${r.spillBytes},"max_single_task_rows":${r.maxSingleTaskRows}}""")
      }
    }
    spark.stop()
  }
}
