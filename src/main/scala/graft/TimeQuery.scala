package graft

/** Dev tool: time individual declared queries, N iterations each — the
  * "is this regression real or bench noise" check (CLAUDE.md: bench is
  * noisy ±25%; rerun before trusting a regression).
  *
  * Usage: runMain graft.TimeQuery <query>[,<query>...] [iters]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (default 4).
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val names = args.headOption
      .map(_.split(",").toSeq)
      .getOrElse(SparkEntry.queries.keys.toSeq)
    val iters = args.lift(1).map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    Warmup.tables(spark, sfDir)
    Warmup.kernels(spark) // same policy as Bench: don't charge janino to iter 1
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name (known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")})"))
      val times = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"""{"query":"$name","times":[${times.map(t => f"$t%.3f").mkString(",")}],"min":${times.min}%.3f}""")
    }
    spark.stop()
  }
}
