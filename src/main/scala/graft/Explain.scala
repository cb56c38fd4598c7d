package graft

/** Dev tool: dump the formatted physical plan for declared queries —
  * the loop for auditing pushdown / pruning / join strategy / codegen
  * spans (SURVEY §4.2 physical-execution policy).
  *
  * Usage: runMain graft.Explain <sfDir> [queryName ...]
  * With no names, dumps every declared query.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.local()
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case Some(fn) =>
          println(s"\n========== $n ==========")
          try println(fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
        case None => println(s"unknown query: $n")
      }
    }
    spark.stop()
  }
}
