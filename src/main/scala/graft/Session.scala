package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is configured. Every main and the
  * test suite take their session from here, so the settings the
  * correctness gate proved are the settings every tool runs with:
  *
  *  - `local[cpus]` with `spark.sql.shuffle.partitions = cpus`;
  *  - UTC session time zone — without it, date-bucketing queries plan
  *    over different group cardinalities than the ones the oracle
  *    compare proved, on any machine whose JVM zone isn't UTC;
  *  - the UI off and log level WARN;
  *  - the session-scoped optimizer rewrites (RewriteDotProduct,
  *    RewriteRangeJoin) registered once, never inside a query fn.
  *
  * `conf` adds further builder settings (the test suite's warehouse
  * dir). `getOrCreate` semantics: a second call in one JVM returns the
  * running session.
  */
object Session {
  /** Local cores: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def local(cpus: Int = Session.cpus, conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.registerRules(spark)
    spark
  }
}
