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
  *  - Spark's generated-code cache sized to hold a registry pass
  *    ([[CodegenCacheEntries]]);
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

  /** Entries of Spark's generated-code cache, the static
    * `spark.sql.codegen.cache.maxEntries` (Spark's default: 100). The
    * cache is keyed by (class loader, source), and in local mode each
    * whole-stage class is compiled once under the driver's loader and
    * once under the executor's. One pass over every declared query at
    * sf0.001 makes 2,652 keys (Spark's compile count over the pass,
    * under an unbounded cache), so at 100 entries each pass recompiled
    * nearly all of them. 3,000 holds that working set with about 13 %
    * to spare. */
  val CodegenCacheEntries = 3000

  def local(cpus: Int = Session.cpus, conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config(conf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.GraftExtensions.registerRules(spark)
    spark
  }
}
