package graft.model

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{expr, timestamp_micros}
import java.sql.Timestamp

/** Typed row models for the ten driver-provided parquet tables
  * (schemas: /root/repo/FIXTURES.md). The reference engine's "schema" is
  * the Scala type system (SURVEY §1.1 — trembita pipelines carry case
  * classes, CITE: kernel/src/main/scala/trembita/DataPipelineT.scala,
  * recalled path); we mirror that with case classes + Encoders while the
  * physical schema comes from parquet footers.
  */
final case class Region(r_regionkey: Int, r_name: String)
final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
                          c_acctbal: Double, c_mktsegment: String)
final case class Supplier(s_suppkey: Long, s_name: String, s_nationkey: Int,
                          s_acctbal: Double)
final case class Part(p_partkey: Long, p_name: String, p_brand: String,
                      p_type: String, p_size: Int, p_retailprice: Double)
final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
                       o_totalprice: Double, o_orderdate: Timestamp,
                       o_orderpriority: String)
final case class Lineitem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
                          l_linenumber: Int, l_quantity: Double,
                          l_extendedprice: Double, l_discount: Double,
                          l_tax: Double, l_returnflag: String,
                          l_linestatus: String, l_shipdate: Timestamp)
final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                       event_type: String, value: Double, props: String)
final case class Document(doc_id: Long, text: String, lang: String,
                          source: String, n_chars: Long)
final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

/** Canonical scans. Every `SparkEntry.queries` fn receives `(spark, sfDir)`
  * and must stand alone; these helpers keep scans lazy so Catalyst pushes
  * filters/column pruning into the parquet reader (SURVEY §4.2). Each
  * read goes through [[graft.sources.Sources.parquet]], which takes the
  * schema from the file's footer on the driver: building a frame starts
  * no Spark job.
  */
object Tables {
  def df(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.sources.Sources.parquet(spark, s"$sfDir/$name.parquet")

  def region(spark: SparkSession, sfDir: String): DataFrame    = df(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame    = df(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame  = df(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame  = df(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame      = df(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame    = df(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame  = df(spark, sfDir, "lineitem")
  /** `events.ts` has shipped in two physical encodings across fixture
    * generations, so this reader adapts to the footer instead of assuming
    * one:
    *  - TIMESTAMP(NANOS) (isAdjustedToUTC either way): Spark 4 refuses to
    *    read it natively — read raw long nanos (`nanosAsLong`) and rebuild
    *    a µs timestamp. The fixture's ns values are exact microseconds
    *    (FIXTURES.md) and DuckDB's ns→µs cast floors identically, so both
    *    engines see the same instants; `div` keeps the arithmetic in exact
    *    integer space (ns since 2024 ≈ 1.7e18 would lose precision as a
    *    double).
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) → Spark TIMESTAMP_NTZ:
    *    cast to TimestampType under the pinned-UTC session so the same
    *    wall-clock instants flow through every downstream query unchanged.
    * Every consumer sees one contract either way: `ts` is TimestampType
    * at µs precision.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = df(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", expr("cast(ts as timestamp)"))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame = df(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = df(spark, sfDir, "embeddings")

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every fixture table as a temp view so the whole engine is
    * reachable from `spark.sql(...)` text (events goes through the ns-safe
    * reader). */
  def registerAll(spark: SparkSession, sfDir: String): Unit = names.foreach { n =>
    val d = if (n == "events") events(spark, sfDir) else df(spark, sfDir, n)
    d.createOrReplaceTempView(n)
  }

  def lineitemDs(spark: SparkSession, sfDir: String): Dataset[Lineitem] = {
    import spark.implicits._
    lineitem(spark, sfDir).as[Lineitem]
  }
  def ordersDs(spark: SparkSession, sfDir: String): Dataset[Order] = {
    import spark.implicits._
    orders(spark, sfDir).as[Order]
  }
  def eventsDs(spark: SparkSession, sfDir: String): Dataset[Event] = {
    import spark.implicits._
    events(spark, sfDir).as[Event]
  }
  def documentsDs(spark: SparkSession, sfDir: String): Dataset[Document] = {
    import spark.implicits._
    documents(spark, sfDir).as[Document]
  }
}
