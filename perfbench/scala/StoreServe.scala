package graft.perfbench

import java.io.{BufferedReader, InputStreamReader, OutputStreamWriter}
import java.net.{InetAddress, Socket}
import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.Tables
import graft.queries.LlmQueries
import graft.relational.Cdc
import graft.serve.Serve
import graft.sources.Sinks
import graft.streaming.StreamOps

final case class DocIn(doc_id: Long, text: String)
final case class Change(o_orderkey: Long, o_totalprice: Double, o_orderstatus: String,
                        version: Long, op: String)
final case class Vec(vec_id: Long, embedding: Array[Float])
final case class Req(name: String, s: Double, cpu: Double, ttfb: Double, drain: Double, rows: Int)

object StoreServe {
  /** Short registry queries Serve answers beside the store reads. */
  val RelationalRequests = Seq("agg_count", "op_filter")
  val StoreRequests = Seq("probe_dedup", "read_keys", "probe_ann")
  val Requests: Seq[String] = StoreRequests ++ RelationalRequests
  /** Tail depth that triggers the dedup and ANN auto-fold: every batch
    * folds its tail into the index, so all applies of a store do the same
    * work and their median is not a mix of folding and plain applies. */
  val MaxTail = 1
  /** Store buckets (dedup corpus, CDC snapshot) and dedup index buckets:
    * one per Spark core at these input sizes. */
  val Buckets = 2
  val IdxBuckets = 2
  /** Untimed rounds before timing; the first compiles generated code. */
  val WarmRounds = 1
  /** Timed rounds a run makes at least, however short its window. */
  val MinRounds = 2
}

/** The dedup, CDC and ANN stores, bootstrapped from the generated tables
  * and fed the generated micro-batches through the public
  * `dedupStream` / `cdcStream` / `annStream`, one batch in flight per
  * stream; `Serve` answers reads over the live stores between batches. */
final class StoreServe(spark: SparkSession, dir: String, root: String, tr: Tracer) {
  import spark.implicits._
  import StoreServe._

  private val idx = s"$root/dedup_idx"
  private val corp = s"$root/dedup_corpus"
  private val snap = s"$root/cdc"
  private val ann = s"$root/ann"

  private val dedupBatches = spark.read.parquet(s"$dir/dedup_batches.parquet")
    .as[(Int, Long, String)].collect().groupBy(_._1)
    .map { case (b, rs) => b -> rs.map(r => DocIn(r._2, r._3)).sortBy(_.doc_id).toSeq }
  private val cdcBatches = spark.read.parquet(s"$dir/cdc_batches.parquet")
    .as[(Int, Long, Double, String, Long, String)].collect().groupBy(_._1)
    .map { case (b, rs) => b -> rs.map(r => Change(r._2, r._3, r._4, r._5, r._6)).sortBy(_.version).toSeq }
  private val annBatches = spark.read.parquet(s"$dir/ann_batches.parquet")
    .as[(Int, Long, Array[Float])].collect().groupBy(_._1)
    .map { case (b, rs) => b -> rs.map(r => Vec(r._2, r._3)).sortBy(_.vec_id).toSeq }
  private val nBatches: Int = Seq(dedupBatches, cdcBatches, annBatches).map(_.size).min

  private val probeDocs = spark.read.parquet(s"$dir/dedup_probe.parquet").as[DocIn].collect().toSeq
  private val keys = Tables.orders(spark, dir).select("o_orderkey").orderBy("o_orderkey")
    .limit(20).as[Long].collect().toSeq
  private val annQueries = Tables.embeddings(spark, dir).where(col("vec_id") < 10)
    .select(col("vec_id").as("qid"), col("embedding")).collect()

  private var streams: Seq[(String, Int => Unit, StreamingQuery)] = Nil
  private var handle: Serve.Handle = _
  private var applied = 0
  private val applies = ArrayBuffer.empty[(String, Double, Double)] // store, s, CPU s
  private val applyIo = ArrayBuffer.empty[(String, Double, Long, Long, Boolean)] // store, s, files, bytes, folded
  private val tails = ArrayBuffer.empty[Int]
  private val reqs = ArrayBuffer.empty[Req]

  private def emptyTail: DataFrame = Seq.empty[Change].toDF()
  private def annQueryDf: DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(annQueries: _*), annQueries.head.schema)

  private def probeDedup(s: SparkSession, d: String): DataFrame =
    StreamOps.probeDedup(probeDocs.toDF(), idx, corp, k = 2, bands = 8, rowsPerBand = 2,
      threshold = 0.5, nIdxBuckets = IdxBuckets).orderBy("doc_id")
  private def readKeys(s: SparkSession, d: String): DataFrame =
    StreamOps.readKeys(s, snap, keys.toDF("o_orderkey"), emptyTail, Seq("o_orderkey"))
      .orderBy("o_orderkey")
  private def probeAnn(s: SparkSession, d: String): DataFrame =
    StreamOps.probeAnn(annQueryDf, ann, k = 5, nprobe = 2).orderBy("qid", "rnk")

  private val registry: Map[String, (SparkSession, String) => DataFrame] =
    Map("probe_dedup" -> probeDedup _, "read_keys" -> readKeys _, "probe_ann" -> probeAnn _) ++
      Main.queriesNamed(RelationalRequests)

  def bootstrap(): Unit = {
    deleteTree(new java.io.File(root))
    val docs = Tables.documents(spark, dir).select("doc_id", "text")
    val orders = Tables.orders(spark, dir).select("o_orderkey", "o_totalprice", "o_orderstatus")
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    tr.span("streaming", "bootstrap") {
      StreamOps.bootstrapDedup(docs, idx, corp, k = 2, bands = 8, rowsPerBand = 2,
        nBuckets = Buckets, nIdxBuckets = IdxBuckets)
      StreamOps.writeCdcSnapshot(Cdc.bootstrap(orders, Seq("o_orderkey")), snap,
        Seq("o_orderkey"), nBuckets = Buckets)
      StreamOps.bootstrapAnn(emb, ann, LlmQueries.clusterCodebook, LlmQueries.pqCodebooks)
    }
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val md = MemoryStream[DocIn]; val mc = MemoryStream[Change]; val ma = MemoryStream[Vec]
    streams = Seq(
      ("dedup", r => { md.addData(dedupBatches(r)); () },
        StreamOps.dedupStream(md.toDF(), idx, corp, s"$root/ck_dedup", k = 2, bands = 8,
          rowsPerBand = 2, threshold = 0.5, nBuckets = Buckets, nIdxBuckets = IdxBuckets,
          maxTailBatches = MaxTail)),
      ("cdc", r => { mc.addData(cdcBatches(r)); () },
        StreamOps.cdcStream(mc.toDF(), snap, s"$root/ck_cdc", Seq("o_orderkey"), nBuckets = Buckets)),
      ("ann", r => { ma.addData(annBatches(r)); () },
        StreamOps.annStream(ma.toDF(), ann, s"$root/ck_ann", maxTailBatches = MaxTail)))
    handle = Serve.start(spark, dir, 0, registry)
  }

  private def filesUnder(roots: Seq[String]): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    roots.flatMap(r => walk(new java.io.File(r)))
  }
  private def storeFiles(store: String): Map[String, (Long, Long)] =
    filesUnder(store match {
      case "dedup" => Seq(idx, corp); case "cdc" => Seq(snap); case _ => Seq(ann)
    }).map(f => f.getPath -> (f.lastModified(), f.length())).toMap
  private def tailDepth(): Int = tailOf("dedup") + tailOf("ann")
  private def tailOf(store: String): Int = store match {
    case "dedup" => StreamOps.dedupIndexTailBatches(spark, idx)
    case "ann" => StreamOps.annIndexTailBatches(spark, ann)
    case _ => 0
  }

  /** One micro-batch into each store; returns the round's wall time. */
  def round(r: Int, fail: (String, Throwable) => Unit): Double = {
    val t0 = System.nanoTime()
    streams.foreach { case (name, feed, q) =>
      val before = if (tr.on) storeFiles(name) else Map.empty[String, (Long, Long)]
      val tailBefore = if (tr.on) tailOf(name) else 0
      val a0 = System.nanoTime(); val c0 = Main.cpuNanos()
      try tr.span("streaming", "apply") { feed(r); q.processAllAvailable() }
      catch { case e: Throwable => fail(s"apply_$name", e) }
      val s = Main.secsSince(a0)
      applies += ((name, s, Main.cpuSecsSince(c0)))
      if (tr.on) {
        val written = storeFiles(name).filter { case (p, v) => !before.get(p).contains(v) }
        tails += tailDepth()
        // folded: the batch's own tail entry did not stay behind (cdc keeps no tail)
        val folded = name != "cdc" && tailOf(name) <= tailBefore
        applyIo += ((name, s, written.size.toLong, written.values.map(_._2).sum, folded))
      }
    }
    applied = r + 1
    Main.secsSince(t0)
  }

  /** One request through the Serve socket protocol; checks the response:
    * a header with the columns, one JSON object per row, and a `done`
    * trailer equal to the rows sent. */
  private def request(name: String, fail: (String, Throwable) => Unit): Unit = {
    val t0 = System.nanoTime(); val c0 = Main.cpuNanos()
    try tr.span("serve", "request") {
      val sock = new Socket(InetAddress.getLoopbackAddress, handle.port)
      try {
        sock.setSoTimeout(120000)
        val w = new OutputStreamWriter(sock.getOutputStream, StandardCharsets.UTF_8)
        val in = new BufferedReader(new InputStreamReader(sock.getInputStream, StandardCharsets.UTF_8))
        w.write(s"""{"query":"$name","limit":100}\n"""); w.flush()
        val header = Main.mapper.readTree(in.readLine())
        val ttfb = Main.secsSince(t0)
        if (header == null || !header.has("columns"))
          throw new IllegalStateException(s"bad header: $header")
        val cols = (0 until header.get("columns").size).map(header.get("columns").get(_).asText).toSet
        var rows = 0
        var line = in.readLine()
        while (line != null && !line.startsWith("{\"done\"")) {
          val row = Main.mapper.readTree(line)
          val it = row.fieldNames()
          while (it.hasNext) { val f = it.next(); if (!cols(f)) throw new IllegalStateException(s"row field $f not in header") }
          rows += 1
          line = in.readLine()
        }
        if (line == null) throw new IllegalStateException("no done trailer")
        val done = Main.mapper.readTree(line).get("done").asInt()
        if (done != rows) throw new IllegalStateException(s"done=$done but $rows rows sent")
        val s = Main.secsSince(t0)
        reqs += Req(name, s, Main.cpuSecsSince(c0), ttfb, s - ttfb, rows)
      } finally sock.close()
    } catch { case e: Throwable => fail(s"serve_$name", e) }
  }

  /** After [[WarmRounds]] untimed passes, passes until `seconds` have
    * gone by and at least [[MinRounds]] ran. A pass is one round —
    * one batch into each store, each of which folds its tail — and then
    * one request of each kind through Serve. Every apply and request is
    * a sample named by its kind (`apply_dedup`, …, `probe_ann`, …). The
    * client waits for each reply and a stream has one batch in flight.
    * Requests do not overlap batch applies: a store read racing a batch
    * commit or an auto-fold fails today (FILE_NOT_EXIST on the dedup
    * corpus, PATH_NOT_FOUND on an ANN cell; see perfbench/NOTES.md). */
  def run(seconds: Double, samples: ArrayNode, passes: ArrayNode,
          fail: (String, Throwable) => Unit): Unit = {
    (0 until WarmRounds).foreach { r => round(r, fail); serveOnce(fail) }
    reqs.clear()
    val warm = applies.size
    val t0 = System.nanoTime()
    var r = WarmRounds
    while (r < nBatches && (r < WarmRounds + MinRounds || Main.secsSince(t0) < seconds)) {
      val p0 = System.nanoTime()
      round(r, fail)
      serveOnce(fail)
      passes.add(Main.secsSince(p0))
      r += 1
    }
    applies.drop(warm).foreach { case (n, s, c) =>
      samples.addObject().put("op", s"apply_$n").put("s", s).put("cpu_s", c)
    }
    reqs.foreach(q => samples.addObject().put("op", q.name).put("s", q.s).put("cpu_s", q.cpu))
  }

  def serveOnce(fail: (String, Throwable) => Unit): Unit = Requests.foreach(request(_, fail))

  /** Direct reads that bypass Serve. */
  def readDirect(fail: (String, Throwable) => Unit): Unit =
    try {
      tr.span("streaming", "read")(Sinks.noop(StreamOps.readDedupCorpus(spark, corp)))
      tr.span("streaming", "read")(Sinks.noop(registry("read_keys")(spark, dir)))
      tr.span("streaming", "read")(Sinks.noop(registry("probe_ann")(spark, dir)))
    } catch { case e: Throwable => fail("streaming_read", e) }

  def close(): Unit = {
    streams.foreach(_._3.stop())
    streams = Nil
    if (handle != null) handle.close()
  }

  private def storeBytes: Long = filesUnder(Seq(idx, corp, snap, ann)).map(_.length()).sum
  /** Parquet bytes of the bootstrap tables plus the applied share of the batch files. */
  private def inputBytes: Double = {
    def size(n: String) = new java.io.File(s"$dir/$n.parquet").length().toDouble
    val share = applied.toDouble / nBatches
    Seq("documents", "orders", "embeddings").map(size).sum +
      share * Seq("dedup_batches", "cdc_batches", "ann_batches").map(size).sum
  }

  /** Final states for the independent recomputation in `check.py`, then
    * stops the streams and Serve. */
  def finish(out: String, node: ObjectNode, fail: (String, Throwable) => Unit): Unit = {
    close()
    node.put("rounds", applied)
    val appliesNode = node.putArray("applies")
    applies.foreach { case (n, s, _) => appliesNode.addObject().put("store", n).put("s", s) }
    def dump(name: String)(df: => DataFrame): Unit =
      try df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      catch { case e: Throwable => fail(s"final_$name", e) }
    dump("dedup_corpus")(StreamOps.readDedupCorpus(spark, corp).select("doc_id").orderBy("doc_id"))
    dump("cdc")(Cdc.publicSnapshot(StreamOps.readCdcSnapshot(spark, snap))
      .select("o_orderkey", "o_totalprice", "o_orderstatus").orderBy("o_orderkey"))
    // the maintained index must answer exactly like an inline IVF-PQ index
    // over everything ingested
    val ingested = (0 until applied).flatMap(annBatches(_)).toDF()
    val all = Tables.embeddings(spark, dir).select("vec_id", "embedding").unionByName(ingested)
    dump("ann_store")(StreamOps.probeAnn(annQueryDf, ann, k = 5, nprobe = 3)
      .select("qid", "vec_id", "rnk").orderBy("qid", "rnk"))
    dump("ann_inline")(graft.llm.Similarity.ivfPqTopK(annQueryDf, all, LlmQueries.clusterCodebook,
        LlmQueries.pqCodebooks, k = 5, nprobe = 3)
      .select("qid", "vec_id", "rnk").orderBy("qid", "rnk"))
  }

  /** `streaming.*` and `serve.*` from this instance's traced calls. */
  def layerMetrics(out: ObjectNode): Unit = {
    val applySpans = tr.spansOf("streaming", "apply")
    val n = math.max(applySpans.size, 1).toDouble
    val c = tr.counts(applySpans, 1)
    val secs = applies.map(_._2).sorted
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.size / 2)
    val mb = 1048576.0
    val folds = applyIo.count(_._5)
    out.put("streaming.bootstrap_s", tr.secs("streaming", "bootstrap"))
    out.put("streaming.apply_p50_s", med(secs.toSeq))
    out.put("streaming.apply_max_s", if (secs.isEmpty) 0.0 else secs.last)
    out.put("streaming.apply_jobs", c("jobs") / n)
    out.put("streaming.apply_driver_gap_s", c("driver_gap_s") / n)
    out.put("streaming.bytes_written_mb", applyIo.map(_._4).sum / mb / n)
    out.put("streaming.files_written", applyIo.map(_._3).sum / n)
    out.put("streaming.folds", folds.toDouble)
    out.put("streaming.read_s", tr.secs("streaming", "read"))
    out.put("streaming.tail_batches", if (tails.isEmpty) 0.0 else tails.sum.toDouble / tails.size)
    out.put("streaming.store_bytes_per_input_byte", storeBytes / math.max(inputBytes, 1.0))
    out.put("serve.ttfb_s", med(reqs.map(_.ttfb).toSeq))
    out.put("serve.drain_s", med(reqs.map(_.drain).toSeq))
    out.put("serve.rows", reqs.map(_.rows).sum.toDouble)
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
