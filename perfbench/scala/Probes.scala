package graft.perfbench

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions._
import graft.llm.{Curation, Dedup, Similarity, TextStats}
import graft.model.Tables
import graft.sources.Sinks

/** Traced direct calls into each layer's public functions, on the
  * workload's own tables, and the per-layer metrics derived from the
  * spans around them. Every workload's traced run makes the same calls,
  * so every per-layer metric is measured on every workload. */
object Probes {

  /** `spark.*` and `sources.scan_rdds`: listener counts over the spans of
    * the workload's own operations. */
  def workloadCounts(tr: Tracer, w: Seq[Tracer.Span], cores: Int, out: ObjectNode): Unit = {
    val c = tr.counts(w, cores)
    Seq("jobs", "stages", "tasks", "task_s", "task_cpu_s", "busy_ratio", "driver_gap_s",
      "shuffle_write_mb", "shuffle_read_mb", "spill_disk_mb", "spill_mem_mb",
      "peak_exec_mem_mb", "single_task_stages", "task_skew")
      .foreach(k => out.put(s"spark.$k", c(k)))
    out.put("sources.scan_rdds", tr.counts(tr.spansOf("queries"), cores)("scan_rdds"))
  }

  /** `queries.*` over every traced registry query; `plan.*` over `w`,
    * the spans of the workload's own operations. */
  def queryLayers(tr: Tracer, w: Seq[Tracer.Span], out: ObjectNode): Unit = {
    out.put("queries.build_s", tr.secs("queries", "build"))
    out.put("queries.exec_s", tr.secs("queries", "exec"))
    val c = tr.counts(w, 1)
    Seq("analysis_s", "optimization_s", "planning_s").foreach(k => out.put(s"plan.$k", c(k)))
  }

  /** One traced call into each layer on the workload's tables, plus, with
    * `withStores`, a short store lifecycle (bootstrap, one round, one
    * request of each kind, direct reads) for workloads that have none of
    * their own. Writes the layers' metrics into `out`; returns the number
    * of traced calls. */
  def all(spark: SparkSession, dir: String, tmp: String, cpus: Int, out: ObjectNode,
          fail: (String, Throwable) => Unit, withStores: Boolean): Int = {
    val tr = new Tracer(spark, true)
    def call(layer: String, name: String)(f: => Unit): Unit =
      try tr.span(layer, name)(f) catch { case e: Throwable => fail(s"$layer.$name", e) }

    Tables.names.foreach { n =>
      call("sources", "scan")(Sinks.noop(
        if (n == "events") Tables.events(spark, dir) else Tables.df(spark, dir, n)))
    }

    val li = Tables.lineitem(spark, dir)
    val ev = Tables.events(spark, dir)
    call("agg", "rank_pass") {
      val n = li.count()
      graft.agg.Aggs.discreteRankPass(li.select(col("l_extendedprice")), "l_extendedprice",
        Seq(50000.0), Seq((n + 1) / 2))
    }
    call("agg", "ql")(Sinks.noop(graft.agg.Ql(li).groupBy(col("l_returnflag"), col("l_linestatus"))
      .aggregate(sum(col("l_quantity")).as("q"), count(lit(1)).as("n")).result))
    call("relational", "sessionize")(Sinks.noop(
      graft.relational.Sessionize.sessionize(ev, gapUs = 30L * 60 * 1000000)))
    call("relational", "retention")(Sinks.noop(graft.relational.Retention.retention(ev)))
    call("relational", "asof") {
      val views = ev.where(col("event_type") === "view").select("event_id", "user_id", "ts")
      val clicks = ev.where(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max(col("event_id")).as("click_id"))
      Sinks.noop(graft.relational.AsOf.joinAsOf(views, clicks, "ts", Seq("user_id"), Seq("click_id")))
    }
    call("core", "pipeline") {
      import spark.implicits._
      graft.core.Pipeline(Tables.lineitemDs(spark, dir))
        .filter(_.l_quantity > 10)
        .map(l => (l.l_orderkey, l.l_extendedprice * (1 - l.l_discount)))
        .evalIgnore()
    }

    val docs = Tables.documents(spark, dir)
    val emb = Tables.embeddings(spark, dir)
    val kernels: Seq[(String, DataFrame)] = Seq(
      "shingles" -> docs.select(WordShingles(col("text"), 2)),
      "poly_minhash" -> docs.select(PolyMinHashLanes(col("text"), 2, 16)),
      "poly_simhash" -> docs.select(PolySimHash(col("text"), 32)),
      "simhash64" -> docs.select(SimHash64(split(col("text"), " "))),
      "char_poly_hash" -> docs.select(CharPolyHash(col("text"))),
      "context_triples" -> docs.select(ContextTriples(col("text"), 1)),
      "pair_grams" -> docs.select(PairGrams(col("text"))),
      "min_gram_hash" -> docs.select(MinGramHash(col("text"), 5)),
      "dot" -> emb.select(VectorFunctions.dot(col("embedding"), col("embedding"))),
      "theta_sketch" -> docs.select(explode(split(col("text"), " ")).as("t"))
        .agg(ThetaSketch.agg(col("t"))),
      "quantile_sketch" -> docs.agg(QuantileSketch.agg(col("n_chars").cast("double"))))
    val kernelRows = docs.count() * (kernels.size - 1) + emb.count()
    kernels.foreach { case (n, df) => call("functions", n)(Sinks.noop(df)) }
    val fnSecs = tr.secs("functions")
    out.put("functions.call_s", fnSecs)
    out.put("functions.rows_per_s", if (fnSecs > 0) kernelRows / fnSecs else 0.0)

    call("llm", "dedup")(Sinks.noop(Dedup.minHashNearDups(docs, k = 2, bands = 8,
      rowsPerBand = 2, threshold = 0.5)))
    val yieldRatio =
      try {
        val sig = Dedup.signatureIndex(docs, k = 2, bands = 8, rowsPerBand = 2)
        val cand = sig.as("a").join(sig.as("b"), Seq("band", "sig"))
          .where(col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
        val verified = Dedup.minHashNearDups(docs, k = 2, bands = 8, rowsPerBand = 2,
          threshold = 0.5).count()
        if (cand > 0) verified.toDouble / cand else 0.0
      } catch { case e: Throwable => fail("llm.dedup_yield", e); 0.0 }
    val queries = emb.where(col("vec_id") < 50)
    val centroids = Similarity.trainCodebook(emb, 16).localCheckpoint()
    call("llm", "similarity")(Sinks.noop(
      Similarity.ivfTopK(queries, emb, centroids, k = 10, nprobe = 2)))
    val recall =
      try {
        def top(df: DataFrame) = df.select(col("qid"), col("vec_id")).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val exact = top(Similarity.bruteTopK(queries, emb, 10))
        val approx = top(Similarity.ivfTopK(queries, emb, centroids, k = 10, nprobe = 2))
        if (exact.nonEmpty) (exact intersect approx).size.toDouble / exact.size else 0.0
      } catch { case e: Throwable => fail("llm.ann_recall", e); 0.0 }
    call("llm", "textstats")(Sinks.noop(TextStats.quality(docs)))
    call("llm", "curation")(Sinks.noop(Curation.curateFull(docs, lang = "en",
      minQuality = 0.0, nearDupThreshold = 0.7, maxPerGroup = 1000)))

    if (withStores) {
      val st = new StoreServe(spark, dir, s"$tmp/probe_stores", tr)
      try {
        st.bootstrap()
        st.round(0, fail)
        st.serveOnce(fail)
        st.readDirect(fail)
      } finally st.close()
      tr.close()
      st.layerMetrics(out)
    } else tr.close()

    out.put("sources.scan_s", tr.secs("sources"))
    out.put("sources.input_rows", tr.counts(tr.spansOf("sources"), cpus)("input_rows"))
    Seq("agg", "relational", "core").foreach(l => out.put(s"$l.call_s", tr.secs(l)))
    Seq("dedup", "similarity", "textstats", "curation")
      .foreach(n => out.put(s"llm.${n}_s", tr.secs("llm", n)))
    out.put("llm.dedup_yield", yieldRatio)
    out.put("llm.ann_recall", recall)
    tr.spans.size
  }
}
