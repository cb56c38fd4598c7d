package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Session warmup for benchmarking tools, so neither session start-up
  * nor code generation is charged to whichever measured query happens
  * to run first. Every measured query still plans and executes in full. */
object Warmup {
  /** Read every input table once (events through its schema-adaptive
    * reader) so parquet footers, codegen and JIT are warm before the
    * first measured query. A missing table is skipped. */
  def tables(spark: SparkSession, sfDir: String): Unit =
    graft.model.Tables.names.foreach { n =>
      try {
        val d = if (n == "events") graft.model.Tables.events(spark, sfDir)
                else graft.model.Tables.df(spark, sfDir, n)
        d.count()
      } catch { case _: Throwable => () }
    }

  /** Run the kernel-heavy plan shapes once on tiny LITERAL fixtures so
    * janino compilation and JIT of the generated classes are done. This
    * warms the JVM, not the data: no benchmarked table is touched. */
  def kernels(spark: SparkSession): Unit = {
    try {
      val docs = spark.range(8).select(col("id").as("doc_id"),
        concat_ws(" ", lit("w"), col("id").cast("string"), lit("x y z"),
          pmod(col("id"), lit(3)).cast("string")).as("text"),
        lit("en").as("lang"), lit("web").as("source"))
      graft.llm.Dedup.minHashNearDups(docs, k = 2, bands = 2, rowsPerBand = 2,
        threshold = 0.1).count()
      graft.llm.Dedup.simHashNearDups(docs, maxHamming = 8).count()
      graft.llm.Dedup.ngramJaccard(docs,
        docs.select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))).count()
      val emb = spark.range(8).select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(4)),
          i => (pmod(col("id") * i, lit(7)).cast("double") - 3.0).cast("float"))
          .as("embedding"))
      graft.llm.Dedup.embeddingNearDups(emb, threshold = 0.5, bitsPerTable = 4).count()
      graft.llm.Similarity.ivfTopK(emb, emb, centroids = emb, k = 2).count()
      graft.llm.TextStats.quality(docs).count()
      graft.llm.TextStats.fingerprint(docs).count()
      graft.llm.TextStats.redact(docs).count()
      graft.llm.Dedup.contamination(docs, docs.where(col("doc_id") === 0)).count()
      // the composite generates its own agg/join classes beyond the
      // constituents' — compile those once too
      graft.llm.Curation.curateFull(docs, lang = "en", minQuality = 0.0,
        nearDupThreshold = 0.9, maxPerGroup = 4).count()
      // round-9 kernels: HashedNgram{Buckets,Score} (dsir), CharPolyHash
      // (manifest), and the PQ ADC join shape
      graft.llm.TextStats.dsir(docs, isTarget = col("lang") === "en",
        keepFraction = 0.5, quantum = 16L).count()
      // (CharPolyHash moved to the noop-sunk kernel block below — its
      // old `.select(kernel).count()` was VACUOUS: count() prunes a bare
      // projection, so the kernel never actually compiled here)
      val pqcb = Seq(Seq(Seq(0.0, 0.0, 0.0, 0.0), Seq(1.0, 1.0, 1.0, 1.0)))
      graft.llm.Similarity.pqTopK(
        emb.withColumnRenamed("vec_id", "qid"),
        graft.llm.Similarity.pqEncode(emb, pqcb), pqcb, k = 2).count()
      // round-10 kernels: PolyMinHashLanes (near_poly banding),
      // PolySimHash, and the quantized sign-projection verify shape
      graft.llm.Dedup.polyMinHashNearDups(docs, k = 2, bands = 2,
        rowsPerBand = 2, threshold = 0.1).count()
      graft.llm.Dedup.polySimHashNearDups(docs, maxHamming = 8).count()
      graft.llm.Dedup.quantizedEmbeddingNearDups(emb, thresholdBp = 100L,
        dims = 4).count()
      // round-20 kernels (r21, the r20 verdict ask 6): ContextTriples
      // (backoff_lm position walks) and PairGrams (word2phrase pair walk)
      // janino-compiled inside the first measured query that used them —
      // exactly the first-query tax this warmup exists to prevent. Sunk
      // through noop, NOT count(): count() prunes a bare projection and
      // the kernels would never codegen (the count()-prunes rule).
      graft.sources.Sinks.noop(docs.select(
        graft.functions.WordShingles(col("text"), 2).as("ws"),
        graft.functions.ContextTriples(col("text"), 1).as("ct"),
        graft.functions.ContextTriples(col("text"), 3).as("ct3"),
        graft.functions.PairGrams(col("text")).as("pg"),
        graft.functions.CharPolyHash(col("text")).as("cph")))
    } catch { case _: Throwable => () } // warmup must never fail the bench
  }
}
