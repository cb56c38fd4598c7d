package graft.plans

import graft.SparkSpec
import graft.model.Tables
import graft.obs.QueryProfile
import org.apache.spark.sql.functions._

/** The hardNegatives checkpoint-cut contract as a listener gate, not a
  * scaladoc comment (r14 verdict stretch item): the three
  * `localCheckpoint` cuts (quantized query side, quantized corpus
  * side, positives) must keep the EXECUTED parquet-scan count at 3
  * even when the caller derives queries, corpus AND positives from the
  * same table lineage — the measured regression shape (uncut, each of
  * posCut's two consumers re-ran the caller's positive-derivation
  * lineage: 4 executed scans). Plan-side gates can't see this — past a
  * cut the plan is `Scan ExistingRDD` — so the gate is the executed
  * FileScanRDD count across all jobs of one action (the
  * ExchangeBudgetSpec protocol). 3 is a RATCHET: lower-only. */
class HardNegativesCutSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  assume(new java.io.File(sfDir).isDirectory, s"fixture dir $sfDir missing")

  test("three cuts hold under caller-derived positives: 3 executed scans") {
    // every input shares the embeddings parquet lineage — the shape
    // that regressed to 4 scans before posCut existed
    val emb = Tables.embeddings(spark, sfDir)
      .where(col("embedding").isNotNull && col("vec_id") < 200)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val queries = emb.where(pmod(col("vec_id"), lit(7)) === 0)
      .select((col("vec_id") + 100000L).as("qid"), col("embedding"))
    val positives = emb.where(pmod(col("vec_id"), lit(7)) === 0)
      .select((col("vec_id") + 100000L).as("qid"), col("vec_id"))
    val (_, run) = QueryProfile.measure(spark) {
      graft.llm.Similarity.hardNegatives(queries, emb, positives,
          k = 3, numTables = 4, bits = 4)
        .write.format("noop").mode("overwrite").save()
    }
    withClue(s"${run.scans} executed scans (ratchet 3): ") {
      run.scans should be <= 3
    }
  }
}
