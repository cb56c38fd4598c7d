package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The size-gated broadcast helper itself (r14 — the de-weak of the
  * backoff count-table broadcasts). The operator-level gates
  * (backoffScore/phrases/oovRate/novelty bit-identity tests) cover the
  * call sites; this pins the helper's own contract. */
class JoinsSpec extends SparkSpec {

  private def table(n: Long) =
    spark.range(n).select(col("id").as("k"), (col("id") * 7L).as("v"))
      .localCheckpoint(false)

  test("fitsBroadcast: inclusive at the gate, exclusive above it") {
    Joins.fitsBroadcast(table(100), maxRows = 100L) shouldBe true
    Joins.fitsBroadcast(table(101), maxRows = 100L) shouldBe false
    Joins.fitsBroadcast(table(0), maxRows = 0L) shouldBe true
    an[IllegalArgumentException] should be thrownBy
      Joins.fitsBroadcast(table(1), maxRows = -1L)
  }

  test("gatedBroadcast picks the join strategy; results identical either side of the gate") {
    val probe = spark.range(5000)
      .select(pmod(col("id"), lit(50L)).as("k"), col("id").as("p"))
    val dim = table(50)
    val small = probe.join(Joins.gatedBroadcast(dim, maxRows = 1000L), "k")
    val large = probe.join(Joins.gatedBroadcast(dim, maxRows = 10L), "k")
    small.queryExecution.executedPlan.toString should
      include("BroadcastHashJoin")
    large.queryExecution.executedPlan.toString should
      include("ShuffledHashJoin")
    large.orderBy("p").collect() shouldBe small.orderBy("p").collect()
  }

  test("the gate count runs NO exchange (the ratchet-neutrality contract)") {
    // fitsBroadcast counts via toRdd over the cut — a df.count() here
    // would execute a SinglePartition exchange and every call site
    // would owe +1 on its executed-shuffle ratchet
    val (_, run) = graft.obs.QueryProfile.measure(spark)(Joins.fitsBroadcast(table(1000)))
    run.shuffles shouldBe 0
  }

  test("over an eager cut, or a projection of one, the gate starts no job; over any other frame it counts") {
    import graft.core.Cut
    import graft.core.Cut.CutOps
    def jobs(gate: => Boolean): (Boolean, Int) = {
      val (fits, run) = graft.obs.QueryProfile.measure(spark)(gate)
      (fits, run.jobs)
    }
    val plain = spark.range(100).select(col("id").as("k"), (col("id") * 7L).as("v"))
    Cut.scope {
      val eager = plain.cutNow()
      jobs(Joins.fitsBroadcast(eager, maxRows = 100L)) shouldBe ((true, 0))
      jobs(Joins.fitsBroadcast(eager.select(col("v").as("w")).withColumn("one", lit(1)),
        maxRows = 99L)) shouldBe ((false, 0))
      jobs(Joins.fitsBroadcast(eager.where(col("k") < 10), maxRows = 10L)) shouldBe ((true, 1))
      jobs(Joins.fitsBroadcast(plain.cut(), maxRows = 100L)) shouldBe ((true, 1))
      jobs(Joins.fitsBroadcast(plain, maxRows = 100L)) shouldBe ((true, 1))
    }
  }
}
