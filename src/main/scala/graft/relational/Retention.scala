package graft.relational

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cohort retention — the third classic of the event-analytics triad
  * (with [[Funnel]] and [[Sessionize]]): bucket users by their FIRST
  * active day (the cohort) and count, per cohort and per elapsed
  * `bucketDays` window, how many of them were active again — the
  * retention matrix every growth dashboard renders.
  *
  * Shape for 100 TB (redesigned r15 — a 10× scale probe of
  * `op_retention`'s operator caught the first cut spilling 2.4 GB): the
  * original one-exchange
  * `collect_set` formulation plans as ObjectHashAggregate, which
  * falls back to SORT-BASED aggregation past the per-partition
  * key threshold — so at scale the whole raw event stream was being
  * externally sorted. The current shape keeps every operator inside
  * whole-stage-codegen HashAggregate/Window instead:
  *
  *   1. distinct `(user, day)` — the one RAW-EVENT exchange, with
  *      map-side partial dedup (daily duplicates never cross the wire;
  *      this is where 100 TB becomes user-days);
  *   2. cohort = `min(day) OVER (PARTITION BY user)` — one user-keyed
  *      exchange + sort of the already-deduped user-days, no join-back
  *      and no second scan of the input;
  *   3. bucket projection + `(user, cohort, bucket)` dedup — the keys
  *      EXTEND the window's user hash (ClusteredDistribution subset
  *      rule), so this aggregate rides the existing partitioning with
  *      NO exchange, and makes each surviving row one distinct user
  *      per bucket;
  *   4. the |cohorts|·|buckets| cell count — a map-side-combined
  *      aggregate over per-user-bucket rows.
  *
  * Emits `(cohort_day, bucket_offset, n_users)` — the offset in
  * `bucketDays` units (`bucket_offset`, not `offset`: reserved in ANSI
  * engines, the bare-alias trap) from the cohort day; ORDER BY cohort,
  * offset. */
object Retention {

  def retention(events: DataFrame, bucketDays: Int = 7,
                userCol: String = "user_id",
                tsCol: String = "ts"): DataFrame = {
    require(bucketDays >= 1, s"bucketDays must be >= 1, got $bucketDays")
    val intDiv = graft.functions.VectorFunctions.intDiv _
    val userDays = events
      .select(col(userCol), to_date(col(tsCol)).as("__d"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(userCol))
    userDays
      .select(col(userCol), min(col("__d")).over(w).as("cohort_day"),
        col("__d"))
      .select(col(userCol), col("cohort_day"),
        intDiv(datediff(col("__d"), col("cohort_day")).cast("long"),
          lit(bucketDays.toLong)).as("bucket_offset"))
      .dropDuplicates(userCol, "cohort_day", "bucket_offset")
      .groupBy(col("cohort_day"), col("bucket_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("bucket_offset"))
  }
}
