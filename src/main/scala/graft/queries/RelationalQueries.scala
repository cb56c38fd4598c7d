package graft.queries

import graft.agg.{Aggs, Ql}
import graft.model.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Joins (SURVEY §2.3), grouping/aggregation incl. trembita-ql parity
  * (§2.4), window functions (§2.6) and scalar-function coverage (§2.7).
  * Reference join semantics: pairwise theta-join via the CanJoin typeclass
  * (CITE: kernel/src/main/scala/trembita/operations/CanJoin.scala, recalled
  * path — /root/reference empty); aggregation algebra: ql/AggFunc.scala
  * add/combine/extract (recalled) = Spark Aggregator / built-in partial agg.
  *
  * Scale notes (100 TB): equi-joins shuffle on their keys and AQE picks
  * strategy/handles skew; dimension sides (region/nation/supplier/part) are
  * explicitly broadcast; the range join is bucketized to an equi-join on
  * hour so it never degenerates into a broadcast-nested-loop O(n²) pass.
  */
object RelationalQueries {

  val all: Seq[Q] = Seq(

    // ----- §2.3 joins --------------------------------------------------
    Q("op_join_inner",
      """SELECT o_orderkey, o_custkey, c_name
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin) {
      (spark, sf) =>
        Tables.orders(spark, sf)
          .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
          .select("o_orderkey", "o_custkey", "c_name")
          .orderBy("o_orderkey")
    },

    Q("op_join_left",
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin) {
      (spark, sf) =>
        Tables.customer(spark, sf)
          .join(Tables.orders(spark, sf), col("o_custkey") === col("c_custkey"), "left_outer")
          .groupBy("c_custkey").agg(count(col("o_orderkey")).as("n_orders"))
          .orderBy("c_custkey")
    },

    Q("op_join_cross",
      """SELECT r_regionkey, n_nationkey FROM region CROSS JOIN nation
        |ORDER BY r_regionkey, n_nationkey""".stripMargin) {
      (spark, sf) =>
        Tables.region(spark, sf).select("r_regionkey")
          .crossJoin(Tables.nation(spark, sf).select("n_nationkey"))
          .orderBy("r_regionkey", "n_nationkey")
    },

    // Engine policy: dims ≤10 MB get a broadcast hint (SURVEY §4.2).
    Q("op_join_broadcast",
      """SELECT c_custkey, n_name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin) {
      (spark, sf) =>
        Tables.customer(spark, sf)
          .join(broadcast(Tables.nation(spark, sf)), col("c_nationkey") === col("n_nationkey"))
          .select("c_custkey", "n_name")
          .orderBy("c_custkey")
    },

    Q("op_join_semi",
      """SELECT c_custkey FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin) {
      (spark, sf) =>
        Tables.customer(spark, sf)
          .join(Tables.orders(spark, sf), col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey").orderBy("c_custkey")
    },

    // Subtrahend restricted to pre-1996 orders so the expected result is
    // non-empty at every scale factor (fixture orderdates span 1995..2001):
    // an unrestricted anti join compares empty-to-empty at sf0.01 and the
    // gate cannot detect a wrong answer.
    Q("op_join_anti",
      """SELECT c_custkey FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderdate < TIMESTAMP '1996-01-01')
        |ORDER BY c_custkey""".stripMargin) {
      (spark, sf) =>
        val earlyOrders = Tables.orders(spark, sf)
          .where(col("o_orderdate") < to_timestamp(lit("1996-01-01")))
        Tables.customer(spark, sf)
          .join(earlyOrders, col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey").orderBy("c_custkey")
    },

    // Range join, bucketized: partner buckets = {hour, hour-1} on the build
    // side, then an equi-join on the bucket + residual range predicate.
    // Keeps the join a shuffled hash join (AQE-managed) instead of a
    // broadcast-nested-loop — the difference between O(n·w) and O(n²) at
    // 100 TB.
    Q("op_join_range",
      """SELECT a.event_id, count(b.event_id) AS n
        |FROM events a LEFT JOIN events b
        |  ON b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin) {
      (spark, sf) =>
        val e = Tables.events(spark, sf).select("event_id", "ts")
        val probe = e.withColumn("h", floor(unix_timestamp(col("ts")) / 3600))
        val build = e.select(col("event_id").as("b_id"), col("ts").as("b_ts"))
          .withColumn("bh", floor(unix_timestamp(col("b_ts")) / 3600))
          .withColumn("h", explode(array(col("bh"), col("bh") - 1)))
        probe.join(build,
            probe("h") === build("h") &&
              col("b_ts") > col("ts") &&
              col("b_ts") <= col("ts") + expr("INTERVAL 1 HOUR"),
            "left_outer")
          .groupBy("event_id").agg(count(col("b_id")).as("n"))
          .orderBy("event_id")
    },

    // The SAME range join written naively — `b.ts ∈ (a.ts, a.ts + 1h]` as a
    // raw theta predicate — relying on the RewriteRangeJoin optimizer rule
    // (graft.plans) to bucketize it automatically. Oracle identical to
    // op_join_range's; RewriteRangeJoinSpec asserts the hash-join plan.
    Q("op_join_range_auto",
      """SELECT a.event_id, count(b.event_id) AS n
        |FROM events a LEFT JOIN events b
        |  ON b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
        |GROUP BY a.event_id ORDER BY a.event_id""".stripMargin) {
      (spark, sf) =>
        // relies on RewriteRangeJoin being registered at session setup
        // (graft.Session, which every main and the test suite use,
        // or spark.sql.extensions=graft.functions.GraftExtensions) — a
        // query fn must not mutate session optimizer state
        val e = Tables.events(spark, sf).select("event_id", "ts")
        val b = e.select(col("event_id").as("b_id"), col("ts").as("b_ts"))
        e.join(b,
            col("b_ts") > col("ts") &&
              col("b_ts") <= col("ts") + expr("INTERVAL 1 HOUR"),
            "left_outer")
          .groupBy("event_id").agg(count(col("b_id")).as("n"))
          .orderBy("event_id")
    },

    // As-of (point-in-time) join: for each 'view' event, the most recent
    // 'click' by the same user at or before it. graft.relational.AsOf is a
    // union + running-last window — one shuffle on user_id, no range
    // nested loop; the oracle is DuckDB's native ASOF JOIN.
    Q("op_join_asof",
      """WITH l AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
        |r AS (
        |  SELECT user_id, ts, max(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT l.event_id, l.user_id, r.click_id
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
        |ORDER BY l.event_id""".stripMargin) {
      (spark, sf) =>
        val ev = Tables.events(spark, sf)
        val views = ev.where(col("event_type") === "view")
          .select("event_id", "user_id", "ts")
        // max(event_id) per (user, ts): unique right rows → deterministic
        val clicks = ev.where(col("event_type") === "click")
          .groupBy("user_id", "ts").agg(max(col("event_id")).as("click_id"))
        graft.relational.AsOf.joinAsOf(views, clicks, "ts", Seq("user_id"), Seq("click_id"))
          .select("event_id", "user_id", "click_id")
          .orderBy("event_id")
    },

    // Salted skew join: the static fallback for keys so hot that even AQE's
    // skew split leaves oversized partitions (SURVEY §4 policy). The Spark
    // side runs the actual salting machinery — big side bucketed by a
    // deterministic discriminator hash, small side replicated buckets× via
    // explode — while the oracle is a PLAIN inner join, so a wrong bucket
    // match (duplicated rows), a dropped bucket (missing rows) or a
    // nondeterministic salt all hash-mismatch. Row-level output on unique
    // (l_orderkey, l_linenumber) keeps the gate maximally discriminating.
    Q("op_join_skew",
      """SELECT l_orderkey, l_linenumber, l_suppkey, s_name
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) {
      (spark, sf) =>
        val li = Tables.lineitem(spark, sf)
          .select("l_orderkey", "l_linenumber", "l_suppkey")
        val sup = Tables.supplier(spark, sf).select("s_suppkey", "s_name")
        graft.relational.Skew.saltedJoin(
            li, sup,
            col("l_suppkey"), col("s_suppkey"),
            struct(col("l_orderkey"), col("l_linenumber")), buckets = 8)
          .select("l_orderkey", "l_linenumber", "l_suppkey", "s_name")
          .orderBy("l_orderkey", "l_linenumber")
    },

    // ----- §2.4 grouping & aggregation ---------------------------------
    // A1 kernel groupBy: typed groupByKey — the reference's (K, Iterable[A])
    // shape; group size keeps the oracle hash-stable (SURVEY §2.4 A1).
    Q("op_groupby_collect",
      "SELECT c_mktsegment AS seg, count(*) AS n FROM customer GROUP BY 1 ORDER BY 1") {
      (spark, sf) =>
        import spark.implicits._
        Tables.customer(spark, sf).as[graft.model.Customer]
          .groupByKey(_.c_mktsegment)
          .mapGroups((k, it) => (k, it.size.toLong))
          .toDF("seg", "n")
          .orderBy("seg")
    },

    Q("agg_count",
      """SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) {
      (spark, sf) =>
        Tables.lineitem(spark, sf)
          .groupBy("l_returnflag", "l_linestatus").agg(count(lit(1)).as("n"))
          .orderBy("l_returnflag", "l_linestatus")
    },

    // l_quantity is integral-valued → double sum is exact (SURVEY §2.9-bis).
    Q("agg_sum",
      """SELECT l_returnflag, sum(l_quantity) AS sum_qty FROM lineitem
        |GROUP BY 1 ORDER BY 1""".stripMargin) {
      (spark, sf) =>
        Tables.lineitem(spark, sf)
          .groupBy("l_returnflag").agg(sum(col("l_quantity")).as("sum_qty"))
          .orderBy("l_returnflag")
    },

    // l_quantity is integral → the 4dp average is computed as integer
    // round-half-up ((20000·S + n) div 2n) — engine-independent, immune to
    // the .00005-boundary round() divergence (SURVEY §2.9-bis rule 2).
    Q("agg_avg",
      """SELECT l_returnflag,
        |  ((20000 * CAST(sum(l_quantity) AS BIGINT) + count(*))
        |    // (2 * count(*))) / 10000.0 AS avg_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) {
      (spark, sf) =>
        Tables.lineitem(spark, sf)
          .groupBy("l_returnflag")
          .agg((graft.functions.VectorFunctions.intDiv(
              sum(col("l_quantity")).cast("long") * 20000 + count(lit(1)),
              count(lit(1)) * 2).cast("double") / 10000.0).as("avg_qty"))
          .orderBy("l_returnflag")
    },

    Q("agg_min_max",
      """SELECT o_orderpriority, min(o_totalprice) AS min_p, max(o_totalprice) AS max_p
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) {
      (spark, sf) =>
        Tables.orders(spark, sf)
          .groupBy("o_orderpriority")
          .agg(min(col("o_totalprice")).as("min_p"), max(col("o_totalprice")).as("max_p"))
          .orderBy("o_orderpriority")
    },

    // A6 product via the custom Aggregator (add/combine/extract — the
    // reference AggFunc algebra). Domain {1,2,3}, ≤12 factors per group at
    // any sf → product ≤ 3^12, exactly representable, order-independent.
    Q("agg_product",
      """SELECT p_brand, product(p_size % 3 + 1) AS prod FROM part
        |WHERE p_partkey <= 200 GROUP BY 1 ORDER BY 1""".stripMargin) {
      (spark, sf) =>
        Tables.part(spark, sf)
          .where(col("p_partkey") <= 200)
          .groupBy("p_brand")
          .agg(Aggs.productCol((col("p_size") % 3 + 1).cast("double")).as("prod"))
          .orderBy("p_brand")
    },

    // The operator under test is collect-to-list (Aggs.arrSorted); the array
    // is serialized to a canonical comma-joined string ONLY at the output
    // boundary because the driver's pandas comparator cannot hash ndarray
    // cells (CORRECTNESS_r01 `unhashable type` failure).
    Q("agg_collect_list",
      """SELECT n_regionkey,
        |  array_to_string(list(n_nationkey ORDER BY n_nationkey), ',') AS nations
        |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin) {
      (spark, sf) =>
        Tables.nation(spark, sf)
          .groupBy("n_regionkey")
          .agg(concat_ws(",", Aggs.arrSorted(col("n_nationkey")).cast("array<string>"))
            .as("nations"))
          .orderBy("n_regionkey")
    },

    Q("agg_string_agg",
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names
        |FROM nation GROUP BY 1 ORDER BY 1""".stripMargin) {
      (spark, sf) =>
        Tables.nation(spark, sf)
          .groupBy("n_regionkey")
          .agg(Aggs.stringAgg(col("n_name"), ",").as("names"))
          .orderBy("n_regionkey")
    },

    // stddev from EXACT decimal sums, finished with the identical double
    // expression on both sides: native stddev implementations accumulate in
    // different orders/algorithms (Welford vs two-pass) → different doubles
    // → round() can flip. sqrt((s2 − s1²/n)/(n−1)) over exact s1/s2 is
    // bit-deterministic across engines.
    Q("agg_stddev",
      """SELECT o_orderpriority,
        |  round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 2) AS sd
        |FROM (
        |  SELECT o_orderpriority,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))
        |             * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s2,
        |    CAST(count(*) AS DOUBLE) AS n
        |  FROM orders GROUP BY 1)
        |ORDER BY 1""".stripMargin) {
      (spark, sf) =>
        val p = col("o_totalprice").cast("decimal(18,2)")
        Tables.orders(spark, sf)
          .groupBy("o_orderpriority")
          .agg(sum(p).cast("double").as("s1"),
            sum(p * p).cast("double").as("s2"),
            count(lit(1)).cast("double").as("n"))
          .select(col("o_orderpriority"),
            round(sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)), 2)
              .as("sd"))
          .orderBy("o_orderpriority")
    },

    Q("agg_rms",
      """SELECT l_returnflag, round(sqrt(avg(l_quantity * l_quantity)), 4) AS rms
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin) {
      (spark, sf) =>
        Tables.lineitem(spark, sf)
          .groupBy("l_returnflag")
          .agg(round(Aggs.rms(col("l_quantity")), 4).as("rms"))
          .orderBy("l_returnflag")
    },

    // A11 "random element" made deterministic: min_by (single pass, no
    // window shuffle).
    Q("agg_first_deterministic",
      """SELECT o_orderpriority, min_by(o_totalprice, o_orderkey) AS first_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) {
      (spark, sf) =>
        Tables.orders(spark, sf)
          .groupBy("o_orderpriority")
          .agg(Aggs.firstBy(col("o_totalprice"), col("o_orderkey")).as("first_price"))
          .orderBy("o_orderpriority")
    },

    // A12 having via the QL builder (trembita-ql query() parity).
    Q("agg_having",
      """SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem
        |GROUP BY 1, 2 HAVING count(*) > 40 ORDER BY 1, 2""".stripMargin) {
      (spark, sf) =>
        Ql(Tables.lineitem(spark, sf))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .aggregate(count(lit(1)).as("n"))
          .having(col("n") > 40)
          .orderBy(col("l_returnflag"), col("l_linestatus"))
          .result
    },

    Q("agg_multikey",
      """SELECT l_returnflag, l_linestatus, CAST(year(l_shipdate) AS BIGINT) AS yr,
        |  sum(l_quantity) AS sum_qty
        |FROM lineitem GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) {
      (spark, sf) =>
        Tables.lineitem(spark, sf)
          .groupBy(col("l_returnflag"), col("l_linestatus"),
            year(col("l_shipdate")).cast("long").as("yr"))
          .agg(sum(col("l_quantity")).as("sum_qty"))
          .orderBy("l_returnflag", "l_linestatus", "yr")
    },

    // Money sums in decimal (exact, order-independent), surfaced as double
    // (SURVEY §2.9-bis rule 2).
    Q("agg_global",
      """SELECT count(*) AS n, sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem""".stripMargin) {
      (spark, sf) =>
        Tables.lineitem(spark, sf)
          .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
            sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
    },

    Q("agg_rollup",
      """SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) {
      (spark, sf) =>
        Tables.lineitem(spark, sf)
          .rollup("l_returnflag", "l_linestatus").agg(count(lit(1)).as("n"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    Q("agg_cube",
      """SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) {
      (spark, sf) =>
        Tables.lineitem(spark, sf)
          .cube("l_returnflag", "l_linestatus").agg(count(lit(1)).as("n"))
          .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // GROUPING SETS (r14) — the general form rollup/cube specialize:
    // an explicit lattice of aggregation levels in ONE pass (here the
    // two marginals + the grand total, skipping the full cross table a
    // CUBE would also pay for).
    Q("agg_grouping_sets",
      """SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) {
      (spark, sf) =>
        Tables.lineitem(spark, sf)
          .groupingSets(
            Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
            col("l_returnflag"), col("l_linestatus"))
          .agg(count(lit(1)).as("n"))
          .orderBy(asc_nulls_first("l_returnflag"),
            asc_nulls_first("l_linestatus"))
    },

    Q("agg_count_distinct",
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) {
      (spark, sf) =>
        Tables.orders(spark, sf)
          .groupBy("o_orderpriority")
          .agg(count_distinct(col("o_custkey")).as("n_cust"))
          .orderBy("o_orderpriority")
    },

    // DISCRETE percentile — returns an actual data value, no interpolation.
    // Continuous percentiles interpolate an even-count median to an exact
    // half-cent, which is a guaranteed 2dp rounding tie between engines.
    Q("agg_percentile",
      """SELECT o_orderpriority,
        |  quantile_disc(o_totalprice, 0.5) AS p50,
        |  quantile_disc(o_totalprice, 0.9) AS p90
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) {
      (spark, sf) =>
        Tables.orders(spark, sf)
          .groupBy("o_orderpriority")
          .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)").as("p50"),
            expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)").as("p90"))
          .orderBy("o_orderpriority")
    },

    // Sketch tier of A17: HLL count + t-digest-style percentile. Bounded
    // error, constant memory — the 100 TB form of the two exact ops above.
    // Approximate by design → rows-only check; accuracy pinned in specs.
    // Why no oracle, ever: DuckDB's approx_count_distinct/approx_quantile
    // run DIFFERENT sketch algorithms with different seeds/bucket layouts —
    // two correct implementations legitimately return different estimates,
    // so no tolerance-free formulation can hash-match across engines (the
    // exact siblings agg_count_distinct/agg_percentile carry the oracle
    // for this row instead).
    // The sketch VALUES can't cross engines, but their ERROR CONTRACTS
    // can: the oracle replays the exact count and asserts the bound
    // booleans literally TRUE — a broken HLL (or a bound sloppier than
    // 3·rsd) hash-mismatches, so the approximate row is gated on the
    // guarantee it actually advertises. |approx − exact| ≤ 0.15·exact is
    // integer cross-multiplied; the p50 band check is exact percentiles
    // 0.40/0.60 around the rank-error-bounded percentile_approx.
    Q("agg_approx",
      """SELECT o_orderpriority,
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
        |  TRUE AS cust_within_bound,
        |  TRUE AS p50_within_band
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin) { (spark, sf) =>
      Tables.orders(spark, sf)
        .groupBy("o_orderpriority")
        .agg(
          countDistinct(col("o_custkey")).as("n_exact"),
          approx_count_distinct(col("o_custkey"), 0.05).as("__a"),
          percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("__p"),
          expr("percentile(o_totalprice, 0.40)").as("__lo"),
          expr("percentile(o_totalprice, 0.60)").as("__hi"))
        .withColumn("cust_within_bound",
          abs(col("__a") - col("n_exact")) * 20 <= col("n_exact") * 3)
        .withColumn("p50_within_band",
          col("__p") >= col("__lo") && col("__p") <= col("__hi"))
        .select("o_orderpriority", "n_exact", "cust_within_bound", "p50_within_band")
        .orderBy("o_orderpriority")
    },

    // The MERGEABLE-sketch contract (r13) — the 100 TB pattern behind
    // every approx distinct-count dashboard: per-group (think per-day /
    // per-shard) DataSketches HLL partials built once at ingest, then
    // UNIONED at query time — the union of partials must estimate the
    // GLOBAL cardinality, not just each group's, or pre-aggregation is
    // unsound. Oracle pins the exact count, the partial count, and the
    // error contract (DataSketches HLL at lgK=14 is ~0.8 % RSE; 2 %
    // asserted). Sketch BYTES are engine-internal, so like agg_approx
    // the oracle gates the CONTRACT, not the binary.
    Q("agg_hll_merge",
      """SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
        |  CAST((SELECT count(DISTINCT o_orderpriority) FROM orders) AS BIGINT)
        |    AS n_parts,
        |  TRUE AS merged_within_bound
        |FROM orders""".stripMargin) { (spark, sf) =>
      val orders = Tables.orders(spark, sf)
      val merged = orders
        .groupBy("o_orderpriority")
        .agg(expr("hll_sketch_agg(o_custkey, 14)").as("__sk"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(__sk))").as("__est"),
          count(lit(1)).as("n_parts"))
      val exact = orders.agg(
        countDistinct(col("o_custkey")).as("n_exact"))
      exact.crossJoin(broadcast(merged))
        .withColumn("merged_within_bound",
          abs(col("__est") - col("n_exact")) * 100 <= col("n_exact") * 2)
        .select("n_exact", "n_parts", "merged_within_bound")
    },

    // Pivot (r14): long → wide with an EXPLICIT pivot-value list — at
    // scale the column set must be declared, never discovered from the
    // data (a data-dependent pivot is a collect of the key domain).
    // Spark plans one partial-aggregate pass (pivot_first), no join.
    Q("agg_pivot",
      """SELECT CAST(year(o_orderdate) AS BIGINT) order_year,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
        |  CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high,
        |  CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS low
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, sf) =>
      Tables.orders(spark, sf)
        .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
        .pivot("o_orderpriority", Seq("1-URGENT", "2-HIGH", "5-LOW"))
        .count()
        .select(col("order_year"),
          coalesce(col("1-URGENT"), lit(0L)).as("urgent"),
          coalesce(col("2-HIGH"), lit(0L)).as("high"),
          coalesce(col("5-LOW"), lit(0L)).as("low"))
        .orderBy("order_year")
    },

    // Unpivot/melt (r14): wide → long via Dataset.unpivot — the
    // narrow-transform twin of agg_pivot (ids kept, value columns
    // become (var, val) rows; a metrics-wide table melts to the tall
    // form every generic aggregator consumes). Pure projection +
    // Expand — no shuffle beyond the declared sort. The melted value
    // leaves as VARCHAR on both sides (r15): ANY parquet decimal
    // output materializes as object-dtype decimal.Decimal in the
    // driver comparator — the r14 red row — so the DECIMAL(18,2)
    // money lane is kept internal and serialized at the boundary.
    Q("op_melt",
      """SELECT c_custkey, k AS metric, CAST(CAST(v AS DECIMAL(18,2)) AS VARCHAR) AS val
        |FROM (
        |  SELECT c_custkey, 'acctbal' AS k, c_acctbal AS v FROM customer
        |  UNION ALL
        |  SELECT c_custkey, 'nationkey', CAST(c_nationkey AS DECIMAL(18,2))
        |  FROM customer)
        |ORDER BY c_custkey, metric""".stripMargin) { (spark, sf) =>
      Tables.customer(spark, sf)
        .select(col("c_custkey"),
          col("c_acctbal").cast("decimal(18,2)").as("acctbal"),
          col("c_nationkey").cast("decimal(18,2)").as("nationkey"))
        .unpivot(Array(col("c_custkey")),
          Array(col("acctbal"), col("nationkey")), "metric", "val")
        .withColumn("val", col("val").cast("string"))
        .orderBy("c_custkey", "metric")
    },

    // The Count-Min side of the mergeable-sketch tier (r14, next to
    // agg_hll_merge): per-group CMS partials built in ONE aggregation
    // pass (executor-mergeable binary format), merged driver-side
    // (bounded by the group-count require — Spark ships no cms_union
    // SQL aggregate), then point-queried for the corpus's top
    // heavy-hitter keys. The gate is the contract, not the bytes:
    // est ≥ exact is CMS's DETERMINISTIC one-sided guarantee (a
    // sketch that ever under-counts is broken), and the overestimate
    // stays within 2·eps·N (eps 0.001 → slack is ~0.2 % of the corpus,
    // vast at these depths). Exact heavy-hitter election replays in
    // SQL: count desc, key asc, LIMIT 3.
    Q("agg_cms_merge",
      """WITH t AS (
        |  SELECT o_custkey, count(*) n FROM orders GROUP BY 1),
        |top3 AS (
        |  SELECT o_custkey, n FROM t ORDER BY n DESC, o_custkey LIMIT 3)
        |SELECT o_custkey, CAST(n AS BIGINT) n_exact,
        |  TRUE AS est_ge_exact, TRUE AS within_bound
        |FROM top3 ORDER BY o_custkey""".stripMargin) { (spark, sf) =>
      import spark.implicits._
      val orders = Tables.orders(spark, sf)
      val parts = orders.groupBy("o_orderpriority")
        .agg(expr("count_min_sketch(o_custkey, 0.001d, 0.99d, 42)").as("sk"))
        .collect()
      require(parts.length <= 64,
        s"cms merge expects a bounded partial set, got ${parts.length}")
      val merged = parts
        .map(r => org.apache.spark.util.sketch.CountMinSketch
          .readFrom(r.getAs[Array[Byte]]("sk")))
        .reduce { (a, b) => a.mergeInPlace(b); a }
      val cands = orders.groupBy("o_custkey")
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("o_custkey"))
        .limit(3)
        .as[(Long, Long)].collect()
      val slack = math.max(1L, (2 * 0.001 * merged.totalCount()).toLong)
      cands.toSeq.map { case (k, n) =>
        val est = merged.estimateCount(k)
        (k, n, est >= n, est <= n + slack)
      }.toDF("o_custkey", "n_exact", "est_ge_exact", "within_bound")
        .orderBy("o_custkey")
    },

    // The QUANTILE member of the mergeable-sketch tier (r15, closing
    // the HLL/CMS/percentile triangle): per-group Greenwald–Khanna
    // partials (graft.functions.QuantileSketch — approx_percentile's
    // own structure, but emitted as bytes) built in ONE aggregation
    // pass, driver-merged (bounded by the group-count require), then
    // rank-queried. The gate is GK's DETERMINISTIC guarantee: the
    // value returned for q has exact rank within ±eps·N — checked by
    // replaying the value's exact rank window [lo+1, hi] against
    // [(q−eps)·N, (q+eps)·N] in integer cross-multiplication (merge
    // order may move the VALUE, never the bound). Exact
    // percentile_disc values ride along for the cross-engine hash.
    Q("agg_quantile_merge",
      """SELECT CAST(2500 AS BIGINT) AS q_bp,
        |  quantile_disc(o_totalprice, 0.25) AS exact_disc,
        |  (SELECT CAST(count(DISTINCT o_orderpriority) AS BIGINT) FROM orders)
        |    AS n_parts,
        |  TRUE AS within_rank_eps
        |FROM orders
        |UNION ALL
        |SELECT 5000, quantile_disc(o_totalprice, 0.5),
        |  (SELECT CAST(count(DISTINCT o_orderpriority) AS BIGINT) FROM orders),
        |  TRUE FROM orders
        |UNION ALL
        |SELECT 9000, quantile_disc(o_totalprice, 0.9),
        |  (SELECT CAST(count(DISTINCT o_orderpriority) AS BIGINT) FROM orders),
        |  TRUE FROM orders
        |ORDER BY q_bp""".stripMargin) { (spark, sf) =>
      import spark.implicits._
      val orders = Tables.orders(spark, sf)
      val eps = 0.01
      val parts = orders.groupBy("o_orderpriority")
        .agg(graft.functions.QuantileSketch
          .agg(col("o_totalprice").cast("double"), eps).as("sk"))
        .collect()
      require(parts.length <= 64,
        s"quantile merge expects a bounded partial set, got ${parts.length}")
      val merged = parts
        .map(r => graft.functions.QuantileSketch
          .fromBytes(r.getAs[Array[Byte]]("sk")))
        .reduce(graft.functions.QuantileSketch.merge)
      val qsBp = Seq(2500L, 5000L, 9000L)
      val ests = qsBp.map(q => graft.functions.QuantileSketch
        .query(merged, q / 10000.0)
        .getOrElse(sys.error(s"empty sketch at q=$q")))
      // one exact pass, ONE buffer (r21, guide §5): the old shape ran
      // three percentile_disc aggregates in this agg — three full
      // per-value buffers of the whole column in one final-agg task —
      // for three order statistics. The rank pass reads them (and the
      // lo/hi rank windows) off one cumulative histogram instead; the
      // target ranks come integer-exactly from the merged sketch's own
      // count (GK tracks N exactly), and the pass's n must agree with
      // it or the replay is incoherent. Output values bit-identical
      // (QuantileSketchSpec pins the rank pass == percentile_disc on
      // boundary-heavy fixtures; oracle re-verified tri-scale).
      val nSketch = merged.count
      val rks = qsBp.map(q => (q * nSketch + 9999L) / 10000L)
      val r = graft.agg.Aggs.discreteRankPass(
        orders.select("o_totalprice"), "o_totalprice", ests, rks)
      val n = r.getAs[Long]("n")
      require(n == nSketch,
        s"exact pass saw $n rows but the merged sketch counted $nSketch")
      val epsBp = (eps * 10000).toLong
      qsBp.zipWithIndex.map { case (q, i) =>
        val lo = r.getAs[Long](s"lo$i")
        val hi = r.getAs[Long](s"hi$i")
        val within = (lo + 1) * 10000L <= (q + epsBp) * n &&
          hi * 10000L >= (q - epsBp) * n
        (q, r.getAs[Double](s"d$i"), parts.length.toLong, within)
      }.toDF("q_bp", "exact_disc", "n_parts", "within_rank_eps")
        .orderBy("q_bp")
    },

    // Per-column dataset profiler (r14) — the datasheet header: one
    // scan, one global aggregation, one row per column (counts, nulls,
    // string min/max, HLL cardinality). Distinct estimates are
    // engine-internal, so the gate is the agg_approx contract (exact
    // replay + 5 % bound boolean); everything else is value-exact.
    // The exact-distinct side the boolean needs is its own wide
    // aggregate (Spark expands multi-distinct — the per-column
    // exchange the profiler itself refuses to pay at 100 TB).
    Q("op_profile",
      """WITH p AS (
        |  SELECT 'doc_id' AS col_name, count(*) n_rows,
        |    count(*) - count(doc_id) n_nulls,
        |    CAST(min(doc_id) AS VARCHAR) min_val,
        |    CAST(max(doc_id) AS VARCHAR) max_val,
        |    CAST(count(DISTINCT doc_id) AS BIGINT) d FROM documents
        |  UNION ALL
        |  SELECT 'lang', count(*), count(*) - count(lang),
        |    CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR),
        |    CAST(count(DISTINCT lang) AS BIGINT) FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', count(*), count(*) - count(n_chars),
        |    CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR),
        |    CAST(count(DISTINCT n_chars) AS BIGINT) FROM documents
        |  UNION ALL
        |  SELECT 'source', count(*), count(*) - count(source),
        |    CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR),
        |    CAST(count(DISTINCT source) AS BIGINT) FROM documents)
        |SELECT col_name, n_rows, n_nulls, min_val, max_val,
        |  d AS distinct_exact, TRUE AS within_bound
        |FROM p ORDER BY col_name""".stripMargin) { (spark, sf) =>
      val docs = Tables.documents(spark, sf)
      val cols = Seq("doc_id", "lang", "n_chars", "source").sorted
      val exactAggs = cols.map(c => countDistinct(col(c)).as(s"__x_$c"))
      val exactWide = docs.agg(exactAggs.head, exactAggs.tail: _*)
      val exactRows = cols.map(c => struct(lit(c).as("col_name"),
        col(s"__x_$c").as("distinct_exact")))
      val exact = exactWide
        .select(explode(array(exactRows: _*)).as("__r"))
        .select(col("__r.col_name"), col("__r.distinct_exact"))
      graft.relational.Profile.profile(docs, cols)
        .join(broadcast(exact), "col_name")
        .select(col("col_name"), col("n_rows"), col("n_nulls"),
          col("min_val"), col("max_val"), col("distinct_exact"),
          (abs(col("distinct_est") - col("distinct_exact")) * 20 <=
            col("distinct_exact")).as("within_bound"))
        .orderBy("col_name")
    },

    // Ordered-funnel conversion (r14): greedy-earliest
    // view→click→purchase fold per user with a 24 h max step gap —
    // probed tri-scale for a non-degenerate depth distribution
    // (9/3/3 → 964/319/217 users at steps 1/2/3; an unbounded gap
    // completes everyone, a 1 h gap strands everyone at step 1).
    // One user-keyed exchange; the fold replays in DuckDB as a
    // list_reduce over the same (ts, event_id)-sorted structs.
    Q("op_funnel",
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) tsu, event_type tp, event_id
        |  FROM events),
        |l AS (
        |  SELECT user_id,
        |    list(struct_pack(k := 0, ts := tsu, tp := tp)
        |      ORDER BY tsu, event_id) evs
        |  FROM e GROUP BY 1),
        |f AS (
        |  SELECT user_id,
        |    list_reduce(
        |      list_prepend(struct_pack(k := 0, ts := 0::BIGINT, tp := ''), evs),
        |      (s, x) -> CASE
        |        WHEN s.k < 3 AND x.tp = (['view', 'click', 'purchase'])[s.k + 1]
        |          AND (s.k = 0 OR x.ts - s.ts <= 86400000000)
        |        THEN struct_pack(k := s.k + 1, ts := x.ts, tp := '')
        |        ELSE struct_pack(k := s.k, ts := s.ts, tp := '') END) st
        |  FROM l)
        |SELECT user_id, CAST(st.k AS BIGINT) steps_completed,
        |  CASE WHEN st.k = 3 THEN st.ts END AS completed_ts_us
        |FROM f ORDER BY user_id""".stripMargin) { (spark, sf) =>
      graft.relational.Funnel.funnel(Tables.events(spark, sf),
        Seq("view", "click", "purchase"), maxGapUs = 86400000000L)
    },

    // Cohort retention (r14): weekly retention matrix. The raw fixture
    // puts every user's first event on ~day 1 (ONE cohort — a vacuous
    // matrix), so staggered onboarding is planted IN-QUERY on both
    // sides: each user's events before day 1 + user_id % 20 are
    // dropped, spreading first-activity across 21 cohort days (probed
    // tri-scale: 56/69/69 cells, counts 1–83).
    Q("op_retention",
      """WITH e0 AS (SELECT user_id, CAST(ts AS DATE) d FROM events),
        |e AS (SELECT user_id, d FROM e0 WHERE day(d) >= 1 + user_id % 20),
        |c AS (SELECT user_id, min(d) cohort FROM e GROUP BY 1),
        |r AS (
        |  SELECT DISTINCT c.cohort, (e.d - c.cohort) // 7 wk, e.user_id
        |  FROM e JOIN c USING (user_id))
        |SELECT cohort AS cohort_day, CAST(wk AS BIGINT) bucket_offset,
        |  count(*) n_users
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, sf) =>
      val ev = Tables.events(spark, sf)
        .select(col("user_id"), col("ts"))
        .where(dayofmonth(to_date(col("ts"))) >=
          lit(1) + pmod(col("user_id"), lit(20)))
      graft.relational.Retention.retention(ev, bucketDays = 7)
    },

    // CDC upsert (r15) — the engine's MERGE INTO face: a planted
    // changelog (updates on %21 keys, deletes on %15, inserts under
    // +10^8, a %105 key gets update-then-delete so the version order
    // decides) applied to the %3 base snapshot. Latest-per-key is a
    // partitioned window, never max(struct) — the ObjectHashAggregate
    // sort-fallback class the r15 retention redesign removed; the base
    // join reuses the window's key hash. Changes ride ONE scan via
    // explode fusion (the one-scan planting rule).
    Q("op_upsert",
      CdcFixture.changelogCtes + "\n" + CdcFixture.mergedSelect) {
      (spark, sf) =>
        val (base, changes) = CdcFixture.baseAndChanges(spark, sf)
        graft.relational.Cdc.upsert(base, changes, Seq("o_orderkey"))
    },

    // Temporal snapshot (r15) — upsert's time-travel twin: state AS OF
    // version 2 from the changelog alone (v1 inserts %7, v2 deletes
    // %14, v3 re-inserts %28 — invisible at the asked version, so the
    // predicate pushdown is load-bearing, not decorative).
    Q("op_snapshot_asof",
      """WITH o AS (
        |  SELECT o_orderkey k, o_orderpriority p, o_totalprice t FROM orders),
        |chg AS (
        |  SELECT k, 'V1' AS p, t, 1 AS v, 'U' AS op FROM o WHERE k % 7 = 0
        |  UNION ALL
        |  SELECT k, '', 0.0, 2, 'D' FROM o WHERE k % 14 = 0
        |  UNION ALL
        |  SELECT k, 'V3', t + 2.0, 3, 'U' FROM o WHERE k % 28 = 0),
        |vis AS (SELECT * FROM chg WHERE v <= 2),
        |last AS (
        |  SELECT k, p, t, op,
        |    row_number() OVER (PARTITION BY k ORDER BY v DESC) rn
        |  FROM vis)
        |SELECT k AS o_orderkey, p AS o_orderpriority, t AS o_totalprice
        |FROM last WHERE rn = 1 AND op <> 'D'
        |ORDER BY o_orderkey""".stripMargin) { (spark, sf) =>
      val o = Tables.orders(spark, sf)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
      def row(p: Column, t: Column, v: Long, op: String) =
        struct(col("o_orderkey").as("o_orderkey"), p.as("o_orderpriority"),
          t.as("o_totalprice"), lit(v).as("version"), lit(op).as("op"))
      val changes = o.select(explode(array(
          when(pmod(col("o_orderkey"), lit(7)) === 0,
            row(lit("V1"), col("o_totalprice"), 1L, "U")),
          when(pmod(col("o_orderkey"), lit(14)) === 0,
            row(lit(""), lit(0.0d), 2L, "D")),
          when(pmod(col("o_orderkey"), lit(28)) === 0,
            row(lit("V3"), col("o_totalprice") + 2.0d, 3L, "U"))))
          .as("c"))
        .where(col("c").isNotNull)
        .select(col("c.*"))
      graft.relational.Cdc.snapshotAsOf(changes, lit(2L), Seq("o_orderkey"))
    },

    // W1-family completion (r15): the distribution windows — ntile
    // buckets, percent_rank, cume_dist on one partitioned order. Rank
    // ratios are small-integer IEEE divisions (identical across
    // engines); the (price, key) order key is collision-free so every
    // rank is deterministic.
    Q("win_ntile",
      """SELECT o_orderkey,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM orders WHERE o_orderkey % 50 = 0
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin) { (spark, sf) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(spark, sf)
        .where(pmod(col("o_orderkey"), lit(50)) === 0)
        .select(col("o_orderkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("o_orderkey")
    },

    // Batch sessionization (r14): 24 h gap-based sessions — the batch
    // twin of stream_session (which holds only state-store session
    // state; this replays history). Probed tri-scale: 111/1214/11966
    // sessions over 15/150/1500 users, up to 14 per user. Break flags
    // + running index share ONE (user, ts) window exchange.
    Q("op_sessionize",
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) tsu, event_id FROM events),
        |l AS (
        |  SELECT user_id, tsu, event_id,
        |    CASE WHEN lag(tsu) OVER w IS NULL
        |      OR tsu - lag(tsu) OVER w > 86400000000 THEN 1 ELSE 0 END brk
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
        |s AS (
        |  SELECT user_id, tsu,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY tsu, event_id)
        |      session_idx
        |  FROM l)
        |SELECT user_id, CAST(session_idx AS BIGINT) session_idx,
        |  count(*) n_events,
        |  CAST(min(tsu) AS BIGINT) start_us, CAST(max(tsu) AS BIGINT) end_us,
        |  CAST(max(tsu) - min(tsu) AS BIGINT) duration_us
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, sf) =>
      graft.relational.Sessionize.sessionize(Tables.events(spark, sf),
        gapUs = 86400000000L)
    },

    // ----- §2.6 window functions ---------------------------------------
    // Value-extraction window functions (r16, verdict ask 8) — the last
    // uncovered window-catalog family after r15's ntile tier:
    // first_value over the running frame, last_value / nth_value over
    // the FULL frame (the default frame would make last_value the
    // current row — the classic trap, pinned here with explicit ROWS
    // bounds on both engines). Order is (price, key) so every frame is
    // total-order deterministic; outputs are keys (BIGINT), never money.
    Q("win_first_last",
      """SELECT o_orderkey,
        |  first_value(o_orderkey) OVER
        |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS cheapest_so_far,
        |  last_value(o_orderkey) OVER
        |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS priciest_key,
        |  nth_value(o_orderkey, 3) OVER
        |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS third_key
        |FROM orders WHERE o_orderkey % 50 = 0
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin) { (spark, sf) =>
      val W = org.apache.spark.sql.expressions.Window
      val base = W.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      val running = base.rowsBetween(W.unboundedPreceding, W.currentRow)
      val full = base.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
      Tables.orders(spark, sf)
        .where(pmod(col("o_orderkey"), lit(50)) === 0)
        .select(col("o_orderkey"),
          first(col("o_orderkey")).over(running).as("cheapest_so_far"),
          last(col("o_orderkey")).over(full).as("priciest_key"),
          nth_value(col("o_orderkey"), 3).over(full).as("third_key"))
        .orderBy("o_orderkey")
    },

    Q("win_rank",
      """SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rnk AS BIGINT) AS rnk
        |FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |        rank() OVER (PARTITION BY o_orderpriority
        |                     ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        |      FROM orders)
        |WHERE rnk <= 3 ORDER BY o_orderpriority, rnk, o_orderkey""".stripMargin) {
      (spark, sf) =>
        val w = Window.partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        Tables.orders(spark, sf)
          .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
            rank().over(w).cast("long").as("rnk"))
          .where(col("rnk") <= 3)
          .orderBy("o_orderpriority", "rnk", "o_orderkey")
    },

    // Same result as the win_rank window formulation, different physical
    // plan: bounded-heap aggregate (k rows per key per map task shuffle)
    // instead of a full per-partition sort — graft.relational.TopK.
    Q("op_topk_group",
      """SELECT o_orderpriority, o_totalprice, o_orderkey FROM (
        |  SELECT o_orderpriority, o_totalprice, o_orderkey,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_orderpriority, o_totalprice, o_orderkey""".stripMargin) {
      (spark, sf) =>
        graft.relational.TopK.topKPerGroup(
            Tables.orders(spark, sf),
            keys = Seq(col("o_orderpriority")),
            sortCols = Seq(col("o_totalprice"), col("o_orderkey")), k = 3)
          .orderBy("o_orderpriority", "o_totalprice", "o_orderkey")
    },

    Q("win_lag",
      """SELECT event_id, user_id,
        |  lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |FROM events ORDER BY event_id""".stripMargin) {
      (spark, sf) =>
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(spark, sf)
          .select(col("event_id"), col("user_id"),
            lag(col("value"), 1).over(w).as("prev_value"))
          .orderBy("event_id")
    },

    Q("win_running_sum",
      """SELECT event_id, user_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,2)))
        |         OVER (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running
        |FROM events ORDER BY event_id""".stripMargin) {
      (spark, sf) =>
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(spark, sf)
          .select(col("event_id"), col("user_id"),
            sum(col("value").cast("decimal(18,2)")).over(w).cast("double").as("running"))
          .orderBy("event_id")
    },

    // ----- §2.7 scalar-function coverage -------------------------------
    Q("fn_string",
      """SELECT p_partkey, upper(p_name) AS up, lower(p_type) AS lo,
        |  substring(p_name, 1, 5) AS sub, CAST(length(p_name) AS BIGINT) AS len,
        |  concat(p_brand, '-', p_type) AS cat, trim(p_name) AS tr,
        |  (p_type LIKE '%BRASS%') AS has_brass,
        |  regexp_extract(p_type, '([A-Z]+)$', 1) AS last_word
        |FROM part ORDER BY p_partkey""".stripMargin) {
      (spark, sf) =>
        Tables.part(spark, sf).select(
          col("p_partkey"), upper(col("p_name")).as("up"), lower(col("p_type")).as("lo"),
          substring(col("p_name"), 1, 5).as("sub"), length(col("p_name")).cast("long").as("len"),
          concat(col("p_brand"), lit("-"), col("p_type")).as("cat"), trim(col("p_name")).as("tr"),
          col("p_type").like("%BRASS%").as("has_brass"),
          regexp_extract(col("p_type"), "([A-Z]+)$", 1).as("last_word"))
          .orderBy("p_partkey")
    },

    Q("fn_date",
      """SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(month(o_orderdate) AS BIGINT) AS mth,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS mon_start,
        |  CAST(o_orderdate AS DATE) AS od,
        |  CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS BIGINT) AS dd
        |FROM orders ORDER BY o_orderkey""".stripMargin) {
      (spark, sf) =>
        Tables.orders(spark, sf).select(
          col("o_orderkey"), year(col("o_orderdate")).cast("long").as("yr"),
          month(col("o_orderdate")).cast("long").as("mth"),
          date_trunc("month", col("o_orderdate")).cast("date").as("mon_start"),
          col("o_orderdate").cast("date").as("od"),
          datediff(col("o_orderdate"), lit("1995-01-01")).cast("long").as("dd"))
          .orderBy("o_orderkey")
    },

    Q("fn_math",
      """SELECT p_partkey, round(sqrt(p_retailprice), 4) AS sq,
        |  round(ln(p_retailprice), 4) AS lg,
        |  CAST(ceil(p_retailprice) AS BIGINT) AS ce,
        |  CAST(floor(p_retailprice) AS BIGINT) AS fl,
        |  abs(p_size - 25) AS ab, round(pow(p_size, 1.5), 4) AS pw
        |FROM part ORDER BY p_partkey""".stripMargin) {
      (spark, sf) =>
        Tables.part(spark, sf).select(
          col("p_partkey"), round(sqrt(col("p_retailprice")), 4).as("sq"),
          round(log(col("p_retailprice")), 4).as("lg"),
          ceil(col("p_retailprice")).as("ce"), floor(col("p_retailprice")).as("fl"),
          abs(col("p_size") - 25).as("ab"), round(pow(col("p_size"), 1.5), 4).as("pw"))
          .orderBy("p_partkey")
    },

    // head3 stays an array transform under test but is emitted as a
    // comma-joined DECIMAL(9,4) string: the driver comparator can't hash
    // array cells, and double→string rendering diverges between engines
    // (Spark "1.0E-4" vs DuckDB "0.0001") while decimal rendering agrees.
    Q("fn_array",
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS dim,
        |  round(CAST(embedding[1] AS DOUBLE), 4) AS first_val,
        |  round(CAST(list_max(embedding) AS DOUBLE), 4) AS max_val,
        |  array_to_string(list_transform(embedding[1:3],
        |    x -> CAST(CAST(round(CAST(x AS DOUBLE), 4) AS DECIMAL(9,4)) AS VARCHAR)),
        |    ',') AS head3
        |FROM embeddings ORDER BY vec_id""".stripMargin) {
      (spark, sf) =>
        Tables.embeddings(spark, sf).select(
          col("vec_id"), size(col("embedding")).cast("long").as("dim"),
          round(element_at(col("embedding"), 1).cast("double"), 4).as("first_val"),
          round(array_max(col("embedding")).cast("double"), 4).as("max_val"),
          concat_ws(",", transform(slice(col("embedding"), 1, 3),
            x => round(x.cast("double"), 4).cast("decimal(9,4)").cast("string"))).as("head3"))
          .orderBy("vec_id")
    },

    Q("fn_json",
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin) {
      (spark, sf) =>
        Tables.events(spark, sf).select(
          col("event_id"), get_json_object(col("props"), "$.k").cast("long").as("k"))
          .orderBy("event_id")
    },

    Q("fn_case",
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice < 50000 THEN 'low'
        |       WHEN o_totalprice < 150000 THEN 'mid' ELSE 'high' END AS bucket,
        |  coalesce(nullif(o_orderstatus, 'O'), 'open') AS st
        |FROM orders ORDER BY o_orderkey""".stripMargin) {
      (spark, sf) =>
        Tables.orders(spark, sf).select(
          col("o_orderkey"),
          when(col("o_totalprice") < 50000, "low")
            .when(col("o_totalprice") < 150000, "mid").otherwise("high").as("bucket"),
          coalesce(nullif(col("o_orderstatus"), lit("O")), lit("open")).as("st"))
          .orderBy("o_orderkey")
    }
  )
}
