package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.catalog.Tables

/** Joins, aggregations, set operations, and the SQL query surface —
  * SURVEY.md §2.3 (J1–J4), §2.4 (A1–A7), §2.5 (O1–O2), §2.6, plus the three
  * reference analytics queries re-targeted to the testdata analogs
  * (FIXTURES.md §A: funnel → events.event_type × user_id; conversion-by-source
  * → events cohorts; revenue-by-category → lineitem ⋈ part by p_brand).
  *
  * Scale notes, per operator family:
  *   - dim joins (`part`, `nation`, `region`) are explicitly `broadcast()` —
  *     at 100 TB the fact side never shuffles for a ≤ MBs dimension;
  *   - fact⋈fact (lineitem⋈orders) relies on hash-shuffle on the join key +
  *     AQE (skew split); both sides arrive pre-bucketable on orderkey if the
  *     lake materializes them bucketed, which Catalyst then exploits;
  *   - countDistinct over groups is partial-aggregated map-side (Catalyst
  *     RewriteDistinctAggregates / two-phase HashAggregate), so no single
  *     reducer sees all users;
  *   - top-k is TakeOrderedAndProject (per-partition heaps), never a global
  *     sort.
  */
object JoinsAggs extends QueryPack {

  /** A1/A3/A6/A7 analog of TPC-H Q1 — the reference silver-layer aggregate
    * shape (multi-aggregate groupBy, reference README.md:364-369,396).
    * Integer-valued doubles (quantity, count) are exact; money sums round 2.
    */
  private def q20(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .filter(col("l_shipdate") <= to_timestamp(lit("2000-12-01")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        moneySum2(col("l_extendedprice")).as("sum_base_price"),
        moneySum2(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("sum_disc_price"),
        avg("l_quantity").as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** J2+A3+O1+O2 — the reference's revenue-by-category top-10
    * (README.md:393-402), on the lineitem ⋈ part analog. The dimension side
    * is broadcast: zero shuffle of the fact table.
    */
  private def q21(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val part = Tables.load(s, dir, "part").select("p_partkey", "p_brand")
    li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .groupBy("p_brand")
      .agg(moneySum2(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("p_brand"))
      .limit(10)
  }

  /** J1 — left outer join keeping unmatched left rows (reference
    * generate_clickstream.py:51-52 `merge(how="left")`): orders per customer
    * including zero-order customers.
    */
  private def q22(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val o = Tables.load(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("order_cnt"))
      .orderBy("c_custkey")
  }

  /** J4 — star-schema multi-join (reference README.md:346-351 FK graph):
    * fact⋈fact shuffle join + broadcast dims, revenue per nation/region.
    */
  private def q23(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val o = Tables.load(s, dir, "orders")
    val c = Tables.load(s, dir, "customer")
    val n = Tables.load(s, dir, "nation")
    val r = Tables.load(s, dir, "region")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(moneySum2(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy("r_name", "n_name")
  }

  /** Semi-join (the reference's J3+COUNT(DISTINCT) conversion pattern is
    * semantically semi-join-with-flag — SURVEY.md §2.3): orders having at
    * least one max-quantity line. No payload columns cross the shuffle.
    */
  private def q24(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.load(s, dir, "orders")
    val big = Tables.load(s, dir, "lineitem").filter(col("l_quantity") > 49)
    o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
      .select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** Anti-join — customers with no orders (dual of q24). */
  private def q25(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer")
    val o = Tables.load(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** A1 — the reference funnel query (README.md:364-369): distinct users per
    * event_type, ordered by volume.
    */
  private def q26(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy("event_type")
      .agg(countDistinct("user_id").as("users"))
      .orderBy(col("users").desc, col("event_type"))

  /** A2+A7+J3 — the reference conversion-rate query (README.md:373-389):
    * distinct-all vs distinct-purchasing users per cohort via left join to
    * the purchases set; `100.0 * x / y` exactly as the reference (F3) — a
    * single exact-integer division, bit-equal across engines, no rounding.
    */
  private def q27(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id")).distinct()
    e.join(purchases, e("user_id") === purchases("p_user_id"), "left")
      .groupBy((col("user_id") % 10).as("cohort"))
      .agg(
        countDistinct("user_id").as("users"),
        countDistinct("p_user_id").as("buyers"))
      .withColumn("conversion_rate_pct",
        lit(100.0) * col("buyers") / col("users"))
      .orderBy("cohort")
  }

  /** Set op: UNION (distinct). */
  private def q28(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer").select(col("c_custkey").as("id"))
    val o = Tables.load(s, dir, "orders").select(col("o_custkey").as("id"))
    c.union(o).distinct().orderBy("id")
  }

  /** Set op: INTERSECT. */
  private def q29(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer").select(col("c_custkey").as("id"))
    val o = Tables.load(s, dir, "orders").select(col("o_custkey").as("id"))
    c.intersect(o).orderBy("id")
  }

  /** Set op: EXCEPT — customers that never ordered, as a set difference. */
  private def q30(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.load(s, dir, "customer").select(col("c_custkey").as("id"))
    val o = Tables.load(s, dir, "orders").select(col("o_custkey").as("id"))
    c.except(o).orderBy("id")
  }

  /** HAVING — post-aggregation filter. */
  private def q31(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("order_cnt"))
      .filter(col("order_cnt") >= 15)
      .orderBy("o_custkey")

  /** SQL surface: scalar subquery (orders above the mean price). Exercises
    * the spark.sql path — parse → analyze → subquery planning.
    */
  private def q32(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** SQL surface: CTE (the reference's WITH purchases shape,
    * README.md:375-379) + join + aggregate.
    */
  private def q33(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    Tables.load(s, dir, "part").createOrReplaceTempView("part")
    s.sql(
      """WITH big_lines AS (
        |  SELECT l_partkey, l_quantity FROM lineitem WHERE l_quantity >= 40
        |)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_big
        |FROM big_lines JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)
  }

  /** TPC-H Q6 shape — tight range predicates fully pushed to the parquet
    * scan, single global aggregate (partial + final, no groupBy shuffle).
    */
  private def q34(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .filter(
        col("l_shipdate") >= to_timestamp(lit("1996-01-01")) &&
        col("l_shipdate") < to_timestamp(lit("1997-01-01")) &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(moneySum2(col("l_extendedprice") * col("l_discount"))
        .as("revenue"))

  /** ROLLUP — hierarchical totals (beyond the reference, standard warehouse
    * surface). NULL ordering pinned explicitly (Spark and DuckDB defaults
    * differ).
    */
  private def q35(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)

  /** PIVOT — wide conditional aggregation with an explicit value list (no
    * extra distinct-values job at scale).
    */
  private def q36(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .sum("l_quantity")
      .orderBy("l_returnflag")

  /** GROUPING SETS with grouping_id (standard bit encoding both engines) —
    * completes the rollup/cube/sets family (q35 is ROLLUP).
    */
  private def q39(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        | CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
        | count(*) AS cnt, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_returnflag), (l_linestatus))
        |ORDER BY gid, l_returnflag ASC NULLS FIRST,
        |         l_linestatus ASC NULLS FIRST""".stripMargin)
  }

  /** q86 — conditional aggregation (the FILTER-clause family): per-user
    * typed event counts and values in one pass, no pivot and no self-join
    * — the scalable alternative to N filtered scans. The conditional
    * average runs as an exact integer-cents ratio: `round(avg(2-decimal
    * values), 2)` lands on .005 midpoints where Spark's decimal-string
    * HALF_UP and DuckDB's binary rounding disagree (hit at sf0.1:
    * 29.045 → 29.04 vs 29.05); Σcents/n/100 is the same IEEE op sequence
    * on both engines, so no rounding is needed.
    */
  private def q86(s: SparkSession, dir: String): DataFrame = {
    val isErr = col("event_type") === "error"
    val errCents = sum(when(isErr, round(col("value") * 100, 0).cast("long")))
    val errCnt = count(when(isErr, 1))
    Tables.load(s, dir, "events")
      .groupBy("user_id")
      .agg(
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
        count(when(col("event_type") === "click", 1)).as("n_click"),
        round(sum(when(col("event_type") === "purchase", col("value"))
          .otherwise(0.0)), 2).as("purchase_value"),
        (errCents.cast("double") / errCnt / lit(100.0))
          .as("avg_error_value"))
      .orderBy("user_id")
  }

  /** q88 — argument extrema (min_by / max_by): the order id carrying each
    * priority group's lowest/highest total price. Price ties exist, so
    * the ordering value is a fixed-width `price|key` string — unique by
    * construction at ANY scale (an arithmetic composite like price·10⁷ +
    * key silently collides once the key range outgrows the multiplier),
    * and byte-identical across engines for 2-decimal prices.
    */
  private def q88(s: SparkSession, dir: String): DataFrame = {
    val ord = format_string("%018.2f|%015d",
      col("o_totalprice"), col("o_orderkey"))
    Tables.load(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        min_by(col("o_orderkey"), ord).as("cheapest_order"),
        max_by(col("o_orderkey"), ord).as("priciest_order"),
        round(min("o_totalprice"), 2).as("min_price"),
        round(max("o_totalprice"), 2).as("max_price"))
      .orderBy("o_orderpriority")
  }

  /** q89 — date-spine densification: generate the full calendar between
    * the stream's min and max day (`sequence` + explode — no driver-side
    * range materialization) and left-join daily counts so quiet days
    * surface as zeros. The gap-free-reporting shape; the spine build is
    * O(days), never O(rows).
    */
  private def q89(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "events")
      .select(to_date(Tables.tsMicros(col("ts"))).as("d"))
    val daily = e.groupBy("d").agg(count(lit(1)).as("n"))
    val spine = e.agg(min("d").as("lo"), max("d").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"))).as("d"))
    spine.join(daily, Seq("d"), "left")
      .select(col("d"), coalesce(col("n"), lit(0L)).as("n_events"))
      .orderBy("d")
  }

  /** q97 — the TPC-H Q3 shipping-priority shape: segment-filtered
    * customers ⋈ date-bounded orders ⋈ lineitem, revenue per open order,
    * top 10. The canonical fact-to-fact join where both big sides shuffle
    * on the join key while the filtered customer side broadcasts; the
    * date predicates push to the parquet scans.
    */
  private def q97(s: SparkSession, dir: String): DataFrame = {
    val cut = "1998-01-01"
    val c = Tables.load(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = Tables.load(s, dir, "orders")
      .filter(col("o_orderdate") < lit(cut))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val l = Tables.load(s, dir, "lineitem")
      .filter(col("l_shipdate") > lit(cut))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderkey", "o_orderdate")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** q98 — fixed-width value histogram (the portable width_bucket):
    * bucket = floor(value / 50), count + mass per bucket. The
    * distribution-profiling shape: one narrow scan, one small agg.
    */
  private def q98(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")
      .groupBy(floor(col("value") / 50).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"),
        moneySum2(col("value")).as("mass"))
      .orderBy("bucket")

  /** q99 — percent-of-total reporting: brand revenue share via a window
    * sum over the aggregated result (25 brand rows — the global window
    * runs over the post-agg relation, never the fact table).
    */
  private def q99(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.load(s, dir, "lineitem")
      .join(broadcast(Tables.load(s, dir, "part")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(moneySum2(col("l_extendedprice")).as("revenue"))
    rev
      .withColumn("share_pct",
        round(lit(100.0) * col("revenue") /
          sum("revenue").over(Window.partitionBy()), 6))
      .orderBy("p_brand")
  }

  /** q100 — the TPC-H Q5 local-supplier-volume shape: six-way star
    * (lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region) with the
    * customer-nation = supplier-nation correlation predicate and the
    * region restriction. The two fact joins shuffle on their keys;
    * supplier/nation/region broadcast (the region filter prunes through
    * the nation broadcast before the fact rows are touched). The
    * canonical join-order stress test: Catalyst must keep the correlated
    * filter after both fact joins without exploding.
    */
  private def q100(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val o = Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey")
    val c = Tables.load(s, dir, "customer").select("c_custkey", "c_nationkey")
    val sup = Tables.load(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    val n = Tables.load(s, dir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
    val r = Tables.load(s, dir, "region")
      .filter(col("r_name") === "ASIA").select("r_regionkey")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .filter(col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(moneySum2(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** q101 — the TPC-H Q10 returned-item-reporting shape: customers ranked
    * by revenue they generated on R-flagged lines; top 20.
    */
  private def q101(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.load(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val o = Tables.load(s, dir, "orders").select("o_orderkey", "o_custkey")
    val c = Tables.load(s, dir, "customer")
      .select("c_custkey", "c_name", "c_acctbal")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal")
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** q102 — exact heavy hitters: keys whose frequency exceeds 1.2× the
    * mean (relative-threshold form, so the query is scale-invariant).
    * One partial-agg shuffle for the counts; the two scalar totals
    * broadcast. At 100 TB the sketch twin is `df.stat.freqItems` /
    * count-min (ApproxSpec) — this is the exact reference the sketches
    * are bounded against.
    */
  private def q102(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val counts = li.groupBy("l_partkey").agg(count(lit(1)).as("n"))
      // key-grain cache: totals then read off the already-reduced counts
      // (Σn = rows, row count = distinct keys) — without it Spark re-scans
      // the fact table for the scalar branch (exchange reuse does not
      // fire across the branches; tools.Explain)
      .persist()
    val totals = counts.agg(sum("n").as("tot"), count(lit(1)).as("nd"))
    counts.crossJoin(broadcast(totals))
      .filter(col("n") * col("nd") > lit(1.2) * col("tot"))
      .select(col("l_partkey"), col("n"),
        (col("n").cast("double") / col("tot")).as("share"))
      .orderBy(col("n").desc, col("l_partkey"))
  }

  /** q103 — ordered funnel completion: users whose first click precedes
    * their first view which precedes their first purchase — sequence
    * pattern matching via conditional-min timestamps, one shuffle, no
    * self-joins (the reference's funnel counts steps independently;
    * this adds the ordering constraint).
    */
  private def q103(s: SparkSession, dir: String): DataFrame = {
    def firstOf(t: String) =
      min(when(col("event_type") === t, col("us"))).as(s"first_$t")
    Tables.load(s, dir, "events")
      .withColumn("us", expr("ts div 1000"))
      .groupBy("user_id")
      .agg(firstOf("click"), firstOf("view"), firstOf("purchase"))
      .withColumn("completed",
        when(col("first_click") < col("first_view") &&
          col("first_view") < col("first_purchase"), 1).otherwise(0))
      .orderBy("user_id")
  }

  /** q132 — weekly cohort retention: users bucketed by the ISO week of
    * their first event; per (cohort_week, week_offset) the distinct users
    * still active, plus retention as a share of the cohort's opening week
    * (offset 0 always exists — a user's first event lies in their cohort
    * week). One shuffle on user_id computes the cohort via a window min
    * (no join back to a user dimension); the countDistinct is partial-
    * aggregated. The ratio stays an unrounded IEEE double (q27 pattern)
    * so both engines compute bit-identical values.
    */
  private def q132(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id")
    val byCohort = Window.partitionBy("cohort_week").orderBy("week_offset")
    Tables.load(s, dir, "events")
      .select(col("user_id"), to_date(Tables.tsMicros(col("ts"))).as("d"))
      .withColumn("cohort_week",
        date_trunc("week", min(col("d")).over(byUser)).cast("date"))
      .withColumn("week_offset",
        floor(datediff(col("d"), col("cohort_week")) / lit(7.0)).cast("int"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct("user_id").as("active_users"))
      .withColumn("retention_pct",
        lit(100.0) * col("active_users") /
          first("active_users").over(byCohort))
      .orderBy("cohort_week", "week_offset")
  }

  /** q133 — DAU / WAU stickiness. WAU(d) = distinct users active in
    * [d-6, d], computed by map-side expansion: each distinct (user, day)
    * contributes the user to the 7 days it covers, then one countDistinct
    * per day — no 7-day self-join, no window over an exploded calendar.
    * At 100 TB the expansion is a constant ×7 on the already-deduped
    * (user, day) pairs (tiny vs raw events), and both aggregations are
    * plain hash-shuffles on bounded keys.
    */
  private def q133(s: SparkSession, dir: String): DataFrame = {
    val days = Tables.load(s, dir, "events")
      .select(col("user_id"), to_date(Tables.tsMicros(col("ts"))).as("d"))
      .distinct()
      // (user, day)-grain cache feeding BOTH the DAU and WAU branches —
      // one events scan + one dedup shuffle instead of two of each
      .persist()
    val dau = days.groupBy("d").agg(countDistinct("user_id").as("dau"))
    val wau = days
      .select(col("user_id"),
        explode(sequence(col("d"), date_add(col("d"), 6))).as("d"))
      .groupBy("d").agg(countDistinct("user_id").as("wau"))
    // inner join restricts to days that actually had events, so the
    // trailing d..d+6 phantom days from the expansion drop out
    dau.join(wau, Seq("d"))
      .select(col("d"), col("dau"), col("wau"),
        (lit(100.0) * col("dau") / col("wau")).as("stickiness_pct"))
      .orderBy("d")
  }

  /** q141 — market-basket pair mining: co-purchase support for part
    * pairs within an order, top 20. The self-join shuffles the deduped
    * (order, part) projection on orderkey once (Spark reuses the
    * exchange for both sides); per-basket expansion is bounded by the
    * basket size (≤ 7 lines in TPC-H shape ⇒ ≤ 21 pairs), so the blowup
    * is a small constant — the op stays linear at 100 TB. Production
    * adds a `HAVING count ≥ minsupport` before ranking; top-k here is
    * TakeOrderedAndProject.
    */
  private def q141(s: SparkSession, dir: String): DataFrame =
    // basket per order via ONE shuffle + map-side pair expansion — the
    // shared co-purchase kernel (see graft.functions.CoPurchase for the
    // single-scan rationale)
    graft.functions.CoPurchase.orderPairs(Tables.load(s, dir, "lineitem"))
      .groupBy(col("src").as("p1"), col("dst").as("p2"))
      .agg(count(lit(1)).as("support"))
      .orderBy(col("support").desc, col("p1"), col("p2"))
      .limit(20)

  /** q142 — RFM customer segmentation: recency (last order date),
    * frequency (order count), monetary (exact-cents spend) per customer,
    * each cut into quartiles. Customer grain reduces first (one
    * partial-agg shuffle of orders), then each quartile cut runs as the
    * exact distributed ntile ([[graft.functions.DistRank]]: range
    * shuffle + per-slice rank + P-row offsets — customer grain grows
    * with the corpus, so no single-partition window is allowed over it).
    * All orderings carry a custkey tiebreak so quartile assignment is
    * total-ordered and engine-identical; at 100 TB the exact ntile can
    * further swap for approx_percentile boundaries (q114's scale note).
    */
  private def q142(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.load(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(max("o_orderdate").as("last_order"),
        count(lit(1)).as("frequency"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("spend_cents"))
    def cut(df: DataFrame, tile: String, c: String): DataFrame =
      graft.functions.DistRank.withNtile(df, tile, 4,
        col(c).desc, col("o_custkey"))
    cut(cut(cut(perCust, "r_q", "last_order"), "f_q", "frequency"),
      "m_q", "spend_cents")
      .select(col("o_custkey"), col("last_order"), col("frequency"),
        (col("spend_cents") / 100.0).as("monetary"),
        col("r_q"), col("f_q"), col("m_q"),
        concat(col("r_q"), col("f_q"), col("m_q")).as("rfm_segment"))
      .orderBy("o_custkey")
  }

  /** q146 — revenue-anomaly days by IQR fences: daily revenue (exact
    * integer cents) outside [q1 − 1.5·IQR, q3 + 1.5·IQR]. Quartiles use
    * exact `percentile` over the day-grain aggregate (q38's
    * parity-proven pairing with DuckDB `quantile_cont`; the at-scale
    * twin is percentile_approx per ApproxSpec) — NOT stddev z-scores,
    * whose merge-order-dependent float accumulation isn't reproducible
    * across engines. Day grain reduces first, so the quantile input is
    * tiny at any SF; the two fence scalars broadcast back.
    */
  private def q146(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.load(s, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("rev_cents"))
      // day-grain cache: the quantile branch reads it, not a second
      // orders scan (q102 note)
      .persist()
    val fences = daily.agg(
      expr("percentile(rev_cents, 0.25)").as("q1"),
      expr("percentile(rev_cents, 0.75)").as("q3"))
    daily.crossJoin(broadcast(fences))
      .withColumn("lo", col("q1") - lit(1.5) * (col("q3") - col("q1")))
      .withColumn("hi", col("q3") + lit(1.5) * (col("q3") - col("q1")))
      .filter(col("rev_cents") < col("lo") || col("rev_cents") > col("hi"))
      .select(col("d"), (col("rev_cents") / 100.0).as("revenue"),
        (col("lo") / 100.0).as("lo_fence"), (col("hi") / 100.0).as("hi_fence"))
      .orderBy("d")
  }

  /** q165 — BAG set operations (EXCEPT ALL / INTERSECT ALL): multiset
    * difference and intersection of the (returnflag, linestatus) bags on
    * odd- vs even-numbered lineitem lines, reduced to per-value
    * multiplicities so the output stays compact while the operators run
    * at full bag grain. Complements q28–q30's DISTINCT set ops: the ALL
    * variants preserve multiplicity, which Spark plans as an aggregated
    * count-difference (no sort) — the same shape a 100 TB reconciliation
    * diff (row-level bag compare of two loads) uses. The parity split is
    * SF-independent (STATUS trap: absolute value thresholds are not).
    */
  private def q165(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
      .select(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
        col("l_linenumber").as("ln"))
    val a = li.filter(col("ln") % 2 === 1).select("rf", "ls")
    val b = li.filter(col("ln") % 2 === 0).select("rf", "ls")
    val ex = a.exceptAll(b).groupBy("rf", "ls")
      .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
    val in = a.intersectAll(b).groupBy("rf", "ls")
      .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
    ex.union(in).select("op", "rf", "ls", "n").orderBy("op", "rf", "ls")
  }

  /** q166 — EWMA smoothing (α = 0.3) of the daily revenue series per
    * order priority: the inherently sequential recurrence y_t = αx_t +
    * (1−α)y_{t−1} runs as an in-row `aggregate` fold over the sorted
    * per-group day array — per-group series are bounded by calendar days
    * (~2.5 k at any SF), so the fold is O(days) per group with ZERO extra
    * shuffle beyond the daily reduce. (The pow-weighted window
    * formulation is numerically unusable: (1−α)^−k overflows beyond ~700
    * steps.) Daily revenue reduces as exact integer cents (q86 doctrine)
    * so the fold input is bit-identical cross-engine; both engines then
    * execute the identical IEEE fold sequence — DuckDB's `list_reduce`
    * seeds with the first element, mirrored here by folding the tail
    * onto element 1. Unbounded per-key series would switch to
    * Structured Streaming state (mapGroupsWithState), not a bigger array.
    */
  private def q166(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("priority"),
        col("o_orderdate").as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .groupBy("priority")
      .agg(sort_array(collect_list(struct(col("d"),
        (col("cents") / 100.0).as("r")))).as("srt"))
      .select(col("priority"),
        transform(col("srt"), e => e.getField("r")).as("xs"))
      .select(col("priority"),
        size(col("xs")).as("n_days"),
        round(aggregate(slice(col("xs"), lit(2), size(col("xs")) - 1),
          element_at(col("xs"), 1),
          (acc, x) => lit(0.3) * x + lit(0.7) * acc), 6).as("ewma"))
      .orderBy("priority")

  // --- q275: Gini revenue concentration ------------------------------------

  /** q275 — GINI COEFFICIENT of customer revenue concentration per
    * nation (the Lorenz-curve identity G = 2Σᵢ i·xᵢ/(n·Σx) − (n+1)/n
    * over the ascending-sorted spend vector): the inequality audit
    * behind "whale" analyses and mixture-balance decisions. Spend folds
    * to exact customer-grain cents; the rank window partitions by
    * NATION (bounded partitions, never a global sort) with a custkey
    * tiebreak so the rank — and therefore the weighted sum — is total
    * and deterministic; Σᵢ·xᵢ accumulates as exact BIGINTs and the two
    * final ratios are the only doubles (identical IEEE sequence both
    * engines). Customers with no orders enter at x = 0 via the left
    * join — dropping them would understate inequality.
    */
  private def q275(s: SparkSession, dir: String): DataFrame = {
    val spend = Tables.load(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val base = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"))
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_nationkey").cast("long").as("nation"),
        col("c_custkey").as("ck"), coalesce(col("cents"), lit(0L)).as("x"))
    val w = Window.partitionBy("nation").orderBy(col("x"), col("ck"))
    base.withColumn("i", row_number().over(w))
      .groupBy("nation")
      .agg(count(lit(1)).as("n_cust"), sum("x").as("total_cents"),
        sum(col("i") * col("x")).as("six"))
      .select(col("nation"), col("n_cust"), col("total_cents"),
        (lit(2.0) * col("six").cast("double") /
          (col("n_cust") * col("total_cents")).cast("double") -
          (col("n_cust") + 1).cast("double") /
            col("n_cust").cast("double")).as("gini"))
      .orderBy("nation")
  }

  override val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q275_gini_concentration" -> q275 _,
    "q165_bag_setops" -> q165 _,
    "q166_ewma_revenue" -> q166 _,
    "q132_cohort_retention" -> q132 _,
    "q133_dau_wau" -> q133 _,
    "q141_basket_pairs" -> q141 _,
    "q142_rfm_segments" -> q142 _,
    "q146_anomaly_days" -> q146 _,
    "q102_heavy_hitters" -> q102 _,
    "q103_ordered_funnel" -> q103 _,
    "q100_local_supplier_volume" -> q100 _,
    "q101_returned_item_ranking" -> q101 _,
    "q86_conditional_agg" -> q86 _,
    "q88_arg_extrema" -> q88 _,
    "q89_date_spine" -> q89 _,
    "q97_shipping_priority" -> q97 _,
    "q98_value_histogram" -> q98 _,
    "q99_revenue_share" -> q99 _,
    "q39_grouping_sets" -> q39 _,
    "q20_pricing_summary" -> q20 _,
    "q21_revenue_topk_brand" -> q21 _,
    "q22_left_join_counts" -> q22 _,
    "q23_star_join_revenue" -> q23 _,
    "q24_semi_join" -> q24 _,
    "q25_anti_join" -> q25 _,
    "q26_funnel_distinct_users" -> q26 _,
    "q27_conversion_rate" -> q27 _,
    "q28_union" -> q28 _,
    "q29_intersect" -> q29 _,
    "q30_except" -> q30 _,
    "q31_having" -> q31 _,
    "q32_scalar_subquery" -> q32 _,
    "q33_cte_join" -> q33 _,
    "q34_range_agg" -> q34 _,
    "q35_rollup" -> q35 _,
    "q36_pivot" -> q36 _)

  override val oracle: Seq[(String, String)] = Seq(
    "q275_gini_concentration" ->
      """WITH spend AS (
        | SELECT o_custkey,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |   AS cents
        | FROM orders GROUP BY 1),
        |base AS (
        | SELECT CAST(c_nationkey AS BIGINT) AS nation, c_custkey AS ck,
        |  COALESCE(cents, 0) AS x
        | FROM customer LEFT JOIN spend ON c_custkey = o_custkey),
        |rk AS (SELECT *,
        |  row_number() OVER (PARTITION BY nation ORDER BY x, ck) AS i
        | FROM base),
        |g AS (SELECT nation, CAST(count(*) AS BIGINT) AS n_cust,
        |  CAST(sum(x) AS BIGINT) AS total_cents,
        |  CAST(sum(i * x) AS BIGINT) AS six
        | FROM rk GROUP BY 1)
        |SELECT nation, n_cust, total_cents,
        | 2.0 * six / (n_cust * total_cents)
        |  - CAST(n_cust + 1 AS DOUBLE) / n_cust AS gini
        |FROM g ORDER BY nation""".stripMargin,
    "q165_bag_setops" ->
      """WITH a AS (SELECT l_returnflag AS rf, l_linestatus AS ls
        |           FROM lineitem WHERE l_linenumber % 2 = 1),
        |b AS (SELECT l_returnflag AS rf, l_linestatus AS ls
        |      FROM lineitem WHERE l_linenumber % 2 = 0),
        |ex AS (SELECT rf, ls FROM a EXCEPT ALL SELECT rf, ls FROM b),
        |ix AS (SELECT rf, ls FROM a INTERSECT ALL SELECT rf, ls FROM b)
        |SELECT 'except_all' AS op, rf, ls, CAST(count(*) AS BIGINT) AS n
        |FROM ex GROUP BY 2, 3
        |UNION ALL
        |SELECT 'intersect_all' AS op, rf, ls, CAST(count(*) AS BIGINT)
        |FROM ix GROUP BY 2, 3
        |ORDER BY op, rf, ls""".stripMargin,
    "q166_ewma_revenue" ->
      """WITH daily AS (
        | SELECT o_orderpriority AS priority, o_orderdate AS d,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        | FROM orders GROUP BY 1, 2),
        |arr AS (
        | SELECT priority,
        |  list_transform(
        |    list_sort(list({'d': d, 'r': CAST(cents AS DOUBLE) / 100})),
        |    e -> e.r) AS xs
        | FROM daily GROUP BY priority)
        |SELECT priority, CAST(len(xs) AS INT) AS n_days,
        | round(list_reduce(xs,
        |   (acc, x) -> CAST(0.3 AS DOUBLE) * x
        |             + CAST(0.7 AS DOUBLE) * acc), 6) AS ewma
        |FROM arr ORDER BY priority""".stripMargin,
    "q146_anomaly_days" ->
      """WITH daily AS (
        | SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS d,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
        | FROM orders GROUP BY 1),
        |f AS (
        | SELECT quantile_cont(rev_cents, 0.25) AS q1,
        |  quantile_cont(rev_cents, 0.75) AS q3
        | FROM daily)
        |SELECT d, rev_cents / 100.0 AS revenue,
        | (q1 - 1.5 * (q3 - q1)) / 100.0 AS lo_fence,
        | (q3 + 1.5 * (q3 - q1)) / 100.0 AS hi_fence
        |FROM daily, f
        |WHERE rev_cents < q1 - 1.5 * (q3 - q1)
        |   OR rev_cents > q3 + 1.5 * (q3 - q1)
        |ORDER BY d""".stripMargin,
    "q141_basket_pairs" ->
      """WITH items AS (
        | SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)
        |SELECT a.p AS p1, b.p AS p2, count(*) AS support
        |FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
        |GROUP BY 1, 2
        |ORDER BY support DESC, p1, p2 LIMIT 20""".stripMargin,
    "q142_rfm_segments" ->
      """WITH pc AS (
        | SELECT o_custkey, max(o_orderdate) AS last_order,
        |  count(*) AS frequency,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_cents
        | FROM orders GROUP BY 1),
        |t AS (
        | SELECT *,
        |  ntile(4) OVER (ORDER BY last_order DESC, o_custkey) AS r_q,
        |  ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_q,
        |  ntile(4) OVER (ORDER BY spend_cents DESC, o_custkey) AS m_q
        | FROM pc)
        |SELECT o_custkey, last_order, frequency,
        | spend_cents / 100.0 AS monetary, r_q, f_q, m_q,
        | CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR) ||
        |   CAST(m_q AS VARCHAR) AS rfm_segment
        |FROM t ORDER BY o_custkey""".stripMargin,
    "q132_cohort_retention" ->
      """WITH e AS (
        | SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        | FROM events),
        |cohorted AS (
        | SELECT user_id, d,
        |  date_trunc('week', min(d) OVER (PARTITION BY user_id))
        |    AS cohort_week
        | FROM e),
        |counts AS (
        | SELECT cohort_week,
        |  CAST(floor(date_diff('day', cohort_week, d) / 7.0) AS INT)
        |    AS week_offset,
        |  count(DISTINCT user_id) AS active_users
        | FROM cohorted GROUP BY 1, 2)
        |SELECT cohort_week, week_offset, active_users,
        | CAST(100.0 AS DOUBLE) * active_users / first_value(active_users)
        |   OVER (PARTITION BY cohort_week ORDER BY week_offset)
        |   AS retention_pct
        |FROM counts ORDER BY cohort_week, week_offset""".stripMargin,
    "q133_dau_wau" ->
      """WITH days AS (
        | SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        | FROM events),
        |dau AS (SELECT d, count(DISTINCT user_id) AS dau FROM days
        |        GROUP BY d),
        |contrib AS (
        | SELECT user_id, CAST(unnest(generate_series(
        |   d, d + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS DATE) AS d
        | FROM days),
        |wau AS (SELECT d, count(DISTINCT user_id) AS wau FROM contrib
        |        GROUP BY d)
        |SELECT dau.d AS d, dau, wau,
        | CAST(100.0 AS DOUBLE) * dau / wau AS stickiness_pct
        |FROM dau JOIN wau ON dau.d = wau.d
        |ORDER BY d""".stripMargin,
    "q86_conditional_agg" ->
      """SELECT user_id,
        | count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        | count(*) FILTER (WHERE event_type = 'click') AS n_click,
        | round(sum(CASE WHEN event_type = 'purchase' THEN value
        |               ELSE 0.0 END), 2) AS purchase_value,
        | CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
        |        FILTER (WHERE event_type = 'error') AS DOUBLE)
        |   / count(*) FILTER (WHERE event_type = 'error') / 100.0
        |   AS avg_error_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q88_arg_extrema" ->
      """SELECT o_orderpriority,
        | arg_min(o_orderkey, printf('%018.2f|%015d', o_totalprice,
        |   o_orderkey)) AS cheapest_order,
        | arg_max(o_orderkey, printf('%018.2f|%015d', o_totalprice,
        |   o_orderkey)) AS priciest_order,
        | round(min(o_totalprice), 2) AS min_price,
        | round(max(o_totalprice), 2) AS max_price
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q102_heavy_hitters" ->
      """WITH c AS (
        | SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY 1),
        |t AS (
        | SELECT count(*) AS tot, count(DISTINCT l_partkey) AS nd
        | FROM lineitem)
        |SELECT c.l_partkey, c.n, c.n / t.tot AS share
        |FROM c, t WHERE c.n * t.nd > 1.2 * t.tot
        |ORDER BY c.n DESC, c.l_partkey""".stripMargin,
    "q103_ordered_funnel" ->
      """SELECT user_id,
        | epoch_us(min(ts) FILTER (WHERE event_type = 'click'))
        |   AS first_click,
        | epoch_us(min(ts) FILTER (WHERE event_type = 'view'))
        |   AS first_view,
        | epoch_us(min(ts) FILTER (WHERE event_type = 'purchase'))
        |   AS first_purchase,
        | CASE WHEN min(ts) FILTER (WHERE event_type = 'click')
        |        < min(ts) FILTER (WHERE event_type = 'view')
        |       AND min(ts) FILTER (WHERE event_type = 'view')
        |        < min(ts) FILTER (WHERE event_type = 'purchase')
        |      THEN 1 ELSE 0 END AS completed
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q100_local_supplier_volume" ->
      """SELECT n_name,
        | ((CASE WHEN sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)) >= 0 THEN (sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)) + 50) - (sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)) + 50) % 100 ELSE -((-sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)) + 50) - (-sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)) + 50) % 100) END) / 10000.0) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q101_returned_item_ranking" ->
      """SELECT c_custkey, c_name, c_acctbal,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    "q97_shipping_priority" ->
      """SELECT o_orderkey, o_orderdate,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
    "q98_value_histogram" ->
      """SELECT CAST(floor(value / 50) AS INT) AS bucket,
        | count(*) AS n, ((CASE WHEN sum(CAST(round((value) * 10000) AS BIGINT)) >= 0 THEN (sum(CAST(round((value) * 10000) AS BIGINT)) + 50) - (sum(CAST(round((value) * 10000) AS BIGINT)) + 50) % 100 ELSE -((-sum(CAST(round((value) * 10000) AS BIGINT)) + 50) - (-sum(CAST(round((value) * 10000) AS BIGINT)) + 50) % 100) END) / 10000.0) AS mass
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q99_revenue_share" ->
      """WITH rev AS (
        | SELECT p_brand, ((CASE WHEN sum(CAST(round((l_extendedprice) * 10000) AS BIGINT)) >= 0 THEN (sum(CAST(round((l_extendedprice) * 10000) AS BIGINT)) + 50) - (sum(CAST(round((l_extendedprice) * 10000) AS BIGINT)) + 50) % 100 ELSE -((-sum(CAST(round((l_extendedprice) * 10000) AS BIGINT)) + 50) - (-sum(CAST(round((l_extendedprice) * 10000) AS BIGINT)) + 50) % 100) END) / 10000.0) AS revenue
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | GROUP BY p_brand)
        |SELECT p_brand, revenue,
        | round(100.0 * revenue / sum(revenue) OVER (), 6) AS share_pct
        |FROM rev ORDER BY p_brand""".stripMargin,
    "q89_date_spine" ->
      """WITH e AS (
        | SELECT CAST(date_trunc('day', ts) AS DATE) AS d FROM events),
        |daily AS (SELECT d, count(*) AS n FROM e GROUP BY d),
        |spine AS (
        | SELECT unnest(generate_series(
        |   (SELECT min(d) FROM e), (SELECT max(d) FROM e),
        |   INTERVAL 1 DAY)) AS dt)
        |SELECT CAST(s.dt AS DATE) AS d,
        | COALESCE(daily.n, 0) AS n_events
        |FROM spine s LEFT JOIN daily ON CAST(s.dt AS DATE) = daily.d
        |ORDER BY d""".stripMargin,
    "q39_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
        | count(*) AS cnt, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_returnflag), (l_linestatus))
        |ORDER BY gid, l_returnflag ASC NULLS FIRST,
        |         l_linestatus ASC NULLS FIRST""".stripMargin,
    "q20_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | sum(l_quantity) AS sum_qty,
        | ((CASE WHEN sum(CAST(round((l_extendedprice) * 10000) AS BIGINT)) >= 0 THEN (sum(CAST(round((l_extendedprice) * 10000) AS BIGINT)) + 50) - (sum(CAST(round((l_extendedprice) * 10000) AS BIGINT)) + 50) % 100 ELSE -((-sum(CAST(round((l_extendedprice) * 10000) AS BIGINT)) + 50) - (-sum(CAST(round((l_extendedprice) * 10000) AS BIGINT)) + 50) % 100) END) / 10000.0) AS sum_base_price,
        | ((CASE WHEN sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)) >= 0 THEN (sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)) + 50) - (sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)) + 50) % 100 ELSE -((-sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)) + 50) - (-sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)) + 50) % 100) END) / 10000.0) AS sum_disc_price,
        | avg(l_quantity) AS avg_qty,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q21_revenue_topk_brand" ->
      """SELECT p_brand,
        | ((CASE WHEN sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)) >= 0 THEN (sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)) + 50) - (sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)) + 50) % 100 ELSE -((-sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)) + 50) - (-sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)) + 50) % 100) END) / 10000.0) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY revenue DESC, p_brand LIMIT 10""".stripMargin,
    "q22_left_join_counts" ->
      """SELECT c_custkey, count(o_orderkey) AS order_cnt
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q23_star_join_revenue" ->
      """SELECT r_name, n_name,
        | ((CASE WHEN sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)) >= 0 THEN (sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)) + 50) - (sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)) + 50) % 100 ELSE -((-sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)) + 50) - (-sum(CAST(round((l_extendedprice * (1.0 - l_discount)) * 10000) AS BIGINT)) + 50) % 100) END) / 10000.0) AS revenue
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,
    "q24_semi_join" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderkey IN
        |  (SELECT l_orderkey FROM lineitem WHERE l_quantity > 49)
        |ORDER BY o_orderkey""".stripMargin,
    "q25_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS
        |  (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q26_funnel_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS users
        |FROM events GROUP BY event_type
        |ORDER BY users DESC, event_type""".stripMargin,
    "q27_conversion_rate" ->
      """WITH purchases AS (
        |  SELECT DISTINCT user_id AS p_user_id FROM events
        |  WHERE event_type = 'purchase')
        |SELECT e.user_id % 10 AS cohort,
        | count(DISTINCT e.user_id) AS users,
        | count(DISTINCT p.p_user_id) AS buyers,
        | CAST(100.0 AS DOUBLE) * count(DISTINCT p.p_user_id)
        |   / count(DISTINCT e.user_id) AS conversion_rate_pct
        |FROM events e LEFT JOIN purchases p ON e.user_id = p.p_user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q28_union" ->
      """SELECT c_custkey AS id FROM customer
        |UNION SELECT o_custkey AS id FROM orders
        |ORDER BY id""".stripMargin,
    "q29_intersect" ->
      """SELECT c_custkey AS id FROM customer
        |INTERSECT SELECT o_custkey AS id FROM orders
        |ORDER BY id""".stripMargin,
    "q30_except" ->
      """SELECT c_custkey AS id FROM customer
        |EXCEPT SELECT o_custkey AS id FROM orders
        |ORDER BY id""".stripMargin,
    "q31_having" ->
      """SELECT o_custkey, count(*) AS order_cnt FROM orders
        |GROUP BY o_custkey HAVING count(*) >= 15
        |ORDER BY o_custkey""".stripMargin,
    "q32_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "q33_cte_join" ->
      """WITH big_lines AS (
        |  SELECT l_partkey, l_quantity FROM lineitem WHERE l_quantity >= 40
        |)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_big
        |FROM big_lines JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q34_range_agg" ->
      """SELECT ((CASE WHEN sum(CAST(round((l_extendedprice * l_discount) * 10000) AS BIGINT)) >= 0 THEN (sum(CAST(round((l_extendedprice * l_discount) * 10000) AS BIGINT)) + 50) - (sum(CAST(round((l_extendedprice * l_discount) * 10000) AS BIGINT)) + 50) % 100 ELSE -((-sum(CAST(round((l_extendedprice * l_discount) * 10000) AS BIGINT)) + 50) - (-sum(CAST(round((l_extendedprice * l_discount) * 10000) AS BIGINT)) + 50) % 100) END) / 10000.0) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q35_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        | count(*) AS cnt, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST,
        |         l_linestatus ASC NULLS FIRST""".stripMargin,
    "q36_pivot" ->
      """SELECT l_returnflag,
        | sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS "F",
        | sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS "O"
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
}
