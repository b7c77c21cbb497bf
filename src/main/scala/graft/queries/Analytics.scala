package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Classic OLAP shapes over the star schema (beyond the reference's own
  * surface): pricing summary, multi-way join revenue rollup, date-window
  * top-N. These are the headline "does the engine behave like a warehouse"
  * queries — scan pruning, date predicates pushed to parquet, dim broadcast,
  * multi-join chains.
  *
  * Determinism: monetary aggregates run in DECIMAL (exact, order-independent
  * — double summation order differs between Spark partials and the DuckDB
  * oracle and would flip the 4th decimal), then convert once to double.
  */
object Analytics {

  private def dec(c: String) = col(c).cast("decimal(12,2)")

  /** TPC-H Q1 shape: pricing summary by flag/status over shipped lines. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("date"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(dec("l_extendedprice")).as("d_base"),
        sum(dec("l_extendedprice") * (lit(1).cast("decimal(12,2)") - dec("l_discount"))).as("d_disc"),
        count(lit(1)).as("count_order"))
      .select(
        col("l_returnflag"), col("l_linestatus"),
        round(col("sum_qty"), 4).as("sum_qty"),
        round(col("d_base").cast("double"), 4).as("sum_base_price"),
        round(col("d_disc").cast("double"), 4).as("sum_disc_price"),
        round((col("d_base").cast("double")) / col("count_order"), 4).as("avg_price"),
        col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q5 shape: revenue by nation through the full dim chain
    * (lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region) — dims broadcast,
    * date range pushed to the orders scan.
    */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), (dec("l_extendedprice") *
        (lit(1).cast("decimal(12,2)") - dec("l_discount"))).as("rev"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
        col("o_orderdate") < lit("1998-01-01").cast("date"))
      .select("o_orderkey", "o_custkey")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name", "n_regionkey")
    val r = Tables.region(spark, dir).select("r_regionkey", "r_name")
    // nation/region are FIXED-size (25/5 rows) — hinted broadcast is safe
    // at any SF. customer scales WITH the data (SF·150k), so its join is
    // threshold-governed: AQE broadcasts while it fits, shuffles beyond.
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(sum(col("rev")).as("d_rev"), count(lit(1)).as("n_lines"))
      .select(col("r_name"), col("n_name"),
        round(col("d_rev").cast("double"), 4).as("revenue"), col("n_lines"))
      .orderBy("r_name", "n_name")
  }

  /** TPC-H Q3 shape: top unshipped-revenue orders for a market segment in a
    * date window — join + agg + total-order top-N (orderBy before limit).
    */
  def topRevenueOrders(spark: SparkSession, dir: String, n: Int = 20): DataFrame = {
    val cutoff = lit("1997-06-01").cast("date")
    val c = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > cutoff)
      .select(col("l_orderkey"), (dec("l_extendedprice") *
        (lit(1).cast("decimal(12,2)") - dec("l_discount"))).as("rev"))
    // the segment-filtered customer side scales with SF — no forced
    // broadcast; the threshold governs (same posture as a02/x78)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(sum(col("rev")).as("d_rev"))
      .select(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        round(col("d_rev").cast("double"), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(n)
  }

  /** Exact interpolated percentiles per group (Spark `percentile` ≙ DuckDB
    * quantile_cont). The approx variant (percentile_approx / t-digest) is
    * the 100 TB path; exact keeps the oracle comparable.
    */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
        round(expr("percentile(n_chars, 0.9)"), 4).as("p90"),
        count(lit(1)).as("n"))
      .orderBy("lang")

  /** Moment aggregates per event type (avg/stddev/min/max). */
  def eventStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        round(avg(col("value")), 4).as("avg_v"),
        round(stddev_samp(col("value")), 4).as("sd_v"),
        round(min(col("value")), 4).as("min_v"),
        round(max(col("value")), 4).as("max_v"),
        count(lit(1)).as("n"))
      .orderBy("event_type")

  /** Rollup over the region→nation hierarchy: subtotal rows carry NULLs
    * (sort pinned NULLS FIRST on both engines). Expressed through the
    * spark.sql entry point: the same Catalyst plan as the DataFrame
    * formulation, and it sidesteps the analyzer's ambiguous-self-join
    * false positive that DataFrame `rollup` + by-name references trip.
    */
  def revenueRollup(spark: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "orders", "customer", "nation", "region")
      .foreach(t => Tables.load(spark, dir, t).createOrReplaceTempView(s"g_$t"))
    spark.sql(
      """SELECT r.r_name, n.n_name,
        |       ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |                       (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4) AS revenue,
        |       COUNT(*) AS n_lines
        |FROM g_lineitem l
        |JOIN g_orders o ON l.l_orderkey = o.o_orderkey
        |JOIN g_customer c ON o.o_custkey = c.c_custkey
        |JOIN g_nation n ON c.c_nationkey = n.n_nationkey
        |JOIN g_region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY ROLLUP (r.r_name, n.n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)
  }

  /** GROUPING SETS with grouping_id: the four (segment × status) grains in
    * ONE pass — Expand replicates each input row per grain before a single
    * hash aggregate, so the fact side is scanned and shuffled once, not
    * four times. gid disambiguates a genuine NULL key from a rolled-up
    * one; NULLS FIRST pinned on both engines (their ASC defaults differ).
    * SQL-literal like a06 because DataFrame rollup/cube hits the
    * ambiguous-self-join analyzer false positive after joins.
    */
  def orderGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.orders(spark, dir).createOrReplaceTempView("g_orders")
    Tables.customer(spark, dir).createOrReplaceTempView("g_customer")
    spark.sql(
      """SELECT c_mktsegment, o_orderstatus,
        |       CAST(GROUPING_ID(c_mktsegment, o_orderstatus) AS BIGINT) AS gid,
        |       COUNT(*) AS n_orders,
        |       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 4) AS total
        |FROM g_orders JOIN g_customer ON o_custkey = c_custkey
        |GROUP BY GROUPING SETS ((c_mktsegment, o_orderstatus), (c_mktsegment), (o_orderstatus), ())
        |ORDER BY gid, c_mktsegment ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST""".stripMargin)
  }

  /** Set operations (§2.7 — absent from the reference, present here):
    * users split by purchase behavior via EXCEPT / INTERSECT.
    */
  def userSetOps(spark: SparkSession, dir: String): DataFrame = {
    val buyers = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    val openers = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "O").select(col("o_custkey"))
    val both = buyers.intersect(openers)
      .withColumn("segment", lit("both"))
    val onlyF = buyers.except(openers)
      .withColumn("segment", lit("only_f"))
    both.unionByName(onlyF)
      .select(col("o_custkey").as("userID"), col("segment"))
      .orderBy("userID", "segment")
  }

  /** HLL approximate distinct WITH ITS ERROR BAND AS DATA (the x246
    * posture, r11 verdict "What's missing" #5) — the approximate path is
    * the 100 TB default (no shuffle of distinct values, mergeable
    * sketches), and this query emits the knowable truth, the band, and
    * the CLAIM that the native estimate sits inside it:
    * `within_bound = |approx − exact| ≤ ⌈exact · 0.10⌉` (5× the
    * configured 2% rsd — beyond-3σ slack, so the flag is a determinism
    * statement about Spark's HLL++ on this corpus, not a coin flip).
    * The raw estimate itself stays OFF the hashed surface: its xxhash64
    * registers are engine-specific, so no second engine can replay the
    * value — but the DERIVATION (truth, bound, claim) hash-matches, the
    * oracle asserting the claim as literal TRUE. The estimate's value is
    * still pinned by OpsSpec's tolerance law, and x247/x270 carry the
    * fully engine-exact register build for users who need a mirrorable
    * estimate.
    */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(col("event_type"), col("exact_users"),
        ceil(col("exact_users") * 0.10).cast("long").as("bound_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          ceil(col("exact_users") * 0.10)).as("within_bound"))
      .orderBy("event_type")

  /** Window-function suite (rank / ntile / lag / running sum) per user.
    * The running double sum is order-pinned by the window sort, so both
    * engines accumulate in the same sequence — fp-identical.
    */
  def windowSuite(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byPriceDesc = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val byPriceAsc = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val byDate = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, dir).select(
      col("o_custkey").as("userID"),
      col("o_orderkey").as("orderID"),
      rank().over(byPriceDesc).cast("long").as("price_rank"),
      ntile(4).over(byPriceAsc).cast("long").as("quartile"),
      coalesce(datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(byDate)),
        lit(-1)).cast("long").as("gap_days"),
      round(sum(col("o_totalprice"))
        .over(byDate.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4)
        .as("running_total"))
      .orderBy("userID", "orderID")
  }

  /** TPC-H Q17 shape: lines whose quantity is under 20% of their part's
    * average — the correlated scalar subquery expressed as an aggregate
    * self-join (Catalyst's own decorrelation target shape). The per-part
    * threshold frame (one row per part) joins unhinted — broadcast under
    * the threshold, shuffle join on both part-grain sides beyond it; the
    * fact table is scanned once per side with only 3 columns each.
    */
  def smallQtyParts(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"), dec("l_extendedprice").as("price"))
    val threshold = li.groupBy("l_partkey")
      .agg((avg(col("l_quantity")) * 0.2).as("qty_cap"))
    // PART-grain (SF·200k rows): unhinted, so the broadcast is threshold-
    // governed and degrades to a shuffle join at corpus scale
    li.join(threshold, "l_partkey")
      .filter(col("l_quantity") < col("qty_cap"))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_small"),
        sum(col("price")).as("d_rev"),
        round(max(col("qty_cap")), 4).as("qty_cap"))
      .select(col("l_partkey"), col("n_small"),
        round(col("d_rev").cast("double"), 4).as("small_revenue"), col("qty_cap"))
      .orderBy("l_partkey")
  }

  /** TPC-H Q22 shape: customers with no orders since a cutoff (churn) —
    * NOT EXISTS as a distributed left-anti join (never a driver-side key
    * list). The date predicate is applied to the orders side BEFORE the
    * join, so it pushes to the parquet scan and the anti join shuffles
    * only each side's key column.
    */
  def inactiveCustomers(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"))
      .join(Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("date"))
          .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .orderBy("c_custkey")

  /** TPC-H Q2 shape: equality-to-min join-back — each part's cheapest
    * supplier(s). The per-part minimum (one row per part) joins back on
    * (partkey, price = min), unhinted: broadcast while it fits the
    * threshold, part-keyed shuffle join at scale. Ties surface as a
    * deterministic set.
    */
  def cheapestSupplier(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
    // renamed key sidesteps the ambiguous-self-join analyzer check
    // (mins derives from li, so li("l_partkey") would be ambiguous)
    val mins = li.groupBy("l_partkey")
      .agg(min(col("l_extendedprice")).as("min_price"))
      .toDF("m_partkey", "min_price")
    // part-grain mins: threshold-governed like a13 — no forced broadcast
    li.join(mins,
        col("l_partkey") === col("m_partkey") &&
          col("l_extendedprice") === col("min_price"))
      .select(col("l_partkey"), col("l_suppkey"),
        round(col("min_price"), 4).as("min_price"))
      .distinct()
      .orderBy("l_partkey", "l_suppkey")
  }

  /** TPC-H Q21 shape: correlated EXISTS + NOT EXISTS as one semi and one
    * anti join — suppliers solely responsible for an order's returns
    * (another supplier participated, no other supplier had a return).
    * Each correlated subquery becomes a distributed join shuffling only
    * (orderkey, suppkey) pairs; top-20 under a total tie-break.
    */
  def soleReturnSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val lines = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
    val returns = lines.filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_suppkey").distinct()
    val allPairs = lines.select("l_orderkey", "l_suppkey").distinct()
    val withOther = returns.join(
      allPairs.toDF("o_orderkey", "other_supp"),
      col("l_orderkey") === col("o_orderkey") && col("other_supp") =!= col("l_suppkey"),
      "left_semi")
    val sole = withOther.join(
      returns.toDF("r_orderkey", "other_r_supp"),
      col("l_orderkey") === col("r_orderkey") && col("other_r_supp") =!= col("l_suppkey"),
      "left_anti")
    sole.groupBy(col("l_suppkey").as("suppkey"))
      .agg(count(lit(1)).as("numsole"))
      .orderBy(col("numsole").desc, col("suppkey"))
      .limit(20)
  }

  /** TPC-H Q13 shape: the orders-per-customer distribution histogram —
    * two stacked aggregations with a left outer join so zero-order
    * customers land in the c_count = 0 bucket (an inner join would
    * silently drop them). count(o_orderkey) counts matches only, which is
    * exactly the null-skipping the outer join relies on.
    */
  def customerDistribution(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(col("c_custkey"))
      .join(Tables.orders(spark, dir).select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** TPC-H Q11 shape: groups filtered against a fraction of the GLOBAL
    * total — the scalar subquery becomes a one-row aggregate broadcast by
    * crossJoin, so the HAVING evaluates distributed with no second scan
    * of the grouped data. All arithmetic in DECIMAL: a double 0.0006
    * multiplier would make the threshold engine-dependent at the
    * boundary.
    */
  def significantParts(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.lineitem(spark, dir)
      .groupBy("l_partkey")
      .agg(sum(dec("l_extendedprice")).as("val"))
    val total = v.agg(sum(col("val")).as("total"))
    v.crossJoin(broadcast(total))
      .filter(col("val") > col("total") * lit(new java.math.BigDecimal("0.0006")))
      .select(col("l_partkey"), round(col("val").cast("double"), 4).as("value"))
      .orderBy("l_partkey")
  }

  /** TPC-H Q15 shape: the revenue-per-supplier view over a shipdate
    * quarter, with the top supplier(s) marked via equality-to-max
    * join-back — the last untouched testdata source (supplier) on an
    * oracle row. The lineitem side aggregates to supplier grain BEFORE
    * touching the dim (one shuffle on l_suppkey, map-side partials), the
    * one-row global max broadcasts through crossJoin (the a17 pattern),
    * and the supplier dim joins at matching grain under AQE. is_top
    * compares DECIMALs — exact, so the flag cannot flip on a last-ulp
    * double difference between engines.
    */
  def topSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
        col("l_shipdate") < lit("1996-04-01").cast("date"))
      .groupBy(col("l_suppkey").as("s_suppkey"))
      .agg(sum(dec("l_extendedprice") *
        (lit(1).cast("decimal(12,2)") - dec("l_discount"))).as("d_rev"))
    val top = rev.agg(max(col("d_rev")).as("max_rev"))
    Tables.supplier(spark, dir).select("s_suppkey", "s_name", "s_nationkey")
      .join(rev, Seq("s_suppkey"))
      .crossJoin(broadcast(top))
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        round(col("d_rev").cast("double"), 4).as("total_revenue"),
        when(col("d_rev") === col("max_rev"), lit(1L)).otherwise(lit(0L)).as("is_top"))
      .orderBy("s_suppkey")
  }

  /** TPC-H Q19 shape: revenue under a DISJUNCTION of per-brand conjunctive
    * predicates spanning both join sides — the OR-of-ANDs the optimizer
    * must split: the part-only disjuncts (brand, size) push to the part
    * scan, the lineitem quantity bounds evaluate with the join. Part
    * scales with SF, so the join is threshold-governed (no hint); grouped
    * by brand for a multi-row hash-checked result.
    */
  def brandPromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_partkey"), col("l_quantity"),
      dec("l_extendedprice").as("price"), dec("l_discount").as("disc"))
    val p = Tables.part(spark, dir).select("p_partkey", "p_brand", "p_size")
    li.join(p, col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#2" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 20)) ||
        (col("p_brand") === "Brand#17" && col("p_size").between(10, 30) &&
          col("l_quantity").between(10, 40)) ||
        (col("p_brand") === "Brand#4" && col("p_size").between(1, 50) &&
          col("l_quantity").between(20, 60)))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_lines"),
        sum(col("price") * (lit(1).cast("decimal(12,2)") - col("disc"))).as("d_rev"))
      .select(col("p_brand"), col("n_lines"),
        round(col("d_rev").cast("double"), 4).as("revenue"))
      .orderBy("p_brand")
  }

  /** TPC-H Q18 shape: customers' large-quantity orders — the grouped
    * HAVING subquery joined back (the IN-subquery form, kept as an inner
    * join so sum_qty rides along). The big-order filter runs on the
    * aggregated order grain BEFORE any dim join; l_quantity sums are
    * integral-valued doubles, exact in any accumulation order, so the
    * HAVING boundary cannot flip between engines.
    */
  def bigOrderCustomers(spark: SparkSession, dir: String, minQty: Int = 170): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > minQty)
    val o = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_mktsegment")
    o.join(big, col("o_orderkey") === col("l_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_mktsegment"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice"),
        round(col("sum_qty"), 4).as("sum_qty"))
      .orderBy("o_orderkey")
  }

  /** TPC-H Q10 shape: revenue lost to returned items per customer in a
    * quarter — the returned-item report. The return-flag and order-date
    * predicates push to their scans, the fact aggregates on the customer
    * grain, and the fixed-size nation dim broadcasts; the top-N rides
    * TakeOrdered with a total tie-break.
    */
  def returnedItems(spark: SparkSession, dir: String, n: Int = 20): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), (dec("l_extendedprice") *
        (lit(1).cast("decimal(12,2)") - dec("l_discount"))).as("rev"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
        col("o_orderdate") < lit("1996-04-01").cast("date"))
      .select("o_orderkey", "o_custkey")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_name", "c_nationkey")
    val nat = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(sum(col("rev")).as("d_rev"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        round(col("d_rev").cast("double"), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(n)
  }

  /** TPC-H Q7 shape: shipped volume between two nations by year — the
    * nation-PAIR disjunction ((A,B) or (B,A)) evaluated after both
    * fixed-size nation dims broadcast onto the supplier and customer
    * sides; `year()` is exact integer extraction on both engines.
    */
  def volumeShipping(spark: SparkSession, dir: String,
                     nationA: String = "NATION_1", nationB: String = "NATION_2"): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"),
        (dec("l_extendedprice") *
          (lit(1).cast("decimal(12,2)") - dec("l_discount"))).as("rev"))
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    li.join(s, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter((col("supp_nation") === nationA && col("cust_nation") === nationB) ||
        (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy("supp_nation", "cust_nation", "l_year")
      .agg(sum(col("rev")).as("d_rev"), count(lit(1)).as("n_lines"))
      .select(col("supp_nation"), col("cust_nation"), col("l_year"),
        round(col("d_rev").cast("double"), 4).as("revenue"), col("n_lines"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** TPC-H Q6 shape: forecast revenue change — one filtered aggregate whose
    * THREE predicates (date range, discount band, quantity cap) all push
    * to the parquet scan, the canonical pushdown demonstration. Revenue
    * term is exact DECIMAL, converted once at the boundary.
    */
  def forecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("date") &&
        col("l_shipdate") < lit("1997-01-01").cast("date") &&
        col("l_discount") >= 0.04 && col("l_discount") <= 0.06 &&
        col("l_quantity") < 24)
      .agg(sum(dec("l_extendedprice") * dec("l_discount")).as("d_rev"),
        count(lit(1)).as("n_lines"))
      .select(round(col("d_rev").cast("double"), 4).as("revenue"), col("n_lines"))

  /** TPC-H Q14 shape: promo revenue share — conditional aggregation over
    * the lineitem ⋈ part join in a month window. The CASE rides inside the
    * DECIMAL sum (exact on both engines), and the part dim join is
    * threshold-governed (scales with SF, no hint).
    */
  def promoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-03-01").cast("date") &&
        col("l_shipdate") < lit("1996-04-01").cast("date"))
      .select(col("l_partkey"), (dec("l_extendedprice") *
        (lit(1).cast("decimal(12,2)") - dec("l_discount"))).as("rev"))
    val p = Tables.part(spark, dir).select("p_partkey", "p_type")
    li.join(p, col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", col("rev"))
          .otherwise(lit(0).cast("decimal(12,2)"))).as("d_promo"),
        sum(col("rev")).as("d_total"),
        count(lit(1)).as("n_lines"))
      .select(
        round(col("d_promo").cast("double") / col("d_total").cast("double") * 100d, 4)
          .as("promo_share_pct"),
        round(col("d_total").cast("double"), 4).as("total_revenue"),
        col("n_lines"))
  }

  /** TPC-H Q8 shape: national market share — the two-dim-chains-one-fact
    * pattern. The market is (customers in one region) × (parts of one
    * type); the measure is the share supplied by one nation, per order
    * year. Supplier and customer nation chains join independently onto
    * the fact; fixed-size nation/region broadcast, the share is a
    * conditional DECIMAL sum over the total.
    */
  def marketShare(spark: SparkSession, dir: String,
                  suppNation: String = "NATION_3", custRegion: String = "EUROPE",
                  partType: String = "STANDARD"): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        (dec("l_extendedprice") *
          (lit(1).cast("decimal(12,2)") - dec("l_discount"))).as("rev"))
    val p = Tables.part(spark, dir)
      .filter(col("p_type") === partType).select("p_partkey")
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val s = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    val n1 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(spark, dir)
      .select(col("n_nationkey").as("c_nk"), col("n_regionkey").as("c_rk"))
    val r = Tables.region(spark, dir)
      .filter(col("r_name") === custRegion).select("r_regionkey")
    li.join(p, col("l_partkey") === col("p_partkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .join(broadcast(r), col("c_rk") === col("r_regionkey"))
      .groupBy("o_year")
      .agg(
        sum(when(col("supp_nation") === suppNation, col("rev"))
          .otherwise(lit(0).cast("decimal(12,2)"))).as("d_nation"),
        sum(col("rev")).as("d_total"))
      .select(col("o_year"),
        round(col("d_nation").cast("double") / col("d_total").cast("double"), 4)
          .as("mkt_share"),
        round(col("d_total").cast("double"), 4).as("total_revenue"))
      .orderBy("o_year")
  }

  /** TPC-H Q4 shape: order-priority checking — orders in a quarter having
    * at least one problem line, the correlated EXISTS as a left-semi join
    * (the testdata carries no commit/receipt dates, so "problem" =
    * returned line). The date range pushes to the orders scan, the flag
    * predicate to the lineitem scan, and the semi join shuffles only each
    * side's key column; counts per priority stay a 5-row result at any SF.
    */
  def orderPriority(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-04-01").cast("date") &&
        col("o_orderdate") < lit("1996-07-01").cast("date"))
      .select("o_orderkey", "o_orderpriority")
      .join(Tables.lineitem(spark, dir)
          .filter(col("l_returnflag") === "R")
          .select(col("l_orderkey").as("o_orderkey")),
        Seq("o_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")

  /** TPC-H Q9 shape: product-type profit by supplier nation and year —
    * the LIKE-filtered part dim joins the fact, profit subtracts a
    * supply-cost term (10% of retail price × quantity, standing in for
    * the absent partsupp.ps_supplycost) from discounted revenue, all in
    * exact DECIMAL. The contains-filter cannot push below the scan but
    * prunes the join side early; fixed-size nation broadcasts.
    */
  def nationProfit(spark: SparkSession, dir: String): DataFrame = {
    val cost = lit(new java.math.BigDecimal("0.10"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_suppkey"),
        year(col("l_shipdate")).cast("long").as("l_year"),
        (dec("l_extendedprice") * (lit(1).cast("decimal(12,2)") - dec("l_discount"))).as("rev"),
        col("l_quantity").cast("decimal(12,2)").as("qty"))
    val p = Tables.part(spark, dir)
      .filter(col("p_name").contains("red"))
      .select("p_partkey", "p_retailprice")
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    li.join(p, col("l_partkey") === col("p_partkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"), col("l_year"))
      .agg(sum(col("rev") - dec("p_retailprice") * col("qty") * cost).as("d_profit"),
        count(lit(1)).as("n_lines"))
      .select(col("nation"), col("l_year"),
        round(col("d_profit").cast("double"), 4).as("profit"), col("n_lines"))
      .orderBy("nation", "l_year")
  }

  /** TPC-H Q12 shape: late-shipment priority counts — conditional
    * aggregation (CASE inside SUM) over the orders ⋈ lineitem join,
    * grouped by line status (standing in for the absent l_shipmode). The
    * lateness predicate (shipped >60 days after order) is a cross-side
    * comparison evaluated at the join; priority classes collapse to two
    * conditional counts, never a second scan.
    */
  def latePriority(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linestatus"), col("l_shipdate"))
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(datediff(col("l_shipdate"), col("o_orderdate")) > 60)
      .groupBy("l_linestatus")
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("high_line_count"),
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 0L).otherwise(1L))
          .as("low_line_count"))
      .orderBy("l_linestatus")
  }

  /** TPC-H Q16 shape: supplier-relationship count per part attribute — the
    * (partkey, suppkey) relation distilled from the fact (the testdata has
    * no partsupp), suppliers under complaint (negative balance, standing
    * in for the LIKE '%Complaints%' filter) removed by a left-anti join
    * BEFORE the part dim joins, and a COUNT(DISTINCT) per (brand, type,
    * size). The anti join shuffles only the 8-byte key pair; distinct-agg
    * runs as the standard two-shuffle expand.
    */
  def supplierPartCounts(spark: SparkSession, dir: String): DataFrame = {
    val rel = Tables.lineitem(spark, dir)
      .select("l_partkey", "l_suppkey").distinct()
    val bad = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select(col("s_suppkey").as("l_suppkey"))
    val p = Tables.part(spark, dir)
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    rel.join(bad, Seq("l_suppkey"), "left_anti")
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  /** TPC-H Q20 shape: dominant suppliers of a part family — the nested
    * IN-subquery chain as join algebra: name-filtered parts semi-restrict
    * the fact, per-(part, supplier) year quantities compare against a
    * correlated per-part threshold (>50% of the part's total, standing in
    * for the availqty rule), and the surviving supplier keys join back to
    * the dim. Quantities are integral-valued doubles — exact in any
    * accumulation order, so the 0.5 boundary cannot flip between engines.
    */
  def dominantSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val parts = Tables.part(spark, dir)
      .filter(col("p_name").startsWith("small"))
      .select(col("p_partkey").as("l_partkey"))
    val perPS = Tables.lineitem(spark, dir)
      .filter(year(col("l_shipdate")) === 1996)
      .join(parts, Seq("l_partkey"), "left_semi")
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(col("l_quantity")).as("supp_qty"))
    val perPart = perPS.groupBy("l_partkey")
      .agg(sum(col("supp_qty")).as("part_qty"))
      .toDF("t_partkey", "part_qty")
    val dominant = perPS
      .join(perPart, col("l_partkey") === col("t_partkey"))
      .filter(col("supp_qty") > col("part_qty") * 0.5)
    Tables.supplier(spark, dir).select("s_suppkey", "s_name")
      .join(dominant.select(col("l_suppkey").as("s_suppkey")).groupBy("s_suppkey")
          .agg(count(lit(1)).as("n_parts")),
        Seq("s_suppkey"))
      .orderBy("s_suppkey")
  }

  /** Approximate median WITH ITS RANK BAND AS DATA (like a08, the x246
    * posture): `approx_percentile(accuracy = 1000)` guarantees rank
    * error ≤ n/1000, so the returned element's rank sits far inside
    * [0.45n, 0.55n] — emit the exact p45/p55 rank band (percentile ≡
    * DuckDB quantile_cont, the a04 equivalence) and the hash-checked
    * CLAIM `within_rank_band = p45 ≤ approx ≤ p55`. The estimate's raw
    * value stays off the hashed surface (the KLL-style sketch's internal
    * choices are engine-specific); its closeness is still pinned by
    * OpsSpec's tolerance law, and a04/x273 carry the exact/DDSketch
    * quantile paths.
    */
  def approxPercentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("lang")
      .agg(
        expr("approx_percentile(n_chars, 0.5, 1000)").as("p50_approx"),
        expr("percentile(n_chars, 0.5)").as("p50_exact"),
        expr("percentile(n_chars, 0.45)").as("p45"),
        expr("percentile(n_chars, 0.55)").as("p55"))
      .select(col("lang"),
        round(col("p50_exact"), 4).as("p50_exact"),
        round(col("p45"), 4).as("p45"),
        round(col("p55"), 4).as("p55"),
        (col("p50_approx").cast("double") >= col("p45") &&
          col("p50_approx").cast("double") <= col("p55")).as("within_rank_band"))
      .orderBy("lang")

  /** a31: per-flag winsorized revenue — the outlier-robust statistic a
    * cleaning pass computes before trusting a mean: clip l_extendedprice
    * at the group's exact p05/p95 (Spark `percentile` ≡ DuckDB
    * quantile_cont, the a04 equivalence), count the clips on each side,
    * and total the clipped values in integer e4 units so the sum is
    * order-independent (the x85 posture; at extreme corpus scale the e4
    * sum would move to DECIMAL — 10¹² rows × 10⁹ units brushes the BIGINT
    * ceiling). The bounds frame is |groups| rows broadcast back (a13's
    * scalar-subquery-as-agg-join shape), so the fact table is scanned
    * twice but never shuffled for the join.
    */
  def winsorizedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_returnflag"), col("l_extendedprice"))
    val bounds = li.groupBy("l_returnflag").agg(
      expr("percentile(l_extendedprice, 0.05)").as("lo"),
      expr("percentile(l_extendedprice, 0.95)").as("hi"))
    li.join(broadcast(bounds), "l_returnflag")
      .select(col("l_returnflag"), col("l_extendedprice"), col("lo"), col("hi"),
        least(greatest(col("l_extendedprice"), col("lo")), col("hi")).as("clipped"))
      .groupBy("l_returnflag")
      .agg(
        round(max(col("lo")), 4).as("p05"),
        round(max(col("hi")), 4).as("p95"),
        sum(when(col("l_extendedprice") < col("lo"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("l_extendedprice") > col("hi"), 1L).otherwise(0L)).as("n_hi"),
        sum(floor(col("clipped") * 10000d + 0.5d).cast("long")).as("wsum_e4"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** a32: exact weighted median — the quantity-weighted median unit price
    * per return flag, the statistic neither engine ships natively (DuckDB's
    * quantile_cont is unweighted; so is Spark's percentile). Formulation:
    * order rows by price within each flag, fuse the running weight and the
    * total weight into ONE window exchange (the x115/x122 discipline —
    * same spec, frames widened), and the lower weighted median is the
    * MINIMUM price whose running weight reaches half the total. Intra-tie
    * ordering between equal prices is engine-dependent, but the LAST row
    * of a price level always carries that level's full cumulative weight,
    * so "some row at price p qualifies" ⟺ cum-through-p ≥ W/2 — a
    * deterministic property of the price level; the min over qualifying
    * rows is therefore engine-stable with NO tie-break column needed.
    * Weights stay integral (l_quantity is whole), the comparison is the
    * cross-multiplied `2·cumw ≥ W`, and the median lands as e2 integer
    * cents.
    */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_returnflag")).orderBy(col("l_extendedprice"))
    val cumW = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_quantity").cast("long").as("qty"))
      .withColumn("cumw", sum(col("qty")).over(cumW))
      .withColumn("totw", sum(col("qty")).over(totW))
      .filter(col("cumw") * 2 >= col("totw"))
      .groupBy("l_returnflag")
      .agg(
        floor(min(col("l_extendedprice")) * 100d + 0.5d).cast("long").as("wmedian_e2"),
        max(col("totw")).as("total_weight"))
      .orderBy("l_returnflag")
  }

  /** a34: per-flag OLS regression of extended price on quantity — the full
    * (slope, intercept, r²) line a profiler fits before trusting a linear
    * imputation, and the closed-form statistic a12/x120's slope-only
    * trend doesn't provide. One map-combinable aggregate collects the
    * five moment sums over e2-quantized operands (the x132 per-ROW floor;
    * never sum raw doubles); the second-order sums widen per-row products
    * to DECIMAL(38,0) because Σy² is what outgrows BIGINT first (~10¹⁴
    * per row: BIGINT dies at ~10⁵ rows — DuckDB's HUGEINT sum widens
    * automatically, ours must be explicit). The normal-equation
    * residuals a = n·Sxy−Sx·Sy, b = n·Sxx−Sx², c = n·Syy−Sy² stay exact
    * DECIMAL/HUGEINT, convert ONCE to double (round-to-nearest of the
    * same exact integer on both engines), and each output statistic is
    * one pinned-order double expression rounded once to its fixed-point
    * grid: slope e6 (price cents per quantity cent), intercept e2
    * (cents), r² e6. Aggregate output is |flags| rows; nothing after the
    * first exchange is fact-sized.
    */
  def groupOls(spark: SparkSession, dir: String): DataFrame = {
    val dec: Column => Column = _.cast("decimal(38,0)")
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
        floor(col("l_quantity") * 100d + 0.5d).cast("long").as("x"),
        floor(col("l_extendedprice") * 100d + 0.5d).cast("long").as("y"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(dec(col("x") * col("y"))).as("sxy"),
        sum(dec(col("x") * col("x"))).as("sxx"),
        sum(dec(col("y") * col("y"))).as("syy"))
      .select(col("l_returnflag"), col("n"),
        (dec(col("n")) * col("sxy") - dec(col("sx")) * dec(col("sy")))
          .cast("double").as("a"),
        (dec(col("n")) * col("sxx") - dec(col("sx")) * dec(col("sx")))
          .cast("double").as("b"),
        (dec(col("n")) * col("syy") - dec(col("sy")) * dec(col("sy")))
          .cast("double").as("c"),
        (dec(col("sy")) * col("sxx") - dec(col("sx")) * col("sxy"))
          .cast("double").as("ic"))
      .select(col("l_returnflag"), col("n"),
        floor((col("a") / col("b")) * 1000000d + 0.5d).cast("long").as("slope_e6"),
        floor(col("ic") / col("b") + 0.5d).cast("long").as("icept_e2"),
        floor(((col("a") * col("a")) / (col("b") * col("c"))) * 1000000d + 0.5d)
          .cast("long").as("r2_e6"))
      .orderBy("l_returnflag")
  }

  val groupOlsOracle: String =
    """WITH e AS (SELECT l_returnflag,
      |                  CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS x,
      |                  CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      |           FROM lineitem),
      |s AS (SELECT l_returnflag, COUNT(*) AS n,
      |             SUM(x) AS sx, SUM(y) AS sy,
      |             SUM(x*y) AS sxy, SUM(x*x) AS sxx, SUM(y*y) AS syy
      |      FROM e GROUP BY 1),
      |m AS (SELECT l_returnflag, n,
      |             CAST(n*sxy - sx*sy AS DOUBLE) AS a,
      |             CAST(n*sxx - sx*sx AS DOUBLE) AS b,
      |             CAST(n*syy - sy*sy AS DOUBLE) AS c,
      |             CAST(sy*sxx - sx*sxy AS DOUBLE) AS ic
      |      FROM s)
      |SELECT l_returnflag, n,
      |       CAST(floor((a / b) * 1000000 + 0.5) AS BIGINT) AS slope_e6,
      |       CAST(floor(ic / b + 0.5) AS BIGINT) AS icept_e2,
      |       CAST(floor(((a * a) / (b * c)) * 1000000 + 0.5) AS BIGINT) AS r2_e6
      |FROM m ORDER BY l_returnflag""".stripMargin

  /** a33: seasonal anomaly detection — daily revenue judged against its
    * own DAY-OF-WEEK cohort (a Monday against Mondays), the baseline that
    * stops weekly rhythm from reading as anomaly and anomalies from
    * hiding inside the rhythm. x113's exact-integer MAD discipline
    * grouped by `day % 7`: per-dow median and MAD are exact `percentile`
    * aggregates e4-rounded ONCE, the 3·1.4826·MAD gate is the all-BIGINT
    * ×44478 DIV 10⁴ cross-multiply, and the output is the actionable
    * report — the anomalous DAYS themselves. Scale shape: ONE fact-sized
    * aggregate to the |days|-row daily frame, Layer-persisted so the
    * med→dev→mad→flag chain reads it from cache instead of re-scanning
    * orders three times (improves on x113's triple-scan posture); both
    * percentile frames are 7-row broadcasts.
    */
  /** The Layer-cached (day, cents) daily revenue frame — ONE orders scan
    * per run shared by a33 (seasonal MAD), a37 (decomposition), and a38
    * (Theil–Sen); single builder site so the cache key can never carry
    * two schemas (the x182 lesson).
    */
  private[graft] def dailyRevenue(spark: SparkSession, dir: String): DataFrame =
    graft.Layer.cached(spark, dir, "dailyRevenue") {
      Tables.orders(spark, dir)
        .select(floor(unix_micros(col("o_orderdate")) / 86400000000L)
          .cast("long").as("day"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        .groupBy("day").agg(sum(col("cents")).as("cents"))
    }

  def seasonalOutliers(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyRevenue(spark, dir)
    val med = daily.groupBy((col("day") % 7).as("dow"))
      .agg(floor(expr("percentile(cents, 0.5)") * 10000d + 0.5d)
        .cast("long").as("med_e4"))
    val dev = daily.select(col("day"), (col("day") % 7).as("dow"), col("cents"))
      .join(broadcast(med), "dow")
      .withColumn("dev_e4", abs(col("cents") * 10000L - col("med_e4")))
    val mad = dev.groupBy("dow")
      .agg(floor(expr("percentile(dev_e4, 0.5)") + 0.5d).cast("long").as("mad_e4"))
    dev.join(broadcast(mad), "dow")
      .filter(col("dev_e4") > expr("(mad_e4 * 44478) DIV 10000"))
      .select(col("day"), col("dow"), col("cents"), col("med_e4"))
      .orderBy("day")
  }

  val seasonalOracle: String =
    """WITH daily AS (SELECT CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS day,
      |                      SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS cents
      |               FROM orders GROUP BY 1),
      |m AS (SELECT day % 7 AS dow,
      |             CAST(floor(quantile_cont(cents, 0.5) * 10000 + 0.5) AS BIGINT) AS med_e4
      |      FROM daily GROUP BY 1),
      |d AS (SELECT daily.day, daily.day % 7 AS dow, daily.cents, m.med_e4,
      |             ABS(daily.cents * 10000 - m.med_e4) AS dev_e4
      |      FROM daily JOIN m ON m.dow = daily.day % 7),
      |md AS (SELECT dow, CAST(floor(quantile_cont(dev_e4, 0.5) + 0.5) AS BIGINT) AS mad_e4
      |       FROM d GROUP BY 1)
      |SELECT d.day, d.dow, CAST(d.cents AS BIGINT) AS cents, d.med_e4
      |FROM d JOIN md USING (dow)
      |WHERE d.dev_e4 > (md.mad_e4 * 44478) // 10000
      |ORDER BY d.day""".stripMargin

  /** Per-customer order profile (total cents, order count, last order day),
    * Layer-cached: a35's concentration curve and a36's RFM scores both
    * reduce the orders fact to this customer-grain frame — one fact scan
    * per run feeds the pair. Cents floor once per ROW (the x132
    * discipline); everything downstream is exact BIGINT.
    */
  private[graft] def custOrderProfile(spark: SparkSession, dir: String): DataFrame =
    graft.Layer.cached(spark, dir, "custOrderProfile") {
      Tables.orders(spark, dir)
        .select(col("o_custkey"),
          floor(unix_micros(col("o_orderdate")) / 86400000000L).cast("long").as("day"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        .groupBy("o_custkey")
        .agg(sum(col("cents")).as("cents"), count(lit(1)).as("n_orders"),
          max(col("day")).as("last_day"))
    }

  /** a35: revenue concentration — decile Lorenz curve + exact Gini over
    * per-customer lifetime revenue, the inequality audit a marketplace
    * runs before trusting per-customer stratification (a Gini near 1
    * means a handful of whales carry the revenue and uniform sampling of
    * customers is NOT uniform sampling of revenue). The global rank the
    * closed-form Gini needs (G = (2·Σi·xᵢ − (n+1)·Σxᵢ)/(n·Σxᵢ), xᵢ
    * ascending) comes from [[graft.ops.Ranking.globalRowNumber]] — the
    * two-phase bucketed ranking, never a single-task global window; the
    * frame being ranked is already the customer-grain aggregate, so the
    * rank runs over |customers| rows, not the fact. Σi·xᵢ widens per-row
    * products to DECIMAL(38,0) (rank·cents ≈ 10¹⁴ per row already at
    * sf0.1 — the a34 Σy² lesson; DuckDB's SUM is HUGEINT natively). The
    * Gini and the cumulative shares convert their exact integer
    * numerator/denominator to double ONCE each (identical
    * round-to-nearest of the same integers on both engines) and round
    * once to e6. Output: 10 decile rows + the constant gini_e6 column —
    * aggregate-sized at any SF.
    */
  def giniLorenz(spark: SparkSession, dir: String): DataFrame = {
    val d38: Column => Column = _.cast("decimal(38,0)")
    val cust = custOrderProfile(spark, dir).select("o_custkey", "cents")
    val ranked = graft.ops.Ranking.globalRowNumber(
      cust, col("cents"), col("o_custkey"), "rnk")
    val tot = ranked.agg(count(lit(1)).as("n"), sum(col("cents")).as("s0"),
      sum(d38(col("rnk") * col("cents"))).as("s1"))
    val deciles = ranked.crossJoin(broadcast(tot))
      .groupBy(expr("((rnk - 1) * 10) DIV n").as("decile"))
      .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("rev_e2"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("decile"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    deciles
      .withColumn("cum_e2", sum(col("rev_e2")).over(w)) // 10-row frame: global window is metadata
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n_cust"), col("rev_e2"),
        floor(col("cum_e2").cast("double") / col("s0").cast("double")
          * 1000000d + 0.5d).cast("long").as("cum_share_e6"),
        floor((lit(2).cast("decimal(38,0)") * col("s1")
            - d38(col("n") + 1) * d38(col("s0"))).cast("double")
          / (d38(col("n")) * d38(col("s0"))).cast("double")
          * 1000000d + 0.5d).cast("long").as("gini_e6"))
      .orderBy("decile")
  }

  val giniLorenzOracle: String =
    """WITH c AS (SELECT o_custkey,
      |                  SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS cents
      |           FROM orders GROUP BY 1),
      |r AS (SELECT o_custkey, cents,
      |             ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS rnk FROM c),
      |t AS (SELECT COUNT(*) AS n, SUM(cents) AS s0, SUM(rnk * cents) AS s1 FROM r),
      |d AS (SELECT ((rnk - 1) * 10) // n AS decile,
      |             COUNT(*) AS n_cust, SUM(cents) AS rev_e2
      |      FROM r, t GROUP BY 1),
      |cum AS (SELECT decile, n_cust, rev_e2,
      |               SUM(rev_e2) OVER (ORDER BY decile) AS cum_e2 FROM d)
      |SELECT cum.decile, CAST(cum.n_cust AS BIGINT) AS n_cust,
      |       CAST(cum.rev_e2 AS BIGINT) AS rev_e2,
      |       CAST(floor(CAST(cum.cum_e2 AS DOUBLE) / CAST(t.s0 AS DOUBLE)
      |                  * 1000000 + 0.5) AS BIGINT) AS cum_share_e6,
      |       CAST(floor(CAST(2 * t.s1 - (t.n + 1) * t.s0 AS DOUBLE)
      |                  / CAST(t.n * t.s0 AS DOUBLE)
      |                  * 1000000 + 0.5) AS BIGINT) AS gini_e6
      |FROM cum, t ORDER BY cum.decile""".stripMargin

  /** a36: RFM segmentation — the classic CRM triptych (recency,
    * frequency, monetary), each scored 1–5 by exact global quintile rank
    * and reported as segment populations. Scoring is rank-based, not
    * value-threshold-based, so the segmentation is distribution-free:
    * score = 1 + ((rank−1)·5) DIV n over the deterministic total order
    * (metric, custkey) — the same integer-grid cut as x123's split, with
    * no ntile() (whose remainder placement is an engine-specific choice).
    * Recency ranks DESCENDING (most-recent customers get rank n → score
    * 5) by ranking last_day ascending — the same total order as the
    * negated day gap, with no max-day anchor needed. All three ranks run
    * through the two-phase bucketed
    * [[graft.ops.Ranking.globalRowNumber]] over the customer-grain
    * aggregate — never a one-task global window, never the fact — and
    * run INDEPENDENTLY (see the in-body note: chaining compounds
    * recomputation). Segment means convert exact cent sums to double
    * once. Output is ≤125 segment rows at any SF.
    */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val base = custOrderProfile(spark, dir)
    // Three INDEPENDENT ranks over the cached customer-grain frame,
    // joined back on custkey — NOT rank-of-rank-of-rank: chaining feeds
    // each globalRowNumber's three self-references (stats, bucketed,
    // offsets) the PREVIOUS rank's whole tree, and the recomputation
    // compounds ~3^depth (measured sf0.1: 644 s of executor task time
    // chained vs 115 s independent, identical 115 output rows). Recency
    // needs no max_day anchor for a RANK: rank by (−recency, key) ≡
    // rank by (last_day, key) — monotone transform — so the max-day
    // aggregate and its crossJoin drop out entirely.
    def ranked(v: Column, out: String): DataFrame =
      graft.ops.Ranking.globalRowNumber(base, v, col("o_custkey"), out)
        .select(col("o_custkey").as(s"k_$out"), col(out))
    val n = base.agg(count(lit(1)).as("n_total")) // one-row broadcast, no driver action
    base
      .join(ranked(col("last_day"), "r_rnk"), col("o_custkey") === col("k_r_rnk"))
      .join(ranked(col("n_orders"), "f_rnk"), col("o_custkey") === col("k_f_rnk"))
      .join(ranked(col("cents"), "m_rnk"), col("o_custkey") === col("k_m_rnk"))
      .crossJoin(broadcast(n))
      .select(col("o_custkey"), col("cents"),
        (expr("((r_rnk - 1) * 5) DIV n_total") + 1L).as("r_score"),
        (expr("((f_rnk - 1) * 5) DIV n_total") + 1L).as("f_score"),
        (expr("((m_rnk - 1) * 5) DIV n_total") + 1L).as("m_score"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_cust"),
        floor(sum(col("cents")).cast("double") / count(lit(1)).cast("double")
          + 0.5d).cast("long").as("mon_avg_e2"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** a37: additive seasonal decomposition of daily revenue — the
    * trend / weekly-seasonal / residual split (classical decomposition,
    * the moving-average half of STL) that turns a33's "is this day
    * anomalous" into "WHAT is this day made of". Trend is the centered
    * 7-day moving average over the DENSE day grid (zero-revenue days are
    * observations — the x172 posture), computed by the x160
    * offset-EXPLODE equi-regroup (±3 offsets), never a non-equi join and
    * never a global window over the fact; only full 7-day windows emit.
    * Exactness discipline: the 7-day SUM and the 7·x−sum7 detrended
    * value stay exact BIGINT; each emitted component rounds ONCE from an
    * exact integer ratio through one double conversion (floor(x+0.5) of
    * identical doubles on both engines — valid for the negative-capable
    * seasonal/residual where an integer DIV would hit the floor-vs-
    * truncate divergence x162 documents). The residual is then pure
    * integer subtraction of the rounded components, so the identity
    * x = trend + seasonal + residual holds EXACTLY on the e2 grid.
    * Scale shape: one orders scan into the Layer-shared a33 daily frame;
    * everything after is the |days|-row metadata grid.
    */
  def seasonalDecomp(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyRevenue(spark, dir)
    val span = daily.agg(min("day").as("lo"), max("day").as("hi"))
    val dense = span.select(explode(sequence(col("lo"), col("hi"))).as("day"))
      .join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("cents"), lit(0L)).as("cents"))
    val sum7 = dense
      .select(col("cents"), explode(sequence(lit(-3L), lit(3L))).as("off"),
        col("day"))
      .select((col("day") + col("off")).as("day"), col("cents"))
      .groupBy("day")
      .agg(sum(col("cents")).as("sum7"), count(lit(1)).as("n7"))
      .filter(col("n7") === 7) // full centered windows only: days in [lo+3, hi-3]
    val detr = dense.join(sum7.select("day", "sum7"), "day")
      .select(col("day"), (col("day") % 7).as("dow"), col("cents"), col("sum7"),
        (col("cents") * 7L - col("sum7")).as("detr7"))
    val seasonal = detr.groupBy("dow")
      .agg(sum(col("detr7")).as("s_dow"), count(lit(1)).as("n_dow"))
      .select(col("dow"),
        floor(col("s_dow").cast("double") / (col("n_dow") * 7L).cast("double")
          + 0.5d).cast("long").as("seasonal_e2"))
    detr.join(broadcast(seasonal), "dow")
      .select(col("day"), col("dow"), col("cents"),
        floor(col("sum7").cast("double") / 7d + 0.5d).cast("long").as("trend_e2"),
        col("seasonal_e2"))
      .withColumn("resid_e2",
        col("cents") - col("trend_e2") - col("seasonal_e2"))
      .orderBy("day")
  }

  val seasonalDecompOracle: String =
    """WITH daily AS (SELECT CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS day,
      |                      SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS cents
      |               FROM orders GROUP BY 1),
      |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
      |dense AS (SELECT d.day, COALESCE(daily.cents, 0) AS cents
      |          FROM (SELECT unnest(generate_series(lo, hi)) AS day FROM span) d
      |          LEFT JOIN daily USING (day)),
      |offs AS (SELECT unnest(generate_series(-3, 3)) AS off),
      |s7 AS (SELECT dense.day + off AS day, SUM(cents) AS sum7, COUNT(*) AS n7
      |       FROM dense CROSS JOIN offs GROUP BY 1),
      |detr AS (SELECT d.day, d.day % 7 AS dow, d.cents, s.sum7,
      |                d.cents * 7 - s.sum7 AS detr7
      |         FROM dense d JOIN s7 s ON s.day = d.day AND s.n7 = 7),
      |seas AS (SELECT dow, CAST(floor(CAST(SUM(detr7) AS DOUBLE)
      |                 / CAST(COUNT(*) * 7 AS DOUBLE) + 0.5) AS BIGINT) AS seasonal_e2
      |         FROM detr GROUP BY 1)
      |SELECT detr.day, detr.dow, CAST(detr.cents AS BIGINT) AS cents,
      |       CAST(floor(CAST(detr.sum7 AS DOUBLE) / 7 + 0.5) AS BIGINT) AS trend_e2,
      |       seas.seasonal_e2,
      |       CAST(detr.cents - CAST(floor(CAST(detr.sum7 AS DOUBLE) / 7 + 0.5) AS BIGINT)
      |         - seas.seasonal_e2 AS BIGINT) AS resid_e2
      |FROM detr JOIN seas USING (dow)
      |ORDER BY detr.day""".stripMargin

  /** a38: Theil–Sen robust trend of daily revenue — the median of all
    * pairwise slopes (Theil '50, Sen '68), the estimator that survives
    * the outlier days a33 flags where x120's OLS slope gets dragged
    * (breakdown point 29 % vs OLS's zero). Pair space is the DAILY
    * frame's self-join — |days|² pairs where |days| is calendar-bounded
    * metadata (≈ 2 400 at the gate span ⇒ ~3 M pair rows), never the
    * fact: the orders table reduces to the Layer-shared a33 daily frame
    * first. Exactness: each slope converts its exact integer Δcents/Δday
    * to double once; the MEDIAN is a two-phase exact rank selection
    * ([[graft.ops.Ranking.globalRowNumber]] — bucketed, no single-task
    * global sort over the ~|days|²/2 slopes): pick the middle rank(s)
    * against the closed-form pair count C(n_days, 2) and AVG the ≤ 2
    * survivors. (a+b)/2 equals 0.5a+0.5b bit-exactly — halving commutes
    * with IEEE rounding — and the oracle mirrors the SAME rank-select +
    * AVG, so no interpolation-formula divergence between engines is even
    * possible (quantile_cont's a+(b−a)/2 is up to 1 ULP off). The
    * intercept median stays a one-reducer percentile over the
    * calendar-bounded n_days values. One rounding per emitted statistic.
    * Output: one row.
    */
  def theilSenTrend(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyRevenue(spark, dir)
    val b = daily.select(col("day").as("day2"), col("cents").as("cents2"))
    val slopes = daily.join(b, col("day2") > col("day"))
      .select(col("day"), col("day2"),
        ((col("cents2") - col("cents")).cast("double")
          / (col("day2") - col("day")).cast("double")).as("slope"))
    // n_pairs is closed-form from the day count — no second pass over the
    // pair frame; the (day, day2) key is a deterministic total tie-break
    // (ties are value-equal, so the averaged median is tie-invariant)
    val cnt = daily.agg(count(lit(1)).as("n_days_c"))
      .select(expr("n_days_c * (n_days_c - 1) DIV 2").as("n_pairs"))
    val ranked = graft.ops.Ranking.globalRowNumber(slopes, col("slope"),
      col("day") * 100000L + col("day2"), "rnk")
    val med = ranked.crossJoin(broadcast(cnt))
      .filter(col("rnk") === expr("(n_pairs + 1) DIV 2") ||
        col("rnk") === expr("n_pairs DIV 2 + 1"))
      .groupBy("n_pairs").agg(avg(col("slope")).as("m"))
    daily.crossJoin(broadcast(med))
      .select(col("day"), col("cents"), col("n_pairs"), col("m"),
        (col("cents").cast("double") - col("m") * col("day").cast("double")).as("ic"))
      .groupBy("n_pairs", "m")
      .agg(count(lit(1)).as("n_days"),
        expr("percentile(ic, 0.5)").as("ic_med"))
      .select(col("n_days"), col("n_pairs"),
        floor(col("m") * 10000d + 0.5d).cast("long").as("slope_e4"),
        floor(col("ic_med") + 0.5d).cast("long").as("icept_e2"))
  }

  val theilSenOracle: String =
    """WITH daily AS (SELECT CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS day,
      |                      SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS cents
      |               FROM orders GROUP BY 1),
      |p AS (SELECT CAST(b.cents - a.cents AS DOUBLE)
      |             / CAST(b.day - a.day AS DOUBLE) AS slope
      |      FROM daily a JOIN daily b ON b.day > a.day),
      |r AS (SELECT slope, ROW_NUMBER() OVER (ORDER BY slope) AS rnk,
      |             COUNT(*) OVER () AS n_pairs
      |      FROM p),
      |m AS (SELECT CAST(n_pairs AS BIGINT) AS n_pairs, AVG(slope) AS m
      |      FROM r
      |      WHERE rnk = (n_pairs + 1) // 2 OR rnk = n_pairs // 2 + 1
      |      GROUP BY 1),
      |ic AS (SELECT m.n_pairs, m.m, COUNT(*) AS n_days,
      |              quantile_cont(CAST(d.cents AS DOUBLE)
      |                - m.m * CAST(d.day AS DOUBLE), 0.5) AS ic_med
      |       FROM daily d, m GROUP BY 1, 2)
      |SELECT CAST(n_days AS BIGINT) AS n_days, CAST(n_pairs AS BIGINT) AS n_pairs,
      |       CAST(floor(m * 10000 + 0.5) AS BIGINT) AS slope_e4,
      |       CAST(floor(ic_med + 0.5) AS BIGINT) AS icept_e2
      |FROM ic""".stripMargin

  /** a39: basket-size dispersion — the index-of-dispersion test
    * (var/mean; exactly 1 under Poisson) on lines-per-order, the
    * one-number answer to "can I model basket size as Poisson" before a
    * simulator or a negative-binomial correction. Exactness: population
    * variance never materializes as a rational — the statistic is the
    * cross-multiplied form D = (n·Σx² − (Σx)²)/(n·Σx) with Σx² widened
    * to DECIMAL(38,0) (the a34 bound), converted to double ONCE.
    * Scale shape: one fact-sized aggregate to order grain (map-side
    * partials), then a one-row reduction. Output: one row.
    */
  def basketDispersion(spark: SparkSession, dir: String): DataFrame = {
    val d38: Column => Column = _.cast("decimal(38,0)")
    Tables.lineitem(spark, dir)
      .groupBy("l_orderkey").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_orders"), sum(col("n")).as("n_lines"),
        sum(d38(col("n") * col("n"))).as("s2"))
      .select(col("n_orders"), col("n_lines"),
        floor(col("n_lines").cast("double") / col("n_orders").cast("double")
          * 10000d + 0.5d).cast("long").as("mean_e4"),
        floor((d38(col("n_orders")) * col("s2") - d38(col("n_lines")) * d38(col("n_lines")))
          .cast("double")
          / (d38(col("n_orders")) * d38(col("n_orders"))).cast("double")
          * 10000d + 0.5d).cast("long").as("var_e4"),
        floor((d38(col("n_orders")) * col("s2") - d38(col("n_lines")) * d38(col("n_lines")))
          .cast("double")
          / (d38(col("n_orders")) * d38(col("n_lines"))).cast("double")
          * 1000000d + 0.5d).cast("long").as("dispersion_e6"))
  }

  val basketDispersionOracle: String =
    """WITH b AS (SELECT l_orderkey, COUNT(*) AS n FROM lineitem GROUP BY 1),
      |m AS (SELECT COUNT(*) AS n_orders, SUM(n) AS n_lines, SUM(n * n) AS s2
      |      FROM b)
      |SELECT CAST(n_orders AS BIGINT) AS n_orders,
      |       CAST(n_lines AS BIGINT) AS n_lines,
      |       CAST(floor(CAST(n_lines AS DOUBLE) / CAST(n_orders AS DOUBLE)
      |            * 10000 + 0.5) AS BIGINT) AS mean_e4,
      |       CAST(floor(CAST(n_orders * s2 - n_lines * n_lines AS DOUBLE)
      |            / CAST(n_orders * n_orders AS DOUBLE)
      |            * 10000 + 0.5) AS BIGINT) AS var_e4,
      |       CAST(floor(CAST(n_orders * s2 - n_lines * n_lines AS DOUBLE)
      |            / CAST(n_orders * n_lines AS DOUBLE)
      |            * 1000000 + 0.5) AS BIGINT) AS dispersion_e6
      |FROM m""".stripMargin

  val rfmOracle: String =
    """WITH c AS (SELECT o_custkey,
      |                  SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS cents,
      |                  COUNT(*) AS n_orders,
      |                  MAX(CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT)) AS last_day
      |           FROM orders GROUP BY 1),
      |b AS (SELECT o_custkey, cents, n_orders,
      |             (SELECT MAX(last_day) FROM c) - last_day AS recency FROM c),
      |r AS (SELECT o_custkey, cents,
      |             ROW_NUMBER() OVER (ORDER BY recency DESC, o_custkey) AS r_rnk,
      |             ROW_NUMBER() OVER (ORDER BY n_orders, o_custkey) AS f_rnk,
      |             ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS m_rnk,
      |             (SELECT COUNT(*) FROM c) AS n
      |      FROM b)
      |SELECT ((r_rnk - 1) * 5) // n + 1 AS r_score,
      |       ((f_rnk - 1) * 5) // n + 1 AS f_score,
      |       ((m_rnk - 1) * 5) // n + 1 AS m_score,
      |       COUNT(*) AS n_cust,
      |       CAST(floor(CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
      |                  + 0.5) AS BIGINT) AS mon_avg_e2
      |FROM r GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** a40: Herfindahl–Hirschman supplier concentration per nation market —
    * the antitrust-style "how monopolized is each market" audit (HHI =
    * Σ shareᵢ², on [1/n, 1]; DOJ calls >0.25 'highly concentrated').
    * One fact pass to the (nation, supplier) revenue grain — supplier is
    * threshold-governed (broadcast while it fits), nation a fixed 25-row
    * hinted broadcast — then one nation-grain reduction. Exactness: each
    * supplier's revenue is an exact e4 DECIMAL integer (price·(1−disc)
    * has exactly 4 dp); Σr and Σr² stay DECIMAL(38,0) (r² ≲ 10²⁶ at any
    * plausible SF), and HHI = Σr²/(Σr)² converts each exact side to
    * double ONCE for the single division. 100 TB: both aggregates are
    * map-combinable; nothing driver-side.
    */
  def hhiConcentration(spark: SparkSession, dir: String): DataFrame = {
    val d38: Column => Column = _.cast("decimal(38,0)")
    val rev = Tables.lineitem(spark, dir)
      .select(col("l_suppkey"), (dec("l_extendedprice") *
        (lit(1).cast("decimal(12,2)") - dec("l_discount"))).as("rev"))
      .groupBy("l_suppkey")
      .agg((sum(col("rev")) * 10000).cast("decimal(38,0)").as("r_e4"))
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val n = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    rev.join(s, col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_suppliers"),
        sum(col("r_e4")).as("t_e4"),
        max(col("r_e4")).as("max_e4"),
        sum(col("r_e4") * col("r_e4")).as("s2"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("n_suppliers"),
        floor(col("max_e4").cast("double") / col("t_e4").cast("double")
          * 1000000d + 0.5d).cast("long").as("top_share_e6"),
        floor(col("s2").cast("double")
          / (d38(col("t_e4")) * d38(col("t_e4"))).cast("double")
          * 1000000d + 0.5d).cast("long").as("hhi_e6"))
      .orderBy("n_name")
  }

  val hhiOracle: String =
    """WITH rev AS (SELECT l_suppkey,
      |                    CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
      |                             (CAST(1 AS DECIMAL(12,2)) -
      |                              CAST(l_discount AS DECIMAL(12,2)))) * 10000
      |                         AS HUGEINT) AS r_e4
      |             FROM lineitem GROUP BY 1),
      |g AS (SELECT s.s_nationkey, COUNT(*) AS n_suppliers,
      |             SUM(r.r_e4) AS t_e4, MAX(r.r_e4) AS max_e4,
      |             SUM(r.r_e4 * r.r_e4) AS s2
      |      FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
      |      GROUP BY 1)
      |SELECT n.n_name, g.n_suppliers,
      |       CAST(floor(CAST(g.max_e4 AS DOUBLE) / CAST(g.t_e4 AS DOUBLE)
      |            * 1000000 + 0.5) AS BIGINT) AS top_share_e6,
      |       CAST(floor(CAST(g.s2 AS DOUBLE)
      |            / CAST(g.t_e4 * g.t_e4 AS DOUBLE)
      |            * 1000000 + 0.5) AS BIGINT) AS hhi_e6
      |FROM g JOIN nation n ON g.s_nationkey = n.n_nationkey
      |ORDER BY n_name""".stripMargin

  /** a41: Spearman rank correlation between quantity and price — the
    * robust (distribution-free, monotone-invariant) dependence measure a
    * feature audit wants where Pearson is outlier-fragile. Exactness via
    * the doubled-midrank trick: with ties, Spearman is Pearson over
    * midranks mr(v) = cntBelow + (cntEq+1)/2, which are half-integers —
    * so we carry 2·mr = 2·cumBelow + cntEq + 1 as exact BIGINTs
    * (correlation is affine-invariant, so the doubling cancels). Ranks
    * come from the VALUE-GRAIN count table via one two-phase
    * [[graft.ops.Ranking.globalCumSum]] per column (never a fact-sized
    * single-task window) and join back to the fact threshold-governed;
    * the five moment sums are one map-combinable aggregate in
    * DECIMAL(38,0); numerator and the two variance factors convert to
    * double ONCE each for the final r. 100 TB: rank maps are
    * value-grain aggregates; nothing driver-side.
    */
  def spearmanCorr(spark: SparkSession, dir: String): DataFrame = {
    val d38: Column => Column = _.cast("decimal(38,0)")
    def rankMap(df: DataFrame, vCol: String): DataFrame = {
      val g = df.groupBy(vCol).agg(count(lit(1)).as("cnt"))
      graft.ops.Ranking.globalCumSum(g, col(vCol), col(vCol), col("cnt"), "cum")
        .select(col(vCol), (lit(2) * col("cum") - col("cnt") + 1).as(s"mr2_$vCol"))
    }
    val li = Tables.lineitem(spark, dir)
      .select(floor(col("l_quantity") * 100d + 0.5d).cast("long").as("q"),
        floor(col("l_extendedprice") * 100d + 0.5d).cast("long").as("p"))
    val ranked = li
      .join(rankMap(li, "q"), "q")
      .join(rankMap(li, "p"), "p")
    val s = ranked.agg(count(lit(1)).as("n"),
      sum(col("mr2_q")).as("sx"), sum(col("mr2_p")).as("sy"),
      sum(d38(col("mr2_q")) * d38(col("mr2_p"))).as("sxy"),
      sum(d38(col("mr2_q")) * d38(col("mr2_q"))).as("sxx"),
      sum(d38(col("mr2_p")) * d38(col("mr2_p"))).as("syy"))
    s.select(col("n"),
      floor((d38(col("n")) * col("sxy") - d38(col("sx")) * d38(col("sy")))
        .cast("double")
        / sqrt((d38(col("n")) * col("sxx") - d38(col("sx")) * d38(col("sx"))).cast("double"))
        / sqrt((d38(col("n")) * col("syy") - d38(col("sy")) * d38(col("sy"))).cast("double"))
        * 1000000d + 0.5d).cast("long").as("spearman_e6"))
  }

  val spearmanOracle: String =
    """WITH li AS (SELECT CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS q,
      |                   CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS p
      |            FROM lineitem),
      |rq AS (SELECT q, 2 * SUM(COUNT(*)) OVER (ORDER BY q
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |              - COUNT(*) + 1 AS mr2_q
      |       FROM li GROUP BY q),
      |rp AS (SELECT p, 2 * SUM(COUNT(*)) OVER (ORDER BY p
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |              - COUNT(*) + 1 AS mr2_p
      |       FROM li GROUP BY p),
      |j AS (SELECT rq.mr2_q AS x, rp.mr2_p AS y
      |      FROM li JOIN rq USING (q) JOIN rp USING (p)),
      |s AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |             SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |             SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |             SUM(CAST(y AS HUGEINT) * y) AS syy
      |      FROM j)
      |SELECT CAST(n AS BIGINT) AS n,
      |       CAST(floor(CAST(n * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
      |            / sqrt(CAST(n * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE))
      |            / sqrt(CAST(n * syy - CAST(sy AS HUGEINT) * sy AS DOUBLE))
      |            * 1000000 + 0.5) AS BIGINT) AS spearman_e6
      |FROM s""".stripMargin

  /** a42: Mann–Kendall trend test on daily revenue — the nonparametric
    * "is there a monotone trend at all" SIGNIFICANCE companion to a38's
    * Theil–Sen slope ESTIMATE (the two are the classic pairing: MK says
    * whether, Theil–Sen says how much). S = Σ_{i<j} sign(xⱼ − xᵢ) over
    * day pairs of the Layer-shared daily frame (calendar-bounded
    * self-join, metadata-sized — the a38 shape), kept exact as ±1
    * integer sums; the tie-corrected variance 18·Var(S) = n(n−1)(2n+5) −
    * Σ_t t(t−1)(2t+5) is exact BIGINT off a |values|-grain count table;
    * the continuity-corrected z = (S − sgn(S))/√Var(S) takes the one
    * double conversion at the end.
    */
  def mannKendall(spark: SparkSession, dir: String): DataFrame = {
    val daily = dailyRevenue(spark, dir)
    val b = daily.select(col("day").as("day2"), col("cents").as("cents2"))
    val s = daily.join(b, col("day2") > col("day"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("cents2") > col("cents"), 1L)
          .when(col("cents2") < col("cents"), -1L).otherwise(0L)).as("s"))
    val nd = daily.agg(count(lit(1)).as("n_days"))
    val ties = daily.groupBy("cents").agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(col("t") * (col("t") - 1) * (lit(2) * col("t") + 5)), lit(0L))
        .as("tie_term"))
    s.crossJoin(broadcast(nd)).crossJoin(broadcast(ties))
      .select(col("n_days"), col("n_pairs"), col("s"),
        ((col("n_days") * (col("n_days") - 1) * (lit(2) * col("n_days") + 5)
          - col("tie_term")).cast("double") / 18d).as("var_s"),
        col("s").cast("double").as("sd"))
      .select(col("n_days"), col("n_pairs"), col("s"),
        when(col("var_s") > 0d,
          floor((col("sd") - signum(col("sd"))) / sqrt(col("var_s"))
            * 10000d + 0.5d).cast("long"))
          .otherwise(lit(null).cast("long")).as("z_e4"))
  }

  val mannKendallOracle: String =
    """WITH daily AS (SELECT CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS day,
      |                      SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS cents
      |               FROM orders GROUP BY 1),
      |p AS (SELECT COUNT(*) AS n_pairs,
      |             SUM(CASE WHEN b.cents > a.cents THEN 1
      |                      WHEN b.cents < a.cents THEN -1 ELSE 0 END) AS s
      |      FROM daily a JOIN daily b ON b.day > a.day),
      |nd AS (SELECT COUNT(*) AS n_days FROM daily),
      |tt AS (SELECT COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS tie_term
      |       FROM (SELECT COUNT(*) AS t FROM daily GROUP BY cents)),
      |v AS (SELECT nd.n_days, p.n_pairs, p.s,
      |             CAST(nd.n_days * (nd.n_days - 1) * (2 * nd.n_days + 5)
      |                  - tt.tie_term AS DOUBLE) / 18 AS var_s
      |      FROM p, nd, tt)
      |SELECT n_days, n_pairs, CAST(s AS BIGINT) AS s,
      |       CASE WHEN var_s > 0
      |            THEN CAST(floor((CAST(s AS DOUBLE) - sign(CAST(s AS DOUBLE)))
      |                 / sqrt(var_s) * 10000 + 0.5) AS BIGINT)
      |            ELSE NULL END AS z_e4
      |FROM v""".stripMargin

  /** a43: price-volume-mix bridge — the FP&A revenue-change
    * decomposition ("why did revenue move?"): for parts sold in BOTH
    * periods, ΔRev splits into a price effect q₂·(p₂−p₁), a volume
    * effect p₁·(q₂−q₁), and the joint remainder (p₂−p₁)(q₂−q₁); parts
    * that appear only in one period are reported as new/lost revenue.
    * Periods are ship-date years 1996 vs 1997. Exactness discipline:
    * per-part revenues and quantities are exact e2 integers; the two
    * rational effects (denominator q₁) take ONE identically-written
    * double division each and round half-up PER PART, so the final
    * sums are exact BIGINT and the bridge closes exactly — joint is
    * defined as Δ − price − volume on the rounded values, so
    * price + volume + joint ≡ Δ by construction (the spec pins the
    * stronger per-part form against unrounded rationals). One fact
    * pass to the (part, year) grain; everything after is part-grain.
    */
  def priceVolumeMix(spark: SparkSession, dir: String,
                     y1: Int = 1996, y2: Int = 1997): DataFrame = {
    val d38: Column => Column = _.cast("decimal(38,0)")
    val grain = Tables.lineitem(spark, dir)
      .filter(year(col("l_shipdate")).isin(y1, y2))
      .groupBy(col("l_partkey"), year(col("l_shipdate")).as("yr"))
      .agg(sum(floor(col("l_quantity") * 100d + 0.5d).cast("long")).as("q"),
        sum(floor(col("l_extendedprice") * 100d + 0.5d).cast("long")).as("r"))
    val p1 = grain.filter(col("yr") === y1)
      .select(col("l_partkey"), col("q").as("q1"), col("r").as("r1"))
    val p2 = grain.filter(col("yr") === y2)
      .select(col("l_partkey"), col("q").as("q2"), col("r").as("r2"))
    val both = p1.join(p2, "l_partkey")
      .select(col("l_partkey"), col("q1"), col("r1"), col("q2"), col("r2"),
        floor(col("r2").cast("double")
          - (d38(col("q2")) * d38(col("r1"))).cast("double") / col("q1").cast("double")
          + 0.5d).cast("long").as("price_eff"),
        floor((d38(col("r1")) * (col("q2") - col("q1"))).cast("double")
          / col("q1").cast("double") + 0.5d).cast("long").as("volume_eff"))
    val bridge = both.agg(count(lit(1)).as("n_parts_both"),
      sum(col("r2") - col("r1")).as("delta_rev_e2"),
      sum(col("price_eff")).as("price_eff_e2"),
      sum(col("volume_eff")).as("volume_eff_e2"))
      .select(col("n_parts_both"), col("delta_rev_e2"), col("price_eff_e2"),
        col("volume_eff_e2"),
        (col("delta_rev_e2") - col("price_eff_e2") - col("volume_eff_e2"))
          .as("joint_eff_e2"))
    val newRev = p2.join(p1.select("l_partkey"), Seq("l_partkey"), "left_anti")
      .agg(coalesce(sum(col("r2")), lit(0L)).as("new_rev_e2"))
    val lostRev = p1.join(p2.select("l_partkey"), Seq("l_partkey"), "left_anti")
      .agg(coalesce(sum(col("r1")), lit(0L)).as("lost_rev_e2"))
    bridge.crossJoin(broadcast(newRev)).crossJoin(broadcast(lostRev))
  }

  val priceVolumeMixOracle: String =
    """WITH g AS (SELECT l_partkey, EXTRACT(year FROM l_shipdate) AS yr,
      |                  SUM(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS q,
      |                  SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS r
      |           FROM lineitem
      |           WHERE EXTRACT(year FROM l_shipdate) IN (1996, 1997)
      |           GROUP BY 1, 2),
      |p1 AS (SELECT l_partkey, q AS q1, r AS r1 FROM g WHERE yr = 1996),
      |p2 AS (SELECT l_partkey, q AS q2, r AS r2 FROM g WHERE yr = 1997),
      |b AS (SELECT p1.l_partkey, q1, r1, q2, r2,
      |             CAST(floor(CAST(r2 AS DOUBLE)
      |                  - CAST(CAST(q2 AS HUGEINT) * r1 AS DOUBLE) / CAST(q1 AS DOUBLE)
      |                  + 0.5) AS BIGINT) AS price_eff,
      |             CAST(floor(CAST(CAST(r1 AS HUGEINT) * (q2 - q1) AS DOUBLE)
      |                  / CAST(q1 AS DOUBLE) + 0.5) AS BIGINT) AS volume_eff
      |      FROM p1 JOIN p2 USING (l_partkey)),
      |s AS (SELECT COUNT(*) AS n_parts_both,
      |             CAST(SUM(r2 - r1) AS BIGINT) AS delta_rev_e2,
      |             CAST(SUM(price_eff) AS BIGINT) AS price_eff_e2,
      |             CAST(SUM(volume_eff) AS BIGINT) AS volume_eff_e2
      |      FROM b),
      |nr AS (SELECT CAST(COALESCE(SUM(r2), 0) AS BIGINT) AS new_rev_e2
      |       FROM p2 WHERE l_partkey NOT IN (SELECT l_partkey FROM p1)),
      |lr AS (SELECT CAST(COALESCE(SUM(r1), 0) AS BIGINT) AS lost_rev_e2
      |       FROM p1 WHERE l_partkey NOT IN (SELECT l_partkey FROM p2))
      |SELECT s.n_parts_both, s.delta_rev_e2, s.price_eff_e2, s.volume_eff_e2,
      |       s.delta_rev_e2 - s.price_eff_e2 - s.volume_eff_e2 AS joint_eff_e2,
      |       nr.new_rev_e2, lr.lost_rev_e2
      |FROM s, nr, lr""".stripMargin

  /** x206: order-fulfilment SLA report — per order priority, the
    * distribution of days from order placement to FIRST shipment (the
    * operational latency a fulfilment SLA is written against). Lag is
    * an exact integer day difference (µs DIV, never a double date
    * subtraction); the order grain reduces the fact with min(shipdate)
    * map-side; p50/p90 are `percentile` ≡ DuckDB `quantile_cont` over
    * identical integers with one e4 half-up rounding each (the a04
    * discipline). Also reports the share of orders shipping within 7
    * days as an exact cross-multiplied-free count ratio (one double).
    */
  def orderSla(spark: SparkSession, dir: String): DataFrame = {
    val firstShip = Tables.lineitem(spark, dir)
      .groupBy("l_orderkey")
      .agg(min(expr("unix_micros(l_shipdate) div 86400000000")).as("ship_day"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        expr("unix_micros(o_orderdate) div 86400000000").as("order_day"))
      .join(firstShip, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority"), (col("ship_day") - col("order_day")).as("lag"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        floor(expr("percentile(lag, 0.5)") * 10000d + 0.5d).cast("long").as("p50_days_e4"),
        floor(expr("percentile(lag, 0.9)") * 10000d + 0.5d).cast("long").as("p90_days_e4"),
        floor(sum(when(col("lag") <= 7, 1L).otherwise(0L)).cast("double")
          / count(lit(1)).cast("double") * 1000000d + 0.5d).cast("long")
          .as("within_7d_e6"))
      .orderBy("o_orderpriority")
  }

  val orderSlaOracle: String =
    """WITH fs AS (SELECT l_orderkey,
      |                   MIN(epoch_us(l_shipdate) // 86400000000) AS ship_day
      |            FROM lineitem GROUP BY 1),
      |l AS (SELECT o.o_orderpriority,
      |             fs.ship_day - epoch_us(o.o_orderdate) // 86400000000 AS lag
      |      FROM orders o JOIN fs ON fs.l_orderkey = o.o_orderkey)
      |SELECT o_orderpriority, COUNT(*) AS n_orders,
      |       CAST(floor(quantile_cont(lag, 0.5) * 10000 + 0.5) AS BIGINT) AS p50_days_e4,
      |       CAST(floor(quantile_cont(lag, 0.9) * 10000 + 0.5) AS BIGINT) AS p90_days_e4,
      |       CAST(floor(CAST(SUM(CASE WHEN lag <= 7 THEN 1 ELSE 0 END) AS DOUBLE)
      |            / COUNT(*) * 1000000 + 0.5) AS BIGINT) AS within_7d_e6
      |FROM l GROUP BY 1 ORDER BY 1""".stripMargin

  /** x207: product replenishment cycle — for each part, the typical
    * number of days between a customer's CONSECUTIVE orders containing
    * it (the Instacart-domain "how often is this repurchased" signal
    * that prices reorder prediction and inventory cadence). Gaps come
    * from a (customer, part)-partitioned lag window — partitions are
    * bounded by one customer's purchase history of one part, never
    * fact-wide — over exact integer order days; per part the report is
    * repeat count + interpolated median gap (percentile ≡
    * quantile_cont, one e4 rounding). Top-20 by repeat support under a
    * total tie-break.
    */
  def replenishCycle(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val purchases = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        expr("unix_micros(o_orderdate) div 86400000000").as("day"))
      .join(Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey"),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey"), col("day"), col("o_orderkey"))
      .distinct()
    val w = Window.partitionBy(col("o_custkey"), col("l_partkey"))
      .orderBy(col("day"), col("o_orderkey"))
    purchases
      .withColumn("prev_day", lag(col("day"), 1).over(w))
      .filter(col("prev_day").isNotNull && col("day") > col("prev_day"))
      .select(col("l_partkey"), (col("day") - col("prev_day")).as("gap"))
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_repeats"),
        floor(expr("percentile(gap, 0.5)") * 10000d + 0.5d).cast("long")
          .as("median_gap_days_e4"))
      .orderBy(col("n_repeats").desc, col("l_partkey"))
      .limit(k)
  }

  val replenishCycleOracle: String =
    """WITH p AS (SELECT DISTINCT o.o_custkey, l.l_partkey,
      |                  epoch_us(o.o_orderdate) // 86400000000 AS day,
      |                  o.o_orderkey
      |           FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
      |g AS (SELECT l_partkey, day - LAG(day) OVER (
      |               PARTITION BY o_custkey, l_partkey
      |               ORDER BY day, o_orderkey) AS gap
      |      FROM p)
      |SELECT l_partkey, COUNT(*) AS n_repeats,
      |       CAST(floor(quantile_cont(gap, 0.5) * 10000 + 0.5) AS BIGINT)
      |         AS median_gap_days_e4
      |FROM g WHERE gap IS NOT NULL AND gap > 0
      |GROUP BY 1 ORDER BY n_repeats DESC, l_partkey LIMIT 20""".stripMargin

  /** x214: multiplicative monthly seasonal index — the classical-
    * decomposition ratio table (month mean over grand mean, the
    * "December is 1.3×" number) that a37's additive day-of-week
    * decomposition doesn't give: calendar-month seasonality across
    * years, in RATIO form so it transfers across growth levels. The
    * (year, month) totals are exact e2 integers off one orders pass;
    * the index divides the month's across-year mean by the grand mean
    * of all observed (year, month) cells — cross-multiplied to
    * (Σ_month · n_cells) / (n_month_cells · Σ_all) so exactly ONE
    * double division happens per month row.
    */
  def seasonalIndex(spark: SparkSession, dir: String): DataFrame = {
    val d38: Column => Column = _.cast("decimal(38,0)")
    val cells = Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
      .agg(sum(floor(col("o_totalprice") * 100d + 0.5d).cast("long")).as("rev_e2"))
    val tot = cells.agg(count(lit(1)).as("n_cells"), sum(col("rev_e2")).as("tot_e2"))
    cells.groupBy("mo")
      .agg(count(lit(1)).as("n_years"), sum(col("rev_e2")).as("rev_e2"))
      .crossJoin(broadcast(tot))
      .select(col("mo"), col("n_years"), col("rev_e2"),
        floor((d38(col("rev_e2")) * d38(col("n_cells"))).cast("double")
          / (d38(col("n_years")) * d38(col("tot_e2"))).cast("double")
          * 1000000d + 0.5d).cast("long").as("index_e6"))
      .orderBy("mo")
  }

  val seasonalIndexOracle: String =
    """WITH c AS (SELECT EXTRACT(year FROM o_orderdate) AS yr,
      |                  EXTRACT(month FROM o_orderdate) AS mo,
      |                  SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS rev_e2
      |           FROM orders GROUP BY 1, 2),
      |t AS (SELECT COUNT(*) AS n_cells, SUM(rev_e2) AS tot_e2 FROM c)
      |SELECT CAST(mo AS INTEGER) AS mo, COUNT(*) AS n_years,
      |       CAST(SUM(rev_e2) AS BIGINT) AS rev_e2,
      |       CAST(floor(CAST(SUM(rev_e2) * t.n_cells AS DOUBLE)
      |            / CAST(COUNT(*) * t.tot_e2 AS DOUBLE)
      |            * 1000000 + 0.5) AS BIGINT) AS index_e6
      |FROM c, t GROUP BY mo, t.n_cells, t.tot_e2 ORDER BY mo""".stripMargin

  /** a44: quarterly ARPU — average revenue per ACTIVE customer per
    * (year, quarter), the board-deck unit-economics line: revenue is
    * exact e2; the denominator is the quarter's distinct active
    * customer count; ARPU is one exact nonneg integer DIV (cents per
    * customer). One orders pass; the distinct count is the only
    * shuffle-bearing aggregate.
    */
  def quarterlyArpu(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("yr"),
        quarter(col("o_orderdate")).as("qtr"))
      .agg(countDistinct(col("o_custkey")).as("n_active"),
        count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100d + 0.5d).cast("long")).as("rev_e2"))
      .select(col("yr"), col("qtr"), col("n_active"), col("n_orders"),
        col("rev_e2"), expr("rev_e2 DIV n_active").as("arpu_e2"))
      .orderBy("yr", "qtr")

  val quarterlyArpuOracle: String =
    """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS yr,
      |       CAST(EXTRACT(quarter FROM o_orderdate) AS INTEGER) AS qtr,
      |       COUNT(DISTINCT o_custkey) AS n_active,
      |       COUNT(*) AS n_orders,
      |       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      |         AS rev_e2,
      |       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
      |            // COUNT(DISTINCT o_custkey) AS BIGINT) AS arpu_e2
      |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** a45: single-changepoint detection on daily revenue — binary
    * segmentation's first split (the building block CUSUM (x173) flags
    * but never LOCATES): the day s* maximizing the between-segment sum
    * of squares, i.e. the exact arg-max of
    * (n·S_l − S·n_l)² / (n_l·n_r·n) over all prefix cuts — the
    * variance-decomposition identity makes one cumulative pass
    * sufficient. Exactness discipline: every cumulative/total is an
    * exact BIGINT (Σx² widened to DECIMAL(38,0) — day-cents squared
    * brush 2⁶³ at fleet scale), the between/SST statistics convert to
    * double ONCE each with pinned operation order, the arg-max
    * tie-breaks on day, and segment means are exact integer DIVs. The
    * fraction-of-variance-explained r2_e6 divides the two already-pinned
    * doubles and is null-guarded for a constant series (SST = 0 — the
    * abTest posture). Scale shape: the daily frame is calendar-bounded
    * metadata off the Layer-shared ONE orders pass (a33/a37/a38), so
    * the single-partition windows scan one row per day, never the fact.
    */
  def changepoint(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = dailyRevenue(spark, dir)
    val wCum = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = daily.agg(count(lit(1)).as("n_tot"),
      sum(col("cents")).as("s_tot"),
      sum(col("cents").cast("decimal(38,0)") * col("cents")).as("ss_tot"))
    val cum = daily.select(col("day"),
      sum(col("cents")).over(wCum).as("s_l"),
      row_number().over(Window.orderBy(col("day"))).cast("long").as("n_l"))
    val scored = cum.crossJoin(broadcast(tot))
      .filter(col("n_l") < col("n_tot"))
      .withColumn("n_r", col("n_tot") - col("n_l"))
      .withColumn("num", col("s_l") * col("n_tot") - col("s_tot") * col("n_l"))
      .withColumn("betw",
        (col("num").cast("double") * col("num").cast("double"))
          / (col("n_l").cast("double") * col("n_r").cast("double")
            * col("n_tot").cast("double")))
      .withColumn("sst",
        col("ss_tot").cast("double")
          - col("s_tot").cast("double") * col("s_tot").cast("double")
            / col("n_tot").cast("double"))
    scored
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("betw").desc, col("day"))))
      .filter(col("rnk") === 1)
      .select(col("day").as("split_day"),
        col("n_l").as("n_left"), col("n_r").as("n_right"),
        expr("s_l DIV n_l").as("mean_left_c"),
        expr("(s_tot - s_l) DIV n_r").as("mean_right_c"),
        when(col("sst") > 0d,
          floor(col("betw") / col("sst") * 1000000d + 0.5d).cast("long"))
          .as("r2_e6"))
  }

  val changepointOracle: String =
    """WITH daily AS (SELECT CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS day,
      |                      SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS cents
      |               FROM orders GROUP BY 1),
      |tot AS (SELECT COUNT(*) AS n_tot, SUM(cents) AS s_tot,
      |               SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS ss_tot FROM daily),
      |cum AS (SELECT day,
      |               SUM(cents) OVER (ORDER BY day) AS s_l,
      |               ROW_NUMBER() OVER (ORDER BY day) AS n_l
      |        FROM daily),
      |sc AS (SELECT c.day, CAST(c.s_l AS BIGINT) AS s_l, CAST(c.n_l AS BIGINT) AS n_l,
      |              CAST(t.n_tot - c.n_l AS BIGINT) AS n_r,
      |              CAST(t.n_tot AS BIGINT) AS n_tot, CAST(t.s_tot AS BIGINT) AS s_tot,
      |              t.ss_tot
      |       FROM cum c, tot t WHERE c.n_l < t.n_tot),
      |g AS (SELECT *, s_l * n_tot - s_tot * n_l AS num FROM sc),
      |g2 AS (SELECT *,
      |         (CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
      |           / (CAST(n_l AS DOUBLE) * CAST(n_r AS DOUBLE) * CAST(n_tot AS DOUBLE)) AS betw,
      |         CAST(ss_tot AS DOUBLE)
      |           - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / CAST(n_tot AS DOUBLE) AS sst
      |       FROM g),
      |r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY betw DESC, day) AS rnk FROM g2)
      |SELECT day AS split_day, n_l AS n_left, n_r AS n_right,
      |       CAST(s_l // n_l AS BIGINT) AS mean_left_c,
      |       CAST((s_tot - s_l) // n_r AS BIGINT) AS mean_right_c,
      |       CASE WHEN sst > 0 THEN CAST(floor(betw / sst * 1000000 + 0.5) AS BIGINT)
      |       END AS r2_e6
      |FROM r WHERE rnk = 1""".stripMargin

  /** a46: additive Holt–Winters (level + trend + weekly seasonal) over
    * daily revenue — the recursive-smoothing step up from x160's EWMA
    * and the forecasting closure of the a33/a37/a38/a45 daily family:
    * one pass of the classic triple recursion (α=0.2, β=0.1, γ=0.3,
    * zero-state init — deterministic, no fitting loop) over the
    * OBSERVED day sequence, seasonal slots keyed by calendar day-of-week
    * so gaps don't shift the season. The recursion is driver-side over
    * the collected calendar-bounded daily frame (the x149 aggregate-
    * boundary posture — one row per day, never the fact); the ORACLE
    * replays the identical recursion as a DuckDB recursive CTE over the
    * same day ranking, with every smoothing step a pinned-order IEEE
    * expression (cents are exact integers, so y is exact on both
    * sides). Output: one row — n_days, final level/trend, the 7
    * seasonal components, and the one-step-ahead forecast for the next
    * calendar day, all e4-floored once.
    */
  def holtWinters(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (alpha, beta, gamma) = (0.2d, 0.1d, 0.3d)
    val daily = dailyRevenue(spark, dir).orderBy("day").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var l = 0.0d
    var b = 0.0d
    val s = Array.fill(7)(0.0d)
    daily.foreach { case (day, cents) =>
      val y = cents.toDouble
      val slot = (day % 7).toInt
      val sPrev = s(slot)
      val l1 = alpha * (y - sPrev) + (1 - alpha) * (l + b)
      val b1 = beta * (l1 - l) + (1 - beta) * b
      s(slot) = gamma * (y - l1) + (1 - gamma) * sPrev
      l = l1
      b = b1
    }
    val lastDay = daily.last._1
    val f = l + b + s(((lastDay + 1) % 7).toInt)
    def e4(x: Double): Long = math.floor(x * 10000d + 0.5d).toLong
    Seq((daily.length.toLong, e4(l), e4(b),
      e4(s(0)), e4(s(1)), e4(s(2)), e4(s(3)), e4(s(4)), e4(s(5)), e4(s(6)),
      e4(f)))
      .toDF("n_days", "level_e4", "trend_e4", "s0_e4", "s1_e4", "s2_e4",
        "s3_e4", "s4_e4", "s5_e4", "s6_e4", "forecast_e4")
  }

  val holtWintersOracle: String =
    """WITH RECURSIVE
      |daily AS (SELECT CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS day,
      |                 SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS cents
      |          FROM orders GROUP BY 1),
      |r AS (SELECT day, cents, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily),
      |nn AS (SELECT COUNT(*) AS n FROM daily),
      |it AS (
      |  SELECT 0 AS k, CAST(0 AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b,
      |         [CAST(0 AS DOUBLE) for z in range(7)] AS s
      |  UNION ALL
      |  SELECT k + 1,
      |         0.2 * (CAST(r.cents AS DOUBLE) - s[CAST(r.day % 7 AS INT) + 1])
      |           + (1 - 0.2) * (l + b),
      |         0.1 * ((0.2 * (CAST(r.cents AS DOUBLE) - s[CAST(r.day % 7 AS INT) + 1])
      |                 + (1 - 0.2) * (l + b)) - l)
      |           + (1 - 0.1) * b,
      |         list_transform(range(0, 7), i ->
      |           CASE WHEN i = CAST(r.day % 7 AS INT)
      |                THEN 0.3 * (CAST(r.cents AS DOUBLE)
      |                       - (0.2 * (CAST(r.cents AS DOUBLE) - s[CAST(r.day % 7 AS INT) + 1])
      |                          + (1 - 0.2) * (l + b)))
      |                     + (1 - 0.3) * s[CAST(r.day % 7 AS INT) + 1]
      |                ELSE s[i + 1] END)
      |  FROM it JOIN r ON r.rn = it.k + 1),
      |fin AS (SELECT it.l, it.b, it.s FROM it, nn WHERE it.k = nn.n),
      |ld AS (SELECT MAX(day) AS last_day FROM daily)
      |SELECT CAST(nn.n AS BIGINT) AS n_days,
      |       CAST(floor(l * 10000 + 0.5) AS BIGINT) AS level_e4,
      |       CAST(floor(b * 10000 + 0.5) AS BIGINT) AS trend_e4,
      |       CAST(floor(s[1] * 10000 + 0.5) AS BIGINT) AS s0_e4,
      |       CAST(floor(s[2] * 10000 + 0.5) AS BIGINT) AS s1_e4,
      |       CAST(floor(s[3] * 10000 + 0.5) AS BIGINT) AS s2_e4,
      |       CAST(floor(s[4] * 10000 + 0.5) AS BIGINT) AS s3_e4,
      |       CAST(floor(s[5] * 10000 + 0.5) AS BIGINT) AS s4_e4,
      |       CAST(floor(s[6] * 10000 + 0.5) AS BIGINT) AS s5_e4,
      |       CAST(floor(s[7] * 10000 + 0.5) AS BIGINT) AS s6_e4,
      |       CAST(floor((l + b + s[CAST((ld.last_day + 1) % 7 AS INT) + 1])
      |            * 10000 + 0.5) AS BIGINT) AS forecast_e4
      |FROM fin, nn, ld""".stripMargin

  /** a47: price elasticity of demand per return-flag segment — the
    * log-log regression ε = d ln q / d ln p economists read lift tables
    * with, grouped like a34's OLS but on the economically meaningful
    * axes. Exactness is the x85 milli-nat discipline: ln(price), ln(qty)
    * quantize ONCE to integer milli-nats (floor(ln·10³+½) — the only
    * libm call, identical on both engines by the established ln
    * precedent), every moment after that is an exact BIGINT/DECIMAL
    * sum, and the slope's cross-multiplied numerator/denominator
    * convert to double once each. Per group also the mean log-price and
    * the implied revenue-elasticity flag (|ε| > 1 = elastic). One fact
    * scan, |groups|-row output.
    */
  def priceElasticity(spark: SparkSession, dir: String): DataFrame = {
    val d38: Column => Column = _.cast("decimal(38,0)")
    val g = Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("seg"),
        floor(log(col("l_extendedprice")) * 1000d + 0.5d).cast("long").as("x"),
        floor(log(col("l_quantity")) * 1000d + 0.5d).cast("long").as("y"))
      .groupBy("seg")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(d38(col("x")) * col("y")).as("sxy"),
        sum(d38(col("x")) * col("x")).as("sxx"))
    g.select(col("seg"), col("n"),
        ((d38(col("n")) * col("sxy") - d38(col("sx")) * col("sy")).cast("double")
          / (d38(col("n")) * col("sxx") - d38(col("sx")) * col("sx")).cast("double")))
      .toDF("seg", "n", "eps")
      .select(col("seg"), col("n"),
        floor(col("eps") * 1000000d + 0.5d).cast("long").as("elasticity_e6"),
        (abs(col("eps")) > 1d).as("elastic"))
      .orderBy("seg")
  }

  val priceElasticityOracle: String =
    """WITH g AS (SELECT l_returnflag AS seg,
      |                  CAST(floor(ln(l_extendedprice) * 1000 + 0.5) AS BIGINT) AS x,
      |                  CAST(floor(ln(l_quantity) * 1000 + 0.5) AS BIGINT) AS y
      |           FROM lineitem),
      |m AS (SELECT seg, COUNT(*) AS n,
      |             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
      |             SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
      |             SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx
      |      FROM g GROUP BY 1),
      |e AS (SELECT seg, n,
      |        CAST(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
      |          / CAST(CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
      |          AS eps
      |      FROM m)
      |SELECT seg, n,
      |       CAST(floor(eps * 1000000 + 0.5) AS BIGINT) AS elasticity_e6,
      |       abs(eps) > 1 AS elastic
      |FROM e ORDER BY seg""".stripMargin

  /** a48: rolling 7-day distinct active customers (the WAU metric) —
    * the windowed COUNT(DISTINCT) that does NOT decompose into sums, so
    * no prefix trick applies; the scale-correct shape is the OFFSET
    * EXPANSION: the (day, customer) presence grain (the only fact-sized
    * reduction) joins a 7-row offset range, re-distincts at the (window
    * day, customer) grain, and counts — 7× the presence grain, linear,
    * no window function at all (the window-function formulation cannot
    * express DISTINCT over a frame anyway). Exact integers end to end.
    */
  def rollingWau(spark: SparkSession, dir: String): DataFrame = {
    val pres = Tables.orders(spark, dir)
      .select(floor(unix_micros(col("o_orderdate")) / 86400000000L)
        .cast("long").as("day"), col("o_custkey")).distinct()
    val span = pres.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val offs = spark.range(0, 7).select(col("id").as("off"))
    pres.crossJoin(broadcast(offs))
      .select((col("day") + col("off")).as("wday"), col("o_custkey"))
      .distinct()
      .groupBy("wday").agg(countDistinct(col("o_custkey")).as("wau"))
      .crossJoin(broadcast(span))
      .filter(col("wday") >= col("lo") + 6L && col("wday") <= col("hi"))
      .select(col("wday").as("day"), col("wau"))
      .orderBy("day")
  }

  /** a49: difference-in-differences estimator per market segment — the
    * workhorse quasi-experimental design: for each segment (the "treated"
    * group), DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre) with the
    * control C = every OTHER segment, periods split at 1995-01-01, and y =
    * order totalprice. The control cells are NOT a second scan: global
    * pre/post sums aggregate once and each segment's control is the exact
    * DECIMAL difference total − treated. All eight cell moments are exact
    * (DECIMAL sums, BIGINT counts); each of the four means converts to
    * double once (sum/count, identical op on both engines), and the DiD is
    * the pinned four-term double expression, e4-quantized half-up. One
    * fact scan + one dim join, |segments| rows out.
    */
  def diffInDiff(spark: SparkSession, dir: String): DataFrame = {
    // 1998-01-01T00:00Z in micros (mid-span of the generator's 1995–2001
    // order dates) — the same epoch arithmetic the other date-keyed
    // queries use (timestamp[us] column, TZ-free on both engines)
    val cutUs = 883612800000000L
    val o = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir).select(
        col("c_custkey"), col("c_mktsegment").as("seg")),
        col("o_custkey") === col("c_custkey"))
      .select(col("seg"), col("o_totalprice").cast("decimal(12,2)").as("y"),
        (unix_micros(col("o_orderdate")) < cutUs).as("pre"))
    val per = o.groupBy("seg").agg(
      sum(when(col("pre"), col("y"))).as("s_pre_t"),
      count(when(col("pre"), lit(1))).as("n_pre_t"),
      sum(when(!col("pre"), col("y"))).as("s_post_t"),
      count(when(!col("pre"), lit(1))).as("n_post_t"))
    val tot = o.agg(
      sum(when(col("pre"), col("y"))).as("s_pre"),
      count(when(col("pre"), lit(1))).as("n_pre"),
      sum(when(!col("pre"), col("y"))).as("s_post"),
      count(when(!col("pre"), lit(1))).as("n_post"))
    per.crossJoin(broadcast(tot))
      .select(col("seg"), col("n_pre_t"), col("n_post_t"),
        (col("s_post_t").cast("double") / col("n_post_t")
          - col("s_pre_t").cast("double") / col("n_pre_t")
          - ((col("s_post") - col("s_post_t")).cast("double")
              / (col("n_post") - col("n_post_t"))
            - (col("s_pre") - col("s_pre_t")).cast("double")
              / (col("n_pre") - col("n_pre_t")))).as("did"))
      .filter(col("n_pre_t") > 0L && col("n_post_t") > 0L)
      .select(col("seg"), col("n_pre_t"), col("n_post_t"),
        floor(col("did") * 10000d + 0.5d).cast("long").as("did_e4"))
      .orderBy("seg")
  }

  val diffInDiffOracle: String =
    """WITH o AS (SELECT c_mktsegment AS seg,
      |                  CAST(o_totalprice AS DECIMAL(12,2)) AS y,
      |                  epoch_us(o_orderdate) < 883612800000000 AS pre
      |           FROM orders JOIN customer ON o_custkey = c_custkey),
      |per AS (SELECT seg,
      |               SUM(CASE WHEN pre THEN y END) AS s_pre_t,
      |               COUNT(CASE WHEN pre THEN 1 END) AS n_pre_t,
      |               SUM(CASE WHEN NOT pre THEN y END) AS s_post_t,
      |               COUNT(CASE WHEN NOT pre THEN 1 END) AS n_post_t
      |        FROM o GROUP BY 1),
      |tot AS (SELECT SUM(CASE WHEN pre THEN y END) AS s_pre,
      |               COUNT(CASE WHEN pre THEN 1 END) AS n_pre,
      |               SUM(CASE WHEN NOT pre THEN y END) AS s_post,
      |               COUNT(CASE WHEN NOT pre THEN 1 END) AS n_post
      |        FROM o),
      |d AS (SELECT seg, n_pre_t, n_post_t,
      |             CAST(s_post_t AS DOUBLE) / n_post_t
      |               - CAST(s_pre_t AS DOUBLE) / n_pre_t
      |               - (CAST(s_post - s_post_t AS DOUBLE) / (n_post - n_post_t)
      |                  - CAST(s_pre - s_pre_t AS DOUBLE) / (n_pre - n_pre_t)) AS did
      |      FROM per, tot
      |      WHERE n_pre_t > 0 AND n_post_t > 0)
      |SELECT seg, n_pre_t, n_post_t,
      |       CAST(floor(did * 10000 + 0.5) AS BIGINT) AS did_e4
      |FROM d ORDER BY seg""".stripMargin

  val rollingWauOracle: String =
    """WITH pres AS (SELECT DISTINCT
      |                CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS day,
      |                o_custkey
      |              FROM orders),
      |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM pres),
      |w AS (SELECT p.day + o.off AS wday, p.o_custkey
      |      FROM pres p CROSS JOIN (SELECT unnest(range(0, 7)) AS off) o)
      |SELECT wday AS day, COUNT(DISTINCT o_custkey) AS wau
      |FROM w, span
      |WHERE wday >= lo + 6 AND wday <= hi
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** x239: EXACT isotonic regression of the daily conversion rate on
    * time, via the minimax characterization f(i) = max_{j≤i} min_{k≥i}
    * avg(j..k) (Barlow et al. 1972) — algebraically identical to PAVA's
    * pool-adjacent-violators fit but with NO sequential pooling, so the
    * whole fit is three window/aggregate passes any engine can run
    * declaratively (m06's spark.ml isotonic is rows-only because PAVA's
    * driver recursion isn't SQL-expressible; THIS form is, which moves
    * the isotonic family onto the hash-checked path). Monotone-rate
    * calibration over time is the drift-aware view of m03/m06's
    * score-calibration.
    *
    * Exactness: every block average (C_k − C_{j−1})/(U_k − U_{j−1}) is
    * ONE double division of exact integer prefix sums; the suffix-min /
    * prefix-max passes compare those doubles bit-identically in both
    * engines; e9 quantization happens once at the end. Scale shape: the
    * fact reduces to the day grain immediately; the O(n²) pair frame and
    * its windows live on the CALENDAR-bounded series (the a37/a38
    * argument — n grows with days, not corpus).
    */
  def isotonicExact(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .groupBy(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      .groupBy("day").agg(count(lit(1)).as("u"), sum(col("y")).as("c"))
    val wCum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    val pre = daily
      .withColumn("i", row_number().over(Window.orderBy("day")))
      .withColumn("ci", sum(col("c")).over(wCum))
      .withColumn("ui", sum(col("u")).over(wCum))
      .select(col("i"), col("day"), col("u"), col("c"),
        col("ci"), col("ui"),
        (col("ci") - col("c")).as("cprev"), (col("ui") - col("u")).as("uprev"))
    val pairs = pre.select(col("i").as("j"), col("cprev"), col("uprev"))
      .join(pre.select(col("i").as("k"), col("ci"), col("ui")),
        col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("ci") - col("cprev")).cast("double")
          / (col("ui") - col("uprev")).cast("double")).as("a"))
    val sfx = pairs.withColumn("minavg",
      min(col("a")).over(Window.partitionBy("j").orderBy(col("k").desc)
        .rowsBetween(Window.unboundedPreceding, 0)))
    val iso = sfx.groupBy(col("k").as("i")).agg(max(col("minavg")).as("f"))
    pre.join(iso, "i")
      .select(col("day"), col("u").as("n_users"), col("c").as("conversions"),
        floor(col("c").cast("double") / col("u").cast("double")
          * 1000000000d + 0.5d).cast("long").as("rate_e9"),
        floor(col("f") * 1000000000d + 0.5d).cast("long").as("iso_e9"))
      .orderBy("day")
  }

  val isotonicExactOracle: String =
    """WITH ud AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      |            FROM events GROUP BY 1, 2),
      |d AS (SELECT day, COUNT(*) AS u, CAST(SUM(y) AS BIGINT) AS c
      |      FROM ud GROUP BY 1),
      |pre AS (SELECT day, u, c,
      |               row_number() OVER (ORDER BY day) AS i,
      |               CAST(SUM(c) OVER (ORDER BY day) AS BIGINT) AS ci,
      |               CAST(SUM(u) OVER (ORDER BY day) AS BIGINT) AS ui
      |        FROM d),
      |pairs AS (SELECT j.i AS j, k.i AS k,
      |                 CAST(k.ci - (j.ci - j.c) AS DOUBLE)
      |                   / CAST(k.ui - (j.ui - j.u) AS DOUBLE) AS a
      |          FROM pre j JOIN pre k ON j.i <= k.i),
      |sfx AS (SELECT j, k,
      |               MIN(a) OVER (PARTITION BY j ORDER BY k DESC
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS minavg
      |        FROM pairs),
      |iso AS (SELECT k AS i, MAX(minavg) AS f FROM sfx GROUP BY 1)
      |SELECT pre.day, pre.u AS n_users, pre.c AS conversions,
      |       CAST(floor(CAST(pre.c AS DOUBLE) / CAST(pre.u AS DOUBLE)
      |         * 1000000000 + 0.5) AS BIGINT) AS rate_e9,
      |       CAST(floor(f * 1000000000 + 0.5) AS BIGINT) AS iso_e9
      |FROM pre JOIN iso ON iso.i = pre.i
      |ORDER BY pre.day""".stripMargin

  /** x240: rolling-origin forecast backtest (Tashman 2000's evaluation
    * protocol) — the harness that KEEPS a forecaster honest: for every
    * origin and horizon h ∈ 1..7, compare what each baseline would have
    * predicted (naive = last value at origin; seasonal-naive = value one
    * week back; drift = last value + h × average historical slope)
    * against the realized daily revenue, and report per-(model, horizon)
    * MAE — the backtest grid a46's Holt–Winters must beat to earn its
    * keep.
    *
    * Exactness: the series is integer cents on the rank axis; naive and
    * seasonal-naive errors are exact integer differences; the drift
    * forecast's one double expression rounds to the cents grid BEFORE
    * the error, so every |error| that enters a sum is an exact BIGINT
    * and MAE is one final division. Scale shape: calendar-bounded series
    * (~2.4k rows), 7 horizons × 3 models of window-free self-joins on
    * the rank axis.
    */
  def backtestNaive(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val s = dailyRevenue(spark, dir)
      .withColumn("i", row_number().over(Window.orderBy("day")).cast("long"))
      .select(col("i"), col("cents"))
    val y1 = s.filter(col("i") === 1L).select(col("cents").as("y1"))
    val h = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("h")
    val f = s.crossJoin(h)
      .join(s.select(col("i").as("oi"), col("cents").as("yo")),
        col("oi") === col("i") - col("h"))
      .join(s.select(col("i").as("si"), col("cents").as("ys")),
        col("si") === col("i") - lit(7L), "left_outer")
      .crossJoin(broadcast(y1))
    val drift = col("yo").cast("double") +
      col("h").cast("double") * ((col("yo") - col("y1")).cast("double")
        / (col("oi") - lit(1L)).cast("double"))
    val errs = f.select(col("h"),
        abs(col("cents") - col("yo")).as("e_naive"),
        when(col("ys").isNotNull, abs(col("cents") - col("ys"))).as("e_snaive"),
        when(col("oi") >= 2L,
          abs(col("cents") - floor(drift + 0.5d).cast("long"))).as("e_drift"))
    Seq(("naive", "e_naive"), ("snaive", "e_snaive"), ("drift", "e_drift"))
      .map { case (m, c) =>
        errs.filter(col(c).isNotNull).groupBy("h")
          .agg(count(lit(1)).as("n"), sum(col(c)).as("sum_abs"))
          .select(lit(m).as("model"), col("h"), col("n"), col("sum_abs"))
      }.reduce(_ unionAll _)
      .select(col("model"), col("h"), col("n"), col("sum_abs"),
        floor(col("sum_abs").cast("double") / col("n").cast("double") + 0.5d)
          .cast("long").as("mae_cents"))
      .orderBy("model", "h")
  }

  val backtestOracle: String =
    """WITH daily AS (SELECT CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS day,
      |                      CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      |               FROM orders GROUP BY 1),
      |s AS (SELECT row_number() OVER (ORDER BY day) AS i, cents FROM daily),
      |y1 AS (SELECT cents AS y1 FROM s WHERE i = 1),
      |h AS (SELECT unnest(range(1, 8)) AS h),
      |f AS (SELECT s.i, s.cents, h.h, o.cents AS yo, o.i AS oi, sn.cents AS ys, y1.y1
      |      FROM s CROSS JOIN h
      |      JOIN s o ON o.i = s.i - h.h
      |      LEFT JOIN s sn ON sn.i = s.i - 7
      |      CROSS JOIN y1),
      |e AS (SELECT h,
      |             abs(cents - yo) AS e_naive,
      |             CASE WHEN ys IS NOT NULL THEN abs(cents - ys) END AS e_snaive,
      |             CASE WHEN oi >= 2 THEN
      |               abs(cents - CAST(floor(CAST(yo AS DOUBLE)
      |                 + CAST(h AS DOUBLE) * (CAST(yo - y1 AS DOUBLE)
      |                   / CAST(oi - 1 AS DOUBLE)) + 0.5) AS BIGINT)) END AS e_drift
      |      FROM f),
      |u AS (SELECT 'naive' AS model, h, COUNT(*) AS n,
      |             CAST(SUM(e_naive) AS BIGINT) AS sum_abs
      |      FROM e WHERE e_naive IS NOT NULL GROUP BY 2
      |      UNION ALL
      |      SELECT 'snaive', h, COUNT(*), CAST(SUM(e_snaive) AS BIGINT)
      |      FROM e WHERE e_snaive IS NOT NULL GROUP BY 2
      |      UNION ALL
      |      SELECT 'drift', h, COUNT(*), CAST(SUM(e_drift) AS BIGINT)
      |      FROM e WHERE e_drift IS NOT NULL GROUP BY 2)
      |SELECT model, CAST(h AS BIGINT) AS h, n, sum_abs,
      |       CAST(floor(CAST(sum_abs AS DOUBLE) / CAST(n AS DOUBLE) + 0.5)
      |         AS BIGINT) AS mae_cents
      |FROM u ORDER BY model, h""".stripMargin

  /** x243: split-conformal prediction interval (Vovk 2005; Lei et al.
    * 2018's split recipe) for the x240 seasonal-naive forecaster — the
    * DISTRIBUTION-FREE interval that turns any point forecast into a
    * calibrated band: nonconformity scores |y − ŷ| on a calibration
    * window, the conformal quantile is the ⌈(n_cal+1)(1−α)⌉-th smallest
    * score (α = 0.1), and marginal coverage ≥ 90% holds by
    * exchangeability alone — no Gaussian residual assumption, which is
    * exactly what a revenue series violates.
    *
    * Exactness: scores are exact integer cents; the conformal rank is
    * integer arithmetic ⌈9(n+1)/10⌉; the quantile is a k-th ORDER
    * STATISTIC (not an interpolated percentile), selected identically in
    * both engines; coverage is an integer count ratio e6-floored once.
    * Scale shape: calendar-bounded series; n_cal is one control-plane
    * count; the order statistic is a sort-limit on the tiny calibration
    * frame.
    */
  def conformalInterval(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = dailyRevenue(spark, dir)
      .withColumn("i", row_number().over(Window.orderBy("day")).cast("long"))
      .select(col("i"), col("cents"))
    val scored = s.join(s.select((col("i") + 7L).as("i"), col("cents").as("yhat")), "i")
      .select(col("i"), abs(col("cents") - col("yhat")).as("score"))
    val nFc = scored.count()                     // control-plane scalar
    val nCal = nFc * 6L / 10L
    val k = (9L * (nCal + 1L) + 9L) / 10L        // ⌈0.9·(n_cal+1)⌉
    val cal = scored.filter(col("i") <= lit(7L + nCal))
    val q = cal.orderBy("score").limit(k.toInt).agg(max(col("score")).as("q"))
    val eval = scored.filter(col("i") > lit(7L + nCal))
    eval.crossJoin(broadcast(q))
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("score") <= col("q"), 1L).otherwise(0L)).as("covered"),
        max(col("q")).as("q_cents"))
      .select(lit(nCal).as("n_cal"), lit(k).as("k"), col("q_cents"),
        col("n_eval"), col("covered"),
        floor(col("covered").cast("double") / col("n_eval").cast("double")
          * 1000000d + 0.5d).cast("long").as("coverage_e6"))
  }

  val conformalOracle: String =
    """WITH daily AS (SELECT CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS day,
      |                      CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      |               FROM orders GROUP BY 1),
      |s AS (SELECT row_number() OVER (ORDER BY day) AS i, cents FROM daily),
      |sc AS (SELECT s.i, abs(s.cents - p.cents) AS score
      |       FROM s JOIN s p ON p.i = s.i - 7),
      |n AS (SELECT COUNT(*) AS n_fc, COUNT(*) * 6 // 10 AS n_cal,
      |             (9 * (COUNT(*) * 6 // 10 + 1) + 9) // 10 AS k
      |      FROM sc),
      |cal AS (SELECT score FROM sc, n WHERE i <= 7 + n_cal),
      |q AS (SELECT MAX(score) AS q_cents
      |      FROM (SELECT score FROM cal ORDER BY score LIMIT (SELECT k FROM n))),
      |ev AS (SELECT COUNT(*) AS n_eval,
      |              CAST(SUM(CASE WHEN score <= q_cents THEN 1 ELSE 0 END) AS BIGINT)
      |                AS covered
      |       FROM sc, n, q WHERE i > 7 + n_cal)
      |SELECT CAST(n_cal AS BIGINT) AS n_cal, CAST(k AS BIGINT) AS k,
      |       q_cents, n_eval, covered,
      |       CAST(floor(CAST(covered AS DOUBLE) / CAST(n_eval AS DOUBLE)
      |         * 1000000 + 0.5) AS BIGINT) AS coverage_e6
      |FROM ev, n, q""".stripMargin

  /** x248: Kendall's τ-b (Kendall 1945, tie-corrected) between daily
    * revenue and daily ordering-customer count — the rank-concordance
    * complement to a41's Spearman (τ counts PAIRWISE order agreements,
    * so it is the U-statistic with the direct "probability a random day
    * pair moves together" reading, and τ-b repairs both-margin ties
    * where a42's Mann–Kendall S assumes none on the x-axis):
    *
    *   τ_b = (n_c − n_d) / √((n₀ − t_x)(n₀ − t_y)),  n₀ = n(n−1)/2.
    *
    * Exactness: every pair classifies by INTEGER sign comparisons
    * (concordant / discordant / x-tie / y-tie / both-tie — a partition,
    * asserted in the law), all five counts are exact BIGINTs from one
    * calendar-bounded O(n²) pair join (the x239/a38 argument), and τ_b
    * is one final pinned expression with a single √.
    */
  def kendallTau(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.orders(spark, dir)
      .groupBy(floor(unix_micros(col("o_orderdate")) / 86400000000L)
        .cast("long").as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("x"),
        countDistinct(col("o_custkey")).as("y"))
    val s = daily.withColumn("i", row_number().over(Window.orderBy("day")))
    val p = s.select(col("i").as("ia"), col("x").as("xa"), col("y").as("ya"))
      .join(s.select(col("i").as("ib"), col("x").as("xb"), col("y").as("yb")),
        col("ia") < col("ib"))
    val dx = col("xa") - col("xb")
    val dy = col("ya") - col("yb")
    val cls = p.select(
      when(dx =!= 0L && dy =!= 0L && (dx > 0L) === (dy > 0L), 1L)
        .otherwise(0L).as("nc"),
      when(dx =!= 0L && dy =!= 0L && (dx > 0L) =!= (dy > 0L), 1L)
        .otherwise(0L).as("nd"),
      when(dx === 0L && dy =!= 0L, 1L).otherwise(0L).as("tx"),
      when(dx =!= 0L && dy === 0L, 1L).otherwise(0L).as("ty"),
      when(dx === 0L && dy === 0L, 1L).otherwise(0L).as("txy"))
    val a = cls.agg(sum(col("nc")).as("nc"), sum(col("nd")).as("nd"),
      sum(col("tx")).as("tx"), sum(col("ty")).as("ty"),
      sum(col("txy")).as("txy"),
      count(lit(1)).as("n0"))
    val d: Column => Column = _.cast("double")
    val denom = sqrt(d(col("n0") - col("tx") - col("txy"))
      * d(col("n0") - col("ty") - col("txy")))
    a.select(col("n0"), col("nc"), col("nd"), col("tx"), col("ty"), col("txy"),
      when(denom > lit(0.0d),
        floor(d(col("nc") - col("nd")) / denom * 1000000d + 0.5d)
          .cast("long")).as("tau_b_e6"))
  }

  val kendallOracle: String =
    """WITH daily AS (SELECT CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS day,
      |                      CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS x,
      |                      COUNT(DISTINCT o_custkey) AS y
      |               FROM orders GROUP BY 1),
      |s AS (SELECT row_number() OVER (ORDER BY day) AS i, x, y FROM daily),
      |p AS (SELECT a.x - b.x AS dx, a.y - b.y AS dy
      |      FROM s a JOIN s b ON a.i < b.i),
      |c AS (SELECT
      |        CAST(SUM(CASE WHEN dx <> 0 AND dy <> 0
      |                      AND (dx > 0) = (dy > 0) THEN 1 ELSE 0 END) AS BIGINT) AS nc,
      |        CAST(SUM(CASE WHEN dx <> 0 AND dy <> 0
      |                      AND (dx > 0) <> (dy > 0) THEN 1 ELSE 0 END) AS BIGINT) AS nd,
      |        CAST(SUM(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
      |        CAST(SUM(CASE WHEN dx <> 0 AND dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty,
      |        CAST(SUM(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS txy,
      |        COUNT(*) AS n0
      |      FROM p)
      |SELECT n0, nc, nd, tx, ty, txy,
      |       CASE WHEN sqrt(CAST(n0 - tx - txy AS DOUBLE)
      |                      * CAST(n0 - ty - txy AS DOUBLE)) > 0.0 THEN
      |         CAST(floor(CAST(nc - nd AS DOUBLE)
      |           / sqrt(CAST(n0 - tx - txy AS DOUBLE)
      |                  * CAST(n0 - ty - txy AS DOUBLE))
      |           * 1000000 + 0.5) AS BIGINT) END AS tau_b_e6
      |FROM c""".stripMargin

  /** x249: two-proportion power / sample-size calculator — the DESIGN
    * side of the experimentation toolkit (x201 tests, x226 stops, x238
    * allocates, x237 sizes the variance, x245 adjusts; this answers
    * "how long must the NEXT test run"): with the observed arm rates as
    * the planning effect, the per-arm requirement at α = .05 two-sided,
    * power = .8 is n = (z_{α/2}+z_β)²·(p₁q₁+p₂q₂)/Δ², and the dual MDE
    * at the CURRENT size is Δ_min = (z_{α/2}+z_β)·√((p₁q₁+p₂q₂)/n).
    *
    * The z constants are spelled as identical full-precision literals in
    * both engines (the x226 quantize-constants-once posture); the rates
    * are single divisions of exact arm counts; each output is ONE pinned
    * expression (ceil for the integer n). One fact-sized user aggregate.
    */
  def powerCalc(spark: SparkSession, dir: String): DataFrame = {
    // (user, day) units — the x226/x227/x237 experimentation grain (the
    // user-lifetime grain is saturated on this corpus: everyone
    // eventually purchases, so Δ would be degenerate zero)
    val users = Tables.events(spark, dir)
      .groupBy(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      .select((col("user_id") % 2).as("arm"), col("y"))
    val g = users.agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n1"),
      sum(when(col("arm") === 0, col("y"))).as("c1"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n2"),
      sum(when(col("arm") === 1, col("y"))).as("c2"))
    val z = lit(1.9599639845400545d) + lit(0.8416212335729143d)
    val d: Column => Column = _.cast("double")
    val p1 = d(col("c1")) / d(col("n1"))
    val p2 = d(col("c2")) / d(col("n2"))
    val varSum = p1 * (lit(1.0d) - p1) + p2 * (lit(1.0d) - p2)
    val delta = p1 - p2
    g.select(col("n1"), col("c1"), col("n2"), col("c2"),
      floor(p1 * 1000000d + 0.5d).cast("long").as("p1_e6"),
      floor(p2 * 1000000d + 0.5d).cast("long").as("p2_e6"),
      floor(delta * 1000000d + 0.5d).cast("long").as("delta_e6"),
      when(delta =!= lit(0.0d),
        ceil(z * z * varSum / (delta * delta)).cast("long")).as("n_required"),
      floor(z * sqrt(varSum / d(least(col("n1"), col("n2"))))
        * 1000000d + 0.5d).cast("long").as("mde_e6"))
  }

  val powerOracle: String =
    """WITH u AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |                  MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      |           FROM events GROUP BY 1, 2),
      |g AS (SELECT
      |        CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |        CAST(SUM(CASE WHEN user_id % 2 = 0 THEN y END) AS BIGINT) AS c1,
      |        CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |        CAST(SUM(CASE WHEN user_id % 2 = 1 THEN y END) AS BIGINT) AS c2
      |      FROM u),
      |e AS (SELECT *,
      |        CAST(1.9599639845400545 AS DOUBLE)
      |          + CAST(0.8416212335729143 AS DOUBLE) AS z,
      |        CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS p1,
      |        CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS p2
      |      FROM g),
      |v AS (SELECT *, p1 * (1.0 - p1) + p2 * (1.0 - p2) AS vs, p1 - p2 AS dl
      |      FROM e)
      |SELECT n1, c1, n2, c2,
      |       CAST(floor(p1 * 1000000 + 0.5) AS BIGINT) AS p1_e6,
      |       CAST(floor(p2 * 1000000 + 0.5) AS BIGINT) AS p2_e6,
      |       CAST(floor(dl * 1000000 + 0.5) AS BIGINT) AS delta_e6,
      |       CASE WHEN dl <> 0.0 THEN
      |         CAST(ceil(z * z * vs / (dl * dl)) AS BIGINT) END AS n_required,
      |       CAST(floor(z * sqrt(vs / CAST(LEAST(n1, n2) AS DOUBLE))
      |         * 1000000 + 0.5) AS BIGINT) AS mde_e6
      |FROM v""".stripMargin

  /** x250: first-order partial correlation of daily revenue and buyer
    * count CONTROLLING for order volume — the "is the correlation real
    * or just both riding the same driver" adjuster:
    *
    *   r_xy·z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²)).
    *
    * Each pairwise r follows the a41/a34 exact-moment discipline: all
    * nine sums of DECIMAL(38,0) cross-products (≡ DuckDB HUGEINT) are
    * exact integers off ONE pass over the calendar-bounded day series;
    * each r converts to double in the pinned num/√A/√B spelling, and the
    * partial is one final pinned expression (degenerate |r| = 1 controls
    * → null). All three raw r's are emitted beside the partial, so the
    * adjustment itself is visible and hash-checked.
    */
  def partialCorr(spark: SparkSession, dir: String): DataFrame = {
    val d38: Column => Column = _.cast("decimal(38,0)")
    val daily = Tables.orders(spark, dir)
      .groupBy(floor(unix_micros(col("o_orderdate")) / 86400000000L)
        .cast("long").as("day"))
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("x"),
        countDistinct(col("o_custkey")).as("y"),
        count(lit(1)).as("z"))
    val s = daily.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"), sum(col("z")).as("sz"),
      sum(d38(col("x")) * d38(col("x"))).as("sxx"),
      sum(d38(col("y")) * d38(col("y"))).as("syy"),
      sum(d38(col("z")) * d38(col("z"))).as("szz"),
      sum(d38(col("x")) * d38(col("y"))).as("sxy"),
      sum(d38(col("x")) * d38(col("z"))).as("sxz"),
      sum(d38(col("y")) * d38(col("z"))).as("syz"))
    def r(ab: String, a: String, b: String, aa: String, bb: String): Column =
      (d38(col("n")) * col(ab) - d38(col(s"s$a")) * d38(col(s"s$b"))).cast("double") /
        sqrt((d38(col("n")) * col(aa) - d38(col(s"s$a")) * d38(col(s"s$a")))
          .cast("double")) /
        sqrt((d38(col("n")) * col(bb) - d38(col(s"s$b")) * d38(col(s"s$b")))
          .cast("double"))
    val rxy = r("sxy", "x", "y", "sxx", "syy")
    val rxz = r("sxz", "x", "z", "sxx", "szz")
    val ryz = r("syz", "y", "z", "syy", "szz")
    val part = (rxy - rxz * ryz) /
      sqrt((lit(1.0d) - rxz * rxz) * (lit(1.0d) - ryz * ryz))
    s.select(col("n"),
      floor(rxy * 1000000d + 0.5d).cast("long").as("r_xy_e6"),
      floor(rxz * 1000000d + 0.5d).cast("long").as("r_xz_e6"),
      floor(ryz * 1000000d + 0.5d).cast("long").as("r_yz_e6"),
      when((lit(1.0d) - rxz * rxz) * (lit(1.0d) - ryz * ryz) > lit(0.0d),
        floor(part * 1000000d + 0.5d).cast("long")).as("r_xy_given_z_e6"))
  }

  val partialCorrOracle: String =
    """WITH daily AS (SELECT CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS day,
      |                      CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS x,
      |                      COUNT(DISTINCT o_custkey) AS y,
      |                      COUNT(*) AS z
      |               FROM orders GROUP BY 1),
      |s AS (SELECT COUNT(*) AS n,
      |             CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |             CAST(SUM(z) AS HUGEINT) AS sz,
      |             SUM(CAST(x AS HUGEINT) * x) AS sxx,
      |             SUM(CAST(y AS HUGEINT) * y) AS syy,
      |             SUM(CAST(z AS HUGEINT) * z) AS szz,
      |             SUM(CAST(x AS HUGEINT) * y) AS sxy,
      |             SUM(CAST(x AS HUGEINT) * z) AS sxz,
      |             SUM(CAST(y AS HUGEINT) * z) AS syz
      |      FROM daily),
      |r AS (SELECT n,
      |        CAST(n * sxy - sx * sy AS DOUBLE)
      |          / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |          / sqrt(CAST(n * syy - sy * sy AS DOUBLE)) AS rxy,
      |        CAST(n * sxz - sx * sz AS DOUBLE)
      |          / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |          / sqrt(CAST(n * szz - sz * sz AS DOUBLE)) AS rxz,
      |        CAST(n * syz - sy * sz AS DOUBLE)
      |          / sqrt(CAST(n * syy - sy * sy AS DOUBLE))
      |          / sqrt(CAST(n * szz - sz * sz AS DOUBLE)) AS ryz
      |      FROM s)
      |SELECT CAST(n AS BIGINT) AS n,
      |       CAST(floor(rxy * 1000000 + 0.5) AS BIGINT) AS r_xy_e6,
      |       CAST(floor(rxz * 1000000 + 0.5) AS BIGINT) AS r_xz_e6,
      |       CAST(floor(ryz * 1000000 + 0.5) AS BIGINT) AS r_yz_e6,
      |       CASE WHEN (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0.0 THEN
      |         CAST(floor((rxy - rxz * ryz)
      |           / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))
      |           * 1000000 + 0.5) AS BIGINT) END AS r_xy_given_z_e6
      |FROM r""".stripMargin

  /** x256: empirical-Bayes beta-binomial shrinkage of per-brand return
    * rates (Robbins 1956; the "funnel plot killer"): a brand with 3
    * returns in 7 lineitems must not outrank one with 300 in 1000, so
    * every brand's raw rate x/n is pulled toward the cross-brand prior
    * Beta(α, β), fitted by method of moments from the observed rates
    * themselves — α+β is the prior pseudo-count, and the posterior mean
    * (x + α)/(n + α + β) is the ranking-safe estimate. The same machinery
    * ranks sellers, flags SKUs, and calibrates CTRs at 100 TB.
    *
    * Exactness: per-brand rates enter the moment fit as the exact
    * integers (x·10⁹) DIV n; the cross-brand mean and sample variance are
    * assembled from DECIMAL(38,0) sums of those integers (≡ HUGEINT) and
    * convert to double ONCE in pinned order; α, β, and each posterior
    * mean are single pinned expressions floored once at e6 (degenerate
    * fits — zero variance or non-positive prior strength — null out, the
    * abTest posture). Scale: one fact pass (broadcast part dim) to
    * |brands| rows; the prior fit is a one-row broadcast.
    */
  def ebShrinkage(spark: SparkSession, dir: String): DataFrame = {
    val d38: Column => Column = _.cast("decimal(38,0)")
    val brands = Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)
        .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("x"))
      // widen BEFORE the e9 scale-up: x·10⁹ would wrap BIGINT past ~9·10⁹
      // returns per brand — well inside 100 TB territory
      .withColumn("r_e9",
        expr("(CAST(x AS DECIMAL(38,0)) * 1000000000) DIV n"))
    val prior = brands.agg(count(lit(1)).as("b"),
      sum(col("r_e9")).as("s1"),
      sum(d38(col("r_e9")) * d38(col("r_e9"))).as("s2"))
    val m = col("s1").cast("double") / col("b").cast("double") / lit(1.0e9d)
    val vNum = (d38(col("b")) * col("s2") - d38(col("s1")) * d38(col("s1")))
      .cast("double")
    val v = vNum / col("b").cast("double") / (col("b") - 1L).cast("double") /
      lit(1.0e18d)
    val strength = m * (lit(1.0d) - m) / v - lit(1.0d)
    val withPrior = brands.crossJoin(broadcast(prior
      .select(col("b"),
        when(vNum > 0d && strength > 0d, m).as("m"),
        when(vNum > 0d && strength > 0d, strength).as("s"))))
    withPrior.select(col("p_brand"), col("n"), col("x"),
        expr("CAST((CAST(x AS DECIMAL(38,0)) * 1000000) DIV n AS BIGINT)")
          .as("rate_e6"),
        floor(col("m") * col("s") * 1000000d + 0.5d).cast("long").as("alpha_e6"),
        floor((lit(1.0d) - col("m")) * col("s") * 1000000d + 0.5d)
          .cast("long").as("beta_e6"),
        floor((col("x").cast("double") + col("m") * col("s"))
          / (col("n").cast("double") + col("s")) * 1000000d + 0.5d)
          .cast("long").as("shrunk_e6"))
      .orderBy("p_brand")
  }

  val ebShrinkageOracle: String =
    """WITH br AS (SELECT p_brand, COUNT(*) AS n,
      |                   CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
      |                     AS BIGINT) AS x
      |            FROM lineitem JOIN part ON p_partkey = l_partkey
      |            GROUP BY 1),
      |r AS (SELECT p_brand, n, x,
      |             CAST((CAST(x AS HUGEINT) * 1000000000) // n AS BIGINT) AS r_e9
      |      FROM br),
      |pr AS (SELECT COUNT(*) AS b, CAST(SUM(r_e9) AS BIGINT) AS s1,
      |              SUM(CAST(r_e9 AS HUGEINT) * r_e9) AS s2
      |       FROM r),
      |f AS (SELECT b,
      |             CAST(s1 AS DOUBLE) / CAST(b AS DOUBLE) / 1000000000.0 AS m,
      |             CAST(b * s2 - CAST(s1 AS HUGEINT) * s1 AS DOUBLE) AS vnum
      |      FROM pr),
      |g AS (SELECT b, m, vnum,
      |             m * (1.0 - m)
      |               / (vnum / CAST(b AS DOUBLE) / CAST(b - 1 AS DOUBLE)
      |                  / 1e18) - 1.0 AS s
      |      FROM f),
      |h AS (SELECT CASE WHEN vnum > 0 AND s > 0 THEN m END AS m,
      |             CASE WHEN vnum > 0 AND s > 0 THEN s END AS s
      |      FROM g)
      |SELECT p_brand, n, x,
      |       CAST((CAST(x AS HUGEINT) * 1000000) // n AS BIGINT) AS rate_e6,
      |       CAST(floor(m * s * 1000000 + 0.5) AS BIGINT) AS alpha_e6,
      |       CAST(floor((1.0 - m) * s * 1000000 + 0.5) AS BIGINT) AS beta_e6,
      |       CAST(floor((CAST(x AS DOUBLE) + m * s)
      |         / (CAST(n AS DOUBLE) + s) * 1000000 + 0.5) AS BIGINT)
      |         AS shrunk_e6
      |FROM r, h ORDER BY p_brand""".stripMargin

  /** x258: one-way ANOVA F across order priorities — the k-group
    * generalization of the two-arm z (x201) and rank-sum (x194) tests:
    * does mean order value differ by priority class? F = (SSB/(g−1)) /
    * (SSW/(N−g)) with η² = SSB/(SSB+SSW) as the effect size (the "is it
    * LARGE" companion the p-value lacks).
    *
    * Exactness: per-group moments (n_g, Σx, Σx² DECIMAL-widened) are
    * exact integers off one fact pass. The cross-group sum
    * Σ_g S_g²/n_g is where naive double aggregation would break
    * run-stability (summation order), so the FIXED 5-value priority
    * domain is pivoted to columns (conditional aggregation) and folded
    * in one explicit left-associative expression — the same pinned-fold
    * discipline as the Ljung-Box lags below; every group term converts
    * its exact integers to double once. Degenerate inputs (SSW = 0)
    * null the statistics, the abTest posture. Scale: one fact pass to
    * g = 5 rows; everything after is constant-size.
    */
  def anovaF(spark: SparkSession, dir: String): DataFrame = {
    val d38: Column => Column = _.cast("decimal(38,0)")
    val d: Column => Column = _.cast("double")
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val g = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("priority"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .groupBy("priority")
      .agg(count(lit(1)).as("n_g"), sum(col("cents")).as("s_g"),
        sum(d38(col("cents")) * d38(col("cents"))).as("q_g"))
    val terms = priorities.map(p =>
      sum(when(col("priority") === p, d(col("s_g")) * d(col("s_g")) / d(col("n_g")))))
    val tot = g.agg(sum(col("n_g")).as("n"), sum(col("s_g")).as("s"),
      sum(col("q_g")).as("q"), count(lit(1)).as("ng"),
      terms.reduceLeft(_ + _).as("t")) // explicit left fold over the FIXED domain
    val ssb = col("t") - d(col("s")) * d(col("s")) / d(col("n"))
    val ssw = d(col("q")) - col("t")
    g.crossJoin(broadcast(tot))
      .select(col("priority"), col("n_g"), col("s_g").as("sum_cents"),
        expr("s_g DIV n_g").as("mean_cents"),
        when(ssw > 0d,
          floor(ssb / d(col("ng") - 1L) * d(col("n") - col("ng")) / ssw
            * 1000000d + 0.5d).cast("long")).as("f_e6"),
        when(ssw > 0d,
          floor(ssb / (ssb + ssw) * 1000000d + 0.5d).cast("long")).as("eta2_e6"))
      .orderBy("priority")
  }

  val anovaOracle: String =
    """WITH o AS (SELECT o_orderpriority AS priority,
      |                  CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
      |           FROM orders),
      |g AS (SELECT priority, COUNT(*) AS n_g, CAST(SUM(cents) AS BIGINT) AS s_g,
      |             SUM(CAST(cents AS HUGEINT) * cents) AS q_g
      |      FROM o GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(SUM(s_g) AS BIGINT) AS s,
      |               SUM(q_g) AS q, COUNT(*) AS ng,
      |               ((((SUM(CASE WHEN priority = '1-URGENT'
      |                     THEN CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE) END)
      |                 + SUM(CASE WHEN priority = '2-HIGH'
      |                     THEN CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE) END))
      |                 + SUM(CASE WHEN priority = '3-MEDIUM'
      |                     THEN CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE) END))
      |                 + SUM(CASE WHEN priority = '4-NOT SPECIFIED'
      |                     THEN CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE) END))
      |                 + SUM(CASE WHEN priority = '5-LOW'
      |                     THEN CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / CAST(n_g AS DOUBLE) END)) AS t
      |        FROM g),
      |f AS (SELECT t - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS ssb,
      |             CAST(q AS DOUBLE) - t AS ssw, n, ng FROM tot)
      |SELECT g.priority, g.n_g, g.s_g AS sum_cents,
      |       CAST(g.s_g // g.n_g AS BIGINT) AS mean_cents,
      |       CASE WHEN f.ssw > 0 THEN CAST(floor(f.ssb / CAST(f.ng - 1 AS DOUBLE)
      |              * CAST(f.n - f.ng AS DOUBLE) / f.ssw * 1000000 + 0.5) AS BIGINT) END AS f_e6,
      |       CASE WHEN f.ssw > 0 THEN CAST(floor(f.ssb / (f.ssb + f.ssw)
      |              * 1000000 + 0.5) AS BIGINT) END AS eta2_e6
      |FROM g, f ORDER BY g.priority""".stripMargin

  /** x259: Ljung–Box portmanteau test on daily revenue — "is this series
    * white noise?", the один-row autocorrelation audit that gates every
    * forecasting model (a46 Holt–Winters, x240 backtests), as one row:
    * Q = n(n+2)·
    * Σ_{k=1..7} ρ_k²/(n−k) against χ²₀.₀₅,₇. The ρ_k here are the
    * CLASSICAL biased ACF (fixed denominator C0, mean-centered over the
    * full series) — the definition Ljung–Box's null distribution
    * assumes — unlike x172's per-lag Pearson.
    *
    * Exactness: the dense day grid (zero-fill, the x172/a37 posture)
    * gives exact integer lag moments P_k, A_k, B_k off one 7-way offset
    * explode; the mean-centered covariance is cleared of the rational
    * mean by n²-scaling — n²C_k = n²P_k − nS(A_k+B_k) + (n−k)S², an
    * exact DECIMAL(38,0) identity (headroom to ~10³⁴ cents² of daily
    * Σx²; at fleet scale rescale the series to whole dollars) — so each
    * ρ_k is ONE double division of two exact integers. The 7-lag sum is
    * the pinned left fold over pivoted lag columns (the x258 pattern);
    * the 5% decision compares the e6-floored Q against the χ² critical
    * value as an integer, so both engines decide identically. Scale:
    * the grid is calendar-bounded; the fact appears once, in the
    * Layer-shared daily aggregate.
    */
  def ljungBox(spark: SparkSession, dir: String): DataFrame = {
    val d38: Column => Column = _.cast("decimal(38,0)")
    val d: Column => Column = _.cast("double")
    val daily = dailyRevenue(spark, dir)
    val span = daily.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
    val dense = span.select(explode(sequence(col("lo"), col("hi"))).as("day"))
      .join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("cents"), lit(0L)).as("x"))
    val tot = dense.agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
      sum(d38(col("x")) * d38(col("x"))).as("q0"))
    val lagged = dense
      .select(col("day"), col("x"), explode(sequence(lit(1L), lit(7L))).as("lag"))
      .withColumn("tday", col("day") + col("lag"))
      .join(dense.select(col("day").as("bday"), col("x").as("y")),
        col("tday") === col("bday"))
      .groupBy("lag")
      .agg(sum(d38(col("x")) * d38(col("y"))).as("p_k"),
        sum(col("x")).as("a_k"), sum(col("y")).as("b_k"),
        count(lit(1)).as("n_k"))
      .crossJoin(broadcast(tot))
      .select(col("lag"), col("n"),
        (d38(col("n")) * d38(col("n")) * col("p_k")
          - d38(col("n")) * d38(col("s")) * (d38(col("a_k")) + d38(col("b_k")))
          + d38(col("n_k")) * d38(col("s")) * d38(col("s"))).as("num_k"),
        (d38(col("n")) * (d38(col("n")) * col("q0")
          - d38(col("s")) * d38(col("s")))).as("den"))
    val one = lagged.groupBy("n", "den")
      .pivot("lag", (1 to 7).map(_.toString))
      .agg(max(col("num_k"))) // one num_k per pivot cell
    def rho(k: Int): Column = d(col(k.toString)) / d(col("den"))
    def term(k: Int): Column = rho(k) * rho(k) / d(col("n") - k)
    val qLb = d(col("n")) * d(col("n") + 2L) *
      (1 to 7).map(term).reduceLeft(_ + _) // pinned left fold, lag order
    one.select(col("n").as("n_days") +:
        (1 to 7).map(k =>
          floor(rho(k) * 1000000d + 0.5d).cast("long").as(s"r${k}_e6")) :+
          floor(qLb * 1000000d + 0.5d).cast("long").as("q_e6"): _*)
      .withColumn("reject_5pct", // χ²(0.95, df=7) = 14.0671404493, e6-floored
        when(col("q_e6") > lit(14067140L), 1L).otherwise(0L))
  }

  val ljungBoxOracle: String =
    """WITH daily AS (SELECT CAST(floor(epoch_us(o_orderdate) / 86400000000) AS BIGINT) AS day,
      |                      SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS cents
      |               FROM orders GROUP BY 1),
      |span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
      |dense AS (SELECT g.day, COALESCE(daily.cents, 0) AS x
      |          FROM (SELECT unnest(generate_series(lo, hi)) AS day FROM span) g
      |          LEFT JOIN daily USING (day)),
      |tot AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS s,
      |               SUM(CAST(x AS HUGEINT) * x) AS q0 FROM dense),
      |lg AS (SELECT l.lag, SUM(CAST(a.x AS HUGEINT) * b.x) AS p_k,
      |              CAST(SUM(a.x) AS BIGINT) AS a_k, CAST(SUM(b.x) AS BIGINT) AS b_k,
      |              COUNT(*) AS n_k
      |       FROM dense a CROSS JOIN (SELECT unnest(generate_series(1, 7)) AS lag) l
      |       JOIN dense b ON b.day = a.day + l.lag
      |       GROUP BY 1),
      |m AS (SELECT lag, t.n,
      |             CAST(t.n AS HUGEINT) * t.n * p_k
      |               - CAST(t.n AS HUGEINT) * t.s * (CAST(a_k AS HUGEINT) + b_k)
      |               + CAST(n_k AS HUGEINT) * t.s * t.s AS num_k,
      |             CAST(t.n AS HUGEINT) * (CAST(t.n AS HUGEINT) * t.q0
      |               - CAST(t.s AS HUGEINT) * t.s) AS den
      |      FROM lg, tot t),
      |p AS (SELECT ANY_VALUE(n) AS n, ANY_VALUE(den) AS den,
      |             SUM(CASE WHEN lag = 1 THEN num_k END) AS k1,
      |             SUM(CASE WHEN lag = 2 THEN num_k END) AS k2,
      |             SUM(CASE WHEN lag = 3 THEN num_k END) AS k3,
      |             SUM(CASE WHEN lag = 4 THEN num_k END) AS k4,
      |             SUM(CASE WHEN lag = 5 THEN num_k END) AS k5,
      |             SUM(CASE WHEN lag = 6 THEN num_k END) AS k6,
      |             SUM(CASE WHEN lag = 7 THEN num_k END) AS k7
      |      FROM m),
      |r AS (SELECT n,
      |             CAST(k1 AS DOUBLE) / CAST(den AS DOUBLE) AS r1,
      |             CAST(k2 AS DOUBLE) / CAST(den AS DOUBLE) AS r2,
      |             CAST(k3 AS DOUBLE) / CAST(den AS DOUBLE) AS r3,
      |             CAST(k4 AS DOUBLE) / CAST(den AS DOUBLE) AS r4,
      |             CAST(k5 AS DOUBLE) / CAST(den AS DOUBLE) AS r5,
      |             CAST(k6 AS DOUBLE) / CAST(den AS DOUBLE) AS r6,
      |             CAST(k7 AS DOUBLE) / CAST(den AS DOUBLE) AS r7
      |      FROM p),
      |q AS (SELECT n, r1, r2, r3, r4, r5, r6, r7,
      |             CAST(n AS DOUBLE) * CAST(n + 2 AS DOUBLE) *
      |             ((((((r1 * r1 / CAST(n - 1 AS DOUBLE)
      |                + r2 * r2 / CAST(n - 2 AS DOUBLE))
      |                + r3 * r3 / CAST(n - 3 AS DOUBLE))
      |                + r4 * r4 / CAST(n - 4 AS DOUBLE))
      |                + r5 * r5 / CAST(n - 5 AS DOUBLE))
      |                + r6 * r6 / CAST(n - 6 AS DOUBLE))
      |                + r7 * r7 / CAST(n - 7 AS DOUBLE)) AS qlb
      |      FROM r)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |       CAST(floor(r1 * 1000000 + 0.5) AS BIGINT) AS r1_e6,
      |       CAST(floor(r2 * 1000000 + 0.5) AS BIGINT) AS r2_e6,
      |       CAST(floor(r3 * 1000000 + 0.5) AS BIGINT) AS r3_e6,
      |       CAST(floor(r4 * 1000000 + 0.5) AS BIGINT) AS r4_e6,
      |       CAST(floor(r5 * 1000000 + 0.5) AS BIGINT) AS r5_e6,
      |       CAST(floor(r6 * 1000000 + 0.5) AS BIGINT) AS r6_e6,
      |       CAST(floor(r7 * 1000000 + 0.5) AS BIGINT) AS r7_e6,
      |       CAST(floor(qlb * 1000000 + 0.5) AS BIGINT) AS q_e6,
      |       CASE WHEN CAST(floor(qlb * 1000000 + 0.5) AS BIGINT) > 14067140
      |            THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS reject_5pct
      |FROM q""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "a08_approx_distinct"  -> (approxDistinct _),
    "a10_approx_percentile" -> (approxPercentiles _),
    "a09_window_suite"     -> (windowSuite _),
    "a04_percentiles"      -> (percentiles _),
    "a05_event_stats"      -> (eventStats _),
    "a06_revenue_rollup"   -> (revenueRollup _),
    "a07_user_setops"      -> (userSetOps _),
    "a01_pricing_summary"  -> (pricingSummary _),
    "a02_revenue_by_nation" -> (revenueByNation _),
    "a03_top_revenue_orders" -> ((s: SparkSession, d: String) => topRevenueOrders(s, d)),
    "a13_small_qty_parts"  -> (smallQtyParts _),
    "a11_inactive_customers" -> (inactiveCustomers _),
    "a12_grouping_sets"    -> (orderGroupingSets _),
    "a14_cheapest_supplier" -> (cheapestSupplier _),
    "a15_sole_return_supp" -> (soleReturnSuppliers _),
    "a16_cust_distribution" -> (customerDistribution _),
    "a17_significant_parts" -> (significantParts _),
    "a18_top_supplier"     -> (topSupplier _),
    "a19_brand_promo"      -> (brandPromoRevenue _),
    "a20_big_orders"       -> ((s: SparkSession, d: String) => bigOrderCustomers(s, d)),
    "a21_returned_items"   -> ((s: SparkSession, d: String) => returnedItems(s, d)),
    "a22_volume_shipping"  -> ((s: SparkSession, d: String) => volumeShipping(s, d)),
    "a23_forecast_revenue" -> (forecastRevenue _),
    "a24_promo_revenue"    -> (promoRevenue _),
    "a25_market_share"     -> ((s: SparkSession, d: String) => marketShare(s, d)),
    "a26_order_priority"   -> (orderPriority _),
    "a27_nation_profit"    -> (nationProfit _),
    "a28_late_priority"    -> (latePriority _),
    "a29_supplier_parts"   -> (supplierPartCounts _),
    "a30_dominant_supp"    -> (dominantSuppliers _),
    "a31_winsorized"       -> (winsorizedRevenue _),
    "a32_weighted_median"  -> (weightedMedian _),
    "a33_seasonal_outliers" -> (seasonalOutliers _),
    "a34_group_ols"        -> (groupOls _),
    "a35_gini_lorenz"      -> (giniLorenz _),
    "a36_rfm_segments"     -> (rfmSegments _),
    "a37_seasonal_decomp"  -> (seasonalDecomp _),
    "a38_theilsen_trend"   -> (theilSenTrend _),
    "a39_basket_dispersion" -> (basketDispersion _),
    "a40_hhi_concentration" -> (hhiConcentration _),
    "a41_spearman"         -> (spearmanCorr _),
    "a42_mann_kendall"     -> (mannKendall _),
    "a43_price_volume_mix" -> ((s: SparkSession, d: String) => priceVolumeMix(s, d)),
    "x206_order_sla"       -> (orderSla _),
    "x207_replenish_cycle" -> ((s: SparkSession, d: String) => replenishCycle(s, d)),
    "x214_seasonal_index"  -> (seasonalIndex _),
    "a44_quarterly_arpu"   -> (quarterlyArpu _),
    "a45_changepoint"      -> (changepoint _),
    "a46_holt_winters"     -> (holtWinters _),
    "a47_price_elasticity" -> (priceElasticity _),
    "a48_rolling_wau"      -> (rollingWau _),
    "a49_diff_in_diff"     -> (diffInDiff _),
    "x258_anova_f"         -> (anovaF _),
    "x259_ljung_box"       -> (ljungBox _),
  )

  val oracles: Map[String, String] = Map(
    "a33_seasonal_outliers" -> seasonalOracle,
    "a34_group_ols"        -> groupOlsOracle,
    "a35_gini_lorenz"      -> giniLorenzOracle,
    "a36_rfm_segments"     -> rfmOracle,
    "a37_seasonal_decomp"  -> seasonalDecompOracle,
    "a38_theilsen_trend"   -> theilSenOracle,
    "a39_basket_dispersion" -> basketDispersionOracle,
    "a40_hhi_concentration" -> hhiOracle,
    "a41_spearman"         -> spearmanOracle,
    "a42_mann_kendall"     -> mannKendallOracle,
    "a43_price_volume_mix" -> priceVolumeMixOracle,
    "x206_order_sla"       -> orderSlaOracle,
    "x207_replenish_cycle" -> replenishCycleOracle,
    "x214_seasonal_index"  -> seasonalIndexOracle,
    "a44_quarterly_arpu"   -> quarterlyArpuOracle,
    "a45_changepoint"      -> changepointOracle,
    "a46_holt_winters"     -> holtWintersOracle,
    "a47_price_elasticity" -> priceElasticityOracle,
    "a48_rolling_wau"      -> rollingWauOracle,
    "a49_diff_in_diff"     -> diffInDiffOracle,
    "x258_anova_f"         -> anovaOracle,
    "x259_ljung_box"       -> ljungBoxOracle,
    "a32_weighted_median" ->
      """WITH c AS (SELECT l_returnflag, l_extendedprice,
        |                  CAST(l_quantity AS BIGINT) AS qty,
        |                  SUM(CAST(l_quantity AS BIGINT)) OVER
        |                    (PARTITION BY l_returnflag ORDER BY l_extendedprice
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
        |                  SUM(CAST(l_quantity AS BIGINT)) OVER
        |                    (PARTITION BY l_returnflag) AS totw
        |           FROM lineitem)
        |SELECT l_returnflag,
        |       CAST(floor(MIN(l_extendedprice) * 100 + 0.5) AS BIGINT) AS wmedian_e2,
        |       CAST(MAX(totw) AS BIGINT) AS total_weight
        |FROM c WHERE cumw * 2 >= totw
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "a31_winsorized" ->
      """WITH b AS (SELECT l_returnflag,
        |                  quantile_cont(l_extendedprice, 0.05) AS lo,
        |                  quantile_cont(l_extendedprice, 0.95) AS hi
        |           FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag,
        |       ROUND(MAX(b.lo), 4) AS p05, ROUND(MAX(b.hi), 4) AS p95,
        |       CAST(SUM(CASE WHEN l.l_extendedprice < b.lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
        |       CAST(SUM(CASE WHEN l.l_extendedprice > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
        |       CAST(SUM(CAST(floor(LEAST(GREATEST(l.l_extendedprice, b.lo), b.hi)
        |                           * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS wsum_e4,
        |       COUNT(*) AS n
        |FROM lineitem l JOIN b USING (l_returnflag)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "a26_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= DATE '1996-04-01' AND o_orderdate < DATE '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "a27_nation_profit" ->
      """SELECT n.n_name AS nation, CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
        |       ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |                         (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2)))
        |                       - CAST(p.p_retailprice AS DECIMAL(12,2)) *
        |                         CAST(l.l_quantity AS DECIMAL(12,2)) *
        |                         CAST(0.10 AS DECIMAL(12,2))) AS DOUBLE), 4) AS profit,
        |       COUNT(*) AS n_lines
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%red%'
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "a28_late_priority" ->
      """SELECT l_linestatus,
        |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE date_diff('day', o_orderdate, l_shipdate) > 60
        |GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,
    "a29_supplier_parts" ->
      """WITH rel AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |kept AS (SELECT * FROM rel
        |         WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0))
        |SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM kept JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 16, 25, 36, 49)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,
    "a30_dominant_supp" ->
      """WITH ps AS (
        |  SELECT l_partkey, l_suppkey, SUM(l_quantity) AS supp_qty
        |  FROM lineitem
        |  WHERE year(l_shipdate) = 1996
        |    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        |  GROUP BY 1, 2),
        |tot AS (SELECT l_partkey, SUM(supp_qty) AS part_qty FROM ps GROUP BY 1),
        |dom AS (SELECT ps.l_suppkey, COUNT(*) AS n_parts
        |        FROM ps JOIN tot ON ps.l_partkey = tot.l_partkey
        |        WHERE ps.supp_qty > tot.part_qty * 0.5
        |        GROUP BY 1)
        |SELECT s_suppkey, s_name, n_parts
        |FROM supplier JOIN dom ON s_suppkey = dom.l_suppkey
        |ORDER BY s_suppkey""".stripMargin,
    "a21_returned_items" ->
      """SELECT c.c_custkey, c.c_name, n.n_name,
        |       ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |                       (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE l.l_returnflag = 'R'
        |  AND o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1996-04-01'
        |GROUP BY c.c_custkey, c.c_name, n.n_name
        |ORDER BY revenue DESC, c.c_custkey LIMIT 20""".stripMargin,
    "a22_volume_shipping" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
        |       ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |                       (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4) AS revenue,
        |       COUNT(*) AS n_lines
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "a25_market_share" ->
      """WITH j AS (
        |  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year, n1.n_name AS supp_nation,
        |         CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |           (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2))) AS rev
        |  FROM lineitem l
        |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'STANDARD'
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  JOIN customer c ON o.o_custkey = c.c_custkey
        |  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        |  JOIN region r ON n2.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE')
        |SELECT o_year,
        |       ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN rev
        |                           ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
        |             / CAST(SUM(rev) AS DOUBLE), 4) AS mkt_share,
        |       ROUND(CAST(SUM(rev) AS DOUBLE), 4) AS total_revenue
        |FROM j GROUP BY o_year ORDER BY o_year""".stripMargin,
    "a23_forecast_revenue" ->
      """SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |                       CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE), 4) AS revenue,
        |       COUNT(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
        |  AND l_discount >= 0.04 AND l_discount <= 0.06 AND l_quantity < 24""".stripMargin,
    "a24_promo_revenue" ->
      """WITH j AS (
        |  SELECT p.p_type,
        |         CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |           (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2))) AS rev
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |  WHERE l.l_shipdate >= DATE '1996-03-01' AND l.l_shipdate < DATE '1996-04-01')
        |SELECT ROUND(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
        |             / CAST(SUM(rev) AS DOUBLE) * 100, 4) AS promo_share_pct,
        |       ROUND(CAST(SUM(rev) AS DOUBLE), 4) AS total_revenue,
        |       COUNT(*) AS n_lines
        |FROM j""".stripMargin,
    "a09_window_suite" ->
      """SELECT o_custkey AS userID, o_orderkey AS orderID,
        |       CAST(RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS price_rank,
        |       CAST(NTILE(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile,
        |       CAST(COALESCE(date_diff('day',
        |              LAG(o_orderdate) OVER w, o_orderdate), -1) AS BIGINT) AS gap_days,
        |       ROUND(SUM(o_totalprice) OVER (w ROWS UNBOUNDED PRECEDING), 4) AS running_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY userID, orderID""".stripMargin,
    "a04_percentiles" ->
      """SELECT lang,
        |       ROUND(quantile_cont(n_chars, 0.5), 4) AS p50,
        |       ROUND(quantile_cont(n_chars, 0.9), 4) AS p90,
        |       COUNT(*) AS n
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "a05_event_stats" ->
      """SELECT event_type,
        |       ROUND(AVG(value), 4) AS avg_v,
        |       ROUND(stddev_samp(value), 4) AS sd_v,
        |       ROUND(MIN(value), 4) AS min_v,
        |       ROUND(MAX(value), 4) AS max_v,
        |       COUNT(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "a06_revenue_rollup" ->
      """SELECT r.r_name, n.n_name,
        |       ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |                       (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4) AS revenue,
        |       COUNT(*) AS n_lines
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY ROLLUP (r.r_name, n.n_name)
        |ORDER BY r.r_name NULLS FIRST, n.n_name NULLS FIRST""".stripMargin,
    "a07_user_setops" ->
      """WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
        |o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
        |seg_both AS (SELECT o_custkey, 'both' AS segment FROM (SELECT o_custkey FROM f INTERSECT SELECT o_custkey FROM o)),
        |seg_onlyf AS (SELECT o_custkey, 'only_f' AS segment FROM (SELECT o_custkey FROM f EXCEPT SELECT o_custkey FROM o))
        |SELECT o_custkey AS userID, segment FROM seg_both
        |UNION ALL
        |SELECT o_custkey AS userID, segment FROM seg_onlyf
        |ORDER BY userID, segment""".stripMargin,
    // the x246 discipline for native sketches: the raw estimate is
    // engine-specific (off the hashed surface), but truth, band, and the
    // estimate-within-band CLAIM are data — the oracle asserts the claim
    // as literal TRUE, so a drifting estimator fails the hash gate
    "a08_approx_distinct" ->
      """SELECT event_type,
        |       COUNT(DISTINCT user_id) AS exact_users,
        |       CAST(CEIL(COUNT(DISTINCT user_id) * 0.10) AS BIGINT) AS bound_users,
        |       TRUE AS within_bound
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "a10_approx_percentile" ->
      """SELECT lang,
        |       ROUND(quantile_cont(n_chars, 0.5), 4) AS p50_exact,
        |       ROUND(quantile_cont(n_chars, 0.45), 4) AS p45,
        |       ROUND(quantile_cont(n_chars, 0.55), 4) AS p55,
        |       TRUE AS within_rank_band
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // avg(l_quantity) is exact on both engines (integral-valued doubles sum
    // exactly in any order), so the 0.2*avg threshold compares identically
    "a13_small_qty_parts" ->
      """WITH t AS (SELECT l_partkey, AVG(l_quantity) * 0.2 AS qty_cap
        |           FROM lineitem GROUP BY l_partkey)
        |SELECT l.l_partkey, COUNT(*) AS n_small,
        |       ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 4) AS small_revenue,
        |       ROUND(MAX(t.qty_cap), 4) AS qty_cap
        |FROM lineitem l JOIN t ON l.l_partkey = t.l_partkey
        |WHERE l.l_quantity < t.qty_cap
        |GROUP BY l.l_partkey
        |ORDER BY l.l_partkey""".stripMargin,
    "a11_inactive_customers" ->
      """SELECT c_custkey, c_mktsegment, c_nationkey
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c_custkey
        |                    AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        |ORDER BY c_custkey""".stripMargin,
    "a16_cust_distribution" ->
      """WITH co AS (SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |            GROUP BY 1)
        |SELECT CAST(c_count AS BIGINT) AS c_count, COUNT(*) AS custdist
        |FROM co GROUP BY 1
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    "a17_significant_parts" ->
      """WITH v AS (SELECT l_partkey,
        |                  SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS val
        |           FROM lineitem GROUP BY 1)
        |SELECT l_partkey, ROUND(CAST(val AS DOUBLE), 4) AS value
        |FROM v WHERE val > (SELECT SUM(val) * 0.0006 FROM v)
        |ORDER BY l_partkey""".stripMargin,
    "a18_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey AS s_suppkey,
        |         SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |             (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS d_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
        |  GROUP BY 1)
        |SELECT s.s_suppkey, s.s_name, s.s_nationkey,
        |       ROUND(CAST(r.d_rev AS DOUBLE), 4) AS total_revenue,
        |       CAST(CASE WHEN r.d_rev = (SELECT MAX(d_rev) FROM rev)
        |                 THEN 1 ELSE 0 END AS BIGINT) AS is_top
        |FROM supplier s JOIN rev r USING (s_suppkey)
        |ORDER BY s.s_suppkey""".stripMargin,
    "a19_brand_promo" ->
      """SELECT p_brand, COUNT(*) AS n_lines,
        |       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |                       (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
        |   OR (p_brand = 'Brand#17' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 40)
        |   OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 50 AND l_quantity BETWEEN 20 AND 60)
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "a20_big_orders" ->
      """WITH big AS (SELECT l_orderkey, SUM(l_quantity) AS sum_qty
        |             FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 170)
        |SELECT c_custkey, c_mktsegment, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       o_totalprice, ROUND(sum_qty, 4) AS sum_qty
        |FROM orders JOIN big ON o_orderkey = big.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "a14_cheapest_supplier" ->
      """WITH m AS (SELECT l_partkey, MIN(l_extendedprice) AS min_price
        |           FROM lineitem GROUP BY 1)
        |SELECT DISTINCT l.l_partkey, l.l_suppkey,
        |       ROUND(m.min_price, 4) AS min_price
        |FROM lineitem l JOIN m
        |  ON l.l_partkey = m.l_partkey AND l.l_extendedprice = m.min_price
        |ORDER BY l.l_partkey, l.l_suppkey""".stripMargin,
    "a15_sole_return_supp" ->
      """WITH l1 AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        |            WHERE l_returnflag = 'R')
        |SELECT l1.l_suppkey AS suppkey, COUNT(*) AS numsole
        |FROM l1
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY 1 ORDER BY numsole DESC, suppkey LIMIT 20""".stripMargin,
    "a12_grouping_sets" ->
      """SELECT c_mktsegment, o_orderstatus,
        |       CAST(GROUPING_ID(c_mktsegment, o_orderstatus) AS BIGINT) AS gid,
        |       COUNT(*) AS n_orders,
        |       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE), 4) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY GROUPING SETS ((c_mktsegment, o_orderstatus), (c_mktsegment), (o_orderstatus), ())
        |ORDER BY gid, c_mktsegment NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
    "a01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       ROUND(SUM(l_quantity), 4) AS sum_qty,
        |       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 4) AS sum_base_price,
        |       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |                       (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4) AS sum_disc_price,
        |       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= DATE '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "a02_revenue_by_nation" ->
      """SELECT r.r_name, n.n_name,
        |       ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |                       (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4) AS revenue,
        |       COUNT(*) AS n_lines
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1998-01-01'
        |GROUP BY r.r_name, n.n_name
        |ORDER BY r.r_name, n.n_name""".stripMargin,
    "a03_top_revenue_orders" ->
      """SELECT l.l_orderkey,
        |       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |                       (CAST(1 AS DECIMAL(12,2)) - CAST(l.l_discount AS DECIMAL(12,2)))) AS DOUBLE), 4) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |  AND o.o_orderdate < DATE '1997-06-01'
        |  AND l.l_shipdate > DATE '1997-06-01'
        |GROUP BY l.l_orderkey, o.o_orderdate
        |ORDER BY revenue DESC, l.l_orderkey
        |LIMIT 20""".stripMargin,
  )
}
