package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables

/** Relational analytics surface over the TPC-H-ish tables (SURVEY.md §7 M3).
  *
  * The reference library has no relational operators (SURVEY.md §2, "does
  * NOT implement"); this layer is the north-star extension, built entirely
  * from Catalyst-optimized built-ins: scans with pushdown, hash
  * aggregations with partial combine, broadcast joins for the small
  * dimensions, window functions for top-k.
  *
  * Determinism discipline (oracle hash-compare, FIXTURES.md §3):
  *  - Money/quantity doubles are snapped to cents per row (double →
  *    DECIMAL(18,2) rounds identically in Spark and DuckDB — value-exact
  *    per the round-1 audit) and then ALL arithmetic runs in int64:
  *    sums are partition-order independent, whole-stage-codegen friendly,
  *    and hash-stable across engines (the same numeric value can render
  *    differently as Decimal vs float64; an int64 cannot). Output money
  *    columns are therefore fixed-point integers: ×100 for plain
  *    cents, ×10^4 for discounted prices (cents × percent), ×10^6 for
  *    tax-adjusted charges (cents × percent × percent).
  *  - Every top-k has a total order: measure first, then a unique key.
  *
  * Scale notes (100 TB):
  *  - `region`/`nation` are constant-size (5/25 rows) → always broadcast.
  *  - Other dimension joins are left to AQE, which broadcasts at runtime
  *    when the build side is small; at 100 TB customer/part/supplier are
  *    shuffle-hash/sort-merge joined on their keys, which is correct.
  *  - All aggregations are partial-aggregated map-side before the shuffle.
  */
object Relational {

  /** Per-row fixed-point snap: double → DECIMAL(18,2) (same rounding both
    * engines) → int64 cents. Everything downstream is integer arithmetic.
    */
  private def cents(c: Column): Column =
    (c.cast(DecimalType(18, 2)) * lit(100)).cast("long")
  /** Discounted price in 10^-4 units: cents × (100 - discount_cents). */
  private def discPriceC: Column =
    cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))
  private def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")

  /** TPC-H Q1-style pricing summary: single scan, hash agg, int64-exact. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit(ts("1998-09-02")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(cents(col("l_quantity"))).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_base_price"),
        sum(discPriceC).as("sum_disc_price"),
        sum(discPriceC * (lit(100L) + cents(col("l_tax")))).as("sum_charge"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3-style: top 10 unshipped orders by revenue in one segment. */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = ts("1998-01-01")
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir).filter(col("o_orderdate") < lit(cutoff))
    val l = Tables.lineitem(spark, dir).filter(col("l_shipdate") > lit(cutoff))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(discPriceC).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-style: revenue by nation where customer and supplier are in
    * the same nation, one region, one year. region+nation broadcast.
    */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val r = broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA"))
    val n = broadcast(Tables.nation(spark, dir))
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(ts("1996-01-01")) &&
              col("o_orderdate") < lit(ts("1997-01-01")))
    val l = Tables.lineitem(spark, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(s, col("l_suppkey") === col("s_suppkey") &&
               col("c_nationkey") === col("s_nationkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(discPriceC).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** [[q5LocalSupplier]] with the lineitem⋈orders fact join routed
    * through the explicit salted path ([[Skew.saltedJoin]]): each
    * lineitem row carries a deterministic salt, the (filtered) orders
    * side replicates once per salt, and the join key becomes
    * (orderkey, salt) — a hot orderkey's rows spread over `saltFactor`
    * reducers instead of funneling through one. Results are identical to
    * the unsalted query (same DuckDB oracle SQL verbatim); the salt
    * expansion is plan-asserted in SkewSpec.
    */
  def q5LocalSupplierSalted(spark: SparkSession, dir: String): DataFrame = {
    val r = broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA"))
    val n = broadcast(Tables.nation(spark, dir))
    val c = Tables.customer(spark, dir)
    val s = Tables.supplier(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(ts("1996-01-01")) &&
              col("o_orderdate") < lit(ts("1997-01-01")))
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val l = Tables.lineitem(spark, dir)
    Skew.saltedJoin(l, o, Seq("l_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(s, col("l_suppkey") === col("s_suppkey") &&
               col("c_nationkey") === col("s_nationkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(discPriceC).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** TPC-H Q10-style: top 20 customers by returned-item revenue. */
  def q10ReturnedItems(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = broadcast(Tables.nation(spark, dir))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(ts("1996-01-01")) &&
              col("o_orderdate") < lit(ts("1996-07-01")))
    val l = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(sum(discPriceC).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** TPC-H Q4-style via semi join: order count per priority where at least
    * one lineitem was returned. Semi join = EXISTS, no row multiplication.
    */
  def q4PriorityExists(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(ts("1996-01-01")) &&
              col("o_orderdate") < lit(ts("1997-01-01")))
    val l = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"))
    o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  /** Anti join (NOT EXISTS): churned customers — no orders on/after the
    * cutoff. The test corpus gives every customer at least one order
    * overall, so the unfiltered variant returns 0 rows at every scale
    * factor and its green gate would attest nothing; the dated variant is
    * non-empty at sf0.001/0.01/0.1 (3/8/142 rows).
    */
  def qCustomersNoOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(ts("1998-06-01")))
      .select(col("o_custkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  /** Top-k per group: 3 priciest parts per brand, deterministic
    * tie-break on p_partkey. Runs as the k-bounded-heap hash aggregation
    * ([[Dedup.topKPerKey]]) — descending price becomes an ascending
    * order on the NEGATED integer cents; the window formulation is kept
    * as [[qTopPartsPerBrandWindow]] for the equivalence guard.
    */
  def qTopPartsPerBrand(spark: SparkSession, dir: String): DataFrame =
    Dedup.topKPerKey(
        Tables.part(spark, dir)
          .select(col("p_brand"), col("p_partkey"), col("p_name"),
            cents(col("p_retailprice")).as("retail_price")),
        Seq("p_brand"), Seq(-col("retail_price"), col("p_partkey")), k = 3)
      .select(col("p_brand"), col("p_partkey"), col("p_name"),
        col("retail_price"), col("rk"))

  /** Declarative window formulation, kept for the equivalence guard. */
  private[graft] def qTopPartsPerBrandWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("p_retailprice").desc, col("p_partkey"))
    Tables.part(spark, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("p_brand"), col("p_partkey"), col("p_name"),
              cents(col("p_retailprice")).as("retail_price"), col("rk").cast("bigint").as("rk"))
  }

  /** ROLLUP aggregation (grouping-sets family). */
  def qRollupReturns(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(cents(col("l_quantity"))).as("sum_qty"))

  /** Revenue by region: the full 6-table star-join chain. */
  def qRegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val r = broadcast(Tables.region(spark, dir))
    val n = broadcast(Tables.nation(spark, dir))
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    // two-phase distinct: mixing sum with countDistinct plans an Expand
    // (every joined row doubled through the shuffle); reducing per
    // (region, order) first keeps one copy of each row in flight and the
    // second aggregation is region-cardinality — the shape that survives
    // a 100× fact-table scale-up
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("o_orderkey"))
      .agg(sum(discPriceC).as("rev_o"))
      .groupBy(col("r_name"))
      .agg(
        sum(col("rev_o")).as("revenue"),
        // count(o_orderkey): countDistinct semantics (non-null inner-join
        // key today, but the rewrite must not widen them)
        count(col("o_orderkey")).as("n_orders"))
      .orderBy(col("r_name"))
  }

  /** TPC-H Q6-style: pure scan-filter-aggregate — the pushdown showcase
    * (predicates and the 3-column projection reach the parquet scan).
    */
  def q6ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(ts("1996-01-01")) &&
              col("l_shipdate") < lit(ts("1997-01-01")) &&
              col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
              col("l_quantity") < 24)
      .agg(sum(cents(col("l_extendedprice")) * cents(col("l_discount"))).as("revenue"),
           count(lit(1)).as("n_rows"))

  /** TPC-H Q7-style: bilateral trade volume between two nations by year.
    * Exercises join-of-joins with a disjunctive cross-nation predicate.
    */
  def q7NationTrade(spark: SparkSession, dir: String): DataFrame = {
    val n1 = broadcast(Tables.nation(spark, dir))
      .select(col("n_nationkey").as("supp_nk"), col("n_name").as("supp_nation"))
    val n2 = broadcast(Tables.nation(spark, dir))
      .select(col("n_nationkey").as("cust_nk"), col("n_name").as("cust_nation"))
    val s = Tables.supplier(spark, dir)
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n1, col("s_nationkey") === col("supp_nk"))
      .join(n2, col("c_nationkey") === col("cust_nk"))
      .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
              (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("bigint").as("l_year"))
      .agg(sum(discPriceC).as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q14-style: promo revenue share. Ratio of two decimal-exact
    * sums, emitted as both numerator and denominator (deterministic) plus
    * the double ratio (single division — IEEE-deterministic).
    */
  def q14PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(ts("1996-09-01")) &&
              col("l_shipdate") < lit(ts("1996-10-01")))
    val rev = discPriceC
    // No double ratio column: numeric→double conversion can differ by an
    // ulp between engines (single vs double rounding); numerator and
    // denominator are exact int64, callers divide.
    l.join(p, col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type").startsWith("PROMO"), rev).otherwise(lit(0L))).as("promo_revenue"),
        sum(rev).as("total_revenue"))
  }

  /** TPC-H Q18-style: large-volume orders — aggregate-then-join with a
    * having filter.
    */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(cents(col("l_quantity"))).as("total_qty"))
      .filter(col("total_qty") > 15000L) // 150 units, in cents
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    big.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(50)
  }

  /** TPC-H Q9-style: profit (discounted revenue) by supplier nation and
    * ship year for one part family — LIKE-filter pushdown into the part
    * scan, star join, two-column aggregation.
    */
  def q9ProfitByNation(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).filter(col("p_name").contains("widget"))
      .select(col("p_partkey"))
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    val n = broadcast(Tables.nation(spark, dir))
    Tables.lineitem(spark, dir)
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("l_shipdate")).cast("bigint").as("o_year"))
      .agg(sum(discPriceC).as("profit"))
      .orderBy(col("nation"), col("o_year"))
  }

  /** TPC-H Q8-style national market share: within one region's market
    * (customer side), for one part type over two years, the chosen
    * supplier nation's revenue vs the total — emitted as exact int64
    * numerator/denominator (share = nation_volume_c/total_volume_c;
    * no float division crosses the oracle). Two roles of `nation`
    * (customer's → region filter, supplier's → share bucket) join as
    * two broadcasts of the constant-size table — the classic
    * dimension-role-playing shape.
    */
  def q8MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val r = broadcast(Tables.region(spark, dir).filter(col("r_name") === "AMERICA"))
    val n1 = broadcast(Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_regionkey")))
    val n2 = broadcast(Tables.nation(spark, dir)
      .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation")))
    val p = Tables.part(spark, dir).filter(col("p_type") === "ECONOMY")
      .select(col("p_partkey"))
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(ts("1996-01-01")) &&
              col("o_orderdate") < lit(ts("1998-01-01")))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val c = Tables.customer(spark, dir).select(col("c_custkey"), col("c_nationkey"))
    Tables.lineitem(spark, dir)
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n1, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .join(s, col("l_suppkey") === col("s_suppkey"))
      .join(n2, col("s_nationkey") === col("s_nkey"))
      .groupBy(year(col("o_orderdate")).cast("bigint").as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_1", discPriceC)
          .otherwise(lit(0L))).as("nation_volume_c"),
        sum(discPriceC).as("total_volume_c"))
      .orderBy(col("o_year"))
  }

  /** TPC-H Q12-style: late shipments (> 60 days after order date) split
    * into high/low priority counts per line status — the CASE-aggregation
    * shape.
    */
  def q12LateShipments(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linestatus"), col("l_shipdate"))
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .groupBy(col("l_linestatus"))
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  /** TPC-H Q13-style: customer distribution by order count — left outer
    * join (customers with zero orders count too) then a histogram of the
    * per-customer counts.
    */
  def q13OrderDistribution(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey"))
    val o = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** TPC-H Q15-style: the top-revenue supplier(s) of a half-year — global
    * max via a single-row broadcast join (no window over the whole
    * aggregate, no second scan).
    */
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(ts("1996-01-01")) &&
              col("l_shipdate") < lit(ts("1996-07-01")))
      .groupBy(col("l_suppkey"))
      .agg(sum(discPriceC).as("total_revenue"))
    val top = rev.agg(max(col("total_revenue")).as("max_rev"))
    rev.join(broadcast(top), col("total_revenue") === col("max_rev"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q16-style (partsupp-free): distinct-supplier variety per
    * (brand, type) through the lineitem bridge — the count-distinct
    * two-phase aggregation shape.
    */
  def q16SupplierVariety(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_brand") =!= "Brand#1")
      .select(col("p_partkey"), col("p_brand"), col("p_type"))
    Tables.lineitem(spark, dir).select(col("l_partkey"), col("l_suppkey"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"))
  }

  /** TPC-H Q17-style: revenue of small-quantity lineitems (below 20% of
    * the part's average order quantity). The avg comparison stays in
    * exact integer arithmetic: qty·5·n < Σqty  ⇔  qty < 0.2·avg.
    */
  def q17SmallQuantityRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val perPart = l.groupBy(col("l_partkey").as("pk"))
      .agg(sum(cents(col("l_quantity"))).as("sum_qty_c"), count(lit(1)).as("n"))
    l.join(perPart, col("l_partkey") === col("pk"))
      .filter(cents(col("l_quantity")) * lit(5L) * col("n") < col("sum_qty_c"))
      .agg(sum(cents(col("l_extendedprice"))).as("total_price"),
           count(lit(1)).as("n_rows"))
  }

  /** TPC-H Q19-style: disjunctive brand/quantity/size predicates — the
    * OR-pushdown shape (each disjunct prunes on both tables).
    */
  def q19DisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_brand"), col("p_size"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"), col("l_discount"))
    l.join(p, col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("l_quantity").between(1, 11) && col("p_size").between(1, 5)) ||
        (col("p_brand") === "Brand#2" && col("l_quantity").between(10, 20) && col("p_size").between(1, 10)) ||
        (col("p_brand") === "Brand#3" && col("l_quantity").between(20, 30) && col("p_size").between(1, 15)))
      .agg(sum(discPriceC).as("revenue"), count(lit(1)).as("n_rows"))
  }

  /** TPC-H Q11-style (supplier balances for partsupp-free data): nations
    * holding more than 2% of global supplier account balance. The share
    * test is integer-exact: nation_sum · 50 > global_sum.
    */
  def q11NationBalanceShare(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir)
      .select(col("s_nationkey"), cents(col("s_acctbal")).as("bal_c"))
    val byNation = s.groupBy(col("s_nationkey")).agg(sum(col("bal_c")).as("nation_bal"))
    val global = byNation.agg(sum(col("nation_bal")).as("global_bal"))
    byNation.crossJoin(broadcast(global))
      .filter(col("nation_bal") * lit(50L) > col("global_bal"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("nation_bal"))
      .orderBy(col("nation_bal").desc, col("n_name"))
  }

  /** Pivoted quantity matrix: line status × return flag, each cell an
    * exact cents sum — the `pivot()` relational surface. The pivot
    * values are an explicit constant list, so Spark plans ONE
    * aggregation with no discovery pass over the data (the two-arg
    * pivot runs a distinct-values job first — never do that at 100 TB).
    */
  def qPivotReturns(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(sum(cents(col("l_quantity"))))
      .select(col("l_linestatus"),
        coalesce(col("A"), lit(0L)).as("qty_a"),
        coalesce(col("N"), lit(0L)).as("qty_n"),
        coalesce(col("R"), lit(0L)).as("qty_r"))
      .orderBy(col("l_linestatus"))

  /** Exact per-group median (lower median by rank arithmetic, total
    * order (value, event_id)) — the exact counterpart of the Approx
    * tier's KLL quantiles. Emitting a VALUE FROM THE DATA (not an
    * interpolated float) keeps the gate byte-stable.
    *
    * Scale: exact selection does NOT require the per-group total sort
    * the naive window formulation pays (one task per event_type sorting
    * the whole group — the measured sf10 drill's only >12× lane, 18.6 s
    * with parallelism pinned at the group count). Rank selection with
    * range pruning instead: (1) per-group min/max/count, one hash-agg;
    * (2) a 256-bin value histogram, one hash-agg; (3) cumulative counts
    * over the BIN-cardinality frame locate the bin holding rank
    * (n+1)/2; (4) only that bin's slice (≈ n/256 rows) pays a sort, via
    * a per-group window whose partition is the pruned slice. Bin edges
    * are pure pruning — any edges give the same bytes, so the double
    * arithmetic never reaches the result. Degenerate distributions
    * (every value equal ⇒ one bin) degrade to the naive cost, never to
    * a wrong answer.
    */
  def qExactMedian(spark: SparkSession, dir: String): DataFrame = {
    // Median is defined over NON-NULL values (SQL aggregate-null
    // semantics), made explicit here: without the filter a null value
    // gets a null bin, the null bin can be selected as the target, and
    // the equi-join on (event_type, bin) silently drops it — the group
    // would vanish from the output instead of reporting a median. The
    // oracle's window formulation ranks nulls too (DuckDB sorts them
    // last), so the two agree only on null-free input; the generator
    // emits none, and this filter makes the engine's stance deliberate
    // rather than incidental.
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("value"), col("event_id"))
      .filter(col("value").isNotNull)
    val stats = ev.groupBy(col("event_type")).agg(
      min(col("value")).as("mn"), max(col("value")).as("mx"),
      count(lit(1)).as("n"))
    val binned = ev.join(broadcast(stats), Seq("event_type"))
      .withColumn("bin",
        when(col("mx") === col("mn"), lit(0L)).otherwise(
          least(floor((col("value") - col("mn")) / (col("mx") - col("mn")) * 256)
            .cast("long"), lit(255L))))
      .select(col("event_type"), col("value"), col("event_id"), col("bin"))
    val hist = binned.groupBy(col("event_type"), col("bin")).count()
    val cumW = Window.partitionBy(col("event_type")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val target = hist
      .withColumn("before", coalesce(sum(col("count")).over(cumW), lit(0L)))
      .join(broadcast(stats.select(col("event_type"), col("n"))), Seq("event_type"))
      .withColumn("k", expr("(n + 1) div 2"))
      .filter(col("before") < col("k") &&
        col("before") + col("count") >= col("k"))
      .select(col("event_type"), col("bin"), col("before"), col("n"), col("k"))
    val sliceW = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("event_id"))
    binned.join(broadcast(target), Seq("event_type", "bin"))
      .withColumn("rk", row_number().over(sliceW))
      .filter(col("rk") + col("before") === col("k"))
      .select(col("event_type"), col("n"), col("value").as("median_value"))
      .orderBy(col("event_type"))
  }

  /** Daily cohort retention over the events stream: users bucketed by
    * first-activity day, counted per (cohort_day, days_since) — the
    * engagement matrix every product-analytics pipeline derives.
    *
    * Scale: the cohort assignment is a single window min over the
    * user-id partitioning (one shuffle); the distinct+agg reduce to
    * constant-cardinality (days × days) output. No join.
    */
  def qCohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), date_trunc("day", col("ts")).as("day"))
    val w = Window.partitionBy(col("user_id"))
    e.withColumn("cohort_day", min(col("day")).over(w))
      .select(col("user_id"), col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("bigint").as("days_since"))
      .distinct()
      .groupBy(col("cohort_day"), col("days_since"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_day"), col("days_since"))
  }

  /** Per-day order volume with a cumulative within-year running total —
    * the window-frame (ROWS UNBOUNDED PRECEDING) surface. Partitioning
    * the frame by year keeps the sort bounded per partition: a global
    * running total would serialize the whole history through one
    * partition at 100 TB.
    */
  def qCumulativeRevenue(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("yr"), col("o_orderdate").as("day"))
      .agg(count(lit(1)).as("n_orders"),
           sum(cents(col("o_totalprice"))).as("rev_c"))
    val w = Window.partitionBy(col("yr")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.select(col("yr").cast("bigint").as("yr"), col("day"),
        col("n_orders"), col("rev_c"),
        sum(col("rev_c")).over(w).as("cum_rev_c"))
      .orderBy(col("day"))
  }

  /** SCD Type-2 attribute history — the warehouse shape for "what was
    * this entity's attribute at time t": each user's event stream is
    * collapsed into validity intervals, one row per consecutive RUN of
    * the same event_type, with `valid_from`/`valid_to` bounds (half-open;
    * `valid_to` null on the current version) and a per-user version
    * number. Gaps-and-islands by a change-flag running sum: the island
    * id IS the version, so no second re-rank pass is needed.
    *
    * Scale: both stacked windows (lag + running sum) and the final
    * lead() all share ONE partitioning (user_id) and ordering
    * (ts, event_id) → a single shuffle; the island groupBy re-uses the
    * same key prefix. No join, no global sort until the (small) ordered
    * output.
    */
  def qScd2UserHistory(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("chg",
        when(lag(col("event_type"), 1).over(w).isNull ||
             lag(col("event_type"), 1).over(w) =!= col("event_type"), 1L)
          .otherwise(0L))
      .withColumn("version", sum(col("chg")).over(run))
      .groupBy(col("user_id"), col("version"), col("event_type"))
      .agg(min(col("ts")).as("valid_from"), max(col("ts")).as("last_seen"),
           count(lit(1)).as("n_events"))
    val wv = Window.partitionBy(col("user_id")).orderBy(col("version"))
    islands
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wv))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from"), col("valid_to"), col("last_seen"),
        col("n_events"), col("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** Per-user purchase-value DECILES (ntile) — the customer-value
    * segmentation every growth/analytics stack runs: users ranked by
    * lifetime purchase cents, split into 10 equal-count tiles, each tile
    * summarized. Ties are broken by user_id so the tile assignment is a
    * total order (oracle-exact).
    *
    * Scale: ntile is a GLOBAL rank — but its input is the already-
    * reduced per-user aggregate (users ≪ events, one hash-agg shuffle),
    * so the single-partition window sorts the small side, the same
    * shape as every registered top-k. The raw event table never passes
    * through the window.
    */
  def qUserValueDeciles(spark: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(cents(col("value"))).as("value_c"))
    val w = Window.orderBy(col("value_c").desc, col("user_id"))
    per.withColumn("decile", ntile(10).over(w).cast("bigint"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("value_c")).as("sum_value_c"),
        min(col("value_c")).as("min_value_c"),
        max(col("value_c")).as("max_value_c"))
      .orderBy(col("decile"))
  }

  /** TPC-H Q20-style: suppliers in one region who shipped more than half
    * of some PROMO part's 1996 volume (the excess-stock shape: inner agg
    * per (part, supplier) compared against a correlated per-part total,
    * then a semi-join into the supplier dimension). The share predicate
    * is integer-exact: qty·2 > total ⇔ share > 50%.
    *
    * Scale: the per-part total aggregates the ALREADY-REDUCED
    * (part, supplier) rows — both aggs hash-partial map-side; the
    * qualifying-supplier set is tiny → AQE broadcasts the semi-join;
    * nation/region are constant-size broadcasts.
    */
  def q20ExcessShippers(spark: SparkSession, dir: String): DataFrame = {
    val promo = Tables.part(spark, dir)
      .filter(col("p_type") === "PROMO").select(col("p_partkey"))
    val ps = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit(ts("1996-01-01")) &&
              col("l_shipdate") <  lit(ts("1997-01-01")))
      .join(promo, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(cents(col("l_quantity"))).as("qty_c"))
    val perPart = ps.groupBy(col("l_partkey")).agg(sum(col("qty_c")).as("tot_c"))
    val excess = ps.join(perPart, Seq("l_partkey"))
      .filter(col("qty_c") * lit(2L) > col("tot_c"))
      .select(col("l_suppkey")).distinct()
    Tables.supplier(spark, dir)
      .join(excess, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_name"), col("n_name"))
      .orderBy(col("s_name"))
  }

  /** TPC-H Q21-style: suppliers who kept orders waiting — for finalized
    * orders, the suppliers whose line was late while EVERY other
    * supplier on the same (multi-supplier) order shipped on time.
    * "Late" adapts to this schema as shipped > 60 days after the order
    * date (the [[q12LateShipments]] lateness rule; TPC-H's
    * receipt/commit columns don't exist in the testdata), and the
    * result keeps all nations (grouped by supplier and nation) instead
    * of TPC-H's single-nation filter.
    *
    * Scale shape: the reference formulation is a correlated EXISTS +
    * NOT EXISTS, i.e. two more probes of lineitem per lineitem row.
    * Rewritten set-oriented: ONE per-order aggregate (distinct
    * suppliers, distinct LATE suppliers) joined back to the late rows —
    * a supplier waits exactly when the order has ≥ 2 suppliers and its
    * only late supplier is this one. Two shuffles on l_orderkey total
    * (the second join is on the same key, so the exchange is reused),
    * never a self-join probe per row.
    *
    * Decorrelation twin of [[SqlQueries.qSupplierWait]]
    * (`q21_supplier_wait`), which submits the CORRELATED form through
    * the SQL surface and trusts Catalyst's subquery decorrelation:
    * this lane is the hand-decorrelated DataFrame shape (plus the
    * O-status filter and per-(order, supplier) dedup of multi-late-line
    * pairs), and its oracle deliberately stays correlated — value
    * parity proves the rewrite. Together the pair pins BOTH
    * decorrelation paths a production engine leans on.
    */
  def q21WaitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderstatus") === "F")
      .select(col("o_orderkey"), col("o_orderdate"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        (col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS")).cast("int"))
    // two-level aggregate instead of countDistinct×2: the distinct
    // pair frame (order, supplier, ever-late) is computed ONCE, then
    // rolled up per order — no expand operator, and the same frame
    // feeds both the counts and the late-row probe
    val perSupp = l.groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("late")).as("late"))
    val perOrder = perSupp.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_supp"), sum(col("late")).as("n_late_supp"))
    val waiting = perSupp.filter(col("late") === 1)
      .join(perOrder, Seq("l_orderkey"))
      .filter(col("n_supp") >= 2 && col("n_late_supp") === 1)
    waiting
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("s_name"), col("n_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  /** TPC-H Q22-style: wealthy inactive customers — above-average balance
    * (integer-exact: bal·n > Σbal over positive balances) with no orders
    * on/after the cutoff; grouped by market segment.
    */
  def q22WealthyInactive(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), cents(col("c_acctbal")).as("bal_c"))
    val positive = c.filter(col("bal_c") > 0)
      .agg(sum(col("bal_c")).as("sum_bal"), count(lit(1)).as("n_bal"))
    val recent = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(ts("1998-06-01")))
      .select(col("o_custkey"))
    c.crossJoin(broadcast(positive))
      .filter(col("bal_c") * col("n_bal") > col("sum_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("numcust"), sum(col("bal_c")).as("total_bal"))
      .orderBy(col("c_mktsegment"))
  }

  /** Data-quality reconciliation: does `o_totalprice` equal the order's
    * lineitem charge sum? A pipeline-validation staple (detects partial
    * loads / double loads). Exact int64 compare: totalprice is cents
    * (10^-2), the charge sum is in 10^-6 units, so equality is
    * `totalprice_c · 10^4 = Σcharge_c`. Orders with no lineitems are
    * classed separately via the left outer join's null.
    */
  def qOrderReconciliation(spark: SparkSession, dir: String): DataFrame = {
    val charges = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(discPriceC * (lit(100L) + cents(col("l_tax")))).as("charge_c"))
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), cents(col("o_totalprice")).as("total_c"))
      .join(charges, col("o_orderkey") === col("l_orderkey"), "left_outer")
      .withColumn("recon",
        when(col("charge_c").isNull, "no_lineitems")
          .when(col("total_c") * lit(10000L) === col("charge_c"), "exact")
          .otherwise("mismatch"))
      .groupBy(col("o_orderstatus"), col("recon"))
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderstatus"), col("recon"))
  }

  /** Sessionization over the events stream table: windows + lag + running
    * sum. A new session starts after a >30 min gap per user.
    */
  def qEventsSessionize(spark: SparkSession, dir: String): DataFrame =
    sessionize(Tables.events(spark, dir))

  /** [[qEventsSessionize]] over any (user_id, ts, event_id) frame — the
    * shared definition the streaming twin
    * ([[graft.streaming.StreamingSessionize]]) pins parity against.
    */
  private[graft] def sessionize(events: DataFrame, gapSeconds: Long = 1800): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        // exact MICROSECOND gap, matching the oracle's epoch_us: the
        // earlier unix_timestamp form truncated each endpoint to whole
        // seconds BEFORE differencing, so a gap of 1800.9s read as 1800
        // and fused two true sessions — invisible at sf0.01 (~0.2
        // boundary gaps expected), surfaced by the sf1 scale drill (11
        // of ~955k sessions diverged). The cast is a no-op for
        // TIMESTAMP and UTC-reinterprets NTZ driver files.
        when(col("prev_ts").isNull ||
             unix_micros(col("ts").cast("timestamp")) -
               unix_micros(col("prev_ts").cast("timestamp")) > gapSeconds * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
           min(col("ts")).as("session_start"),
           max(col("ts")).as("session_end"))
  }

  /** Ordered funnel (signup → view → purchase): per signed-up user, how
    * deep into the strictly-time-ordered funnel they got (1–3), each
    * stage within a 24 h conversion window of the previous one (the
    * window is what makes depth non-trivial — unbounded, every user in
    * the dense synthetic corpus converts). Each stage is "earliest
    * qualifying event after the previous stage's time, within window" —
    * min-aggregations joined on user_id, the set-oriented funnel
    * formulation (no per-user sequence scan; the three stage frames
    * shuffle once on user_id each and AQE broadcasts the small ones).
    */
  def qEventsFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val win = expr("INTERVAL 24 HOURS")
    def stage(tpe: String) = e.filter(col("event_type") === tpe)
      .select(col("user_id"), col("ts"))
    val s = stage("signup").groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val v = stage("view").join(s, "user_id")
      .filter(col("ts") > col("t1") && col("ts") <= col("t1") + win)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
    val p = stage("purchase").join(v, "user_id")
      .filter(col("ts") > col("t2") && col("ts") <= col("t2") + win)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
    s.join(v, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"),
        (lit(1L) + when(col("t2").isNotNull, 1L).otherwise(0L)
                 + when(col("t3").isNotNull, 1L).otherwise(0L)).as("funnel_depth"))
      .orderBy(col("user_id"))
  }

  /** HOPPING-WINDOW aggregation (`q_events_hopping`) — the sliding
    * windowed-analytics verb the tumbling/session lanes don't cover
    * (Spark's `window(ts, windowDuration, slideDuration)` TVF; the
    * HOP() of Flink/Calcite): 1-hour windows advancing every 30
    * minutes, so each event lands in exactly 2 overlapping windows,
    * aggregated per (window, event_type). Uses the NATIVE window TVF —
    * physically an Expand (row → its covering windows) feeding one
    * hash-agg, the same plan a streaming deployment's batch backfill
    * runs.
    *
    * Exactness: the window start is emitted as epoch MICROS (bigint) —
    * the grid arithmetic both engines share — and the value rolls up
    * as per-row floor(value·10⁶) micro-integers, never a double sum
    * (FIXTURES.md §3). The oracle re-derives the 2 covering hops per
    * event by integer floor-division on epoch_us.
    *
    * Scale: Expand doubles the row count before the partial agg —
    * map-side combine collapses to |windows|·|types| per task before
    * the single shuffle; window count grows with time span, not event
    * volume.
    */
  def qEventsHopping(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .withColumn("__ts", col("ts").cast("timestamp"))
      .groupBy(window(col("__ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(floor(col("value") * lit(1000000.0)).cast("bigint"))
          .as("value_micros"))
      .select(unix_micros(col("w.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("value_micros"))
      .orderBy(col("window_start_us"), col("event_type"))

  /** Events value profile: count/min/max per type. Double min/max are
    * pure comparisons (deterministic); no double sums (FIXTURES.md §3).
    */
  def qEventsValueStats(spark: SparkSession, dir: String): DataFrame =
    // two-phase distinct (see qRegionRevenue): min/max/count all
    // decompose through the per-(type, user) partial, so the Expand the
    // mixed distinct would plan is never needed
    Tables.events(spark, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(
        count(lit(1)).as("n_u"),
        min(col("value")).as("min_u"),
        max(col("value")).as("max_u"))
      .groupBy(col("event_type"))
      .agg(
        sum(col("n_u")).as("n"),
        min(col("min_u")).as("min_value"),
        max(col("max_u")).as("max_value"),
        // count(user_id), not count(1): the countDistinct this replaces
        // would ignore a NULL key
        count(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))

  /** Semi-structured: parse the JSON `props` column and aggregate. */
  def qEventsProps(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir, wide = true)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
           sum(col("k")).as("sum_k"),
           min(col("k")).as("min_k"),
           max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** Range-frame window (the banded range-join pattern without a join):
    * for every purchase, how many views did the user make in the
    * preceding hour? RANGE BETWEEN on the epoch ordering keeps this a
    * single shuffle on user_id — the O(n²)-per-user alternative is a
    * self-join with an interval predicate.
    */
  def qViewsBeforePurchase(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("epoch"))
      .rangeBetween(-3600, 0)
    Tables.events(spark, dir)
      .filter(col("event_type").isin("view", "purchase"))
      .withColumn("epoch", unix_timestamp(col("ts")))
      .withColumn("views_1h",
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"),
        // exclude the purchase row itself from its own frame? it is a
        // purchase, not a view, so the CASE already contributes 0
        col("views_1h"))
  }

  /** Semi-structured, schema-on-read: parse the whole JSON `props` column
    * to a map, explode its keys, count key frequency per event type —
    * the "what fields does this event stream actually carry" profiling
    * op (get_json_object in qEventsProps extracts one known key; this
    * discovers the key universe).
    */
  def qEventsPropsKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir, wide = true)
      .select(col("event_type"),
        explode(map_keys(from_json(col("props"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType)))).as("prop_key"))
      .groupBy(col("event_type"), col("prop_key"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"), col("prop_key"))

  /** Set operations: event types seen in the first week vs the last week.
    * The two distinct sets are persisted — each feeds three set-operation
    * branches, and without the persist Spark re-scans events for every
    * branch (6 scans instead of 2; CacheManager dedups by canonical plan).
    */
  def qSetOps(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = Tables.events(spark, dir)
    val early = e.filter(col("ts") < lit(ts("2024-01-08")))
      .select(col("event_type")).distinct().persist(MEMORY_AND_DISK)
    val late  = e.filter(col("ts") >= lit(ts("2024-01-24")))
      .select(col("event_type")).distinct().persist(MEMORY_AND_DISK)
    early.intersect(late).withColumn("which", lit("both"))
      .union(early.except(late).withColumn("which", lit("early_only")))
      .union(late.except(early).withColumn("which", lit("late_only")))
      .orderBy(col("event_type"))
  }

  /** Market-basket co-occurrence: the top 20 part pairs ordered together
    * most often — the collaborative-filtering / co-occurrence-matrix
    * precursor every recommendation pipeline starts from.
    *
    * Scale: the self-join is keyed on l_orderkey, so its size is
    * Σ_orders (lines per order)² — bounded by the ~7-line order cap, a
    * constant multiple of the lineitem scan, NEVER parts². Distinct
    * partkeys per order first (array-free, one hash-agg) so multi-line
    * part repeats don't inflate counts; the top-k is the per-partition
    * heap (TopKByOrder), no global sort.
    */
  def qCopurchasePairs(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    // aggregate-then-pair (r15 opt): collect the DISTINCT part set per
    // order in one map-side-combined pass and generate the a<b pairs
    // intra-row, instead of DISTINCT + equi-self-join — that shape
    // shuffled the (orderkey, partkey) frame twice and re-derived the
    // scan+distinct subtree once per join side. Pair fan-out is bounded
    // by basket size (≤7 lineitems/order in this corpus; real baskets
    // are similarly bounded), so the explode is per-order-quadratic,
    // never corpus-quadratic — same count as the join's a<b output.
    val sets = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("ps"))
    val pairs = sets
      .select(col("ps"), explode(col("ps")).as("part_a"))
      .select(col("part_a"),
        explode(filter(col("ps"), p => p > col("part_a"))).as("part_b"))
      .groupBy(col("part_a"), col("part_b"))
      .agg(count(lit(1)).as("n_orders"))
    // TakeOrderedAndProject: per-partition k-heaps + one k-row merge,
    // no global sort; ties broken on the pair so the cut is exact
    // the partition-less window below triggers Spark's "No Partition
    // Defined" warning, but its input is the limit(k) frame — moving
    // ≤ k report rows to one partition, never corpus data
    pairs.orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(k)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(
          col("n_orders").desc, col("part_a"), col("part_b"))).cast("bigint"))
  }
}
