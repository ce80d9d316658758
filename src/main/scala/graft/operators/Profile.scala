package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Data-quality profiling: per-column completeness + cardinality in ONE
  * pass over the table — the pre-ingest audit a curation pipeline runs
  * before trusting a new source (the Deequ/WhyLogs shape, exact here so
  * the oracle can hash it).
  *
  * Scale: all per-column aggregates run in a single aggregation (Spark
  * plans multi-distinct via Expand — one scan, rows × #columns
  * intermediate, map-side partial). For a 100 TB table you'd swap the
  * exact distinct counts for `approx_count_distinct` sketches (the
  * Approx tier's HLL path) and keep the identical output shape; the
  * exact form is what makes the correctness gate byte-stable.
  */
object Profile {

  /** (col_name, n_rows, n_nonnull, n_distinct) per column of `df`. */
  def columnProfile(df: DataFrame): DataFrame = {
    val cols = df.columns
    val aggs = count(lit(1)).as("__n") +:
      cols.flatMap(c => Seq(
        count(col(c)).as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c")))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = cols
      .map(c => s"'$c', __nn_$c, __nd_$c").mkString(", ")
    one.select(col("__n"),
        expr(s"stack(${cols.length}, $stackArgs) AS (col_name, n_nonnull, n_distinct)"))
      .select(col("col_name"), col("__n").as("n_rows"),
        col("n_nonnull"), col("n_distinct"))
      .orderBy(col("col_name"))
  }

  def profileOrders(spark: SparkSession, dir: String): DataFrame =
    columnProfile(Tables.orders(spark, dir, wide = true))

  /** Declarative data-quality EXPECTATIONS (the Deequ/Great-Expectations
    * shape): a rule set validated in bulk, one row per rule with exact
    * checked/violation counts — the contract gate a pipeline puts
    * between ingest and training. The synthetic generator does not
    * enforce ship-after-order, so that rule reports real violations;
    * the others pass clean — both outcomes are part of the gate.
    *
    * Scale: ALL single-table rules of a table evaluate in ONE
    * aggregation pass (conditional sums, map-side combined — never one
    * job per rule, the classic validator mistake); the two referential/
    * temporal rules share ONE left join. 100 TB cost: two scans + one
    * join, independent of rule count.
    */
  def expectations(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    val orderRules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "o_orderdate_in_range" ->
        (col("o_orderdate") < lit("1995-01-01").cast("timestamp") ||
         col("o_orderdate") > lit("2001-12-31").cast("timestamp")),
      "o_orderpriority_in_domain" ->
        !col("o_orderpriority").isin(
          "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
      "o_totalprice_positive" -> (col("o_totalprice") <= 0.0))
    val lineRules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "l_discount_in_range" ->
        (col("l_discount") < 0.0 || col("l_discount") > 0.1),
      "l_quantity_in_range" ->
        (col("l_quantity") < 1.0 || col("l_quantity") > 50.0))
    val joined = l.select(col("l_orderkey"), col("l_shipdate"))
      .join(o.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"), "left")
    val joinRules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "l_ship_after_order" ->
        (col("o_orderkey").isNotNull && col("l_shipdate") <= col("o_orderdate")),
      "lineitem_order_fk" -> col("o_orderkey").isNull)
    ruleBlock(o, orderRules)
      .unionAll(ruleBlock(l, lineRules))
      .unionAll(ruleBlock(joined, joinRules))
      .orderBy(col("rule"))
  }

  /** Evaluate a rule set over one DataFrame in a single aggregation:
    * (rule, n_checked, n_violations) per rule.
    */
  private def ruleBlock(df: DataFrame,
                        rules: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    val aggs = count(lit(1)).as("__n") +: rules.map { case (n, cond) =>
      sum(when(cond, 1L).otherwise(0L)).as(s"__v_$n")
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rules.map { case (n, _) =>
        struct(lit(n).as("rule"), col("__n").as("n_checked"),
          col(s"__v_$n").as("n_violations"))
      }: _*)).as("r"))
      .select(col("r.rule").as("rule"), col("r.n_checked").as("n_checked"),
        col("r.n_violations").as("n_violations"))
  }

  /** Robust per-day volume anomaly detection — the freshness/volume
    * monitor every ingest pipeline runs: a day is anomalous when its
    * event count deviates from the median daily count by more than
    * 3×MAD (median absolute deviation). Median/MAD instead of
    * mean/stddev so one bad day can't drag the baseline toward itself,
    * and everything stays in exact integer arithmetic (rank-selected
    * medians, integer deviations) — no float, fully oracle-exact.
    *
    * Scale: the day-level reduction is the only corpus-sized pass; the
    * two median selections rank a calendar-cardinality frame (≤ days),
    * so the single-partition windows are constant work at any SF.
    */
  def anomalyDays(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("event_date"))
      .agg(count(lit(1)).as("n_events"))
    def medianOf(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val w = Window.orderBy(col(valueCol), col("event_date"))
      df.withColumn("__rk", row_number().over(w))
        .withColumn("__cnt", count(lit(1)).over(
          Window.partitionBy(lit(1))))
        .filter(col("__rk") === expr("(__cnt + 1) div 2")) // integer div: even counts pick the lower middle
        .select(col(valueCol).as(out))
    }
    val med = medianOf(daily, "n_events", "med_n")
    val dev = daily.crossJoin(broadcast(med))
      .withColumn("dev", abs(col("n_events") - col("med_n")))
    val mad = medianOf(dev, "dev", "mad_n")
    dev.crossJoin(broadcast(mad))
      .select(col("event_date"), col("n_events"), col("med_n"), col("mad_n"),
        when(col("dev") > lit(3) * greatest(col("mad_n"), lit(1L)), 1L)
          .otherwise(0L).as("is_anomaly"))
      .orderBy(col("event_date"))
  }
}
