package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Lane.{RowsOnly, Sql}
import graft.operators.{Dedup, MinHash, Relational, Similarity, TextOps}

/** Driver contract — see SURVEY.md §7 and the build prompt.
  *
  * Every operator from SURVEY.md §2 plus the north-star extension surface
  * (relational analytics, text analysis, minhash/simhash near-dedup,
  * embedding similarity) is registered here as one [[Lane]] in [[lanes]],
  * with equivalent DuckDB oracle SQL; `queries`, `oracleSql` and
  * `stageBuilders` are views over that one registry. Determinism rules: FIXTURES.md §3 (decimal-exact sums, pinned
  * "now", total orders on every top-k).
  */
object SparkEntry {

  private val eventCols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
  private val dedupNow = java.sql.Timestamp.valueOf("2024-01-20 00:00:00")
  private val TtlSeconds = 1209600L // 14 days

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("dedup_first_wins")(spark, "/root/testdata/sf0.001")

  /** The lane registry: the one place a lane is declared. Each literal
    * holds the lane's run, its DuckDB oracle (or the spec that gates a
    * rows-only lane) and its stage builder. A lazy val because the oracle
    * SQL helpers are declared further down, and a strict val would read
    * them as null; a name declared twice fails here.
    */
  lazy val lanes: Seq[Lane] = Lane.unique(Seq(
    // ── dedup core (SURVEY §2 O1-O11, set-oriented translation §2.1) ──
    Lane("dedup_first_wins", (s, d) =>
      Dedup.firstWins(Tables.events(s, d), Seq("user_id", "event_type"), Seq("ts", "event_id")),
      Sql(s"SELECT $eventColsSql FROM events QUALIFY $dedupWin = 1")),
    Lane("dedup_audit_states", (s, d) =>
      Dedup.auditStates(Tables.events(s, d), Seq("user_id", "event_type"), Seq("ts", "event_id")),
      Sql(s"SELECT $eventColsSql, CAST(CASE WHEN $dedupWin = 1 THEN 1 ELSE 2 END AS SMALLINT) AS state FROM events")),
    Lane("dedup_counts", (s, d) =>
      Dedup.counts(Tables.events(s, d), Seq("user_id", "event_type"), Seq("ts", "event_id")),
      Sql("""SELECT user_id, event_type, count(*) AS n_attempts,
        |       min(ts) AS first_time, max(ts) AS last_time
        |FROM events GROUP BY 1, 2""".stripMargin)),
    // full state lattice incl. FAILED: attempts with value < 10 are
    // treated as failed business blocks (excluded from winner selection,
    // reference DeduplicationProvider.kt:132)
    Lane("dedup_audit_failures", (s, d) =>
      Dedup.auditStates(Tables.events(s, d), Seq("user_id", "event_type"),
        Seq("ts", "event_id"), failedCol = Some(col("value") < 10.0)),
      Sql(s"""SELECT $eventColsSql,
         |  CAST(CASE WHEN value < 10.0 THEN 4
         |            WHEN row_number() OVER (PARTITION BY user_id, event_type
         |              ORDER BY (value < 10.0), ts, event_id) = 1 THEN 1
         |            ELSE 2 END AS SMALLINT) AS state
         |FROM events""".stripMargin)),
    Lane("dedup_ttl_first_wins", (s, d) =>
      Dedup.firstWins(
        Dedup.ttlFilter(Tables.events(s, d), "ts", TtlSeconds, dedupNow),
        Seq("user_id", "event_type"), Seq("ts", "event_id")),
      Sql(s"""SELECT $eventColsSql FROM events
         |WHERE ts + INTERVAL 1209600 SECOND > TIMESTAMP '2024-01-20 00:00:00'
         |QUALIFY $dedupWin = 1""".stripMargin)),
    Lane("dedup_absorber", (s, d) =>
      Dedup.absorberFirstWins(Tables.events(s, d), Seq("user_id", "event_type"), Seq("ts", "event_id")),
      Sql(s"SELECT $eventColsSql FROM events QUALIFY $dedupWin = 1")),
    // the file-backed log's full write→TTL-compact→read round trip
    // (O1/O17 append, O10 reclaim, O2 read) under the hash gate — the
    // oracle reproduces the same derivation + TTL filter in pure SQL
    Lane("dedup_log_compaction", (s, d) => sources.DedupLogStore.statsOf(
      s, sources.DedupLogStore.ensureCompactedLog(s, d)),
      // write→compact→read round trip collapses to derivation + TTL filter
      // in pure SQL (the store's job is to preserve exactly the live rows)
      Sql("""WITH a AS (
        |  SELECT CAST(user_id AS VARCHAR) || '_' || event_type AS key,
        |    CAST(CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
        |                     ORDER BY ts, event_id) = 1
        |         THEN 1 ELSE 2 END AS SMALLINT) AS state,
        |    CASE WHEN event_id % 5 = 0 THEN ts + INTERVAL 1 DAY END AS expires_at
        |  FROM events)
        |SELECT state, count(*) AS n_rows, count(DISTINCT key) AS n_keys
        |FROM a
        |WHERE expires_at IS NULL OR expires_at > TIMESTAMP '2030-01-01 00:00:00'
        |GROUP BY 1""".stripMargin),
      build = Some((s, d) => { sources.DedupLogStore.ensureCompactedLog(s, d); () })),
    // JSONL landing zone: write → deterministic corruption → schema-
    // enforced PERMISSIVE re-read → per-lane (incl. quarantine) counts
    Lane("source_jsonl_quarantine", sources.JsonlIngest.quarantineAccounting(_, _),
      // recomputed from documents + the corruption rule: matching the
      // engine's write→corrupt→parse round trip pins all four stages
      Sql("""SELECT CASE WHEN doc_id % 17 = 3 THEN '_quarantined' ELSE lang END AS lane,
        |  count(*) AS n_lines,
        |  CAST(SUM(CASE WHEN doc_id % 17 = 3 THEN 0 ELSE n_chars END) AS BIGINT) AS sum_chars,
        |  CAST(SUM(CASE WHEN doc_id % 17 = 3 THEN 0 ELSE doc_id END) AS BIGINT) AS id_sum
        |FROM documents GROUP BY 1 ORDER BY lane""".stripMargin)),
    // dated lake layout round trip: events → partitionBy(event_date) →
    // PRUNED window re-read (PartitionFilters + numFiles attested in
    // TimePartitionedStoreSpec) → per-(day, type) exact stats
    Lane("source_time_partitioned", sources.TimePartitionedStore.prunedDailyStats(_, _),
      // recomputed from the raw events table with the equivalent bounds —
      // a match proves the dated layout preserved rows AND the date
      // derivation / pruning predicate agree
      Sql("""SELECT CAST(ts AS DATE) AS event_date, event_type,
        |  count(*) AS n_events,
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events
        |WHERE CAST(ts AS DATE) >= DATE '2024-01-08' AND CAST(ts AS DATE) < DATE '2024-01-15'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      build = Some((s, d) => { sources.TimePartitionedStore.ensureDatedLayout(s, d); () })),
    // incrementally-maintained daily rollup: partial (day, type) aggs,
    // newest day appended, merged on read — must equal the direct agg
    Lane("source_rollup_incremental", sources.TimePartitionedStore.rollupTotals(_, _),
      // merged partials must equal the direct aggregation of raw events
      Sql("""SELECT event_type, count(*) AS n_events,
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin),
      build = Some((s, d) => { sources.TimePartitionedStore.ensureDailyRollup(s, d); () })),
    // CDC MERGE round trip: fresh dated-layout copy → deterministic
    // upsert/delete/insert batch → touched-day-only rewrite → re-read
    Lane("source_cdc_merge", (s, d) => sources.CdcMerge.cdcMergeSummary(s, d),
      // CDC merge: the oracle re-derives the same deterministic change
      // batch and applies it relationally — delete beats same-key upsert;
      // inserts are cloned keys (+10^7) that keep their day
      Sql("""WITH w AS (SELECT * FROM events
        |  WHERE CAST(ts AS DATE) >= DATE '2024-01-08'
        |    AND CAST(ts AS DATE) <= DATE '2024-01-10'),
        |merged AS (
        |  SELECT event_id, ts, value FROM events
        |  WHERE NOT (event_id % 13 = 0 OR event_id % 17 = 0)
        |     OR CAST(ts AS DATE) < DATE '2024-01-08'
        |     OR CAST(ts AS DATE) > DATE '2024-01-10'
        |  UNION ALL
        |  SELECT event_id, ts, value + 1000 AS value FROM w
        |  WHERE event_id % 13 = 0 AND event_id % 17 <> 0
        |  UNION ALL
        |  SELECT event_id + 10000000 AS event_id, ts, value FROM w
        |  WHERE event_id % 19 = 0)
        |SELECT CAST(ts AS DATE) AS event_date, count(*) AS n_events,
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS value_cents
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin),
      build = Some((s, d) => { sources.CdcMerge.ensureMergeScratch(s, d); () })),
    // versioned snapshot store (manifest log + bucket-level COW):
    // three committed versions, every one summarized via time travel
    Lane("source_time_travel", (s, d) => sources.SnapshotStore.timeTravelSummary(s, d),
      // time travel: the oracle replays both deterministic change batches
      // as sequential relational passes (delete beats same-key upsert;
      // batch 2 derives from v1 content, so its upserts never resurrect a
      // v1-deleted key) and must match the engine's readAt() of EVERY
      // version after the last commit
      Sql("""WITH v0 AS (SELECT event_id, event_type, value FROM events
        |  WHERE CAST(ts AS DATE) >= DATE '2024-01-08'
        |    AND CAST(ts AS DATE) <= DATE '2024-01-10'),
        |v1 AS (SELECT event_id, event_type,
        |         value + CASE WHEN event_id % 13 = 0 THEN 1000 ELSE 0 END AS value
        |       FROM v0 WHERE event_id % 17 <> 0),
        |v2 AS (SELECT event_id, event_type,
        |         value + CASE WHEN event_id % 11 = 0 THEN 5000 ELSE 0 END AS value
        |       FROM v1 WHERE event_id % 23 <> 0)
        |SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_rows,
        |  CAST(SUM(event_id) AS BIGINT) AS id_sum,
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS value_cents
        |FROM v0
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), count(*),
        |  CAST(SUM(event_id) AS BIGINT),
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |FROM v1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), count(*),
        |  CAST(SUM(event_id) AS BIGINT),
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT)
        |FROM v2""".stripMargin),
      build = Some((s, d) => sources.SnapshotStore.ensureTimeTravelStore(s, d))),
    // change data feed over the same store: per version step, the
    // insert/update/delete rows, manifest-diff-pruned to moved buckets
    Lane("source_snapshot_changes", (s, d) => sources.SnapshotStore.snapshotChangesSummary(s, d),
      // change feed: the oracle re-derives each step's delete/update key
      // sets from the batch rules (inserts structurally absent — both
      // batches derive from store content); update requires the value to
      // actually differ, which the +1000/+5000 bumps guarantee
      Sql("""WITH v0 AS (SELECT event_id, value FROM events
        |  WHERE CAST(ts AS DATE) >= DATE '2024-01-08'
        |    AND CAST(ts AS DATE) <= DATE '2024-01-10'),
        |v1 AS (SELECT event_id FROM v0 WHERE event_id % 17 <> 0),
        |c01 AS (
        |  SELECT 'delete' AS change, event_id FROM v0 WHERE event_id % 17 = 0
        |  UNION ALL
        |  SELECT 'update', event_id FROM v0
        |  WHERE event_id % 13 = 0 AND event_id % 17 <> 0),
        |c12 AS (
        |  SELECT 'delete' AS change, event_id FROM v1 WHERE event_id % 23 = 0
        |  UNION ALL
        |  SELECT 'update', event_id FROM v1
        |  WHERE event_id % 11 = 0 AND event_id % 23 <> 0)
        |SELECT CAST(0 AS BIGINT) AS from_v, CAST(1 AS BIGINT) AS to_v, change,
        |  count(*) AS n_rows, CAST(SUM(event_id) AS BIGINT) AS id_sum
        |FROM c01 GROUP BY 3
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), CAST(2 AS BIGINT), change,
        |  count(*), CAST(SUM(event_id) AS BIGINT)
        |FROM c12 GROUP BY 3""".stripMargin),
      build = Some((s, d) => sources.SnapshotStore.ensureTimeTravelStore(s, d))),
    // retention vacuum round trip: copy → directory-level delete of
    // pre-retention days → stats over what remains
    Lane("source_vacuum_retention", (s, d) =>
      sources.TimePartitionedStore.vacuumedDailyStats(s, d),
      Sql("""SELECT CAST(ts AS DATE) AS event_date, count(*) AS n_events,
        |  CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events
        |WHERE CAST(ts AS DATE) >= DATE '2024-01-15'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // manifest file-skipping round trip: range-clustered layout +
    // per-file stats; one user's events via stat-matching files only
    Lane("source_manifest_lookup", (s, d) =>
      sources.FileManifest.manifestLookup(s, d),
      Sql("""SELECT event_id, ts, user_id, event_type, value
        |FROM events WHERE user_id = 7
        |ORDER BY event_id""".stripMargin)),
    // per-file Bloom skipping: the pruning axis min/max stats cannot
    // give a scattered high-cardinality key — probe opens only
    // bloom-positive files, result must equal the raw-table filter
    Lane("source_bloom_skipping", (s, d) =>
      sources.BloomSkipIndex.bloomLookup(s, d),
      // bloom file skipping: the oracle filters the raw table on the same
      // fixed probe workload the engine answers through per-file bit sets
      Sql(s"""SELECT event_id, user_id, event_type, value
        |FROM events
        |WHERE event_id IN (${sources.BloomSkipIndex.ProbeIds.mkString(", ")})
        |ORDER BY event_id""".stripMargin),
      build = Some((s, d) => { sources.BloomSkipIndex.ensureBloomIndex(s, d); () })),
    // ── relational analytics (SURVEY §7 M3) ──
    Lane("q1_pricing_summary", Relational.q1PricingSummary _,
      Sql(s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS sum_qty,
         |  CAST(SUM(${centsSql("l_extendedprice")}) AS BIGINT) AS sum_base_price,
         |  CAST(SUM($discPriceC) AS BIGINT) AS sum_disc_price,
         |  CAST(SUM($discPriceC * (100 + ${centsSql("l_tax")})) AS BIGINT) AS sum_charge,
         |  count(*) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY 1, 2""".stripMargin)),
    Lane("q3_shipping_priority", Relational.q3ShippingPriority _,
      Sql(s"""SELECT l_orderkey, o_orderdate, CAST(SUM($discPriceC) AS BIGINT) AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin)),
    Lane("q5_local_supplier", Relational.q5LocalSupplier _,
      Sql(q5Sql)),
    // same query through the explicit salted fact-join path (known-skew
    // technique made visible); identical oracle SQL as the unsalted form
    Lane("q5_local_supplier_salted", Relational.q5LocalSupplierSalted _,
      // salted variant: semantics identical by construction, so the oracle
      // is the SAME SQL — the salt must be invisible in the result
      Sql(q5Sql)),
    Lane("q10_returned_items", Relational.q10ReturnedItems _,
      Sql(s"""SELECT c_custkey, c_name, n_name, CAST(SUM($discPriceC) AS BIGINT) AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
         |GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin)),
    Lane("q4_priority_exists", Relational.q4PriorityExists _,
      Sql("""SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1""".stripMargin)),
    Lane("q6_forecast_revenue", Relational.q6ForecastRevenue _,
      Sql(s"""SELECT CAST(SUM(${centsSql("l_extendedprice")} * ${centsSql("l_discount")}) AS BIGINT) AS revenue,
         |  count(*) AS n_rows
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         |  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24""".stripMargin)),
    Lane("q7_nation_trade", Relational.q7NationTrade _,
      Sql(s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
         |  CAST(SUM($discPriceC) AS BIGINT) AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         |   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
         |GROUP BY 1, 2, 3""".stripMargin)),
    Lane("q14_promo_revenue", Relational.q14PromoRevenue _,
      Sql(s"""SELECT
         |  CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN $discPriceC ELSE 0 END) AS BIGINT) AS promo_revenue,
         |  CAST(SUM($discPriceC) AS BIGINT) AS total_revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""".stripMargin)),
    Lane("q18_large_orders", Relational.q18LargeOrders _,
      Sql(s"""SELECT c_custkey, c_name, o_orderkey, o_orderdate, total_qty
         |FROM (SELECT l_orderkey,
         |        CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS total_qty
         |      FROM lineitem GROUP BY 1) big
         |JOIN orders ON big.l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE total_qty > 15000
         |ORDER BY total_qty DESC, o_orderkey LIMIT 50""".stripMargin)),
    Lane("q_customers_no_orders", Relational.qCustomersNoOrders _,
      Sql("""SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate >= TIMESTAMP '1998-06-01 00:00:00')""".stripMargin)),
    Lane("q_min_cost_per_brand", operators.SqlQueries.qMinCostPerBrand _,
      // same SQL text both engines: Spark runs it via spark.sql
      Sql(operators.SqlQueries.minCostPerBrandSql)),
    Lane("q_cube_returns", operators.SqlQueries.qCubeReturns _,
      Sql(operators.SqlQueries.cubeReturnsSql)),
    Lane("dedup_counts_salted", (s, d) =>
      operators.Skew.saltedAggregate(Tables.events(s, d), Seq("user_id", "event_type"),
        Seq(operators.Skew.SaltedCount("n_attempts"),
            operators.Skew.SaltedMin("ts", "first_time"),
            operators.Skew.SaltedMax("ts", "last_time"))),
      // salted two-phase aggregation must equal the direct aggregation —
      // same oracle as dedup_counts
      Sql("""SELECT user_id, event_type, count(*) AS n_attempts,
        |       min(ts) AS first_time, max(ts) AS last_time
        |FROM events GROUP BY 1, 2""".stripMargin)),
    Lane("q_top_parts_per_brand", Relational.qTopPartsPerBrand _,
      Sql(s"""SELECT p_brand, p_partkey, p_name,
        |  ${centsSql("p_retailprice")} AS retail_price,
        |  CAST(rk AS BIGINT) AS rk
        |FROM (SELECT *, row_number() OVER (PARTITION BY p_brand
        |        ORDER BY p_retailprice DESC, p_partkey) AS rk FROM part)
        |WHERE rk <= 3""".stripMargin)),
    Lane("q8_market_share", Relational.q8MarketShare _,
      // share = nation_volume_c / total_volume_c, derivable exactly from
      // the two int64s — no float division crosses the hash gate
      Sql(s"""SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
         |  CAST(SUM(CASE WHEN n2.n_name = 'NATION_1' THEN $discPriceC ELSE 0 END) AS BIGINT) AS nation_volume_c,
         |  CAST(SUM($discPriceC) AS BIGINT) AS total_volume_c
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation n1 ON c_nationkey = n1.n_nationkey
         |JOIN region ON n1.n_regionkey = r_regionkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation n2 ON s_nationkey = n2.n_nationkey
         |WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         |GROUP BY 1 ORDER BY o_year""".stripMargin)),
    Lane("q9_profit_by_nation", Relational.q9ProfitByNation _,
      Sql(s"""SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS o_year,
         |  CAST(SUM($discPriceC) AS BIGINT) AS profit
         |FROM lineitem
         |JOIN part ON l_partkey = p_partkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |WHERE p_name LIKE '%widget%'
         |GROUP BY 1, 2""".stripMargin)),
    Lane("q12_late_shipments", Relational.q12LateShipments _,
      Sql("""SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
        |                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1""".stripMargin)),
    Lane("q13_order_distribution", Relational.q13OrderDistribution _,
      Sql("""SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |      GROUP BY c_custkey)
        |GROUP BY c_count""".stripMargin)),
    Lane("q15_top_supplier", Relational.q15TopSupplier _,
      Sql(s"""WITH rev AS (
         |  SELECT l_suppkey, CAST(SUM($discPriceC) AS BIGINT) AS total_revenue
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, total_revenue
         |FROM rev JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""".stripMargin)),
    Lane("q16_supplier_variety", Relational.q16SupplierVariety _,
      Sql("""SELECT p_brand, p_type,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1'
        |GROUP BY 1, 2""".stripMargin)),
    Lane("q17_small_qty_revenue", Relational.q17SmallQuantityRevenue _,
      Sql(s"""WITH per_part AS (
         |  SELECT l_partkey AS pk,
         |    CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS sum_qty_c,
         |    count(*) AS n
         |  FROM lineitem GROUP BY 1)
         |SELECT CAST(SUM(${centsSql("l_extendedprice")}) AS BIGINT) AS total_price,
         |  count(*) AS n_rows
         |FROM lineitem JOIN per_part ON l_partkey = pk
         |WHERE ${centsSql("l_quantity")} * 5 * n < sum_qty_c""".stripMargin)),
    Lane("q19_disjunctive_revenue", Relational.q19DisjunctiveRevenue _,
      Sql(s"""SELECT CAST(SUM($discPriceC) AS BIGINT) AS revenue, count(*) AS n_rows
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
         |   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
         |   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)""".stripMargin)),
    Lane("q11_nation_balance_share", Relational.q11NationBalanceShare _,
      Sql(s"""WITH by_nation AS (
         |  SELECT s_nationkey,
         |    CAST(SUM(${centsSql("s_acctbal")}) AS BIGINT) AS nation_bal
         |  FROM supplier GROUP BY 1)
         |SELECT n_name, nation_bal
         |FROM by_nation JOIN nation ON s_nationkey = n_nationkey
         |WHERE nation_bal * 50 > (SELECT CAST(SUM(nation_bal) AS BIGINT) FROM by_nation)""".stripMargin)),
    Lane("q22_wealthy_inactive", Relational.q22WealthyInactive _,
      Sql(s"""WITH bal AS (SELECT c_custkey, c_mktsegment,
         |               ${centsSql("c_acctbal")} AS bal_c FROM customer),
         |pos AS (SELECT CAST(SUM(bal_c) AS BIGINT) AS sum_bal, count(*) AS n_bal
         |        FROM bal WHERE bal_c > 0)
         |SELECT c_mktsegment, count(*) AS numcust,
         |  CAST(SUM(bal_c) AS BIGINT) AS total_bal
         |FROM bal, pos
         |WHERE bal_c * n_bal > sum_bal
         |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
         |                  AND o_orderdate >= TIMESTAMP '1998-06-01 00:00:00')
         |GROUP BY 1""".stripMargin)),
    Lane("q20_excess_shippers", Relational.q20ExcessShippers _,
      Sql(s"""WITH ps AS (
         |  SELECT l_partkey, l_suppkey,
         |    CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS qty_c
         |  FROM lineitem JOIN part ON l_partkey = p_partkey
         |  WHERE p_type = 'PROMO'
         |    AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         |    AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         |  GROUP BY 1, 2),
         |pt AS (SELECT l_partkey, CAST(SUM(qty_c) AS BIGINT) AS tot_c
         |       FROM ps GROUP BY 1),
         |excess AS (SELECT DISTINCT ps.l_suppkey FROM ps
         |           JOIN pt USING (l_partkey) WHERE ps.qty_c * 2 > pt.tot_c)
         |SELECT s_name, n_name
         |FROM supplier JOIN excess ON s_suppkey = l_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |ORDER BY s_name""".stripMargin)),
    // Q21 as a set-oriented rewrite: the correlated EXISTS/NOT EXISTS
    // pair becomes one per-order supplier/late-supplier aggregate
    Lane("q21_waiting_suppliers", Relational.q21WaitingSuppliers _,
      // Q21 oracle DELIBERATELY keeps TPC-H's original correlated
      // EXISTS / NOT EXISTS formulation — value parity with the engine's
      // set-oriented per-order-aggregate rewrite is the proof the rewrite
      // is semantics-preserving, not just faster
      Sql("""WITH late AS (
        |  SELECT DISTINCT l.l_orderkey, l.l_suppkey
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY),
        |w AS (
        |  SELECT t.l_orderkey, t.l_suppkey FROM late t
        |  WHERE EXISTS (SELECT 1 FROM lineitem l2
        |                WHERE l2.l_orderkey = t.l_orderkey AND l2.l_suppkey <> t.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM late l3
        |                    WHERE l3.l_orderkey = t.l_orderkey AND l3.l_suppkey <> t.l_suppkey))
        |SELECT s_name, n_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM w JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY 1, 2 ORDER BY numwait DESC, s_name""".stripMargin)),
    Lane("q_order_reconciliation", Relational.qOrderReconciliation _,
      Sql(s"""WITH charges AS (
         |  SELECT l_orderkey,
         |    CAST(SUM($discPriceC * (100 + ${centsSql("l_tax")})) AS BIGINT) AS charge_c
         |  FROM lineitem GROUP BY 1)
         |SELECT o_orderstatus,
         |  CASE WHEN charge_c IS NULL THEN 'no_lineitems'
         |       WHEN ${centsSql("o_totalprice")} * 10000 = charge_c THEN 'exact'
         |       ELSE 'mismatch' END AS recon,
         |  count(*) AS n_orders
         |FROM orders LEFT OUTER JOIN charges ON o_orderkey = l_orderkey
         |GROUP BY 1, 2""".stripMargin)),
    Lane("q21_supplier_wait", operators.SqlQueries.qSupplierWait _,
      Sql(operators.SqlQueries.supplierWaitSql)),
    // approximate aggregates: sketch VALUES are implementation-defined,
    // so the registered queries emit exact aggregates + booleans
    // attesting the sketch landed inside its published error bound; the
    // oracle recomputes the exact side and expects true (a green row
    // attests the accuracy contract, not the sketch bits). Raw sketch
    // outputs are accuracy/determinism-pinned in ApproxSpec.
    Lane("q_approx_distinct_users", operators.Approx.approxDistinctUsersChecked(_, _),
      // approx sketches: oracle recomputes the exact side; the booleans are
      // computed in Spark from the LIVE sketch (hash-match ⟺ sketch within
      // its published bound on this input)
      Sql("""SELECT event_type, count(*) AS n_events,
        |  count(DISTINCT user_id) AS exact_users,
        |  true AS hll_within_5rsd
        |FROM events GROUP BY 1""".stripMargin)),
    // Count-Min heavy hitters: md5-bucketed sketch is a pure function of
    // the data, so the estimates themselves sit under the exact gate
    Lane("q_approx_heavy_hitters", (s, d) => operators.Approx.cmsHeavyHitters(s, d),
      // CMS is md5-deterministic, so the oracle rebuilds the identical
      // d×w counter table and the ESTIMATES sit under the exact gate
      Sql("""WITH rb AS (
        |  SELECT user_id AS key, r,
        |    CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 64 AS b
        |  FROM events, unnest(range(0, 4)) u(r)),
        |cells AS (SELECT r, b, count(*) AS cnt FROM rb GROUP BY 1, 2),
        |exact AS (SELECT user_id AS key, count(*) AS exact_n FROM events GROUP BY 1),
        |kb AS (SELECT DISTINCT key, r, b FROM rb),
        |est AS (SELECT kb.key, CAST(min(cells.cnt) AS BIGINT) AS cms_estimate
        |        FROM kb JOIN cells ON kb.r = cells.r AND kb.b = cells.b GROUP BY 1)
        |SELECT e.key, e.exact_n, est.cms_estimate
        |FROM exact e JOIN est ON e.key = est.key
        |ORDER BY e.exact_n DESC, e.key LIMIT 20""".stripMargin)),
    // KMV theta-sketch set intersection (the operation HLL can't do),
    // estimate next to exact — every hash md5, bit-exact in the oracle
    Lane("q_approx_kmv_intersection", (s, d) => operators.Approx.kmvIntersection(s, d),
      // KMV sketch rebuilt hash-for-hash; the estimate's operation tree
      // mirrors the engine exactly so the IEEE roundings coincide
      Sql("""WITH h AS (SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h
        |           FROM events WHERE event_type IN ('view', 'purchase')),
        |sk AS (SELECT event_type, h FROM (
        |  SELECT event_type, h,
        |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk FROM h)
        |  WHERE rk <= 64),
        |merged AS (SELECT DISTINCT h FROM sk ORDER BY h LIMIT 64),
        |st AS (SELECT CAST(count(*) AS BIGINT) AS n_merged, max(h) AS hk FROM merged),
        |rho AS (SELECT CAST(count(*) AS BIGINT) AS rho FROM merged m
        |  WHERE m.h IN (SELECT h FROM sk WHERE event_type = 'view')
        |    AND m.h IN (SELECT h FROM sk WHERE event_type = 'purchase')),
        |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_inter FROM (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
        |  INTERSECT SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'))
        |SELECT CAST(64 AS BIGINT) AS k, st.n_merged, rho.rho,
        |  CASE WHEN st.n_merged < 64 THEN CAST(rho.rho AS DOUBLE)
        |       ELSE (CAST(rho.rho AS DOUBLE) / 64.0) * (63.0 /
        |         (CAST(CAST(('0x' || substr(st.hk, 1, 15)) AS UBIGINT) AS DOUBLE)
        |          / 1152921504606846976.0)) END AS kmv_estimate,
        |  ex.exact_inter
        |FROM st, rho, ex""".stripMargin)),
    // theta-sketch set DIFFERENCE (DataSketches AnotB) — completes the
    // sketch set-operation triad (HLL union / KMV intersect / this)
    Lane("q_approx_kmv_anotb", (s, d) => operators.Approx.kmvAnotB(s, d),
      // theta AnotB: θ = min(θ_A, θ_B) with an unsaturated sketch's θ = 2^60;
      // retained = A entries strictly below θ absent from B's sketch;
      // estimate ρ_d/θ mirrored in the engine's exact operation tree
      Sql("""WITH h AS (SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h
        |           FROM events WHERE event_type IN ('view', 'purchase')),
        |sk AS (SELECT event_type, h FROM (
        |  SELECT event_type, h,
        |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk FROM h)
        |  WHERE rk <= 64),
        |sa AS (SELECT CAST(count(*) AS BIGINT) AS n_a, max(h) AS hk_a FROM sk WHERE event_type = 'view'),
        |sb AS (SELECT CAST(count(*) AS BIGINT) AS n_b, max(h) AS hk_b FROM sk WHERE event_type = 'purchase'),
        |st AS (SELECT n_a, n_b,
        |         LEAST(
        |           CASE WHEN n_a < 64 THEN 1152921504606846976
        |                ELSE CAST(CAST(('0x' || substr(hk_a, 1, 15)) AS UBIGINT) AS BIGINT) END,
        |           CASE WHEN n_b < 64 THEN 1152921504606846976
        |                ELSE CAST(CAST(('0x' || substr(hk_b, 1, 15)) AS UBIGINT) AS BIGINT) END) AS theta
        |       FROM sa, sb),
        |rho AS (SELECT CAST(count(*) AS BIGINT) AS rho_d
        |        FROM sk a, st
        |        WHERE a.event_type = 'view'
        |          AND a.h NOT IN (SELECT h FROM sk WHERE event_type = 'purchase')
        |          AND CAST(CAST(('0x' || substr(a.h, 1, 15)) AS UBIGINT) AS BIGINT) < st.theta),
        |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_diff FROM (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
        |  EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'))
        |SELECT CAST(64 AS BIGINT) AS k, st.n_a, st.n_b, rho.rho_d,
        |  CASE WHEN st.n_a < 64 AND st.n_b < 64 THEN CAST(rho.rho_d AS DOUBLE)
        |       ELSE CAST(rho.rho_d AS DOUBLE) *
        |            (1152921504606846976.0 / CAST(st.theta AS DOUBLE)) END AS anotb_estimate,
        |  ex.exact_diff
        |FROM st, rho, ex""".stripMargin)),
    // market-basket co-occurrence: top part pairs ordered together
    Lane("q_copurchase_pairs", (s, d) => operators.Relational.qCopurchasePairs(s, d),
      // co-occurrence self-join keyed on the order, deterministic tie-break
      Sql("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_orders
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |      WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2)
        |SELECT part_a, part_b, n_orders,
        |  CAST(row_number() OVER (ORDER BY n_orders DESC, part_a, part_b) AS BIGINT) AS rnk
        |FROM p ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin)),
    // triangle census of the co-purchase graph: degree-ordered
    // orientation + wedge closure (each triangle counted exactly once)
    Lane("q_triangle_count", (s, d) => operators.Triangles.triangleCount(s, d),
      // triangle census: orientation + wedge closure re-derived CTE by
      // CTE; the degree orientation is part of the contract (each
      // triangle has exactly one two-out-edge node under the total order)
      Sql("""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |      WHERE a.l_partkey < b.l_partkey),
        |deg AS (SELECT node, count(*) AS d FROM (
        |          SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e)
        |        GROUP BY 1),
        |o AS (SELECT
        |        CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) THEN e.a ELSE e.b END AS u,
        |        CASE WHEN da.d < db.d OR (da.d = db.d AND e.a < e.b) THEN e.b ELSE e.a END AS v
        |      FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b),
        |w AS (SELECT o1.v AS x, o2.v AS y
        |      FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.v < o2.v),
        |tri AS (SELECT count(*) AS c FROM w JOIN e ON e.a = w.x AND e.b = w.y)
        |SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
        |       CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
        |       CAST((SELECT c FROM tri) AS BIGINT) AS n_triangles""".stripMargin),
      build = Some((s, d) => { operators.Triangles.triangleCount(s, d).count(); () })),
    // common-neighbor link prediction over the co-purchase graph, in
    // its probe-batch serving shape: per probe node, top not-yet-
    // connected candidates by exact shared-neighbor count
    Lane("q_link_prediction", (s, d) => operators.Triangles.linkPrediction(s, d),
      // link prediction (probe serving shape): capped-count shortlist +
      // exact rescore — witness lists capped by content-hash rank (md5,
      // cap 128: the power-law bound on the 2-hop counting mass), counts
      // over the capped lists rank a top-64 shortlist per probe (probe
      // itself and already-linked candidates excluded first), and each
      // shortlisted pair is rescored EXACTLY by neighbor-list
      // intersection over the 4096-capped arrays (exact at every gate
      // degree)
      Sql(s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |      WHERE a.l_partkey < b.l_partkey),
        |ebi AS MATERIALIZED (
        |  SELECT a AS u, b AS n FROM e UNION ALL SELECT b AS u, a AS n FROM e),
        |rkd AS MATERIALIZED (SELECT u, n, row_number() OVER (PARTITION BY u
        |    ORDER BY md5(CAST(u AS VARCHAR) || '_' || CAST(n AS VARCHAR)), n) AS crk
        |  FROM ebi),
        |ecap AS (SELECT u, n FROM rkd WHERE crk <= ${operators.Triangles.DiscoveryCap}),
        |eres AS (SELECT u, n FROM rkd WHERE crk <= ${operators.Triangles.RescoreCap}),
        |adj AS (SELECT u, list(n ORDER BY n) AS ns FROM eres GROUP BY u),
        |c AS (SELECT h1.u AS p, h2.n AS y, count(*) AS apx
        |      FROM ebi h1 JOIN ecap h2 ON h1.n = h2.u
        |      WHERE h1.u % 97 = 0 AND h2.n <> h1.u
        |      GROUP BY 1, 2),
        |nc0 AS (SELECT c.p, c.y, c.apx FROM c
        |       LEFT JOIN eres ep ON ep.u = c.p AND ep.n = c.y
        |       WHERE ep.u IS NULL),
        |shortl AS (SELECT p, y FROM (SELECT *, row_number() OVER (PARTITION BY p
        |        ORDER BY apx DESC, y) AS srk FROM nc0)
        |       WHERE srk <= ${operators.Triangles.ShortlistS}),
        |sc AS (SELECT s.p, s.y,
        |         CAST(len(list_intersect(ap.ns, ay.ns)) AS BIGINT) AS n_common
        |       FROM shortl s JOIN adj ap ON ap.u = s.p JOIN adj ay ON ay.u = s.y)
        |SELECT p AS probe_part, y AS cand_part, n_common,
        |  CAST(rk AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY p
        |        ORDER BY n_common DESC, y) AS rk FROM sc)
        |WHERE rk <= 5 ORDER BY probe_part, rnk""".stripMargin),
      // link prediction's ingest artifacts: the capped witness arrays
      // (counting messages) + the rescore neighbor arrays (the probe
      // then pays counting + shortlist + intersect + top-k only)
      build = Some((s, d) => {
        operators.Triangles.adjacencyArrays(s, d,
          operators.Triangles.DiscoveryCap).count()
        operators.Triangles.adjacencyArrays(s, d,
          operators.Triangles.RescoreCap).count(); () })),
    // k-core bounded peel trace over the trade graph at the data-
    // adaptive k = median degree: per round, peeled node count +
    // surviving nodes/edges — the convergence artifact of the dense-
    // substructure filter (a zero-peel final round certifies the true
    // k-core was reached)
    Lane("q_kcore_peel", (s, d) => operators.KCore.kcorePeel(s, d),
      // k-core bounded peel trace: the oracle unrolls the R rounds CTE by
      // CTE — degree over surviving edges, survivors = degree >= k, edges
      // restricted to survivors — and emits one exact-count row per round
      Sql(kcoreSql(6)),
      build = Some((s, d) => { operators.KCore.kcorePeel(s, d).count(); () })),
    // multi-source BFS frontier trace from the probe batch over the
    // co-purchase graph: per hop, first-discovered and cumulative reach
    Lane("q_bfs_hops", (s, d) => operators.Bfs.bfsHops(s, d),
      // multi-source BFS: R unrolled frontier/visited rounds (materialized
      // — the unrolled chain re-expands exponentially as plain CTEs)
      Sql(bfsSql(4)),
      // the frontier/peel traces are ingest-time census artifacts (the
      // triangle-census convention): the builder pays the bounded-round
      // iteration once, probes read the memoized trace rows
      build = Some((s, d) => { operators.Bfs.bfsHops(s, d).count(); () })),
    // push-PPR related-items ranker in the link-prediction serving
    // shape: walk mass from each probe, not-yet-connected top-k
    Lane("q_ppr_topk", (s, d) => operators.Ppr.pprTopK(s, d),
      // personalized PageRank (push, 3 bounded rounds) from the probe
      // batch: integer residual arithmetic, truncated power-series score
      Sql(pprSql(3, 5)),
      build = Some((s, d) => { operators.Ppr.pprTopK(s, d).count(); () })),
    // synchronous label propagation over the strong co-purchase graph
    // (pairs sharing >= 2 orders): per-node community label after 4
    // bounded BSP rounds, plus the per-round modularity trace
    Lane("q_community_labels", (s, d) => operators.Community.communityLabels(s, d),
      // synchronous LPA over the strong co-purchase graph: 4 unrolled
      // MATERIALIZED rounds; labels + the per-round modularity trace
      // (integer q_num/q_den, ONE IEEE division for q)
      Sql(communityLabelsSql(operators.Community.Rounds)),
      // the LPA census artifacts (labels + modularity trace) are
      // ingest-time builds like the triangle census
      build = Some((s, d) => { operators.Community.communityLabels(s, d).count(); () })),
    Lane("q_community_modularity", (s, d) => operators.Community.communityModularity(s, d),
      Sql(communityModularitySql(operators.Community.Rounds)),
      build = Some((s, d) => { operators.Community.communityModularity(s, d).count(); () })),
    // integer PageRank over the customer-supplier trade graph, 5
    // iterations, exact in both engines (damping as the rational 17/20,
    // per-edge integer division) — the influence rank degree can't see
    Lane("q_pagerank_trade", (s, d) => operators.PageRank.supplierPageRank(s, d),
      // five unrolled exact-integer power iterations — SUM of per-edge
      // (r*17)//(20*deg) contributions is order-independent, so the rank
      // values match the engine bit-for-bit
      Sql(pagerankSql)),
    Lane("q_approx_value_quantiles", operators.Approx.approxValueQuantilesChecked(_, _),
      Sql("""SELECT event_type, count(value) AS n_events,
        |  true AS p50_in_bounds, true AS p95_in_bounds, true AS p99_in_bounds
        |FROM events GROUP BY 1""".stripMargin)),
    // sketch re-aggregation: per-day HLL sketches unioned ≡ one global
    // sketch (structural register-max property), within 5·rsd of exact
    Lane("q_approx_distinct_daily_merge", (s, d) => operators.Approx.hllDailyMergeChecked(s, d),
      // sketch re-aggregation: the oracle recomputes n_days / exact_users;
      // merged_eq_global is the structural union-losslessness attestation
      // and merged_within_5rsd the accuracy contract, both live in Spark
      Sql("""SELECT event_type,
        |  count(DISTINCT CAST(ts AS DATE)) AS n_days,
        |  count(DISTINCT user_id) AS exact_users,
        |  true AS merged_eq_global, true AS merged_within_5rsd
        |FROM events GROUP BY 1""".stripMargin)),
    // the quantile twin: per-day KLL sketches merged, the merged p50/p95
    // rank-checked exactly against a full re-scan (KLL compaction is
    // randomized, so the CONTRACT is the gate, never the sketch bits)
    Lane("q_approx_quantile_merge", (s, d) => operators.Approx.kllDailyMergeChecked(s, d),
      // merged-KLL quantiles: oracle recomputes the exact side (day and
      // value counts); the rank-bound booleans are the engine-attested
      // contract (sketch values are implementation-defined, never compared)
      Sql("""SELECT event_type,
        |  count(DISTINCT CAST(ts AS DATE)) AS n_days,
        |  CAST(count(*) AS BIGINT) AS n_values,
        |  true AS p50_rank_ok, true AS p95_rank_ok
        |FROM events WHERE value IS NOT NULL GROUP BY 1""".stripMargin)),
    // the exact counterpart: rank-arithmetic lower median per group
    Lane("q_exact_median", Relational.qExactMedian _,
      Sql("""WITH r AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type, CAST(n AS BIGINT) AS n, value AS median_value
        |FROM r WHERE rk = (n + 1) // 2
        |ORDER BY event_type""".stripMargin)),
    Lane("q_rollup_returns", Relational.qRollupReturns _,
      Sql(s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  CAST(SUM(${centsSql("l_quantity")}) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin)),
    // pivot() with explicit values (no distinct-discovery pass)
    Lane("q_pivot_returns", Relational.qPivotReturns _,
      Sql(s"""SELECT l_linestatus,
         |  CAST(COALESCE(SUM(CASE WHEN l_returnflag = 'A' THEN ${centsSql("l_quantity")} END), 0) AS BIGINT) AS qty_a,
         |  CAST(COALESCE(SUM(CASE WHEN l_returnflag = 'N' THEN ${centsSql("l_quantity")} END), 0) AS BIGINT) AS qty_n,
         |  CAST(COALESCE(SUM(CASE WHEN l_returnflag = 'R' THEN ${centsSql("l_quantity")} END), 0) AS BIGINT) AS qty_r
         |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    Lane("q_region_revenue", Relational.qRegionRevenue _,
      Sql(s"""SELECT r_name, CAST(SUM($discPriceC) AS BIGINT) AS revenue,
         |  count(DISTINCT o_orderkey) AS n_orders
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY 1""".stripMargin)),
    Lane("q_events_sessionize", Relational.qEventsSessionize _,
      Sql("""WITH l AS (SELECT user_id, event_id, ts,
        |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |           FROM events),
        |e AS (SELECT *, CASE WHEN prev_ts IS NULL
        |                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1
        |                     ELSE 0 END AS new_session FROM l),
        |s AS (SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM e)
        |SELECT user_id, session_id, count(*) AS n_events,
        |       min(ts) AS session_start, max(ts) AS session_end
        |FROM s GROUP BY 1, 2""".stripMargin)),
    // point-in-interval via binned equi-join (never a nested loop)
    Lane("q_range_concurrency", operators.RangeJoin.qSessionConcurrency _,
      // the engine executes this as a boundary SWEEP (delta rows +1/-1 at
      // session edges, prefix-summed per hour bin; RangeJoin
      // .qSessionConcurrency); the oracle states the raw range predicate.
      // The oracle's inner join emits NO row for a probe inside zero
      // sessions while the sweep would emit n_active_sessions=0 — they
      // agree because every purchase event is itself an event of some
      // session, so its own session's [start,end] always covers it
      // (count ≥ 1). RangeJoinSpec pins that invariant and the
      // sweep ≡ binned-equi-join row equivalence on the test corpus.
      Sql("""WITH l AS (SELECT user_id, event_id, ts,
        |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |           FROM events),
        |e AS (SELECT *, CASE WHEN prev_ts IS NULL
        |                       OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1
        |                     ELSE 0 END AS new_session FROM l),
        |s AS (SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM e),
        |sess AS (SELECT user_id, session_id, min(ts) AS session_start, max(ts) AS session_end
        |         FROM s GROUP BY 1, 2)
        |SELECT p.event_id, p.ts, count(*) AS n_active_sessions
        |FROM events p JOIN sess ON p.ts >= sess.session_start AND p.ts <= sess.session_end
        |WHERE p.event_type = 'purchase'
        |GROUP BY 1, 2""".stripMargin)),
    Lane("q_events_props", Relational.qEventsProps _,
      Sql("""SELECT event_type, count(*) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
        |       min(k) AS min_k, max(k) AS max_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events)
        |GROUP BY 1""".stripMargin)),
    Lane("q_events_props_keys", Relational.qEventsPropsKeys _,
      Sql("""SELECT event_type, k AS prop_key, count(*) AS n
        |FROM (SELECT event_type, unnest(json_keys(props)) AS k FROM events)
        |GROUP BY 1, 2""".stripMargin)),
    Lane("q_views_before_purchase", Relational.qViewsBeforePurchase _,
      Sql("""SELECT event_id AS purchase_id, user_id, ts, views_1h
        |FROM (SELECT event_id, user_id, ts, event_type,
        |        CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |          OVER (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
        |                RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS BIGINT)
        |          AS views_1h
        |      FROM events WHERE event_type IN ('view', 'purchase'))
        |WHERE event_type = 'purchase'""".stripMargin)),
    Lane("q_embedding_label_stats", (s, d) => operators.Similarity.labelStats(s, d),
      Sql("""SELECT label, count(*) AS n_vecs,
        |  CAST(min(nq) AS BIGINT) AS min_norm_q,
        |  CAST(max(nq) AS BIGINT) AS max_norm_q
        |FROM (SELECT label,
        |        floor(sqrt(list_sum(list_transform(embedding,
        |          x -> x::DOUBLE * x::DOUBLE))) * 1e6) AS nq
        |      FROM embeddings)
        |GROUP BY 1""".stripMargin)),
    // int8 quantization scale + code checksum per vector (index build)
    Lane("q_embedding_quantize", (s, d) => operators.Similarity.quantizeSummary(s, d),
      // int8 quantization: scale is a comparison (max |x|), codes are a
      // divide-multiply-floor chain (identical IEEE double arithmetic both
      // engines), checksum is an integer sum — order-independent
      Sql("""SELECT vec_id,
        |  CAST(floor(mx * 1000000) AS BIGINT) AS maxabs_q,
        |  CAST(list_sum(list_transform(embedding,
        |    x -> floor(x::DOUBLE / mx * 127))) AS BIGINT) AS code_sum
        |FROM (SELECT vec_id, embedding,
        |        list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS mx
        |      FROM embeddings)""".stripMargin)),
    // JL sign-projection sketch: 64→16 dims through an md5-derived ±1
    // matrix on int64-quantized components — one kernel pass, no shuffle
    Lane("q_embedding_project", (s, d) => operators.Similarity.jlProjectSummary(s, d),
      // JL sign projection: the ±1 matrix is rebuilt cell-for-cell from
      // md5 parity; components quantize floor(1e6·x) to int64 before any
      // arithmetic, so every sum is exact integer math in both engines
      Sql("""WITH e AS (
        |  SELECT vec_id, i - 1 AS i,
        |    CAST(floor(1e6 * embedding[i]::DOUBLE) AS BIGINT) AS q
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) u(i)),
        |s AS (
        |  SELECT e.vec_id, j.j,
        |    SUM(CASE WHEN CAST(('0x' || substr(md5('jl|' || CAST(e.i AS VARCHAR) || '|' || CAST(j.j AS VARCHAR)), 1, 15)) AS UBIGINT) % 2 = 0
        |             THEN e.q ELSE -e.q END) AS p
        |  FROM e, range(0, 16) j(j)
        |  GROUP BY 1, 2)
        |SELECT vec_id,
        |  CAST(SUM(p * (j + 1)) AS BIGINT) AS proj_checksum,
        |  CAST(SUM(p * p) AS BIGINT) AS proj_norm2
        |FROM s GROUP BY 1""".stripMargin)),
    Lane("q_events_value_stats", Relational.qEventsValueStats _,
      Sql("""SELECT event_type, count(*) AS n, min(value) AS min_value,
        |  max(value) AS max_value, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1""".stripMargin)),
    // hopping-window aggregation: 1h windows sliding every 30min via
    // the native window TVF (each event in exactly 2 windows), value
    // as per-row micro-integers — the streaming backfill's batch plan
    Lane("q_events_hopping", Relational.qEventsHopping _,
      // hopping windows: the 2 covering 30-min-slide / 1h-width hops per
      // event by integer floor-division on epoch micros; value summed as
      // per-row floor(value*1e6) micro-integers
      Sql("""SELECT ws AS window_start_us, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS value_micros
        |FROM (SELECT event_type, value,
        |        (epoch_us(ts) // 1800000000) * 1800000000
        |          - k.k * 1800000000 AS ws
        |      FROM events,
        |           unnest([CAST(0 AS BIGINT), CAST(1 AS BIGINT)]) k(k))
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Lane("q_events_funnel", Relational.qEventsFunnel _,
      // ordered funnel depth per signed-up user (strict time ordering,
      // 24 h conversion window per stage — unbounded would be all-3s)
      Sql("""WITH s AS (SELECT user_id, min(ts) AS t1 FROM events
        |           WHERE event_type = 'signup' GROUP BY 1),
        |v AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |      JOIN s ON e.user_id = s.user_id
        |      WHERE e.event_type = 'view' AND e.ts > s.t1
        |        AND e.ts <= s.t1 + INTERVAL 24 HOUR GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |      JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts > v.t2
        |        AND e.ts <= v.t2 + INTERVAL 24 HOUR GROUP BY 1)
        |SELECT s.user_id,
        |  CAST(1 + CASE WHEN v.user_id IS NULL THEN 0 ELSE 1 END
        |         + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS funnel_depth
        |FROM s LEFT JOIN v ON s.user_id = v.user_id
        |LEFT JOIN p ON s.user_id = p.user_id""".stripMargin)),
    // daily cohort × days-since retention matrix over events
    Lane("q_cohort_retention", Relational.qCohortRetention _,
      Sql("""WITH e AS (SELECT user_id, date_trunc('day', ts) AS day FROM events),
        |c AS (SELECT user_id, day,
        |        min(day) OVER (PARTITION BY user_id) AS cohort_day FROM e),
        |d AS (SELECT DISTINCT user_id, cohort_day,
        |        date_diff('day', cohort_day, day) AS days_since FROM c)
        |SELECT cohort_day, CAST(days_since AS BIGINT) AS days_since,
        |  count(*) AS n_users
        |FROM d GROUP BY 1, 2""".stripMargin)),
    // window-frame surface: within-year running revenue totals
    Lane("q_cumulative_revenue", Relational.qCumulativeRevenue _,
      Sql(s"""WITH daily AS (
         |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderdate AS day,
         |    count(*) AS n_orders,
         |    CAST(SUM(${centsSql("o_totalprice")}) AS BIGINT) AS rev_c
         |  FROM orders GROUP BY 1, 2)
         |SELECT yr, day, n_orders, rev_c,
         |  CAST(SUM(rev_c) OVER (PARTITION BY yr ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_rev_c
         |FROM daily""".stripMargin)),
    // SCD Type-2 validity intervals per (user, event_type run)
    Lane("q_scd2_user_history", Relational.qScd2UserHistory _,
      Sql("""WITH e AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CASE WHEN lag(event_type) OVER
        |           (PARTITION BY user_id ORDER BY ts, event_id)
        |         IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
        |  FROM events),
        |g AS (
        |  SELECT user_id, event_type, ts,
        |    CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS version
        |  FROM e),
        |i AS (
        |  SELECT user_id, version, event_type, min(ts) AS valid_from,
        |    max(ts) AS last_seen, count(*) AS n_events
        |  FROM g GROUP BY 1, 2, 3)
        |SELECT user_id, version, event_type, valid_from,
        |  lead(valid_from) OVER w AS valid_to, last_seen, n_events,
        |  (lead(valid_from) OVER w IS NULL) AS is_current
        |FROM i WINDOW w AS (PARTITION BY user_id ORDER BY version)""".stripMargin)),
    // ntile customer-value segmentation over the per-user reduction
    Lane("q_user_value_deciles", Relational.qUserValueDeciles _,
      Sql("""WITH per AS (
        |  SELECT user_id,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS value_c
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |d AS (SELECT user_id, value_c,
        |        CAST(ntile(10) OVER (ORDER BY value_c DESC, user_id) AS BIGINT) AS decile
        |      FROM per)
        |SELECT decile, count(*) AS n_users,
        |  CAST(SUM(value_c) AS BIGINT) AS sum_value_c,
        |  min(value_c) AS min_value_c, max(value_c) AS max_value_c
        |FROM d GROUP BY 1""".stripMargin)),
    Lane("q_asof_attribution", operators.AsOf.purchaseAttribution _,
      Sql(asofSql)),
    // same attribution through the custom merge SparkPlan (plans/
    // AsOfMergeJoin) — same oracle SQL verbatim, different physical op
    Lane("q_asof_attribution_exec", operators.AsOf.purchaseAttributionExec _,
      // custom merge exec: semantics identical by contract, same oracle
      Sql(asofSql)),
    Lane("text_ngram_freq", (s, d) => graft.operators.TextOps.ngramFreq(s, d),
      Sql(s"""$shingleCte
         |SELECT shingle, count(*) AS n_docs FROM sh
         |GROUP BY 1 ORDER BY n_docs DESC, shingle LIMIT 20""".stripMargin)),
    Lane("q_set_ops", Relational.qSetOps _,
      Sql("""WITH early AS (SELECT DISTINCT event_type FROM events
        |               WHERE ts < TIMESTAMP '2024-01-08 00:00:00'),
        |late AS (SELECT DISTINCT event_type FROM events
        |         WHERE ts >= TIMESTAMP '2024-01-24 00:00:00')
        |SELECT event_type, 'both' AS which
        |  FROM (SELECT * FROM early INTERSECT SELECT * FROM late)
        |UNION ALL
        |SELECT event_type, 'early_only' FROM (SELECT * FROM early EXCEPT SELECT * FROM late)
        |UNION ALL
        |SELECT event_type, 'late_only' FROM (SELECT * FROM late EXCEPT SELECT * FROM early)""".stripMargin)),
    // ── text analysis ──
    Lane("text_quality", TextOps.qualityScore _,
      Sql("""SELECT doc_id, n_chars, n_tokens, n_types, n_stopwords,
        |  CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio,
        |  CAST(n_chars - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
        |  (n_tokens >= 10 AND n_tokens <= 1000
        |   AND CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) < 0.5
        |   AND CAST(n_chars - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE) < 12.0) AS is_quality
        |FROM (SELECT doc_id,
        |        CAST(length(text) AS BIGINT) AS n_chars,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |        CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types,
        |        CAST(len(list_filter(string_split(text, ' '),
        |          t -> t IN ('the','a','of','and','is','to','in'))) AS BIGINT) AS n_stopwords
        |      FROM documents)""".stripMargin)),
    // Gopher-style rule gate: each curation rule as an exact 0/1 column
    Lane("text_quality_gopher", TextOps.gopherRules _,
      Sql("""SELECT doc_id,
        |  CAST(n_words >= 20 AND n_words <= 100000 AS BIGINT) AS r_word_count,
        |  CAST(ns >= n_words * 3 AND ns <= n_words * 10 AS BIGINT) AS r_mean_word_len,
        |  CAST(alpha_words * 5 >= n_words * 4 AS BIGINT) AS r_alpha_words,
        |  CAST(n_stops >= 2 AS BIGINT) AS r_stopwords,
        |  CAST(n_words >= 20 AND n_words <= 100000 AS BIGINT)
        |    * CAST(ns >= n_words * 3 AND ns <= n_words * 10 AS BIGINT)
        |    * CAST(alpha_words * 5 >= n_words * 4 AS BIGINT)
        |    * CAST(n_stops >= 2 AS BIGINT) AS passes
        |FROM (SELECT doc_id,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |        CAST(length(regexp_replace(text, ' ', '', 'g')) AS BIGINT) AS ns,
        |        CAST(len(list_filter(string_split(text, ' '),
        |          w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
        |        CAST(list_contains(string_split(text, ' '), 'the') AS BIGINT)
        |          + CAST(list_contains(string_split(text, ' '), 'a') AS BIGINT)
        |          + CAST(list_contains(string_split(text, ' '), 'of') AS BIGINT)
        |          + CAST(list_contains(string_split(text, ' '), 'and') AS BIGINT)
        |          + CAST(list_contains(string_split(text, ' '), 'is') AS BIGINT)
        |          + CAST(list_contains(string_split(text, ' '), 'to') AS BIGINT)
        |          + CAST(list_contains(string_split(text, ' '), 'in') AS BIGINT) AS n_stops
        |      FROM documents)""".stripMargin)),
    // Gopher repetition ladder: top-{2,3,4}-gram / dup-{5..10}-gram
    // character coverage vs the doc's code-point length, one kernel pass
    Lane("text_repetition_gopher", TextOps.repetitionRules _,
      // Gopher repetition ladder, re-derived relationally: all n-grams for
      // n=2..10 via a lateral double-unnest, per-(doc,n,gram) counts, then
      // coverage maxima/sums; integer cross-multiplication for the rule
      // bits (numerator·100 vs den·pct — no division on either engine).
      // DuckDB length() counts code points, matching the kernel's
      // codePointCount (Java String.length would diverge on emoji).
      Sql(s"""WITH ${repNgramCtes("documents")},
        |p AS (SELECT doc_id,
        |        CAST(COALESCE(max(CASE WHEN n = 2 THEN topn END), 0) AS BIGINT) AS top2_chars,
        |        CAST(COALESCE(max(CASE WHEN n = 3 THEN topn END), 0) AS BIGINT) AS top3_chars,
        |        CAST(COALESCE(max(CASE WHEN n = 4 THEN topn END), 0) AS BIGINT) AS top4_chars,
        |        CAST(COALESCE(max(CASE WHEN n = 5 THEN dupn END), 0) AS BIGINT) AS dup5_chars,
        |        CAST(COALESCE(max(CASE WHEN n = 6 THEN dupn END), 0) AS BIGINT) AS dup6_chars,
        |        CAST(COALESCE(max(CASE WHEN n = 7 THEN dupn END), 0) AS BIGINT) AS dup7_chars,
        |        CAST(COALESCE(max(CASE WHEN n = 8 THEN dupn END), 0) AS BIGINT) AS dup8_chars,
        |        CAST(COALESCE(max(CASE WHEN n = 9 THEN dupn END), 0) AS BIGINT) AS dup9_chars,
        |        CAST(COALESCE(max(CASE WHEN n = 10 THEN dupn END), 0) AS BIGINT) AS dup10_chars
        |      FROM m GROUP BY 1)
        |SELECT doc_id, den, top2_chars, top3_chars, top4_chars, dup5_chars, dup6_chars,
        |  dup7_chars, dup8_chars, dup9_chars, dup10_chars,
        |  CAST(n_fail AS BIGINT) AS n_fail, CAST(n_fail = 0 AS BIGINT) AS passes
        |FROM (SELECT t.doc_id, t.den,
        |        COALESCE(p.top2_chars, 0) AS top2_chars,
        |        COALESCE(p.top3_chars, 0) AS top3_chars,
        |        COALESCE(p.top4_chars, 0) AS top4_chars,
        |        COALESCE(p.dup5_chars, 0) AS dup5_chars,
        |        COALESCE(p.dup6_chars, 0) AS dup6_chars,
        |        COALESCE(p.dup7_chars, 0) AS dup7_chars,
        |        COALESCE(p.dup8_chars, 0) AS dup8_chars,
        |        COALESCE(p.dup9_chars, 0) AS dup9_chars,
        |        COALESCE(p.dup10_chars, 0) AS dup10_chars,
        |        (CASE WHEN COALESCE(p.top2_chars, 0) * 100 > t.den * 20 THEN 1 ELSE 0 END
        |         + CASE WHEN COALESCE(p.top3_chars, 0) * 100 > t.den * 18 THEN 1 ELSE 0 END
        |         + CASE WHEN COALESCE(p.top4_chars, 0) * 100 > t.den * 16 THEN 1 ELSE 0 END
        |         + CASE WHEN COALESCE(p.dup5_chars, 0) * 100 > t.den * 15 THEN 1 ELSE 0 END
        |         + CASE WHEN COALESCE(p.dup6_chars, 0) * 100 > t.den * 14 THEN 1 ELSE 0 END
        |         + CASE WHEN COALESCE(p.dup7_chars, 0) * 100 > t.den * 13 THEN 1 ELSE 0 END
        |         + CASE WHEN COALESCE(p.dup8_chars, 0) * 100 > t.den * 12 THEN 1 ELSE 0 END
        |         + CASE WHEN COALESCE(p.dup9_chars, 0) * 100 > t.den * 11 THEN 1 ELSE 0 END
        |         + CASE WHEN COALESCE(p.dup10_chars, 0) * 100 > t.den * 10 THEN 1 ELSE 0 END) AS n_fail
        |      FROM t LEFT JOIN p ON t.doc_id = p.doc_id)""".stripMargin)),
    // C4 line/document heuristics over the deterministically line-seeded
    // corpus: line gates + page-killer bits + kept-line reassembly
    Lane("text_c4_rules", TextOps.c4Rules _,
      // C4 rules over the SAME doc_id-keyed seeded line structure
      // (TextOps.c4Seeded): line filter as a list_filter lambda, page
      // bits as substring tests — no regex, no case folds, no division
      Sql("""WITH seeded AS (SELECT doc_id,
        |    text
        |    || CASE WHEN doc_id % 3 = 0 THEN '.' WHEN doc_id % 3 = 1 THEN '!' ELSE '' END
        |    || CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'report item ' || CAST(doc_id AS VARCHAR) || ' confirms the metric today.' ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'short line.' ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'enable javascript to view item ' || CAST(doc_id AS VARCHAR) || ' now.' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet text.' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'config block { width = 10 } end.' ELSE '' END
        |    || CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'badword1 appears in this line here.' ELSE '' END
        |    || chr(10) || 'every page carries this closing line.'
        |    AS text
        |  FROM documents),
        |f AS (SELECT doc_id, text,
        |        string_split(text, chr(10)) AS ls,
        |        list_filter(string_split(text, chr(10)), l ->
        |          (ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?'))
        |          AND len(string_split(l, ' ')) >= 5
        |          AND NOT contains(l, 'javascript')) AS kept
        |      FROM seeded)
        |SELECT doc_id,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept,
        |  CAST(len(kept) >= 3 AS BIGINT) AS r_min_lines,
        |  CAST(NOT contains(text, 'lorem ipsum') AS BIGINT) AS r_no_lorem,
        |  CAST(NOT contains(text, '{') AS BIGINT) AS r_no_brace,
        |  CAST(NOT (contains(text, 'badword1') OR contains(text, 'badword2')) AS BIGINT) AS r_no_blocklist,
        |  CAST(len(kept) >= 3 AS BIGINT)
        |    * CAST(NOT contains(text, 'lorem ipsum') AS BIGINT)
        |    * CAST(NOT contains(text, '{') AS BIGINT)
        |    * CAST(NOT (contains(text, 'badword1') OR contains(text, 'badword2')) AS BIGINT) AS passes,
        |  COALESCE(array_to_string(kept, chr(10)), '') AS cleaned
        |FROM f""".stripMargin)),
    // per-source C4 volume/drop report (the curation-report face)
    Lane("pipeline_c4_report", TextOps.c4Report _,
      // per-source C4 report: same seeded/gated CTEs with source carried,
      // rolled up to volume + one drop counter per page killer
      Sql("""WITH seeded AS (SELECT doc_id, source,
        |    text
        |    || CASE WHEN doc_id % 3 = 0 THEN '.' WHEN doc_id % 3 = 1 THEN '!' ELSE '' END
        |    || CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'report item ' || CAST(doc_id AS VARCHAR) || ' confirms the metric today.' ELSE '' END
        |    || CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'short line.' ELSE '' END
        |    || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'enable javascript to view item ' || CAST(doc_id AS VARCHAR) || ' now.' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet text.' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'config block { width = 10 } end.' ELSE '' END
        |    || CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'badword1 appears in this line here.' ELSE '' END
        |    || chr(10) || 'every page carries this closing line.'
        |    AS text
        |  FROM documents),
        |f AS (SELECT doc_id, source, text,
        |        string_split(text, chr(10)) AS ls,
        |        list_filter(string_split(text, chr(10)), l ->
        |          (ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?'))
        |          AND len(string_split(l, ' ')) >= 5
        |          AND NOT contains(l, 'javascript')) AS kept
        |      FROM seeded),
        |g AS (SELECT source,
        |        CAST(len(ls) AS BIGINT) AS n_lines,
        |        CAST(len(kept) AS BIGINT) AS n_kept,
        |        CAST(len(kept) >= 3 AS BIGINT) AS r_min_lines,
        |        CAST(NOT contains(text, 'lorem ipsum') AS BIGINT) AS r_no_lorem,
        |        CAST(NOT contains(text, '{') AS BIGINT) AS r_no_brace,
        |        CAST(NOT (contains(text, 'badword1') OR contains(text, 'badword2')) AS BIGINT) AS r_no_blocklist
        |      FROM f)
        |SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(r_min_lines * r_no_lorem * r_no_brace * r_no_blocklist) AS BIGINT) AS n_pages_kept,
        |  CAST(SUM(n_lines) AS BIGINT) AS n_lines,
        |  CAST(SUM(n_kept) AS BIGINT) AS n_lines_kept,
        |  CAST(SUM(1 - r_min_lines) AS BIGINT) AS n_drop_min_lines,
        |  CAST(SUM(1 - r_no_lorem) AS BIGINT) AS n_drop_lorem,
        |  CAST(SUM(1 - r_no_brace) AS BIGINT) AS n_drop_brace,
        |  CAST(SUM(1 - r_no_blocklist) AS BIGINT) AS n_drop_blocklist
        |FROM g GROUP BY source ORDER BY source""".stripMargin)),
    // classifier-based selection (GPT-3 §2.2 / CCNet): train a linear
    // quality classifier on the C4 gate's weak labels, score every page
    // — ppm-integer weights, no transcendental anywhere in the lane
    Lane("text_quality_classifier", TextOps.classifierScores _,
      // classifier-based selection: the full train+calibrate+score chain
      // re-derived — seeded text → weak label → distinct-token explode →
      // top-512 vocab → add-one smoothed ppm doc-rate difference weights →
      // per-doc presence-sum score → histogram-argmax threshold. Every SUM
      // cast to BIGINT (DuckDB sums to HUGEINT, which pandas would
      // stringify as float); // is int64 floor division of non-negative
      // operands, identical to Spark's DIV.
      Sql(s"""WITH $classifierCtes
         |SELECT doc_id, label, n_vocab_tokens, score_ppm,
         |  CAST(score_ppm >= threshold_ppm AS BIGINT) AS predicted
         |FROM cscore, cthresh""".stripMargin),
      build = Some((s, d) => TextOps.ensureClassifierStages(s, d))),
    // its confusion-matrix fit report (tp/fp/fn/tn + ppm metrics)
    Lane("text_classifier_eval", TextOps.classifierEval _,
      Sql(s"""WITH $classifierCtes,
         |cm AS (SELECT
         |    CAST(SUM(label * predicted) AS BIGINT) AS tp,
         |    CAST(SUM((1 - label) * predicted) AS BIGINT) AS fp,
         |    CAST(SUM(label * (1 - predicted)) AS BIGINT) AS fn,
         |    CAST(SUM((1 - label) * (1 - predicted)) AS BIGINT) AS tn
         |  FROM (SELECT label, CAST(score_ppm >= threshold_ppm AS BIGINT) AS predicted
         |        FROM cscore, cthresh))
         |SELECT tp, fp, fn, tn,
         |  (tp + tn) * 1000000 // (tp + fp + fn + tn) AS accuracy_ppm,
         |  CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 1000000 // (tp + fp) END AS precision_ppm,
         |  CASE WHEN tp + fn = 0 THEN 0 ELSE tp * 1000000 // (tp + fn) END AS recall_ppm,
         |  CASE WHEN 2 * tp + fp + fn = 0 THEN 0 ELSE 2 * tp * 1000000 // (2 * tp + fp + fn) END AS f1_ppm
         |FROM cm""".stripMargin),
      build = Some((s, d) => TextOps.ensureClassifierStages(s, d))),
    Lane("text_langid", TextOps.langId _,
      Sql("""SELECT doc_id, labeled_lang,
        |  CASE WHEN s_en >= greatest(s_de, s_es, s_fr, s_zh) THEN 'en'
        |       WHEN s_de >= greatest(s_es, s_fr, s_zh) THEN 'de'
        |       WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
        |       WHEN s_fr >= s_zh THEN 'fr'
        |       ELSE 'zh' END AS predicted_lang,
        |  s_en, s_de, s_es, s_fr, s_zh
        |FROM (SELECT doc_id, lang AS labeled_lang,
        |  CAST(len(list_filter(string_split(text,' '), t -> t IN ('the','a','is','of','and'))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(string_split(text,' '), t -> t IN ('der','die','und','ist','das'))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(string_split(text,' '), t -> t IN ('el','la','los','es','y'))) AS BIGINT) AS s_es,
        |  CAST(len(list_filter(string_split(text,' '), t -> t IN ('le','les','et','est','du'))) AS BIGINT) AS s_fr,
        |  CAST(len(list_filter(string_split(text,' '), t -> t IN ('de5','shi4','le5'))) AS BIGINT) AS s_zh
        |FROM documents)""".stripMargin)),
    Lane("text_token_count", TextOps.tokenCount _,
      Sql("""SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(translate(text, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens
        |FROM documents""".stripMargin)),
    Lane("text_fingerprint", TextOps.fingerprint _,
      Sql("""SELECT doc_id, md5(text) AS fp_md5,
        |  CAST(CAST(('0x' || substr(md5(text), 1, 15)) AS UBIGINT) AS BIGINT) AS fp_60bit
        |FROM documents""".stripMargin)),
    Lane("text_winnow", (s, d) => TextOps.winnowFingerprints(s, d),
      // winnowing (MOSS): positional trigram hashes, min per full window of
      // 4, distinct values — window-min by VALUE, so tie order is moot
      Sql("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |pos AS (SELECT doc_id, i, array_to_string(t[i:i+2], ' ') AS shingle
        |        FROM toks, unnest(range(1, len(t) - 1)) u(i)),
        |h AS (SELECT doc_id, i,
        |        CAST(('0x' || substr(md5(shingle), 1, 15)) AS UBIGINT) AS hv,
        |        count(*) OVER (PARTITION BY doc_id) AS n_sh
        |      FROM pos),
        |wm AS (SELECT doc_id, i, n_sh,
        |         CAST(min(hv) OVER (PARTITION BY doc_id ORDER BY i
        |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS BIGINT) AS fp
        |       FROM h)
        |SELECT DISTINCT doc_id, fp FROM wm WHERE i <= n_sh - 3""".stripMargin)),
    Lane("q_dataset_split", TextOps.datasetSplit _,
      Sql("""SELECT lang,
        |  CASE WHEN CAST(('0x' || substr(md5(text), 1, 15)) AS UBIGINT) % 100 < 90 THEN 'train'
        |       WHEN CAST(('0x' || substr(md5(text), 1, 15)) AS UBIGINT) % 100 < 95 THEN 'valid'
        |       ELSE 'test' END AS split,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1, 2""".stripMargin)),
    Lane("text_vocab", (s, d) => TextOps.vocab(s, d),
      Sql("""SELECT token, n, CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS token_id
        |FROM (SELECT token, count(*) AS n
        |      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |      GROUP BY 1 ORDER BY n DESC, token LIMIT 1000)""".stripMargin)),
    // BPE merge-candidate table: frequency-weighted char-pair counts
    Lane("text_bpe_pairs", (s, d) => TextOps.bpePairs(s, d),
      Sql("""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
        |p AS (SELECT substr(term, i, 2) AS pair
        |      FROM toks, unnest(range(1, len(term))) u(i)
        |      WHERE len(term) >= 2)
        |SELECT pair, count(*) AS n FROM p GROUP BY 1
        |ORDER BY n DESC, pair LIMIT 50""".stripMargin)),
    // the actual BPE TRAINER: 8 iterative merge rounds over the
    // distinct-word frame (PageRank-style bounded driver loop), each
    // emitting (merge_rank, left, right, new_token, n); the oracle is
    // the same loop unrolled as a DuckDB CTE
    Lane("text_bpe_train", (s, d) => TextOps.bpeTrain(s, d),
      Sql(bpeTrainSql(8))),
    // PII scrub lane (C4/CCNet-style): per-doc class counts + masked
    // text on a deterministically seeded corpus; the report row is the
    // per-source curation face of the same lane
    Lane("text_pii_scrub", TextOps.piiScrub _,
      Sql(s"$piiSeededSql SELECT doc_id, $piiScrubColsSql FROM seeded")),
    Lane("pipeline_pii_report", TextOps.piiReport _,
      Sql(s"""$piiSeededSql,
         |scrubbed AS (SELECT source, $piiScrubColsSql FROM seeded)
         |SELECT source, count(*) AS n_docs,
         |  CAST(SUM(CASE WHEN n_emails + n_phones + n_ipv4 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_scrubbed,
         |  CAST(SUM(n_emails) AS BIGINT) AS n_emails,
         |  CAST(SUM(n_phones) AS BIGINT) AS n_phones,
         |  CAST(SUM(n_ipv4) AS BIGINT) AS n_ipv4
         |FROM scrubbed GROUP BY source ORDER BY source""".stripMargin)),
    // TOKENIZER APPLY: encode every doc with the trained-BPE vocabulary
    // (merge memo warmed by the stage builder) — whitespace vs real BPE
    // token budgets side by side; pack variant budgets on the real count
    Lane("text_bpe_encode", (s, d) => TextOps.bpeEncode(s, d),
      Sql(bpeEncodeSql(8)),
      build = Some((s, d) => TextOps.ensureBpeMerges(s, d))),
    // WordPiece-inference greedy maximal munch over the trained vocab —
    // a third segmentation semantics beside the two BPE replace chains
    Lane("text_maxmatch_tokens", (s, d) => TextOps.maxMatchEncode(s, d),
      Sql(maxMatchSql(8)),
      build = Some((s, d) => TextOps.ensureBpeMerges(s, d))),
    // SentencePiece unigram-LM inference: Viterbi over frequency-
    // weighted vocab (fewest tokens, then highest frequency sum) —
    // completes the tokenizer-algorithm triad (BPE / WordPiece / unigram)
    Lane("text_unigram_tokens", (s, d) => TextOps.unigramEncode(s, d),
      Sql(unigramSql(8)),
      build = Some((s, d) => TextOps.ensureBpeMerges(s, d))),
    // tokenizer SELECTION eval: all four segmenters (whitespace / BPE /
    // maxmatch / unigram-Viterbi) over the same vocab + docs, fertility
    // per (tokenizer, lang) — the comparison run before fixing one
    Lane("text_tokenizer_eval", (s, d) => TextOps.tokenizerEval(s, d),
      // tokenizer selection eval: the three encode statements as
      // subqueries joined per doc (the non-PUA domain the BPE face
      // defines), melted to (tokenizer, lang) fertility rows — every
      // count exact, the integer tokens-per-kchar by floor division
      Sql(s"""WITH j AS MATERIALIZED (
         |  SELECT b.doc_id, d.lang, b.n_chars, b.n_ws_tokens,
         |         b.n_bpe_tokens, m.n_maxmatch_tokens, u.n_unigram_tokens
         |  FROM (${bpeEncodeSql(8)}) b
         |  JOIN (${maxMatchSql(8)}) m USING (doc_id)
         |  JOIN (${unigramSql(8)}) u USING (doc_id)
         |  JOIN documents d USING (doc_id)),
         |melt AS (
         |  SELECT 'whitespace' AS tokenizer, lang, n_chars, n_ws_tokens AS n FROM j
         |  UNION ALL SELECT 'bpe', lang, n_chars, n_bpe_tokens FROM j
         |  UNION ALL SELECT 'maxmatch', lang, n_chars, n_maxmatch_tokens FROM j
         |  UNION ALL SELECT 'unigram', lang, n_chars, n_unigram_tokens FROM j)
         |SELECT tokenizer, lang,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n) AS BIGINT) AS n_tokens,
         |  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
         |  CAST(CASE WHEN SUM(n_chars) = 0 THEN 0
         |            ELSE SUM(n) * 1000 // SUM(n_chars) END AS BIGINT) AS tokens_per_kchar
         |FROM melt GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      build = Some((s, d) => TextOps.ensureBpeMerges(s, d))),
    Lane("text_pack_bpe", (s, d) => TextOps.packAssignBpe(s, d),
      Sql(bpePackSql(8, 2048)),
      build = Some((s, d) => TextOps.ensureBpeMerges(s, d))),
    // BYTE-LEVEL BPE (GPT-2/tiktoken lineage): same trainer/encoder
    // over the 256-byte alphabet (byte b ↦ U+0100+b) — merges cross
    // codepoint boundaries on non-ASCII text, no PUA pre-filter needed
    Lane("text_bpe_bytes", (s, d) => TextOps.bpeByteTrain(s, d),
      Sql(bpeByteTrainSql(8))),
    Lane("text_bpe_bytes_encode", (s, d) => TextOps.bpeByteEncode(s, d),
      Sql(bpeByteEncodeSql(8)),
      build = Some((s, d) => TextOps.ensureBpeByteMerges(s, d))),
    // sequence packing budgeted on the BYTE-level trained symbol count
    // (every doc covered — the byte alphabet absorbs hostile chars)
    Lane("text_pack_bpe_bytes", (s, d) => TextOps.packAssignBpeBytes(s, d),
      Sql(bpeBytePackSql(8, 2048)),
      build = Some((s, d) => TextOps.ensureBpeByteMerges(s, d))),
    Lane("text_length_histogram", TextOps.lengthHistogram _,
      Sql("""SELECT n - (n % 10) AS bucket, count(*) AS n_docs
        |FROM (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents)
        |GROUP BY 1""".stripMargin)),
    Lane("text_pack_assign", (s, d) => TextOps.packAssign(s, d),
      Sql("""SELECT doc_id, lang, n_tokens,
        |  CAST(coalesce(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048 AS BIGINT)
        |    AS pack_id
        |FROM (SELECT doc_id, lang,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |      FROM documents)""".stripMargin)),
    Lane("dedup_contamination", (s, d) => TextOps.trainTestContamination(s, d),
      // train→eval contamination via df-capped winnowing fingerprints
      Sql("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |pos AS (SELECT doc_id, i, array_to_string(t[i:i+2], ' ') AS shingle
        |        FROM toks, unnest(range(1, len(t) - 1)) u(i)),
        |h AS (SELECT doc_id, i,
        |        CAST(('0x' || substr(md5(shingle), 1, 15)) AS UBIGINT) AS hv,
        |        count(*) OVER (PARTITION BY doc_id) AS n_sh
        |      FROM pos),
        |wm AS (SELECT doc_id, i, n_sh,
        |         CAST(min(hv) OVER (PARTITION BY doc_id ORDER BY i
        |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS BIGINT) AS fp
        |       FROM h),
        |fps AS (SELECT DISTINCT doc_id, fp FROM wm WHERE i <= n_sh - 3),
        |live AS (SELECT fp FROM fps GROUP BY 1 HAVING count(*) <= 128),
        |fpl AS (SELECT fps.* FROM fps JOIN live USING (fp)),
        |splits AS (SELECT doc_id,
        |    CASE WHEN CAST(('0x' || substr(md5(text), 1, 15)) AS UBIGINT) % 100 < 90 THEN 'train'
        |         WHEN CAST(('0x' || substr(md5(text), 1, 15)) AS UBIGINT) % 100 < 95 THEN 'valid'
        |         ELSE 'test' END AS split FROM documents)
        |SELECT tr.doc_id AS train_doc, ev.doc_id AS eval_doc,
        |       count(*) AS n_shared
        |FROM fpl tr JOIN splits st ON tr.doc_id = st.doc_id AND st.split = 'train'
        |JOIN fpl ev ON tr.fp = ev.fp
        |JOIN splits se ON ev.doc_id = se.doc_id AND se.split <> 'train'
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin),
      build = Some((s, d) => TextOps.ensureWinnowIndex(s, d))),
    // GPT-3-style exact 13-gram decontamination: train docs sharing any
    // word 13-gram with the held-out splits, with dirty/total counts
    Lane("dedup_decontaminate", (s, d) => TextOps.decontaminate(s, d),
      // GPT-3 13-gram decontamination: the eval side reduces to its
      // DISTINCT gram set before the join (doc-level membership, never a
      // train×eval pair explosion); both engines join on md5(gram)
      Sql("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sp AS (SELECT doc_id,
        |         CASE WHEN CAST(('0x' || substr(md5(text), 1, 15)) AS UBIGINT) % 100 < 90
        |              THEN 'train' ELSE 'eval' END AS split FROM documents),
        |g AS (SELECT DISTINCT doc_id, md5(array_to_string(t[i:i+12], ' ')) AS gh
        |      FROM toks, unnest(range(1, len(t) - 11)) u(i)),
        |ev AS (SELECT DISTINCT gh FROM g JOIN sp USING (doc_id) WHERE sp.split = 'eval'),
        |tr AS (SELECT g.doc_id, g.gh FROM g JOIN sp USING (doc_id) WHERE sp.split = 'train'),
        |d AS (SELECT doc_id, count(*) AS n_dirty FROM tr JOIN ev USING (gh) GROUP BY 1),
        |tot AS (SELECT doc_id, count(*) AS n_grams FROM tr GROUP BY 1)
        |SELECT d.doc_id, tot.n_grams, d.n_dirty
        |FROM d JOIN tot USING (doc_id) ORDER BY doc_id""".stripMargin),
      build = Some((s, d) => {
        TextOps.ensureDeconStores(s, d); TextOps.deconGrams(s, d).count(); () })),
    // the surgical variant (GPT-3 removes windows, not documents):
    // eval-covered positions cut from the text, clean remainder ships
    Lane("dedup_decontaminate_cut", (s, d) => TextOps.decontaminateCut(s, d),
      // the surgical variant: positions covered by any eval-set 13-gram
      // cut from the train text (the span_cut tail pointed at eval
      // membership); md5 gram keys identical on both faces
      Sql("""WITH base AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sp AS (SELECT doc_id,
        |         CASE WHEN CAST(('0x' || substr(md5(text), 1, 15)) AS UBIGINT) % 100 < 90
        |              THEN 'train' ELSE 'eval' END AS split FROM documents),
        |tb AS (SELECT base.doc_id, t FROM base JOIN sp USING (doc_id)
        |       WHERE split = 'train'),
        |toks AS (SELECT doc_id, i, t[i] AS tok
        |         FROM tb, unnest(range(1, len(t) + 1)) u(i)),
        |tgrams AS (SELECT doc_id, i, md5(array_to_string(t[i:i+12], ' ')) AS gh
        |           FROM tb, unnest(range(1, len(t) - 11)) u(i)),
        |eg AS (SELECT DISTINCT md5(array_to_string(t[i:i+12], ' ')) AS gh
        |       FROM base JOIN sp USING (doc_id), unnest(range(1, len(t) - 11)) u(i)
        |       WHERE split <> 'train'),
        |covered AS (SELECT DISTINCT g.doc_id, p AS pos
        |            FROM tgrams g JOIN eg USING (gh), unnest(range(g.i, g.i + 13)) v(p)),
        |cov AS (SELECT doc_id, count(*) AS n_dirty FROM covered GROUP BY 1),
        |cut AS (SELECT tk.doc_id, string_agg(tk.tok, ' ' ORDER BY tk.i) AS clean_text
        |        FROM toks tk LEFT JOIN covered cv ON tk.doc_id = cv.doc_id AND tk.i = cv.pos
        |        WHERE cv.doc_id IS NULL GROUP BY 1),
        |tot AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM tb)
        |SELECT t.doc_id, t.n_tokens,
        |       COALESCE(c.n_dirty, 0) AS n_dirty,
        |       COALESCE(ct.clean_text, '') AS clean_text
        |FROM tot t LEFT JOIN cov c USING (doc_id) LEFT JOIN cut ct USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin),
      build = Some((s, d) => {
        TextOps.ensureDeconStores(s, d); TextOps.deconCutCovered(s, d).count(); () })),
    // corpus-internal local near-dup: doc pairs sharing >= 3 winnow
    // fingerprints — the plagiarism/shared-span detector (guaranteed to
    // fire on any shared run of >= w+k-1 tokens)
    Lane("dedup_winnow_spans", (s, d) => TextOps.winnowSpanPairs(s, d),
      // same winnow fingerprint chain, corpus-internal self-join
      Sql("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |pos AS (SELECT doc_id, i, array_to_string(t[i:i+2], ' ') AS shingle
        |        FROM toks, unnest(range(1, len(t) - 1)) u(i)),
        |h AS (SELECT doc_id, i,
        |        CAST(('0x' || substr(md5(shingle), 1, 15)) AS UBIGINT) AS hv,
        |        count(*) OVER (PARTITION BY doc_id) AS n_sh
        |      FROM pos),
        |wm AS (SELECT doc_id, i, n_sh,
        |         CAST(min(hv) OVER (PARTITION BY doc_id ORDER BY i
        |           ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS BIGINT) AS fp
        |       FROM h),
        |fps AS (SELECT DISTINCT doc_id, fp FROM wm WHERE i <= n_sh - 3),
        |live AS (SELECT fp FROM fps GROUP BY 1 HAVING count(*) <= 128),
        |fpl AS (SELECT fps.* FROM fps JOIN live USING (fp))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        |FROM fpl a JOIN fpl b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin),
      build = Some((s, d) => TextOps.ensureWinnowIndex(s, d))),
    // C4-style sub-document pass: per-doc sentence totals + how many
    // sentence instances are shared with >= 2 distinct docs
    Lane("dedup_sentences", (s, d) => TextOps.sentenceDedup(s, d),
      Sql("""WITH s AS (
        |  SELECT doc_id, md5(sent) AS h
        |  FROM (SELECT doc_id, unnest(string_split(text, '. ')) AS sent
        |        FROM documents)
        |  WHERE length(trim(sent)) > 0),
        |shared AS (SELECT h FROM s GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |tot AS (SELECT doc_id, count(*) AS n_sentences FROM s GROUP BY 1),
        |shr AS (SELECT s.doc_id, count(*) AS n_shared
        |        FROM s JOIN shared USING (h) GROUP BY 1)
        |SELECT t.doc_id, t.n_sentences, COALESCE(shr.n_shared, 0) AS n_shared
        |FROM tot t LEFT JOIN shr ON t.doc_id = shr.doc_id
        |ORDER BY t.doc_id""".stripMargin)),
    // content-defined chunk scrub: CDC boundary rule segments identical
    // passages identically regardless of shift; chunks in >= 3 docs
    // removed and the doc reassembled — the C4 line-removal TRANSFORM
    Lane("dedup_cdc_scrub", (s, d) => TextOps.cdcScrub(s, d),
      // content-defined chunking: boundary after any token whose 60-bit
      // md5-prefix hash ≡ 0 (mod 8); chunks in >= 3 distinct docs scrubbed
      Sql(cdcScrubSql),
      build = Some((s, d) => TextOps.ensureCdcStages(s, d))),
    // same scrub reading the persisted grown chunk store (segmentation
    // paid once at ingest; scrub-on-read scans the bucketed store)
    Lane("dedup_cdc_grown", (s, d) => TextOps.cdcScrubStored(s, d),
      // grown store ≡ one-shot scrub: same SQL verbatim
      Sql(cdcScrubSql),
      build = Some((s, d) => { TextOps.ensureGrownChunkIndex(s, d); () })),
    // ExactSubstr span cut (Lee et al. 2022): positions covered by any
    // cross-doc-repeated token 5-gram are cut from the text itself
    Lane("dedup_span_cut", (s, d) => TextOps.spanCut(s, d),
      // ExactSubstr: token 5-grams repeated across >= 2 docs cover their
      // 5 positions; cut text keeps only uncovered tokens in order
      Sql("""WITH base AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |toks AS (SELECT doc_id, i, t[i] AS tok
        |         FROM base, unnest(range(1, len(t) + 1)) u(i)),
        |grams AS (SELECT doc_id, i, md5(array_to_string(t[i:i+4], ' ')) AS h
        |          FROM base, unnest(range(1, len(t) - 3)) u(i)),
        |shared AS (SELECT h FROM grams GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
        |covered AS (SELECT DISTINCT g.doc_id, p AS pos
        |            FROM grams g JOIN shared USING (h), unnest(range(g.i, g.i + 5)) v(p)),
        |cov AS (SELECT doc_id, count(*) AS n_covered FROM covered GROUP BY 1),
        |cut AS (SELECT tk.doc_id, string_agg(tk.tok, ' ' ORDER BY tk.i) AS cut_text
        |        FROM toks tk LEFT JOIN covered cv ON tk.doc_id = cv.doc_id AND tk.i = cv.pos
        |        WHERE cv.doc_id IS NULL GROUP BY 1),
        |tot AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM base)
        |SELECT t.doc_id, t.n_tokens,
        |       COALESCE(c.n_covered, 0) AS n_covered,
        |       COALESCE(ct.cut_text, '') AS cut_text
        |FROM tot t LEFT JOIN cov c USING (doc_id) LEFT JOIN cut ct USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin),
      build = Some((s, d) => TextOps.ensureSpanCutStages(s, d))),
    // the paper-literal variant: only maximal repeated runs of >= 50
    // covered tokens are cut (gaps-and-islands over the same gram frame)
    Lane("dedup_span_runs", (s, d) => TextOps.spanRuns(s, d),
      // paper-literal ExactSubstr: adjacent shared 5-gram starts chain
      // into maximal runs; only runs covering >= 50 tokens are cut
      Sql("""WITH base AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |toks AS (SELECT doc_id, i, t[i] AS tok
        |         FROM base, unnest(range(1, len(t) + 1)) u(i)),
        |grams AS (SELECT doc_id, i, md5(array_to_string(t[i:i+4], ' ')) AS h
        |          FROM base, unnest(range(1, len(t) - 3)) u(i)),
        |shared AS (SELECT h FROM grams GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
        |isl AS (SELECT g.doc_id, g.i,
        |          g.i - row_number() OVER (PARTITION BY g.doc_id ORDER BY g.i) AS grp
        |        FROM grams g JOIN shared USING (h)),
        |runs AS (SELECT doc_id, min(i) AS s, max(i) AS e,
        |           max(i) - min(i) + 5 AS covlen
        |         FROM isl GROUP BY doc_id, grp
        |         HAVING max(i) - min(i) + 5 >= 50),
        |cutpos AS (SELECT DISTINCT r.doc_id, p AS pos
        |           FROM runs r, unnest(range(r.s, r.e + 5)) v(p)),
        |cov AS (SELECT doc_id, count(*) AS n_cut FROM cutpos GROUP BY 1),
        |rstats AS (SELECT doc_id, count(*) AS n_runs,
        |             CAST(max(covlen) AS BIGINT) AS max_run FROM runs GROUP BY 1),
        |cut AS (SELECT tk.doc_id, string_agg(tk.tok, ' ' ORDER BY tk.i) AS cut_text
        |        FROM toks tk LEFT JOIN cutpos cv ON tk.doc_id = cv.doc_id AND tk.i = cv.pos
        |        WHERE cv.doc_id IS NULL GROUP BY 1),
        |tot AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM base)
        |SELECT t.doc_id, t.n_tokens,
        |       COALESCE(r.n_runs, 0) AS n_runs,
        |       COALESCE(r.max_run, 0) AS max_run,
        |       COALESCE(c.n_cut, 0) AS n_cut,
        |       COALESCE(ct.cut_text, '') AS cut_text
        |FROM tot t LEFT JOIN rstats r USING (doc_id) LEFT JOIN cov c USING (doc_id)
        |LEFT JOIN cut ct USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin),
      build = Some((s, d) => TextOps.ensureSpanCutStages(s, d))),
    // pairwise match extension: every maximal verbatim >=15-token span
    // per doc pair, via diagonal gaps-and-islands over gram seeds
    Lane("dedup_substring_spans", (s, d) => TextOps.substringSpans(s, d),
      // pairwise ExactSubstr: gram seeds (df-capped buckets) chained into
      // maximal per-(pair, diagonal) islands; spans of >= 15 tokens ship
      Sql("""WITH base AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |grams AS (SELECT doc_id, i, md5(array_to_string(t[i:i+4], ' ')) AS h
        |          FROM base, unnest(range(1, len(t) - 3)) u(i)),
        |ok AS (SELECT h FROM grams GROUP BY 1 HAVING count(*) BETWEEN 2 AND 50),
        |g AS (SELECT grams.* FROM grams JOIN ok USING (h)),
        |seeds AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |                 a.i AS ia, b.i AS ib, a.i - b.i AS diag
        |          FROM g a JOIN g b ON a.h = b.h AND a.doc_id < b.doc_id),
        |isl AS (SELECT *, ia - row_number() OVER (
        |          PARTITION BY doc_a, doc_b, diag ORDER BY ia) AS grp
        |        FROM seeds),
        |runs AS (SELECT doc_a, doc_b,
        |           CAST(min(ia) AS BIGINT) AS a_pos,
        |           CAST(min(ib) AS BIGINT) AS b_pos,
        |           CAST(max(ia) - min(ia) + 5 AS BIGINT) AS span_tokens
        |         FROM isl GROUP BY doc_a, doc_b, diag, grp
        |         HAVING max(ia) - min(ia) + 5 >= 15)
        |SELECT doc_a, doc_b, a_pos, b_pos, span_tokens FROM runs
        |ORDER BY doc_a, doc_b, a_pos, b_pos""".stripMargin),
      build = Some((s, d) => TextOps.ensureSpanCutStages(s, d))),
    // CCNet-style per-language perplexity terciles over the trigram
    // likelihood proxy: head/middle/tail volume stats
    Lane("text_ccnet_buckets", (s, d) => TextOps.ccnetBuckets(s, d),
      // CCNet terciles: per-language ntile(3) over (avg_freq DESC, doc_id)
      Sql("""WITH tri AS (
        |  SELECT doc_id, substr(text, CAST(i AS BIGINT), 3) AS tri
        |  FROM documents, unnest(range(1, length(text) - 1)) u(i)
        |  WHERE length(text) >= 3),
        |cf AS (SELECT tri, count(*) AS cf FROM tri GROUP BY 1),
        |scored AS (
        |  SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tri,
        |    CAST(SUM(c.cf) AS BIGINT) AS freq_sum,
        |    CAST(SUM(c.cf) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_freq
        |  FROM tri t JOIN cf c USING (tri) GROUP BY 1),
        |lb AS (SELECT s.doc_id, s.n_tri, s.freq_sum, d.lang,
        |         ntile(3) OVER (PARTITION BY d.lang
        |           ORDER BY s.avg_freq DESC, s.doc_id) AS tile
        |       FROM scored s JOIN documents d USING (doc_id))
        |SELECT lang,
        |  CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
        |  count(*) AS n_docs, CAST(SUM(n_tri) AS BIGINT) AS total_tri,
        |  CAST(SUM(freq_sum) AS BIGINT) AS total_freq
        |FROM lb GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // deterministic weighted source-mixture sampler: per-language token
    // targets realized as int64 basis-point hash cutoffs
    Lane("q_sample_mixture", (s, d) => TextOps.mixtureSample(s, d),
      // weighted mixture sampler: all-int64 rate arithmetic, hash cutoff
      Sql("""WITH d AS (SELECT doc_id, lang,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |           FROM documents),
        |avail AS (SELECT lang, count(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS avail
        |          FROM d GROUP BY 1),
        |tot AS (SELECT CAST(SUM(avail) AS BIGINT) AS total FROM avail),
        |wt AS (SELECT * FROM (VALUES ('en', 40), ('de', 15), ('es', 15),
        |                             ('fr', 15), ('zh', 15)) w(lang, w)),
        |rates AS (SELECT a.lang, a.n_docs, a.avail,
        |            LEAST(10000, (t.total * 30 // 100 * w.w // 100) * 10000 // a.avail)
        |              AS rate_bp
        |          FROM avail a CROSS JOIN tot t JOIN wt w ON a.lang = w.lang),
        |sampled AS (SELECT d.lang, count(*) AS n_sampled,
        |              CAST(SUM(d.n_tok) AS BIGINT) AS tokens_sampled
        |            FROM d JOIN rates r USING (lang)
        |            WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 15))
        |                    AS UBIGINT) % 10000 < r.rate_bp
        |            GROUP BY 1)
        |SELECT r.lang, r.n_docs, r.avail, CAST(r.rate_bp AS BIGINT) AS rate_bp,
        |       COALESCE(s.n_sampled, 0) AS n_sampled,
        |       COALESCE(s.tokens_sampled, 0) AS tokens_sampled
        |FROM rates r LEFT JOIN sampled s USING (lang) ORDER BY r.lang""".stripMargin)),
    // funnel capstone: CDC scrub -> quality gate on cleaned text ->
    // mixture sampling, reported per language
    Lane("pipeline_llm_corpus", (s, d) => operators.Curation.llmCorpusFunnel(s, d),
      // the funnel capstone: CDC scrub -> Gopher gate on the CLEANED
      // text -> mixture-rate sampling, one row per language
      Sql(s"""WITH $cdcChunkCtes,
         |kept AS (SELECT doc_id, string_agg(chunk_text, ' ' ORDER BY chunk_id) AS text
         |         FROM hs WHERE h NOT IN (SELECT h FROM banned) GROUP BY 1),
         |surv1 AS (SELECT k.doc_id, d.lang, k.text
         |          FROM kept k JOIN documents d USING (doc_id)),
         |gop AS (SELECT doc_id, lang, text FROM (
         |  SELECT *,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |    CAST(length(regexp_replace(text, ' ', '', 'g')) AS BIGINT) AS ns,
         |    CAST(len(list_filter(string_split(text, ' '),
         |      w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
         |    CAST(list_contains(string_split(text, ' '), 'the') AS BIGINT)
         |      + CAST(list_contains(string_split(text, ' '), 'a') AS BIGINT)
         |      + CAST(list_contains(string_split(text, ' '), 'of') AS BIGINT)
         |      + CAST(list_contains(string_split(text, ' '), 'and') AS BIGINT)
         |      + CAST(list_contains(string_split(text, ' '), 'is') AS BIGINT)
         |      + CAST(list_contains(string_split(text, ' '), 'to') AS BIGINT)
         |      + CAST(list_contains(string_split(text, ' '), 'in') AS BIGINT) AS n_stops
         |  FROM surv1)
         |  WHERE n_words >= 20 AND n_words <= 100000
         |    AND ns >= n_words * 3 AND ns <= n_words * 10
         |    AND alpha_words * 5 >= n_words * 4 AND n_stops >= 2),
         |d2 AS (SELECT doc_id, lang,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM gop),
         |inc AS (SELECT lang, count(*) AS n_in FROM documents GROUP BY 1),
         |s1c AS (SELECT lang, count(*) AS n_after_scrub FROM surv1 GROUP BY 1),
         |avail AS (SELECT lang, count(*) AS n_after_quality,
         |            CAST(SUM(n_tok) AS BIGINT) AS avail_tokens FROM d2 GROUP BY 1),
         |tot AS (SELECT CAST(COALESCE(SUM(avail_tokens), 0) AS BIGINT) AS total FROM avail),
         |wt AS (SELECT * FROM (VALUES ('en', 40), ('de', 15), ('es', 15),
         |                             ('fr', 15), ('zh', 15)) w(lang, w)),
         |rates AS (SELECT i.lang, i.n_in,
         |            COALESCE(s.n_after_scrub, 0) AS n_after_scrub,
         |            COALESCE(a.n_after_quality, 0) AS n_after_quality,
         |            COALESCE(a.avail_tokens, 0) AS avail_tokens,
         |            CASE WHEN COALESCE(a.avail_tokens, 0) = 0 THEN 0
         |                 ELSE LEAST(10000,
         |                   (t.total * 30 // 100 * w.w // 100) * 10000 // a.avail_tokens)
         |            END AS rate_bp
         |          FROM inc i LEFT JOIN s1c s USING (lang) LEFT JOIN avail a USING (lang)
         |          CROSS JOIN tot t JOIN wt w ON i.lang = w.lang),
         |sampled AS (SELECT d2.lang, count(*) AS n_sampled,
         |              CAST(SUM(d2.n_tok) AS BIGINT) AS tokens_sampled
         |            FROM d2 JOIN rates r USING (lang)
         |            WHERE CAST(('0x' || substr(md5(CAST(d2.doc_id AS VARCHAR)), 1, 15))
         |                    AS UBIGINT) % 10000 < r.rate_bp
         |            GROUP BY 1)
         |SELECT r.lang, r.n_in, r.n_after_scrub, r.n_after_quality, r.avail_tokens,
         |       CAST(r.rate_bp AS BIGINT) AS rate_bp,
         |       COALESCE(s.n_sampled, 0) AS n_sampled,
         |       COALESCE(s.tokens_sampled, 0) AS tokens_sampled
         |FROM rates r LEFT JOIN sampled s USING (lang) ORDER BY r.lang""".stripMargin),
      build = Some((s, d) => operators.Curation.ensureLlmStages(s, d))),
    Lane("text_corpus_profile", TextOps.corpusProfile _,
      Sql("""SELECT lang, count(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  CAST(SUM(CASE WHEN n_tokens >= 10 AND n_tokens <= 1000
        |        AND CAST(n_stopwords AS DOUBLE) / CAST(n_tokens AS DOUBLE) < 0.5
        |        AND CAST(n_chars - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE) < 12.0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_quality
        |FROM (SELECT doc_id, lang,
        |        CAST(length(text) AS BIGINT) AS n_chars,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |        CAST(len(list_filter(string_split(text, ' '),
        |          t -> t IN ('the','a','of','and','is','to','in'))) AS BIGINT) AS n_stopwords
        |      FROM documents)
        |GROUP BY 1""".stripMargin)),
    // per-(lang,source) deterministic hash sample: counts + id checksum
    Lane("q_sample_stratified", (s, d) => TextOps.stratifiedSample(s, d),
      // stratified hash sampling: exact per-stratum counts + id-sum
      // checksum of the sampled set (pins WHICH docs, not just how many)
      Sql("""WITH s AS (SELECT doc_id, lang, source,
        |  CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) % 100 < 25
        |       THEN 1 ELSE 0 END AS sampled
        |  FROM documents)
        |SELECT lang, source, count(*) AS n_total,
        |  CAST(SUM(sampled) AS BIGINT) AS n_sampled,
        |  CAST(SUM(doc_id * sampled) AS BIGINT) AS sampled_id_sum
        |FROM s GROUP BY 1, 2
        |ORDER BY lang, source""".stripMargin)),
    // temperature-flattened domain mixture (share ∝ sqrt(n)), realized
    // as deterministic per-source hash cutoffs — integer-weight float
    // discipline makes the sampled set bit-identical in DuckDB
    Lane("q_sample_temperature", (s, d) => TextOps.temperatureSample(s, d),
      // temperature mixture: integer weights (floor(sqrt(n)*1e6)) make Z
      // exact; the remaining ops are correctly-rounded IEEE with exact
      // inputs, so the 2^60 cutoffs — and the sampled set — are
      // bit-identical across engines
      Sql("""WITH c AS (SELECT source, count(*) AS n_docs,
        |    CAST(floor(sqrt(SUM(n_chars)) * 1000000.0) AS BIGINT) AS w
        |  FROM documents GROUP BY 1),
        |z AS (SELECT CAST(SUM(w) AS BIGINT) AS z FROM c),
        |cut AS (SELECT c.source, c.n_docs,
        |    CAST(floor(least(1.0, 200.0 * c.w / z.z / c.n_docs)
        |         * 1152921504606846976.0) AS BIGINT) AS cut
        |  FROM c, z),
        |u AS (SELECT d.doc_id, d.source,
        |    CAST(CAST(('0x' || substr(md5('mix|' || CAST(d.doc_id AS VARCHAR)), 1, 15))
        |         AS UBIGINT) AS BIGINT) AS u
        |  FROM documents d)
        |SELECT u.source, cut.n_docs,
        |  CAST(SUM(CASE WHEN u.u < cut.cut THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |  CAST(SUM(CASE WHEN u.u < cut.cut THEN u.doc_id ELSE 0 END) AS BIGINT) AS sampled_id_sum
        |FROM u JOIN cut ON u.source = cut.source
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin)),
    // per-source quota cap (RefinedWeb per-domain cap): top-`cap` docs
    // per source by md5 priority, as a k-bounded heap agg — no sort
    Lane("q_sample_quota", (s, d) => TextOps.quotaSample(s, d),
      // per-source quota cap: row_number over the same md5 priority
      // (the engine's heap agg ≡ the window's first `cap` rows)
      Sql("""WITH pri AS (SELECT source, doc_id,
        |    CAST(('0x' || substr(md5('quota|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS h
        |  FROM documents),
        |r AS (SELECT source, doc_id,
        |        row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
        |      FROM pri)
        |SELECT source, doc_id, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 15""".stripMargin)),
    // weighted sampling without replacement: per-source top-k by
    // priority w/u (one shared-shape IEEE division; integers emitted)
    Lane("q_sample_priority", (s, d) => TextOps.prioritySample(s, d),
      // priority sampling: weight = ws-token count + 1, u from the shared
      // md5 discipline — ONE IEEE division per row ranks identically in
      // both engines; only integers are emitted
      Sql("""WITH pri AS (SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) + 1 AS BIGINT) AS n_tokens,
        |    CAST(('0x' || substr(md5('prio|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS h
        |  FROM documents),
        |r AS (SELECT source, doc_id, n_tokens,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY CAST(n_tokens AS DOUBLE) / CAST(h + 1 AS DOUBLE) DESC,
        |            doc_id) AS rk
        |      FROM pri)
        |SELECT source, doc_id, n_tokens, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 15""".stripMargin)),
    // cluster-balanced selection: per-IVF-list cap by content-addressed
    // priority — the diversity-preserving sibling of dedup_semdedup
    Lane("q_sample_cluster", (s, d) => Similarity.clusterBalancedSample(s, d),
      // cluster-balanced selection: the IVF assignment CTEs ∘ the quota
      // rank shape, keyed on list_id — membership a pure function of
      // (codebook, vec_id)
      Sql(s"""WITH $centCte,
         |$ivfCtes,
         |pri AS (SELECT list_id, vec_id,
         |    CAST(('0x' || substr(md5('cquota|' || CAST(vec_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS h
         |  FROM assigned),
         |r AS (SELECT list_id, vec_id,
         |        row_number() OVER (PARTITION BY list_id ORDER BY h, vec_id) AS rk
         |      FROM pri)
         |SELECT list_id, vec_id, CAST(rk AS BIGINT) AS rk FROM r WHERE rk <= 10""".stripMargin),
      build = Some((s, d) => Similarity.ensureAnnStages(s, d))),
    // DSIR-shaped importance selection: hashed-bigram bucket weights
    // (centered quantized probability ratios — log-free, engine-exact),
    // length-normalized int64 doc scores, heap top-k
    Lane("text_dsir_topk", (s, d) => TextOps.dsirTopK(s, d),
      // DSIR selection: same hashed-bigram buckets, same centered
      // quantized-ratio weights (identical left-to-right IEEE shape),
      // same length-normalized floor — int64-exact end to end
      Sql("""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS tok FROM documents),
        |bg AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5('dsir|' || tok[i] || ' ' || tok[i+1]), 1, 15)) AS UBIGINT)
        |      % 1024 AS b
        |  FROM t, unnest(range(1, len(tok))) u(i)),
        |tgt AS (SELECT b, count(*) AS n_t FROM bg WHERE lang = 'en' GROUP BY 1),
        |raw AS (SELECT b, count(*) AS n_r FROM bg GROUP BY 1),
        |tots AS (SELECT (SELECT count(*) FROM bg WHERE lang = 'en') AS tot_t,
        |                (SELECT count(*) FROM bg) AS tot_r),
        |w AS (
        |  SELECT raw.b,
        |    CAST(floor(1e6 * ((COALESCE(tgt.n_t, 0) + 1)::DOUBLE / (tots.tot_t + 1024))
        |                   / ((raw.n_r + 1)::DOUBLE / (tots.tot_r + 1024))) AS BIGINT)
        |      - 1000000 AS wt
        |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tots),
        |score AS (
        |  SELECT bg.doc_id, sum(w.wt) AS s, count(*) AS nb
        |  FROM bg JOIN w ON bg.b = w.b GROUP BY 1)
        |SELECT doc_id, CAST(floor(s::DOUBLE / nb) AS BIGINT) AS dsir_score
        |FROM score ORDER BY dsir_score DESC, doc_id LIMIT 50""".stripMargin),
      build = Some((s, d) => TextOps.ensureDsirStages(s, d))),
    // edit-distance record linkage over part names: distinct-value
    // reduction → token blocking → exact integer levenshtein verify
    Lane("dedup_fuzzy_names", (s, d) => operators.Linkage.fuzzyNamePairs(s, d),
      // fuzzy record linkage: DuckDB's levenshtein is the same classic
      // integer DP as Spark's — the verified pairs are exact with no
      // quantization; blocking (shared token over DISTINCT names) is
      // written identically so the candidate sets match by construction
      Sql("""WITH names AS (
        |  SELECT p_name AS name, count(*) AS n_parts FROM part GROUP BY 1),
        |tok AS (SELECT name, unnest(string_split(name, ' ')) AS t FROM names),
        |cand AS (
        |  SELECT DISTINCT a.name AS name_a, b.name AS name_b
        |  FROM tok a JOIN tok b ON a.t = b.t AND a.name < b.name),
        |v AS (
        |  SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
        |  FROM cand WHERE levenshtein(name_a, name_b) BETWEEN 1 AND 2)
        |SELECT v.name_a, v.name_b, v.dist, na.n_parts AS n_a, nb.n_parts AS n_b
        |FROM v JOIN names na ON v.name_a = na.name
        |       JOIN names nb ON v.name_b = nb.name""".stripMargin)),
    // selection funnel capstone: per-source quota cap ∘ DSIR top-k,
    // per-stage loss attributable per source
    Lane("pipeline_selection", (s, d) => operators.Curation.selectionFunnel(s, d),
      // selection funnel: quota CTE ∘ the dsir score CTEs, global top-50
      // over the capped pool, rolled up per source with zero-backfill
      Sql("""WITH pri AS (SELECT source, doc_id,
        |    CAST(('0x' || substr(md5('quota|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS h
        |  FROM documents),
        |r AS (SELECT source, doc_id,
        |        row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk
        |      FROM pri),
        |quota AS (SELECT source, doc_id FROM r WHERE rk <= 15),
        |t AS (SELECT doc_id, lang, string_split(text, ' ') AS tok FROM documents),
        |bg AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5('dsir|' || tok[i] || ' ' || tok[i+1]), 1, 15)) AS UBIGINT)
        |      % 1024 AS b
        |  FROM t, unnest(range(1, len(tok))) u(i)),
        |tgt AS (SELECT b, count(*) AS n_t FROM bg WHERE lang = 'en' GROUP BY 1),
        |raw AS (SELECT b, count(*) AS n_r FROM bg GROUP BY 1),
        |tots AS (SELECT (SELECT count(*) FROM bg WHERE lang = 'en') AS tot_t,
        |                (SELECT count(*) FROM bg) AS tot_r),
        |w AS (
        |  SELECT raw.b,
        |    CAST(floor(1e6 * ((COALESCE(tgt.n_t, 0) + 1)::DOUBLE / (tots.tot_t + 1024))
        |                   / ((raw.n_r + 1)::DOUBLE / (tots.tot_r + 1024))) AS BIGINT)
        |      - 1000000 AS wt
        |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tots),
        |score AS (
        |  SELECT bg.doc_id, sum(w.wt) AS s, count(*) AS nb
        |  FROM bg JOIN w ON bg.b = w.b GROUP BY 1),
        |sc AS (SELECT doc_id, CAST(floor(s::DOUBLE / nb) AS BIGINT) AS dsir_score
        |       FROM score),
        |sel AS (SELECT source, doc_id FROM (
        |  SELECT q.source, q.doc_id,
        |    row_number() OVER (ORDER BY sc.dsir_score DESC, q.doc_id) AS rk2
        |  FROM quota q JOIN sc ON q.doc_id = sc.doc_id) WHERE rk2 <= 50),
        |nin AS (SELECT source, count(*) AS n_in FROM documents GROUP BY 1),
        |nq AS (SELECT source, count(*) AS n_quota FROM quota GROUP BY 1),
        |ns AS (SELECT source, count(*) AS n_selected,
        |         CAST(SUM(doc_id) AS BIGINT) AS selected_id_sum FROM sel GROUP BY 1)
        |SELECT nin.source, nin.n_in,
        |  CAST(COALESCE(nq.n_quota, 0) AS BIGINT) AS n_quota,
        |  CAST(COALESCE(ns.n_selected, 0) AS BIGINT) AS n_selected,
        |  CAST(COALESCE(ns.selected_id_sum, 0) AS BIGINT) AS selected_id_sum
        |FROM nin LEFT JOIN nq ON nin.source = nq.source
        |         LEFT JOIN ns ON nin.source = ns.source""".stripMargin),
      build = Some((s, d) => TextOps.ensureDsirStages(s, d))),
    // per-source rule matrix: quality ∘ repetition ∘ PII gates counted
    // per provenance source in one scan
    Lane("pipeline_rule_matrix", (s, d) => operators.Curation.ruleMatrix(s, d),
      // per-source rule matrix: the three per-row gates re-derived over
      // the SAME seeded corpus (quality bits ∘ repetition ladder ∘ PII
      // any-hit), rolled up per source; docs with no n-grams at all are
      // repetition-clean via the left join's COALESCE
      Sql(ruleMatrixSql)),
    // the SAME report produced by the Structured Streaming twin run to
    // completion (4 micro-batches through complete-mode state) — the
    // stream ≡ batch claim as an oracle row, not just a spec. The
    // stream runs once behind the build seam (ensureStreamMatrixSink);
    // the probe reads its staged sink, like every other ingest lane.
    Lane("stream_rule_matrix", (s, d) =>
      streaming.StreamingCuration.matrixReportFromSink(s, d),
      // the streaming end-to-end run must hash to the identical report —
      // same SQL verbatim
      Sql(ruleMatrixSql),
      build = Some((s, d) => {
        streaming.StreamingCuration.ensureStreamMatrixSink(s, d); () })),
    // one-pass per-column completeness/cardinality audit
    Lane("q_profile_orders", operators.Profile.profileOrders _,
      // per-column profile: one SELECT per column, UNION ALL'd
      Sql(Seq("o_custkey", "o_orderdate", "o_orderkey", "o_orderpriority",
          "o_orderstatus", "o_totalprice")
        .map(c => s"""SELECT '$c' AS col_name, count(*) AS n_rows,
                     |  count($c) AS n_nonnull, count(DISTINCT $c) AS n_distinct
                     |FROM orders""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"))),
    // rule-based quality expectations: all single-table rules in one
    // agg pass per table, referential+temporal rules share one join
    Lane("q_quality_expectations", operators.Profile.expectations _,
      // every rule's violation count recomputed from the same predicates
      Sql("""WITH ob AS (SELECT count(*) AS n,
        |    SUM(CASE WHEN o_orderdate < TIMESTAMP '1995-01-01'
        |              OR o_orderdate > TIMESTAMP '2001-12-31' THEN 1 ELSE 0 END) AS v_date,
        |    SUM(CASE WHEN o_orderpriority NOT IN
        |          ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
        |        THEN 1 ELSE 0 END) AS v_prio,
        |    SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS v_price
        |  FROM orders),
        |lb AS (SELECT count(*) AS n,
        |    SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS v_disc,
        |    SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS v_qty
        |  FROM lineitem),
        |jb AS (SELECT count(*) AS n,
        |    SUM(CASE WHEN o.o_orderkey IS NOT NULL AND l.l_shipdate <= o.o_orderdate
        |        THEN 1 ELSE 0 END) AS v_ship,
        |    SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS v_fk
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |SELECT rule, n_checked, CAST(n_violations AS BIGINT) AS n_violations FROM (
        |  SELECT 'o_orderdate_in_range' AS rule, n AS n_checked, v_date AS n_violations FROM ob
        |  UNION ALL SELECT 'o_orderpriority_in_domain', n, v_prio FROM ob
        |  UNION ALL SELECT 'o_totalprice_positive', n, v_price FROM ob
        |  UNION ALL SELECT 'l_discount_in_range', n, v_disc FROM lb
        |  UNION ALL SELECT 'l_quantity_in_range', n, v_qty FROM lb
        |  UNION ALL SELECT 'l_ship_after_order', n, v_ship FROM jb
        |  UNION ALL SELECT 'lineitem_order_fk', n, v_fk FROM jb)
        |ORDER BY rule""".stripMargin)),
    // robust daily volume anomaly monitor: median/MAD in exact integers
    Lane("q_anomaly_days", operators.Profile.anomalyDays _,
      // median/MAD anomaly monitor — rank-selected medians, integer
      // deviations, 3×MAD band with a floor of 1
      Sql("""WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS event_date, count(*) AS n_events
        |  FROM events GROUP BY 1),
        |r1 AS (SELECT *, row_number() OVER (ORDER BY n_events, event_date) AS rk,
        |              count(*) OVER () AS cnt FROM daily),
        |med AS (SELECT n_events AS med_n FROM r1 WHERE rk = (cnt + 1) // 2),
        |dev AS (SELECT d.event_date, d.n_events, m.med_n,
        |               abs(d.n_events - m.med_n) AS dev FROM daily d, med m),
        |r2 AS (SELECT *, row_number() OVER (ORDER BY dev, event_date) AS rk,
        |              count(*) OVER () AS cnt FROM dev),
        |mad AS (SELECT dev AS mad_n FROM r2 WHERE rk = (cnt + 1) // 2)
        |SELECT d.event_date, CAST(d.n_events AS BIGINT) AS n_events,
        |  CAST(d.med_n AS BIGINT) AS med_n, CAST(m.mad_n AS BIGINT) AS mad_n,
        |  CAST(CASE WHEN d.dev > 3 * GREATEST(m.mad_n, 1) THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_anomaly
        |FROM dev d, mad m ORDER BY 1""".stripMargin)),
    // C4/Gopher repeated-n-gram signal as two exact int64s per doc
    Lane("text_repetition", TextOps.repetition _,
      // repeated-n-gram signal: total 3-gram positions vs distinct 3-grams
      // (repeated fraction = 1 − n_distinct/n_grams, exact from the ints)
      Sql("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tok FROM documents),
        |sh AS (SELECT DISTINCT doc_id, array_to_string(tok[i:i+2], ' ') AS shingle
        |       FROM t, unnest(range(1, len(tok) - 1)) u(i)),
        |d AS (SELECT doc_id, count(*) AS n_distinct FROM sh GROUP BY 1)
        |SELECT t.doc_id, CAST(greatest(len(tok) - 2, 0) AS BIGINT) AS n_grams,
        |       CAST(COALESCE(d.n_distinct, 0) AS BIGINT) AS n_distinct
        |FROM t LEFT JOIN d ON t.doc_id = d.doc_id""".stripMargin)),
    Lane("dedup_exact_text", TextOps.exactDedup _,
      Sql("""SELECT min(doc_id) AS doc_id, md5(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz')) AS fp, count(*) AS n_copies
        |FROM documents GROUP BY md5(translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'))""".stripMargin)),
    Lane("dedup_exact_unicode", TextOps.exactDedupUnicode _,
      // same order as the engine: trim → NFC → lowercase → md5 (DuckDB's
      // utf8proc lower agrees with root-locale Java lowercase on the
      // normalized form)
      Sql("""SELECT min(doc_id) AS doc_id, md5(lower(nfc_normalize(trim(text)))) AS fp,
        |       count(*) AS n_copies
        |FROM documents GROUP BY 2""".stripMargin)),
    // bloom membership prefilter next to the exact truth: the one-sided
    // contract (no false negatives) sits in the gated values themselves
    Lane("dedup_bloom_prefilter", (s, d) => operators.Dedup.bloomPrefilter(s, d),
      // md5-position bloom rebuilt bit-for-bit; bloom_maybe requires every
      // distinct position set, exact_dup is the plain key semi-join
      Sql("""WITH k AS (SELECT doc_id, translate(trim(text), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz') AS key FROM documents),
        |pos AS (SELECT DISTINCT doc_id, bit FROM (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(CAST(h AS VARCHAR) || '|' || key), 1, 15)) AS UBIGINT)
        |      % 2048 AS bit
        |  FROM k, range(0, 4) t(h) WHERE doc_id % 5 = 0)),
        |cb AS (SELECT DISTINCT
        |    CAST(('0x' || substr(md5(CAST(h AS VARCHAR) || '|' || key), 1, 15)) AS UBIGINT)
        |      % 2048 AS bit
        |  FROM k, range(0, 4) t(h) WHERE doc_id % 5 <> 0),
        |mb AS (SELECT p.doc_id,
        |    CAST(CASE WHEN count(*) = count(cb.bit) THEN 1 ELSE 0 END AS BIGINT) AS bloom_maybe
        |  FROM pos p LEFT JOIN cb USING (bit) GROUP BY 1),
        |ex AS (SELECT b.doc_id,
        |    CAST(CASE WHEN c.key IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS exact_dup
        |  FROM k b LEFT JOIN (SELECT DISTINCT key FROM k WHERE doc_id % 5 <> 0) c
        |    ON b.key = c.key
        |  WHERE b.doc_id % 5 = 0)
        |SELECT e.doc_id, m.bloom_maybe, e.exact_dup
        |FROM ex e JOIN mb m ON e.doc_id = m.doc_id
        |ORDER BY 1""".stripMargin)),
    // perplexity-proxy quality signal: per-doc char-trigram corpus-
    // frequency statistics (exact integers — the oracle-safe form of
    // LM likelihood scoring)
    Lane("text_charlm_score", TextOps.charTrigramScore _,
      // per-doc char-trigram corpus-frequency stats (both engines index
      // characters 1-based; the division is exact-int inputs → IEEE-stable)
      Sql("""WITH tri AS (
        |  SELECT doc_id, substr(text, CAST(i AS BIGINT), 3) AS tri
        |  FROM documents, unnest(range(1, length(text) - 1)) u(i)
        |  WHERE length(text) >= 3),
        |cf AS (SELECT tri, count(*) AS cf FROM tri GROUP BY 1)
        |SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tri,
        |  CAST(SUM(c.cf) AS BIGINT) AS freq_sum,
        |  CAST(SUM(c.cf) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_freq
        |FROM tri t JOIN cf c USING (tri)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // ── near-dup dedup at scale ──
    Lane("dedup_minhash_lsh", (s, d) => MinHash.minhashDedup(s, d),
      Sql(s"""$shingleCte,
         |$minhashCtes
         |$jaccardFromSh
         |SELECT doc_a, doc_b, jaccard FROM pairj WHERE jaccard >= 0.5""".stripMargin),
      build = Some((s, d) => MinHash.ensureNearDupStages(s, d))),
    Lane("dedup_minhash_survivors", (s, d) => MinHash.minhashSurvivors(s, d),
      Sql(s"""$shingleCte,
         |$minhashCtes
         |$jaccardFromSh
         |SELECT doc_id, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT doc_b FROM pairj WHERE jaccard >= 0.5)""".stripMargin),
      build = Some((s, d) => MinHash.ensureNearDupStages(s, d))),
    // LSH S-curve sweep: per (r, b) config over the same signatures,
    // candidate volume vs verified vs missed-true-pair counts
    Lane("dedup_lsh_tradeoff", (s, d) => MinHash.lshTradeoff(s, d),
      // LSH operating-curve sweep: all-integer counts per band config
      Sql(lshTradeoffSql)),
    // pairs → duplicate clusters: connected components over the verified
    // pair graph (alternating large-star/small-star, O(log n) rounds)
    Lane("dedup_clusters", (s, d) => MinHash.dedupClusters(s, d),
      // transitive closure of the verified pairs as a recursive
      // reachability CTE — exact on the test graphs' small components;
      // the engine side is the O(log n) alternating-star algorithm
      Sql(s"""$clusterCtes,
         |cs AS (SELECT cluster_id, count(*) AS cluster_size FROM lab GROUP BY 1)
         |SELECT l.doc_id, l.cluster_id, cs.cluster_size
         |FROM lab l JOIN cs USING (cluster_id)
         |ORDER BY l.doc_id""".stripMargin),
      build = Some((s, d) => MinHash.ensureNearDupStages(s, d))),
    // daily-ingest shape: incoming batch probes the corpus band index
    // asymmetrically; admitted = no verified corpus match
    Lane("dedup_incremental", (s, d) => MinHash.incrementalDedup(s, d),
      // asymmetric band probe (batch × corpus, never corpus²); admitted =
      // batch doc with no exact-Jaccard-verified corpus match
      Sql(incrementalSql),
      build = Some((s, d) => MinHash.ensureIncrementalIndex(s, d))),
    // same ingest shape probing the PERSISTED bucketed shingle index:
    // corpus side plans with zero Exchange (batch bands broadcast,
    // verify probe reads doc_id buckets) — same oracle SQL verbatim
    Lane("dedup_incremental_bucketed", (s, d) =>
      MinHash.incrementalDedupBucketed(s, d, MinHash.ensureShingleIndex(s, d)),
      // identical semantics through the persisted bucketed index — the
      // store holds the same shingle arrays the oracle derives inline
      Sql(incrementalSql),
      build = Some((s, d) => { MinHash.ensureShingleIndex(s, d); () })),
    // the GROWN store (base build + appended batch, no file rewrites)
    // must verify the same pairs as the one-shot pipeline — same oracle
    // SQL as dedup_minhash_lsh verbatim
    Lane("dedup_lsh_grown", (s, d) => MinHash.minhashDedupGrown(s, d),
      // grown store ≡ one-shot pipeline: same SQL verbatim
      Sql(s"""$shingleCte,
         |$minhashCtes
         |$jaccardFromSh
         |SELECT doc_a, doc_b, jaccard FROM pairj WHERE jaccard >= 0.5""".stripMargin),
      build = Some((s, d) => { MinHash.ensureGrownShingleIndex(s, d); () })),
    // cluster-aware curation: longest member of each duplicate cluster
    // survives (transitive-safe, unlike pairwise keep-lowest-id)
    Lane("dedup_cluster_survivors", (s, d) => MinHash.clusterSurvivors(s, d),
      // cluster-aware curation: longest member per cluster survives
      Sql(s"""$clusterCtes,
         |lw AS (SELECT l.doc_id, l.cluster_id, d.n_chars
         |       FROM lab l JOIN documents d USING (doc_id)),
         |win AS (SELECT cluster_id, doc_id AS keep_id FROM (
         |  SELECT cluster_id, doc_id, row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY n_chars DESC, doc_id) AS rk FROM lw) WHERE rk = 1)
         |SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
         |  CAST(CASE WHEN l.cluster_id IS NULL THEN 1
         |            WHEN w.keep_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM documents d
         |LEFT JOIN lab l ON d.doc_id = l.doc_id
         |LEFT JOIN win w ON w.cluster_id = l.cluster_id AND w.keep_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),
      build = Some((s, d) => MinHash.ensureNearDupStages(s, d))),
    Lane("dedup_report", (s, d) => MinHash.dedupReport(s, d),
      // per-source curation summary over the same verified-pair pipeline
      Sql(s"""$shingleCte,
         |$minhashCtes
         |$jaccardFromSh,
         |drops AS (SELECT DISTINCT doc_b AS doc_id FROM pairj WHERE jaccard >= 0.5)
         |SELECT source, count(*) AS n_docs,
         |  CAST(SUM(CASE WHEN d.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
         |  CAST(count(*) - SUM(CASE WHEN d.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
         |FROM documents LEFT JOIN drops d USING (doc_id)
         |GROUP BY 1""".stripMargin),
      build = Some((s, d) => MinHash.ensureNearDupStages(s, d))),
    // the curation CAPSTONE: cluster-survivor dedup ∘ quality gate →
    // per-source in/dup-dropped/quality-dropped/shipped report
    Lane("pipeline_curation", operators.Curation.curationSummary(_, _),
      // dedup survivors ∘ quality gate → per-source curation report; the
      // quality predicate is the curation POLICY (stricter than
      // text_quality's contract) so every report column is non-vacuous
      Sql(s"""$clusterCtes,
         |lw AS (SELECT l.doc_id, l.cluster_id, d.n_chars
         |       FROM lab l JOIN documents d USING (doc_id)),
         |win AS (SELECT cluster_id, doc_id AS keep_id FROM (
         |  SELECT cluster_id, doc_id, row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY n_chars DESC, doc_id) AS rk FROM lw) WHERE rk = 1),
         |qual AS (SELECT doc_id,
         |    (n_tokens >= 40 AND n_stopwords >= 1
         |     AND CAST(n_chars - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE) < 12.0)
         |      AS is_quality
         |  FROM (SELECT doc_id,
         |          CAST(length(text) AS BIGINT) AS n_chars,
         |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |          CAST(len(list_filter(string_split(text, ' '),
         |            t -> t IN ('the','a','of','and','is','to','in'))) AS BIGINT) AS n_stopwords
         |        FROM documents)),
         |keptq AS (
         |  SELECT d.source,
         |    CASE WHEN l.cluster_id IS NULL THEN 1
         |         WHEN w.keep_id IS NOT NULL THEN 1 ELSE 0 END AS kept,
         |    q.is_quality
         |  FROM documents d
         |  LEFT JOIN lab l ON d.doc_id = l.doc_id
         |  LEFT JOIN win w ON w.cluster_id = l.cluster_id AND w.keep_id = d.doc_id
         |  JOIN qual q ON q.doc_id = d.doc_id)
         |SELECT source, count(*) AS n_docs,
         |  CAST(SUM(CASE WHEN kept = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_dropped,
         |  CAST(SUM(CASE WHEN kept = 1 AND NOT is_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_dropped,
         |  CAST(SUM(CASE WHEN kept = 1 AND is_quality THEN 1 ELSE 0 END) AS BIGINT) AS n_final
         |FROM keptq GROUP BY 1 ORDER BY source""".stripMargin),
      build = Some((s, d) => MinHash.ensureNearDupStages(s, d))),
    // cross-modality capstone: text cluster-survivor ∧ image dHash ∧
    // audio aHash ∧ video vHash lanes must all keep a doc; per-source
    // per-lane drop counts — exercises the shared stage memos across
    // all four families
    Lane("pipeline_crossmodal", operators.Curation.crossModalCuration(_, _),
      // cross-modality capstone: the text survivor CTEs plus all three
      // media fingerprint pipelines re-derived in full (each embedded as
      // a nested-WITH CTE), drop sets per lane, survivors of all four
      Sql(s"""$clusterCtes,
         |lw AS (SELECT l.doc_id, l.cluster_id, d.n_chars
         |       FROM lab l JOIN documents d USING (doc_id)),
         |win AS (SELECT cluster_id, doc_id AS keep_id FROM (
         |  SELECT cluster_id, doc_id, row_number() OVER (PARTITION BY cluster_id
         |    ORDER BY n_chars DESC, doc_id) AS rk FROM lw) WHERE rk = 1),
         |tkept AS (
         |  SELECT d.doc_id,
         |    CASE WHEN l.cluster_id IS NULL THEN 1
         |         WHEN w.keep_id IS NOT NULL THEN 1 ELSE 0 END AS kept
         |  FROM documents d
         |  LEFT JOIN lab l ON d.doc_id = l.doc_id
         |  LEFT JOIN win w ON w.cluster_id = l.cluster_id AND w.keep_id = d.doc_id),
         |imgp AS ($mediaPhashSql),
         |audp AS ($mediaAhashSql),
         |vidp AS ($mediaVhashSql),
         |idrop AS (SELECT DISTINCT doc_b AS doc_id FROM imgp),
         |adrop AS (SELECT DISTINCT doc_b AS doc_id FROM audp),
         |vdrop AS (SELECT DISTINCT doc_b AS doc_id FROM vidp)
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(SUM(CASE WHEN t.kept = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_text_drop,
         |  CAST(SUM(CASE WHEN i.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_image_drop,
         |  CAST(SUM(CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_audio_drop,
         |  CAST(SUM(CASE WHEN v.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_video_drop,
         |  CAST(SUM(CASE WHEN t.kept = 1 AND i.doc_id IS NULL AND a.doc_id IS NULL
         |                AND v.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_final
         |FROM documents d
         |JOIN tkept t ON t.doc_id = d.doc_id
         |LEFT JOIN idrop i ON i.doc_id = d.doc_id
         |LEFT JOIN adrop a ON a.doc_id = d.doc_id
         |LEFT JOIN vdrop v ON v.doc_id = d.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin),
      build = Some((s, d) => {
        MinHash.ensureNearDupStages(s, d); operators.Multimodal.ensureMediaStages(s, d)
      })),
    Lane("dedup_ngram_jaccard", (s, d) => MinHash.ngramJaccardPairs(s, d),
      // df cap 128 on the inverted index, same as MinHash.DfCap — applied
      // consistently to intersections AND set sizes on both sides
      Sql(s"""$shingleCte,
         |shc AS (SELECT sh.doc_id, sh.shingle FROM sh
         |        JOIN (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 128) ok
         |        USING (shingle)),
         |inter AS (SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, count(*) AS inter
         |          FROM shc s1 JOIN shc s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
         |          GROUP BY 1, 2),
         |pairj AS (
         |  SELECT i.doc_a, i.doc_b,
         |         CAST(i.inter AS DOUBLE) / CAST(sa.n + sb.n - i.inter AS DOUBLE) AS jaccard
         |  FROM inter i
         |  JOIN (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1) sa ON i.doc_a = sa.doc_id
         |  JOIN (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1) sb ON i.doc_b = sb.doc_id)
         |SELECT doc_a, doc_b, jaccard FROM pairj WHERE jaccard >= 0.5""".stripMargin)),
    // weighted Jaccard (integer 1/df rarity weights): shared rare
    // content dominates, shared boilerplate buys ~nothing
    Lane("dedup_weighted_jaccard", (s, d) => MinHash.weightedJaccardPairs(s, d),
      // weighted Jaccard over the same df-capped index: integer 1000//df
      // rarity weights, one IEEE division for the emitted score
      Sql(s"""$shingleCte,
         |shc AS (SELECT sh.doc_id, sh.shingle FROM sh
         |        JOIN (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 128) ok
         |        USING (shingle)),
         |dfw AS (SELECT shingle, 1000 // count(*) AS w FROM shc GROUP BY 1),
         |shw AS (SELECT shc.doc_id, shc.shingle, dfw.w FROM shc JOIN dfw USING (shingle)),
         |inter AS (SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b,
         |            CAST(SUM(s1.w) AS BIGINT) AS inter_w
         |          FROM shw s1 JOIN shw s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
         |          GROUP BY 1, 2),
         |sz AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS wsum FROM shw GROUP BY 1),
         |pairw AS (
         |  SELECT i.doc_a, i.doc_b, i.inter_w,
         |         CAST(sa.wsum + sb.wsum - i.inter_w AS BIGINT) AS union_w,
         |         CAST(i.inter_w AS DOUBLE) /
         |           CAST(sa.wsum + sb.wsum - i.inter_w AS DOUBLE) AS w_jaccard
         |  FROM inter i
         |  JOIN sz sa ON i.doc_a = sa.doc_id
         |  JOIN sz sb ON i.doc_b = sb.doc_id)
         |SELECT doc_a, doc_b, inter_w, union_w, w_jaccard FROM pairw
         |WHERE w_jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin)),
    // one-sided containment: the partial-duplication detector (short
    // doc quoted inside a long one) Jaccard misses; both orientations
    Lane("dedup_ngram_containment", (s, d) => MinHash.ngramContainmentPairs(s, d),
      // one-sided containment |A∩B|/|A| over the same df-capped index —
      // both orientations of each intersecting pair, threshold 0.8
      Sql(s"""$shingleCte,
         |shc AS (SELECT sh.doc_id, sh.shingle FROM sh
         |        JOIN (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 128) ok
         |        USING (shingle)),
         |inter AS (SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, count(*) AS inter
         |          FROM shc s1 JOIN shc s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
         |          GROUP BY 1, 2),
         |sized AS (
         |  SELECT i.doc_a, i.doc_b, i.inter, sa.n AS n_a, sb.n AS n_b
         |  FROM inter i
         |  JOIN (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1) sa ON i.doc_a = sa.doc_id
         |  JOIN (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1) sb ON i.doc_b = sb.doc_id),
         |both_dirs AS (
         |  SELECT doc_a AS inner_doc, doc_b AS outer_doc,
         |         CAST(inter AS DOUBLE) / CAST(n_a AS DOUBLE) AS containment FROM sized
         |  UNION ALL
         |  SELECT doc_b, doc_a, CAST(inter AS DOUBLE) / CAST(n_b AS DOUBLE) FROM sized)
         |SELECT inner_doc, outer_doc, containment
         |FROM both_dirs WHERE containment >= 0.8""".stripMargin)),
    // dedup-index quality contract (the ANN-recall analog): every exact
    // n-gram-Jaccard truth pair flagged found/missed by the LSH index —
    // the r=4×b=3 collision curve made visible and oracle-exact
    Lane("dedup_lsh_recall", (s, d) => MinHash.lshDedupRecall(s, d),
      // truth = df-capped exact n-gram Jaccard pairs; found = the LSH
      // pipeline's verified pairs (pairj); flag per truth pair
      Sql(s"""$shingleCte,
         |$minhashCtes
         |$jaccardFromSh,
         |shc AS (SELECT sh.doc_id, sh.shingle FROM sh
         |        JOIN (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 128) ok
         |        USING (shingle)),
         |intert AS (SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, count(*) AS inter
         |           FROM shc s1 JOIN shc s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
         |           GROUP BY 1, 2),
         |pairt AS (
         |  SELECT i.doc_a, i.doc_b,
         |         CAST(i.inter AS DOUBLE) / CAST(sa.n + sb.n - i.inter AS DOUBLE) AS jaccard
         |  FROM intert i
         |  JOIN (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1) sa ON i.doc_a = sa.doc_id
         |  JOIN (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1) sb ON i.doc_b = sb.doc_id)
         |SELECT t.doc_a, t.doc_b,
         |  CAST(CASE WHEN p.doc_a IS NULL THEN 0 ELSE 1 END AS BIGINT) AS found_by_lsh
         |FROM (SELECT doc_a, doc_b FROM pairt WHERE jaccard >= 0.5) t
         |LEFT JOIN (SELECT doc_a, doc_b FROM pairj WHERE jaccard >= 0.5) p
         |  ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b
         |ORDER BY t.doc_a, t.doc_b""".stripMargin)),
    Lane("text_simhash", MinHash.simhash _,
      Sql("""WITH toks AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
        |              FROM documents),
        |h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 15)) AS UBIGINT) AS h FROM toks),
        |votes AS (SELECT doc_id, b,
        |            SUM(CAST((h >> b) & 1 AS BIGINT) * 2 - 1) AS vote
        |          FROM h, unnest(range(0, 60)) u(b) GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
        |FROM votes GROUP BY 1""".stripMargin)),
    // lexical retrieval: BM25 top-k over the corpus inverted index,
    // exact-integer scores (floored 1e-6-quantized BM25)
    Lane("search_bm25_topk", (s, d) => operators.Search.bm25TopK(s, d),
      // BM25: idf/tf factors as single double divisions of exact integer
      // operands in the identical left-to-right shape as the Scala —
      // IEEE-correctly-rounded in both engines, so the floored int64
      // per-term scores (and their sums) are bit-identical
      Sql(s"""WITH $bm25ScoreCtes
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, CAST(rk AS BIGINT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
         |      FROM scores)
         |WHERE rk <= 10
         |ORDER BY query_id, rnk""".stripMargin),
      build = Some((s, d) => operators.Search.ensureSearchStages(s, d))),
    // the same BM25 against the PERSISTED inverted-index store grown by
    // incremental append (base + appended segment) — oracle is the
    // identical full-rebuild SQL, probe reads only catalog tables
    Lane("search_grown", (s, d) => operators.Search.bm25TopKGrown(s, d),
      // the grown persisted store must be indistinguishable from a full
      // rebuild: the oracle IS search_bm25_topk's SQL, verbatim
      Sql(s"""WITH $bm25ScoreCtes
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, CAST(rk AS BIGINT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
         |      FROM scores)
         |WHERE rk <= 10
         |ORDER BY query_id, rnk""".stripMargin),
      build = Some((s, d) => { operators.Search.ensureGrownSearchIndex(s, d); () })),
    // TF-IDF VSM cosine retriever (integer-exact weights/norms, one
    // terminal float expression) + RRF fusion of the two rank lists
    Lane("search_tfidf_topk", (s, d) => operators.Search.tfidfTopK(s, d),
      // TF-IDF VSM cosine: 100-scaled integer idf, int64 weights/norms,
      // one terminal float expression mirrored operation-for-operation
      Sql(s"""WITH $bm25ScoreCtes,
         |$tfidfScoreCtes
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, CAST(rk AS BIGINT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
         |      FROM tscores)
         |WHERE rk <= 10
         |ORDER BY query_id, rnk""".stripMargin),
      build = Some((s, d) => operators.Search.ensureSearchStages(s, d))),
    Lane("search_hybrid_rrf", (s, d) => operators.Search.hybridRrfTopK(s, d),
      // reciprocal-rank fusion of the two top-10 lists: all-integer
      // 1e6 DIV (60 + rank) contributions, docs in one list keep one term
      Sql(s"""WITH $bm25ScoreCtes,
         |$tfidfScoreCtes,
         |brank AS (SELECT query_id, doc_id, rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
         |  FROM scores) WHERE rk <= 10),
         |trank AS (SELECT query_id, doc_id, rk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
         |  FROM tscores) WHERE rk <= 10),
         |fused AS (SELECT COALESCE(a.query_id, b.query_id) AS query_id,
         |                 COALESCE(a.doc_id, b.doc_id) AS doc_id,
         |                 COALESCE(1000000 // (60 + a.rk), 0)
         |                   + COALESCE(1000000 // (60 + b.rk), 0) AS rrf_score
         |          FROM brank a FULL JOIN trank b
         |            ON a.query_id = b.query_id AND a.doc_id = b.doc_id)
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rrf_score, CAST(rk AS BIGINT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rk
         |      FROM fused)
         |WHERE rk <= 10
         |ORDER BY query_id, rnk""".stripMargin),
      build = Some((s, d) => operators.Search.ensureSearchStages(s, d))),
    // RM3 pseudo-relevance feedback: BM25 → mine expansion terms from
    // the top-3 docs → re-retrieve with the 2:1-weighted expanded query
    Lane("search_rm3_topk", (s, d) => operators.Search.bm25Rm3TopK(s, d),
      // RM3 pseudo-relevance feedback: the feedback loop re-derived CTE
      // by CTE (feedback docs, mined pool, expansion top-5, weighted
      // rescoring) — all-integer scores, so the two-pass loop is
      // hash-exact end to end
      Sql(s"""WITH $bm25ScoreCtes,
         |$rm3Ctes
         |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, CAST(rk AS BIGINT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
         |      FROM scores2)
         |WHERE rk <= 10
         |ORDER BY query_id, rnk""".stripMargin),
      build = Some((s, d) => operators.Search.ensureSearchStages(s, d))),
    Lane("search_eval_mrr", (s, d) => operators.Search.evalRankers(s, d),
      // retrieval eval: qrels = docs covering EVERY query term (Boolean
      // AND over the shared postings frame); hit_rank / rr_micro /
      // precision@k numerator all integer, per (ranker, query)
      Sql(s"""WITH $evalRankedCtes,
         |inlist AS (SELECT r.ranker, r.query_id,
         |             min(CASE WHEN qr.doc_id IS NOT NULL THEN r.rk END) AS first_rel,
         |             count(qr.doc_id) AS pk_hits
         |           FROM ranked r LEFT JOIN qrels qr
         |             ON r.query_id = qr.query_id AND r.doc_id = qr.doc_id
         |           GROUP BY 1, 2)
         |SELECT g.ranker AS ranker, CAST(g.query_id AS BIGINT) AS query_id,
         |       CAST(COALESCE(n.n_rel, 0) AS BIGINT) AS n_rel,
         |       CAST(COALESCE(i.first_rel, 0) AS BIGINT) AS hit_rank,
         |       CAST(COALESCE(1000000 // i.first_rel, 0) AS BIGINT) AS rr_micro,
         |       CAST(COALESCE(i.pk_hits, 0) AS BIGINT) AS p10_hits
         |FROM (SELECT r.ranker, q.query_id
         |      FROM (VALUES ('bm25'), ('rrf'), ('tfidf')) r(ranker), q) g
         |LEFT JOIN nrel n ON n.query_id = g.query_id
         |LEFT JOIN inlist i ON i.ranker = g.ranker AND i.query_id = g.query_id
         |ORDER BY 1, 2""".stripMargin),
      build = Some((s, d) => operators.Search.ensureSearchStages(s, d))),
    // nDCG@10 over the same staged run — the trec_eval triad complete
    Lane("search_eval_ndcg", (s, d) => operators.Search.evalNdcg(s, d),
      Sql(ndcgSql(10)),
      build = Some((s, d) => operators.Search.ensureSearchStages(s, d))),
    // query-by-document hybrid retrieval: exact-cosine semantic
    // neighbors RRF-fused with df-capped n-gram-Jaccard lexical
    // neighbors over asymmetric candidate universes (all-integer
    // ranks/scores; both sides ride staged frames)
    Lane("search_related_hybrid", (s, d) => operators.Search.relatedHybridTopK(s, d),
      // query-by-document hybrid: exact-cosine semantic ranks fused with
      // integer-Jaccard lexical ranks over asymmetric universes; all sort
      // keys exact integers (jacc_micro = 1000000*inter DIV union)
      Sql(s"""$shingleCte,
         |shc AS (SELECT sh.doc_id, sh.shingle FROM sh
         |        JOIN (SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 128) ok
         |        USING (shingle)),
         |inter AS (SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, count(*) AS inter
         |          FROM shc s1 JOIN shc s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
         |          GROUP BY 1, 2),
         |sized AS (SELECT i.doc_a, i.doc_b, i.inter, sa.n AS n_a, sb.n AS n_b
         |          FROM inter i
         |          JOIN (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1) sa ON i.doc_a = sa.doc_id
         |          JOIN (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1) sb ON i.doc_b = sb.doc_id),
         |probes AS (SELECT vec_id AS q_id FROM embeddings WHERE vec_id % 50 = 0),
         |oriented AS (
         |  SELECT doc_a AS q_id, doc_b AS doc_id, inter, n_a + n_b - inter AS un FROM sized
         |  UNION ALL
         |  SELECT doc_b AS q_id, doc_a AS doc_id, inter, n_a + n_b - inter AS un FROM sized),
         |lex AS (SELECT q_id, doc_id, rk AS rnk_lex FROM (
         |  SELECT o.q_id, o.doc_id,
         |         row_number() OVER (PARTITION BY o.q_id
         |           ORDER BY (1000000 * o.inter) // o.un DESC, o.doc_id) AS rk
         |  FROM oriented o JOIN probes p USING (q_id)) WHERE rk <= 5),
         |sem AS (SELECT q_id, vec_id AS doc_id, rk AS rnk_sem FROM (
         |  SELECT a.vec_id AS q_id, b.vec_id,
         |         row_number() OVER (PARTITION BY a.vec_id ORDER BY $cosineSql DESC, b.vec_id) AS rk
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id) WHERE rk <= 5),
         |fused AS (SELECT COALESCE(s.q_id, l.q_id) AS q_id,
         |                 COALESCE(s.doc_id, l.doc_id) AS doc_id,
         |                 COALESCE(1000000 // (60 + s.rnk_sem), 0) +
         |                 COALESCE(1000000 // (60 + l.rnk_lex), 0) AS rrf_score
         |          FROM sem s FULL JOIN lex l
         |            ON s.q_id = l.q_id AND s.doc_id = l.doc_id)
         |SELECT q_id, doc_id, CAST(rrf_score AS BIGINT) AS rrf_score, CAST(rk AS BIGINT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rrf_score DESC, doc_id) AS rk
         |      FROM fused)
         |WHERE rk <= 5
         |ORDER BY q_id, rnk""".stripMargin),
      build = Some((s, d) => {
        Similarity.cosineTopK(s, d).count(); MinHash.corpusSized(s, d).count(); () })),
    // exact-phrase top-k from the positional postings index
    Lane("search_phrase_topk", (s, d) => operators.Search.phraseTopK(s, d),
      // phrase search: the oracle counts occurrences by m-gram equality
      // scan (overlap-counting, like the engine's positional-index walk)
      Sql("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |q(query_id, phrase) AS (VALUES (0, 'hash join'), (1, 'sort merge join'),
        |                               (2, 'scan filter'), (3, 'stream window')),
        |qx AS (SELECT query_id, string_split(phrase, ' ') AS pt FROM q),
        |hits AS (
        |  SELECT qx.query_id, toks.doc_id, count(*) AS phrase_tf
        |  FROM toks, qx, unnest(range(1, len(toks.t) - len(qx.pt) + 2)) u(i)
        |  WHERE array_to_string(toks.t[i:i+len(qx.pt)-1], ' ') = array_to_string(qx.pt, ' ')
        |  GROUP BY 1, 2)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, phrase_tf, CAST(rk AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY phrase_tf DESC, doc_id) AS rk
        |      FROM hits)
        |WHERE rk <= 10
        |ORDER BY query_id, rnk""".stripMargin)),
    // ── embedding similarity ──
    Lane("ann_cosine_topk", (s, d) => Similarity.cosineTopK(s, d),
      Sql(s"""WITH s AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id, $cosineSql AS sim
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id)
         |SELECT q_id, vec_id, sim, CAST(rk AS BIGINT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
         |      FROM s)
         |WHERE rk <= 5""".stripMargin),
      build = Some((s, d) => Similarity.ensureAnnStages(s, d))),
    Lane("ann_lsh_topk", (s, d) => Similarity.lshBucketTopK(s, d),
      Sql(s"""WITH ${lshBucketCte()},
         |s AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id, $cosineSql AS sim
         |  FROM emb a JOIN emb b ON a.bucket = b.bucket
         |  WHERE a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id)
         |SELECT q_id, vec_id, sim, CAST(rk AS BIGINT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
         |      FROM s)
         |WHERE rk <= 5""".stripMargin)),
    // multi-probe LSH (own bucket + all Hamming-1 neighbors): the
    // recall/latency knob that multiplies only the query side
    Lane("ann_lsh_mp_topk", (s, d) => Similarity.lshMultiProbeTopK(s, d),
      // multi-probe LSH: the query fans out to its bucket plus all 8
      // Hamming-1 neighbors (xor of each plane bit); corpus side joins on
      // its single stored bucket — candidates are a superset of the
      // single-probe row's
      Sql(s"""WITH ${lshBucketCte()},
         |pr AS (
         |  SELECT vec_id, embedding,
         |    CASE WHEN pp.p = 0 THEN bucket
         |         ELSE xor(bucket, CAST(1 AS BIGINT) << (pp.p - 1)) END AS bucket
         |  FROM emb, unnest(range(0, 9)) pp(p)
         |  WHERE vec_id % 50 = 0),
         |s AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id, $cosineSql AS sim
         |  FROM pr a JOIN emb b ON a.bucket = b.bucket
         |  WHERE b.vec_id <> a.vec_id)
         |SELECT q_id, vec_id, sim, CAST(rk AS BIGINT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
         |      FROM s)
         |WHERE rk <= 5""".stripMargin)),
    Lane("ann_lsh_mp_recall", (s, d) => Similarity.lshMultiProbeRecall(s, d),
      // recall of the multi-probe index under the same exact-integer gate
      Sql(s"""WITH ${lshBucketCte()},
         |$truthCte,
         |pr AS (
         |  SELECT vec_id, embedding,
         |    CASE WHEN pp.p = 0 THEN bucket
         |         ELSE xor(bucket, CAST(1 AS BIGINT) << (pp.p - 1)) END AS bucket
         |  FROM emb, unnest(range(0, 9)) pp(p)
         |  WHERE vec_id % 50 = 0),
         |apx AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT a.vec_id AS q_id, b.vec_id AS vec_id, $cosineSql AS sim,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY $cosineSql DESC, b.vec_id) AS rk
         |    FROM pr a JOIN emb b ON a.bucket = b.bucket
         |    WHERE b.vec_id <> a.vec_id)
         |  WHERE rk <= 5),
         |$recallTail""".stripMargin)),
    // second operating point of the log₂(n) plane-count rule: 12 planes
    // (16+ is exercised in SimilaritySpec — at the test SFs it empties
    // the buckets, and a 0-row green oracle row would attest nothing).
    // Denser query stride (2 vs 50): 12 planes shrink every bucket, so a
    // 50-stride row attests only ~4 rows at sf0.01 — near-vacuous; stride
    // 2 keeps the gated cardinality non-trivial (55 rows at sf0.01) and
    // the bucket-join stays tiny at every test SF.
    Lane("ann_lsh12_topk", (s, d) =>
      Similarity.lshBucketTopK(s, d, queryStride = 2, planes = 12),
      // same pipeline at the 12-plane operating point of the log₂(n) scale
      // rule — candidate sets are strict refinements of the 8-plane ones.
      // stride 2 (vs 50) so the gated row count stays non-trivial
      Sql(s"""WITH ${lshBucketCte(12)},
         |s AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id, $cosineSql AS sim
         |  FROM emb a JOIN emb b ON a.bucket = b.bucket
         |  WHERE a.vec_id % 2 = 0 AND b.vec_id <> a.vec_id)
         |SELECT q_id, vec_id, sim, CAST(rk AS BIGINT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
         |      FROM s)
         |WHERE rk <= 5""".stripMargin)),
    // index-quality contract under the hash gate: per-query recall@k of
    // the LSH index vs the brute-force truth, as exact integers hits/k
    Lane("ann_lsh_recall", (s, d) => Similarity.lshRecall(s, d),
      // recall@k of the LSH index vs brute force, exact integers (hits, k).
      // Same truth/approx subqueries as ann_cosine_topk / ann_lsh_topk;
      // zero-candidate queries surface as hits = 0 via the left join.
      Sql(s"""WITH ${lshBucketCte()},
         |$truthCte,
         |apx AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT a.vec_id AS q_id, b.vec_id AS vec_id, $cosineSql AS sim,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY $cosineSql DESC, b.vec_id) AS rk
         |    FROM emb a JOIN emb b ON a.bucket = b.bucket
         |    WHERE a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id)
         |  WHERE rk <= 5),
         |$recallTail""".stripMargin),
      build = Some((s, d) => Similarity.ensureAnnStages(s, d))),
    // range search (Faiss range_search): everything within the radius,
    // not the best k — exact contract, its bucketed scale path, and
    // the per-query integer coverage row
    Lane("ann_range_search", (s, d) => Similarity.rangeSearch(s, d),
      // range search: every in-radius pair (rounded sim >= 0.25), exact
      // contract — a filter, not a ranking, so no rank column exists
      Sql(s"""SELECT q_id, vec_id, sim FROM (
         |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id, $cosineSql AS sim
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id)
         |WHERE sim >= 0.25""".stripMargin)),
    // Matryoshka truncation eval: recall@k of prefix-dim cosine ranking
    // vs the full-width truth, per (dims, query) — d=64 anchors at k/k
    Lane("ann_matryoshka_recall", (s, d) => Similarity.matryoshkaRecall(s, d),
      // Matryoshka truncation eval: prefix-dim rankings re-derived with
      // list_slice, measured against the full-width truth — the d=64 row
      // is the built-in k/k anchor
      Sql(s"""WITH dimset(dims) AS (VALUES (16), (32), (64)),
         |ps AS (
         |  SELECT dm.dims, a.vec_id AS q_id, b.vec_id AS vec_id,
         |    ${cosSql("list_slice(a.embedding, 1, dm.dims)",
                       "list_slice(b.embedding, 1, dm.dims)")} AS sim
         |  FROM embeddings a, embeddings b, dimset dm
         |  WHERE a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id),
         |apx AS (
         |  SELECT dims, q_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY dims, q_id ORDER BY sim DESC, vec_id) AS rk
         |    FROM ps)
         |  WHERE rk <= 5),
         |$truthCte,
         |h AS (SELECT x.dims, t.q_id, count(*) AS hits FROM truth t
         |      JOIN apx x ON t.q_id = x.q_id AND t.vec_id = x.vec_id GROUP BY 1, 2)
         |SELECT CAST(dm.dims AS BIGINT) AS dims, q.q_id AS q_id,
         |       CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits, CAST(5 AS BIGINT) AS k
         |FROM (SELECT DISTINCT q_id FROM truth) q
         |CROSS JOIN dimset dm
         |LEFT JOIN h ON h.q_id = q.q_id AND h.dims = dm.dims
         |ORDER BY dims, q.q_id""".stripMargin),
      build = Some((s, d) => { Similarity.cosineTopK(s, d).count(); () })),
    Lane("ann_range_lsh", (s, d) => Similarity.rangeSearchLsh(s, d),
      // bucketed range search: the same radius verify confined to the
      // query's own + Hamming-1 LSH buckets (the multi-probe probe set)
      Sql(s"""WITH ${lshBucketCte()},
         |pr AS (
         |  SELECT vec_id, embedding,
         |    CASE WHEN pp.p = 0 THEN bucket
         |         ELSE xor(bucket, CAST(1 AS BIGINT) << (pp.p - 1)) END AS bucket
         |  FROM emb, unnest(range(0, 9)) pp(p)
         |  WHERE vec_id % 50 = 0)
         |SELECT q_id, vec_id, sim FROM (
         |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id, $cosineSql AS sim
         |  FROM pr a JOIN emb b ON a.bucket = b.bucket
         |  WHERE b.vec_id <> a.vec_id)
         |WHERE sim >= 0.25""".stripMargin)),
    Lane("ann_range_recall", (s, d) => Similarity.rangeRecall(s, d),
      // per-query coverage of the bucketed range vs the exact contract:
      // hits/total integers, every stride query present (0/0 when no
      // neighbor is in radius)
      Sql(s"""WITH ${lshBucketCte()},
         |exr AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT a.vec_id AS q_id, b.vec_id AS vec_id, $cosineSql AS sim
         |    FROM embeddings a, embeddings b
         |    WHERE a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id)
         |  WHERE sim >= 0.25),
         |pr AS (
         |  SELECT vec_id, embedding,
         |    CASE WHEN pp.p = 0 THEN bucket
         |         ELSE xor(bucket, CAST(1 AS BIGINT) << (pp.p - 1)) END AS bucket
         |  FROM emb, unnest(range(0, 9)) pp(p)
         |  WHERE vec_id % 50 = 0),
         |apr AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT a.vec_id AS q_id, b.vec_id AS vec_id, $cosineSql AS sim
         |    FROM pr a JOIN emb b ON a.bucket = b.bucket
         |    WHERE b.vec_id <> a.vec_id)
         |  WHERE sim >= 0.25),
         |t AS (SELECT q_id, count(*) AS t FROM exr GROUP BY 1),
         |h AS (SELECT e.q_id, count(*) AS h FROM exr e
         |      JOIN apr a ON e.q_id = a.q_id AND e.vec_id = a.vec_id GROUP BY 1)
         |SELECT q.vec_id AS q_id,
         |       CAST(COALESCE(h.h, 0) AS BIGINT) AS hits,
         |       CAST(COALESCE(t.t, 0) AS BIGINT) AS total
         |FROM embeddings q
         |LEFT JOIN t ON t.q_id = q.vec_id
         |LEFT JOIN h ON h.q_id = q.vec_id
         |WHERE q.vec_id % 50 = 0
         |ORDER BY q_id""".stripMargin)),
    Lane("ann_ivf_topk", (s, d) => Similarity.ivfTopK(s, d),
      Sql(s"""WITH $centCte,
         |$ivfCtes
         |SELECT q_id, vec_id, sim, CAST(rk AS BIGINT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
         |      FROM s)
         |WHERE rk <= 5""".stripMargin),
      build = Some((s, d) => Similarity.ensureAnnStages(s, d))),
    // graph ANN: sharded HNSW candidates re-ranked through the shared
    // exact cosine — the oracle is the brute-force SQL, so this gate
    // pins recall@5 = 1.0 at the (M=8, efC=64, efS=64) operating point
    Lane("ann_hnsw_topk", (s, d) => operators.Hnsw.hnswTopK(s, d),
      // ann_hnsw_topk certifies against the brute-force truth: the graph
      // search must surface the exact top-k (recall 1.0) or the hash gate
      // fails — the strongest SQL-expressible statement about a
      // construction-order-dependent index
      Sql(s"""WITH s AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id, $cosineSql AS sim
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id)
         |SELECT q_id, vec_id, sim, CAST(rk AS BIGINT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
         |      FROM s)
         |WHERE rk <= 5""".stripMargin),
      build = Some((s, d) => operators.Hnsw.ensureHnswStages(s, d))),
    // the approximate serving regime (efS=16) under the exact-integer
    // hits/k contract; structure-dependent, so spec-gated (HnswSpec
    // floor), rows-only at the gate
    Lane("ann_hnsw_recall", (s, d) => operators.Hnsw.hnswRecall(s, d),
      RowsOnly(gatedBy = "graft.operators.HnswSpec"),
      build = Some((s, d) => operators.Hnsw.ensureHnswStages(s, d))),
    // the graph's deterministic skeleton (md5-pure node levels) under
    // the hash gate — catches lost shards and level-codec drift
    Lane("ann_hnsw_levels", (s, d) => operators.Hnsw.levelHistogram(s, d),
      Sql(hnswLevelsSql(operators.Hnsw.Params().m)),
      build = Some((s, d) => operators.Hnsw.ensureHnswStages(s, d))),
    // grown graph (base build + native inserts of the batch): ingest
    // must not cost recall, so the oracle is again the brute-force SQL
    Lane("ann_hnsw_append", (s, d) => operators.Hnsw.hnswAppendTopK(s, d),
      // grown graph ≡ exact top-k: structure drifts under ingest
      // (insertion order shapes adjacency), results must not
      Sql(s"""WITH s AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id, $cosineSql AS sim
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id)
         |SELECT q_id, vec_id, sim, CAST(rk AS BIGINT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
         |      FROM s)
         |WHERE rk <= 5""".stripMargin),
      build = Some((s, d) => { operators.Hnsw.ensureGrownGraph(s, d).count(); () })),
    // bucketed on-disk graph store probed in the standing-serving
    // regime (second-and-later batch; zero store-side Exchange —
    // HnswStoreSpec): the layout must not cost recall, so the oracle
    // is once more the brute-force SQL
    Lane("ann_hnsw_served", (s, d) => operators.Hnsw.hnswServedTopK(s, d),
      // bucketed serving store ≡ exact top-k: the persisted layout (and
      // the exchange-free second-batch probe shape) must not cost recall
      Sql(s"""WITH s AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id, $cosineSql AS sim
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id)
         |SELECT q_id, vec_id, sim, CAST(rk AS BIGINT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
         |      FROM s)
         |WHERE rk <= 5""".stripMargin),
      build = Some((s, d) => operators.Hnsw.ensureServedStages(s, d))),
    // SQ8-compressed serving tier: the bucketed store holds one-byte
    // codes (4x smaller resident), the walk runs integer asymmetric
    // L2, the pool exact-refines — same brute-force oracle
    Lane("ann_hnsw_sq8_topk", (s, d) => operators.Hnsw.hnswSq8TopK(s, d),
      // SQ8-compressed serving tier ≡ exact top-k: the 4x-smaller code
      // walk nominates, exact cosine refines — compression must not cost
      // recall at the operating point (ann_hnsw_sq8_recall, the efS=16
      // compressed-domain regime, is rows-only; HnswSq8Spec pins its
      // floor and the store byte ratio)
      Sql(s"""WITH s AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id, $cosineSql AS sim
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id)
         |SELECT q_id, vec_id, sim, CAST(rk AS BIGINT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
         |      FROM s)
         |WHERE rk <= 5""".stripMargin),
      build = Some((s, d) => operators.Hnsw.ensureSq8Stages(s, d))),
    // compressed-domain approximate regime (efS=16, ranked by the SQ8
    // walk distance itself); rows-only at the gate like ann_hnsw_recall
    Lane("ann_hnsw_sq8_recall", (s, d) => operators.Hnsw.hnswSq8Recall(s, d),
      RowsOnly(gatedBy = "graft.operators.HnswSq8Spec"),
      build = Some((s, d) => operators.Hnsw.ensureSq8Stages(s, d))),
    Lane("ann_ivf_recall", (s, d) => Similarity.ivfRecall(s, d),
      // recall@k of the IVF index vs brute force — second index family
      // under the same exact-integer recall contract as ann_lsh_recall
      Sql(s"""WITH $centCte,
         |$ivfCtes,
         |apx AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
         |    FROM s)
         |  WHERE rk <= 5),
         |$truthCte,
         |$recallTail""".stripMargin),
      build = Some((s, d) => Similarity.ensureAnnStages(s, d))),
    // hard-negative mining (DPR/ANCE): per query, top-k most similar
    // vectors of a DIFFERENT label — the near-the-margin contrastive
    // training examples random negatives can't provide
    Lane("ann_hard_negatives", (s, d) => Similarity.hardNegativesTopK(s, d),
      // hard-negative mining: the brute top-k contract with the label
      // inequality narrowing candidates — same 6-decimal cosine + vec_id
      // tie-break as every ranking lane
      Sql(s"""SELECT q_id, vec_id, sim, CAST(rk AS BIGINT) AS rnk FROM (
         |  SELECT a.vec_id AS q_id, b.vec_id AS vec_id, $cosineSql AS sim,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY $cosineSql DESC, b.vec_id) AS rk
         |  FROM embeddings a, embeddings b
         |  WHERE a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id
         |    AND b.label <> a.label)
         |WHERE rk <= 5""".stripMargin),
      build = Some((s, d) => { Similarity.hardNegativesTopK(s, d).count(); () })),
    // kNN-classifier probe eval: majority-vote label prediction over
    // the shared truth top-k, per-class query/correct counts
    Lane("ann_knn_accuracy", (s, d) => Similarity.knnLabelAccuracy(s, d),
      // kNN-classifier eval: majority vote over the brute truth top-5
      // (tie-break larger count then smaller label), per-class exact
      // query/correct counts
      Sql(s"""WITH $truthCte,
         |votes AS (
         |  SELECT t.q_id, e.label, count(*) AS c
         |  FROM truth t JOIN embeddings e ON e.vec_id = t.vec_id
         |  GROUP BY 1, 2),
         |pred AS (
         |  SELECT q_id, label AS pred_label FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY c DESC, label) AS rk FROM votes)
         |  WHERE rk = 1)
         |SELECT CAST(q.label AS BIGINT) AS label,
         |       CAST(count(*) AS BIGINT) AS n_queries,
         |       CAST(SUM(CASE WHEN p.pred_label = q.label THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         |FROM embeddings q JOIN pred p ON p.q_id = q.vec_id
         |WHERE q.vec_id % 50 = 0
         |GROUP BY 1 ORDER BY 1""".stripMargin),
      build = Some((s, d) => { Similarity.cosineTopK(s, d).count(); () })),
    // IVF nprobe OPERATING CURVE: candidate volume vs top-k hits per
    // probed-list budget over the same codebook — the recall/latency
    // sweep a deployment runs before fixing nprobe (the LSH banding
    // sweep's twin for the clustered index family)
    Lane("ann_ivf_tradeoff", (s, d) => Similarity.ivfTradeoff(s, d),
      // IVF nprobe operating curve: the probes CTE keeps the list rank
      // (prnk <= 8) so each budget's candidate set is a pure filter;
      // per budget: candidate count, top-5 hits vs brute truth, truth
      // total — all exact integers, the whole curve hash-gated
      Sql(s"""WITH $centCte,
         |assigned AS (
         |  SELECT vec_id, embedding, cent_id AS list_id FROM (
         |    SELECT e.vec_id, e.embedding, c.cent_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e.embedding", "c.cent_emb")} DESC, c.cent_id) AS arnk
         |    FROM embeddings e, cent c)
         |  WHERE arnk = 1),
         |probes8 AS (
         |  SELECT q_id, q_emb, cent_id AS list_id, prnk FROM (
         |    SELECT e.vec_id AS q_id, e.embedding AS q_emb, c.cent_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e.embedding", "c.cent_emb")} DESC, c.cent_id) AS prnk
         |    FROM embeddings e, cent c WHERE e.vec_id % 50 = 0)
         |  WHERE prnk <= 8),
         |cand AS (
         |  SELECT p.q_id, a.vec_id, p.prnk,
         |         ${cosSql("p.q_emb", "a.embedding")} AS sim
         |  FROM probes8 p JOIN assigned a ON p.list_id = a.list_id
         |  WHERE a.vec_id <> p.q_id),
         |$truthCte,
         |cfg AS (SELECT unnest([1, 2, 4, 8]) AS n_probe),
         |cc AS (SELECT f.n_probe, c.q_id, c.vec_id, c.sim
         |       FROM cfg f JOIN cand c ON c.prnk <= f.n_probe),
         |topk AS (
         |  SELECT n_probe, q_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY n_probe, q_id
         |      ORDER BY sim DESC, vec_id) AS rk FROM cc)
         |  WHERE rk <= 5),
         |nc AS (SELECT n_probe, count(*) AS n_candidates FROM cc GROUP BY 1),
         |h AS (SELECT k.n_probe, count(*) AS n_hits FROM topk k
         |      JOIN truth t ON t.q_id = k.q_id AND t.vec_id = k.vec_id
         |      GROUP BY 1),
         |nt AS (SELECT count(*) AS n_truth FROM truth)
         |SELECT CAST(f.n_probe AS BIGINT) AS n_probe,
         |       CAST(COALESCE(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
         |       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
         |       CAST(nt.n_truth AS BIGINT) AS n_truth
         |FROM cfg f
         |LEFT JOIN nc ON nc.n_probe = f.n_probe
         |LEFT JOIN h ON h.n_probe = f.n_probe
         |CROSS JOIN nt
         |ORDER BY n_probe""".stripMargin),
      build = Some((s, d) => Similarity.ensureAnnStages(s, d))),
    // filtered vector search: metadata predicate pruning candidates
    // INSIDE the probed lists before distance evaluation (pre-filter —
    // exact over the matching subset; post-filter loses recall)
    Lane("ann_ivf_filtered", (s, d) => Similarity.ivfFilteredTopK(s, d),
      // filtered search: same codebook/assignment/probes; the label
      // predicate narrows candidates inside the probed lists (pre-filter)
      Sql(s"""WITH $centCte,
         |$ivfCtes
         |SELECT q_id, vec_id, sim, CAST(rk AS BIGINT) AS rnk
         |FROM (SELECT s.q_id, s.vec_id, s.sim,
         |        row_number() OVER (PARTITION BY s.q_id ORDER BY s.sim DESC, s.vec_id) AS rk
         |      FROM s JOIN embeddings l ON l.vec_id = s.vec_id
         |      WHERE l.label % 3 = 0)
         |WHERE rk <= 5""".stripMargin),
      build = Some((s, d) => {
        Similarity.labeledLists(s, d).count(); () })),
    // same IVF search against the ON-DISK partitioned index, reading
    // only the probed list directories — same oracle SQL verbatim
    Lane("ann_ivf_pruned", (s, d) =>
      Similarity.ivfTopKPrunedAt(s, d, Similarity.ensureIvfIndex(s, d)),
      // on-disk partition-pruned variant: identical semantics (same
      // codebook, assignment, probes) ⇒ identical oracle SQL
      Sql(s"""WITH $centCte,
         |$ivfCtes
         |SELECT q_id, vec_id, sim, CAST(rk AS BIGINT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
         |      FROM s)
         |WHERE rk <= 5""".stripMargin),
      build = Some((s, d) => { Similarity.ensureIvfIndex(s, d); () })),
    // probe the GROWN index (base build + appended vector batch into
    // their lists only) — append must be indistinguishable from a full
    // rebuild, so the oracle SQL is ann_ivf_topk's verbatim
    Lane("ann_ivf_append", (s, d) => Similarity.ivfAppendTopK(s, d),
      // grown index (base + appended batch) ≡ full rebuild: append
      // assigns per-row against the same immutable codebook ⇒ identical
      // oracle SQL
      Sql(s"""WITH $centCte,
         |$ivfCtes
         |SELECT q_id, vec_id, sim, CAST(rk AS BIGINT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
         |      FROM s)
         |WHERE rk <= 5""".stripMargin),
      build = Some((s, d) => { Similarity.ensureGrownIvfIndex(s, d); () })),
    // probe the DELETED-and-compacted index (tombstone → partial
    // compaction lifecycle) — deletion must cost the survivors nothing,
    // so the oracle is the pruned SQL minus the victims
    Lane("ann_ivf_deleted", (s, d) => Similarity.ivfDeletedTopK(s, d),
      // deleted-and-compacted index: same probes/codebook; the victims
      // (vec_id % 97 = 0) are simply absent from the candidate side —
      // deletion must cost the survivors nothing
      Sql(s"""WITH $centCte,
         |$ivfCtes
         |SELECT q_id, vec_id, sim, CAST(rk AS BIGINT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
         |      FROM s WHERE vec_id % 97 <> 0)
         |WHERE rk <= 5""".stripMargin),
      build = Some((s, d) => { Similarity.ensureDeletedIvfIndex(s, d); () })),
    Lane("ann_pq_recall", (s, d) => Similarity.pqRecall(s, d),
      // recall@k of the PQ code scan vs brute force — the compressed-
      // domain index under the same exact-integer recall contract; ranks
      // by ADC distance, so the row measures quantization loss end-to-end
      Sql(s"""WITH $centCte,
        |$pqCtes,
        |apx AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |      ORDER BY adc_dist, vec_id) AS rk FROM adc)
        |  WHERE rk <= 5),
        |$truthCte,
        |$recallTail""".stripMargin),
      build = Some((s, d) => Similarity.ensureAnnStages(s, d))),
    Lane("ann_pq_topk", (s, d) => Similarity.pqTopK(s, d),
      // PQ/ADC: all distances are floor(1e6·L2²) integers (identical
      // left-to-right double folds in both engines, then exact floor), so
      // argmin codes and ADC sums are pure integer arithmetic
      Sql(s"""WITH $centCte,
        |$pqCtes
        |SELECT q_id, vec_id, adc_dist, CAST(rk AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY adc_dist, vec_id) AS rk FROM adc)
        |WHERE rk <= 5""".stripMargin),
      build = Some((s, d) => Similarity.ensureAnnStages(s, d))),
    // OPQ rotation sweep: candidate orthogonal permutations scored by
    // quantization error + validation hits; chosen >= plain PQ always
    Lane("ann_opq_recall", (s, d) => Similarity.opqRecall(s, d),
      // OPQ rotation sweep: per candidate permutation, the full PQ/ADC
      // chain over the permuted embeddings; chosen = argmax validation
      // hits with identity-first tiebreak (identity = plain PQ, so the
      // shipped rotation's recall is >= plain PQ by construction)
      Sql(opqSql(8, 8)),
      build = Some((s, d) => Similarity.ensureOpqStages(s, d))),
    // IVFADC: coarse IVF probe confines the scan, PQ codes rank inside
    // the probed lists by integer asymmetric distance — the
    // billion-vector production composition of the two index halves
    Lane("ann_ivfadc_topk", (s, d) => Similarity.ivfadcTopK(s, d),
      // IVFADC: candidates from the probed IVF lists, ranked by PQ ADC —
      // both CTE families reused verbatim (same codebook), composed by a
      // list-confined ADC aggregation
      Sql(s"""WITH $centCte,
        |$ivfCtes,
        |$pqCtes,
        |adcq AS (
        |  SELECT p.q_id, a.vec_id
        |  FROM probes p JOIN assigned a ON p.list_id = a.list_id
        |  WHERE a.vec_id <> p.q_id),
        |ivfadc AS (
        |  SELECT x.q_id, x.vec_id, CAST(SUM(q.dq) AS BIGINT) AS adc_dist
        |  FROM adcq x JOIN codes c ON c.vec_id = x.vec_id
        |  JOIN qd q ON q.q_id = x.q_id AND q.s = c.s AND q.cent_id = c.code
        |  GROUP BY 1, 2)
        |SELECT q_id, vec_id, adc_dist, CAST(rk AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY adc_dist, vec_id) AS rk FROM ivfadc)
        |WHERE rk <= 5""".stripMargin),
      build = Some((s, d) => Similarity.ensureAnnStages(s, d))),
    Lane("ann_ivfadc_recall", (s, d) => Similarity.ivfadcRecall(s, d),
      Sql(s"""WITH $centCte,
        |$ivfCtes,
        |$pqCtes,
        |adcq AS (
        |  SELECT p.q_id, a.vec_id
        |  FROM probes p JOIN assigned a ON p.list_id = a.list_id
        |  WHERE a.vec_id <> p.q_id),
        |ivfadc AS (
        |  SELECT x.q_id, x.vec_id, CAST(SUM(q.dq) AS BIGINT) AS adc_dist
        |  FROM adcq x JOIN codes c ON c.vec_id = x.vec_id
        |  JOIN qd q ON q.q_id = x.q_id AND q.s = c.s AND q.cent_id = c.code
        |  GROUP BY 1, 2),
        |apx AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |      ORDER BY adc_dist, vec_id) AS rk FROM ivfadc)
        |  WHERE rk <= 5),
        |$truthCte,
        |$recallTail""".stripMargin),
      build = Some((s, d) => Similarity.ensureAnnStages(s, d))),
    // residual-encoded IVFPQ (Faiss by_residual=true): PQ over x−c(x),
    // per-probed-list query distance tables — finer codes, same budget
    Lane("ann_ivfpq_topk", (s, d) => Similarity.ivfpqTopK(s, d),
      // residual-encoded IVFPQ (Faiss by_residual): PQ on the residual
      // from the list's integer-mean center; query distance tables per
      // probed list — finer codes on the same budget
      Sql(s"""WITH $centCte,
        |$ivfCtes,
        |$ivfpqCtes
        |SELECT q_id, vec_id, adc_dist, CAST(rk AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY adc_dist, vec_id) AS rk FROM radc)
        |WHERE rk <= 5""".stripMargin),
      build = Some((s, d) => { Similarity.ivfpqTopK(s, d).count(); () })),
    Lane("ann_ivfpq_recall", (s, d) => Similarity.ivfpqRecall(s, d),
      Sql(s"""WITH $centCte,
        |$ivfCtes,
        |$ivfpqCtes,
        |apx AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |      ORDER BY adc_dist, vec_id) AS rk FROM radc)
        |  WHERE rk <= 5),
        |$truthCte,
        |$recallTail""".stripMargin),
      build = Some((s, d) => {
        Similarity.ivfpqTopK(s, d).count(); Similarity.cosineTopK(s, d).count(); () })),
    // two-stage serving: ADC nominates a 5k pool, raw vectors re-rank —
    // exact-cosine final scores over |queries|×cand rows, never corpus
    Lane("ann_ivfadc_rerank", (s, d) => Similarity.ivfadcRerankTopK(s, d),
      // two-stage refine: the IVFADC CTEs nominate a 25-candidate pool,
      // the final ranking re-scores ONLY the pool on exact cosine — the
      // shared $cosSql operation tree, so scores hash-match bit-exactly
      Sql(s"""WITH $centCte,
        |$ivfCtes,
        |$pqCtes,
        |adcq AS (
        |  SELECT p.q_id, a.vec_id
        |  FROM probes p JOIN assigned a ON p.list_id = a.list_id
        |  WHERE a.vec_id <> p.q_id),
        |ivfadc AS (
        |  SELECT x.q_id, x.vec_id, CAST(SUM(q.dq) AS BIGINT) AS adc_dist
        |  FROM adcq x JOIN codes c ON c.vec_id = x.vec_id
        |  JOIN qd q ON q.q_id = x.q_id AND q.s = c.s AND q.cent_id = c.code
        |  GROUP BY 1, 2),
        |pool AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |      ORDER BY adc_dist, vec_id) AS rk FROM ivfadc)
        |  WHERE rk <= 25),
        |ref AS (
        |  SELECT pool.q_id, pool.vec_id, ${cosSql("a.embedding", "b.embedding")} AS sim
        |  FROM pool JOIN embeddings a ON a.vec_id = pool.q_id
        |  JOIN embeddings b ON b.vec_id = pool.vec_id)
        |SELECT q_id, vec_id, sim, CAST(rk AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY sim DESC, vec_id) AS rk FROM ref)
        |WHERE rk <= 5""".stripMargin),
      build = Some((s, d) => Similarity.ensureAnnStages(s, d))),
    // SQ8: trained per-dim bounds, 4×-smaller code scan, integer
    // asymmetric L2 — the fifth index family (Faiss IndexScalarQuantizer)
    Lane("ann_sq8_topk", (s, d) => Similarity.sqTopK(s, d),
      // SQ8: trained per-dim min/max codec, candidates reconstructed from
      // their one-byte codes, integer asymmetric squared-L2 — the codec
      // round-trips through SQL bit-exactly
      Sql(s"""WITH $sqCtes
        |SELECT q_id, vec_id, adc_dist, CAST(rk AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY adc_dist, vec_id) AS rk FROM sqs)
        |WHERE rk <= 5""".stripMargin),
      build = Some((s, d) => { Similarity.sqCodes(s, d).count(); () })),
    Lane("ann_sq8_recall", (s, d) => Similarity.sqRecall(s, d),
      // recall@k of the SQ8 code scan vs brute force — scalar-quantization
      // loss under the shared exact-integer recall contract
      Sql(s"""WITH $sqCtes,
        |apx AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |      ORDER BY adc_dist, vec_id) AS rk FROM sqs)
        |  WHERE rk <= 5),
        |$truthCte,
        |$recallTail""".stripMargin),
      build = Some((s, d) => {
        Similarity.sqCodes(s, d).count(); Similarity.cosineTopK(s, d).count(); () })),
    // 1-bit binary quantization: Hamming (XOR+popcount) over packed
    // sign-vs-trained-mean codes — the 32×-compressed serving tier
    Lane("ann_bq_topk", (s, d) => Similarity.bqTopK(s, d),
      // 1-bit Hamming top-k: trained mean bits, packed halves, XOR+popcount
      Sql(s"""WITH $bqCtes
        |SELECT q_id, vec_id, ham_dist, CAST(rk AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY ham_dist, vec_id) AS rk FROM bqs)
        |WHERE rk <= 5""".stripMargin),
      build = Some((s, d) => { Similarity.bqCodes(s, d).count(); () })),
    Lane("ann_bq_recall", (s, d) => Similarity.bqRecall(s, d),
      // recall@k of the 1-bit scan vs brute force — what 32× compression
      // costs, under the shared exact-integer recall contract
      Sql(s"""WITH $bqCtes,
        |apx AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |      ORDER BY ham_dist, vec_id) AS rk FROM bqs)
        |  WHERE rk <= 5),
        |$truthCte,
        |$recallTail""".stripMargin),
      build = Some((s, d) => {
        Similarity.bqCodes(s, d).count(); Similarity.cosineTopK(s, d).count(); () })),
    // two-tier serving: Hamming shortlist + exact cosine refine
    Lane("ann_bq_rerank", (s, d) => Similarity.bqRerankTopK(s, d),
      // BQ + exact refine: Hamming shortlist (cand=25), float vectors
      // fetched only for the shortlist, exact cosine re-rank to top-5
      Sql(s"""WITH $bqCtes,
        |pool AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |      ORDER BY ham_dist, vec_id) AS rk FROM bqs)
        |  WHERE rk <= 25),
        |ref AS (
        |  SELECT pool.q_id, pool.vec_id, ${cosSql("a.embedding", "b.embedding")} AS sim
        |  FROM pool JOIN embeddings a ON a.vec_id = pool.q_id
        |  JOIN embeddings b ON b.vec_id = pool.vec_id)
        |SELECT q_id, vec_id, sim, CAST(rk AS BIGINT) AS rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
        |        ORDER BY sim DESC, vec_id) AS rk FROM ref)
        |WHERE rk <= 5""".stripMargin),
      build = Some((s, d) => { Similarity.bqCodes(s, d).count(); () })),
    Lane("dedup_embedding_cosine", (s, d) => Similarity.cosineNearDupPairs(s, d),
      Sql(s"""WITH ${lshBucketCte()},
         |p AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, $cosineSql AS sim
         |  FROM emb a JOIN emb b ON a.bucket = b.bucket
         |  WHERE a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, sim FROM p WHERE sim >= 0.35""".stripMargin)),
    // SemDeDup-style: IVF-list-confined cosine dedup, keep-lowest-id
    Lane("dedup_semdedup", (s, d) => Similarity.semDedup(s, d),
      // SemDeDup: same codebook + argmax assignment as the IVF rows;
      // pairs confined to inverted lists; keep-lowest-id drop rule
      Sql(s"""WITH $centCte,
         |assigned AS (
         |  SELECT vec_id, embedding, cent_id AS list_id FROM (
         |    SELECT e.vec_id, e.embedding, c.cent_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${cosSql("e.embedding", "c.cent_emb")} DESC, c.cent_id) AS arnk
         |    FROM embeddings e, cent c)
         |  WHERE arnk = 1),
         |drp AS (SELECT DISTINCT b.vec_id
         |        FROM assigned a JOIN assigned b
         |          ON a.list_id = b.list_id AND a.vec_id < b.vec_id
         |        WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.35)
         |SELECT a.vec_id, a.list_id,
         |  CAST(CASE WHEN d.vec_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS dropped
         |FROM assigned a LEFT JOIN drp d ON a.vec_id = d.vec_id
         |ORDER BY a.vec_id""".stripMargin),
      build = Some((s, d) => Similarity.ensureAnnStages(s, d))),
    // ── multimodal: metadata pruning path + real container decode ──
    Lane("multimodal_stats", operators.Multimodal.mediaStats _,
      // Expected media geometry recomputed INDEPENDENTLY from doc stats
      // (same formulas as Multimodal.geometry / MediaCodec sizes). The
      // decode query parses real BMP/WAV/GRV0 containers; matching this
      // oracle proves the encode→decode round trip byte-exactly.
      Sql(multimodalGeometrySql)),
    Lane("multimodal_decode", (s, d) =>
      operators.Multimodal.decodeMeta(operators.Multimodal.mediaTable(s, d)),
      Sql(multimodalGeometrySql)),
    // perceptual near-dup over the rendered image column: BMP decode →
    // dHash → 4×16-bit Hamming-LSH bands → exact-Hamming verify; the
    // oracle re-derives every pixel from doc text (payload bytes are a
    // pure function of it), so a green row proves the whole
    // encode→decode→fingerprint chain byte-exactly
    Lane("dedup_media_phash", (s, d) =>
      operators.Multimodal.mediaPhashPairs(s, d),
      Sql(mediaPhashSql),
      build = Some((s, d) => operators.Multimodal.ensureMediaStages(s, d))),
    // acoustic twin of the phash lane over the rendered WAV column
    Lane("dedup_media_ahash", (s, d) =>
      operators.Multimodal.mediaAhashPairs(s, d),
      Sql(mediaAhashSql),
      build = Some((s, d) => operators.Multimodal.ensureMediaStages(s, d))),
    // temporal twin over the rendered GRV0 clip — the triad's third leg
    Lane("dedup_media_vhash", (s, d) =>
      operators.Multimodal.mediaVhashPairs(s, d),
      Sql(mediaVhashSql),
      build = Some((s, d) => operators.Multimodal.ensureMediaStages(s, d))),
    // shot-boundary keyframes: exact inter-frame L1 per consecutive
    // pair, boundary = strictly above the per-video mean (integer
    // cross-multiply — the mean never materializes)
    Lane("multimodal_keyframes", (s, d) =>
      operators.Multimodal.videoKeyframes(s, d),
      // keyframes: frame t pixel j of the GRV0 render is
      // text[(t·w·h + j) mod len] — the L1 chain re-derives every pixel
      // pair from doc text, the boundary flag is the exact cross-multiply
      Sql("""WITH vids AS (
        |  SELECT doc_id, text,
        |         (n_chars % 32 + 4) * (n_chars % 24 + 4) AS fl,
        |         (n_chars % 30 + 1) AS f, strlen(text) AS len
        |  FROM documents
        |  WHERE strlen(text) > 0 AND strlen(text) = length(text)
        |    AND (n_chars % 30 + 1) >= 2),
        |l1 AS (
        |  SELECT v.doc_id, t.t AS frame_idx,
        |    CAST(SUM(ABS(
        |      ord(substr(v.text, CAST((t.t * v.fl + j.j) % v.len + 1 AS BIGINT), 1)) -
        |      ord(substr(v.text, CAST(((t.t - 1) * v.fl + j.j) % v.len + 1 AS BIGINT), 1))
        |    )) AS BIGINT) AS l1
        |  FROM vids v
        |  JOIN range(1, 30) t(t) ON t.t < v.f
        |  JOIN range(0, 1024) j(j) ON j.j < v.fl
        |  GROUP BY 1, 2),
        |tot AS (SELECT doc_id, SUM(l1) AS tot, COUNT(*) AS m FROM l1 GROUP BY 1)
        |SELECT l1.doc_id, CAST(l1.frame_idx AS BIGINT) AS frame_idx, l1.l1,
        |       (l1.l1 * tot.m > tot.tot) AS is_key
        |FROM l1 JOIN tot USING (doc_id)
        |ORDER BY doc_id, frame_idx""".stripMargin),
      build = Some((s, d) => { operators.Multimodal.videoKeyframes(s, d).count(); () }))
  ))

  /** Name-keyed views over [[lanes]]; perfbench and the specs read them. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = lanes.map(l => l.name -> l.run).toMap
  lazy val oracleSql: Map[String, String] = lanes.collect { case Lane(n, _, Sql(t), _) => n -> t }.toMap
  lazy val stageBuilders: Map[String, (SparkSession, String) => Unit] =
    lanes.collect { case Lane(n, _, _, Some(b)) => n -> b }.toMap

  /** The lanes called `names`, in that order; fails on a name not registered. */
  def lanesNamed(names: Seq[String]): Seq[Lane] =
    names.map(n => lanes.find(_.name == n).getOrElse(throw new NoSuchElementException(s"no lane named $n")))

  // ───────────────────────── oracle SQL ─────────────────────────

  private val eventColsSql = eventCols.mkString(", ")
  private val dedupWin =
    "row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id)"
  // Fixed-point integer money (see Relational Scaladoc): per-row snap to
  // cents via DECIMAL(18,2) — the one cast both engines round identically —
  // then pure int64 arithmetic, which is hash-stable in any output format.
  private def centsSql(c: String) =
    s"CAST(CAST($c AS DECIMAL(18,2)) * 100 AS BIGINT)"
  private val discPriceC =
    s"${centsSql("l_extendedprice")} * (100 - ${centsSql("l_discount")})"

  /** Shared CTE prefix for shingle-based text ops. */
  private val shingleCte =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
      |       FROM toks, unnest(range(1, len(t) - 1)) u(i))""".stripMargin

  /** Signature + band CTEs only (sig/band) — the index-build half of the
    * MinHash pipeline, shared by the self-join rows (via
    * [[minhashCtes]]) and the asymmetric incremental-ingest row.
    */
  private lazy val sigBandCtes =
    s"""sig AS (SELECT doc_id, j, min(md5(CAST(j AS VARCHAR) || '|' || shingle)) AS h
       |        FROM sh, unnest(range(0, 12)) v(j) GROUP BY doc_id, j),
       |band AS (SELECT doc_id, j // 4 AS band_id,
       |           md5(string_agg(h, '|' ORDER BY j)) AS band_key
       |         FROM sig GROUP BY doc_id, j // 4)""".stripMargin

  /** Full MinHash→LSH→verify pipeline CTEs (sig/band/cand/inter), shared
    * by the pair, survivor, and report rows. Ends before `pairj`.
    */
  private lazy val minhashCtes =
    s"""$sigBandCtes,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |         FROM band a JOIN band b
       |           ON a.band_id = b.band_id AND a.band_key = b.band_key
       |          AND a.doc_id < b.doc_id),
       |inter AS (SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, count(*) AS inter
       |          FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
       |          JOIN cand ON cand.doc_a = s1.doc_id AND cand.doc_b = s2.doc_id
       |          GROUP BY 1, 2),""".stripMargin

  /** The LSH sweep oracle: per-r banding over the shared 12-hash sig
    * frame, candidate counts, and the banding-independent truth from
    * the shingle inverted index — count-only, so no float crosses.
    */
  private lazy val lshTradeoffSql: String =
    s"""$shingleCte,
       |sig AS (SELECT doc_id, j, min(md5(CAST(j AS VARCHAR) || '|' || shingle)) AS h
       |        FROM sh, unnest(range(0, 12)) v(j) GROUP BY doc_id, j),
       |rset(r) AS (VALUES (2), (3), (4), (6)),
       |bandr AS (SELECT rs.r AS r, doc_id, j // rs.r AS band_id,
       |            md5(string_agg(h, '|' ORDER BY j)) AS band_key
       |          FROM sig, rset rs GROUP BY rs.r, doc_id, j // rs.r),
       |candr AS (SELECT DISTINCT a.r, a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM bandr a JOIN bandr b
       |            ON a.r = b.r AND a.band_id = b.band_id AND a.band_key = b.band_key
       |          WHERE a.doc_id < b.doc_id),
       |szs AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |interall AS (SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, count(*) AS inter
       |             FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
       |             GROUP BY 1, 2),
       |truthp AS (SELECT i.doc_a, i.doc_b FROM interall i
       |           JOIN szs sa ON i.doc_a = sa.doc_id
       |           JOIN szs sb ON i.doc_b = sb.doc_id
       |           WHERE CAST(i.inter AS DOUBLE) / CAST(sa.n + sb.n - i.inter AS DOUBLE) >= 0.5),
       |vc AS (SELECT c.r, count(*) AS nv FROM candr c
       |       JOIN truthp t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b GROUP BY 1),
       |cc AS (SELECT r, count(*) AS ncand FROM candr GROUP BY 1),
       |nt AS (SELECT count(*) AS n FROM truthp)
       |SELECT CAST(rs.r AS BIGINT) AS rows_per_band,
       |       CAST(12 // rs.r AS BIGINT) AS n_bands,
       |       CAST(COALESCE(cc.ncand, 0) AS BIGINT) AS n_candidates,
       |       CAST(COALESCE(vc.nv, 0) AS BIGINT) AS n_verified,
       |       CAST(nt.n - COALESCE(vc.nv, 0) AS BIGINT) AS n_missed
       |FROM rset rs
       |LEFT JOIN cc ON cc.r = rs.r
       |LEFT JOIN vc ON vc.r = rs.r
       |CROSS JOIN nt
       |ORDER BY rows_per_band""".stripMargin

  /** Duplicate-cluster CTE chain: verified pairs → symmetric edges →
    * recursive reachability → min-label components (`lab`). Shared by
    * the cluster and cluster-survivor rows. Starts the whole WITH chain
    * (RECURSIVE), so it must come first in the query.
    */
  private lazy val clusterCtes =
    s"""${shingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |$minhashCtes
       |$jaccardFromSh,
       |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairj WHERE jaccard >= 0.5
       |          UNION ALL
       |          SELECT doc_b, doc_a FROM pairj WHERE jaccard >= 0.5),
       |reach(node, r) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT re.node, e.v FROM reach re JOIN edges e ON re.r = e.u),
       |lab AS (SELECT node AS doc_id, least(node, min(r)) AS cluster_id
       |        FROM reach GROUP BY node)""".stripMargin

  /** Incremental (batch-vs-corpus) admission oracle, shared by the
    * recompute-per-run and persisted-bucketed-index rows (same
    * semantics; the store holds exactly the inline-derived arrays).
    */
  private lazy val incrementalSql =
    s"""$shingleCte,
       |$sigBandCtes,
       |candx AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM band a JOIN band b
       |            ON a.band_id = b.band_id AND a.band_key = b.band_key
       |          WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0),
       |interx AS (SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, count(*) AS inter
       |           FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle
       |           JOIN candx ON candx.doc_a = s1.doc_id AND candx.doc_b = s2.doc_id
       |           GROUP BY 1, 2),
       |pj AS (SELECT i.doc_a,
       |         CAST(i.inter AS DOUBLE) / CAST(sa.n + sb.n - i.inter AS DOUBLE) AS jaccard
       |       FROM interx i
       |       JOIN (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1) sa ON i.doc_a = sa.doc_id
       |       JOIN (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1) sb ON i.doc_b = sb.doc_id),
       |matched AS (SELECT DISTINCT doc_a AS doc_id FROM pj WHERE jaccard >= 0.5)
       |SELECT d.doc_id,
       |  CAST(CASE WHEN m.doc_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS admitted
       |FROM documents d LEFT JOIN matched m USING (doc_id)
       |WHERE d.doc_id % 5 = 0
       |ORDER BY d.doc_id""".stripMargin

  private val jaccardFromSh =
    """pairj AS (
      |  SELECT i.doc_a, i.doc_b,
      |         CAST(i.inter AS DOUBLE) / CAST(sa.n + sb.n - i.inter AS DOUBLE) AS jaccard
      |  FROM inter i
      |  JOIN (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1) sa ON i.doc_a = sa.doc_id
      |  JOIN (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1) sb ON i.doc_b = sb.doc_id)""".stripMargin

  private def cosSql(a: String, b: String): String =
    s"""round(
       |  list_sum(list_transform(list_zip($a, $b), z -> z[1]::DOUBLE * z[2]::DOUBLE)) /
       |  (sqrt(list_sum(list_transform($a, x -> x::DOUBLE * x::DOUBLE))) *
       |   sqrt(list_sum(list_transform($b, x -> x::DOUBLE * x::DOUBLE)))), 6)""".stripMargin
  private val cosineSql = cosSql("a.embedding", "b.embedding")

  private def lshBucketCte(planes: Int = 8) =
    s"""w AS (SELECT p, d,
      |        CAST(CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 15)) AS UBIGINT) % 2001 AS BIGINT) - 1000 AS wt
      |      FROM unnest(range(0, $planes)) u(p), unnest(range(0, 64)) v(d)),
      |proj AS (SELECT e.vec_id, w.p,
      |           CAST(SUM(w.wt * CAST(floor(e.embedding[w.d + 1]::DOUBLE * 1000) AS BIGINT)) AS BIGINT) AS pr
      |         FROM embeddings e, w GROUP BY e.vec_id, w.p),
      |bk AS (SELECT vec_id,
      |         CAST(SUM(CASE WHEN pr > 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
      |       FROM proj GROUP BY vec_id),
      |emb AS (SELECT e.vec_id, e.embedding, bk.bucket FROM embeddings e JOIN bk USING (vec_id))""".stripMargin

  /** Fixed-budget hash-sampled codebook (Similarity.hashSampleCentroids):
    * size is a CONSTANT, never a function of corpus rows.
    */
  private val centCte =
    s"""cent AS (SELECT vec_id AS cent_id, embedding AS cent_emb
       |         FROM embeddings
       |         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
       |         LIMIT ${operators.Similarity.CodebookK})""".stripMargin

  /** Shared recall-row SQL pieces: brute-force truth top-5 at stride 50,
    * and the hits/k aggregation tail over a CTE named `apx`.
    */
  private val truthCte =
    s"""truth AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT a.vec_id AS q_id, b.vec_id AS vec_id, $cosineSql AS sim,
       |      row_number() OVER (PARTITION BY a.vec_id ORDER BY $cosineSql DESC, b.vec_id) AS rk
       |    FROM embeddings a, embeddings b
       |    WHERE a.vec_id % 50 = 0 AND b.vec_id <> a.vec_id)
       |  WHERE rk <= 5)""".stripMargin
  private val recallTail =
    """h AS (SELECT t.q_id, count(*) AS hits FROM truth t
      |      JOIN apx x ON t.q_id = x.q_id AND t.vec_id = x.vec_id GROUP BY 1)
      |SELECT q.q_id, CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits,
      |       CAST(5 AS BIGINT) AS k
      |FROM (SELECT DISTINCT q_id FROM truth) q
      |LEFT JOIN h ON q.q_id = h.q_id""".stripMargin

  /** IVF pipeline CTEs (assigned/probes/s) shared by the top-k and
    * recall rows.
    */
  private val ivfCtes =
    s"""assigned AS (
       |  SELECT vec_id, embedding, cent_id AS list_id FROM (
       |    SELECT e.vec_id, e.embedding, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "c.cent_emb")} DESC, c.cent_id) AS arnk
       |    FROM embeddings e, cent c)
       |  WHERE arnk = 1),
       |probes AS (
       |  SELECT q_id, q_emb, cent_id AS list_id FROM (
       |    SELECT e.vec_id AS q_id, e.embedding AS q_emb, c.cent_id,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "c.cent_emb")} DESC, c.cent_id) AS prnk
       |    FROM embeddings e, cent c WHERE e.vec_id % 50 = 0)
       |  WHERE prnk <= 4),
       |s AS (
       |  SELECT p.q_id, a.vec_id, ${cosSql("p.q_emb", "a.embedding")} AS sim
       |  FROM probes p JOIN assigned a ON p.list_id = a.list_id
       |  WHERE a.vec_id <> p.q_id)""".stripMargin

  /** Residual-IVFPQ CTEs: integer per-dim list means (non-negative
    * lift, so `//` here equals Spark's truncating `div`), residuals as
    * one double-divide + float-cast per element, residual codebook
    * (same md5-ranked sample ids), residual codes, per-(query, probed
    * list) distance tables, list-confined ADC — mirrors
    * [[graft.operators.Similarity.ivfpqTopK]] term for term.
    */
  private val ivfpqCtes =
    """dims AS (SELECT CAST(d AS INTEGER) AS d FROM unnest(range(0, 64)) t(d)),
      |mic AS (SELECT a.vec_id, a.list_id, dims.d,
      |          CAST(floor(a.embedding[dims.d + 1]::DOUBLE * 1000000) AS BIGINT) AS v
      |        FROM assigned a, dims),
      |lm AS (SELECT list_id, d,
      |         (CAST(SUM(v + 2000000) AS BIGINT) // CAST(count(*) AS BIGINT)) - 2000000 AS mv
      |       FROM mic GROUP BY 1, 2),
      |rres AS (SELECT m.vec_id, m.list_id,
      |           list(CAST(CAST(m.v - lm.mv AS DOUBLE) / 1000000.0 AS FLOAT)
      |                ORDER BY m.d) AS remb
      |         FROM mic m JOIN lm ON lm.list_id = m.list_id AND lm.d = m.d
      |         GROUP BY 1, 2),
      |rcent AS (SELECT vec_id AS rcent_id, remb AS rcent_emb FROM rres
      |          ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16),
      |rvd AS (
      |  SELECT r.vec_id, c.rcent_id, s.s,
      |    CAST(floor(list_sum(list_transform(
      |      list_zip(list_slice(r.remb, s.s * 8 + 1, s.s * 8 + 8),
      |               list_slice(c.rcent_emb, s.s * 8 + 1, s.s * 8 + 8)),
      |      z -> (z[1]::DOUBLE - z[2]::DOUBLE) * (z[1]::DOUBLE - z[2]::DOUBLE)))
      |      * 1000000) AS BIGINT) AS dq
      |  FROM rres r, rcent c, unnest(range(0, 8)) s(s)),
      |rcodes AS (SELECT vec_id, s, rcent_id AS code FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id, s
      |    ORDER BY dq, rcent_id) AS rn FROM rvd) WHERE rn = 1),
      |qmic AS (SELECT p.q_id, p.list_id, dims.d,
      |           CAST(floor(p.q_emb[dims.d + 1]::DOUBLE * 1000000) AS BIGINT) AS v
      |         FROM probes p, dims),
      |qres AS (SELECT qm.q_id, qm.list_id,
      |           list(CAST(CAST(qm.v - lm.mv AS DOUBLE) / 1000000.0 AS FLOAT)
      |                ORDER BY qm.d) AS q_remb
      |         FROM qmic qm JOIN lm ON lm.list_id = qm.list_id AND lm.d = qm.d
      |         GROUP BY 1, 2),
      |rqd AS (
      |  SELECT q.q_id, q.list_id, c.rcent_id, s.s,
      |    CAST(floor(list_sum(list_transform(
      |      list_zip(list_slice(q.q_remb, s.s * 8 + 1, s.s * 8 + 8),
      |               list_slice(c.rcent_emb, s.s * 8 + 1, s.s * 8 + 8)),
      |      z -> (z[1]::DOUBLE - z[2]::DOUBLE) * (z[1]::DOUBLE - z[2]::DOUBLE)))
      |      * 1000000) AS BIGINT) AS dq
      |  FROM qres q, rcent c, unnest(range(0, 8)) s(s)),
      |radc AS (
      |  SELECT p.q_id, a.vec_id, CAST(SUM(q.dq) AS BIGINT) AS adc_dist
      |  FROM probes p
      |  JOIN assigned a ON a.list_id = p.list_id AND a.vec_id <> p.q_id
      |  JOIN rcodes cd ON cd.vec_id = a.vec_id
      |  JOIN rqd q ON q.q_id = p.q_id AND q.list_id = p.list_id
      |            AND q.s = cd.s AND q.rcent_id = cd.code
      |  GROUP BY 1, 2)""".stripMargin

  /** The OPQ rotation sweep: five candidate dimension permutations
    * (identity / energy-snake / energy-roundrobin / index-stride / the
    * LEARNED covariance-greedy allocation), each run through the full
    * PQ/ADC pipeline over the permuted embeddings; one row per rotation
    * with corpus quantization error, validation hits, and the
    * argmax-hits (identity-first tiebreak) chosen flag. The learned
    * allocation's greedy re-derives as 56 unrolled MATERIALIZED CTE
    * steps over the integer sample-covariance matrix (the BFS/k-core
    * unrolled-iteration convention). Mirrors
    * [[graft.operators.Similarity.opqRecall]] term for term.
    */
  private def opqSql(m: Int, subDim: Int): String = {
    val dims = m * subDim
    val rotations = Seq(
      "identity" -> s"SELECT d, CAST(d AS BIGINT) AS pos FROM dims",
      "snake" -> (s"SELECT d, (CASE WHEN (r // $m) % 2 = 0 THEN (r % $m) " +
        s"ELSE ${m - 1} - (r % $m) END) * $subDim + (r // $m) AS pos FROM rk"),
      "roundrobin" -> s"SELECT d, (r % $m) * $subDim + (r // $m) AS pos FROM rk",
      "stride" -> (s"SELECT d, CAST((d % $m) * $subDim + (d // $m) AS BIGINT) " +
        s"AS pos FROM dims"),
      "covar" -> "SELECT d, pos FROM alloc_covar_learned")
    val sb = new StringBuilder
    sb.append(
      s"""WITH dims AS (SELECT CAST(d AS INTEGER) AS d FROM unnest(range(0, $dims)) t(d)),
         |en AS (SELECT dims.d,
         |         CAST(SUM(ABS(CAST(floor(e.embedding[dims.d + 1]::DOUBLE * 1000000) AS BIGINT))) AS BIGINT) AS energy
         |       FROM embeddings e, dims GROUP BY 1),
         |rk AS (SELECT d, CAST(row_number() OVER (ORDER BY energy DESC, d) - 1 AS INTEGER) AS r FROM en),
         |${covarAllocSql(m, subDim)},
         |$truthCte,
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth)""".stripMargin)
    rotations.zipWithIndex.foreach { case ((name, allocSql), prio) =>
      sb.append(s""",
        |alloc_$name AS ($allocSql),
        |pl_$name AS (SELECT list(d ORDER BY pos) AS pl FROM alloc_$name),
        |pemb_$name AS (SELECT e.vec_id,
        |    list_transform((SELECT pl FROM pl_$name), i -> e.embedding[i + 1]) AS embedding
        |  FROM embeddings e),
        |cent_$name AS (SELECT vec_id AS cent_id, embedding AS cent_emb FROM pemb_$name
        |         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
        |         LIMIT ${operators.Similarity.CodebookK}),
        |vd_$name AS (
        |  SELECT e.vec_id, c.cent_id, s.s,
        |    CAST(floor(list_sum(list_transform(
        |      list_zip(list_slice(e.embedding, s.s * $subDim + 1, s.s * $subDim + $subDim),
        |               list_slice(c.cent_emb, s.s * $subDim + 1, s.s * $subDim + $subDim)),
        |      z -> (z[1]::DOUBLE - z[2]::DOUBLE) * (z[1]::DOUBLE - z[2]::DOUBLE)))
        |      * 1000000) AS BIGINT) AS dq
        |  FROM pemb_$name e, cent_$name c, unnest(range(0, $m)) s(s)),
        |qerr_$name AS (SELECT CAST(SUM(d) AS BIGINT) AS qerr FROM
        |  (SELECT vec_id, s, min(dq) AS d FROM vd_$name GROUP BY 1, 2)),
        |codes_$name AS (SELECT vec_id, s, cent_id AS code FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, s
        |    ORDER BY dq, cent_id) AS rn FROM vd_$name) WHERE rn = 1),
        |qd_$name AS (SELECT vec_id AS q_id, cent_id, s, dq FROM vd_$name WHERE vec_id % 50 = 0),
        |adc_$name AS (
        |  SELECT q.q_id, c.vec_id, CAST(SUM(q.dq) AS BIGINT) AS adc_dist
        |  FROM codes_$name c JOIN qd_$name q ON q.s = c.s AND q.cent_id = c.code
        |  WHERE c.vec_id <> q.q_id GROUP BY 1, 2),
        |apx_$name AS (SELECT q_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |      ORDER BY adc_dist, vec_id) AS rk FROM adc_$name) WHERE rk <= 5),
        |h_$name AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
        |  FROM apx_$name x JOIN truth t ON t.q_id = x.q_id AND t.vec_id = x.vec_id),
        |row_$name AS (SELECT '$name' AS rotation, CAST($prio AS BIGINT) AS prio,
        |  (SELECT qerr FROM qerr_$name) AS qerr,
        |  (SELECT n_hits FROM h_$name) AS n_hits)""".stripMargin)
    }
    sb.append(s""",
      |allrows AS (${rotations.map { case (n, _) => s"SELECT * FROM row_$n" }
        .mkString(" UNION ALL ")}),
      |ranked AS (SELECT *, row_number() OVER (ORDER BY n_hits DESC, prio) AS rnk
      |           FROM allrows)
      |SELECT rotation, qerr, n_hits, (SELECT n_truth FROM nt) AS n_truth,
      |       CASE WHEN rnk = 1 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS chosen
      |FROM ranked ORDER BY rotation""".stripMargin)
    sb.toString
  }

  /** The learned covariance-greedy OPQ allocation as SQL: integer
    * milli-scaled sample covariances (`|n·Σxᵢxⱼ − Σxᵢ·Σxⱼ|` over the
    * 512-row md5-ordered sample), then the greedy assignment unrolled
    * as one MATERIALIZED CTE per dimension — seed the m top-energy dims
    * one per subspace, each later dim joins the non-full subspace with
    * max affinity (tie → smaller subspace). Mirrors
    * [[graft.operators.Similarity.covarAllocation]] step for step.
    */
  private def covarAllocSql(m: Int, subDim: Int): String = {
    val dims = m * subDim
    val sb = new StringBuilder
    sb.append(
      s"""smp AS (SELECT vec_id, embedding FROM embeddings
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
         |  LIMIT ${operators.Similarity.OpqCovarSample}),
         |sxc AS MATERIALIZED (SELECT s.vec_id, dims.d,
         |  CAST(floor(s.embedding[dims.d + 1]::DOUBLE * 1000) AS BIGINT) AS x
         |  FROM smp s, dims),
         |snc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM smp),
         |ssum AS (SELECT d, CAST(SUM(x) AS BIGINT) AS sx FROM sxc GROUP BY d),
         |cvm AS MATERIALIZED (SELECT a.d AS d1, b.d AS d2,
         |  ABS((SELECT n FROM snc) * CAST(SUM(a.x * b.x) AS BIGINT)
         |      - s1.sx * s2.sx) AS a
         |  FROM sxc a JOIN sxc b ON a.vec_id = b.vec_id
         |  JOIN ssum s1 ON s1.d = a.d JOIN ssum s2 ON s2.d = b.d
         |  GROUP BY a.d, b.d, s1.sx, s2.sx),
         |asg_s0 AS MATERIALIZED (SELECT d, r, CAST(r AS INTEGER) AS sub FROM rk WHERE r < $m)""".stripMargin)
    var step = 0
    (m until dims).foreach { i =>
      val prev = s"asg_s$step"; step += 1
      sb.append(s""",
        |asg_s$step AS MATERIALIZED (
        |  SELECT * FROM $prev
        |  UNION ALL
        |  SELECT nd.d, nd.r, pk.sub FROM (SELECT d, r FROM rk WHERE r = $i) nd,
        |    (SELECT s.sub FROM (SELECT DISTINCT sub FROM $prev) s
        |     JOIN (SELECT sub AS csub, count(*) AS cnt FROM $prev GROUP BY 1) c ON c.csub = s.sub
        |     LEFT JOIN (SELECT mm.sub AS asub, CAST(SUM(cvm.a) AS BIGINT) AS aff
        |                FROM $prev mm JOIN cvm ON cvm.d1 = (SELECT d FROM rk WHERE r = $i) AND cvm.d2 = mm.d
        |                GROUP BY 1) af ON af.asub = s.sub
        |     WHERE c.cnt < $subDim
        |     ORDER BY COALESCE(af.aff, 0) DESC, s.sub LIMIT 1) pk)""".stripMargin)
    }
    sb.append(s""",
      |alloc_covar_learned AS (SELECT d,
      |  CAST(sub * $subDim + (row_number() OVER (PARTITION BY sub ORDER BY r) - 1) AS BIGINT) AS pos
      |  FROM asg_s$step)""".stripMargin)
    sb.toString
  }

  /** PQ pipeline CTEs (vd/codes/qd/adc) shared by the top-k and recall
    * rows.
    */
  private val pqCtes =
    """vd AS (
      |  SELECT e.vec_id, c.cent_id, s.s,
      |    CAST(floor(list_sum(list_transform(
      |      list_zip(list_slice(e.embedding, s.s * 8 + 1, s.s * 8 + 8),
      |               list_slice(c.cent_emb, s.s * 8 + 1, s.s * 8 + 8)),
      |      z -> (z[1]::DOUBLE - z[2]::DOUBLE) * (z[1]::DOUBLE - z[2]::DOUBLE)))
      |      * 1000000) AS BIGINT) AS dq
      |  FROM embeddings e, cent c, unnest(range(0, 8)) s(s)),
      |codes AS (SELECT vec_id, s, cent_id AS code FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id, s
      |    ORDER BY dq, cent_id) AS rn FROM vd) WHERE rn = 1),
      |qd AS (SELECT vec_id AS q_id, cent_id, s, dq FROM vd WHERE vec_id % 50 = 0),
      |adc AS (
      |  SELECT q.q_id, c.vec_id, CAST(SUM(q.dq) AS BIGINT) AS adc_dist
      |  FROM codes c JOIN qd q ON q.s = c.s AND q.cent_id = c.code
      |  WHERE c.vec_id <> q.q_id
      |  GROUP BY 1, 2)""".stripMargin

  /** SQ8 pipeline CTEs (ex/b/dec/sqs) shared by the top-k and recall
    * rows: per-dimension micro values, trained min/max bounds, decoded
    * candidates, and integer asymmetric squared-L2 — pure int64 with
    * non-negative `//` operands, mirroring Similarity.sqTopK exactly.
    */
  private val sqCtes =
    """dims AS (SELECT CAST(d AS INTEGER) AS d FROM unnest(range(0, 64)) t(d)),
      |ex AS (SELECT e.vec_id, dims.d,
      |         CAST(floor(e.embedding[dims.d + 1]::DOUBLE * 1000000) AS BIGINT) AS x
      |       FROM embeddings e, dims),
      |b AS (SELECT d, min(x) AS mn, max(x) AS mx FROM ex GROUP BY d),
      |dec AS (SELECT ex.vec_id, ex.d,
      |          CASE WHEN b.mx = b.mn THEN b.mn
      |               ELSE b.mn + ((((ex.x - b.mn) * 255) // (b.mx - b.mn))
      |                            * (b.mx - b.mn)) // 255 END AS v
      |        FROM ex JOIN b USING (d)),
      |sqs AS (SELECT qx.vec_id AS q_id, dd.vec_id AS vec_id,
      |          CAST(SUM((qx.x - dd.v) * (qx.x - dd.v)) AS BIGINT) AS adc_dist
      |        FROM dec dd JOIN ex qx ON qx.d = dd.d
      |        WHERE qx.vec_id % 50 = 0 AND dd.vec_id <> qx.vec_id
      |        GROUP BY 1, 2)""".stripMargin

  /** The 1-bit binary-quantization chain: per-dimension micro-sums
    * train the mean threshold (compared by integer cross-multiply —
    * never a division), bits pack into two non-negative 32-bit words,
    * Hamming = popcount of the XORed halves. Mirrors
    * [[graft.operators.Similarity.bqCodes]] term for term.
    */
  private val bqCtes =
    """dims AS (SELECT CAST(d AS INTEGER) AS d FROM unnest(range(0, 64)) t(d)),
      |ex AS (SELECT e.vec_id, dims.d,
      |         CAST(floor(e.embedding[dims.d + 1]::DOUBLE * 1000000) AS BIGINT) AS x
      |       FROM embeddings e, dims),
      |tr AS (SELECT d, CAST(SUM(x) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
      |       FROM ex GROUP BY d),
      |bits AS (SELECT ex.vec_id, ex.d,
      |           CASE WHEN ex.x * tr.n > tr.s THEN 1::BIGINT ELSE 0::BIGINT END AS b
      |         FROM ex JOIN tr USING (d)),
      |codes AS (SELECT vec_id,
      |            CAST(SUM(CASE WHEN d < 32 THEN b * (1::BIGINT << d) ELSE 0 END) AS BIGINT) AS lo,
      |            CAST(SUM(CASE WHEN d >= 32 THEN b * (1::BIGINT << (d - 32)) ELSE 0 END) AS BIGINT) AS hi
      |          FROM bits GROUP BY 1),
      |bqs AS (SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
      |          CAST(bit_count(xor(q.lo, c.lo)) + bit_count(xor(q.hi, c.hi)) AS BIGINT) AS ham_dist
      |        FROM codes c JOIN codes q ON q.vec_id % 50 = 0 AND c.vec_id <> q.vec_id)""".stripMargin

  /** R unrolled peel rounds of the k-core trace
    * ([[graft.operators.KCore.kcorePeel]]): e0/a0 are the trade-graph
    * edge and node sets, kv the lower-median degree (exact order
    * statistic at rank ⌈n/2⌉ under (degree, node) order); round r
    * computes degrees over e(r-1), keeps survivors with degree >= k,
    * and restricts edges to them. Every emitted value is an exact
    * count.
    */
  private def kcoreSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH e0 AS MATERIALIZED (SELECT DISTINCT o.o_custkey * 2 AS a, l.l_suppkey * 2 + 1 AS b
        |            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
        |a0 AS MATERIALIZED (SELECT DISTINCT node FROM (
        |         SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0)),
        |dg AS MATERIALIZED (SELECT node, count(*) AS d FROM (
        |         SELECT a AS node FROM e0 UNION ALL SELECT b AS node FROM e0)
        |       GROUP BY 1),
        |kv AS MATERIALIZED (SELECT d AS k FROM (
        |         SELECT d, row_number() OVER (ORDER BY d, node) AS rn FROM dg)
        |       WHERE rn = (SELECT (count(*) + 1) // 2 FROM dg))""".stripMargin)
    for (r <- 1 to rounds) {
      val p = r - 1
      // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs per
      // reference, and each round references its predecessor three
      // times — inlined, the unrolled chain re-expands exponentially
      // (the sf0.01 trial died on file handles before finishing)
      sb.append(s""",
        |d$r AS MATERIALIZED (SELECT node, count(*) AS d FROM (
        |          SELECT a AS node FROM e$p UNION ALL SELECT b AS node FROM e$p)
        |        GROUP BY 1),
        |a$r AS MATERIALIZED (SELECT x.node FROM a$p x LEFT JOIN d$r USING (node)
        |        WHERE COALESCE(d$r.d, 0) >= (SELECT k FROM kv)),
        |e$r AS MATERIALIZED (SELECT e.a, e.b FROM e$p e
        |        JOIN a$r x ON e.a = x.node JOIN a$r y ON e.b = y.node)""".stripMargin)
    }
    val rows = (1 to rounds).map { r =>
      val p = r - 1
      s"""SELECT CAST($r AS BIGINT) AS round,
         |  CAST((SELECT k FROM kv) AS BIGINT) AS k,
         |  CAST((SELECT count(*) FROM a$p) - (SELECT count(*) FROM a$r) AS BIGINT) AS n_peeled,
         |  CAST((SELECT count(*) FROM a$r) AS BIGINT) AS n_remaining,
         |  CAST((SELECT count(*) FROM e$r) AS BIGINT) AS n_edges""".stripMargin
    }.mkString("\nUNION ALL\n")
    sb.append("\n" + rows + "\nORDER BY round")
    sb.toString
  }

  /** R unrolled frontier rounds of the multi-source BFS
    * ([[graft.operators.Bfs.bfsHops]]): f0 is the probe batch
    * (co-purchase nodes ≡ 0 mod 97), fr = one-hop neighbors of the
    * previous frontier not yet visited, vr the cumulative reach. Every
    * emitted value is an exact count.
    */
  private def bfsSql(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |      WHERE a.l_partkey < b.l_partkey),
        |ebi AS MATERIALIZED (
        |  SELECT a AS u, b AS n FROM e UNION ALL SELECT b AS u, a AS n FROM e),
        |f0 AS MATERIALIZED (SELECT DISTINCT u FROM ebi WHERE u % 97 = 0),
        |v0 AS MATERIALIZED (SELECT u FROM f0)""".stripMargin)
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(s""",
        |f$r AS MATERIALIZED (SELECT DISTINCT e.n AS u FROM ebi e JOIN f$p f ON e.u = f.u
        |        WHERE NOT EXISTS (SELECT 1 FROM v$p v WHERE v.u = e.n)),
        |v$r AS MATERIALIZED (SELECT u FROM v$p UNION ALL SELECT u FROM f$r)""".stripMargin)
    }
    val rows = (0 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
         |  CAST((SELECT count(*) FROM f$r) AS BIGINT) AS n_frontier,
         |  CAST((SELECT count(*) FROM v$r) AS BIGINT) AS n_reached""".stripMargin
    }.mkString("\nUNION ALL\n")
    sb.append("\n" + rows + "\nORDER BY round")
    sb.toString
  }

  /** Unrolled synchronous ε-PUSH PPR from the probe batch: a node is
    * active iff r ≥ (ε·SCALE)·deg = 100000·deg (ACL's queue condition
    * in pre-scaled integers, ε = 10⁻⁷); actives absorb (r·3)//20 and push
    * (r·17)//(20·deg) per neighbor, inactives carry their residual —
    * pure int64 truncating division on non-negative operands,
    * mirroring [[graft.operators.Ppr.pprTopK]] term for term;
    * MATERIALIZED CTEs (the bfsSql/kcore lesson).
    */
  private def pprSql(rounds: Int, k: Int): String = {
    val sb = new StringBuilder
    sb.append(
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |      WHERE a.l_partkey < b.l_partkey),
        |ebi AS MATERIALIZED (
        |  SELECT a AS u, b AS n FROM e UNION ALL SELECT b AS u, a AS n FROM e),
        |deg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS d FROM ebi GROUP BY 1),
        |hop1 AS MATERIALIZED (SELECT u AS p, n AS y FROM ebi WHERE u % 97 = 0),
        |r0 AS MATERIALIZED (SELECT DISTINCT u AS p, u, CAST(1000000000000 AS BIGINT) AS r
        |      FROM ebi WHERE u % 97 = 0)""".stripMargin)
    for (t <- 0 until rounds) {
      sb.append(s""",
        |act$t AS MATERIALIZED (SELECT r.p, r.u, r.r, d.d FROM r$t r
        |      JOIN deg d ON d.u = r.u
        |      WHERE r.r >= 100000 * d.d),
        |ina$t AS (SELECT r.p, r.u, r.r FROM r$t r
        |      JOIN deg d ON d.u = r.u
        |      WHERE r.r < 100000 * d.d),
        |a$t AS (SELECT p, u, (r * 3) // 20 AS m FROM act$t)""".stripMargin)
      if (t < rounds - 1) sb.append(s""",
        |r${t + 1} AS MATERIALIZED (SELECT p, u, CAST(SUM(r) AS BIGINT) AS r FROM (
        |      SELECT a.p, e.n AS u, (a.r * 17) // (20 * a.d) AS r
        |      FROM act$t a JOIN ebi e ON e.u = a.u
        |      UNION ALL SELECT p, u, r FROM ina$t)
        |      GROUP BY 1, 2)""".stripMargin)
    }
    val unions = (0 until rounds).map(t => s"SELECT * FROM a$t")
      .mkString(" UNION ALL ")
    sb.append(s""",
      |score AS (SELECT p, u, CAST(SUM(m) AS BIGINT) AS score
      |          FROM ($unions) GROUP BY 1, 2
      |          HAVING SUM(m) > 0),
      |pred AS (SELECT s.p, s.u, s.score FROM score s
      |         WHERE s.u <> s.p AND NOT EXISTS (
      |           SELECT 1 FROM hop1 h WHERE h.p = s.p AND h.y = s.u))
      |SELECT p AS probe_part, u AS cand_part, score, CAST(rk AS BIGINT) AS rnk
      |FROM (SELECT *, row_number() OVER (PARTITION BY p
      |        ORDER BY score DESC, u) AS rk FROM pred)
      |WHERE rk <= $k ORDER BY probe_part, rnk""".stripMargin)
    sb.toString
  }

  /** Shared CTE header for the label-propagation lanes: the strong
    * co-purchase graph (pairs in ≥ StrongMinOrders orders) and the
    * unrolled synchronous LPA rounds — each node adopts its neighbors'
    * most frequent label, ties to the smallest; MATERIALIZED per round
    * (the bfs/kcore/ppr convention). Mirrors
    * [[graft.operators.Community]] term for term.
    */
  private def lpaCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         |e AS MATERIALIZED (SELECT a, b FROM (
         |      SELECT a.l_partkey AS a, b.l_partkey AS b, count(*) AS w
         |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
         |      WHERE a.l_partkey < b.l_partkey GROUP BY 1, 2)
         |      WHERE w >= ${operators.Community.StrongMinOrders}),
         |ebi AS MATERIALIZED (
         |  SELECT a AS u, b AS n FROM e UNION ALL SELECT b AS u, a AS n FROM e),
         |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM ebi GROUP BY 1),
         |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
         |lbl0 AS MATERIALIZED (SELECT u, u AS l FROM (SELECT DISTINCT u FROM ebi))""".stripMargin)
    (1 to rounds).foreach { r =>
      sb.append(s""",
        |lbl$r AS MATERIALIZED (SELECT u, l FROM (
        |  SELECT eb.u, nl.l, row_number() OVER (PARTITION BY eb.u
        |    ORDER BY count(*) DESC, nl.l) AS rk
        |  FROM ebi eb JOIN lbl${r - 1} nl ON nl.u = eb.n
        |  GROUP BY eb.u, nl.l) WHERE rk = 1)""".stripMargin)
    }
    sb.toString
  }

  private def communityLabelsSql(rounds: Int): String =
    lpaCtes(rounds) +
      s"\nSELECT u AS part, l AS label FROM lbl$rounds ORDER BY part"

  private def communityModularitySql(rounds: Int): String = {
    val sb = new StringBuilder(lpaCtes(rounds))
    (0 to rounds).foreach { r =>
      sb.append(s""",
        |mst$r AS (SELECT
        |    CAST($r AS BIGINT) AS round,
        |    (SELECT CAST(count(DISTINCT l) AS BIGINT) FROM lbl$r) AS n_comms,
        |    CAST(SUM(CASE WHEN la.l = lb.l THEN 1 ELSE 0 END) AS BIGINT) AS intra
        |  FROM e JOIN lbl$r la ON la.u = e.a JOIN lbl$r lb ON lb.u = e.b),
        |dsq$r AS (SELECT CAST(SUM(dc * dc) AS BIGINT) AS dsq FROM (
        |  SELECT l, CAST(SUM(d) AS BIGINT) AS dc FROM lbl$r JOIN deg USING (u) GROUP BY l))""".stripMargin)
    }
    val unions = (0 to rounds).map(r =>
      s"SELECT round, n_comms, intra, (SELECT dsq FROM dsq$r) AS dsq FROM mst$r")
      .mkString(" UNION ALL ")
    sb.append(s""",
      |trace AS ($unions)
      |SELECT round, n_comms, intra,
      |  4 * (SELECT m FROM mm) * intra - dsq AS q_num,
      |  4 * (SELECT m FROM mm) * (SELECT m FROM mm) AS q_den,
      |  CAST(4 * (SELECT m FROM mm) * intra - dsq AS DOUBLE)
      |    / CAST(4 * (SELECT m FROM mm) * (SELECT m FROM mm) AS DOUBLE) AS q
      |FROM trace ORDER BY round""".stripMargin)
    sb.toString
  }

  /** Five unrolled integer power iterations over the bidirectional
    * customer↔supplier edge list — it0 is the uniform init; each itN
    * joins the previous ranks to the edges and sums the exact per-edge
    * integer contributions plus the teleport constant.
    */
  private val pagerankSql: String = {
    val its = (1 to 5).map { i =>
      s"""it$i AS (
         |  SELECT e.dst AS node,
         |         CAST(150000 + SUM((n.r * 17) // (20 * dg.d)) AS BIGINT) AS r
         |  FROM edges e JOIN it${i - 1} n ON e.src = n.node
         |  JOIN deg dg ON dg.src = e.src
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY 1),
       |it0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
       |$its
       |SELECT node, r AS rank_micro, CAST(rnk AS BIGINT) AS rnk
       |FROM (SELECT *, row_number() OVER (ORDER BY r DESC, node) AS rnk FROM it5)
       |WHERE rnk <= 20 ORDER BY rnk""".stripMargin
  }

  /** The HNSW level-histogram oracle, GENERATED from the same M the
    * engine runs ([[graft.operators.Hnsw.Params]]): level =
    * min(30, lz60(md5_60("hnsw_" ∘ vec_id)) / log2 M) — the divisor
    * comes from [[graft.operators.Hnsw.bitsPerLevel]], the exact
    * integer [[graft.operators.Hnsw.levelOf]] divides by, so a future
    * M change cannot silently diverge the oracle (HnswSpec additionally
    * pins the coupling at a non-default M).
    */
  private[graft] def hnswLevelsSql(m: Int): String = {
    val bits = operators.Hnsw.bitsPerLevel(m)
    s"""WITH v AS (SELECT vec_id,
       |  CAST(('0x' || substr(md5('hnsw_' || CAST(vec_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS h
       |  FROM embeddings)
       |SELECT level, CAST(count(*) AS BIGINT) AS n_nodes FROM (
       |  SELECT CAST(LEAST(30, (CASE WHEN h = 0 THEN 60 ELSE 60 - length(bin(h)) END) // $bits) AS INTEGER) AS level
       |  FROM v)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** The BPE training loop ([[graft.operators.TextOps.bpeTrain]])
    * unrolled as a DuckDB CTE — the PageRank-oracle pattern for bounded
    * driver loops: round k counts adjacent char pairs of the
    * single-char-symbol word representations (r_{k-1}), picks the
    * argmax by (count desc, pair bytes asc), fuses it via literal
    * `replace` (= the greedy non-overlapping merge scan, because every
    * symbol is one char), and assigns the new token the private-use
    * char U+E000+k-1 via chr(). The final SELECT expands each round's
    * pair back to readable symbol strings by reverse-substituting
    * later-round chars with their pairs (j = k-1 down to 1 resolves
    * every private-use char, since round j's pair only contains chars
    * from rounds < j).
    */
  private def bpeChar(k: Int) = s"chr(${0xE000 + k - 1})"

  /** The shared training-rounds CTE prefix: r0 (distinct-word reprs) and
    * per-round p/b/r (pair counts, argmax pick, fused reprs).
    */
  private def bpeRoundsCte(merges: Int): String = {
    val rounds = (1 to merges).map { k =>
      s"""p$k AS (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM (
         |    SELECT unnest(list_transform(range(1, length(repr)),
         |                  i -> substring(repr, i, 2))) AS pair, freq
         |    FROM r${k - 1} WHERE length(repr) >= 2)
         |  GROUP BY pair),
         |b$k AS (SELECT pair, n FROM p$k ORDER BY n DESC, pair LIMIT 1),
         |r$k AS (SELECT replace(repr, (SELECT pair FROM b$k), ${bpeChar(k)}) AS repr, freq
         |        FROM r${k - 1})""".stripMargin
    }.mkString(",\n")
    s"""r0 AS (
       |  SELECT word AS repr, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE length(word) > 0
       |    AND NOT regexp_matches(word, '[\\x{E000}-\\x{F8FF}]')
       |  GROUP BY word),
       |$rounds""".stripMargin
  }

  /** The final vocabulary SELECT shared by the char- and byte-level
    * train oracles: expand each round's pair back to base-symbol
    * strings by reverse-substituting later-round chars with their
    * pairs (j = k−1 down to 1 resolves every private-use char, since
    * round j's pair only contains symbols from rounds < j).
    */
  private def bpeTrainSqlOver(roundsCte: String, merges: Int): String = {
    // expansion of scalar expression `e` as seen after round k's pick
    def expand(k: Int, e: String): String =
      (k - 1 to 1 by -1).foldLeft(e)((acc, j) =>
        s"replace($acc, ${bpeChar(j)}, (SELECT pair FROM b$j))")
    val rows = (1 to merges).map { k =>
      val l = expand(k, s"substring((SELECT pair FROM b$k), 1, 1)")
      val r = expand(k, s"substring((SELECT pair FROM b$k), 2, 1)")
      val t = expand(k, s"(SELECT pair FROM b$k)")
      s"""SELECT CAST($k AS BIGINT) AS merge_rank, $l AS "left", $r AS "right",
         |       $t AS new_token, (SELECT n FROM b$k) AS n""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $roundsCte
       |$rows""".stripMargin
  }

  private def bpeTrainSql(merges: Int): String =
    bpeTrainSqlOver(bpeRoundsCte(merges), merges)

  /** Greedy maximal-munch oracle: the trained vocab tokens (each round's
    * pair expanded back to base symbols), a per-(word, position) greedy
    * ADVANCE table (longest matching token, else 1 — a plain aggregation,
    * computable without iteration), and the walk itself as a recursive
    * CTE following pos → pos + adv(pos); steps = MAX(n) per word, summed
    * per doc weighted by occurrences.
    */
  private def maxMatchSql(merges: Int): String = {
    def expand(k: Int, e: String): String =
      (k - 1 to 1 by -1).foldLeft(e)((acc, j) =>
        s"replace($acc, ${bpeChar(j)}, (SELECT pair FROM b$j))")
    val tokRows = (1 to merges)
      .map(k => s"SELECT ${expand(k, s"(SELECT pair FROM b$k)")} AS tok")
      .mkString("\nUNION ALL\n")
    s"""WITH RECURSIVE ${bpeRoundsCte(merges)},
       |toks AS ($tokRows),
       |dw AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS n_occ FROM (
       |         SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
       |       WHERE length(word) > 0 GROUP BY 1, 2),
       |w AS (SELECT DISTINCT word FROM dw),
       |pos AS (SELECT word, i FROM w, unnest(range(1, length(word) + 1)) u(i)),
       |adv AS (SELECT p.word, p.i,
       |          COALESCE(MAX(CASE WHEN substring(p.word, p.i, length(t.tok)) = t.tok
       |                            THEN length(t.tok) END), 1) AS adv
       |        FROM pos p LEFT JOIN toks t ON substring(p.word, p.i, length(t.tok)) = t.tok
       |        GROUP BY p.word, p.i),
       |walk(word, pos, n) AS (
       |  SELECT word, 1, CAST(0 AS BIGINT) FROM w
       |  UNION ALL
       |  SELECT wk.word, wk.pos + a.adv, wk.n + 1
       |  FROM walk wk JOIN adv a ON a.word = wk.word AND a.i = wk.pos),
       |steps AS (SELECT word, MAX(n) AS n_tok FROM walk GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(CAST(SUM(dw.n_occ) AS BIGINT), 0) AS n_ws_tokens,
       |  COALESCE(CAST(SUM(dw.n_occ * s.n_tok) AS BIGINT), 0) AS n_maxmatch_tokens
       |FROM documents d LEFT JOIN dw USING (doc_id) LEFT JOIN steps s USING (word)
       |GROUP BY 1 ORDER BY doc_id""".stripMargin
  }

  /** Unigram-LM Viterbi oracle ([[graft.operators.TextOps.unigramEncode]]):
    * the trained vocab tokens with their merge counts, a per-(word, end)
    * CANDIDATE table (every token match ending at `e`, plus the
    * single-char fallback at frequency 0 — so every boundary is
    * reachable), and the DP itself as a recursive CTE advancing one
    * boundary per iteration, carrying the best-cost vector as a LIST
    * (one row per word per iteration — never a path explosion). Costs
    * are T-encoded (k·T − s, T = 10^12): the single bigint min IS the
    * lexicographic (fewest tokens, then highest frequency sum) optimum
    * while s < T, and both outputs decode from it exactly.
    */
  private def unigramSql(merges: Int): String = {
    val T = "1000000000000"
    def expand(k: Int, e: String): String =
      (k - 1 to 1 by -1).foldLeft(e)((acc, j) =>
        s"replace($acc, ${bpeChar(j)}, (SELECT pair FROM b$j))")
    val tokRows = (1 to merges)
      .map(k => s"SELECT ${expand(k, s"(SELECT pair FROM b$k)")} AS tok, (SELECT n FROM b$k) AS n")
      .mkString("\nUNION ALL\n")
    s"""WITH RECURSIVE ${bpeRoundsCte(merges)},
       |toks AS ($tokRows),
       |dw AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS n_occ FROM (
       |         SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
       |       WHERE length(word) > 0 GROUP BY 1, 2),
       |w AS (SELECT DISTINCT word FROM dw),
       |pos AS (SELECT word, CAST(i AS INTEGER) AS i
       |        FROM w, unnest(range(1, length(word) + 1)) u(i)),
       |cand0 AS (
       |  SELECT word, i + 1 AS e, i AS s, CAST(0 AS BIGINT) AS f FROM pos
       |  UNION ALL
       |  SELECT p.word, p.i + length(t.tok) AS e, p.i AS s, t.n AS f
       |  FROM pos p JOIN toks t ON substring(p.word, p.i, length(t.tok)) = t.tok),
       |cands AS (SELECT word, e, list(struct_pack(s := s, f := f)) AS cs
       |          FROM cand0 GROUP BY 1, 2),
       |dp(word, e, bv) AS (
       |  SELECT word, 1, [CAST(0 AS BIGINT)] FROM w
       |  UNION ALL
       |  SELECT d.word, d.e + 1,
       |    list_append(d.bv, list_min(list_transform(c.cs,
       |      x -> d.bv[x.s] + $T - x.f)))
       |  FROM dp d JOIN cands c ON c.word = d.word AND c.e = d.e + 1
       |  WHERE d.e <= length(d.word)),
       |res AS (
       |  SELECT word, (val - 1) // $T + 1 AS k,
       |         ((val - 1) // $T + 1) * $T - val AS s
       |  FROM (SELECT word, bv[length(word) + 1] AS val FROM dp
       |        WHERE e = length(word) + 1))
       |SELECT d.doc_id,
       |  COALESCE(CAST(SUM(dw.n_occ) AS BIGINT), 0) AS n_ws_tokens,
       |  COALESCE(CAST(SUM(dw.n_occ * r.k) AS BIGINT), 0) AS n_unigram_tokens,
       |  COALESCE(CAST(SUM(dw.n_occ * r.s) AS BIGINT), 0) AS unigram_freq
       |FROM documents d LEFT JOIN dw USING (doc_id) LEFT JOIN res r USING (word)
       |GROUP BY 1 ORDER BY doc_id""".stripMargin
  }

  /** Byte-repr of the hex string `h` (DuckDB): each hex PAIR becomes
    * `chr(256 + byte)` — the oracle half of
    * [[graft.functions.ExpressionKernels.byteRepr]]'s uniform offset
    * map (hex-digit arithmetic via strpos keeps it engine-literal).
    */
  private def bpeByteReprSql(h: String): String =
    // COALESCE: list_aggr of an EMPTY list is NULL in DuckDB (the
    // array_to_string([]) gotcha) — an empty document must repr to ''
    s"""COALESCE(list_aggr(list_transform(range(1, length($h) // 2 + 1),
       |    i -> chr(CAST(256 + (strpos('0123456789ABCDEF', substring($h, 2 * i - 1, 1)) - 1) * 16
       |                      + strpos('0123456789ABCDEF', substring($h, 2 * i, 1)) - 1 AS INTEGER))),
       |  'string_agg', ''), '')""".stripMargin

  /** Rounds CTE for the BYTE-LEVEL trainer: r0 maps each distinct
    * word's UTF-8 bytes to the U+0100+b alphabet; the per-round
    * pair-count/argmax/fuse steps are IDENTICAL to the char-level CTE
    * (the loop never cares which alphabet the symbols came from). No
    * PUA word filter: hostile private-use chars decompose into
    * ordinary byte symbols.
    */
  private def bpeByteRoundsCte(merges: Int): String = {
    val rounds = (1 to merges).map { k =>
      s"""p$k AS (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM (
         |    SELECT unnest(list_transform(range(1, length(repr)),
         |                  i -> substring(repr, i, 2))) AS pair, freq
         |    FROM r${k - 1} WHERE length(repr) >= 2)
         |  GROUP BY pair),
         |b$k AS (SELECT pair, n FROM p$k ORDER BY n DESC, pair LIMIT 1),
         |r$k AS (SELECT replace(repr, (SELECT pair FROM b$k), ${bpeChar(k)}) AS repr, freq
         |        FROM r${k - 1})""".stripMargin
    }.mkString(",\n")
    s"""r0 AS (
       |  SELECT ${bpeByteReprSql("h")} AS repr, freq FROM (
       |    SELECT hex(encode(word)) AS h, freq FROM (
       |      SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
       |        SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |      WHERE length(word) > 0
       |      GROUP BY word))),
       |$rounds""".stripMargin
  }

  private def bpeByteTrainSql(merges: Int): String =
    bpeTrainSqlOver(bpeByteRoundsCte(merges), merges)

  /** Byte-level encode oracle: full-document byte repr → the replace
    * chain → symbols = length(encoded) − n_space_bytes (a space is one
    * byte, so its count equals the char count in the raw text).
    */
  private def bpeByteEncodeSql(merges: Int): String = {
    val chain = (1 to merges).foldLeft("repr")((acc, k) =>
      s"replace($acc, (SELECT pair FROM b$k), ${bpeChar(k)})")
    s"""WITH ${bpeByteRoundsCte(merges)},
       |enc0 AS (
       |  SELECT doc_id, hex(encode(text)) AS h,
       |         CAST(strlen(text) AS BIGINT) AS n_bytes,
       |         length(text) - length(replace(text, ' ', '')) AS nsp
       |  FROM documents),
       |enc1 AS (SELECT doc_id, n_bytes, nsp, ${bpeByteReprSql("h")} AS repr FROM enc0)
       |SELECT doc_id, n_bytes,
       |  CAST(length($chain) - nsp AS BIGINT) AS n_bpe_byte_tokens
       |FROM enc1""".stripMargin
  }

  /** Byte-level packing oracle: the byte encode chain's symbol count
    * feeding the same per-language cumulative window as [[bpePackSql]]
    * — no PUA exclusion (the byte alphabet covers every document).
    */
  private def bpeBytePackSql(merges: Int, budget: Int): String = {
    val chain = (1 to merges).foldLeft("repr")((acc, k) =>
      s"replace($acc, (SELECT pair FROM b$k), ${bpeChar(k)})")
    s"""WITH ${bpeByteRoundsCte(merges)},
       |enc0 AS (
       |  SELECT doc_id, lang, hex(encode(text)) AS h,
       |         length(text) - length(replace(text, ' ', '')) AS nsp
       |  FROM documents),
       |enc AS (
       |  SELECT doc_id, lang, CAST(length($chain) - nsp AS BIGINT) AS n_tokens
       |  FROM (SELECT doc_id, lang, nsp, ${bpeByteReprSql("h")} AS repr FROM enc0)),
       |w AS (
       |  SELECT doc_id, lang, n_tokens,
       |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
       |  FROM enc)
       |SELECT doc_id, lang, n_tokens, CAST(prior // $budget AS BIGINT) AS pack_id FROM w""".stripMargin
  }

  /** The encoder's replace chain over full document text (merge pairs
    * never contain a space, so the chain equals per-word encoding) plus
    * the symbol-count arithmetic — see
    * [[graft.operators.TextOps.bpeTokenCount]].
    */
  private def bpeEncChain(merges: Int): String =
    (1 to merges).foldLeft("text")((acc, k) =>
      s"replace($acc, (SELECT pair FROM b$k), ${bpeChar(k)})")

  private def bpeNTokensSql(merges: Int): String =
    s"CAST(length(${bpeEncChain(merges)}) - " +
      "(length(text) - length(replace(text, ' ', ''))) AS BIGINT)"

  private val bpeNoPuaSql = "NOT regexp_matches(text, '[\\x{E000}-\\x{F8FF}]')"

  private def bpeEncodeSql(merges: Int): String =
    s"""WITH ${bpeRoundsCte(merges)}
       |SELECT doc_id,
       |  CAST(length(text) AS BIGINT) AS n_chars,
       |  CAST(len(list_filter(string_split(text, ' '), w -> length(w) > 0)) AS BIGINT) AS n_ws_tokens,
       |  ${bpeNTokensSql(merges)} AS n_bpe_tokens
       |FROM documents WHERE $bpeNoPuaSql""".stripMargin

  private def bpePackSql(merges: Int, budget: Int): String =
    s"""WITH ${bpeRoundsCte(merges)},
       |enc AS (
       |  SELECT doc_id, lang, ${bpeNTokensSql(merges)} AS n_tokens
       |  FROM documents WHERE $bpeNoPuaSql),
       |w AS (
       |  SELECT doc_id, lang, n_tokens,
       |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
       |  FROM enc)
       |SELECT doc_id, lang, n_tokens, CAST(prior // $budget AS BIGINT) AS pack_id FROM w""".stripMargin

  /** The PII regex classes verbatim ([[graft.operators.TextOps]]
    * constants — engine-neutral by construction) in DuckDB spelling:
    * counts via regexp_extract_all length, masking via the 'g' flag
    * (DuckDB's regexp_replace is first-match-only without it), in the
    * same fixed email → phone → IPv4 order as the engine.
    */
  private def piiRe(s: String): String = s.replace("'", "''")

  /** Gopher-repetition n-gram CTE chain over relation `src(doc_id,
    * text)`, ending in `m(doc_id, n, topn, dupn)` + `t(doc_id, tok,
    * den)` — shared by `text_repetition_gopher` and
    * `pipeline_rule_matrix`. All n-grams for n=2..10 via a lateral
    * double-unnest; coverage maxima/sums per (doc, n).
    */
  private def repNgramCtes(src: String): String =
    s"""t AS (SELECT doc_id, string_split(text, ' ') AS tok,
       |       CAST(length(text) AS BIGINT) AS den FROM $src),
       |g AS (SELECT doc_id, nn.n AS n,
       |        array_to_string(tok[u.i:u.i+nn.n-1], ' ') AS g
       |      FROM t, unnest(range(2, 11)) nn(n),
       |           unnest(range(1, len(tok) - nn.n + 2)) u(i)),
       |c AS (SELECT doc_id, n, g, count(*) AS c FROM g GROUP BY 1, 2, 3),
       |m AS (SELECT doc_id, n,
       |        CAST(max(c * length(g)) AS BIGINT) AS topn,
       |        CAST(COALESCE(sum(CASE WHEN c >= 2 THEN c * length(g) END), 0) AS BIGINT) AS dupn
       |      FROM c GROUP BY 1, 2)""".stripMargin

  /** The repetition ladder's per-(doc,n) threshold as SQL: pct(n). */
  private val repPctCaseSql: String =
    """CASE m.n WHEN 2 THEN 20 WHEN 3 THEN 18 WHEN 4 THEN 16
      |         WHEN 5 THEN 15 WHEN 6 THEN 14 WHEN 7 THEN 13
      |         WHEN 8 THEN 12 WHEN 9 THEN 11 ELSE 10 END""".stripMargin
  // NB: continuation lines must not begin with '||' — stripMargin eats
  // the first pipe and ships a bitwise-or to DuckDB
  private val piiSeededSql: String =
    """WITH seeded AS (
      |  SELECT doc_id, source, text ||
      |    CASE WHEN doc_id % 3 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR) ||
      |         '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.org' ELSE '' END ||
      |    CASE WHEN doc_id % 4 = 0 THEN ' ip 10.' || CAST(doc_id % 256 AS VARCHAR) ||
      |         '.' || CAST(doc_id % 100 AS VARCHAR) || '.1' ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') ||
      |         '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END AS text
      |  FROM documents)""".stripMargin
  /** Per-doc any-PII-hit bit over a `text` column — matrix face of the
    * scrub counts.
    */
  private lazy val piiAnyHitSql: String = {
    val e = piiRe(operators.TextOps.PiiEmailRe)
    val p = piiRe(operators.TextOps.PiiPhoneRe)
    val i = piiRe(operators.TextOps.PiiIpv4Re)
    s"""CASE WHEN len(regexp_extract_all(text, '$e'))
       |          + len(regexp_extract_all(text, '$p'))
       |          + len(regexp_extract_all(text, '$i')) > 0
       |     THEN 1 ELSE 0 END""".stripMargin
  }

  private val piiScrubColsSql: String = {
    val e = piiRe(operators.TextOps.PiiEmailRe)
    val p = piiRe(operators.TextOps.PiiPhoneRe)
    val i = piiRe(operators.TextOps.PiiIpv4Re)
    s"""CAST(len(regexp_extract_all(text, '$e')) AS BIGINT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS n_phones,
       |  CAST(len(regexp_extract_all(text, '$i')) AS BIGINT) AS n_ipv4,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$e', '<EMAIL>', 'g'), '$p', '<PHONE>', 'g'), '$i', '<IP>', 'g') AS masked""".stripMargin
  }

  /** CDC segmentation CTEs shared by `dedup_cdc_scrub` and
    * `pipeline_llm_corpus`: chunk frame `hs(doc_id, chunk_id,
    * chunk_text, h)` + df-banned hash set `banned(h)`.
    */
  private val cdcChunkCtes: String =
    """toks AS (
      |  SELECT doc_id, i, t[i] AS tok
      |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |       unnest(range(1, len(t) + 1)) u(i)),
      |b AS (SELECT doc_id, i, tok,
      |        CASE WHEN CAST(('0x' || substr(md5(tok), 1, 15)) AS UBIGINT) % 8 = 0
      |             THEN 1 ELSE 0 END AS f
      |      FROM toks),
      |c AS (SELECT doc_id, i, tok,
      |        COALESCE(SUM(f) OVER (PARTITION BY doc_id ORDER BY i
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
      |      FROM b),
      |ch AS (SELECT doc_id, chunk_id, string_agg(tok, ' ' ORDER BY i) AS chunk_text
      |       FROM c GROUP BY 1, 2),
      |hs AS (SELECT doc_id, chunk_id, chunk_text, md5(chunk_text) AS h FROM ch),
      |banned AS (SELECT h FROM hs GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3)""".stripMargin

  /** BM25 CTE chain ending in `scores(query_id, doc_id, score)` —
    * shared by the bm25, tfidf (core frames), and hybrid-RRF oracles.
    */
  private val bm25ScoreCtes: String =
    """toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
      |st AS (SELECT CAST(SUM(dl) AS BIGINT) AS ltot, count(*) AS n FROM dl),
      |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |q(query_id, qtext) AS (VALUES (0, 'hash join merge'), (1, 'stream window agg'),
      |                              (2, 'scan filter sort table')),
      |qt AS (SELECT DISTINCT query_id, unnest(string_split(qtext, ' ')) AS term FROM q),
      |ts AS (
      |  SELECT qt.query_id, tf.doc_id,
      |    CAST(floor(1000000.0 *
      |      ((2.0 * st.n - 2 * dfq.df + 1) / (2 * dfq.df + 1)) *
      |      ((44.0 * tf.tf * st.ltot) /
      |       (20.0 * tf.tf * st.ltot + 6.0 * st.ltot + 18.0 * dl.dl * st.n))) AS BIGINT) AS s
      |  FROM qt JOIN tf USING (term) JOIN dl USING (doc_id) JOIN dfq USING (term), st),
      |scores AS (SELECT query_id, doc_id, CAST(SUM(s) AS BIGINT) AS score FROM ts GROUP BY 1, 2)""".stripMargin

  /** The BM25 per-(term, doc) integer score with explicit table refs —
    * RM3's CTEs score two different driving frames (feedback-doc terms,
    * then the expanded query), so the formula is generated, not
    * repeated (mirrors Search.bm25S).
    */
  private def bm25SSql(tf: String, dl: String, df: String): String =
    s"""CAST(floor(1000000.0 *
       |      ((2.0 * st.n - 2 * $df + 1) / (2 * $df + 1)) *
       |      ((44.0 * $tf * st.ltot) /
       |       (20.0 * $tf * st.ltot + 6.0 * st.ltot + 18.0 * $dl * st.n))) AS BIGINT)""".stripMargin

  /** RM3 CTE chain over the shared BM25 core frames: feedback docs →
    * mined expansion pool (original terms excluded) → top-5 expansion
    * terms → 2:1-weighted expanded query → rescoring, ending in
    * `scores2(query_id, doc_id, score)`.
    */
  private lazy val rm3Ctes: String =
    s"""fb AS (
       |  SELECT query_id, doc_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
       |    FROM scores)
       |  WHERE rk <= 3),
       |mined AS (
       |  SELECT fb.query_id, tf.term,
       |    CAST(SUM(${bm25SSql("tf.tf", "dl.dl", "dfq.df")}) AS BIGINT) AS w
       |  FROM fb JOIN tf ON tf.doc_id = fb.doc_id
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  JOIN dfq ON dfq.term = tf.term, st
       |  WHERE NOT EXISTS (SELECT 1 FROM qt
       |                    WHERE qt.query_id = fb.query_id AND qt.term = tf.term)
       |  GROUP BY 1, 2),
       |etop AS (
       |  SELECT query_id, term FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY w DESC, term) AS rk
       |    FROM mined)
       |  WHERE rk <= 5),
       |wq AS (SELECT query_id, term, CAST(2 AS BIGINT) AS qw FROM qt
       |       UNION ALL
       |       SELECT query_id, term, CAST(1 AS BIGINT) AS qw FROM etop),
       |ts2 AS (
       |  SELECT wq.query_id, tf.doc_id,
       |    wq.qw * ${bm25SSql("tf.tf", "dl.dl", "dfq.df")} AS s
       |  FROM wq JOIN tf ON tf.term = wq.term
       |  JOIN dl ON dl.doc_id = tf.doc_id
       |  JOIN dfq ON dfq.term = tf.term, st),
       |scores2 AS (SELECT query_id, doc_id, CAST(SUM(s) AS BIGINT) AS score
       |            FROM ts2 GROUP BY 1, 2)""".stripMargin

  /** TF-IDF CTE chain over the shared core frames, ending in
    * `tscores(query_id, doc_id, score)`.
    */
  /** Rank lists + qrels shared by the retrieval-eval metric rows
    * (MRR/P@k and nDCG@k score the SAME run — the harness never
    * re-retrieves per metric, mirroring [[graft.operators.Search
    * .rankedStage]]).
    */
  private lazy val evalRankedCtes: String =
    s"""$bm25ScoreCtes,
       |$tfidfScoreCtes,
       |brank AS (SELECT query_id, doc_id, rk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
       |  FROM scores) WHERE rk <= 10),
       |trank AS (SELECT query_id, doc_id, rk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
       |  FROM tscores) WHERE rk <= 10),
       |fused AS (SELECT COALESCE(a.query_id, b.query_id) AS query_id,
       |                 COALESCE(a.doc_id, b.doc_id) AS doc_id,
       |                 COALESCE(1000000 // (60 + a.rk), 0)
       |                   + COALESCE(1000000 // (60 + b.rk), 0) AS rrf_score
       |          FROM brank a FULL JOIN trank b
       |            ON a.query_id = b.query_id AND a.doc_id = b.doc_id),
       |rrank AS (SELECT query_id, doc_id, rk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id) AS rk
       |  FROM fused) WHERE rk <= 10),
       |ranked AS (SELECT 'bm25' AS ranker, * FROM brank
       |           UNION ALL SELECT 'rrf', * FROM rrank
       |           UNION ALL SELECT 'tfidf', * FROM trank),
       |qn AS (SELECT query_id, count(*) AS n_terms FROM qt GROUP BY 1),
       |qrels AS (SELECT qt.query_id, tf.doc_id
       |          FROM qt JOIN tf USING (term) JOIN qn USING (query_id)
       |          WHERE tf.tf >= 3
       |          GROUP BY qt.query_id, tf.doc_id, qn.n_terms
       |          HAVING count(*) = qn.n_terms),
       |nrel AS (SELECT query_id, count(*) AS n_rel FROM qrels GROUP BY 1)""".stripMargin

  /** nDCG@k oracle: the discount and ideal-prefix tables enter as
    * integer VALUES literals generated from the SAME Scala array the
    * engine plan embeds ([[graft.operators.Search.ndcgDiscountsMicro]])
    * — the log never crosses engines.
    */
  private def ndcgSql(k: Int): String = {
    val disc = operators.Search.ndcgDiscountsMicro(k)
    val discRows = disc.zipWithIndex
      .map { case (d, i) => s"(${i + 1}, $d)" }.mkString(", ")
    val pfxRows = disc.scanLeft(0L)(_ + _).tail.zipWithIndex
      .map { case (p, i) => s"(${i + 1}, $p)" }.mkString(", ")
    s"""WITH $evalRankedCtes,
       |disc AS (SELECT * FROM (VALUES $discRows) t(rk, d)),
       |pfx AS (SELECT * FROM (VALUES $pfxRows) t(n, p)),
       |dcg AS (SELECT r.ranker, r.query_id, CAST(SUM(d.d) AS BIGINT) AS dcg
       |        FROM ranked r
       |        JOIN qrels qr ON r.query_id = qr.query_id AND r.doc_id = qr.doc_id
       |        JOIN disc d ON d.rk = r.rk
       |        GROUP BY 1, 2)
       |SELECT g.ranker AS ranker, CAST(g.query_id AS BIGINT) AS query_id,
       |       CAST(COALESCE(n.n_rel, 0) AS BIGINT) AS n_rel,
       |       CAST(COALESCE(c.dcg, 0) AS BIGINT) AS dcg_micro,
       |       CAST(COALESCE(p.p, 0) AS BIGINT) AS idcg_micro,
       |       CAST(CASE WHEN COALESCE(p.p, 0) > 0
       |            THEN (1000 * COALESCE(c.dcg, 0)) // p.p ELSE 0 END AS BIGINT)
       |         AS ndcg_permille
       |FROM (SELECT r.ranker, q.query_id
       |      FROM (VALUES ('bm25'), ('rrf'), ('tfidf')) r(ranker), q) g
       |LEFT JOIN nrel n ON n.query_id = g.query_id
       |LEFT JOIN pfx p ON p.n = LEAST(n.n_rel, $k)
       |LEFT JOIN dcg c ON c.ranker = g.ranker AND c.query_id = g.query_id
       |ORDER BY 1, 2""".stripMargin
  }

  private val tfidfScoreCtes: String =
    """stn AS (SELECT count(DISTINCT doc_id) AS n FROM tf),
      |idfv AS (SELECT dfq.term,
      |           CAST((2 * stn.n - 2 * dfq.df + 1) * 100 // (2 * dfq.df + 1) AS BIGINT) AS idfs
      |         FROM dfq, stn),
      |w AS (SELECT tf.doc_id, tf.term, CAST(tf.tf * idfv.idfs AS BIGINT) AS w
      |      FROM tf JOIN idfv USING (term)),
      |nd AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS norm2_d FROM w GROUP BY 1),
      |qw AS (SELECT qt.query_id, qt.term, idfv.idfs FROM qt JOIN idfv USING (term)),
      |nq AS (SELECT query_id, CAST(SUM(idfs * idfs) AS BIGINT) AS norm2_q FROM qw GROUP BY 1),
      |dotv AS (SELECT qw.query_id, w.doc_id, CAST(SUM(w.w * qw.idfs) AS BIGINT) AS dot
      |         FROM qw JOIN w USING (term) GROUP BY 1, 2),
      |tscores AS (SELECT d.query_id, d.doc_id,
      |    CAST(floor(1000000.0 * d.dot /
      |      (sqrt(CAST(nd.norm2_d AS DOUBLE)) * sqrt(CAST(nq.norm2_q AS DOUBLE)))) AS BIGINT) AS score
      |  FROM dotv d JOIN nd USING (doc_id) JOIN nq USING (query_id))""".stripMargin

  private val cdcScrubSql: String =
    s"""WITH $cdcChunkCtes,
       |tot AS (SELECT doc_id, count(*) AS n_chunks FROM hs GROUP BY 1),
       |kept AS (SELECT doc_id, count(*) AS n_kept,
       |           string_agg(chunk_text, ' ' ORDER BY chunk_id) AS clean_text
       |         FROM hs WHERE h NOT IN (SELECT h FROM banned) GROUP BY 1)
       |SELECT t.doc_id, t.n_chunks,
       |       t.n_chunks - COALESCE(k.n_kept, 0) AS n_removed,
       |       COALESCE(k.clean_text, '') AS clean_text
       |FROM tot t LEFT JOIN kept k USING (doc_id) ORDER BY t.doc_id""".stripMargin

  private val asofSql =
    """WITH u AS (
      |  SELECT user_id, ts, event_id, 1 AS is_left, NULL::BIGINT AS rv
      |  FROM events WHERE event_type = 'purchase'
      |  UNION ALL
      |  SELECT user_id, ts, event_id, 0, event_id
      |  FROM events WHERE event_type = 'view'),
      |w AS (SELECT *, last_value(rv IGNORE NULLS) OVER (PARTITION BY user_id
      |        ORDER BY ts, is_left, event_id ROWS UNBOUNDED PRECEDING) AS vw
      |      FROM u)
      |SELECT event_id AS purchase_id, user_id, ts, vw AS view_event_id
      |FROM w WHERE is_left = 1""".stripMargin

  private val q5Sql =
    s"""SELECT n_name, CAST(SUM($discPriceC) AS BIGINT) AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       |GROUP BY 1 ORDER BY revenue DESC, n_name""".stripMargin

  private lazy val ruleMatrixSql: String =
    s"""$piiSeededSql,
         |${repNgramCtes("seeded")},
         |q AS (SELECT doc_id,
         |    CAST(n_words >= 20 AND n_words <= 100000 AS BIGINT)
         |    * CAST(ns >= n_words * 3 AND ns <= n_words * 10 AS BIGINT)
         |    * CAST(alpha_words * 5 >= n_words * 4 AS BIGINT)
         |    * CAST(n_stops >= 2 AS BIGINT) AS q_pass
         |  FROM (SELECT doc_id,
         |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |          CAST(length(regexp_replace(text, ' ', '', 'g')) AS BIGINT) AS ns,
         |          CAST(len(list_filter(string_split(text, ' '),
         |            w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS alpha_words,
         |          CAST(list_contains(string_split(text, ' '), 'the') AS BIGINT)
         |            + CAST(list_contains(string_split(text, ' '), 'a') AS BIGINT)
         |            + CAST(list_contains(string_split(text, ' '), 'of') AS BIGINT)
         |            + CAST(list_contains(string_split(text, ' '), 'and') AS BIGINT)
         |            + CAST(list_contains(string_split(text, ' '), 'is') AS BIGINT)
         |            + CAST(list_contains(string_split(text, ' '), 'to') AS BIGINT)
         |            + CAST(list_contains(string_split(text, ' '), 'in') AS BIGINT) AS n_stops
         |        FROM seeded)),
         |rf AS (SELECT m.doc_id,
         |         SUM(CASE WHEN (CASE WHEN m.n <= 4 THEN m.topn ELSE m.dupn END) * 100 >
         |                  t.den * ($repPctCaseSql)
         |                  THEN 1 ELSE 0 END) AS n_fail
         |       FROM m JOIN t ON m.doc_id = t.doc_id GROUP BY 1),
         |pi AS (SELECT doc_id, $piiAnyHitSql AS pii_hit FROM seeded),
         |d AS (SELECT s.source, q.q_pass,
         |        CASE WHEN COALESCE(rf.n_fail, 0) = 0 THEN 1 ELSE 0 END AS rep_pass,
         |        pi.pii_hit
         |      FROM seeded s JOIN q ON s.doc_id = q.doc_id
         |           JOIN pi ON s.doc_id = pi.doc_id
         |           LEFT JOIN rf ON s.doc_id = rf.doc_id)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(1 - q_pass) AS BIGINT) AS n_fail_quality,
         |  CAST(SUM(1 - rep_pass) AS BIGINT) AS n_fail_repetition,
         |  CAST(SUM(pii_hit) AS BIGINT) AS n_pii_docs,
         |  CAST(SUM(q_pass * rep_pass * (1 - pii_hit)) AS BIGINT) AS n_clean
         |FROM d GROUP BY 1""".stripMargin

  /** Shared CTE chain for the trained-quality-classifier lanes: the C4
    * seeded text and pass bit (weak label), distinct whitespace tokens
    * over the newline-flattened text, top-512 vocab (count desc, token
    * asc), the add-one-smoothed ppm document-rate-difference weights,
    * the per-doc presence-sum score, and the histogram-calibrated
    * decision threshold — the exact integer mirror of
    * [[graft.operators.TextOps.classifierScoresOf]].
    */
  private lazy val classifierCtes: String =
    """cseeded AS (SELECT doc_id,
      |    text ||
      |    CASE WHEN doc_id % 3 = 0 THEN '.' WHEN doc_id % 3 = 1 THEN '!' ELSE '' END ||
      |    CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'report item ' || CAST(doc_id AS VARCHAR) || ' confirms the metric today.' ELSE '' END ||
      |    CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'short line.' ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'enable javascript to view item ' || CAST(doc_id AS VARCHAR) || ' now.' ELSE '' END ||
      |    CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet text.' ELSE '' END ||
      |    CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'config block { width = 10 } end.' ELSE '' END ||
      |    CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'badword1 appears in this line here.' ELSE '' END ||
      |    chr(10) || 'every page carries this closing line.'
      |    AS text
      |  FROM documents),
      |clab AS (SELECT doc_id, text,
      |    CAST(len(list_filter(string_split(text, chr(10)), l ->
      |        (ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?'))
      |        AND len(string_split(l, ' ')) >= 5
      |        AND NOT contains(l, 'javascript'))) >= 3
      |      AND NOT contains(text, 'lorem ipsum')
      |      AND NOT contains(text, '{')
      |      AND NOT (contains(text, 'badword1') OR contains(text, 'badword2'))
      |      AS BIGINT) AS label
      |  FROM cseeded),
      |ctok AS (SELECT doc_id, label,
      |    unnest(list_distinct(string_split(replace(text, chr(10), ' '), ' '))) AS token
      |  FROM clab),
      |cvocab AS (SELECT token FROM (
      |    SELECT token, count(*) AS n FROM ctok GROUP BY 1
      |    ORDER BY n DESC, token LIMIT 512)),
      |ccnt AS (SELECT t.token,
      |    CAST(SUM(t.label) AS BIGINT) AS df1,
      |    CAST(SUM(1 - t.label) AS BIGINT) AS df0
      |  FROM ctok t JOIN cvocab v USING (token) GROUP BY 1),
      |cdtot AS (SELECT CAST(SUM(label) AS BIGINT) AS d1,
      |    CAST(SUM(1 - label) AS BIGINT) AS d0 FROM clab),
      |cw AS (SELECT token,
      |    (df1 + 1) * 1000000 // (d1 + 2) - (df0 + 1) * 1000000 // (d0 + 2) AS w_ppm
      |  FROM ccnt, cdtot),
      |cagg AS (SELECT doc_id,
      |    CAST(SUM(w_ppm) AS BIGINT) AS tok_ppm,
      |    CAST(COUNT(*) AS BIGINT) AS nv
      |  FROM ctok JOIN cw USING (token) GROUP BY 1),
      |cscore AS (SELECT l.doc_id, l.label,
      |    COALESCE(a.nv, 0) AS n_vocab_tokens,
      |    COALESCE(a.tok_ppm, 0) AS score_ppm
      |  FROM clab l LEFT JOIN cagg a USING (doc_id)),
      |chist AS (SELECT (score_ppm + 1024000000) // 10000 AS bucket,
      |    CAST(SUM(label) AS BIGINT) AS n1,
      |    CAST(SUM(1 - label) AS BIGINT) AS n0
      |  FROM cscore GROUP BY 1
      |  UNION ALL
      |  SELECT MAX((score_ppm + 1024000000) // 10000) + 1, 0, 0 FROM cscore),
      |cthresh AS (SELECT bucket * 10000 - 1024000000 AS threshold_ppm FROM (
      |    SELECT bucket, SUM(n1) OVER w - SUM(n0) OVER w AS net
      |    FROM chist WINDOW w AS (ORDER BY bucket DESC ROWS UNBOUNDED PRECEDING))
      |  ORDER BY net DESC, bucket DESC LIMIT 1)""".stripMargin

  private val multimodalGeometrySql: String =
    """SELECT doc_id,
      |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |       ELSE 'video' END AS modality,
      |  CAST(CASE CAST(doc_id % 3 AS INT)
      |    WHEN 0 THEN 54 + ((n_chars % 64 + 4) * 3 + 3) // 4 * 4 * (n_chars % 48 + 4)
      |    WHEN 1 THEN 44 + 2 * (n_chars % 256 + 16)
      |    ELSE 16 + (n_chars % 32 + 4) * (n_chars % 24 + 4) * (n_chars % 30 + 1)
      |    END AS BIGINT) AS n_bytes,
      |  CAST(CASE CAST(doc_id % 3 AS INT)
      |    WHEN 0 THEN n_chars % 64 + 4 WHEN 1 THEN 0
      |    ELSE n_chars % 32 + 4 END AS BIGINT) AS width,
      |  CAST(CASE CAST(doc_id % 3 AS INT)
      |    WHEN 0 THEN n_chars % 48 + 4 WHEN 1 THEN 0
      |    ELSE n_chars % 24 + 4 END AS BIGINT) AS height,
      |  CAST(CASE CAST(doc_id % 3 AS INT)
      |    WHEN 0 THEN 1 WHEN 1 THEN 0
      |    ELSE n_chars % 30 + 1 END AS BIGINT) AS n_frames,
      |  CAST(CASE CAST(doc_id % 3 AS INT)
      |    WHEN 1 THEN 8000 + (n_chars % 8) * 1000 ELSE 0 END AS BIGINT) AS sample_rate
      |FROM documents""".stripMargin

  /** dHash perceptual-dedup oracle: re-derives every sampled pixel from
    * doc text — pixel (x, y, c) of the rendered BMP is
    * content[(y·rowSize + 3x + c) mod byteLen] (Multimodal.renderedImages
    * / MediaCodec.encodeBmp), the 9×8 luma grid is nearest-neighbor
    * integer sampling, and the 64-bit packing handles bit 63 explicitly
    * (DuckDB rejects 1<<63 on BIGINT; the signed value is identical to
    * the engine's `hash |= 1L << 63`). Bands and the Hamming verify
    * mirror the engine's 4×16-bit LSH exactly.
    */
  /** aHash acoustic-dedup oracle: re-derives every PCM sample from doc
    * text — sample i of the rendered WAV is (content[i mod len]-128)<<8
    * (Multimodal.renderedAudio), frame assignment is i·65/n in integer
    * arithmetic, frame energy compare is the exact cross-multiplication
    * (uniform <<8 scale cancels, so the oracle works on |ord-128|), and
    * empty frames (n < 65) compare as 0/1. Bit packing, bands and the
    * Hamming verify mirror [[mediaPhashSql]].
    */
  private val mediaAhashSql: String =
    """WITH auds AS (
      |  SELECT doc_id, text, (n_chars % 256 + 16) AS n, strlen(text) AS len
      |  FROM documents
      |  WHERE strlen(text) > 0 AND strlen(text) = length(text)),
      |fr AS (
      |  SELECT a.doc_id, (s.i * 65) // a.n AS k,
      |         SUM(abs(ord(substr(a.text, CAST(s.i % a.len + 1 AS BIGINT), 1)) - 128)) AS s,
      |         COUNT(*) AS c
      |  FROM auds a JOIN range(0, 272) s(i) ON s.i < a.n
      |  GROUP BY 1, 2),
      |fx AS (
      |  SELECT a.doc_id, f.k,
      |         COALESCE(fr.s, 0) AS s, GREATEST(COALESCE(fr.c, 0), 1) AS c
      |  FROM auds a CROSS JOIN range(0, 65) f(k)
      |  LEFT JOIN fr ON fr.doc_id = a.doc_id AND fr.k = f.k),
      |bits AS (
      |  SELECT a.doc_id, a.k AS b,
      |         CASE WHEN n.s * a.c > a.s * n.c THEN 1 ELSE 0 END AS bit
      |  FROM fx a JOIN fx n ON a.doc_id = n.doc_id AND n.k = a.k + 1
      |  WHERE a.k < 64),
      |ph AS (
      |  SELECT doc_id, CAST(SUM(CASE WHEN bit = 0 THEN 0
      |    WHEN b = 63 THEN -9223372036854775808
      |    ELSE (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) END) AS BIGINT) AS phash
      |  FROM bits GROUP BY 1),
      |bands AS (
      |  SELECT doc_id, b.b AS band_id,
      |         (phash >> CAST(b.b * 16 AS INTEGER)) & 65535 AS band_key
      |  FROM ph, range(0, 4) b(b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
      |  FROM bands a JOIN bands b2
      |    ON a.band_id = b2.band_id AND a.band_key = b2.band_key AND a.doc_id < b2.doc_id)
      |SELECT c.doc_a, c.doc_b,
      |       CAST(bit_count(xor(pa.phash, pb.phash)) AS BIGINT) AS hamming
      |FROM cand c JOIN ph pa ON c.doc_a = pa.doc_id JOIN ph pb ON c.doc_b = pb.doc_id
      |WHERE bit_count(xor(pa.phash, pb.phash)) <= 12
      |ORDER BY c.doc_a, c.doc_b""".stripMargin

  /** vHash temporal-dedup oracle: re-derives every volume byte from
    * doc text — data byte i of the rendered GRV0 clip is
    * content[i mod len] (Multimodal.renderedVideo /
    * MediaCodec.encodeRawVideo), the clip volume is n = w·h·f bytes
    * split into 65 equal chunks (chunk of byte i = i·65 // n), and bit
    * k compares the count-normalized chunk sums k+1 vs k — the
    * [[mediaAhashSql]] shape over pixel bytes (no |·−128|: gray8 is
    * unsigned energy). Bit packing, bands and the Hamming verify
    * mirror [[mediaPhashSql]].
    */
  private val mediaVhashSql: String =
    """WITH vids AS (
      |  SELECT doc_id, text,
      |         (n_chars % 32 + 4) * (n_chars % 24 + 4) * (n_chars % 30 + 1) AS n,
      |         strlen(text) AS len
      |  FROM documents
      |  WHERE strlen(text) > 0 AND strlen(text) = length(text)),
      |fr AS (
      |  SELECT v.doc_id, (s.i * 65) // v.n AS k,
      |         SUM(ord(substr(v.text, CAST(s.i % v.len + 1 AS BIGINT), 1))) AS s,
      |         COUNT(*) AS c
      |  FROM vids v JOIN range(0, 28350) s(i) ON s.i < v.n
      |  GROUP BY 1, 2),
      |fx AS (
      |  SELECT v.doc_id, f.k,
      |         COALESCE(fr.s, 0) AS s, GREATEST(COALESCE(fr.c, 0), 1) AS c
      |  FROM vids v CROSS JOIN range(0, 65) f(k)
      |  LEFT JOIN fr ON fr.doc_id = v.doc_id AND fr.k = f.k),
      |bits AS (
      |  SELECT a.doc_id, a.k AS b,
      |         CASE WHEN n.s * a.c > a.s * n.c THEN 1 ELSE 0 END AS bit
      |  FROM fx a JOIN fx n ON a.doc_id = n.doc_id AND n.k = a.k + 1
      |  WHERE a.k < 64),
      |ph AS (
      |  SELECT doc_id, CAST(SUM(CASE WHEN bit = 0 THEN 0
      |    WHEN b = 63 THEN -9223372036854775808
      |    ELSE (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) END) AS BIGINT) AS phash
      |  FROM bits GROUP BY 1),
      |bands AS (
      |  SELECT doc_id, b.b AS band_id,
      |         (phash >> CAST(b.b * 16 AS INTEGER)) & 65535 AS band_key
      |  FROM ph, range(0, 4) b(b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
      |  FROM bands a JOIN bands b2
      |    ON a.band_id = b2.band_id AND a.band_key = b2.band_key AND a.doc_id < b2.doc_id)
      |SELECT c.doc_a, c.doc_b,
      |       CAST(bit_count(xor(pa.phash, pb.phash)) AS BIGINT) AS hamming
      |FROM cand c JOIN ph pa ON c.doc_a = pa.doc_id JOIN ph pb ON c.doc_b = pb.doc_id
      |WHERE bit_count(xor(pa.phash, pb.phash)) <= 12
      |ORDER BY c.doc_a, c.doc_b""".stripMargin

  private val mediaPhashSql: String =
    """WITH imgs AS (
      |  SELECT doc_id, text,
      |         (n_chars % 64 + 4) AS w, (n_chars % 48 + 4) AS h,
      |         ((n_chars % 64 + 4) * 3 + 3) // 4 * 4 AS row_size,
      |         strlen(text) AS len
      |  FROM documents
      |  WHERE strlen(text) > 0 AND strlen(text) = length(text)),
      |lum AS (
      |  SELECT i.doc_id, g2.gy, g1.gx,
      |         SUM(ord(substr(i.text,
      |           CAST((((g2.gy * i.h) // 8) * i.row_size + ((g1.gx * i.w) // 9) * 3 + c.c)
      |                % i.len + 1 AS BIGINT), 1))) AS luma
      |  FROM imgs i, range(0, 9) g1(gx), range(0, 8) g2(gy), range(0, 3) c(c)
      |  GROUP BY 1, 2, 3),
      |bits AS (
      |  SELECT a.doc_id, (a.gy * 8 + a.gx) AS b,
      |         CASE WHEN n.luma > a.luma THEN 1 ELSE 0 END AS bit
      |  FROM lum a JOIN lum n ON a.doc_id = n.doc_id AND a.gy = n.gy AND n.gx = a.gx + 1
      |  WHERE a.gx < 8),
      |ph AS (
      |  SELECT doc_id, CAST(SUM(CASE WHEN bit = 0 THEN 0
      |    WHEN b = 63 THEN -9223372036854775808
      |    ELSE (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) END) AS BIGINT) AS phash
      |  FROM bits GROUP BY 1),
      |bands AS (
      |  SELECT doc_id, b.b AS band_id,
      |         (phash >> CAST(b.b * 16 AS INTEGER)) & 65535 AS band_key
      |  FROM ph, range(0, 4) b(b)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
      |  FROM bands a JOIN bands b2
      |    ON a.band_id = b2.band_id AND a.band_key = b2.band_key AND a.doc_id < b2.doc_id)
      |SELECT c.doc_a, c.doc_b,
      |       CAST(bit_count(xor(pa.phash, pb.phash)) AS BIGINT) AS hamming
      |FROM cand c JOIN ph pa ON c.doc_a = pa.doc_id JOIN ph pb ON c.doc_b = pb.doc_id
      |WHERE bit_count(xor(pa.phash, pb.phash)) <= 12
      |ORDER BY c.doc_a, c.doc_b""".stripMargin
}
