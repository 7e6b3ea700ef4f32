package graft

import graft.queries.{Analytics, CorpusQueries, LegacySql, RetailQueries}
import graft.Oracle.replay
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Query contract (SURVEY.md §7).
  *
  * `registry` holds one [[QueryDef]] per implemented SURVEY §2 operator
  * (plus the M8 training-data ops), each with the DuckDB-equivalent SQL
  * its output is hash-compared against at sf0.01; `queries` and
  * `oracleSql` are views over it. Column names/types are aligned on both
  * sides; see RetailQueries scaladoc for the determinism rules.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RetailQueries.funnelBySegment(spark, "/root/testdata/sf0.001")

  /** Every registered query once, with its oracle, in a fixed order.
    *
    * Literal oracles are DuckDB SQL over the same sf tables. Every
    * m-query is hash-checked: the trained/seeded-model ones are replayed
    * in DuckDB by inlining the model as literals — [[Oracle.Replay]]
    * entries render [[OracleModelSql]] over the model the query captured
    * (the quantizers, the PCA final pass, the tokenizer vocabularies
    * whose encode a recursive CTE replays in full, the classifier
    * weights), and the hyperplane/permutation CTEs below cover the seeded
    * hashes. Only the non-replayable INTERNALS (k-means/BPE/
    * power-iteration training loops, deflate) stay spec-pinned. */
  lazy val registry: Registry = Registry(
    QueryDef("q01_scan_project", RetailQueries.scanProject _,
      "SELECT event_id, user_id, event_type, value FROM events WHERE value > 50.0"),
    QueryDef("q02_fillna", RetailQueries.fillnaCoalesce _,
      "SELECT event_id, coalesce(nullif(event_type,'error'),'Unknown') AS etype FROM events"),
    QueryDef("q03_literal_stamp", RetailQueries.literalStamp _,
      "SELECT event_id, CAST(ts AS DATE) AS event_date, 'batch42' AS load_tag FROM events"),
    QueryDef("q04_filter_notnull", RetailQueries.filterNotNull _,
      "SELECT event_id, user_id, value FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL"),
    QueryDef("q05_case_when", RetailQueries.caseWhenRevenue _,
      ("SELECT event_id, CASE WHEN event_type='purchase' THEN value ELSE 0.0 END AS revenue, " +
        "CAST(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END AS BIGINT) AS is_purchase FROM events")),
    QueryDef("q06_fact_build", RetailQueries.factBuild _,
      ("SELECT CAST(ts AS DATE) AS event_date, event_type, user_id, count(*) AS total_events, " +
        "CAST(sum(CAST(CASE WHEN event_type='purchase' THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue " +
        "FROM events GROUP BY 1,2,3")),
    QueryDef("q07_daily_revenue", RetailQueries.dailyRevenue _,
      ("SELECT event_date, revenue, unique_users, purchases, carts, views, " +
        "carts / nullif(views,0) AS cart_rate, purchases / nullif(views,0) AS purchase_rate FROM (" +
        "SELECT CAST(ts AS DATE) AS event_date, " +
        "CAST(sum(CAST(CASE WHEN event_type='purchase' THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS revenue, " +
        "count(DISTINCT user_id) AS unique_users, " +
        "CAST(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases, " +
        "CAST(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS carts, " +
        "CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS views " +
        "FROM events GROUP BY 1) t")),
    QueryDef("q08_funnel_join", RetailQueries.funnelBySegment _,
      ("SELECT c_mktsegment, " +
        "CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS views, " +
        "CAST(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS carts, " +
        "CAST(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases, " +
        "CAST(sum(CAST(CASE WHEN event_type='purchase' THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
        "FROM events e JOIN customer c ON e.user_id = c.c_custkey GROUP BY 1")),
    QueryDef("q09_distinct", RetailQueries.distinctUsers _,
      "SELECT DISTINCT user_id, event_type FROM events"),
    QueryDef("q10_dedup_first", RetailQueries.dedupFirstPerPart _,
      ("SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate FROM (" +
        "SELECT l_partkey, l_orderkey, l_linenumber, l_shipdate, " +
        "row_number() OVER (PARTITION BY l_partkey ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn " +
        "FROM lineitem) t WHERE rn = 1")),
    QueryDef("q11_topk", RetailQueries.topUsersByRevenue _,
      ("SELECT user_id, revenue FROM (" +
        "SELECT user_id, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
        "FROM events WHERE event_type='purchase' GROUP BY 1) t " +
        "ORDER BY revenue DESC, user_id LIMIT 10")),
    QueryDef("q12_dim_date", RetailQueries.dimDate _,
      ("SELECT CAST(d AS DATE) AS date, CAST(EXTRACT(DAY FROM d) AS BIGINT) AS day, " +
        "CAST(EXTRACT(MONTH FROM d) AS BIGINT) AS month, CAST(EXTRACT(YEAR FROM d) AS BIGINT) AS year, " +
        "CAST(isodow(d) - 1 AS BIGINT) AS weekday, CAST(weekofyear(d) AS BIGINT) AS week " +
        "FROM (SELECT unnest(generate_series(DATE '2019-10-01', DATE '2020-03-31', INTERVAL 1 DAY)) AS d) t")),
    QueryDef("q13_split_hierarchy", RetailQueries.splitHierarchy _,
      ("SELECT p_partkey, coalesce(str_split(p_name,' ')[1],'na') AS category, " +
        "coalesce(str_split(p_name,' ')[2],'na') AS sub_category1, " +
        "coalesce(str_split(p_name,' ')[3],'na') AS sub_category2 FROM part")),
    QueryDef("q14_epoch_roundtrip", RetailQueries.epochRoundtrip _,
      "SELECT event_id, epoch_ms(ts) AS epoch_ms, epoch_ms(epoch_ms(ts)) AS ts_ms FROM events"),
    QueryDef("q15_isin", RetailQueries.isinFilter _,
      "SELECT event_id, event_type FROM events WHERE event_type IN ('view','click','purchase')"),
    QueryDef("q16_dropna", RetailQueries.dropnaKeys _,
      "SELECT event_id, user_id FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL"),
    QueryDef("q17_daily_counts", RetailQueries.dailyEventCounts _,
      "SELECT CAST(ts AS DATE) AS event_date, event_type, count(*) AS n FROM events GROUP BY 1,2 ORDER BY 1,2"),
    QueryDef("q18_head_sample", RetailQueries.headSample _,
      "SELECT event_id, user_id, event_type FROM events ORDER BY event_id LIMIT 1000"),
    QueryDef("q19_union_all", RetailQueries.unionAppend _,
      ("SELECT event_id, user_id FROM events WHERE event_type='view' " +
        "UNION ALL SELECT event_id, user_id FROM events WHERE event_type='purchase'")),
    QueryDef("q20_window_funcs", RetailQueries.windowPerUser _,
      ("SELECT event_id, user_id, CAST(row_number() OVER w AS BIGINT) AS rn, " +
        "lag(value,1) OVER w AS prev_value, lead(event_type,1) OVER w AS next_type, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)")),
    QueryDef("q21_rollup", RetailQueries.rollupCounts _,
      "SELECT event_type, count(*) AS n FROM events GROUP BY ROLLUP(event_type)"),
    QueryDef("q22_json_extract", RetailQueries.jsonExtract _,
      "SELECT event_id, CAST(json_extract_string(props,'$.k') AS BIGINT) AS k FROM events"),
    QueryDef("q23_semi_join", RetailQueries.semiJoinActive _,
      ("SELECT c_custkey, c_mktsegment FROM customer c WHERE EXISTS (" +
        "SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)")),
    QueryDef("q24_anti_join", RetailQueries.antiJoinInactive _,
      ("SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS (" +
        "SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)")),
    QueryDef("q25_outer_join", RetailQueries.outerJoinOrders _,
      ("SELECT c_custkey, coalesce(n_orders, 0) AS n_orders, coalesce(spend, 0.0) AS spend " +
        "FROM customer LEFT JOIN (SELECT o_custkey, count(*) AS n_orders, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend FROM orders GROUP BY 1) t " +
        "ON c_custkey = o_custkey")),
    QueryDef("q26_intersect", RetailQueries.setOpsUsers _,
      "SELECT user_id AS id FROM events INTERSECT SELECT c_custkey AS id FROM customer"),
    // Headline analytics (bench workload)
    QueryDef("q27_pricing_summary", Analytics.pricingSummary _,
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, " +
        "CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS sum_disc_price, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price, " +
        "count(*) AS count_order " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01' GROUP BY 1,2")),
    QueryDef("q28_top_orders", Analytics.topOrdersByRevenue _,
      ("SELECT o_orderkey, o_orderdate, o_orderpriority, " +
        "CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment='BUILDING' AND o_orderdate < TIMESTAMP '2000-01-01' AND l_shipdate > TIMESTAMP '1998-01-01' " +
        "GROUP BY 1,2,3 ORDER BY revenue DESC, o_orderkey LIMIT 10")),
    QueryDef("q29_region_revenue", Analytics.regionRevenue _,
      ("SELECT r_name, n_name, " +
        "CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS revenue, " +
        "count(*) AS n_items " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "GROUP BY 1,2")),
    QueryDef("q30_above_brand_avg", Analytics.aboveBrandAvg _,
      ("SELECT p_partkey, p.p_brand, p_retailprice FROM part p JOIN (" +
        "SELECT p_brand AS b_brand, CAST(sum(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)/count(*) AS avg_price " +
        "FROM part GROUP BY 1) b ON p.p_brand = b.b_brand WHERE p_retailprice > avg_price")),
    QueryDef("q31_scalar_funcs", RetailQueries.scalarFuncs _,
      ("SELECT o_orderkey, upper(o_orderstatus) AS status_u, " +
        "lower(o_orderpriority) AS prio_l, " +
        "substr(o_orderpriority, 1, 1) AS prio_code, " +
        "CAST(length(o_orderpriority) AS BIGINT) AS prio_len, " +
        "concat_ws('-', o_orderstatus, o_orderpriority) AS status_prio, " +
        "regexp_extract(o_orderpriority, '^([0-9]+)', 1) AS prio_num, " +
        "trim('  x  ') AS trimmed, " +
        "CAST(o_orderdate AS DATE) AS order_date, " +
        "CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT) AS days_to_2002, " +
        "CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus_2m, " +
        "date_trunc('month', o_orderdate) AS month_start, " +
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) / 100 AS price_h, " +
        "CAST(round(CAST(o_totalprice AS DECIMAL(18,2)), 1) AS DOUBLE) AS price_r1, " +
        "abs(o_totalprice - 200000.0) AS abs_diff, " +
        "CAST(floor(o_totalprice / 1000) AS BIGINT) AS price_k, " +
        "CAST(ceil(o_totalprice / 1000) AS BIGINT) AS price_k_up, " +
        "pow(2.0, o_orderkey % 10) AS pow2, " +
        "greatest(o_totalprice, 100000.0) AS floor_price, " +
        "least(o_totalprice, 400000.0) AS cap_price, " +
        "nullif(o_orderstatus, 'F') AS status_nullif " +
        "FROM orders")),
    QueryDef("q32_stats_agg", RetailQueries.statsAgg _,
      ("SELECT o_orderpriority, n, min_price, max_price, s1 / n AS avg_price, " +
        "round((s2 - s1 * s1 / n) / (n - 1), 2) AS var_price, " +
        "round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 4) AS sd_price, median_price FROM (" +
        "SELECT o_orderpriority, count(*) AS n, min(o_totalprice) AS min_price, " +
        "max(o_totalprice) AS max_price, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s1, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s2, " +
        "quantile_cont(o_totalprice, 0.5) AS median_price " +
        "FROM orders GROUP BY 1) t")),
    QueryDef("q33_pivot", RetailQueries.pivotDaily _,
      ("SELECT CAST(ts AS DATE) AS event_date, " +
        "CAST(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS click, " +
        "CAST(sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS error, " +
        "CAST(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase, " +
        "CAST(sum(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup, " +
        "CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS view " +
        "FROM events GROUP BY 1")),
    QueryDef("q34_string_agg", RetailQueries.stringAgg _,
      ("SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations, count(*) AS n " +
        "FROM nation JOIN region ON n_regionkey = r_regionkey GROUP BY 1")),
    QueryDef("q35_except", RetailQueries.exceptUsers _,
      "SELECT c_custkey AS id FROM customer EXCEPT SELECT user_id AS id FROM events"),
    QueryDef("q36_cube", RetailQueries.cubeCounts _,
      ("SELECT event_type, strftime(event_date, '%Y-%m-%d') AS event_date, n, g_type, g_date FROM (" +
        "SELECT event_type, CAST(ts AS DATE) AS event_date, count(*) AS n, " +
        "CAST(GROUPING(event_type) AS BIGINT) AS g_type, " +
        "CAST(GROUPING(CAST(ts AS DATE)) AS BIGINT) AS g_date " +
        "FROM events GROUP BY CUBE(event_type, CAST(ts AS DATE))) t")),
    QueryDef("q37_asof_join", RetailQueries.asofLastOrder _,
      ("SELECT e.event_id, e.user_id, e.ts, o.o_orderkey, o.o_orderdate FROM events e " +
        "ASOF LEFT JOIN (SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey " +
        "FROM orders GROUP BY 1,2) o " +
        "ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate")),
    QueryDef("q38_sessionize", RetailQueries.sessionizeBatch _,
      ("WITH t AS (SELECT user_id, event_id, ts, event_type, epoch_ms(ts) AS tms, " +
        "CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL " +
        "OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000 THEN 1 ELSE 0 END AS nw " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "s AS (SELECT user_id, ts, event_type, tms, CAST(sum(nw) OVER (" +
        "PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx FROM t) " +
        "SELECT user_id, session_idx, min(ts) AS session_start, max(ts) AS session_end, " +
        "count(*) AS n_events, " +
        "CAST(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases, " +
        "max(tms) - min(tms) AS duration_ms FROM s GROUP BY 1,2")),
    QueryDef("q39_corr_subquery", RetailQueries.correlatedAboveAvg _,
      ("SELECT o_orderkey, o_totalprice FROM orders o WHERE o_totalprice > 1.5 * (" +
        "SELECT CAST(sum(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) " +
        "FROM orders i WHERE i.o_custkey = o.o_custkey)")),
    // q40 is the CERTIFIED sketch query: exact n/users hash-checked, the
    // engine-specific estimates folded into error certificates the oracle
    // asserts TRUE. The raw estimates stay spec-pinned (SketchSpec over
    // RetailQueries.sketchEstimates).
    // q40: exact columns replayed independently; the sketch estimates are
    // engine-specific, so what the hash checks is the engine's error
    // CERTIFICATES (HLL within 3·rsd of the verified exact distinct;
    // quantile estimate's rank interval within 0.5 ± 2/accuracy) — the
    // oracle asserts them TRUE. A certificate that failed in the engine
    // would hash-mismatch here.
    QueryDef("q40_sketches", RetailQueries.sketchAggregates _,
      ("SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users, " +
        "TRUE AS users_ok, TRUE AS median_ok " +
        "FROM events GROUP BY 1")),
    QueryDef("q43_grouping_sets", RetailQueries.groupingSets _,
      ("SELECT event_type, strftime(event_date, '%Y-%m-%d') AS event_date, n, g_type, g_date FROM (" +
        "SELECT event_type, CAST(ts AS DATE) AS event_date, count(*) AS n, " +
        "CAST(GROUPING(event_type) AS BIGINT) AS g_type, " +
        "CAST(GROUPING(CAST(ts AS DATE)) AS BIGINT) AS g_date " +
        "FROM events GROUP BY GROUPING SETS ((event_type), (CAST(ts AS DATE)))) t")),
    QueryDef("q42_range_join", RetailQueries.rangeJoinBands _,
      ("SELECT event_id, band_id, value FROM events CROSS JOIN (" +
        "SELECT i AS band_id, i * 10.0 AS lo, i * 10.0 + 20.0 AS hi " +
        "FROM generate_series(0, 49) t(i)) b " +
        "WHERE value >= lo AND value < hi")),
    QueryDef("q41_range_window", RetailQueries.rangeWindow _,
      ("SELECT o_orderkey, o_custkey, " +
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (" +
        "PARTITION BY o_custkey ORDER BY o_totalprice " +
        "RANGE BETWEEN 50000.0 PRECEDING AND CURRENT ROW) AS DOUBLE) AS near_sum, " +
        "CAST(ntile(4) OVER w AS BIGINT) AS quartile, " +
        "percent_rank() OVER w AS pr " +
        "FROM orders " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)")),
    // S11/A7/F8 + the mart write path, pulled under the hash gate — see
    // queries/LegacySql.scala.
    // q44: the reference's two processed_user rows replayed as VALUES —
    // the Spark side's hash comes from a real CREATE/INSERT/SELECT.
    QueryDef("q44_legacy_users_sql", LegacySql.usersRoundTrip _,
      ("SELECT * FROM (VALUES " +
        "(CAST(1 AS BIGINT), 'John', 'Doe', 'jd@example.com', TIMESTAMP '2025-07-24 10:00:00'), " +
        "(CAST(2 AS BIGINT), 'Jane', 'Roe', 'jr@example.com', TIMESTAMP '2025-07-24 10:01:00')" +
        ") AS t(id, firstname, lastname, email, created_at)")),
    // q45: the 7-key staged rollup; product attrs via the part join with
    // the |part| modulus riding a scalar subquery (the Spark side's
    // broadcast 1-row frame), revenue through the decimal(18,2) bridge.
    QueryDef("q45_legacy_rollup", LegacySql.legacyFactRollup _,
      ("WITH staged AS (SELECT CAST(e.ts AS DATE) AS event_date, e.event_type, " +
        "e.event_id % np.np + 1 AS product_id, e.user_id, " +
        "CAST(e.user_id AS VARCHAR) || ':' || CAST(CAST(e.ts AS DATE) AS VARCHAR) AS user_session, " +
        "e.value AS price FROM events e CROSS JOIN (SELECT count(*) AS np FROM part) np) " +
        "SELECT event_date, event_type, product_id, CAST(p.p_size AS BIGINT) AS category_id, " +
        "p.p_brand AS brand, user_id, user_session, count(*) AS total_events, " +
        "CAST(sum(CAST(CASE WHEN event_type = 'purchase' THEN price ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue " +
        "FROM staged s JOIN part p ON s.product_id = p.p_partkey " +
        "GROUP BY 1, 2, 3, 4, 5, 6, 7")),
    // q46: the house seeded-id convention — md5(seed:i) mod N, the same
    // first-48-bits-of-md5 primitive as the gate's row hashes.
    QueryDef("q46_seeded_ids", ((s, dir) => LegacySql.seededIds(s, dir)),
      ("SELECT CAST(n AS BIGINT) AS n, " +
        "('0x' || substr(md5('7:' || CAST(n AS VARCHAR)), 1, 12))::BIGINT % 10000 AS user_id " +
        "FROM generate_series(0, 999) t(n)")),
    // q47: the mart read-back must equal the aggregate computed straight
    // from the raw events — the write/register/recover lineage is on the
    // Spark side only.
    QueryDef("q47_mart_roundtrip", LegacySql.martRoundTrip _,
      ("SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum, " +
        "'2024-01-15' AS dt FROM events " +
        "WHERE CAST(ts AS DATE) = DATE '2024-01-15' GROUP BY 1")),
    QueryDef("m16_chunking", CorpusQueries.chunkDocuments _,
      ("WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t FROM documents) " +
        "SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx, " +
        "array_to_string(list_slice(t, i*40 + 1, i*40 + 50), ' ') AS chunk_text, " +
        "CAST(len(list_slice(t, i*40 + 1, i*40 + 50)) AS BIGINT) AS n_tokens " +
        "FROM (SELECT doc_id, t, unnest(generate_series(0, " +
        "CAST(floor((len(t) - 1) / 40) AS INT))) AS i FROM toks) x")),
    QueryDef("m14_gram_index_jaccard", CorpusQueries.gramIndexJaccard _,
      (AugmentedDocs + gramPairCtes("aug") +
        "SELECT doc_a, doc_b, jaccard FROM pairs WHERE jaccard >= 0.6")),
    // m113: asymmetric Broder containment — quotes/excerpts score ~1.0
    // in the contained direction where symmetric Jaccard is blind
    // m113: the m14 chain over the quote-augmented corpus, asymmetric
    // containment scores instead of the symmetric jaccard
    QueryDef("m113_containment_pairs", CorpusQueries.containmentPairs _,
      ("WITH aug AS (SELECT * FROM documents " +
        s"UNION ALL SELECT doc_id + ${2 * SynthOff}, text, lang, source, n_chars FROM documents WHERE doc_id < 50 " +
        s"UNION ALL SELECT doc_id + $SynthOff, 'zz' || substr(text, 3), lang, source, n_chars " +
        "FROM documents WHERE doc_id < 50 " +
        s"UNION ALL SELECT doc_id + ${4 * SynthOff}, " +
        "array_to_string(list_slice(string_split_regex(lower(trim(text)), ' +'), 1, 15), ' '), " +
        "lang, source, n_chars FROM documents WHERE doc_id < 25) " +
        gramPairCtes("aug") +
        "SELECT doc_a, doc_b, sa.n AS n_a, sb.n AS n_b, CAST(shared AS BIGINT) AS shared, " +
        "CAST(shared AS DOUBLE) / sa.n AS containment_a, " +
        "CAST(shared AS DOUBLE) / sb.n AS containment_b " +
        "FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b " +
        "WHERE greatest(CAST(shared AS DOUBLE) / sa.n, CAST(shared AS DOUBLE) / sb.n) >= 0.8")),
    // m85: banded-minhash recall vs the exact inverted-index reference,
    // per jaccard band — both chains replayed in the oracle (gramPairCtes
    // truth + a nested-WITH m05 detect side).
    // m85: truth = the m14 inverted-index chain at θ=0.5; detected = the
    // m05 minhash chain, nested in a sub-WITH (its CTE names shadow the
    // outer gram chain's — the dummy z0 head lets the shared fragment's
    // leading comma continue the inner WITH).
    QueryDef("m85_lsh_recall", CorpusQueries.lshRecallAudit _,
      (AugmentedDocs + gramPairCtes("aug") +
        ", det AS (WITH z0 AS (SELECT 1)" + MinhashCandCtes +
        ", nsz AS (SELECT doc_id, count(*) AS n FROM shx GROUP BY 1), " +
        "minter AS (SELECT c.doc_a, c.doc_b, count(*) AS shared FROM cand c " +
        "JOIN shx a ON a.doc_id = c.doc_a " +
        "JOIN shx b ON b.doc_id = c.doc_b AND a.x = b.x GROUP BY 1, 2) " +
        "SELECT doc_a, doc_b FROM minter " +
        "JOIN nsz na ON na.doc_id = doc_a JOIN nsz nb ON nb.doc_id = doc_b " +
        "WHERE CAST(shared AS DOUBLE) / (na.n + nb.n - shared) >= 0.5), " +
        "audit AS (SELECT least(floor(p.jaccard * 10.0) / 10.0, 0.9) AS band, " +
        "CASE WHEN d.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit " +
        "FROM pairs p LEFT JOIN det d ON d.doc_a = p.doc_a AND d.doc_b = p.doc_b " +
        "WHERE p.jaccard >= 0.5) " +
        "SELECT band, count(*) AS n_truth, CAST(sum(hit) AS BIGINT) AS n_hit, " +
        "CAST(sum(hit) AS DOUBLE) / count(*) AS recall FROM audit GROUP BY band")),
    // m86: the learned gate's operating curve — captured-weights replay
    // over the exactly-representable threshold grid
    // (OracleModelSql.classifierRoc).
    QueryDef("m86_classifier_roc", CorpusQueries.classifierRoc _,
      replay(CorpusQueries.classifierRocWeights)(OracleModelSql.classifierRoc)),
    // m99: LSH candidate PRECISION audit — m85's other half: exact
    // jaccard of every stored candidate, banded, with the cumulative
    // precision-at-threshold curve the verify stage is budgeted from
    // m99: every stored LSH candidate exactly verified (m05's shingle
    // jaccard, LEFT-joined so zero-overlap candidates band at 0.0) and
    // banded; the cumulative window is the precision-at-threshold curve.
    QueryDef("m99_lsh_precision", CorpusQueries.lshPrecisionAudit _,
      (AugmentedDocs + MinhashCandCtes +
        ", nsz AS (SELECT doc_id, count(*) AS n FROM shx GROUP BY 1), " +
        "inter AS (SELECT c.doc_a, c.doc_b, count(*) AS shared FROM cand c " +
        "JOIN shx a ON a.doc_id = c.doc_a " +
        "JOIN shx b ON b.doc_id = c.doc_b AND a.x = b.x GROUP BY 1, 2), " +
        "jc AS (SELECT c.doc_a, c.doc_b, " +
        "CAST(coalesce(i.shared, 0) AS DOUBLE) / (na.n + nb.n - coalesce(i.shared, 0)) AS jaccard " +
        "FROM cand c LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b " +
        "JOIN nsz na ON na.doc_id = c.doc_a JOIN nsz nb ON nb.doc_id = c.doc_b), " +
        "bd AS (SELECT least(floor(jaccard * 10.0) / 10.0, 0.9) AS band, " +
        "CAST(count(*) AS BIGINT) AS n_cand FROM jc GROUP BY 1), " +
        "t AS (SELECT sum(n_cand) AS n_total FROM bd) " +
        "SELECT band, n_cand, CAST(n_cand AS DOUBLE) / n_total AS frac_cand, " +
        "CAST(sum(n_cand) OVER (ORDER BY band DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_ge, " +
        "CAST(sum(n_cand) OVER (ORDER BY band DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / n_total AS prec_at_band " +
        "FROM bd CROSS JOIN t")),
    // m100: UniMax waterfilling budget allocation (Chung et al. 2023) —
    // uniform-as-possible token budget across sources under an epoch cap
    // m100: the waterfill replayed with the identical window walk —
    // capacities sorted ascending, prefix-contributions, the first
    // non-saturated level as τ (max over the decreasing tail).
    QueryDef("m100_unimax_mix", CorpusQueries.unimaxMix _,
      ("WITH sz AS (SELECT 'src_' || CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR) AS source, " +
        "CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(len(string_split_regex(lower(trim(text)), ' +'))) AS BIGINT) AS n_tokens " +
        "FROM documents WHERE text IS NOT NULL GROUP BY 1), " +
        "t AS (SELECT CAST(floor(CAST(sum(n_tokens) AS DOUBLE) * 0.8) AS BIGINT) AS budget, " +
        "CAST(count(*) AS BIGINT) AS k FROM sz), " +
        "r AS (SELECT sz.source, sz.n_docs, sz.n_tokens, " +
        "CAST(n_tokens AS DOUBLE) * 2.0 AS capacity, t.budget, t.k, " +
        "row_number() OVER (ORDER BY CAST(n_tokens AS DOUBLE) * 2.0, source) AS idx, " +
        "coalesce(sum(CAST(n_tokens AS DOUBLE) * 2.0) OVER (ORDER BY CAST(n_tokens AS DOUBLE) * 2.0, source " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS prefix " +
        "FROM sz CROSS JOIN t), " +
        "lv AS (SELECT *, CAST(capacity <= (budget - prefix) / CAST(k - idx + 1 AS DOUBLE) AS BIGINT) AS saturated, " +
        "(budget - prefix) / CAST(k - idx + 1 AS DOUBLE) AS level FROM r), " +
        "tau AS (SELECT max(CASE WHEN saturated = 0 THEN level END) AS tau FROM lv) " +
        "SELECT source, n_docs, n_tokens, capacity, budget, saturated, " +
        "CASE WHEN saturated = 1 THEN capacity ELSE coalesce(tau, capacity) END AS alloc, " +
        "(CASE WHEN saturated = 1 THEN capacity ELSE coalesce(tau, capacity) END) / CAST(n_tokens AS DOUBLE) AS epochs " +
        "FROM lv CROSS JOIN tau")),
    // m110: temperature mixing (p ∝ n^α, α = 0.3) on the SAME skewed
    // sizes as m100 — exponent-based smoothing next to the epoch-cap
    // waterfill
    // m110: same sizes CTE as m100; the double chain replays Spark's
    // fixed operand order (weight = pow/denom, alloc = budget·weight,
    // epochs = alloc/n); denominator ordering differences vanish under
    // the 6-dp canonicalization
    QueryDef("m110_alpha_mix_weights", CorpusQueries.alphaMixWeights _,
      ("WITH sz AS (SELECT 'src_' || CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR) AS source, " +
        "CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(len(string_split_regex(lower(trim(text)), ' +'))) AS BIGINT) AS n_tokens " +
        "FROM documents WHERE text IS NOT NULL GROUP BY 1), " +
        "p AS (SELECT *, pow(CAST(n_tokens AS DOUBLE), 0.3) AS pw FROM sz), " +
        "t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS itot, sum(pw) AS denom, " +
        "CAST(floor(CAST(sum(n_tokens) AS DOUBLE) * 0.8) AS BIGINT) AS budget FROM p) " +
        "SELECT source, n_docs, n_tokens, " +
        "CASE WHEN itot > 0 THEN CAST(n_tokens AS DOUBLE) / CAST(itot AS DOUBLE) END AS p_raw, " +
        "CASE WHEN denom > 0.0 THEN pw / denom END AS weight, budget, " +
        "CASE WHEN denom > 0.0 THEN CAST(budget AS DOUBLE) * (pw / denom) END AS alloc_tokens, " +
        "CASE WHEN n_tokens = 0 THEN NULL ELSE " +
        "(CAST(budget AS DOUBLE) * (pw / denom)) / CAST(n_tokens AS DOUBLE) END AS epochs " +
        "FROM p CROSS JOIN t")),
    // m114: priority sampling (Duffield–Lund–Thorup) — k docs drawn
    // ∝ char mass with the unbiased max(w, τ) subset-sum estimator;
    // IEEE-exact arithmetic only, so priorities replay bit-for-bit
    // m114: priority sample — the q expression is PrioritySample
    // .oracleQExpr (kept adjacent to the Spark formula); rn = 101 is the
    // runner-up whose priority is the DLT threshold τ, coalesced to 0
    // when the corpus has ≤ k docs (estimator exact in that regime)
    QueryDef("m114_priority_sample", CorpusQueries.prioritySample _,
      ("WITH keyed AS (SELECT doc_id, " +
        "CAST(greatest(length(text), 1) AS BIGINT) AS weight, " +
        graft.operators.PrioritySample.oracleQExpr(
          "doc_id", "greatest(length(text), 1)") + " AS priority " +
        "FROM documents WHERE text IS NOT NULL), " +
        "ranked AS (SELECT *, row_number() OVER (ORDER BY priority DESC, doc_id) AS rn FROM keyed), " +
        "tau AS (SELECT coalesce(max(CASE WHEN rn = 101 THEN priority END), 0.0) AS tau " +
        "FROM ranked WHERE rn <= 101) " +
        "SELECT doc_id, weight, priority, " +
        "greatest(CAST(weight AS DOUBLE), tau) AS est_weight " +
        "FROM ranked CROSS JOIN tau WHERE rn <= 100")),
    // m115: Neyman allocation — minimum-variance audit sample sizes
    // n_h ∝ N_h·σ_h from exact decimal Σx/Σx² (no double accumulation)
    // m115: exact HUGEINT sums mirror Spark's decimal aggregates; the
    // σ projection replays the fixed operand order (√(Σx²/n − (Σx/n)²));
    // the denominator is a plain sum over the stratum-bounded frame (the
    // m110 convention — ulp association differences vanish at 6 dp)
    QueryDef("m115_neyman_alloc", CorpusQueries.neymanAlloc _,
      ("WITH st AS (SELECT 'src_' || CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR) AS source, " +
        "CAST(count(*) AS BIGINT) AS n_docs, " +
        "sum(CAST(length(text) AS HUGEINT)) AS sx, " +
        "sum(CAST(length(text) AS HUGEINT) * CAST(length(text) AS HUGEINT)) AS sx2 " +
        "FROM documents WHERE text IS NOT NULL GROUP BY 1), " +
        "s2 AS (SELECT source, n_docs, " +
        "CAST(sx AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_x, " +
        "sqrt(greatest(CAST(sx2 AS DOUBLE) / CAST(n_docs AS DOUBLE) - " +
        "(CAST(sx AS DOUBLE) / CAST(n_docs AS DOUBLE)) * (CAST(sx AS DOUBLE) / CAST(n_docs AS DOUBLE)), 0.0)) AS sigma " +
        "FROM st), " +
        "w AS (SELECT *, CAST(n_docs AS DOUBLE) * sigma AS w FROM s2), " +
        "d AS (SELECT sum(w) AS denom FROM w) " +
        "SELECT source, n_docs, mean_x, sigma, " +
        "CASE WHEN denom > 0 THEN w / denom END AS share, " +
        "CASE WHEN denom > 0 THEN least(100.0 * (w / denom), CAST(n_docs AS DOUBLE)) END AS alloc_docs " +
        "FROM w CROSS JOIN d")),
    // m116: per-group token-distribution drift — KL(P_lang ‖ P_corpus)
    // in bits over the corpus top-256 vocabulary + tail bucket (the
    // scale-bounded counterpart of m55's full-vocab KL); the
    // transcendental fold runs only on the rank-sorted bounded array
    // m116: vocabulary tie-broken on (count DESC, token) — no engine
    // hash in the selection, so the sets match exactly; the KL fold
    // replays Spark's bucket-sorted left fold (log2 ulp differences
    // vanish under the 6-dp canonicalization, the m43/m76 convention)
    QueryDef("m116_bounded_kl_drift", CorpusQueries.boundedKlDrift _,
      ("WITH toks AS (SELECT lang AS source, " +
        "unnest(string_split_regex(lower(trim(text)), ' +')) AS tok " +
        "FROM documents WHERE text IS NOT NULL), " +
        "tk AS (SELECT source, tok FROM toks WHERE length(tok) > 0), " +
        "counts AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY 1, 2), " +
        "tokTot AS (SELECT tok, CAST(sum(c) AS BIGINT) AS ct FROM counts GROUP BY 1), " +
        "topv AS (SELECT tok, ct, row_number() OVER (ORDER BY ct DESC, tok) AS rank " +
        "FROM tokTot ORDER BY ct DESC, tok LIMIT 256), " +
        "tot AS (SELECT CAST(sum(ct) AS BIGINT) AS n_corpus FROM tokTot), " +
        "vtot AS (SELECT CAST(sum(ct) AS BIGINT) AS ct_vocab FROM topv), " +
        "bucketed AS (SELECT c.source, CAST(coalesce(v.rank, 257) AS INT) AS bucket, " +
        "CAST(sum(c.c) AS BIGINT) AS c, max(v.ct) AS ct " +
        "FROM counts c LEFT JOIN topv v ON c.tok = v.tok GROUP BY 1, 2), " +
        "b2 AS (SELECT source, bucket, c, " +
        "CASE WHEN bucket = 257 THEN (SELECT n_corpus FROM tot) - (SELECT ct_vocab FROM vtot) " +
        "ELSE ct END AS cb FROM bucketed), " +
        "persrc AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, " +
        "CAST(coalesce(sum(CASE WHEN bucket = 257 THEN c END), 0) AS BIGINT) AS c_other, " +
        "list_sort(list(struct_pack(bucket := bucket, c := c, cb := cb))) AS bs " +
        "FROM b2 GROUP BY 1) " +
        "SELECT source, n_tokens, " +
        "CAST(c_other AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS other_frac, " +
        "list_reduce(list_prepend(0.0, list_transform(bs, x -> " +
        "(CAST(x.c AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * " +
        "log2((CAST(x.c AS DOUBLE) / CAST(n_tokens AS DOUBLE)) / " +
        "(CAST(x.cb AS DOUBLE) / CAST(n_corpus AS DOUBLE))))), " +
        "(a, x) -> a + x) AS kl_bits " +
        "FROM persrc CROSS JOIN tot")),
    // m117: DoReMi one-step domain reweighting — α ∝ exp(η·excess loss)
    // under the corpus bigram LM, smoothed with uniform; per-doc loss
    // quantized to a long (the m89 floor·1e6 move) so domain pools are
    // exact-integer, the MW normalizer folds over the K-row sorted list
    // m117: the m43 LM chain, per-doc loss quantized by the m89
    // floor·1e6 move BEFORE the domain pools (exact BIGINT sums), the
    // MW normalizer folded over the domain-sorted K-row list (the m110
    // discipline); exp/ln ulp differences vanish at the 6-dp gate
    QueryDef("m117_doremi_weights", CorpusQueries.doremiWeights _,
      (LmPerplexityCtes +
        ", pd AS (SELECT h.doc_id, d.lang AS domain, h.n_bigrams, " +
        "CAST(floor(cross_entropy * CAST(h.n_bigrams AS DOUBLE) * 1000000.0) AS BIGINT) AS q " +
        "FROM h JOIN documents d USING (doc_id)), " +
        "dom AS (SELECT domain, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(n_bigrams) AS BIGINT) AS n_bigrams, CAST(sum(q) AS BIGINT) AS lq " +
        "FROM pd GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(n_bigrams) AS BIGINT) AS tb, " +
        "CAST(sum(lq) AS BIGINT) AS tq, CAST(count(*) AS BIGINT) AS k FROM dom), " +
        "e AS (SELECT domain, n_docs, n_bigrams, k, " +
        "(CAST(lq AS DOUBLE) / 1000000.0) / CAST(n_bigrams AS DOUBLE) AS ce, " +
        "greatest(0.0, (CAST(lq AS DOUBLE) / 1000000.0) / CAST(n_bigrams AS DOUBLE) " +
        "- (CAST(tq AS DOUBLE) / 1000000.0) / CAST(tb AS DOUBLE)) AS excess " +
        "FROM dom CROSS JOIN tot), " +
        "den AS (SELECT list_reduce(list_prepend(0.0, list_transform(" +
        "list_sort(list(struct_pack(domain := domain, w := exp(1.0 * excess)))), " +
        "x -> x.w)), (a, x) -> a + x) AS denom FROM e) " +
        "SELECT domain, n_docs, n_bigrams, ce, excess, " +
        "0.99 * (exp(1.0 * excess) / denom) + 0.01 / CAST(k AS DOUBLE) AS weight " +
        "FROM e CROSS JOIN den")),
    // m118: Dawid–Skene gate fusion — majority init + ONE EM step over
    // the m101 gate votes; confusion estimates from exact counts, the
    // per-doc posterior a fixed-order product (captured-weights replay,
    // OracleModelSql.dawidSkene)
    QueryDef("m118_dawid_skene", CorpusQueries.dawidSkene _,
      replay(CorpusQueries.dawidSkeneWeights)(OracleModelSql.dawidSkene)),
    QueryDef("m09_ann_lsh", CorpusQueries.annLsh _, AnnLshSql),
    QueryDef("m12_ann_ivf", CorpusQueries.annIvf _,
      replay(CorpusQueries.annIvfModel)(OracleModelSql.ivfTopK(_, 5, 4))),
    QueryDef("m10_embed_neardup", CorpusQueries.embeddingNearDups _, EmbedNearDupSql),
    QueryDef("m06_simhash_pairs", CorpusQueries.simhashPairs _, SimhashSql),
    QueryDef("m05_minhash_pairs", CorpusQueries.minhashPairs _,
      (AugmentedDocs + MinhashCandCtes +
        ", nsz AS (SELECT doc_id, count(*) AS n FROM shx GROUP BY 1), " +
        "inter AS (SELECT c.doc_a, c.doc_b, count(*) AS shared FROM cand c " +
        "JOIN shx a ON a.doc_id = c.doc_a " +
        "JOIN shx b ON b.doc_id = c.doc_b AND a.x = b.x GROUP BY 1, 2) " +
        "SELECT doc_a, doc_b, CAST(shared AS DOUBLE) / (na.n + nb.n - shared) AS jaccard " +
        "FROM inter JOIN nsz na ON na.doc_id = doc_a JOIN nsz nb ON nb.doc_id = doc_b " +
        "WHERE CAST(shared AS DOUBLE) / (na.n + nb.n - shared) >= 0.5")),
    QueryDef("m07_ngram_jaccard", CorpusQueries.ngramJaccardPairs _,
      (AugmentedDocs + MinhashCandCtes +
        ", lt AS (SELECT doc_id, lower(text) AS s FROM aug WHERE text IS NOT NULL), " +
        "cg AS (SELECT DISTINCT doc_id, g FROM (SELECT doc_id, unnest(" +
        "CASE WHEN length(s) <= 3 THEN [s] " +
        "ELSE list_transform(generate_series(1, length(s) - 2), i -> substr(s, i, 3)) END) AS g FROM lt)), " +
        "cgn AS (SELECT doc_id, count(*) AS n FROM cg GROUP BY 1), " +
        "cinter AS (SELECT c.doc_a, c.doc_b, count(*) AS shared FROM cand c " +
        "JOIN cg a ON a.doc_id = c.doc_a " +
        "JOIN cg b ON b.doc_id = c.doc_b AND a.g = b.g GROUP BY 1, 2) " +
        "SELECT doc_a, doc_b, CAST(shared AS DOUBLE) / (na.n + nb.n - shared) AS jaccard " +
        "FROM cinter JOIN cgn na ON na.doc_id = doc_a JOIN cgn nb ON nb.doc_id = doc_b " +
        "WHERE CAST(shared AS DOUBLE) / (na.n + nb.n - shared) >= 0.6")),
    QueryDef("m17_dedup_clusters", CorpusQueries.dedupClusters _,
      ("WITH RECURSIVE " + AugmentedDocsBody + gramPairCtes("aug") + ClusterCtes +
        "SELECT src AS doc_id, least(src, min(dst)) AS cluster_id " +
        "FROM reach GROUP BY src")),
    QueryDef("m18_corpus_pipeline", CorpusQueries.corpusPipeline _,
      ("WITH RECURSIVE " + AugmentedDocsBody + ", " + textStatsBaseOver("aug") +
        ", gated AS (SELECT doc_id, text FROM base WHERE " + LangExpr + " = 'en' " +
        "AND " + QualityExpr + " >= 0.3), " +
        "exact AS (SELECT doc_id, text FROM gated WHERE doc_id IN (" +
        "SELECT min(doc_id) FROM gated GROUP BY md5(text)))" +
        gramPairCtes("exact") + ClusterCtes +
        ", clusters AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id " +
        "FROM reach GROUP BY src), " +
        "canon AS (SELECT e.doc_id, e.text FROM exact e WHERE e.doc_id NOT IN (" +
        "SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)), " +
        "ctoks AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t FROM canon) " +
        "SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx, " +
        "array_to_string(list_slice(t, i*40 + 1, i*40 + 50), ' ') AS chunk_text, " +
        "CAST(len(list_slice(t, i*40 + 1, i*40 + 50)) AS BIGINT) AS n_tokens " +
        "FROM (SELECT doc_id, t, unnest(generate_series(0, " +
        "CAST(floor((len(t) - 1) / 40) AS INT))) AS i FROM ctoks) x")),
    QueryDef("m30_cdc_chunking", CorpusQueries.cdcChunkDocuments _,
      ("WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t " +
        "FROM documents WHERE text IS NOT NULL AND trim(text) <> ''), " +
        "w AS (SELECT doc_id, unnest(t) AS tok, unnest(range(1, len(t)+1)) AS ord FROM toks), " +
        "f AS (SELECT doc_id, tok, ord, CASE WHEN ord > 1 AND substr(md5(tok), 1, 1) IN ('0','1') " +
        "THEN 1 ELSE 0 END AS b FROM w), " +
        "c AS (SELECT doc_id, tok, ord, sum(b) OVER (PARTITION BY doc_id ORDER BY ord) AS chunk_idx FROM f) " +
        "SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx, " +
        "string_agg(tok, ' ' ORDER BY ord) AS chunk_text, count(*) AS n_tokens " +
        "FROM c GROUP BY doc_id, chunk_idx")),
    QueryDef("m29_incremental_dedup", CorpusQueries.incrementalDedup _,
      ("WITH seen AS (SELECT DISTINCT md5(text) AS fingerprint FROM documents WHERE doc_id < 400), " +
        "delta AS (SELECT doc_id, text FROM documents WHERE doc_id >= 400 " +
        s"UNION ALL SELECT doc_id + ${3 * SynthOff}, text FROM documents WHERE doc_id < 30), " +
        "dd AS (SELECT doc_id, md5(text) AS fingerprint FROM delta " +
        "WHERE doc_id IN (SELECT min(doc_id) FROM delta GROUP BY md5(text))) " +
        "SELECT d.doc_id, d.fingerprint FROM dd d LEFT JOIN seen s USING (fingerprint) " +
        "WHERE s.fingerprint IS NULL")),
    QueryDef("m28_corpus_pipeline_v2", CorpusQueries.corpusPipelineV2 _,
      ("WITH RECURSIVE " + AugmentedDocsBody +
        ", augpii AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) ||" +
        "'@mail.example.com from 10.1.' || CAST(doc_id % 256 AS VARCHAR) || " +
        "'.7 call +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text " +
        "FROM aug WHERE text IS NOT NULL), " +
        textStatsBaseOver("augpii") +
        ", gated AS (SELECT doc_id, text FROM base WHERE " + LangExpr + " = 'en' " +
        "AND " + QualityExpr + " >= 0.3), " +
        "scrub AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'), " +
        "'\\+[0-9]{1,2} \\([0-9]{3}\\) [0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS text FROM gated), " +
        "rtoks AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t FROM scrub), " +
        "rw AS (SELECT doc_id, unnest(t) AS w, unnest(range(1, len(t)+1)) AS ord FROM rtoks), " +
        "rk AS (SELECT doc_id, w, ord FROM (SELECT doc_id, w, ord, " +
        "lag(w) OVER (PARTITION BY doc_id ORDER BY ord) AS pw FROM rw) z " +
        "WHERE pw IS NULL OR w <> pw), " +
        "clean AS (SELECT doc_id, string_agg(w, ' ' ORDER BY ord) AS text FROM rk GROUP BY doc_id), " +
        "exactv AS (SELECT doc_id, text FROM clean WHERE doc_id IN (" +
        "SELECT min(doc_id) FROM clean GROUP BY md5(text)))" +
        gramPairCtes("exactv") + ClusterCtes +
        ", clusters AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id " +
        "FROM reach GROUP BY src), " +
        "canon AS (SELECT e.doc_id, e.text FROM exactv e WHERE e.doc_id NOT IN (" +
        "SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)), " +
        "ctoks AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t FROM canon) " +
        "SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx, " +
        "array_to_string(list_slice(t, i*40 + 1, i*40 + 50), ' ') AS chunk_text, " +
        "CAST(len(list_slice(t, i*40 + 1, i*40 + 50)) AS BIGINT) AS n_tokens " +
        "FROM (SELECT doc_id, t, unnest(generate_series(0, " +
        "CAST(floor((len(t) - 1) / 40) AS INT))) AS i FROM ctoks) x")),
    QueryDef("m15_embed_neardup_exact", CorpusQueries.embedNearDupExact _,
      ("WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "aug AS (SELECT id, e FROM v UNION ALL SELECT id + 10000, " +
        "list_transform(e, (x, i) -> CASE WHEN i = 64 THEN x + 0.05 ELSE x END) " +
        "FROM v WHERE id < 20), " +
        "p AS (SELECT id AS probe_id, e AS pe FROM aug WHERE id < 100) " +
        "SELECT probe_id, neighbor_id, sim FROM (SELECT probe_id, a.id AS neighbor_id, " +
        "list_dot_product(pe, e) / (sqrt(list_dot_product(pe, pe)) * sqrt(list_dot_product(e, e))) AS sim " +
        "FROM aug a CROSS JOIN p WHERE a.id <> probe_id) WHERE sim >= 0.99")),
    QueryDef("m13_vocabulary", CorpusQueries.vocabulary _,
      ("SELECT term, tf, df, ln((n_docs + 1.0) / (df + 1.0)) AS idf FROM (" +
        "SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df, " +
        "(SELECT count(*) FROM documents) AS n_docs FROM (" +
        "SELECT doc_id, unnest(string_split_regex(lower(trim(text)), ' +')) AS term " +
        "FROM documents) x WHERE term <> '' GROUP BY 1) t " +
        "ORDER BY tf DESC, term LIMIT 100")),
    QueryDef("m11_multimodal", CorpusQueries.multimodalFeatures _,
      ("WITH png AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS L " +
        "FROM documents WHERE doc_id % 2 = 0), " +
        // 16×12 gray raster from the text bytes: pixel i (0..191) reads byte
        // i % L; BT.601 integer luma of gray (v,v,v) is exactly v.
        "lum AS (SELECT doc_id, CAST(sum(ascii(substr(text, CAST(i % L AS INT) + 1, 1))) AS DOUBLE) / 192.0 AS luma_mean " +
        "FROM png CROSS JOIN range(0, 192) t(i) GROUP BY doc_id), " +
        "op AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS L, " +
        "CAST(list_aggregate(list_transform(range(1, CAST(length(text) AS INT) + 1), " +
        "i -> ascii(substr(text, CAST(i AS INT), 1))), 'sum') AS DOUBLE) AS bsum " +
        "FROM documents WHERE doc_id % 2 <> 0) " +
        "SELECT doc_id, 'png' AS format, CAST(16 AS INTEGER) AS width, " +
        "CAST(12 AS INTEGER) AS height, CAST(3 AS INTEGER) AS channels, luma_mean, " +
        "CAST(NULL AS BIGINT) AS opaque_bytes, CAST(NULL AS DOUBLE) AS opaque_mean FROM lum " +
        "UNION ALL SELECT doc_id, 'binary', NULL, NULL, NULL, CAST(NULL AS DOUBLE), " +
        "L, bsum / L FROM op")),
    QueryDef("m34_temperature_mix", CorpusQueries.temperatureMix _,
      ("WITH d AS (SELECT doc_id, 'd' || CAST(length(CAST(doc_id AS VARCHAR)) AS VARCHAR) AS domain FROM documents), " +
        "c AS (SELECT domain, count(*) AS n FROM d GROUP BY 1), " +
        "m AS (SELECT min(n) AS min_n FROM c), " +
        "t AS (SELECT domain, CAST(ceil(sqrt(CAST(n AS DOUBLE) * CAST(min_n AS DOUBLE))) AS BIGINT) AS target " +
        "FROM c CROSS JOIN m), " +
        "r AS (SELECT doc_id, domain, CAST(row_number() OVER (PARTITION BY domain " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk FROM d) " +
        "SELECT r.doc_id, r.domain, r.rk, t.target FROM r JOIN t USING (domain) " +
        "WHERE rk <= target")),
    QueryDef("m35_corpus_report", CorpusQueries.corpusReport _,
      ("WITH d AS (SELECT source, CAST(length(text) AS BIGINT) AS n_chars_c, " +
        "CAST(len(string_split_regex(lower(trim(text)), ' +')) AS BIGINT) AS n_tokens " +
        "FROM documents WHERE text IS NOT NULL) " +
        "SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens, " +
        "min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens, " +
        "CAST(sum(n_tokens) AS DOUBLE) / count(*) AS mean_tokens, " +
        "quantile_cont(n_tokens, 0.5) AS median_tokens, " +
        "CAST(sum(n_chars_c) AS BIGINT) AS total_chars FROM d GROUP BY 1")),
    QueryDef("m36_shuffle_shards", CorpusQueries.shuffleShards _,
      ("SELECT doc_id, CAST(rn - 1 AS BIGINT) AS pos, CAST((rn - 1) % 8 AS BIGINT) AS shard " +
        "FROM (SELECT doc_id, row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn " +
        "FROM documents) t")),
    QueryDef("m37_ann_pq", CorpusQueries.annPq _,
      replay(CorpusQueries.annPqModel)(OracleModelSql.pqAdc(_, 5))),
    QueryDef("m38_ann_ivfpq", CorpusQueries.annIvfPq _,
      replay(CorpusQueries.annIvfPqModel)(OracleModelSql.ivfPqTopK(_, 5, 4))),
    QueryDef("m81_ann_ivfpq_batch", CorpusQueries.annIvfPqBatch _,
      replay(CorpusQueries.annIvfPqBatchModel)(
        OracleModelSql.ivfPqTopK(_, 3, 2, probeWhere = "TRUE"))),
    QueryDef("m39_train_val_test", CorpusQueries.trainValTestSplit _,
      ("SELECT doc_id, source, " +
        graft.operators.HashSplit.oracleSqlExpr("doc_id", CorpusQueries.SplitFractions) +
        " AS split FROM documents")),
    // m40 is CERTIFIED (the q40 recipe): the merge-TRAINING loop stays
    // spec-pinned (BpeSpec: textbook merge sequence, round-trip, bounds),
    // and the oracle replays greedy ENCODE over the captured merge list
    // in a DuckDB recursive CTE (OracleModelSql.bpeTokenStats).
    QueryDef("m40_bpe_tokens", CorpusQueries.bpeTokenStats _,
      replay(CorpusQueries.bpeTokenStatsMerges)(OracleModelSql.bpeTokenStats).when(_.nonEmpty)),
    QueryDef("m41_cluster_quota", CorpusQueries.clusterQuotaSample _,
      replay(CorpusQueries.clusterQuotaModel)(OracleModelSql.ivfClusterQuota(_, 10))),
    QueryDef("m42_repeated_windows", CorpusQueries.repeatedWindows _,
      (AugmentedDocs +
        ", toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t " +
        "FROM aug WHERE text IS NOT NULL), " +
        "w AS (SELECT doc_id, CASE WHEN len(t) <= 30 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(generate_series(0, len(t) - 30), " +
        "i -> array_to_string(list_slice(t, i + 1, i + 30), ' ')) END AS ws FROM toks), " +
        "x AS (SELECT doc_id, unnest(ws) AS wtext, unnest(range(0, len(ws))) AS widx FROM w), " +
        "f AS (SELECT doc_id, CAST(widx AS BIGINT) AS window_idx, md5(wtext) AS fp FROM x), " +
        "rep AS (SELECT fp FROM (SELECT fp, count(DISTINCT doc_id) AS df FROM f GROUP BY 1) z " +
        "WHERE df >= 2) " +
        "SELECT doc_id, window_idx, fp FROM f JOIN rep USING (fp)")),
    // m82: m42's flagged windows cut out of the text — token j is removed
    // iff a flagged window starts in [j-29, j] (the window-union coverage
    // test), then the kept tokens re-join in order.
    QueryDef("m82_span_scrub", CorpusQueries.spanScrub _,
      (AugmentedDocs +
        ", toks AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
        "string_split_regex(lower(trim(text)), ' +') AS t " +
        "FROM aug WHERE text IS NOT NULL), " +
        "w AS (SELECT doc_id, CASE WHEN len(t) <= 30 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(generate_series(0, len(t) - 30), " +
        "i -> array_to_string(list_slice(t, i + 1, i + 30), ' ')) END AS ws FROM toks), " +
        "x AS (SELECT doc_id, unnest(ws) AS wtext, unnest(range(0, len(ws))) AS widx FROM w), " +
        "f AS (SELECT doc_id, widx, md5(wtext) AS fp FROM x), " +
        "rep AS (SELECT fp FROM (SELECT fp, count(DISTINCT doc_id) AS df FROM f GROUP BY 1) z " +
        "WHERE df >= 2), " +
        "fl AS (SELECT doc_id, widx FROM f JOIN rep USING (fp)), " +
        "tk AS (SELECT doc_id, unnest(t) AS tok, unnest(range(0, len(t))) AS j, len(t) AS n FROM toks), " +
        "kept AS (SELECT tk.doc_id, tk.tok, tk.j, tk.n, NOT EXISTS (SELECT 1 FROM fl " +
        "WHERE fl.doc_id = tk.doc_id AND fl.widx BETWEEN tk.j - 29 AND tk.j) AS keep FROM tk) " +
        "SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens, " +
        "CAST(max(n) - sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_removed, " +
        "coalesce(string_agg(CASE WHEN keep THEN tok END, ' ' ORDER BY j), '') AS scrubbed_text " +
        "FROM kept GROUP BY 1")),
    // m83: learned quality filter — LR distilled from the m02 gate; the
    // oracle replays the scoring pass with the run's captured weights
    // (OracleModelSql.qualityClassifier); training GD is spec-pinned
    // (QualityClassifierSpec: separation, convergence, partition
    // invariance of the trained weights).
    QueryDef("m83_quality_classifier", CorpusQueries.qualityClassifier _,
      replay(CorpusQueries.qualityClassifierWeights)(OracleModelSql.qualityClassifier)),
    // m84: m38's probe served from the persisted AnnAssets index —
    // oracle replays the search over the captured post-round-trip model
    // (OracleModelSql.ivfPqTopK, same replay as m38).
    QueryDef("m84_ann_stored_probe", CorpusQueries.annStoredProbe _,
      replay(CorpusQueries.annStoredProbeModel)(OracleModelSql.ivfPqTopK(_, 5, 4))),
    // m97: keep-first exact-substring dedup (Lee et al. 2022's keep-one
    // policy at window granularity) — m82's complement: the earliest
    // occurrence of every repeated span survives, later copies are cut
    // m97: m82's chain with a winner exclusion — the (doc_id, widx)-first
    // occurrence of each repeated fingerprint (row_number = 1) keeps its
    // windows; only later occurrences reach the cut list.
    QueryDef("m97_keep_first_spans", CorpusQueries.keepFirstSpans _,
      (AugmentedDocs +
        ", toks AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
        "string_split_regex(lower(trim(text)), ' +') AS t " +
        "FROM aug WHERE text IS NOT NULL), " +
        "w AS (SELECT doc_id, CASE WHEN len(t) <= 30 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(generate_series(0, len(t) - 30), " +
        "i -> array_to_string(list_slice(t, i + 1, i + 30), ' ')) END AS ws FROM toks), " +
        "x AS (SELECT doc_id, unnest(ws) AS wtext, unnest(range(0, len(ws))) AS widx FROM w), " +
        "f AS (SELECT doc_id, widx, md5(wtext) AS fp FROM x), " +
        "rep AS (SELECT fp FROM (SELECT fp, count(DISTINCT doc_id) AS df FROM f GROUP BY 1) z " +
        "WHERE df >= 2), " +
        "fr AS (SELECT doc_id, widx, " +
        "row_number() OVER (PARTITION BY fp ORDER BY doc_id, widx) AS rn " +
        "FROM f JOIN rep USING (fp)), " +
        "fl AS (SELECT doc_id, widx FROM fr WHERE rn > 1), " +
        "tk AS (SELECT doc_id, unnest(t) AS tok, unnest(range(0, len(t))) AS j, len(t) AS n FROM toks), " +
        "kept AS (SELECT tk.doc_id, tk.tok, tk.j, tk.n, NOT EXISTS (SELECT 1 FROM fl " +
        "WHERE fl.doc_id = tk.doc_id AND fl.widx BETWEEN tk.j - 29 AND tk.j) AS keep FROM tk) " +
        "SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens, " +
        "CAST(max(n) - sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_removed, " +
        "coalesce(string_agg(CASE WHEN keep THEN tok END, ' ' ORDER BY j), '') AS scrubbed_text " +
        "FROM kept GROUP BY 1")),
    // m98: calibration / reliability card for the learned gate — mean
    // predicted p vs observed positive rate per probability decile +
    // per-bin ECE terms (captured-weights replay,
    // OracleModelSql.calibration)
    QueryDef("m98_calibration", CorpusQueries.calibration _,
      replay(CorpusQueries.calibrationWeights)(OracleModelSql.calibration)),
    // m90: span-level decontamination — the contaminated span is CUT
    // (m82's rewrite), not the document dropped
    // m90: m82's rebuild with the flag source swapped — a corpus window
    // is cut iff its fingerprint appears among the BENCHMARK's windows
    // (m25's fixture split, w = 8).
    QueryDef("m90_decontaminate_spans", CorpusQueries.decontaminateSpans _,
      (AugmentedDocs +
        ", corp AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM aug " +
        "WHERE doc_id >= 50 AND text IS NOT NULL), " +
        "bench AS (SELECT text FROM aug WHERE doc_id < 50 AND text IS NOT NULL), " +
        "toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t FROM corp), " +
        "btoks AS (SELECT string_split_regex(lower(trim(text)), ' +') AS t FROM bench), " +
        "w AS (SELECT doc_id, CASE WHEN len(t) <= 8 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(generate_series(0, len(t) - 8), " +
        "i -> array_to_string(list_slice(t, i + 1, i + 8), ' ')) END AS ws FROM toks), " +
        "x AS (SELECT doc_id, unnest(ws) AS wtext, unnest(range(0, len(ws))) AS widx FROM w), " +
        "f AS (SELECT doc_id, widx, md5(wtext) AS fp FROM x), " +
        "bw AS (SELECT CASE WHEN len(t) <= 8 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(generate_series(0, len(t) - 8), " +
        "i -> array_to_string(list_slice(t, i + 1, i + 8), ' ')) END AS ws FROM btoks), " +
        "bf AS (SELECT DISTINCT md5(wtext) AS fp FROM (SELECT unnest(ws) AS wtext FROM bw)), " +
        "fl AS (SELECT doc_id, widx FROM f JOIN bf USING (fp)), " +
        "tk AS (SELECT doc_id, unnest(t) AS tok, unnest(range(0, len(t))) AS j, len(t) AS n FROM toks), " +
        "kept AS (SELECT tk.doc_id, tk.tok, tk.j, tk.n, NOT EXISTS (SELECT 1 FROM fl " +
        "WHERE fl.doc_id = tk.doc_id AND fl.widx BETWEEN tk.j - 7 AND tk.j) AS keep FROM tk) " +
        "SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens, " +
        "CAST(max(n) - sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_removed, " +
        "coalesce(string_agg(CASE WHEN keep THEN tok END, ' ' ORDER BY j), '') AS scrubbed_text " +
        "FROM kept GROUP BY 1")),
    // m92: the LINE-level Gopher rules (ellipsis/bullet/duplicate-line
    // fractions) over the noise-augmented multi-line corpus
    // m92: the line-level Gopher battery over the m31 line corpus plus
    // deterministic noise (bullets on ≡0 mod 3, ellipsis markers on ≡0
    // mod 5, a repeated line on ≡0 mod 7) — integer-count divisions, so
    // fractions and rule bits replay bit-identically.
    QueryDef("m92_gopher_line_rules", CorpusQueries.gopherLineRules _,
      ("WITH b AS (SELECT doc_id, (CASE WHEN doc_id % 2 = 0 " +
        "THEN 'this site uses cookies accept to continue' " +
        "ELSE 'home products about contact' END) || chr(10) || text || chr(10) || " +
        "'subscribe to our newsletter for updates' || chr(10) || " +
        "'ref ' || CAST(doc_id AS VARCHAR) || chr(10) || " +
        "'copyright all rights reserved' || " +
        "(CASE WHEN doc_id % 3 = 0 THEN chr(10) || '- sale item one' || chr(10) || '- sale item two' ELSE '' END) || " +
        "(CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'read more...' || chr(10) || 'loading more results...' ELSE '' END) || " +
        "(CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'subscribe to our newsletter for updates' ELSE '' END) AS text " +
        "FROM documents WHERE text IS NOT NULL), " +
        "sp AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM b), " +
        "c AS (SELECT doc_id, CAST(len(ls) AS BIGINT) AS n, " +
        "CAST(len(list_filter(ls, l -> ends_with(l, '...'))) AS BIGINT) AS ne, " +
        "CAST(len(list_filter(ls, l -> starts_with(l, '- ') OR starts_with(l, '* ') OR starts_with(l, '• '))) AS BIGINT) AS nb, " +
        "CAST(len(ls) - len(list_distinct(ls)) AS BIGINT) AS nd FROM sp) " +
        "SELECT doc_id, n AS n_lines, " +
        "CAST(ne AS DOUBLE) / CAST(n AS DOUBLE) AS ellipsis_frac, " +
        "CAST(nb AS DOUBLE) / CAST(n AS DOUBLE) AS bullet_frac, " +
        "CAST(nd AS DOUBLE) / CAST(n AS DOUBLE) AS dup_line_frac, " +
        "CAST(CAST(ne AS DOUBLE) / CAST(n AS DOUBLE) <= 0.25 AS BIGINT) AS r_ellipsis_lines, " +
        "CAST(CAST(nb AS DOUBLE) / CAST(n AS DOUBLE) <= 0.25 AS BIGINT) AS r_bullet_lines, " +
        "CAST(CAST(nd AS DOUBLE) / CAST(n AS DOUBLE) <= 0.1 AS BIGINT) AS r_dup_lines, " +
        "CAST(CAST(ne AS DOUBLE) / CAST(n AS DOUBLE) <= 0.25 " +
        "AND CAST(nb AS DOUBLE) / CAST(n AS DOUBLE) <= 0.25 " +
        "AND CAST(nd AS DOUBLE) / CAST(n AS DOUBLE) <= 0.1 AS BIGINT) AS pass " +
        "FROM c")),
    // m93: the repetition rules (top/duplicate n-gram character
    // fractions) — the third MassiveText family, completing the battery
    // m93: repetition rule card — top n-gram (n=2..4) and capped
    // duplicate n-gram mass (n=5..10) fractions; integer count×length
    // sums divided once, so both engines produce identical doubles.
    QueryDef("m93_repetition_rules", CorpusQueries.repetitionRules _,
      ("WITH aug AS (SELECT doc_id, text || (CASE WHEN doc_id % 4 = 0 " +
        "THEN repeat(' limited time offer click here to claim your exclusive reward now today', 3) " +
        "ELSE '' END) AS text FROM documents WHERE text IS NOT NULL), " +
        "toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t FROM aug), " +
        "base AS (SELECT doc_id, t, CAST(length(array_to_string(t, ' ')) AS BIGINT) AS total_chars FROM toks), " +
        "g AS (SELECT doc_id, total_chars, n, unnest(CASE WHEN len(t) >= n THEN " +
        "list_transform(generate_series(1, len(t) - n + 1), i -> array_to_string(list_slice(t, i, i + n - 1), ' ')) " +
        "ELSE [] END) AS gram FROM base, (SELECT unnest(generate_series(2, 10)) AS n)), " +
        "c AS (SELECT doc_id, total_chars, n, gram, count(*) AS cnt FROM g GROUP BY 1,2,3,4), " +
        "p AS (SELECT doc_id, total_chars, n, max(cnt * length(gram)) AS mx, " +
        "sum(CASE WHEN cnt > 1 THEN cnt * length(gram) ELSE 0 END) AS dup FROM c GROUP BY 1,2,3), " +
        "f AS (SELECT doc_id, n, least(1.0, CAST(mx AS DOUBLE) / greatest(CAST(total_chars AS DOUBLE), 1.0)) AS top_frac, " +
        "least(1.0, CAST(dup AS DOUBLE) / greatest(CAST(total_chars AS DOUBLE), 1.0)) AS dup_frac FROM p), " +
        "w AS (SELECT doc_id, " +
        "coalesce(max(CASE WHEN n = 2 THEN top_frac END), 0.0) AS top_2, " +
        "coalesce(max(CASE WHEN n = 3 THEN top_frac END), 0.0) AS top_3, " +
        "coalesce(max(CASE WHEN n = 4 THEN top_frac END), 0.0) AS top_4, " +
        "coalesce(max(CASE WHEN n = 5 THEN dup_frac END), 0.0) AS dup_5, " +
        "coalesce(max(CASE WHEN n = 6 THEN dup_frac END), 0.0) AS dup_6, " +
        "coalesce(max(CASE WHEN n = 7 THEN dup_frac END), 0.0) AS dup_7, " +
        "coalesce(max(CASE WHEN n = 8 THEN dup_frac END), 0.0) AS dup_8, " +
        "coalesce(max(CASE WHEN n = 9 THEN dup_frac END), 0.0) AS dup_9, " +
        "coalesce(max(CASE WHEN n = 10 THEN dup_frac END), 0.0) AS dup_10 " +
        "FROM f GROUP BY 1) " +
        "SELECT doc_id, top_2, top_3, top_4, dup_5, dup_6, dup_7, dup_8, dup_9, dup_10, " +
        "CAST(top_2 <= 0.20 AS BIGINT) AS r_top_2, " +
        "CAST(top_3 <= 0.18 AS BIGINT) AS r_top_3, " +
        "CAST(top_4 <= 0.16 AS BIGINT) AS r_top_4, " +
        "CAST(dup_5 <= 0.15 AS BIGINT) AS r_dup_5, " +
        "CAST(dup_6 <= 0.14 AS BIGINT) AS r_dup_6, " +
        "CAST(dup_7 <= 0.13 AS BIGINT) AS r_dup_7, " +
        "CAST(dup_8 <= 0.12 AS BIGINT) AS r_dup_8, " +
        "CAST(dup_9 <= 0.11 AS BIGINT) AS r_dup_9, " +
        "CAST(dup_10 <= 0.10 AS BIGINT) AS r_dup_10, " +
        "CAST(top_2 <= 0.20 AND top_3 <= 0.18 AND top_4 <= 0.16 " +
        "AND dup_5 <= 0.15 AND dup_6 <= 0.14 AND dup_7 <= 0.13 " +
        "AND dup_8 <= 0.12 AND dup_9 <= 0.11 AND dup_10 <= 0.10 AS BIGINT) AS pass " +
        "FROM w")),
    // m111: Misra–Gries heavy-hitter 3-grams with exact recount — the
    // over-represented-boilerplate diagnostic, certified sketch-free by
    // the threshold's superset guarantee
    // m111: sketch-free replay — the engine's MG candidates are made
    // unobservable by the exact ≥ floor(N/(k+1))+1 recount (superset
    // guarantee), so the oracle just computes the thresholded set
    QueryDef("m111_heavy_grams", CorpusQueries.heavyGrams _,
      ("WITH aug AS (SELECT doc_id, text || (CASE WHEN doc_id % 4 = 0 " +
        "THEN repeat(' limited time offer click here to claim your exclusive reward now today', 3) " +
        "ELSE '' END) AS text FROM documents WHERE text IS NOT NULL), " +
        "toks AS (SELECT string_split_regex(lower(trim(text)), ' +') AS t FROM aug), " +
        "g AS (SELECT unnest(CASE WHEN len(t) >= 3 THEN " +
        "list_transform(generate_series(1, len(t) - 2), i -> array_to_string(list_slice(t, i, i + 2), ' ')) " +
        "ELSE [] END) AS gram FROM toks), " +
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS total_grams, " +
        "CAST(floor(count(*) / 1001) + 1 AS BIGINT) AS threshold FROM g), " +
        "c AS (SELECT gram, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1) " +
        "SELECT gram, n, total_grams, threshold FROM c CROSS JOIN tot WHERE n >= threshold")),
    // m109: the paper-exact position-UNION form of the repetition rules
    // (a char counts once however many duplicated grams cover it) — both
    // semantics certified side by side
    // m109: the position-union semantics — per-gram union via lead() gaps
    // (top family: same-length intervals, so each occurrence contributes
    // min(len, next_start - start)), gaps-and-islands sweep for the dup
    // family; starts are char offsets in the single-spaced rejoin. All
    // coverage sums are exact integers; one IEEE division per fraction.
    QueryDef("m109_repetition_union", CorpusQueries.repetitionRulesUnion _,
      ("WITH aug AS (SELECT doc_id, text || (CASE WHEN doc_id % 4 = 0 " +
        "THEN repeat(' limited time offer click here to claim your exclusive reward now today', 3) " +
        "ELSE '' END) AS text FROM documents WHERE text IS NOT NULL), " +
        "toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t FROM aug), " +
        "base AS (SELECT doc_id, t, CAST(length(array_to_string(t, ' ')) AS BIGINT) AS total_chars FROM toks), " +
        "g AS (SELECT doc_id, total_chars, n, CAST(u.s AS BIGINT) AS s, " +
        "CAST(u.s + length(u.gram) AS BIGINT) AS e, u.gram AS gram FROM (" +
        "SELECT b.doc_id, b.total_chars, ns.n, unnest(CASE WHEN len(t) >= n THEN " +
        "list_transform(generate_series(1, len(t) - n + 1), i -> struct_pack(" +
        "s := CASE WHEN i = 1 THEN 0 ELSE length(array_to_string(list_slice(t, 1, i - 1), ' ')) + 1 END, " +
        "gram := array_to_string(list_slice(t, i, i + n - 1), ' '))) ELSE [] END) AS u " +
        "FROM base b CROSS JOIN (SELECT unnest(generate_series(2, 10)) AS n) ns) x), " +
        "gc AS (SELECT *, count(*) OVER (PARTITION BY doc_id, n, gram) AS cnt FROM g), " +
        "tstep AS (SELECT doc_id, total_chars, n, gram, cnt, " +
        "least(e - s, coalesce(lead(s) OVER (PARTITION BY doc_id, n, gram ORDER BY s), e) - s) AS contrib " +
        "FROM gc WHERE n <= 4), " +
        "tg AS (SELECT doc_id, total_chars, n, gram, cnt, CAST(sum(contrib) AS BIGINT) AS gcov " +
        "FROM tstep GROUP BY 1, 2, 3, 4, 5), " +
        "tg2 AS (SELECT *, max(cnt) OVER (PARTITION BY doc_id, n) AS mc FROM tg), " +
        "tcov AS (SELECT doc_id, total_chars, n, CAST(max(CASE WHEN cnt = mc THEN gcov END) AS BIGINT) AS covered " +
        "FROM tg2 GROUP BY 1, 2, 3), " +
        "d AS (SELECT doc_id, total_chars, n, s, e FROM gc WHERE n >= 5 AND cnt > 1), " +
        "dm AS (SELECT *, max(e) OVER (PARTITION BY doc_id, n ORDER BY s " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM d), " +
        "di AS (SELECT *, CAST(sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY doc_id, n ORDER BY s ROWS UNBOUNDED PRECEDING) AS BIGINT) AS gid FROM dm), " +
        "disl AS (SELECT doc_id, total_chars, n, gid, max(e) - min(s) AS clen FROM di GROUP BY 1, 2, 3, 4), " +
        "dcov AS (SELECT doc_id, total_chars, n, CAST(sum(clen) AS BIGINT) AS covered FROM disl GROUP BY 1, 2, 3), " +
        "vals AS (SELECT * FROM tcov UNION ALL SELECT * FROM dcov), " +
        "f AS (SELECT doc_id, n, CAST(covered AS DOUBLE) / greatest(CAST(total_chars AS DOUBLE), 1.0) AS frac FROM vals), " +
        "w AS (SELECT a.doc_id, " +
        "coalesce(max(CASE WHEN n = 2 THEN frac END), 0.0) AS top_2, " +
        "coalesce(max(CASE WHEN n = 3 THEN frac END), 0.0) AS top_3, " +
        "coalesce(max(CASE WHEN n = 4 THEN frac END), 0.0) AS top_4, " +
        "coalesce(max(CASE WHEN n = 5 THEN frac END), 0.0) AS dup_5, " +
        "coalesce(max(CASE WHEN n = 6 THEN frac END), 0.0) AS dup_6, " +
        "coalesce(max(CASE WHEN n = 7 THEN frac END), 0.0) AS dup_7, " +
        "coalesce(max(CASE WHEN n = 8 THEN frac END), 0.0) AS dup_8, " +
        "coalesce(max(CASE WHEN n = 9 THEN frac END), 0.0) AS dup_9, " +
        "coalesce(max(CASE WHEN n = 10 THEN frac END), 0.0) AS dup_10 " +
        "FROM aug a LEFT JOIN f ON a.doc_id = f.doc_id GROUP BY 1) " +
        "SELECT doc_id, top_2, top_3, top_4, dup_5, dup_6, dup_7, dup_8, dup_9, dup_10, " +
        "CAST(top_2 <= 0.20 AS BIGINT) AS r_top_2, " +
        "CAST(top_3 <= 0.18 AS BIGINT) AS r_top_3, " +
        "CAST(top_4 <= 0.16 AS BIGINT) AS r_top_4, " +
        "CAST(dup_5 <= 0.15 AS BIGINT) AS r_dup_5, " +
        "CAST(dup_6 <= 0.14 AS BIGINT) AS r_dup_6, " +
        "CAST(dup_7 <= 0.13 AS BIGINT) AS r_dup_7, " +
        "CAST(dup_8 <= 0.12 AS BIGINT) AS r_dup_8, " +
        "CAST(dup_9 <= 0.11 AS BIGINT) AS r_dup_9, " +
        "CAST(dup_10 <= 0.10 AS BIGINT) AS r_dup_10, " +
        "CAST(top_2 <= 0.20 AND top_3 <= 0.18 AND top_4 <= 0.16 " +
        "AND dup_5 <= 0.15 AND dup_6 <= 0.14 AND dup_7 <= 0.13 " +
        "AND dup_8 <= 0.12 AND dup_9 <= 0.11 AND dup_10 <= 0.10 AS BIGINT) AS pass " +
        "FROM w")),
    // m94: the C4 cleaning rules (Raffel et al. 2020) — line-REWRITING
    // where Gopher is page-scoring; the fourth rule family
    // m94: C4 rule card — the line filter (terminal punct / ≥3 words /
    // no-javascript) rewrites the page; the page gate reads the kept
    // text's sentence count plus raw-text content flags. All counts are
    // integers, never divided — bit-identical cross-engine.
    QueryDef("m94_c4_rules", CorpusQueries.c4Rules _,
      ("WITH b AS (SELECT doc_id, (CASE WHEN doc_id % 2 = 0 " +
        "THEN 'this site uses cookies accept to continue' " +
        "ELSE 'home products about contact' END) || chr(10) || text || chr(10) || " +
        "'subscribe to our newsletter for updates' || chr(10) || " +
        "'ref ' || CAST(doc_id AS VARCHAR) || chr(10) || " +
        "'copyright all rights reserved' || " +
        "(CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'the quick brown fox jumps over the lazy dog. it runs fast. it never stops. we watch it daily. the end is near.' ELSE '' END) || " +
        "(CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'please enable javascript to view this page.' ELSE '' END) || " +
        "(CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END) || " +
        "(CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'const config = { theme: dark }' ELSE '' END) || " +
        "(CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'win big at the casino tonight.' ELSE '' END) || " +
        "(CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'ok fine.' ELSE '' END) AS text " +
        "FROM documents WHERE text IS NOT NULL), " +
        "sp AS (SELECT doc_id, text, string_split(text, chr(10)) AS ls FROM b), " +
        "k AS (SELECT doc_id, text, ls, list_filter(ls, l -> " +
        "(ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?') OR ends_with(l, '\"')) " +
        "AND len(string_split_regex(trim(l), ' +')) >= 3 " +
        "AND NOT contains(l, 'javascript')) AS kept FROM sp), " +
        "c AS (SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines, " +
        "CAST(len(kept) AS BIGINT) AS n_kept_lines, " +
        // coalesce: DuckDB's array_to_string([]) is NULL where Spark's
        // array_join([]) is '' — an all-struck page must read as empty
        "coalesce(array_to_string(kept, chr(10)), '') AS text_clean, " +
        "CAST(length(regexp_replace(coalesce(array_to_string(kept, chr(10)), ''), '[^.!?]', '', 'g')) AS BIGINT) AS n_sentences, " +
        "CAST(contains(text, 'lorem ipsum') AS BIGINT) AS has_lorem, " +
        "CAST(contains(text, '{') OR contains(text, '}') AS BIGINT) AS has_brace, " +
        "CAST(len(list_intersect(regexp_extract_all(lower(text), '[a-z0-9]+'), ['casino','jackpot'])) > 0 AS BIGINT) AS has_badword " +
        "FROM k) " +
        "SELECT doc_id, n_lines, n_kept_lines, n_sentences, has_lorem, has_brace, has_badword, " +
        "CAST(n_sentences >= 5 AS BIGINT) AS r_min_sentences, text_clean, " +
        "CAST(n_kept_lines >= 1 AND n_sentences >= 5 AND has_lorem = 0 " +
        "AND has_brace = 0 AND has_badword = 0 AS BIGINT) AS pass FROM c")),
    // m95: DSIR importance resampling (Xie et al. 2023) — hashed-bigram
    // target-vs-raw log weights via a PORTABLE md5 bucket hash, exact
    // 80th-percentile selection threshold
    // m95: DSIR — bucket counts, smoothed target/raw log-ratio per
    // bucket, bucket-sorted per-doc fold (the m55 discipline), exact
    // interpolated 80th-percentile threshold. The bucket hash is the
    // PORTABLE one: md5's last 3 hex chars parsed base-16, mod 1024.
    QueryDef("m95_dsir_weights", CorpusQueries.dsirWeights _,
      ("WITH aug AS (SELECT doc_id, text || (CASE WHEN doc_id % 10 < 2 " +
        "THEN ' quantum flux entangled qubit lattice coherence' ELSE '' END) AS text " +
        "FROM documents WHERE text IS NOT NULL), " +
        "toks AS (SELECT doc_id, doc_id % 10 < 2 AS is_target, " +
        "string_split_regex(lower(trim(text)), ' +') AS t FROM aug), " +
        "g AS (SELECT doc_id, is_target, unnest(list_transform(" +
        "generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])) AS gram " +
        "FROM toks WHERE len(t) >= 2), " +
        "hb AS (SELECT doc_id, is_target, " +
        "((strpos('0123456789abcdef', substr(md5(gram), 30, 1)) - 1) * 256 " +
        "+ (strpos('0123456789abcdef', substr(md5(gram), 31, 1)) - 1) * 16 " +
        "+ (strpos('0123456789abcdef', substr(md5(gram), 32, 1)) - 1)) % 1024 AS bucket FROM g), " +
        "d AS (SELECT doc_id, is_target, bucket, CAST(count(*) AS BIGINT) AS n_db " +
        "FROM hb GROUP BY 1, 2, 3), " +
        "rawc AS (SELECT bucket, sum(n_db) AS n_r FROM d GROUP BY 1), " +
        "tgt AS (SELECT bucket, sum(n_db) AS n_t FROM d WHERE is_target GROUP BY 1), " +
        "tot AS (SELECT sum(n_db) AS tr, " +
        "sum(CASE WHEN is_target THEN n_db ELSE 0 END) AS tt FROM d), " +
        "lam AS (SELECT r.bucket, " +
        "ln((coalesce(t.n_t, 0) + 0.5) / (tot.tt + 512.0)) " +
        "- ln((r.n_r + 0.5) / (tot.tr + 512.0)) AS lam " +
        "FROM rawc r LEFT JOIN tgt t USING (bucket) CROSS JOIN tot), " +
        "w AS (SELECT doc_id, CAST(sum(n_db) AS BIGINT) AS n_grams, " +
        "list_sum(list(n_db * lam ORDER BY bucket)) AS logw " +
        "FROM d JOIN lam USING (bucket) GROUP BY doc_id), " +
        "q AS (SELECT quantile_cont(logw, 0.8) AS thr FROM w) " +
        "SELECT doc_id, n_grams, logw, " +
        "CAST(logw > thr AS BIGINT) AS selected FROM w CROSS JOIN q")),
    // m96: global keep-first line dedup (Lee et al. 2021's keep-one
    // policy at line granularity) — m31's complement: one copy of shared
    // content survives instead of none
    // m96: keep-first — first occurrence in (doc_id, line_no) order wins
    // (the impl's min(struct) ≡ the oracle's row_number window; the impl
    // groups by xxhash64(line), the oracle by line text — same contract
    // as m31's documented collision bound).
    QueryDef("m96_keep_first_lines", CorpusQueries.keepFirstLineDedup _,
      ("WITH b AS (SELECT doc_id, (CASE WHEN doc_id % 2 = 0 " +
        "THEN 'this site uses cookies accept to continue' " +
        "ELSE 'home products about contact' END) || chr(10) || text || chr(10) || " +
        "'subscribe to our newsletter for updates' || chr(10) || " +
        "'ref ' || CAST(doc_id AS VARCHAR) || chr(10) || " +
        "'copyright all rights reserved' || " +
        "(CASE WHEN doc_id % 3 = 0 THEN chr(10) || '- sale item one' || chr(10) || '- sale item two' ELSE '' END) || " +
        "(CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'read more...' || chr(10) || 'loading more results...' ELSE '' END) || " +
        "(CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'subscribe to our newsletter for updates' ELSE '' END) AS text " +
        "FROM documents WHERE text IS NOT NULL), " +
        "sp AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM b), " +
        "l AS (SELECT doc_id, CAST(len(ls) AS BIGINT) AS n, unnest(ls) AS line, " +
        "unnest(range(1, len(ls) + 1)) AS pos FROM sp), " +
        "k AS (SELECT doc_id, n, pos, line, " +
        "row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn FROM l) " +
        "SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean, " +
        "max(n) AS n_lines, CAST(max(n) - count(*) AS BIGINT) AS n_struck " +
        "FROM k WHERE rn = 1 GROUP BY doc_id")),
    // m91: the Gopher/MassiveText per-document rule battery (the rules a
    // single-line corpus can express) — bits + AND verdict
    QueryDef("m91_gopher_rules", CorpusQueries.gopherRules _,
      ("WITH b AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws, " +
        "list_distinct(string_split_regex(lower(trim(text)), ' +')) AS toks " +
        "FROM documents WHERE text IS NOT NULL), " +
        "c AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words, " +
        "CAST(length(array_to_string(ws, '')) AS DOUBLE) / greatest(CAST(len(ws) AS DOUBLE), 1.0) AS mean_len, " +
        "CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) AS DOUBLE) AS aw, " +
        "len(list_intersect(toks, ['the','a','an','of','to','and','in','is','it','that','for','on','with','as'])) AS ds " +
        "FROM b) " +
        "SELECT doc_id, n_words, " +
        "CAST(n_words >= 10 AND n_words <= 100000 AS BIGINT) AS r_word_count, " +
        "CAST(mean_len >= 3.0 AND mean_len <= 10.0 AS BIGINT) AS r_mean_word_len, " +
        "CAST(aw / greatest(CAST(n_words AS DOUBLE), 1.0) >= 0.8 AS BIGINT) AS r_alpha_words, " +
        "CAST(ds >= 2 AS BIGINT) AS r_stopwords, " +
        "CAST(n_words >= 10 AND n_words <= 100000 AND mean_len >= 3.0 AND mean_len <= 10.0 " +
        "AND aw / greatest(CAST(n_words AS DOUBLE), 1.0) >= 0.8 AND ds >= 2 AS BIGINT) AS pass " +
        "FROM c")),
    QueryDef("m19_repetition_collapse", CorpusQueries.repetitionCollapse _,
      ("WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t " +
        "FROM documents WHERE text IS NOT NULL), " +
        "w AS (SELECT doc_id, unnest(t) AS w, unnest(range(1, len(t)+1)) AS ord, len(t) AS n FROM toks), " +
        "k AS (SELECT doc_id, w, ord, n FROM (SELECT doc_id, w, ord, n, " +
        "lag(w) OVER (PARTITION BY doc_id ORDER BY ord) AS pw FROM w) z " +
        "WHERE pw IS NULL OR w <> pw) " +
        "SELECT doc_id, string_agg(w, ' ' ORDER BY ord) AS text_clean, " +
        "CAST(max(n) AS BIGINT) AS n_tokens, " +
        "CAST(max(n) - count(*) AS BIGINT) AS n_collapsed " +
        "FROM k GROUP BY doc_id")),
    QueryDef("m20_pii_redact", CorpusQueries.piiRedact _,
      ("WITH pii AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@mail.example.com from 10.1.' || CAST(doc_id % 256 AS VARCHAR) || " +
        "'.7 call +1 (555) 010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text " +
        "FROM documents WHERE text IS NOT NULL) " +
        "SELECT doc_id, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails, " +
        "CAST(len(regexp_extract_all(text, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS BIGINT) AS n_ips, " +
        "CAST(len(regexp_extract_all(text, '\\+[0-9]{1,2} \\([0-9]{3}\\) [0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones, " +
        "regexp_replace(regexp_replace(regexp_replace(text, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'), " +
        "'\\+[0-9]{1,2} \\([0-9]{3}\\) [0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS text_redacted " +
        "FROM pii")),
    QueryDef("m21_source_quota", CorpusQueries.sourceQuotaSample _,
      ("SELECT doc_id, source, CAST(rn AS BIGINT) AS rk FROM (" +
        "SELECT doc_id, source, row_number() OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents) z " +
        "WHERE rn <= 7")),
    QueryDef("m22_top_bigrams", CorpusQueries.topBigrams _,
      ("WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t " +
        "FROM documents WHERE text IS NOT NULL), " +
        "w AS (SELECT doc_id, unnest(t) AS w, unnest(range(1, len(t)+1)) AS ord FROM toks), " +
        "b AS (SELECT w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY ord) AS gram FROM w) " +
        "SELECT gram, count(*) AS n FROM b WHERE gram IS NOT NULL " +
        "GROUP BY 1 ORDER BY n DESC, gram LIMIT 20")),
    QueryDef("m23_winnow_fingerprints", CorpusQueries.winnowFingerprints _,
      ("WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t " +
        "FROM documents WHERE text IS NOT NULL AND trim(text) <> ''), " +
        "g AS (SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS gs FROM toks), " +
        "h AS (SELECT doc_id, list_transform(gs, s -> md5(s)) AS hs FROM g), " +
        "w AS (SELECT doc_id, CASE WHEN len(hs) <= 4 THEN [list_aggregate(hs, 'min')] " +
        "ELSE list_transform(generate_series(1, len(hs) - 3), i -> list_aggregate(list_slice(hs, i, i + 3), 'min')) END AS sel FROM h) " +
        "SELECT DISTINCT doc_id, unnest(sel) AS fp FROM w")),
    QueryDef("m24_vocab_quality", CorpusQueries.vocabQuality _,
      ("WITH terms AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), ' +')) AS term " +
        "FROM documents WHERE text IS NOT NULL), " +
        "tf AS (SELECT term, count(*) AS tf FROM terms WHERE term <> '' GROUP BY 1), " +
        "vocab AS (SELECT term, tf FROM tf ORDER BY tf DESC, term LIMIT 25) " +
        "SELECT t.doc_id, count(*) AS n_tokens, " +
        "CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, " +
        "CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS oov_rate, " +
        "avg(ln(v.tf)) AS mean_log_tf " +
        "FROM terms t LEFT JOIN vocab v USING (term) WHERE t.term <> '' " +
        "GROUP BY t.doc_id")),
    QueryDef("m52_curriculum_shards", CorpusQueries.curriculumShards _,
      (TextStatsBase +
        ", q AS (SELECT doc_id, " + QualityExpr + " AS quality, " +
        "CAST(len(string_split_regex(lower(trim(text)), ' +')) AS BIGINT) AS n_tokens " +
        "FROM base WHERE text IS NOT NULL), " +
        "t AS (SELECT sum(n_tokens) AS total_tokens FROM q), " +
        "o AS (SELECT doc_id, quality, n_tokens, CAST(coalesce(sum(n_tokens) OVER (" +
        "ORDER BY quality DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before FROM q) " +
        "SELECT doc_id, quality, n_tokens, cum_before, " +
        "CAST((cum_before * 8) // total_tokens AS BIGINT) AS shard FROM o CROSS JOIN t")),
    // m53 is CERTIFIED (the q40 recipe): the greedy loop stays
    // spec-pinned (MmrSpec: λ=1 ≡ brute force, top-1 invariant,
    // duplicate demotion), and the oracle replays the captured picked
    // sequence's per-step argmax certificate in DuckDB
    // (OracleModelSql.mmrCertificate).
    QueryDef("m53_mmr_rerank", CorpusQueries.mmrRerank _,
      replay(CorpusQueries.mmrRerankPicks) { case (picks, off) =>
        OracleModelSql.mmrCertificate(picks, off, k = 5, lambda = 0.7, candMult = 10) }),
    QueryDef("m25_decontaminate", CorpusQueries.decontaminate _, DecontaminateSql),
    // m46 is m25's exact semantics behind a Bloom prefilter — one oracle,
    // two physical plans (broadcast-relation lookup vs bitset + verify).
    QueryDef("m46_bloom_decontaminate", CorpusQueries.bloomDecontaminate _, DecontaminateSql),
    // m47: both stages replayed over the captured IVF-PQ model (training
    // stays spec-pinned); RerankSpec pins stage-2 exactness vs brute
    // force and recall bounds.
    QueryDef("m47_ann_rerank", CorpusQueries.annRerank _,
      replay(CorpusQueries.annRerankModel)(OracleModelSql.ivfPqRerank(_, 5, 4, 5))),
    QueryDef("m26_sequence_pack", CorpusQueries.sequencePack _,
      ("WITH n AS (SELECT doc_id, CAST(len(string_split_regex(lower(trim(text)), ' +')) AS BIGINT) AS n_tokens " +
        "FROM documents WHERE text IS NOT NULL), " +
        "o AS (SELECT doc_id, n_tokens, CAST(coalesce(sum(n_tokens) OVER (" +
        "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset FROM n) " +
        "SELECT doc_id, n_tokens, start_offset, " +
        "CAST(floor(start_offset / 2048) AS BIGINT) AS shard FROM o")),
    QueryDef("m56_pack_segments", CorpusQueries.packSegments _,
      ("WITH n AS (SELECT doc_id, CAST(len(string_split_regex(lower(trim(text)), ' +')) AS BIGINT) AS n_tokens " +
        "FROM documents WHERE text IS NOT NULL), " +
        "o AS (SELECT doc_id, n_tokens, CAST(coalesce(sum(n_tokens) OVER (" +
        "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start FROM n), " +
        "e AS (SELECT doc_id, n_tokens, start, unnest(range(start // 2048, (start + n_tokens - 1) // 2048 + 1)) AS seq_id FROM o) " +
        "SELECT doc_id, seq_id, " +
        "greatest(start, seq_id * 2048) - start AS doc_from, " +
        "least(start + n_tokens, (seq_id + 1) * 2048) - start AS doc_to, " +
        "greatest(start, seq_id * 2048) - seq_id * 2048 AS seq_from, " +
        "least(start + n_tokens, (seq_id + 1) * 2048) - greatest(start, seq_id * 2048) AS n_seg_tokens FROM e")),
    // m60: the oracle replays the shingle walk as strings; the engine
    // counts FNV-hashed shingles — identical distinct counts up to 2^-64
    // collisions (the m14/m25 argument).
    QueryDef("m60_source_overlap", CorpusQueries.sourceOverlap _,
      ("WITH dt AS (SELECT source, string_split_regex(lower(trim(text)), ' +') AS t " +
        "FROM documents WHERE text IS NOT NULL), " +
        "g AS (SELECT DISTINCT source, gram FROM (SELECT source, " +
        "unnest(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS gram " +
        "FROM dt) x WHERE gram <> ''), " +
        "c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY 1), " +
        "p AS (SELECT a.source AS source_a, b.source AS source_b, CAST(count(*) AS BIGINT) AS n_shared " +
        "FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source GROUP BY 1, 2) " +
        "SELECT source_a, source_b, ca.n AS grams_a, cb.n AS grams_b, n_shared, " +
        "CAST(n_shared AS DOUBLE) / CAST(ca.n + cb.n - n_shared AS DOUBLE) AS jaccard " +
        "FROM p JOIN c ca ON p.source_a = ca.source JOIN c cb ON p.source_b = cb.source")),
    // m59: min/max are exact order-independent aggregates, and the affine
    // code/decode arithmetic is association-identical to ScalarQuantizer.sq8,
    // so codes AND errors hash-match bit-for-bit (no summation anywhere).
    QueryDef("m59_sq8_quantize", CorpusQueries.sq8Quantize _,
      ("WITH e0 AS (SELECT vec_id, " +
        "list_transform(generate_series(1, len(embedding)), i -> CAST(i - 1 AS BIGINT)) AS dims, " +
        "list_transform(generate_series(1, len(embedding)), i -> CAST(embedding[i] AS DOUBLE)) AS xs " +
        "FROM embeddings), " +
        "c AS (SELECT vec_id, unnest(dims) AS dim, unnest(xs) AS x FROM e0), " +
        "b AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM c GROUP BY 1), " +
        "q AS (SELECT vec_id, dim, x, mn, mx, " +
        "CASE WHEN mx = mn THEN 0 ELSE " +
        "CAST(greatest(least(floor((x - mn) / (mx - mn) * 255.0 + 0.5), 255.0), 0.0) AS BIGINT) END AS code " +
        "FROM c JOIN b USING (dim)) " +
        "SELECT vec_id, dim, code, " +
        "abs(x - (mn + CAST(code AS DOUBLE) / 255.0 * (mx - mn))) AS abs_err FROM q")),
    // m58: PMI arithmetic is association-identical to Collocations.pmiBigrams
    // (c_xy*N first, marginal product second, one ln over exact integers).
    QueryDef("m58_pmi_collocations", CorpusQueries.pmiCollocations _,
      ("WITH toks AS (SELECT string_split_regex(lower(trim(text)), ' +') AS t " +
        "FROM documents WHERE text IS NOT NULL), " +
        "bi0 AS (SELECT list_transform(generate_series(1, len(t)-1), i -> t[i]) AS w1s, " +
        "list_transform(generate_series(1, len(t)-1), i -> t[i+1]) AS w2s FROM toks), " +
        "bi AS (SELECT unnest(w1s) AS w1, unnest(w2s) AS w2 FROM bi0), " +
        "bc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy FROM bi GROUP BY 1, 2), " +
        "uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM (SELECT unnest(t) AS w FROM toks) x GROUP BY 1), " +
        "n AS (SELECT CAST(sum(greatest(len(t)-1, 0)) AS DOUBLE) AS nb FROM toks) " +
        "SELECT w1, w2, c_xy, u1.c AS c_x, u2.c AS c_y, " +
        "ln(CAST(c_xy AS DOUBLE) * nb / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE))) AS pmi " +
        "FROM bc JOIN uc u1 ON bc.w1 = u1.w JOIN uc u2 ON bc.w2 = u2.w CROSS JOIN n " +
        "WHERE c_xy >= 5")),
    // m57: OLS in log-log space from moment sums; the arithmetic below is
    // association-identical to CorpusLaws.lawsReport so both engines run
    // the same float expression tree (sums agree to ~1e-15, rounded @6dp).
    QueryDef("m57_corpus_laws", CorpusQueries.corpusLaws _,
      ("WITH tt AS (SELECT source, term FROM (SELECT source, " +
        "unnest(string_split_regex(lower(trim(text)), ' +')) AS term " +
        "FROM documents WHERE text IS NOT NULL) x WHERE term <> ''), " +
        "tf AS (SELECT term, CAST(count(*) AS BIGINT) AS tf FROM tt GROUP BY 1), " +
        "rk AS (SELECT tf, CAST(row_number() OVER (ORDER BY tf DESC, term ASC) AS DOUBLE) AS rk FROM tf), " +
        "z AS (SELECT CAST(count(*) AS DOUBLE) AS zn, sum(ln(rk)) AS zsx, " +
        "sum(ln(CAST(tf AS DOUBLE))) AS zsy, sum(ln(rk)*ln(rk)) AS zsxx, " +
        "sum(ln(rk)*ln(CAST(tf AS DOUBLE))) AS zsxy, " +
        "sum(ln(CAST(tf AS DOUBLE))*ln(CAST(tf AS DOUBLE))) AS zsyy, " +
        "sum(tf) AS total_tokens FROM rk), " +
        "s AS (SELECT source, CAST(count(*) AS DOUBLE) AS nt, " +
        "CAST(count(DISTINCT term) AS DOUBLE) AS nv FROM tt GROUP BY 1), " +
        "h AS (SELECT CAST(count(*) AS DOUBLE) AS hn, sum(ln(nt)) AS hsx, " +
        "sum(ln(nv)) AS hsy, sum(ln(nt)*ln(nt)) AS hsxx, " +
        "sum(ln(nt)*ln(nv)) AS hsxy, sum(ln(nv)*ln(nv)) AS hsyy FROM s) " +
        "SELECT CAST(total_tokens AS BIGINT) AS n_tokens, CAST(zn AS BIGINT) AS n_types, " +
        "(zn*zsxy - zsx*zsy)/nullif(zn*zsxx - zsx*zsx, 0.0) AS zipf_slope, " +
        "(zsy - (zn*zsxy - zsx*zsy)/nullif(zn*zsxx - zsx*zsx, 0.0)*zsx)/zn AS zipf_intercept, " +
        "((zn*zsxy - zsx*zsy)*(zn*zsxy - zsx*zsy))/nullif((zn*zsxx - zsx*zsx)*(zn*zsyy - zsy*zsy), 0.0) AS zipf_r2, " +
        "(hn*hsxy - hsx*hsy)/nullif(hn*hsxx - hsx*hsx, 0.0) AS heaps_beta, " +
        "(hsy - (hn*hsxy - hsx*hsy)/nullif(hn*hsxx - hsx*hsx, 0.0)*hsx)/hn AS heaps_logk, " +
        "((hn*hsxy - hsx*hsy)*(hn*hsxy - hsx*hsy))/nullif((hn*hsxx - hsx*hsx)*(hn*hsyy - hsy*hsy), 0.0) AS heaps_r2 " +
        "FROM z CROSS JOIN h")),
    QueryDef("m27_token_budget", CorpusQueries.tokenBudgetSample _,
      ("WITH n AS (SELECT doc_id, source, CAST(len(string_split_regex(lower(trim(text)), ' +')) AS BIGINT) AS n_tokens " +
        "FROM documents WHERE text IS NOT NULL), " +
        "o AS (SELECT doc_id, source, n_tokens, CAST(coalesce(sum(n_tokens) OVER (" +
        "PARTITION BY source ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before FROM n) " +
        "SELECT doc_id, source, n_tokens, cum_before FROM o WHERE cum_before < 500")),
    QueryDef("m31_line_dedup", CorpusQueries.lineDedup _,
      ("WITH b AS (SELECT doc_id, (CASE WHEN doc_id % 2 = 0 " +
        "THEN 'this site uses cookies accept to continue' " +
        "ELSE 'home products about contact' END) || chr(10) || text || chr(10) || " +
        "'subscribe to our newsletter for updates' || chr(10) || " +
        "'ref ' || CAST(doc_id AS VARCHAR) || chr(10) || " +
        "'copyright all rights reserved' AS text " +
        "FROM documents WHERE text IS NOT NULL), " +
        "sp AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM b), " +
        "l AS (SELECT doc_id, len(ls) AS n_lines, unnest(ls) AS line, " +
        "unnest(range(0, len(ls))) AS line_no FROM sp), " +
        "hv AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS df " +
        "FROM l GROUP BY 1) WHERE df >= 10), " +
        "k AS (SELECT * FROM l WHERE line NOT IN (SELECT line FROM hv)) " +
        "SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text_clean, " +
        "CAST(max(n_lines) AS BIGINT) AS n_lines, " +
        "CAST(max(n_lines) - count(*) AS BIGINT) AS n_dropped " +
        "FROM k GROUP BY doc_id")),
    QueryDef("m32_bigram_novelty", CorpusQueries.bigramNovelty _,
      ("WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t " +
        "FROM documents WHERE text IS NOT NULL), " +
        "w AS (SELECT doc_id, unnest(t) AS w, unnest(range(1, len(t)+1)) AS ord FROM toks), " +
        "b AS (SELECT doc_id, w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY ord) AS gram FROM w), " +
        "g AS (SELECT doc_id, gram FROM b WHERE gram IS NOT NULL), " +
        "c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY 1) " +
        "SELECT doc_id, count(*) AS n_bigrams, " +
        "CAST(sum(CASE WHEN cnt <= 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare, " +
        "CAST(sum(CASE WHEN cnt <= 25 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS rare_rate, " +
        "avg(ln(cnt)) AS mean_log_freq " +
        "FROM g JOIN c USING (gram) GROUP BY doc_id")),
    QueryDef("m33_semantic_dedup", CorpusQueries.semanticDedup _,
      replay(CorpusQueries.semanticDedupModel) { case (m, off) =>
        OracleModelSql.semanticDedup(m, off, 0.99, 2) }),
    QueryDef("m43_lm_perplexity", CorpusQueries.lmPerplexity _,
      (LmPerplexityCtes +
        "SELECT doc_id, n_bigrams, cross_entropy, exp(cross_entropy) AS perplexity FROM h")),
    // m138: interpolated Kneser–Ney bigram self-perplexity — the
    // smoothing the CCNet/KenLM perplexity-filter canon ships
    // (continuation-count backoff, counts-of-counts discount); one
    // tier above m43's add-α LM
    // m138: interpolated Kneser–Ney on the SAME bigram count table —
    // context/continuation N1+ tables are re-aggregations of `c`, the
    // discount is the counts-of-counts estimate n1/(n1+2·n2), and every
    // arithmetic step mirrors KneserNey.scoreAgainst's operation order
    // (left-assoc products, greatest-clips) so the doubles agree at the
    // gate's 6-dp rounding exactly like m43's add-α chain does.
    QueryDef("m138_kneser_ney", CorpusQueries.kneserNeyPerplexity _,
      (BigramLmCtes +
        ", ctxk AS (SELECT a, sum(cab) AS ca, CAST(count(*) AS DOUBLE) AS nf FROM c GROUP BY 1), " +
        "cont AS (SELECT b, CAST(count(*) AS DOUBLE) AS nb FROM c GROUP BY 1), " +
        "gd AS (SELECT CAST(count(*) AS DOUBLE) AS dd, " +
        "CAST(count(*) FILTER (WHERE cab = 1) AS DOUBLE) AS n1, " +
        "CAST(count(*) FILTER (WHERE cab = 2) AS DOUBLE) AS n2, " +
        "CAST(count(DISTINCT b) AS DOUBLE) AS t FROM c), " +
        "gk AS (SELECT dd, t, vs, " +
        "CASE WHEN n1 + 2.0 * n2 > 0.0 THEN n1 / (n1 + 2.0 * n2) ELSE 0.0 END AS disc " +
        "FROM gd CROSS JOIN v), " +
        "h AS (SELECT doc_id, count(*) AS n_bigrams, " +
        "-avg(ln(greatest(cab - disc, 0.0) / ca + disc * nf / ca * " +
        "(greatest(nb - disc, 0.0) / dd + disc * t / dd / vs))) AS cross_entropy " +
        "FROM g JOIN c USING (a, b) JOIN ctxk USING (a) JOIN cont USING (b) " +
        "CROSS JOIN gk GROUP BY doc_id) " +
        "SELECT doc_id, n_bigrams, cross_entropy, exp(cross_entropy) AS perplexity FROM h")),
    // m139: WordPiece tokenizer accounting (Schuster & Nakajima 2012 /
    // BERT) — likelihood-scored merges, greedy longest-match encode
    // with [UNK] fallback; the THIRD tokenizer family beside m40's BPE
    // and m135's unigram-LM (captured-vocabulary oracle replay)
    QueryDef("m139_wordpiece_tokens", CorpusQueries.wordPieceTokenStats _,
      replay(CorpusQueries.wordPieceTokenStatsPieces)(OracleModelSql.wordPieceStats)
        .when(_.nonEmpty)),
    // m142: MODIFIED Kneser–Ney (Chen & Goodman 1998, the KenLM
    // default): per-count discounts D1/D2/D3+ estimated from the
    // counts-of-counts, per-context type-count interpolation weights —
    // the faithful form of the m138 smoothing tier
    // m142: modified KN on the same shared prefix — per-count discounts
    // D1/D2/D3+ with the clip/degrade guards mirrored branch-for-branch,
    // per-context type counts t1/t2/t3 feeding the interpolation weight,
    // continuation level identical to m138's.
    QueryDef("m142_modified_kn", CorpusQueries.modifiedKnPerplexity _,
      (BigramLmCtes +
        ", ctxm AS (SELECT a, sum(cab) AS ca, " +
        "CAST(count(*) FILTER (WHERE cab = 1) AS DOUBLE) AS t1, " +
        "CAST(count(*) FILTER (WHERE cab = 2) AS DOUBLE) AS t2, " +
        "CAST(count(*) FILTER (WHERE cab >= 3) AS DOUBLE) AS t3 FROM c GROUP BY 1), " +
        "cont AS (SELECT b, CAST(count(*) AS DOUBLE) AS nb FROM c GROUP BY 1), " +
        "gd AS (SELECT CAST(count(*) AS DOUBLE) AS dd, " +
        "CAST(count(*) FILTER (WHERE cab = 1) AS DOUBLE) AS n1, " +
        "CAST(count(*) FILTER (WHERE cab = 2) AS DOUBLE) AS n2, " +
        "CAST(count(*) FILTER (WHERE cab = 3) AS DOUBLE) AS n3, " +
        "CAST(count(*) FILTER (WHERE cab = 4) AS DOUBLE) AS n4, " +
        "CAST(count(DISTINCT b) AS DOUBLE) AS t FROM c), " +
        "gy AS (SELECT *, CASE WHEN n1 + 2.0 * n2 > 0.0 " +
        "THEN n1 / (n1 + 2.0 * n2) ELSE 0.0 END AS y FROM gd CROSS JOIN v), " +
        "gk AS (SELECT dd, t, vs, y, y AS disc, " +
        "CASE WHEN n1 > 0.0 THEN greatest(1.0 - 2.0 * y * n2 / n1, 0.0) ELSE 0.0 END AS d1, " +
        "CASE WHEN n2 > 0.0 THEN greatest(2.0 - 3.0 * y * n3 / n2, 0.0) ELSE 0.0 END AS d2, " +
        "CASE WHEN n3 > 0.0 THEN greatest(3.0 - 4.0 * y * n4 / n3, 0.0) ELSE y END AS d3 FROM gy), " +
        "h AS (SELECT doc_id, count(*) AS n_bigrams, " +
        "-avg(ln(greatest(cab - (CASE WHEN cab = 1 THEN d1 WHEN cab = 2 THEN d2 ELSE d3 END), 0.0) / ca + " +
        "(d1 * t1 + d2 * t2 + d3 * t3) / ca * " +
        "(greatest(nb - disc, 0.0) / dd + disc * t / dd / vs))) AS cross_entropy " +
        "FROM g JOIN c USING (a, b) JOIN ctxm USING (a) JOIN cont USING (b) " +
        "CROSS JOIN gk GROUP BY doc_id) " +
        "SELECT doc_id, n_bigrams, cross_entropy, exp(cross_entropy) AS perplexity FROM h")),
    // m143: per-source WordPiece fertility + UNK rate under the m139
    // shared model — the m79/m136 report for the third tokenizer
    // family; unk_rate is the closed-vocabulary drift signal
    QueryDef("m143_wordpiece_fertility", CorpusQueries.wordPieceFertility _,
      replay(CorpusQueries.wordPieceFertilityPieces)(OracleModelSql.wordPieceFertility)
        .when(_.nonEmpty)),
    // m144: TRIGRAM interpolated Kneser–Ney — the order-3 recursion
    // (trigram discounts, continuation-count lower order, m138 unigram
    // termination); the order public KenLM configs start at
    // m144: the order-3 KN chain from scratch — trigram stream via two
    // leads, c' = per-(b,c) trigram-TYPE counts, every statistic a
    // re-aggregation of c3, arithmetic mirrored left-assoc like m138.
    // (prefix shared with m145 — the one-recursion discipline holds on
    // the oracle side too)
    QueryDef("m144_trigram_kn", CorpusQueries.trigramKnPerplexity _,
      (TrigramLmCtes +
        ", gk AS (SELECT dd2, t2, vs, " +
        "CASE WHEN n13 + 2.0 * n23 > 0.0 THEN n13 / (n13 + 2.0 * n23) ELSE 0.0 END AS d3, " +
        "CASE WHEN n12 + 2.0 * n22 > 0.0 THEN n12 / (n12 + 2.0 * n22) ELSE 0.0 END AS d2 " +
        "FROM g3 CROSS JOIN g2 CROSS JOIN v), " +
        "h AS (SELECT doc_id, count(*) AS n_trigrams, " +
        "-avg(ln(greatest(cabc - d3, 0.0) / cab + d3 * nf3 / cab * " +
        "(greatest(cbc - d2, 0.0) / cb + d2 * nf2 / cb * " +
        "(greatest(nb2 - d2, 0.0) / dd2 + d2 * t2 / dd2 / vs)))) AS cross_entropy " +
        "FROM g JOIN c3 USING (a, b, c) JOIN ctx3 USING (a, b) JOIN cp USING (b, c) " +
        "JOIN ctx2 USING (b) JOIN cont2 USING (c) CROSS JOIN gk GROUP BY doc_id) " +
        "SELECT doc_id, n_trigrams, cross_entropy, exp(cross_entropy) AS perplexity FROM h")),
    // m145: trigram MODIFIED KN — the per-count D1/D2/D3+ ladder at
    // order 3, the config public KenLM defaults to; one flag on the
    // unified order-n recursion
    // m145: trigram MODIFIED KN — the same shared prefix, the per-count
    // D1/D2/D3+ ladder (clip/degrade guards mirrored branch-for-branch,
    // Y = the trigram single-discount estimate) at the top level only;
    // bigram/unigram levels identical to m144's.
    QueryDef("m145_modified_trigram_kn", CorpusQueries.modifiedTrigramKnPerplexity _,
      (TrigramLmCtes +
        ", gy AS (SELECT *, CASE WHEN n13 + 2.0 * n23 > 0.0 " +
        "THEN n13 / (n13 + 2.0 * n23) ELSE 0.0 END AS y " +
        "FROM g3 CROSS JOIN g2 CROSS JOIN v), " +
        "gk AS (SELECT dd2, t2, vs, y, " +
        "CASE WHEN n12 + 2.0 * n22 > 0.0 THEN n12 / (n12 + 2.0 * n22) ELSE 0.0 END AS d2, " +
        "CASE WHEN n13 > 0.0 THEN greatest(1.0 - 2.0 * y * n23 / n13, 0.0) ELSE 0.0 END AS md1, " +
        "CASE WHEN n23 > 0.0 THEN greatest(2.0 - 3.0 * y * n33 / n23, 0.0) ELSE 0.0 END AS md2, " +
        "CASE WHEN n33 > 0.0 THEN greatest(3.0 - 4.0 * y * n43 / n33, 0.0) ELSE y END AS md3 FROM gy), " +
        "h AS (SELECT doc_id, count(*) AS n_trigrams, " +
        "-avg(ln(greatest(cabc - (CASE WHEN cabc = 1 THEN md1 WHEN cabc = 2 THEN md2 ELSE md3 END), 0.0) / cab + " +
        "(md1 * tm1 + md2 * tm2 + md3 * tm3) / cab * " +
        "(greatest(cbc - d2, 0.0) / cb + d2 * nf2 / cb * " +
        "(greatest(nb2 - d2, 0.0) / dd2 + d2 * t2 / dd2 / vs)))) AS cross_entropy " +
        "FROM g JOIN c3 USING (a, b, c) JOIN ctx3 USING (a, b) JOIN cp USING (b, c) " +
        "JOIN ctx2 USING (b) JOIN cont2 USING (c) CROSS JOIN gk GROUP BY doc_id) " +
        "SELECT doc_id, n_trigrams, cross_entropy, exp(cross_entropy) AS perplexity FROM h")),
    // m146: language-ID under the REAL labeled-set contract — train on
    // an external JSONL labeled set (production reader + quarantine),
    // score the 20% holdout (captured-weights replay,
    // OracleModelSql.langIdLabeledScore)
    QueryDef("m146_langid_labeled", CorpusQueries.langIdLabeled _,
      replay(CorpusQueries.langIdLabeledWeights) { case (cl, wq, off) =>
        OracleModelSql.langIdLabeledScore(cl, wq, off) }.when(_._1.nonEmpty)),
    // m147: per-class calibration card over the labeled-set model's
    // posteriors — the m98 ECE recipe per predicted class, integer-
    // quantized confidences (OracleModelSql.langIdCalibration)
    QueryDef("m147_langid_calibration", CorpusQueries.langIdCalibration _,
      replay(CorpusQueries.langIdCalibrationWeights) { case (cl, wq, off) =>
        OracleModelSql.langIdCalibration(cl, wq, off) }.when(_._1.nonEmpty)),
    // m140: HyperLogLog per-source shingle-cardinality card (Flajolet
    // 2007) — the mergeable bounded-state distinct the 100 TB tier uses
    // where exact distinct is a corpus-sized exchange; registers and
    // the estimate replay bit-for-bit (dyadic register sums are exact
    // doubles), certified against the exact count per source
    // m140: the register table AND the estimate recomputed from scratch
    // — the m105 shingle CTEs (shared tokenization contract), the m137
    // md5-hex12 48-bit hash, bucket/rho by exact integer ops (bin() is
    // the minimal binary string in both engines — no float log2), and
    // the register sum Σ2^-rho is a sum of dyadics ≥ 2^-37 bounded by
    // 2^12, EXACT in a double regardless of order — so raw estimate and
    // the linear-counting branch selection are bit-identical
    // cross-engine; ln/division differences vanish at the 6-dp gate.
    QueryDef("m140_hll_cardinality", CorpusQueries.hllCardinality _,
      (HllRegisterCtes +
        ", pe AS (SELECT source, CAST(count(*) AS BIGINT) AS registers_hit, " +
        "sum(power(2.0, -rho)) AS sp FROM rr GROUP BY 1), " +
        "es AS (SELECT source, registers_hit, " +
        s"${graft.operators.HyperLogLog.AlphaM2} / (sp + CAST(4096 - registers_hit AS DOUBLE)) AS raw FROM pe), " +
        "fin AS (SELECT source, registers_hit, " +
        "CASE WHEN raw <= 10240.0 AND registers_hit < 4096 " +
        "THEN 4096.0 * ln(4096.0 / CAST(4096 - registers_hit AS DOUBLE)) " +
        "ELSE raw END AS hll_estimate FROM es), " +
        "ex AS (SELECT source, CAST(count(DISTINCT h) AS BIGINT) AS exact_distinct " +
        "FROM hs GROUP BY 1) " +
        "SELECT f.source, x.exact_distinct, f.registers_hit, f.hll_estimate, " +
        "(f.hll_estimate - CAST(x.exact_distinct AS DOUBLE)) / CAST(x.exact_distinct AS DOUBLE) AS rel_err " +
        "FROM fin f JOIN ex x USING (source)")),
    // m148: the HLL MERGE path under real use — per-source sketches
    // unioned into the corpus-wide distinct-shingle estimate by
    // pointwise register max, no second pass over the shingle stream
    // (feeds the LshPlanner sizing at 100 TB)
    // m148: the merge path — per-source register tables unioned into
    // the corpus-wide sketch by pointwise max (rm), each scope
    // estimated by the identical dyadic-exact arithmetic; the ALL row
    // derives ONLY from the per-source registers, as in the engine.
    QueryDef("m148_hll_union", CorpusQueries.hllUnionCard _,
      (HllRegisterCtes +
        ", pe AS (SELECT source AS scope, CAST(count(*) AS BIGINT) AS registers_hit, " +
        "sum(power(2.0, -rho)) AS sp FROM rr GROUP BY 1), " +
        "rm AS (SELECT bucket, max(rho) AS rho FROM rr GROUP BY 1), " +
        "pm AS (SELECT 'ALL' AS scope, CAST(count(*) AS BIGINT) AS registers_hit, " +
        "sum(power(2.0, -rho)) AS sp FROM rm HAVING count(*) > 0), " +
        "ps AS (SELECT * FROM pe UNION ALL SELECT * FROM pm), " +
        "es AS (SELECT scope, registers_hit, " +
        s"${graft.operators.HyperLogLog.AlphaM2} / (sp + CAST(4096 - registers_hit AS DOUBLE)) AS raw FROM ps) " +
        "SELECT scope, registers_hit, " +
        "CASE WHEN raw <= 10240.0 AND registers_hit < 4096 " +
        "THEN 4096.0 * ln(4096.0 / CAST(4096 - registers_hit AS DOUBLE)) " +
        "ELSE raw END AS hll_estimate FROM es")),
    // m149: Count-Min frequency card — the sketch triad's frequency
    // leg: per-source 4x1024 counters merged corpus-wide by add,
    // probed with the exact top-20 shingles, one-sided error certified
    // m149: the corpus-wide Count-Min counters recomputed directly
    // (GROUP BY over all sources ≡ the engine's per-source merge, by
    // the spec-pinned add-associativity), the same md5("j:gram")
    // bucket arithmetic, exact top-20 probe with min-over-rows.
    QueryDef("m149_cms_frequency", CorpusQueries.cmsFrequencyCard _,
      ("WITH d AS (SELECT source, text FROM documents WHERE text IS NOT NULL), " +
        "toks AS (SELECT source, string_split_regex(lower(trim(text)), ' +') AS t FROM d), " +
        "g AS (SELECT source, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS gs FROM toks), " +
        "occ AS (SELECT source, gram FROM (SELECT source, unnest(gs) AS gram FROM g) WHERE gram <> ''), " +
        "cms AS (SELECT r, ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || gram), 1, 12))::BIGINT % 1024 AS bucket, " +
        "CAST(count(*) AS BIGINT) AS cnt FROM occ CROSS JOIN range(4) t(r) GROUP BY 1, 2), " +
        "ex AS (SELECT gram, CAST(count(*) AS BIGINT) AS exact_count FROM occ GROUP BY 1), " +
        "top AS (SELECT gram, exact_count FROM ex ORDER BY exact_count DESC, gram LIMIT 20), " +
        "pe AS (SELECT t.gram, rr.r, ('0x' || substr(md5(CAST(rr.r AS VARCHAR) || ':' || t.gram), 1, 12))::BIGINT % 1024 AS bucket " +
        "FROM top t CROSS JOIN range(4) rr(r)), " +
        "est AS (SELECT pe.gram, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_estimate " +
        "FROM pe LEFT JOIN cms c ON c.r = pe.r AND c.bucket = pe.bucket GROUP BY 1) " +
        "SELECT t.gram, t.exact_count, e.cms_estimate, " +
        "CAST(e.cms_estimate - t.exact_count AS BIGINT) AS overcount " +
        "FROM top t JOIN est e USING (gram)")),
    // m150: mergeable histogram quantile sketch — the triad's quantile
    // leg: per-source 1024-bucket integer histograms merged by add,
    // p50/p90/p99 vs exact nearest-rank with the deterministic
    // ceil(R/W) bound certified per row
    // m150: pure-integer bucketing ((v-lo)*1024 // r), window cumsum
    // picks the rank bucket/value, upper-bound arithmetic mirrored
    // div-for-div; q cast to DOUBLE (a DuckDB VALUES 0.5 is DECIMAL
    // and would change the rank multiply).
    QueryDef("m150_histogram_quantiles", CorpusQueries.histogramQuantileCard _,
      ("WITH d AS (SELECT len(string_split_regex(lower(trim(text)), ' +')) AS v " +
        "FROM documents WHERE text IS NOT NULL), " +
        "rg AS (SELECT CAST(min(v) AS BIGINT) AS lo, CAST(max(v) AS BIGINT) AS hi, " +
        "CAST(max(v) AS BIGINT) - CAST(min(v) AS BIGINT) + 1 AS r FROM d), " +
        "bk AS (SELECT ((CAST(v AS BIGINT) - lo) * 1024) // r AS bucket FROM d CROSS JOIN rg), " +
        "hs AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cnt FROM bk GROUP BY 1), " +
        "nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hs), " +
        "qs AS (SELECT CAST(x AS DOUBLE) AS q FROM (VALUES (0.5), (0.9), (0.99)) v(x)), " +
        "rk AS (SELECT q, n, greatest(CAST(ceil(q * n) AS BIGINT), 1) AS rnk FROM qs CROSS JOIN nn), " +
        "cum AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum FROM hs), " +
        "pick AS (SELECT q, min(bucket) AS b FROM rk JOIN cum ON cum.cum >= rk.rnk GROUP BY 1), " +
        "vc AS (SELECT CAST(v AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY 1), " +
        "vcum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM vc), " +
        "exq AS (SELECT q, min(v) AS exact FROM rk JOIN vcum ON vcum.cum >= rk.rnk GROUP BY 1), " +
        "fin AS (SELECT rk.q, rk.n, " +
        "CAST(rg.lo + ((p.b + 1) * rg.r + 1023) // 1024 - 1 AS BIGINT) AS est, " +
        "CAST(e.exact AS BIGINT) AS exact, " +
        "CAST((rg.r + 1023) // 1024 AS BIGINT) AS bound " +
        "FROM rk JOIN pick p USING (q) JOIN exq e USING (q) CROSS JOIN rg) " +
        "SELECT q, n, est, exact, CAST(est - exact AS BIGINT) AS abs_err, bound FROM fin")),
    // m151: the sketch triad's CONSUMER — m132's per-source quantile
    // card served from MERGED shard sketches (p90 = the source's
    // truncation cap); hash gate proves merge-path ≡ direct arithmetic
    // m151: m150's integer replay grouped per source; the oracle computes
    // buckets DIRECTLY (no shard split), so hash equality is itself the
    // merge-correctness proof. Global range, per-source windows.
    QueryDef("m151_sketch_source_quantiles", CorpusQueries.sketchSourceQuantiles _,
      ("WITH d AS (SELECT source, len(string_split_regex(lower(trim(text)), ' +')) AS v " +
        "FROM documents WHERE text IS NOT NULL), " +
        "rg AS (SELECT CAST(min(v) AS BIGINT) AS lo, CAST(max(v) AS BIGINT) AS hi, " +
        "CAST(max(v) AS BIGINT) - CAST(min(v) AS BIGINT) + 1 AS r FROM d), " +
        "bk AS (SELECT source, ((CAST(v AS BIGINT) - lo) * 1024) // r AS bucket FROM d CROSS JOIN rg), " +
        "hs AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS cnt FROM bk GROUP BY 1, 2), " +
        "nn AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n FROM hs GROUP BY 1), " +
        "qs AS (SELECT CAST(x AS DOUBLE) AS q FROM (VALUES (0.25), (0.5), (0.75), (0.9)) v(x)), " +
        "rk AS (SELECT source, q, n, greatest(CAST(ceil(q * n) AS BIGINT), 1) AS rnk FROM qs CROSS JOIN nn), " +
        "cum AS (SELECT source, bucket, sum(cnt) OVER (PARTITION BY source ORDER BY bucket) AS cum FROM hs), " +
        "pick AS (SELECT rk.source, q, min(bucket) AS b FROM rk JOIN cum " +
        "ON cum.source = rk.source AND cum.cum >= rk.rnk GROUP BY 1, 2), " +
        "vc AS (SELECT source, CAST(v AS BIGINT) AS v, CAST(count(*) AS BIGINT) AS cnt FROM d GROUP BY 1, 2), " +
        "vcum AS (SELECT source, v, sum(cnt) OVER (PARTITION BY source ORDER BY v) AS cum FROM vc), " +
        "exq AS (SELECT rk.source, q, min(v) AS exact FROM rk JOIN vcum " +
        "ON vcum.source = rk.source AND vcum.cum >= rk.rnk GROUP BY 1, 2) " +
        "SELECT rk.source, rk.q, rk.n, " +
        "CAST(rg.lo + ((p.b + 1) * rg.r + 1023) // 1024 - 1 AS BIGINT) AS est, " +
        "CAST(e.exact AS BIGINT) AS exact, " +
        "CAST(rg.lo + ((p.b + 1) * rg.r + 1023) // 1024 - 1 - e.exact AS BIGINT) AS abs_err, " +
        "CAST((rg.r + 1023) // 1024 AS BIGINT) AS bound " +
        "FROM rk JOIN pick p ON p.source = rk.source AND p.q = rk.q " +
        "JOIN exq e ON e.source = rk.source AND e.q = rk.q CROSS JOIN rg")),
    // m152: the frequency sketch consumed in the dedup planner's
    // decision — CMS point estimates pick the stop-grams the m14 dfCap
    // rule prunes, one-sidedness certified (missed_prunes ≡ 0)
    // m152: the df stream is the per-doc DISTINCT gram set (gd), CMS
    // counters/estimates replayed with the m149 idioms, both policies'
    // prune bits and pair budgets recomputed as exact integers.
    QueryDef("m152_cms_prune_plan", ((s, dir) => CorpusQueries.cmsPrunePlan(s, dir)),
      ("WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL), " +
        "toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t FROM d), " +
        "g AS (SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS gs FROM toks), " +
        "gd AS (SELECT DISTINCT doc_id, gram FROM (SELECT doc_id, unnest(gs) AS gram FROM g) WHERE gram <> ''), " +
        "cms AS (SELECT r, ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || gram), 1, 12))::BIGINT % 1024 AS bucket, " +
        "CAST(count(*) AS BIGINT) AS cnt FROM gd CROSS JOIN range(4) t(r) GROUP BY 1, 2), " +
        "dfT AS (SELECT gram, CAST(count(*) AS BIGINT) AS df FROM gd GROUP BY 1), " +
        "pe AS (SELECT t.gram, rr.r, ('0x' || substr(md5(CAST(rr.r AS VARCHAR) || ':' || t.gram), 1, 12))::BIGINT % 1024 AS bucket " +
        "FROM dfT t CROSS JOIN range(4) rr(r)), " +
        "est AS (SELECT pe.gram, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est " +
        "FROM pe LEFT JOIN cms c ON c.r = pe.r AND c.bucket = pe.bucket GROUP BY 1), " +
        "j AS (SELECT t.df, e.est, t.df > 8 AS pe_, e.est > 8 AS pc_ " +
        "FROM dfT t JOIN est e USING (gram)) " +
        "SELECT CAST(8 AS BIGINT) AS tau, CAST(count(*) AS BIGINT) AS n_grams, " +
        "CAST(count(*) FILTER (WHERE pe_) AS BIGINT) AS exact_pruned, " +
        "CAST(count(*) FILTER (WHERE pc_) AS BIGINT) AS cms_pruned, " +
        "CAST(count(*) FILTER (WHERE pc_ AND NOT pe_) AS BIGINT) AS false_prunes, " +
        "CAST(count(*) FILTER (WHERE pe_ AND NOT pc_) AS BIGINT) AS missed_prunes, " +
        "CAST(sum(CASE WHEN NOT pe_ THEN df * (df - 1) // 2 ELSE 0 END) AS BIGINT) AS pair_budget_exact, " +
        "CAST(sum(CASE WHEN NOT pc_ THEN df * (df - 1) // 2 ELSE 0 END) AS BIGINT) AS pair_budget_cms " +
        // HAVING mirrors the Spark side's n_grams > 0 gate: a global
        // aggregate over an empty corpus must yield ZERO rows in BOTH
        // engines (the m148 empty-card contract; ADVICE r18)
        "FROM j HAVING count(*) > 0")),
    // m155/m156: the sketch tier's PRODUCTION modes —
    // m149/m152 with the exact certificate legs off, i.e. the work that
    // actually remains at 100 TB (bounded counter build + bounded
    // watchlist probe / map-side broadcast policy). The certified rows
    // stay the estimate-quality gates; these pin the production walls.
    // m155: the production frequency path replayed — the m149 counters
    // verbatim, probed with the deterministic watchlist (min-doc_id
    // document's distinct shingles, first 20 by gram order) instead of
    // the exact top-20; every value an exact integer.
    QueryDef("m155_cms_frequency_prod", ((s, dir) => CorpusQueries.cmsFrequencyProduction(s, dir)),
      ("WITH d AS (SELECT source, text FROM documents WHERE text IS NOT NULL), " +
        "toks AS (SELECT source, string_split_regex(lower(trim(text)), ' +') AS t FROM d), " +
        "g AS (SELECT source, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS gs FROM toks), " +
        "occ AS (SELECT source, gram FROM (SELECT source, unnest(gs) AS gram FROM g) WHERE gram <> ''), " +
        "cms AS (SELECT r, ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || gram), 1, 12))::BIGINT % 1024 AS bucket, " +
        "CAST(count(*) AS BIGINT) AS cnt FROM occ CROSS JOIN range(4) t(r) GROUP BY 1, 2), " +
        "fd AS (SELECT min(doc_id) AS doc_id FROM documents WHERE text IS NOT NULL), " +
        "ft AS (SELECT string_split_regex(lower(trim(text)), ' +') AS t " +
        "FROM documents JOIN fd USING (doc_id)), " +
        "fg AS (SELECT CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS gs FROM ft), " +
        "watch AS (SELECT DISTINCT gram FROM (SELECT unnest(gs) AS gram FROM fg) " +
        "WHERE gram <> '' ORDER BY gram LIMIT 20), " +
        "pe AS (SELECT w.gram, rr.r, ('0x' || substr(md5(CAST(rr.r AS VARCHAR) || ':' || w.gram), 1, 12))::BIGINT % 1024 AS bucket " +
        "FROM watch w CROSS JOIN range(4) rr(r)) " +
        "SELECT pe.gram, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_estimate " +
        "FROM pe LEFT JOIN cms c ON c.r = pe.r AND c.bucket = pe.bucket GROUP BY 1")),
    // m156: the production prune policy replayed — the m152 counters
    // verbatim, est per distinct gram joined back to the (doc, gram)
    // stream, both counts exact integers; HAVING mirrors the Spark
    // empty-corpus gate.
    QueryDef("m156_cms_prune_prod", ((s, dir) => CorpusQueries.cmsPruneProduction(s, dir)),
      ("WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL), " +
        "toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t FROM d), " +
        "g AS (SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS gs FROM toks), " +
        "gd AS (SELECT DISTINCT doc_id, gram FROM (SELECT doc_id, unnest(gs) AS gram FROM g) WHERE gram <> ''), " +
        "cms AS (SELECT r, ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || gram), 1, 12))::BIGINT % 1024 AS bucket, " +
        "CAST(count(*) AS BIGINT) AS cnt FROM gd CROSS JOIN range(4) t(r) GROUP BY 1, 2), " +
        "dfg AS (SELECT DISTINCT gram FROM gd), " +
        "pe AS (SELECT t.gram, rr.r, ('0x' || substr(md5(CAST(rr.r AS VARCHAR) || ':' || t.gram), 1, 12))::BIGINT % 1024 AS bucket " +
        "FROM dfg t CROSS JOIN range(4) rr(r)), " +
        "est AS (SELECT pe.gram, min(coalesce(c.cnt, 0)) AS e " +
        "FROM pe LEFT JOIN cms c ON c.r = pe.r AND c.bucket = pe.bucket GROUP BY 1), " +
        "j AS (SELECT e.e FROM gd JOIN est e USING (gram)) " +
        "SELECT CAST(8 AS BIGINT) AS tau, CAST(count(*) AS BIGINT) AS n_pairs, " +
        "CAST(count(*) FILTER (WHERE e > 8) AS BIGINT) AS n_pairs_pruned " +
        "FROM j HAVING count(*) > 0")),
    // m101: Cohen's κ between the three quality gates (rule / learned /
    // perplexity) — the gate-redundancy report (captured-weights replay,
    // OracleModelSql.gateAgreement)
    QueryDef("m101_gate_agreement", CorpusQueries.gateAgreement _,
      replay(CorpusQueries.gateAgreementWeights)(OracleModelSql.gateAgreement)),
    // m153: KMV k-minimum-values sketch — the set-OPERATION leg (HLL
    // unions, KMV intersects): pairwise source Jaccard estimates from
    // sketches alone, certified against the exact m60-style overlap
    // m153: KMV replay — per-source k-smallest distinct hash48 rows via
    // row_number, the pair union's k-smallest the same way, membership
    // via left joins; Jaccard divisions double-for-double.
    QueryDef("m153_kmv_source_overlap", ((s, dir) => CorpusQueries.kmvSourceOverlap(s, dir)),
      ("WITH d AS (SELECT source, text FROM documents WHERE text IS NOT NULL), " +
        "toks AS (SELECT source, string_split_regex(lower(trim(text)), ' +') AS t FROM d), " +
        "g AS (SELECT source, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS gs FROM toks), " +
        "gd AS (SELECT DISTINCT source, ('0x' || substr(md5(gram), 1, 12))::BIGINT AS h " +
        "FROM (SELECT source, unnest(gs) AS gram FROM g) WHERE gram <> ''), " +
        "sk AS (SELECT source, h FROM (SELECT source, h, " +
        s"row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM gd) WHERE rn <= $KmvK), " +
        "srcs AS (SELECT DISTINCT source FROM gd), " +
        "p AS (SELECT a.source AS src_a, b.source AS src_b FROM srcs a JOIN srcs b ON a.source < b.source), " +
        "ku AS (SELECT src_a, src_b, h, row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn " +
        "FROM (SELECT DISTINCT p.src_a, p.src_b, s.h FROM p JOIN sk s ON s.source = p.src_a OR s.source = p.src_b)), " +
        s"kk AS (SELECT src_a, src_b, h FROM ku WHERE rn <= $KmvK), " +
        "est AS (SELECT k.src_a, k.src_b, CAST(count(*) AS BIGINT) AS k_used, " +
        "CAST(count(*) FILTER (WHERE sa.h IS NOT NULL AND sb.h IS NOT NULL) AS DOUBLE) / " +
        "CAST(count(*) AS DOUBLE) AS est_jaccard " +
        "FROM kk k LEFT JOIN sk sa ON sa.source = k.src_a AND sa.h = k.h " +
        "LEFT JOIN sk sb ON sb.source = k.src_b AND sb.h = k.h GROUP BY 1, 2), " +
        "nd AS (SELECT source, CAST(count(*) AS BIGINT) AS nd FROM gd GROUP BY 1), " +
        "ni AS (SELECT x.source AS src_a, y.source AS src_b, CAST(count(*) AS BIGINT) AS n_inter " +
        "FROM gd x JOIN gd y ON x.h = y.h AND x.source < y.source GROUP BY 1, 2) " +
        "SELECT e.src_a, e.src_b, e.k_used, e.est_jaccard, " +
        "CAST(coalesce(ni.n_inter, 0) AS DOUBLE) / CAST(na.nd + nb.nd - coalesce(ni.n_inter, 0) AS DOUBLE) AS exact_jaccard, " +
        "abs(e.est_jaccard - CAST(coalesce(ni.n_inter, 0) AS DOUBLE) / CAST(na.nd + nb.nd - coalesce(ni.n_inter, 0) AS DOUBLE)) AS abs_err " +
        "FROM est e JOIN nd na ON na.source = e.src_a JOIN nd nb ON nb.source = e.src_b " +
        "LEFT JOIN ni ON ni.src_a = e.src_a AND ni.src_b = e.src_b")),
    // m154: the KMV K-WAY consumer — every source sketch folded into
    // one corpus sketch (k-way merge ≡ pairwise chain, spec-pinned);
    // the combined-corpus distinct card at |sources|×k-longs cost, the
    // exact corpus-wide distinct riding along as the certificate
    // m154: the k-way fold replayed as the k smallest over the union of
    // per-source sketches; the estimator's constant (k−1)·2⁴⁸ is an
    // exact double in both engines (k interpolated from KmvK so the
    // engines share one constant — ADVICE r19), division double-for-
    // double; WHERE n_sources > 0 mirrors the Spark empty-corpus gate.
    QueryDef("m154_kmv_union_card", ((s, dir) => CorpusQueries.kmvCorpusUnionCard(s, dir)),
      ("WITH d AS (SELECT source, text FROM documents WHERE text IS NOT NULL), " +
        "toks AS (SELECT source, string_split_regex(lower(trim(text)), ' +') AS t FROM d), " +
        "g AS (SELECT source, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS gs FROM toks), " +
        "gd AS (SELECT DISTINCT source, ('0x' || substr(md5(gram), 1, 12))::BIGINT AS h " +
        "FROM (SELECT source, unnest(gs) AS gram FROM g) WHERE gram <> ''), " +
        "sk AS (SELECT source, h FROM (SELECT source, h, " +
        s"row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM gd) WHERE rn <= $KmvK), " +
        "kk AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn " +
        s"FROM (SELECT DISTINCT h FROM sk)) WHERE rn <= $KmvK), " +
        "card AS (SELECT CAST(count(*) AS BIGINT) AS k_used, max(h) AS hk FROM kk), " +
        "ns AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_sources FROM gd), " +
        "ex AS (SELECT CAST(count(DISTINCT h) AS BIGINT) AS exact_distinct FROM gd), " +
        s"est AS (SELECT CASE WHEN card.k_used < $KmvK THEN CAST(card.k_used AS DOUBLE) " +
        s"ELSE (CAST(${KmvK - 1} AS DOUBLE) * CAST(281474976710656 AS DOUBLE)) / CAST(greatest(card.hk, 1) AS DOUBLE) END AS e, " +
        "card.k_used FROM card) " +
        "SELECT ns.n_sources, est.k_used, est.e AS est_distinct, ex.exact_distinct, " +
        "abs(est.e - CAST(ex.exact_distinct AS DOUBLE)) / CAST(ex.exact_distinct AS DOUBLE) AS rel_err " +
        "FROM ns, est, ex WHERE ns.n_sources > 0")),
    // m141: Luhn-verified credit-card detection (ISO/IEC 7812 checksum
    // over 13–19-digit runs) — the Dolma/ROOTS PII tier beyond m20's
    // regex scrub; planted valid/invalid/short fixtures, zero-exchange
    // projection, checksum replayed digit-for-digit in SQL
    // m141: the augmentation (pure function of doc_id) replayed verbatim,
    // then the same candidate regex (no lookarounds — Java regex and RE2
    // agree on it), the same block-aligned window scan, and the Luhn
    // fold digit-for-digit — built in CcLuhnOracle below.
    QueryDef("m141_cc_luhn", CorpusQueries.ccLuhn _, CcLuhnOracle),
    // m89: CCNet head/middle/tail perplexity terciles — rank-based
    // integer cuts over the 6-dp-rounded perplexity order
    // m89: CCNet-style head/middle/tail — rank-based terciles on an
    // INTEGER sort key, floor(ppl*1e6): an IEEE multiply + floor on the
    // identical double (m43's hash check proves the engines share ppl)
    // is bit-identical cross-engine, where round(ppl, 6) was not (Spark
    // rounds via exact BigDecimal, DuckDB via a float multiply — a value
    // near a .5e-6 boundary could flip a near-tie doc's tercile).
    QueryDef("m89_ppl_buckets", CorpusQueries.pplBuckets _,
      (LmPerplexityCtes +
        ", sc AS (SELECT h.doc_id, d.source, exp(cross_entropy) AS perplexity " +
        "FROM h JOIN documents d USING (doc_id)), " +
        "cnt AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sc GROUP BY 1), " +
        "r AS (SELECT doc_id, source, perplexity, " +
        "CAST(row_number() OVER (PARTITION BY source " +
        "ORDER BY CAST(floor(perplexity * 1000000) AS BIGINT), doc_id) - 1 AS BIGINT) AS rk FROM sc) " +
        "SELECT r.doc_id, r.source, r.perplexity, " +
        "CASE WHEN rk * 3 < n THEN 'head' WHEN rk * 3 < n * 2 THEN 'middle' " +
        "ELSE 'tail' END AS bucket FROM r JOIN cnt USING (source)")),
    // m80: a PLAIN join — the whole point: the engine's salted plan must
    // hash-match the unsalted semantics exactly.
    QueryDef("m80_salted_join", CorpusQueries.saltedEventJoin _,
      ("WITH d AS (SELECT event_type, CAST(count(*) AS BIGINT) AS type_count " +
        "FROM events GROUP BY 1) " +
        "SELECT e.event_id, e.event_type, d.type_count " +
        "FROM events e JOIN d ON e.event_type = d.event_type")),
    // m102: Johnson–Lindenstrauss ±1 projection norm card — portable
    // md5-parity sign matrix, norms before/after, the JL certificate
    // m102: the JL sign matrix regenerated from md5 parity (the engine's
    // hex(15)&1 ≡ the last hex char's value parity), products folded in
    // index order (list_sum ≡ the engine's aggregate fold, the m95
    // discipline), /√16 exact in both engines.
    QueryDef("m102_jl_projection", CorpusQueries.jlNormCard _,
      ("WITH e0 AS (SELECT vec_id, " +
        "list_transform(generate_series(1, len(embedding)), i -> CAST(embedding[i] AS DOUBLE)) AS xs " +
        "FROM embeddings), " +
        "p AS (SELECT vec_id, xs, list_transform(generate_series(0, 15), j -> " +
        "list_sum(list_transform(generate_series(1, 64), i -> xs[i] * " +
        "(CASE WHEN (strpos('0123456789abcdef', substr(md5('jl:' || CAST(i - 1 AS VARCHAR) " +
        "|| ':' || CAST(j AS VARCHAR)), 32, 1)) - 1) % 2 = 0 THEN 1.0 ELSE -1.0 END))) " +
        "/ sqrt(16.0)) AS ys FROM e0) " +
        "SELECT vec_id, " +
        "list_sum(list_transform(xs, x -> x * x)) AS norm2_orig, " +
        "list_sum(list_transform(ys, y -> y * y)) AS norm2_proj, " +
        "CASE WHEN list_sum(list_transform(xs, x -> x * x)) > 0.0 " +
        "THEN list_sum(list_transform(ys, y -> y * y)) / list_sum(list_transform(xs, x -> x * x)) " +
        "END AS ratio FROM p")),
    // m129: clean-holdout mining — docs sharing no 30-token window with
    // any other doc; the provably-safe eval-carving candidates
    // m129: the m42 window chain with per-doc isolation verdicts;
    // engine fps are md5 bytes, the oracle's md5 hex — counts only, the
    // fingerprints never surface
    QueryDef("m129_clean_holdout", CorpusQueries.cleanHoldout _,
      (AugmentedDocs +
        ", toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t " +
        "FROM aug WHERE text IS NOT NULL), " +
        "w AS (SELECT doc_id, CASE WHEN len(t) <= 30 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(generate_series(0, len(t) - 30), " +
        "i -> array_to_string(list_slice(t, i + 1, i + 30), ' ')) END AS ws FROM toks), " +
        "f AS (SELECT doc_id, md5(wtext) AS fp FROM (SELECT doc_id, unnest(ws) AS wtext FROM w) x), " +
        "rep AS (SELECT fp FROM (SELECT fp, count(DISTINCT doc_id) AS df FROM f GROUP BY 1) z " +
        "WHERE df >= 2), " +
        "tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows FROM f GROUP BY 1), " +
        "sh AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared FROM f JOIN rep USING (fp) GROUP BY 1) " +
        "SELECT t.doc_id, t.n_windows, coalesce(sh.n_shared, 0) AS n_shared_windows, " +
        "coalesce(sh.n_shared, 0) = 0 AS isolated FROM tot t LEFT JOIN sh USING (doc_id)")),
    // m128: LSH banding planner — S-curve FP/FN areas per (b, r) split
    // of the 128-hash budget, weighted argmin; a pure closed-form card
    // m128: the divisor table and midpoint grid regenerated literally;
    // the S-curve fold runs in the identical index order
    QueryDef("m128_lsh_plan", CorpusQueries.lshPlan _,
      ("WITH d AS (SELECT b AS bands, 128 // b AS rows_per_band " +
        "FROM generate_series(1, 128) t(b) WHERE 128 % b = 0), " +
        "a AS (SELECT bands, rows_per_band, " +
        "list_reduce(list_prepend(0.0, list_transform(generate_series(0, 199), i -> " +
        "CASE WHEN (CAST(i AS DOUBLE) + 0.5) / 200.0 < 0.8 THEN " +
        "1.0 - pow(1.0 - pow((CAST(i AS DOUBLE) + 0.5) / 200.0, CAST(rows_per_band AS DOUBLE)), CAST(bands AS DOUBLE)) " +
        "ELSE 0.0 END)), (p, q) -> p + q) * 0.005 AS fp_area, " +
        "list_reduce(list_prepend(0.0, list_transform(generate_series(0, 199), i -> " +
        "CASE WHEN (CAST(i AS DOUBLE) + 0.5) / 200.0 >= 0.8 THEN " +
        "1.0 - (1.0 - pow(1.0 - pow((CAST(i AS DOUBLE) + 0.5) / 200.0, CAST(rows_per_band AS DOUBLE)), CAST(bands AS DOUBLE))) " +
        "ELSE 0.0 END)), (p, q) -> p + q) * 0.005 AS fn_area " +
        "FROM d) " +
        "SELECT CAST(bands AS INT) AS bands, CAST(rows_per_band AS INT) AS rows_per_band, " +
        "fp_area, fn_area, 0.5 * fp_area + 0.5 * fn_area AS cost, " +
        "row_number() OVER (ORDER BY 0.5 * fp_area + 0.5 * fn_area, bands) = 1 AS best FROM a")),
    // m132: exact per-source token-count quantiles by nearest-rank
    // selection — no percentile aggregation buffers
    // m132: the identical nearest-rank arithmetic — row_number over the
    // same (n_tokens, doc_id) total order, floor over the same IEEE
    // doubles; values only in the output, so tie-breaks never surface
    QueryDef("m132_source_quantiles", CorpusQueries.sourceTokenQuantiles _,
      ("WITH d AS (SELECT source, doc_id, " +
        "CAST(len(string_split_regex(lower(trim(text)), ' +')) AS BIGINT) AS n_tokens " +
        "FROM documents WHERE text IS NOT NULL), " +
        "r AS (SELECT source, n_tokens, " +
        "CAST(row_number() OVER (PARTITION BY source ORDER BY n_tokens, doc_id) AS BIGINT) AS rn, " +
        "CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n FROM d), " +
        "qs AS (SELECT unnest([0.0, 0.25, 0.5, 0.75, 0.9, 1.0]) AS q) " +
        "SELECT source, q, n, n_tokens AS value FROM r CROSS JOIN qs " +
        "WHERE rn = CAST(floor(q * CAST(n - 1 AS DOUBLE)) AS BIGINT) + 1")),
    // m133: length-unbounded maximal repeated spans — the suffix-array
    // exact-substring dedup tier (Lee et al. 2021): suffix-group seeding
    // at w=10 + per-doc run coalescing, full-extent attribution
    // m133: the m42 fingerprint chain at w=10, then gaps-and-islands
    // (widx − row_number per doc) to coalesce runs into maximal spans;
    // least(raw span, n_tokens) caps the whole-short-doc windows
    QueryDef("m133_maximal_repeats", CorpusQueries.maximalRepeats _,
      (AugmentedDocs +
        ", toks AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, " +
        "string_split_regex(lower(trim(text)), ' +') AS t " +
        "FROM aug WHERE text IS NOT NULL), " +
        "w AS (SELECT doc_id, CASE WHEN len(t) <= 10 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(generate_series(0, len(t) - 10), " +
        "i -> array_to_string(list_slice(t, i + 1, i + 10), ' ')) END AS ws FROM toks), " +
        "x AS (SELECT doc_id, unnest(ws) AS wtext, unnest(range(0, len(ws))) AS widx FROM w), " +
        "f AS (SELECT doc_id, CAST(widx AS BIGINT) AS widx, md5(wtext) AS fp FROM x), " +
        "rep AS (SELECT fp FROM (SELECT fp, count(DISTINCT doc_id) AS df FROM f GROUP BY 1) z " +
        "WHERE df >= 2), " +
        "fl AS (SELECT doc_id, widx FROM f JOIN rep USING (fp)), " +
        "r AS (SELECT doc_id, widx, " +
        "widx - row_number() OVER (PARTITION BY doc_id ORDER BY widx) AS grp FROM fl), " +
        "nt AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks) " +
        "SELECT r.doc_id, CAST(min(widx) AS BIGINT) AS span_start, " +
        "CAST(least(max(widx) - min(widx) + 10, n_tokens) AS BIGINT) AS span_len, " +
        "CAST(count(*) AS BIGINT) AS n_windows " +
        "FROM r JOIN nt ON r.doc_id = nt.doc_id GROUP BY r.doc_id, grp, n_tokens")),
    // m131: edit-similarity verify — the order-aware verify style over
    // the stored LSH candidates (Levenshtein on 512-char prefixes)
    // m131: the m05 candidate CTE chain, then DuckDB's own levenshtein —
    // both engines ship the exact algorithm, so the verify replays
    // integer-for-integer; substr/length are char-based in both (the
    // fixture is ASCII, the m120 convention)
    QueryDef("m131_edit_similarity", CorpusQueries.editSimilarityPairs _,
      (AugmentedDocs + MinhashCandCtes +
        ", txt AS (SELECT doc_id, substr(lower(text), 1, 512) AS t " +
        "FROM aug WHERE text IS NOT NULL), " +
        "e AS (SELECT c.doc_a, c.doc_b, CAST(levenshtein(a.t, b.t) AS BIGINT) AS edit_dist, " +
        "CAST(greatest(length(a.t), length(b.t)) AS BIGINT) AS max_len " +
        "FROM cand c JOIN txt a ON a.doc_id = c.doc_a JOIN txt b ON b.doc_id = c.doc_b) " +
        "SELECT doc_a, doc_b, edit_dist, max_len, " +
        "CASE WHEN max_len > 0 THEN 1.0 - CAST(edit_dist AS DOUBLE) / CAST(max_len AS DOUBLE) END AS edit_sim " +
        "FROM e WHERE (CASE WHEN max_len > 0 THEN 1.0 - CAST(edit_dist AS DOUBLE) / CAST(max_len AS DOUBLE) END) >= 0.7")),
    // m130: bucketCap drop observability — per (cap, band) dropped
    // bucket count and row mass for the LSH viral-bucket cap
    // m130: the m05 banded-bucket CTE chain up to bsz (bucket sizes per
    // band — bucket equality ⟺ signature-slice equality, same as m05),
    // then the cap sweep as a cross join; counts exact, one ratio
    QueryDef("m130_lsh_bucket_drops", CorpusQueries.lshBucketDrops _,
      (AugmentedDocs + MinhashCandCtes +
        ", caps AS (SELECT unnest([3, 1000]) AS bucket_cap) " +
        "SELECT CAST(bucket_cap AS INT) AS bucket_cap, CAST(band AS INT) AS band, " +
        "CAST(sum(c) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_buckets, " +
        "CAST(sum(CASE WHEN c > bucket_cap THEN 1 ELSE 0 END) AS BIGINT) AS dropped_buckets, " +
        "CAST(sum(CASE WHEN c > bucket_cap THEN c ELSE 0 END) AS BIGINT) AS dropped_rows, " +
        "CAST(sum(CASE WHEN c > bucket_cap THEN c ELSE 0 END) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS dropped_frac " +
        "FROM bsz CROSS JOIN caps GROUP BY 1, 2")),
    // m127: per-source Kolmogorov–Smirnov drift test on the quality
    // distribution — exact integer ranks (distributed prefix sum for the
    // global ECDF), the hypothesis-test companion to the KL drift cards
    // m127: ranks replayed by row_number over the identical
    // (floor(q·1e6), doc_id) total order; ECDF ratios and the Smirnov
    // reference line in the engine's operand order. The F_c − F_s branch
    // uses rc/nt (F_c just below the point, where that sup is attained)
    // — rc+1 would overshoot by the point's own pooled mass
    QueryDef("m127_ks_drift", CorpusQueries.ksDrift _,
      ("WITH " + textStatsBaseOver("(SELECT * FROM documents WHERE text IS NOT NULL)") +
        ", q AS (SELECT doc_id, " + QualityExpr + " AS quality FROM base), " +
        "k AS (SELECT q.doc_id, d.source, CAST(floor(quality * 1000000) AS BIGINT) AS key " +
        "FROM q JOIN documents d USING (doc_id)), " +
        "r AS (SELECT source, " +
        "CAST(row_number() OVER (ORDER BY key, doc_id) - 1 AS BIGINT) AS rc, " +
        "CAST(row_number() OVER (PARTITION BY source ORDER BY key, doc_id) - 1 AS BIGINT) AS rs, " +
        "CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS ns, " +
        "CAST(count(*) OVER () AS BIGINT) AS nt FROM k), " +
        "t AS (SELECT source, max(ns) AS n_docs, max(nt) AS n_total, " +
        "max(greatest(" +
        "CAST(rs + 1 AS DOUBLE) / CAST(ns AS DOUBLE) - CAST(rc + 1 AS DOUBLE) / CAST(nt AS DOUBLE), " +
        "CAST(rc AS DOUBLE) / CAST(nt AS DOUBLE) - CAST(rs AS DOUBLE) / CAST(ns AS DOUBLE))) AS ks_stat " +
        "FROM r GROUP BY 1) " +
        "SELECT source, n_docs, ks_stat, " +
        "ks_stat > 1.36 * sqrt((CAST(n_docs AS DOUBLE) + CAST(n_total AS DOUBLE)) / " +
        "(CAST(n_docs AS DOUBLE) * CAST(n_total AS DOUBLE))) AS drifted FROM t")),
    // m126: benchmark-side leakage report — per EVAL item, the leaked
    // gram fraction and corpus spread; the inverse view of m25
    // m126: the m25 gram chain with bench-doc attribution kept; unleaked
    // items survive the left join with zero counts
    QueryDef("m126_benchmark_leakage", CorpusQueries.benchmarkLeakage _,
      (AugmentedDocs +
        ", bench AS (SELECT doc_id, text FROM aug WHERE doc_id < 50), " +
        "corpus AS (SELECT doc_id, text FROM aug WHERE doc_id >= 50), " +
        "bt AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t FROM bench), " +
        "bg AS (SELECT DISTINCT doc_id AS bench_id, gram FROM (SELECT doc_id, " +
        "unnest(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS gram " +
        "FROM bt) WHERE gram <> ''), " +
        "ct AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t FROM corpus), " +
        "cg AS (SELECT DISTINCT doc_id, gram FROM (SELECT doc_id, " +
        "unnest(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS gram " +
        "FROM ct) WHERE gram <> ''), " +
        "tot AS (SELECT bench_id, CAST(count(*) AS BIGINT) AS n_grams FROM bg GROUP BY 1), " +
        "h AS (SELECT b.bench_id, CAST(count(DISTINCT c.gram) AS BIGINT) AS n_hit_grams, " +
        "CAST(count(DISTINCT c.doc_id) AS BIGINT) AS n_corpus_docs " +
        "FROM cg c JOIN bg b USING (gram) GROUP BY 1) " +
        "SELECT t.bench_id, t.n_grams, coalesce(h.n_hit_grams, 0) AS n_hit_grams, " +
        "CAST(coalesce(h.n_hit_grams, 0) AS DOUBLE) / CAST(t.n_grams AS DOUBLE) AS leaked_frac, " +
        "coalesce(h.n_corpus_docs, 0) AS n_corpus_docs " +
        "FROM tot t LEFT JOIN h USING (bench_id)")),
    // m125: Good–Turing unseen mass n₁/N per source — the
    // keep-crawling-or-saturated corpus-planning card
    // m125: exact counts, fixed-order ratios
    QueryDef("m125_unseen_mass", CorpusQueries.unseenMass _,
      ("WITH toks AS (SELECT source, unnest(string_split_regex(lower(trim(text)), ' +')) AS tok " +
        "FROM documents WHERE text IS NOT NULL), " +
        "c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c FROM toks " +
        "WHERE length(tok) > 0 GROUP BY 1, 2) " +
        "SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, " +
        "CAST(count(*) AS BIGINT) AS vocab, " +
        "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax, " +
        "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS unseen_mass, " +
        "CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS ttr " +
        "FROM c GROUP BY 1")),
    // m124: cross-corpus perplexity — reference-trained LM (docs < 100)
    // scores the rest; the unseen-gram backoff path under real load
    // m124: the m43 LM replay with counts from the reference split only;
    // unseen grams/contexts coalesce to 0 before the smoothed ratio
    QueryDef("m124_cross_perplexity", CorpusQueries.crossPerplexity _,
      ("WITH rt AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t " +
        "FROM documents WHERE text IS NOT NULL AND doc_id < 100), " +
        "rw AS (SELECT doc_id, unnest(t) AS w, unnest(range(1, len(t)+1)) AS ord FROM rt), " +
        "rp AS (SELECT doc_id, w AS a, lead(w) OVER (PARTITION BY doc_id ORDER BY ord) AS b FROM rw), " +
        "rg AS (SELECT a, b FROM rp WHERE b IS NOT NULL), " +
        "c AS (SELECT a, b, count(*) AS cab FROM rg GROUP BY 1, 2), " +
        "ctx AS (SELECT a, sum(cab) AS ca FROM c GROUP BY 1), " +
        "v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vs FROM " +
        "(SELECT a AS tok FROM c UNION SELECT b FROM c)), " +
        "st AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t " +
        "FROM documents WHERE text IS NOT NULL AND doc_id >= 100), " +
        "sw AS (SELECT doc_id, unnest(t) AS w, unnest(range(1, len(t)+1)) AS ord FROM st), " +
        "sp AS (SELECT doc_id, w AS a, lead(w) OVER (PARTITION BY doc_id ORDER BY ord) AS b FROM sw), " +
        "sg AS (SELECT doc_id, a, b FROM sp WHERE b IS NOT NULL), " +
        "h AS (SELECT doc_id, count(*) AS n_bigrams, " +
        "-avg(ln((coalesce(cab, 0) + 0.5) / (coalesce(ca, 0) + 0.5 * vs))) AS cross_entropy " +
        "FROM sg LEFT JOIN c USING (a, b) LEFT JOIN ctx USING (a) CROSS JOIN v GROUP BY doc_id) " +
        "SELECT doc_id, n_bigrams, cross_entropy, exp(cross_entropy) AS perplexity FROM h")),
    // m123: token burstiness — cf/df dispersion over the corpus top-100
    // tokens; the boilerplate detector raw frequency ranking can't see
    // m123: exact counts, tie-broken top-100 on the token string
    QueryDef("m123_token_burstiness", CorpusQueries.tokenBurstiness _,
      ("WITH toks AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), ' +')) AS tok " +
        "FROM documents WHERE text IS NOT NULL), " +
        "pd AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c FROM toks " +
        "WHERE length(tok) > 0 GROUP BY 1, 2), " +
        "t AS (SELECT tok, CAST(sum(c) AS BIGINT) AS cf, CAST(count(*) AS BIGINT) AS df " +
        "FROM pd GROUP BY 1 ORDER BY cf DESC, tok LIMIT 100), " +
        "n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents WHERE text IS NOT NULL) " +
        "SELECT tok, cf, df, CAST(cf AS DOUBLE) / CAST(df AS DOUBLE) AS burstiness, " +
        "CAST(df AS DOUBLE) / CAST(n_docs AS DOUBLE) AS df_frac FROM t CROSS JOIN n")),
    // m121: per-source quality percentile calibration — percent_rank
    // over the integer key (floor(q·1e6), doc_id), one source exchange
    // m121: quality replayed from the shared stats base, percent_rank
    // over the m89 integer key — tie-free under the doc_id break, so
    // both engines compute the identical (rank−1)/(n−1)
    QueryDef("m121_quality_percentiles", CorpusQueries.qualityPercentiles _,
      ("WITH " + textStatsBaseOver("(SELECT * FROM documents WHERE text IS NOT NULL)") +
        ", q AS (SELECT doc_id, " + QualityExpr + " AS quality FROM base), " +
        "j AS (SELECT q.doc_id, d.source, q.quality FROM q JOIN documents d USING (doc_id)) " +
        "SELECT doc_id, source, quality, percent_rank() OVER (PARTITION BY source " +
        "ORDER BY CAST(floor(quality * 1000000) AS BIGINT), doc_id) AS pct_rank FROM j")),
    // m120: perceptual-hash (dHash) image near-dups — real PNG decode on
    // executors, 56-bit gradient-sign signature, then the m06 simhash
    // chunk-bucket pairing chain; media dedup through the text spine
    // m120: the raster is the text bytes tiled over 16×12 gray (the m11
    // encoder), so the codec's 8×8 thumb grid samples byte (gy·12//8)·16
    // + 2·gx of the text; gradient-sign bits sum to the 56-bit dHash and
    // the chunk-bucket join replays the engine's banding exactly.
    // ASCII-ONLY FIXTURE ASSUMPTION: the engine rasterizes UTF-8 BYTES
    // (packImages getBytes) while this replay indexes CHARACTERS
    // (substr/ascii/length) — identical only while the synthetic corpus
    // is pure ASCII (which the generator guarantees); a non-ASCII corpus
    // would need octet_length/byte indexing here, not an engine change
    QueryDef("m120_image_neardups", CorpusQueries.imageNearDups _,
      (AugmentedDocs +
        ", d AS (SELECT doc_id, text, CAST(length(text) AS BIGINT) AS L FROM aug " +
        "WHERE text IS NOT NULL AND length(text) > 0), " +
        "bits AS (SELECT doc_id, " +
        "CASE WHEN ascii(substr(text, CAST((gy * 12 // 8 * 16 + 2 * gx) % L AS INT) + 1, 1)) < " +
        "ascii(substr(text, CAST((gy * 12 // 8 * 16 + 2 * (gx + 1)) % L AS INT) + 1, 1)) " +
        "THEN CAST(1 AS BIGINT) << CAST(gy * 7 + gx AS INT) ELSE CAST(0 AS BIGINT) END AS v " +
        "FROM d CROSS JOIN range(0, 8) t1(gy) CROSS JOIN range(0, 7) t2(gx)), " +
        "h AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS sig FROM bits GROUP BY 1), " +
        "ch AS (SELECT doc_id, sig, i, ((sig >> CAST(i * 16 AS INT)) & 65535) AS cv " +
        "FROM h CROSS JOIN range(0, 4) t(i)), " +
        "p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming " +
        "FROM ch a JOIN ch b ON a.i = b.i AND a.cv = b.cv AND a.doc_id < b.doc_id) " +
        "SELECT DISTINCT doc_a, doc_b, hamming FROM p WHERE hamming <= 4")),
    // m122: label-noise margins — own-centroid vs best-other-centroid
    // cosine per vector; broadcast centroids, K-rows-per-id exchange
    // m122: centroids + per-(id, candidate) dots replayed relationally;
    // the best-other pick orders on the m89 integer key
    QueryDef("m122_label_noise", CorpusQueries.labelNoiseMargins _,
      ("WITH e0 AS (SELECT vec_id AS id, label, " +
        "list_transform(generate_series(1, len(embedding)), i -> CAST(i - 1 AS BIGINT)) AS dims, " +
        "list_transform(generate_series(1, len(embedding)), i -> CAST(embedding[i] AS DOUBLE)) AS xs " +
        "FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL), " +
        "c AS (SELECT id, label, unnest(dims) AS pos, unnest(xs) AS x FROM e0), " +
        "cent AS (SELECT label AS c_label, pos, avg(x) AS m FROM c GROUP BY 1, 2), " +
        "cn AS (SELECT c_label, sum(m * m) AS n2c FROM cent GROUP BY 1), " +
        "d AS (SELECT c.id, c.label, t.c_label, sum(c.x * t.m) AS dot, sum(c.x * c.x) AS nv " +
        "FROM c JOIN cent t USING (pos) GROUP BY 1, 2, 3), " +
        "s AS (SELECT d.id, d.label, d.c_label, " +
        "CASE WHEN nv > 0.0 AND n2c > 0.0 THEN dot / (sqrt(nv) * sqrt(n2c)) END AS cos " +
        "FROM d JOIN cn USING (c_label)), " +
        "own AS (SELECT id, label, cos AS cos_own FROM s WHERE c_label = label), " +
        "oth AS (SELECT id, c_label, cos, row_number() OVER (PARTITION BY id " +
        "ORDER BY CAST(floor(cos * 1000000) AS BIGINT) DESC, c_label) AS rk " +
        "FROM s WHERE c_label <> label) " +
        "SELECT o.id, o.label, o.cos_own, b.c_label AS nearest_other, b.cos AS cos_other, " +
        "o.cos_own - b.cos AS margin, (o.cos_own - b.cos) < 0.0 AS suspect " +
        "FROM own o JOIN (SELECT * FROM oth WHERE rk = 1) b USING (id)")),
    // m119: per-label embedding-centroid drift vs the corpus centroid
    // (cosine + distance) — one (label, pos) summary exchange, folds
    // over pos-sorted dim-bounded arrays
    // m119: centroid sums replayed relationally, cosine/distance folds
    // in pos order (the m78/m102 convention — mean ulp noise vanishes
    // at the 6-dp gate, fold order is pinned)
    QueryDef("m119_centroid_drift", CorpusQueries.centroidDrift _,
      ("WITH e0 AS (SELECT label, " +
        "list_transform(generate_series(1, len(embedding)), i -> CAST(i - 1 AS BIGINT)) AS dims, " +
        "list_transform(generate_series(1, len(embedding)), i -> CAST(embedding[i] AS DOUBLE)) AS xs " +
        "FROM embeddings WHERE label IS NOT NULL AND embedding IS NOT NULL), " +
        "c AS (SELECT label, unnest(dims) AS pos, unnest(xs) AS x FROM e0), " +
        "sums AS (SELECT label, pos, CAST(count(*) AS BIGINT) AS cnt, sum(x) AS sv FROM c GROUP BY 1, 2), " +
        "g AS (SELECT pos, sum(sv) / CAST(sum(cnt) AS DOUBLE) AS mg FROM sums GROUP BY 1), " +
        "j AS (SELECT s.label, s.pos, sv / CAST(cnt AS DOUBLE) AS m, g.mg, cnt " +
        "FROM sums s JOIN g USING (pos)), " +
        "a AS (SELECT label, CAST(max(CASE WHEN pos = 0 THEN cnt END) AS BIGINT) AS n_vecs, " +
        "list_sort(list(struct_pack(pos := pos, m := m, mg := mg))) AS bs FROM j GROUP BY 1), " +
        "f AS (SELECT label, n_vecs, " +
        "list_reduce(list_prepend(0.0, list_transform(bs, x -> x.m * x.mg)), (p, q) -> p + q) AS dot, " +
        "list_reduce(list_prepend(0.0, list_transform(bs, x -> x.m * x.m)), (p, q) -> p + q) AS n2, " +
        "list_reduce(list_prepend(0.0, list_transform(bs, x -> x.mg * x.mg)), (p, q) -> p + q) AS g2, " +
        "list_reduce(list_prepend(0.0, list_transform(bs, x -> (x.m - x.mg) * (x.m - x.mg))), (p, q) -> p + q) AS d2 " +
        "FROM a) " +
        "SELECT label, n_vecs, " +
        "CASE WHEN n2 > 0.0 AND g2 > 0.0 THEN dot / (sqrt(n2) * sqrt(g2)) END AS cos_to_global, " +
        "sqrt(d2) AS dist_to_global FROM f")),
    // m78: centroid means and the per-vec distance fold agree with the
    // relational replay to ~1e-15 (rounded @6dp); median/MAD are the
    // quantile_cont parity; the z arithmetic is association-identical.
    QueryDef("m78_embed_outliers", CorpusQueries.embedOutliers _,
      ("WITH e0 AS (SELECT vec_id, " +
        "list_transform(generate_series(1, len(embedding)), i -> CAST(i - 1 AS BIGINT)) AS dims, " +
        "list_transform(generate_series(1, len(embedding)), i -> CAST(embedding[i] AS DOUBLE)) AS xs " +
        "FROM embeddings), " +
        "c AS (SELECT vec_id, unnest(dims) AS dim, unnest(xs) AS x FROM e0), " +
        "cent AS (SELECT dim, avg(x) AS m FROM c GROUP BY 1), " +
        "d AS (SELECT vec_id, sqrt(sum((x - m) * (x - m))) AS dist " +
        "FROM c JOIN cent USING (dim) GROUP BY 1), " +
        "st AS (SELECT quantile_cont(dist, 0.5) AS med FROM d), " +
        "md AS (SELECT quantile_cont(abs(dist - med), 0.5) AS mad FROM d CROSS JOIN st) " +
        "SELECT vec_id, dist, " +
        "CASE WHEN mad = 0.0 THEN NULL ELSE 0.6745 * (dist - med) / mad END AS robust_z, " +
        "CASE WHEN mad = 0.0 THEN FALSE ELSE abs(0.6745 * (dist - med) / mad) > 3.5 END AS is_outlier " +
        "FROM d CROSS JOIN st CROSS JOIN md")),
    // m79 is fully REPLAYED since round 11's m40 flip: the recursive-CTE
    // BPE encode makes the per-source token totals DuckDB-recomputable,
    // so the raw fertility report is hash-checked directly
    // (OracleModelSql.bpeFertility over the captured merge list);
    // CorpusQueriesSpec still pins fertility ≥ 1 and merge monotonicity.
    QueryDef("m79_tokenizer_fertility", CorpusQueries.tokenizerFertility _,
      replay(CorpusQueries.tokenizerFertilityMerges)(OracleModelSql.bpeFertility)
        .when(_.nonEmpty)),
    // m77: the m56 segment chain + the m39 split expression, grouped per
    // packed sequence; the splits list canonicalizes (distinct, sorted,
    // comma-joined) identically in both engines.
    QueryDef("m77_pack_split_leaks", CorpusQueries.packSplitLeaks _,
      ("WITH n AS (SELECT doc_id, CAST(len(string_split_regex(lower(trim(text)), ' +')) AS BIGINT) AS n_tokens " +
        "FROM documents WHERE text IS NOT NULL), " +
        "o AS (SELECT doc_id, n_tokens, CAST(coalesce(sum(n_tokens) OVER (" +
        "ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start FROM n), " +
        "e AS (SELECT doc_id, unnest(range(start // 2048, (start + n_tokens - 1) // 2048 + 1)) AS seq_id FROM o), " +
        "sp AS (SELECT doc_id, " +
        graft.operators.HashSplit.oracleSqlExpr("doc_id", CorpusQueries.SplitFractions) +
        " AS split FROM (SELECT DISTINCT doc_id FROM e) x) " +
        "SELECT CAST(e.seq_id AS BIGINT) AS seq_id, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(count(DISTINCT split) AS BIGINT) AS n_splits, " +
        "array_to_string(list_sort(list_distinct(list(split))), ',') AS splits, " +
        "count(DISTINCT split) > 1 AS mixed " +
        "FROM e JOIN sp USING (doc_id) GROUP BY e.seq_id")),
    // m76: the engine folds -Σ p·ln p in char order inside the row; the
    // oracle sums the same per-char terms relationally — agreement to
    // ~1e-15, rounded @6dp (ASCII corpus: code units ≡ characters).
    QueryDef("m76_char_entropy", CorpusQueries.charEntropy _,
      ("WITH c AS (SELECT doc_id, length(text) AS n, unnest(string_split(text, '')) AS ch " +
        "FROM documents WHERE text IS NOT NULL AND length(text) > 0), " +
        "f AS (SELECT doc_id, n, ch, CAST(count(*) AS BIGINT) AS cnt FROM c GROUP BY 1, 2, 3) " +
        "SELECT doc_id, CAST(n AS BIGINT) AS n_chars_counted, " +
        "CAST(count(*) AS BIGINT) AS char_types, " +
        "-sum(CAST(cnt AS DOUBLE) / n * ln(CAST(cnt AS DOUBLE) / n)) AS char_entropy " +
        "FROM f GROUP BY doc_id, n")),
    // m75: the m02 gate (LangExpr/QualityExpr) over a source-carrying
    // base, then the m03/m04 keep-first fingerprint convention.
    QueryDef("m75_pipeline_yield", CorpusQueries.pipelineYield _,
      (AugmentedDocs +
        ", b AS (SELECT doc_id, source, text, length(text) AS n_chars_c, " +
        "len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_words, " +
        "len(list_filter(string_split_regex(lower(trim(text)), ' +'), t -> t IN (" +
        "'the','a','an','of','to','and','in','is','it','that','for','on','with','as'))) AS n_stopwords, " +
        "len(regexp_extract_all(text, '[0-9]')) AS n_digits, " +
        "len(regexp_extract_all(text, '[.,;:!?''\"()-]')) AS n_punct FROM aug), " +
        "g AS (SELECT doc_id, source, text FROM (SELECT doc_id, source, text, " +
        LangExpr + " AS lang_pred, " + QualityExpr + " AS quality FROM b) t " +
        "WHERE lang_pred = 'en' AND quality >= 0.3), " +
        "k AS (SELECT min(doc_id) AS doc_id FROM (SELECT doc_id, md5(coalesce(text, '')) AS fp FROM g) z GROUP BY fp), " +
        "r AS (SELECT source, CAST(count(*) AS BIGINT) AS n_raw FROM aug GROUP BY 1), " +
        "ng AS (SELECT source, CAST(count(*) AS BIGINT) AS n_gated FROM g GROUP BY 1), " +
        "nu AS (SELECT g.source, CAST(count(*) AS BIGINT) AS n_unique FROM g JOIN k USING (doc_id) GROUP BY 1) " +
        "SELECT r.source, r.n_raw, coalesce(ng.n_gated, 0) AS n_gated, " +
        "coalesce(nu.n_unique, 0) AS n_unique, " +
        "CAST(coalesce(ng.n_gated, 0) AS DOUBLE) / CAST(r.n_raw AS DOUBLE) AS gate_yield, " +
        "CAST(coalesce(nu.n_unique, 0) AS DOUBLE) / CAST(r.n_raw AS DOUBLE) AS final_yield " +
        "FROM r LEFT JOIN ng ON r.source = ng.source LEFT JOIN nu ON r.source = nu.source")),
    // m71 is CERTIFIED (the q40 recipe): DuckDB has no deflate, so the
    // raw deflated sizes stay spec-pinned (CompressionRatioSpec:
    // repetitive≪varied ordering, byte accounting, empty-doc contract,
    // determinism) and the oracle hash-checks the exact UTF-8 byte
    // accounting plus the zlib-bound certificate (deflate_ok).
    // m71: exact UTF-8 byte accounting replayed; deflate_ok is the
    // engine's zlib-stream certificate (size within [8, compressBound],
    // ratio arithmetic consistent) — DuckDB asserts it TRUE.
    QueryDef("m71_compression_ratio", CorpusQueries.compressionRatios _,
      ("SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_raw_bytes, " +
        "TRUE AS deflate_ok FROM documents WHERE text IS NOT NULL")),
    // m134: m87's stratified split via the range-partitioned grouped
    // rank (GroupedRanks) — the skew escalation the Zipf fixture
    // called for; byte-identical to m87, shares its oracle
    // m134: the range-partitioned escalation is semantically IDENTICAL
    // to m87 (ranks a pure function of the same md5 total order), so it
    // replays against the same SQL — the m103/m112 shared-oracle shape
    QueryDef("m134_stratified_split_ranged", CorpusQueries.stratifiedSplitRanged _,
      ("WITH d AS (SELECT doc_id, source FROM documents), " +
        "c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1), " +
        "r AS (SELECT doc_id, source, CAST(row_number() OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS rk FROM d) " +
        "SELECT r.doc_id, r.source, r.rk, " +
        "CASE WHEN r.rk < floor(CAST(n AS DOUBLE) * 0.8) THEN 'train' " +
        "WHEN r.rk < floor(CAST(n AS DOUBLE) * 0.8) + floor(CAST(n AS DOUBLE) * 0.1) THEN 'val' " +
        "ELSE 'test' END AS split FROM r JOIN c USING (source)")),
    // m135: unigram-LM tokenizer accounting (Kudo 2018 / SentencePiece)
    // — EM-trained piece vocabulary, Viterbi token counts; the other
    // tokenizer family beside m40's BPE (captured-pieces oracle replay)
    QueryDef("m135_unigram_tokens", CorpusQueries.unigramTokens _,
      replay(CorpusQueries.unigramTokensPieces)(OracleModelSql.unigramTokenStats)
        .when(_.nonEmpty)),
    // m136: per-source fertility under the unigram model — the m79
    // report for the other tokenizer family (captured-pieces replay)
    QueryDef("m136_unigram_fertility", CorpusQueries.unigramFertility _,
      replay(CorpusQueries.unigramFertilityPieces)(OracleModelSql.unigramFertility)
        .when(_.nonEmpty)),
    // m137: trained char-n-gram language-ID (CCNet/fastText-style) —
    // multinomial LR over md5-hashed 2..4-grams via the exact
    // fixed-point distributed GD; labels from the planted per-language
    // block; scoring replayed from the captured quantized weights
    // (OracleModelSql.langIdScore); training spec-pinned (LangIdSpec)
    QueryDef("m137_langid_score", CorpusQueries.langIdScore _,
      replay(CorpusQueries.langIdScoreWeights) { case (cl, wq, off) =>
        OracleModelSql.langIdScore(cl, wq, off) }.when(_._1.nonEmpty)),
    // m87: per-source exact-count stratified split (m39 gives expected
    // fractions; eval strata need exact sizes)
    QueryDef("m87_stratified_split", CorpusQueries.stratifiedSplit _,
      ("WITH d AS (SELECT doc_id, source FROM documents), " +
        "c AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1), " +
        "r AS (SELECT doc_id, source, CAST(row_number() OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS rk FROM d) " +
        "SELECT r.doc_id, r.source, r.rk, " +
        // CAST to DOUBLE so DuckDB does the same IEEE product Spark does
        // (a bare n * 0.8 would be exact DECIMAL math, which can floor
        // differently at integer boundaries)
        "CASE WHEN r.rk < floor(CAST(n AS DOUBLE) * 0.8) THEN 'train' " +
        "WHEN r.rk < floor(CAST(n AS DOUBLE) * 0.8) + floor(CAST(n AS DOUBLE) * 0.1) THEN 'val' " +
        "ELSE 'test' END AS split FROM r JOIN c USING (source)")),
    // m88: tokenizer vocabulary-usage curve — encode replayed by the m40
    // recursive CTE, curve re-derived (OracleModelSql.bpeTokenCoverage)
    QueryDef("m88_token_coverage", CorpusQueries.tokenCoverage _,
      replay(CorpusQueries.tokenCoverageMerges)(OracleModelSql.bpeTokenCoverage)
        .when(_.nonEmpty)),
    QueryDef("m73_source_interleave", CorpusQueries.sourceInterleave _,
      ("WITH d AS (SELECT doc_id, source FROM documents), " +
        "si AS (SELECT source, CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS source_idx " +
        "FROM (SELECT DISTINCT source FROM d) x), " +
        "ns AS (SELECT CAST(count(*) AS BIGINT) AS n_sources FROM si), " +
        "r AS (SELECT doc_id, source, CAST(row_number() OVER (PARTITION BY source " +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS rk FROM d) " +
        "SELECT r.doc_id, r.source, r.rk, si.source_idx, " +
        "r.rk * ns.n_sources + si.source_idx AS pos " +
        "FROM r JOIN si USING (source) CROSS JOIN ns")),
    // m74: the sweep is replayed over the captured IVF model (k-means
    // training stays spec-pinned); TuningSweepSpec pins monotone recall
    // in nprobe and the full-probe ≡ exact endpoint (recall 1.0).
    QueryDef("m74_ann_tuning_sweep", CorpusQueries.annTuningSweep _,
      replay(CorpusQueries.annTuningSweepModel)(
        OracleModelSql.ivfSweep(_, 5, Seq(1, 2, 4, 16)))),
    // m72: asymmetric replay of the m14 inverted-index chain — df cap and
    // set size on the INDEX side, batch grams probe; string grams count
    // like the engine's FNV hashes (the m14/m25 argument).
    QueryDef("m72_incremental_neardup", CorpusQueries.incrementalNearDup _,
      (AugmentedDocs +
        s", bt AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t FROM aug WHERE doc_id >= $SynthOff), " +
        "bg AS (SELECT DISTINCT doc_id AS batch_id, gram FROM (SELECT doc_id, " +
        "unnest(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS gram " +
        "FROM bt) x WHERE gram <> ''), " +
        s"it AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t FROM aug WHERE doc_id < $SynthOff), " +
        "ig AS (SELECT DISTINCT doc_id AS index_id, gram FROM (SELECT doc_id, " +
        "unnest(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS gram " +
        "FROM it) x WHERE gram <> ''), " +
        "kept AS (SELECT index_id, gram FROM (SELECT index_id, gram, " +
        "count(*) OVER (PARTITION BY gram) AS df FROM ig) z WHERE df <= 50), " +
        "nb AS (SELECT batch_id, count(*) AS n_b FROM bg GROUP BY 1), " +
        "ni AS (SELECT index_id, count(*) AS n_i FROM kept GROUP BY 1), " +
        "inter AS (SELECT batch_id, index_id, count(*) AS shared FROM bg JOIN kept USING (gram) GROUP BY 1, 2) " +
        "SELECT batch_id, index_id, CAST(shared AS DOUBLE) / (n_b + n_i - shared) AS jaccard " +
        "FROM inter JOIN nb USING (batch_id) JOIN ni USING (index_id) " +
        "WHERE CAST(shared AS DOUBLE) / (n_b + n_i - shared) >= 0.6")),
    // m69: exact interpolated percentile ≡ quantile_cont (the m35 parity);
    // the robust-z arithmetic is association-identical.
    QueryDef("m69_length_outliers", CorpusQueries.lengthOutliers _,
      ("WITH d AS (SELECT source, CAST(len(string_split_regex(lower(trim(text)), ' +')) AS BIGINT) AS nt " +
        "FROM documents WHERE text IS NOT NULL), " +
        "med AS (SELECT source, quantile_cont(nt, 0.5) AS med FROM d GROUP BY 1), " +
        "wm AS (SELECT d.source, d.nt, med.med FROM d JOIN med USING (source)), " +
        "mad AS (SELECT source, quantile_cont(abs(nt - med), 0.5) AS mad FROM wm GROUP BY 1), " +
        "f AS (SELECT wm.source, wm.nt, wm.med, mad.mad, " +
        "CASE WHEN mad.mad = 0.0 THEN FALSE ELSE abs(0.6745 * (wm.nt - wm.med) / mad.mad) > 3.5 END AS is_outlier " +
        "FROM wm JOIN mad USING (source)) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, max(med) AS median_tokens, " +
        "max(mad) AS mad_tokens, CAST(sum(CASE WHEN is_outlier THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers, " +
        "CAST(sum(CASE WHEN is_outlier THEN 1 ELSE 0 END) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS outlier_rate " +
        "FROM f GROUP BY 1")),
    // m70: cluster closure + the SAME generated split expression as m39,
    // keyed on the family representative.
    QueryDef("m70_leakage_safe_split", CorpusQueries.leakageSafeSplit _,
      ("WITH RECURSIVE " + AugmentedDocsBody + gramPairCtes("aug") + ClusterCtes +
        ", memb AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id " +
        "FROM reach GROUP BY src), " +
        "k AS (SELECT a.doc_id, coalesce(m.cluster_id, a.doc_id) AS group_key " +
        "FROM aug a LEFT JOIN memb m ON a.doc_id = m.doc_id) " +
        "SELECT doc_id, group_key, " +
        graft.operators.HashSplit.oracleSqlExpr("group_key", CorpusQueries.SplitFractions) +
        " AS split FROM k")),
    // m68: QualityExpr per doc × the m24 OOV chain; fixed buckets (no
    // global ntile), means are exact-ratio aggregates rounded @6dp.
    QueryDef("m68_quality_calibration", CorpusQueries.qualityCalibration _,
      (TextStatsBase +
        ", q AS (SELECT doc_id, " + QualityExpr + " AS quality FROM base), " +
        "terms AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), ' +')) AS term " +
        "FROM documents WHERE text IS NOT NULL), " +
        "tf AS (SELECT term, count(*) AS tf FROM terms WHERE term <> '' GROUP BY 1), " +
        "vocab AS (SELECT term, tf FROM tf ORDER BY tf DESC, term LIMIT 25), " +
        "oov AS (SELECT t.doc_id, CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS oov_rate " +
        "FROM terms t LEFT JOIN vocab v USING (term) WHERE t.term <> '' GROUP BY 1), " +
        "j AS (SELECT CAST(least(floor(quality * 10.0), 9.0) AS BIGINT) AS bucket, quality, oov_rate " +
        "FROM q JOIN oov USING (doc_id)) " +
        "SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs, avg(quality) AS mean_quality, " +
        "avg(oov_rate) AS mean_oov_rate FROM j GROUP BY 1")),
    // m66: cluster closure (m17's recursive CTE) × vocab quality (m24's
    // OOV rate over the SAME augmented corpus); survivor rank rides exact
    // integer-ratio doubles, so the float order is engine-identical.
    QueryDef("m66_dedup_keep_best", CorpusQueries.dedupKeepBest _,
      ("WITH RECURSIVE " + AugmentedDocsBody + gramPairCtes("aug") + ClusterCtes +
        ", memb AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id " +
        "FROM reach GROUP BY src), " +
        "terms AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), ' +')) AS term " +
        "FROM aug WHERE text IS NOT NULL), " +
        "tf AS (SELECT term, count(*) AS tf FROM terms WHERE term <> '' GROUP BY 1), " +
        "vocab AS (SELECT term, tf FROM tf ORDER BY tf DESC, term LIMIT 25), " +
        "q AS (SELECT t.doc_id, CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS oov_rate " +
        "FROM terms t LEFT JOIN vocab v USING (term) WHERE t.term <> '' GROUP BY 1), " +
        "j AS (SELECT m.cluster_id, m.doc_id, q.oov_rate, " +
        "row_number() OVER (PARTITION BY m.cluster_id ORDER BY q.oov_rate ASC, m.doc_id ASC) AS rn, " +
        "CAST(count(*) OVER (PARTITION BY m.cluster_id) AS BIGINT) AS n_members " +
        "FROM memb m JOIN q USING (doc_id)) " +
        "SELECT cluster_id, doc_id AS kept_doc_id, n_members, oov_rate AS kept_oov_rate " +
        "FROM j WHERE rn = 1")),
    // m67: lang tags vs the TRAINED m137 classifier (since round 16) —
    // OracleModelSql.langIdConfusion over the run's captured quantized
    // weights; the heuristic LangExpr stays covered by m01/m02.
    QueryDef("m67_lang_confusion", CorpusQueries.langConfusion _,
      replay(CorpusQueries.langConfusionWeights) { case (cl, wq, off, sup) =>
        OracleModelSql.langIdConfusion(cl, wq, off, sup) }.when(_._1.nonEmpty)),
    QueryDef("m65_padding_waste", CorpusQueries.paddingWaste _,
      ("WITH n AS (SELECT source, CAST(len(string_split_regex(lower(trim(text)), ' +')) AS BIGINT) AS nt " +
        "FROM documents WHERE text IS NOT NULL), " +
        "k AS (SELECT source, nt, least(nt, 2048) AS kept FROM n), " +
        "a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(nt) AS BIGINT) AS total_tokens, " +
        "CAST(sum(nt - kept) AS BIGINT) AS trunc_tokens, " +
        "CAST(sum(2048 - kept) AS BIGINT) AS pad_tokens, " +
        "CAST(sum(kept) AS BIGINT) AS kept_tokens FROM k GROUP BY 1) " +
        "SELECT source, n_docs, total_tokens, trunc_tokens, pad_tokens, kept_tokens, " +
        "CAST(ceil(CAST(kept_tokens AS DOUBLE) / 2048.0) AS BIGINT) AS packed_seqs, " +
        "CAST(kept_tokens AS DOUBLE) / CAST(n_docs * 2048 AS DOUBLE) AS padded_util, " +
        "CAST(kept_tokens AS DOUBLE) / CAST(CAST(ceil(CAST(kept_tokens AS DOUBLE) / 2048.0) AS BIGINT) * 2048 AS DOUBLE) AS packed_util " +
        "FROM a")),
    // m64: the hit-count arithmetic is association-identical to
    // SystematicSample.sample (cum sums are exact longs; step and the two
    // ceils run the same IEEE ops in both engines).
    QueryDef("m64_systematic_sample", CorpusQueries.systematicSample _,
      ("WITH n AS (SELECT doc_id, CAST(len(string_split_regex(lower(trim(text)), ' +')) AS BIGINT) AS w " +
        "FROM documents WHERE text IS NOT NULL), " +
        "o AS (SELECT doc_id, w, CAST(coalesce(sum(w) OVER (" +
        "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before FROM n), " +
        "t AS (SELECT CAST(sum(w) AS DOUBLE) AS tw FROM n), " +
        "h AS (SELECT doc_id, w, cum_before, " +
        "CAST(ceil(CAST(cum_before + w AS DOUBLE) / (tw / 200.0) - 0.5) - " +
        "ceil(CAST(cum_before AS DOUBLE) / (tw / 200.0) - 0.5) AS BIGINT) AS n_hits " +
        "FROM o CROSS JOIN t) " +
        "SELECT doc_id, w, cum_before, n_hits FROM h WHERE n_hits > 0")),
    // m62: fixed-iteration damped power iteration replayed as a recursive
    // CTE with aggregation in the recursive term; the rank update is
    // association-identical to PageRank.ranks ((1−d)/N first, d·Σ second).
    QueryDef("m62_doc_pagerank", CorpusQueries.docPagerank _,
      ("WITH RECURSIVE " + AugmentedDocsBody + gramPairCtes("aug") +
        ", p AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.6), " +
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM p " +
        "UNION ALL SELECT doc_b, doc_a FROM p), " +
        "outd AS (SELECT src, CAST(count(*) AS DOUBLE) AS od FROM edges GROUP BY 1), " +
        "nodes AS (SELECT DISTINCT src AS node FROM edges), " +
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes), " +
        "pr AS (SELECT 0 AS iter, node, 1.0 / n AS rank FROM nodes CROSS JOIN nn " +
        "UNION ALL " +
        "SELECT pr.iter + 1, e.dst AS node, " +
        "(1.0 - 0.85) / nn.n + 0.85 * sum(pr.rank / outd.od) AS rank " +
        "FROM pr JOIN edges e ON pr.node = e.src JOIN outd ON e.src = outd.src " +
        "CROSS JOIN nn WHERE pr.iter < 10 GROUP BY pr.iter + 1, e.dst, nn.n) " +
        "SELECT node AS doc_id, rank FROM pr WHERE iter = 10")),
    // m63's 7 training iterations are spec-pinned (PcaPowerSpec); the
    // final corpus pass is oracle-replayed with the captured (μ, v₇)
    // inlined as literals (OracleModelSql.pcaTopComponent).
    QueryDef("m63_pca_top_component", CorpusQueries.pcaTopComponent _,
      replay(CorpusQueries.pcaTopComponentState)(OracleModelSql.pcaTopComponent)),
    // m61: the fold's transition CASEs are mirrored verbatim per step;
    // fingerprints are never null, so fp-nullness encodes presence.
    QueryDef("m61_snapshot_merge", CorpusQueries.snapshotMerge _,
      ("WITH f1 AS (SELECT doc_id, md5(coalesce(CASE WHEN doc_id % 10 = 3 " +
        "THEN 'zz' || substr(text, 3) ELSE text END, '')) AS fp " +
        "FROM documents WHERE doc_id % 10 <> 7 " +
        s"UNION ALL SELECT doc_id + ${3 * SynthOff}, md5(coalesce(text, '')) FROM documents WHERE doc_id < 25), " +
        "f2 AS (SELECT doc_id, md5(coalesce(text, '')) AS fp FROM documents), " +
        "f3 AS (SELECT doc_id, md5(coalesce(CASE WHEN doc_id % 10 = 5 " +
        "THEN 'qq' || substr(text, 3) ELSE text END, '')) AS fp " +
        "FROM documents WHERE doc_id % 10 <> 1), " +
        "s1 AS (SELECT doc_id, fp, CAST(1 AS BIGINT) AS first_seen_version, " +
        "CAST(1 AS BIGINT) AS last_changed_version, CAST(1 AS BIGINT) AS last_seen_version, " +
        "'added' AS status FROM f1), " +
        "s2 AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, coalesce(b.fp, a.fp) AS fp, " +
        "CASE WHEN a.fp IS NULL THEN CAST(2 AS BIGINT) ELSE a.first_seen_version END AS first_seen_version, " +
        "CASE WHEN a.fp IS NULL THEN CAST(2 AS BIGINT) WHEN b.fp IS NULL THEN a.last_changed_version " +
        "WHEN a.status = 'removed' THEN CAST(2 AS BIGINT) WHEN a.fp <> b.fp THEN CAST(2 AS BIGINT) " +
        "ELSE a.last_changed_version END AS last_changed_version, " +
        "CASE WHEN b.fp IS NULL THEN a.last_seen_version ELSE CAST(2 AS BIGINT) END AS last_seen_version, " +
        "CASE WHEN a.fp IS NULL THEN 'added' WHEN b.fp IS NULL THEN 'removed' " +
        "WHEN a.status = 'removed' THEN 'added' WHEN a.fp <> b.fp THEN 'changed' " +
        "ELSE 'unchanged' END AS status FROM s1 a FULL OUTER JOIN f2 b ON a.doc_id = b.doc_id), " +
        "s3 AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, coalesce(b.fp, a.fp) AS fp, " +
        "CASE WHEN a.fp IS NULL THEN CAST(3 AS BIGINT) ELSE a.first_seen_version END AS first_seen_version, " +
        "CASE WHEN a.fp IS NULL THEN CAST(3 AS BIGINT) WHEN b.fp IS NULL THEN a.last_changed_version " +
        "WHEN a.status = 'removed' THEN CAST(3 AS BIGINT) WHEN a.fp <> b.fp THEN CAST(3 AS BIGINT) " +
        "ELSE a.last_changed_version END AS last_changed_version, " +
        "CASE WHEN b.fp IS NULL THEN a.last_seen_version ELSE CAST(3 AS BIGINT) END AS last_seen_version, " +
        "CASE WHEN a.fp IS NULL THEN 'added' WHEN b.fp IS NULL THEN 'removed' " +
        "WHEN a.status = 'removed' THEN 'added' WHEN a.fp <> b.fp THEN 'changed' " +
        "ELSE 'unchanged' END AS status FROM s2 a FULL OUTER JOIN f3 b ON a.doc_id = b.doc_id) " +
        "SELECT doc_id, fp, first_seen_version, last_changed_version, last_seen_version, status FROM s3")),
    QueryDef("m44_snapshot_diff", CorpusQueries.snapshotDiff _,
      ("WITH newd AS (SELECT doc_id, md5(coalesce(text, '')) AS new_fp FROM documents), " +
        "old AS (SELECT doc_id, md5(coalesce(CASE WHEN doc_id % 10 = 3 " +
        "THEN 'zz' || substr(text, 3) ELSE text END, '')) AS old_fp " +
        "FROM documents WHERE doc_id % 10 <> 7 " +
        s"UNION ALL SELECT doc_id + ${3 * SynthOff}, md5(coalesce(text, '')) " +
        "FROM documents WHERE doc_id < 25) " +
        "SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, o.old_fp, n.new_fp, " +
        "CASE WHEN o.old_fp IS NULL THEN 'added' " +
        "WHEN n.new_fp IS NULL THEN 'removed' " +
        "WHEN o.old_fp = n.new_fp THEN 'unchanged' ELSE 'changed' END AS status " +
        "FROM old o FULL OUTER JOIN newd n ON o.doc_id = n.doc_id")),
    QueryDef("m50_canonicalize", CorpusQueries.canonicalize _,
      ("WITH aug AS (SELECT doc_id, text || '  caf' || chr(233) || chr(160) || 'na' || " +
        "chr(239) || 've' || chr(9) || 'e' || chr(769) || 'cole  zu' || chr(776) || 'rich ' AS text " +
        "FROM documents WHERE text IS NOT NULL), " +
        "c AS (SELECT doc_id, text, trim(regexp_replace(replace(" +
        "strip_accents(nfc_normalize(text)), chr(160), ' '), '\\s+', ' ', 'g')) AS canonical FROM aug) " +
        "SELECT doc_id, canonical, CAST(length(text) AS BIGINT) AS n_raw_chars, " +
        "CAST(length(canonical) AS BIGINT) AS n_canonical_chars FROM c")),
    QueryDef("m51_markup_strip", CorpusQueries.markupStrip _,
      ("WITH aug AS (SELECT doc_id, '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || " +
        "'</title><style>body { color: #000; }</style></head>" +
        "<body><nav>home | products | about</nav><h1>Doc ' || CAST(doc_id AS VARCHAR) || " +
        "'</h1><p>' || text || '</p><p>Tom &amp; Jerry say &quot;hi&quot; &#39;s &lt;3" +
        " literal &amp;lt; stays</p><script type=\"text/javascript\">var id = ' || " +
        "CAST(doc_id AS VARCHAR) || '; track(id);</script><!-- rendered ' || " +
        "CAST(doc_id AS VARCHAR) || ' --><footer>&nbsp;copyright</footer></body></html>' AS html " +
        "FROM documents WHERE text IS NOT NULL), " +
        "s1 AS (SELECT doc_id, CAST(length(html) AS BIGINT) AS n_markup_chars, " +
        "regexp_replace(html, '(?s)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM aug), " +
        "s2 AS (SELECT doc_id, n_markup_chars, " +
        "regexp_replace(regexp_replace(regexp_replace(t, '(?s)<style[^>]*>.*?</style>', ' ', 'g'), " +
        "'(?s)<!--.*?-->', ' ', 'g'), '<[^>]*>', ' ', 'g') AS t FROM s1), " +
        "dec AS (SELECT doc_id, n_markup_chars, " +
        "replace(replace(replace(replace(replace(replace(t, " +
        "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', chr(39)), " +
        "'&nbsp;', ' '), '&amp;', '&') AS t FROM s2), " +
        "fin AS (SELECT doc_id, n_markup_chars, " +
        "trim(regexp_replace(t, '\\s+', ' ', 'g')) AS extracted FROM dec) " +
        "SELECT doc_id, extracted, n_markup_chars, " +
        "CAST(length(extracted) AS BIGINT) AS n_text_chars FROM fin")),
    QueryDef("m45_tfidf_topterms", CorpusQueries.tfidfTopTerms _,
      ("WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t " +
        "FROM documents WHERE text IS NOT NULL), " +
        "w AS (SELECT doc_id, unnest(t) AS term FROM toks), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM w WHERE term <> '' GROUP BY 1, 2), " +
        "df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), " +
        "n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS nd FROM tf), " +
        "s AS (SELECT doc_id, term, tf, tf * ln((nd + 1.0) / (df + 1.0)) AS score, " +
        "row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY tf * ln((nd + 1.0) / (df + 1.0)) DESC, term) AS rank " +
        "FROM tf JOIN df USING (term) CROSS JOIN n) " +
        "SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tf, score " +
        "FROM s WHERE rank <= 3")),
    QueryDef("m01_text_stats", CorpusQueries.textStats _,
      (TextStatsBase +
        "SELECT doc_id, CAST(n_chars_c AS BIGINT) AS n_chars, CAST(n_words AS BIGINT) AS n_words, " +
        "CAST(n_tokens_est AS BIGINT) AS n_tokens_est, CAST(n_stopwords AS BIGINT) AS n_stopwords, " +
        "CAST(n_digits AS BIGINT) AS n_digits, CAST(n_punct AS BIGINT) AS n_punct, " +
        QualityExpr + " AS quality, " + LangExpr + " AS lang_pred, md5(text) AS fingerprint " +
        "FROM base")),
    QueryDef("m02_lang_quality_filter", CorpusQueries.langQualityFilter _,
      (TextStatsBase +
        "SELECT doc_id, lang_pred, quality FROM (" +
        "SELECT doc_id, " + LangExpr + " AS lang_pred, " + QualityExpr + " AS quality FROM base) t " +
        "WHERE lang_pred = 'en' AND quality >= 0.3")),
    QueryDef("m03_exact_dedup_groups", CorpusQueries.exactDedupGroups _,
      (AugmentedDocs +
        "SELECT md5(text) AS fingerprint, min(doc_id) AS doc_id, count(*) AS n_copies " +
        "FROM aug GROUP BY 1")),
    QueryDef("m04_exact_dedup", CorpusQueries.exactDedup _,
      (AugmentedDocs +
        "SELECT doc_id, lang, source, n_chars FROM aug WHERE doc_id IN (" +
        "SELECT min(doc_id) FROM aug GROUP BY md5(text))")),
    QueryDef("m08_ann_brute", CorpusQueries.annBruteForce _,
      ("WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10), " +
        "scored AS (SELECT query_id, v.vec_id AS neighbor_id, " +
        "list_dot_product(qe, e) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))) AS sim " +
        "FROM v CROSS JOIN q WHERE v.vec_id <> query_id) " +
        "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim FROM (" +
        "SELECT query_id, neighbor_id, sim, row_number() OVER (" +
        "PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM scored) r " +
        "WHERE rank <= 5")),
    QueryDef("m55_source_divergence", CorpusQueries.sourceDivergence _,
      ("WITH t AS (SELECT source, unnest(string_split_regex(lower(trim(text)), ' +')) AS term " +
        "FROM documents WHERE text IS NOT NULL), " +
        "tt AS (SELECT source, term, CAST(count(*) AS BIGINT) AS n_st FROM t WHERE term <> '' GROUP BY 1, 2), " +
        "s AS (SELECT source, sum(n_st) AS n_s FROM tt GROUP BY 1), " +
        "c AS (SELECT term, sum(n_st) AS n_t FROM tt GROUP BY 1), " +
        "n AS (SELECT sum(n_st) AS n_all FROM tt), " +
        "j AS (SELECT source, term, n_st, " +
        "(CAST(n_st AS DOUBLE) / n_s) * ln((CAST(n_st AS DOUBLE) / n_s) / (CAST(n_t AS DOUBLE) / n_all)) AS contrib " +
        "FROM tt JOIN s USING (source) JOIN c USING (term) CROSS JOIN n) " +
        "SELECT source, CAST(sum(n_st) AS BIGINT) AS n_tokens, CAST(count(*) AS BIGINT) AS n_terms, " +
        "list_sum(list(contrib ORDER BY term)) AS kl_vs_corpus FROM j GROUP BY source")),
    QueryDef("m54_embed_winsorize", CorpusQueries.embedWinsorize _,
      ("WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "c AS (SELECT id, unnest(e) AS x, unnest(range(1, len(e)+1)) AS pos FROM v), " +
        "b AS (SELECT pos, quantile_cont(x, 0.05) AS lo_v, quantile_cont(x, 0.95) AS hi_v " +
        "FROM c GROUP BY pos), " +
        "ba AS (SELECT list(lo_v ORDER BY pos) AS lo_arr, list(hi_v ORDER BY pos) AS hi_arr FROM b), " +
        "cl AS (SELECT id, e, lo_arr, hi_arr, list_transform(range(1, len(e)+1), " +
        "i -> least(greatest(e[i], lo_arr[i]), hi_arr[i])) AS ec FROM v CROSS JOIN ba) " +
        "SELECT id, CAST(len(list_filter(range(1, len(e)+1), i -> e[i] <> ec[i])) AS BIGINT) AS n_clipped, " +
        "sqrt(list_dot_product(e, e)) AS norm_before, " +
        "sqrt(list_dot_product(ec, ec)) AS norm_after FROM cl")),
    QueryDef("m48_hard_negatives", CorpusQueries.hardNegatives _,
      ("WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label FROM embeddings), " +
        "q AS (SELECT vec_id AS query_id, e AS qe, label AS qlabel FROM v WHERE vec_id < 10), " +
        "scored AS (SELECT query_id, v.vec_id AS neighbor_id, v.label, " +
        "list_dot_product(qe, e) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))) AS sim " +
        "FROM v CROSS JOIN q WHERE v.vec_id <> query_id AND v.label <> qlabel) " +
        "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, label, sim FROM (" +
        "SELECT query_id, neighbor_id, label, sim, row_number() OVER (" +
        "PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM scored) r " +
        "WHERE rank <= 5")),
    QueryDef("m49_label_confusions", CorpusQueries.labelConfusions _,
      ("WITH e AS (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS val, " +
        "unnest(range(0, len(embedding))) AS pos FROM embeddings " +
        "WHERE label IS NOT NULL AND embedding IS NOT NULL), " +
        "c AS (SELECT label, pos, avg(val) AS m FROM e GROUP BY 1, 2), " +
        "n AS (SELECT label, sum(m * m) AS n2 FROM c GROUP BY 1), " +
        "d AS (SELECT a.label AS label, b.label AS other_label, sum(a.m * b.m) AS dot " +
        "FROM c a JOIN c b ON a.pos = b.pos AND a.label <> b.label GROUP BY 1, 2), " +
        "s AS (SELECT d.label, d.other_label, " +
        "dot / (sqrt(na.n2) * sqrt(nb.n2)) AS sim FROM d " +
        "JOIN n na ON na.label = d.label JOIN n nb ON nb.label = d.other_label), " +
        "r AS (SELECT label, other_label, sim, row_number() OVER (" +
        "PARTITION BY label ORDER BY sim DESC, other_label) AS rk FROM s) " +
        "SELECT label, other_label AS nearest_label, sim FROM r WHERE rk = 1")),
    // m103: Okapi BM25 top-k — the lexical retrieval half; per-term
    // partials quantized to floor(s·10⁶) so the sum is exact integers
    // m103: BM25 replayed verbatim — same tokenization, same float op
    // order, per-term partial floored to ×10⁶ BEFORE the sum (so the
    // aggregate is exact BIGINT arithmetic; the m98 discipline).
    QueryDef("m103_bm25_topk", CorpusQueries.bm25TopK _,
      (Bm25Ctes +
        " SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, n_terms_hit, " +
        "CAST(score_q6 AS DOUBLE) / 1000000.0 AS score FROM (" +
        "SELECT query_id, doc_id, n_terms_hit, score_q6, row_number() OVER (" +
        "PARTITION BY query_id ORDER BY score_q6 DESC, doc_id) AS rank FROM acc) r " +
        "WHERE rank <= 10")),
    // m112: the same retrieval served from the STORED term-sorted
    // postings asset (build-once/probe-many, the m84 topology) —
    // byte-identical to m103 by construction, shares its oracle
    // m112: ONE oracle for m103 AND m112 — the stored-index probe is
    // contractually byte-identical to the fresh path (the m25/m46
    // shared-oracle discipline)
    QueryDef("m112_bm25_stored", CorpusQueries.bm25StoredProbe _,
      (Bm25Ctes +
        " SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, n_terms_hit, " +
        "CAST(score_q6 AS DOUBLE) / 1000000.0 AS score FROM (" +
        "SELECT query_id, doc_id, n_terms_hit, score_q6, row_number() OVER (" +
        "PARTITION BY query_id ORDER BY score_q6 DESC, doc_id) AS rank FROM acc) r " +
        "WHERE rank <= 10")),
    // m104: reciprocal-rank fusion of BM25 and cosine top-20 lists —
    // hybrid retrieval, rank-only (exact BIGINT fused scores)
    // m104: RRF over the BM25 and cosine top-20 lists; contributions are
    // floor(1e9/(60+rank)) — exact integer arithmetic in both engines.
    QueryDef("m104_rrf_hybrid", CorpusQueries.rrfHybrid _,
      (Bm25Ctes +
        ", lex AS (SELECT query_id, doc_id, rank FROM (" +
        "SELECT query_id, doc_id, row_number() OVER (" +
        "PARTITION BY query_id ORDER BY score_q6 DESC, doc_id) AS rank FROM acc) x " +
        "WHERE rank <= 20), " +
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings), " +
        "q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < 10), " +
        "sc AS (SELECT query_id, v.vec_id AS doc_id, " +
        "list_dot_product(qe, e) / (sqrt(list_dot_product(qe, qe)) * sqrt(list_dot_product(e, e))) AS sim " +
        "FROM v CROSS JOIN q WHERE v.vec_id <> query_id), " +
        "sem AS (SELECT query_id, doc_id, rank FROM (" +
        "SELECT query_id, doc_id, row_number() OVER (" +
        "PARTITION BY query_id ORDER BY sim DESC, doc_id) AS rank FROM sc) x " +
        "WHERE rank <= 20), " +
        "fused AS (SELECT coalesce(l.query_id, s.query_id) AS query_id, " +
        "coalesce(l.doc_id, s.doc_id) AS doc_id, l.rank AS rank_a, s.rank AS rank_b, " +
        "coalesce(CAST(floor(1000000000.0 / (60 + l.rank)) AS BIGINT), 0) + " +
        "coalesce(CAST(floor(1000000000.0 / (60 + s.rank)) AS BIGINT), 0) AS rrf_q9 " +
        "FROM lex l FULL OUTER JOIN sem s ON l.query_id = s.query_id AND l.doc_id = s.doc_id) " +
        "SELECT query_id, CAST(rank AS BIGINT) AS rank, doc_id, rank_a, rank_b, rrf_q9 " +
        "FROM (SELECT query_id, doc_id, rank_a, rank_b, rrf_q9, row_number() OVER (" +
        "PARTITION BY query_id ORDER BY rrf_q9 DESC, doc_id) AS rank FROM fused) x " +
        "WHERE rank <= 10")),
    // m105: marginal-novelty curve — new distinct 3-shingles per
    // ingestion-order decile, the crawl-scaling diagnostic
    // m105: the gram walk is the proven m14/m60 string replay; the bucket
    // is floor(rank·10 / n_all) on the same double operands; everything
    // past the per-doc bucket map is ≤10 rows.
    QueryDef("m105_novelty_curve", CorpusQueries.noveltyCurve _,
      ("WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL), " +
        "r AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS rnk FROM d), " +
        "n AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM d), " +
        "bkt AS (SELECT doc_id, CAST(floor(CAST(rnk * 10 AS DOUBLE) / n_all) AS BIGINT) AS bucket " +
        "FROM r CROSS JOIN n), " +
        "toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t FROM d), " +
        "g AS (SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] " +
        "ELSE list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS gs FROM toks), " +
        "gd AS (SELECT doc_id, gram FROM (SELECT doc_id, unnest(list_distinct(gs)) AS gram FROM g) " +
        "WHERE gram <> ''), " +
        "fd AS (SELECT gram, min(doc_id) AS doc_id FROM gd GROUP BY 1), " +
        "pbd AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs FROM bkt GROUP BY 1), " +
        "pbn AS (SELECT bucket, CAST(count(*) AS BIGINT) AS new_grams FROM fd JOIN bkt USING (doc_id) GROUP BY 1), " +
        "j AS (SELECT b.bucket, b.n_docs, coalesce(p.new_grams, 0) AS new_grams " +
        "FROM pbd b LEFT JOIN pbn p USING (bucket)) " +
        "SELECT bucket, n_docs, new_grams, " +
        "CAST(sum(new_grams) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_new_grams, " +
        "CAST(sum(new_grams) OVER (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / " +
        "sum(new_grams) OVER () AS cum_share FROM j")),
    // m106: duplicate-family size histogram over the stored cluster
    // asset — family size k → families / docs / token mass / excess
    // (the Lee et al. 2021 dedup-payoff plot)
    // m106/m107: the family map is the m17 component closure (θ ≥ 0.6
    // over the m14 gram chain); token counts are the filtered-whitespace
    // convention with null text → 0. All sums are exact integers.
    QueryDef("m106_dup_family_hist", CorpusQueries.dupFamilyHistogram _,
      ("WITH RECURSIVE " + AugmentedDocsBody + gramPairCtes("aug") + ClusterCtes +
        ", cl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id FROM reach GROUP BY src), " +
        "tok AS (SELECT doc_id, coalesce(CAST(len(list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x <> '')) AS BIGINT), 0) AS n_tokens FROM aug), " +
        "fam AS (SELECT a.doc_id, coalesce(c.cluster_id, a.doc_id) AS family_id FROM aug a LEFT JOIN cl c ON a.doc_id = c.doc_id), " +
        "fs AS (SELECT family_id, CAST(count(*) AS BIGINT) AS family_size, " +
        "CAST(sum(t.n_tokens) AS BIGINT) AS fam_tokens, " +
        "CAST(sum(CASE WHEN f.doc_id = f.family_id THEN t.n_tokens ELSE 0 END) AS BIGINT) AS canon_tokens " +
        "FROM fam f JOIN tok t ON f.doc_id = t.doc_id GROUP BY 1) " +
        "SELECT family_size, CAST(count(*) AS BIGINT) AS n_families, " +
        "CAST(family_size * count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(fam_tokens) AS BIGINT) AS token_mass, " +
        "CAST(sum(fam_tokens - canon_tokens) AS BIGINT) AS excess_token_mass " +
        "FROM fs GROUP BY family_size")),
    // m107: per-source duplicate mass with cross-source attribution —
    // the mirror-site accounting card (exact copies re-sourced 'mirror')
    QueryDef("m107_source_dup_mass", CorpusQueries.sourceDupMass _,
      ("WITH RECURSIVE " + AugmentedDocsBody + gramPairCtes("aug") + ClusterCtes +
        ", cl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id FROM reach GROUP BY src), " +
        s"m AS (SELECT doc_id, CASE WHEN doc_id >= ${2 * SynthOff} AND doc_id < ${2 * SynthOff + 50} THEN 'mirror' ELSE source END AS source, " +
        "coalesce(CAST(len(list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x <> '')) AS BIGINT), 0) AS n_tokens FROM aug), " +
        "fam AS (SELECT a.doc_id, coalesce(c.cluster_id, a.doc_id) AS family_id FROM aug a LEFT JOIN cl c ON a.doc_id = c.doc_id), " +
        "j AS (SELECT f.family_id, f.doc_id, m.source, m.n_tokens, cs.source AS canon_source " +
        "FROM fam f JOIN m ON f.doc_id = m.doc_id JOIN m cs ON f.family_id = cs.doc_id) " +
        "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
        "CAST(sum(CASE WHEN doc_id <> family_id THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs, " +
        "CAST(sum(CASE WHEN doc_id <> family_id THEN n_tokens ELSE 0 END) AS BIGINT) AS dup_tokens, " +
        "CAST(sum(CASE WHEN doc_id <> family_id AND source <> canon_source THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_source_dups, " +
        "CAST(sum(CASE WHEN doc_id <> family_id AND source <> canon_source THEN n_tokens ELSE 0 END) AS BIGINT) AS cross_source_tokens, " +
        "CAST(sum(CASE WHEN doc_id <> family_id THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_doc_share " +
        "FROM j GROUP BY source")),
    // m108: Flesch reading-ease / FK grade card — regex-heuristic
    // sentence/word/syllable counts, exact integer bases, fixed-order
    // float formulas; zero-exchange projection
    // m108: sentence/word/syllable counting conventions documented in
    // graft.text.Readability; counts are exact integers, formulas in a
    // fixed operand order.
    QueryDef("m108_readability", CorpusQueries.readability _,
      ("WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL), " +
        "w AS (SELECT doc_id, text, list_filter(string_split_regex(lower(trim(text)), ' +'), x -> regexp_matches(x, '[a-z0-9]')) AS ws FROM d), " +
        "c AS (SELECT doc_id, " +
        "greatest(1, CAST(len(list_filter(string_split_regex(text, '[.!?]+'), s -> trim(s) <> '')) AS BIGINT)) AS n_sentences, " +
        "CAST(len(ws) AS BIGINT) AS n_words, " +
        "CAST(list_sum(list_transform(ws, x -> greatest(1, len(string_split_regex(x, '[aeiouy]+')) - 1))) AS BIGINT) AS n_syllables " +
        "FROM w) " +
        "SELECT doc_id, n_sentences, n_words, n_syllables, " +
        "CAST(n_words AS DOUBLE) / n_sentences AS words_per_sentence, " +
        "CAST(n_syllables AS DOUBLE) / n_words AS syllables_per_word, " +
        "206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences) - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words) AS flesch_reading_ease, " +
        "0.39 * (CAST(n_words AS DOUBLE) / n_sentences) + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59 AS fk_grade " +
        "FROM c WHERE n_words > 0"))
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.defs.map(d => d.name -> d.run).toMap

  /** Captured-model entries appear only once their query has run. */
  def oracleSql: Map[String, String] =
    registry.defs.flatMap(d => d.oracle.sql.map(d.name -> _)).toMap

  /** BM25 chain up to per-(query, doc) accumulated integer score `acc` —
    * replays graft.text.Bm25 verbatim: same whitespace tokenization, same
    * first-8-distinct-terms query bags over docs 0–9, same float op order
    * in idf/tfNorm, per-term partial quantized floor(·10⁶) BEFORE the sum.
    * Shared by m103 (k=10 list) and m104 (k=20 list into RRF). */
  private[graft] val Bm25Ctes: String =
    "WITH lt AS (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), ' +'), x -> x <> '') AS t " +
      "FROM documents WHERE text IS NOT NULL), " +
      "st AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(len(t)) AS BIGINT) AS sum_dl FROM lt), " +
      "w AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, unnest(t) AS term, " +
      "unnest(range(1, len(t)+1)) AS ord FROM lt), " +
      "qf AS (SELECT doc_id AS query_id, term, min(ord) AS fp FROM w WHERE doc_id < 10 GROUP BY 1, 2), " +
      "qb AS (SELECT query_id, term FROM (SELECT query_id, term, row_number() OVER (" +
      "PARTITION BY query_id ORDER BY fp, term) AS tr FROM qf) x WHERE tr <= 8), " +
      "post AS (SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY 1, 2, 3), " +
      "pruned AS (SELECT p.term, p.doc_id, p.dl, p.tf FROM post p " +
      "JOIN (SELECT DISTINCT term FROM qb) qt USING (term)), " +
      "dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM pruned GROUP BY 1), " +
      "per AS (SELECT qb.query_id, p.doc_id, CAST(floor(" +
      "ln(1.0 + (CAST(st.n_docs - d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5)) * " +
      "((CAST(p.tf AS DOUBLE) * 2.2) / (CAST(p.tf AS DOUBLE) + 1.2 * (0.25 + " +
      "0.75 * CAST(p.dl AS DOUBLE) / (CAST(st.sum_dl AS DOUBLE) / st.n_docs)))) * 1000000.0" +
      ") AS BIGINT) AS s_q6 " +
      "FROM pruned p JOIN dfreq d USING (term) JOIN qb USING (term) CROSS JOIN st " +
      "WHERE p.doc_id <> qb.query_id), " +
      "acc AS (SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_terms_hit, " +
      "sum(s_q6) AS score_q6 FROM per GROUP BY 1, 2)"

  // Shared DuckDB SQL fragments for the M8 oracles — kept in lockstep with
  // graft.text.TextOps (same regexes, same double-arithmetic order).
  /** m141 oracle: the doc_id-mod-3 card augmentation replayed verbatim,
    * then graft.text.Luhn's detection recomputed — maximal digit runs,
    * ≥ 13-digit candidate gate, and the separator-block-aligned window
    * scan: a run is valid when ANY contiguous block span totals 13–19
    * digits and passes the Luhn fold (1-based positions over the
    * reversed digits, odd plain, even doubled −9 — the exact engine
    * arithmetic). Built compositionally because the span scan nests
    * four lambda levels (run → span start → span end → digit). */
  private[graft] val CcLuhnOracle: String = {
    val bl = "list_filter(string_split_regex(s, '[ -]+'), b -> length(b) > 0)"
    val ds = s"array_to_string(($bl)[i:j], '')"
    def dig = s"(ascii(substr(reverse($ds), p, 1)) - 48)"
    val luhn = s"list_sum(list_transform(generate_series(1, length($ds)), p -> " +
      s"CASE WHEN p % 2 = 1 THEN $dig " +
      s"ELSE CASE WHEN 2 * $dig > 9 THEN 2 * $dig - 9 " +
      s"ELSE 2 * $dig END END)) % 10 = 0"
    val window = s"length($ds) BETWEEN 13 AND 19 AND $luhn"
    val valid = s"len(list_filter(generate_series(1, len($bl)), i -> " +
      s"len(list_filter(generate_series(i, len($bl)), j -> $window)) > 0)) > 0"
    "WITH d AS (SELECT doc_id, text || CASE CAST(doc_id % 3 AS INT) " +
      "WHEN 0 THEN ' pay 4111 1111 1111 1111 today' " +
      "WHEN 1 THEN ' ref 4111-1111-1111-1112 attached' " +
      "ELSE ' order 123456 confirmed' END AS t " +
      "FROM documents WHERE text IS NOT NULL), " +
      "c0 AS (SELECT doc_id, list_filter(" +
      "regexp_extract_all(t, '[0-9][0-9 -]{11,38}[0-9]'), " +
      "s -> length(regexp_replace(s, '[ -]', '', 'g')) >= 13) AS cands FROM d) " +
      "SELECT doc_id, CAST(len(cands) AS BIGINT) AS n_candidates, " +
      s"CAST(len(list_filter(cands, s -> $valid)) AS BIGINT) AS n_cc_valid FROM c0"
  }

  /** Shared bigram-LM oracle prefix — the corpus tokenized by the house
    * rule, per-doc bigram stream `g`, count table `c` and vocabulary
    * 1-row `v`; the add-α (m43) and Kneser–Ney (m138) chains both build
    * on it so the tokenization contract can never drift between them. */
  private[graft] val BigramLmCtes: String =
    "WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t " +
      "FROM documents WHERE text IS NOT NULL), " +
      "w AS (SELECT doc_id, unnest(t) AS w, unnest(range(1, len(t)+1)) AS ord FROM toks), " +
      "p AS (SELECT doc_id, w AS a, lead(w) OVER (PARTITION BY doc_id ORDER BY ord) AS b FROM w), " +
      "g AS (SELECT doc_id, a, b FROM p WHERE b IS NOT NULL), " +
      "c AS (SELECT a, b, count(*) AS cab FROM g GROUP BY 1, 2), " +
      "v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vs FROM " +
      "(SELECT a AS tok FROM c UNION SELECT b FROM c))"

  /** Shared HLL oracle prefix (m140/m148): the m105 shingle CTEs, the
    * md5-hex12 48-bit hash, and the per-(source, bucket) register table
    * `rr` via exact integer bucket/rho arithmetic (bin() = minimal
    * binary string in both engines). */
  private[graft] val HllRegisterCtes: String =
    "WITH d AS (SELECT source, text FROM documents WHERE text IS NOT NULL), " +
      "toks AS (SELECT source, string_split_regex(lower(trim(text)), ' +') AS t FROM d), " +
      "g AS (SELECT source, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] " +
      "ELSE list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS gs FROM toks), " +
      "gd AS (SELECT DISTINCT source, gram FROM " +
      "(SELECT source, unnest(gs) AS gram FROM g) WHERE gram <> ''), " +
      "hs AS (SELECT source, ('0x' || substr(md5(gram), 1, 12))::BIGINT AS h FROM gd), " +
      "rb AS (SELECT source, h // 68719476736 AS bucket, h % 68719476736 AS rest FROM hs), " +
      "rr AS (SELECT source, bucket, " +
      "max(CASE WHEN rest = 0 THEN 37 ELSE 37 - length(bin(rest)) END) AS rho " +
      "FROM rb GROUP BY 1, 2)"

  /** Shared trigram-KN oracle prefix (m144/m145): the trigram stream
    * `g` via two leads, raw count table `c3`, context stats `ctx3`
    * (mass, distinct continuations, and the per-count type counts
    * tm1/tm2/tm3 the modified ladder needs), continuation-count bigram
    * table `cp` with its own `ctx2`/`cont2`, vocabulary `v`, and the
    * counts-of-counts scalars `g3` (n13..n43) / `g2` — every statistic
    * a re-aggregation of `c3`, arithmetic mirrored left-assoc. */
  private[graft] val TrigramLmCtes: String =
    "WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t " +
      "FROM documents WHERE text IS NOT NULL), " +
      "w AS (SELECT doc_id, unnest(t) AS w, unnest(range(1, len(t)+1)) AS ord FROM toks), " +
      "tri AS (SELECT doc_id, w AS a, " +
      "lead(w) OVER (PARTITION BY doc_id ORDER BY ord) AS b, " +
      "lead(w, 2) OVER (PARTITION BY doc_id ORDER BY ord) AS c FROM w), " +
      "g AS (SELECT doc_id, a, b, c FROM tri WHERE b IS NOT NULL AND c IS NOT NULL), " +
      "c3 AS (SELECT a, b, c, count(*) AS cabc FROM g GROUP BY 1, 2, 3), " +
      "ctx3 AS (SELECT a, b, sum(cabc) AS cab, CAST(count(*) AS DOUBLE) AS nf3, " +
      "CAST(count(*) FILTER (WHERE cabc = 1) AS DOUBLE) AS tm1, " +
      "CAST(count(*) FILTER (WHERE cabc = 2) AS DOUBLE) AS tm2, " +
      "CAST(count(*) FILTER (WHERE cabc >= 3) AS DOUBLE) AS tm3 " +
      "FROM c3 GROUP BY 1, 2), " +
      "cp AS (SELECT b, c, CAST(count(*) AS BIGINT) AS cbc FROM c3 GROUP BY 1, 2), " +
      "ctx2 AS (SELECT b, sum(cbc) AS cb, CAST(count(*) AS DOUBLE) AS nf2 FROM cp GROUP BY 1), " +
      "cont2 AS (SELECT c, CAST(count(*) AS DOUBLE) AS nb2 FROM cp GROUP BY 1), " +
      "v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vs FROM " +
      "(SELECT a AS tok FROM c3 UNION SELECT b FROM c3 UNION SELECT c FROM c3)), " +
      "g3 AS (SELECT CAST(count(*) FILTER (WHERE cabc = 1) AS DOUBLE) AS n13, " +
      "CAST(count(*) FILTER (WHERE cabc = 2) AS DOUBLE) AS n23, " +
      "CAST(count(*) FILTER (WHERE cabc = 3) AS DOUBLE) AS n33, " +
      "CAST(count(*) FILTER (WHERE cabc = 4) AS DOUBLE) AS n43 FROM c3), " +
      "g2 AS (SELECT CAST(count(*) AS DOUBLE) AS dd2, " +
      "CAST(count(*) FILTER (WHERE cbc = 1) AS DOUBLE) AS n12, " +
      "CAST(count(*) FILTER (WHERE cbc = 2) AS DOUBLE) AS n22, " +
      "CAST(count(DISTINCT c) AS DOUBLE) AS t2 FROM cp)"

  /** The m43 bigram-LM chain up to per-doc cross-entropy (`h`) — shared
    * by the m43 report and the m89 bucket assignment. */
  private[graft] val LmPerplexityCtes: String =
    BigramLmCtes +
      ", ctx AS (SELECT a, sum(cab) AS ca FROM c GROUP BY 1), " +
      "h AS (SELECT doc_id, count(*) AS n_bigrams, " +
      "-avg(ln((cab + 0.5) / (ca + 0.5 * vs))) AS cross_entropy " +
      "FROM g JOIN c USING (a, b) JOIN ctx USING (a) CROSS JOIN v GROUP BY doc_id) "

  private[graft] def textStatsBaseOver(src: String): String =
    s"base AS (SELECT doc_id, text, length(text) AS n_chars_c, " +
      "len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_words, " +
      "len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_tokens_est, " +
      "len(list_filter(string_split_regex(lower(trim(text)), ' +'), t -> t IN (" +
      "'the','a','an','of','to','and','in','is','it','that','for','on','with','as'))) AS n_stopwords, " +
      "len(regexp_extract_all(text, '[0-9]')) AS n_digits, " +
      "len(regexp_extract_all(text, '[.,;:!?''\"()-]')) AS n_punct " +
      s"FROM $src) "

  private val TextStatsBase: String = "WITH " + textStatsBaseOver("documents")

  /** The Spark KMV tier's k, interpolated into the m153/m154 replays so
    * both engines share ONE constant (ADVICE r19: the SQL hard-coded
    * k=256 and 255·2⁴⁸, so a future DefaultK change would silently
    * desynchronize the oracle). 2⁴⁸ stays literal — it is the hash48
    * space size, not k-dependent. */
  private val KmvK: Int = graft.operators.KmvSketch.DefaultK

  private[graft] val QualityExpr: String =
    "(0.4 * least(CAST(n_words AS DOUBLE) / 200.0, 1.0) " +
      "+ 0.4 * least(CAST(n_stopwords AS DOUBLE) / greatest(CAST(n_words AS DOUBLE), 1.0) * 4.0, 1.0) " +
      "+ 0.1 * (1.0 - least(CAST(n_digits AS DOUBLE) / greatest(CAST(n_chars_c AS DOUBLE), 1.0) * 10.0, 1.0)) " +
      "+ 0.1 * (1.0 - least(CAST(n_punct AS DOUBLE) / greatest(CAST(n_chars_c AS DOUBLE), 1.0) * 10.0, 1.0)))"

  private[graft] val LangExpr: String =
    "(CASE WHEN n_words = 0 THEN 'unknown' " +
      "WHEN CAST(n_stopwords AS DOUBLE) / greatest(CAST(n_words AS DOUBLE), 1.0) >= 0.03 THEN 'en' " +
      "ELSE 'unknown' END)"

  /** The oracle-side synthetic-dup id offset. CorpusQueries.docOff derives
    * this as the smallest power-of-10 ≥ 10000 that clears max(doc_id); the
    * driver fixtures top out below 10000, so the oracle can inline the
    * floor value. Every oracle window over the synthetic ids (exact copies
    * at [2·off, 2·off+50), mutated at [off, off+50), m107's mirror window)
    * MUST be spelled from this one constant so they cannot drift. */
  private val SynthOff: Long = 10000L

  private val AugmentedDocsBody: String =
    "aug AS (SELECT * FROM documents " +
      s"UNION ALL SELECT doc_id + ${2 * SynthOff}, text, lang, source, n_chars FROM documents WHERE doc_id < 50 " +
      s"UNION ALL SELECT doc_id + $SynthOff, 'zz' || substr(text, 3), lang, source, n_chars " +
      "FROM documents WHERE doc_id < 50) "

  private val AugmentedDocs: String = "WITH " + AugmentedDocsBody

  /** One oracle for m25 AND m46: the Bloom variant is contractually
    * byte-identical (the verify join strips the bitset's false positives). */
  private val DecontaminateSql: String =
    AugmentedDocs +
      ", bench AS (SELECT doc_id, text FROM aug WHERE doc_id < 50), " +
      "corpus AS (SELECT doc_id, text FROM aug WHERE doc_id >= 50), " +
      "bt AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t FROM bench), " +
      "bg AS (SELECT DISTINCT gram FROM (SELECT unnest(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] " +
      "ELSE list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS gram FROM bt) " +
      "WHERE gram <> ''), " +
      "ct AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t FROM corpus), " +
      "cg AS (SELECT DISTINCT doc_id, gram FROM (SELECT doc_id, unnest(CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] " +
      "ELSE list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END) AS gram FROM ct) " +
      "WHERE gram <> '') " +
      "SELECT doc_id, CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits, " +
      "count(*) AS n_grams, " +
      "CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS hit_ratio " +
      "FROM cg c LEFT JOIN bg b USING (gram) GROUP BY doc_id " +
      "HAVING CAST(sum(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) >= 0.5"

  /** Connected-component closure over `pairs` (m17/m18) — replays
    * graft.dedup.DedupClusters.components as a recursive CTE. */
  private val ClusterCtes: String =
    ", p AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.6), " +
      "edges AS (SELECT doc_a AS src, doc_b AS dst FROM p " +
      "UNION SELECT doc_b, doc_a FROM p), " +
      "reach AS (SELECT src, dst FROM edges " +
      "UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src) "

  /** MinHash+LSH candidate generation (m05/m07) replayed in DuckDB:
    * FNV-1a 64 over word 3-shingles (HUGEINT wraparound arithmetic, exact
    * Java semantics including the signed pmod into [0, 2^31-1)), the 64
    * seeded (a,b) permutations inlined as LITERALS from
    * [[graft.dedup.MinHashLSH.hashParams]] (DuckDB never replicates the
    * RNG), per-band signature-slice bucket keys (bucket equality ⟺ slice
    * equality, which is what the engine's xxhash64 bucket key encodes up
    * to ~2^-64 collisions), and the bucketCap drop. Leaves CTEs `cand`
    * (candidate doc_a < doc_b) and `shx` (distinct reduced shingle hashes
    * per doc) for the verify stage of each query. */
  private val MinhashCandCtes: String = {
    val p = "2147483647"
    val sigCols = graft.dedup.MinHashLSH.hashParams().zipWithIndex.map {
      case ((a, b), j) => s"min(($a*x+$b) % $p) AS s$j"
    }.mkString(", ")
    val caseArms = (0 until 16).map(b =>
      s"WHEN $b THEN concat_ws(',', s${4 * b}, s${4 * b + 1}, s${4 * b + 2}, s${4 * b + 3})")
      .mkString(" ")
    val fnv = "list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), " +
      "list_transform(generate_series(1, length(g)), i -> CAST(unicode(substr(g, i, 1)) AS HUGEINT))), " +
      "(h, c) -> (xor(h, c) * 1099511628211) % 18446744073709551616)"
    val pmod = "CAST(((CASE WHEN fh >= 9223372036854775808 " +
      s"THEN fh - 18446744073709551616 ELSE fh END) % $p + $p) % $p AS BIGINT)"
    ", toks AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS t " +
      "FROM aug WHERE text IS NOT NULL), " +
      "shl AS (SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] " +
      "ELSE list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS gs " +
      "FROM toks WHERE len(t) > 0), " +
      s"shx AS (SELECT DISTINCT doc_id, $pmod AS x FROM " +
      s"(SELECT doc_id, $fnv AS fh FROM (SELECT doc_id, unnest(gs) AS g FROM shl))), " +
      s"sig AS (SELECT doc_id, $sigCols FROM shx GROUP BY doc_id), " +
      s"banded AS (SELECT doc_id, band, CASE band $caseArms END AS bkey " +
      "FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS band)), " +
      "bsz AS (SELECT band, bkey, count(*) AS c FROM banded GROUP BY 1, 2), " +
      "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
      "FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id " +
      "JOIN bsz z ON z.band = a.band AND z.bkey = a.bkey WHERE z.c <= 1000) "
  }

  /** Hyperplane-LSH ANN (m09/m10) replayed in DuckDB: the seeded gaussian
    * hyperplanes are inlined as double literals from
    * [[graft.similarity.Ann.hyperplanes]] (shortest-round-trip printing,
    * so DuckDB parses the identical doubles), sign-bit buckets via
    * list_dot_product (same left-to-right summation order as the
    * codegen'd graft_dot, so the doubles agree bitwise), bucket
    * equi-joins, and the same cosine scoring + tie-broken top-k /
    * threshold filter as the engine. */
  private def annSqlArr(p: Seq[Double]): String = p.mkString("[", ", ", "]")
  private def annBucketExpr(planes: Seq[Seq[Double]], vec: String): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product($vec, ${annSqlArr(p)}) >= 0.0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")

  private val AnnLshSql: String = {
    val ps = graft.similarity.Ann.hyperplanes(4, 64, 42L)
    "WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings), " +
      "b AS (SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS nrm, " +
      s"${annBucketExpr(ps, "vec")} AS bucket FROM v), " +
      "q AS (SELECT bucket, id AS query_id, vec AS qvec, nrm AS qnrm FROM b WHERE id < 10), " +
      "scored AS (SELECT query_id, c.id AS neighbor_id, " +
      "list_dot_product(qvec, c.vec) / (qnrm * c.nrm) AS sim " +
      "FROM b c JOIN q USING (bucket) WHERE c.id <> query_id), " +
      "r AS (SELECT query_id, neighbor_id, sim, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM scored) " +
      "SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id, sim FROM r WHERE rank <= 5"
  }

  private val EmbedNearDupSql: String = {
    val pls = (0 until 3).map(t => graft.similarity.Ann.hyperplanes(8, 64, 42L + t))
    val tblBuckets = (0 until 3).map(t =>
      s"${annBucketExpr(pls(t), "vec")} AS b$t").mkString(", ")
    "WITH v0 AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings), " +
      "v AS (SELECT * FROM v0 UNION ALL " +
      "SELECT id + 10000, list_transform(generate_series(1, 64), " +
      "i -> CASE WHEN i = 64 THEN vec[i] + 0.05 ELSE vec[i] END) " +
      "FROM v0 WHERE id < 20), " +
      s"b AS (SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS nrm, $tblBuckets FROM v), " +
      "bk AS (SELECT id, vec, nrm, t, CASE t WHEN 0 THEN b0 WHEN 1 THEN b1 ELSE b2 END AS bucket " +
      "FROM b CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS t)), " +
      "pairs AS (SELECT DISTINCT a.id AS doc_a, c.id AS doc_b, " +
      "list_dot_product(a.vec, c.vec) / (a.nrm * c.nrm) AS sim " +
      "FROM bk a JOIN bk c ON a.t = c.t AND a.bucket = c.bucket AND a.id < c.id) " +
      "SELECT doc_a, doc_b, sim FROM pairs WHERE sim >= 0.99"
  }

  /** SimHash near-dup (m06) replayed in DuckDB: per-token FNV-1a 64 (same
    * HUGEINT arithmetic as [[MinhashCandCtes]]), the 64 term-frequency-
    * weighted bit majorities folded into four 16-bit chunks, pigeonhole
    * chunk-equality candidates with the bucketCap drop, and codegen-free
    * Hamming verification as summed per-chunk popcounts. Docs with null/
    * whitespace-only text carry the all-zero signature, exactly like the
    * engine's UDF. */
  private val SimhashSql: String = {
    val fnv = "list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT), " +
      "list_transform(generate_series(1, length(g)), i -> CAST(unicode(substr(g, i, 1)) AS HUGEINT))), " +
      "(h, c) -> (xor(h, c) * 1099511628211) % 18446744073709551616)"
    // BigInt shift: 1L << 63 would overflow to Long.MIN_VALUE and flip the
    // sign of the b=63 divisor (observed as 3 off-by-one hamming rows).
    val bitSums = (0 until 64).map(b =>
      s"coalesce(sum(CAST((h // ${BigInt(1) << b}) % 2 AS INT)), 0) AS o$b").mkString(", ")
    val chunkCols = (0 until 4).map { i =>
      val terms = (0 until 16).map(b =>
        s"(CASE WHEN 2*o${16 * i + b} > n THEN ${1L << b} ELSE 0 END)").mkString(" + ")
      s"CAST($terms AS BIGINT) AS c$i"
    }.mkString(", ")
    val ham = "bit_count(xor(sa.c0, sb.c0)) + bit_count(xor(sa.c1, sb.c1)) " +
      "+ bit_count(xor(sa.c2, sb.c2)) + bit_count(xor(sa.c3, sb.c3))"
    AugmentedDocs +
      ", tok AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS g " +
      "FROM aug WHERE text IS NOT NULL), " +
      s"th AS (SELECT doc_id, $fnv AS h FROM tok), " +
      s"bs AS (SELECT doc_id, count(*) AS n, $bitSums FROM th GROUP BY doc_id), " +
      s"sigb AS (SELECT a.doc_id, $chunkCols FROM aug a LEFT JOIN bs ON a.doc_id = bs.doc_id), " +
      "chunked AS (SELECT doc_id, i AS chunk_idx, CASE i WHEN 0 THEN c0 WHEN 1 THEN c1 WHEN 2 THEN c2 ELSE c3 END AS chunk_val " +
      "FROM sigb CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i)), " +
      "bsz AS (SELECT chunk_idx, chunk_val, count(*) AS c FROM chunked GROUP BY 1, 2), " +
      "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
      "FROM chunked a JOIN chunked b ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id " +
      "JOIN bsz z ON z.chunk_idx = a.chunk_idx AND z.chunk_val = a.chunk_val WHERE z.c <= 1000) " +
      s"SELECT doc_a, doc_b, CAST($ham AS BIGINT) AS hamming " +
      "FROM cand JOIN sigb sa ON sa.doc_id = doc_a JOIN sigb sb ON sb.doc_id = doc_b " +
      s"WHERE $ham <= 3"
  }

  /** The inverted-index Jaccard chain (m14/m17/m18) as CTEs over `src` —
    * replays graft.dedup.NgramJaccard.invertedIndexPairs verbatim. */
  private def gramPairCtes(src: String): String =
    s", toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), ' +') AS t FROM $src), " +
      "g AS (SELECT doc_id, CASE WHEN len(t) < 3 THEN [array_to_string(t, ' ')] " +
      "ELSE list_transform(generate_series(1, len(t) - 2), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]) END AS gs FROM toks), " +
      "gd AS (SELECT doc_id, gram FROM (SELECT doc_id, unnest(list_distinct(gs)) AS gram FROM g) " +
      "WHERE gram <> ''), " + // empty docs yield no grams (exact dedup owns them)
      "kept AS (SELECT doc_id, gram FROM (SELECT doc_id, gram, " +
      "count(*) OVER (PARTITION BY gram) AS df FROM gd) WHERE df <= 50), " +
      "sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1), " +
      "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared " +
      "FROM kept a JOIN kept b USING (gram) WHERE a.doc_id < b.doc_id GROUP BY 1, 2), " +
      "pairs AS (SELECT doc_a, doc_b, " +
      "CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard FROM inter " +
      "JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b) "
}
