package graft

/** DuckDB-dialect oracle SQL, one per entry in [[Queries.all]] — the
  * driver's t2 correctness gate runs these over the same parquet tables and
  * hash-compares against our Spark results (SURVEY.md §8, amended per the
  * column-naming rule: every computed column is aliased identically on both
  * sides, and engine-specific integer widths are cast to BIGINT).
  *
  * Both engines read the `timestamp[us]` columns (`events.ts`,
  * `o_orderdate`, `l_shipdate`) natively as µs TIMESTAMP.
  */
object OracleSql {

  val all: Map[String, String] = Map(
    "q01_project_math" -> """
      SELECT l_orderkey, l_linenumber,
             round(sqrt(l_discount*l_discount + l_tax*l_tax), 6) AS amp,
             round(degrees(atan2(l_tax, l_discount + 0.001)), 4) AS phase
      FROM lineitem WHERE l_orderkey % 50 = 0
      ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST""",

    "q02_filter_flagmask" -> """
      SELECT l_returnflag, count(*) AS n,
        round(CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS DOUBLE)
              / 100.0, 2) AS s
      FROM lineitem
      WHERE NOT (l_returnflag = 'R') AND l_shipdate >= TIMESTAMP '1997-01-01'
      GROUP BY l_returnflag ORDER BY l_returnflag NULLS FIRST""",

    "q03_subset_in_range" -> """
      SELECT o_orderpriority, count(*) AS n
      FROM orders
      WHERE o_orderstatus IN ('O','F')
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1998-12-31'
      GROUP BY o_orderpriority ORDER BY o_orderpriority NULLS FIRST""",

    "q04_dim_join_chain" -> """
      SELECT r_name, n_name, count(*) AS custs, round(sum(c_acctbal), 2) AS bal
      FROM customer
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""",

    "q05_group_stats" -> """
      SELECT l_returnflag, l_linestatus, count(*) AS n,
             round(CAST(sum(CAST(round(l_quantity * 100.0) AS BIGINT)) AS DOUBLE)
                   / 100.0, 2) AS sq,
             round(CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS DOUBLE)
                   / (count(l_extendedprice) * 100.0), 4) AS ap,
             round(CAST(sum(CAST(round((l_extendedprice*(1-l_discount)*(1+l_tax))
                   * 1000000.0) AS BIGINT)) AS DOUBLE) / 1000000.0, 2) AS charge
      FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
      GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",

    "q06_raster2d_count" -> """
      SELECT CAST(least(63, greatest(0, floor((l_quantity - 0.0)/(50.0 - 0.0)*64))) AS INT) AS xb,
             CAST(least(63, greatest(0, floor((l_extendedprice - 900.0)/(105000.0 - 900.0)*64))) AS INT) AS yb,
             count(*) AS c
      FROM lineitem GROUP BY xb, yb ORDER BY xb NULLS FIRST, yb NULLS FIRST""",

    "q07_raster2d_mean" -> """
      SELECT CAST(least(31, greatest(0, floor((l_discount - 0.0)/(0.1 - 0.0)*32))) AS INT) AS xb,
             CAST(least(31, greatest(0, floor((l_tax - 0.0)/(0.08 - 0.0)*32))) AS INT) AS yb,
             count(*) AS c,
             round(CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS DOUBLE)
                   / (count(l_extendedprice) * 100.0), 4) AS m,
             round(max(l_extendedprice), 2) AS mx
      FROM lineitem GROUP BY xb, yb ORDER BY xb NULLS FIRST, yb NULLS FIRST""",

    "q08_raster2d_count_cat" -> """
      SELECT CAST(least(31, greatest(0, floor((l_quantity - 0.0)/(50.0 - 0.0)*32))) AS INT) AS xb,
             CAST(least(31, greatest(0, floor((l_extendedprice - 900.0)/(105000.0 - 900.0)*32))) AS INT) AS yb,
             l_returnflag AS cat, count(*) AS c
      FROM lineitem GROUP BY xb, yb, cat ORDER BY xb NULLS FIRST, yb NULLS FIRST, cat NULLS FIRST""",

    "q09_minmax_ranges" -> """
      SELECT round(min(l_extendedprice), 2) AS mn_p, round(max(l_extendedprice), 2) AS mx_p,
             round(min(l_quantity), 2) AS mn_q, round(max(l_quantity), 2) AS mx_q,
             min(l_shipdate) AS mn_d, max(l_shipdate) AS mx_d, count(*) AS n
      FROM lineitem""",

    "q10_eqhist_cumedist" -> """
      WITH bins AS (
        SELECT CAST(least(63, greatest(0, floor((l_quantity - 0.0)/(50.0 - 0.0)*64))) AS INT) AS xb,
               CAST(least(63, greatest(0, floor((l_extendedprice - 900.0)/(105000.0 - 900.0)*64))) AS INT) AS yb,
               count(*) AS c
        FROM lineitem GROUP BY xb, yb)
      SELECT xb, yb, c,
        CAST(round(cume_dist() OVER (ORDER BY c NULLS FIRST) * 1000000.0) AS BIGINT) AS shade6
      FROM bins ORDER BY xb NULLS FIRST, yb NULLS FIRST""",

    "q11_ntile_discretize" -> """
      SELECT event_id, CAST(ntile(16) OVER (ORDER BY value NULLS FIRST, event_id NULLS FIRST) AS BIGINT) AS bucket
      FROM events WHERE event_id % 20 = 0 ORDER BY event_id NULLS FIRST""",

    "q12_conjugate_union" -> """
      SELECT round(x, 4) + 0.0 AS x, round(y, 4) + 0.0 AS y FROM (
        SELECT l_discount - 0.05 AS x, l_tax - 0.04 AS y FROM lineitem WHERE l_orderkey % 100 = 0
        UNION ALL
        SELECT -(l_discount - 0.05), -(l_tax - 0.04) FROM lineitem WHERE l_orderkey % 100 = 0) t
      ORDER BY x NULLS FIRST, y NULLS FIRST""",

    "q13_topk" -> """
      SELECT o_orderkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC NULLS LAST, o_orderkey NULLS FIRST LIMIT 25""",

    "q14_distinct_counts" -> """
      SELECT count(DISTINCT l_suppkey) AS ds, count(DISTINCT l_partkey) AS dp,
             (SELECT count(*) FROM (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem) u) AS dpair
      FROM lineitem""",

    "q15_semi_anti_join" -> """
      SELECT (SELECT count(*) FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS semi,
             (SELECT count(*) FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS anti""",

    "q16_rank_per_group" -> """
      SELECT o_custkey, o_orderkey, o_totalprice, r FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC NULLS LAST, o_orderkey NULLS FIRST) AS r
        FROM orders) t
      WHERE r <= 2 AND o_custkey % 25 = 0 ORDER BY o_custkey NULLS FIRST, r NULLS FIRST, o_orderkey NULLS FIRST""",

    "q17_string_fns" -> """
      SELECT p_partkey, lower(p_type) AS t, replace(p_brand, '#', '_') AS b,
             substr(p_name, 1, 8) AS s8, length(p_name) AS ln
      FROM part WHERE p_partkey % 20 = 0 ORDER BY p_partkey NULLS FIRST""",

    "q18_date_trunc_day" -> """
      SELECT date_trunc('day', ts) AS d, count(*) AS n, round(sum(value), 2) AS s
      FROM events GROUP BY d ORDER BY d NULLS FIRST""",

    "q19_json_extract" -> """
      SELECT event_type, CAST(sum(TRY_CAST(regexp_extract(props, '([0-9]+)', 1) AS INT)) AS BIGINT) AS ks, count(*) AS n
      FROM events GROUP BY event_type ORDER BY event_type NULLS FIRST""",

    "q20_array_explode_stats" -> """
      SELECT CAST(i AS BIGINT) AS pos,
             round(avg(CAST(embedding[i+1] AS DOUBLE)), 6) AS a,
             round(CAST(min(embedding[i+1]) AS DOUBLE), 6) AS mn,
             round(CAST(max(embedding[i+1]) AS DOUBLE), 6) AS mx
      FROM embeddings, range(64) t(i) GROUP BY i ORDER BY pos NULLS FIRST""",

    "q21_tumbling_window" -> """
      SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n, round(sum(value), 2) AS s
      FROM events GROUP BY h, event_type ORDER BY h NULLS FIRST, event_type NULLS FIRST""",

    "q22_sessionize" -> """
      WITH x AS (
        SELECT user_id, event_id, ts,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST) > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events),
       s AS (
        SELECT user_id, ts,
               CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        FROM x)
      SELECT user_id, sid, count(*) AS n, min(ts) AS t0, max(ts) AS t1
      FROM s GROUP BY user_id, sid ORDER BY user_id NULLS FIRST, sid NULLS FIRST""",

    "q23_interval_join" -> """
      SELECT e1.event_id, count(*) AS n
      FROM events e1 JOIN events e2
        ON e1.user_id = e2.user_id AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
      WHERE e1.event_type = 'error'
      GROUP BY e1.event_id ORDER BY e1.event_id NULLS FIRST""",

    "q24_exact_dedup" -> """
      SELECT count(*) AS total, count(DISTINCT md5(text)) AS uniq FROM documents""",

    "q25_cosine_topk" -> """
      WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id < 5),
       pairs AS (
        SELECT q.qid, e.vec_id, list_cosine_similarity(q.qe, CAST(e.embedding AS DOUBLE[])) AS sim0
        FROM q, embeddings e WHERE e.vec_id <> q.qid)
      SELECT qid, vec_id, round(sim0, 6) AS sim FROM (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim0 DESC NULLS LAST, vec_id NULLS FIRST) AS rn FROM pairs) t
      WHERE rn <= 5 ORDER BY qid NULLS FIRST, rn NULLS FIRST""",

    "q26_token_topn" -> """
      SELECT w, count(*) AS c FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents) t
      WHERE w <> '' GROUP BY w ORDER BY c DESC NULLS LAST, w NULLS FIRST LIMIT 20""",

    "q27_rollup" -> """
      SELECT r_name, n_name, count(*) AS n, round(sum(s_acctbal), 2) AS bal
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP(r_name, n_name)
      ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""",

    "q28_intersect" -> """
      SELECT user_id FROM events WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-08'
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-03'
      ORDER BY user_id NULLS FIRST""",

    "q29_except" -> """
      SELECT user_id FROM events WHERE event_type = 'signup' AND ts < TIMESTAMP '2024-01-05'
      EXCEPT
      SELECT user_id FROM events WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-03'
      ORDER BY user_id NULLS FIRST""",

    "q30_asof_join" -> """
      SELECT p.event_id, max(v.ts) AS last_view
      FROM events p LEFT JOIN events v
        ON v.user_id = p.user_id AND v.event_type = 'view' AND v.ts < p.ts
      WHERE p.event_type = 'purchase'
      GROUP BY p.event_id ORDER BY p.event_id NULLS FIRST""",
  ).map { case (k, v) => k -> v.stripMargin.trim }
}
