package graft.oracle

import Sql._

/** DuckDB twins of the relational surface: the reference ETL semantics,
  * windows, sorts, set ops, scalar functions, sessions and events, data
  * quality and profiling, and the part-graph queries. */
private[graft] object Relational {

  /** The full SCD2 history of each customer's order status: one row per
    * status run, valid_to = the next run's start. */
  private val scd2History =
    """WITH ordered AS (
           SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
                  lag(o_orderstatus) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey) AS prev
           FROM orders),
         changes AS (SELECT * FROM ordered WHERE prev IS NULL OR prev <> o_orderstatus),
         hist AS (
           SELECT o_custkey, o_orderstatus AS status, o_orderdate AS valid_from,
                  lead(o_orderdate) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey) AS valid_to
           FROM changes)
         SELECT o_custkey, status, valid_from, valid_to,
                (valid_to IS NULL) AS is_current
         FROM hist ORDER BY o_custkey, valid_from, status"""

  /** Per-hour event counts (h), each type's hour span (b) and the gap-free
    * hourly grid over it (grid). */
  private val hourly =
    """h AS (SELECT event_type,
                           CAST((epoch_ms(ts) // 3600000) * 3600000 AS BIGINT) AS hour_ms,
                           count(*) AS n
                    FROM events GROUP BY 1, 2),
          b AS (SELECT event_type, min(hour_ms) AS mn, max(hour_ms) AS mx FROM h GROUP BY 1),
          grid AS (SELECT event_type, unnest(generate_series(mn, mx, 3600000)) AS hour_ms FROM b)"""

  /** The grid's hourly counts, 0 where no event fell. */
  private val filled =
    """SELECT grid.event_type, grid.hour_ms, CAST(COALESCE(h.n, 0) AS BIGINT) AS n
          FROM grid LEFT JOIN h ON grid.event_type = h.event_type AND grid.hour_ms = h.hour_ms"""

  /** Distinct active (user, day) pairs (du), the last day (mx), and each
    * pair fanned out over the seven days it counts toward (t). */
  private val trailingWeek =
    """du AS (SELECT DISTINCT user_id,
                            CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day
                     FROM events),
          mx AS (SELECT max(day) AS mxd FROM du),
          t AS (SELECT du.user_id, du.day + k.k AS day
                FROM du, (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS k) k)"""

  /** `pp`: the distinct (order, part) pairs. */
  private val partPairs = "pp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem)"

  /** The co-purchase part graph: canonical undirected edges (canon) and
    * each part's degree (deg). */
  private val partGraph =
    s"""$partPairs,
          canon AS (SELECT DISTINCT a.p AS src, b.p AS dst
                    FROM pp a JOIN pp b ON a.o = b.o AND a.p < b.p),
          deg AS (SELECT node, count(*) AS d FROM
                    (SELECT src AS node FROM canon
                     UNION ALL SELECT dst FROM canon) GROUP BY 1)"""

  /** PageRank's five iterations unrolled (twin of Graph.pagerank): the
    * teleport share plus each in-neighbour's rank split over its degree,
    * all integer division on the 10^12 fixed point. */
  private val pagerankRounds = (1 to 5).map { i =>
    s"""r$i AS (SELECT e.dst AS node,
                   (SELECT t FROM tele) + (85 * sum(r.rank // d.d)) // 100 AS rank
                 FROM e JOIN r${i - 1} r ON r.node = e.src JOIN deg d ON d.src = e.src
                 GROUP BY e.dst)"""
  }.mkString(",\n")

  def twins: Seq[(String, String)] = Seq(
    "q_project_rename" ->
      """SELECT p_partkey AS id, p_name AS name, p_brand AS brand, p_retailprice AS price
         FROM part ORDER BY id""",
    "q_derived_column" ->
      """SELECT c_custkey, c_mktsegment, c_mktsegment AS segment_key,
                CAST(floor(c_acctbal/100) AS BIGINT) AS bal_bucket
         FROM customer ORDER BY c_custkey""",
    "q_cast_timestamp" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
                date_trunc('month', o_orderdate) AS order_month,
                year(o_orderdate) AS order_year
         FROM orders ORDER BY o_orderkey""",
    "q_filter_prefix" ->
      """SELECT p_partkey, p_name, p_type FROM part
         WHERE p_name LIKE 'red%' ORDER BY p_partkey""",
    "q_union_all" ->
      """SELECT * FROM (
           SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus='F'
           UNION ALL
           SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus='O'
         ) ORDER BY o_orderkey""",
    "q_dedup_latest" ->
      """SELECT user_id, event_id, event_type, value, epoch_ms(ts) AS ts_ms
         FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
               FROM events)
         WHERE rn = 1 ORDER BY user_id""",
    "q_merge_upsert" ->
      """WITH ev AS (SELECT user_id, event_type, value, epoch_ms(ts) AS ts_ms, event_id, ts FROM events),
         tgt AS (SELECT user_id, event_type, value, ts_ms FROM
                   (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                    FROM ev WHERE ts < TIMESTAMP '2024-01-15 00:00:00') WHERE rn = 1),
         src AS (SELECT user_id, event_type, value, ts_ms FROM
                   (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
                    FROM ev WHERE ts >= TIMESTAMP '2024-01-15 00:00:00') WHERE rn = 1)
         SELECT CASE WHEN s.user_id IS NOT NULL THEN s.user_id ELSE t.user_id END AS user_id,
                CASE WHEN s.user_id IS NOT NULL THEN s.event_type ELSE t.event_type END AS event_type,
                CASE WHEN s.user_id IS NOT NULL THEN s.value ELSE t.value END AS value,
                CASE WHEN s.user_id IS NOT NULL THEN s.ts_ms ELSE t.ts_ms END AS ts_ms
         FROM tgt t FULL OUTER JOIN src s ON t.user_id = s.user_id
         ORDER BY user_id""",
    "q_merge_cdc" ->
      """WITH tgt AS (SELECT c_custkey, c_name, c_mktsegment FROM customer),
         chg AS (
           SELECT c_custkey, c_name, c_mktsegment, 'D' AS op FROM customer WHERE c_custkey % 10 = 0
           UNION ALL
           SELECT c_custkey, upper(c_name), c_mktsegment, 'U' FROM customer WHERE c_custkey % 10 = 1
           UNION ALL
           SELECT c_custkey + 1000000, 'new ' || c_name, c_mktsegment, 'I' FROM customer WHERE c_custkey % 10 = 2)
         SELECT CASE WHEN s.c_custkey IS NOT NULL THEN s.c_custkey ELSE t.c_custkey END AS c_custkey,
                CASE WHEN s.c_custkey IS NOT NULL THEN s.c_name ELSE t.c_name END AS c_name,
                CASE WHEN s.c_custkey IS NOT NULL THEN s.c_mktsegment ELSE t.c_mktsegment END AS c_mktsegment
         FROM tgt t FULL OUTER JOIN chg s ON t.c_custkey = s.c_custkey
         WHERE NOT (s.c_custkey IS NOT NULL AND s.op = 'D')
         ORDER BY c_custkey""",
    "q_snapshot_overwrite" ->
      s"""SELECT o_orderpriority, count(*) AS n, ${dsum("o_totalprice")} AS total
          FROM orders WHERE o_orderstatus='O' GROUP BY 1 ORDER BY 1""",
    "q_partition_prune" ->
      s"""SELECT o_orderpriority, count(*) AS n, ${dsum("o_totalprice")} AS total
          FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1 ORDER BY 1""",
    "q_window_navigation" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
                first_value(o_totalprice) OVER wf AS first_price,
                last_value(o_totalprice) OVER wf AS last_price,
                CAST(ntile(4) OVER w AS BIGINT) AS quartile,
                percent_rank() OVER w AS pct_rank
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         ORDER BY o_custkey, o_orderkey""",
    "q_window_rank" ->
      """SELECT p_brand, p_partkey, p_retailprice, rnk, rn FROM (
           SELECT p_brand, p_partkey, p_retailprice,
                  CAST(rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS BIGINT) AS rnk,
                  CAST(row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS BIGINT) AS rn
           FROM part)
         WHERE rn <= 10 ORDER BY p_brand, rn""",
    "q_window_running" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
                CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS running_total
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "q_window_lag" ->
      """SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value,
                lag(value, 1) OVER w AS prev_value,
                value - lag(value, 1) OVER w AS delta
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY user_id, ts_ms, event_id""",
    "q_window_range" ->
      """SELECT o_custkey, o_orderkey, days, o_totalprice,
                CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey ORDER BY days
                        RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS sum_30d
         FROM (SELECT *, datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days FROM orders)
         ORDER BY o_custkey, o_orderkey""",
    "q_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "q_sort_global" ->
      """SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
         ORDER BY o_orderdate DESC, o_orderkey""",
    "q_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus='F'
         INTERSECT
         SELECT o_custkey FROM orders WHERE o_orderstatus='O'
         ORDER BY o_custkey""",
    "q_except" ->
      """SELECT o_custkey FROM orders
         EXCEPT
         SELECT o_custkey FROM orders WHERE o_orderpriority='1-URGENT'
         ORDER BY o_custkey""",
    "q_string_funcs" ->
      """SELECT c_custkey, upper(c_name) AS uname, lower(c_mktsegment) AS lseg,
                substr(c_name, 1, 8) AS prefix,
                concat_ws('|', c_mktsegment, c_name) AS tag,
                CAST(length(c_name) AS BIGINT) AS name_len,
                trim('  x  ') AS trimmed
         FROM customer ORDER BY c_custkey""",
    "q_date_funcs" ->
      """SELECT o_orderkey, year(o_orderdate) AS y, month(o_orderdate) AS m,
                day(o_orderdate) AS d, quarter(o_orderdate) AS q,
                date_trunc('quarter', o_orderdate) AS q_start,
                datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since,
                last_day(CAST(o_orderdate AS DATE)) AS month_end
         FROM orders ORDER BY o_orderkey""",
    "q_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
                CAST(CAST(round(CAST(l_extendedprice AS DECIMAL(12,2))
                                * CAST(1 + l_tax AS DECIMAL(8,2))
                                * CAST(1 - l_discount AS DECIMAL(8,2)), 2) AS VARCHAR) AS DOUBLE) AS charge,
                abs(l_extendedprice - l_quantity * 1000.0) AS absdiff,
                (l_extendedprice - l_quantity) / l_quantity AS pct,
                sqrt(l_extendedprice) AS root,
                CAST(floor(l_discount * 100) AS BIGINT) AS disc_pct
         FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "q_case_when" ->
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                     WHEN o_totalprice < 200000 THEN 'mid'
                     ELSE 'big' END AS bucket,
                o_orderstatus, count(*) AS n
         FROM orders GROUP BY 1,2 ORDER BY 1,2""",
    "q_json_funcs" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
         FROM events ORDER BY event_id""",
    "q_stats_profile" -> {
      val cols = Seq("l_orderkey", "l_partkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax")
      cols.map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
               CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               count(DISTINCT $c) AS n_distinct,
               CAST(min($c) AS DOUBLE) AS min_d, CAST(max($c) AS DOUBLE) AS max_d
           FROM lineitem"""
      }.mkString("", " UNION ALL ", " ORDER BY col_name")
    },
    "q_stats_skew" ->
      """SELECT l_suppkey AS key, count(*) AS n,
                CAST(count(*) AS DOUBLE) / (SELECT count(*) FROM lineitem) AS pct
         FROM lineitem GROUP BY 1 ORDER BY n DESC, key LIMIT 20""",
    "q_sessionize" ->
      s"""WITH x AS (SELECT user_id, event_id, value, epoch_ns(ts) AS ts_ns,
                 lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ns
          FROM events),
          y AS (SELECT *, CASE WHEN prev_ns IS NULL OR ts_ns - prev_ns > 1800000000000 THEN 1 ELSE 0 END AS is_new FROM x),
          z AS (SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ns, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM y)
          SELECT user_id, session_id, count(*) AS n_events,
                 CAST(min(ts_ns) // 1000000 AS BIGINT) AS start_ms,
                 CAST(max(ts_ns) // 1000000 AS BIGINT) AS end_ms,
                 ${dsum("value")} AS total_value
          FROM z GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_window_tumbling" ->
      s"""SELECT CAST((epoch_ms(ts) // 3600000) * 3600000 AS BIGINT) AS hour_ms,
                 event_type, count(*) AS n, ${dsum("value")} AS total
          FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
    // sliding 1h/30min: size/slide = 2 windows per event, with starts
    // m·slide and (m−1)·slide for m = t // slide — the closed form of
    // Spark's window() assignment when size is a multiple of slide
    "q_window_sliding" ->
      s"""SELECT CAST(((epoch_ms(ts) // 1800000) - k.k) * 1800000 AS BIGINT) AS start_ms,
                 event_type, count(*) AS n, ${dsum("value")} AS total
          FROM events, (SELECT unnest([0, 1]) AS k) k
          GROUP BY 1, 2 ORDER BY 1, 2""",
    // chi-square drift: exact-integer counts, (o-e)^2/e terms on the
    // sources x bins domain, summed by an ORDERED fold (list ORDER BY bin
    // twins Spark's array_sort + aggregate) - no log, no engine libm
    "q_stats_drift" ->
      """WITH d AS (SELECT source, n_chars // 64 AS bin FROM documents),
          nb AS (SELECT bin, count(*) AS nb FROM d GROUP BY 1),
          nt AS (SELECT count(*) AS n FROM d),
          ns AS (SELECT source, count(*) AS ns FROM d GROUP BY 1),
          o AS (SELECT source, bin, count(*) AS o FROM d GROUP BY 1, 2),
          terms AS (SELECT g.source, g.ns, g.bin,
                           ((CAST(COALESCE(o.o, 0) AS DOUBLE) - CAST(g.ns * g.nb AS DOUBLE) / CAST(nt.n AS DOUBLE))
                            * (CAST(COALESCE(o.o, 0) AS DOUBLE) - CAST(g.ns * g.nb AS DOUBLE) / CAST(nt.n AS DOUBLE)))
                           / (CAST(g.ns * g.nb AS DOUBLE) / CAST(nt.n AS DOUBLE)) AS term
                    FROM (SELECT ns.source, ns.ns, nb.bin, nb.nb FROM ns CROSS JOIN nb) g
                    CROSS JOIN nt
                    LEFT JOIN o ON g.source = o.source AND g.bin = o.bin)
          SELECT source, CAST(max(ns) AS BIGINT) AS n_docs, count(*) AS n_bins,
                 list_sum(list(term ORDER BY bin)) AS chi2
          FROM terms GROUP BY 1 ORDER BY 1""",
    // trailing 7-day distinct users: the constant 7-way fan-out over the
    // distinct (user, day) domain — the same linear shape as the operator
    "q_active_users" ->
      s"""WITH $trailingWeek
          SELECT CAST(t.day * 86400000 AS BIGINT) AS day_ms,
                 count(DISTINCT t.user_id) AS wau
          FROM t, mx WHERE t.day <= mx.mxd GROUP BY 1 ORDER BY 1""",
    "q_active_users_sketch_bound" ->
      s"""WITH $trailingWeek
          SELECT DISTINCT CAST(t.day * 86400000 AS BIGINT) AS day_ms,
                 true AS within_tol
          FROM t, mx WHERE t.day <= mx.mxd ORDER BY day_ms""",
    // z-score over the gap-filled series: exact-BIGINT numerator and
    // radicand, then one cast each + one sqrt + one division — the
    // minimal float tail, same expression tree both engines
    "q_anomaly_zscore" ->
      s"""WITH $hourly,
          f AS ($filled),
          st AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS sx,
                        CAST(SUM(n * n) AS BIGINT) AS sxx, count(*) AS cnt
                 FROM f GROUP BY 1),
          zz AS (SELECT f.event_type, f.hour_ms, f.n,
                        CAST(f.n * st.cnt - st.sx AS DOUBLE) /
                          sqrt(CAST(st.cnt * st.sxx - st.sx * st.sx AS DOUBLE)) AS z
                 FROM f JOIN st ON f.event_type = st.event_type)
          SELECT event_type, hour_ms, n, z, abs(z) > 3.0 AS is_anomaly
          FROM zz ORDER BY 1, 2""",
    // gap-fill: the grid is generate_series over per-type bounds — the
    // aggregate domain, so the oracle's shape mirrors the operator's
    "q_timeseries_gapfill" ->
      s"""WITH $hourly
          $filled
          ORDER BY 1, 2""",
    "q_event_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
                 CAST(epoch_ns(ts) // 1000000 AS BIGINT) AS ms FROM events),
         s1 AS (SELECT user_id, min(ms) AS t_signup FROM e
                WHERE event_type = 'signup' GROUP BY 1),
         s2 AS (SELECT e.user_id, min(ms) AS t_view FROM e JOIN s1 USING (user_id)
                WHERE event_type = 'view' AND ms >= t_signup GROUP BY 1),
         s3 AS (SELECT e.user_id, min(ms) AS t_click FROM e JOIN s2 USING (user_id)
                WHERE event_type = 'click' AND ms >= t_view GROUP BY 1),
         s4 AS (SELECT e.user_id, min(ms) AS t_purchase FROM e JOIN s3 USING (user_id)
                WHERE event_type = 'purchase' AND ms >= t_click GROUP BY 1)
         SELECT s1.user_id, t_signup, t_view, t_click, t_purchase,
                CAST(CASE WHEN t_purchase IS NOT NULL THEN 4
                          WHEN t_click IS NOT NULL THEN 3
                          WHEN t_view IS NOT NULL THEN 2
                          ELSE 1 END AS BIGINT) AS stage_reached
         FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
              LEFT JOIN s4 USING (user_id)
         ORDER BY user_id""",
    "q_event_paths" ->
      """WITH e AS (SELECT user_id, event_type,
                 CAST(epoch_ns(ts) // 1000000 AS BIGINT) AS ms, event_id FROM events),
         p AS (SELECT event_type AS e1,
                 lead(event_type, 1) OVER w AS e2,
                 lead(event_type, 2) OVER w AS e3
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id))
         SELECT e1 || '>' || e2 || '>' || e3 AS path, count(*) AS n
         FROM p WHERE e3 IS NOT NULL
         GROUP BY 1 ORDER BY n DESC, path""",
    "q_retention" ->
      """WITH days AS (SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
         firsts AS (SELECT user_id, min(day) AS cohort_day FROM days GROUP BY 1)
         SELECT cohort_day, day - cohort_day AS day_offset,
                CAST(count(*) AS BIGINT) AS n_users
         FROM days JOIN firsts USING (user_id)
         GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_scd2_history" ->
      scd2History,
    "q_event_attribution" ->
      """WITH x AS (
           SELECT event_id, user_id, ts, value, event_type,
                  last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
                    OVER w AS attr_type,
                  last_value(CASE WHEN event_type <> 'purchase' THEN ts END IGNORE NULLS)
                    OVER w AS attr_ts
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, attr_type,
                epoch_ms(attr_ts) AS attr_ms, value
         FROM x WHERE event_type = 'purchase' ORDER BY event_id""",
    "q_histogram" ->
      """SELECT bucket, bucket * 50000.0 AS lo, count(*) AS n
         FROM (SELECT CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket
               FROM orders)
         GROUP BY bucket ORDER BY bucket""",
    "q_dq_audit" ->
      """SELECT * FROM (
           SELECT 'orders_pk_duplicate' AS check_name,
                  count(*) - count(DISTINCT o_orderkey) AS violations FROM orders
           UNION ALL
           SELECT 'orders_custkey_null',
                  count(*) FILTER (WHERE o_custkey IS NULL) FROM orders
           UNION ALL
           SELECT 'orders_totalprice_nonpositive',
                  count(*) FILTER (WHERE o_totalprice <= 0.0) FROM orders
           UNION ALL
           SELECT 'lineitem_quantity_nonpositive',
                  count(*) FILTER (WHERE l_quantity <= 0.0) FROM lineitem
           UNION ALL
           SELECT 'lineitem_discount_range',
                  count(*) FILTER (WHERE l_discount < 0.0 OR l_discount > 1.0) FROM lineitem
           UNION ALL
           SELECT 'lineitem_shipdate_null',
                  count(*) FILTER (WHERE l_shipdate IS NULL) FROM lineitem
           UNION ALL
           SELECT 'lineitem_fk_orders_orphan', count(*)
           FROM lineitem l WHERE NOT EXISTS
             (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
           UNION ALL
           SELECT 'orders_fk_customer_orphan', count(*)
           FROM orders o WHERE o.o_custkey IS NOT NULL AND NOT EXISTS
             (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
         ) ORDER BY check_name""",
    // relational (self-join) form of the pair count — the registered query
    // uses the bounded collect_set + pair-explode form; equality proves them
    // equivalent
    "q_event_cooccurrence" ->
      """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events)
         SELECT a.event_type AS type_a, b.event_type AS type_b,
                count(*) AS n_users
         FROM ut a JOIN ut b
           ON a.user_id = b.user_id AND a.event_type < b.event_type
         GROUP BY 1, 2 ORDER BY 1, 2""",
    // scaled-BIGINT fixed-point PageRank: five unrolled iterations replay the
    // registered loop bit-for-bit (integer div only; DuckDB // == Spark div
    // on non-negative operands); HUGEINT intermediate sums cast back at the end
    "q_graph_pagerank" ->
      s"""WITH $partPairs,
          e AS (SELECT DISTINCT a.p AS src, b.p AS dst
                FROM pp a JOIN pp b ON a.o = b.o AND a.p <> b.p),
          deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
          nn AS (SELECT count(*) AS n_nodes FROM deg),
          tele AS (SELECT (15 * (1000000000000 // n_nodes)) // 100 AS t FROM nn),
          r0 AS (SELECT src AS node, 1000000000000 // n_nodes AS rank FROM deg, nn),
          $pagerankRounds
          SELECT node AS part_key, CAST(rank AS BIGINT) AS rank_scaled
          FROM r5 ORDER BY rank_scaled DESC, part_key LIMIT 50""",
    // degree-ordered orientation: each triangle p≺q≺r is the wedge p→q→r
    // closed by p→r, counted once
    "q_graph_triangles" ->
      s"""WITH $partGraph,
          o AS (SELECT
                  CASE WHEN du.d < dv.d OR (du.d = dv.d AND c.src < c.dst)
                       THEN c.src ELSE c.dst END AS x,
                  CASE WHEN du.d < dv.d OR (du.d = dv.d AND c.src < c.dst)
                       THEN c.dst ELSE c.src END AS y
                FROM canon c JOIN deg du ON du.node = c.src
                             JOIN deg dv ON dv.node = c.dst),
          tri AS (SELECT o1.x AS a, o1.y AS b, o2.y AS c
                  FROM o o1 JOIN o o2 ON o2.x = o1.y
                            JOIN o o3 ON o3.x = o1.x AND o3.y = o2.y)
          SELECT part_key, count(*) AS n_tri FROM (
            SELECT a AS part_key FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
          GROUP BY 1 ORDER BY n_tri DESC, part_key LIMIT 50""",
    "q_graph_degree_dist" ->
      s"""WITH $partGraph
          SELECT d AS degree, count(*) AS n_nodes
          FROM deg GROUP BY 1 ORDER BY degree""",
    // quartile-boundary thresholds broadcast back over the per-user
    // aggregate — 0.25/0.75 are binary-exact, so quantile_cont interpolates
    // the same doubles Spark's percentile() does
    "q_event_rfm" ->
      """WITH p AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day, value
                    FROM events WHERE event_type = 'purchase'),
          u AS (SELECT user_id, max(day) AS last_day, count(*) AS frequency,
                       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS monetary
                FROM p GROUP BY 1),
          mx AS (SELECT max(last_day) AS max_day FROM u),
          b AS (SELECT user_id, max_day - last_day AS recency_days,
                       frequency, monetary FROM u, mx),
          th AS (SELECT quantile_cont(recency_days, 0.25) AS r1,
                        quantile_cont(recency_days, 0.75) AS r2,
                        quantile_cont(frequency, 0.25) AS f1,
                        quantile_cont(frequency, 0.75) AS f2,
                        quantile_cont(monetary, 0.25) AS m1,
                        quantile_cont(monetary, 0.75) AS m2 FROM b)
          SELECT user_id, recency_days, frequency, monetary,
                 CAST(CASE WHEN recency_days <= r1 THEN 1
                      WHEN recency_days <= r2 THEN 2 ELSE 3 END AS BIGINT) AS r_seg,
                 CAST(CASE WHEN frequency <= f1 THEN 1
                      WHEN frequency <= f2 THEN 2 ELSE 3 END AS BIGINT) AS f_seg,
                 CAST(CASE WHEN monetary <= m1 THEN 1
                      WHEN monetary <= m2 THEN 2 ELSE 3 END AS BIGINT) AS m_seg
          FROM b, th ORDER BY user_id""",
    "q_window_ntile" ->
      s"""WITH q AS (SELECT o_orderpriority, o_totalprice,
                 CAST(ntile(4) OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile
          FROM orders)
          SELECT o_orderpriority, quartile, count(*) AS n,
                 ${dsum("o_totalprice")} AS total,
                 min(o_totalprice) AS lo, max(o_totalprice) AS hi
          FROM q GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_event_transitions" ->
      """WITH e AS (SELECT user_id, event_type,
                 CAST(epoch_ns(ts) // 1000000 AS BIGINT) AS ms, event_id FROM events),
          x AS (SELECT event_type AS src,
                       lead(event_type) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS dst
                FROM e),
          c AS (SELECT src, dst, count(*) AS n FROM x WHERE dst IS NOT NULL GROUP BY 1, 2)
          SELECT src, dst, n,
                 CAST((n * 1000) // sum(n) OVER (PARTITION BY src) AS BIGINT) AS p_milli
          FROM c ORDER BY src, dst""",
    "q_scd2_asof" ->
      s"""WITH ch AS (SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
                 lag(o_orderstatus) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey) AS prev
          FROM orders),
          hist AS (SELECT o_custkey, o_orderstatus AS status,
                          o_orderdate AS valid_from,
                          lead(o_orderdate) OVER (PARTITION BY o_custkey
                                                  ORDER BY o_orderdate, o_orderkey) AS valid_to
                   FROM ch WHERE prev IS NULL OR prev <> o_orderstatus)
          SELECT h.status, count(*) AS n_items, ${dsum("l.l_extendedprice")} AS revenue
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN hist h ON o.o_custkey = h.o_custkey
                     AND h.valid_from <= l.l_shipdate
                     AND (h.valid_to IS NULL OR l.l_shipdate < h.valid_to)
          GROUP BY 1 ORDER BY 1""",
    "q_table_checksum" -> {
      // twin of DataQuality.tableChecksum: same canonical serialization
      // (ints verbatim, money via scale-padded DECIMAL(18,2) render,
      // timestamps as epoch micros), same 60-bit md5 row hash
      def sig(name: String, table: String, cols: String*) = {
        val row = cols.mkString("concat_ws('|', ", ", ", ")")
        s"""SELECT '$name' AS table_name, count(*) AS n_rows,
               bit_xor(${dTokHash(row)}) AS xor_sig,
               CAST(CAST(sum(${dTokHash(row)}) AS DECIMAL(38,0)) AS VARCHAR) AS sum_sig
            FROM $table"""
      }
      Seq(
        sig("orders", "orders", "o_orderkey", "o_custkey", "o_orderstatus",
          "CAST(o_totalprice AS DECIMAL(18,2))", "epoch_us(o_orderdate)",
          "o_orderpriority"),
        sig("customer", "customer", "c_custkey", "c_name", "c_nationkey",
          "CAST(c_acctbal AS DECIMAL(18,2))", "c_mktsegment"),
        sig("lineitem", "lineitem", "l_orderkey", "l_linenumber",
          "CAST(l_quantity AS DECIMAL(18,2))",
          "CAST(l_extendedprice AS DECIMAL(18,2))", "l_returnflag",
          "epoch_us(l_shipdate)"))
        .mkString("", " UNION ALL ", " ORDER BY table_name")
    },
    "q_window_pct" ->
      """WITH x AS (SELECT p_brand, p_partkey, p_retailprice,
                 percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
          FROM part WINDOW w AS (PARTITION BY p_brand
                                 ORDER BY p_retailprice, p_partkey))
          SELECT p_brand, p_partkey, p_retailprice, pr, cd FROM x
          WHERE pr <= 0.02 OR pr >= 0.98 ORDER BY p_brand, p_partkey""",
    // the oracle REBUILDS the full SCD2 history from scratch — the hash
    // match proves incremental apply ≡ full rebuild (see GroupA.scd2Merge)
    "q_scd2_merge" ->
      scd2History,
    // pruning is plan-only; the oracle is the plain dim-filtered join
    "q_join_dpp" ->
      s"""WITH f AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, o_totalprice FROM orders),
          d AS (SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS d_year FROM orders),
          e AS (SELECT d_year,
                       CASE WHEN d_year < 1999 THEN 'classic' ELSE 'modern' END AS era
                FROM d)
          SELECT f.o_year, count(*) AS n, ${dsum("f.o_totalprice")} AS total
          FROM f JOIN e ON f.o_year = e.d_year
          WHERE e.era = 'modern'
          GROUP BY 1 ORDER BY 1""",
    "q_histogram_depth" ->
      """WITH b AS (SELECT quantile_cont(o_totalprice, 0.25) AS q1,
                           quantile_cont(o_totalprice, 0.5)  AS q2,
                           quantile_cont(o_totalprice, 0.75) AS q3 FROM orders),
          x AS (SELECT CASE WHEN o_totalprice <= q1 THEN 0
                            WHEN o_totalprice <= q2 THEN 1
                            WHEN o_totalprice <= q3 THEN 2
                            ELSE 3 END AS bucket, o_totalprice
                FROM orders, b)
          SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n,
                 min(o_totalprice) AS lo, max(o_totalprice) AS hi
          FROM x GROUP BY 1 ORDER BY 1""",
  )
}
