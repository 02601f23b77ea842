package graft.oracle

import Sql._

/** DuckDB twins of the joins, subqueries, aggregates, sketch gates and
  * the TPC-H report shapes. */
private[graft] object JoinsAggregates {

  /** Discounted revenue, a DECIMAL(28,10)-staged exact sum. */
  private val revenue = dsumExact("l_extendedprice*(1-l_discount)")

  /** NATION_5 suppliers' share of the discounted revenue. */
  private val nationRev =
    dsumExact("CASE WHEN sn.n_name = 'NATION_5' THEN l_extendedprice*(1-l_discount) ELSE 0.0 END")

  /** Each purchase with the latest view of the same user at or before it
    * (DuckDB's ASOF LEFT JOIN). */
  private val asofQuotes =
    """WITH trades AS (SELECT event_id, user_id, value AS t_value, ts FROM events WHERE event_type='purchase'),
              quotes AS (SELECT user_id, value AS q_value, ts FROM events WHERE event_type='view')
         SELECT t.event_id, t.user_id, t.t_value, epoch_ms(t.ts) AS ts_ms,
                epoch_ms(q.ts) AS quote_ts_ms, q.q_value AS quote_value
         FROM trades t ASOF LEFT JOIN quotes q ON t.user_id = q.user_id AND t.ts >= q.ts
         ORDER BY event_id"""

  def twins: Seq[(String, String)] = Seq(
    "q_agg_collect_set" ->
      """SELECT o_orderstatus,
                array_to_string(list_sort(list(DISTINCT o_orderpriority)), '|') AS prios,
                count(DISTINCT o_orderpriority) AS n_prios
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q_join_inner" ->
      """SELECT l_orderkey, l_linenumber, o_custkey, o_orderstatus, l_extendedprice
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         ORDER BY l_orderkey, l_linenumber""",
    "q_join_broadcast" ->
      s"""SELECT p_brand, ${dsum("l_extendedprice")} AS revenue, count(*) AS n
          FROM lineitem JOIN part ON l_partkey = p_partkey
          GROUP BY 1 ORDER BY 1""",
    // bucketed co-located join: the LAYOUT is the Spark-side story
    // (zero-exchange zero-sort SMJ off bucketed tables, BucketedJoinSpec);
    // the VALUES are plain relational algebra the oracle checks directly
    "q_join_bucketed" ->
      s"""SELECT o_orderstatus,
                $revenue AS revenue,
                count(*) AS n
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_join_multi" ->
      s"""SELECT r_name, l_returnflag,
                 $revenue AS revenue,
                 ${dsum("l_quantity")} AS sum_qty, count(*) AS n
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          GROUP BY 1,2 ORDER BY 1,2""",
    "q_join_left" ->
      s"""SELECT c_custkey, count(o_orderkey) AS n_big,
                 coalesce(${dsum("o_totalprice")}, 0.0) AS total_big
          FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000) o
            ON c_custkey = o_custkey
          GROUP BY 1 ORDER BY 1""",
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority='1-URGENT')
         ORDER BY c_custkey""",
    "q_join_anti" ->
      """SELECT c_custkey, c_mktsegment FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus='P')
         ORDER BY c_custkey""",
    "q_join_anti_null" ->
      """WITH blocked AS (
           SELECT CASE WHEN o_orderstatus = 'P' THEN o_custkey END AS k FROM orders
         )
         SELECT 'in_blocked' AS variant,
                (SELECT count(1) FROM customer WHERE c_custkey IN (SELECT k FROM blocked)) AS n
         UNION ALL
         SELECT 'not_in_naive',
                (SELECT count(1) FROM customer WHERE c_custkey NOT IN (SELECT k FROM blocked))
         UNION ALL
         SELECT 'not_in_null_safe',
                (SELECT count(1) FROM customer
                 WHERE c_custkey NOT IN (SELECT k FROM blocked WHERE k IS NOT NULL))
         ORDER BY variant""",
    "q_join_range" ->
      s"""SELECT r_regionkey AS bucket, count(*) AS n, ${dsum("p_retailprice")} AS total
          FROM part JOIN region
            ON p_retailprice >= 900 + r_regionkey*20 AND p_retailprice < 920 + r_regionkey*20
          GROUP BY 1 ORDER BY 1""",
    "q_join_star2" ->
      s"""SELECT r_name, n_name,
                 $revenue AS revenue,
                 count(*) AS n
          FROM lineitem
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation ON s_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_join_skew_salted" ->
      s"""SELECT 'flag_' || l_returnflag AS flag_label, count(*) AS n,
                 ${dsum("l_extendedprice")} AS total
          FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q_subquery_scalar" ->
      """SELECT c_custkey, c_mktsegment,
                (SELECT max(o_totalprice) FROM orders WHERE o_custkey = c_custkey) AS max_order,
                (SELECT count(1) FROM orders WHERE o_custkey = c_custkey) AS n_orders
         FROM customer ORDER BY c_custkey""",
    "q_subquery_corr_agg" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
         FROM orders o
         WHERE o_totalprice > 2 * (
           SELECT CAST(CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) / COUNT(1)
           FROM orders i WHERE i.o_custkey = o.o_custkey)
         ORDER BY o_orderkey""",
    "q_join_asof" ->
      """WITH x AS (
           SELECT event_id, user_id, value, ts, event_type,
                  last_value(CASE WHEN event_type='signup' THEN ts END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_ts
           FROM events)
         SELECT event_id, user_id, value, epoch_ms(ts) AS ts_ms, epoch_ms(asof_ts) AS asof_signup_ms
         FROM x WHERE event_type='purchase' ORDER BY event_id""",
    "q_join_asof2" ->
      asofQuotes,
    "q_agg_groupby" ->
      s"""SELECT l_returnflag, l_linestatus,
                 ${dsum("l_quantity")} AS sum_qty,
                 ${dsum("l_extendedprice")} AS sum_base,
                 $revenue AS sum_disc_price,
                 ${dsum("l_quantity")}/count(*) AS avg_qty,
                 count(*) AS n
          FROM lineitem GROUP BY 1,2 ORDER BY 1,2""",
    "q_agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
                count(DISTINCT l_suppkey) AS n_supps, count(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY 1""",
    "q_agg_stats" ->
      s"""WITH a AS (SELECT o_orderstatus, count(*) AS n,
                 ${dsum("o_totalprice")} AS s1,
                 CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(o_totalprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS s2
          FROM orders GROUP BY 1)
          SELECT o_orderstatus, n, s1 / n AS mean,
                 (s2 - s1 * s1 / n) / (n - 1) AS var_samp,
                 sqrt((s2 - s1 * s1 / n) / (n - 1)) AS stddev_samp
          FROM a ORDER BY o_orderstatus""",
    "q_agg_percentile" ->
      """SELECT o_orderstatus,
                quantile_cont(o_totalprice, 0.5) AS p50,
                quantile_cont(o_totalprice, 0.9) AS p90,
                count(*) AS n
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q_rollup" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                 ${dsum("o_totalprice")} AS total,
                 CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
          FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
          ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q_cube" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
                 ${dsum("l_quantity")} AS sum_qty,
                 CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid
          FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
          ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "q_grouping_sets" ->
      s"""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                 ${dsum("o_totalprice")} AS total,
                 CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
          FROM orders GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
          ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""",
    "q_pivot" ->
      """SELECT source,
                count(*) FILTER (WHERE lang='de') AS de,
                count(*) FILTER (WHERE lang='en') AS en,
                count(*) FILTER (WHERE lang='es') AS es,
                count(*) FILTER (WHERE lang='fr') AS fr,
                count(*) FILTER (WHERE lang='zh') AS zh
         FROM documents GROUP BY source ORDER BY source""",
    "q_unpivot" ->
      """SELECT * FROM (
           SELECT o_orderkey, 'o_totalprice' AS metric, o_totalprice AS value FROM orders
           UNION ALL
           SELECT o_orderkey, 'days_since' AS metric,
                  CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS DOUBLE) AS value
           FROM orders
         ) ORDER BY o_orderkey, metric""",
    "q_agg_mode" ->
      """WITH c AS (SELECT o_orderpriority, o_orderstatus, count(*) AS n
                    FROM orders GROUP BY 1, 2),
          r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                          ORDER BY n DESC, o_orderstatus) AS rn FROM c)
          SELECT o_orderpriority, o_orderstatus AS mode_status, n
          FROM r WHERE rn = 1 ORDER BY o_orderpriority""",
    // sketch accuracy gates: the Spark side computes the within-tolerance
    // verdict against the exact value; the oracle is the same group grid
    // with literal TRUE — a drifting sketch now fails the hash compare
    "q_agg_approx_distinct_bound" ->
      """SELECT l_returnflag, true AS within_tol
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_agg_sketch_merge_bound" ->
      """SELECT o_orderpriority, true AS within_tol
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    // theta/KMV set operations: the hash is an explicit integer congruence,
    // so unlike the HLL family the ESTIMATES themselves replay bit-exactly
    // — this twin recomputes the full sketch pipeline, not a rows-only check
    "q_agg_theta_ops" -> {
      import graft.ops.Aggregates.{ThetaK, ThetaP, ThetaA, ThetaB2}
      s"""WITH du AS (SELECT DISTINCT o_orderpriority AS p,
                        (o_custkey * $ThetaA + $ThetaB2) % $ThetaP AS h
                      FROM orders),
          rk AS (SELECT p, h, row_number() OVER (PARTITION BY p ORDER BY h) AS rn
                 FROM du),
          sk AS (SELECT p, h FROM rk WHERE rn <= $ThetaK),
          th AS (SELECT p, CASE WHEN max(rn) < $ThetaK THEN $ThetaP
                                ELSE max(CASE WHEN rn = $ThetaK THEN h END)
                           END AS theta
                 FROM rk GROUP BY p),
          pr AS (SELECT ta.p AS pa, tb.p AS pb, least(ta.theta, tb.theta) AS thab
                 FROM th ta, th tb WHERE ta.p < tb.p),
          blo AS (SELECT pr.pa, pr.pb, pr.thab, a.h
                  FROM pr JOIN sk a ON a.p = pr.pa AND a.h < pr.thab),
          mi AS (SELECT pa, pb, count(*) AS m FROM blo
                 WHERE EXISTS (SELECT 1 FROM sk b WHERE b.p = blo.pb AND b.h = blo.h)
                 GROUP BY pa, pb),
          md AS (SELECT pa, pb, count(*) AS m FROM blo
                 WHERE NOT EXISTS (SELECT 1 FROM sk b WHERE b.p = blo.pb AND b.h = blo.h)
                 GROUP BY pa, pb)
          SELECT pr.pa, pr.pb,
                 CAST(coalesce(mi.m, 0) AS DOUBLE) * CAST($ThetaP AS DOUBLE)
                   / CAST(pr.thab AS DOUBLE) AS est_inter,
                 CAST(coalesce(md.m, 0) AS DOUBLE) * CAST($ThetaP AS DOUBLE)
                   / CAST(pr.thab AS DOUBLE) AS est_diff
          FROM pr
          LEFT JOIN mi ON mi.pa = pr.pa AND mi.pb = pr.pb
          LEFT JOIN md ON md.pa = pr.pa AND md.pb = pr.pb
          ORDER BY pr.pa, pr.pb"""
    },
    "q_agg_theta_ops_bound" ->
      """WITH ps AS (SELECT DISTINCT o_orderpriority AS p FROM orders)
         SELECT a.p AS pa, b.p AS pb,
                true AS inter_within_tol, true AS diff_within_tol
         FROM ps a, ps b WHERE a.p < b.p ORDER BY pa, pb""",
    "q_agg_percentile_approx_bound" ->
      """SELECT o_orderstatus, true AS p50_within_rank_tol,
                true AS p90_within_rank_tol
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q_join_ship_priority" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
                $revenue AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q_join_region_revenue" ->
      s"""SELECT n_name,
                $revenue AS revenue,
                count(*) AS n
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY 1 ORDER BY revenue DESC, n_name""",
    "q_join_volume" ->
      s"""SELECT supp_nation, cust_nation, l_year,
                $revenue AS volume
         FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                      CAST(year(l_shipdate) AS BIGINT) AS l_year,
                      l_extendedprice, l_discount
               FROM lineitem
               JOIN supplier ON l_suppkey = s_suppkey
               JOIN orders ON l_orderkey = o_orderkey
               JOIN customer ON o_custkey = c_custkey
               JOIN nation n1 ON s_nationkey = n1.n_nationkey
               JOIN nation n2 ON c_nationkey = n2.n_nationkey
               WHERE n1.n_name <> n2.n_name
                 AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                 AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00')
         GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "q_join_cust_returns" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name,
                $revenue AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
           AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         GROUP BY 1, 2, 3, 4
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q_join_large_orders" ->
      """WITH big AS (SELECT l_orderkey,
                             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_qty
                      FROM lineitem GROUP BY 1
                      HAVING CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) > 300.0)
         SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
         FROM big
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    // Q21 shape stated declaratively (the engine's window rewrite must
    // hash-match this): late = shipped > 90 days after a finished order
    "q_join_blame_supplier" ->
      """WITH sl AS (SELECT l_orderkey, l_suppkey,
                            max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                                     THEN 1 ELSE 0 END) AS late
                     FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                     WHERE o_orderstatus = 'F'
                     GROUP BY 1, 2),
          w AS (SELECT l_suppkey, late,
                       count(*) OVER (PARTITION BY l_orderkey) AS n_supp,
                       sum(late) OVER (PARTITION BY l_orderkey) AS n_late
                FROM sl)
         SELECT s_name, count(*) AS numwait
         FROM w JOIN supplier ON l_suppkey = s_suppkey
         WHERE late = 1 AND n_supp > 1 AND n_late = 1
         GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 20""",
    // Q22 shape: division-free above-mean compare (bal·n > total in exact
    // decimal — a decimal quotient would round differently per engine)
    "q_join_dormant_cust" ->
      s"""WITH th AS (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS total,
                            COUNT(*) AS n
                      FROM customer WHERE c_acctbal > 0.0),
          cand AS (SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
                   FROM customer c, th
                   WHERE c.c_acctbal > 0.0
                     AND CAST(c.c_acctbal AS DECIMAL(18,2)) * th.n > th.total
                     AND NOT EXISTS (SELECT 1 FROM orders o
                                     WHERE o.o_custkey = c.c_custkey
                                       AND o.o_orderdate >= TIMESTAMP '2000-01-01'))
          SELECT n_name, count(*) AS numcust, ${dsum("c_acctbal")} AS totacctbal
          FROM cand JOIN nation ON c_nationkey = n_nationkey
          GROUP BY 1 ORDER BY 1""",
    // Pearson corr / sample cov from exact decimal cross-moments; only the
    // final arithmetic is IEEE, as one shared expression tree (q_agg_stats
    // discipline, two variables)
    "q_agg_corr" ->
      """WITH a AS (SELECT l_returnflag, count(*) AS n,
                 CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sx,
                 CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sy,
                 CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxx,
                 CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS syy,
                 CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS VARCHAR) AS DOUBLE) AS sxy
          FROM lineitem GROUP BY 1)
          SELECT l_returnflag, n,
                 (sxy - sx * sy / n) / (n - 1) AS cov_samp,
                 (sxy - sx * sy / n) /
                   sqrt((sxx - sx * sx / n) * (syy - sy * sy / n)) AS corr_xy
          FROM a ORDER BY l_returnflag""",
    // incremental maintenance: the oracle RECOMPUTES from scratch — equality
    // proves merge-of-partials == recompute (count and decimal sum are
    // associative)
    "q_agg_incremental" ->
      s"""SELECT o_orderpriority, count(*) AS n, ${dsum("o_totalprice")} AS total
          FROM orders GROUP BY 1 ORDER BY 1""",
    "q_join_full_outer" ->
      """SELECT CAST(COALESCE(c.nk, s.nk) AS BIGINT) AS nationkey,
                COALESCE(c.n_rich_cust, 0) AS n_rich_cust,
                COALESCE(s.n_poor_supp, 0) AS n_poor_supp
         FROM (SELECT c_nationkey AS nk, count(*) AS n_rich_cust
               FROM customer WHERE c_acctbal > 9000.0 GROUP BY 1) c
         FULL OUTER JOIN
              (SELECT s_nationkey AS nk, count(*) AS n_poor_supp
               FROM supplier WHERE s_acctbal < 3000.0 GROUP BY 1) s
         ON c.nk = s.nk
         ORDER BY nationkey""",
    "q_agg_revenue_slice" ->
      """SELECT CAST(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS revenue,
                count(*) AS n
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
           AND l_discount >= 0.04 AND l_discount <= 0.06
           AND l_quantity < 24.0""",
    "q_join_promo_share" ->
      s"""WITH a AS (SELECT
                 ${dsumExact("CASE WHEN p_type = 'PROMO' THEN l_extendedprice*(1-l_discount) ELSE 0.0 END")} AS promo_rev,
                 $revenue AS total_rev,
                 count(*) AS n
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00')
          SELECT promo_rev, total_rev,
                 100.0 * promo_rev / total_rev AS promo_share_pct, n
          FROM a""",
    "q_join_disjunctive" ->
      s"""SELECT p_brand,
                $revenue AS revenue,
                count(*) AS n
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 1.0 AND 11.0)
            OR (p_brand = 'Brand#21' AND p_size BETWEEN 10 AND 30
                AND l_quantity BETWEEN 10.0 AND 20.0)
            OR (p_brand = 'Brand#5' AND p_size BETWEEN 20 AND 50
                AND l_quantity BETWEEN 20.0 AND 30.0)
         GROUP BY 1 ORDER BY 1""",
    "q_agg_weighted_avg" ->
      """WITH a AS (SELECT l_returnflag,
                 CAST(CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS wsum,
                 CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS wmass,
                 count(*) AS n
          FROM lineitem GROUP BY 1)
          SELECT l_returnflag, wsum, wmass, wsum / wmass AS wavg_price, n
          FROM a ORDER BY l_returnflag""",
    "q_agg_topk" ->
      """SELECT o_orderpriority,
                array_to_string([CAST(CAST(x AS DECIMAL(18,2)) AS VARCHAR)
                                 for x in (list(o_totalprice ORDER BY o_totalprice DESC))[1:5]],
                                '|') AS top5,
                count(*) AS n
         FROM orders GROUP BY 1 ORDER BY 1""",
    // the oracle is the UNFILTERED join: bloom has no false negatives and
    // the exact join removes false positives, so the hash match proves the
    // runtime-pruned rewrite
    "q_join_bloom" ->
      s"""SELECT l.l_returnflag, count(*) AS n, ${dsum("l.l_extendedprice")} AS revenue
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          WHERE o.o_orderpriority = '1-URGENT' AND o.o_orderstatus = 'O'
          GROUP BY 1 ORDER BY 1""",
    "q_agg_argmax" ->
      """SELECT o_orderpriority,
                arg_max(o_orderkey,
                        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0))
                          * 10000000000 + o_orderkey) AS top_orderkey,
                max(o_totalprice) AS top_price,
                count(*) AS n
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q_fuzzy_match" ->
      """WITH n AS (SELECT DISTINCT p_name, string_split(p_name, ' ')[-1] AS blk FROM part)
          SELECT a.p_name AS name_a, b.p_name AS name_b,
                 CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
          FROM n a JOIN n b ON a.blk = b.blk AND a.p_name < b.p_name
          WHERE levenshtein(a.p_name, b.p_name) <= 4
          ORDER BY name_a, name_b""",
    // same oracle as q_join_asof2 — the native merge operator must produce
    // exactly what DuckDB's ASOF LEFT JOIN produces
    "q_join_asof_native" ->
      asofQuotes,
    // the oracle is the NAIVE theta-join — the hash match proves the
    // three-bucket binned rewrite loses no pair and invents none
    "q_join_band" ->
      """WITH e AS (SELECT event_id, event_type,
                 CAST(epoch_ns(ts) // 1000000 AS BIGINT) AS ms FROM events),
          p AS (SELECT event_id AS p_id, ms AS p_ms FROM e WHERE event_type = 'purchase'),
          v AS (SELECT event_id AS v_id, ms AS v_ms FROM e WHERE event_type = 'view')
          SELECT p_id, p_ms, count(*) AS n_nearby_views
          FROM p JOIN v ON abs(v_ms - p_ms) <= 3600000
          GROUP BY 1, 2 ORDER BY p_id""",
    // CMS estimates over a DOMAIN-BOUNDED key set at eps=0.001 (width 2719
    // vs 5 keys — no collisions), so the estimate EQUALS the exact count
    // and the exact count is the oracle; CmsSpec pins the one-sided error
    // property independently
    "q_agg_cms_topk" ->
      """SELECT o_orderpriority, count(*) AS approx_n
         FROM orders GROUP BY 1 ORDER BY 1""",
    // ——— round 6: remaining TPC-H report shapes (Reports.scala) ———
    // Q4 shape: EXISTS stated declaratively; the engine's semi join with the
    // lateness condition inside must match it exactly
    "q_join_order_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
           AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY 1 ORDER BY 1""",
    // Q8 shape: numerator and denominator are exact decimal sums; the share
    // is one IEEE division of two bit-identical doubles
    "q_join_market_share" ->
      s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                $nationRev AS nation_rev,
                $revenue AS total_rev,
                $nationRev
                / $revenue AS mkt_share
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation cn ON c_nationkey = cn.n_nationkey
         JOIN region   ON cn.n_regionkey = r_regionkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation sn ON s_nationkey = sn.n_nationkey
         WHERE r_name = 'ASIA'
         GROUP BY 1 ORDER BY 1""",
    // Q9 shape (no partsupp: supply cost modeled as 60% of retail price);
    // the whole per-row profit expression is written identically on both
    // engines before the decimal-staged sum
    "q_join_product_profit" ->
      """SELECT n_name AS nation,
                CAST(year(o_orderdate) AS BIGINT) AS o_year,
                CAST(CAST(SUM(CAST(l_extendedprice*(1-l_discount)
                       - 0.6*p_retailprice*l_quantity
                     AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS sum_profit
         FROM lineitem
         JOIN part     ON l_partkey = p_partkey
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation   ON s_nationkey = n_nationkey
         WHERE p_name LIKE '%bolt%'
         GROUP BY 1, 2 ORDER BY nation, o_year DESC""",
    // Q12 shape (no shipmode column: lines bucket by integer ship delay)
    "q_join_ship_delay" ->
      """SELECT CASE WHEN d <= 30 THEN '00-30'
                     WHEN d <= 60 THEN '31-60'
                     WHEN d <= 90 THEN '61-90'
                     ELSE '90+' END AS delay_bucket,
                CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
         FROM (SELECT o_orderpriority,
                      date_diff('day', CAST(o_orderdate AS DATE),
                                CAST(l_shipdate AS DATE)) AS d
               FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
         GROUP BY 1 ORDER BY 1""",
    // Q13 shape: LEFT join preserves zero-order customers; pure integers
    "q_join_cust_dist" ->
      """WITH pc AS (SELECT c_custkey, count(o_custkey) AS c_count
                     FROM customer
                     LEFT JOIN (SELECT o_custkey FROM orders
                                WHERE o_orderpriority <> '4-NOT SPECIFIED') o
                       ON c_custkey = o.o_custkey
                     GROUP BY 1)
         SELECT c_count, count(*) AS custdist
         FROM pc GROUP BY 1 ORDER BY custdist DESC, c_count DESC""",
    // Q15 shape: the max is a scalar over the same exact decimal sums, so
    // the equality join-back is bit-safe
    "q_join_top_supplier" ->
      s"""WITH rev AS (SELECT l_suppkey,
                             $revenue
                               AS total_revenue
                      FROM lineitem
                      WHERE l_shipdate >= TIMESTAMP '1996-07-01 00:00:00'
                        AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
                      GROUP BY 1),
          mx AS (SELECT max(total_revenue) AS mx FROM rev)
         SELECT s_suppkey, s_name, total_revenue
         FROM rev
         CROSS JOIN mx
         JOIN supplier ON l_suppkey = s_suppkey
         WHERE total_revenue = mx.mx
         ORDER BY s_suppkey""",
    // Q16 shape: part-supplier relation derived from shipments; complaint
    // suppliers stand in as negative balances
    "q_join_parts_supplier" ->
      """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
         SELECT p_brand, p_type, p_size,
                count(DISTINCT l_suppkey) AS supplier_cnt
         FROM pairs
         JOIN part ON l_partkey = p_partkey
         WHERE p_brand <> 'Brand#12' AND p_type <> 'PROMO'
           AND p_size IN (3, 9, 14, 19, 23, 36, 45, 49)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                 WHERE s_acctbal < 0.0)
         GROUP BY 1, 2, 3
         ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    // Q17 shape: 20%-of-mean compare cross-multiplied in exact decimal
    // (5·qty·n < sum); only the final /7 is IEEE
    "q_join_small_qty" ->
      """WITH pq AS (SELECT l_partkey AS pk,
                            SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
                            count(*) AS n_qty
                     FROM lineitem GROUP BY 1)
         SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                  AS VARCHAR) AS DOUBLE) / 7.0 AS avg_yearly,
                count(*) AS n
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN pq   ON l_partkey = pk
         WHERE p_brand = 'Brand#5' AND p_type = 'SMALL'
           AND CAST(l_quantity AS DECIMAL(18,2)) * n_qty * 5 < sum_qty""",
    // Q20 shape: half-share compare cross-multiplied in exact decimal
    "q_join_excess_supp" ->
      """WITH ps AS (SELECT l_partkey, l_suppkey,
                            SUM(CAST(l_quantity AS DECIMAL(18,2))) AS supp_qty
                     FROM lineitem
                     JOIN part ON l_partkey = p_partkey
                     WHERE p_name LIKE 'small%'
                       AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                       AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
                     GROUP BY 1, 2),
          w AS (SELECT l_suppkey, supp_qty,
                       SUM(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty
                FROM ps)
         SELECT DISTINCT s_name, n_name
         FROM w
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation   ON s_nationkey = n_nationkey
         WHERE supp_qty * 2 > part_qty
         ORDER BY s_name""",
    // Q2 shape (no partsupp: "cost" is the supplier's balance, relation
    // from shipments); ties break on suppkey so the argmin is total
    "q_join_min_bal_supp" ->
      """WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
          sup AS (SELECT s_suppkey, s_name, s_acctbal, n_name
                  FROM supplier
                  JOIN nation ON s_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
                  WHERE r_name = 'EUROPE'),
          ranked AS (SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
                            row_number() OVER (PARTITION BY p_partkey
                              ORDER BY s_acctbal, s_suppkey) AS rn
                     FROM pairs
                     JOIN part ON l_partkey = p_partkey
                     JOIN sup  ON l_suppkey = s_suppkey
                     WHERE p_type = 'STANDARD' AND p_size < 16)
         SELECT s_acctbal, s_name, n_name, p_partkey, p_name
         FROM ranked WHERE rn = 1
         ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
         LIMIT 100""",
    "q_agg_flags" ->
      """SELECT o_orderpriority,
                CAST(count(*) FILTER (WHERE o_totalprice > 100000.0) AS BIGINT) AS n_big,
                bool_or(o_orderstatus = 'F') AS any_finished,
                bool_and(o_totalprice > 0.0) AS all_positive,
                max(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END) AS max_finished_price
         FROM orders GROUP BY 1 ORDER BY 1""",
    "q_join_lateral" ->
      """SELECT n_name, c.c_custkey, c.c_name, c.c_acctbal
         FROM nation,
         LATERAL (SELECT c_custkey, c_name, c_acctbal
                  FROM customer
                  WHERE c_nationkey = n_nationkey
                  ORDER BY c_acctbal DESC, c_custkey
                  LIMIT 2) c
         ORDER BY n_name, c_acctbal DESC, c_custkey""",
    // Q11 shape (no partsupp: supply value from shipments); the 2×-mean
    // compare is cross-multiplied in exact decimal (value·n > 2·total)
    "q_join_important_stock" ->
      """WITH pp AS (SELECT l_partkey,
                            SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS v
                     FROM lineitem
                     WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
                                         JOIN nation ON s_nationkey = n_nationkey
                                         WHERE n_name = 'NATION_3')
                     GROUP BY 1),
          tot AS (SELECT SUM(v) AS total, count(*) AS n FROM pp)
         SELECT l_partkey AS p_partkey,
                CAST(CAST(v AS VARCHAR) AS DOUBLE) AS supply_value
         FROM pp, tot WHERE v * n > total * 2
         ORDER BY supply_value DESC, p_partkey""",
  )
}
