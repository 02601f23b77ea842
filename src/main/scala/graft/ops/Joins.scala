package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Group B joins (SURVEY.md §2.2). The reference's only join is the MERGE's
  * stage⋈target on id (/root/reference/coininsights.py:118); the warehouse
  * class it implies is the full star-join surface below. Small dims are
  * broadcast explicitly; everything else is a shuffle join on the key — both
  * scale to 1000 executors (no driver-side state anywhere).
  */
object Joins {

  /** Plain equi inner join fact⋈fact (shuffle hash/sort-merge by planner). */
  def inner(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("o_custkey"),
        col("o_orderstatus"), col("l_extendedprice"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Broadcast small-dim join: part is tiny relative to lineitem at any SF. */
  def broadcastJoin(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy("p_brand")
      .agg(dsum2(col("l_extendedprice")).as("revenue"), count(lit(1)).as("n"))
      .orderBy("p_brand")
  }

  /** 4-way star join with a date filter — the flagship query (SparkEntry.entry).
    * Region and nation are dimension-sized at any SF and broadcast explicitly;
    * customer GROWS with SF, so it carries no hint — the planner (statically
    * from parquet stats, or AQE at runtime) broadcasts it while it fits and
    * degrades to a shuffle join past autoBroadcastJoinThreshold, instead of
    * dying on the 8 GB broadcast limit at sf100+. The single big shuffle is
    * the final groupBy. */
  def multi(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders").filter(col("o_orderdate") >= lit("1996-01-01"))
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "l_returnflag")
      .agg(
        dsum10(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        dsum2(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy("r_name", "l_returnflag")
  }

  /** Second star path — through supplier instead of customer: revenue per
    * (region, nation) of the supplying side. */
  def star2(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val sup = t(s, dir, "supplier")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        dsum10(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n"))
      .orderBy("r_name", "n_name")
  }

  /** Left outer join with an unmatched side (customers without big orders). */
  def left(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val big = t(s, dir, "orders").filter(col("o_totalprice") > 300000)
    c.join(big, c("c_custkey") === big("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_big"),
        coalesce(dsum2(col("o_totalprice")), lit(0.0)).as("total_big"))
      .orderBy("c_custkey")
  }

  /** Left-semi ≡ EXISTS (the MERGE's WHEN MATCHED split,
    * /root/reference/coininsights.py:119). */
  def semi(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val urgent = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
    c.join(urgent, c("c_custkey") === urgent("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** Left-anti ≡ NOT EXISTS (the MERGE's WHEN NOT MATCHED split,
    * /root/reference/coininsights.py:124). */
  def anti(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val p = t(s, dir, "orders").filter(col("o_orderstatus") === "P")
    c.join(p, c("c_custkey") === p("o_custkey"), "left_anti")
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** The NOT IN three-valued-logic trap (VERDICT r2 item 5): a NOT IN whose
    * subquery column contains a NULL can never be TRUE (x <> NULL is
    * UNKNOWN), so the naive filter silently returns ZERO rows — the classic
    * warehouse wrong-answer generator. Declared as three labeled counts so
    * the asymmetry is the checked output: naive NOT IN = 0, null-filtered
    * NOT IN = the real anti count (≡ NOT EXISTS, `anti` above), while IN is
    * unaffected by the NULLs. Spark and DuckDB agree on standard 3VL. */
  def antiNull(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("customer_an")
    t(s, dir, "orders").createOrReplaceTempView("orders_an")
    s.sql("""
      WITH blocked AS (
        SELECT CASE WHEN o_orderstatus = 'P' THEN o_custkey END AS k FROM orders_an
      )
      SELECT 'in_blocked' AS variant,
             (SELECT count(1) FROM customer_an WHERE c_custkey IN (SELECT k FROM blocked)) AS n
      UNION ALL
      SELECT 'not_in_naive',
             (SELECT count(1) FROM customer_an WHERE c_custkey NOT IN (SELECT k FROM blocked))
      UNION ALL
      SELECT 'not_in_null_safe',
             (SELECT count(1) FROM customer_an
              WHERE c_custkey NOT IN (SELECT k FROM blocked WHERE k IS NOT NULL))
      ORDER BY variant
    """)
  }

  /** Non-equi range (theta) join: price buckets derived from region keys.
    * The bucket side is 5 rows → broadcast nested-loop, which is the right
    * plan at any scale for a tiny build side. */
  def range(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
    val buckets = t(s, dir, "region").select(
      col("r_regionkey").as("bucket"),
      (lit(900.0) + col("r_regionkey") * lit(20.0)).as("lo"),
      (lit(920.0) + col("r_regionkey") * lit(20.0)).as("hi"))
    p.join(broadcast(buckets),
        p("p_retailprice") >= buckets("lo") && p("p_retailprice") < buckets("hi"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"), dsum2(col("p_retailprice")).as("total"))
      .orderBy("bucket")
  }

  /** Correlated scalar subquery (SQL entry point): Catalyst de-correlates it
    * into a left outer aggregate join — worth declaring because warehouse
    * users write this shape constantly. */
  def scalarSubquery(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("customer_sq")
    t(s, dir, "orders").createOrReplaceTempView("orders_sq")
    s.sql("""
      SELECT c_custkey, c_mktsegment,
             (SELECT max(o_totalprice) FROM orders_sq WHERE o_custkey = c_custkey) AS max_order,
             (SELECT count(1) FROM orders_sq WHERE o_custkey = c_custkey) AS n_orders
      FROM customer_sq
      ORDER BY c_custkey
    """)
  }

  /** Correlated aggregate subquery: orders beating 2× their customer's mean —
    * Catalyst decorrelates the per-row agg subquery into one aggregate plus a
    * join (the rewrite warehouse users rely on; a naive engine re-runs the
    * subquery per row). Money mean is decimal-staged for the oracle. */
  def correlatedAgg(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders_ca")
    s.sql("""
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders_ca o
      WHERE o_totalprice > 2 * (
        SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(1)
        FROM orders_ca i WHERE i.o_custkey = o.o_custkey)
      ORDER BY o_orderkey
    """)
  }

  /** Salted skew join: l_returnflag has 3 values, so a shuffle join on it
    * puts a third of the fact table on one task. Salting fans each hot key
    * into 8 sub-keys — the fact side derives a deterministic salt from a
    * unique column, the (tiny) dim side replicates across all salts, and the
    * join key becomes (key, salt): 24 evenly-sized partitions instead of 3.
    * The MERGE hint forces the shuffle join (a broadcast would hide the
    * skew problem this query demonstrates); the result is identical to the
    * unsalted join, which is what the oracle checks. */
  def skewSalted(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val dim = t(s, dir, "lineitem").select(col("l_returnflag").as("flag")).distinct()
      .withColumn("flag_label", concat(lit("flag_"), col("flag")))
    val salts = 8
    val fact = li.withColumn("salt", pmod(col("l_orderkey"), lit(salts)))
    val dimSalted = dim.withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
    fact.hint("MERGE")
      .join(dimSalted, fact("l_returnflag") === dimSalted("flag")
        && fact("salt") === dimSalted("salt").cast("long"))
      .groupBy("flag_label")
      .agg(count(lit(1)).as("n"), dsum2(col("l_extendedprice")).as("total"))
      .orderBy("flag_label")
  }

  /** As-of join: each purchase event picks the latest signup at-or-before its
    * timestamp per user — the temporal essence of the reference's upsert (O15).
    * Implemented as union + last(ignoreNulls) over an ordered window: one
    * shuffle by user_id, linear scan per partition — scales where a per-row
    * range join would not. */
  def asof(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("sig_ts",
        when(col("event_type") === "signup", col("ts")))
      .withColumn("asof_ts", last(col("sig_ts"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value"),
        nsToMs("ts").as("ts_ms"),
        expr("asof_ts div 1000000").as("asof_signup_ms"))
      .orderBy("event_id")
  }

  /** Two-relation as-of join (quotes/trades shape): each purchase ("trade")
    * picks the latest view ("quote") at-or-before its timestamp per user —
    * a left as-of, so trades with no prior quote survive with nulls.
    *
    * Same scalable plan as `asof`: union the two relations with a side
    * marker, one shuffle by user_id, a linear last(ignoreNulls) scan per
    * partition. At equal timestamps the quote sorts before the trade
    * (side 0 < 1), giving the inclusive t.ts >= q.ts semantics of a SQL
    * ASOF JOIN. A per-row range join would be O(T·Q) per user; this is
    * O(T+Q) after one exchange. */
  def asof2(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    // quotes carry their REAL event_id as the window's third sort key:
    // with it null, equal-(user_id, ts) quotes would order nondeterministically
    // and the surviving quote could differ run to run — the real id makes the
    // tie resolve to the max-event_id quote, matching AsOfJoinExec's
    // rightTieBreak. (Quote rows are filtered out before output, so the id
    // never leaks into the result contract.)
    val quotes = ev.filter(col("event_type") === "view").select(
      col("user_id"), col("ts"), lit(0).as("side"),
      col("event_id"), lit(null).cast("double").as("t_value"),
      col("ts").as("q_ts"), col("value").as("q_value"))
    val trades = ev.filter(col("event_type") === "purchase").select(
      col("user_id"), col("ts"), lit(1).as("side"),
      col("event_id"), col("value").as("t_value"),
      lit(null).cast("long").as("q_ts"), lit(null).cast("double").as("q_value"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    quotes.unionByName(trades)
      .withColumn("last_q_ts", last(col("q_ts"), ignoreNulls = true).over(w))
      .withColumn("last_q_value", last(col("q_value"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("t_value"),
        nsToMs("ts").as("ts_ms"),
        expr("last_q_ts div 1000000").as("quote_ts_ms"),
        col("last_q_value").as("quote_value"))
      .orderBy("event_id")
  }

  /** The NATIVE-OPERATOR form of `asof2`: same quotes/trades semantics
    * through graft.plans.AsOf — custom LogicalPlan → AsOfJoinStrategy →
    * AsOfJoinExec merge join (each side shuffles once on its own key; no
    * union super-relation, no window state — see AsOfJoin.scala for the
    * 100 TB rationale). The oracle is DuckDB's ASOF LEFT JOIN, and
    * NativeAsOfSpec additionally pins it row-for-row to `asof2`. */
  def asofNative(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val trades = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("value").as("t_value"), col("ts"))
    val quotes = ev.filter(col("event_type") === "view")
      .select(col("user_id").as("q_user_id"), col("ts").as("q_ts"),
        col("value").as("q_value"), col("event_id").as("q_event_id"))
    graft.plans.AsOf.join(trades, quotes,
        "user_id", "ts", "q_user_id", "q_ts", rightTieBreak = Some("q_event_id"))
      .select(col("event_id"), col("user_id"), col("t_value"),
        nsToMs("ts").as("ts_ms"),
        expr("q_ts div 1000000").as("quote_ts_ms"),
        col("q_value").as("quote_value"))
      .orderBy("event_id")
  }

  /** Shipping-priority report (TPC-H Q3 shape): unshipped revenue of
    * BUILDING-segment orders placed before the cutoff, top 10 by revenue.
    * The optimizer-relevant structure: both fact scans carry pushed date
    * filters, customer is pruned to its join key before the join (only the
    * segment predicate survives), and the top-10 is TakeOrderedAndProject —
    * no global sort materializes the full aggregate at any scale. Customer
    * grows with SF so it carries no broadcast hint (same rationale as
    * `multi`). */
  def shipPriority(s: SparkSession, dir: String): DataFrame = {
    val cutoff = "1998-01-01"
    val c = t(s, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = t(s, dir, "orders").filter(col("o_orderdate") < lit(cutoff))
    val li = t(s, dir, "lineitem").filter(col("l_shipdate") > lit(cutoff))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(dsum10(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Local-supplier revenue by nation (TPC-H Q5 shape): ASIA-region 1996
    * revenue where the supplier and the ordering customer share a nation.
    * The distinctive join topology: supplier joins lineitem on l_suppkey AND
    * customer on nationkey simultaneously — a cycle in the join graph, not a
    * star. nation/region are fixed-size → broadcast; customer and supplier
    * grow with SF → no hint (planner/AQE decides). */
  def regionRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01"))
    val c = t(s, dir, "customer")
    val sup = t(s, dir, "supplier")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(sup, li("l_suppkey") === sup("s_suppkey") &&
        c("c_nationkey") === sup("s_nationkey"))
      .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("n_name")
      .agg(dsum10(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Cross-nation trade volume (TPC-H Q7 shape): revenue shipped between
    * DIFFERENT nations, by direction (supplier nation → customer nation)
    * and ship year — the remaining canonical analyst join topology after
    * Q3 (`shipPriority`) and Q5 (`regionRevenue`): two role-separated
    * copies of the same dimension. (Classic Q7 restricts to one nation
    * pair; the unrestricted form keeps every group and stays non-empty at
    * any fixture SF — the pair restriction is a broadcast-side filter a
    * user adds, not a topology change.) Both nation copies are fixed-size
    * broadcasts; the only unavoidable shuffle at scale is
    * lineitem ⋈ orders on orderkey. The group key adds `year(l_shipdate)`
    * — an exact integer, no float in any key. */
  def nationVolume(s: SparkSession, dir: String): DataFrame = {
    val n1 = t(s, dir, "nation")
      .select(col("n_nationkey").as("sk"), col("n_name").as("supp_nation"))
    val n2 = t(s, dir, "nation")
      .select(col("n_nationkey").as("ck"), col("n_name").as("cust_nation"))
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1998-01-01"))
      .select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
    val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
    val sup = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    li.join(sup, li("l_suppkey") === sup("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("sk"))
      .join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n2), col("c_nationkey") === col("ck"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(dsum10(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("volume"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** Returned-item report (TPC-H Q10 shape): top 20 customers by revenue
    * lost to returns in one quarter. The structure that matters at scale:
    * both fact scans carry pushed predicates (quarter on orders, the 'R'
    * flag on lineitem) BEFORE the orderkey shuffle, customer joins after
    * the facts have already collapsed, nation is a fixed-size broadcast,
    * and the top-20 is TakeOrderedAndProject — no global sort. c_acctbal
    * rides in the group key untouched (no arithmetic → no float hazard). */
  def custReturns(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-10-01") &&
        col("o_orderdate") < lit("1997-01-01"))
      .select("o_orderkey", "o_custkey")
    val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg(dsum10(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Large-volume orders (TPC-H Q18 shape): orders whose total quantity
    * exceeds the threshold, with their customer. The canonical
    * HAVING-then-join-back topology in its scalable form: the quantity
    * rollup partial-aggregates map-side and the > filter collapses the
    * aggregate to the rare heavy orders BEFORE any join — at 100 TB the
    * surviving side is small enough that AQE broadcasts it into orders.
    * Quantities are integral, so the decimal-staged sum and the threshold
    * compare are exact. */
  def largeOrders(s: SparkSession, dir: String): DataFrame = {
    val big = t(s, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(dsum2(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > lit(300.0))
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer").select("c_custkey", "c_name")
    big.join(o, big("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Sole-late-supplier blame report (TPC-H Q21 shape, adapted to this
    * schema's columns: "late" = shipped > 90 days after the order date on a
    * finished order). The Q21 topology is a per-row EXISTS (another supplier
    * on the order) AND NOT EXISTS (another LATE supplier on the order) —
    * naively two correlated probes per lineitem. The scalable rewrite:
    * collapse lineitem to one row per (order, supplier) with a max(late)
    * flag FIRST (map-side partial agg), then both existence tests become
    * whole-partition window counts over the SAME orderkey exchange —
    * n_supp > 1 is the EXISTS, n_late = 1 is the NOT EXISTS. One shuffle,
    * bounded per-order state, no correlated re-scans; the supplier name
    * joins after blame rows have collapsed to the rare offenders, and the
    * top-20 is TakeOrderedAndProject. The DuckDB oracle states the same
    * logic declaratively, so the hash match proves the rewrite. */
  def blameSupplier(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val sl = t(s, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max(when(col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 90 DAYS"), 1L).otherwise(0L))
        .as("late"))
    val perOrder = Window.partitionBy("l_orderkey")
    val blamed = sl
      .withColumn("n_supp", count(lit(1)).over(perOrder))
      .withColumn("n_late", sum(col("late")).over(perOrder))
      .filter(col("late") === 1L && col("n_supp") > 1L && col("n_late") === 1L)
    blamed
      .join(t(s, dir, "supplier").select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  /** Dormant high-balance customers (TPC-H Q22 shape): customers with an
    * above-average positive balance and no order since 2000, counted per
    * nation. The two Q22 structures in scalable form: the global scalar
    * (mean positive balance) is a one-row broadcast, and the mean compare
    * is DIVISION-FREE — c_acctbal·n > total in exact decimal, because a
    * decimal QUOTIENT would round differently per engine while products
    * and sums are exact in both. The NOT EXISTS is a custkey anti-join
    * whose probe side carries only the rare above-mean candidates and
    * whose build side is cut to recent orders AT THE SCAN; nation is a
    * broadcast. */
  def dormantCust(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val pos = t(s, dir, "customer").filter(col("c_acctbal") > 0.0)
    val th = pos.agg(
      sum(col("c_acctbal").cast(DecimalType(18, 2))).as("total"),
      count(lit(1)).as("n"))
    val cand = pos.crossJoin(broadcast(th))
      .filter(col("c_acctbal").cast(DecimalType(18, 2)) * col("n") > col("total"))
      .join(t(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("2000-01-01")).select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
    cand
      .join(broadcast(t(s, dir, "nation").select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("numcust"), dsum2(col("c_acctbal")).as("totacctbal"))
      .orderBy("n_name")
  }

  /** Promotion revenue share (TPC-H Q14 shape): what fraction of a month's
    * discounted revenue came from PROMO-type parts. Both sums ride ONE
    * conditional aggregation over the same join (no second scan for the
    * numerator); the month predicate cuts lineitem at the scan before the
    * partkey shuffle; the share is one IEEE division of two exact decimal
    * sums. */
  def promoRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-09-01") &&
        col("l_shipdate") < lit("1996-10-01"))
    val p = t(s, dir, "part").select("p_partkey", "p_type")
    val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .agg(
        dsum10(when(col("p_type") === "PROMO", disc).otherwise(lit(0.0)))
          .as("promo_rev"),
        dsum10(disc).as("total_rev"),
        count(lit(1)).as("n"))
      .withColumn("promo_share_pct",
        lit(100.0) * col("promo_rev") / col("total_rev"))
      .select("promo_rev", "total_rev", "promo_share_pct", "n")
  }

  /** Disjunctive-predicate revenue (TPC-H Q19 shape, adapted to this
    * schema's columns): three OR'd (brand, size-range, quantity-range)
    * branches. The planner can push only the OR-of-brands envelope to the
    * part scan; the full residual evaluates post-join — the shape that
    * tests predicate handling beyond simple conjunctions. */
  def disjunctiveRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = t(s, dir, "part").select("p_partkey", "p_brand", "p_size")
    val pred =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
        col("l_quantity").between(1.0, 11.0)) ||
      (col("p_brand") === "Brand#21" && col("p_size").between(10, 30) &&
        col("l_quantity").between(10.0, 20.0)) ||
      (col("p_brand") === "Brand#5" && col("p_size").between(20, 50) &&
        col("l_quantity").between(20.0, 30.0))
    li.join(p, col("l_partkey") === col("p_partkey"))
      .filter(pred)
      .groupBy("p_brand")
      .agg(dsum10(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("revenue"), count(lit(1)).as("n"))
      .orderBy("p_brand")
  }

  /** FULL OUTER join — the reconciliation shape (two reports that must
    * agree on a shared key, keeping rows unique to EITHER side): high-
    * balance customers vs low-balance suppliers per nation. Both sides
    * aggregate BEFORE the join, so the full-outer shuffle carries one row
    * per (side, nation) — never fact-table rows — and the filters cut each
    * side at the scan. COALESCE surfaces one key column and zero-fills the
    * missing side, the convention that lets the result feed arithmetic
    * without null checks. */
  def fullOuter(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").filter(col("c_acctbal") > lit(9000.0))
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_rich_cust"))
    val sup = t(s, dir, "supplier").filter(col("s_acctbal") < lit(3000.0))
      .groupBy("s_nationkey").agg(count(lit(1)).as("n_poor_supp"))
    c.join(sup, col("c_nationkey") === col("s_nationkey"), "full_outer")
      .select(
        coalesce(col("c_nationkey"), col("s_nationkey")).cast("long").as("nationkey"),
        coalesce(col("n_rich_cust"), lit(0L)).as("n_rich_cust"),
        coalesce(col("n_poor_supp"), lit(0L)).as("n_poor_supp"))
      .orderBy("nationkey")
  }

  /** BINNED BAND JOIN — the scale technique for time-proximity joins: each
    * purchase counts the view events within ±1 hour of it. The naive
    * form is a θ-join on |Δt| ≤ w — a cartesian product per key domain. The
    * binned form maps every event to a w-sized time bucket, joins each
    * probe to its OWN bucket and the two NEIGHBORS (any row within ±w lives
    * in one of the three), then applies the exact band predicate — an
    * EQUI-join whose fan-out is bounded by bucket occupancy, never the
    * corpus. The bucket arithmetic is integer ms, identical in the oracle's
    * naive BETWEEN join — the hash match proves the rewrite. */
  def bandJoin(s: SparkSession, dir: String): DataFrame = {
    val w = 3600000L // 1 hour in ms
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"), nsToMs("ts").as("ms"))
    val probes = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("ms").as("p_ms"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("ms").as("v_ms"),
        expr(s"ms div $w").as("bucket"))
    val probed = probes.select(col("p_id"), col("p_ms"),
      explode(expr(s"array(p_ms div $w - 1, p_ms div $w, p_ms div $w + 1)")).as("bucket"))
    // a view has ONE bucket and the probe explodes three distinct keys, so
    // each qualifying (probe, view) pair joins exactly once — plain count
    probed.join(views, "bucket")
      .filter(abs(col("v_ms") - col("p_ms")) <= w)
      .groupBy("p_id", "p_ms")
      .agg(count(lit(1)).as("n_nearby_views"))
      .orderBy("p_id")
  }

  /** BLOCKED FUZZY MATCH — entity resolution over a name domain: candidate
    * part-name pairs within edit distance 4, blocked so no all-pairs join
    * ever forms. Scale shape: names collapse to their DISTINCT set first (a
    * domain, not the corpus — the same set-collapse as the dedup family),
    * the self-join keys on a blocking attribute (the name's last token —
    * in production a phonetic/sorted-neighborhood key), and the quadratic
    * term is bounded per block. levenshtein() is the classic DP edit
    * distance with identical semantics in Spark and DuckDB, so the pair
    * set is oracle-checkable. */
  def fuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    val names = t(s, dir, "part").select(col("p_name")).distinct()
      .withColumn("blk", element_at(split(col("p_name"), " "), -1))
    val a = names.select(col("p_name").as("name_a"), col("blk"))
    val b = names.select(col("p_name").as("name_b"), col("blk"))
    a.join(b, Seq("blk"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("dist") <= 4)
      .select("name_a", "name_b", "dist")
      .orderBy("name_a", "name_b")
  }

  /** BLOOM-FILTER runtime-pruned join — the explicit form of the runtime
    * row-filter a selective star join needs at 100 TB: the build side is a
    * ~10% slice of orders, so ~90% of lineitem rows would travel the join
    * exchange only to be discarded. A bloom filter over the build keys
    * (scalar subquery — built once, shipped to every scan task) drops them
    * AT THE FACT SCAN instead; the exact equi-join then removes the bloom's
    * false positives, so the result is bit-identical to the plain join (the
    * oracle IS the plain join — the hash match proves the rewrite). Uses
    * Spark's own BloomFilterAggregate/BloomFilterMightContain (exposed as
    * bloom_agg/bloom_contains by GraftExtensions) over xxhash64 keys.
    * BloomJoinSpec asserts the pruned plan and the equivalence. */
  def bloomPrunedJoin(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "O")
      .select("o_orderkey").createOrReplaceTempView("graft_bloom_dim")
    t(s, dir, "lineitem")
      .select("l_orderkey", "l_returnflag", "l_extendedprice")
      .createOrReplaceTempView("graft_bloom_fact")
    s.sql(
      """SELECT l.l_returnflag, count(*) AS n,
                CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM graft_bloom_fact l
         JOIN graft_bloom_dim d ON l.l_orderkey = d.o_orderkey
         WHERE bloom_contains(
           (SELECT bloom_agg(xxhash64(o_orderkey)) FROM graft_bloom_dim),
           xxhash64(l.l_orderkey))
         GROUP BY 1 ORDER BY 1""")
  }

  /** LATERAL correlated-subquery join: top-2 richest customers PER nation,
    * stated declaratively (the SQL form users port from warehouses that
    * lack window functions in the FROM clause). Catalyst decorrelates the
    * per-row subquery into a set-based plan — the engine never executes
    * one probe per outer row — and the (acctbal desc, custkey) ORDER makes
    * the LIMIT 2 cut total. Same semantics class as q_topk's window form;
    * declared separately because LATERAL is its own operator surface. */
  def lateralTop(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "nation").createOrReplaceTempView("nation_lat")
    t(s, dir, "customer").createOrReplaceTempView("customer_lat")
    s.sql(
      """SELECT n_name, c.c_custkey, c.c_name, c.c_acctbal
         FROM nation_lat,
         LATERAL (SELECT c_custkey, c_name, c_acctbal
                  FROM customer_lat
                  WHERE c_nationkey = n_nationkey
                  ORDER BY c_acctbal DESC, c_custkey
                  LIMIT 2) c
         ORDER BY n_name, c_acctbal DESC, c_custkey""")
  }
}
