package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Group B aggregations (SURVEY.md §2.2): hash aggregates, distinct counts,
  * HLL sketch, and multi-dimensional (rollup/cube/grouping-sets) aggs. All are
  * partial+final hash aggregates in Spark (map-side combine), so the shuffle
  * carries one row per (partition, group), not per input row.
  */
object Aggregates {

  /** TPC-H Q1-shaped hash aggregate (sum/avg/count by two keys). */
  def groupBy(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum2(col("l_quantity")).as("sum_qty"),
        dsum2(col("l_extendedprice")).as("sum_base"),
        dsum10(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
        (dsum2(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Per-group MODE (most frequent value) with a deterministic tie-break
    * (smallest value wins) — the statistical aggregate Spark has no
    * built-in exact form for. Two-level aggregation, both partial-
    * aggregatable: count per (group, value) — the shuffle carries one row
    * per distinct pair, never raw rows — then a WindowGroupLimit picks the
    * top count per group. No collect, no sort of raw data. */
  def mode(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "orders")
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority")
      .orderBy(col("n").desc, col("o_orderstatus"))
    counts.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_orderpriority"),
        col("o_orderstatus").as("mode_status"), col("n"))
      .orderBy("o_orderpriority")
  }

  /** Exact distinct counts (expand+two-phase agg under the hood). */
  def distinctAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** HLL++ approximate distinct — engine-specific estimate, no DuckDB oracle
    * (SURVEY.md §5 rule 1); the sketch merges associatively so it scales. */
  def approxDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"))
      .orderBy("l_returnflag")

  /** ORACLE-VISIBLE accuracy gate for `approxDistinct` (VERDICT r6 item 7):
    * the sketch VALUE is engine-specific and can never hash-match DuckDB,
    * but the claim "the estimate is within tolerance of the exact count"
    * is a deterministic boolean — computed entirely in-Spark against the
    * exact distinct count, while the oracle emits the same groups with
    * literal TRUE. A drifting sketch now fails the driver's hash gate
    * mechanically instead of only a spec. Tolerance 10% = 2× the default
    * HLL++ rsd (0.05); measured error on the fixtures is ≤2%. */
  def approxDistinctBound(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey")).as("a"),
        countDistinct(col("l_partkey")).as("x"))
      .select(col("l_returnflag"),
        (abs(col("a") - col("x")).cast("double") <=
          col("x").cast("double") * 0.10).as("within_tol"))
      .orderBy("l_returnflag")

  /** MERGEABLE distinct-count sketches — the pre-aggregation pattern a
    * 100 TB warehouse actually serves from: per-(priority, year) HLL
    * sketches built ONCE at ingest granularity, then any rollup is a
    * sketch UNION (tiny, associative, re-aggregable along any dimension) —
    * the raw keys never re-scan. Engine-specific binary (DataSketches
    * HLL_8), so the driver's check is rows-only, like q_agg_approx_distinct;
    * SketchMergeSpec proves the load-bearing property: union-of-partials
    * equals the directly-built sketch EXACTLY (same lgK), and tracks the
    * exact distinct count within HLL error. */
  def sketchMerge(s: SparkSession, dir: String): DataFrame = {
    val partials = t(s, dir, "orders")
      .groupBy(col("o_orderpriority"), year(col("o_orderdate")).as("yr"))
      .agg(hll_sketch_agg(col("o_custkey")).as("sk"))
    partials.groupBy("o_orderpriority")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).cast("long").as("approx_customers"))
      .orderBy("o_orderpriority")
  }

  /** Accuracy gate for `sketchMerge` (the approxDistinctBound pattern):
    * union-of-partials estimate vs the exact distinct customers per
    * priority, within 5% (DataSketches HLL lgK=12 → rsd ≈1.6%; measured
    * fixture error <1%). Oracle emits the groups with literal TRUE. */
  def sketchMergeBound(s: SparkSession, dir: String): DataFrame = {
    val exact = t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(countDistinct(col("o_custkey")).as("x"))
    sketchMerge(s, dir).join(exact, "o_orderpriority")
      .select(col("o_orderpriority"),
        (abs(col("approx_customers") - col("x")).cast("double") <=
          col("x").cast("double") * 0.05).as("within_tol"))
      .orderBy("o_orderpriority")
  }

  /** KMV/THETA sketch design constants. The sketch is the classic k-minimum
    * -values form of the theta family (public: the KMV/theta-sketch
    * literature and Apache DataSketches' theta sketch): per segment, the
    * `ThetaK` smallest distinct hash values of the key, with
    * theta = the k-th smallest (or the full hash range when the segment has
    * fewer than k distinct keys — exact mode). Unlike HLL, theta sketches
    * support set INTERSECTION and DIFFERENCE, the "users in A∩B" questions
    * q_agg_sketch_merge's union-only surface cannot answer (VERDICT r7
    * item 8). The hash is an explicit integer congruence — deterministic in
    * both engines, so the ESTIMATES themselves are DuckDB-bit-exact (the
    * one sketch family member whose serve values the oracle hash-checks
    * directly, not just rows-only). Error of any set expression scales
    * with the UNION cardinality at rsd ≈ 1/√(K−1) ≈ 6.3%; measured worst
    * |err|/|A∪B| on the fixtures is 4.4% (sf0.1), 3.3% (sf0.01). */
  val ThetaK = 256
  val ThetaP = 1000000007L
  val ThetaA = 2654435761L
  val ThetaB2 = 40503L
  /** Union-relative accuracy bound for the _bound twin: 1.6× the design
    * rsd. */
  val ThetaTol = 0.10

  /** Per-priority KMV sketch of distinct customers: (sketch rows, thetas).
    * The sketch build is the scale path: distinct (segment, hash) pairs
    * feed the k-bounded `top_structs` heap aggregate (Ranking.topKPerGroup)
    * — partial aggregation keeps at most K rows per segment per map task,
    * the exchange carries |segments|·K rows, and no corpus-sized frame is
    * ever sorted. The retained minima and theta are segment-level METADATA
    * (≤ K longs each) — the pre-aggregated artifact a 100 TB warehouse
    * stores per segment and combines at question time without rescanning
    * keys. (o_custkey·A stays under 2^63 for custkeys < 3.5e9; a larger
    * key domain hashes in two steps.) */
  private def thetaSketch(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val hashed = t(s, dir, "orders")
      .select(col("o_orderpriority").as("p"),
        ((col("o_custkey") * ThetaA + ThetaB2) % ThetaP).as("h"))
      .distinct()
    val sk = graft.llm.Ranking.topKPerGroup(
      hashed.withColumn("hs", col("h").cast("double")), "p", "hs", "h",
      ThetaK, asc = true, "hs", "h")
    val theta = sk.groupBy("p").agg(
        max(when(col("rank") === ThetaK, col("h"))).as("kth"),
        max(col("rank")).as("mx"))
      .select(col("p"),
        when(col("mx") < ThetaK, lit(ThetaP)).otherwise(col("kth")).as("theta"))
    (sk.select("p", "h"), theta)
  }

  /** q_agg_theta_ops: distinct-customer INTERSECTION and DIFFERENCE
    * estimates for every priority pair, from the per-segment KMV sketches
    * alone — no raw-key rescan anywhere past the sketch build. The
    * combined threshold is theta_AB = min(theta_A, theta_B); retained
    * values below it are a uniform sample of each segment's key set, so
    * |{h ∈ S_A ∩ S_B : h < θ_AB}| / θ_norm estimates |A∩B| and the
    * anti-joined count estimates |A\B| (every stream value below θ_AB is
    * retained, which is what makes the anti join sound). All frames from
    * here down are pair-count × K metadata — broadcast joins, nothing
    * corpus-sized. Estimates are single IEEE divisions of exact integers:
    * bit-identical in the DuckDB twin. */
  def thetaOps(s: SparkSession, dir: String): DataFrame = {
    val (sk, th) = thetaSketch(s, dir)
    val pairs = th.alias("ta").crossJoin(th.alias("tb"))
      .filter(col("ta.p") < col("tb.p"))
      .select(col("ta.p").as("pa"), col("tb.p").as("pb"),
        least(col("ta.theta"), col("tb.theta")).as("thab"))
    val ska = sk.select(col("p").as("pa"), col("h"))
    val skb = sk.select(col("p").as("pb"), col("h"))
    val below = broadcast(pairs).join(ska, "pa").filter(col("h") < col("thab"))
    val mI = below.join(skb, Seq("pb", "h"), "left_semi")
      .groupBy("pa", "pb").agg(count(lit(1)).as("m_i"))
    val mD = below.join(skb, Seq("pb", "h"), "left_anti")
      .groupBy("pa", "pb").agg(count(lit(1)).as("m_d"))
    pairs.join(mI, Seq("pa", "pb"), "left").join(mD, Seq("pa", "pb"), "left")
      .select(col("pa"), col("pb"),
        (coalesce(col("m_i"), lit(0L)).cast("double") * lit(ThetaP.toDouble)
          / col("thab").cast("double")).as("est_inter"),
        (coalesce(col("m_d"), lit(0L)).cast("double") * lit(ThetaP.toDouble)
          / col("thab").cast("double")).as("est_diff"))
      .orderBy("pa", "pb")
  }

  /** Accuracy gate for `thetaOps` (the approxDistinctBound pattern): both
    * estimates within ThetaTol of exact, RELATIVE TO THE UNION size — the
    * scale theta-sketch error actually lives on (a small difference set
    * has large relative error by construction; |err|/|A∪B| is the bounded
    * quantity). Oracle emits the pairs with literal TRUE. */
  def thetaOpsBound(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "orders")
      .select(col("o_orderpriority").as("p"), col("o_custkey").as("c"))
      .distinct()
    val sizes = d.groupBy("p").agg(count(lit(1)).as("n"))
    val xi = d.alias("a").join(d.alias("b"),
        col("a.c") === col("b.c") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("pa"), col("b.p").as("pb"))
      .agg(count(lit(1)).as("xi"))
    val pairsX = sizes.alias("sa").crossJoin(sizes.alias("sb"))
      .filter(col("sa.p") < col("sb.p"))
      .select(col("sa.p").as("pa"), col("sb.p").as("pb"),
        col("sa.n").as("na"), col("sb.n").as("nb"))
      .join(xi, Seq("pa", "pb"), "left")
      .withColumn("xi", coalesce(col("xi"), lit(0L)))
      .withColumn("xd", col("na") - col("xi"))
      .withColumn("xu", col("na") + col("nb") - col("xi"))
    thetaOps(s, dir).join(pairsX, Seq("pa", "pb"))
      .select(col("pa"), col("pb"),
        (abs(col("est_inter") - col("xi").cast("double")) <=
          col("xu").cast("double") * ThetaTol).as("inter_within_tol"),
        (abs(col("est_diff") - col("xd").cast("double")) <=
          col("xu").cast("double") * ThetaTol).as("diff_within_tol"))
      .orderBy("pa", "pb")
  }

  /** COUNT-MIN-SKETCH heavy hitters — the frequency member of the sketch
    * family (HLL: distinct, GK: quantiles, CMS: counts): per-year CMS
    * partials over the join key, merged into one corpus sketch that any
    * consumer probes without rescanning rows — the skew-detection serving
    * path at 100 TB, where exact `q_stats_skew` pays a full key shuffle
    * per question. The sketch binary is engine-specific (rows-only driver
    * check, like the HLL family); CmsSpec pins every probed estimate
    * against the exact count (CMS error is one-sided: estimate ≥ truth).
    * The probe set is the DOMAIN-BOUNDED priority list, so the output is
    * fixed-size at any corpus. */
  def cmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Cms
    val partials = t(s, dir, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(expr(s"count_min_sketch(o_orderpriority, ${Cms.Eps}d, ${Cms.Confidence}d, ${Cms.Seed})").as("sk"))
    // one tiny merged sketch (bytes per partial), probed for each priority
    val merged = partials.agg(
      expr("count_min_sketch_merge(sk)").as("sk"))
    val prios = t(s, dir, "orders").select("o_orderpriority").distinct()
    prios.crossJoin(broadcast(merged))
      .select(col("o_orderpriority"),
        expr("count_min_sketch_estimate(sk, o_orderpriority)").cast("long")
          .as("approx_n"))
      .orderBy("o_orderpriority")
  }

  /** Deterministic second-moment statistics. Built-in stddev/variance use
    * Welford merges whose result depends on partition merge order — not
    * reproducible bit-for-bit across engines or even runs. Instead: exact
    * DECIMAL sums of x and x² (decimal multiply, no double rounding), cast
    * to double once (correctly rounded), then the textbook formula in
    * IEEE double arithmetic written identically in the oracle. */
  def stats(s: SparkSession, dir: String): DataFrame = {
    val x = col("o_totalprice")
    val s1 = sum(x.cast("decimal(18,2)")).cast("double")
    val s2 = sum(x.cast("decimal(12,2)") * x.cast("decimal(12,2)")).cast("double")
    t(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), s1.as("s1"), s2.as("s2"))
      .withColumn("mean", col("s1") / col("n"))
      .withColumn("var_samp",
        (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
      .withColumn("stddev_samp", sqrt(col("var_samp")))
      .select("o_orderstatus", "n", "mean", "var_samp", "stddev_samp")
      .orderBy("o_orderstatus")
  }

  /** Exact percentiles (interpolated): median and p90 per status, via the
    * value-histogram discipline (ExactPercentile) — identical doubles to
    * `percentile()`, but no per-group all-values aggregation buffer. */
  def percentiles(s: SparkSession, dir: String): DataFrame =
    ExactPercentile.bounds(t(s, dir, "orders"), col("o_totalprice"),
        Seq("p50" -> 0.5, "p90" -> 0.9), Seq("o_orderstatus"))
      .select(col("o_orderstatus"), col("p50"), col("p90"),
        col("n_all").as("n"))
      .orderBy("o_orderstatus")

  /** Set-collecting aggregation: distinct priorities per status, surfaced as
    * a sorted joined string so the output is order-deterministic (collect_set
    * itself has no ordering guarantee). */
  def collectSet(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        concat_ws("|", sort_array(collect_set(col("o_orderpriority")))).as("prios"),
        countDistinct(col("o_orderpriority")).as("n_prios"))
      .orderBy("o_orderstatus")

  /** ROLLUP over (status, priority). */
  def rollupAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total"),
        grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), col("o_orderstatus"), col("o_orderpriority"))

  /** CUBE over (returnflag, linestatus). */
  def cubeAgg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum2(col("l_quantity")).as("sum_qty"),
        grouping_id().cast("long").as("gid"))
      .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))

  /** GROUPING SETS via SQL (the Dataset API has no direct form). */
  def groupingSets(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "orders").createOrReplaceTempView("orders_gs")
    s.sql("""
      SELECT o_orderstatus, o_orderpriority,
             count(1) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
             CAST(grouping_id() AS BIGINT) AS gid
      FROM orders_gs
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      ORDER BY gid, o_orderstatus, o_orderpriority
    """)
  }

  /** Wide→long unpivot (the inverse of pivot, via the official Dataset API):
    * two per-order measures melted into (metric, value) rows. */
  def unpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
          .cast("double").as("days_since"))
      .unpivot(Array(col("o_orderkey")), Array(col("o_totalprice"), col("days_since")),
        "metric", "value")
      .orderBy("o_orderkey", "metric")

  /** Long→wide pivot: documents per (source, lang). */
  def pivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy("source")
      .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("source")

  /** Pearson correlation + sample covariance per group, from EXACT decimal
    * sums (the q_agg_stats discipline extended to two variables): the five
    * cross-moments accumulate as DECIMAL — associative, bit-exact, partial-
    * aggregatable, so the shuffle carries one 5-sum row per (partition,
    * group) — and only the FINAL corr/cov arithmetic drops to one shared
    * IEEE expression tree over those exact statistics. Built-in corr()
    * would stream doubles through Welford-style accumulators whose result
    * depends on partition order — unreproducible across engines AND across
    * re-runs at 100 TB; this form is deterministic at any parallelism. */
  def corrAgg(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    val sums = t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(x.cast("decimal(18,2)")).cast("double").as("sx"),
        sum(y.cast("decimal(18,2)")).cast("double").as("sy"),
        sum(x.cast("decimal(12,2)") * x.cast("decimal(12,2)")).cast("double").as("sxx"),
        sum(y.cast("decimal(12,2)") * y.cast("decimal(12,2)")).cast("double").as("syy"),
        sum(x.cast("decimal(12,2)") * y.cast("decimal(12,2)")).cast("double").as("sxy"))
    sums
      .withColumn("cov_samp",
        (col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1))
      .withColumn("corr_xy",
        (col("sxy") - col("sx") * col("sy") / col("n")) /
          sqrt((col("sxx") - col("sx") * col("sx") / col("n")) *
               (col("syy") - col("sy") * col("sy") / col("n"))))
      .select("l_returnflag", "n", "cov_samp", "corr_xy")
      .orderBy("l_returnflag")
  }

  /** Weighted average (quantity-weighted unit price per flag): both the
    * weighted sum and the weight mass accumulate as exact decimals; the
    * average is ONE IEEE division at the end — the only correct shape for a
    * reproducible weighted mean at any parallelism. */
  def weightedAvg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        dsum10(col("l_extendedprice") * col("l_quantity")).as("wsum"),
        dsum2(col("l_quantity")).as("wmass"),
        count(lit(1)).as("n"))
      .withColumn("wavg_price", col("wsum") / col("wmass"))
      .select("l_returnflag", "wsum", "wmass", "wavg_price", "n")
      .orderBy("l_returnflag")

  /** APPROXIMATE percentiles (GK sketch, mergeable partial state) — the
    * serving path for quantiles at warehouse scale, where the exact
    * sort-based `percentiles` pays a full shuffle of the value column.
    * Engine-specific estimates → rows-only driver check (the
    * q_agg_approx_distinct contract); ApproxPercentileSpec pins each
    * estimate against the exact percentile within the sketch's accuracy
    * bound. */
  def approxPercentiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        expr("approx_percentile(o_totalprice, array(0.5D, 0.9D), 1000)").as("p"),
        count(lit(1)).as("n"))
      .select(col("o_orderstatus"), col("p")(0).as("p50_approx"),
        col("p")(1).as("p90_approx"), col("n"))
      .orderBy("o_orderstatus")

  /** Accuracy gate for `approxPercentiles` (the approxDistinctBound
    * pattern): the GK sketch guarantees rank error ≤ 1/accuracy = 0.1%, so
    * each estimate must lie inside a generous exact RANK window — p50
    * within [p45, p55], p90 within [p85, p95] — computed via the scalable
    * value-histogram percentiles (ExactPercentile, no per-group value
    * buffer). Oracle emits the groups with literal TRUE. */
  def approxPercentilesBound(s: SparkSession, dir: String): DataFrame = {
    val ex = ExactPercentile.bounds(t(s, dir, "orders"), col("o_totalprice"),
      Seq("e45" -> 0.45, "e55" -> 0.55, "e85" -> 0.85, "e95" -> 0.95),
      Seq("o_orderstatus"))
    approxPercentiles(s, dir).join(ex, "o_orderstatus")
      .select(col("o_orderstatus"),
        (col("p50_approx") >= col("e45") && col("p50_approx") <= col("e55"))
          .as("p50_within_rank_tol"),
        (col("p90_approx") >= col("e85") && col("p90_approx") <= col("e95"))
          .as("p90_within_rank_tol"))
      .orderBy("o_orderstatus")
  }

  /** Forecast-revenue slice (TPC-H Q6 shape): one filtered scan, one global
    * sum — the simplest report a warehouse serves and the purest pushdown
    * test: all four predicates must reach the parquet scan (PlanSpec
    * asserts PushedFilters), and the aggregate is map-side partial into a
    * single exact row. */
  def revenueSlice(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1997-01-01") &&
        col("l_discount") >= lit(0.04) && col("l_discount") <= lit(0.06) &&
        col("l_quantity") < lit(24.0))
      .agg(dsum10(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n"))

  /** Incremental aggregate maintenance: the materialized-view refresh a
    * warehouse runs on every load — merge the standing aggregate with the
    * new batch's partial instead of rescanning history. Both partials carry
    * re-aggregable state (COUNT and a DECIMAL sum — both associative), so
    * merge is sum-of-sums; the registered query computes base ⊎ delta and
    * the oracle recomputes from scratch, proving merge ≡ recompute exactly.
    * At 100 TB the base partial is table-sized-independent (one row per
    * group) while a recompute rescans everything — this identity is why the
    * incremental path is safe to serve from. */
  def incrementalMerge(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    def partial(df: DataFrame): DataFrame =
      df.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("total_dec"))
    val base  = partial(orders.filter(col("o_orderdate") <  lit("1999-01-01")))
    val delta = partial(orders.filter(col("o_orderdate") >= lit("1999-01-01")))
    base.unionByName(delta)
      .groupBy("o_orderpriority")
      .agg(sum(col("n")).as("n"), sum(col("total_dec")).cast("double").as("total"))
      .orderBy("o_orderpriority")
  }

  /** ARGMAX per group (max_by / arg_max surface): the order that carries
    * each priority class's highest total. max_by's tie rule is
    * engine-arbitrary, so the ordering value ENCODES the tie-break
    * exactly: integer cents (DECIMAL, exact) scaled past the key domain
    * plus the orderkey — one comparable BIGINT-ish decimal, identical in
    * both engines, no window and no raw-row shuffle (partial-aggregatable
    * like any max). */
  def argmax(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("ord",
        (col("o_totalprice").cast("decimal(18,2)") * lit(100).cast("decimal(18,0)"))
          .cast("decimal(38,0)") * lit(10000000000L) + col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        max_by(col("o_orderkey"), col("ord")).as("top_orderkey"),
        max(col("o_totalprice")).as("top_price"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")

  /** Exact top-k values per group through the custom `top_vals`
    * TypedImperativeAggregate (graft.functions.TopVals): a k-bounded
    * min-heap per partial, merged associatively — the shuffle carries
    * groups × k doubles, never the raw rows, unlike the window-rank form
    * (full row shuffle) or collect_list (unbounded executor state on a hot
    * group); TopKSpec pins it to the declarative
    * slice(sort_array(collect_list…)). Values surface scale-padded through
    * DECIMAL(18,2) so the joined string renders identically in both
    * engines. */
  def topVals(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(expr("top_vals(o_totalprice, 5)").as("arr"), count(lit(1)).as("n"))
      .select(col("o_orderpriority"),
        concat_ws("|", expr(
          "transform(arr, x -> CAST(CAST(x AS DECIMAL(18,2)) AS STRING))")).as("top5"),
        col("n"))
      .orderBy("o_orderpriority")

  /** Conditional/boolean aggregate family (count_if / bool_or / bool_and /
    * conditional max) — the last scalar-aggregate surface gap. All four
    * ride ONE conditional aggregation pass (adding a flag adds no scan);
    * the conditional max takes raw values (no arithmetic → no float
    * hazard). */
  def flagAggs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(
        count_if(col("o_totalprice") > lit(100000.0)).as("n_big"),
        bool_or(col("o_orderstatus") === "F").as("any_finished"),
        bool_and(col("o_totalprice") > lit(0.0)).as("all_positive"),
        max(when(col("o_orderstatus") === "F", col("o_totalprice")))
          .as("max_finished_price"))
      .orderBy("o_orderpriority")
}
