package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Event-time operators over `events` (SURVEY.md §2.2 Group C): gap-based
  * sessionization and tumbling-window aggregation. Batch forms here; the
  * streaming twins (session_window / window + watermark) live in
  * graft.streaming.StreamTwins with identical grouping semantics.
  */
object Sessions {

  /** Session gap: 30 minutes, in nanoseconds (events.ts is Long ns). */
  val GapNs: Long = 1800L * 1000 * 1000 * 1000

  /** Gap-based sessionization: a new session starts when the same user is
    * idle > 30 min. lag + running count of session starts — one shuffle by
    * user_id, linear per partition. */
  def sessionize(s: SparkSession, dir: String): DataFrame = {
    val byTs = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val run = byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byTs))
      .withColumn("starts",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > GapNs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("starts")).over(run))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        expr("min(ts) div 1000000").as("start_ms"),
        expr("max(ts) div 1000000").as("end_ms"),
        dsum2(col("value")).as("total_value"))
      .orderBy("user_id", "session_id")
  }

  /** Ordered conversion funnel signup → view → click → purchase: a user
    * reaches stage k only via an event AT OR AFTER their stage-(k-1) time
    * (first-touch semantics — the classic product-analytics operator, which
    * a naive per-type min() gets wrong when stages happen out of order).
    * Four filtered aggregates chained by equi-joins, ALL keyed on user_id:
    * every exchange hashes the same key, so the chain is one co-partitioned
    * shuffle family, linear at any scale. Times surface as epoch ms (the
    * ns fixture values are whole µs, so div is exact in both engines). */
  def funnel(s: SparkSession, dir: String): DataFrame =
    funnelOf(t(s, dir, "events").select(
      col("user_id"), col("event_type"), nsToMs("ts").as("ms")))

  /** The funnel over a caller-supplied (user_id, event_type, ms) frame —
    * split out so the streaming twin's spec can compare against the batch
    * form on identical synthetic rows (the attributionOf pattern). */
  private[graft] def funnelOf(e: DataFrame): DataFrame = {
    def stage(typ: String, prev: DataFrame, prevT: String, out: String) =
      e.filter(col("event_type") === typ).join(prev, "user_id")
        .filter(col("ms") >= col(prevT))
        .groupBy("user_id").agg(min("ms").as(out))
    val signup = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ms").as("t_signup"))
    val view = stage("view", signup, "t_signup", "t_view")
    val click = stage("click", view, "t_view", "t_click")
    val buy = stage("purchase", click, "t_click", "t_purchase")
    signup
      .join(view.select("user_id", "t_view"), Seq("user_id"), "left")
      .join(click.select("user_id", "t_click"), Seq("user_id"), "left")
      .join(buy.select("user_id", "t_purchase"), Seq("user_id"), "left")
      .withColumn("stage_reached",
        when(col("t_purchase").isNotNull, 4L)
          .when(col("t_click").isNotNull, 3L)
          .when(col("t_view").isNotNull, 2L)
          .otherwise(1L))
      .orderBy("user_id")
  }

  /** Top 3-step behavioral paths: per user, events in time order; every run
    * of 3 consecutive events is a path "a>b>c", counted across all users —
    * the sequence-mining generalization of `funnel` (no fixed stages). One
    * window on (user_id, time, event_id) — the same user-keyed shuffle
    * family as sessionize/funnel — then a path-keyed count whose key space
    * is |event types|³, tiny at any corpus size; map-side partial
    * aggregation means the shuffle carries counts, not events. The
    * (ms, event_id) ordering key makes same-millisecond events
    * deterministic in both engines. */
  def eventPaths(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("event_type"), nsToMs("ts").as("ms"),
        col("event_id"))
      .withColumn("e2", lead("event_type", 1).over(w))
      .withColumn("e3", lead("event_type", 2).over(w))
      .filter(col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
  }

  /** Cohort retention matrix — the other classic product-analytics operator:
    * users grouped by first-activity day (the cohort), counted on each later
    * active day as an offset from it. (cohort_day, day_offset, n_users) is
    * the retention curve per cohort. Distinct-(user, day) first so a chatty
    * user counts once per day; every stage shuffles on user_id or the
    * (cohort, offset) pair — no window over the whole timeline, linear at
    * any scale. Days are integer epoch-day arithmetic in both engines. */
  def retention(s: SparkSession, dir: String): DataFrame = {
    val days = t(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000000 div 86400000").as("day"))
      .distinct()
    val first = days.groupBy("user_id").agg(min("day").as("cohort_day"))
    days.join(first, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      // (user, day) is distinct upstream, so the count is a user count
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Tumbling 1-hour window aggregation by event_type, via the native
    * window() bucketing (streaming-compatible grouping). */
  def tumbling(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("tsc", nsToTs("ts"))
      .groupBy(window(col("tsc"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum2(col("value")).as("total"))
      .select(
        unix_millis(col("window.start")).as("hour_ms"),
        col("event_type"), col("n"), col("total"))
      .orderBy("hour_ms", "event_type")

  /** Dense hourly series per event_type with explicit ZERO rows for silent
    * hours — the gap-fill every monitoring/reporting consumer needs before
    * charting or anomaly scoring (a groupBy alone silently drops empty
    * buckets). Scale shape: the grid is sequence()-exploded from per-type
    * min/max bounds, so its size is types × hours — the AGGREGATE domain,
    * corpus-independent; the left join back is keyed on that same domain.
    * All-integer arithmetic end to end. */
  def gapfill(s: SparkSession, dir: String): DataFrame = {
    val h = t(s, dir, "events")
      .select(col("event_type"),
        (expr("ts div 1000000 div 3600000") * 3600000L).as("hour_ms"))
      .groupBy("event_type", "hour_ms").agg(count(lit(1)).as("n"))
    val grid = h.groupBy("event_type")
      .agg(min("hour_ms").as("mn"), max("hour_ms").as("mx"))
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"), lit(3600000L))).as("hour_ms"))
    grid.join(h, Seq("event_type", "hour_ms"), "left")
      .select(col("event_type"), col("hour_ms"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy("event_type", "hour_ms")
  }

  /** Trailing 7-day ACTIVE USERS (WAU) per observed day — the windowed
    * DISTINCT shape (DAU/WAU/MAU) that a naive range-join self-join makes
    * quadratic. Scalable form: collapse to the distinct (user, day) domain
    * first, then a CONSTANT 7-way fan-out maps each active day onto the
    * days whose trailing window it enters, and one distinct aggregation
    * counts. Work is 7·|user-days| — linear in the activity domain, not
    * events² — and the only exchanges are the two distinct shuffles. */
  def activeUsers(s: SparkSession, dir: String): DataFrame = {
    val du = t(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000000 div 86400000").as("day"))
      .distinct()
    val mx = du.agg(max("day").as("mxd"))
    du.withColumn("k", explode(sequence(lit(0L), lit(6L))))
      .select(col("user_id"), (col("day") + col("k")).as("day"))
      .join(broadcast(mx), col("day") <= col("mxd"))
      .groupBy("day")
      .agg(countDistinct("user_id").as("wau"))
      .select((col("day") * 86400000L).as("day_ms"), col("wau"))
      .orderBy("day_ms")
  }

  /** APPROXIMATE trailing 7-day active users — the serving path of
    * `activeUsers` at warehouse scale: one HLL sketch per day (a few
    * hundred bytes), seven sketch UNIONS per trailing window. The exact
    * form fans out 7·|user-days| rows; this fans out 7 SKETCHES per day —
    * the windowed-distinct instance of the mergeable-sketch
    * pre-aggregation (`q_agg_sketch_merge`): raw user ids are scanned
    * once, every window is answered from partials. Estimate only
    * (engine-specific DataSketches binary → rows-only driver check);
    * SketchWauSpec pins it to the exact WAU within HLL error. */
  def activeUsersSketch(s: SparkSession, dir: String): DataFrame = {
    val daily = t(s, dir, "events")
      .select(col("user_id"), expr("ts div 1000000 div 86400000").as("day"))
      .groupBy("day")
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val mx = daily.agg(max("day").as("mxd"))
    daily.withColumn("k", explode(sequence(lit(0L), lit(6L))))
      .select((col("day") + col("k")).as("day"), col("sk"))
      .join(broadcast(mx), col("day") <= col("mxd"))
      .groupBy("day")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).cast("long").as("wau_est"))
      .select((col("day") * 86400000L).as("day_ms"), col("wau_est"))
      .orderBy("day_ms")
  }

  /** Accuracy gate for `activeUsersSketch` (the q_agg_approx_distinct_bound
    * pattern): per trailing window, the HLL union estimate vs the exact WAU
    * within 5% (lgK=12 → rsd ≈1.6%; measured fixture error <1%). The oracle
    * emits the same day grid with literal TRUE, so a drifting sketch fails
    * the driver's hash gate mechanically. */
  def activeUsersSketchBound(s: SparkSession, dir: String): DataFrame =
    activeUsersSketch(s, dir).join(activeUsers(s, dir), "day_ms")
      .select(col("day_ms"),
        (abs(col("wau_est") - col("wau")).cast("double") <=
          col("wau").cast("double") * 0.05).as("within_tol"))
      .orderBy("day_ms")

  /** Hourly VOLUME ANOMALIES per event_type: z-score of each hour's count
    * against the type's own distribution, over the GAP-FILLED series
    * (silent hours are real zero observations — scoring only non-empty
    * hours would bias μ and σ upward and miss outages entirely). Numeric
    * discipline: z = (x·cnt − Σx)/√(cnt·Σx² − (Σx)²) keeps everything in
    * exact BIGINTs until one cast each, one sqrt, one division — the
    * minimal float tail, bit-identical on any engine. Scale shape: stats
    * are a per-type rollup of the aggregate-domain grid (types × hours),
    * joined back broadcast-small; nothing corpus-sized moves. */
  def anomalyZscore(s: SparkSession, dir: String): DataFrame = {
    val g = gapfill(s, dir)
    val st = g.groupBy("event_type").agg(
      sum("n").as("sx"),
      sum(col("n") * col("n")).as("sxx"),
      count(lit(1)).as("cnt"))
    // the variance discriminant stages into DECIMAL(38,0): in LONG, sx²
    // overflows once a type's total count passes ~3·10⁹ events (the
    // ScaleBench overflow class) — exact and bit-identical at any scale
    // a 38-digit integer can hold
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    g.join(broadcast(st), "event_type")
      .withColumn("z",
        (col("n") * col("cnt") - col("sx")).cast("double") /
          sqrt((col("cnt").cast(d38) * col("sxx").cast(d38) -
            col("sx").cast(d38) * col("sx").cast(d38))
            .cast("string").cast("double")))
      .select(col("event_type"), col("hour_ms"), col("n"), col("z"),
        (abs(col("z")) > lit(3.0)).as("is_anomaly"))
      .orderBy("event_type", "hour_ms")
  }

  /** Sliding 1-hour window with 30-minute slide, by event_type — the
    * overlapping-window twin of `tumbling` (each event lands in exactly
    * size/slide = 2 windows). Uses the native window() bucketing, so the
    * identical expression runs under Structured Streaming with a
    * watermark; the duplication factor is a constant fan-out in the map
    * stage, and the only exchange is the (window, event_type) aggregate
    * — same shuffle count as tumbling, 2× its rows. */
  def sliding(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .withColumn("tsc", nsToTs("ts"))
      .groupBy(window(col("tsc"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum2(col("value")).as("total"))
      .select(
        unix_millis(col("window.start")).as("start_ms"),
        col("event_type"), col("n"), col("total"))
      .orderBy("start_ms", "event_type")

  /** Last-touch attribution: each purchase is credited to the user's most
    * recent PRECEDING non-purchase event (strictly before — frame ends at
    * 1 PRECEDING, so simultaneous events never self-attribute). One ordered
    * window per user — the same single user_id exchange as sessionize, with
    * an ignoreNulls last() instead of a per-purchase range join that would
    * be O(purchases × events) per user. Purchases before any touch surface
    * with NULL attribution (they are the unattributable cohort, a real
    * answer — not dropped). */
  def attribution(s: SparkSession, dir: String): DataFrame =
    attributionOf(t(s, dir, "events")).orderBy("event_id")

  /** Core of `attribution` over any events-shaped frame (event_id, user_id,
    * ts Long-ns, event_type, value) — shared with the streaming twin
    * (StreamTwins.attribution), whose spec pins drained-stream == this. */
  def attributionOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") =!= "purchase", col("event_type"))
    val touchTs = when(col("event_type") =!= "purchase", col("ts"))
    events
      .withColumn("attr_type", last(touch, ignoreNulls = true).over(w))
      .withColumn("attr_ts", last(touchTs, ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), nsToMs("ts").as("ts_ms"),
        col("attr_type"), expr("attr_ts div 1000000").as("attr_ms"),
        col("value"))
  }

  /** RFM segmentation: per purchasing user, Recency (days since last
    * purchase, vs the corpus's last observed purchase day), Frequency
    * (purchase count) and Monetary (exact decimal spend), each cut into
    * quartile-boundary segments (1 = lowest value … 3 = top quartile).
    * The scalable form: segment BOUNDARIES are one exact-percentile row
    * over the per-user aggregate, broadcast back — a global ntile() window
    * over billions of users would single-partition the user domain; three
    * threshold comparisons don't. 0.25/0.75 are binary-exact literals, so
    * both engines interpolate identical doubles (the q_agg_percentile
    * discipline); day arithmetic is integer ns→day division. */
  def rfm(s: SparkSession, dir: String): DataFrame = {
    val purchases = t(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("ts div 86400000000000").as("day"),
        col("value"))
    val base = purchases.groupBy("user_id")
      .agg(max(col("day")).as("last_day"),
        count(lit(1)).as("frequency"),
        dsum2(col("value")).as("monetary"))
    val maxDay = base.agg(max(col("last_day")).as("max_day"))
    val withR = base.crossJoin(broadcast(maxDay))
      .withColumn("recency_days", col("max_day") - col("last_day"))
    // Three domain-bounded histogram passes (ExactPercentile), not six
    // percentile() calls sharing one all-values buffer: recency and
    // frequency are small-integer domains, spend is cent-exact — each
    // boundary set shuffles one row per distinct value. The user-frame
    // subtree is identical in all three, so runtime stage reuse computes
    // it once.
    import graft.ops.ExactPercentile
    val th = ExactPercentile
      .bounds(withR, col("recency_days"), Seq("r1" -> 0.25, "r2" -> 0.75))
      .select("r1", "r2")
      .crossJoin(ExactPercentile
        .bounds(withR, col("frequency"), Seq("f1" -> 0.25, "f2" -> 0.75))
        .select("f1", "f2"))
      .crossJoin(ExactPercentile
        .bounds(withR, col("monetary"), Seq("m1" -> 0.25, "m2" -> 0.75))
        .select("m1", "m2"))
    def seg(v: String, lo: String, hi: String) =
      when(col(v) <= col(lo), 1L).when(col(v) <= col(hi), 2L).otherwise(3L)
    withR.crossJoin(broadcast(th))
      .select(col("user_id"), col("recency_days"), col("frequency"),
        col("monetary"),
        seg("recency_days", "r1", "r2").as("r_seg"),
        seg("frequency", "f1", "f2").as("f_seg"),
        seg("monetary", "m1", "m2").as("m_seg"))
      .orderBy("user_id")
  }

  /** Market-basket co-occurrence: for every unordered pair of event types,
    * how many users did both. The naive form is a per-user self-join —
    * at 100 TB that shuffles the (user, type) set TWICE and its output is
    * quadratic in per-user types before the final count. This form does one
    * groupBy(user) with a collect_set bounded by the event-type DOMAIN (a
    * category vocabulary, not the corpus), then explodes the sorted set's
    * C(k,2) pairs as a pure map stage — one user exchange, one tiny pair
    * exchange, pair output bounded by users × C(|domain|,2).
    * CooccurrenceSpec proves this ≡ the relational self-join form. */
  def cooccurrence(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("user_id")
      .agg(sort_array(collect_set(col("event_type"))).as("ts"))
      .select(explode(expr(
        """flatten(transform(ts, (x, i) ->
             transform(slice(ts, i + 2, size(ts)), y ->
               struct(x AS type_a, y AS type_b))))""")).as("p"))
      .select(col("p.type_a"), col("p.type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("type_a", "type_b")

  /** First-order Markov transition matrix over the event stream: for each
    * (src → dst) consecutive-event pair, its count and milli-probability
    * among all transitions leaving src. One user-keyed window (the same
    * shuffle family as sessionize/eventPaths) produces the pairs; the
    * matrix itself is domain-bounded (|event types|² rows), so the share
    * denominator is a window over THAT aggregate — tiny at any corpus
    * size. Probability in exact integer millis (1000·n div total), so no
    * float division can diverge between engines. */
  def transitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    val pairs = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), nsToMs("ts").as("ms"),
        col("event_id"))
      .withColumn("dst", lead("event_type", 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
    pairs
      // the frame here is the |types|² transition matrix, not raw events
      .withColumn("total", sum("n").over(Window.partitionBy("src")))
      .select(col("src"), col("dst"), col("n"),
        expr("n * 1000L div total").as("p_milli"))
      .orderBy("src", "dst")
  }
}
