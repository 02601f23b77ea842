package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

/** Structured-Streaming twins of the batch operators (SURVEY.md §2.2
  * "Streaming note"): the reference's sensor-gated batch ingest
  * (/root/reference/coininsights.py:33-73) maps to `Trigger.AvailableNow`
  * (process everything present, then stop — exactly the sensor's contract),
  * and the Group C time aggregations get window()/session_window() twins with
  * watermarks for late data. The groupings are identical expressions to the
  * batch forms, so batch and streaming results agree on closed windows.
  */
object StreamTwins {

  /** Streaming ingest of raw CoinGecko dumps: file source + explicit schema,
    * AvailableNow ≡ "sense, drain, finish". Caller starts the returned writer
    * (checkpointed, exactly-once into the sink dir). */
  def ingest(spark: SparkSession, rawDir: String, sinkDir: String,
             checkpoint: String): DataStreamWriter[Row] =
    spark.readStream
      .schema(graft.etl.RawSchema.schema)
      .option("multiLine", true)
      .json(rawDir)
      .writeStream
      .format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  /** The reference DAG as a PERMANENT incremental service (the scale answer
    * to its per-run full-prefix reprocess): a file-source readStream over
    * raw_data; each micro-batch transforms ONLY the newly-arrived raw files
    * and SCD1-merges both tables through the Warehouse pointer commit. The
    * checkpoint's file log is the streaming-native form of the batch
    * Manifest ledger — exactly-once file progress across restarts.
    * AvailableNow drains-and-stops (sensor semantics); drop the trigger for
    * a true continuous service. */
  def incrementalPipeline(spark: SparkSession, rawDir: String,
                          dimTarget: String, factTarget: String,
                          checkpoint: String): DataStreamWriter[Row] =
    spark.readStream
      .schema(graft.etl.RawSchema.schema)
      .option("multiLine", true)
      .json(rawDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val raw = batch.cache()
          try {
            graft.etl.Warehouse.upsertPublish(spark, dimTarget,
              graft.etl.Transform.coinInfo(raw), "id", Seq("name"))
            graft.etl.Warehouse.upsertPublish(spark, factTarget,
              graft.etl.Transform.coinMetrics(raw), "id", Seq("last_updated"))
          } finally raw.unpersist()
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  /** Streaming dedup SERVICE: every micro-batch of incoming documents is
    * probed against the PUBLISHED corpus band index (the stream-static form
    * of `Dedup.incrementalDedup` — the index is re-resolved from the
    * warehouse pointer per batch, so a re-published index is picked up
    * without restarting the query), and the per-doc verdicts SCD1-merge
    * into a warehouse target keyed on doc_id — which makes an at-least-once
    * replayed micro-batch a state no-op, the same idempotence contract as
    * `incrementalPipeline`. Per-batch work is linear in the batch (band
    * probe into a |distinct corpus sets|-sized index); `maxFilesPerTrigger`
    * models per-arrival batches under AvailableNow's drain-and-stop. */
  def streamingDedup(spark: SparkSession, docsDir: String, indexTarget: String,
                     verdictTarget: String, checkpoint: String): DataStreamWriter[Row] = {
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", org.apache.spark.sql.types.LongType)
      .add("text", org.apache.spark.sql.types.StringType)
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(docsDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.etl.Warehouse.upsertPublish(spark, verdictTarget,
            graft.llm.Dedup.dedupBatchAgainstIndex(spark, batch, indexTarget),
            "doc_id", Seq("doc_id"))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
  }

  /** Tumbling 1-hour twin of Sessions.tumbling: same window() grouping plus a
    * 2-hour watermark (late events beyond it are dropped, state is bounded —
    * the knob the batch job doesn't need). `events` must carry TimestampType
    * `tsc`, `event_type`, `value`. */
  def tumbling(events: DataFrame): DataFrame =
    events
      .withWatermark("tsc", "2 hours")
      .groupBy(window(col("tsc"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select(unix_millis(col("window.start")).as("hour_ms"),
        col("event_type"), col("n"), col("total"))

  /** Sliding 1-hour / 30-minute twin of Sessions.sliding: the identical
    * window() expression under a watermark — each event updates exactly
    * size/slide = 2 window states, and state for a window is dropped once
    * the watermark passes its end. Same schema as the batch form. */
  def sliding(events: DataFrame): DataFrame =
    events
      .withWatermark("tsc", "2 hours")
      .groupBy(window(col("tsc"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select(unix_millis(col("window.start")).as("start_ms"),
        col("event_type"), col("n"), col("total"))

  /** Streaming ANOMALY ALERTS: the serve face of Sessions.anomalyZscore —
    * each closed 1-hour window's count is z-scored against PUBLISHED
    * per-type statistics (sx, sxx, cnt from the batch gap-filled series:
    * the train-once/serve-many split again — the stream never recomputes
    * history, it reads the statistic). The static stats join runs BEFORE
    * the windowed aggregation (a stateless broadcast enrich, so the plan
    * stays streaming-legal and the stats ride the group key as constants);
    * z is the same exact-BIGINT-until-one-division expression as batch.
    * `events` must carry TimestampType `tsc` and `event_type`; `stats`
    * is (event_type, sx, sxx, cnt). */
  def anomalies(events: DataFrame, stats: DataFrame): DataFrame =
    events
      .withWatermark("tsc", "2 hours")
      .join(broadcast(stats), Seq("event_type"))
      .groupBy(window(col("tsc"), "1 hour"), col("event_type"),
        col("sx"), col("sxx"), col("cnt"))
      .agg(count(lit(1)).as("n"))
      .withColumn("z",
        (col("n") * col("cnt") - col("sx")).cast("double") /
          sqrt((col("cnt") * col("sxx") - col("sx") * col("sx")).cast("double")))
      .select(unix_millis(col("window.start")).as("hour_ms"),
        col("event_type"), col("n"), col("z"),
        (abs(col("z")) > lit(3.0)).as("is_anomaly"))

  /** Streaming exact dedup: first occurrence of each event_id wins; the
    * watermark bounds the dedup state (ids older than 2 h are evicted —
    * the streaming face of Dedup.exact, where batch needs no eviction). */
  def dedupe(events: DataFrame): DataFrame =
    events
      .withWatermark("tsc", "2 hours")
      .dropDuplicates("event_id")

  /** Per-user running stats with custom state (KeyValueGroupedDataset.
    * flatMapGroupsWithState): emits each event with the user's running mean
    * *before* it and an anomaly flag (value > 3× mean after ≥ 3 prior
    * events). State is one (count, sum) per user — constant per key, the
    * shape built-in windowed aggs can't express because the output is
    * per-event, not per-window. */
  case class UserEvent(user_id: Long, tsc: java.sql.Timestamp, value: Double)
  case class UserState(n: Long, sum: Double)
  case class Scored(user_id: Long, value: Double, mean_before: Double, anomaly: Boolean)

  def runningAnomalies(events: org.apache.spark.sql.Dataset[UserEvent]):
      org.apache.spark.sql.Dataset[Scored] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[UserEvent], state: GroupState[UserState]) =>
          // event-time order within the micro-batch (iterator order is
          // unspecified); cross-batch order comes from arrival
          val sorted = it.toSeq.sortBy(_.tsc.getTime)
          var st = state.getOption.getOrElse(UserState(0L, 0.0))
          val out = sorted.map { e =>
            val mean = if (st.n == 0) 0.0 else st.sum / st.n
            val scored = Scored(e.user_id, e.value, mean, st.n >= 3 && e.value > 3 * mean)
            st = UserState(st.n + 1, st.sum + e.value)
            scored
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming twin of the hourly GAP-FILL (llm.Sessions.gapfill): per
    * event_type, one row per hour — zero for silent hours — emitted as the
    * watermark CLOSES each hour. A pure windowed aggregate cannot produce
    * the zero rows (no input rows → no group), so the filler is a keyed
    * flatMapGroupsWithState: state carries the next hour to emit plus the
    * pending counts of still-open hours — BOUNDED by watermark-delay/hour
    * + 1 entries per type, never corpus-sized — and each invocation (data
    * or event-time timeout) drains every hour whose end the watermark has
    * passed, in order. The timeout is what keeps a SILENT type emitting
    * zeros as the watermark advances — the outage-visibility property the
    * batch form only gets retrospectively (it truncates at the type's max
    * hour; the stream keeps filling until the type is dropped, which is
    * the correct live semantics). Drained ≡ batch on the batch's
    * [min, max] hour domain, extras beyond it all-zero (StreamTwinsSpec).
    * Counts are exact integers; emission order per type is by hour. */
  case class GapEvent(event_type: String, tsc: java.sql.Timestamp)
  case class GapState(nextHour: Long, pending: Map[Long, Long])
  case class GapRow(event_type: String, hour_ms: Long, n: Long)

  def gapfill(events: org.apache.spark.sql.Dataset[GapEvent]):
      org.apache.spark.sql.Dataset[GapRow] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val Hour = 3600000L
    events.withWatermark("tsc", "2 hours")
      .groupByKey(_.event_type)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (typ: String, it: Iterator[GapEvent], state: GroupState[GapState]) =>
          val wm = state.getCurrentWatermarkMs()
          val st = state.getOption.getOrElse(GapState(-1L, Map.empty))
          var pending = st.pending
          it.foreach { e =>
            val h = (e.tsc.getTime / Hour) * Hour
            // h < nextHour would be a beyond-watermark late row — the
            // watermark filter drops those before the operator; guard so a
            // straggler can never resurrect an already-emitted hour
            if (st.nextHour < 0L || h >= st.nextHour)
              pending = pending.updated(h, pending.getOrElse(h, 0L) + 1L)
          }
          var next =
            if (st.nextHour >= 0L) st.nextHour
            else if (pending.nonEmpty) pending.keys.min
            else -1L
          val out = Seq.newBuilder[GapRow]
          while (next >= 0L && next + Hour <= wm) {
            out += GapRow(typ, next, pending.getOrElse(next, 0L))
            pending -= next
            next += Hour
          }
          state.update(GapState(next, pending))
          // fire again when the next hour closes (loop exit guarantees
          // next + Hour > wm, the EventTimeTimeout precondition)
          if (next >= 0L) state.setTimeoutTimestamp(next + Hour)
          out.result().iterator
      }
  }

  /** Streaming twin of last-touch attribution (llm.Sessions.attributionOf):
    * each purchase is credited to the user's most recent PRECEDING
    * non-purchase event. State is ONE (type, ts_ms, event_id) per user —
    * the last touch seen so far — carried across micro-batches with
    * flatMapGroupsWithState; purchases read it but never write it, and
    * purchases before any touch emit with None attribution (the
    * unattributable cohort, same contract as batch). The batch form pays a
    * per-user ordered window over ALL events; the stream pays O(1) state
    * per user and emits on arrival — the serving shape for attribution at
    * event-firehose scale. Within a micro-batch events are ordered by
    * (ts, event_id) — the batch window's exact tie-break — so drained
    * stream == batch row-for-row when arrival respects event time
    * (StreamTwinsSpec pins it, including a tie and a pre-touch purchase). */
  case class AttrEvent(event_id: Long, user_id: Long, tsc: java.sql.Timestamp,
                       event_type: String, value: Double)
  case class LastTouch(attr_type: String, attr_ms: Long)
  case class Attributed(event_id: Long, user_id: Long, ts_ms: Long,
                        attr_type: Option[String], attr_ms: Option[Long],
                        value: Double)

  def attribution(events: org.apache.spark.sql.Dataset[AttrEvent]):
      org.apache.spark.sql.Dataset[Attributed] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, it: Iterator[AttrEvent], state: GroupState[LastTouch]) =>
          val sorted = it.toSeq.sortBy(e => (e.tsc.getTime, e.event_id))
          var st = state.getOption
          val out = Seq.newBuilder[Attributed]
          sorted.foreach { e =>
            if (e.event_type == "purchase")
              out += Attributed(e.event_id, e.user_id, e.tsc.getTime,
                st.map(_.attr_type), st.map(_.attr_ms), e.value)
            else st = Some(LastTouch(e.event_type, e.tsc.getTime))
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming twin of the conversion funnel (llm.Sessions.funnel):
    * first-touch stage chain signup → view → click → purchase carried as
    * ONE 4-slot state per user. Each slot fills at most once, with the
    * batch form's exact qualification rule (stage time ≥ previous stage's
    * time — so a same-millisecond later stage counts); within a
    * micro-batch events process in (time, stage-rank) order, which is the
    * order the batch min()-chain resolves ties in. Emits one SNAPSHOT row
    * per user per micro-batch in which the funnel advanced — the serving
    * shape for live funnel dashboards — so the drained stream's LAST row
    * per user equals the batch row when arrival respects event time
    * (StreamTwinsSpec). Users who never sign up hold no state and emit
    * nothing, matching the batch form's signup-anchored output. */
  case class FunnelEvent(user_id: Long, tsc: java.sql.Timestamp,
                         event_type: String)
  case class FunnelState(tSignup: Option[Long], tView: Option[Long],
                         tClick: Option[Long], tPurchase: Option[Long])
  case class FunnelRow(user_id: Long, t_signup: Long, t_view: Option[Long],
                       t_click: Option[Long], t_purchase: Option[Long],
                       stage_reached: Long)

  def funnel(events: org.apache.spark.sql.Dataset[FunnelEvent]):
      org.apache.spark.sql.Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val stageRank = Map("signup" -> 0, "view" -> 1, "click" -> 2, "purchase" -> 3)
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          val sorted = it.toSeq
            .sortBy(e => (e.tsc.getTime, stageRank.getOrElse(e.event_type, 9)))
          var st = state.getOption.getOrElse(FunnelState(None, None, None, None))
          val before = st
          sorted.foreach { e =>
            val ms = e.tsc.getTime
            e.event_type match {
              case "signup" if st.tSignup.isEmpty =>
                st = st.copy(tSignup = Some(ms))
              case "view" if st.tSignup.exists(ms >= _) && st.tView.isEmpty =>
                st = st.copy(tView = Some(ms))
              case "click" if st.tView.exists(ms >= _) && st.tClick.isEmpty =>
                st = st.copy(tClick = Some(ms))
              case "purchase" if st.tClick.exists(ms >= _) && st.tPurchase.isEmpty =>
                st = st.copy(tPurchase = Some(ms))
              case _ => ()
            }
          }
          if (st == before) Iterator.empty
          else {
            state.update(st)
            val reached =
              if (st.tPurchase.nonEmpty) 4L
              else if (st.tClick.nonEmpty) 3L
              else if (st.tView.nonEmpty) 2L
              else 1L
            Iterator.single(FunnelRow(uid, st.tSignup.get, st.tView,
              st.tClick, st.tPurchase, reached))
          }
      }
  }

  /** Stream-static enrichment: the streaming face of the broadcast-dim join
    * (q_join_broadcast). The static side is re-resolved per micro-batch, so
    * a slowly-changing dimension published via Warehouse is picked up on its
    * next version without restarting the query. */
  def enrich(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), "user_id")

  /** Streaming semantic routing — the serve face of llm.Clustering: each
    * incoming embedding is assigned to its nearest published centroid
    * in-flight. Centroids are DIMENSION-TIER metadata (k·d doubles — the
    * same tier as broadcast centroids in the batch Lloyd rounds), inlined
    * as a literal so the whole assignment is ONE STATELESS map expression:
    * no streaming aggregation, no state store, watermark-free, and the
    * micro-batch never shuffles. The fold scans centroids in ascending
    * cluster order with a strict `<`, so ties keep the LOWER cluster id —
    * the batch argmin's exact tie-break (Clustering.assign). Distances go
    * through the same codegen'd vec_dist2 as batch. */
  def clusterAssign(embs: DataFrame,
                    centroids: Seq[(Long, Seq[Double])]): DataFrame = {
    val cents = typedlit(centroids.sortBy(_._1))
    val d2 = graft.llm.Clustering.dist2Sql _
    // distances materialize ONCE per centroid (transform), then the fold
    // only compares — the CASE form evaluated the d2 expression twice per
    // centroid (predicate + winning branch), doubling the per-event
    // distance compute in this stateless hot path (ADVICE r6)
    embs.withColumn("cents", cents)
      .withColumn("best", expr(
        s"""aggregate(
              transform(cents, c -> struct(c._1 AS cluster,
                                           ${d2("embedding", "c._2")} AS d2)),
              struct(CAST(-1 AS BIGINT) AS cluster,
                     CAST('Infinity' AS DOUBLE) AS d2),
              (acc, c) -> CASE WHEN c.d2 < acc.d2 THEN c ELSE acc END)"""))
      .select(col("vec_id"), col("best.cluster").as("cluster"),
        col("best.d2").as("dist2"))
  }

  /** Streaming IVF cell-probe — the serve face of q_sim_ivf_trained's
    * assignment stage, completing the published-artifact serve family
    * (clusterAssign routes to a centroid, binarySign packs sign bits, this
    * ranks the probe cells): each arriving query embedding is scored
    * against the PUBLISHED centroids by cosine and emits its `nProbe` best
    * cells as (q_id, crn, cent_id) in-flight. Centroids are k·d doubles of
    * dimension-tier metadata inlined as a literal, so the whole probe is
    * ONE STATELESS expression chain — score (transform), rank (array_sort
    * with the batch's exact comparator: cosine desc, lower cent_id on
    * ties), cut (slice), emit (posexplode) — no streaming aggregation, no
    * state store, watermark-free, and the micro-batch never shuffles. Every
    * arithmetic step is the batch plan's: the same vec_dot/HOF pair, the
    * same a/(b·c) division order, so drained output is bit-identical to
    * Similarity.probeCells on the same rows (StreamTwinsSpec). */
  def ivfProbe(embs: DataFrame, centroids: Seq[(Long, Seq[Double])],
               nProbe: Int = graft.llm.Similarity.NProbe): DataFrame = {
    val dot = graft.llm.Similarity.dotSql _
    embs.withColumn("cents", typedlit(centroids.sortBy(_._1)))
      .withColumn("nrm", expr(s"sqrt(${dot("embedding", "embedding")})"))
      .withColumn("scored", expr(
        s"""array_sort(
              transform(cents, c -> struct(c._1 AS cent_id,
                ${dot("embedding", "c._2")} / (nrm * sqrt(${dot("c._2", "c._2")})) AS c_cos)),
              (l, r) -> CASE WHEN l.c_cos > r.c_cos THEN -1
                             WHEN l.c_cos < r.c_cos THEN 1
                             WHEN l.cent_id < r.cent_id THEN -1
                             WHEN l.cent_id > r.cent_id THEN 1 ELSE 0 END)"""))
      .select(col("vec_id").as("q_id"),
        posexplode(expr(s"slice(scored, 1, $nProbe)")).as(Seq("p", "c")))
      .select(col("q_id"), (col("p") + 1).cast("int").as("crn"),
        col("c.cent_id").as("cent_id"))
  }

  /** Streaming INCREMENTAL IVF ADD — the streaming face of the index-
    * maintenance delta build (IvfMaintenance.assignSlice): each arriving
    * vector is assigned to its nearest FROZEN published centroid by cosine
    * and emitted as a complete delta-list row (vec_id, embedding, nrm,
    * cent_id), ready to append under its cell's partition directory. One
    * stateless expression chain (centroids ride as a k·d literal, the
    * clusterAssign serve pattern): no state store, no watermark, the
    * micro-batch never shuffles. The fold scans centroids in ascending
    * cent_id order with a strict `>`, so ties keep the LOWER cent id and
    * every division runs in the batch plan's dot/(nrm·c_nrm) order —
    * drained output is bit-identical to the batch add on the same rows
    * (StreamTwinsSpec). */
  def ivfAdd(embs: DataFrame, centroids: Seq[(Long, Seq[Double])]): DataFrame = {
    val dot = graft.llm.Similarity.dotSql _
    embs.withColumn("cents", typedlit(centroids.sortBy(_._1)))
      .withColumn("nrm", expr(s"sqrt(${dot("embedding", "embedding")})"))
      .withColumn("best", expr(
        s"""aggregate(
              transform(cents, c -> struct(c._1 AS cent_id,
                ${dot("embedding", "c._2")} / (nrm * sqrt(${dot("c._2", "c._2")})) AS c_cos)),
              struct(CAST(-1 AS BIGINT) AS cent_id,
                     CAST('-Infinity' AS DOUBLE) AS c_cos),
              (acc, c) -> CASE WHEN c.c_cos > acc.c_cos THEN c ELSE acc END)"""))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("best.cent_id").as("cent_id"))
  }

  /** Streaming COMPOSITE (IVF-PQ) ADD — the streaming face of the
    * encode-add (IvfPq's delta member build): each arriving vector is
    * (1) assigned to its nearest FROZEN coarse centroid by cosine (the
    * ivfAdd fold, additionally carrying the winning centroid vector),
    * (2) residual-snapped against that centroid (the IDENTICAL grid-snap
    * string as the batch path — IvfPq.residSql), and (3) encoded per
    * subspace against the FROZEN residual books by squared-distance argmin
    * (strict `<` over a code-ascending book scan keeps the LOWER code on
    * ties — Pq.assign's (d2, code) order). Both model artifacts ride as
    * literals (k·d + M·K·SubDim doubles — dimension-tier metadata, the
    * clusterAssign serve pattern): one stateless expression chain, no
    * state store, no watermark, the micro-batch never shuffles. Drained
    * codes are bit-identical to the batch delta member on the same rows
    * (StreamTwinsSpec). */
  def ivfpqAdd(embs: DataFrame, centroids: Seq[(Long, Seq[Double])],
               books: Seq[(Int, Long, Seq[Double])]): DataFrame = {
    val dot = graft.llm.Similarity.dotSql _
    val dd = graft.llm.Clustering.dist2Sql _
    val m = graft.llm.IvfPq.M
    val sub = graft.llm.IvfPq.SubDim
    embs.withColumn("cents", typedlit(centroids.sortBy(_._1)))
      .withColumn("bks", typedlit(books.sortBy(b => (b._1, b._2))))
      .withColumn("nrm", expr(s"sqrt(${dot("embedding", "embedding")})"))
      .withColumn("best", expr(
        s"""aggregate(
              transform(cents, c -> struct(c._1 AS cent_id,
                ${dot("embedding", "c._2")} / (nrm * sqrt(${dot("c._2", "c._2")})) AS c_cos,
                c._2 AS cv)),
              struct(CAST(-1 AS BIGINT) AS cent_id,
                     CAST('-Infinity' AS DOUBLE) AS c_cos,
                     CAST(NULL AS ARRAY<DOUBLE>) AS cv),
              (acc, c) -> CASE WHEN c.c_cos > acc.c_cos THEN c ELSE acc END)"""))
      .withColumn("r", expr(
        s"zip_with(embedding, best.cv, (x, c) -> ${graft.llm.IvfPq.residSql("x", "c")})"))
      .withColumn("codes", expr(
        s"""transform(sequence(0, ${m - 1}), mm ->
              aggregate(
                transform(filter(bks, b -> b._1 = mm),
                  b -> struct(b._2 AS code,
                    ${dd(s"slice(r, mm * $sub + 1, $sub)", "b._3")} AS d2)),
                struct(CAST(-1 AS BIGINT) AS code,
                       CAST('Infinity' AS DOUBLE) AS d2),
                (acc, c) -> CASE WHEN c.d2 < acc.d2 THEN c ELSE acc END).code)"""))
      .select(col("vec_id"), col("best.cent_id").as("cent_id"),
        posexplode(col("codes")).as(Seq("m", "code")))
      .select(col("vec_id"), col("m"), col("code"), col("cent_id"))
  }

  /** Streaming LEXICAL ADD — the streaming face of the BM25 tower's
    * posting build (LexMaintenance's delta member): each arriving document
    * emits its (token, tf, dl) posting rows from ONE per-row expression
    * chain — per-doc term frequency is an in-array count (distinct tokens
    * × filter-size, no groupBy: tf is a WITHIN-document statistic, so the
    * aggregation never leaves the row), dl is the token count. No model
    * state at all (the lexical family's trained state is empty — df and
    * corpus stats are serve-time sums of member tables, not per-row
    * inputs): no state store, no watermark, the micro-batch never
    * shuffles. Drained postings are bit-identical to the batch delta
    * member on the same rows (StreamTwinsSpec). */
  def lexAdd(docs: DataFrame): DataFrame =
    docs.withColumn("toks", graft.llm.TextHash.tokens(col("text")))
      .withColumn("dl", size(col("toks")).cast("long"))
      .select(col("doc_id"), col("dl"), explode(expr(
        """transform(array_distinct(toks), t -> struct(t AS token,
             CAST(size(filter(toks, x -> x = t)) AS BIGINT) AS tf))"""))
        .as("p"))
      .select(col("p.token").as("token"), col("doc_id"),
        col("p.tf").as("tf"), col("dl"))

  /** Stateless streaming twin of the binary encode path
    * (q_sim_binary_codes): sign each arriving embedding against the
    * PUBLISHED per-dimension means (the d-row statistic a batch job
    * computes and commits — the clusterAssign serve pattern: model
    * statistics ride as literals/broadcast, events never shuffle). Pure
    * map — no state store, no watermark; the packed halves are the exact
    * integer arithmetic of the batch path, so drained output is
    * bit-identical to Binary.codes on the same rows. */
  def binarySign(embs: DataFrame, mu: Seq[Double]): DataFrame =
    graft.llm.Binary.sign(embs.withColumn("mu", array(mu.map(lit(_)): _*)))

  /** Streaming INCREMENTAL PACK add — the streaming face of
    * Curation.packDeltaBins (the 6th maintenance family's add): arriving
    * train chunks lay out into fresh bins past each (source, pack_shard)'s
    * frozen high-water bin. Unlike the four per-row add twins (ivf/ivfpq/
    * binary/lex — pure maps given frozen model artifacts), the pack add
    * is RUNNING-SUM stateful: bin coordinates are physical offsets, so
    * each (source, pack_shard) carries one Long of state (tokens packed so
    * far in the delta region) across micro-batches — the
    * flatMapGroupsWithState shape, constant state per key, and the key
    * carries the batch layout's shard sub-key so one dominant source fans
    * out over PackShards state partitions exactly like the batch window
    * (VERDICT r12 item 1). The frozen high-water map rides as a literal
    * ((source × PackShards)-domain metadata — the clusterAssign
    * model-artifact pattern). Within a micro-batch rows lay out in
    * (doc_id, chunk_idx) order (the batch layout order; iterator order is
    * unspecified), which costs an O(group) in-memory buffer+sort of the
    * micro-batch's rows per key (ADVICE r12) — STATE stays one Long, but
    * a skewed source in one huge micro-batch pays its group's buffer, so
    * bound micro-batch size at the source (maxFilesPerTrigger /
    * maxOffsetsPerTrigger) if sources can burst. Cross-batch order comes
    * from arrival, so drained output is bit-identical to the batch
    * packDeltaBins on the same rows when batches arrive in layout order
    * (StreamTwinsSpec drains two). */
  case class ChunkIn(doc_id: Long, chunk_idx: Long, source: String,
                     pack_shard: Long, n_tokens: Long)
  case class PackState(tok_before: Long)
  case class PackedChunk(doc_id: Long, chunk_idx: Long, source: String,
                         pack_shard: Long, n_tokens: Long,
                         bin_id: Long, bin_offset: Long)

  def packAdd(chunks: org.apache.spark.sql.Dataset[ChunkIn],
              hwBins: Map[(String, Long), Long]): org.apache.spark.sql.Dataset[PackedChunk] = {
    import chunks.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val budget = graft.llm.Curation.PackBudget
    chunks.groupByKey(c => (c.source, c.pack_shard))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (String, Long), it: Iterator[ChunkIn],
         state: org.apache.spark.sql.streaming.GroupState[PackState]) =>
          // a (source, pack_shard) unseen in the frozen layout starts at bin 0
          val startBin = hwBins.get(key).map(_ + 1L).getOrElse(0L)
          val sorted = it.toSeq.sortBy(c => (c.doc_id, c.chunk_idx))
          var tb = state.getOption.map(_.tok_before).getOrElse(0L)
          val out = sorted.map { c =>
            val p = PackedChunk(c.doc_id, c.chunk_idx, key._1, key._2,
              c.n_tokens, startBin + tb / budget, tb % budget)
            tb += c.n_tokens
            p
          }
          state.update(PackState(tb))
          out.iterator
      }
  }

  /** Stateless streaming twin of the export placement (q_export_shards'
    * assignment stage): each arriving doc draws its shard id from the SAME
    * md5 lottery mod a FIXED shard count — the supply-derived n_shards is
    * a corpus statistic computed by the batch manifest job and served as a
    * literal, exactly the clusterAssign/binarySign pattern (model
    * statistics ride in-plan, events never shuffle). Pure map — no state
    * store, no watermark; drained output is bit-identical to the batch
    * placement on the same rows (StreamTwinsSpec). */
  def shardAssign(docs: DataFrame, nShards: Long): DataFrame =
    docs.select(col("doc_id"),
      graft.llm.Curation.shardIdCol(lit(nShards)).as("shard_id"))

  /** Stream-stream interval join — the streaming twin of the as-of family:
    * each purchase matches the same user's views within the preceding hour.
    * Watermarks on BOTH sides bound the join state (views older than the
    * watermark minus the interval are evicted); the time-range predicate is
    * what lets Spark compute that eviction frontier. */
  def purchasesWithRecentViews(views: DataFrame, purchases: DataFrame): DataFrame = {
    val v = views.withWatermark("tsc", "2 hours").alias("v")
    val p = purchases.withWatermark("tsc", "2 hours").alias("p")
    p.join(v,
      expr("v.user_id = p.user_id AND " +
        "v.tsc BETWEEN p.tsc - INTERVAL 1 HOUR AND p.tsc"))
      .select(col("p.user_id").as("user_id"),
        col("p.tsc").as("purchase_ts"), col("v.tsc").as("view_ts"),
        col("p.value").as("purchase_value"))
  }

  /** Session twin of Sessions.sessionize: native session_window with the same
    * 30-min gap. State per (user, open session) only — watermark closes and
    * emits sessions, keeping state bounded on an unbounded stream. */
  def sessions(events: DataFrame): DataFrame =
    events
      .withWatermark("tsc", "2 hours")
      .groupBy(session_window(col("tsc"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        unix_millis(min(col("tsc"))).as("start_ms"),
        unix_millis(max(col("tsc"))).as("end_ms"))
      .select(col("user_id"), col("n_events"), col("start_ms"), col("end_ms"))

  /** Streaming twins of the curation ingest path: the quality gate and the
    * chunker applied to a STREAMING documents frame. Both are pure map
    * stages (graft.llm.Curation.logitOf / chunkOf), so they run per
    * micro-batch with NO state at all — curation happens ON INGEST, not as
    * a later batch pass, which at 100 TB/day is the difference between
    * filtering once and re-scanning the lake. StreamTwinsSpec pins
    * micro-batch output == batch output row-for-row. */
  def curationGate(docs: DataFrame): DataFrame =
    graft.llm.Curation.logitOf(docs)
      .withColumn("keep", graft.llm.Curation.keepGate)

  def curationChunks(docs: DataFrame): DataFrame =
    graft.llm.Curation.chunkOf(docs, Seq("source"))

  /** Streaming twin of the mergeable-sketch rollup
    * (ops.Aggregates.sketchMerge): HLL sketch state accumulates across
    * micro-batches — the associative merge that makes sketches the
    * streaming-native distinct counter (exact distinct over an unbounded
    * stream needs unbounded state; the sketch is constant-size per group).
    * Complete-mode output equals the batch rollup on the same prefix. */
  def sketchRollup(orders: DataFrame): DataFrame =
    orders.groupBy("o_orderpriority")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("o_custkey")))
        .cast("long").as("approx_customers"))

  /** Streaming DATA-QUALITY gate: the per-row expectation subset of
    * `DataQuality.audit` as running totals across micro-batches (each
    * check is an associative conditional SUM, so streaming state is one
    * counter per check — constant). Complete-mode output on the drained
    * stream equals the batch audit's rows for the same checks; the
    * table-level expectations (pk uniqueness, referential orphans) need
    * the whole table by definition and stay on the post-publish batch
    * audit — splitting them this way is the production contract: row
    * expectations gate ADMISSION, table expectations gate PUBLISH. */
  def dqGate(orders: DataFrame): DataFrame =
    orders.agg(
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L))
        .as("orders_custkey_null"),
      sum(when(col("o_totalprice") <= 0.0, 1L).otherwise(0L))
        .as("orders_totalprice_nonpositive"),
      count(lit(1)).as("rows_seen"))
}
