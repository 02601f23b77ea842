package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Streaming twins agree with their batch forms on closed windows. */
class StreamTwinsSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  test("tumbling stream twin matches batch aggregation on complete input") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val rows = Seq(
      (ts("2024-01-01 00:10:00"), "click", 1.0),
      (ts("2024-01-01 00:50:00"), "click", 2.0),
      (ts("2024-01-01 01:10:00"), "click", 4.0),
      (ts("2024-01-01 01:20:00"), "view", 8.0))
    mem.addData(rows: _*)
    val events = mem.toDF().toDF("tsc", "event_type", "value")
    val q = StreamTwins.tumbling(events).writeStream
      .format("memory").queryName("tumble_out").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = s.table("tumble_out").orderBy("hour_ms", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val batch = rows.toDF("tsc", "event_type", "value")
      .groupBy(window(col("tsc"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select(unix_millis(col("window.start")).as("hour_ms"),
        col("event_type"), col("n"), col("total"))
      .orderBy("hour_ms", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.sameElements(batch))
    assert(got.length == 3)
    assert(got.head == (1704067200000L, "click", 2L, 3.0))
  }

  test("sliding stream twin matches batch aggregation on complete input") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val rows = Seq(
      (ts("2024-01-01 00:10:00"), "click", 1.0),
      (ts("2024-01-01 00:50:00"), "click", 2.0),
      (ts("2024-01-01 01:10:00"), "click", 4.0),
      (ts("2024-01-01 01:20:00"), "view", 8.0))
    mem.addData(rows: _*)
    val events = mem.toDF().toDF("tsc", "event_type", "value")
    val q = StreamTwins.sliding(events).writeStream
      .format("memory").queryName("slide_out").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = s.table("slide_out").orderBy("start_ms", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val batch = rows.toDF("tsc", "event_type", "value")
      .groupBy(window(col("tsc"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total"))
      .select(unix_millis(col("window.start")).as("start_ms"),
        col("event_type"), col("n"), col("total"))
      .orderBy("start_ms", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.sameElements(batch))
    // every event lands in exactly 2 windows
    assert(got.map(_._3).sum == 2L * rows.length)
  }

  test("streaming anomaly alerts z-score closed windows against published stats") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    // three quiet hours and one 6-event burst for "click"
    val rows = Seq(
      (ts("2024-01-01 00:10:00"), "click"),
      (ts("2024-01-01 01:10:00"), "click"),
      (ts("2024-01-01 02:10:00"), "click")) ++
      (0 until 6).map(m => (ts(f"2024-01-01 03:${10 + m}%02d:00"), "click"))
    mem.addData(rows: _*)
    // published stats for the series [1, 1, 1, 6]: sx=9, sxx=39, cnt=4
    val stats = Seq(("click", 9L, 39L, 4L)).toDF("event_type", "sx", "sxx", "cnt")
    val events = mem.toDF().toDF("tsc", "event_type")
    val q = StreamTwins.anomalies(events, stats).writeStream
      .format("memory").queryName("anom_out").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = s.table("anom_out").orderBy("hour_ms")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(got.length == 4)
    // z for the burst hour: (6*4 - 9) / sqrt(4*39 - 81) = 15 / sqrt(75)
    val zBurst = 15.0 / math.sqrt(75.0)
    assert(got.last._2 == 6L && got.last._3 == zBurst)
    // flags match the batch expression on every window
    got.foreach { case (_, n, z, flag) =>
      assert(z == (n * 4L - 9L).toDouble / math.sqrt(75.0))
      assert(flag == (math.abs(z) > 3.0))
    }
  }

  test("curation gate and chunker run per micro-batch and equal their batch forms") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Long, String, String, String, Long)]
    val docs = Seq(
      (1L, "the cat sat on the mat", "en", "web", 22L),
      (2L, (0 until 130).map(i => s"w$i").mkString(" "), "en", "web", 500L),
      (3L, "12345 67890 12345", "en", "spam", 17L))
    mem.addData(docs: _*)
    val stream = mem.toDF().toDF("doc_id", "text", "lang", "source", "n_chars")
    val q1 = StreamTwins.curationGate(stream).writeStream
      .format("memory").queryName("gate_out").outputMode("append").start()
    val q2 = StreamTwins.curationChunks(stream).writeStream
      .format("memory").queryName("chunk_out").outputMode("append").start()
    q1.processAllAvailable(); q1.stop()
    q2.processAllAvailable(); q2.stop()
    val batchDocs = docs.toDF("doc_id", "text", "lang", "source", "n_chars")
    val gateBatch = StreamTwins.curationGate(batchDocs)
      .orderBy("doc_id").collect().toSeq
    val gateStream = s.table("gate_out").orderBy("doc_id").collect().toSeq
    assert(gateStream == gateBatch)
    val chunkBatch = StreamTwins.curationChunks(batchDocs)
      .orderBy("doc_id", "chunk_idx").collect().toSeq
    val chunkStream = s.table("chunk_out").orderBy("doc_id", "chunk_idx").collect().toSeq
    assert(chunkStream == chunkBatch)
    assert(chunkStream.count(_.getLong(0) == 2L) == 3) // 130 tokens → 3 chunks
  }

  test("HLL sketch state merges across micro-batches and equals the batch rollup") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(String, Long)]
    val q = StreamTwins.sketchRollup(mem.toDF().toDF("o_orderpriority", "o_custkey"))
      .writeStream.format("memory").queryName("sketch_out")
      .outputMode("complete").start()
    val batch1 = (1L to 40L).map(k => ("1-URGENT", k)) ++ Seq(("2-HIGH", 1L))
    val batch2 = (21L to 60L).map(k => ("1-URGENT", k)) ++ Seq(("2-HIGH", 1L), ("2-HIGH", 2L))
    mem.addData(batch1: _*); q.processAllAvailable()
    mem.addData(batch2: _*); q.processAllAvailable()
    q.stop()
    val got = s.table("sketch_out").orderBy("o_orderpriority")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val batch = StreamTwins.sketchRollup((batch1 ++ batch2).toDF("o_orderpriority", "o_custkey"))
      .orderBy("o_orderpriority")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.sameElements(batch), s"${got.toSeq} vs ${batch.toSeq}")
    // tiny cardinalities estimate exactly: 60 and 2 distinct keys
    assert(got.toSeq == Seq(("1-URGENT", 60L), ("2-HIGH", 2L)))
  }

  test("session stream twin groups by 30-min gaps per user") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Timestamp, Long)]
    mem.addData(
      (ts("2024-01-01 00:00:00"), 1L),
      (ts("2024-01-01 00:20:00"), 1L), // same session (gap 20m)
      (ts("2024-01-01 01:30:00"), 1L), // new session (gap 70m)
      (ts("2024-01-01 00:05:00"), 2L))
    val events = mem.toDF().toDF("tsc", "user_id")
    val q = StreamTwins.sessions(events).writeStream
      .format("memory").queryName("sess_out").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = s.table("sess_out").orderBy("user_id", "start_ms")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sameElements(Array((1L, 2L), (1L, 1L), (2L, 1L))))
  }

  test("flatMapGroupsWithState carries per-user state across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = mem.toDS().map(r => StreamTwins.UserEvent(r._1, r._2, r._3))
    val q = StreamTwins.runningAnomalies(events).writeStream
      .format("memory").queryName("anom_out").outputMode("append").start()
    // batch 1: establish a mean of 2.0 over 3 events for user 1
    mem.addData((1L, ts("2024-01-01 00:00:01"), 1.0),
      (1L, ts("2024-01-01 00:00:02"), 2.0), (1L, ts("2024-01-01 00:00:03"), 3.0))
    q.processAllAvailable()
    // batch 2: state must survive — 100.0 vs running mean 2.0 → anomaly
    mem.addData((1L, ts("2024-01-01 00:00:04"), 100.0),
      (1L, ts("2024-01-01 00:00:05"), 2.0))
    q.processAllAvailable(); q.stop()
    val rows = s.table("anom_out").orderBy("value").collect()
      .map(r => (r.getDouble(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.length == 5)
    assert(rows.contains((100.0, 2.0, true)))        // mean from batch 1 state
    assert(rows.count(_._3) == 1)                    // only the spike flags
    assert(rows.exists { case (v, m, a) => v == 2.0 && m > 20 && !a }) // mean now includes 100
  }

  test("streaming gap-fill emits zero rows for silent closed hours") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(String, Timestamp)]
    val events = mem.toDS().map(r => StreamTwins.GapEvent(r._1, r._2))
    val q = StreamTwins.gapfill(events).writeStream
      .format("memory").queryName("gap_out").outputMode("append").start()
    // click: hours 00 (×2) and 03 — a two-hour silence between; view: 01
    mem.addData(("click", ts("2024-01-01 00:10:00")),
      ("click", ts("2024-01-01 00:40:00")),
      ("view", ts("2024-01-01 01:20:00")),
      ("click", ts("2024-01-01 03:30:00")))
    q.processAllAvailable()
    // flush batches: the sentinel advances the watermark to 04:00 (closing
    // hours 00–03), then a second batch lets the EVENT-TIME TIMEOUTS fire
    // for the silent click/view groups under that watermark
    mem.addData(("zz_flush", ts("2024-01-01 06:00:00")))
    q.processAllAvailable()
    mem.addData(("zz_flush", ts("2024-01-01 06:30:00")))
    q.processAllAvailable(); q.stop()
    val base = ts("2024-01-01 00:00:00").getTime
    def hr(k: Int): Long = base + k * 3600000L
    val got = s.table("gap_out").filter(col("event_type") =!= "zz_flush")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // the batch form's domain: per type, [min, max] hour with zero fill
    val want = Set(
      ("click", hr(0), 2L), ("click", hr(1), 0L), ("click", hr(2), 0L),
      ("click", hr(3), 1L), ("view", hr(1), 1L))
    assert(want.subsetOf(got), s"missing batch-domain rows: ${want.diff(got)}")
    // beyond each type's last event the stream keeps zero-filling until
    // the watermark — the live outage signal the batch form cannot give;
    // every extra row must be a zero for a CLOSED hour (wm = 04:30)
    val extras = got.diff(want)
    assert(extras.forall { case (_, h, n) => n == 0L && h < hr(4) },
      s"unexpected non-zero or unclosed extras: $extras")
    // view's silence after 01 is visible as explicit zeros
    assert(extras.contains(("view", hr(2), 0L)) &&
      extras.contains(("view", hr(3), 0L)))
  }

  test("streaming last-touch attribution equals the batch window form when drained") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // (event_id, user_id, ts_ms, type, value): user 1 has view→purchase
    // across a batch boundary, a (ts) TIE between a view and a purchase
    // (event_id orders the view first → it attributes), and a later cart
    // touch; user 2's purchase arrives before ANY touch (None cohort).
    val b1 = Seq((10L, 1L, 1000L, "view", 0.0), (11L, 1L, 2000L, "purchase", 5.0),
      (12L, 2L, 1000L, "purchase", 7.0))
    val b2 = Seq((13L, 1L, 3000L, "view", 0.0), (14L, 1L, 3000L, "purchase", 9.0),
      (15L, 1L, 4000L, "cart", 0.0), (16L, 1L, 5000L, "purchase", 2.0))
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val events = mem.toDS().map(r =>
      StreamTwins.AttrEvent(r._1, r._2, new Timestamp(r._3), r._4, r._5))
    val q = StreamTwins.attribution(events).writeStream
      .format("memory").queryName("attr_out").outputMode("append").start()
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable(); q.stop()
    val got = s.table("attr_out").collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), Option(r.getString(3)), Option(r.get(4)).map(_.asInstanceOf[Long]),
      r.getDouble(5))).toSet
    // batch form over the SAME rows (ts scaled ms→ns, the events contract)
    val batchIn = (b1 ++ b2).toDF("event_id", "user_id", "ts_ms", "event_type", "value")
      .select(col("event_id"), col("user_id"),
        (col("ts_ms") * 1000000L).as("ts"), col("event_type"), col("value"))
    val want = graft.llm.Sessions.attributionOf(batchIn).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), Option(r.getString(3)),
        Option(r.get(4)).map(_.asInstanceOf[Long]), r.getDouble(5))).toSet
    assert(got == want)
    assert(got.contains((12L, 2L, 1000L, None, None, 7.0)))        // pre-touch purchase
    assert(got.contains((14L, 1L, 3000L, Some("view"), Some(3000L), 9.0))) // tie: view first
  }

  test("streaming funnel: last snapshot per user equals the batch funnel when drained") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // user 1: full conversion across a batch boundary, with a pre-signup
    //   view (must NOT count) and a same-ms signup+view tie (view counts:
    //   the batch rule is stage time >= previous stage's time)
    // user 2: purchase before any click (stalls at stage 2)
    // user 3: never signs up (no output at all)
    val b1 = Seq((1L, 500L, "view"), (1L, 1000L, "signup"), (1L, 1000L, "view"),
      (2L, 1000L, "signup"), (2L, 2000L, "view"), (2L, 2500L, "purchase"),
      (3L, 1000L, "view"))
    val b2 = Seq((1L, 2000L, "click"), (1L, 3000L, "purchase"),
      (3L, 2000L, "click"))
    val mem = MemoryStream[(Long, Long, String)]
    val events = mem.toDS().map(r =>
      StreamTwins.FunnelEvent(r._1, new Timestamp(r._2), r._3))
    val q = StreamTwins.funnel(events).writeStream
      .format("memory").queryName("funnel_out").outputMode("append").start()
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable(); q.stop()
    val batchIn = (b1 ++ b2).toDF("user_id", "ms", "event_type")
    val wantUsers = graft.llm.Sessions.funnelOf(batchIn).collect()
      .map(_.getLong(0)).toSet
    // the LAST snapshot per user (memory-sink rows arrive in batch order)
    val gotRows = s.table("funnel_out").collect()
      .groupBy(_.getLong(0)).map { case (u, rs) => u -> rs.last }
    assert(gotRows.keySet == wantUsers)
    wantUsers.foreach { u =>
      val g = gotRows(u)
      val w = graft.llm.Sessions.funnelOf(batchIn)
        .filter(col("user_id") === u).collect()(0)
      assert(g.getLong(0) == w.getLong(0))
      assert(g.getLong(1) == w.getAs[Long]("t_signup"), s"user $u signup")
      assert(Option(g.get(2)) == Option(w.get(2)), s"user $u view")
      assert(Option(g.get(3)) == Option(w.get(3)), s"user $u click")
      assert(Option(g.get(4)) == Option(w.get(4)), s"user $u purchase")
      assert(g.getAs[Long]("stage_reached") == w.getAs[Long]("stage_reached"))
    }
    // the tie: user 1's view at the signup millisecond counted
    assert(gotRows(1L).getAs[Long]("stage_reached") == 4L)
    assert(gotRows(2L).getAs[Long]("stage_reached") == 2L)
  }

  test("streaming dedup keeps the first occurrence across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val events = mem.toDF().toDF("event_id", "tsc", "value")
    val q = StreamTwins.dedupe(events).writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    mem.addData((1L, ts("2024-01-01 00:00:01"), 1.0), (2L, ts("2024-01-01 00:00:02"), 2.0),
      (1L, ts("2024-01-01 00:00:03"), 99.0)) // in-batch duplicate
    q.processAllAvailable()
    mem.addData((2L, ts("2024-01-01 00:10:00"), 88.0), // cross-batch duplicate
      (3L, ts("2024-01-01 00:10:01"), 3.0))
    q.processAllAvailable(); q.stop()
    val got = s.table("dedup_out").orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(got.sameElements(Array((1L, 1.0), (2L, 2.0), (3L, 3.0))))
  }

  test("stream-static enrichment joins each micro-batch against the dim") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Long, Double)]
    mem.addData((1L, 10.0), (2L, 20.0), (9L, 90.0)) // 9 has no dim row
    val events = mem.toDF().toDF("user_id", "value")
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "segment")
    val q = StreamTwins.enrich(events, dim).writeStream
      .format("memory").queryName("enrich_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = s.table("enrich_out").orderBy("user_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    assert(got.sameElements(Array((1L, 10.0, "gold"), (2L, 20.0, "silver"))))
  }

  test("streaming cluster routing assigns each embedding to its nearest centroid") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // centroids DELIBERATELY added out of id order — clusterAssign must
    // sort them so the fold's tie-break is the batch argmin's (lower id)
    val cents: Seq[(Long, Seq[Double])] = Seq(
      (2L, Seq(10.0, 0.0)),
      (0L, Seq(0.0, 0.0)),
      (1L, Seq(0.0, 10.0)))
    val mem = MemoryStream[(Long, Array[Float])]
    mem.addData(
      (100L, Array(1.0f, 1.0f)),   // nearest: cluster 0
      (101L, Array(1.0f, 9.0f)),   // nearest: cluster 1
      (102L, Array(9.0f, 1.0f)),   // nearest: cluster 2
      (103L, Array(6.0f, 6.0f)))   // d2: 72 / 52 / 52 → ties 1,2 → lower id 1
    val embs = mem.toDF().toDF("vec_id", "embedding")
    val q = StreamTwins.clusterAssign(embs, cents).writeStream
      .format("memory").queryName("route_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = s.table("route_out").orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // independent recount: sequential-fold d2 against each centroid
    def d2(x: Array[Float], c: Seq[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < x.length) {
        val d = x(i).toDouble - c(i); acc += d * d; i += 1
      }
      acc
    }
    val inputs = Map(
      100L -> Array(1.0f, 1.0f), 101L -> Array(1.0f, 9.0f),
      102L -> Array(9.0f, 1.0f), 103L -> Array(6.0f, 6.0f))
    assert(got.length == 4)
    got.foreach { case (v, cl, dist) =>
      val want = cents.sortBy(_._1).minBy { case (cid, c) => (d2(inputs(v), c), cid) }
      assert(cl == want._1, s"vec $v")
      assert(dist == d2(inputs(v), want._2))
    }
    assert(got.find(_._1 == 103L).get._2 == 1L) // the tie lands on the lower id
  }

  test("stream-stream interval join matches views within the preceding hour") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val vm = MemoryStream[(Long, Timestamp)]
    val pm = MemoryStream[(Long, Timestamp, Double)]
    vm.addData(
      (1L, ts("2024-01-01 09:30:00")), // within the hour before purchase
      (1L, ts("2024-01-01 07:00:00")), // too old
      (2L, ts("2024-01-01 09:45:00"))) // other user
    pm.addData((1L, ts("2024-01-01 10:00:00"), 5.0))
    val views = vm.toDF().toDF("user_id", "tsc")
    val purchases = pm.toDF().toDF("user_id", "tsc", "value")
    val q = StreamTwins.purchasesWithRecentViews(views, purchases).writeStream
      .format("memory").queryName("ssj_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = s.table("ssj_out").collect()
      .map(r => (r.getLong(0), r.getTimestamp(2), r.getDouble(3)))
    assert(got.sameElements(Array((1L, ts("2024-01-01 09:30:00"), 5.0))))
  }

  test("AvailableNow ingest drains raw files exactly once") {
    val root = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val rawDir = s"$root/raw"; val sink = s"$root/sink"; val cp = s"$root/cp"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(rawDir))
    val res = getClass.getResourceAsStream("/raw_coins.json")
    java.nio.file.Files.copy(res, java.nio.file.Paths.get(rawDir, "dump1.json"))
    val q = StreamTwins.ingest(spark, rawDir, sink, cp).start()
    q.awaitTermination(60000)
    assert(spark.read.parquet(sink).count() == 5)
    // second start with nothing new: no duplicates (checkpointed)
    val q2 = StreamTwins.ingest(spark, rawDir, sink, cp).start()
    q2.awaitTermination(60000)
    assert(spark.read.parquet(sink).count() == 5)
  }

  test("incremental pipeline service: drain, merge, and never reprocess") {
    import graft.etl.Warehouse
    val root = java.nio.file.Files.createTempDirectory("graft_incr").toString
    val rawDir = s"$root/raw"; val cp = s"$root/cp"
    val dim = s"$root/wh/dim"; val fact = s"$root/wh/fact"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(rawDir))
    val res = getClass.getResourceAsStream("/raw_coins.json")
    java.nio.file.Files.copy(res, java.nio.file.Paths.get(rawDir, "dump1.json"))

    def drain(): Unit = {
      val q = StreamTwins.incrementalPipeline(spark, rawDir, dim, fact, cp).start()
      q.awaitTermination(120000)
    }
    drain()
    // same expectations as the batch PipelineSpec golden
    val d1 = Warehouse.read(spark, dim).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(d1.size == 4 && d1("w") == "Wormhole, Inc. Token")
    val f1 = Warehouse.read(spark, fact).collect()
    assert(f1.length == 4)

    // a newer snapshot arrives: merged incrementally (upsert, not append)
    val fixture = java.nio.file.Paths.get(getClass.getResource("/raw_coins.json").toURI)
    val updated = new String(java.nio.file.Files.readAllBytes(fixture))
      .replace("2024-11-15T10:00", "2024-11-15T11:00")
      .replace("64000.12", "65000.99")
    java.nio.file.Files.write(java.nio.file.Paths.get(rawDir, "dump2.json"), updated.getBytes)
    drain()
    val f2 = Warehouse.read(spark, fact).collect()
    assert(f2.length == 4)
    assert(math.abs(f2.find(_.getString(0) == "btc").get.getDouble(1) - 65000.99) < 1e-9)

    // nothing new: the checkpoint file log skips everything, no new version
    val vBefore = Warehouse.currentVersion(spark, fact)
    drain()
    assert(Warehouse.currentVersion(spark, fact) == vBefore)
  }

  test("streaming dedup probes the published index per micro-batch and matches batch") {
    import graft.etl.Warehouse
    import graft.llm.Dedup
    val root = java.nio.file.Files.createTempDirectory("graft_sdedup").toString
    val docsDir = s"$root/incoming"; val cp = s"$root/cp"
    val index = s"$root/wh/index"; val verdicts = s"$root/wh/verdicts"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(docsDir))

    // publish the corpus band index once (mod-split corpus, as the batch op)
    Dedup.publishDedupIndex(spark, sf, index)

    // the delta docs arrive as TWO files → two micro-batches (maxFilesPerTrigger=1)
    val delta = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % Dedup.DeltaMod === (Dedup.DeltaMod - 1))
      .select("doc_id", "text").orderBy("doc_id").collect()
    assert(delta.length > 10)
    val (d1, d2) = delta.splitAt(delta.length / 2)
    import spark.implicits._
    def writeFile(rows: Array[org.apache.spark.sql.Row], name: String): Unit =
      rows.map(r => (r.getLong(0), r.getString(1))).toSeq.toDF("doc_id", "text")
        .coalesce(1).write.parquet(s"$root/stage_$name")
    writeFile(d1, "a"); writeFile(d2, "b")
    def arrive(name: String): Unit = {
      val part = new java.io.File(s"$root/stage_$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(docsDir, s"$name.parquet"))
    }
    arrive("a"); arrive("b")

    val q = StreamTwins.streamingDedup(spark, docsDir, index, verdicts, cp).start()
    q.awaitTermination(120000)

    // the streamed verdicts equal the one-shot batch serve over the same delta
    val expected = Dedup.dedupDeltaServe(spark, sf, index)
      .collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))
    def got(): Seq[Seq[Any]] = Warehouse.read(spark, verdicts)
      .select("doc_id", "dup_of", "jac", "is_dup")
      .collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))
    assert(got() == expected, "streamed verdicts must equal the batch serve")

    // restart with nothing new: checkpoint skips everything, no new version
    val v = Warehouse.currentVersion(spark, verdicts)
    val q2 = StreamTwins.streamingDedup(spark, docsDir, index, verdicts, cp).start()
    q2.awaitTermination(120000)
    assert(Warehouse.currentVersion(spark, verdicts) == v)

    // replayed micro-batch (crash between publish and checkpoint): a no-op
    Warehouse.upsertPublish(spark, verdicts,
      Dedup.dedupBatchAgainstIndex(spark,
        spark.read.parquet(s"$docsDir/b.parquet"), index),
      "doc_id", Seq("doc_id"))
    assert(got() == expected, "replayed verdict batch must not change state")
  }

  test("replayed micro-batch is a warehouse no-op (crash between publish and checkpoint)") {
    // foreachBatch is at-least-once: if the process dies AFTER upsertPublish
    // but BEFORE the checkpoint commit, the restarted query re-delivers the
    // SAME micro-batch (batches commit in order, so only the last uncommitted
    // one can replay — a STALE batch can never reappear). The dedup-first
    // source-wins merge makes that re-delivery idempotent: identical source
    // rows merge to identical content. (VERDICT r2 item 6)
    import graft.etl.{Transform, Warehouse}
    val root = java.nio.file.Files.createTempDirectory("graft_replay").toString
    val rawDir = s"$root/raw"; val cp = s"$root/cp"
    val dim = s"$root/wh/dim"; val fact = s"$root/wh/fact"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(rawDir))
    val res = getClass.getResourceAsStream("/raw_coins.json")
    java.nio.file.Files.copy(res, java.nio.file.Paths.get(rawDir, "dump1.json"))

    val q = StreamTwins.incrementalPipeline(spark, rawDir, dim, fact, cp).start()
    q.awaitTermination(120000)
    def snap(target: String): Seq[Seq[Any]] = Warehouse.read(spark, target)
      .collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))
    val dimBefore = snap(dim); val factBefore = snap(fact)

    // re-deliver the exact micro-batch through the same merge path the
    // foreachBatch body runs — the restart-after-crash window
    val replay = spark.read.schema(graft.etl.RawSchema.schema)
      .option("multiLine", true).json(rawDir)
    Warehouse.upsertPublish(spark, dim, Transform.coinInfo(replay), "id", Seq("name"))
    Warehouse.upsertPublish(spark, fact, Transform.coinMetrics(replay), "id", Seq("last_updated"))

    assert(snap(dim) == dimBefore, "replayed batch must not change the dim table")
    assert(snap(fact) == factBefore, "replayed batch must not change the fact table")

    // and the real restart agrees: the checkpoint skips the drained files
    val vDim = Warehouse.currentVersion(spark, dim)
    val q2 = StreamTwins.incrementalPipeline(spark, rawDir, dim, fact, cp).start()
    q2.awaitTermination(120000)
    assert(Warehouse.currentVersion(spark, dim) == vDim)
  }

  test("streaming dq gate accumulates exact violation counts across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val mem = MemoryStream[(Long, Option[Long], Double)]
    val orders = mem.toDF().toDF("o_orderkey", "o_custkey", "o_totalprice")
    val q = StreamTwins.dqGate(orders).writeStream
      .format("memory").queryName("dq_out").outputMode("complete").start()
    // batch 1: one null FK; batch 2: one non-positive price
    mem.addData((1L, Some(10L), 100.0), (2L, None, 50.0))
    q.processAllAvailable()
    mem.addData((3L, Some(11L), -5.0), (4L, Some(12L), 75.0))
    q.processAllAvailable(); q.stop()
    val got = s.table("dq_out").collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((1L, 1L, 4L)))
    // equals the batch form of the same checks on the full input
    val batch = Seq((1L, Some(10L), 100.0), (2L, None: Option[Long], 50.0),
      (3L, Some(11L), -5.0), (4L, Some(12L), 75.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
    val b = StreamTwins.dqGate(batch).collect().head
    assert(b.getLong(0) == 1L && b.getLong(1) == 1L && b.getLong(2) == 4L)
  }

  test("streaming binary signing is bit-identical to the batch signatures") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // the published statistic: per-dimension means from the declared mean
    // query (the same scaled-BIGINT values the batch signer derives)
    val mu = graft.llm.Similarity.meanVector(s, sf).orderBy("i")
      .collect().map(_.getDouble(3)).toSeq
    val rows = graft.Tables.t(s, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val mem = MemoryStream[(Long, Array[Float])]
    mem.addData(rows.toSeq: _*)
    val q = StreamTwins.binarySign(mem.toDF().toDF("vec_id", "embedding"), mu)
      .writeStream.format("memory").queryName("binsign_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = s.table("binsign_out").orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = graft.llm.Binary.codes(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.sameElements(want))
  }

  test("streaming shard placement reproduces the export manifest's doc counts") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // batch face: the manifest (and its supply-derived shard count — the
    // published statistic the stream serves from)
    val manifest = graft.llm.Curation.exportShards(s, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nShards = manifest.keys.max + 1
    val rows = graft.Tables.t(s, sf, "documents")
      .select("doc_id").as[Long].collect()
    val mem = MemoryStream[Long]
    mem.addData(rows.toSeq: _*)
    val q = StreamTwins.shardAssign(mem.toDF().toDF("doc_id"), nShards)
      .writeStream.format("memory").queryName("shard_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = s.table("shard_out").groupBy("shard_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == manifest,
      "drained per-shard doc counts must equal the batch manifest")
  }

  test("streaming IVF cell-probe matches the trained serve's assignment stage") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // batch face first: publishes the trained centroids on first call
    val want = graft.llm.Similarity.probeCells(s, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    // the published statistic the stream serves from
    val target = graft.llm.Similarity.centroidTarget(s, sf)
    val cents = graft.etl.Warehouse.read(s, target)
      .select("cent_id", "c_emb").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val rows = graft.Tables.t(s, sf, "embeddings")
      .filter($"vec_id" < 8).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val mem = MemoryStream[(Long, Array[Float])]
    mem.addData(rows.toSeq: _*)
    val q = StreamTwins.ivfProbe(mem.toDF().toDF("vec_id", "embedding"), cents)
      .writeStream.format("memory").queryName("ivfprobe_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = s.table("ivfprobe_out").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    assert(got.length == 8 * graft.llm.Similarity.NProbe)
    assert(got.sameElements(want))
  }

  test("streaming incremental IVF add matches the batch delta build") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // batch face first: trains + publishes the frozen upsert centroids
    val cut = graft.llm.Segments.cut(s, sf, "embeddings")
    val want = graft.llm.IvfMaintenance.assignSlice(s, sf, cut, newRows = true)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getLong(3))).sorted
    val target = graft.llm.IvfMaintenance.centsTarget(s, sf)
    val cents = graft.etl.Warehouse.read(s, target)
      .select("cent_id", "c_emb").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val rows = graft.Tables.t(s, sf, "embeddings")
      .filter($"vec_id" >= cut).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    assert(rows.nonEmpty)
    val mem = MemoryStream[(Long, Array[Float])]
    mem.addData(rows.toSeq: _*)
    val q = StreamTwins.ivfAdd(mem.toDF().toDF("vec_id", "embedding"), cents)
      .writeStream.format("memory").queryName("ivfadd_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = s.table("ivfadd_out").collect()
      .map(r => (r.getLong(0), r.getDouble(2), r.getLong(3))).sorted
    assert(got.length == rows.length,
      "every arriving vector must emit exactly one delta-list row")
    assert(got.sameElements(want))
  }

  test("streaming composite add matches the batch delta codes bit-for-bit") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // batch face first: publishes the frozen cents + books + code snapshot
    val cut = graft.llm.Segments.cut(s, sf, "embeddings")
    val want = graft.llm.IvfPq.upCodes.read(s, sf)
      .filter($"vec_id" >= cut).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).sorted
    assert(want.nonEmpty)
    val cents = graft.etl.Warehouse.read(s,
        graft.llm.IvfMaintenance.centsTarget(s, sf))
      .select("cent_id", "c_emb").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val books = graft.etl.Warehouse.read(s,
        graft.llm.IvfPq.upBooksTarget(s, sf))
      .select("m", "code", "csv").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2))).toSeq
    val rows = graft.Tables.t(s, sf, "embeddings")
      .filter($"vec_id" >= cut).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val mem = MemoryStream[(Long, Array[Float])]
    mem.addData(rows.toSeq: _*)
    val q = StreamTwins.ivfpqAdd(mem.toDF().toDF("vec_id", "embedding"),
        cents, books)
      .writeStream.format("memory").queryName("ivfpqadd_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = s.table("ivfpqadd_out").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).sorted
    assert(got.length == rows.length * graft.llm.IvfPq.M,
      "every arriving vector must emit exactly M code rows")
    assert(got.sameElements(want))
  }

  test("streaming lexical add matches the batch delta postings bit-for-bit") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    // batch face first: publishes the {base, delta} lexical snapshot
    // (reset the root so a previously-compacted snapshot can't empty the
    // delta member this test compares against)
    val root = graft.llm.LexMaintenance.snapRoot(s, sf)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    if (new java.io.File(root).exists()) rm(new java.io.File(root))
    graft.llm.LexMaintenance.upsertServe(s, sf).count()
    val snap = graft.etl.Warehouse.readSnapshot(s, root).get
    val want = graft.etl.Warehouse
      .readSnapshotMember(s, root, "post_delta", snap("post_delta"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted
    assert(want.nonEmpty,
      "compacted snapshot — reset the lexical root before this spec")
    val cut = graft.llm.Segments.cut(s, sf, "documents")
    val rows = graft.Tables.t(s, sf, "documents")
      .filter($"doc_id" >= cut).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val mem = MemoryStream[(Long, String)]
    mem.addData(rows.toSeq: _*)
    val q = StreamTwins.lexAdd(mem.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("lexadd_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = s.table("lexadd_out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted
    assert(got.sameElements(want))
  }

  test("streaming pack add carries per-(source, pack_shard) offsets and matches the batch delta layout") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    import org.apache.spark.sql.functions.{col, max, row_number}
    // batch face: the frozen base layout + the delta layout to reproduce
    val cut = graft.llm.Segments.cut(s, sf, "documents")
    val fw = org.apache.spark.sql.expressions.Window
      .partitionBy("chunk_hash").orderBy("doc_id", "chunk_idx")
    val uniq = graft.llm.Curation.chunkRows(s, sf, Seq("source"))
      .withColumn("rn", row_number().over(fw))
      .filter(col("rn") === 1).drop("rn")
    val cols = Seq("doc_id", "chunk_idx", "source", "pack_shard", "n_tokens",
      "bin_id", "bin_offset")
    val pBase = graft.llm.Curation.packBins(uniq.filter(col("doc_id") < cut))
    val delta = graft.llm.Curation
      .packDeltaBins(uniq.filter(col("doc_id") >= cut), pBase).cache()
    val want = delta
      .select(cols.map(col): _*).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).sorted
    assert(want.nonEmpty)
    val hw = pBase.groupBy("source", "pack_shard")
      .agg(max("bin_id").as("hw")).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // stream face: the delta chunks arrive in layout order across TWO
    // micro-batches — the per-(source, pack_shard) running offset must
    // survive the batch boundary. The stream carries the shard id the
    // batch layout computed (the chunker/sharder runs upstream of the
    // stateful pack, exactly like the batch DAG).
    val rows = delta
      .select("doc_id", "chunk_idx", "source", "pack_shard", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4)))
      .sortBy(t => (t._1, t._2))
    val mid = rows(rows.length / 2)._1
    val mem = MemoryStream[(Long, Long, String, Long, Long)]
    val q = StreamTwins.packAdd(
        mem.toDF().toDF("doc_id", "chunk_idx", "source", "pack_shard", "n_tokens")
          .as[StreamTwins.ChunkIn], hw)
      .writeStream.format("memory").queryName("packadd_out")
      .outputMode("append").start()
    mem.addData(rows.filter(_._1 < mid).toSeq: _*)
    q.processAllAvailable()
    mem.addData(rows.filter(_._1 >= mid).toSeq: _*)
    q.processAllAvailable(); q.stop()
    val got = s.table("packadd_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).sorted
    delta.unpersist()
    assert(got.sameElements(want),
      "drained pack add must equal the batch delta layout bit-for-bit")
  }
}
