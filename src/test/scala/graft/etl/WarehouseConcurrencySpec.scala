package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.util.concurrent.{CountDownLatch, CyclicBarrier}

/** Concurrent-writer contract for the warehouse pointer commit (VERDICT r5
  * item 7): two unserialized writers racing `publish` on one target must
  * leave a consistent table — last-writer-wins on the pointer, never a torn
  * pointer, never a reader-visible partial version — and `vacuum` must
  * reclaim every losing version. This is the property the pointer-commit
  * design claims over round 1's directory swap; here it is exercised, not
  * argued. */
class WarehouseConcurrencySpec extends SparkSpec {

  private def mkTarget(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_wh_race").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def writerDf(tag: String, n: Int) = {
    val s = spark
    import s.implicits._
    (1 to n).map(i => (i.toLong, tag)).toDF("id", "writer")
  }

  test("two racing publishes: one writer wins whole, pointer never torn") {
    val target = mkTarget()
    val rows = 200
    for (round <- 1 to 5) {
      val barrier = new CyclicBarrier(2)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val versions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val threads = Seq("a", "b").map { tag =>
        val df = writerDf(s"$tag$round", rows)
        new Thread(() => {
          try {
            barrier.await() // release both writers into publish together
            versions.add(Warehouse.publish(spark, target, df))
          } catch { case t: Throwable => errs.add(t) }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"round $round: writer failed: ${errs.peek()}")
      assert(versions.size == 2)
      // pointer names EXACTLY one of this round's two versions — the last
      // rename won whole; a torn pointer would name neither (or garbage)
      val cur = Warehouse.currentVersion(spark, target)
      assert(cur.isDefined && versions.contains(cur.get),
        s"round $round: pointer $cur not among ${versions}")
      // the visible table is ONE writer's COMPLETE dataset, never a blend
      val seen = Warehouse.read(spark, target)
        .groupBy("writer").agg(count(lit(1)).as("n")).collect()
      assert(seen.length == 1, s"round $round: blended versions: ${seen.toSeq}")
      assert(seen(0).getLong(1) == rows.toLong)
      // the losing version is still materialized (readable until vacuum)
      val vdirs = new java.io.File(target).listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("v_")).map(_.getName)
      assert(versions.stream().allMatch(v => vdirs.contains(v)))
    }
    // vacuum's contract: every non-current version reclaimed, nothing else
    Warehouse.vacuum(spark, target)
    val cur = Warehouse.currentVersion(spark, target).get
    val left = new java.io.File(target).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v_")).map(_.getName)
    assert(left.toSeq == Seq(cur), s"vacuum left orphans: ${left.toSeq}")
    assert(Warehouse.read(spark, target).count() == rows.toLong)
  }

  test("reader during a publish race sees a complete old or new version") {
    val target = mkTarget()
    val rows = 100
    Warehouse.publish(spark, target, writerDf("base", rows))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val started = new CountDownLatch(1)
    val reader = new Thread(() => {
      started.countDown()
      while (!stop.get()) {
        val got = Warehouse.read(spark, target)
          .groupBy("writer").agg(count(lit(1)).as("n")).collect()
        if (got.length != 1 || got(0).getLong(1) != rows.toLong)
          bad.add(got.toSeq.toString)
      }
    })
    reader.setUncaughtExceptionHandler((_, t) => errs.add(t))
    reader.start(); started.await()
    for (round <- 1 to 3) {
      val barrier = new CyclicBarrier(2)
      val writers = Seq("x", "y").map { tag =>
        val df = writerDf(s"$tag$round", rows)
        new Thread(() => {
          try { barrier.await(); Warehouse.publish(spark, target, df) }
          catch { case t: Throwable => errs.add(t) }
        })
      }
      writers.foreach(_.start()); writers.foreach(_.join())
    }
    stop.set(true); reader.join()
    assert(errs.isEmpty, s"a reader or writer thread failed: ${errs.peek()}")
    assert(bad.isEmpty, s"reader saw partial/blended snapshots: ${bad.peek()}")
  }

  test("pointer, marker and sidecar files carry no checksum sidecar") {
    // a `.crc` beside `_CURRENT` would make the commit rename two steps
    val target = mkTarget()
    val v = Warehouse.publish(spark, target, writerDf("a", 3))
    val root = mkTarget()
    val snap = Warehouse.publishSnapshot(spark, root, Seq("m" -> writerDf("b", 3)))
    val crcs = Seq(s"$target/._CURRENT.crc", s"$target/$v/._SCHEMA.crc",
      s"$root/._SNAPSHOT.crc", s"$root/m/${snap("m")}/._SCHEMA.crc")
      .filter(new java.io.File(_).exists())
    assert(crcs.isEmpty, s"checksum sidecars written: $crcs")
    assert(Warehouse.read(spark, target).count() == 3L)
  }
}
