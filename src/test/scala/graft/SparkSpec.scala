package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session; ScalaTest runs
  * suites sequentially in the forked JVM). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf: String = "/root/testdata/sf0.001"

  /** Run `body` with the state store (`etl.State`, rooted at
    * `java.io.tmpdir`) in a fresh, empty temp dir, so every published root
    * the body reaches is built by the body itself. */
  def inFreshStore[A](body: => A): A = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    val prev = sys.props("java.io.tmpdir")
    val fresh = java.nio.file.Files.createTempDirectory("graft_fresh").toFile
    System.setProperty("java.io.tmpdir", fresh.getPath)
    try body
    finally {
      System.setProperty("java.io.tmpdir", prev)
      rm(fresh)
    }
  }

  /** Jobs started while `body` runs, counted by a listener through the job
    * group. The listener bus is asynchronous, so a sentinel job in a second
    * group runs afterwards and its end is awaited: the bus delivers events
    * in order, so every earlier job start has been counted by then. */
  def jobsDuring(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-during-${java.util.UUID.randomUUID}"
    val sentinel = s"$group-sentinel"
    val started = new java.util.concurrent.atomic.AtomicInteger
    val sentinelJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val sentinelDone = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => started.incrementAndGet()
          case Some(`sentinel`) => sentinelJobs.add(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (sentinelJobs.contains(e.jobId)) sentinelDone.countDown()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "job count probe")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "job count probe sentinel")
      try spark.range(1).collect() finally sc.clearJobGroup()
      assert(sentinelDone.await(60, java.util.concurrent.TimeUnit.SECONDS))
      started.get
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Verify.session("local[4]", "4")
    s
  }
}
