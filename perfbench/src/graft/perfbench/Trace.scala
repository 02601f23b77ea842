package graft.perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark work attributed to one span (exclusive of its children). */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs, schedWaitMs = 0L
  var inBytes, inRecords, shuffleWrite, shuffleRead, spill, outBytes, outRecords = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; gcMs += o.gcMs; schedWaitMs += o.schedWaitMs
    inBytes += o.inBytes; inRecords += o.inRecords
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    outBytes += o.outBytes; outRecords += o.outRecords
  }

  def fields: Seq[(String, Long)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "executor_cpu_ms" -> cpuNs / 1000000, "executor_run_ms" -> runMs, "gc_ms" -> gcMs,
    "sched_wait_ms" -> schedWaitMs, "input_bytes" -> inBytes, "input_records" -> inRecords,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "output_bytes" -> outBytes, "output_records" -> outRecords)
}

/** One timed region of the client thread. */
final class Span(val id: Int, val parent: Int, val name: String, val layer: String,
                 val startMs: Long, val startNs: Long) {
  var endMs: Long = startMs
  var endNs: Long = startNs
  def durMs: Double = (endNs - startNs) / 1e6
}

/** Spans around the benchmark's calls plus a SparkListener that attributes
  * every job, stage and task to the span that was open when it was
  * submitted: each span sets the Spark job group to its id, and the
  * listener reads the group back from the job's properties. With `on`
  * false a span only runs its body (the untraced rounds of a traced run
  * keep the listener registered but attribute nothing). */
final class Tracer(sc: SparkContext, register: Boolean) {
  @volatile var on = false
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil

  private val lock = new Object
  private val byStage = mutable.Map[Int, Int]()
  private val stageSubmit = mutable.Map[(Int, Int), Long]()
  private val perSpan = mutable.Map[Int, Counters]()
  /** (submission ms, completion ms) of every completed stage. */
  private val stageIntervals = mutable.ArrayBuffer[(Long, Long)]()
  private val rddBlocks = mutable.Map[String, Long]()
  private var storageBytes = 0L
  var storagePeakBytes = 0L
  var blocksDropped = 0L
  @volatile private var jobsStarted = 0L
  @volatile private var jobsEnded = 0L

  private def counters(span: Int) = perSpan.getOrElseUpdate(span, new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(_.toIntOption).getOrElse(-1)
      e.stageIds.foreach(st => byStage(st) = span)
      counters(span).jobs += 1
      jobsStarted += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded += 1
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      val i = e.stageInfo
      stageSubmit((i.stageId, i.attemptNumber())) = i.submissionTime.getOrElse(System.currentTimeMillis())
      counters(byStage.getOrElse(i.stageId, -1)).stages += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; f <- i.completionTime) stageIntervals += ((s, f))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val c = counters(byStage.getOrElse(e.stageId, -1))
      c.tasks += 1
      stageSubmit.get((e.stageId, e.stageAttemptId)).foreach(s =>
        c.schedWaitMs += math.max(0L, e.taskInfo.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.inBytes += m.inputMetrics.bytesRead
        c.inRecords += m.inputMetrics.recordsRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outBytes += m.outputMetrics.bytesWritten
        c.outRecords += m.outputMetrics.recordsWritten
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val key = b.blockId.name
        storageBytes -= rddBlocks.remove(key).getOrElse(0L)
        if (b.storageLevel.isValid) {
          rddBlocks(key) = b.memSize + b.diskSize
          storageBytes += b.memSize + b.diskSize
          storagePeakBytes = math.max(storagePeakBytes, storageBytes)
        } else if (on) blocksDropped += 1
      }
    }
  }
  if (register) sc.addSparkListener(listener)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, layer,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s.id.toString, name)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id.toString, p.name)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Reset the heap-pool peaks and the storage peak at the start of the
    * traced window. */
  def startWindow(): Unit = lock.synchronized {
    heapPools.foreach(_.resetPeakUsage())
    storagePeakBytes = storageBytes
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Sum of the heap pools' peak usage since `startWindow` (an upper bound
    * of the peak heap). */
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Wait until the listener has seen the end of every job it saw start. */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobsEnded < jobsStarted && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(100)
  }

  private def children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  /** Counters of a span and all of its descendants. */
  def inclusive(s: Span): Counters = lock.synchronized {
    val c = new Counters
    def walk(x: Span): Unit = {
      perSpan.get(x.id).foreach(c.add)
      children.getOrElse(x.id, Nil).foreach(walk)
    }
    walk(s)
    c
  }

  def exclusive(s: Span): Counters = lock.synchronized(perSpan.getOrElse(s.id, new Counters))

  def selfMs(s: Span): Double = s.durMs - children.getOrElse(s.id, Nil).map(_.durMs).sum

  /** Span time (ms) during which no stage was running. */
  def driverGapMs(s: Span): Double = lock.synchronized {
    val iv = stageIntervals.iterator
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0.0, (s.endMs - s.startMs) - covered)
  }

  /** Spans as JSON lines (one object per span, exclusive counters). */
  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    val c = exclusive(s).fields.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
    s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
      s""""layer": ${Json.str(s.layer)}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
      s""""dur_ms": ${Json.num(s.durMs)}, "self_ms": ${Json.num(selfMs(s))}, $c}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString
}
