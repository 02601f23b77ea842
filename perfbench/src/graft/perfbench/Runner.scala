package graft.perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.DataFrame
import scala.collection.mutable
import scala.util.control.NonFatal

/** What an op cost: wall seconds, and the CPU seconds the JVM's Java
  * threads spent while it ran — the client thread and Spark's scheduler
  * and task threads. Thread CPU time leaves out the JIT compiler and GC
  * threads (whose work lags the ops that cause it) and the time the
  * machine gave to other tenants (steal). */
final case class Cost(wall: Double, cpu: Double) {
  def +(o: Cost): Cost = Cost(wall + o.wall, cpu + o.cpu)
}

/** Runs the benchmark's operations: times each one, wraps it in a span,
  * and counts it as attempted — and as failed when it throws. A failed op
  * contributes no sample. */
final class Runner(val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer[String]()

  /** Run `body` as one op; Some((result, cost)) unless it threw. */
  def op[T](name: String, layer: String)(body: => T): Option[(T, Cost)] = {
    attempted += 1
    val t0 = System.nanoTime()
    val c0 = Runner.threadCpu()
    try {
      val r = tracer.span(name, layer)(body)
      Some((r, Cost((System.nanoTime() - t0) / 1e9, Runner.cpuSince(c0) / 1e9)))
    } catch {
      case NonFatal(e) =>
        failed += 1
        errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
        None
    }
  }

  /** Record one output check (counted like an op). */
  def check(name: String, ok: Boolean, detail: String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      errors += s"check $name failed: $detail".take(500)
    }
  }
}

object Runner {
  private val threads = ManagementFactory.getThreadMXBean

  /** CPU ns so far of each live Java thread. */
  def threadCpu(): Map[Long, Long] =
    threads.getAllThreadIds.iterator.map(i => i -> threads.getThreadCpuTime(i)).filter(_._2 >= 0).toMap

  /** CPU ns the Java threads spent since `before`; a thread that ended in
    * between is not counted. */
  def cpuSince(before: Map[Long, Long]): Long =
    threadCpu().iterator.map { case (i, t) => t - before.getOrElse(i, 0L) }.sum

  /** Materialize every column of every row of `df` without keeping it. */
  def sink(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
