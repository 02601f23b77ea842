package graft.perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One report line: a named figure with its unit and an optional note. */
final case class Figure(name: String, value: Double, unit: String, note: String = "")

/** A closed-loop workload: one client thread issuing ops back to back.
  *
  * `prepare` generates the inputs into a fresh directory; `round` runs
  * one round of ops (untimed warm-up when `record` is false) and stops
  * issuing ops once `deadline` passes, unless `mustComplete` is set.
  * Samples are kept apart for traced and untraced rounds so a traced run
  * can report the tracing overhead. */
abstract class Workload(val spark: SparkSession, val runner: Runner, val work: String,
                        val seed: Long) {
  /** The typical op and round, from the CPU samples (`op_cpu_s`,
    * `round_cpu_s`) or the wall samples (`op_s`, `round_s`). */
  def opFigure(s: Samples, cpu: Boolean): Figure
  def roundFigure(s: Samples, cpu: Boolean): Figure

  def prepare(): Unit
  def round(record: Boolean): Unit
  /** Output checks, after the timed window. */
  def check(): Unit
  /** The workload's own end-to-end figures from one sample set. */
  def figures(s: Samples): Seq[Figure]
  /** Per-layer figures from the traced rounds (trace runs only). */
  def perLayer(traced: Samples, rounds: Seq[Span]): Seq[Figure]
  /** Work a traced run does once after the window and its checks, outside
    * the rounds (so traced and untraced rounds run the same ops). */
  def afterWindow(): Unit = ()
  /** Further report lines. */
  def extraLines: Seq[String] = Nil
  /** Untimed warm-up rounds in set-up. */
  def warmRounds: Int = 1

  var deadline: Long = Long.MaxValue
  /** Set while a round must run to its end whatever the deadline. */
  var mustComplete = false
  def live: Boolean = mustComplete || System.nanoTime() < deadline

  val traced = new Samples
  val untraced = new Samples
  /** Record a cost as samples `name` (wall) and `name.cpu`. */
  def rec(record: Boolean, name: String, c: Cost): Unit =
    if (record) {
      val s = if (runner.tracer.on) traced else untraced
      s.add(name, c.wall)
      s.add(s"$name.cpu", c.cpu)
    }

  protected def tracer: Tracer = runner.tracer

  /** Spans of the traced rounds with the given name. */
  protected def spansNamed(rounds: Seq[Span], name: String): Seq[Span] = {
    val ids = rounds.map(_.id).toSet
    def under(s: Span): Boolean =
      s.parent >= 0 && (ids.contains(s.parent) || under(tracer.spans(s.parent)))
    tracer.spans.toSeq.filter(s => s.name == name && under(s))
  }

  protected def medianMs(s: Samples, name: String): Double =
    s.get(name).map(xs => Stats.median(xs) * 1000).getOrElse(0.0)
}

final class Samples {
  private val m = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def add(name: String, v: Double): Unit = m.getOrElseUpdate(name, mutable.ArrayBuffer()) += v
  def get(name: String): Option[Seq[Double]] = m.get(name).map(_.toSeq).filter(_.nonEmpty)
  def apply(name: String): Seq[Double] = get(name).getOrElse(Nil)
}

object Workload {
  /** Bytes of every file under `dir` whose top-level entry passes `keep`. */
  def bytesUnder(dir: java.io.File, keep: String => Boolean = _ => true): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L) else f.length
    Option(dir.listFiles).map(_.filter(f => keep(f.getName)).map(walk).sum).getOrElse(0L)
  }

  def filesUnder(dir: java.io.File): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0) else 1
    walk(dir)
  }

  /** A tail figure: the value at the highest percentile with at least 10
    * samples beyond it, the percentile and sample count in the note. */
  def tailFigure(name: String, xs: Seq[Double]): Figure = Stats.tail(xs) match {
    case Some(t) => Figure(name, t.value, "s", s"p${t.pct}, n=${t.n}, ${t.beyond} beyond")
    case None if xs.nonEmpty => Figure(name, xs.max, "s", s"max, n=${xs.size}: too few samples for a tail")
    case None => Figure(name, Double.NaN, "s", "no samples")
  }

  def medianFigure(name: String, xs: Seq[Double], unit: String = "s"): Figure =
    if (xs.isEmpty) Figure(name, Double.NaN, unit, "no samples")
    else Figure(name, Stats.median(xs), unit, s"median, n=${xs.size}")
}
