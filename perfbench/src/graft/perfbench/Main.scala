package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** The benchmark JVM. Runs one workload for a fixed measuring window and
  * writes everything it measured to `<work>/result.json`; `perfbench/run.py`
  * builds it, launches it, runs the DuckDB oracle check and prints the
  * result. Run `perfbench/run.py --help` for the options. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, traceOut: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1", m("work"),
      m.getOrElse("trace-out", ""))
  }

  /** One Spark task slot per core: the session is `local[<cores>]`. */
  val cores: Int = Runtime.getRuntime.availableProcessors()

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--self-test")) { SelfTest.run(); return }
    val o = parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o.work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tracer = new Tracer(spark.sparkContext, register = o.trace)
    val runner = new Runner(tracer)
    val w: Workload = o.workload match {
      case "etl_incremental" => new EtlIncremental(spark, runner, o.work, o.seed, coinsInitial = 2000)
      case "report_mix" => new ReportMix(spark, runner, o.work, o.seed, orders = 6000, docs = 1000, vecs = 1000)
      case other => sys.error(s"unknown workload $other")
    }

    // Set-up: session, inputs, warm-up rounds; setup_s is the wall time
    // from JVM start to the end of the warm-up.
    val t0Prep = System.nanoTime()
    w.prepare()
    val prepS = (System.nanoTime() - t0Prep) / 1e9
    val warmS = (1 to w.warmRounds).map { _ =>
      val t = System.nanoTime()
      w.round(record = false)
      (System.nanoTime() - t) / 1e9
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    // Timed window: closed loop, rounds back to back; the first round (the
    // first two, traced and untraced, in a traced run) always completes so
    // every op has a sample. A traced run alternates traced and untraced
    // rounds.
    if (o.trace) tracer.startWindow()
    val t0 = System.nanoTime()
    w.deadline = t0 + o.seconds * 1000000000L
    val minRounds = if (o.trace) 2 else 1
    var rounds = 0
    while ({ w.mustComplete = rounds < minRounds; w.live }) {
      tracer.on = o.trace && rounds % 2 == 0
      tracer.span("round", "bench")(w.round(record = true))
      rounds += 1
    }
    w.mustComplete = false
    tracer.on = false
    val windowS = (System.nanoTime() - t0) / 1e9
    w.deadline = Long.MaxValue
    // the window's storage and heap peaks, before the post-window work
    val peaks =
      if (!o.trace) Nil
      else {
        tracer.drain()
        Seq(Figure("spark.storage_peak_mb", tracer.storagePeakBytes / 1048576.0, "MB"),
          Figure("spark.blocks_dropped", tracer.blocksDropped.toDouble / ((rounds + 1) / 2), "count"),
          Figure("jvm.heap_peak_mb", tracer.heapPeakMb, "MB"))
      }

    w.check()
    if (o.trace) {
      tracer.on = true
      w.afterWindow()
      tracer.on = false
    }

    val lines = Seq.newBuilder[String]
    lines += f"workload ${o.workload}: seed ${o.seed}, $cores cores, window $windowS%.3f s, $rounds rounds"
    lines += f"setup: session $sessionS%.3f s, inputs $prepS%.3f s, warm-up rounds " +
      warmS.map(x => f"$x%.3f").mkString(" + ") + " s"
    val (gated, wall) = generic(w, w.untraced).splitAt(2)
    val e2e = gated :+ Figure("setup_s", setupS, "s")
    (e2e ++ wall ++ w.figures(w.untraced)).foreach(f => lines += show(f))
    w.extraLines.foreach(lines += _)
    lines += s"attempted ${runner.attempted}, failed ${runner.failed}, fail_ratio ${runner.failed.toDouble / math.max(1L, runner.attempted)}"
    runner.errors.foreach(e => lines += s"error: $e")

    val perLayer =
      if (!o.trace) Nil
      else {
        tracer.drain()
        val tracedRounds = tracer.spans.toSeq.filter(s => s.name == "round" && s.parent < 0)
        val traced = generic(w, w.traced)
        val overhead = traced.zip(generic(w, w.untraced)).map { case (a, b) =>
          Figure(s"trace.overhead.${a.name}", a.value - b.value, a.unit, "traced minus untraced")
        }
        lines += s"traced rounds ${tracedRounds.size}, untraced rounds ${rounds - tracedRounds.size}"
        (traced ++ w.figures(w.traced)).foreach(f => lines += show(f.copy(name = s"traced.${f.name}")))
        val layers = engine(tracer, tracedRounds, cores) ++ peaks ++ w.perLayer(w.traced, tracedRounds) ++ overhead
        if (o.traceOut.nonEmpty) {
          Files.createDirectories(Paths.get(o.traceOut).getParent)
          Files.write(Paths.get(o.traceOut), tracer.jsonLines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
          lines += s"spans: ${tracer.spans.size} written to ${o.traceOut}"
        }
        layers
      }
    perLayer.foreach(f => lines += show(f))

    val oracle = w match {
      case r: ReportMix => r.oracle.toSeq.map { case (q, out, sql) =>
        s"""{"query": ${Json.str(q)}, "result": ${Json.str(out)}, "sql": ${Json.str(sql)}}"""
      }
      case _ => Nil
    }
    val tablesDir = w match {
      case r: ReportMix => r.dir
      case _ => ""
    }
    def obj(fs: Seq[Figure]) = fs.map(f =>
      s"""${Json.str(f.name)}: {"value": ${Json.num(f.value)}, "unit": ${Json.str(f.unit)}}""")
      .mkString("{", ", ", "}")
    val json =
      s"""{"attempted": ${runner.attempted}, "failed": ${runner.failed}, """ +
        s""""end_to_end": ${obj(e2e)}, "per_layer": ${obj(perLayer)}, """ +
        s""""lines": ${lines.result().map(Json.str).mkString("[", ", ", "]")}, """ +
        s""""tables_dir": ${Json.str(tablesDir)}, "oracle": ${oracle.mkString("[", ", ", "]")}}"""
    Files.write(Paths.get(s"${o.work}/result.json"), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def show(f: Figure): String =
    s"${f.name} = ${Json.num(f.value)} ${f.unit}" + (if (f.note.nonEmpty) s" (${f.note})" else "")

  /** The op and round figures every workload reports: the gated CPU
    * figures `op_cpu_s`, `round_cpu_s`, then the wall `op_s`, `round_s`. */
  def generic(w: Workload, s: Samples): Seq[Figure] =
    for (cpu <- Seq(true, false); f <- Seq(w.opFigure _, w.roundFigure _)) yield f(s, cpu)

  /** Engine counters per traced round. */
  def engine(t: Tracer, rounds: Seq[Span], cores: Int): Seq[Figure] = {
    val n = math.max(1, rounds.size)
    val c = new Counters
    rounds.foreach(r => c.add(t.inclusive(r)))
    val wallMs = rounds.map(_.durMs).sum
    val layerSelf = rounds.flatMap { r =>
      def walk(s: Span): Seq[Span] = s +: t.spans.toSeq.filter(_.parent == s.id).flatMap(walk)
      walk(r)
    }.groupBy(_.layer).map { case (l, ss) => l -> ss.map(t.selfMs).sum }
    c.fields.map { case (k, v) => Figure(s"spark.$k", v.toDouble / n, if (k.endsWith("_ms")) "ms" else if (k.endsWith("_bytes")) "bytes" else "count") } ++ Seq(
      Figure("spark.driver_gap_ms", rounds.map(t.driverGapMs).sum / n, "ms"),
      Figure("spark.busy_frac", c.runMs / math.max(1.0, wallMs * cores), "ratio")) ++
      Seq("bench", "etl", "ops", "llm").map(l => Figure(s"layer.$l.self_ms", layerSelf.getOrElse(l, 0.0) / n, "ms"))
  }
}
