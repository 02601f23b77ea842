package graft.perfbench

import graft.etl.{Ingest, Pipeline, Warehouse}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** etl_incremental: the reference's own job. Each cycle ingests one
  * generated snapshot and runs the pipeline to a published warehouse
  * version (`Pipeline.transform()`, then the rest of `Pipeline.run()`:
  * merge, publish, truncate, vacuum, archive); a reader step then scans
  * `dim()`, `fact()` and a small dim×fact report. */
final class EtlIncremental(spark: SparkSession, runner: Runner, work: String, seed: Long,
                           coinsInitial: Int)
    extends Workload(spark, runner, work, seed) {
  import Runner.sink

  // In a fresh JVM the cycle time falls steeply over the first four or so
  // cycles and slowly after them.
  override val warmRounds = 6

  def opFigure(s: Samples, cpu: Boolean): Figure = {
    val xs = s(if (cpu) "cycle.cpu" else "cycle")
    Workload.medianFigure(if (cpu) "op_cpu_s" else "op_s", xs).copy(note = s"cycle median, n=${xs.size}")
  }
  def roundFigure(s: Samples, cpu: Boolean): Figure = {
    val xs = s(if (cpu) "round.cpu" else "round")
    Workload.medianFigure(if (cpu) "round_cpu_s" else "round_s", xs)
      .copy(note = s"cycle + read, median, n=${xs.size}")
  }

  private var coins: Coins = _
  private var pipe: Pipeline = _
  private var root: String = _
  /** Rows the snapshots of the traced cycles changed. */
  private var changedTraced = 0L

  def prepare(): Unit = {
    root = s"$work/etl"
    coins = new Coins(seed, coinsInitial)
    pipe = new Pipeline(spark, root)
  }

  private def report() = pipe.fact().join(pipe.dim().select("id", "name"), "id")
    .select(col("name"), col("current_price_usd"), col("market_cap"), col("last_updated"))
    .orderBy(col("market_cap").desc, col("name")).limit(20)

  def round(record: Boolean): Unit = {
    if (!live) return
    val runId = f"${coins.cycles}%08d"
    val cycle = for {
      (_, ingest) <- runner.op("Ingest.snapshot", "etl") {
        Ingest.snapshot(spark, () => coins.next(), pipe.rawDir, runId)
      }
      (_, transform) <- runner.op("Pipeline.transform", "etl")(pipe.transform())
      (_, rest) <- runner.op("Pipeline.run", "etl")(pipe.run())
    } yield {
      rec(record, "ingest", ingest)
      rec(record, "transform", transform)
      rec(record, "merge_publish", rest)
      rec(record, "cycle", ingest + transform + rest)
      if (record && tracer.on) changedTraced += coins.changedRows
      ingest + transform + rest
    }
    if (!live) return
    for {
      c <- cycle
      (_, read) <- runner.op("read", "etl") {
        sink(pipe.dim())
        sink(pipe.fact())
        sink(report())
      }
    } {
      rec(record, "read", read)
      rec(record, "round", c + read)
    }
  }

  private def warehouseDir = new java.io.File(s"$root/warehouse")

  def check(): Unit = {
    import Coins._
    val dimRows = pipe.dim().collect().map(r =>
      DimRow(r.getAs[String]("id"), r.getAs[String]("name"), r.getAs[String]("symbol"),
        r.getAs[String]("image_url"))).toSeq
    val wantDim = coins.dim.values.toSeq.sortBy(_.id)
    runner.check("etl.dim_state", dimRows.sortBy(_.id) == wantDim,
      s"dim has ${dimRows.size} rows, expected ${wantDim.size}; first difference: " +
        dimRows.sortBy(_.id).zipAll(wantDim, null, null).find(p => p._1 != p._2))
    def opt(r: org.apache.spark.sql.Row, c: String): Option[Double] =
      if (r.isNullAt(r.fieldIndex(c))) None else Some(r.getAs[Double](c))
    val factRows = pipe.fact().collect().map { r =>
      FactRow(r.getAs[String]("id"), r.getAs[Double]("current_price_usd"),
        r.getAs[Double]("market_cap"), r.getAs[Int]("market_cap_rank"),
        r.getAs[Double]("total_volume"), r.getAs[Double]("price_change_percentage_24h"),
        r.getAs[Double]("market_cap_change_percentage_24h"), r.getAs[Double]("high_24h"),
        r.getAs[Double]("low_24h"), r.getAs[Double]("price_change_24h"),
        r.getAs[Double]("circulating_supply"), opt(r, "total_supply"), opt(r, "max_supply"),
        org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaTimestamp(
          r.getAs[java.sql.Timestamp]("last_updated")))
    }.toSeq.sortBy(_.id)
    val wantFact = coins.fact.values.toSeq.sortBy(_.id)
    runner.check("etl.fact_state", factRows == wantFact,
      s"fact has ${factRows.size} rows, expected ${wantFact.size}; first difference: " +
        factRows.zipAll(wantFact, null, null).find(p => p._1 != p._2))
    Seq(pipe.dimTarget, pipe.factTarget).foreach { t =>
      val v = Warehouse.versions(spark, t)
      runner.check(s"etl.one_live_version(${t.split('/').last})", v.size == 1,
        s"${v.size} versions live after vacuum: ${v.mkString(", ")}")
    }
  }

  private def spaceAmp: Double =
    Workload.bytesUnder(warehouseDir).toDouble / math.max(1L, coins.liveRawBytes)

  def figures(s: Samples): Seq[Figure] = Seq(
    Workload.medianFigure("etl_cycle_p50_s", s("cycle")),
    Workload.tailFigure("etl_cycle_tail_s", s("cycle")),
    Workload.medianFigure("etl_read_p50_s", s("read")),
    Figure("etl_space_amp", spaceAmp, "ratio",
      s"${Workload.bytesUnder(warehouseDir)} warehouse bytes / ${coins.liveRawBytes} raw bytes of live rows"))

  def perLayer(t: Samples, rounds: Seq[Span]): Seq[Figure] = {
    val cycles = t("cycle").size.max(1)
    val jobs = Seq("Ingest.snapshot", "Pipeline.transform", "Pipeline.run")
      .flatMap(spansNamed(rounds, _)).map(tracer.inclusive(_).jobs).sum
    val mergeOut = spansNamed(rounds, "Pipeline.run").map(tracer.inclusive(_).outRecords).sum
    val versions = Seq(pipe.dimTarget, pipe.factTarget).map(Warehouse.versions(spark, _).size).sum
    Seq(
      Figure("etl.ingest_ms", medianMs(t, "ingest"), "ms"),
      Figure("etl.transform_ms", medianMs(t, "transform"), "ms"),
      Figure("etl.merge_publish_ms", medianMs(t, "merge_publish"), "ms"),
      Figure("etl.read_ms", medianMs(t, "read"), "ms"),
      Figure("etl.jobs_per_cycle", jobs.toDouble / cycles, "count"),
      Figure("etl.rewrite_amp", mergeOut.toDouble / math.max(1L, changedTraced), "ratio"),
      Figure("etl.files_live", Workload.filesUnder(warehouseDir).toDouble, "count"),
      Figure("etl.versions_live", versions.toDouble, "count"),
      Figure("etl.space_amp", spaceAmp, "ratio"))
  }
}
