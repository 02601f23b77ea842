package graft.perfbench

import graft.{SparkEntry, Tables}
import graft.llm.{Curation, CurationPipeline, Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** report_mix: the registered-query surface of the warehouse. One generated
  * table directory holds the star tables and an LLM corpus (documents +
  * embeddings); each pass runs the analyst report queries and the warm LLM
  * serve queries in a seed-permuted order.
  *
  * Build vs serve: set-up points the JVM temp dir (where every published
  * index lives) at a fresh state root and makes the first, index-building
  * call of the BM25 serve (`q_text_bm25`), so the timed passes only serve.
  * After the window a traced run builds and serves the ANN and hybrid
  * queries and measures their recall against the exact top-10, runs
  * `CurationPipeline.run()` on a cold root and times each curation stage
  * function on its own stage input; the passes are the same in traced and
  * untraced runs. */
final class ReportMix(spark: SparkSession, runner: Runner, work: String, seed: Long,
                      orders: Int, docs: Int, vecs: Int)
    extends Workload(spark, runner, work, seed) {
  import ReportMix._
  import Runner.sink

  /** One pass; every result is checked against DuckDB. */
  val mix: Seq[String] = Reports :+ Bm25

  var dir: String = _
  private var passes = 0
  private val buildS = mutable.LinkedHashMap[String, Double]()
  /** Warm ANN and hybrid serve times (traced runs). */
  private val annServe = new Samples
  private val rowsOut = mutable.Map[String, Long]()
  /** (query, result parquet dir, oracle SQL) for the DuckDB check. */
  val oracle = mutable.ArrayBuffer[(String, String, String)]()
  /** q_id -> n_ids of the ranked serves' first calls. */
  private val served = mutable.Map[String, Map[Long, Set[Long]]]()
  private var recall = (Double.NaN, Double.NaN)
  private var exactTopkMs = 0.0
  private var stateBytes = 0L
  private var curateS = Double.NaN
  private var stageRows: Seq[(String, Long)] = Nil
  private val stageMs = mutable.LinkedHashMap[String, Double]()

  private def run(q: String): DataFrame = SparkEntry.queries(q)(spark, dir)

  private def result(q: String) = s"$work/results/$q"

  private def pairs(df: DataFrame): Map[Long, Set[Long]] =
    df.select(col("q_id").cast("long"), col("n_id").cast("long")).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

  private def state = new java.io.File(s"$work/state")

  def prepare(): Unit = {
    dir = s"$work/tables"
    Gen.write(spark, dir, Gen.star(seed, orders) ++ Gen.corpus(seed, docs, vecs))
    state.mkdirs()
    System.setProperty("java.io.tmpdir", state.getPath)
    runner.op(s"$Bm25 build", "llm")(sink(run(Bm25))).foreach { case (_, t) => buildS(Bm25) = t.wall }
    stateBytes = Workload.bytesUnder(state, _.startsWith("graft_"))
  }

  // In a fresh JVM the per-query times fall steeply over the first two calls
  // and slowly after them.
  override val warmRounds = 2

  /** One pass in seed-permuted order. Timed passes materialize each result
    * through the noop sink; the first set-up pass writes the results the
    * checks read instead. */
  def round(record: Boolean): Unit = {
    val order = shuffled(mix, Gen.rng(seed, 100 + passes))
    passes += 1
    order.foreach { q =>
      if (live) runner.op(q, layerOf(q)) {
        if (record || passes > 1) sink(run(q))
        else run(q).coalesce(1).write.mode("overwrite").parquet(result(q))
      }.foreach { case (_, t) =>
        rec(record, "query", t)
        rec(record, q, t)
        rec(record, if (layerOf(q) == "ops") "report_query" else "serve", t)
      }
    }
  }

  private def perQueryMedians(s: Samples, cpu: Boolean): Option[Seq[Double]] = {
    val names = mix.map(q => if (cpu) s"$q.cpu" else q)
    if (names.exists(s.get(_).isEmpty)) None else Some(names.map(n => Stats.median(s(n))))
  }

  /** The typical query: the geometric mean of the per-query medians, so
    * each query weighs the same however long it runs and however many
    * samples the window held of it. */
  def opFigure(s: Samples, cpu: Boolean): Figure = {
    val name = if (cpu) "op_cpu_s" else "op_s"
    perQueryMedians(s, cpu) match {
      case Some(m) => Figure(name, math.exp(m.map(math.log).sum / m.size), "s",
        s"geometric mean of the ${mix.size} per-query medians, ${s("query").size} samples")
      case None => Figure(name, Double.NaN, "s", "some query has no sample")
    }
  }

  /** One pass over the mix, estimated as the sum of the per-query medians
    * (the window need not hold a whole number of passes). */
  def roundFigure(s: Samples, cpu: Boolean): Figure = {
    val name = if (cpu) "round_cpu_s" else "round_s"
    perQueryMedians(s, cpu) match {
      case Some(m) => Figure(name, m.sum, "s",
        s"sum of the ${mix.size} per-query medians, ${s("query").size} samples")
      case None => Figure(name, Double.NaN, "s", "some query has no sample")
    }
  }

  def check(): Unit =
    mix.foreach { q =>
      val n = if (new java.io.File(result(q)).isDirectory) spark.read.parquet(result(q)).count() else 0L
      rowsOut(q) = n
      runner.check(s"$q.rows", n > 0, "no result rows")
      if (n > 0) oracle += ((q, result(q), SparkEntry.oracleSql(q)))
    }

  override def afterWindow(): Unit = {
    ann()
    curate()
  }

  /** The ANN and hybrid serves: the first, index-building call of each,
    * one warm call, and the recall of the first call's top-10 against the
    * exact top-10. */
  private def ann(): Unit = {
    Ranked.foreach { q =>
      runner.op(s"$q build", "llm")(pairs(run(q))).foreach { case (p, t) => served(q) = p; buildS(q) = t.wall }
      runner.op(q, "llm")(sink(run(q))).foreach { case (_, t) => annServe.add(q, t.wall) }
    }
    stateBytes = Workload.bytesUnder(state, _.startsWith("graft_"))
    runner.op("q_sim_topk", "llm")(pairs(Similarity.bruteTopK(spark, dir))).foreach {
      case (exact, t) =>
        exactTopkMs = t.wall * 1000
        runner.check("llm.exact_top10", exact.size == QuerySet && exact.values.forall(_.size == 10),
          s"exact top-10 sizes: ${exact.map { case (q, n) => q -> n.size }}")
        def recallOf(q: String) = {
          val got = served.getOrElse(q, Map.empty)
          runner.check(s"llm.$q.answers_every_query", exact.keySet.subsetOf(got.keySet),
            s"answers ${got.size} of ${exact.size} queries")
          exact.map { case (id, want) => (got.getOrElse(id, Set.empty) & want).size }.sum.toDouble /
            math.max(1, exact.values.map(_.size).sum)
        }
        recall = (recallOf("q_sim_ivf_trained"), recallOf("q_retrieve_hybrid"))
    }
  }

  /** Curation on a cold root, then each stage function on its own stage
    * input. */
  private def curate(): Unit = {
    val root = s"$work/curate"
    runner.op("CurationPipeline.run", "llm") {
      val p = new CurationPipeline(spark, dir, root)
      p.run()
      p.stageRows
    }.foreach { case (rows, t) => stageRows = rows; curateS = t.wall }
    if (stageRows.isEmpty) return
    val src = Tables.t(spark, dir, "documents").count()
    def nonIncreasing(xs: Seq[Long]) = xs.sliding(2).forall(p => p.size < 2 || p(1) <= p(0))
    val rows = stageRows.toMap
    runner.check("llm.stage_rows_non_increasing",
      nonIncreasing(Seq(src) ++ Seq("s1_quality", "s2_dedup", "s3_decontam").map(rows)) &&
        nonIncreasing(Seq("packed", "s7_order").map(rows)),
      s"source=$src ${stageRows.map { case (n, c) => s"$n=$c" }.mkString(" ")}")
    def ids(df: DataFrame) = df.select(col("doc_id").cast("long")).collect().map(_.getLong(0)).toSet
    val packed = ids(spark.read.parquet(s"$root/packed.parquet"))
    val kept = ids(Tables.t(spark, s"$root/s3_decontam", "documents"))
    runner.check("llm.packed_from_decontaminated", packed.subsetOf(kept),
      s"${(packed -- kept).size} packed doc ids are not in the decontaminated set")
    def stage(name: String)(df: => DataFrame): Unit =
      runner.op(s"curate.$name", "llm")(sink(df)).foreach { case (_, t) => stageMs(name) = t.wall * 1000 }
    stage("quality")(Curation.qualityThreshold(spark, dir))
    stage("dedup_exact")(Dedup.exact(spark, s"$root/s1_quality"))
    stage("decontam")(Curation.contaminated(
      Tables.t(spark, s"$root/s2_dedup", "documents").filter(col("doc_id") % Curation.BenchMod =!= 0),
      Tables.t(spark, dir, "documents").filter(col("doc_id") % Curation.BenchMod === 0),
      Curation.ContainN))
    stage("bpe_train")(TextAnalysis.bpeTrain(spark, s"$root/s3_decontam"))
    // the chunk dedup stage is timed as the write of its output, which the
    // pack stage reads
    val uniq = s"$work/curate_uniq.parquet"
    runner.op("curate.chunk_dedup", "llm") {
      Curation.uniqChunks(spark, s"$root/s3_decontam").write.mode("overwrite").parquet(uniq)
    }.foreach { case (_, t) => stageMs("chunk_dedup") = t.wall * 1000 }
    stage("pack")(Curation.packBins(spark.read.parquet(uniq)))
    stage("curriculum")(Curation.curriculumOrder(spark, s"$root/s3_decontam"))
  }

  def figures(s: Samples): Seq[Figure] = Seq(
    roundFigure(s, cpu = false).copy(name = "report_pass_s"),
    Workload.medianFigure("report_query_p50_s", s("report_query")),
    Workload.tailFigure("report_query_tail_s", s("report_query")),
    Figure("index_build_s", buildS.values.sum, "s",
      "first calls on a cold state root: " +
        buildS.map { case (q, t) => f"$q $t%.3f" }.mkString(", ")),
    Workload.medianFigure("serve_p50_s", s("serve")),
    Workload.tailFigure("serve_tail_s", s("serve")),
    Figure("llm_state_bytes", stateBytes.toDouble, "bytes", "published under the state root by the index builds")) ++
    (if (served.nonEmpty) Seq(Figure("recall_at_10", (recall._1 + recall._2) / 2, "ratio",
      f"mean of ivf ${recall._1}%.4f and hybrid ${recall._2}%.4f against the exact top-10"))
    else Nil)

  def perLayer(t: Samples, rounds: Seq[Span]): Seq[Figure] = {
    val spans = mix.flatMap(q => spansNamed(rounds, q).map(q -> _))
    val reports = spans.filter(p => layerOf(p._1) == "ops").map { case (q, sp) => q -> tracer.inclusive(sp) }
    val serveSpans = (spans.filter(p => layerOf(p._1) == "llm").map(_._2) ++
      tracer.spans.filter(s => Ranked.contains(s.name))).map(tracer.inclusive)
    val rowsOutTotal = reports.map { case (q, _) => rowsOut.getOrElse(q, 0L) }.sum
    Reports.map(q => Figure(s"ops.${q}_ms", medianMs(t, q), "ms")) ++ Seq(
      Figure("ops.rows_in_per_row_out",
        reports.map(_._2.inRecords).sum.toDouble / math.max(1L, rowsOutTotal), "ratio"),
      Figure("ops.shuffle_bytes_per_query",
        reports.map(_._2.shuffleWrite).sum.toDouble / math.max(1, reports.size), "bytes"),
      Figure("llm.curate_ms", curateS * 1000, "ms")) ++
      Seq("quality", "dedup_exact", "decontam", "bpe_train", "chunk_dedup", "pack", "curriculum")
        .map(n => Figure(s"llm.curate.${n}_ms", stageMs.getOrElse(n, 0.0), "ms")) ++ Seq(
      Figure("llm.curate.stage_rows",
        stageRows.find(_._1 == "s3_decontam").map(_._2.toDouble).getOrElse(0.0), "count")) ++
      Serves.map(q => Figure(s"llm.${short(q)}_build_ms", buildS.getOrElse(q, 0.0) * 1000, "ms")) ++
      Serves.map(q => Figure(s"llm.${short(q)}_serve_ms", medianMs(if (q == Bm25) t else annServe, q), "ms")) ++ Seq(
      Figure("llm.exact_topk_ms", exactTopkMs, "ms"),
      Figure("llm.serve_rows_in_per_query",
        serveSpans.map(_.inRecords).sum.toDouble / math.max(1, serveSpans.size * QuerySet), "ratio"),
      Figure("llm.recall_at_10", (recall._1 + recall._2) / 2, "ratio"),
      Figure("llm.state_bytes", stateBytes.toDouble, "bytes"))
  }

  override def extraLines: Seq[String] =
    if (stageRows.isEmpty) Nil
    else Seq(f"curate_s = $curateS%.3f s (CurationPipeline.run on a cold root; stage rows " +
      stageRows.map { case (n, c) => s"$n=$c" }.mkString(" ") + ")")
}

object ReportMix {
  /** Registered analyst report queries that publish no state. */
  val Reports: Seq[String] = Seq(
    "q_join_region_revenue", "q_join_ship_priority", "q_join_market_share", "q_join_volume",
    "q_join_small_qty", "q_agg_groupby", "q_window_rank", "q_rollup", "q_scd2_asof")

  /** The serve in every pass. */
  val Bm25 = "q_text_bm25"

  /** Serves that return a (q_id, n_id) top-10 per query vector (traced
    * runs, after the window). */
  val Ranked: Seq[String] = Seq("q_sim_ivf_trained", "q_retrieve_hybrid")
  val Serves: Seq[String] = Bm25 +: Ranked

  def layerOf(q: String): String = if (Reports.contains(q)) "ops" else "llm"

  def short(q: String): String = q match {
    case "q_sim_ivf_trained" => "ivf"
    case "q_text_bm25" => "bm25"
    case "q_retrieve_hybrid" => "hybrid"
  }

  /** The query vectors every ranked serve answers (`vec_id < 8`). */
  val QuerySet = 8

  def shuffled[T](xs: Seq[T], r: java.util.SplittableRandom): Seq[T] = {
    val a = xs.toBuffer
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}
