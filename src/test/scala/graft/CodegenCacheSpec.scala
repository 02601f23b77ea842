package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate

/** A repeated report compiles nothing: the session's compiled-code cache
  * (sized by GraftExtensions) holds every class one pass of the analyst
  * reports and the warm BM25 serve needs, so a second pass adds no Janino
  * compile. With Spark's default of 100 entries the ~170 classes of a pass
  * evict each other and nearly all recompile on every pass.
  *
  * Adaptive execution numbers its whole-stage codegen stages in the order
  * it re-plans, which follows stage completion timing; under CPU contention
  * a query can come out as a new plan whose classes were never compiled
  * (q_join_small_qty, seen on a loaded machine). Such a call is a new plan,
  * not a cache miss, so the count is asserted for every query whose final
  * plan repeats its first-pass plan. */
class CodegenCacheSpec extends SparkSpec {

  /** The nine analyst reports and the BM25 serve of one report_mix pass
    * (perfbench's ReportMix.Reports and ReportMix.Bm25). */
  private val mix = Seq(
    "q_join_region_revenue", "q_join_ship_priority", "q_join_market_share", "q_join_volume",
    "q_join_small_qty", "q_agg_groupby", "q_window_rank", "q_rollup", "q_scd2_asof",
    "q_text_bm25")

  private def sink(q: String): Unit =
    SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Classes compiled by one noop-sink materialization of `q`, and its final
    * adaptive plan with the per-call expression and plan ids blanked. */
  private def call(q: String): (Long, String) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case u: SparkListenerSQLAdaptiveExecutionUpdate
            if u.physicalPlanDescription.contains("isFinalPlan=true") =>
          plans.add(u.physicalPlanDescription)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      var n = 0L
      jobsDuring { val before = compiles; sink(q); n = compiles - before }
      val plan = plans.toArray.lastOption.fold("")(
        _.toString.replaceAll("#\\d+", "#").replaceAll("plan_id=\\d+", "plan_id="))
      (n, plan)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("the session's compiled-code cache is sized for the registered surface") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      graft.functions.GraftExtensions.CodegenCacheEntries.toString)
  }

  test("a second pass over the report_mix queries compiles no class") {
    inFreshStore {
      sink("q_text_bm25") // builds the index, so both passes only serve
      val first = mix.map(call).map(_._2)
      val second = mix.map(call)
      val repeated = mix.indices.filter(i => second(i)._2 == first(i))
      assert(repeated.size * 2 >= mix.size, s"plans repeated: ${repeated.map(mix)}")
      val recompiled = repeated.collect { case i if second(i)._1 > 0 => mix(i) -> second(i)._1 }
      assert(recompiled.isEmpty)
    }
  }
}
