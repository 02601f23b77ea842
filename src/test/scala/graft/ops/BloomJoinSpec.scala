package graft.ops

import graft.{SparkEntry, SparkSpec}

/** Joins.bloomPrunedJoin: the explicit bloom runtime filter. Proves
  * (1) the filter is actually IN the executed plan (might_contain over a
  * subquery result against the fact side), (2) bit-identical results with
  * and without the bloom stage (no false negatives; exact join removes
  * false positives). */
class BloomJoinSpec extends SparkSpec {

  test("bloom-pruned plan carries might_contain against the fact scan") {
    val df = Joins.bloomPrunedJoin(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan.take(2000))
    df.collect() // and it executes
  }

  test("bloom-pruned join is bit-identical to the plain join") {
    val got = SparkEntry.queries("q_join_bloom")(spark, sf).collect().map(_.toString).toSeq
    // the same join without the bloom predicate, over the views it registered
    val want = spark.sql(
      """SELECT l.l_returnflag, count(*) AS n,
                CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         FROM graft_bloom_fact l
         JOIN graft_bloom_dim d ON l.l_orderkey = d.o_orderkey
         GROUP BY 1 ORDER BY 1""").collect().map(_.toString).toSeq
    assert(want.nonEmpty && got == want)
  }
}
