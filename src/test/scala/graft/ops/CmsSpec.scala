package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** count_min_sketch_merge / count_min_sketch_estimate (graft.functions.Cms*):
  * the serve-many half of the CMS family. Pins (1) merged-partials probe ≥
  * exact count for EVERY key (CMS error is one-sided) and equality on this
  * domain-bounded key set, (2) merge-of-partials ≡ one directly-built
  * sketch, (3) the registered query's rows equal an exact count's. */
class CmsSpec extends SparkSpec {

  test("merged CMS estimates are >= exact and equal on the bounded domain") {
    val got = Aggregates.cmsHeavyHitters(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.Tables.t(spark, sf, "orders")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      assert(got(k) >= n, s"$k: CMS underestimated")
      assert(got(k) == n, s"$k: collision on a 5-key domain at eps=0.001")
    }
  }

  test("merge of yearly partials equals the directly-built sketch's answers") {
    import graft.functions.Cms
    val o = graft.Tables.t(spark, sf, "orders")
    o.createOrReplaceTempView("cms_orders")
    val direct = spark.sql(
      s"""SELECT count_min_sketch(o_orderpriority, ${Cms.Eps}d, ${Cms.Confidence}d, ${Cms.Seed}) AS sk
          FROM cms_orders""")
    val merged = spark.sql(
      s"""SELECT count_min_sketch_merge(sk) AS sk FROM (
            SELECT count_min_sketch(o_orderpriority, ${Cms.Eps}d, ${Cms.Confidence}d, ${Cms.Seed}) AS sk
            FROM cms_orders GROUP BY year(CAST(o_orderdate AS TIMESTAMP)))""")
    val keys = o.select("o_orderpriority").distinct()
    def probe(sk: org.apache.spark.sql.DataFrame) =
      keys.crossJoin(broadcast(sk))
        .select(col("o_orderpriority"),
          expr("count_min_sketch_estimate(sk, o_orderpriority)").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(probe(merged) == probe(direct))
  }

  test("q_agg_cms_topk equals an exact groupBy count row for row") {
    val exact = graft.Tables.t(spark, sf, "orders")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("approx_n"))
      .orderBy("o_orderpriority")
    assert(SparkEntry.queries("q_agg_cms_topk")(spark, sf).collect().map(_.toString).toSeq ==
      exact.collect().map(_.toString).toSeq)
  }
}
