package graft.ops

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** graft.functions.TopVals (the `top_vals` TypedImperativeAggregate):
  * bounded-buffer exact top-k per group. Pins (1) the registered query to
  * the declarative collect_list form bit-for-bit, (2) heap/merge
  * correctness against sort-based truth across many partitions, ties, and
  * k > group size, (3) null skipping. */
class TopKSpec extends SparkSpec {
  import spark.implicits._

  test("q_agg_topk is bit-identical without the custom aggregate") {
    val want = graft.Tables.t(spark, sf, "orders")
      .groupBy("o_orderpriority")
      .agg(expr(graft.llm.References.topValsSql("o_totalprice", 5)).as("arr"),
        count(lit(1)).as("n"))
      .select(col("o_orderpriority"),
        concat_ws("|", expr(
          "transform(arr, x -> CAST(CAST(x AS DECIMAL(18,2)) AS STRING))")).as("top5"),
        col("n"))
      .orderBy("o_orderpriority")
    val got = SparkEntry.queries("q_agg_topk")(spark, sf)
    assert(got.collect().map(_.toString).toSeq == want.collect().map(_.toString).toSeq)
  }

  test("top_vals equals sort-based truth across partitions, with ties and small groups") {
    // group 0: values with duplicates; group 1: fewer than k values; nulls mixed in
    val rows = (0 until 1000).map { i =>
      (i % 7, if (i % 13 == 0) null else java.lang.Double.valueOf((i % 31).toDouble))
    } ++ Seq((8, java.lang.Double.valueOf(1.5)), (8, null))
    val df = rows.toDF("g", "v").repartition(16)
    val got = df.groupBy("g")
      .agg(expr("top_vals(v, 5)").as("tv"))
      .orderBy("g").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1))
    val want = df.groupBy("g")
      .agg(expr("slice(sort_array(collect_list(v), false), 1, 5)").as("tv"))
      .orderBy("g").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1))
    assert(got.toSeq == want.toSeq)
    // group 8 has a single non-null value: result is shorter than k, null skipped
    assert(got.find(_._1 == 8).get._2 == Seq(1.5))
  }

  test("top_vals survives serialize/deserialize round trips (two-level shuffle merge)") {
    val df = (0 until 5000).map(i => (i % 3, i.toDouble)).toDF("g", "v")
      .repartition(32)
    val got = df.groupBy("g").agg(expr("top_vals(v, 3)").as("tv"))
      .orderBy("g").collect().map(_.getSeq[Double](1))
    val want = Seq(
      Seq(4998.0, 4995.0, 4992.0),
      Seq(4999.0, 4996.0, 4993.0),
      Seq(4997.0, 4994.0, 4991.0))
    assert(got.toSeq == want)
  }

  // top_structs (graft.functions.TopStructs): the payload-carrying
  // generalization the ANN serves rank through (VERDICT r7 item 1).

  test("top_structs equals the window rank in both directions, with score ties") {
    // scores collide every 31 values so the lower-id tiebreak is exercised;
    // 16 partitions force partial/merge paths
    val df = (0 until 2000).map(i => (i % 5, (i % 31).toDouble, i.toLong))
      .toDF("g", "v", "id").repartition(16)
    for (asc <- Seq(true, false)) {
      val got = graft.llm.Ranking
        .topKPerGroup(df, "g", "v", "id", 7, asc, "score", "out_id")
        .orderBy("g", "rank").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
        .orderBy(if (asc) col("v").asc else col("v").desc, col("id"))
      val want = df.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 7)
        .orderBy("g", "rank").collect()
        .map(r => (r.getInt(0), r.getLong(2), r.getDouble(1), r.getLong(3)))
      assert(got.toSeq == want.toSeq, s"asc=$asc")
    }
  }

  test("top_structs skips null scores and handles k > group size") {
    val rows = Seq(
      (0, java.lang.Double.valueOf(2.0), 10L),
      (0, null.asInstanceOf[java.lang.Double], 11L),
      (0, java.lang.Double.valueOf(5.0), 12L))
    val df = rows.toDF("g", "v", "id")
    val got = df.groupBy("g")
      .agg(expr("top_structs(v, id, 4, false)").as("t"))
      .collect()(0).getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getDouble(0), r.getLong(1)))
    assert(got == Seq((5.0, 12L), (2.0, 10L)))
  }

  test("top_structs survives two-level shuffle merges with a 32-way repartition") {
    val df = (0 until 5000).map(i => (i % 3, i.toDouble, i.toLong))
      .toDF("g", "v", "id").repartition(32)
    val got = df.groupBy("g").agg(expr("top_structs(v, id, 2, true)").as("t"))
      .orderBy("g").collect()
      .map(_.getSeq[org.apache.spark.sql.Row](1).map(r => r.getLong(1)))
    // smallest two values per residue class, ids ascending with the values
    assert(got.toSeq == Seq(Seq(0L, 3L), Seq(1L, 4L), Seq(2L, 5L)))
  }
}
