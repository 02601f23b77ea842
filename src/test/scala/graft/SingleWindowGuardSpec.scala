package graft

import org.apache.spark.sql.functions._

/** Tables.guardSingleWindow: a frame within its row bound passes unchanged;
  * one above it fails the query with an error naming the input, its row
  * count and the bound. */
class SingleWindowGuardSpec extends SparkSpec {

  private def input = spark.range(10).select(col("id").as("v"))

  test("an input at its bound passes through unchanged") {
    val got = Tables.guardSingleWindow(input, "spec histogram", bound = 10)
    assert(got.columns.toSeq == Seq("v"))
    assert(got.collect().map(_.getLong(0)).sorted.toSeq == (0L until 10L))
  }

  test("an input above its bound fails with a clear error") {
    val e = intercept[Exception] {
      Tables.guardSingleWindow(input, "spec histogram", bound = 5).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains(
      "spec histogram: 10 rows enter a single-partition window, above its bound of 5")), msgs)
  }

  test("the guard adds no exchange in front of a single-partition window") {
    import org.apache.spark.sql.expressions.Window
    def exchanges(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      df.queryExecution.executedPlan.toString.split("\n").count(_.contains("Exchange"))
    }
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    val plain = input.withColumn("cum", sum("v").over(w))
    val guarded = Tables.guardSingleWindow(input, "spec histogram")
      .withColumn("cum", sum("v").over(w))
    assert(exchanges(guarded) == exchanges(plain))
  }
}
