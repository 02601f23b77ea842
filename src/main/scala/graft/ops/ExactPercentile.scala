package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT interpolated percentiles without the single-buffer hazard.
  *
  * Spark's `percentile()` aggregate buffers every distinct value of the
  * column in ONE aggregation buffer (an OpenHashMap inside
  * ObjectHashAggregate) — on a continuous column at 100 TB that buffer is
  * the OOM. This helper computes the IDENTICAL result through the
  * q_quality_threshold discipline: a value HISTOGRAM (groupBy value →
  * count, partial-aggregated, so the shuffle carries one row per DISTINCT
  * value) plus one cumulative window over histogram ROWS — cardinality
  * bounded by the value DOMAIN (money is cent-exact, days/counts are
  * integers), independent of row count — then conditional aggregation
  * picks the two bracketing keys per requested fraction.
  *
  * Bit-parity contract: reproduces `Percentile.getPercentile` exactly —
  * position p·(n−1); the value at 0-based sorted index j is the first
  * histogram value whose cumulative count exceeds j; the interpolation is
  * `(higher−position)·lowerKey + (position−lower)·higherKey` in that
  * operand order (NOT lo + frac·(hi−lo) — a different rounding). All
  * requested fractions ride ONE histogram pass.
  */
object ExactPercentile {

  /** One row per partition-key combination (one row total when `parts` is
    * empty) with a double column per (name, fraction). */
  def bounds(df: DataFrame, valueCol: Column,
             fracs: Seq[(String, Double)],
             parts: Seq[String] = Nil): DataFrame = {
    val pcols = parts.map(col)
    val counts = df.groupBy((pcols :+ valueCol.as("v")): _*)
      .agg(count(lit(1)).as("cnt"))
    // with no partition keys both windows below hold every histogram row
    // in one task
    val hist =
      if (parts.isEmpty) graft.Tables.guardSingleWindow(counts, "ExactPercentile histogram")
      else counts
    val ord =
      (if (parts.isEmpty) Window.orderBy("v")
       else Window.partitionBy(pcols: _*).orderBy("v"))
        .rowsBetween(Window.unboundedPreceding, 0)
    val full =
      if (parts.isEmpty) Window.partitionBy()
      else Window.partitionBy(pcols: _*)
    val cum = hist
      .withColumn("cum", sum("cnt").over(ord))
      .withColumn("nn", sum("cnt").over(full))
    // bracketing keys per fraction: lowerKey covers index floor(pos),
    // higherKey covers index ceil(pos); `cum > j` ⇔ this value's run of
    // sorted positions reaches past j, and min() picks the first such value
    val keyAggs = fracs.flatMap { case (nm, p) =>
      val pos = lit(p) * (col("nn") - lit(1)).cast("double")
      Seq(
        min(when(col("cum") > floor(pos), col("v").cast("double")))
          .as(s"${nm}_lk"),
        min(when(col("cum") > ceil(pos), col("v").cast("double")))
          .as(s"${nm}_hk"))
    }
    val agged = cum.groupBy(pcols: _*)
      .agg(max("nn").as("n_all"), keyAggs: _*)
    val outs = fracs.map { case (nm, p) =>
      val pos = lit(p) * (col("n_all") - lit(1)).cast("double")
      val lo = floor(pos)
      val hi = ceil(pos)
      when(lo === hi, col(s"${nm}_lk"))
        .otherwise((hi.cast("double") - pos) * col(s"${nm}_lk")
          + (pos - lo.cast("double")) * col(s"${nm}_hk"))
        .as(nm)
    }
    agged.select(pcols ++ outs :+ col("n_all"): _*)
  }
}
