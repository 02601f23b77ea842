package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Per-dimension mean vector (Similarity.meanVector): shape (one row per
  * dimension, every row aggregating all n vectors), exactness of the
  * 2^48-scaled integer sums against a plain-Scala recomputation, and the
  * sum/mean consistency identity. */
class MeanVectorSpec extends SparkSpec {

  private lazy val rows =
    Similarity.meanVector(spark, sf).collect()
      .map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2), r.getDouble(3))))
      .toMap

  private lazy val vectors =
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)

  test("one row per dimension, every row aggregates all n vectors") {
    val d = vectors.head.length
    assert(rows.size == d)
    assert(rows.keys.forall(i => i >= 0 && i < d))
    assert(rows.values.forall(_._2 == vectors.length.toLong))
  }

  test("matches the scaled-integer recomputation exactly (bit-for-bit)") {
    val d = vectors.head.length
    val S = graft.Tables.MeanScale.toDouble
    (0 until d).foreach { i =>
      val ssx = vectors.map(v => (v(i) * S).toLong).sum
      val (sumX, n, meanX) = rows(i.toLong)
      assert(sumX == ssx.toDouble / S, s"sum_x[$i]")
      assert(meanX == ssx.toDouble / (n.toDouble * S), s"mean_x[$i]")
    }
  }

  test("mean is sum over count within one ulp") {
    rows.values.foreach { case (sumX, n, meanX) =>
      assert(math.abs(meanX - sumX / n.toDouble) <= math.ulp(meanX) * 2)
    }
  }
}
