package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** KMV/theta sketch set operations (q_agg_theta_ops): the sketch family
  * member that answers intersection/difference questions HLL cannot. The
  * DuckDB twin hash-checks every estimate bit-for-bit (deterministic integer
  * hash); this spec pins the SEMANTICS — exact mode below K, the
  * union-relative error contract above it, and the scale shape (k-bounded
  * heap build, no corpus-sized per-segment sort). */
class ThetaSpec extends SparkSpec {

  test("exact mode: below-K segments estimate every set size exactly") {
    // sf0.001 priorities hold ~130 distinct customers < ThetaK=256, so
    // theta = P and the estimator degenerates to exact counting
    val d = graft.Tables.t(spark, sf, "orders")
      .select(col("o_orderpriority").as("p"), col("o_custkey").as("c"))
      .distinct().collect().map(r => (r.getString(0), r.getLong(1)))
    val byP = d.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = Aggregates.thetaOps(spark, sf).collect()
    assert(got.length == byP.size * (byP.size - 1) / 2)
    got.foreach { r =>
      val (pa, pb) = (r.getString(0), r.getString(1))
      val xi = (byP(pa) & byP(pb)).size.toDouble
      val xd = (byP(pa) -- byP(pb)).size.toDouble
      assert(r.getDouble(2) == xi, s"($pa,$pb) inter: ${r.getDouble(2)} vs $xi")
      assert(r.getDouble(3) == xd, s"($pa,$pb) diff: ${r.getDouble(3)} vs $xd")
    }
  }

  test("sampling mode: 3000-key segments stay within the union-relative bound") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_theta").toString
    // A = 0..2999, B = 1500..4499: exact inter 1500, diff 1500, union 4500;
    // both segments exceed ThetaK so the estimator runs in sampling mode
    val rows = (0L until 3000L).map(c => ("A", c)) ++
      (1500L until 4500L).map(c => ("B", c))
    rows.toDF("o_orderpriority", "o_custkey")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val r = Aggregates.thetaOps(spark, dir).collect()
    assert(r.length == 1)
    val (ei, ed) = (r(0).getDouble(2), r(0).getDouble(3))
    val tol = 4500.0 * Aggregates.ThetaTol
    assert(math.abs(ei - 1500.0) <= tol, s"est_inter $ei vs exact 1500")
    assert(math.abs(ed - 1500.0) <= tol, s"est_diff $ed vs exact 1500")
    // and the declared bound query agrees with itself on the same corpus
    val b = Aggregates.thetaOpsBound(spark, dir).collect()
    assert(b.length == 1 && b(0).getBoolean(2) && b(0).getBoolean(3))
  }

  test("the bound holds on the fixture and the sketch build carries no per-segment sort") {
    val b = Aggregates.thetaOpsBound(spark, sf).collect()
    assert(b.nonEmpty)
    b.foreach(r => assert(r.getBoolean(2) && r.getBoolean(3),
      s"(${r.getString(0)},${r.getString(1)}) estimate out of tolerance"))
    // scale shape: the K-minima build is the top_structs heap aggregate —
    // no window ranking a corpus-sized frame by segment
    val plan = Aggregates.thetaOps(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("row_number"), s"sketch build ranks through a window:\n$plan")
  }
}
