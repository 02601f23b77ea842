package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** NN-descent: per-round monotone improvement (candidates always include
  * the current edges, so the kept top-K can only get better), measured
  * convergence toward the TRUE kNN graph from the random init, and shape
  * invariants. Bit-exactness of every emitted number is the DuckDB
  * oracle's job (unrolled-rounds twin). */
class NnDescentSpec extends SparkSpec {

  private def edges(iters: Int): Map[Long, Set[Long]] =
    Similarity.descentGraph(spark, sf, iters)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  private def meanCos(iters: Int): Double = {
    val r = Similarity.descentGraph(spark, sf, iters)
      .agg(avg("cos")).collect()(0)
    r.getDouble(0)
  }

  private lazy val trueKnn: Map[Long, Set[Long]] = {
    val e = graft.Tables.t(spark, sf, "embeddings").select("vec_id", "embedding")
    val dot = Similarity.dotSql _
    val withN = e.select(col("vec_id"), col("embedding"),
      expr(s"sqrt(${dot("embedding", "embedding")})").as("nrm"))
    val b = withN.select(col("vec_id").as("dst"), col("embedding").as("de"),
      col("nrm").as("dn"))
    withN.crossJoin(b).filter(col("vec_id") =!= col("dst"))
      .withColumn("cos", expr(dot("embedding", "de")) / (col("nrm") * col("dn")))
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy("vec_id").orderBy(col("cos").desc, col("dst"))))
      .filter(col("rn") <= Similarity.GraphK)
      .select("vec_id", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
  }

  private def knnOverlap(g: Map[Long, Set[Long]]): Double = {
    val ks = trueKnn.keys.toSeq
    ks.map(k => g.getOrElse(k, Set.empty[Long]).intersect(trueKnn(k)).size
      .toDouble / trueKnn(k).size).sum / ks.size
  }

  test("every node keeps at most GraphK refined edges, none to itself") {
    val rows = Similarity.nnDescent(spark, sf).collect()
    val byNode = rows.groupBy(_.getLong(0))
    byNode.foreach { case (v, rs) =>
      assert(rs.length <= Similarity.GraphK)
      assert(rs.map(_.getLong(1)).sorted.toSeq == (1L to rs.length))
      assert(!rs.map(_.getLong(2)).contains(v), s"node $v has a self-edge")
    }
  }

  test("refinement is monotone: mean edge cosine climbs every round") {
    val m = (0 to Similarity.DescentIters).map(meanCos)
    info(m.map(v => f"$v%.3f").mkString("mean cos by round: ", " -> ", ""))
    m.sliding(2).foreach { case Seq(a, b) => assert(b >= a, s"$b < $a") }
    assert(m.last > m.head)
  }

  test("the refined graph converges toward the true kNN graph") {
    val o = (0 to Similarity.DescentIters).map(i => knnOverlap(edges(i)))
    info(o.map(v => f"$v%.2f").mkString("true-kNN overlap by round: ", " -> ", ""))
    assert(o.last > o.head)
    assert(o.last >= 0.3, f"final overlap ${o.last}%.2f under floor")
  }
}
