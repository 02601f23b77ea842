package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Product quantization: code-range/shape invariants, train-once/serve-many
  * through the published codebooks, and the measured quality contract —
  * ADC alone recalls ~0.34@10 at this compression (8×16 codes over 64
  * dims = 64×), and the exact re-rank of the 50-candidate shortlist
  * roughly doubles it (measured 0.68/0.71 at sf0.001/sf0.01). The floors
  * asserted here sit under the measured values with margin; the
  * bit-exactness of every emitted number is the DuckDB oracle's job. */
class PqSpec extends SparkSpec {

  private def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  private lazy val exactTop10: Map[Long, Set[Long]] = {
    val e = graft.Tables.t(spark, sf, "embeddings").select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < Pq.NQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val d2 = Clustering.dist2Sql _
    topSets(q.crossJoin(e).filter(col("q_id") =!= col("vec_id"))
      .withColumn("d2", expr(d2("qe", "embedding")))
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy("q_id").orderBy(col("d2"), col("vec_id"))))
      .filter(col("rn") <= 10)
      .select(col("q_id"), col("vec_id").as("n_id")))
  }

  private def recall(got: Map[Long, Set[Long]]): Double = {
    val ks = exactTop10.keys.toSeq
    ks.map(k => got.getOrElse(k, Set.empty[Long]).intersect(exactTop10(k)).size / 10.0)
      .sum / ks.size
  }

  test("codes are M 4-bit entries per vector, every vector encoded") {
    val rows = Pq.codes(spark, sf).collect()
    val n = graft.Tables.t(spark, sf, "embeddings").count()
    assert(rows.length.toLong == n)
    rows.foreach { r =>
      val cs = r.getString(1).split(",").map(_.toLong)
      assert(cs.length == Pq.M, s"vec ${r.getLong(0)}: ${cs.length} codes")
      assert(cs.forall(c => c >= 0 && c < Pq.K), s"vec ${r.getLong(0)}: $cs")
    }
  }

  test("codebooks publish once and serve from the pointer after") {
    val t = Pq.pqTarget(spark, sf)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    val d = new java.io.File(t)
    if (d.exists()) rm(d)
    assert(!graft.etl.Warehouse.exists(spark, t))
    Pq.codes(spark, sf).count()
    val v = graft.etl.Warehouse.currentVersion(spark, t)
    assert(v.isDefined, "first call must publish the trained codebooks")
    Pq.adcTopK(spark, sf).count()
    assert(graft.etl.Warehouse.currentVersion(spark, t) == v,
      "later calls must serve the published version, not retrain")
  }

  test("ADC recall clears the raw-PQ floor; exact re-rank roughly doubles it") {
    val adc = recall(topSets(Pq.adcTopK(spark, sf)))
    val rr = recall(topSets(Pq.rerankTopK(spark, sf)))
    assert(adc >= 0.2, s"ADC recall@10 $adc under floor")
    assert(rr >= 0.5, s"re-ranked recall@10 $rr under floor")
    assert(rr >= adc, s"re-rank must not lose recall: $rr < $adc")
  }

  test("re-ranked distances are the exact distances (shortlist only pays)") {
    // every (q, n) the re-rank emits carries the true euclidean d2 — spot
    // check against a direct computation
    val e = graft.Tables.t(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def d2(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    Pq.rerankTopK(spark, sf).collect().foreach { r =>
      assert(r.getDouble(2) == d2(e(r.getLong(0)), e(r.getLong(1))))
    }
  }
}
