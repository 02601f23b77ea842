package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** kNN graph over the LSH-blocked candidates (Similarity.knnGraph): the
  * returned neighbors must be EXACTLY each vector's cosine top-3 among its
  * bucket-mates (recomputed here in plain Scala from the collected
  * vectors — same left-to-right IEEE accumulation, so the comparison is
  * bitwise), with dense ranks and non-increasing cosines. The blocking
  * stage itself is stress-pinned separately (AnnStressSpec). */
class KnnGraphSpec extends SparkSpec {

  private lazy val graph =
    Similarity.knnGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))

  private lazy val vectors: Map[Long, (Long, Array[Double])] = {
    val planes = Similarity.planesFor(
      graft.etl.TableStats.rowCount(spark, sf, "embeddings"))
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"),
        expr(References.bucketSql("embedding", planes)).as("bucket"),
        col("embedding").cast("array<double>").as("emb"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Double](2).toArray))
      .toMap
  }

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var dab = 0.0; var daa = 0.0; var dbb = 0.0
    var i = 0
    while (i < a.length) { dab += a(i) * b(i); daa += a(i) * a(i); dbb += b(i) * b(i); i += 1 }
    dab / (math.sqrt(daa) * math.sqrt(dbb))
  }

  test("graph rows are dense-ranked with non-increasing cosine per vector") {
    graph.groupBy(_._1).foreach { case (v, rows) =>
      val byRank = rows.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1L to byRank.length).toSeq, s"vec $v ranks")
      assert(byRank.map(_._4).toSeq == byRank.map(_._4).sorted.reverse.toSeq, s"vec $v cos order")
      assert(byRank.length <= Similarity.GraphK)
    }
  }

  test("neighbors are exactly the cosine top-3 among bucket-mates") {
    val expected = vectors.toSeq.flatMap { case (v, (bkt, emb)) =>
      val mates = vectors.toSeq
        .filter { case (u, (b2, _)) => u != v && b2 == bkt }
        .map { case (u, (_, e2)) => (u, cos(emb, e2)) }
        .sortBy { case (u, c) => (-c, u) }
        .take(Similarity.GraphK)
      mates.zipWithIndex.map { case ((u, c), i) => (v, (i + 1).toLong, u, c) }
    }.sortBy(x => (x._1, x._2))
    assert(graph.sortBy(x => (x._1, x._2)).toSeq == expected.toSeq)
  }
}
