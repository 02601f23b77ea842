package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Binary quantization: signature-shape invariants, independent bit
  * recount against a from-scratch Scala mean/sign pass, and the measured
  * quality contract — a 64-bit centered-sign signature shortlisting 50
  * candidates recalls most of the exact cosine top-10 after re-rank
  * (floors asserted under the measured values with margin; bit-exactness
  * of every emitted number is the DuckDB oracle's job). */
class BinarySpec extends SparkSpec {

  private lazy val embs: Array[(Long, Array[Double])] =
    graft.Tables.t(spark, sf, "embeddings").select("vec_id", "embedding")
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)

  /** From-scratch mean/sign recount mirroring the production numeric
    * discipline (scaled-BIGINT sums in BigInt space, double denominator). */
  private lazy val expectedSigs: Map[Long, (Long, Long)] = {
    val S = graft.Tables.MeanScale
    val d = embs.head._2.length
    val mu = (0 until d).map { i =>
      val ssx = embs.map { case (_, v) => BigInt((v(i) * S).toLong) }.sum
      ssx.toDouble / (embs.length.toDouble * S.toDouble)
    }
    embs.map { case (id, v) =>
      def half(off: Int): Long =
        (0 until Binary.HalfBits).map { i =>
          if (v(i + off) > mu(i + off)) 1L << i else 0L
        }.sum
      (id, (half(0), half(Binary.HalfBits)))
    }.toMap
  }

  test("every vector gets a signature; halves stay in unsigned-32 range") {
    val rows = Binary.codes(spark, sf).collect()
    assert(rows.length == embs.length)
    rows.foreach { r =>
      val (h0, h1) = (r.getLong(1), r.getLong(2))
      assert(h0 >= 0L && h0 < (1L << 32), s"vec ${r.getLong(0)}: h0=$h0")
      assert(h1 >= 0L && h1 < (1L << 32), s"vec ${r.getLong(0)}: h1=$h1")
    }
  }

  test("signatures match the independent mean/sign recount bit-for-bit") {
    Binary.codes(spark, sf).collect().foreach { r =>
      val exp = expectedSigs(r.getLong(0))
      assert((r.getLong(1), r.getLong(2)) == exp,
        s"vec ${r.getLong(0)}: got (${r.getLong(1)},${r.getLong(2)}), want $exp")
    }
  }

  test("centered bits are informative: no constant bit position") {
    val sigs = expectedSigs.values.toSeq
    val n = sigs.size
    (0 until Binary.HalfBits).foreach { i =>
      val s0 = sigs.count { case (h0, _) => (h0 >> i & 1L) == 1L }
      val s1 = sigs.count { case (_, h1) => (h1 >> i & 1L) == 1L }
      assert(s0 > 0 && s0 < n, s"bit $i of h0 constant ($s0/$n)")
      assert(s1 > 0 && s1 < n, s"bit ${i + Binary.HalfBits} constant ($s1/$n)")
    }
  }

  test("topK emits 10 ranked rows per query with hamming in range") {
    val rows = Binary.topK(spark, sf).collect()
    assert(rows.length == Binary.NQueries * 10)
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until Binary.NQueries).toSet)
    byQ.values.foreach { rs =>
      assert(rs.map(_.getLong(4)).sorted.toSeq == (1L to 10L))
      rs.foreach { r =>
        val hd = r.getLong(2)
        assert(hd >= 0L && hd <= 2L * Binary.HalfBits, s"hd=$hd")
        assert(r.getLong(1) != r.getLong(0), "self in results")
      }
    }
  }

  test("hamming shortlist + exact re-rank recalls the exact top-10") {
    val exact = Similarity.bruteTopK(spark, sf)
      .filter(col("q_id") < Binary.NQueries)
      .select("q_id", "n_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val got = Binary.topK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = exact.keys.toSeq
      .map(k => got.getOrElse(k, Set.empty[Long]).intersect(exact(k)).size / 10.0)
      .sum / exact.size
    info(f"binary recall@10 = $recall%.2f")
    assert(recall >= 0.5, f"recall@10 $recall%.2f under floor")
  }
}
