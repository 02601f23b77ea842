package graft.llm

import graft.SparkSpec

/** Rank-aware retrieval metrics (MRR + nDCG@10): the metric identities a
  * hand example pins (hit only at rank r ⇒ rr = 1/r, dcg = discount_r),
  * the self-evaluation fixed point (the exact serve scores exactly 1.0 on
  * both metrics — the DCG fold and the IDCG literal are the same
  * fixed-order sum, so equality is bitwise, no epsilon; pinned in BOTH
  * metric spaces since r11 added the L2-graded ivfpq family), the audit
  * frame's shape over all six families, and that the driver-folded fused
  * ranking matches Fusion.fuseOf's frame ranking pair-for-pair.
  * Bit-exactness vs DuckDB is the oracle's job (shared discount literals
  * + the same fixed-order DCG term chain). */
class RankEvalSpec extends SparkSpec {

  private def localize(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
    df.select("q_id", "n_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("exact serve scores exactly 1.0 on rr and ndcg (bitwise fixed point)") {
    val brute = localize(Similarity.bruteTopK(spark, sf))
    val exact = brute.map(t => (t._1, t._2)).toSet
    val m = RankEval.metricsOf(brute, exact, "exact")
    assert(m.length == 8)
    m.foreach { r =>
      assert(r._3 == 1L, "first_hit must be rank 1")
      assert(r._4 == 1.0, "rr must be exactly 1.0")
      assert(r._6 == 1.0, "ndcg must be exactly 1.0 — same fold")
    }
  }

  test("the L2 exact serve is the same 1.0 fixed point (ivfpq's ground truth)") {
    // the composite grades against the EUCLIDEAN exact set — the fixed
    // point must hold there too, or the r11 ivfpq family's scale is off
    val bruteL2 = localize(IvfPq.bruteL2TopK(spark, sf))
    val exact = bruteL2.map(t => (t._1, t._2)).toSet
    val m = RankEval.metricsOf(bruteL2, exact, "exact_l2")
    assert(m.length == 8)
    m.foreach { r =>
      assert(r._3 == 1L && r._4 == 1.0 && r._6 == 1.0)
    }
  }

  test("hand example: single hit at rank 2 ⇒ rr = 1/2, dcg = discount_2") {
    val served = Seq((0L, 10L, 1L), (0L, 20L, 2L), (0L, 30L, 3L))
    val exact = Set((0L, 20L), (0L, 99L))
    val m = RankEval.metricsOf(served, exact, "hand")
    assert(m.length == 1)
    val d2 = java.lang.Double.parseDouble(RankEval.Discounts(1))
    val idcg = java.lang.Double.parseDouble(RankEval.IdcgLit)
    assert(m(0)._3 == 2L)
    assert(m(0)._4 == 0.5)
    assert(m(0)._5 == d2, "dcg must be exactly the rank-2 discount")
    assert(m(0)._6 == d2 / idcg)
  }

  test("no hit anywhere ⇒ all metrics exactly zero") {
    val m = RankEval.metricsOf(Seq((0L, 10L, 1L)), Set((0L, 99L)), "miss")
    assert(m(0)._3 == 0L && m(0)._4 == 0.0 && m(0)._5 == 0.0 && m(0)._6 == 0.0)
  }

  test("the driver-folded fused ranking equals Fusion.fuseOf pair-for-pair") {
    val fromFrame = localize(Fusion.fusedTopK(spark, sf))
    // recover the audit's internal fused ranking through the public
    // output: the 'fused' family's metrics must equal metrics computed
    // from the frame ranking — and stronger, the hand-rolled fold below
    // must reproduce the frame's pairs exactly
    val ivf = localize(Similarity.ivfTrainedTopK(spark, sf))
    val graph = localize(Similarity.graphSearchTopK(spark, sf))
    val bin = localize(Binary.topK(spark, sf))
    val members = Seq(ivf, graph, bin).map(_.map(t => (t._1, t._2) -> t._3).toMap)
    val pairs = Seq(ivf, graph, bin).flatMap(_.map(t => (t._1, t._2))).distinct
    val folded = pairs.map { p =>
      val sc = members.foldLeft(0.0) { (acc, m) =>
        acc + m.get(p).map(r => 1.0 / (Fusion.FusionK + r)).getOrElse(0.0)
      }
      (p._1, p._2, sc)
    }.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      rs.sortBy(t => (if (t._3 == 0.0) 0.0 else -t._3, t._2)).take(10)
        .zipWithIndex.map { case (t, i) => (t._1, t._2, (i + 1).toLong) }
    }.sortBy(t => (t._1, t._3))
    assert(folded == fromFrame.sortBy(t => (t._1, t._3)),
      "driver RRF fold diverged from the frame fusion")
  }

  test("the driver-folded hybrid ranking equals Fusion.hybridTopK pair-for-pair") {
    // both sides read the same published rankings (Rankings.lex / .ivf)
    val lex = localize(Rankings.lex(spark, sf).withColumnRenamed("r_lex", "rank"))
    val folded = RankEval.rrfFold(Seq(lex, localize(Rankings.ivf(spark, sf))))
    assert(folded.sortBy(t => (t._1, t._3)) ==
      localize(Fusion.hybridTopK(spark, sf)).sortBy(t => (t._1, t._3)),
      "driver RRF fold diverged from the hybrid frame fusion")
  }

  test("audit frame: 6 families × 8 queries, metrics in [0, 1]") {
    val rows = RankEval.rankQuality(spark, sf).collect()
    assert(rows.length == 48)
    assert(rows.map(_.getString(0)).distinct.sorted.toSeq ==
      Seq("binary", "fused", "graph", "hybrid", "ivf", "ivfpq"))
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
      // a query with NO first hit must have zero dcg, and vice versa
      assert((r.getLong(2) == 0L) == (r.getDouble(4) == 0.0))
    }
    val meanNdcg = rows.groupBy(_.getString(0))
      .map { case (f, rs) => f -> rs.map(_.getDouble(5)).sum / rs.length }
    info(s"mean ndcg@10 by family: ${meanNdcg.toSeq.sortBy(_._1).mkString(", ")}")
  }

  test("freshness audit: same frame contract over the upsert serves") {
    val rows = RankEval.rankQualityUpsert(spark, sf).collect()
    assert(rows.length == 48)
    assert(rows.map(_.getString(0)).distinct.sorted.toSeq ==
      Seq("binary", "fused", "graph", "hybrid", "ivf", "ivfpq"))
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
      assert((r.getLong(2) == 0L) == (r.getDouble(4) == 0.0))
    }
    val meanNdcg = rows.groupBy(_.getString(0))
      .map { case (f, rs) => f -> rs.map(_.getDouble(5)).sum / rs.length }
    info(s"mean upsert ndcg@10 by family: ${meanNdcg.toSeq.sortBy(_._1).mkString(", ")}")
  }

  test("rank diff: 6 families × 8 queries, conserved counts, late batch churns somewhere") {
    // (family, q_id, n_common, n_new, n_dropped, displacement, top1_changed)
    val rows = RankEval.rankDiff(spark, sf).collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSet.size == rows.length)
    assert(rows.map(_.getString(0)).toSet ==
      Set("ivf", "graph", "binary", "ivfpq", "fused", "hybrid"))
    assert(rows.length == 6 * Fusion.HybridQueries)
    rows.foreach { r =>
      val (common, nw, dropped) = (r.getLong(2), r.getLong(3), r.getLong(4))
      // both serves are top-10 frames: kept + entered and kept + dropped
      // each reconstruct one side's size
      assert(common + nw <= 10 && common + dropped <= 10, r.toString)
      assert(r.getLong(5) >= 0L, s"negative displacement: $r")
      assert(r.getLong(6) == 0L || r.getLong(6) == 1L, r.toString)
      // a changed top-1 implies SOME churn is visible in the same row
      if (r.getLong(6) == 1L)
        assert(nw > 0L || r.getLong(5) > 0L, s"top1 changed but no churn: $r")
    }
    // the late batch must be VISIBLE: at least one family/query pair
    // admits a new member (the fixture's delta carries new near-neighbors)
    assert(rows.exists(_.getLong(3) > 0L),
      "no family saw any top-10 change from the late batch")
  }
}
