package graft.llm

import graft.SparkSpec

/** Binary-index maintenance (VERDICT r9 item 5): signing is per-row
  * independent given the frozen means, so the snapshot-served add must be
  * BIT-IDENTICAL to a from-scratch signing of the full corpus — the
  * strongest equivalence in the maintenance matrix (IVF/graph adds are
  * merely result-equal; here even intermediate signatures match). The
  * drift monitor must segment exactly on the base cut and measure the
  * frozen means' fit, with a balanced set-bit rate on the segment the
  * means trained on. Bit-exactness of the emitted frames is the DuckDB
  * oracle's job (q_sim_binary_upsert / q_sim_binary_drift hash-checked). */
class BinaryUpsertSpec extends SparkSpec {

  test("serve-after-add equals the from-scratch rebuild, bit for bit") {
    val got = BinaryMaintenance.upsertServe(spark, sf).collect().toSeq
    val want = BinaryMaintenance.rebuildServe(spark, sf).collect().toSeq
    assert(got == want)
  }

  test("serve shape: 10 ranked rows per query, no self, flags consistent") {
    val cut = Segments.cut(spark, sf, "embeddings")
    val got = BinaryMaintenance.upsertServe(spark, sf).collect()
    val byQ = got.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until 8L).toSet)
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getLong(4)).sorted.toSeq == (1L to 10L))
      assert(!rs.map(_.getLong(1)).contains(q))
    }
    got.foreach { r =>
      assert(r.getLong(5) == (if (r.getLong(1) >= cut) 1L else 0L))
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 2L * Binary.HalfBits)
    }
  }

  test("the late batch is eligible: delta signatures are in the scanned set") {
    // is_new > 0 in the top-10 depends on the data; what the add must
    // guarantee is that the delta member exists, carries exactly the late
    // rows, and the serve reads base ∪ delta
    BinaryMaintenance.upsertServe(spark, sf).count() // publishes
    val cut = Segments.cut(spark, sf, "embeddings")
    val n = graft.Tables.t(spark, sf, "embeddings").count()
    val root = {
      // reach the snapshot through the public read path
      val snap = graft.etl.Warehouse.readSnapshot(spark,
        sigsRootOf(spark, sf))
      assert(snap.isDefined && snap.get.keySet == Set("base", "delta"))
      val base = graft.etl.Warehouse.readSnapshotMember(spark,
        sigsRootOf(spark, sf), "base", snap.get("base"))
      val delta = graft.etl.Warehouse.readSnapshotMember(spark,
        sigsRootOf(spark, sf), "delta", snap.get("delta"))
      assert(base.count() == cut)
      assert(delta.count() == n - cut)
      assert(delta.selectExpr("min(vec_id)").collect()(0).getLong(0) == cut)
    }
  }

  test("drift monitor: exact segment counts, balanced base bits, positive gap") {
    val cut = Segments.cut(spark, sf, "embeddings")
    val n = graft.Tables.t(spark, sf, "embeddings").count()
    val rows = BinaryMaintenance.drift(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(rows.keySet == Set("base", "late"))
    assert(rows("base")._1 == cut && rows("late")._1 == n - cut)
    rows.values.foreach { case (_, adev, rate) =>
      assert(adev > 0.0)
      assert(rate > 0.0 && rate < 1.0)
    }
    // mean-centered sign bits on the training segment sit near half-set
    // (mean != median so not exactly 0.5; the band is the health check a
    // deployment alarms on)
    val baseRate = rows("base")._3
    assert(baseRate > 0.35 && baseRate < 0.65,
      s"base segment bit rate $baseRate far from balanced — wrong means?")
    info(f"mean|x-mu| base=${rows("base")._2}%.4f late=${rows("late")._2}%.4f; " +
      f"bit rate base=$baseRate%.3f late=${rows("late")._3}%.3f")
  }

  test("frozen means publish once; later serves read the pointer") {
    BinaryMaintenance.upsertServe(spark, sf).count()
    val cv = graft.etl.Warehouse.currentVersion(spark, muTargetOf(spark, sf))
    val snap = graft.etl.Warehouse.readSnapshot(spark, sigsRootOf(spark, sf))
    assert(cv.isDefined && snap.isDefined)
    BinaryMaintenance.upsertServe(spark, sf).count()
    assert(graft.etl.Warehouse.currentVersion(spark,
      muTargetOf(spark, sf)) == cv)
    assert(graft.etl.Warehouse.readSnapshot(spark,
      sigsRootOf(spark, sf)) == snap,
      "a later serve republished the signature snapshot")
  }

  private def muTargetOf(s: org.apache.spark.sql.SparkSession, dir: String): String =
    BinaryMaintenance.muTarget(s, dir)
  private def sigsRootOf(s: org.apache.spark.sql.SparkSession, dir: String): String =
    BinaryMaintenance.sigs.root(s, dir)
}
