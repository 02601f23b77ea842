package graft.llm

import graft.SparkSpec

/** The composite family's staleness monitor: per-segment mean ADC
  * reconstruction error under the frozen coarse centroids + frozen
  * residual books. Segments must cut exactly at the maintenance split,
  * errors must be positive finite (a zero would mean codes are being
  * compared to themselves, not to quantized approximations), and the
  * base segment — the one BOTH stages trained on — must not fit worse
  * than the late segment by more than noise allows on an iid fixture.
  * Value-exactness is the DuckDB oracle's job (q_sim_ivfpq_drift). */
class IvfPqDriftSpec extends SparkSpec {

  test("segments cut at the maintenance split with exact counts") {
    val cut = Segments.cut(spark, sf, "embeddings")
    val n = graft.Tables.t(spark, sf, "embeddings").count()
    val rows = IvfPq.drift(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rows.keySet == Set("base", "late"))
    assert(rows("base")._1 == cut && rows("late")._1 == n - cut)
  }

  test("reconstruction error is positive, finite, and sane per segment") {
    val rows = IvfPq.drift(spark, sf).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    rows.foreach { case (seg, qerr) =>
      assert(qerr > 0.0 && java.lang.Double.isFinite(qerr),
        s"segment $seg mean_qerr $qerr — frozen-book encode broken?")
    }
    // iid fixture: the held-out late segment should quantize within a
    // small factor of the training segment (a large gap on iid data
    // would mean the encode path differs between slices)
    val ratio = rows("late") / rows("base")
    assert(ratio > 0.5 && ratio < 2.0,
      s"late/base reconstruction-error ratio $ratio out of the iid band")
    info(f"mean ADC reconstruction error: base=${rows("base")}%.6f " +
      f"late=${rows("late")}%.6f (ratio $ratio%.3f)")
  }

  test("drift runs off the published snapshot: no republish on re-run") {
    IvfPq.drift(spark, sf).count()
    val snap = graft.etl.Warehouse.readSnapshot(spark,
      IvfPq.upCodes.root(spark, sf))
    assert(snap.isDefined)
    IvfPq.drift(spark, sf).count()
    assert(graft.etl.Warehouse.readSnapshot(spark,
      IvfPq.upCodes.root(spark, sf)) == snap)
  }
}
