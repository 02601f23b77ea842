package graft.llm

import graft.SparkSpec

/** IVF index maintenance: the O(batch) incremental add must be EXACTLY the
  * serve a from-scratch rebuild against the same frozen centroids would
  * produce, the late batch must actually be live in results, the add's
  * build must scan only the new rows, and the serve must stay cell-pruned
  * on BOTH list tables. Bit-exactness of the emitted frame is the DuckDB
  * oracle's job (q_sim_ivf_upsert hash-checked). */
class UpsertIvfSpec extends SparkSpec {

  test("serve-after-add equals the from-scratch rebuild, bit for bit") {
    val got = IvfMaintenance.upsertServe(spark, sf).collect().toSeq
    val want = IvfMaintenance.rebuildServe(spark, sf).collect().toSeq
    assert(got == want)
  }

  test("the late batch is live: new neighbors are served without a rebuild") {
    val served = IvfMaintenance.upsertServe(spark, sf)
      .selectExpr("sum(is_new)").collect()(0).getLong(0)
    assert(served > 0L, "no late-batch vector reached any top-10")
    // and every flag is consistent with the cut
    val cut = Segments.cut(spark, sf, "embeddings")
    IvfMaintenance.upsertServe(spark, sf).collect().foreach { r =>
      assert(r.getLong(4) == (if (r.getLong(1) >= cut) 1L else 0L))
    }
  }

  test("the incremental add scans only the new rows") {
    IvfMaintenance.upsertServe(spark, sf).count() // publishes the index
    val cut = Segments.cut(spark, sf, "embeddings")
    val plan = IvfMaintenance.assignSlice(spark, sf, cut, newRows = true)
      .queryExecution.executedPlan.toString
    val embScans = plan.linesIterator.filter(_.contains("embeddings.parquet")).toSeq
    assert(embScans.nonEmpty)
    embScans.foreach(l =>
      assert(l.contains("GreaterThanOrEqual(vec_id"),
        s"the add's corpus scan is not slice-pruned (a base re-scan):\n$l"))
  }

  test("the serve prunes BOTH list tables to the probed cells") {
    IvfMaintenance.upsertServe(spark, sf).count()
    val plan = IvfMaintenance.upsertServe(spark, sf)
      .queryExecution.executedPlan.toString
    val pruned = "PartitionFilters: \\[[^\\]]*cent_id".r.findAllIn(plan).size
    assert(pruned >= 2,
      s"expected cell pruning on base AND delta list scans, got $pruned:\n$plan")
  }

  test("drift monitor: exact segment counts, and the base fits its own index better") {
    val cut = Segments.cut(spark, sf, "embeddings")
    val n = graft.Tables.t(spark, sf, "embeddings").count()
    val rows = IvfMaintenance.drift(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(rows.keySet == Set("base", "late"))
    assert(rows("base")._1 == cut && rows("late")._1 == n - cut)
    // the centroids trained on the base — their fit to the late batch can
    // only trail it (measured 0.34 vs 0.22 at sf0.001); a late segment that
    // FIT BETTER would mean the monitor's segments are swapped
    assert(rows("base")._2 >= rows("late")._2,
      s"drift direction inverted: $rows")
    rows.values.foreach { case (_, mean, mn) => assert(mn <= mean) }
  }

  test("frozen-index versions publish once; later serves read the pointers") {
    IvfMaintenance.upsertServe(spark, sf).count()
    val cv = graft.etl.Warehouse.currentVersion(spark,
      IvfMaintenance.centsTarget(spark, sf))
    val snap = graft.etl.Warehouse.readSnapshot(spark,
      IvfMaintenance.lists.root(spark, sf))
    assert(cv.isDefined && snap.isDefined)
    assert(snap.get.keySet == Set("base", "delta"),
      s"fresh index must snapshot both members, got ${snap.get.keySet}")
    IvfMaintenance.upsertServe(spark, sf).count()
    assert(graft.etl.Warehouse.currentVersion(spark,
      IvfMaintenance.centsTarget(spark, sf)) == cv)
    assert(graft.etl.Warehouse.readSnapshot(spark,
      IvfMaintenance.lists.root(spark, sf)) == snap,
      "a later serve republished the list snapshot")
  }
}
