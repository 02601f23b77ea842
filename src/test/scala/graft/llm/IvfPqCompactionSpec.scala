package graft.llm

import graft.SparkSpec

/** Composite-index compaction (VERDICT r8 item 4): the IVF-PQ delta code
  * lists fold into the base member through the same snapshot commit as the
  * plain-IVF family — books are FROZEN, so the fold is file-level (no
  * re-encode), the post-add serve is bit-identical before/after, and the
  * post-compaction serve reads exactly one cell-pruned code scan. */
class IvfPqCompactionSpec extends SparkSpec {

  private def root = IvfPq.upCodes.root(spark, sf)
  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }
  private def resetRoot(): Unit = {
    val d = new java.io.File(root)
    if (d.exists()) rm(d)
  }

  test("composite compaction changes layout, never served results — and retires the delta") {
    resetRoot()
    val before = IvfPq.upsertAdcTopK(spark, sf).collect().toSeq
    val snapBefore = graft.etl.Warehouse.readSnapshot(spark, root).get
    assert(snapBefore.keySet == Set("base", "delta"))
    val rowsBefore = snapBefore.toSeq.sortBy(_._1).map { case (m, v) =>
      graft.etl.Warehouse.readSnapshotMember(spark, root, m, v).count()
    }.sum
    // every vector carries M codes — the full-membership invariant
    val n = graft.Tables.t(spark, sf, "embeddings").count()
    assert(rowsBefore == n * IvfPq.M)

    val snapAfter = IvfPq.upCodes.compact(spark, sf)
    assert(snapAfter.keySet == Set("base"),
      s"compaction must retire the delta member, got ${snapAfter.keySet}")

    val after = IvfPq.upsertAdcTopK(spark, sf).collect().toSeq
    assert(after == before, "compaction changed served results")

    // file-level fold: same code rows, one table
    assert(graft.etl.Warehouse.readSnapshotMember(spark, root,
      "base", snapAfter("base")).count() == rowsBefore)

    // the post-compaction serve reads exactly ONE cell-pruned code scan
    val plan = IvfPq.upsertAdcTopK(spark, sf)
      .queryExecution.executedPlan.toString
    val pruned = "PartitionFilters: \\[[^\\]]*cent_id".r.findAllIn(plan).size
    assert(pruned == 1, s"expected one code scan post-compaction, got $pruned")

    // two-phase retirement, then vacuum (graceMs=0: readers drained)
    graft.etl.Warehouse.vacuumSnapshot(spark, root, graceMs = 0)
    assert(!new java.io.File(s"$root/delta").exists(),
      "vacuum must remove the retired member's directory")
    assert(IvfPq.upsertAdcTopK(spark, sf).collect().toSeq == before,
      "post-vacuum serve changed results")
    resetRoot()
  }

  test("reader race across composite compaction sees every code row, once") {
    resetRoot()
    IvfPq.upsertAdcTopK(spark, sf).count() // initial {base, delta}
    val total = graft.Tables.t(spark, sf, "embeddings").count() * IvfPq.M
    @volatile var bad: Option[String] = None
    val reader = new Thread(() => {
      (1 to 8).foreach { _ =>
        val snap = graft.etl.Warehouse.readSnapshot(spark, root).get
        val rows = snap.toSeq.sortBy(_._1).map { case (m, v) =>
          graft.etl.Warehouse.readSnapshotMember(spark, root, m, v).count()
        }.sum
        if (rows != total) bad = Some(s"snapshot $snap resolved to $rows rows, want $total")
      }
    })
    reader.start()
    IvfPq.upCodes.compact(spark, sf)
    reader.join()
    assert(bad.isEmpty, bad.getOrElse(""))
    resetRoot()
  }
}
