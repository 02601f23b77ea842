package graft.llm

import graft.SparkSpec

/** Binary-family compaction: folding the delta signatures into a refreshed
  * base member is ONE snapshot-pointer swap — the upsert serve is
  * bit-identical before/after (file-level fold: same signature multiset,
  * the frozen means never re-enter), pre-compaction versions stay readable
  * until vacuum, and a racing reader that resolves the pointer once can
  * never see a torn commit. Mirrors GraphCompactionSpec / CompactionSpec /
  * IvfPqCompactionSpec, closing the compaction leg on the last family
  * that lacked it. The spec owns the fixture's snapshot root and restores
  * a fresh state around itself so suite order never matters. */
class BinaryCompactionSpec extends SparkSpec {

  private def root = BinaryMaintenance.sigs.root(spark, sf)
  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }
  private def resetRoot(): Unit = {
    val d = new java.io.File(root)
    if (d.exists()) rm(d)
  }

  test("binary compaction changes layout, never served results — and retires the delta") {
    resetRoot()
    val before = BinaryMaintenance.upsertServe(spark, sf).collect().toSeq
    val snapBefore = graft.etl.Warehouse.readSnapshot(spark, root).get
    assert(snapBefore.keySet == Set("base", "delta"))
    val sigsBefore = snapBefore.toSeq.sortBy(_._1).map { case (m, v) =>
      graft.etl.Warehouse.readSnapshotMember(spark, root, m, v).count()
    }.sum

    val snapAfter = BinaryMaintenance.sigs.compact(spark, sf)
    assert(snapAfter.keySet == Set("base"),
      s"compaction must retire the delta member, got ${snapAfter.keySet}")
    assert(graft.etl.Warehouse.readSnapshot(spark, root).get == snapAfter)

    val after = BinaryMaintenance.upsertServe(spark, sf).collect().toSeq
    assert(after == before, "compaction changed served results")

    // file-level fold: the merged base carries the identical signature rows
    val sigsAfter = graft.etl.Warehouse.readSnapshotMember(spark, root,
      "base", snapAfter("base")).count()
    assert(sigsAfter == sigsBefore,
      s"merged base has $sigsAfter signatures, want $sigsBefore")

    // two-phase retirement: pre-compaction versions stay readable
    val oldRows = snapBefore.toSeq.sortBy(_._1).map { case (m, v) =>
      graft.etl.Warehouse.readSnapshotMember(spark, root, m, v).count()
    }.sum
    assert(oldRows == sigsBefore, "old snapshot versions must stay readable until vacuum")

    // phase two: vacuum drops the retired member and the superseded base
    // (graceMs=0 — readers drained, no publish in flight)
    graft.etl.Warehouse.vacuumSnapshot(spark, root, graceMs = 0)
    assert(!new java.io.File(s"$root/delta").exists(),
      "vacuum must remove the retired member's directory")
    assert(!new java.io.File(s"$root/base/${snapBefore("base")}").exists(),
      "vacuum must remove the superseded base version")
    assert(BinaryMaintenance.upsertServe(spark, sf).collect().toSeq == before,
      "post-vacuum serve changed results")
    resetRoot()
  }

  test("reader race across binary compaction sees every signature, once") {
    resetRoot()
    BinaryMaintenance.upsertServe(spark, sf).count() // initial {base, delta}
    val total = graft.etl.Warehouse.readSnapshot(spark, root).get
      .toSeq.sortBy(_._1).map { case (m, v) =>
        graft.etl.Warehouse.readSnapshotMember(spark, root, m, v).count()
      }.sum
    @volatile var bad: Option[String] = None
    val reader = new Thread(() => {
      (1 to 8).foreach { _ =>
        // resolve ONCE, then read every member of that commit — a torn
        // commit would double or drop delta signatures
        val snap = graft.etl.Warehouse.readSnapshot(spark, root).get
        val rows = snap.toSeq.sortBy(_._1).map { case (m, v) =>
          graft.etl.Warehouse.readSnapshotMember(spark, root, m, v).count()
        }.sum
        if (rows != total && bad.isEmpty)
          bad = Some(s"reader saw $rows signature rows, want $total")
      }
    })
    reader.start()
    BinaryMaintenance.sigs.compact(spark, sf)
    reader.join()
    assert(bad.isEmpty, bad.getOrElse(""))
    resetRoot()
  }
}
