package graft.llm

import graft.SparkSpec

/** Graph-family compaction (VERDICT r8 item 2): folding the inserted delta
  * edges into a refreshed base member is ONE snapshot-pointer swap — the
  * freshness serve is bit-identical before/after (the fold is file-level:
  * same edge multiset, one src-clustered segment), pre-compaction versions
  * stay readable until vacuum, and a racing reader that resolves the
  * pointer once can never see a torn commit. Mirrors CompactionSpec (the
  * IVF family's fold). The spec owns the fixture's snapshot root and
  * restores a fresh state around itself so suite order never matters. */
class GraphCompactionSpec extends SparkSpec {

  private def root = GraphMaintenance.serveEdges.root(spark, sf)
  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }
  private def resetRoot(): Unit = {
    val d = new java.io.File(root)
    if (d.exists()) rm(d)
  }

  test("graph compaction changes layout, never served results — and retires the delta") {
    resetRoot()
    val before = GraphMaintenance.upsertSearch(spark, sf).collect().toSeq
    val snapBefore = graft.etl.Warehouse.readSnapshot(spark, root).get
    assert(snapBefore.keySet == Set("base", "delta"))
    val edgesBefore = snapBefore.toSeq.sortBy(_._1).map { case (m, v) =>
      graft.etl.Warehouse.readSnapshotMember(spark, root, m, v).count()
    }.sum

    val snapAfter = GraphMaintenance.serveEdges.compact(spark, sf)
    assert(snapAfter.keySet == Set("base"),
      s"compaction must retire the delta member, got ${snapAfter.keySet}")
    assert(graft.etl.Warehouse.readSnapshot(spark, root).get == snapAfter)

    val after = GraphMaintenance.upsertSearch(spark, sf).collect().toSeq
    assert(after == before, "compaction changed served results")

    // file-level fold: the merged base carries the identical edge multiset
    val edgesAfter = graft.etl.Warehouse.readSnapshotMember(spark, root,
      "base", snapAfter("base")).count()
    assert(edgesAfter == edgesBefore,
      s"merged base has $edgesAfter edges, want $edgesBefore")

    // two-phase retirement: pre-compaction versions stay readable
    val oldRows = snapBefore.toSeq.sortBy(_._1).map { case (m, v) =>
      graft.etl.Warehouse.readSnapshotMember(spark, root, m, v).count()
    }.sum
    assert(oldRows == edgesBefore, "old snapshot versions must stay readable until vacuum")

    // phase two: vacuum drops the retired member and the superseded base
    // (graceMs=0 — readers drained, no publish in flight; the default
    // grace window's protection is pinned in CompactionSpec)
    graft.etl.Warehouse.vacuumSnapshot(spark, root, graceMs = 0)
    assert(!new java.io.File(s"$root/delta").exists(),
      "vacuum must remove the retired member's directory")
    assert(!new java.io.File(s"$root/base/${snapBefore("base")}").exists(),
      "vacuum must remove the superseded base version")
    assert(GraphMaintenance.upsertSearch(spark, sf).collect().toSeq == before,
      "post-vacuum serve changed results")
    resetRoot()
  }

  test("reader race across graph compaction sees every edge, once") {
    resetRoot()
    GraphMaintenance.upsertSearch(spark, sf).count() // initial {base, delta}
    val total = graft.etl.Warehouse.readSnapshot(spark, root).get
      .toSeq.sortBy(_._1).map { case (m, v) =>
        graft.etl.Warehouse.readSnapshotMember(spark, root, m, v).count()
      }.sum
    @volatile var bad: Option[String] = None
    val reader = new Thread(() => {
      (1 to 8).foreach { _ =>
        // resolve ONCE, then read every member of that commit — the serve's
        // read discipline; a torn commit would double or drop delta edges
        val snap = graft.etl.Warehouse.readSnapshot(spark, root).get
        val rows = snap.toSeq.sortBy(_._1).map { case (m, v) =>
          graft.etl.Warehouse.readSnapshotMember(spark, root, m, v).count()
        }.sum
        if (rows != total) bad = Some(s"snapshot $snap resolved to $rows edges, want $total")
      }
    })
    reader.start()
    GraphMaintenance.serveEdges.compact(spark, sf)
    reader.join()
    assert(bad.isEmpty, bad.getOrElse(""))
    resetRoot()
  }
}
