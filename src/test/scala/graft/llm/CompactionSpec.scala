package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Index compaction over the multi-table snapshot commit: folding the
  * delta into the base and retiring it is ONE pointer swap, so results
  * are identical at every instant, the post-compaction serve reads one
  * table, and the pre-compaction versions remain readable (time travel /
  * two-phase retirement). The spec owns the fixture's snapshot root and
  * restores a fresh state around itself so suite order never matters. */
class CompactionSpec extends SparkSpec {

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }
  private def resetRoot(): Unit = {
    val d = new java.io.File(IvfMaintenance.lists.root(spark, sf))
    if (d.exists()) rm(d)
  }

  test("compaction changes layout, never results — and retires the delta") {
    resetRoot()
    val before = IvfMaintenance.upsertServe(spark, sf).collect().toSeq
    val snapBefore = graft.etl.Warehouse.readSnapshot(spark,
      IvfMaintenance.lists.root(spark, sf)).get
    assert(snapBefore.keySet == Set("base", "delta"))

    val snapAfter = IvfMaintenance.lists.compact(spark, sf)
    assert(snapAfter.keySet == Set("base"),
      s"compaction must retire the delta member, got ${snapAfter.keySet}")
    assert(graft.etl.Warehouse.readSnapshot(spark,
      IvfMaintenance.lists.root(spark, sf)).get == snapAfter)

    val after = IvfMaintenance.upsertServe(spark, sf).collect().toSeq
    assert(after == before, "compaction changed served results")

    // the serve now reads ONE list table: exactly one cell-pruned scan
    val plan = IvfMaintenance.upsertServe(spark, sf)
      .queryExecution.executedPlan.toString
    val pruned = "PartitionFilters: \\[[^\\]]*cent_id".r.findAllIn(plan).size
    assert(pruned == 1, s"expected one list scan post-compaction, got $pruned")

    // two-phase retirement: the PRE-compaction members are still readable
    // from their immutable version dirs (a mid-flight reader that resolved
    // the old snapshot finishes consistently; vacuum comes later)
    val root = IvfMaintenance.lists.root(spark, sf)
    val oldRows = snapBefore.toSeq.sortBy(_._1).map { case (m, v) =>
      graft.etl.Warehouse.readSnapshotMember(spark, root, m, v).count()
    }.sum
    val n = graft.Tables.t(spark, sf, "embeddings").count()
    assert(oldRows == n, "old snapshot versions must stay readable until vacuum")

    // phase two: vacuum drops every unreferenced version — including the
    // retired delta member's whole directory — and the serve still works
    // the publish-race grace window (ADVICE r8) protects versions younger
    // than graceMs: the default leaves the seconds-old superseded versions
    // in place; an explicit graceMs=0 (readers drained, no publish in
    // flight — this spec's situation) drops them
    graft.etl.Warehouse.vacuumSnapshot(spark, root)
    assert(new java.io.File(s"$root/base/${snapBefore("base")}").exists(),
      "default grace window must protect fresh unreferenced versions " +
        "(a concurrent publish's members look exactly like this)")
    graft.etl.Warehouse.vacuumSnapshot(spark, root, graceMs = 0)
    assert(!new java.io.File(s"$root/delta").exists(),
      "vacuum must remove the retired member's directory")
    assert(!new java.io.File(s"$root/base/${snapBefore("base")}").exists(),
      "vacuum must remove the superseded base version")
    assert(IvfMaintenance.upsertServe(spark, sf).collect().toSeq == before,
      "post-vacuum serve changed results")
    resetRoot()
  }

  test("every resolved snapshot is complete: reader race sees all rows, once") {
    resetRoot()
    val n = graft.Tables.t(spark, sf, "embeddings").count()
    IvfMaintenance.upsertServe(spark, sf).count() // initial {base, delta}
    val root = IvfMaintenance.lists.root(spark, sf)
    @volatile var bad: Option[String] = None
    val reader = new Thread(() => {
      (1 to 8).foreach { _ =>
        // resolve ONCE, then read every member of that commit — the serve's
        // read discipline; a torn commit would double or drop the delta rows
        val snap = graft.etl.Warehouse.readSnapshot(spark, root).get
        val rows = snap.toSeq.sortBy(_._1).map { case (m, v) =>
          graft.etl.Warehouse.readSnapshotMember(spark, root, m, v).count()
        }.sum
        if (rows != n) bad = Some(s"snapshot $snap resolved to $rows rows, want $n")
      }
    })
    reader.start()
    IvfMaintenance.lists.compact(spark, sf)
    reader.join()
    assert(bad.isEmpty, bad.getOrElse(""))
    resetRoot()
  }
}
