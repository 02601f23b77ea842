package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Pack-artifact compaction (VERDICT r12 item 2 — the 6th maintenance
  * family's lifecycle half): folding the delta bin segment into the base
  * is ONE snapshot-pointer swap, so the served layout is bit-identical at
  * every instant, reads one segment afterwards, and the pre-compaction
  * versions stay readable until vacuum. The spec owns the fixture's
  * snapshot root and restores a fresh state around itself so suite order
  * never matters (the CompactionSpec discipline). */
class PackCompactionSpec extends SparkSpec {

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }
  private def resetRoot(): Unit = {
    val d = new java.io.File(PackMaintenance.segments.root(spark, sf))
    if (d.exists()) rm(d)
  }

  private def sorted(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("doc_id", "chunk_idx").collect().toSeq

  test("the published layout IS the declared pack math, and compaction never moves a byte") {
    resetRoot()
    // the oracle-checked declaration, recomputed: base pack + delta chain
    val cut = Segments.cut(spark, sf, "documents")
    val fw = Window.partitionBy("chunk_hash").orderBy("doc_id", "chunk_idx")
    val uniq = Curation.chunkRows(spark, sf, Seq("source"))
      .withColumn("rn", row_number().over(fw))
      .filter(col("rn") === 1).drop("rn")
    val cols = Seq("doc_id", "chunk_idx", "source", "pack_shard",
      "n_tokens", "bin_id", "bin_offset", "is_new")
    val pBase = Curation.packBins(uniq.filter(col("doc_id") < cut))
      .withColumn("is_new", lit(0L)).select(cols.map(col): _*)
    val want = sorted(pBase.unionByName(
      Curation.packDeltaBins(uniq.filter(col("doc_id") >= cut), pBase)
        .withColumn("is_new", lit(1L)).select(cols.map(col): _*)))

    val before = sorted(PackMaintenance.serve(spark, sf))
    assert(before == want,
      "the published segments must reproduce the declared pack math bit-for-bit")
    val snapBefore = graft.etl.Warehouse.readSnapshot(spark,
      PackMaintenance.segments.root(spark, sf)).get
    assert(snapBefore.keySet == Set("base", "delta"))

    val snapAfter = PackMaintenance.segments.compact(spark, sf)
    assert(snapAfter.keySet == Set("base"),
      s"compaction must retire the delta member, got ${snapAfter.keySet}")
    assert(graft.etl.Warehouse.readSnapshot(spark,
      PackMaintenance.segments.root(spark, sf)).get == snapAfter)
    val after = sorted(PackMaintenance.serve(spark, sf))
    assert(after == before, "compaction changed the served layout")

    // two-phase retirement: pre-compaction members stay readable from
    // their immutable version dirs; vacuum then drops them (default grace
    // protects fresh versions — a concurrent publish looks exactly like
    // this — an explicit graceMs=0 models drained readers)
    val root = PackMaintenance.segments.root(spark, sf)
    val oldRows = snapBefore.toSeq.sortBy(_._1).map { case (m, v) =>
      graft.etl.Warehouse.readSnapshotMember(spark, root, m, v).count()
    }.sum
    assert(oldRows == before.length.toLong,
      "old snapshot versions must stay readable until vacuum")
    graft.etl.Warehouse.vacuumSnapshot(spark, root)
    assert(new java.io.File(s"$root/base/${snapBefore("base")}").exists(),
      "default grace window must protect fresh unreferenced versions")
    graft.etl.Warehouse.vacuumSnapshot(spark, root, graceMs = 0)
    assert(!new java.io.File(s"$root/delta").exists(),
      "vacuum must remove the retired member's directory")
    assert(!new java.io.File(s"$root/base/${snapBefore("base")}").exists(),
      "vacuum must remove the superseded base version")
    assert(sorted(PackMaintenance.serve(spark, sf)) == before,
      "post-vacuum serve changed the layout")
    resetRoot()
  }

  test("an empty delta member round-trips through the snapshot commit (schema preserved)") {
    // an ingest batch can legitimately dedup away entirely — the commit
    // must still produce a READABLE empty member (a hive-partitioned
    // empty write leaves no parquet footer; Warehouse re-writes it
    // unpartitioned), or the first serve after such a batch throws
    val root = java.nio.file.Files.createTempDirectory("pack_empty").toString
    val df = spark.range(5).selectExpr("id AS doc_id",
      "CAST(id % 2 AS STRING) AS source", "id AS bin_id")
    val snap = graft.etl.Warehouse.publishSnapshot(spark, root,
      Seq("base" -> df, "delta" -> df.filter(col("doc_id") < 0)), Some("source"))
    val back = graft.etl.Warehouse.readSnapshotMember(spark, root, "delta", snap("delta"))
    assert(back.count() == 0L)
    assert(back.columns.toSet == df.columns.toSet,
      "empty member must keep its schema")
    val b = graft.etl.Warehouse.readSnapshotMember(spark, root, "base", snap("base"))
    assert(b.unionByName(back.select(b.columns.map(col): _*)).count() == 5L,
      "the base ∪ empty-delta serve union must still resolve")
    rm(new java.io.File(root))
  }

  test("every resolved snapshot is complete: reader race sees all bin rows, once") {
    resetRoot()
    val n = PackMaintenance.serve(spark, sf).count() // initial {base, delta}
    val root = PackMaintenance.segments.root(spark, sf)
    @volatile var bad: Option[String] = None
    val reader = new Thread(() => {
      (1 to 8).foreach { _ =>
        // resolve ONCE, then read every member of that commit — a torn
        // commit would double or drop the delta rows
        val snap = graft.etl.Warehouse.readSnapshot(spark, root).get
        val rows = snap.toSeq.sortBy(_._1).map { case (m, v) =>
          graft.etl.Warehouse.readSnapshotMember(spark, root, m, v).count()
        }.sum
        if (rows != n) bad = Some(s"snapshot $snap resolved to $rows rows, want $n")
      }
    })
    reader.start()
    PackMaintenance.segments.compact(spark, sf)
    reader.join()
    assert(bad.isEmpty, bad.getOrElse(""))
    resetRoot()
  }
}
