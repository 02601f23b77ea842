package graft.llm

import graft.SparkSpec

/** Lexical-index maintenance: tf/dl are per-document and df/stats are
  * additive integers, so the base∪delta serve must equal a full-corpus
  * rebuild BIT-FOR-BIT (the binary family's strongest-equivalence
  * contract), compaction must not move the serve, and the drift monitor
  * must segment exactly on the cut with zero OOV on the segment the
  * vocabulary trained on. Hash-exactness of the emitted frames is the
  * DuckDB oracle's job (q_text_bm25_upsert / q_text_bm25_drift). */
class LexUpsertSpec extends SparkSpec {

  private def root = LexMaintenance.snapRoot(spark, sf)
  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }
  private def resetRoot(): Unit = {
    val d = new java.io.File(root)
    if (d.exists()) rm(d)
  }

  test("serve-after-add equals the from-scratch rebuild, bit for bit") {
    resetRoot()
    val got = LexMaintenance.upsertServe(spark, sf).collect().toSeq
    val want = LexMaintenance.rebuildServe(spark, sf).collect().toSeq
    assert(got == want)
  }

  test("upsert serve equals q_text_bm25 plus the is_new flag") {
    val cut = Segments.cut(spark, sf, "documents")
    val up = LexMaintenance.upsertServe(spark, sf).collect().toSeq
    val plain = TextAnalysis.bm25(spark, sf).collect().toSeq
    assert(up.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) ==
      plain.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))),
      "the merged-member serve diverged from the single-index serve")
    up.foreach(r => assert(r.getLong(3) == (if (r.getLong(0) >= cut) 1L else 0L)))
  }

  test("the add is O(batch): delta members carry exactly the late slice") {
    resetRoot()
    LexMaintenance.upsertServe(spark, sf).count() // publishes
    val cut = Segments.cut(spark, sf, "documents")
    val n = graft.Tables.t(spark, sf, "documents").count()
    val snap = graft.etl.Warehouse.readSnapshot(spark, root)
    assert(snap.isDefined && snap.get.keySet == Set(
      "post_base", "post_delta", "vocab_base", "vocab_delta",
      "stats_base", "stats_delta"))
    val pd = graft.etl.Warehouse.readSnapshotMember(spark, root,
      "post_delta", snap.get("post_delta"))
    assert(pd.selectExpr("min(doc_id)").collect()(0).getLong(0) >= cut)
    val sd = graft.etl.Warehouse.readSnapshotMember(spark, root,
      "stats_delta", snap.get("stats_delta")).collect()(0)
    assert(sd.getLong(0) == n - cut, "delta stats must count only late docs")
  }

  test("compaction folds the deltas and the serve is bit-identical") {
    resetRoot()
    val before = LexMaintenance.upsertServe(spark, sf).collect().toSeq
    LexMaintenance.compact(spark, sf)
    val after = LexMaintenance.upsertServe(spark, sf).collect().toSeq
    assert(before == after, "compaction moved the serve")
    val snap = graft.etl.Warehouse.readSnapshot(spark, root).get
    val pd = graft.etl.Warehouse.readSnapshotMember(spark, root,
      "post_delta", snap("post_delta"))
    assert(pd.count() == 0L, "compaction left posting rows in the delta")
    resetRoot()
  }

  test("upsert serve reads pruned posting lists, never the corpus") {
    LexMaintenance.upsertServe(spark, sf).count() // publish outside the pin
    val p = LexMaintenance.upsertServe(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("documents.parquet"),
      s"post-publish serve still scans the corpus:\n${p.take(4000)}")
    // the query-term IN pushes into BOTH posting members (base and delta)
    assert("In\\(token".r.findAllIn(p).size >= 2,
      s"pushed In(token) missing from a posting member scan:\n${p.take(4000)}")
  }

  test("drift monitor: exact segment counts, zero base OOV, rate in [0,1]") {
    val cut = Segments.cut(spark, sf, "documents")
    val n = graft.Tables.t(spark, sf, "documents").count()
    val rows = LexMaintenance.drift(spark, sf).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    assert(rows.keySet == Set("base", "late"))
    assert(rows("base")._1 == cut && rows("late")._1 == n - cut)
    // the base segment IS the vocabulary: OOV must be exactly zero
    assert(rows("base")._3 == 0L && rows("base")._4 == 0L)
    assert(rows("base")._5 == 0.0)
    val (_, lateToks, lateOov, lateTypes, lateRate) = rows("late")
    assert(lateOov >= 0L && lateOov <= lateToks)
    assert(lateTypes <= lateOov || lateOov == 0L)
    assert(lateRate >= 0.0 && lateRate <= 1.0)
    info(f"late segment: $lateOov OOV tokens / $lateToks " +
      f"($lateTypes new types, rate $lateRate%.4f)")
  }
}
