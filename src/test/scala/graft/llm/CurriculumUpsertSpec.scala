package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Frozen-base/delta proof for the pack-upsert (VERDICT r11 item 7): bin
  * coordinates are physical file offsets, so the add half must reproduce
  * the base layout BIT-IDENTICALLY and lay out late chunks into fresh
  * bins only — the q_sim_ivf_upsert contract applied to the training-data
  * artifact itself. */
class CurriculumUpsertSpec extends SparkSpec {

  private lazy val packed = Curation.curriculumPackUpsert(spark, sf).cache()

  test("base rows reproduce the base-only pack bit-identically") {
    val cut = Segments.cut(spark, sf, "documents")
    // the base-time artifact: the SAME shared stages run over base docs
    // only — what a pack job at the cut point would have shipped
    val fw = Window.partitionBy("chunk_hash").orderBy("doc_id", "chunk_idx")
    val uniqBase = Curation.chunkRows(spark, sf, Seq("source"))
      .filter(col("doc_id") < cut)
      .withColumn("rn", row_number().over(fw))
      .filter(col("rn") === 1).drop("rn")
    val lgBase = Curation.logitRows(spark, sf)
      .select("doc_id", "logit_milli").filter(col("doc_id") < cut)
    val expected = Curation.packBins(uniqBase)
      .join(Curation.splitAssign(spark, sf).select("doc_id", "split"), "doc_id")
      .filter(col("split") === "train")
      .join(Curation.curriculumOrderOf(lgBase), "doc_id")
      .select("doc_id", "chunk_idx", "source", "pack_shard", "n_tokens",
        "bin_id", "bin_offset", "stage", "shard", "seq")
      .orderBy("doc_id", "chunk_idx")
      .collect()
    val got = packed.filter(col("is_new") === 0L)
      .select("doc_id", "chunk_idx", "source", "pack_shard", "n_tokens",
        "bin_id", "bin_offset", "stage", "shard", "seq")
      .orderBy("doc_id", "chunk_idx")
      .collect()
    assert(got.sameElements(expected),
      "a late add must not move one byte (or one curriculum slot) of the frozen base artifact")
  }

  test("late chunks lay out into fresh bins only, past each (source, pack_shard)'s high-water bin") {
    val base = packed.filter(col("is_new") === 0L)
      .groupBy("source", "pack_shard").agg(max("bin_id").as("hw"))
    val delta = packed.filter(col("is_new") === 1L)
      .groupBy("source", "pack_shard").agg(min("bin_id").as("lo"))
    val joined = delta.join(base, Seq("source", "pack_shard"), "left").collect()
    assert(joined.nonEmpty, "fixture must produce late train chunks")
    joined.foreach { r =>
      val lo = r.getLong(r.fieldIndex("lo"))
      val hw = if (r.isNullAt(r.fieldIndex("hw"))) -1L else r.getLong(r.fieldIndex("hw"))
      assert(lo > hw,
        s"(${r.getString(0)}, shard ${r.getLong(1)}): delta bin $lo must start past the frozen high-water bin $hw")
    }
    // and the sharding is LIVE: the layout uses more than one shard per
    // source (the VERDICT r12 posture gate — one dominant source must
    // never serialize into a single window partition)
    val shardsPerSource = packed.groupBy("source")
      .agg(countDistinct("pack_shard").as("n_shards")).collect()
    assert(shardsPerSource.forall(_.getLong(1) > 1L),
      "every fixture source must fan out over >1 pack shard")
    // and every delta run starts at offset 0 of its first fresh bin:
    // no delta row ever shares a bin with a base row
    val shared = packed.filter(col("is_new") === 0L)
      .select("source", "pack_shard", "bin_id").distinct()
      .join(packed.filter(col("is_new") === 1L)
        .select("source", "pack_shard", "bin_id").distinct(),
        Seq("source", "pack_shard", "bin_id"))
      .count()
    assert(shared == 0L, "a frozen bin must never receive late bytes")
  }

  test("the incremental layout COMPOSES: a second add never moves the first two layouts") {
    // three segments by doc_id thirds — base, delta1, delta2 — chained
    // through the same packDeltaBins unit the query uses: frozen for add k
    // is base ∪ all earlier deltas, so k adds leave the first k−1 layouts
    // byte-identical and every new bin lands past the chained high water
    val fw = Window.partitionBy("chunk_hash").orderBy("doc_id", "chunk_idx")
    val uniq = Curation.chunkRows(spark, sf, Seq("source"))
      .withColumn("rn", row_number().over(fw))
      .filter(col("rn") === 1).drop("rn")
    val maxDoc = uniq.agg(max("doc_id")).collect()(0).getLong(0) + 1L
    val (c1, c2) = (maxDoc / 3, 2L * maxDoc / 3)
    val cols = Seq("doc_id", "chunk_idx", "source", "pack_shard", "n_tokens",
      "bin_id", "bin_offset")
    def sel(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).orderBy("doc_id", "chunk_idx").collect()
    val base = Curation.packBins(uniq.filter(col("doc_id") < c1))
      .select(cols.map(col): _*)
    val d1 = Curation.packDeltaBins(
      uniq.filter(col("doc_id") >= c1 && col("doc_id") < c2), base)
      .select(cols.map(col): _*)
    val frozen1 = base.unionByName(d1)
    val d2 = Curation.packDeltaBins(uniq.filter(col("doc_id") >= c2), frozen1)
      .select(cols.map(col): _*)
    // the add-2 layout starts past base ∪ delta1's high water,
    // per (source, pack_shard)
    val hw1 = frozen1.groupBy("source", "pack_shard").agg(max("bin_id").as("hw"))
    val lo2 = d2.groupBy("source", "pack_shard").agg(min("bin_id").as("lo"))
    val chained = lo2.join(hw1, Seq("source", "pack_shard"), "left").collect()
    assert(chained.nonEmpty)
    chained.foreach { r =>
      val hw = if (r.isNullAt(r.fieldIndex("hw"))) -1L else r.getLong(r.fieldIndex("hw"))
      assert(r.getLong(r.fieldIndex("lo")) > hw)
    }
    // chain-wide per-(source, pack_shard) bin DISJOINTNESS: no add ever
    // writes into a bin any earlier layout owns (base ⊥ d1 ⊥ d2) — the
    // byte-immutability invariant k adds must preserve
    val segs = Seq("base" -> base, "d1" -> d1, "d2" -> d2)
    for (i <- segs.indices; j <- segs.indices if i < j) {
      val shared = segs(i)._2.select("source", "pack_shard", "bin_id").distinct()
        .join(segs(j)._2.select("source", "pack_shard", "bin_id").distinct(),
          Seq("source", "pack_shard", "bin_id")).count()
      assert(shared == 0L,
        s"${segs(i)._1} and ${segs(j)._1} must own disjoint bins, shared $shared")
    }
    assert(sel(d1).nonEmpty && sel(d2).nonEmpty, "fixture must fill all three segments")
  }

  test("the late batch trains strictly after the frozen schedule") {
    val maxBase = packed.filter(col("is_new") === 0L)
      .agg(max("stage")).collect()(0).getLong(0)
    val minDelta = packed.filter(col("is_new") === 1L)
      .agg(min("stage")).collect()(0).getLong(0)
    assert(maxBase <= Curation.CurriculumStages.toLong)
    assert(minDelta > Curation.CurriculumStages.toLong,
      "delta stages must be the addendum past CurriculumStages")
  }
}
