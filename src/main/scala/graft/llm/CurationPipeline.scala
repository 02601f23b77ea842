package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** The COMPOSED training-data pipeline: raw documents → packed, split,
  * deduplicated token sequences — the path a pretraining run takes, built
  * from the registered operators so every stage's semantics are
  * oracle-checked in isolation (the composition itself is spec-checked by
  * CurationPipelineSpec: row accounting, dedup invariants, determinism).
  *
  * Stages and their scale posture (each writes a plain parquet table, so
  * every stage is a restart point and its output is independently
  * inspectable — the materialize-between-phases shape real corpus builds
  * use, because a 100 TB pipeline never runs as one job):
  *
  *  1. quality gate    — percentile-calibrated logit (map + 1-row broadcast)
  *  2. exact dedup     — min-id representative per sha256 class (digest shuffle)
  *  3. decontamination — drop benchmark docs AND training docs sharing a
  *                       shingle with one (set-deduped shingle equi-join)
  *  4. chunk + dedup   — 64-token windows; first occurrence per chunk_hash
  *                       wins cross-doc (chunk_hash shuffle)
  *  5. pack            — chunks laid into PackBudget-token bins per source
  *                       (source-keyed window)
  *  6. split           — content-keyed train/val/test riding the parent doc
  *                       (map-side join by doc_id)
  *  7. training order  — curriculum schedule (quality-quartile stages from
  *                       the logit histogram, content-hash shuffle) over the
  *                       cleaned corpus, inherited by every train chunk
  */
class CurationPipeline(s: SparkSession, srcDir: String, root: String) {

  private val docCols = Seq("doc_id", "text", "lang", "source", "n_chars")

  /** (stage name, rows surviving it), filled by run() in order. */
  var stageRows: Seq[(String, Long)] = Nil

  private def writeDocs(df: DataFrame, stage: String): String = {
    val d = s"$root/$stage"
    df.select(docCols.map(col): _*)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    stageRows :+= (stage, parquet(s, s"$d/documents.parquet").count())
    d
  }

  def run(): String = {
    stageRows = Nil
    // 1. quality gate: keep docs at or above the corpus 20th-percentile logit
    val d1 = writeDocs(
      t(s, srcDir, "documents")
        .join(Curation.qualityThreshold(s, srcDir).select("doc_id"), "doc_id"),
      "s1_quality")
    // 2. exact dedup: the class representative survives, copies drop
    val d2 = writeDocs(
      t(s, d1, "documents")
        .join(Dedup.exact(s, d1).select(col("rep_id").as("doc_id")), "doc_id"),
      "s2_dedup")
    // 3. decontamination: benchmark docs never train, and neither does any
    // doc sharing a ContainN-gram shingle with one. The bench shingle set
    // comes from the ORIGINAL corpus, not d2: a bench doc dropped by the
    // gate or deduped into its lower-id twin must still poison its copies —
    // otherwise a verbatim benchmark duplicate would train (the leak
    // decontamination exists to prevent; CurationPipelineSpec pins it)
    val train = t(s, d2, "documents")
      .filter(col("doc_id") % Curation.BenchMod =!= 0)
    val bench = t(s, srcDir, "documents")
      .filter(col("doc_id") % Curation.BenchMod === 0)
    val contaminatedIds = Curation.contaminated(train, bench, Curation.ContainN)
      .select("doc_id")
    val d3 = writeDocs(
      train.join(contaminatedIds, Seq("doc_id"), "left_anti"),
      "s3_decontam")
    // 3b. tokenizer training on the CLEANED corpus — real pipelines learn
    // the merge table after curation so boilerplate and benchmark text
    // never shape the vocabulary; the merges artifact is a restart point
    // like every other stage
    val merges = TextAnalysis.bpeTrain(s, d3)
    merges.write.mode("overwrite").parquet(s"$root/s3b_tokenizer/merges.parquet")
    stageRows :+= (("s3b_tokenizer",
      parquet(s, s"$root/s3b_tokenizer/merges.parquet").count()))
    // 4. chunk, then dedup AT CHUNK GRANULARITY: the first occurrence
    // (smallest doc_id, then position) of each chunk_hash survives — the
    // ONE shared definition (Curation.uniqChunks)
    val uniq = Curation.uniqChunks(s, d3)
    // 5. pack per source (the one shared bin-math definition);
    // 6. split rides the parent doc's content key
    val out = Curation.packBins(uniq)
      .join(Curation.splitAssign(s, d3).select("doc_id", "split"), "doc_id")
      .select("doc_id", "chunk_idx", "source", "pack_shard", "n_tokens",
        "chunk_hash", "bin_id", "bin_offset", "split")
    out.write.mode("overwrite").parquet(s"$root/packed.parquet")
    stageRows :+= ("packed", parquet(s, s"$root/packed.parquet").count())
    // 7. training order: the curriculum schedule (quality-quartile stages,
    // content-hash within-stage shuffle — q_curriculum_order) computed on
    // the CLEANED corpus, inherited by every TRAIN chunk from its parent
    // doc. The dataloader consumes (stage, shard, seq, chunk_idx) order;
    // val/test chunks carry no training position by definition.
    val ordered = parquet(s, s"$root/packed.parquet")
      .filter(col("split") === "train")
      .join(Curation.curriculumOrder(s, d3), "doc_id")
      .select("doc_id", "chunk_idx", "source", "pack_shard", "n_tokens",
        "chunk_hash", "bin_id", "bin_offset", "stage", "shard", "seq")
    ordered.write.mode("overwrite").parquet(s"$root/s7_order/ordered.parquet")
    stageRows :+= (("s7_order",
      parquet(s, s"$root/s7_order/ordered.parquet").count()))
    s"$root/packed.parquet"
  }

  def packed(): DataFrame = parquet(s, s"$root/packed.parquet")

  def ordered(): DataFrame = parquet(s, s"$root/s7_order/ordered.parquet")
}
