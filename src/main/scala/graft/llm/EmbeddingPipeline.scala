package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** The COMPOSED embedding pipeline: raw vectors → whitened, semantically
  * deduplicated, ranked, quantized, ANN-served corpus — the path an
  * embedding-curation run takes (SemDeDup-style), built from the registered
  * operators so every stage's semantics are oracle-checked in isolation;
  * the composition itself is spec-checked by EmbeddingPipelineSpec (stage
  * accounting, dedup invariants, determinism).
  *
  * Stages and their scale posture (each materializes a plain parquet table
  * — a restart point, independently inspectable; a 100 TB embedding build
  * never runs as one job):
  *
  *  1. whiten     — per-dimension z-normalization from the one-pass diagonal
  *                  statistic (no dimension dominates the cosine downstream)
  *  2. semdedup   — one representative per LSH-blocked cosine near-dup
  *                  component survives (published edges + shared closure)
  *  3. scores     — top-PC coordinate per kept vector (published component):
  *                  the ranking/debias metadata a selection step consumes
  *  4. codes      — int8 quantization of the kept set (the 4×-smaller
  *                  serving tier)
  *  5. serve      — trained-IVF ANN over the kept set (train-once/
  *                  serve-many through the warehouse pointer)
  */
class EmbeddingPipeline(s: SparkSession, srcDir: String, root: String) {

  /** (stage name, rows), filled by run() in order. */
  var stageRows: Seq[(String, Long)] = Nil

  private def write(df: DataFrame, stage: String, file: String): String = {
    val d = s"$root/$stage"
    df.write.mode("overwrite").parquet(s"$d/$file")
    stageRows :+= (stage, parquet(s, s"$d/$file").count())
    d
  }

  def run(): String = {
    stageRows = Nil
    // 1. whiten, back to the serving float format with label carried
    val d1 = write(
      t(s, srcDir, "embeddings").select(col("vec_id"), col("label"))
        .join(Similarity.whitenVecs(s, srcDir), "vec_id")
        .select(col("vec_id"),
          expr("transform(w, x -> CAST(x AS FLOAT))").as("embedding"),
          col("label")),
      "s1_whiten", "embeddings.parquet")
    // 2. semantic dedup: the component representative (min id) survives
    val comps = Dedup.embedComponents(s, d1)
    val d2 = write(
      t(s, d1, "embeddings")
        .join(comps.filter(col("vec_id") === col("component_id"))
          .select("vec_id"), "vec_id"),
      "s2_semdedup", "embeddings.parquet")
    // 3. ranking metadata: top-PC coordinate of every kept vector
    write(Similarity.pcaProject(s, d2), "s3_scores", "scores.parquet")
    // 4. int8 serving tier
    write(Similarity.quantCodes(s, d2).select("vec_id", "maxabs", "codes"),
      "s4_codes", "codes.parquet")
    // 5. ANN serve from the trained published index over the kept set
    stageRows :+= (("s5_serve", Similarity.ivfTrainedTopK(s, d2).count()))
    // 6. semantic-balance report: k-means over the KEPT set (seeded by its
    //    K smallest ids — the kept id space has holes), rolled to the
    //    per-cluster population the mix-reweighting step reads
    write(Clustering.sizesOf(Clustering.roundsOf(t(s, d2, "embeddings"))),
      "s6_balance", "clusters.parquet")
    d2
  }
}
