package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The composite family's retrain-trigger OPS LOOP closed end-to-end (the
  * RetrainTriggerSpec pattern): q_sim_ivfpq_drift is the monitor, and the
  * documented response to a widening base→late reconstruction-error gap is
  * RETRAIN BOTH FROZEN STAGES on the full corpus — the coarse centroids
  * and, because residuals are measured against them, necessarily the
  * residual books too (the booksTarget key encodes exactly that coupling).
  * A drifted late quarter (orthogonal subspace) reconstructs terribly
  * under base-trained books; the full retrain places coarse cells and
  * codewords in both subspaces, collapsing the gap. The retrain here IS
  * the primary q_sim_ivfpq build path (it always trains on the full
  * corpus), so the spec also proves the two paths share one encode. */
class IvfPqRetrainSpec extends SparkSpec {

  private val S = graft.Tables.MeanScale

  /** Per-segment mean ADC reconstruction error under an arbitrary
    * (residual subvectors, codes, books) triple — the monitor's math,
    * parameterized so it can re-run against the retrained quantizer. */
  private def gapOf(sub: org.apache.spark.sql.DataFrame,
                    codes: org.apache.spark.sql.DataFrame,
                    books: org.apache.spark.sql.DataFrame,
                    cut: Long): Double = {
    val dd = Clustering.dist2Sql _
    val rows = sub
      .join(codes.select("vec_id", "m", "code"), Seq("vec_id", "m"))
      .join(broadcast(books), Seq("m", "code"))
      .select(col("vec_id"), expr(
        s"CAST(FLOOR(${dd("sv", "csv")} * $S.0) AS BIGINT)").as("sqe"))
      .groupBy(when(col("vec_id") >= cut, lit("late")).otherwise(lit("base"))
        .as("segment"))
      .agg((sum(col("sqe").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .cast("string").cast("double") /
        (countDistinct(col("vec_id")).cast("double") * lit(S.toDouble)))
        .as("mean_qerr"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows("late") - rows("base")
  }

  test("composite drift trips on a drifted late batch; the two-stage retrain closes the gap") {
    // drifted corpus at the real M·SubDim geometry (64 dims): base vectors
    // live in dims 0-31, the late quarter in dims 32-63 — every late
    // residual subvector in the active half is unlike anything the frozen
    // books quantized
    val d = IvfPq.M * IvfPq.SubDim
    val n = 64
    val rows = (0L until n).map { id =>
      val emb = Array.tabulate(d) { i =>
        val active = if (id < 48) i < d / 2 else i >= d / 2
        if (active) (((id * 31L + i * 17L + 7L) % 1000L).toFloat / 1000f) + 0.1f
        else 0.001f
      }
      (id, emb, 0)
    }
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pqretrain").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val cut = Segments.cut(spark, dir, "embeddings")

    // 1. the monitor: q_sim_ivfpq_drift against the frozen two-stage
    // quantizer (base-trained coarse + base-trained books)
    val drift = IvfPq.drift(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val preGap = drift("late") - drift("base")
    info(f"pre-retrain qerr gap = $preGap%.6f " +
      f"(base ${drift("base")}%.6f late ${drift("late")}%.6f)")
    assert(preGap > drift("base"),
      f"drifted late batch must trip the monitor: gap $preGap%.6f " +
        f"vs base fit ${drift("base")}%.6f")

    // 2. the documented response: retrain coarse + books on the FULL
    // corpus — the primary build path's artifacts
    val postGap = gapOf(IvfPq.residualSubvecs(spark, dir),
      IvfPq.publishedCodes(spark, dir), IvfPq.books(spark, dir), cut)
    info(f"post-retrain qerr gap = $postGap%.6f")
    assert(math.abs(postGap) < preGap / 2,
      f"retrain must close the gap: pre $preGap%.6f post $postGap%.6f")
  }
}
