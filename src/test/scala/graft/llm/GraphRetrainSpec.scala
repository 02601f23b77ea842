package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The graph family's retrain-trigger OPS LOOP closed end-to-end (the
  * RetrainTriggerSpec pattern, extending the loop past IVF and lexical):
  * q_graph_drift is the monitor, and the documented response to a falling
  * late best-link mean is the FULL NN-DESCENT REFINEMENT over the whole
  * corpus — the rebuild the graph lifecycle docs distinguish from
  * compaction (a refinement changes served results, so it publishes as a
  * new index version). An orthogonal late quarter trips the monitor (its
  * beam-inserted links can only point INTO the frozen base, which lives
  * in a different subspace); the retrained graph inter-links the late
  * batch with itself, so the per-segment best-link gap collapses. */
class GraphRetrainSpec extends SparkSpec {

  private val S = graft.Tables.MeanScale

  /** Per-segment floor-quantized mean best-link cosine of an arbitrary
    * adjacency frame — the monitor's math, parameterized so it can re-run
    * against a candidate retrained graph. */
  private def gapOf(adj: org.apache.spark.sql.DataFrame, cut: Long): Double = {
    val rows = adj.filter(col("rnk") === 1)
      .groupBy(when(col("src") >= cut, lit("late")).otherwise(lit("base"))
        .as("segment"))
      .agg((sum(floor(col("cos") * S)
        .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
        .cast("string").cast("double") /
        (count(lit(1)).cast("double") * lit(S.toDouble))).as("mean_cos"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows("base") - rows("late")
  }

  test("graph drift trips on an orthogonal late batch; the full refinement closes the gap") {
    // the GraphDriftSpec drifted corpus: base vectors in dims 0-3, the
    // late quarter in dims 4-7 — worst-case staleness for a frozen graph
    val d = 8
    val n = 64
    val rows = (0L until n).map { id =>
      val emb = Array.tabulate(d) { i =>
        val active = if (id < 48) i < 4 else i >= 4
        if (active) (((id * 31L + i * 17L + 7L) % 1000L).toFloat / 1000f) + 0.1f
        else 0.001f
      }
      (id, emb, 0)
    }
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_gretrain").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val cut = Segments.cut(spark, dir, "embeddings")

    // 1. the monitor: q_graph_drift against the frozen base graph + the
    // beam-inserted late links
    val drift = GraphMaintenance.drift(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    val preGap = drift("base") - drift("late")
    info(f"pre-retrain graph drift gap = $preGap%.4f")
    assert(preGap > 0.2,
      f"orthogonal late batch must trip the monitor, gap $preGap%.4f")

    // 2. the documented response: the full NN-descent refinement over the
    // FULL corpus — what the rebuild cycle publishes as the next version
    val retrained = Similarity.descentGraph(spark, dir, Similarity.DescentIters)
    val postGap = gapOf(retrained, cut)
    info(f"post-retrain graph drift gap = $postGap%.4f")
    assert(math.abs(postGap) < preGap / 2,
      f"refinement must close the gap: pre $preGap%.4f post $postGap%.4f")
  }
}
