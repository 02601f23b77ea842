package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The binary family's retrain-trigger OPS LOOP closed end-to-end (the
  * RetrainTriggerSpec pattern): q_sim_binary_drift is the monitor, and
  * the documented response to a widening base→late |x − μ| fit gap is
  * REPUBLISH THE MEANS on the full corpus and re-sign (signing is a
  * stateless map, so the re-sign is one pass — the cheapest retrain in
  * the matrix). A mean-shifted late quarter trips the monitor; the
  * retrained means move toward the mixture mean, shrinking the trigger
  * metric. HONEST LIMIT, asserted as such: a single centering plane
  * cannot fully reconcile a bimodal corpus (the mean minimizes squared —
  * not absolute — deviation, and the two modes stay on opposite sides),
  * so the gap SHRINKS but does not vanish; a residual gap after republish
  * is the signal to move to a more expressive quantizer (PQ / IVF-PQ),
  * which is why the families ship side by side. */
class BinaryRetrainSpec extends SparkSpec {

  /** Per-segment mean |x − μ| against an arbitrary candidate mean vector —
    * the monitor's fit-gap math, parameterized (plain double sums are fine
    * here: the spec compares magnitudes across retrain states, not hashes). */
  private def fitGap(dir: String, mu: Array[Double], cut: Long): Double = {
    val rows = graft.Tables.withBroadcastArray(
        graft.Tables.t(spark, dir, "embeddings"), "mu", mu.toSeq)
      .select(col("vec_id"), expr(
        s"""aggregate(zip_with(embedding, mu,
              (x, m) -> abs(CAST(x AS DOUBLE) - m)),
            0D, (acc, v) -> acc + v) / ${mu.length}D""").as("adev"))
      .groupBy(when(col("vec_id") >= cut, lit("late")).otherwise(lit("base"))
        .as("segment"))
      .agg(avg(col("adev")).as("fit"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows("late") - rows("base")
  }

  test("binary drift trips on a mean-shifted late batch; republished means shrink the gap") {
    // drifted corpus: base pseudo-uniform in [-1, 1] per dim (zero-mean by
    // symmetry of the residue sweep), the late quarter shifted +4 on every
    // dim — the frozen centering planes sit 4 sigma-ish off the late mode
    val d = 2 * Binary.HalfBits
    val n = 64
    val rows = (0L until n).map { id =>
      val emb = Array.tabulate(d) { i =>
        val u = (((id * 31L + i * 17L + 7L) % 1000L).toFloat / 500f) - 1f
        if (id < 48) u else u + 4f
      }
      (id, emb, 0)
    }
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bretrain").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val cut = Segments.cut(spark, dir, "embeddings")

    // 1. the monitor: q_sim_binary_drift against the frozen base means
    val drift = BinaryMaintenance.drift(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val preGap = drift("late")._1 - drift("base")._1
    info(f"pre-republish fit gap = $preGap%.4f " +
      f"(late bit rate ${drift("late")._2}%.3f — one-sided, as shifted)")
    assert(preGap > 1.0,
      f"mean-shifted late batch must trip the monitor, gap $preGap%.4f")
    assert(drift("late")._2 > 0.9,
      "the shifted batch must sit on one side of the frozen planes")

    // 2. the documented response: republish the means on the FULL corpus
    // (+ the one-pass re-sign); the trigger metric shrinks...
    val muFull = graft.Tables.t(spark, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("i", "xi")))
      .groupBy("i").agg(avg(col("xi").cast("double")).as("mu"))
      .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).map(_._2)
    val postGap = fitGap(dir, muFull, cut)
    info(f"post-republish fit gap = $postGap%.4f")
    assert(postGap < preGap * 0.7,
      f"republish must shrink the trigger metric: pre $preGap%.4f post $postGap%.4f")

    // ...but does NOT vanish: the honest single-plane residual that says
    // "escalate to a more expressive quantizer", pinned so a future
    // 'fix' that makes this 0 is recognized as a measurement bug
    assert(postGap > 0.0,
      "a single centering plane cannot fully reconcile a bimodal corpus")
  }
}
