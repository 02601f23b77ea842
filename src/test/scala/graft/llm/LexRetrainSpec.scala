package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._
import TextHash.tokens

/** The lexical family's retrain-trigger OPS LOOP closed end-to-end (the
  * RetrainTriggerSpec pattern): q_text_bm25_drift is the monitor, and the
  * documented response to late OOV mass is REBUILD-AND-PUBLISH the
  * dictionary on the full corpus. A vocabulary-shifted late quarter (new
  * token space — a topic/language drift) trips the monitor against the
  * FROZEN base vocabulary; rebuilding on the full corpus closes the OOV
  * to exactly zero, because the dictionary is pure counting (no Lloyd
  * residue — the lexical loop closes EXACTLY, not just within tolerance). */
class LexRetrainSpec extends SparkSpec {

  /** Late-segment OOV rate against an arbitrary candidate dictionary —
    * the monitor's math, parameterized (re-run against the retrained
    * vocabulary to measure the response). */
  private def lateOovRate(dir: String,
                          vocab: org.apache.spark.sql.DataFrame): Double = {
    val cut = Segments.cut(spark, dir, "documents")
    val toks = graft.Tables.t(spark, dir, "documents")
      .filter(col("doc_id") >= cut)
      .select(explode(tokens(col("text"))).as("token"))
    val total = toks.count()
    val oov = toks.join(vocab.select("token"), Seq("token"), "left_anti").count()
    oov.toDouble / total.toDouble
  }

  test("OOV drift trips on a vocabulary-shifted late batch; full-corpus republish closes it to zero") {
    // drifted corpus: base docs speak tokens a0..a9, the late quarter
    // speaks b0..b9 — the frozen base dictionary has never seen a late type
    val n = 64L
    val rows = (0L until n).map { id =>
      val pre = if (id < 48) "a" else "b"
      val text = (0 until 12).map(j => s"$pre${(id + j) % 10}").mkString(" ")
      (id, text, "en", "synthetic", text.length.toLong)
    }
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_lexretrain").toString
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // 1. the monitor: q_text_bm25_drift against the frozen base vocabulary
    val drift = LexMaintenance.drift(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(3), r.getDouble(5))).toMap
    assert(drift("base")._1 == 0L, "base OOV must be zero by construction")
    val lateRate = drift("late")._2
    info(f"pre-republish late OOV rate = $lateRate%.4f")
    assert(lateRate > 0.9,
      f"a fully-shifted vocabulary must trip the monitor, rate $lateRate%.4f")

    // 2. the documented response: rebuild the dictionary on the FULL
    // corpus (what the compaction-cycle republish installs)
    val fullVocab = graft.Tables.t(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("token")).distinct()
    val post = lateOovRate(dir, fullVocab)
    info(f"post-republish late OOV rate = $post%.4f")
    assert(post == 0.0,
      f"counting has no training residue — the republish must close OOV exactly, got $post%.4f")
  }
}
