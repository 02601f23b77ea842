package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q_graph_drift — the graph family's staleness monitor (VERDICT r8 item
  * 3): per base/late segment, node count + floor-quantized mean best-link
  * cosine + exact min. Late nodes can only link INTO the frozen base (the
  * insert points every link at the base corpus), so a late batch that
  * drifts away from the base distribution shows a falling late mean — the
  * retrain trigger. On an iid fixture the two means must agree (no false
  * trigger). */
class GraphDriftSpec extends SparkSpec {

  test("segments, counts, and the iid fixture shows no staleness gap") {
    val cut = Segments.cut(spark, sf, "embeddings")
    val n = graft.Tables.t(spark, sf, "embeddings").count()
    val rows = GraphMaintenance.drift(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("base", "late"))
    assert(rows(0).getLong(1) == cut, s"base n ${rows(0).getLong(1)} != cut $cut")
    assert(rows(1).getLong(1) == n - cut)
    rows.foreach { r =>
      assert(r.getDouble(3) <= r.getDouble(2),
        "min best-link cos must not exceed the mean")
    }
    val gap = rows(0).getDouble(2) - rows(1).getDouble(2)
    info(f"iid fixture drift gap = $gap%.4f")
    assert(math.abs(gap) < 0.05,
      f"iid late batch must not trigger a retrain, gap $gap%.4f")
  }

  test("a drifted late batch widens the gap — the retrain trigger fires") {
    // synthetic corpus: base vectors live in dims 0-3, the late quarter in
    // dims 4-7 — the late distribution is near-orthogonal to everything
    // the frozen base graph indexes, the worst-case staleness
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
    val dir = java.nio.file.Files.createTempDirectory("graft_gdrift").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = GraphMaintenance.drift(spark, dir).collect()
    val base = got.find(_.getString(0) == "base").get
    val late = got.find(_.getString(0) == "late").get
    val gap = base.getDouble(2) - late.getDouble(2)
    info(f"drifted fixture gap = $gap%.4f " +
      f"(base ${base.getDouble(2)}%.3f late ${late.getDouble(2)}%.3f)")
    assert(gap > 0.2,
      f"drifted late batch must show a wide staleness gap, got $gap%.4f")
  }
}
