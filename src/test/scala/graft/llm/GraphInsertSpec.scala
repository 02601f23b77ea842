package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Graph-index maintenance: shape of the emitted adjacency, the measured
  * insert quality (beam-searched links vs each new node's TRUE nearest
  * base neighbors — 0.83 recall measured at sf0.001), publish-once for
  * the frozen base graph, and slice-pruned corpus scans. Bit-exactness of
  * the emitted frame is the DuckDB oracle's job (q_sim_graph_insert
  * hash-checked). */
class GraphInsertSpec extends SparkSpec {

  private lazy val cut = Segments.cut(spark, sf, "embeddings")
  private lazy val inserted = GraphMaintenance.insert(spark, sf).collect()

  test("every late vector links GraphK base neighbors, scored descending") {
    val n = graft.Tables.t(spark, sf, "embeddings").count()
    val byNode = inserted.groupBy(_.getLong(0))
    assert(byNode.size.toLong == n - cut,
      s"expected ${n - cut} inserted nodes, got ${byNode.size}")
    byNode.foreach { case (id, rows) =>
      assert(id >= cut, s"base node $id in the insert output")
      assert(rows.length == Similarity.GraphK)
      assert(rows.forall(_.getLong(2) < cut),
        s"node $id links outside the base graph")
      val byRank = rows.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
        s"node $id links not cosine-descending")
    }
  }

  test("insert quality: links recall the true nearest base neighbors") {
    val e = graft.Tables.t(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val baseIds = e.keys.filter(_ < cut).toSeq
    val got = inserted.groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(2)).toSet).toMap
    val recalls = e.keys.filter(_ >= cut).toSeq.map { q =>
      val truth = baseIds.sortBy(b => (-cos(e(q), e(b)), b))
        .take(Similarity.GraphK).toSet
      truth.intersect(got(q)).size.toDouble / Similarity.GraphK
    }
    val recall = recalls.sum / recalls.size
    assert(recall >= 0.6, s"insert link recall $recall under floor (measured 0.83)")
  }

  test("the frozen base graph publishes once") {
    GraphMaintenance.insert(spark, sf).count()
    val t = GraphMaintenance.baseGraphTarget(spark, sf)
    val v = graft.etl.Warehouse.currentVersion(spark, t)
    assert(v.isDefined)
    GraphMaintenance.insert(spark, sf).count()
    assert(graft.etl.Warehouse.currentVersion(spark, t) == v,
      "a later insert rebuilt the frozen base graph")
  }

  test("freshness serve: late nodes are reachable and served, no rebuild") {
    val rows = GraphMaintenance.upsertSearch(spark, sf).collect()
    assert(rows.length == 8 * 10)
    rows.foreach { r =>
      assert(r.getLong(4) == (if (r.getLong(1) >= cut) 1L else 0L))
    }
    val newServed = rows.map(_.getLong(4)).sum
    assert(newServed > 0L,
      "no late node reached any top-10 — the delta edges are not live")
    // publish-once for the delta adjacency
    val t = GraphMaintenance.insTarget(spark, sf)
    val v = graft.etl.Warehouse.currentVersion(spark, t)
    assert(v.isDefined)
    GraphMaintenance.upsertSearch(spark, sf).count()
    assert(graft.etl.Warehouse.currentVersion(spark, t) == v)
  }

  test("the final plan is constant-size: every round rode a checkpoint") {
    // the per-round localCheckpoint discipline (see the A/B recorded at
    // GraphMaintenance.insert's checkpoint site) means
    // the RETURNED plan contains no embeddings scan and no round lineage —
    // just the checkpointed final beam plus the GraphK ranking; a
    // lazily-composed walk would drag SearchIters rounds of corpus joins
    // into this plan (and recompute round r−1 per reference)
    GraphMaintenance.insert(spark, sf).count() // publish first
    val plan = GraphMaintenance.insert(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("embeddings.parquet"),
      s"corpus lineage leaked past the round checkpoints:\n$plan")
    assert(plan.length < 20000, s"plan blew up to ${plan.length} chars")
  }
}
