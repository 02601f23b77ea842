package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** IVF-PQ composite index: code-shape invariants, the publish-once
  * discipline for BOTH published artifacts (residual books, per-cell code
  * lists), the serve plan's partition pruning, the measured quality
  * contract, and the claim the composite exists for — at EQUAL code budget
  * (same M/K/Iters), quantizing residuals recalls more than quantizing raw
  * vectors. Bit-exactness of every emitted number is the DuckDB oracle's
  * job (q_sim_ivfpq / _rerank / _recall all hash-checked). */
class IvfPqSpec extends SparkSpec {

  private def topSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  private lazy val exactL2Top10: Map[Long, Set[Long]] = {
    val e = graft.Tables.t(spark, sf, "embeddings").select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < IvfPq.NQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
    val d2 = Clustering.dist2Sql _
    topSets(q.crossJoin(e).filter(col("q_id") =!= col("vec_id"))
      .withColumn("d2", expr(d2("qe", "embedding")))
      .withColumn("rn", row_number().over(org.apache.spark.sql.expressions
        .Window.partitionBy("q_id").orderBy(col("d2"), col("vec_id"))))
      .filter(col("rn") <= 10)
      .select(col("q_id"), col("vec_id").as("n_id")))
  }

  private def recall(got: Map[Long, Set[Long]]): Double = {
    val ks = exactL2Top10.keys.toSeq
    ks.map(k => got.getOrElse(k, Set.empty[Long]).intersect(exactL2Top10(k)).size / 10.0)
      .sum / ks.size
  }

  test("every vector carries M codes in range, in its assigned cell") {
    val cd = IvfPq.publishedCodes(spark, sf)
    val n = graft.Tables.t(spark, sf, "embeddings").count()
    assert(cd.select("vec_id").distinct().count() == n)
    assert(cd.count() == n * IvfPq.M)
    assert(cd.filter(col("code") < 0 || col("code") >= IvfPq.K).count() == 0L)
    // the cell id on the code list is the coarse assignment, verbatim
    val asg = Similarity.publishedAssignments(spark, sf)
      .select(col("vec_id"), col("cent_id").as("a_cent"))
    assert(cd.join(asg, "vec_id")
      .filter(col("cent_id") =!= col("a_cent")).count() == 0L)
  }

  test("books and code lists publish once, later serves read the pointers") {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    Seq(IvfPq.booksTarget(spark, sf), IvfPq.codesTarget(spark, sf)).foreach {
      t =>
        val d = new java.io.File(t)
        if (d.exists()) rm(d)
        assert(!graft.etl.Warehouse.exists(spark, t))
    }
    IvfPq.adcTopK(spark, sf).count()
    val vb = graft.etl.Warehouse.currentVersion(spark, IvfPq.booksTarget(spark, sf))
    val vc = graft.etl.Warehouse.currentVersion(spark, IvfPq.codesTarget(spark, sf))
    assert(vb.isDefined && vc.isDefined,
      "first serve must publish the books and the code lists")
    IvfPq.rerankTopK(spark, sf).count()
    assert(graft.etl.Warehouse.currentVersion(spark, IvfPq.booksTarget(spark, sf)) == vb)
    assert(graft.etl.Warehouse.currentVersion(spark, IvfPq.codesTarget(spark, sf)) == vc)
  }

  test("ADC serve reads only probed cell directories of the code lists") {
    IvfPq.adcTopK(spark, sf).count() // publishes on first call
    val plan = IvfPq.adcTopK(spark, sf).queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cent_id".r.findFirstIn(plan).isDefined,
      s"no partition filter on the code-list scan:\n$plan")
    // the raw table is touched only by the 8-row query side (and the
    // broadcast centroid read comes from the warehouse, not this table):
    // every embeddings scan must carry a pushed vec_id bound
    val embScans = plan.linesIterator.filter(_.contains("embeddings.parquet")).toSeq
    assert(embScans.nonEmpty)
    embScans.foreach(l =>
      assert(l.contains("LessThan(vec_id"),
        s"an embeddings scan without a query-side pushdown (corpus re-scan):\n$l"))
  }

  test("re-ranked recall clears the floor and beats flat PQ at equal budget") {
    val adc = recall(topSets(IvfPq.adcTopK(spark, sf)))
    val rr = recall(topSets(IvfPq.rerankTopK(spark, sf)))
    assert(adc >= 0.3, s"IVFADC recall@10 $adc under floor")
    assert(rr >= 0.6, s"re-ranked recall@10 $rr under floor")
    assert(rr >= adc, s"re-rank must not lose recall: $rr < $adc")
    // the residual claim: same M/K/Iters codebook budget, higher recall
    // than quantizing raw vectors (flat ADC measured ~0.34 here)
    val flatAdc = recall(topSets(Pq.adcTopK(spark, sf)))
    assert(adc >= flatAdc,
      s"residual ADC ($adc) should not trail flat ADC ($flatAdc) at equal budget")
  }

  test("re-ranked distances are the exact distances (shortlist only pays)") {
    val e = graft.Tables.t(spark, sf, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    def d2(a: Seq[Double], b: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    IvfPq.rerankTopK(spark, sf).collect().foreach { r =>
      assert(r.getDouble(2) == d2(e(r.getLong(0)), e(r.getLong(1))))
    }
  }

  test("operating curve is monotone and its max point IS the standing audit") {
    val curve = IvfPq.sweep(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getDouble(3))).toMap
    val probes = Similarity.SweepProbes.map(_.toLong)
    assert(curve.keySet == probes.toSet)
    probes.zip(probes.tail).foreach { case (a, b) =>
      assert(curve(a)._2 <= curve(b)._2,
        s"recall not monotone in nprobe: $curve")
    }
    // the curve's NProbe point and q_sim_ivfpq_recall's aggregate are the
    // same serve measured two ways — they must agree exactly
    val auditHits = IvfPq.recallAudit(spark, sf).collect()
      .map(_.getLong(2)).sum
    assert(curve(Similarity.NProbe.toLong)._1 == auditHits,
      s"sweep max point ${curve(Similarity.NProbe.toLong)._1} != audit $auditHits")
  }

  test("composite maintenance: frozen-stage encode-add serves late vectors") {
    val cut = Segments.cut(spark, sf, "embeddings")
    val rows = IvfPq.upsertAdcTopK(spark, sf).collect()
    assert(rows.length == IvfPq.NQueries * 10)
    rows.foreach { r =>
      assert(r.getLong(4) == (if (r.getLong(1) >= cut) 1L else 0L))
    }
    assert(rows.map(_.getLong(4)).sum > 0L,
      "no late vector served from the frozen-book codes")
    // ADC quality with books that never saw the late quarter still clears
    // the raw-ADC floor (full-trained ADC measures ~0.34 here)
    val rec = recall(topSets(IvfPq.upsertAdcTopK(spark, sf)))
    assert(rec >= 0.2, s"frozen-book ADC recall $rec under floor")
    // both maintenance artifacts publish once (the code lists live in a
    // snapshot root — same pointer-stability contract)
    val bt = IvfPq.upBooksTarget(spark, sf)
    val bv = graft.etl.Warehouse.currentVersion(spark, bt)
    val cs = graft.etl.Warehouse.readSnapshot(spark, IvfPq.upCodes.root(spark, sf))
    assert(bv.isDefined && cs.isDefined)
    IvfPq.upsertAdcTopK(spark, sf).count()
    assert(graft.etl.Warehouse.currentVersion(spark, bt) == bv)
    assert(graft.etl.Warehouse.readSnapshot(spark, IvfPq.upCodes.root(spark, sf)) == cs)
  }

  test("recall audit rows are consistent integer counts") {
    IvfPq.recallAudit(spark, sf).collect().foreach { r =>
      assert(r.getLong(1) == 10L)
      assert(r.getLong(2) >= 0L && r.getLong(2) <= 10L)
      assert(r.getDouble(3) == r.getLong(2).toDouble / 10.0)
    }
  }

  test("upsert rerank dominates the ADC-only freshness serve on exact-L2 hits") {
    // the r12 freshness rank audit measured the ADC-only upsert serve far
    // below the reranked base family; the production rerank must recover
    // at least the ADC serve's exact-neighbor hits (it re-orders a
    // SUPERSET — the Shortlist — by exact distance)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(IvfPq.bruteL2TopK(spark, sf))
    val adcHits = pairs(IvfPq.upsertAdcTopK(spark, sf)).count(exact.contains)
    val rrRows = IvfPq.upsertRerankTopK(spark, sf).collect()
    val rrHits = rrRows.map(r => (r.getLong(0), r.getLong(1)))
      .count(exact.contains)
    assert(rrHits >= adcHits,
      s"rerank hits $rrHits must be >= ADC hits $adcHits")
    // is_new coheres with the shared base cut on every served row
    val cut = math.floor(
      graft.etl.TableStats.rowCount(spark, sf, "embeddings")
        * Segments.BaseFrac).toLong
    rrRows.foreach { r =>
      assert(r.getLong(4) == (if (r.getLong(1) >= cut) 1L else 0L))
    }
  }
}
