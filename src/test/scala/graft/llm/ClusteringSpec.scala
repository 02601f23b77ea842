package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Euclidean k-means (Clustering.scala): Lloyd invariants recomputed
  * independently — assignment optimality against a brute-force distance
  * recount, conservation, and the monotone-improvement property one Lloyd
  * round must satisfy. */
class ClusteringSpec extends SparkSpec {

  private lazy val result = Clustering.kmeans(spark, sf).collect()
  private lazy val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    .select("vec_id", "embedding").collect()
    .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

  test("every vector is assigned to exactly one of K clusters") {
    assert(result.length == embs.size)
    assert(result.map(_.getLong(0)).distinct.length == result.length)
    val clusters = result.map(_.getLong(1)).distinct
    assert(clusters.forall(c => c >= 0 && c < Clustering.K))
  }

  test("sizes report conserves the corpus and averages the distances") {
    val sizes = Clustering.kmeansSizes(spark, sf).collect()
    assert(sizes.map(_.getAs[Long]("n")).sum == embs.size)
    assert(sizes.forall(_.getAs[Double]("mean_dist2") >= 0.0))
    // cross-check one cluster's n against the assignment output
    val c0 = sizes.head
    val direct = result.count(_.getLong(1) == c0.getAs[Long]("cluster"))
    assert(c0.getAs[Long]("n") == direct)
  }

  test("assignment is argmin: no other final centroid is strictly closer") {
    // rebuild the round-2 centroids exactly as recenter defines them:
    // integer-scaled exact means over the round-1 assignment
    val S = 1L << 48
    def d2(x: Array[Float], c: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < x.length) {
        val d = x(i).toDouble - c(i); acc += d * d; i += 1
      }
      acc
    }
    val seed = (0L until Clustering.K.toLong)
      .map(j => j -> embs(j).map(_.toDouble)).toMap
    val a1 = embs.map { case (id, x) =>
      id -> (0 until Clustering.K).minBy(j => (d2(x, seed(j.toLong)), j)).toLong
    }
    val cents = (0L until Clustering.K.toLong).map { j =>
      val members = embs.filter { case (id, _) => a1(id) == j }.values.toSeq
      val c =
        if (members.isEmpty) seed(j)
        else {
          val dims = members.head.length
          Array.tabulate(dims) { i =>
            val sm = members.map(x => (x(i).toDouble * S).toLong).sum
            // Int * Long overflows at >= 32768 members (the exact class the
            // r6 production recenter fix removed) — divide in double space
            sm.toDouble / (members.size.toDouble * S.toDouble)
          }
        }
      j -> c
    }.toMap
    result.foreach { r =>
      val x = embs(r.getLong(0))
      val assigned = r.getLong(1)
      val best = (0L until Clustering.K.toLong)
        .minBy(j => (d2(x, cents(j)), j))
      assert(assigned == best,
        s"vec ${r.getLong(0)}: assigned $assigned but $best is closer")
      assert(r.getAs[Double]("dist2") == d2(x, cents(assigned)))
    }
  }

  test("one Lloyd round does not increase total inertia") {
    // inertia after round 2 (declared result) <= inertia of the round-1
    // assignment measured against the SEED centroids — the monotone
    // property of assign+recenter+assign
    val seed = (0L until Clustering.K.toLong)
      .map(j => j -> embs(j).map(_.toDouble)).toMap
    def d2(x: Array[Float], c: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < x.length) {
        val d = x(i).toDouble - c(i); acc += d * d; i += 1
      }
      acc
    }
    val inertia1 = embs.values.map { x =>
      (0 until Clustering.K).map(j => d2(x, seed(j.toLong))).min
    }.sum
    val inertia2 = result.map(_.getAs[Double]("dist2")).sum
    assert(inertia2 <= inertia1 + 1e-9)
  }

  test("published-centroid serve reproduces the training assignment exactly") {
    val train = Clustering.kmeans(spark, sf).collect().map(_.toString)
    val serve = Clustering.assignPublished(spark, sf).collect().map(_.toString)
    assert(serve.sameElements(train))
    // the serve plan reads the published version and contains no Lloyd
    // training stages (no recenter explode/reassembly)
    val plan = Clustering.assignPublished(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_kmeans"), "serve must scan the published centroids")
    assert(!plan.contains("posexplode"), "no recenter stage in the serve plan")
  }

  test("recenter survives 40k-member clusters (long n*2^48 would overflow)") {
    // regression for the ScaleBench finding: the old LONG denominator
    // n·2^48 overflowed at n >= 32768 members; the decimal-staged sum +
    // double denominator must stay exact well past it
    val s = spark
    import s.implicits._
    val e = s.range(40000).select(col("id").as("vec_id"),
      expr("array(CAST(0.25 AS FLOAT), CAST(-0.5 AS FLOAT))").as("embedding"))
    // seed points: cluster 0 at the vector, cluster 1 at (100, 100)
    val seed = Seq((0L, Seq(0.25f, -0.5f)), (1L, Seq(100f, 100f)))
      .toDF("vec_id", "embedding")
    val out = Clustering.lloyd(Clustering.clusters, e, seed, 1)()
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // all 40k vectors are identical and land in cluster 0: its mean is
    // EXACTLY the vector; cluster 1 is empty and keeps its previous centroid
    assert(out(0L) == Seq(0.25, -0.5))
    assert(out(1L) == Seq(100.0, 100.0))
  }

  test("Lloyd training leaves no centroid plan in the cache manager") {
    val cm = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    Similarity.trainCentroids(spark, sf).collect()
    Pq.trainBooks(spark, sf).collect()
    assert(cm.isEmpty,
      "Lloyd rounds must cut lineage without caching the centroid frames")
  }

  test("plan: centroids broadcast; no corpus-sized collect or cartesian blowup") {
    val plan = Clustering.kmeans(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan.linesIterator.take(8).mkString("\n"))
    assert(!plan.contains("CartesianProduct"))
  }
}
