package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** `Rounds` releases every round but the one its caller reads. Each
  * iterative entry point's result is held and collected, and the RDDs the
  * call newly persisted and left registered are counted: a result reads at
  * most one round (BPE: its `BpeTrainRounds` winner rows), so anything more
  * is a round waiting for a GC to let the ContextCleaner drop it. */
class RoundsSpec extends SparkSpec {

  /** RDDs persisted while `body` builds and collects its frame that are
    * still registered while the frame is held. */
  private def leftBehind(body: => DataFrame): Int = {
    val sc = spark.sparkContext
    System.gc()
    val before = sc.getPersistentRDDs.keySet
    val df = body
    df.collect()
    val left = (sc.getPersistentRDDs.keySet -- before).size
    java.lang.ref.Reference.reachabilityFence(df)
    left
  }

  test("run stops on done after the round that satisfies it and keeps only that round") {
    val maxX = (df: DataFrame) => df.agg(max("x")).head.getLong(0)
    var rounds = 0
    val left = leftBehind {
      Rounds.run(spark.range(3).toDF("x"), 10, maxX(_) >= 7) { cur =>
        rounds += 1
        cur.select((col("x") + 1).as("x"))
      }
    }
    assert(rounds == 5)
    assert(left == 1)
  }

  test("run stops after maxRounds and returns the last round") {
    val out = Rounds.run(spark.range(2).toDF("x"), 3)(_.select((col("x") * 2).as("x")))
    assert(out.orderBy("x").collect().map(_.getLong(0)).toSeq == Seq(0L, 8L))
  }

  test("release frees the checkpoint under a frame and the cache over it") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val cp = Rounds.checkpoint(spark.range(4).toDF("x"))
    val cached = cp.select((col("x") + 1).as("x")).cache()
    cached.count()
    assert(cached.storageLevel != StorageLevel.NONE)
    Rounds.release(cached)
    assert((sc.getPersistentRDDs.keySet -- before).isEmpty)
    assert(cached.storageLevel == StorageLevel.NONE)
  }

  private type Query = (SparkSession, String) => DataFrame

  // the serves read the published base graph; it is built (and its own
  // descent rounds left) before the insert is measured
  for ((name, fn, warm) <- Seq[(String, Query, Boolean)](
      ("PageRank", graft.ops.Graph.pagerank, false),
      ("graph insert", graft.llm.GraphMaintenance.insert, true),
      ("Lloyd (k-means)", graft.llm.Clustering.kmeans, false)))
    test(s"$name leaves at most the round its result reads") {
      if (warm) fn(spark, sf).collect()
      assert(leftBehind(fn(spark, sf)) <= 1)
    }

  // both publish what their loop builds: a fresh store makes the loop run
  for ((name, fn) <- Seq[(String, Query)](
      "NN-descent" -> graft.llm.Similarity.nnDescent,
      "the dedup closure" -> graft.llm.Dedup.components))
    test(s"$name leaves at most the round its result reads") {
      assert(inFreshStore(leftBehind(fn(spark, sf))) <= 1)
    }

  test("BPE training leaves at most its winner rows") {
    assert(leftBehind(graft.llm.TextAnalysis.bpeTrain(spark, sf)) <=
      graft.llm.TextAnalysis.BpeTrainRounds)
  }
}
