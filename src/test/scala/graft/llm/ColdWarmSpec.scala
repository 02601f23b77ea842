package graft.llm

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cold equals warm equals compacted, across the maintenance queries. A
  * cold run starts from an empty state store (a fresh `java.io.tmpdir`, so
  * every published root of the query is built by the run itself); a warm
  * run reads what the cold run published. Both must return the same rows.
  * After every family's compaction the serves must return those rows
  * again. The drift monitors are compared cold against warm only:
  * `q_text_bm25_drift` reads the base vocabulary, which compaction
  * replaces by design. */
class ColdWarmSpec extends SparkSpec {

  private type Query = (SparkSession, String) => DataFrame

  private val serves: Seq[(String, Query)] =
    Seq("q_sim_ivf_upsert", "q_sim_binary_upsert", "q_sim_ivfpq_upsert",
      "q_sim_ivfpq_upsert_rerank", "q_sim_graph_insert", "q_sim_graph_upsert",
      "q_text_bm25_upsert").map(n => n -> SparkEntry.queries(n)) :+
      ("PackMaintenance.serve" -> (PackMaintenance.serve _))

  private val drifts: Seq[(String, Query)] =
    Seq("q_index_drift", "q_sim_binary_drift", "q_graph_drift", "q_text_bm25_drift")
      .map(n => n -> SparkEntry.queries(n))

  private def rows(fn: Query): Seq[String] =
    fn(spark, sf).collect().map(_.toString).toSeq.sorted

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }

  /** Run `body` with the state store rooted in a fresh, empty temp dir. */
  private def inFreshStore[A](body: => A): A = {
    val prev = sys.props("java.io.tmpdir")
    val fresh = java.nio.file.Files.createTempDirectory("graft_coldwarm").toFile
    System.setProperty("java.io.tmpdir", fresh.getPath)
    try body
    finally {
      System.setProperty("java.io.tmpdir", prev)
      rm(fresh)
    }
  }

  private lazy val cold: Map[String, Seq[String]] =
    (serves ++ drifts).map { case (n, fn) =>
      n -> inFreshStore {
        val c = rows(fn)
        assert(rows(fn) == c, s"$n: the warm run differs from the cold run")
        c
      }
    }.toMap

  test("every maintenance query returns the same rows cold and warm") {
    (serves ++ drifts).foreach { case (n, _) =>
      assert(cold(n).nonEmpty, s"$n returned no rows")
    }
  }

  test("after every family's compaction the serves return the cold rows") {
    inFreshStore {
      serves.foreach { case (n, fn) => assert(rows(fn) == cold(n), s"$n: warm-up run differs") }
      IvfMaintenance.lists.compact(spark, sf)
      BinaryMaintenance.sigs.compact(spark, sf)
      IvfPq.upCodes.compact(spark, sf)
      GraphMaintenance.serveEdges.compact(spark, sf)
      LexMaintenance.compact(spark, sf)
      PackMaintenance.segments.compact(spark, sf)
      serves.foreach { case (n, fn) =>
        assert(rows(fn) == cold(n), s"$n: the compacted serve differs from the cold run")
      }
    }
  }
}
