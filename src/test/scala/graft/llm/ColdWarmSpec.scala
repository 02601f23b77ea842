package graft.llm

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cold equals warm equals compacted, across the maintenance queries, and
  * cold equals warm across every other query that publishes state. A
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

  /** Every other registered query whose code reaches the state store
    * (`State.memo`, `State.memoSnapshot` or `State.root`): the published
    * indexes, graphs, rankings, dedup closures, k-means centroids, layouts
    * and `TableStats` row counts. Compared cold against warm only. */
  private val published: Seq[(String, Query)] =
    Seq("q_cluster_assign", "q_curriculum_pack_upsert", "q_dedup_components",
      "q_dedup_embed_components", "q_dedup_embed_lsh", "q_dedup_incremental",
      "q_embed_pca_project", "q_graph_degree_dist", "q_graph_pagerank", "q_graph_triangles",
      "q_join_dpp", "q_mine_hard_negatives_ivf", "q_mine_recall", "q_partition_prune",
      "q_retrieve_hybrid", "q_retrieve_hybrid_upsert", "q_retrieve_recall", "q_retrieve_sweep",
      "q_sim_binary_recall", "q_sim_fused", "q_sim_fused_recall", "q_sim_fused_sweep",
      "q_sim_fused_upsert", "q_sim_fused_weighted", "q_sim_graph_recall", "q_sim_graph_search",
      "q_sim_ivf_quantized", "q_sim_ivf_sweep", "q_sim_ivf_trained", "q_sim_ivfpq",
      "q_sim_ivfpq_drift", "q_sim_ivfpq_recall", "q_sim_ivfpq_rerank", "q_sim_ivfpq_sweep",
      "q_sim_knn_graph", "q_sim_nndescent", "q_sim_pq_codes", "q_sim_pq_rerank",
      "q_sim_pq_topk", "q_sim_rank_diff", "q_sim_rank_quality", "q_sim_rank_quality_upsert",
      "q_sim_recall", "q_split_leakage", "q_text_bm25", "q_text_tfidf")
      .map(n => n -> SparkEntry.queries(n))

  private val coldWarm = serves ++ drifts ++ published

  private def rows(fn: Query): Seq[String] =
    fn(spark, sf).collect().map(_.toString).toSeq.sorted

  private lazy val cold: Map[String, Seq[String]] =
    coldWarm.map { case (n, fn) =>
      n -> inFreshStore {
        val c = rows(fn)
        assert(rows(fn) == c, s"$n: the warm run differs from the cold run")
        c
      }
    }.toMap

  test("every maintenance query returns the same rows cold and warm") {
    coldWarm.foreach { case (n, _) =>
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
