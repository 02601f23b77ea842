package graft.llm

import graft.{SparkEntry, SparkSpec}

/** Each query that runs a scalar kernel (vec_dot, vec_dist2, the token,
  * shingle and winnow hashers, minhash_sig, simhash_sig) returns exactly
  * what it returns with the kernels replaced by their built-in reference
  * forms (References.install: the same names bound to higher-order SQL
  * functions). Compares collected output row for row; KernelSpec checks
  * the kernels one by one. */
class FallbackSpec extends SparkSpec {

  private lazy val plain = References.install(spark.newSession())

  for (q <- Seq("q_sim_topk", "q_sim_ivf_trained", "q_sim_lsh_multiprobe",
    "q_sim_pq_codes", "q_sim_pq_topk", "q_sim_pq_rerank",
    "q_sim_binary_topk", "q_sim_graph_search", "q_sim_nndescent",
    "q_dedup_embed", "q_dedup_minhash", "q_dedup_jaccard", "q_dedup_shingle",
    "q_dedup_simhash", "q_dedup_simhash_pairs", "q_dedup_clusters",
    "q_sim_lsh", "q_dedup_embed_lsh", "q_dedup_components",
    "q_dedup_incremental", "q_dedup_winnow", "q_cluster_kmeans",
    "q_cluster_sizes", "q_agg_theta_ops", "q_sim_ivf_quantized"))
    test(s"$q is bit-identical without the custom expressions") {
      val fn = SparkEntry.queries(q)
      val want = fn(spark, sf).collect().map(_.toString).toSeq
      val got = inFreshStore(fn(plain, sf).collect().map(_.toString).toSeq)
      assert(got == want)
    }
}
