package graft

/** Parallelism invariance as EVIDENCE, not argument (VERDICT r6 item 3):
  * the engine's numeric discipline — scaled-BIGINT accumulators, decimal-
  * staged sums, integer-only iteration — claims results are independent of
  * how rows land in partitions. This spec re-runs the queries whose answers
  * would drift first under float reassociation (the iterative/scaled-
  * accumulator family) on a sibling session with `spark.sql.shuffle
  * .partitions = 197` (co-prime to the pinned 4/32, so every exchange
  * rehashes differently and partial aggregates combine in a different
  * order) and asserts BYTE-IDENTICAL collected output. Each tested query
  * ends in a total ordering, so row order cannot mask or fake a diff. The
  * sibling session runs in a fresh state store, so every published root a
  * query reads (lists, snapshots, graphs, row counts) is built at 197
  * partitions too, not read from the default session's store. */
class ParallelismInvarianceSpec extends SparkSpec {

  private lazy val wide = {
    val p = spark.newSession()
    p.conf.set("spark.sql.shuffle.partitions", "197")
    assert(p.sessionState.conf.numShufflePartitions == 197)
    p
  }

  for (q <- Seq(
    "q_graph_pagerank",   // 5 integer fixed-point rounds over re-keyed state
    "q_graph_triangles",  // orientation + adjacency intersection counts
    "q_cluster_kmeans",   // Lloyd rounds with 2^48-scaled centroid sums
    "q_cluster_sizes",    // decimal-staged inertia sum / exact counts
    "q_embed_gram",       // d² scaled-BIGINT accumulators over all vectors
    "q_table_checksum",   // order-free xor/sum digests per table
    "q_agg_weighted_avg", // decimal-staged numerator/denominator
    "q_agg_corr",         // scaled moments
    "q_sim_binary_codes", // sign bits against scaled-BIGINT per-dim means
    "q_text_bpe_train",   // iterative vocabulary-domain merge rounds
    "q_agg_theta_ops",    // K-minima heap + θ-threshold set estimates (r8)
    "q_text_bm25",        // decimal-staged multi-term score sums (r8)
    "q_index_drift",      // floor-scaled segment means over cosines (r8s3)
    "q_sim_rank_quality", // fixed-order DCG folds over integer rel pivots (r10)
    "q_curriculum_order", // histogram stage cuts + hash-ordered windows (r10)
    "q_curriculum_pack",  // + chunk dedup windows and bin running sums (r11)
    "q_curriculum_pack_upsert", // + per-(source, pack_shard) delta chains (r13)
    "q_sim_rank_diff",    // churn counts over published-ranking joins (r13)
    "q_retrieve_sweep",   // driver hit-count folds over Q·10 serves (r10)
    "q_embed_mean",       // per-dimension exact means (Tables.exactMean)
    "q_graph_drift",      // exact segment means over best-link cosines
    // the serves that resolve published State: one shared body per family
    // over base or base ∪ delta state, heap-ranked across partitions
    "q_sim_ivf_upsert",
    "q_sim_binary_upsert",
    "q_sim_ivfpq_upsert_rerank",
    "q_sim_ivf_sweep",
    "q_sim_ivf_quantized",
    "q_mine_hard_negatives_ivf",
    // the partitioned-member readers and drift monitors
    "q_sim_ivfpq_rerank",
    "q_sim_ivfpq_upsert",
    "q_sim_ivfpq_drift",
    "q_sim_binary_drift",
    "q_text_bm25_drift",
    "q_partition_prune"))
    test(s"$q is byte-identical at shuffle.partitions=197") {
      val fn = SparkEntry.queries(q)
      val want = fn(spark, sf).collect().map(_.toString).toSeq
      val got = inFreshStore(fn(wide, sf).collect().map(_.toString).toSeq)
      assert(got == want)
    }

  // NN-descent CONSTRUCTION (not the published read-path, which would
  // compare identical bytes trivially): four refinement rounds shuffle
  // corpus-sized candidate frames through score joins and per-src
  // windows — re-keyed differently at 197 partitions, the output must
  // still be byte-identical (fixed-order cosine, ties to lower id).
  test("NN-descent construction is byte-identical at shuffle.partitions=197") {
    def built(s: org.apache.spark.sql.SparkSession): Seq[String] =
      graft.llm.Similarity.descentGraph(s, sf, graft.llm.Similarity.DescentIters)
        .orderBy("src", "rnk").collect().map(_.toString).toSeq
    assert(inFreshStore(built(wide)) == built(spark))
  }

  // IVF-PQ residual-book CONSTRUCTION (the serve reads published bytes —
  // trivially identical; the Lloyd loop over grid-snapped residuals is
  // where reassociation would drift first: scaled-BIGINT recenter sums
  // re-combined under a different exchange must still match exactly).
  test("IVF-PQ residual-book construction is byte-identical at shuffle.partitions=197") {
    def built(s: org.apache.spark.sql.SparkSession): Seq[String] =
      graft.llm.IvfPq.trainBooks(s, sf)
        .orderBy("m", "code").collect().map(_.toString).toSeq
    assert(inFreshStore(built(wide)) == built(spark))
  }

  // IVF centroid and raw-PQ book CONSTRUCTION: the shared Lloyd loop
  // (Clustering.lloyd) with its cosine and squared-L2 assigns, recentered
  // by exact means re-combined under a different exchange.
  test("IVF centroid construction is byte-identical at shuffle.partitions=197") {
    def built(s: org.apache.spark.sql.SparkSession): Seq[String] =
      graft.llm.Similarity.trainCentroids(s, sf)
        .orderBy("cent_id").collect().map(_.toString).toSeq
    assert(inFreshStore(built(wide)) == built(spark))
  }

  test("raw-PQ book construction is byte-identical at shuffle.partitions=197") {
    def built(s: org.apache.spark.sql.SparkSession): Seq[String] =
      graft.llm.Pq.trainBooks(s, sf)
        .orderBy("m", "code").collect().map(_.toString).toSeq
    assert(inFreshStore(built(wide)) == built(spark))
  }

  // Graph-index INSERT (live computation every call — only the base graph
  // is published): batch-sized beam frontiers re-keyed at 197 partitions
  // shuffle through different window groupings each round; fixed-order
  // cosine + lower-id ties must keep the emitted adjacency byte-identical.
  test("graph insert is byte-identical at shuffle.partitions=197") {
    def ins(s: org.apache.spark.sql.SparkSession): Seq[String] =
      graft.llm.GraphMaintenance.insert(s, sf).collect().map(_.toString).toSeq
    assert(inFreshStore(ins(wide)) == ins(spark))
  }

  // AQE re-plans at runtime (coalesced partitions, join-strategy swaps,
  // skew splits) — a second axis along which a float-order-sensitive plan
  // would drift. Same queries, AQE off, byte-identical output.
  private lazy val noAqe = {
    val p = spark.newSession()
    p.conf.set("spark.sql.adaptive.enabled", "false")
    p
  }

  for (q <- Seq("q_graph_pagerank", "q_cluster_kmeans", "q_embed_gram",
    "q_table_checksum", "q_agg_weighted_avg"))
    test(s"$q is byte-identical with AQE disabled") {
      val fn = SparkEntry.queries(q)
      val want = fn(spark, sf).collect().map(_.toString).toSeq
      val got = fn(noAqe, sf).collect().map(_.toString).toSeq
      assert(got == want)
    }
}
