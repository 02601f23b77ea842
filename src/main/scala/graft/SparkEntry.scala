package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._
import graft.llm.{Dedup, Similarity, TextAnalysis, Sessions}

/** Driver contract — see SURVEY.md §2.2 (repository root) for the declared
  * query inventory and §7 for the build plan. Every key in `queries` has a
  * matching DuckDB oracle in `oracleSql` unless the operator is
  * engine-specific (approx sketches) — those get the driver's weaker
  * rows-only check. The oracles live in `graft.oracle`, one file per query
  * family, built from the shared fragments in `graft.oracle.Sql`.
  *
  * Determinism discipline (SURVEY.md §7.4): every query ends in an explicit
  * orderBy over a unique key; money aggregates accumulate in DECIMAL and
  * surface as DOUBLE so Spark and DuckDB agree bit-for-bit.
  */
object SparkEntry {

  /** Flagship: 4-way star join + agg on sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Joins.multi(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Group A — reference-surface ETL semantics
    "q_project_rename"     -> (GroupA.projectRename _),
    "q_derived_column"     -> (GroupA.derivedColumn _),
    "q_cast_timestamp"     -> (GroupA.castTimestamp _),
    "q_filter_prefix"      -> (GroupA.filterPrefix _),
    "q_union_all"          -> (GroupA.unionAll _),
    "q_dedup_latest"       -> (GroupA.dedupLatest _),
    "q_merge_upsert"       -> (GroupA.mergeUpsert _),
    "q_merge_cdc"          -> (GroupA.mergeCdc _),
    "q_snapshot_overwrite" -> (GroupA.snapshotOverwrite _),
    "q_partition_prune"    -> (GroupA.partitionPrune _),
    "q_agg_collect_set"    -> (Aggregates.collectSet _),
    // Group B — joins
    "q_join_inner"         -> (Joins.inner _),
    "q_join_broadcast"     -> (Joins.broadcastJoin _),
    "q_join_bucketed"      -> (BucketedJoin.revenueByStatus _),
    "q_join_multi"         -> (Joins.multi _),
    "q_join_left"          -> (Joins.left _),
    "q_join_semi"          -> (Joins.semi _),
    "q_join_anti"          -> (Joins.anti _),
    "q_join_anti_null"     -> (Joins.antiNull _),
    "q_join_range"         -> (Joins.range _),
    "q_join_star2"         -> (Joins.star2 _),
    "q_join_skew_salted"   -> (Joins.skewSalted _),
    "q_subquery_scalar"    -> (Joins.scalarSubquery _),
    "q_subquery_corr_agg"  -> (Joins.correlatedAgg _),
    "q_window_navigation"  -> (WindowsSorts.navigation _),
    "q_join_asof"          -> (Joins.asof _),
    "q_join_asof2"         -> (Joins.asof2 _),
    // Group B — aggregates
    "q_agg_groupby"        -> (Aggregates.groupBy _),
    "q_agg_distinct"       -> (Aggregates.distinctAgg _),
    "q_agg_approx_distinct" -> (Aggregates.approxDistinct _),
    // oracle-visible accuracy gates for the 4 sketch queries (VERDICT r6
    // item 7): the boolean within-tolerance verdict IS hash-checkable
    "q_agg_approx_distinct_bound" -> (Aggregates.approxDistinctBound _),
    "q_agg_sketch_merge_bound" -> (Aggregates.sketchMergeBound _),
    "q_agg_theta_ops"      -> (Aggregates.thetaOps _),
    "q_agg_theta_ops_bound" -> (Aggregates.thetaOpsBound _),
    "q_agg_percentile_approx_bound" -> (Aggregates.approxPercentilesBound _),
    "q_active_users_sketch_bound" -> (Sessions.activeUsersSketchBound _),
    "q_agg_stats"          -> (Aggregates.stats _),
    "q_agg_percentile"     -> (Aggregates.percentiles _),
    "q_rollup"             -> (Aggregates.rollupAgg _),
    "q_cube"               -> (Aggregates.cubeAgg _),
    "q_grouping_sets"      -> (Aggregates.groupingSets _),
    "q_pivot"              -> (Aggregates.pivot _),
    "q_unpivot"            -> (Aggregates.unpivot _),
    // Group B — windows, sorts, set ops
    "q_window_rank"        -> (WindowsSorts.rank _),
    "q_window_running"     -> (WindowsSorts.running _),
    "q_window_lag"         -> (WindowsSorts.lagDelta _),
    "q_window_range"       -> (WindowsSorts.rangeFrame _),
    "q_topk"               -> (WindowsSorts.topk _),
    "q_sort_global"        -> (WindowsSorts.sortGlobal _),
    "q_intersect"          -> (WindowsSorts.intersect _),
    "q_except"             -> (WindowsSorts.except _),
    // Group B — scalar functions
    "q_string_funcs"       -> (Scalars.stringFuncs _),
    "q_date_funcs"         -> (Scalars.dateFuncs _),
    "q_math_funcs"         -> (Scalars.mathFuncs _),
    "q_case_when"          -> (Scalars.caseWhen _),
    "q_json_funcs"         -> (Scalars.jsonFuncs _),
    // Group C — LLM-data-pipeline operators
    "q_dedup_exact"        -> (Dedup.exact _),
    "q_dedup_near"         -> (Dedup.near _),
    "q_dedup_minhash"      -> (Dedup.minhashPairs _),
    "q_dedup_clusters"     -> (Dedup.clusters _),
    "q_dedup_shingle"      -> (Dedup.shinglePairs _),
    "q_dedup_winnow"       -> (Dedup.winnowPairs _),
    // exact-substring duplication audit: every W-token window hashed and
    // checked cross-doc (Lee et al. 2022 — exhaustive, where winnowing
    // samples; llm/Dedup)
    "q_dedup_substring"    -> (Dedup.substringAudit _),
    "q_stats_profile"      -> (graft.ops.Profile.profile _),
    "q_decontaminate"      -> (graft.llm.Curation.decontaminate _),
    "q_decontaminate_audit" -> (graft.llm.Curation.decontaminateAudit _),
    "q_decontaminate_embed" -> (graft.llm.Curation.decontaminateEmbed _),
    "q_text_commonness"    -> (graft.llm.Curation.commonness _),
    "q_sample_stratified"  -> (graft.llm.Curation.stratifiedSample _),
    "q_split_assign"       -> (graft.llm.Curation.splitAssign _),
    // split-contamination audit: near-dup class members straddling the
    // train/eval boundary — the internal leak the content-keyed split
    // cannot prevent (llm/Curation + the published near-dup closure)
    "q_split_leakage"      -> (graft.llm.Curation.splitLeakage _),
    "q_stats_skew"         -> (graft.ops.Profile.skew _),
    "q_sample_per_group"   -> (graft.llm.Curation.samplePerGroup _),
    "q_text_repetition"    -> (graft.llm.Curation.repetition _),
    "q_text_pii_scrub"     -> (graft.llm.Curation.piiScrub _),
    "q_curate_filter"      -> (graft.llm.Curation.curateFilter _),
    "q_dedup_jaccard"      -> (Dedup.jaccard _),
    "q_dedup_recall"       -> (Dedup.bandingRecall _),
    "q_dedup_components"   -> (Dedup.components _),
    "q_dedup_incremental"  -> (Dedup.incrementalDedup _),
    "q_dedup_simhash"      -> (Dedup.simhash _),
    "q_dedup_simhash_pairs" -> (Dedup.simhashPairs _),
    "q_dedup_embed"        -> (Dedup.embedNear _),
    "q_dedup_embed_lsh"    -> (Dedup.embedNearLsh _),
    "q_pack_sequences"     -> (graft.llm.Curation.packSequences _),
    "q_sim_topk"           -> (Similarity.bruteTopK _),
    "q_sim_lsh"            -> (Similarity.lshTopK _),
    "q_sim_lsh_multiprobe" -> (Similarity.lshMultiProbeTopK _),
    "q_sim_ivf"            -> (Similarity.ivfTopK _),
    "q_sim_ivf_trained"    -> (Similarity.ivfTrainedTopK _),
    // index maintenance: O(batch) incremental add against frozen centroids,
    // served from base ∪ delta lists with no rebuild (llm/IvfMaintenance)
    "q_sim_ivf_upsert"     -> (graft.llm.IvfMaintenance.upsertServe _),
    // staleness monitor: frozen-centroid fit per base/late segment — the
    // retrain trigger an index deployment watches (llm/IvfMaintenance)
    "q_index_drift"        -> (graft.llm.IvfMaintenance.drift _),
    // binary-family maintenance: sign the late batch against the frozen
    // published means, serve base ∪ delta signatures; the means-fit drift
    // monitor (llm/BinaryMaintenance)
    "q_sim_binary_upsert"  -> (graft.llm.BinaryMaintenance.upsertServe _),
    "q_sim_binary_drift"   -> (graft.llm.BinaryMaintenance.drift _),
    // product quantization: trained 4-bit codebooks + ADC lookup scoring —
    // the 64x-compressed serve path of the ANN family (llm/Pq)
    "q_sim_pq_codes"       -> (graft.llm.Pq.codes _),
    "q_sim_pq_topk"        -> (graft.llm.Pq.adcTopK _),
    "q_sim_pq_rerank"      -> (graft.llm.Pq.rerankTopK _),
    // IVF-PQ: the composite index (FAISS IVFADC) — cell-pruned scan of
    // product-quantized RESIDUALS, per-cell ADC LUTs, exact re-rank of the
    // shortlist, and the L2 recall audit (llm/IvfPq)
    "q_sim_ivfpq"          -> (graft.llm.IvfPq.adcTopK _),
    "q_sim_ivfpq_rerank"   -> (graft.llm.IvfPq.rerankTopK _),
    "q_sim_ivfpq_recall"   -> (graft.llm.IvfPq.recallAudit _),
    "q_sim_ivfpq_sweep"    -> (graft.llm.IvfPq.sweep _),
    "q_sim_ivfpq_upsert"   -> (graft.llm.IvfPq.upsertAdcTopK _),
    // the composite's PRODUCTION freshness serve: ADC shortlist over
    // base ∪ delta + exact rerank — the freshness rank audit measured the
    // ADC-only serve at nDCG ~0.36 vs ~0.89 base; this closes it (llm/IvfPq)
    "q_sim_ivfpq_upsert_rerank" -> (graft.llm.IvfPq.upsertRerankTopK _),
    // composite staleness monitor: per-segment mean ADC reconstruction
    // error under the frozen coarse+book stages (llm/IvfPq)
    "q_sim_ivfpq_drift"    -> (graft.llm.IvfPq.drift _),
    // binary quantization: centered sign-bit signatures (8 bytes/vector,
    // 32x) + Hamming shortlist, exact re-rank of the shortlist (llm/Binary)
    "q_sim_binary_codes"   -> (graft.llm.Binary.codes _),
    "q_sim_binary_topk"    -> (graft.llm.Binary.topK _),
    // graph-probe ANN: beam search over the kNN graph (llm/Similarity)
    "q_sim_graph_search"   -> (Similarity.graphSearchTopK _),
    // graph-index maintenance: HNSW-style insert — beam-search the frozen
    // base graph per arriving vector, link top-K (llm/GraphMaintenance)
    "q_sim_graph_insert"   -> (graft.llm.GraphMaintenance.insert _),
    "q_sim_graph_upsert"   -> (graft.llm.GraphMaintenance.upsertSearch _),
    // graph staleness monitor: per base/late segment best-link quality —
    // the graph family's retrain trigger (llm/GraphMaintenance)
    "q_graph_drift"        -> (graft.llm.GraphMaintenance.drift _),
    // NN-descent graph-index construction (llm/Similarity)
    "q_sim_nndescent"      -> (Similarity.nnDescent _),
    // ensemble retrieval: reciprocal-rank fusion across the three
    // published index families + its recall audit (llm/Fusion)
    "q_sim_fused"          -> (graft.llm.Fusion.fusedTopK _),
    "q_sim_rank_quality"   -> (graft.llm.RankEval.rankQuality _),
    // the freshness rank audit: six-family MRR/nDCG@10 over the
    // upsert-aware serves vs the full-corpus exact sides (llm/RankEval)
    "q_sim_rank_quality_upsert" -> (graft.llm.RankEval.rankQualityUpsert _),
    "q_sim_rank_diff"      -> (graft.llm.RankEval.rankDiff _),
    "q_retrieve_sweep"     -> (graft.llm.Fusion.hybridSweep _),
    "q_curriculum_order"   -> (graft.llm.Curation.curriculumOrder _),
    // the curriculum ↔ pack integration: (stage, shard, seq, chunk_idx) →
    // (bin_id, bin_offset) for every train chunk — the end-to-end
    // dataloader artifact, declared + hash-checked (llm/Curation)
    "q_curriculum_pack"    -> (graft.llm.Curation.curriculumPack _),
    // the dataloader artifact's ADD half: frozen base bins byte-identical,
    // late chunks into fresh bins past each source's high-water bin, the
    // late batch curriculum-ordered as its own addendum (llm/Curation)
    "q_curriculum_pack_upsert" -> (graft.llm.Curation.curriculumPackUpsert _),
    "q_sim_fused_recall"   -> (graft.llm.Fusion.recallFused _),
    // the ensemble's freshness serve: RRF over the three families'
    // upsert-aware serves — late vectors flow through the consensus
    "q_sim_fused_upsert"   -> (graft.llm.Fusion.fusedUpsertTopK _),
    // ensemble ablation: recall at each member-set prefix — the marginal
    // contribution of each index family (llm/Fusion)
    "q_sim_fused_sweep"    -> (graft.llm.Fusion.fusedSweep _),
    // measurement-driven ensemble: leave-one-out on the tune half decides
    // which members serve — the sweep's finding acted on (llm/Fusion)
    "q_sim_fused_weighted" -> (graft.llm.Fusion.fusedWeighted _),
    // hybrid retrieval: per-query BM25 lexical ranking + the published
    // trained-IVF dense serve, RRF-fused (llm/Fusion)
    "q_retrieve_hybrid"    -> (graft.llm.Fusion.hybridTopK _),
    "q_retrieve_hybrid_upsert" -> (graft.llm.Fusion.hybridUpsertTopK _),
    // the hybrid's recall@10 audit vs exact cosine (llm/Fusion)
    "q_retrieve_recall"    -> (graft.llm.Fusion.recallHybrid _),
    // oracle-visible recall audits for the new serve paths (the _bound
    // twin discipline applied to ANN quality)
    "q_sim_graph_recall"   -> (Similarity.recallGraph _),
    "q_sim_binary_recall"  -> (Similarity.recallBinary _),
    "q_array_funcs"        -> (Similarity.arrayFuncs _),
    "q_text_tokens"        -> (TextAnalysis.termFreq _),
    "q_text_stats"         -> (TextAnalysis.stats _),
    "q_text_lang"          -> (TextAnalysis.langId _),
    "q_text_quality"       -> (TextAnalysis.quality _),
    "q_text_fingerprint"   -> (TextAnalysis.fingerprint _),
    "q_text_tokens_bpe"    -> (TextAnalysis.tokenCounts _),
    "q_text_bpe_apply"     -> (TextAnalysis.bpeApply _),
    "q_multimodal_decode"  -> (graft.multimodal.Multimodal.decodeStats _),
    "q_multimodal_resize"  -> (graft.multimodal.Multimodal.resizeStats _),
    "q_multimodal_frames"  -> (graft.multimodal.Multimodal.frameStats _),
    // image-modality near-dup: perceptual hash + banded hamming pairs
    "q_multimodal_phash"   -> (graft.multimodal.Multimodal.phashStats _),
    "q_multimodal_dedup"   -> (graft.multimodal.Multimodal.phashPairs _),
    "q_sessionize"         -> (Sessions.sessionize _),
    "q_event_funnel"       -> (Sessions.funnel _),
    "q_event_paths"        -> (Sessions.eventPaths _),
    "q_retention"          -> (Sessions.retention _),
    "q_window_tumbling"    -> (Sessions.tumbling _),
    "q_scd2_history"       -> (GroupA.scd2History _),
    // round 5: the six round-4 operators wired into the verified surface,
    // plus the two compositions they exist for (chunk-level dedup, int8 serve)
    "q_chunk_tokens"       -> (graft.llm.Curation.chunkTokens _),
    "q_dedup_chunk"        -> (graft.llm.Curation.chunkDedup _),
    "q_quality_logit"      -> (graft.llm.Curation.qualityLogit _),
    "q_event_attribution"  -> (Sessions.attribution _),
    "q_embed_quantize"     -> (Similarity.quantize _),
    "q_sim_ivf_quantized"  -> (Similarity.ivfQuantizedTopK _),
    "q_join_ship_priority" -> (Joins.shipPriority _),
    "q_join_region_revenue" -> (Joins.regionRevenue _),
    "q_text_tfidf"         -> (TextAnalysis.tfidf _),
    "q_text_bm25"          -> (TextAnalysis.bm25 _),
    // lexical-index maintenance: O(batch) posting add (tokenize the late
    // docs only), serve base ∪ delta with df/stats reconciled from the
    // merged members — bit-identical to a full rebuild; plus the frozen-
    // vocabulary OOV drift monitor (llm/LexMaintenance)
    "q_text_bm25_upsert"   -> (graft.llm.LexMaintenance.upsertServe _),
    "q_text_bm25_drift"    -> (graft.llm.LexMaintenance.drift _),
    "q_chunk_pack"         -> (graft.llm.Curation.chunkPack _),
    "q_dedup_embed_components" -> (Dedup.embedComponents _),
    "q_sample_temperature" -> (graft.llm.Curation.temperatureSample _),
    "q_join_volume"        -> (Joins.nationVolume _),
    "q_text_lm_score"      -> (TextAnalysis.lmScore _),
    "q_chunk_overlap"      -> (graft.llm.Curation.chunkOverlap _),
    "q_sim_knn_graph"      -> (Similarity.knnGraph _),
    "q_dedup_soft"         -> (Dedup.softWeights _),
    "q_quality_threshold"  -> (graft.llm.Curation.qualityThreshold _),
    "q_select_budget"      -> (graft.llm.Curation.selectBudget _),
    // no oracle (engine-specific DataSketches binary) — rows-only check,
    // like q_agg_approx_distinct; merge-equals-direct is spec-proven
    "q_agg_sketch_merge"   -> (Aggregates.sketchMerge _),
    "q_embed_gram"         -> (Similarity.gram _),
    "q_embed_mean"         -> (Similarity.meanVector _),
    "q_embed_covariance"   -> (Similarity.covariance _),
    "q_join_cust_returns"  -> (Joins.custReturns _),
    "q_join_large_orders"  -> (Joins.largeOrders _),
    "q_join_blame_supplier" -> (Joins.blameSupplier _),
    "q_join_dormant_cust"  -> (Joins.dormantCust _),
    "q_window_sliding"     -> (Sessions.sliding _),
    "q_embed_pca_project"  -> (Similarity.pcaProject _),
    "q_timeseries_gapfill" -> (Sessions.gapfill _),
    "q_anomaly_zscore"     -> (Sessions.anomalyZscore _),
    "q_active_users"       -> (Sessions.activeUsers _),
    "q_stats_drift"        -> (graft.ops.Profile.drift _),
    "q_embed_whiten"       -> (Similarity.whiten _),
    // no oracle (engine-specific DataSketches binary) - rows-only check;
    // SketchWauSpec pins the estimate to the exact q_active_users
    "q_active_users_sketch" -> (Sessions.activeUsersSketch _),
    "q_agg_mode"           -> (Aggregates.mode _),
    "q_agg_corr"           -> (Aggregates.corrAgg _),
    "q_agg_incremental"    -> (Aggregates.incrementalMerge _),
    "q_histogram"          -> (graft.ops.Profile.histogram _),
    "q_join_full_outer"    -> (Joins.fullOuter _),
    "q_dq_audit"           -> (graft.ops.DataQuality.audit _),
    "q_event_cooccurrence" -> (Sessions.cooccurrence _),
    "q_graph_pagerank"     -> (graft.ops.Graph.pagerank _),
    "q_graph_triangles"    -> (graft.ops.Graph.triangles _),
    "q_graph_degree_dist"  -> (graft.ops.Graph.degreeDist _),
    "q_agg_revenue_slice"  -> (Aggregates.revenueSlice _),
    "q_join_promo_share"   -> (Joins.promoRevenue _),
    "q_join_disjunctive"   -> (Joins.disjunctiveRevenue _),
    "q_event_rfm"          -> (Sessions.rfm _),
    "q_agg_weighted_avg"   -> (Aggregates.weightedAvg _),
    // no oracle (GK sketch estimate is engine-specific) — rows-only check;
    // ApproxPercentileSpec pins the estimates to the exact percentiles
    "q_agg_percentile_approx" -> (Aggregates.approxPercentiles _),
    "q_chunk_sentences"    -> (graft.llm.Curation.chunkSentences _),
    "q_sample_target_mix"  -> (graft.llm.Curation.targetMix _),
    "q_window_ntile"       -> (WindowsSorts.ntileQuartiles _),
    "q_event_transitions"  -> (Sessions.transitions _),
    "q_scd2_asof"          -> (GroupA.scd2Asof _),
    "q_table_checksum"     -> (graft.ops.DataQuality.tableChecksum _),
    "q_text_ngrams"        -> (TextAnalysis.bigramFreq _),
    "q_agg_topk"           -> (Aggregates.topVals _),
    "q_join_bloom"         -> (Joins.bloomPrunedJoin _),
    "q_agg_argmax"         -> (Aggregates.argmax _),
    "q_window_pct"         -> (WindowsSorts.percentRank _),
    "q_sample_weighted"    -> (graft.llm.Curation.sampleWeighted _),
    "q_sample_importance"  -> (graft.llm.Curation.importanceWeight _),
    "q_scd2_merge"         -> (GroupA.scd2Merge _),
    "q_fuzzy_match"        -> (Joins.fuzzyMatch _),
    "q_join_dpp"           -> (GroupA.dppJoin _),
    "q_join_asof_native"   -> (Joins.asofNative _),
    "q_join_band"          -> (Joins.bandJoin _),
    "q_histogram_depth"    -> (graft.ops.Profile.histogramDepth _),
    "q_agg_cms_topk"       -> (Aggregates.cmsHeavyHitters _),
    // round 6: the remaining TPC-H report shapes (Q2/Q4/Q8/Q9/Q12/Q13/
    // Q15/Q16/Q17/Q20 adapted to this schema) — Reports.scala
    "q_join_order_priority" -> (Reports.orderPriority _),
    "q_join_market_share"   -> (Reports.marketShare _),
    "q_join_product_profit" -> (Reports.productProfit _),
    "q_join_ship_delay"     -> (Reports.shipDelayMix _),
    "q_join_cust_dist"      -> (Reports.custDistribution _),
    "q_join_top_supplier"   -> (Reports.topSupplier _),
    "q_join_parts_supplier" -> (Reports.partsSupplierCount _),
    "q_join_small_qty"      -> (Reports.smallQtyRevenue _),
    "q_join_excess_supp"    -> (Reports.excessSupplier _),
    "q_join_min_bal_supp"   -> (Reports.minBalSupplier _),
    // round 6: distributed k-means (two deterministic Lloyd rounds,
    // broadcast centroids) — the clustering stage of the curation pipeline
    "q_cluster_kmeans"      -> (graft.llm.Clustering.kmeans _),
    "q_cluster_sizes"       -> (graft.llm.Clustering.kmeansSizes _),
    // round 6: Q11 completes the full 22-shape TPC-H report family, and
    // the ANN recall audit closes the similarity-serving loop
    "q_join_important_stock" -> (Reports.importantStock _),
    "q_sim_recall"          -> (Similarity.recallIvf _),
    // serve face of k-means (published centroids, zero training in the
    // plan) — same oracle as q_cluster_kmeans proves serve ≡ train
    "q_cluster_assign"      -> (graft.llm.Clustering.assignPublished _),
    // BPE merge-table TRAINING (the operator q_text_bpe_apply consumes)
    "q_text_bpe_train"      -> (TextAnalysis.bpeTrain _),
    // conditional/boolean aggregates + LATERAL correlated subquery
    "q_agg_flags"           -> (Aggregates.flagAggs _),
    "q_join_lateral"        -> (Joins.lateralTop _),
    // round 8 wave 2: contrastive-training pair mining (llm/Mining),
    // the data-constrained epoch schedule, and the IVF operating curve
    "q_mine_hard_negatives" -> (graft.llm.Mining.hardNegatives _),
    "q_mine_triplets"       -> (graft.llm.Mining.triplets _),
    "q_mix_epochs"          -> (graft.llm.Curation.mixEpochs _),
    "q_sim_ivf_sweep"       -> (Similarity.ivfSweep _),
    // store-shaped miner: label-filtered ANN off the published inverted
    // lists (label payload in the lists), plus its recall audit
    "q_mine_hard_negatives_ivf" -> (graft.llm.Mining.hardNegativesIvf _),
    "q_mine_recall"         -> (graft.llm.Mining.mineRecall _),
    // tokenizer-fairness audit + the dataloader export manifest
    "q_text_fertility"      -> (TextAnalysis.fertility _),
    "q_export_shards"       -> (graft.llm.Curation.exportShards _),
    // the epoch schedule MATERIALIZED: realized-vs-planned audit
    "q_mix_apply"           -> (graft.llm.Curation.mixApply _),
  )

  /** The DuckDB twin of each query, by name, merged from the per-family
    * lists in `graft.oracle`. */
  def oracleSql: Map[String, String] =
    disjoint(oracle.Relational.twins, oracle.JoinsAggregates.twins,
      oracle.TextCuration.twins, oracle.VectorIndexes.twins,
      oracle.DedupMultimodal.twins)

  /** The union of `families` as a map. A name defined twice, within one
    * family or across two, throws instead of letting the later twin win. */
  private[graft] def disjoint(families: Seq[(String, String)]*): Map[String, String] = {
    val all = families.flatten
    val twice = all.groupBy(_._1).collect { case (k, v) if v.size > 1 => k }
    require(twice.isEmpty, s"oracle twin defined twice: ${twice.toSeq.sorted.mkString(", ")}")
    all.toMap
  }
}
