package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}

/** PUBLISHED SERVE RANKINGS — the `edges`/`adjacency` discipline applied
  * one tier further, to the serve OUTPUTS themselves (VERDICT r11 item 1).
  *
  * The audit family (q_sim_rank_quality, q_sim_fused*, q_retrieve_*, the
  * per-family recall@10 rows) grades the SAME fixed sample-query rankings
  * over and over: before this object, one full bench session re-executed
  * the six member serves ~4-6× each — ~25% of the whole artifact was the
  * identical Q·10 rankings being recomputed. A production eval harness
  * does what every other index tier here already does: the FIRST caller
  * per fixture runs the serve once and commits its Q·10 ranking through
  * the warehouse pointer (an immutable parquet version, nothing for a
  * long session to evict); every audit afterwards reads Q·10 rows of
  * metadata. Longs and doubles round-trip parquet bit-exactly, so every
  * audit hash is unchanged by construction.
  *
  * What this does NOT cache: the standing serve queries themselves
  * (q_sim_ivf_trained, q_sim_graph_search, q_sim_binary_topk,
  * q_sim_ivfpq_rerank, q_sim_topk). Those ARE the serve-path benchmarks —
  * they keep their real pruned plans, and the bench keeps measuring them.
  * Only consumers that treat a ranking as INPUT EVIDENCE (fusions, recall
  * and rank-quality audits, ablation sweeps) read the published copy.
  *
  * Keying: each (fixture, variant) ranking is a state-store root
  * (graft.etl.State): its key holds the fixture table's file listing and
  * the code fingerprint, so a rewritten fixture, a tuning-constant change
  * or a serve-logic change re-keys every published ranking with nothing to
  * bump by hand. Base and upsert serves are DIFFERENT variants under the
  * same fixture (the upsert ranking carries the late batch) — distinct
  * variants keep a freshness audit from ever reading a stale base
  * ranking. */
object Rankings {

  /** The published-ranking target for one (fixture, variant), keyed on the
    * one table the variant's serve reads — exposed to the publish-once spec
    * (RankingsSpec). */
  private[llm] def targetOf(s: SparkSession, dir: String, variant: String): String =
    graft.etl.State.root(s, "rankings", variant, dir,
      if (variant.startsWith("lex")) "documents" else "embeddings")

  /** Serve-once/audit-many: the published Q·10 ranking for one (fixture,
    * variant). `serve` is by-name — it executes only on the publishing
    * call. */
  private def served(s: SparkSession, dir: String, variant: String)
                    (serve: => DataFrame): DataFrame =
    graft.etl.State.memo(s, targetOf(s, dir, variant))(graft.etl.Warehouse.publish(s, _, serve))

  // ——— exact ground-truth sides (one per metric space) ———

  /** Exact cosine top-10 (the q_sim_topk frame) — the ground truth every
    * cosine-space audit joins against. */
  def exactCos(s: SparkSession, dir: String): DataFrame =
    served(s, dir, "exact_cos")(Similarity.bruteTopK(s, dir))

  /** Exact euclidean top-10 — the L2-space ground truth (IVF-PQ audits). */
  def exactL2(s: SparkSession, dir: String): DataFrame =
    served(s, dir, "exact_l2")(IvfPq.bruteL2TopK(s, dir))

  // ——— base serve families ———

  def ivf(s: SparkSession, dir: String): DataFrame =
    served(s, dir, "ivf")(Similarity.ivfTrainedTopK(s, dir))

  def graph(s: SparkSession, dir: String): DataFrame =
    served(s, dir, "graph")(Similarity.graphSearchTopK(s, dir))

  def binary(s: SparkSession, dir: String): DataFrame =
    served(s, dir, "binary")(Binary.topK(s, dir))

  def ivfpq(s: SparkSession, dir: String): DataFrame =
    served(s, dir, "ivfpq")(IvfPq.rerankTopK(s, dir))

  /** The lexical tower's ranking (BM25 over the published postings). Keyed
    * on `documents` — the only table the lexical side reads. */
  def lex(s: SparkSession, dir: String): DataFrame =
    served(s, dir, "lex")(Fusion.lexTopK(s, dir))

  // ——— upsert-aware (freshness) serve families — DIFFERENT artifacts ———

  def ivfUpsert(s: SparkSession, dir: String): DataFrame =
    served(s, dir, "ivf_upsert")(IvfMaintenance.upsertServe(s, dir))

  def graphUpsert(s: SparkSession, dir: String): DataFrame =
    served(s, dir, "graph_upsert")(GraphMaintenance.upsertSearch(s, dir))

  def binaryUpsert(s: SparkSession, dir: String): DataFrame =
    served(s, dir, "binary_upsert")(BinaryMaintenance.upsertServe(s, dir))

  /** The composite's PRODUCTION freshness serve (ADC shortlist + exact
    * rerank over base ∪ delta) — the family the freshness rank audit
    * grades, mirroring the base audit's rerankTopK choice. */
  def ivfpqUpsert(s: SparkSession, dir: String): DataFrame =
    served(s, dir, "ivfpq_upsert_rerank")(IvfPq.upsertRerankTopK(s, dir))

  def lexUpsert(s: SparkSession, dir: String): DataFrame =
    served(s, dir, "lex_upsert")(Fusion.lexUpsertTopK(s, dir))
}
