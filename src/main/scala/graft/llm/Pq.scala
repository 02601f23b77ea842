package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** PRODUCT QUANTIZATION (Jégou, Douze, Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the missing member of the ANN
  * family next to IVF cells and int8 scalar quantization: the embedding is
  * split into M contiguous subspaces, each trained its own K-entry codebook,
  * and a vector is stored as M small codes (here 8 × 4 bits = 4 bytes per
  * 64-dim float vector, a 64× compression). Query scoring is ADC
  * (asymmetric distance computation): the query precomputes an M×K lookup
  * table of exact partial distances ONCE, then every candidate's estimated
  * distance is M table lookups — no float math per candidate at all. At
  * 100 TB this is what a real vector store serves from: the code table is
  * 4 bytes/vector where the raw corpus is 256, and the scan is
  * memory-bandwidth-bound lookups.
  *
  * Spark shapes:
  *  - training runs ALL M subspaces in the same distributed passes (the
  *    subspace fan-out is a constant M map stage, one corpus scan per Lloyd
  *    round regardless of M); codebooks are M·K·SubDim doubles — metadata
  *    tier, broadcast, never shuffled;
  *  - train-once/serve-many through a state-store root (graft.etl.State —
  *    the ivfTrainedTopK discipline);
  *  - encoding is one broadcast-join map pass; the ADC estimate is an
  *    ORDER-FIXED fold over the M partial distances (m ascending), so the
  *    DuckDB twin's list_sum(list(pd ORDER BY m)) replays it bit-for-bit.
  *
  * Numeric discipline: training is the shared Lloyd loop (Clustering
  * .lloyd — Tables.exactMean recenter, overflow-safe at any corpus);
  * assignment ties break to the LOWER code id; all distances go through
  * the codegen'd vec_dist2. */
object Pq {

  /** Subspaces (codes per vector). */
  val M = 8
  /** Dimensions per subspace (fixture d = 64 = M · SubDim; on a wider
    * embedding the quantizer covers the first M·SubDim dims). */
  val SubDim = 8
  /** Codebook entries per subspace (4-bit codes). */
  val K = 16
  /** Lloyd rounds (deterministic: seed = the first K vectors' subvectors). */
  val Iters = 2
  /** Query sample for ADC top-k (the q_sim_topk convention). */
  val NQueries = 8

  /** The M codebooks the shared Lloyd loop trains: per subspace `m`,
    * codewords `csv` over the `sv` subvectors. */
  private val subspaces = Clustering.Space("code", Some("m"), "sv", "csv")

  /** (vec_id, m, sv): all M subvectors of every vector in ONE map pass —
    * the fan-out is the constant M, never a shuffle. */
  private def subvecs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), explode(expr(
        s"transform(sequence(0, ${M - 1}), m -> struct(m AS m, " +
          s"transform(slice(embedding, m * $SubDim + 1, $SubDim), " +
          s"x -> CAST(x AS DOUBLE)) AS sv))")).as("t"))
      .select(col("vec_id"), col("t.m").as("m"), col("t.sv").as("sv"))

  /** One assignment pass: per (vector, subspace) the nearest codebook entry
    * (Clustering.assign, ties → lower code id). Extra columns on `sv`
    * (e.g. IvfPq's cell id) pass through untouched. `private[llm]` so the
    * residual quantizer (IvfPq) shares it. */
  private[llm] def assign(sv: DataFrame, books: DataFrame): DataFrame =
    Clustering.assign(subspaces)(sv, books)

  /** Train the M codebooks: `Iters` Lloyd rounds over the subvector frame,
    * seeded by the first K vectors' subvectors. */
  def trainBooks(s: SparkSession, dir: String): DataFrame =
    lloydBooks(subvecs(s, dir))

  /** The Lloyd loop (Clustering.lloyd) over an ARBITRARY (vec_id, m, sv)
    * subvector frame — shared verbatim by the raw-vector quantizer
    * (trainBooks) and the residual quantizer (IvfPq.trainBooks): the two
    * differ only in what the subvectors are measured against, never in how
    * codebooks train. */
  private[llm] def lloydBooks(sv: DataFrame): DataFrame =
    Clustering.lloyd(subspaces, sv, sv.filter(col("vec_id") < K), Iters)()

  /** Published-codebook location (a state-store root). */
  private[graft] def pqTarget(s: SparkSession, dir: String): String =
    graft.etl.State.root(s, "ivf", "pq", dir, "embeddings")

  /** Train-once/serve-many codebooks (deterministic training — racing
    * writers publish identical bytes, last-writer-wins benign). */
  private def books(s: SparkSession, dir: String): DataFrame =
    graft.etl.State.memo(s, pqTarget(s, dir))(graft.etl.Warehouse.publish(s, _, trainBooks(s, dir)))
      .select("m", "code", "csv")

  private def codesOf(s: SparkSession, dir: String): DataFrame =
    assign(subvecs(s, dir), books(s, dir)).select("vec_id", "m", "code")

  /** q_sim_pq_codes: the stored representation — M 4-bit codes per vector
    * (4 bytes where the raw vector is 256). The collect_list is bounded by
    * the constant M; the code array serializes to a canonical string (the
    * q_embed_quantize discipline — the driver's row-sort cannot order raw
    * array cells). */
  def codes(s: SparkSession, dir: String): DataFrame =
    codesOf(s, dir).groupBy("vec_id")
      .agg(expr("concat_ws(',', transform(array_sort(collect_list(" +
        "struct(m, code))), p -> CAST(p.code AS STRING)))").as("codes"))
      .orderBy("vec_id")

  /** ADC shortlist size for the exact re-rank. */
  val Shortlist = 50

  /** ADC top-k per sample query: the LUT (NQueries·M·K exact partial
    * distances) is metadata-sized and broadcast; each candidate costs M
    * lookups folded in FIXED m-ascending order (the DuckDB twin's
    * list_sum(list(pd ORDER BY m)) — bit-identical), so the per-candidate
    * work carries no float recomputation at any corpus size. The N×Q
    * estimate frame is ranked through the k-bounded `top_structs` heap
    * aggregate (Ranking.topKPerGroup; VERDICT r7 item 1) — the exchange
    * carries Q×k rows per partition, never the corpus-sized frame into Q
    * sort tasks. */
  private def adcShortlist(s: SparkSession, dir: String, k: Int): DataFrame = {
    val dd = Clustering.dist2Sql _
    val q = subvecs(s, dir).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("m"), col("sv").as("qsv"))
    val lut = q.join(broadcast(books(s, dir)), "m")
      .select(col("q_id"), col("m"), col("code"), expr(dd("qsv", "csv")).as("pd"))
    adcRank(codesOf(s, dir)
      .join(broadcast(lut), Seq("m", "code"))
      .filter(col("q_id") =!= col("vec_id"))
      .groupBy(col("q_id"), col("vec_id").as("n_id"))
      .agg(adcSum.as("est_d2")), k)
  }

  /** A candidate's ADC estimate: its M partial distances `pd` folded in
    * FIXED m-ascending order. */
  private[llm] def adcSum: Column = expr("aggregate(transform(array_sort(" +
    "collect_list(struct(m, pd))), p -> p.pd), 0D, (acc, x) -> acc + x)")

  /** The ADC ranking tail of the flat and composite serves: the best `k`
    * (q_id, n_id) per query by estimate, ties to the lower id, through the
    * k-bounded heap. */
  private[llm] def adcRank(est: DataFrame, k: Int): DataFrame =
    Ranking.topKPerGroup(est.select("q_id", "n_id", "est_d2"),
      "q_id", "est_d2", "n_id", k, asc = true, "est_d2", "n_id")

  /** The exact-L2 rerank of every PQ-family serve: the (…, q_id, n_id)
    * shortlist joins ONLY its rows' raw embeddings and the broadcast query
    * vectors, and keeps the best 10 per `part` group by (d2, n_id) as
    * `rank` — Q·Shortlist vectors touched at any corpus size. */
  private[llm] def rerank(s: SparkSession, dir: String, short: DataFrame,
                          part: String*): DataFrame = {
    val dd = Clustering.dist2Sql _
    val e = t(s, dir, "embeddings")
    short
      .join(e.select(col("vec_id").as("n_id"), col("embedding").as("ne")), "n_id")
      .join(broadcast(e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))), "q_id")
      .withColumn("d2", expr(dd("qe", "ne")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(part.map(col): _*).orderBy(col("d2"), col("n_id")))
        .cast("long"))
      .filter(col("rank") <= 10)
  }

  /** q_sim_pq_topk: ADC top-10 per sample query. */
  def adcTopK(s: SparkSession, dir: String): DataFrame =
    adcShortlist(s, dir, 10)
      .select("q_id", "n_id", "est_d2", "rank")
      .orderBy("q_id", "rank")

  /** q_sim_pq_rerank: the production serve path — ADC shortlists
    * `Shortlist` candidates from the 4-byte codes, then ONLY those rows'
    * raw embeddings are read for an exact re-rank (PqSpec measures the
    * recall lift over raw ADC). At 100 TB the exact pass touches
    * NQueries·Shortlist vectors, never the corpus. */
  def rerankTopK(s: SparkSession, dir: String): DataFrame =
    rerank(s, dir, adcShortlist(s, dir, Shortlist).select("q_id", "n_id"), "q_id")
      .select("q_id", "n_id", "d2", "rank")
      .orderBy("q_id", "rank")
}
