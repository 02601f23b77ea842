package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** BINARY (1-bit) embedding quantization + Hamming-distance ANN — the most
  * aggressive member of the compression family next to int8 scalar codes
  * (`q_embed_quantize`, 4×) and PQ (`q_sim_pq_*`, 64× with codebooks): one
  * SIGN BIT per dimension, centered on the corpus per-dimension mean so the
  * bits are balanced (~half the corpus on each side of every hyperplane —
  * the data-aware cousin of the random-hyperplane `hyperplane_bucket` LSH).
  * A 64-dim float vector becomes 8 bytes (32× smaller), and candidate
  * scoring is two XOR+popcount ops per vector — no float math at all.
  *
  * 100 TB shapes:
  *  - the per-dimension mean is d rows of corpus-INDEPENDENT metadata
  *    (the `whitenVecs` tier: one partial-aggregated pass, exchange carries
  *    d rows per partition, driver-collects d doubles);
  *  - signing + packing is a pure map stage — no shuffle anywhere in the
  *    encode path;
  *  - the Hamming scan is Q sample-query signatures (16 bytes each)
  *    broadcast against the signature column: a bandwidth-bound linear scan
  *    of 8-byte codes where the float corpus would be 256 bytes/row, the
  *    standard first-stage filter of a binary-quantized vector store. The
  *    exact re-rank then touches Q·Shortlist raw vectors, never the corpus
  *    (the `q_sim_pq_rerank` discipline);
  *  - sub-linear serving composes with the existing buckets: the top bits
  *    of the signature ARE an LSH bucket id, so the same banding that
  *    bounds `q_sim_lsh` applies when a deployment wants to skip the scan.
  *
  * One signing projection (`sign`) and one serve (`serve`) cover the base
  * index, the maintained base ∪ delta signatures (BinaryMaintenance) and
  * the streaming signing twin.
  *
  * Numeric discipline: the mean is Tables.exactMean per dimension
  * (`Clustering.dimMeans`, as in `Similarity.meanVector` — tie-free,
  * order-free, overflow-staged in DECIMAL(38,0)); each bit is one strict
  * `>` compare of two bit-exact doubles; the packed halves are exact
  * integer sums of distinct powers of two. Signatures are split into two
  * 32-bit halves so no engine ever shifts into a 64-bit sign bit (DuckDB
  * raises on BIGINT overflow where two's-complement would wrap) — Hamming
  * distance is the sum of two bit_count(xor(...)) calls on both engines,
  * bit-identical. */
object Binary {

  /** Bits per signature half (two BIGINT halves cover the fixture's 64
    * dims; a wider embedding adds halves, each an independent map term). */
  val HalfBits = 32

  /** Sample queries for the top-k serve (the q_sim_topk convention). */
  val NQueries = 8

  /** Hamming shortlist size for the exact re-rank (the Pq.Shortlist
    * convention). */
  val Shortlist = 50

  /** Per-dimension corpus means as driver-side doubles (d-row metadata,
    * the whitenVecs collection tier), bit-exact by Clustering.dimMeans. */
  private def muArray(s: SparkSession, dir: String): Array[Double] =
    Clustering.dimMeans(t(s, dir, "embeddings"), Nil, "embedding")
      .select("pos", "mean").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1).map(_._2)

  /** One packed half: sum over bit positions `off .. off+HalfBits-1` of
    * (x_i > mu_i) << (i - off). Exact integer arithmetic, bit i set iff the
    * coordinate clears its dimension mean. Expects `embedding` and `mu`
    * columns in scope. */
  private def halfSql(off: Int): String =
    s"""aggregate(transform(sequence(0, ${HalfBits - 1}), i ->
          IF(CAST(element_at(embedding, i + ${off + 1}) AS DOUBLE)
               > element_at(mu, i + ${off + 1}),
             shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))),
        CAST(0 AS BIGINT), (acc, v) -> acc + v)"""

  /** THE signing projection: (vec_id, h0, h1) of a frame carrying
    * `embedding` and the per-dimension means `mu` — shared by the codes
    * query, the serve, the maintenance slices and the streaming signing
    * twin (which supplies `mu` as a literal). Pure map stage. */
  private[graft] def sign(df: DataFrame): DataFrame =
    df.withColumn("h0", expr(halfSql(0)))
      .withColumn("h1", expr(halfSql(HalfBits)))
      .select("vec_id", "h0", "h1")

  /** `df` signed against the driver-side means `mu`: the d-element mean
    * joins as one broadcast row, not d plan literals. */
  private[llm] def signAgainst(df: DataFrame, mu: Seq[Double]): DataFrame =
    sign(graft.Tables.withBroadcastArray(df, "mu", mu))

  /** The signature frame of the corpus against its own means (the d-row
    * statistic, then a pure map stage). */
  private def signed(s: SparkSession, dir: String): DataFrame =
    signAgainst(t(s, dir, "embeddings"), muArray(s, dir).toSeq)

  /** q_sim_binary_codes: the stored representation — two BIGINT halves
    * holding the 64 centered sign bits (8 bytes where the raw vector is
    * 256). */
  def codes(s: SparkSession, dir: String): DataFrame =
    signed(s, dir).orderBy("vec_id")

  /** q_sim_binary_topk: the binary serve path — Hamming-distance shortlist
    * of `Shortlist` candidates per sample query over the 8-byte signatures
    * (two xor+popcount per candidate; the scan frame carries NOTHING but
    * vec_id and the two halves), then an exact cosine re-rank that joins
    * raw embeddings for the Q·Shortlist shortlist rows only. Ties break on
    * neighbor id at both stages. */
  def topK(s: SparkSession, dir: String): DataFrame =
    serve(s, dir, signed(s, dir)).orderBy("q_id", "rank")

  /** THE binary serve — one body for the base signatures and the
    * base ∪ delta snapshot (BinaryMaintenance): Hamming shortlist over
    * `sigs` (vec_id, h0, h1), exact cosine re-rank of the shortlist rows;
    * (q_id, n_id, hd, cos, rank), unordered. */
  private[llm] def serve(s: SparkSession, dir: String, sigs: DataFrame): DataFrame = {
    val qSig = sigs.filter(col("vec_id") < NQueries).select(
      col("vec_id").as("q_id"), col("h0").as("q0"), col("h1").as("q1"))
    // the Hamming scan frame is corpus-sized — shortlist through the
    // k-bounded heap aggregate (Ranking.topKPerGroup; VERDICT r7 item 1),
    // never a per-query row_number window that would sort N signatures in
    // each of Q tasks. hd ≤ 64 round-trips the double score exactly.
    val hamCands = sigs.join(broadcast(qSig), col("vec_id") =!= col("q_id"))
      .withColumn("hds", (expr("bit_count(h0 ^ q0)") +
        expr("bit_count(h1 ^ q1)")).cast("double"))
      .select("q_id", "vec_id", "hds")
    val shortlist = Ranking.topKPerGroup(hamCands,
        "q_id", "hds", "vec_id", Shortlist, asc = true, "hds", "n_id")
      .select(col("q_id"), col("n_id"), col("hds").cast("long").as("hd"))
    val raw = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"),
      expr(Similarity.normSql("embedding")).as("nrm"))
    val wCos = Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))
    shortlist
      .join(raw.select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
        col("nrm").as("n_nrm")), "n_id")
      .join(broadcast(raw.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm"))), "q_id")
      .withColumn("cos", expr(Similarity.dotSql("q_emb", "n_emb")) /
        (col("q_nrm") * col("n_nrm")))
      .withColumn("rank", row_number().over(wCos).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("q_id"), col("n_id"), col("hd"), col("cos"), col("rank"))
  }

}
