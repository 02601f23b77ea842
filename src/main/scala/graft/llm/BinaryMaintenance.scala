package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** BINARY-INDEX MAINTENANCE — the add/drift half of the sign-bit family's
  * lifecycle (VERDICT r9 item 5), completing the maintenance matrix across
  * all four index families (IVF, graph, composite, binary). The binary
  * quantizer's only trained state is the per-dimension corpus MEAN the
  * sign bits center on; maintenance freezes it exactly like the IVF path
  * freezes centroids (IvfMaintenance.cents): the means train on the base
  * corpus, publish once through the warehouse pointer, and every later
  * batch signs against the FROZEN statistic — a stateless per-row map, no
  * shuffle, O(batch). Signatures land as base/delta members of one
  * Segments.Root, so compaction folding delta into base is a one-pointer
  * commit.
  *
  * Because signing is per-row independent given μ, serve-after-add is
  * BIT-IDENTICAL to a from-scratch signing of the full corpus against the
  * same frozen means (BinaryUpsertSpec pins it) — the freshness gap of a
  * real deployment is only μ's staleness, which is exactly what
  * `q_sim_binary_drift` monitors: the per-segment mean |x − μ| fit gap
  * (how far each segment sits from the frozen centering plane) plus the
  * per-segment set-bit rate (a well-fit sign quantizer keeps every bit
  * ~half set; a drifted batch skews it). Both are one scan + a 2-row
  * aggregate — the q_index_drift cost tier, runnable per batch. Signing
  * and serving are Binary.sign / Binary.serve over the frozen means and
  * the resolved signature frame. */
object BinaryMaintenance {

  private[llm] def muTarget(s: SparkSession, dir: String): String =
    graft.etl.State.root(s, "binary", "up_mu", dir, "embeddings")

  /** Per-dimension means (i, mu) of an embeddings slice, by
    * Clustering.dimMeans (Binary.muArray's arithmetic with a slice filter). */
  private def sliceMeans(df: DataFrame): DataFrame =
    Clustering.dimMeans(df, Nil, "embedding")
      .select(col("pos").cast("long").as("i"), col("mean").as("mu"))

  /** The FROZEN per-dimension means, trained on the base slice and
    * published once (d-row metadata; doubles round-trip parquet exactly). */
  private[llm] def publishedMu(s: SparkSession, dir: String,
                               cut: Long): Array[Double] =
    graft.etl.State.memo(s, muTarget(s, dir))(graft.etl.Warehouse.publish(s, _,
        sliceMeans(t(s, dir, "embeddings").filter(col("vec_id") < cut))))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1).map(_._2)

  /** Sign an id slice against the frozen means — the shared build of the
    * base member (pred = < cut) and the incremental add (pred = >= cut).
    * Pure map stage; the add's plan scans only the new rows. */
  private def signSlice(s: SparkSession, dir: String, mu: Array[Double],
                        cut: Long, newRows: Boolean): DataFrame =
    Binary.signAgainst(t(s, dir, "embeddings")
      .filter(if (newRows) col("vec_id") >= cut else col("vec_id") < cut), mu.toSeq)

  /** The signature snapshot: base and delta signed against the frozen
    * means (`mu` is read once for both members). Signatures are per-row
    * facts, so compaction is file-level concatenation — no shuffle and,
    * crucially, NO re-sign: the frozen means never re-enter, so
    * serve-before ≡ serve-after bit-for-bit (BinaryCompactionSpec pins
    * it). */
  val sigs = new Segments.Root("binary", "up_sigs", "embeddings")({ (s, dir) =>
    val cut = Segments.cut(s, dir, "embeddings")
    val mu = publishedMu(s, dir, cut)
    (signSlice(s, dir, mu, cut, newRows = false), signSlice(s, dir, mu, cut, newRows = true))
  })

  /** Both serves are `Binary.serve` over the signature frame they
    * resolved, with `is_new` on served neighbors. */
  private def serveOver(s: SparkSession, dir: String, sigs: DataFrame,
                        cut: Long): DataFrame =
    Segments.withFlag(Binary.serve(s, dir, sigs), "n_id", cut)
      .select(col("q_id"), col("n_id"), col("hd"), col("cos"),
        col("rank"), col("is_new"))
      .orderBy("q_id", "rank")

  /** q_sim_binary_upsert: the post-add serve — Hamming scan over
    * base ∪ delta signatures (one snapshot resolve, so a concurrent
    * compaction can never split the serve), exact re-rank, late neighbors
    * flagged. Serve shape and cost identical to q_sim_binary_topk. */
  def upsertServe(s: SparkSession, dir: String): DataFrame =
    serveOver(s, dir, sigs.read(s, dir), Segments.cut(s, dir, "embeddings"))

  /** The from-scratch control for BinaryUpsertSpec: sign the FULL corpus
    * against the same frozen means in one pass and serve identically.
    * Signing is per-row independent, so this must equal the snapshot
    * serve bit-for-bit. */
  private[llm] def rebuildServe(s: SparkSession, dir: String): DataFrame = {
    val cut = Segments.cut(s, dir, "embeddings")
    serveOver(s, dir,
      Binary.signAgainst(t(s, dir, "embeddings"), publishedMu(s, dir, cut).toSeq), cut)
  }

  /** q_sim_binary_drift: the frozen-means STALENESS MONITOR — per segment
    * (base = what μ trained on, late = everything after): count, mean
    * |x − μ| over every (row, dimension) pair (the fit gap to the frozen
    * centering planes — floor-quantized at 2^-48 so the cross-row sum is
    * order-free integer math), and the set-bit rate of the published
    * signatures (a fit quantizer holds ~0.5; skew means the late batch
    * sits on one side of the planes). A widening base→late gap is the
    * republish trigger, same contract as q_index_drift. Cost: one
    * explode-scan + the signature scan, 2-row output. */
  def drift(s: SparkSession, dir: String): DataFrame = {
    val cut = Segments.cut(s, dir, "embeddings")
    val mu = publishedMu(s, dir, cut)
    val d = mu.length
    val seg = Segments.segment(col("vec_id"), cut)
    // one row per (vector, dimension): the mean runs over n·d deviations
    val adev = graft.Tables.withBroadcastArray(
        t(s, dir, "embeddings"), "mu", mu.toSeq)
      .select(seg.as("segment"), explode(expr(
        "zip_with(embedding, mu, (x, m) -> abs(CAST(x AS DOUBLE) - m))")).as("adev"))
      .groupBy("segment")
      .agg(expr(s"count(1) div $d").as("n"), exactMean(col("adev")).as("mean_adev"))
    val bits = sigs.read(s, dir)
      .groupBy(seg.as("segment"))
      .agg((sum(expr("bit_count(h0) + bit_count(h1)")).cast("double") /
        (count(lit(1)).cast("double") * lit(2.0 * Binary.HalfBits)))
        .as("bit_rate"))
    adev.join(bits, "segment")
      .select("segment", "n", "mean_adev", "bit_rate")
      .orderBy("segment")
  }

}
