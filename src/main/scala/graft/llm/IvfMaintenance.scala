package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.exactMean

/** IVF INDEX MAINTENANCE — the incremental-add path every serving vector
  * warehouse runs between rebuilds: an index is trained and published once,
  * then batches keep arriving, and retraining per batch is out of the
  * question at 100 TB. The standard layout (FAISS add-after-train; every
  * production ANN store's memtable/delta design): centroids FREEZE at
  * publish time; a late batch is assigned against the frozen centroids —
  * one broadcast-join map pass over ONLY the new rows — and lands as a
  * second hive-partitioned DELTA list table next to the base lists. The
  * serve reads base ∪ delta, both pruned to the probed cells; a periodic
  * compaction (here: the next full retrain/publish cycle) folds the delta
  * in. Add cost is O(batch), serve cost is unchanged, and nothing about
  * the base index is ever rewritten.
  *
  * The fixture models the split deterministically: the oldest
  * ⌊N·3/4⌋ vectors are the base corpus the index trained on, the rest are
  * the late batch. Assignment is per-vector independent, so serve-after-add
  * is EXACTLY what a from-scratch assignment against the same centroids
  * would produce (UpsertIvfSpec pins the equivalence) — the freshness gap
  * of real systems is only the centroids' staleness, surfaced here by the
  * is_new flag on served neighbors. The base/delta storage is a
  * Segments.Root; both serves are Similarity.probeServe over it. */
object IvfMaintenance {

  private[graft] def centsTarget(s: SparkSession, dir: String): String =
    graft.etl.State.root(s, "ivf", "up_cents", dir, "embeddings")

  /** Centroids trained on the BASE corpus only, published once (the frozen
    * index version late batches are measured against). `private[llm]`:
    * the composite's maintenance path (IvfPq.upsertAdcTopK) freezes the
    * SAME coarse stage. */
  private[llm] def cents(s: SparkSession, dir: String, cut: Long): DataFrame =
    graft.etl.State.memo(s, centsTarget(s, dir))(graft.etl.Warehouse.publish(s, _,
        Similarity.trainCentroidsOn(Similarity.withNorm(s, dir).filter(col("vec_id") < cut))))
      .select("cent_id", "c_emb")

  /** One frozen-centroid assignment pass over an id slice — the shared
    * build of the base lists (pred = < cut) and the incremental add
    * (pred = >= cut). The add's plan scans ONLY the new rows: the slice
    * predicate pushes to the parquet scan (UpsertIvfSpec pins it). */
  private[graft] def assignSlice(s: SparkSession, dir: String, cut: Long,
                                 newRows: Boolean): DataFrame = {
    val e = Similarity.withNorm(s, dir)
      .filter(if (newRows) col("vec_id") >= cut else col("vec_id") < cut)
    members(e, cents(s, dir, cut))
  }

  /** List members of `e` under their nearest frozen centroid. */
  private def members(e: DataFrame, cs: DataFrame): DataFrame =
    Similarity.nearestCell(e, cs)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id"))

  /** The inverted lists: base and delta members hive-partitioned by cell,
    * so every serve prunes both to the probed cells. Compaction (`compact`)
    * keeps the rows — one cell-partitioned table, bigger files — at the
    * price of one partitioned rewrite of the index body, paid off the
    * serving path whenever the delta-to-base ratio makes it worth it
    * (CompactionSpec races a reader through it). The full membership
    * (`read`) is what the composite's residual stage reads too. */
  val lists = new Segments.Root("ivf", "up_lists", "embeddings",
      Some("cent_id"),
      project = _.select("vec_id", "embedding", "nrm", "cent_id"))({ (s, dir) =>
    val cut = Segments.cut(s, dir, "embeddings")
    (assignSlice(s, dir, cut, newRows = false), assignSlice(s, dir, cut, newRows = true))
  })

  /** Both serves are `Similarity.probeServe` over the frozen centroids
    * and the list frame they resolved; `is_new` marks late neighbors. */
  private def serveOver(s: SparkSession, dir: String, all: DataFrame,
                        cs: DataFrame, cut: Long): DataFrame =
    Segments.withFlag(Similarity.probeServe(Similarity.sampleQueries(s, dir), cs, all),
        "n_id", cut)
      .select("q_id", "n_id", "cos", "rank", "is_new")
      .orderBy("q_id", "rank")

  /** q_sim_ivf_upsert: the post-add serve — top-10 per sample query over
    * base ∪ delta lists, both read cell-pruned (PartitionFilters on each).
    * `is_new` is the proof the add is LIVE without any rebuild. Same
    * serving shape and cost as q_sim_ivf_trained; the union is a
    * file-level concatenation of two partitioned tables, not a shuffle. */
  def upsertServe(s: SparkSession, dir: String): DataFrame = {
    val cut = Segments.cut(s, dir, "embeddings")
    serveOver(s, dir, lists.read(s, dir), cents(s, dir, cut), cut)
  }

  /** q_index_drift: the STALENESS MONITOR every frozen index needs — how
    * well do the frozen centroids still fit the data, segmented into the
    * corpus they trained on vs everything that arrived after? Per segment:
    * count, MEAN best-centroid cosine (floor-quantized at 2^-48 so the
    * cross-row sum is order-free integer math — explicit floor, because
    * cosines go negative and a raw long cast truncates toward zero), and
    * the exact MIN. A widening base→late gap is the retrain trigger; the
    * audit is one assignment-shaped scan + a 2-row aggregate, so a
    * deployment runs it per batch at scan cost. */
  def drift(s: SparkSession, dir: String): DataFrame = {
    val cut = Segments.cut(s, dir, "embeddings")
    val cs = cents(s, dir, cut)
    Similarity.nearestCell(Similarity.withNorm(s, dir), cs)
      .withColumn("segment", Segments.segment(col("vec_id"), cut))
      .groupBy("segment")
      .agg(count(lit(1)).as("n"), exactMean(col("c_cos")).as("mean_cos"),
        min(col("c_cos")).as("min_cos"))
      .orderBy("segment")
  }

  /** The from-scratch control for UpsertIvfSpec: one assignment pass over
    * the FULL corpus against the same frozen centroids, served identically
    * — what a rebuild-per-batch would cost to reproduce what the O(batch)
    * add already serves. */
  private[llm] def rebuildServe(s: SparkSession, dir: String): DataFrame = {
    val cut = Segments.cut(s, dir, "embeddings")
    val cs = cents(s, dir, cut)
    serveOver(s, dir, members(Similarity.withNorm(s, dir), cs), cs, cut)
  }

}
