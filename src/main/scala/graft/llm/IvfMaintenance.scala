package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

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
  * is_new flag on served neighbors. */
object IvfMaintenance {

  /** Base fraction: the index trained before the last quarter arrived. */
  val BaseFrac = 0.75
  private val NQueries = 8

  /** The base/late cut: ⌊N·BaseFrac⌋ — one corpus-count scalar (metadata
    * tier; the twin's scalar subquery). Served from the count-once
    * TableStats manifest, not a per-call `.count()` scan (the planesFor
    * discipline — a serve should never pay a corpus pass for one number). */
  private[graft] def baseCut(s: SparkSession, dir: String): Long =
    math.floor(graft.etl.TableStats.rowCount(s, dir, "embeddings") * BaseFrac).toLong

  private def withNorm(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(
      col("vec_id"), col("embedding"),
      expr(Similarity.normFor(s)("embedding")).as("nrm"))

  private[graft] def centsTarget(s: SparkSession, dir: String): String =
    graft.etl.State.root(s, "ivf", "up_cents", dir, "embeddings")

  /** Snapshot ROOT for the list tables: base and delta are MEMBERS of one
    * multi-table snapshot (Warehouse.publishSnapshot), because maintenance
    * has a commit that must change both at once — compaction folds the
    * delta into a new base version and RETIRES the delta, and a reader
    * must never observe the new base with the old delta (double rows) or
    * neither. One `_SNAPSHOT` pointer resolves every member. */
  private[graft] def listsRoot(s: SparkSession, dir: String): String =
    graft.etl.State.root(s, "ivf", "up_lists", dir, "embeddings")

  /** Centroids trained on the BASE corpus only, published once (the frozen
    * index version late batches are measured against). `private[llm]`:
    * the composite's maintenance path (IvfPq.upsertAdcTopK) freezes the
    * SAME coarse stage. */
  private[llm] def cents(s: SparkSession, dir: String, cut: Long): DataFrame =
    graft.etl.State.memo(s, centsTarget(s, dir))(graft.etl.Warehouse.publish(s, _,
        Similarity.trainCentroidsOn(withNorm(s, dir).filter(col("vec_id") < cut))))
      .select("cent_id", "c_emb")

  /** One frozen-centroid assignment pass over an id slice — the shared
    * build of the base lists (pred = < cut) and the incremental add
    * (pred = >= cut). The add's plan scans ONLY the new rows: the slice
    * predicate pushes to the parquet scan (UpsertIvfSpec pins it). */
  private[graft] def assignSlice(s: SparkSession, dir: String, cut: Long,
                                 newRows: Boolean): DataFrame = {
    val e = withNorm(s, dir)
      .filter(if (newRows) col("vec_id") >= cut else col("vec_id") < cut)
    Similarity.rankAgainst(e, cents(s, dir, cut))
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id"))
  }

  /** The current snapshot (publishing the initial {base, delta} pair on
    * first call — one atomic commit covering both members). */
  private[graft] def currentLists(s: SparkSession, dir: String,
                                  cut: Long): Map[String, String] =
    graft.etl.State.memoSnapshot(s, listsRoot(s, dir))(
      graft.etl.Warehouse.publishSnapshot(s, _, Seq(
        "base" -> assignSlice(s, dir, cut, newRows = false),
        "delta" -> assignSlice(s, dir, cut, newRows = true)),
        Some("cent_id")))

  /** Every vector with its frozen-centroid cell id — the current snapshot's
    * full membership (the composite's residual stage reads this too). */
  private[llm] def allLists(s: SparkSession, dir: String): DataFrame = {
    val cut = baseCut(s, dir)
    listsOf(s, dir, currentLists(s, dir, cut))
  }

  /** Union of every member the RESOLVED snapshot lists (members joined in
    * name order — deterministic; a file-level concatenation, no shuffle).
    * After compaction the snapshot has no delta member and this is one
    * table. */
  private def listsOf(s: SparkSession, dir: String,
                      snap: Map[String, String]): DataFrame = {
    val root = listsRoot(s, dir)
    snap.toSeq.sortBy(_._1)
      .map { case (m, v) => graft.etl.Warehouse.readSnapshotMember(s, root, m, v) }
      .reduce(_ unionByName _)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("cent_id").cast("long").as("cent_id"))
  }

  /** COMPACTION — the rebuild-cycle half of maintenance: fold the delta
    * into a fresh base version and retire the delta member, committed with
    * ONE snapshot-pointer swap. Serving is uninterrupted and exact at every
    * instant: a reader resolved either the old snapshot (base + delta) or
    * the new one (merged base) — never a mix (CompactionSpec races it).
    * Data is unchanged — same rows, one table, bigger files; the old
    * versions stay readable until vacuum (the two-phase contract). Cost is
    * one partitioned rewrite of the index body, paid off the serving path
    * at whatever cadence the delta-to-base ratio makes worth it. */
  def compact(s: SparkSession, dir: String): Map[String, String] = {
    val cut = baseCut(s, dir)
    val merged = listsOf(s, dir, currentLists(s, dir, cut))
    graft.etl.Warehouse.publishSnapshot(s, listsRoot(s, dir),
      Seq("base" -> merged), Some("cent_id"))
  }

  /** q_sim_ivf_upsert: the post-add serve — top-10 per sample query over
    * base ∪ delta lists, both read cell-pruned (PartitionFilters on each),
    * candidates ranked through the k-bounded heap. `is_new` marks late
    * neighbors: the proof the add is LIVE without any rebuild. Same serving
    * shape and cost as q_sim_ivf_trained; the union is a file-level
    * concatenation of two partitioned tables, not a shuffle. */
  def upsertServe(s: SparkSession, dir: String): DataFrame = {
    val cut = baseCut(s, dir)
    val cs = cents(s, dir, cut)
    // resolve the snapshot ONCE — every member read below comes from the
    // same commit, so a concurrent compaction can never split this serve
    val all = listsOf(s, dir, currentLists(s, dir, cut))
    val q = withNorm(s, dir).filter(col("vec_id") < NQueries)
    val probes = Similarity.rankAgainst(q, cs)
      .filter(col("crn") <= Similarity.NProbe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("cent_id"))
    val cellIds = probes.select("cent_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val cands = all.filter(col("cent_id").isInCollection(cellIds))
      .join(broadcast(probes), "cent_id")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", expr(Similarity.dotFor(s)("q_emb", "embedding")) /
        (col("q_nrm") * col("nrm")))
      .select("q_id", "vec_id", "cos")
    Ranking.topKPerGroup(cands, "q_id", "cos", "vec_id", 10, asc = false,
        "cos", "n_id")
      .withColumn("is_new", when(col("n_id") >= cut, 1L).otherwise(0L))
      .select("q_id", "n_id", "cos", "rank", "is_new")
      .orderBy("q_id", "rank")
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
    val cut = baseCut(s, dir)
    val cs = cents(s, dir, cut)
    val S = Similarity.MeanScale
    Similarity.rankAgainst(withNorm(s, dir), cs)
      .filter(col("crn") === 1)
      .withColumn("segment",
        when(col("vec_id") >= cut, lit("late")).otherwise(lit("base")))
      .groupBy("segment")
      .agg(count(lit(1)).as("n"),
        (sum(floor(col("c_cos") * S)
          .cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .cast("string").cast("double") /
          (count(lit(1)).cast("double") * lit(S.toDouble))).as("mean_cos"),
        min(col("c_cos")).as("min_cos"))
      .orderBy("segment")
  }

  /** The from-scratch control for UpsertIvfSpec: one assignment pass over
    * the FULL corpus against the same frozen centroids, served identically
    * — what a rebuild-per-batch would cost to reproduce what the O(batch)
    * add already serves. */
  private[llm] def rebuildServe(s: SparkSession, dir: String): DataFrame = {
    val cut = baseCut(s, dir)
    val cs = cents(s, dir, cut)
    val all = Similarity.rankAgainst(withNorm(s, dir), cs)
      .filter(col("crn") === 1)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id"))
    val q = withNorm(s, dir).filter(col("vec_id") < NQueries)
    val probes = Similarity.rankAgainst(q, cs)
      .filter(col("crn") <= Similarity.NProbe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("cent_id"))
    val cands = all.join(broadcast(probes), "cent_id")
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", expr(Similarity.dotFor(s)("q_emb", "embedding")) /
        (col("q_nrm") * col("nrm")))
      .select("q_id", "vec_id", "cos")
    Ranking.topKPerGroup(cands, "q_id", "cos", "vec_id", 10, asc = false,
        "cos", "n_id")
      .withColumn("is_new", when(col("n_id") >= cut, 1L).otherwise(0L))
      .select("q_id", "n_id", "cos", "rank", "is_new")
      .orderBy("q_id", "rank")
  }

}
