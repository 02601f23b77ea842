package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.{State, Warehouse}

/** SEGMENTED ROOTS — the one base/delta policy every maintained index
  * family shares (FAISS add-after-train; every production ANN store's
  * memtable/delta design; the segment/delta model of MorphStore, VLDB
  * 2020). An index trains and publishes once on the BASE corpus; a late
  * batch lands as a DELTA segment built against the frozen trained state;
  * serves read base ∪ delta; a periodic compaction folds the delta in.
  *
  * The late-batch cut: the oldest ⌊N·BaseFrac⌋ rows of a fixture table are
  * the base corpus, the rest the late batch (`cut`). Served rows carry the
  * `is_new` flag (`flag`), drift monitors group by the `base`/`late`
  * segment label (`segment`).
  *
  * Storage: base and delta are MEMBERS of one multi-table snapshot
  * (Warehouse.publishSnapshot) under a state-store root
  * (`graft_<family>/<name>_<key>`), because maintenance has a commit that
  * must change both at once — compaction folds the delta into a new base
  * version and RETIRES the delta, and a reader must never observe the new
  * base with the old delta (double rows) or neither. One `_SNAPSHOT`
  * pointer resolves every member; a serve resolves it ONCE, so a
  * concurrent compaction can never split it. Old member versions stay
  * readable until Warehouse.vacuumSnapshot's phase two (the two-phase
  * retirement contract). */
object Segments {

  /** Base fraction: the index trained before the last quarter arrived. */
  val BaseFrac = 0.75

  /** The base/late cut of `dir/table`: ⌊N·BaseFrac⌋ — one corpus-count
    * scalar served from the count-once TableStats manifest, never a
    * per-call `.count()` scan. */
  def cut(s: SparkSession, dir: String, table: String): Long =
    math.floor(graft.etl.TableStats.rowCount(s, dir, table) * BaseFrac).toLong

  /** 1 for a row of the late batch (`id >= cut`), else 0. */
  def flag(id: Column, cut: Long): Column = when(id >= cut, 1L).otherwise(0L)

  /** `df` with the `is_new` flag of its `id` column. */
  def withFlag(df: DataFrame, id: String, cut: Long): DataFrame =
    df.withColumn("is_new", flag(col(id), cut))

  /** `df` with a constant `is_new` flag: every row base (false) or late. */
  def tagged(df: DataFrame, late: Boolean): DataFrame =
    df.withColumn("is_new", lit(if (late) 1L else 0L))

  /** The drift monitors' segment label of a whole frame. */
  def label(late: Boolean): Column = lit(if (late) "late" else "base")

  /** The drift monitors' segment label of each row's `id`. */
  def segment(id: Column, cut: Long): Column =
    when(id >= cut, label(late = true)).otherwise(label(late = false))

  /** A {base, delta} snapshot root of one family, derived from
    * `dir/table`. The family supplies only what differs: `build` (the base
    * and delta frames, called once on the first `current`), `partCol` (the
    * hive partition column of every member), `project` (applied to each
    * member as it is read) and `layout` (applied to every frame written). */
  final class Root(family: String, name: String, table: String,
                   partCol: Option[String] = None,
                   project: DataFrame => DataFrame = identity,
                   layout: DataFrame => DataFrame = identity)(
                   build: (SparkSession, String) => (DataFrame, DataFrame)) {

    def root(s: SparkSession, dir: String): String =
      State.root(s, family, name, dir, table)

    /** The current snapshot, publishing the initial {base, delta} pair on
      * first call — one atomic commit covering both members. */
    def current(s: SparkSession, dir: String): Map[String, String] =
      State.memoSnapshot(s, root(s, dir)) { r =>
        val (base, delta) = build(s, dir)
        Warehouse.publishSnapshot(s, r,
          Seq("base" -> layout(base), "delta" -> layout(delta)), partCol)
      }

    /** Union of every member of the current snapshot, resolved once, in
      * member-name order — a file-level concatenation, no shuffle. After
      * compaction this is one table. */
    def read(s: SparkSession, dir: String): DataFrame = {
      val r = root(s, dir)
      current(s, dir).toSeq.sortBy(_._1)
        .map { case (m, v) => project(Warehouse.readSnapshotMember(s, r, m, v)) }
        .reduce(_ unionByName _)
    }

    /** COMPACTION — fold every member into a fresh `base` version and
      * retire `delta`, committed with ONE snapshot-pointer swap. The
      * members hold disjoint per-row facts, so the fold rewrites files,
      * never rows: serve-before ≡ serve-after bit-for-bit. */
    def compact(s: SparkSession, dir: String): Map[String, String] =
      Warehouse.publishSnapshot(s, root(s, dir), Seq("base" -> layout(read(s, dir))), partCol)
  }
}
