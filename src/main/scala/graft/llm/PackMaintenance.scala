package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PACK-ARTIFACT MAINTENANCE — the lifecycle half the 6th family gained in
  * r12's add (`q_curriculum_pack_upsert`) but was still missing (VERDICT
  * r12 item 2): the PUBLISHED packed-bin segments and the delta-fold
  * COMPACTION that closes the frozen-base/delta cycle the way the five
  * index families do (IvfMaintenance/GraphMaintenance/BinaryMaintenance/
  * LexMaintenance/IvfPq).
  *
  * The batch query `q_curriculum_pack_upsert` is the oracle-checkable
  * DECLARATION of what the artifact contains; this object is the
  * production posture — the layout is materialized ONCE as a
  * Segments.Root ({base, delta} members under one `_SNAPSHOT` pointer) and
  * every later serve reads it back instead of re-packing the corpus.
  * After k ingest batches a serve reads k+1 segments forever unless
  * something folds them: `segments.compact` merges the delta into a fresh
  * base version and retires the delta member with ONE pointer swap.
  * Bin ids are already pairwise disjoint per (source, pack_shard) across
  * segments (CurriculumUpsertSpec pins the chain), so the fold is purely
  * file-level — no row is rewritten, no offset moves, and the serve is
  * bit-identical before and after (PackCompactionSpec races a reader
  * through it). Old versions stay readable until vacuum — the standard
  * two-phase retirement every other family follows.
  *
  * Scale shape: publish cost is the pack itself (one windowed layout per
  * (source, pack_shard), O(corpus) once); compaction is a partitioned
  * re-write of bin rows (NOT the text) off the serving path; the serve is
  * a file-level union of hive-partitioned members — no shuffle anywhere
  * on the read path. */
object PackMaintenance {

  /** The packed-bin segments: base and delta members hive-partitioned by
    * source. The chunk stream and column contract are the SHARED
    * definitions (Curation.uniqChunks / Curation.packSegments), so artifact
    * and declaration cannot drift; the partition column reads back with its
    * written type (Warehouse's `_SCHEMA`). Bin ids are pairwise
    * disjoint across segments per (source, pack_shard), so compaction
    * moves files, never bytes within a bin: the serve is bit-identical at
    * every instant and reads ONE segment afterwards. */
  val segments = new Segments.Root("pack", "up_bins", "documents",
      Some("source"),
      project = _.select(Curation.PackCols.map(col): _*))({ (s, dir) =>
    Curation.packSegments(Curation.uniqChunks(s, dir), Segments.cut(s, dir, "documents"))
  })

  /** The packed layout a dataloader reads: base ∪ delta from ONE resolved
    * snapshot (a concurrent compaction can never split this serve). */
  def serve(s: SparkSession, dir: String): DataFrame =
    segments.read(s, dir)
}
