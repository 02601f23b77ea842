package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** CO-LOCATED join via PERSISTENT BUCKETED TABLES — the table-layout member
  * of the join family. `q_join_broadcast` handles the small-dim side and the
  * orderkey shuffle is the honest floor for ad-hoc fact⋈fact joins, but the
  * join a 100 TB warehouse runs EVERY DAY on the same key should not pay
  * that exchange every day: write both facts bucketed (hash-partitioned
  * into files) and sorted BY THE JOIN KEY once, and every subsequent join
  * on that key is a ZERO-EXCHANGE SortMergeJoin — each task zips bucket i
  * of both tables straight off disk (Spark's bucketed-scan contract: same
  * bucket count, same key). Nothing corpus-sized crosses the network for
  * this join, ever again. The per-task SORTS also disappear under
  * `spark.sql.legacy.bucketedTableScan.outputOrdering=true` (Spark ≥ 3.1
  * reports bucket-file sortedness only behind that flag because it forces
  * one-file-per-bucket reads — exactly the layout this writer produces);
  * without the flag the residual cost is an in-task sort of an
  * already-sorted run, never a shuffle. This is the write-once/join-many
  * analog of the warehouse pointer discipline: the layout cost is paid at
  * publish time, the exchange disappears from every serve. Below the
  * broadcast threshold the planner still picks BHJ — correct there; the
  * bucketed layout costs nothing and kicks in exactly when broadcasting
  * stops being possible (both shapes spec-pinned).
  *
  * Mechanics pinned by BucketedJoinSpec: `repartition(Buckets, key)` before
  * the bucketed write aligns Spark's exchange hash with the bucketing hash
  * (both Murmur3), so each task holds exactly one bucket and writes ONE
  * sorted file per bucket — the layout that lets the scan report ordering
  * and the planner drop both the Exchange AND the Sort under the join.
  * Table names carry the state-store key (State.key: fixture listing plus
  * code fingerprint), so a rewritten fixture can never serve a stale
  * layout; the catalog is session-scoped (in-memory), so the first call
  * per session pays the one-time write — bench reps 2+ and every later
  * join serve from it. */
object BucketedJoin {

  /** Bucket count: sized so each bucket of the largest fixture tier holds
    * a comfortable single-task slice; a deployment sizes this from table
    * bytes / target task input (the shuffle.partitions sizing rule). */
  val Buckets = 8

  /** Table names carry the state key AND the application id: the
    * catalog is session-scoped (in-memory) but managed-table FILES persist
    * under spark.sql.warehouse.dir, so a name shared across applications
    * would leave a later app staring at an occupied location — and
    * force-deleting it (the pre-r9 shape) could rip files out from under a
    * CONCURRENT application's active bucketed scan (ADVICE r8). Scoping the
    * name to the app means every application writes a fresh location and
    * never touches another's; a prior app's orphaned layout directories
    * are reclaimed by the age-guarded `sweepOrphans` on the next app's
    * first layout write, exactly like the warehouse pointer targets'
    * superseded versions awaiting vacuum. */
  private[graft] def tableName(s: SparkSession, dir: String, table: String): String = {
    val app = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
    s"bkt_${table}_${app}_" + graft.etl.State.key(s, dir, table)
  }

  /** Age-guarded sweep of ORPHANED bucketed layouts (ADVICE r9):
    * application-scoped table names closed the concurrent-delete race but
    * removed the only cleanup path — every run left its two layout
    * directories in spark.sql.warehouse.dir forever. Reclaim `bkt_*` dirs
    * that (a) belong to ANOTHER application (this app's own layouts are
    * live by definition) and (b) have not been modified for `orphanAgeMs`
    * (default 24 h — far beyond a local application's lifetime, so a
    * concurrent app's fresh layout is never touched; the same fail-safe
    * age rule as vacuumSnapshot's abandoned-marker window). Runs on the
    * first layout write of a session, so long-lived hosts stay bounded
    * without a separate GC job. Returns the number of dirs reclaimed. */
  private[graft] def sweepOrphans(s: SparkSession,
                                  orphanAgeMs: Long = 24L * 3600 * 1000): Int = {
    val whDir = new org.apache.hadoop.fs.Path(s.conf.get("spark.sql.warehouse.dir"))
    val fs = whDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(whDir)) return 0
    val app = s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
    val cutoff = System.currentTimeMillis() - orphanAgeMs
    fs.listStatus(whDir).toSeq.count { st =>
      val nm = st.getPath.getName
      val orphan = st.isDirectory && nm.startsWith("bkt_") &&
        !nm.contains(app) && st.getModificationTime < cutoff
      if (orphan) fs.delete(st.getPath, true)
      orphan
    }
  }

  /** Create the bucketed twins of lineitem/orders for `dir` if this session
    * has not yet (column-pruned to the serve's needs — the layout ships the
    * serving projection, not the full width). */
  private def ensure(s: SparkSession, dir: String): (String, String) = {
    val lt = tableName(s, dir, "lineitem")
    val ot = tableName(s, dir, "orders")
    if (!s.catalog.tableExists(lt)) {
      sweepOrphans(s)
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
        .repartition(Buckets, col("l_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(Buckets, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(lt)
    }
    if (!s.catalog.tableExists(ot)) {
      t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus")
        .repartition(Buckets, col("o_orderkey"))
        .write.mode("overwrite").format("parquet")
        .bucketBy(Buckets, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(ot)
    }
    (lt, ot)
  }

  /** q_join_bucketed: revenue by order status off the bucketed layout —
    * the post-layout plan is scan → zipped SortMergeJoin (no Exchange, no
    * Sort on either side) → partial-aggregated 3-key rollup. Numeric
    * discipline: decimal-staged revenue sum (dsum10), bit-identical to the
    * plain-SQL oracle. */
  def revenueByStatus(s: SparkSession, dir: String): DataFrame = {
    val (lt, ot) = ensure(s, dir)
    s.table(lt).join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(dsum10(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }
}
