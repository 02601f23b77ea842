package graft.etl

import org.apache.spark.sql.SparkSession

/** Count-once/serve-many table statistics (VERDICT r4 item 5).
  *
  * Operators that SIZE themselves from the corpus (e.g. the LSH plane count
  * in Dedup.embedNearLsh = planesFor(N)) need the row count — but a
  * `.count()` per invocation is a full extra scan at 100 TB. This records
  * the count ONCE per corpus content through the same warehouse pointer
  * commit the ANN indexes use (train-once/serve-many), and serves every
  * later invocation from the published manifest: a pointer read + a 1-row
  * parquet, no corpus scan.
  *
  * The manifest lives in the state store (`State`), whose key holds the
  * table's file listing (names, lengths, modification times), so a corpus
  * rewritten in place gets a fresh count instead of a stale one — the
  * listing is one object-store prefix call, the same price
  * Manifest.processed pays.
  * Concurrent first callers both publish the identical count —
  * last-writer-wins is benign, exactly as with the trained IVF centroids.
  */
object TableStats {

  private[graft] def statsTarget(spark: SparkSession, dir: String, table: String): String =
    State.root(spark, "stats", "rows", dir, table)

  /** Row count of `dir/table.parquet`: scanned once per corpus content,
    * then served from the published manifest. */
  def rowCount(spark: SparkSession, dir: String, table: String): Long =
    State.memo(spark, statsTarget(spark, dir, table)) { target =>
      val n = graft.Tables.parquet(spark, s"$dir/$table.parquet").count()
      Warehouse.publish(spark, target, spark.createDataFrame(
        java.util.Collections.singletonList(org.apache.spark.sql.Row(n)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("n_rows",
            org.apache.spark.sql.types.LongType, nullable = false)))))
    }.head().getLong(0)
}
