package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD Type-1 upsert ("MERGE INTO target USING source ON key"), rewritten as a
  * Spark plan since plain Parquet has no MERGE (reference:
  * /root/reference/coininsights.py:115-127 and 139-161).
  *
  * Semantics the reference leaves undefined (duplicate source keys — Redshift
  * MERGE errors or picks arbitrarily) are made deterministic here: the source
  * is first deduplicated to the latest row per key (orderCols descending; a
  * unique tiebreak belongs among them, and for `merge` every one of them must
  * be a target column). Then matched rows take all source columns, unmatched
  * target rows survive unchanged, unmatched source rows are inserted. `merge`
  * computes that as merge(t, s) ≡ dedupLatest(t ∪ s) with every source row
  * ranked above every target row: one exchange by key, no driver-side state.
  * A NULL key matches nothing (as in SQL MERGE), so every null-key row of
  * either side is kept.
  */
object Upsert {

  /** Keep the latest row per key: row_number over (key, orderCols desc) = 1. */
  def latestPerKey(df: DataFrame, key: String, orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(orderCols.map(c => col(c).desc): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Latest row per non-null key; null-key rows all survive. */
  private def latestPerKeyKeepNull(df: DataFrame, key: String, orderCols: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(orderCols.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 || col(key).isNull).drop("__rn")
  }

  /** The first publish of a target: the source deduplicated by the same
    * window `merge` runs, so a round behaves alike with or without a target. */
  def insert(source: DataFrame, key: String, orderCols: Seq[String]): DataFrame =
    latestPerKeyKeepNull(source, key, orderCols.map(col))

  /** Dedup-then-merge in one call (the reference's COPY→MERGE round): the
    * target (tag 0) and the source projected to the target's columns (tag 1)
    * go through one window by key, so a source row always beats the target
    * row and source duplicates resolve on `orderCols`, which must therefore
    * be target columns. The target must be unique per non-null key (it is
    * the output of a previous merge). */
  def merge(target: DataFrame, source: DataFrame, key: String, orderCols: Seq[String]): DataFrame = {
    require(orderCols.forall(target.columns.contains),
      s"Upsert.merge: orderCols ${orderCols.mkString(", ")} must all be target columns " +
        s"(${target.columns.mkString(", ")})")
    val cols = target.columns.toSeq.map(col)
    val tagged = target.select(cols :+ lit(0).as("__tag"): _*)
      .union(source.select(cols :+ lit(1).as("__tag"): _*))
    latestPerKeyKeepNull(tagged, key, col("__tag") +: orderCols.map(col)).drop("__tag")
  }

  /** CDC merge: `changes` carries an `op` column — 'D' tombstones delete the
    * key, anything else ('I'/'U') upserts the payload; unmatched target rows
    * survive. The delete clause is what the reference's TRUNCATE-and-reload
    * sidesteps and every incremental CDC feed needs. One full-outer join by
    * key — deletes cost nothing extra. `changes` must be unique per
    * key (pre-dedup with latestPerKey). */
  def applyCdc(target: DataFrame, changes: DataFrame, key: String): DataFrame = {
    val tgt = target.alias("t")
    // Unknown op codes fail the job loudly (distributed, at first evaluation)
    // instead of being silently upserted — a malformed CDC feed is corrupt
    // input, and "treat garbage as UPDATE" is how a feed bug becomes a
    // warehouse bug. raise_error keeps this inside codegen; no UDF.
    val checked = changes.withColumn("op",
      when(col("op").isin("I", "U", "D"), col("op"))
        .otherwise(raise_error(concat(lit("applyCdc: unknown op code: "), col("op")))))
    // source presence marker: a change row whose key is NULL matches no
    // target row (as in `merge`) but is still a change row — an I/U keeps
    // its own payload, a D deletes nothing
    val chg = checked.withColumn("__in_s", lit(true)).alias("s")
    val matched: Column = col("s.__in_s").isNotNull
    val cols = target.columns.map { c =>
      when(matched, col(s"s.$c")).otherwise(col(s"t.$c")).as(c)
    }
    tgt.join(chg, col(s"t.$key") === col(s"s.$key"), "full_outer")
      .filter(!matched || col("s.op") =!= "D")
      .select(cols.toSeq: _*)
  }
}
