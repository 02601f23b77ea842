package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-group top-k ranking for the ANN serve family (VERDICT r7 item 1).
  *
  * The naive shape — `row_number().over(Window.partitionBy(group))` on the
  * candidate frame, then `filter(rank <= k)` — shuffles the FULL candidate
  * frame into `|groups|` partitions and sorts every candidate row inside
  * each: with Q sample queries ranking a corpus-sized scan, the whole
  * cluster's work concentrates onto Q tasks. This helper ranks through the
  * `top_structs` k-bounded heap aggregate instead (a
  * TypedImperativeAggregate with partial aggregation): each map task emits
  * at most k (score, id) pairs per group, the exchange carries
  * groups×k×partitions rows, and no task sorts anything larger than a
  * k-heap. Results are bit-identical to the window form — same total order
  * on doubles, same lower-id tiebreak — which KernelSpec pins against the
  * window reference.
  */
object Ranking {

  /** Rank the best k rows per `grp` by (`score` asc/desc, `id` asc) and
    * return (grp, outId, outScore, rank) with rank ∈ 1..k as LONG. `score`
    * must be a non-null DOUBLE column, `id` a non-null BIGINT unique within
    * its group (every serve call site keys on a distinct vec_id). */
  def topKPerGroup(cands: DataFrame, grp: String, score: String, id: String,
                   k: Int, asc: Boolean, outScore: String, outId: String): DataFrame =
    cands
      .groupBy(grp)
      .agg(expr(s"top_structs($score, $id, $k, $asc)").as("_top"))
      .select(col(grp), posexplode(col("_top")).as(Seq("_pos", "_t")))
      .select(col(grp), col(s"_t.id").as(outId), col(s"_t.score").as(outScore),
        (col("_pos") + 1).cast("long").as("rank"))

  /** The recall tail every ANN audit shares: `exact` (its key columns,
    * e.g. q_id, n_id) left-joined to the `approx` rows with the same keys,
    * then per `by` group the integer `n_exact` / `n_hit` counts and one
    * IEEE division for `recall` — oracle-hashable. */
  def recall(exact: DataFrame, approx: DataFrame, by: String): DataFrame = {
    val keys = exact.columns.toSeq
    exact.join(approx.select(keys.map(col) :+ lit(1L).as("hit"): _*), keys, "left")
      .groupBy(by)
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_exact").cast("double"))
      .orderBy(by)
  }
}
