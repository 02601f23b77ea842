package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.etl.Upsert

/** Group A — reference-surface ETL semantics (SURVEY.md §2.2 Group A), each
  * re-expressed over the driver's star-schema fixtures so the DuckDB oracle can
  * check it. Reference origins cited per query.
  */
object GroupA {

  /** O8+O10+O11: projection + rename + column reorder
    * (/root/reference/data-transformation.py:45-59). */
  def projectRename(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part").select(
      col("p_partkey").as("id"),
      col("p_name").as("name"),
      col("p_brand").as("brand"),
      col("p_retailprice").as("price"),
    ).orderBy("id")

  /** O9: derived/synthesized column (id := symbol,
    * /root/reference/data-transformation.py:46). */
  def derivedColumn(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .withColumn("segment_key", col("c_mktsegment"))
      .withColumn("bal_bucket", floor(col("c_acctbal") / 100).cast("long"))
      .select("c_custkey", "c_mktsegment", "segment_key", "bal_bucket")
      .orderBy("c_custkey")

  /** O12: string→timestamp/date casts (/root/reference/data-transformation.py:56). */
  def castTimestamp(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").select(
      col("o_orderkey"),
      col("o_orderdate").cast("date").as("order_date"),
      trunc(col("o_orderdate"), "month").as("order_month"),
      year(col("o_orderdate")).cast("long").as("order_year"),
    ).orderBy("o_orderkey")

  /** O5: prefix filter / manual partition pruning
    * (/root/reference/data-transformation.py:33). */
  def filterPrefix(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .filter(col("p_name").startsWith("red"))
      .select("p_partkey", "p_name", "p_type")
      .orderBy("p_partkey")

  /** O4+O6: multi-file accumulate ≡ UNION ALL
    * (/root/reference/data-transformation.py:32-40). */
  def unionAll(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val a = o.filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val b = o.filter(col("o_orderstatus") === "O")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    a.unionByName(b).orderBy("o_orderkey")
  }

  /** O15 hazard: duplicate-key dedup, latest per key wins
    * (/root/reference/coininsights.py:115-127; SURVEY.md §2.1 note). */
  def dedupLatest(s: SparkSession, dir: String): DataFrame =
    Upsert.latestPerKey(t(s, dir, "events"), "user_id", Seq("ts", "event_id"))
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"),
        nsToMs("ts").as("ts_ms"))
      .orderBy("user_id")

  /** O15: MERGE upsert (SCD1) — target = pre-cutoff latest state, source =
    * post-cutoff latest state, merged by key with source-wins semantics
    * (/root/reference/coininsights.py:115-127,139-161). */
  def mergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("value"),
        nsToMs("ts").as("ts_ms"), col("event_id"), col("ts"))
    val target = Upsert.latestPerKey(ev.filter(col("ts") < CutoffNs), "user_id", Seq("ts", "event_id"))
      .drop("event_id", "ts")
    val source = Upsert.latestPerKey(ev.filter(col("ts") >= CutoffNs), "user_id", Seq("ts", "event_id"))
      .drop("event_id", "ts")
    Upsert.merge(target, source, "user_id", Nil).orderBy("user_id")
  }

  /** CDC merge with tombstones: deletes ('D'), updates ('U') and inserts
    * ('I') applied in one full-outer join — the MERGE delete clause Redshift
    * has and the reference's TRUNCATE-reload sidesteps; the operator every
    * incremental CDC feed needs. The change set is derived deterministically
    * from the fixture: custkey%10==0 delete, ==1 uppercase-name update,
    * ==2 shifted-key insert. */
  def mergeCdc(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
    val del = c.filter(col("c_custkey") % 10 === 0)
      .withColumn("op", lit("D"))
    val upd = c.filter(col("c_custkey") % 10 === 1)
      .withColumn("c_name", upper(col("c_name"))).withColumn("op", lit("U"))
    val ins = c.filter(col("c_custkey") % 10 === 2)
      .withColumn("c_custkey", col("c_custkey") + 1000000)
      .withColumn("c_name", concat(lit("new "), col("c_name")))
      .withColumn("op", lit("I"))
    Upsert.applyCdc(c, del.unionByName(upd).unionByName(ins), "c_custkey")
      .orderBy("c_custkey")
  }

  /** SCD TYPE-2 history build from a change log — the warehouse op the SCD1
    * merge family (above) deliberately discards: instead of overwriting, each
    * attribute change opens a new validity interval. Orders play the change
    * log (per customer, status over order time): change detection drops
    * no-op rows (lag equality), then valid_from/valid_to come from lead()
    * over the surviving changes; the open interval is the current row.
    * Two windows on the same (custkey, time) partitioning — one shuffle,
    * linear per key at any scale. */
  def scd2History(s: SparkSession, dir: String): DataFrame =
    scd2Rows(s, dir)
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy("o_custkey", "valid_from", "status")

  /** The SCD2 interval rows without the presentation sort — shared by the
    * registered history query and the point-in-time lookup below. */
  private def scd2Rows(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderstatus"), col("o_orderdate"), col("o_orderkey"))
      .withColumn("prev", lag("o_orderstatus", 1).over(byKey))
      .filter(col("prev").isNull || col("prev") =!= col("o_orderstatus"))
      .select(col("o_custkey"), col("o_orderstatus").as("status"),
        col("o_orderdate").as("valid_from"),
        lead("o_orderdate", 1).over(byKey).as("valid_to"))
  }

  /** INCREMENTAL SCD2 maintenance — the MERGE form of `scd2History`: apply
    * a change batch (orders on/after the cutoff) to a standing dimension
    * (intervals built from orders before it) without rescanning history.
    * Closed intervals pass through untouched; only each key's OPEN row
    * joins the re-detection with the batch — so the work is
    * O(batch + open rows), never O(history), the property that makes SCD2
    * maintainable at 100 TB (the companion identity to q_agg_incremental's
    * merge ≡ recompute). The oracle REBUILDS the full history from scratch,
    * so the green row IS the proof that incremental apply ≡ full rebuild.
    * Boundary correctness: the open row carries the key's last surviving
    * status into the change-detect, so a batch row repeating it is dropped
    * exactly as the rebuild would; batch dates are all ≥ cutoff > any open
    * valid_from, so the (date, orderkey) order interleaves identically. */
  def scd2Merge(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cutoff = lit("2001-01-01")
    val orders = t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderstatus"), col("o_orderdate"), col("o_orderkey"))
    // standing dimension from the pre-cutoff log (what a warehouse has on disk)
    val byKey = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val dim = orders.filter(col("o_orderdate") < cutoff)
      .withColumn("prev", lag("o_orderstatus", 1).over(byKey))
      .filter(col("prev").isNull || col("prev") =!= col("o_orderstatus"))
      .select(col("o_custkey"), col("o_orderstatus"), col("o_orderdate"), col("o_orderkey"),
        lead("o_orderdate", 1).over(byKey).as("valid_to"))
    val closed = dim.filter(col("valid_to").isNotNull)
    val open   = dim.filter(col("valid_to").isNull)
      .drop("valid_to")
    // re-detect over open ∪ batch only; closed history never rescans
    val batch = orders.filter(col("o_orderdate") >= cutoff)
    val merged = open.unionByName(batch)
      .withColumn("prev", lag("o_orderstatus", 1).over(byKey))
      .filter(col("prev").isNull || col("prev") =!= col("o_orderstatus"))
      .select(col("o_custkey"), col("o_orderstatus"), col("o_orderdate"), col("o_orderkey"),
        lead("o_orderdate", 1).over(byKey).as("valid_to"))
    closed.unionByName(merged)
      .select(col("o_custkey"), col("o_orderstatus").as("status"),
        col("o_orderdate").as("valid_from"), col("valid_to"))
      .withColumn("is_current", col("valid_to").isNull)
      .orderBy("o_custkey", "valid_from", "status")
  }

  /** POINT-IN-TIME lookup against the SCD2 dimension history — the fact-to-
    * slowly-changing-dimension join every warehouse report needs ("what was
    * the customer's state when this item SHIPPED", not "what is it now").
    * Probe: lineitem at l_shipdate, routed to its customer through orders.
    * The interval predicate rides INSIDE the custkey equi-join (Spark plans
    * a hash join with the range as a post-condition), so no range-join
    * blowup: per-key intervals are the customer's status CHANGES — bounded
    * — and the intervals partition the timeline, so each probe matches
    * exactly one row (a half-open [from, to) match; probes before the first
    * change drop). Output is the revenue-by-historical-status rollup. */
  def scd2Asof(s: SparkSession, dir: String): DataFrame = {
    val hist = scd2Rows(s, dir)
      .select(col("o_custkey").as("h_custkey"), col("status"),
        col("valid_from"), col("valid_to"))
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_shipdate"), col("l_extendedprice"))
    val ord = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(hist,
        col("o_custkey") === col("h_custkey") &&
          col("valid_from") <= col("l_shipdate") &&
          (col("valid_to").isNull || col("l_shipdate") < col("valid_to")))
      .groupBy("status")
      .agg(count(lit(1)).as("n_items"), dsum2(col("l_extendedprice")).as("revenue"))
      .orderBy("status")
  }

  /** Write-ONCE layout of orders partitioned by year, published through
    * the state store (the Graph.edges discipline): query construction is
    * read-only after first touch, so bench timings measure the scan (not a
    * rewrite), concurrent sessions sharing the root never race
    * mid-overwrite, and a regenerated fixture or rebuilt code gets a fresh
    * layout. */
  private def yearLayout(s: SparkSession, dir: String, tag: String): DataFrame =
    graft.etl.State.memo(s, graft.etl.State.root(s, "layout", tag, dir, "orders"))(
      graft.etl.Warehouse.publishPartitioned(s, _,
        t(s, dir, "orders").withColumn("o_year", year(col("o_orderdate"))), "o_year"))

  /** Partition-pruned scan over the year layout — the storage-level twin
    * of O5's key-prefix pruning: the filter prunes whole directories
    * before any I/O (PartitionFilters in the scan; asserted by PlanSpec). */
  def partitionPrune(s: SparkSession, dir: String): DataFrame = {
    yearLayout(s, dir, "prune")
      .filter(col("o_year") === 1996)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }

  /** DYNAMIC partition pruning — the runtime companion of `partitionPrune`:
    * the fact side is partitioned by year on disk, the filter lives on a
    * small DIMENSION (a year→era mapping), and the year values that survive
    * the dim filter are only known at run time. Catalyst injects the dim's
    * filtered key set into the fact scan's partition filter
    * (`dynamicpruning` subquery — PlanSpec asserts it), so whole
    * directories skip before any I/O. At 100 TB this is the difference
    * between scanning one year and scanning the decade when the cut lives
    * in a dimension table. Oracle: the plain join (pruning is
    * plan-invisible to results). */
  def dppJoin(s: SparkSession, dir: String): DataFrame = {
    // metadata-sized dim: every year present, labeled into two eras
    val eras = t(s, dir, "orders")
      .select(year(col("o_orderdate")).as("d_year")).distinct()
      .withColumn("era", when(col("d_year") < 1999, "classic").otherwise("modern"))
    yearLayout(s, dir, "dpp")
      .join(broadcast(eras.filter(col("era") === "modern")),
        col("o_year") === col("d_year"))
      // cast AFTER the join so the scan-side filter stays on the raw
      // partition column (DuckDB's year() is BIGINT; the partition col
      // infers INT)
      .groupBy(col("o_year").cast("long").as("o_year"))
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total"))
      .orderBy("o_year")
  }

  /** O16: TRUNCATE + reload ≡ overwrite snapshot, then scan of post-overwrite
    * state (/root/reference/coininsights.py:173,185). The scratch table lives
    * under the JVM temp dir, like every derived path. Every overwrite names
    * its part files afresh, so the table is read back with the schema it was
    * written with: a listing-keyed memo would infer again on each call. */
  def snapshotOverwrite(s: SparkSession, dir: String): DataFrame = {
    val path = s"${sys.props("java.io.tmpdir")}/graft_snapshot_${dir.replaceAll("[^0-9a-zA-Z]", "_")}"
    val open = t(s, dir, "orders").filter(col("o_orderstatus") === "O")
    open.write.mode("overwrite").parquet(path)
    s.read.schema(open.schema).parquet(path)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total"))
      .orderBy("o_orderpriority")
  }
}
