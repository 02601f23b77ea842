package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table loaders + determinism helpers shared by every declared query.
  *
  * Numeric discipline (SURVEY.md §7.4): double sums are order-sensitive, so any
  * aggregate the DuckDB oracle checks accumulates in DECIMAL (exact, order-free)
  * and surfaces as DOUBLE — both engines then produce bit-identical values.
  *
  * events.ts is parquet TIMESTAMP(NANOS); Spark 4 reads it only as raw Long ns
  * (spark.sql.legacy.parquet.nanosAsLong). All ns→ms/timestamp conversions are
  * integer ops on Long (double division would lose precision above 2^53).
  *
  * Every parquet input whose schema the engine does not own — fixture
  * tables, pipeline stage dirs, stream sinks — is read through
  * [[parquet]]: Spark infers such a schema from the footers with one Spark
  * job per read, while the query is still being planned, and [[parquet]]
  * pays that job once per file listing instead. (Warehouse versions carry
  * their own `_SCHEMA` sidecar.)
  */
object Tables {
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** `name:len:mtime` of every entry directly under `path` (the file itself
    * when `path` is a file), sorted and `|`-joined. One driver-side listing,
    * no Spark job. A rewrite that changes no entry's name, length or mtime
    * does not change it. Throws `FileNotFoundException` for a missing path. */
  def listing(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|")
  }

  /** The session settings that change how a parquet footer is typed. */
  private val ParquetTyping = Seq("spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString", "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled", "spark.sql.parquet.mergeSchema")

  private final case class Inferred(listing: String, typing: Seq[Option[String]], schema: StructType)

  /** Driver-side memo: path → the schema inferred from its last listing. */
  private val inferred = new java.util.concurrent.ConcurrentHashMap[String, Inferred]()

  /** Read parquet at `path` with the schema Spark infers from its footers,
    * inferring (one Spark job) only when the path's [[listing]] or the
    * parquet-typing settings differ from the last inference of the same
    * path; otherwise the remembered schema is handed to the reader and no
    * job runs. A missing path or an un-inferable dir throws what
    * `spark.read.parquet` throws. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val typing = ParquetTyping.map(spark.conf.getOption)
    val seen = try Some(listing(spark, path)) catch { case _: java.io.FileNotFoundException => None }
    val schema = Option(inferred.get(path)).filter(e => seen.contains(e.listing) && e.typing == typing) match {
      case Some(e) => e.schema
      case None =>
        val fresh = spark.read.parquet(path).schema
        seen.foreach(l => inferred.put(path, Inferred(l, typing, fresh)))
        fresh
    }
    spark.read.schema(schema).parquet(path)
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // defensive: a driver-built session may lack this (runtime-settable) conf;
    // without it any TIMESTAMP(NANOS) events.parquet read throws
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = parquet(spark, s"$dir/$name.parquet")
    // The generated events.ts has shipped as both TIMESTAMP(NANOS) (read as
    // raw Long ns under the conf above) and TIMESTAMP(MICROS) (read as a
    // timestamp). Normalize to the engine's canonical form — Long epoch
    // NANOSECONDS — so every downstream integer-time expression (and its
    // DuckDB epoch_ns twin) sees one type regardless of which file vintage
    // it scans. The conversion is exact integer math; session tz is UTC.
    if (name == "events" && df.schema("ts").dataType != LongType)
      df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
    else df
  }

  /** Attach a d-element double-array statistic (a collected mean/sd/PC
    * vector) as column `name` via a 1-row broadcast cross join. The
    * alternative — `array(lit(v0), ..., lit(vd))` — embeds d literals in
    * the plan, so plan size and the codegen constant pool grow linearly
    * with the embedding dimension (fine at d=64, pathological at d=4096);
    * the broadcast row keeps the plan constant-size at any d with
    * identical semantics and the identical double values (VERDICT r7
    * item 4). The statistic row is metadata-tier: one array of d doubles,
    * broadcast once, never shuffled. */
  def withBroadcastArray(df: DataFrame, name: String, vals: Seq[Double]): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.crossJoin(broadcast(Seq(Tuple1(vals)).toDF(name)))
  }

  /** Exact order-independent sum of a money-ish double column, as double. */
  def dsum2(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Exact sum of a derived per-row double expression at scale 10, as double. */
  def dsum10(c: Column): Column = sum(c.cast(DecimalType(28, 10))).cast(DoubleType)

  /** 2^48: every fixture float (components need ≤ 2^-43 resolution; 2^48
    * leaves margin), and every value on the 2^-48 grid, times this scale
    * is an exact integer. */
  val MeanScale: Long = 1L << 48

  /** Exact order-free mean: ⌊x·2^48⌋ summed as DECIMAL(38,0) (no row count
    * overflows it), decimal → string → double, divided once by `n`·2^48
    * (exact in double for any n < 2^53). A value on the 2^-48 grid loses
    * nothing to the floor, any other value is quantized down to the grid,
    * and the division is the one rounding, so the DuckDB twin's
    * VARCHAR-mediated form gives the same bits in any row order. `n`
    * defaults to the row count; `lit(1)` gives the exact sum. */
  def exactMean(x: Column, n: Column = count(lit(1))): Column =
    sum(floor(x.cast(DoubleType) * MeanScale.toDouble).cast(DecimalType(38, 0)))
      .cast(StringType).cast(DoubleType) / (n.cast(DoubleType) * MeanScale.toDouble)

  /** Long-ns column → epoch milliseconds (integer division, truncating). */
  def nsToMs(name: String): Column = expr(s"$name div 1000000")

  /** Long-ns column → TimestampType at microsecond precision. */
  def nsToTs(name: String): Column = expr(s"timestamp_micros($name div 1000)")

  /** 2024-01-15T00:00:00Z in epoch nanoseconds (merge-upsert cutoff). */
  val CutoffNs: Long = 1705276800000000000L

  /** Row bound on the input of a single-partition window (`Window.orderBy`
    * or `Window.partitionBy()` with no keys), whose rows all sit in ONE
    * task. The engine's two such windows (ExactPercentile.bounds,
    * Curation.qualityThreshold) run over a value HISTOGRAM: one row per
    * distinct value of a bounded domain (cent prices, milli-logits), not
    * one per table row. Ten million distinct values is past any such domain
    * and still a single task's sort; above it the input is not the
    * histogram the plan assumes. */
  val SingleWindowMaxRows: Long = 10000000L

  /** `df` unchanged while it has at most `bound` rows; above that the query
    * fails with a `raise_error` naming `what`, the row count and the bound.
    * The count is a window over `Window.partitionBy()`, the single partition
    * the caller's window needs anyway, so the guard adds no exchange. */
  def guardSingleWindow(df: DataFrame, what: String,
                        bound: Long = SingleWindowMaxRows): DataFrame = {
    val n = "__window_rows"
    df.withColumn(n, count(lit(1)).over(Window.partitionBy()))
      .filter(when(col(n) > bound, raise_error(concat(
          lit(s"$what: "), col(n).cast(StringType),
          lit(s" rows enter a single-partition window, above its bound of $bound"))))
        .otherwise(lit(true)))
      .drop(n)
  }

  /** Match a CPU-heavy map stage's parallelism to the session when its scan
    * under-splits. A compact parquet table arrives as ONE row group → ONE
    * task, so per-row fingerprint hashing (winnowing, shingle minhash)
    * serializes on a single core no matter how many the session has — the
    * exact situation any cluster hits on small-but-expensive inputs and on
    * the tail files of a big scan. The repartition is CONDITIONAL: when the
    * scan already yields at least session-parallelism splits (a 100 TB scan
    * yields thousands), this is the identity and no text ever re-shuffles.
    * Batch inputs only — streaming frames cannot answer getNumPartitions. */
  def spread(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores) else df
  }
}
