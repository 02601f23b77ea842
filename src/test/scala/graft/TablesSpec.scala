package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.util.{Success, Try}

/** The memoized parquet reader: a schema is inferred (one Spark job) once
  * per file listing and parquet-typing settings, a repeated read launches
  * no job, a rewrite or a settings change is re-inferred, failures are the
  * ones `spark.read.parquet` raises, and both events.ts vintages come out as
  * Long epoch-ns on a first read and on a memo hit. */
class TablesSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("tables_spec").toString

  /** A fresh copy of fixture `name.parquet` from `from` under a new dir. */
  private def copyOf(from: String, name: String): String = {
    val dir = tmp()
    Files.copy(Paths.get(s"$from/$name.parquet"), Paths.get(s"$dir/$name.parquet"),
      StandardCopyOption.COPY_ATTRIBUTES)
    dir
  }

  private val nanosDir = Paths.get(getClass.getResource("/nanos").toURI).toString

  test("a repeated read of one fixture launches no job; the first read of a fresh copy does") {
    Tables.t(spark, sf, "lineitem")
    assert(jobsDuring(Tables.t(spark, sf, "lineitem")) == 0)
    val dir = copyOf(sf, "orders")
    assert(jobsDuring(Tables.t(spark, dir, "orders")) > 0)
    var again: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { again = Tables.t(spark, dir, "orders") } == 0)
    assert(again.schema == Tables.t(spark, sf, "orders").schema)
    assert(again.count() == Tables.t(spark, sf, "orders").count())
  }

  test("a copy rewritten with an added column is re-inferred and returns the column") {
    val dir = tmp()
    val orders = Tables.t(spark, sf, "orders")
    orders.coalesce(1).write.parquet(s"$dir/orders.parquet")
    Tables.t(spark, dir, "orders")
    assert(jobsDuring(Tables.t(spark, dir, "orders")) == 0)
    orders.withColumn("o_extra", lit(7)).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    var reread: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { reread = Tables.t(spark, dir, "orders") } > 0)
    assert(reread.columns.last == "o_extra")
    assert(reread.select("o_extra").distinct().collect().map(_.getInt(0)).toSeq == Seq(7))
  }

  test("a rewritten CurationPipeline stage dir is re-inferred, not served stale") {
    val root = tmp()
    val cp = new llm.CurationPipeline(spark, sf, root)
    spark.range(5).select(col("id").as("doc_id"))
      .write.parquet(s"$root/packed.parquet")
    assert(cp.packed().columns.toSeq == Seq("doc_id"))
    assert(jobsDuring(cp.packed()) == 0)
    spark.range(3).select(col("id").as("doc_id"), lit("train").as("split"))
      .write.mode("overwrite").parquet(s"$root/packed.parquet")
    assert(cp.packed().columns.toSeq == Seq("doc_id", "split"))
    assert(cp.packed().count() == 3)
  }

  test("a missing path and an un-inferable dir throw what spark.read.parquet throws") {
    val dir = tmp()
    val bare = intercept[Exception](spark.read.parquet(s"$dir/orders.parquet"))
    val memoized = intercept[Exception](Tables.t(spark, dir, "orders"))
    assert(memoized.getClass == bare.getClass)
    Files.createDirectory(Paths.get(s"$dir/empty.parquet"))
    val bareEmpty = intercept[Exception](spark.read.parquet(s"$dir/empty.parquet"))
    val memoEmpty = intercept[Exception](Tables.parquet(spark, s"$dir/empty.parquet"))
    assert(memoEmpty.getClass == bareEmpty.getClass)
    // the path appearing later is read, not failed from the memo
    Files.copy(Paths.get(s"$sf/orders.parquet"), Paths.get(s"$dir/orders.parquet"))
    assert(Tables.t(spark, dir, "orders").count() == Tables.t(spark, sf, "orders").count())
  }

  test("events.ts is Long epoch-ns for the NANOS and the MICROS vintage, first read and memo hit") {
    val micros = copyOf(sf, "events")
    val nanos = copyOf(nanosDir, "events")
    def read(dir: String): (Int, org.apache.spark.sql.DataFrame) = {
      var df: org.apache.spark.sql.DataFrame = null
      val jobs = jobsDuring { df = Tables.t(spark, dir, "events") }
      assert(df.schema("ts").dataType == LongType)
      (jobs, df)
    }
    def ts(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.select("event_id", "ts").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vals = for (dir <- Seq(micros, nanos)) yield {
      val (firstJobs, first) = read(dir)
      val (hitJobs, hit) = read(dir)
      assert(firstJobs > 0 && hitJobs == 0)
      assert(ts(hit) == ts(first))
      ts(hit)
    }
    // the NANOS resource holds the first rows of the MICROS fixture at ns
    // precision: both vintages give the same epoch-ns values
    val Seq(microVals, nanoVals) = vals
    assert(nanoVals.nonEmpty && nanoVals.forall { case (id, v) => microVals(id) == v })
  }

  test("a change to a parquet-typing setting is re-inferred, not served from the memo") {
    def flipped[T](key: String)(body: => T): T = {
      val was = spark.conf.get(key)
      spark.conf.set(key, (!was.toBoolean).toString)
      try body finally spark.conf.set(key, was)
    }
    // MICROS without UTC adjustment: TIMESTAMP_NTZ or TIMESTAMP by setting
    val p = s"${copyOf(sf, "events")}/events.parquet"
    def tsType() = Tables.parquet(spark, p).schema("ts").dataType
    val before = tsType()
    flipped("spark.sql.parquet.inferTimestampNTZ.enabled") {
      var other: DataType = null
      assert(jobsDuring { other = tsType() } > 0)
      assert(other != before)
    }
    assert(jobsDuring(assert(tsType() == before)) > 0)
    // NANOS is illegal without nanosAsLong: the read fails, it is not served
    val nanos = s"${copyOf(nanosDir, "events")}/events.parquet"
    assert(Tables.parquet(spark, nanos).schema("ts").dataType == LongType)
    flipped("spark.sql.legacy.parquet.nanosAsLong") {
      assert(Try(Tables.parquet(spark, nanos).schema("ts").dataType) != Success(LongType))
    }
  }

  test("the shared listing keeps State keys byte-identical") {
    val dir = tmp()
    Tables.t(spark, sf, "documents").coalesce(2).write.parquet(s"$dir/documents.parquet")
    val p = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
    val parts = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|")
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(s"$dir|documents|$parts|code".getBytes("UTF-8"))
    assert(etl.State.key(spark, dir, "documents", "code") ==
      md.digest().map("%02x".format(_)).mkString.take(16))
  }
}
