package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Every published version dir carries its writer's schema in a `_SCHEMA`
  * sidecar: reads through `Warehouse` see exactly the schema parquet footer
  * inference would give, except that a partition column keeps its written
  * type, without launching the inference job, and a dir published before
  * sidecars existed still reads by inference. */
class RecordedSchemaSpec extends SparkSpec {

  private def tmp(name: String) = java.nio.file.Files.createTempDirectory(name).toString

  /** Non-nullable primitives, decimals, timestamps, arrays, a null cell and a
    * LongType `cell` column (the partition column below). */
  private def rows: DataFrame = {
    val s = spark
    import s.implicits._
    Seq((1L, "a", 1.5, 0L), (2L, null, 2.5, 1L), (3L, "c", 3.5, 1L), (4L, "d", 4.5, 2L))
      .toDF("id", "name", "price", "cell")
      .withColumn("amount", col("price").cast("decimal(12,2)"))
      .withColumn("ts", timestamp_seconds(col("id") * 86400))
      .withColumn("tags", array(col("name"), lit("x")))
  }

  private def inferred(dir: String) = spark.read.parquet(dir).schema

  /** Footer inference with the partition column `cell` at its written type. */
  private def written(dir: String) = org.apache.spark.sql.types.StructType(inferred(dir).map(f =>
    if (f.name == "cell") f.copy(dataType = org.apache.spark.sql.types.LongType) else f))

  private def sorted(d: DataFrame) = d.collect().map(_.toSeq).sortBy(_.head.toString).toSeq

  test("read, readVersion and schemaOf match footer inference for every publish path") {
    val root = tmp("recorded_schema")
    val paths: Seq[(String, String => String)] = Seq(
      "plain" -> (t => Warehouse.publish(spark, t, rows)),
      "partitioned" -> (t => Warehouse.publishPartitioned(spark, t, rows, "cell")),
      "clustered" -> (t => Warehouse.publishClustered(spark, t, rows, "id", 2)),
      "zordered" -> (t => Warehouse.publishZOrdered(spark, t, rows, Seq("id", "price"), 2)))
    paths.foreach { case (name, publish) =>
      val t = s"$root/$name"
      val v = publish(t)
      assert(new java.io.File(s"$t/$v/_SCHEMA").isFile, name)
      val want = written(s"$t/$v")
      assert(Warehouse.read(spark, t).schema === want, name)
      assert(Warehouse.readVersion(spark, t, v).schema === want, name)
      assert(Warehouse.schemaOf(spark, t).contains(want), name)
      assert(sorted(Warehouse.read(spark, t)) === sorted(spark.read.parquet(s"$t/$v")), name)
    }
    // the partition column keeps its written type (inference reads it as int)
    val p = Warehouse.read(spark, s"$root/partitioned").schema("cell").dataType
    assert(p === org.apache.spark.sql.types.LongType)
  }

  test("snapshot members record their schema, including a rewritten empty member") {
    val root = tmp("recorded_snapshot")
    val snap = Warehouse.publishSnapshot(spark, root,
      Seq("base" -> rows, "delta" -> rows.limit(0)), partCol = Some("cell"))
    Seq("base", "delta").foreach { m =>
      val dir = s"$root/$m/${snap(m)}"
      assert(Warehouse.readSnapshotMember(spark, root, m, snap(m)).schema === written(dir), m)
    }
    assert(Warehouse.readSnapshotMember(spark, root, "base", snap("base")).count() === 4)
    assert(Warehouse.readSnapshotMember(spark, root, "delta", snap("delta")).count() === 0)
  }

  test("a version dir without _SCHEMA still reads, by footer inference") {
    val t = s"${tmp("recorded_legacy")}/t"
    val v = Warehouse.publish(spark, t, rows)
    val want = Warehouse.read(spark, t)
    val (schema, data) = (want.schema, sorted(want))
    assert(new java.io.File(s"$t/$v/_SCHEMA").delete())
    assert(Warehouse.read(spark, t).schema === schema)
    assert(sorted(Warehouse.read(spark, t)) === data)
  }

  test("Warehouse reads launch no job before an action") {
    val root = tmp("recorded_jobs")
    val plain = s"$root/plain"
    Warehouse.publish(spark, plain, rows)
    val part = s"$root/part"
    Warehouse.publishPartitioned(spark, part, rows, "cell")
    val snap = Warehouse.publishSnapshot(spark, s"$root/snap", Seq("base" -> rows))
    assert(jobsDuring {
      Warehouse.read(spark, plain)
      Warehouse.read(spark, part)
      Warehouse.schemaOf(spark, plain)
      Warehouse.readSnapshotMember(spark, s"$root/snap", "base", snap("base"))
    } === 0)
    // the probe does see the inference job a sidecar-less dir costs
    val v = Warehouse.currentVersion(spark, plain).get
    assert(new java.io.File(s"$plain/$v/_SCHEMA").delete())
    assert(jobsDuring(Warehouse.read(spark, plain)) > 0)
  }
}
