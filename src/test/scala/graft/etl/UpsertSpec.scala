package graft.etl

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Upsert algebra properties (SURVEY.md §5.3): idempotence, last-write-wins,
  * and merge ≡ dedup∘union — the semantics the reference leaves undefined for
  * duplicate source keys (SURVEY.md §7.4). ScalaCheck generators driven with
  * fixed seeds (the scalatest/scalacheck bridge isn't in the offline cache).
  */
class UpsertSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private def df(rows: Seq[(String, Long, Double)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "ver", "value")
  }

  private def canon(d: DataFrame): Set[(String, Long, Double)] =
    d.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

  private val row: Gen[(String, Long, Double)] = for {
    id <- Gen.oneOf("a", "b", "c", "d", "e")
    ver <- Gen.choose(0L, 5L)
    v <- Gen.choose(0, 1000).map(_ / 10.0)
  } yield (id, ver, v)

  private val rows: Gen[List[(String, Long, Double)]] = Gen.listOfN(12, row)

  /** Deterministic sample stream from a fixed seed. */
  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).map(i => g.apply(Gen.Parameters.default, Seed(42L + i)).get)

  // ver alone is not unique per id; value breaks remaining ties deterministically
  private val ord = Seq("ver", "value")

  test("merge is idempotent: merge(merge(t,s),s) == merge(t,s)") {
    samples(Gen.zip(rows, rows), 8).foreach { case (t0, s0) =>
      val t = df(t0); val s = df(s0)
      val once = Upsert.merge(t, s, "id", ord)
      val twice = Upsert.merge(once, s, "id", ord)
      assert(canon(once) == canon(twice))
    }
  }

  test("merge keeps exactly one row per key, and source keys win") {
    samples(Gen.zip(rows, rows), 8).foreach { case (t0, s0) =>
      // contract: target is key-unique (it's the output of a previous merge)
      val t = Upsert.latestPerKey(df(t0), "id", ord)
      val m = canon(Upsert.merge(t, df(s0), "id", ord))
      assert(m.size == m.map(_._1).size) // unique keys
      val srcBest = s0.groupBy(_._1).map { case (k, g) => k -> g.maxBy(r => (r._2, r._3)) }
      srcBest.foreach { case (k, best) => assert(m.contains(best), s"key $k") }
      // target keys absent from source survive
      val tgtOnly = t0.map(_._1).toSet -- s0.map(_._1).toSet
      assert(tgtOnly.subsetOf(m.map(_._1)))
    }
  }

  test("merge(t,s) == dedupLatest(dedupLatest(t) ∪ s) when preferring s on ties") {
    samples(Gen.zip(rows, rows), 8).foreach { case (t0, s0) =>
      val t = Upsert.latestPerKey(df(t0), "id", ord)
      val viaMerge = canon(Upsert.merge(t, df(s0), "id", ord))
      // union route: SCD1 means any source row beats any target row for the
      // same key (reference MERGE WHEN MATCHED → UPDATE, unconditional), so
      // the priority tag dominates the ordering
      val tagged = t.withColumn("p", org.apache.spark.sql.functions.lit(0))
        .unionByName(df(s0).withColumn("p", org.apache.spark.sql.functions.lit(1)))
      val viaUnion = canon(
        Upsert.latestPerKey(tagged, "id", Seq("p", "ver", "value")).drop("p"))
      assert(viaMerge == viaUnion)
    }
  }

  test("merge with empty source is identity on a deduped target") {
    val t = Upsert.latestPerKey(df(Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("b", 1L, 3.0))), "id", ord)
    val empty = df(Seq.empty)
    assert(canon(Upsert.merge(t, empty, "id", ord)) == canon(t))
  }

  test("merge with empty target inserts the deduped source") {
    val s = df(Seq(("a", 1L, 1.0), ("a", 2L, 2.0)))
    val m = canon(Upsert.merge(df(Seq.empty), s, "id", ord))
    assert(m == Set(("a", 2L, 2.0)))
  }

  test("merge rejects an orderCols column the target does not have") {
    val t = df(Seq(("a", 1L, 1.0)))
    val s = df(Seq(("a", 2L, 2.0))).withColumn("tiebreak", org.apache.spark.sql.functions.lit(1))
    val e = intercept[IllegalArgumentException](Upsert.merge(t, s, "id", Seq("ver", "tiebreak")))
    assert(e.getMessage.contains("tiebreak"))
  }

  test("a null key matches nothing: merge and the first publish keep every null-key row") {
    val all = (d: DataFrame) => d.collect().map(_.toSeq).toSet
    val t = df(Seq(("a", 1L, 1.0), (null, 1L, 2.0)))
    val s = df(Seq((null, 2L, 3.0), ("a", 2L, 4.0), (null, 3L, 5.0)))
    assert(all(Upsert.merge(t, s, "id", ord)) == Set(
      Seq("a", 2L, 4.0), Seq(null, 1L, 2.0), Seq(null, 2L, 3.0), Seq(null, 3L, 5.0)))
    // the same through the warehouse: the first publish (no target yet) and
    // a later merge treat null keys alike
    val target = java.nio.file.Files.createTempDirectory("upsert_null").toString + "/t"
    Warehouse.upsertPublish(spark, target, s, "id", ord)
    assert(all(Warehouse.read(spark, target)) ==
      Set(Seq(null, 2L, 3.0), Seq("a", 2L, 4.0), Seq(null, 3L, 5.0)))
    Warehouse.upsertPublish(spark, target, df(Seq((null, 4L, 6.0), ("a", 3L, 7.0))), "id", ord)
    assert(all(Warehouse.read(spark, target)) == Set(
      Seq(null, 2L, 3.0), Seq(null, 3L, 5.0), Seq(null, 4L, 6.0), Seq("a", 3L, 7.0)))
  }

  test("applyCdc: tombstones delete, upserts apply, absent-key delete is a no-op, idempotent") {
    import org.apache.spark.sql.functions.{col, when}
    val target = df(Seq(("a", 1L, 1.0), ("b", 1L, 2.0), ("c", 1L, 3.0)))
    val changes = df(Seq(("a", 2L, 9.0), ("b", 0L, 0.0), ("x", 0L, 0.0), ("d", 1L, 4.0)))
      .withColumn("op",
        when(col("id").isin("b", "x"), "D")
          .when(col("id") === "d", "I").otherwise("U"))
    val once = Upsert.applyCdc(target, changes, "id")
    assert(canon(once.drop("op")) ==
      Set(("a", 2L, 9.0), ("c", 1L, 3.0), ("d", 1L, 4.0)))
    // applying the same change set again converges (deletes already gone,
    // updates overwrite with identical payloads)
    val twice = Upsert.applyCdc(once.drop("op"), changes, "id")
    assert(canon(twice.drop("op")) == canon(once.drop("op")))
  }

  test("applyCdc: a null-key change row matches nothing, an upsert keeps its payload, a delete removes nothing") {
    import org.apache.spark.sql.functions.{col, when}
    val all = (d: DataFrame) => d.collect().map(_.toSeq).toSet
    val target = df(Seq(("a", 1L, 1.0), (null, 1L, 2.0)))
    val changes = df(Seq((null, 3L, 5.0), (null, 4L, 6.0), ("a", 2L, 9.0)))
      .withColumn("op", when(col("ver") === 4L, "D").otherwise("U"))
    assert(all(Upsert.applyCdc(target, changes, "id")) ==
      Set(Seq("a", 2L, 9.0), Seq(null, 1L, 2.0), Seq(null, 3L, 5.0)))
  }

  test("applyCdc rejects unknown op codes loudly") {
    import org.apache.spark.sql.functions.lit
    val target = df(Seq(("a", 1L, 1.0)))
    val garbage = df(Seq(("a", 2L, 9.0))).withColumn("op", lit("UPSERT"))
    val e = intercept[Exception] {
      Upsert.applyCdc(target, garbage, "id").collect()
    }
    assert(e.getMessage.contains("unknown op code")
      || e.getCause != null && e.getCause.getMessage.contains("unknown op code"))
  }
}
