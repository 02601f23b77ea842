package graft

/** Regression net: every declared query must run at sf0.001 and produce a
  * sane frame. Catches a silently broken registration before the driver's
  * round gate does. */
class QueriesSpec extends SparkSpec {

  // approximate/bucketed queries may legitimately find nothing at tiny SF
  // (q_multimodal_dedup: the fixture media are all genuinely distinct — its
  // 0 rows is the TRUE hamming-<=3 answer; PhashSpec pins the positives)
  private val mayBeEmpty = Set("q_sim_lsh", "q_dedup_embed", "q_dedup_jaccard",
    "q_dedup_minhash", "q_dedup_simhash_pairs", "q_multimodal_dedup")

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL without query: $orphans")
  }

  test("exactly the four engine-specific sketch queries have no oracle") {
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ==
      Set("q_active_users_sketch", "q_agg_approx_distinct",
        "q_agg_percentile_approx", "q_agg_sketch_merge"))
  }

  test("an oracle name defined twice throws instead of shadowing") {
    val a = Seq("q_x" -> "SELECT 1")
    assert(SparkEntry.disjoint(a, Seq("q_y" -> "SELECT 2")).keySet == Set("q_x", "q_y"))
    val across = intercept[IllegalArgumentException](SparkEntry.disjoint(a, Seq("q_x" -> "SELECT 2")))
    assert(across.getMessage.contains("q_x"))
    intercept[IllegalArgumentException](SparkEntry.disjoint(a ++ a))
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs at sf0.001") {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty)
      val n = df.count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }
}
