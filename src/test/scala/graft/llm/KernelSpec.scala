package graft.llm

import graft.{SparkEntry, SparkSpec, Tables}
import graft.functions.GraftExtensions
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

/** Each kernel GraftExtensions registers equals its built-in reference form
  * (References) on the sf0.001 fixture, and the engine calls the kernels
  * with no fallback: every name resolves in every graft session, and a
  * session without one fails at analysis naming it. */
class KernelSpec extends SparkSpec {

  /** Collected rows of `df` as strings, in `df`'s order. */
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq

  /** 64 embeddings (float) against 16 centroids (double, off the float
    * grid), with both sides also as double arrays. */
  private lazy val pairs = {
    val e = Tables.t(spark, sf, "embeddings")
    val cents = e.filter(col("vec_id") < 16).select(col("vec_id").as("c_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE) * 0.7D + 0.001D)").as("c"))
    e.filter(col("vec_id") < 64)
      .select(col("vec_id"), col("embedding").as("f"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE) / 3D)").as("d"))
      .crossJoin(cents)
      .orderBy("vec_id", "c_id")
  }

  test("vec_dot and vec_dist2 equal the zip_with folds, float x double and double x double") {
    for ((kernel, ref) <- Seq[(String, (String, String) => String)](
        "vec_dot" -> References.dotSql, "vec_dist2" -> References.dist2Sql);
         a <- Seq("f", "d")) {
      val got = pairs.select(expr(s"$kernel($a, c)").as("k"), expr(ref(a, "c")).as("r"),
        expr(s"$kernel($a, $a)").as("k2"), expr(ref(a, a)).as("r2")).collect()
      assert(got.length == 64 * 16)
      got.foreach(r => assert(!r.isNullAt(0) && r.getDouble(0) == r.getDouble(1) &&
        r.getDouble(2) == r.getDouble(3), s"$kernel($a, c): $r"))
    }
  }

  test("vec_dot / vec_dist2 return NULL on ragged inputs, matching the HOF form") {
    // a dimension-mismatch bug upstream must surface as NULL on both forms,
    // never as a plausible truncated score: zip_with null-pads the shorter
    // side and `+ null` nulls the HOF aggregate
    val df = spark.range(1).select(
      expr("array(1.0D, 2.0D)").as("a"),
      expr("array(1.0D, 2.0D, 3.0D)").as("b"))
    val custom = df.select(
      expr("vec_dot(a, b)"), expr("vec_dist2(a, b)")).collect()(0)
    assert(custom.isNullAt(0) && custom.isNullAt(1))
    val hof = df.select(
      expr(References.dotSql("a", "b")), expr(References.dist2Sql("a", "b"))).collect()(0)
    assert(hof.isNullAt(0) && hof.isNullAt(1))
    // equal lengths keep producing identical non-null values on both paths
    val ok = spark.range(1).select(
      expr("vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))"),
      expr("vec_dist2(array(1.0D, 2.0D), array(3.0D, 4.0D))")).collect()(0)
    assert(ok.getDouble(0) == 11.0 && ok.getDouble(1) == 8.0)
  }

  test("hyperplane_bucket equals the per-plane HOF form at Planes and MultiProbePlanes") {
    val e = Tables.t(spark, sf, "embeddings")
    for (planes <- Seq(Similarity.Planes, Similarity.MultiProbePlanes)) {
      val got = e.select(expr(Similarity.bucketSql("embedding", planes)).as("k"),
        expr(References.bucketSql("embedding", planes)).as("r")).collect()
      assert(got.nonEmpty)
      got.foreach(r => assert(r.getLong(0) == r.getLong(1), s"planes=$planes: $r"))
    }
  }

  /** Every fixture document plus empty, null and short texts. */
  private lazy val texts = {
    import spark.implicits._
    val extra = Seq[(Long, String)]((-1L, ""), (-2L, null), (-3L, "ab"), (-4L, "a  b "),
      (-5L, "abcd"), (-6L, "one two one"))
      .toDF("doc_id", "text")
    Tables.t(spark, sf, "documents").select("doc_id", "text").unionByName(extra)
  }

  for ((kernel, ref) <- Seq[(String, String => String)](
      "token_hashes" -> References.tokenHashesSql,
      "token_hashes_distinct" -> References.tokenHashesDistinctSql,
      "shingle_hashes" -> References.shingleHashesSql,
      "winnow_fps" -> References.winnowFpsSql))
    test(s"$kernel equals its built-in form on every document and on edge texts") {
      val text = "coalesce(text, '')"
      val df = texts.select(col("doc_id"), expr(s"$kernel($text)").as("k"), expr(ref(text)).as("r"))
        .orderBy("doc_id")
      assert(rows(df.select("doc_id", "k")) == rows(df.select("doc_id", "r")))
    }

  test("minhash_sig equals the K array_min passes") {
    val th = texts.select(col("doc_id"), expr("token_hashes(coalesce(text, ''))").as("th"))
      .withColumn("sig", expr("minhash_sig(th)"))
    val df = th.select(col("doc_id") +: (0 until TextHash.K).flatMap(i => Seq(
      element_at(col("sig"), i + 1).as(s"k$i"), expr(References.minHashSql("th", i)).as(s"r$i"))): _*)
      .orderBy("doc_id")
    assert(rows(df.select(col("doc_id") +: (0 until TextHash.K).map(i => col(s"k$i")): _*)) ==
      rows(df.select(col("doc_id") +: (0 until TextHash.K).map(i => col(s"r$i")): _*)))
  }

  test("simhash_sig equals the explode + sign-sum pipeline and its SQL form") {
    val docs = texts.filter(col("text").isNotNull)
    val got = docs.select(col("doc_id"),
      expr("simhash_sig(token_hashes_distinct(text))").as("simhash"),
      expr(s"${References.simhashSigSql(References.tokenHashesDistinctSql("text"))}").as("sql"))
      .orderBy("doc_id")
    assert(rows(got.select("doc_id", "simhash")) ==
      rows(References.simhash(docs).orderBy("doc_id")))
    assert(rows(got.select("doc_id", "simhash")) == rows(got.select("doc_id", "sql")))
  }

  test("top_structs ranking equals the window ranking in both directions") {
    val e = Similarity.withNorm(spark, sf)
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val cands = e.crossJoin(q).filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (expr(Similarity.dotSql("q_emb", "embedding")) / (col("q_nrm") * col("nrm"))).as("cos"))
    for (asc <- Seq(true, false)) {
      def ranked(f: (DataFrame, String, String, String, Int, Boolean, String, String) => DataFrame) =
        rows(f(cands, "q_id", "cos", "vec_id", 10, asc, "cos", "n_id").orderBy("q_id", "rank"))
      val got = ranked(Ranking.topKPerGroup)
      assert(got.length == 80 && got == ranked(References.topKPerGroup), s"asc=$asc")
    }
  }

  test("long_array_md5 gives equal sets equal keys and distinct sets distinct keys") {
    val sets = texts.select(
      expr("array_sort(array_distinct(token_hashes(coalesce(text, ''))))").as("ths"))
    val keyed = sets.select(col("ths"), expr("long_array_md5(ths)").as("k"))
    val perKey = keyed.groupBy("k").agg(countDistinct(col("ths")).as("n")).collect()
    assert(perKey.forall(_.getLong(1) == 1), "one key shared by two sets")
    assert(perKey.length == sets.distinct().count(), "one set with two keys")
    assert(perKey.length > 1)
  }

  test("every kernel in the table resolves in each graft session") {
    val names = GraftExtensions.Kernels.map(_.name)
    assert(names.distinct.length == names.length && names.length == 16)
    for (s <- Seq(spark, spark.newSession()); n <- names)
      assert(s.catalog.functionExists(n), n)
  }

  test("the as-of join strategy is installed and planned") {
    for (s <- Seq(spark, spark.newSession()))
      assert(s.sessionState.planner.strategies.contains(graft.plans.AsOfJoinStrategy))
    val plan = graft.ops.Joins.asofNative(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan.take(1500))
  }

  test("a session without a kernel fails at analysis naming it") {
    val p = spark.newSession()
    p.sessionState.functionRegistry.dropFunction(FunctionIdentifier("vec_dot"))
    val err = intercept[AnalysisException](SparkEntry.queries("q_sim_topk")(p, sf).collect())
    assert(err.getMessage.contains("vec_dot"), err.getMessage)
  }

  test("src/main/scala holds no run-time kernel fork") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val walk = java.nio.file.Files.walk(root)
    val forks = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if l.contains("functionExists(") || l.contains("planner.strategies") =>
          s"$f:${i + 1}"
      }
    }.toList finally walk.close()
    assert(java.nio.file.Files.isDirectory(root))
    assert(forks.isEmpty, forks.mkString("\n"))
  }
}
