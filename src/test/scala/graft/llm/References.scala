package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import TextHash._

/** The built-in Spark forms that graft's kernels
  * (graft.functions.GraftExtensions.Kernels) reproduce bit for bit: the
  * higher-order SQL, window and collect_list forms the engine's operators
  * are specified by. KernelSpec compares each kernel against its form here;
  * `install` puts the scalar forms into a session under the kernels' own
  * names, so FallbackSpec can run whole queries without the kernels. */
object References {

  /** vec_dot: left-to-right double accumulation over zip_with (null when
    * the lengths differ: zip_with null-pads and `+ null` is null). */
  def dotSql(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"

  /** vec_dist2: the same fold over squared differences. */
  def dist2Sql(x: String, c: String): String =
    s"aggregate(zip_with($x, $c, (a, b) -> (CAST(a AS DOUBLE) - b) * (CAST(a AS DOUBLE) - b)), 0D, (acc, v) -> acc + v)"

  /** Deterministic pseudo-random hyperplane component r_i[d] ∈ [-1, 1):
    * integer congruential formula; `d` is the 0-based element index
    * supplied by transform's (x, d) lambda. */
  private def planeCoef(i: Int): String =
    s"(CAST((${(i + 1) * 2654435761L}L + d * 40503L) % 2000001L AS DOUBLE) / 1000000.0D - 1.0D)"

  /** hyperplane_bucket: `planes` sign bits of hyperplane dot products. */
  def bucketSql(emb: String, planes: Int): String =
    (0 until planes).map { i =>
      val dot = s"aggregate(transform($emb, (x, d) -> CAST(x AS DOUBLE) * ${planeCoef(i)}), 0D, (acc, v) -> acc + v)"
      s"(CASE WHEN $dot > 0D THEN ${1L << i}L ELSE 0L END)"
    }.mkString("(", " + ", ")")

  /** token_hashes: one mod-P token hash per single-space token. */
  def tokenHashesSql(text: String): String =
    s"transform(split($text, ' '), t -> ${tokHashSql("t")} % ${P}L)"

  /** token_hashes_distinct: unreduced hashes of the distinct tokens. */
  def tokenHashesDistinctSql(text: String): String =
    s"transform(array_distinct(split($text, ' ')), t -> ${tokHashSql("t")})"

  /** MinHash value i over a hashed, mod-P-reduced feature array. */
  def minHashSql(th: String, i: Int): String =
    s"array_min(transform($th, x -> (${A(i)}L * x + ${B(i)}L) % ${P}L))"

  /** minhash_sig: the K minima as one array. */
  def minhashSigSql(th: String): String =
    (0 until K).map(minHashSql(th, _)).mkString("array(", ", ", ")")

  /** shingle_hashes: mod-P hashes of the distinct character shingles. */
  def shingleHashesSql(text: String): String =
    s"transform(array_distinct(transform(" +
      s"sequence(1, greatest(length(coalesce($text, '')) - ${ShingleLen - 1}, 1)), " +
      s"i -> substring($text, i, $ShingleLen))), " +
      s"sh -> ${tokHashSql("sh")} % ${P}L)"

  /** winnow_fps: distinct minima of every `Dedup.WinnowWindow`-slot window
    * over the positional shingle hashes `th` (bound once, through a
    * one-element transform, so no window recomputes them). */
  def winnowFpsSql(text: String): String = {
    val positional =
      s"transform(sequence(1, greatest(length(coalesce($text, '')) - ${ShingleLen - 1}, 1)), " +
        s"i -> ${tokHashSql(s"substring($text, i, $ShingleLen)")} % ${P}L)"
    val w = Dedup.WinnowWindow
    s"element_at(transform(array($positional), th -> " +
      s"array_distinct(transform(sequence(1, greatest(size(th) - ${w - 1}, 1)), " +
      s"j -> array_min(slice(th, j, $w))))), 1)"
  }

  /** simhash_sig: per bit, the sign of the ±1 sum over the hashes. */
  def simhashSigSql(th: String): String =
    s"aggregate(sequence(0, ${SimBits - 1}), 0L, (sig, b) -> sig + CASE WHEN " +
      s"aggregate($th, 0, (n, h) -> n + CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END) > 0 " +
      "THEN shiftleft(1L, b) ELSE 0L END)"

  /** SimHash of each (doc_id, text) by explode + one sign sum per bit. */
  def simhash(docs: DataFrame): DataFrame = {
    val tok = docs
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
      .withColumn("h", tokHash(col("tok")))
    val bitSums = (0 until SimBits).map(b =>
      sum(expr(s"CASE WHEN (h >> $b) % 2 = 1 THEN 1 ELSE -1 END")).as(s"s$b"))
    val sig = (0 until SimBits)
      .map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    tok.groupBy("doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** Ranking.topKPerGroup by a per-group row_number window. */
  def topKPerGroup(cands: DataFrame, grp: String, score: String, id: String,
                   k: Int, asc: Boolean, outScore: String, outId: String): DataFrame = {
    val ord = if (asc) col(score).asc else col(score).desc
    cands
      .withColumn("rank", row_number().over(Window.partitionBy(grp).orderBy(ord, col(id))).cast("long"))
      .filter(col("rank") <= k)
      .select(col(grp), col(id).as(outId), col(score).as(outScore), col("rank"))
  }

  /** top_vals(v, k): the k largest values, descending. */
  def topValsSql(v: String, k: Int): String =
    s"slice(sort_array(collect_list($v), false), 1, $k)"

  /** The scalar kernels `install` replaces: name, parameter types, return
    * type and the reference body over the parameters. */
  private val Scalar: Seq[(String, Seq[String], String, Seq[String] => String)] = Seq(
    ("vec_dot", Seq("ARRAY<DOUBLE>", "ARRAY<DOUBLE>"), "DOUBLE", p => dotSql(p(0), p(1))),
    ("vec_dist2", Seq("ARRAY<DOUBLE>", "ARRAY<DOUBLE>"), "DOUBLE", p => dist2Sql(p(0), p(1))),
    ("token_hashes", Seq("STRING"), "ARRAY<BIGINT>", p => tokenHashesSql(p(0))),
    ("token_hashes_distinct", Seq("STRING"), "ARRAY<BIGINT>", p => tokenHashesDistinctSql(p(0))),
    ("minhash_sig", Seq("ARRAY<BIGINT>"), "ARRAY<BIGINT>", p => minhashSigSql(p(0))),
    ("shingle_hashes", Seq("STRING"), "ARRAY<BIGINT>", p => shingleHashesSql(p(0))),
    ("winnow_fps", Seq("STRING"), "ARRAY<BIGINT>", p => winnowFpsSql(p(0))),
    ("simhash_sig", Seq("ARRAY<BIGINT>"), "BIGINT", p => simhashSigSql(p(0))))

  /** Replace each scalar kernel in session `s` by a temporary SQL function
    * of the same name that evaluates its reference form. */
  def install(s: SparkSession): SparkSession = {
    Scalar.foreach { case (name, types, returns, body) =>
      s.sessionState.functionRegistry.dropFunction(FunctionIdentifier(name))
      val params = types.indices.map(i => s"p$i")
      s.sql(s"CREATE TEMPORARY FUNCTION $name(" +
        params.zip(types).map { case (p, t) => s"$p $t" }.mkString(", ") +
        s") RETURNS $returns RETURN ${body(params)}")
    }
    s
  }
}
