package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Distributed EUCLIDEAN k-means over the embedding corpus — the clustering
  * stage a training-data pipeline uses for domain discovery and semantic
  * mix balancing (cluster → inspect → reweight) — and the one Lloyd loop
  * every trained index shares: k-means here, the spherical IVF cells
  * (Similarity.trainCentroidsOn, cosine assign) and the PQ codebooks
  * (Pq.lloydBooks, per subspace). A caller names its `Space` (code, group,
  * point and centroid columns), its seed points, its recenter count and,
  * for IVF, its own assign; the seeding, the exact recenter, the
  * empty-centroid rule and the lineage policy live here once, mirroring
  * oracle.Sql.lloyd on the DuckDB side.
  *
  * Shape, built for 100 TB:
  *   - centroids are DIMENSION-TIER state (k·d doubles — 4 KB here, ~1 MB
  *     at k=4096·d=1024) and BROADCAST each round, exactly like pagerank's
  *     rank state;
  *   - each Lloyd round is ONE pass over the corpus: vectors meet the
  *     broadcast centroid table in a nested-loop broadcast join (k rows per
  *     vector, never pairwise in N), the argmin is a per-vec window over
  *     that map-side stream, and the recenter is a (keys, dim)-keyed
  *     aggregate whose domain is k·d — work is O(N·d·k), shuffles are
  *     domain-keyed, nothing is driver-side;
  *   - round counts are FIXED so every declared query is deterministic and
  *     oracle-expressible; the centroid frame is the `graft.Rounds` state,
  *     so a longer loop keeps constant-size plans.
  *
  * Exactness discipline (everything the DuckDB oracle hash-checks):
  *   - squared distances are SEQUENTIAL left-to-right double folds over the
  *     dims (the vec_dot/list_sum twin pair) — both engines run the
  *     identical IEEE op sequence, so the argmin is bit-safe; never a
  *     decimal cast of a full-mantissa double (scale-10 rounding of an
  *     irrational-ish value is a cross-engine coin flip, measured: 1 flip
  *     in ~500k casts);
  *   - centroid means, the per-dimension corpus means (`dimMeans`) and the
  *     per-cluster mean distance are all Tables.exactMean: the 2^48
  *     scaled-integer sum in DECIMAL(38,0), divided once;
  *   - argmin ties break on the lower code (row_number, total order);
  *   - empty centroids keep their previous vector (left-join coalesce).
  *
  * Init is deterministic: centroid j = the point of vec_id j (stable
  * fixture ids). k-means++ would sample — fine in production, unverifiable
  * against a SQL oracle.
  */
object Clustering {

  val K = 8
  val Iters = 2

  /** Sequential (left-to-right) squared-euclidean distance through the
    * codegen'd vec_dist2 (graft.functions.VecDist2): the op sequence of the
    * HOF fold `aggregate(zip_with(...))`, which DuckDB's list_sum
    * comprehension runs too (oracle.Sql.dDist2). */
  private[graft] def dist2Sql(x: String, c: String): String = s"vec_dist2($x, $c)"

  /** What a Lloyd loop trains (the engine twin of oracle.Sql.Space):
    * centroids keyed by `code` (within each `group` value, if any), each a
    * double array `vec` fit to the points' array column `point`. */
  final case class Space(code: String, group: Option[String], point: String,
                         vec: String) {
    def keys: Seq[String] = group.toSeq :+ code
    /** Seed centroids: one per row of `from`, coded by its vec_id. */
    def seed(from: DataFrame): DataFrame =
      from.select(group.map(col).toSeq ++ Seq(col("vec_id").as(code),
        expr(s"transform($point, x -> CAST(x AS DOUBLE))").as(vec)): _*)
  }

  /** k-means clusters over whole embeddings. */
  val clusters: Space = Space("cluster", None, "embedding", "c_emb")

  /** One squared-L2 assignment pass: each point (per `group` value) meets
    * the broadcast centroids and keeps the nearest, ties to the lower code.
    * Point columns pass through; `d2` is the winning distance.
    * `private[graft]` so ScaleBench can time the pass at synthetic N×. */
  private[graft] def assign(sp: Space)(points: DataFrame, cents: DataFrame): DataFrame = {
    val c = broadcast(cents)
    sp.group.fold(points.crossJoin(c))(points.join(c, _))
      .withColumn("d2", expr(dist2Sql(sp.point, sp.vec)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(("vec_id" +: sp.group.toSeq).map(col): _*)
          .orderBy(col("d2"), col(sp.code))))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** Per-(keys, pos) exact means of the array column `x` (Tables
    * .exactMean per element position): one (keys…, pos, n, sum, mean) row
    * per key and position, so the domain is keys·d. */
  private[graft] def dimMeans(df: DataFrame, keys: Seq[String], x: String): DataFrame =
    df.select(keys.map(col) :+ posexplode(col(x)).as(Seq("pos", "x")): _*)
      .groupBy((keys :+ "pos").map(col): _*)
      .agg(count(lit(1)).as("n"), exactMean(col("x"), lit(1)).as("sum"),
        exactMean(col("x")).as("mean"))

  /** Element-wise mean per surviving centroid, reassembled in position
    * order (k·d-bounded); an empty centroid keeps `prev`'s vector. */
  private def recenter(sp: Space, assigned: DataFrame, prev: DataFrame): DataFrame = {
    val upd = dimMeans(assigned, sp.keys, sp.point)
      .groupBy(sp.keys.map(col): _*)
      .agg(expr("transform(array_sort(collect_list(struct(pos, mean))), " +
        "p -> p.mean)").as(sp.vec))
    prev.alias("p").join(upd.alias("u"), sp.keys, "left")
      .select(sp.keys.map(col) :+
        coalesce(col(s"u.${sp.vec}"), col(s"p.${sp.vec}")).as(sp.vec): _*)
  }

  /** The Lloyd loop: centroids seeded from the `seed` points, then `rounds`
    * recenters, each over a `nearest` pass of every point. */
  private[graft] def lloyd(sp: Space, points: DataFrame, seed: DataFrame, rounds: Int)(
      nearest: (DataFrame, DataFrame) => DataFrame = assign(sp)): DataFrame =
    graft.Rounds.run(sp.seed(seed), rounds) { cents =>
      recenter(sp, nearest(points, cents), cents)
    }

  /** `Iters` assignment passes (`Iters − 1` recenters) from the seed
    * points; returns (final centroids, final assignment). */
  private def trained(e0: DataFrame, seed: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val e = e0.select("vec_id", "embedding")
    val cents = lloyd(clusters, e, seed(e), Iters - 1)()
    (cents, assign(clusters)(e, cents))
  }

  /** The declared queries' training: seeded by vec_ids 0..K-1. */
  private def trained(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    trained(t(s, dir, "embeddings"), _.filter(col("vec_id") < K))

  private def rounds(s: SparkSession, dir: String): DataFrame =
    trained(s, dir)._2

  /** The same Lloyd rounds over a caller-supplied (vec_id, embedding)
    * frame, seeded by the K SMALLEST ids present — the deployment-real
    * seed rule for corpora whose id space has holes (post-dedup kept
    * sets); on the full fixture it picks ids 0..K-1, identical to the
    * declared queries' literal filter. Used by EmbeddingPipeline's
    * semantic-balance stage. */
  private[graft] def roundsOf(e0: DataFrame): DataFrame =
    trained(e0, _.orderBy("vec_id").limit(K))._2

  /** The per-cluster balance aggregation over an assignment frame (shared
    * by q_cluster_sizes and the pipeline stage). */
  private[graft] def sizesOf(assigned: DataFrame): DataFrame =
    assigned
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), exactMean(col("d2")).as("mean_dist2"))
      .orderBy("cluster")

  /** q_cluster_assign — the SERVE face of k-means, train-once/serve-many:
    * the first call for a corpus runs the Lloyd rounds and PUBLISHES the
    * final centroids through the warehouse pointer commit (deterministic
    * training, so racing writers publish identical bytes and
    * last-writer-wins is benign); every later call — bench reps 2+, other
    * sessions, the streaming router — assigns against the published
    * version with ZERO training in the plan. Output is identical to
    * q_cluster_kmeans (same centroids, same argmin), which is exactly the
    * point: the oracle hash-matching both queries proves serve ≡ train.
    * The centroids live in a state-store root, so a code change or a
    * rewritten fixture can never serve stale centroids, which would
    * silently break that equivalence. */
  def assignPublished(s: SparkSession, dir: String): DataFrame = {
    val cents = graft.etl.State.memo(s,
        graft.etl.State.root(s, "kmeans", "centroids", dir, "embeddings"))(
        graft.etl.Warehouse.publish(s, _, trained(s, dir)._1))
      .select("cluster", "c_emb")
    val e = t(s, dir, "embeddings").select("vec_id", "embedding")
    assign(clusters)(e, cents)
      .select(col("vec_id"), col("cluster"), col("d2").as("dist2"))
      .orderBy("vec_id")
  }

  /** q_cluster_kmeans: the per-vector cluster assignment after two Lloyd
    * rounds, with the squared distance to the winning centroid. */
  def kmeans(s: SparkSession, dir: String): DataFrame =
    rounds(s, dir)
      .select(col("vec_id"), col("cluster"), col("d2").as("dist2"))
      .orderBy("vec_id")

  /** q_cluster_sizes: per-cluster population + mean squared distance
    * (inertia/n, quantized at 2^-48 so the cross-member sum is
    * order-free integer math) — the balance report a curation pipeline
    * reads before reweighting the semantic mix. */
  def kmeansSizes(s: SparkSession, dir: String): DataFrame =
    sizesOf(rounds(s, dir))
}
