package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (SURVEY.md §2.2 Group C / north-star similarity-search mandate).
  *
  *  - bruteTopK: exact cosine top-k — broadcast the (small) query set against
  *    the full corpus; O(Q·N·d) but embarrassingly parallel, the correctness
  *    baseline at any scale;
  *  - lshTopK: random-hyperplane LSH — 8 sign bits → 256 buckets; candidates
  *    share a bucket, exact cosine only within. The bucket join is the scale
  *    path: shuffle by bucket, never Q×N.
  *
  * The IVF family has one serve over published lists, `probeServe`, which
  * every list-reading variant (trained, upsert, rebuild, sweep, quantized,
  * mining) calls with the state it resolved, and one all-in-plan serve,
  * `serveIvf`; every cell ranking goes through `rankAgainst`.
  *
  * All arithmetic is double-precision with a fixed accumulation order, so the
  * DuckDB oracle reproduces every value bit-for-bit (left-to-right fold; see
  * tools/check.py evidence in the round log). Hyperplanes are generated from
  * integer arithmetic — identical constants in both engines, no RNG.
  */
object Similarity {

  /** Left-to-right double dot product of two float-array columns — the
    * custom codegen'd expression (graft.functions.VecDot), registered
    * by GraftExtensions. Bit-identical to the built-in HOF form
    * `aggregate(zip_with(...))` (same accumulation order), but without
    * per-element lambda dispatch on the pair-join hot path. */
  def dotSql(a: String, b: String): String = s"vec_dot($a, $b)"

  /** Euclidean norm of a float-array column, same accumulation order. */
  def normSql(a: String): String = s"sqrt(vec_dot($a, $a))"

  /** Number of hyperplanes / signature bits for LSH. Sizing math (the knob a
    * deployment turns, VERDICT r1 item 7): expected bucket occupancy is
    * N / 2^planes, so planes ≈ log2(N / targetBucketSize). Single-probe wants
    * buckets comfortably above k (here 10); multi-probe trades fewer planes ×
    * (planes+1) probed buckets for recall. Measured on the sf0.1 fixture
    * (N=2000, recall@10 vs brute): planes=8 single-probe 2.5%/128 cand;
    * planes=4 + hamming-1 probing 52%/5234 cand (brute is 15992) — see
    * ROUNDLOG. Candidates scale as Q·(planes+1)·N/2^planes: LINEAR in N for
    * fixed planes. */
  val Planes: Int = 8

  /** Planes for the multi-probe variant: log2(2000/128) = 4 at the bench
    * tier — coarser buckets + hamming-1 probing beats fine buckets on this
    * corpus (moderate-cosine neighbors flip sign bits often). */
  val MultiProbePlanes: Int = 4

  /** Target bucket occupancy for PAIR-generating self-joins (embedNearLsh).
    * Within-bucket pairs ≈ N·B/2 for occupancy B, so holding B constant as N
    * grows keeps pair candidates LINEAR in N. */
  val PairTargetBucket: Int = 128

  /** The sizing knob, wired (VERDICT r2 item 1): planes ≈ log2(N/B) clamped
    * below at MultiProbePlanes so the fixture tiers keep their measured
    * recall point. At N=2000 (sf0.1) this is 4 — identical to the old fixed
    * constant; at 10× it is 8, at 100× it is 11: bucket count grows WITH the
    * corpus and the self-join stays ~linear instead of going quadratic on a
    * frozen 16 buckets. */
  def planesFor(n: Long, targetBucket: Int = PairTargetBucket): Int =
    math.max(MultiProbePlanes,
      math.ceil(math.log(math.max(n, 1).toDouble / targetBucket) / math.log(2.0)).toInt)

  /** LSH bucket id: `planes` sign bits of deterministic pseudo-random
    * hyperplane dot products, in one pass through the codegen'd
    * `hyperplane_bucket` (graft.functions.HyperplaneBucket); the hyperplane
    * components come from integer arithmetic, bit-identical in DuckDB. */
  def bucketSql(emb: String, planes: Int = Planes): String =
    s"hyperplane_bucket($emb, $planes)"

  private def queries(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))

  /** The embeddings with their L2 norm `nrm` — the corpus frame every
    * cosine serve, index build and maintenance path scores against. */
  private[llm] def withNorm(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(
      col("vec_id"), col("embedding"), expr(normSql("embedding")).as("nrm"))

  /** Exact cosine top-10 for each query vector (vec_id < 8) — brute force.
    * The query side is tiny and broadcast; the scan stays embarrassingly
    * parallel and the per-query ranking is the k-bounded `top_structs`
    * heap aggregate (Ranking.topKPerGroup) — the exchange carries Q×10
    * rows per partition, never the N×Q candidate frame (VERDICT r7
    * item 1: a `row_number` window here concentrates the whole corpus
    * scan into Q sort tasks). */
  def bruteTopK(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    rankTop10(e.join(broadcast(queries(e)), col("vec_id") =!= col("q_id"))
      .withColumn("cos", expr(dotSql("q_emb", "embedding")) / (col("q_nrm") * col("nrm"))))
  }

  /** Scored LSH candidate stage shared by the single- and multi-probe
    * queries (and the scale stress spec, which logs candidate counts):
    * each query probes its own bucket plus — when `probeDist` = 1 — every
    * bucket at hamming distance 1 (flip one sign bit). Probe buckets are
    * distinct and a vector lives in exactly one bucket, so no candidate
    * dedup is needed. The bucket is the join key: the plan is a broadcast of
    * Q×(planes+1) probe rows against the bucketed corpus — never Q×N. */
  private[graft] def lshCandidates(s: SparkSession, dir: String,
                                   planes: Int, probeDist: Int): DataFrame = {
    val e = withNorm(s, dir).withColumn("bucket", expr(bucketSql("embedding", planes)))
    val q = e.filter(col("vec_id") < 8).select(
      col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      col("nrm").as("q_nrm"), col("bucket").as("q_bucket"))
    val probeBuckets =
      if (probeDist == 0) array(col("q_bucket"))
      else array(col("q_bucket") +:
        (0 until planes).map(i => expr(s"q_bucket ^ ${1L << i}L")): _*)
    val probes = q.select(col("q_id"), col("q_emb"), col("q_nrm"),
      explode(probeBuckets).as("pb"))
    e.join(broadcast(probes), col("bucket") === col("pb") && col("vec_id") =!= col("q_id"))
      .withColumn("cos", expr(dotSql("q_emb", "embedding")) / (col("q_nrm") * col("nrm")))
  }

  private def rankTop10(c: DataFrame): DataFrame =
    // k-bounded heap aggregate, not a per-query window: the brute, LSH and
    // all-in-plan IVF candidate frames are linear in N, so ranking them
    // must not concentrate into Q partitions (the bruteTopK rationale)
    Ranking.topKPerGroup(c.select("q_id", "vec_id", "cos"),
        "q_id", "cos", "vec_id", 10, asc = false, "cos", "n_id")
      .orderBy("q_id", "rank")

  /** LSH-bucketed ANN: candidates limited to the query's bucket, exact cosine
    * within, top-10 per query. Recall is approximate by design (bucket-bound);
    * the join key is the bucket, so the plan scales by shuffle, not Q×N. */
  def lshTopK(s: SparkSession, dir: String): DataFrame =
    rankTop10(lshCandidates(s, dir, Planes, 0))

  /** Multi-probe LSH ANN: coarser buckets (MultiProbePlanes) and hamming-1
    * probing — (planes+1)× the candidates of one bucket for several-× the
    * recall (measured: 2.5% → 52% @ sf0.1; see Planes scaladoc). */
  def lshMultiProbeTopK(s: SparkSession, dir: String): DataFrame =
    rankTop10(lshCandidates(s, dir, MultiProbePlanes, 1))

  /** IVF parameters: `Cells` centroid cells, `NProbe` probed per query.
    * Sizing math: cells ≈ √N balances the two linear terms (Q×cells centroid
    * scoring vs Q×NProbe×N/cells candidate scoring) — √2000 ≈ 45 at the
    * bench tier; 16 is deliberately coarser so NProbe=4 covers a quarter of
    * the corpus (recall 99–100% measured). `ivfTopK` uses first-16-ids
    * centroids (deterministic stand-in); `ivfTrainedTopK` runs the k-means
    * pass below. Serving shuffles by cell id, never Q×N. */
  val Cells = 16
  val NProbe = 4

  /** IVF-bucketed ANN: each vector is assigned to its nearest centroid cell;
    * a query probes its NProbe nearest cells and ranks candidates by exact
    * cosine within them. The cell id is the join/shuffle key — the classic
    * inverted-file layout. This is the ALL-IN-PLAN form (`serveIvf` over
    * the first-`Cells`-ids centroids, assignment recomputed per call): it
    * shows the topology and serves ad-hoc corpora with no index; the
    * production serves are `ivfTrainedTopK` / `ivfQuantizedTopK`, which
    * read PUBLISHED cell-partitioned lists through `probeServe`. */
  def ivfTopK(s: SparkSession, dir: String): DataFrame =
    serveIvf(s, dir, firstCells(withNorm(s, dir)))

  /** The untrained-IVF centroids of a (vec_id, embedding, …) frame: its
    * first-`Cells`-ids vectors as (cent_id, c_emb) — a deterministic
    * stand-in for training, shared by the float and int8 paths. */
  private def firstCells(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < Cells)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"))

  /** The 8 sample query vectors (vec_id < 8) with their norms — the query
    * side of every IVF serve. */
  private[llm] def sampleQueries(s: SparkSession, dir: String): DataFrame =
    withNorm(s, dir).filter(col("vec_id") < 8)

  /** Each query row's `nprobe` best cells by centroid cosine (`crn` is the
    * probe rank) — the probe stage of every IVF and IVF-PQ serve. */
  private[llm] def probesOf(q: DataFrame, cents: DataFrame,
                            nprobe: Int = NProbe): DataFrame =
    rankAgainst(q, cents).filter(col("crn") <= nprobe)

  /** The trained serve's CELL-PROBE stage in isolation — each sample query's
    * `NProbe` best cells by centroid cosine, (q_id, crn, cent_id). Publishes
    * on first call like ivfTrainedTopK. This is the batch face of the
    * streaming routing twin (StreamTwins.ivfProbe); StreamTwinsSpec pins
    * drained ≡ batch on it. */
  private[graft] def probeCells(s: SparkSession, dir: String): DataFrame =
    probesOf(sampleQueries(s, dir), centroids(s, dir))
      .select(col("vec_id").as("q_id"), col("crn"), col("cent_id"))

  /** Lloyd recenters for IVF k-means training (each mean is
    * Tables.exactMean, so a TRAINED IVF is oracle-checkable). */
  val TrainIters = 2

  /** The IVF cells the shared Lloyd loop trains. */
  private val cellSpace = Clustering.Space("cent_id", None, "embedding", "c_emb")

  /** One spherical-k-means assignment pass: every vector ranked against every
    * centroid by cosine (centroids are metadata-sized — broadcast; the only
    * per-corpus work is the N×k scoring, partitioned by vector). The ONE
    * cell ranking of the IVF family: training, assignment, probing and the
    * all-in-plan serve all call it. Scores through `dotSql` (the codegen'd
    * vec_dot, float×double overload). Columns of `e` beyond (vec_id,
    * embedding, nrm) pass through. */
  private[llm] def rankAgainst(e: DataFrame, cents: DataFrame): DataFrame = {
    val c = cents.withColumn("c_nrm", expr(normSql("c_emb")))
    e.crossJoin(broadcast(c))
      .withColumn("c_cos", expr(dotSql("embedding", "c_emb")) / (col("nrm") * col("c_nrm")))
      .withColumn("crn", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("c_cos").desc, col("cent_id"))))
  }

  /** Distributed Lloyd training (spherical k-means, public algorithm):
    * deterministic seed = the first `Cells` vectors by id; `TrainIters`
    * recenters over a cosine-argmax assign. Everything is DataFrame
    * algebra: the per-iteration state is k×d centroid rows, never
    * driver-collected. */
  def trainCentroids(s: SparkSession, dir: String, cells: Int = Cells): DataFrame =
    trainCentroidsOn(withNorm(s, dir), cells)

  /** The Lloyd loop (Clustering.lloyd) over an ARBITRARY (vec_id,
    * embedding, nrm) corpus frame — shared by the full-corpus training
    * above and the base-only training of the index-maintenance path
    * (IvfMaintenance), which freezes centroids before late batches arrive. */
  private[llm] def trainCentroidsOn(e: DataFrame, cells: Int = Cells): DataFrame =
    Clustering.lloyd(cellSpace, e, e.filter(col("vec_id") < cells), TrainIters)(
      nearestCell)

  /** Every row of `e` under its nearest cell (crn = 1) — the assignment
    * pass of training, the published lists and the maintenance slices. */
  private[llm] def nearestCell(e: DataFrame, cents: DataFrame): DataFrame =
    rankAgainst(e, cents).filter(col("crn") === 1)

  /** Published-index location for a corpus dir: a state-store root
    * (graft.etl.State), keyed by the fixture files and the code, so neither
    * a code change nor a rewritten fixture can serve a stale index (the
    * analog of an index build id). */
  private[graft] def centroidTarget(s: SparkSession, dir: String): String =
    graft.etl.State.root(s, "ivf", "centroids", dir, "embeddings")

  /** Train the IVF centroids and PUBLISH them through the warehouse pointer
    * commit (VERDICT r2 item 4) — the train-once/serve-many split of a real
    * index build: training is a batch job that publishes an immutable
    * version; serving reads the pointer and never retrains. Returns the
    * published version name. */
  def publishCentroids(s: SparkSession, dir: String,
                       target: String): String =
    graft.etl.Warehouse.publish(s, target, trainCentroids(s, dir))

  /** The published trained centroids (cent_id, c_emb), trained and
    * published by the first call of the whole IVF family. */
  private[graft] def centroids(s: SparkSession, dir: String): DataFrame =
    graft.etl.State.memo(s, centroidTarget(s, dir))(publishCentroids(s, dir, _))
      .select("cent_id", "c_emb")

  /** Serve IVF ANN from PUBLISHED centroids — no training anywhere in this
    * plan: centroids are k×d rows read from the current warehouse version
    * and broadcast. Same serving shape as `ivfTopK` (cell id is the shuffle
    * key). */
  def ivfServeTopK(s: SparkSession, dir: String, target: String): DataFrame =
    serveIvf(s, dir, graft.etl.Warehouse.read(s, target).select("cent_id", "c_emb"))

  /** The IVF INVERTED LISTS: every vector's (vec_id, embedding, nrm,
    * label, cent_id) under its nearest published centroid, published
    * HIVE-PARTITIONED on cent_id (Warehouse.publishPartitioned) — each
    * cell is a directory, so a serve's IN(cent_id) predicate prunes
    * unprobed cells at FILE-LISTING time, before a single byte of them is
    * read. This is what an IVF index actually stores; the one corpus-wide
    * assignment pass (N×k scoring + the per-vector argmax) is paid at
    * build time, never per query. The label rides along as a PAYLOAD
    * column (the filtered-ANN layout: predicate columns live in the lists
    * so label-predicated serves never join back to the corpus); serves
    * that don't reference it prune it at the scan. Deterministic build →
    * every writer publishes identical bytes (last-writer-wins benign). */
  private[graft] def publishedAssignments(s: SparkSession, dir: String): DataFrame =
    graft.etl.State.memo(s, graft.etl.State.root(s, "ivf", "assign", dir, "embeddings")) { target =>
      val cents = centroids(s, dir)
      // label rides the assignment scan itself (rankAgainst passes extra
      // columns through) — no corpus-side join anywhere in the build
      val e = t(s, dir, "embeddings").select(
        col("vec_id"), col("embedding"), col("label").cast("long").as("label"),
        expr(normSql("embedding")).as("nrm"))
      val assigned = nearestCell(e, cents)
        .select(col("vec_id"), col("embedding"), col("nrm"), col("label"),
          col("cent_id"))
      graft.etl.Warehouse.publishPartitioned(s, target, assigned, "cent_id")
    }

  /** IVF ANN over TRAINED centroids, train-once/serve-many — and since r8,
    * SERVED FROM THE PUBLISHED INVERTED LISTS: the first call trains +
    * publishes centroids AND the partitioned assignment table; every later
    * call ranks only the 8 query vectors against the broadcast centroids
    * (8×k scoring — metadata), collects the ≤ Q·NProbe probed cell ids,
    * and reads JUST those cell directories (static partition pruning,
    * IvfPersistSpec pins the PartitionFilters). The corpus is never
    * re-scored at serve time — the plan the old form paid (full N×k
    * scoring + an N-row argmax window per serve) is gone. Candidates are
    * the probed lists joined to the broadcast query frame; ranking is the
    * k-bounded heap aggregate. Output is row-identical to ivfServeTopK
    * (same cosine expression over the same operands). */
  def ivfTrainedTopK(s: SparkSession, dir: String): DataFrame =
    probeServe(sampleQueries(s, dir), centroids(s, dir), publishedAssignments(s, dir))
      .orderBy("q_id", "rank")

  /** THE cell-pruned IVF serve — one body for every variant that reads
    * inverted lists (trained, upsert, rebuild, sweep, quantized, mining);
    * each passes only the state it resolved: the query rows `q` (vec_id,
    * embedding, nrm, …), the frozen centroids `cents` (cent_id, c_emb) and
    * the `lists` (vec_id, embedding, nrm, cent_id, …). The queries rank
    * against the broadcast centroids (Q×k scoring — metadata) and keep
    * their `nprobe` best cells; the ≤ min(Cells, Q·nprobe) probed cell ids
    * collect once and re-enter as a literal IN, the filter that becomes
    * static partition pruning (only the probed cell directories are read —
    * IvfPersistSpec pins the PartitionFilters). Candidates are the pruned
    * lists joined to the broadcast probe frame (`fan` reshapes it first,
    * `carry` adds query columns), filtered by `keep`, scored by the
    * fixed-order cosine (then `cap`), and ranked per `grp` through the
    * k-bounded heap: (grp, n_id, cos, rank), unordered. */
  private[llm] def probeServe(q: DataFrame, cents: DataFrame, lists: DataFrame,
                              nprobe: Int = NProbe, carry: Seq[Column] = Nil,
                              fan: DataFrame => DataFrame = identity,
                              grp: String = "q_id",
                              keep: Column = col("vec_id") =!= col("q_id"),
                              cap: Option[Column] = None, k: Int = 10): DataFrame = {
    val s = q.sparkSession
    val probes = probesOf(q, cents, nprobe)
      .select(Seq(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("cent_id"), col("crn")) ++ carry: _*)
    val cellIds = probes.select("cent_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val scored = lists.filter(col("cent_id").isInCollection(cellIds))
      .join(broadcast(fan(probes)), "cent_id")
      .filter(keep)
      .withColumn("cos", expr(dotSql("q_emb", "embedding")) / (col("q_nrm") * col("nrm")))
    Ranking.topKPerGroup(cap.fold(scored)(scored.filter).select(grp, "vec_id", "cos"),
      grp, "cos", "vec_id", k, asc = false, "cos", "n_id")
  }

  /** Probe counts for the q_sim_ivf_sweep operating curve. */
  val SweepProbes: Seq[Int] = Seq(1, 2, 4)

  /** q_sim_ivf_sweep: the recall@10-vs-nprobe OPERATING CURVE — what an ANN
    * deployment publishes next to its index so users pick a probe budget
    * with eyes open (the recall knob every IVF paper plots). One row per
    * probe count: aggregate recall@10 of the trained-IVF serve against the
    * exact brute-force ground truth over the sample query set.
    *
    * The curve points SHARE one pass: probes are ranked once to the
    * maximum probe count, fanned ×|SweepProbes| against a 3-row literal
    * frame, and every candidate carries its (nprobe, q_id) pair packed
    * into one group key so the single k-bounded heap ranking serves all
    * curve points — the published lists are read once (pruned to the union
    * of probed cells), never once per point. The ground-truth side is the
    * same deterministic bruteTopK that anchors the recall audits; at scale
    * both sides run on a query SAMPLE, so audit cost is independent of
    * corpus size (the q_sim_recall posture). All counts are integers; each
    * recall is one IEEE division — oracle-hashable. */
  def ivfSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val np = SweepProbes.map(_.toLong).toDF("nprobe")
    // group key packs (nprobe, q_id) so one heap aggregate ranks every
    // curve point; q_id < 8 << 1024, no collision possible
    val ranked = probeServe(sampleQueries(s, dir), centroids(s, dir),
        publishedAssignments(s, dir), nprobe = SweepProbes.max,
        fan = _.crossJoin(broadcast(np)).filter(col("crn") <= col("nprobe"))
          .withColumn("gk", col("nprobe") * lit(1024L) + col("q_id")),
        grp = "gk")
      .select(expr("gk div 1024").as("nprobe"), expr("gk % 1024").as("q_id"),
        col("n_id"))
    Ranking.recall(Rankings.exactCos(s, dir).select(col("q_id"), col("n_id"))
      .crossJoin(broadcast(np)), ranked, "nprobe")
  }

  /** The all-in-plan IVF serve over an arbitrary centroid set (cent_id,
    * c_emb): one `rankAgainst` pass ranks every (vector, centroid) pair,
    * reused for assignment (crn = 1) and query probing (crn ≤ NProbe). */
  private def serveIvf(s: SparkSession, dir: String, cents: DataFrame): DataFrame = {
    val e = withNorm(s, dir)
    val rankedCells = rankAgainst(e, cents)
    val assigned = rankedCells.filter(col("crn") === 1)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id"))
    val probes = rankedCells.filter(col("crn") <= NProbe && col("vec_id") < 8)
      .select(col("vec_id").as("q_id"), col("cent_id"))
    // probed candidates are a corpus fraction (Q·NProbe·N/cells rows) —
    // rank through the k-bounded heap aggregate, never a per-query window
    val cands = probes.join(assigned, "cent_id")
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(queries(e)), "q_id")
      .withColumn("cos", expr(dotSql("q_emb", "embedding")) / (col("q_nrm") * col("nrm")))
    rankTop10(cands)
  }

  /** Array-function surface over embeddings (q_array_funcs). */
  def arrayFuncs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(
      col("vec_id"),
      size(col("embedding")).cast("long").as("n"),
      element_at(col("embedding"), 1).cast("double").as("e0"),
      expr("aggregate(transform(embedding, x -> abs(CAST(x AS DOUBLE))), 0D, (acc, v) -> acc + v)").as("l1"),
      expr("aggregate(transform(slice(embedding, 1, 8), x -> CAST(x AS DOUBLE)), 0D, (acc, v) -> acc + v)").as("s8"),
    ).orderBy("vec_id")

  /** int8 scalar quantization with a per-vector max-abs scale — the storage
    * form a 100 TB embedding corpus actually keeps (4× smaller + SIMD-able;
    * IVF/LSH serve lists store codes, not floats). Per row: code_i =
    * floor(x_i·127/maxabs + 0.5) ∈ [-127, 127], plus the exact L2² dequant
    * error as the fidelity audit. Every op is IEEE-exact (multiply, divide,
    * floor — no round(), whose half-way rule differs across engines) with a
    * fixed left-to-right error accumulation, so DuckDB reproduces the codes
    * AND the error bit-for-bit. Pure map stage, shuffle-free. */
  /** Shared quantization core: per-vector max-abs scale + int8 codes
    * (vec_id, embedding, maxabs, codes). Pure map stage. Public array form
    * for composition (EmbeddingPipeline stage 4); the registered query
    * `quantize` serializes the codes for the driver's row-sort harness. */
  def quantCodes(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        expr("aggregate(transform(embedding, x -> abs(CAST(x AS DOUBLE))), 0D, (acc, v) -> greatest(acc, v))")
          .as("maxabs"))
      .select(col("vec_id"), col("embedding"), col("maxabs"),
        expr("""CASE WHEN maxabs > 0D THEN
                  transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0D / maxabs + 0.5D) AS INT))
                ELSE transform(embedding, x -> 0) END""").as("codes"))

  /** Registered query form: int8 codes serialized to a comma-joined string
    * (integer→string render is engine-stable, unlike raw array columns,
    * which the driver's pandas row-sort cannot hash — the `q_agg_topk`
    * serialization precedent). */
  def quantize(s: SparkSession, dir: String): DataFrame =
    quantCodes(s, dir)
      .select(
        col("vec_id"), col("maxabs"),
        expr("array_join(transform(codes, c -> CAST(c AS STRING)), ',')").as("codes_str"),
        expr("""CASE WHEN maxabs > 0D THEN
                  aggregate(zip_with(embedding, codes,
                      (x, q) -> (CAST(x AS DOUBLE) - CAST(q AS DOUBLE) * maxabs / 127.0D)
                              * (CAST(x AS DOUBLE) - CAST(q AS DOUBLE) * maxabs / 127.0D)),
                    0D, (acc, v) -> acc + v)
                ELSE 0D END""").as("l2_err"))
      .orderBy("vec_id")

  /** IVF ANN served FROM THE int8 CODES — what a 100 TB deployment actually
    * runs: the serve path reads 4×-smaller quantized lists and reconstructs
    * values on the fly (`code · maxabs / 127`, IEEE-exact), never touching
    * the float corpus. Same untrained-IVF topology as `ivfTopK` (cell id is
    * the shuffle key); every arithmetic step is deterministic double ops on
    * dequantized values, so the DuckDB oracle reproduces ranks AND cosines
    * bit-for-bit. Recall vs the float serve is asserted in
    * QuantizedServeSpec. */
  def ivfQuantizedTopK(s: SparkSession, dir: String): DataFrame =
    // centroid and query sides: 16- and 8-row scans (vec_id predicates push
    // through quantCodes' projection chain into the parquet read),
    // quantize→dequantize in-plan — the same dequant values the build wrote
    probeServe(dequantized(quantCodes(s, dir).filter(col("vec_id") < 8)),
        quantCells(s, dir),
        publishedQuantLists(s, dir).withColumn("embedding", expr(DequantSql)))
      .orderBy("q_id", "rank")

  /** An int8 code row's dequantized value: `code · maxabs / 127`. */
  private val DequantSql = "transform(codes, q -> CAST(q AS DOUBLE) * maxabs / 127.0D)"

  /** `quantCodes` rows with `embedding` replaced by its dequantized value
    * and `nrm` its norm. */
  private def dequantized(codes: DataFrame): DataFrame =
    codes.withColumn("embedding", expr(DequantSql))
      .withColumn("nrm", expr(normSql("embedding")))

  /** The quantized serve's cells: the first-`Cells` dequantized vectors. */
  private def quantCells(s: SparkSession, dir: String): DataFrame =
    firstCells(dequantized(quantCodes(s, dir)))

  /** Published int8 CODE LISTS for the quantized serve: (vec_id, maxabs,
    * codes, nrm, cent_id) hive-partitioned by cell — the 4×-smaller
    * inverted lists a quantized vector store actually keeps on disk. The
    * build quantizes the corpus once, assigns each vector to its
    * first-`Cells` dequant centroid (the ivfTopK untrained discipline),
    * and stores codes + the dequant norm; the serve prunes to probed cell
    * directories and dequantizes ONLY those rows. Deterministic build →
    * identical bytes from any writer. */
  private[graft] def publishedQuantLists(s: SparkSession, dir: String): DataFrame =
    graft.etl.State.memo(s, graft.etl.State.root(s, "ivf", "qlists", dir, "embeddings")) { target =>
      val assigned = nearestCell(dequantized(quantCodes(s, dir)), quantCells(s, dir))
        .select(col("vec_id"), col("maxabs"), col("codes"), col("nrm"), col("cent_id"))
      graft.etl.Warehouse.publishPartitioned(s, target, assigned, "cent_id")
    }

  /** Distributed GRAM MATRIX of the embedding corpus (upper triangle):
    * G[i,j] = Σ_v x_v[i]·x_v[j] — the statistic PCA/whitening runs on
    * before IVF/quantization (SemDeDup-style pipelines whiten embeddings;
    * the d×d Gram is the only corpus-wide input that needs). Scale shape:
    * the (vec, dim, value) self-join streams n·d²/2 product rows through
    * whole-stage codegen, but partial aggregation collapses them to d²/2
    * PER PARTITION before the only exchange — the shuffle carries
    * O(d²·partitions), never O(n·d²). Each product is one IEEE multiply,
    * decimal-staged before the sum (dsum10's order-free exactness), so the
    * matrix is bit-identical on any engine or cluster size. */
  def gram(s: SparkSession, dir: String): DataFrame = {
    val x = t(s, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "xi")))
      .select(col("vec_id"), col("i").cast("long").as("i"),
        col("xi").cast("double").as("xi"))
    val y = x.select(col("vec_id"), col("i").as("j"), col("xi").as("xj"))
    x.join(y, Seq("vec_id")).filter(col("i") <= col("j"))
      .groupBy("i", "j")
      .agg(graft.Tables.dsum10(col("xi") * col("xj")).as("g"),
        count(lit(1)).as("n"))
      .orderBy("i", "j")
  }

  /** Per-dimension MEAN of the embedding corpus — the Gram matrix's
    * companion statistic (mean + Gram = covariance, the whitening inputs).
    * One explode + partial+final aggregate: the exchange carries d rows per
    * partition (Clustering.dimMeans). Sums are Tables.exactMean's 2^48
    * scaled integers, NOT a scale-10 decimal stage: raw embedding values (exact
    * multiples of 2^-43) land exactly on DECIMAL(·,10) half-way points,
    * where Spark rounds HALF_UP and DuckDB HALF_EVEN — the scaled integer
    * sum is tie-free by construction. The surfaced sum and mean are then
    * single correctly-rounded int64→double conversions and divisions. */
  def meanVector(s: SparkSession, dir: String): DataFrame =
    Clustering.dimMeans(t(s, dir, "embeddings"), Nil, "embedding")
      .select(col("pos").cast("long").as("i"), col("sum").as("sum_x"),
        col("n"), col("mean").as("mean_x"))
      .orderBy("i")

  /** COVARIANCE matrix of the embedding corpus (upper triangle), composed
    * from the two exact statistics: cov[i,j] = G[i,j]/n − mean_i·mean_j.
    * This is the whitening/PCA input itself (Gram and mean are its
    * sufficient statistics — computed in their own single-exchange passes
    * and joined here on the d-sized dimension axis, always a broadcast).
    * The surfaced value is two correctly-rounded IEEE ops (one divide, one
    * multiply, one subtract) on bit-exact inputs, so any engine computing
    * the same expression tree reproduces it bit-for-bit. Scale shape: both
    * statistic passes shuffle O(d²·partitions); this join moves d(d+1)/2 +
    * 2d rows — nothing corpus-sized. */
  def covariance(s: SparkSession, dir: String): DataFrame = {
    val g = gram(s, dir)
    val m = meanVector(s, dir).select(col("i"), col("mean_x"))
    val mi = m.select(col("i"), col("mean_x").as("mean_i"))
    val mj = m.select(col("i").as("j"), col("mean_x").as("mean_j"))
    g.join(broadcast(mi), "i").join(broadcast(mj), "j")
      .select(col("i"), col("j"),
        (col("g") / col("n").cast("double") - col("mean_i") * col("mean_j")).as("cov"),
        col("n"))
      .orderBy("i", "j")
  }

  /** WHITENED embeddings: per-dimension z-normalization (x−μ)/σ — the
    * input transform SemDeDup-style pipelines apply before clustering so
    * no dimension dominates the cosine. Needs only the DIAGONAL second
    * moment, so no d² Gram pass: one explode + partial-aggregated rollup
    * computes (exact mean, decimal-staged Σx², n) per dimension —
    * O(n·d) rows map-side-collapsed to d per partition. The d-row
    * statistic is driver-collected (corpus-independent metadata) and
    * applied as one codegen'd map stage; μ and σ reuse the meanVector /
    * Gram-diagonal numeric disciplines, so the DuckDB twin matches every
    * whitened coordinate bit-for-bit. */
  def whitenVecs(s: SparkSession, dir: String): DataFrame = {
    // one pass for both moments: μ is the exact mean, Σx² decimal-staged
    val st = t(s, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("i", "xi")))
      .select(col("i").cast("long").as("i"), col("xi").cast("double").as("xi"))
      .groupBy("i")
      .agg(exactMean(col("xi")).as("mu"),
        graft.Tables.dsum10(col("xi") * col("xi")).as("gii"),
        count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getLong(0), (r.getDouble(1), r.getDouble(2), r.getLong(3))))
      .sortBy(_._1).map(_._2)
    val mu = st.map(_._1)
    val sd = st.map { case (m, gii, n) => math.sqrt(gii / n.toDouble - m * m) }
    // μ/σ ride in as one broadcast row, not d plan literals (Tables
    // .withBroadcastArray — constant plan size at any dimensionality)
    graft.Tables.withBroadcastArray(
      graft.Tables.withBroadcastArray(t(s, dir, "embeddings"), "mu", mu.toSeq),
      "sd", sd.toSeq)
      .select(col("vec_id"),
        expr("zip_with(zip_with(embedding, mu, (x, m) -> CAST(x AS DOUBLE) - m), sd, (c, s) -> c / s)")
          .as("w"))
      .orderBy("vec_id")
  }

  /** Registered query form of `whitenVecs`: one (vec_id, i, w) row per
    * coordinate. Array columns crash the driver harness's pandas row-sort
    * (unhashable numpy arrays), and double→string rendering is not
    * engine-stable — exploding to scalar doubles keeps the compare
    * numeric and bit-exact. Row count is n·d, still a pure map stage. */
  def whiten(s: SparkSession, dir: String): DataFrame =
    whitenVecs(s, dir)
      .select(col("vec_id"), posexplode(col("w")).as(Seq("i", "w")))
      .select(col("vec_id"), col("i").cast("long").as("i"), col("w"))
      .orderBy("vec_id", "i")

  /** Power-iteration count for the top principal component. Fixed (not
    * convergence-tested) so the oracle can unroll the identical ten steps. */
  val PcaIters: Int = 10

  /** TRAIN the top principal component: covariance statistic (distributed,
    * the expensive exact-decimal Gram pass) → ten power iterations on the
    * d×d matrix driver-side. The statistic is CORPUS-INDEPENDENT O(d²)
    * metadata — the same tier as broadcast centroids, so collecting it is
    * not a scale hazard (unlike collecting rows). Every step is
    * order-fixed double arithmetic (ascending-j row sums, ascending-i
    * norms), so any engine replaying the same ten iterations reproduces
    * the component bit-for-bit. Returns d rows (i, pc). */
  def trainPc(s: SparkSession, dir: String): DataFrame = {
    val cv = covariance(s, dir).collect()
    val d = (cv.map(_.getLong(1)).max + 1).toInt
    val C = Array.ofDim[Double](d, d)
    cv.foreach { r =>
      val (i, j, c) = (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2))
      C(i)(j) = c; C(j)(i) = c
    }
    var v = Array.fill(d)(1.0)
    for (_ <- 1 to PcaIters) {
      val w = Array.tabulate(d) { i =>
        var acc = 0.0; var j = 0
        while (j < d) { acc += C(i)(j) * v(j); j += 1 }
        acc
      }
      var nn = 0.0; var i = 0
      while (i < d) { nn += w(i) * w(i); i += 1 }
      val nrm = math.sqrt(nn)
      v = w.map(_ / nrm)
    }
    import s.implicits._
    v.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toSeq.toDF("i", "pc")
  }

  /** Top-PC PROJECTION: every vector's coordinate along the corpus's first
    * principal component — the 1-D embedding PCA/whitening pipelines rank,
    * bucket, and debias by. Train-once/serve-many (the ivfTrainedTopK
    * discipline): the first call for a corpus runs the expensive covariance
    * pass, iterates, and PUBLISHES the d-row component through the
    * warehouse pointer commit (deterministic training → every writer
    * publishes identical bytes, last-writer-wins benign); every later call
    * reads the pointer and only pays the distributed projection — one
    * codegen'd ordered dot per vector, no statistic recomputation. The
    * DuckDB twin unrolls the same ten iterations and matches every score
    * bit-for-bit. */
  def pcaProject(s: SparkSession, dir: String): DataFrame = {
    val v = graft.etl.State.memo(s, graft.etl.State.root(s, "ivf", "pc", dir, "embeddings"))(
        graft.etl.Warehouse.publish(s, _, trainPc(s, dir)))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy(_._1).map(_._2)
    graft.Tables.withBroadcastArray(t(s, dir, "embeddings"), "pc", v.toSeq)
      .select(col("vec_id"), expr(dotSql("embedding", "pc")).as("score"))
      .orderBy("vec_id")
  }

  /** Neighbors kept per vector in the kNN graph. */
  val GraphK: Int = 3

  /** k-nearest-neighbor GRAPH over the LSH-blocked candidates: EVERY
    * vector's top-3 cosine neighbors among its bucket-mates — the all-rows
    * serve that clustering/SemDeDup-style pipelines consume, where
    * `bruteTopK`/`ivfTopK` answer a handful of query vectors. Reuses
    * `Dedup.embedPairCandidates` (corpus-derived plane count via the
    * manifest row count — no extra scan), so the N² term stays bucketed:
    * candidate pairs ≈ N·B/2 for target occupancy B, linear in N. The
    * symmetrization EXPLODES each pair into both directions in the same
    * pass (a union of the two orientations would plan the bucket self-join
    * twice — Catalyst does not share subtrees across union branches), and
    * the per-vector top-3 is a WindowGroupLimit on vec_id — no global
    * sort. Cosines are single IEEE divisions of fixed-order dot products —
    * bit-stable ranks (ties break on neighbor id). */
  def knnGraph(s: SparkSession, dir: String): DataFrame = {
    val planes = planesFor(graft.etl.TableStats.rowCount(s, dir, "embeddings"))
    val sym = Dedup.embedPairCandidates(s, dir, planes)
      .select(explode(array(
        struct(col("a.vec_id").as("src"), col("b.vec_id").as("dst"), col("cos")),
        struct(col("b.vec_id").as("src"), col("a.vec_id").as("dst"), col("cos")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.cos").as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("cos").desc, col("dst"))
    sym.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= GraphK)
      .select(col("src").as("vec_id"), col("rnk"), col("dst").as("n_id"), col("cos"))
      .orderBy("vec_id", "rnk")
  }

  /** Beam width for the graph-probe ANN search (> 10 so the final beam can
    * fill a top-10). */
  val BeamWidth: Int = 16

  /** Fixed expansion rounds (not convergence-tested, so the DuckDB twin
    * unrolls the identical rounds — the trainCentroids discipline). */
  val SearchIters: Int = 4

  /** Number of graph-search entry points, derived from the published graph
    * (see `entryNodes`) rather than hard-coded ids — a corpus that lacks
    * any particular id range still seeds a full frontier (VERDICT r7
    * missing-item 2). */
  val NEntries: Int = 4

  /** Corpus-derived entry points: the `NEntries` highest IN-degree nodes of
    * the published NN-descent graph (ties to the lower id) — hub nodes are
    * the best-connected places to start a walk, the HNSW entry-point
    * heuristic flattened. The degree rollup runs over the published graph
    * (N·DescentK rows, one partial-aggregated pass) and the result is
    * NEntries rows of metadata; deterministic in both engines (count desc,
    * id asc), so the DuckDB twin derives the identical seeds. */
  private[graft] def entryNodes(s: SparkSession, dir: String): DataFrame =
    topInDegree(publishedDescent(s, dir))

  /** The `NEntries` highest in-degree nodes of an edge frame (src, dst),
    * ties to the lower id, as `n_id` — the entry points of every beam walk
    * over that graph. */
  private[llm] def topInDegree(graph: DataFrame): DataFrame =
    graph.groupBy("dst").agg(count(lit(1)).as("deg"))
      .orderBy(col("deg").desc, col("dst"))
      .limit(NEntries)
      .select(col("dst").as("n_id"))

  /** Long-link coefficients: each node gets `LongLinkA.size` deterministic
    * pseudo-random out-links dst = (src·a + b) mod P mod N. The kNN edges
    * alone are NOT navigable — they form islands (bucket-mates of one LSH
    * bucket), so a walk seeded outside a query's island can never reach
    * it. The long links are the small-world shortcut layer (the NSW trick,
    * Malkov et al.): a deterministic pseudo-random graph is an expander,
    * so every island is a few hops from every entry point, and the kNN
    * layer then refines locally. Same integer arithmetic in both engines. */
  val LongLinkA: Seq[Long] = Seq(2654435761L, 40503L)
  val LongLinkB: Seq[Long] = Seq(1L, 7L)

  /** The long-link layer over the ids (`vec_id`) of `e`, modulus `n` (the
    * corpus size, or the base cut for a frozen base graph), SYMMETRIZED:
    * every link src → dst is emitted with its reverse dst → src, so a walk
    * can leave a node by the links that point at it. */
  private[llm] def longLinks(e: DataFrame, n: Long): DataFrame = {
    val links = e.select(col("vec_id").as("src"))
      .select(col("src"), explode(array(
        LongLinkA.zip(LongLinkB).map { case (a, b) =>
          (col("src") * lit(a) + lit(b)) % lit(TextHash.P) % lit(n)
        }: _*)).as("dst"))
      .filter(col("dst") =!= col("src"))
    links.unionByName(links.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** q_sim_graph_search: GRAPH-PROBE ANN — the flat cousin of HNSW/NSG
    * serving (Malkov & Yashunin 2016, public method): start each query at
    * fixed entry points and run `SearchIters` rounds of
    * expand-neighbors → exact-score → keep-the-best-`BeamWidth`, over the
    * PUBLISHED NN-descent working graph (degree `DescentK` — constructed
    * once by the `q_sim_nndescent` refinement and committed through the
    * warehouse pointer; the ivfTrainedTopK discipline) plus the long-link
    * layer for global navigability. The method family IVF/LSH/PQ don't
    * cover: search cost is rounds × beam × degree GRAPH HOPS per query —
    * corpus-size-independent once the graph exists, which is why
    * graph-based serving wins at high recall targets.
    *
    * Spark shapes: the serve READS the published SERVE graph — descent ∪
    * symmetrized long links, src-CLUSTERED on disk (publishedServeGraph
    * uses Warehouse.publishClustered, so every part-file owns a narrow
    * src range with selective row-group statistics) — and runs the
    * driver-state walk (`beamServe`): each round is one In(src)-pruned
    * graph read and one In(vec_id)-pruned corpus scoring read, nothing
    * else — no construction anywhere in the serve after the first call,
    * no shuffle, no read bounded by N. Every score is the fixed-order
    * cosine; ties break on neighbor id, so the beam evolution is fully
    * deterministic and the DuckDB twin replays the identical rounds
    * bit-for-bit. */
  def graphSearchTopK(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(s, dir)
    beamServe(e, queries(e), publishedServeGraph(s, dir), entryNodes(s, dir))
  }

  /** Published SERVE-graph location (a state-store root). */
  private[graft] def serveGraphTarget(s: SparkSession, dir: String): String =
    graft.etl.State.root(s, "ivf", "nndserve", dir, "embeddings")

  /** The complete SERVE graph — refined descent layer (local quality,
    * degree DescentK) ∪ symmetrized long-link layer (global navigability;
    * see LongLinkA) — materialized src-CLUSTERED once and read by every
    * serve round through the pointer commit. Until round 8 the long-link
    * branches were recomputed inside every expansion round, and the
    * REVERSED branch's frontier filter lands on the exploded (generated)
    * column — not pushable below the Generate — so each of the
    * `SearchIters` rounds paid a full corpus scan + explode (VERDICT r8
    * item 1: the graph-serve regression's structural half). Publishing the
    * union once makes the round's In(src) frontier filter prune ONE
    * clustered scan to the row groups owning the frontier's sources; the
    * long links cost 2N extra rows of graph storage — the same linear tier
    * as the descent layer itself. Long links key on the dense fixture ids;
    * a production corpus uses its dense row rank. Duplicate edges (a long
    * link that is also a kNN edge) collapse in the serve's candidate-level
    * distinct, exactly as the unpublished union did. */
  private[graft] def publishedServeGraph(s: SparkSession, dir: String): DataFrame =
    graft.etl.State.memo(s, serveGraphTarget(s, dir)) { target =>
      val n = graft.etl.TableStats.rowCount(s, dir, "embeddings")
      graft.etl.Warehouse.publishClustered(s, target,
        publishedDescent(s, dir).select("src", "dst")
          .unionByName(longLinks(withNorm(s, dir), n)),
        "src", DescentFiles)
    }.select("src", "dst")

  /** The QUERY-SAMPLE beam serve over an arbitrary (corpus, queries,
    * graph, entries) — shared by the standing full-corpus serve above and
    * the freshness serve after a graph insert (GraphMaintenance
    * .upsertSearch, whose graph unions the inserted delta edges). The walk
    * state (frontier, beam) is Q·BeamWidth rows BY CONTRACT — this serve
    * is for METADATA-SIZED query sets (the 8-query sample); batch-
    * cardinality walks use GraphMaintenance.insert's plain-join expansion
    * instead — so the state lives on the DRIVER and each round runs
    * exactly two single-stage pruned Spark jobs:
    *   1. expansion: graph scan pruned to In(src ∈ frontier ids) — the
    *      src-clustered published layout serves it from just the row
    *      groups whose min/max range covers those ids;
    *   2. scoring: corpus scan pruned to In(vec_id ∈ candidate ids),
    *      broadcast-joined to the Q query rows — only the ≤ Q·Beam·degree
    *      candidate vectors ever decode.
    * No shuffle, no window exchange, no per-round checkpoint: the round-8
    * shape kept the frontier as a checkpointed frame and paid a window
    * sort + localCheckpoint + (worse) a FULL corpus scan per scoring round
    * — VERDICT r8 item 1. Driver-side ranking over ≤2k rows uses the
    * identical total order as the window it replaces ((cos desc, n_id
    * asc) on IEEE doubles), so the beam evolution — and the DuckDB twin's
    * unrolled window replay — stays bit-identical. */
  private[llm] def beamServe(e: DataFrame, q: DataFrame, graph: DataFrame,
                             entryNds: DataFrame): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    // score a driver-held candidate pair set; returns (q_id, n_id, cos)
    // rows — ≤ Q·Beam·degree of them, metadata tier. Pairs whose n_id has
    // no corpus row (a long link into a hole of a sparse id space) drop in
    // the inner join, exactly as the plan-side form did.
    def score(pairs: Seq[(Long, Long)]): Seq[(Long, Long, Double)] = {
      val ids = pairs.map(_._2).distinct
      pairs.toDF("q_id", "n_id")
        .join(e.filter(col("vec_id").isInCollection(ids))
          .select(col("vec_id").as("n_id"), col("embedding").as("n_emb"),
            col("nrm").as("n_nrm")), "n_id")
        .join(broadcast(q), "q_id")
        .withColumn("cos", expr(dotSql("q_emb", "n_emb")) /
          (col("q_nrm") * col("n_nrm")))
        .select("q_id", "n_id", "cos")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    }
    // keep the best k per query — (cos desc, n_id asc), the exact total
    // order of the row_number window this replaces. Scala's total Double
    // ordering distinguishes -0.0 < 0.0 where SQL's ORDER BY does not
    // (ADVICE r9): map a signed zero to +0.0 before negating so an exactly
    // orthogonal pair ranks by the n_id tie-break, not by sign-of-zero.
    def sortKey(t: (Long, Long, Double)): (Double, Long) =
      (if (t._3 == 0.0) 0.0 else -t._3, t._2)
    def beam(scored: Seq[(Long, Long, Double)], k: Int): Seq[(Long, Long, Double)] =
      scored.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (_, rs) =>
        rs.sortBy(sortKey).take(k)
      }
    val entryIds = entryNds.collect().map(_.getLong(0)).toSeq
    val qIds = q.select("q_id").collect().map(_.getLong(0)).toSeq
    var frontier = beam(score(
      for { qi <- qIds; en <- entryIds if en != qi } yield (qi, en)), BeamWidth)
    for (_ <- 1 to SearchIters) {
      val fIds = frontier.map(_._2).distinct
      // one-hop adjacency of the frontier's ids: the In(src)-pruned graph
      // read (row-group pruning against the src-clustered layout)
      val adj = graph.filter(col("src").isInCollection(fIds))
        .select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      val cand = (frontier.map(t => (t._1, t._2)) ++
        frontier.flatMap { case (qi, ni, _) =>
          adj.getOrElse(ni, Seq.empty).map(d => (qi, d)) })
        .filter(p => p._2 != p._1).distinct
      frontier = beam(score(cand), BeamWidth)
    }
    // final per-query top-10 over the Q·BeamWidth beam — already ranked by
    // the beam order, emitted as a local frame
    beam(frontier, 10)
      .groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (_, rs) =>
        rs.sortBy(sortKey).zipWithIndex
          .map { case ((qi, ni, c), i) => (qi, ni, c, (i + 1).toLong) }
      }
      .toDF("q_id", "n_id", "cos", "rank")
      .orderBy("q_id", "rank")
  }

  /** NN-descent refinement rounds (fixed, so the DuckDB twin unrolls the
    * identical rounds). */
  val DescentIters: Int = 4

  /** Working degree DURING refinement: NN-descent converges by carrying a
    * larger candidate pool than it finally emits (with the emit-degree 3
    * the neighbor-of-neighbor signal is too thin — measured overlap with
    * the true kNN graph stalled at 0.06 after 2 rounds; at working degree
    * 8 it reaches the floor in NnDescentSpec). The final graph keeps the
    * top `GraphK` per node, the q_sim_knn_graph contract. */
  val DescentK: Int = 8

  /** q_sim_nndescent: NN-DESCENT graph construction (Dong, Moses, Li,
    * WWW 2011 — public method): start from the deterministic pseudo-random
    * long-link graph and run `DescentIters` rounds of "a neighbor of my
    * neighbor is probably my neighbor" — candidates(v) = current edges ∪
    * reversed edges ∪ two-hop edges, exact-scored, keep the best `GraphK`
    * per node. This is the BUILD half of the graph-ANN family (the LSH
    * kNN graph is bucket-blocked and misses cross-bucket neighbors;
    * NN-descent converges toward the TRUE kNN graph from any connected
    * init): `q_sim_graph_search` serves, this constructs.
    *
    * Scale shapes: per round the candidate frame is ≤ (2d)²+2d rows per
    * node for degree d = GraphK+links — LINEAR in N with a constant
    * factor; scoring joins the corpus twice on (src, dst) id keys (two
    * bucket shuffles, nothing quadratic); the graph state is N·GraphK
    * rows, checkpointed per round by `graft.Rounds` (iterated corpus-sized
    * state). Every score is the fixed-order cosine with ties to the lower
    * neighbor id, so the refinement trajectory is fully deterministic. */
  def nnDescent(s: SparkSession, dir: String): DataFrame =
    publishedDescent(s, dir)
      .filter(col("rnk") <= GraphK)
      .select(col("src").as("vec_id"), col("rnk"), col("dst").as("n_id"), col("cos"))
      .orderBy("vec_id", "rnk")

  /** Part-files for the clustered descent-graph publish. At the fixture
    * tiers a handful keeps every file's src range narrow; a deployment
    * sizes this from graph bytes / the 128 MB–1 GB object-store file
    * target (the Warehouse.compact sizing rule). */
  val DescentFiles: Int = 4

  /** Published-graph location (a state-store root). */
  private[graft] def descentTarget(s: SparkSession, dir: String): String =
    graft.etl.State.root(s, "ivf", "nnd", dir, "embeddings")

  /** The refined WORKING graph (degree `DescentK`), train-once/serve-many
    * through the warehouse pointer commit — the ivfTrainedTopK discipline:
    * the first call for a corpus runs the NN-descent rounds and publishes
    * an immutable version (deterministic refinement → every writer
    * publishes identical bytes, last-writer-wins benign); every later
    * call — the emit query, the beam-search serve, bench reps 2+ — reads
    * the pointer and never refines again. Published CLUSTERED on `src`
    * (range-partitioned files, sorted within — Warehouse.publishClustered)
    * so the serve's per-round In(src) frontier filter prunes to the row
    * groups owning those ids instead of scanning the whole graph (VERDICT
    * r7 missing-item 3: the bucketed-serve posture as code, not comment). */
  private[graft] def publishedDescent(s: SparkSession, dir: String): DataFrame =
    graft.etl.State.memo(s, descentTarget(s, dir))(graft.etl.Warehouse.publishClustered(s, _,
        descentGraph(s, dir, DescentIters), "src", DescentFiles))
      .select("src", "dst", "cos", "rnk")

  /** The refined graph after `iters` rounds (exposed so the spec can
    * measure the per-round quality climb). */
  private[graft] def descentGraph(s: SparkSession, dir: String,
                                  iters: Int): DataFrame =
    descentGraphOn(withNorm(s, dir),
      graft.etl.TableStats.rowCount(s, dir, "embeddings"), iters)

  /** The NN-descent rounds over an ARBITRARY (vec_id, embedding, nrm)
    * corpus frame with `n` dense ids — shared by the full-corpus
    * construction above and the BASE-graph build of the graph-maintenance
    * path (GraphMaintenance), which freezes the graph before late batches
    * arrive. */
  private[llm] def descentGraphOn(e: DataFrame, n: Long,
                                  iters: Int): DataFrame = {
    val s = e.sparkSession
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
    // the best `DescentK` scored edges per src
    def keepBest(edges: DataFrame): DataFrame =
      edges.join(e.select(col("vec_id").as("src"), col("embedding").as("se"),
          col("nrm").as("sn")), "src")
        .join(e.select(col("vec_id").as("dst"), col("embedding").as("de"),
          col("nrm").as("dn")), "dst")
        .withColumn("cos", expr(dotSql("se", "de")) / (col("sn") * col("dn")))
        .select("src", "dst", "cos")
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= DescentK)
    graft.Rounds.run(keepBest(longLinks(e, n).distinct()), iters) { g =>
      val base = g.select("src", "dst")
        .unionByName(g.select(col("dst").as("src"), col("src").as("dst")))
      val twoHop = base.join(
          base.select(col("src").as("mid"), col("dst").as("dst2")),
          col("dst") === col("mid"))
        .select(col("src"), col("dst2").as("dst"))
      keepBest(base.unionByName(twoHop)
        .filter(col("dst") =!= col("src")).distinct())
    }
  }

  /** q_sim_recall: the recall@10 audit every real ANN deployment runs —
    * trained-IVF results measured against the exact brute-force top-10 per
    * query. Both sides are the already-declared deterministic queries, so
    * the audit itself is exactly reproducible (and oracle-checkable): the
    * left join keys on (query, neighbor), hit counts are integers, and the
    * recall is one IEEE division of two exact counts. At scale this runs on
    * a SAMPLE of queries (here: the 8 fixture queries) against a
    * brute-forced slice — recall estimation never needs the full corpus
    * brute-forced. */
  def recallIvf(s: SparkSession, dir: String): DataFrame =
    recallOf(s, dir, Rankings.ivf(s, dir))

  /** q_sim_graph_recall / q_sim_binary_recall: the recallIvf audit over
    * the graph-probe and binary serve paths — every value is an integer
    * count or one IEEE division, so serve-quality DRIFT (a broken graph
    * publish, a signature regression) fails the driver's hash gate
    * mechanically, the `_bound`-twin discipline applied to ANN recall. */
  def recallGraph(s: SparkSession, dir: String): DataFrame =
    recallOf(s, dir, Rankings.graph(s, dir))

  def recallBinary(s: SparkSession, dir: String): DataFrame =
    recallOf(s, dir, Rankings.binary(s, dir))

  /** Recall@10 of a served ranking vs the PUBLISHED exact cosine top-10
    * (Rankings.exactCos — the audits treat rankings as input evidence,
    * VERDICT r11 item 1): a Q·10 ⋈ Q·10 metadata join. */
  private[llm] def recallOf(s: SparkSession, dir: String,
                            approxTopK: DataFrame): DataFrame =
    Ranking.recall(Rankings.exactCos(s, dir).select(col("q_id"), col("n_id")),
      approxTopK, "q_id")
}
