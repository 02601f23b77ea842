package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** Contrastive-training pair mining over the embedding corpus — the stage a
  * training-data pipeline runs between dedup and dataloader export when the
  * downstream model learns from (anchor, positive, negative) supervision
  * (public recipes: FaceNet's semi-hard triplet mining, Schroff et al. 2015;
  * SimCSE/DPR-style hard-negative selection). The reference has no analog
  * (its pipeline stops at warehouse loads, coininsights.py:115-161); this is
  * part of the LLM-pipeline extension surface.
  *
  * Scale shape (both queries): the anchor set is a small broadcast frame
  * (the 8 sample queries, same convention as the ANN serve family), the
  * corpus scan is embarrassingly parallel, and every per-anchor ranking runs
  * through the `top_structs` k-bounded heap aggregate
  * (Ranking.topKPerGroup) — the exchange carries anchors×k rows, never the
  * anchors×N candidate frame. At 100 TB the exact scan becomes the
  * IVF-served candidate stage (`Similarity.ivfTrainedTopK`'s published
  * inverted lists) with these same label predicates; the exact form here is
  * the oracle-checkable baseline, exactly like `bruteTopK` vs the ANN
  * serves.
  */
object Mining {

  /** Near-duplicate ceiling for negative candidates: a different-label
    * vector scoring ABOVE this cosine is more plausibly an unlabeled
    * duplicate than a true negative — the false-negative trap of
    * contrastive mining (mining it as a negative teaches the model to
    * separate copies). Candidates above the ceiling are excluded; the
    * threshold matches the dedup family's near-dup band. */
  val NearDupCeiling = 0.95

  /** Hard negatives kept per anchor. */
  val NegK = 10

  /** Semi-hard negatives kept per anchor in the triplet query. */
  val TripletNegK = 5

  /** Corpus frame shared by both queries: id, label (as BIGINT for both
    * engines), embedding, L2 norm. */
  private def corpus(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(
      col("vec_id"), col("label").cast("long").as("label"), col("embedding"),
      expr(Similarity.normSql("embedding")).as("nrm"))

  private def anchors(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < 8).select(
      col("vec_id").as("q_id"), col("label").as("q_label"),
      col("embedding").as("q_emb"), col("nrm").as("q_nrm"))

  /** q_mine_hard_negatives: for each anchor, the NegK nearest-by-cosine
    * vectors carrying a DIFFERENT label, capped below the near-dup ceiling
    * — the hardest true negatives, the contrastive batch construction
    * signal. One linear corpus scan against the broadcast anchor frame;
    * the label inequality is part of the join predicate so same-label rows
    * (including the anchor itself) never enter the candidate frame. The
    * post-rank label lookup broadcasts the anchors×k winner frame against
    * the corpus — a broadcast hash join, no shuffle. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val e = corpus(s, dir)
    val q = anchors(e)
    val cands = e.join(broadcast(q), col("label") =!= col("q_label"))
      .withColumn("cos",
        expr(Similarity.dotSql("q_emb", "embedding")) / (col("q_nrm") * col("nrm")))
      .filter(col("cos") <= NearDupCeiling)
      .select("q_id", "vec_id", "cos")
    labeled(e, Ranking.topKPerGroup(cands, "q_id", "cos", "vec_id",
        NegK, asc = false, "cos", "n_id"))
  }

  /** The miners' shared tail: each ranked (q_id, n_id) negative with both
    * labels — the anchors×k winner frame broadcast against the corpus, no
    * shuffle. */
  private def labeled(e: DataFrame, ranked: DataFrame): DataFrame =
    e.select(col("vec_id").as("n_id"), col("label").as("n_label"))
      .join(broadcast(ranked.join(
        broadcast(anchors(e).select(col("q_id"), col("q_label"))), "q_id")), "n_id")
      .select("q_id", "q_label", "n_id", "n_label", "cos", "rank")
      .orderBy("q_id", "rank")

  /** q_mine_triplets: FaceNet-style SEMI-HARD triplet mining. Per anchor:
    * the top-1 same-label vector is the positive (excluding the anchor
    * itself); negatives are different-label vectors LESS similar than the
    * positive (cos < pos_cos — the semi-hard band: violating the margin is
    * allowed, inverting the order is not, which is what keeps triplet
    * training stable in the published recipe), ranked by cosine desc,
    * TripletNegK kept. `margin = pos_cos − neg_cos` is one IEEE
    * subtraction of two already-oracle-stable doubles.
    *
    * Two linear corpus scans (positive pass, negative pass) — each against
    * a broadcast metadata frame (anchors, then anchors+their positives);
    * nothing corpus-sized ever shuffles, both rankings are the k-bounded
    * heap. An anchor whose every different-label candidate beats its
    * positive yields fewer (possibly zero) triplets — correct by the
    * semi-hard definition, not a bug. */
  def triplets(s: SparkSession, dir: String): DataFrame = {
    val e = corpus(s, dir)
    val q = anchors(e)
    def scored(pred: org.apache.spark.sql.Column): DataFrame =
      e.join(broadcast(q), pred)
        .withColumn("cos",
          expr(Similarity.dotSql("q_emb", "embedding")) / (col("q_nrm") * col("nrm")))
        .select("q_id", "vec_id", "cos")
    val pos = Ranking.topKPerGroup(
        scored(col("label") === col("q_label") && col("vec_id") =!= col("q_id")),
        "q_id", "cos", "vec_id", 1, asc = false, "pos_cos", "pos_id")
      .select("q_id", "pos_id", "pos_cos")
    val negCands = scored(col("label") =!= col("q_label"))
      .join(broadcast(pos), "q_id")
      .filter(col("cos") < col("pos_cos"))
      .select("q_id", "vec_id", "cos")
    Ranking.topKPerGroup(negCands, "q_id", "cos", "vec_id",
        TripletNegK, asc = false, "neg_cos", "neg_id")
      .join(broadcast(pos), "q_id")
      .withColumn("margin", col("pos_cos") - col("neg_cos"))
      .select("q_id", "pos_id", "pos_cos", "neg_id", "neg_cos", "margin", "rank")
      .orderBy("q_id", "rank")
  }

  /** q_mine_hard_negatives_ivf: the STORE-SHAPED miner — hard negatives
    * served from the PUBLISHED IVF inverted lists (the filtered-ANN
    * pattern: the label payload lives IN the lists, so the predicate
    * applies during the pruned scan, never via a corpus join). Each anchor
    * probes its NProbe best cells; the scan reads ONLY those cell
    * directories (the ivfTrainedTopK pruning machinery); candidates are
    * label-filtered and ceiling-capped in the same pass, ranked by the
    * k-bounded heap. At fixture scale this approximates the exact miner
    * (`mineRecall` audits the gap, the bruteTopK-vs-IVF discipline); at
    * 100 TB it is the only shape that works — the exact miner's full scan
    * is the ground-truth SAMPLE path, this is the serve. Output schema
    * matches `hardNegatives` exactly. */
  def hardNegativesIvf(s: SparkSession, dir: String): DataFrame = {
    val e = corpus(s, dir)
    labeled(e, Similarity.probeServe(e.filter(col("vec_id") < 8),
      Similarity.centroids(s, dir), Similarity.publishedAssignments(s, dir),
      carry = Seq(col("label").as("q_label")),
      keep = col("label") =!= col("q_label"),
      cap = Some(col("cos") <= NearDupCeiling), k = NegK))
  }

  /** q_mine_recall: recall@NegK of the IVF-served miner against the exact
    * miner, per anchor — the serve-quality audit that makes the
    * store-shaped path honest (the q_sim_recall discipline applied to
    * mining: integer hit counts, one IEEE division, so quality drift
    * fails the driver's hash gate mechanically). */
  def mineRecall(s: SparkSession, dir: String): DataFrame =
    Ranking.recall(hardNegatives(s, dir).select(col("q_id"), col("n_id")),
      hardNegativesIvf(s, dir), "q_id")
}
