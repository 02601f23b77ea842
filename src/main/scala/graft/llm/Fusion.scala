package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ENSEMBLE RETRIEVAL — reciprocal-rank fusion (Cormack, Clarke &
  * Büttcher, SIGIR 2009, public method: score(d) = Σ 1/(k + rank_i(d))
  * over the rankers that returned d, k = 60) across the engine's three
  * independently-published index families: the trained IVF serve, the
  * graph-probe beam serve, and the binary sign-bit serve. The production
  * rationale is recall insurance: each family misses DIFFERENT neighbors
  * (cell-boundary losses vs islanding vs quantization), so a rank-level
  * consensus recovers results any single index drops — without touching
  * raw scores, which are not comparable across families (cosine vs
  * hamming-shortlisted cosine at different candidate pools).
  *
  * Spark shapes: the three serves are the ALREADY-PUBLISHED index reads
  * (nothing builds here; each serve keeps its own pruned plan) and emit
  * Q·10 rows each, so the fusion itself is metadata-tier — two
  * full-outer joins on (q_id, n_id) coalescing the three rank columns,
  * one fixed-order RRF sum, a Q·≤30-row ranking window. Determinism:
  * ranks are exact integers, each 1/(k+rank) is one correctly-rounded
  * IEEE division, and the three terms add in fixed textual order
  * (ivf + graph + binary) in BOTH engines — bit-identical, so the fused
  * ranking hash-checks like every other serve. */
object Fusion {

  /** The RRF smoothing constant — k = 60 as published (Cormack et al.
    * found the method insensitive to it; keeping the canonical value
    * makes the scores comparable to the literature's). */
  val FusionK = 60

  /** The RRF fold over three ALREADY-SERVED member rankings — extracted so
    * callers that also need the member frames (the rank-quality audit)
    * fuse the SAME frames instead of re-running each serve (the graph
    * member's beam walk executes at frame-construction time, so a second
    * fusedTopK call would pay it twice). */
  private[llm] def fuseOf(ivf: DataFrame, graph: DataFrame,
                          bin: DataFrame): DataFrame = {
    def side(df: DataFrame, nm: String): DataFrame =
      df.select(col("q_id"), col("n_id"), col("rank").as(nm))
    val j = side(ivf, "r_ivf")
      .join(side(graph, "r_graph"), Seq("q_id", "n_id"), "full_outer")
      .join(side(bin, "r_bin"), Seq("q_id", "n_id"), "full_outer")
    val w = Window.partitionBy("q_id").orderBy(col("rrf").desc, col("n_id"))
    j.withColumn("rrf", expr(
        s"coalesce(CAST(1 AS DOUBLE) / ($FusionK + r_ivf), 0D) + " +
          s"coalesce(CAST(1 AS DOUBLE) / ($FusionK + r_graph), 0D) + " +
          s"coalesce(CAST(1 AS DOUBLE) / ($FusionK + r_bin), 0D)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select("q_id", "n_id", "rrf", "rank")
      .orderBy("q_id", "rank")
  }

  /** q_sim_fused: RRF top-10 per sample query over the three families'
    * served top-10s — read from the PUBLISHED per-fixture rankings
    * (Rankings, VERDICT r11 item 1): the ensemble consumes member
    * rankings as evidence, it does not own their serve plans, so the
    * members execute once per fixture (whoever publishes first) and every
    * fusion afterwards is three Q·10 parquet reads + the metadata-tier
    * RRF joins. The member serve plans stay benchmarked by their own
    * standing queries (q_sim_ivf_trained / q_sim_graph_search /
    * q_sim_binary_topk). */
  def fusedTopK(s: SparkSession, dir: String): DataFrame =
    fuseOf(Rankings.ivf(s, dir), Rankings.graph(s, dir), Rankings.binary(s, dir))

  /** q_sim_fused_recall: the ensemble's recall@10 audit vs the exact
    * cosine top-10 — published next to the member families' audits so the
    * consensus win (or loss) is an oracle-checked number, not a claim. */
  def recallFused(s: SparkSession, dir: String): DataFrame =
    Similarity.recallOf(s, dir, fusedTopK(s, dir))

  /** q_sim_fused_upsert: the ensemble's FRESHNESS serve (VERDICT r9
    * item 6) — RRF over the three families' UPSERT-AWARE serves instead
    * of their base serves. The base fusion goes stale in a subtle way the
    * members don't: after an add, each family serves the late batch, but
    * a fusion of the BASE serves silently drops it — the members disagree
    * with the ensemble about corpus coverage. This serve closes that gap:
    * all three inputs read their base ∪ delta snapshots (each O(batch)
    * add, no rebuild anywhere), so `is_new` neighbors flow through the
    * rank consensus like any other evidence. All three families share the
    * embeddings cut (Segments.cut), so the flag is one comparison on the
    * fused output. Fusion cost is unchanged: two full-outer joins on
    * Q·10 frames and a Q·≤30 window — metadata-tier. */
  def fusedUpsertTopK(s: SparkSession, dir: String): DataFrame = {
    val cut = Segments.cut(s, dir, "embeddings")
    // the UPSERT rankings are distinct published artifacts from the base
    // ones (they carry the late batch) — the variant key keeps this
    // freshness serve from ever reading a stale base ranking
    Segments.withFlag(fuseOf(Rankings.ivfUpsert(s, dir),
        Rankings.graphUpsert(s, dir),
        Rankings.binaryUpsert(s, dir)), "n_id", cut)
      .select("q_id", "n_id", "rrf", "rank", "is_new")
      .orderBy("q_id", "rank")
  }

  /** q_sim_fused_sweep: the ensemble ABLATION — recall@10 of the RRF
    * consensus at each member-set PREFIX (ivf; ivf+graph;
    * ivf+graph+binary), the marginal-contribution curve an ensemble
    * publishes next to its operating point (is the third index paying
    * for its serve cost?). Every member ranking is Q·10 rows of metadata,
    * so the three fusions fold on the DRIVER (the beamServe discipline)
    * after one run of each serve + one exact side: absent-member terms
    * add an explicit 0.0 — exact identity on finite doubles — so the
    * k-member sum equals the twin's fixed-order coalesce chain
    * bit-for-bit. */
  /** The three member rankings localized to the driver (Q·10 rows each —
    * metadata tier, the beamServe discipline), in the FIXED member order
    * every fusion sums in: ivf, graph, binary. Shared by the ablation
    * sweep and the weighted ensemble. */
  private def memberRankings(s: SparkSession, dir: String): Seq[Seq[(Long, Long, Long)]] = {
    // driver-fold contract (VERDICT r11 item 6): Q·10 rows per member BY
    // CONTRACT — fail loudly if an eval set ever becomes corpus-derived
    def localize(df: DataFrame): Seq[(Long, Long, Long)] = {
      val rows = df.select("q_id", "n_id", "rank").collect()
      require(rows.length <= HybridQueries * 10,
        s"fusion driver fold expects <= ${HybridQueries * 10} rows, got ${rows.length}")
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    Seq(
      localize(Rankings.ivf(s, dir)),
      localize(Rankings.graph(s, dir)),
      localize(Rankings.binary(s, dir)))
  }

  /** Exact cosine top-10 pairs as a driver set (Q·10 — metadata tier),
    * from the published ground-truth ranking. */
  private def exactPairs(s: SparkSession, dir: String): Set[(Long, Long)] = {
    val rows = Rankings.exactCos(s, dir).select("q_id", "n_id").collect()
    require(rows.length <= HybridQueries * 10,
      s"fusion driver fold expects <= ${HybridQueries * 10} exact rows, got ${rows.length}")
    rows.map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  def fusedSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val members = memberRankings(s, dir)
    val exact = exactPairs(s, dir)
    val rows = (1 to members.length).map { k =>
      val ms = members.take(k)
      val pairs = ms.flatMap(_.map(t => (t._1, t._2))).distinct
      val rankOf = ms.map(_.map(t => (t._1, t._2) -> t._3).toMap)
      val fused = pairs
        .map { p =>
          // fixed member order, absent terms contribute an explicit 0.0 —
          // the identical left-assoc sum as the twin's coalesce chain
          val score = rankOf.foldLeft(0.0) { (acc, m) =>
            acc + m.get(p).map(r => 1.0 / (FusionK + r)).getOrElse(0.0)
          }
          (p._1, p._2, score)
        }
        .groupBy(_._1).toSeq.flatMap { case (_, rs) =>
          rs.sortBy(t => (-t._3, t._2)).take(10)
        }
      val hits = fused.count(t => exact.contains((t._1, t._2)))
      (k.toLong, exact.size.toLong, hits.toLong,
        hits.toDouble / exact.size.toDouble)
    }
    rows.toDF("n_members", "n_exact", "n_hit", "recall")
      .orderBy("n_members")
  }

  /** q_sim_fused_weighted: the MEASUREMENT-DRIVEN ensemble (VERDICT r9
    * item 8) — close the loop the ablation opened: q_sim_fused_sweep
    * MEASURES that a member can dilute the consensus; this operator acts
    * on the measurement at serve time, the same monitor→response pattern
    * as the retrain trigger. Protocol: on the held-out TUNE half of the
    * sample queries (q_id even — a deterministic split, the q_split
    * discipline), compute each member's LEAVE-ONE-OUT marginal
    * contribution (hits@10 of the full fusion vs hits@10 with that member
    * zeroed); a member whose removal STRICTLY improves tune hits is
    * dropped from serving; ties keep (don't churn the serving config on
    * noise). If every member were dropped the decision degenerates — fall
    * back to serving all three (documented guard). The serve is then the
    * standard fixed-order RRF over ALL queries with dropped members
    * contributing an explicit 0.0 term (exact identity on finite doubles,
    * the fusedSweep discipline — the k-member sum equals the twin's CASE
    * chain bit-for-bit). Everything folds on the driver over Q·10
    * metadata rows after one run of each serve + one exact side; the
    * `kept` column publishes the serving decision next to the ranking. */
  def fusedWeighted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val members = memberRankings(s, dir)
    val exact = exactPairs(s, dir)
    val rankOf = members.map(_.map(t => (t._1, t._2) -> t._3).toMap)
    val allPairs = members.flatMap(_.map(t => (t._1, t._2))).distinct
    // fuse with a keep mask: the pairs universe stays all three members'
    // (a dropped member's exclusive pairs score 0.0 and can never reach a
    // top-10 that has >= 10 positively-scored rows — same frame as the
    // twin's single three-way join), terms add in fixed order
    def fuseTop10(keep: Seq[Boolean],
                  qFilter: Long => Boolean): Seq[(Long, Long, Double)] =
      allPairs.filter(p => qFilter(p._1))
        .map { p =>
          val score = rankOf.zip(keep).foldLeft(0.0) { case (acc, (m, k)) =>
            acc + (if (k) m.get(p).map(r => 1.0 / (FusionK + r)).getOrElse(0.0)
                   else 0.0)
          }
          (p._1, p._2, score)
        }
        .groupBy(_._1).toSeq.flatMap { case (_, rs) =>
          rs.sortBy(t => (-t._3, t._2)).take(10)
        }
    def hits(t: Seq[(Long, Long, Double)]): Int =
      t.count(x => exact.contains((x._1, x._2)))
    val tune = (q: Long) => q % 2 == 0
    val hAll = hits(fuseTop10(Seq(true, true, true), tune))
    val raw = (0 until members.length).map { m =>
      hAll >= hits(fuseTop10(Seq.tabulate(members.length)(_ != m), tune))
    }
    val keep = if (raw.exists(identity)) raw
               else Seq.fill(members.length)(true)
    val keptStr = Seq("ivf", "graph", "bin").zip(keep)
      .filter(_._2).map(_._1).mkString(",")
    fuseTop10(keep, _ => true)
      .groupBy(_._1).toSeq.sortBy(_._1)
      .flatMap { case (_, rs) =>
        rs.sortBy(t => (-t._3, t._2)).zipWithIndex
          .map { case ((qi, ni, c), i) => (qi, ni, c, (i + 1).toLong, keptStr) }
      }
      .toDF("q_id", "n_id", "rrf", "rank", "kept")
      .orderBy("q_id", "rank")
  }

  /** Hybrid query-term budget and sample-query count (the established
    * 8-query serve contract; doc_id ≡ vec_id in the corpus, so a sample
    * doc is both a text query and an embedding query). */
  val HybridQTerms = 4
  val HybridQueries = 8

  /** The LEXICAL tower's own top-10 per sample query, from the published
    * index — extracted from hybridTopK so the tower-ablation sweep serves
    * the SAME frame the hybrid fuses. */
  private[llm] def lexTopK(s: SparkSession, dir: String): DataFrame =
    lexTower(s, dir, LexIndex.vocab(s, dir), LexIndex.postings(s, dir),
      LexIndex.stats(s, dir))

  /** THE lexical tower — one body over a resolved (vocab, postings, stats)
    * triple: the published index or the merged base ∪ delta snapshot
    * (LexMaintenance.merged). The scored frame is the query terms' POSTING
    * LISTS (a literal IN over the token-clustered postings), never
    * doc×vocab and never a corpus tokenize; df comes from the dictionary
    * slice the terms were selected with (equal to the base postings'
    * denormalized df; the only live df for a snapshot); per-(query, doc)
    * BM25 sums are decimal-staged (order-free, exact). */
  private def lexTower(s: SparkSession, dir: String, vocab: DataFrame,
                       post: DataFrame, stats: DataFrame): DataFrame = {
    // query-side tokenize: ONLY the sample query docs (pushed filter);
    // array_distinct reproduces the distinct (doc, token) pairs the tf
    // frame carried in the pre-published form
    val qtoks = graft.Tables.t(s, dir, "documents")
      .filter(col("doc_id") < HybridQueries)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(TextHash.tokens(col("text")))).as("token"))
    val wq = Window.partitionBy("q_id").orderBy(col("df"), col("token"))
    // the (q_id, token, df) query-term frame is ≤ Q·HybridQTerms rows BY
    // CONTRACT — metadata tier (the probed-cell-ids discipline), so it
    // collects ONCE and re-enters as a literal: the selection subtree
    // (query-doc tokenize ⋈ vocab + window) would otherwise recompute for
    // the IN-filter, the broadcast join, and each downstream action
    val qtRows = broadcast(qtoks).join(vocab, "token")
      .withColumn("trn", row_number().over(wq))
      .filter(col("trn") <= HybridQTerms)
      .select("q_id", "token", "df")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    import s.implicits._
    val qt = qtRows.toSeq.toDF("q_id", "token", "df")
    // the literal IN is what prunes the token-clustered postings scan to
    // row groups
    val terms = qtRows.map(_._2).distinct.toSeq
    val wl = Window.partitionBy("q_id").orderBy(col("score").desc, col("doc_id"))
    post.select("token", "doc_id", "tf", "dl")
      .filter(col("token").isInCollection(terms))
      .join(broadcast(qt), "token")
      .filter(col("doc_id") =!= col("q_id"))
      .crossJoin(broadcast(stats))
      .withColumn("score_t", expr(TextAnalysis.bm25ScoreSql))
      .groupBy("q_id", "doc_id")
      .agg(graft.Tables.dsum10(col("score_t")).as("score"))
      .withColumn("r_lex", row_number().over(wl).cast("long"))
      .filter(col("r_lex") <= 10)
      .select(col("q_id"), col("doc_id").as("n_id"), col("r_lex"))
  }

  /** The two-tower RRF tail (lex ranks ⋈ dense ranks, fixed textual term
    * order) — shared by the base and upsert hybrid serves and the tower
    * sweep. */
  private def rrf2(lex: DataFrame, dense: DataFrame): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("rrf").desc, col("n_id"))
    lex.join(dense, Seq("q_id", "n_id"), "full_outer")
      .withColumn("rrf", expr(
        s"coalesce(CAST(1 AS DOUBLE) / ($FusionK + r_lex), 0D) + " +
          s"coalesce(CAST(1 AS DOUBLE) / ($FusionK + r_dense), 0D)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select("q_id", "n_id", "rrf", "rank")
      .orderBy("q_id", "rank")
  }

  /** q_retrieve_hybrid: HYBRID RETRIEVAL — the RAG-standard two-tower
    * serve: a BM25 lexical ranking and a dense vector-index ranking for
    * the SAME query, RRF-fused (lexical catches exact terminology the
    * embedding smooths away; dense catches paraphrase the lexicon
    * misses; rank fusion needs no score calibration between them). Each
    * sample doc queries as itself: its `HybridQTerms` most SELECTIVE
    * tokens (lowest df, ties token asc — the q_text_bm25 query
    * derivation, per query doc) drive the lexical side; its embedding
    * drives the published trained-IVF serve.
    *
    * Scale topology (r10 — VERDICT r9 item 1): BOTH towers read
    * published artifacts. The lexical side serves from the published
    * lexical index (LexIndex — token-clustered postings with df/dl
    * denormalized in, the Lucene norms-in-postings layout): the only
    * documents read left is the Q query docs themselves (a pushed
    * doc_id < Q scan — per-query work, corpus-independent); their
    * selective terms (lowest df via the published vocab, ties token asc)
    * collect as ≤ Q·4 strings (metadata tier, the probed-cell-ids
    * discipline) and push into the postings scan as a literal IN — see
    * lexTopK, which serves that tower. The dense side reads the
    * published cell-pruned IVF; the fusion is the q_sim_fused
    * metadata-tier join (rrf2). Every division is one correctly-rounded
    * IEEE op — hash-checked end to end. */
  def hybridTopK(s: SparkSession, dir: String): DataFrame =
    rrf2(Rankings.lex(s, dir), denseSide(Rankings.ivf(s, dir)))

  /** A dense ranking as the RRF tail's dense side: (q_id, n_id, r_dense). */
  private def denseSide(ranking: DataFrame): DataFrame =
    ranking.select(col("q_id"), col("n_id"), col("rank").as("r_dense"))

  /** q_retrieve_sweep: the hybrid's TOWER ABLATION — recall@10 vs the
    * exact cosine top-10 for the lexical tower alone, the dense tower
    * alone, and their fusion: the per-member marginal-contribution row
    * every OTHER fusion family already publishes (q_sim_fused_sweep),
    * closing the audit symmetry on the two-tower serve. Ground truth is
    * dense cosine by design (the q_retrieve_recall contract), so the
    * expected shape is lex ≪ dense < hybrid-vs-lex-alone — the number
    * the operator exists to publish is how much dense recall the
    * consensus RETAINS while the lexical tower injects exact-term
    * evidence. All three candidate frames are Q·10 metadata; the fold is
    * the fusedSweep driver discipline. */
  def hybridSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exact = exactPairs(s, dir)
    def pairsOf(df: DataFrame): Seq[(Long, Long)] =
      df.select("q_id", "n_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // both tower frames are published Q·10 rankings — multiple actions
    // over them are parquet re-reads of metadata, no checkpoint needed
    val lex = Rankings.lex(s, dir)
    val dense = Rankings.ivf(s, dir)
    val rows = Seq("dense" -> dense, "hybrid" -> rrf2(lex, denseSide(dense)), "lex" -> lex)
      .map { case (tower, df) =>
        val hits = pairsOf(df).count(exact.contains)
        (tower, exact.size.toLong, hits.toLong,
          hits.toDouble / exact.size.toDouble)
      }
    rows.toDF("tower", "n_exact", "n_hit", "recall").orderBy("tower")
  }

  /** q_retrieve_recall: the hybrid's recall@10 audit vs the exact cosine
    * top-10 (VERDICT r9 item 2) — the same published-number discipline as
    * every other serve family (`q_sim_recall`, `q_sim_graph_recall`,
    * `q_sim_binary_recall`, `q_sim_fused_recall`, `q_sim_ivfpq_recall`):
    * a lexical-tower regression now fails a QUALITY gate, not only the
    * hash gate. Ground truth is dense cosine by design — the audit
    * measures how much of the embedding's notion of similarity the
    * two-tower consensus retains while the lexical tower injects exact
    * terminology the embedding smooths away; both sides share the same
    * sample query set (doc_id ≡ vec_id). By construction the number sits
    * near HALF the dense tower's own recall: near-disjoint towers
    * interleave ~5+5 in the fused top-10, so every lexical-only surface
    * displaces a dense slot — that is the cosine-recall PRICE of lexical
    * coverage, published so the operating point is an informed choice
    * (the q_sim_fused_sweep discipline; FusionSpec pins the ≥ dense/2
    * floor). Cost: the Q·10 hybrid ranking joined against the Q·10 exact
    * ranking — metadata-tier on top of the two serves. */
  def recallHybrid(s: SparkSession, dir: String): DataFrame =
    Similarity.recallOf(s, dir, hybridTopK(s, dir))

  /** The lexical tower's UPSERT-aware ranking — `lexTower` over the
    * MERGED snapshot: per-query selective terms from the merged dictionary
    * (base + delta df — exact integer sums, identical to the full-corpus
    * derivation), BM25 over base ∪ delta posting members with merged
    * stats. Published as its own ranking variant (Rankings.lexUpsert). */
  private[llm] def lexUpsertTopK(s: SparkSession, dir: String): DataFrame = {
    val m = LexMaintenance.merged(s, dir, LexMaintenance.current(s, dir))
    lexTower(s, dir, m.vocab, m.post, m.stats)
  }

  /** q_retrieve_hybrid_upsert: the two-tower serve's FRESHNESS leg — BOTH
    * towers read their UPSERT snapshots instead of their base publishes,
    * closing the staleness symmetry on the last serve path that lacked it
    * (the ensemble got q_sim_fused_upsert; the hybrid's towers each got
    * q_text_bm25_upsert / q_sim_ivf_upsert; this is their composition).
    * Since r12 both tower rankings arrive PUBLISHED (Rankings.lexUpsert /
    * Rankings.ivfUpsert — distinct artifacts from the base rankings, the
    * variant key), so this serve is two Q·10 parquet reads + the
    * metadata-tier RRF join. The two towers freeze at DIFFERENT corpus
    * points (documents vs embeddings row counts diverge at bench scale),
    * so the serve exposes BOTH staleness flags — is_new_lex /
    * is_new_dense — rather than pretending one cut covers both id
    * spaces. */
  def hybridUpsertTopK(s: SparkSession, dir: String): DataFrame =
    rrf2(Rankings.lexUpsert(s, dir), denseSide(Rankings.ivfUpsert(s, dir)))
      .withColumn("is_new_lex", Segments.flag(col("n_id"), Segments.cut(s, dir, "documents")))
      .withColumn("is_new_dense", Segments.flag(col("n_id"), Segments.cut(s, dir, "embeddings")))
      .select("q_id", "n_id", "rrf", "rank", "is_new_lex", "is_new_dense")
      .orderBy("q_id", "rank")

}
