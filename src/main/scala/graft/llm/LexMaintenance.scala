package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import TextHash.tokens

/** LEXICAL-INDEX MAINTENANCE — the add/drift half of the BM25 tower's
  * lifecycle, completing the maintenance matrix across ALL FIVE index
  * families (IVF, graph, composite, binary, lexical). The lexical index
  * (LexIndex: postings + vocab + stats) is pure exact counting — tf and dl
  * are per-document (a doc lives wholly in one batch), df and the corpus
  * statistic are ADDITIVE across batches — so the incremental add is the
  * cleanest in the matrix: tokenize ONLY the late batch (O(batch), no base
  * re-scan anywhere), publish its postings/vocab/stats as delta MEMBERS of
  * one multi-table snapshot (the Segments.Root discipline), and
  * the serve reconciles df/stats by summing base + delta — integer sums,
  * so serve-after-add is BIT-IDENTICAL to a full-corpus rebuild
  * (LexUpsertSpec pins it; the same strongest-equivalence contract as the
  * binary family, where the add is stateless given the frozen means).
  *
  * One layout difference from the read-optimized LexIndex: the snapshot's
  * posting members carry (token, doc_id, tf, dl) WITHOUT the denormalized
  * df — a base posting's df would go stale the moment a delta lands (the
  * exact bug Lucene avoids by reading df from the live dictionary, not
  * the postings). The serve joins the Q·terms posting rows to the MERGED
  * vocab instead: a broadcast of ≤ query-term rows, metadata tier. The
  * asymmetry against LexIndex's df-in-postings layout is DELIBERATE on
  * both sides (see LexIndex's scaladoc for the frozen-base argument):
  * denormalize when the index is immutable, reconcile at read time when
  * it accretes — do not "fix" either direction to match the other.
  *
  * `q_text_bm25_drift` is the family's staleness monitor: the frozen BASE
  * vocabulary's fit to the late batch — out-of-vocabulary token rate and
  * new-type count per segment (a crawl that drifts topic or language shows
  * up as OOV mass the frozen dictionary can't score; the republish trigger,
  * same contract as q_index_drift). Anti-join on token + one aggregate;
  * output is 2 rows at any corpus size. */
object LexMaintenance {

  import TextAnalysis.Bm25QTerms

  private[graft] def snapRoot(s: SparkSession, dir: String): String =
    graft.etl.State.root(s, "lex", "up", dir, "documents")

  /** The three index members of ONE document slice, from one tokenize pass
    * over that slice only — the shared build of the base members
    * (pred = < cut) and the incremental add (pred = >= cut; the add's plan
    * scans only the new docs). */
  private def sliceMembers(s: SparkSession, dir: String, cut: Long,
                           newRows: Boolean): Seq[(String, DataFrame)] = {
    val tag = if (newRows) "delta" else "base"
    val m = members(t(s, dir, "documents")
      .filter(if (newRows) col("doc_id") >= cut else col("doc_id") < cut))
    Seq(s"post_$tag" -> m.post, s"vocab_$tag" -> m.vocab, s"stats_$tag" -> m.stats)
  }

  /** The index members of a document frame: postings (token, doc_id, tf,
    * dl) without df, the dictionary and the stats. */
  private def members(docs: DataFrame): Merged = {
    val c = LexIndex.counts(docs)
    Merged(c.tf.join(c.dl, "doc_id").select("token", "doc_id", "tf", "dl"), c.df, c.stats)
  }

  /** The current index snapshot (publishing the initial base+delta member
    * set on first call — one atomic commit covering all six members). */
  private[llm] def current(s: SparkSession, dir: String): Map[String, String] =
    graft.etl.State.memoSnapshot(s, snapRoot(s, dir)) { root =>
      val cut = Segments.cut(s, dir, "documents")
      graft.etl.Warehouse.publishSnapshot(s, root,
        sliceMembers(s, dir, cut, newRows = false) ++
          sliceMembers(s, dir, cut, newRows = true))
    }

  private def member(s: SparkSession, dir: String, snap: Map[String, String],
                     name: String): DataFrame =
    graft.etl.Warehouse.readSnapshotMember(s, snapRoot(s, dir), name, snap(name))

  /** The MERGED index of a resolved snapshot: postings concatenated
    * (tf/dl are per-doc facts, disjoint across members), df summed per
    * token and the corpus stats summed — exact integers, so every piece
    * equals its full-corpus rebuild bit-for-bit. */
  private[llm] final case class Merged(post: DataFrame, vocab: DataFrame, stats: DataFrame)

  private[llm] def merged(s: SparkSession, dir: String, snap: Map[String, String]): Merged = {
    def both(m: String) = member(s, dir, snap, s"${m}_base")
      .unionByName(member(s, dir, snap, s"${m}_delta"))
    Merged(both("post"),
      both("vocab").groupBy("token").agg(sum("df").as("df")),
      both("stats").agg(sum("n_docs").as("n_docs"), sum("tot").as("tot")))
  }

  /** q_text_bm25_upsert: the post-add lexical serve — BM25 top-20 over
    * base ∪ delta postings with df/stats reconciled from the merged
    * members, late documents flagged. Query terms derive from the MERGED
    * vocab (df asc, token asc — identical to the full-corpus derivation,
    * since merged df IS full df), push into both posting members as a
    * literal IN, and the scored frame is posting lists joined to a
    * broadcast ≤ Q·terms dictionary slice — never the corpus, never
    * doc×vocab. Scores consume the same exact integers the full rebuild
    * would, in the same IEEE order, so the result equals q_text_bm25 plus
    * the is_new column (LexUpsertSpec pins the bit-equality). */
  def upsertServe(s: SparkSession, dir: String): DataFrame =
    serve(s, dir, merged(s, dir, current(s, dir)))

  /** The from-scratch control for LexUpsertSpec: the snapshot serve over
    * the members of the whole corpus (one full-corpus tokenize). Counting
    * is exact, so this must equal the snapshot serve bit-for-bit. */
  private[llm] def rebuildServe(s: SparkSession, dir: String): DataFrame =
    serve(s, dir, members(t(s, dir, "documents")))

  private def serve(s: SparkSession, dir: String, m: Merged): DataFrame = {
    val cut = Segments.cut(s, dir, "documents")
    // ≤ Bm25QTerms (token, df) rows — the probed-cell-ids metadata tier;
    // collected WITH their merged df so the dictionary aggregates once
    // per call (the scoring join's slice re-enters as a literal)
    val termRows = m.vocab.orderBy(col("df"), col("token")).limit(Bm25QTerms)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val terms = termRows.map(_._1).toSeq
    import s.implicits._
    val termDf = termRows.toSeq.toDF("token", "df")
    val scored = TextAnalysis.bm25Top(m.post
      .filter(col("token").isInCollection(terms))
      .join(broadcast(termDf), "token"), m.stats)
    Segments.withFlag(scored, "doc_id", cut)
      .select("doc_id", "n_terms", "score", "is_new")
  }

  /** COMPACTION — fold the delta members into fresh base versions and
    * retire the deltas in ONE snapshot-pointer swap. Postings concatenate
    * file-level (tf/dl are per-doc facts, disjoint across members); vocab
    * and stats re-aggregate (token-keyed integer sums — vocabulary-sized,
    * never a corpus scan). Serve is bit-identical before/after
    * (LexUpsertSpec pins it). */
  def compact(s: SparkSession, dir: String): Map[String, String] = {
    val snap = current(s, dir)
    val m = merged(s, dir, snap)
    val empty = (n: String) => s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      member(s, dir, snap, n).schema)
    graft.etl.Warehouse.publishSnapshot(s, snapRoot(s, dir), Seq(
      "post_base" -> m.post, "vocab_base" -> m.vocab, "stats_base" -> m.stats,
      "post_delta" -> empty("post_delta"),
      "vocab_delta" -> empty("vocab_delta"),
      "stats_delta" -> empty("stats_delta")))
  }

  /** q_text_bm25_drift: the lexical family's STALENESS MONITOR — how well
    * the FROZEN base dictionary fits each segment. Per segment: document
    * and token counts, out-of-vocabulary token occurrences (tokens the
    * base vocab has never seen — 0 for the base segment by construction),
    * distinct new types, and the OOV rate. A topic- or language-drifting
    * crawl shows up as OOV mass BM25 can neither select as query terms nor
    * score — the republish trigger, same contract as q_index_drift. Cost:
    * one tokenize pass + an anti-join against the vocabulary (token-keyed,
    * vocabulary-sized build side), 2-row output. */
  def drift(s: SparkSession, dir: String): DataFrame = {
    val cut = Segments.cut(s, dir, "documents")
    val snap = current(s, dir)
    val baseVocab = member(s, dir, snap, "vocab_base").select("token")
    val seg = Segments.segment(col("doc_id"), cut)
    val toks = t(s, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .withColumn("segment", seg)
    val tot = toks.groupBy("segment")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"))
    val oov = toks.join(baseVocab, Seq("token"), "left_anti")
      .groupBy("segment")
      .agg(count(lit(1)).as("oov_tokens"),
        countDistinct(col("token")).as("new_types"))
    tot.join(oov, Seq("segment"), "left")
      .select(col("segment"), col("n_docs"), col("n_tokens"),
        coalesce(col("oov_tokens"), lit(0L)).as("oov_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"),
        (coalesce(col("oov_tokens"), lit(0L)).cast("double") /
          col("n_tokens").cast("double")).as("oov_rate"))
      .orderBy("segment")
  }
}
