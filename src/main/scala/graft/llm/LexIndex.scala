package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import TextHash.tokens

/** PUBLISHED LEXICAL INDEX — the train-once/serve-many half of the BM25 /
  * hybrid retrieval stack (VERDICT r9 item 1: until round 9 the lexical
  * tower re-tokenized the whole corpus on every call, the one serve path
  * left that paid a corpus scan per query batch; a production two-tower
  * serve reads BOTH towers from published artifacts, exactly like the
  * trained-IVF dense side).
  *
  * Three warehouse-published members, all derived from ONE corpus tokenize
  * plan and committed through the pointer-commit protocol
  * (graft.etl.Warehouse — the publishedAssignments discipline; the build
  * is deterministic, so concurrent writers publish identical bytes and
  * last-writer-wins is benign):
  *
  *  - `postings` (token, doc_id, tf, df, dl) — the inverted index, with
  *    the per-token document frequency AND the per-doc length DENORMALIZED
  *    into every posting row (the Lucene norms-in-postings layout): a
  *    BM25 serve needs (tf, df, dl) per scored posting, and carrying them
  *    in place means the serve never joins back to a doc-keyed or
  *    token-keyed side table. This denormalization is correct ONLY
  *    because the base index is FROZEN at publish time; the upsert delta
  *    members (LexMaintenance) deliberately carry NO denormalized df —
  *    a late doc changes df for every existing posting of its tokens, so
  *    the merged serve reconciles df/stats at read time instead (the
  *    Lucene live-dictionary rule; see LexMaintenance's scaladoc — do
  *    not "fix" either side to match the other). Published CLUSTERED on
  *    token
  *    (Warehouse.publishClustered): each part-file owns a narrow token
  *    range, so the serve's IN(query terms) predicate — a literal In
  *    filter pushed to the parquet scan — decodes only the row groups
  *    whose min/max covers a query term. The serve reads POSTING LISTS,
  *    never the corpus.
  *  - `vocab` (token, df) — the dictionary, for query-term derivation
  *    (df-ranked term selection); vocabulary-sized, clustered on token.
  *  - `stats` (n_docs, tot) — the 1-row corpus statistic BM25's length
  *    normalization needs; broadcast by every serve.
  *
  * All columns are exact BIGINTs (counts and sums), so the parquet
  * round-trip is bit-free of risk and every serve computes the identical
  * IEEE score the inline derivation produced — the DuckDB twins are
  * unchanged and the hashes must not move. Targets are state-store roots
  * (graft.etl.State), the index-build-id analog: a rewritten corpus or a
  * code change can never serve a stale index. The tower that serves this
  * index and the maintained snapshot alike is Fusion.lexTower. */
object LexIndex {

  /** Part-files for the clustered postings (the DescentFiles tier at the
    * test scale; a deployment sizes this from postings bytes / the
    * 128 MB–1 GB object-store sweet spot). */
  val PostingFiles = 4

  /** A member's state-store root. */
  private def target(s: SparkSession, dir: String, member: String): String =
    graft.etl.State.root(s, "lex", member, dir, "documents")

  /** The exact counts of a (doc_id, text) frame over one tokenize plan:
    * tf (doc_id, token, tf), df (token, df) derived FROM tf (the tfidf
    * vocabulary-exchange shape), dl (doc_id, dl) and the 1-row stats
    * (n_docs, tot). The published index, the maintenance members and the
    * from-scratch control all count through here. */
  private[llm] final case class Counts(tf: DataFrame, df: DataFrame, dl: DataFrame,
                                       stats: DataFrame)

  private[llm] def counts(docs: DataFrame): Counts = {
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    Counts(tf, tf.select("token").groupBy("token").agg(count(lit(1)).as("df")),
      docs.select(col("doc_id"), size(tokens(col("text"))).cast("long").as("dl")),
      docs.agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text"))).cast("long")).as("tot")))
  }

  /** The build frames of all three members over the corpus counts;
    * postings join tf ⋈ df ⋈ dl on the build side so serves never pay
    * those joins. Each member publishes on its first read. */
  private def build(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val c = counts(t(s, dir, "documents"))
    (c.tf.join(c.df, "token").join(c.dl, "doc_id")
      .select("token", "doc_id", "tf", "df", "dl"), c.df, c.stats)
  }

  /** The published inverted index: (token, doc_id, tf, df, dl), clustered
    * on token — filter it with a literal IN over the query terms so the
    * pushed predicate prunes row groups at the scan. */
  private[llm] def postings(s: SparkSession, dir: String): DataFrame =
    graft.etl.State.memo(s, target(s, dir, "postings"))(graft.etl.Warehouse.publishClustered(s, _,
        build(s, dir)._1, "token", PostingFiles))
      .select("token", "doc_id", "tf", "df", "dl")

  /** The published dictionary: (token, df). */
  private[llm] def vocab(s: SparkSession, dir: String): DataFrame =
    graft.etl.State.memo(s, target(s, dir, "vocab"))(graft.etl.Warehouse.publishClustered(s, _,
        build(s, dir)._2, "token", PostingFiles))
      .select("token", "df")

  /** The published 1-row corpus statistic: (n_docs, tot). */
  private[llm] def stats(s: SparkSession, dir: String): DataFrame =
    graft.etl.State.memo(s, target(s, dir, "stats"))(graft.etl.Warehouse.publish(s, _, build(s, dir)._3))
      .select("n_docs", "tot")
}
