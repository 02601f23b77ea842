package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._
import TextHash.tokens

/** Text-analysis operators over `documents` (SURVEY.md §2.2 Group C):
  * token term frequency, corpus stats, language-ID (lexicon-hit heuristic),
  * quality scoring, and rolling-hash fingerprinting. All built-in expressions;
  * double math keeps a fixed evaluation order so the oracle matches exactly.
  */
object TextAnalysis {

  /** Tiny per-language function-word lexicons (public-knowledge stopwords). */
  val Lexicons: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "auf", "ein", "nicht"),
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with"),
    "es" -> Seq("el", "la", "de", "los", "y", "en", "es", "por", "con", "un"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "en", "un", "pour", "que"),
    "zh" -> Seq("的", "是", "在", "了", "和", "有", "我", "不", "人", "这"),
  )

  private def lexArray(words: Seq[String]): Column =
    array(words.map(lit): _*)

  /** Occurrence count of lexicon words among the doc's tokens. */
  private def hits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(lexArray(words), t))).cast("long")

  /** Token term frequency: top-100 tokens by count (then token asc). */
  def termFreq(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(100)

  /** Corpus n-gram frequency: top-50 token BIGRAMS by count — the language-
    * model/statistics companion of `termFreq` (collocation mining, n-gram LM
    * training counts, boilerplate-phrase discovery). Pure map stage per doc
    * (a slide over the token array — no self-join of the token table), then
    * one count shuffle whose keys are the distinct bigrams; map-side partial
    * aggregation means the exchange carries counts, not occurrences. The
    * (count desc, bigram asc) order makes the top-50 cut deterministic. */
  def bigramFreq(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(tokens(col("text")).as("toks"))
      .select(explode(expr(
        """CASE WHEN size(toks) >= 2
             THEN transform(sequence(1, size(toks) - 1),
                    i -> concat_ws(' ', slice(toks, i, 2)))
             ELSE array() END""")).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram"))
      .limit(50)

  /** TF-IDF-style term salience, exactly: per doc, the top-3 tokens by
    * `tf · N / df` (term frequency × inverse document frequency, the
    * log-free rational form — one correctly-rounded IEEE division of exact
    * BIGINT operands, so both engines produce identical bits; `log` would
    * hand the score to each platform's libm). The topology is the
    * downsized form of the real corpus job: tf is a (doc, token) count,
    * df a token-keyed distinct-doc count, the two meet in a token-keyed
    * equi-join (shuffle carries the vocabulary, never doc×vocab), and the
    * per-doc top-3 is a WindowGroupLimit — no global sort of the scored
    * pairs. N rides in as a 1-row broadcast (same pattern as
    * q_stats_skew's total). */
  def tfidf(s: SparkSession, dir: String): DataFrame = {
    // since r10 the (tf, df) pairs and the corpus count come from the
    // PUBLISHED lexical index (LexIndex — built in one tokenize pass,
    // committed through the warehouse pointer): the salience serve is one
    // postings scan + a 1-row broadcast, no corpus tokenize per call
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("token"))
    LexIndex.postings(s, dir)
      .crossJoin(broadcast(LexIndex.stats(s, dir).select("n_docs")))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("df").cast("double"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("token"), col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "rnk")
  }

  /** BM25 design constants: Robertson's k1=1.2 / b=0.75 defaults; query =
    * the `Bm25QTerms` most SELECTIVE corpus tokens (lowest df, ties on
    * token asc — corpus-derived, so the oracle twin replays the identical
    * query); top `Bm25TopK` documents emitted. */
  val Bm25QTerms = 4
  val Bm25TopK = 20

  /** Per-(doc, term) BM25 score over columns (tf, df, dl, n_docs, tot) —
    * ONE SQL string spliced into both engines so the IEEE operation order
    * is identical by construction. idf is the log-free RATIONAL odds
    * (N − df + 0.5)/(df + 0.5) — the engine's established cross-engine
    * discipline (tfidf, lm_score, DSIR weights): `log()` hands the value
    * to each platform's libm, while the odds ratio (monotone in df, the
    * same document ordering per term) keeps every score a fixed-order
    * expression tree over exact integers. The tf-saturation factor is
    * exact BM25: tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)), constants
    * written as decimal literals CAST to double (identical doubles in
    * both parsers; 1−b is pre-folded to 0.25 so no engine subtracts). */
  private[graft] def bm25ScoreSql: String =
    """((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE))
         / (CAST(df AS DOUBLE) + CAST(0.5 AS DOUBLE)))
       * ((CAST(tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
         / (CAST(tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
             * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
                 * (CAST(dl AS DOUBLE)
                     / (CAST(tot AS DOUBLE) / CAST(n_docs AS DOUBLE))))))"""

  /** q_text_bm25: BM25 lexical retrieval — the inverted-index ranking
    * baseline a RAG / training-data pipeline runs next to the embedding
    * ANN family. Since r10 it serves from the PUBLISHED lexical index
    * (LexIndex; VERDICT r9 item 1): query terms derive from the published
    * vocab (df asc, token asc — corpus-derived, so the oracle twin replays
    * the identical query), the ≤4 term strings collect to the driver
    * (metadata tier — the probed-cell-ids discipline of the IVF serve) and
    * push into the token-clustered postings scan as a literal IN, so the
    * serve decodes only the query terms' POSTING LISTS — no corpus
    * tokenize, no doc-keyed join (df and dl are denormalized into the
    * postings). N and total-token counts ride as a published 1-row
    * broadcast; the per-doc ≤4-term sum is decimal-staged (Tables.dsum10 —
    * order-free, exact); the top-20 cut is TakeOrderedAndProject, no
    * global sort. Every score replays bit-identically in the DuckDB twin
    * (see bm25ScoreSql). */
  def bm25(s: SparkSession, dir: String): DataFrame = {
    val terms = LexIndex.vocab(s, dir)
      .orderBy(col("df"), col("token")).limit(Bm25QTerms)
      .select("token").collect().map(_.getString(0)).toSeq
    bm25Top(LexIndex.postings(s, dir).filter(col("token").isInCollection(terms)),
        LexIndex.stats(s, dir))
      .select("doc_id", "n_terms", "score")
  }

  /** The single-query BM25 tail over a posting slice carrying (doc_id, tf,
    * df, dl): the 1-row stats broadcast, the per-term score, the
    * decimal-staged per-doc sum and the top-`Bm25TopK` cut — shared by
    * this serve and the snapshot serve (LexMaintenance.upsertServe). */
  private[llm] def bm25Top(slice: DataFrame, stats: DataFrame): DataFrame =
    slice.crossJoin(broadcast(stats))
      .withColumn("score_t", expr(bm25ScoreSql))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), graft.Tables.dsum10(col("score_t")).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(Bm25TopK)

  /** q_text_fertility: TOKENIZER FERTILITY per language — subword tokens
    * per whitespace word and chars per subword token, under the engine's
    * BPE merge table. The published tokenizer-fairness audit (a tokenizer
    * trained on one language fragments the others into more pieces, so
    * those languages pay more sequence length per sentence — a real
    * training-cost and quality skew at corpus scale). Everything is an
    * exact BIGINT sum until the two final IEEE divisions, so the oracle
    * hash-checks the ratios. One lang-keyed aggregate over a pure map
    * stage; the result is languages-sized at any corpus size. */
  def fertility(s: SparkSession, dir: String): DataFrame = {
    val (_, cnt) = bpeApplySqlParts
    t(s, dir, "documents")
      .select(col("lang"),
        length(col("text")).cast("long").as("chars"),
        size(tokens(col("text"))).cast("long").as("ws"),
        regexp_extract_all(col("text"), lit(BpePattern), lit(0)).as("pieces"))
      .select(col("lang"), col("chars"), col("ws"),
        expr(s"aggregate(transform(pieces, p -> $cnt), 0L, (a, x) -> a + x)")
          .as("bpe"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("chars").as("total_chars"),
        sum("ws").as("total_ws_tokens"), sum("bpe").as("total_bpe_tokens"))
      .withColumn("fertility",
        col("total_bpe_tokens").cast("double") / col("total_ws_tokens"))
      .withColumn("chars_per_token",
        col("total_chars").cast("double") / col("total_bpe_tokens"))
      .orderBy("lang")
  }

  /** Corpus stats by (lang, source): doc count, char totals, token totals. */
  def stats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        sum(size(tokens(col("text"))).cast("long")).as("total_tokens"),
        (sum("n_chars").cast("double") / count(lit(1))).as("avg_chars"))
      .orderBy("lang", "source")

  /** Language-ID: argmax of lexicon hit counts, alphabetical tie-break,
    * 'unknown' when no lexicon hits at all. */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val withScores = t(s, dir, "documents")
      .select(Seq(col("doc_id"), col("lang").as("actual_lang")) ++
        Lexicons.map { case (l, ws) => hits(toks, ws).as(s"s_$l") }: _*)
    val m = greatest(Lexicons.map { case (l, _) => col(s"s_$l") }: _*)
    val pred = Lexicons.foldRight(lit("unknown")) { case ((l, _), e) =>
      when(col(s"s_$l") === m, lit(l)).otherwise(e)
    }
    withScores
      .withColumn("pred", when(m === 0, lit("unknown")).otherwise(pred))
      .orderBy("doc_id")
  }

  /** Quality scoring: type-token ratio, stopword ratio, mean token length →
    * weighted score → keep/drop label. */
  def quality(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val enWords = Lexicons.toMap.apply("en")
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        hits(toks, enWords).as("stop_hits"),
        length(col("text")).cast("long").as("len"))
      .withColumn("ttr", col("n_distinct").cast("double") / col("n_tokens"))
      .withColumn("stop_ratio", col("stop_hits").cast("double") / col("n_tokens"))
      .withColumn("avg_tok_len",
        (col("len").cast("double") - (col("n_tokens") - 1)) / col("n_tokens"))
      .withColumn("score",
        col("ttr") * 0.4 + col("stop_ratio") * 0.4
          + least(col("avg_tok_len") / 10.0, lit(1.0)) * 0.2)
      .withColumn("label", when(col("score") >= 0.35, "keep").otherwise("drop"))
      .select("doc_id", "n_tokens", "ttr", "stop_ratio", "avg_tok_len", "score", "label")
      .orderBy("doc_id")
  }

  /** GPT-2-style pre-tokenizer pattern (public knowledge): contraction
    * suffixes, space-prefixed letter/digit runs, punctuation runs, whitespace.
    * Plain alternation only, so Java regex (Spark) and RE2 (DuckDB) agree. */
  val BpePattern: String =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** Token counting both ways: whitespace tokens vs BPE-ish regex pieces
    * (north-star "token counting" operator). */
  def tokenCounts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
        size(regexp_extract_all(col("text"), lit(BpePattern), lit(0))).cast("long").as("n_bpe_tokens"))
      .orderBy("doc_id")

  /** Tiny checked-in BPE merges table in RANK ORDER — the shape of a public
    * merges.txt artifact (frequent English digraphs/trigraphs; word-boundary
    * marker is sentencepiece-style '_'). Real tokenizers ship ~50k rules;
    * the APPLICATION algorithm below is rank-exact at any table size. */
  val BpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "e" -> "r",
    "o" -> "n", "r" -> "e", "o" -> "r", "e" -> "n", "a" -> "t",
    "o" -> "u", "an" -> "d")

  /** BPE APPLICATION (VERDICT r1 item 6 — merge application, not piece
    * counting): each pre-tokenizer piece is split to characters and the
    * merges run in rank order. The symbol sequence is encoded as
    * `|sym||sym|…` — every symbol carries its OWN delimiter pair, so one
    * literal `replace('|l||r|' → '|lr|')` per rule performs exactly the
    * leftmost non-overlapping all-occurrence merge of classic BPE, and a
    * match can never start mid-symbol (symbols cannot contain '|').
    * Applying rules in rank order is equivalent to the priority-queue form
    * because a later merge cannot create an earlier-rank pair (the earlier
    * pair's parts predate it in training). All string expressions — one
    * codegen'd projection, no UDFs, reproduced verbatim by the DuckDB twin. */
  def bpeApplySqlParts: (String, String) = {
    val enc = "regexp_replace(replace(p, ' ', '_'), '(.)', '|$1|')"
    val folded = BpeMerges.foldLeft(enc) { case (e, (l, r)) =>
      s"replace($e, '|$l||$r|', '|$l$r|')"
    }
    val tokStr = s"trim(BOTH '|' FROM replace($folded, '||', ' '))"
    val cnt = s"(length($folded) - length(replace($folded, '|', ''))) div 2"
    (tokStr, cnt)
  }

  def bpeApply(s: SparkSession, dir: String): DataFrame = {
    val (tokStr, cnt) = bpeApplySqlParts
    t(s, dir, "documents")
      .select(col("doc_id"),
        regexp_extract_all(col("text"), lit(BpePattern), lit(0)).as("pieces"))
      .select(
        col("doc_id"),
        expr(s"aggregate(transform(pieces, p -> $cnt), 0L, (a, x) -> a + x)")
          .as("n_bpe_tokens"),
        expr(s"array_join(transform(pieces, p -> $tokStr), ' ')").as("bpe_text"))
      .orderBy("doc_id")
  }

  /** BPE TRAINING — learn the merge table itself from the corpus (the
    * operator `bpeApply` consumes; real pipelines train ~50k rules, the
    * declared query learns `BpeTrainRounds` so the DuckDB oracle can unroll
    * the rounds). Classic word-frequency BPE in its distributed shape:
    *
    *   - ONE corpus pass collapses pieces to a (piece, count) VOCABULARY —
    *     every later round works over the vocabulary domain, never the
    *     corpus (the shuffle is keyed on distinct pieces, then on the
    *     symbol-pair domain);
    *   - per round: adjacent-pair counts weighted by word frequency
    *     (map-side partial agg), the winning pair is a TakeOrdered 1-row
    *     broadcast (count desc, then lexicographic — a total order), and
    *     the merge applies as ONE literal `replace` over the same `|sym|`
    *     encoding bpeApply uses (leftmost non-overlapping, match can never
    *     start mid-symbol);
    *   - the vocabulary is the `graft.Rounds` state; each round's winner
    *     row stays checkpointed for the returned merge table.
    *
    * Space maps to the sentencepiece-style '_' marker before encoding, so
    * learned merges live in the SAME symbol alphabet as `BpeMerges`. */
  val BpeTrainRounds = 4

  def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    val words = t(s, dir, "documents")
      .select(explode(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
        .as("piece"))
      .groupBy("piece").agg(count(lit(1)).as("cnt"))
      .select(expr("regexp_replace(replace(piece, ' ', '_'), '(.)', '|$1|')")
        .as("w"), col("cnt"))
    var merges: Seq[DataFrame] = Nil
    val vocab = graft.Rounds.run(words, BpeTrainRounds) { vocab =>
      val pairs = vocab
        .select(split(expr("trim(BOTH '|' FROM w)"), "\\|\\|").as("syms"),
          col("cnt"))
        .filter(size(col("syms")) >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(syms) - 1), i -> struct(syms[i-1] AS a, syms[i] AS b))"))
          .as("p"), col("cnt"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("pair_count"))
      val best = graft.Rounds.checkpoint(pairs
        .orderBy(col("pair_count").desc, col("a"), col("b")).limit(1)
        .withColumn("merge_rank", lit(merges.size + 1L)))
      merges = merges :+ best
      vocab
        .crossJoin(broadcast(best.select(col("a").as("ma"), col("b").as("mb"))))
        .withColumn("w", expr(
          "replace(w, concat('|', ma, '||', mb, '|'), concat('|', ma, mb, '|'))"))
        .select("w", "cnt")
    }
    // the merge table reads only the winners
    graft.Rounds.release(vocab)
    merges.reduce(_ unionByName _)
      .select(col("merge_rank"), col("a").as("lhs"), col("b").as("rhs"),
        col("pair_count"))
      .orderBy("merge_rank")
  }

  /** Rolling polynomial hash (base 31 mod 1e9+7) over the document's chars —
    * a content fingerprint computable identically in any engine. */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        expr("""aggregate(transform(sequence(1, length(text)), i -> ascii(substring(text, i, 1))),
                         0L, (acc, x) -> (acc * 31 + x) % 1000000007L)""").as("fp"))
      .orderBy("doc_id")

  /** Statistical-LM document score — the perplexity-filter proxy (public
    * practice scores every doc with a corpus n-gram model and drops the
    * implausible tail; CCNet popularized the shape). MLE bigram model
    * trained on the corpus itself: per doc,
    * `lm_score = Σ cnt(bigram) / Σ cnt(prefix)` over its bigram
    * occurrences — the prefix-weighted mean conditional probability
    * P(w₂|w₁), in the rational form. Both sums are exact BIGINTs, so the
    * ONE double division is bit-stable across engines and partition
    * orders — never a sum of per-bigram doubles, whose accumulation order
    * a cluster does not fix (same discipline as `commonness`, which
    * measures corpus OVERLAP of a doc's bigrams; this measures their
    * SEQUENTIAL predictability — boilerplate scores high on both, rare
    * fluent text scores low on overlap but high here).
    *
    * Topology: the corpus is tokenized once; bigram occurrences come from a
    * zip_with over two slices (pure map stage, no window, no shuffle);
    * bigram counts and prefix counts are two high-cardinality groupBys off
    * the SAME exploded relation; the per-doc sum is one doc_id shuffle.
    * Docs with <2 tokens surface with n_bigrams=0 and NULL score via the
    * final left join. */
  def lmScore(s: SparkSession, dir: String): DataFrame = {
    // localCheckpoint: the three consumers below shuffle bg on THREE
    // different keys (g, p, g-join), so no exchange reuse is possible and
    // the tokenize + zip_with explode ran three times (guide §2.4/§8:
    // compute the heavy map once, fan out from the materialized narrow
    // rows — (doc_id, p, g) is corpus-token-tier but a fraction of
    // re-reading and re-tokenizing the text three times at any scale).
    val bg = t(s, dir, "documents")
      .select(col("doc_id"), tokens(coalesce(col("text"), lit(""))).as("toks"))
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)), " +
          "slice(toks, 2, greatest(size(toks) - 1, 0)), " +
          "(a, b) -> named_struct('p', a, 'g', concat(a, ' ', b)))")).as("x"))
      .select(col("doc_id"), col("x.p").as("p"), col("x.g").as("g"))
      .localCheckpoint()
    val cbg = bg.groupBy("g").agg(count(lit(1)).as("c_bg"))
    val cpre = bg.groupBy("p").agg(count(lit(1)).as("c_pre"))
    val perDoc = bg.join(cbg, "g").join(cpre, "p")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum("c_bg").as("sup_bg"), sum("c_pre").as("sup_pre"))
      .withColumn("lm_score",
        col("sup_bg").cast("double") / col("sup_pre").cast("double"))
    t(s, dir, "documents").select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("sup_bg"), col("sup_pre"), col("lm_score"))
      .orderBy("doc_id")
  }
}
