package graft.oracle

import graft.llm.TextAnalysis
import Sql._

/** DuckDB twins of the text and curation operators: tokens, BPE, lexical
  * scores, decontamination, sampling, chunking, packing, the curriculum and
  * the epoch mix. */
private[graft] object TextCuration {

  /** Shared epoch-schedule CTE block (twin of Curation.epochSchedule over
    * lang): per/tot/j/k, with k carrying (lang, n_docs, avail_tokens,
    * alloc_tokens, epochs_ppm). */
  private def mixEpochsCtes: String =
    s"""per AS (SELECT lang, count(*) AS n_docs,
                  CAST(sum(len(string_split(coalesce(text, ''), ' '))) AS BIGINT) AS avail_tokens
             FROM documents GROUP BY 1),
        tot AS (SELECT CAST(sum(avail_tokens) AS BIGINT) AS total_tokens,
                       count(*) AS n_groups FROM per),
        j AS (SELECT lang, n_docs, avail_tokens,
                     (total_tokens * 2) // n_groups AS alloc_tokens
              FROM per, tot),
        k AS (SELECT *, least(CAST(${graft.llm.Curation.MaxEpochs * 1000000L} AS BIGINT),
                     CAST((CAST(alloc_tokens AS HUGEINT) * 1000000)
                          // greatest(avail_tokens, 1) AS BIGINT)) AS epochs_ppm
              FROM j)"""

  private def lexList(l: String): String =
    TextAnalysis.Lexicons.toMap.apply(l).map(w => s"'$w'").mkString("[", ", ", "]")

  private def dHits(l: String): String =
    s"CAST(len([t for t in string_split(text, ' ') if list_contains(${lexList(l)}, t)]) AS BIGINT)"

  /** Shared chunking CTEs ending in chks(doc_id, chunk_idx, tok_start,
    * n_tokens, chunk_hash) — twin of Curation.chunkRows: stride-56 starts,
    * capped so the last start still ADDS tokens past the previous chunk's
    * end (no fully-contained straggler chunk), null text → empty string. */
  private[oracle] def chunkCtes: String = {
    import graft.llm.Curation.{ChunkSize, ChunkStride, ChunkOverlap}
    s"""ctoks AS (SELECT doc_id, source, string_split(coalesce(text, ''), ' ') AS toks FROM documents),
        cstart AS (SELECT doc_id, source, toks,
                     unnest(generate_series(0, greatest(len(toks) - ${ChunkOverlap + 1}, 0), $ChunkStride)) AS tok_start
                   FROM ctoks),
        chks AS (SELECT doc_id, source, tok_start // $ChunkStride AS chunk_idx, tok_start,
                        least($ChunkSize, len(toks) - tok_start) AS n_tokens,
                        ${dTokHash(s"array_to_string(toks[tok_start+1:tok_start+$ChunkSize], ' ')")} AS chunk_hash
                 FROM cstart)"""
  }

  /** Pack-shard lottery — twin of Curation.packShardCol: doc-granularity
    * pack-v1-salted hash mod PackShards (dTokHash is a positive 60-bit
    * value, so DuckDB's % equals Spark's pmod). */
  private def packShardSql: String =
    s"${dTokHash("'pack-v1' || '|' || CAST(doc_id AS VARCHAR)")} % ${graft.llm.Curation.PackShards}"

  /** All five language lexicons flattened, distinct — twin of the stopword
    * array qualityLogit builds from TextAnalysis.Lexicons. */
  private def allStopList: String =
    TextAnalysis.Lexicons.flatMap(_._2).distinct.map(w => s"'$w'").mkString("[", ", ", "]")

  /** The planned token budget of an epoch schedule row. */
  private val planned =
    """CAST((CAST(avail_tokens AS HUGEINT) * epochs_ppm) // 1000000 AS BIGINT)
                   AS planned_tokens"""

  /** The quality features (twin of Curation.logitOf): x$sfx the
    * null-safe tokens and text of `from`, f$sfx the five integer features;
    * `carry` columns ride along. */
  private def features(sfx: String, from: String, carry: String = "") =
    s"""x$sfx AS (SELECT doc_id, $carry
               string_split(coalesce(text, ''), ' ') AS toks,
               coalesce(text, '') AS text, coalesce(n_chars, 0) AS n_chars
            FROM $from),
        f$sfx AS (SELECT doc_id, $carry
               CAST(len(toks) AS BIGINT) AS f_tokens,
               n_chars AS f_chars,
               CAST(len(list_filter(toks, tk -> list_contains($allStopList, tk))) AS BIGINT) AS f_stop,
               CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS BIGINT) AS f_digits,
               CAST(len(list_distinct(toks)) AS BIGINT) AS f_distinct
            FROM x$sfx)"""

  /** The quality logit in milli-units: one integer linear form. */
  private val logit =
    """-2000 + f_tokens * 3 + f_chars * 1 + f_stop * 40
                     + f_distinct * 10 - f_digits * 25"""

  /** lg$sfx: each doc's quality logit, carrying `carry` columns. */
  private def logits(sfx: String, carry: String = "") =
    s"""lg$sfx AS (SELECT doc_id, $carry
               $logit AS logit_milli
            FROM f$sfx)"""

  /** Curriculum-ordering CTE chain ending in crr$sfx(doc_id, stage, shard,
    * seq) over the docs matching `pred` — twin of Curation.curriculumOrder
    * (logit histogram → ceil stage cut → content-hash shard →
    * within-(stage, shard) row_number). The suffix lets two segments (the
    * pack-upsert's frozen base + late delta) compose in one WITH. */
  private def curriculumCtesFor(sfx: String, pred: String): String =
    s"""${features(sfx, s"documents WHERE $pred")},
        ${logits(sfx)},
        hist$sfx AS (SELECT logit_milli, count(*) AS cnt FROM lg$sfx GROUP BY 1),
        n$sfx AS (SELECT count(*) AS n_docs FROM lg$sfx),
        cum$sfx AS (SELECT logit_milli,
                  sum(cnt) OVER (ORDER BY logit_milli DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM hist$sfx),
        stg$sfx AS (SELECT logit_milli,
                  CAST((cum * ${graft.llm.Curation.CurriculumStages} + n_docs - 1) // n_docs AS BIGINT) AS stage
                FROM cum$sfx, n$sfx),
        d$sfx AS (SELECT lg$sfx.doc_id, stg$sfx.stage,
                ${dTokHash(s"'curriculum-v1' || '|' || CAST(lg$sfx.doc_id AS VARCHAR)")} AS h
              FROM lg$sfx JOIN stg$sfx USING (logit_milli)),
        crr$sfx AS (SELECT doc_id, stage,
                  h % ${graft.llm.Curation.CurriculumShards} AS shard,
                  CAST(row_number() OVER (
                    PARTITION BY stage, h % ${graft.llm.Curation.CurriculumShards}
                    ORDER BY h, doc_id) AS BIGINT) AS seq
                FROM d$sfx)"""

  private def curriculumCtes: String = curriculumCtesFor("", "TRUE")

  /** `name`: the chunks of `from` with their running token offset per
    * (source, pack shard) — twin of Curation.packBins. */
  private def packed(name: String, from: String) =
    s"""$name AS (SELECT doc_id, chunk_idx, source, pack_shard, n_tokens,
                  ${tokBefore("n_tokens", "source, pack_shard", "doc_id, chunk_idx")}
                FROM $from)"""

  /** Bin id and in-bin offset of a running token offset `t`. */
  private def bins(t: String) = {
    import graft.llm.Curation.PackBudget
    s"""$t // $PackBudget AS bin_id,
                 $t % $PackBudget AS bin_offset"""
  }

  /** `u`: first-wins chunk dedup over the full stream (the first
    * (doc_id, chunk_idx) of each chunk hash survives), with pack shards. */
  private val firstChunks =
    s"""u AS (SELECT doc_id, chunk_idx, source, n_tokens,
                       $packShardSql AS pack_shard FROM (
                  SELECT chks.*, row_number() OVER (PARTITION BY chunk_hash
                    ORDER BY doc_id, chunk_idx) AS rn FROM chks)
                WHERE rn = 1)"""

  /** `trn`: the train split's doc ids. */
  private val trainDocs =
    s"""trn AS (SELECT doc_id FROM documents
                  WHERE $splitHash % 100 < 80)"""

  /** The word n-grams (k tokens, space-joined) of token list `t`. */
  private def ngrams(k: Int) =
    s"[array_to_string(t[i:i+${k - 1}], ' ') for i in generate_series(1, len(t) - ${k - 1})]"

  /** `g(doc_id, col)`: each doc's distinct k-grams. */
  private def docGrams(k: Int, col: String) =
    s"""g AS (SELECT DISTINCT doc_id, $col FROM (
                SELECT doc_id, unnest(${ngrams(k)}) AS $col
                FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)))"""

  /** The BM25 top-k (twin of TextAnalysis.bm25): the Bm25QTerms lowest-df
    * terms as the query, the shared bm25ScoreSql per posting and a
    * decimal-staged per-doc sum. Needs dt in scope. */
  private val bm25Scores = {
    import TextAnalysis.Bm25QTerms
    s"""$termCounts,
          qt AS (SELECT token, df FROM dfx ORDER BY df, token LIMIT $Bm25QTerms),
          $docLengths,
          sc AS (SELECT tfx.doc_id, ${TextAnalysis.bm25ScoreSql} AS score_t
                 FROM tfx JOIN qt USING (token)
                 JOIN dlx ON dlx.doc_id = tfx.doc_id, st)"""
  }

  private val bm25Top =
    s"""SELECT doc_id, count(*) AS n_terms,
                 CAST(CAST(SUM(CAST(score_t AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS score
          FROM sc GROUP BY doc_id
          ORDER BY score DESC, doc_id LIMIT ${TextAnalysis.Bm25TopK}"""

  def twins: Seq[(String, String)] = Seq(
    "q_decontaminate" -> {
      s"""WITH ${docGrams(graft.llm.Curation.DecontamN, "sh")},
          bench AS (SELECT DISTINCT sh FROM g WHERE doc_id % ${graft.llm.Curation.BenchMod} = 0),
          train AS (SELECT doc_id, sh FROM g WHERE doc_id % ${graft.llm.Curation.BenchMod} <> 0)
          SELECT doc_id, count(*) AS n_shared_shingles
          FROM train JOIN bench USING (sh)
          GROUP BY 1 ORDER BY 1"""
    },
    "q_decontaminate_audit" -> {
      s"""WITH ${docGrams(graft.llm.Curation.ContainN, "sh")},
          bench AS (SELECT doc_id AS bench_id, sh FROM g WHERE doc_id % ${graft.llm.Curation.BenchMod} = 0),
          nb AS (SELECT bench_id, count(*) AS nb FROM bench GROUP BY 1),
          train AS (SELECT doc_id, sh FROM g WHERE doc_id % ${graft.llm.Curation.BenchMod} <> 0),
          inter AS (SELECT b.bench_id, t.doc_id, count(*) AS n_shared
                    FROM train t JOIN bench b USING (sh) GROUP BY 1, 2),
          scored AS (SELECT i.bench_id, i.doc_id, i.n_shared,
                       CAST(i.n_shared AS DOUBLE) / z.nb AS containment,
                       row_number() OVER (PARTITION BY i.bench_id
                         ORDER BY CAST(i.n_shared AS DOUBLE) / z.nb DESC, i.doc_id ASC) AS rn
                     FROM inter i JOIN nb z USING (bench_id))
          SELECT d.doc_id AS bench_id, s.doc_id AS top_doc_id,
                 s.n_shared, s.containment
          FROM (SELECT doc_id FROM documents WHERE doc_id % ${graft.llm.Curation.BenchMod} = 0) d
          LEFT JOIN (SELECT * FROM scored WHERE rn = 1) s ON d.doc_id = s.bench_id
          ORDER BY bench_id"""
    },
    // embedding-space decontamination audit: exact top-K nearest training
    // vectors per benchmark vector — fixed-order cosine, bit-exact
    "q_decontaminate_embed" -> {
      import graft.llm.Curation.{BenchMod, EmbedAuditK}
      s"""WITH ${normed("en")},
          db AS (SELECT vec_id AS bench_id, embedding AS b_emb, nrm AS b_nrm
                 FROM en WHERE vec_id % $BenchMod = 0),
          dtr AS (SELECT * FROM en WHERE vec_id % $BenchMod <> 0),
          dsc AS (SELECT db.bench_id, dtr.vec_id AS train_id,
                         ${dDot("db.b_emb", "dtr.embedding")} / (db.b_nrm * dtr.nrm) AS cos
                  FROM dtr, db),
          drk AS (SELECT *, CAST(row_number() OVER (PARTITION BY bench_id
                    ORDER BY cos DESC, train_id) AS BIGINT) AS "rank" FROM dsc)
          SELECT bench_id, train_id, cos, "rank" FROM drk
          WHERE "rank" <= $EmbedAuditK ORDER BY bench_id, "rank""""
    },
    "q_text_commonness" ->
      s"""WITH ${docGrams(2, "g")},
          df AS (SELECT g, count(*) AS df FROM g GROUP BY 1)
          SELECT doc_id, CAST(sum(df) AS BIGINT) AS df_sum,
                 count(*) AS n_grams,
                 CAST(CAST(sum(df) AS BIGINT) AS DOUBLE) / count(*) AS avg_df
          FROM g JOIN df USING (g)
          GROUP BY doc_id ORDER BY doc_id""",
    "q_split_assign" ->
      s"""SELECT doc_id,
                 $splitHash % 100 AS bucket,
                 CASE WHEN $splitHash % 100 < 80 THEN 'train'
                      WHEN $splitHash % 100 < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM documents ORDER BY doc_id""",
    "q_sample_stratified" ->
      s"""SELECT doc_id, source, CAST(rate AS BIGINT) AS sample_rate FROM (
            SELECT doc_id, source,
                   CASE WHEN regexp_extract(source, '^src([0-9])$$', 1) <> ''
                        THEN CASE WHEN CAST(regexp_extract(source, '^src([0-9])$$', 1) AS INT) < 5
                                  THEN 50 ELSE 25 END
                        ELSE 10 END AS rate,
                   ${dTokHash("source || '|' || CAST(doc_id AS VARCHAR)")} AS h
            FROM documents)
          WHERE h % 100 < rate ORDER BY doc_id""",
    "q_sample_per_group" ->
      s"""SELECT lang, rn, doc_id FROM (
            SELECT lang, doc_id,
                   CAST(row_number() OVER (PARTITION BY lang
                     ORDER BY ${dTokHash("'heldout42|' || CAST(doc_id AS VARCHAR)")}, doc_id) AS BIGINT) AS rn
            FROM documents)
          WHERE rn <= ${graft.llm.Curation.HeldoutPerGroup} ORDER BY lang, rn""",
    "q_text_repetition" -> {
      def frac(k: Int) =
        s"""CASE WHEN len(t) >= $k THEN CAST(1 AS DOUBLE)
              - CAST(len(list_distinct(${ngrams(k)})) AS DOUBLE) / CAST(len(${ngrams(k)}) AS DOUBLE)
            ELSE CAST(0 AS DOUBLE) END"""
      s"""SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
                 ${frac(2)} AS dup_2gram_frac,
                 ${frac(3)} AS dup_3gram_frac,
                 CASE WHEN dup_2gram_frac > 0.6 OR dup_3gram_frac > 0.5
                      THEN 'drop' ELSE 'keep' END AS label
          FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
          ORDER BY doc_id"""
    },
    "q_text_pii_scrub" -> {
      import graft.llm.Curation.{EmailRe, IpRe, PhoneRe}
      s"""WITH a AS (SELECT doc_id,
                 text || ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@mail.example.com or +1-555-'
                      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                      || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.1' AS aug
          FROM documents)
          SELECT doc_id,
                 CAST(len(regexp_extract_all(aug, '$EmailRe')) AS BIGINT) AS n_emails,
                 CAST(len(regexp_extract_all(aug, '$IpRe')) AS BIGINT) AS n_ips,
                 CAST(len(regexp_extract_all(aug, '$PhoneRe')) AS BIGINT) AS n_phones,
                 regexp_replace(regexp_replace(regexp_replace(aug,
                   '$EmailRe', '<EMAIL>', 'g'), '$IpRe', '<IP>', 'g'),
                   '$PhoneRe', '<PHONE>', 'g') AS scrubbed
          FROM a ORDER BY doc_id"""
    },
    "q_curate_filter" ->
      s"""WITH x AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         y AS (SELECT doc_id,
                 CAST(len(t) AS BIGINT) AS n_tokens,
                 CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
                 CAST(len(list_filter(t, tok -> list_contains(
                   ['the','a','of','and','to','in','is','on','for','with'], tok))) AS BIGINT) AS stop_hits,
                 CASE WHEN len(t) >= 2
                      THEN CAST(len(list_distinct(
                        ${ngrams(2)})) AS BIGINT)
                      ELSE 0 END AS n_g2_distinct,
                 CASE WHEN len(t) >= 2 THEN CAST(len(t) - 1 AS BIGINT) ELSE 0 END AS n_g2
          FROM x)
          SELECT doc_id, n_tokens,
                 (n_tokens >= 5 AND n_tokens <= 5000) AS gate_len,
                 (n_distinct * 5 >= n_tokens) AS gate_ttr,
                 (stop_hits * 20 >= n_tokens) AS gate_stop,
                 (n_g2 = 0 OR n_g2_distinct * 5 >= n_g2 * 2) AS gate_rep,
                 (gate_len AND gate_ttr AND gate_stop AND gate_rep) AS kept
          FROM y ORDER BY doc_id""",
    "q_pack_sequences" ->
      s"""SELECT doc_id, source, n_tokens,
                 ${bins("tok_before")}
          FROM (SELECT doc_id, source,
                       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                       ${tokBefore("CAST(len(string_split(text, ' ')) AS BIGINT)", "source", "doc_id")}
                FROM documents)
          ORDER BY doc_id""",
    "q_text_tokens" ->
      """SELECT token, count(*) AS n
         FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
         GROUP BY token ORDER BY n DESC, token LIMIT 100""",
    "q_text_stats" ->
      """SELECT lang, source, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars,
                CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS total_tokens,
                CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
         FROM documents GROUP BY 1, 2 ORDER BY 1, 2""",
    "q_text_lang" -> {
      val scoreCols = TextAnalysis.Lexicons.map { case (l, _) => s"${dHits(l)} AS s_$l" }.mkString(", ")
      val m = TextAnalysis.Lexicons.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
      val cases = TextAnalysis.Lexicons.map { case (l, _) => s"WHEN s_$l = $m THEN '$l'" }.mkString(" ")
      s"""WITH x AS (SELECT doc_id, lang AS actual_lang, $scoreCols FROM documents)
          SELECT doc_id, actual_lang, s_de, s_en, s_es, s_fr, s_zh,
                 CASE WHEN $m = 0 THEN 'unknown' $cases ELSE 'unknown' END AS pred
          FROM x ORDER BY doc_id"""
    },
    "q_text_quality" -> {
      s"""WITH x AS (SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                 CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
                 ${dHits("en")} AS stop_hits,
                 CAST(length(text) AS BIGINT) AS clen
          FROM documents),
          y AS (SELECT doc_id, n_tokens,
                 CAST(n_distinct AS DOUBLE) / n_tokens AS ttr,
                 CAST(stop_hits AS DOUBLE) / n_tokens AS stop_ratio,
                 (CAST(clen AS DOUBLE) - (n_tokens - 1)) / n_tokens AS avg_tok_len
          FROM x),
          z AS (SELECT *, ttr * 0.4 + stop_ratio * 0.4 + least(avg_tok_len / 10.0, 1.0) * 0.2 AS score FROM y)
          SELECT doc_id, n_tokens, ttr, stop_ratio, avg_tok_len, score,
                 CASE WHEN score >= 0.35 THEN 'keep' ELSE 'drop' END AS label
          FROM z ORDER BY doc_id"""
    },
    "q_text_fingerprint" ->
      """SELECT doc_id,
                CAST(list_reduce(list_prepend(0::BIGINT,
                       [ascii(substr(text, i, 1)) for i in generate_series(1, length(text))]),
                     (acc, x) -> (acc * 31 + x) % 1000000007) AS BIGINT) AS fp
         FROM documents ORDER BY doc_id""",
    "q_text_tokens_bpe" ->
      s"""SELECT doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
                 CAST(len(regexp_extract_all(text, '$bpePattern')) AS BIGINT) AS n_bpe_tokens
          FROM documents ORDER BY doc_id""",
    // DuckDB twin of TextAnalysis.bpeApply: same |sym| encoding, same
    // rank-ordered replace chain
    "q_text_bpe_apply" ->
      s"""WITH x AS (SELECT doc_id, regexp_extract_all(text, '$bpePattern') AS pieces FROM documents)
          SELECT doc_id,
                 CAST(COALESCE(list_sum([${bpeCount("p")} for p in pieces]), 0) AS BIGINT) AS n_bpe_tokens,
                 array_to_string([trim(replace(${bpeMerged("p")}, '||', ' '), '|') for p in pieces], ' ') AS bpe_text
          FROM x ORDER BY doc_id""",
    "q_chunk_tokens" ->
      s"""WITH $chunkCtes
          SELECT doc_id, chunk_idx, tok_start, n_tokens, chunk_hash
          FROM chks ORDER BY doc_id, chunk_idx""",
    "q_quality_logit" ->
      s"""WITH ${features("", "documents")}
          SELECT doc_id, f_tokens, f_chars, f_stop, f_digits, f_distinct,
                 $logit AS logit_milli,
                 CAST(logit_milli > 0 AS INT) AS keep
          FROM f ORDER BY doc_id""",
    // tf-idf in the log-free rational form: score = tf·N/df is ONE
    // correctly-rounded IEEE division of exact BIGINT operands — log()
    // would hand the value to each platform's libm
    "q_text_tfidf" ->
      s"""WITH $tokens,
         tf AS (SELECT doc_id, token, count(*) AS tf FROM dt GROUP BY 1, 2),
         df AS (SELECT token, count(*) AS df
                FROM (SELECT DISTINCT doc_id, token FROM dt) GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         sc AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
                       CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE) AS score,
                       CAST(row_number() OVER (PARTITION BY tf.doc_id
                         ORDER BY CAST(tf.tf * n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE) DESC,
                                  tf.token) AS BIGINT) AS rnk
                FROM tf JOIN df USING (token), n)
         SELECT doc_id, rnk, token, tf, df, score
         FROM sc WHERE rnk <= 3 ORDER BY doc_id, rnk""",
    // BM25 with the log-free rational idf (same discipline as tfidf); the
    // score expression is SPLICED from TextAnalysis.bm25ScoreSql so the
    // IEEE operation order matches the Spark plan by construction
    "q_text_bm25" ->
      s"""WITH $tokens,
          $bm25Scores
          $bm25Top""",
    // Twin of LexMaintenance.upsertServe: counting is exact and additive,
    // so the base∪delta serve equals this full-corpus replay bit-for-bit
    // (the same q_text_bm25 derivation plus the is_new flag).
    "q_text_bm25_upsert" ->
      s"""WITH $tokens,
          ${cut("dcut", "documents")},
          $bm25Scores,
          agg AS ($bm25Top)
          SELECT doc_id, n_terms, score,
                 ${flag("doc_id", "dcut")}
          FROM agg, dcut ORDER BY score DESC, doc_id""",
    // Twin of LexMaintenance.drift: the frozen BASE vocabulary's fit per
    // segment — OOV token mass and new-type count vs the docs < cut vocab.
    "q_text_bm25_drift" ->
      s"""WITH ${cut("dcut", "documents")},
          tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
          sg AS (SELECT ${segment("tk.doc_id", "dcut")},
                        tk.doc_id, tk.token
                 FROM tk, dcut),
          bv AS (SELECT DISTINCT tk.token FROM tk, dcut WHERE tk.doc_id < dcut.t),
          tot AS (SELECT segment, count(DISTINCT doc_id) AS n_docs, count(*) AS n_tokens
                  FROM sg GROUP BY 1),
          ov AS (SELECT segment, count(*) AS oov_tokens,
                        count(DISTINCT token) AS new_types
                 FROM sg WHERE NOT EXISTS (SELECT 1 FROM bv WHERE bv.token = sg.token)
                 GROUP BY 1)
          SELECT t.segment, t.n_docs, t.n_tokens,
                 CAST(COALESCE(o.oov_tokens, 0) AS BIGINT) AS oov_tokens,
                 CAST(COALESCE(o.new_types, 0) AS BIGINT) AS new_types,
                 CAST(COALESCE(o.oov_tokens, 0) AS DOUBLE) / CAST(t.n_tokens AS DOUBLE) AS oov_rate
          FROM tot t LEFT JOIN ov o USING (segment) ORDER BY segment""",
    "q_chunk_pack" ->
      s"""WITH $chunkCtes,
          cs AS (SELECT chks.*, $packShardSql AS pack_shard FROM chks),
          ${packed("p", "cs")}
          SELECT doc_id, chunk_idx, source, n_tokens,
                 ${bins("tok_before")},
                 pack_shard
          FROM p ORDER BY doc_id, chunk_idx""",
    // α=1/2 temperature mixing: √ and ÷ are correctly-rounded IEEE ops, so
    // the per-source rate is bit-identical across engines (general-α pow is
    // each platform's libm)
    "q_sample_temperature" ->
      s"""WITH c AS (SELECT source, count(*) AS n_source FROM documents GROUP BY 1),
          m AS (SELECT min(n_source) AS n_min FROM c),
          r AS (SELECT source, n_source,
                  CAST(floor(1000000.0 * sqrt(CAST(n_min AS DOUBLE))
                             / sqrt(CAST(n_source AS DOUBLE))) AS BIGINT) AS rate_ppm
                FROM c, m)
          SELECT d.doc_id, d.source, r.n_source, r.rate_ppm
          FROM documents d JOIN r USING (source)
          WHERE ${dTokHash("'mix-v1|' || CAST(doc_id AS VARCHAR)")} % 1000000 < rate_ppm
          ORDER BY d.doc_id""",
    // MLE bigram LM score in the rational form: both sums are exact
    // BIGINTs, so the one double division is bit-stable — never a sum of
    // per-bigram doubles, whose accumulation order a cluster does not fix
    "q_text_lm_score" ->
      """WITH d AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks FROM documents),
         bg AS (SELECT doc_id,
                  unnest([toks[i] for i in generate_series(1, len(toks) - 1)]) AS p,
                  unnest([toks[i] || ' ' || toks[i+1] for i in generate_series(1, len(toks) - 1)]) AS g
                FROM d),
         cbg AS (SELECT g, count(*) AS c_bg FROM bg GROUP BY 1),
         cpre AS (SELECT p, count(*) AS c_pre FROM bg GROUP BY 1),
         agg AS (SELECT doc_id, count(*) AS n_bigrams,
                        CAST(sum(c_bg) AS BIGINT) AS sup_bg,
                        CAST(sum(c_pre) AS BIGINT) AS sup_pre
                 FROM bg JOIN cbg USING (g) JOIN cpre USING (p) GROUP BY 1)
         SELECT d.doc_id, COALESCE(a.n_bigrams, 0) AS n_bigrams, a.sup_bg, a.sup_pre,
                CAST(a.sup_bg AS DOUBLE) / CAST(a.sup_pre AS DOUBLE) AS lm_score
         FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         ORDER BY d.doc_id""",
    "q_chunk_overlap" ->
      s"""WITH $chunkCtes,
          ch AS (SELECT DISTINCT doc_id, chunk_hash FROM chks),
          kept AS (SELECT doc_id, chunk_hash FROM (
                     SELECT doc_id, chunk_hash,
                            count(*) OVER (PARTITION BY chunk_hash) AS df FROM ch)
                   WHERE df <= ${graft.llm.Curation.OverlapMaxDf}),
          nch AS (SELECT doc_id, count(*) AS n_chunks FROM ch GROUP BY 1),
          pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
                 FROM kept a JOIN kept b
                   ON a.chunk_hash = b.chunk_hash AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
          SELECT doc_a, doc_b, n_shared, na.n_chunks AS n_a, nb.n_chunks AS n_b,
                 CAST(n_shared AS DOUBLE) / CAST(least(na.n_chunks, nb.n_chunks) AS DOUBLE) AS containment
          FROM pr JOIN nch na ON pr.doc_a = na.doc_id
                  JOIN nch nb ON pr.doc_b = nb.doc_id
          WHERE CAST(n_shared AS DOUBLE) / CAST(least(na.n_chunks, nb.n_chunks) AS DOUBLE)
                  >= ${graft.llm.Curation.OverlapMin}
          ORDER BY doc_a, doc_b""",
    // data-calibrated quality gate: the cut is the exact 20th-percentile
    // logit via a value HISTOGRAM (cardinality = logit domain, not corpus);
    // `5·cum ≥ N` is the integer form of cum ≥ ⌈N/5⌉ — no float anywhere
    "q_quality_threshold" ->
      s"""WITH ${features("", "documents")},
          ${logits("")},
          hist AS (SELECT logit_milli, count(*) AS cnt FROM lg GROUP BY 1),
          n AS (SELECT count(*) AS n_docs FROM lg),
          cum AS (SELECT logit_milli,
                    sum(cnt) OVER (ORDER BY logit_milli
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                  FROM hist),
          thr AS (SELECT min(logit_milli) AS threshold FROM cum, n
                  WHERE cum * ${graft.llm.Curation.ThresholdDen} >= n_docs)
          SELECT lg.doc_id, lg.logit_milli, thr.threshold
          FROM lg, thr WHERE lg.logit_milli >= thr.threshold
          ORDER BY lg.doc_id""",
    // token-budget selection: per source, quality-ranked greedy fill until
    // half the source's token mass is spent (tok_before discipline — the
    // crossing doc is admitted); all integer arithmetic
    "q_select_budget" ->
      s"""WITH ${features("", "documents", "source,")},
          ${logits("", "source, f_tokens,")},
          wnd AS (SELECT doc_id, source, f_tokens, logit_milli,
                 CAST(sum(f_tokens) OVER (PARTITION BY source) AS BIGINT) AS source_tokens,
                 CAST(COALESCE(sum(f_tokens) OVER (PARTITION BY source
                   ORDER BY logit_milli DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
              FROM lg)
          SELECT doc_id, source, f_tokens, logit_milli, tok_before, source_tokens
          FROM wnd WHERE tok_before * 2 < source_tokens
          ORDER BY doc_id""",
    // sentence split is a lookaround-free regex (identical in Java regex and
    // RE2); DuckDB zips unnest + generate_subscripts over the same list
    "q_chunk_sentences" ->
      """WITH s0 AS (SELECT doc_id,
                 unnest(regexp_extract_all(coalesce(text, ''), '[^.!?]+[.!?]*')) AS sent,
                 CAST(generate_subscripts(regexp_extract_all(coalesce(text, ''), '[^.!?]+[.!?]*'), 1) AS BIGINT) AS sent_idx
               FROM documents),
          t1 AS (SELECT doc_id, sent_idx,
                 CAST(len(string_split(trim(sent), ' ')) AS BIGINT) AS n_tokens FROM s0),
          t2 AS (SELECT doc_id, sent_idx, n_tokens,
                 CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY doc_id ORDER BY sent_idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
               FROM t1)
          SELECT doc_id, sent_idx, n_tokens, tok_before,
                 tok_before // 48 AS chunk_id
          FROM t2 ORDER BY doc_id, sent_idx""",
    "q_sample_target_mix" ->
      """WITH c AS (SELECT source, count(*) AS n_source FROM documents GROUP BY 1),
          tot AS (SELECT CAST(sum(n_source) AS BIGINT) AS n_total,
                         count(*) AS n_sources FROM c)
          SELECT source, n_source, n_total,
                 least(1000000, (n_total * 1000000) // (n_sources * n_source)) AS rate_ppm,
                 (n_source * least(1000000, (n_total * 1000000) // (n_sources * n_source))) // 1000000 AS expected_kept
          FROM c, tot ORDER BY source""",
    "q_text_ngrams" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
          bg AS (SELECT unnest([t[i] || ' ' || t[i+1]
                                for i in generate_series(1, len(t) - 1)]) AS bigram
                 FROM toks WHERE len(t) >= 2)
          SELECT bigram, count(*) AS n FROM bg
          GROUP BY 1 ORDER BY n DESC, bigram LIMIT 50""",
    "q_sample_weighted" ->
      s"""WITH d AS (SELECT doc_id,
                 CAST(len(string_split(coalesce(text, ''), ' ')) // 64 + 1 AS BIGINT) AS w
          FROM documents),
          tick AS (SELECT doc_id, w, unnest(generate_series(1, w)) AS tick FROM d),
          pri AS (SELECT doc_id, max(w) AS w,
                         max(${dTokHash("concat_ws(':', 'wsample-v1', doc_id, tick)")}) AS priority
                  FROM tick GROUP BY doc_id)
          SELECT doc_id, w, priority FROM pri
          ORDER BY priority DESC, doc_id LIMIT 100""",
    // DSIR-style importance in the log-free rational form: exact BIGINT
    // support sums, HUGEINT/decimal-staged cross products, ONE division
    "q_sample_importance" -> {
      val tgt = graft.llm.Curation.ImportanceTarget
      s"""WITH itok AS (SELECT doc_id, source,
                 unnest(string_split(coalesce(text, ''), ' ')) AS tok
               FROM documents),
          icr AS (SELECT tok, count(*) AS c_raw FROM itok GROUP BY 1),
          ict AS (SELECT tok, count(*) AS c_tgt FROM itok
                  WHERE source = '$tgt' GROUP BY 1),
          itot AS (SELECT count(*) AS n_raw,
                          CAST(SUM(CASE WHEN source = '$tgt' THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_tgt
                   FROM itok),
          iper AS (SELECT i.doc_id, count(*) AS n_toks,
                          CAST(SUM(coalesce(t.c_tgt, 0)) AS BIGINT) AS sup_tgt,
                          CAST(SUM(r.c_raw) AS BIGINT) AS sup_raw
                   FROM itok i
                   JOIN icr r ON i.tok = r.tok
                   LEFT JOIN ict t ON i.tok = t.tok
                   GROUP BY 1)
          SELECT doc_id, n_toks, sup_tgt, sup_raw,
                 CAST(CAST(CAST(sup_tgt AS HUGEINT) * n_raw AS VARCHAR) AS DOUBLE)
                   / CAST(CAST(CAST(sup_raw AS HUGEINT) * n_tgt AS VARCHAR) AS DOUBLE) AS imp
          FROM iper, itot ORDER BY doc_id"""
    },
    // BPE training, rounds unrolled (pagerank discipline): same |sym|
    // encoding and literal-replace merge as the q_text_bpe_apply twin;
    // winner per round = (count desc, a, b) — a total order
    "q_text_bpe_train" -> {
      val rounds = (1 to TextAnalysis.BpeTrainRounds).map { r =>
        val prev = s"w${r - 1}"
        s"""sy$r AS (SELECT string_split(trim(w, '|'), '||') AS s, cnt FROM $prev),
            p$r AS (SELECT s[i] AS a, s[i+1] AS b,
                           CAST(SUM(cnt) AS BIGINT) AS pair_count
                    FROM (SELECT s, cnt,
                                 unnest(generate_series(1, len(s) - 1)) AS i
                          FROM sy$r)
                    GROUP BY 1, 2),
            m$r AS (SELECT CAST($r AS BIGINT) AS merge_rank, a, b, pair_count
                    FROM p$r ORDER BY pair_count DESC, a, b LIMIT 1),
            w$r AS (SELECT replace(w, '|' || m.a || '||' || m.b || '|',
                                   '|' || m.a || m.b || '|') AS w, cnt
                    FROM $prev, m$r m)"""
      }.mkString(",\n")
      val union = (1 to TextAnalysis.BpeTrainRounds)
        .map(r => s"SELECT * FROM m$r").mkString(" UNION ALL ")
      s"""WITH vocab AS (SELECT piece, count(*) AS cnt FROM
                           (SELECT unnest(regexp_extract_all(text, '$bpePattern')) AS piece
                            FROM documents)
                         GROUP BY 1),
          w0 AS (SELECT ${bpeEncode("piece")} AS w, cnt FROM vocab),
          $rounds
          SELECT merge_rank, a AS lhs, b AS rhs, pair_count
          FROM ($union) ORDER BY merge_rank"""
    },
    // curriculum ordering: stage quartiles from the logit histogram (ceil
    // via (a + n - 1) // n — BIGINTs in both engines), content-hash shard
    // + within-(stage, shard) row_number
    "q_curriculum_order" ->
      s"""WITH $curriculumCtes
          SELECT doc_id, stage, shard, seq
          FROM crr ORDER BY stage, shard, seq""",
    // the dataloader's end-to-end artifact: packed-bin coordinates of
    // every train chunk joined to the parent doc's curriculum position —
    // the chunk/pack CTEs (first-wins chunk dedup over the shared chks
    // frame, per-source running-sum bins over the FULL stream) composed
    // with the curriculum chain and the content-keyed train filter
    "q_curriculum_pack" ->
      s"""WITH $chunkCtes,
          $firstChunks,
          ${packed("p", "u")},
          $trainDocs,
          $curriculumCtes
          SELECT p.doc_id, p.chunk_idx, p.source, p.n_tokens,
                 ${bins("p.tok_before")},
                 o.stage, o.shard, o.seq, p.pack_shard
          FROM p JOIN trn USING (doc_id) JOIN crr o ON o.doc_id = p.doc_id
          ORDER BY o.stage, o.shard, o.seq, p.chunk_idx""",
    // the pack-upsert twin: the SAME chunk/dedup/pack CTEs run per
    // segment around the corpus cut — base pack identical to a base-only
    // run (first-wins over the full stream restricted to base rows ≡ the
    // base-time dedup, since base doc_ids precede the cut), delta bins
    // start past each source's high-water base bin, the delta curriculum
    // is its own addendum chain with stages offset by CurriculumStages
    "q_curriculum_pack_upsert" ->
      s"""WITH $chunkCtes,
          $firstChunks,
          ${cut("cutt", "documents")},
          ub AS (SELECT u.* FROM u, cutt WHERE doc_id < t),
          ud AS (SELECT u.* FROM u, cutt WHERE doc_id >= t),
          ${packed("pb", "ub")},
          pbb AS (SELECT doc_id, chunk_idx, source, pack_shard, n_tokens,
                    ${bins("tok_before")},
                    CAST(0 AS BIGINT) AS is_new
                  FROM pb),
          hw AS (SELECT source, pack_shard, MAX(bin_id) AS hw_bin
                 FROM pbb GROUP BY source, pack_shard),
          ${packed("pd0", "ud")},
          pdd AS (SELECT pd0.doc_id, pd0.chunk_idx, pd0.source, pd0.pack_shard, pd0.n_tokens,
                    COALESCE(hw_bin + 1, 0) + tok_before // ${graft.llm.Curation.PackBudget} AS bin_id,
                    tok_before % ${graft.llm.Curation.PackBudget} AS bin_offset,
                    CAST(1 AS BIGINT) AS is_new
                  FROM pd0 LEFT JOIN hw USING (source, pack_shard)),
          pall AS (SELECT * FROM pbb UNION ALL SELECT * FROM pdd),
          $trainDocs,
          ${curriculumCtesFor("cb", "doc_id < (SELECT t FROM cutt)")},
          ${curriculumCtesFor("cd", "doc_id >= (SELECT t FROM cutt)")},
          crru AS (SELECT doc_id, stage, shard, seq FROM crrcb
                   UNION ALL
                   SELECT doc_id, stage + ${graft.llm.Curation.CurriculumStages} AS stage,
                          shard, seq FROM crrcd)
          SELECT p.doc_id, p.chunk_idx, p.source, p.n_tokens,
                 p.bin_id, p.bin_offset, o.stage, o.shard, o.seq, p.is_new,
                 p.pack_shard
          FROM pall p JOIN trn USING (doc_id) JOIN crru o ON o.doc_id = p.doc_id
          ORDER BY o.stage, o.shard, o.seq, p.chunk_idx""",
    // data-constrained epoch schedule (twin of Curation.mixEpochs);
    // HUGEINT staging mirrors the Spark DECIMAL(38,0) overflow discipline
    "q_mix_epochs" ->
      s"""WITH $mixEpochsCtes
          SELECT lang, n_docs, avail_tokens, alloc_tokens, epochs_ppm,
                 $planned
          FROM k ORDER BY lang""",
    // schedule materialization (twin of Curation.mixApply): full epochs +
    // md5-lottery fractional epoch, realized-vs-planned audit
    "q_mix_apply" ->
      s"""WITH $mixEpochsCtes,
          sched AS (SELECT lang, epochs_ppm,
                           $planned
                    FROM k),
          d AS (SELECT doc_id, lang,
                       len(string_split(coalesce(text, ''), ' ')) AS toks
                FROM documents),
          sc AS (SELECT d.doc_id, d.lang, d.toks,
                        s.epochs_ppm // 1000000 AS full_epochs,
                        s.epochs_ppm % 1000000 AS rem_ppm
                 FROM d JOIN sched s USING (lang)),
          sc2 AS (SELECT *, CASE WHEN
                    ${dTokHash("'mix-v1:' || CAST(doc_id AS VARCHAR) || ':' || CAST(full_epochs AS VARCHAR)")}
                      % 1000000 < rem_ppm THEN 1 ELSE 0 END AS extra
                  FROM sc),
          rws AS (SELECT doc_id, lang, toks,
                         unnest(generate_series(0, CAST(full_epochs + extra - 1 AS BIGINT)))
                           AS epoch_idx
                  FROM sc2 WHERE full_epochs + extra > 0),
          realized AS (SELECT lang, count(*) AS n_rows,
                              CAST(sum(toks) AS BIGINT) AS realized_tokens
                       FROM rws GROUP BY 1)
          SELECT s.lang, s.epochs_ppm, s.planned_tokens,
                 COALESCE(r.n_rows, 0) AS n_rows,
                 COALESCE(r.realized_tokens, 0) AS realized_tokens,
                 CAST((CAST(abs(COALESCE(r.realized_tokens, 0) - s.planned_tokens) AS HUGEINT)
                       * 1000000) // greatest(s.planned_tokens, 1) AS BIGINT) AS gap_ppm
          FROM sched s LEFT JOIN realized r USING (lang) ORDER BY s.lang""",
    // tokenizer fertility (twin of TextAnalysis.fertility): the bpeApply
    // |sym| encoding + replace chain, aggregated per language
    "q_text_fertility" ->
      s"""WITH x AS (SELECT lang, length(text) AS chars,
                            len(string_split(text, ' ')) AS ws,
                            regexp_extract_all(text, '$bpePattern') AS pieces
                     FROM documents),
          y AS (SELECT lang, chars, ws,
                       CAST(COALESCE(list_sum([${bpeCount("p")} for p in pieces]), 0) AS BIGINT) AS bpe
                FROM x),
          g AS (SELECT lang, count(*) AS n_docs,
                       CAST(sum(chars) AS BIGINT) AS total_chars,
                       CAST(sum(ws) AS BIGINT) AS total_ws_tokens,
                       CAST(sum(bpe) AS BIGINT) AS total_bpe_tokens
                FROM y GROUP BY 1)
          SELECT lang, n_docs, total_chars, total_ws_tokens, total_bpe_tokens,
                 CAST(total_bpe_tokens AS DOUBLE) / CAST(total_ws_tokens AS DOUBLE) AS fertility,
                 CAST(total_chars AS DOUBLE) / CAST(total_bpe_tokens AS DOUBLE) AS chars_per_token
          FROM g ORDER BY lang""",
    // export-shard manifest (twin of Curation.shardManifest): md5 lottery
    // mod the supply-derived shard count
    "q_export_shards" ->
      s"""WITH d AS (SELECT doc_id,
                            len(string_split(coalesce(text, ''), ' ')) AS toks
                     FROM documents),
          tot AS (SELECT CAST(sum(toks) AS BIGINT) AS total_tokens FROM d),
          sh AS (SELECT doc_id, toks,
                        ${dTokHash("'shard-v1:' || CAST(doc_id AS VARCHAR)")}
                          % greatest(total_tokens // ${graft.llm.Curation.ShardTokens}, 1)
                          AS shard_id
                 FROM d, tot)
          SELECT shard_id, count(*) AS n_docs,
                 CAST(sum(toks) AS BIGINT) AS n_tokens,
                 (CAST(sum(toks) AS BIGINT) * 1000000)
                   // ${graft.llm.Curation.ShardTokens} AS fill_ppm
          FROM sh GROUP BY 1 ORDER BY shard_id""",
  )
}
