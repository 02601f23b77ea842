package graft.oracle

import graft.llm.TextHash
import Sql._

/** DuckDB twins of the dedup family (exact, near, minhash, shingle,
  * winnow, simhash, embedding and closure) and the multimodal media queries. */
private[graft] object DedupMultimodal {

  /** The K minhash minima of hashed-feature list `h` (twin of
    * Dedup.minhashSignatures: mod-P universal hashes). */
  private def minima(h: String): String = {
    import TextHash.{A, B, K, P}
    (0 until K).map(i => s"list_min([(${A(i)} * x + ${B(i)}) % $P for x in $h]) AS m$i").mkString(", ")
  }

  /** One (doc_id, band, bh) row per band of the signatures in `sig` (twin
    * of Dedup.bandsOf: Bands × Rows, mod-P fold). */
  private def bandRows(sig: String): String = {
    import TextHash.{P, Bands, Rows}
    (0 until Bands).map { j =>
      val bh = (Rows * j until Rows * (j + 1)).map(i => s"m$i")
        .reduce((acc, m) => s"((($acc) * 31 + $m) % $P)")
      s"SELECT doc_id, $j AS band, $bh AS bh FROM $sig"
    }.mkString(" UNION ALL ")
  }

  /** Shared minhash CTEs: th (hashed features) → sig (16 minima) → bands
    * → candidate pairs. `thList` is the hashed-feature list expression —
    * word tokens for the default pipelines, char shingles for
    * q_dedup_shingle. `cap > 0` mirrors Dedup.MinhashMaxClass: only the
    * cap smallest doc_ids per distinct feature SET are pair-eligible, the
    * same row_number-over-class qualification the Spark side applies before
    * pair expansion (quadratic-output bound for the declared pair queries). */
  private def minhashCtesFor(thList: String, cap: Int = 0): String = {
    val th =
      if (cap > 0)
        s"""th0 AS (SELECT doc_id, $thList AS h FROM documents),
            th AS (SELECT doc_id, h FROM (
                     SELECT doc_id, h, row_number() OVER (
                         PARTITION BY array_to_string(list_sort(list_distinct(h)), ',')
                         ORDER BY doc_id) AS _rn
                     FROM th0)
                   WHERE _rn <= $cap)"""
      else s"th AS (SELECT doc_id, $thList AS h FROM documents)"
    s"""$th,
        sig AS (SELECT doc_id, ${minima("h")} FROM th),
        bands AS (${bandRows("sig")}),
        pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                  FROM bands x JOIN bands y
                    ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id)"""
  }

  /** `toks`: each doc's distinct feature set and its size. */
  private val distinctToks =
    "toks AS (SELECT doc_id, list_distinct(h) AS ths, len(list_distinct(h)) AS nt FROM th)"

  /** The exact jaccard of feature sets `a` and `b` (ths, nt). */
  private def jaccard(a: String, b: String) =
    s"""CAST(len(list_intersect($a.ths, $b.ths)) AS DOUBLE)
                 / ($a.nt + $b.nt - len(list_intersect($a.ths, $b.ths))) AS jac"""

  /** The transitive closure of the undirected `edges(a, b)` over the ids
    * `id` of `table` (recursive CTE; component = min reachable id), with
    * each member's component size. */
  private def closure(a: String, b: String, id: String, table: String) =
    s"""und AS (SELECT $a AS s, $b AS d FROM edges
                UNION ALL SELECT $b, $a FROM edges),
        reach(s, d) AS (
          SELECT $id, $id FROM $table
          UNION
          SELECT u.s, r.d FROM und u JOIN reach r ON u.d = r.s),
        comp AS (SELECT s AS $id, min(d) AS component_id FROM reach GROUP BY s)
        SELECT c.$id, CAST(c.component_id AS BIGINT) AS component_id,
               CAST(z.n AS BIGINT) AS n_members
        FROM comp c JOIN (SELECT component_id, count(*) AS n FROM comp GROUP BY 1) z
          ON c.component_id = z.component_id
        ORDER BY c.$id"""

  private def tokThList: String =
    s"[${dTokHash("t")} % ${TextHash.P} for t in string_split(text, ' ')]"

  private def shingleThList: String = {
    val n = TextHash.ShingleLen
    s"[${dTokHash(s"substring(text, i, $n)")} % ${TextHash.P} " +
      s"for i in generate_series(1, greatest(length(coalesce(text, '')) - ${n - 1}, 1))]"
  }

  private def minhashCtes: String = minhashCtesFor(tokThList)

  private def minhashCtesCapped: String =
    minhashCtesFor(tokThList, graft.llm.Dedup.MinhashMaxClass)

  private def shingleCtesCapped: String =
    minhashCtesFor(shingleThList, graft.llm.Dedup.MinhashMaxClass)

  /** Shared perceptual-hash CTEs (twin of Multimodal.phashOf): per media
    * row, 60 window-mean-vs-global-mean bits over the ASCII byte plane —
    * all-integer, division-free (ws·n > total·wl), so every bit matches.
    * DuckDB list slices are 1-based inclusive-end: window [st, en) maps to
    * bs[st+1 : en]; `//` keeps the bound arithmetic integral; the final
    * sum casts HUGEINT → BIGINT for the dtype-representation check. */
  private def phashCtes: String = {
    val B = graft.multimodal.Multimodal.PhashBits
    s"""$media,
        bb AS (SELECT media_id, kind,
                      [ascii(substr(text, i, 1))
                       for i in generate_series(1, length(text))] AS bs
               FROM m),
        ph AS (SELECT media_id, kind,
                 CAST(list_sum([CASE WHEN
                     COALESCE(list_sum(bs[CAST(i * len(bs) // $B AS BIGINT) + 1
                                          : CAST((i + 1) * len(bs) // $B AS BIGINT)]), 0)
                       * len(bs)
                     > COALESCE(list_sum(bs), 0)
                       * ((i + 1) * len(bs) // $B - i * len(bs) // $B)
                   THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END
                   for i in generate_series(0, ${B - 1})]) AS BIGINT) AS phash
               FROM bb)"""
  }

  /** Transitive-closure twin of Dedup.components (recursive CTE over the
    * jaccard-verified near-dup edges; component = min reachable doc) —
    * shared by q_dedup_components and the split-leakage audit, which joins
    * the closure to the content-keyed split rule. */
  private def dedupComponentsSql: String =
    s"""WITH RECURSIVE $minhashCtes,
        $distinctToks,
        edges AS (SELECT p.doc_a, p.doc_b,
               ${jaccard("a", "b")}
              FROM pairs p
              JOIN toks a ON p.doc_a = a.doc_id
              JOIN toks b ON p.doc_b = b.doc_id
              WHERE jac >= 0.95),
        ${closure("doc_a", "doc_b", "doc_id", "documents")}"""

  /** Shared simhash CTEs ending in sh(doc_id, simhash) — twin of
    * Dedup.simhashSig. */
  private def simhashCtes: String = {
    val sums = (0 until TextHash.SimBits).map(b =>
      s"SUM(CASE WHEN (h >> $b) % 2 = 1 THEN 1 ELSE -1 END) AS s$b").mkString(", ")
    val sig = (0 until TextHash.SimBits).map(b =>
      s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM documents),
        hh AS (SELECT doc_id, ${dTokHash("tok")} AS h FROM tok),
        bits AS (SELECT doc_id, $sums FROM hh GROUP BY doc_id),
        sh AS (SELECT doc_id, CAST($sig AS BIGINT) AS simhash FROM bits)"""
  }

  def twins: Seq[(String, String)] = Seq(
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS rep_id, count(*) AS n_copies, sha256(text) AS content_hash
         FROM documents GROUP BY sha256(text) ORDER BY rep_id""",
    "q_dedup_near" ->
      """SELECT min(doc_id) AS rep_id, count(*) AS n_members
         FROM documents
         GROUP BY sha256(array_to_string(list_sort(list_distinct(
                    string_split(lower(regexp_replace(text, '[^\p{L}\p{N}\s]', '', 'g')), ' '))), ' '))
         ORDER BY rep_id""",
    "q_dedup_minhash" ->
      s"""WITH $minhashCtesCapped
          SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""",
    "q_dedup_clusters" ->
      s"""WITH th AS (SELECT doc_id, $tokThList AS h FROM documents),
          k AS (SELECT doc_id, list_sort(list_distinct(h)) AS ths FROM th)
          SELECT doc_id,
                 CAST(min(doc_id) OVER (PARTITION BY ths) AS BIGINT) AS rep_id,
                 count(*) OVER (PARTITION BY ths) AS n_members
          FROM k ORDER BY doc_id""",
    "q_dedup_jaccard" ->
      s"""WITH $minhashCtesCapped,
          $distinctToks
          SELECT p.doc_a, p.doc_b,
                 ${jaccard("a", "b")}
          FROM pairs p
          JOIN toks a ON p.doc_a = a.doc_id
          JOIN toks b ON p.doc_b = b.doc_id
          WHERE jac >= 0.95 ORDER BY doc_a, doc_b""",
    // banding recall audit: exact all-pairs jaccard over the deterministic
    // rep sample vs the same band self-join the candidate queries run
    "q_dedup_recall" -> {
      import graft.llm.Dedup.{RecallSampleMod, RecallMinJac}
      s"""WITH rth AS (SELECT doc_id, $tokThList AS h FROM documents),
          rkeyed AS (SELECT doc_id, list_sort(list_distinct(h)) AS ths FROM rth),
          rreps AS (SELECT min(doc_id) AS doc_id, any_value(ths) AS ths
                    FROM rkeyed GROUP BY array_to_string(ths, ',')),
          rsamp AS (SELECT doc_id, ths, len(ths) AS nt FROM rreps
                    WHERE doc_id % $RecallSampleMod = 0),
          rtruth AS (SELECT x.doc_id AS ra, y.doc_id AS rb,
                            ${jaccard("x", "y")}
                     FROM rsamp x JOIN rsamp y ON x.doc_id < y.doc_id
                     WHERE jac >= $RecallMinJac),
          rsig AS (SELECT doc_id, ${minima("ths")} FROM rsamp),
          rbands AS (${bandRows("rsig")}),
          rcand AS (SELECT DISTINCT x.doc_id AS ca, y.doc_id AS cb
                    FROM rbands x JOIN rbands y
                      ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
          rhit AS (SELECT t.jac, CASE WHEN c.ca IS NULL THEN 0 ELSE 1 END AS hit
                   FROM rtruth t LEFT JOIN rcand c
                     ON t.ra = c.ca AND t.rb = c.cb),
          rbkt AS (SELECT CASE WHEN jac >= 0.95 THEN '[0.95,1.00]'
                               WHEN jac >= 0.90 THEN '[0.90,0.95)'
                               WHEN jac >= 0.85 THEN '[0.85,0.90)'
                               ELSE '[0.80,0.85)' END AS bucket, hit FROM rhit)
          SELECT bucket, count(*) AS n_true,
                 CAST(SUM(hit) AS BIGINT) AS n_caught,
                 CAST(SUM(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
          FROM rbkt GROUP BY bucket ORDER BY bucket"""
    },
    "q_dedup_shingle" ->
      s"""WITH $shingleCtesCapped
          SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""",
    // winnowing (positional fingerprints): per-position shingle hashes, then
    // window minima, distinct per doc; df-capped fp self-join; integer counts
    "q_dedup_winnow" -> {
      import graft.llm.Dedup.{WinnowWindow => W, WinnowMaxDf, WinnowMinShared}
      s"""WITH th AS (SELECT doc_id,
                 $shingleThList AS h
               FROM documents),
          fp AS (SELECT DISTINCT doc_id,
                 unnest([list_min(h[j:j+${W - 1}])
                         for j in generate_series(1, greatest(len(h) - ${W - 1}, 1))]) AS fp
               FROM th),
          kept AS (SELECT doc_id, fp FROM (
                 SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM fp)
               WHERE df <= $WinnowMaxDf)
          SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_shared
          FROM kept x JOIN kept y ON x.fp = y.fp AND x.doc_id < y.doc_id
          GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared
          ORDER BY doc_a, doc_b"""
    },
    // exact-substring audit: every W-token window hashed (identical window
    // string: array slice joined on ' '), cross-doc frequency over DISTINCT
    // (doc, hash) postings, per-doc exact fraction
    "q_dedup_substring" -> {
      val w = graft.llm.Dedup.SubstringW
      s"""WITH sdt AS (SELECT doc_id, string_split(coalesce(text, ''), ' ') AS tk
                       FROM documents),
          sdw AS (SELECT doc_id, unnest(generate_series(1, len(tk) - ${w - 1})) AS j, tk
                  FROM sdt WHERE len(tk) >= $w),
          sdh AS (SELECT doc_id,
                         ${dTokHash(s"array_to_string(tk[j:j+${w - 1}], ' ')")} % ${TextHash.P} AS wh
                  FROM sdw),
          sdd AS (SELECT wh, count(*) AS dfd FROM (SELECT DISTINCT doc_id, wh FROM sdh)
                  GROUP BY 1)
          SELECT h.doc_id, count(*) AS n_windows,
                 CAST(SUM(CASE WHEN d.dfd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
                 CAST(SUM(CASE WHEN d.dfd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS dup_frac
          FROM sdh h JOIN sdd d USING (wh)
          GROUP BY 1 ORDER BY 1"""
    },
    // transitive closure via a recursive CTE: reach(s, d) = d reachable from
    // s through jaccard-verified edges; component = min reachable doc.
    "q_dedup_components" -> dedupComponentsSql,
    // split-leakage audit: the components twin wrapped as a subquery joined
    // to the content-keyed split rule — a near-dup class whose members
    // carry different text can straddle splits (exact dups cannot)
    "q_split_leakage" ->
      s"""WITH comp AS (SELECT doc_id, component_id FROM ($dedupComponentsSql)),
          spl AS (SELECT doc_id,
                    CASE WHEN $splitHash % 100 < 80 THEN 'train'
                         WHEN $splitHash % 100 < 90 THEN 'val'
                         ELSE 'test' END AS split
                  FROM documents),
          lj AS (SELECT c.component_id, s.split
                 FROM comp c JOIN spl s USING (doc_id))
          SELECT component_id, count(*) AS n_members,
                 CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
                 CAST(CASE WHEN count(DISTINCT split) > 1 THEN 1 ELSE 0 END AS BIGINT) AS leaks
          FROM lj GROUP BY 1 HAVING count(*) > 1
          ORDER BY component_id""",
    // incremental dedup: the twin band-joins ALL docs, then restricts to
    // (corpus, batch) candidate pairs. The Spark side collapses the corpus
    // to distinct sets first — identical sets share every band, and rep =
    // min corpus member, so "min corpus doc among best matches" is the same
    // winner on both sides.
    "q_dedup_incremental" ->
      s"""WITH $minhashCtes,
          $distinctToks,
          cand AS (SELECT y.doc_id AS doc_id, x.doc_id AS corp
                   FROM bands x JOIN bands y ON x.band = y.band AND x.bh = y.bh
                   WHERE x.doc_id % ${graft.llm.Dedup.DeltaMod} <> ${graft.llm.Dedup.DeltaMod - 1}
                     AND y.doc_id % ${graft.llm.Dedup.DeltaMod} = ${graft.llm.Dedup.DeltaMod - 1}),
          ver AS (SELECT c.doc_id, c.corp,
                    ${jaccard("a", "b")}
                  FROM cand c
                  JOIN toks a ON c.corp = a.doc_id
                  JOIN toks b ON c.doc_id = b.doc_id
                  WHERE jac >= 0.95),
          best AS (SELECT doc_id, corp, jac,
                     row_number() OVER (PARTITION BY doc_id ORDER BY jac DESC, corp ASC) AS rn
                   FROM ver)
          SELECT d.doc_id, CAST(b.corp AS BIGINT) AS dup_of, b.jac,
                 b.corp IS NOT NULL AS is_dup
          FROM (SELECT doc_id FROM documents
                WHERE doc_id % ${graft.llm.Dedup.DeltaMod} = ${graft.llm.Dedup.DeltaMod - 1}) d
          LEFT JOIN (SELECT doc_id, corp, jac FROM best WHERE rn = 1) b USING (doc_id)
          ORDER BY d.doc_id""",
    "q_dedup_simhash" ->
      s"""WITH $simhashCtes
          SELECT doc_id, simhash FROM sh ORDER BY doc_id""",
    "q_dedup_simhash_pairs" -> {
      val chunks = (0 until 4).map(j =>
        s"SELECT doc_id, simhash, $j AS ck, (simhash >> ${15 * j}) & 32767 AS cv FROM se")
        .mkString(" UNION ALL ")
      s"""WITH $simhashCtes,
          se AS (SELECT doc_id, simhash FROM (
                   SELECT doc_id, simhash, row_number() OVER (
                       PARTITION BY simhash ORDER BY doc_id) AS _rn
                   FROM sh)
                 WHERE _rn <= ${graft.llm.Dedup.MinhashMaxClass}),
          chunks AS ($chunks),
          cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                          CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS dist
                   FROM chunks x JOIN chunks y
                     ON x.ck = y.ck AND x.cv = y.cv AND x.doc_id < y.doc_id)
          SELECT doc_a, doc_b, dist FROM cand WHERE dist <= 3 ORDER BY doc_a, doc_b"""
    },
    "q_dedup_embed" ->
      s"""WITH e AS (SELECT vec_id, label, embedding, ${dNorm("embedding")} AS nrm FROM embeddings)
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 ${dDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
          FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE cos >= 0.35 ORDER BY vec_a, vec_b""",
    "q_dedup_embed_lsh" ->
      s"""WITH ${bucketed("e")}
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 ${dDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
          FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
          WHERE cos >= 0.35 ORDER BY vec_a, vec_b""",
    "q_multimodal_phash" ->
      s"""WITH $phashCtes
          SELECT media_id, kind, phash FROM ph ORDER BY media_id""",
    "q_multimodal_dedup" -> {
      import graft.multimodal.Multimodal.{PhashBands, PhashBits, PhashHamMax}
      val bandBits = PhashBits / PhashBands
      val mask = (1L << bandBits) - 1
      s"""WITH $phashCtes,
          phe AS (SELECT media_id, phash FROM (
                    SELECT media_id, phash, row_number() OVER (
                        PARTITION BY phash ORDER BY media_id) AS _rn
                    FROM ph)
                  WHERE _rn <= ${graft.llm.Dedup.MinhashMaxClass}),
          bands AS (SELECT media_id, phash, g.b AS band,
                           (phash >> (g.b * $bandBits)) & $mask AS bh
                    FROM phe, generate_series(0, ${PhashBands - 1}) AS g(b)),
          pr AS (SELECT DISTINCT x.media_id AS media_a, y.media_id AS media_b,
                        CAST(bit_count(xor(x.phash, y.phash)) AS BIGINT) AS dist
                 FROM bands x JOIN bands y
                   ON x.band = y.band AND x.bh = y.bh
                      AND x.media_id < y.media_id)
          SELECT media_a, media_b, dist FROM pr
          WHERE dist <= $PhashHamMax ORDER BY media_a, media_b"""
    },
    "q_multimodal_decode" ->
      s"""WITH ${mediaHash(",\n CAST(length(text) AS BIGINT) AS blen")},
          d AS (SELECT media_id, kind,
                       (hv % 640) + 16 AS width,
                       ((hv // 640) % 480) + 16 AS height,
                       CASE WHEN kind = 'video' THEN (hv % 120) + 2 ELSE 1 END AS n_frames,
                       blen
                FROM h)
          SELECT kind, count(*) AS n,
                 CAST(sum(width) AS BIGINT) AS sum_w,
                 CAST(sum(height) AS BIGINT) AS sum_h,
                 CAST(sum(n_frames) AS BIGINT) AS sum_frames,
                 CAST(sum(blen) AS BIGINT) AS sum_bytes
          FROM d GROUP BY kind ORDER BY kind""",
    // resize scale mirrors Multimodal.resize exactly: least(1.0, 256/m) over
    // IEEE doubles then floor — both engines produce the identical double,
    // so the floor is identical (the repo's float discipline)
    "q_multimodal_resize" ->
      s"""WITH ${mediaHash()},
          d AS (SELECT media_id, kind,
                       CAST((hv % 640) + 16 AS INT) AS width,
                       CAST(((hv // 640) % 480) + 16 AS INT) AS height
                FROM h)
          SELECT media_id, kind, width, height,
                 CAST(floor(width * least(1.0, 256.0 / greatest(width, height))) AS INT) AS out_width,
                 CAST(floor(height * least(1.0, 256.0 / greatest(width, height))) AS INT) AS out_height
          FROM d ORDER BY media_id""",
    "q_multimodal_frames" ->
      s"""WITH ${mediaHash()},
          d AS (SELECT media_id, CAST((hv % 120) + 2 AS INT) AS n_frames
                FROM h WHERE kind = 'video')
          SELECT media_id, n_frames,
                 CAST(unnest(generate_series(0, n_frames - 1, 8)) AS INT) AS frame_idx
          FROM d ORDER BY media_id, frame_idx""",
    "q_dedup_chunk" ->
      s"""WITH ${TextCuration.chunkCtes}
          SELECT chunk_hash, min(doc_id) AS rep_doc_id, count(*) AS n_copies,
                 count(DISTINCT doc_id) AS n_docs
          FROM chks GROUP BY 1 ORDER BY chunk_hash""",
    // semantic dedup clusters: transitive closure over the LSH-blocked
    // cosine edges (same edge definition as q_dedup_embed_lsh) via a
    // recursive CTE; component = min reachable vec_id
    "q_dedup_embed_components" ->
      s"""WITH RECURSIVE ${bucketed("ee")},
          edges AS (SELECT a.vec_id AS va, b.vec_id AS vb,
                  ${dDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
                FROM ee a JOIN ee b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
                WHERE cos >= 0.35),
          ${closure("va", "vb", "vec_id", "embeddings")}""",
    // soft dedup: weight = 1/n_copies is one IEEE division of an exact
    // BIGINT class size — bit-stable, order-free
    "q_dedup_soft" ->
      """SELECT doc_id,
                count(*) OVER (PARTITION BY sha256(text)) AS n_copies,
                CAST(1.0 AS DOUBLE) / CAST(count(*) OVER (PARTITION BY sha256(text)) AS DOUBLE) AS weight
         FROM documents ORDER BY doc_id""",
  )
}
