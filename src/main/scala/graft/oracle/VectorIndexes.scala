package graft.oracle

import graft.llm.{Binary, Clustering, Fusion, IvfPq, Mining, Pq, RankEval, Similarity, TextAnalysis, TextHash}
import Sql._

/** DuckDB twins of the vector operators and ANN indexes: exact, LSH, IVF,
  * PQ, IVF-PQ, binary and graph serves with their maintenance twins,
  * fusion, rank audits, embedding statistics, k-means and pair mining. */
private[graft] object VectorIndexes {

  private val S = graft.Tables.MeanScale

  // ---- exact and IVF cosine serves ----

  /** The 8 probe queries over `e`. */
  private val queries8 = "q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm FROM e WHERE vec_id < 8)"

  /** Rank the candidates `c(q_id, n_id, cos)` per query; serve the top 10. */
  private val cosTop10 =
    s"""${ranked("r", "cos DESC, n_id", "c")}
        ${top10("""q_id, n_id, cos, "rank"""", "r")}"""

  /** The IVF serve over the cell ranking rc and assignment asg: each
    * query's NProbe best cells, exact cosine over their members. */
  private val ivfServe =
    s"""probes AS (SELECT vec_id AS q_id, cent_id FROM rc
                   WHERE crn <= ${Similarity.NProbe} AND vec_id < 8),
        $queries8,
        c AS (SELECT p.q_id, a.vec_id AS n_id,
                     ${dDot("q.q_emb", "a.embedding")} / (q.q_nrm * a.nrm) AS cos
              FROM probes p
              JOIN asg a ON p.cent_id = a.cent_id AND a.vec_id <> p.q_id
              JOIN q ON q.q_id = p.q_id),
        $cosTop10"""

  /** The untrained IVF over `e`: its first Cells vectors are the
    * centroids (twin of Similarity.ivfTopK). */
  private val seededIvf =
    s"""cent AS (SELECT vec_id AS cent_id, embedding AS c_emb, nrm AS c_nrm
                   FROM e WHERE vec_id < ${Similarity.Cells}),
          rc AS (SELECT e.vec_id, e.embedding, e.nrm, cent.cent_id,
                        row_number() OVER (PARTITION BY e.vec_id
                          ORDER BY ${dDot("e.embedding", "cent.c_emb")} / (e.nrm * cent.c_nrm) DESC,
                                   cent.cent_id) AS crn
                 FROM e, cent),
          asg AS (SELECT vec_id, embedding, nrm, cent_id FROM rc WHERE crn = 1),
          $ivfServe"""

  /** Exact brute-force cosine top-10 (twin of Similarity.bruteTopK) —
    * standalone for q_sim_topk and reused as the ground-truth side of the
    * recall audits. */
  private def simTopkSql: String =
    s"""WITH ${normed("e")},
        $queries8,
        c AS (SELECT q_id, e.vec_id AS n_id,
                     ${dDot("q_emb", "embedding")} / (q_nrm * nrm) AS cos
              FROM e, q WHERE e.vec_id <> q.q_id),
        $cosTop10"""

  private def exact = pairs("exact", simTopkSql)

  /** Cosine of `e` to centroid `c` (the IVF training assignment). */
  private def cellCos(c: String) =
    s"${dDot("e.embedding", s"$c.cemb")} / (e.nrm * sqrt(${dDot(s"$c.cemb", s"$c.cemb")}))"

  private val cells = whole("cent_id")

  /** `e` carrying each vector's integer label. */
  private val labeled =
    s"""e AS (SELECT vec_id, CAST(label AS BIGINT) AS label, embedding,
                     ${dNorm("embedding")} AS nrm FROM embeddings)"""

  /** Twin of Similarity.trainCentroids + the final assignment: yields e
    * (normed, labeled corpus), cent (trained centroids), rc
    * (vector×centroid ranking), asg (cell assignments) — the common prefix
    * of the trained-IVF twins. */
  private def ivfTrainCtes: String =
    s"""$labeled,
        ${lloyd(cells, "", "embeddings", Similarity.Cells, Similarity.TrainIters)(
          nearest(cells, "", "r", "e", s"${cellCos("c")} DESC"))},
        cent AS (SELECT cent_id, cemb, sqrt(${dDot("cemb", "cemb")}) AS c_nrm FROM c${Similarity.TrainIters}),
        rc AS (SELECT e.vec_id, e.label, e.embedding, e.nrm, cent.cent_id,
                      row_number() OVER (PARTITION BY e.vec_id
                        ORDER BY ${dDot("e.embedding", "cent.cemb")} / (e.nrm * cent.c_nrm) DESC,
                                 cent.cent_id) AS crn
               FROM e, cent),
        asg AS (SELECT vec_id, label, embedding, nrm, cent_id FROM rc WHERE crn = 1)"""

  private def ivfTrainedSql: String =
    s"""WITH $ivfTrainCtes,
        $ivfServe"""

  /** `np(nprobe)`: the sweep's probe counts. */
  private val nprobes =
    s"np(nprobe) AS (VALUES ${Similarity.SweepProbes.map(p => s"(CAST($p AS BIGINT))").mkString(", ")})"

  /** Recall per nprobe of `approx(nprobe, q_id, n_id)` against `exact`,
    * through the hit frame `h`. */
  private def sweepRecall(h: String, exact: String, approx: String) =
    s"""$h AS (SELECT np.nprobe, e.q_id, e.n_id, a.n_id AS hit
              FROM $exact e
              CROSS JOIN np
              LEFT JOIN $approx a ON a.nprobe = np.nprobe
                                AND a.q_id = e.q_id AND a.n_id = e.n_id)
        SELECT nprobe, count(*) AS n_exact,
               CAST(SUM(CASE WHEN hit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
               CAST(SUM(CASE WHEN hit IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS recall
        FROM $h GROUP BY 1 ORDER BY nprobe"""

  /** Twin of Similarity.ivfSweep: shared training CTEs, probes fanned
    * against the 3-value nprobe frame, one ranking per (nprobe, q_id),
    * recall against the brute-force exact side. */
  private def ivfSweepSql: String =
    s"""WITH $ivfTrainCtes,
        $nprobes,
        probes AS (SELECT vec_id AS q_id, cent_id, crn FROM rc
                   WHERE crn <= ${Similarity.SweepProbes.max} AND vec_id < 8),
        $queries8,
        cc AS (SELECT np.nprobe, p.q_id, a.vec_id AS n_id,
                      ${dDot("q.q_emb", "a.embedding")} / (q.q_nrm * a.nrm) AS cos
               FROM probes p
               CROSS JOIN np
               JOIN asg a ON p.cent_id = a.cent_id AND a.vec_id <> p.q_id
               JOIN q ON q.q_id = p.q_id
               WHERE p.crn <= np.nprobe),
        rr AS (SELECT *, row_number() OVER (PARTITION BY nprobe, q_id
                                            ORDER BY cos DESC, n_id) AS rk FROM cc),
        approx AS (SELECT nprobe, q_id, n_id FROM rr WHERE rk <= 10),
        $exact,
        ${sweepRecall("h", "exact", "approx")}"""

  // ---- maintenance: IVF over base-trained centroids ----

  /** Base-trained IVF CTE block of the maintenance twins: ut (the cut),
    * base-only Lloyd (ue/ucN), ucent, uf (full corpus), urc (full ranking
    * vs frozen centroids, c_cos carried), uasg. */
  private def ivfUpCtes: String =
    s"""${cut("ut", "embeddings")},
        ${normed("ue", "embeddings, ut WHERE vec_id < ut.t")},
        ${lloyd(cells, "u", "embeddings", Similarity.Cells, Similarity.TrainIters)(
          nearest(cells, "u", "uw", "ue e", s"${cellCos("c")} DESC"))},
        ucent AS (SELECT cent_id, cemb, sqrt(${dDot("cemb", "cemb")}) AS c_nrm FROM uc${Similarity.TrainIters}),
        ${normed("uf")},
        urc AS (SELECT f.vec_id, f.embedding, f.nrm, ucent.cent_id,
                       ${dDot("f.embedding", "ucent.cemb")} / (f.nrm * ucent.c_nrm) AS c_cos,
                       row_number() OVER (PARTITION BY f.vec_id
                         ORDER BY ${dDot("f.embedding", "ucent.cemb")} / (f.nrm * ucent.c_nrm) DESC,
                                  ucent.cent_id) AS crn
                FROM uf f, ucent),
        uasg AS (SELECT vec_id, embedding, nrm, cent_id FROM urc WHERE crn = 1)"""

  /** Twin of IvfMaintenance.upsertServe: centroids train on the base
    * slice only (the frozen index version), every vector (base and late)
    * assigns against them, and the serve ranks over the union. Assignment
    * is per-vector independent, so the union-of-slices Spark build and
    * this all-at-once replay are exactly equal. */
  private def ivfUpsertSql: String =
    s"""WITH $ivfUpCtes,
        uprob AS (SELECT vec_id AS q_id, cent_id FROM urc
                  WHERE crn <= ${Similarity.NProbe} AND vec_id < 8),
        uq AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
               FROM uf WHERE vec_id < 8),
        ucand AS (SELECT p.q_id, a.vec_id AS n_id,
                         ${dDot("q.q_emb", "a.embedding")} / (q.q_nrm * a.nrm) AS cos
                  FROM uprob p
                  JOIN uasg a ON p.cent_id = a.cent_id AND a.vec_id <> p.q_id
                  JOIN uq q ON q.q_id = p.q_id),
        ${ranked("urk", "cos DESC, n_id", "ucand")}
        ${top10(s"""q_id, n_id, cos, "rank", ${flag("n_id", "ut")}""", "urk, ut")}"""

  // ---- PQ and IVF-PQ ----

  /** Product-quantizer codebooks over the subvectors `sv`: `<p>c0`, the
    * Lloyd rounds (twin of Pq.lloydBooks), `<p>cf` the final books and `<p>cd`
    * every subvector's code, carrying the `carry` columns. */
  private def books(p: String, rank: String, sv: String, carry: Seq[String] = Nil,
                    where: String = ""): String = {
    val cols = "vec_id" +: carry :+ "m"
    s"""${lloyd(subspaces, p, sv, Pq.K, Pq.Iters)(
          nearest(subspaces, p, rank, s"$sv s", dDist2("s.sv", "c.csv"), where))},
        ${p}cf AS (SELECT m, code, csv FROM ${p}c${Pq.Iters}),
        ${p}cd AS (SELECT ${cols.mkString(", ")}, code FROM (
                  SELECT ${cols.map("s." + _).mkString(", ")}, c.code,
                         row_number() OVER (PARTITION BY s.vec_id, s.m
                           ORDER BY ${dDist2("s.sv", "c.csv")}, c.code) AS rn
                  FROM $sv s JOIN ${p}cf c ON c.m = s.m)
                WHERE rn = 1)"""
  }

  /** Twin of graft.llm.Pq: psv (all M subvectors), the trained books and
    * codes (pcf, pcd). */
  private def pqCtes: String = {
    import Pq.{M, SubDim => D}
    s"""psv AS (SELECT vec_id, m,
                 [CAST(embedding[m * $D + j] AS DOUBLE)
                  for j in generate_series(1, $D)] AS sv
               FROM embeddings, generate_series(0, ${M - 1}) AS gm(m)),
        ${books("p", "pr", "psv")}"""
  }

  /** The ADC estimates of the PQ serve: pqq (query subvectors), plut (ADC
    * tables), pe (m-ordered fold per candidate). */
  private def pqAdcCtes: String =
    s"""$pqCtes,
          pqq AS (SELECT vec_id AS q_id, m, sv AS qsv FROM psv
                  WHERE vec_id < ${Pq.NQueries}),
          plut AS (SELECT q.q_id, c.m, c.code, ${dDist2("q.qsv", "c.csv")} AS pd
                   FROM pqq q JOIN pcf c ON c.m = q.m),
          pe AS (SELECT l.q_id, cd.vec_id AS n_id,
                        list_sum(list(l.pd ORDER BY l.m)) AS est_d2
                 FROM pcd cd JOIN plut l ON l.m = cd.m AND l.code = cd.code
                 WHERE l.q_id <> cd.vec_id
                 GROUP BY 1, 2)"""

  /** `<p>res`: each vector's residual to its `cent` centroid on the 2^-48
    * grid; `<p>sv`: its residual subvectors (twin of IvfPq's residual
    * encoding). */
  private def cellResiduals(p: String, asg: String, cent: String): String = {
    import Pq.{M, SubDim => D}
    s"""${p}res AS (SELECT a.vec_id, a.cent_id,
                   [${resid("a.embedding[d]", "c.cemb[d]")}
                    for d in generate_series(1, len(a.embedding))] AS r
                 FROM $asg a JOIN $cent c USING (cent_id)),
        ${p}sv AS (SELECT vec_id, cent_id, m,
                  [r[m * $D + j] for j in generate_series(1, $D)] AS sv
                FROM ${p}res, generate_series(0, ${M - 1}) AS gm(m))"""
  }

  /** The IVFADC estimates (twin of IvfPq.estimates): `<p>prob` each
    * query's NProbe cells of `rc`, `<p>qr` its PER-CELL residual
    * subvectors, `<p>lut` the per-cell ADC tables, `<p>est` the
    * m-ordered-fold distance estimates over the `<p>cd` codes. `crn`
    * carries each cell's probe rank through to the estimates. */
  private def adc(p: String, rc: String, cent: String, crn: Boolean): String = {
    import Pq.{M, SubDim => D}
    def k(a: String) = if (crn) s"$a.crn, " else ""
    s"""${p}prob AS (SELECT vec_id AS q_id, ${if (crn) "crn, " else ""}cent_id FROM $rc
                  WHERE crn <= ${Similarity.NProbe} AND vec_id < ${IvfPq.NQueries}),
        ${p}qr AS (SELECT p.q_id, ${k("p")}p.cent_id, m,
                  [${resid(s"q.embedding[m * $D + j]", s"c.cemb[m * $D + j]")}
                   for j in generate_series(1, $D)] AS qsv
                FROM ${p}prob p
                JOIN $cent c USING (cent_id)
                JOIN embeddings q ON q.vec_id = p.q_id,
                generate_series(0, ${M - 1}) AS gm(m)),
        ${p}lut AS (SELECT r.q_id, ${k("r")}r.cent_id, b.m, b.code,
                        ${dDist2("r.qsv", "b.csv")} AS pd
                 FROM ${p}qr r JOIN ${p}cf b ON b.m = r.m),
        ${p}est AS (SELECT l.q_id, cd.vec_id AS n_id,
                        list_sum(list(l.pd ORDER BY l.m)) AS est_d2${if (crn) ",\n min(l.crn) AS crn" else ""}
                 FROM ${p}cd cd
                 JOIN ${p}lut l ON l.cent_id = cd.cent_id AND l.m = cd.m
                            AND l.code = cd.code
                 WHERE l.q_id <> cd.vec_id
                 GROUP BY 1, 2)"""
  }

  /** Exact euclidean re-rank of each query's `shortlist` best estimates in
    * `est`: `<p>sl`, `<p>re` (exact d2), `<p>rr` (ranked). */
  private def rerank(p: String, est: String, shortlist: Int) =
    s"""${p}sl AS (SELECT q_id, n_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY est_d2, n_id) AS rn FROM $est)
                WHERE rn <= $shortlist),
        ${p}re AS (SELECT s.q_id, s.n_id,
                       ${dDist2("qq.embedding", "nn.embedding")} AS d2
                FROM ${p}sl s
                JOIN embeddings qq ON qq.vec_id = s.q_id
                JOIN embeddings nn ON nn.vec_id = s.n_id),
        ${ranked(s"${p}rr", "d2, n_id", s"${p}re")}"""

  /** Twin of graft.llm.IvfPq: the trained-IVF block extended with the
    * residual books (vcf/vcd, codes with cell id) and the IVFADC
    * estimates (vest). */
  private def ivfPqCtes: String =
    s"""$ivfTrainCtes,
        ${cellResiduals("v", "asg", "cent")},
        ${books("v", "vw", "vsv", Seq("cent_id"))},
        ${adc("v", "rc", "cent", crn = true)}"""

  /** The composite's frozen books: base-trained coarse stage
    * (ivfUpCtes), residual books trained on the base residuals only, and
    * every vector's codes vs the frozen books (wcd) with its residual
    * subvectors (wsv). */
  private def ivfPqUpCtes: String =
    s"""$ivfUpCtes,
        ${cellResiduals("w", "uasg", "ucent")},
        ${books("w", "ww", "wsv", Seq("cent_id"), "\n WHERE s.vec_id < (SELECT t FROM ut)")}"""

  /** Twin of IvfPq.drift — per segment, the mean ADC reconstruction error
    * under the frozen coarse centroids + frozen residual books: for every
    * (vector, subspace), d²(residual subvector, assigned codeword),
    * floor-quantized at 2^-48 so the cross-row sum is order-free. */
  private def ivfPqDriftSql: String =
    s"""WITH $ivfPqUpCtes,
        wqe AS (SELECT s.vec_id,
                       CAST(floor(${dDist2("s.sv", "b.csv")} * $S.0) AS BIGINT) AS sqe
                FROM wsv s
                JOIN wcd cd ON cd.vec_id = s.vec_id AND cd.m = s.m
                JOIN wcf b ON b.m = s.m AND b.code = cd.code)
        SELECT ${segment("vec_id", "ut")},
               count(DISTINCT vec_id) AS n,
               CAST(CAST(SUM(CAST(sqe AS DECIMAL(38,0))) AS VARCHAR) AS DOUBLE)
                 / (CAST(count(DISTINCT vec_id) AS DOUBLE) * $S.0) AS mean_qerr
        FROM wqe, ut GROUP BY 1 ORDER BY 1"""

  /** The base ∪ delta ADC estimates (west) — twin of IvfPq.upsertEst:
    * every vector encodes against the frozen books. */
  private def ivfPqUpServeCtes: String =
    s"""$ivfPqUpCtes,
        ${adc("w", "urc", "ucent", crn = false)}"""

  /** Twin of IvfPq.upsertAdcTopK — the composite's maintenance serve. */
  private def ivfPqUpsertSql: String =
    s"""WITH $ivfPqUpServeCtes,
        ${ranked("wrk", "est_d2, n_id", "west")}
        ${top10(s"""q_id, n_id, est_d2, "rank", ${flag("n_id", "ut")}""", "wrk, ut")}"""

  /** Twin of IvfPq.upsertRerankTopK — ADC shortlist over base ∪ delta
    * codes, exact euclidean re-rank of only those rows. */
  private def ivfPqUpsertRerankSql: String =
    s"""WITH $ivfPqUpServeCtes,
        ${rerank("w", "west", IvfPq.Shortlist)}
        ${top10(s"""q_id, n_id, d2, "rank", ${flag("n_id", "ut")}""", "wrr, ut")}"""

  /** Twin of IvfPq.rerankTopK — shared by q_sim_ivfpq_rerank and the
    * recall audit's approx side. */
  private def ivfPqRerankSql: String =
    s"""WITH $ivfPqCtes,
        ${rerank("v", "vest", IvfPq.Shortlist)}
        ${top10("""q_id, n_id, d2, "rank"""", "vrr")}"""

  /** Exact euclidean brute top-10 (twin of IvfPq.bruteL2TopK) — the ground
    * truth of the IVF-PQ recall audit. */
  private def bruteL2Sql: String =
    s"""WITH bq AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
                    WHERE vec_id < ${IvfPq.NQueries}),
        bc AS (SELECT bq.q_id, e.vec_id AS n_id,
                      ${dDist2("bq.qe", "e.embedding")} AS d2
               FROM bq, embeddings e WHERE e.vec_id <> bq.q_id),
        br AS (SELECT *, row_number() OVER (PARTITION BY q_id
                 ORDER BY d2, n_id) AS rn FROM bc)
        SELECT q_id, n_id FROM br WHERE rn <= 10"""

  // ---- binary quantization ----

  /** Binary-quantization CTEs ending in bsig(vec_id, h0, h1) — twin of
    * Binary.signed: scaled-BIGINT per-dimension means (the q_embed_mean
    * discipline, tie-free), then one centered sign bit per dimension packed
    * into two 32-bit halves (no engine shifts into a 64-bit sign bit —
    * DuckDB raises on BIGINT overflow where two's-complement would wrap).
    * With `baseOnlyMu` the means train on the base slice only (vec_id <
    * bt.t) — the frozen-μ form the maintenance twins share. */
  private def binarySigCtes(baseOnlyMu: Boolean): String = {
    val H = Binary.HalfBits
    def half(off: Int) =
      s"""CAST(list_sum([CASE WHEN CAST(embedding[i + ${off + 1}] AS DOUBLE)
                                   > mu[i + ${off + 1}]
                              THEN CAST(1 AS BIGINT) << i
                              ELSE CAST(0 AS BIGINT) END
                         for i in generate_series(0, ${H - 1})]) AS BIGINT)"""
    val bt = if (!baseOnlyMu) "" else s"${cut("bt", "embeddings")},\n        "
    val muFrom = if (baseOnlyMu) "FROM embeddings, bt WHERE vec_id < bt.t"
                 else "FROM embeddings"
    s"""$bt${meanSums("bx", "bg", muFrom)},
        bmu AS (SELECT list(CAST(ssx AS DOUBLE) / (CAST(n AS DOUBLE) * $S.0)
                  ORDER BY i) AS mu FROM bg),
        bsig AS (SELECT vec_id, ${half(0)} AS h0, ${half(H)} AS h1
                 FROM embeddings, bmu)"""
  }

  /** Per-dimension 2^48-scaled BIGINT sums `g(i, ssx, n)` of the vectors
    * of `from`, through the unnested `x(i, sx)`. */
  private def meanSums(x: String, g: String, from: String) =
    s"""$x AS (SELECT unnest(generate_series(1, len(embedding))) - 1 AS i,
                unnest([CAST(CAST(e AS DOUBLE) * $S.0 AS BIGINT)
                        for e in embedding]) AS sx
              $from),
        $g AS (SELECT i, CAST(SUM(sx) AS BIGINT) AS ssx, count(*) AS n
               FROM $x GROUP BY 1)"""

  /** The Hamming-shortlist + exact-cosine re-rank serve over bsig (twin
    * of Binary.topK), ending in the ranked brr. */
  private val binaryServe =
    s"""bq AS (SELECT vec_id AS q_id, h0 AS q0, h1 AS q1 FROM bsig
               WHERE vec_id < ${Binary.NQueries}),
        bham AS (SELECT q.q_id, s.vec_id AS n_id,
                        CAST(bit_count(xor(s.h0, q.q0))
                           + bit_count(xor(s.h1, q.q1)) AS BIGINT) AS hd
                 FROM bsig s JOIN bq q ON s.vec_id <> q.q_id),
        bsl AS (SELECT q_id, n_id, hd FROM (
                  SELECT *, row_number() OVER (PARTITION BY q_id
                    ORDER BY hd, n_id) AS rn FROM bham)
                WHERE rn <= ${Binary.Shortlist}),
        bre AS (SELECT s.q_id, s.n_id, s.hd,
                       ${dDot("qq.embedding", "nn.embedding")}
                         / (${dNorm("qq.embedding")} * ${dNorm("nn.embedding")}) AS cos
                FROM bsl s
                JOIN embeddings qq ON qq.vec_id = s.q_id
                JOIN embeddings nn ON nn.vec_id = s.n_id),
        ${ranked("brr", "cos DESC, n_id", "bre")}"""

  /** Twin of BinaryMaintenance.upsertServe: means frozen on the base
    * slice, every vector signed against them (signing is per-row
    * independent, so the union-of-slices snapshot build and this
    * all-at-once replay are exactly equal), the standard serve, is_new. */
  private def binaryUpsertSql: String =
    s"""WITH ${binarySigCtes(baseOnlyMu = true)},
        $binaryServe
        ${top10(s"""q_id, n_id, hd, cos, "rank", ${flag("n_id", "bt")}""", "brr, bt")}"""

  /** Twin of BinaryMaintenance.drift: per-segment mean |x − μ| against
    * the frozen base means (floor-quantized exact sums, one division by
    * the (n · d · scale) product) plus the set-bit rate of the signatures
    * signed against the same means. */
  private def binaryDriftSql: String = {
    val H = Binary.HalfBits
    s"""WITH ${binarySigCtes(baseOnlyMu = true)},
        bad AS (SELECT vec_id,
                       CAST(list_sum([CAST(floor(abs(CAST(embedding[i] AS DOUBLE) - mu[i]) * $S.0) AS BIGINT)
                                      for i in generate_series(1, len(embedding))]) AS BIGINT) AS sadev
                FROM embeddings, bmu),
        bseg AS (SELECT ${segment("vec_id", "bt")},
                        sadev
                 FROM bad, bt),
        bag AS (SELECT segment, count(*) AS n,
                       CAST(CAST(SUM(sadev) AS VARCHAR) AS DOUBLE)
                         / (CAST(count(*) AS DOUBLE) * ${2 * H}.0 * $S.0) AS mean_adev
                FROM bseg GROUP BY 1),
        bbit AS (SELECT ${segment("s.vec_id", "bt")},
                        bit_count(s.h0) + bit_count(s.h1) AS b
                 FROM bsig s, bt),
        bbr AS (SELECT segment,
                       CAST(SUM(b) AS DOUBLE)
                         / (CAST(count(*) AS DOUBLE) * ${2 * H}.0) AS bit_rate
                FROM bbit GROUP BY 1)
        SELECT a.segment, a.n, a.mean_adev, r.bit_rate
        FROM bag a JOIN bbr r USING (segment) ORDER BY segment"""
  }

  /** Standalone binary-serve twin (q_sim_binary_topk, reused as the
    * approx side of q_sim_binary_recall). */
  private def binaryTopkSql: String =
    s"""WITH ${binarySigCtes(baseOnlyMu = false)},
        $binaryServe
        ${top10("""q_id, n_id, hd, cos, "rank"""", "brr")}"""

  // ---- graph index ----

  /** NN-descent CTEs over the corpus slice `pred`, ending in the refined
    * working graph d{DescentIters}(src, dst, cos, rnk ≤ DescentK) — twin
    * of Similarity.descentGraph (dense ids, so the long-link modulus is
    * the filtered count). MATERIALIZED is load-bearing: each round
    * references the previous graph 6× through the base/two-hop CTEs, so
    * an inlined expansion is 6^iters copies of the init scan — DuckDB runs
    * out of file handles (and time) at 4 rounds. Materializing each round
    * keeps the twin linear, mirroring the Spark side's per-round
    * localCheckpoint. */
  private def ndCtesFor(pred: String): String = {
    import Similarity.{DescentIters, DescentK}
    def keep(sc: String, d: String) =
      s"""$d AS MATERIALIZED (SELECT src, dst, cos, CAST(rnk AS BIGINT) AS rnk FROM (
                   SELECT *, row_number() OVER (PARTITION BY src
                     ORDER BY cos DESC, dst) AS rnk FROM $sc)
                 WHERE rnk <= $DescentK)"""
    def scored(c: String, sc: String) =
      s"""$sc AS (SELECT c.src, c.dst,
              ${dDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
            FROM $c c JOIN ee a ON a.vec_id = c.src
            JOIN ee b ON b.vec_id = c.dst)"""
    val rounds = (1 to DescentIters).map { r =>
      val prev = s"d${r - 1}"
      s"""b$r AS MATERIALIZED (SELECT src, dst FROM $prev
                  UNION ALL SELECT dst, src FROM $prev),
          c$r AS (SELECT DISTINCT src, dst FROM (
                    SELECT src, dst FROM b$r
                    UNION ALL
                    SELECT x.src, y.dst FROM b$r x JOIN b$r y ON x.dst = y.src)
                  WHERE dst <> src),
          ${scored(s"c$r", s"sc$r")},
          ${keep(s"sc$r", s"d$r")}"""
    }.mkString(",\n")
    s"""${normed("ee", s"embeddings WHERE $pred")},
        nn AS (SELECT count(*) AS n FROM embeddings WHERE $pred),
        nl AS (${Similarity.LongLinkA.zip(Similarity.LongLinkB)
                  .map { case (a, b) =>
                    s"""SELECT vec_id AS src,
                        (vec_id * $a + $b) % ${TextHash.P} % n AS dst
                        FROM embeddings, nn WHERE $pred""" }
                  .mkString(" UNION ALL ")}),
        c0 AS (SELECT DISTINCT src, dst FROM (
                 SELECT src, dst FROM nl WHERE dst <> src
                 UNION ALL SELECT dst, src FROM nl WHERE dst <> src)),
        ${scored("c0", "sc0")},
        ${keep("sc0", "d0")},
        $rounds"""
  }

  private def ndCtes: String = ndCtesFor("TRUE")

  /** The served graph (descent graph ∪ both long-link directions), the
    * query CTE `queries`, and the NEntries highest in-degree entry points
    * (gdeg, gent) — the frame the beam walks. */
  private def walkCtes(queries: String): String = {
    import Similarity.{DescentIters, NEntries}
    s"""graph AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
                    SELECT src, dst FROM d$DescentIters
                    UNION ALL SELECT src, dst FROM nl WHERE dst <> src
                    UNION ALL SELECT dst, src FROM nl WHERE dst <> src)),
        $queries,
        gdeg AS (SELECT dst, count(*) AS deg FROM d$DescentIters GROUP BY dst),
        gent AS (SELECT dst AS n_id FROM gdeg ORDER BY deg DESC, dst LIMIT $NEntries)"""
  }

  /** Standalone graph-search twin (q_sim_graph_search, reused as the
    * approx side of q_sim_graph_recall): the serve walks the published
    * NN-descent working graph + long links — the twin rebuilds the
    * identical graph (the Spark side's publish is deterministic, so
    * rebuild ≡ read), then unrolls the beam rounds. */
  private def graphSearchSql: String =
    s"""WITH $ndCtes,
        ${walkCtes("""gq AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
               FROM ee WHERE vec_id < 8)""")},
        ${beam("", "graph", "gq", "ee", notSelf = true, "\"rank\"")}
        ${top10("""q_id, n_id, cos, "rank"""", "fin")}"""

  /** The insert twin's CTE body (twin of GraphMaintenance.insert): the
    * base graph is the NN-descent build over the frozen base slice, the
    * late batch is the query set, and the identical beam rounds run to
    * each new node's links (fin, ranked as rnk). Shared by the insert,
    * the freshness serve and the graph drift twin. */
  private def graphInsertCtes: String =
    s"""${cut("icut", "embeddings")},
        ${ndCtesFor("vec_id < (SELECT t FROM icut)")},
        ${walkCtes(s"""giq AS (SELECT vec_id AS q_id, embedding AS q_emb,
                       ${dNorm("embedding")} AS q_nrm
                FROM embeddings WHERE vec_id >= (SELECT t FROM icut))""")},
        ${beam("", "graph", "giq", "ee", notSelf = false, "rnk")}"""

  private def graphInsertSql: String =
    s"""WITH $graphInsertCtes
        SELECT q_id AS vec_id, rnk, n_id, cos FROM fin
        WHERE rnk <= ${Similarity.GraphK} ORDER BY vec_id, rnk"""

  /** Twin of GraphMaintenance.upsertSearch — the graph freshness serve:
    * the 8-query beam walks base graph + base long links + the inserted
    * delta edges (both directions), scoring against the FULL corpus;
    * `is_new` flags late nodes in the served top-10s. */
  private def graphUpsertSql: String =
    s"""WITH $graphInsertCtes,
        ins AS (SELECT q_id AS src, n_id AS dst FROM fin WHERE rnk <= ${Similarity.GraphK}),
        ugraph AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
                    SELECT src, dst FROM graph
                    UNION ALL SELECT src, dst FROM ins
                    UNION ALL SELECT dst, src FROM ins)),
        ${normed("fe")},
        uq AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm
               FROM fe WHERE vec_id < 8),
        ${beam("u", "ugraph", "uq", "fe", notSelf = true, "\"rank\"")}
        ${top10(s"""q_id, n_id, cos, "rank", ${flag("n_id", "icut")}""", "ufin, icut")}"""

  /** The floor-quantized mean of `col` per segment (the q_index_drift
    * discipline: DuckDB SUM(BIGINT) is HUGEINT — matches Spark's
    * Decimal(38,0) accumulator) and its minimum. */
  private def segmentMean(col: String, from: String) =
    s"""SELECT segment, count(*) AS n,
                 CAST(CAST(SUM(CAST(floor($col * $S) AS BIGINT)) AS VARCHAR) AS DOUBLE)
                   / (CAST(count(*) AS DOUBLE) * $S) AS mean_cos,
                 min($col) AS min_cos
          FROM $from GROUP BY 1 ORDER BY 1"""

  // ---- fusion and rank audits ----

  /** One RRF term: 1/(k + rank) as one IEEE division, 0 when the member
    * did not return the pair (DuckDB's bare 1.0 literal is DECIMAL — the
    * CAST keeps both engines on one correctly-rounded op per term). */
  private def rrf(r: String) = s"coalesce(CAST(1 AS DOUBLE) / (${Fusion.FusionK} + $r), CAST(0 AS DOUBLE))"

  /** The three member serves as rank columns (fi, fg, fb). */
  private def members(ivf: String, graph: String, bin: String) =
    s"""fi AS (SELECT q_id, n_id, "rank" AS r_ivf FROM ($ivf)),
        fg AS (SELECT q_id, n_id, "rank" AS r_graph FROM ($graph)),
        fb AS (SELECT q_id, n_id, "rank" AS r_bin FROM ($bin))"""

  private def baseMembers = members(ivfTrainedSql, graphSearchSql, binaryTopkSql)

  /** The members' chained FULL JOIN USING (coalesced keys, the standard
    * semantics Spark's full_outer-with-Seq mirrors) as fj. */
  private val joined =
    """fj AS (SELECT q_id, n_id, r_ivf, r_graph, r_bin
               FROM fi
               FULL OUTER JOIN fg USING (q_id, n_id)
               FULL OUTER JOIN fb USING (q_id, n_id))"""

  /** The three RRF terms added in the fixed textual order. */
  private val rrf3 = s"""${rrf("r_ivf")} +
                      ${rrf("r_graph")} +
                      ${rrf("r_bin")}"""

  /** fj and its RRF score fs. */
  private val fused =
    s"""$joined,
        fs AS (SELECT q_id, n_id,
                      $rrf3 AS rrf
               FROM fj)"""

  /** CTE `name`: each query's top 10 of `from` by rrf. */
  private def topByRrf(name: String, from: String) =
    s"""$name AS (SELECT q_id, n_id FROM (
                   SELECT *, row_number() OVER (PARTITION BY q_id
                     ORDER BY rrf DESC, n_id) AS rn FROM $from)
                 WHERE rn <= 10)"""

  /** Twin of Fusion.fusedTopK: the three member twins as subqueries, the
    * RRF terms added in the IDENTICAL textual order (ivf + graph + binary)
    * with explicit double division. */
  private def fusedSql: String =
    s"""WITH $baseMembers,
        $fused,
        ${ranked("fr", "rrf DESC, n_id", "fs")}
        ${top10("""q_id, n_id, rrf, "rank"""", "fr")}"""

  /** Twin of Fusion.fusedUpsertTopK: the three UPSERT member twins fused
    * with the identical fixed-order RRF; is_new re-derives from the shared
    * base cut (one scalar CTE), not from the members' flags. */
  private def fusedUpsertSql: String =
    s"""WITH ${cut("fut", "embeddings")},
        ${members(ivfUpsertSql, graphUpsertSql, binaryUpsertSql)},
        $fused,
        ${ranked("fr", "rrf DESC, n_id", "fs")}
        ${top10(s"""q_id, n_id, rrf, "rank", ${flag("n_id", "fut")}""", "fr, fut")}"""

  /** The hybrid fusion's shared CTE chain (lexical tower + RRF over the
    * given dense-tower subquery), ending at hr — the ranked fused frame
    * the base and upsert twins select from. Per-query selective terms (the
    * bm25 twin's derivation, partitioned by query doc), posting-list BM25
    * with the shared bm25ScoreSql + decimal-staged per-(q, doc) sum. */
  private def hybridSqlCtes(denseSql: String): String = {
    import Fusion.{HybridQTerms, HybridQueries}
    s"""$tokens,
        $termCounts,
        hqt AS (SELECT q_id, token, df FROM (
                  SELECT t.doc_id AS q_id, t.token, d.df,
                         row_number() OVER (PARTITION BY t.doc_id
                           ORDER BY d.df, t.token) AS trn
                  FROM tfx t JOIN dfx d USING (token)
                  WHERE t.doc_id < $HybridQueries)
                WHERE trn <= $HybridQTerms),
        $docLengths,
        hsc AS (SELECT q.q_id, tfx.doc_id, ${TextAnalysis.bm25ScoreSql} AS score_t
                FROM tfx JOIN hqt q USING (token)
                JOIN dlx ON dlx.doc_id = tfx.doc_id, st
                WHERE tfx.doc_id <> q.q_id),
        hlx AS (SELECT q_id, doc_id,
                       CAST(CAST(SUM(CAST(score_t AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS score
                FROM hsc GROUP BY 1, 2),
        hl AS (SELECT q_id, n_id, r_lex FROM (
                 SELECT q_id, doc_id AS n_id,
                        CAST(row_number() OVER (PARTITION BY q_id
                          ORDER BY score DESC, doc_id) AS BIGINT) AS r_lex
                 FROM hlx)
               WHERE r_lex <= 10),
        hd AS (SELECT q_id, n_id, "rank" AS r_dense FROM ($denseSql)),
        hj AS (SELECT q_id, n_id, r_lex, r_dense
               FROM hl FULL OUTER JOIN hd USING (q_id, n_id)),
        hs AS (SELECT q_id, n_id,
                      ${rrf("r_lex")} +
                      ${rrf("r_dense")} AS rrf
               FROM hj),
        ${ranked("hr", "rrf DESC, n_id", "hs")}"""
  }

  /** Twin of Fusion.hybridTopK — shared by q_retrieve_hybrid and its
    * recall audit q_retrieve_recall. */
  private def hybridTopkSql: String =
    s"""WITH ${hybridSqlCtes(ivfTrainedSql)}
        ${top10("""q_id, n_id, rrf, "rank"""", "hr")}"""

  /** Twin of Fusion.hybridUpsertTopK — both towers replayed all-at-once:
    * the lexical CTEs recompute the full-corpus tf/df/dl/stats, which the
    * MERGED snapshot members equal bit-for-bit (integer counting — the
    * LexUpsertSpec equivalence), and the dense side is the frozen-centroid
    * upsert twin. The two id spaces freeze at different cuts, so the twin
    * re-derives both flags from their own tables. */
  private def hybridUpsertSql: String =
    s"""WITH ${cut("hdc", "documents")},
        ${cut("hec", "embeddings")},
        ${hybridSqlCtes(ivfUpsertSql)}
        ${top10(s"""q_id, n_id, rrf, "rank",
               ${flag("n_id", "hdc", "is_new_lex")},
               ${flag("n_id", "hec", "is_new_dense")}""", "hr, hdc, hec")}"""

  /** One family's per-query top-10 CHANGE-FEED rows for the
    * q_sim_rank_diff twin: base vs upsert serve full-outer-joined on
    * (q_id, n_id), folded to exact integer churn counts — kept / entered /
    * dropped members, summed |rank| displacement of kept ones, and whether
    * rank 1 changed. */
  private def rankDiffSql(fam: String, baseSql: String, upsSql: String): String =
    s"""SELECT '$fam' AS family, q_id,
           CAST(COUNT(CASE WHEN r_base IS NOT NULL AND r_ups IS NOT NULL THEN 1 END) AS BIGINT) AS n_common,
           CAST(COUNT(CASE WHEN r_base IS NULL THEN 1 END) AS BIGINT) AS n_new,
           CAST(COUNT(CASE WHEN r_ups IS NULL THEN 1 END) AS BIGINT) AS n_dropped,
           CAST(COALESCE(SUM(CASE WHEN r_base IS NOT NULL AND r_ups IS NOT NULL
             THEN abs(r_base - r_ups) ELSE 0 END), 0) AS BIGINT) AS displacement,
           CAST(MAX(CASE WHEN r_ups = 1 AND (r_base IS NULL OR r_base <> 1)
             THEN 1 ELSE 0 END) AS BIGINT) AS top1_changed
        FROM (SELECT COALESCE(b.q_id, u.q_id) AS q_id, b.r_base, u.r_ups
              FROM (SELECT q_id, n_id, "rank" AS r_base FROM ($baseSql)) b
              FULL OUTER JOIN (SELECT q_id, n_id, "rank" AS r_ups FROM ($upsSql)) u
              ON b.q_id = u.q_id AND b.n_id = u.n_id)
        GROUP BY q_id"""

  /** One family's per-query rank-metric rows for the rank-quality twins:
    * integer rel_r pivot + first-hit rank, grouped over the served Q·10
    * frame left-joined to the family's exact relevant set (a CTE named
    * `exactCte` must be in scope — `exact` is the cosine set; the L2-space
    * composite grades against `exact_l2`, the recall-audit contract). The
    * DCG fold happens in the outer select via RankEval.dcgSqlExpr — the
    * SAME text the Spark side executes. */
  private def rankMetricsCte(fam: String, servedSql: String,
                             exactCte: String = "exact"): String = {
    val fh = """min(CASE WHEN e.n_id IS NOT NULL THEN a."rank" END)"""
    val rels = (1 to 10).map(r =>
      s"""CAST(max(CASE WHEN a."rank" = $r AND e.n_id IS NOT NULL
              THEN 1 ELSE 0 END) AS BIGINT) AS rel_$r""").mkString(", ")
    s"""SELECT '$fam' AS family, a.q_id,
          CAST(coalesce($fh, 0) AS BIGINT) AS first_hit,
          CASE WHEN $fh IS NOT NULL
               THEN CAST(1 AS DOUBLE) / CAST($fh AS DOUBLE)
               ELSE CAST(0 AS DOUBLE) END AS rr,
          $rels
        FROM ($servedSql) a LEFT JOIN $exactCte e
          ON a.q_id = e.q_id AND a.n_id = e.n_id
        GROUP BY a.q_id"""
  }

  /** MRR + nDCG@10 of six serve families (ivf, graph, binary, fused,
    * ivfpq, hybrid) against the exact top-10. The log2 discounts and the
    * IDCG are shortest-repr literals shared with the Spark side
    * (RankEval.Discounts), and the DCG is the same fixed-order term sum —
    * transcendental-free in both engines at query time. */
  private def rankQualitySql(ivf: String, graph: String, bin: String, fused: String,
                             ivfpq: String, hybrid: String): String =
    s"""WITH $exact,
          ${pairs("exact_l2", bruteL2Sql)},
          m_ivf AS (${rankMetricsCte("ivf", ivf)}),
          m_graph AS (${rankMetricsCte("graph", graph)}),
          m_bin AS (${rankMetricsCte("binary", bin)}),
          m_fused AS (${rankMetricsCte("fused", fused)}),
          m_ivfpq AS (${rankMetricsCte("ivfpq", ivfpq, "exact_l2")}),
          m_hybrid AS (${rankMetricsCte("hybrid", hybrid)}),
          m AS (SELECT * FROM m_ivf UNION ALL SELECT * FROM m_graph
                UNION ALL SELECT * FROM m_bin UNION ALL SELECT * FROM m_fused
                UNION ALL SELECT * FROM m_ivfpq UNION ALL SELECT * FROM m_hybrid),
          md AS (SELECT family, q_id, first_hit, rr,
                        ${RankEval.dcgSqlExpr} AS dcg
                 FROM m)
          SELECT family, q_id, first_hit, rr, dcg,
                 dcg / CAST(${RankEval.IdcgLit} AS DOUBLE) AS ndcg
          FROM md ORDER BY family, q_id"""

  // ---- embedding statistics ----

  /** `x(vec_id, i, xi)`: every embedding element as a double. */
  private val elements =
    """x AS (SELECT vec_id,
                     unnest(generate_series(1, len(embedding))) - 1 AS i,
                     unnest([CAST(e AS DOUBLE) for e in embedding]) AS xi
              FROM embeddings)"""

  /** The Gram matrix G[i, j], i ≤ j, over `x`: each product one IEEE
    * multiply of exactly-widened floats, decimal-staged before the
    * order-free sum (dsum discipline). */
  private val gram =
    """SELECT a.i, b.i AS j,
                     CAST(CAST(SUM(CAST(a.xi * b.xi AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS g,
                     count(*) AS n
              FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
              GROUP BY 1, 2"""

  /** Shared covariance-statistic CTEs (x → g Gram / m,mm mean): the twin of
    * Similarity.gram + meanVector, used by both q_embed_covariance and the
    * PCA oracle. */
  private def covCtes: String =
    s"""$elements,
        g AS ($gram),
        m AS (SELECT i,
                     CAST(SUM(CAST(xi * $S.0 AS BIGINT)) AS BIGINT) AS ssx,
                     count(*) AS n
              FROM x GROUP BY 1),
        mm AS (SELECT i,
                      CAST(ssx AS DOUBLE) / (CAST(n AS DOUBLE) * $S.0) AS mean_x
               FROM m)"""

  /** Ten unrolled power iterations over the covariance (twin of
    * Similarity.pcaProject): wk = C·v(k−1) per row as an ordered
    * list_sum, vk = wk normalized — every fold left-to-right, matching
    * the driver-side ascending loops. */
  private def pcaOracle: String = {
    val iters = (1 to Similarity.PcaIters).map { k =>
      s"""w$k AS (SELECT c.i,
                        list_sum([c.row[t] * v.v[t] for t in generate_series(1, len(c.row))]) AS w
                 FROM crow c, v${k - 1} v),
          wl$k AS (SELECT list(w ORDER BY i) AS wl FROM w$k),
          v$k AS (SELECT [y / sqrt(list_sum([z * z for z in wl])) for y in wl] AS v FROM wl$k)"""
    }.mkString(",\n")
    s"""WITH $covCtes,
        cov AS (SELECT g.i, g.j,
                       g.g / CAST(g.n AS DOUBLE) - mi.mean_x * mj.mean_x AS c
                FROM g JOIN mm mi ON g.i = mi.i JOIN mm mj ON g.j = mj.i),
        cfull AS (SELECT i, j, c FROM cov
                  UNION ALL SELECT j AS i, i AS j, c FROM cov WHERE i < j),
        crow AS (SELECT i, list(c ORDER BY j) AS row FROM cfull GROUP BY i),
        v0 AS (SELECT [CAST(1.0 AS DOUBLE) for e in embedding] AS v
               FROM embeddings ORDER BY vec_id LIMIT 1),
        $iters
        SELECT e.vec_id,
               list_sum([CAST(e.embedding[t] AS DOUBLE) * v.v[t]
                         for t in generate_series(1, len(e.embedding))]) AS score
        FROM embeddings e, v${Similarity.PcaIters} v ORDER BY e.vec_id"""
  }

  /** int8 dequantization CTEs ending in e(vec_id, embedding, nrm) where
    * `embedding` is the DEQUANTIZED double list — twin of the
    * quantCodes→dequant stage of Similarity.ivfQuantizedTopK (floor-based
    * codes, code·maxabs/127 reconstruction, left-to-right norm). */
  private def dequantCtes: String =
    s"""qz AS (SELECT vec_id, embedding AS fl,
               list_max([abs(CAST(embedding[i] AS DOUBLE)) for i in generate_series(1, len(embedding))]) AS maxabs
             FROM embeddings),
        deq AS (SELECT vec_id,
               CASE WHEN maxabs > 0 THEN
                 [CAST(floor(CAST(fl[i] AS DOUBLE) * 127.0 / maxabs + 0.5) AS INT) * maxabs / 127.0
                  for i in generate_series(1, len(fl))]
               ELSE [CAST(0 AS DOUBLE) for i in generate_series(1, len(fl))] END AS embedding
             FROM qz),
        ${normed("e", "deq")}"""

  // ---- k-means (twin of graft.llm.Clustering) ----

  /** Round `i` of the k-means assignment: d<i> every (vector, cluster)
    * squared distance, a<i> the nearest (ties to the lower cluster id). */
  private def kmeansAssign(i: Int, prev: String) =
    s"""d$i AS (SELECT e.vec_id, e.embedding, c.cluster,
                      ${dDist2("e.embedding", "c.cemb")} AS d2
               FROM e, $prev c),
        a$i AS (SELECT vec_id, embedding, cluster FROM
                 (SELECT vec_id, embedding, cluster,
                         row_number() OVER (PARTITION BY vec_id
                           ORDER BY d2, cluster) AS rn FROM d$i)
               WHERE rn = 1)"""

  /** Shared k-means CTE pipeline: e/c0 (seed = vec_id 0..K-1), one Lloyd
    * round (distances are SEQUENTIAL double folds — the vec_dot/list_sum
    * twin discipline — and empty clusters keep the previous centroid),
    * then the round-2 assignment dd2/a2. */
  private def kmeansCtes(tail: String): String = {
    val clusters = whole("cluster")
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
        ${lloyd(clusters, "", "embeddings", Clustering.K, 1)(kmeansAssign)},
        dd2 AS (SELECT e.vec_id, c.cluster,
                       ${dDist2("e.embedding", "c.cemb")} AS d2
                FROM e, c1 c),
        a2 AS (SELECT vec_id, cluster, d2 FROM
                 (SELECT vec_id, cluster, d2,
                         row_number() OVER (PARTITION BY vec_id
                           ORDER BY d2, cluster) AS rn FROM dd2)
               WHERE rn = 1)
        $tail"""
  }

  private def kmeansSql = kmeansCtes("""SELECT vec_id, cluster, d2 AS dist2 FROM a2 ORDER BY vec_id""")

  // ---- contrastive pair mining (twin of graft.llm.Mining) ----

  /** The 8 labeled probe queries over `e`. */
  private val labeledQueries =
    """q AS (SELECT vec_id AS q_id, label AS q_label, embedding AS q_emb,
                     nrm AS q_nrm FROM e WHERE vec_id < 8)"""

  /** Keep candidates `c` under the near-dup ceiling; serve the top NegK. */
  private val negatives =
    s"""f AS (SELECT * FROM c WHERE cos <= ${Mining.NearDupCeiling}),
        ${ranked("r", "cos DESC, n_id", "f")}
        SELECT q_id, q_label, n_id, n_label, cos, "rank"
        FROM r WHERE "rank" <= ${Mining.NegK} ORDER BY q_id, "rank""""

  /** Twin of Mining.hardNegatives: exact label-filtered top-NegK under the
    * near-dup ceiling. */
  private def mineHardNegSql: String =
    s"""WITH $labeled,
        $labeledQueries,
        c AS (SELECT q.q_id, q.q_label, e.vec_id AS n_id, e.label AS n_label,
                     ${dDot("q_emb", "embedding")} / (q_nrm * nrm) AS cos
              FROM e, q WHERE e.label <> q.q_label),
        $negatives"""

  /** Twin of Mining.hardNegativesIvf: same label/ceiling predicates over
    * the trained-IVF probed cells (ivfTrainCtes carries the label payload
    * exactly like the published inverted lists). */
  private def mineHardNegIvfSql: String =
    s"""WITH $ivfTrainCtes,
        $labeledQueries,
        probes AS (SELECT vec_id AS q_id, cent_id FROM rc
                   WHERE crn <= ${Similarity.NProbe} AND vec_id < 8),
        c AS (SELECT q.q_id, q.q_label, a.vec_id AS n_id, a.label AS n_label,
                     ${dDot("q.q_emb", "a.embedding")} / (q.q_nrm * a.nrm) AS cos
              FROM probes p
              JOIN asg a ON p.cent_id = a.cent_id
              JOIN q ON q.q_id = p.q_id
              WHERE a.label <> q.q_label),
        $negatives"""

  def twins: Seq[(String, String)] = Seq(
    "q_sim_topk" -> simTopkSql,
    "q_sim_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding, ${dNorm("embedding")} AS nrm,
                            ${dBucket("embedding")} AS bucket FROM embeddings),
          q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm, bucket AS q_bucket
                FROM e WHERE vec_id < 8),
          c AS (SELECT q_id, e.vec_id AS n_id,
                       ${dDot("q_emb", "embedding")} / (q_nrm * nrm) AS cos
                FROM e JOIN q ON e.bucket = q.q_bucket AND e.vec_id <> q.q_id),
          $cosTop10""",
    "q_sim_lsh_multiprobe" -> {
      val planes = Similarity.MultiProbePlanes
      s"""WITH e AS (SELECT vec_id, embedding, ${dNorm("embedding")} AS nrm,
                            ${dBucket("embedding", planes)} AS bucket FROM embeddings),
          q AS (SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm, bucket AS q_bucket
                FROM e WHERE vec_id < 8),
          probes AS (SELECT q_id AS p_id, q_emb, q_nrm,
                            CASE WHEN i = 0 THEN q_bucket
                                 ELSE xor(q_bucket, (1::BIGINT << (i-1))) END AS pb
                     FROM q, generate_series(0, $planes) AS g(i)),
          c AS (SELECT p.p_id AS q_id, e.vec_id AS n_id,
                       ${dDot("p.q_emb", "e.embedding")} / (p.q_nrm * e.nrm) AS cos
                FROM e JOIN probes p ON e.bucket = p.pb AND e.vec_id <> p.p_id),
          $cosTop10"""
    },
    "q_sim_ivf" ->
      s"""WITH ${normed("e")},
          $seededIvf""",
    "q_sim_ivf_trained" -> ivfTrainedSql,
    "q_sim_ivf_upsert" -> ivfUpsertSql,
    "q_sim_binary_upsert" -> binaryUpsertSql,
    "q_sim_binary_drift" -> binaryDriftSql,
    "q_index_drift" ->
      s"""WITH $ivfUpCtes,
          ub AS (SELECT vec_id, c_cos FROM urc WHERE crn = 1),
          useg AS (SELECT ${segment("ub.vec_id", "ut")},
                          c_cos
                   FROM ub, ut)
          ${segmentMean("c_cos", "useg")}""",
    "q_sim_pq_codes" ->
      s"""WITH $pqCtes
          SELECT vec_id, array_to_string(list(code ORDER BY m), ',') AS codes
          FROM pcd GROUP BY vec_id ORDER BY vec_id""",
    "q_sim_pq_topk" ->
      s"""WITH $pqAdcCtes,
          ${ranked("prk", "est_d2, n_id", "pe")}
          ${top10("""q_id, n_id, est_d2, "rank"""", "prk")}""",
    "q_sim_pq_rerank" ->
      s"""WITH $pqAdcCtes,
          ${rerank("p", "pe", Pq.Shortlist)}
          ${top10("""q_id, n_id, d2, "rank"""", "prr")}""",
    "q_sim_ivfpq" ->
      s"""WITH $ivfPqCtes,
          ${ranked("vrk", "est_d2, n_id", "vest")}
          ${top10("""q_id, n_id, est_d2, "rank"""", "vrk")}""",
    "q_sim_ivfpq_rerank" -> ivfPqRerankSql,
    "q_sim_ivfpq_upsert" -> ivfPqUpsertSql,
    "q_sim_ivfpq_upsert_rerank" -> ivfPqUpsertRerankSql,
    "q_sim_ivfpq_drift" -> ivfPqDriftSql,
    "q_sim_ivfpq_sweep" ->
      s"""WITH $ivfPqCtes,
          $nprobes,
          vfan AS (SELECT np.nprobe, v.q_id, v.n_id, v.est_d2
                   FROM vest v CROSS JOIN np WHERE v.crn <= np.nprobe),
          vsl AS (SELECT nprobe, q_id, n_id FROM (
                    SELECT *, row_number() OVER (PARTITION BY nprobe, q_id
                      ORDER BY est_d2, n_id) AS rn FROM vfan)
                  WHERE rn <= ${IvfPq.Shortlist}),
          vre AS (SELECT s.nprobe, s.q_id, s.n_id,
                         ${dDist2("qq.embedding", "nn.embedding")} AS d2
                  FROM vsl s
                  JOIN embeddings qq ON qq.vec_id = s.q_id
                  JOIN embeddings nn ON nn.vec_id = s.n_id),
          vtop AS (SELECT nprobe, q_id, n_id FROM (
                     SELECT *, row_number() OVER (PARTITION BY nprobe, q_id
                       ORDER BY d2, n_id) AS rn FROM vre)
                   WHERE rn <= 10),
          vex AS (SELECT q_id, n_id FROM ($bruteL2Sql)),
          ${sweepRecall("vh", "vex", "vtop")}""",
    "q_sim_ivfpq_recall" -> recall(bruteL2Sql, ivfPqRerankSql),
    "q_sim_binary_codes" ->
      s"""WITH ${binarySigCtes(baseOnlyMu = false)}
          SELECT vec_id, h0, h1 FROM bsig ORDER BY vec_id""",
    "q_sim_binary_topk" -> binaryTopkSql,
    "q_array_funcs" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS n,
                CAST(embedding[1] AS DOUBLE) AS e0,
                list_sum([abs(CAST(embedding[i] AS DOUBLE)) for i in generate_series(1, len(embedding))]) AS l1,
                list_sum([CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 8)]) AS s8
         FROM embeddings ORDER BY vec_id""",
    "q_embed_quantize" ->
      """WITH qz AS (SELECT vec_id, embedding,
               list_max([abs(CAST(embedding[i] AS DOUBLE)) for i in generate_series(1, len(embedding))]) AS maxabs
             FROM embeddings),
          c AS (SELECT vec_id, maxabs, embedding,
                  CASE WHEN maxabs > 0 THEN
                    [CAST(floor(CAST(embedding[i] AS DOUBLE) * 127.0 / maxabs + 0.5) AS INT)
                     for i in generate_series(1, len(embedding))]
                  ELSE [0 for i in generate_series(1, len(embedding))] END AS codes
                FROM qz)
          SELECT vec_id, maxabs,
                 array_to_string(codes, ',') AS codes_str,
                 CASE WHEN maxabs > 0 THEN
                   list_sum([(CAST(embedding[i] AS DOUBLE) - CAST(codes[i] AS DOUBLE) * maxabs / 127.0)
                             * (CAST(embedding[i] AS DOUBLE) - CAST(codes[i] AS DOUBLE) * maxabs / 127.0)
                             for i in generate_series(1, len(embedding))])
                 ELSE CAST(0 AS DOUBLE) END AS l2_err
          FROM c ORDER BY vec_id""",
    "q_sim_ivf_quantized" ->
      s"""WITH $dequantCtes,
          $seededIvf""",
    // same LSH blocking as q_dedup_embed_components (MultiProbePlanes = the
    // sf0.01 planesFor value), unthresholded, ranked per vector
    "q_sim_knn_graph" ->
      s"""WITH ${bucketed("ee")},
          edges AS (SELECT a.vec_id AS src, b.vec_id AS dst,
                  ${dDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
                FROM ee a JOIN ee b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
          sym AS (SELECT src, dst, cos FROM edges
                  UNION ALL SELECT dst, src, cos FROM edges),
          r AS (SELECT src AS vec_id, dst AS n_id, cos,
                       CAST(row_number() OVER (PARTITION BY src
                         ORDER BY cos DESC, dst) AS BIGINT) AS rnk
                FROM sym)
          SELECT vec_id, rnk, n_id, cos FROM r
          WHERE rnk <= ${Similarity.GraphK} ORDER BY vec_id, rnk""",
    // graph-probe ANN: the same kNN graph, then SearchIters unrolled
    // expand/score/beam rounds (fixed iteration count, fixed-order cosine,
    // ties to the lower neighbor id — the trainCentroids unroll discipline)
    "q_sim_graph_search" -> graphSearchSql,
    "q_sim_graph_insert" -> graphInsertSql,
    "q_sim_graph_upsert" -> graphUpsertSql,
    // twin of GraphMaintenance.drift: base best links from the frozen base
    // descent graph (d{DescentIters} rnk=1), late best links from the
    // insert twin's fin (rnk=1)
    "q_graph_drift" ->
      s"""WITH $graphInsertCtes,
          gdb AS (SELECT cos, 'base' AS segment
                  FROM d${Similarity.DescentIters} WHERE rnk = 1
                  UNION ALL
                  SELECT cos, 'late' AS segment FROM fin WHERE rnk = 1)
          ${segmentMean("cos", "gdb")}""",
    // NN-descent: deterministic long-link init, then DescentIters unrolled
    // rounds of (edges ∪ reversed ∪ two-hop) → exact score → keep-GraphK
    "q_sim_nndescent" ->
      s"""WITH $ndCtes
          SELECT src AS vec_id, rnk, dst AS n_id, cos FROM d${Similarity.DescentIters}
          WHERE rnk <= ${Similarity.GraphK} ORDER BY vec_id, rnk""",
    "q_embed_gram" ->
      s"""WITH $elements
         $gram ORDER BY 1, 2""",
    // 2^48-scaled exact-BIGINT sums (trainCentroids discipline) — raw
    // embedding values tie at DECIMAL(·,10) half-way points, where the two
    // engines' rounding modes differ (HALF_UP vs HALF_EVEN)
    "q_embed_mean" ->
      s"""WITH ${meanSums("x", "g", "FROM embeddings")}
          SELECT i,
                 CAST(ssx AS DOUBLE) / $S.0 AS sum_x,
                 n,
                 CAST(ssx AS DOUBLE) / (CAST(n AS DOUBLE) * $S.0) AS mean_x
          FROM g ORDER BY 1""",
    // covariance from the two exact statistics: G and the scaled-BIGINT
    // mean sums are bit-exact, and cov = g/n − mean_i·mean_j is the same
    // three-op IEEE expression tree on both engines
    "q_embed_covariance" ->
      s"""WITH $covCtes
          SELECT g.i, g.j,
                 g.g / CAST(g.n AS DOUBLE) - mi.mean_x * mj.mean_x AS cov,
                 g.n
          FROM g JOIN mm mi ON g.i = mi.i JOIN mm mj ON g.j = mj.i
          ORDER BY 1, 2""",
    // whitening: scaled-BIGINT mean + decimal-staged diagonal second
    // moment per dim, then (x-mu)/sd per coordinate - the subtraction and
    // division are the same two IEEE ops both engines
    "q_embed_whiten" ->
      s"""WITH x AS (SELECT unnest(generate_series(1, len(embedding))) - 1 AS i,
                      unnest([CAST(e AS DOUBLE) for e in embedding]) AS xi
                    FROM embeddings),
          st AS (SELECT i,
                        CAST(SUM(CAST(xi * $S.0 AS BIGINT)) AS BIGINT) AS ssx,
                        CAST(CAST(SUM(CAST(xi * xi AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE) AS gii,
                        count(*) AS n
                 FROM x GROUP BY 1),
          ms AS (SELECT i,
                        CAST(ssx AS DOUBLE) / (CAST(n AS DOUBLE) * $S.0) AS mu,
                        sqrt(gii / CAST(n AS DOUBLE)
                             - (CAST(ssx AS DOUBLE) / (CAST(n AS DOUBLE) * $S.0))
                               * (CAST(ssx AS DOUBLE) / (CAST(n AS DOUBLE) * $S.0))) AS sd
                 FROM st),
          ml AS (SELECT list(mu ORDER BY i) AS ml, list(sd ORDER BY i) AS sl FROM ms)
          SELECT e.vec_id,
                 CAST(unnest(generate_series(1, len(e.embedding))) - 1 AS BIGINT) AS i,
                 unnest([(CAST(e.embedding[t] AS DOUBLE) - ml.ml[t]) / ml.sl[t]
                         for t in generate_series(1, len(e.embedding))]) AS w
          FROM embeddings e, ml ORDER BY e.vec_id, i""",
    // top-PC projection: the covariance CTEs feed ten unrolled power
    // iterations (list_sum is the left-to-right fold — the dDot-proven
    // order match for Spark's ascending-index loops), then the projection
    // is the same ordered dot against v10
    "q_embed_pca_project" -> pcaOracle,
    "q_cluster_kmeans" -> kmeansSql,
    // serve ≡ train: assigning against the PUBLISHED round-2 centroids must
    // reproduce the training run's final assignment exactly
    "q_cluster_assign" -> kmeansSql,
    // per-cluster mean distance quantizes d2 at 2^-48 (explicit floor =
    // Spark's positive-double→long truncation) so the cross-member sum is
    // order-free integer math
    "q_cluster_sizes" -> kmeansCtes(
      s"""SELECT cluster, count(*) AS n,
                 CAST(CAST(SUM(CAST(floor(d2 * $S) AS BIGINT)) AS VARCHAR) AS DOUBLE)
                   / (CAST(count(*) AS DOUBLE) * $S) AS mean_dist2
          FROM a2 GROUP BY 1 ORDER BY 1"""),
    "q_sim_fused" -> fusedSql,
    "q_sim_rank_quality" -> rankQualitySql(ivfTrainedSql, graphSearchSql, binaryTopkSql,
      fusedSql, ivfPqRerankSql, hybridTopkSql),
    // the serve-version change feed: per (family, q_id) top-10 churn
    // between the frozen-base and freshness serves — all exact integer
    // counts/rank sums, the six family twins composed pairwise
    "q_sim_rank_diff" ->
      s"""SELECT * FROM (
          ${rankDiffSql("ivf", ivfTrainedSql, ivfUpsertSql)}
          UNION ALL ${rankDiffSql("graph", graphSearchSql, graphUpsertSql)}
          UNION ALL ${rankDiffSql("binary", binaryTopkSql, binaryUpsertSql)}
          UNION ALL ${rankDiffSql("ivfpq", ivfPqRerankSql, ivfPqUpsertRerankSql)}
          UNION ALL ${rankDiffSql("fused", fusedSql, fusedUpsertSql)}
          UNION ALL ${rankDiffSql("hybrid", hybridTopkSql, hybridUpsertSql)})
          ORDER BY family, q_id""",
    "q_sim_fused_upsert" -> fusedUpsertSql,
    // the freshness rank audit: the same six-family chain over the upsert
    // member twins, against the same full-corpus exact sides
    "q_sim_rank_quality_upsert" -> rankQualitySql(ivfUpsertSql, graphUpsertSql, binaryUpsertSql,
      fusedUpsertSql, ivfPqUpsertRerankSql, hybridUpsertSql),
    "q_retrieve_hybrid" -> hybridTopkSql,
    // the hybrid's tower ablation: recall@10 of lex-only / dense-only /
    // fused, all three candidate frames from the shared hybrid CTE chain
    "q_retrieve_sweep" ->
      s"""WITH $exact,
          ${hybridSqlCtes(ivfTrainedSql)},
          cand AS (SELECT 'dense' AS tower, q_id, n_id FROM hd
                   UNION ALL SELECT 'hybrid', q_id, n_id FROM hr WHERE "rank" <= 10
                   UNION ALL SELECT 'lex', q_id, n_id FROM hl),
          tw AS (SELECT unnest(['dense', 'hybrid', 'lex']) AS tower),
          hits AS (SELECT c.tower, count(*) AS n_hit
                   FROM cand c JOIN exact e
                     ON c.q_id = e.q_id AND c.n_id = e.n_id
                   GROUP BY 1),
          ne AS (SELECT count(*) AS n_exact FROM exact)
          SELECT t.tower, CAST(ne.n_exact AS BIGINT) AS n_exact,
                 CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
                 CAST(coalesce(h.n_hit, 0) AS DOUBLE)
                   / CAST(ne.n_exact AS DOUBLE) AS recall
          FROM tw t LEFT JOIN hits h USING (tower), ne
          ORDER BY tower""",
    // the two-tower freshness twin: the same lexical CTEs (the merged
    // snapshot equals the full-corpus counts bit-for-bit) fused with the
    // frozen-centroid dense upsert twin; per-tower staleness flags
    "q_retrieve_hybrid_upsert" -> hybridUpsertSql,
    // recall@10 audit of the two-tower hybrid vs the exact cosine top-10:
    // both sides are already-oracle-checked twins
    "q_retrieve_recall" -> recall(simTopkSql, hybridTopkSql),
    // ensemble ablation twin: the k=1 fused top-10 IS the ivf top-10 (rrf
    // is monotone in one rank), k=2/3 are the fixed-order coalesce fusions;
    // hit counts aggregate over all queries into one row per member count
    "q_sim_fused_sweep" ->
      s"""WITH $exact,
          $baseMembers,
          f2 AS (SELECT q_id, n_id,
                        ${rrf("r_ivf")} +
                        ${rrf("r_graph")} AS rrf
                 FROM fi FULL OUTER JOIN fg USING (q_id, n_id)),
          ${topByRrf("t2", "f2")},
          f3 AS (SELECT q_id, n_id,
                        $rrf3 AS rrf
                 FROM fi FULL OUTER JOIN fg USING (q_id, n_id)
                 FULL OUTER JOIN fb USING (q_id, n_id)),
          ${topByRrf("t3", "f3")},
          h1 AS (${hitCounts("CAST(1 AS BIGINT) AS n_members", "fi")}),
          h2 AS (${hitCounts("CAST(2 AS BIGINT) AS n_members", "t2")}),
          h3 AS (${hitCounts("CAST(3 AS BIGINT) AS n_members", "t3")})
          ${recallOf("n_members", "(SELECT * FROM h1 UNION ALL SELECT * FROM h2 UNION ALL SELECT * FROM h3)")}""",
    // weighted-ensemble twin: the leave-one-out decision replays in SQL —
    // four candidate fusions on the tune half (q_id even) against exact,
    // keep flags as one scalar row (>= keeps on ties; all-dropped falls
    // back to all-kept), then ONE three-way-join fusion whose terms are
    // CASE-gated by the flags: dropped/absent terms add an explicit
    // CAST(0 AS DOUBLE), so the sum is the Spark fold bit-for-bit
    "q_sim_fused_weighted" -> {
      def term(r: String, keepFlag: String) =
        s"CASE WHEN $keepFlag THEN ${rrf(r)} ELSE CAST(0 AS DOUBLE) END"
      def tuneTop(name: String, kIvf: Boolean, kG: Boolean, kB: Boolean) = {
        def t(r: String, on: Boolean) = if (on) rrf(r) else "CAST(0 AS DOUBLE)"
        s"""$name AS (SELECT q_id, n_id FROM (
              SELECT q_id, n_id,
                     row_number() OVER (PARTITION BY q_id ORDER BY
                       ${t("r_ivf", kIvf)} + ${t("r_graph", kG)} + ${t("r_bin", kB)} DESC,
                       n_id) AS rn
              FROM fj WHERE q_id % 2 = 0)
            WHERE rn <= 10)"""
      }
      def hitsOf(src: String) =
        s"""(SELECT count(*) FROM $src t
             JOIN (SELECT q_id, n_id FROM ($simTopkSql)) e
               ON t.q_id = e.q_id AND t.n_id = e.n_id)"""
      s"""WITH $baseMembers,
          $joined,
          ${tuneTop("tall", kIvf = true, kG = true, kB = true)},
          ${tuneTop("tgb", kIvf = false, kG = true, kB = true)},
          ${tuneTop("tib", kIvf = true, kG = false, kB = true)},
          ${tuneTop("tig", kIvf = true, kG = true, kB = false)},
          rawdec AS (SELECT ${hitsOf("tall")} >= ${hitsOf("tgb")} AS r_keep_ivf,
                            ${hitsOf("tall")} >= ${hitsOf("tib")} AS r_keep_g,
                            ${hitsOf("tall")} >= ${hitsOf("tig")} AS r_keep_b),
          dec AS (SELECT r_keep_ivf OR NOT (r_keep_ivf OR r_keep_g OR r_keep_b) AS keep_ivf,
                         r_keep_g OR NOT (r_keep_ivf OR r_keep_g OR r_keep_b) AS keep_g,
                         r_keep_b OR NOT (r_keep_ivf OR r_keep_g OR r_keep_b) AS keep_b
                  FROM rawdec),
          fw AS (SELECT q_id, n_id,
                        ${term("r_ivf", "keep_ivf")} +
                        ${term("r_graph", "keep_g")} +
                        ${term("r_bin", "keep_b")} AS rrf,
                        concat_ws(',', CASE WHEN keep_ivf THEN 'ivf' END,
                                       CASE WHEN keep_g THEN 'graph' END,
                                       CASE WHEN keep_b THEN 'bin' END) AS kept
                 FROM fj, dec),
          ${ranked("fr", "rrf DESC, n_id", "fw")}
          ${top10("""q_id, n_id, rrf, "rank", kept""", "fr")}"""
    },
    "q_sim_fused_recall" ->
      s"""WITH $exact,
          $baseMembers,
          $fused,
          ${topByRrf("approx", "fs")},
          $recallTail""",
    // recall@10 audits: both sides are already-oracle-checked twins
    "q_sim_recall" -> recall(simTopkSql, ivfTrainedSql),
    "q_sim_graph_recall" -> recall(simTopkSql, graphSearchSql),
    "q_sim_binary_recall" -> recall(simTopkSql, binaryTopkSql),
    // contrastive pair mining (twin of llm/Mining): same cosine operands
    // as simTopkSql, label predicates in the candidate joins
    "q_mine_hard_negatives" -> mineHardNegSql,
    "q_mine_hard_negatives_ivf" -> mineHardNegIvfSql,
    "q_mine_recall" -> recall(mineHardNegSql, mineHardNegIvfSql),
    "q_mine_triplets" ->
      s"""WITH $labeled,
          $labeledQueries,
          sc AS (SELECT q.q_id, q.q_label, e.vec_id, e.label,
                        ${dDot("q_emb", "embedding")} / (q_nrm * nrm) AS cos
                 FROM e, q WHERE e.vec_id <> q.q_id),
          p AS (SELECT q_id, vec_id AS pos_id, cos AS pos_cos,
                       row_number() OVER (PARTITION BY q_id
                         ORDER BY cos DESC, vec_id) AS pr
                FROM sc WHERE label = q_label),
          pos AS (SELECT q_id, pos_id, pos_cos FROM p WHERE pr = 1),
          nc AS (SELECT s.q_id, pos.pos_id, pos.pos_cos,
                        s.vec_id AS neg_id, s.cos AS neg_cos
                 FROM sc s JOIN pos ON s.q_id = pos.q_id
                 WHERE s.label <> s.q_label AND s.cos < pos.pos_cos),
          ${ranked("nr", "neg_cos DESC, neg_id", "nc")}
          SELECT q_id, pos_id, pos_cos, neg_id, neg_cos,
                 pos_cos - neg_cos AS margin, "rank"
          FROM nr WHERE "rank" <= ${Mining.TripletNegK}
          ORDER BY q_id, "rank"""",
    "q_sim_ivf_sweep" -> ivfSweepSql,
  )
}
