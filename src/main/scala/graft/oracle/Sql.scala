package graft.oracle

import graft.llm.{Segments, Similarity, TextAnalysis}

/** SQL builders the DuckDB twins share. A fragment that more than one twin
  * needs is written once here, so every twin that uses it runs the same
  * text. */
private[oracle] object Sql {

  private val S = graft.Tables.MeanScale

  /** DECIMAL-staged exact sum, surfaced as DOUBLE (matches Tables.dsum2).
    * The VARCHAR hop makes DuckDB's decimal→double conversion correctly
    * rounded (parse of the exact decimal string), matching Spark's
    * BigDecimal.doubleValue — a direct DECIMAL→DOUBLE cast in DuckDB goes
    * int128→double then ×10⁻ˢ, which can be off by one ulp. */
  def dsum(c: String) = s"CAST(CAST(SUM(CAST($c AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE)"

  /** DECIMAL(28,10)-staged exact sum of a product expression, surfaced as
    * DOUBLE through the same VARCHAR hop as `dsum`. */
  def dsumExact(e: String) = s"CAST(CAST(SUM(CAST($e AS DECIMAL(28,10))) AS VARCHAR) AS DOUBLE)"

  /** 60-bit md5 token hash (DuckDB twin of TextHash.tokHash). */
  def dTokHash(e: String) = s"('0x' || substr(md5($e), 1, 15))::BIGINT"

  /** The content-keyed split lottery: a doc is train below 80, val below
    * 90, else test (twin of Curation.splitAssign). */
  val splitHash: String = dTokHash("'split-v1' || '|' || coalesce(text, '')")

  /** Double dot product, left-to-right (twin of Similarity.dotSql). */
  def dDot(a: String, b: String) =
    s"list_sum([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) for i in generate_series(1, len($a))])"

  /** Euclidean norm (twin of Similarity.normSql). */
  def dNorm(a: String) =
    s"sqrt(list_sum([CAST($a[i] AS DOUBLE) * CAST($a[i] AS DOUBLE) for i in generate_series(1, len($a))]))"

  /** Sequential squared-euclidean fold (twin of Clustering.dist2Sql —
    * list_sum runs the same left-to-right IEEE op order as Spark's
    * aggregate-over-zip_with). */
  def dDist2(x: String, c: String): String =
    s"list_sum([(CAST($x[i] AS DOUBLE) - $c[i]) * (CAST($x[i] AS DOUBLE) - $c[i]) for i in generate_series(1, len($x))])"

  /** LSH bucket id (twin of Similarity.bucketSql; dd is 1-based in DuckDB). */
  def dBucket(emb: String, planes: Int = Similarity.Planes): String =
    (0 until planes).map { i =>
      val coef = s"(CAST((${(i + 1) * 2654435761L} + (dd-1) * 40503) % 2000001 AS DOUBLE) / 1000000.0 - 1.0)"
      val dot = s"list_sum([CAST($emb[dd] AS DOUBLE) * $coef for dd in generate_series(1, len($emb))])"
      s"(CASE WHEN $dot > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** CTE `name(vec_id, embedding, nrm)` over `from`. */
  def normed(name: String, from: String = "embeddings") =
    s"$name AS (SELECT vec_id, embedding, ${dNorm("embedding")} AS nrm FROM $from)"

  /** CTE `name(vec_id, embedding, nrm, bucket)`: the normed corpus with its
    * MultiProbePlanes LSH bucket (the sf0.01 planesFor value). */
  def bucketed(name: String) =
    s"""$name AS (SELECT vec_id, embedding, ${dNorm("embedding")} AS nrm,
                  ${dBucket("embedding", Similarity.MultiProbePlanes)} AS bucket
               FROM embeddings)"""

  /** CTE `name`: `from` plus its per-q_id rank by `order` as `"rank"`. */
  def ranked(name: String, order: String, from: String) =
    s"""$name AS (SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                  ORDER BY $order) AS BIGINT) AS "rank" FROM $from)"""

  /** The served top 10 of ranked `from`, in (q_id, rank) order. */
  def top10(cols: String, from: String) =
    s"""SELECT $cols FROM $from WHERE "rank" <= 10 ORDER BY q_id, "rank""""

  // ---- BM25 counts (twin of TextAnalysis.bm25) ----

  /** `dt`: one row per (doc, token occurrence). */
  val tokens = "dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)"

  /** `tfx` (term frequency per doc) and `dfx` (document frequency). */
  val termCounts =
    """tfx AS (SELECT doc_id, token, count(*) AS tf FROM dt GROUP BY 1, 2),
          dfx AS (SELECT token, count(*) AS df FROM tfx GROUP BY 1)"""

  /** `dlx` (doc length) and `st` (corpus doc count and token total). */
  val docLengths =
    """dlx AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
          st AS (SELECT count(*) AS n_docs, SUM(len(string_split(text, ' '))) AS tot
                 FROM documents)"""

  // ---- the late-batch cut (twin of graft.llm.Segments) ----

  /** One-row CTE `name(t)`: the base/late cut ⌊N·BaseFrac⌋ of `table`. */
  def cut(name: String, table: String) =
    s"$name AS (SELECT CAST(floor(count(*) * ${Segments.BaseFrac}) AS BIGINT) AS t FROM $table)"

  /** 1 for a row of the late batch (`col` at or past the cut), else 0. */
  def flag(col: String, cut: String, as: String = "is_new") =
    s"CAST(CASE WHEN $col >= $cut.t THEN 1 ELSE 0 END AS BIGINT) AS $as"

  /** The `base`/`late` segment label of a row. */
  def segment(col: String, cut: String) =
    s"CASE WHEN $col >= $cut.t THEN 'late' ELSE 'base' END AS segment"

  /** A residual on the 2^-48 grid: r = (x·2^48 − ⌊c·2^48⌋)/2^48 with every
    * term an exact BIGINT, so floor, multiply and divide replay
    * bit-for-bit (twin of IvfPq's residual). */
  def resid(x: String, c: String) =
    s"(CAST(CAST($x AS DOUBLE) * $S AS BIGINT) - " +
      s"CAST(floor($c * $S) AS BIGINT)) / CAST($S AS DOUBLE)"

  // ---- Lloyd unroll (twin of Similarity.trainCentroids, Pq, Clustering) ----

  /** What a Lloyd unroll trains: centroids keyed by `code` (within each
    * `group` value, if any), each a double list `vec` over the point column
    * `point`; `value` is a point's d-th element as a double and `dims`
    * the dimension frame. */
  final case class Space(code: String, group: Option[String], point: String,
                         vec: String, value: String, dims: String) {
    def keys: Seq[String] = group.toSeq :+ code
    /** Seed centroids: the first `n` points of `from`, one each. */
    def seed(c0: String, from: String, n: Int): String = group match {
      case None => s"""$c0 AS (SELECT vec_id AS $code,
                         [CAST($point[i] AS DOUBLE) for i in generate_series(1, len($point))] AS $vec
                  FROM $from WHERE vec_id < $n)"""
      case Some(g) => s"$c0 AS (SELECT $g, vec_id AS $code, $point AS $vec FROM $from WHERE vec_id < $n)"
    }
  }

  /** Whole embeddings, one centroid per `code` (IVF cells, k-means
    * clusters). The fixture dimension is 64 (q_array_funcs pins it). */
  def whole(code: String) = Space(code, None, "embedding", "cemb",
    "CAST(embedding[d] AS DOUBLE)", "generate_series(1, 64)")

  /** Product-quantizer subspaces: per subspace `m`, codewords over the
    * `sv` subvectors. */
  val subspaces = Space("code", Some("m"), "sv", "csv", "sv[d]",
    s"generate_series(1, ${graft.llm.Pq.SubDim})")

  /** `<p>c0` seeded from the first `n` points of `from`, then `iters`
    * unrolled Lloyd rounds: `assign(i, prev)` writes `<p>a<i>` (each
    * point's nearest centroid of `prev`), `<p>s<i>` sums every
    * (centroid, dimension) as exact BIGINTs scaled by 2^48, `<p>u<i>` is
    * one double division per dimension, and in `<p>c<i>` an empty
    * centroid keeps its previous vector. */
  def lloyd(sp: Space, p: String, from: String, n: Int, iters: Int)
           (assign: (Int, String) => String): String = {
    import sp._
    val ks = keys.mkString(", ")
    val rounds = (1 to iters).map { i =>
      val prev = s"${p}c${i - 1}"
      s"""${assign(i, prev)},
          ${p}s$i AS (SELECT $ks, d, SUM(CAST($value * $S AS BIGINT)) AS sm, COUNT(*) AS n
                   FROM ${p}a$i, $dims AS g(d) GROUP BY ${(1 to keys.size + 1).mkString(", ")}),
          ${p}u$i AS (SELECT $ks, list(CAST(CAST(sm AS VARCHAR) AS DOUBLE)
                          / (CAST(n AS DOUBLE) * $S) ORDER BY d) AS $vec
                   FROM ${p}s$i GROUP BY ${(1 to keys.size).mkString(", ")}),
          ${p}c$i AS (SELECT ${keys.map("p." + _).mkString(", ")}, COALESCE(u.$vec, p.$vec) AS $vec
                   FROM $prev p LEFT JOIN ${p}u$i u USING ($ks))"""
    }
    (seed(s"${p}c0", from, n) +: rounds).mkString(",\n")
  }

  /** The usual Lloyd assignment: `<rank>i` ranks every centroid of `prev`
    * per point of `points` by `order` (ties to the lower code), and
    * `<p>a<i>` keeps the first. `where` filters the training points. */
  def nearest(sp: Space, p: String, rank: String, points: String, order: String,
              where: String = "")(i: Int, prev: String): String = {
    import sp._
    val x = points.split(' ').last
    val on = group.fold(s"$points, $prev c")(g => s"$points JOIN $prev c ON c.$g = $x.$g")
    s"""$rank$i AS (SELECT $x.vec_id, ${(group.toSeq :+ point).map(x + "." + _).mkString(", ")}, c.$code,
                 row_number() OVER (PARTITION BY ${("vec_id" +: group.toSeq).map(x + "." + _).mkString(", ")}
                   ORDER BY $order, c.$code) AS rn
          FROM $on$where),
          ${p}a$i AS (SELECT vec_id, ${(group.toSeq :+ point).mkString(", ")}, $code FROM $rank$i WHERE rn = 1)"""
  }

  // ---- graph beam search (twin of Similarity.beamServe) ----

  /** The beam walk over `graph` from the `gent` entry points: `<p>e0`
    * pairs every query of `queries` with each entry, then SearchIters
    * rounds expand the beam along `graph`, score exactly against `corpus`
    * and keep the best BeamWidth; `<p>fin` ranks the last beam as `rank`.
    * `notSelf` drops a query's own id from every candidate set. */
  def beam(p: String, graph: String, queries: String, corpus: String,
           notSelf: Boolean, rank: String): String = {
    import Similarity.{BeamWidth, SearchIters}
    def scoredOf(c: String) =
      s"""SELECT c.q_id, c.n_id,
             ${dDot("q.q_emb", "e.embedding")} / (q.q_nrm * e.nrm) AS cos
          FROM $c c JOIN $corpus e ON e.vec_id = c.n_id
          JOIN $queries q ON q.q_id = c.q_id"""
    val rounds = (1 to SearchIters).map { t =>
      val prev = s"${p}f${t - 1}"
      s"""${p}gx$t AS (SELECT f.q_id, g.dst AS n_id
                  FROM $prev f JOIN $graph g ON f.n_id = g.src),
          ${p}gcd$t AS (SELECT DISTINCT q_id, n_id FROM (
                    SELECT q_id, n_id FROM $prev
                    UNION ALL SELECT q_id, n_id FROM ${p}gx$t)${if (notSelf) "\n WHERE n_id <> q_id" else ""}),
          ${p}gsc$t AS (${scoredOf(s"${p}gcd$t")}),
          ${p}f$t AS (SELECT q_id, n_id, cos FROM (
                    SELECT *, row_number() OVER (PARTITION BY q_id
                      ORDER BY cos DESC, n_id) AS rn FROM ${p}gsc$t)
                  WHERE rn <= $BeamWidth)"""
    }.mkString(",\n")
    s"""${p}e0 AS (SELECT q.q_id, v.n_id FROM $queries q, gent v${if (notSelf) "\n WHERE v.n_id <> q.q_id" else ""}),
        ${p}f0 AS (${scoredOf(s"${p}e0")}),
        $rounds,
        ${p}fin AS (SELECT q_id, n_id, cos,
                       CAST(row_number() OVER (PARTITION BY q_id
                         ORDER BY cos DESC, n_id) AS BIGINT) AS $rank
                FROM ${p}f$SearchIters)"""
  }

  // ---- recall audits ----

  /** CTE `name(q_id, n_id)` over the rows of the twin `sql`. */
  def pairs(name: String, sql: String) = s"$name AS (SELECT q_id, n_id FROM ($sql))"

  /** Exact-set size and hits of `approx` per `key` group, over the `exact`
    * CTE (q_id, n_id). */
  def hitCounts(key: String, approx: String) =
    s"""SELECT $key, count(*) AS n_exact,
               CAST(SUM(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        FROM exact e LEFT JOIN $approx a
          ON e.q_id = a.q_id AND e.n_id = a.n_id"""

  /** Recall from hit counts: integers, one IEEE division. */
  def recallOf(key: String, from: String) =
    s"""SELECT $key, n_exact, n_hit,
               CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE) AS recall
        FROM $from ORDER BY $key"""

  /** Per-query recall@10 of the `approx` CTE against `exact`. */
  def recallTail = s"""h AS (${hitCounts("e.q_id", "approx")}
                GROUP BY 1)
          ${recallOf("q_id", "h")}"""

  /** Per-query recall@10 of the twin `approx` against the twin `exact`. */
  def recall(exact: String, approx: String) =
    s"""WITH ${pairs("exact", exact)},
          ${pairs("approx", approx)},
          $recallTail"""

  // ---- BPE (twin of TextAnalysis.bpeApply) ----

  /** The BPE pre-tokenizer pattern as a SQL literal body. */
  def bpePattern: String = TextAnalysis.BpePattern.replace("'", "''")

  /** The |sym| encoding of piece `p` (RE2 backref \1, global flag). */
  def bpeEncode(p: String) = raw"""regexp_replace(replace($p, ' ', '_'), '(.)', '|\1|', 'g')"""

  /** Piece `p` after the rank-ordered merge chain. */
  def bpeMerged(p: String): String =
    TextAnalysis.BpeMerges.foldLeft(bpeEncode(p)) { case (e, (l, r)) =>
      s"replace($e, '|$l||$r|', '|$l$r|')"
    }

  /** The BPE token count of piece `p`. */
  def bpeCount(p: String) =
    s"(length(${bpeMerged(p)}) - length(replace(${bpeMerged(p)}, '|', ''))) // 2"

  // ---- media (twin of graft.multimodal.Multimodal) ----

  /** `m`: each document as a media blob, its kind by doc_id. */
  val media =
    """m AS (SELECT doc_id AS media_id,
                           ['image','audio','video'][(doc_id % 3) + 1] AS kind, text
                    FROM documents)"""

  /** `m` plus `h`: the header hash `hv` each decoded dimension derives
    * from, and `more` extra columns. */
  def mediaHash(more: String = "") =
    s"""$media,
          h AS (SELECT media_id, kind,
                       list_reduce(list_prepend(17::BIGINT,
                         [ascii(substr(text, i, 1)) for i in generate_series(1, length(text))]),
                         (acc, x) -> (acc * 31 + x) % 1000000007) AS hv$more
                FROM m)"""

  // ---- packing ----

  /** Tokens packed before this row: the running `SUM(n)` over `order`
    * within `part`, excluding the row itself. */
  def tokBefore(n: String, part: String, order: String) =
    s"""COALESCE(CAST(SUM($n) OVER (PARTITION BY $part
                    ORDER BY $order
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS tok_before"""
}
