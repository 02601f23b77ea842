package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared text/hash primitives for the LLM-pipeline operators (SURVEY.md §2.2
  * Group C). Everything here is a built-in Catalyst expression (codegen'd, no
  * UDFs) and is arithmetic the DuckDB oracle can reproduce bit-for-bit:
  *
  *  - token hash: first 60 bits of md5 (hex-parsed) — stable across engines,
  *    unlike murmur3/xxhash whose seeds/variants differ;
  *  - MinHash: k universal-hash functions h_i(x) = (a_i·x + b_i) mod P over
  *    the 60-bit token hash reduced mod P, P = 1e9+7 so products stay < 2^63;
  *  - SimHash: 60-bit sign-aggregated signature (bit 63 avoided so the value
  *    fits a signed BIGINT in both engines).
  */
object TextHash {
  /** Prime modulus for MinHash universal hashing (30 bits: products fit i64). */
  val P: Long = 1000000007L
  /** MinHash signature length. */
  val K: Int = 16
  /** LSH banding. The (b, r) design point sets the collision S-curve midpoint
    * at J* = (1-0.5^(1/b))^(1/r); for the 0.95 Jaccard verify threshold the
    * textbook choice is b=1, r=16 → J* ≈ 0.96. This corpus makes the choice
    * load-bearing: background pairs sit at J≈0.87 (31-token vocabulary), so
    * b=4×4 (J*≈0.63) admits ~97% of all pairs as candidates and b=2×8
    * (J*≈0.86) still ~45%, while 1×16 admits 0.87^16 ≈ 11% — candidates stay
    * sub-quadratic, which is the entire point of LSH at 100 TB. */
  val Bands: Int = 1
  val Rows: Int = K / Bands
  /** MinHash universal-hash coefficients, fixed (Knuth multiplicative seeds). */
  val A: Seq[Long] = (0 until K).map(i => (i * 2654435761L + 1L) % P)
  val B: Seq[Long] = (0 until K).map(i => (i * 40503L + 7L) % P)
  /** SimHash signature width (bits 0..59). */
  val SimBits: Int = 60

  /** Character shingle length for the Broder-shingling dedup variant. */
  val ShingleLen: Int = 5

  /** Single-space tokenizer (fixture text is pre-normalized lowercase). */
  def tokens(c: Column): Column = split(c, " ")

  /** 60-bit token hash: md5 hex prefix parsed as an integer.
    * DuckDB twin: ('0x' || substr(md5(t), 1, 15))::BIGINT */
  def tokHash(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** SQL-expression form of tokHash, for use inside lambda strings. */
  def tokHashSql(e: String): String = s"CAST(conv(substring(md5($e), 1, 15), 16, 10) AS BIGINT)"

  /** Band hash folding `Rows` minhash values mod P (stays well below 2^63 at
    * every step; P-collisions are harmless — they only add candidates, and
    * identically so in the DuckDB twin). */
  def bandHashSql(ms: Seq[String]): String =
    ms.reduce((acc, m) => s"((($acc) * 31 + $m) % ${P}L)")
}
