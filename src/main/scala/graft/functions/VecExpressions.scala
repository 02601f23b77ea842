package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `vec_dot(a, b)`: double-precision dot product of two numeric arrays
  * (each side independently `array<float>` or `array<double>` — the trained
  * IVF path scores float embeddings against double centroids).
  *
  * The one custom Catalyst Expression in the engine, and it exists for the
  * reason SURVEY.md §4.2 allows: the built-in higher-order form
  * (`aggregate(zip_with(...))`) evaluates a lambda per element — fine for a
  * handful of rows, a real cost when a similarity join probes millions of
  * candidate pairs × 64 dims. `doGenCode` emits a tight primitive loop
  * instead (no per-element closure dispatch), keeping the whole stage inside
  * codegen.
  *
  * Semantics are EXACTLY the HOF form's: left-to-right accumulation of
  * `(double)a[i] * (double)b[i]` — bit-identical to the DuckDB oracle's
  * list-comprehension sum (verified by the q_sim and q_dedup_embed oracles).
  * Null elements are not supported (embedding arrays are dense); a null
  * array yields null via the standard null-safe path. MISMATCHED lengths
  * also yield null, again matching the HOF form (`zip_with` null-pads the
  * shorter side, the padded products are null, and `+ null` nulls the
  * aggregate) — a dimension-mismatch bug upstream must surface as NULL,
  * never as a plausible wrong score from silent truncation (ADVICE r6).
  */
case class VecDot(left: Expression, right: Expression)
  extends BinaryExpression {

  // ragged inputs return null even when both children are non-nullable
  override def nullable: Boolean = true

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left).isDefined && elemType(right).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects array<float|double> on each side, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  @inline private def get(arr: ArrayData, t: DataType, i: Int): Double =
    if (t == FloatType) arr.getFloat(i).toDouble else arr.getDouble(i)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val lt = elemType(left).get
    val rt = elemType(right).get
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      s += get(x, lt, i) * get(y, rt, i)
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      def g(arr: String, side: Expression) =
        if (elemType(side).get == FloatType) s"((double) $arr.getFloat($i))"
        else s"$arr.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += ${g(a, left)} * ${g(b, right)};
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** `vec_dist2(a, b)`: double-precision squared euclidean distance of two
  * numeric arrays (each side independently `array<float>` or
  * `array<double>` — k-means scores float embeddings against double
  * centroids). Exists for the same reason as VecDot: the HOF form
  * (`aggregate(zip_with(...))`) dispatches a lambda per element, a real
  * cost when every Lloyd round scores N×k candidate pairs × d dims.
  *
  * Semantics are EXACTLY the HOF form's: left-to-right accumulation of
  * `((double)a[i] - (double)b[i])²` — bit-identical to the DuckDB oracle's
  * list-comprehension sum (the q_cluster oracles). Mismatched lengths yield
  * null like the HOF form (see VecDot): a ragged pair is an upstream bug
  * that must surface, not a plausible truncated distance (ADVICE r6). */
case class VecDist2(left: Expression, right: Expression)
  extends BinaryExpression {

  // ragged inputs return null even when both children are non-nullable
  override def nullable: Boolean = true

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(FloatType, _) => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left).isDefined && elemType(right).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dist2 expects array<float|double> on each side, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dist2"

  @inline private def get(arr: ArrayData, t: DataType, i: Int): Double =
    if (t == FloatType) arr.getFloat(i).toDouble else arr.getDouble(i)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val lt = elemType(left).get
    val rt = elemType(right).get
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = get(x, lt, i) - get(y, rt, i)
      s += d * d
      i += 1
    }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      def g(arr: String, side: Expression) =
        if (elemType(side).get == FloatType) s"((double) $arr.getFloat($i))"
        else s"$arr.getDouble($i)"
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $d = ${g(a, left)} - ${g(b, right)};
         |    $s += $d * $d;
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDist2 =
    copy(left = newLeft, right = newRight)
}

/** `minhash_sig(th)`: the K=16 MinHash minima of a hashed-feature array in
  * ONE pass — `array<long>` in, `array<long>` (length K) out.
  *
  * Semantics are exactly the HOF reference form's
  * (`array_min(transform(th, x -> (Aᵢ·x + Bᵢ) % P))` per i, TextHash
  * constants): same integer arithmetic, so the DuckDB oracle twins are
  * untouched. The HOF form walks the array K times with a lambda dispatch
  * per element — 16 × |shingles| closure calls per doc; this emits one tight
  * loop updating K accumulators. Null/empty arrays yield null, matching
  * `array_min` of an empty transform. */
case class MinHashSig(child: Expression) extends UnaryExpression {
  // constants mirrored from graft.llm.TextHash (kept literal here so the
  // expression is self-contained for codegen)
  private val P = 1000000007L
  private val K = 16
  private val A = (0 until K).map(i => (i * 2654435761L + 1L) % P)
  private val B = (0 until K).map(i => (i * 40503L + 7L) % P)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<bigint>, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null
    val mins = Array.fill(K)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val x = arr.getLong(j)
      var i = 0
      while (i < K) {
        val h = (A(i) * x + B(i)) % P
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    val arr = childGen.value
    val n = ctx.freshName("n")
    val j = ctx.freshName("j")
    val i = ctx.freshName("i")
    val x = ctx.freshName("x")
    val h = ctx.freshName("h")
    val mins = ctx.freshName("mins")
    val gad = classOf[org.apache.spark.sql.catalyst.util.GenericArrayData].getName
    // coefficient arrays live once per generated class, not once per row
    val as = ctx.addReferenceObj("minhashA", A.toArray, "long[]")
    val bs = ctx.addReferenceObj("minhashB", B.toArray, "long[]")
    val body =
      s"""
         |boolean ${ev.isNull} = true;
         |ArrayData ${ev.value} = null;
         |if (!${childGen.isNull}) {
         |  int $n = $arr.numElements();
         |  if ($n > 0) {
         |    long[] $mins = new long[$K];
         |    java.util.Arrays.fill($mins, Long.MAX_VALUE);
         |    for (int $j = 0; $j < $n; $j++) {
         |      long $x = $arr.getLong($j);
         |      for (int $i = 0; $i < $K; $i++) {
         |        long $h = ($as[$i] * $x + $bs[$i]) % ${P}L;
         |        if ($h < $mins[$i]) $mins[$i] = $h;
         |      }
         |    }
         |    ${ev.isNull} = false;
         |    ${ev.value} = new $gad($mins);
         |  }
         |}
       """.stripMargin
    ev.copy(code = childGen.code + code"$body")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** `simhash_sig(th)`: the 60-bit SimHash signature of a hashed-token array
  * in one pass — `array<long>` in, `long` out.
  *
  * Semantics are exactly the reference pipeline's (explode + 60 sign-sums +
  * bit assembly): per bit b, count +1 when the
  * hash has bit b set else −1; signature bit b is set iff the count is
  * strictly positive. That pipeline needs an exchange (groupBy doc) and 60
  * conditional aggregates per token row; this is a shuffle-FREE per-row
  * projection. Empty array → 0 (no counter positive), null → null. */
case class SimHashSig(child: Expression) extends UnaryExpression {
  private val Bits = 60

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash_sig expects array<bigint>, got ${t.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_sig"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](Bits)
    var j = 0
    while (j < arr.numElements()) {
      val x = arr.getLong(j)
      var b = 0
      while (b < Bits) {
        counts(b) += (if (((x >> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      j += 1
    }
    var sig = 0L
    var b = 0
    while (b < Bits) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      val j = ctx.freshName("j")
      val b = ctx.freshName("b")
      val x = ctx.freshName("x")
      val counts = ctx.freshName("counts")
      val sig = ctx.freshName("sig")
      s"""
         |int[] $counts = new int[$Bits];
         |for (int $j = 0; $j < $arr.numElements(); $j++) {
         |  long $x = $arr.getLong($j);
         |  for (int $b = 0; $b < $Bits; $b++) {
         |    $counts[$b] += (((($x >> $b) & 1L) == 1L) ? 1 : -1);
         |  }
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < $Bits; $b++) {
         |  if ($counts[$b] > 0) $sig |= (1L << $b);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)
}

/** `shingle_hashes(text)`: the mod-P-reduced 60-bit md5 hashes of the
  * DISTINCT character-5-gram shingles of a string, in one pass — string in,
  * `array<long>` out.
  *
  * Semantics are exactly the built-in reference form's
  * (`transform(array_distinct(transform(sequence(...), i ->
  * substring(text, i, 5))), sh -> conv(substring(md5(sh),1,15),16,10) % P)`,
  * the form KernelSpec checks against): same shingle set — including the
  * whole-short-string shingle for texts under 5 chars — same first-occurrence
  * order, same md5-prefix integer. The HOF form materializes an array of
  * |text| substring objects, string-dedups it, then walks it again through a
  * lambda per shingle; this slides one window over the string and hashes each
  * distinct shingle once. The md5 itself (the irreducible cost — VERDICT r2
  * plan audit) runs on the same bytes either way.
  *
  * The per-row work happens in `compute` — invoked as a single call from the
  * generated code via a bound reference, which keeps the surrounding stage
  * inside WholeStageCodegen (no CodegenFallback, no per-element dispatch). */
case class ShingleHashes(child: Expression) extends UnaryExpression {
  private val P = 1000000007L
  private val Len = 5

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes expects a string, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  def compute(s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val n = s.numChars()
    // mirrors sequence(1, greatest(n - 4, 1)): short/empty strings yield one
    // (possibly truncated/empty) shingle, exactly like substring's clamping
    val count = math.max(n - (Len - 1), 1)
    val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
    var i = 0
    while (i < count) {
      seen.add(s.substring(i, math.min(i + Len, n)))
      i += 1
    }
    val md = ShingleHashes.md5.get()
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) {
      md.reset()
      val d = md.digest(it.next().getBytes)
      // first 15 hex chars of the digest = 7 full bytes + the high nibble of
      // byte 7 — the same 60-bit value conv(substring(md5(x),1,15),16,10)
      // parses (and DuckDB's ('0x'||substr(md5(x),1,15))::BIGINT)
      var v = 0L
      var b = 0
      while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
      v = (v << 4) | ((d(7) & 0xf0L) >>> 4)
      out(k) = v % P
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("shingleHashes", this, classOf[ShingleHashes].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $self.compute($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  /** One MessageDigest per executor thread — getInstance per row would
    * dominate the hash itself. */
  private[functions] val md5 = ThreadLocal.withInitial(
    new java.util.function.Supplier[java.security.MessageDigest] {
      override def get(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    })

  /** First 15 hex chars of an md5 digest as a 60-bit long — the value
    * conv(substring(md5(x),1,15),16,10) parses. */
  private[functions] def trunc60(d: Array[Byte]): Long = {
    var v = 0L
    var b = 0
    while (b < 7) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
    (v << 4) | ((d(7) & 0xf0L) >>> 4)
  }
}

/** `winnow_fps(text)`: the DISTINCT winnowing fingerprints of a string in
  * one pass — string in, `array<long>` out.
  *
  * Semantics are exactly the HOF reference form's (positional mod-P shingle
  * hashes via `transform(sequence(...), i -> substring/md5)`, then
  * `array_distinct(transform(sequence(1, greatest(count-7, 1)), j ->
  * array_min(slice(th, j, 8))))`): same
  * positional hash sequence — including substring's end-clamping on short
  * strings — same window set, same first-occurrence distinct order. The
  * HOF form md5s EVERY position (~|text| digests per doc) and rescans each
  * 8-slot window (O(n·w) array_min calls through a lambda); this hashes
  * each DISTINCT shingle once per row (a per-row cache — positional reuse
  * is high by Zipf), and takes window minima with a monotonic deque in
  * O(n). Heavy lifting lives in `compute`, invoked as one call from
  * generated code, so the stage stays inside WholeStageCodegen. */
case class WinnowFps(child: Expression) extends UnaryExpression {
  private val P = 1000000007L
  private val Len = 5
  private val W = 8

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"winnow_fps expects a string, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  def compute(s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val n = s.numChars()
    val count = math.max(n - (Len - 1), 1)
    val md = ShingleHashes.md5.get()
    val cache = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, java.lang.Long]()
    val h = new Array[Long](count)
    var i = 0
    while (i < count) {
      val sub = s.substring(i, math.min(i + Len, n))
      var v = cache.get(sub)
      if (v == null) {
        md.reset()
        v = java.lang.Long.valueOf(ShingleHashes.trunc60(md.digest(sub.getBytes)) % P)
        cache.put(sub, v)
      }
      h(i) = v.longValue()
      i += 1
    }
    val wCount = math.max(count - (W - 1), 1)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    // monotonic deque of indices with increasing h-values; O(1) amortized
    // per position vs the HOF form's O(w) rescan
    val deque = new Array[Int](count)
    var head = 0; var tail = 0
    var j = 0
    val firstEnd = math.min(W, count)
    while (j < firstEnd) {
      while (tail > head && h(deque(tail - 1)) >= h(j)) tail -= 1
      deque(tail) = j; tail += 1
      j += 1
    }
    seen.add(h(deque(head)))
    var start = 1
    while (start < wCount) {
      val end = start + W - 1
      while (tail > head && h(deque(tail - 1)) >= h(end)) tail -= 1
      deque(tail) = end; tail += 1
      while (deque(head) < start) head += 1
      seen.add(h(deque(head)))
      start += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next().longValue(); k += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("winnowFps", this, classOf[WinnowFps].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $self.compute($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}

/** `token_hashes(text)` / `token_hashes_distinct(text)`: single-space
  * tokenization + 60-bit md5 token hash in one pass — string in,
  * `array<long>` out.
  *
  *  - `token_hashes` (distinct=false): one hash PER TOKEN in order,
  *    duplicates kept, reduced mod P — exactly
  *    `transform(split(text, ' '), t -> conv(substring(md5(t),1,15),16,10) % P)`,
  *    the hashed-feature input of the minhash collapse (Dedup.hashedTokens).
  *  - `token_hashes_distinct` (distinct=true): hashes of the DISTINCT tokens
  *    in first-occurrence order, UNreduced — exactly
  *    `transform(array_distinct(split(text, ' ')), t -> conv(substring(md5(t),1,15),16,10))`,
  *    the input of simhash_sig.
  *
  * Split semantics mirror Spark's `split(text, ' ')` with the default -1
  * limit: leading / trailing / consecutive spaces yield empty tokens, and
  * the empty string yields one empty token. Splitting scans BYTES for 0x20,
  * which is exact for UTF-8 (a space byte never occurs inside a multi-byte
  * sequence). The HOF form md5s into a hex STRING, substrings it and
  * string-parses the number per token — three allocations this one-pass
  * digest-to-long form never makes. */
case class TokenHashes(child: Expression, distinct: Boolean)
  extends UnaryExpression {
  private val P = 1000000007L

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string, got ${t.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String =
    if (distinct) "token_hashes_distinct" else "token_hashes"

  def compute(s: org.apache.spark.unsafe.types.UTF8String): ArrayData = {
    val bytes = s.getBytes
    val md = ShingleHashes.md5.get()
    def hashSlice(start: Int, end: Int): Long = {
      md.reset()
      md.update(bytes, start, end - start)
      val v = ShingleHashes.trunc60(md.digest())
      if (distinct) v else v % P
    }
    if (distinct) {
      val seen = new java.util.LinkedHashMap[org.apache.spark.unsafe.types.UTF8String, Unit]()
      var start = 0
      var i = 0
      while (i <= bytes.length) {
        if (i == bytes.length || bytes(i) == ' ') {
          seen.putIfAbsent(
            org.apache.spark.unsafe.types.UTF8String.fromBytes(bytes, start, i - start), ())
          start = i + 1
        }
        i += 1
      }
      val out = new Array[Long](seen.size())
      val it = seen.keySet().iterator()
      var k = 0
      while (it.hasNext) {
        val tok = it.next().getBytes
        md.reset()
        md.update(tok, 0, tok.length)
        out(k) = ShingleHashes.trunc60(md.digest())
        k += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    } else {
      var nTok = 1
      var i = 0
      while (i < bytes.length) { if (bytes(i) == ' ') nTok += 1; i += 1 }
      val out = new Array[Long](nTok)
      var k = 0
      var start = 0
      i = 0
      while (i <= bytes.length) {
        if (i == bytes.length || bytes(i) == ' ') {
          out(k) = hashSlice(start, i)
          k += 1
          start = i + 1
        }
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("tokenHashes", this, classOf[TokenHashes].getName)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $self.compute($s);")
  }

  override protected def withNewChildInternal(newChild: Expression): TokenHashes =
    copy(child = newChild)
}

/** `long_array_md5(arr)`: 16-byte md5 digest of a long array's big-endian
  * bytes — a collision-safe set DIGEST for the dedup collapse keys
  * (`array<long>` in, `binary` out).
  *
  * A string key (`sha2(concat_ws(',', transform(ths, cast string)))`)
  * would allocate one string per element plus a multi-KB join per row
  * before hashing; this digests the raw 8-byte values. The key is INTERNAL
  * (a grouping/join handle, never query output), so it only has to map
  * distinct sets to distinct keys (md5's 128 bits keep the birthday bound
  * beyond corpus scale). */
case class LongArrayMd5(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"long_array_md5 expects array<bigint>, got ${t.simpleString}")
  }
  override def dataType: DataType = BinaryType
  override def prettyName: String = "long_array_md5"

  def compute(arr: ArrayData): Array[Byte] = {
    val md = ShingleHashes.md5.get()
    md.reset()
    val buf = new Array[Byte](8)
    var i = 0
    while (i < arr.numElements()) {
      val v = arr.getLong(i)
      buf(0) = (v >>> 56).toByte; buf(1) = (v >>> 48).toByte
      buf(2) = (v >>> 40).toByte; buf(3) = (v >>> 32).toByte
      buf(4) = (v >>> 24).toByte; buf(5) = (v >>> 16).toByte
      buf(6) = (v >>> 8).toByte; buf(7) = v.toByte
      md.update(buf, 0, 8)
      i += 1
    }
    md.digest()
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("longArrayMd5", this, classOf[LongArrayMd5].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $self.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): LongArrayMd5 =
    copy(child = newChild)
}

/** `hyperplane_bucket(emb, planes)`: the `planes`-bit random-hyperplane LSH
  * bucket id of a numeric array in one pass — the sign bits of `planes`
  * deterministic-pseudo-random hyperplane dot products
  * (Similarity.bucketSql's integer-congruential coefficient formula, same
  * IEEE operation sequence: per plane, products accumulate left-to-right in
  * double). The HOF form walks the array once PER PLANE through two lambdas
  * (transform + aggregate) — 2·planes·d dispatches per row on the
  * similarity-join hot path; this is one tight loop. `planes` must be a
  * foldable integer (it parameterizes the plan, not the data). */
case class HyperplaneBucket(left: Expression, right: Expression)
  extends BinaryExpression {

  private def elemOk(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (!elemOk(left.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"hyperplane_bucket expects array<float|double>, got ${left.dataType.simpleString}")
    else if (right.dataType != IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure("hyperplane_bucket expects a literal int plane count")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_bucket"

  private lazy val isFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  def compute(arr: ArrayData, planes: Int): Long = {
    val n = arr.numElements()
    var bucket = 0L
    var i = 0
    while (i < planes) {
      val base = (i + 1) * 2654435761L
      var s = 0.0
      var d = 0
      while (d < n) {
        val x = if (isFloat) arr.getFloat(d).toDouble else arr.getDouble(d)
        val coef = ((base + d * 40503L) % 2000001L).toDouble / 1000000.0 - 1.0
        s += x * coef
        d += 1
      }
      if (s > 0.0) bucket |= (1L << i)
      i += 1
    }
    bucket
  }

  override def nullSafeEval(a: Any, p: Any): Any =
    compute(a.asInstanceOf[ArrayData], p.asInstanceOf[Int])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("hyperplaneBucket", this, classOf[HyperplaneBucket].getName)
    nullSafeCodeGen(ctx, ev, (a, p) => s"${ev.value} = $self.compute($a, $p);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): HyperplaneBucket =
    copy(left = newLeft, right = newRight)
}

/** Registers graft's SQL functions and the native as-of join, and owns one
  * static session setting: the size of Spark's compiled-code cache
  * (`GraftExtensions.CodegenCacheEntries`). Enabled via
  * `spark.sql.extensions=graft.functions.GraftExtensions` (wired in
  * Verify.session, which every entry point uses). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.sizeCodegenCache()
    // the one custom whole-operator extension (SURVEY §4.2 tier c):
    // the native merge as-of join (graft.plans.AsOfJoinPlan/Exec)
    e.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    GraftExtensions.Kernels.foreach { k =>
      e.injectFunction((FunctionIdentifier(k.name), new ExpressionInfo(k.cls.getName, k.name), k.build))
    }
  }
}

object GraftExtensions {
  private val CacheSize = "spark.sql.codegen.cache.maxEntries"

  /** One SQL function a graft session registers: its name, the class that
    * implements it and the builder from its argument expressions. */
  final case class Kernel(name: String, cls: Class[_], build: Seq[Expression] => Expression)

  /** Every SQL function a graft session registers, declared once. The
    * engine calls each by name with no fallback, so a session built
    * without `GraftExtensions` fails at analysis naming the function. */
  val Kernels: Seq[Kernel] = {
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    Seq(
      Kernel("vec_dot", classOf[VecDot], c => VecDot(c(0), c(1))),
      Kernel("vec_dist2", classOf[VecDist2], c => VecDist2(c(0), c(1))),
      Kernel("top_vals", classOf[TopVals], c => TopVals(c(0), c(1))),
      Kernel("top_structs", classOf[TopStructs], c => TopStructs(c(0), c(1), c(2), c(3))),
      // CMS merge + probe: the serve-many half Spark's built-in
      // count_min_sketch build aggregate lacks (Aggregates.cmsHeavyHitters)
      Kernel("count_min_sketch_merge", classOf[CmsMerge], c => CmsMerge(c(0))),
      Kernel("count_min_sketch_estimate", classOf[CmsEstimate], c => CmsEstimate(c(0), c(1))),
      // Spark's own runtime-filter pair, surfaced as SQL functions so a
      // selective join can prune its fact scan explicitly (Joins.bloomPrunedJoin)
      Kernel("bloom_agg", classOf[BloomFilterAggregate], c => new BloomFilterAggregate(c(0))),
      Kernel("bloom_contains", classOf[BloomFilterMightContain],
        c => BloomFilterMightContain(c(0), c(1))),
      Kernel("minhash_sig", classOf[MinHashSig], c => MinHashSig(c(0))),
      Kernel("simhash_sig", classOf[SimHashSig], c => SimHashSig(c(0))),
      Kernel("shingle_hashes", classOf[ShingleHashes], c => ShingleHashes(c(0))),
      Kernel("winnow_fps", classOf[WinnowFps], c => WinnowFps(c(0))),
      Kernel("token_hashes", classOf[TokenHashes], c => TokenHashes(c(0), distinct = false)),
      Kernel("token_hashes_distinct", classOf[TokenHashes], c => TokenHashes(c(0), distinct = true)),
      Kernel("hyperplane_bucket", classOf[HyperplaneBucket], c => HyperplaneBucket(c(0), c(1))),
      Kernel("long_array_md5", classOf[LongArrayMd5], c => LongArrayMd5(c(0))))
  }

  /** Entries in Spark's cache of compiled generated classes, an LRU keyed on
    * (class loader, source) that holds 100 by default. In local mode each
    * whole-stage subtree compiles twice (on the driver, and in the task
    * under the executor's class loader), and one session serving the whole
    * registered surface (248 queries at sf0.001) needs 3,138 distinct
    * classes, so at 100 a warm pass recompiles most of what it ran before.
    * 4,096 holds the surface with headroom; each class costs metaspace only
    * while cached. */
  val CodegenCacheEntries: Int = 4096

  /** Spark reads the cache size once per JVM, when the code generator first
    * loads, from the session's static conf, which is built from the
    * SparkContext's conf. Extensions are applied after the context exists
    * and before the session's shared state, the last point at which the
    * setting still counts. A deployment that sets it keeps its own value;
    * a JVM that compiled code before this session keeps the size its cache
    * was built with, and says so. */
  private def sizeCodegenCache(): Unit =
    org.apache.spark.sql.graft.Bridge.activeConf.filterNot(_.contains(CacheSize)).foreach { conf =>
      conf.set(CacheSize, CodegenCacheEntries.toString)
      if (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount > 0)
        org.slf4j.LoggerFactory.getLogger(classOf[GraftExtensions]).warn(
          s"$CacheSize=$CodegenCacheEntries is set after this JVM already compiled " +
            "generated code: the compiled-code cache keeps the size it was built with")
    }
}
