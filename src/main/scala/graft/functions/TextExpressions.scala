package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, QuaternaryExpression, TernaryExpression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Primitive kernels for the text/dedup hot path, called from the native
  * Catalyst expressions below (both interpreted `eval` and generated code
  * dispatch here via the static forwarders Scala emits for top-level
  * objects).
  *
  * These replace the round-1 higher-order-function folds
  * (`aggregate(transform(...md5...), zip_with(...))`), which were
  * interpreted per element and dominated the benchmark (78 s for ~260 K
  * shingles). The md5-derived VALUES are bit-identical to the fold forms,
  * so the independent DuckDB oracle keeps hash-matching every query.
  *
  * Hash layout (must stay in lockstep with the oracle SQL in
  * [[graft.queries.DedupQueries]]):
  *  - `h1` = first 15 hex chars of md5 = top 60 bits of digest bytes 0-7;
  *  - `h2` = hex chars 17-30 = top 56 bits of digest bytes 8-15;
  *  - MinHash component i = min over shingles of `h1 + i*h2`
  *    (Kirsch–Mitzenhacker double hashing; max < 2^61, no overflow);
  *  - SimHash token hash = first 16 hex chars = digest bytes 0-7;
  *  - hashed-bucket token hash = first 8 hex chars = digest bytes 0-3 as
  *    an unsigned 32-bit value (`PortableHash.hash32`), taken `% buckets`.
  */
object DedupKernels {

  private val mdLocal: ThreadLocal[MessageDigest] =
    new ThreadLocal[MessageDigest] {
      override def initialValue(): MessageDigest =
        MessageDigest.getInstance("MD5")
    }

  /** Java-regex `\s` (ASCII class), the same set the round-1
    * `split(text, "\\s+")` used — kept so tokenization is unchanged. */
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Lower-cased whitespace tokens with empty tokens dropped — exactly the
    * oracle's `list_filter(str_split_regex(lower(text), '\s+'), t -> t <> '')`.
    * (The round-1 `split(trim(...))` form yielded `[""]` for blank text;
    * this matches the oracle on that edge too.) Lower-casing delegates to
    * `UTF8String.toLowerCase` — the exact semantics of Spark's `lower()`. */
  private def tokenize(text: UTF8String): Array[String] = {
    val s = text.toLowerCase.toString
    val len = s.length
    val out = new java.util.ArrayList[String]()
    var i = 0
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start) out.add(s.substring(start, i))
    }
    out.toArray(new Array[String](out.size()))
  }

  def wsTokens(text: UTF8String): ArrayData = {
    val toks = tokenize(text)
    val arr = new Array[Any](toks.length)
    var i = 0
    while (i < toks.length) { arr(i) = UTF8String.fromString(toks(i)); i += 1 }
    new GenericArrayData(arr)
  }

  /** Distinct n-word shingles (first-occurrence order), empty when the
    * text has fewer than n tokens. */
  def shingleSet(text: UTF8String, n: Int): ArrayData = {
    val toks = tokenize(text)
    if (toks.length < n) return new GenericArrayData(new Array[Any](0))
    val seen = new java.util.LinkedHashSet[String]()
    val last = toks.length - n
    var i = 0
    while (i <= last) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val arr = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(arr)
  }

  private def be64(d: Array[Byte], off: Int): Long =
    ((d(off) & 0xFFL) << 56) | ((d(off + 1) & 0xFFL) << 48) |
      ((d(off + 2) & 0xFFL) << 40) | ((d(off + 3) & 0xFFL) << 32) |
      ((d(off + 4) & 0xFFL) << 24) | ((d(off + 5) & 0xFFL) << 16) |
      ((d(off + 6) & 0xFFL) << 8) | (d(off + 7) & 0xFFL)

  /** MinHash signature: k longs, component i = min(h1 + i*h2) over the
    * shingle array. One md5 per shingle, primitive long loop. */
  def minhashSig(sh: ArrayData, k: Int): ArrayData = {
    val md = mdLocal.get()
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val n = sh.numElements()
    var i = 0
    while (i < n) {
      // Null elements contribute nothing to the minimum (the SQL-exposed
      // function accepts array<string> with nulls; crashing the task on
      // a null entry would be a far worse failure mode than ignoring it).
      if (sh.isNullAt(i)) { i += 1 }
      else {
      val d = md.digest(sh.getUTF8String(i).getBytes)
      val h1 = be64(d, 0) >>> 4 // first 15 hex chars (60 bits)
      val h2 = be64(d, 8) >>> 8 // hex chars 17-30 (56 bits)
      var v = h1
      var j = 0
      while (j < k) {
        if (v < sig(j)) sig(j) = v
        v += h2
        j += 1
      }
      i += 1
      }
    }
    new GenericArrayData(sig)
  }

  /** Fast MinHash signature straight from text: tokenize, per-token
    * XXH64, rolling n-gram combine, k-component double-hash fold — no
    * shingle strings materialized, no md5. ENGINE-INTERNAL: the values
    * are not reproducible in external SQL engines; use [[minhashSig]]
    * wherever an oracle must re-derive them. Duplicate shingles cannot
    * change a component minimum, so the multiset needs no distinct step.
    * Returns null for texts with fewer than n tokens (no shingles — an
    * all-MaxValue signature would put every short doc in one degenerate
    * LSH bucket). */
  def minhashSigFast(text: UTF8String, n: Int, k: Int): ArrayData = {
    val toks = tokenize(text)
    if (toks.length < n) return null
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val th = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      val b = toks(i).getBytes(StandardCharsets.UTF_8)
      th(i) = XXH64.hashUnsafeBytes(
        b, Platform.BYTE_ARRAY_OFFSET, b.length, 0x5851F42DL)
      i += 1
    }
    val last = toks.length - n
    i = 0
    while (i <= last) {
      var h = 0x9E3779B97F4A7C15L
      var j = 0
      while (j < n) { h = XXH64.hashLong(th(i + j), h); j += 1 }
      val h1 = h >>> 4 // 60-bit: mirrors the portable family's overflow caps
      val h2 = XXH64.hashLong(h, 0x2545F4914F6CDD1DL) >>> 8 // 56-bit
      var v = h1
      j = 0
      while (j < k) {
        if (v < sig(j)) sig(j) = v
        v += h2
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** Unicode NFC normalization (canonical decomposition + canonical
    * composition, UAX #15). The algorithm is fully specified by the
    * Unicode standard, so `java.text.Normalizer` here and ICU in other
    * engines produce identical bytes — which is exactly why NFC is the
    * canonical form a corpus should be folded to before any
    * hash/shingle/dedup step (the same visible text must hash the same
    * whether a crawler emitted composed or decomposed code points).
    * Fast path: `Normalizer.isNormalized` is a cheap scan and nearly all
    * real text is already NFC — skip the allocation for it. */
  def nfcNormalize(text: UTF8String): UTF8String = {
    val s = text.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) text
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  /** 64-bit SimHash over the token multiset: bit j set iff tokens whose
    * 64-bit hash (md5 digest bytes 0-7 big-endian = first 16 hex chars)
    * has bit j outnumber those that don't. The published standard width
    * (Manku et al., WWW'07): with 16-bit band keys each LSH bucket has
    * 65,536 possible values, so bucket population tracks duplicate
    * density instead of corpus size — the 32-bit/8-bit-band variant
    * saturates at 256 keys per band and goes quadratic at corpus scale. */
  def simhash64(text: UTF8String): Long = {
    val toks = tokenize(text)
    val md = mdLocal.get()
    val counts = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val d = md.digest(toks(i).getBytes(StandardCharsets.UTF_8))
      var h = 0L
      var b = 0
      while (b < 8) {
        h = (h << 8) | (d(b) & 0xFFL)
        b += 1
      }
      var j = 0
      while (j < 64) {
        counts(j) += ((h >>> j) & 1L).toInt
        j += 1
      }
      i += 1
    }
    val n = toks.length
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (2L * counts(j) > n) sig |= 1L << j
      j += 1
    }
    sig
  }

  /** Hashed-bucket weighted fold: `acc = 0.0; acc += w(hash32(t) % buckets)`
    * over the tokens in order — the strict left fold of the interpreted
    * `aggregate(toks, 0.0, (acc, t) -> acc + element_at(map, ...))`, so
    * the sum is bit-identical to it. The model is `keys` (distinct
    * buckets, ascending) with `weights` aligned to them; each token costs
    * one md5 and one binary search, O(log B). Null (as the fold's lookup
    * gives) for a null token, a bucket absent from `keys`, or a null
    * weight. */
  def hashedBucketFold(toks: ArrayData, keys: ArrayData, weights: ArrayData,
      buckets: Int): java.lang.Double = {
    require(keys.numElements() == weights.numElements(),
      s"hashed_bucket_fold: ${keys.numElements()} buckets but " +
        s"${weights.numElements()} weights")
    val md = mdLocal.get()
    val n = toks.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) return null
      val d = md.digest(toks.getUTF8String(i).getBytes)
      val h = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      val at = findBucket(keys, h % buckets)
      if (at < 0 || weights.isNullAt(at)) return null
      acc += weights.getDouble(at)
      i += 1
    }
    acc
  }

  /** Index of `b` in the ascending `keys`, or -1 when absent (a null key
    * on the search path also reads as absent). */
  private def findBucket(keys: ArrayData, b: Long): Int = {
    var lo = 0
    var hi = keys.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (keys.isNullAt(mid)) return -1
      val k = keys.getLong(mid)
      if (k < b) lo = mid + 1
      else if (k > b) hi = mid - 1
      else return mid
    }
    -1
  }
}

/** `ws_tokens(string) -> array<string>`: lower-cased whitespace tokens,
  * empties dropped. */
case class WsTokens(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ws_tokens"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.sql}")

  override def nullSafeEval(t: Any): Any =
    DedupKernels.wsTokens(t.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.DedupKernels.wsTokens($c);")

  override protected def withNewChildInternal(newChild: Expression): WsTokens =
    copy(child = newChild)
}

object WsTokens {
  val info = new ExpressionInfo(classOf[WsTokens].getName, "ws_tokens")
}

/** `shingle_set(string, n) -> array<string>`: distinct n-word shingles of
  * the lower-cased whitespace tokens. */
case class ShingleSet(text: Expression, nExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = text
  override def right: Expression = nExpr
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "shingle_set"

  override def checkInputDataTypes(): TypeCheckResult =
    if (text.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string first argument, got ${text.dataType.sql}")
    else if (nExpr.dataType != IntegerType || !nExpr.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a literal int n")
    else if (nExpr.eval() == null || nExpr.eval().asInstanceOf[Int] < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires n >= 1")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(t: Any, n: Any): Any =
    DedupKernels.shingleSet(t.asInstanceOf[UTF8String], n.asInstanceOf[Int])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, n) =>
      s"${ev.value} = graft.functions.DedupKernels.shingleSet($t, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleSet =
    copy(text = newLeft, nExpr = newRight)
}

object ShingleSet {
  val info = new ExpressionInfo(classOf[ShingleSet].getName, "shingle_set")
}

/** `minhash_sig(array<string>, k) -> array<bigint>`: k-component MinHash
  * signature of a shingle set (Kirsch–Mitzenhacker double hashing over one
  * md5 per shingle). */
case class MinHashSig(sh: Expression, kExpr: Expression)
    extends BinaryExpression {

  override def left: Expression = sh
  override def right: Expression = kExpr
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = sh.dataType match {
    case ArrayType(StringType, _)
        if kExpr.dataType == IntegerType && kExpr.foldable &&
          kExpr.eval() != null && kExpr.eval().asInstanceOf[Int] >= 1 =>
      TypeCheckResult.TypeCheckSuccess
    case _ =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, literal int k >= 1)")
  }

  override def nullSafeEval(a: Any, k: Any): Any =
    DedupKernels.minhashSig(a.asInstanceOf[ArrayData], k.asInstanceOf[Int])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, k) =>
      s"${ev.value} = graft.functions.DedupKernels.minhashSig($a, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MinHashSig =
    copy(sh = newLeft, kExpr = newRight)
}

object MinHashSig {
  val info = new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig")
}

/** `simhash64(string) -> bigint`: 64-bit SimHash of the lower-cased
  * whitespace token multiset (the near-dup production width — see
  * [[DedupKernels.simhash64]]). */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.sql}")

  override def nullSafeEval(t: Any): Any =
    DedupKernels.simhash64(t.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.DedupKernels.simhash64($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  val info = new ExpressionInfo(classOf[SimHash64].getName, "simhash64")
}

/** `hashed_bucket_fold(tokens array<string>, keys array<bigint>,
  * weights array<double>, n) -> double`: the summed bucket weights of a
  * token array under a hashed-linear model (see
  * [[DedupKernels.hashedBucketFold]]). `keys` must hold distinct buckets
  * in ascending order with `weights` aligned to them, as the `key` and
  * `value` fields of `sort_array(map_entries(model))` are; `n` is a
  * literal int bucket count >= 1. */
case class HashedBucketFold(toks: Expression, keys: Expression,
    weights: Expression, bucketsExpr: Expression) extends QuaternaryExpression {

  override def first: Expression = toks
  override def second: Expression = keys
  override def third: Expression = weights
  override def fourth: Expression = bucketsExpr
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "hashed_bucket_fold"

  override def checkInputDataTypes(): TypeCheckResult =
    (toks.dataType, keys.dataType, weights.dataType) match {
      case (ArrayType(StringType, _), ArrayType(LongType, _),
          ArrayType(DoubleType, _)) =>
        if (bucketsExpr.dataType == IntegerType && bucketsExpr.foldable &&
            bucketsExpr.eval() != null && bucketsExpr.eval().asInstanceOf[Int] >= 1)
          TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a literal int bucket count >= 1")
      case (t, k, w) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, array<bigint>, array<double>, " +
          s"literal int n), got (${t.sql}, ${k.sql}, ${w.sql}, " +
          s"${bucketsExpr.dataType.sql})")
    }

  override def nullSafeEval(t: Any, k: Any, w: Any, n: Any): Any =
    DedupKernels.hashedBucketFold(t.asInstanceOf[ArrayData],
      k.asInstanceOf[ArrayData], w.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, k, w, n) => {
      val r = ctx.freshName("raw")
      s"""
         |java.lang.Double $r =
         |  graft.functions.DedupKernels.hashedBucketFold($t, $k, $w, $n);
         |${ev.isNull} = $r == null;
         |if (!${ev.isNull}) ${ev.value} = $r.doubleValue();
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression,
      newFourth: Expression): HashedBucketFold =
    copy(toks = newFirst, keys = newSecond, weights = newThird,
      bucketsExpr = newFourth)
}

object HashedBucketFold {
  val info =
    new ExpressionInfo(classOf[HashedBucketFold].getName, "hashed_bucket_fold")
}

/** `nfc_normalize(string) -> string`: Unicode NFC canonical form
  * (UAX #15) — the text-canonicalization step that must precede hashing
  * and shingling. Codegen'd; already-normalized rows (the common case)
  * return the input buffer untouched. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.sql}")

  override def nullSafeEval(t: Any): Any =
    DedupKernels.nfcNormalize(t.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.DedupKernels.nfcNormalize($c);")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {
  val info = new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize")
}

/** `minhash_sig_fast(string, n, k) -> array<bigint>`: k-component MinHash
  * signature straight from text via XXH64 (no shingle strings, no md5).
  * Engine-internal — values are not oracle-portable; null for texts with
  * fewer than n tokens. */
case class MinHashSigFast(text: Expression, nExpr: Expression, kExpr: Expression)
    extends TernaryExpression {

  override def first: Expression = text
  override def second: Expression = nExpr
  override def third: Expression = kExpr
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "minhash_sig_fast"

  private def litInt(e: Expression): Option[Int] =
    if (e.dataType == IntegerType && e.foldable && e.eval() != null)
      Some(e.eval().asInstanceOf[Int])
    else None

  override def checkInputDataTypes(): TypeCheckResult =
    if (text.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string first argument, got ${text.dataType.sql}")
    else if (!litInt(nExpr).exists(_ >= 1) || !litInt(kExpr).exists(_ >= 1))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires literal int n >= 1 and k >= 1")
    else TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(t: Any, n: Any, k: Any): Any =
    DedupKernels.minhashSigFast(
      t.asInstanceOf[UTF8String], n.asInstanceOf[Int], k.asInstanceOf[Int])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, n, k) => s"""
      ${ev.value} = graft.functions.DedupKernels.minhashSigFast($t, $n, $k);
      ${ev.isNull} = ${ev.value} == null;""")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): MinHashSigFast =
    copy(text = newFirst, nExpr = newSecond, kExpr = newThird)
}

object MinHashSigFast {
  val info =
    new ExpressionInfo(classOf[MinHashSigFast].getName, "minhash_sig_fast")
}
