package graft.functions

import java.util.Locale

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** String algorithms the reference relies on that Spark lacks as built-ins.
  * Static methods so generated code can call them directly (whole-stage
  * codegen keeps working — no Scala-closure UDF in the hot path). */
object StringAlgos {

  /** Python `string.capwords(s)` semantics (parse_clean_and_csv.py:315):
    * split on whitespace runs, capitalize each word (first char upper, rest
    * lower), join with single spaces. Differs from Spark's `initcap`, which
    * also splits on non-alphanumerics ("d'aguilar" → initcap "D'Aguilar" vs
    * capwords "D'aguilar"). Case mapping is the FULL (locale-root) Unicode
    * mapping on the first CODE POINT — the same rule as the DuckDB
    * oracle's `upper(x[1:1])` (utf8proc), so e.g. 'ß' → "SS"; Python 2's
    * 1:1 Py_UNICODE_TOUPPER differs there, but the reference corpus is
    * ASCII/CJK where all mappings agree. Code-point slicing, not char:
    * a supplementary-plane first letter must not be split across the
    * surrogate pair (a lone surrogate case-maps as a no-op — the word
    * would silently never capitalize while the oracle's per-codepoint
    * slice does). */
  def capwords(s: UTF8String): UTF8String = {
    if (s == null) return null
    // (?U) = UNICODE_CHARACTER_CLASS: python str.split() treats unicode
    // whitespace (e.g. U+3000 ideographic space) as separators; Java's
    // default \s does not.
    val words = s.toString.split("(?U)\\s+")
    val sb = new StringBuilder(s.numChars())
    var first = true
    var i = 0
    while (i < words.length) {
      val w = words(i)
      if (w.nonEmpty) {
        if (!first) sb.append(' ')
        val headLen = Character.charCount(w.codePointAt(0))
        sb.append(w.substring(0, headLen).toUpperCase(Locale.ROOT))
        if (w.length > headLen)
          sb.append(w.substring(headLen).toLowerCase(Locale.ROOT))
        first = false
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** Polynomial codepoint hash: fold(acc·base + codepoint) mod `mod`.
    * Engine-portable by construction — DuckDB replicates it exactly with
    * `list_reduce(list_transform(string_split(s,''), c -> unicode(c)), …)`,
    * which is what makes the MinHash/SimHash oracles hash-comparable
    * (murmur3/xxhash64 have no DuckDB equivalent). Codepoint iteration
    * matches DuckDB's per-character split (surrogate pairs = one step). */
  def polyHash(s: UTF8String, base: Long, mod: Long): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * base + cp) % mod
      i += Character.charCount(cp)
    }
    acc
  }

  /** Unicode NFC (canonical composition) — the normalization step a text
    * corpus needs before hashing/dedup so that "é" (U+00E9) and
    * "e"+combining-acute (U+0065 U+0301) hash identically. JDK
    * `java.text.Normalizer` implements the Unicode standard algorithm;
    * DuckDB's `nfc_normalize` (utf8proc) is conformant to the same spec,
    * which is what makes the cross-engine oracle exact. */
  def nfc(s: UTF8String): UTF8String = {
    if (s == null) return null
    UTF8String.fromString(
      java.text.Normalizer.normalize(s.toString, java.text.Normalizer.Form.NFC))
  }

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken, SIGMOD
    * 2003) in one O(n) pass: rolling base-31 polynomial hash of every
    * codepoint k-gram (same fold as [[polyHash]], mod 1e9+7 — DuckDB
    * replays it with list_reduce over string_split, keeping the oracle
    * cross-engine), then the minimum of each window of `w` consecutive
    * k-gram hashes via a monotonic deque, deduplicated. Fewer than w
    * k-grams → the single clipped window (global min); fewer than k
    * codepoints → empty. Replaces the nested higher-order-function
    * formulation, whose interpreted per-element lambdas were ~10× this
    * cost at bench scale. */
  def winnowFps(s: UTF8String,
      k: Int, w: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val M = 1000000007L
    val str = s.toString
    val n = str.codePointCount(0, str.length)
    if (n < k)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Long])
    val cps = new Array[Long](n)
    var i = 0
    var j = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      cps(j) = cp
      j += 1
      i += Character.charCount(cp)
    }
    val m = n - k + 1
    var pow = 1L // 31^(k-1) mod M — the drop-term multiplier
    var e = 0
    while (e < k - 1) { pow = pow * 31L % M; e += 1 }
    val hs = new Array[Long](m)
    var h = 0L
    i = 0
    while (i < k) { h = (h * 31L + cps(i)) % M; i += 1 }
    hs(0) = h
    i = 1
    while (i < m) {
      h = ((h + M - cps(i - 1) * pow % M) % M * 31L + cps(i + k - 1)) % M
      hs(i) = h
      i += 1
    }
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    val deque = new Array[Int](m) // hash-increasing indices, [head, tail)
    var head = 0
    var tail = 0
    i = 0
    while (i < m) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i
      tail += 1
      while (deque(head) < i - w + 1) head += 1
      // a window closes at every i >= w-1; if m < w the one clipped
      // window closes at the final index
      if (i >= w - 1 || i == m - 1) {
        val mn = hs(deque(head))
        if (seen.add(mn)) out += mn
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Two independent 31-bit polynomial hashes (bases 31 / 37, mod 2³¹−1)
    * packed into one 62-bit value: bits 0-30 = base-31 fold, bits 31-61 =
    * base-37 fold. Used as the SimHash bit source; 62 well-mixed bits,
    * reproducible in DuckDB as `h37 * 2147483648 + h31` (no 64-bit
    * wraparound, which DuckDB's checked BIGINT arithmetic would reject). */
  def polyHash2(s: UTF8String): Long = {
    val P = 2147483647L
    val str = s.toString
    var a = 0L
    var b = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      a = (a * 31L + cp) % P
      b = (b * 37L + cp) % P
      i += Character.charCount(cp)
    }
    (b << 31) | a
  }

  /** 62-bit SimHash of a space-tokenized document in ONE pass over the
    * text: per token (exact `split(text, " ")` segment semantics —
    * empty segments from consecutive / trailing spaces included, the
    * empty string is one empty token) the [[polyHash2]] bits each add
    * ±1 to their counter lane; the sign of each lane becomes the output
    * bit (> 0 → 1, ties → 0 — the declarative `when(c > 0, 1)` rule).
    *
    * This is the row-local form of an explode + aggregate pipeline
    * ([[graft.ops.Dedup.simhashes]]): a document's text is ONE row, so
    * nothing about the signature is distributed — the aggregate shape
    * shuffled a 62-lane partial buffer per document (~500 B each;
    * 319 MB and ~160 CPU-seconds of sort-aggregate machinery at sf1)
    * to merge buffers that were already complete. The single-pass
    * scan never materializes the token array and resets the rolling
    * hash at each separator, so the per-token hashes are byte-identical
    * to hashing the split segments. */
  def simHash62(s: UTF8String): Long = {
    val P = 2147483647L
    val str = s.toString
    val counters = new Array[Int](62)
    var a = 0L
    var b = 0L
    var i = 0
    while (i < str.length) {
      val ch = str.charAt(i)
      if (ch == ' ') { // token boundary: fold the finished token's bits
        val h = (b << 31) | a
        var j = 0
        while (j < 62) {
          counters(j) += (((h >>> j) & 1L).toInt << 1) - 1
          j += 1
        }
        a = 0L; b = 0L
        i += 1
      } else {
        val cp = str.codePointAt(i)
        a = (a * 31L + cp) % P
        b = (b * 37L + cp) % P
        i += Character.charCount(cp)
      }
    }
    // the final segment — also the trailing empty token after a trailing
    // space, and the single empty token of the empty string, matching
    // split()'s limit=-1 semantics
    val h = (b << 31) | a
    var j = 0
    while (j < 62) {
      counters(j) += (((h >>> j) & 1L).toInt << 1) - 1
      j += 1
    }
    var out = 0L
    j = 0
    while (j < 62) {
      if (counters(j) > 0) out |= 1L << j
      j += 1
    }
    out
  }
}

/** Native Catalyst expression for [[StringAlgos.capwords]]: null-safe,
  * codegen'd as a static call so it stays inside WholeStageCodegen spans. */
case class Capwords(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "capwords"

  override protected def nullSafeEval(input: Any): Any =
    StringAlgos.capwords(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.StringAlgos.capwords($c)")

  override protected def withNewChildInternal(newChild: Expression): Capwords =
    copy(child = newChild)
}

/** Native Catalyst expression for [[StringAlgos.nfc]]: null-safe, codegen'd
  * static call. Normalization must run BEFORE fingerprinting/minhashing in
  * a dedup pipeline, so it has to stay inside the same codegen span as the
  * hash that consumes it. */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override protected def nullSafeEval(input: Any): Any =
    StringAlgos.nfc(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.StringAlgos.nfc($c)")

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** Native Catalyst expression for [[StringAlgos.polyHash]] — stays inside
  * WholeStageCodegen (static call), so it is as cheap in the hot path as
  * the built-in hash functions it replaces for oracle-parity. */
case class PolyHash(child: Expression, base: Long, mod: Long)
    extends UnaryExpression {
  // construction-time validation — this expression is SQL-reachable
  // (poly_hash(s, base, mod) via GraftExtensions), so hostile literals
  // must fail at analysis, not as an executor ArithmeticException
  // (mod = 0) or silent corruption (negative acc, acc·base overflow).
  // Bounds keep the fold exact: acc < mod ≤ 2³¹ and base ≤ 2³¹ →
  // acc·base + codepoint < 2⁶² + 2²¹ fits a long.
  require(base >= 1L && mod >= 1L,
    s"poly_hash: base and mod must be >= 1, got base=$base mod=$mod")
  require(base <= Int.MaxValue && mod <= Int.MaxValue,
    s"poly_hash: base and mod must be <= 2^31-1 (overflow-exact fold), " +
      s"got base=$base mod=$mod")
  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash"

  override protected def nullSafeEval(input: Any): Any =
    StringAlgos.polyHash(input.asInstanceOf[UTF8String], base, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.StringAlgos.polyHash($c, ${base}L, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

/** Native Catalyst expression for [[StringAlgos.winnowFps]] — the whole
  * winnowing selection (rolling k-gram hash + deque window minima +
  * dedup) as one static call inside the codegen span; the plan above it
  * is just explode. */
case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  // validated at construction (= SQL analysis / Column build), not in the
  // kernel: k ≤ 0 would index cps negatively in the rolling-hash drop term
  // and w ≤ 0 corrupts the monotonic-deque scan — an executor-side crash
  // from plain SQL literals without this guard (ADVICE r10)
  require(k >= 1 && w >= 1,
    s"winnow_fps requires k >= 1 and w >= 1, got k=$k w=$w")
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"

  override protected def nullSafeEval(input: Any): Any =
    StringAlgos.winnowFps(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.StringAlgos.winnowFps($c, $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}

/** Native Catalyst expression for [[StringAlgos.simHash62]]: the whole
  * document signature as one codegen'd static call — no explode, no
  * aggregate, no shuffle. */
case class SimHash62(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash62"

  override protected def nullSafeEval(input: Any): Any =
    StringAlgos.simHash62(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.StringAlgos.simHash62($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash62 =
    copy(child = newChild)
}

/** Native Catalyst expression for [[StringAlgos.polyHash2]]. */
case class PolyHash2(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash2"

  override protected def nullSafeEval(input: Any): Any =
    StringAlgos.polyHash2(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.StringAlgos.polyHash2($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyHash2 =
    copy(child = newChild)
}

object GraftFunctions {
  import org.apache.spark.sql.graftbridge.Bridge

  /** Wrap a Catalyst expression as a Column (Spark 4 classic API). */
  def asColumn(e: Expression): Column = Bridge.column(e)
  def toExpr(c: Column): Expression = Bridge.expression(c)

  /** Column-level capwords. */
  def capwords(c: Column): Column = asColumn(Capwords(toExpr(c)))

  /** Column-level Unicode NFC normalization. */
  def nfcNormalize(c: Column): Column = asColumn(NfcNormalize(toExpr(c)))

  /** Column-level portable polynomial hash (see StringAlgos.polyHash). */
  def polyHash(c: Column, base: Long = 31L,
      mod: Long = 2147483647L): Column =
    asColumn(PolyHash(toExpr(c), base, mod))

  /** Column-level 62-bit dual polynomial hash. */
  def polyHash2(c: Column): Column = asColumn(PolyHash2(toExpr(c)))

  /** Column-level one-pass 62-bit document SimHash
    * (see [[StringAlgos.simHash62]]). */
  def simHash62(c: Column): Column = asColumn(SimHash62(toExpr(c)))

  /** Column-level winnowing fingerprint selection → ARRAY<LONG>. */
  def winnowFps(c: Column, k: Int, w: Int): Column =
    asColumn(WinnowFps(toExpr(c), k, w))

  /** Column-level fused dot product over ARRAY<DOUBLE> (see VectorAlgos). */
  def vecDot(a: Column, b: Column): Column =
    asColumn(DotProduct(toExpr(a), toExpr(b)))

  /** Column-level binary-search membership probe over a SORTED
    * ARRAY<LONG> (see [[SortedProbe]]). */
  def sortedContains(arr: Column, v: Column): Column =
    asColumn(SortedArrayContains(toExpr(arr), toExpr(v)))

  /** Column-level IVF centroid argmin → STRUCT<d: double, id: int>
    * (see [[CentroidArgmin]]); `centroids` as (id, components). */
  def centroidArgmin(vec: Column,
      centroids: Seq[(Int, Seq[Double])]): Column =
    asColumn(CentroidArgmin(toExpr(vec),
      centroids.map(_._2.toArray).toArray, centroids.map(_._1).toArray))

  /** Column-level fused int8 quantization → STRUCT<mn, delta, codes, sq>
    * (see VectorAlgos.quantizeInt8). */
  def quantizeInt8(v: Column): Column = asColumn(QuantizeInt8(toExpr(v)))
}
