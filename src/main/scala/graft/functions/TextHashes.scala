package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native text-hashing expressions for the dedup pipeline.
  *
  * Semantics are EXACTLY the engine-portable polynomial hash the DuckDB
  * oracles compute with list lambdas:
  *   h(s) = fold over chars: acc = (acc * 31 + codepoint) mod 1e9+7
  * so results stay oracle-checkable — but evaluated in one JVM pass per
  * row instead of per-element interpreted lambda trees (the lambda form
  * costs ~µs per character; these cost ~ns).
  */
object TextHash {
  val Mod = 1000000007L

  /** The 8 universal-hash (a, b) pairs of the MinHash signature and their
    * modulus — the ONE definition both sides read: QDedup's DuckDB oracle
    * fragments interpolate these, and [[MinHashText]] evaluates them
    * natively (the 8 interpreted `array_min(transform(hs, hv -> (a*hv+b) % p))`
    * lambda trees cost ~µs/element × 8 passes; this is one codegen'd call
    * per row).
    */
  val MinHashP = 100003L
  val MinHashA: Array[Long] = Array(131L, 137L, 139L, 149L, 151L, 157L, 163L, 167L)
  val MinHashB: Array[Long] = Array(7L, 11L, 13L, 17L, 19L, 23L, 29L, 31L)

  /** `minhash_text` body: the 8-hash MinHash signature of a text's 3-token
    * shingles in ONE pass over its UTF-8 bytes — no token strings, no
    * shingle set, no boxing. Element j equals
    * `array_min(transform(shingle_hashes(split(s, ' ')), hv -> (Aⱼ*hv+Bⱼ) % P))`:
    *  - tokens are the runs between 0x20 bytes, empty runs included, so the
    *    token count is (spaces + 1), exactly `split(s, ' ')`;
    *  - each token's polynomial hash h and 31^len come from one fold (ASCII
    *    bytes inline; a non-ASCII token folds its codepoints like
    *    [[hashToken]]);
    *  - the shingle "t1 t2 t3" hashes as
    *    ((h1·31+32)·31^L2 + h2)·31+32)·31^L3 + h3 mod 1e9+7, which is
    *    [[hashShingle]] (the polynomial fold of a concatenation);
    *  - every shingle hash folds into the 8 running minimums. A minimum over
    *    the shingle multiset equals the minimum over its distinct set, so
    *    repeats need no dedup.
    * Null below 3 tokens (no shingle): the `size(toks) >= 3` cut.
    */
  def minHashText(s: UTF8String): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes()
    val nh = MinHashA.length
    val mins = Array.fill(nh)(Long.MaxValue)
    // rolling window: tokens k-2 (h1), k-1 (h2, p2) and the current one (h, p)
    var h1, h2, p2 = 0L
    var ntok = 0
    var start = 0
    var h = 0L
    var p = 1L
    var ascii = true
    var i = 0
    while (i <= n) {
      val b = if (i < n) Platform.getByte(base, off + i) else ' '.toByte
      if (b == ' ') {
        if (!ascii) {
          val str = UTF8String.fromAddress(base, off + start, i - start).toString
          h = 0L; p = 1L
          var j = 0
          while (j < str.length) {
            val cp = str.codePointAt(j)
            h = (h * 31 + cp) % Mod
            p = p * 31 % Mod
            j += Character.charCount(cp)
          }
        }
        ntok += 1
        if (ntok >= 3) {
          val x = ((h1 * 31 + 32) % Mod * p2 + h2) % Mod
          val hv = ((x * 31 + 32) % Mod * p + h) % Mod
          var j = 0
          while (j < nh) {
            val v = (MinHashA(j) * hv + MinHashB(j)) % MinHashP
            if (v < mins(j)) mins(j) = v
            j += 1
          }
        }
        h1 = h2; h2 = h; p2 = p
        h = 0L; p = 1L; ascii = true
        start = i + 1
      } else if (b >= 0) {
        h = (h * 31 + b) % Mod
        p = p * 31 % Mod
      } else ascii = false
      i += 1
    }
    if (ntok < 3) null else UnsafeArrayData.fromPrimitiveArray(mins)
  }

  private[functions] def requireStringArray(
      fn: String, child: Expression): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$fn expects ARRAY<STRING>, got ${other.simpleString}")
    }

  def hashToken(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    // Advance by full codepoint: a non-BMP char must contribute exactly one
    // fold step (the oracle's string_split+unicode iterates per codepoint).
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % Mod
      i += Character.charCount(cp)
    }
    acc
  }

  /** Hash of "tok1 tok2 tok3" without materializing the concatenation. */
  def hashShingle(t1: UTF8String, t2: UTF8String, t3: UTF8String): Long = {
    var acc = 0L
    def fold(s: UTF8String): Unit = {
      val str = s.toString
      var i = 0
      while (i < str.length) {
        val cp = str.codePointAt(i)
        acc = (acc * 31 + cp) % Mod
        i += Character.charCount(cp)
      }
    }
    fold(t1); acc = (acc * 31 + ' '.toInt) % Mod
    fold(t2); acc = (acc * 31 + ' '.toInt) % Mod
    fold(t3)
    acc
  }

  /** Static eval bodies shared by the interpreted and generated paths. */
  def tokenHashes(arr: ArrayData): ArrayData = {
    val out = new Array[Any](arr.numElements())
    var i = 0
    while (i < out.length) {
      val s = arr.getUTF8String(i)
      out(i) = if (s == null) null else hashToken(s)
      i += 1
    }
    new GenericArrayData(out)
  }

  def shingleHashes(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i + 2 < n) {
      val (a, b, c) = (arr.getUTF8String(i), arr.getUTF8String(i + 1), arr.getUTF8String(i + 2))
      if (a != null && b != null && c != null) seen.add(hashShingle(a, b, c))
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next().longValue(); j += 1 }
    new GenericArrayData(out)
  }

  /** All sliding word n-grams of a token array as "t1 t2 … tn" strings —
    * exactly `transform(sequence(1, size-n+1), i -> concat_ws(' ',
    * slice(toks, i, n)))` (null tokens skipped like concat_ws, result
    * empty when size < n), in one JVM pass instead of an interpreted
    * lambda + array copy per gram (r12, guide §4). */
  def wordNgrams(arr: ArrayData, n: Int): ArrayData = {
    val sz = arr.numElements()
    val m = sz - n + 1
    if (m <= 0) return new GenericArrayData(new Array[Any](0))
    val toks = new Array[UTF8String](sz)
    var i = 0
    // isNullAt guard (ADVICE r12): UnsafeArrayData.getUTF8String reads a
    // null element as an EMPTY string, which would break the concat_ws
    // null-skip semantics below for any ARRAY<STRING> with null elements
    while (i < sz) {
      toks(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    val out = new Array[Any](m)
    val sb = new java.lang.StringBuilder(64)
    var g = 0
    while (g < m) {
      sb.setLength(0)
      var j = 0
      var first = true
      while (j < n) {
        val t = toks(g + j)
        if (t != null) { // concat_ws semantics: null contributes nothing
          if (!first) sb.append(' ')
          sb.append(t.toString)
          first = false
        }
        j += 1
      }
      out(g) = UTF8String.fromString(sb.toString)
      g += 1
    }
    new GenericArrayData(out)
  }

  /** Register the expressions in the session registry. Idempotent. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.registerFunction(
      FunctionIdentifier("token_hashes"),
      new ExpressionInfo(classOf[TokenHashes].getName, "token_hashes"),
      (children: Seq[Expression]) => TokenHashes(children.head))
    registry.registerFunction(
      FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (children: Seq[Expression]) => ShingleHashes(children.head))
    registry.registerFunction(
      FunctionIdentifier("poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "poly_hash"),
      (children: Seq[Expression]) => PolyHash(children.head))
    registry.registerFunction(
      FunctionIdentifier("minhash_text"),
      new ExpressionInfo(classOf[MinHashText].getName, "minhash_text"),
      (children: Seq[Expression]) => MinHashText(children.head))
    registry.registerFunction(
      FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNgrams].getName, "word_ngrams"),
      {
        case Seq(toks, n) => WordNgrams(toks, n)
        case other => throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> "`word_ngrams`",
            "expectedNum" -> "2",
            "actualNum" -> other.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      })
  }
}

/** `word_ngrams(array<string>, n) → array<string>` — sliding word n-grams
  * joined by single spaces; see [[TextHash.wordNgrams]]. `n` must be a
  * foldable positive integer.
  */
case class WordNgrams(tokens: Expression, n: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def left: Expression = tokens
  override def right: Expression = n
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_ngrams"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (tokens.dataType, n.dataType, n.foldable) match {
      case (ArrayType(StringType, _), org.apache.spark.sql.types.IntegerType, true) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"word_ngrams expects (ARRAY<STRING>, foldable INT), got $other")
    }

  override protected def nullSafeEval(toks: Any, nv: Any): Any =
    TextHash.wordNgrams(toks.asInstanceOf[ArrayData], nv.asInstanceOf[Int])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev,
      (a, b) => s"${ev.value} = graft.functions.TextHash.wordNgrams($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(tokens = newLeft, n = newRight)
}

/** `minhash_text(string) → array<long>` — the 8-hash MinHash signature
  * ([[TextHash.MinHashA]]/[[TextHash.MinHashB]] mod [[TextHash.MinHashP]])
  * of the string's space-split 3-token shingles, in one pass over its bytes;
  * see [[TextHash.minHashText]]. Callers pass `lower(text)`. Null for a
  * null input or fewer than 3 tokens.
  */
case class MinHashText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_text"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case _: StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_text expects STRING, got ${other.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    TextHash.minHashText(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.TextHash.minHashText($s); ${ev.isNull} = ${ev.value} == null;")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `poly_hash(string) → long` — the whole-string polynomial hash
  * (== aggregate(split(s, ''), 0L, (a, c) -> (a*31 + codepoint) % 1e9+7)),
  * fully codegen'd: one static call per row vs one interpreted lambda
  * invocation per CHARACTER in the HOF form (q_doc_fingerprint's doc-level
  * fingerprint walks every char of every doc).
  */
case class PolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"poly_hash expects STRING, got ${other.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    TextHash.hashToken(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = graft.functions.TextHash.hashToken($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `token_hashes(array<string>) → array<long>` — per-token polynomial hash
  * (== transform(toks, tok -> charPoly(tok))). Duplicates preserved (term
  * weighting for SimHash). Null elements map to null (same as `transform`
  * with a null-propagating lambda), so the output's containsNull mirrors
  * the input's.
  */
case class TokenHashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType match {
    case ArrayType(_, n) => ArrayType(LongType, containsNull = n)
    case _               => ArrayType(LongType, containsNull = true)
  }
  override def prettyName: String = "token_hashes"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextHash.requireStringArray(prettyName, child)

  override protected def nullSafeEval(input: Any): Any =
    TextHash.tokenHashes(input.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = graft.functions.TextHash.tokenHashes($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `shingle_hashes(array<string>) → array<long>` — DISTINCT hashes of all
  * 3-token shingles (== transform(distinct 3-shingles, charPoly)), one
  * pass, no intermediate shingle strings. Input must have ≥ 3 tokens.
  * Windows containing a null token are skipped (a null token is not a
  * shingle member), so the output never contains null.
  */
case class ShingleHashes(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    TextHash.requireStringArray(prettyName, child)

  override protected def nullSafeEval(input: Any): Any =
    TextHash.shingleHashes(input.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = graft.functions.TextHash.shingleHashes($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
