package graft.sinks

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, QuaternaryExpression}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import java.nio.charset.StandardCharsets
import java.util.Locale

/** Native Catalyst expression for one line-protocol line —
  * `format_line(measurement STRING, alias STRING, value DOUBLE, tsNs BIGINT)
  * → STRING`, the line `measurement alias=value tsNs` with the value as
  * `%.2f`.
  *
  * Codegen'd like [[graft.functions.DecodeS7]]: the generated code is a
  * single static call into [[LineKernel.line]], which builds the line in
  * one byte array, with no per-row regex and no `Formatter` work for
  * integral values below 1e15 or magnitudes in [1e-3, 1e7); only values
  * outside those (and NaN, ±Inf) take `String.format`. Any NULL input
  * gives a NULL line, never a malformed one.
  */
case class FormatLine(first: Expression, second: Expression, third: Expression,
    fourth: Expression) extends QuaternaryExpression {

  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "format_line"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = first.dataType.isInstanceOf[StringType] && second.dataType.isInstanceOf[StringType] &&
      third.dataType == DoubleType && fourth.dataType == LongType
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("format_line expects (STRING, STRING, DOUBLE, BIGINT), got " +
      children.map(_.dataType.simpleString).mkString(", "))
  }

  override protected def nullSafeEval(m: Any, a: Any, v: Any, ts: Any): Any =
    LineKernel.line(m.asInstanceOf[UTF8String], a.asInstanceOf[UTF8String],
      v.asInstanceOf[Double], ts.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (m, a, v, ts) => s"graft.sinks.LineKernel.line($m, $a, $v, $ts)")

  override protected def withNewChildrenInternal(newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

object FormatLine {

  private val Name = FunctionIdentifier("format_line")

  /** Register `format_line` in the session's function registry, so plans
    * reach it through `call_function`/SQL. Idempotent.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(Name))
      registry.registerFunction(Name, new ExpressionInfo(classOf[FormatLine].getName, "format_line"),
        (c: Seq[Expression]) => FormatLine(c(0), c(1), c(2), c(3)))
  }
}

/** The byte kernel behind [[FormatLine]]. Escaping scans bytes: the
  * separators are ASCII, and no byte of a multi-byte UTF-8 sequence is
  * below 0x80, so a byte scan never splits a character.
  */
object LineKernel {

  /** Integral values below this magnitude print as the long plus `.00`:
    * they are exact doubles and their `%.2f` text has no rounding.
    */
  private val FastLimit = 1e15

  /** Magnitudes in [DecimalMin, DecimalMax) print from `Double.toString`'s
    * plain-decimal digits (it switches to `E` notation outside them).
    */
  private val DecimalMin = 1e-3
  private val DecimalMax = 1e7

  /** "00" to "99", two ASCII bytes each. */
  private val Pairs: Array[Byte] =
    (0 until 100).map(i => f"$i%02d").mkString.getBytes(StandardCharsets.US_ASCII)

  def line(m: UTF8String, a: UTF8String, v: Double, tsNs: Long): UTF8String = {
    val mag = math.abs(v)
    val integral = mag < FastLimit && mag == math.floor(mag)
    val decimal = !integral && mag >= DecimalMin && mag < DecimalMax
    // everything else (tiny and huge fractions, NaN, ±Inf) keeps the
    // Formatter's exact text: the oracle parity rests on it
    val slow = if (integral || decimal) null
      else String.format(Locale.US, "%.2f", v).getBytes(StandardCharsets.US_ASCII)
    val valueMax = if (slow == null) 20 else slow.length
    // worst case: every name byte escaped; 20 = the longest long
    val out = new Array[Byte](2 * (m.numBytes + a.numBytes) + valueMax + 23)
    var p = escape(m, out, 0, key = false)
    out(p) = ' '
    p = escape(a, out, p + 1, key = true)
    out(p) = '='
    p += 1
    if (slow == null) {
      // the sign bit, not `v < 0`: -0.0 and -0.001 print as -0.00
      if (java.lang.Double.doubleToRawLongBits(v) < 0) { out(p) = '-'; p += 1 }
      val cents = if (integral) mag.toLong * 100 else hundredths(mag)
      p = putLong(out, p, cents / 100)
      out(p) = '.'
      putPair(out, p + 1, (cents % 100).toInt)
      p += 3
    } else {
      System.arraycopy(slow, 0, out, p, slow.length)
      p += slow.length
    }
    out(p) = ' '
    p = putLong(out, p + 1, tsNs)
    UTF8String.fromBytes(out, 0, p)
  }

  /** `mag` in hundredths, rounded HALF_UP at the third decimal of its
    * shortest digits (`Double.toString`, plain `int.frac` form in the
    * decimal range). The Formatter's `%.2f` rounds the same digits the
    * same way, so 1.005 gives 101, not the 100 its binary value would.
    *
    * The digits lie within ulp(mag)/2 of `mag`, and `t = mag*100` within
    * ulp(t)/2 of the exact product, so the digits times 100 lie within
    * 50·ulp(mag) + ulp(t)/2 of `t`. Unless `t`'s fraction is nearer 0.5
    * than a bound above that, it rounds on the same side as the digits
    * would, and no digits are printed; near a `.xx5` boundary they are.
    */
  private[sinks] def hundredths(mag: Double): Long = {
    val t = mag * 100
    val f = math.floor(t)
    val r = t - f
    if (math.abs(r - 0.5) > 64 * math.ulp(mag) + math.ulp(t)) f.toLong + (if (r > 0.5) 1 else 0)
    else digitHundredths(mag)
  }

  private def digitHundredths(mag: Double): Long = {
    val s = java.lang.Double.toString(mag)
    val dot = s.indexOf('.')
    var cents = 0L
    var i = 0
    while (i < dot) { cents = cents * 10 + (s.charAt(i) - '0'); i += 1 }
    def frac(k: Int): Int = if (dot + k < s.length) s.charAt(dot + k) - '0' else 0
    cents * 100 + frac(1) * 10 + frac(2) + (if (frac(3) >= 5) 1 else 0)
  }

  /** Copy `s` into `out` at `p`, a backslash before each `,` and space
    * (and `=` for a key); returns the next free position.
    */
  private def escape(s: UTF8String, out: Array[Byte], p0: Int, key: Boolean): Int = {
    var p = p0
    var i = 0
    val n = s.numBytes
    while (i < n) {
      val b = s.getByte(i)
      if (b == ',' || b == ' ' || (key && b == '=')) { out(p) = '\\'; p += 1 }
      out(p) = b
      p += 1
      i += 1
    }
    p
  }

  private val Chunk = 1000000000L

  /** Decimal text of `x` at `p`, as `Long.toString`; returns the next free
    * position. The magnitude splits into 9-digit chunks, each printed with
    * int arithmetic, two digits per step. Works on the negative magnitude
    * so `Long.MinValue` needs no special case.
    */
  private def putLong(out: Array[Byte], p0: Int, x: Long): Int = {
    var p = p0
    var q = x
    if (q < 0) { out(p) = '-'; p += 1 } else q = -q
    if (q > -Chunk) return putLead(out, p, (-q).toInt)
    val lo = (-(q % Chunk)).toInt
    q /= Chunk
    if (q > -Chunk) p = putLead(out, p, (-q).toInt)
    else {
      p = putLead(out, p, (-(q / Chunk)).toInt)
      p = putInt(out, p, (-(q % Chunk)).toInt, 9)
    }
    putInt(out, p, lo, 9)
  }

  /** The leading chunk: no zero padding. */
  private def putLead(out: Array[Byte], p: Int, v: Int): Int = putInt(out, p, v, width(v))

  /** The number of decimal digits of `v` in [0, 1e9). */
  private def width(v: Int): Int = {
    var n = 1
    var bound = 10
    while (n < 9 && v >= bound) { n += 1; bound *= 10 }
    n
  }

  /** The last `n` digits of `v` at `p`, zero-padded; returns `p + n`. */
  private def putInt(out: Array[Byte], p: Int, v0: Int, n: Int): Int = {
    var v = v0
    var i = p + n
    while (i - p >= 2) {
      val r = v % 100
      v /= 100
      i -= 2
      putPair(out, i, r)
    }
    if (i > p) out(p) = ('0' + v % 10).toByte
    p + n
  }

  private def putPair(out: Array[Byte], p: Int, r: Int): Unit = {
    out(p) = Pairs(2 * r)
    out(p + 1) = Pairs(2 * r + 1)
  }
}
