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
  * one byte array, with no per-row regex or `Formatter` work. Any NULL
  * input gives a NULL line, never a malformed one.
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

  def line(m: UTF8String, a: UTF8String, v: Double, tsNs: Long): UTF8String = {
    val mag = math.abs(v)
    val fast = mag < FastLimit && mag == math.floor(mag)
    // everything else (fractions, NaN, ±Inf, huge values) keeps the
    // Formatter's exact text: the oracle parity rests on it
    val slow = if (fast) null else String.format(Locale.US, "%.2f", v).getBytes(StandardCharsets.US_ASCII)
    val valueMax = if (fast) 20 else slow.length
    // worst case: every name byte escaped; 20 = the longest long
    val out = new Array[Byte](2 * (m.numBytes + a.numBytes) + valueMax + 23)
    var p = escape(m, out, 0, key = false)
    out(p) = ' '
    p = escape(a, out, p + 1, key = true)
    out(p) = '='
    p += 1
    if (fast) {
      // the sign bit, not `v < 0`: -0.0 prints as -0.00
      if (java.lang.Double.doubleToRawLongBits(v) < 0) { out(p) = '-'; p += 1 }
      p = putLong(out, p, mag.toLong)
      out(p) = '.'; out(p + 1) = '0'; out(p + 2) = '0'
      p += 3
    } else {
      System.arraycopy(slow, 0, out, p, slow.length)
      p += slow.length
    }
    out(p) = ' '
    p = putLong(out, p + 1, tsNs)
    UTF8String.fromBytes(out, 0, p)
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

  /** Decimal text of `x` at `p`, as `Long.toString`; returns the next free
    * position. Works on the negative magnitude so `Long.MinValue` needs no
    * special case.
    */
  private def putLong(out: Array[Byte], p0: Int, x: Long): Int = {
    var p = p0
    var q = x
    if (q < 0) { out(p) = '-'; p += 1 } else q = -q
    var digits = 1
    var bound = -10L
    while (digits < 19 && q <= bound) { digits += 1; bound *= 10 }
    var i = p + digits - 1
    while (i >= p) {
      out(i) = ('0' - (q % 10)).toByte
      q /= 10
      i -= 1
    }
    p + digits
  }
}
