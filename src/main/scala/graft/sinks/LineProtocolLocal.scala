package graft.sinks

/** The InfluxDB 1.x line-protocol parser — plain Scala, zero Spark, and
  * the only one in graft. The HTTP `/write` path
  * (graft.influxql.InfluxQLHttp) parses each POST body with it on the
  * driver: a write batch is one bounded request body already sitting in
  * driver memory, so spinning up a Spark job to parse it (the pre-r9
  * design) paid full job-scheduling latency per POST — tens of
  * milliseconds — and capped the server at ~6 writes/sec no matter the
  * cluster. The reference daemon POSTs once per sample
  * (Linux/InfluxConnector2.py:176), so that latency sat directly on the
  * ingest hot path. A bulk backlog parses with the same function inside
  * `mapPartitions` (`q_line_protocol_parse`).
  *
  * Grammar (InfluxDB 1.x): `measurement[,tag=v…] field=v[,f2=v2…] [tsNs]`
  * with backslash-escaped `, =` and space in measurement/tags/keys,
  * `"quoted string"` field values (embedded `\"`/`\\` unescaped), and
  * integer fields' `i` suffix. Quoted values are STRING-typed on the
  * wire: their numeric view is None even when the body looks numeric —
  * InfluxDB never coerces `value="3.5"` to a float.
  */
object LineProtocolLocal {

  /** One parsed line. `fields` preserves wire order; the numeric view is
    * None for quoted-string and boolean/text values (those live only in
    * `str`).
    */
  final case class Field(key: String, str: String, num: Option[Double])
  final case class Parsed(measurement: String, tags: Map[String, String],
      fields: Vector[Field], tsNs: Option[Long])

  /** Split on top-level `sep`: skipped when the previous char is a
    * backslash (the wire's escape, a single-char lookbehind) and — when
    * `respectQuotes` — inside `"…"` field values, where `\x` pairs are
    * consumed as units so an embedded `\"` never closes the string.
    */
  private def splitUnescaped(s: String, sep: Char, respectQuotes: Boolean,
      limit: Int = Int.MaxValue): Vector[String] = {
    val out = Vector.newBuilder[String]
    val cur = new java.lang.StringBuilder
    var i = 0
    var inQ = false
    var n = 1
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ) {
        if (c == '\\' && i + 1 < s.length) { cur.append(c).append(s.charAt(i + 1)); i += 2 }
        else { if (c == '"') inQ = false; cur.append(c); i += 1 }
      } else if (c == sep && n < limit && (i == 0 || s.charAt(i - 1) != '\\')) {
        out += cur.toString; cur.setLength(0); n += 1; i += 1
      } else {
        if (respectQuotes && c == '"' && (i == 0 || s.charAt(i - 1) != '\\')) inQ = true
        cur.append(c); i += 1
      }
    }
    out += cur.toString
    out.result()
  }

  /** Unescape `\,` `\ ` `\=` in one pass (tag/field keys, tag values). */
  private def unescTag(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length &&
          (s.charAt(i + 1) == ' ' || s.charAt(i + 1) == ',' || s.charAt(i + 1) == '=')) {
        sb.append(s.charAt(i + 1)); i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def unescMeasurement(s: String): String =
    s.replace("\\ ", " ").replace("\\,", ",")

  private def isQuoted(raw: String): Boolean =
    raw.length >= 2 && raw.charAt(0) == '"' && raw.charAt(raw.length - 1) == '"'

  /** Unescape `\"` and `\\` inside a quoted body. */
  private def unquote(raw: String): String = {
    val body = raw.substring(1, raw.length - 1)
    val sb = new java.lang.StringBuilder(body.length)
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (c == '\\' && i + 1 < body.length &&
          (body.charAt(i + 1) == '"' || body.charAt(i + 1) == '\\')) {
        sb.append(body.charAt(i + 1)); i += 2
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private val IntSuffix = "^-?[0-9]+i$".r

  private def numericView(raw: String): Option[Double] =
    if (isQuoted(raw)) None // wire-typed STRING — never coerced
    else if (IntSuffix.matches(raw)) raw.dropRight(1).toDoubleOption
    else raw.toDoubleOption

  /** Parse one line. Left = human-readable reason (the /write 400 body). */
  def parseLine(line: String): Either[String, Parsed] = {
    val parts = splitUnescaped(line, ' ', respectQuotes = true)
    if (parts.isEmpty || parts.head.isEmpty) return Left("missing measurement")
    val mt = splitUnescaped(parts.head, ',', respectQuotes = false)
    val measurement = unescMeasurement(mt.head)
    if (measurement.isEmpty) return Left("missing measurement")
    val tags = Map.newBuilder[String, String]
    var ti = 1
    while (ti < mt.length) {
      splitUnescaped(mt(ti), '=', respectQuotes = false, limit = 2) match {
        case Vector(k, v) if k.nonEmpty => tags += unescTag(k) -> unescTag(v)
        case _ => return Left(s"malformed tag '${mt(ti)}'")
      }
      ti += 1
    }
    if (parts.length < 2 || parts(1).isEmpty) return Left("missing fields")
    val fields = Vector.newBuilder[Field]
    for (seg <- splitUnescaped(parts(1), ',', respectQuotes = true)) {
      splitUnescaped(seg, '=', respectQuotes = true, limit = 2) match {
        case Vector(k, raw) if k.nonEmpty && raw.nonEmpty =>
          val str = if (isQuoted(raw)) unquote(raw) else raw
          fields += Field(unescTag(k), str, numericView(raw))
        case _ => return Left(s"malformed field '$seg'")
      }
    }
    val tsNs: Option[Long] = if (parts.length >= 3 && parts(2).nonEmpty) {
      parts(2).toLongOption match {
        case some @ Some(_) => some
        case None => return Left(s"malformed timestamp '${parts(2)}'")
      }
    } else None
    Right(Parsed(measurement, tags.result(), fields.result(), tsNs))
  }
}
