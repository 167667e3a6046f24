package graft.sinks

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, ForeachWriter, Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.{Files, Paths}

/** InfluxDB line-protocol sink (SURVEY.md §2.1 S3) — replaces the
  * reference's one-HTTP-POST-per-sample write (Linux/InfluxConnector2.py:176)
  * with batched, per-partition writes.
  *
  * The line format (`measurement field=value timestamp_ns`) is built by the
  * codegen'd `format_line` kernel ([[FormatLine]]), so formatting runs
  * distributed; only the final append happens in the sink.
  * `foreachBatch(append(dir))` wires it
  * into Structured Streaming with one writer per micro-batch — connection
  * (here: file handle) reuse amortized across the whole batch, the fix for
  * the reference's per-sample write amplification (BASELINE.md).
  */
object LineProtocol {

  /** One line-protocol line per row: `measurement alias=value tsNs`, built
    * by the native [[FormatLine]] kernel. The measurement escapes commas
    * and spaces; the alias is a FIELD KEY on the wire, so it also escapes
    * `=` — an alias with a space or comma must not tear the line apart.
    * A NULL in any input gives a NULL line, which the sinks skip.
    * `format_line` is registered in the active session, the one whose
    * plans take the column.
    */
  def lineCol(measurement: Column, alias: Column, value: Column, tsNs: Column): Column = {
    FormatLine.register(SparkSession.active)
    call_function("format_line", measurement, alias, value.cast("double"), tsNs.cast("long"))
  }

  /** Shape an events-like frame into line-protocol strings. */
  def format(df: DataFrame): DataFrame =
    df.select(col("event_id"),
      lineCol(
        concat(lit("plc-"), col("user_id").cast("string")),
        col("event_type"), col("value"),
        expr("unix_micros(ts) * 1000L")).as("line"))

  /** Shape a point frame (ts, measurement, alias, value) — the decoded PLC
    * sample shape of SURVEY §2.2 P2 — into line-protocol strings.
    */
  def formatPoints(df: DataFrame): DataFrame =
    df.select(
      lineCol(col("measurement"), col("alias"), col("value"),
        expr("unix_micros(ts) * 1000L")).as("line"))

  /** Unescape a measurement name (inverse of [[lineCol]]'s escaping). */
  def unescapeMeasurement(c: Column): Column =
    regexp_replace(regexp_replace(c, "\\\\ ", " "), "\\\\,", ",")

  // Line-protocol separators as regexes that skip escaped occurrences and
  // (for the field set) occurrences inside a "quoted string value". The
  // quote-parity lookahead matches only where an EVEN number of UNESCAPED
  // quotes follows — `(?:\\.|[^"\\])` consumes any escaped char as a unit,
  // so an embedded `\"` never flips the parity.
  private val NotQuote   = """(?:\\.|[^"\\])*"""
  private val Parity     = s"""(?=(?:$NotQuote"$NotQuote")*$NotQuote$$)"""
  private val UnescSpace = s"""(?<!\\\\) $Parity"""
  private val UnescComma = """(?<!\\),"""
  private val FieldComma = s"""(?<!\\\\),$Parity"""
  private val KvEq       = s"""(?<!\\\\)=$Parity"""

  /** Unescape a tag key/value (line-protocol: `\,` `\ ` `\=`) — single
    * pass, so a literal backslash before a separator survives.
    */
  private def unescTag(c: Column): Column =
    regexp_replace(c, """\\([ ,=])""", "$1")

  /** Parse line-protocol text back into the point shape — the inverse of
    * [[format]]/[[formatPoints]] and the wire format the reference's
    * whole pipeline produces (InfluxDB 1.7 write payload,
    * Linux/InfluxConnector2.py:175-176). Handles the full 1.x grammar
    * `measurement[,tag=v…] field=v[,field2=v2…] [tsNs]`:
    * backslash-escaped commas/spaces/equals in measurement and tags,
    * `"quoted string"` field values (embedded `\,`/`= `/`\"` kept), and
    * integer fields' `i` suffix (`42i`).
    *
    * Entirely builtin column functions (split with lookbehind +
    * quote-parity regexes, map_from_entries, transform_values) —
    * codegen'd, per-row, shuffle-free; a 100 TB line-protocol backlog
    * parses embarrassingly parallel. Parsed columns are APPENDED so
    * callers keep their own (offsets, source ids): measurement STRING,
    * tags MAP<STRING,STRING>, fields_str MAP<STRING,STRING> (string
    * values unquoted+unescaped, numerics exact wire text), fields
    * MAP<STRING,DOUBLE> (numeric/int-suffixed only — string and boolean
    * fields stay in fields_str, their double slot null), ts_ns LONG
    * (null if the line omitted it), ts TIMESTAMP.
    */
  def parseLines(df: DataFrame, lineColName: String = "line"): DataFrame = {
    val kvKey   = (s: Column) => unescTag(element_at(split(s, KvEq, 2), 1))
    // a separator-less entry ("nonsense") has no value — null, NOT an
    // ANSI out-of-bounds error, so malformed lines surface as null-value
    // points the write path can 400 on
    val kvRaw   = (s: Column) => try_element_at(split(s, KvEq, 2), lit(2))
    val unquote = (v: Column) =>
      when(v.rlike("^\".*\"$"),
        // single-pass unescape of \" and \\ inside the quoted body
        regexp_replace(v.substr(lit(2), length(v) - 2), """\\(["\\])""", "$1"))
        .otherwise(v)
    df
      .withColumn("__parts", split(col(lineColName), UnescSpace))
      .withColumn("__mt", split(element_at(col("__parts"), 1), UnescComma))
      .withColumn("measurement", unescapeMeasurement(element_at(col("__mt"), 1)))
      .withColumn("tags", map_from_entries(transform(
        slice(col("__mt"), lit(2), greatest(size(col("__mt")) - 1, lit(0))),
        s => struct(kvKey(s).as("key"), unescTag(kvRaw(s)).as("value")))))
      // raw (still-quoted) field values first: quotedness must be decided
      // BEFORE unquoting, or a wire-typed STRING like value="3.5" would
      // silently coerce to the float 3.5 in the numeric view — InfluxDB
      // types quoted values as strings and never coerces them
      .withColumn("__fraw", map_from_entries(transform(
        split(element_at(col("__parts"), 2), FieldComma),
        s => struct(kvKey(s).as("key"), kvRaw(s).as("value")))))
      .withColumn("fields_str", transform_values(col("__fraw"), (_, v) => unquote(v)))
      // integer fields carry the 1.x `i` suffix — strip it for the double
      // view (exact for |n| < 2^53, the practical PLC range); try_cast:
      // boolean/text fields yield null here, their text stays in
      // fields_str (ANSI cast would throw on them); quoted values are
      // null by construction (string-typed on the wire)
      .withColumn("fields", transform_values(col("__fraw"), (_, v) =>
        when(v.rlike("^\".*\"$"), lit(null).cast(org.apache.spark.sql.types.DoubleType))
          .when(v.rlike("^-?[0-9]+i$"),
            v.substr(lit(1), length(v) - 1).try_cast(org.apache.spark.sql.types.DoubleType))
          .otherwise(v.try_cast(org.apache.spark.sql.types.DoubleType))))
      .withColumn("ts_ns", expr("try_element_at(__parts, 3)").cast("long"))
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .drop("__parts", "__mt", "__fraw")
  }

  /** Write a one-column frame of lines to `dir/part-<batchId>-<pid>.lp`,
    * ONE FILE PER PARTITION, written ON THE EXECUTORS — the rows never pass
    * through the driver. Each file is the newline-joined payload one HTTP
    * POST would carry (stand-in for the InfluxDB write endpoint in this
    * zero-egress container): one connection per partition, reused across
    * every row in it — vs the reference's one POST per sample
    * (Linux/InfluxConnector2.py:176). At 100 TB this is the difference
    * between a driver OOM and an embarrassingly parallel ingest.
    *
    * NULL lines (a NULL in any input of [[lineCol]]) are skipped.
    *
    * Idempotent under foreachBatch's at-least-once replay: a replayed
    * batchId first clears its own `part-<batchId>-*` files (a failed
    * attempt may have run with a different partition count), then each
    * task TRUNCATES its file — no duplicated points.
    */
  def append(dir: String)(batch: DataFrame, batchId: Long): Unit = {
    val root = Paths.get(dir)
    Files.createDirectories(root)
    val stale = Files.list(root)
    try stale.filter(_.getFileName.toString.startsWith(s"part-$batchId-"))
      .forEach(p => Files.deleteIfExists(p))
    finally stale.close()
    // the lines' UTF-8 bytes go to disk as they are: no String round trip,
    // and no JVM default charset to mangle a non-ASCII name
    val qe = batch.select("line").queryExecution
    SQLExecution.withNewExecutionId(qe, Some("append")) {
      qe.toRdd.foreachPartition { it =>
        val lines = it.filterNot(_.isNullAt(0))
        if (lines.hasNext) {
          val pid = TaskContext.getPartitionId()
          val out = new BufferedOutputStream(new FileOutputStream(s"$dir/part-$batchId-$pid.lp", false))
          try lines.foreach { r => r.getUTF8String(0).writeTo(out); out.write('\n') }
          finally out.close()
        }
      }
    }
  }

  /** Per-partition "connection" standing in for an InfluxDB HTTP client. */
  trait LineConnection { def post(payload: String): Unit; def close(): Unit }

  /** Serializable factory shipped to the executors; `open` runs once per
    * (partition, epoch) — the connection-reuse contract of a real sink.
    */
  trait LineConnectionFactory extends Serializable {
    def open(partitionId: Long, epochId: Long): LineConnection
  }

  /** A REAL InfluxDB 1.x HTTP write client for the streaming sink — the
    * wire call the reference makes per sample
    * (Linux/InfluxConnector2.py:175-176), here once per ~1 MB payload per
    * partition. Runs ON THE EXECUTORS (the factory is the serialized
    * closure; each task opens its own client), so ingest bandwidth scales
    * with the cluster, not the driver. Non-2xx responses throw, failing
    * the task for Structured Streaming's at-least-once retry. Exercised
    * in-repo against the engine's own `/write` endpoint
    * (graft.influxql.InfluxQLHttp) — the same protocol a real InfluxDB
    * 1.x node speaks.
    */
  final case class HttpLineConnectionFactory(baseUrl: String, db: String = "plc",
      precision: String = "ns") extends LineConnectionFactory {
    def open(partitionId: Long, epochId: Long): LineConnection = new LineConnection {
      private val target = new java.net.URI(
        s"$baseUrl/write?db=$db&precision=$precision").toURL
      def post(payload: String): Unit = {
        val c = target.openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setRequestMethod("POST")
        c.setDoOutput(true)
        val bytes = payload.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        c.setFixedLengthStreamingMode(bytes.length)
        val os = c.getOutputStream
        try os.write(bytes) finally os.close()
        val code = c.getResponseCode
        if (code / 100 != 2) {
          val err = Option(c.getErrorStream)
            .map(s => new String(s.readAllBytes(), "UTF-8")).getOrElse("")
          c.disconnect()
          throw new java.io.IOException(s"/write returned $code: $err")
        }
        c.disconnect()
      }
      def close(): Unit = ()
    }
  }

  /** Streaming sink path (`writeStream.foreach`): one connection per
    * partition per epoch, lines buffered into POST-sized payloads of at
    * most `maxPayload` UTF-8 bytes (like Influx's recommended ~1 MB batch;
    * a single longer line goes alone), flushed before a line would
    * overflow and at close. Exactly the per-partition open/post/close
    * lifecycle a 100 TB ingest needs; [[HttpLineConnectionFactory]] is the
    * real HTTP client for it.
    */
  def writer(factory: LineConnectionFactory, maxPayload: Int = 1 << 20): ForeachWriter[Row] =
    new ForeachWriter[Row] {
      @transient private var conn: LineConnection = _
      @transient private var buf: java.lang.StringBuilder = _
      @transient private var bytes = 0 // UTF-8 size of buf
      override def open(partitionId: Long, epochId: Long): Boolean = {
        conn = factory.open(partitionId, epochId)
        buf = new java.lang.StringBuilder
        bytes = 0
        true
      }
      override def process(row: Row): Unit = if (!row.isNullAt(0)) {
        val line = row.getString(0)
        val n = utf8Length(line) + 1
        if (bytes > 0 && bytes + n > maxPayload) flush()
        buf.append(line).append('\n')
        bytes += n
      }
      private def flush(): Unit = { conn.post(buf.toString); buf.setLength(0); bytes = 0 }
      override def close(errorOrNull: Throwable): Unit = {
        if (conn != null) {
          if (bytes > 0) flush()
          conn.close()
        }
      }
    }

  /** Bytes of `s` as `getBytes(UTF_8)` encodes it, without encoding it: a
    * surrogate pair is 4 bytes, an unpaired surrogate the 1-byte `?`. */
  private[sinks] def utf8Length(s: String): Int = {
    var n = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      n += (if (c < 0x80) 1
        else if (c < 0x800) 2
        else if (!Character.isSurrogate(c)) 3
        else if (Character.isHighSurrogate(c) && i + 1 < s.length &&
            Character.isLowSurrogate(s.charAt(i + 1))) { i += 1; 4 }
        else 1)
      i += 1
    }
    n
  }
}
