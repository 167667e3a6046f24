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
  trait LineConnection { def post(payload: Array[Byte]): Unit; def close(): Unit }

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
      def post(payload: Array[Byte]): Unit = {
        val c = target.openConnection().asInstanceOf[java.net.HttpURLConnection]
        c.setRequestMethod("POST")
        c.setDoOutput(true)
        c.setFixedLengthStreamingMode(payload.length)
        val os = c.getOutputStream
        try os.write(payload) finally os.close()
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
    * partition per epoch, lines encoded to UTF-8 once and buffered into
    * POST-sized payloads of at most `maxPayload` bytes (like Influx's
    * recommended ~1 MB batch; a single longer line goes alone), flushed
    * before a line would overflow and at close. Exactly the per-partition
    * open/post/close lifecycle a 100 TB ingest needs;
    * [[HttpLineConnectionFactory]] is the real HTTP client for it.
    */
  def writer(factory: LineConnectionFactory, maxPayload: Int = 1 << 20): ForeachWriter[Row] =
    new ForeachWriter[Row] {
      @transient private var conn: LineConnection = _
      @transient private var buf: java.io.ByteArrayOutputStream = _
      override def open(partitionId: Long, epochId: Long): Boolean = {
        conn = factory.open(partitionId, epochId)
        buf = new java.io.ByteArrayOutputStream
        true
      }
      override def process(row: Row): Unit = if (!row.isNullAt(0)) {
        val line = row.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        if (buf.size > 0 && buf.size + line.length + 1 > maxPayload) flush()
        buf.write(line)
        buf.write('\n')
      }
      private def flush(): Unit = { conn.post(buf.toByteArray); buf.reset() }
      override def close(errorOrNull: Throwable): Unit = {
        if (conn != null) {
          if (buf.size > 0) flush()
          conn.close()
        }
      }
    }
}
