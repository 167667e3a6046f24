package graft.sinks

import java.time.{Instant, LocalDate, ZoneOffset}

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{DoubleType, StringType, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Driver-direct appends into the point store's
  * `measurement=…/date=…` parquet layout — NO Spark job.
  *
  * The HTTP `/write` endpoint receives one bounded body per POST (the
  * reference daemon: ONE SAMPLE per POST, Linux/InfluxConnector2.py:176).
  * Wrapping those few rows in a DataFrame write paid full Spark
  * job-scheduling latency — ~150 ms/POST measured — so the server capped
  * at ~6 writes/sec regardless of cluster size. This writer opens a
  * ParquetWriter straight into the partition directory instead
  * (~1-5 ms/POST): the InfluxDB-WAL equivalent of acking after a local
  * append, with the file fully closed before the 204 goes out, so a scan
  * planned after the ack always lists it.
  *
  * Commit and recovery ([[StoreLayout]]): an append renames a finished
  * hidden file into place, so appends run beside scans and each other (the
  * HTTP server's store READ lock); compaction is [[StoreLayout.replace]]
  * under the write lock. A crash leaves only hidden leftovers, resolved by
  * [[StoreLayout.recover]] when the store opens and before each compaction.
  *
  * Scale note: this is the CONTROL-plane ingest door (panels, daemons,
  * influx-CLI inserts). Bulk 100 TB ingest goes through the streaming
  * pipeline / [[PointStore.writePartitioned]], whose tasks write the same
  * files from the executors through [[appendRuns]].
  */
object PointStoreDirect {

  /** One store point, timestamp in epoch nanoseconds. `tags` is the
    * point's tag set as CANONICAL JSON (keys sorted, no whitespace — see
    * [[canonicalTags]]) or None for an untagged point; canonical form
    * makes the string itself the series identity, so distinct/grouping
    * never re-normalizes.
    */
  final case class Point(tsNs: Long, measurement: String, alias: String,
      value: Double, tags: Option[String] = None)

  /** Canonical JSON encoding of a tag set: keys sorted, minimal escapes,
    * no whitespace. Empty map → None (the column stays null — one shape
    * for "no tags" across direct writes and legacy Spark-written files).
    */
  def canonicalTags(tags: Map[String, String]): Option[String] =
    if (tags.isEmpty) None
    else {
      def esc(s: String): String = s.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
      Some(tags.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
        .mkString("{", ",", "}"))
    }

  /** The store's data columns (the `date` partition comes from the
    * layout) — reading with them EXPLICITLY makes legacy files without the
    * `tags` column yield null there instead of schema-lottery behavior.
    */
  val readSchema: StructType = new StructType()
    .add("ts", TimestampType).add("alias", StringType)
    .add("value", DoubleType).add("tags", StringType)

  private val schema: MessageType = Types.buildMessage()
    .optional(PrimitiveTypeName.INT64)
    .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
    .named("ts")
    .optional(PrimitiveTypeName.BINARY)
    .as(LogicalTypeAnnotation.stringType()).named("alias")
    .optional(PrimitiveTypeName.DOUBLE).named("value")
    .optional(PrimitiveTypeName.BINARY)
    .as(LogicalTypeAnnotation.stringType()).named("tags")
    .named("spark_schema")

  private val conf = new Configuration()

  /** UTC day of an epoch-ns timestamp — the store's `date=` value. */
  def utcDate(tsNs: Long): String =
    LocalDate.ofInstant(Instant.ofEpochSecond(
      Math.floorDiv(tsNs, 1000000000L),
      Math.floorMod(tsNs, 1000000000L)), ZoneOffset.UTC).toString

  /** Compact a store's small files — the maintenance pass behind the
    * direct-append design. Every `/write` POST lands one file per touched
    * partition (that is what makes the ack fast), so a daemon POSTing
    * once per second accumulates ~86k files/day in its partition: the
    * classic small-files problem, the analogue of the WAL/TSM buildup
    * InfluxDB's background compactor folds away. The pass first resolves
    * any crash leftovers ([[StoreLayout.recover]]); then each partition
    * holding more than `maxFiles` parquet files is read, coalesced to
    * ceil(bytes / targetBytes) files and swapped in by
    * [[StoreLayout.replace]]. Callers serialize with writers and queries
    * (the HTTP server runs this on its daemon tick under the store write
    * lock — same exclusion as a DELETE rewrite). Returns the compacted
    * partition paths.
    *
    * Scale: listing is pure file metadata; only oversized partitions pay
    * a read-rewrite, and only THEIR files are touched — hot partitions
    * compact, cold history is never rewritten.
    */
  def compact(spark: org.apache.spark.sql.SparkSession, storeDir: String,
      maxFiles: Int = 32, targetBytes: Long = 128L << 20): Seq[String] = {
    StoreLayout.recover(storeDir)
    StoreLayout.partitions(storeDir).flatMap { p =>
      val files = StoreLayout.dataFiles(p.dir)
      if (files.size <= maxFiles) None
      else {
        val bytes = files.map(_.length()).sum
        val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
        // explicit schema: a partition mixing pre-tags and tagged files
        // compacts with nulls in the legacy rows, never a schema lottery
        StoreLayout.replace(p.dir, spark.read.schema(readSchema).parquet(p.dir.getPath)
          .select("ts", "alias", "value", "tags")
          .coalesce(nOut))
        Some(p.dir.getPath)
      }
    }
  }

  /** Append `points` to the store: one parquet file per touched
    * (measurement, date) partition, written synchronously on the calling
    * thread through [[appendRuns]]. Unique filenames (UUID) make
    * concurrent appends physically disjoint, with no shared staging dir.
    * Written through java.nio, not a Hadoop FileSystem: no checksum
    * sidecar is left behind under the temporary name.
    */
  def append(points: Seq[Point], storeDir: String): Unit =
    appendRuns(points.groupBy(p => (p.measurement, utcDate(p.tsNs))).valuesIterator.flatten
      .map(p => InternalRow(Math.floorDiv(p.tsNs, 1000L), // ns → µs, the column unit
        UTF8String.fromString(p.alias), p.value, p.tags.map(UTF8String.fromString).orNull,
        UTF8String.fromString(p.measurement))), storeDir)

  /** Append `rows`, (ts µs, alias, value, tags, measurement), streamed:
    * each run sharing a measurement and UTC day is one file, committed by
    * [[StoreLayout.appendFile]]. A row is not read again once the next one
    * is asked for, so a source may reuse one row object. */
  private[sinks] def appendRuns(rows: Iterator[InternalRow], storeDir: String): Unit = {
    val it = rows.buffered
    def day(r: InternalRow) = Math.floorDiv(r.getLong(0), 86400L * 1000000L)
    while (it.hasNext) {
      val (m, d) = (it.head.getUTF8String(4).clone(), day(it.head))
      val run = new Iterator[InternalRow] {
        def hasNext = it.hasNext && it.head.getUTF8String(4) == m && day(it.head) == d
        def next() = it.next()
      }
      StoreLayout.appendFile(
          StoreLayout.partitionDir(storeDir, m.toString, LocalDate.ofEpochDay(d).toString)) { tmp =>
        val writer = ExampleParquetWriter.builder(new LocalOutputFile(tmp))
          .withType(schema)
          .withConf(conf)
          .withCompressionCodec(CompressionCodecName.SNAPPY)
          .build()
        val gf = new SimpleGroupFactory(schema)
        try run.foreach { r =>
          val g = gf.newGroup()
          g.add("ts", r.getLong(0))
          if (!r.isNullAt(1)) g.add("alias", r.getString(1))
          if (!r.isNullAt(2)) g.add("value", r.getDouble(2))
          if (!r.isNullAt(3)) g.add("tags", r.getString(3))
          writer.write(g)
        } finally writer.close()
      }
    }
  }
}
