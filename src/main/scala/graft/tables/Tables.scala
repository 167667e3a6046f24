package graft.tables

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampType}
import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import graft.sinks.StoreLayout

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * Every table's schema is declared here, once ([[schemas]]), so a load
  * is a plain `spark.read.schema(ddl).parquet(path)`: no schema inference,
  * hence no Spark job per load, and Catalyst predicate pushdown / column
  * pruning apply unimpeded. `SchemaCheckSpec` compares
  * each declaration with the files' own schema at every local SF. The one
  * special case is `events`, whose `ts` column the driver has shipped in
  * two vintages (see [[events]]). When rebuilding timestamps from raw
  * nanos, integer division only — epoch nanos (~1.7e18) exceed a Double's
  * 2^53 exact-integer range, so any float math there would corrupt them.
  */
object Tables {

  /** Table name → DDL, in the order `GraftSession.init` registers them.
    * Every parquet timestamp is INT64 TIMESTAMP(MICROS,
    * isAdjustedToUTC=false), read as TIMESTAMP: the session time zone is
    * UTC, so the epoch is the one written. `events.ts` is the current
    * vintage's type; [[events]] swaps it for the legacy one.
    */
  val schemas: ListMap[String, String] = ListMap(
    "region"     -> "r_regionkey INT, r_name STRING",
    "nation"     -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer"   -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, " +
                     "c_mktsegment STRING"),
    "supplier"   -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part"       -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
                     "p_size INT, p_retailprice DOUBLE"),
    "orders"     -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
                     "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"),
    "lineitem"   -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, " +
                     "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, " +
                     "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP"),
    "events"     -> ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
                     "value DOUBLE, props STRING"),
    "documents"  -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  private def path(dir: String, name: String) = s"$dir/$name.parquet"

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(path(dir, name))

  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** The Spark type of `events.ts` in the file at hand, from one parquet
    * footer read on the driver (no Spark job, no Hadoop configuration to
    * load): the file itself, or the first visible part file of a
    * directory. A micros or millis TIMESTAMP reads as TIMESTAMP; any other
    * INT64 (the legacy NANOS vintage, under the session's `nanosAsLong`,
    * or a plain long) as BIGINT.
    */
  private def eventsTsType(dir: String): DataType = {
    val f = new java.io.File(path(dir, "events"))
    val file = if (!f.isDirectory) f else StoreLayout.dataFiles(f).sortBy(_.getName).headOption
      .getOrElse(throw new IllegalArgumentException(s"$f holds no data file"))
    val r = ParquetFileReader.open(new LocalInputFile(file.toPath),
      ParquetReadOptions.builder(new PlainParquetConfiguration()).build())
    val schema = try r.getFileMetaData.getSchema finally r.close()
    val ts = schema.getType(schema.getFieldIndex("ts"))
    require(ts.isPrimitive && ts.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT64,
      s"$file: events.ts is $ts, expected INT64")
    ts.getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation
          if t.getUnit == TimeUnit.MICROS || t.getUnit == TimeUnit.MILLIS => TimestampType
      case _ => LongType
    }
  }

  /** `events` with both a TimestampType `ts` and its raw epoch-nanos twin
    * `ts_ns` (LONG), whichever vintage the parquet file carries:
    *
    *  - TIMESTAMP(NANOS): Spark's reader rejects it, so it reads as a raw
    *    long (`spark.sql.legacy.parquet.nanosAsLong`, set by
    *    `GraftSession.builder`) and we rebuild a microsecond `ts`. Here
    *    `ts_ns` is the NATIVE column — filter on it for parquet row-group
    *    pruning.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): read as TimestampType —
    *    the session timezone is pinned UTC everywhere, so the epoch is
    *    identical, and a NATIVE `ts` keeps time predicates pushing down to
    *    row-group stats. Here `ts_ns` is derived, so prefer filtering on
    *    `ts` (see [[graft.tables.Tables.eventsTimeBound]] for the one
    *    helper that pushes a nanos interval onto whichever column is
    *    native).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val tsType = eventsTsType(dir)
    val schema = StructType(StructType.fromDDL(schemas("events")).map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    val raw = spark.read.schema(schema).parquet(path(dir, "events"))
    if (tsType == LongType)
      raw.withColumnRenamed("ts", "ts_ns")
        .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
    else raw.withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
  }

  /** Filter `df` (an [[events]] frame, or anything carrying `ts` + `ts_ns`)
    * to the half-open nanos interval [lo, hi).  Emits the predicate on the
    * TIMESTAMP column — the native, pushdown-able one in the current
    * testdata vintage — whenever the bounds are micro-representable, which
    * `ts_ns` values always are (every stored nanos is micros*1000), plus
    * the exact `ts_ns` bound for sub-microsecond `lo`/`hi` literals.
    */
  def eventsTimeBound(df: DataFrame, lo: Long, hi: Long): DataFrame = {
    val loC =
      if (lo == Long.MinValue) lit(true)
      else if (lo % 1000 == 0) col("ts") >= timestamp_micros(lit(lo / 1000))
      else col("ts_ns") >= lo
    val hiC =
      if (hi == Long.MaxValue) lit(true)
      else if (hi % 1000 == 0) col("ts") < timestamp_micros(lit(hi / 1000))
      else col("ts_ns") < hi
    df.filter(loC && hiC)
  }
}
