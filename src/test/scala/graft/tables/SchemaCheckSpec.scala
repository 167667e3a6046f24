package graft.tables

import graft.SparkTestBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Guard against driver-side testdata schema drift.
  *
  * Round 7 lost 97/141 queries to a silent regeneration of
  * /root/testdata (events.ts changed from parquet TIMESTAMP(NANOS) to
  * TIMESTAMP(MICROS)); this spec turns the next such drift into ONE
  * pointed failure naming the drifted column instead of a board-wide
  * wipeout diagnosed from exception spam. `Tables` returns the schemas
  * it declares, so the drift check compares each declaration with the
  * schema Spark infers from the files themselves, at every local SF.
  */
class SchemaCheckSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1").map(sf => s"/root/testdata/$sf")

  private def fieldTypes(name: String): Map[String, DataType] =
    Tables.table(spark, dir, name).schema.fields.map(f => f.name -> f.dataType).toMap

  private def expect(table: String, expected: Map[String, DataType]): Unit = {
    val actual = fieldTypes(table)
    expected.foreach { case (col, dt) =>
      assert(actual.contains(col),
        s"testdata drift: $table.parquet lost column '$col' (has: ${actual.keys.toSeq.sorted.mkString(", ")})")
      assert(actual(col) == dt,
        s"testdata drift: $table.$col is ${actual(col)}, Tables.scala expects $dt — " +
          "audit graft.tables.Tables and every oracle SQL that touches this column")
    }
  }

  test("every declared schema is the files' own inferred schema, field by field, at every SF") {
    // a session of its own, so the inference conf does not leak into
    // other suites: a TIMESTAMP(isAdjustedToUTC=false) column infers as
    // TIMESTAMP, the type Tables declares for it
    val raw = spark.newSession()
    raw.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    for (d <- sfDirs; (name, _) <- Tables.schemas) {
      val declared = Tables.table(spark, d, name).schema.fields.toSeq
      val inferred = raw.read.parquet(s"$d/$name.parquet").schema.fields.toSeq
      assert(declared.map(_.name) == inferred.map(_.name),
        s"testdata drift: $d/$name.parquet has columns ${inferred.map(_.name).mkString(", ")}")
      declared.zip(inferred).foreach { case (want, got) =>
        assert(want.copy(metadata = got.metadata) == got,
          s"testdata drift: $d/$name.${got.name} is ${got.dataType}, Tables declares " +
            s"${want.dataType} — update Tables.schemas and audit every oracle SQL that touches it")
      }
    }
  }

  test("loading every table through Tables on a fresh session starts no Spark job") {
    val fresh = spark.newSession()
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    drain()
    spark.sparkContext.addSparkListener(listener)
    try {
      for (d <- sfDirs; name <- graft.GraftSession.TableNames)
        (if (name == "events") Tables.events(fresh, d) else Tables.table(fresh, d, name)).schema
      drain()
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0, s"${jobs.get} Spark jobs while loading the tables")
  }

  /** Drain the (asynchronous) listener bus; it is private[spark]. */
  private def drain(): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  test("events carries the expected raw schema (ts vintage explicitly pinned)") {
    val tsType = fieldTypes("events")("ts")
    assert(tsType == TimestampType || tsType == LongType,
      s"testdata drift: events.ts is $tsType — Tables.events handles TIMESTAMP " +
        "(micros vintage) and LONG (nanosAsLong vintage) only; a third vintage " +
        "needs a new branch in Tables.events AND an oracle SQL audit")
    expect("events", Map(
      "event_id" -> LongType, "user_id" -> LongType,
      "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType))
  }

  test("Tables.events yields both a TimestampType ts and a LongType ts_ns twin") {
    val ev = Tables.events(spark, dir)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.schema("ts_ns").dataType == LongType)
    // The twin must be epoch-consistent with ts at micro precision for
    // EITHER vintage: ts_ns div 1000 == unix_micros(ts), all rows.
    val bad = ev.filter(expr("ts_ns div 1000") =!= unix_micros(col("ts"))).count()
    assert(bad == 0L, s"$bad rows where ts_ns and ts disagree at micro precision")
  }

  test("the legacy nanos-as-long vintage still loads (ts rebuilt, ts_ns native)") {
    // The LongType branch of Tables.events is dead on CURRENT testdata but
    // must survive a driver flip back to TIMESTAMP(NANOS) (read as raw
    // long under nanosAsLong). A plain LONG ts column exercises the same
    // branch, including sub-microsecond nanos the micros vintage can't
    // carry.
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-legacy-events").toString
    Seq(
      (1L, 1704067200000000123L, 7L, "click", 1.5, "{}"),
      (2L, 1704067200000001999L, 8L, "view", 2.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$tmp/events.parquet")
    val ev = Tables.events(spark, tmp)
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.schema("ts_ns").dataType == LongType)
    val rows = ev.select("event_id", "ts_ns").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the native nanos column keeps sub-microsecond precision
    assert(rows == Map(1L -> 1704067200000000123L, 2L -> 1704067200000001999L))
    // eventsTimeBound stays EXACT on this vintage: a micro-aligned bound
    // filters by truncated ts, a sub-micro bound by raw nanos
    assert(Tables.eventsTimeBound(ev, 1704067200000001000L, Long.MaxValue)
      .select("event_id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(Tables.eventsTimeBound(ev, 1704067200000000124L, Long.MaxValue)
      .select("event_id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(Tables.eventsTimeBound(ev, Long.MinValue, 1704067200000001999L)
      .select("event_id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("documents / embeddings carry the columns the dedup+ANN families assume") {
    expect("documents", Map("doc_id" -> LongType, "text" -> StringType))
    val emb = fieldTypes("embeddings")
    assert(emb.contains("embedding") &&
      (emb("embedding") == ArrayType(FloatType) || emb("embedding") == ArrayType(FloatType, containsNull = true) ||
        emb("embedding") == ArrayType(DoubleType) || emb("embedding") == ArrayType(DoubleType, containsNull = true)),
      s"testdata drift: embeddings.embedding is ${emb.get("embedding")}")
  }

  test("star-schema tables still expose their join keys") {
    expect("lineitem", Map("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_shipdate" -> TimestampType))
    expect("orders", Map("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_orderdate" -> TimestampType))
    expect("customer", Map("c_custkey" -> LongType, "c_nationkey" -> IntegerType))
    expect("supplier", Map("s_suppkey" -> LongType, "s_nationkey" -> IntegerType))
    expect("part", Map("p_partkey" -> LongType))
    expect("nation", Map("n_nationkey" -> IntegerType, "n_regionkey" -> IntegerType))
    expect("region", Map("r_regionkey" -> IntegerType))
  }
}
