package graft.influxql

import graft.SparkTestBase
import graft.sinks.PointStoreDirect
import InfluxQLAst.{CreateDatabase, CreateRetention}

import java.time.LocalDate

/** r10: the retention-enforcement service — a finite DEFAULT policy drops
  * expired date partitions on the daemon tick (InfluxDB's retention
  * service), infinite/implicit policies never expire anything, and fresh
  * data survives.
  */
class RetentionEnforceSpec extends SparkTestBase {

  private def ns(date: String): Long =
    java.time.Instant.parse(s"${date}T12:00:00Z").getEpochSecond * 1000000000L

  test("enforceRetention drops only expired partitions of dbs with a finite default RP") {
    val store = java.nio.file.Files.createTempDirectory("graft-rp").toString
    // db with a 7d default policy: one expired day, one fresh day
    StoreMeta.createDatabase(store, InfluxQLParser.parse("CREATE DATABASE plcr")
      .asInstanceOf[CreateDatabase])
    StoreMeta.createRp(store, InfluxQLParser.parse(
      "CREATE RETENTION POLICY rp7 ON plcr DURATION 7d REPLICATION 1 DEFAULT")
      .asInstanceOf[CreateRetention])
    PointStoreDirect.append(Seq(
      PointStoreDirect.Point(ns("2024-01-01"), "plcr", "t", 1.0),
      PointStoreDirect.Point(ns("2024-01-31"), "plcr", "t", 2.0)), store)
    // db with no explicit policy (implicit infinite autogen): same vintage data
    StoreMeta.createDatabase(store, InfluxQLParser.parse("CREATE DATABASE keep")
      .asInstanceOf[CreateDatabase])
    PointStoreDirect.append(Seq(
      PointStoreDirect.Point(ns("2024-01-01"), "keep", "t", 3.0)), store)

    val dropped = StoreMeta.enforceRetention(store, LocalDate.parse("2024-02-01"))
    assert(dropped.size === 1 && dropped.head.contains("measurement=plcr"))
    assert(dropped.head.endsWith("date=2024-01-01"))
    assert(!new java.io.File(store, "measurement=plcr/date=2024-01-01").exists())
    assert(new java.io.File(store, "measurement=plcr/date=2024-01-31").exists())
    assert(new java.io.File(store, "measurement=keep/date=2024-01-01").exists())
    // idempotent: a second pass drops nothing
    assert(StoreMeta.enforceRetention(store, LocalDate.parse("2024-02-01")).isEmpty)
  }

  test("a non-day-multiple duration only drops fully-expired partitions (ceil, not floor)") {
    val store = java.nio.file.Files.createTempDirectory("graft-rp36").toString
    StoreMeta.createDatabase(store, InfluxQLParser.parse("CREATE DATABASE hrs")
      .asInstanceOf[CreateDatabase])
    StoreMeta.createRp(store, InfluxQLParser.parse(
      "CREATE RETENTION POLICY rp36 ON hrs DURATION 36h REPLICATION 1 DEFAULT")
      .asInstanceOf[CreateRetention])
    // today-2's newest possible point is ~24h old at the tick — INSIDE the
    // 36h window. floor(36h/1d)=1 would drop it; ceil=2 must keep it.
    PointStoreDirect.append(Seq(
      PointStoreDirect.Point(ns("2024-01-30"), "hrs", "t", 1.0), // today-2: keep
      PointStoreDirect.Point(ns("2024-01-29"), "hrs", "t", 2.0)), store) // today-3: drop
    val dropped = StoreMeta.enforceRetention(store, LocalDate.parse("2024-02-01"))
    assert(dropped.size === 1 && dropped.head.endsWith("date=2024-01-29"))
    assert(new java.io.File(store, "measurement=hrs/date=2024-01-30").exists())
    // SHOW SHARDS gives today-2 the expiry the service keeps: the next day
    // it drops the partition
    val expiry = InfluxQLPlanner.sqlStore(spark, store, "SHOW SHARDS").collect()
      .map(r => (r.getString(3), r.getString(6))).toSeq
    assert(expiry == Seq(("2024-01-30", "2024-02-02T00:00:00Z")), expiry)
    assert(StoreMeta.enforceRetention(store, LocalDate.parse("2024-02-01")).isEmpty)
    assert(StoreMeta.enforceRetention(store, LocalDate.parse("2024-02-02"))
      .map(_.takeRight(15)) == Seq("date=2024-01-30"))
    // CREATE RETENTION POLICY applied at once counts the same days
    val now = java.nio.file.Files.createTempDirectory("graft-rp36-now").toString
    PointStoreDirect.append(Seq(
      PointStoreDirect.Point(ns("2024-01-30"), "hrs", "t", 1.0),
      PointStoreDirect.Point(ns("2024-01-29"), "hrs", "t", 2.0)), now)
    val applied = InfluxQLPlanner.applyRetention(
      "CREATE RETENTION POLICY rp36 ON hrs DURATION 36h REPLICATION 1 DEFAULT", now,
      LocalDate.parse("2024-02-01"))
    assert(applied.map(_.takeRight(15)) == Seq("date=2024-01-29"), applied)
    assert(new java.io.File(now, "measurement=hrs/date=2024-01-30").exists())
  }

  test("the served store's daemon tick expires data declared by CREATE RETENTION POLICY") {
    import java.net.{HttpURLConnection, URI}
    val store = java.nio.file.Files.createTempDirectory("graft-rp-http").toString
    // the daemon's clock is pinned to 2024-02-01 (nowNs injectable)
    val h = InfluxQLHttp.startStore(spark, store, nowNs = Some(ns("2024-02-01")),
      cqTickSec = Some(1L))
    try {
      def postQuery(q: String): Int = {
        val conn = new URI(s"http://127.0.0.1:${h.port}/query?q=" +
          java.net.URLEncoder.encode(q, "UTF-8")).toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        conn.getOutputStream.write(Array.empty[Byte])
        val c = conn.getResponseCode; conn.disconnect(); c
      }
      assert(postQuery("CREATE DATABASE plcx") == 200)
      assert(postQuery(
        "CREATE RETENTION POLICY rp7 ON plcx DURATION 7d REPLICATION 1 DEFAULT") == 200)
      PointStoreDirect.append(Seq(
        PointStoreDirect.Point(ns("2024-01-01"), "plcx", "t", 1.0),
        PointStoreDirect.Point(ns("2024-01-31"), "plcx", "t", 2.0)), store)
      val old = new java.io.File(store, "measurement=plcx/date=2024-01-01")
      val deadline = System.currentTimeMillis() + 30000
      while (old.exists() && System.currentTimeMillis() < deadline) Thread.sleep(250)
      assert(!old.exists(), "tick did not expire the 31-day-old partition")
      assert(new java.io.File(store, "measurement=plcx/date=2024-01-31").exists())
      val n = InfluxQLPlanner.sqlStore(spark, store,
        "SELECT COUNT(value) AS n FROM plcx").collect().head.getLong(0)
      assert(n == 1L, "only the fresh point must survive")
    } finally h.stop()
  }
}
