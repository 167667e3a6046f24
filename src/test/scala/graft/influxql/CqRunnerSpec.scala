package graft.influxql

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import InfluxQLAst._

/** The CQ batch scheduler end-to-end: register → tick → rollup points in
  * the store → queryable FROM the target → due/skip cadence → late-data
  * recompute inside the RESAMPLE FOR horizon.
  */
class CqRunnerSpec extends SparkTestBase {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s) // UTC session

  private def seed(store: String, rows: (String, String, Double)*): Unit = {
    import spark.implicits._
    graft.sinks.PointStore.writePartitioned(
      rows.toSeq.map { case (t, alias, v) => (ts(t), "plc1", alias, v) }
        .toDF("ts", "measurement", "alias", "value"),
      store)
  }

  private def targetByBucket(store: String): Map[(String, String), Double] =
    spark.read.parquet(s"$store/measurement=plc1_1m")
      .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("t"),
        col("alias"), col("value"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap

  test("registered CQ materializes, skips until due, and recomputes late data") {
    val store = java.nio.file.Files.createTempDirectory("graft-cqrun").toString
    val base = "2024-01-01 00:0"
    seed(store,
      (s"${base}0:10", "a", 1.0), (s"${base}0:40", "a", 3.0), // min 0: mean 2
      (s"${base}1:05", "a", 5.0),                             // min 1: mean 5
      (s"${base}1:30", "b", 8.0),                             // min 1, b: mean 8
      (s"${base}2:15", "a", 7.0))                             // min 2 (open at first tick)

    StoreMeta.createCq(store, InfluxQLParser.parse(
      "CREATE CONTINUOUS QUERY roll ON db1 RESAMPLE EVERY 1m FOR 2m BEGIN " +
        "SELECT MEAN(value) AS m INTO plc1_1m FROM plc1 GROUP BY time(1m), alias END")
      .asInstanceOf[CreateCq])

    def nowNs(t: String): Long = ts(t).getTime * 1000000L

    // tick at 00:02:30 → hi = 00:02, FOR 2m → recompute [00:00, 00:02):
    // the open 00:02 bucket is NOT written
    val run1 = CqRunner.runDue(spark, store, nowNs(s"${base}2:30"))
    assert(run1.map(r => (r.name, r.target, r.rows)) == Seq(("roll", "plc1_1m", 3L)), run1)
    assert(targetByBucket(store) == Map(
      ("2024-01-01 00:00:00", "a") -> 2.0,
      ("2024-01-01 00:01:00", "a") -> 5.0,
      ("2024-01-01 00:01:00", "b") -> 8.0))

    // same tick again → not due (EVERY 1m hasn't elapsed past the mark)
    assert(CqRunner.runDue(spark, store, nowNs(s"${base}2:59")).isEmpty)

    // the rollup is a first-class measurement: queryable through the
    // textual store front-end
    val back = InfluxQLPlanner.sqlStore(spark, store,
      "SELECT MAX(value) AS mx FROM plc1_1m WHERE time >= '2024-01-01' AND time < '2024-01-02'")
      .collect()
    assert(back.length == 1 && back(0).getDouble(back(0).fieldIndex("mx")) == 8.0)

    // late data for minute 1 lands; the next tick's horizon reaches back
    // to 00:01 and is then extended to the DAY start (the overwrite's
    // date-partition granularity), so the whole day recomputes — minute
    // 0's value is reproduced, minute 1 folds the late point in
    seed(store, (s"${base}1:50", "a", 15.0))
    val run2 = CqRunner.runDue(spark, store, nowNs(s"${base}3:10"))
    assert(run2.map(r => (r.loNs, r.hiNs)) ==
      Seq((nowNs(s"${base}0:00"), nowNs(s"${base}3:00"))), run2)
    assert(targetByBucket(store) == Map(
      ("2024-01-01 00:00:00", "a") -> 2.0,   // reproduced by the day recompute
      ("2024-01-01 00:01:00", "a") -> 10.0,  // (5+15)/2 with the late point
      ("2024-01-01 00:01:00", "b") -> 8.0,
      ("2024-01-01 00:02:00", "a") -> 7.0))  // newly finalized bucket

    // lifecycle: dropping the CQ clears its schedule state too
    StoreMeta.dropCq(store, "roll", "db1")
    assert(StoreMeta.cqLastHi(store, "db1", "roll").isEmpty)
    assert(CqRunner.runDue(spark, store, nowNs(s"${base}9:00")).isEmpty)
  }

  test("a served store's CQ tick materializes rollups registered over HTTP") {
    val store = java.nio.file.Files.createTempDirectory("graft-cqtick").toString
    seed(store,
      ("2024-01-01 00:00:10", "a", 2.0), ("2024-01-01 00:00:40", "a", 4.0),
      ("2024-01-01 00:01:20", "a", 9.0))
    // pin the scheduler clock past the data so the first tick finalizes
    // both buckets, and later ticks find nothing new (due-cadence check)
    val pinnedNow = ts("2024-01-01 00:05:00").getTime * 1000000L
    val h = InfluxQLHttp.startStore(spark, store, nowNs = Some(pinnedNow),
      cqTickSec = Some(1L))
    try {
      val conn = new java.net.URI(s"http://127.0.0.1:${h.port}/query").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      val cq = "CREATE CONTINUOUS QUERY live ON db1 RESAMPLE FOR 10m BEGIN " +
        "SELECT MEAN(value) AS m INTO plc1_live FROM plc1 GROUP BY time(1m), alias END"
      conn.getOutputStream.write(
        s"q=${java.net.URLEncoder.encode(cq, "UTF-8")}".getBytes("UTF-8"))
      assert(conn.getResponseCode == 200)
      conn.disconnect()
      // the daemon tick (1s cadence) picks the registration up
      val deadline = System.currentTimeMillis() + 30000
      var got = Map.empty[(String, String), Double]
      while (got.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(500)
        // the tick swaps a day in through a hidden `.date=….next`, so the
        // measurement directory can exist before its first day does
        if (new java.io.File(store, "measurement=plc1_live/date=2024-01-01").isDirectory)
          got = spark.read.parquet(s"$store/measurement=plc1_live")
            .select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"), col("alias"), col("value"))
            .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
      }
      assert(got == Map(
        ("2024-01-01 00:00:00", "a") -> 3.0,
        ("2024-01-01 00:01:00", "a") -> 9.0), got)
    } finally h.stop()
  }

  test("bulk appends and CQ rollups leave only measurement directories at the store root") {
    val store = java.nio.file.Files.createTempDirectory("graft-cqrun-root").toString
    seed(store, ("2024-01-01 00:00:10", "a", 2.0), ("2024-01-01 00:00:40", "a", 4.0),
      ("2024-01-02 00:00:10", "a", 6.0))
    StoreMeta.createCq(store, InfluxQLParser.parse(
      "CREATE CONTINUOUS QUERY two ON db1 RESAMPLE FOR 2d BEGIN " +
        "SELECT MEAN(value) AS m INTO plc1_1m FROM plc1 GROUP BY time(1m), alias END")
      .asInstanceOf[CreateCq])
    val runs = CqRunner.runDue(spark, store, ts("2024-01-02 00:05:00").getTime * 1000000L)
    assert(runs.map(_.rows) == Seq(2L), runs)
    assert(targetByBucket(store) == Map(
      ("2024-01-01 00:00:00", "a") -> 3.0, ("2024-01-02 00:00:00", "a") -> 6.0))
    // the admin catalog lives in `_meta`; nothing else but measurements
    val root = new java.io.File(store).list().toSeq.filter(_ != "_meta").sorted
    assert(root == Seq("measurement=plc1", "measurement=plc1_1m"), root)
    val days = root.map(m => m -> new java.io.File(store, m).list().toSeq.sorted)
    assert(days.forall(_._2 == Seq("date=2024-01-01", "date=2024-01-02")), days)
  }

  test("a CQ without INTO or GROUP BY time is rejected at CREATE time (never registered)") {
    val store = java.nio.file.Files.createTempDirectory("graft-cqrun-bad").toString
    seed(store, ("2024-01-01 00:00:10", "a", 1.0))
    val e1 = intercept[InfluxQLParseException](StoreMeta.createCq(store,
      InfluxQLParser.parse("CREATE CONTINUOUS QUERY noint ON db1 BEGIN " +
        "SELECT MEAN(value) AS m FROM plc1 GROUP BY time(1m) END").asInstanceOf[CreateCq]))
    assert(e1.getMessage.contains("INTO"))
    val e2 = intercept[InfluxQLParseException](StoreMeta.createCq(store,
      InfluxQLParser.parse("CREATE CONTINUOUS QUERY notime ON db1 BEGIN " +
        "SELECT MEAN(value) AS m INTO t1 FROM plc1 END").asInstanceOf[CreateCq]))
    assert(e2.getMessage.contains("GROUP BY time"))
    assert(StoreMeta.listCqs(store).isEmpty, "rejected CQs must not be registered")
  }

  test("one failing CQ does not starve the others (per-CQ tick isolation)") {
    val store = java.nio.file.Files.createTempDirectory("graft-cqrun-iso").toString
    seed(store, ("2024-01-01 00:00:10", "a", 2.0), ("2024-01-01 00:00:40", "a", 4.0))
    // 'broken' references a measurement that never existed — a stale
    // registration (its source was dropped). Registered FIRST so a
    // non-isolated flatMap would die before reaching 'ok'.
    StoreMeta.createCq(store, InfluxQLParser.parse(
      "CREATE CONTINUOUS QUERY a_broken ON db1 BEGIN " +
        "SELECT MEAN(value) AS m INTO t_broken FROM ghost GROUP BY time(1m) END")
      .asInstanceOf[CreateCq])
    StoreMeta.createCq(store, InfluxQLParser.parse(
      "CREATE CONTINUOUS QUERY ok ON db1 BEGIN " +
        "SELECT MEAN(value) AS m INTO plc1_1m FROM plc1 GROUP BY time(1m), alias END")
      .asInstanceOf[CreateCq])
    val runs = CqRunner.runDue(spark, store, ts("2024-01-01 00:05:00").getTime * 1000000L)
    assert(runs.map(_.name) == Seq("ok"), runs)
    assert(targetByBucket(store) == Map(("2024-01-01 00:00:00", "a") -> 3.0))
  }

  test("a tag-grouped CQ persists its dimensions into the target's tag set") {
    import graft.sinks.PointStoreDirect
    val store = java.nio.file.Files.createTempDirectory("graft-cqrun-tags").toString
    def p(t: String, host: String, v: Double) =
      PointStoreDirect.Point(ts(t).getTime * 1000000L, "cpu", "usage_idle", v,
        PointStoreDirect.canonicalTags(Map("host" -> host)))
    PointStoreDirect.append(Seq(
      p("2024-01-01 00:00:10", "a", 2.0), p("2024-01-01 00:00:40", "a", 4.0),
      p("2024-01-01 00:00:20", "b", 10.0)), store)
    StoreMeta.createCq(store, InfluxQLParser.parse(
      "CREATE CONTINUOUS QUERY byhost ON db1 BEGIN " +
        "SELECT MEAN(usage_idle) AS m INTO cpu_1m FROM cpu GROUP BY time(1m), host END")
      .asInstanceOf[CreateCq])
    val runs = CqRunner.runDue(spark, store, ts("2024-01-01 00:02:00").getTime * 1000000L)
    assert(runs.map(r => (r.name, r.rows)) == Seq(("byhost", 2L)), runs)
    // the rollup target queries back BY HOST through the same dynamic-tag
    // planning as the source — the dimension survived materialization
    val back = InfluxQLPlanner.sqlStore(spark, store,
      "SELECT MEAN(m) AS v FROM cpu_1m GROUP BY host").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(back == Map("a" -> 3.0, "b" -> 10.0))
  }
}
