package graft.influxql

import java.sql.Timestamp

import graft.SparkTestBase
import graft.sinks.PointStoreDirect

/** First-class tag sets in the point store (r9) — the Telegraf
  * `cpu,host=a,region=b usage_idle=90` shape. `/write` persists every
  * non-alias tag as a canonical-JSON `tags` column (keys sorted — the
  * string IS the series identity); queries resolve them dynamically:
  * `WHERE host='a'`, `GROUP BY host`, SHOW TAG KEYS/VALUES/SERIES,
  * DELETE/DROP SERIES by tag. Files written before the column existed
  * (the reference daemon's untagged points) read null tags and behave
  * exactly as before.
  */
class StoreTagsSpec extends SparkTestBase {

  private def ns(s: String): Long = Timestamp.valueOf(s).getTime * 1000000L

  /** A store holding Telegraf-shaped tagged points (via the direct
    * writer, same code path as /write) NEXT TO legacy untagged rows
    * (a Spark write of the pre-tags file layout).
    */
  private def freshStore(): String = {
    val store = java.nio.file.Files.createTempDirectory("graft-tags").toString
    import spark.implicits._
    // legacy shape: a Spark-written file without a tags column
    Seq((Timestamp.valueOf("2024-01-01 00:00:05"), "usage_idle", 50.0))
      .toDF("ts", "alias", "value")
      .write.parquet(s"$store/measurement=cpu/date=2024-01-01")
    // tagged points, two hosts × two fields (exploded per field like
    // /write does), plus a second day for the DELETE case
    def tags(host: String): Option[String] =
      PointStoreDirect.canonicalTags(Map("host" -> host, "region" -> "eu"))
    PointStoreDirect.append(Seq(
      PointStoreDirect.Point(ns("2024-01-01 00:00:10"), "cpu", "usage_idle", 90.0, tags("a")),
      PointStoreDirect.Point(ns("2024-01-01 00:00:10"), "cpu", "usage_user", 5.0, tags("a")),
      PointStoreDirect.Point(ns("2024-01-01 00:00:20"), "cpu", "usage_idle", 80.0, tags("b")),
      PointStoreDirect.Point(ns("2024-01-01 00:00:20"), "cpu", "usage_user", 15.0, tags("b")),
      PointStoreDirect.Point(ns("2024-01-02 00:00:30"), "cpu", "usage_idle", 70.0, tags("a"))),
      store)
    store
  }

  test("canonical tag JSON: sorted keys, minimal escapes, empty = None") {
    assert(PointStoreDirect.canonicalTags(Map.empty).isEmpty)
    assert(PointStoreDirect.canonicalTags(Map("z" -> "1", "a" -> "2")) ==
      Some("""{"a":"2","z":"1"}"""))
    assert(PointStoreDirect.canonicalTags(Map("k\"x" -> "v\\y")) ==
      Some("""{"k\"x":"v\\y"}"""))
  }

  test("WHERE host='a' filters; legacy untagged rows never match a tag cond") {
    val store = freshStore()
    val rows = InfluxQLPlanner.sqlStore(spark, store,
      "SELECT MEAN(usage_idle) AS m, COUNT(usage_idle) AS n FROM cpu WHERE host = 'a'")
      .collect().head
    assert((rows.getDouble(0), rows.getLong(1)) == (80.0, 2L)) // (90+70)/2
    // regex tag predicate
    val re = InfluxQLPlanner.sqlStore(spark, store,
      "SELECT COUNT(usage_idle) AS n FROM cpu WHERE host =~ /a|b/").collect().head
    assert(re.getLong(0) == 3L)
    // != keeps the OTHER tagged host only (null tags fail any comparison)
    val ne = InfluxQLPlanner.sqlStore(spark, store,
      "SELECT COUNT(usage_idle) AS n FROM cpu WHERE host != 'a'").collect().head
    assert(ne.getLong(0) == 1L)
    // a tag no point carries matches nothing — empty, like InfluxDB
    assert(InfluxQLPlanner.sqlStore(spark, store,
      "SELECT COUNT(usage_idle) AS n FROM cpu WHERE dc = 'x'").collect()
      .forall(r => r.isNullAt(0) || r.getLong(0) == 0L))
  }

  test("GROUP BY host groups tagged series; untagged rows land in the null group") {
    val store = freshStore()
    val byHost = InfluxQLPlanner.sqlStore(spark, store,
      "SELECT MEAN(usage_idle) AS m FROM cpu GROUP BY host").collect()
      .map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    assert(byHost == Map(Some("a") -> 80.0, Some("b") -> 80.0, None -> 50.0))
    // bucketed + tagged: the Grafana per-host panel shape
    val panel = InfluxQLPlanner.sqlStore(spark, store,
      "SELECT MEAN(usage_idle) AS m FROM cpu WHERE time >= '2024-01-01' AND " +
        "time < '2024-01-02' AND host = 'a' GROUP BY time(1m), host").collect()
    assert(panel.map(r => (r.getString(0), r.getString(1), r.getDouble(2))).toSeq ==
      Seq(("2024-01-01 00:00:00", "a", 90.0)))
    // tag cond composes with a field-value cond (r9 field-WHERE)
    val both = InfluxQLPlanner.sqlStore(spark, store,
      "SELECT COUNT(usage_idle) AS n FROM cpu WHERE host = 'a' AND usage_idle > 75")
      .collect().head
    assert(both.getLong(0) == 1L)
  }

  test("SHOW TAG KEYS / TAG VALUES / SERIES list the dynamic tag space") {
    val store = freshStore()
    val keys = InfluxQLPlanner.sqlStore(spark, store, "SHOW TAG KEYS FROM cpu")
      .collect().map(_.getString(1)).toSeq
    assert(keys == Seq("alias", "host", "region"))
    val vals = InfluxQLPlanner.sqlStore(spark, store,
      "SHOW TAG VALUES FROM cpu WITH KEY = host").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(vals == Seq(("host", "a"), ("host", "b")))
    // absent key → empty listing, not an error (the key space is data)
    assert(InfluxQLPlanner.sqlStore(spark, store,
      "SHOW TAG VALUES FROM cpu WITH KEY = dc").count() == 0)
    val series = InfluxQLPlanner.sqlStore(spark, store, "SHOW SERIES")
      .collect().map(_.getString(0)).toSeq
    assert(series == Seq(
      "cpu,alias=usage_idle",
      "cpu,alias=usage_idle,host=a,region=eu",
      "cpu,alias=usage_idle,host=b,region=eu",
      "cpu,alias=usage_user,host=a,region=eu",
      "cpu,alias=usage_user,host=b,region=eu"))
    val card = InfluxQLPlanner.sqlStore(spark, store, "SHOW SERIES CARDINALITY")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(card == Seq(("cpu", 5L)))
    val keyCard = InfluxQLPlanner.sqlStore(spark, store, "SHOW TAG KEY CARDINALITY")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(keyCard == Seq(("cpu", 3L))) // alias + host + region
  }

  test("GROUP BY * expands to the discovered dynamic key space (the Grafana default)") {
    val store = freshStore()
    val rows = InfluxQLPlanner.sqlStore(spark, store,
      "SELECT COUNT(usage_idle) AS n FROM cpu WHERE host = 'a' GROUP BY *").collect()
    // groups by (alias, host, region): host-a idle rows form one group
    assert(rows.head.schema.fieldNames.toSeq == Seq("alias", "host", "region", "n"))
    assert(rows.map(r => (r.getString(1), r.getLong(3))).toSeq == Seq(("a", 2L)))
  }

  test("raw selects project dynamic tags via the ::tag hint; points never merge across hosts") {
    val store = freshStore()
    // classic exploded view + a tag column (InfluxDB's `SELECT v, host::tag`)
    val rows = InfluxQLPlanner.sqlStore(spark, store,
      "SELECT value, host::tag FROM cpu WHERE alias = 'usage_user' ORDER BY time")
      .collect()
    assert(rows.head.schema.fieldNames.toSeq == Seq("time", "value", "host"))
    assert(rows.map(r => (r.getDouble(1), r.getString(2))).toSeq ==
      Seq((5.0, "a"), (15.0, "b")))
    // named-field merge carries the tag AND keys the merge by tag set:
    // both hosts share ts in freshStore's data? (they don't here — write
    // two hosts at ONE instant to prove the non-merge)
    PointStoreDirect.append(Seq(
      PointStoreDirect.Point(ns("2024-01-03 00:00:00"), "cpu", "usage_idle", 1.0,
        PointStoreDirect.canonicalTags(Map("host" -> "x"))),
      PointStoreDirect.Point(ns("2024-01-03 00:00:00"), "cpu", "usage_idle", 2.0,
        PointStoreDirect.canonicalTags(Map("host" -> "y")))), store)
    val same = InfluxQLPlanner.sqlStore(spark, store,
      "SELECT usage_idle, host::tag FROM cpu WHERE time >= '2024-01-03' ORDER BY time")
      .collect()
    assert(same.map(r => (r.getDouble(1), r.getString(2))).toSet ==
      Set((1.0, "x"), (2.0, "y"))) // two rows, one per (ts, tagset) point
  }

  test("DELETE and DROP SERIES resolve tag conds; null tags are a no-match, not a delete") {
    val store = freshStore()
    val (_, rewritten) = InfluxQLPlanner.delete(spark,
      "DELETE FROM cpu WHERE host = 'b'", store)
    assert(rewritten.nonEmpty)
    val left = InfluxQLPlanner.sqlStore(spark, store,
      "SELECT COUNT(usage_idle) AS n FROM cpu").collect().head.getLong(0)
    assert(left == 3L) // legacy 50 + host-a 90/70 stay, host-b row gone
    val (_, rw2) = InfluxQLPlanner.dropSeries(spark,
      "DROP SERIES FROM cpu WHERE host = 'a'", store)
    assert(rw2.nonEmpty)
    val after = InfluxQLPlanner.sqlStore(spark, store,
      "SELECT value, alias FROM cpu ORDER BY time").collect()
    assert(after.map(_.getDouble(1)).toSeq == Seq(50.0)) // only the legacy row
  }

  test("Telegraf-shaped tagged writes flow through HTTP end-to-end") {
    val store = java.nio.file.Files.createTempDirectory("graft-tags-http").toString
    val h = InfluxQLHttp.startStore(spark, store)
    try {
      val wc = new java.net.URI(s"http://127.0.0.1:${h.port}/write?db=plc").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      wc.setRequestMethod("POST"); wc.setDoOutput(true)
      wc.getOutputStream.write(
        ("cpu,host=a,region=eu usage_idle=90 1704067210000000000\n" +
          "cpu,host=b,region=eu usage_idle=70 1704067220000000000").getBytes("UTF-8"))
      assert(wc.getResponseCode == 204); wc.disconnect()
      val q = java.net.URLEncoder.encode(
        "SELECT MEAN(usage_idle) AS m FROM cpu GROUP BY host", "UTF-8")
      val conn = new java.net.URI(s"http://127.0.0.1:${h.port}/query?db=plc&q=$q").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      conn.disconnect()
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
      val series = node.at("/results/0/series")
      assert(series.size() == 2, body.take(400))
      val byTag = (0 until series.size()).map { i =>
        series.get(i).at("/tags/host").asText() ->
          series.get(i).at("/values/0").get(series.get(i).get("columns").size() - 1).asDouble()
      }.toMap
      assert(byTag == Map("a" -> 90.0, "b" -> 70.0), body.take(400))
    } finally h.stop()
  }

  test("compaction preserves tag sets across the fold") {
    val store = freshStore()
    // blow up the 2024-01-01 partition with many single-point files
    (1 to 40).foreach(i => PointStoreDirect.append(Seq(
      PointStoreDirect.Point(ns("2024-01-01 00:01:00") + i * 1000000000L, "cpu",
        "usage_idle", i.toDouble,
        PointStoreDirect.canonicalTags(Map("host" -> "c")))), store))
    val compacted = PointStoreDirect.compact(spark, store, maxFiles = 8)
    assert(compacted.nonEmpty)
    val n = InfluxQLPlanner.sqlStore(spark, store,
      "SELECT COUNT(usage_idle) AS n FROM cpu WHERE host = 'c'").collect().head.getLong(0)
    assert(n == 40L)
    // legacy (null-tag) rows also survive the rewrite
    val legacy = InfluxQLPlanner.sqlStore(spark, store,
      "SELECT MEAN(value) AS m FROM cpu WHERE alias = 'usage_idle' AND time < '2024-01-01 00:00:06'")
      .collect().head.getDouble(0)
    assert(legacy == 50.0)
  }
}
