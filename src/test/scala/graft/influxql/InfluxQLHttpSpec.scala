package graft.influxql

import java.net.{HttpURLConnection, URI, URLEncoder}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkTestBase

import scala.jdk.CollectionConverters._

/** Real HTTP round-trips against the /query endpoint — the wire surface a
  * Grafana InfluxDB 1.x datasource would hit (ref README.md:13-14,98-100).
  */
class InfluxQLHttpSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"
  private val mapper = new ObjectMapper()

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

  private def enc(s: String): String = URLEncoder.encode(s, "UTF-8")

  test("GET /query plans, executes, and renders the InfluxDB response shape") {
    val h = InfluxQLHttp.start(spark, dir)
    try {
      val q = enc("SELECT MEAN(value) AS m FROM events " +
        "WHERE time >= '2024-01-01' AND time < '2024-01-03' GROUP BY time(1d), event_type")
      val (code, body) = get(h.port, s"/query?db=plc&q=$q")
      assert(code == 200)
      val root = mapper.readTree(body)
      val series = root.at("/results/0/series")
      assert(series.size() > 1, body.take(300))
      assert(series.get(0).at("/name").asText() == "events")
      assert(series.get(0).at("/values/0/0").asText().endsWith("Z"))

      // epoch=ms renders integer epoch times instead of RFC3339
      val (c2, b2) = get(h.port, s"/query?q=$q&epoch=ms")
      assert(c2 == 200)
      val t0 = mapper.readTree(b2).at("/results/0/series/0/values/0/0")
      assert(t0.isNumber && t0.asLong() == 1704067200000L, b2.take(200))

      // statement batches keep their statement ids over the wire
      val batch = enc("SHOW MEASUREMENTS; SELECT COUNT(value) AS n FROM events")
      val (c3, b3) = get(h.port, s"/query?q=$batch")
      assert(c3 == 200)
      assert(mapper.readTree(b3).at("/results/1/statement_id").asInt() == 1)

      // pretty=true indents the same document (InfluxDB 1.x curl nicety)
      val (c4, b4) = get(h.port, s"/query?q=$batch&pretty=true")
      assert(c4 == 200)
      assert(b4.linesIterator.size > 5, b4.take(200))
      assert(mapper.readTree(b4) == mapper.readTree(b3))

      // Accept: application/csv — the influx CLI shape: name,tags,<cols>
      // headers per column change, tags as one k=v field, epoch-ns times
      val conn5 = new URI(s"http://127.0.0.1:${h.port}/query?q=$q").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn5.setRequestProperty("Accept", "application/csv")
      assert(conn5.getResponseCode == 200)
      assert(conn5.getHeaderField("Content-Type") == "application/csv")
      val csv = new String(conn5.getInputStream.readAllBytes(), "UTF-8")
      conn5.disconnect()
      val lines = csv.linesIterator.toSeq
      assert(lines.head == "name,tags,time,m", lines.head)
      val first = lines(1).split(",", -1)
      assert(first(0) == "events", lines(1))
      assert(first(1).contains("event_type="), lines(1)) // grouped tag set
      assert(first(2) == "1704067200000000000", lines(1)) // epoch-ns default
      // row count matches the JSON rendering's total across series
      val jsonSeries = mapper.readTree(body).at("/results/0/series")
      val jsonRows = (0 until jsonSeries.size()).map(i => jsonSeries.get(i).at("/values").size()).sum
      val headerCount = lines.count(_ == "name,tags,time,m")
      assert(lines.size - headerCount == jsonRows, s"${lines.size} vs $jsonRows")
    } finally h.stop()
  }

  test("/query error shapes and /ping health check match InfluxDB 1.x") {
    val h = InfluxQLHttp.start(spark, dir)
    try {
      val (c1, b1) = get(h.port, "/query")
      assert(c1 == 400 && mapper.readTree(b1).has("error"))
      val (c2, b2) = get(h.port, s"/query?q=${enc("SELECT BOGUS(value) FROM events")}")
      assert(c2 == 400)
      assert(mapper.readTree(b2).at("/error").asText().nonEmpty)
      val (c3, b3) = get(h.port, s"/query?q=${enc("SELECT MEAN(value) FROM nope")}")
      assert(c3 == 400 && mapper.readTree(b3).at("/error").asText().contains("nope"))

      val conn = new URI(s"http://127.0.0.1:${h.port}/ping").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      assert(conn.getResponseCode == 204)
      assert(conn.getHeaderField("X-Influxdb-Version") != null)
      conn.disconnect()
    } finally h.stop()
  }

  test("POST /write ingests line protocol; /query reads it back (full wire loop)") {
    val store = java.nio.file.Files.createTempDirectory("graft-http-write").toFile
    // pin now() so a timestampless line gets a deterministic server time
    val nowNs = 1704153600000000000L // 2024-01-02T00:00:00Z
    val h = InfluxQLHttp.startStore(spark, store.toString, nowNs = Some(nowNs))
    try {
      def post(body: String): Int = {
        val conn = new URI(s"http://127.0.0.1:${h.port}/write?db=plc").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes("UTF-8"))
        val code = conn.getResponseCode
        conn.disconnect()
        code
      }
      // the reference daemon's exact payload shape: measurement,alias=<t> value=<v> [tsNs]
      assert(post(
        """plc9,alias=temp value=21.5 1704067200000000000
          |plc9,alias=temp value=22.0 1704070800000000000
          |plc9,alias=rpm value=900.0""".stripMargin) == 204)
      // malformed line rejects the whole batch (InfluxDB all-or-nothing)
      assert(post("plc9,alias=temp nonsense") == 400)
      // the new measurement appears in the next /query (catalog re-resolved)
      val q = enc("SELECT value FROM plc9 WHERE alias = 'temp' ORDER BY time")
      val (code, body) = get(h.port, s"/query?db=plc&q=$q")
      assert(code == 200, body.take(200))
      val vals = mapper.readTree(body).at("/results/0/series/0/values")
      assert(vals.size() == 2, body.take(300))
      assert(vals.get(0).get(1).asDouble() == 21.5 && vals.get(1).get(1).asDouble() == 22.0)
      // the timestampless point got the pinned server clock
      val q2 = enc("SELECT value FROM plc9 WHERE alias = 'rpm'")
      val (c2, b2) = get(h.port, s"/query?q=$q2")
      assert(c2 == 200)
      val t = mapper.readTree(b2).at("/results/0/series/0/values/0/0").asText()
      assert(t == "2024-01-02T00:00:00Z", b2.take(300))
    } finally h.stop()
  }

  test("sub-second GROUP BY time buckets go out as RFC3339 with their fraction, as epoch=u integers and in CSV") {
    val store = java.nio.file.Files.createTempDirectory("graft-http-subsecond").toFile
    val h = InfluxQLHttp.startStore(spark, store.toString)
    try {
      val conn = new URI(s"http://127.0.0.1:${h.port}/write?db=plc").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      // points at +0, +0.6 and +1.0 ms: one per 500µs bucket
      conn.getOutputStream.write(("plcus,alias=a value=1.0 1704067200000000000\n" +
        "plcus,alias=a value=2.0 1704067200000600000\n" +
        "plcus,alias=a value=3.0 1704067200001000000").getBytes("UTF-8"))
      assert(conn.getResponseCode == 204)
      conn.disconnect()
      val q = enc("SELECT COUNT(value) AS n FROM plcus WHERE time >= '2024-01-01T00:00:00Z' " +
        "AND time < '2024-01-01T00:00:00.0015Z' GROUP BY time(500u)")
      def times(body: String): Seq[String] = {
        val vs = mapper.readTree(body).at("/results/0/series/0/values")
        (0 until vs.size()).map(vs.get(_).get(0).asText())
      }
      val (c1, b1) = get(h.port, s"/query?q=$q")
      assert(c1 == 200, b1.take(300))
      // trailing zeros trimmed, and no fraction at all on a whole second
      assert(times(b1) == Seq("2024-01-01T00:00:00Z", "2024-01-01T00:00:00.0005Z",
        "2024-01-01T00:00:00.001Z"), b1.take(300))
      val (c2, b2) = get(h.port, s"/query?q=$q&epoch=u")
      assert(c2 == 200)
      assert(times(b2) == Seq("1704067200000000", "1704067200000500", "1704067200001000"),
        b2.take(300))
      assert(mapper.readTree(b2).at("/results/0/series/0/values/1/0").isNumber)
      val c3 = new URI(s"http://127.0.0.1:${h.port}/query?q=$q").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      c3.setRequestProperty("Accept", "application/csv")
      assert(c3.getResponseCode == 200)
      val csv = new String(c3.getInputStream.readAllBytes(), "UTF-8").linesIterator.toSeq
      c3.disconnect()
      assert(csv == Seq("name,tags,time,n", "plcus,,1704067200000000000,1",
        "plcus,,1704067200000500000,1", "plcus,,1704067200001000000,1"), csv.mkString("\n"))
    } finally h.stop()
  }

  test("/write accepts multi-field lines: one store point per field, alias = field key") {
    val store = java.nio.file.Files.createTempDirectory("graft-http-multifield").toFile
    val h = InfluxQLHttp.startStore(spark, store.toString)
    try {
      def post(body: String): Int = {
        val conn = new URI(s"http://127.0.0.1:${h.port}/write?db=plc").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes("UTF-8"))
        val code = conn.getResponseCode
        conn.disconnect()
        code
      }
      // the Telegraf/influx-CLI shape: several fields on one line
      assert(post("plcmf,host=a f1=1.5,f2=2.5 1704067200000000000\n" +
        "plcmf,host=a f1=3.5 1704067260000000000") == 204)
      def vals(q: String): Seq[Double] = {
        val (code, body) = get(h.port, s"/query?q=${enc(q)}")
        assert(code == 200, body.take(200))
        val vs = mapper.readTree(body).at("/results/0/series/0/values")
        (0 until vs.size()).map(vs.get(_).get(1).asDouble())
      }
      assert(vals("SELECT value FROM plcmf WHERE alias = 'f1' ORDER BY time") == Seq(1.5, 3.5))
      assert(vals("SELECT value FROM plcmf WHERE alias = 'f2'") == Seq(2.5))
      // a quoted string field is wire-typed STRING — never coerced to a
      // float, so this numeric-valued store rejects the batch (400)
      assert(post("""plcmf,host=a value="3.5" 1704067200000000000""") == 400)
      // and the reference daemon's single-field alias-tag shape still
      // routes the tag, not the field key
      assert(post("plcsf,alias=temp reading=9.5 1704067200000000000") == 204)
      assert(vals("SELECT value FROM plcsf WHERE alias = 'temp'") == Seq(9.5))
    } finally h.stop()
  }

  test("gzip: Content-Encoding bodies on /write, Accept-Encoding responses on /query") {
    val store = java.nio.file.Files.createTempDirectory("graft-http-gzip").toFile
    val h = InfluxQLHttp.startStore(spark, store.toString)
    try {
      // gzipped write body — Telegraf's default wire shape
      val lines = (0 until 50)
        .map(i => s"plcgz,alias=t value=$i.0 ${1704067200000000000L + i * 1000000000L}")
        .mkString("\n")
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(lines.getBytes("UTF-8")); gz.close()
      val wc = new URI(s"http://127.0.0.1:${h.port}/write?db=plc").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      wc.setRequestMethod("POST"); wc.setDoOutput(true)
      wc.setRequestProperty("Content-Encoding", "gzip")
      wc.getOutputStream.write(bos.toByteArray)
      assert(wc.getResponseCode == 204); wc.disconnect()

      // gzipped query response on request
      val qc = new URI(s"http://127.0.0.1:${h.port}/query?q=" +
        enc("SELECT COUNT(value) AS n FROM plcgz")).toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      qc.setRequestProperty("Accept-Encoding", "gzip")
      assert(qc.getResponseCode == 200)
      assert(qc.getHeaderField("Content-Encoding") == "gzip")
      val body = new String(new java.util.zip.GZIPInputStream(qc.getInputStream)
        .readAllBytes(), "UTF-8")
      qc.disconnect()
      assert(mapper.readTree(body).at("/results/0/series/0/values/0/0").asLong() == 50L, body)
      // clients that don't ask keep getting identity bodies
      val (c2, b2) = get(h.port, s"/query?q=${enc("SELECT COUNT(value) AS n FROM plcgz")}")
      assert(c2 == 200 && b2.startsWith("{"), b2.take(100))

      // max-body-size (InfluxDB 1.x: 25 MB): an oversized body 413s
      // BEFORE being buffered whole — including via a gzip bomb, where
      // the cap applies to the DECOMPRESSED size (a ~26 MB body of
      // zeros gzips to ~26 KB)
      val bomb = new java.io.ByteArrayOutputStream()
      val bz = new java.util.zip.GZIPOutputStream(bomb)
      val chunk = new Array[Byte](1 << 20)
      (0 until 26).foreach(_ => bz.write(chunk)); bz.close()
      assert(bomb.size() < (1 << 20), s"bomb should compress tiny: ${bomb.size()}")
      val bc = new URI(s"http://127.0.0.1:${h.port}/write?db=plc").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      bc.setRequestMethod("POST"); bc.setDoOutput(true)
      bc.setRequestProperty("Content-Encoding", "gzip")
      bc.getOutputStream.write(bomb.toByteArray)
      assert(bc.getResponseCode == 413); bc.disconnect()
    } finally h.stop()
  }

  test("/write precision= scales bare timestamps (s/ms/u/ns)") {
    val store = java.nio.file.Files.createTempDirectory("graft-http-prec").toFile
    val h = InfluxQLHttp.startStore(spark, store.toString)
    try {
      def post(path: String, body: String): Int = {
        val conn = new URI(s"http://127.0.0.1:${h.port}$path").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes("UTF-8"))
        val code = conn.getResponseCode
        conn.disconnect()
        code
      }
      // the same instant in three precisions lands on the same stored time
      assert(post("/write?precision=s", "plcp,alias=a value=1.0 1704067200") == 204)
      assert(post("/write?precision=ms", "plcp,alias=b value=2.0 1704067200000") == 204)
      assert(post("/write", "plcp,alias=c value=3.0 1704067200000000000") == 204)
      assert(post("/write?precision=parsecs", "plcp,alias=d value=4.0 1") == 400)
      val (code, body) = get(h.port,
        s"/query?q=${enc("SELECT COUNT(value) AS n FROM plcp WHERE time = '2024-01-01'")}")
      assert(code == 200)
      assert(mapper.readTree(body).at("/results/0/series/0/values/0/0").asLong() == 3, body.take(300))
    } finally h.stop()
  }

  test("chunked=true streams newline-delimited result docs with partial markers") {
    val h = InfluxQLHttp.start(spark, dir)
    try {
      val q = enc("SELECT value, user_id FROM events " +
        "WHERE time >= '2024-01-01' AND time < '2024-01-03' ORDER BY time")
      // unchunked reference (big cap so nothing truncates)
      val (_, whole) = get(h.port, s"/query?q=$q")
      val wholeVals = mapper.readTree(whole).at("/results/0/series/0/values")
      assert(wholeVals.size() > 20)
      // chunked: multiple docs, all-but-last partial, concatenation == whole
      val (code, body) = get(h.port, s"/query?q=$q&chunked=true&chunk_size=10")
      assert(code == 200)
      val docs = body.split('\n').toSeq.filter(_.nonEmpty).map(mapper.readTree)
      assert(docs.size == (wholeVals.size() + 9) / 10, s"${docs.size} docs")
      assert(docs.init.forall(_.at("/results/0/partial").asBoolean()))
      assert(docs.last.at("/results/0/partial").isMissingNode)
      val streamed = docs.flatMap { d =>
        val vs = d.at("/results/0/series/0/values")
        (0 until vs.size()).map(j => (vs.get(j).get(0).asText(), vs.get(j).get(1).asDouble()))
      }
      val expected = (0 until wholeVals.size()).map(j =>
        (wholeVals.get(j).get(0).asText(), wholeVals.get(j).get(1).asDouble()))
      assert(streamed == expected)
      // a bad query in chunked mode still returns a clean 400
      val (c2, b2) = get(h.port, s"/query?q=${enc("SELECT MEAN(value) FROM nope")}&chunked=true")
      assert(c2 == 400 && mapper.readTree(b2).has("error"))
      // an invalid epoch unit 400s BEFORE the chunked 200 header commits
      val (c3, b3) = get(h.port, s"/query?q=$q&chunked=true&epoch=bogus")
      assert(c3 == 400 && mapper.readTree(b3).has("error"), s"$c3 ${b3.take(200)}")
      // Accept: application/csv does NOT leak into chunked mode — docs
      // stay JSON with RFC3339 times (CSV's epoch-ns default is unchunked-only)
      val c5conn = new URI(
        s"http://127.0.0.1:${h.port}/query?q=$q&chunked=true&chunk_size=10").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      c5conn.setRequestProperty("Accept", "application/csv")
      assert(c5conn.getResponseCode == 200)
      val c5body = new String(c5conn.getInputStream.readAllBytes(), "UTF-8")
      c5conn.disconnect()
      val c5doc = mapper.readTree(c5body.split('\n').head)
      assert(c5doc.at("/results/0/series/0/values/0/0").asText().endsWith("Z"), c5body.take(200))
      // chunked SHOW statements honor chunk_size as their cap (partial doc)
      val (c4, b4) = get(h.port, s"/query?q=${enc("SHOW SERIES FROM events")}&chunked=true&chunk_size=3")
      assert(c4 == 200)
      val showDoc = mapper.readTree(b4.split('\n').head)
      assert(showDoc.at("/results/0/series/0/values").size() == 3)
      assert(showDoc.at("/results/0/partial").asBoolean())
    } finally h.stop()
  }

  test("DELETE/DROP execute through POST /query on a store-backed handle (InfluxDB shape)") {
    val store = java.nio.file.Files.createTempDirectory("graft-http-mut").toFile
    val h = InfluxQLHttp.startStore(spark, store.toString)
    try {
      def postQuery(q: String): (Int, String) = {
        val conn = new URI(s"http://127.0.0.1:${h.port}/query").toURL
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
      // seed points over /write
      val wc = new URI(s"http://127.0.0.1:${h.port}/write?db=plc").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      wc.setRequestMethod("POST"); wc.setDoOutput(true)
      wc.getOutputStream.write(
        """plcm,alias=a value=1.0 1704067200000000000
          |plcm,alias=b value=2.0 1704067201000000000""".stripMargin.getBytes("UTF-8"))
      assert(wc.getResponseCode == 204); wc.disconnect()
      // a mutating statement over GET must never delete data
      val (gc, _) = get(h.port, s"/query?q=${enc("DROP SERIES FROM plcm WHERE alias = 'a'")}")
      assert(gc == 400)
      assert(mapper.readTree(get(h.port, s"/query?q=${enc("SELECT COUNT(value) AS n FROM plcm")}")._2)
        .at("/results/0/series/0/values/0/0").asLong() == 2)
      // mixed batch over POST: the drop executes, the select renders
      val (code, body) = postQuery(
        "DROP SERIES FROM plcm WHERE alias = 'a'; SELECT COUNT(value) AS n FROM plcm")
      assert(code == 200, body.take(200))
      val root = mapper.readTree(body)
      assert(root.at("/results/0/statement_id").asInt() == 0)
      assert(root.at("/results/0/series").isMissingNode) // empty mutation result
      assert(root.at("/results/1/series/0/values/0/0").asLong() == 1, body.take(300))
      // DELETE through POST /query too
      val (c2, _) = postQuery("DELETE FROM plcm WHERE time < '2030-01-01'")
      assert(c2 == 200)
      assert(mapper.readTree(get(h.port, s"/query?q=${enc("SELECT COUNT(value) AS n FROM plcm")}")._2)
        .at("/results/0/series/0/values/0/0").asLong() == 0)
    } finally h.stop()

    // a non-store (read-only) handle refuses mutations outright
    val ro = InfluxQLHttp.start(spark, dir)
    try {
      val conn = new URI(s"http://127.0.0.1:${ro.port}/query").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.getOutputStream.write(s"q=${enc("DROP MEASUREMENT events")}".getBytes("UTF-8"))
      assert(conn.getResponseCode == 400)
      conn.disconnect()
    } finally ro.stop()
  }

  test("POST /query batches: execution errors embed per statement, shape errors abort pre-mutation") {
    val store = java.nio.file.Files.createTempDirectory("graft-http-batcherr").toFile
    val h = InfluxQLHttp.startStore(spark, store.toString)
    try {
      def postQuery(q: String): (Int, String) = {
        val conn = new URI(s"http://127.0.0.1:${h.port}/query").toURL
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
      def count(m: String): Long = {
        val (_, b) = get(h.port, s"/query?q=${enc(s"SELECT COUNT(value) AS n FROM $m")}")
        val n = mapper.readTree(b).at("/results/0/series/0/values/0/0")
        if (n.isMissingNode) 0L else n.asLong()
      }
      val wc = new URI(s"http://127.0.0.1:${h.port}/write").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      wc.setRequestMethod("POST"); wc.setDoOutput(true)
      wc.getOutputStream.write(
        """m1,alias=a value=1.0 1704067200000000000
          |m2,alias=b value=2.0 1704067200000000000""".stripMargin.getBytes("UTF-8"))
      assert(wc.getResponseCode == 204); wc.disconnect()
      // a store-state failure (unknown measurement) embeds as
      // {"statement_id":1,"error":…} with HTTP 200 and the batch keeps
      // going — InfluxDB 1.x semantics for mid-batch execution errors
      val (c1, b1) = postQuery(
        "DELETE FROM m1 WHERE time < '2030-01-01'; DELETE FROM missing; " +
          "SELECT COUNT(value) AS n FROM m2")
      assert(c1 == 200, s"$c1 ${b1.take(300)}")
      val r1 = mapper.readTree(b1)
      assert(r1.at("/results/0/statement_id").asInt() == 0)
      assert(r1.at("/results/0/error").isMissingNode, b1.take(300))
      assert(r1.at("/results/1/error").asText().contains("missing"), b1.take(300))
      assert(r1.at("/results/2/series/0/values/0/0").asLong() == 1, b1.take(300))
      assert(count("m1") == 0) // statement 0 really executed
      // a SHAPE error anywhere in the batch 400s the whole request and no
      // statement mutates — even ones ordered before the invalid statement
      val (c2, b2) = postQuery(
        "DROP MEASUREMENT m2; DELETE FROM m2 WHERE time < '2030-01-01' OR alias = 'b'")
      assert(c2 == 400 && mapper.readTree(b2).has("error"), s"$c2 ${b2.take(300)}")
      assert(count("m2") == 1) // the DROP before the invalid DELETE never ran
      // a PLAN-time error in a renderable statement (unknown measurement)
      // also 400s BEFORE any mutation — the dry-plan pass catches what
      // shape validation can't
      val (c3, b3) = postQuery(
        "DROP MEASUREMENT m2; SELECT COUNT(value) AS n FROM never_written")
      assert(c3 == 400 && mapper.readTree(b3).at("/error").asText().contains("never_written"),
        s"$c3 ${b3.take(300)}")
      assert(count("m2") == 1) // still intact
      // an unknown tag key over a tagged store is DATA, not a shape error
      // (r9 dynamic tags): the statement executes and lists EMPTY, like
      // InfluxDB — it no longer aborts a batch
      val (c3b, b3b) = postQuery("SHOW TAG VALUES WITH KEY = bogus")
      assert(c3b == 200, s"$c3b ${b3b.take(300)}")
      assert(mapper.readTree(b3b).at("/results/0/series/0/values").isMissingNode,
        b3b.take(300))
      // KILL QUERY's sole-statement rule is enforced pre-mutation
      val (c3c, _) = postQuery("DROP MEASUREMENT m2; KILL QUERY 1")
      assert(c3c == 400)
      assert(count("m2") == 1) // still intact
      // CREATE RETENTION POLICY used to be the 400 example here — it is a
      // supported store mutation since r8 and executes in a batch
      val (c3d, _) = postQuery(
        "CREATE RETENTION POLICY keep ON plc DURATION 7d REPLICATION 1")
      assert(c3d == 200)
      // a SHOW after a DROP in the SAME batch sees the mutated store —
      // the catalog re-resolves per renderable statement
      val (c4, b4) = postQuery("DROP MEASUREMENT m1; SHOW MEASUREMENTS")
      assert(c4 == 200, s"$c4 ${b4.take(300)}")
      val names = {
        val vs = mapper.readTree(b4).at("/results/1/series/0/values")
        (0 until vs.size()).map(j => vs.get(j).get(0).asText())
      }
      assert(!names.contains("m1") && names.contains("m2"), b4.take(300))
    } finally h.stop()
  }

  test("concurrent /write appends and DELETE rewrites serialize (no torn store, no 500s)") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val store = java.nio.file.Files.createTempDirectory("graft-http-race").toFile
    val h = InfluxQLHttp.startStore(spark, store.toString)
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      def post(path: String, body: String): (Int, String) = {
        val conn = new URI(s"http://127.0.0.1:${h.port}$path").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes("UTF-8"))
        val code = conn.getResponseCode
        val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
        val b = if (is == null) "" else new String(is.readAllBytes(), "UTF-8")
        conn.disconnect()
        (code, b)
      }
      assert(post("/write", "mr,alias=a value=0.0 1704067200000000000")._1 == 204)
      // writers append distinct points while a deleter repeatedly wipes the
      // measurement. Without store-level locking an acked append can land
      // between the DELETE's scan and its partition rmTree/rename and be
      // silently destroyed, or a query scan dies on FileNotFound → 500.
      val writes = Future.traverse(1 to 16) { i =>
        Future(post("/write", s"mr,alias=a value=$i.0 ${1704067200000000000L + i * 1000000000L}"))
      }
      val deletes = Future.traverse(1 to 6) { _ =>
        Future(post("/query", s"q=${enc("DELETE FROM mr WHERE time < '2030-01-01'")}"))
      }
      val queries = Future.traverse(1 to 8) { _ =>
        Future {
          val conn = new URI(
            s"http://127.0.0.1:${h.port}/query?q=${enc("SELECT COUNT(value) AS n FROM mr")}")
            .toURL.openConnection().asInstanceOf[HttpURLConnection]
          val code = conn.getResponseCode
          conn.disconnect()
          code
        }
      }
      val wr = Await.result(writes, 120.seconds)
      val dr = Await.result(deletes, 120.seconds)
      val qr = Await.result(queries, 120.seconds)
      assert(wr.forall(_._1 == 204), wr.map(_._1))
      // DELETE either succeeds (200) or embeds a per-statement error when
      // an interleaved wipe left no partition — never a torn-state 500
      assert(dr.forall(_._1 == 200), dr.map { case (c, b) => s"$c ${b.take(120)}" })
      assert(qr.forall(c => c == 200 || c == 400), qr)
      // the store is still coherent: a final full read succeeds and holds
      // at most the 17 acked points
      val (fc, fb) = post("/query", s"q=${enc("SELECT COUNT(value) AS n FROM mr")}")
      assert(fc == 200, s"$fc ${fb.take(200)}")
      val n = mapper.readTree(fb).at("/results/0/series/0/values/0/0")
      assert(n.isMissingNode || n.asLong() <= 17, fb.take(300))
    } finally { h.stop(); pool.shutdown() }
  }

  test("a served empty store answers SHOW statements instead of crashing") {
    val store = java.nio.file.Files.createTempDirectory("graft-http-empty").toFile
    val h = InfluxQLHttp.startStore(spark, store.toString)
    try {
      val (c1, b1) = get(h.port, s"/query?q=${enc("SHOW SERIES")}")
      assert(c1 == 200, s"$c1 ${b1.take(200)}")
      val (c2, b2) = get(h.port, s"/query?q=${enc("SHOW SERIES CARDINALITY")}")
      assert(c2 == 200, s"$c2 ${b2.take(200)}")
      val (c3, _) = get(h.port, s"/query?q=${enc("SHOW MEASUREMENTS")}")
      assert(c3 == 200)
    } finally h.stop()
  }

  test("concurrent /query requests share one SparkSession safely (a dashboard refresh)") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val h = InfluxQLHttp.start(spark, dir)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // a Grafana dashboard fires all panel queries at once; Spark
      // schedules the concurrent jobs from the HTTP worker threads
      val queries = Seq(
        "SELECT COUNT(value) AS n FROM events",
        "SELECT MEAN(value) AS m FROM events GROUP BY event_type",
        "SHOW MEASUREMENTS",
        "SELECT MAX(value) AS mx FROM events GROUP BY user_id")
      val futures = (1 to 3).flatMap(_ => queries).map { q =>
        Future(get(h.port, s"/query?q=${enc(q)}"))
      }
      val results = Await.result(Future.sequence(futures), 120.seconds)
      assert(results.forall(_._1 == 200))
      // identical queries return identical bodies under concurrency
      val counts = results.zip((1 to 3).flatMap(_ => queries))
        .filter(_._2 == queries.head).map(_._1._2).distinct
      assert(counts.size == 1)
    } finally { h.stop(); pool.shutdown() }
  }

  test("POST /query with a form body works (Grafana POSTs long queries)") {
    val h = InfluxQLHttp.start(spark, dir)
    try {
      val conn = new URI(s"http://127.0.0.1:${h.port}/query").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      conn.setRequestMethod("POST")
      conn.setDoOutput(true)
      conn.setRequestProperty("Content-Type", "application/x-www-form-urlencoded")
      val body = s"q=${enc("SELECT COUNT(value) AS n FROM events")}&db=plc"
      conn.getOutputStream.write(body.getBytes("UTF-8"))
      assert(conn.getResponseCode == 200)
      val json = mapper.readTree(new String(conn.getInputStream.readAllBytes(), "UTF-8"))
      assert(json.at("/results/0/series/0/values/0/0").asLong() > 0)
      conn.disconnect()
    } finally h.stop()
  }

  test("SHOW QUERIES lists running queries; KILL QUERY cancels their Spark jobs") {
    val h = InfluxQLHttp.start(spark, dir)
    try {
      def postQuery(q: String): (Int, String) = {
        val conn = new URI(s"http://127.0.0.1:${h.port}/query").toURL
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
      def listQueries(): Seq[(Long, String)] = {
        val (code, b) = get(h.port, s"/query?q=${enc("SHOW QUERIES")}")
        assert(code == 200, b.take(200))
        val vals = mapper.readTree(b).at("/results/0/series/0/values")
        (0 until vals.size()).map(i =>
          (vals.get(i).get(0).asLong(), vals.get(i).get(1).asText()))
      }
      // the HTTP path tracks every query — SHOW QUERIES lists itself, with
      // the InfluxDB column set
      val (c0, b0) = get(h.port, s"/query?q=${enc("SHOW QUERIES")}")
      assert(c0 == 200)
      val cols = mapper.readTree(b0).at("/results/0/series/0/columns")
      assert((0 until cols.size()).map(cols.get(_).asText()) ==
        Seq("qid", "query", "database", "duration"), b0.take(300))
      assert(listQueries().exists(_._2 == "SHOW QUERIES"))

      // a genuinely running query: tracked like the HTTP path tracks, its
      // distributed job sleeping under the registered job group
      @volatile var outcome: Option[Throwable] = None
      val t = new Thread(() => {
        try {
          InfluxQLQueries.track(spark, "SELECT * FROM slow", "plc",
            () => System.nanoTime()) {
            spark.range(0, 8, 1, 8).rdd.foreach(_ => Thread.sleep(60000))
          }
        } catch { case e: Throwable => outcome = Some(e) }
      })
      t.start()
      var waited = 0
      while (!listQueries().exists(_._2 == "SELECT * FROM slow") && waited < 100) {
        Thread.sleep(100); waited += 1
      }
      val qid = listQueries().find(_._2 == "SELECT * FROM slow").map(_._1)
      assert(qid.isDefined, "slow query never appeared in SHOW QUERIES")

      // KILL is POST-only and validates the qid
      val (cGet, _) = get(h.port, s"/query?q=${enc(s"KILL QUERY ${qid.get}")}")
      assert(cGet == 400)
      val (cBad, bBad) = postQuery("KILL QUERY 999999")
      assert(cBad == 400 && bBad.contains("no such query id"), bBad)

      // the kill interrupts the running tasks (interruptOnCancel), the
      // tracked body unwinds with Spark's cancellation error, and the
      // registry entry leaves the listing
      val (cKill, bKill) = postQuery(s"KILL QUERY ${qid.get}")
      assert(cKill == 200, bKill)
      t.join(60000)
      assert(!t.isAlive, "killed query did not stop")
      assert(outcome.isDefined, "cancelled job did not raise")
      assert(!listQueries().exists(_._2 == "SELECT * FROM slow"))
    } finally h.stop()
  }

  test("measurement names that need path escaping round-trip: write, list, select, delete, drop") {
    // the store escapes partition values the way Spark does (plc:1 lives
    // in measurement=plc%3A1); every reader and mutator must address the
    // same directory by the raw name
    val store = java.nio.file.Files.createTempDirectory("graft-escaped").toString
    val h = InfluxQLHttp.startStore(spark, store)
    try {
      def call(method: String, path: String, body: String): (Int, String) = {
        val conn = new URI(s"http://127.0.0.1:${h.port}$path").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod(method)
        if (body.nonEmpty) {
          conn.setDoOutput(true); conn.getOutputStream.write(body.getBytes("UTF-8"))
        }
        val code = conn.getResponseCode
        val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
        val out = if (is == null) "" else new String(is.readAllBytes(), "UTF-8")
        conn.disconnect()
        (code, out)
      }
      def query(q: String): String = {
        val (c, b) = call("POST", "/query", s"q=${enc(q)}")
        assert(c == 200 && !b.contains("error"), s"$q -> $c $b")
        b
      }
      def measurements() = mapper.readTree(query("SHOW MEASUREMENTS"))
        .at("/results/0/series/0/values").elements().asScala.map(_.get(0).asText).toSeq
      def count(m: String) = mapper.readTree(query(s"""SELECT COUNT(value) AS n FROM "$m""""))
        .at("/results/0/series/0/values/0/0").asLong()
      val t0 = 1704067200000000000L // 2024-01-01T00:00:00Z
      val names = Seq("plc:1", "tank#3")
      val lines = names.flatMap(m => (0 until 4).map(i =>
        s"$m,alias=t value=$i.0 ${t0 + i * 3600L * 1000000000L}"))
      assert(call("POST", "/write?db=plc", lines.mkString("\n"))._1 == 204)
      assert(measurements() == names)
      names.foreach(m => assert(count(m) == 4L, m))
      query("""DELETE FROM "plc:1" WHERE time < '2024-01-01T02:00:00Z'""")
      assert(count("plc:1") == 2L)
      query("""DROP SERIES FROM "plc:1" WHERE alias = 't'""")
      assert(count("plc:1") == 0L)
      query("""DROP MEASUREMENT "tank#3"""")
      assert(measurements() == Seq("plc:1"))
    } finally h.stop()
  }
}
