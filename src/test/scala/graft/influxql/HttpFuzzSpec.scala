package graft.influxql

import java.net.{HttpURLConnection, URI, URLEncoder}

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkTestBase

/** Fuzz beyond the SELECT/TA grammar (r11, VERDICT r10 #6 — the SELECT
  * fuzz found a real crash in r10, so the same machinery now points at the
  * rest of the wire surface):
  *
  *  1. ADMIN statements — randomized lifecycle statements (db/rp/user/
  *     grant/cq/delete/drop/show/kill) POSTed to the LIVE /query endpoint:
  *     every response must be an HTTP 200/4xx with a JSON body (errors are
  *     EMBEDDED per-statement, InfluxDB's contract) — never a 5xx, never a
  *     connection-killing throw.
  *  2. MULTI-STATEMENT batches — 2–4 random statements joined by ';' must
  *     produce one result slot per statement, same no-5xx rule.
  *  3. HOSTILE line-protocol bodies — random garbage and near-valid
  *     mutations of valid lines POSTed to /write must always land 204/400/
  *     413, never 5xx; the store must stay fully serviceable afterwards
  *     (the integrity probe at the end of every case).
  */
class HttpFuzzSpec extends SparkTestBase {

  private def http(port: Int, method: String, path: String,
      body: Option[String] = None): (Int, String) = {
    val conn = new URI(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    conn.setConnectTimeout(30000); conn.setReadTimeout(120000)
    body.foreach { b =>
      conn.setDoOutput(true)
      conn.getOutputStream.write(b.getBytes("UTF-8"))
    }
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val out = if (is == null) "" else new String(is.readAllBytes(), "UTF-8")
    conn.disconnect()
    (code, out)
  }

  private def enc(s: String): String = URLEncoder.encode(s, "UTF-8")

  // --- generators -------------------------------------------------------

  /** Identifiers from tame to hostile: keywords, quotes, unicode, empties. */
  private val genName: Gen[String] = Gen.frequency(
    5 -> Gen.oneOf("db1", "db2", "plc", "autogen", "rp_a", "u1", "bob"),
    2 -> Gen.alphaNumStr.map(s => s.take(12)),
    1 -> Gen.oneOf("select", "where", "time", "measurement"), // keywords
    1 -> Gen.oneOf("we\"ird", "sp ace", "uni\u00e7\u00f8de", "semi;colon", "", "'quoted'"))

  private val genDuration: Gen[String] =
    Gen.oneOf("1h", "30m", "7d", "0s", "INF", "999999999w", "-1h", "1x")

  private val genAdmin: Gen[String] = {
    val db = genName; val rp = genName; val user = genName
    Gen.frequency(
      3 -> db.map(d => s"""CREATE DATABASE "$d""""),
      2 -> db.map(d => s"""DROP DATABASE "$d""""),
      3 -> Gen.zip(rp, db, genDuration).map { case (r, d, dur) =>
        s"""CREATE RETENTION POLICY "$r" ON "$d" DURATION $dur REPLICATION 1""" },
      2 -> Gen.zip(rp, db, genDuration).map { case (r, d, dur) =>
        s"""ALTER RETENTION POLICY "$r" ON "$d" DURATION $dur""" },
      2 -> Gen.zip(rp, db).map { case (r, d) => s"""DROP RETENTION POLICY "$r" ON "$d"""" },
      3 -> Gen.zip(user, Gen.oneOf("pw", "p'w", "")).map { case (u, p) =>
        s"""CREATE USER "$u" WITH PASSWORD '$p'""" },
      2 -> user.map(u => s"""DROP USER "$u""""),
      2 -> Gen.zip(Gen.oneOf("READ", "WRITE", "ALL"), db, user).map { case (pr, d, u) =>
        s"""GRANT $pr ON "$d" TO "$u"""" },
      2 -> Gen.zip(Gen.oneOf("READ", "WRITE", "ALL"), db, user).map { case (pr, d, u) =>
        s"""REVOKE $pr ON "$d" FROM "$u"""" },
      3 -> Gen.oneOf("SHOW DATABASES", "SHOW USERS", "SHOW MEASUREMENTS",
        "SHOW SERIES", "SHOW STATS", "SHOW SHARDS", "SHOW SUBSCRIPTIONS",
        "SHOW QUERIES", "SHOW CONTINUOUS QUERIES"),
      2 -> db.map(d => s"""SHOW RETENTION POLICIES ON "$d""""),
      2 -> genName.map(m => s"""DROP MEASUREMENT "$m""""),
      2 -> genName.map(m => s"""DELETE FROM "$m" WHERE time < '2024-06-01'"""),
      1 -> genName.map(m => s"""DROP SERIES FROM "$m""""),
      2 -> Gen.zip(genName, db).map { case (n, d) =>
        s"""CREATE CONTINUOUS QUERY "$n" ON "$d" BEGIN SELECT mean(value) INTO "m2" FROM "m1" GROUP BY time(1m) END""" },
      1 -> Gen.zip(genName, db).map { case (n, d) => s"""DROP CONTINUOUS QUERY "$n" ON "$d"""" },
      1 -> Gen.choose(0, 99).map(n => s"KILL QUERY $n"))
  }

  /** Near-valid and garbage line-protocol bodies. */
  private val genHostileLines: Gen[String] = {
    val valid = Gen.zip(Gen.choose(1, 999), Gen.choose(0L, 2000000000L)).map {
      case (v, t) => s"m,alias=a value=$v ${1704067200000000000L + t}" }
    val mutated = Gen.oneOf(
      "m,alias= value=1", "m, value=1", "m,alias=a value= 1", "m,alias=a =1",
      "m,alias=a value=1 99999999999999999999999999", "m,alias=a value=1 -5",
      "m,alias=a value=NaN", "m,alias=a value=1e999", "m,alias=a value=0x10",
      "m,alias=a,alias=b value=1", "m,,alias=a value=1", ",alias=a value=1",
      "m,alias=a value=\"str\u0000ing\"", "m,alias=a value=1,value=2",
      "m\\ x,ali\\,as=a\\ b val\\=ue=3.5 1704067200000000000",
      "m,alias=\u00e9\u00e9 value=1", "m,alias=a value=1 1704067200000000000 extra",
      "m,alias=a", "value=1", "m,alias=a value=", "#comment", " ")
    val garbage = Gen.listOfN(40,
      Gen.frequency(8 -> Gen.asciiPrintableChar, 1 -> Gen.const('\n'),
        1 -> Gen.oneOf('\u0000', '\u00ff', '\t'))).map(_.mkString)
    Gen.listOf(Gen.frequency(3 -> valid, 4 -> mutated, 2 -> garbage))
      .map(_.mkString("\n"))
  }

  // --- the properties ---------------------------------------------------

  /** Near-valid and garbage /ann/write bodies (vec_id + csv floats). */
  private val genHostileVectors: Gen[String] = {
    val valid = Gen.zip(Gen.choose(0L, 99999L), Gen.choose(2, 8)).map {
      case (id, d) => s"$id ${(0 until d).map(i => s"0.$i").mkString(",")}" }
    val mutated = Gen.oneOf(
      "1", "1 ", " 1 0.5", "x 0.5", "1 0.5,,0.5", "1 0.5,NaN", "1 0.5,1e999",
      "-9223372036854775809 0.5", "1 0.5 0.6", "1,0.5", "1\t0.5", "",
      "99999999999999999999 0.5", "1 ", "1 abc", "1 0.5,0x2")
    val garbage = Gen.listOfN(30, Gen.asciiPrintableChar).map(_.mkString)
    Gen.listOf(Gen.frequency(3 -> valid, 4 -> mutated, 1 -> garbage))
      .map(_.mkString("\n"))
  }

  test("50 hostile /ann/write bodies: 204/400/413 only; the index lifecycle stays serviceable") {
    val store = java.nio.file.Files.createTempDirectory("graft-fuzz-ann").toFile
    val h = InfluxQLHttp.startStore(spark, store.toString)
    try {
      val prop = Prop.forAll(genHostileVectors) { body =>
        val (code, resp) = http(h.port, "POST", "/ann/write", Some(body))
        val ok = code == 204 || code == 400 || code == 413
        if (!ok) println(s"FUZZ FAILURE on ann body ${body.take(100).replace("\n", "\\n")} -> $code $resp")
        ok
      }
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(50), prop)
      assert(res.passed, res.status.toString)
      // whatever landed in delta still bootstraps + serves: the dim file
      // guarantees a single-dimension corpus (mixed-dim attempts were
      // 400ed above), so the tick cannot trip and queries never 5xx —
      // a probe of the wrong dimensionality is a 400, not a crash
      graft.sinks.VectorIndexStore.tick(spark, InfluxQLHttp.annIndexDir(store.toString))
      val probed = graft.sinks.VectorIndexStore
        .dimOf(InfluxQLHttp.annIndexDir(store.toString))
        .map(d => (0 until d).map(i => s"0.$i").mkString(","))
        .getOrElse("0.1,0.2")
      val (qc, qb) = http(h.port, "GET", s"/ann/query?probe=$probed&k=3&nprobe=1")
      assert(qc == 200 || qc == 503, s"$qc $qb")
      val (mc, _) = http(h.port, "GET", s"/ann/query?probe=$probed,0.99&k=3&nprobe=1")
      assert(mc == 400 || mc == 503, s"wrong-dim probe must 400, got $mc")
    } finally h.stop()
  }

  test("120 random admin statements over live /query: JSON out, never a 5xx, store stays serviceable") {
    val store = java.nio.file.Files.createTempDirectory("graft-fuzz-admin").toFile
    val h = InfluxQLHttp.startStore(spark, store.toString)
    try {
      val prop = Prop.forAll(genAdmin) { stmt =>
        val (code, body) = http(h.port, "POST", s"/query?q=${enc(stmt)}", Some(""))
        val ok = code < 500 && body.nonEmpty && body.startsWith("{")
        if (!ok) println(s"FUZZ FAILURE on: $stmt -> $code $body")
        ok
      }
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(120), prop)
      assert(res.passed, res.status.toString)
      // integrity probe: the store still takes a write and answers a query
      assert(http(h.port, "POST", "/write",
        Some("probe,alias=ok value=1 1704067200000000000"))._1 == 204)
      val (qc, qb) = http(h.port, "POST",
        s"/query?q=${enc("SELECT value FROM probe")}", Some(""))
      assert(qc == 200 && qb.contains("probe"), s"$qc $qb")
    } finally h.stop()
  }

  test("40 multi-statement batches: one result slot per statement, errors embedded, never a 5xx") {
    val store = java.nio.file.Files.createTempDirectory("graft-fuzz-batch").toFile
    val h = InfluxQLHttp.startStore(spark, store.toString)
    try {
      val genBatch = Gen.choose(2, 4).flatMap(n => Gen.listOfN(n, genAdmin))
      val prop = Prop.forAll(genBatch) { stmts =>
        val q = stmts.mkString("; ")
        val (code, body) = http(h.port, "POST", s"/query?q=${enc(q)}", Some(""))
        val ok = code < 500 && body.startsWith("{")
        if (!ok) println(s"FUZZ FAILURE on batch: $q -> $code ${body.take(200)}")
        ok
      }
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40), prop)
      assert(res.passed, res.status.toString)
    } finally h.stop()
  }

  test("60 hostile line-protocol bodies: 204/400/413 only, then the store still writes and reads") {
    val store = java.nio.file.Files.createTempDirectory("graft-fuzz-lp").toFile
    val h = InfluxQLHttp.startStore(spark, store.toString)
    try {
      val prop = Prop.forAll(genHostileLines) { body =>
        val (code, resp) = http(h.port, "POST", "/write", Some(body))
        val ok = code == 204 || code == 400 || code == 413
        if (!ok) println(s"FUZZ FAILURE on body ${body.take(120).replace("\n", "\\n")} -> $code $resp")
        ok
      }
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(60), prop)
      assert(res.passed, res.status.toString)
      assert(http(h.port, "POST", "/write",
        Some("probe,alias=ok value=2 1704067300000000000"))._1 == 204)
      val (qc, qb) = http(h.port, "POST",
        s"/query?q=${enc("SELECT value FROM probe")}", Some(""))
      assert(qc == 200 && qb.contains("probe"), s"$qc $qb")
    } finally h.stop()
  }
}
