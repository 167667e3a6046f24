package graft.sinks

import java.io.File
import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.file.Files

import graft.SparkTestBase
import graft.influxql.InfluxQLHttp
import org.apache.spark.sql.functions._

/** A crash at any step of a store mutation leaves a store that reopens to
  * exactly the committed points. Each test builds by hand the directories a
  * crash at one step leaves — a partition swap (DELETE, DROP SERIES,
  * compaction, a CQ rollup), a drop (DROP, retention, DROP SHARD) or an
  * append (`/write`, `writePartitioned`) —
  * then reopens the store through `startStore` and checks:
  *  - the point multiset is the one before the mutation, or after it once
  *    it has committed;
  *  - Spark's partition discovery over each measurement sees only ISO days;
  *  - no in-flight state is left on disk;
  *  - a DELETE through the reopened node succeeds and takes its rows.
  */
class PointStoreCrashSpec extends SparkTestBase {

  private val H = 3600L * 1000000000L
  private val t0 = 1704067200000000000L // 2024-01-01T00:00:00Z

  private type Pt = (String, Long, String, Double) // (measurement, ts µs, alias, value)

  /** One append each: plc1 on two days (day 1 in three files), plc2 on day 1. */
  private val appends: Seq[Seq[PointStoreDirect.Point]] = Seq(
    Seq(("plc1", 1L, "a", 1.0), ("plc1", 4L, "b", 2.0)),
    Seq(("plc1", 9L, "a", 3.0)),
    Seq(("plc1", 15L, "b", 4.0), ("plc1", 26L, "a", 5.0), ("plc1", 30L, "b", 6.0)),
    Seq(("plc2", 2L, "c", 7.0), ("plc2", 5L, "c", 8.0))).map(_.map {
      case (m, h, a, v) => PointStoreDirect.Point(t0 + h * H, m, a, v)
    })

  private def pt(p: PointStoreDirect.Point): Pt = (p.measurement, p.tsNs / 1000L, p.alias, p.value)
  private val before: Seq[Pt] = appends.flatten.map(pt).sorted
  private val day1 = "date=2024-01-01"

  private def fresh(): File = {
    val store = Files.createTempDirectory("graft-crash").toFile
    appends.foreach(PointStoreDirect.append(_, store.getPath))
    store
  }

  private def mdir(store: File, m: String) = new File(store, s"measurement=$m")

  private def points(store: File): Seq[Pt] =
    Option(store.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("measurement="))
      .flatMap { d =>
        spark.read.schema(PointStoreDirect.readSchema).parquet(d.getPath)
          .select(unix_micros(col("ts")), col("alias"), col("value")).collect()
          .map(r => (d.getName.stripPrefix("measurement="), r.getLong(0), r.getString(1), r.getDouble(2)))
      }.sorted

  private def days(store: File): Seq[String] =
    Option(store.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("measurement="))
      .flatMap(d => spark.read.parquet(d.getPath).select(col("date").cast("string"))
        .distinct().collect().map(_.getString(0)))

  private def tree(f: File): Seq[File] =
    Option(f.listFiles()).toSeq.flatten.flatMap(c => c +: tree(c))

  /** Names of the in-flight states a mutation leaves on disk. */
  private def inFlight(store: File): Seq[String] = tree(store).map(_.getName).filter(n =>
    n.startsWith(".") && Seq(".next", ".old", ".dropped", ".inprogress").exists(n.endsWith))

  /** Rows of `part` kept by a rewrite that removes alias `a`. */
  private def writeRewrite(part: File, to: File): Unit =
    spark.read.schema(PointStoreDirect.readSchema).parquet(part.getPath)
      .filter(col("alias") =!= "a").select("ts", "alias", "value", "tags")
      .write.parquet(to.getPath)

  private def postQuery(port: Int, q: String): (Int, String) = {
    val conn = new URI(s"http://127.0.0.1:$port/query").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("POST"); conn.setDoOutput(true)
    conn.getOutputStream.write(s"q=${URLEncoder.encode(q, "UTF-8")}".getBytes("UTF-8"))
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = if (is == null) "" else new String(is.readAllBytes(), "UTF-8")
    conn.disconnect()
    (code, body)
  }

  /** Reopen `store` and check it against `expected`. */
  private def reopens(store: File, expected: Seq[Pt]): Unit = {
    val h = InfluxQLHttp.startStore(spark, store.getPath)
    try {
      assert(points(store) == expected.sorted)
      days(store).foreach(d => assert(d.matches("\\d{4}-\\d{2}-\\d{2}"), s"partition date=$d"))
      assert(inFlight(store).isEmpty, s"leftovers after reopen: ${inFlight(store)}")
      // a partial-day DELETE: the first hours of day 1 of plc1 go
      val (c, b) = postQuery(h.port, "DELETE FROM plc1 WHERE time < '2024-01-01T05:00:00Z'")
      assert(c == 200 && !b.contains("error"), b)
      val cut = (t0 + 5 * H) / 1000L
      assert(points(store) == expected.filterNot(p => p._1 == "plc1" && p._2 < cut).sorted)
    } finally h.stop()
  }

  private val afterRewrite: Seq[Pt] =
    before.filterNot(p => p._1 == "plc1" && p._3 == "a" && p._2 < (t0 + 24 * H) / 1000L)

  test("replace: a crash while the new rows are written leaves the old partition") {
    val store = fresh()
    val part = new File(mdir(store, "plc1"), day1)
    val next = new File(mdir(store, "plc1"), s".$day1.next")
    writeRewrite(part, next)
    // half-written: no _SUCCESS, a torn data file, Spark's task staging
    new File(next, "_SUCCESS").delete()
    new File(next, "_temporary/0/task_0").mkdirs()
    Files.write(new File(next, "part-torn.snappy.parquet").toPath, Array[Byte](80, 65, 82, 49))
    reopens(store, before)
  }

  test("replace: a crash with the new rows written but not swapped leaves the old partition") {
    val store = fresh()
    val part = new File(mdir(store, "plc1"), day1)
    writeRewrite(part, new File(mdir(store, "plc1"), s".$day1.next"))
    reopens(store, before)
  }

  test("replace: a crash between the two renames rolls the old partition back") {
    val store = fresh()
    val part = new File(mdir(store, "plc1"), day1)
    writeRewrite(part, new File(mdir(store, "plc1"), s".$day1.next"))
    assert(part.renameTo(new File(mdir(store, "plc1"), s".$day1.old")))
    reopens(store, before)
  }

  test("replace: a crash after the commit rename keeps the new partition") {
    val store = fresh()
    val part = new File(mdir(store, "plc1"), day1)
    val next = new File(mdir(store, "plc1"), s".$day1.next")
    val old = new File(mdir(store, "plc1"), s".$day1.old")
    writeRewrite(part, next)
    assert(part.renameTo(old) && next.renameTo(part))
    reopens(store, afterRewrite)
  }

  test("replace: a crash while the old partition is deleted keeps the new partition") {
    val store = fresh()
    val part = new File(mdir(store, "plc1"), day1)
    val next = new File(mdir(store, "plc1"), s".$day1.next")
    val old = new File(mdir(store, "plc1"), s".$day1.old")
    writeRewrite(part, next)
    assert(part.renameTo(old) && next.renameTo(part))
    old.listFiles().filter(_.getName.endsWith(".parquet")).take(2).foreach(_.delete())
    reopens(store, afterRewrite)
  }

  test("drop: a crash after the commit rename, or while deleting, loses the partition or measurement") {
    val store = fresh()
    val part = new File(mdir(store, "plc1"), day1)
    assert(part.renameTo(new File(mdir(store, "plc1"), s".$day1.dropped")))
    val m2 = mdir(store, "plc2")
    val gone = new File(store, ".measurement=plc2.dropped")
    assert(m2.renameTo(gone))
    new File(gone, day1).listFiles().take(1).foreach(_.delete())
    reopens(store, before.filterNot(p => p._1 == "plc2" || (p._1 == "plc1" && p._2 < (t0 + 24 * H) / 1000L)))
  }

  test("append: a crash while a file is written leaves no trace; a renamed file is committed") {
    val store = fresh()
    val part = new File(mdir(store, "plc1"), day1)
    Files.write(new File(part, ".part-00000000-0000-0000-0000-000000000001.inprogress").toPath,
      Array[Byte](80, 65, 82, 49, 0, 0))
    // a new day's partition created for an append that never finished
    val day3 = new File(mdir(store, "plc1"), "date=2024-01-03")
    day3.mkdirs()
    Files.write(new File(day3, ".part-00000000-0000-0000-0000-000000000002.inprogress").toPath,
      Array[Byte](80, 65, 82, 49))
    // and one that did: its rename is the commit
    val late = PointStoreDirect.Point(t0 + 40 * H, "plc1", "a", 9.0)
    PointStoreDirect.append(Seq(late), store.getPath)
    // a committed append leaves nothing under its temporary name
    assert(!tree(store).exists(_.getName.endsWith(".inprogress.crc")))
    reopens(store, before :+ pt(late))
    assert(!day3.exists(), "an append that never committed leaves no empty partition")
  }

  // A CQ rollup of plc1 into plc1_1h by hour. Its first run, at 03:00 on
  // day 2, commits day 2 of the target with one bucket; the run at the end
  // of day 2 swaps in both of day 2's buckets. Each test crashes that
  // second swap at one step, with the CQ's high-water mark not advanced.
  private val day2 = "date=2024-01-02"
  private val rollup: Seq[Pt] =
    Seq(("plc1_1h", (t0 + 26 * H) / 1000L, "a", 5.0), ("plc1_1h", (t0 + 30 * H) / 1000L, "b", 6.0))

  private def cqStore(): File = {
    val store = fresh()
    graft.influxql.StoreMeta.createCq(store.getPath, graft.influxql.InfluxQLParser.parse(
      "CREATE CONTINUOUS QUERY roll ON db1 BEGIN " +
        "SELECT MEAN(value) AS m INTO plc1_1h FROM plc1 GROUP BY time(1h), alias END")
      .asInstanceOf[graft.influxql.InfluxQLAst.CreateCq])
    val first = graft.influxql.CqRunner.runDue(spark, store.getPath, t0 + 27 * H)
    assert(first.map(_.rows) == Seq(1L), first)
    store
  }

  /** The second run's day 2 of the target, written as its swap writes it. */
  private def writeRollup(to: File): Unit = {
    import spark.implicits._
    rollup.map { case (_, us, a, v) => (new java.sql.Timestamp(us / 1000L), a, v) }
      .toDF("ts", "alias", "value").withColumn("tags", lit(null).cast("string"))
      .write.parquet(to.getPath)
  }

  /** Reopen `store` with the CQ tick on at the end of day 2; after one
    * tick the target holds the uncrashed rollup, each bucket once. */
  private def reopensCq(store: File): Unit = {
    val hi = t0 + 48 * H
    val h = InfluxQLHttp.startStore(spark, store.getPath, nowNs = Some(hi), cqTickSec = Some(1L))
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (!graft.influxql.StoreMeta.cqLastHi(store.getPath, "db1", "roll").contains(hi) &&
        System.currentTimeMillis() < deadline) Thread.sleep(200)
    } finally h.stop()
    assert(graft.influxql.StoreMeta.cqLastHi(store.getPath, "db1", "roll").contains(hi))
    assert(points(store).filter(_._1 == "plc1_1h") == rollup)
    assert(points(store).filter(_._1 != "plc1_1h") == before)
    assert(inFlight(store).isEmpty, s"leftovers after reopen: ${inFlight(store)}")
  }

  test("CQ rollup: a crash with the new day written but not swapped leaves the old day, and the tick redoes it") {
    val store = cqStore()
    writeRollup(new File(mdir(store, "plc1_1h"), s".$day2.next"))
    reopensCq(store)
  }

  test("CQ rollup: a crash between the two renames rolls the old day back, and the tick redoes it") {
    val store = cqStore()
    val part = new File(mdir(store, "plc1_1h"), day2)
    writeRollup(new File(mdir(store, "plc1_1h"), s".$day2.next"))
    assert(part.renameTo(new File(mdir(store, "plc1_1h"), s".$day2.old")))
    reopensCq(store)
  }

  test("CQ rollup: a crash after the commit rename keeps the new day, and the tick redoes it") {
    val store = cqStore()
    val part = new File(mdir(store, "plc1_1h"), day2)
    assert(part.renameTo(new File(mdir(store, "plc1_1h"), s".$day2.old")))
    writeRollup(part)
    reopensCq(store)
  }

  test("a DELETE interrupted under the older __tmp swap reopens to the pre-DELETE points") {
    // the older rewrite wrote `date=X__tmp`, removed `date=X`, then renamed;
    // a crash before the removal left a second, visible copy of the day
    val store = fresh()
    val part = new File(mdir(store, "plc1"), day1)
    writeRewrite(part, new File(mdir(store, "plc1"), s"${day1}__tmp"))
    reopens(store, before)
  }
}
