package graft.sinks

import graft.SparkTestBase
import graft.influxql.InfluxQLPlanner
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** Shared counters for the connection-reuse test (local[*] = one JVM, so
  * executor-side increments are visible to the test).
  */
object ConnStats {
  val opens = new AtomicInteger
  val closes = new AtomicInteger
  val posts = new AtomicInteger
  val bytes = new AtomicInteger
  def reset(): Unit = Seq(opens, closes, posts, bytes).foreach(_.set(0))
}

class CountingFactory(maxPayload: Int) extends LineProtocol.LineConnectionFactory {
  def open(partitionId: Long, epochId: Long): LineProtocol.LineConnection = {
    ConnStats.opens.incrementAndGet()
    new LineProtocol.LineConnection {
      def post(payload: Array[Byte]): Unit = {
        ConnStats.posts.incrementAndGet()
        ConnStats.bytes.addAndGet(payload.length)
      }
      def close(): Unit = ConnStats.closes.incrementAndGet()
    }
  }
}

/** Keeps every payload posted, in order (driven directly, no Spark job). */
class RecordingFactory extends LineProtocol.LineConnectionFactory {
  val payloads = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
  def open(partitionId: Long, epochId: Long): LineProtocol.LineConnection =
    new LineProtocol.LineConnection {
      def post(payload: Array[Byte]): Unit = payloads += payload
      def close(): Unit = ()
    }
}

class LineProtocolSpec extends SparkTestBase {

  test("line format: measurement alias=value tsNs; measurement escaping") {
    import spark.implicits._
    val df = Seq(("plc 1,a", "temp", 21.5, 1704067200000000L))
      .toDF("measurement", "alias", "value", "tsu")
    val line = df.select(
      LineProtocol.lineCol(col("measurement"), col("alias"), col("value"),
        col("tsu") * 1000L).as("line"))
      .as[String].head()
    assert(line === "plc\\ 1\\,a temp=21.50 1704067200000000000")
  }

  test("formatPoints shapes a decoded point frame into lines") {
    import spark.implicits._
    val df = Seq((java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")),
      "plc-1", "t0", 1.25)).toDF("ts", "measurement", "alias", "value")
    val line = LineProtocol.formatPoints(df).as[String].head()
    assert(line === "plc-1 t0=1.25 1704067200000000000")
  }

  /** The column spelling the kernel replaced: five `regexp_replace` escapes
    * and `format_string("%.2f")`, concatenated. The reference for the
    * kernel's byte-for-byte equivalence.
    */
  private def regexLine(m: Column, a: Column, v: Column, ts: Column): Column = {
    def escM(c: Column) = regexp_replace(regexp_replace(c, ",", "\\\\,"), " ", "\\\\ ")
    concat(escM(m), lit(" "), regexp_replace(escM(a), "=", "\\\\="), lit("="),
      format_string("%.2f", v), lit(" "), ts.cast("string"))
  }

  test("property: the line kernel is byte-identical to the regex + format_string spelling") {
    import org.scalacheck.Gen
    val special = Gen.oneOf(0.0, -0.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 0.125, 2.675, 999.995, -0.005, 0.015, 1.005, -2.5,
      Double.MinPositiveValue, 2.2250738585072014e-308, 1e-310, -4.9e-324,
      Double.MaxValue, -Double.MaxValue, 1e15, -1e15, 999999999999999.0,
      -999999999999999.0, 1e15 + 2, 4503599627370497.0, Long.MaxValue.toDouble,
      // the bounds of the kernel's decimal range [1e-3, 1e7), and ties at
      // the third decimal of the shortest digits
      1e-3, -1e-3, Math.nextDown(1e-3), Math.nextUp(1e-3), 1e7, -1e7, Math.nextDown(1e7),
      Math.nextUp(1e7), 0.005, 1.005, 9.995, 9999999.995, -9999999.995, 0.0045, 0.0049999)
    val value = Gen.frequency(
      3 -> special,
      3 -> Gen.chooseNum(-1e6, 1e6),
      2 -> Gen.chooseNum(-1e16, 1e16).map(math.rint),
      2 -> Gen.long.map(java.lang.Double.longBitsToDouble),
      1 -> Gen.chooseNum(-1000, 1000).map(_ / 8.0),
      // float-widened sensor readings, as DecodeS7 gives for S7 REALs
      3 -> Gen.chooseNum(-100000, 100000).map(k => (k / 10.0f).toDouble),
      // every decade of the decimal range, and values with a third decimal 5
      2 -> Gen.zip(Gen.chooseNum(-4.0, 8.0), Gen.oneOf(1.0, -1.0)).map { case (e, s) => s * math.pow(10, e) },
      2 -> Gen.chooseNum(-2000000, 2000000).map(k => (k * 10 + 5) / 1000.0))
    val char = Gen.frequency(6 -> Gen.alphaNumChar,
      4 -> Gen.oneOf(',', ' ', '=', '\\', '.', '-', '_', '"', 'é', '温', '\u00a0'),
      1 -> Gen.const("\ud83d\ude00")) // a surrogate pair: one 4-byte UTF-8 character
    val name = Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, char).map(_.mkString))
    val ts = Gen.frequency(4 -> Gen.chooseNum(0L, 4102444800000000000L),
      1 -> Gen.oneOf(Long.MinValue, Long.MaxValue, -1L, 0L, 9L, 10L), 1 -> Gen.long)
    val rows = Gen.listOfN(4000, Gen.zip(name, name, value, ts))
      .pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(20240101L))
      .map { case (m, a, v, t) => Row(m, a, v, t) }
    val schema = StructType(Seq(StructField("m", StringType), StructField("a", StringType),
      StructField("v", DoubleType), StructField("ts", LongType)))
    // an RDD-backed frame: the projection runs in whole-stage codegen, not
    // folded into a local relation by the optimizer
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    val (m, a, v, t) = (col("m"), col("a"), col("v"), col("ts"))
    // generated code, then the interpreted eval path
    val modes = Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")
    for ((mode, wholeStage) <- modes) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      val got = try df.select(LineProtocol.lineCol(m, a, v, t), regexLine(m, a, v, t)).collect()
        finally Seq("factoryMode", "wholeStage").foreach(k => spark.conf.unset(s"spark.sql.codegen.$k"))
      val bad = got.filterNot(r => java.util.Arrays.equals(
        r.getString(0).getBytes("UTF-8"), r.getString(1).getBytes("UTF-8")))
      assert(got.length == rows.length)
      assert(bad.isEmpty, s"$mode: " + bad.take(3).map(r => s"'${r.getString(0)}' != '${r.getString(1)}'")
        .mkString("; "))
    }
    val plan = df.select(LineProtocol.lineCol(m, a, v, t)).queryExecution.executedPlan
    val stages = plan.collect { case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w }
    assert(stages.exists(_.toString.contains("format_line")),
      s"expected format_line inside a WholeStageCodegen stage in:\n$plan")
  }

  /** Hundredths from the shortest digits alone: `Double.toString`'s integer
    * part and first three decimals, HALF_UP at the third. The reference for
    * the kernel's arithmetic fast path.
    */
  private def digitHundredths(mag: Double): Long = {
    val s = java.lang.Double.toString(mag)
    val dot = s.indexOf('.')
    def frac(k: Int): Int = if (dot + k < s.length) s.charAt(dot + k) - '0' else 0
    s.substring(0, dot).toLong * 100 + frac(1) * 10 + frac(2) + (if (frac(3) >= 5) 1 else 0)
  }

  test("property: the kernel's hundredths equal the shortest digits' HALF_UP rounding") {
    val rnd = new scala.util.Random(20241020L)
    val n = 200000
    // log-uniform over the decimal range [1e-3, 1e7)
    val logUniform = Iterator.fill(n)(math.pow(10, -3 + 10 * rnd.nextDouble()))
    // (k+0.5)/100: the .xx5 boundaries, and up to 4 ulps either side
    val ties = Iterator.fill(n) {
      val k = (rnd.nextDouble() * 1e9).toLong
      var x = (k + 0.5) / 100
      val steps = rnd.nextInt(9) - 4
      (0 until steps.abs).foreach(_ => x = if (steps > 0) Math.nextUp(x) else Math.nextDown(x))
      x
    }
    // one-decimal floats widened to double, as DecodeS7 gives S7 REALs
    val widened = Iterator.fill(n)((rnd.nextInt(100000000) / 10.0f).toDouble)
    val values = (logUniform ++ ties ++ widened).filter(x => x >= 1e-3 && x < 1e7).toVector
    assert(values.size > 2 * n)
    val bad = values.filter(x => LineKernel.hundredths(x) != digitHundredths(x))
    assert(bad.isEmpty, bad.take(3).map(x => s"$x: ${LineKernel.hundredths(x)} != ${digitHundredths(x)}")
      .mkString("; "))
  }

  test("a NULL value gives a NULL line, not the malformed `m a=nu ts`") {
    import spark.implicits._
    val df = Seq(("m", "a", Some(1.0), 5L), ("m", "a", None, 6L)).toDF("m", "a", "v", "ts")
    val lines = df.select(LineProtocol.lineCol(col("m"), col("a"), col("v"), col("ts")))
      .collect().map(r => Option(r.getString(0)))
    assert(lines.toSeq == Seq(Some("m a=1.00 5"), None))
  }

  /** Parse each line with the one parser, keyed by measurement. */
  private def parsed(lines: Seq[String]): Map[String, LineProtocolLocal.Parsed] =
    lines.map(l => LineProtocolLocal.parseLine(l).fold(e => fail(s"'$l': $e"), identity))
      .map(p => p.measurement -> p).toMap

  /** The numeric fields of a parse; non-numeric ones (strings, booleans) map to null. */
  private def nums(p: LineProtocolLocal.Parsed): Map[String, java.lang.Double] =
    p.fields.map(f => f.key -> f.num.map(Double.box).orNull).toMap

  test("parseLines inverts the format: general grammar incl. tags, escapes, missing ts") {
    import spark.implicits._
    val rows = parsed(Seq(
      "cpu,host=a,dc=west usage=0.5,idle=99.1 1704067200000000000",
      "my\\ plc,unit=c temp=21.5 5000",
      "bare value=1.0"))
    val cpu = rows("cpu")
    assert(cpu.tags == Map("host" -> "a", "dc" -> "west"))
    assert(nums(cpu) == Map("usage" -> 0.5, "idle" -> 99.1))
    assert(cpu.tsNs.contains(1704067200000000000L))
    val plc = rows("my plc")                      // escaped space unescaped
    assert(plc.tags == Map("unit" -> "c"))
    assert(nums(plc) == Map("temp" -> 21.5))
    val bare = rows("bare")                       // no tags, no timestamp
    assert(bare.tags.isEmpty)
    assert(bare.tsNs.isEmpty)

    // full round trip through the sink formatter
    val pts = Seq(("m 1", "temp", 3.25, 1704067200000000L))
      .toDF("measurement", "alias", "value", "us")
      .select(col("measurement"), col("alias"), col("value"),
        timestamp_micros(col("us")).as("ts"))
    val back = parsed(LineProtocol.formatPoints(pts).as[String].collect().toSeq)("m 1")
    assert(nums(back) == Map("temp" -> 3.25))
    assert(back.tsNs.contains(1704067200000000000L))
  }

  test("parseLines: escaped tags, quoted string fields, integer i-suffix (full 1.x grammar)") {
    val rows = parsed(Seq(
      // escaped comma/space/equals in tag key and value
      """disk,path\,0=/mnt\ data,k\=1=v\=2 used=10.5 100""",
      // quoted string value holding comma, space, equals, escaped quote;
      // plus an integer field with the i suffix alongside a float
      """log,host=a msg="warn, disk=\" 90%\" full",count=42i,load=0.5 200""",
      // boolean-ish field stays textual, its double view is null
      """flag,host=b ok=true 300"""))

    val disk = rows("disk")
    assert(disk.tags == Map("path,0" -> "/mnt data", "k=1" -> "v=2"))
    assert(nums(disk) == Map("used" -> 10.5))

    val log = rows("log")
    assert(log.fields.map(f => f.key -> f.str).toMap.apply("msg") ==
      """warn, disk=" 90%" full""")
    assert(nums(log).view.filterKeys(_ != "msg").toMap == Map("count" -> 42.0, "load" -> 0.5))
    assert(nums(log)("msg") == null)
    assert(log.tsNs.contains(200L))

    val flag = rows("flag")
    assert(flag.fields.map(f => f.key -> f.str).toMap == Map("ok" -> "true"))
  }

  test("property: parse(formatPoints(point)) == point over hostile names") {
    import spark.implicits._
    // every separator the wire cares about, in measurements and aliases.
    // (A TRAILING backslash is the line protocol's own unrepresentable
    // case — it escapes the following separator and InfluxDB 1.x
    // documents it as unsupported — so it's excluded here too.)
    val nasty = Seq("plain", "with space", "with,comma", "k=v", "a b,c=d",
      "back\\slash", "__two  spaces")
    val pts = (for {
      (m, i) <- nasty.zipWithIndex
      (a, j) <- nasty.zipWithIndex
    } yield (i * 100 + j, m, a, (i * 10 + j) / 4.0, 1704067200000000L + i * 1000L + j))
      .toDF("id", "measurement", "alias", "value", "us")
      .select(col("id"), col("measurement"), col("alias"),
        col("value"), timestamp_micros(col("us")).as("ts"))
    val back = LineProtocol.formatPoints(pts.select("measurement", "alias", "value", "ts"))
      .as[String].collect()
      .map(l => LineProtocolLocal.parseLine(l).fold(e => fail(s"'$l': $e"), identity))
      .map(p => (p.measurement, p.fields.head.key, p.fields.head.num.get, p.tsNs.get / 1000000L))
      .sortBy(t => (t._1, t._2))
    val want = pts.select("measurement", "alias", "value", "ts")
      .collect().map(r => (r.getString(0), r.getString(1),
        // %.2f on the wire: values chosen to be exact at 2 decimals
        r.getDouble(2), r.getTimestamp(3).getTime)).sortBy(t => (t._1, t._2))
    assert(back.length == want.length)
    back.zip(want).foreach { case (b, w) => assert(b == w, s"$b != $w") }
  }

  test("append writes one file per non-empty partition, executor-side, idempotent on replay") {
    import spark.implicits._
    val dir = Files.createTempDirectory("lp_part").toString
    def lpFiles = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".lp")).toSeq.sortBy(_.toString)
    def allLines = lpFiles.flatMap(p => Files.readAllLines(p).asScala)

    val batch = spark.range(100).select(concat(lit("m v="), col("id")).as("line"))
      .repartition(4)
    LineProtocol.append(dir)(batch.toDF(), 7L)
    assert(lpFiles.size === 4, "one file per non-empty partition")
    assert(lpFiles.forall(_.getFileName.toString.startsWith("part-7-")))
    assert(allLines.sorted === (0 until 100).map(i => s"m v=$i").sorted)

    // Replay of the same batchId with a DIFFERENT partition count (a failed
    // attempt may have re-planned): stale files cleared, no duplicates.
    LineProtocol.append(dir)(batch.repartition(2).toDF(), 7L)
    assert(lpFiles.size === 2, "replay clears the stale attempt's files")
    assert(allLines.sorted === (0 until 100).map(i => s"m v=$i").sorted)

    // A different batchId never touches batch 7's files.
    LineProtocol.append(dir)(batch.repartition(3).toDF(), 8L)
    assert(lpFiles.count(_.getFileName.toString.startsWith("part-7-")) === 2)
    assert(lpFiles.count(_.getFileName.toString.startsWith("part-8-")) === 3)
  }

  test("append writes UTF-8 and skips NULL lines: non-ASCII names round-trip through parseLine") {
    import spark.implicits._
    val dir = Files.createTempDirectory("lp_utf8").toString
    val pts = Seq(("Presse-Straße 3,Halle", "Temperatur °C", 21.5, 1704067200000000L),
      ("温度计", "压力=bar", -0.25, 1704067200000001L),
      ("plc", "dropped", Double.NaN, 1704067200000002L))
      .toDF("measurement", "alias", "value", "us")
      .select(col("measurement"), col("alias"),
        // the NaN row stands in for a failed decode: its NULL value must
        // leave no line behind
        when(!isnan(col("value")), col("value")).as("value"), timestamp_micros(col("us")).as("ts"))
    LineProtocol.append(dir)(LineProtocol.formatPoints(pts).coalesce(1), 0L)
    val file = Paths.get(dir, "part-0-0.lp")
    val text = new String(Files.readAllBytes(file), java.nio.charset.StandardCharsets.UTF_8)
    assert(text == "Presse-Straße\\ 3\\,Halle Temperatur\\ °C=21.50 1704067200000000000\n" +
      "温度计 压力\\=bar=-0.25 1704067200000001000\n")
    val parsed = text.split('\n').toSeq.map(l => LineProtocolLocal.parseLine(l).toOption.get)
    assert(parsed.map(_.measurement) == Seq("Presse-Straße 3,Halle", "温度计"))
    assert(parsed.map(_.fields.map(_.key)) == Seq(Seq("Temperatur °C"), Seq("压力=bar")))
  }

  test("HttpLineConnectionFactory streams line protocol to a live /write endpoint") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    // the engine's own InfluxDB-1.x-compatible server is the receiving end:
    // the exact wire call the reference daemons make, no simulation layer
    val store = Files.createTempDirectory("lp_http_store").toString
    val h = graft.influxql.InfluxQLHttp.startStore(spark, store)
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val ms = MemoryStream[(String, Double, Long)]
      ms.addData((1 to 20).map(i => ("temp", 20.0 + i, 1704067200000000L + i * 1000000L)): _*)
      val pts = ms.toDF().toDF("alias", "value", "us")
        .select(lit("plc7").as("measurement"), col("alias"), col("value"),
          timestamp_micros(col("us")).as("ts"))
      val q = LineProtocol.formatPoints(pts)
        .coalesce(1)
        .writeStream
        .foreach(LineProtocol.writer(
          LineProtocol.HttpLineConnectionFactory(s"http://127.0.0.1:${h.port}")))
        .start()
      q.processAllAvailable()
      q.stop()
      // every streamed point is queryable back through the same server
      val rows = InfluxQLPlanner.sqlStore(spark, store,
        "SELECT COUNT(value) AS n, MEAN(value) AS m FROM plc7").collect()
      assert(rows.head.getLong(0) == 20L)
      assert(rows.head.getDouble(1) == 30.5) // mean of 21..40
    } finally h.stop()
  }

  test("writer: one connection per partition per epoch, payloads batched, flush+close on finish") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    ConnStats.reset()
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[String]
    val lines = (0 until 50).map(i => s"m v=$i")
    ms.addData(lines: _*)
    val q = ms.toDF().repartition(5).select(col("value").as("line"))
      .writeStream
      .foreach(LineProtocol.writer(new CountingFactory(32), maxPayload = 32))
      .start()
    q.processAllAvailable()
    q.stop()
    assert(ConnStats.opens.get === 5, "exactly one connection per partition")
    assert(ConnStats.closes.get === ConnStats.opens.get, "every connection closed")
    assert(ConnStats.posts.get > 5, "payloads batched above one-POST-per-partition granularity")
    assert(ConnStats.posts.get < 50, "lines batched into payloads, not one POST per line")
    assert(ConnStats.bytes.get === lines.map(_.length + 1).sum, "every line delivered exactly once")
  }

  test("writer caps every POST at maxPayload UTF-8 bytes, non-ASCII lines included") {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val rnd = new scala.util.Random(53)
    // 3-byte CJK, 2-byte Latin-1, 4-byte surrogate pairs: UTF-16 length
    // undercounts all of them
    val names = Vector("温度", "Druck-ü", "𝔘", "plc_1", "😀😀")
    val lines = (0 until 300).map(i => s"${names(rnd.nextInt(names.length))} v=$i ${i * 1000L}")
    val long = "温" * 40 + " v=1 1" // 126 bytes: longer than the cap, posted alone
    val longBytes = (long + "\n").getBytes(utf8)
    val lone = "plc\uD835 v=2 2" // an unpaired surrogate: UTF-8 encodes it as the 1-byte `?`
    val cap = 64
    val f = new RecordingFactory
    val w = LineProtocol.writer(f, maxPayload = cap)
    w.open(0L, 0L)
    val all = lines.take(150) ++ Seq(long) ++ lines.slice(150, 200) ++ Seq(lone) ++ lines.drop(200)
    all.foreach(l => w.process(Row(l)))
    w.process(Row(null))
    w.close(null)
    val sizes = f.payloads.map(_.length)
    assert(f.payloads.forall(p => p.sameElements(longBytes) || p.length <= cap),
      s"payload over $cap bytes: ${sizes.max}")
    assert(f.payloads.exists(_.sameElements(longBytes)))
    assert(f.payloads.flatten.toArray.sameElements(all.map(_ + "\n").mkString.getBytes(utf8)),
      "every line delivered once, in order")
    assert(sizes.filterNot(_ == longBytes.length).max > cap - 30,
      "payloads are filled up to the cap, not one line each")
  }
}
