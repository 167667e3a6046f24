package perfbench

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import graft.influxql.{InfluxQLHttp, InfluxQLParser, InfluxQLPlanner, InfluxQLResult}
import graft.sinks.{LineProtocolLocal, PointStoreDirect}

/** PLC daemons and one Grafana dashboard on one HTTP node, `now()`
  * pinned. Every window starts on a fresh node whose store holds one
  * hour of history in one file per partition.
  *
  * `plc_node` is a closed loop with the maintenance tick off: one client
  * sends a fixed number of serial single-sample POSTs, then waits on one
  * `GROUP BY time(1m), alias` panel query, and so on. The timed operation
  * is the panel; throughput is requests served per second of window.
  * `plc_node_open` runs writes as an open loop beside the closed
  * panel loop, with the tick on (compaction under the store write lock):
  * independent daemons POST on a seeded schedule, each write timed from
  * its due time, on at most `cores - 1` threads.
  */
final class PlcNode(c: Main.Conf, in: JsonNode) extends Workload {
  private val nowNs = in.get("now_ns").asLong
  private val openLoop = in.get("open_loop").asBoolean
  private val tickS = in.get("tick_s").asLong
  private val writesPerPanel = in.get("writes_per_panel").asInt
  private val warmRounds = in.get("warmup_rounds").asInt
  private val measurements = in.get("measurements").elements().asScala.map(_.asText).toVector
  private val aliases: Map[String, Set[String]] = measurements.map { m =>
    m -> in.get("aliases").get(m).elements().asScala.map(_.asText).toSet
  }.toMap
  private def strings(n: JsonNode): Vector[String] = n.elements().asScala.map(_.asText).toVector
  /** (due offset in ms from window start, line) */
  private def schedule(n: JsonNode): Vector[(Long, String)] =
    n.elements().asScala.map(e => (e.get(0).asLong, e.get(1).asText)).toVector
  private val history = strings(in.get("history"))
  private val warmPosts = schedule(in.get("warmup_posts"))
  private val posts = if (openLoop) schedule(in.get("posts")) else Vector.empty
  private val writes = if (openLoop) Vector.empty else strings(in.get("posts"))
  private val panels: Vector[(String, String, String)] = in.get("panels").elements().asScala
    .map(p => (p.get("q").asText, p.get("m").asText, p.get("fn").asText)).toVector
  private val probeLines = strings(in.get("probe_lines"))
  private val CompactFiles = 33 // one past the store's compaction threshold (maxFiles = 32)
  // load generator threads: the writers plus the dashboard client stay
  // within the cores Spark leaves free (as many as it uses)
  private val Writers = math.max(1, c.cores - 1)

  private var spark: SparkSession = _
  private var store: java.nio.file.Path = _
  private var handle: InfluxQLHttp.Handle = _
  private var base: String = _
  /** points acked with 204, per measurement */
  private val acked = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()

  private def measurementOf(line: String): String = line.takeWhile(_ != ',')

  def setup(s: SparkSession): Unit = { spark = s; fresh() }

  /** A new node on a new store holding only the history. */
  private def fresh(): Unit = {
    teardown()
    store = Files.createTempDirectory(c.work, "store")
    handle = InfluxQLHttp.startStore(spark, store.toString, nowNs = Some(nowNs),
      cqTickSec = if (tickS > 0) Some(tickS) else None)
    base = s"http://127.0.0.1:${handle.port}"
    acked.clear()
    // the measurements' last hour, one POST per measurement
    history.groupBy(measurementOf).foreach { case (m, ls) =>
      val r = Http.post(s"$base/write?db=plc&precision=ns", ls.mkString("\n"))
      require(r.status == 204, s"history write failed: ${r.status} ${r.body}")
      acked.computeIfAbsent(m, _ => new AtomicInteger).addAndGet(ls.size)
    }
  }

  def teardown(): Unit = if (handle != null) { handle.stop(); handle = null }

  private final case class Write(dueNs: Long, startNs: Long, endNs: Long, ok: Boolean)
  private final case class Panel(ms: Double, ok: Boolean, files: Double)

  /** Parquet files in each `measurement=…/date=…` partition right now. */
  private def partitionFiles(): Seq[Int] =
    Option(store.toFile.listFiles()).toSeq.flatten.filter(_.isDirectory)
      .flatMap(m => Option(m.listFiles()).toSeq.flatten.filter(_.getName.startsWith("date=")))
      .map(p => Option(p.list()).toSeq.flatten.count(_.endsWith(".parquet")))

  /** Validate one panel response: every series is the panel's
    * measurement, grouped by a known alias, with columns time and fn.
    */
  private def panelOk(body: String, m: String, fn: String): Boolean =
    try {
      val series = Main.mapper.readTree(body).get("results").get(0).get("series")
      series != null && series.size > 0 && series.elements().asScala.forall { s =>
        s.get("name").asText == m &&
        aliases(m).contains(s.get("tags").get("alias").asText) &&
        s.get("columns").get(0).asText == "time" && s.get("columns").get(1).asText == fn &&
        s.get("values").size > 0
      }
    } catch { case scala.util.control.NonFatal(_) => false }

  private def queryUrl(q: String): String = s"$base/query?db=plc&epoch=ms&q=${Http.enc(q)}"

  /** Panel `i` of the mix, timed and validated. */
  private def panel(i: Int): Panel = {
    val (q, m, fn) = panels(i % panels.size)
    val files = if (Trace.enabled) Stats.mean(partitionFiles().map(_.toDouble)) else 0.0
    val s0 = System.nanoTime()
    val ok = Trace.span("influxql.http_query", (1L << 40) + i) {
      try { val r = Http.get(queryUrl(q)); r.status == 200 && panelOk(r.body, m, fn) }
      catch { case scala.util.control.NonFatal(_) => false }
    }
    Panel((System.nanoTime() - s0) / 1e6, ok, files)
  }

  /** One single-sample POST, timed from `dueNs`. */
  private def write(line: String, req: Long, dueNs: Long): Write = {
    val s0 = System.nanoTime()
    val ok = Trace.span("influxql.http_write", req) {
      try Http.post(s"$base/write?db=plc&precision=ns", line).status == 204
      catch { case scala.util.control.NonFatal(_) => false }
    }
    if (ok) acked.computeIfAbsent(measurementOf(line), _ => new AtomicInteger).incrementAndGet()
    Write(dueNs, s0, System.nanoTime(), ok)
  }

  /** One round of the closed loop: `writesPerPanel` POSTs, then panel `i`. */
  private def round(i: Int): (Seq[Write], Panel) = {
    val ws = (i * writesPerPanel until (i + 1) * writesPerPanel)
      .map(k => write(writes(k), k + 1L, System.nanoTime()))
    (ws, panel(i))
  }

  private final case class Run(writes: Vector[Write], panels: Vector[Panel], wallS: Double,
      roundCpuMs: Vector[Double], cpuMs: Double)

  /** The closed loop's rounds, each with its CPU ms. */
  private def closedRun(): Run = {
    val t0 = System.nanoTime()
    val rounds = panels.indices.map(i => Cpu.timed(round(i)))
    val cpu = rounds.map(_._2).toVector
    Run(rounds.flatMap(_._1._1).toVector, rounds.map(_._1._2).toVector,
      (System.nanoTime() - t0) / 1e9, cpu, cpu.sum)
  }

  /** Replay `schedule` open-loop while the dashboard client runs panels
    * closed-loop until the last POST has been sent.
    */
  private def run(schedule: Vector[(Long, String)]): Run = {
    val pool = Executors.newFixedThreadPool(Writers)
    val writesDone = new ConcurrentLinkedQueue[Write]()
    val panelsDone = new ConcurrentLinkedQueue[Panel]()
    @volatile var done = false
    val c0 = Cpu.snap()
    val t0 = System.nanoTime()
    val reader = new Thread(() => {
      var i = 0
      while (!done) { panelsDone.add(panel(i)); i += 1 }
    }, "dashboard")
    reader.start()
    schedule.zipWithIndex.foreach { case ((offMs, line), i) =>
      val due = t0 + offMs * 1000000L
      val wait = due - System.nanoTime()
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      pool.execute(() => writesDone.add(write(line, i + 1L, due)))
    }
    done = true
    pool.shutdown()
    pool.awaitTermination(120, TimeUnit.SECONDS)
    reader.join()
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuMs = Cpu.ms(c0, Cpu.snap())
    val ps = panelsDone.asScala.toVector
    // no per-round figure in the open loop: each panel's share of the window
    Run(writesDone.asScala.toVector, ps, wallS, Vector(cpuMs / math.max(1, ps.size)), cpuMs)
  }

  /** The open loop warms up on its own schedule. The closed loop runs
    * `warmRounds` of its window's rounds, on a fresh node for each pass
    * through the window.
    */
  def warmup(): Unit =
    if (openLoop) run(warmPosts): Unit
    else (0 until warmRounds).foreach { i =>
      if (i % panels.size == 0) fresh()
      val (_, cpuMs) = Cpu.timed(round(i % panels.size))
      Main.mark(f"round $i cpu $cpuMs%.0f ms")
    }

  def measure(probe: SparkProbe): Pass = {
    fresh()
    probe.quiesce()
    val s0 = probe.snapshot()
    val r = if (openLoop) run(posts) else closedRun()
    val (ws, ps, wall) = (r.writes, r.panels, r.wallS)
    probe.quiesce()
    val d = SparkProbe.delta(s0, probe.snapshot())
    val writeMs = ws.map(w => (w.endNs - w.dueNs) / 1e6)
    val panelMs = ps.map(_.ms)
    val layers = SparkProbe.perOp(d, ps.size, wall, c.cores) ++ Map(
      "influxql.query_p75_ms" -> Stats.pct(panelMs, 0.75),
      "influxql.write_p50_ms" -> Stats.median(writeMs),
      "influxql.write_p99_ms" -> Stats.pct(writeMs, 0.99),
      "influxql.write_late_p99_ms" -> Stats.pct(ws.map(w => (w.startNs - w.dueNs) / 1e6), 0.99),
      "sinks.files_per_partition" -> Stats.mean(ps.map(_.files)))
    Pass(panelMs, r.roundCpuMs, ws.count(_.ok) + ps.count(_.ok), wall, r.cpuMs / 1000.0,
      ws.size + ps.size,
      ws.count(!_.ok) + ps.count(!_.ok), layers)
  }

  /** `SELECT COUNT(value)` per measurement equals the points acked. */
  def check(): (Int, Int) = {
    val failed = acked.asScala.count { case (m, n) =>
      val r = Http.get(queryUrl(s"""SELECT COUNT(value) FROM "$m""""))
      val got = try Main.mapper.readTree(r.body).get("results").get(0).get("series")
          .get(0).get("values").get(0).get(0).asLong
        catch { case scala.util.control.NonFatal(_) => -1L }
      if (got != n.get)
        System.err.println(s"[plc_node] $m: COUNT $got != acked ${n.get}: ${r.body.take(300)}")
      got != n.get
    }
    (acked.size, failed)
  }

  /** Direct calls beside their HTTP twins on the quiescent node, then a
    * direct `compact` of a store copy holding the window's file count.
    */
  def layers(probe: SparkProbe): Map[String, Double] = {
    if (tickS > 0) Thread.sleep(tickS * 1000L + 500L) // let a pending compaction tick finish
    Trace.enabled = true
    val httpMs = Vector.newBuilder[Double]
    val directMs = Vector.newBuilder[Double]
    panels.indices.take(24).foreach { i =>
      val (q, _, _) = panels(i)
      val h0 = System.nanoTime()
      Trace.span("influxql.http_query", (2L << 40) + i) { Http.get(queryUrl(q)) }
      httpMs += (System.nanoTime() - h0) / 1e6
      val d0 = System.nanoTime()
      Trace.span("influxql.direct_query", (3L << 40) + i) {
        val sts = Trace.span("influxql.parse")(InfluxQLParser.parseAll(q))
        val cat = Trace.span("influxql.catalog")(InfluxQLPlanner.Catalog.store(store.toString))
        Trace.span("influxql.render") {
          InfluxQLResult.renderAll(spark, store.toString, sts, Some(nowNs), cat,
            InfluxQLResult.DefaultMaxRows, Some("ms"))
        }
      }
      directMs += (System.nanoTime() - d0) / 1e6
      Trace.span("influxql.plan", (4L << 40) + i) {
        InfluxQLPlanner.sqlStore(spark, store.toString, q, Some(nowNs)).queryExecution.executedPlan
      }
    }
    val httpW = Vector.newBuilder[Double]
    val directW = Vector.newBuilder[Double]
    val parseUs = Vector.newBuilder[Double]
    probeLines.zipWithIndex.foreach { case (line, i) =>
      val h0 = System.nanoTime()
      if (Http.post(s"$base/write?db=plc&precision=ns", line).status == 204)
        acked.computeIfAbsent(measurementOf(line), _ => new AtomicInteger).incrementAndGet()
      httpW += (System.nanoTime() - h0) / 1e6
      val d0 = System.nanoTime()
      Trace.span("sinks.direct_write", (5L << 40) + i) {
        val p0 = System.nanoTime()
        val p = Trace.span("sinks.lp_parse")(LineProtocolLocal.parseLine(line)).toOption.get
        parseUs += (System.nanoTime() - p0) / 1e3
        val pt = PointStoreDirect.Point(p.tsNs.get, p.measurement, p.tags("alias"),
          p.fields.head.num.get, None)
        Trace.span("sinks.append")(PointStoreDirect.append(Seq(pt), store.toString))
        acked.computeIfAbsent(p.measurement, _ => new AtomicInteger).incrementAndGet()
      }
      directW += (System.nanoTime() - d0) / 1e6
    }
    // compaction of a copy: the store as it is now plus enough one-point
    // files per partition to cross the compaction threshold, as a tick
    // in the window finds it
    val copy = Files.createTempDirectory(c.work, "store-copy")
    copyTree(store, copy)
    val p = LineProtocolLocal.parseLine(probeLines.head).toOption.get
    measurements.foreach { m =>
      (0 until CompactFiles).foreach { k =>
        PointStoreDirect.append(Seq(PointStoreDirect.Point(p.tsNs.get + k + 1, m,
          p.tags("alias"), k.toDouble, None)), copy.toString)
      }
    }
    val bytesBefore = measurements.map(m => m -> parquetBytes(copy.resolve(s"measurement=$m"))).toMap
    val c0 = System.nanoTime()
    val compacted = Trace.span("sinks.compact", 6L << 40) {
      PointStoreDirect.compact(spark, copy.toString)
    }
    val compactMs = (System.nanoTime() - c0) / 1e6
    val rewritten = measurements.filter(m => compacted.exists(_.contains(s"measurement=$m/")))
      .map(bytesBefore).sum
    Trace.enabled = false
    val spans = Trace.all
    val hq = Stats.median(httpMs.result())
    val dq = Stats.median(directMs.result())
    Map(
      "influxql.parse_ms" -> Trace.medianMs(spans, "influxql.parse"),
      "influxql.catalog_ms" -> Trace.medianMs(spans, "influxql.catalog"),
      "influxql.plan_ms" -> Trace.medianMs(spans, "influxql.plan"),
      "influxql.render_ms" -> Trace.medianMs(spans, "influxql.render"),
      "influxql.http_query_overhead_ms" -> (hq - dq),
      "influxql.http_write_overhead_ms" ->
        (Stats.median(httpW.result()) - Stats.median(directW.result())),
      "sinks.lp_parse_us_per_line" -> Stats.median(parseUs.result()),
      "sinks.append_ms" -> Trace.medianMs(spans, "sinks.append"),
      "sinks.compact_ms_per_partition" -> compactMs / math.max(1, compacted.size),
      "sinks.compact_bytes_rewritten" -> rewritten.toDouble)
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  private def parquetBytes(root: java.nio.file.Path): Long = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).map(Files.size).sum
    finally s.close()
  }
}
