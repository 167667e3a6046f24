package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One measured window of a workload: the wall latencies and the CPU
  * cost (`Cpu`) of its timed operations, the work items it completed in
  * `wallS` seconds and `cpuS` CPU seconds, the operations it attempted
  * and failed, and its per-layer numbers.
  */
final case class Pass(opMs: Seq[Double], opCpuMs: Seq[Double], items: Double, wallS: Double,
    cpuS: Double, attempted: Int, failed: Int, layers: Map[String, Double] = Map.empty) {
  def endToEnd: Map[String, Double] = Map(
    "cpu_ms_per_op" -> Stats.median(opCpuMs),
    "items_per_cpu_s" -> (if (cpuS > 0) items / cpuS else 0.0))
  /** Wall-clock figures: reported per layer, since host CPU steal moves
    * them by more than any bound (see README).
    */
  def wall: Map[String, Double] = Map(
    "wall.p50_ms" -> Stats.median(opMs),
    // p75, not p90: a run times only 5 to 24 operations (see README)
    "wall.p75_ms" -> Stats.pct(opMs, 0.75),
    "wall.throughput_per_s" -> (if (wallS > 0) items / wallS else 0.0))
}

/** CPU time the JVM's threads ran: task, driver, stream, server and
  * client threads. The JIT compiler and GC threads are not Java threads
  * and are left out, and the kernel leaves out the time the hypervisor
  * stole from a virtual CPU, so the figure counts the work done rather
  * than how busy the host was.
  */
object Cpu {
  private val tm = ManagementFactory.getThreadMXBean
  type Snap = Map[Long, Long]
  def snap(): Snap = {
    val ids = tm.getAllThreadIds
    ids.iterator.zip(ids.iterator.map(tm.getThreadCpuTime)).filter(_._2 > 0).toMap
  }
  /** CPU ms between two snapshots; a thread started in between counts
    * from zero, one that ended in between is lost.
    */
  def ms(a: Snap, b: Snap): Double =
    b.iterator.map { case (id, ns) => ns - a.getOrElse(id, 0L) }.filter(_ > 0).sum / 1e6
  /** `body`'s result and the CPU ms it took. */
  def timed[T](body: => T): (T, Double) = {
    val a = snap()
    val r = body
    (r, ms(a, snap()))
  }
}

/** A workload drives the program only through its public entry points. */
trait Workload {
  /** Build the workload's state on a fresh session; timed as set-up. */
  def setup(spark: SparkSession): Unit
  def teardown(): Unit
  /** A fixed amount of work on the window's mix before the window, so
    * that the JIT has compiled the hot paths, and every run's window
    * starts at the same point of that compilation.
    */
  def warmup(): Unit
  def measure(probe: SparkProbe): Pass
  /** Output checks after the window: (attempted, failed). */
  def check(): (Int, Int)
  /** Traced run only: direct calls into the layers, after the checks. */
  def layers(probe: SparkProbe): Map[String, Double]
}

/** Benchmark process: `perfbench.Main <conf.json>...`. Sets the workload
  * up `SetupRounds` times (the first from JVM start) and takes the median
  * CPU time of the later rounds, warms up, measures one window (or, with
  * tracing, untraced, traced and untraced windows), runs the output
  * checks and writes the result JSON named in the configuration.
  */
object Main {
  val mapper = new ObjectMapper()
  val SetupRounds = 4

  final case class Conf(workload: String, seconds: Int, trace: Boolean,
      cores: Int, work: Path, inputs: Path, out: Path)

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // bounded status bookkeeping, so retained heap does not grow with
      // the number of operations a run happens to complete
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.streaming.ui.retainedBatches", "20")
      .config("spark.sql.streaming.numRecentProgressUpdates", "20")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def makeWorkload(c: Conf, in: JsonNode): Workload = c.workload match {
    case "plc_node" | "plc_node_open" => new PlcNode(c, in)
    case "stream_ingest"  => new StreamIngest(c, in)
    case "trainset_batch" => new TrainsetBatch(c, in)
    case other            => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Every per-layer metric the traced run prints; a layer the workload
    * does not touch did no work and reads 0.
    */
  val LayerMetrics: Seq[String] = Seq(
    "influxql.parse_ms", "influxql.catalog_ms", "influxql.plan_ms", "influxql.render_ms",
    "influxql.http_query_overhead_ms", "influxql.http_write_overhead_ms",
    "influxql.query_p75_ms", "influxql.write_p50_ms",
    "influxql.write_p99_ms", "influxql.write_late_p99_ms",
    "influxql.self_ms",
    "sinks.lp_parse_us_per_line", "sinks.append_ms", "sinks.files_per_partition",
    "sinks.compact_ms_per_partition", "sinks.compact_bytes_rewritten",
    "sinks.bytes_written_per_row", "sinks.self_ms",
    "streaming.latest_offset_ms", "streaming.get_batch_ms", "streaming.query_planning_ms",
    "streaming.add_batch_ms", "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
    "streaming.trigger_other_ms", "streaming.rows_per_s_1core",
    "spark.analysis_ms", "spark.optimization_ms", "spark.planning_ms",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.scheduler_delay_ms", "spark.busy_share",
    "spark.scan_files", "spark.scan_bytes", "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes", "spark.spill_bytes",
    "queries.documents_scans", "queries.self_ms", "tables.load_ms", "tables.self_ms",
    "jvm.gc_ms_per_s", "jvm.heap_peak_mb", "jvm.codecache_mb",
    "wall.p50_ms", "wall.p75_ms", "wall.throughput_per_s",
    "trace.cpu_ms_per_op_overhead", "trace.items_per_cpu_s_overhead", "trace.wall_p50_overhead_ms")

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Run `window` with JVM accounting around it: GC ms per second of
    * window, peak heap in the window, code cache at its end.
    */
  def withJvm(window: => Pass): (Pass, Map[String, Double]) = {
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs
    val t0 = System.nanoTime()
    val p = window
    val wall = (System.nanoTime() - t0) / 1e9
    val jvm = Map(
      "jvm.gc_ms_per_s" -> (gcMs - gc0) / wall,
      "jvm.heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
      "jvm.codecache_mb" -> ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1048576.0)
    (p, jvm)
  }

  /** Used heap after explicit full collections, with pauses between them
    * so Spark's context cleaner can drop what the first one freed.
    */
  def heapLiveMb(): Double = {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(150) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private val t0Ms = ManagementFactory.getRuntimeMXBean.getStartTime
  /** Phase marks on stderr (the run's jvm.log), seconds since JVM start. */
  def mark(phase: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - t0Ms) / 1e3}%.2f s $phase")

  /** Each configuration in turn: a measured run takes one, the build's
    * class-data archive run (see build.py) one per workload.
    */
  def main(args: Array[String]): Unit = args.foreach(runConf)

  private def runConf(confPath: String): Unit = {
    val jvmStartMs = t0Ms
    val j = mapper.readTree(Files.readString(Paths.get(confPath)))
    val c = Conf(j.get("workload").asText, j.get("seconds").asInt,
      j.get("trace").asBoolean, j.get("cores").asInt, Paths.get(j.get("work").asText),
      Paths.get(j.get("inputs").asText), Paths.get(j.get("out").asText))
    val in = mapper.readTree(c.inputs.resolve("inputs.json").toFile)

    // set-up, SetupRounds times: process start → ready, then the rest
    // from a stopped context; the median CPU time of the rounds after
    // the first (which also loads the classes) is the set-up time
    val setupWallS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val setupCpuS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var w: Workload = null
    for (i <- 0 until SetupRounds) {
      val t0 = System.nanoTime()
      val (_, cpuMs) = Cpu.timed {
        spark = session(c.cores, c.work)
        w = makeWorkload(c, in)
        w.setup(spark)
      }
      setupWallS += (if (i == 0) (System.currentTimeMillis() - jvmStartMs) / 1e3
                     else (System.nanoTime() - t0) / 1e9)
      if (i > 0) setupCpuS += cpuMs / 1e3
      if (i < SetupRounds - 1) { w.teardown(); spark.stop() }
      mark(s"set-up round $i")
    }
    mark("set-up done")
    val probe = new SparkProbe(spark)
    w.warmup()
    mark("warm-up done")

    val e2e = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var attempted = 0
    var failed = 0
    var opMs: Seq[Double] = Nil
    var opCpuMs: Seq[Double] = Nil
    val wall = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (!c.trace) {
      val p = w.measure(probe)
      opMs = p.opMs
      opCpuMs = p.opCpuMs
      e2e ++= p.endToEnd
      e2e("heap_live_mb") = heapLiveMb()
      wall ++= p.wall
      attempted += p.attempted; failed += p.failed
    } else {
      // untraced, traced, untraced: the overhead is the traced window
      // minus the mean of the two around it, so warm-up drift cancels
      val before = w.measure(probe)
      Trace.enabled = true
      val (p, jvm) = withJvm(w.measure(probe))
      Trace.enabled = false
      val after = w.measure(probe)
      opMs = p.opMs
      opCpuMs = p.opCpuMs
      e2e ++= p.endToEnd
      e2e("heap_live_mb") = heapLiveMb()
      wall ++= p.wall
      Seq(before, p, after).foreach { q => attempted += q.attempted; failed += q.failed }
      layers ++= p.layers ++ jvm ++ p.wall
      def overhead(f: Pass => Map[String, Double], k: String) =
        f(p)(k) - (f(before)(k) + f(after)(k)) / 2
      layers("trace.cpu_ms_per_op_overhead") = overhead(_.endToEnd, "cpu_ms_per_op")
      layers("trace.items_per_cpu_s_overhead") = overhead(_.endToEnd, "items_per_cpu_s")
      layers("trace.wall_p50_overhead_ms") = overhead(_.wall, "wall.p50_ms")
    }
    mark("window done")
    e2e("setup_s") = Stats.median(setupCpuS.toSeq)
    val out = Main.mapper.createObjectNode()
    val info = out.putObject("info")
    info.put("jvm_flags", ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.mkString(" "))
    info.put("spark_master", spark.sparkContext.master)
    info.put("shuffle_partitions", spark.conf.get("spark.sql.shuffle.partitions"))
    info.put("setup_wall_s", setupWallS.map(v => f"$v%.3f").mkString(","))
    info.put("setup_cpu_s", setupCpuS.map(v => f"$v%.3f").mkString(","))
    info.put("op_ms", opMs.map(v => f"$v%.1f").mkString(","))
    info.put("op_cpu_ms", opCpuMs.map(v => f"$v%.1f").mkString(","))
    wall.foreach { case (k, v) => info.put(k, v) }
    val (ca, cf) = w.check()
    attempted += ca; failed += cf
    mark("checks done")
    if (c.trace) {
      layers ++= w.layers(probe)
      val spans = Trace.all
      Trace.write(c.work.resolve("spans.jsonl"), spans)
      // self time per traced operation (request) of each layer
      val ops = math.max(1, spans.map(_.req).distinct.count(_ != 0L))
      Trace.selfMsByLayer(spans).foreach { case (l, ms) =>
        if (LayerMetrics.contains(s"$l.self_ms")) layers(s"$l.self_ms") = ms / ops
      }
    }
    w.teardown()

    val m = out.putObject("end_to_end")
    e2e.foreach { case (k, v) => m.put(k, v) }
    val l = out.putObject("per_layer")
    LayerMetrics.foreach(k => l.put(k, layers.getOrElse(k, 0.0)))
    out.put("attempted", attempted)
    out.put("failed", failed)
    Files.writeString(c.out, mapper.writeValueAsString(out))
    spark.stop()
    mark("stopped")
  }
}
