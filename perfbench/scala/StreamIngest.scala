package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.streaming.Pipelines

/** The assembled ingest chain through `Pipelines.ingest`: XML catalog →
  * `S7SimSource` → `DecodeS7` → broadcast enrichment → line-protocol file
  * sink, triggered back to back. The timed operation is one micro-batch
  * (`triggerExecution`); a run measures a fixed number of batches after a
  * fixed number of warm-up batches, never a wall window.
  */
final class StreamIngest(c: Main.Conf, in: JsonNode) extends Workload {
  private val xml = in.get("catalog_xml").asText
  private val ticks = in.get("ticks_per_batch").asInt
  private val warmBatches = in.get("warmup_batches").asInt
  private val batches = in.get("batches").asInt
  private val RestartWarmBatches = 2

  /** A reported batch; `cpu` is a `Cpu` snapshot taken as its report
    * arrived, so the CPU between two reports is the later batch's.
    */
  private final case class Batch(dir: Path, id: Long, rows: Long, startMs: Long,
      dur: Map[String, Long], cpu: Cpu.Snap)

  private var spark: SparkSession = _
  private var query: StreamingQuery = _
  private val progress = new java.util.concurrent.LinkedBlockingQueue[Batch]()
  private val seen = scala.collection.mutable.ArrayBuffer.empty[Batch]
  private var listener: StreamingQueryListener = _

  /** Start the chain into a fresh sink and checkpoint, with a progress
    * listener that tags each batch with its sink directory.
    */
  private def begin(s: SparkSession): Unit = {
    val dir = Files.createTempDirectory(c.work, "lp-out")
    val ckpt = Files.createTempDirectory(c.work, "ckpt")
    progress.clear()
    listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0)
          progress.put(Batch(dir, p.batchId, p.numInputRows,
            java.time.Instant.parse(p.timestamp).toEpochMilli,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, Cpu.snap()))
      }
    }
    s.streams.addListener(listener)
    query = Pipelines.ingest(s, xml, dir.toString, ckpt.toString,
      trigger = Trigger.ProcessingTime(0L), sourceOptions = Map("ticksPerPoll" -> ticks.toString))
  }

  def setup(s: SparkSession): Unit = { spark = s; begin(s) }

  def teardown(): Unit = if (query != null) {
    query.stop(); query.awaitTermination(); query = null
    spark.streams.removeListener(listener)
  }

  /** The next `n` batches with input, in order. */
  private def take(n: Int): Vector[Batch] = Vector.fill(n) {
    val b = progress.poll(120, java.util.concurrent.TimeUnit.SECONDS)
    require(b != null, s"stream_ingest: no batch within 120 s (${query.exception})")
    seen.lastOption.foreach { a =>
      Main.mark(f"batch ${b.id} wall ${b.dur("triggerExecution")} ms cpu ${Cpu.ms(a.cpu, b.cpu)}%.0f ms")
    }
    seen += b
    b
  }

  def warmup(): Unit = take(warmBatches): Unit

  private def phaseLayers(bs: Seq[Batch]): Map[String, Double] = {
    def med(k: String): Double = Stats.median(bs.map(_.dur.getOrElse(k, 0L).toDouble))
    val parts = Seq("latestOffset" -> "streaming.latest_offset_ms",
      "getBatch" -> "streaming.get_batch_ms", "queryPlanning" -> "streaming.query_planning_ms",
      "addBatch" -> "streaming.add_batch_ms", "walCommit" -> "streaming.wal_commit_ms",
      "commitOffsets" -> "streaming.commit_offsets_ms")
    val other = Stats.median(bs.map { b =>
      (b.dur.getOrElse("triggerExecution", 0L) - parts.map(p => b.dur.getOrElse(p._1, 0L)).sum).toDouble
    })
    parts.map { case (k, name) => name -> med(k) }.toMap + ("streaming.trigger_other_ms" -> other)
  }

  def measure(probe: SparkProbe): Pass = {
    // every window runs on a restarted query: fresh sink and checkpoint,
    // the same few batches to get going
    teardown()
    begin(spark)
    take(RestartWarmBatches)
    // the query never idles: drop reports of batches that finished since
    // the warm-up; the next report opens the window, which starts with
    // the batch after it
    progress.clear()
    val open = take(1).head
    val s0 = probe.snapshot()
    val bs = take(batches)
    teardown() // the window ends with the last measured batch
    probe.quiesce()
    val d = SparkProbe.delta(s0, probe.snapshot())
    val rows = bs.map(_.rows).sum.toDouble
    val spanS = (bs.last.startMs + bs.last.dur("triggerExecution") - bs.head.startMs) / 1000.0
    val cpuMs = (open +: bs).sliding(2).map { case Seq(a, b) => Cpu.ms(a.cpu, b.cpu) }.toVector
    Pass(bs.map(_.dur("triggerExecution").toDouble), cpuMs, rows, spanS, cpuMs.sum / 1000.0,
      bs.size, 0,
      SparkProbe.perOp(d, bs.size, spanS, c.cores) ++ phaseLayers(bs))
  }

  private def sinkFiles(b: Batch): Seq[Path] = {
    val s = Files.list(b.dir)
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith(s"part-${b.id}-")).toVector
    finally s.close()
  }

  /** Rows in the sink output equal the sum of `numInputRows` over every
    * reported batch (all catalog tags are active, every register decodes).
    */
  def check(): (Int, Int) = {
    val reported = seen.toVector
    val lines = reported.map(b => sinkFiles(b).map(p => Files.lines(p).count()).sum).sum
    val expected = reported.map(_.rows).sum
    if (lines != expected)
      System.err.println(s"[stream_ingest] sink lines $lines != numInputRows $expected")
    (1, if (lines == expected) 0 else 1)
  }

  /** Bytes per sunk row, and the same chain on a one-core session. */
  def layers(probe: SparkProbe): Map[String, Double] = {
    val reported = seen.toVector
    val bytes = reported.flatMap(b => sinkFiles(b)).map(Files.size).sum.toDouble
    val bytesPerRow = bytes / math.max(1L, reported.map(_.rows).sum)
    probe.detach()
    spark.stop()
    val one = Main.session(1, c.work)
    try {
      spark = one
      begin(one)
      take(math.max(2, warmBatches / 4))
      val bs = take(math.max(3, batches / 4))
      val spanS = (bs.last.startMs + bs.last.dur("triggerExecution") - bs.head.startMs) / 1000.0
      teardown()
      Map("sinks.bytes_written_per_row" -> bytesPerRow,
        "streaming.rows_per_s_1core" -> bs.map(_.rows).sum / spanS)
    } finally one.stop()
  }
}
