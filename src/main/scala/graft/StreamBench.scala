package graft

import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import java.nio.file.{Files, Paths}
import java.util.Locale

/** Sustained streaming-throughput benchmark (VERDICT r4 #5): runs the
  * ASSEMBLED reference dataflow — S1 XML catalog scan → S2 simulated
  * device source (the devices grouped into one partition per core,
  * polling the catalog's active tags under their aliases) → D3 native DecodeS7 → P2 point projection → S3
  * batched line-protocol sink (executor-side, batchId-idempotent) — as
  * ONE continuously-triggered StreamingQuery for a fixed wall window, and
  * reports end-to-end rows/s plus micro-batch latency percentiles.
  *
  * This grades the reference's core pipeline as a PIPELINE (sustained
  * admission → decode → enrich → sink throughput, state/checkpoint
  * overhead included), complementing IngestPipelineSpec which checks the
  * same assembly for correctness only.
  *
  * Env knobs: SPARK_GRAFT_STREAM_SECS (wall window, default 60),
  * SPARK_GRAFT_STREAM_PLCS (devices, default 32),
  * SPARK_GRAFT_STREAM_TAGS (tags/device, default 25),
  * SPARK_GRAFT_STREAM_TICKS (source ticks admitted per micro-batch,
  * default 200 → 160k rows/batch at the defaults), SPARK_GRAFT_CPUS.
  *
  * Output: one JSON line on stdout + stream_bench.json (PERF.md table).
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    val secs = sys.env.getOrElse("SPARK_GRAFT_STREAM_SECS", "60").toInt
    val nPlcs = sys.env.getOrElse("SPARK_GRAFT_STREAM_PLCS", "32").toInt
    val nTags = sys.env.getOrElse("SPARK_GRAFT_STREAM_TAGS", "25").toInt
    val ticks = sys.env.getOrElse("SPARK_GRAFT_STREAM_TICKS", "200").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // S1 input: a synthetic catalog document in the reference's XML schema
    // (ConfigApp.py:54-84) — nPlcs devices × nTags active tags each.
    val xml = {
      val plcs = (0 until nPlcs).map { p =>
        val datas = (0 until nTags).map { t =>
          s"<data><data_type>real</data_type><area>DB</area><address>DB1.DBD${t * 4}</address>" +
            s"<alias>plc${p}_tag$t</alias><active>True</active><interval>1s</interval></data>"
        }.mkString
        s"""<plc slot="1">10.0.$p.1$datas</plc>"""
      }.mkString
      s"<communication>$plcs</communication>"
    }

    val outDir = Files.createTempDirectory("graft-streambench-out").toString
    val ckptDir = Files.createTempDirectory("graft-streambench-ckpt").toString

    // Per-micro-batch progress, collected by listener callback.
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)] // (rows, ms)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val ms = Option(p.durationMs.get("triggerExecution")).map(_.toLong).getOrElse(0L)
        batches.synchronized { batches += ((p.numInputRows, ms)) }
      }
    })

    val t0 = System.nanoTime()
    val q = graft.streaming.Pipelines.ingest(spark, xml, outDir, ckptDir,
      trigger = Trigger.ProcessingTime(0L),
      sourceOptions = Map("ticksPerPoll" -> ticks.toString))
    Thread.sleep(secs * 1000L)
    q.stop()
    q.awaitTermination()
    val wallSec = (System.nanoTime() - t0) / 1e9

    val snap = batches.synchronized(batches.toVector).filter(_._1 > 0)
    val totalRows = snap.map(_._1).sum
    val durs = snap.map(_._2).sorted
    def pct(p: Double): Long =
      if (durs.isEmpty) -1L else durs(math.min(durs.size - 1, (p * durs.size).toInt))
    def r1(v: Double): String = String.format(Locale.ROOT, "%.1f", Double.box(v))
    val json =
      s"""{"metric":"stream_rows_per_sec","value":${r1(totalRows / wallSec)},"unit":"rows/sec",""" +
        s""""rows":$totalRows,"wall_sec":${r1(wallSec)},"batches":${snap.size},""" +
        s""""batch_rows":${nPlcs.toLong * nTags * ticks},""" +
        s""""p50_batch_ms":${pct(0.50)},"p95_batch_ms":${pct(0.95)},"max_batch_ms":${if (durs.isEmpty) -1 else durs.last},""" +
        s""""plcs":$nPlcs,"tags_per_plc":$nTags,"ticks_per_poll":$ticks,"cpus":"$cpus"}"""
    println(json)
    Files.writeString(Paths.get("stream_bench.json"), json + "\n")
    spark.stop()
  }
}
