package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

import graft.streaming.Pipelines

/** Ingest→alert latency for the live monitors (r11, VERDICT r10 #8):
  * deadman (T12), streaming CUSUM (T14) and the mixture-drift monitor
  * (T17), each fed MemoryStream micro-batches of `SPARK_GRAFT_ALERT_LOAD`
  * background rows (default 20k — the StreamBench-scale batch) with one
  * alert-triggering condition per round.
  *
  * The reported figure is the ALERT-BATCH TURNAROUND: wall-clock from
  * offering the micro-batch that makes the alert due (for CUSUM that is
  * the batch carrying the drift sample; for deadman/mixture the batch
  * whose watermark advance closes the silence/window) to the alert row
  * being visible in the sink — the latency an operator's panel observes
  * on top of the trigger cadence. p50/p95/max over
  * `SPARK_GRAFT_ALERT_ROUNDS` rounds (default 12).
  *
  * Output: one JSON line on stdout (PERF.md table).
  */
object AlertLatency {

  private case class Stat(p50: Long, p95: Long, max: Long, alerts: Long)

  private def pct(sorted: Seq[Long], p: Double): Long =
    sorted((p * (sorted.size - 1)).round.toInt)

  private def stat(ms: Seq[Long], alerts: Long): Stat = {
    val s = ms.sorted
    Stat(pct(s, 0.50), pct(s, 0.95), s.last, alerts)
  }

  def main(args: Array[String]): Unit = {
    val load = sys.env.getOrElse("SPARK_GRAFT_ALERT_LOAD", "20000").toInt
    val rounds = sys.env.getOrElse("SPARK_GRAFT_ALERT_ROUNDS", "12").toInt
    val spark = graft.GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val t0 = 1704067200000L // 2024-01-01T00:00Z

    // ---- T14 streaming CUSUM: the drift sample alarms in ITS OWN batch --
    val cusumMs = {
      val ms = MemoryStream[(Long, Long, Timestamp, Double)]
      val q = Pipelines.cusumAlerts(
          ms.toDF().toDF("event_id", "user_id", "ts", "value"))
        .writeStream.format("memory").queryName("lat_cusum").outputMode("append").start()
      def alerts() = spark.table("lat_cusum").count()
      val lat = (0 until rounds).map { r =>
        val base = (0 until load).map { i =>
          val id = (r.toLong * load + i) * 2
          (id, (i % 500).toLong, new Timestamp(t0 + r * 60000L + i), 50.0)
        }
        val drift = (9e15.toLong + r, 9000L + r, new Timestamp(t0 + r * 60000L + load), 160.0)
        val before = alerts()
        val start = System.nanoTime()
        ms.addData(base :+ drift)
        q.processAllAvailable()
        val elapsed = (System.nanoTime() - start) / 1000000L
        require(alerts() == before + 1, s"cusum round $r: alert not visible")
        elapsed
      }
      q.stop()
      stat(lat, alerts())
    }

    // ---- T12 deadman: silence fires when a later batch's watermark passes
    // last_seen + gap — measure the turnaround of the FIRING batch --------
    val deadmanMs = {
      val ms = MemoryStream[(Long, Timestamp)]
      val q = Pipelines.deadman(
          ms.toDF().toDF("user_id", "ts"), gapMs = 60000L, watermark = "30 seconds")
        .writeStream.format("memory").queryName("lat_deadman").outputMode("append").start()
      def alerts() = spark.table("lat_deadman").count()
      // warm-up + steady state: each round r feeds 500 live series at
      // t0 + r·120s AND one canary (id 7000+r) that then goes silent; the
      // canary from round r−1 fires in round r (watermark t0+120r−30 >
      // canary_last + 60).
      var lastAlerts = 0L
      val lat = scala.collection.mutable.ArrayBuffer.empty[Long]
      for (r <- 0 until rounds + 1) {
        val ts = t0 + r * 120000L
        val rows = (0 until load).map(i =>
          ((i % 500).toLong, new Timestamp(ts + i % 1000))) :+
          ((7000L + r, new Timestamp(ts)))
        val before = alerts()
        val start = System.nanoTime()
        ms.addData(rows)
        q.processAllAvailable()
        val elapsed = (System.nanoTime() - start) / 1000000L
        if (r > 0) {
          require(alerts() > before, s"deadman round $r: canary ${7000 + r - 1} did not fire")
          lat += elapsed
        }
        lastAlerts = alerts()
      }
      q.stop()
      stat(lat.toSeq, lastAlerts)
    }

    // ---- T17 mixture monitor: a window closes (and its drift rows emit)
    // in the batch whose watermark passes window end ----------------------
    val mixtureMs = {
      val ms = MemoryStream[(Timestamp, String, Long)]
      val q = Pipelines.mixtureMonitor(
          ms.toDF().toDF("ts", "source", "n_tokens"),
          targets = Map("web" -> 0.5, "code" -> 0.5), tol = 0.2,
          windowMs = 60000L, watermark = "30 seconds")
        .writeStream.format("memory").queryName("lat_mixture").outputMode("append").start()
      def drifted() = spark.table("lat_mixture").filter(col("drifted")).count()
      var lastAlerts = 0L
      val lat = scala.collection.mutable.ArrayBuffer.empty[Long]
      for (r <- 0 until rounds + 2) {
        val w = t0 + r * 60000L
        // every window is SKEWED (web-only) → its close emits drift rows.
        // A round's rows reach ts w+19999, so the watermark (−30 s) passes
        // window r's end only in round r+2 — that batch fires the close.
        val rows = (0 until load).map(i => (new Timestamp(w + i % 60000), "web", 100L))
        val before = drifted()
        val start = System.nanoTime()
        ms.addData(rows)
        q.processAllAvailable()
        val elapsed = (System.nanoTime() - start) / 1000000L
        if (r > 1) {
          require(drifted() > before, s"mixture round $r: window close emitted no drift")
          lat += elapsed
        }
        lastAlerts = drifted()
      }
      q.stop()
      stat(lat.toSeq, lastAlerts)
    }

    // ---- T22 histogram-quantile monitor: a tail shift moves p99 in ITS
    // OWN batch; steady-state batches (same distribution) emit nothing ----
    val histMs = {
      val ms = MemoryStream[(String, Double)]
      val q = Pipelines.histQuantileMonitor(
          ms.toDF().toDF("event_type", "value"))
        .writeStream.format("memory").queryName("lat_hist").outputMode("append").start()
      def emits() = spark.table("lat_hist").count()
      val lat = (0 until rounds).map { r =>
        val g = s"m$r"
        // settle this round's series (first estimate emits here, untimed)
        ms.addData((0 until load).map(i => (g, (i % 100) * 26.0)))
        q.processAllAvailable()
        // the timed batch: background + a 20% tail burst that moves p99
        // by whole bins — the alerting micro-batch turnaround
        val bg = (0 until load).map(i => (g, (i % 100) * 26.0))
        val tail = (0 until load / 5).map(i => (g, 50000.0 + i % 10))
        val before = emits()
        val start = System.nanoTime()
        ms.addData(bg ++ tail)
        q.processAllAvailable()
        val elapsed = (System.nanoTime() - start) / 1000000L
        require(emits() == before + 1, s"hist round $r: p99 shift not visible")
        elapsed
      }
      q.stop()
      stat(lat, emits())
    }

    def j(name: String, s: Stat) =
      s""""$name":{"p50_ms":${s.p50},"p95_ms":${s.p95},"max_ms":${s.max},"alerts":${s.alerts}}"""
    println(s"""{"metric":"alert_latency","load_rows_per_batch":$load,"rounds":$rounds,""" +
      s"""${j("cusum_t14", cusumMs)},${j("deadman_t12", deadmanMs)},""" +
      s"""${j("mixture_t17", mixtureMs)},${j("hist_t22", histMs)}}""")
    spark.stop()
  }
}
