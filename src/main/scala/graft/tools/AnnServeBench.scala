package graft.tools

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

/** Serving-side SLO micro-benchmark for the ANN front door (r12, VERDICT
  * r11 #2 + #6): measures what the endpoints actually deliver —
  *
  *  - `/ann/query` latency p50/p95, serial and under concurrent load
  *    (the centroid cache keyed by the commit-swap generation means no
  *    per-request centroids parquet read);
  *  - `/ann/write` ingest throughput, serial and concurrent single-vector
  *    POSTs/s plus one batched POST (the three shapes `/write` reports);
  *  - staleness-window behavior under sustained write load WITH the
  *    daemon tick running: max observed `stale` count, and how long the
  *    window takes to drain back to zero once load stops.
  *
  * Prints one JSON line for PERF.md. Corpus size/dim are env-tunable
  * (ANN_SEED / ANN_DIM) so the same tool runs the 200k-vector sf10-scale
  * index. Run ALONE — concurrent JVMs distort latency tails.
  *
  * Run: sbt 'runMain graft.tools.AnnServeBench'
  */
object AnnServeBench {

  def main(args: Array[String]): Unit = {
    val dim = sys.env.getOrElse("ANN_DIM", "32").toInt
    val nSeed = sys.env.getOrElse("ANN_SEED", "20000").toInt
    val nSerialQ = sys.env.getOrElse("ANN_SERIAL_Q", "200").toInt
    val nThreads = sys.env.getOrElse("ANN_THREADS", "8").toInt
    val perThreadQ = sys.env.getOrElse("ANN_PER_THREAD_Q", "50").toInt
    val nSerialW = sys.env.getOrElse("ANN_SERIAL_W", "200").toInt
    val perThreadW = sys.env.getOrElse("ANN_PER_THREAD_W", "100").toInt
    val sustainSec = sys.env.getOrElse("ANN_SUSTAIN_SEC", "15").toInt

    val spark = graft.GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val rng = new scala.util.Random(42)
    def vec(): Array[Float] = Array.fill(dim)(rng.nextFloat() * 2f - 1f)
    def line(id: Long, v: Array[Float]): String =
      s"$id ${v.map(x => f"$x%.4f").mkString(",")}"

    val store = java.nio.file.Files.createTempDirectory("graft-annbench").toString
    val h = graft.influxql.InfluxQLHttp.startStore(spark, store, cqTickSec = Some(2))
    try {
      def post(path: String, body: String): Int = {
        val conn = new URI(s"http://127.0.0.1:${h.port}$path").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes(StandardCharsets.UTF_8))
        val code = conn.getResponseCode
        conn.disconnect()
        code
      }
      def get(path: String): (Int, String) = {
        val conn = new URI(s"http://127.0.0.1:${h.port}$path").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        val code = conn.getResponseCode
        val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
        val body = new String(is.readAllBytes(), StandardCharsets.UTF_8)
        conn.disconnect()
        (code, body)
      }
      val probeV = vec()
      val probeStr = probeV.map(x => f"$x%.4f").mkString(",")
      def queryPath = s"/ann/query?probe=$probeStr&k=10&nprobe=3"
      def staleOf(body: String): Long = {
        val m = """"stale":(\d+)""".r.findFirstMatchIn(body)
        m.map(_.group(1).toLong).getOrElse(-1L)
      }

      // ---- seed the corpus in batched POSTs, then wait for the tick build
      var id = 0L
      val batches = (0 until nSeed).map(_ => { id += 1; line(id, vec()) })
        .grouped(5000).toSeq
      val seed0 = System.nanoTime()
      batches.foreach(b => require(post("/ann/write", b.mkString("\n")) == 204))
      val seedSec = (System.nanoTime() - seed0) / 1e9
      var built = false
      val bw0 = System.nanoTime()
      while (!built && (System.nanoTime() - bw0) < 900e9) {
        val (code, _) = get(queryPath)
        if (code == 200) built = true else Thread.sleep(500)
      }
      require(built, "index never built")
      val buildWaitSec = (System.nanoTime() - bw0) / 1e9

      def pct(xs: Seq[Double], p: Double): Double = {
        val s = xs.sorted
        s(math.min(s.size - 1, (p * s.size).toInt))
      }

      // ---- query latency, serial (warm: the centroid cache is hot after
      // the first request of a generation)
      (0 until 20).foreach(_ => require(get(queryPath)._1 == 200))
      val serialLat = (0 until nSerialQ).map { _ =>
        val t0 = System.nanoTime()
        require(get(queryPath)._1 == 200)
        (System.nanoTime() - t0) / 1e6
      }

      // ---- query latency under concurrent load
      val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
      val lats = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
      val qf = (0 until nThreads).map { _ =>
        pool.submit(new Runnable {
          def run(): Unit = (0 until perThreadQ).foreach { _ =>
            val t0 = System.nanoTime()
            require(get(queryPath)._1 == 200)
            lats.add((System.nanoTime() - t0) / 1e6)
          }
        })
      }
      qf.foreach(_.get())
      import scala.jdk.CollectionConverters._
      val concLat = lats.asScala.map(_.doubleValue).toSeq

      // ---- batch query: 100 probes per POST, amortized per-probe latency
      val nBatchProbes = 100
      val r2 = new scala.util.Random(7)
      val batchBody = (0 until nBatchProbes).map { i =>
        val v = Array.fill(dim)(r2.nextFloat() * 2f - 1f)
        s"$i ${v.map(x => f"$x%.4f").mkString(",")}"
      }.mkString("\n")
      def postQuery(): Int = {
        val conn = new URI(s"http://127.0.0.1:${h.port}/ann/query?k=10&nprobe=3")
          .toURL.openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.getOutputStream.write(batchBody.getBytes(StandardCharsets.UTF_8))
        val code = conn.getResponseCode
        conn.getInputStream.readAllBytes(): Unit
        conn.disconnect()
        code
      }
      require(postQuery() == 200) // warm
      val bq0 = System.nanoTime()
      val bqReps = 5
      (0 until bqReps).foreach(_ => require(postQuery() == 200))
      val batchQuerySec = (System.nanoTime() - bq0) / 1e9
      val probesPerSec = nBatchProbes * bqReps / batchQuerySec

      // ---- /ann/write ingest: serial single-vector POSTs
      val w0 = System.nanoTime()
      (0 until nSerialW).foreach { _ =>
        id += 1; require(post("/ann/write", line(id, vec())) == 204)
      }
      val wSerialSec = (System.nanoTime() - w0) / 1e9

      // ---- concurrent single-vector POSTs (thread-local vector gen: the
      // shared rng is not thread-safe)
      val idGen = new java.util.concurrent.atomic.AtomicLong(id)
      val c0 = System.nanoTime()
      val wf = (0 until nThreads).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val r = new scala.util.Random(1000 + t)
            (0 until perThreadW).foreach { _ =>
              val v = Array.fill(dim)(r.nextFloat() * 2f - 1f)
              require(post("/ann/write", line(idGen.incrementAndGet(), v)) == 204)
            }
          }
        })
      }
      wf.foreach(_.get())
      val wConcSec = (System.nanoTime() - c0) / 1e9

      // ---- sustained write load with ticks running: staleness window
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val written = new java.util.concurrent.atomic.AtomicLong(0)
      val sf = (0 until nThreads).map { t =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val r = new scala.util.Random(2000 + t)
            while (!stop.get()) {
              val v = Array.fill(dim)(r.nextFloat() * 2f - 1f)
              require(post("/ann/write", line(idGen.incrementAndGet(), v)) == 204)
              written.incrementAndGet()
            }
          }
        })
      }
      var maxStale = 0L
      val su0 = System.nanoTime()
      while ((System.nanoTime() - su0) < sustainSec * 1e9) {
        val (code, body) = get(queryPath)
        require(code == 200)
        maxStale = math.max(maxStale, staleOf(body))
        Thread.sleep(500)
      }
      stop.set(true)
      sf.foreach(_.get())
      val sustainedWrites = written.get()
      // drain: ticks fold the delta away; report how long until stale == 0
      var drainSec = -1.0
      val d0 = System.nanoTime()
      while (drainSec < 0 && (System.nanoTime() - d0) < 300e9) {
        val (code, body) = get(queryPath)
        if (code == 200 && staleOf(body) == 0) drainSec = (System.nanoTime() - d0) / 1e9
        else Thread.sleep(500)
      }
      pool.shutdown()

      println(s"""{"metric":"ann_serve","dim":$dim,"seeded":$nSeed,""" +
        s""""seed_batched_vecs_per_sec":${f"${nSeed / seedSec}%.0f"},""" +
        s""""build_wait_sec":${f"$buildWaitSec%.1f"},""" +
        s""""query_serial_n":$nSerialQ,""" +
        s""""query_p50_ms":${f"${pct(serialLat, 0.5)}%.1f"},""" +
        s""""query_p95_ms":${f"${pct(serialLat, 0.95)}%.1f"},""" +
        s""""query_conc_threads":$nThreads,""" +
        s""""query_conc_p50_ms":${f"${pct(concLat, 0.5)}%.1f"},""" +
        s""""query_conc_p95_ms":${f"${pct(concLat, 0.95)}%.1f"},""" +
        s""""batch_probes_per_post":$nBatchProbes,""" +
        s""""batch_probes_per_sec":${f"$probesPerSec%.0f"},""" +
        s""""write_serial_posts_per_sec":${f"${nSerialW / wSerialSec}%.1f"},""" +
        s""""write_conc_posts_per_sec":${f"${nThreads * perThreadW / wConcSec}%.1f"},""" +
        s""""sustain_sec":$sustainSec,"sustained_writes":$sustainedWrites,""" +
        s""""max_stale":$maxStale,"drain_sec":${f"$drainSec%.1f"}}""")
    } finally {
      h.stop()
      spark.stop()
    }
  }
}
