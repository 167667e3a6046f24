package graft.tools

import java.net.{HttpURLConnection, URI}

/** Micro-benchmark for the HTTP `/write` ingest hot path — the wire
  * cadence the reference daemon drives (one POST per sample,
  * Linux/InfluxConnector2.py:176). Prints serial single-line POST
  * throughput and batched-line POST throughput as one JSON line, so the
  * before/after of the driver-local write path lands in PERF.md with a
  * measurement, not a guess.
  *
  * Run: sbt 'runMain graft.tools.HttpWriteBench'
  */
object HttpWriteBench {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val store = java.nio.file.Files.createTempDirectory("graft-wbench").toString
    val h = graft.influxql.InfluxQLHttp.startStore(spark, store)
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
      val t0 = 1704067200000000000L
      def line(i: Int): String = s"plcb,alias=t$i value=${i % 100}.5 ${t0 + i * 1000000000L}"

      // warm-up (JIT + first-write store layout)
      (0 until 20).foreach(i => require(post(line(i)) == 204))

      // serial single-line POSTs — the reference daemon's exact shape
      val nSerial = sys.env.getOrElse("WBENCH_SERIAL", "200").toInt
      val s0 = System.nanoTime()
      (0 until nSerial).foreach(i => require(post(line(1000 + i)) == 204))
      val serialSec = (System.nanoTime() - s0) / 1e9

      // concurrent single-line POSTs — many daemons against one node
      // (writes hold the lock's READ side, so they genuinely parallelize)
      val nThreads = sys.env.getOrElse("WBENCH_THREADS", "8").toInt
      val perThread = sys.env.getOrElse("WBENCH_PER_THREAD", "100").toInt
      val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
      val c0 = System.nanoTime()
      val futures = (0 until nThreads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (0 until perThread).foreach(i =>
            require(post(line(10000 + t * perThread + i)) == 204))
        })
      }
      futures.foreach(_.get())
      val concSec = (System.nanoTime() - c0) / 1e9
      pool.shutdown()

      // one batched POST of many lines — the Telegraf shape
      val nBatch = sys.env.getOrElse("WBENCH_BATCH", "20000").toInt
      val batch = (0 until nBatch).map(i => line(100000 + i)).mkString("\n")
      val b0 = System.nanoTime()
      require(post(batch) == 204)
      val batchSec = (System.nanoTime() - b0) / 1e9

      println(s"""{"metric":"http_write","serial_posts":$nSerial,""" +
        s""""serial_sec":${f"$serialSec%.3f"},""" +
        s""""serial_posts_per_sec":${f"${nSerial / serialSec}%.1f"},""" +
        s""""concurrent_threads":$nThreads,"concurrent_posts":${nThreads * perThread},""" +
        s""""concurrent_sec":${f"$concSec%.3f"},""" +
        s""""concurrent_posts_per_sec":${f"${nThreads * perThread / concSec}%.1f"},""" +
        s""""batch_lines":$nBatch,"batch_sec":${f"$batchSec%.3f"},""" +
        s""""batch_lines_per_sec":${f"${nBatch / batchSec}%.0f"}}""")
    } finally {
      h.stop()
      spark.stop()
    }
  }
}
