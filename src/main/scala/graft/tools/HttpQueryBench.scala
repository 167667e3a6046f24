package graft.tools

import java.net.{HttpURLConnection, URI}

/** Micro-benchmark for the HTTP `/query` read hot path — the Grafana
  * dashboard cadence (every panel refresh fires a small aggregate query;
  * a dashboard fires a BATCH of them in one `q=` parameter). Prints
  * serial, 8-thread concurrent, and panel-batch throughput as one JSON
  * line so query-side regressions land in PERF.md as measurements.
  *
  * Run: sbt 'runMain graft.tools.HttpQueryBench'
  */
object HttpQueryBench {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val store = java.nio.file.Files.createTempDirectory("graft-qbench").toString
    val h = graft.influxql.InfluxQLHttp.startStore(spark, store)
    try {
      def post(path: String, body: String): Int = {
        val conn = new URI(s"http://127.0.0.1:${h.port}$path").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("POST")
        conn.setDoOutput(true)
        conn.getOutputStream.write(body.getBytes("UTF-8"))
        val code = conn.getResponseCode
        conn.disconnect()
        code
      }
      def get(q: String): String = {
        val enc = java.net.URLEncoder.encode(q, "UTF-8")
        val conn = new URI(s"http://127.0.0.1:${h.port}/query?db=plc&q=$enc").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        val code = conn.getResponseCode
        require(code == 200, s"query failed: $code for $q")
        val out = new String(conn.getInputStream.readAllBytes(), "UTF-8")
        conn.disconnect()
        out
      }

      // seed: 20 series × 2,000 points each (one batched write)
      val t0 = 1704067200000000000L
      val lines = for (s <- 0 until 20; i <- 0 until 2000)
        yield s"plcb,alias=t$s value=${(s * 7 + i) % 100}.5 ${t0 + i * 1000000000L}"
      require(post("/write?db=plc", lines.mkString("\n")) == 204)

      val panel = "SELECT MEAN(value) FROM plcb WHERE time >= '2024-01-01' GROUP BY time(1m), alias"
      // warm-up (JIT, store listing, plan caches)
      (0 until 5).foreach(_ => get(panel))

      // serial panel refreshes
      val nSerial = sys.env.getOrElse("QBENCH_SERIAL", "40").toInt
      val s0 = System.nanoTime()
      (0 until nSerial).foreach(_ => get(panel))
      val serialSec = (System.nanoTime() - s0) / 1e9

      // concurrent refreshes — several dashboards against one node
      val nThreads = sys.env.getOrElse("QBENCH_THREADS", "8").toInt
      val perThread = sys.env.getOrElse("QBENCH_PER_THREAD", "10").toInt
      val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
      val c0 = System.nanoTime()
      val futures = (0 until nThreads).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (0 until perThread).foreach(_ => get(panel))
        })
      }
      futures.foreach(_.get())
      val concSec = (System.nanoTime() - c0) / 1e9
      pool.shutdown()

      // one dashboard refresh: 8 panels batched into a single q=
      val dash = (0 until 8).map { p =>
        s"SELECT MEAN(value), MAX(value) FROM plcb WHERE alias = 't$p' GROUP BY time(5m)"
      }.mkString("; ")
      val d0 = System.nanoTime()
      val nDash = sys.env.getOrElse("QBENCH_DASH", "10").toInt
      (0 until nDash).foreach(_ => get(dash))
      val dashSec = (System.nanoTime() - d0) / 1e9

      println(s"""{"metric":"http_query","points":${lines.size},""" +
        s""""serial_queries":$nSerial,"serial_sec":${f"$serialSec%.3f"},""" +
        s""""serial_qps":${f"${nSerial / serialSec}%.1f"},""" +
        s""""concurrent_threads":$nThreads,"concurrent_queries":${nThreads * perThread},""" +
        s""""concurrent_sec":${f"$concSec%.3f"},""" +
        s""""concurrent_qps":${f"${nThreads * perThread / concSec}%.1f"},""" +
        s""""dashboards":$nDash,"panels_per_dashboard":8,""" +
        s""""dash_sec":${f"$dashSec%.3f"},""" +
        s""""panels_per_sec":${f"${nDash * 8 / dashSec}%.1f"}}""")
    } finally {
      h.stop()
      spark.stop()
    }
  }
}
