package graft

/** Runnable HTTP front door — the deployment shape of the reference's
  * InfluxDB 1.7 node (ref README.md:13-14): one process serving `/query`,
  * `/write`, and `/ping` over a measurement+date-partitioned point store.
  * A Grafana InfluxDB datasource pointed at this port works unchanged, and
  * the reference's daemons could POST their line protocol here verbatim.
  *
  * {{{
  *   sbt "runMain graft.Serve /path/to/store [port] [--auth user:pass] [--cq-tick sec] [--jwt-secret s]"
  * }}}
  *
  * `--auth` enables InfluxDB 1.x authentication/RBAC (u/p params or Basic;
  * the pair is the admin root, catalog users via CREATE USER); `--cq-tick`
  * starts the co-located maintenance daemon (registered continuous
  * queries materialize rollups every n seconds, and per-POST small files
  * compact away); `--jwt-secret` adds InfluxDB 1.x shared-secret bearer
  * auth beside u/p. The store may start empty (a
  * `/write` creates the first measurement); `/query` re-resolves the
  * catalog per request. On a cluster the same object runs on the driver
  * with `master` set by spark-submit.
  */
object Serve {
  def main(args: Array[String]): Unit = {
    val (flags, positional) = {
      var rest = args.toList
      var auth: Option[(String, String)] = None
      var tick: Option[Long] = None
      var jwt: Option[String] = None
      val pos = List.newBuilder[String]
      while (rest.nonEmpty) rest match {
        case "--auth" :: v :: t =>
          auth = v.split(":", 2) match {
            case Array(u, p) => Some((u, p))
            case _ => throw new IllegalArgumentException("--auth needs user:pass")
          }
          rest = t
        case "--cq-tick" :: v :: t => tick = Some(v.toLong); rest = t
        case "--jwt-secret" :: v :: t => jwt = Some(v); rest = t
        case h :: t => pos += h; rest = t
        case Nil => ()
      }
      ((auth, tick, jwt), pos.result())
    }
    val storeDir = positional.headOption.getOrElse(
      throw new IllegalArgumentException(
        "usage: graft.Serve <storeDir> [port] [--auth user:pass] [--cq-tick sec] [--jwt-secret s]"))
    val port = positional.lift(1).map(_.toInt).getOrElse(8086)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(storeDir))
    val builder = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    sys.env.get("SPARK_MASTER").foreach(builder.master) // deployment: a cluster master
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val handle = graft.influxql.InfluxQLHttp.startStore(spark, storeDir, port,
      auth = flags._1, cqTickSec = flags._2, jwtSecret = flags._3)
    println(s"SERVING port=${handle.port} store=$storeDir" +
      flags._1.fold("")(a => s" auth=${a._1}") +
      flags._2.fold("")(s => s" cq-tick=${s}s"))
    // serve until killed; the JDK server runs on its own threads
    Thread.currentThread().join()
  }
}
