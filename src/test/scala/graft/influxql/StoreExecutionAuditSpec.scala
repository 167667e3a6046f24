package graft.influxql

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkTestBase
import graft.sinks.{PointStoreDirect, StoreLayout}
import graft.sinks.PointStoreDirect.Point

/** What a point-store statement EXECUTES. A panel whose selected day
  * partitions fit in `spark.sql.files.openCostInBytes` runs as one job of
  * one task with no Exchange, its filters still at the scan; above the
  * bound the distributed plan returns, and both render the same JSON.
  * DELETE / DROP SERIES with a tag predicate rewrite only the days that
  * hold a matching point.
  */
class StoreExecutionAuditSpec extends SparkTestBase {

  private val S = 1000000000L
  private def ns(ts: String): Long = InfluxQLParser.parseTimeNs(ts)
  private val nowNs = ns("2024-01-02 11:00:00")
  private val panel =
    """SELECT mean("value") FROM "plc" WHERE time >= now() - 15m GROUP BY time(1m), "alias""""
  private val statements = Seq(
    panel,
    """SELECT "value" FROM "plc" WHERE time >= now() - 15m ORDER BY time DESC LIMIT 7""",
    """SELECT last("value") FROM "plc" WHERE time >= now() - 15m AND time < now() GROUP BY time(1m), "alias" fill(previous)""",
    """SHOW TAG VALUES FROM "plc" WITH KEY = "alias" WHERE time >= now() - 15m""")

  /** One hour of `plc` on 2024-01-02 in three files: alias `a` every 10 s,
    * `b` every 10 s but not in minutes divisible by 4 (gaps to fill). */
  private def today(store: String): Unit = {
    val t0 = ns("2024-01-02 10:00:00")
    val pts = (0 until 360).flatMap { i =>
      val t = t0 + i * 10 * S
      Point(t, "plc", "a", i.toDouble) +:
        (if ((i / 6) % 4 == 0) Nil else Seq(Point(t, "plc", "b", 1000.0 - i)))
    }
    pts.grouped(250).foreach(PointStoreDirect.append(_, store))
  }

  private lazy val small: String = {
    val store = java.nio.file.Files.createTempDirectory("store-exec-small").toString
    today(store)
    store
  }

  /** `small`'s day, after a 2024-01-01 whose files alone exceed the bound:
    * 80,000 points, each tagged with 64 random hex digits. */
  private lazy val withHistory: String = {
    val store = java.nio.file.Files.createTempDirectory("store-exec-history").toString
    val rnd = new scala.util.Random(7)
    val t0 = ns("2024-01-01 00:00:00")
    PointStoreDirect.append((0 until 80000).map { i =>
      Point(t0 + i * S, "plc", "a", rnd.nextDouble(),
        PointStoreDirect.canonicalTags(Map("k" -> Seq.fill(64)(rnd.nextInt(16).toHexString).mkString)))
    }, store)
    today(store)
    store
  }

  private def bytes(store: String, date: String): Long =
    StoreLayout.dataFiles(StoreLayout.partitionDir(store, "plc", date)).map(_.length()).sum

  /** Drain the (asynchronous) listener bus; it is private[spark]. */
  private def drain(): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  private final case class Run(json: String, jobs: Int, stages: Int, tasks: Int, plans: Seq[SparkPlan])

  /** Render `q` over `store` as the HTTP node does, counting what runs. */
  private def run(store: String, q: String): Run = {
    val (jobs, stages, tasks) = (new AtomicInteger, new AtomicInteger, new AtomicInteger)
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet(): Unit
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet(): Unit
    }
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val executions = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan): Unit
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    drain()
    spark.sparkContext.addSparkListener(counter)
    spark.listenerManager.register(executions)
    try {
      val json = InfluxQLResult.render(spark, store, q, Some(nowNs),
        InfluxQLPlanner.Catalog.store(store))
      drain()
      Run(json, jobs.get, stages.get, tasks.get, plans.asScala.toSeq)
    } finally {
      spark.listenerManager.unregister(executions)
      spark.sparkContext.removeSparkListener(counter)
    }
  }

  /** `body` with files opening at one byte: every store is above the bound. */
  private def distributed[T](body: => T): T = {
    val key = "spark.sql.files.openCostInBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Every node of an executed plan, through adaptive stages and reused
    * exchanges. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec        => nodes(q.plan)
      case r: ReusedExchangeExec    => nodes(r.child)
      case _                        => Seq.empty
    }
    p +: (inner ++ p.children.flatMap(nodes))
  }

  private def exchanges(r: Run): Seq[SparkPlan] =
    r.plans.flatMap(nodes).filter(_.isInstanceOf[Exchange])

  private def oneTask(r: Run): Unit = {
    assert(r.json.contains(""""series":[{"""), r.json)
    assert((r.jobs, r.stages, r.tasks) == ((1, 1, 1)),
      s"jobs, stages, tasks:\n${r.plans.mkString("\n")}")
    assert(exchanges(r).isEmpty, r.plans.mkString("\n"))
  }

  test("a panel over a small store runs as one job, one stage, one task, filters at the scan") {
    val r = run(small, panel)
    oneTask(r)
    val scans = r.plans.flatMap(nodes).collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1 && scans.head.selectedPartitions.partitionCount == 1)
    val meta = scans.head.metadata
    assert(meta("PartitionFilters").contains("date") &&
      meta("PushedFilters").contains("GreaterThanOrEqual(ts,"), meta)
    // three files in the day: without the coalesce the scan is three tasks
    assert(StoreLayout.dataFiles(StoreLayout.partitionDir(small, "plc", "2024-01-02")).size == 3)
  }

  test("earlier days above the bound leave a panel over a small day in one task") {
    val bound = spark.sessionState.conf.filesOpenCostInBytes
    assert(bytes(withHistory, "2024-01-01") > bound && bytes(withHistory, "2024-01-02") <= bound)
    oneTask(run(withHistory, panel))
    // a statement that selects the big day is planned distributed
    assert(exchanges(run(withHistory,
      """SELECT mean("value") FROM "plc" GROUP BY time(1h), "alias" fill(none)""")).nonEmpty)
  }

  test("below the bound of spark.sql.files.openCostInBytes the hash Exchange returns") {
    val r = distributed(run(small, panel))
    assert(exchanges(r).exists(_.toString.contains("hashpartitioning")), r.plans.mkString("\n"))
    assert(r.tasks > 1)
  }

  test("one-task and distributed plans render byte-identical JSON") {
    statements.foreach { q =>
      val one = run(small, q)
      val dist = distributed(run(small, q))
      // fill's grid join broadcasts its buckets, which is no shuffle
      assert(!exchanges(one).exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"$q\n${one.plans.mkString("\n")}")
      assert(one.json.contains(""""series":[{"""), s"$q: ${one.json}")
      assert(one.json == dist.json, q)
    }
  }

  test("GROUP BY time truncates pre-1970 points toward zero, as SQL div does") {
    val store = java.nio.file.Files.createTempDirectory("store-exec-1969").toString
    val pts = Seq(-150L, -90L, -45L, -15L, 20L, 75L).map(s => s * S)
    PointStoreDirect.append(pts.map(Point(_, "plc", "a", 1.0)), store)
    val got = InfluxQLPlanner.sqlStore(spark, store,
      """SELECT count("value") AS n FROM "plc" WHERE time >= '1969-12-31 23:50:00' """ +
        """AND time < '1970-01-01 00:10:00' GROUP BY time(1m) fill(none)""")
    val byBucket = got.collect().map(r => (r.get(0).toString, r.getLong(1))).toMap
    val b = 60L * S
    val want = pts.groupBy(t => (t / b) * b).map { case (t, ps) =>
      (java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(t, S), 0, java.time.ZoneOffset.UTC)
        .toString.replace('T', ' '), ps.size.toLong)
    }
    assert(byBucket.map { case (k, v) => (k.take(16), v) } == want.map { case (k, v) => (k.take(16), v) },
      s"$byBucket vs $want")
  }

  test("DELETE and DROP SERIES with a tag predicate rewrite only the days that match") {
    val store = java.nio.file.Files.createTempDirectory("store-exec-delete").toString
    val days = Seq("2024-01-01", "2024-01-02", "2024-01-03")
    days.zipWithIndex.foreach { case (d, i) =>
      val t = ns(s"$d 12:00:00")
      PointStoreDirect.append(Seq(Point(t, "plc", "a", 1.0), Point(t + S, "plc", "b", 2.0)) ++
        (if (i == 1) Seq(Point(t + 2 * S, "plc", "x", 3.0)) else Nil) ++
        (if (i == 2) Seq(Point(t + 2 * S, "plc", "y", 4.0)) else Nil), store)
    }
    def files(d: String): Seq[String] =
      StoreLayout.dataFiles(StoreLayout.partitionDir(store, "plc", d)).map(_.getName).sorted
    def aliases(): Seq[String] = spark.read.schema(PointStoreDirect.readSchema)
      .parquet(StoreLayout.measurementDir(store, "plc").getPath)
      .select("alias").collect().map(_.getString(0)).toSeq.sorted
    val before = days.map(d => d -> files(d)).toMap

    val (dropped, rewritten) = InfluxQLPlanner.delete(spark, "DELETE FROM plc WHERE alias = 'x'", store)
    assert(dropped.isEmpty &&
      rewritten == Seq(StoreLayout.partitionDir(store, "plc", "2024-01-02").getPath))
    assert(files("2024-01-01") == before("2024-01-01") && files("2024-01-03") == before("2024-01-03"))
    assert(files("2024-01-02") != before("2024-01-02"))

    val (d2, r2) = InfluxQLPlanner.dropSeries(spark, "DROP SERIES FROM plc WHERE alias = 'y'", store)
    assert(d2.isEmpty && r2 == Seq(StoreLayout.partitionDir(store, "plc", "2024-01-03").getPath))
    assert(files("2024-01-01") == before("2024-01-01"))
    assert(aliases() == Seq("a", "a", "a", "b", "b", "b"))

    // a tag no point carries rewrites nothing
    assert(InfluxQLPlanner.delete(spark, "DELETE FROM plc WHERE alias = 'none'", store) == ((Nil, Nil)))
    assert(new File(StoreLayout.measurementDir(store, "plc"), "date=2024-01-01").isDirectory)
  }
}
