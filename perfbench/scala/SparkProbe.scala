package perfbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters gathered through Spark's public listener APIs: a
  * `SparkListener` for job/stage/task work and a `QueryExecutionListener`
  * for Catalyst phase times and the scans of each executed plan. Counters
  * only grow; a workload snapshots them around its measured window.
  */
final class SparkProbe(spark: SparkSession) {
  private val jobsStarted = new AtomicLong
  private val jobsEnded = new AtomicLong
  private val lastEventNs = new AtomicLong(System.nanoTime())
  private val c = Array.fill(SparkProbe.Keys.size)(new DoubleAdder)
  private def add(k: String, v: Double): Unit = c(SparkProbe.Keys.indexOf(k)).add(v)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobsStarted.incrementAndGet(); lastEventNs.set(System.nanoTime())
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      add("jobs", 1); jobsEnded.incrementAndGet(); lastEventNs.set(System.nanoTime())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEventNs.set(System.nanoTime())
      add("tasks", 1)
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        add("executor_run_ms", m.executorRunTime.toDouble)
        add("shuffle_read_bytes",
          (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead).toDouble)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        if (info != null && info.finishTime > 0) {
          // the Spark UI's scheduler delay: task wall minus the parts the
          // executor accounts for
          val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
          add("scheduler_delay_ms", math.max(0L, delay).toDouble)
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def phase(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      add("analysis_ms", phase("analysis"))
      add("optimization_ms", phase("optimization"))
      add("planning_ms", phase("planning"))
      val scans = SparkProbe.scans(qe.executedPlan)
      add("scan_files", scans.map(s => metric(s, "numFiles")).sum)
      add("scan_bytes", scans.map(s => metric(s, "filesSize")).sum)
      add("documents_scans",
        scans.count(_.relation.location.rootPaths.exists(_.getName == "documents.parquet")).toDouble)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    private def metric(s: FileSourceScanExec, k: String): Double =
      s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Wait until every started job has ended and no event arrived for
    * 200 ms (listener delivery is asynchronous), at most 10 s.
    */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
        (jobsEnded.get < jobsStarted.get || System.nanoTime() - lastEventNs.get < 200000000L))
      Thread.sleep(20)
  }

  def snapshot(): Map[String, Double] = SparkProbe.Keys.zip(c.map(_.sum)).toMap

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object SparkProbe {
  val Keys: Vector[String] = Vector("jobs", "stages", "tasks", "executor_run_ms",
    "scheduler_delay_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "analysis_ms", "optimization_ms", "planning_ms", "scan_files", "scan_bytes",
    "documents_scans")

  /** Every file scan of an executed plan, through adaptive stages, reused
    * exchanges and subqueries.
    */
  def scans(plan: SparkPlan): Seq[FileSourceScanExec] = {
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = {
      val here = p match {
        case s: FileSourceScanExec    => Seq(s)
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec        => walk(q.plan)
        case r: ReusedExchangeExec    => walk(r.child)
        case _                        => Seq.empty
      }
      here ++ p.children.flatMap(walk) ++ p.subqueries.flatMap(walk)
    }
    walk(plan)
  }

  /** Per-layer `spark.*` metrics for `ops` operations over the counter
    * delta `d`, with `wallS` seconds of window on `cores` cores.
    */
  def perOp(d: Map[String, Double], ops: Int, wallS: Double, cores: Int): Map[String, Double] = {
    val n = math.max(1, ops).toDouble
    Map(
      "spark.analysis_ms" -> d("analysis_ms") / n,
      "spark.optimization_ms" -> d("optimization_ms") / n,
      "spark.planning_ms" -> d("planning_ms") / n,
      "spark.jobs" -> d("jobs") / n,
      "spark.stages" -> d("stages") / n,
      "spark.tasks" -> d("tasks") / n,
      "spark.scheduler_delay_ms" -> d("scheduler_delay_ms") / n,
      "spark.busy_share" -> (if (wallS > 0) d("executor_run_ms") / (wallS * 1000.0 * cores) else 0.0),
      "spark.scan_files" -> d("scan_files") / n,
      "spark.scan_bytes" -> d("scan_bytes") / n,
      "spark.shuffle_read_bytes" -> d("shuffle_read_bytes") / n,
      "spark.shuffle_write_bytes" -> d("shuffle_write_bytes") / n,
      "spark.spill_bytes" -> d("spill_bytes") / n)
  }

  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0.0)) }
}
