package graft.queries

import graft.{Registry, SparkTestBase}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.atomic.AtomicInteger

/** What the keys built on the range-partitioned prefix pass EXECUTE: the
  * Spark jobs (range sampler, checkpoint, offsets collect, exchanges,
  * broadcasts, the final collect) and the driver `collect` executions of
  * one run each, pinned at their counts on sf0.001. A second range
  * sampler, checkpoint or offsets collect shows up here even when the
  * result stays right.
  */
class RankExecutionAuditSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  /** Drain the (asynchronous) listener bus; it is private[spark]. */
  private def drain(): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** (jobs started, `collect` executions) of one run of `key`. */
  private def counts(key: String): (Int, Int) = {
    val jobs = new AtomicInteger
    val collects = new AtomicInteger
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "collect") { collects.incrementAndGet(); () }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    drain()
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      Registry.byName(key).run(spark, dir).collect()
      drain()
    } finally {
      spark.listenerManager.unregister(qeListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
    (jobs.get, collects.get)
  }

  // (jobs, collects) per key, read on sf0.001 with the suite's local[4]
  // session; the collects count the key's own final collect.
  private val pinned = Seq(
    "q_rfm_segments"        -> (15, 2),
    "q_zorder_layout"       -> (16, 2),
    "q_abc_analysis"        -> (12, 2),
    "q_curriculum_order"    -> (10, 2),
    "q_pipeline_curriculum" -> (21, 3),
    "q_vocab_growth"        -> (14, 2),
    "q_gini_revenue"        -> (11, 2), // Q.distributedRank
    "q_lorenz_curve"        -> (12, 2)) // Q.distributedNtile

  for ((key, (jobs, collects)) <- pinned)
    test(s"$key keeps its Spark job and collect counts") {
      assert(counts(key) === (jobs -> collects))
    }
}
