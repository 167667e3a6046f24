package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import java.util.concurrent.atomic.AtomicLong

/** Plan/timing inspector: `runMain graft.Explain <query> [sfDir] [runs]` —
  * times the query in-JVM (warm runs expose structural cost vs first-run
  * codegen latency, PERF.md "host noise"), counts Spark jobs/stages/tasks
  * per run (r12: at bench SF the fixed per-job/per-stage cost dominates, so
  * job count is the structural metric to drive down), and prints the
  * executed plan.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks)
      }
    })
    val dir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val runs = args.lift(2).map(_.toInt).getOrElse(3)
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    names.foreach { name =>
      val q = Registry.byName(name)
      for (i <- 1 to runs) {
        jobs.set(0); stages.set(0); tasks.set(0)
        val t0 = System.nanoTime()
        val n = q.run(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        // listener events are async — DRAIN the bus before reading the
        // counters (ADVICE r12: a fixed sleep under load let events bleed
        // into the next run's counters). listenerBus is private[spark], so
        // reach it reflectively; fall back to the old sleep if the internal
        // API ever moves.
        try {
          val bus = spark.sparkContext.getClass.getMethod("listenerBus")
            .invoke(spark.sparkContext)
          bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
        } catch {
          // the drain was interrupted: keep the flag for the caller
          case e: java.lang.reflect.InvocationTargetException
              if e.getCause.isInstanceOf[InterruptedException] =>
            Thread.currentThread().interrupt()
          case scala.util.control.NonFatal(_) => Thread.sleep(150)
        }
        println(f"$name%-26s RUN$i rows=$n time=$sec%.2f s jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get}")
      }
    }
    if (names.length == 1) {
      val df = Registry.byName(names.head).run(spark, dir)
      df.count() // populate the final adaptive plan
      println(df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
