package graft.tools

import java.nio.file.{Files, Paths}
import java.util.Locale
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.{GraftSession, Registry}

/** Registry keys timed and counted in one warm JVM:
  *
  * {{{
  *   runMain graft.tools.Profile <key>[,key...] <sfDir>[,<sfDir2>] [runs] [planDir]
  * }}}
  *
  * Each key runs `runs` times (default 3) at each dir, and each run prints
  * one line: rows, wall seconds, and the Spark jobs, stages and tasks it
  * took. Warm runs separate structural cost from first-run codegen latency;
  * at bench SF the fixed per-job cost dominates, so the job count is the
  * structural number to drive down.
  *
  *  - With two dirs it also prints one `scale_pair` JSON line: per key the
  *    min wall of its runs at each dir and their ratio. A key is sublinear
  *    when the ratio is below the data ratio; a super-linear bend is a
  *    scale bug.
  *  - With `planDir` it writes each key's formatted plan (the initial
  *    adaptive plan: exchanges, join strategies, pushed filters, codegen
  *    spans) at each dir to `<planDir>/<key>_<dir name>.txt`.
  */
object Profile {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.tools.Profile <key>[,key...] <sfDir>[,<sfDir2>] [runs] [planDir]")
    def list(s: String): Seq[String] = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, list(args(0)), list(args(1)), args.lift(2).fold(3)(_.toInt), args.lift(3))(println)
    finally spark.stop()
  }

  /** Profiles `keys` at one or two `dirs`; every output line goes to `emit`. */
  def run(spark: SparkSession, keys: Seq[String], dirs: Seq[String], runs: Int,
      planDir: Option[String])(emit: String => Unit): Unit = {
    require(dirs.size == 1 || dirs.size == 2, s"one or two dirs, got ${dirs.size}")
    require(runs >= 1, s"runs must be at least 1, got $runs")
    val jobs = new AtomicLong
    val stages = new AtomicLong
    val tasks = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks)
      }
    }
    def dirName(dir: String): String = Paths.get(dir).getFileName.toString
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    spark.sparkContext.addSparkListener(listener)
    val best = try keys.map { key =>
      val q = Registry.byName(key)
      val perDir = dirs.map { dir =>
        val secs = (1 to runs).map { i =>
          jobs.set(0); stages.set(0); tasks.set(0)
          val t0 = System.nanoTime()
          val n = q.run(spark, dir).count()
          val sec = (System.nanoTime() - t0) / 1e9
          drainListenerBus(spark)
          emit(f"$key%-26s ${dirName(dir)} RUN$i rows=$n time=$sec%.2f s " +
            s"jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get}")
          sec
        }
        planDir.foreach { d =>
          val plan = q.run(spark, dir).queryExecution.explainString(ExplainMode.fromString("formatted"))
          Files.writeString(Paths.get(d, s"${key}_${dirName(dir)}.txt"), plan)
        }
        secs.min
      }
      System.gc() // the next key starts without this one's garbage
      key -> perDir
    } finally spark.sparkContext.removeSparkListener(listener)
    if (dirs.size == 2) {
      def r2(v: Double): String = String.format(Locale.ROOT, "%.2f", Double.box(v))
      val pairs = best.map { case (key, Seq(a, b)) =>
        s""""$key":{"small_s":${r2(a)},"big_s":${r2(b)},"ratio":${r2(b / a)}}"""
      }
      emit(s"""{"metric":"scale_pair","small":"${dirs(0)}","big":"${dirs(1)}",${pairs.mkString(",")}}""")
    }
  }

  /** Listener events are delivered asynchronously: wait until the bus is
    * empty before reading the counters, or one run's events bleed into the
    * next run's counts (a fixed sleep did, under load). `listenerBus` is
    * private to Spark, so it is reached reflectively, with the old sleep as
    * the fallback if that internal API moves.
    */
  private def drainListenerBus(spark: SparkSession): Unit =
    try {
      val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } catch {
      // the drain was interrupted: keep the flag for the caller
      case e: java.lang.reflect.InvocationTargetException
          if e.getCause.isInstanceOf[InterruptedException] =>
        Thread.currentThread().interrupt()
      case scala.util.control.NonFatal(_) => Thread.sleep(150)
    }
}
