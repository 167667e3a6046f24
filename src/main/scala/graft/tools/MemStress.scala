package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Memory-stress proof of the SeriesFold O(1)-state contract (VERDICT r10
  * task 1): the "year of 1 Hz samples" case that functions/Cusum.scala:19
  * invokes, actually run instead of argued.
  *
  * Modes (arg 1), over a generated single-series table of ~20M samples:
  *
  *  - `gen <dir> [nRows]`   — write the stress table (run with a normal heap).
  *  - `fold <dir>`          — run the three SeriesFold consumers (CUSUM, MACD,
  *                            EWMA chart) under whatever heap the JVM was
  *                            given. Expected: completes under -Xmx1g, because
  *                            the fold carries only the state struct and the
  *                            in-partition sort spills to disk.
  *  - `legacy <dir>`        — the r9 collect_list + aggregate-HOF CUSUM
  *                            spelling (the one CusumByKeySpec keeps as the
  *                            reference twin). Expected: OOMs under -Xmx1g,
  *                            because the whole series materializes in one
  *                            aggregation buffer.
  *
  * Driven by scripts/mem_stress.sh; results recorded in PERF.md (r11).
  * Constants match q_cusum (target 50, slack 2, band 100) so the fold output
  * is sanity-checkable against a driver-side replay of the recurrence.
  */
object MemStress {

  private def heapLine(tag: String): Unit = {
    val rt = Runtime.getRuntime
    println(f"MEMSTRESS $tag maxHeapMB=${rt.maxMemory() / (1 << 20)}%d " +
      f"usedMB=${(rt.totalMemory() - rt.freeMemory()) / (1 << 20)}%d")
  }

  /** One long series (user_id=1, nRows samples) + 4 short decoys. Values are
    * a deterministic mean-50 sawtooth (id % 101) so the CUSUM state stays
    * bounded and alarms do fire.
    */
  private def gen(spark: SparkSession, dir: String, nRows: Long): Unit = {
    val longSeries = spark.range(nRows)
      .select(lit(1L).as("user_id"), (col("id") * 1000L).as("ts_ns"),
        col("id").as("event_id"), (col("id") % 101).cast("double").as("value"))
    val decoys = spark.range(1000)
      .select((col("id") % 4 + 2L).as("user_id"), (col("id") * 1000L).as("ts_ns"),
        col("id").as("event_id"), (col("id") % 97).cast("double").as("value"))
    longSeries.unionAll(decoys).repartition(32)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    println(s"MEMSTRESS gen rows=${nRows + 1000} dir=$dir")
  }

  private def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"), col("ts_ns"), col("event_id"), col("value"))

  private def runFold(spark: SparkSession, dir: String): Unit = {
    val ev = read(spark, dir)
    var t0 = System.nanoTime()
    val cusum = graft.functions.Cusum.cusumByKey(ev, 50.0, 2.0, 100.0)
      .toDF().orderBy("user_id").collect()
    println(f"MEMSTRESS fold=cusum sec=${(System.nanoTime() - t0) / 1e9}%.1f " +
      s"rows=${cusum.length} head=${cusum.head}")
    heapLine("after-cusum")

    t0 = System.nanoTime()
    val macd = graft.functions.Macd.macdByKey(ev)
      .toDF().orderBy("user_id").collect()
    println(f"MEMSTRESS fold=macd sec=${(System.nanoTime() - t0) / 1e9}%.1f " +
      s"rows=${macd.length} head=${macd.head}")
    heapLine("after-macd")

    // The q_ewma_chart fold (QInflux.scala) — same constants.
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[(Long, Double, Long, Long)]
    val band = 3.0 * (10.0 * math.sqrt(0.2 / 1.8))
    t0 = System.nanoTime()
    val ewma = graft.functions.SeriesFold.foldByKey(ev)(
        v => { val z = 0.2 * v + 0.8 * 50.0
               (z, if (math.abs(z - 50.0) > band) 1L else 0L) })(
        { case ((z, a), v) =>
            val z2 = 0.2 * v + 0.8 * z
            (z2, a + (if (math.abs(z2 - 50.0) > band) 1L else 0L)) })(
        (k, st, n) => (k, st._1, st._2, n))
      .toDF("user_id", "ewma", "alarms", "n_points").orderBy("user_id").collect()
    println(f"MEMSTRESS fold=ewma sec=${(System.nanoTime() - t0) / 1e9}%.1f " +
      s"rows=${ewma.length} head=${ewma.head}")
    heapLine("after-ewma")
    println("MEMSTRESS fold RESULT=OK")
  }

  /** The r9 HOF spelling, verbatim shape from CusumByKeySpec.hofCusum. */
  private def runLegacy(spark: SparkSession, dir: String): Unit = {
    val t0 = System.nanoTime()
    val out = read(spark, dir)
      .groupBy("user_id")
      .agg(sort_array(collect_list(struct(col("ts_ns"), col("event_id"), col("value")))).as("pts"))
      .withColumn("vals", expr("transform(pts, p -> p.value)"))
      .withColumn("st", expr(
        """aggregate(vals,
          |  named_struct('sp', 0.0D, 'sn', 0.0D, 'alarms', 0L),
          |  (a, v) -> named_struct(
          |    'sp', greatest(0.0D, a.sp + (v - 50.0D) - 2.0D),
          |    'sn', greatest(0.0D, a.sn - (v - 50.0D) - 2.0D),
          |    'alarms', a.alarms + (CASE WHEN greatest(0.0D, a.sp + (v - 50.0D) - 2.0D) > 100.0D
          |                                 OR greatest(0.0D, a.sn - (v - 50.0D) - 2.0D) > 100.0D
          |                          THEN 1L ELSE 0L END)))""".stripMargin))
      .select(col("user_id"), col("st.sp").as("cusum_pos"), col("st.sn").as("cusum_neg"),
        col("st.alarms").as("alarms"), size(col("vals")).cast("bigint").as("n_points"))
      .orderBy("user_id").collect()
    println(f"MEMSTRESS legacy sec=${(System.nanoTime() - t0) / 1e9}%.1f " +
      s"rows=${out.length} head=${out.head}")
    println("MEMSTRESS legacy RESULT=OK")
  }

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val dir = args(1)
    heapLine("start")
    val spark = graft.GraftSession.builder(4)
      .config("spark.sql.shuffle.partitions", 8) // fixed, so the spill proof keeps its partition size
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try mode match {
      case "gen"    => gen(spark, dir, if (args.length > 2) args(2).toLong else 20000000L)
      case "fold"   => runFold(spark, dir)
      case "legacy" => runLegacy(spark, dir)
      case other    => sys.error(s"unknown mode $other")
    } finally spark.stop()
  }
}
