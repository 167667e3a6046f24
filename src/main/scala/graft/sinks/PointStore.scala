package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._

/** Batch point storage — SURVEY.md §2.1 S4/S5.
  *
  * S4: the reference creates one InfluxDB database per PLC
  * (`create_database(plc_ip)`, Linux/InfluxConnector2.py:107-109). The
  * Spark-native equivalent is a measurement-partitioned table layout:
  * `measurement=` directories give per-device partitions, so per-PLC
  * queries prune to one partition — the same isolation property, but one
  * catalog entry instead of n databases. At 100 TB add a time bucket
  * (`date`) as a second partition column so retention = dropping date
  * partitions (the InfluxDB retention-policy equivalent, README.md:3).
  *
  * S5: decode failures don't kill the pipeline — the reference logs and
  * continues (Linux/InfluxConnector2.py:187-189). Here invalid rows are
  * split into a dead-letter frame and persisted next to the good data.
  */
object PointStore {

  /** Append points, (ts, measurement, alias, value), to the store at `dir`:
    * each task sorts its rows by measurement, then `ts`, and streams them
    * through [[PointStoreDirect.appendRuns]]. A retried task appends again
    * (at-least-once). A point without a time or measurement is skipped. */
  def writePartitioned(points: DataFrame, dir: String): Unit = {
    val qe = points.filter(col("ts").isNotNull && col("measurement").isNotNull)
      .select(unix_micros(col("ts")).as("us"), col("alias").cast("string"), col("value").cast("double"),
        lit(null).cast("string"), col("measurement").cast("string").as("m"))
      .sortWithinPartitions("m", "us").queryExecution
    SQLExecution.withNewExecutionId(qe, Some("writePartitioned"))(
      qe.toRdd.foreachPartition(PointStoreDirect.appendRuns(_, dir)))
  }

  /** Split a decoded frame into (good, deadLetter) on value validity —
    * P4's predicate, with the rejects kept instead of dropped.
    */
  def splitDeadLetter(decoded: DataFrame): (DataFrame, DataFrame) = {
    val good = decoded.filter(col("value").isNotNull)
    val dead = decoded.filter(col("value").isNull)
      .withColumn("error", lit("decode returned null (bad buffer/type)"))
    (good, dead)
  }

  /** The `ttlDays` of a retention duration, rounded UP: a partition drops
    * only once its NEWEST point is past the duration (InfluxDB drops a
    * whole expired shard group); floor (36h → 1) drops points inside it. */
  def retentionDays(durationSec: Long): Int = ((durationSec + 86399L) / 86400L).toInt

  /** Retention policy (the InfluxDB `CREATE RETENTION POLICY` surface,
    * ref README.md:3,13): drop `date=` partitions older than `ttlDays`
    * before `today`, in every measurement of the store at `dir` or only in
    * `measurement`. Whole-partition deletes are O(#expired partitions) —
    * no data rewrite, no tombstones — which is why the layout carries the
    * date column. Returns the deleted partition paths.
    */
  def expireRetention(dir: String, ttlDays: Int, today: java.time.LocalDate,
      measurement: Option[String] = None): Seq[String] = {
    val cutoff = today.minusDays(ttlDays.toLong)
    measurement.fold(StoreLayout.partitions(dir))(StoreLayout.partitions(dir, _))
      .filter(_.date.isBefore(cutoff))
      .map { p => StoreLayout.drop(p.dir); p.dir.getPath }
  }
}
