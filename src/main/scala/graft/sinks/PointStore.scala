package graft.sinks

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Batch point storage — SURVEY.md §2.1 S4/S5.
  *
  * S4: the reference creates one InfluxDB database per PLC
  * (`create_database(plc_ip)`, Linux/InfluxConnector2.py:107-109). The
  * Spark-native equivalent is a measurement-partitioned table layout:
  * `partitionBy("measurement")` gives per-device directories, so per-PLC
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

  /** Write points partitioned by device and day. Expects
    * (ts, measurement, alias, value).
    */
  def writePartitioned(points: DataFrame, dir: String): Unit =
    points
      .withColumn("date", date_format(col("ts"), "yyyy-MM-dd"))
      .write.mode(SaveMode.Append)
      .partitionBy("measurement", "date")
      .parquet(dir)

  /** Split a decoded frame into (good, deadLetter) on value validity —
    * P4's predicate, with the rejects kept instead of dropped.
    */
  def splitDeadLetter(decoded: DataFrame): (DataFrame, DataFrame) = {
    val good = decoded.filter(col("value").isNotNull)
    val dead = decoded.filter(col("value").isNull)
      .withColumn("error", lit("decode returned null (bad buffer/type)"))
    (good, dead)
  }

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
