package graft.influxql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sinks.StoreLayout
import InfluxQLAst._

/** Batch executor for REGISTERED continuous queries — the InfluxDB 1.x CQ
  * service re-expressed for the point store: each tick recomputes every
  * due CQ's recent finalized buckets and materializes them as points of
  * the INTO target measurement, in the SAME store (exactly where InfluxDB
  * lands CQ output), so the rollup is immediately queryable through
  * `InfluxQLPlanner.sqlStore(… FROM <target>)`.
  *
  * Semantics, matching InfluxDB's scheduler (ref README.md:3 "continuous
  * queries"):
  *  - a CQ is DUE when the clock has closed a bucket newer than its last
  *    run's high-water mark ([[StoreMeta.cqLastHi]]); `RESAMPLE EVERY`
  *    coarsens that cadence (due only once `every` has elapsed since the
  *    last high-water mark);
  *  - each run recomputes the half-open range `[hi - horizon, hi)` where
  *    `hi` = now floored to a bucket boundary (only FINALIZED buckets —
  *    the open bucket is never written) and `horizon` = `RESAMPLE FOR`
  *    (else `EVERY`, else one bucket), rounded up to whole buckets —
  *    late-arriving points inside the horizon are folded in by
  *    recomputation, InfluxDB's RESAMPLE FOR contract;
  *  - each recomputed `(measurement=<target>, date=…)` partition that has
  *    rows is swapped in whole by [[StoreLayout.replace]], the store's
  *    partition commit: re-runs are idempotent, recomputation replaces, a
  *    crash leaves the old day or the new one, and untouched history is
  *    never rewritten — the at-scale property (a 100 TB store re-rolls one
  *    day's partitions, not the table).
  *
  * The streaming twin is [[InfluxQLPlanner.continuous]] (same SELECT
  * planned onto a watermarked stream); this runner is the catch-up /
  * cron-tick form, sharing the parser, planner, and store layout.
  */
object CqRunner {

  final case class CqRun(name: String, db: String, target: String,
      loNs: Long, hiNs: Long, rows: Long)

  /** Run every registered CQ that is due at `nowNs`. Returns one [[CqRun]]
    * per executed CQ (skipped = not listed). Callers serialize ticks with
    * store writers (the HTTP server's write lock) — the runner itself
    * swaps in one partition per recomputed day that has rows.
    *
    * Per-CQ error ISOLATION: one failing CQ (source measurement dropped,
    * plan error, a stale registration) logs and the tick continues with
    * the rest — InfluxDB's CQ service does the same. Without this, a
    * single broken registration would permanently starve every other CQ
    * on the node (each tick dying on the same statement).
    */
  def runDue(spark: SparkSession, storeDir: String, nowNs: Long): Seq[CqRun] =
    StoreMeta.scheduledCqs(storeDir).flatMap { cq =>
      try runOne(spark, storeDir, cq, nowNs)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[graft-cq] ${cq.db}.${cq.name} failed (continuing): ${e.getMessage}")
          None
      }
    }

  private[influxql] def runOne(spark: SparkSession, storeDir: String,
      cq: CreateCq, nowNs: Long): Option[CqRun] = {
    val sel = cq.select
    val target = sel.into.getOrElse(throw InfluxQLParseException(
      s"continuous query ${cq.name} has no INTO target — nothing to materialize"))
    val bucketNs = sel.groupTimeNs.getOrElse(throw InfluxQLParseException(
      s"continuous query ${cq.name} requires GROUP BY time(...)"))
    val hiNs = Math.floorDiv(nowNs, bucketNs) * bucketNs
    val horizonNs = cq.forSec.orElse(cq.everySec).map(_ * 1000000000L).getOrElse(bucketNs)
    val nBuckets = math.max(1L, -Math.floorDiv(-horizonNs, bucketNs)) // ceil
    // Each write replaces a whole (target, date=) partition — the store's
    // retention/shard granularity — so the recompute range must cover
    // every bucket of each touched day: extend the horizon's lower bound
    // to its UTC day start (same-day rollups outside the horizon would
    // otherwise be dropped by the swap). Buckets past `hi` cannot
    // exist yet (no earlier run had a larger hi), so the upper side needs
    // no extension. InfluxDB recomputes at shard granularity for the same
    // reason.
    val dayNs = 86400L * 1000000000L
    val loNs = Math.floorDiv(hiNs - nBuckets * bucketNs, dayNs) * dayNs
    // due? EVERY coarsens the bucket cadence; default = every new bucket
    val everyNs = cq.everySec.map(_ * 1000000000L).getOrElse(bucketNs)
    val lastHi = StoreMeta.cqLastHi(storeDir, cq.db, cq.name)
    if (lastHi.exists(h => hiNs < h + everyNs) || hiNs <= loNs) return None

    // plan the SELECT (without INTO) over the recompute range; the store
    // catalog resolves FROM against measurement partitions, and the added
    // TimeConds prune the scan to the horizon's row groups
    val bounded = sel.copy(into = None,
      where = sel.where ++ Seq(TimeCond(">=", loNs), TimeCond("<", hiNs)))
    val catalog = InfluxQLPlanner.Catalog.store(storeDir)
    val df = InfluxQLPlanner.plan(spark, storeDir, bounded, None, catalog)

    // shape into store points: ts = the bucket, value = the (single)
    // aggregate. STATIC store tags (alias) keep the alias-tuple
    // convention; DYNAMIC group tags (r9 — `GROUP BY time(1h), host`)
    // persist into the target's canonical-JSON tag set instead, so the
    // rollup keeps its dimensions: `SELECT mean FROM <target> GROUP BY
    // host` works through the same dynamic-tag planning as the source.
    val tagCols = sel.groupTags.filter(_ != "*") ++
      (if (sel.groupTags.contains("*")) catalog.tags else Nil)
    val aggCols = df.columns.filterNot(c => c == "time" || tagCols.contains(c))
    if (aggCols.length != 1)
      throw InfluxQLParseException(
        s"continuous query ${cq.name}: the store point layout takes exactly one " +
          s"aggregate field, got ${aggCols.mkString(", ")}")
    val aliasTagCols = tagCols.filter(catalog.tags.contains)
    val dynCols = tagCols.filterNot(catalog.tags.contains).sorted
    val aliasCol =
      if (aliasTagCols.isEmpty) lit(aggCols.head)
      else concat_ws(",", aliasTagCols.map(c => col(c).cast("string")): _*)
    // sorted keys + null-valued entries dropped → the same canonical
    // shape PointStoreDirect writes (an all-null group stays untagged)
    val tagsCol =
      if (dynCols.isEmpty) lit(null).cast("string")
      else {
        val m = map_filter(
          map(dynCols.flatMap(c => Seq(lit(c), col(c).cast("string"))): _*),
          (_, v) => v.isNotNull)
        when(size(map_keys(m)) > 0, to_json(m))
      }
    val points = df.select(
      col("time").cast("timestamp").as("ts"),
      aliasCol.as("alias"),
      col(aggCols.head).cast("double").as("value"),
      tagsCol.as("tags"))

    // ONLY the recomputed days that have rows are replaced; an empty
    // result still advances the high-water mark but touches no partition
    val date = date_format(col("ts"), "yyyy-MM-dd")
    val days = points.groupBy(date).count().collect()
    days.foreach(r => StoreLayout.replace(
      StoreLayout.partitionDir(storeDir, target, r.getString(0)), points.filter(date === r.getString(0))))
    StoreMeta.setCqLastHi(storeDir, cq.db, cq.name, hiNs)
    Some(CqRun(cq.name, cq.db, target, loNs, hiNs, days.map(_.getLong(1)).sum))
  }
}
