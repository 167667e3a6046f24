package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

import graft.tables.Tables

/** Shared helpers for the query inventory (SURVEY.md §2).
  *
  * Oracle-parity rules (driver hash-compares against DuckDB at sf0.01):
  *  - every output column aliased identically in Spark and DuckDB SQL;
  *  - timestamps rendered as 'yyyy-MM-dd HH:mm:ss' strings (events.ts is
  *    parquet TIMESTAMP(NANOS); both engines floor ns → s identically);
  *  - floats rounded to a fixed scale AFTER aggregation; money-critical
  *    sums go through DECIMAL(18,2) so they are order-independent;
  *  - deterministic ORDER BY on a unique key in both engines;
  *  - window ORDER BY always tie-broken by a unique column;
  *  - means/ratios that must stay bit-equal PAST the gate SFs (r12: the
  *    sf1 sweep caught round(4) ties where partial-sum orders differ by
  *    an ulp) run on integer cents with `floor(x·10⁴ + 0.5)/10⁴` — exact
  *    integer sums, ONE division, floor: op-identical in both engines.
  *    NEVER `round(intSum/n/100, 4)`: exact dyadic ties (n = 8 buckets)
  *    hit the engines' OPPOSITE tie rules (Spark HALF_UP on the decimal
  *    string, DuckDB half-to-even in float space) on every tie.
  */
object Q {

  /** Spark-side timestamp render format (== DuckDB '%Y-%m-%d %H:%M:%S'). */
  val TsFmt = "yyyy-MM-dd HH:mm:ss"

  def tsS(c: Column): Column = date_format(c, TsFmt)

  def events(s: SparkSession, dir: String): DataFrame     = Tables.events(s, dir)
  def lineitem(s: SparkSession, dir: String): DataFrame   = Tables.lineitem(s, dir)
  def orders(s: SparkSession, dir: String): DataFrame     = Tables.orders(s, dir)
  def customer(s: SparkSession, dir: String): DataFrame   = Tables.customer(s, dir)
  def nation(s: SparkSession, dir: String): DataFrame     = Tables.nation(s, dir)
  def region(s: SparkSession, dir: String): DataFrame     = Tables.region(s, dir)
  def part(s: SparkSession, dir: String): DataFrame       = Tables.part(s, dir)
  def supplier(s: SparkSession, dir: String): DataFrame   = Tables.supplier(s, dir)
  def documents(s: SparkSession, dir: String): DataFrame  = Tables.documents(s, dir)
  def embeddings(s: SparkSession, dir: String): DataFrame = Tables.embeddings(s, dir)

  /** Exact (order-independent) money sum: route doubles through DECIMAL(18,2). */
  def moneySum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** Spread a small-file scan across all cores before CPU-heavy per-row
    * work (shingling, hashing, vector math). The documents/embeddings
    * parquet files are single-partition at test SFs, which would otherwise
    * serialize interpreted higher-order-function evaluation onto one core.
    *
    * CONDITIONAL (VERDICT r4 #4): at 100 TB the corpus arrives already
    * multi-partition and repartitioning it would be a gratuitous full
    * shuffle before per-row work that is already parallel — so the
    * repartition fires only when the scan has fewer partitions than cores.
    * Pinned by PlanAuditSpec: a multi-partition input gets NO Exchange.
    */
  def fanout(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // the frame's own physical plan: `df.rdd` would plan a second
    // (DeserializeToObject) execution just to read the partition count
    if (df.queryExecution.toRdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** Eagerly materialize an intermediate that downstream code references
    * more than once (shingle tables, candidate-pair frames, CC labels) so
    * its lineage — often interpreted higher-order functions — computes
    * exactly once.
    *
    * Two storage tiers (VERDICT r8 #8):
    *  - default: `localCheckpoint` — blocks live on executors. Right for
    *    tests and interactive runs: zero extra I/O, but blocks die with
    *    an executor, and at 100 TB an hours-long dedup job losing one
    *    executor would recompute the whole lineage.
    *  - `spark.graft.checkpoint.reliable=true` (runtime SQL conf, needs
    *    `sparkContext.setCheckpointDir` on durable storage): reliable
    *    `checkpoint` — blocks persist to the checkpoint dir (HDFS/S3 in
    *    a deployment), surviving executor loss. The at-scale path.
    * Both truncate lineage identically; ReliableCheckpointSpec pins the
    * two branches result-equal.
    */
  def materialize(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get("spark.graft.checkpoint.reliable", "false").toBoolean)
      df.checkpoint(eager = true)
    else df.localCheckpoint(true)

  /** Percentile spelling with a runtime approx tier (r12, VERDICT r11 #3 —
    * the documented "swap approx_percentile at 100 TB" claim, now an
    * executable switch like the reliable-checkpoint tier):
    *  - default: exact interpolated `percentile` — a full per-group sort
    *    buffer; right wherever the oracle verifies, and fine while groups
    *    fit in memory.
    *  - `graft.percentile.approx=true` (runtime SQL conf): Spark's
    *    `approx_percentile` with the given accuracy — the Greenwald-Khanna
    *    sketch bounds the buffer at O(accuracy) PER GROUP regardless of
    *    group size, with rank error ≤ n/accuracy. Identical plan shape
    *    (one hash aggregate / one window aggregate), so the swap changes
    *    memory, not topology.
    * Note the semantics difference: approx returns an OBSERVED value
    * (no interpolation). PercentileApproxGateSpec pins the deviation of
    * every key in the family under the flag.
    */
  def pctl(s: org.apache.spark.sql.SparkSession, valueExpr: String, p: String,
      accuracy: Int = 10000): String =
    if (s.conf.get("graft.percentile.approx", "false").toBoolean)
      s"approx_percentile($valueExpr, $p, $accuracy)"
    else s"percentile($valueExpr, $p)"

  /** Exact global `ntile(buckets)` without a single-reducer sort (r10,
    * VERDICT r9 #3): the exact global rank of [[prefixPass]], then the
    * standard SQL ntile bucket formula. `sort` must be a TOTAL order
    * (callers tie-break with a unique column, per the Q.scala window rules).
    *
    * Bit-equal to `ntile(n) OVER (ORDER BY sort)` — RfmNtileSpec pins it,
    * including ties, N % n != 0, and N < n — but no row ever crosses a
    * SinglePartition Exchange, so it survives a 10⁹-row customer dimension
    * where the global window serializes.
    */
  def distributedNtile(df: DataFrame, buckets: Int, sort: Seq[Column], out: String): DataFrame = {
    val p = prefixPass(df, "distributedNtile", sort, reserved = Seq("__rk", out))
    p.keyed.withColumn("__rk", p.rank)
      .withColumn(out, expr(ntileBucketSql(p.rows, buckets, "__rk")))
      .select((df.columns.toSeq :+ out).map(col): _*)
  }

  /** The standard SQL ntile bucket formula over an exact 1..N rank column
    * (first N mod n buckets get the extra row) — the ONE spelling both
    * [[distributedNtile]] and [[stackedNtile]] apply (r13 review: it was
    * duplicated verbatim; a tie/offset fix must land once). Integer DIV
    * throughout (a double floor(/) would wobble past 2⁵³). */
  private def ntileBucketSql(total: Long, buckets: Int, rk: String): String = {
    val q = total / buckets
    val r = total % buckets
    val bucketSql =
      if (q == 0L) rk // fewer rows than buckets: ntile(rank) = rank
      else s"""CASE WHEN $rk <= ${r * (q + 1)} THEN ($rk - 1) DIV ${q + 1} + 1
              |     ELSE $r + ($rk - 1 - ${r * (q + 1)}) DIV $q + 1 END""".stripMargin
    s"CAST(($bucketSql) AS INT)"
  }

  /** Exact global rank 1..N by `sort` (a TOTAL order — callers tie-break
    * with a unique column) without a single-reducer sort: [[prefixPass]]
    * plus `row_number`. Identical to `row_number() OVER (ORDER BY sort)`
    * but no row ever crosses a SinglePartition Exchange.
    */
  def distributedRank(df: DataFrame, sort: Seq[Column], out: String): DataFrame = {
    val p = prefixPass(df, "distributedRank", sort, reserved = Seq(out))
    p.keyed.withColumn(out, p.rank).select((df.columns.toSeq :+ out).map(col): _*)
  }

  /** Exact running sums by `sort` (a TOTAL order) without a single-reducer
    * sort: [[prefixPass]] plus per-partition running-sum windows. The
    * columns must be non-null integral or decimal; the offsets are exact, so each
    * running sum is bit-identical to `sum(v) OVER (ORDER BY sort ROWS
    * UNBOUNDED PRECEDING)` and typed like it. `sums` maps input column →
    * output running-sum column. Also returns each column's exact grand
    * total (zero on an empty frame), from the same collect.
    */
  def distributedCumsum(df: DataFrame, sort: Seq[Column], sums: Seq[(String, String)])
      : (DataFrame, Seq[java.math.BigDecimal]) = {
    val p = prefixPass(df, "distributedCumsum", sort, sums.map(_._1), reserved = sums.map(_._2))
    val withSums = sums.zipWithIndex.foldLeft(p.keyed) {
      case (d, ((_, out), i)) => d.withColumn(out, p.running(i))
    }
    (withSums.select((df.columns.toSeq ++ sums.map(_._2)).map(col): _*), p.totals.tail)
  }

  /** Exact global ntile over SEVERAL independent orderings of ONE frame in
    * a single prefix pass (r13, VERDICT r12 #1 — the multi-key rank pass).
    * Chaining [[distributedNtile]] k times costs k × (range-sample job +
    * checkpoint + collect); here the frame is replicated once per ordering
    * MAP-SIDE (explode of a k-element struct array, no join), tagged
    * `__sid` = 1..k, and range-partitioned ONCE by (__sid, value, ties…).
    * `__sid` leads the sort, so partition ranges never interleave
    * orderings and within a __sid block the order is exactly (value ASC,
    * ties ASC) — callers encode DESC by negating the value, and must
    * pre-cast all values to ONE orderable type whose cast is
    * order-preserving and injective on the data (ints/counts < 2⁵³ cast to
    * double exactly; longs stay long when every ordering is long).
    *
    * Every ordering has exactly N = |df| rows, so
    * rank-within-ordering = global stacked rank − (__sid − 1)·N, and the
    * same SQL bucket formula as [[distributedNtile]] applies per ordering.
    *
    * Returns the STACKED frame: original columns + `__sid` + `out` (the
    * ordering's ntile bucket, INT). The input must not already carry
    * `out`, `__sv`, `__sid`, `__val`, `__rk` or a [[prefixPass]] helper
    * column. Callers either aggregate per __sid directly (q_zorder_layout's
    * per-layout box stats) or pivot back by a unique key (q_rfm_segments).
    * Bit-equal per ordering to `ntile(buckets) OVER (ORDER BY value,
    * ties…)` — RfmNtileSpec and DistributedOrderPropSpec pin it.
    */
  def stackedNtile(df: DataFrame, buckets: Int,
      values: Seq[Column], ties: Seq[Column], out: String): DataFrame = {
    val cols = df.columns.toSeq
    def stack(d: DataFrame): DataFrame = d.select(cols.map(col) :+
      explode(array(values.zipWithIndex.map { case (v, i) =>
        struct(lit(i + 1).as("s"), v.as("v")) }: _*)).as("__sv"): _*)
      .select(cols.map(col) :+ col("__sv.s").as("__sid") :+ col("__sv.v").as("__val"): _*)
    val p = prefixPass(df, "stackedNtile", col("__sid") +: col("__val") +: ties,
      reserved = Seq("__sv", "__sid", "__val", "__rk", out), stage = stack)
    val n = p.rows / values.size.max(1) // rows per ordering = |df|
    // global stacked rank − the ordering's block offset = rank within __sid
    p.keyed.withColumn("__rk", p.rank - (col("__sid").cast("long") - 1L) * n)
      .withColumn(out, expr(ntileBucketSql(n, buckets, "__rk")))
      .select((cols :+ "__sid" :+ out).map(col): _*)
  }

  /** What [[prefixPass]] hands its callers: `keyed` (the staged input +
    * `__pid` + the offsets), the collected `parts` rows (pid, groups…,
    * count, sums…), and the exact grand `totals` (count, sums…). */
  private[queries] final class Prefix(val keyed: DataFrame, sort: Seq[Column],
      sums: Seq[String], sumTypes: Seq[DataType], val parts: Array[Row],
      val totals: IndexedSeq[java.math.BigDecimal]) {
    private val within = Window.partitionBy("__pid").orderBy(sort: _*)

    def rows: Long = totals.head.longValueExact

    /** The exact global rank 1..N: row_number within the partition + the
      * rows of all lower partitions. */
    def rank: Column = row_number().over(within).cast("long") + col("__off")

    /** The exact running sum of the i-th summed column. */
    def running(i: Int): Column =
      (sum(col(sums(i))).over(within.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        + col(s"__off$i")).cast(sumTypes(i))
  }

  /** The ONE range-partitioned prefix pass behind every exact global rank,
    * ntile, running sum and curriculum order — none of them sends a row
    * through a SinglePartition Exchange:
    *
    *  1. apply `stage` (stackedNtile's stacking; identity elsewhere),
    *     range-partition on `sort` — a TOTAL order: callers tie-break
    *     with a unique column — and freeze `__pid` behind [[materialize]],
    *     so the collect and the window pass see the same partition ids;
    *  2. ONE collect of the row count and the `sums` per (pid, groups…)
    *     (k = shuffle partitions × groups, driver-bounded) — the `parts`;
    *  3. each partition's exclusive prefix of those totals comes back as a
    *     k-row broadcast: `__off` (rows in lower partitions) and `__off<i>`
    *     per summed column.
    *
    * Exactness rule: the driver adds the offsets as java.math.BigDecimal
    * and writes them back as a long for counts and as the sum's own type
    * (long or decimal) for sums, so no offset depends on a summation
    * order; a floating-point column has no exact prefix and is rejected.
    * An input column named like a helper (`__pid`, `__off…`, or the
    * caller's `reserved`) fails fast: it would be overwritten or made
    * ambiguous.
    */
  private[queries] def prefixPass(df: DataFrame, fn: String, sort: Seq[Column],
      sums: Seq[String] = Nil, groups: Seq[String] = Nil, reserved: Seq[String] = Nil,
      stage: DataFrame => DataFrame = identity): Prefix = {
    val offCols = "__off" +: sums.indices.map(i => s"__off$i")
    val helpers = ("__pid" +: offCols) ++ reserved
    // case-insensitive, like the analyzer
    val clash = df.columns.filter(c => helpers.exists(_.equalsIgnoreCase(c)))
    require(clash.isEmpty, s"$fn: input column(s) ${clash.mkString(", ")} clash with its " +
      s"helper columns ${helpers.mkString(", ")}")
    val keyed = stage(df).repartitionByRange(sort: _*)
      .withColumn("__pid", spark_partition_id())
      .transform(materialize) // pid must be identical in the collect and the window pass
    val perPart = keyed.groupBy(("__pid" +: groups).map(col): _*)
      .agg(count(lit(1)), sums.map(c => sum(col(c))): _*)
    val types = perPart.schema.fields.toSeq.drop(groups.size + 1).map(_.dataType)
    sums.zip(types.tail).foreach { case (c, t) =>
      require(t == LongType || t.isInstanceOf[DecimalType],
        s"$fn: column $c sums as ${t.simpleString}; only integral and decimal columns " +
          "have an exact prefix")
    }
    val parts = perPart.collect()
    val pidTotals = parts.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (pid, rs) =>
      pid -> offCols.indices.map(j =>
        rs.map(r => exact(r.get(groups.size + 1 + j))).reduce(_ add _))
    }
    val prefix = pidTotals.scanLeft(offCols.map(_ => java.math.BigDecimal.ZERO)) {
      case (acc, (_, t)) => acc.zip(t).map { case (a, b) => a add b }
    }
    val offRows = pidTotals.zip(prefix).map { case ((pid, _), off) =>
      Row.fromSeq(pid +: off.zip(types).map {
        case (v, LongType) => v.longValueExact
        case (v, _)        => v
      })
    }
    val schema = StructType(StructField("__pid", IntegerType, nullable = false) +:
      offCols.zip(types).map { case (c, t) => StructField(c, t, nullable = false) })
    val offDf = broadcast(df.sparkSession.createDataFrame(offRows.asJava, schema))
    new Prefix(keyed.join(offDf, "__pid"), sort, sums, types.tail, parts, prefix.last)
  }

  /** A collected count or sum as an exact decimal. */
  private def exact(v: Any): java.math.BigDecimal = v match {
    case l: java.lang.Long       => java.math.BigDecimal.valueOf(l)
    case d: java.math.BigDecimal => d
  }
}
