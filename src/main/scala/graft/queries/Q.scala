package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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

  /** Fails fast when `df` already has a column named like one of a
    * helper's internal columns (`reserved`); the helper would overwrite it
    * or make it ambiguous. Case-insensitive, like the analyzer. */
  private[queries] def requireNoReserved(df: DataFrame, fn: String, reserved: Seq[String]): Unit = {
    val clash = df.columns.filter(c => reserved.exists(_.equalsIgnoreCase(c)))
    require(clash.isEmpty,
      s"$fn: input column(s) ${clash.mkString(", ")} clash with its helper columns " +
        reserved.mkString(", "))
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
    * VERDICT r9 #3). Same two-pass range-partitioned shape as the Pareto
    * prefix sum in q_abc_analysis:
    *
    *  1. range-partition on the sort key (must be a TOTAL order — callers
    *     tie-break with a unique column, per the Q.scala window rules),
    *     freeze partition ids, and collect the k per-partition row counts
    *     (k = shuffle partitions — driver-bounded);
    *  2. per-partition `row_number` + the broadcast count prefix as an
    *     offset = the exact global rank, then the standard SQL ntile
    *     bucket formula (first N mod n buckets get the extra row).
    *
    * Bit-equal to `ntile(n) OVER (ORDER BY sort)` — RfmNtileSpec pins it,
    * including ties, N % n != 0, and N < n — but every stage is parallel:
    * no row ever crosses a SinglePartition Exchange, so it survives a
    * 10⁹-row customer dimension where the global window serializes.
    * Integer `DIV` throughout (a double `floor(/)` would wobble past 2⁵³).
    */
  def distributedNtile(df: DataFrame, buckets: Int, sort: Seq[Column], out: String): DataFrame = {
    val cols = df.columns.toSeq
    val (ranked, total) = rankedWithTotal(df, sort, "__rk")
    ranked
      .withColumn(out, expr(ntileBucketSql(total, buckets, "__rk")))
      .select((cols :+ out).map(col): _*)
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
    * with a unique column) without a single-reducer sort: pass 1 of
    * [[distributedNtile]], exposed for callers that consume the rank
    * itself (curriculum ordering, prefix sums). Identical to
    * `row_number() OVER (ORDER BY sort)` but no row ever crosses a
    * SinglePartition Exchange.
    */
  def distributedRank(df: DataFrame, sort: Seq[Column], out: String): DataFrame =
    rankedWithTotal(df, sort, out)._1

  /** Exact running sums of LONG columns by `sort` (a TOTAL order) without
    * a single-reducer sort — the generic spelling of q_abc_analysis's
    * range-partitioned prefix sum: range-partition on `sort`, freeze pids,
    * per-partition running-sum windows, and the k per-partition totals
    * come back as broadcast offsets (k = shuffle partitions,
    * driver-bounded). Long addition is exact and associative, so the
    * result is bit-identical to `sum(v) OVER (ORDER BY sort ROWS
    * UNBOUNDED PRECEDING)` while no row ever crosses a SinglePartition
    * Exchange. `sums` maps input column → output running-sum column.
    */
  def distributedCumsum(
      df: DataFrame, sort: Seq[Column], sums: Seq[(String, String)]): DataFrame = {
    import df.sparkSession.implicits._
    val cols = df.columns.toSeq
    val keyed = df.repartitionByRange(sort: _*)
      .withColumn("__pid", spark_partition_id())
      .transform(materialize) // pid must be identical in both passes
    val ptots = keyed.groupBy("__pid")
      .agg(sums.map { case (in, _) => sum(col(in)).as(s"__t_$in") }.head,
        sums.tail.map { case (in, _) => sum(col(in)).as(s"__t_$in") }: _*)
      .collect()
      .map(r => (r.getInt(0), sums.indices.map(i => r.getLong(i + 1))))
      .sortBy(_._1)
    val offs = ptots.scanLeft((0, sums.map(_ => 0L).toIndexedSeq)) {
      case ((_, acc), (pid, tots)) =>
        (pid + 1, acc.zip(tots).map { case (a, t) => a + t })
    }.init.zip(ptots).map { case ((_, off), (pid, _)) => (pid, off) }
    val offDf = broadcast(offs.toSeq
      .map { case (pid, off) => (pid, off.toArray) }
      .toDF("__pid", "__offs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__pid").orderBy(sort: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val withSums = sums.zipWithIndex.foldLeft(keyed.join(offDf, "__pid")) {
      case (d, ((in, out), i)) =>
        d.withColumn(out, sum(col(in)).over(w) + element_at(col("__offs"), i + 1))
    }
    withSums.select((cols ++ sums.map(_._2)).map(col): _*)
  }

  /** Exact global ntile over SEVERAL independent orderings of ONE frame in
    * a single range exchange + checkpoint + count collect (r13, VERDICT r12
    * #1 — the multi-key rank pass). Chaining [[distributedNtile]] k times
    * costs k × (range-sample job + checkpoint + collect); here the frame is
    * replicated once per ordering MAP-SIDE (explode of a k-element struct
    * array, no join), tagged `__sid` = 1..k, and range-partitioned ONCE by
    * (__sid, value, ties…). `__sid` leads the sort, so partition ranges
    * never interleave orderings and within a __sid block the order is
    * exactly (value ASC, ties ASC) — callers encode DESC by negating the
    * value, and must pre-cast all values to ONE orderable type whose cast
    * is order-preserving and injective on the data (ints/counts < 2⁵³ cast
    * to double exactly; longs stay long when every ordering is long).
    *
    * Every ordering has exactly N = |df| rows, so
    * rank-within-ordering = global stacked rank − (__sid − 1)·N, and the
    * same SQL bucket formula as [[distributedNtile]] applies per ordering.
    * No row ever crosses a SinglePartition Exchange (same contract).
    *
    * Returns the STACKED frame: original columns + `__sid` + `out` (the
    * ordering's ntile bucket, INT). The input must not already carry
    * `out` or a helper column (`__sv`, `__sid`, `__val`, `__pid`, `__off`,
    * `__rk`); a clash fails with an IllegalArgumentException. Callers
    * either aggregate per __sid directly (q_zorder_layout's per-layout box
    * stats) or pivot back by a unique key (q_rfm_segments). Bit-equal per
    * ordering to `distributedNtile(df, buckets, Seq(value, ties…), out)` —
    * RfmNtileSpec pins it against the global-window ntile.
    */
  def stackedNtile(df: DataFrame, buckets: Int,
      values: Seq[Column], ties: Seq[Column], out: String): DataFrame = {
    import df.sparkSession.implicits._
    requireNoReserved(df, "stackedNtile", Seq("__sv", "__sid", "__val", "__pid", "__off", "__rk", out))
    val cols = df.columns.toSeq
    val k = values.size
    val stacked = df.select(cols.map(col) :+
      explode(array(values.zipWithIndex.map { case (v, i) =>
        struct(lit(i + 1).as("s"), v.as("v")) }: _*)).as("__sv"): _*)
      .select(cols.map(col) :+ col("__sv.s").as("__sid") :+ col("__sv.v").as("__val"): _*)
    val sort = col("__sid") +: col("__val") +: ties
    val keyed = stacked.repartitionByRange(sort: _*)
      .withColumn("__pid", spark_partition_id())
      .transform(materialize) // pid must be identical in both passes
    val counts = keyed.groupBy("__pid").count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val n = counts.map(_._2).sum / k.max(1) // rows per ordering = |df|
    val offs = counts.scanLeft(0L)(_ + _._2).init
      .zip(counts).map { case (off, (pid, _)) => (pid, off) }
    val offDf = broadcast(offs.toSeq.toDF("__pid", "__off"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__pid").orderBy(sort: _*)
    // global stacked rank − the ordering's block offset = rank within __sid
    val ranked = keyed.join(offDf, "__pid")
      .withColumn("__rk", row_number().over(w).cast("long") + col("__off")
        - (col("__sid").cast("long") - 1L) * n)
    ranked
      .withColumn(out, expr(ntileBucketSql(n, buckets, "__rk")))
      .select((cols :+ "__sid" :+ out).map(col): _*)
  }

  /** The shared two-pass core: range-partition on `sort`, freeze pids,
    * collect the k per-partition counts (k = shuffle partitions,
    * driver-bounded), then per-partition row_number + broadcast prefix
    * offset = the exact global rank. Returns (df + `out` rank col, N).
    */
  private def rankedWithTotal(
      df: DataFrame, sort: Seq[Column], out: String): (DataFrame, Long) = {
    import df.sparkSession.implicits._
    val cols = df.columns.toSeq
    val keyed = df.repartitionByRange(sort: _*)
      .withColumn("__pid", spark_partition_id())
      .transform(materialize) // pid must be identical in both passes
    val counts = keyed.groupBy("__pid").count()
      .collect().map(row => (row.getInt(0), row.getLong(1))).sortBy(_._1)
    val total = counts.map(_._2).sum
    val offs = counts.scanLeft(0L)(_ + _._2).init
      .zip(counts).map { case (off, (pid, _)) => (pid, off) }
    val offDf = broadcast(offs.toSeq.toDF("__pid", "__off"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__pid").orderBy(sort: _*)
    val ranked = keyed.join(offDf, "__pid")
      .withColumn(out, row_number().over(w).cast("long") + col("__off"))
      .select((cols :+ out).map(col): _*)
    (ranked, total)
  }
}
