package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.queries.QStream
import graft.sinks.LineProtocol
import graft.sources.TagConfig

/** Input/output rows of the stateful change-detection pipeline (T8). */
case class BandSample(event_id: Long, user_id: Long, ts: java.sql.Timestamp, band: Long)
case class BandChange(event_id: Long, user_id: Long, band: Long)

/** Output of the deadman pipeline (T12): a series went silent. */
case class DeadmanAlert(user_id: Long, last_seen: java.sql.Timestamp, silent_for_ms: Long)

/** Input/output rows of the streaming CUSUM pipeline (T14, r10). */
case class CusumSample(event_id: Long, user_id: Long, ts: java.sql.Timestamp, value: Double)
case class CusumAlarm(event_id: Long, user_id: Long, ts: java.sql.Timestamp,
    cusum_pos: Double, cusum_neg: Double)

/** Output of the streaming MACD pipeline (T18, r11): a histogram sign
  * flip — the trend reversal chartists act on. Emitted WITH the full MACD
  * state at the flip so the alert is self-describing. */
case class MacdCross(event_id: Long, user_id: Long, ts: java.sql.Timestamp,
    macd: Double, signal_line: Double, histogram: Double)

/** Output of the streaming EWMA control chart (T19, r11): the smoothed
  * statistic left the ±L·σ_z band around the target. */
case class EwmaAlarm(event_id: Long, user_id: Long, ts: java.sql.Timestamp,
    ewma: Double)

/** Output of the streaming HLL cardinality monitor (T20, r11): the live
  * distinct-count estimate for one series group after a micro-batch. */
case class HllEstimate(event_type: String, n_rows: Long, zeros: Int,
    hll_est: Double)

/** Output of the streaming Count-Min monitor (T21, r11): the live count
  * estimate for one watched key in one series group after a micro-batch. */
case class CmsEstimate(event_type: String, user_id: Long, cms_est: Long,
    n_rows: Long)

/** Output of the streaming histogram-quantile monitor (T22, r13): the
  * live p50/p99 estimates (histogram-bin lower bounds in integer cents)
  * for one series group after a micro-batch. */
case class HistQuantileEstimate(event_type: String, n_rows: Long,
    p50_lo_cents: Long, p99_lo_cents: Long)

/** Output of the streaming AMS F2 monitor (T23, r13): the live
  * second-moment (self-join size) estimate for one series group after a
  * micro-batch, next to the exact row count. */
case class AmsF2Estimate(event_type: String, n_rows: Long, f2_est: Long)

/** Output of the mixture-drift monitor (T17, r10): one row per (closed
  * window, source) — observed token share vs the target mixture weight. */
case class MixtureDrift(window_start: java.sql.Timestamp, source: String,
    tokens: Long, total_tokens: Long, share: Double, target: Double,
    drifted: Boolean)

/** Output of the online feature pipeline (T15, r10): one complete training
  * example per sample once the series has warmed up — the live twin of
  * q_lag_features' rows (the batch key also emits the FORWARD target;
  * online, the target for sample t−1 is simply sample t, so each arriving
  * sample completes the PREVIOUS row — `value` here is the feature row's
  * value, `target` the sample that closed it). */
case class FeatureRow(event_id: Long, user_id: Long, value: Double,
    lag1: Double, lag2: Double, roll_mean5: Double, target: Double)

/** T15 state: samples seen, the last ≤5 values (chronological), and the
  * warmed-up feature row awaiting its forward target. */
case class FeatState(n: Long, ring: Seq[Double],
    pend: Option[(Long, Double, Double, Double, Double)])

/** Structured-Streaming assembly — SURVEY.md §2.9.
  *
  * The reference's runtime model maps as (SURVEY §3.1):
  *  - process-per-PLC (Linux/InfluxConnector2.py:288-291) → source
  *    partitions, tasks scheduled across executors;
  *  - thread-per-interval-group (:197-209) → one StreamingQuery per
  *    interval group, independent ProcessingTime triggers sharing one
  *    session (T1/T2);
  *  - adaptive sleep(interval − elapsed) (:177-186) → Trigger.ProcessingTime
  *    does elapsed-compensated pacing natively (T1);
  *  - reconnect-on-error loop (:187-195) → checkpointLocation + restart
  *    (T10); graceful stop event (:115-116) → query.stop() (T11).
  *
  * Streaming transforms reuse the oracle-checked batch twins in
  * [[QStream]] — one plan, two execution modes; parity is asserted by
  * StreamingParitySpec over MemoryStream inputs.
  */
object Pipelines {

  /** Deterministic fold order inside one micro-batch group: (ts, event_id).
    * Spark hands flatMapGroupsWithState an UNORDERED iterator over the
    * group's slice of the CURRENT micro-batch, so the fold buffers and
    * sorts that slice on the executor. The buffer is bounded by micro-batch
    * size (trigger interval × per-series ingest rate), NOT by stream
    * history — the O(1)-state claims of these folds refer to the
    * checkpointed per-series state, which never grows; intra-batch
    * buffering is the standard cost of ordered stateful folds.
    */
  private def eventTimeOrdered[T](it: Iterator[T])(key: T => (Long, Long)): Seq[T] =
    it.toSeq.sortBy(key)

  /** T4 + T7: watermarked tumbling aggregation over a streaming frame. */
  def tumbling(stream: DataFrame, watermark: String = "30 seconds"): DataFrame =
    QStream.tumbling(stream.withWatermark("ts", watermark))

  /** T6 + T7: watermarked session windows. */
  def session(stream: DataFrame, watermark: String = "30 seconds"): DataFrame =
    QStream.session(stream.withWatermark("ts", watermark))

  /** T9: streaming dedup — state bounded by the watermark horizon. */
  def dedup(stream: DataFrame, watermark: String = "30 seconds"): DataFrame =
    stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("event_id")

  /** T9 + r10: streaming INCREMENTAL dedup — the streaming twin of
    * q_dedup_incremental's exact layer. Arriving docs (doc_id, ts, text)
    * are dropped when their content hash already exists in the ingested
    * snapshot (stream-static LEFT ANTI join against the snapshot's hash
    * index — broadcastable when the index is a compacted store artifact,
    * re-read per micro-batch so a snapshot refresh is picked up without a
    * restart), then deduped WITHIN the stream on the same hash, state
    * bounded by the watermark horizon. The near-dup banded layer stays a
    * batch store artifact (the VectorIndexStore tick pattern): streaming
    * it would mean unbounded signature state for no recall gain at the
    * micro-batch cadence.
    *
    * `snapshot` must expose a text column; only its hash is joined.
    */
  def incrementalDedup(stream: DataFrame, snapshot: DataFrame,
      watermark: String = "30 seconds"): DataFrame = {
    val snapHashes = snapshot.select(md5(col("text")).as("h")).distinct()
    stream.withColumn("h", md5(col("text")))
      .withWatermark("ts", watermark)
      .join(snapHashes, Seq("h"), "left_anti")
      .dropDuplicatesWithinWatermark("h")
      .drop("h")
  }

  /** T8: stateful write-on-change — one Long of state per series (the
    * last emitted value band), kept by flatMapGroupsWithState; a row is
    * emitted only when its band differs. State is O(|series|), not
    * O(rows): exactly the reference's m_value cache (InfluxConnector2
    * .py:53,173) lifted to distributed, checkpointed state. Batch twin:
    * [[QStream.changeBands]] (oracle-checked as q_change_detect).
    *
    * Rows inside one micro-batch group are folded in (ts, event_id)
    * order, so replays and batch/stream runs agree as long as batches
    * arrive in event-time order (the source's tick order).
    */
  def changeDetect(stream: DataFrame): Dataset[BandChange] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col("event_id"), col("user_id"), col("ts"),
        floor(col("value") / 100).cast("long").as("band"))
      .as[BandSample]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: Long, it: Iterator[BandSample], state: GroupState[Long]) => {
          val sorted = eventTimeOrdered(it)(e => (e.ts.getTime, e.event_id))
          var last: Option[Long] = if (state.exists) Some(state.get) else None
          val out = sorted.flatMap { e =>
            if (last.contains(e.band)) None
            else { last = Some(e.band); Some(BandChange(e.event_id, e.user_id, e.band)) }
          }
          last.foreach(state.update)
          out.iterator
        })
  }

  /** T12 (r9): deadman / offline alert — the STREAMING twin of
    * q_gap_report ("the PLC stopped reporting"), built on the one
    * stateful mechanism the other pipelines don't exercise: EVENT-TIME
    * TIMEOUTS. Each series keeps one Long of state (last-seen event
    * time) and arms a timeout at last_seen + gap; when the watermark
    * passes it with no new sample, the group fires with an empty
    * iterator and emits exactly one alert, then clears state so a
    * returning series re-arms cleanly. Batch never has to scan for
    * silence — silence itself schedules the work (state O(|series|),
    * alerts ≪ corpus, the same scale story as the batch report).
    */
  def deadman(stream: DataFrame, gapMs: Long = 60000L,
      watermark: String = "30 seconds"): Dataset[DeadmanAlert] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts")).as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, it: Iterator[(Long, java.sql.Timestamp)], state: GroupState[Long]) => {
          if (state.hasTimedOut) {
            val last = state.get
            state.remove() // alert once; the next sample re-arms
            // Report the OBSERVED silence, not the configured gap: the
            // watermark may be well past last + gap when the timeout fires
            // (ADVICE r9 — the field previously always echoed gapMs).
            val silent = math.max(state.getCurrentWatermarkMs() - last, gapMs)
            Iterator.single(DeadmanAlert(uid, new java.sql.Timestamp(last), silent))
          } else {
            val maxTs = it.map(_._2.getTime)
              .foldLeft(state.getOption.getOrElse(Long.MinValue))(math.max)
            state.update(maxTs)
            // a timeout must sit beyond the current watermark; a series
            // already silent past gap when first seen fires next batch
            state.setTimeoutTimestamp(
              math.max(maxTs + gapMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
        })
  }

  /** T14 (r10): streaming CUSUM drift alarms — the LIVE twin of the batch
    * q_cusum control chart (same recurrence, same constants): each series
    * carries exactly (s⁺, s⁻, alarms) in checkpointed state — O(1) per
    * series, the scale story the batch fold earns via its streaming
    * group-adjacent pass — and a row is EMITTED only when a side exceeds
    * the alarm band after its update (alarms ≪ samples, like the deadman).
    * Rows inside one micro-batch group fold in (ts, event_id) order, so a
    * stream fed in event-time order reproduces the batch fold exactly;
    * CusumStreamSpec pins terminal state and alarm count against
    * [[graft.functions.Cusum.cusumByKey]] across multi-batch feeds.
    */
  def cusumAlerts(stream: DataFrame, target: Double = 50.0, slack: Double = 2.0,
      band: Double = 100.0): Dataset[CusumAlarm] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col("event_id"), col("user_id"), col("ts"), col("value").cast("double").as("value"))
      .as[CusumSample]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[CusumSample], state: GroupState[(Double, Double, Long)]) => {
          val sorted = eventTimeOrdered(it)(e => (e.ts.getTime, e.event_id))
          var (sp, sn, alarms) = state.getOption.getOrElse((0.0, 0.0, 0L))
          val out = sorted.flatMap { e =>
            sp = math.max(0.0, sp + (e.value - target) - slack)
            sn = math.max(0.0, sn - (e.value - target) - slack)
            if (sp > band || sn > band) {
              alarms += 1
              Some(CusumAlarm(e.event_id, uid, e.ts, sp, sn))
            } else None
          }
          state.update((sp, sn, alarms))
          out.iterator
        })
  }

  /** T18 (r11): streaming MACD trend-flip alerts — the LIVE twin of the
    * batch q_macd fold ([[graft.functions.Macd.macdByKey]]): identical
    * recurrence and constants (12/26/9-period EMAs, both fast EMAs seeded
    * at the series' first value), all three EMAs carried in ONE
    * checkpointed state tuple — O(1) per series, the SeriesFold contract
    * live. A row is EMITTED only when the histogram changes sign after an
    * update (crossings ≪ samples, the cusumAlerts shape). Rows inside one
    * micro-batch group fold in (ts, event_id) order, so a stream fed in
    * event-time order reproduces the batch fold exactly; MacdStreamSpec
    * pins crossing counts and crossing-point state against the batch fold
    * across multi-batch feeds, including a checkpointed restart.
    *
    * State: (ef, es, m, sg, n). n distinguishes "no samples yet" (seed the
    * EMAs at the first value) from "warm" — the batch seed convention.
    */
  def macdCrossings(stream: DataFrame): Dataset[MacdCross] = {
    import graft.functions.Macd.{AlphaFast, AlphaSlow, AlphaSig}
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col("event_id"), col("user_id"), col("ts"), col("value").cast("double").as("value"))
      .as[CusumSample]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[CusumSample], state: GroupState[(Double, Double, Double, Double, Long)]) => {
          val sorted = eventTimeOrdered(it)(e => (e.ts.getTime, e.event_id))
          var (ef, es, m, sg, n) = state.getOption.getOrElse((0.0, 0.0, 0.0, 0.0, 0L))
          val out = sorted.flatMap { e =>
            if (n == 0L) { ef = e.value; es = e.value; m = 0.0; sg = 0.0; n = 1L; None }
            else {
              ef += AlphaFast * (e.value - ef)
              es += AlphaSlow * (e.value - es)
              val m2 = ef - es
              val sg2 = sg + AlphaSig * (m2 - sg)
              val crossed = (m2 - sg2) * (m - sg) < 0
              m = m2; sg = sg2; n += 1
              if (crossed) Some(MacdCross(e.event_id, uid, e.ts, m, sg, m - sg)) else None
            }
          }
          state.update((ef, es, m, sg, n))
          out.iterator
        })
  }

  /** T19 (r11): streaming EWMA control chart — the LIVE twin of the batch
    * q_ewma_chart fold (QInflux.scala): z ← λ·v + (1−λ)·z with λ = 0.2
    * seeded at the target 50.0 (so the FIRST sample already updates z, the
    * batch seed convention), alarm when |z − 50| > L·σ_z for L = 3,
    * σ_z = σ·sqrt(λ/(2−λ)), σ = 10. One (z, alarms) tuple of checkpointed
    * state per series; rows emit only on alarm. EwmaStreamSpec pins alarm
    * counts and alarm-point z against the batch fold across multi-batch
    * feeds.
    */
  def ewmaAlerts(stream: DataFrame, lambda: Double = 0.2, target: Double = 50.0,
      band: Double = 3.0 * (10.0 * math.sqrt(0.2 / 1.8))): Dataset[EwmaAlarm] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(col("event_id"), col("user_id"), col("ts"), col("value").cast("double").as("value"))
      .as[CusumSample]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[CusumSample], state: GroupState[(Double, Long)]) => {
          val sorted = eventTimeOrdered(it)(e => (e.ts.getTime, e.event_id))
          var (z, alarms) = state.getOption.getOrElse((target, 0L))
          val out = sorted.flatMap { e =>
            z = lambda * e.value + (1.0 - lambda) * z
            if (math.abs(z - target) > band) {
              alarms += 1
              Some(EwmaAlarm(e.event_id, uid, e.ts, z))
            } else None
          }
          state.update((z, alarms))
          out.iterator
        })
  }

  /** T20 (r11): streaming HLL cardinality monitor — the LIVE twin of the
    * batch q_hll_sketch (A18): per series group, 64 HyperLogLog registers
    * carried in checkpointed state (the whole point of a sketch: the live
    * distinct-user panel costs 64 bytes per group FOREVER, where a
    * streaming COUNT(DISTINCT) grows state with every new key), updated
    * with the SAME xor-shift avalanche hash and trailing-zero ranks, one
    * estimate row emitted per (group, micro-batch). HllStreamSpec pins the
    * terminal estimate bit-equal to the batch key over the same rows.
    * Input columns: event_type STRING, user_id LONG.
    */
  /** `minRelDelta` (r12, VERDICT r11 #7) bounds the EMIT volume: a row
    * emits only when the estimate moved by more than
    * `minRelDelta · max(lastEmitted, 1)` since the last emission (a
    * group's first estimate always emits). At the default 0.0 that means
    * "emit on any change": a micro-batch of already-seen users leaves
    * every register untouched and emits NOTHING — a quiet panel no longer
    * accretes one sink row per group per micro-batch forever. The
    * terminal-estimate parity contract is unchanged: the last emitted row
    * always carries the current estimate (no change since = nothing
    * withheld).
    */
  def hllMonitor(stream: DataFrame, minRelDelta: Double = 0.0): Dataset[HllEstimate] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream.select(col("event_type"), col("user_id").cast("long").as("user_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (etype: String, it: Iterator[(String, Long)],
         state: GroupState[(Array[Int], Long, Double)]) => {
          // lastEst < 0 marks "never emitted" (estimates are always ≥ 0)
          var (regs, n, lastEst) = state.getOption.getOrElse((new Array[Int](64), 0L, -1.0))
          for ((_, u) <- it) {
            // EXACTLY the q_hll_sketch arithmetic (QAgg.scala): two
            // multiply-mod-2^31 rounds with xor-of-high-bits between
            val x1 = (u * 2654435761L) % 2147483648L
            val x2 = x1 ^ (x1 / 32768L)
            val x3 = (x2 * 2246822519L) % 2147483648L
            val g = x3 ^ (x3 / 8192L)
            val reg = (g % 64L).toInt
            val h2 = g / 64L
            val rank =
              if (h2 == 0L) 25
              else math.min(java.lang.Long.numberOfTrailingZeros(h2) + 1, 25)
            if (rank > regs(reg)) regs(reg) = rank
            n += 1
          }
          val zeros = regs.count(_ == 0)
          val sp = regs.filter(_ > 0).map(m => 1.0 / (1L << m)).sum
          val s = sp + zeros
          val estRaw = 0.709 * 4096.0 / s
          val est = if (estRaw <= 160.0 && zeros > 0) 64.0 * math.log(64.0 / zeros)
                    else estRaw
          val moved = lastEst < 0.0 ||
            math.abs(est - lastEst) > minRelDelta * math.max(lastEst, 1.0)
          if (moved && est != lastEst) {
            state.update((regs, n, est))
            Iterator.single(HllEstimate(etype, n, zeros, est))
          } else {
            state.update((regs, n, lastEst))
            Iterator.empty
          }
        })
  }

  /** T21 (r11): streaming Count-Min watch-list monitor — the LIVE twin of
    * the batch q_heavy_hitters_cms (A19): per series group, a 4×512
    * integer counter grid carried in checkpointed state (8 KB per group
    * forever — an exact per-key streaming count grows state with every
    * new key), updated with the SAME four hash rows as the batch sketch,
    * and the current min-cell estimate for each key on the caller's
    * WATCH LIST emitted every micro-batch (the panel shape: "show me
    * these 10 devices' live event counts"). CMS error stays one-sided
    * (est ≥ true count) across batch boundaries because the grid is
    * merged by addition. CmsStreamSpec pins terminal estimates bit-equal
    * to the batch sketch over the same rows.
    * Input columns: event_type STRING, user_id LONG.
    */
  /** `minRelDelta` (r12, VERDICT r11 #7): a watched key emits only when
    * its estimate moved by more than `minRelDelta · max(lastEmitted, 1)`
    * since its last emission (first sight always emits) — at the default
    * 0.0, "emit on any change": a micro-batch whose rows touch none of a
    * watched key's four cells emits nothing for it, so background traffic
    * no longer replays the whole watch list every batch. The last emitted
    * estimate per key is always current (unchanged since = withheld
    * nothing); the one-sided est ≥ exact invariant is per-emission as
    * before.
    */
  def cmsMonitor(stream: DataFrame, watch: Seq[Long],
      minRelDelta: Double = 0.0): Dataset[CmsEstimate] = {
    val spark = stream.sparkSession
    import spark.implicits._
    import graft.queries.QAgg.{CmsA, CmsB}
    def cells(u: Long): Array[Int] =
      CmsA.indices.map(i => (((CmsA(i) * u + CmsB(i)) % 1000000007L) % 512L).toInt).toArray
    stream.select(col("event_type"), col("user_id").cast("long").as("user_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (etype: String, it: Iterator[(String, Long)],
         state: GroupState[(Array[Long], Long, Array[Long])]) => {
          // lastEmit aligns with the watch list; -1 marks "never emitted"
          var (grid, n, lastEmit) = state.getOption.getOrElse(
            (new Array[Long](4 * 512), 0L, Array.fill(watch.size)(-1L)))
          for ((_, u) <- it) {
            val cs = cells(u)
            var i = 0
            while (i < 4) { grid(i * 512 + cs(i)) += 1L; i += 1 }
            n += 1
          }
          val out = watch.zipWithIndex.flatMap { case (u, wi) =>
            val cs = cells(u)
            val est = CmsA.indices.map(i => grid(i * 512 + cs(i))).min
            val last = lastEmit(wi)
            val moved = last < 0L ||
              math.abs(est - last).toDouble > minRelDelta * math.max(last, 1L).toDouble
            if (moved && est != last) { lastEmit(wi) = est; Some(CmsEstimate(etype, u, est, n)) }
            else None
          }
          state.update((grid, n, lastEmit))
          out.iterator
        })
  }

  /** T22 (r13): streaming histogram-QUANTILE monitor — the LIVE twin of
    * the batch q_hist_quantiles (A24): per series group, the fixed
    * equi-width bin counts (integer cents div `binWidth`) carried in
    * checkpointed state — bounded by domain/binWidth bins FOREVER (4096
    * at the batch key's domain), where an exact streaming percentile
    * would buffer every value — with the live p50/p99 inverted from the
    * bin CDF after each micro-batch using EXACTLY the batch arithmetic:
    * cents = floor(value·100 + 0.5), target rank r = ceil(n·p/1000)
    * all-integer, estimate = lower bound of the first bin whose
    * cumulative count reaches r. Quantile estimates are integers, so the
    * emit gate is exact change detection: a micro-batch that moves
    * neither estimate emits nothing (the r12 emit-volume bound).
    * HistStreamSpec pins terminal estimates bit-equal to the
    * oracle-verified batch key over the same rows.
    * Input columns: event_type STRING, value DOUBLE.
    */
  def histQuantileMonitor(stream: DataFrame,
      binWidth: Long = 2600L): Dataset[HistQuantileEstimate] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream.select(col("event_type"), col("value").cast("double").as("value"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (etype: String, it: Iterator[(String, Double)],
         state: GroupState[(Map[Int, Long], Long, Long, Long)]) => {
          var (bins, n, lastP50, lastP99) =
            state.getOption.getOrElse((Map.empty[Int, Long], 0L, -1L, -1L))
          for ((_, v) <- it) {
            val cents = math.floor(v * 100 + 0.5).toLong
            val bin = (cents / binWidth).toInt
            bins = bins.updated(bin, bins.getOrElse(bin, 0L) + 1L)
            n += 1
          }
          if (n == 0L) Iterator.empty
          else {
            // invert the bin CDF at p∈{500, 990} permille — the batch
            // key's exact integer spelling on the bounded bin frame
            def invert(p: Long): Long = {
              val r = (n * p + 999L) / 1000L
              var cum = 0L
              val sorted = bins.toSeq.sortBy(_._1)
              val hit = sorted.find { case (_, c) => cum += c; cum >= r }
              hit.map(_._1.toLong * binWidth).getOrElse(Long.MinValue)
            }
            val p50 = invert(500L)
            val p99 = invert(990L)
            val moved = p50 != lastP50 || p99 != lastP99
            state.update((bins, n, p50, p99))
            if (moved) Iterator.single(HistQuantileEstimate(etype, n, p50, p99))
            else Iterator.empty
          }
        })
  }

  /** T23 (r13): streaming AMS F2 monitor — the LIVE twin of the batch
    * q_ams_f2 (A25): per series group, the 96 ±1-sign sums carried in
    * checkpointed state (768 bytes per group FOREVER — the live
    * "how big would a self-join on this key be" / skew panel, where an
    * exact F2 needs every key's count), updated with the SAME generated
    * estimator constants and avalanche hash, estimate = median-of-means
    * (mean per 32, median-of-3 by sum−max−min) exactly as the batch key
    * spells it. Sign sums are plain integer additions — order-independent
    * — so the terminal estimate is bit-equal to the batch sketch over the
    * same rows regardless of micro-batch boundaries (AmsStreamSpec pins
    * it). Estimates are integers: the emit gate is exact change detection
    * scaled by `minRelDelta` (first estimate always emits).
    * Input columns: event_type STRING, user_id LONG.
    */
  /** The q_ams_f2 generated estimator constants, precomputed once:
    * (odd multiplier a_j, offset b_j) for j in 0..95. */
  private val AmsConsts: Array[(Long, Long)] = Array.tabulate(96) { j =>
    val r = (1103515245L + j * 2654435761L) % 2147483648L
    (r + (1L - r % 2L), (12345L + j * 99991L) % 2147483648L)
  }

  def amsMonitor(stream: DataFrame, minRelDelta: Double = 0.0): Dataset[AmsF2Estimate] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream.select(col("event_type"), col("user_id").cast("long").as("user_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (etype: String, it: Iterator[(String, Long)],
         state: GroupState[(Array[Long], Long, Long)]) => {
          var (sums, n, lastEst) = state.getOption.getOrElse((new Array[Long](96), 0L, -1L))
          for ((_, u) <- it) {
            var j = 0
            while (j < 96) {
              // EXACTLY the q_ams_f2 arithmetic (QAgg.scala): generated
              // odd multiplier + offset, two multiply-mod-2^31 rounds
              val (a, b) = AmsConsts(j)
              // pre-fold to 31 bits like the batch key (overflow guard)
              val x1 = ((u % 2147483648L) * a + b) % 2147483648L
              val x2 = x1 ^ (x1 / 32768L)
              val x3 = (x2 * 2246822519L) % 2147483648L
              sums(j) += 1L - 2L * ((x3 ^ (x3 / 8192L)) % 2L)
              j += 1
            }
            n += 1
          }
          val gm = (0 until 3).map { g =>
            var acc = 0L
            var j = g * 32
            while (j < (g + 1) * 32) { acc += sums(j) * sums(j); j += 1 }
            acc / 32L
          }
          val est = gm.sum - gm.max - gm.min
          val moved = lastEst < 0L ||
            math.abs(est - lastEst).toDouble > minRelDelta * math.max(lastEst, 1L).toDouble
          if (moved && est != lastEst) {
            state.update((sums, n, est))
            Iterator.single(AmsF2Estimate(etype, n, est))
          } else {
            state.update((sums, n, lastEst))
            Iterator.empty
          }
        })
  }

  /** T15 (r10): ONLINE supervised-feature materialization — the live twin
    * of q_lag_features (W16): per series, each arriving sample completes
    * the previous sample's training row (the forward target is simply the
    * next observation), and rows emit only once the series has warmed up
    * (5 samples), exactly the batch key's rn ≥ 5 ∧ target-not-null cut.
    * State per series is O(1): the last ≤5 values + one pending row —
    * the streaming feature-store shape (features computed once at ingest,
    * identical to what batch backfill computes; OnlineFeaturesSpec pins
    * stream ≡ batch on multi-batch feeds). roll_mean5 rounds HALF_UP at
    * scale 4 like the batch column.
    */
  def onlineFeatures(stream: DataFrame): Dataset[FeatureRow] = {
    val spark = stream.sparkSession
    import spark.implicits._
    def round4(x: Double): Double =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    stream
      .select(col("event_id"), col("user_id"), col("ts"), col("value").cast("double").as("value"))
      .as[CusumSample]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[CusumSample], state: GroupState[FeatState]) => {
          val sorted = eventTimeOrdered(it)(e => (e.ts.getTime, e.event_id))
          var st = state.getOption.getOrElse(FeatState(0L, Nil, None))
          val out = scala.collection.mutable.ArrayBuffer.empty[FeatureRow]
          for (e <- sorted) {
            st.pend.foreach { case (id, v, l1, l2, m) =>
              out += FeatureRow(id, uid, v, l1, l2, m, e.value)
            }
            val ring = (st.ring :+ e.value).takeRight(5)
            val n = st.n + 1
            val pend =
              if (n >= 5) Some((e.event_id, e.value, ring(3), ring(2), round4(ring.sum / 5)))
              else None
            st = FeatState(n, ring, pend)
          }
          state.update(st)
          out.iterator
        })
  }

  /** T13 (r9): stream–stream INTERVAL JOIN — correlate live samples with a
    * second live stream (operator commands / alarms) on the series key
    * within a ±`toleranceSec` event-time band. Both sides are watermarked,
    * and the join condition's time band is exactly what lets Spark bound
    * the join state: a buffered row can be dropped once the other side's
    * watermark passes its band (without the band, state grows forever).
    * Inner join → a correlation emits only when both sides arrive; the
    * band + watermark give the late-data contract.
    */
  def correlate(samples: DataFrame, commands: DataFrame,
      toleranceSec: Int = 60, watermark: String = "30 seconds"): DataFrame = {
    val e = samples.select(col("event_id"), col("user_id"), col("ts"))
      .withWatermark("ts", watermark)
    val c = commands.select(col("cmd_id"), col("user_id").as("cmd_user"),
      col("cts"), col("action")).withWatermark("cts", watermark)
    e.join(c, col("user_id") === col("cmd_user") &&
      col("cts") >= col("ts") - expr(s"INTERVAL $toleranceSec SECONDS") &&
      col("cts") <= col("ts") + expr(s"INTERVAL $toleranceSec SECONDS"))
      .select(col("event_id"), col("cmd_id"), col("user_id"), col("ts"), col("cts"),
        col("action"))
  }

  /** Parse the reference's interval enum ('min', '1s' … '300s',
    * ConfigApp.py:187) into a trigger; 'min' = as-fast-as-possible (T1).
    */
  def triggerFor(interval: String): Trigger = interval.trim match {
    case "min" => Trigger.ProcessingTime(0L)
    case s     => Trigger.ProcessingTime(s"${s.stripSuffix("s")} seconds")
  }

  /** A9 streaming: continuous-query materialization — InfluxDB CQs
    * (`GROUP BY time(1m)` maintained as data arrives, README.md:3) as a
    * watermarked streaming rollup persisted per micro-batch. Append mode
    * emits each window once, when the watermark finalizes it; every batch
    * OVERWRITES its own `batch=<id>` directory, so a replayed micro-batch
    * (foreachBatch is at-least-once) is idempotent — same contract as
    * [[graft.sinks.LineProtocol.append]]. Readers scan the root; `batch`
    * is just a partition column.
    */
  def continuousDownsample(stream: DataFrame, outDir: String, checkpointDir: String,
      window_ : String = "1 minute", watermark: String = "2 minutes"): StreamingQuery = {
    val rollup = stream.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(avg(col("value")).as("mean_value"), count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("event_type"), col("mean_value"), col("n"))
    rollup.writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch=$id")
      }
      .queryName("graft-cq-downsample")
      .start()
  }

  /** A9 streaming via the TEXTUAL surface: InfluxDB's
    * `CREATE CONTINUOUS QUERY … BEGIN SELECT … GROUP BY time(n) END`
    * planned onto a watermarked streaming aggregate
    * ([[graft.influxql.InfluxQLPlanner.continuous]]) — sink it like
    * [[continuousDownsample]]. Batch/stream parity by construction (one
    * code path), asserted in StreamingParitySpec.
    */
  def continuousFromInfluxQL(stream: DataFrame, cq: String,
      watermark: String = "2 minutes"): DataFrame =
    graft.influxql.InfluxQLPlanner.continuous(stream, cq, watermark)

  /** Stream-stream enrichment (beyond the reference's static catalog):
    * decoded points joined to a live config-UPDATE stream — e.g. alias
    * renames pushed while ingest runs. A watermarked interval join:
    * an update tagged `uts` applies to points with
    * `uts <= ts < uts + validity`; both sides' state is bounded by the
    * watermark + the validity horizon, so this runs indefinitely with
    * O(validity-window) state per key — Spark's stream-stream join
    * machinery does the state expiry.
    *
    * points:  (ts TIMESTAMP, measurement STRING, tag_idx INT, value DOUBLE)
    * updates: (uts TIMESTAMP, u_plc STRING, u_idx INT, u_alias STRING)
    */
  def joinConfigUpdates(points: DataFrame, updates: DataFrame,
      validity: String = "10 minutes", watermark: String = "1 minute"): DataFrame =
    points.withWatermark("ts", watermark)
      .join(updates.withWatermark("uts", watermark),
        expr(s"""measurement = u_plc AND tag_idx = u_idx AND
                |uts <= ts AND ts < uts + interval $validity""".stripMargin))
      .select(col("ts"), col("measurement"), col("u_alias").as("alias"), col("value"))

  /** S2 → P5 → P2: the full simulated ingestion stream — DSv2 source
    * emitting raw S7 buffers, decoded by the native DecodeS7 expression
    * into the point shape (ts, measurement, alias, value), null decodes
    * dropped (P4, ref InfluxConnector2.py:172).
    */
  def s7DecodedStream(spark: SparkSession, plcs: Seq[String], tagsPerPlc: Int = 4,
      intervalMs: Long = 1000L, sourceOptions: Map[String, String] = Map.empty): DataFrame =
    decodedStream(spark, Map("plcs" -> plcs.mkString(","), "tagsPerPlc" -> tagsPerPlc.toString,
      "intervalMs" -> intervalMs.toString) ++ sourceOptions)

  private def decodedStream(spark: SparkSession, sourceOptions: Map[String, String]): DataFrame = {
    graft.functions.DecodeS7.register(spark)
    spark.readStream
      .format("graft.sources.S7SimSource")
      .options(sourceOptions)
      .load()
      .select(col("ts"), col("plc").as("measurement"), col("alias"),
        expr("decode_s7(buf, type_code, bit)").as("value"))
      .filter(col("value").isNotNull)
  }

  /** The complete reference dataflow as ONE assembly (SURVEY §3.1):
    * S1 config scan → S2 device source polling the catalog's active
    * registers under their aliases (P1 active filter + alias mapping,
    * pushed into the read) → D3 native decode → P2 point projection → S3
    * batched line-protocol sink. See [[enrichedPoints]].
    */
  def ingest(spark: SparkSession, configXml: String, outDir: String,
      checkpointDir: String, trigger: Trigger = Trigger.AvailableNow(),
      sourceOptions: Map[String, String] = Map.empty): StreamingQuery =
    LineProtocol.formatPoints(enrichedPoints(spark, configXml, sourceOptions))
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch((batch: DataFrame, id: Long) => LineProtocol.append(outDir)(batch, id))
      .queryName("graft-ingest")
      .start()

  /** The same assembly sunk into the queryable point store by
    * PointStore.writePartitioned (each task's files renamed into place by
    * the store's append commit), which [[graft.influxql.InfluxQLPlanner.sqlStore]]
    * queries back: the reference's full loop (poll → decode → store →
    * InfluxQL → Grafana) in one library. NOTE the store append is
    * at-least-once across batch REPLAYS (a restarted failed batch
    * re-appends); production would suffix files with the batch id and prune
    * on read, or sink to a transactional table format — the line-protocol
    * sink shows the batchId-idempotent pattern.
    */
  def ingestToStore(spark: SparkSession, configXml: String, storeDir: String,
      checkpointDir: String, trigger: Trigger = Trigger.AvailableNow(),
      sourceOptions: Map[String, String] = Map.empty): StreamingQuery =
    enrichedPoints(spark, configXml, sourceOptions)
      .writeStream.outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch((batch: DataFrame, _: Long) =>
        graft.sinks.PointStore.writePartitioned(batch, storeDir))
      .queryName("graft-ingest-store")
      .start()

  /** The decoded + config-enriched point stream shared by both ingest
    * sinks, (ts, measurement, alias, value). The catalog is the source's
    * `catalog` option: each PLC polls only its active tags, each at its
    * catalog position and under its alias (the reference reads registers
    * in catalog order too, InfluxConnector2.py:139-170, :263-264), so the
    * stream has no join, no broadcast and no shuffle.
    */
  def enrichedPoints(spark: SparkSession, configXml: String,
      sourceOptions: Map[String, String] = Map.empty): DataFrame =
    decodedStream(spark, sourceOptions + ("catalog" -> configXml))

  /** T17 (r10): streaming MIXTURE-DRIFT monitor — the live twin of the
    * batch mixture keys (q_mixture_sample/temperature/epochs): as docs
    * stream in, each tumbling event-time window accumulates per-source
    * token counts in ONE map of state keyed by window start; when the
    * watermark closes the window (event-time timeout, the deadman
    * mechanism), it emits one row per source with its observed token
    * share vs the target mixture weight and a drift flag — the alert a
    * training-data ingest pipeline pages on when a feed silently dries
    * up or floods (a mixture bug upstream of every quality metric).
    * State is O(windows-in-flight × sources), emitted rows are k per
    * window — both corpus-size-independent. Targeted sources absent
    * from a window still emit (share 0, drifted if target > tol) —
    * a vanished feed is exactly the alert that matters.
    */
  def mixtureMonitor(stream: DataFrame, targets: Map[String, Double],
      tol: Double, windowMs: Long = 60000L, watermark: String = "30 seconds")
      : Dataset[MixtureDrift] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream.withWatermark("ts", watermark)
      .select(col("ts"), col("source"), col("n_tokens"))
      .as[(java.sql.Timestamp, String, Long)]
      // the watermarked ts column must survive into the stateful operator;
      // the window key is derived in groupByKey, not a projection
      .groupByKey(r => math.floorDiv(r._1.getTime, windowMs) * windowMs)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (wstart: Long, it: Iterator[(java.sql.Timestamp, String, Long)],
         state: GroupState[Map[String, Long]]) => {
          if (state.hasTimedOut) {
            val counts = state.get
            state.remove()
            val total = counts.values.sum
            (counts.keySet ++ targets.keySet).toSeq.sorted.iterator.map { src =>
              val tok = counts.getOrElse(src, 0L)
              val share = if (total == 0) 0.0 else tok.toDouble / total
              val target = targets.getOrElse(src, 0.0)
              MixtureDrift(new java.sql.Timestamp(wstart), src, tok, total,
                share, target, math.abs(share - target) > tol)
            }
          } else {
            val merged = it.foldLeft(state.getOption.getOrElse(Map.empty[String, Long])) {
              case (m, (_, src, tok)) => m.updated(src, m.getOrElse(src, 0L) + tok)
            }
            state.update(merged)
            // close when the watermark passes window end; a window first
            // seen already past its end closes next batch
            state.setTimeoutTimestamp(
              math.max(wstart + windowMs, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
        })
  }

  /** T2: per-interval query fan-out. Groups active tags by interval (ref
    * group_by_interval, InfluxConnector2.py:85-94) and starts one
    * line-protocol-sinked StreamingQuery per group, each with its own
    * trigger cadence and checkpoint. `mkStream` builds the source frame
    * for one interval group (so tests can inject MemoryStream and prod
    * can bind the s7sim DSv2 source).
    */
  def intervalFanOut(
      spark: SparkSession,
      tags: Seq[TagConfig],
      mkStream: Seq[TagConfig] => DataFrame,
      outDir: String,
      checkpointRoot: String): Seq[StreamingQuery] = {
    val groups = tags.filter(_.active).groupBy(_.interval).toSeq.sortBy(_._1)
    groups.map { case (interval, groupTags) =>
      val lines = LineProtocol.formatPoints(mkStream(groupTags))
      lines.writeStream
        .outputMode("append")
        .trigger(triggerFor(interval))
        .option("checkpointLocation", s"$checkpointRoot/$interval")
        .foreachBatch((batch: DataFrame, id: Long) =>
          LineProtocol.append(s"$outDir/interval=$interval")(batch, id))
        .queryName(s"graft-interval-$interval")
        .start()
    }
  }
}
