package graft.influxql

import graft.SparkTestBase
import InfluxQLAst._

/** Parser unit tests (AST shapes + rejection of invalid queries) and
  * planner semantics the oracle queries don't cover (fill(value), OFFSET,
  * bound normalization, measurement validation).
  */
class InfluxQLSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  // ---- parser -------------------------------------------------------------

  test("parses the full clause set into the expected AST") {
    val q = InfluxQLParser.parseSelect(
      """SELECT MEAN(value) AS m, COUNT(value) FROM events
        |WHERE time >= '2024-01-01' AND time < '2024-01-08' AND event_type = 'click'
        |GROUP BY time(1h), user_id fill(previous)
        |ORDER BY time DESC LIMIT 10 OFFSET 5""".stripMargin)
    assert(q.fields == Seq(
      FnField("mean", "value", None, Some("m")),
      FnField("count", "value", None, None)))
    assert(q.measurement == "events")
    assert(q.where == Seq(
      TimeCond(">=", 1704067200000000000L),
      TimeCond("<", 1704672000000000000L),
      TagCond("event_type", "=", "click")))
    assert(q.groupTimeNs.contains(3600000000000L))
    assert(q.groupTags == Seq("user_id"))
    assert(q.fill == FillPrevious)
    assert(q.orderDesc && q.limit.contains(10) && q.offset.contains(5))
  }

  test("duration units (ns-native): s/m/d/w plus ms/u/µ/us; sub-µs grids rejected") {
    def dur(d: String): Long =
      InfluxQLParser.parseSelect(s"SELECT COUNT(value) FROM events GROUP BY time($d)")
        .groupTimeNs.get
    assert(dur("90s") == 90000000000L)
    assert(dur("5m") == 300000000000L)
    assert(dur("1d") == 86400000000000L)
    assert(dur("1w") == 604800000000000L)
    assert(dur("500ms") == 500000000L)
    assert(dur("250u") == 250000L)
    assert(dur("250us") == 250000L)
    assert(dur("250µ") == 250000L)
    // the point store is µs-native: a ns-grained bucket grid cannot be
    // represented, so the parser refuses instead of silently truncating
    intercept[InfluxQLParseException](dur("500ns"))
    // retention/CQ cadence stays whole-second
    intercept[InfluxQLParseException](InfluxQLParser.parse(
      "CREATE RETENTION POLICY rp ON db DURATION 500ms REPLICATION 1"))
  }

  test("sub-second GROUP BY time executes; fill grids hit the max-select-buckets guard") {
    // 500µs buckets over a narrow range: bucket starts are exact µs
    // arithmetic and render with fractional seconds
    val rows = InfluxQLPlanner.sql(spark, dir,
      """SELECT COUNT(value) AS n FROM events
        |WHERE time >= '2024-01-01' AND time < '2024-01-01T01:00:00Z'
        |GROUP BY time(500u)""".stripMargin).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(0).matches(""".*\d{2}:\d{2}:\d{2}\.\d{6}""")),
      s"sub-second buckets must render fractional seconds: ${rows.head}")
    // a fill() grid at 500µs over 2 days would be 345M rows per series —
    // the planner refuses with the bucket math (InfluxDB max-select-buckets)
    val e = intercept[InfluxQLParseException](InfluxQLPlanner.sql(spark, dir,
      """SELECT MEAN(value) AS m FROM events
        |WHERE time >= '2024-01-01' AND time < '2024-01-03'
        |GROUP BY time(500u) fill(previous)""".stripMargin))
    assert(e.getMessage.contains("buckets"), e.getMessage)
    // but a whole-second grid is NOT gated even past the bucket cap: GROUP BY
    // time(1s) fill(previous) over 2 weeks (1.2M buckets) is a valid
    // long-standing dashboard query (ADVICE r9 — the guard is scoped to the
    // sub-second widths that motivated it). Planning must not throw.
    InfluxQLPlanner.sql(spark, dir,
      """SELECT MEAN(value) AS m FROM events
        |WHERE time >= '2024-01-01' AND time < '2024-01-15'
        |GROUP BY time(1s) fill(previous)""".stripMargin)
    // ...but coarse grids are not UNbounded: a 26-year 1s grid (8.2e8
    // buckets) would overflow sequence()'s element cap / OOM — the coarse
    // tier refuses at its own 10M default
    val e2 = intercept[InfluxQLParseException](InfluxQLPlanner.sql(spark, dir,
      """SELECT MEAN(value) AS m FROM events
        |WHERE time >= '2000-01-01' AND time < '2026-01-01'
        |GROUP BY time(1s) fill(previous)""".stripMargin))
    assert(e2.getMessage.contains("buckets"), e2.getMessage)
    // the user override applies to both tiers
    spark.conf.set("graft.influxql.maxSelectBuckets", "100")
    try {
      val e3 = intercept[InfluxQLParseException](InfluxQLPlanner.sql(spark, dir,
        """SELECT MEAN(value) AS m FROM events
          |WHERE time >= '2024-01-01' AND time < '2024-01-02'
          |GROUP BY time(10m) fill(null)""".stripMargin))
      assert(e3.getMessage.contains("max 100"), e3.getMessage)
    } finally spark.conf.unset("graft.influxql.maxSelectBuckets")
  }

  test("time literals: date, datetime, RFC3339, raw epoch ns") {
    def lo(t: String): Long =
      InfluxQLParser.parseSelect(s"SELECT COUNT(value) FROM events WHERE time >= $t")
        .where.head.asInstanceOf[TimeCond].epochNs
    assert(lo("'2024-01-01'") == 1704067200000000000L)
    assert(lo("'2024-01-01 06:30:00'") == 1704090600000000000L)
    assert(lo("'2024-01-01T06:30:00Z'") == 1704090600000000000L)
    assert(lo("1704067200000000000") == 1704067200000000000L)
  }

  test("now()-relative time bounds: parsed relative, resolved against injectable now") {
    val q = InfluxQLParser.parseSelect(
      "SELECT COUNT(value) AS n FROM events WHERE time >= now() - 1h AND time < now()")
    assert(q.where == Seq(NowCond(">=", -3600000000000L), NowCond("<", 0L)))
    // pinned now → identical rows to the equivalent absolute query
    val nowNs = 1704844800000000000L // 2024-01-10T00:00Z
    val rel = InfluxQLPlanner.sql(spark, dir,
      "SELECT COUNT(value) AS n FROM events WHERE time >= now() - 1d AND time < now()",
      nowNs = Some(nowNs)).collect().toSeq
    val abs = InfluxQLPlanner.sql(spark, dir,
      "SELECT COUNT(value) AS n FROM events WHERE time >= '2024-01-09' AND time < '2024-01-10'")
      .collect().toSeq
    assert(rel == abs && rel.head.getLong(0) > 0)
  }

  test("regex tag predicate parses; regex on time rejected") {
    val q = InfluxQLParser.parseSelect(
      "SELECT COUNT(value) FROM events WHERE event_type =~ /^(cl|pu)/ GROUP BY event_type")
    assert(q.where == Seq(TagCond("event_type", "=~", "^(cl|pu)")))
    intercept[InfluxQLParseException](
      InfluxQLParser.parseSelect("SELECT COUNT(value) FROM events WHERE time =~ /x/"))
  }

  test("quoted identifiers and qualified FROM parse (the Grafana-emitted shape)") {
    val q = InfluxQLParser.parseSelect(
      """SELECT MEAN("value") AS m FROM "plc"."autogen"."events"
        |WHERE "event_type" = 'click' GROUP BY time(1h), "user_id"""".stripMargin)
    assert(q.measurement == "events")
    assert(q.fields == Seq(FnField("mean", "value", None, Some("m"))))
    assert(q.where == Seq(TagCond("event_type", "=", "click")))
    assert(q.groupTags == Seq("user_id"))
  }

  test("nested transforms parse: DERIVATIVE(MEAN(value), 1h) et al") {
    val q = InfluxQLParser.parseSelect(
      """SELECT DERIVATIVE(MEAN(value), 1h) AS d, MOVING_AVERAGE(SUM(value), 3)
        |FROM events GROUP BY time(1h), user_id""".stripMargin)
    assert(q.fields == Seq(
      TransformField("derivative", FnField("mean", "value", None, None), Some(3600.0), Some("d")),
      TransformField("moving_average", FnField("sum", "value", None, None), Some(3.0), None)))
    // transform without GROUP BY time is rejected
    intercept[InfluxQLParseException](
      InfluxQLParser.parseSelect("SELECT DERIVATIVE(MEAN(value)) FROM events GROUP BY user_id"))
    // transform of a bare field (no nested aggregate) is rejected
    intercept[InfluxQLParseException](
      InfluxQLParser.parseSelect("SELECT DERIVATIVE(value) FROM events GROUP BY time(1h)"))
  }

  test("TA folds over empty/warm-up-starved series return empty, not a crash") {
    // fuzz-found (r10): an UNGROUPED aggregate over an empty frame yields
    // one row with an EMPTY bucket array, and every fold seed indexes
    // element 1 — KAMA with warm-up >= buckets and any recursive TA over a
    // no-data range crashed with INVALID_ARRAY_INDEX before the guard.
    val dir = "/root/testdata/sf0.001"
    // 2 hourly buckets, warm-up 9 > 2, NO tags → the empty-global case
    assert(InfluxQLPlanner.sql(spark, dir,
      """SELECT KAUFMANS_ADAPTIVE_MOVING_AVERAGE(MEAN(value), 9) AS k FROM events
        |WHERE time >= '2024-01-01' AND time < '2024-01-01T02:00:00Z'
        |GROUP BY time(1h)""".stripMargin).count() === 0L)
    // a range with no data at all, recursive EMA family, no tags
    assert(InfluxQLPlanner.sql(spark, dir,
      """SELECT DOUBLE_EXPONENTIAL_MOVING_AVERAGE(MEAN(value), 3) AS d FROM events
        |WHERE time >= '2030-01-01' AND time < '2030-01-02'
        |GROUP BY time(1h)""".stripMargin).count() === 0L)
    assert(InfluxQLPlanner.sql(spark, dir,
      """SELECT HOLT_WINTERS(MEAN(value), 2, 0) AS h FROM events
        |WHERE time >= '2030-01-01' AND time < '2030-01-02'
        |GROUP BY time(1h)""".stripMargin).count() === 0L)
  }

  test("MACD parses with two periods; bad periods and missing args reject") {
    val q = InfluxQLParser.parseSelect(
      "SELECT MACD(MEAN(value), 12, 26) AS m FROM events GROUP BY time(1h)")
    assert(q.fields == Seq(TransformField("macd",
      FnField("mean", "value", None, None), Some(12.0), Some("m"), Some(26.0))))
    // fast must be strictly below slow, both integers, both present
    intercept[InfluxQLParseException](InfluxQLParser.parseSelect(
      "SELECT MACD(MEAN(value), 26, 12) FROM events GROUP BY time(1h)"))
    intercept[InfluxQLParseException](InfluxQLParser.parseSelect(
      "SELECT MACD(MEAN(value), 12) FROM events GROUP BY time(1h)"))
    intercept[InfluxQLParseException](InfluxQLParser.parseSelect(
      "SELECT MACD(MEAN(value), 12.5, 26) FROM events GROUP BY time(1h)"))
    // a second parameter on a one-param technical transform still rejects
    intercept[InfluxQLParseException](InfluxQLParser.parseSelect(
      "SELECT EXPONENTIAL_MOVING_AVERAGE(MEAN(value), 9, 2) FROM events GROUP BY time(1h)"))
  }

  test("ZSCORE parses with one period >= 2; N = 1, raw inner, and durations reject") {
    val q = InfluxQLParser.parseSelect(
      "SELECT ZSCORE(MEAN(value), 12) AS z FROM events GROUP BY time(1h)")
    assert(q.fields == Seq(TransformField("zscore",
      FnField("mean", "value", None, None), Some(12.0), Some("z"))))
    // sample variance needs n >= 2
    intercept[InfluxQLParseException](InfluxQLParser.parseSelect(
      "SELECT ZSCORE(MEAN(value), 1) FROM events GROUP BY time(1h)"))
    // TA transforms require a nested aggregate
    intercept[InfluxQLParseException](InfluxQLParser.parseSelect(
      "SELECT ZSCORE(value, 12) FROM events GROUP BY time(1h)"))
    // bucket COUNTS, not durations
    intercept[InfluxQLParseException](InfluxQLParser.parseSelect(
      "SELECT ZSCORE(MEAN(value), 1h) FROM events GROUP BY time(1h)"))
  }

  test("field arithmetic parses with precedence; division lexes next to a regex") {
    val q = InfluxQLParser.parseSelect(
      """SELECT MEAN(value) * 100 + 5 AS scaled, SUM(value) / COUNT(value) AS ratio
        |FROM events WHERE event_type =~ /^cl/ GROUP BY event_type""".stripMargin)
    assert(q.fields == Seq(
      ExprField(FBin("+",
        FBin("*", FAgg(FnField("mean", "value", None, None)), FNum(100)),
        FNum(5)), Some("scaled")),
      ExprField(FBin("/",
        FAgg(FnField("sum", "value", None, None)),
        FAgg(FnField("count", "value", None, None))), Some("ratio"))))
    // `/` after =~ is still a regex literal
    assert(q.where == Seq(TagCond("event_type", "=~", "^cl")))
    // parentheses override precedence
    val p = InfluxQLParser.parseSelect(
      "SELECT (MEAN(value) + 5) * 2 AS x FROM events")
    assert(p.fields == Seq(ExprField(
      FBin("*", FBin("+", FAgg(FnField("mean", "value", None, None)), FNum(5)), FNum(2)),
      Some("x"))))
  }

  test("scalar math functions parse in raw and aggregate context") {
    val raw = InfluxQLParser.parseSelect(
      "SELECT ABS(value) AS av, SQRT(ABS(value)) AS sq, POW(value, 2) AS p2 FROM events")
    assert(raw.fields == Seq(
      ExprField(FCall("abs", FRef("value"), None), Some("av")),
      ExprField(FCall("sqrt", FCall("abs", FRef("value"), None), None), Some("sq")),
      ExprField(FCall("pow", FRef("value"), Some(2.0)), Some("p2"))))
    val agg = InfluxQLParser.parseSelect(
      "SELECT FLOOR(MEAN(value)) AS fm FROM events GROUP BY event_type")
    assert(agg.fields == Seq(
      ExprField(FCall("floor", FAgg(FnField("mean", "value", None, None)), None), Some("fm"))))
  }

  test("new aggregates parse: MODE, INTEGRAL (duration unit), COUNT(DISTINCT)") {
    assert(InfluxQLParser.parseSelect("SELECT MODE(user_id) FROM events GROUP BY event_type")
      .fields == Seq(FnField("mode", "user_id", None, None)))
    assert(InfluxQLParser.parseSelect("SELECT INTEGRAL(value, 1h) AS i FROM events")
      .fields == Seq(FnField("integral", "value", Some(3600.0), Some("i"))))
    // both COUNT(DISTINCT(x)) and COUNT(DISTINCT x)
    assert(InfluxQLParser.parseSelect("SELECT COUNT(DISTINCT(user_id)) AS n FROM events")
      .fields == Seq(FnField("count_distinct", "user_id", None, Some("n"))))
    assert(InfluxQLParser.parseSelect("SELECT COUNT(DISTINCT user_id) AS n FROM events")
      .fields == Seq(FnField("count_distinct", "user_id", None, Some("n"))))
    assert(InfluxQLParser.parseSelect("SELECT DISTINCT(user_id) AS u FROM events")
      .fields == Seq(FnField("distinct", "user_id", None, Some("u"))))
  }

  test("expression-field restrictions are rejected") {
    // computed expression needs an alias
    intercept[InfluxQLParseException](
      InfluxQLParser.parseSelect("SELECT MEAN(value) * 2 FROM events"))
    // mixing aggregate and raw refs in one expression
    intercept[InfluxQLParseException](
      InfluxQLParser.parseSelect("SELECT MEAN(value) + value AS x FROM events"))
    // row selectors in arithmetic
    intercept[InfluxQLParseException](
      InfluxQLParser.parseSelect("SELECT TOP(value, 3) * 2 AS x FROM events"))
    intercept[InfluxQLParseException](
      InfluxQLParser.parseSelect("SELECT DISTINCT(value) * 2 AS x FROM events"))
    // transforms stay top-level
    intercept[InfluxQLParseException](
      InfluxQLParser.parseSelect(
        "SELECT DERIVATIVE(MEAN(value)) + 1 AS x FROM events GROUP BY time(1h)"))
    // DISTINCT must be the only field
    intercept[InfluxQLParseException](
      InfluxQLParser.parseSelect("SELECT DISTINCT(value), COUNT(value) FROM events"))
    // transform cannot wrap a row selector
    intercept[InfluxQLParseException](
      InfluxQLParser.parseSelect(
        "SELECT DERIVATIVE(DISTINCT(value)) FROM events GROUP BY time(1h)"))
  }

  test("INTEGRAL honors its unit parameter (1h = seconds-integral / 3600)") {
    val perSec = InfluxQLPlanner.sql(spark, dir,
      "SELECT INTEGRAL(value) AS i FROM events GROUP BY user_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val perHour = InfluxQLPlanner.sql(spark, dir,
      "SELECT INTEGRAL(value, 1h) AS i FROM events GROUP BY user_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(perHour.keySet == perSec.keySet && perHour.nonEmpty)
    perHour.foreach { case (u, vH) =>
      assert(math.abs(vH - perSec(u) / 3600.0) < 0.02, s"user $u: $vH vs ${perSec(u)} / 3600")
    }
  }

  test("OR/parenthesized predicates parse; AND binds tighter; time inside OR rejected") {
    val q = InfluxQLParser.parseSelect(
      """SELECT COUNT(value) AS n FROM events
        |WHERE time >= '2024-01-01' AND (event_type = 'click' OR user_id < 10)
        |GROUP BY event_type""".stripMargin)
    assert(q.where == Seq(
      TimeCond(">=", 1704067200000000000L),
      BoolCond("or", TagCond("event_type", "=", "click"), TagCond("user_id", "<", 10.0))))
    // AND binds tighter than OR: a OR b AND c == a OR (b AND c)
    val p = InfluxQLParser.parseSelect(
      """SELECT COUNT(value) AS n FROM events
        |WHERE event_type = 'view' OR event_type = 'click' AND user_id < 10""".stripMargin)
    assert(p.where == Seq(BoolCond("or",
      TagCond("event_type", "=", "view"),
      BoolCond("and", TagCond("event_type", "=", "click"), TagCond("user_id", "<", 10.0)))))
    // a parenthesized pure-AND group canonicalizes to the flat AND list
    val flat = InfluxQLParser.parseSelect(
      "SELECT COUNT(value) AS n FROM events WHERE (event_type = 'click' AND user_id < 10)")
    assert(flat.where == Seq(
      TagCond("event_type", "=", "click"), TagCond("user_id", "<", 10.0)))
    intercept[InfluxQLParseException](InfluxQLParser.parseSelect(
      "SELECT COUNT(value) FROM events WHERE event_type = 'click' OR time >= '2024-01-01'"))
  }

  test("GROUP BY *, time(n, offset), SLIMIT/SOFFSET, tz() parse into the AST") {
    val q = InfluxQLParser.parseSelect(
      """SELECT MEAN(value) AS m FROM events
        |WHERE time >= '2024-01-01' AND time < '2024-01-03'
        |GROUP BY time(1h, 30m), * SLIMIT 3 SOFFSET 1 tz('America/New_York')""".stripMargin)
    assert(q.groupTimeNs.contains(3600000000000L) && q.groupTimeOffNs == 1800000000000L)
    assert(q.groupTags == Seq("*"))
    assert(q.slimit.contains(3) && q.soffset.contains(1))
    assert(q.tz.contains("America/New_York"))
    // negative offset
    assert(InfluxQLParser.parseSelect(
      "SELECT MEAN(value) AS m FROM events GROUP BY time(1h, -15m), event_type")
      .groupTimeOffNs == -900000000000L)
    // * cannot mix with named tags; SLIMIT needs tags
    intercept[InfluxQLParseException](InfluxQLParser.parseSelect(
      "SELECT MEAN(value) AS m FROM events GROUP BY *, user_id"))
    intercept[InfluxQLParseException](InfluxQLParser.parseSelect(
      "SELECT MEAN(value) AS m FROM events GROUP BY time(1h) SLIMIT 3"))
  }

  test("SLIMIT/SOFFSET paginate distinct series, not rows") {
    val df = InfluxQLPlanner.sql(spark, dir,
      """SELECT MEAN(value) AS m FROM events
        |WHERE time >= '2024-01-01' AND time < '2024-01-03'
        |GROUP BY time(1d), * SLIMIT 3 SOFFSET 1""".stripMargin)
    val series = df.select("event_type", "user_id").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted
    assert(series.length == 3)
    // SOFFSET 1 skips the first series of the full ordered list
    val all = InfluxQLPlanner.sql(spark, dir,
      """SELECT MEAN(value) AS m FROM events
        |WHERE time >= '2024-01-01' AND time < '2024-01-03'
        |GROUP BY time(1d), *""".stripMargin)
      .select("event_type", "user_id").distinct().collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted
    assert(series.toSeq == all.slice(1, 4).toSeq)
  }

  test("SLIMIT applies to ELAPSED queries too (r6 fix: it was silently ignored)") {
    val df = InfluxQLPlanner.sql(spark, dir,
      """SELECT ELAPSED(value, 1m) AS e FROM events
        |WHERE time >= '2024-01-01' AND time < '2024-01-03'
        |GROUP BY user_id SLIMIT 2""".stripMargin)
    val series = df.select("user_id").distinct().collect().map(_.getLong(0)).sorted
    assert(series.length == 2)
    // same first-2 series as the unlimited run's ordered series list
    val all = InfluxQLPlanner.sql(spark, dir,
      """SELECT ELAPSED(value, 1m) AS e FROM events
        |WHERE time >= '2024-01-01' AND time < '2024-01-03'
        |GROUP BY user_id""".stripMargin)
      .select("user_id").distinct().collect().map(_.getLong(0)).sorted
    assert(series.toSeq == all.take(2).toSeq)
  }

  test("SHOW RETENTION POLICIES uses InfluxDB's exact wire column names") {
    val df = InfluxQLPlanner.sql(spark, dir, "SHOW RETENTION POLICIES")
    assert(df.columns.toSeq == Seq("name", "duration", "replicaN", "default"))
  }

  test("ELAPSED/SAMPLE/HOLT_WINTERS parse; their restrictions are enforced") {
    assert(InfluxQLParser.parseSelect(
      "SELECT ELAPSED(value, 1m) AS e FROM events GROUP BY user_id")
      .fields == Seq(FnField("elapsed", "value", Some(60.0), Some("e"))))
    assert(InfluxQLParser.parseSelect(
      "SELECT SAMPLE(value, 3) FROM events GROUP BY user_id")
      .fields == Seq(FnField("sample", "value", Some(3.0), None)))
    assert(InfluxQLParser.parseSelect(
      "SELECT HOLT_WINTERS(MEAN(value), 2, 0) AS hw FROM events " +
        "WHERE time >= '2024-01-01' AND time < '2024-01-08' GROUP BY time(1h)")
      .fields == Seq(TransformField("holt_winters",
        FnField("mean", "value", None, None), Some(2.0), Some("hw"), Some(0.0))))
    // SAMPLE needs n; HOLT_WINTERS needs (N, S) with S = 0 or an integer
    // S >= 2 (seasonal); selectors are single-field, no time bucket;
    // HOLT_WINTERS needs a bounded range
    intercept[InfluxQLParseException](
      InfluxQLParser.parseSelect("SELECT SAMPLE(value) FROM events"))
    intercept[InfluxQLParseException](
      InfluxQLParser.parseSelect(
        "SELECT HOLT_WINTERS(MEAN(value), 2) FROM events GROUP BY time(1h)"))
    assert(InfluxQLParser.parseSelect(
      "SELECT HOLT_WINTERS(MEAN(value), 2, 4) FROM events GROUP BY time(1h)")
      .fields.head.asInstanceOf[TransformField].param2.contains(4.0))
    intercept[InfluxQLParseException](
      InfluxQLParser.parseSelect(   // S = 1: degenerate one-bucket season
        "SELECT HOLT_WINTERS(MEAN(value), 2, 1) FROM events GROUP BY time(1h)"))
    intercept[InfluxQLParseException](
      InfluxQLParser.parseSelect(   // non-integer seasonality
        "SELECT HOLT_WINTERS(MEAN(value), 2, 2.5) FROM events GROUP BY time(1h)"))
    intercept[InfluxQLParseException](
      InfluxQLParser.parseSelect(
        "SELECT ELAPSED(value), COUNT(value) FROM events GROUP BY user_id"))
    intercept[InfluxQLParseException](
      InfluxQLParser.parseSelect(
        "SELECT SAMPLE(value, 2) FROM events GROUP BY time(1h)"))
    intercept[InfluxQLParseException](InfluxQLPlanner.sql(spark, dir,
      "SELECT HOLT_WINTERS(MEAN(value), 2, 0) FROM events GROUP BY time(1h)"))
    // N forecast rows per series with future bucket timestamps
    val hw = InfluxQLPlanner.sql(spark, dir,
      "SELECT HOLT_WINTERS(MEAN(value), 3, 0) AS hw FROM events " +
        "WHERE time >= '2024-01-01' AND time < '2024-01-03' GROUP BY time(1h), event_type")
      .collect()
    val perSeries = hw.groupBy(_.getString(1)).view
      .mapValues(_.map(_.getString(0)).sorted).toMap
    assert(perSeries.nonEmpty && perSeries.values.forall(_.length == 3))
    // 3 consecutive future buckets, 1h apart, per series
    perSeries.values.foreach { ts =>
      assert(ts.distinct.length == 3)
      val parsed = ts.map(java.time.LocalDateTime.parse(_,
        java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")))
      assert(parsed(1) == parsed(0).plusHours(1) && parsed(2) == parsed(1).plusHours(1))
    }
  }

  test("technical-analysis transforms (RSI/CMO/KER/EMA) parse and enforce restrictions") {
    assert(InfluxQLParser.parseSelect(
      "SELECT RELATIVE_STRENGTH_INDEX(MEAN(value), 14) AS r FROM events " +
        "WHERE time >= '2024-01-01' AND time < '2024-01-08' GROUP BY time(1h)")
      .fields == Seq(TransformField("relative_strength_index",
        FnField("mean", "value", None, None), Some(14.0), Some("r"), None)))
    // an integer period N >= 1 is required
    intercept[InfluxQLParseException](InfluxQLParser.parseSelect(
      "SELECT CHANDE_MOMENTUM_OSCILLATOR(MEAN(value)) FROM events GROUP BY time(1h)"))
    intercept[InfluxQLParseException](InfluxQLParser.parseSelect(
      "SELECT KAUFMANS_EFFICIENCY_RATIO(MEAN(value), 2.5) FROM events GROUP BY time(1h)"))
    intercept[InfluxQLParseException](InfluxQLParser.parseSelect(
      "SELECT EXPONENTIAL_MOVING_AVERAGE(MEAN(value), 0) FROM events GROUP BY time(1h)"))
    // cardinality-changing: must be the SELECT's only field
    intercept[InfluxQLParseException](InfluxQLParser.parseSelect(
      "SELECT RELATIVE_STRENGTH_INDEX(MEAN(value), 14), COUNT(value) " +
        "FROM events GROUP BY time(1h)"))
    // GROUP BY time(...) is required; EMA additionally needs a bounded range
    intercept[InfluxQLParseException](InfluxQLPlanner.sql(spark, dir,
      "SELECT RELATIVE_STRENGTH_INDEX(MEAN(value), 14) FROM events " +
        "WHERE time >= '2024-01-01' AND time < '2024-01-08'"))
    intercept[InfluxQLParseException](InfluxQLPlanner.sql(spark, dir,
      "SELECT EXPONENTIAL_MOVING_AVERAGE(MEAN(value), 9) FROM events GROUP BY time(1h)"))
    // RSI lands in [0, 100]; the warm-up (diff-less) bucket drops
    val rsi = InfluxQLPlanner.sql(spark, dir,
      "SELECT RELATIVE_STRENGTH_INDEX(MEAN(value), 14) AS r FROM events " +
        "WHERE time >= '2024-01-01' AND time < '2024-01-03' GROUP BY time(1h), user_id")
      .collect()
    assert(rsi.nonEmpty)
    assert(rsi.forall { row =>
      val v = row.getDouble(row.fieldIndex("r")); v >= 0.0 && v <= 100.0
    })
    // EMA emits one row per bucket per series, same count as the plain MEAN
    val meanRows = InfluxQLPlanner.sql(spark, dir,
      "SELECT MEAN(value) FROM events " +
        "WHERE time >= '2024-01-01' AND time < '2024-01-03' GROUP BY time(1h), user_id")
      .count()
    val emaRows = InfluxQLPlanner.sql(spark, dir,
      "SELECT EXPONENTIAL_MOVING_AVERAGE(MEAN(value), 9) AS e FROM events " +
        "WHERE time >= '2024-01-01' AND time < '2024-01-03' GROUP BY time(1h), user_id")
      .count()
    assert(emaRows == meanRows)
  }

  test("SHOW QUERIES / KILL QUERY parse and render") {
    assert(InfluxQLParser.parse("SHOW QUERIES") == ShowQueries)
    assert(InfluxQLParser.parse("KILL QUERY 42") == KillQuery(42))
    assert(InfluxQLRender.render(ShowQueries) == "SHOW QUERIES")
    assert(InfluxQLRender.render(KillQuery(7)) == "KILL QUERY 7")
    intercept[InfluxQLParseException](InfluxQLParser.parse("KILL QUERY abc"))
    intercept[InfluxQLParseException](InfluxQLParser.parse("KILL QUERY 1.5"))
    intercept[InfluxQLParseException](InfluxQLParser.parse("SHOW QUERIES LIMIT 3"))
  }

  test("technical transforms: duration/huge periods, per-series LIMIT, fill(null) hardening") {
    // the period is a bucket COUNT — a duration or an out-of-range N is a
    // parse error, never a silent seconds/Int.MaxValue reinterpretation
    intercept[InfluxQLParseException](InfluxQLParser.parseSelect(
      "SELECT RELATIVE_STRENGTH_INDEX(MEAN(value), 1h) FROM events GROUP BY time(1h)"))
    intercept[InfluxQLParseException](InfluxQLParser.parseSelect(
      "SELECT EXPONENTIAL_MOVING_AVERAGE(MEAN(value), 2147483647) FROM events GROUP BY time(1h)"))
    // LIMIT paginates per series on grouped results, like the generic
    // transform path (MOVING_AVERAGE) — not a global row cut
    val rsiAll = InfluxQLPlanner.sql(spark, dir,
      "SELECT RELATIVE_STRENGTH_INDEX(MEAN(value), 14) AS r FROM events " +
        "WHERE time >= '2024-01-01' AND time < '2024-01-03' GROUP BY time(1h), user_id")
    val perSeries = rsiAll.groupBy("user_id").count().collect()
      .map(r => math.min(4L, r.getLong(1)))
    val rsiLim = InfluxQLPlanner.sql(spark, dir,
      "SELECT RELATIVE_STRENGTH_INDEX(MEAN(value), 14) AS r FROM events " +
        "WHERE time >= '2024-01-01' AND time < '2024-01-03' GROUP BY time(1h), user_id LIMIT 4")
    assert(rsiLim.count() == perSeries.sum)
    assert(perSeries.sum > 4, "per-series cut must exceed a global LIMIT 4")
    assert(rsiLim.select("user_id").distinct().count() == perSeries.length)
    // fill(null)'s inserted rows don't reach the fold: EMA stays non-null
    // and matches the fill(none) result exactly
    val emaNone = InfluxQLPlanner.sql(spark, dir,
      "SELECT EXPONENTIAL_MOVING_AVERAGE(MEAN(value), 9) AS e FROM events " +
        "WHERE time >= '2024-01-01' AND time < '2024-01-03' " +
        "GROUP BY time(1h), user_id fill(none)").collect()
    val emaNull = InfluxQLPlanner.sql(spark, dir,
      "SELECT EXPONENTIAL_MOVING_AVERAGE(MEAN(value), 9) AS e FROM events " +
        "WHERE time >= '2024-01-01' AND time < '2024-01-03' " +
        "GROUP BY time(1h), user_id fill(null)").collect()
    assert(emaNull.forall(!_.isNullAt(2)))
    assert(emaNone.map(_.toString).sorted.sameElements(emaNull.map(_.toString).sorted))
  }

  test("MOVING_AVERAGE over buckets drops warm-up rows like InfluxDB") {
    val range = "WHERE time >= '2024-01-01' AND time < '2024-01-03' GROUP BY time(1h), user_id"
    val mean = InfluxQLPlanner.sql(spark, dir,
      s"SELECT MEAN(value) AS m FROM events $range")
    val ma = InfluxQLPlanner.sql(spark, dir,
      s"SELECT MOVING_AVERAGE(MEAN(value), 3) AS ma FROM events $range")
    // sole-output movavg: the first N-1 buckets of each series never emit
    // (a series with fewer than N buckets emits nothing at all)
    val expected = mean.groupBy("user_id").count().collect()
      .map(r => math.max(0L, r.getLong(1) - 2)).sum
    assert(ma.count() == expected)
    assert(ma.collect().forall(!_.isNullAt(2)))
    // with a sibling aggregate column the rows STAY — dropping them would
    // lose the sibling's first buckets (InfluxDB aligns with nulls instead)
    val both = InfluxQLPlanner.sql(spark, dir,
      s"SELECT MEAN(value) AS m, MOVING_AVERAGE(MEAN(value), 3) AS ma FROM events $range")
    assert(both.count() == mean.count())
  }

  test("SELECT *, FROM /re/, and per-series LIMIT semantics") {
    assert(InfluxQLParser.parseSelect("SELECT * FROM events LIMIT 5")
      .fields == Seq(RawField("*", None)))
    assert(InfluxQLParser.parseSelect("SELECT COUNT(value) FROM /^ev/ GROUP BY event_type")
      .measurement == "re:^ev")
    // a regex matching nothing in the catalog is rejected at planning
    intercept[InfluxQLParseException](
      InfluxQLPlanner.sql(spark, dir, "SELECT COUNT(value) FROM /^nope/"))
    // SELECT * expands to (time, tags, field)
    val star = InfluxQLPlanner.sql(spark, dir,
      "SELECT * FROM events WHERE time >= '2024-01-10' AND time < '2024-01-10 01:00:00'")
    assert(star.columns.toSeq == Seq("time", "event_type", "user_id", "value"))
    // grouped LIMIT pages points per series, not globally
    val paged = InfluxQLPlanner.sql(spark, dir,
      """SELECT MEAN(value) AS m FROM events
        |WHERE time >= '2024-01-01' AND time < '2024-01-03'
        |GROUP BY time(1h), event_type LIMIT 4""".stripMargin).collect()
    val bySeries = paged.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(bySeries.nonEmpty && bySeries.values.forall(_ == 4))
  }

  test("subqueries nest beyond one level (max of daily maxes of hourly means)") {
    val two = InfluxQLPlanner.sql(spark, dir,
      """SELECT MAX(dm) AS peak FROM
        |  (SELECT MAX(m) AS dm FROM
        |    (SELECT MEAN(value) AS m FROM events
        |     WHERE time >= '2024-01-01' AND time < '2024-01-08'
        |     GROUP BY time(1h), event_type)
        |   GROUP BY event_type)
        |GROUP BY event_type""".stripMargin).collect()
    val one = InfluxQLPlanner.sql(spark, dir,
      """SELECT MAX(m) AS peak FROM
        |  (SELECT MEAN(value) AS m FROM events
        |   WHERE time >= '2024-01-01' AND time < '2024-01-08'
        |   GROUP BY time(1h), event_type)
        |GROUP BY event_type""".stripMargin).collect()
    // max of per-series maxes == max over the whole series
    assert(two.nonEmpty && two.map(r => (r.getString(0), r.getDouble(1))).toSet ==
      one.map(r => (r.getString(0), r.getDouble(1))).toSet)
  }

  test("sqlStore queries the PointStore layout back (ingest -> store -> InfluxQL)") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-store-q").toFile
    val ev = graft.tables.Tables.events(spark, dir)
      .filter(col("ts") < lit("2024-01-03").cast("timestamp"))
    graft.sinks.PointStore.writePartitioned(
      ev.select(col("ts"), lit("plc1").as("measurement"),
        col("event_type").as("alias"), col("value")), root.toString)
    graft.sinks.PointStore.writePartitioned(
      ev.filter(col("user_id") < 10).select(col("ts"), lit("plc2").as("measurement"),
        col("event_type").as("alias"), col("value")), root.toString)

    // SHOW MEASUREMENTS discovers the store partitions
    assert(InfluxQLPlanner.sqlStore(spark, root.toString, "SHOW MEASUREMENTS")
      .collect().map(_.getString(0)).toSeq == Seq("plc1", "plc2"))
    // grouped aggregate per alias matches a direct DataFrame computation
    val viaIql = InfluxQLPlanner.sqlStore(spark, root.toString,
      """SELECT MEAN(value) AS m, COUNT(value) AS n FROM plc1
        |WHERE time >= '2024-01-01' AND time < '2024-01-02'
        |GROUP BY alias""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val direct = spark.read.parquet(s"$root/measurement=plc1")
      .filter(col("ts") >= lit("2024-01-01").cast("timestamp") &&
        col("ts") < lit("2024-01-02").cast("timestamp"))
      .groupBy("alias").agg(round(avg("value"), 4).as("m"), count("value").as("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(viaIql == direct && viaIql.nonEmpty)
    // regex FROM unions matching measurements
    val both = InfluxQLPlanner.sqlStore(spark, root.toString,
      "SELECT COUNT(value) AS n FROM /^plc/").collect().head.getLong(0)
    val one = InfluxQLPlanner.sqlStore(spark, root.toString,
      "SELECT COUNT(value) AS n FROM plc1").collect().head.getLong(0)
    assert(both > one)
    // SELECT * expands to the store's (alias, value); SHOW SERIES uses alias
    assert(InfluxQLPlanner.sqlStore(spark, root.toString,
      "SELECT * FROM plc2 LIMIT 5").columns.toSeq == Seq("time", "alias", "value"))
    val series = InfluxQLPlanner.sqlStore(spark, root.toString, "SHOW SERIES FROM plc2")
      .collect().map(_.getString(0))
    assert(series.nonEmpty && series.forall(_.startsWith("plc2,alias=")))
    // unknown measurement rejected against the store catalog
    intercept[InfluxQLParseException](
      InfluxQLPlanner.sqlStore(spark, root.toString, "SELECT COUNT(value) FROM nope"))
  }

  test("CQ RESAMPLE EVERY/FOR maps onto trigger cadence + watermark horizon") {
    val cq = """CREATE CONTINUOUS QUERY cq5 ON plc RESAMPLE EVERY 30s FOR 5m
               |BEGIN SELECT MEAN(value) AS m FROM events GROUP BY time(1m), event_type END"""
      .stripMargin.replace('\n', ' ')
    val st = InfluxQLParser.parse(cq).asInstanceOf[CreateCq]
    assert(st.everySec.contains(30L) && st.forSec.contains(300L))
    // render round-trips the clause
    assert(InfluxQLParser.parse(InfluxQLRender.render(st)) == st)
    // EVERY -> ProcessingTime trigger
    assert(InfluxQLPlanner.cqTrigger(cq).contains(
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(30000L)))
    assert(InfluxQLPlanner.cqTrigger(
      "CREATE CONTINUOUS QUERY c ON p BEGIN SELECT MEAN(value) FROM events GROUP BY time(1m) END").isEmpty)
    // FOR -> the watermark delay on the streaming aggregate
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)]
    val frame = ms.toDF().toDF("ts", "event_type", "value")
    val agg = InfluxQLPlanner.continuous(frame, cq)
    assert(agg.queryExecution.analyzed.toString.contains("5 minutes") ||
      agg.queryExecution.analyzed.toString.contains("300 seconds"),
      agg.queryExecution.analyzed.toString.take(500))
    // bare RESAMPLE is rejected
    intercept[InfluxQLParseException](InfluxQLParser.parse(
      "CREATE CONTINUOUS QUERY c ON p RESAMPLE BEGIN SELECT MEAN(value) FROM events GROUP BY time(1m) END"))
  }

  test("division by zero in field arithmetic yields null (fuzz regression)") {
    // single-point buckets make SPREAD 0; InfluxQL returns null, ANSI `/`
    // would throw — found by InfluxQLPlanFuzzSpec
    // the exact fuzz case: must execute, not throw
    val rows = InfluxQLPlanner.sql(spark, dir,
      """SELECT INTEGRAL(value, 60) AS f0, (MAX(value) / SPREAD(value)) AS f1
        |FROM events WHERE (event_type = 'click' OR event_type = 'view')
        |GROUP BY time(300s, -900s), * ORDER BY time DESC LIMIT 339 OFFSET 100
        |SLIMIT 16 SOFFSET 2 tz('Europe/Warsaw')""".stripMargin).collect()
    // (empty at this SF — per-series OFFSET 100 outruns the buckets; the
    // point is it EXECUTES: pre-fix, evaluating f1 threw DIVIDE_BY_ZERO)
    assert(rows.length >= 0)
    // deterministic zero-spread: 1s buckets are singletons -> null ratio
    val mini = InfluxQLPlanner.sql(spark, dir,
      """SELECT (MAX(value) / SPREAD(value)) AS r FROM events
        |WHERE time >= '2024-01-01' AND time < '2024-01-01 01:00:00'
        |GROUP BY time(1s), user_id""".stripMargin).collect()
    assert(mini.nonEmpty && mini.exists(_.isNullAt(2)),
      "zero-spread buckets must yield null, not throw")
  }

  test("invalid queries are rejected with parse errors") {
    // mixing raw and aggregate fields
    intercept[InfluxQLParseException](
      InfluxQLParser.parseSelect("SELECT value, MEAN(value) FROM events"))
    // GROUP BY without an aggregate
    intercept[InfluxQLParseException](
      InfluxQLParser.parseSelect("SELECT value FROM events GROUP BY time(1h)"))
    // fill without GROUP BY time
    intercept[InfluxQLParseException](
      InfluxQLParser.parseSelect("SELECT MEAN(value) FROM events GROUP BY user_id fill(previous)"))
    // unknown function
    intercept[InfluxQLParseException](
      InfluxQLParser.parseSelect("SELECT FROBNICATE(value) FROM events"))
    // percentile without its parameter
    intercept[InfluxQLParseException](
      InfluxQLParser.parseSelect("SELECT PERCENTILE(value) FROM events"))
    // duplicate output names (needs aliases)
    intercept[InfluxQLParseException](
      InfluxQLParser.parseSelect("SELECT MEAN(value), MEAN(value) FROM events"))
    // ORDER BY a non-time column
    intercept[InfluxQLParseException](
      InfluxQLParser.parseSelect("SELECT value FROM events ORDER BY value"))
    // trailing garbage
    intercept[InfluxQLParseException](
      InfluxQLParser.parseSelect("SELECT MEAN(value) FROM events BOGUS CLAUSE"))
  }

  test("TOP/BOTTOM parse as sole-field selectors; misuse rejected") {
    val q = InfluxQLParser.parseSelect(
      "SELECT BOTTOM(value, 5) FROM events GROUP BY user_id")
    assert(q.fields == Seq(FnField("bottom", "value", Some(5.0), None)))
    intercept[InfluxQLParseException](
      InfluxQLParser.parse("SELECT TOP(value) FROM events"))              // missing n
    intercept[InfluxQLParseException](
      InfluxQLParser.parse("SELECT TOP(value, 3), MEAN(value) FROM events")) // not sole
    intercept[InfluxQLParseException](
      InfluxQLParser.parse("SELECT TOP(value, 3) FROM events GROUP BY time(1h)"))
    // BOTTOM returns the n smallest, earliest-first on ties
    val rows = InfluxQLPlanner.sql(spark, dir,
      "SELECT BOTTOM(value, 2) AS b FROM events GROUP BY event_type")
    assert(rows.groupBy("event_type").count().collect().forall(_.getLong(1) == 2))
  }

  test("CREATE CONTINUOUS QUERY parses; CQ restrictions rejected") {
    val cq = InfluxQLParser.parse(
      "CREATE CONTINUOUS QUERY cq1 ON plc BEGIN SELECT MEAN(value) FROM events GROUP BY time(1m) END")
      .asInstanceOf[CreateCq]
    assert(cq.name == "cq1" && cq.db == "plc")
    assert(cq.select.groupTimeNs.contains(60000000000L))
    // sql() refuses to run a CQ against a static dir
    intercept[InfluxQLParseException](InfluxQLPlanner.sql(spark, dir,
      "CREATE CONTINUOUS QUERY cq1 ON plc BEGIN SELECT MEAN(value) FROM events GROUP BY time(1m) END"))
    // continuous() rejects absolute time bounds, fill, LIMIT, raw fields
    def cont(q: String) =
      InfluxQLPlanner.continuous(graft.tables.Tables.events(spark, dir), q)
    intercept[InfluxQLParseException](
      cont("SELECT MEAN(value) FROM events WHERE time >= '2024-01-01' GROUP BY time(1m)"))
    intercept[InfluxQLParseException](
      cont("SELECT MEAN(value) FROM events GROUP BY time(1m) LIMIT 5"))
    intercept[InfluxQLParseException](
      cont("SELECT PERCENTILE(value, 90) FROM events GROUP BY time(1m)"))
    intercept[InfluxQLParseException](cont("SELECT value FROM events"))
  }

  test("SELECT INTO materializes the rollup to the target measurement") {
    val out = java.nio.file.Files.createTempDirectory("graft-into").toString
    val q =
      """SELECT MEAN(value) AS m INTO hourly_rollup FROM events
        |WHERE time >= '2024-01-01' AND time < '2024-01-03'
        |GROUP BY time(1h), event_type""".stripMargin
    val n = InfluxQLPlanner.into(spark, dir, q, out)
    val direct = InfluxQLPlanner.sql(spark, dir, q)
    assert(n == direct.count() && n > 0)
    // written target readable as a plain measurement table, same rows
    val back = spark.read.parquet(s"$out/hourly_rollup")
    assert(back.collect().toSet == direct.collect().toSet)
    // a SELECT without INTO is refused by into()
    intercept[InfluxQLParseException](
      InfluxQLPlanner.into(spark, dir, "SELECT MEAN(value) FROM events", out))
  }

  test("INTO :MEASUREMENT backreference writes each regex-FROM match to its own target") {
    import org.apache.spark.sql.functions._
    // store with two measurements of different sizes
    val root = java.nio.file.Files.createTempDirectory("graft-into-backref").toFile
    val base = graft.tables.Tables.events(spark, dir)
      .filter(col("ts") < lit("2024-01-03").cast("timestamp"))
    graft.sinks.PointStore.writePartitioned(
      base.select(col("ts"), lit("plc_a").as("measurement"),
        col("event_type").as("alias"), col("value")), root.toString)
    graft.sinks.PointStore.writePartitioned(
      base.filter(col("event_type") === "click")
        .select(col("ts"), lit("plc_b").as("measurement"),
          col("event_type").as("alias"), col("value")), root.toString)
    val out = java.nio.file.Files.createTempDirectory("graft-into-backref-out").toString
    val cat = InfluxQLPlanner.Catalog.store(root.toString)
    val q = "SELECT COUNT(value) AS n INTO :MEASUREMENT FROM /plc_/ GROUP BY alias"
    // parses with the colon token and round-trips through the renderer
    val st = InfluxQLParser.parse(q)
    assert(st.asInstanceOf[Select].into.contains(":MEASUREMENT"))
    assert(InfluxQLParser.parse(InfluxQLRender.render(st)) == st)
    val n = InfluxQLPlanner.into(spark, root.toString, q, out, catalog = cat)
    assert(n > 0)
    // one target per matched source, counts scoped per measurement
    val a = spark.read.parquet(s"$out/plc_a")
    val b = spark.read.parquet(s"$out/plc_b")
    assert(a.count() > b.count() && b.count() == 1) // plc_b has only 'click'
    // qualified backreference also parses; bogus :KEYWORD rejected
    assert(InfluxQLParser.parse(
      "SELECT COUNT(value) AS n INTO plc.autogen.:MEASUREMENT FROM /plc_/ GROUP BY alias")
      .asInstanceOf[Select].into.contains(":MEASUREMENT"))
    intercept[InfluxQLParseException](InfluxQLParser.parse(
      "SELECT COUNT(value) AS n INTO :BOGUS FROM /plc_/ GROUP BY alias"))
  }

  test("CREATE RETENTION POLICY parses and enforces against a date-partitioned store") {
    val st = InfluxQLParser.parse(
      "CREATE RETENTION POLICY weekly ON plc DURATION 7d REPLICATION 1 DEFAULT")
    assert(st == CreateRetention("weekly", "plc", 604800L, 1, isDefault = true))
    // date-partitioned store: 3 partitions, one past the 7d horizon
    val root = java.nio.file.Files.createTempDirectory("graft-rp").toFile
    Seq("2024-01-01", "2024-01-09", "2024-01-10").foreach { d =>
      val p = new java.io.File(root, s"measurement=plc-1/date=$d")
      p.mkdirs()
      java.nio.file.Files.writeString(new java.io.File(p, "part-0.parquet").toPath, "x")
    }
    val removed = InfluxQLPlanner.applyRetention(
      "CREATE RETENTION POLICY weekly ON plc DURATION 7d REPLICATION 1",
      root.toString, today = java.time.LocalDate.parse("2024-01-10"))
    assert(removed.size == 1 && removed.head.contains("date=2024-01-01"))
    assert(new java.io.File(root, "measurement=plc-1/date=2024-01-09").exists())
    // sub-day durations are refused, not silently rounded to 0 days
    intercept[InfluxQLParseException](InfluxQLPlanner.applyRetention(
      "CREATE RETENTION POLICY h ON plc DURATION 12h REPLICATION 1", root.toString))
  }

  test("subquery: outer aggregate over FROM ( SELECT … ); misuse rejected") {
    val q = InfluxQLParser.parseSelect(
      "SELECT MAX(m) AS p FROM (SELECT MEAN(value) AS m FROM events GROUP BY time(1h), user_id) GROUP BY user_id")
    assert(q.fromSub.isDefined && q.fromSub.get.groupTimeNs.contains(3600000000000L))
    assert(q.groupTags == Seq("user_id"))
    // outer WHERE / GROUP BY time / FIRST are rejected over a subquery
    intercept[InfluxQLParseException](InfluxQLPlanner.sql(spark, dir,
      "SELECT MAX(m) FROM (SELECT MEAN(value) AS m FROM events GROUP BY time(1h)) WHERE time >= '2024-01-01'"))
    intercept[InfluxQLParseException](InfluxQLPlanner.sql(spark, dir,
      "SELECT FIRST(m) FROM (SELECT MEAN(value) AS m FROM events GROUP BY time(1h))"))
    val rows = InfluxQLPlanner.sql(spark, dir,
      "SELECT MAX(m) AS p FROM (SELECT MEAN(value) AS m FROM events GROUP BY time(1h), event_type) GROUP BY event_type")
      .collect()
    assert(rows.length > 0 && rows.forall(!_.isNullAt(1)))
  }

  test("SHOW TAG VALUES and DROP MEASUREMENT") {
    assert(InfluxQLParser.parse("SHOW TAG VALUES FROM events WITH KEY = event_type") ==
      ShowTagValues(Some("events"), KeyEq("event_type")))
    val vals = InfluxQLPlanner.sql(spark, dir,
      "SHOW TAG VALUES WITH KEY = event_type").collect().map(_.getString(1))
    assert(vals.nonEmpty && vals.sorted.sameElements(vals))
    intercept[InfluxQLParseException](
      InfluxQLPlanner.sql(spark, dir, "SHOW TAG VALUES WITH KEY = nope"))

    // DROP MEASUREMENT removes the store partition
    val root = java.nio.file.Files.createTempDirectory("graft-drop").toFile
    val part = new java.io.File(root, "measurement=plc-7/date=2024-01-01")
    part.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(part, "part-0.parquet").toPath, "x")
    // hyphenated names need quoting (a bare `plc-7` lexes as ident,op,num)
    assert(InfluxQLParser.parse("""DROP MEASUREMENT "plc-7"""") == DropMeasurement("plc-7"))
    assert(InfluxQLPlanner.dropMeasurement("""DROP MEASUREMENT "plc-7"""", root.toString))
    assert(!new java.io.File(root, "measurement=plc-7").exists())
    assert(!InfluxQLPlanner.dropMeasurement("""DROP MEASUREMENT "plc-7"""", root.toString))
  }

  test("SHOW TAG VALUES selectors, WHERE, and pagination (chained template variables)") {
    // the four InfluxDB 1.x key selectors parse and render round-trip
    assert(InfluxQLParser.parse("SHOW TAG VALUES WITH KEY IN (event_type, user_id)") ==
      ShowTagValues(None, KeyIn(Seq("event_type", "user_id"))))
    assert(InfluxQLParser.parse("SHOW TAG VALUES WITH KEY =~ /type/") ==
      ShowTagValues(None, KeyRe("type", negate = false)))
    assert(InfluxQLParser.parse("SHOW TAG VALUES WITH KEY !~ /type/") ==
      ShowTagValues(None, KeyRe("type", negate = true)))
    val full = "SHOW TAG VALUES FROM events WITH KEY IN (event_type, user_id)" +
      " WHERE event_type = 'click' LIMIT 3 OFFSET 1"
    assert(InfluxQLRender.render(InfluxQLParser.parse(full)) == full)
    intercept[InfluxQLParseException](
      InfluxQLParser.parse("SHOW TAG VALUES WITH KEY > x"))

    // IN unions both keys' value sets (one series of (key, value) rows)
    val both = InfluxQLPlanner.sql(spark, dir,
      "SHOW TAG VALUES WITH KEY IN (event_type, user_id)")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(both.map(_._1).distinct.sorted.toSeq == Seq("event_type", "user_id"))
    // a regex selector keeps matching keys; matching nothing is an empty
    // listing (InfluxDB), not an error — unlike a typo'd = / IN key
    val re = InfluxQLPlanner.sql(spark, dir, "SHOW TAG VALUES WITH KEY =~ /type/")
      .collect().map(_.getString(0))
    assert(re.nonEmpty && re.forall(_ == "event_type"))
    val neg = InfluxQLPlanner.sql(spark, dir, "SHOW TAG VALUES WITH KEY !~ /type/")
      .collect().map(_.getString(0))
    assert(neg.nonEmpty && neg.forall(_ == "user_id"))
    assert(InfluxQLPlanner.sql(spark, dir,
      "SHOW TAG VALUES WITH KEY =~ /nothing_matches/").count() == 0)
    intercept[InfluxQLParseException](InfluxQLPlanner.sql(spark, dir,
      "SHOW TAG VALUES WITH KEY IN (event_type, nope)"))

    // FROM /re/ resolves against the catalog on SHOW statements too
    assert(InfluxQLParser.parse("SHOW TAG VALUES FROM /^ev/ WITH KEY = event_type") ==
      ShowTagValues(Some("re:^ev"), KeyEq("event_type")))
    assert(InfluxQLRender.render(InfluxQLParser.parse(
      "SHOW TAG VALUES FROM /^ev/ WITH KEY = event_type")) ==
      "SHOW TAG VALUES FROM /^ev/ WITH KEY = event_type")
    assert(InfluxQLPlanner.sql(spark, dir,
      "SHOW TAG VALUES FROM /^ev/ WITH KEY = event_type").count() > 0)
    assert(InfluxQLPlanner.sql(spark, dir, "SHOW TAG KEYS FROM /^ev/").count() == 2)
    intercept[InfluxQLParseException](InfluxQLPlanner.sql(spark, dir,
      "SHOW TAG VALUES FROM /^nope/ WITH KEY = event_type"))

    // WHERE narrows by ANOTHER tag (the Grafana chained-variable shape)
    // and by time; unknown WHERE tags are a parse-time error
    val all = InfluxQLPlanner.sql(spark, dir,
      "SHOW TAG VALUES WITH KEY = user_id").collect().map(_.getString(1)).toSet
    val clicks = InfluxQLPlanner.sql(spark, dir,
      "SHOW TAG VALUES WITH KEY = user_id WHERE event_type = 'click'")
      .collect().map(_.getString(1)).toSet
    assert(clicks.nonEmpty && clicks.subsetOf(all))
    assert(InfluxQLPlanner.sql(spark, dir,
      "SHOW TAG VALUES WITH KEY = user_id WHERE event_type = 'no_such_type'").count() == 0)
    assert(InfluxQLPlanner.sql(spark, dir,
      "SHOW TAG VALUES WITH KEY = event_type WHERE time >= '2024-01-01' AND time < '2024-01-02'")
      .count() > 0)
    // now()-relative bounds resolve against the pinned clock
    val pinned = InfluxQLPlanner.sql(spark, dir,
      "SHOW TAG VALUES WITH KEY = event_type WHERE time > now() - 365d",
      nowNs = Some(java.time.Instant.parse("2024-01-05T00:00:00Z")
        .getEpochSecond * 1000000000L))
    assert(pinned.count() > 0)
    intercept[InfluxQLParseException](InfluxQLPlanner.sql(spark, dir,
      "SHOW TAG VALUES WITH KEY = user_id WHERE nope = 'x'"))

    // LIMIT/OFFSET page the listing
    val paged = InfluxQLPlanner.sql(spark, dir,
      "SHOW TAG VALUES WITH KEY = user_id LIMIT 2 OFFSET 1")
      .collect().map(_.getString(1)).toSeq
    assert(paged == all.toSeq.sorted.slice(1, 3))

    // [EXACT] CARDINALITY counts the distinct matching (key, value) pairs
    // per measurement instead of listing them (both variants are exact)
    assert(InfluxQLParser.parse("SHOW TAG VALUES CARDINALITY WITH KEY = user_id") ==
      ShowTagValues(None, KeyEq("user_id"), cardinality = true))
    assert(InfluxQLParser.parse("SHOW TAG VALUES EXACT CARDINALITY WITH KEY = user_id") ==
      ShowTagValues(None, KeyEq("user_id"), cardinality = true))
    val cardRow = InfluxQLPlanner.sql(spark, dir,
      "SHOW TAG VALUES CARDINALITY FROM events WITH KEY = user_id").collect()
    assert(cardRow.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("events", all.size.toLong)))
    val cardChained = InfluxQLPlanner.sql(spark, dir,
      "SHOW TAG VALUES CARDINALITY WITH KEY = user_id WHERE event_type = 'click'")
      .collect()
    assert(cardChained.map(_.getLong(1)).toSeq == Seq(clicks.size.toLong))
  }

  test("FROM m1, m2 unions measurements through the regex-FROM machinery") {
    // comma-FROM encodes as an anchored quoted alternation — the whole
    // multi-measurement path (catalog resolution, per-measurement series)
    // is shared with FROM /re/
    val q = InfluxQLParser.parseSelect("SELECT COUNT(value) AS n FROM a, b")
    assert(q.measurement == "re:^(\\Qa\\E|\\Qb\\E)$")
    // against the single-measurement test catalog, a self-union matches
    // once — same rows as the plain FROM
    val one = InfluxQLPlanner.sql(spark, dir,
      "SELECT COUNT(value) AS n FROM events").collect().map(_.getAs[Long]("n"))
    val listed = InfluxQLPlanner.sql(spark, dir,
      "SELECT COUNT(value) AS n FROM events, events").collect().map(_.getAs[Long]("n"))
    assert(one.nonEmpty && listed.sameElements(one))
    // no listed measurement known → same no-match error as a regex
    intercept[InfluxQLParseException](InfluxQLPlanner.sql(spark, dir,
      "SELECT COUNT(value) AS n FROM nope1, nope2"))
  }

  test("SHOW metadata statements parse and plan (Grafana autocomplete surface)") {
    assert(InfluxQLParser.parse("SHOW MEASUREMENTS") == Show("measurements", None))
    assert(InfluxQLParser.parse("SHOW TAG KEYS FROM events") == Show("tag_keys", Some("events")))
    assert(InfluxQLParser.parse("SHOW FIELD KEYS") == Show("field_keys", None))
    assert(InfluxQLPlanner.sql(spark, dir, "SHOW MEASUREMENTS")
      .collect().map(_.getString(0)).toSeq == Seq("events"))
    assert(InfluxQLPlanner.sql(spark, dir, "SHOW TAG KEYS FROM events").count() == 2)
    assert(InfluxQLPlanner.sql(spark, dir, "SHOW FIELD KEYS").count() == 1)
    intercept[InfluxQLParseException](
      InfluxQLPlanner.sql(spark, dir, "SHOW TAG KEYS FROM nope"))
    // round-5 additions: DATABASES, RETENTION POLICIES, SERIES
    assert(InfluxQLParser.parse("SHOW DATABASES") == Show("databases", None))
    assert(InfluxQLParser.parse("SHOW RETENTION POLICIES ON plc") ==
      Show("retention_policies", None, on = Some("plc"))) // ON scopes (r8)
    assert(InfluxQLPlanner.sql(spark, dir, "SHOW DATABASES")
      .collect().map(_.getString(0)).toSeq == Seq("plc"))
    assert(InfluxQLPlanner.sql(spark, dir, "SHOW RETENTION POLICIES")
      .collect().map(_.getString(0)).toSeq == Seq("autogen"))
    val series = InfluxQLPlanner.sql(spark, dir, "SHOW SERIES FROM events")
      .collect().map(_.getString(0))
    assert(series.nonEmpty && series.forall(_.startsWith("events,event_type=")))
    assert(series.sorted.sameElements(series) && series.distinct.length == series.length)
  }

  test("DELETE drops covered date partitions whole and rewrites partial ones") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-delete").toFile
    val points = graft.tables.Tables.events(spark, dir)
      .filter(col("ts") < lit("2024-01-04").cast("timestamp"))
      .select(col("ts"), lit("plc1").as("measurement"),
        col("event_type").as("alias"), col("value"))
    graft.sinks.PointStore.writePartitioned(points, root.toString)
    def dayRows(d: String): Long =
      spark.read.parquet(root.toString)
        .filter(col("date") === d).count()
    val day2 = dayRows("2024-01-02")

    // fully-covered day -> whole-partition drop, no rewrite
    val (dropped, rewritten) = InfluxQLPlanner.delete(spark,
      "DELETE FROM plc1 WHERE time < '2024-01-02'", root.toString)
    assert(dropped.size == 1 && dropped.head.contains("date=2024-01-01"))
    assert(rewritten.isEmpty)
    assert(!new java.io.File(root, "measurement=plc1/date=2024-01-01").exists())
    assert(dayRows("2024-01-02") == day2)

    // partial window -> in-place rewrite of just that day
    val before2 = dayRows("2024-01-02")
    val hits = spark.read.parquet(root.toString)
      .filter(col("date") === "2024-01-02" &&
        col("ts") >= lit("2024-01-02 06:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-02 12:00:00").cast("timestamp")).count()
    assert(hits > 0)
    val (d2, r2) = InfluxQLPlanner.delete(spark,
      "DELETE FROM plc1 WHERE time >= '2024-01-02 06:00:00' AND time < '2024-01-02 12:00:00'",
      root.toString)
    assert(d2.isEmpty && r2.size == 1 && r2.head.contains("date=2024-01-02"))
    assert(dayRows("2024-01-02") == before2 - hits)

    // tag-predicate delete rewrites every remaining day
    val clicks = spark.read.parquet(root.toString).filter(col("alias") === "click").count()
    assert(clicks > 0)
    val (d3, r3) = InfluxQLPlanner.delete(spark,
      "DELETE FROM plc1 WHERE alias = 'click'", root.toString)
    assert(d3.isEmpty && r3.size == 2)
    assert(spark.read.parquet(root.toString).filter(col("alias") === "click").count() == 0)

    // an unknown tag key resolves against the dynamic tag set (r9) —
    // no point carries it, so the DELETE rewrites to a no-op, exactly
    // like InfluxDB; unknown measurement still rejects
    val beforeBogus = spark.read.parquet(root.toString).count()
    InfluxQLPlanner.delete(spark,
      "DELETE FROM plc1 WHERE bogus = 'x'", root.toString)
    assert(spark.read.parquet(root.toString).count() == beforeBogus)
    intercept[InfluxQLParseException](InfluxQLPlanner.delete(spark,
      "DELETE FROM nope WHERE time < '2024-01-02'", root.toString))
    // parse + render round-trip
    assert(InfluxQLParser.parse("DELETE FROM plc1 WHERE alias = 'click'") ==
      Delete("plc1", Seq(TagCond("alias", "=", "click"))))
  }

  test("SHOW SERIES CARDINALITY counts distinct series per measurement") {
    assert(InfluxQLParser.parse("SHOW SERIES CARDINALITY FROM events") ==
      Show("series_cardinality", Some("events")))
    // EXACT variant parses to the same plan (the engine always counts exact)
    assert(InfluxQLParser.parse("SHOW SERIES EXACT CARDINALITY") ==
      Show("series_cardinality", None))
    val rows = InfluxQLPlanner.sql(spark, dir, "SHOW SERIES CARDINALITY FROM events").collect()
    assert(rows.length == 1 && rows.head.getString(0) == "events")
    val expected = graft.tables.Tables.events(spark, dir)
      .select("event_type", "user_id").distinct().count()
    assert(rows.head.getLong(1) == expected)
  }

  test("MEASUREMENT/TAG KEY/FIELD KEY CARDINALITY variants parse and plan") {
    assert(InfluxQLParser.parse("SHOW MEASUREMENT CARDINALITY") ==
      Show("measurement_cardinality", None))
    assert(InfluxQLParser.parse("SHOW TAG KEY EXACT CARDINALITY FROM events") ==
      Show("tag_key_cardinality", Some("events")))
    assert(InfluxQLParser.parse("SHOW FIELD KEY CARDINALITY") ==
      Show("field_key_cardinality", None))
    val m = InfluxQLPlanner.sql(spark, dir, "SHOW MEASUREMENT CARDINALITY").collect()
    assert(m.length == 1 && m.head.getLong(0) == 1L) // events catalog: 1 measurement
    val t = InfluxQLPlanner.sql(spark, dir, "SHOW TAG KEY CARDINALITY FROM events").collect()
    assert(t.length == 1 && t.head.getString(0) == "events" && t.head.getLong(1) == 2L)
    val f = InfluxQLPlanner.sql(spark, dir, "SHOW FIELD KEY CARDINALITY").collect()
    assert(f.length == 1 && f.head.getLong(1) == 1L)
    // render round-trip for each
    Seq("SHOW MEASUREMENT CARDINALITY", "SHOW TAG KEY CARDINALITY FROM events",
      "SHOW FIELD KEY CARDINALITY").foreach { q =>
      val st = InfluxQLParser.parse(q)
      assert(InfluxQLParser.parse(InfluxQLRender.render(st)) == st)
    }
    // a bare SHOW MEASUREMENT (no CARDINALITY) is rejected
    intercept[InfluxQLParseException](InfluxQLParser.parse("SHOW MEASUREMENT"))
  }

  test("LIMIT/OFFSET paginate SHOW statements") {
    assert(InfluxQLParser.parse("SHOW SERIES FROM events LIMIT 5 OFFSET 2") ==
      Show("series", Some("events"), Some(5), Some(2)))
    val all = InfluxQLPlanner.sql(spark, dir, "SHOW SERIES FROM events")
      .collect().map(_.getString(0)).toSeq
    val page = InfluxQLPlanner.sql(spark, dir, "SHOW SERIES FROM events LIMIT 5 OFFSET 2")
      .collect().map(_.getString(0)).toSeq
    assert(page == all.slice(2, 7))
    // LIMIT alone; render round-trips the clauses
    assert(InfluxQLPlanner.sql(spark, dir, "SHOW SERIES FROM events LIMIT 3").count() == 3)
    val st = InfluxQLParser.parse("SHOW SERIES FROM events LIMIT 5 OFFSET 2")
    assert(InfluxQLParser.parse(InfluxQLRender.render(st)) == st)
  }

  test("DROP SERIES removes matching series across all time; time bounds rejected") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-dropseries").toFile
    val points = graft.tables.Tables.events(spark, dir)
      .filter(col("ts") < lit("2024-01-04").cast("timestamp"))
      .select(col("ts"), lit("plc1").as("measurement"),
        col("event_type").as("alias"), col("value"))
    graft.sinks.PointStore.writePartitioned(points, root.toString)
    def all() = spark.read.parquet(root.toString)
    val clicks = all().filter(col("alias") === "click").count()
    val others = all().filter(col("alias") =!= "click").count()
    assert(clicks > 0 && others > 0)
    // tag-scoped: every date partition holding a click rewrites (here all
    // three days), only the series vanishes
    val (d1, r1) = InfluxQLPlanner.dropSeries(spark,
      "DROP SERIES FROM plc1 WHERE alias = 'click'", root.toString)
    assert(d1.isEmpty && r1.size == 3)
    assert(all().filter(col("alias") === "click").count() == 0)
    assert(all().count() == others)
    // parse-time rejections: time bounds belong to DELETE; bare DROP SERIES
    intercept[InfluxQLParseException](InfluxQLParser.parse(
      "DROP SERIES FROM plc1 WHERE time < '2024-01-02'"))
    intercept[InfluxQLParseException](InfluxQLParser.parse("DROP SERIES"))
    // FROM with no WHERE drops the measurement's partitions whole
    val (d2, r2) = InfluxQLPlanner.dropSeries(spark,
      "DROP SERIES FROM plc1", root.toString)
    assert(d2.size == 1 && r2.isEmpty)
    assert(!new java.io.File(root, "measurement=plc1").exists())
    // render round-trip
    val st = InfluxQLParser.parse("DROP SERIES FROM plc1 WHERE alias = 'click'")
    assert(InfluxQLParser.parse(InfluxQLRender.render(st)) == st)
  }

  test("DELETE WHERE time = ts removes at most that instant's rows (r5 data-loss fix)") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-delete-eq").toFile
    val points = graft.tables.Tables.events(spark, dir)
      .filter(col("ts") < lit("2024-01-03").cast("timestamp"))
      .select(col("ts"), lit("plc1").as("measurement"),
        col("event_type").as("alias"), col("value"))
    graft.sinks.PointStore.writePartitioned(points, root.toString)
    def all() = spark.read.parquet(root.toString)
    val total = all().count()
    // pick one stored point's exact timestamp; delete exactly it
    val target = all().orderBy("ts").limit(1).collect().head
      .getTimestamp(0)
    val targetNs = target.getTime * 1000000L + (target.getNanos % 1000000L)
    val hitRows = all().filter(col("ts") === lit(target)).count()
    assert(hitRows > 0)
    val (dropped, rewritten) = InfluxQLPlanner.delete(spark,
      s"DELETE FROM plc1 WHERE time = $targetNs", root.toString)
    // before the fix this rmTree'd EVERY date partition (bounds (None,None),
    // covered=true, no tag conds); now it's a one-day rewrite
    assert(dropped.isEmpty, s"whole-partition drop on a point delete: $dropped")
    assert(rewritten.size == 1)
    assert(all().count() == total - hitRows)
    assert(all().filter(col("ts") === lit(target)).count() == 0)
  }

  test("DELETE WHERE time = now() - d resolves through the injectable clock") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-delete-now").toFile
    val points = graft.tables.Tables.events(spark, dir)
      .filter(col("ts") < lit("2024-01-03").cast("timestamp"))
      .select(col("ts"), lit("plc1").as("measurement"),
        col("event_type").as("alias"), col("value"))
    graft.sinks.PointStore.writePartitioned(points, root.toString)
    def all() = spark.read.parquet(root.toString)
    val total = all().count()
    val target = all().orderBy("ts").limit(1).collect().head.getTimestamp(0)
    val targetNs = target.getTime * 1000000L + (target.getNanos % 1000000L)
    val hits = all().filter(col("ts") === lit(target)).count()
    // now() pinned one hour after the point; `time = now() - 1h` → exactly it
    val (dropped, rewritten) = InfluxQLPlanner.delete(spark,
      "DELETE FROM plc1 WHERE time = now() - 1h", root.toString,
      nowNs = Some(targetNs + 3600L * 1000000000L))
    assert(dropped.isEmpty && rewritten.size == 1)
    assert(all().count() == total - hits)
  }

  test("DELETE rejects time != and time bounds inside OR groups at parse time") {
    val root = java.nio.file.Files.createTempDirectory("graft-delete-val").toFile
    new java.io.File(root, "measurement=plc1/date=2024-01-01").mkdirs()
    // time != would invert to "all but one instant" — reject, don't guess
    val e1 = intercept[InfluxQLParseException](InfluxQLPlanner.delete(spark,
      "DELETE FROM plc1 WHERE time != 1704067200000000000", root.toString))
    assert(e1.getMessage.contains("time !="))
    // a TimeCond inside an OR group used to land in tagConds and blow up
    // mid-rewrite with an unresolved ts_ns AnalysisException; now it's a
    // parse-time rejection like Select's validate()
    val e2 = intercept[InfluxQLParseException](InfluxQLPlanner.delete(spark,
      "DELETE FROM plc1 WHERE (time < '2024-01-02' OR alias = 'click')", root.toString))
    assert(e2.getMessage.contains("OR"))
    // nothing was touched by the rejected statements
    assert(new java.io.File(root, "measurement=plc1/date=2024-01-01").exists())
  }

  // ---- planner ------------------------------------------------------------

  test("unknown measurement is rejected at planning time") {
    intercept[InfluxQLParseException](
      InfluxQLPlanner.sql(spark, dir, "SELECT MEAN(value) FROM nope"))
  }

  test("fill() without a bounded WHERE time range is refused (unbounded grid)") {
    intercept[InfluxQLParseException](
      InfluxQLPlanner.sql(spark, dir,
        "SELECT MEAN(value) FROM events GROUP BY time(1h) fill(previous)").collect())
  }

  test("fill(0) substitutes the value into empty buckets") {
    val rows = InfluxQLPlanner.sql(spark, dir,
      """SELECT MEAN(value) AS m FROM events
        |WHERE time >= '2024-01-01' AND time < '2024-01-03'
        |GROUP BY time(1h), user_id fill(0)""".stripMargin).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => !r.isNullAt(r.fieldIndex("m"))))
    assert(rows.exists(r => r.getDouble(r.fieldIndex("m")) == 0.0))
  }

  test("fill(null) keeps empty buckets with null; grid covers the WHERE range") {
    val df = InfluxQLPlanner.sql(spark, dir,
      """SELECT MEAN(value) AS m FROM events
        |WHERE time >= '2024-01-01' AND time < '2024-01-03'
        |GROUP BY time(1h), user_id fill(null)""".stripMargin)
    val users = df.select("user_id").distinct().count()
    // full grid: every observed series × every bucket in [t0, t1)
    assert(df.count() == users * 48)
  }

  test("LIMIT + OFFSET paginate the ordered raw select") {
    def page(limit: Int, offset: Int): Seq[String] =
      InfluxQLPlanner.sql(spark, dir,
        s"""SELECT value FROM events WHERE event_type = 'click'
           |ORDER BY time DESC LIMIT $limit OFFSET $offset""".stripMargin)
        .collect().map(_.mkString("|")).toSeq
    val first4 = page(4, 0)
    assert(first4.size == 4)
    assert(page(2, 2) == first4.drop(2))
  }

  test("aggregate over everything (no GROUP BY) yields one row") {
    val rows = InfluxQLPlanner.sql(spark, dir,
      "SELECT COUNT(value) AS n, MEAN(value) AS m FROM events").collect()
    assert(rows.length == 1 && rows(0).getLong(0) > 0)
  }

  test("r9 EMA-family transforms run against the point store (DEMA/TRIX/KAMA/with-fit)") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("graft-store-ta").toFile
    val ev = graft.tables.Tables.events(spark, dir)
      .filter(col("ts") < lit("2024-01-05").cast("timestamp"))
    graft.sinks.PointStore.writePartitioned(
      ev.select(col("ts"), lit("plc1").as("measurement"),
        col("event_type").as("alias"), col("value")), root.toString)
    def run(fn: String) = InfluxQLPlanner.sqlStore(spark, root.toString,
      s"""SELECT $fn AS v FROM plc1
         |WHERE time >= '2024-01-01' AND time < '2024-01-05'
         |GROUP BY time(6h), alias""".stripMargin).collect()
    val ema = run("EXPONENTIAL_MOVING_AVERAGE(MEAN(value), 4)")
    val dema = run("DOUBLE_EXPONENTIAL_MOVING_AVERAGE(MEAN(value), 4)")
    val trix = run("TRIPLE_EXPONENTIAL_DERIVATIVE(MEAN(value), 4)")
    val kama = run("KAUFMANS_ADAPTIVE_MOVING_AVERAGE(MEAN(value), 4)")
    val fit = run("HOLT_WINTERS_WITH_FIT(MEAN(value), 2, 0)")
    assert(ema.nonEmpty && dema.nonEmpty && kama.nonEmpty)
    // same grid: EMA and DEMA emit one row per observed bucket; TRIX drops
    // the first bucket per series; WITH_FIT adds 2 forecasts per series
    assert(dema.length === ema.length)
    val nSeries = ema.map(_.getString(1)).distinct.length
    assert(trix.length === ema.length - nSeries)
    assert(fit.length === ema.length + 2 * nSeries)
    // first fitted value per series is the first bucket's MEAN itself
    val firstFit = fit.minBy(r => (r.getString(1), r.getString(0)))
    val firstMean = InfluxQLPlanner.sqlStore(spark, root.toString,
      s"""SELECT MEAN(value) AS m FROM plc1
         |WHERE time >= '2024-01-01' AND time < '2024-01-05'
         |GROUP BY time(6h), alias""".stripMargin).collect()
      .minBy(r => (r.getString(1), r.getString(0)))
    assert(math.abs(firstFit.getDouble(2) - firstMean.getDouble(2)) < 1e-9)
  }

  test("HOLT_WINTERS over a single-bucket series: no forecast rows; WITH_FIT emits the one self-fit") {
    // One 1h bucket per series. A lone bucket has no trend — InfluxDB's
    // fitter needs >= 2 points, and the recursive-CTE oracles only seed at
    // n >= 2, so plain mode must emit nothing and fit mode exactly the
    // per-series self-fit row (ADVICE r9: the old __n===1 branch fabricated
    // constant forecasts the oracle never emits).
    def run(fn: String) = InfluxQLPlanner.sql(spark, dir,
      s"""SELECT $fn AS v FROM events
         |WHERE time >= '2024-01-01' AND time < '2024-01-01T01:00:00Z'
         |GROUP BY time(1h), event_type""".stripMargin).collect()
    val plain = run("HOLT_WINTERS(MEAN(value), 2, 0)")
    assert(plain.isEmpty, s"single-bucket plain HW must forecast nothing, got ${plain.length}")
    val fit = run("HOLT_WINTERS_WITH_FIT(MEAN(value), 2, 0)")
    val nSeries = InfluxQLPlanner.sql(spark, dir,
      s"""SELECT MEAN(value) AS m FROM events
         |WHERE time >= '2024-01-01' AND time < '2024-01-01T01:00:00Z'
         |GROUP BY time(1h), event_type""".stripMargin).collect().length
    assert(nSeries > 0 && fit.length === nSeries,
      s"fit mode must emit exactly one self-fit row per series ($nSeries), got ${fit.length}")
  }

  test("time predicates reach the parquet scan as native ts pushed filters") {
    val plan = InfluxQLPlanner.sql(spark, dir,
      """SELECT value FROM events
        |WHERE time >= '2024-01-10' AND time < '2024-01-11'""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(ts,2024-01-10 00:00:00"),
      s"time bound must push down to the scan:\n$plan")
  }
}
