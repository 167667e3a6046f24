package graft.influxql

import org.apache.spark.sql.{DataFrame, Row}

import InfluxQLAst._

/** Renders a planned InfluxQL result in InfluxDB 1.x's HTTP response shape —
  * the JSON Grafana's InfluxDB datasource consumes:
  *
  * {{{
  * {"results":[{"statement_id":0,"series":[
  *   {"name":"events","tags":{"event_type":"click"},
  *    "columns":["time","mean_value"],"values":[["2024-01-01T00:00:00Z",0.5],…]}]}]}
  * }}}
  *
  * One series object per tag set (InfluxDB's series identity); GROUP BY tags
  * move from row columns into the series' `tags` object; times render
  * RFC3339 UTC (the engine's "yyyy-MM-dd HH:mm:ss" rendering re-shaped).
  *
  * This is the PRESENTATION layer — the body of one HTTP query response for
  * a dashboard panel, inherently driver-side and bounded by the panel's
  * LIMIT/SLIMIT. The heavy lifting stays distributed in [[InfluxQLPlanner]];
  * collect() here materializes only the already-paginated result — and is
  * CAPPED at `maxRows` per statement (InfluxDB 1.x's 10k chunk size): an
  * uncapped raw `SELECT *` would otherwise pull the whole measurement onto
  * the driver. A truncated statement carries `"partial":true`, InfluxDB's
  * own marker for an incomplete chunk.
  */
object InfluxQLResult {

  /** InfluxDB 1.x chunks query responses at 10,000 rows; the renderer
    * returns the first chunk and marks the statement partial.
    */
  val DefaultMaxRows = 10000

  def render(spark: org.apache.spark.sql.SparkSession, dir: String, query: String,
      nowNs: Option[Long] = None,
      catalog: InfluxQLPlanner.Catalog = InfluxQLPlanner.Catalog.events,
      maxRows: Int = DefaultMaxRows, epoch: Option[String] = None): String =
    renderAll(spark, dir, query, nowNs, catalog, maxRows, epoch)

  /** A `;`-separated statement batch → one results entry per statement
    * with its `statement_id` — the full InfluxDB 1.x HTTP response.
    * `epoch` is the HTTP API's `epoch=` param: when set (ns/u/ms/s/m/h),
    * times render as integer epoch values in that unit instead of RFC3339.
    */
  def renderAll(spark: org.apache.spark.sql.SparkSession, dir: String, query: String,
      nowNs: Option[Long] = None,
      catalog: InfluxQLPlanner.Catalog = InfluxQLPlanner.Catalog.events,
      maxRows: Int = DefaultMaxRows, epoch: Option[String] = None): String =
    renderAll(spark, dir, InfluxQLParser.parseAll(query), nowNs, catalog, maxRows, epoch)

  /** Pre-parsed batch — the HTTP layer parses once (to route mutations)
    * and hands the ASTs straight down.
    */
  def renderAll(spark: org.apache.spark.sql.SparkSession, dir: String,
      sts: Seq[Statement], nowNs: Option[Long],
      catalog: InfluxQLPlanner.Catalog, maxRows: Int,
      epoch: Option[String]): String = {
    val results = sts.zipWithIndex.map { case (st, i) =>
      // InfluxDB 1.x embeds EXECUTION errors per statement (HTTP 200 with
      // {"statement_id":i,"error":…}) and keeps going; parse/validate
      // errors (InfluxQLParseException) still propagate — InfluxDB 400s
      // those for the whole query string before anything runs.
      try renderStatement(spark, dir, st, i, nowNs, catalog, maxRows, epoch)
      catch {
        case e: InfluxQLParseException => throw e
        case scala.util.control.NonFatal(e) =>
          statementErrorJson(i, String.valueOf(e.getMessage))
      }
    }
    s"""{"results":[${results.mkString(",")}]}"""
  }

  /** InfluxDB's per-statement error entry — a failed statement inside an
    * otherwise-successful batch.
    */
  def statementErrorJson(statementId: Int, message: String): String =
    s"""{"statement_id":$statementId,"error":${str(message)}}"""

  /** One statement → its `{"statement_id":i,...}` results entry — the
    * building block the HTTP layer uses for batches that mix renderable
    * and mutating statements.
    */
  def renderStatement(spark: org.apache.spark.sql.SparkSession, dir: String,
      st: Statement, statementId: Int, nowNs: Option[Long] = None,
      catalog: InfluxQLPlanner.Catalog = InfluxQLPlanner.Catalog.events,
      maxRows: Int = DefaultMaxRows, epoch: Option[String] = None): String = {
    val (series, partial) = statementSeries(spark, dir, st, nowNs, catalog, maxRows, epoch)
    val partialJson = if (partial) ""","partial":true""" else ""
    s"""{"statement_id":$statementId,"series":[$series]$partialJson}"""
  }

  /** Bounded driver materialization: at most maxRows rows plus a "was
    * there more" bit. limit() plans as CollectLimit — the scan stops
    * after maxRows+1 rows regardless of input size.
    */
  private def collectCapped(df: DataFrame, maxRows: Int): (Seq[Row], Boolean) = {
    val rs = df.limit(maxRows + 1).collect()
    (rs.take(maxRows).toSeq, rs.length > maxRows)
  }

  /** The series-array content for ONE statement, plus its partial bit. */
  private def statementSeries(spark: org.apache.spark.sql.SparkSession, dir: String,
      st: Statement, nowNs: Option[Long], catalog: InfluxQLPlanner.Catalog,
      maxRows: Int, epoch: Option[String]): (String, Boolean) =
    st match {
      case s: Select if s.measurement.startsWith("re:") && s.fromSub.isEmpty =>
        // FROM /re/ — one series group PER MATCHED MEASUREMENT (InfluxDB's
        // series identity includes the measurement): plan each match
        // separately so rows can't merge under one mislabeled name.
        // Measurements the regex matches but the WHERE empties are omitted,
        // as InfluxDB does. maxRows is the STATEMENT budget: each
        // measurement collects at most what the previous ones left, so a
        // wide regex cannot multiply the driver-side cap.
        var remaining = maxRows
        var partial = false
        val parts = catalog.matchMeasurements(s.measurement).map { m =>
          if (remaining <= 0) { partial = true; "" }
          else {
            val q = s.copy(measurement = m)
            val (json, p, n) = renderSelectCounted(
              InfluxQLPlanner.plan(spark, dir, q, nowNs, catalog),
              q, catalog, remaining, epoch)
            remaining -= n
            if (p) partial = true
            json
          }
        }
        (parts.filter(_.nonEmpty).mkString(","), partial)
      case s: Select =>
        val df = InfluxQLPlanner.plan(spark, dir, s, nowNs, catalog)
        renderSelect(df, s, catalog, maxRows, epoch)
      case sh: Show =>
        val df = InfluxQLPlanner.sql(spark, dir, InfluxQLRender.render(st), nowNs, catalog)
        val (rows, partial) = collectCapped(df, maxRows)
        (seriesObj(sh.what, Map.empty, df.columns.toSeq, rows, epoch), partial)
      case tv: ShowTagValues =>
        // one series per measurement (InfluxDB's series identity), the
        // statement's maxRows budget shared across them like regex-FROM;
        // LIMIT/OFFSET page PER SERIES (InfluxDB 1.x semantics). Empty
        // measurements are omitted, as InfluxDB does.
        val ms = tv.from.map(catalog.matchMeasurements)
          .getOrElse(catalog.measurements)
        if (tv.cardinality) {
          // one count series per measurement; a measurement with no
          // matching pairs is omitted like its empty listing would be
          val parts = ms.map { m =>
            val n = InfluxQLPlanner.planTagValues(spark, dir, m, tv, nowNs, catalog).count()
            if (n == 0L) ""
            else seriesObj(m, Map.empty, Seq("count"), Seq(Row(n)), epoch)
          }
          (parts.filter(_.nonEmpty).mkString(","), false)
        } else {
        var remaining = maxRows
        var partial = false
        val parts = ms.map { m =>
          if (remaining <= 0) { partial = true; "" }
          else {
            val df0 = InfluxQLPlanner.planTagValues(spark, dir, m, tv, nowNs, catalog)
            val paged = tv.offset.fold(df0)(df0.offset)
            val df = tv.limit.fold(paged)(paged.limit)
            val (rows, p) = collectCapped(df, remaining)
            remaining -= rows.size
            if (p) partial = true
            if (rows.isEmpty) ""
            else seriesObj(m, Map.empty, df.columns.toSeq, rows, epoch)
          }
        }
        (parts.filter(_.nonEmpty).mkString(","), partial)
        }
      case ShowCqs =>
        // meta-only — no Spark job. InfluxDB's shape: one series PER
        // DATABASE (name = the db), empty dbs included, columns
        // (name, query).
        val dbs = ("plc" +: StoreMeta.listDatabases(dir)).distinct
        val byDb = StoreMeta.listCqs(dir).groupBy(_.db)
        val parts = dbs.map { db =>
          val rows = byDb.getOrElse(db, Seq.empty).map(c => Row(c.name, c.text))
          seriesObj(db, Map.empty, Seq("name", "query"), rows, epoch)
        }
        (parts.mkString(","), false)
      case e: Explain =>
        // the plan text as QUERY PLAN rows (InfluxDB's EXPLAIN shape),
        // sourced from Spark's real planner — ANALYZE executes first so
        // the adaptive FINAL plan renders
        val df = InfluxQLPlanner.sql(spark, dir, InfluxQLRender.render(e), nowNs, catalog)
        val (rows, partial) = collectCapped(df, maxRows)
        (seriesObj("", Map.empty, Seq("QUERY PLAN"), rows, epoch), partial)
      case ShowShards | ShowShardGroups =>
        // one series per database (InfluxDB's grouping), rows from the
        // store's measurement/date partition layout
        val df = InfluxQLPlanner.sql(spark, dir, InfluxQLRender.render(st), nowNs, catalog)
        val (rows, partial) = collectCapped(df, maxRows)
        val cols = df.columns.toSeq
        val byDb = rows.groupBy(_.getString(1)).toSeq.sortBy(_._1)
        val parts = byDb.map { case (db, rs) => seriesObj(db, Map.empty, cols, rs, epoch) }
        (parts.mkString(","), partial)
      case ShowStats | ShowDiagnostics =>
        // metadata-only planning; series named after the statement
        val df = InfluxQLPlanner.sql(spark, dir, InfluxQLRender.render(st), nowNs, catalog)
        val (rows, partial) = collectCapped(df, maxRows)
        val name = if (st == ShowStats) "stats" else "diagnostics"
        (seriesObj(name, Map.empty, df.columns.toSeq, rows, epoch), partial)
      case ShowSubs =>
        // meta-only. InfluxDB's shape: one series per DATABASE, columns
        // (retention_policy, name, mode, destinations[])
        val byDb = StoreMeta.listSubs(dir).groupBy(_.db).toSeq.sortBy(_._1)
        val parts = byDb.map { case (db, subs) =>
          seriesObj(db, Map.empty, Seq("retention_policy", "name", "mode", "destinations"),
            subs.sortBy(s => (s.rp, s.name))
              .map(s => Row(s.rp, s.name, s.mode, s.destinations)), epoch)
        }
        (parts.mkString(","), false)
      case ShowUsers =>
        // meta-only. InfluxDB's shape: series "users", columns (user, admin)
        val rows = StoreMeta.listUsers(dir).map(u => Row(u.name, u.admin))
        (seriesObj("users", Map.empty, Seq("user", "admin"), rows, epoch), false)
      case ShowGrants(user) =>
        // meta-only. columns (database, privilege); ALL renders as
        // InfluxDB's "ALL PRIVILEGES" wire text
        val rows = StoreMeta.grants(dir, user).map { case (db, p) =>
          Row(db, if (p == "ALL") "ALL PRIVILEGES" else p)
        }
        (seriesObj("grants", Map.empty, Seq("database", "privilege"), rows, epoch), false)
      case ShowQueries =>
        // registry-only — no Spark job; duration uses the same clock
        // convention as InfluxQLQueries.track (pinned nowNs in tests)
        val now = nowNs.getOrElse(System.nanoTime())
        val rows = InfluxQLQueries.list().map(r => Row(r.qid, r.query, r.db,
          InfluxQLQueries.durationStr(math.max(0L, now - r.startNs))))
        (seriesObj("queries", Map.empty,
          Seq("qid", "query", "database", "duration"), rows, epoch), false)
      case other => throw InfluxQLParseException(s"not a renderable result: $other")
    }

  private def renderSelect(df: DataFrame, s: Select,
      catalog: InfluxQLPlanner.Catalog, maxRows: Int,
      epoch: Option[String]): (String, Boolean) = {
    val (json, partial, _) = renderSelectCounted(df, s, catalog, maxRows, epoch)
    (json, partial)
  }

  private def renderSelectCounted(df: DataFrame, s: Select,
      catalog: InfluxQLPlanner.Catalog, maxRows: Int,
      epoch: Option[String]): (String, Boolean, Int) = {
    val (rows, partial) = collectCapped(df, maxRows)
    (selectSeries(s, catalog, df.columns.toSeq, rows, epoch), partial, rows.size)
  }

  /** One SELECT's rows → the series-array content (one series object per
    * tag set, first-appearance order — the planner already orders by tags).
    * Shared by the capped single-response path and each chunk of a chunked
    * response.
    */
  private def selectSeries(s: Select, catalog: InfluxQLPlanner.Catalog,
      cols: Seq[String], rows: Seq[Row], epoch: Option[String]): String = {
    // the per-measurement regex branch rewrites s.measurement to a plain
    // name; the one remaining "re:" path is an aggregate over a regex-FROM
    // SUBQUERY, whose rows span measurements — name it after the first
    // match rather than leaking the internal "re:" encoding
    val measurement =
      if (s.measurement.startsWith("re:")) {
        val re = s.measurement.drop(3).r
        catalog.measurements.find(m => re.findFirstIn(m).isDefined)
          .getOrElse(s.measurement.drop(3))
      } else s.measurement
    val tags = s.groupTags match {
      case Seq("*") => catalog.tags
      case t        => t
    }
    val tagIdx = tags.flatMap(t => cols.zipWithIndex.find(_._1 == t).map(_._2))
    val valueIdx = cols.indices.filterNot(tagIdx.contains)
    if (tagIdx.isEmpty) {
      if (rows.isEmpty) ""
      else seriesObj(measurement, Map.empty, valueIdx.map(cols),
        rows.map(pick(_, valueIdx)), epoch)
    } else {
      val grouped = scala.collection.mutable.LinkedHashMap
        .empty[Seq[String], scala.collection.mutable.ArrayBuffer[Row]]
      rows.foreach { r =>
        val key = tagIdx.map(i => String.valueOf(r.get(i)))
        grouped.getOrElseUpdate(key, scala.collection.mutable.ArrayBuffer.empty) += r
      }
      grouped.map { case (key, rs) =>
        seriesObj(measurement, tags.zip(key).toMap, valueIdx.map(cols),
          rs.toSeq.map(pick(_, valueIdx)), epoch)
      }.mkString(",")
    }
  }

  /** Chunked rendering — InfluxDB 1.x's `chunked=true&chunk_size=N`: one
    * `{"results":[…]}` document per chunk, every chunk but a statement's
    * last marked `"partial":true`. Rows stream through
    * `Dataset.toLocalIterator`, so the driver holds ~one partition plus at
    * most two chunk buffers AT ANY SIZE — this is the wire path for raw
    * exports that outgrow the single-response cap; the plan's ordering is
    * preserved (toLocalIterator walks partitions in order).
    */
  def renderChunks(spark: org.apache.spark.sql.SparkSession, dir: String, query: String,
      nowNs: Option[Long] = None,
      catalog: InfluxQLPlanner.Catalog = InfluxQLPlanner.Catalog.events,
      chunkSize: Int = DefaultMaxRows, epoch: Option[String] = None): Iterator[String] =
    renderChunks(spark, dir, InfluxQLParser.parseAll(query), nowNs, catalog, chunkSize, epoch)

  /** Pre-parsed batch — see [[renderAll]]'s AST overload. */
  def renderChunks(spark: org.apache.spark.sql.SparkSession, dir: String,
      sts: Seq[Statement], nowNs: Option[Long],
      catalog: InfluxQLPlanner.Catalog, chunkSize: Int,
      epoch: Option[String]): Iterator[String] = {
    import scala.jdk.CollectionConverters._
    def doc(i: Int, series: String, partial: Boolean): String = {
      val p = if (partial) ""","partial":true""" else ""
      s"""{"results":[{"statement_id":$i,"series":[$series]$p}]}"""
    }
    sts.iterator.zipWithIndex.flatMap {
      case (s: Select, i) =>
        // regex-FROM plans per measurement (series identity), sequentially
        val plans: Seq[Select] =
          if (s.measurement.startsWith("re:") && s.fromSub.isEmpty)
            catalog.matchMeasurements(s.measurement).map(m => s.copy(measurement = m))
          else Seq(s)
        // plan eagerly (analysis errors surface before any chunk is sent),
        // execute lazily (toLocalIterator pulls partitions on demand)
        val perPlan = plans.map { q =>
          (q, InfluxQLPlanner.plan(spark, dir, q, nowNs, catalog))
        }
        val chunks: Iterator[(Select, Seq[String], Seq[Row])] =
          perPlan.iterator.flatMap { case (q, df) =>
            val cols = df.columns.toSeq
            df.toLocalIterator().asScala.grouped(chunkSize).map(rows => (q, cols, rows))
          }
        if (!chunks.hasNext) Iterator.single(doc(i, "", partial = false))
        else chunks.map { case (q, cols, rows) =>
          // hasNext peeks ONE chunk ahead (at most two buffered), which is
          // exactly how InfluxDB knows to mark all-but-last partial
          doc(i, selectSeries(q, catalog, cols, rows, epoch), partial = chunks.hasNext)
        }
      case (st, i) =>
        // metadata statements take chunkSize as their cap too — SHOW SERIES
        // is proportional to data cardinality, so "metadata" is NOT a
        // license for an unbounded collect; an over-cap listing is one doc
        // marked partial, same memory bound as the row path
        val (series, partial) = statementSeries(spark, dir, st, nowNs, catalog,
          chunkSize, epoch)
        Iterator.single(doc(i, series, partial))
    }
  }

  private def pick(r: Row, idx: Seq[Int]): Row =
    Row.fromSeq(idx.map(r.get))

  private def seriesObj(name: String, tags: Map[String, String],
      columns: Seq[String], rows: Seq[Row],
      epoch: Option[String] = None): String = {
    val tagsJson =
      if (tags.isEmpty) ""
      else tags.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${str(k)}:${str(v)}" }
        .mkString(""""tags":{""", ",", "},")
    val colsJson = columns.map(str).mkString("[", ",", "]")
    val valuesJson = rows.map { r =>
      columns.indices.map(i => jsonValue(columns(i), r.get(i), epoch)).mkString("[", ",", "]")
    }.mkString("[", ",", "]")
    s"""{"name":${str(name)},$tagsJson"columns":$colsJson,"values":$valuesJson}"""
  }

  /** epoch= divisor from nanoseconds, InfluxDB's accepted units. Visible
    * to the HTTP layer so an invalid unit 400s BEFORE a chunked response
    * commits its 200 header.
    */
  private[influxql] def epochDiv(unit: String): Long = unit match {
    case "ns" => 1L
    case "u"  => 1000L
    case "ms" => 1000000L
    case "s"  => 1000000000L
    case "m"  => 60L * 1000000000L
    case "h"  => 3600L * 1000000000L
    case other => throw InfluxQLParseException(s"unknown epoch unit: $other")
  }

  /** The engine renders times as 'yyyy-MM-dd HH:mm:ss' (UTC, or zone-local
    * under tz()), with '.SSSSSS' on a sub-second GROUP BY time grid; the
    * wire format is RFC3339 — the fraction with its trailing zeros trimmed,
    * as InfluxDB's RFC3339Nano — or integer epoch when the request carries
    * `epoch=` (times are interpreted as UTC — tz() queries should not
    * combine with epoch rendering).
    */
  private def jsonValue(col: String, v: Any, epoch: Option[String]): String = v match {
    case null => "null"
    case s: String if col == "time" && s.length == 19 && s.charAt(10) == ' ' =>
      epoch match {
        case Some(unit) => epochValue(s, unit)
        case None =>
          str(s.substring(0, 10) + "T" + s.substring(11) + "Z")
      }
    case s: String if col == "time" && s.length == 26 && s.charAt(10) == ' ' &&
        s.charAt(19) == '.' =>
      epoch match {
        case Some(unit) => epochValue(s, unit)
        case None =>
          val frac = s.substring(20).reverse.dropWhile(_ == '0').reverse
          str(s.substring(0, 10) + "T" + s.substring(11, 19) +
            (if (frac.isEmpty) "" else "." + frac) + "Z")
      }
    case s: String => str(s)
    case d: Double if d.isNaN || d.isInfinite => "null"
    case n @ (_: Double | _: Float | _: Long | _: Int | _: Short | _: Byte) => n.toString
    case b: Boolean => b.toString
    case d: java.math.BigDecimal => d.toPlainString
    // nested arrays (SHOW SUBSCRIPTIONS' destinations) — InfluxDB emits
    // a JSON array cell
    case xs: Seq[_] => xs.map(x => jsonValue("", x, epoch)).mkString("[", ",", "]")
    case other => str(String.valueOf(other))
  }

  /** A rendered UTC time, with or without its fraction, as an integer in
    * the `epoch=` unit. */
  private def epochValue(s: String, unit: String): String = {
    val inst = java.time.LocalDateTime
      .parse(s.substring(0, 10) + "T" + s.substring(11))
      .toInstant(java.time.ZoneOffset.UTC)
    val ns = inst.getEpochSecond * 1000000000L + inst.getNano
    (ns / epochDiv(unit)).toString
  }

  private def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'           => sb ++= "\\\""
      case '\\'          => sb ++= "\\\\"
      case c if c < ' '  => sb ++= f"\\u${c.toInt}%04x"
      case c             => sb += c
    }
    (sb += '"').result()
  }
}
