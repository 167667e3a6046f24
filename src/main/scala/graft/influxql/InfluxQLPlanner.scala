package graft.influxql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sinks.{PointStore, PointStoreDirect, StoreLayout}
import graft.tables.Tables
import InfluxQLAst._

/** Plans a parsed InfluxQL SELECT onto the engine's proven operators.
  *
  * Everything here maps 1:1 onto patterns that are already oracle-green as
  * standalone queries, so the front-end inherits both their DuckDB parity
  * rules (Q.scala) and their 100 TB scale properties:
  *
  *  - time predicates filter the RAW nanosecond column `ts_ns`, so they
  *    push down to parquet row-group stats (q_time_range pattern);
  *  - GROUP BY time(n) is `window(ts, n)` — a single partial+final hash
  *    aggregate, one shuffle on (bucket, tags) (q_downsample_1m);
  *  - fill(previous|linear|null|value) generates the bucket grid on the
  *    EXECUTORS with sequence()+explode — output-proportional, no driver
  *    loop — and fills with per-series window passes (q_fill_previous /
  *    q_fill_linear). The grid is bounded by the WHERE time range, which
  *    the planner REQUIRES for fill: an unbounded grid at 100 TB is an
  *    output explosion, so it refuses instead of guessing;
  *  - raw selects order by (ts_ns, event_id) — deterministic under ties —
  *    and LIMIT plans as TakeOrderedAndProject (q_topk_global).
  *
  * Rendered-value conventions (the front-end's display contract, shared
  * with the standalone operators so results are engine-portable):
  * mean/stddev/median/percentile round to 4 decimals, sum/spread to 2;
  * min/max/first/last/count are exact. Linear interpolation truncates via
  * floor(x*1e4)/1e4 (bit-deterministic across engines, see q_fill_linear).
  */
object InfluxQLPlanner {

  /** Measurement catalog: which measurements exist, their tag keys, the
    * value field, and how to load one measurement's frame. A loaded frame
    * must carry `ts` (timestamp), `ts_ns` (raw epoch nanos — parquet
    * row-group pushdown + exact integer bucketing), `event_id` (unique
    * per-row tie-break), the tag columns, and the field column.
    */
  final case class Catalog(
      measurements: Seq[String],
      tags: Seq[String],
      field: String,
      load: (SparkSession, String, String) => DataFrame,
      /** When set, the named tag holds the FIELD KEY of each point (the
        * point store's `alias` — multi-field writes explode to one row
        * per field, field key in this tag). SELECTs may then name fields
        * directly — `SELECT MEAN(usage_idle) FROM cpu`, the standard
        * Grafana/Telegraf shape — and the planner resolves them to
        * conditional projections of `field` (see [[plan]]). None = the
        * catalog's single `field` column is the only field (events).
        */
      fieldTag: Option[String] = None,
      /** When set, the named column carries each point's DYNAMIC tag set
        * as canonical JSON (keys sorted — `/write` persists Telegraf's
        * `cpu,host=a,region=b` dimensions here, r9). WHERE keys compared
        * to strings/regexes and GROUP BY names that aren't physical
        * columns resolve as lookups into it; the SHOW TAG surfaces list
        * its keys/values next to the static `tags`. None = the static
        * tag columns are the whole tag space (events).
        */
      tagsJson: Option[String] = None) {
    /** The parsed map view of [[tagsJson]] (null-safe: legacy rows carry
      * null and every lookup yields null).
      */
    def tagsMap: Column = from_json(col(tagsJson.get),
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.StringType))

    /** Materialize `keys` as columns: physical columns pass through,
      * dynamic tag keys become `element_at(tagsMap, k)` (null when the
      * point lacks the tag — InfluxDB's empty-tag semantics). The ONE
      * place WHERE / GROUP BY / SHOW TAG VALUES / DELETE resolve dynamic
      * tags.
      */
    def withDynTags(df: DataFrame, keys: Seq[String]): DataFrame =
      if (tagsJson.isEmpty) df
      else keys.distinct.filterNot(df.columns.contains)
        .foldLeft(df)((d, k) => d.withColumn(k, element_at(tagsMap, k)))
    def requireMeasurement(m: String): Unit =
      if (!measurements.contains(m))
        throw InfluxQLParseException(
          s"unknown measurement: $m (catalog: ${measurements.mkString(", ")})")

    /** Resolve a FROM target against the catalog: a plain name validates
      * to itself; the parser's `re:<regex>` encoding expands to every
      * matching measurement (error when none match). The ONE place regex
      * FROM resolution lives — the planner, INTO, the renderer, and the
      * chunked renderer all call it.
      */
    def matchMeasurements(measurement: String): Seq[String] =
      if (measurement.startsWith("re:")) {
        val re = measurement.drop(3).r
        val ms = measurements.filter(m => re.findFirstIn(m).isDefined)
        if (ms.isEmpty) throw InfluxQLParseException(
          s"FROM /${measurement.drop(3)}/ matches no measurement " +
            s"(catalog: ${measurements.mkString(", ")})")
        ms
      } else { requireMeasurement(measurement); Seq(measurement) }
  }

  object Catalog {
    /** Driver testdata catalog: single measurement `events`. */
    val events: Catalog = Catalog(Seq("events"), Seq("event_type", "user_id"),
      "value", (s, dir, _) => Tables.events(s, dir))

    /** A measurement+date-partitioned point store (PointStore layout —
      * what the ingest pipeline writes): one measurement per
      * `measurement=` partition, tag `alias`. The tie-break id is a row
      * hash — deterministic given the data; ties occur only between
      * bit-identical rows, which every selector is insensitive to.
      */
    def store(storeDir: String): Catalog =
      Catalog(StoreLayout.measurements(storeDir), Seq("alias"), "value", fieldTag = Some("alias"),
        tagsJson = Some("tags"),
        load = (s, _, m) => {
          // EXPLICIT data schema (PointStoreDirect.readSchema): files
          // written before the tags column existed read null there —
          // never a per-file schema lottery. A measurement whose
          // partitions all expired (retention/DELETE) is still a valid,
          // empty measurement — not a schema error.
          val df = try s.read.schema(PointStoreDirect.readSchema)
            .parquet(StoreLayout.measurementDir(storeDir, m).getPath)
          catch {
            case _: org.apache.spark.sql.AnalysisException =>
              s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                PointStoreDirect.readSchema.add("date", org.apache.spark.sql.types.StringType))
          }
          df.select(col("*"), (unix_micros(col("ts")) * 1000L).as("ts_ns"),
            xxhash64(col("alias"), col("ts"), col("value"), col("tags")).as("event_id"))
        })
  }

  /** Parse + plan: the engine's user-facing `influxql(...)` entry point.
    * `nowNs` pins `now()`-relative time bounds (`WHERE time > now() - 1h`,
    * the default Grafana shape) to a fixed instant; it defaults to the
    * wall clock, so pass it explicitly wherever determinism matters.
    */
  def sql(spark: SparkSession, dir: String, query: String,
      nowNs: Option[Long] = None, catalog: Catalog = Catalog.events): DataFrame =
    InfluxQLParser.parse(query) match {
      case s: Select            => plan(spark, dir, s, nowNs, catalog)
      case sh: Show             => planShow(spark, dir, sh, catalog)
      case tv: ShowTagValues =>
        val ms = tv.from.map(catalog.matchMeasurements)
          .getOrElse(catalog.measurements)
        val df =
          if (tv.cardinality)
            // CARDINALITY: per-measurement count of distinct matching
            // (key, value) pairs — the same planShow (measurement, count)
            // shape the other cardinality SHOWs use. The count collapses
            // the distinct agg's output to one row per measurement.
            ms.map(m => planTagValues(spark, dir, m, tv, nowNs, catalog)
                .agg(count(lit(1)).as("count"))
                .select(lit(m).as("measurement"), col("count")))
              .reduceOption(_.unionByName(_))
              .getOrElse {
                import spark.implicits._
                Seq.empty[(String, Long)].toDF("measurement", "count")
              }
              .orderBy("measurement")
          else ms.map(planTagValues(spark, dir, _, tv, nowNs, catalog)) match {
            case Seq()    => emptyTagValues(spark)
            case Seq(one) => one
            // values can repeat across measurements — flatten to one
            // distinct listing (the HTTP renderer keeps them apart as one
            // series per measurement instead)
            case many => many.reduce(_.unionByName(_)).distinct().orderBy("key", "value")
          }
        val paged = tv.offset.fold(df)(df.offset)
        tv.limit.fold(paged)(paged.limit)
      case ShowCqs =>
        // flat (db, name, query) frame for programmatic callers; the HTTP
        // renderer re-groups one series per database (InfluxDB's shape)
        import spark.implicits._
        StoreMeta.listCqs(dir).map(c => (c.db, c.name, c.text))
          .toDF("db", "name", "query").orderBy("db", "name")
      case Explain(sel, analyze) =>
        import spark.implicits._
        val df = plan(spark, dir, sel, nowNs, catalog)
        val text =
          if (analyze) {
            // execute THIS queryExecution (no driver materialization) so
            // its AdaptiveSparkPlan finalizes — df.count() would run a
            // different plan and leave this one unexecuted
            df.queryExecution.toRdd.foreach(_ => ())
            df.queryExecution.executedPlan.toString
          } else df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        text.linesIterator.toSeq.toDF("QUERY PLAN")
      case ShowShards =>
        import spark.implicits._
        shardRows(dir).toDF("id", "database", "retention_policy",
          "shard_group", "start_time", "end_time", "expiry_time", "owners")
      case ShowShardGroups =>
        // one group per (db, date) — in this layout groups and shards are
        // 1:1 (single-node, no series-hash splitting), so the rows are the
        // shard rows minus the per-shard columns
        import spark.implicits._
        shardRows(dir).map(r => (r._1, r._2, r._3, r._5, r._6, r._7))
          .toDF("id", "database", "retention_policy",
            "start_time", "end_time", "expiry_time")
      case ShowStats =>
        // filesystem METADATA only — no data scan, constant-time against
        // store size in measurements (not rows)
        import spark.implicits._
        val parts = StoreLayout.partitions(dir)
        val files = parts.flatMap(p => StoreLayout.dataFiles(p.dir))
        Seq((StoreLayout.measurements(dir).size.toLong, parts.size.toLong,
          files.size.toLong, files.map(_.length()).sum,
          InfluxQLQueries.list().size.toLong))
          .toDF("measurements", "shards", "files", "bytes", "active_queries")
      case ShowDiagnostics =>
        import spark.implicits._
        Seq(
          ("build", "Version", "1.7-graft"),
          ("build", "Engine", s"Spark ${spark.version}"),
          ("runtime", "Parallelism", spark.sparkContext.defaultParallelism.toString),
          ("runtime", "ShufflePartitions", spark.conf.get("spark.sql.shuffle.partitions")))
          .toDF("section", "name", "value")
      case ShowUsers =>
        import spark.implicits._
        StoreMeta.listUsers(dir).map(u => (u.name, u.admin))
          .toDF("user", "admin").orderBy("user")
      case ShowGrants(user) =>
        import spark.implicits._
        StoreMeta.grants(dir, user).toDF("database", "privilege").orderBy("database")
      case st @ (_: CreateDatabase | _: DropDatabase | _: DropCq |
                 _: CreateRetention | _: AlterRetention | _: DropRetention |
                 _: CreateUser | _: DropUser | _: SetPassword |
                 _: Grant | _: Revoke) =>
        throw InfluxQLParseException(
          s"${st.getClass.getSimpleName} mutates store metadata — use graft.influxql.StoreMeta")
      case _: DropMeasurement   => throw InfluxQLParseException(
        "DROP MEASUREMENT mutates the store — use InfluxQLPlanner.dropMeasurement(query, storeDir)")
      case _: Delete            => throw InfluxQLParseException(
        "DELETE mutates the store — use InfluxQLPlanner.delete(spark, query, storeDir)")
      case _: DropSeries        => throw InfluxQLParseException(
        "DROP SERIES mutates the store — use InfluxQLPlanner.dropSeries(spark, query, storeDir)")
      case _: CreateCq          => throw InfluxQLParseException(
        "CREATE CONTINUOUS QUERY plans onto a stream — use InfluxQLPlanner.continuous(frame, query)")
      case other => throw InfluxQLParseException(s"cannot run $other against a data dir")
    }

  /** Query a measurement+date-partitioned point store (PointStore layout)
    * with InfluxQL — the ingest pipeline's output queried back: `FROM
    * <plc>` maps to the `measurement=<plc>` partition (the reference's
    * db-per-PLC isolation, SURVEY §2.1 S4), tag `alias`, field `value`.
    */
  def sqlStore(spark: SparkSession, storeDir: String, query: String,
      nowNs: Option[Long] = None): DataFrame =
    sql(spark, storeDir, query, nowNs, Catalog.store(storeDir))

  /** The metadata surface Grafana's query builder polls (SHOW …),
    * rendered in InfluxDB 1.7's result shapes from the active catalog.
    * LIMIT/OFFSET page the listing AFTER its canonical ordering (the
    * offset/limit plan is a CollectLimit — no full materialization).
    */
  private def planShow(spark: SparkSession, dir: String, sh: Show,
      catalog: Catalog): DataFrame = {
    import spark.implicits._
    val Show(what, from, limit, offset, on) = sh
    // plain names validate, /re/ expands against the catalog (errors when
    // nothing matches, like a SELECT's regex FROM)
    // lazy: the measurements case resolves its WITH MEASUREMENT filter
    // itself (empty match = empty listing, not the regex-FROM error)
    lazy val fromMs = from.map(catalog.matchMeasurements)
    val base: DataFrame = what match {
      // WITH MEASUREMENT =~ /re/ arrives as a "re:" from (parser); an
      // unfiltered listing keeps from = None. No-match lists EMPTY
      // (InfluxDB's behavior for this filter — unlike a SELECT's
      // regex FROM, which errors)
      case "measurements" =>
        val ms = from match {
          case Some(f) if f.startsWith("re:") =>
            val re = f.drop(3).r
            catalog.measurements.filter(m => re.findFirstIn(m).isDefined)
          case Some(f) => catalog.measurements.filter(_ == f)
          case None    => catalog.measurements
        }
        ms.toDF("name")
      case "databases"    =>
        // the engine's implicit namespace plus every CREATE DATABASE'd one
        // (StoreMeta markers) — a dir-backed catalog has no _meta and
        // lists just the implicit db, the pre-lifecycle behavior
        ("plc" +: StoreMeta.listDatabases(dir)).distinct.toDF("name")
      case "tag_keys"     =>
        val static = (for { m <- fromMs.getOrElse(catalog.measurements); t <- catalog.tags }
          yield (m, t)).toDF("measurement", "tag_key")
        // dynamic tag keys (r9): the distinct keys of the JSON tag-set
        // column, listed next to the static tags — a column-pruned
        // distinct per measurement (explode drops null/untagged rows)
        catalog.tagsJson match {
          case Some(_) =>
            fromMs.getOrElse(catalog.measurements)
              .map(m => catalog.load(spark, dir, m)
                .select(explode(map_keys(catalog.tagsMap)).as("tag_key"))
                .distinct()
                .select(lit(m).as("measurement"), col("tag_key")))
              .reduceOption(_.unionByName(_))
              .fold(static)(static.unionByName(_))
              .distinct().orderBy("measurement", "tag_key")
          case None => static
        }
      case "field_keys"   =>
        // Over a fieldTag store the alias IS the field key (multi-field
        // writes explode per field, r9) — list the distinct keys per
        // measurement, the catalog Grafana's query builder pulls. One
        // column-pruned distinct per measurement; catalogs without a
        // fieldTag keep the single synthetic value field.
        catalog.fieldTag match {
          case Some(ft) =>
            fromMs.getOrElse(catalog.measurements)
              .map(m => catalog.load(spark, dir, m)
                .select(lit(m).as("measurement"), col(ft).as("field_key"),
                  lit("float").as("field_type")).distinct())
              .reduceOption(_.unionByName(_))
              .getOrElse(Seq.empty[(String, String, String)]
                .toDF("measurement", "field_key", "field_type"))
              .orderBy("measurement", "field_key")
          case None =>
            fromMs.getOrElse(catalog.measurements)
              .map(m => (m, catalog.field, "float"))
              .toDF("measurement", "field_key", "field_type")
        }
      case "retention_policies" =>
        // explicit policies from the store meta (ON db scopes; no ON lists
        // every db's), TOPPED with the implicit infinite autogen default
        // whenever no explicit policy has claimed DEFAULT — matching a
        // fresh InfluxDB's one-autogen listing.
        // exact InfluxDB 1.x wire column names — clients key on replicaN
        val explicit = StoreMeta.listRps(dir, on)
          .map(rp => (rp.name, s"${rp.durationSec}s", rp.replication, rp.isDefault))
        val rows =
          if (explicit.exists(_._4) && on.isDefined) explicit
          else ("autogen", "0s", 1, !explicit.exists(_._4)) +: explicit
        rows.toDF("name", "duration", "replicaN", "default")
      case "series" =>
        // InfluxDB series-key format: measurement,tag1=v1,tag2=v2 with tags
        // sorted by key — distinct over the tag set, one small shuffle.
        // Dynamic tags (r9) append from the canonical JSON (already
        // key-sorted by the writer, so the rendered order matches
        // InfluxDB's sorted series key; legacy/untagged rows contribute
        // nothing). An empty catalog (a served store before its first
        // write) is an empty listing, not a crash.
        fromMs.getOrElse(catalog.measurements)
          .map { m =>
            val static = catalog.tags.sorted.flatMap(t =>
              Seq(lit(s",$t="), col(t).cast("string")))
            val dyn = catalog.tagsJson.toSeq.map { _ =>
              val rendered = array_join(transform(map_entries(catalog.tagsMap),
                e => concat(e.getField("key"), lit("="), e.getField("value"))), ",")
              when(col(catalog.tagsJson.get).isNotNull,
                concat(lit(","), rendered)).otherwise(lit(""))
            }
            val parts = (lit(m) +: static) ++ dyn
            catalog.load(spark, dir, m).select(concat(parts: _*).as("key")).distinct()
          }
          .reduceOption(_.unionByName(_))
          .getOrElse(Seq.empty[String].toDF("key")).orderBy("key")
      case "series_cardinality" =>
        // SHOW SERIES [EXACT] CARDINALITY — per-measurement distinct series
        // count: a partial+final count_distinct over the tag tuple, one tiny
        // shuffle per measurement (swap in approx_count_distinct past ~1e9
        // series; the engine computes exact like SHOW SERIES EXACT …)
        fromMs.getOrElse(catalog.measurements)
          .map { m =>
            // dynamic tag sets (canonical strings) count as series
            // dimensions next to the static tags
            val dims = catalog.tags.sorted.map(col) ++
              catalog.tagsJson.map(col).toSeq
            catalog.load(spark, dir, m)
              .agg(count_distinct(struct(dims: _*)).as("count"))
              .select(lit(m).as("measurement"), col("count"))
          }
          .reduceOption(_.unionByName(_))
          .getOrElse(Seq.empty[(String, Long)].toDF("measurement", "count"))
          .orderBy("measurement")
      // the remaining cardinalities are catalog-derived constants — no scan
      case "measurement_cardinality" =>
        Seq(catalog.measurements.size.toLong).toDF("count")
      case "tag_key_cardinality" =>
        catalog.tagsJson match {
          case Some(_) => // static keys + the store's distinct dynamic keys
            fromMs.getOrElse(catalog.measurements)
              .map(m => catalog.load(spark, dir, m)
                .select(explode(map_keys(catalog.tagsMap)).as("k"))
                .agg((count_distinct(col("k")) + catalog.tags.size).as("count"))
                .select(lit(m).as("measurement"), col("count")))
              .reduceOption(_.unionByName(_))
              .getOrElse(Seq.empty[(String, Long)].toDF("measurement", "count"))
              .orderBy("measurement")
          case None =>
            fromMs.getOrElse(catalog.measurements)
              .map(m => (m, catalog.tags.size.toLong))
              .toDF("measurement", "count")
        }
      case "field_key_cardinality" =>
        catalog.fieldTag match {
          case Some(ft) => // distinct field keys live in the fieldTag (r9)
            fromMs.getOrElse(catalog.measurements)
              .map(m => catalog.load(spark, dir, m)
                .agg(count_distinct(col(ft)).as("count"))
                .select(lit(m).as("measurement"), col("count")))
              .reduceOption(_.unionByName(_))
              .getOrElse(Seq.empty[(String, Long)].toDF("measurement", "count"))
              .orderBy("measurement")
          case None =>
            fromMs.getOrElse(catalog.measurements)
              .map(m => (m, 1L)).toDF("measurement", "count")
        }
      case other => throw InfluxQLParseException(s"unsupported SHOW: $other")
    }
    val paged = offset.fold(base)(base.offset)
    limit.fold(paged)(paged.limit)
  }

  /** SHOW SHARDS rows from the store's physical layout: one shard per
    * `measurement=…/date=…` partition — the engine's drop unit for
    * retention and covered DELETEs, which is exactly what InfluxDB's
    * shards are for. `id` is a stable hash of the partition path;
    * `expiry_time` derives from the measurement-db's default retention
    * policy (empty = infinite, the autogen default); `owners` is empty in
    * local mode (replication belongs to the storage layer at scale).
    * A flat-parquet data dir (no partitions) lists no shards, like a
    * fresh InfluxDB.
    */
  private def shardRows(dir: String)
      : Seq[(Long, String, String, String, String, String, String, String)] = {
    val rps = StoreMeta.listRps(dir)
    StoreLayout.partitions(dir).map { case StoreLayout.Partition(m, start, _) =>
      val rp = rps.find(r => r.db == m && r.isDefault)
      val expiry = rp.filter(_.durationSec > 0)
        .map(r => s"${start.plusDays(1L + PointStore.retentionDays(r.durationSec))}T00:00:00Z")
        .getOrElse("")
      (Math.abs(scala.util.hashing.MurmurHash3.stringHash(s"$m/$start").toLong),
        m, rp.map(_.name).getOrElse("autogen"), start.toString, s"${start}T00:00:00Z",
        s"${start.plusDays(1)}T00:00:00Z", expiry, "")
    }
  }

  /** Execute DROP SHARD <id> against the store: removes the ONE
    * measurement/date partition whose [[shardRows]] id matches — a
    * whole-directory delete, the same O(1)-per-shard fast path as
    * retention expiry. Unknown ids error (InfluxDB's behavior). Returns
    * the removed partition path.
    */
  def dropShard(ds: DropShard, storeDir: String): String = {
    val hit = shardRows(storeDir).find(_._1 == ds.id).getOrElse(
      throw InfluxQLParseException(s"shard ${ds.id} not found"))
    val dir = StoreLayout.partitionDir(storeDir, hit._2, hit._4)
    StoreLayout.drop(dir)
    // an emptied measurement loses its partition dir too — SHOW
    // MEASUREMENTS must not list a data-less name
    val mdir = dir.getParentFile
    if (Option(mdir.list()).exists(_.isEmpty)) StoreLayout.drop(mdir)
    dir.getPath
  }

  /** Resolve + validate a SHOW TAG VALUES statement against the catalog:
    * `=`/`IN` selectors must name known tag keys (a typo'd dropdown is an
    * error, not an empty menu), a regex selector keeps whatever matches —
    * possibly nothing, which is InfluxDB's empty listing; WHERE may only
    * reference known tags (time bounds are fine — every catalog load
    * carries `ts_ns`). Returns the concrete key list. The ONE place these
    * checks live — the planner and the HTTP dry-planner both call it.
    */
  def tagValueKeys(catalog: Catalog, tv: ShowTagValues): Seq[String] = {
    // a catalog with a dynamic tag-set column accepts ANY key by name —
    // the key space is data, not schema (an absent key lists empty, like
    // InfluxDB); static-only catalogs keep the typo'd-dropdown error
    val dyn = catalog.tagsJson.isDefined
    def walk(c: Cond): Unit = c match {
      case TagCond(k, _, _) =>
        if (!dyn && !catalog.tags.contains(k))
          throw InfluxQLParseException(s"unknown tag key in WHERE: $k")
      case BoolCond(_, l, r) => walk(l); walk(r)
      case _                 => ()
    }
    tv.where.foreach(walk)
    tv.sel match {
      case KeyEq(k) =>
        if (!dyn && !catalog.tags.contains(k))
          throw InfluxQLParseException(s"unknown tag key: $k")
        Seq(k)
      case KeyIn(ks) =>
        ks.foreach(k => if (!dyn && !catalog.tags.contains(k))
          throw InfluxQLParseException(s"unknown tag key: $k"))
        ks.distinct
      case KeyRe(re, neg) =>
        // regex selectors enumerate the STATIC key list (dynamic keys
        // would need a key scan at validation time — name them with
        // `WITH KEY =`/`IN` instead; documented)
        val r = re.r
        catalog.tags.filter(t => r.findFirstIn(t).isDefined != neg)
    }
  }

  /** (key, value) listing for ONE measurement — the renderer's series
    * granularity (InfluxDB's series identity includes the measurement).
    * Distinct over a few low-cardinality tags: the WHERE pushes into the
    * scan, then one partial+final hash agg per key — map-side combine
    * collapses each branch to its distinct values before a tiny shuffle.
    * The k-key union deliberately plans k INDEPENDENT scans, each pruned
    * to just its key column (+ filter columns) with the WHERE pushed down
    * — sharing one scan would widen every branch to the union of columns,
    * which costs more at 100 TB than k narrow row-group-skipped reads.
    */
  def planTagValues(spark: SparkSession, dir: String, m: String,
      tv: ShowTagValues, nowNs: Option[Long], catalog: Catalog): DataFrame = {
    val keys = tagValueKeys(catalog, tv)
    val conds = tv.where.map {
      case NowCond(op, off) =>
        val base = nowNs.getOrElse(System.currentTimeMillis() * 1000000L)
        TimeCond(op, base + off)
      case c => c
    }
    // dynamic tags (r9): both the listed keys and the WHERE's tag keys
    // materialize as columns before filtering/selecting
    def condKeys(c: Cond): Seq[String] = c match {
      case TagCond(k, _, _)  => Seq(k)
      case BoolCond(_, l, r) => condKeys(l) ++ condKeys(r)
      case _                 => Nil
    }
    val loaded = catalog.withDynTags(catalog.load(spark, dir, m),
      keys ++ conds.flatMap(condKeys))
    val filtered = storeScan(spark, loaded, conds, conds)
    keys.map(k => filtered
        .select(lit(k).as("key"), col(k).cast("string").as("value"))
        .filter(col("value").isNotNull).distinct())
      .reduceOption(_.unionByName(_))
      .getOrElse(emptyTagValues(spark))
      .orderBy("key", "value")
  }

  private def emptyTagValues(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, String)].toDF("key", "value")
  }

  def plan(spark: SparkSession, dir: String, q0: Select,
      nowNs: Option[Long] = None, catalog: Catalog = Catalog.events): DataFrame = {
    // catalog resolution; FROM /re/ unions every matching measurement
    val matched: Seq[String] = catalog.matchMeasurements(q0.measurement)
    // Resolve now()-relative bounds to absolute epoch ns ONCE, up front —
    // everything downstream (pushdown, fill grids) sees plain TimeConds.
    // GROUP BY * expands against the measurement catalog here too.
    val q1 = q0.copy(where = q0.where.map {
      case NowCond(op, off) =>
        val base = nowNs.getOrElse(System.currentTimeMillis() * 1000000L)
        TimeCond(op, base + off)
      case c => c
    })
    // GROUP BY * — the Grafana default (`GROUP BY time($interval), *`):
    // static catalog tags, plus — over a tagged store (r9) — the
    // DISCOVERED dynamic key space. Discovery is one column-pruned
    // distinct over the JSON keys, collected to the driver (bounded by
    // tag-KEY cardinality — a handful of strings even at 100 TB; the
    // main query scans the same data anyway). InfluxDB resolves this
    // from its series index; the scan is our index.
    val q2 =
      if (q1.groupTags != Seq("*")) q1
      else {
        val dynKeys = catalog.tagsJson.toSeq.flatMap { _ =>
          matched.flatMap(m => catalog.load(spark, dir, m)
              .select(explode(map_keys(catalog.tagsMap)).as("k"))
              .distinct().collect().map(_.getString(0)))
            .distinct.sorted
        }
        q1.copy(groupTags = (catalog.tags ++ dynKeys).distinct)
      }
    // FN(*) — wildcard FIELD argument: the catalog has one field per
    // measurement, so * resolves to it, named fn_<field> (InfluxDB's
    // wildcard output naming) unless aliased
    val q = q2.copy(fields = q2.fields.map {
      case f @ FnField(fn, "*", _, alias) if fn != "__raw" =>
        f.copy(arg = catalog.field,
          alias = alias.orElse(Some(s"${fn}_${catalog.field}")))
      case f => f
    })
    q.fromSub match {
      case Some(sub) => return planSub(spark, dir, q, sub, nowNs, catalog)
      case None      => ()
    }
    val base0 = matched.map(catalog.load(spark, dir, _)).reduce(_.unionByName(_))
    // ---- dynamic tags (r9) -------------------------------------------------
    // Over a store carrying a JSON tag-set column, a WHERE key compared to
    // a STRING or regex — and any GROUP BY name that isn't a physical
    // column — resolves as a tag lookup (`WHERE host='a'`, `GROUP BY
    // host`: the Telegraf/Grafana dimensional shapes). Materialized as
    // element_at(tags, k) columns up front so every downstream path
    // (condCol, groupBy, the renderer's series identity) sees plain
    // columns. A point without the tag yields null — InfluxDB's
    // empty-tag-value group.
    def isDynTagCond(k: String, op: String, v: Any): Boolean =
      catalog.tagsJson.isDefined && !catalog.tags.contains(k) &&
        k != catalog.field && k != "time" &&
        (op == "=~" || op == "!~" || v.isInstanceOf[String])
    val dynTagKeys: Seq[String] = if (catalog.tagsJson.isEmpty) Nil else {
      def walk(c: Cond): Seq[String] = c match {
        case TagCond(k, op, v) if isDynTagCond(k, op, v) => Seq(k)
        case BoolCond(_, l, r) => walk(l) ++ walk(r)
        case _                 => Nil
      }
      (q.where.flatMap(walk) ++
        q.groupTags.filterNot(base0.columns.contains) ++
        // raw projections with InfluxDB's `::tag` hint (`SELECT value,
        // host::tag …`) — the escape hatch for naming a dynamic tag where
        // a bare name would read as a field
        q.fields.collect { case RawField(n, _) if InfluxQLParser.isTagHint(n) =>
          InfluxQLParser.stripHint(n) }).distinct
    }
    val base = catalog.withDynTags(base0, dynTagKeys)
    // ---- field-value predicates (r9) ---------------------------------------
    // Over a (fieldTag, value) store a WHERE may compare FIELDS by name —
    // `WHERE usage_idle > 50`, the Grafana threshold shape. A key that is
    // neither a tag (static or dynamic) nor the value column is a field
    // reference; its conds must wait for the conditional field
    // projections below (the raw scan has no such column), so split them
    // out of the scan-level filter. Tag and time conds keep their parquet
    // pushdown; dynamic-tag conds filter right above the scan.
    val whereFieldRefs: Seq[String] = catalog.fieldTag.toSeq.flatMap { _ =>
      def refs(c: Cond): Seq[String] = c match {
        case TagCond(k, op, v)
          if !catalog.tags.contains(k) && k != catalog.field &&
            !isDynTagCond(k, op, v) && !dynTagKeys.contains(k) => Seq(k)
        case BoolCond(_, l, r) => refs(l) ++ refs(r)
        case _                 => Nil
      }
      q.where.flatMap(refs).distinct
    }
    def condHasFieldRef(c: Cond): Boolean = c match {
      case TagCond(k, _, _)  => whereFieldRefs.contains(k)
      case BoolCond(_, l, r) => condHasFieldRef(l) || condHasFieldRef(r)
      case _                 => false
    }
    val (fieldConds, scanConds) = q.where.partition(condHasFieldRef)
    val filtered0 = storeScan(spark, base, scanConds, q.where)
    val isAgg = q.fields.exists {
      case _: FnField | _: TransformField => true
      case ExprField(e, _)                => InfluxQLParser.exprAggLeaves(e).nonEmpty
      case _                              => false
    }
    // ---- field-name resolution (r9) ---------------------------------------
    // Over a (fieldTag, value)-shaped store a SELECT may name fields
    // directly — `SELECT MEAN(usage_idle) FROM cpu`, the Grafana/Telegraf
    // shape. Each named field F becomes a conditional projection
    // `F := value WHERE <fieldTag> = 'F'` (null elsewhere) and the scan
    // filters to the named aliases, so every aggregate/transform/raw path
    // downstream — all built on col(arg) — works unchanged: aggregates
    // skip the nulls exactly like InfluxDB skips other fields' points.
    // Unknown field names yield an EMPTY result (InfluxDB's behavior), not
    // an error. One equality filter + per-row when(): no extra shuffle,
    // and the fieldTag IN (...) predicate pushes to the parquet scan.
    val fieldRefs: Seq[String] =
      if (q.fromSub.isDefined) Nil
      else catalog.fieldTag.toSeq.flatMap { _ =>
        def refs(f: Field): Seq[String] = f match {
          // `::tag` projections are tag lookups, never field refs;
          // `::field` hints strip to the bare name
          case RawField(n, _) if InfluxQLParser.isTagHint(n) => Nil
          case RawField(n, _)                    => Seq(InfluxQLParser.stripHint(n))
          case FnField(_, a, _, _)               => Seq(a)
          case TransformField(_, inner, _, _, _) => Seq(inner.arg)
          case ExprField(e, _) =>
            InfluxQLParser.exprRefLeaves(e).map(InfluxQLParser.stripHint) ++
              InfluxQLParser.exprAggLeaves(e).map(_.arg)
        }
        q.fields.flatMap(refs).distinct
          .filter(n => n != catalog.field && n != "*" && n != "time" &&
            !catalog.tags.contains(n))
      }
    // WHERE field conds need the field named in SELECT too: the projection
    // below nulls a field's column on OTHER fields' rows, so a condition on
    // an unselected field would drop every selected row — InfluxDB's
    // point-level cross-field WHERE needs the raw merge (supported below)
    // or, for aggregates, one field per statement.
    if (whereFieldRefs.nonEmpty) {
      if (fieldRefs.isEmpty) throw InfluxQLParseException(
        s"WHERE references field ${whereFieldRefs.head} — name fields in " +
          s"SELECT too (e.g. SELECT MEAN(${whereFieldRefs.head}) …)")
      if (isAgg && (fieldRefs ++ whereFieldRefs).distinct.size > 1)
        throw InfluxQLParseException(
          "field conditions across several fields in an aggregate — " +
            "query one field per statement (points are exploded per field)")
    }
    val allRefs = (fieldRefs ++ whereFieldRefs).distinct
    val filtered = catalog.fieldTag match {
      case Some(ft) if allRefs.nonEmpty =>
        allRefs.foreach { f =>
          if (!f.matches("[A-Za-z_][A-Za-z0-9_]*") ||
              Set("ts", "ts_ns", "event_id", "date").contains(f))
            throw InfluxQLParseException(s"unsupported field name: $f")
        }
        if (fieldRefs.size > 1) {
          // selectors need raw per-field event order; with several fields
          // sharing one frame a null-valued other-field row could win —
          // reject rather than silently misselect (one field per
          // statement covers InfluxDB's selector semantics exactly)
          val selectors = Set("first", "last", "top", "bottom", "sample",
            "distinct", "elapsed", "mode", "percentile", "median")
          val bad = q.fields.collect {
            case FnField(fn, a, _, _) if selectors(fn) && fieldRefs.contains(a) => fn
          }
          if (bad.nonEmpty) throw InfluxQLParseException(
            s"${bad.head.toUpperCase} over several named fields — query one field per statement")
        }
        allRefs.foldLeft(filtered0)((df, f) =>
          df.withColumn(f, when(col(ft) === f, col(catalog.field))))
          .filter(col(ft).isin(allRefs: _*))
      case _ => filtered0
    }
    if (isAgg) {
      // single-field by the guard above, so a per-row filter IS the
      // point-level filter — aggregates see only this field's passing rows
      val fFiltered = fieldConds.foldLeft(filtered)((df, c) => df.filter(condCol(c)))
      planAgg(spark, fFiltered, q)
    } else if (fieldRefs.nonEmpty) {
      // raw field-name select: re-merge the rows a multi-field write
      // exploded (one row per field, same ts) back into one row per
      // point — InfluxDB's raw multi-field row shape. Mixing named
      // fields with tag/value projections is contradictory here (the
      // fieldTag is being pivoted away).
      q.fields.foreach {
        case RawField(n, _) if n == catalog.field || catalog.tags.contains(n) =>
          throw InfluxQLParseException(
            s"cannot mix $n with named fields in one raw select")
        case _ => ()
      }
      if (q.groupTags.nonEmpty) throw InfluxQLParseException(
        "GROUP BY tags with named raw fields — the field tag is already pivoted")
      // merge over selected AND where-referenced fields, then apply the
      // field conds on the merged row — the POINT level, so a condition
      // on one field gates the whole point exactly like InfluxDB (the
      // where-only columns never reach the output: planRaw selects only
      // q.fields). The TAG SET joins the merge key: a point's identity is
      // (ts, tagset) — two hosts sampling the same instant must never
      // merge into one row. `::tag` projections ride the merge (constant
      // within a point, so max() is the value).
      val tagHintCols = q.fields.collect {
        case RawField(n, _) if InfluxQLParser.isTagHint(n) =>
          InfluxQLParser.stripHint(n) }
      val mergeKeys = Seq(col("ts"), col("ts_ns")) ++
        catalog.tagsJson.map(col).toSeq
      val merged = filtered.groupBy(mergeKeys: _*)
        .agg(min(col("event_id")).as("event_id"),
          (allRefs.map(f => max(col(f)).as(f)) ++
            tagHintCols.map(k => max(col(k)).as(k))): _*)
      val pointFiltered = fieldConds.foldLeft(merged)((df, c) => df.filter(condCol(c)))
      // a point that passes a where-only field cond but has NO value for
      // any SELECTED field emits nothing (those series have no point
      // there — InfluxDB's row shape); moot when selected ⊇ where refs
      val present =
        if (whereFieldRefs.forall(fieldRefs.contains)) pointFiltered
        else pointFiltered.filter(fieldRefs.map(col(_).isNotNull).reduce(_ || _))
      planRaw(present, q, catalog)
    } else planRaw(filtered, q, catalog)
  }

  /** Outer aggregate over a one-level subquery — the InfluxQL
    * aggregate-of-aggregate shape (`SELECT MAX(m) FROM (SELECT MEAN(value)
    * AS m … GROUP BY time(1h), tag) GROUP BY tag`). The inner query plans
    * as usual (its own shuffle on (bucket, tags)); the outer is one more
    * hash aggregate over the inner's — already tiny — output, grouped by a
    * subset of the inner's columns. Outer WHERE / GROUP BY time / fill are
    * rejected (filter and bucket in the inner query instead); selectors
    * needing raw event order (FIRST/LAST/TOP/BOTTOM) are rejected — the
    * inner output has no event identity to order by.
    */
  private def planSub(spark: SparkSession, dir: String, q: Select, sub: Select,
      nowNs: Option[Long], catalog: Catalog): DataFrame = {
    if (q.where.nonEmpty || q.groupTimeNs.isDefined || q.fill != FillMissing)
      throw InfluxQLParseException(
        "outer query over a subquery supports plain aggregates [GROUP BY tags] only" +
          " — filter/bucket/fill in the inner query")
    def checkSub(f: FnField): FnField =
      if (Set("first", "last", "top", "bottom", "distinct", "integral",
        "elapsed", "sample").contains(f.fn))
        throw InfluxQLParseException(
          s"${f.fn.toUpperCase} needs raw event order — unsupported over a subquery")
      else f
    val inner = plan(spark, dir, sub, nowNs, catalog)
    val aggExprs = q.fields.map {
      case f: FnField => aggExpr(checkSub(f))
      case ExprField(e, alias) =>
        InfluxQLParser.exprAggLeaves(e).foreach(checkSub)
        exprOut(e, aggCol).as(alias.get)
      case f => throw InfluxQLParseException(s"unsupported over a subquery: $f")
    }
    val out =
      if (q.groupTags.isEmpty) inner.agg(aggExprs.head, aggExprs.tail: _*)
      else inner.groupBy(q.groupTags.map(col): _*).agg(aggExprs.head, aggExprs.tail: _*)
    limited(ordering(out, q, hasTime = false, q.groupTags), q)
  }

  /** Plan a CREATE CONTINUOUS QUERY (or its inner SELECT) onto an events
    * frame — streaming or batch, SAME code path, so batch/stream parity
    * holds by construction (asserted over MemoryStream in
    * StreamingParitySpec). On a streaming frame the event-time column is
    * watermarked and the bucket becomes a `window()` aggregate: Spark
    * finalizes each window in append mode once the watermark passes it —
    * exactly InfluxDB's standing `GROUP BY time(n)` rollup semantics
    * (ref README.md:3 "continuous queries").
    *
    * CQ restrictions (each rejected explicitly): no absolute time bounds
    * (a standing query has none), no fill() (append mode emits only
    * observed windows), no ORDER BY/LIMIT (unbounded output), plain
    * aggregates only (window transforms over finalized buckets belong in
    * a downstream batch query over the rollup store).
    */
  def continuous(frame: DataFrame, query: String,
      watermark: String = "2 minutes"): DataFrame = {
    // RESAMPLE FOR <d> = how long a window keeps accepting late data
    // before finalizing — exactly the watermark horizon
    val (sel, wm) = InfluxQLParser.parse(query) match {
      case CreateCq(_, _, s, _, forSec) =>
        (s, forSec.map(sec => s"$sec seconds").getOrElse(watermark))
      case s: Select => (s, watermark)
      case other => throw InfluxQLParseException(s"not a continuous query: $other")
    }
    val bNs = sel.groupTimeNs.getOrElse(
      throw InfluxQLParseException("a continuous query requires GROUP BY time(...)"))
    if (sel.where.exists(c => c.isInstanceOf[TimeCond] || c.isInstanceOf[NowCond]))
      throw InfluxQLParseException("continuous queries take no time bounds (standing query)")
    if (sel.fill != FillMissing && sel.fill != FillNone)
      throw InfluxQLParseException("fill() is not supported in continuous queries")
    if (sel.limit.isDefined || sel.offset.isDefined || sel.orderDesc)
      throw InfluxQLParseException("ORDER BY/LIMIT are not supported in continuous queries")
    // Streaming-compatible aggregates only: percentile/median buffer whole
    // groups; distinct aggregation is unsupported in streaming; INTEGRAL
    // needs within-group order; MODE's map buffer has no streaming state
    // format. Each belongs in a downstream batch query over the rollup.
    val fns = sel.fields.map {
      case f: FnField if !Set("percentile", "median", "top", "bottom",
        "distinct", "count_distinct", "mode", "integral",
        "elapsed", "sample").contains(f.fn) => f
      case f => throw InfluxQLParseException(
        s"continuous queries support plain streaming aggregates, got $f")
    }
    // Watermark semantics caveat (inherent to Spark, documented here): the
    // optimizer pushes deterministic tag predicates below the
    // EventTimeWatermark node toward the source, so a tag-filtered CQ's
    // watermark advances with the FILTERED series' event time — a window
    // of a quiet series finalizes only when that series produces newer
    // data (or the query is stopped/flushed), not when unrelated series
    // do. Same behavior as hand-written watermarked aggregations.
    val wm0 = if (frame.isStreaming) frame.withWatermark("ts", wm) else frame
    val filtered = sel.where.foldLeft(wm0)((df, c) => df.filter(condCol(c)))
    filtered.groupBy(window(col("ts"), s"${bNs / 1000L} microseconds") +: sel.groupTags.map(col): _*)
      .agg(aggExpr(fns.head), fns.tail.map(aggExpr): _*)
      .select(col("window.start").as("time") +:
        (sel.groupTags.map(col) ++ fns.map(f => col(InfluxQLParser.outName(f)))): _*)
  }

  /** The CQ's `RESAMPLE EVERY <d>` cadence as a Structured Streaming
    * trigger — how often InfluxDB would re-run the CQ becomes how often
    * the micro-batch fires. None when the statement declares no cadence
    * (caller picks a default trigger).
    */
  def cqTrigger(query: String): Option[org.apache.spark.sql.streaming.Trigger] =
    InfluxQLParser.parse(query) match {
      case CreateCq(_, _, _, everySec, _) =>
        everySec.map(s => org.apache.spark.sql.streaming.Trigger.ProcessingTime(s * 1000L))
      case _ => None
    }

  /** Execute a `SELECT … INTO target FROM …` — the manual rollup
    * materialization statement (and the body of a real InfluxDB CQ):
    * plans the SELECT as usual and writes the result as parquet under
    * `outRoot/<target>`, overwriting (InfluxDB INTO upserts by time+tags;
    * a full overwrite of the target measurement is the batch equivalent).
    * `INTO :MEASUREMENT` (InfluxDB's backreference) expands against the
    * FROM clause: each source measurement — one, or every regex match —
    * plans separately and writes to a same-named target, so per-source
    * series never merge. Returns the written row count.
    */
  def into(spark: SparkSession, dir: String, query: String, outRoot: String,
      nowNs: Option[Long] = None,
      catalog: Catalog = Catalog.events): Long = {
    val sel = InfluxQLParser.parse(query) match {
      case s: Select if s.into.isDefined => s
      case other => throw InfluxQLParseException(s"not a SELECT INTO: $other")
    }
    val targets: Seq[(Select, String)] =
      if (sel.into.get == ":MEASUREMENT") {
        if (sel.fromSub.isDefined)
          throw InfluxQLParseException(
            "INTO :MEASUREMENT needs a measurement FROM, not a subquery")
        catalog.matchMeasurements(sel.measurement)
          .map(m => (sel.copy(measurement = m), m))
      } else Seq((sel, sel.into.get))
    targets.map { case (q, target) =>
      val df = plan(spark, dir, q, nowNs, catalog)
      df.write.mode("overwrite").parquet(s"$outRoot/$target")
      spark.read.parquet(s"$outRoot/$target").count()
    }.sum
  }

  /** Execute DROP MEASUREMENT against a measurement-partitioned point
    * store (PointStore.writePartitioned layout): removes the
    * `measurement=<name>` partition directory. Returns true if it existed.
    */
  def dropMeasurement(query: String, storeDir: String): Boolean =
    InfluxQLParser.parse(query) match {
      case dm: DropMeasurement => dropMeasurement(dm, storeDir)
      case other => throw InfluxQLParseException(s"not a DROP MEASUREMENT: $other")
    }

  /** AST entry point — lets callers that already hold a parsed statement
    * (the HTTP batch executor) mutate without a render→reparse round trip.
    */
  def dropMeasurement(dm: DropMeasurement, storeDir: String): Boolean =
    StoreLayout.drop(StoreLayout.measurementDir(storeDir, dm.name))

  /** `m`, if the store holds it; an unknown name errors. */
  private def requireStored(storeDir: String, m: String): String = {
    if (!StoreLayout.measurementDir(storeDir, m).isDirectory)
      throw InfluxQLParseException(s"unknown measurement: $m (no store partition)")
    m
  }

  /** Rewrite the partitions `parts` of measurement `m` without the rows
    * where `timePred` holds and every tag condition is TRUE (DELETE, DROP
    * SERIES). Keys beyond `alias` resolve against the JSON tag set (r9); a
    * null lookup keeps the row. With tag conditions, one job first finds
    * the days that hold such a row, and only those are rewritten: a series
    * that lives on one day of a year costs one swap, not 365. Returns the
    * rewritten partition paths. */
  private def rewriteWithout(spark: SparkSession, storeDir: String, m: String,
      parts: Seq[StoreLayout.Partition], tagConds: Seq[Cond], timePred: Column): Seq[String] = {
    def condTagKeys(c: Cond): Seq[String] = c match {
      case TagCond(k, _, _)  => Seq(k)
      case BoolCond(_, l, r) => condTagKeys(l) ++ condTagKeys(r)
      case _                 => Nil
    }
    val tagged = Catalog.store(storeDir)
    def rows(dir: java.io.File) = tagged.withDynTags(
      spark.read.schema(PointStoreDirect.readSchema).parquet(dir.getPath),
      tagConds.flatMap(condTagKeys).filter(_ != "alias"))
    val tagPred = tagConds.map(condCol).reduceOption(_ && _).getOrElse(lit(true))
    val gone = timePred && (tagPred <=> lit(true))
    val hit: Set[String] =
      if (tagConds.isEmpty || parts.isEmpty) parts.map(_.date.toString).toSet
      else {
        val day = col("date").cast("string")
        rows(StoreLayout.measurementDir(storeDir, m))
          .filter(day.isin(parts.map(_.date.toString): _*) && gone)
          .select(day).distinct().collect().map(_.getString(0)).toSet
      }
    parts.filter(p => hit(p.date.toString)).map { p =>
      StoreLayout.replace(p.dir, rows(p.dir).filter(!gone).select("ts", "alias", "value", "tags"))
      p.dir.getPath
    }
  }

  /** Execute DROP SERIES [FROM m] [WHERE tag …] against a
    * measurement+date-partitioned point store: removes EVERY point of the
    * matching series across all time (InfluxDB 1.x semantics — time bounds
    * are rejected at parse time; that's DELETE's job). With no WHERE the
    * named measurement's partitions drop whole; with tag predicates every
    * date partition of the scoped measurements that holds a matching point
    * rewrites with the predicate inverted. Returns (droppedPartitionPaths,
    * rewrittenPartitionPaths).
    */
  def dropSeries(spark: SparkSession, query: String, storeDir: String)
      : (Seq[String], Seq[String]) =
    InfluxQLParser.parse(query) match {
      case ds: DropSeries => dropSeries(spark, ds, storeDir)
      case other => throw InfluxQLParseException(s"not a DROP SERIES: $other")
    }

  /** AST entry point — see [[dropMeasurement(dm:InfluxQLAst\.DropMeasurement*]]. */
  def dropSeries(spark: SparkSession, ds: DropSeries, storeDir: String)
      : (Seq[String], Seq[String]) = {
    validateDropSeries(ds)
    val DropSeries(from, where) = ds
    val ms = from.fold(StoreLayout.measurements(storeDir))(m => Seq(requireStored(storeDir, m)))
    if (where.isEmpty) {
      val dirs = ms.map(StoreLayout.measurementDir(storeDir, _))
      dirs.foreach(StoreLayout.drop)
      (dirs.map(_.getPath), Nil)
    } else {
      (Nil, ms.flatMap(m =>
        rewriteWithout(spark, storeDir, m, StoreLayout.partitions(storeDir, m), where, lit(true))))
    }
  }

  /** Execute DELETE FROM m [WHERE time …/tag …] against a
    * measurement+date-partitioned point store (PointStore.writePartitioned
    * layout). Two-speed, like InfluxDB's shard-aware deletes:
    *
    *  - date partitions FULLY inside the time bound (no tag predicate)
    *    drop whole — O(#partitions), no data read, the retention fast
    *    path;
    *  - partially-covered or tag-filtered partitions rewrite with the
    *    predicate inverted (read, keep non-matching, swap in place); with a
    *    tag predicate, only those that hold a matching point.
    *
    * Store rows carry tag `alias`; predicates on other keys are rejected.
    * Returns (droppedPartitionPaths, rewrittenPartitionPaths).
    */
  /** Shape-only validation of DELETE's WHERE, callable on the parsed AST
    * before any partition is touched — so an HTTP statement batch can be
    * validated in full before its first mutation executes. (Select gets
    * this in the parser's validate(); DELETE is destructive, so it must
    * be at least as strict): time bounds inside OR/parenthesized groups
    * make the partition-drop range ambiguous, and `time != ts` inverts to
    * "everything but one instant" — both reject rather than guess.
    * `time = ts` is legal: timeBounds turns it into [ts, ts+1ns).
    */
  private[influxql] def validateDelete(d: Delete): Unit = {
    // any tag key is shape-valid (r9): beyond the store's static `alias`,
    // keys resolve against the dynamic tag set — a key no point carries
    // matches nothing and the DELETE is a no-op, like InfluxDB
    def checkKeys(c: Cond): Unit = c match {
      case BoolCond(_, l, r) => checkKeys(l); checkKeys(r)
      case _ => ()
    }
    def containsTime(c: Cond): Boolean = c match {
      case BoolCond(_, l, r)        => containsTime(l) || containsTime(r)
      case _: TimeCond | _: NowCond => true
      case _                        => false
    }
    d.where.foreach {
      case b: BoolCond if containsTime(b) =>
        throw InfluxQLParseException(
          "DELETE: time bounds cannot appear inside OR/parenthesized groups")
      case TimeCond("!=", _) | NowCond("!=", _) =>
        throw InfluxQLParseException(
          "DELETE: time != is not supported (would delete all but one instant)")
      case c => checkKeys(c)
    }
  }

  /** Shape-only validation of DROP SERIES' WHERE — same pre-execution
    * role as [[validateDelete]]: any tag key is shape-valid (static
    * `alias` or a dynamic tag, r9); an unmatched key drops nothing.
    */
  private[influxql] def validateDropSeries(ds: DropSeries): Unit = { val _ = ds }

  def delete(spark: SparkSession, query: String, storeDir: String,
      nowNs: Option[Long] = None): (Seq[String], Seq[String]) =
    InfluxQLParser.parse(query) match {
      case d: Delete => delete(spark, d, storeDir, nowNs)
      case other => throw InfluxQLParseException(s"not a DELETE: $other")
    }

  /** AST entry point — see [[dropMeasurement(dm:InfluxQLAst\.DropMeasurement*]]. */
  def delete(spark: SparkSession, d: Delete, storeDir: String,
      nowNs: Option[Long]): (Seq[String], Seq[String]) =
    d match {
      case Delete(m, where0) =>
        validateDelete(d)
        val where = where0.map {
          case NowCond(op, off) =>
            TimeCond(op, nowNs.getOrElse(System.currentTimeMillis() * 1000000L) + off)
          case c => c
        }
        val tagConds = where.filterNot(c =>
          c.isInstanceOf[TimeCond] || c.isInstanceOf[NowCond])
        val (lo, hi) = timeBounds(where)
        val tsNs = unix_micros(col("ts")) * 1000L
        val timePred = (lo.map(l => tsNs >= l) ++ hi.map(h => tsNs < h))
          .reduceOption(_ && _).getOrElse(lit(true))
        val dropped = Seq.newBuilder[String]
        val partial = Seq.newBuilder[StoreLayout.Partition]
        StoreLayout.partitions(storeDir, requireStored(storeDir, m)).foreach { p =>
          val dayLo = p.date.atStartOfDay(java.time.ZoneOffset.UTC)
            .toInstant.getEpochSecond * 1000000000L
          val dayHi = dayLo + 86400L * 1000000000L
          val overlaps = lo.forall(_ < dayHi) && hi.forall(_ > dayLo)
          val covered = lo.forall(_ <= dayLo) && hi.forall(_ >= dayHi)
          if (overlaps && covered && tagConds.isEmpty) {
            StoreLayout.drop(p.dir); dropped += p.dir.getPath
          } else if (overlaps) partial += p
        }
        (dropped.result(), rewriteWithout(spark, storeDir, m, partial.result(), tagConds, timePred))
    }

  /** Enforce a parsed CREATE RETENTION POLICY against a date-partitioned
    * point store (PointStore.writePartitioned layout): partitions older
    * than the declared duration are dropped — exactly what InfluxDB's
    * retention enforcement service does to expired shard groups. Returns
    * the removed partition paths. `today` is injectable for determinism.
    */
  def applyRetention(query: String, dir: String,
      today: java.time.LocalDate = java.time.LocalDate.now()): Seq[String] =
    InfluxQLParser.parse(query) match {
      case CreateRetention(_, _, durSec, _, _) =>
        if (durSec < 86400L)
          throw InfluxQLParseException(
            "retention duration under 1d not supported (date-partitioned store)")
        PointStore.expireRetention(dir, PointStore.retentionDays(durSec), today)
      case other => throw InfluxQLParseException(s"not a retention policy: $other")
    }

  // ---- predicates ---------------------------------------------------------

  /** `loaded` filtered by `conds`, in one filter. Over a frame with the
    * point store's `date` partition column, two more things happen; other
    * catalogs (events) are only filtered.
    *
    * Derived date-PARTITION pruning (r9): the store's second partition
    * column is the UTC day of ts, so every top-level time bound in `where`
    * implies a date bound. Conjoining it (a pure superset: exact ∧ coarse =
    * exact) turns row-group-level pruning into PartitionFilters, which at
    * 100 TB skip whole `date=` directories at FILE-LISTING time instead of
    * opening years of footers. Time bounds are top-level by grammar (OR'd
    * ranges are rejected like InfluxDB), so the top-level conds are all.
    *
    * One-task scans: when the committed files of the day partitions those
    * bounds select add up to no more than `spark.sql.files.openCostInBytes`
    * (what Spark charges for opening one file: 4 MB by default), the scan
    * is `coalesce(1)`. Its `CoalesceExec(1)` reports `SinglePartition`,
    * which satisfies the distribution every aggregate, window, sort and join
    * above it requires, so no Exchange is planned: a dashboard panel over
    * the last minutes of a node's data runs as one job of one task instead
    * of a shuffle map stage and its reducers. The filters still push
    * through the coalesce into the scan. Larger inputs keep the
    * distributed plan.
    */
  private def storeScan(spark: SparkSession, loaded: DataFrame, conds: Seq[Cond],
      where: Seq[Cond]): DataFrame = {
    val store = loaded.columns.contains("date")
    val (from, to) = if (store) dayBounds(where) else (None, None)
    val filtered = (conds.map(condCol) ++ from.map(col("date") >= _) ++ to.map(col("date") <= _))
      .reduceOption(_ && _).fold(loaded)(loaded.filter)
    if (store && storeBytes(loaded, from, to) <= spark.sessionState.conf.filesOpenCostInBytes)
      filtered.coalesce(1)
    else filtered
  }

  /** The first and last ISO day of the [lo, hi) range that the top-level
    * time conds of `where` bound (`timeBounds`). */
  private def dayBounds(where: Seq[Cond]): (Option[String], Option[String]) = {
    import graft.sinks.PointStoreDirect.utcDate
    val (lo, hi) = timeBounds(where)
    (lo.map(utcDate), hi.map(h => utcDate(h - 1)))
  }

  /** Bytes of the committed files that the store scans under `df` read
    * from the day partitions `from`..`to`. The sizes come from each
    * relation's own file index, which listed the files when the frame was
    * loaded, and its own partition pruning: the store is not walked again.
    */
  private def storeBytes(df: DataFrame, from: Option[String], to: Option[String]): Long = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }.collect {
      case r: HadoopFsRelation =>
        val preds = r.partitionSchema.filter(_.name == "date").flatMap { f =>
          val a = AttributeReference(f.name, f.dataType)()
          def day(d: String) = Cast(Literal(d), f.dataType)
          from.map(d => GreaterThanOrEqual(a, day(d))) ++ to.map(d => LessThanOrEqual(a, day(d)))
        }
        r.location.listFiles(preds, Nil).iterator.flatMap(_.files).map(_.getLen).sum
    }.sum
  }

  private def condCol(c: Cond): Column = c match {
    case TimeCond(op, ns) => cmp(col("ts_ns"), op, lit(ns)) && coarseTs(op, ns)
    case NowCond(_, _) => throw InfluxQLParseException(
      "internal: now() bound must be resolved before planning")
    case TagCond(key, "=~", re: String) => col(key).rlike(re)
    case TagCond(key, "!~", re: String) => !col(key).rlike(re)
    case TagCond(key, op, v) => cmp(col(key), op, lit(v))
    case BoolCond("or", l, r)  => condCol(l) || condCol(r)
    case BoolCond("and", l, r) => condCol(l) && condCol(r)
    case BoolCond(op, _, _) => throw InfluxQLParseException(s"unknown bool op: $op")
  }

  /** A CONSERVATIVE (superset) twin of a `ts_ns` comparison, phrased on the
    * TIMESTAMP column `ts` — the native, parquet-pushdown-able column in
    * the current testdata vintage (see Tables.events).  `exact && coarse`
    * equals `exact`, so semantics are unchanged (including inside OR
    * trees), but the coarse conjunct reaches the scan's row-group stats
    * where the derived-`ts_ns` one cannot.  Floor/ceil to micros keeps it
    * a superset even for the legacy vintage whose `ts` is truncated from
    * true nanos.
    */
  private def coarseTs(op: String, ns: Long): Column = {
    def floorUs = Math.floorDiv(ns, 1000L)
    def ceilUs  = -Math.floorDiv(-ns, 1000L)
    op match {
      case ">" | ">=" => col("ts") >= timestamp_micros(lit(floorUs))
      case "<" | "<=" => col("ts") <= timestamp_micros(lit(ceilUs))
      case "="        => col("ts") >= timestamp_micros(lit(floorUs)) &&
                         col("ts") <= timestamp_micros(lit(ceilUs))
      case _          => lit(true)
    }
  }

  private def cmp(c: Column, op: String, v: Column): Column = op match {
    case "="  => c === v
    case "!=" => c =!= v
    case "<"  => c < v
    case "<=" => c <= v
    case ">"  => c > v
    case ">=" => c >= v
    case other => throw InfluxQLParseException(s"unsupported operator: $other")
  }

  /** Normalized [lo, hi) time bounds in epoch ns from the WHERE conds.
    * `time = ts` is the point range [ts, ts+1ns); `time != ts` constrains
    * no range (it excludes one instant — handled by the row predicate, not
    * the scan bounds).
    */
  private def timeBounds(where: Seq[Cond]): (Option[Long], Option[Long]) = {
    var lo: Option[Long] = None
    var hi: Option[Long] = None
    where.foreach {
      case TimeCond(">=", ns) => lo = Some(lo.fold(ns)(math.max(_, ns)))
      case TimeCond(">", ns)  => lo = Some(lo.fold(ns + 1)(math.max(_, ns + 1)))
      case TimeCond("<", ns)  => hi = Some(hi.fold(ns)(math.min(_, ns)))
      case TimeCond("<=", ns) => hi = Some(hi.fold(ns + 1)(math.min(_, ns + 1)))
      case TimeCond("=", ns)  =>
        lo = Some(lo.fold(ns)(math.max(_, ns)))
        hi = Some(hi.fold(ns + 1)(math.min(_, ns + 1)))
      case _                  => ()
    }
    (lo, hi)
  }

  // ---- aggregated path ----------------------------------------------------

  /** Unaliased aggregate column for one call. INTEGRAL is context-bound
    * (needs raw point order — planAgg precomputes per-row trapezoids and
    * overrides it), so it throws here; every other function is a plain
    * partial+final hash aggregate. MODE uses Spark's deterministic variant
    * (ties → lowest value), the same convention as q_agg_mode.
    */
  private def aggCol(f: FnField): Column = {
    val v = col(f.arg)
    f.fn match {
      case "count"  => count(v)
      case "count_distinct" => count_distinct(v)
      case "mean"   => round(avg(v), 4)
      case "sum"    => round(sum(v), 2)
      case "min"    => min(v)
      case "max"    => max(v)
      case "first"  => min_by(v, col("ts"))
      case "last"   => max_by(v, col("ts"))
      case "spread" => round(max(v) - min(v), 2)
      case "stddev" => round(stddev_samp(v), 4)
      // MEDIAN/PERCENTILE ride the same approx tier as the batch family
      // (Q.pctl): exact interpolated percentile by default, Greenwald-Khanna
      // approx_percentile under graft.percentile.approx=true — at 100 TB a
      // wide GROUP BY time() bucket is exactly the unbounded-group case the
      // tier exists for. The planner always runs with an active session.
      case "median" => round(expr(graft.queries.Q.pctl(
        org.apache.spark.sql.SparkSession.active, f.arg, "0.5")), 4)
      case "mode"   => expr(s"mode(${f.arg}, true)")
      case "percentile" =>
        val p = f.param.get / 100.0
        round(expr(graft.queries.Q.pctl(
          org.apache.spark.sql.SparkSession.active, f.arg, s"$p")), 4)
      case "integral" => throw InfluxQLParseException(
        "INTEGRAL needs raw point order — not available in this context")
      case other => throw InfluxQLParseException(s"unknown function: $other")
    }
  }

  private def aggExpr(f: FnField): Column = aggCol(f).as(InfluxQLParser.outName(f))

  /** Evaluate a field-expression tree; `leaf` resolves aggregate calls
    * (aggCol in aggregate context, rejected in raw context).
    */
  private def exprCol(e: FExpr, leaf: FnField => Column): Column = e match {
    case FNum(v)        => lit(v)
    case FRef(n)        => col(InfluxQLParser.stripHint(n))
    case FAgg(f)        => leaf(f)
    case FBin(op, l, r) =>
      val (a, b) = (exprCol(l, leaf), exprCol(r, leaf))
      op match {
        case "+" => a + b
        case "-" => a - b
        case "*" => a * b
        // InfluxQL yields null for x/0 (e.g. MAX/SPREAD on a single-point
        // bucket); plain `/` throws under ANSI mode
        case "/" => try_divide(a, b)
        case o   => throw InfluxQLParseException(s"unknown operator: $o")
      }
    case FCall(fn, a, p) => scalarCol(fn, exprCol(a, leaf), p)
  }

  /** InfluxQL scalar math functions. ceil/floor cast back to double:
    * InfluxQL (and DuckDB) keep floats floating, Spark's ceil/floor return
    * LONG.
    */
  private def scalarCol(fn: String, a: Column, p: Option[Double]): Column = fn match {
    case "abs"   => abs(a)
    case "ceil"  => ceil(a).cast("double")
    case "floor" => floor(a).cast("double")
    case "round" => round(a, p.getOrElse(0.0).toInt)
    case "sqrt"  => sqrt(a)
    case "exp"   => exp(a)
    case "ln"    => log(a)
    case "log2"  => log2(a)
    case "log10" => log10(a)
    case "sin"   => sin(a)
    case "cos"   => cos(a)
    case "tan"   => tan(a)
    case "asin"  => asin(a)
    case "acos"  => acos(a)
    case "atan"  => atan(a)
    case "pow"   => pow(a, p.getOrElse(throw InfluxQLParseException(
      "POW requires an exponent: POW(expr, n)")))
    case other => throw InfluxQLParseException(s"unknown scalar function: $other")
  }

  /** Rendered-value convention for computed expressions: evaluate leaves
    * with their own conventions (MEAN rounds 4 …), then round the combined
    * double to 4 — deterministic across engines since the inputs already
    * are.
    */
  private def exprOut(e: FExpr, leaf: FnField => Column): Column =
    round(exprCol(e, leaf).cast("double"), 4)

  /** TOP/BOTTOM(value, n) — a per-tag-group row SELECTOR, not an
    * aggregate: returns the n extreme points with their times. Plans as
    * row_number over the tag partition (ties broken by (ts_ns, event_id),
    * deterministic) — the q_win_topk_per_group shape; at scale the rank
    * filter pushes map-side as a WindowGroupLimit.
    */
  private def planTopBottom(filtered: DataFrame, q: Select, f: FnField): DataFrame = {
    val n = f.param.get.toInt
    val tags = q.groupTags
    val ord =
      if (f.fn == "top") Seq(col(f.arg).desc, col("ts_ns").asc, col("event_id").asc)
      else Seq(col(f.arg).asc, col("ts_ns").asc, col("event_id").asc)
    val w = Window.partitionBy(tags.map(col): _*).orderBy(ord: _*)
    val ranked = seriesLimited(filtered, q, tags)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") <= n)
    val out = ranked.select(
      (timeStr(col("ts"), q).as("time") +:
        tags.map(col)) :+ col(f.arg).as(InfluxQLParser.outName(f)) :+ col("__rn"): _*)
    limited(out.orderBy(tags.map(col) :+ col("__rn"): _*).drop("__rn"), q)
  }

  /** DISTINCT(field) — a row selector, not an aggregate: one row per
    * distinct value (per tag group). Partial+final hash distinct, one
    * shuffle on the output key — the q_distinct shape.
    */
  private def planDistinct(filtered: DataFrame, q: Select, f: FnField): DataFrame = {
    val n = InfluxQLParser.outName(f)
    val out = seriesLimited(filtered, q, q.groupTags)
      .select(q.groupTags.map(col) :+ col(f.arg).as(n): _*).distinct()
    limited(out.orderBy(q.groupTags.map(col) :+ col(n): _*), q)
  }

  /** Epoch-aligned bucket start, computed with integer arithmetic on the
    * raw nanos column — exact (epoch ns exceed Double's 2^53 range, so no
    * float math here), equivalent to window(ts, n).start / time_bucket.
    * time(n, offset) shifts the grid; tz('zone') buckets (and renders) in
    * that zone's wall-clock time, InfluxQL's tz() semantics.
    */
  private def bucketCol(q: Select, bNs: Long): Column = {
    val offNs = q.groupTimeOffNs
    // SQL's `div` (IntegralDivide): exact long division, truncating toward
    // zero for pre-1970 points too; Column `/` would divide as doubles
    def div(a: Column, b: Long): Column = call_function("div", a, lit(b))
    q.tz match {
      case None =>
        // bucket-start ns via integer arithmetic on the raw nanos column,
        // then rendered at the store's µs precision (the parser guarantees
        // bNs and offNs are multiples of 1µs, so the division is exact)
        if (offNs == 0L) timestamp_micros(div(div(col("ts_ns"), bNs) * bNs, 1000L))
        else timestamp_micros(div(div(col("ts_ns") - offNs, bNs) * bNs + offNs, 1000L))
      case Some(zone) =>
        // local wall-clock micros (ts is micro-precision)
        val usPer = bNs / 1000L
        val offUs = offNs / 1000L
        timestamp_micros(div(unix_micros(from_utc_timestamp(col("ts"), zone)) - offUs, usPer) *
          usPer + offUs)
    }
  }

  /** ELAPSED(field[, unit]) — nanoseconds (in `unit` steps, default 1ns)
    * between consecutive points per series. One window pass, shuffle on
    * the tag partition; integer division keeps it engine-portable.
    */
  private def planElapsed(filtered: DataFrame, q: Select, f: FnField): DataFrame = {
    val unitNs = f.param.map(s => (s * 1e9).toLong).getOrElse(1L)
    val n = InfluxQLParser.outName(f)
    val w = Window.partitionBy(q.groupTags.map(col): _*)
      .orderBy(col("ts_ns"), col("event_id"))
    val out = seriesLimited(filtered, q, q.groupTags)
      .withColumn("__d", col("ts_ns") - lag(col("ts_ns"), 1).over(w))
      .filter(col("__d").isNotNull)
      .withColumn(n, expr(s"__d div ${unitNs}L"))
      .orderBy(q.groupTags.map(col) :+ col("ts_ns") :+ col("event_id"): _*)
      .select(timeStr(col("ts"), q).as("time") +: q.groupTags.map(col) :+ col(n): _*)
    limited(out, q)
  }

  /** SAMPLE(field, n) — n points per series. InfluxQL reservoir-samples;
    * the deterministic, oracle-checkable equivalent is an LCG-hash rank
    * over the unique event id (q_sample convention) — same uniformity,
    * and the rank filter pushes map-side as a WindowGroupLimit.
    */
  private def planSample(filtered: DataFrame, q: Select, f: FnField): DataFrame = {
    val n = f.param.get.toInt
    val name = InfluxQLParser.outName(f)
    val w = Window.partitionBy(q.groupTags.map(col): _*)
      .orderBy((col("event_id") * 1103515245L + 12345L) % 2147483647L, col("event_id"))
    val out = seriesLimited(filtered, q, q.groupTags)
      .withColumn("__rk", row_number().over(w)).filter(col("__rk") <= n)
      .select((timeStr(col("ts"), q).as("time") +: q.groupTags.map(col)) :+
        col(f.arg).as(name) :+ col("__rk"): _*)
    limited(out.orderBy(q.groupTags.map(col) :+ col("__rk"): _*).drop("__rk"), q)
  }

  /** HOLT_WINTERS(agg(field), N, 0) — Holt linear (double exponential)
    * smoothing over the bucketed aggregate, emitting N forecast rows per
    * series with future bucket timestamps. Fixed smoothing (alpha 0.5,
    * gamma 0.3 — InfluxDB fits them; a fixed pair keeps the fold
    * deterministic and oracle-checkable, q_holt_forecast convention).
    *
    * Scale note: the fold runs over the BUCKET array, not raw points —
    * bounded by the required WHERE time range / interval (a dashboard
    * grid), so the per-series state is output-proportional. Raw-point
    * Holt at unbounded history is the q_holt_forecast streaming fold.
    */
  private def planHoltWinters(spark: SparkSession, filtered: DataFrame, q: Select,
      t: TransformField, fit: Boolean = false): DataFrame = {
    val bNs = q.groupTimeNs.getOrElse(
      throw InfluxQLParseException("HOLT_WINTERS requires GROUP BY time(...)"))
    val (loOpt, hiOpt) = timeBounds(q.where)
    if (loOpt.isEmpty || hiOpt.isEmpty)
      throw InfluxQLParseException(
        "HOLT_WINTERS requires a bounded time range in WHERE (the fold state is " +
          "bounded by the bucket grid)")
    val steps = t.param.get.toInt
    val name = InfluxQLParser.outName(t)
    val tags = q.groupTags
    val inner = aggCol(t.inner).as("__v")
    val agg = filtered.withColumn("__t", bucketCol(q, bNs))
      .groupBy(("__t" +: tags).map(col): _*).agg(inner)
    val series = agg.groupBy(tags.map(col): _*)
      .agg(sort_array(collect_list(struct(col("__t"), col("__v")))).as("s"))
      // an UNGROUPED aggregate over an empty frame yields ONE row with an
      // EMPTY array (tags=[] + a range with no surviving buckets) — the
      // fold seeds index element 1, so drop it: no buckets, no series
      .filter(size(col("s")) >= 1)
    // Holt fold: init l=v2, b=v2-v1, then fold elements 3..n. The lambda
    // reads only the OLD accumulator (Spark named_struct semantics), the
    // same op order as the recursive-CTE oracle — bit-identical doubles.
    // WITH_FIT additionally carries the fitted series in the fold: the
    // first two buckets are their own fit (they seed the state), every
    // later bucket's fit is the ONE-STEP prediction l+b from the state
    // BEFORE folding it in — the standard Holt in-sample fit. The extra
    // accumulator field reads only old state, so l/b stay bit-identical
    // to the plain variant.
    val folded = series
      .withColumn("__n", size(col("s")))
      .withColumn("__acc", expr(
        """aggregate(
          |  slice(s, 3, greatest(size(s) - 2, 0)),
          |  named_struct(
          |    'l', CAST(try_element_at(s, least(size(s), 2)).__v AS DOUBLE),
          |    'b', CAST(try_element_at(s, least(size(s), 2)).__v
          |           - try_element_at(s, 1).__v AS DOUBLE),
          |    'out', slice(array(CAST(try_element_at(s, 1).__v AS DOUBLE),
          |                       CAST(try_element_at(s, least(size(s), 2)).__v AS DOUBLE)),
          |                 1, least(size(s), 2))),
          |  (acc, x) -> named_struct(
          |    'l', 0.5 * x.__v + 0.5 * (acc.l + acc.b),
          |    'b', 0.3 * ((0.5 * x.__v + 0.5 * (acc.l + acc.b)) - acc.l)
          |           + 0.7 * acc.b,
          |    'out', array_append(acc.out, acc.l + acc.b)))""".stripMargin))
      .withColumn("__lastT", try_element_at(col("s"), size(col("s"))).getField("__t"))
    // A single-bucket series has no trend to extrapolate: InfluxDB's fitter
    // needs >= 2 points, and the recursive-CTE oracles only seed at n >= 2 —
    // emit no forecast rows for it (in fit mode it still gets its one
    // self-fit row from __acc.out below).
    val forecasts = folded.filter(col("__n") >= 2).select(
      tags.map(col) :+ col("s") :+ col("__n") :+ col("__acc") :+ col("__lastT") :+
        explode(expr(s"sequence(1, $steps)")).as("__h"): _*)
      .withColumn(name, expr(s"floor((__acc.l + __h * __acc.b) * 10000) / 10000"))
      .withColumn("time", date_format(
        expr(s"timestamp_micros(unix_micros(__lastT) + __h * ${bNs / 1000L}L)"),
        timeFmt(q)))
      .select(col("time") +: tags.map(col) :+ col(name): _*)
    val out = if (!fit) forecasts else {
      val fits = folded.select(
        tags.map(col) :+ col("s") :+ posexplode(expr("__acc.out")).as(Seq("__i", "__ev")): _*)
        .withColumn(name, expr("floor(__ev * 10000) / 10000"))
        .withColumn("time", date_format(
          element_at(col("s"), col("__i") + 1).getField("__t"), timeFmt(q)))
        .select(col("time") +: tags.map(col) :+ col(name): _*)
      fits.unionAll(forecasts)
    }
    limited(out.orderBy((if (q.orderDesc) col("time").desc else col("time").asc) +:
      tags.map(col): _*), q)
  }

  /** Seasonal (additive, triple-exponential) HOLT_WINTERS over the bucketed
    * aggregate — HOLT_WINTERS(agg, N, S) with S >= 2. Same per-series fold
    * shape as the linear branch (state bounded by the bucket grid), the
    * state just grows by the S-slot seasonal array:
    *
    *   init (level-anchored, all single FP ops → engine-deterministic):
    *     l0 = x[S];  b0 = (x[S] - x[1]) / (S-1);  sa0[i] = x[i] - x[S]
    *   step t = S+1..n  (α=0.5, β=0.3, γ=0.2, fixed — InfluxDB fits these
    *   by Nelder-Mead, which no other engine can reproduce bit-for-bit;
    *   fixed constants keep the fold oracle-checkable, the q_holt_forecast
    *   convention):
    *     l' = α(x_t − sa[(t−1) mod S]) + (1−α)(l + b)
    *     b' = β(l' − l) + (1−β) b
    *     sa[(t−1) mod S] ← γ(x_t − l') + (1−γ) sa[(t−1) mod S]
    *   forecast h: l + h·b + sa[(n+h−1) mod S]
    *
    * Series shorter than a full season + 1 point produce no rows (not
    * enough history to estimate seasonality). Every lambda field reads the
    * OLD accumulator (l' inlined where needed) — the recursive-CTE oracle
    * evaluates all step columns from the previous row, so the IEEE op
    * order matches exactly.
    */
  private def planHoltWintersSeasonal(spark: SparkSession, filtered: DataFrame,
      q: Select, t: TransformField): DataFrame = {
    val bNs = q.groupTimeNs.getOrElse(
      throw InfluxQLParseException("HOLT_WINTERS requires GROUP BY time(...)"))
    val (loOpt, hiOpt) = timeBounds(q.where)
    if (loOpt.isEmpty || hiOpt.isEmpty)
      throw InfluxQLParseException(
        "HOLT_WINTERS requires a bounded time range in WHERE (the fold state is " +
          "bounded by the bucket grid)")
    val steps = t.param.get.toInt
    val S = t.param2.get.toInt
    val name = InfluxQLParser.outName(t)
    val tags = q.groupTags
    val agg = filtered.withColumn("__t", bucketCol(q, bNs))
      .groupBy(("__t" +: tags).map(col): _*).agg(aggCol(t.inner).as("__v"))
    val series = agg.groupBy(tags.map(col): _*)
      .agg(sort_array(collect_list(struct(col("__t"), col("__v")))).as("s"))
      // an UNGROUPED aggregate over an empty frame yields ONE row with an
      // EMPTY array (tags=[] + a range with no surviving buckets) — the
      // fold seeds index element 1, so drop it: no buckets, no series
      .filter(size(col("s")) >= 1)
      .filter(size(col("s")) >= S + 1)
    val lp = s"(0.5D * (x.__v - element_at(acc.sa, CAST(acc.i % $S AS INT) + 1))" +
      s" + 0.5D * (acc.l + acc.b))"
    val folded = series
      .withColumn("__n", size(col("s")))
      .withColumn("__acc", expr(
        s"""aggregate(
           |  slice(s, ${S + 1}, greatest(size(s) - $S, 0)),
           |  named_struct(
           |    'i', CAST($S AS BIGINT),
           |    'l', CAST(try_element_at(s, $S).__v AS DOUBLE),
           |    'b', CAST((try_element_at(s, $S).__v - try_element_at(s, 1).__v)
           |           / ${S - 1}.0D AS DOUBLE),
           |    'sa', transform(slice(s, 1, $S),
           |            e -> CAST(e.__v - try_element_at(s, $S).__v AS DOUBLE))),
           |  (acc, x) -> named_struct(
           |    'i', acc.i + 1L,
           |    'l', $lp,
           |    'b', 0.3D * ($lp - acc.l) + 0.7D * acc.b,
           |    'sa', transform(acc.sa, (v, j) ->
           |            IF(j = CAST(acc.i % $S AS INT),
           |               0.2D * (x.__v - $lp) + 0.8D * v, v))))""".stripMargin))
      .withColumn("__lastT", try_element_at(col("s"), size(col("s"))).getField("__t"))
    val out = folded.select(
      tags.map(col) :+ col("__n") :+ col("__acc") :+ col("__lastT") :+
        explode(expr(s"sequence(1, $steps)")).as("__h"): _*)
      .withColumn(name, expr(
        s"""floor((__acc.l + __h * __acc.b
           |  + element_at(__acc.sa, CAST((__n + __h - 1) % $S AS INT) + 1))
           |  * 10000) / 10000""".stripMargin))
      .withColumn("time", date_format(
        expr(s"timestamp_micros(unix_micros(__lastT) + __h * ${bNs / 1000L}L)"),
        timeFmt(q)))
      .select(col("time") +: tags.map(col) :+ col(name): _*)
    limited(out.orderBy((if (q.orderDesc) col("time").desc else col("time").asc) +:
      tags.map(col): _*), q)
  }

  /** The recursive EMA family: plain, double (DEMA), triple (TEMA), and
    * the triple-EMA derivative (TRIX) — all fold per-series bucket arrays
    * with the same a = 2/(N+1) recursion, the D/T variants re-folding the
    * previous fold's output. */
  private val EmaFamily = Set("exponential_moving_average",
    "double_exponential_moving_average", "triple_exponential_moving_average",
    "triple_exponential_derivative")

  /** Every recursive TA transform (fold state bounded by the bucket grid →
    * they all require a bounded WHERE time range). */
  private val RecursiveTa =
    EmaFamily + "kaufmans_adaptive_moving_average" + "macd"

  /** Technical-analysis transforms over the bucketed aggregate:
    * RELATIVE_STRENGTH_INDEX / CHANDE_MOMENTUM_OSCILLATOR /
    * KAUFMANS_EFFICIENCY_RATIO are window-expressible and reuse the value
    * conventions of the standalone W10–W12 operators (q_win_rsi/cmo/ker);
    * the EXPONENTIAL_MOVING_AVERAGE family (EMA/DEMA/TEMA/TRIX) is
    * recursive, so it folds the per-series bucket array exactly like
    * planHoltWinters — state is bounded by the dashboard grid (a bounded
    * WHERE time range is required), never raw points. One shuffle on the
    * tag partition either way.
    */
  private def planTechnical(spark: SparkSession, filtered: DataFrame, q: Select,
      t: TransformField): DataFrame = {
    val bNs = q.groupTimeNs.getOrElse(
      throw InfluxQLParseException(s"${t.fn.toUpperCase} requires GROUP BY time(...)"))
    val n = t.param.get.toInt
    val name = InfluxQLParser.outName(t)
    val tags = q.groupTags
    if (RecursiveTa.contains(t.fn)) {
      val (loOpt, hiOpt) = timeBounds(q.where)
      if (loOpt.isEmpty || hiOpt.isEmpty)
        throw InfluxQLParseException(
          s"${t.fn.toUpperCase} requires a bounded time range in WHERE " +
            "(the per-series fold state is bounded by the bucket grid)")
    }
    val agg = filtered.withColumn("__t", bucketCol(q, bNs))
      .groupBy(("__t" +: tags).map(col): _*).agg(aggCol(t.inner).as("__v"))
    // TA transforms consume OBSERVED buckets: fill-inserted null rows are
    // dropped before the diff/fold (a null would poison the recursive EMA
    // state forever and shrink KER's path-length denominator below its
    // span), so fill(null) degenerates to fill(none) here while the
    // value-producing fills (previous/linear/<number>) flow through.
    val filled = (q.fill match {
      case FillMissing | FillNone => agg
      case mode => gridFill(spark, agg, q, Seq("__v"), mode)
    }).filter(col("__v").isNotNull)
    // SLIMIT cuts the series set BEFORE the window/fold pass — same result
    // set, none of the discarded series' work (planElapsed convention).
    val kept = seriesLimited(filled, q, tags)
    val w = Window.partitionBy(tags.map(col): _*).orderBy("__t")
    val v = col("__v")
    val wf = w.rowsBetween(-(n - 1), Window.currentRow)
    // RSI/CMO share the lag-diff prefix; the first (diff-less) bucket drops.
    lazy val diffed = kept.withColumn("__df", v - lag(v, 1).over(w))
      .filter(col("__df").isNotNull)
    val series = t.fn match {
      case "relative_strength_index" =>
        // SMA variant (q_win_rsi convention): mean gain / mean loss over
        // the last n diffs.
        diffed
          .withColumn("__ag", avg(when(col("__df") > 0, col("__df")).otherwise(0)).over(wf))
          .withColumn("__al", avg(when(col("__df") < 0, -col("__df")).otherwise(0)).over(wf))
          .withColumn(name, when(col("__al") === 0, 100.0)
            .otherwise(round(lit(100) - lit(100) / (lit(1) + col("__ag") / col("__al")), 4)))
      case "chande_momentum_oscillator" =>
        // q_win_cmo convention: 100·(Σup − Σdown)/(Σup + Σdown); `+ 0`
        // folds IEEE −0.0 so both engines hash alike.
        diffed
          .withColumn("__su", sum(when(col("__df") > 0, col("__df")).otherwise(0)).over(wf))
          .withColumn("__sd", sum(when(col("__df") < 0, -col("__df")).otherwise(0)).over(wf))
          .withColumn(name, when(col("__su") + col("__sd") === 0, 0.0)
            .otherwise(round(lit(100) * (col("__su") - col("__sd"))
              / (col("__su") + col("__sd")), 4) + lit(0.0)))
      case "kaufmans_efficiency_ratio" =>
        // q_win_ker convention: |net n-bucket change| / path length; the
        // first n (path-less) buckets drop.
        kept.withColumn("__adf", abs(v - lag(v, 1).over(w)))
          .withColumn("__chg", abs(v - lag(v, n).over(w)))
          .withColumn("__rn", row_number().over(w))
          .withColumn("__vol", sum(col("__adf")).over(wf))
          .filter(col("__rn") > n)
          .withColumn(name, when(col("__vol") === 0, 0.0)
            .otherwise(round(col("__chg") / col("__vol"), 4) + lit(0.0)))
      case "kaufmans_adaptive_moving_average" =>
        // Kaufman's KAMA: er/sc from the KER windows (same warm-up — the
        // first n buckets drop), then the adaptive recursion
        //   kama_k = kama_{k-1} + sc_k²·(v_k − kama_{k-1}),
        //   sc_k = er_k·(fast − slow) + slow,  fast = 2/3, slow = 2/31,
        // seeded with the first surviving bucket. The square is spelled as
        // sc·sc (not pow) so both engines' doubles are bit-identical.
        val fa = "(CAST(2 AS DOUBLE) / 3)"
        val sl = "(CAST(2 AS DOUBLE) / 31)"
        val sc = s"(x.__er * ($fa - $sl) + $sl)"
        val scSq = s"($sc * $sc)"
        val prepared = kept.withColumn("__adf", abs(v - lag(v, 1).over(w)))
          .withColumn("__chg", abs(v - lag(v, n).over(w)))
          .withColumn("__rn", row_number().over(w))
          .withColumn("__vol", sum(col("__adf")).over(wf))
          .filter(col("__rn") > n)
          .withColumn("__er", when(col("__vol") === 0, 0.0)
            .otherwise(col("__chg") / col("__vol")))
        val kgrouped = prepared.groupBy(tags.map(col): _*)
          .agg(sort_array(collect_list(struct(col("__t"), col("__v"), col("__er")))).as("s"))
          .filter(size(col("s")) >= 1) // empty-global-group guard (see above)
        kgrouped.select(
          tags.map(col) :+ col("s") :+ posexplode(expr(
            s"""aggregate(
               |  slice(s, 2, greatest(size(s) - 1, 0)),
               |  named_struct(
               |    'km', CAST(try_element_at(s, 1).__v AS DOUBLE),
               |    'out', array(CAST(try_element_at(s, 1).__v AS DOUBLE))),
               |  (acc, x) -> named_struct(
               |    'km', acc.km + $scSq * (x.__v - acc.km),
               |    'out', array_append(acc.out, acc.km + $scSq * (x.__v - acc.km))),
               |  acc -> acc.out)""".stripMargin)).as(Seq("__i", "__ev")): _*)
          .withColumn("__t", element_at(col("s"), col("__i") + 1).getField("__t"))
          .withColumn(name, floor(col("__ev") * 10000) / 10000)
      case "zscore" =>
        // IQL73 (r11): rolling z-score over the last n buckets — the live
        // anomaly panel's normalized deviation (the windowed sibling of
        // W6's whole-series z). Exactness: the bollinger recipe — integer
        // c = round(v·10⁴), order-independent Σc/Σc², then one fixed
        // double op-sequence; sample variance (n−1). Warm-up: incomplete
        // windows drop (count < n); zero variance reports 0.0 (+0.0 folds
        // IEEE −0.0, the q_win_zscore rule).
        val zs = col("__s").cast("double")
        val zq = col("__q").cast("double")
        val zv = col("__c").cast("double")
        val znum = zv - zs / lit(n.toDouble)
        val zvar = (zq - zs * zs / lit(n.toDouble)) / lit((n - 1).toDouble)
        val zsd = sqrt(greatest(zvar, lit(0.0)))
        kept.withColumn("__c", round(v * 10000, 0).cast("long"))
          .withColumn("__n", count(lit(1)).over(wf))
          .withColumn("__s", sum(col("__c")).over(wf))
          .withColumn("__q", sum(col("__c") * col("__c")).over(wf))
          .filter(col("__n") === n)
          .withColumn(name, when(zsd === 0.0, 0.0)
            .otherwise(round(znum / zsd, 4) + lit(0.0)))
      case "bollinger_width" =>
        // Bollinger BANDWIDTH = (upper − lower)/mid = 4σ/μ over the last n
        // buckets (k = 2), the volatility-squeeze indicator. The bucket
        // aggregate is already round(4), so c = round(m·10⁴) is an EXACT
        // integer: Σc and Σc² are order-independent exact sums (DuckDB's
        // segment-tree window and Spark's left-to-right frame scan agree
        // bit-for-bit), and the band math is one fixed double op-sequence
        // from exact integers — the q_win_bollinger determinism recipe.
        val cs2 = col("__s").cast("double")
        val cq2 = col("__q").cast("double")
        val mid = cs2 / lit(n * 10000.0)
        val vr = cq2 / lit(n * 100000000.0) - mid * mid
        val sd = sqrt(greatest(vr, lit(0.0)))
        kept.withColumn("__c", round(v * 10000, 0).cast("long"))
          .withColumn("__n", count(lit(1)).over(wf))
          .withColumn("__s", sum(col("__c")).over(wf))
          .withColumn("__q", sum(col("__c") * col("__c")).over(wf))
          .filter(col("__n") === n)
          .withColumn(name, when(mid === 0.0, 0.0)
            .otherwise(round(lit(4) * sd / mid, 4) + lit(0.0)))
      case "macd" =>
        // MACD line = EMA_fast − EMA_slow, both recurrences fused in ONE
        // fold over the bucket array (the EmaFamily single-pass rule —
        // separate folds would re-inline quadratically under
        // CollapseProject). Both EMAs seed at the first bucket, so the
        // first output is exactly 0; αf = 2/(fast+1), αs = 2/(slow+1)
        // spelled as literal divisions, the op order the recursive-CTE
        // oracle retraces bit-identically.
        val slow = t.param2.get.toInt
        val af = s"(CAST(2 AS DOUBLE) / ${n + 1})"
        val asl = s"(CAST(2 AS DOUBLE) / ${slow + 1})"
        val efn = s"($af * x.__v + (1.0 - $af) * acc.ef)"
        val esn = s"($asl * x.__v + (1.0 - $asl) * acc.es)"
        val grouped = kept.groupBy(tags.map(col): _*)
          .agg(sort_array(collect_list(struct(col("__t"), col("__v")))).as("s"))
      // an UNGROUPED aggregate over an empty frame yields ONE row with an
      // EMPTY array (tags=[] + a range with no surviving buckets) — the
      // fold seeds index element 1, so drop it: no buckets, no series
      .filter(size(col("s")) >= 1)
        grouped.select(
          tags.map(col) :+ col("s") :+ posexplode(expr(
            s"""aggregate(
               |  slice(s, 2, greatest(size(s) - 1, 0)),
               |  named_struct(
               |    'ef', CAST(try_element_at(s, 1).__v AS DOUBLE),
               |    'es', CAST(try_element_at(s, 1).__v AS DOUBLE),
               |    'out', array(CAST(0.0 AS DOUBLE))),
               |  (acc, x) -> named_struct(
               |    'ef', $efn, 'es', $esn,
               |    'out', array_append(acc.out, $efn - $esn)),
               |  acc -> acc.out)""".stripMargin)).as(Seq("__i", "__ev")): _*)
          .withColumn("__t", element_at(col("s"), col("__i") + 1).getField("__t"))
          .withColumn(name, floor(col("__ev") * 10000) / 10000)
      case fn if EmaFamily.contains(fn) =>
        // ema_k = a·v_k + (1−a)·ema_{k−1}, a = 2/(N+1), seeded with the
        // first bucket. The fold lambda reads only the OLD accumulator and
        // spells a as the literal division 2/(N+1) — the same op order the
        // recursive-CTE oracle uses, so the doubles are bit-identical.
        // The D/T variants re-run the SAME fold over the previous fold's
        // output (EMA of EMA), per the InfluxDB 1.7 definitions:
        //   DEMA  = 2·e1 − e2
        //   TEMA  = 3·e1 − 3·e2 + e3
        //   TRIX  = 100·(e3_k − e3_{k−1})/e3_{k−1}  (first bucket drops)
        val a = s"(CAST(2 AS DOUBLE) / ${n + 1})"
        // The three recurrences run in ONE pass: e1ₖ feeds e2ₖ feeds e3ₖ
        // within the same lambda step. SQL lambdas have no let-bindings, so
        // e1ₖ's (constant-size) arithmetic inlines into e2ₖ's — which is
        // fine; what must be avoided is folding three separate times:
        // CollapseProject would inline each O(n) fold 4× inside the next
        // (slice/element_at/size references) and the nest goes quadratic —
        // measured 59 s for TRIX at sf0.1 vs ~1 s for this form.
        val e1n = s"($a * x.__v + (1.0 - $a) * acc.e1)"
        val e2n = s"($a * $e1n + (1.0 - $a) * acc.e2)"
        val e3n = s"($a * $e2n + (1.0 - $a) * acc.e3)"
        val isTrix = fn == "triple_exponential_derivative"
        val outExpr = fn match {
          case "exponential_moving_average"        => e1n
          case "double_exponential_moving_average" => s"(2 * $e1n - $e2n)"
          case "triple_exponential_moving_average" => s"(3 * $e1n - 3 * $e2n + $e3n)"
          // TRIX diffs e3 IN the fold (acc.e3 = e3ₖ₋₁): indexing the fold's
          // output with a post-hoc transform would re-inline the whole
          // O(n) fold per element (measured 3.3 s vs 0.6 s at sf0.1).
          // nullif: a zero previous e3 (e.g. SPREAD of single-point
          // buckets) yields NULL, the engine's x/0 convention — under
          // ANSI it otherwise THROWS mid-task (plan-fuzz finding, r12)
          case _ => s"(100.0 * ($e3n - acc.e3) / nullif(acc.e3, CAST(0 AS DOUBLE)))"
        }
        // seed: every non-TRIX variant's first output equals the first
        // bucket value (2v−v = v and 3v−3v+v = v bit-exactly in IEEE);
        // TRIX has no previous e3 at the first bucket, so its out starts
        // empty and the first output lands on bucket 2 (__k0)
        val outSeed =
          if (isTrix) "CAST(array() AS ARRAY<DOUBLE>)"
          else "array(CAST(try_element_at(s, 1).__v AS DOUBLE))"
        val grouped = kept.groupBy(tags.map(col): _*)
          .agg(sort_array(collect_list(struct(col("__t"), col("__v")))).as("s"))
      // an UNGROUPED aggregate over an empty frame yields ONE row with an
      // EMPTY array (tags=[] + a range with no surviving buckets) — the
      // fold seeds index element 1, so drop it: no buckets, no series
      .filter(size(col("s")) >= 1)
        val staged = grouped.withColumn("__out", expr(
          s"""aggregate(
             |  slice(s, 2, greatest(size(s) - 1, 0)),
             |  named_struct(
             |    'e1', CAST(try_element_at(s, 1).__v AS DOUBLE),
             |    'e2', CAST(try_element_at(s, 1).__v AS DOUBLE),
             |    'e3', CAST(try_element_at(s, 1).__v AS DOUBLE),
             |    'out', $outSeed),
             |  (acc, x) -> named_struct(
             |    'e1', $e1n, 'e2', $e2n, 'e3', $e3n,
             |    'out', array_append(acc.out, $outExpr)),
             |  acc -> acc.out)""".stripMargin))
          .withColumn("__k0", lit(if (isTrix) 2 else 1))
        staged.select(
          tags.map(col) :+ col("s") :+ col("__k0") :+
            posexplode(col("__out")).as(Seq("__i", "__ev")): _*)
          .withColumn("__t", element_at(col("s"), col("__i") + col("__k0")).getField("__t"))
          .withColumn(name, floor(col("__ev") * 10000) / 10000)
      case other => throw InfluxQLParseException(s"unknown technical transform: $other")
    }
    val out = series.select(
      date_format(col("__t"), timeFmt(q)).as("time") +:
        tags.map(col) :+ col(name): _*)
    // InfluxDB semantics: grouped series-of-points results paginate points
    // PER SERIES (LIMIT/OFFSET page each series' rows; SLIMIT pages the
    // series) — the generic transform path's convention, cut map-side as a
    // WindowGroupLimit.
    val ord = if (q.orderDesc) col("time").desc else col("time").asc
    if (tags.nonEmpty && (q.limit.isDefined || q.offset.isDefined)) {
      val pw = Window.partitionBy(tags.map(col): _*).orderBy(ord)
      val off = q.offset.getOrElse(0)
      val hi = q.limit.map(off + _).getOrElse(Int.MaxValue)
      out.withColumn("__pn", row_number().over(pw))
        .filter(col("__pn") > off && col("__pn") <= hi).drop("__pn")
        .orderBy(ord +: tags.map(col): _*)
    } else limited(out.orderBy(ord +: tags.map(col): _*), q)
  }

  /** Raw-point transforms — DERIVATIVE(value[, unit]) / DIFFERENCE /
    * NON_NEGATIVE_* / MOVING_AVERAGE(value, n) / CUMULATIVE_SUM(value)
    * over UNGROUPED points (the Grafana raw-series panel shape): one
    * window per series (GROUP BY tags), ordered (ts_ns, event_id) — the
    * q_win_* operators' shape, one shuffle on the tag partition. Value
    * conventions mirror the bucketed transform path (derivative round 6
    * `+0`, difference/cumsum round 2, movavg round 4); warm-up rows with
    * no predecessor drop (InfluxDB's raw-transform behavior — there is no
    * fill() on a raw query to interact with), as do the negatives of the
    * NON_NEGATIVE variants.
    */
  private def planRawTransform(filtered: DataFrame, q: Select,
      t: TransformField): DataFrame = {
    val name = InfluxQLParser.outName(t)
    val tags = q.groupTags
    val v = col(t.inner.arg)
    val w = Window.partitionBy(tags.map(col): _*)
      .orderBy(col("ts_ns"), col("event_id"))
    val kept = seriesLimited(filtered, q, tags)
    // Δt computed in LONG nanos first — epoch ns exceed a double's exact
    // range, the deltas don't
    val dNs = (col("ts_ns") - lag(col("ts_ns"), 1).over(w)).cast("double")
    val out0 = t.fn match {
      case "derivative" | "non_negative_derivative" =>
        val unitNs = t.param.getOrElse(1.0) * 1e9 // unit defaults to 1s
        val d = round((v - lag(v, 1).over(w)) / (dNs / lit(unitNs)), 6) + lit(0.0)
        kept.withColumn(name, if (t.fn.startsWith("non_")) when(d >= 0, d) else d)
          .filter(col(name).isNotNull)
      case "difference" | "non_negative_difference" =>
        val d = round(v - lag(v, 1).over(w), 2) + lit(0.0)
        kept.withColumn(name, if (t.fn.startsWith("non_")) when(d >= 0, d) else d)
          .filter(col(name).isNotNull)
      case "moving_average" =>
        val width = t.param.getOrElse(2.0).toInt
        val frame = w.rowsBetween(-(width - 1), Window.currentRow)
        // warm-up: InfluxDB emits NOTHING until the window fills — drop
        // rows with fewer than `width` predecessors (count over the same
        // frame, so it shares the one window exchange)
        kept.withColumn(name, round(avg(v).over(frame), 4))
          .withColumn("__mw_n", count(v).over(frame))
          .filter(col("__mw_n") === width).drop("__mw_n")
      case "cumulative_sum" =>
        kept.withColumn(name,
          round(sum(v).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
      case other => throw InfluxQLParseException(s"unknown raw transform: $other")
    }
    // raw-select presentation: per-point times, (ts_ns, event_id) order —
    // with per-series LIMIT pagination when grouped (InfluxDB semantics)
    val ord =
      if (q.orderDesc) Seq(col("ts_ns").desc, col("event_id").desc)
      else Seq(col("ts_ns").asc, col("event_id").asc)
    if (tags.nonEmpty && (q.limit.isDefined || q.offset.isDefined)) {
      val pw = Window.partitionBy(tags.map(col): _*).orderBy(ord: _*)
      val off = q.offset.getOrElse(0)
      val hi = q.limit.map(off + _).getOrElse(Int.MaxValue)
      out0.withColumn("__pn", row_number().over(pw))
        .filter(col("__pn") > off && col("__pn") <= hi)
        .orderBy(tags.map(col) ++ ord: _*)
        .select(timeStr(col("ts"), q).as("time") +: tags.map(col) :+ col(name): _*)
    } else {
      limited(
        out0.orderBy(tags.map(col) ++ ord: _*)
          .select(timeStr(col("ts"), q).as("time") +: tags.map(col) :+ col(name): _*),
        q)
    }
  }

  private def planAgg(spark: SparkSession, filtered: DataFrame, q: Select): DataFrame = {
    q.fields match {
      case Seq(f: FnField) if f.fn == "top" || f.fn == "bottom" =>
        return planTopBottom(filtered, q, f)
      case Seq(f: FnField) if f.fn == "distinct" =>
        return planDistinct(filtered, q, f)
      case Seq(f: FnField) if f.fn == "elapsed" =>
        return planElapsed(filtered, q, f)
      case Seq(f: FnField) if f.fn == "sample" =>
        return planSample(filtered, q, f)
      case Seq(t: TransformField) if t.fn == "holt_winters" =>
        return if (t.param2.exists(_ > 0)) planHoltWintersSeasonal(spark, filtered, q, t)
               else planHoltWinters(spark, filtered, q, t)
      case Seq(t: TransformField) if t.fn == "holt_winters_with_fit" =>
        if (t.param2.exists(_ > 0))
          throw InfluxQLParseException(
            "HOLT_WINTERS_WITH_FIT supports S = 0 (Holt linear) only")
        return planHoltWinters(spark, filtered, q, t, fit = true)
      case Seq(t: TransformField) if InfluxQLParser.Technical(t.fn) =>
        return planTechnical(spark, filtered, q, t)
      case Seq(t: TransformField) if t.inner.fn == "__raw" =>
        return planRawTransform(filtered, q, t)
      case _ => ()
    }
    // Transforms compute their INNER aggregate per bucket here, then get
    // windowed over the (tags, __t) frame after fill — same rendered-value
    // conventions as the standalone operators (q_win_derivative: round 6
    // + `+0` to fold IEEE -0.0; q_win_movavg: round 4; q_win_cumsum:
    // round 2).
    val fns: Seq[Field] = q.fields
    val aggNames = fns.map(InfluxQLParser.outName)
    val tagCols = q.groupTags
    val bucketed = q.groupTimeNs match {
      case Some(bNs) => filtered.withColumn("__t", bucketCol(q, bNs))
      case None      => filtered
    }
    val keyCols = (if (q.groupTimeNs.isDefined) Seq("__t") else Nil) ++ tagCols

    // INTEGRAL pre-pass: per-row trapezoid area between consecutive points
    // WITHIN the (bucket, tags) group, ordered (ts, event_id) — q_agg_integral
    // convention. The window shuffles on keyCols, which the groupBy below
    // reuses (one Exchange total). A group's first row has a null area and
    // sum() skips it; single-point groups yield NULL (matches the oracle).
    def fieldLeaves(f: Field): Seq[FnField] = f match {
      case f: FnField          => Seq(f)
      case t: TransformField   => Seq(t.inner)
      case ExprField(e, _)     => InfluxQLParser.exprAggLeaves(e)
      case _                   => Nil
    }
    def areaName(arg: String, unit: Option[Double]): String =
      s"__area_${arg}_${unit.getOrElse(1.0).toLong}"
    val integrals = fns.flatMap(fieldLeaves).filter(_.fn == "integral")
      .map(f => (f.arg, f.param)).distinct
    val prepped = if (integrals.isEmpty) bucketed else {
      val wo = Window.partitionBy(keyCols.map(col): _*)
        .orderBy(col("ts"), col("event_id"))
      integrals.foldLeft(bucketed) { case (df, (arg, unit)) =>
        val unitMicros = unit.getOrElse(1.0) * 1000000.0
        df.withColumn(areaName(arg, unit),
          (col(arg) + lag(col(arg), 1).over(wo)) / 2 *
            (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(wo))
            / lit(unitMicros))
      }
    }
    def leafCol(f: FnField): Column = f.fn match {
      case "integral" => round(sum(col(areaName(f.arg, f.param))), 2)
      case _          => aggCol(f)
    }
    val aggExprs = fns.map {
      case f: FnField          => leafCol(f).as(InfluxQLParser.outName(f))
      case t: TransformField   => leafCol(t.inner).as(InfluxQLParser.outName(t))
      case ExprField(e, alias) => exprOut(e, leafCol).as(alias.get)
      case f => throw InfluxQLParseException(s"unexpected raw field in aggregate: $f")
    }
    val agg =
      if (keyCols.isEmpty) prepped.agg(aggExprs.head, aggExprs.tail: _*)
      else prepped.groupBy(keyCols.map(col): _*).agg(aggExprs.head, aggExprs.tail: _*)

    val filled = q.fill match {
      case FillMissing | FillNone => agg
      case mode => gridFill(spark, agg, q, aggNames, mode)
    }

    val transformed = {
      val tfs = fns.collect { case t: TransformField => t }
      val w = Window.partitionBy(tagCols.map(col): _*).orderBy("__t")
      // MOVING_AVERAGE warm-up (r9): InfluxDB emits NOTHING until the
      // window fills — N−1 fewer rows per series. Dropping rows is only
      // safe when the moving averages are the statement's ONLY outputs
      // (a sibling MEAN/CUMSUM column would lose its first buckets too —
      // InfluxDB keeps those rows with nulls in the movavg column) and
      // when fill() isn't explicitly asking for the full grid. The
      // structural count shares the avg's window exchange.
      val dropWarmup = tfs.nonEmpty && fns.forall {
        case t: TransformField => t.fn == "moving_average"
        case _                 => false
      } && (q.fill == FillMissing || q.fill == FillNone)
      tfs.foldLeft(filled) { (df, t) =>
        val n = InfluxQLParser.outName(t)
        val v = col(n)
        val tu = unix_micros(col("__t"))
        t.fn match {
          case "derivative" | "non_negative_derivative" =>
            // Δvalue / (Δt in units); unit defaults to 1s (InfluxQL).
            val unitMicros = t.param.getOrElse(1.0) * 1000000.0
            val d = round((v - lag(v, 1).over(w)) /
              ((tu - lag(tu, 1).over(w)) / lit(unitMicros)), 6) + lit(0.0)
            df.withColumn(n, if (t.fn.startsWith("non_")) when(d >= 0, d) else d)
          case "difference" | "non_negative_difference" =>
            val d = round(v - lag(v, 1).over(w), 2) + lit(0.0)
            df.withColumn(n, if (t.fn.startsWith("non_")) when(d >= 0, d) else d)
          case "moving_average" =>
            val width = t.param.getOrElse(2.0).toInt
            val frame = w.rowsBetween(-(width - 1), Window.currentRow)
            val out = df.withColumn(n, round(avg(v).over(frame), 4))
            if (dropWarmup)
              out.withColumn(s"__mw_$n", count(lit(1)).over(frame))
                .filter(col(s"__mw_$n") === width).drop(s"__mw_$n")
            else out
          case "cumulative_sum" =>
            df.withColumn(n,
              round(sum(v).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
          case other => throw InfluxQLParseException(s"unknown transform: $other")
        }
      }
    }

    val timeOut =
      if (q.groupTimeNs.isDefined)
        // under tz() __t is already local-naive — no further conversion
        Seq(date_format(col("__t"), timeFmt(q)).as("time"))
      else Nil
    val paged = seriesLimited(transformed, q, tagCols)
    // InfluxDB semantics: on a grouped series-of-points result, LIMIT and
    // OFFSET paginate points PER SERIES (SLIMIT pages the series) — a
    // per-partition rank, cut map-side as a WindowGroupLimit. Ungrouped
    // results keep the global limit.
    val perSeries = q.groupTimeNs.isDefined && tagCols.nonEmpty &&
      (q.limit.isDefined || q.offset.isDefined)
    if (perSeries) {
      val ord = if (q.orderDesc) col("__t").desc else col("__t").asc
      val w = Window.partitionBy(tagCols.map(col): _*).orderBy(ord)
      val off = q.offset.getOrElse(0)
      val hi = q.limit.map(off + _).getOrElse(Int.MaxValue)
      val cut = paged.withColumn("__pn", row_number().over(w))
        .filter(col("__pn") > off && col("__pn") <= hi)
      val out = cut.select(timeOut ++ tagCols.map(col) ++ aggNames.map(col): _*)
      ordering(out, q, hasTime = true, tagCols)
    } else {
      val out = paged.select(timeOut ++ tagCols.map(col) ++ aggNames.map(col): _*)
      val ordered = ordering(out, q, hasTime = q.groupTimeNs.isDefined, tagCols)
      limited(ordered, q)
    }
  }

  /** Join the aggregate onto the full bucket grid over the WHERE range and
    * fill per the requested mode. Grid = (distinct observed tag combos) ×
    * (bucket sequence) — generated distributed via sequence()+explode.
    */
  private def gridFill(spark: SparkSession, agg: DataFrame, q: Select,
      aggNames: Seq[String], mode: Fill): DataFrame = {
    val nsPer = q.groupTimeNs.get
    val (loOpt, hiOpt) = timeBounds(q.where)
    val (lo, hi) = (loOpt, hiOpt) match {
      case (Some(l), Some(h)) => (l, h)
      case _ => throw InfluxQLParseException(
        "fill() requires a bounded time range in WHERE (an unbounded grid is unsafe at scale)")
    }
    val offNs = q.groupTimeOffNs
    // tz: grid bounds move to the zone's wall clock — same local-naive
    // axis the bucket column uses. (The instant-specific zone offset is
    // applied per bound; a fill grid straddling a DST jump keeps stepping
    // uniformly from the converted lower bound.)
    def toLocalNs(ns: Long): Long = q.tz match {
      case None => ns
      case Some(zone) =>
        val inst = java.time.Instant.ofEpochSecond(
          math.floorDiv(ns, 1000000000L), math.floorMod(ns, 1000000000L))
        val loc = java.time.LocalDateTime.ofInstant(inst, java.time.ZoneId.of(zone))
        loc.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L + loc.getNano
    }
    val (loL, hiL) = (toLocalNs(lo), toLocalNs(hi))
    // first/last bucket start on the (possibly shifted) grid, epoch µs
    // (bucket width and offset are µs-multiples by parser guarantee)
    val b0Us = (math.floorDiv(loL - offNs, nsPer) * nsPer + offNs) / 1000L
    val bNUs = (math.floorDiv(hiL - 1 - offNs, nsPer) * nsPer + offNs) / 1000L
    // InfluxDB's max-select-buckets guard: a fill() grid materializes one
    // row per bucket PER SERIES, so a sub-second grid over a wide range is
    // an output explosion (2 days at 500µs = 345M rows/series) — refuse
    // with the bucket math instead of running it
    val nBuckets = (bNUs - b0Us) / (nsPer / 1000L) + 1
    // Two-tier guard. Sub-second grids (the IQL67 explosion that motivated
    // it) gate at maxSelectBuckets (default 1M). Whole-second-or-coarser
    // grids keep long-standing dashboard queries working — GROUP BY time(1s)
    // fill(previous) over two weeks is 1.2M buckets and must plan (ADVICE
    // r9) — but are NOT unbounded: the grid materializes one sequence()
    // array per series, so a 26-year 1s grid (8.2e8 elements) would OOM an
    // executor or overflow sequence()'s 2^31 element cap. The coarse tier
    // defaults to 10M (a 1s grid over ~4 months; ~120 MB transient array);
    // a user-set maxSelectBuckets applies to BOTH tiers.
    val userMax = spark.conf.getOption("graft.influxql.maxSelectBuckets").map(_.toLong)
    val cap =
      if (nsPer < 1000000000L) userMax.getOrElse(1000000L)
      else userMax.getOrElse(10000000L)
    if (nBuckets > cap)
      throw InfluxQLParseException(
        s"fill() grid would span $nBuckets buckets per series (max $cap) — " +
          "narrow the WHERE time range or widen GROUP BY time " +
          "(override: spark conf graft.influxql.maxSelectBuckets)")
    val tags = q.groupTags
    val seqCol = explode(sequence(
      timestamp_micros(lit(b0Us)), timestamp_micros(lit(bNUs)),
      expr(s"interval ${nsPer / 1000L} microseconds"))).as("__t")
    val grid =
      if (tags.isEmpty) spark.range(1).select(seqCol)
      else agg.select(tags.map(col): _*).distinct().select(tags.map(col) :+ seqCol: _*)
    val joined = grid.join(agg, Seq("__t") ++ tags, "left")
    mode match {
      case FillNull => joined
      case FillValue(v) =>
        aggNames.foldLeft(joined)((df, n) => df.withColumn(n, coalesce(col(n), lit(v))))
      case FillPrevious =>
        val w = Window.partitionBy(tags.map(col): _*).orderBy("__t")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        aggNames.foldLeft(joined)((df, n) =>
          df.withColumn(n, last(col(n), ignoreNulls = true).over(w)))
      case FillLinear =>
        val wPrev = Window.partitionBy(tags.map(col): _*).orderBy("__t")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wNext = Window.partitionBy(tags.map(col): _*).orderBy("__t")
          .rowsBetween(1, Window.unboundedFollowing)
        val tu = unix_micros(col("__t"))
        aggNames.foldLeft(joined) { (df, n) =>
          df.withColumn(s"__pv_$n", last(col(n), ignoreNulls = true).over(wPrev))
            .withColumn(s"__ph_$n", last(when(col(n).isNotNull, tu), ignoreNulls = true).over(wPrev))
            .withColumn(s"__nv_$n", first(col(n), ignoreNulls = true).over(wNext))
            .withColumn(s"__nh_$n", first(when(col(n).isNotNull, tu), ignoreNulls = true).over(wNext))
            .withColumn(n,
              when(col(n).isNotNull, col(n))
                .when(col(s"__pv_$n").isNotNull && col(s"__nv_$n").isNotNull,
                  // floor-truncate, not round: bit-deterministic across
                  // engines (q_fill_linear parity note).
                  floor((col(s"__pv_$n") + (col(s"__nv_$n") - col(s"__pv_$n"))
                    * (tu - col(s"__ph_$n")) / (col(s"__nh_$n") - col(s"__ph_$n")))
                    * 10000) / 10000))
            .drop(s"__pv_$n", s"__ph_$n", s"__nv_$n", s"__nh_$n")
        }
      case other => throw InfluxQLParseException(s"unsupported fill: $other")
    }
  }

  // ---- raw path -----------------------------------------------------------

  private def planRaw(filtered: DataFrame, q: Select, catalog: Catalog): DataFrame = {
    val fieldCols = q.fields.flatMap {
      // SELECT * — the measurement's tags then fields (InfluxDB order)
      case RawField("*", _) => (catalog.tags :+ catalog.field).map(col)
      case RawField(name0, alias) =>
        val name = InfluxQLParser.stripHint(name0) // `::tag`/`::field` hints
        Seq(col(name).as(alias.getOrElse(name)))
      // raw-select scalar math, e.g. ABS(value) AS av — per-row, codegen'd
      case ExprField(e, alias) => Seq(exprOut(e, f => throw InfluxQLParseException(
        s"aggregate ${f.fn.toUpperCase} in a raw select")).as(alias.get))
      case f => throw InfluxQLParseException(s"unexpected field in raw select: $f")
    }
    // (ts_ns, event_id) ordering: deterministic under rendered-second ties.
    val ord =
      if (q.orderDesc) Seq(col("ts_ns").desc, col("event_id").desc)
      else Seq(col("ts_ns").asc, col("event_id").asc)
    val out = filtered.orderBy(ord: _*)
      .select(timeStr(col("ts"), q).as("time") +: fieldCols: _*)
    limited(out, q)
  }

  // ---- shared tail --------------------------------------------------------

  private def ordering(df: DataFrame, q: Select, hasTime: Boolean,
      tags: Seq[String]): DataFrame = {
    val timeOrd =
      if (hasTime) Seq(if (q.orderDesc) col("time").desc else col("time").asc) else Nil
    val cols = timeOrd ++ tags.map(col)
    if (cols.isEmpty) df else df.orderBy(cols: _*)
  }

  private def limited(df: DataFrame, q: Select): DataFrame = {
    val off = q.offset.fold(df)(df.offset)
    q.limit.fold(off)(off.limit)
  }

  /** SLIMIT/SOFFSET — paginate SERIES (distinct tag sets, ordered by tag
    * values), not rows. The series list is dashboard-sized by construction,
    * so it computes once and broadcasts; the semi-join adds no shuffle on
    * the main side.
    */
  private def seriesLimited(df: DataFrame, q: Select, tags: Seq[String]): DataFrame =
    if (q.slimit.isEmpty && q.soffset.isEmpty) df
    else {
      val distinctSeries = df.select(tags.map(col): _*).distinct()
        .orderBy(tags.map(col): _*)
      val skipped = q.soffset.fold(distinctSeries)(distinctSeries.offset)
      val series = q.slimit.fold(skipped)(skipped.limit)
      df.join(broadcast(series), tags, "left_semi")
    }

  /** Rendered time column: bucket/raw timestamps print in tz()'s zone when
    * present (the bucket column is already local-naive then), else UTC.
    */
  private def timeStr(c: Column, q: Select): Column = {
    val local = q.tz.filter(_ => q.groupTimeNs.isEmpty)
      .fold(c)(zone => from_utc_timestamp(c, zone))
    date_format(local, timeFmt(q))
  }

  /** Rendered time precision: sub-second bucket grids print fractional
    * seconds (µs — the store's native precision); whole-second grids and
    * raw selects keep the second-resolution contract.
    */
  private def timeFmt(q: Select): String =
    if (q.groupTimeNs.exists(_ % 1000000000L != 0)) "yyyy-MM-dd HH:mm:ss.SSSSSS"
    else "yyyy-MM-dd HH:mm:ss"
}
