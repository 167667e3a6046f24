package graft.streaming

import graft.SparkTestBase
import graft.queries.QCustom
import graft.sinks.LineProtocol
import graft.sources.{ConfigXml, S7SimSource, TagConfig}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{FormatString, RegExpExtract, RegExpReplace}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.streaming.Trigger

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** The full reference dataflow end-to-end: config scan → device source
  * polling the catalog's active registers under their aliases → decode →
  * line-protocol sink (SURVEY §3.1).
  */
class IngestPipelineSpec extends SparkTestBase {

  test("ingest wires config aliases onto decoded device registers; inactive tags dropped") {
    val out = Files.createTempDirectory("ingest_out").toString
    val ckpt = Files.createTempDirectory("ingest_ckpt").toString
    val q = Pipelines.ingest(spark, QCustom.SampleConfigXml, out, ckpt)
    q.awaitTermination(120000)

    val lines = Files.walk(Paths.get(out)).iterator()
    val lp = scala.jdk.CollectionConverters.IteratorHasAsScala(lines).asScala
      .filter(_.toString.endsWith(".lp"))
      .flatMap(f => scala.io.Source.fromFile(f.toFile).getLines())
      .toSeq
    assert(lp.nonEmpty)
    // points carry CONFIG aliases (plc1_temp …), not raw source tags
    assert(lp.exists(_.matches("""10\.0\.0\.1 plc1_temp=.*""")))
    assert(lp.exists(_.matches("""10\.0\.0\.3 plc3_total=.*""")))
    assert(!lp.exists(_.contains("_tag")))
    // inactive tags (plcN_mode, active=False in the sample catalog) never reach the sink
    assert(!lp.exists(_.contains("_mode")))
    // every configured PLC produced data
    assert(Seq("10.0.0.1", "10.0.0.2", "10.0.0.3").forall(ip => lp.exists(_.startsWith(ip + " "))))
  }

  test("the executed ingest plan shapes lines with no regex and no format_string") {
    // in the style of PlanAuditSpec: the per-row shaping is the native
    // format_line kernel, and the catalog is read by the source itself
    val ckpt = Files.createTempDirectory("ingest_plan_ckpt").toString
    val q = LineProtocol.formatPoints(Pipelines.enrichedPoints(spark, QCustom.SampleConfigXml))
      .writeStream.option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow())
      .foreachBatch((_: DataFrame, _: Long) => ())
      .start()
    q.awaitTermination(120000)
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    // the batch plan is adaptive: look through AdaptiveSparkPlan and its stages
    val helper = new AdaptiveSparkPlanHelper {}
    val banned = helper.collect(plan) { case p =>
      p.expressions.flatMap(_.collect {
        case e @ (_: RegExpReplace | _: RegExpExtract | _: FormatString) => e.prettyName
      })
    }.flatten
    assert(banned.isEmpty, s"per-row regex/format work in:\n$plan")
    assert(plan.toString.contains("format_line"), plan.toString)
    val joins = helper.collect(plan) {
      case p if p.nodeName.contains("Join") || p.nodeName.contains("BroadcastExchange") => p.nodeName
    }
    assert(joins.isEmpty, s"catalog enrichment should need no join or broadcast:\n$plan")
  }

  /** The enrichment the source's `catalog` option replaced: poll every PLC's
    * first `maxTags` registers under their register names, broadcast-join
    * the catalog back on (PLC, register), keep the active tags, rename to
    * the alias. The reference for the pushdown's byte-for-byte equivalence.
    */
  private def joinedPoints(configXml: String, sourceOptions: Map[String, String]): DataFrame = {
    import spark.implicits._
    val tags = ConfigXml.parseString(configXml)
    val plcs = tags.map(_.plc).distinct.sorted
    val maxTags = tags.groupBy(_.plc).map(_._2.size).max
    val catalog = tags.groupBy(_.plc).toSeq.flatMap { case (plc, ts) =>
      ts.zipWithIndex.map { case (t, i) => (plc, S7SimSource.register(plc, i), t.alias, t.active) }
    }.toDF("cfg_plc", "cfg_register", "cfg_alias", "active")
    Pipelines.s7DecodedStream(spark, plcs, tagsPerPlc = maxTags, sourceOptions = sourceOptions)
      .join(broadcast(catalog),
        col("measurement") === col("cfg_plc") && col("alias") === col("cfg_register"))
      .filter(col("active"))
      .select(col("ts"), col("measurement"), col("cfg_alias").as("alias"), col("value"))
  }

  /** Drain `points` as lines with AvailableNow: batch id → sorted UTF-8 lines. */
  private def drain(points: DataFrame): Map[Long, Seq[String]] = {
    val got = new java.util.concurrent.ConcurrentHashMap[Long, Seq[String]]()
    val ckpt = Files.createTempDirectory("ingest_eq_ckpt").toString
    val q = LineProtocol.formatPoints(points)
      .writeStream.option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow())
      .foreachBatch((b: DataFrame, id: Long) =>
        got.put(id, b.collect().map(_.getString(0)).toSeq.sorted): Unit)
      .start()
    q.awaitTermination(120000)
    assert(q.exception.isEmpty, q.exception)
    scala.jdk.CollectionConverters.MapHasAsScala(got).asScala.toMap
  }

  private def assertSameLines(configXml: String): Unit = {
    // 40 ticks in one batch: every register cycles through many values
    val opts = Map("ticksPerPoll" -> "40")
    val want = drain(joinedPoints(configXml, opts))
    val got = drain(Pipelines.enrichedPoints(spark, configXml, opts))
    assert(want.values.map(_.size).sum > 0)
    assert(got.keySet == want.keySet)
    for (id <- want.keys) {
      val (g, w) = (got(id), want(id))
      assert(g.size == w.size, s"batch $id: ${g.size} lines, the join gives ${w.size}")
      val diff = g.zip(w).find { case (a, b) =>
        !java.util.Arrays.equals(a.getBytes(StandardCharsets.UTF_8), b.getBytes(StandardCharsets.UTF_8))
      }
      assert(diff.isEmpty, s"batch $id: first differing line (pushdown, join): $diff")
    }
  }

  test("the catalog pushdown gives the join's lines byte for byte: sample catalog") {
    assertSameLines(QCustom.SampleConfigXml)
  }

  test("the catalog pushdown gives the join's lines byte for byte: generated catalog") {
    // PLCs with different tag counts, inactive tags mid-list, one PLC whose
    // tags are all inactive, one PLC split over two <plc> elements, and
    // aliases holding the line protocol's separators and non-ASCII text
    val rnd = new scala.util.Random(20240101L)
    val names = Vector("temp", "flow rate", "a,b", "k=v", "größe", "温度", "x =, y")
    val counts = Seq(3, 9, 1, 6, 4, 5)
    val tags = counts.zipWithIndex.flatMap { case (n, p) =>
      (0 until n).map { i =>
        TagConfig(s"10.1.$p.1", 1, "real", "DB", s"DB1.DBD${i * 4}",
          s"${names(rnd.nextInt(names.size))}_$p.$i", active = p != 3 && i % 3 != 1, "1s")
      }
    } ++ (0 until 3).map(i =>
      TagConfig("10.1.1.1", 2, "int", "DB", s"DB2.DBW${i * 2}", s"slot2 é_$i", active = i != 0, "1s"))
    val xml = ConfigXml.render(tags)
    val parsed = ConfigXml.parseString(xml)
    assert(parsed.exists(!_.active) && parsed.filter(_.plc == "10.1.3.1").forall(!_.active))
    assertSameLines(xml)
  }

  test("the catalog option cannot be combined with plcs or tagsPerPlc") {
    for (opt <- Seq("plcs" -> "10.0.0.1", "tagsPerPlc" -> "4")) {
      val e = intercept[IllegalArgumentException](
        Pipelines.enrichedPoints(spark, QCustom.SampleConfigXml, Map(opt)))
      assert(e.getMessage.contains("'catalog'") && e.getMessage.contains(s"'${opt._1}'"),
        e.getMessage)
    }
  }
}
