package graft.streaming

import graft.SparkTestBase
import graft.queries.QCustom
import graft.sinks.LineProtocol
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{FormatString, RegExpExtract, RegExpReplace}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.{Files, Paths}

/** The full reference dataflow end-to-end: config scan → device source →
  * decode → broadcast enrichment → line-protocol sink (SURVEY §3.1).
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
    // format_line kernel and the catalog join keys on the register name
    val ckpt = Files.createTempDirectory("ingest_plan_ckpt").toString
    val q = LineProtocol.formatPoints(Pipelines.enrichedPoints(spark, QCustom.SampleConfigXml))
      .writeStream.option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow())
      .foreachBatch((_: DataFrame, _: Long) => ())
      .start()
    q.awaitTermination(120000)
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    // the batch plan is adaptive: look through AdaptiveSparkPlan and its stages
    val banned = new AdaptiveSparkPlanHelper {}.collect(plan) { case p =>
      p.expressions.flatMap(_.collect {
        case e @ (_: RegExpReplace | _: RegExpExtract | _: FormatString) => e.prettyName
      })
    }.flatten
    assert(banned.isEmpty, s"per-row regex/format work in:\n$plan")
    assert(plan.toString.contains("format_line"), plan.toString)
    assert(plan.toString.contains("BroadcastHashJoin"), plan.toString)
  }
}
