package graft.queries

import graft.{Registry, SparkTestBase}
import graft.functions.MinHashText
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** What the dedup chain EXECUTES, not just what it plans: one run of a
  * clustered key computes the MinHash signatures in exactly one execution
  * (the candidate chain runs once), reads its pair count without a `count`
  * job, and the shipped training-set pipeline scans `documents` twice
  * (signatures, gated keepers).
  */
class DedupExecutionAuditSpec extends SparkTestBase {

  /** A small seeded corpus with both kinds of duplicate: 60 base docs (every
    * fourth under the 40-token gate), one-word-changed near copies of 20
    * and exact copies of 10. Without a gated exact duplicate, AQE drops the
    * empty anti-join side from the final plan, and a scan that side ran
    * would not show in it. */
  private lazy val dir: String = {
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    val words = (0 until 300).map(i => s"w$i")
    val base = (0 until 60).map(i =>
      Seq.fill(if (i % 4 == 0) 20 else 45 + rnd.nextInt(30))(words(rnd.nextInt(words.length))))
    val near = base.take(20).map(t => t.updated(t.length / 2, "zz"))
    val texts = (base ++ near ++ base.slice(20, 30)).map(_.mkString(" "))
    val out = java.nio.file.Files.createTempDirectory("dedup-audit").toString
    texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t, "en", s"src${i % 3}", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$out/documents.parquet")
    out
  }

  /** Drain the (asynchronous) listener bus; it is private[spark]. */
  private def drain(): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }

  /** (action name, executed plan) of every execution one run of `key` makes. */
  private def executions(key: String): Seq[(String, SparkPlan)] = {
    val seen = new ConcurrentLinkedQueue[(String, SparkPlan)]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(funcName -> qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    drain()
    spark.listenerManager.register(listener)
    try {
      Registry.byName(key).run(spark, dir).collect()
      drain()
    } finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  /** Every node of an executed plan, through adaptive stages, reused
    * exchanges and subqueries. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec        => nodes(q.plan)
      case r: ReusedExchangeExec    => nodes(r.child)
      case _                        => Seq.empty
    }
    p +: (inner ++ p.children.flatMap(nodes) ++ p.subqueries.flatMap(nodes))
  }

  private def runsKernel(p: SparkPlan): Boolean =
    nodes(p).exists(_.expressions.exists(_.exists(_.isInstanceOf[MinHashText])))

  for (key <- Seq("q_pipeline_trainset", "q_dedup_cross_source", "q_soft_dedup"))
    test(s"$key: minhash_text runs in exactly one execution, and no count job runs") {
      val ex = executions(key)
      assert(ex.nonEmpty, s"$key: no execution seen")
      val withKernel = ex.filter { case (_, p) => runsKernel(p) }
      assert(withKernel.size == 1,
        s"$key: minhash_text in ${withKernel.size} executions (${withKernel.map(_._1).mkString(", ")})")
      assert(!ex.exists(_._1 == "count"),
        s"$key: a count execution ran; actions: ${ex.map(_._1).mkString(", ")}")
    }

  test("q_pipeline_trainset scans documents twice: signatures and gated keepers") {
    val scans = executions("q_pipeline_trainset").flatMap { case (_, p) =>
      nodes(p).collect { case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName == "documents.parquet") => s }
    }
    assert(scans.size == 2, s"documents scanned ${scans.size} times")
    assert(Registry.byName("q_dedup_groups").run(spark, dir).count() > 0,
      "the corpus has no near-dup cluster")
  }
}
