package perfbench

import java.nio.file.Files

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry
import graft.tables.Tables

/** The shipped training-set pipeline, `q_pipeline_trainset` (quality gate,
  * exact dedup, LSH near-dup keep-list, stratified sample), run through
  * `SparkEntry.queries` on a seeded corpus, one job after another with a
  * full GC between jobs outside the timed span. The timed operation is
  * one job: build the query and collect its rows.
  */
final class TrainsetBatch(c: Main.Conf, in: JsonNode) extends Workload {
  private val key = "q_pipeline_trainset"
  private val dir = c.inputs.toString
  private val docs = in.get("documents").asLong
  private val warmJobs = in.get("warmup_jobs").asInt
  private val jobs = in.get("jobs").asInt

  private var spark: SparkSession = _
  private val hashes = scala.collection.mutable.LinkedHashSet.empty[String]
  private var firstRows: Seq[Row] = Nil
  private val loadMs = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var req = 0L

  def setup(s: SparkSession): Unit = {
    spark = s
    val t0 = System.nanoTime()
    Tables.documents(spark, dir).schema
    loadMs += (System.nanoTime() - t0) / 1e6
  }

  def teardown(): Unit = ()

  private def rowsHash(rows: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(rows.map(r => s"${r.getLong(0)},${r.getString(1)},${r.get(2)}").mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.digest().map("%02x".format(_)).mkString
  }

  /** One timed job; returns its wall ms and CPU ms. */
  private def job(): (Double, Double) = {
    System.gc()
    req += 1
    val t0 = System.nanoTime()
    val (rows, cpuMs) = Cpu.timed {
      Trace.span("queries.job", req) {
        Trace.span("tables.documents")(Tables.documents(spark, dir))
        val df = Trace.span("queries.build")(SparkEntry.queries(key)(spark, dir))
        Trace.span("queries.collect")(df.collect().toSeq)
      }
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (firstRows.isEmpty) firstRows = rows
    hashes += rowsHash(rows)
    Main.mark(f"job $req wall $ms%.0f ms cpu $cpuMs%.0f ms")
    (ms, cpuMs)
  }

  def warmup(): Unit = (0 until warmJobs).foreach(_ => job())

  def measure(probe: SparkProbe): Pass = {
    probe.quiesce()
    val s0 = probe.snapshot()
    val (ms, cpuMs) = (0 until jobs).map(_ => job()).unzip
    probe.quiesce()
    val d = SparkProbe.delta(s0, probe.snapshot())
    Pass(ms, cpuMs, (docs * jobs).toDouble, ms.sum / 1000.0, cpuMs.sum / 1000.0, jobs, 0,
      SparkProbe.perOp(d, jobs, ms.sum / 1000.0, c.cores) ++ Map(
        "queries.documents_scans" -> d("documents_scans") / jobs,
        "tables.load_ms" -> Stats.median(loadMs.toSeq)))
  }

  /** Every job returned the same rows; the oracle comparison of that
    * result runs after the process ends, from the files written here.
    */
  def check(): (Int, Int) = {
    Files.writeString(c.work.resolve("trainset_rows.csv"),
      firstRows.map(r => s"${r.getLong(0)},${r.getString(1)},${r.get(2)}").mkString("\n"))
    Files.writeString(c.work.resolve("trainset_oracle.sql"), SparkEntry.oracleSql(key))
    (1, if (hashes.size == 1) 0 else 1)
  }

  def layers(probe: SparkProbe): Map[String, Double] = Map.empty
}
