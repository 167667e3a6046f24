package graft.tools

import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkTestBase

class ProfileSpec extends SparkTestBase {

  private val small = "/root/testdata/sf0.001"
  private val big = "/root/testdata/sf0.01"
  private val key = "q_downsample_1m"
  private val runLine =
    """(\S+) +(\S+) RUN(\d+) rows=(\d+) time=\S+ s jobs=(\d+) stages=(\d+) tasks=(\d+)""".r

  test("one key at two SFs: a line per run, a scale_pair line and a plan file per dir") {
    val planDir = Files.createTempDirectory("graft-profile")
    val out = ArrayBuffer.empty[String]
    Profile.run(spark, Seq(key), Seq(small, big), runs = 2, Some(planDir.toString))(out += _)

    val runs = out.toSeq.collect { case runLine(k, dir, i, rows, jobs, _, _) =>
      (k, dir, i.toInt, rows.toLong, jobs.toLong)
    }
    assert(runs.map(r => (r._1, r._2, r._3)) ==
      Seq((key, "sf0.001", 1), (key, "sf0.001", 2), (key, "sf0.01", 1), (key, "sf0.01", 2)),
      out.mkString("\n", "\n", ""))
    runs.foreach { case (_, _, _, rows, jobs) => assert(rows > 0 && jobs >= 1) }

    val pairLines = out.filter(_.startsWith("{"))
    assert(pairLines.size == 1, out.mkString("\n", "\n", ""))
    val pair = new ObjectMapper().readTree(pairLines.head)
    assert(pair.get("metric").asText == "scale_pair")
    assert(pair.get("small").asText == small && pair.get("big").asText == big)
    val k = pair.get(key)
    assert(k.get("small_s").asDouble > 0 && k.get("big_s").asDouble > 0 && k.get("ratio").asDouble > 0)

    val plans = Files.list(planDir).iterator().asScala.toSeq
    assert(plans.map(_.getFileName.toString).sorted ==
      Seq(s"${key}_sf0.001.txt", s"${key}_sf0.01.txt"))
    plans.foreach(p => assert(Files.readString(p).contains("== Physical Plan ==")))
  }
}
