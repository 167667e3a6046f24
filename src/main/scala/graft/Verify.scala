package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional third arg (dev only): comma-separated query-name filter.
    val only: Set[String] = args.drop(2).headOption.map(_.split(",").toSet).getOrElse(Set.empty)
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Dev knob (VERDICT r10 #7): SPARK_GRAFT_RELIABLE_CKPT=1 runs the whole
    // sweep through Q.materialize's DURABLE tier — reliable checkpoint to a
    // scratch dir instead of localCheckpoint — so the at-scale branch gets
    // exercised and timed over the full board, not just its parity spec.
    if (sys.env.get("SPARK_GRAFT_RELIABLE_CKPT").exists(_ == "1")) {
      val d = Files.createTempDirectory("graft-reliable-ckpt").toString
      spark.sparkContext.setCheckpointDir(d)
      spark.conf.set("spark.graft.checkpoint.reliable", "true")
      System.err.println(s"[verify] reliable checkpoint tier ON -> $d")
    }
    new java.io.File(outDir).mkdirs()
    var sinceGc = 0
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      // Same class-unload cadence as graft.Bench: without periodic GC a
      // huge-heap JVM never unloads dead codegen classloaders across ~90
      // queries, the 2g-capped code cache saturates, and the JIT
      // flush-thrashes (late queries degrade 10-50x).
      sinceGc += 1
      if (sinceGc >= 16) { System.gc(); sinceGc = 0 }
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
      } catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
