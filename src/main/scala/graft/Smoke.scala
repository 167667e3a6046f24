package graft

/** Dev smoke: the driver's t1 check — SparkEntry.entry rows > 0. Also
  * exercises the GraftExtensions install path (the session is built with
  * the extensions, then the injected functions are used from plain SQL —
  * the spark.sql.extensions=graft.GraftExtensions deployment shape).
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder(8).withExtensions(new GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Injected-function smoke: decode_s7 + token_hashes from pure SQL, no
    // register() calls. decode_s7 of a 4-byte IEEE754 buffer (0x42 0x28
    // 0x00 0x00 = 42.0f big-endian) as WLReal (=8, functions/S7.scala).
    val ext = spark.sql(
      "SELECT decode_s7(X'42280000', 8, 0) AS r, token_hashes(array('ab')) AS h").head()
    require(ext.getDouble(0) == 42.0, s"extensions: decode_s7 broken: $ext")
    require(ext.getSeq[Long](1).nonEmpty, s"extensions: token_hashes broken: $ext")
    println("EXTENSIONS_OK=" + ext)
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5, truncate = false)
    println("QUERIES=" + SparkEntry.queries.size + " ORACLES=" + SparkEntry.oracleSql.size)

    // Streaming smoke: DSv2 s7sim source → DecodeS7 → memory sink.
    val q = graft.streaming.Pipelines
      .s7DecodedStream(spark, Seq("10.0.0.1", "10.0.0.2"), tagsPerPlc = 4)
      .writeStream.format("memory").queryName("smoke_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    println("STREAM_ROWS=" + spark.table("smoke_stream").count())
    spark.table("smoke_stream").show(4, truncate = false)
    spark.stop()
  }
}
