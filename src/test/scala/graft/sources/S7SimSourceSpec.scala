package graft.sources

import graft.SparkTestBase
import graft.functions.S7
import graft.streaming.Pipelines
import org.apache.spark.sql.streaming.Trigger

/** The DSv2 micro-batch source end-to-end: raw buffers → DecodeS7 →
  * point rows, one partition per PLC (SURVEY §2.1 S2).
  */
class S7SimSourceSpec extends SparkTestBase {

  test("one AvailableNow drain yields one tick of decoded samples per PLC") {
    val df = Pipelines.s7DecodedStream(spark, Seq("10.0.0.1", "10.0.0.2"), tagsPerPlc = 4)
    val q = df.writeStream.format("memory").queryName("s7_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val rows = spark.table("s7_out").collect()
      .map(r => (r.getString(1), r.getString(2)) -> r.getDouble(3)).toMap
    // tick 0: tag0 Real ((0*31+0*7)%1000)/10 = 0.0; tag1 Word (0*13+1)%65536-32768
    assert(rows.size === 8) // 2 PLCs × 4 tags × 1 tick
    assert(rows(("10.0.0.1", "10.0.0.1_tag0")) === 0.0)
    assert(rows(("10.0.0.1", "10.0.0.1_tag1")) === -32767.0)
    assert(rows(("10.0.0.2", "10.0.0.2_tag2")) === 1.0)   // dword: 0*(2+1)+1 = 1
    assert(rows(("10.0.0.1", "10.0.0.1_tag3")) === ((0 + 3) % 256 >> 3 & 1).toDouble)
  }

  test("raw schema carries buffers the decoder round-trips") {
    val raw = spark.readStream.format("graft.sources.S7SimSource")
      .option("plcs", "10.0.0.9").option("tagsPerPlc", "2").load()
    assert(raw.schema.fieldNames.toSeq ===
      Seq("ts", "plc", "alias", "buf", "type_code", "bit"))
    val (buf, tc, bit) = S7SimSource.sample(5L, 0, 1)
    assert(S7.decode(buf, tc, bit) === ((5 * 13 + 1) % 65536 - 32768).toDouble)
  }

  test("a catalog device polls its active tags at their catalog positions, under their aliases") {
    def tag(plc: String, alias: String, active: Boolean) =
      TagConfig(plc, 1, "real", "DB", "DB1.DBD0", alias, active, "1s")
    val devices = S7SimSource.catalogDevices(Seq(tag("10.0.0.2", "a", active = true),
      tag("10.0.0.1", "b", active = false), tag("10.0.0.2", "c", active = false),
      tag("10.0.0.2", "d", active = true), tag("10.0.0.1", "e", active = false)))
    // plcIdx is the index in the sorted PLC list; a PLC with no active tag
    // keeps its index and polls nothing
    assert(devices === Seq(S7SimDevice("10.0.0.1", 0, Seq()),
      S7SimDevice("10.0.0.2", 1, Seq(S7SimRegister(0, "a"), S7SimRegister(2, "d")))))
  }
}
