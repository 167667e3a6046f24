package graft.sources

import graft.SparkTestBase
import graft.functions.S7
import graft.streaming.Pipelines
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

/** The DSv2 micro-batch source end-to-end: raw buffers → DecodeS7 →
  * point rows, the devices spread over min(devices, defaultParallelism)
  * input partitions (SURVEY §2.1 S2).
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

  private def device(plcIdx: Int, regs: Int): S7SimDevice =
    S7SimDevice(s"10.0.0.$plcIdx", plcIdx, (0 until regs).map(i => S7SimRegister(i, s"t$i")))

  /** Every device with registers in exactly one group, no empty group,
    * min(devices, parallelism) groups, a group's devices in `plcIdx` order,
    * and no group more than one device's registers above another.
    */
  private def checkAssignment(devices: Seq[S7SimDevice], parallelism: Int): Unit = {
    val polled = devices.filter(_.registers.nonEmpty)
    val groups = S7SimSource.assign(devices, parallelism)
    assert(groups.size === math.min(polled.size, parallelism))
    assert(groups.forall(_.nonEmpty))
    assert(groups.flatten.sortBy(_.plcIdx) === polled.sortBy(_.plcIdx))
    assert(groups.forall(g => g === g.sortBy(_.plcIdx)))
    if (groups.nonEmpty) {
      val loads = groups.map(_.map(_.registers.size).sum)
      assert(loads.max - loads.min <= polled.map(_.registers.size).max,
        s"unbalanced: $loads")
    }
    assert(S7SimSource.assign(devices, parallelism) === groups)
  }

  test("assign: each polled device in one group, min(devices, parallelism) groups, balanced") {
    for (n <- Seq(1, 2, 4, 32, 33); p <- Seq(1, 2, 4, 8, 64)) {
      val equal = (0 until n).map(device(_, 25))
      checkAssignment(equal, p)
      // equal devices split evenly: group sizes differ by at most one
      val sizes = S7SimSource.assign(equal, p).map(_.size)
      assert(sizes.max - sizes.min <= 1, s"$n devices, parallelism $p: $sizes")
      checkAssignment((0 until n).map(i => device(i, 1 + (i * 7) % 13)), p)
    }
    // catalogs with zero-register PLCs: those get no group
    checkAssignment((0 until 33).map(i => device(i, if (i % 3 == 0) 0 else 5 + i % 4)), 4)
    checkAssignment(Seq(device(0, 0), device(1, 3)), 4)
    assert(S7SimSource.assign(Seq(device(0, 0), device(1, 0)), 4).isEmpty)
    // one heavy device keeps a group to itself
    assert(S7SimSource.assign(Seq(device(0, 100), device(1, 10), device(2, 10), device(3, 10)), 2)
      === Seq(Seq(device(0, 100)), Seq(device(1, 10), device(2, 10), device(3, 10))))
  }

  test("a 32-PLC micro-batch scans defaultParallelism input partitions") {
    val plcs = (0 until 32).map(i => s"10.0.$i.1")
    val parts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val q = Pipelines.s7DecodedStream(spark, plcs, tagsPerPlc = 3).writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) => parts += batch.rdd.getNumPartitions; () }
      .start()
    q.awaitTermination(60000)
    assert(parts.nonEmpty)
    assert(parts.forall(_ == math.min(32, spark.sparkContext.defaultParallelism)), parts)
  }
}
