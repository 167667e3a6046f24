package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.S7

import java.util
import scala.jdk.CollectionConverters._

/** DSv2 MicroBatchStream source simulating Snap7 PLC polling — SURVEY.md
  * §2.1 S2 (ref read loop: Linux/InfluxConnector2.py:142-170; connect
  * :97-109). There is no real device in this container, so the "driver"
  * synthesizes deterministic raw S7 buffers; everything from the buffer
  * onward (schema, partitioning, decode via the DecodeS7 expression) is
  * the real pipeline.
  *
  * Scale/partitioning: the reference runs one OS process per PLC
  * (InfluxConnector2.py:288-291, README.md:71); here the devices are the
  * partitions of one source. A micro-batch plans min(devices with
  * registers, `defaultParallelism`) input partitions, each a fixed group
  * of devices balanced by register count ([[S7SimSource.assign]]), so a
  * batch is a few well-sized tasks however large the fleet, and each
  * device is still polled by exactly one task (no shared-client locks,
  * ref :143-145).
  *
  * What each device polls is its register list ([[S7SimDevice]]). With
  * the `catalog` option (the XML tag catalog, parsed by
  * [[ConfigXml.parseString]]) the list is the catalog's ACTIVE tags, each
  * read under its alias — the reference's load-time P1 filter and alias
  * naming (InfluxConnector2.py:263-264, :222-240), so enrichment needs no
  * join downstream. Without it, `plcs` × `tagsPerPlc` registers are
  * polled under their [[S7SimSource.register]] names. The two ways are
  * exclusive: `catalog` together with `plcs` or `tagsPerPlc` is an error.
  *
  * Offsets are tick counters, so restart-from-checkpoint replays exactly
  * the missed ticks (T10 fault recovery).
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft.sources.S7SimSource")
  *     .option("plcs", "10.0.0.1,10.0.0.2").option("tagsPerPlc", "4")
  *     .load()
  *   spark.readStream.format("graft.sources.S7SimSource")
  *     .option("catalog", configXml).load()
  * }}}
  * Schema: ts TIMESTAMP, plc STRING, alias STRING, buf BINARY,
  *         type_code INT, bit INT.
  */
class S7SimSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = S7SimSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // getTable receives a case-PRESERVING map; wrap it so option("tagsPerPlc")
    // and option("tagsperplc") both resolve.
    val opts = new CaseInsensitiveStringMap(properties)
    def intOpt(key: String, default: String): Int =
      try opts.getOrDefault(key, default).trim.toInt
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"s7sim: option '$key' must be an integer, got '${opts.get(key)}'") }
    val devices =
      if (opts.containsKey("catalog")) {
        val given = Seq("plcs", "tagsPerPlc").filter(k => opts.containsKey(k))
        require(given.isEmpty, s"s7sim: option 'catalog' names the devices and their " +
          s"registers; it cannot be combined with ${given.map(k => s"'$k'").mkString(" or ")}")
        val tags = ConfigXml.parseString(opts.get("catalog"))
        require(tags.nonEmpty,
          "s7sim: the catalog declares no <plc>/<data> tags — nothing to poll " +
            "(check the config document; ref create_my_data_groups, InfluxConnector2.py:250-270)")
        S7SimSource.catalogDevices(tags)
      } else {
        val plcs = opts.getOrDefault("plcs", "10.0.0.1,10.0.0.2")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(plcs.nonEmpty, "s7sim: option 'plcs' must name at least one device ip")
        S7SimSource.defaultDevices(plcs, intOpt("tagsperplc", "4"))
      }
    new S7SimTable(devices, intOpt("intervalms", "1000").toLong, intOpt("ticksperpoll", "1").toLong)
  }
}

/** One polled register: its position among all of its PLC's tags
  * (inactive ones included), which fixes the value it reads, and the name
  * its samples carry in the `alias` column.
  */
private[sources] case class S7SimRegister(idx: Int, alias: String)

/** A device and the registers it polls; `plcIdx` is the device's index
  * among all devices of the source.
  */
private[sources] case class S7SimDevice(plc: String, plcIdx: Int, registers: Seq[S7SimRegister])

object S7SimSource {
  val Schema: StructType = StructType(Seq(
    StructField("ts", TimestampType, nullable = false),
    StructField("plc", StringType, nullable = false),
    StructField("alias", StringType, nullable = false),
    StructField("buf", BinaryType, nullable = false),
    StructField("type_code", IntegerType, nullable = false),
    StructField("bit", IntegerType, nullable = false)))

  /** Fixed epoch base (2024-01-01T00:00Z) in micros — deterministic event time. */
  val BaseMicros: Long = 1704067200000000L

  private val TypeCycle = Array(S7.WLReal, S7.WLWord, S7.WLDWord, S7.WLBit)

  /** The register name (the `alias` column) of tag `tagIdx` on device `plc`. */
  def register(plc: String, tagIdx: Int): String = s"${plc}_tag$tagIdx"

  /** `tagsPerPlc` registers on each of `plcs`, all polled under their
    * [[register]] names; `plcIdx` is the position in `plcs`.
    */
  private[sources] def defaultDevices(plcs: Seq[String], tagsPerPlc: Int): Seq[S7SimDevice] =
    plcs.zipWithIndex.map { case (plc, idx) =>
      S7SimDevice(plc, idx, (0 until tagsPerPlc).map(i => S7SimRegister(i, register(plc, i))))
    }

  /** The catalog's devices: `plcIdx` is the index in the sorted distinct
    * PLC list, and each PLC polls its active tags, each at its position
    * among all of that PLC's tags in document order.
    */
  private[sources] def catalogDevices(tags: Seq[TagConfig]): Seq[S7SimDevice] = {
    val byPlc = tags.groupBy(_.plc) // keeps document order within a PLC
    byPlc.keys.toSeq.sorted.zipWithIndex.map { case (plc, idx) =>
      S7SimDevice(plc, idx, byPlc(plc).zipWithIndex.collect {
        case (t, i) if t.active => S7SimRegister(i, t.alias)
      })
    }
  }

  /** The devices each input partition polls: the devices with registers
    * in min(their number, `parallelism`) non-empty groups, balanced by
    * register count (the rows a device yields per tick). Largest device
    * first, each to the group with the fewest registers so far (the lower
    * index on a tie), so no group exceeds another by more than one
    * device's registers; a group lists its devices by `plcIdx`. The same
    * input always gives the same groups.
    */
  private[sources] def assign(devices: Seq[S7SimDevice], parallelism: Int): Seq[Seq[S7SimDevice]] = {
    val polled = devices.filter(_.registers.nonEmpty)
    val n = math.min(polled.size, parallelism)
    val groups = Array.fill(n)(Vector.empty[S7SimDevice])
    val load = new Array[Long](n)
    polled.sortBy(d => (-d.registers.size, d.plcIdx)).foreach { d =>
      val g = load.indices.minBy(i => (load(i), i))
      groups(g) :+= d
      load(g) += d.registers.size
    }
    groups.toSeq.map(_.sortBy(_.plcIdx))
  }

  /** The S7 type code register `tagIdx` reads as. */
  def typeCode(tagIdx: Int): Int = TypeCycle(tagIdx % 4)

  /** The bit a bit-typed register reads (0 for the other types). */
  def bit(tagIdx: Int): Int = if (typeCode(tagIdx) == S7.WLBit) tagIdx % 8 else 0

  /** Deterministic raw buffer of register `tagIdx` on device `plcIdx` at `tick`. */
  def buffer(tick: Long, plcIdx: Int, tagIdx: Int): Array[Byte] = typeCode(tagIdx) match {
    case S7.WLReal  => S7.encodeReal(((tick * 31 + tagIdx * 7) % 1000) / 10.0f)
    case S7.WLWord  => S7.encodeWord((((tick * 13 + tagIdx) % 65536) - 32768).toShort)
    case S7.WLDWord => S7.encodeDWord(tick * (tagIdx + 1) + plcIdx)
    case _          => S7.encodeBits(((tick + tagIdx) % 256).toInt)
  }

  /** Deterministic "device register" for (tick, plcIdx, tagIdx): buffer,
    * type code and bit.
    */
  def sample(tick: Long, plcIdx: Int, tagIdx: Int): (Array[Byte], Int, Int) =
    (buffer(tick, plcIdx, tagIdx), typeCode(tagIdx), bit(tagIdx))
}

private[sources] class S7SimTable(devices: Seq[S7SimDevice], intervalMs: Long,
    ticksPerPoll: Long = 1L)
    extends Table with SupportsRead {
  override def name(): String = s"s7sim(${devices.map(_.plc).mkString(",")})"
  override def schema(): StructType = S7SimSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = S7SimSource.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new S7SimMicroBatchStream(
            S7SimSource.assign(devices, SparkSession.active.sparkContext.defaultParallelism),
            intervalMs, ticksPerPoll)
      }
    }
}

private[sources] case class TickOffset(tick: Long) extends Offset {
  override def json(): String = tick.toString
}

/** `groups` are the devices each input partition polls, as
  * [[S7SimSource.assign]] planned them; every micro-batch reuses them.
  */
private[sources] class S7SimMicroBatchStream(groups: Seq[Seq[S7SimDevice]], intervalMs: Long,
    ticksPerPoll: Long = 1L)
    extends MicroBatchStream with SupportsAdmissionControl {
  // `ticksPerPoll` simulated ticks become available per latestOffset poll
  // (default 1; StreamBench raises it to form substantial batches). The
  // admission-control variant receives the start offset, so a query
  // restarted from a checkpoint resumes the tick sequence exactly where
  // the committed offset left it (T10) — no replayed duplicates, no
  // skipped ticks.
  private var latest = 0L

  private def tickOf(o: Offset): Long = o match {
    case TickOffset(t) => t
    case other         => other.json().toLong
  }

  override def latestOffset(): Offset = { latest += ticksPerPoll; TickOffset(latest) }
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    latest = math.max(latest, tickOf(start)) + ticksPerPoll
    TickOffset(latest)
  }
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def initialOffset(): Offset = TickOffset(0L)
  override def deserializeOffset(json: String): Offset = {
    val t = json.toLong
    latest = math.max(latest, t)
    TickOffset(t)
  }
  override def commit(end: Offset): Unit =
    latest = math.max(latest, tickOf(end))
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (tickOf(start), tickOf(end))
    groups.map(g => S7SimPartition(g, s, e, intervalMs): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => new S7SimReader(partition.asInstanceOf[S7SimPartition])
}

private[sources] case class S7SimPartition(
    devices: Seq[S7SimDevice], startTick: Long, endTick: Long, intervalMs: Long)
  extends InputPartition

/** Walks each device of the partition in turn, and each device's register
  * list once per tick. Everything but the buffer depends only on the
  * device, the register or the tick, so it is built once per device or per
  * tick; a row allocates only its buffer and its value array.
  */
private[sources] class S7SimReader(p: S7SimPartition) extends PartitionReader[InternalRow] {
  private val devices = p.devices.iterator
  private var plcIdx = 0
  private var regs = Array.emptyIntArray
  private var plc: UTF8String = _
  private var aliases: Array[UTF8String] = _
  private var typeCodes: Array[Int] = _
  private var bits: Array[Int] = _
  private var tick = p.endTick // no device yet: the first next() starts one
  private var ts: Any = null // boxed once per tick
  private var r = -1

  private def micros(t: Long): Long = S7SimSource.BaseMicros + t * p.intervalMs * 1000L

  private def start(d: S7SimDevice): Unit = {
    plcIdx = d.plcIdx
    regs = d.registers.map(_.idx).toArray
    plc = UTF8String.fromString(d.plc)
    aliases = d.registers.map(r => UTF8String.fromString(r.alias)).toArray
    typeCodes = regs.map(S7SimSource.typeCode)
    bits = regs.map(S7SimSource.bit)
    tick = p.startTick
    ts = micros(tick)
    r = 0
  }

  override def next(): Boolean = {
    r += 1
    if (r >= regs.length) { r = 0; tick += 1; ts = micros(tick) }
    // a device's last tick is done: the next device starts at the first
    // tick (planning gives no device without registers)
    while (tick >= p.endTick && devices.hasNext) start(devices.next())
    tick < p.endTick
  }

  override def get(): InternalRow =
    new GenericInternalRow(Array[Any](ts, plc, aliases(r),
      S7SimSource.buffer(tick, plcIdx, regs(r)), typeCodes(r), bits(r)))

  override def close(): Unit = ()
}
