package graft.sources

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
  * Scale/partitioning: ONE InputPartition PER PLC per micro-batch — the
  * Spark-native form of the reference's process-per-PLC model
  * (InfluxConnector2.py:288-291, README.md:71): devices poll in parallel
  * across executors, each partition owning its device connection
  * exclusively (no shared-client locks, ref :143-145).
  *
  * Offsets are tick counters, so restart-from-checkpoint replays exactly
  * the missed ticks (T10 fault recovery).
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft.sources.S7SimSource")
  *     .option("plcs", "10.0.0.1,10.0.0.2").option("tagsPerPlc", "4")
  *     .load()
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
    val plcs = opts.getOrDefault("plcs", "10.0.0.1,10.0.0.2")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(plcs.nonEmpty, "s7sim: option 'plcs' must name at least one device ip")
    def intOpt(key: String, default: String): Int =
      try opts.getOrDefault(key, default).trim.toInt
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"s7sim: option '$key' must be an integer, got '${opts.get(key)}'") }
    new S7SimTable(plcs, intOpt("tagsperplc", "4"), intOpt("intervalms", "1000").toLong,
      intOpt("ticksperpoll", "1").toLong)
  }
}

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

  /** Deterministic "device register" for (tick, plcIdx, tagIdx). */
  def sample(tick: Long, plcIdx: Int, tagIdx: Int): (Array[Byte], Int, Int) = {
    TypeCycle(tagIdx % 4) match {
      case S7.WLReal  => (S7.encodeReal(((tick * 31 + tagIdx * 7) % 1000) / 10.0f), S7.WLReal, 0)
      case S7.WLWord  => (S7.encodeWord((((tick * 13 + tagIdx) % 65536) - 32768).toShort), S7.WLWord, 0)
      case S7.WLDWord => (S7.encodeDWord(tick * (tagIdx + 1) + plcIdx), S7.WLDWord, 0)
      case _          => (S7.encodeBits(((tick + tagIdx) % 256).toInt), S7.WLBit, (tagIdx % 8))
    }
  }
}

private[sources] class S7SimTable(plcs: Seq[String], tagsPerPlc: Int, intervalMs: Long,
    ticksPerPoll: Long = 1L)
    extends Table with SupportsRead {
  override def name(): String = s"s7sim(${plcs.mkString(",")})"
  override def schema(): StructType = S7SimSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = S7SimSource.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new S7SimMicroBatchStream(plcs, tagsPerPlc, intervalMs, ticksPerPoll)
      }
    }
}

private[sources] case class TickOffset(tick: Long) extends Offset {
  override def json(): String = tick.toString
}

private[sources] class S7SimMicroBatchStream(plcs: Seq[String], tagsPerPlc: Int, intervalMs: Long,
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
    // Process-per-PLC → partition-per-PLC: each device polls independently.
    plcs.zipWithIndex.map { case (plc, idx) =>
      S7SimPartition(plc, idx, tagsPerPlc, s, e, intervalMs): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => new S7SimReader(partition.asInstanceOf[S7SimPartition])
}

private[sources] case class S7SimPartition(
    plc: String, plcIdx: Int, tagsPerPlc: Int, startTick: Long, endTick: Long, intervalMs: Long)
  extends InputPartition

private[sources] class S7SimReader(p: S7SimPartition) extends PartitionReader[InternalRow] {
  private var tick = p.startTick
  private var tag = -1
  // the names repeat every tick: encode them once per partition
  private val plc = UTF8String.fromString(p.plc)
  private val aliases = Array.tabulate(p.tagsPerPlc)(i =>
    UTF8String.fromString(S7SimSource.register(p.plc, i)))

  override def next(): Boolean = {
    tag += 1
    if (tag >= p.tagsPerPlc) { tag = 0; tick += 1 }
    tick < p.endTick
  }

  override def get(): InternalRow = {
    val (buf, typeCode, bit) = S7SimSource.sample(tick, p.plcIdx, tag)
    new GenericInternalRow(Array[Any](
      S7SimSource.BaseMicros + tick * p.intervalMs * 1000L, plc, aliases(tag), buf, typeCode, bit))
  }

  override def close(): Unit = ()
}
