package bench

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Row-index source for the streaming workloads: every row is one `value`
  * (0, 1, 2, ...); the workload derives its records from `value` and the
  * seed with column expressions, so the same seed gives the same records.
  * Each micro-batch is split into `numPartitions` ranges.
  *
  * A query starts in closed mode: every trigger takes the next
  * `rowsPerBatch` rows (the first takes `firstBatchRows`), so under a
  * zero-interval trigger fixed-size batches run back to back. After
  * [[ScheduledSource.startSchedule]] the source switches to a fixed
  * schedule: slot k (`slotRows` rows) is due at t0 + k·`slotMs`, and a
  * trigger takes every row already due. A stalled batch leaves rows
  * waiting, so the stall shows up as latency of those rows and the next
  * trigger catches up: the generator never slows down with the system.
  */
final class ScheduledSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = ScheduledSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = new ScheduledSource.RowTable(
    new CaseInsensitiveStringMap(properties))
}

object ScheduledSource {
  val schema: StructType = StructType(Seq(StructField("value", LongType, nullable = false)))

  /** Start of the schedule: the first scheduled row and the wall-clock
    * time (epoch ms) slot 0 was due. */
  final case class Schedule(baseRow: Long, t0Ms: Long, slotMs: Long) {
    def dueMs(slot: Long): Long = t0Ms + slot * slotMs
  }

  // tag -> None once a schedule is requested, Some once it has started
  private val schedules = new java.util.concurrent.ConcurrentHashMap[String, Option[Schedule]]()

  /** Switches the query reading with option `tag` to its schedule at its
    * next trigger. */
  def startSchedule(tag: String): Unit = schedules.putIfAbsent(tag, None)
  def schedule(tag: String): Option[Schedule] = Option(schedules.get(tag)).flatten

  final case class RowOffset(rows: Long) extends Offset {
    override def json(): String = rows.toString
  }

  final case class RowRange(start: Long, end: Long) extends InputPartition

  private final class RowTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
    override def name(): String = "bench-rows"
    override def schema(): StructType = ScheduledSource.schema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
    override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder = () => new Scan {
      override def readSchema(): StructType = ScheduledSource.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new RowStream(options)
    }
  }

  private final class RowStream(options: CaseInsensitiveStringMap)
      extends MicroBatchStream with SupportsAdmissionControl {
    private def need(k: String): String =
      Option(options.get(k)).getOrElse(throw new IllegalArgumentException(s"option $k is required"))
    private val rows = need("rowsPerBatch").toLong
    private val firstRows = need("firstBatchRows").toLong
    private val slotRows = need("slotRows").toLong
    private val slotMs = need("slotMs").toLong
    private val parts = need("numPartitions").toInt
    private val tag = need("tag")

    override def initialOffset(): Offset = RowOffset(0L)
    override def deserializeOffset(json: String): Offset = RowOffset(json.trim.toLong)
    override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
    override def latestOffset(): Offset =
      throw new UnsupportedOperationException("latestOffset(start, limit) is used")

    override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
      val from = start.asInstanceOf[RowOffset].rows
      schedules.get(tag) match {
        case null => RowOffset(from + (if (from == 0L) firstRows else rows))
        case sched =>
          val now = System.currentTimeMillis()
          val s = sched.getOrElse {
            val fresh = Schedule(from, now / slotMs * slotMs, slotMs)
            schedules.put(tag, Some(fresh))
            fresh
          }
          RowOffset(math.max(from, s.baseRow + ((now - s.t0Ms) / slotMs + 1) * slotRows))
      }
    }

    override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
      val a = start.asInstanceOf[RowOffset].rows
      val b = end.asInstanceOf[RowOffset].rows
      (0 until parts).map { i =>
        RowRange(a + (b - a) * i / parts, a + (b - a) * (i + 1) / parts): InputPartition
      }.toArray
    }

    override def createReaderFactory(): PartitionReaderFactory = RowReaderFactory
    override def commit(end: Offset): Unit = ()
    override def stop(): Unit = ()
  }

  private object RowReaderFactory extends PartitionReaderFactory {
    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val r = p.asInstanceOf[RowRange]
      new PartitionReader[InternalRow] {
        private var cur = r.start - 1
        private val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
        override def next(): Boolean = { cur += 1; cur < r.end }
        override def get(): InternalRow = { row.setLong(0, cur); row }
        override def close(): Unit = ()
      }
    }
  }
}
