package graft.sources

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A REAL DataSourceV2 `MicroBatchStream` CDC source — the custom-source
  * seat SURVEY §4 calls out ("offsets = GTID/file-pos/oplog-ts"): the
  * production shape a binlog/oplog tailer plugs into, exercised here with
  * a deterministic generator so offset semantics are testable without a
  * database. The reference's positionCache + sliding-window commit
  * machinery (pkg/position_cache, pkg/sliding_window) maps to exactly
  * this API: `latestOffset` = what the tailer has, `planInputPartitions
  * (start, end)` = the change range of one micro-batch, checkpointed
  * offsets = the durable position, `commit` = the ack.
  *
  * Options: `maxSeq` (stream ends; bounded like a backfill), `rowsPerBatch`
  * (micro-batch size ≙ scan rate limit), `numKeys`, `partitions`.
  * Emits the typed envelope (seq, op, database, table, id, v): op cycles
  * insert/update/delete deterministically per seq, so every run and every
  * resume-from-checkpoint produces the identical change-log.
  *
  * Usage: `spark.readStream.format("graft.sources.CdcRateSource").load()`.
  */
class CdcRateSource extends MicroBatchSource("graft-cdc-rate",
  CdcRateSource.schema, new CdcRateStream(_))

object CdcRateSource {
  val schema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("database", StringType, nullable = false),
    StructField("table", StringType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("v", StringType, nullable = false)))

  /** Deterministic row for a sequence number (shared by all readers). */
  def rowFor(seq: Long, numKeys: Long): InternalRow = {
    val op = (seq % 10) match {
      case 7 | 8 => "update"
      case 9 => "delete"
      case _ => "insert"
    }
    InternalRow(
      seq,
      UTF8String.fromString(op),
      UTF8String.fromString("db" + (seq % 2)),
      UTF8String.fromString("t"),
      seq % numKeys,
      UTF8String.fromString(s"v$seq"))
  }
}

final class CdcRateStream(options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val maxSeq = options.getLong("maxSeq", 1000L)
  private val rowsPerBatch = options.getLong("rowsPerBatch", 100L)
  private val numKeys = options.getLong("numKeys", 10L)
  private val numPartitions = options.getInt("partitions", 2)

  // the "tailer position": what the source could serve right now. With
  // AvailableNow the whole bounded range is the target (backfill shape);
  // otherwise each poll advances by rowsPerBatch (rate-limit shape).
  private var available: Long = 0L
  private var availableNow = false

  override def prepareForTriggerAvailableNow(): Unit = { availableNow = true }
  override def reportLatestOffset(): Offset = CdcOffset(maxSeq)

  override def initialOffset(): Offset = CdcOffset(0L)
  override def latestOffset(): Offset = {
    available = if (availableNow) maxSeq else math.min(available + rowsPerBatch, maxSeq)
    CdcOffset(available)
  }
  // admission-control form (SupportsTriggerAvailableNow extends it): the
  // start offset comes from the checkpoint, so resumed queries advance
  // from the durable position rather than this instance's counter. The
  // rowsPerBatch rate limit holds under AvailableNow too — the wrapper
  // keeps triggering micro-batches until the prepared end, so a drain is
  // N bounded batches, never one unbounded catch-up batch
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[CdcOffset].seq
    available = math.min(s + rowsPerBatch, maxSeq)
    CdcOffset(available)
  }
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()
  override def deserializeOffset(json: String): Offset = CdcOffset.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[CdcOffset].seq, end.asInstanceOf[CdcOffset].seq)
    val span = e - s
    if (span <= 0) return Array.empty
    val per = math.max(1L, (span + numPartitions - 1) / numPartitions)
    (0 until numPartitions).flatMap { i =>
      val lo = s + i * per
      val hi = math.min(e, lo + per)
      if (lo >= e) None else Some(CdcRange(lo, hi, numKeys): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val r = p.asInstanceOf[CdcRange]
        new PartitionReader[InternalRow] {
          private var cur = r.from - 1
          override def next(): Boolean = { cur += 1; cur < r.until }
          override def get(): InternalRow = CdcRateSource.rowFor(cur, r.numKeys)
          override def close(): Unit = ()
        }
      }
    }
}

final case class CdcRange(from: Long, until: Long, numKeys: Long) extends InputPartition
