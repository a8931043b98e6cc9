package graft.sources

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The one DataSourceV2 seat of the CDC stream sources: a provider is a
  * table name, its envelope schema and how to open the stream from the
  * read options. Spark instantiates providers by class name, so each
  * source is a no-argument subclass (`class CdcRateSource extends
  * MicroBatchSource(…)`) and `format("graft.sources.CdcRateSource")`
  * keeps working.
  */
class MicroBatchSource(tableName: String, schema: StructType,
    open: CaseInsensitiveStringMap => MicroBatchStream) extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = schema
  override def getTable(s: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    new Table with SupportsRead {
      override def name(): String = tableName
      override def schema(): StructType = MicroBatchSource.this.schema
      override def capabilities(): java.util.Set[TableCapability] =
        java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
      override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
        () => new Scan {
          override def readSchema(): StructType = MicroBatchSource.this.schema
          override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
            open(options)
        }
    }
  }
}

/** A CDC stream position: the source's own monotone sequence. */
final case class CdcOffset(seq: Long) extends Offset {
  override def json(): String = s"""{"seq":$seq}"""
}

object CdcOffset {
  private val SeqField = """"seq"\s*:\s*(-?\d+)""".r

  /** Fail LOUDLY on an unreadable position — silently restarting from
    * the configured start would replay history as duplicates. The seq
    * may be negative (a Kafka stream starting at offset 0 sits at -1).
    */
  def parse(json: String): CdcOffset =
    CdcOffset(SeqField.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(
      throw new IllegalArgumentException(s"unreadable CDC offset: '$json'")))
}

/** The shared tailer→micro-batch machinery behind the wire-backed CDC
  * sources ([[BinlogMicroBatchStream]], [[KafkaMicroBatchStream]],
  * [[OplogMicroBatchStream]]) —
  * the reference's position + sliding-window pattern (pkg/position_cache,
  * pkg/sliding_window) expressed once against the DataSourceV2
  * `MicroBatchStream` contract:
  *
  *  - ONE driver-side tailer thread drains the wire client into a
  *    bounded buffer (`maxBuffered` backpressure: the tailer blocks
  *    until a commit prunes);
  *  - offsets are the stream's own monotone positions (binlog logPos,
  *    oplog ts) — rows that share a position always travel in one batch;
  *  - `commit(end)` prunes ≤ end — the sliding-window ack;
  *  - resume re-tails from the CONFIGURED position and drops every row
  *    ≤ the checkpointed offset before it enters a batch: replayed
  *    history is absorbed, never duplicated (pair with the external
  *    position mirror to advance the configured start between runs);
  *  - AvailableNow = "drain what the tailer has": wait for a bounded
  *    tail to finish (or `drainWaitMs` / a full buffer on an unbounded
  *    one), pin the high-water mark, serve batches only up to it;
  *  - a tailer failure surfaces on the NEXT offset call as a query
  *    error — never a silent empty stream.
  *
  * Settings shared by every tailer, read from the source options:
  * `rowsPerBatch` (admission control, default 10000), `maxBuffered`
  * (backpressure bound, 100000), `partitions` (Spark-side slices, 2),
  * `drainWaitMs` (AvailableNow / re-tail wait, 30000).
  *
  * Subclasses provide the envelope type, its position, its InternalRow
  * rendering, and the tail loop itself; they MUST call [[startTailer]]
  * at the end of their constructor (the thread touches subclass fields).
  */
abstract class BufferedTailerStream[E <: AnyRef](
    startSeq: Long, options: CaseInsensitiveStringMap, threadName: String)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val rowsPerBatch = options.getInt("rowsPerBatch", 10000)
  private val maxBuffered = options.getInt("maxBuffered", 100000)
  private val numPartitions = options.getInt("partitions", 2)
  private val drainWaitMs = options.getLong("drainWaitMs", 30000L)

  /** The monotone stream position of one envelope row. */
  protected def seqOf(e: E): Long
  /** Render one envelope row for the scan. */
  protected def toRow(e: E): InternalRow
  /** The tail loop: pull from the wire, hand each row to `emit` (which
    * blocks on backpressure). Return on a bounded stream's EOF; throw to
    * fail the query.
    */
  protected def tail(emit: E => Unit): Unit
  /** Close the wire client (called from stop() and the tailer finally). */
  protected def closeClient(): Unit

  private val buffer = new java.util.ArrayDeque[E]()
  private val lock = new Object
  @volatile private var tailerDone = false
  @volatile private var tailerError: Throwable = null
  private var highWater = startSeq

  private lazy val tailerThread = new Thread(() => {
    try {
      tail { e =>
        lock.synchronized {
          while (buffer.size >= maxBuffered && !tailerDone) lock.wait(1000)
          if (!tailerDone) {
            buffer.addLast(e)
            if (seqOf(e) > highWater) highWater = seqOf(e)
            lock.notifyAll()
          }
        }
      }
    } catch {
      // EOFException is NOT a clean end: the genuine end-of-stream paths
      // (binlog 0xfe EOF packet, oplog cursor id 0) return normally, so
      // a mid-stream EOF means the peer or network died — surface it
      case t: Throwable => tailerError = t
    } finally {
      lock.synchronized { tailerDone = true; lock.notifyAll() }
      try closeClient() catch { case _: Exception => () }
    }
  }, threadName)

  /** Call LAST in the subclass constructor. */
  protected def startTailer(): Unit = {
    tailerThread.setDaemon(true)
    tailerThread.start()
  }

  private def raise(): Unit = {
    val t = tailerError
    if (t != null) throw new IllegalStateException(s"$threadName failed", t)
  }

  // AvailableNow: pin the high-water mark once the tail is done (or the
  // wait budget / buffer capacity is exhausted) and never serve past it
  @volatile private var availableNowTarget: Long = Long.MaxValue
  override def prepareForTriggerAvailableNow(): Unit = {
    val deadline = System.currentTimeMillis() + drainWaitMs
    lock.synchronized {
      while (!tailerDone && buffer.size < maxBuffered &&
          System.currentTimeMillis() < deadline) lock.wait(200)
      availableNowTarget = highWater
    }
  }

  override def initialOffset(): Offset = CdcOffset(startSeq)

  override def reportLatestOffset(): Offset = {
    raise()
    lock.synchronized(CdcOffset(highWater))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("admission-control form only")

  /** Drop buffered rows ≤ `upTo` (committed history / replayed resume
    * prefix) and wake a backpressured tailer. Caller holds `lock`.
    */
  private def pruneUpTo(upTo: Long): Unit = {
    var freed = false
    while (!buffer.isEmpty && seqOf(buffer.peekFirst()) <= upTo) {
      buffer.removeFirst(); freed = true
    }
    if (freed) lock.notifyAll()
  }

  /** Admission control: at most rowsPerBatch buffered rows past `start`
    * (rows sharing the end position ride along — positions, not row
    * counts, are the offset unit).
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    raise()
    val s = start.asInstanceOf[CdcOffset].seq
    lock.synchronized {
      // `start` is durable — anything at or below it is replayed
      // history; dropping it here both absorbs the replay and frees
      // buffer space so a backpressured re-tail can make progress
      pruneUpTo(s)
      var n = 0
      var end = s
      val it = buffer.iterator()
      while (it.hasNext && n < rowsPerBatch) {
        val e = it.next()
        val q = seqOf(e)
        if (q > s && q <= availableNowTarget) { n += 1; end = q }
      }
      CdcOffset(math.max(end, s))
    }
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def deserializeOffset(json: String): Offset = CdcOffset.parse(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    raise()
    val s = start.asInstanceOf[CdcOffset].seq
    val e = end.asInstanceOf[CdcOffset].seq
    if (e <= s) return Array.empty
    val slice = lock.synchronized {
      // CRASH RECOVERY: this batch may be restored from the offset WAL
      // on a fresh instance whose tailer is still re-tailing toward it.
      // Serving only what happens to be buffered would commit an EMPTY
      // batch and permanently lose the rows (they'd later be absorbed as
      // replayed history) — so wait until the tailer has re-reached
      // `end`, pruning the committed prefix as it streams in so a full
      // buffer can't wedge the refill. Fail LOUDLY if it can't get
      // there: an unrecoverable position must never be silent data loss.
      val deadline = System.currentTimeMillis() + drainWaitMs
      while (highWater < e && !tailerDone &&
          System.currentTimeMillis() < deadline) {
        raise()
        pruneUpTo(s)
        lock.wait(200)
      }
      raise()
      pruneUpTo(s)
      if (highWater < e)
        throw new IllegalStateException(
          s"$threadName cannot re-reach restored offset $e " +
            s"(high water $highWater, tailer done: $tailerDone) — " +
            "the upstream log may have been purged past the checkpoint")
      // rows in (s, e]; anything ≤ s is replayed history (resume) — absorbed
      val b = Seq.newBuilder[E]
      val it = buffer.iterator()
      while (it.hasNext) {
        val r = it.next()
        if (seqOf(r) > s && seqOf(r) <= e) b += r
      }
      b.result()
    }
    if (slice.isEmpty) return Array.empty
    val per = math.max(1, (slice.size + numPartitions - 1) / numPartitions)
    slice.grouped(per).map(g => TailerSlice(g.map(toRow)): InputPartition).toArray
  }

  /** The ack of the reference's sliding window: prune ≤ end. */
  override def commit(end: Offset): Unit =
    lock.synchronized(pruneUpTo(end.asInstanceOf[CdcOffset].seq))

  override def stop(): Unit = {
    lock.synchronized { tailerDone = true; lock.notifyAll() }
    try closeClient() catch { case _: Exception => () }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val rows = p.asInstanceOf[TailerSlice].rows
        new PartitionReader[InternalRow] {
          private var i = -1
          override def next(): Boolean = { i += 1; i < rows.size }
          override def get(): InternalRow = rows(i)
          override def close(): Unit = ()
        }
      }
    }
}

/** Rows rendered driver-side at planning time: InternalRow of primitives
  * + UTF8String + map data, all serializable to the (in-process) reader.
  */
final case class TailerSlice(rows: Seq[InternalRow]) extends InputPartition
