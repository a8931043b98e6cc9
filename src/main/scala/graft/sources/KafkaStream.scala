package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The WIRE-BACKED Kafka input: [[graft.sinks.KafkaWire.KafkaWireConsumer]]
  * long-poll fetching ONE (topic, partition) in the `MicroBatchStream`
  * seat — the consumer half of the reference's tidbkafka input
  * (pkg/inputs/mysqlbinlog — sarama consumer feeding the binlog-proto /
  * JSON decoders). Offsets are Kafka's own per-partition offsets (the
  * natural monotone position), so the checkpoint IS the consumer-group
  * offset store. A topic with N partitions is N source instances
  * unioned — per-partition order is all Kafka guarantees anyway.
  *
  * The payload stays raw (key/value strings): decoding (tidb JSON
  * v0.1/2.0, binlog protobuf) is the downstream operators' job
  * ([[KafkaCdc]], [[TidbProto]]), same separation as the reference.
  *
  * Options (case-insensitive): `host`, `port`, `topic`, `partition`,
  * `offset` (first offset to read, default 0), `stopAtHighWater`
  * (bounded drain: end the tail when the fetch catches up — the
  * AvailableNow shape), `rowsPerBatch`, `maxBuffered`, `partitions`
  * (Spark-side slice parallelism), `drainWaitMs`, `pollWaitMs`.
  */
class KafkaStreamSource extends MicroBatchSource("graft-kafka-stream",
  KafkaStreamSource.schema, new KafkaMicroBatchStream(_))

object KafkaStreamSource {
  val schema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false), // the Kafka offset
    StructField("partition", IntegerType, nullable = false),
    StructField("key", StringType, nullable = true),
    StructField("value", StringType, nullable = true)))
}

final case class KafkaRecord(offset: Long, partition: Int,
    key: String, value: String)

final class KafkaMicroBatchStream(options: CaseInsensitiveStringMap)
    extends BufferedTailerStream[KafkaRecord](
      // seq = offset and offset 0 is a real record: start one BELOW the
      // first offset to read so the (start, end] window includes it
      startSeq = options.getLong("offset", 0L) - 1L,
      options = options,
      threadName = "graft-kafka-tailer") {

  private val host = {
    val h = options.get("host")
    require(h != null && h.nonEmpty, "kafka stream: option 'host' is required")
    h
  }
  private val port = options.getInt("port", 9092)
  private val topic = {
    val t = options.get("topic")
    require(t != null && t.nonEmpty, "kafka stream: option 'topic' is required")
    t
  }
  private val partition = options.getInt("partition", 0)
  private val startOffset = options.getLong("offset", 0L)
  private val stopAtHighWater = options.getBoolean("stopAtHighWater", false)
  private val pollWaitMs = options.getInt("pollWaitMs", 500)

  private val client = new graft.sinks.KafkaWire.KafkaWireConsumer(host, port,
    // fetch dialect: 2 (sarama-era default) or 4 (the 4.x-broker floor)
    fetchVersion = options.getInt("fetchVersion", 2),
    sasl = Option(options.get("saslUser")).filter(_.nonEmpty).map(u =>
      (u, Option(options.get("saslPassword")).getOrElse(""),
        Option(options.get("saslMechanism")).getOrElse("SCRAM-SHA-256"))),
    // an SSL/SASL_SSL listener: the truststore must hold the broker cert
    tls = Tls.fromOptions(options))

  override protected def seqOf(e: KafkaRecord): Long = e.offset

  override protected def toRow(r: KafkaRecord): InternalRow =
    InternalRow(r.offset, r.partition,
      if (r.key == null) null else UTF8String.fromString(r.key),
      if (r.value == null) null else UTF8String.fromString(r.value))

  override protected def tail(emit: KafkaRecord => Unit): Unit = {
    client.connect()
    var next = startOffset
    var caughtUp = false
    var fetchBytes = 1 << 20
    val maxFetchBytes = 1 << 26 // 64 MiB: hard cap, then fail loudly
    while (!caughtUp || !stopAtHighWater) {
      val (hw, records) = client.poll(topic, partition, next, pollWaitMs,
        maxBytes = fetchBytes)
      records.foreach { case (off, k, v) =>
        emit(KafkaRecord(off, partition,
          if (k == null) null else new String(k, "UTF-8"),
          if (v == null) null else new String(v, "UTF-8")))
        next = off + 1
      }
      if (records.nonEmpty) fetchBytes = 1 << 20 // progress: reset
      else if (hw > next) {
        // data exists but none parsed: the record at `next` is larger
        // than the fetch size (v2 brokers return a truncated partial).
        // Grow and retry instead of busy-spinning at the same offset
        // forever; past the cap, fail loudly.
        if (fetchBytes >= maxFetchBytes) sys.error(
          s"kafka: record at offset $next exceeds max fetch size $maxFetchBytes")
        fetchBytes = math.min(fetchBytes * 2, maxFetchBytes)
      }
      caughtUp = next >= hw
      // the broker already held the request max_wait_ms when empty —
      // no client-side sleep needed
    }
  }

  override protected def closeClient(): Unit = client.close()

  startTailer()
}
