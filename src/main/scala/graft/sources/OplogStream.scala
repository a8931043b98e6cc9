package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The WIRE-BACKED Mongo CDC streaming source: [[MongoWire.MongoClient]]
  * tailing `local.oplog.rs` in the `MicroBatchStream` seat — the
  * reference's mongo-stream input (pkg/inputs/mongostream/
  * oplog_tailer.go:95-226) with its delta posture intact:
  * UpdateDataAsDelta rides `$set` partial images through `data` and
  * `$unset` keys through `unset`; replacement updates carry the full new
  * document. Offsets are the oplog's own total order,
  * seq = (ts.seconds << 32) | ts.inc; the resume filter is SERVER-side
  * (`find {ts: {$gt: configured}}`) and any overlap beyond that is
  * absorbed client-side by the checkpointed offset — the
  * [[BufferedTailerStream]] contract.
  *
  * Options (case-insensitive): `host`, `port`, `afterSec`/`afterInc`
  * (start timestamp, exclusive), `rowsPerBatch`, `maxBuffered`,
  * `partitions`, `drainWaitMs`.
  *
  * Usage: `spark.readStream.format("graft.sources.OplogStreamSource")
  * .option("host", …).load()`.
  */
class OplogStreamSource extends MicroBatchSource("graft-oplog-stream",
  OplogStreamSource.schema, new OplogMicroBatchStream(_))

object OplogStreamSource {
  /** Enveloped oplog change: `table` carries the collection name so the
    * filter/router surface (which matches on database/table) applies
    * unchanged; `unset` lists keys a delta update removed.
    */
  val schema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("database", StringType, nullable = false),
    StructField("table", StringType, nullable = false),
    StructField("id", StringType, nullable = false),
    StructField("data", MapType(StringType, StringType), nullable = false),
    StructField("unset", ArrayType(StringType), nullable = false)))
}

final class OplogMicroBatchStream(options: CaseInsensitiveStringMap)
    extends BufferedTailerStream[MongoWire.OplogChange](
      startSeq = (options.getLong("afterSec", 0L) << 32) |
        (options.getLong("afterInc", 0L) & 0xffffffffL),
      options = options,
      threadName = "graft-oplog-tailer") {

  private val host = {
    val h = options.get("host")
    require(h != null && h.nonEmpty, "oplog stream: option 'host' is required")
    h
  }
  private val port = options.getInt("port", 27017)
  private val afterTs = MongoWire.BVal.BTs(
    options.getLong("afterSec", 0L), options.getLong("afterInc", 0L))

  private val client = new MongoWire.MongoClient(host, port,
    // tlsMode=requireTLS deployments: truststore holds the mongod cert
    tls = Tls.fromOptions(options),
    // networkMessageCompressors: offered in the hello, first server-
    // accepted one compresses the cursor traffic both ways
    compressors = Option(options.get("compressors")).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))

  // SCRAM credentials: a deployment with auth enabled (the mongod
  // default since 3.0 for exposed binds) sets user/password; mechanism
  // and authSource mirror the driver-URI option names
  private val authUser = options.get("user")
  private val authPassword = Option(options.get("password")).getOrElse("")
  private val authMechanism =
    Option(options.get("authMechanism")).getOrElse("SCRAM-SHA-256")
  private val authSource = Option(options.get("authSource")).getOrElse("admin")

  override protected def seqOf(e: MongoWire.OplogChange): Long = e.seq

  override protected def toRow(r: MongoWire.OplogChange): InternalRow =
    InternalRow(r.seq, UTF8String.fromString(r.op),
      UTF8String.fromString(r.database), UTF8String.fromString(r.collection),
      UTF8String.fromString(r.id), BinlogStreamSource.mapData(r.data),
      new GenericArrayData(r.unsetKeys.map(UTF8String.fromString).toArray[Any]))

  override protected def tail(emit: MongoWire.OplogChange => Unit): Unit = {
    client.connect()
    if (authUser != null && authUser.nonEmpty)
      client.authenticate(authUser, authPassword, authMechanism, authSource)
    MongoWire.oplogChanges(client.tailOplog(afterTs)).foreach(emit)
  }

  override protected def closeClient(): Unit = client.close()

  startTailer()
}
