package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The WIRE-BACKED CDC streaming source: [[BinlogWire.BinlogClient]]
  * plugged into the DataSourceV2 `MicroBatchStream` seat that
  * [[CdcRateSource]] proves with a generator — together they are the
  * reference's mysql-stream input (pkg/inputs/mysqlstream/
  * binlog_tailer.go:153-577 + the position/sliding-window machinery).
  * The buffering/offset/commit/backpressure contract lives in
  * [[BufferedTailerStream]]; this class contributes the wire client,
  * the schema-store seat (column names/pks per table), and the
  * envelope rendering.
  *
  * Options (case-insensitive): `host`, `port`, `user`, `password`,
  * `file`, `pos`, `serverId`, `rowsPerBatch` (admission control),
  * `maxBuffered` (backpressure bound), `partitions`, `drainWaitMs`
  * (AvailableNow wait), and per-table column names / pks:
  * `names.<db>.<table>` = "c1,c2,…", `pks.<db>.<table>` = "c1[,c2]"
  * (binlog row events carry positional values only — names live in the
  * schema store, exactly why the reference pairs its tailer with one).
  *
  * Usage: `spark.readStream.format("graft.sources.BinlogStreamSource")
  * .option("host", …).load()`.
  */
class BinlogStreamSource extends MicroBatchSource("graft-binlog-stream",
  BinlogStreamSource.schema, new BinlogMicroBatchStream(_))

object BinlogStreamSource {
  /** The enveloped change frame — same shape as
    * [[BinlogWire.envelopeFrame]] so filters/routers/sinks consume the
    * stream and the batch form identically.
    */
  val schema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("database", StringType, nullable = false),
    StructField("table", StringType, nullable = false),
    StructField("data", MapType(StringType, StringType), nullable = false),
    StructField("old", MapType(StringType, StringType), nullable = false),
    StructField("pks", MapType(StringType, StringType), nullable = false)))

  def mapData(m: Map[String, String]): MapData = {
    val entries = m.toSeq
    new ArrayBasedMapData(
      new GenericArrayData(entries.map(e => UTF8String.fromString(e._1)).toArray[Any]),
      new GenericArrayData(entries.map(e =>
        if (e._2 == null) null else UTF8String.fromString(e._2)).toArray[Any]))
  }
}

final class BinlogMicroBatchStream(options: CaseInsensitiveStringMap)
    extends BufferedTailerStream[BinlogWire.Envelope](
      // offsets are COMPOSED (file index << 32 | logPos): logPos alone
      // resets on binlog rotation — see BinlogWire.changeRows. In GTID
      // mode the MASTER decides the replay point (it may start in a file
      // BEFORE the configured one), so the file/pos gate must not drop
      // replayed history: admit everything the master sends (startSeq 0
      // sits below any composed seq; the fake Rotate event that opens a
      // GTID dump re-seeds the true file index before any row arrives).
      startSeq =
        if (Option(options.get("gtid")).exists(_.nonEmpty)) 0L
        else BinlogWire.composedSeq(
          BinlogWire.fileIndexOf(
            Option(options.get("file")).getOrElse("binlog.000001")),
          options.getLong("pos", 4L)),
      options = options,
      threadName = "graft-binlog-tailer") {

  private val host = {
    val h = options.get("host")
    require(h != null && h.nonEmpty, "binlog stream: option 'host' is required")
    h
  }
  private val port = options.getInt("port", 3306)
  private val user = Option(options.get("user")).getOrElse("repl")
  private val password = Option(options.get("password")).getOrElse("")
  private val file = Option(options.get("file")).getOrElse("binlog.000001")
  private val startPos = options.getLong("pos", 4L)
  private val serverId = options.getLong("serverId", 1001L)

  // schema-store seat: names.<db>.<table> / pks.<db>.<table>
  private def tableOpt(prefix: String, db: String, tbl: String): Option[Seq[String]] =
    Option(options.get(s"$prefix.$db.$tbl"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

  private val client = new BinlogWire.BinlogClient(host, port, user, password, serverId,
    // ssl-mode=REQUIRED: SSLRequest + channel upgrade before credentials
    tls = Tls.fromOptions(options))

  override protected def seqOf(e: BinlogWire.Envelope): Long = e.seq

  override protected def toRow(r: BinlogWire.Envelope): InternalRow =
    InternalRow(r.seq, UTF8String.fromString(r.op),
      UTF8String.fromString(r.database), UTF8String.fromString(r.table),
      BinlogStreamSource.mapData(r.data), BinlogStreamSource.mapData(r.old),
      BinlogStreamSource.mapData(r.pks))

  // GTID resume: `gtid` = the executed set ("uuid:1-5,…"); the master
  // replays only what's missing from it (COM_BINLOG_DUMP_GTID), while
  // file+pos remains the offset unit for batch absorption
  private val gtid = Option(options.get("gtid")).filter(_.nonEmpty)

  override protected def tail(emit: BinlogWire.Envelope => Unit): Unit = {
    client.connect()
    val events = gtid match {
      case Some(g) => client.dumpGtid(GtidSet.parse(g))
      case None => client.dump(file, startPos)
    }
    BinlogWire.changeRows(events, BinlogWire.fileIndexOf(file))
      .foreach(c => emit(BinlogWire.envelopeOf(c,
        names = tableOpt("names", _, _),
        pkOf = (d, t) => tableOpt("pks", d, t).getOrElse(Nil))))
  }

  override protected def closeClient(): Unit = client.close()

  startTailer()
}
