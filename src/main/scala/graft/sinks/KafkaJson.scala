package graft.sinks

import graft.core.ChangeLog
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Kafka wire-format encoders, declarative (`to_json(struct(...))` — stays
  * in codegen; the Kafka sink then just reads `key`/`value`/`topic`
  * columns).
  *
  * Two formats reproduce the reference's serde
  * (/root/reference pkg/core/encoding/rdb_json.go):
  *   - v0.1  (rdb_json.go:18-104): header {version, database, table, type,
  *     ts (epoch sec), time_zone, host} + data/old/pks as STRING->STRING
  *     maps (all values stringified; times as "yyyy-MM-dd HH:mm:ss[.f]").
  *   - 2.0.alpha (rdb_json.go:106-170): same header minus ts/tz/host,
  *     typed JSON values, times as RFC3339.
  *
  * Partitioning: key = first dependency hash (PK hash) so one key's
  * changes stay totally ordered within a partition — the reference's
  * manual partitioner (pkg/outputs/async_kafka/async_kafka.go:196-201)
  * becomes Kafka's own key-hash partitioning.
  */
object KafkaJson {
  val Version01 = "0.1"
  val Version20 = "2.0.alpha"

  /** v0.1 value for a map-encoded envelope stream (data/old/pks already
    * MAP<STRING,STRING>).
    */
  def valueV01(host: String, timeZone: String = "Asia/Shanghai"): Column =
    to_json(struct(
      lit(Version01).as("version"),
      col("database"), col("table"),
      col("op").as("type"),
      unix_timestamp(col("event_ts")).as("ts"),
      lit(timeZone).as("time_zone"),
      lit(host).as("host"),
      col("data"), col("old"), col("pks")))

  /** 2.0.alpha value for a typed stream: payload columns become the typed
    * `data` object; pk columns the `pks` object.
    */
  def valueV20(payloadCols: Seq[String], pkCols: Seq[String]): Column =
    to_json(struct(
      lit(Version20).as("version"),
      col("database"), col("table"),
      col("op").as("type"),
      struct(payloadCols.map(col): _*).as("data"),
      struct(pkCols.map(col): _*).as("pks")))

  /** Build the v0.1 stringified payload map from typed columns: every
    * value rendered as a string, timestamps in the reference's layout
    * "2006-01-02 15:04:05.999999999" — i.e. seconds with the fractional
    * part's trailing zeros trimmed (rdb_json.go:40,54-56). NULLs stay
    * NULL map values.
    */
  def stringifyV01(df: DataFrame, cols: Seq[String]): Column = {
    val pairs = cols.flatMap { c =>
      val rendered = df.schema(c).dataType match {
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType =>
          regexp_replace(date_format(col(c), "yyyy-MM-dd HH:mm:ss.SSSSSS"),
            "\\.?0+$", "")
        case _ => col(c).cast("string")
      }
      Seq(lit(c), rendered)
    }
    map(pairs: _*)
  }

  /** Sticky partition key: hex of the PK dependency hash. */
  def partitionKey(pkCols: Seq[String]): Column =
    hex(ChangeLog.depHash(pkCols))

  /** Assemble the frame a `writeStream.format("kafka")` sink consumes.
    * `seq` rides along when present: the file-log emulation (and any
    * transport that must prove per-key ordering) orders on it.
    */
  def toKafkaFrame(df: DataFrame, value: Column, pkCols: Seq[String],
      topic: Column): DataFrame =
    keyed(df, value, pkCols, Seq(topic.as("topic")))

  private def keyed(df: DataFrame, value: Column, pkCols: Seq[String],
      extra: Seq[Column]): DataFrame = {
    val base = Seq(partitionKey(pkCols).as("key"), value.as("value")) ++ extra
    val cols = if (df.columns.contains("seq")) base :+ col("seq") else base
    df.select(cols: _*)
  }

  /** A Kafka frame laid out for a transport: `(__part, key, value)` with
    * `__part = pmod(xxhash64(key), n)` — sarama's hash partitioner, so a
    * key lands on the same partition whichever transport carries it and
    * per-key total order holds across batches. One shuffle partition per
    * broker partition; a hash collision can co-locate two parts in one
    * task, so rows sort by part (then `seq`, when the frame has one) and
    * the transport rolls its output on the part boundary.
    */
  private[sinks] def partitioned(kafkaFrame: DataFrame,
      numPartitions: Int): DataFrame = {
    val sortCols =
      if (kafkaFrame.columns.contains("seq")) Seq(col("__part"), col("seq"))
      else Seq(col("__part"))
    kafkaFrame
      .withColumn("__part", pmod(xxhash64(col("key")), lit(numPartitions)))
      .repartition(numPartitions, col("__part"))
      .sortWithinPartitions(sortCols: _*)
      .select(col("__part"), col("key"), col("value"))
  }

  private val bookkeeping = Set("op", "seq", "database", "table", "type",
    "ddl_statement", "tgt_schema", "tgt_table", "tgt_topic", "tgt_index")

  /** A compacted change batch as the [[partitioned]] record frame every
    * Kafka transport ships. Value: the 2.0.alpha envelope when the batch
    * carries database/table/op, else the generic typed JSON of the
    * payload (`payloadColumns`, default every non-bookkeeping column).
    * Key: the pk dependency hash. The frame carries no topic: the file
    * log has no topic level and kafka-wire produces to its configured
    * topic.
    */
  private[sinks] def records(compacted: DataFrame, numPartitions: Int,
      pkCols: Seq[String], payloadColumns: Option[Seq[String]]): DataFrame = {
    val cols = compacted.columns.toSet
    val payloadCols = payloadColumns.getOrElse(
      compacted.columns.filterNot(bookkeeping).toSeq)
    val hasEnvelope = cols("database") && cols("table") && cols("op")
    val value =
      if (hasEnvelope) valueV20(payloadCols, pkCols)
      else to_json(struct(payloadCols.map(col): _*))
    partitioned(keyed(compacted, value, pkCols, Nil), numPartitions)
  }
}

/** Config-driven Kafka output over the file-log emulation: appends each
  * compacted batch's [[KafkaJson.records]] frame to the partitioned file
  * log. Swap [[FileKafkaSink]] for `writeStream.format("kafka")` in a real
  * deployment — the frame is identical.
  */
final class KafkaFileBatchSink(dir: String, numPartitions: Int,
    pkCols: Seq[String],
    payloadColumns: Option[Seq[String]] = None)
    extends graft.streaming.BatchSink {

  private val inner = new FileKafkaSink(dir, numPartitions)

  def write(batchId: Long, compacted: DataFrame): Unit =
    inner.append(batchId, KafkaJson.records(compacted, numPartitions,
      pkCols, payloadColumns))

  def partitionLog(p: Long): Seq[String] = inner.partitionLog(p)
  def partitions: Seq[Long] = inner.partitions
}

/** Broker-log emulation over plain files — the Kafka write path proved
  * end to end without a broker. The reference's async producer pins each
  * message to the partition chosen by hashing its PK dependency key and
  * relies on the broker appending in publish order
  * (/root/reference pkg/outputs/async_kafka/async_kafka.go:150-226,
  * partitioner 196-201). Here: partition = hash(key) mod N, and each
  * micro-batch appends one file per partition with rows in per-key seq
  * order — the concatenation of a partition's files in batch order IS
  * the partition log, so per-key total ordering is directly assertable.
  *
  * Executor-local filesystem writer (the harness runs one host); a real
  * deployment swaps this for `writeStream.format("kafka")` with the same
  * key column and gets the identical placement from the broker's own
  * key-hash partitioner.
  */
final class FileKafkaSink(dir: String, numPartitions: Int)
    extends graft.streaming.BatchSink {

  def write(batchId: Long, kafkaFrame: DataFrame): Unit =
    append(batchId, KafkaJson.partitioned(kafkaFrame, numPartitions))

  /** Append a [[KafkaJson.partitioned]] frame: one file per part. The log
    * stores values only, so the key is pruned before the shuffle.
    */
  private[sinks] def append(batchId: Long, records: DataFrame): Unit = {
    val d = dir
    val values = records.select(col("__part"), col("value"))
    values.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      var cur = -1L
      var w: java.io.Writer = null
      def close(): Unit = if (w != null) { w.close(); w = null }
      try {
        it.foreach { r =>
          val p = r.getLong(0)
          if (p != cur) {
            close()
            val pd = new java.io.File(s"$d/p$p")
            pd.mkdirs()
            w = new java.io.BufferedWriter(new java.io.FileWriter(
              new java.io.File(pd, f"batch-$batchId%09d.jsonl")))
            cur = p
          }
          w.write(r.getString(1)); w.write('\n')
        }
      } finally close()
    }
  }

  /** One partition's log: files in batch order, lines in append order. */
  def partitionLog(p: Long): Seq[String] = {
    val pd = new java.io.File(s"$dir/p$p")
    if (!pd.exists()) return Nil
    pd.listFiles().sortBy(_.getName).toSeq.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().toList finally src.close()
    }
  }

  def partitions: Seq[Long] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty).toSeq
      .filter(_.getName.startsWith("p")).map(_.getName.drop(1).toLong).sorted
}
