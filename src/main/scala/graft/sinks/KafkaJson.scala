package graft.sinks

import graft.core.ChangeLog
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Kafka wire-format encoder, declarative (`to_json(struct(...))` — stays
  * in codegen; the Kafka sinks then just read `key`/`value` columns).
  *
  * The format is gravity's 2.0.alpha serde
  * (pkg/core/encoding/rdb_json.go:106-170): header
  * {version, database, table, type} + typed JSON data/pks values, times
  * as RFC3339.
  *
  * Partitioning: key = first dependency hash (PK hash) so one key's
  * changes stay totally ordered within a partition — the reference's
  * manual partitioner (pkg/outputs/async_kafka/async_kafka.go:196-201)
  * becomes Kafka's own key-hash partitioning.
  */
object KafkaJson {
  val Version20 = "2.0.alpha"

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

  /** Sticky partition key: hex of the PK dependency hash. */
  def partitionKey(pkCols: Seq[String]): Column =
    hex(ChangeLog.depHash(pkCols))

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
    val framed = Seq(partitionKey(pkCols).as("key"), value.as("value")) ++
      (if (cols("seq")) Seq(col("seq")) else Nil)
    partitioned(compacted.select(framed: _*), numPartitions)
  }
}

/** Kafka output over a broker-log emulation in plain files — the Kafka
  * write path proved end to end without a broker. The reference's async
  * producer pins each message to the partition chosen by hashing its PK
  * dependency key and relies on the broker appending in publish order
  * (gravity's pkg/outputs/async_kafka/async_kafka.go:150-226,
  * partitioner 196-201). Here each micro-batch's [[KafkaJson.records]]
  * frame lands as one file per partition, `p<n>/batch-<id>.jsonl`, with
  * rows in per-key seq order — the concatenation of a partition's files
  * in batch order IS the partition log, so per-key total ordering is
  * directly assertable. A real deployment ships the same frame with
  * [[KafkaWireBatchSink]] and gets the identical placement.
  *
  * Each file is written under a dot-prefixed temporary name in its
  * partition directory and renamed into place, so a reader never sees a
  * truncated batch file: a failed attempt deletes its temporary file,
  * and the replayed batch renames over whatever an earlier attempt
  * published. Executor-local file system writer (the harness runs one
  * host).
  */
final class KafkaFileBatchSink(dir: String, numPartitions: Int,
    pkCols: Seq[String],
    payloadColumns: Option[Seq[String]] = None)
    extends graft.streaming.BatchSink {

  def write(batchId: Long, compacted: DataFrame): Unit =
    append(batchId, KafkaJson.records(compacted, numPartitions,
      pkCols, payloadColumns))

  /** Write a [[KafkaJson.records]] frame: one file per part. The log
    * stores values only, so the key is pruned before the shuffle.
    */
  private[sinks] def append(batchId: Long, records: DataFrame): Unit = {
    val d = dir
    val name = f"batch-$batchId%09d.jsonl"
    val values = records.select(col("__part"), col("value"))
    values.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      var cur = -1L
      var tmp: Path = null
      var w: java.io.Writer = null
      def publish(): Unit = if (w != null) {
        w.close(); w = null
        Files.move(tmp, tmp.resolveSibling(name), StandardCopyOption.ATOMIC_MOVE)
        tmp = null
      }
      try {
        it.foreach { r =>
          val p = r.getLong(0)
          if (p != cur) {
            publish()
            val t = Files.createDirectories(Paths.get(s"$d/p$p"))
              .resolve(s".$name.${java.util.UUID.randomUUID()}")
            w = Files.newBufferedWriter(t, StandardCharsets.UTF_8)
            tmp = t
            cur = p
          }
          w.write(r.getString(1)); w.write('\n')
        }
        publish()
      } finally if (tmp != null) {
        try if (w != null) w.close() finally Files.deleteIfExists(tmp)
      }
    }
  }

  /** One partition's log: files in batch order, lines in append order. */
  def partitionLog(p: Long): Seq[String] = {
    val pd = new java.io.File(s"$dir/p$p")
    if (!pd.exists()) return Nil
    pd.listFiles().filterNot(_.getName.startsWith(".")).sortBy(_.getName)
      .toSeq.flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().toList finally src.close()
      }
  }

  def partitions: Seq[Long] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty).toSeq
      .filter(_.getName.startsWith("p")).map(_.getName.drop(1).toLong).sorted
}
