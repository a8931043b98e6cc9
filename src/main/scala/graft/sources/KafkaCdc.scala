package graft.sources

import graft.core.ChangeLog
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Kafka CDC consumption — the reference's tidbkafka input
  * (/root/reference pkg/inputs/tidb_kafka/binlog_tailer.go:125-232) with
  * offsets stored externally (pkg/offsets/db.go); on Spark the source is
  * `readStream.format("kafka")` + a declarative `from_json` decode, and
  * offsets live in the streaming checkpoint.
  *
  * The decoder below reads the reference's v0.1 documents
  * (rdb_json.go:18-104); graft's own producer writes 2.0.alpha
  * (graft.sinks.KafkaJson).
  */
object KafkaCdc {

  /** JSON schema of the v0.1 wire format (string-map payloads). */
  val v01Schema: StructType = StructType(Seq(
    StructField("version", StringType),
    StructField("database", StringType),
    StructField("table", StringType),
    StructField("type", StringType),
    StructField("ts", LongType),
    StructField("time_zone", StringType),
    StructField("host", StringType),
    StructField("data", MapType(StringType, StringType)),
    StructField("old", MapType(StringType, StringType)),
    StructField("pks", MapType(StringType, StringType))))

  /** Decode a `value` column carrying v0.1 JSON into the envelope shape. */
  def decodeV01(valueCol: Column): Column = from_json(valueCol, v01Schema)

  /** Envelope frame from a raw Kafka-shaped frame (key/value). */
  def envelopeFromV01(df: DataFrame, seqCol: Column): DataFrame =
    df.select(seqCol.as("seq"), decodeV01(col("value")).as("m"))
      .select(
        col("seq"),
        col("m.type").as("op"),
        col("m.database").as("database"),
        col("m.table").as("table"),
        timestamp_seconds(col("m.ts")).as("event_ts"),
        col("m.data").as("data"),
        col("m.old").as("old"),
        col("m.pks").as("pks"))

  /** Drop graft's own replicated traffic when tailing a target that is
    * also a source (bidirectional loop prevention) — the reference tags
    * its transactions and elides them on the way back
    * (pkg/core/msg.go:231-247; binlog_tailer.go:646-669). With a
    * database-prefix convention the elision is one pushable filter.
    */
  def dropInternalTraffic(df: DataFrame, internalPrefix: String = "_graft"): DataFrame =
    df.filter(!col("database").startsWith(internalPrefix))

  /** Sticky-partition invariant used by the bus: same PK → same partition
    * (async_kafka.go:196-201). Exposed for tests/monitoring.
    */
  def partitionFor(pkCols: Seq[String], numPartitions: Int): Column =
    pmod(ChangeLog.depHash(pkCols), lit(numPartitions))
}
