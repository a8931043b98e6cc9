package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The change-message envelope and the change-log algebra.
  *
  * The reference's unit of data is a row-change message `core.Msg`
  * (/root/reference pkg/core/msg.go:52-81): op ∈ {insert, update, delete}
  * (msg.go:36-42), row images as string maps (msg.go:180-185), a per-stream
  * monotonic sequence assigned by the emitter (msg.go:70,76;
  * pkg/emitter/emitter.go:67-78), and PK-hash dependency keys used for
  * per-key ordered application (msg.go:72-73).
  *
  * Spark-first rendering: a change-log is just a DataFrame with `op` and
  * `seq` columns next to the row payload. Two encodings are supported:
  *
  *   - typed: payload columns inline (one table per stream) — columnar,
  *     codegen-friendly, the form every analytic operator runs on;
  *   - enveloped: `data`/`old`/`pks` as MAP<STRING,STRING> plus
  *     database/table discriminators — for heterogeneous multi-table
  *     streams, matching the reference's Kafka JSON wire shape
  *     (pkg/core/encoding/rdb_json.go:28-33).
  *
  * The algebra below replaces the reference's batch-table-scheduler latch
  * machinery (pkg/schedulers/batch_table_scheduler/batch_table_scheduler.go:61-73):
  * per-key ordering is a shuffle by pk + a window by seq, and "apply the
  * log" is last-writer-wins compaction — O(n) with one shuffle, instead of
  * row-at-a-time replay.
  */
object ChangeLog {

  val Insert = "insert"
  val Update = "update"
  val Delete = "delete"

  /** Envelope schema for multi-table (map-encoded) streams. */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("database", StringType),
    StructField("table", StringType),
    StructField("event_ts", TimestampType),
    StructField("data", MapType(StringType, StringType)),
    StructField("old", MapType(StringType, StringType)),
    StructField("pks", MapType(StringType, StringType))
  ))

  /** Last-writer-wins compaction over a typed change-log: keep only the
    * final image per primary key (ordered by `seq`), dropping keys whose
    * final op is delete. This materializes the replicated snapshot —
    * gravity's end state after replaying the log in order
    * (batch_table_scheduler.go:61-73 ordering contract).
    *
    * One shuffle on pk; within-partition sort by seq; codegen window.
    * At 100 TB: pk-hash partitioning spreads uniformly; no driver state.
    */
  def compact(log: DataFrame, pkCols: Seq[String], seqCol: String = "seq",
      opCol: String = "op"): DataFrame = {
    val w = Window.partitionBy(pkCols.map(col): _*).orderBy(col(seqCol).desc)
    log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col(opCol) =!= Delete)
      .drop("__rn")
  }

  /** Keep the log but reduce to ≤1 row per key (the final one, even if a
    * delete) — the batch the reference would hand a sink per flush: it only
    * needs the last state per key within the batch (REPLACE semantics,
    * pkg/sql_execution_engine/mysql_replace_engine.go:59-88).
    */
  def lastPerKey(log: DataFrame, pkCols: Seq[String], seqCol: String = "seq"): DataFrame = {
    val w = Window.partitionBy(pkCols.map(col): _*).orderBy(col(seqCol).desc)
    log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** PK-update split: an UPDATE that moves a primary-key column becomes
    * DELETE(old pk) then INSERT(new image), with the delete sequenced
    * before the insert (reference: pkg/inputs/mysqlstream/msg.go:170-225).
    *
    * Input: typed updates with `old_<pk>` columns carrying the prior key.
    * seq is rescaled by 2 so the pair stays adjacent and ordered.
    */
  def splitPkUpdate(log: DataFrame, pkCols: Seq[String], seqCol: String = "seq",
      opCol: String = "op"): DataFrame = {
    val pkChanged = pkCols
      .map(k => col(s"old_$k").isNotNull && col(s"old_$k") =!= col(k))
      .reduce(_ || _)
    val dataCols = log.columns.filterNot(c => c == seqCol || c == opCol || c.startsWith("old_"))

    val base = log.filter(col(opCol) =!= Update || !pkChanged)
      .withColumn(seqCol, col(seqCol) * 2)
      .select((Seq(col(seqCol), col(opCol)) ++ dataCols.map(col)): _*)

    val moved = log.filter(col(opCol) === Update && pkChanged)
    val deletes = moved
      .select((Seq(col(seqCol) * 2 as seqCol, lit(Delete) as opCol) ++
        dataCols.map(c => (if (pkCols.contains(c)) col(s"old_$c") else col(c)) as c)): _*)
    val inserts = moved
      .select((Seq(col(seqCol) * 2 + 1 as seqCol, lit(Insert) as opCol) ++
        dataCols.map(col)): _*)

    base.unionByName(deletes).unionByName(inserts)
  }

  /** Dependency hash — the per-key partitioning/ordering key. The reference
    * hashes PK values with xxhash64 (pkg/inputs/mysqlstream/msg.go:472-475);
    * Spark's built-in xxhash64 is the same family and codegen'd.
    */
  def depHash(pkCols: Seq[String]): Column = xxhash64(pkCols.map(col): _*)

  /** Delta-update semantics (Mongo oplog `UpdateDataAsDelta`,
    * /root/reference pkg/inputs/mongostream/oplog_tailer.go:138): an
    * update row carries ONLY changed columns (others NULL); the final
    * image per key takes the last non-null value per column in seq order,
    * anchored by the insert. One window, no per-row merge loop.
    */
  def compactDeltas(log: DataFrame, pkCols: Seq[String], valueCols: Seq[String],
      seqCol: String = "seq", opCol: String = "op"): DataFrame = {
    val w = Window.partitionBy(pkCols.map(col): _*)
      .orderBy(col(seqCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = valueCols.foldLeft(log) { (d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
    compact(filled, pkCols, seqCol, opCol)
  }

  /** Repartition a change-log by key so per-key order can be enforced
    * within each partition without a global sort — the Spark analogue of
    * the scheduler's table dispatch + dependency latches
    * (batch_table_scheduler.go:390-407,458-535).
    */
  def partitionByKey(log: DataFrame, pkCols: Seq[String], numPartitions: Option[Int] = None): DataFrame = {
    val parts = numPartitions.getOrElse(log.sparkSession.sessionState.conf.numShufflePartitions)
    // one partition holds every key whatever the hash: a narrow coalesce
    // places the rows without an exchange (a job of its own under AQE)
    val placed = if (parts == 1) log.coalesce(1) else log.repartition(parts, depHash(pkCols))
    placed.sortWithinPartitions(col("seq"))
  }
}
