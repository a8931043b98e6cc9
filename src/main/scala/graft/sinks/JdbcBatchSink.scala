package graft.sinks

import graft.core.ChangeLog
import graft.operators.AddMissingColumns
import graft.streaming.BatchSink
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The assembled relational upsert sink — the reference's MySQL output
  * path (/root/reference pkg/outputs/mysql/mysql.go:222-440) composed from
  * the pieces that shipped separately in round 1:
  *
  *   1. group the compacted batch per routed (tgt_schema, tgt_table)
  *      (mysql.go Execute routes each msg first);
  *   2. reconcile schema against the target — AddMissingColumns fills
  *      columns the batch lacks with defaults/NULL
  *      (pkg/outputs/mysql/add_missing_column.go:10-30);
  *   3. pk-hash partition + seq sort so each key's changes apply in source
  *      order inside one partition (the scheduler contract,
  *      batch_table_scheduler.go:61-73);
  *   4. stream each partition through the engine with DELETEs isolated
  *      (mysql.go splitMsgBatchWithDelete:452-482) and writes chunked at
  *      `maxRowsPerStatement`;
  *   5. execute on the executors via the [[StatementExecutor]] SPI,
  *      swallowing `ignorableErrnos` (idempotent-replay duplicates, the
  *      same set mysql.go tolerates on DDL/PK replays).
  *
  * Scale shape: no driver-side row buffering — the only driver work is one
  * narrow pass that finds which *configured* route targets the batch
  * holds, then one write per present target, the targets written
  * concurrently. Each executor partition holds complete keys (pk-hash
  * partitioning), so per-key statement order is preserved without any
  * global coordination, and N partitions write through N connections —
  * the reference's worker-pool parallelism
  * (batch_table_scheduler.go:213-275) expressed as data parallelism. A
  * partition with no rows opens no connection.
  */
final class JdbcBatchSink(
    executorFactory: () => StatementExecutor,
    engine: SqlEngine,
    pkCols: Seq[String],
    targets: Seq[(String, String)] = Nil,
    targetSchemas: Map[(String, String), StructType] = Map.empty,
    // live target-schema fetch (JdbcSchemaIntrospector.catalog): consulted
    // when `targetSchemas` has no entry — the reference introspects the
    // target and reconciles before writing (add_missing_column.go +
    // schema_store fetch); driver-side, cached by the catalog
    schemaFor: Option[(String, String) => StructType] = None,
    columnDefaults: Map[String, Any] = Map.empty,
    ignorableErrnos: Set[Int] = Set(1062, 1060, 1061),
    maxRowsPerStatement: Int = 200,
    numWriters: Option[Int] = None,
    txnTagger: Option[InternalTxnTagger] = None) extends BatchSink {

  def write(batchId: Long, compacted: DataFrame): Unit = {
    val hasRouting = compacted.columns.contains("tgt_schema") &&
      compacted.columns.contains("tgt_table")
    if (!hasRouting) {
      require(targets.size == 1,
        "unrouted batch needs exactly one configured target")
      // an empty batch neither introspects nor writes the target
      if (!compacted.isEmpty) writeTable(targets.head, compacted)
    } else {
      // materialize once: the target pass and each target branch re-read
      // the batch, and without a copy that re-runs the upstream compaction
      // lineage per read — unless the caller already materialized it
      // (CompositeSink hands every sink a checkpointed batch)
      val copy = targets.size != 1 && !SnapshotSink.isMaterializedShallow(compacted)
      val src = if (copy) compacted.persist() else compacted
      try writeRouted(src, if (targets.nonEmpty) present(src) else scanTargets(src))
      finally if (copy) { src.unpersist(); () }
    }
  }

  /** Targets come from the route CONFIG, not from the data — this
    * data-scan fallback is Bounded so a poisoned stream cannot mint
    * unbounded write targets (Router.fanOut's discipline).
    */
  private def scanTargets(batch: DataFrame): Seq[(String, String)] =
    graft.core.Bounded.collect(
      batch.select(col("tgt_schema"), col("tgt_table")).distinct(),
      10000, "JdbcBatchSink/target-scan",
      "configure the route targets so fan-out is config-bounded; a " +
        "poisoned stream must not mint write targets")
      .map(r => (r.getString(0), r.getString(1))).toSeq

  /** The configured targets the batch holds rows for — ONE narrow job over
    * each row's index into `targets` (null for none), instead of an
    * emptiness probe per target. A target absent from the batch is
    * neither introspected nor written.
    */
  private def present(batch: DataFrame): Seq[(String, String)] = {
    val cases = targets.zipWithIndex.map { case ((schema, table), i) =>
      (col("tgt_schema") === schema && col("tgt_table") === table, i)
    }
    val targetIndex = cases.tail.foldLeft(when(cases.head._1, cases.head._2)) {
      case (c, (matches, i)) => c.when(matches, i)
    }
    val hit = graft.core.Fused.intSet(batch, targetIndex)
    targets.zipWithIndex.collect { case (t, i) if hit(i) => t }
  }

  /** Write each target's branch of the batch, the targets concurrently:
    * they are different tables, each written in per-key order by its own
    * partitions.
    */
  private def writeRouted(src: DataFrame, tgts: Seq[(String, String)]): Unit =
    graft.core.Par.run(tgts.map { t => () =>
      writeTable(t, src
        .filter(col("tgt_schema") === t._1 && col("tgt_table") === t._2)
        .drop("tgt_schema", "tgt_table"))
    }: _*)

  /** `schema`.`table` rendered with the engine's own identifier dialect —
    * quoted/validated by the engine: when `targets` is unconfigured these
    * values come from stream data and must not reach SQL text raw.
    */
  private def fqn(t: (String, String)): String = engine.qualify(t._1, t._2)

  private def writeTable(target: (String, String), branch: DataFrame): Unit = {
    val reconciled = targetSchemas.get(target)
      .orElse(schemaFor.map(f => f(target._1, target._2))) match {
      case Some(ts) =>
        // schema reconciliation, then project to the target column order;
        // columns the batch lacks are written NULL/default explicitly
        // (the reference's AddMissingColumn fills row data the same way).
        // `ts` must be the WRITABLE schema — generated/identity columns
        // excluded (IntrospectedTable.writableStruct)
        val filled = AddMissingColumns(ts, columnDefaults)(branch)
        // select by the frame's OWN column case: introspected schemas
        // carry the target's identifier case (Derby: upper), and selecting
        // col("ID") over a frame column "id" renames the output — which
        // would desync the engines' case-sensitive pkCols matching
        val byLower = filled.columns.map(c => c.toLowerCase -> c).toMap
        val keep = Seq("op", "seq") ++
          ts.fieldNames.toSeq.map(n => byLower.getOrElse(n.toLowerCase, n))
        filled.select(keep.map(col): _*)
      case None => branch
    }
    // numWriters = the reference's `nr-worker` (batch_table_scheduler.go:
    // 29-36): each partition is one writer/connection; targets with weak
    // concurrent-write support (embedded Derby) set 1
    val ordered = ChangeLog.partitionByKey(reconciled, pkCols, numWriters)
    val writeSchema = StructType(ordered.schema.fields.filterNot(f =>
      f.name == "op" || f.name == "seq" ||
        f.name.startsWith("old_") || f.name.startsWith("__")))
    val table = fqn(target)
    val (eng, pk, errnos, maxRows, factory, tagger) =
      (engine, pkCols, ignorableErrnos, maxRowsPerStatement, executorFactory, txnTagger)

    ordered.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val exec = factory()
        try {
          val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
          def execIgnoring(stmt: RenderedStatement): Unit =
            try exec.execute(stmt)
            catch {
              case e: java.sql.SQLException if errnos(e.getErrorCode) => ()
            }
          def flushWrites(): Unit = if (buf.nonEmpty) {
            eng.renderWrites(table, writeSchema, buf.toSeq).foreach(execIgnoring)
            buf.clear()
          }
          def writeAll(): Unit = {
            it.foreach { r =>
              if (r.getAs[String]("op") == ChangeLog.Delete) {
                flushWrites() // deletes always run alone (mysql.go:452-482)
                execIgnoring(eng.renderDelete(table, pk, pk.map(r.getAs[Any](_))))
              } else {
                buf += r
                if (buf.size >= maxRows) flushWrites()
              }
            }
            flushWrites()
          }
          tagger match {
            // marker row + data statements commit atomically, so the tailer
            // of the target sees the tag in the same transaction
            case Some(t) => exec.transactional { exec.execute(t.render()); writeAll() }
            case None => writeAll()
          }
        } finally exec.close()
      }
    }
  }
}

/** Where conflict rows go (reference writes a local conflict.log,
  * conflict_engine.go). Runs on executors — implementations must be
  * serializable; the default logs through the executor's stderr.
  */
trait ConflictLogger extends Serializable {
  def log(table: String, op: String, pkValues: Seq[Any]): Unit
}
object ConflictLogger {
  object Stderr extends ConflictLogger {
    def log(table: String, op: String, pkValues: Seq[Any]): Unit =
      System.err.println(s"[conflict] $table $op pk=${pkValues.mkString(",")}")
  }

  /** Count conflicts through a Spark accumulator — the distributed
    * spelling of the reference's conflict.log line count (executors log,
    * the driver reads the merged total).
    */
  final case class Counting(acc: org.apache.spark.util.LongAccumulator)
      extends ConflictLogger {
    def log(table: String, op: String, pkValues: Seq[Any]): Unit = acc.add(1L)
  }
}

/** Conflict-detecting sink for bidirectional replication — the execution
  * loop the reference runs in pkg/sql_execution_engine/conflict_engine.go:
  * 113-200: INSERTs go in plain (a duplicate-key error ⇒ conflict);
  * UPDATE/DELETE carry a WHERE guard on the OLD row image (`old_<col>`
  * columns when present, else the pk), and affected-rows == 0 ⇒ conflict.
  * Conflicts are logged; with `overrideConflict` the new image is
  * force-applied (REPLACE-equivalent: guarded-delete-by-pk + insert).
  *
  * Rows apply per-key in seq order (pk-hash partitioning), one row at a
  * time — conflict detection is inherently per-statement, matching the
  * reference's row loop.
  */
final class ConflictDetectBatchSink(
    executorFactory: () => StatementExecutor,
    pkCols: Seq[String],
    target: (String, String),
    engine: ConflictDetect = ConflictDetectEngine,
    overrideConflict: Boolean = false,
    conflictLogger: ConflictLogger = ConflictLogger.Stderr) extends BatchSink {

  def write(batchId: Long, compacted: DataFrame): Unit = {
    val ordered = ChangeLog.partitionByKey(compacted, pkCols)
    val writeSchema = StructType(ordered.schema.fields.filterNot(f =>
      f.name == "op" || f.name == "seq" ||
        f.name.startsWith("old_") || f.name.startsWith("__")))
    val oldCols = ordered.schema.fieldNames.filter(_.startsWith("old_")).toSeq
    val table = engine.qualify(target._1, target._2)
    val (eng, pk, overrideIt, logger, factory) =
      (engine, pkCols, overrideConflict, conflictLogger, executorFactory)

    // duplicate-key detection must walk the exception chain: batch
    // executors (Derby, MySQL Connector) wrap the integrity violation in
    // BatchUpdateException with the real cause chained behind it
    def isDupKey(e: java.sql.SQLException): Boolean = {
      var cur: Throwable = e
      var depth = 0
      while (cur != null && depth < 10) {
        cur match {
          case s: java.sql.SQLIntegrityConstraintViolationException => return true
          case s: java.sql.SQLException
              if Option(s.getSQLState).exists(_.startsWith("23")) ||
                s.getErrorCode == 1062 => return true
          case _ => ()
        }
        cur = cur match {
          case s: java.sql.SQLException if s.getNextException != null => s.getNextException
          case t => t.getCause
        }
        depth += 1
      }
      false
    }

    ordered.foreachPartition { (it: Iterator[Row]) =>
      val exec = factory()
      try {
        def guard(r: Row): Map[String, Any] = {
          // pk always guards (never touch another key's row). When the row
          // carries an old image (any old_<col> non-null), ALL old_ cols
          // guard — including genuinely-NULL ones: the engine's null-safe
          // equality exists precisely so a NULL old value still
          // participates in the compare-and-set.
          val hasOldImage = oldCols.exists(oc => r.getAs[Any](oc) != null)
          val old =
            if (!hasOldImage) Map.empty[String, Any]
            else oldCols.map(oc => oc.stripPrefix("old_") -> r.getAs[Any](oc)).toMap
          pk.map(c => c -> r.getAs[Any](c)).toMap ++ old
        }
        def forceApply(r: Row): Unit = {
          exec.execute(eng.renderDelete(table, pk, pk.map(r.getAs[Any](_))))
          exec.execute(eng.renderWrites(table, writeSchema, Seq(r)).head)
        }
        it.foreach { r =>
          val op = r.getAs[String]("op")
          op match {
            case ChangeLog.Insert =>
              val conflicted =
                try { exec.execute(eng.renderWrites(table, writeSchema, Seq(r)).head); false }
                catch { case e: java.sql.SQLException if isDupKey(e) => true }
              if (conflicted) {
                logger.log(table, op, pk.map(r.getAs[Any](_)))
                if (overrideIt) forceApply(r)
              }
            case ChangeLog.Update =>
              val n = exec.execute(
                eng.renderGuardedUpdate(table, writeSchema, r, guard(r))).sum
              if (n == 0) {
                logger.log(table, op, pk.map(r.getAs[Any](_)))
                if (overrideIt) forceApply(r)
              }
            case ChangeLog.Delete =>
              val n = exec.execute(eng.renderGuardedDelete(table, guard(r))).sum
              if (n == 0) {
                logger.log(table, op, pk.map(r.getAs[Any](_)))
                if (overrideIt)
                  exec.execute(eng.renderDelete(table, pk, pk.map(r.getAs[Any](_))))
              }
            case _ => ()
          }
        }
      } finally exec.close()
    }
  }
}
