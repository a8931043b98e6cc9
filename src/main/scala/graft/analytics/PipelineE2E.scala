package graft.analytics

import graft.plans.PipelineConfig
import graft.sinks.SnapshotSink
import graft.streaming.{KillOnceSink, PipelineRunner}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The flagship end-to-end pipeline, oracle-gated as ONE artifact: a
  * declarative JSON config compiles to source → filter chain → router →
  * two sinks (relational upsert through embedded Derby AND a bucketed
  * parquet snapshot), executed as a Structured Streaming query with a
  * deterministic mid-stream kill and a restart from the checkpoint.
  *
  * This is the reference's whole deployment unit (config TOML → Input →
  * Filters → Scheduler → Output, /root/reference pkg/app/server.go:38-183)
  * composed end to end, not gated piecewise:
  *
  *   1. the DataSourceV2 CDC source serves a deterministic change stream
  *      in rate-limited micro-batches (offsets = the durable position);
  *   2. run 1 processes batches 0-2 and is killed by fault injection
  *      AFTER batch 2 committed to both sinks but BEFORE the streaming
  *      commit log recorded it;
  *   3. run 2 resumes from the checkpoint: batch 2 REPLAYS (its offsets
  *      are in the offset log) — both sinks absorb the replay because
  *      they are idempotent per key — then AvailableNow drains the rest;
  *   4. the gate reads the final TABLE STATE back out of Derby, after
  *      asserting the snapshot sink converged to the identical state.
  *
  * The oracle is the relational spec of the whole pipeline: generate the
  * same deterministic log in SQL, apply the filter chain's transforms,
  * compact per (route target, pk), drop deletes.
  */
object PipelineE2E {

  private val MaxSeq = 2000L
  // odd on purpose: id = seq % 101 and database = db(seq % 2) decorrelate,
  // so the same id value flows to BOTH route targets — the per-(target,pk)
  // compaction key is load-bearing, a global pk compaction would corrupt
  private val NumKeys = 101L
  private val RowsPerBatch = 400L

  /** Run the deployment with its kill and restart at the small
    * deterministic size the oracle replays; returns the Derby state.
    */
  def run(s: SparkSession): DataFrame = {
    val runId = java.util.UUID.randomUUID().toString.replace("-", "")
    val url = s"jdbc:derby:memory:e2e$runId;create=true"
    val work = Q.scratch("e2e")
    val ckpt = s"$work/ckpt"
    val snapPath = s"$work/snapshot"

    val setup = java.sql.DriverManager.getConnection(url)
    try {
      setup.createStatement().execute(
        "CREATE TABLE t_a (id BIGINT PRIMARY KEY, v VARCHAR(32))")
      setup.createStatement().execute(
        "CREATE TABLE t_b (id BIGINT PRIMARY KEY, v VARCHAR(32))")
    } finally setup.close()

    // the deployment config: filters gated by matchers, first-match-wins
    // routes, per-key identity — the same vocabulary as the reference's
    // pipeline TOML (pkg/config/config_v3.go:44-70)
    val plan = PipelineConfig.parse(
      s"""{
         |  "name": "e2e-replication",
         |  "filters": [
         |    {"type": "accept", "match-schema": "db*", "match-table": ["t*"]},
         |    {"type": "expr", "column": "v", "sql": "upper(v)"}
         |  ],
         |  "routes": [
         |    {"match-schema": "db0", "target-schema": "", "target-table": "t_a"},
         |    {"match-schema": "db1", "target-schema": "", "target-table": "t_b"}
         |  ],
         |  "pk": ["id"],
         |  "checkpoint": "$ckpt"
         |}""".stripMargin)
    // the jdbc output reconciles against the LIVE introspected target
    // schema (writable columns of t_a/t_b) — the envelope columns the
    // stream carries (database/table/seq bookkeeping) are projected away
    // by reconciliation, not by hand-listed columns
    val sinks = PipelineConfig.parseSinks(s,
      s"""[
         |  {"type": "jdbc", "url": "$url", "engine": "ansi-merge",
         |   "targets": [["", "t_a"], ["", "t_b"]],
         |   "introspect-schemas": true, "num-writers": 1},
         |  {"type": "snapshot", "path": "$snapPath", "buckets": 4,
         |   "pk": ["tgt_table", "id"]}
         |]""".stripMargin, plan.pkCols)
    def source = s.readStream.format("graft.sources.CdcRateSource")
      .option("maxSeq", MaxSeq).option("rowsPerBatch", RowsPerBatch)
      .option("numKeys", NumKeys).option("partitions", 2).load()

    val sink = new KillOnceSink(sinks, killAtBatch = 2)
    // run 1: rate-limited micro-batches; dies after batch 2 hit the sinks
    val q1 = PipelineRunner.start(plan, source, sink,
      trigger = Trigger.ProcessingTime(0))
    def isInjectedKill(t: Throwable): Boolean = {
      var cur = t
      var depth = 0
      while (cur != null && depth < 10) {
        if (Option(cur.getMessage).exists(_.contains("injected mid-stream kill")))
          return true
        cur = cur.getCause
        depth += 1
      }
      false
    }
    try {
      q1.awaitTermination()
      sys.error("e2e pipeline: run 1 terminated without the injected kill")
    } catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException if isInjectedKill(e) => ()
    }

    // run 2: resume from the checkpoint — replay the killed batch, then
    // drain the remainder of the bounded stream
    val q2 = PipelineRunner.start(plan, source, sink,
      trigger = Trigger.AvailableNow())
    q2.awaitTermination()

    def derbyTable(t: String): DataFrame =
      s.read.format("jdbc").option("url", url)
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver") // see CdcQueries: stale-wrapper resolution after engine shutdown
        .option("dbtable", t).load()
        .select(lit(t).as("tgt_table"),
          col("id").cast("long").as("id"), col("v").as("v"))
    val derbyState = derbyTable("t_a").unionByName(derbyTable("t_b"))

    // both sinks must have converged to the same state — the snapshot is
    // part of the gate, not a side effect
    val snapState = new SnapshotSink(s, snapPath, Seq("tgt_table", "id"), 4)
      .read().select(col("tgt_table"), col("id"), col("v"))
    val diff = snapState.exceptAll(derbyState).count() +
      derbyState.exceptAll(snapState).count()
    require(diff == 0,
      s"e2e pipeline: snapshot and Derby state diverged ($diff differing rows)")
    derbyState
  }

  /** DuckDB oracle: the relational spec of the whole pipeline over the
    * same deterministic generator (CdcRateSource.rowFor semantics).
    */
  val oracle: String =
    s"""WITH log AS (
       |  SELECT t.seq,
       |    CASE WHEN t.seq % 10 IN (7, 8) THEN 'update'
       |         WHEN t.seq % 10 = 9 THEN 'delete'
       |         ELSE 'insert' END AS op,
       |    'db' || CAST(t.seq % 2 AS VARCHAR) AS db,
       |    t.seq % $NumKeys AS id,
       |    upper('v' || CAST(t.seq AS VARCHAR)) AS v
       |  FROM (SELECT range AS seq FROM range(0, $MaxSeq)) t
       |),
       |fin AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY db, id ORDER BY seq DESC) AS rn
       |    FROM log) x
       |  WHERE rn = 1 AND op <> 'delete'
       |)
       |SELECT CASE WHEN db = 'db0' THEN 't_a' ELSE 't_b' END AS tgt_table, id, v
       |FROM fin""".stripMargin

  def all: Seq[CatalogQuery] = Seq(
    CatalogQuery("cdc_pipeline_e2e_state", (s, _) => run(s), Some(oracle)))
}
