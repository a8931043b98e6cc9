package graft.streaming

import graft.SparkSpec
import graft.core.ChangeLog
import graft.operators.{AcceptFilter, SchemaMatcher}
import graft.sources.{FileChangeLogSource, TwoStageSource}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft").toString

  private def logDf(rows: (Long, String, String, Long, String)*) =
    rows.toSeq.toDF("seq", "op", "database", "id", "v")

  test("streaming pipeline: file change-log -> filter -> compacted snapshot across micro-batches") {
    val logDir = tmp() + "/log"
    val snapPath = tmp() + "/snap"
    val ckpt = tmp() + "/ckpt"
    new java.io.File(logDir).mkdirs()

    // batch 1 files
    logDf((1, "insert", "db0", 1, "a"), (2, "insert", "db0", 2, "b"),
      (3, "insert", "skipme", 9, "x"))
      .coalesce(1).write.mode("append").parquet(logDir)

    val schema = spark.read.parquet(logDir).schema
    val plan = PipelinePlan(
      name = "p1",
      transforms = Seq(AcceptFilter(Seq(SchemaMatcher("db*")))),
      pkCols = Seq("id"),
      checkpoint = ckpt)
    val sink = new SnapshotBatchSink(spark, snapPath, Seq("id"))

    // one file per trigger => multiple micro-batches
    val src = FileChangeLogSource.readStream(spark, logDir, schema, maxFilesPerTrigger = Some(1))
    val q1 = PipelineRunner.start(plan, src, sink)
    q1.awaitTermination()

    assert(sink.read().select("id", "v").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))

    // batch 2: update + delete arrive later; restart from checkpoint
    logDf((4, "update", "db0", 1, "a2"), (5, "delete", "db0", 2, "b"))
      .coalesce(1).write.mode("append").parquet(logDir)
    val q2 = PipelineRunner.start(plan,
      FileChangeLogSource.readStream(spark, logDir, schema, Some(1)), sink)
    q2.awaitTermination()

    assert(sink.read().select("id", "v").as[(Long, String)].collect().toSet ==
      Set((1L, "a2")))
  }

  test("two-stage backfill-then-tail equals compacting the full history") {
    val snapshot = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val changes = logDf((10, "update", "db0", 1, "a9"), (11, "insert", "db0", 3, "c"))
      .drop("database")
    val combined = TwoStageSource(snapshot, changes)
    val fin = ChangeLog.compact(combined, Seq("id")).select("id", "v")
      .as[(Long, String)].collect().toSet
    assert(fin == Set((1L, "a9"), (2L, "b"), (3L, "c")))
  }

  test("batch replay is idempotent (REPLACE semantics survive foreachBatch retry)") {
    val snapPath = tmp() + "/snap2"
    val sink = new SnapshotBatchSink(spark, snapPath, Seq("id"))
    val plan = PipelinePlan(name = "p2", pkCols = Seq("id"), checkpoint = tmp())
    val batch = logDf((1, "insert", "db0", 1, "a"), (2, "update", "db0", 1, "b"))
    PipelineRunner.applyBatch(plan, sink)(batch, 0)
    val once = sink.read().select("id", "v").as[(Long, String)].collect().toSet
    PipelineRunner.applyBatch(plan, sink)(batch, 0) // replay same batch
    val twice = sink.read().select("id", "v").as[(Long, String)].collect().toSet
    assert(once == twice && once == Set((1L, "b")))
  }

  test("a schema-storming batch trips the DDL control-row bound before any execute") {
    // 10k+ DDL rows in one micro-batch must raise the Bounded diagnostic,
    // not drive 10k rewrite+execute round-trips against the target
    val sink = new SnapshotBatchSink(spark, tmp() + "/snap-storm", Seq("id"))
    val plan = PipelinePlan(name = "p-storm", pkCols = Seq("id"),
      router = Some(graft.operators.Router.mysql(Seq(graft.operators.Route(
        Seq(graft.operators.SchemaMatcher("db*")),
        Map("schema" -> "tgt", "table" -> "t2"))))),
      checkpoint = tmp())
    val ddlExec = new DdlExecutor {
      def execute(st: Seq[String]): Unit =
        sys.error("the bound must trip before any DDL executes")
    }
    val storm = spark.range(10001).selectExpr(
      "id AS seq", "'ddl' AS op", "'db0' AS database", "'t' AS `table`",
      "'ddl' AS type",
      "concat('ALTER TABLE t ADD COLUMN c', id, ' INT') AS ddl_statement",
      "id", "CAST(NULL AS STRING) AS v")
    val e = intercept[RuntimeException] {
      PipelineRunner.applyBatch(plan, sink, Some(ddlExec))(storm, 0)
    }
    assert(e.getMessage.contains("ddl-control-rows"), e.getMessage)
  }

  test("ddl control rows execute rewritten statements before the batch's DML") {
    val snapPath = tmp() + "/snap3"
    val sink = new SnapshotBatchSink(spark, snapPath, Seq("id"))
    val plan = PipelinePlan(name = "p3", pkCols = Seq("id"),
      router = Some(graft.operators.Router.mysql(Seq(graft.operators.Route(
        Seq(graft.operators.SchemaMatcher("db*")),
        Map("schema" -> "tgt", "table" -> "t2"))))),
      checkpoint = tmp())
    val executed = scala.collection.mutable.ArrayBuffer.empty[String]
    val ddlExec = new DdlExecutor { def execute(st: Seq[String]): Unit = executed ++= st }

    val batch = Seq(
      (1L, "insert", "db0", "t", "dml", null.asInstanceOf[String], 1L, "a"),
      (2L, "ddl", "db0", "t", "ddl", "ALTER TABLE t ADD COLUMN c INT", 0L, null.asInstanceOf[String]),
      (3L, "update", "db0", "t", "dml", null.asInstanceOf[String], 1L, "b"))
      .toDF("seq", "op", "database", "table", "type", "ddl_statement", "id", "v")

    PipelineRunner.applyBatch(plan, sink, Some(ddlExec))(batch, 0)
    assert(executed == Seq("ALTER TABLE `tgt`.`t2` ADD COLUMN c INT"))
    // dml applied, ddl row not written as data
    val rows = sink.read().select("id", "v").as[(Long, String)].collect().toSet
    assert(rows.contains((1L, "b")))
    assert(!sink.read().columns.contains("ddl_statement") ||
      sink.read().filter($"type" === "ddl").count() == 0)
  }

  test("two-stage runner: backfill then stream converges") {
    val work = tmp()
    val logDir = work + "/log"
    new java.io.File(logDir).mkdirs()
    logDf((10, "update", "db0", 1, "a9"), (11, "delete", "db0", 2, "b"))
      .coalesce(1).write.mode("append").parquet(logDir)
    val snapshot = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .withColumn("database", lit("db0"))
    val schema = spark.read.parquet(logDir).schema
    val sink = new SnapshotBatchSink(spark, work + "/snap", Seq("id"))
    val plan = PipelinePlan(name = "p4", pkCols = Seq("id"), checkpoint = work + "/ckpt")
    val q = PipelineRunner.runTwoStage(plan, snapshot,
      graft.sources.FileChangeLogSource.readStream(spark, logDir, schema), sink)
    q.awaitTermination()
    assert(sink.read().select("id", "v").as[(Long, String)].collect().toSet ==
      Set((1L, "a9"), (3L, "c")))
  }

  test("killed backfill resumes from durable chunk positions (two-stage stage 1)") {
    val work = tmp()
    val source = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    val sink = new SnapshotBatchSink(spark, work + "/snap", Seq("id"))
    val positions = new graft.sources.BackfillPositions(spark, work + "/ckpt")
    val preds = graft.sources.JdbcChunkedSource.numericPredicates("id", 1, 100, 4)
    val processed = scala.collection.mutable.ArrayBuffer.empty[String]
    def readChunk(pred: String) = { processed += pred; source.where(pred) }
    def applyChunk(die: Boolean)(df: org.apache.spark.sql.DataFrame): Unit = {
      if (die && processed.size == 3) sys.error("killed mid-backfill")
      sink.write(0L, graft.sources.TwoStageSource.backfillAsChangeLog(df))
    }
    // first attempt dies on the 3rd chunk
    intercept[RuntimeException] {
      new graft.sources.ResumableBackfill(positions)
        .run("t", preds, readChunk, applyChunk(die = true))
    }
    assert(!positions.allDone("t"))
    val afterCrash = processed.size
    // resume: only pending chunks run (chunks 1-2 are durably done; the
    // killed chunk 3 re-runs — idempotent sink absorbs the replay)
    val resumed = new graft.sources.ResumableBackfill(positions)
      .run("t", preds, readChunk, applyChunk(die = false))
    assert(resumed == 2 && processed.size == afterCrash + 2)
    assert(positions.allDone("t"))
    assert(sink.read().count() == 100)
    // a fresh run after completion does nothing
    assert(new graft.sources.ResumableBackfill(positions)
      .run("t", preds, readChunk, applyChunk(die = false)) == 0)
  }

  test("kill mid-chunk resumes WITHIN the chunk from the durable cursor") {
    val work = tmp()
    val source = (1L to 60L).map(i => (i, s"v$i")).toDF("id", "v")
    val sink = new SnapshotBatchSink(spark, work + "/snap", Seq("id"))
    val positions = new graft.sources.BackfillPositions(spark, work + "/ckpt")
    // one big chunk, keyset pages of 10 — the straggler-chunk shape
    val preds = Seq("id >= 1 AND id <= 60")
    val pageApplies = scala.collection.mutable.ArrayBuffer.empty[Long]
    def readPage(pred: String, after: Option[String]) = {
      val lower = after.map(a => s"id > $a").getOrElse("1=1")
      source.where(pred).where(lower).orderBy("id").limit(10)
    }
    def applyPage(die: Boolean)(df: org.apache.spark.sql.DataFrame): Unit = {
      if (die && pageApplies.size == 2) sys.error("killed mid-chunk")
      pageApplies += df.count()
      sink.write(0L, graft.sources.TwoStageSource.backfillAsChangeLog(df))
    }
    def maxKey(df: org.apache.spark.sql.DataFrame): String =
      df.agg(max("id")).head().getLong(0).toString

    intercept[RuntimeException] {
      new graft.sources.ResumableBackfill(positions)
        .runPaged("t", preds, readPage, applyPage(die = true), maxKey)
    }
    // two pages (20 keys) durably applied; the cursor survived the kill
    assert(positions.load()(("t", 0)).current.contains("20"))
    val resumed = new graft.sources.ResumableBackfill(positions)
      .runPaged("t", preds, readPage, applyPage(die = false), maxKey)
    assert(resumed == 4) // 4 remaining pages, NOT the whole chunk again
    assert(positions.allDone("t"))
    assert(sink.read().count() == 60)
  }

  test("retrying sink retries transient failures then succeeds") {
    var fails = 2
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val flaky = new BatchSink {
      def write(batchId: Long, df: org.apache.spark.sql.DataFrame): Unit = {
        if (fails > 0) { fails -= 1; sys.error("transient") }
        seen += df.count()
      }
    }
    val retrying = new RetryingSink(flaky, retries = 3, sleepMs = 1)
    retrying.write(0, Seq((1L, "a")).toDF("id", "v"))
    assert(seen == Seq(1L) && fails == 0)
  }

  test("canary probe rides the pipeline, reports lag, never reaches the sink") {
    val work = tmp()
    val logDir = work + "/log"
    new java.io.File(logDir).mkdirs()
    logDf((1, "insert", "db0", 1, "a")).coalesce(1).write.mode("append").parquet(logDir)
    val schema = spark.read.parquet(logDir).schema
    val emittedAt = System.currentTimeMillis() - 1500 // probe emitted 1.5s ago
    Canary.emitProbe(spark, logDir, schema, emittedAt)
    val sink = new SnapshotBatchSink(spark, work + "/snap", Seq("id"))
    val plan = PipelinePlan(name = "p6", pkCols = Seq("id"), checkpoint = work + "/ckpt")
    val tracker = new CanaryTracker
    assert(!tracker.alive(withinMs = 60000))
    val q = PipelineRunner.start(plan,
      graft.sources.FileChangeLogSource.readStream(spark, logDir, schema), sink,
      canary = Some(tracker))
    q.awaitTermination()
    assert(tracker.alive(withinMs = 60000))
    assert(tracker.lagMs.exists(l => l >= 1500 && l < 120000))
    // the probe was measured-then-dropped: only the real row reached the sink
    assert(sink.read().select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("CompositeSink: a failing sink fails the batch only after the other sink finished") {
    val boom = new IllegalStateException("sink a failed")
    val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failing = new BatchSink {
      def write(batchId: Long, df: org.apache.spark.sql.DataFrame): Unit = throw boom
    }
    val slow = new BatchSink {
      def write(batchId: Long, df: org.apache.spark.sql.DataFrame): Unit = {
        Thread.sleep(500)
        assert(df.count() == 2)
        finished.set(true)
      }
    }
    val e = intercept[IllegalStateException] {
      new CompositeSink(Seq(failing, slow)).write(0, logDf(
        (1, "insert", "db0", 1, "a"), (2, "insert", "db0", 2, "b")))
    }
    assert(e eq boom)
    assert(finished.get, "write returned before the other sink finished")
  }

  test("CompositeSink: every sink's jobs run in the caller's job group and cancel with it") {
    val group = "composite-group"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val counting = new BatchSink {
      def write(batchId: Long, df: org.apache.spark.sql.DataFrame): Unit = {
        groups.add(df.sparkSession.sparkContext.getLocalProperty("spark.jobGroup.id"))
        df.count(); ()
      }
    }
    val batch = ChangeLog.lastPerKey(logDf(
      (1, "insert", "db0", 1, "a"), (2, "update", "db0", 1, "b")), Seq("id"))
    val jobs = jobsIn(group)(new CompositeSink(Seq(counting, counting)).write(0, batch))
    assert(groups.asScala.toSeq == Seq(group, group))
    assert(jobs >= 3, s"the checkpoint and one count per sink, saw $jobs jobs in the group")

    // cancelling the group (what StreamingQuery.stop() does to its batch)
    // stops both sinks' running jobs and fails the write
    val blocking = new BatchSink {
      def write(batchId: Long, df: org.apache.spark.sql.DataFrame): Unit =
        df.sparkSession.range(0, 2, 1, 2).foreach(_ => Thread.sleep(60000))
    }
    val sc = spark.sparkContext
    val canceller = new Thread(() => {
      Thread.sleep(2000)
      sc.cancelJobGroup("composite-cancel")
    })
    canceller.start()
    val t0 = System.nanoTime()
    sc.setJobGroup("composite-cancel", "composite-cancel", interruptOnCancel = true)
    try intercept[Exception](new CompositeSink(Seq(blocking, blocking)).write(0, batch))
    finally sc.clearJobGroup()
    canceller.join()
    assert((System.nanoTime() - t0) / 1e9 < 30, "the cancelled sinks kept running")
  }

  test("CompositeSink: a SnapshotSink inside it merges without a copy of its own") {
    val elided = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    graft.sinks.SnapshotSink.elisionProbe = Some((_, e) => { elided.add(e); () })
    try {
      val batch = ChangeLog.lastPerKey(logDf(
        (1, "insert", "db0", 1, "a"), (2, "insert", "db0", 2, "b"),
        (3, "update", "db0", 1, "a2")), Seq("id"))
      val alone = new SnapshotBatchSink(spark, tmp() + "/alone", Seq("id"))
      alone.write(0, batch)
      assert(elided.asScala.toSeq == Seq(false), "a window plan alone needs the copy")
      elided.clear()
      val snap = new SnapshotBatchSink(spark, tmp() + "/snap", Seq("id"))
      val other = new BatchSink {
        def write(batchId: Long, df: org.apache.spark.sql.DataFrame): Unit = { df.count(); () }
      }
      new CompositeSink(Seq(snap, other)).write(0, batch)
      assert(elided.asScala.toSeq == Seq(true))
      assert(snap.read().select("id", "v").as[(Long, String)].collect().toSet ==
        Set((1L, "a2"), (2L, "b")))
    } finally graft.sinks.SnapshotSink.elisionProbe = None
  }

  /** Batch time on this driver-bound path follows the number of Spark
    * jobs a micro-batch runs, so the count is pinned: 8 jobs = the
    * CompositeSink checkpoint (the compaction exchange + the checkpoint),
    * the snapshot's touched-bucket pass and bucketed write (exchange +
    * write), the jdbc sink's target-presence pass and one single-writer
    * write per target.
    */
  test("one snapshot + jdbc micro-batch stays within its Spark job budget") {
    val work = tmp()
    val url = s"jdbc:derby:memory:pjobs${System.nanoTime()};create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try Seq("t_a", "t_b").foreach(t => c.createStatement().execute(
      s"CREATE TABLE $t (id BIGINT PRIMARY KEY, v VARCHAR(16))"))
    finally c.close()
    val plan = graft.plans.PipelineConfig.parse(
      s"""{"name": "p-jobs", "pk": ["id"], "checkpoint": "$work/ckpt",
         | "filters": [{"type": "accept", "match-schema": "db*"}],
         | "routes": [
         |   {"match-schema": "db0", "target-schema": "", "target-table": "t_a"},
         |   {"match-schema": "db1", "target-schema": "", "target-table": "t_b"}]}""".stripMargin)
    val sink = graft.plans.PipelineConfig.parseSinks(spark,
      s"""[{"type": "snapshot", "path": "$work/snap", "buckets": 4, "pk": ["tgt_table", "id"]},
         | {"type": "jdbc", "url": "$url", "engine": "ansi-merge",
         |  "targets": [["", "t_a"], ["", "t_b"]], "introspect-schemas": true,
         |  "num-writers": 1}]""".stripMargin, plan.pkCols)
    val schema = "seq BIGINT, op STRING, database STRING, table STRING, id BIGINT, v STRING"
    def batch(k: Int, rows: Seq[(Long, String, String, String, Long, String)]) = {
      rows.toDF("seq", "op", "database", "table", "id", "v").coalesce(1)
        .write.parquet(s"$work/log/$k")
      spark.read.schema(schema).parquet(s"$work/log/$k")
    }
    // the first batch creates the snapshot; the second is the steady state
    PipelineRunner.applyBatch(plan, sink)(batch(0, (1L to 40L).map(i =>
      (i, "insert", s"db${i % 2}", "t", i, s"v$i"))), 0)
    val second = batch(1, (41L to 80L).map(i =>
      (i, if (i % 5 == 0) "delete" else "update", s"db${i % 2}", "t", i - 40, s"w$i")))
    val jobs = jobsIn("pipeline-job-budget") {
      PipelineRunner.applyBatch(plan, sink)(second, 1)
    }
    assert(jobs <= 8, s"a snapshot + jdbc micro-batch ran $jobs Spark jobs, budget 8")
    // second-batch row i updates (or, every fifth, deletes) key i - 40,
    // whose schema, and so its routed table, has the parity of i
    val want = (1L to 40L).filter(_ % 5 != 0)
      .map(i => (if (i % 2 == 0) "t_a" else "t_b", i, s"w${i + 40}")).toSet
    assert(new graft.sinks.SnapshotSink(spark, s"$work/snap", Seq("tgt_table", "id"), 4).read()
      .select("tgt_table", "id", "v").as[(String, Long, String)].collect().toSet == want)
    val c2 = java.sql.DriverManager.getConnection(url)
    try {
      val got = Seq("t_a", "t_b").flatMap { t =>
        val rs = c2.createStatement().executeQuery(s"SELECT id, v FROM $t")
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => (t, r.getLong(1), r.getString(2))).toList
      }.toSet
      assert(got == want)
    } finally c2.close()
  }

  test("positions: last committed batch readable from checkpoint, reset clears") {
    val work = tmp()
    val logDir = work + "/log"
    new java.io.File(logDir).mkdirs()
    logDf((1, "insert", "db0", 1, "a"), (2, "insert", "db0", 2, "b"))
      .coalesce(1).write.mode("append").parquet(logDir)
    val schema = spark.read.parquet(logDir).schema
    val sink = new SnapshotBatchSink(spark, work + "/snap", Seq("id"))
    val plan = PipelinePlan(name = "p5", pkCols = Seq("id"), checkpoint = work + "/ckpt")
    val q = PipelineRunner.start(plan,
      graft.sources.FileChangeLogSource.readStream(spark, logDir, schema), sink)
    q.awaitTermination()
    assert(Positions.lastCommittedBatch(spark, work + "/ckpt").contains(0L))
    assert(Positions.reset(spark, work + "/ckpt"))
    assert(Positions.lastCommittedBatch(spark, work + "/ckpt").isEmpty)
  }
}
