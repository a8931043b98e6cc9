package graft.sinks

import graft.SparkSpec
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Top-level (no outer-instance capture: Spark serializes task closures
  * even in local mode) recording logger — object singletons deserialize
  * back to themselves, so executor-side events are visible to the test.
  */
private[sinks] object ConflictRecorder extends ConflictLogger {
  val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def log(table: String, op: String, pkValues: Seq[Any]): Unit =
    events.add(s"$op:${pkValues.mkString}")
}

private[sinks] final class FlakyExec(errno: Int) extends StatementExecutor {
  def execute(stmt: RenderedStatement): Array[Int] =
    throw new java.sql.SQLException("boom", "XX000", errno)
}

/** Counts the executors a sink's partitions open (one per connection). */
private[sinks] object ExecCounter {
  val opened = new java.util.concurrent.atomic.AtomicInteger()
}

/** End-to-end tests for the assembled relational sink against embedded
  * Derby (the in-JVM database the environment ships): change batches flow
  * through pk-partitioned ordering, delete isolation, engine rendering and
  * the JDBC executor, and assertions read the final TABLE STATE back.
  */
class JdbcBatchSinkSpec extends SparkSpec {
  import spark.implicits._

  private def freshDb(): String =
    "jdbc:derby:memory:t" + java.util.UUID.randomUUID().toString.replace("-", "") +
      ";create=true"

  private def sql(url: String, stmts: String*): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    try stmts.foreach(c.createStatement().execute) finally c.close()
  }

  private def queryPairs(url: String, q: String): Map[Long, String] = {
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(q)
      val b = scala.collection.mutable.Map.empty[Long, String]
      while (rs.next()) b += rs.getLong(1) -> rs.getString(2)
      b.toMap
    } finally c.close()
  }

  test("upsert sink applies inserts/updates/deletes in per-key seq order") {
    val url = freshDb()
    sql(url, "CREATE TABLE t (id BIGINT PRIMARY KEY, v VARCHAR(16))")
    val log = Seq(
      (1L, "insert", 1L, "a0"),
      (2L, "update", 1L, "a1"), // same key updated later in the batch
      (3L, "insert", 2L, "b0"),
      (4L, "delete", 2L, "b0"), // inserted then deleted within the batch
      (5L, "insert", 3L, "c0"),
      (6L, "delete", 3L, "c0"),
      (7L, "insert", 3L, "c1")  // deleted then re-inserted
    ).toDF("seq", "op", "id", "v")
    val sink = new JdbcBatchSink(
      () => new JdbcStatementExecutor(url),
      AnsiMergeEngine(Seq("id")), Seq("id"), targets = Seq(("", "t")))
    sink.write(0L, log)
    assert(queryPairs(url, "SELECT id, v FROM t") == Map(1L -> "a1", 3L -> "c1"))
  }

  test("routed batch fans out to configured targets; schema reconciliation fills defaults") {
    val url = freshDb()
    sql(url,
      "CREATE TABLE hot (id BIGINT PRIMARY KEY, v VARCHAR(16), src VARCHAR(16))",
      "CREATE TABLE cold (id BIGINT PRIMARY KEY, v VARCHAR(16), src VARCHAR(16))")
    val log = Seq(
      (1L, "insert", 1L, "x", "", "hot"),
      (2L, "insert", 2L, "y", "", "cold"),
      (3L, "update", 1L, "x2", "", "hot")
    ).toDF("seq", "op", "id", "v", "tgt_schema", "tgt_table")
    val tSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("src", StringType))) // src absent from the batch
    val sink = new JdbcBatchSink(
      () => new JdbcStatementExecutor(url),
      AnsiMergeEngine(Seq("id")), Seq("id"),
      targets = Seq(("", "hot"), ("", "cold")),
      targetSchemas = Map(("", "hot") -> tSchema, ("", "cold") -> tSchema),
      columnDefaults = Map("src" -> "cdc"))
    sink.write(0L, log)
    assert(queryPairs(url, "SELECT id, v FROM hot") == Map(1L -> "x2"))
    assert(queryPairs(url, "SELECT id, src FROM hot") == Map(1L -> "cdc"))
    assert(queryPairs(url, "SELECT id, v FROM cold") == Map(2L -> "y"))
  }

  test("ignorable errnos are swallowed, others propagate") {
    val log = Seq((1L, "insert", 1L, "a")).toDF("seq", "op", "id", "v")
    val ok = new JdbcBatchSink(() => new FlakyExec(1062),
      ReplaceEngine, Seq("id"), targets = Seq(("", "t")))
    ok.write(0L, log) // 1062 = duplicate key on replay: ignorable
    val bad = new JdbcBatchSink(() => new FlakyExec(9999),
      ReplaceEngine, Seq("id"), targets = Seq(("", "t")))
    val e = intercept[Exception] { bad.write(0L, log) }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("boom")))
  }

  test("live-introspected target schema reconciles the batch (writable cols only)") {
    val url = freshDb()
    sql(url,
      "CREATE TABLE t (id BIGINT NOT NULL PRIMARY KEY, v VARCHAR(16), " +
        "note VARCHAR(16), rowver BIGINT GENERATED ALWAYS AS IDENTITY)")
    val log = Seq((1L, "insert", 1L, "a"), (2L, "insert", 2L, "b"))
      .toDF("seq", "op", "id", "v") // batch knows nothing of note/rowver
    val sink = new JdbcBatchSink(
      () => new JdbcStatementExecutor(url),
      AnsiMergeEngine(Seq("id")), Seq("id"), targets = Seq(("", "t")),
      schemaFor = Some(graft.core.JdbcSchemaIntrospector.writableFetch(() =>
        java.sql.DriverManager.getConnection(url))),
      numWriters = Some(1))
    sink.write(0L, log)
    assert(queryPairs(url, "SELECT id, v FROM t") == Map(1L -> "a", 2L -> "b"))
    // note was NULL-filled and written; identity column untouched by the
    // sink (excluded from the writable schema) and populated by Derby
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery("SELECT note, rowver FROM t WHERE id = 1")
      rs.next()
      assert(rs.getString(1) == null && rs.getLong(2) >= 1L)
    } finally c.close()
  }

  test("a configured target absent from the batch is neither introspected nor connected to") {
    val url = freshDb()
    sql(url, "CREATE TABLE hot (id BIGINT PRIMARY KEY, v VARCHAR(16))")
    // "idle" has no table at all: introspecting or writing it would fail
    val introspected = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val fetch = graft.core.JdbcSchemaIntrospector.writableFetch(() =>
      java.sql.DriverManager.getConnection(url))
    val sink = new JdbcBatchSink(
      () => { ExecCounter.opened.incrementAndGet(); new JdbcStatementExecutor(url) },
      AnsiMergeEngine(Seq("id")), Seq("id"),
      targets = Seq(("", "idle"), ("", "hot")),
      schemaFor = Some((db, table) => { introspected.add(table); fetch(db, table) }),
      numWriters = Some(4))
    val log = Seq((1L, "insert", 7L, "x", "", "hot"))
      .toDF("seq", "op", "id", "v", "tgt_schema", "tgt_table")
    ExecCounter.opened.set(0)
    sink.write(0L, log)
    assert(queryPairs(url, "SELECT id, v FROM hot") == Map(7L -> "x"))
    assert(introspected.asScala.toSeq == Seq("hot"))
    // four writer partitions, one holding the row: one connection
    assert(ExecCounter.opened.get == 1)
  }

  test("routed targets written concurrently converge to a sequential per-target write") {
    val (together, apart) = (freshDb(), freshDb())
    Seq(together, apart).foreach(u => sql(u,
      "CREATE TABLE ta (id BIGINT PRIMARY KEY, v VARCHAR(16))",
      "CREATE TABLE tb (id BIGINT PRIMARY KEY, v VARCHAR(16))"))
    val targets = Seq(("", "ta"), ("", "tb"))
    def sink(url: String, ts: Seq[(String, String)]) = new JdbcBatchSink(
      () => new JdbcStatementExecutor(url), AnsiMergeEngine(Seq("id")), Seq("id"),
      targets = ts)
    val rnd = new scala.util.Random(7)
    var seq = 0L
    val batches = (0 until 3).map { _ =>
      (1 to 120).map { _ =>
        seq += 1
        val op = Seq("insert", "update", "update", "delete")(rnd.nextInt(4))
        (seq, op, rnd.nextInt(40).toLong, s"v$seq", "", if (rnd.nextBoolean()) "ta" else "tb")
      }
    }
    batches.zipWithIndex.foreach { case (rows, b) =>
      val batch = graft.core.ChangeLog.lastPerKey(
        rows.toDF("seq", "op", "id", "v", "tgt_schema", "tgt_table"),
        Seq("tgt_schema", "tgt_table", "id"))
      sink(together, targets).write(b.toLong, batch)
      targets.foreach(t => sink(apart, Seq(t)).write(b.toLong, batch))
    }
    // last writer wins per (table, id); a final delete removes the key
    val expected = batches.flatten.groupBy(r => (r._6, r._3)).toSeq
      .map { case (k, rs) => k -> rs.maxBy(_._1) }
      .collect { case ((t, id), r) if r._2 != "delete" => (t, id) -> r._4 }.toMap
    def state(url: String) = Seq("ta", "tb").flatMap(t =>
      queryPairs(url, s"SELECT id, v FROM $t").map { case (id, v) => (t, id) -> v }).toMap
    assert(state(together) == state(apart))
    assert(state(together) == expected)
  }

  // ---- conflict-detect execution loop (conflict_engine.go:113-200) -------

  private val derbyConflict = new ConflictDetect(quote = "", nullSafeEq = "=")

  test("conflict loop: matching old image applies; stale image conflicts and skips") {
    val url = freshDb()
    sql(url, "CREATE TABLE t (id BIGINT PRIMARY KEY, v VARCHAR(16))",
      "INSERT INTO t VALUES (1, 'live'), (2, 'live')")
    ConflictRecorder.events.clear()
    val log = Seq(
      // old image matches target -> applies
      (1L, "update", 1L, "new1", Some("live")),
      // old image stale (target says 'live') -> conflict, not applied
      (2L, "update", 2L, "new2", Some("other"))
    ).toDF("seq", "op", "id", "v", "old_v")
    val sink = new ConflictDetectBatchSink(
      () => new JdbcStatementExecutor(url),
      Seq("id"), ("", "t"), derbyConflict, overrideConflict = false, ConflictRecorder)
    sink.write(0L, log)
    assert(queryPairs(url, "SELECT id, v FROM t") == Map(1L -> "new1", 2L -> "live"))
    assert(ConflictRecorder.events.toArray.toSet == Set("update:2"))
  }

  test("conflict loop: override forces the new image through") {
    val url = freshDb()
    sql(url, "CREATE TABLE t (id BIGINT PRIMARY KEY, v VARCHAR(16))",
      "INSERT INTO t VALUES (1, 'live')")
    val log = Seq(
      (1L, "update", 1L, "forced", Some("stale")), // conflicts, then overridden
      (2L, "insert", 1L, "last", None)             // dup insert conflicts...
    ).toDF("seq", "op", "id", "v", "old_v")
    val sink = new ConflictDetectBatchSink(
      () => new JdbcStatementExecutor(url),
      Seq("id"), ("", "t"), derbyConflict, overrideConflict = true)
    sink.write(0L, log)
    // ...and override applies the last image in seq order
    assert(queryPairs(url, "SELECT id, v FROM t") == Map(1L -> "last"))
  }

  test("conflict loop: guarded delete with stale image conflicts; pk fallback guard deletes") {
    val url = freshDb()
    sql(url, "CREATE TABLE t (id BIGINT PRIMARY KEY, v VARCHAR(16))",
      "INSERT INTO t VALUES (1, 'live'), (2, 'live')")
    ConflictRecorder.events.clear()
    val log = Seq(
      (1L, "delete", 1L, "x", Some("stale")), // guard mismatch -> conflict, row stays
      (2L, "delete", 2L, "x", None)           // no old image -> pk guard -> deleted
    ).toDF("seq", "op", "id", "v", "old_v")
    val sink = new ConflictDetectBatchSink(
      () => new JdbcStatementExecutor(url),
      Seq("id"), ("", "t"), derbyConflict, overrideConflict = false, ConflictRecorder)
    sink.write(0L, log)
    assert(queryPairs(url, "SELECT id, v FROM t") == Map(1L -> "live"))
    assert(ConflictRecorder.events.toArray.toSet == Set("delete:1"))
  }

  test("internal txn tagger writes the marker row with the data writes") {
    val url = freshDb()
    sql(url,
      "CREATE TABLE t (id BIGINT PRIMARY KEY, v VARCHAR(16))",
      "CREATE TABLE txn_tags (pipeline_name VARCHAR(64), tagged_at TIMESTAMP)")
    val log = Seq(
      (1L, "insert", 1L, "a"), (2L, "insert", 2L, "b"), (3L, "insert", 3L, "c")
    ).toDF("seq", "op", "id", "v")
    val sink = new JdbcBatchSink(
      () => new JdbcStatementExecutor(url),
      AnsiMergeEngine(Seq("id")), Seq("id"), targets = Seq(("", "t")),
      numWriters = Some(1),
      txnTagger = Some(InternalTxnTagger("txn_tags", "p1")))
    sink.write(0L, log)
    assert(queryPairs(url, "SELECT id, v FROM t") == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    // one marker row per writer-partition transaction, carrying the name
    val c = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(
        "SELECT count(*), min(pipeline_name) FROM txn_tags")
      rs.next()
      assert(rs.getLong(1) == 1L && rs.getString(2) == "p1")
    } finally c.close()
  }

  test("flagship path, streaming: change-log stream -> filter -> compaction -> JDBC target") {
    val url = freshDb()
    sql(url, "CREATE TABLE t (id BIGINT PRIMARY KEY, v VARCHAR(16))")
    val work = java.nio.file.Files.createTempDirectory("jdbc-stream").toString
    val logDir = work + "/log"
    new java.io.File(logDir).mkdirs()
    Seq((1L, "insert", "db0", 1L, "a"), (2L, "insert", "db0", 2L, "b"),
      (3L, "insert", "skipme", 9L, "x"))
      .toDF("seq", "op", "database", "id", "v")
      .coalesce(1).write.mode("append").parquet(logDir)
    Seq((4L, "update", "db0", 1L, "a2"), (5L, "delete", "db0", 2L, "b"))
      .toDF("seq", "op", "database", "id", "v")
      .coalesce(1).write.mode("append").parquet(logDir)
    val schema = spark.read.parquet(logDir).schema
    val tSchema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val sink = new JdbcBatchSink(
      () => new JdbcStatementExecutor(url),
      AnsiMergeEngine(Seq("id")), Seq("id"), targets = Seq(("", "t")),
      targetSchemas = Map(("", "t") -> tSchema), // drops the database col
      numWriters = Some(1))
    val plan = graft.streaming.PipelinePlan(
      name = "jdbc-e2e",
      transforms = Seq(graft.operators.AcceptFilter(
        Seq(graft.operators.SchemaMatcher("db*")))),
      pkCols = Seq("id"), checkpoint = work + "/ckpt")
    val q = graft.streaming.PipelineRunner.start(plan,
      graft.sources.FileChangeLogSource.readStream(spark, logDir, schema,
        maxFilesPerTrigger = Some(1)), sink)
    q.awaitTermination()
    assert(queryPairs(url, "SELECT id, v FROM t") == Map(1L -> "a2"))
  }

  test("ansi merge engine renders per-row MERGE with pk/set/insert arg groups") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    val row = new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      Array[Any](1L, "a"), schema)
    val st = AnsiMergeEngine(Seq("id")).renderWrites("t", schema, Seq(row))
    assert(st.size == 1)
    assert(st.head.sql.contains("MERGE INTO t t USING SYSIBM.SYSDUMMY1"))
    assert(st.head.sql.contains("WHEN MATCHED THEN UPDATE SET v ="))
    assert(st.head.sql.contains("WHEN NOT MATCHED THEN INSERT (id,v)"))
    assert(st.head.args == Seq(Seq(1L, "a", 1L, "a")))
  }
}
