package graft.analytics

import graft.core.{ChangeLog, Tables}
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** CDC pipeline semantics, oracle-checked.
  *
  * A deterministic change-log is synthesized from `orders` (insert per row,
  * update for keys % 3 = 0, delete for keys % 7 = 0, PK-moving update for
  * keys % 11 = 5) so every pipeline stage — filter chain, routing,
  * per-key ordering, last-writer-wins compaction, PK-update split
  * (/root/reference pkg/inputs/mysqlstream/msg.go:170-225) — has an exact
  * relational oracle in DuckDB.
  *
  * The workload shape copies gravity's integration generator: seed rows,
  * then a mix of insert/update/delete including PK updates
  * (pkg/mysql_test/generator.go:143-255).
  */
object CdcQueries {

  private val orderCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  /** The shared synthetic change-log (typed encoding: payload inline). */
  def changeLog(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val inserts = o.select(
      (col("o_orderkey") * 10).as("seq") +: lit("insert").as("op") +: orderCols.map(col): _*)
    val updates = o.filter(col("o_orderkey") % 3 === 0).select(
      (col("o_orderkey") * 10 + 1).as("seq"), lit("update").as("op"),
      col("o_orderkey"), col("o_custkey"), lit("U").as("o_orderstatus"),
      (col("o_totalprice") + 1000).as("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
    val deletes = o.filter(col("o_orderkey") % 7 === 0).select(
      (col("o_orderkey") * 10 + 2).as("seq") +: lit("delete").as("op") +: orderCols.map(col): _*)
    inserts.unionByName(updates).unionByName(deletes)
  }

  /** The change log's oracle form, shared with entries in sibling files
    * (the SQL front-door compaction gate re-uses it verbatim). */
  private[analytics] def oracleLogSql: String = oracleLog

  private val oracleLog: String =
    """SELECT o_orderkey*10 AS seq, 'insert' AS op, o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM orders
      |UNION ALL
      |SELECT o_orderkey*10+1, 'update', o_orderkey, o_custkey, 'U', o_totalprice + 1000, o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 3 = 0
      |UNION ALL
      |SELECT o_orderkey*10+2, 'delete', o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 7 = 0""".stripMargin

  /** Enveloped form: adds database/table discriminators (multi-shard shape). */
  def envelope(s: SparkSession, d: String): DataFrame =
    changeLog(s, d)
      .withColumn("database", concat(lit("db"), col("o_custkey") % 4))
      .withColumn("table", lit("orders"))

  private val oracleEnvelope: String =
    s"""SELECT t.*, 'db' || (o_custkey % 4) AS "database", 'orders' AS "table" FROM ($oracleLog) t"""

  /** Conflict-loop workload over keys k (k%5==0 from `orders`): insert at
    * seq 10k only for EVEN k, update ('U', price+1000) at 10k+1 for k%3==0,
    * delete at 10k+2 for k%7==0; the target is pre-seeded with ('X', 0)
    * rows for k%15==0. Odd-key updates/deletes therefore fire against
    * absent rows, even-key inserts against seeded rows — every branch of
    * the conflict decision table is exercised deterministically.
    */
  private def conflictRun(s: SparkSession, d: String,
      overrideConflict: Boolean): DataFrame = {
    val url = "jdbc:derby:memory:conflict" +
      java.util.UUID.randomUUID().toString.replace("-", "") + ";create=true"
    val setup = java.sql.DriverManager.getConnection(url)
    try setup.createStatement().execute(
      "CREATE TABLE conflict_target (o_orderkey BIGINT PRIMARY KEY, " +
        "o_orderstatus VARCHAR(8), o_totalprice DOUBLE)")
    finally setup.close()

    val o = Tables.orders(s, d).filter(col("o_orderkey") % 5 === 0)
    // seed the "other side's" rows (uppercase aliases: Derby folds
    // unquoted DDL to upper case, and the Spark JDBC writer quotes)
    o.filter(col("o_orderkey") % 15 === 0)
      .select(col("o_orderkey").as("O_ORDERKEY"),
        lit("X").as("O_ORDERSTATUS"), lit(0.0).as("O_TOTALPRICE"))
      .write.mode("append").format("jdbc")
      // explicit driver: resolution via DriverManager.getDriver would hit
      // Spark's stale DriverWrapper after a suite-level Derby engine
      // shutdown (DerbyEngineIsolation) and mis-resolve the class name;
      // the named EmbeddedDriver reboots the engine on connect
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .option("url", url).option("dbtable", "conflict_target").save()

    val k = col("o_orderkey")
    val ins = o.filter(k % 2 === 0).select((k * 10).as("seq"),
      lit("insert").as("op"), k, col("o_orderstatus"), col("o_totalprice"))
    val upd = o.filter(k % 3 === 0).select((k * 10 + 1).as("seq"),
      lit("update").as("op"), k, lit("U").as("o_orderstatus"),
      (col("o_totalprice") + 1000).as("o_totalprice"))
    val del = o.filter(k % 7 === 0).select((k * 10 + 2).as("seq"),
      lit("delete").as("op"), k, col("o_orderstatus"), col("o_totalprice"))
    val log = ins.unionByName(upd).unionByName(del)

    val conflicts = s.sparkContext.longAccumulator("conflicts")
    val sink = new graft.sinks.ConflictDetectBatchSink(
      () => new graft.sinks.JdbcStatementExecutor(url),
      Seq("o_orderkey"), ("", "conflict_target"),
      new graft.sinks.ConflictDetect(quote = "", nullSafeEq = "="),
      overrideConflict = overrideConflict,
      conflictLogger = graft.sinks.ConflictLogger.Counting(conflicts))
    sink.write(0L, log)

    val state = s.read.format("jdbc").option("url", url)
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .option("dbtable", "conflict_target").load()
      .select(col("o_orderkey").cast("long").as("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice").cast("double").as("o_totalprice"))
    // sentinel row carries the conflict count into the gated result
    val sentinel = s.range(1).select(lit(-1L).as("o_orderkey"),
      lit("CONFLICTS").as("o_orderstatus"),
      lit(conflicts.value.toDouble).as("o_totalprice"))
    state.unionByName(sentinel)
  }

  /** Relational spec of [[conflictRun]]: replay the decision table in SQL.
    * A row exists at update time iff seeded or inserted; at delete time
    * additionally iff an overridden update force-inserted it.
    */
  private def conflictOracle(overrideConflict: Boolean): String = {
    val presentAtDelete =
      if (overrideConflict) "(seeded OR ins OR upd)" else "(seeded OR ins)"
    val finalRows =
      if (overrideConflict)
        // log wins everywhere: delete drops, update's image sticks, the
        // insert image sticks on seeded keys too
        """SELECT k AS o_orderkey,
          |    CASE WHEN upd THEN 'U' ELSE st END AS o_orderstatus,
          |    CASE WHEN upd THEN p + 1000 ELSE p END AS o_totalprice
          |  FROM f WHERE NOT del AND (upd OR ins)""".stripMargin
      else
        // conflicts skip: seeded keys keep the seed unless a (guarded)
        // update legitimately applied; updates on absent rows vanish
        """SELECT k AS o_orderkey,
          |    CASE WHEN upd THEN 'U' WHEN ins THEN st ELSE 'X' END AS o_orderstatus,
          |    CASE WHEN upd THEN p + 1000 WHEN ins THEN p ELSE 0.0 END AS o_totalprice
          |  FROM f WHERE NOT del AND (seeded OR ins)""".stripMargin
    s"""WITH k5 AS (SELECT o_orderkey AS k, o_orderstatus AS st, o_totalprice AS p
       |  FROM orders WHERE o_orderkey % 5 = 0),
       |f AS (SELECT k, st, p, k % 15 = 0 AS seeded, k % 2 = 0 AS ins,
       |    k % 3 = 0 AS upd, k % 7 = 0 AS del FROM k5),
       |fin AS ($finalRows),
       |conflicts AS (SELECT count(*) AS n FROM f
       |  WHERE (ins AND seeded) OR (upd AND NOT (seeded OR ins))
       |     OR (del AND NOT $presentAtDelete))
       |SELECT * FROM fin
       |UNION ALL
       |SELECT -1 AS o_orderkey, 'CONFLICTS' AS o_orderstatus,
       |  CAST((SELECT n FROM conflicts) AS DOUBLE) AS o_totalprice""".stripMargin
  }

  def all: Seq[CatalogQuery] = Seq(
    CatalogQuery("cdc_changelog_synth", (s, d) => changeLog(s, d), Some(oracleLog)),

    // last-writer-wins snapshot materialization — "apply the CDC log";
    // replaces the scheduler's per-key latch replay (SURVEY §2.4) with one
    // pk-shuffle + window. The canonical composite op.
    CatalogQuery("cdc_compact_snapshot", (s, d) =>
      ChangeLog.compact(changeLog(s, d), Seq("o_orderkey")).drop("seq", "op"),
      Some(
        s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
           |FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
           |      FROM ($oracleLog) log) t
           |WHERE rn = 1 AND op <> 'delete'""".stripMargin), bench = true),

    // final-state-per-key including deletes — the batch a REPLACE-engine
    // sink needs (pkg/sql_execution_engine/mysql_replace_engine.go:59-88)
    CatalogQuery("cdc_last_per_key", (s, d) =>
      ChangeLog.lastPerKey(changeLog(s, d), Seq("o_orderkey")),
      Some(
        s"""SELECT seq, op, o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
           |FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
           |FROM ($oracleLog) log) t WHERE rn = 1""".stripMargin)),

    // accept filter: matcher group = schema glob AND op set (SURVEY §2.2/2.3)
    CatalogQuery("cdc_filter_accept", (s, d) => {
      val chain = TransformChain(Seq(
        AcceptFilter(Seq(
          SchemaMatcher("db1"),
          TableMatcher(Seq("ord*")),
          DmlOpMatcher(Seq("insert", "update"))))))
      chain(envelope(s, d))
    }, Some(
      s"""SELECT * FROM ($oracleEnvelope) e
         |WHERE "database" LIKE 'db1' AND "table" LIKE 'ord%' AND op IN ('insert','update')""".stripMargin)),

    // reject filter (blacklist): drop one shard
    CatalogQuery("cdc_filter_reject", (s, d) => {
      val chain = TransformChain(Seq(RejectFilter(Seq(SchemaMatcher("db0")))))
      chain(envelope(s, d))
    }, Some(
      s"""SELECT * FROM ($oracleEnvelope) e WHERE NOT ("database" LIKE 'db0')""".stripMargin)),

    // delete-dml-column + rename-dml-column on the typed stream
    CatalogQuery("cdc_filter_delete_rename_cols", (s, d) => {
      val chain = TransformChain(Seq(
        DeleteColumnsFilter(Seq("o_orderpriority")),
        RenameColumnsFilter(Seq("o_totalprice"), Seq("amount"))))
      chain(changeLog(s, d))
    }, Some(
      s"""SELECT seq, op, o_orderkey, o_custkey, o_orderstatus, o_totalprice AS amount, o_orderdate
         |FROM ($oracleLog) log""".stripMargin)),

    // router: first-match-wins target assignment (SURVEY §2.5)
    CatalogQuery("cdc_route_targets", (s, d) => {
      val router = Router.mysql(Seq(
        Route(Seq(SchemaMatcher("db0")), Map("schema" -> "cold", "table" -> "orders_cold")),
        Route(Seq(SchemaMatcher("db*"), DmlOpMatcher(Seq("delete"))), Map("schema" -> "tombstones", "table" -> "*")),
        Route(Seq(SchemaMatcher("db2")), Map("schema" -> "hot", "table" -> "orders_hot"))))
      router.assign(envelope(s, d))
        .select(col("seq"), col("database"), col("table"), col("op"),
          col("tgt_schema"), col("tgt_table"))
    }, Some(
      s"""SELECT seq, "database", "table", op,
         |  CASE WHEN "database" LIKE 'db0' THEN 'cold'
         |       WHEN "database" LIKE 'db%' AND op = 'delete' THEN 'tombstones'
         |       WHEN "database" LIKE 'db2' THEN 'hot'
         |       ELSE "database" END AS tgt_schema,
         |  CASE WHEN "database" LIKE 'db0' THEN 'orders_cold'
         |       WHEN "database" LIKE 'db%' AND op = 'delete' THEN "table"
         |       WHEN "database" LIKE 'db2' THEN 'orders_hot'
         |       ELSE "table" END AS tgt_table
         |FROM ($oracleEnvelope) e""".stripMargin)),

    // PK-update split: update moving the key → delete(old)+insert(new),
    // delete sequenced first (msg.go:170-225)
    CatalogQuery("cdc_pk_update_split", (s, d) => {
      val o = Tables.orders(s, d)
      val base = o.select(
        (col("o_orderkey") * 10).as("seq") +: lit("insert").as("op") +:
          lit(null).cast("long").as("old_o_orderkey") +: orderCols.map(col): _*)
      val pkMoves = o.filter(col("o_orderkey") % 11 === 5).select(
        (col("o_orderkey") * 10 + 1).as("seq"), lit("update").as("op"),
        col("o_orderkey").as("old_o_orderkey"),
        (col("o_orderkey") + 10000000L).as("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
      ChangeLog.splitPkUpdate(base.unionByName(pkMoves), Seq("o_orderkey"))
    }, Some(
      s"""SELECT o_orderkey*20 AS seq, 'insert' AS op, o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM orders
         |UNION ALL
         |SELECT (o_orderkey*10+1)*2, 'delete', o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 11 = 5
         |UNION ALL
         |SELECT (o_orderkey*10+1)*2+1, 'insert', o_orderkey + 10000000, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 11 = 5""".stripMargin)),

    // dependency-hash partitioning: per-key xxhash64 (msg.go:472-475) —
    // Spark's xxhash64 differs from DuckDB's hash, so the oracle checks the
    // partition-distribution invariant (count per key) rather than raw hashes
    CatalogQuery("cdc_dep_hash_groups", (s, d) =>
      changeLog(s, d)
        .withColumn("dep_hash", ChangeLog.depHash(Seq("o_orderkey")))
        .groupBy(col("o_orderkey"))
        .agg(countDistinct(col("dep_hash")).as("n_hashes"), count(lit(1)).as("n_msgs")),
      Some(
        s"""SELECT o_orderkey, 1::BIGINT AS n_hashes, count(*) AS n_msgs
           |FROM ($oracleLog) log GROUP BY o_orderkey""".stripMargin)),

    // delta-update compaction (Mongo oplog semantics): updates carry only
    // the changed column; final image = last non-null per column
    CatalogQuery("cdc_compact_delta_updates", (s, d) => {
      val o = Tables.orders(s, d)
      val inserts = o.select(
        (col("o_orderkey") * 10).as("seq"), lit("insert").as("op"),
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      // delta 1: price-only change; delta 2: status-only change
      val priceDeltas = o.filter(col("o_orderkey") % 3 === 0).select(
        (col("o_orderkey") * 10 + 1).as("seq"), lit("update").as("op"),
        col("o_orderkey"), lit(null).cast("string").as("o_orderstatus"),
        (col("o_totalprice") + 500).as("o_totalprice"))
      val statusDeltas = o.filter(col("o_orderkey") % 4 === 0).select(
        (col("o_orderkey") * 10 + 2).as("seq"), lit("update").as("op"),
        col("o_orderkey"), lit("D").as("o_orderstatus"),
        lit(null).cast("double").as("o_totalprice"))
      ChangeLog.compactDeltas(
        inserts.unionByName(priceDeltas).unionByName(statusDeltas),
        Seq("o_orderkey"), Seq("o_orderstatus", "o_totalprice"))
        .drop("seq", "op")
    }, Some(
      """WITH log AS (
        |  SELECT o_orderkey*10 AS seq, 'insert' AS op, o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT o_orderkey*10+1, 'update', o_orderkey, NULL, o_totalprice + 500 FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey*10+2, 'update', o_orderkey, 'D', NULL FROM orders WHERE o_orderkey % 4 = 0),
        |filled AS (
        |  SELECT seq, op, o_orderkey,
        |    last_value(o_orderstatus IGNORE NULLS) OVER w AS o_orderstatus,
        |    last_value(o_totalprice IGNORE NULLS) OVER w AS o_totalprice
        |  FROM log
        |  WINDOW w AS (PARTITION BY o_orderkey ORDER BY seq ROWS UNBOUNDED PRECEDING))
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        |  FROM filled) t
        |WHERE rn = 1 AND op <> 'delete'""".stripMargin)),

    // SCD2 history materialization: each change becomes a validity
    // interval (valid_from_seq, valid_to_seq]; open interval = current —
    // the audit-trail twin of snapshot compaction
    // ---- schema evolution mid-stream: ADD COLUMN then compact -------------
    // The replication-side contract for in-stream DDL (SURVEY §1.2): rows
    // emitted BEFORE the ALTER lack the new column, rows after carry it.
    // The pre-DDL epoch is reconciled to the evolved schema by the SHIPPED
    // AddMissingColumns operator (NULL-filled, reference
    // add_missing_column.go:10-30), then the ordinary seq-LWW compaction
    // produces the evolved snapshot: keys last written before the DDL show
    // NULL, keys rewritten after show their value — exactly what a MySQL
    // replica displays after ALTER TABLE ADD COLUMN.
    CatalogQuery("cdc_schema_evolution_state", (s, d) => {
      val preDdl = changeLog(s, d).filter(col("op") === "insert")
      val evolved = org.apache.spark.sql.types.StructType(
        preDdl.schema.fields :+ org.apache.spark.sql.types.StructField(
          "o_channel", org.apache.spark.sql.types.StringType))
      val postDdl = Tables.orders(s, d).filter(col("o_orderkey") % 3 === 0).select(
        (col("o_orderkey") * 10 + 1).as("seq"), lit("update").as("op"),
        col("o_orderkey"), col("o_custkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") + 1000).as("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority"),
        when(col("o_orderkey") % 2 === 0, lit("web")).otherwise(lit("store"))
          .as("o_channel"))
      val log = AddMissingColumns(evolved)(preDdl).unionByName(postDdl)
      ChangeLog.compact(log, Seq("o_orderkey")).drop("seq", "op")
    }, Some(
      """WITH log AS (
        |  SELECT o_orderkey*10 AS seq, 'insert' AS op, o_orderkey, o_custkey,
        |    o_orderstatus, o_totalprice, o_orderdate, o_orderpriority,
        |    NULL::VARCHAR AS o_channel
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey*10+1, 'update', o_orderkey, o_custkey, 'U',
        |    o_totalprice + 1000, o_orderdate, o_orderpriority,
        |    CASE WHEN o_orderkey % 2 = 0 THEN 'web' ELSE 'store' END
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
        |  o_orderpriority, o_channel
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        |      FROM log) t
        |WHERE rn = 1 AND op <> 'delete'""".stripMargin)),

    // In-stream schema evolution beyond ADD COLUMN: a RENAME epoch then a
    // DROP epoch (reference ALTER handling pkg/outputs/mysql/mysql.go:
    // 246-392 — rename preserves the stored values under the new name,
    // drop discards the column for history and future alike). Three
    // epochs with genuinely different physical schemas are reconciled to
    // the final shape BEFORE seq-LWW compaction, each epoch's fixup
    // expressed with the filter-chain operators themselves
    // (RenameColumnsFilter / DeleteColumnsFilter): epoch-0 rows surface
    // o_orderpriority as o_priority and lose o_orderdate; epoch-1 rows
    // (post-rename) lose o_orderdate; epoch-2 rows are already final.
    CatalogQuery("cdc_schema_evolution_drop_rename", (s, d) => {
      val ddl1 = "ALTER TABLE orders RENAME COLUMN o_orderpriority TO o_priority"
      val ddl2 = "ALTER TABLE orders DROP COLUMN o_orderdate"
      require(graft.sinks.DdlRewriter.classify(ddl1) == graft.sinks.DdlRewriter.AlterTable
        && graft.sinks.DdlRewriter.classify(ddl2) == graft.sinks.DdlRewriter.AlterTable)
      val o = Tables.orders(s, d)
      // epoch 0: original schema (inserts)
      val e0 = o.select((col("o_orderkey") * 10).as("seq"), lit("insert").as("op"),
        col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
      // epoch 1: after the RENAME (updates, %3 keys)
      val e1 = o.filter(col("o_orderkey") % 3 === 0).select(
        (col("o_orderkey") * 10 + 1).as("seq"), lit("update").as("op"),
        col("o_orderkey"), col("o_custkey"), lit("U1").as("o_orderstatus"),
        (col("o_totalprice") + 1000).as("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority").as("o_priority"))
      // epoch 2: after the DROP too (updates, %5 keys)
      val e2 = o.filter(col("o_orderkey") % 5 === 0).select(
        (col("o_orderkey") * 10 + 2).as("seq"), lit("update").as("op"),
        col("o_orderkey"), col("o_custkey"), lit("U2").as("o_orderstatus"),
        (col("o_totalprice") + 2000).as("o_totalprice"),
        col("o_orderpriority").as("o_priority"))
      val rename = RenameColumnsFilter(Seq("o_orderpriority"), Seq("o_priority"))
      val dropDate = DeleteColumnsFilter(Seq("o_orderdate"))
      val log = dropDate(rename(e0))
        .unionByName(dropDate(e1))
        .unionByName(e2)
      ChangeLog.compact(log, Seq("o_orderkey")).drop("seq", "op")
    }, Some(
      """WITH log AS (
        |  SELECT o_orderkey*10 AS seq, 'insert' AS op, o_orderkey, o_custkey,
        |    o_orderstatus, o_totalprice, o_orderpriority AS o_priority
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey*10+1, 'update', o_orderkey, o_custkey, 'U1',
        |    o_totalprice + 1000, o_orderpriority
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderkey*10+2, 'update', o_orderkey, o_custkey, 'U2',
        |    o_totalprice + 2000, o_orderpriority
        |  FROM orders WHERE o_orderkey % 5 = 0)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_priority
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        |      FROM log) t
        |WHERE rn = 1 AND op <> 'delete'""".stripMargin)),

    // STREAMING consistency checker (dcp/checker/checker.go:11-150): two
    // tagged change streams ride ONE real micro-batched file stream.
    // Barriers are event-time windows (barrier n = second n) closed by
    // the watermark — dcp's buffer.go segments at barrier messages; here
    // a literal barrier-close sentinel at maxBarrier+1 flushes the last
    // window. The checker's per-payload-id checksum-list compare and
    // Same/Diff/Timeout verdicts are the batch rollup over the emitted
    // segments; a target segment arriving only AFTER its window closed
    // (injected via file modification order) stays late-dropped and
    // reports `timeout`, like checker.go's time.After branch. Injected
    // faults: dst drops keys %2111==7 (missing), corrupts checksums
    // %1999==3 (diff), and delays ALL of barrier 5 (timeout).
    CatalogQuery("vrf_stream_consistency", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val work = Q.scratch("dcp")
      def writeOne(df: DataFrame, name: String, modMs: Long): Unit = {
        val stage = s"$work/stage_$name"
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
        val dest = java.nio.file.Paths.get(s"$work/in/$name.parquet")
        java.nio.file.Files.createDirectories(dest.getParent)
        java.nio.file.Files.move(part.toPath, dest)
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(modMs))
      }
      val chk = md5(concat_ws("|", col("op"), col("o_orderkey"),
        col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").cast("string"),
        col("o_orderdate").cast("string")))
      val base = changeLog(s, d).select(
        expr("seq div 2000").cast("long").as("barrier"),
        col("o_orderkey").cast("string").as("payload_id"),
        col("seq").as("ord"), chk.as("checksum"), col("o_orderkey"))
      val cols = Seq(col("tag"), col("barrier"), col("payload_id"), col("ord"), col("checksum"))
      val src = base.withColumn("tag", lit("src")).select(cols: _*)
      val dstAll = base
        .filter(col("o_orderkey") % 2111 =!= 7)
        .withColumn("checksum",
          when(col("o_orderkey") % 1999 === 3, md5(col("checksum")))
            .otherwise(col("checksum")))
        .withColumn("tag", lit("dst")).select(cols: _*)
      val maxB = base.agg(max(col("barrier"))).head.getLong(0)
      val sentinels = s.createDataFrame(Seq(
        ("src", maxB + 1, "_close", 0L, "x"), ("dst", maxB + 1, "_close", 1L, "x")))
        .toDF("tag", "barrier", "payload_id", "ord", "checksum")
      writeOne(src.unionByName(dstAll.filter(col("barrier") =!= 5)), "a_msgs", 1000000L)
      writeOne(sentinels, "b_barrier", 2000000L)
      writeOne(dstAll.filter(col("barrier") === 5), "c_late", 3000000L)
      // tuned dcp state-store seat (measured on a trickle of tiny
      // micro-batches: RocksDB + changelog checkpointing +
      // key-count-sized state partitions cut the per-batch commit floor
      // 1.15 s -> 0.46 s at identical verdicts), scoped to a cloned
      // session
      val s2 = s.newSession()
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      s2.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      s2.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      val stream = s2.readStream.schema(sentinels.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$work/in")
      val q = graft.tools.StreamConsistency.segmentChecks(stream)
        .writeStream.format("parquet")
        .option("path", s"$work/out")
        .option("checkpointLocation", s"$work/ckpt")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.tools.StreamConsistency.verdicts(
        s.read.parquet(s"$work/out"), "src", "dst")
    }, Some(
      s"""WITH log AS ($oracleLog),
         |m AS (SELECT seq // 2000 AS barrier, CAST(o_orderkey AS VARCHAR) AS payload_id,
         |    seq AS ord,
         |    md5(concat_ws('|', op, o_orderkey, o_orderstatus,
         |      CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR),
         |      CAST(o_orderdate AS VARCHAR))) AS chk,
         |    o_orderkey
         |  FROM log),
         |sA AS (SELECT barrier AS segment, payload_id, list(chk ORDER BY ord) AS sc
         |  FROM m GROUP BY 1, 2),
         |dA AS (SELECT barrier AS segment, payload_id,
         |    list(CASE WHEN o_orderkey % 1999 = 3 THEN md5(chk) ELSE chk END ORDER BY ord) AS dc
         |  FROM m WHERE o_orderkey % 2111 <> 7 AND barrier <> 5 GROUP BY 1, 2),
         |j AS (SELECT coalesce(sA.segment, dA.segment) AS segment, sc, dc
         |  FROM sA FULL JOIN dA ON sA.segment = dA.segment AND sA.payload_id = dA.payload_id)
         |SELECT segment,
         |  count(sc) AS n_ids, count(dc) AS n_target,
         |  count(CASE WHEN sc IS NOT NULL AND dc IS NULL THEN 1 END) AS n_missing,
         |  count(CASE WHEN sc IS NULL AND dc IS NOT NULL THEN 1 END) AS n_extra,
         |  count(CASE WHEN sc IS NOT NULL AND dc IS NOT NULL AND sc <> dc THEN 1 END) AS n_diff,
         |  CASE WHEN count(dc) = 0 AND count(sc) > 0 THEN 'timeout'
         |       WHEN count(CASE WHEN sc IS NOT NULL AND dc IS NULL THEN 1 END)
         |          + count(CASE WHEN sc IS NULL AND dc IS NOT NULL THEN 1 END)
         |          + count(CASE WHEN sc IS NOT NULL AND dc IS NOT NULL AND sc <> dc THEN 1 END) = 0
         |       THEN 'same' ELSE 'diff' END AS status
         |FROM j GROUP BY segment""".stripMargin)),

    CatalogQuery("cdc_scd2_history", (s, d) => {
      val w = Window.partitionBy(col("o_orderkey")).orderBy(col("seq"))
      changeLog(s, d)
        .withColumn("valid_to_seq", lead(col("seq"), 1).over(w))
        .withColumn("is_current", col("valid_to_seq").isNull && col("op") =!= "delete")
        .select(col("o_orderkey"), col("seq").as("valid_from_seq"),
          col("valid_to_seq"), col("op"), col("o_totalprice"), col("is_current"))
    }, Some(
      s"""SELECT o_orderkey, seq AS valid_from_seq,
         |  lead(seq) OVER w AS valid_to_seq, op, o_totalprice,
         |  (lead(seq) OVER w IS NULL AND op <> 'delete') AS is_current
         |FROM ($oracleLog) log
         |WINDOW w AS (PARTITION BY o_orderkey ORDER BY seq)""".stripMargin)),

    // SCD2 point-in-time lookup: resolve each probe (key, position)
    // against the version valid AT that position — the "what did this
    // row look like when the fact happened" join every temporal pipeline
    // runs, here through the NATIVE as-of operator (plans.AsOfJoin: one
    // shuffle per side, sorted single-pass merge, O(1) memory per
    // partition) on the version axis instead of a timestamp. Two probes
    // per key straddle the history: 'mid' (after insert/update, before
    // delete) and 'end' (after everything, so deleted keys surface their
    // delete version — the caller's tombstone signal).
    CatalogQuery("cdc_scd2_asof_lookup", (s, d) => {
      val hist = changeLog(s, d).select(col("o_orderkey").as("h_key"),
        col("seq").as("version_seq"), col("op"),
        col("o_totalprice").as("price_at"))
      val probes = Tables.orders(s, d).select(col("o_orderkey"),
          (col("o_orderkey") * 10 + 1).as("probe_seq"), lit("mid").as("probe_tag"))
        .unionByName(Tables.orders(s, d).select(col("o_orderkey"),
          (col("o_orderkey") * 10 + 9).as("probe_seq"), lit("end").as("probe_tag")))
      graft.plans.AsOf.join(probes, hist, Seq("o_orderkey"), Seq("h_key"),
        "probe_seq", "version_seq")
        .select(col("o_orderkey"), col("probe_tag"), col("probe_seq"),
          col("version_seq"), col("op"), col("price_at"))
    }, Some(
      s"""WITH log AS ($oracleLog),
         |probes AS (
         |  SELECT o_orderkey, o_orderkey*10+1 AS probe_seq, 'mid' AS probe_tag
         |  FROM orders
         |  UNION ALL
         |  SELECT o_orderkey, o_orderkey*10+9, 'end' FROM orders),
         |v AS (
         |  SELECT p.o_orderkey, p.probe_tag, p.probe_seq,
         |    (SELECT max(l.seq) FROM log l
         |     WHERE l.o_orderkey = p.o_orderkey AND l.seq <= p.probe_seq)
         |      AS version_seq
         |  FROM probes p)
         |SELECT v.o_orderkey, v.probe_tag, v.probe_seq, v.version_seq,
         |  l.op, l.o_totalprice AS price_at
         |FROM v JOIN log l
         |  ON l.o_orderkey = v.o_orderkey AND l.seq = v.version_seq""".stripMargin)),

    // consistency verifier (cmd/verifier / dcp analogue): full-outer keyed
    // diff of source vs a deterministically-perturbed target
    CatalogQuery("vrf_row_diff", (s, d) => {
      val src = Tables.orders(s, d)
      val tgt = src.filter(col("o_orderkey") % 97 =!= 0) // missing rows
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 89 === 0, col("o_totalprice") + 1)
            .otherwise(col("o_totalprice"))) // mismatched rows
        .unionByName(src.filter(col("o_orderkey") % 101 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 5000000L)) // extra rows
      graft.tools.Consistency.diff(src, tgt, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("status"))
    }, Some(
      """WITH tgt AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 89 = 0 THEN o_totalprice + 1 ELSE o_totalprice END AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 5000000, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 101 = 0)
        |SELECT coalesce(s.o_orderkey, t.o_orderkey) AS o_orderkey,
        |  CASE WHEN t.o_orderkey IS NULL THEN 'missing_in_target'
        |       WHEN s.o_orderkey IS NULL THEN 'missing_in_source'
        |       ELSE 'mismatch' END AS status
        |FROM orders s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey
        |WHERE t.o_orderkey IS NULL OR s.o_orderkey IS NULL
        |   OR NOT (s.o_custkey = t.o_custkey AND s.o_orderstatus = t.o_orderstatus
        |       AND s.o_totalprice = t.o_totalprice AND s.o_orderdate = t.o_orderdate
        |       AND s.o_orderpriority = t.o_orderpriority)""".stripMargin)),

    // map-encoded (enveloped) filter chain, oracle-gated: delete/rename of
    // MAP payload keys gated per matcher group — the multi-table wire
    // shape (rdb_json.go). Outputs are scalar extractions because map
    // columns cannot be hash-compared; the oracle computes the expected
    // post-filter values relationally.
    CatalogQuery("cdc_filter_enveloped_maps", (s, d) => {
      val env = envelope(s, d).select(col("seq"), col("database"),
        map(
          lit("o_orderstatus"), col("o_orderstatus"),
          lit("o_custkey"), col("o_custkey").cast("string"),
          lit("o_orderpriority"), col("o_orderpriority")).as("data"),
        map(lit("o_custkey"), col("o_custkey").cast("string")).as("pks"),
        expr("map()").cast("map<string,string>").as("old"))
      val chain = TransformChain(Seq(
        DeleteColumnsFilter(Seq("o_orderpriority"),
          Seq(SchemaMatcher("db1")), enveloped = true),
        RenameColumnsFilter(Seq("o_custkey"), Seq("ck"),
          Seq(SchemaMatcher("db*")), enveloped = true)))
      chain(env).select(col("seq"), col("database"),
        size(col("data")).cast("long").as("n_keys"),
        element_at(col("data"), "ck").as("ck"),
        element_at(col("data"), "o_orderpriority").as("prio"),
        element_at(col("pks"), "ck").as("pk_ck"))
    }, Some(
      s"""SELECT seq, "database",
         |  CAST(CASE WHEN "database" = 'db1' THEN 2 ELSE 3 END AS BIGINT) AS n_keys,
         |  CAST(o_custkey AS VARCHAR) AS ck,
         |  CASE WHEN "database" = 'db1' THEN NULL ELSE o_orderpriority END AS prio,
         |  CAST(o_custkey AS VARCHAR) AS pk_ck
         |FROM ($oracleEnvelope) e""".stripMargin)),

    // sidecar filter with a REAL process boundary, oracle-gated: rows leave
    // the JVM as JSON lines, an external `sed` rewrites a payload value,
    // and the result re-enters the frame (grpc_sidecar_filter.go:83-133 —
    // the reference ships rows to a user binary the same way)
    CatalogQuery("cdc_sidecar_transform", (s, d) => {
      val filter = graft.operators.ProcessSidecarFilter(
        Seq("sed", "s/\"o_orderstatus\":\"O\"/\"o_orderstatus\":\"OPEN\"/"))
      filter(changeLog(s, d).select("seq", "op", "o_orderkey", "o_orderstatus"))
    }, Some(
      s"""SELECT seq, op, o_orderkey,
         |  CASE WHEN o_orderstatus = 'O' THEN 'OPEN' ELSE o_orderstatus END AS o_orderstatus
         |FROM ($oracleLog) log""".stripMargin)),

    // sidecar over gravity's OWN wire contract, oracle-gated: every row
    // crosses into a separate JVM as protobuf msgpb FilterRequest bytes
    // (protocol/msgpb/message.proto) and returns as FilterResponse —
    // mutation (O -> OPEN) AND the continueNext=false drop path
    // (op='delete') both exercised through real frames. The sidecar
    // process speaks only the wire format; graft.operators.MsgPb is the
    // hand-rolled codec (TidbProto-style, no protobuf dependency).
    CatalogQuery("cdc_sidecar_msgpb", (s, d) => {
      val filter = graft.operators.MsgPbSidecarFilter(Seq(
        s"${sys.props("java.home")}/bin/java",
        "-cp", sys.props("java.class.path"),
        "graft.operators.MsgPbStatusSidecar"))
      val env = changeLog(s, d).select(col("seq"), col("op"),
        lit("db1").as("database"), lit("orders").as("table"),
        map(lit("o_orderstatus"), col("o_orderstatus")).as("data"),
        expr("map()").cast("map<string,string>").as("old"),
        map(lit("o_orderkey"), col("o_orderkey").cast("string")).as("pks"))
      filter(env).select(col("seq"), col("op"),
        element_at(col("pks"), "o_orderkey").cast("long").as("o_orderkey"),
        element_at(col("data"), "o_orderstatus").as("o_orderstatus"))
    }, Some(
      s"""SELECT seq, op, o_orderkey,
         |  CASE WHEN o_orderstatus = 'O' THEN 'OPEN' ELSE o_orderstatus END AS o_orderstatus
         |FROM ($oracleLog) log WHERE op <> 'delete'""".stripMargin)),

    // the SAME filter contract over gravity's ACTUAL transport: the
    // plugin binary is launched through the hashicorp go-plugin
    // handshake (magic cookie env, `1|1|tcp|addr|grpc` stdout line,
    // grpc_sidecar_filter.go:92-115) and every row is one synchronous
    // gRPC Filter rpc over hand-rolled HTTP/2+HPACK (GrpcWire). Oracle
    // identical to cdc_sidecar_msgpb — byte-identical msgpb messages,
    // different wire. Coalesced to 2 partitions = 2 plugin processes,
    // the per-task plugin topology the reference runs.
    CatalogQuery("cdc_sidecar_grpc", (s, d) => {
      val filter = graft.operators.GrpcSidecarFilter(Seq(
        s"${sys.props("java.home")}/bin/java",
        "-cp", sys.props("java.class.path"),
        "graft.operators.MsgPbGrpcSidecar"),
        configureData = Map("name" -> "status-rewriter"))
      val env = changeLog(s, d).coalesce(2).select(col("seq"), col("op"),
        lit("db1").as("database"), lit("orders").as("table"),
        map(lit("o_orderstatus"), col("o_orderstatus")).as("data"),
        expr("map()").cast("map<string,string>").as("old"),
        map(lit("o_orderkey"), col("o_orderkey").cast("string")).as("pks"))
      filter(env).select(col("seq"), col("op"),
        element_at(col("pks"), "o_orderkey").cast("long").as("o_orderkey"),
        element_at(col("data"), "o_orderstatus").as("o_orderstatus"))
    }, Some(
      s"""SELECT seq, op, o_orderkey,
         |  CASE WHEN o_orderstatus = 'O' THEN 'OPEN' ELSE o_orderstatus END AS o_orderstatus
         |FROM ($oracleLog) log WHERE op <> 'delete'""".stripMargin)),

    // END-TO-END sink check: the synthesized change-log flows through the
    // assembled JdbcBatchSink (pk-partitioned order → delete isolation →
    // engine render → StatementExecutor) into an embedded Derby database,
    // and the check reads the TABLE STATE back over JDBC — the oracle is
    // the relational spec of "apply the log" (LWW compact). This is the
    // reference's CHECKSUM-TABLE-style integration test
    // (pkg/mysql_test/generator.go:257-282) as a gated oracle entry.
    CatalogQuery("cdc_jdbc_sink_state", (s, d) => {
      val url = "jdbc:derby:memory:graftsink" +
        java.util.UUID.randomUUID().toString.replace("-", "") + ";create=true"
      val setup = java.sql.DriverManager.getConnection(url)
      try setup.createStatement().execute(
        "CREATE TABLE target_orders (o_orderkey BIGINT PRIMARY KEY, " +
          "o_orderstatus VARCHAR(8), o_totalprice DOUBLE)")
      finally setup.close()
      val log = changeLog(s, d).filter(col("o_orderkey") % 5 === 0)
        .select("seq", "op", "o_orderkey", "o_orderstatus", "o_totalprice")
      val sink = new graft.sinks.JdbcBatchSink(
        () => new graft.sinks.JdbcStatementExecutor(url),
        graft.sinks.AnsiMergeEngine(Seq("o_orderkey")),
        Seq("o_orderkey"),
        targets = Seq(("", "target_orders")),
        numWriters = Some(1)) // embedded Derby: MERGE is not concurrency-safe
      sink.write(0L, log)
      s.read.format("jdbc").option("url", url)
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .option("dbtable", "target_orders").load()
        .select(col("o_orderkey").cast("long").as("o_orderkey"),
          col("o_orderstatus").as("o_orderstatus"),
          col("o_totalprice").cast("double").as("o_totalprice"))
    }, Some(
      s"""SELECT o_orderkey, o_orderstatus, o_totalprice
         |FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
         |      FROM ($oracleLog) log WHERE o_orderkey % 5 = 0) t
         |WHERE rn = 1 AND op <> 'delete'""".stripMargin), bench = true),

    // BIDIRECTIONAL conflict loop, oracle-gated end to end: a change-log
    // applies through ConflictDetectBatchSink into Derby seeded with rows
    // the "other side" already wrote (keys % 15). Inserts on seeded keys
    // hit dup-key; updates/deletes on never-inserted keys affect 0 rows —
    // each is a CONFLICT: logged, skipped (or force-applied under
    // override). The gate covers the final TABLE STATE and the conflict
    // COUNT (sentinel row), i.e. the full decision table of
    // pkg/sql_execution_engine/conflict_engine.go:113-200.
    CatalogQuery("cdc_conflict_sink_state", (s, d) =>
      conflictRun(s, d, overrideConflict = false),
      Some(conflictOracle(overrideConflict = false))),

    // same loop with force-override: every conflict resolves to the log's
    // image (conflict_engine.go override path) — the end state is
    // "log wins", and conflicts are still counted before overriding
    CatalogQuery("cdc_conflict_override_state", (s, d) =>
      conflictRun(s, d, overrideConflict = true),
      Some(conflictOracle(overrideConflict = true))),

    // incremental view maintenance: maintain a grouped aggregate from the
    // change-log's DELTAS alone — insert contributes (+1, +price), delete
    // (-1, -price) of the image it removes, and an update that MOVES the
    // group key contributes to both groups (retract old, add new). At
    // 100 TB this is O(batch) instead of re-aggregating the table; the
    // oracle proves delta-maintenance equals aggregate-of-final-state.
    CatalogQuery("cdc_incremental_agg_maintenance", (s, d) => {
      val o = Tables.orders(s, d)
      def p(c: org.apache.spark.sql.Column) = c.cast("decimal(14,2)")
      val insDelta = o.select(col("o_orderstatus").as("g"),
        lit(1L).as("dn"), p(col("o_totalprice")).as("dv"))
      // update to ('U', price+1000): retract from the old group, add to new
      val updRetract = o.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderstatus").as("g"), lit(-1L).as("dn"),
          (p(col("o_totalprice")) * -1).as("dv"))
      val updAdd = o.filter(col("o_orderkey") % 3 === 0)
        .select(lit("U").as("g"), lit(1L).as("dn"),
          p(col("o_totalprice") + 1000).as("dv"))
      // delete removes the CURRENT image (updated for keys % 21 == 0)
      val delDelta = o.filter(col("o_orderkey") % 7 === 0)
        .select(
          when(col("o_orderkey") % 3 === 0, "U").otherwise(col("o_orderstatus")).as("g"),
          lit(-1L).as("dn"),
          (p(when(col("o_orderkey") % 3 === 0, col("o_totalprice") + 1000)
            .otherwise(col("o_totalprice"))) * -1).as("dv"))
      insDelta.unionByName(updRetract).unionByName(updAdd).unionByName(delDelta)
        .groupBy(col("g"))
        .agg(sum(col("dn")).as("n_orders"), sum(col("dv")).cast("double").as("total"))
        .filter(col("n_orders") > 0)
        .select(col("g").as("o_orderstatus"), col("n_orders"), col("total"))
    }, Some(
      s"""SELECT o_orderstatus, count(*) AS n_orders,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
         |FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
         |      FROM ($oracleLog) log) t
         |WHERE rn = 1 AND op <> 'delete'
         |GROUP BY o_orderstatus""".stripMargin)),

    // ---- stateful incremental view maintenance (maintained aggregates) --
    // The MAINTAINED-STATE version of cdc_incremental_agg_maintenance:
    // that entry derives retract/add deltas analytically in ONE plan;
    // this one maintains a per-group (count, sum) AGGREGATE STATE through
    // a 4-batch change stream with the production IVM discipline — each
    // batch looks up the OLD images of its keys in the row-state sink
    // (batch-bounded equi-join against bucketed state, BEFORE the merge),
    // emits a retraction (-1, -cents) per old image and an addition
    // (+1, +cents) per new image, folds the deltas into ONLY the touched
    // groups' aggregate rows, and tombstones groups whose count reaches
    // zero. Group-MOVING updates (the case naive delta-IVM gets wrong)
    // are planted: every update relocates its key to a different group,
    // which decomposes into retract-from-old + add-to-new via the same
    // two delta legs. The oracle aggregates the from-scratch LWW final
    // state, so the hash gate proves the maintained aggregate converges
    // to the recomputed one across inserts, value updates, group moves,
    // deletes and delete-then-reinsert. 100 TB: per-batch cost = batch
    // size (old-image lookup + deltas) + touched groups (agg rewrite) —
    // never the fact table; this is materialized-view maintenance as a
    // dataflow, the thing a nightly full re-aggregation cannot give.
    CatalogQuery("cdc_ivm_maintained_aggs", (s, d) => {
      val work = Q.scratch("ivmagg")
      val o = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      def batch(b: Int): DataFrame =
        if (b == 0)
          o.select(col("o_orderkey"), (col("o_custkey") % 50).as("grp"),
            col("cents"), lit(ChangeLog.Insert).as("op"), lit(0L).as("seq"))
        else {
          val ups = o.filter(col("o_orderkey") % 10 === b)
            .select(col("o_orderkey"),
              ((col("o_custkey") + b) % 50).as("grp"), // group MOVE
              (col("cents") + 100000L * b).as("cents"))
          val ins = o.filter(col("o_orderkey") % 23 === b)
            .select((col("o_orderkey") + 1000000L * b).as("o_orderkey"),
              ((col("o_custkey") + 7 * b) % 50).as("grp"),
              (col("cents") + b).as("cents"))
          val dels = o.filter(col("o_orderkey") % 17 === b && col("o_orderkey") % 10 =!= b)
            .select(col("o_orderkey"), lit(null).cast("bigint").as("grp"),
              lit(null).cast("bigint").as("cents"))
          ups.unionByName(ins).withColumn("op", lit(ChangeLog.Update))
            .unionByName(dels.withColumn("op", lit(ChangeLog.Delete)))
            .withColumn("seq", lit(b.toLong))
        }
      val rowState = new graft.sinks.SnapshotSink(s, s"$work/rows", Seq("o_orderkey"))
      val aggState = new graft.sinks.SnapshotSink(s, s"$work/aggs", Seq("grp"))
      (0 to 3).foreach { b =>
        val ch = batch(b)
        val plus = ch.filter(col("op") =!= ChangeLog.Delete)
          .select(col("grp"), lit(1L).as("dn"), col("cents").as("dc"))
        val deltaIn =
          if (b == 0) plus
          else {
            // retractions come from the OLD images, read before the merge
            // — a point read of exactly the batch keys' buckets
            val keys = ch.select(col("o_orderkey")).distinct().localCheckpoint()
            rowState.readBuckets(keys).join(keys, Seq("o_orderkey"))
              .select(col("grp"), lit(-1L).as("dn"), (-col("cents")).as("dc"))
              .unionByName(plus)
          }
        val delta = deltaIn.groupBy(col("grp"))
          .agg(sum(col("dn")).as("dn"), sum(col("dc")).as("dc"))
          .localCheckpoint()
        val newAgg =
          if (b == 0)
            delta.select(col("grp"), col("dn").as("n_rows"), col("dc").as("sum_cents"))
          else {
            // touched groups' old aggregates — a grp-bucket point read
            val oldAgg = aggState.readBuckets(delta.select(col("grp")))
              .join(delta.select("grp"), Seq("grp"))
              .select(col("grp"), col("n_rows").as("o_n"), col("sum_cents").as("o_s"))
            delta.join(oldAgg, Seq("grp"), "left")
              .select(col("grp"),
                (coalesce(col("o_n"), lit(0L)) + col("dn")).as("n_rows"),
                (coalesce(col("o_s"), lit(0L)) + col("dc")).as("sum_cents"))
          }
        aggState.merge(newAgg.filter(col("n_rows") > 0)
          .withColumn("op", lit(ChangeLog.Update))
          .unionByName(newAgg.filter(col("n_rows") === 0)
            .select(col("grp"), lit(null).cast("bigint").as("n_rows"),
              lit(null).cast("bigint").as("sum_cents"),
              lit(ChangeLog.Delete).as("op")))
          .withColumn("seq", lit(b.toLong)))
        rowState.merge(ch)
      }
      aggState.read().select(col("grp"), col("n_rows"), col("sum_cents"))
    }, Some(
      """WITH b3 AS (SELECT unnest(range(1, 4)) AS b),
        |src AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |base AS (
        |  SELECT o_orderkey AS k, (o_custkey % 50)::BIGINT AS grp, cents,
        |    0::BIGINT AS seq, 0 AS del
        |  FROM src),
        |ups AS (
        |  SELECT o_orderkey, ((o_custkey + b) % 50)::BIGINT, cents + 100000 * b,
        |    b::BIGINT, 0
        |  FROM src CROSS JOIN b3 WHERE o_orderkey % 10 = b),
        |ins AS (
        |  SELECT o_orderkey + 1000000 * b, ((o_custkey + 7 * b) % 50)::BIGINT,
        |    cents + b, b::BIGINT, 0
        |  FROM src CROSS JOIN b3 WHERE o_orderkey % 23 = b),
        |dels AS (
        |  SELECT o_orderkey, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |    b::BIGINT, 1
        |  FROM src CROSS JOIN b3 WHERE o_orderkey % 17 = b AND o_orderkey % 10 <> b),
        |log AS (
        |  SELECT * FROM base UNION ALL SELECT * FROM ups
        |  UNION ALL SELECT * FROM ins UNION ALL SELECT * FROM dels),
        |fin AS (
        |  SELECT k, grp, cents FROM (
        |    SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        |    FROM log) t
        |  WHERE rn = 1 AND del = 0)
        |SELECT grp, count(*)::BIGINT AS n_rows,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM fin GROUP BY 1""".stripMargin)),

    // ---- stateful IVM: maintained JOIN view + maintained secondary index
    // The join twin of cdc_ivm_maintained_aggs — the other classic
    // materialized-view case: an orders ⋈ customer INNER-join view kept
    // current through 4 change batches on BOTH inputs. The N:1 join's
    // hard direction is the dimension side: a customer change must touch
    // ALL that customer's order rows, which a naive scheme finds by
    // scanning the fact state. Here a maintained SECONDARY INDEX
    // (c_custkey → sorted order-key list, rebuilt per touched customer
    // with the postings discipline: old list minus changed orders plus
    // new live orders, empty list → tombstone) turns that into point
    // reads, so per-batch cost = |Δorders| + |orders of Δcustomers| —
    // never either corpus. Per batch: old-image lookups BEFORE any
    // merge; base states merge first, then the index, then the view rows
    // of exactly the touched order keys rebuild from POST-merge state
    // (inner join: a deleted customer tombstones all its orders' view
    // rows — planted via c%29; a later order insert against a deleted
    // customer yields no row). The oracle recomputes the view from the
    // from-scratch LWW of both logs, so convergence across inserts,
    // updates, deletes, customer orphaning and delete-then-reinsert is
    // hash-gated.
    // ---- maintained TOP-K view under CDC (the delete-refill problem) -----
    // The third stateful-IVM entry (aggs, join, now ORDER BY ... LIMIT k):
    // a top-k view is trivially maintainable under inserts (beat the
    // buffer min or be ignored) but NOT under deletes — a delete inside
    // the top-k needs a replacement no bounded state can name (Yi et al.,
    // "Efficient Maintenance of Materialized Top-k Views": keep a top-B
    // BUFFER, B > k, and REFILL from the base when deletes shrink it
    // below k). Invariant: the buffer is a true PREFIX of the global
    // (price desc, key) order — maintenance unions buffer survivors with
    // the batch's live rows, keeps only rows tie-ranking at or above the
    // OLD buffer min (anything unseen is strictly below it, so ranks
    // among the kept rows are globally true), truncates to B; if fewer
    // than k remain, ONE bounded rescan of the maintained row state
    // rebuilds the buffer (counted — the amortized price of deletes).
    // The change stream plants the hard case: batch 2 deletes most of
    // the top price band, provably underflowing the buffer. The oracle
    // replays the entire buffer fold including the refill decision;
    // n_refills is part of the hash. 100 TB: per-batch cost = B + |batch|
    // (the candidate union) except the rare refill's top-B scan — and
    // the view serves top-k point reads from a B-row sink, never a scan.
    CatalogQuery("cdc_ivm_maintained_topk", (s, d) => {
      import s.implicits._
      val K = 10
      val B = 30
      val work = Q.scratch("ivmtopk")
      val rows = new graft.sinks.SnapshotSink(s, s"$work/rows", Seq("k"))
      val buf = new graft.sinks.SnapshotSink(s, s"$work/topk", Seq("k"))
      val osrc = Tables.orders(s, d).select(col("o_orderkey").as("k"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("p"))
        .localCheckpoint()
      var nRefills = 0L
      def maintain(b: Long, batch: DataFrame): Unit = {
        val bufRows = buf.exists match {
          case true => graft.core.Bounded.collect(
            buf.read().select(col("k"), col("p")), B,
            "cdc_ivm_maintained_topk/buffer",
            "the top-k buffer must stay <= B rows by construction")
            .map(r => (r.getLong(0), r.getLong(1))).toSeq
          case false => Seq.empty[(Long, Long)]
        }
        rows.merge(batch)
        val finalBuf: DataFrame =
          if (bufRows.isEmpty) {
            // initial build — the one unavoidable full top-B scan
            rows.read().select(col("k"), col("p"))
              .orderBy(col("p").desc, col("k").asc).limit(B).localCheckpoint()
          } else {
            // old buffer min in (p desc, k asc) tie order
            val (k0, p0) = bufRows.minBy { case (k, p) => (p, -k) }
            val keys = batch.select(col("k")).distinct()
            val survivors = bufRows.toDF("k", "p").join(keys, Seq("k"), "left_anti")
            val live = batch.filter(col("op") =!= ChangeLog.Delete)
              .select(col("k"), col("p"))
            val valid = survivors.unionByName(live)
              .filter(col("p") > p0 || (col("p") === p0 && col("k") <= k0))
            val newBuf = valid.orderBy(col("p").desc, col("k").asc).limit(B)
              .localCheckpoint()
            if (newBuf.count() < K) {
              // delete-induced underflow: the documented bounded rescan
              nRefills += 1
              rows.read().select(col("k"), col("p"))
                .orderBy(col("p").desc, col("k").asc).limit(B).localCheckpoint()
            } else newBuf
          }
        val dels = bufRows.toDF("k", "p").select(col("k"))
          .join(finalBuf.select(col("k")), Seq("k"), "left_anti")
          .select(col("k"), lit(null).cast("bigint").as("p"),
            lit(ChangeLog.Delete).as("op"))
        buf.merge(finalBuf
          .withColumn("op", lit(ChangeLog.Update)).unionByName(dels)
          .withColumn("seq", lit(b)))
      }
      maintain(0L, osrc.select(col("k"), col("p"),
        lit(ChangeLog.Insert).as("op"), lit(0L).as("seq")))
      maintain(1L, osrc.filter(col("k") % 7 === 1)
        .select(col("k"), expr("p div 2").as("p"),
          lit(ChangeLog.Update).as("op"), lit(1L).as("seq")))
      val dels2 = rows.read()
        .filter(col("p") > 40000000L && col("k") % 8 =!= 3)
        .select(col("k"), lit(null).cast("bigint").as("p"),
          lit(ChangeLog.Delete).as("op"), lit(2L).as("seq"))
        .localCheckpoint()
      maintain(2L, dels2)
      maintain(3L, osrc.filter(col("k") % 11 === 2)
        .select((col("k") + 1000000L).as("k"), expr("(p * 3) div 4").as("p"),
          lit(ChangeLog.Update).as("op"), lit(3L).as("seq")))
      // TakeOrdered FIRST so the rank window's input is provably K rows
      // (the audit's bounded-input contract), then rank within them
      buf.read().select(col("k"), col("p"))
        .orderBy(col("p").desc, col("k").asc).limit(K)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("p").desc, col("k").asc)).cast("long"))
        .select(col("rank"), col("k").as("o_orderkey"), col("p").as("price_c"),
          lit(nRefills).as("n_refills"))
    }, Some(
      """WITH o AS (
        |  SELECT o_orderkey AS k,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS p
        |  FROM orders),
        |st1 AS MATERIALIZED (
        |  SELECT k, CASE WHEN k % 7 = 1 THEN p // 2 ELSE p END AS p FROM o),
        |dl2 AS (SELECT k FROM st1 WHERE p > 40000000 AND k % 8 <> 3),
        |st2 AS MATERIALIZED (
        |  SELECT k, p FROM st1 WHERE k NOT IN (SELECT k FROM dl2)),
        |in3 AS (SELECT k + 1000000 AS k, (p * 3) // 4 AS p FROM o WHERE k % 11 = 2),
        |st3 AS MATERIALIZED (
        |  SELECT k, p FROM st2 UNION ALL SELECT k, p FROM in3),
        |bf0 AS MATERIALIZED (SELECT k, p FROM o ORDER BY p DESC, k LIMIT 30),
        |m1 AS (SELECT k, p FROM bf0 ORDER BY p ASC, k DESC LIMIT 1),
        |v1 AS MATERIALIZED (
        |  SELECT c.k, c.p FROM (
        |    SELECT k, p FROM bf0 WHERE k % 7 <> 1
        |    UNION ALL SELECT k, p FROM st1 WHERE k % 7 = 1) c, m1 m
        |  WHERE c.p > m.p OR (c.p = m.p AND c.k <= m.k)
        |  ORDER BY c.p DESC, c.k LIMIT 30),
        |r1 AS (SELECT count(*) < 10 AS rf FROM v1),
        |bf1 AS MATERIALIZED (
        |  SELECT k, p FROM v1 WHERE NOT (SELECT rf FROM r1)
        |  UNION ALL
        |  SELECT k, p FROM (SELECT k, p FROM st1 ORDER BY p DESC, k LIMIT 30) t
        |  WHERE (SELECT rf FROM r1)),
        |m2 AS (SELECT k, p FROM bf1 ORDER BY p ASC, k DESC LIMIT 1),
        |v2 AS MATERIALIZED (
        |  SELECT c.k, c.p FROM (
        |    SELECT k, p FROM bf1 WHERE k NOT IN (SELECT k FROM dl2)) c, m2 m
        |  WHERE c.p > m.p OR (c.p = m.p AND c.k <= m.k)
        |  ORDER BY c.p DESC, c.k LIMIT 30),
        |r2 AS (SELECT count(*) < 10 AS rf FROM v2),
        |bf2 AS MATERIALIZED (
        |  SELECT k, p FROM v2 WHERE NOT (SELECT rf FROM r2)
        |  UNION ALL
        |  SELECT k, p FROM (SELECT k, p FROM st2 ORDER BY p DESC, k LIMIT 30) t
        |  WHERE (SELECT rf FROM r2)),
        |m3 AS (SELECT k, p FROM bf2 ORDER BY p ASC, k DESC LIMIT 1),
        |v3 AS MATERIALIZED (
        |  SELECT c.k, c.p FROM (
        |    SELECT k, p FROM bf2
        |    UNION ALL SELECT k, p FROM in3) c, m3 m
        |  WHERE c.p > m.p OR (c.p = m.p AND c.k <= m.k)
        |  ORDER BY c.p DESC, c.k LIMIT 30),
        |r3 AS (SELECT count(*) < 10 AS rf FROM v3),
        |bf3 AS MATERIALIZED (
        |  SELECT k, p FROM v3 WHERE NOT (SELECT rf FROM r3)
        |  UNION ALL
        |  SELECT k, p FROM (SELECT k, p FROM st3 ORDER BY p DESC, k LIMIT 30) t
        |  WHERE (SELECT rf FROM r3)),
        |nref AS (
        |  SELECT CAST((CASE WHEN (SELECT rf FROM r1) THEN 1 ELSE 0 END) +
        |    (CASE WHEN (SELECT rf FROM r2) THEN 1 ELSE 0 END) +
        |    (CASE WHEN (SELECT rf FROM r3) THEN 1 ELSE 0 END) AS BIGINT) AS n)
        |SELECT CAST(rank AS BIGINT) AS rank, k AS o_orderkey, p AS price_c,
        |  (SELECT n FROM nref) AS n_refills
        |FROM (SELECT k, p, row_number() OVER (ORDER BY p DESC, k) AS rank FROM bf3) t
        |WHERE rank <= 10""".stripMargin)),

    CatalogQuery("cdc_ivm_maintained_join", (s, d) => {
      val work = Q.scratch("ivmjoin")
      val osrc = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"),
        expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"),
        col("o_orderstatus"))
      val csrc = Tables.customer(s, d).select(col("c_custkey"), col("c_name"),
        col("c_nationkey"))
      def oBatch(b: Int): DataFrame =
        if (b == 0)
          osrc.select(col("o_orderkey"), col("o_custkey"), col("cents"),
            col("o_orderstatus"), lit(ChangeLog.Insert).as("op"), lit(0L).as("seq"))
        else {
          val ups = osrc.filter(col("o_orderkey") % 10 === b)
            .select(col("o_orderkey"), col("o_custkey"),
              (col("cents") + 100000L * b).as("cents"),
              lit(s"U$b").as("o_orderstatus"))
          val ins = osrc.filter(col("o_orderkey") % 23 === b)
            .select((col("o_orderkey") + 1000000L * b).as("o_orderkey"),
              col("o_custkey"), (col("cents") + b).as("cents"), col("o_orderstatus"))
          val dels = osrc.filter(col("o_orderkey") % 17 === b && col("o_orderkey") % 10 =!= b)
            .select(col("o_orderkey"), lit(null).cast("bigint").as("o_custkey"),
              lit(null).cast("bigint").as("cents"),
              lit(null).cast("string").as("o_orderstatus"))
          ups.unionByName(ins).withColumn("op", lit(ChangeLog.Update))
            .unionByName(dels.withColumn("op", lit(ChangeLog.Delete)))
            .withColumn("seq", lit(b.toLong))
        }
      def cBatch(b: Int): DataFrame =
        if (b == 0)
          csrc.select(col("c_custkey"), col("c_name"), col("c_nationkey"),
            lit(ChangeLog.Insert).as("op"), lit(0L).as("seq"))
        else {
          val ups = csrc.filter(col("c_custkey") % 7 === b)
            .select(col("c_custkey"),
              concat(col("c_name"), lit(s" up$b")).as("c_name"), col("c_nationkey"))
          val dels = csrc.filter(col("c_custkey") % 29 === b && col("c_custkey") % 7 =!= b)
            .select(col("c_custkey"), lit(null).cast("string").as("c_name"),
              lit(null).cast("bigint").as("c_nationkey"))
          ups.withColumn("op", lit(ChangeLog.Update))
            .unionByName(dels.withColumn("op", lit(ChangeLog.Delete)))
            .withColumn("seq", lit(b.toLong))
        }
      val ordState = new graft.sinks.SnapshotSink(s, s"$work/ord", Seq("o_orderkey"))
      val custState = new graft.sinks.SnapshotSink(s, s"$work/cust", Seq("c_custkey"))
      val custIdx = new graft.sinks.SnapshotSink(s, s"$work/idx", Seq("c_custkey"))
      val view = new graft.sinks.SnapshotSink(s, s"$work/view", Seq("o_orderkey"))
      // touched orders' rows and THEIR customers' rows, both bucket
      // point reads (the order rows are checkpointed once: they feed the
      // customer-side bucket projection and the join)
      def viewRows(touched: DataFrame): DataFrame = {
        val ordRows = ordState.readBuckets(touched)
          .join(touched, Seq("o_orderkey")).localCheckpoint()
        ordRows
          .join(custState.readBuckets(
              ordRows.select(col("o_custkey").as("c_custkey"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("cents"), col("o_orderstatus"),
            col("c_custkey"), col("c_name"), col("c_nationkey"))
      }
      (0 to 3).foreach { b =>
        val oCh = oBatch(b)
        val cCh = cBatch(b)
        if (b == 0) {
          ordState.merge(oCh)
          custState.merge(cCh)
          custIdx.merge(oCh.groupBy(col("o_custkey").as("c_custkey"))
            .agg(sort_array(collect_list(col("o_orderkey"))).as("okeys"))
            .withColumn("op", lit(ChangeLog.Insert)).withColumn("seq", lit(0L)))
          view.merge(viewRows(oCh.select("o_orderkey"))
            .withColumn("op", lit(ChangeLog.Insert)).withColumn("seq", lit(0L)))
        } else {
          // -- pre-merge old-image lookups (bucket point reads of the
          // batch's own keys) --
          val oKeys = oCh.select(col("o_orderkey")).distinct().localCheckpoint()
          val oldOrd = ordState.readBuckets(oKeys).join(oKeys, Seq("o_orderkey"))
          val cKeys = cCh.select(col("c_custkey")).distinct().localCheckpoint()
          // customers whose order SETS change: new images' custkeys plus
          // the old images' custkeys (covers deletes and any key move)
          val idxTouched = oCh.filter(col("op") =!= ChangeLog.Delete)
            .select(col("o_custkey").as("c_custkey"))
            .unionByName(oldOrd.select(col("o_custkey").as("c_custkey")))
            .distinct().localCheckpoint()
          val oldLists = custIdx.readBuckets(idxTouched)
            .join(idxTouched, Seq("c_custkey"))
            .select(col("c_custkey"), explode(col("okeys")).as("o_orderkey"))
            .join(oKeys, Seq("o_orderkey"), "left_anti")
          val newMembers = oCh.filter(col("op") =!= ChangeLog.Delete)
            .select(col("o_custkey").as("c_custkey"), col("o_orderkey"))
          val rebuilt = oldLists.select("c_custkey", "o_orderkey")
            .unionByName(newMembers)
            .groupBy(col("c_custkey"))
            .agg(sort_array(collect_list(col("o_orderkey"))).as("okeys"))
          val droppedIdx = idxTouched
            .join(rebuilt.select("c_custkey"), Seq("c_custkey"), "left_anti")
            .select(col("c_custkey"),
              lit(null).cast("array<bigint>").as("okeys"),
              lit(ChangeLog.Delete).as("op"))
          // -- merges, in DEPENDENCY order: every merge's input plan may
          // only reference states not yet merged this batch (a merge
          // garbage-collects the generations a pre-merge read() plan
          // points at — evaluating such a plan after the state advanced
          // reads deleted files). The index batch reads ordState+custIdx
          // pre-merge, so it merges FIRST; the view rebuild reads
          // post-merge state, so it goes last.
          custIdx.merge(rebuilt.withColumn("op", lit(ChangeLog.Update))
            .unionByName(droppedIdx).withColumn("seq", lit(b.toLong)))
          // view rows to rebuild: the changed orders plus every order of
          // a changed customer. POST-merge index reads are sufficient: a
          // customer change never alters the index, and the orders a
          // customer LOST this batch are already in oKeys
          val custOrders = custIdx.readBuckets(cKeys).join(cKeys, Seq("c_custkey"))
            .select(explode(col("okeys")).as("o_orderkey"))
          val touched = oKeys.unionByName(custOrders).distinct().localCheckpoint()
          ordState.merge(oCh)
          custState.merge(cCh)
          val rebuiltView = viewRows(touched)
          val viewDrops = touched
            .join(rebuiltView.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
            .select(col("o_orderkey"), lit(null).cast("bigint").as("cents"),
              lit(null).cast("string").as("o_orderstatus"),
              lit(null).cast("bigint").as("c_custkey"),
              lit(null).cast("string").as("c_name"),
              lit(null).cast("bigint").as("c_nationkey"),
              lit(ChangeLog.Delete).as("op"))
          view.merge(rebuiltView.withColumn("op", lit(ChangeLog.Update))
            .unionByName(viewDrops).withColumn("seq", lit(b.toLong)))
        }
      }
      view.read().select(col("o_orderkey"), col("cents"), col("o_orderstatus"),
        col("c_custkey"), col("c_name"), col("c_nationkey"))
    }, Some(
      """WITH b3 AS (SELECT unnest(range(1, 4)) AS b),
        |osrc AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |    o_orderstatus AS st
        |  FROM orders),
        |obase AS (
        |  SELECT o_orderkey AS k, o_custkey, cents, st, 0::BIGINT AS seq, 0 AS del
        |  FROM osrc),
        |oups AS (
        |  SELECT o_orderkey, o_custkey, cents + 100000 * b, 'U' || b::VARCHAR,
        |    b::BIGINT, 0
        |  FROM osrc CROSS JOIN b3 WHERE o_orderkey % 10 = b),
        |oins AS (
        |  SELECT o_orderkey + 1000000 * b, o_custkey, cents + b, st, b::BIGINT, 0
        |  FROM osrc CROSS JOIN b3 WHERE o_orderkey % 23 = b),
        |odels AS (
        |  SELECT o_orderkey, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |    CAST(NULL AS VARCHAR), b::BIGINT, 1
        |  FROM osrc CROSS JOIN b3 WHERE o_orderkey % 17 = b AND o_orderkey % 10 <> b),
        |olog AS (
        |  SELECT * FROM obase UNION ALL SELECT * FROM oups
        |  UNION ALL SELECT * FROM oins UNION ALL SELECT * FROM odels),
        |ofin AS (
        |  SELECT k, o_custkey, cents, st FROM (
        |    SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
        |    FROM olog) t
        |  WHERE rn = 1 AND del = 0),
        |csrc AS (SELECT c_custkey, c_name, c_nationkey FROM customer),
        |cbase AS (
        |  SELECT c_custkey AS ck, c_name AS nm, c_nationkey AS nk,
        |    0::BIGINT AS seq, 0 AS del
        |  FROM csrc),
        |cups AS (
        |  SELECT c_custkey, c_name || ' up' || b::VARCHAR, c_nationkey, b::BIGINT, 0
        |  FROM csrc CROSS JOIN b3 WHERE c_custkey % 7 = b),
        |cdels AS (
        |  SELECT c_custkey, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
        |    b::BIGINT, 1
        |  FROM csrc CROSS JOIN b3 WHERE c_custkey % 29 = b AND c_custkey % 7 <> b),
        |clog AS (
        |  SELECT * FROM cbase UNION ALL SELECT * FROM cups
        |  UNION ALL SELECT * FROM cdels),
        |cfin AS (
        |  SELECT ck, nm, nk FROM (
        |    SELECT *, row_number() OVER (PARTITION BY ck ORDER BY seq DESC) AS rn
        |    FROM clog) t
        |  WHERE rn = 1 AND del = 0)
        |SELECT k AS o_orderkey, cents, st AS o_orderstatus,
        |  ck AS c_custkey, nm AS c_name, nk::BIGINT AS c_nationkey
        |FROM ofin JOIN cfin ON o_custkey = ck""".stripMargin)),

    // flagship composite: replicate (compact) then analyze (agg) — §7.2
    CatalogQuery("cdc_apply_then_agg", (s, d) =>
      ChangeLog.compact(changeLog(s, d), Seq("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(14,2)")).cast("double").as("total")),
      Some(
        s"""SELECT o_orderstatus, count(*) AS n_orders,
           |  CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total
           |FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
           |      FROM ($oracleLog) log) t
           |WHERE rn = 1 AND op <> 'delete'
           |GROUP BY o_orderstatus""".stripMargin), bench = true)
  )
}
