package graft.plans

import graft.SparkSpec
import graft.operators.TransformChain
import org.apache.spark.sql.functions._

class PipelineConfigSpec extends SparkSpec {
  import spark.implicits._

  private val config =
    """{
      |  "name": "orders-replication",
      |  "filters": [
      |    {"type": "accept", "match-schema": "db*", "match-dml-op": ["insert", "update"]},
      |    {"type": "rename-columns", "from": ["amt"], "to": ["amount"]},
      |    {"type": "expr", "column": "amount_cents", "sql": "CAST(amount * 100 AS BIGINT)"}
      |  ],
      |  "routes": [
      |    {"match-schema": "db0", "target-schema": "cold", "target-table": "orders_cold"},
      |    {"match-schema": "db*", "target-schema": "hot", "target-table": "*"}
      |  ],
      |  "pk": ["id"],
      |  "checkpoint": "/tmp/ckpt-cfg"
      |}""".stripMargin

  test("json config compiles to a runnable plan") {
    val plan = PipelineConfig.parse(config)
    assert(plan.name == "orders-replication")
    assert(plan.pkCols == Seq("id"))
    assert(plan.transforms.size == 3)
    assert(plan.router.isDefined)

    val env = Seq(
      ("db0", "orders", "insert", 1L, 10.5),
      ("db1", "orders", "delete", 2L, 99.0), // dropped by accept
      ("db1", "orders", "update", 3L, 20.0),
      ("zz", "orders", "insert", 4L, 1.0)) // dropped by accept
      .toDF("database", "table", "op", "id", "amt")

    val out = plan.router.get.assign(TransformChain(plan.transforms)(env))
    val rows = out.select("id", "amount_cents", "tgt_schema", "tgt_table")
      .as[(Long, Long, String, String)].collect().toSet
    assert(rows == Set(
      (1L, 1050L, "cold", "orders_cold"),
      (3L, 2000L, "hot", "orders")))
  }

  test("missing required fields fail loudly") {
    intercept[IllegalArgumentException](PipelineConfig.parse("""{"name": "x"}"""))
    intercept[IllegalArgumentException](
      PipelineConfig.parse("""{"name":"x","pk":["id"],"filters":[{"type":"nope"}]}"""))
  }

  test("sidecar filter parses and crosses the process boundary") {
    val plan = PipelineConfig.parse(
      """{"name":"s","pk":["id"],
        |"filters":[{"type":"sidecar","command":["sed","s/abc/XYZ/"]}]}""".stripMargin)
    val out = TransformChain(plan.transforms)(Seq((1L, "abc")).toDF("id", "v"))
    assert(out.select("v").as[String].head() == "XYZ")
  }

  test("output config builds a snapshot sink end to end") {
    val path = java.nio.file.Files.createTempDirectory("cfg-snap").toString + "/t"
    val sink = PipelineConfig.parseSink(spark,
      s"""{"type":"snapshot","path":"$path","buckets":4}""", Seq("id"))
    sink.write(0L, Seq((1L, "insert", 1L, "a")).toDF("seq", "op", "id", "v"))
    val snap = new graft.sinks.SnapshotSink(spark, path, Seq("id"), 4)
    assert(snap.read().select("id", "v").as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("file-changelog input boots before data with an explicit schema; bare empty dir fails clearly") {
    val dir = java.nio.file.Files.createTempDirectory("cfg-src").toString + "/log"
    val src = PipelineConfig.parseSource(spark,
      s"""{"type":"file-changelog","path":"$dir",
         |"schema":"seq BIGINT, op STRING, id BIGINT, v STRING"}""".stripMargin)
    assert(src.isStreaming)
    assert(src.schema.fieldNames.toSeq == Seq("seq", "op", "id", "v"))
    val e = intercept[IllegalArgumentException](PipelineConfig.parseSource(spark,
      s"""{"type":"file-changelog","path":"${dir}-none"}"""))
    assert(e.getMessage.contains("schema"))
  }

  test("every stream input type delivers its documented keys as camelCase source options") {
    // config key -> the option name the source reads; load() builds the
    // relation without opening a connection, so no stub server is needed
    val shared = Seq("rows-per-batch" -> "rowsPerBatch", "max-buffered" -> "maxBuffered",
      "partitions" -> "partitions", "drain-wait-ms" -> "drainWaitMs",
      "tls-truststore" -> "tlsTruststore", "tls-password" -> "tlsPassword")
    val store = Seq("names.shop.order-items" -> "names.shop.order-items",
      "pks.shop.order-items" -> "pks.shop.order-items")
    val documented = Map(
      "cdc-rate" -> Seq("max-seq" -> "maxSeq", "rows-per-batch" -> "rowsPerBatch",
        "num-keys" -> "numKeys", "partitions" -> "partitions"),
      "mysql-stream" -> (Seq("host" -> "host", "port" -> "port", "user" -> "user",
        "password" -> "password", "file" -> "file", "pos" -> "pos", "gtid" -> "gtid",
        "server-id" -> "serverId") ++ shared ++ store),
      "kafka-stream" -> (Seq("host" -> "host", "port" -> "port", "topic" -> "topic",
        "partition" -> "partition", "offset" -> "offset",
        "fetch-version" -> "fetchVersion", "sasl-user" -> "saslUser",
        "sasl-password" -> "saslPassword", "sasl-mechanism" -> "saslMechanism",
        "stop-at-high-water" -> "stopAtHighWater",
        "poll-wait-ms" -> "pollWaitMs") ++ shared),
      "mongo-stream" -> (Seq("host" -> "host", "port" -> "port", "user" -> "user",
        "password" -> "password", "auth-mechanism" -> "authMechanism",
        "auth-source" -> "authSource", "compressors" -> "compressors",
        "after-sec" -> "afterSec", "after-inc" -> "afterInc") ++ shared))
    documented.foreach { case (tpe, keys) =>
      val doc = (("type" -> tpe) +: keys.map { case (k, _) => k -> s"v-$k" })
        .map { case (k, v) => s""""$k": "$v"""" }.mkString("{", ", ", "}")
      val options = PipelineConfig.parseSource(spark, doc).queryExecution.analyzed
        .collectFirst {
          case r: org.apache.spark.sql.catalyst.streaming.StreamingRelationV2 =>
            scala.jdk.CollectionConverters.MapHasAsScala(
              r.extraOptions.asCaseSensitiveMap()).asScala.toMap
        }.getOrElse(fail(s"$tpe: no StreamingRelationV2 in the plan"))
      assert(options == keys.map { case (k, opt) => opt -> s"v-$k" }.toMap, tpe)
    }
  }

  test("one config document launches the whole pipeline: input -> filters -> routes -> sinks") {
    val work = java.nio.file.Files.createTempDirectory("cfg-launch").toString
    val q = PipelineConfig.launch(spark,
      s"""{
         |  "name": "whole-deployment",
         |  "input": {"type": "cdc-rate", "max-seq": 500, "rows-per-batch": 100,
         |            "num-keys": 25, "partitions": 2},
         |  "filters": [
         |    {"type": "accept", "match-schema": "db*"},
         |    {"type": "expr", "column": "v", "sql": "upper(v)"}
         |  ],
         |  "routes": [{"match-schema": "db*", "target-schema": "snap", "target-table": "t"}],
         |  "pk": ["id"],
         |  "checkpoint": "$work/ckpt",
         |  "output": {"type": "snapshot", "path": "$work/state", "buckets": 4,
         |             "pk": ["tgt_table", "id"]}
         |}""".stripMargin)
    q.awaitTermination()
    val state = new graft.sinks.SnapshotSink(spark, s"$work/state",
      Seq("tgt_table", "id"), 4).read()
    // generator contract: per key the max-seq row wins; final deletes absent
    val expected = (0L until 500L).groupBy(_ % 25).flatMap { case (k, seqs) =>
      val last = seqs.max
      if (last % 10 == 9) None else Some(k -> s"V$last") // upper() applied
    }
    val got = state.select("id", "v").as[(Long, String)].collect().toMap
    assert(got == expected)
  }

  test("position-repo section mirrors the committed position into the external store") {
    val work = java.nio.file.Files.createTempDirectory("cfg-posrepo").toString
    val url = "jdbc:derby:memory:cfgpos" +
      java.util.UUID.randomUUID().toString.replace("-", "") + ";create=true"
    val q = PipelineConfig.launch(spark,
      s"""{
         |  "name": "mirrored-pipe",
         |  "input": {"type": "cdc-rate", "max-seq": 300, "rows-per-batch": 100,
         |            "num-keys": 25, "partitions": 2},
         |  "pk": ["id"],
         |  "checkpoint": "$work/ckpt",
         |  "position-repo": {"type": "jdbc-repo", "url": "$url"},
         |  "output": {"type": "snapshot", "path": "$work/state", "buckets": 4}
         |}""".stripMargin)
    q.awaitTermination()
    val repo = new graft.sources.JdbcPositionRepo(url)
    try {
      val entry = repo.get("mirrored-pipe")
      assert(entry.nonEmpty, "pipeline position must be mirrored externally")
      assert(entry.get.stage == "stream")
      // 300 seqs / 100 per batch = batches 0..2; the mirror holds the last
      assert(entry.get.value == """{"batch_id":2}""", entry.get.value)
    } finally repo.close()
  }

  test("output config builds a kafka-file sink: v2.0 frame, per-key partition order") {
    val dir = java.nio.file.Files.createTempDirectory("cfg-kafka").toString
    val sink = PipelineConfig.parseSink(spark,
      s"""{"type":"kafka-file","path":"$dir","partitions":2}""",
      Seq("id")).asInstanceOf[graft.sinks.KafkaFileBatchSink]
    val env = Seq(
      (1L, "insert", "db0", "orders", 1L, "a"),
      (2L, "update", "db0", "orders", 1L, "a2"),
      (3L, "insert", "db0", "orders", 2L, "b"))
      .toDF("seq", "op", "database", "table", "id", "v")
    sink.write(0L, env)
    val lines = sink.partitions.flatMap(sink.partitionLog)
    assert(lines.size == 3)
    // 2.0.alpha envelope: typed data + pks objects
    assert(lines.forall(l => l.contains("\"version\":\"2.0.alpha\"")
      && l.contains("\"pks\":{\"id\":")))
    // both changes of key 1 share a partition, in seq order
    val k1 = sink.partitions.map(p =>
      sink.partitionLog(p).filter(_.contains("\"id\":1}"))).filter(_.nonEmpty)
    assert(k1.size == 1 && k1.head.size == 2)
    assert(k1.head.head.contains("\"type\":\"insert\"")
      && k1.head(1).contains("\"type\":\"update\""))
  }

  test("output config builds the kafka WIRE sink: executor produce to the stub broker") {
    val broker = new graft.sinks.StubKafkaBroker
    try {
      val sink = PipelineConfig.parseSink(spark,
        s"""{"type":"kafka-wire","host":"127.0.0.1","port":${broker.port},
            "partitions":2,"topic":"t-orders","batch-magic":2}""",
        Seq("id")).asInstanceOf[graft.sinks.KafkaWireBatchSink]
      val env = Seq(
        (1L, "insert", "db0", "orders", 1L, "a"),
        (2L, "update", "db0", "orders", 1L, "a2"),
        (3L, "insert", "db0", "orders", 2L, "b"))
        .toDF("seq", "op", "database", "table", "id", "v")
      sink.write(0L, env)
      val all = scala.jdk.CollectionConverters.MapHasAsScala(broker.log)
        .asScala.toSeq.flatMap { case ((t, _), buf) =>
          buf.map { case (_, v) => (t, new String(v, "UTF-8")) } }
      assert(all.size == 3 && all.forall(_._1 == "t-orders"))
      assert(all.forall(_._2.contains("\"version\":\"2.0.alpha\"")))
      // produce ran on executor tasks (client ids stamp the task id)
      assert(scala.jdk.CollectionConverters.SetHasAsScala(broker.clientIds)
        .asScala.forall(_.startsWith("graft-exec-")))
      // both transports ship one record frame: the same batch through a
      // kafka-file sink with the same partitions yields each
      // broker partition's value sequence as that partition's file log
      val dir = java.nio.file.Files.createTempDirectory("cfg-kafka-twin").toString
      val file = PipelineConfig.parseSink(spark,
        s"""{"type":"kafka-file","path":"$dir","partitions":2}""",
        Seq("id")).asInstanceOf[graft.sinks.KafkaFileBatchSink]
      file.write(0L, env)
      val wire = scala.jdk.CollectionConverters.MapHasAsScala(broker.log).asScala
        .map { case ((_, part), buf) =>
          part.toLong -> buf.map { case (_, v) => new String(v, "UTF-8") }.toSeq }
        .toMap
      assert(file.partitions.map(p => p -> file.partitionLog(p)).toMap == wire)
    } finally broker.close()
  }

  test("output config builds a retry-wrapped jdbc sink that writes through Derby") {
    val url = "jdbc:derby:memory:cfg" +
      java.util.UUID.randomUUID().toString.replace("-", "") + ";create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try c.createStatement().execute(
      "CREATE TABLE t (id BIGINT PRIMARY KEY, v VARCHAR(8))")
    finally c.close()
    val sink = PipelineConfig.parseSink(spark,
      s"""{"type":"jdbc","url":"$url","engine":"ansi-merge",
         |"targets":[["","t"]],"num-writers":1,"retries":2}""".stripMargin, Seq("id"))
    assert(sink.isInstanceOf[graft.streaming.RetryingSink])
    sink.write(0L, Seq((1L, "insert", 1L, "a"), (2L, "update", 1L, "b"))
      .toDF("seq", "op", "id", "v"))
    val c2 = java.sql.DriverManager.getConnection(url)
    try {
      val rs = c2.createStatement().executeQuery("SELECT v FROM t WHERE id = 1")
      rs.next()
      assert(rs.getString(1) == "b")
    } finally c2.close()
  }

  test("one config document launches the WIRE pipeline: mysql-stream input -> filters -> snapshot") {
    import graft.sources.{StubBinlog, StubMySqlServer}
    val cols = Seq((3, 0, false), (15, 40, true)) // LONG id, VARCHAR(40) name
    val colMeta = cols.map { case (t, m, _) => (t, m) }
    val events = Seq(
      StubBinlog.fde(),
      StubBinlog.tableMap(72L, "shop", "orders", cols),
      StubBinlog.writeRows(72L, colMeta, Seq(Seq(1, "alice"), Seq(2, "bob"))),
      StubBinlog.updateRows(72L, colMeta, Seq((Seq(1, "alice"), Seq(1, "carol")))),
      StubBinlog.deleteRows(72L, colMeta, Seq(Seq(2, "bob"))),
      StubBinlog.xid(99L))
    val srv = new StubMySqlServer("repl", "replpass", events)
    val work = java.nio.file.Files.createTempDirectory("cfg-wire").toString
    try {
      val q = PipelineConfig.launch(spark,
        s"""{
           |  "name": "wire-deployment",
           |  "input": {"type": "mysql-stream", "host": "127.0.0.1",
           |            "port": ${srv.port}, "user": "repl", "password": "replpass",
           |            "names.shop.orders": "id,name", "pks.shop.orders": "id"},
           |  "filters": [
           |    {"type": "accept", "match-schema": "shop"},
           |    {"type": "expr", "column": "id", "sql": "element_at(data, 'id')"},
           |    {"type": "expr", "column": "name", "sql": "upper(element_at(data, 'name'))"}
           |  ],
           |  "pk": ["id"],
           |  "checkpoint": "$work/ckpt",
           |  "output": {"type": "snapshot", "path": "$work/state", "buckets": 2,
           |             "pk": ["id"]}
           |}""".stripMargin)
      q.awaitTermination()
      val state = new graft.sinks.SnapshotSink(spark, s"$work/state", Seq("id"), 2)
        .read()
      // LWW compaction over the tailed changes: 1 updated to carol, 2 deleted
      val got = state.select("id", "name").as[(String, String)].collect().toSet
      assert(got == Set(("1", "CAROL")))
      assert(srv.authOk && srv.sawChecksumPin)
    } finally srv.close()
  }
}
