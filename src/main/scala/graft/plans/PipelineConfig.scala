package graft.plans

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.operators._
import graft.streaming.PipelinePlan
import scala.jdk.CollectionConverters._

/** Declarative pipeline configuration → PipelinePlan.
  *
  * The reference assembles a pipeline from TOML: input → filters (each
  * gated by `match-*` matcher keys) → output with routes
  * (/root/reference pkg/config/config_v3.go:44-70, plugin wiring
  * pkg/app/server.go:38-105, matcher keys pkg/matchers/matchers.go:16-33).
  * This front end keeps the same vocabulary in JSON (Jackson ships with
  * Spark) and compiles to the Spark-first plan the runner executes.
  *
  * {{{
  * {
  *   "name": "orders-replication",
  *   "filters": [
  *     {"type": "accept", "match-schema": "db*", "match-dml-op": ["insert","update","delete"]},
  *     {"type": "delete-columns", "columns": ["secret"]},
  *     {"type": "rename-columns", "from": ["amt"], "to": ["amount"]},
  *     {"type": "expr", "column": "amount_cents", "sql": "CAST(amount * 100 AS BIGINT)"}
  *   ],
  *   "routes": [
  *     {"match-schema": "db0", "target-schema": "cold", "target-table": "orders_cold"},
  *     {"match-schema": "db*", "target-schema": "hot", "target-table": "*"}
  *   ],
  *   "pk": ["o_orderkey"],
  *   "checkpoint": "/tmp/ckpt"
  * }
  * }}}
  */
object PipelineConfig {

  private val mapper = new ObjectMapper()

  def parse(json: String): PipelinePlan = parsePlanNode(mapper.readTree(json))

  private def parsePlanNode(root: JsonNode): PipelinePlan =
    PipelinePlan(
      name = req(root, "name").asText(),
      transforms = Option(root.get("filters")).map(parseFilters).getOrElse(Nil),
      router = Option(root.get("routes")).map(parseRoutes),
      pkCols = req(root, "pk").elements().asScala.map(_.asText()).toSeq,
      checkpoint = Option(root.get("checkpoint")).map(_.asText()).getOrElse(""))

  private def req(n: JsonNode, field: String): JsonNode = {
    val v = n.get(field)
    require(v != null, s"pipeline config: missing required field '$field'")
    v
  }

  /** `match-*` keys on any node AND-combine into a matcher group
    * (pkg/core/matcher.go:12-22).
    */
  def parseMatchers(n: JsonNode): Seq[Matcher] = {
    val out = Seq.newBuilder[Matcher]
    Option(n.get("match-schema")).foreach(v => out += SchemaMatcher(v.asText()))
    Option(n.get("match-table")).foreach(v => out += TableMatcher(strList(v)))
    Option(n.get("match-table-regex")).foreach(v => out += TableRegexMatcher(strList(v)))
    Option(n.get("match-ddl-regex")).foreach(v => out += DdlRegexMatcher(v.asText()))
    Option(n.get("match-dml-op")).foreach(v => out += DmlOpMatcher(strList(v)))
    Option(n.get("match-expr")).foreach(v => out += ExprMatcher(v.asText()))
    out.result()
  }

  private def parseFilters(arr: JsonNode): Seq[TransformOp] =
    arr.elements().asScala.map { f =>
      val enveloped = Option(f.get("enveloped")).exists(_.asBoolean())
      f.get("type").asText() match {
        case "accept" => AcceptFilter(parseMatchers(f))
        case "reject" => RejectFilter(parseMatchers(f))
        case "delete-columns" =>
          DeleteColumnsFilter(strList(req(f, "columns")), parseMatchers(f), enveloped)
        case "rename-columns" =>
          RenameColumnsFilter(strList(req(f, "from")), strList(req(f, "to")),
            parseMatchers(f), enveloped)
        case "expr" => ExprTransform(req(f, "column").asText(), req(f, "sql").asText())
        case "sidecar" => ProcessSidecarFilter(strList(req(f, "command")))
        // gravity's grpc-sidecar filter type (grpc_sidecar_filter.go:38):
        // the real go-plugin handshake + gRPC/h2c transport. `command`
        // stands in for the reference's binary-url download step (no
        // egress in this deployment); msgpb-sidecar keeps the stdio
        // frame transport for environments without a plugin binary
        case "grpc-sidecar" =>
          GrpcSidecarFilter(strList(req(f, "command")))
        case "msgpb-sidecar" =>
          MsgPbSidecarFilter(strList(req(f, "command")))
        case other => throw new IllegalArgumentException(s"unknown filter type '$other'")
      }
    }.toSeq

  private def parseRoutes(arr: JsonNode): Router =
    Router.mysql(arr.elements().asScala.map { r =>
      val targets = Seq("schema", "table").flatMap { t =>
        Option(r.get(s"target-$t")).map(v => t -> v.asText())
      }.toMap
      Route(parseMatchers(r), targets)
    }.toSeq)

  private def strList(v: JsonNode): Seq[String] =
    if (v.isArray) v.elements().asScala.map(_.asText()).toSeq else Seq(v.asText())

  /** `input` section → streaming source DataFrame (the reference's
    * `[input]` TOML block, config_v3.go:44-70). Input types: cdc-rate,
    * mysql-stream, kafka-stream, mongo-stream (the DataSourceV2 stream
    * sources) and file-changelog:
    *
    * {{{
    * "input": {"type": "cdc-rate", "max-seq": 2000, "rows-per-batch": 400,
    *           "num-keys": 101, "partitions": 2}
    * "input": {"type": "mysql-stream", "host": "db1", "server-id": 1001,
    *           "names.shop.orders": "id,amt", "pks.shop.orders": "id"}
    * "input": {"type": "file-changelog", "path": "/logs/orders",
    *           "max-files-per-trigger": 1}
    * }}}
    *
    * A stream source gets every key but `type` as an option, named by
    * one rule: the config key is the kebab-case of the source's option
    * name (`rows-per-batch` → `rowsPerBatch`, `server-id` → `serverId`).
    * The schema-store keys `names.<db>.<table>` / `pks.<db>.<table>`
    * pass verbatim, because table names may contain `-`. Absent keys
    * take the source's own defaults.
    *
    * file-changelog takes an explicit `"schema"` in StructType DDL form
    * ("seq BIGINT, op STRING, ...") — the normal boot order is pipeline
    * first, data later, so there may be nothing to infer from — and only
    * falls back to inferring from a batch read when the schema is omitted
    * AND the directory already has files.
    */
  def parseSource(spark: org.apache.spark.sql.SparkSession,
      json: String): org.apache.spark.sql.DataFrame =
    parseSourceNode(spark, mapper.readTree(json))

  /** Input type → provider class of the stream sources. */
  private val streamSources = Map(
    "cdc-rate" -> "graft.sources.CdcRateSource",
    "mysql-stream" -> "graft.sources.BinlogStreamSource",
    "kafka-stream" -> "graft.sources.KafkaStreamSource",
    "mongo-stream" -> "graft.sources.OplogStreamSource")

  /** Config key → source option name (see [[parseSource]]). */
  private def optionName(key: String): String =
    if (key.startsWith("names.") || key.startsWith("pks.")) key
    else {
      val words = key.split('-')
      words.head + words.tail.map(_.capitalize).mkString
    }

  private def parseSourceNode(spark: org.apache.spark.sql.SparkSession,
      o: JsonNode): org.apache.spark.sql.DataFrame =
    req(o, "type").asText() match {
      case "file-changelog" =>
        val path = req(o, "path").asText()
        val schema = Option(o.get("schema"))
          .map { s =>
            // boot-before-data: with a declared schema the stream may
            // start against a directory nothing has written to yet
            val p = new org.apache.hadoop.fs.Path(path)
            val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            if (!fs.exists(p)) fs.mkdirs(p)
            org.apache.spark.sql.types.StructType.fromDDL(s.asText())
          }
          .getOrElse {
            try graft.sources.FileChangeLogSource.read(spark, path).schema
            catch {
              case e: Exception => throw new IllegalArgumentException(
                "file-changelog: no \"schema\" configured and nothing to infer " +
                  s"from at '$path' (empty/missing directory at boot) — declare " +
                  "the schema in StructType DDL form, e.g. " +
                  "\"seq BIGINT, op STRING, id BIGINT, v STRING\"", e)
            }
          }
        graft.sources.FileChangeLogSource.readStream(spark, path, schema,
          Option(o.get("max-files-per-trigger")).map(_.asInt()))
      case t =>
        val provider = streamSources.getOrElse(t,
          throw new IllegalArgumentException(s"unknown input type '$t'"))
        o.fields().asScala.filter(_.getKey != "type")
          .foldLeft(spark.readStream.format(provider)) { (r, e) =>
            r.option(optionName(e.getKey), e.getValue.asText())
          }.load()
    }

  /** The whole deployment from ONE document — input + filters + routes +
    * output(s) + checkpoint, started as a streaming query (the reference
    * boots a pipeline from one TOML the same way, pkg/app/server.go:38-105).
    */
  def launch(spark: org.apache.spark.sql.SparkSession, json: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      metrics: Option[graft.streaming.MetricsRegistry] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val root = mapper.readTree(json)
    val plan = parsePlanNode(root)
    require(plan.checkpoint.nonEmpty,
      "pipeline config: missing required field 'checkpoint' (launch needs a " +
        "durable position store)")
    val source = parseSourceNode(spark, req(root, "input"))
    val baseSink = parseSinksNode(spark, req(root, "output"), plan.pkCols, metrics)
    // optional external position mirror — the reference's
    // [input.config.position-repo] type = "mysql-repo" section
    // (position_repos; checkpoint stays the source of truth)
    val repoOpt = Option(root.get("position-repo")).map { pr =>
      require(pr.get("type") == null || pr.get("type").asText() == "jdbc-repo",
        s"unknown position-repo type '${pr.get("type").asText()}'")
      val repo = new graft.sources.JdbcPositionRepo(
        req(pr, "url").asText(),
        Option(pr.get("schema")).map(_.asText())
          .getOrElse(graft.sources.PositionRepo.Database))
      repo.init()
      repo
    }
    val sink = repoOpt.map(repo =>
      new graft.streaming.PositionMirrorSink(baseSink, repo, plan.name)
        : graft.streaming.BatchSink).getOrElse(baseSink)
    val q = graft.streaming.PipelineRunner.start(plan, source, sink, trigger)
    // the repo's JDBC connection must not outlive the query — close it
    // when THIS query terminates (and detach the listener)
    repoOpt.foreach { repo =>
      val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.id == q.id) {
            try repo.close() catch { case _: Exception => () }
            spark.streams.removeListener(this)
          }
      }
      spark.streams.addListener(listener)
    }
    q
  }

  /** Output section → BatchSink, completing config → runnable pipeline
    * (the reference's `[output]` TOML block, config_v3.go:44-70):
    *
    * {{{
    * "output": {"type": "snapshot", "path": "/tables/orders", "buckets": 16}
    * "output": {"type": "jdbc", "url": "jdbc:...", "engine": "replace",
    *            "targets": [["tgt_db", "orders"]], "num-writers": 8,
    *            "txn-tag-table": "_graft.txn_tags", "retries": 3}
    * }}}
    *
    * Engines: replace | insert-ignore | on-dup-key | ansi-merge | manual
    * (with "template"). "retries"/"retry-sleep-ms" wrap the sink in
    * RetryingSink (the scheduler's nr-retries × retry-sleep).
    */
  def parseSink(spark: org.apache.spark.sql.SparkSession, json: String,
      pkCols: Seq[String],
      metrics: Option[graft.streaming.MetricsRegistry] = None): graft.streaming.BatchSink =
    parseSinkNode(spark, mapper.readTree(json), pkCols, metrics)

  /** Multiple outputs off one pipeline: `[{...}, {...}]` → CompositeSink
    * (each JSON object is one `parseSink` config). A single object parses
    * as itself.
    */
  def parseSinks(spark: org.apache.spark.sql.SparkSession, json: String,
      pkCols: Seq[String],
      metrics: Option[graft.streaming.MetricsRegistry] = None): graft.streaming.BatchSink =
    parseSinksNode(spark, mapper.readTree(json), pkCols, metrics)

  private def parseSinksNode(spark: org.apache.spark.sql.SparkSession, o: JsonNode,
      pkCols: Seq[String],
      metrics: Option[graft.streaming.MetricsRegistry]): graft.streaming.BatchSink =
    if (!o.isArray) parseSinkNode(spark, o, pkCols, metrics)
    else new graft.streaming.CompositeSink(
      o.elements().asScala.map(parseSinkNode(spark, _, pkCols, metrics)).toSeq)

  private def parseSinkNode(spark: org.apache.spark.sql.SparkSession, o: JsonNode,
      pkCols: Seq[String],
      metrics: Option[graft.streaming.MetricsRegistry] = None): graft.streaming.BatchSink = {
    // sink-level "pk" overrides the plan's (a snapshot keyed per
    // (target, pk) next to a per-table relational target)
    val pk = Option(o.get("pk")).map(strList).getOrElse(pkCols)
    val columns = Option(o.get("columns")).map(strList)
    // "columns": output-side projection applied before the sink
    def projected(sink: graft.streaming.BatchSink): graft.streaming.BatchSink =
      columns.fold(sink)(new graft.streaming.ProjectingSink(sink, _))
    val base: graft.streaming.BatchSink = req(o, "type").asText() match {
      case "snapshot" =>
        projected(new graft.streaming.SnapshotBatchSink(spark, req(o, "path").asText(), pk,
          Option(o.get("buckets")).map(_.asInt()).getOrElse(16)))
      case "jdbc" =>
        val url = req(o, "url").asText()
        val engine = Option(o.get("engine")).map(_.asText()).getOrElse("replace") match {
          case "replace" => graft.sinks.ReplaceEngine
          case "insert-ignore" => graft.sinks.InsertIgnoreEngine
          case "on-dup-key" => graft.sinks.OnDupKeyUpdateEngine
          case "ansi-merge" => graft.sinks.AnsiMergeEngine(pk)
          case "manual" => graft.sinks.ManualEngine(req(o, "template").asText())
          case other => throw new IllegalArgumentException(s"unknown engine '$other'")
        }
        val targets = Option(o.get("targets")).map(_.elements().asScala.map { t =>
          val parts = t.elements().asScala.map(_.asText()).toSeq
          (parts.head, parts(1))
        }.toSeq).getOrElse(Nil)
        // "introspect-schemas": reconcile each batch against the LIVE
        // target schema. Fetched fresh per batch (one metadata query per
        // target — noise next to the batch's writes): a cache would serve
        // a stale schema after in-stream DDL unless something invalidates
        // it; callers who wire DDL events to SchemaCatalog.invalidate can
        // pass a catalog-backed schemaFor to JdbcBatchSink directly
        val schemaFor =
          if (!Option(o.get("introspect-schemas")).exists(_.asBoolean())) None
          else Some(graft.core.JdbcSchemaIntrospector.writableFetch(() =>
            java.sql.DriverManager.getConnection(url)))
        projected(new graft.sinks.JdbcBatchSink(
          () => new graft.sinks.JdbcStatementExecutor(url),
          engine, pk, targets = targets, schemaFor = schemaFor,
          maxRowsPerStatement =
            Option(o.get("max-rows-per-statement")).map(_.asInt()).getOrElse(200),
          numWriters = Option(o.get("num-writers")).map(_.asInt()),
          txnTagger = Option(o.get("txn-tag-table")).map(t =>
            graft.sinks.InternalTxnTagger(t.asText(),
              Option(o.get("pipeline-name")).map(_.asText()).getOrElse("graft")))))
      case "kafka-file" =>
        // the kafka sinks own "columns" as the wire payload selection —
        // projecting would strip the database/table the 2.0.alpha
        // envelope needs and silently downgrade it to generic JSON
        new graft.sinks.KafkaFileBatchSink(
          req(o, "path").asText(),
          Option(o.get("partitions")).map(_.asInt()).getOrElse(4),
          pk,
          payloadColumns = columns)
      case "kafka-wire" =>
        // the real-broker seat: executor-side wire producers; batch-magic
        // 2 selects RecordBatch v2 / produce v3 (the 4.x-broker dialect)
        new graft.sinks.KafkaWireBatchSink(
          req(o, "host").asText(),
          Option(o.get("port")).map(_.asInt()).getOrElse(9092),
          Option(o.get("partitions")).map(_.asInt()).getOrElse(4),
          req(o, "topic").asText(),
          pk,
          payloadColumns = columns,
          maxRecordsPerRequest =
            Option(o.get("max-records-per-request")).map(_.asInt()).getOrElse(1000),
          batchMagic = Option(o.get("batch-magic")).map(_.asInt()).getOrElse(1),
          sasl = Option(o.get("sasl-user")).map(u => (u.asText(),
            Option(o.get("sasl-password")).map(_.asText()).getOrElse(""),
            Option(o.get("sasl-mechanism")).map(_.asText())
              .getOrElse("SCRAM-SHA-256"))),
          tls = Option(o.get("tls-truststore")).map(p => (p.asText(),
            Option(o.get("tls-password")).map(_.asText()).getOrElse(""))))
      case other => throw new IllegalArgumentException(s"unknown output type '$other'")
    }
    Option(o.get("retries")).map(_.asInt()) match {
      case Some(r) => new graft.streaming.RetryingSink(base, r,
        Option(o.get("retry-sleep-ms")).map(_.asLong()).getOrElse(1000L), metrics)
      case None => base
    }
  }
}
