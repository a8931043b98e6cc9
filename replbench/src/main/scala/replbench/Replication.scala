package replbench

import graft.core.ChangeLog
import graft.operators.TransformChain
import graft.plans.PipelineConfig
import graft.streaming.{BatchSink, CompositeSink, PipelinePlan, PipelineRunner}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** The two replication workloads, driven through the program's config
  * front end (`PipelineConfig.parse` / `parseSource` / `parseSinks`) and
  * `PipelineRunner.start`, exactly as a deployment boots a pipeline.
  *
  *   - live: open loop. A generator thread publishes one pre-written
  *     change-log file every [[IntervalMs]] at [[LiveRate]] events/s and
  *     micro-batches run back to back. Each event is timed from the moment
  *     its file was due to the return of the last sink's write() for the
  *     batch that read it.
  *   - wide: a backlog published all at once and drained
  *     [[WideFilesPerTrigger]] files per micro-batch; each event is timed
  *     from the moment the backlog appeared.
  */
object Replication {

  /** Offered rate of `live`, events per second (see BENCHMARK.json); the
    * capacity it is set under is measured in README.md.
    */
  val LiveRate = 1000
  val IntervalMs = 100
  /** Backlog size of `wide` per second of run length, and its layout. */
  val WideEventsPerSecond = 10000
  val WideFileEvents = 2000
  val WideFilesPerTrigger = 5

  /** A replication workload: its sinks, the snapshot's bucket count, how
    * its log is cut into files, whether files arrive on a schedule (open
    * loop) or all at once, and how many untimed warm-up batches come first:
    * the JIT keeps speeding up driver-side planning for about four batches.
    */
  final case class Spec(name: String, sinks: Seq[String], buckets: Int, openLoop: Boolean,
      perFile: Int, maxFilesPerTrigger: Option[Int], warmup: Int)
  def liveAt(rate: Int): Spec = Spec("live", Seq("snapshot", "jdbc"), 4, openLoop = true,
    math.max(1, rate * IntervalMs / 1000), None, warmup = 4)
  val wide = Spec("wide", Seq("snapshot", "kafka"), 16, openLoop = false,
    WideFileEvents, Some(WideFilesPerTrigger), warmup = 4)

  /** Events in each warm-up file; each warm-up batch reads one file. */
  val WarmupFileEvents = 250

  private val SnapshotPk = Seq("tgt_table", "id")

  def planJson(name: String, ckpt: String): String =
    s"""{
       |  "name": "replbench-$name",
       |  "filters": [
       |    {"type": "accept", "match-schema": "db*"},
       |    {"type": "reject", "match-table": ["audit"]},
       |    {"type": "rename-columns", "from": ["amt"], "to": ["amount"]},
       |    {"type": "expr", "column": "v", "sql": "upper(v)"}
       |  ],
       |  "routes": [
       |    {"match-schema": "db0", "target-schema": "", "target-table": "t_a"},
       |    {"match-schema": "db1", "target-schema": "", "target-table": "t_b"}
       |  ],
       |  "pk": ["id"],
       |  "checkpoint": "$ckpt"
       |}""".stripMargin

  def sourceJson(log: String, maxFiles: Option[Int]): String =
    s"""{"type": "file-changelog", "path": "$log", "schema": "${Gen.Schema}"""" +
      maxFiles.map(n => s""", "max-files-per-trigger": $n""").getOrElse("") + "}"

  def sinkJson(kind: String, dir: String, url: String, buckets: Int): String = {
    val retry = """"retries": 2, "retry-sleep-ms": 100"""
    kind match {
      case "snapshot" =>
        s"""{"type": "snapshot", "path": "$dir/snapshot", "buckets": $buckets,
           | "pk": ["tgt_table", "id"], $retry}""".stripMargin
      case "jdbc" =>
        s"""{"type": "jdbc", "url": "$url", "engine": "ansi-merge",
           | "targets": [["", "t_a"], ["", "t_b"]], "introspect-schemas": true,
           | "num-writers": 1, $retry}""".stripMargin
      case "kafka" =>
        s"""{"type": "kafka-file", "path": "$dir/kafka", "partitions": 4, $retry}"""
    }
  }

  /** A fresh in-memory Derby target with the two routed tables. */
  def derby(tag: String): String = {
    val url = s"jdbc:derby:memory:rb_${tag}_${System.nanoTime()};create=true"
    val c = java.sql.DriverManager.getConnection(url)
    try Seq("t_a", "t_b").foreach(t => c.createStatement().execute(
      s"CREATE TABLE $t (id BIGINT PRIMARY KEY, v VARCHAR(32), amount BIGINT)"))
    finally c.close()
    url
  }

  def dropDerby(url: String): Unit =
    try java.sql.DriverManager.getConnection(url.replace(";create=true", ";drop=true"))
    catch { case _: java.sql.SQLException => () } // a successful drop reports 08006

  /** Everything set-up plans for one pass: the parsed pipeline, the source
    * frame and the sinks.
    */
  final case class Planned(plan: PipelinePlan, source: DataFrame, sinks: Seq[(String, BatchSink)],
      url: Option[String], registry: graft.streaming.MetricsRegistry)

  def planPass(spark: SparkSession, spec: Spec, dir: String, traced: Boolean): Planned = {
    val url = if (spec.sinks.contains("jdbc")) Some(derby(Paths.get(dir).getFileName.toString)) else None
    val plan = PipelineConfig.parse(planJson(spec.name, s"$dir/ckpt"))
    val source = PipelineConfig.parseSource(spark, sourceJson(s"$dir/log", spec.maxFilesPerTrigger))
    val registry = new graft.streaming.MetricsRegistry(plan.name)
    val jsons = spec.sinks.map(k => k -> sinkJson(k, dir, url.getOrElse(""), spec.buckets))
    val sinks =
      if (traced) jsons.map { case (k, j) =>
        k -> PipelineConfig.parseSinks(spark, j, plan.pkCols, Some(registry)) }
      else Seq("all" -> PipelineConfig.parseSinks(spark,
        jsons.map(_._2).mkString("[", ",", "]"), plan.pkCols, Some(registry)))
    Planned(plan, source, sinks, url, registry)
  }

  /** Record when each batch's write returned. */
  final class Stamped(inner: BatchSink) extends BatchSink {
    val ends = new ConcurrentHashMap[Long, Long]()
    def write(batchId: Long, compacted: DataFrame): Unit = {
      inner.write(batchId, compacted)
      ends.put(batchId, System.nanoTime())
    }
  }

  /** Per-layer counts of the traced run. */
  final class LayerCounts {
    var rowsIn = 0L
    var routedRows = 0L
    var keysOut = 0L
    var lastBatchRows = 0L
    var snapBuckets = 0L
    var snapRows = 0L
    var snapBytes = 0L
    var kafkaBytes = 0L
    var jdbcRows = 0L
  }

  /** A sink decorator of the traced run: one span and one job group per
    * write, and the sink's output measured from what it left on disk for
    * batches from `timedFrom` on.
    */
  final class TracedSink(kind: String, inner: BatchSink, spark: SparkSession, tracer: Tracer,
      dir: String, counts: LayerCounts, timedFrom: Long) extends BatchSink {
    private var buckets = Map.empty[Int, Long]

    def write(batchId: Long, compacted: DataFrame): Unit = {
      tracer.span(s"sinks.$kind", batchId) {
        Layers.withLayer(spark, s"sinks.$kind")(inner.write(batchId, compacted))
      }
      kind match {
        case "snapshot" => probeSnapshot(batchId >= timedFrom)
        case _ if batchId < timedFrom =>
        case "kafka" =>
          counts.kafkaBytes += listFiles(Paths.get(s"$dir/kafka"))
            .filter(_.getFileName.toString == f"batch-$batchId%09d.jsonl").map(Files.size).sum
        case "jdbc" => counts.jdbcRows += counts.lastBatchRows
      }
    }

    /** Buckets whose generation the commit changed, and the rows and bytes
      * of their new generation files (row counts from the parquet footers).
      */
    private def probeSnapshot(count: Boolean): Unit = {
      val manifests = listFiles(Paths.get(s"$dir/snapshot/manifest"))
        .map(_.getFileName.toString).filter(n => n.startsWith("v") && !n.endsWith(".tmp"))
      val latest = manifests.map(_.drop(1).toLong).max
      val now = Files.readAllLines(Paths.get(s"$dir/snapshot/manifest/v$latest")).asScala
        .map(_.trim.split(" ")).collect { case Array("bucket", b, g) => b.toInt -> g.toLong }.toMap
      val touched = now.filter { case (b, g) => !buckets.get(b).contains(g) }
      buckets = now
      if (count) {
        counts.snapBuckets += touched.size
        val conf = spark.sparkContext.hadoopConfiguration
        for ((b, g) <- touched; f <- listFiles(Paths.get(s"$dir/snapshot/data/__bucket=$b/__gen=$g"))
            if f.getFileName.toString.endsWith(".parquet")) {
          counts.snapBytes += Files.size(f)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(f.toUri), conf))
          try counts.snapRows += r.getRecordCount finally r.close()
        }
      }
    }
  }

  def listFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  /** The traced batch body: the same stages as PipelineRunner.applyBatch,
    * called one by one, each materialized under its own span and job group
    * so its time and jobs are its own. Rows are counted from batch
    * `timedFrom` on.
    */
  def tracedBatch(spark: SparkSession, plan: PipelinePlan, sink: BatchSink, tracer: Tracer,
      counts: LayerCounts, timedFrom: Long)(df: DataFrame, batchId: Long): Unit =
    tracer.span("streaming.batch", batchId) {
      def stage(name: String, layer: String)(f: => DataFrame): (DataFrame, Long) =
        tracer.span(name, batchId) {
          Layers.withLayer(spark, layer) { val d = f.persist(); (d, d.count()) }
        }
      val (src, in) = stage("sources.read", "sources")(df)
      val (t, _) = stage("operators.transform", "operators")(TransformChain(plan.transforms)(src))
      val router = plan.router.get
      val (r, routed) = stage("operators.route", "operators")(router.assign(t.filter(router.exists)))
      val (c, keys) = stage("core.compact", "core")(
        ChangeLog.lastPerKey(r, Seq("tgt_schema", "tgt_table") ++ plan.pkCols))
      if (batchId >= timedFrom) {
        counts.rowsIn += in
        counts.routedRows += routed
        counts.keysOut += keys
      }
      counts.lastBatchRows = keys
      sink.write(batchId, c)
      Seq(c, r, t, src).foreach(_.unpersist())
    }

  /** What one pass measured. `lagsMs` holds one lag per timed file (all
    * of a workload's timed files have the same size). `eventsPerS` is the rate between the first and
    * the last batch's completion in an open loop (the offered rate unless
    * the backlog grows), and events over drain time for a staged backlog.
    */
  final case class PassOut(events: Int, lagsMs: Array[Double], eventsPerS: Double,
      batchS: Seq[Double], overheadS: Seq[Double], backlogMax: Int, genLateMsMax: Double,
      retries: Long, spark: (Long, Long, Long, Long))

  /** Run one pass of `spec` over `events`, check its outputs and clean up
    * its Derby database. The first `spec.warmup` files are warm-up: each
    * is published alone once the previous batch is done, so the timed part
    * does not measure JIT and codegen; they are checked but not timed.
    * Failures are counted in `res`.
    */
  def runPass(spark: SparkSession, spec: Spec, events: Vector[Event], dir: String,
      tracer: Option[Tracer], counts: LayerCounts, stats: JobStats, res: Result,
      deadlineS: Double): PassOut = {
    val warm = spec.warmup
    val files = Gen.files(events.take(warm * WarmupFileEvents), WarmupFileEvents) ++
      Gen.files(events.drop(warm * WarmupFileEvents), spec.perFile)
    val log = Paths.get(s"$dir/log")
    val staged = Paths.get(s"$dir/staged")
    Files.createDirectories(log)
    Files.createDirectories(staged)
    val names = files.indices.map(k => f"$k%06d.parquet")
    files.indices.foreach { k =>
      Gen.write(files(k), staged.resolve(names(k)))
      // the file source takes the oldest files first: make that the log order
      staged.resolve(names(k)).toFile.setLastModified(1000000000000L + k * 1000L)
    }
    Layers.note(s"${spec.name}: staged ${files.size} files of ${events.size} events")
    val p = planPass(spark, spec, dir, tracer.isDefined)
    val stamped = new Stamped(tracer match {
      case None => p.sinks.head._2
      case Some(tr) => new CompositeSink(p.sinks.map { case (k, s) =>
        new TracedSink(k, s, spark, tr, dir, counts, spec.warmup) })
    })
    val trigger = Trigger.ProcessingTime(0)
    val q = tracer match {
      case None => PipelineRunner.start(p.plan, p.source, stamped, trigger)
      case Some(tr) => p.source.writeStream.queryName(p.plan.name)
        .option("checkpointLocation", p.plan.checkpoint).trigger(trigger)
        .foreachBatch(tracedBatch(spark, p.plan, stamped, tr, counts, spec.warmup) _).start()
    }
    val published = new Array[Long](files.size)
    val t0 = new java.util.concurrent.atomic.AtomicLong()
    def publish(k: Int): Unit = {
      Files.move(staged.resolve(names(k)), log.resolve(names(k)), StandardCopyOption.ATOMIC_MOVE)
      published(k) = System.nanoTime()
    }
    val gen = new Thread(() => {
      val until = System.nanoTime() + (deadlineS * 1e9).toLong
      (0 until warm).foreach { i =>
        publish(i)
        while (stamped.ends.size <= i && q.isActive && System.nanoTime() < until) Thread.sleep(5)
      }
      // job and task counts cover the timed part only
      stats.settle()
      stats.reset()
      if (spec.openLoop) {
        t0.set(System.nanoTime() + 100000000L)
        (warm until files.size).foreach { k =>
          val wait = t0.get + (k - warm) * IntervalMs * 1000000L - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          publish(k)
        }
      } else {
        t0.set(System.nanoTime())
        (warm until files.size).foreach(publish)
      }
    }, "replbench-generator")
    gen.start()
    val finished = awaitDrained(q, events.size, deadlineS)
    gen.join()
    if (!finished) res.fail(s"${spec.name}: the stream did not apply all ${events.size} events " +
      f"within $deadlineS%.0f s")
    try q.stop() catch { case e: Exception => res.fail(s"${spec.name}: stop failed: $e") }
    q.exception.foreach(e => res.fail(s"${spec.name}: query failed: ${e.getMessage.take(500)}"))
    Layers.note(s"${spec.name}: stream stopped; batch seconds " + q.recentProgress
      .filter(_.numInputRows > 0).map(_.durationMs.get("triggerExecution") / 1000.0).mkString(" "))
    stats.settle()
    val sparkTotals = stats.sum(_ => true)
    res.attempted += q.recentProgress.count(_.numInputRows > 0)

    // which files each batch read, recovered from the checkpoint's source log
    val batchOfFile = sourceLog(Paths.get(s"${p.plan.checkpoint}/sources/0"))
    val fileBatch = names.map(batchOfFile.getOrElse(_, -1L))
    val ends = stamped.ends.asScala.toMap
    val timed = warm until files.size
    val firstTimed = timed.map(fileBatch).filter(_ >= 0).minOption.getOrElse(Long.MaxValue)
    val progress = q.recentProgress.filter(pr => pr.numInputRows > 0 && pr.batchId >= firstTimed).toSeq
    def due(k: Int) = if (spec.openLoop) t0.get + (k - warm) * IntervalMs * 1000000L else t0.get
    // one lag per file: its events share the file's due time and the end of
    // the batch that read it, so they are one sample, not many
    val lags = timed.flatMap(k => ends.get(fileBatch(k)).map(e => (e - due(k)) / 1e6)).toArray
    val lastEnd = if (ends.isEmpty) t0.get else ends.values.max
    val eventsPerS =
      if (!spec.openLoop) timed.map(files(_).size).sum / ((lastEnd - t0.get) / 1e9)
      else timed.filter(k => fileBatch(k) > firstTimed).map(files(_).size).sum /
        ((lastEnd - ends.getOrElse(firstTimed, t0.get)) / 1e9)
    val backlog = ends.toSeq.filter(_._1 >= firstTimed).map { case (b, e) =>
      timed.count(k => published(k) > 0 && published(k) <= e) -
        timed.count(k => fileBatch(k) >= 0 && fileBatch(k) <= b)
    }
    val retries = p.registry.render().linesIterator
      .filter(_.startsWith("gravity_scheduler_retry_counter"))
      .map(_.split(" ").last.toDouble.toLong).sum
    (0L until retries).foreach(_ => res.fail(s"${spec.name}: a sink write was retried"))

    if (finished) {
      val fileOfSeq = files.indices.flatMap(k => files(k).map(_ => k))
      check(spark, spec, events, dir, p.url, e => fileBatch(fileOfSeq((e.seq - 1).toInt)), res)
    }
    p.url.foreach(dropDerby)
    Layers.note(s"${spec.name}: outputs checked")
    PassOut(timed.map(files(_).size).sum, lags, eventsPerS,
      progress.map(_.durationMs.get("triggerExecution").toDouble / 1000),
      progress.map(pr => (pr.durationMs.get("triggerExecution") -
        pr.durationMs.getOrDefault("addBatch", 0L)).toDouble / 1000),
      if (backlog.isEmpty) 0 else backlog.max,
      timed.filter(published(_) > 0).map(k => (published(k) - due(k)) / 1e6)
        .foldLeft(0.0)(math.max),
      retries, sparkTotals)
  }

  /** True once the query reported progress over every event; false on
    * failure or when the deadline passes first.
    */
  private def awaitDrained(q: StreamingQuery, events: Int, deadlineS: Double): Boolean = {
    val until = System.nanoTime() + (deadlineS * 1e9).toLong
    def done = q.recentProgress.map(_.numInputRows).sum >= events
    while (!done && q.isActive && System.nanoTime() < until) Thread.sleep(20)
    done
  }

  /** file name → batch id, from every entry of the file source's log. */
  def sourceLog(dir: Path): Map[String, Long] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    listFiles(dir).filterNot(_.getFileName.toString.startsWith(".")).flatMap { f =>
      Files.readAllLines(f).asScala.filter(_.startsWith("{")).map { l =>
        val n = mapper.readTree(l)
        Paths.get(new java.net.URI(n.get("path").asText())).getFileName.toString ->
          n.get("batchId").asLong()
      }
    }.toMap
  }

  /** Compare every sink's final state with the plain-Scala replay. */
  def check(spark: SparkSession, spec: Spec, events: Vector[Event], dir: String,
      url: Option[String], batchOf: Event => Long, res: Result): Unit = {
    val expected = Oracle.replay(events)
    def compare(what: String, actual: Map[(String, Long), (String, Long)]): Unit = {
      res.attempted += 1
      val d = Oracle.diff(expected, actual)
      if (d.nonEmpty) res.fail(s"${spec.name}: $what differs from the replay: ${d.mkString("; ")}")
    }
    val snap = new graft.sinks.SnapshotSink(spark, s"$dir/snapshot", SnapshotPk, spec.buckets)
      .read().select("tgt_table", "id", "v", "amount").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getString(2), r.getLong(3))).toMap
    compare("snapshot", snap)
    url.foreach { u =>
      val c = java.sql.DriverManager.getConnection(u)
      try compare("jdbc target", Seq("t_a", "t_b").flatMap { t =>
        val rs = c.createStatement().executeQuery(s"SELECT id, v, amount FROM $t")
        Iterator.continually(rs).takeWhile(_.next())
          .map(r => (t, r.getLong(1)) -> (r.getString(2), r.getLong(3))).toList
      }.toMap)
      finally c.close()
    }
    if (spec.sinks.contains("kafka")) {
      res.attempted += 1
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val msgs = listFiles(Paths.get(s"$dir/kafka")).groupBy(_.getParent.getFileName.toString)
        .toSeq.flatMap { case (part, fs) =>
          fs.sortBy(_.getFileName.toString).flatMap(f => Files.readAllLines(f).asScala).map { l =>
            val n = mapper.readTree(l)
            val key = (n.get("database").asText(), n.get("data").get("id").asLong())
            (key, part, (n.get("type").asText(), n.get("data").get("v").asText()))
          }
        }
      val parts = msgs.groupBy(_._1).map { case (k, ms) => k -> ms.map(_._2).distinct }
      val split = parts.filter(_._2.size > 1)
      if (split.nonEmpty) res.fail(s"${spec.name}: kafka keys spread over partitions: ${split.take(3)}")
      val actual = msgs.groupBy(_._1).map { case (k, ms) => k -> ms.map(_._3).toVector }
      val d = Oracle.diff(Oracle.kafkaSequences(events, batchOf), actual)
      if (d.nonEmpty) res.fail(s"${spec.name}: kafka per-key order differs: ${d.mkString("; ")}")
    }
  }
}
