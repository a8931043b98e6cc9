package replbench

import org.apache.spark.sql.SparkSession

/** One benchmark run in this JVM:
  *
  * {{{
  * Main --workload live|wide|analytics --seed N --seconds S --trace 0|1
  *      --root <scratch dir> --out <result.json> --sf <tables dir>
  *      [--spans <spans.tsv>] [--cores C] [--rate R]
  * }}}
  *
  * Writes the result object (every end-to-end metric, or with `--trace 1`
  * every per-layer metric) to `--out`. `run.py` adds the analytics oracle
  * check and the success ratio, and prints it. Every stream and every
  * query has a deadline within [[deadlineS]], so a run that hangs ends with
  * its failures counted. `--rate` replaces `live`'s offered rate (events/s)
  * to measure the pipeline's capacity; the benchmark's runs leave it out.
  */
object Main {

  val SetupReps = 5

  /** Wall-clock budget of the measured part of a run: `passes` streams or
    * analytics phases of `seconds` each, plus warm-up and drain slack.
    * `run.py` stops the JVM 60 s after this, for set-up and the checks.
    */
  def deadlineS(seconds: Int, traced: Boolean): Double = (if (traced) 2 else 1) * (seconds + 90.0)

  /** Per-layer metrics and units; a layer a workload does not run reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.rows_in" -> "count", "sources.read_s" -> "s",
    "sources.backlog_files_max" -> "count", "sources.gen_late_ms_max" -> "ms",
    "operators.transform_s" -> "s", "operators.route_s" -> "s", "operators.pass_ratio" -> "ratio",
    "core.compact_s" -> "s", "core.compact_ratio" -> "ratio",
    "streaming.batches" -> "count", "streaming.batch_p50_s" -> "s", "streaming.batch_max_s" -> "s",
    "streaming.trigger_overhead_s" -> "s", "streaming.jobs_per_batch" -> "count",
    "sinks.snapshot.merge_s" -> "s", "sinks.snapshot.buckets_touched_per_batch" -> "count",
    "sinks.snapshot.write_amplification" -> "ratio", "sinks.snapshot.bytes_written" -> "bytes",
    "sinks.kafka.write_s" -> "s", "sinks.kafka.bytes_written" -> "bytes",
    "sinks.jdbc.write_s" -> "s", "sinks.jdbc.rows_written" -> "count", "sinks.retries" -> "count") ++
    Analytics.Mix.map(q => s"analytics.${q}_s" -> "s") ++ Seq(
    "analytics.jobs" -> "count", "analytics.shuffle_bytes" -> "bytes",
    "spark.tasks" -> "count", "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "jvm.gc_s" -> "s", "trace.overhead_s" -> "s", "trace.overhead_ratio" -> "ratio")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val root = opt("root")
    val cores = opt.get("cores").map(_.toInt)
      .getOrElse(math.min(4, java.lang.Runtime.getRuntime.availableProcessors()))
    val sf = opt("sf")
    val rate = opt.get("rate").map(_.toInt)
    require(rate.forall(_ > 0) && (rate.isEmpty || workload == "live"), "--rate is for live only")
    val res = new Result
    val stats = new JobStats
    val tracer = if (traced) Some(new Tracer) else None

    val spark = workload match {
      case "live" | "wide" =>
        val spec = if (workload == "live") Replication.liveAt(rate.getOrElse(Replication.LiveRate))
          else Replication.wide
        replication(spec, seed, seconds, root, cores, stats, tracer, res)
      case "analytics" =>
        analytics(sf, seed, seconds, deadlineS(seconds, traced), root, cores, stats, tracer, res)
      case other => sys.error(s"unknown workload '$other'")
    }
    if (traced) {
      PerLayer.foreach { case (n, u) => if (!res.metrics.contains(n)) res.put(n, 0.0, u) }
      opt.get("spans").foreach(p => tracer.get.write(java.nio.file.Paths.get(p)))
    } else res.put("peak_rss_mb", Layers.peakRssMb(), "MB")
    java.nio.file.Files.write(java.nio.file.Paths.get(opt("out")),
      res.toJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }

  def replication(spec: Replication.Spec, seed: Long, seconds: Int, root: String, cores: Int,
      stats: JobStats, tracer: Option[Tracer], res: Result): SparkSession = {
    val (setupS, spark) = Layers.timedSetup(SetupReps) { i =>
      val s = Layers.session(root, cores, stats)
      val p = Replication.planPass(s, spec, s"$root/setup$i", traced = false)
      p.url.foreach(Replication.dropDerby)
      s
    }
    val perSecond = if (spec.openLoop) spec.perFile * 1000 / Replication.IntervalMs
      else Replication.WideEventsPerSecond
    // a traced run spends half its time untraced on the same inputs, so the
    // difference between the two halves is the tracing overhead
    val passSeconds = if (tracer.isDefined) math.max(1, seconds / 2) else seconds
    val n = spec.warmup * Replication.WarmupFileEvents + perSecond * passSeconds
    val events = if (spec.name == "live") Gen.live(seed, n) else Gen.wide(seed, n)
    val deadlineS = Main.deadlineS(passSeconds, traced = false)
    val counts = new Replication.LayerCounts
    val plain = Replication.runPass(spark, spec, events, s"$root/pass", None, counts, stats, res,
      deadlineS)
    val mixS = if (plain.batchS.isEmpty) Double.NaN else Stats.median(plain.batchS)
    tracer match {
      case None =>
        res.put("setup_s", setupS, "s")
        res.put("events_per_s", plain.eventsPerS, "events/s")
        if (plain.lagsMs.isEmpty) res.fail(s"${spec.name}: no event was applied")
        else res.put("lag_p50_ms", Stats.median(plain.lagsMs.toSeq), "ms")
        Stats.tail(plain.lagsMs.toSeq) match {
          case Some(t) =>
            println(f"[replbench] lag_p99_ms is the p${t.pct}%.2f of ${t.n} file lags " +
              s"(${t.beyond} beyond it)")
            res.put("lag_p99_ms", t.value, "ms")
          case None => res.fail(s"${spec.name}: too few files for a tail percentile")
        }
        res.put("mix_s", mixS, "s")
      case Some(tr) =>
        val gc0 = Layers.gcSeconds()
        val t = Replication.runPass(spark, spec, events, s"$root/traced", Some(tr), counts, stats,
          res, deadlineS)
        val self = Trace.selfTimes(tr.all.filter(_.batch >= spec.warmup)).withDefaultValue(0.0)
        val batches = t.batchS.size.toDouble.max(1)
        res.put("sources.rows_in", counts.rowsIn.toDouble, "count")
        res.put("sources.read_s", self("sources.read"), "s")
        res.put("sources.backlog_files_max", t.backlogMax.toDouble, "count")
        res.put("sources.gen_late_ms_max", t.genLateMsMax, "ms")
        res.put("operators.transform_s", self("operators.transform"), "s")
        res.put("operators.route_s", self("operators.route"), "s")
        res.put("operators.pass_ratio", counts.routedRows.toDouble / counts.rowsIn.max(1), "ratio")
        res.put("core.compact_s", self("core.compact"), "s")
        res.put("core.compact_ratio", counts.keysOut.toDouble / counts.routedRows.max(1), "ratio")
        res.put("streaming.batches", t.batchS.size.toDouble, "count")
        if (t.batchS.nonEmpty) {
          res.put("streaming.batch_p50_s", Stats.median(t.batchS), "s")
          res.put("streaming.batch_max_s", t.batchS.max, "s")
          res.put("streaming.trigger_overhead_s", Stats.median(t.overheadS), "s")
        }
        res.put("streaming.jobs_per_batch", t.spark._1 / batches, "count")
        if (spec.sinks.contains("snapshot")) {
          res.put("sinks.snapshot.merge_s", self("sinks.snapshot"), "s")
          res.put("sinks.snapshot.buckets_touched_per_batch", counts.snapBuckets / batches, "count")
          res.put("sinks.snapshot.write_amplification",
            counts.snapRows.toDouble / counts.keysOut.max(1), "ratio")
          res.put("sinks.snapshot.bytes_written", counts.snapBytes.toDouble, "bytes")
        }
        res.put("sinks.kafka.write_s", self("sinks.kafka"), "s")
        res.put("sinks.kafka.bytes_written", counts.kafkaBytes.toDouble, "bytes")
        res.put("sinks.jdbc.write_s", self("sinks.jdbc"), "s")
        res.put("sinks.jdbc.rows_written", counts.jdbcRows.toDouble, "count")
        res.put("sinks.retries", (plain.retries + t.retries).toDouble, "count")
        res.put("spark.tasks", t.spark._2.toDouble, "count")
        res.put("spark.shuffle_write_bytes", t.spark._3.toDouble, "bytes")
        res.put("spark.spill_bytes", t.spark._4.toDouble, "bytes")
        res.put("jvm.gc_s", Layers.gcSeconds() - gc0, "s")
        if (t.batchS.nonEmpty) {
          val tracedMix = Stats.median(t.batchS)
          res.put("trace.overhead_s", tracedMix - mixS, "s")
          res.put("trace.overhead_ratio", tracedMix / mixS - 1, "ratio")
        }
    }
    spark
  }

  def analytics(sf: String, seed: Long, seconds: Int, deadlineS: Double, root: String,
      cores: Int, stats: JobStats, tracer: Option[Tracer], res: Result): SparkSession = {
    val (setupS, spark) = Layers.timedSetup(SetupReps) { _ =>
      val s = Layers.session(root, cores, stats)
      graft.core.Tables.registerAll(s, sf)
      Analytics.Mix.foreach(graft.analytics.Catalog.queries)
      s
    }
    val gc0 = Layers.gcSeconds()
    val (rounds, lats, traced) = Analytics.run(spark, sf, root, seed, seconds, deadlineS,
      tracer, res)
    stats.settle()
    tracer match {
      case None if lats.isEmpty => res.fail("analytics: no query completed")
      case None =>
        res.put("setup_s", setupS, "s")
        res.put("events_per_s", lats.size / rounds.sum, "events/s")
        res.put("lag_p50_ms", Stats.median(lats) * 1000, "ms")
        // one sample per query and eight per round: too few for the tail
        // rule, so the tail reported is the slowest query
        println(s"[replbench] lag_p99_ms is the maximum of ${lats.size} query latencies")
        res.put("lag_p99_ms", lats.max * 1000, "ms")
        res.put("mix_s", Stats.median(rounds), "s")
      case Some(tr) =>
        val self = Trace.selfTimes(tr.all).withDefaultValue(0.0)
        Analytics.Mix.foreach(q => res.put(s"analytics.${q}_s", self(s"analytics.$q"), "s"))
        val inRound = (g: String) => g.startsWith("analytics.") && g != "analytics.mix"
        val (jobs, tasks, shuffle, spill) = stats.sum(inRound)
        res.put("analytics.jobs", jobs.toDouble, "count")
        res.put("analytics.shuffle_bytes", shuffle.toDouble, "bytes")
        res.put("spark.tasks", tasks.toDouble, "count")
        res.put("spark.shuffle_write_bytes", shuffle.toDouble, "bytes")
        res.put("spark.spill_bytes", spill.toDouble, "bytes")
        res.put("jvm.gc_s", Layers.gcSeconds() - gc0, "s")
        traced.foreach { case (plain, t) =>
          res.put("trace.overhead_s", t - plain, "s")
          res.put("trace.overhead_ratio", t / plain - 1, "ratio")
        }
    }
    spark
  }
}
