package graft.analytics

import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Q._

/** Event-time operators over the events stream table — tumbling / sliding /
  * session windows, stream dedup, interval joins, as-of joins,
  * pivot — in their deterministic batch form (the DuckDB-checkable
  * semantics). The same operators run as true Structured Streaming queries
  * (withWatermark + window / session_window / dropDuplicates) in
  * StreamingSpec; batch and streaming share the event-time semantics, so
  * the oracle checks here cover both formulations.
  */
/** Typed rows for the Dataset[T] sessionization entry (TimestampNTZ maps
  * to java.time.LocalDateTime in the encoder).
  */
case class TypedEv(user_id: Long, ts: java.time.LocalDateTime, value: Double)
case class TypedSession(user_id: Long, session_start: java.time.LocalDateTime,
    n_events: Long, session_value: Double)

object StreamingQueries {

  private implicit val ldtOrdering: Ordering[java.time.LocalDateTime] =
    Ordering.fromLessThan(_.isBefore(_))

  /** Stage a bounded side as parquet and re-open it as a watermarked file
    * stream — the shared scaffolding of the stream-stream join entries.
    */
  private def stagedStream(s: SparkSession, work: String, df: DataFrame,
      name: String, watermarkCol: String): DataFrame = {
    df.write.mode("overwrite").parquet(s"$work/$name")
    s.readStream.schema(df.schema).parquet(s"$work/$name")
      .withWatermark(watermarkCol, "1 hour")
  }

  /** Run a streaming DataFrame to completion (AvailableNow, append mode)
    * and read the parquet result back as the gated answer.
    */
  private def runStreamToParquet(s: SparkSession, work: String,
      joined: DataFrame): DataFrame = {
    val q = joined.writeStream.format("parquet")
      .option("path", s"$work/out")
      .option("checkpointLocation", s"$work/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$work/out")
  }

  /** Stage the event stream as 4 exact-global-quartile parquet files
    * under `$work/in` (mtime-ordered, so maxFilesPerTrigger=1 replays
    * them as batches 0..3) — the shared file queue of the CEP serving
    * entries. Quartiles are EXACT ranks (Q.exactNtile, no
    * single-partition sort), and the ranked frame is materialized once
    * because exactNtile's range exchange samples per action.
    */
  private def stageEventQuartiles(s: SparkSession, d: String, work: String): Unit = {
    val ev = graft.core.Tables.events(s, d).select(col("user_id"),
      expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"),
      col("event_id"), substring(col("event_type"), 1, 1).as("ini"))
    val ranked = Q.exactNtile(ev,
      Seq(col("us"), col("event_id"), col("user_id")), 4, "b")
      .localCheckpoint()
    (0 to 3).foreach { b =>
      val part = ranked.filter(col("b") === (b + 1))
        .select(col("user_id"), col("us"), col("event_id"), col("ini"))
      val stageDir = s"$work/stage$b"
      part.coalesce(1).write.mode("overwrite").parquet(stageDir)
      val src = new java.io.File(stageDir).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      val inDir = java.nio.file.Paths.get(s"$work/in")
      java.nio.file.Files.createDirectories(inDir)
      val dest = inDir.resolve(f"b$b%02d.parquet")
      java.nio.file.Files.move(src.toPath, dest)
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(1000000L + b * 1000L))
    }
  }

  /** One CEP session fold (the evt_stream_sessionized_cep batch body up
    * to the merge): carried open sessions enter as pseudo-events, the
    * 10-minute gap cut re-runs over pseudo ∪ batch, every session but
    * the user's last closes with qbatch = id, the last stays open under
    * the 99 sentinel. Returns the checkpointed upsert rows
    * (user_id, session_start, last_us, trace, qbatch, op, seq).
    */
  private def cepFoldUpd(s: SparkSession, sink: graft.sinks.SnapshotSink,
      batch: DataFrame, id: Long): DataFrame = {
    import s.implicits._
    val cur =
      if (sink.exists)
        sink.read().filter(col("qbatch") === 99L)
          .select(col("user_id"), col("session_start"), col("last_us"), col("trace"))
      else Seq.empty[(Long, Long, Long, String)]
        .toDF("user_id", "session_start", "last_us", "trace")
    val pseudo = cur
      .join(batch.select(col("user_id")).distinct(), Seq("user_id"))
      .select(col("user_id"), col("last_us").as("us"),
        lit(-1L).as("event_id"), col("trace").as("piece"),
        col("session_start").as("start0"))
    val evs = batch.select(col("user_id"), col("us"), col("event_id"),
      col("ini").as("piece"), col("us").as("start0"))
    val wU = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val flagged = pseudo.unionByName(evs)
      .withColumn("new_sess",
        when(lag(col("us"), 1).over(wU).isNull ||
          col("us") - lag(col("us"), 1).over(wU) > lit(600000000L),
          lit(1)).otherwise(lit(0)))
      .withColumn("sid", sum(col("new_sess"))
        .over(wU.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val sess = flagged.groupBy(col("user_id"), col("sid"))
      .agg(min(col("start0")).as("session_start"),
        max(col("us")).as("last_us"),
        concat_ws("", expr(
          "transform(sort_array(collect_list(struct(us, event_id, piece))), x -> x.piece)"))
          .as("trace"))
    val marked = sess.withColumn("mx",
      max(col("sid")).over(Window.partitionBy(col("user_id"))))
    // every session but the user's last closes THIS batch; the last
    // stays open under the 99 sentinel until a later gap closes it
    marked
      .select(col("user_id"), col("session_start"), col("last_us"),
        col("trace"),
        when(col("sid") === col("mx"), lit(99L)).otherwise(lit(id)).as("qbatch"))
      .withColumn("op", lit(graft.core.ChangeLog.Update))
      .withColumn("seq", lit(id)).localCheckpoint()
  }

  /** TTL age-out maintenance step for the CEP serving sink: after the
    * batch's session fold, closed sessions that have stayed closed for
    * >= 2 batches LEAVE the sink — exported to the deterministic
    * per-batch dir `b<id>` BEFORE the manifest rename, with their
    * Delete rows in the SAME mergeOnce commit as the fold's upserts.
    * Protocol identical to [[IndexQueries.cmsTtlBatch]], in order:
    * applied-id gate FIRST (a replayed committed batch must recompute
    * nothing — its reads would see advanced state), export write, ONE
    * commit. The crash spec drives both fault points. 100 TB: serving
    * state stays O(open sessions + 2 batches of closures) instead of
    * growing with every closure forever; the closed-session archive is
    * append-only batch dirs, and the age-out predicate rides the sink
    * read the fold already performs. No upsert/delete pk can collide:
    * aged rows closed >= 2 batches ago, while the fold only writes
    * sessions with events or opens in this batch (event time is
    * monotone across the staged quartiles).
    */
  private[graft] def cepTtlBatch(s: SparkSession, sink: graft.sinks.SnapshotSink,
      exportDir: String, batch: DataFrame, id: Long): Unit = {
    import s.implicits._
    if (sink.applied(id)) return
    val upd = cepFoldUpd(s, sink, batch, id)
    val aged = (if (sink.exists)
        sink.read().filter(col("qbatch") =!= 99L && col("qbatch") <= lit(id - 2))
          .select(col("user_id"), col("session_start"), col("last_us"),
            col("trace"), col("qbatch"))
      else Seq.empty[(Long, Long, Long, String, Long)]
        .toDF("user_id", "session_start", "last_us", "trace", "qbatch"))
      .localCheckpoint()
    aged.withColumn("xbatch", lit(id)).coalesce(1)
      .write.mode("overwrite").parquet(s"$exportDir/b$id")
    sink.mergeOnce(id, graft.core.AuditSeam.report(
      "evt_stream_cep_ttl/maintain",
      upd.unionByName(aged
        .select(col("user_id"), col("session_start"),
          lit(null).cast("bigint").as("last_us"),
          lit(null).cast("string").as("trace"),
          lit(null).cast("bigint").as("qbatch"),
          lit(graft.core.ChangeLog.Delete).as("op"),
          lit(id).as("seq")))))
    ()
  }

  private def signupSide(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).filter(col("event_type") === "signup")
      .select(col("user_id"), col("event_id").as("signup_id"),
        col("ts").cast("timestamp").as("signup_ts"))

  private val intervalCond =
    col("user_id") === col("p_user_id") &&
      col("purchase_ts") >= col("signup_ts") &&
      col("purchase_ts") <= col("signup_ts") + expr("INTERVAL 24 HOURS")

  def all: Seq[CatalogQuery] = Seq(

    // ---- tumbling window -------------------------------------------------
    CatalogQuery("evt_tumbling_hourly", (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").getField("start").as("window_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value")),
      Some(
        s"""SELECT date_trunc('hour', ts) AS window_start, event_type,
           |  count(*) AS n, ${oSum("value")} AS total_value
           |FROM events GROUP BY 1, 2""".stripMargin), bench = true),

    // ---- sliding window (1h window, 30m slide => 2 windows per event) ----
    CatalogQuery("evt_sliding_1h_30m", (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").getField("start").as("window_start"))
        .agg(count(lit(1)).as("n")),
      Some(
        """SELECT window_start, count(*) AS n FROM (
          |  SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000) AS window_start FROM events
          |  UNION ALL
          |  SELECT make_timestamp((epoch_us(ts) // 1800000000) * 1800000000 - 1800000000) FROM events) t
          |GROUP BY 1""".stripMargin)),

    // ---- session window (10-minute gap) ----------------------------------
    CatalogQuery("evt_session_windows", (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"), session_window(col("ts"), "10 minutes"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("session_value"))
        .select(col("user_id"), col("session_window.start").as("session_start"),
          col("n_events"), col("session_value")),
      Some(
        s"""WITH flagged AS (
           |  SELECT user_id, ts, value,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000 THEN 1 ELSE 0 END AS new_sess
           |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
           |sessions AS (
           |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
           |    ROWS UNBOUNDED PRECEDING) AS sess_id
           |  FROM flagged)
           |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
           |  ${oSum("value")} AS session_value
           |FROM sessions GROUP BY user_id, sess_id""".stripMargin), bench = true),

    // ---- typed sessionization (Dataset[T] + groupByKey/flatMapGroups) -----
    // The same 10-minute-gap sessions as evt_session_windows, computed on
    // the TYPED API: case-class encoders, groupByKey on the user, one
    // in-memory sort + linear walk per group (per-user event counts bound
    // the buffer — the justified mapGroups case: genuinely imperative
    // per-key logic). Money stays exact via BigDecimal inside the walk,
    // surfaced as double once — the same decimal-then-double scheme as the
    // declarative twin, so BOTH formulations gate against one oracle.
    CatalogQuery("evt_session_typed_mapgroups", (s, d) => {
      import s.implicits._
      val gapUs = 600000000L
      val typed = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("value")).as[TypedEv]
      typed.groupByKey(_.user_id)
        .flatMapGroups { (uid, evs) =>
          val sorted = evs.toArray.sortBy(e => (e.ts, e.value))
          val out = scala.collection.mutable.ArrayBuffer.empty[TypedSession]
          var start: java.time.LocalDateTime = null
          var last: java.time.LocalDateTime = null
          var n = 0L
          var sum = BigDecimal(0)
          // micros from (seconds, nanos) directly: Duration.toNanos throws
          // on gaps > ~292 years (a sentinel/corrupt timestamp would kill
          // the query), and toMillis would drop the sub-ms precision the
          // 600-second gap comparison is exact in
          def usBetween(a: java.time.LocalDateTime, b: java.time.LocalDateTime): Long = {
            val dur = java.time.Duration.between(a, b)
            dur.getSeconds * 1000000L + dur.getNano / 1000L
          }
          def flush(): Unit = if (n > 0)
            out += TypedSession(uid, start, n, sum.toDouble)
          sorted.foreach { e =>
            if (last == null || usBetween(last, e.ts) > gapUs) {
              flush(); start = e.ts; n = 0; sum = BigDecimal(0)
            }
            last = e.ts; n += 1
            sum += BigDecimal(e.value).setScale(2, BigDecimal.RoundingMode.HALF_UP)
          }
          flush()
          out
        }
        .toDF()
        .select(col("user_id"), col("session_start"), col("n_events"),
          col("session_value"))
    }, Some(
      s"""WITH flagged AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000 THEN 1 ELSE 0 END AS new_sess
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |sessions AS (
         |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
         |    ROWS UNBOUNDED PRECEDING) AS sess_id
         |  FROM flagged)
         |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
         |  ${oSum("value")} AS session_value
         |FROM sessions GROUP BY user_id, sess_id""".stripMargin)),

    // ---- stream dedup (deterministic keep-first per key) ------------------
    CatalogQuery("evt_dedup_first_per_user_type", (s, d) => {
      val w = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts"))
    }, Some(
      """SELECT user_id, event_type, event_id, ts FROM (
        |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts, event_id) AS rn FROM events) t
        |WHERE rn = 1""".stripMargin)),

    // ---- interval join: purchases within 24h after a signup --------------
    // equi-join on user_id + range predicate => shuffle hash/SMJ, not NL
    CatalogQuery("evt_interval_join_signup_purchase", (s, d) => {
      val e = Tables.events(s, d)
      val signups = e.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("signup_id"), col("ts").as("signup_ts"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("purchase_ts"), col("value"))
      signups.join(purchases, Seq("user_id"))
        .filter(col("purchase_ts") >= col("signup_ts") &&
          col("purchase_ts") <= col("signup_ts") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id"), col("signup_id"))
        .agg(count(lit(1)).as("n_purchases"), dsum(col("value")).as("purchased_value"))
    }, Some(
      s"""SELECT s.user_id, s.event_id AS signup_id, count(*) AS n_purchases,
         |  ${oSum("p.value")} AS purchased_value
         |FROM events s JOIN events p
         |  ON s.user_id = p.user_id AND s.event_type = 'signup' AND p.event_type = 'purchase'
         |  AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 24 HOURS
         |GROUP BY 1, 2""".stripMargin)),

    // ---- STREAM-stream interval join (symmetric hash join + watermarks) --
    // The same signup→purchase interval join executed as a real
    // stream-stream join: both sides arrive as streams, the time-range
    // condition + both-side watermarks bound the join STATE (without them
    // a stream-stream join buffers both streams forever — the difference
    // between bounded memory and OOM at 100 TB). Each side arrives as one
    // AvailableNow batch, so the emitted set equals the relational join
    // the oracle runs; the watermark machinery (state eviction bounds) is
    // still fully engaged in the plan.
    CatalogQuery("evt_stream_interval_join", (s, d) => {
      val work = Q.scratch("ssj")
      val purchases = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"),
          col("ts").cast("timestamp").as("purchase_ts"), col("value"))
      val joined = stagedStream(s, work, signupSide(s, d), "signups", "signup_ts")
        .join(stagedStream(s, work, purchases, "purchases", "purchase_ts"), intervalCond)
        .select(col("user_id"), col("signup_id"),
          col("signup_ts").cast("timestamp_ntz").as("signup_ts"),
          col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
          col("value"))
      runStreamToParquet(s, work, joined)
    }, Some(
      """SELECT s.user_id, s.event_id AS signup_id, s.ts AS signup_ts,
        |  p.ts AS purchase_ts, p.value
        |FROM events s JOIN events p
        |  ON s.user_id = p.user_id AND s.event_type = 'signup' AND p.event_type = 'purchase'
        |  AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 24 HOURS""".stripMargin)),

    // ---- stream-stream LEFT OUTER join: expiry-driven null emission ------
    // The outer half of the streaming join contract: matched pairs emit as
    // they meet; an UNMATCHED signup emits its null-extended row only when
    // the global watermark (min across both sides' 1 h delays, floored to
    // the millisecond) passes the end of its 24 h match window — i.e. when
    // the engine can PROVE no purchase can still arrive. Signups too close
    // to the end of the stream stay buffered and never null-emit; the
    // oracle encodes exactly that horizon.
    CatalogQuery("evt_stream_outer_join_expiry", (s, d) => {
      val work = Q.scratch("ssoj")
      val purchases = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"),
          col("ts").cast("timestamp").as("purchase_ts"), col("value"))
      val joined = stagedStream(s, work, signupSide(s, d), "signups", "signup_ts")
        .join(stagedStream(s, work, purchases, "purchases", "purchase_ts"),
          intervalCond, "left_outer")
        .select(col("user_id"), col("signup_id"),
          col("signup_ts").cast("timestamp_ntz").as("signup_ts"),
          col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"),
          col("value"))
      runStreamToParquet(s, work, joined)
    }, Some(
      """WITH wm AS (
        |  SELECT (least(
        |      (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'signup'),
        |      (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'purchase'))
        |    - 3600000) * 1000 AS wmf_us),
        |matched AS (
        |  SELECT s.user_id, s.event_id AS signup_id, s.ts AS signup_ts,
        |    p.ts AS purchase_ts, p.value
        |  FROM events s JOIN events p
        |    ON s.user_id = p.user_id AND s.event_type = 'signup' AND p.event_type = 'purchase'
        |    AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 24 HOURS),
        |expired_unmatched AS (
        |  SELECT s.user_id, s.event_id AS signup_id, s.ts AS signup_ts,
        |    NULL::TIMESTAMP AS purchase_ts, NULL::DOUBLE AS value
        |  FROM events s, wm
        |  WHERE s.event_type = 'signup'
        |    AND epoch_us(s.ts) + 86400000000::BIGINT < wm.wmf_us
        |    AND NOT EXISTS (
        |      SELECT 1 FROM events p
        |      WHERE p.event_type = 'purchase' AND p.user_id = s.user_id
        |        AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 24 HOURS))
        |SELECT * FROM matched UNION ALL SELECT * FROM expired_unmatched""".stripMargin)),

    // ---- stream-stream FULL OUTER join: both sides' expiry horizons ------
    // Completes the streaming join matrix: unmatched SIGNUPS null-emit
    // when the watermark passes signup_ts + 24 h (no purchase can still
    // match), unmatched PURCHASES when it passes purchase_ts (no
    // later-arriving signup can precede them — the condition's lower
    // bound). Each side's horizon is encoded in the oracle; rows inside
    // their horizon at stream end stay buffered and never null-emit.
    CatalogQuery("evt_stream_full_outer_expiry", (s, d) => {
      val work = Q.scratch("ssfo")
      val purchases = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"),
          col("event_id").as("purchase_id"),
          col("ts").cast("timestamp").as("purchase_ts"))
      val joined = stagedStream(s, work, signupSide(s, d), "signups", "signup_ts")
        .join(stagedStream(s, work, purchases, "purchases", "purchase_ts"),
          intervalCond, "full_outer")
        .select(coalesce(col("user_id"), col("p_user_id")).as("uid"),
          col("signup_id"), col("purchase_id"),
          col("signup_ts").cast("timestamp_ntz").as("signup_ts"),
          col("purchase_ts").cast("timestamp_ntz").as("purchase_ts"))
      runStreamToParquet(s, work, joined)
    }, Some(
      """WITH wm AS (
        |  SELECT (least(
        |      (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'signup'),
        |      (SELECT epoch_ms(max(ts)) FROM events WHERE event_type = 'purchase'))
        |    - 3600000) * 1000 AS wmf_us),
        |matched AS (
        |  SELECT s.user_id AS uid, s.event_id AS signup_id, p.event_id AS purchase_id,
        |    s.ts AS signup_ts, p.ts AS purchase_ts
        |  FROM events s JOIN events p
        |    ON s.user_id = p.user_id AND s.event_type = 'signup' AND p.event_type = 'purchase'
        |    AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 24 HOURS),
        |left_expired AS (
        |  SELECT s.user_id AS uid, s.event_id AS signup_id, NULL::BIGINT AS purchase_id,
        |    s.ts AS signup_ts, NULL::TIMESTAMP AS purchase_ts
        |  FROM events s, wm
        |  WHERE s.event_type = 'signup'
        |    AND epoch_us(s.ts) + 86400000000::BIGINT < wm.wmf_us
        |    AND NOT EXISTS (
        |      SELECT 1 FROM events p
        |      WHERE p.event_type = 'purchase' AND p.user_id = s.user_id
        |        AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 24 HOURS)),
        |right_expired AS (
        |  SELECT p.user_id AS uid, NULL::BIGINT AS signup_id, p.event_id AS purchase_id,
        |    NULL::TIMESTAMP AS signup_ts, p.ts AS purchase_ts
        |  FROM events p, wm
        |  WHERE p.event_type = 'purchase'
        |    AND epoch_us(p.ts) < wm.wmf_us
        |    AND NOT EXISTS (
        |      SELECT 1 FROM events s
        |      WHERE s.event_type = 'signup' AND s.user_id = p.user_id
        |        AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL 24 HOURS))
        |SELECT * FROM matched
        |UNION ALL SELECT * FROM left_expired
        |UNION ALL SELECT * FROM right_expired""".stripMargin)),

    // ---- keyless time-range join via band bucketing ----------------------
    // "views within ±30 min of each error, across ALL users" has no equi
    // key, so a naive join is a cartesian (BNLJ). The standard OSS range-
    // join rewrite: bucket time into 1 h bands, explode each probe row to
    // its (at most 2) candidate bands, equi-join on the band, then apply
    // the exact predicate. Shuffles on the band key; per-band fan-out is
    // bounded by events-per-hour (data rate), never by corpus size.
    CatalogQuery("evt_banded_time_range_join", (s, d) => {
      val ue = unix_micros(col("ts").cast("timestamp"))
      val errors = Tables.events(s, d).filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), ue.as("t"))
        .select(col("error_id"), col("t"), explode(array_distinct(array(
          expr("(t - 1800000000L) div 3600000000L"),
          expr("(t + 1800000000L) div 3600000000L")))).as("bucket"))
      val views = Tables.events(s, d).filter(col("event_type") === "view")
        .select(ue.as("vt"))
        .withColumn("bucket", expr("vt div 3600000000L"))
      errors.join(views, Seq("bucket"))
        .filter(abs(col("vt") - col("t")) <= 1800000000L)
        .groupBy(col("error_id"))
        .agg(count(lit(1)).as("n_views"))
    }, Some(
      """SELECT e.event_id AS error_id, count(*)::BIGINT AS n_views
        |FROM events e JOIN events v
        |  ON e.event_type = 'error' AND v.event_type = 'view'
        |  AND abs(epoch_us(v.ts) - epoch_us(e.ts)) <= 1800000000
        |GROUP BY 1""".stripMargin)),

    // ---- as-of join: latest signup at/before each error ------------------
    // Spark-side: union-and-carry-forward (one shuffle+sort, no NL join) —
    // the scalable as-of formulation
    CatalogQuery("evt_asof_last_signup_before_error", (s, d) => {
      val e = Tables.events(s, d)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("is_err"))
      e.filter(col("event_type").isin("signup", "error"))
        .withColumn("is_err", when(col("event_type") === "error", 1).otherwise(0))
        .withColumn("signup_ts",
          last(when(col("event_type") === "signup", col("ts")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id"), col("signup_ts"))
    }, Some(
      """SELECT e.event_id AS error_id, e.user_id,
        |  (SELECT max(s.ts) FROM events s
        |   WHERE s.user_id = e.user_id AND s.event_type = 'signup' AND s.ts <= e.ts) AS signup_ts
        |FROM events e WHERE e.event_type = 'error'""".stripMargin)),

    // Same as-of semantics through the NATIVE operator (custom
    // LogicalPlan + Strategy + co-partitioned sort-merge SparkPlan,
    // graft.plans.AsOfJoin): one hash shuffle per side, no window state,
    // O(1) merge memory per partition — the point-in-time lookup shape
    // that survives 100 TB. Gated against the identical oracle as the
    // carry-forward formulation above.
    CatalogQuery("evt_asof_native", (s, d) => {
      val errors = Tables.events(s, d)
        .filter(col("event_type") === "error")
        .select(col("event_id").as("error_id"), col("user_id"), col("ts"))
      val signups = Tables.events(s, d) // fresh scan: distinct attr ids
        .filter(col("event_type") === "signup")
        .select(col("user_id").as("su_user"), col("ts").as("signup_ts"))
      graft.plans.AsOf.join(errors, signups,
        Seq("user_id"), Seq("su_user"), "ts", "signup_ts")
        .select(col("error_id"), col("user_id"), col("signup_ts"))
    }, Some(
      """SELECT e.event_id AS error_id, e.user_id,
        |  (SELECT max(s.ts) FROM events s
        |   WHERE s.user_id = e.user_id AND s.event_type = 'signup' AND s.ts <= e.ts) AS signup_ts
        |FROM events e WHERE e.event_type = 'error'""".stripMargin)),

    // ---- pivot ------------------------------------------------------------
    CatalogQuery("evt_pivot_type_counts", (s, d) =>
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        .na.fill(0L),
      Some(
        """SELECT user_id,
          |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
          |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
          |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
          |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
          |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
          |FROM events GROUP BY user_id""".stripMargin)),

    // ---- approximate percentiles (sketch bound-checked like the HLL) -----
    // approx_percentile's GK sketch value is engine-specific; the gated
    // output asserts the rank-error bound against the exact percentile
    CatalogQuery("evt_value_approx_quantiles", (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("exact_p50"),
          expr("approx_percentile(value, 0.5, 100)").as("approx_p50"),
          expr("percentile(value, 0.99)").as("exact_p99"))
        .select(col("event_type"), col("exact_p50"),
          // rank error <= 1/accuracy => value sits within a generous
          // neighborhood of the exact median for this distribution
          (abs(col("approx_p50") - col("exact_p50")) <=
            (col("exact_p99") - col("exact_p50")) * 0.2 + 1.0).as("p50_within_bound")),
      Some(
        """SELECT event_type, quantile_cont(value, 0.5) AS exact_p50,
          |  true AS p50_within_bound
          |FROM events GROUP BY event_type""".stripMargin)),

    // ---- approximate distinct ---------------------------------------------
    // The HLL++ sketch value itself is engine-specific, so the gated output
    // asserts its documented error bound (rsd = 5%) against the exact count —
    // deterministic on both sides: the oracle computes exact and `true`.
    CatalogQuery("evt_distinct_users_exact_and_approx", (s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), rsd = 0.05).as("approx_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.05).as("within_bound")),
      Some(
        """SELECT event_type, count(DISTINCT user_id) AS exact_users,
          |  true AS within_bound
          |FROM events GROUP BY event_type""".stripMargin)),

    // ---- STREAMING heavy hitters (space-saving sketch), oracle-gated -----
    // The transformWithState space-saving top-k (streaming.StreamingTopK)
    // over a real multi-micro-batch file stream: per-(event_type) sketch
    // state accumulates across batches, each batch re-emits the updated
    // groups' snapshots, and the LAST emission per group (cumulative
    // state) is ranked for the top-3. Capacity 512 ≥ the 256-wide item
    // domain, so the sketch is provably in its EXACT regime — the oracle
    // is plain GROUP BY counts and the emitted err column must be 0
    // everywhere; StreamingTopKSpec exercises the lossy regime
    // (capacity 8) and asserts the space-saving bounds instead.
    CatalogQuery("evt_streaming_topk_heavy_hitters", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val work = Q.scratch("topk")
      val ev = Tables.events(s, d)
        .select(col("event_type").as("grp"),
          (col("user_id") % 256).as("item"))
      ev.repartition(4).write.mode("overwrite").parquet(s"$work/in")
      // the stream runs on a CLONED session (shared SparkContext, own
      // SQLConf) so the state-store provider and shuffle-partition
      // overrides are scoped to this query — nothing running concurrently
      // on the caller's session can inherit them
      val s2 = s.newSession()
      s2.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // changelog checkpointing: per-batch commit appends a changelog
      // instead of snapshotting every store (measured 2.5x per-batch win
      // on the trickled dcp path)
      s2.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      // state-partition count sizes to KEY cardinality (a handful of
      // event types), not the batch shuffle default: every extra state
      // partition is a RocksDB instance opened/checkpointed per batch,
      // pure fixed cost at this key count. The conf is pinned at FIRST
      // query start into the checkpoint, so it's a per-query decision.
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val stream = s2.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$work/in")
      val sk = graft.streaming.StreamingTopK.sketch(stream, 512)
        .toDF("grp", "item", "est", "err")
      val q = sk.writeStream
        .foreachBatch((b: DataFrame, id: Long) =>
          graft.core.AuditSeam.report("evt_streaming_topk_heavy_hitters/batch",
            b.withColumn("batch", lit(id))).write.mode("append")
            .parquet(s"$work/out"))
        .outputMode("update")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // full-row distinct: a foreachBatch task retry can append the same
      // (grp, batch) snapshot twice; within one batch each (grp, item)
      // row is unique, so distinct() removes exactly the retry copies
      val snaps = s.read.parquet(s"$work/out").distinct()
      val lastB = snaps.groupBy("grp").agg(max(col("batch")).as("batch"))
      val w = Window.partitionBy(col("grp"))
        .orderBy(col("est").desc, col("item").asc)
      snaps.join(lastB, Seq("grp", "batch"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("grp").as("event_type"), col("rank").cast("long").as("rank"),
          col("item"), col("est").as("cnt"), col("err"))
    }, Some(
      """SELECT event_type, rank, item, cnt, 0::BIGINT AS err FROM (
        |  SELECT event_type, user_id % 256 AS item, count(*)::BIGINT AS cnt,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY count(*) DESC, user_id % 256) AS rank
        |  FROM events GROUP BY 1, 2) t
        |WHERE rank <= 3""".stripMargin), bench = true),

    // ---- streaming percentiles: the KLL sketch on transformWithState ----
    // The quantile twin of the heavy-hitters entry: per-event-type value
    // percentiles over a live feed through `streaming.StreamingQuantiles`
    // (functions.QSketchBuf in ValueState — the SAME buffer the batch
    // quantile_sketch aggregate exchanges, so batch and stream share one
    // proven serde). Runs the EXACT regime here (k = 65536 ≥ any group):
    // the last emission per group equals the batch entry's discrete
    // quantiles over the whole stream, and the oracle is the same SQL as
    // evt_quantile_sketch. StreamingQuantilesSpec drives the lossy
    // regime (k = 128 across micro-batches) with the ε rank bound.
    // 100 TB/day: O(k·log(n/k)) state per group, update-mode snapshots.
    CatalogQuery("evt_streaming_quantile_sketch", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val work = Q.scratch("squant")
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(col("event_type").as("grp"),
          expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("v"))
      ev.repartition(4).write.mode("overwrite").parquet(s"$work/in")
      // cloned session scopes the provider + partition overrides to this
      // query (see evt_streaming_topk_heavy_hitters)
      val s2 = s.newSession()
      s2.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      s2.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      // state partitions sized to key cardinality (the StreamingTopK
      // rationale: every extra partition is a RocksDB instance per batch)
      s2.conf.set("spark.sql.shuffle.partitions", "8")
      val stream = s2.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$work/in")
      val sk = graft.streaming.StreamingQuantiles
        .sketch(stream, 65536, Seq(0.25, 0.5, 0.75))
        .toDF("grp", "n", "qs")
      val q = sk.writeStream
        .foreachBatch((b: DataFrame, id: Long) =>
          graft.core.AuditSeam.report("evt_streaming_quantile_sketch/batch",
            b.withColumn("batch", lit(id))).write.mode("append")
            .parquet(s"$work/out"))
        .outputMode("update")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // distinct() drops foreachBatch-retry copies: one snapshot row per
      // (grp, batch) is the processor's contract, so duplicates can only
      // be appended by a replayed task
      val snaps = s.read.parquet(s"$work/out").distinct()
      val lastB = snaps.groupBy("grp").agg(max(col("batch")).as("batch"))
      snaps.join(lastB, Seq("grp", "batch"))
        .select(col("grp").as("event_type"),
          (col("n") +
            Q.exactRegime(col("n"), 65536L, "evt_streaming_quantile_sketch")).as("n"),
          expr("element_at(qs, 1)").as("p25_cents"),
          expr("element_at(qs, 2)").as("p50_cents"),
          expr("element_at(qs, 3)").as("p75_cents"))
    }, Some(
      """WITH v AS (
        |  SELECT event_type, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM v)
        |SELECT event_type, max(n)::BIGINT AS n,
        |  min(CASE WHEN rk >= ceil(0.25 * n) THEN v END) AS p25_cents,
        |  min(CASE WHEN rk >= ceil(0.5 * n) THEN v END) AS p50_cents,
        |  min(CASE WHEN rk >= ceil(0.75 * n) THEN v END) AS p75_cents
        |FROM r GROUP BY 1""".stripMargin)),

    // ---- STREAMING session windows (state-merged, watermark-closed) -----
    // The sessionization state path Structured Streaming runs that the
    // batch twin (evt_session_windows) cannot exercise: events arrive
    // over multiple micro-batches, per-user session state MERGES as
    // adjacent fragments land (a session split across batches must fuse
    // into one), and a session only EMITS (append mode) once the global
    // watermark passes its end + gap. A far-future sentinel event closes
    // every real session at drain, so the emitted set equals the batch
    // sessionization — which is the oracle (same SQL as the batch twin).
    // 100 TB/day: state per open session, horizon-bounded by the gap.
    CatalogQuery("evt_stream_session_windows", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val work = Q.scratch("sswin")
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("value"))
      def writeOne(df: DataFrame, name: String, modMs: Long): Unit = {
        val stage = s"$work/stage_$name"
        df.write.mode("overwrite").parquet(stage)
        val dir = java.nio.file.Paths.get(s"$work/in")
        java.nio.file.Files.createDirectories(dir)
        // part-file NAME order == range-partition order == event-time
        // order; mtimes ascend with it so the file stream replays the
        // feed in event-time order
        new java.io.File(stage).listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
          .sortBy(_.getName)
          .zipWithIndex.foreach { case (f, i) =>
            val dest = dir.resolve(s"${name}_$i.parquet")
            java.nio.file.Files.move(f.toPath, dest)
            java.nio.file.Files.setLastModifiedTime(dest,
              java.nio.file.attribute.FileTime.fromMillis(modMs + i * 1000L))
          }
      }
      // events arrive in EVENT-TIME-ordered micro-batches (range files):
      // the watermark advances continuously between batches without ever
      // marking a later file's rows late, and sessions that straddle a
      // file boundary must MERGE in state; the sentinel lands last, 2
      // days past the max event time, dragging the watermark beyond
      // every real session's end + gap
      writeOne(ev.repartitionByRange(4, col("ts")), "a_events", 1000000L)
      // bounded driver-side collect: a 1-row global max (the sentinel's
      // anchor), the canary-probe pattern
      val maxTs = ev.agg(max(col("ts"))).head.getTimestamp(0)
      val sentinel = s.createDataFrame(
        s.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
          -1L, new java.sql.Timestamp(maxTs.getTime + 2L * 86400 * 1000), 0.0))),
        ev.schema)
      writeOne(sentinel.coalesce(1), "z_sentinel", 9000000L)
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$work/in")
        .withWatermark("ts", "1 hour")
        .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("session_value"))
        .select(col("user_id"),
          col("session_window.start").cast("timestamp_ntz").as("session_start"),
          col("n_events"), col("session_value"))
      val q = stream.writeStream
        .foreachBatch((b: DataFrame, id: Long) =>
          graft.core.AuditSeam.report("evt_stream_session_windows/batch", b)
            .write.mode("append").parquet(s"$work/out"))
        .outputMode("append")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // distinct() drops foreachBatch-retry copies (one row per closed
      // session); the sentinel's own synthetic session is excluded
      s.read.parquet(s"$work/out").distinct()
        .filter(col("user_id") =!= -1L)
    }, Some(
      s"""WITH flagged AS (
         |  SELECT user_id, ts, value,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000 THEN 1 ELSE 0 END AS new_sess
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |sessions AS (
         |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
         |    ROWS UNBOUNDED PRECEDING) AS sess_id
         |  FROM flagged)
         |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
         |  ${oSum("value")} AS session_value
         |FROM sessions GROUP BY user_id, sess_id""".stripMargin)),

    // ---- at-least-once replay dedup (dropDuplicatesWithinWatermark) -----
    // Gravity's delivery contract made streaming-native: the CDC
    // transport is at-least-once (task retries / reconnects replay
    // messages), and the consumer deduplicates within a bounded horizon
    // instead of keeping every key forever. Every 13th event is fed
    // TWICE; dropDuplicatesWithinWatermark(event_id) suppresses the
    // replay with state that EXPIRES once the watermark passes — the
    // bounded-memory form of exactly-once that a keep-all-keys
    // dropDuplicates cannot give at 100 TB/day. Replays land within
    // the horizon by construction (event-time-ordered staging), so the
    // drained output equals the original event set — the oracle.
    // ---- sessionized CEP serving (the fifth serving loop) -----------------
    // evt_pattern_match_sessions is the BATCH form; this is the streaming
    // production shape: per-user OPEN-SESSION state (gap-bounded — the
    // Flink-CEP within-window discipline) maintained in a SnapshotSink,
    // with CLOSED sessions emitted exactly-once carrying their Kleene
    // pattern counts. The crash-consistency design applies the
    // gph_stream_serve_components lesson: ALL state — open sessions AND
    // the closed-session emissions — lives in ONE sink keyed
    // (user_id, session_start), so the single mergeOnce manifest rename
    // is the only commit point (an emit-then-merge dual write would
    // either double-emit or lose closures under a crash between them;
    // here a replayed batch recomputes against unchanged state or skips
    // wholesale). Per batch: the carried open session enters the fold as
    // a pseudo-event (event_id −1, its trace as the piece, its last_us
    // as the timestamp), the 10-minute gap cut re-runs over pseudo ∪
    // batch events — correct because sessionization is associative over
    // time-ordered concatenation and the files are staged by EXACT
    // global rank quartiles (Q.exactNtile, no single-partition sort) —
    // and every session except the user's last flips to closed with
    // qbatch = the batch that closed it; the last stays open (qbatch 99,
    // overwritten at its true close). Output = one read of the sink.
    // 100 TB: state per user is ONE open session bounded by the gap; the
    // fold touches only users with batch events; closed rows are the
    // output (TTL-export machinery: agg_stream_serve_cms_ttl /
    // IndexQueries.cmsTtlBatch — the same in-commit age-out applies to
    // closed sessions). Skew lever: the fold keys by user_id, so a hot
    // key serializes on one task — when skw_key_distribution_profile
    // flags one, pre-cut by (user_id, coarse-time) and merge boundary
    // sessions, exactly as evt_pattern_match_sessions' scaladoc lays out
    // (Flink keyBy carries the same exposure).
    CatalogQuery("evt_stream_sessionized_cep", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val work = Q.scratch("cepserve")
      stageEventQuartiles(s, d, work)
      // serving sink: one-merge read grace for external readers
      val sink = new graft.sinks.SnapshotSink(s, s"$work/sess",
        Seq("user_id", "session_start"), readGrace = true)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, us BIGINT, event_id BIGINT, ini STRING")
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$work/in")
      val q = stream.writeStream
        .foreachBatch((batch: org.apache.spark.sql.DataFrame, id: Long) => {
          val upd = cepFoldUpd(s, sink, batch, id)
          sink.mergeOnce(id, graft.core.AuditSeam.report(
            "evt_stream_sessionized_cep/maintain", upd))
          ()
        })
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      sink.read()
        .select(col("qbatch"), col("user_id"), col("session_start"), col("trace"),
          expr("CAST(size(regexp_extract_all(trace, 's[cv]*p', 0)) AS BIGINT)")
            .as("n_funnel"),
          expr("CAST(size(regexp_extract_all(trace, 'e[cv]*e', 0)) AS BIGINT)")
            .as("n_error_retry"),
          expr("""coalesce(CAST(array_max(transform(
                 |  regexp_extract_all(trace, 'v+', 0), x -> length(x))) AS BIGINT),
                 |  CAST(0 AS BIGINT))""".stripMargin).as("longest_view_run"))
    }, Some(
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |    substring(event_type, 1, 1) AS ini
        |  FROM events),
        |rk AS (
        |  SELECT *, ntile(4) OVER (ORDER BY us, event_id, user_id) AS bkt FROM ev),
        |flagged AS (
        |  SELECT user_id, us, event_id, ini, bkt,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 600000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM rk WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess0 AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |sess AS (
        |  SELECT user_id, sid, min(us) AS session_start,
        |    string_agg(ini, '' ORDER BY us, event_id) AS trace
        |  FROM sess0 GROUP BY 1, 2),
        |firsts AS (SELECT user_id, sid, min(bkt) AS fb FROM sess0 GROUP BY 1, 2),
        |mx AS (SELECT user_id, max(sid) AS mxs FROM sess GROUP BY 1),
        |outp AS (
        |  SELECT s.user_id, s.session_start, s.trace,
        |    CAST(f2.fb - 1 AS BIGINT) AS qbatch
        |  FROM sess s JOIN firsts f2
        |    ON f2.user_id = s.user_id AND f2.sid = s.sid + 1
        |  UNION ALL
        |  SELECT s.user_id, s.session_start, s.trace, CAST(99 AS BIGINT)
        |  FROM sess s JOIN mx ON mx.user_id = s.user_id AND s.sid = mx.mxs)
        |SELECT qbatch, user_id, session_start, trace,
        |  CAST(len(regexp_extract_all(trace, 's[cv]*p')) AS BIGINT) AS n_funnel,
        |  CAST(len(regexp_extract_all(trace, 'e[cv]*e')) AS BIGINT) AS n_error_retry,
        |  coalesce(CAST(list_max(list_transform(
        |    regexp_extract_all(trace, 'v+'), x -> length(x))) AS BIGINT),
        |    CAST(0 AS BIGINT)) AS longest_view_run
        |FROM outp""".stripMargin)),

    // ---- CEP serving with TTL age-out (retention in the commit) -----------
    // evt_stream_sessionized_cep accumulates every closed session in the
    // serving sink forever; this entry runs the same fold through
    // [[cepTtlBatch]]: sessions closed for >= 2 batches leave the sink —
    // exported to the per-batch archive dir BEFORE the manifest rename,
    // tombstoned in the SAME mergeOnce commit (the cmsTtlBatch protocol;
    // the crash spec drives both fault points). The output accounts
    // exported + live EXACTLY: every session appears once, xbatch = the
    // batch that archived it (closed at c ⇒ archived at c+2) or −1 while
    // still in the sink — so the oracle's from-scratch sessionization
    // hash-gates the retention arithmetic itself. 100 TB: serving state
    // is O(open sessions + 2 batches of closures); the archive is
    // append-only.
    CatalogQuery("evt_stream_cep_ttl", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val work = Q.scratch("cepttl")
      stageEventQuartiles(s, d, work)
      val sink = new graft.sinks.SnapshotSink(s, s"$work/sess",
        Seq("user_id", "session_start"), readGrace = true)
      val exportDir = s"$work/export"
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "user_id BIGINT, us BIGINT, event_id BIGINT, ini STRING")
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$work/in")
      val q = stream.writeStream
        .foreachBatch((batch: org.apache.spark.sql.DataFrame, id: Long) =>
          cepTtlBatch(s, sink, exportDir, batch, id))
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val live = sink.read()
        .select(lit(-1L).as("xbatch"), col("qbatch"), col("user_id"),
          col("session_start"), col("trace"))
      val exported = (0 to 3).map(i => s.read.parquet(s"$exportDir/b$i"))
        .reduce(_ unionByName _)
        .select(col("xbatch"), col("qbatch"), col("user_id"),
          col("session_start"), col("trace"))
      live.unionByName(exported)
    }, Some(
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |    substring(event_type, 1, 1) AS ini
        |  FROM events),
        |rk AS (
        |  SELECT *, ntile(4) OVER (ORDER BY us, event_id, user_id) AS bkt FROM ev),
        |flagged AS (
        |  SELECT user_id, us, event_id, ini, bkt,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 600000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM rk WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |sess0 AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged),
        |sess AS (
        |  SELECT user_id, sid, min(us) AS session_start,
        |    string_agg(ini, '' ORDER BY us, event_id) AS trace
        |  FROM sess0 GROUP BY 1, 2),
        |firsts AS (SELECT user_id, sid, min(bkt) AS fb FROM sess0 GROUP BY 1, 2),
        |mx AS (SELECT user_id, max(sid) AS mxs FROM sess GROUP BY 1),
        |outp AS (
        |  SELECT s.user_id, s.session_start, s.trace,
        |    CAST(f2.fb - 1 AS BIGINT) AS qbatch
        |  FROM sess s JOIN firsts f2
        |    ON f2.user_id = s.user_id AND f2.sid = s.sid + 1
        |  UNION ALL
        |  SELECT s.user_id, s.session_start, s.trace, CAST(99 AS BIGINT)
        |  FROM sess s JOIN mx ON mx.user_id = s.user_id AND s.sid = mx.mxs)
        |SELECT CASE WHEN qbatch <= 1 THEN qbatch + 2
        |            ELSE CAST(-1 AS BIGINT) END AS xbatch,
        |  qbatch, user_id, session_start, trace
        |FROM outp""".stripMargin)),

    CatalogQuery("evt_stream_dedup_replays", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val work = Q.scratch("sdw")
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts").cast("timestamp").as("ts"))
      val feed = ev.unionByName(ev.filter(col("event_id") % 13 === 0))
      val stage = s"$work/stage"
      feed.repartitionByRange(4, col("ts")).write.mode("overwrite").parquet(stage)
      val dir = java.nio.file.Paths.get(s"$work/in")
      java.nio.file.Files.createDirectories(dir)
      new java.io.File(stage).listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
          val dest = dir.resolve(s"ev_$i.parquet")
          java.nio.file.Files.move(f.toPath, dest)
          java.nio.file.Files.setLastModifiedTime(dest,
            java.nio.file.attribute.FileTime.fromMillis(1000000L + i * 1000L))
        }
      val deduped = s.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$work/in")
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
      val q = deduped.writeStream
        .foreachBatch((b: DataFrame, id: Long) =>
          graft.core.AuditSeam.report("evt_stream_dedup_replays/batch", b)
            .write.mode("append").parquet(s"$work/out"))
        .outputMode("append")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$work/out").dropDuplicates("event_id") // task-retry copies
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts").cast("timestamp_ntz").as("ts"))
    }, Some(
      """SELECT event_id, user_id, event_type, ts FROM events""")),

    // ---- stream-static enrichment join ----------------------------------
    // The dimension-lookup join every streaming pipeline runs: the event
    // STREAM joins the static customer→nation dimension per micro-batch —
    // Structured Streaming's stream-static join, stateless by design
    // (the static side re-resolves each batch, so a dim refresh is
    // picked up without restarts; no watermark, no state store). The
    // drained result equals the batch join, which is the oracle.
    CatalogQuery("evt_stream_static_enrich", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val work = Q.scratch("ssenrich")
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"))
      ev.repartition(4).write.mode("overwrite").parquet(s"$work/in")
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$work/in")
      val dim = Tables.customer(s, d)
        .join(Tables.nation(s, d),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      val joined = stream.join(dim, col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("n_name").as("nation"))
      val q = joined.writeStream
        .foreachBatch((b: DataFrame, id: Long) =>
          graft.core.AuditSeam.report("evt_stream_static_enrich/batch", b)
            .write.mode("append").parquet(s"$work/out"))
        .outputMode("append")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // event_id is the stream's PK; a foreachBatch task retry would
      // append the same batch's rows twice
      s.read.parquet(s"$work/out").dropDuplicates("event_id")
    }, Some(
      """SELECT e.event_id, e.user_id, e.event_type, n.n_name AS nation
        |FROM events e
        |JOIN customer c ON e.user_id = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey""".stripMargin))
  )
}
