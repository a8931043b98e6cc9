package replbench

import graft.analytics.Catalog
import org.apache.spark.sql.SparkSession
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

/** The `analytics` workload: one client in a closed loop running rounds
  * of a fixed catalog mix on the read-only sf0.1 tables, in a seeded order
  * per round. It bypasses the source and streaming layers; the analytic
  * operators, functions and the sink layer's small maintenance merges do
  * the work.
  */
object Analytics {

  val Mix: Seq[String] = Seq(
    "q1_pricing_summary", "q9_profit_by_nation_year", "cdc_apply_then_agg",
    "ddp_minhash_lsh_pairs", "sim_lsh_ann_topk", "txt_inverted_index_shingles",
    "evt_session_windows", "ann_cdc_incremental_index")

  /** A query that runs longer than this is cancelled and counted failed. */
  val QueryDeadlineS = 90

  /** Round 0 runs the mix as listed, so in every run the JVM's warm-up
    * falls on the same queries; the seed orders every later round.
    */
  def order(seed: Long, round: Int): Seq[String] =
    if (round == 0) Mix else new scala.util.Random(seed * 1000003L + round).shuffle(Mix)

  /** Run `body` on a worker thread in job group `group`; cancel the group
    * and give up after [[QueryDeadlineS]] or at `untilNs`, whichever comes
    * first. Returns the wall seconds, or None if the query threw or timed
    * out (counted in `res`).
    */
  def timed(spark: SparkSession, pool: java.util.concurrent.ExecutorService, group: String,
      name: String, untilNs: Long, res: Result)(body: => Unit): Option[Double] = {
    res.attempted += 1
    val t0 = System.nanoTime()
    val limitNs = math.max(0L, math.min(QueryDeadlineS * 1000000000L, untilNs - t0))
    val f = pool.submit(new java.util.concurrent.Callable[Unit] {
      def call(): Unit = Layers.withLayer(spark, group)(body)
    })
    try { f.get(limitNs, TimeUnit.NANOSECONDS); Some((System.nanoTime() - t0) / 1e9) }
    catch {
      case _: TimeoutException =>
        spark.sparkContext.cancelJobGroup(group)
        f.cancel(true)
        res.fail(f"analytics: $name did not finish within ${limitNs / 1e9}%.0f s")
        None
      case e: java.util.concurrent.ExecutionException =>
        res.fail(s"analytics: $name threw ${e.getCause}")
        None
    }
  }

  /** Rounds of the mix until `seconds` have passed, at least one, all
    * within `deadlineS` (a query still running then is cancelled). The
    * first runs in a fresh JVM right after set-up, as a batch user pays for
    * it, and writes each result for the DuckDB oracle; later rounds discard
    * their results. A traced run then adds one untraced and one traced
    * round. Returns the timed rounds' times, their per-query latencies and,
    * when traced, the (untraced, traced) comparison rounds' times.
    */
  def run(spark: SparkSession, sf: String, root: String, seed: Long, seconds: Int,
      deadlineS: Double, tracer: Option[Tracer],
      res: Result): (Seq[Double], Seq[Double], Option[(Double, Double)]) = {
    val queries = Catalog.queries
    val untilNs = System.nanoTime() + (deadlineS * 1e9).toLong
    val pool = Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "replbench-client"); t.setDaemon(true); t })
    def round(r: Int, group: String => String = _ => "analytics.mix",
        wrap: String => (=> Unit) => Unit = _ => b => b): (Double, Seq[Double]) = {
      val t0 = System.nanoTime()
      val lats = order(seed, r).map { n =>
        n -> timed(spark, pool, group(n), n, untilNs, res)(wrap(n) {
          val w = queries(n)(spark, sf).write.mode("overwrite")
          if (r == 0) w.parquet(s"$root/results/$n") else w.format("noop").save()
        })
      }
      Layers.note(f"analytics: round $r took ${(System.nanoTime() - t0) / 1e9}%.2f s: " +
        lats.map { case (n, l) => f"$n ${l.getOrElse(Double.NaN)}%.2f" }.mkString(", "))
      ((System.nanoTime() - t0) / 1e9, lats.flatMap(_._2))
    }
    try {
      val start = System.nanoTime()
      val rounds = scala.collection.mutable.ListBuffer(round(0))
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val oracle = mapper.createObjectNode()
      Mix.foreach(n => Catalog.oracleSql.get(n).foreach(oracle.put(n, _)))
      mapper.writeValue(new java.io.File(s"$root/oracle.json"), oracle)
      while ((System.nanoTime() - start) / 1e9 < seconds) rounds += round(rounds.size)
      val traced = tracer.map { tr =>
        val plain = round(rounds.size)._1
        (plain, round(rounds.size + 1, n => s"analytics.$n", n => b => tr.span(s"analytics.$n")(b))._1)
      }
      (rounds.map(_._1).toList, rounds.flatMap(_._2).toList, traced)
    } finally pool.shutdownNow()
  }
}
