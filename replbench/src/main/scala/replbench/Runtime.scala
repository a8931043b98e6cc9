package replbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Counts and failures of one run, rendered as the result line. */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** A wrong output or an operation that did not complete. */
  def fail(what: String): Unit = synchronized {
    failed += 1
    println(s"[replbench] FAIL $what")
  }

  def toJson: String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

/** Job, task and shuffle counts per job group, registered by the
  * benchmark. The traced run names the layer a call belongs to in the job
  * group (see [[Layers.withLayer]]); the untraced run only reads totals.
  */
final class JobStats extends SparkListener {
  final class Counts {
    var jobs = 0L
    var tasks = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val groups = mutable.HashMap.empty[String, Counts]
  private var started = 0L
  private var ended = 0L

  private def counts(g: String): Counts = groups.getOrElseUpdate(g, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    e.stageIds.foreach(stageGroup.put(_, g))
    counts(g).jobs += 1
    started += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts(stageGroup.getOrDefault(e.stageId, "-"))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Wait (bounded) until the listener bus delivered the end of every
    * started job, so the counts cover all work issued so far.
    */
  def settle(timeoutMs: Long = 5000): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    while (synchronized(started != ended) && System.currentTimeMillis() < until)
      Thread.sleep(20)
    Thread.sleep(100)
  }

  def reset(): Unit = synchronized { groups.clear(); started = 0; ended = 0 }

  /** Sum over the job groups selected by `p`. */
  def sum(p: String => Boolean): (Long, Long, Long, Long) = synchronized {
    groups.collect { case (g, c) if p(g) => (c.jobs, c.tasks, c.shuffleWriteBytes, c.spillBytes) }
      .foldLeft((0L, 0L, 0L, 0L)) { case ((a, b, c, d), (w, x, y, z)) =>
        (a + w, b + x, c + y, d + z) }
  }
}

object Layers {

  private val started = System.nanoTime()

  /** A progress line on stdout, stamped with seconds since start. */
  def note(msg: String): Unit =
    println(f"[replbench] ${(System.nanoTime() - started) / 1e9}%7.2f $msg")

  /** Run `body` with its Spark jobs in job group `layer`, restoring the
    * caller's group (the streaming query's own) afterwards.
    */
  def withLayer[T](spark: SparkSession, layer: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", layer)
    try body finally sc.setLocalProperty("spark.jobGroup.id", prev)
  }

  /** A local session whose scratch (shuffle, spill, warehouse) stays
    * under `root`, reporting its jobs to `stats`.
    */
  def session(root: String, cores: Int, stats: JobStats): SparkSession = {
    val s = graft.core.Engine.session("replbench", Some(s"local[$cores]"), cores, Map(
      "spark.local.dir" -> s"$root/spark-local",
      "spark.sql.warehouse.dir" -> s"$root/warehouse",
      "spark.sql.streaming.numRecentProgressUpdates" -> "100000",
      // a stop() that cannot interrupt the stream thread gives up
      // instead of waiting forever
      "spark.sql.streaming.stopTimeout" -> "30000"))
    s.sparkContext.addSparkListener(stats)
    s
  }

  /** Median seconds of `reps` set-ups, each on a fresh session (the
    * previous one stopped first), and the last set-up's value.
    */
  def timedSetup[T](reps: Int)(setup: Int => T): (Double, T) = {
    var last: Option[T] = None
    val times = (0 until reps).map { i =>
      SparkSession.getDefaultSession.foreach(_.stop())
      val t0 = System.nanoTime()
      last = Some(setup(i))
      (System.nanoTime() - t0) / 1e9
    }
    note(s"setup_s reps ${times.map(t => f"$t%.3f").mkString(" ")}")
    (Stats.median(times), last.get)
  }

  /** Peak resident set of this process in MB (Linux VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024 }.getOrElse(Double.NaN)
    finally src.close()
  }

  /** Total GC seconds so far, over all collectors. */
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
  }

}
