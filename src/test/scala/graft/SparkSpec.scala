package graft

import graft.core.Engine
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one per suite via lazy val). Mixes in
  * [[DerbyEngineIsolation]]: several catalog entries and sink specs run
  * against embedded Derby, and the engine must not carry state across
  * suites (see that trait's doc for the flake it closes).
  */
trait SparkSpec extends AnyFunSuite with DerbyEngineIsolation {
  lazy val spark: SparkSession = Engine.local("graft-test", cores = 4)
  def sf0001 = "/root/testdata/sf0.001"

  /** Guarantee a streaming query never outlives its test: a failed
    * assertion (or an interrupt out of awaitTermination /
    * processAllAvailable on a framework timeout) must still stop the
    * query, or it runs into JVM/session teardown and aborts the suite
    * (the round-15 driver flake: a task launch rejected from the
    * executor's shutting-down thread pool). stop() on an
    * already-terminated query is a no-op, so wrapping self-terminating
    * AvailableNow runs is safe too.
    */
  def withStream[T](q: org.apache.spark.sql.streaming.StreamingQuery)(f: => T): T =
    try f finally q.stop()

  /** Spark jobs started in job group `group`, counted by a listener. The
    * listener bus is asynchronous and FIFO: a marker job run after `body`
    * and seen by the listener means every earlier job start was delivered.
    */
  def jobsIn(group: String)(body: => Unit): Int = {
    val seen = new java.util.concurrent.atomic.AtomicInteger()
    val marker = new java.util.concurrent.CountDownLatch(1)
    val markerGroup = group + "-marker"
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => seen.incrementAndGet(); ()
          case Some(`markerGroup`) => marker.countDown()
          case _ => ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(markerGroup, markerGroup)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(marker.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus stalled")
    } finally sc.removeSparkListener(listener)
    seen.get
  }

  /** transformWithState tests need the multi-column-family RocksDB state
    * store. The session is a shared getOrCreate singleton across suites
    * in one JVM, so the conf MUST be restored — a leaked provider would
    * silently move later suites' streaming tests onto RocksDB.
    */
  def withRocksDbStateStore[T](f: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
