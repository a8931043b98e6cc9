package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.scalatest.funsuite.AnyFunSuite

/** The BufferedTailerStream contract in isolation — especially the
  * crash-recovery path: a batch restored from the offset WAL must WAIT
  * for the re-tailing buffer to reach its end offset (never commit
  * empty and lose the rows), and an unreachable restored offset must
  * fail loudly.
  */
class TailerStreamSpec extends AnyFunSuite {

  /** Synthetic tailer: emits seqs fed through a queue; finishes on -1. */
  private class FakeStream(start: Long, maxBuf: Int = 100,
      waitMs: Long = 5000)
      extends BufferedTailerStream[java.lang.Long](
        startSeq = start,
        options = new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("rowsPerBatch", "100", "maxBuffered", maxBuf.toString,
            "partitions", "1", "drainWaitMs", waitMs.toString)),
        threadName = "fake-tailer") {
    val feed = new java.util.concurrent.LinkedBlockingQueue[Long]()
    override protected def seqOf(e: java.lang.Long): Long = e
    override protected def toRow(e: java.lang.Long): InternalRow = InternalRow(e.longValue)
    override protected def tail(emit: java.lang.Long => Unit): Unit = {
      var v = feed.take()
      while (v >= 0) { emit(v); v = feed.take() }
    }
    override protected def closeClient(): Unit = ()
    startTailer()
  }

  private def offsets(s: FakeStream, from: Long): Long =
    s.latestOffset(CdcOffset(from), ReadLimit.allAvailable())
      .asInstanceOf[CdcOffset].seq

  test("a negative checkpoint offset round-trips (Kafka start-below-zero sentinel)") {
    // a Kafka stream starting at offset 0 checkpoints startSeq = -1
    // (the (start, end] window must admit offset 0); the offset codec
    // must read it back — regression: \d+ could not parse the sign and
    // made the checkpoint permanently unreadable on restart
    val s = new FakeStream(-1)
    try {
      val o = CdcOffset(-1L)
      assert(s.deserializeOffset(o.json()) == o)
    } finally s.stop()
  }

  test("a WAL-restored batch waits for the re-tail to reach its end offset") {
    val s = new FakeStream(start = 0L)
    try {
      // the previous run committed (0, 30] to the offset WAL; this fresh
      // instance restores it while the tailer is still replaying
      val planner = new java.util.concurrent.CompletableFuture[Int]()
      new Thread(() => {
        try planner.complete(
          s.planInputPartitions(CdcOffset(0L), CdcOffset(30L))
            .map(_.asInstanceOf[TailerSlice].rows.size).sum)
        catch { case t: Throwable => planner.completeExceptionally(t) }
      }).start()
      Thread.sleep(300)
      assert(!planner.isDone, "plan must wait for the buffer to refill")
      Seq(10L, 20L, 30L, 40L).foreach(s.feed.put)
      assert(planner.get(10, java.util.concurrent.TimeUnit.SECONDS) == 3,
        "exactly the restored range (0, 30] is served once re-tailed")
    } finally { s.feed.put(-1L); s.stop() }
  }

  test("an unreachable restored offset fails loudly, never an empty commit") {
    val s = new FakeStream(start = 0L, waitMs = 1000)
    try {
      s.feed.put(10L)
      s.feed.put(-1L) // tailer ends: the log is 'purged' past offset 30
      val e = intercept[IllegalStateException] {
        s.planInputPartitions(CdcOffset(0L), CdcOffset(30L))
      }
      assert(e.getMessage.contains("cannot re-reach restored offset 30"))
    } finally s.stop()
  }

  test("latestOffset prunes committed history so a full buffer cannot wedge the refill") {
    val s = new FakeStream(start = 0L, maxBuf = 2)
    try {
      // replayed history (≤ checkpoint 20) fills the 2-slot buffer; the
      // admission call must prune it so the tailer can reach fresh rows
      Seq(5L, 10L, 20L, 25L).foreach(s.feed.put)
      var end = 0L
      val deadline = System.currentTimeMillis() + 5000
      while (end < 25L && System.currentTimeMillis() < deadline) {
        end = offsets(s, 20L); Thread.sleep(50)
      }
      assert(end == 25L, "fresh row must become admissible after pruning")
      val rows = s.planInputPartitions(CdcOffset(20L), CdcOffset(25L))
        .map(_.asInstanceOf[TailerSlice].rows.size).sum
      assert(rows == 1)
    } finally { s.feed.put(-1L); s.stop() }
  }

  test("a mid-stream EOF is an error, not a clean end") {
    val s = new FakeStream(start = 0L) {
      override protected def tail(emit: java.lang.Long => Unit): Unit = {
        emit(1L)
        throw new java.io.EOFException("connection reset")
      }
    }
    try {
      val deadline = System.currentTimeMillis() + 5000
      var thrown: Option[IllegalStateException] = None
      while (thrown.isEmpty && System.currentTimeMillis() < deadline) {
        try { s.reportLatestOffset(); Thread.sleep(50) }
        catch { case e: IllegalStateException => thrown = Some(e) }
      }
      assert(thrown.exists(_.getCause.isInstanceOf[java.io.EOFException]),
        "abnormal connection loss must surface as a query error")
    } finally s.stop()
  }
}
