package replbench

import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite {

  test("tail takes the highest percentile with at least ten samples beyond it") {
    val hundred = (1 to 100).map(_.toDouble)
    // p99 would leave 1 sample beyond; p90 is the highest that leaves 10
    assert(Stats.tail(hundred) == Some(Tail(90.0, 90.0, 100, 10)))
    val thousand = (1 to 1000).map(_.toDouble).reverse
    assert(Stats.tail(thousand) == Some(Tail(99.0, 990.0, 1000, 10)))
    // p99 at most: 2000 samples leave 20 beyond it
    assert(Stats.tail((1 to 2000).map(_.toDouble)) == Some(Tail(99.0, 1980.0, 2000, 20)))
    // 80 samples (one per file of an 8 s live run): p87.5
    assert(Stats.tail((1 to 80).map(_.toDouble)) == Some(Tail(87.5, 70.0, 80, 10)))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Some(Tail(50.0, 10.0, 20, 10)))
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail(Nil).isEmpty)
  }

  test("median of odd and even samples") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("self time subtracts the union of child spans, clipped to the parent") {
    val spans = Seq(
      Span(0, -1, "batch", 0, 0, 100),
      Span(1, 0, "read", 0, 10, 30),
      Span(2, 0, "read", 0, 20, 50), // overlaps its sibling: counted once
      Span(3, 0, "sink", 0, 90, 120), // runs past the parent: clipped
      Span(4, 3, "probe", 0, 95, 105),
      Span(5, -1, "batch", 1, 200, 260))
    val self = Trace.selfTimes(spans)
    assert(math.abs(self("batch") - (100 - 40 - 10 + 60) / 1e9) < 1e-15)
    assert(math.abs(self("read") - 50 / 1e9) < 1e-15)
    assert(math.abs(self("sink") - 20 / 1e9) < 1e-15)
    assert(math.abs(self("probe") - 10 / 1e9) < 1e-15)
  }

  test("tracer nests spans per thread") {
    val tr = new Tracer
    tr.span("outer", 7) { tr.span("inner", 7)(()) }
    val byName = tr.all.map(s => s.name -> s).toMap
    assert(byName("inner").parent == byName("outer").id)
    assert(byName("outer").parent == -1)
    assert(byName("outer").startNs <= byName("inner").startNs)
    assert(byName("inner").endNs <= byName("outer").endNs)
  }

  private def logBytes(events: Vector[Event]): Seq[Array[Byte]] = {
    val dir = java.nio.file.Files.createTempDirectory("replbench-gen")
    try Gen.files(events, 100).zipWithIndex.map { case (f, k) =>
      val p = dir.resolve(s"$k.parquet")
      Gen.write(f, p)
      java.nio.file.Files.readAllBytes(p)
    } finally {
      java.nio.file.Files.list(dir).forEach(p => java.nio.file.Files.delete(p))
      java.nio.file.Files.delete(dir)
    }
  }

  test("the same seed gives a byte-identical change-log, another seed a different one") {
    for (gen <- Seq[(Long, Int) => Vector[Event]](Gen.live(_, _), Gen.wide(_, _))) {
      val a = logBytes(gen(7L, 500))
      val b = logBytes(gen(7L, 500))
      val c = logBytes(gen(8L, 500))
      assert(a.size == 5)
      assert(a.zip(b).forall { case (x, y) => x.sameElements(y) })
      assert(!a.zip(c).forall { case (x, y) => x.sameElements(y) })
    }
  }

  test("generated ops follow each key's life: insert when absent, else update or delete") {
    for (events <- Seq(Gen.live(3L, 5000), Gen.wide(3L, 5000))) {
      val present = scala.collection.mutable.HashSet.empty[(String, String, Long)]
      events.foreach { e =>
        val k = (e.db, e.table, e.id)
        assert((e.op == "insert") == !present(k), s"$e")
        if (e.op == "delete") present -= k else present += k
      }
      assert(events.map(_.seq) == (1L to 5000L))
    }
  }

  private def ev(seq: Long, op: String, db: String, id: Long, table: String = "orders") =
    Event(seq, op, db, table, id, s"v$seq", seq * 10)

  test("replay is last-writer-wins by seq through the filters and routes") {
    val log = Seq(
      ev(1, "insert", "db0", 1), ev(2, "update", "db0", 1), ev(3, "delete", "db0", 1),
      ev(4, "insert", "db0", 1), // re-insert after the delete
      ev(5, "insert", "db1", 1), // same id, other route target
      ev(6, "insert", "db0", 2), ev(7, "delete", "db0", 2),
      ev(8, "insert", "db0", 3, table = "audit"), // reject filter
      ev(9, "insert", "stage", 4), // accept filter
      ev(11, "update", "db1", 1), ev(10, "update", "db1", 1)) // out of order
    assert(Oracle.replay(log) == Map(
      ("t_a", 1L) -> ("V4", 40L),
      ("t_b", 1L) -> ("V11", 110L)))
  }

  test("kafka sequences keep each key's last change per batch, in batch order") {
    val log = Vector(
      ev(1, "insert", "db0", 1), ev(2, "update", "db0", 1), ev(3, "insert", "db1", 1),
      ev(4, "delete", "db0", 1), ev(5, "insert", "db0", 1), ev(6, "update", "db0", 1),
      ev(7, "insert", "db0", 9, table = "audit"))
    val batch = Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 2L, 6L -> 2L, 7L -> 2L)
    assert(Oracle.kafkaSequences(log, e => batch(e.seq)) == Map(
      ("db0", 1L) -> Vector(("update", "V2"), ("delete", "V4"), ("update", "V6")),
      ("db1", 1L) -> Vector(("insert", "V3"))))
  }
}
