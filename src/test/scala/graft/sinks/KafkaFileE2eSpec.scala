package graft.sinks

import graft.SparkSpec
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.apache.spark.sql.functions._

/** Shared by the write tasks of one JVM: arms a failure at the second
  * value a task writes. Test-local, read through the class, never
  * shipped inside a closure.
  */
object KafkaFileFault {
  val armed = new AtomicBoolean(false)
  val seen = new AtomicInteger(0)
}

/** Kafka write path in file form: compacted batches → key-hash
  * partitioned append log → per-key total order across micro-batches
  * (the broker guarantee the reference's manual partitioner relies on,
  * async_kafka.go:196-201).
  */
class KafkaFileE2eSpec extends SparkSpec {
  import spark.implicits._

  private def compacted(rows: Seq[(Long, String, Long, String)]) =
    rows.toDF("seq", "op", "id", "v")
      .withColumn("database", lit("db0")).withColumn("table", lit("t"))

  private def files(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return Nil
    val s = java.nio.file.Files.walk(root)
    try scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => root.relativize(p).toString).toSeq.sorted
    finally s.close()
  }

  test("one key's changes land totally ordered in one partition across batches") {
    val dir = java.nio.file.Files.createTempDirectory("kafka-log").toString
    val sink = new KafkaFileBatchSink(dir, numPartitions = 4, pkCols = Seq("id"))

    // two compacted micro-batches: one row per key each, interleaved keys
    sink.write(0L, compacted(Seq(
      (1L, "insert", 1L, "a"), (2L, "insert", 2L, "b"),
      (3L, "insert", 3L, "c"), (4L, "insert", 4L, "d"))))
    sink.write(1L, compacted(Seq(
      (5L, "update", 2L, "b2"), (6L, "delete", 1L, "a"),
      (7L, "update", 3L, "c2"), (8L, "insert", 5L, "e"))))

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val logs: Map[Long, Seq[(Long, String, String)]] = sink.partitions.map { p =>
      p -> sink.partitionLog(p).map { line =>
        val n = mapper.readTree(line)
        assert(n.get("version").asText() == KafkaJson.Version20)
        (n.get("pks").get("id").asLong(), n.get("type").asText(),
          n.get("data").get("v").asText())
      }
    }.toMap

    // every key lives in exactly one partition
    val homes = logs.values.flatten.map(_._1).toSeq.distinct.map { id =>
      id -> logs.filter(_._2.exists(_._1 == id)).keys.toSeq
    }
    assert(homes.forall(_._2.size == 1), s"key spread across partitions: $homes")
    // within its partition log, each key's changes are in batch order
    val perKey = logs.values.flatten.groupBy(_._1).map { case (id, es) =>
      id -> es.map(e => (e._2, e._3)).toSeq
    }
    assert(perKey == Map(
      1L -> Seq(("insert", "a"), ("delete", "a")),
      2L -> Seq(("insert", "b"), ("update", "b2")),
      3L -> Seq(("insert", "c"), ("update", "c2")),
      4L -> Seq(("insert", "d")),
      5L -> Seq(("insert", "e"))))
    assert(files(dir).forall(_.matches("""p\d+/batch-00000000[01]\.jsonl""")), files(dir))
  }

  test("a write that fails mid-partition publishes nothing; the retry leaves the full file") {
    val dir = java.nio.file.Files.createTempDirectory("kafka-atomic").toString
    val sink = new KafkaFileBatchSink(dir, numPartitions = 1, pkCols = Seq("id"))
    val batch = compacted((1L to 6L).map(i => (i, "insert", i, s"v$i")))
    // fails the write task at its second value: the first line is
    // already in the partition's file when the task dies
    val failSecond = udf { (v: String) =>
      if (KafkaFileFault.seen.incrementAndGet() == 2 && KafkaFileFault.armed.get())
        sys.error("injected failure mid-partition")
      v
    }.asNondeterministic()
    def records = KafkaJson.records(batch, 1, Seq("id"), None)
      .withColumn("value", failSecond(col("value")))

    KafkaFileFault.seen.set(0); KafkaFileFault.armed.set(true)
    try intercept[Exception](sink.append(0L, records))
    finally KafkaFileFault.armed.set(false)
    assert(KafkaFileFault.seen.get() >= 2, "the failure fired after the first value")
    assert(files(dir).isEmpty, s"a failed attempt left files: ${files(dir)}")
    assert(sink.partitionLog(0L).isEmpty)

    sink.append(0L, records)
    assert(files(dir) == Seq("p0/batch-000000000.jsonl"))
    val ids = sink.partitionLog(0L).map(l =>
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(l).get("pks").get("id").asLong())
    assert(ids == (1L to 6L))
  }
}
