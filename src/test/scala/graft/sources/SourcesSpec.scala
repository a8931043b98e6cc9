package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("kafka v0.1 documents decode into the envelope") {
    // gravity's v0.1 layout (rdb_json.go:18-104): header with epoch-second
    // ts, time_zone and host; every data/old/pks value a string
    val docs = Seq(
      (1L, """{"version":"0.1","database":"dbx","table":"users","type":"insert",""" +
        """"ts":1704164645,"time_zone":"Asia/Shanghai","host":"h1",""" +
        """"data":{"id":"1","name":"n"},"old":{},"pks":{"id":"1"}}"""),
      (2L, """{"version":"0.1","database":"dbx","table":"users","type":"update",""" +
        """"ts":1704164646,"time_zone":"Asia/Shanghai","host":"h1",""" +
        """"data":{"id":"1","name":"n2"},"old":{"id":"1","name":"n"},"pks":{"id":"1"}}"""),
      (3L, """{"version":"0.1","database":"dbx","table":"users","type":"delete",""" +
        """"ts":1704164647,"time_zone":"Asia/Shanghai","host":"h1",""" +
        """"data":{"id":"2"},"old":{},"pks":{"id":"2"}}"""))
      .toDF("seq", "value")
    val decoded = KafkaCdc.envelopeFromV01(docs, col("seq"))

    val back = decoded.select("seq", "op", "database", "table", "event_ts", "data", "old", "pks")
      .as[(Long, String, String, String, java.sql.Timestamp, Map[String, String],
        Map[String, String], Map[String, String])]
      .collect().sortBy(_._1)
    assert(back.map(_._2).toSeq == Seq("insert", "update", "delete"))
    assert(back.forall(b => b._3 == "dbx" && b._4 == "users"))
    // 2024-01-02 03:04:05 UTC, whatever the JVM's zone
    assert(back.map(_._5.getTime).toSeq ==
      Seq(1704164645000L, 1704164646000L, 1704164647000L))
    assert(back(0)._6 == Map("id" -> "1", "name" -> "n") && back(0)._7 == Map.empty)
    assert(back(1)._6 == Map("id" -> "1", "name" -> "n2") &&
      back(1)._7 == Map("id" -> "1", "name" -> "n"))
    assert(back(2)._6 == Map("id" -> "2") && back(2)._8 == Map("id" -> "2"))
  }

  test("internal traffic elision drops own replication writes") {
    val df = Seq(("_graft", 1L), ("app", 2L), ("_graft_positions", 3L))
      .toDF("database", "seq")
    assert(KafkaCdc.dropInternalTraffic(df).select("seq").as[Long].collect().toSeq == Seq(2L))
  }

  test("pk-sticky partitioning assigns stable partitions") {
    val df = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("id", "v")
    val parts = df.select(col("id"), KafkaCdc.partitionFor(Seq("id"), 16).as("p"))
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
    assert(parts(1L).length == 1) // same key, same partition
    assert(parts.values.flatten.forall(p => p >= 0 && p < 16))
  }

  test("numeric keyset predicates cover the range without overlap") {
    val preds = JdbcChunkedSource.numericPredicates("id", 0, 99, 4)
    assert(preds.size == 4)
    assert(preds.head == "id >= 0 AND id <= 24")
    assert(preds.last == "id >= 75 AND id <= 99")
    // simulated execution covers every key exactly once
    val keys = (0L to 99L)
    val covered = preds.flatMap { p =>
      val bounds = """(\d+)""".r.findAllIn(p).map(_.toLong).toSeq
      keys.filter(k => k >= bounds(0) && k <= bounds(1))
    }
    assert(covered.sorted == keys.toSeq)
  }

  test("quantile predicates split a skewed frame into parseable ranges") {
    val df = (Seq.fill(900)(5L) ++ (1L to 100L)).toDF("id")
    val preds = JdbcChunkedSource.quantilePredicates(df, "id", 4)
    assert(preds.nonEmpty && preds.forall(p => p.contains("id") || p == "1=1"))
  }
}
