package graft.sinks

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class SinksSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))
  private def row(id: Long, v: String): Row =
    new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
      Array[Any](id, v), schema)

  test("replace engine renders multi-row REPLACE with flattened args") {
    val st = ReplaceEngine.renderWrites("t", schema, Seq(row(1, "a"), row(2, "b")))
    assert(st.size == 1)
    assert(st.head.sql == "REPLACE INTO t (`id`,`v`) VALUES (?,?),(?,?)")
    assert(st.head.args == Seq(Seq(1L, "a", 2L, "b")))
  }

  test("insert-ignore and on-dup-key engines") {
    val ii = InsertIgnoreEngine.renderWrites("t", schema, Seq(row(1, "a")))
    assert(ii.head.sql.startsWith("INSERT IGNORE INTO t"))
    val od = OnDupKeyUpdateEngine.renderWrites("t", schema, Seq(row(1, "a"), row(2, "b")))
    assert(od.size == 2)
    assert(od.head.sql.contains("ON DUPLICATE KEY UPDATE `id` = VALUES(`id`)"))
  }

  test("delete renders single-key WHERE; manual engine expands template") {
    val d = ReplaceEngine.renderDelete("t", Seq("id"), Seq(5L))
    assert(d.sql == "DELETE FROM t WHERE `id` = ?" && d.args == Seq(Seq(5L)))
    val m = ManualEngine("INSERT INTO {{table}} ({{columns}}) VALUES {{placeholders}}")
      .renderWrites("t", schema, Seq(row(1, "a")))
    assert(m.head.sql == "INSERT INTO t (`id`,`v`) VALUES (?,?)")
  }

  test("batch splitter isolates deletes, preserves order") {
    val opSchema = StructType(schema.fields :+ StructField("op", StringType))
    def r(id: Long, op: String) =
      new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
        Array[Any](id, "v", op), opSchema): Row
    val runs = BatchSplitter.splitAroundDeletes(Seq(
      r(1, "insert"), r(2, "insert"), r(3, "delete"), r(4, "delete"), r(5, "update")))
    assert(runs.map { case (del, rs) => (del, rs.map(_.getLong(0))) } ==
      Seq((false, Seq(1L, 2L)), (true, Seq(3L)), (true, Seq(4L)), (false, Seq(5L))))
  }

  test("kafka 2.0.alpha typed payload") {
    val typed = Seq((7L, "update", "dbx", "users", 42L, "bob"))
      .toDF("seq", "op", "database", "table", "id", "name")
    val out = KafkaJson.records(typed, numPartitions = 4, pkCols = Seq("id"),
      payloadColumns = None)
    assert(out.columns.toSeq == Seq("__part", "key", "value"))
    val parsed = spark.read.json(Seq(out.head().getAs[String]("value")).toDS).head()
    assert(parsed.getAs[String]("version") == "2.0.alpha")
    assert(parsed.getAs[String]("database") == "dbx")
    assert(parsed.getAs[String]("table") == "users")
    assert(parsed.getAs[String]("type") == "update")
    // bookkeeping columns (seq, op, database, table) stay out of data
    assert(parsed.getAs[Row]("data").schema.fieldNames.toSeq == Seq("id", "name"))
    assert(parsed.getAs[Row]("data").getAs[Long]("id") == 42L)
    assert(parsed.getAs[Row]("data").getAs[String]("name") == "bob")
    assert(parsed.getAs[Row]("pks").getAs[Long]("id") == 42L)
  }

  test("es doc assembly + nested one-many rebuild") {
    val parent = Seq((1L, "p1"), (2L, "p2")).toDF("pid", "pname")
    val child = Seq((1L, "c1"), (1L, "c2"), (2L, "c3")).toDF("fk", "cname")
    val nested = EsDocs.nestedOneMany(parent, child, "fk", "pid", "children")
    val got = nested.select($"pid", size($"children").as("n"))
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 2, 2L -> 1))
  }

  test("esmodel incremental child ops: update-in-array, delete stays deleted, empty array emitted") {
    // initial child state (post-compaction log rows with op/seq retained)
    val state0 = Seq(
      (1L, "insert", 10L, 1L, "c1"),
      (2L, "insert", 11L, 1L, "c2"),
      (3L, "insert", 12L, 2L, "c3"))
      .toDF("seq", "op", "cid", "fk", "cname")
    // batch: update c1, delete c2, delete the only child of parent 2
    val batch = Seq(
      (4L, "update", 10L, 1L, "c1x"),
      (5L, "delete", 11L, 1L, "c2"),
      (6L, "delete", 12L, 2L, "c3"))
      .toDF("seq", "op", "cid", "fk", "cname")
    val state1 = EsDocs.mergeChildState(state0, batch, "cid")
    val updates = EsDocs.childArrayUpdates(state1, batch, "fk", "children")
    val got = updates.select($"fk", $"children.cname".as("names"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got == Map(1L -> Seq("c1x"), 2L -> Seq())) // parent 2: empty array update
    // a later batch touching parent 1 again must NOT resurrect c2
    val batch2 = Seq((7L, "insert", 13L, 1L, "c4")).toDF("seq", "op", "cid", "fk", "cname")
    val state2 = EsDocs.mergeChildState(state1, batch2, "cid")
    val got2 = EsDocs.childArrayUpdates(state2, batch2, "fk", "children")
      .select($"fk", array_sort($"children.cname").as("names"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got2 == Map(1L -> Seq("c1x", "c4")))
    // untouched parents emit no update rows at all
    assert(!got2.contains(2L))
  }

  test("esmodel route column maps: include, exclude, convert") {
    val df = Seq((1L, "a", "x", 9L)).toDF("id", "name", "secret", "internal")
    val out = EsDocs.applyColumnMaps(df,
      include = Seq("id", "name", "secret"),
      exclude = Seq("secret"),
      convert = Map("name" -> "display_name"))
    assert(out.columns.toSeq == Seq("id", "display_name"))
    assert(out.as[(Long, String)].head() == (1L, "a"))
  }

  test("conflict-detect engine: optimistic guards on old image") {
    val ins = ConflictDetectEngine.renderWrites("t", schema, Seq(row(1, "a")))
    assert(ins.head.sql == "INSERT INTO t (`id`,`v`) VALUES (?,?)")
    val upd = ConflictDetectEngine.renderGuardedUpdate("t", schema, row(1, "b"),
      Map("id" -> 1L, "v" -> "a"))
    assert(upd.sql == "UPDATE t SET `id` = ?,`v` = ? WHERE `id` <=> ? AND `v` <=> ?")
    assert(upd.args == Seq(Seq(1L, "b", 1L, "a")))
    val del = ConflictDetectEngine.renderGuardedDelete("t", Map("id" -> 1L))
    assert(del.sql == "DELETE FROM t WHERE `id` <=> ?" && del.args == Seq(Seq(1L)))
  }

  test("conflict-detect engine: NULL old values render IS NULL, no bound param") {
    // a '='-dialect engine (no null-safe operator) must not bind NULL to
    // '=' — `col = NULL` is never true and every NULL-bearing old image
    // would be flagged as a conflict
    val eq = new ConflictDetect(quote = "", nullSafeEq = "=")
    val upd = eq.renderGuardedUpdate("t", schema, row(1, "b"),
      Map("id" -> 1L, "v" -> null))
    assert(upd.sql == "UPDATE t SET id = ?,v = ? WHERE id = ? AND v IS NULL")
    assert(upd.args == Seq(Seq(1L, "b", 1L)))
    val del = eq.renderGuardedDelete("t", Map("id" -> 1L, "v" -> null))
    assert(del.sql == "DELETE FROM t WHERE id = ? AND v IS NULL")
    assert(del.args == Seq(Seq(1L)))
  }

  test("engine identifier quoting escapes; bare dialects validate charset") {
    assert(ReplaceEngine.qualify("db1", "orders") == "`db1`.`orders`")
    assert(ReplaceEngine.qualify("", "or`ders") == "`or``ders`")
    val bare = AnsiMergeEngine(Seq("id"))
    assert(bare.qualify("", "target_orders") == "target_orders")
    intercept[IllegalArgumentException](bare.qualify("", "t; DROP TABLE x"))
    intercept[IllegalArgumentException](ReplaceEngine.qualify("", "t\nx"))
  }
}
