package replbench

/** One change event of the generated change-log. `v` carries the event's
  * own sequence number, so every sink image names the event it came from.
  */
final case class Event(seq: Long, op: String, db: String, table: String,
    id: Long, v: String, amt: Long)

/** Seeded change-log generators. Pure: the same seed and size always give
  * the same events, and the program only ever sees the files written from
  * them.
  */
object Gen {

  /** StructType DDL of the change-log files. */
  val Schema = "seq BIGINT, op STRING, database STRING, table STRING, id BIGINT, v STRING, amt BIGINT"

  /** Hot-key mix for `live`: Zipf(`skew`) updates over `keys` ids per
    * table, spread over the two routed schemas. 3% of events come from a
    * schema the accept filter drops and 5% from a table the reject filter
    * drops. An absent key is inserted; a present one is updated (94%) or
    * deleted (6%), so deleted keys are re-inserted later.
    */
  def live(seed: Long, events: Int, keys: Int = 400, skew: Double = 1.1): Vector[Event] = {
    val rnd = new scala.util.Random(seed)
    val cdf = {
      val w = (1 to keys).map(k => 1.0 / math.pow(k, skew))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def zipf(): Long = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      (if (i >= 0) i else math.min(-i - 1, keys - 1)).toLong + 1
    }
    val present = scala.collection.mutable.HashSet.empty[(String, String, Long)]
    Vector.tabulate(events) { i =>
      val seq = i + 1L
      val db = if (rnd.nextDouble() < 0.03) "stage" else if (rnd.nextBoolean()) "db0" else "db1"
      val table = if (rnd.nextDouble() < 0.05) "audit" else "orders"
      val id = zipf()
      val key = (db, table, id)
      val op =
        if (!present(key)) { present += key; "insert" }
        else if (rnd.nextDouble() < 0.06) { present -= key; "delete" }
        else "update"
      Event(seq, op, db, table, id, s"v$seq", rnd.nextInt(100000).toLong)
    }
  }

  /** Backlog mix for `wide`: 80% inserts of new keys, 15% updates and 5%
    * deletes of a uniformly chosen live key, so compaction removes almost
    * nothing and the snapshot grows with every batch. Same filter mix as
    * [[live]].
    */
  def wide(seed: Long, events: Int): Vector[Event] = {
    val rnd = new scala.util.Random(seed)
    val liveKeys = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var nextId = 0L
    Vector.tabulate(events) { i =>
      val seq = i + 1L
      val p = rnd.nextDouble()
      val (op, (db, table, id)) =
        if (liveKeys.isEmpty || p < 0.80) {
          nextId += 1
          val db = if (rnd.nextDouble() < 0.03) "stage" else if (rnd.nextBoolean()) "db0" else "db1"
          val table = if (rnd.nextDouble() < 0.05) "audit" else "orders"
          val key = (db, table, nextId)
          liveKeys += key
          ("insert", key)
        } else {
          val j = rnd.nextInt(liveKeys.size)
          val key = liveKeys(j)
          if (p < 0.95) ("update", key)
          else {
            liveKeys(j) = liveKeys.last
            liveKeys.remove(liveKeys.size - 1)
            ("delete", key)
          }
        }
      Event(seq, op, db, table, id, s"v$seq", rnd.nextInt(100000).toLong)
    }
  }

  /** Cut the log into consecutive files of `perFile` events. */
  def files(events: Vector[Event], perFile: Int): Vector[Vector[Event]] =
    events.grouped(perFile).toVector

  private lazy val parquetSchema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
    """message changelog {
      |  required int64 seq; required binary op (STRING); required binary database (STRING);
      |  required binary table (STRING); required int64 id; required binary v (STRING);
      |  required int64 amt;
      |}""".stripMargin)

  /** Write one change-log file (parquet, columns as in [[Schema]]). The
    * bytes depend only on the events.
    */
  def write(events: Seq[Event], file: java.nio.file.Path): Unit = {
    val groups = new org.apache.parquet.example.data.simple.SimpleGroupFactory(parquetSchema)
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.parquet.io.LocalOutputFile(file))
      .withType(parquetSchema).build()
    try events.foreach { e =>
      w.write(groups.newGroup().append("seq", e.seq).append("op", e.op)
        .append("database", e.db).append("table", e.table).append("id", e.id)
        .append("v", e.v).append("amt", e.amt))
    } finally w.close()
  }
}
