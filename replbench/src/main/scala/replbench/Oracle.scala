package replbench

/** An event as the pipeline config turns it into a sink row. */
final case class Applied(tgt: String, db: String, id: Long, op: String, v: String,
    amount: Long, seq: Long)

/** Independent plain-Scala model of the benchmark's pipeline config: the
  * filter chain, the routes and last-writer-wins by `seq`. It shares no
  * code with the program, so a defect in the program's filters, routing,
  * compaction or sinks shows as a mismatch.
  */
object Oracle {

  /** accept `db*` → reject table `audit` → rename amt→amount →
    * v := upper(v) → route db0→t_a, db1→t_b (unrouted schemas dropped).
    */
  def pipeline(e: Event): Option[Applied] = {
    val tgt = e.db match {
      case "db0" => Some("t_a")
      case "db1" => Some("t_b")
      case _ => None
    }
    if (!e.db.startsWith("db") || e.table == "audit") None
    else tgt.map(t => Applied(t, e.db, e.id, e.op, e.v.toUpperCase(java.util.Locale.ROOT),
      e.amt, e.seq))
  }

  /** Final table state after replaying `events` in `seq` order: key
    * (target table, id) → (v, amount); a delete removes the key and a
    * later insert brings it back.
    */
  def replay(events: Seq[Event]): Map[(String, Long), (String, Long)] = {
    val state = scala.collection.mutable.HashMap.empty[(String, Long), (String, Long)]
    events.sortBy(_.seq).flatMap(pipeline).foreach { a =>
      if (a.op == "delete") state -= ((a.tgt, a.id))
      else state((a.tgt, a.id)) = (a.v, a.amount)
    }
    state.toMap
  }

  /** Messages the kafka sink must append per key (source schema, id), in
    * order: for each batch in batch order, the key's last change in that
    * batch as (op, v). `batchOf` maps an event to the micro-batch that
    * read it.
    */
  def kafkaSequences(events: Seq[Event], batchOf: Event => Long)
      : Map[(String, Long), Vector[(String, String)]] =
    events.flatMap(e => pipeline(e).map(a => (batchOf(e), a)))
      .groupBy { case (b, a) => (b, a.db, a.id) }.values
      .map(_.maxBy(_._2.seq))
      .toVector.sortBy { case (b, a) => (b, a.seq) }
      .groupBy { case (_, a) => (a.db, a.id) }
      .map { case (k, msgs) => k -> msgs.map { case (_, a) => (a.op, a.v) } }

  /** Differences between an expected and an actual keyed state, at most
    * `limit` of them rendered for the log.
    */
  def diff[K, V](expected: Map[K, V], actual: Map[K, V], limit: Int = 3): Seq[String] = {
    val keys = (expected.keySet ++ actual.keySet).toSeq
    val bad = keys.filter(k => expected.get(k) != actual.get(k))
    bad.take(limit).map(k => s"$k: expected ${expected.get(k)}, got ${actual.get(k)}") ++
      (if (bad.size > limit) Seq(s"... ${bad.size} differing keys in all") else Nil)
  }
}
