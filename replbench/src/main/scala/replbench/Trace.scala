package replbench

/** A timed call into one layer. `parent` is the id of the enclosing span
  * on the same thread, -1 at the top.
  */
final case class Span(id: Int, parent: Int, name: String, batch: Long,
    startNs: Long, endNs: Long)

/** In-memory span recorder for the traced run. Spans nest per thread;
  * nothing is written until [[write]] at the end of the run.
  */
final class Tracer {
  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[T](name: String, batch: Long = -1L)(body: => T): T = {
    val id = nextId.getAndIncrement()
    val parent = stack.get.headOption.getOrElse(-1)
    stack.set(id :: stack.get)
    val start = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      stack.set(stack.get.tail)
      spans.synchronized { spans += Span(id, parent, name, batch, start, end) }
    }
  }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** One tab-separated line per span: id, parent, name, batch, start, end. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, all.sortBy(_.id)
      .map(s => s"${s.id}\t${s.parent}\t${s.name}\t${s.batch}\t${s.startNs}\t${s.endNs}\n")
      .mkString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Trace {

  /** Seconds per span name of time not covered by child spans. Children
    * are clipped to their parent and overlapping children are counted
    * once, so concurrent child work cannot drive a self time negative.
    */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }
          .sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
            if (b <= reach) (sum, reach)
            else (sum + b - math.max(a, reach), b)
          }._1
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }
}
