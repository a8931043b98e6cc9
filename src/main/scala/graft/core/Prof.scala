package graft.core

/** Env-gated wall-clock phase profiler for the maintenance loops.
  *
  * `Prof.time("site/phase") { ... }` runs the thunk; when GRAFT_PROF is
  * set it also prints `[prof] site/phase <ms> ms` to stderr. Zero
  * overhead in the normal path beyond a nanoTime pair — safe to leave at
  * permanent call sites (the maintained loops' per-batch latency is a
  * production metric; being able to decompose it on demand is how the
  * fixed-overhead work in round 12 was measured).
  *
  * Capture mode ([[captureStart]]/[[captureStop]]) accumulates per-label
  * totals in memory instead of printing — [[graft.tools.ProfileOne]]
  * wraps each pass in a capture and prints the pass's per-phase totals,
  * so a phase-structured cost (the forest-cut line's init share vs its
  * probe/skip path) is separable from init drift.
  */
object Prof {
  private val enabled: Boolean = sys.env.contains("GRAFT_PROF")
  private val acc = scala.collection.concurrent.TrieMap.empty[String, Long]
  @volatile private var capturing = false

  def time[A](label: String)(body: => A): A =
    if (!enabled && !capturing) body
    else {
      val t0 = System.nanoTime()
      try body
      finally {
        val dt = System.nanoTime() - t0
        if (capturing)
          acc.updateWith(label) {
            case Some(v) => Some(v + dt)
            case None => Some(dt)
          }
        if (enabled) System.err.println(f"[prof] $label%s ${dt / 1e6}%.1f ms")
      }
    }

  /** Begin accumulating per-label totals (clears any previous capture). */
  private[graft] def captureStart(): Unit = { acc.clear(); capturing = true }

  /** Stop accumulating and return per-label totals in SECONDS. */
  private[graft] def captureStop(): Map[String, Double] = {
    capturing = false
    val out = acc.readOnlySnapshot().toMap.map { case (k, v) => k -> v / 1e9 }
    acc.clear()
    out
  }
}
