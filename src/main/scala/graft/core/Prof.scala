package graft.core

/** Env-gated wall-clock phase profiler for the maintenance loops.
  *
  * `Prof.time("site/phase") { ... }` runs the thunk; when GRAFT_PROF is
  * set it also prints `[prof] site/phase <ms> ms` to stderr. Zero
  * overhead in the normal path beyond a nanoTime pair — safe to leave at
  * permanent call sites (the maintained loops' per-batch latency is a
  * production metric; being able to decompose it on demand is how the
  * fixed-overhead work in round 12 was measured).
  */
object Prof {
  private val enabled: Boolean = sys.env.contains("GRAFT_PROF")

  def time[A](label: String)(body: => A): A =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally System.err.println(f"[prof] $label%s ${(System.nanoTime() - t0) / 1e6}%.1f ms")
    }
}
