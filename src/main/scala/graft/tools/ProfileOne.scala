package graft.tools

import graft.analytics.Catalog
import graft.core.Engine

/** Run one catalog entry N times against an SF dir with wall timing —
  * the harness for decomposing a single headliner's cost (pair with
  * GRAFT_PROF=1 to see the per-phase breakdown from [[graft.core.Prof]]).
  *
  * Each pass is a noop-write materialization, then post-clock hygiene
  * (clearCache + System.gc so the ContextCleaner releases the pass's
  * localCheckpoint blocks) — so a pass-over-pass growth shape seen here
  * is real accumulation, and its per-pass phase totals say WHERE the
  * growth lives. GRAFT_PROFONE_NO_HYGIENE=1 disables the
  * hygiene step to A/B its effect (the r08 PageRank accumulation repro).
  *
  * Usage: runMain graft.tools.ProfileOne <name> [sfDir] [passes]
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: ProfileOne <entry> [sfDir] [passes]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val passes = args.lift(2).map(_.toInt).getOrElse(2)
    val hygiene = !sys.env.get("GRAFT_PROFONE_NO_HYGIENE").contains("1")
    val spark = Engine.session("profile-one", master = Some("local[32]"))
    val q = Catalog.queries(name)
    (1 to passes).foreach { i =>
      graft.core.Prof.captureStart()
      val t0 = System.nanoTime()
      q(spark, sfDir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      val ph = graft.core.Prof.captureStop()
      println(f"[profile] $name pass $i: $sec%.2f s")
      ph.toSeq.sortBy(-_._2).take(12).foreach { case (k, v) =>
        println(f"[profile]   $k%-40s $v%8.2f s")
      }
      if (hygiene) { spark.catalog.clearCache(); System.gc() }
    }
    spark.stop()
  }
}
