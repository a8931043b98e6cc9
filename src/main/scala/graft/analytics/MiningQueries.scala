package graft.analytics

import graft.core.Tables
import graft.functions.GraftFunctions
import graft.functions.Similarity
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-7 second wave: corpus mining + training-set assembly operators —
  * hybrid retrieval fusion (RRF), retrieval-quality evaluation (MRR of a
  * quantized ranker against the exact one), train/test split leakage
  * detection, shared-span EXCISION (the repair half of
  * ddp_maximal_shared_spans' detection), context-window chunking with
  * overlap, chat-template rendering with loss masks, weighted systematic
  * sampling, event-sequence Markov transitions, and degree-ordered
  * triangle counting.
  *
  * Determinism discipline: every cross-engine aggregate is integer /
  * exact-decimal (reciprocal ranks and probabilities as scaled-integer
  * divisions); doubles appear only in the BM25 leg, in the exact
  * two-division form txt_bm25_topk already proved bit-stable.
  */
object MiningQueries {

  /** Integer lattice quantization both engines reproduce exactly (the
    * sim_ivf_kmeans_refined discipline). */
  private val q64Spark =
    "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 64.0 + 0.5) AS BIGINT))"
  private val q64Duck =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 64.0 + 0.5) AS BIGINT))"

  /** Walk-table CTE chain shared by gph_random_walks and its skip-gram
    * consumer (ends in `w3(walk_id, path, cur)`). */
  private val walksDuck =
    """li AS (
      |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
      |  WHERE l_quantity >= 45),
      |e AS (
      |  SELECT DISTINCT a.pk AS u, b.pk AS v
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |adj AS (
      |  SELECT n, list(m ORDER BY m) AS nbrs, count(*)::BIGINT AS deg
      |  FROM (SELECT u AS n, v AS m FROM e
      |        UNION ALL SELECT v AS n, u AS m FROM e) t
      |  GROUP BY 1),
      |w0 AS (SELECT n AS walk_id, n AS cur, n::VARCHAR AS path FROM adj),
      |w1 AS (
      |  SELECT walk_id,
      |    path || '>' || nbrs[1 + CAST(('0x' || substr(md5(walk_id::VARCHAR || '|' || '1'), 1, 6))::BIGINT % deg AS INT)]::VARCHAR AS path,
      |    nbrs[1 + CAST(('0x' || substr(md5(walk_id::VARCHAR || '|' || '1'), 1, 6))::BIGINT % deg AS INT)] AS cur
      |  FROM w0 JOIN adj ON w0.cur = adj.n),
      |w2 AS (
      |  SELECT walk_id,
      |    path || '>' || nbrs[1 + CAST(('0x' || substr(md5(walk_id::VARCHAR || '|' || '2'), 1, 6))::BIGINT % deg AS INT)]::VARCHAR AS path,
      |    nbrs[1 + CAST(('0x' || substr(md5(walk_id::VARCHAR || '|' || '2'), 1, 6))::BIGINT % deg AS INT)] AS cur
      |  FROM w1 JOIN adj ON w1.cur = adj.n),
      |w3 AS (
      |  SELECT walk_id,
      |    path || '>' || nbrs[1 + CAST(('0x' || substr(md5(walk_id::VARCHAR || '|' || '3'), 1, 6))::BIGINT % deg AS INT)]::VARCHAR AS path,
      |    nbrs[1 + CAST(('0x' || substr(md5(walk_id::VARCHAR || '|' || '3'), 1, 6))::BIGINT % deg AS INT)] AS cur
      |  FROM w2 JOIN adj ON w2.cur = adj.n)""".stripMargin

  /** Triangles of `context` (undirected, both edge directions) containing
    * at least one `delta` edge (canonical u < v), each triangle emitted
    * exactly ONCE: a triangle whose edge set holds k > 1 delta edges is
    * attributed to its lexicographically smallest one via two anti-join
    * exclusion legs over the triangle's other two edges. One row per
    * triangle, columns (u, v, w) = delta edge + closing vertex. Shape:
    * the wedge join is key-partitioned on u then (v, w) — Σ_{e∈Δ} deg(e)
    * work; the exclusion legs join against the (small) delta set and
    * broadcast at scale. */
  private[analytics] def attributedClosures(delta: DataFrame, context: DataFrame): DataFrame = {
    val cu = context.select(col("x").as("u"), col("y").as("w"))
    val cv = context.select(col("x").as("v"), col("y").as("w"))
    val tris = delta.select(col("u"), col("v"))
      .join(cu, Seq("u")).join(cv, Seq("v", "w"))
    val dd = delta.select(col("u").as("du"), col("v").as("dv"))
    def smallerDeltaEdge(a: Column, b: Column): Column =
      col("du") === a && col("dv") === b &&
        (col("du") < col("u") || (col("du") === col("u") && col("dv") < col("v")))
    tris
      .join(dd, smallerDeltaEdge(least(col("u"), col("w")), greatest(col("u"), col("w"))), "left_anti")
      .join(dd, smallerDeltaEdge(least(col("v"), col("w")), greatest(col("v"), col("w"))), "left_anti")
      .select(col("u"), col("v"), col("w"))
  }

  /** Union-find over label pairs (driver-side; callers bound the input to
    * one batch's distinct touched-label pairs). Roots are group MINIMA so
    * merged components keep the canonical component-min label; returns
    * only changed labels (old → group-min), identity entries omitted. */
  private[analytics] def mergeGroups(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(k => k -> find(k)).filter { case (k, r) => k != r }.toMap
  }

  /** Large-star/small-star connected components to an explicit edge-set
    * fixpoint (Kiveris et al., "Connected Components in MapReduce and
    * Beyond") — the shared machinery behind gph_largestar_smallstar_cc
    * and the deletion-rebuild path of the maintained-components entries.
    * Input: an undirected edge list (u, v). Output: (vtx, lbl) with
    * lbl = component-min id, for every vertex incident to an edge
    * (callers add isolated vertices as self-labeled singletons).
    * O(log² n) rounds regardless of diameter; each round two grouped
    * mins + re-link joins, lineage truncated per round.
    */
  private[analytics] def starFixpoint(edges0: DataFrame): DataFrame = {
    val verts = edges0.select(col("u").as("vtx"))
      .unionByName(edges0.select(col("v").as("vtx"))).distinct().localCheckpoint()
    def largeStar(e: DataFrame): DataFrame = {
      val adj = e.select(col("u"), col("v"))
        .unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = adj.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      adj.filter(col("v") > col("u")).join(mins, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val mins = dir.groupBy(col("u")).agg(min(col("v")).as("m"))
      val relink = dir.join(mins, Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(mins.select(col("u"), col("m").as("v")))
      relink.filter(col("u") =!= col("v")).distinct()
    }
    // distinct on entry: the convergence full-outer join below is 1:1
    // only over SETS — a duplicate input edge would re-duplicate every
    // matched row of the step and leak into the (vtx, root) output
    // (identity for the result: CC of a multiset = CC of its set)
    var edges = edges0.filter(col("u") =!= col("v")).distinct().localCheckpoint()
    var changed = 1L
    while (changed > 0) {
      // convergence = empty symmetric difference. The step edges and the
      // difference count come out of ONE checkpoint job (Fused): a
      // full-outer marker join against the previous set replaces the
      // former two anti-join count jobs per round — this loop is
      // job-overhead-bound at bench scale, not data-bound
      val step = smallStar(largeStar(edges))
      val (jc, nDiff) = graft.core.Fused.checkpointCount(
        step.withColumn("inN", lit(1))
          .join(edges.select(col("u"), col("v")).withColumn("inE", lit(1)),
            Seq("u", "v"), "full_outer"),
        count(when(col("inN").isNull || col("inE").isNull, lit(1))))
      changed = nDiff
      edges = jc.filter(col("inN") === 1).select(col("u"), col("v"))
    }
    // fixpoint edges are (node, root) stars; roots label themselves
    verts.join(edges.select(col("u").as("vtx"), col("v").as("root")),
        Seq("vtx"), "left")
      .select(col("vtx"), coalesce(col("root"), col("vtx")).as("lbl"))
  }

  /** Distributed Borůvka spanning forest (public textbook algorithm; the
    * standard O(log V)-round distributed MSF shape). Input: undirected
    * edges (u, v); output: canonical (u < v) tree edges whose union spans
    * every component of the input. Per round each current component picks
    * its minimum incident CROSSING edge under the (u, v) total order —
    * distinct "weights", so the round's picks are provably acyclic — then
    * components contract via [[starFixpoint]] over the chosen edges'
    * endpoint-label graph (component-count-sized, so contraction cost
    * shrinks geometrically). Active components at least halve per round:
    * ≤ log₂V rounds, each one E-sized join + a component-sized star
    * fixpoint. 100 TB: the forest is V-sized state, the per-round shuffle
    * is the edge list keyed by endpoint — the same plan class as the
    * label rebuild it certifies.
    */
  private[analytics] def boruvkaForest(edges0: DataFrame): DataFrame = {
    val s = edges0.sparkSession
    import s.implicits._
    val canon = edges0
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint()
    var lbl = canon.select(col("u").as("vtx"))
      .unionByName(canon.select(col("v").as("vtx"))).distinct()
      .select(col("vtx"), col("vtx").as("lbl")).localCheckpoint()
    var forest = Seq.empty[(Long, Long)].toDF("u", "v")
    var n = 1L
    while (n > 0) {
      val crossed = canon
        .join(lbl.select(col("vtx").as("u"), col("lbl").as("lu")), Seq("u"))
        .join(lbl.select(col("vtx").as("v"), col("lbl").as("lv")), Seq("v"))
        .filter(col("lu") =!= col("lv"))
      val (chosen, nChosen) = graft.core.Fused.checkpointCount(
        crossed.select(col("lu").as("l"), col("u"), col("v"))
          .unionByName(crossed.select(col("lv").as("l"), col("u"), col("v")))
          .groupBy(col("l")).agg(min(struct(col("u"), col("v"))).as("e"))
          .select(col("e.u").as("u"), col("e.v").as("v")).distinct(),
        count(lit(1)))
      n = nChosen
      if (n > 0) {
        // union of checkpointed leaves — see hookForest: no per-round
        // re-materialization of the growing forest
        forest = forest.unionByName(chosen)
        val lgraph = chosen
          .join(lbl.select(col("vtx").as("u"), col("lbl").as("lu")), Seq("u"))
          .join(lbl.select(col("vtx").as("v"), col("lbl").as("lv")), Seq("v"))
          .select(col("lu").as("u"), col("lv").as("v"))
        val lmap = starFixpoint(lgraph)
          .select(col("vtx").as("old"), col("lbl").as("nl"))
        lbl = lbl.join(lmap, col("lbl") === col("old"), "left")
          .select(col("vtx"), coalesce(col("nl"), col("lbl")).as("lbl"))
          .localCheckpoint()
      }
    }
    forest
  }

  /** Labels AND a spanning forest in ONE O(log V)-round loop:
    * hook-and-compress union-by-min with real-edge WITNESSES (the
    * Shiloach–Vishkin hooking idea in its MapReduce "hash-greater-to-min"
    * form, Rastogi et al. ICDE'13 — public textbook machinery). Per
    * round: every current label with a crossing edge hooks to its
    * minimum counterpart label, RECORDING the minimum real edge that
    * connects the two supervertices; hooks strictly decrease (big →
    * small), so each round's hook graph is a forest on labels — pointer
    * doubling compresses it to its roots, and every vertex relabels
    * through it. Witness edges number exactly one per supervertex merge,
    * so at every point |forest| = V − #components: acyclic AND spanning
    * by induction. Labels converge to component minima (exactly
    * [[starFixpoint]]'s contract). Per round: one edge-sized label join
    * + a label-sized grouped min + label-sized doubling joins — the
    * cheapest distributed forest builder we know; [[boruvkaForest]] is
    * the classical per-component-min-edge alternative (kept as the
    * cross-validating law twin). Returns (labels (vtx, lbl), forest
    * (u, v) canonical u < v).
    */
  private[analytics] def hookForest(edges0: DataFrame,
      canonical: Boolean = false): (DataFrame, DataFrame) = {
    val s = edges0.sparkSession
    import s.implicits._
    // canonical = the caller guarantees (u < v, no self-loops, distinct)
    // — true for every ForestCutCC site (the base graph is built
    // canonical-distinct and the sinks store canonical rows), which
    // skips a full shuffle+distinct of the edge set per build
    val canon = (if (canonical) edges0
      else edges0
        .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v")).distinct()).localCheckpoint()
    var lbl = canon.select(col("u").as("vtx"))
      .unionByName(canon.select(col("v").as("vtx"))).distinct()
      .select(col("vtx"), col("vtx").as("lbl")).localCheckpoint()
    var forest = Seq.empty[(Long, Long)].toDF("u", "v")
    var n = 1L
    while (n > 0) {
      // (A shrink-the-edge-set variant — checkpoint each round's crossing
      // edges and scan only those next round — was A/B-measured SLOWER:
      // fc/hooks 2.8 → 5.7 s warm at sf0.1. Materializing the E-sized
      // crossing set costs more than the full-scan pipeline it replaces,
      // which aggregates straight out of the canon checkpoint without
      // ever materializing the joined rows.)
      // hook count fused into the checkpoint job (Fused.checkpointCount):
      // the former hooks.count() was a second job per round over blocks
      // the checkpoint job had just produced — pure job overhead in a
      // loop the scaling data shows is job-count-bound
      val (hooks, nHooks) = graft.core.Prof.time("fc/hooks") {
        val cross = canon
          .join(lbl.select(col("vtx").as("u"), col("lbl").as("lu")), Seq("u"))
          .join(lbl.select(col("vtx").as("v"), col("lbl").as("lv")), Seq("v"))
          .filter(col("lu") =!= col("lv"))
          .select(least(col("lu"), col("lv")).as("la"),
            greatest(col("lu"), col("lv")).as("lb"), col("u"), col("v"))
        graft.core.Fused.checkpointCount(
          cross.groupBy(col("lb"))
            .agg(min(struct(col("la"), col("u"), col("v"))).as("h"))
            .select(col("lb"), col("h.la").as("la"), col("h.u").as("u"), col("h.v").as("v")),
          count(lit(1)))
      }
      n = nHooks
      if (n > 0) {
        // no checkpoint: each round's hooks frame IS a checkpoint — the
        // forest is a shallow union of ≤ log V checkpointed leaves, and
        // re-materializing the growing union cost one O(|forest|) job
        // per round for lineage the leaves already truncate
        forest = forest.unionByName(hooks.select(col("u"), col("v")))
        // a projection of the checkpointed hooks frame — the former
        // copy-checkpoint was one more job per round for nothing
        var ptr = hooks.select(col("lb").as("x"), col("la").as("p"))
        var m = 1L
        while (m > 0) graft.core.Prof.time("fc/doubling") {
          // one materialization per doubling step: the changed flag rides
          // in the SAME select (new p ≠ old p ⟺ a grandparent existed and
          // differed), so convergence costs a count over the checkpointed
          // blocks instead of a second label-sized join per step. (A
          // two-jumps-per-step variant — lazy intermediate join inside
          // one job — was A/B-measured SLOWER here: 22.7 s vs 14.4 s
          // warm at sf0.1; the doubled self-join re-evaluation taxes
          // every stage more than the saved checkpoint+count round trip.)
          // the changed count rides the checkpoint job too — one job per
          // doubling step instead of two
          val (nxt, mChg) = graft.core.Fused.checkpointCount(
            ptr.as("a")
              .join(ptr.select(col("x").as("p"), col("p").as("pp")), Seq("p"), "left")
              .select(col("x"), coalesce(col("pp"), col("p")).as("p"),
                (col("pp").isNotNull && col("pp") =!= col("p")).as("chg")),
            count(when(col("chg"), lit(1))))
          m = mChg
          ptr = nxt.select(col("x"), col("p"))
        }
        lbl = graft.core.Prof.time("fc/relabel") {
          lbl.join(ptr.select(col("x").as("lbl"), col("p").as("nl")),
              Seq("lbl"), "left")
            .select(col("vtx"), coalesce(col("nl"), col("lbl")).as("lbl"))
            .localCheckpoint()
        }
      }
    }
    (lbl.select(col("vtx"), col("lbl")), forest)
  }

  /** [[mergeGroups]] variant for forest maintenance: pairs carry a
    * representative edge, are processed in sorted (a, b) order
    * (deterministic), and the pairs whose union ACTUALLY merged two
    * groups return their representatives — exactly the new tree edges
    * (old forests span the old groups; one representative per merging
    * pair spans the union).
    */
  private[analytics] def mergeGroupsMarked(
      pairs: Seq[((Long, Long), (Long, Long))])
      : (Map[Long, Long], Seq[(Long, Long)]) = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    val tree = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    pairs.sortBy(_._1).foreach { case ((a, b), rep) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb); tree += rep }
    }
    val mapping = pairs.flatMap(p => Seq(p._1._1, p._1._2)).distinct
      .map(k => k -> find(k)).filter { case (k, r) => k != r }.toMap
    (mapping, tree.toSeq)
  }

  /** Maintained connected components under CDC with a spanning-forest CUT
    * for deletions (the r11 verdict's top item). State: the same three
    * sinks as [[gph_cdc_components_with_deletes]] (labels vtx→lbl,
    * postings (lbl, vtx), live edges) plus a spanning FOREST of the live
    * graph — a connectivity certificate. The cut: a deleted edge NOT in
    * the forest provably cannot split its component (every forest edge is
    * still live, so the forest still spans), so a non-tree deletion batch
    * is edge-removal only — no rebuild, counted in `nSkipped`. Only a
    * batch whose deletions hit tree edges pays the scoped rebuild —
    * ONE [[hookForest]] loop yields both the post-delete labels and
    * the re-derived scoped certificate ([[boruvkaForest]] is the
    * log-round fallback for adversarial-diameter graphs). Inserts
    * extend the forest with one representative edge per MERGING label
    * pair ([[mergeGroupsMarked]]) — old forests span the old components,
    * one representative per merge spans the union. Invariant maintained
    * everywhere: forest ⊆ live edges, spanning per component; it follows
    * that a vertex's last live edge is always a tree edge, so non-tree
    * deletes can never strand a vertex. 100 TB: most deletes in a dense
    * graph are non-tree → FREE (the measured r11 worst case paid the
    * affected component on every deletion batch); forest state is V-sized
    * in a u-bucketed sink but the certificate PROBE is bucket-pruned to
    * the deletion batch's own buckets (readBuckets), so the fast path
    * reads ∝ batch, never ∝ V; the rebuild, when a certificate edge
    * actually dies, stays scoped to the affected components with every
    * state read (labels, postings, edges, forest) bucket-pruned to that
    * scope.
    */
  private[graft] final class ForestCutCC(
      s: org.apache.spark.sql.SparkSession, work: String) {
    import s.implicits._
    // Prefix bucketing makes every maintenance read a POINT read:
    // edges/forest bucket on u (probe "edges of this vertex set"),
    // postings on lbl (probe "vertices of this component set"). The
    // deletion fast path then costs ∝ batch — a batch-sized probe of the
    // certificate — not a V-/E-sized scan per batch (r12 verdict #3).
    val labels = new graft.sinks.SnapshotSink(s, s"$work/lbl", Seq("vtx"))
    val postings = new graft.sinks.SnapshotSink(s, s"$work/post", Seq("lbl", "vtx"),
      bucketBy = Seq("lbl"))
    val edgeSink = new graft.sinks.SnapshotSink(s, s"$work/edges", Seq("u", "v"),
      bucketBy = Seq("u"))
    val forest = new graft.sinks.SnapshotSink(s, s"$work/forest", Seq("u", "v"),
      bucketBy = Seq("u"))
    var nSkipped = 0L
    var nRebuilds = 0L

    def init(base0: DataFrame): Unit = graft.core.Prof.time("forestcut/init") {
      val base = base0.localCheckpoint()
      // the E-sized edge-sink write is independent of the certificate
      // build (both consume the checkpointed base): run them concurrently
      // so the write back-fills hookForest's small-job tail, then commit
      // the three independent state sinks concurrently too (per-path sink
      // locks; no task pair touches the same sink)
      var l0: DataFrame = null
      var f0: DataFrame = null
      graft.core.Par.run(
        () => graft.core.Prof.time("fc/initmerge") {
          edgeSink.merge(base
            .withColumn("op", lit(graft.core.ChangeLog.Insert)).withColumn("seq", lit(0L)))
        },
        () => {
          // one loop yields labels AND the certificate (hookForest) —
          // the forest costs a parent column, not a second graph pass
          val (l0raw, f0raw) = graft.core.Prof.time("fc/inithook") { hookForest(base, canonical = true) }
          l0 = l0raw.localCheckpoint()
          f0 = f0raw.localCheckpoint()
        })
      graft.core.Prof.time("fc/initmerge") {
        graft.core.Par.run(
          () => labels.merge(l0
            .withColumn("op", lit(graft.core.ChangeLog.Insert)).withColumn("seq", lit(0L))),
          () => postings.merge(l0.select(col("lbl"), col("vtx"))
            .withColumn("op", lit(graft.core.ChangeLog.Insert)).withColumn("seq", lit(0L))),
          () => forest.merge(f0
            .withColumn("op", lit(graft.core.ChangeLog.Insert)).withColumn("seq", lit(0L))))
      }
    }

    /** Incremental union-find insert step + forest extension. */
    def insert(b: Long, delta0: DataFrame): Unit = graft.core.Prof.time("forestcut/insert") {
      val delta = delta0.localCheckpoint()
      edgeSink.merge(delta
        .withColumn("op", lit(graft.core.ChangeLog.Insert)).withColumn("seq", lit(b)))
      // labels of the delta's endpoints only — a batch-sized point read
      // whose bucket ids ride the endpoint checkpoint job (Fused)
      val (dv, dvBuckets) = graft.core.Fused.checkpointIntSet(
        delta.select(explode(array(col("u"), col("v"))).as("vtx")).distinct(),
        labels.bucketIdExpr())
      val lab = labels.readBucketIds(dvBuckets).join(dv, Seq("vtx"), "left_semi")
        .select(col("vtx"), col("lbl"))
      // one representative (min) edge per distinct crossing label pair —
      // the tree-edge candidates; which of them BECOME tree edges is the
      // driver union-find's merge record
      val lp = delta
        .join(lab.select(col("vtx").as("u"), col("lbl").as("lu0")), Seq("u"), "left")
        .join(lab.select(col("vtx").as("v"), col("lbl").as("lv0")), Seq("v"), "left")
        .select(coalesce(col("lu0"), col("u")).as("lu"),
          coalesce(col("lv0"), col("v")).as("lv"), col("u"), col("v"))
        .filter(col("lu") =!= col("lv"))
        .select(least(col("lu"), col("lv")).as("la"),
          greatest(col("lu"), col("lv")).as("lb"), col("u"), col("v"))
        .groupBy(col("la"), col("lb"))
        .agg(min(struct(col("u"), col("v"))).as("rep"))
      val pairRows = graft.core.Bounded.collect(lp, 1 << 20,
        "gph_cdc_forest_cut_components/label-pairs",
        "shard the edge delta into smaller micro-batches, or rebuild " +
          "distributed via gph_largestar_smallstar_cc")
        .map(r => ((r.getLong(0), r.getLong(1)),
          (r.getStruct(2).getLong(0), r.getStruct(2).getLong(1)))).toSeq
      val (mapping, treeEdges) = mergeGroupsMarked(pairRows)
      val newV = dv.join(lab, Seq("vtx"), "left_anti")
      val mdf = broadcast(mapping.toSeq.toDF("old_lbl", "new_lbl"))
      // postings of the merging labels only (bucketed on lbl): the moved
      // set is ∝ the merging components. The merge mapping is a driver
      // value — its bucket ids are driver arithmetic (bucketIdOf), not a
      // projection job over a driver-created frame
      val moved = postings.readBucketIds(
          mapping.keys.map(k => postings.bucketIdOf(k)).toSet)
        .select(col("lbl"), col("vtx"))
        .join(mdf, col("lbl") === col("old_lbl")).localCheckpoint()
      val newRows = newV
        .join(mdf, col("vtx") === col("old_lbl"), "left")
        .select(col("vtx"), coalesce(col("new_lbl"), col("vtx")).as("lbl"))
        .localCheckpoint()
      // three independent sinks commit concurrently (per-path locks)
      graft.core.Par.run(
        () => labels.merge(moved.select(col("vtx"), col("new_lbl").as("lbl"))
          .withColumn("op", lit(graft.core.ChangeLog.Update))
          .unionByName(newRows.withColumn("op", lit(graft.core.ChangeLog.Insert)))
          .withColumn("seq", lit(b))),
        () => postings.merge(moved.select(col("lbl"), col("vtx"))
          .withColumn("op", lit(graft.core.ChangeLog.Delete))
          .unionByName(moved.select(col("new_lbl").as("lbl"), col("vtx"))
            .withColumn("op", lit(graft.core.ChangeLog.Insert)))
          .unionByName(newRows.select(col("lbl"), col("vtx"))
            .withColumn("op", lit(graft.core.ChangeLog.Insert)))
          .withColumn("seq", lit(b))),
        () => forest.merge(treeEdges.toDF("u", "v")
          .withColumn("op", lit(graft.core.ChangeLog.Insert)).withColumn("seq", lit(b))))
    }

    /** Deletion batch. Returns true iff the scoped rebuild fired — i.e.
      * at least one deleted edge was a certificate (tree) edge.
      */
    def delete(b: Long, dels0: DataFrame): Boolean = graft.core.Prof.time("forestcut/delete") {
      // the deleted edges' u-bucket ids (the certificate probe's read
      // set — forest and edgeSink share the u-bucket layout) ride the
      // batch checkpoint job
      val (dels, delBuckets) = graft.core.Fused.checkpointIntSet(
        dels0, forest.bucketIdExpr(col("u")))
      // certificate probe ∝ batch: only the deleted edges' u-buckets of
      // the forest are read (the sink buckets on u for exactly this) —
      // the fast path never scans V-sized certificate state
      // the certificate probe (forest sink) and the edge-delete commit
      // (edge sink) are independent — run them concurrently; everything
      // downstream (scope reads post-delete live edges) waits on both
      var treeDel: DataFrame = null
      var nTreeDel = 0L
      graft.core.Par.run(
        () => graft.core.Prof.time("fc/probe") {
          val fNow = forest.readBucketIds(delBuckets)
            .select(col("u"), col("v"))
          // emptiness check fused into the checkpoint job (the former
          // isEmpty was a second job per deletion batch)
          val (td, n) = graft.core.Fused.checkpointCount(
            dels.join(fNow, Seq("u", "v"), "left_semi"), count(lit(1)))
          treeDel = td; nTreeDel = n
        },
        () => graft.core.Prof.time("fc/edgemerge") {
          edgeSink.merge(dels
            .withColumn("op", lit(graft.core.ChangeLog.Delete)).withColumn("seq", lit(b)))
        })
      if (nTreeDel == 0L) {
        // the cut: every deleted edge is non-tree — the live forest still
        // spans every touched component, so no label can change
        nSkipped += 1
        false
      } else {
        nRebuilds += 1
        // the rebuild is scoped to the AFFECTED components; every state
        // read below is bucket-pruned to that scope (endpoints → labels,
        // labels → postings, scope vertices → edges/forest) — the
        // rebuild's reads are ∝ affected components, not V/E
        var scopeIds: Set[Int] = Set.empty
        val (scopeV, scopedE) = graft.core.Prof.time("fc/scope") {
          // every bucket-id projection in this scope walk rides the
          // checkpoint job of the frame it projects (Fused observed
          // collect_set) — 7 driver-blocking jobs (3 checkpoints + 3
          // bucket-id collects + a scopeU copy) fused down to 3
          val (endp, endpBuckets) = graft.core.Fused.checkpointIntSet(
            treeDel.select(explode(array(col("u"), col("v"))).as("vtx"))
              .distinct(),
            labels.bucketIdExpr())
          val lab = labels.readBucketIds(endpBuckets).select(col("vtx"), col("lbl"))
          val (affected, affBuckets) = graft.core.Fused.checkpointIntSet(
            endp.join(lab, Seq("vtx")).select(col("lbl")).distinct(),
            postings.bucketIdExpr())
          // edges and forest share the u-bucket layout: the scope's
          // u-bucket ids (observed on sv's checkpoint) serve this read
          // AND the forest rewrite's oldF read below
          val (sv, svBuckets) = graft.core.Fused.checkpointIntSet(
            postings.readBucketIds(affBuckets)
              .join(broadcast(affected), Seq("lbl"))
              .select(col("vtx"), col("lbl").as("old_lbl")),
            edgeSink.bucketIdExpr(col("vtx")))
          scopeIds = svBuckets
          val se = edgeSink.readBucketIds(scopeIds) // post-delete live edges
            .join(sv.select(col("vtx").as("u")), Seq("u"), "left_semi")
            .select(col("u"), col("v"))
          (sv, se)
        }
        val scopeU = scopeV.select(col("vtx").as("u"))
        // one loop: post-delete labels AND the re-derived scoped forest
        val (rebuiltRaw, newFRaw) = graft.core.Prof.time("fc/rebuild") {
          hookForest(scopedE, canonical = true)
        }
        val rebuilt = rebuiltRaw.localCheckpoint()
        val changedL = scopeV
          .join(rebuilt, Seq("vtx"), "left")
          .select(col("vtx"), col("old_lbl"),
            coalesce(col("lbl"), col("vtx")).as("lbl")) // edgeless -> singleton
          .filter(col("lbl") =!= col("old_lbl"))
          .localCheckpoint()
        graft.core.Prof.time("fc/statemerge") {
          // three independent sinks commit concurrently (per-path locks;
          // the forest task reads only the forest sink)
          graft.core.Par.run(
            () => labels.merge(changedL.select(col("vtx"), col("lbl"))
              .withColumn("op", lit(graft.core.ChangeLog.Update)).withColumn("seq", lit(b))),
            () => postings.merge(changedL.select(col("old_lbl").as("lbl"), col("vtx"))
              .withColumn("op", lit(graft.core.ChangeLog.Delete))
              .unionByName(changedL.select(col("lbl"), col("vtx"))
                .withColumn("op", lit(graft.core.ChangeLog.Insert)))
              .withColumn("seq", lit(b))),
            () => {
              // the scoped forest rewrite: forest edges have both endpoints
              // in scope (components are closed, a tree edge's endpoints
              // share one); only CHANGED rows rewrite so batch pks stay
              // disjoint
              val newF = newFRaw.localCheckpoint()
              val oldF = forest.readBucketIds(scopeIds) // same layout as edges
                .join(scopeU, Seq("u"), "left_semi")
                .select(col("u"), col("v")).localCheckpoint()
              forest.merge(oldF.join(newF, Seq("u", "v"), "left_anti")
                .withColumn("op", lit(graft.core.ChangeLog.Delete))
                .unionByName(newF.join(oldF, Seq("u", "v"), "left_anti")
                  .withColumn("op", lit(graft.core.ChangeLog.Insert)))
                .withColumn("seq", lit(b)))
            })
        }
        true
      }
    }

    def components: DataFrame =
      labels.read().select(col("vtx").as("part_id"), col("lbl").as("component"))
  }

  def all: Seq[CatalogQuery] = Seq(

    // ---- event-sequence Markov transitions ------------------------------
    // The behavioral-model input: per-user event sequences → first-order
    // transition counts and probabilities (scaled-integer, exact across
    // engines). The lag runs inside (user) partitions — corpus-sized
    // shuffle on user_id, then the transition matrix is |types|² rows
    // (dimension-sized). 100 TB: one shuffle, tiny result — the shape
    // holds at any event volume.
    CatalogQuery("evt_markov_transitions", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val tr = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
      val cnt = tr.groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      val wp = Window.partitionBy(col("prev_type"))
      cnt.withColumn("total_from_prev", sum(col("n")).over(wp))
        .withColumn("p_e6", expr("n * 1000000 div total_from_prev"))
        .select(col("prev_type"), col("next_type"), col("n"),
          col("total_from_prev"), col("p_e6"))
    }, Some(
      """WITH tr AS (
        |  SELECT event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_type
        |  FROM events),
        |cnt AS (
        |  SELECT prev_type, event_type AS next_type, count(*)::BIGINT AS n
        |  FROM tr WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS total_from_prev,
        |  CAST(n * 1000000 // sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS p_e6
        |FROM cnt""".stripMargin)),

    // ---- degree-ordered triangle counting -------------------------------
    // Graph-structure profiling over the parts-bought-together graph
    // (edge = two parts in the same order, both with quantity ≥ 25).
    // The compact-forward algorithm: orient every edge from the
    // lower-(degree, id) endpoint to the higher, so each triangle is
    // counted exactly once as wedge a→b→c closed by a→c, and the wedge
    // stage is bounded by Σ out-degree² — the orientation is WHY this
    // survives skew at 100 TB (a hot vertex's edges all point outward
    // from its low-degree neighbors; its own out-degree stays ~√m).
    CatalogQuery("gph_triangle_count", (s, d) => {
      val li = Tables.lineitem(s, d).filter(col("l_quantity") >= 25)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val e = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
      val deg = e.select(col("u").as("x")).unionByName(e.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("dx"))
      val ed = e
        .join(deg.select(col("x").as("u"), col("dx").as("du")), "u")
        .join(deg.select(col("x").as("v"), col("dx").as("dv")), "v")
        .select(
          when(col("du") < col("dv") ||
               (col("du") === col("dv") && col("u") < col("v")), col("u"))
            .otherwise(col("v")).as("s"),
          when(col("du") < col("dv") ||
               (col("du") === col("dv") && col("u") < col("v")), col("v"))
            .otherwise(col("u")).as("t"))
      val wedges = ed.as("e1").join(ed.as("e2"), col("e1.t") === col("e2.s"))
        .select(col("e1.s").as("a"), col("e1.t").as("b"), col("e2.t").as("c"))
      // wedge+closure counts in ONE pass over the wedge join: (a,c) is
      // unique in the oriented edge set, so a left join cannot fan out —
      // counting wedges and closed wedges separately would run the
      // Σ out-deg²-sized join twice
      val closed = wedges.join(
        ed.as("e3").select(col("e3.s").as("a"), col("e3.t").as("c"),
          lit(1L).as("hit")),
        Seq("a", "c"), "left")
        .agg(count(lit(1)).as("n_wedges"),
          sum(coalesce(col("hit"), lit(0L))).as("n_triangles"))
      ed.agg(count(lit(1)).as("n_edges")).crossJoin(closed)
        .select(col("n_edges"), col("n_wedges"), col("n_triangles"))
    }, Some(
      """WITH li AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_quantity >= 25),
        |e AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS (
        |  SELECT x, count(*)::BIGINT AS dx FROM (
        |    SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e) t GROUP BY 1),
        |ed AS (
        |  SELECT CASE WHEN (du.dx, e.u) < (dv.dx, e.v) THEN e.u ELSE e.v END AS s,
        |         CASE WHEN (du.dx, e.u) < (dv.dx, e.v) THEN e.v ELSE e.u END AS t
        |  FROM e JOIN deg du ON e.u = du.x JOIN deg dv ON e.v = dv.x),
        |wedges AS (
        |  SELECT e1.s AS a, e1.t AS b, e2.t AS c
        |  FROM ed e1 JOIN ed e2 ON e1.t = e2.s),
        |tri AS (
        |  SELECT w.a, w.b, w.c FROM wedges w
        |  WHERE EXISTS (SELECT 1 FROM ed e3 WHERE e3.s = w.a AND e3.t = w.c))
        |SELECT (SELECT count(*)::BIGINT FROM ed) AS n_edges,
        |  (SELECT count(*)::BIGINT FROM wedges) AS n_wedges,
        |  (SELECT count(*)::BIGINT FROM tri) AS n_triangles""".stripMargin),
      bench = true),

    // ---- per-vertex triangle counts maintained under edge CDC ------------
    // The graph twin of cdc_ivm_maintained_aggs: an edge change stream
    // (batch 0 = the co-purchase base graph; batches 1-3 remove current
    // edges by a hash rule and insert genuinely-new edges from the
    // 20-24-quantity band) maintains per-VERTEX triangle counts without
    // ever recounting the graph. Exactness under batch semantics is the
    // subtle part: a triangle destroyed by k removed edges (or created
    // by k added edges) must count ONCE, so each delta triangle is
    // attributed to its lexicographically SMALLEST removed/added edge
    // (attributedClosures: common-neighbor join with lex-order exclusion
    // legs — removals evaluated against the pre-batch graph, additions
    // against the post-removal graph, the sequential composition).
    // Per-batch cost = Σ_{e∈ΔE} (deg(u)+deg(v)) key-partitioned joins +
    // count updates for triangle-incident vertices only; the initial
    // build is the generic add-path with an empty context graph. The
    // oracle replays the 3-batch set algebra in SQL and recounts the
    // FINAL graph's triangles from scratch — convergence of maintained
    // state to ground truth is hash-gated, not asserted. 100 TB: edge
    // and count state live in bucketed sinks; no stage touches more
    // than batch × degree rows.
    CatalogQuery("gph_cdc_maintained_triangles", (s, d) => {
      import s.implicits._
      val work = Q.scratch("tricdc")
      val edges = new graft.sinks.SnapshotSink(s, s"$work/edges", Seq("u", "v"))
      val counts = new graft.sinks.SnapshotSink(s, s"$work/tric", Seq("vtx"))
      def pairs(qlo: Int, qhi: Int): DataFrame = {
        val li = Tables.lineitem(s, d)
          .filter(col("l_quantity") >= qlo && col("l_quantity") < qhi)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
      }
      val cand = pairs(20, 25)
      val h17 = (col("u") * 31 + col("v")) % 17
      val h3 = (col("u") * 31 + col("v")) % 3
      (0 to 3).foreach { b =>
        val gOld =
          if (edges.exists) edges.read().select(col("u"), col("v"))
          else Seq.empty[(Long, Long)].toDF("u", "v")
        val rem = if (b == 0) gOld.limit(0) else gOld.filter(h17 === b)
        val gMid = if (b == 0) gOld else gOld.filter(h17 =!= b)
        val add =
          if (b == 0) pairs(25, 1000)
          else cand.filter(h3 === b - 1).join(gMid, Seq("u", "v"), "left_anti")
        val gNew = gMid.unionByName(add)
        def undirected(g: DataFrame): DataFrame =
          g.select(col("u").as("x"), col("v").as("y"))
            .unionByName(g.select(col("v").as("x"), col("u").as("y")))
        val destroyed = attributedClosures(rem, undirected(gOld))
        val created = attributedClosures(add, undirected(gNew))
        val dlt = created.select(explode(array(col("u"), col("v"), col("w")))
            .as("vtx")).withColumn("dd", lit(1L))
          .unionByName(destroyed.select(explode(array(col("u"), col("v"),
            col("w"))).as("vtx")).withColumn("dd", lit(-1L)))
          .groupBy(col("vtx")).agg(sum(col("dd")).as("dd"))
          .filter(col("dd") =!= 0L)
        val cur =
          if (counts.exists) counts.read().select(col("vtx"), col("n_tri"))
          else Seq.empty[(Long, Long)].toDF("vtx", "n_tri")
        val upd = dlt.join(cur, Seq("vtx"), "left")
          .withColumn("nn", coalesce(col("n_tri"), lit(0L)) + col("dd"))
        val cbatch = upd
          .select(col("vtx"),
            when(col("nn") > 0L, col("nn")).as("n_tri"),
            when(col("nn") > 0L, lit(graft.core.ChangeLog.Update))
              .otherwise(lit(graft.core.ChangeLog.Delete)).as("op"),
            lit(b.toLong).as("seq"))
        val ebatch = add
          .withColumn("op", lit(graft.core.ChangeLog.Insert))
          .unionByName(rem.withColumn("op", lit(graft.core.ChangeLog.Delete)))
          .withColumn("seq", lit(b.toLong))
        counts.merge(cbatch)
        edges.merge(ebatch)
      }
      counts.read().select(col("vtx"), col("n_tri"))
    }, Some(
      """WITH li25 AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_quantity >= 25),
        |base AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li25 a JOIN li25 b ON a.ok = b.ok AND a.pk < b.pk),
        |li20 AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_quantity >= 20 AND l_quantity < 25),
        |cand AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li20 a JOIN li20 b ON a.ok = b.ok AND a.pk < b.pk),
        |g1 AS (
        |  SELECT u, v FROM base WHERE (u * 31 + v) % 17 <> 1
        |  UNION SELECT u, v FROM cand WHERE (u * 31 + v) % 3 = 0),
        |g2 AS (
        |  SELECT u, v FROM g1 WHERE (u * 31 + v) % 17 <> 2
        |  UNION SELECT u, v FROM cand WHERE (u * 31 + v) % 3 = 1),
        |g3 AS (
        |  SELECT u, v FROM g2 WHERE (u * 31 + v) % 17 <> 3
        |  UNION SELECT u, v FROM cand WHERE (u * 31 + v) % 3 = 2),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM g3 e1 JOIN g3 e2 ON e2.u = e1.v
        |  JOIN g3 e3 ON e3.u = e1.u AND e3.v = e2.v),
        |verts AS (
        |  SELECT a AS vtx FROM tri UNION ALL SELECT b FROM tri
        |  UNION ALL SELECT c FROM tri)
        |SELECT vtx, count(*)::BIGINT AS n_tri FROM verts GROUP BY 1""".stripMargin)),

    // ---- connected components maintained under insert-only edge CDC ------
    // The union-find discipline made relational: per-vertex component
    // labels (label = component-min id, the canonical choice) maintained
    // as edges ARRIVE, never re-running CC on the whole graph. Batch 0 =
    // the sparse qty≥47 co-purchase graph, min-label-propagated to an
    // EXPLICIT fixpoint (a changed-count loop, not a guessed round
    // count — per round one join + one agg, lineage truncated, the
    // PageRank discipline); batches 1-3 widen the quantity threshold
    // (47→45→43→41), each delta = cumulative-pairs anti-join the prior
    // cumulative, so cross-band pairs are never lost. Maintenance per
    // batch: resolve endpoint labels (new vertices default to self),
    // keep pairs with lu ≠ lv, collapse to distinct (min, max) label
    // pairs — a batch-bounded set (≤|ΔE|, commented at the collect) —
    // union-find them driver-side into old→new(=group-min) mappings,
    // then rewrite ONLY the vertices of merged components via point
    // reads on a (lbl, vtx) postings sink bucketed by label (the
    // cdc_ivm_maintained_join secondary-index discipline; the group-min
    // component's members already carry the surviving label and are
    // never rewritten). Insert-only is structural: edge DELETIONS can
    // split a component and force recomputing the affected component —
    // the rebuild lever is REAL in gph_cdc_components_with_deletes
    // (below), which detects deletion batches and re-runs the star
    // machinery scoped to affected components; this stream stays
    // append-only (the common case). The
    // oracle computes ground-truth components of the FINAL graph from
    // scratch (recursive min-label fixpoint in SQL) — maintained-state
    // convergence is hash-gated, not asserted.
    CatalogQuery("gph_cdc_maintained_components", (s, d) => {
      import s.implicits._
      val work = Q.scratch("cccdc")
      val labels = new graft.sinks.SnapshotSink(s, s"$work/lbl", Seq("vtx"))
      val postings = new graft.sinks.SnapshotSink(s, s"$work/post",
        Seq("lbl", "vtx"), bucketBy = Seq("lbl"))
      def cpairs(t: Int): DataFrame = {
        val li = Tables.lineitem(s, d).filter(col("l_quantity") >= t)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
      }
      // batch 0: initial build — min-label to fixpoint on the base graph
      val base = cpairs(47)
      val ue = base.select(col("u").as("src"), col("v").as("dst"))
        .unionByName(base.select(col("v").as("src"), col("u").as("dst")))
        .persist()
      var state = ue.select(col("src").as("vtx")).distinct()
        .withColumn("lbl", col("vtx")).localCheckpoint()
      var changed = 1L
      while (changed > 0) {
        val nb = ue.join(state, ue("src") === state("vtx"))
          .groupBy(col("dst")).agg(min(col("lbl")).as("m"))
        val (next, nChanged) = graft.core.Fused.checkpointCount(
          state.join(nb, state("vtx") === nb("dst"), "left")
            .select(col("vtx"), col("lbl").as("lbl_old"),
              least(col("lbl"), coalesce(col("m"), col("lbl"))).as("lbl")),
          count(when(col("lbl") =!= col("lbl_old"), lit(1))))
        changed = nChanged
        state = next.select(col("vtx"), col("lbl"))
      }
      ue.unpersist(false)
      labels.merge(state
        .withColumn("op", lit(graft.core.ChangeLog.Insert)).withColumn("seq", lit(0L)))
      postings.merge(state.select(col("lbl"), col("vtx"))
        .withColumn("op", lit(graft.core.ChangeLog.Insert)).withColumn("seq", lit(0L)))
      val thresholds = Seq(47, 45, 43, 41)
      (1 to 3).foreach { b =>
        val delta = cpairs(thresholds(b))
          .join(cpairs(thresholds(b - 1)), Seq("u", "v"), "left_anti")
          .localCheckpoint()
        // endpoint labels via a vtx-bucket point read (the anti-join
        // below is complete over the restricted read — any existing row
        // for these keys lives in their buckets)
        val dv = delta.select(explode(array(col("u"), col("v"))).as("vtx"))
          .distinct().localCheckpoint()
        val lab = labels.readBuckets(dv).join(dv, Seq("vtx"), "left_semi")
          .select(col("vtx"), col("lbl"))
        val lpairs = delta
          .join(lab.select(col("vtx").as("u"), col("lbl").as("lu0")), Seq("u"), "left")
          .join(lab.select(col("vtx").as("v"), col("lbl").as("lv0")), Seq("v"), "left")
          .select(coalesce(col("lu0"), col("u")).as("lu"),
            coalesce(col("lv0"), col("v")).as("lv"))
          .filter(col("lu") =!= col("lv"))
          .select(least(col("lu"), col("lv")).as("la"),
            greatest(col("lu"), col("lv")).as("lb")).distinct()
        // bounded collect: distinct label pairs touched by THIS batch,
        // ≤ |ΔE| rows — the merge-group graph production union-finds on
        // the driver too (GraphX IncrementalCC does the same); the bound
        // is ENFORCED, not just commented
        val mapping = mergeGroups(
          graft.core.Bounded.collect(lpairs, 1 << 20,
            "gph_cdc_maintained_components/label-pairs",
            "shard the edge delta into smaller micro-batches, or rebuild " +
              "distributed via gph_largestar_smallstar_cc")
            .toSeq.map(r => (r.getLong(0), r.getLong(1))))
        val newV = dv.join(lab, Seq("vtx"), "left_anti")
        val mdf = broadcast(
          mapping.toSeq.toDF("old_lbl", "new_lbl"))
        // merged components' members via lbl-bucket point reads of the
        // merged labels only; the group-min component keeps its label and
        // is never touched. Both frames are batch-bounded and
        // checkpointed BEFORE the merges: their lazy plans reference sink
        // generations the first merge GCs.
        val moved = postings.readBuckets(mapping.keys.toSeq.toDF("lbl"))
          .select(col("lbl"), col("vtx"))
          .join(mdf, col("lbl") === col("old_lbl")).localCheckpoint()
        val newRows = newV
          .join(mdf, col("vtx") === col("old_lbl"), "left")
          .select(col("vtx"), coalesce(col("new_lbl"), col("vtx")).as("lbl"))
          .localCheckpoint()
        labels.merge(moved.select(col("vtx"), col("new_lbl").as("lbl"))
          .withColumn("op", lit(graft.core.ChangeLog.Update))
          .unionByName(newRows.withColumn("op", lit(graft.core.ChangeLog.Insert)))
          .withColumn("seq", lit(b.toLong)))
        postings.merge(moved.select(col("lbl"), col("vtx"))
          .withColumn("op", lit(graft.core.ChangeLog.Delete))
          .unionByName(moved.select(col("new_lbl").as("lbl"), col("vtx"))
            .withColumn("op", lit(graft.core.ChangeLog.Insert)))
          .unionByName(newRows.select(col("lbl"), col("vtx"))
            .withColumn("op", lit(graft.core.ChangeLog.Insert)))
          .withColumn("seq", lit(b.toLong)))
      }
      labels.read().select(col("vtx").as("part_id"), col("lbl").as("component"))
    }, Some(
      """WITH RECURSIVE li AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_quantity >= 41),
        |e AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |ue AS (SELECT u AS src, v AS dst FROM e
        |       UNION ALL SELECT v AS src, u AS dst FROM e),
        |lp AS (
        |  SELECT src AS vtx, src AS lbl FROM ue
        |  UNION
        |  SELECT e2.dst AS vtx, l.lbl AS lbl
        |  FROM lp l JOIN ue e2 ON e2.src = l.vtx
        |  WHERE l.lbl < e2.dst)
        |SELECT vtx AS part_id, CAST(min(lbl) AS BIGINT) AS component
        |FROM lp GROUP BY 1""".stripMargin)),

    // ---- maintained components under edge DELETES (scoped star rebuild) --
    // The deletion story gph_cdc_maintained_components declares out of
    // scope, made real: the change stream carries edge tombstones, and a
    // deletion-bearing batch triggers a rebuild — but scoped to the
    // AFFECTED components only, never the whole graph. Detection: the
    // deleted edges' endpoint labels name the affected components (both
    // endpoints share one — they shared an edge). Scope: those
    // components' members via label point reads on the (lbl, vtx)
    // postings sink; their post-delete edges via the maintained edge
    // sink (an edge incident to a scoped vertex cannot leave the scope —
    // components are closed under adjacency). Rebuild: the
    // large-star/small-star machinery ([[starFixpoint]], shared with
    // gph_largestar_smallstar_cc) on the scoped subgraph — O(log²)
    // rounds in the size of the AFFECTED components; vertices stranded
    // edgeless become self-labeled singletons. Only vertices whose label
    // CHANGED rewrite (also what keeps delete/insert pks disjoint within
    // the batch). Insert batches before and after use the incremental
    // union-find step, so the entry exercises split-then-merge: b0 base
    // (qty≥45), b1 inserts (→43), b2 deletes ((u·31+v)%3=0 — measured to
    // split real components), b3 inserts (→41, reconnecting some). The
    // oracle recomputes ground truth of the FINAL graph including splits
    // (recursive min-label over surviving edges, isolated vertices
    // self-labeled) — post-split correctness is hash-gated. 100 TB: cost
    // scales with affected-component size, the irreducible unit (a split
    // can move any member's label); unaffected components are untouched.
    // Every per-batch read is a bucket-pruned point read (the ForestCutCC
    // prefix-bucketing discipline retrofitted, r13 verdict #3): labels by
    // the batch's endpoint vertices, postings by the moved/affected
    // labels, edges by the scoped vertices — no state read is ever
    // O(graph) per batch.
    CatalogQuery("gph_cdc_components_with_deletes", (s, d) => {
      import s.implicits._
      val work = Q.scratch("ccdel")
      val labels = new graft.sinks.SnapshotSink(s, s"$work/lbl", Seq("vtx"))
      val postings = new graft.sinks.SnapshotSink(s, s"$work/post",
        Seq("lbl", "vtx"), bucketBy = Seq("lbl"))
      val edgeSink = new graft.sinks.SnapshotSink(s, s"$work/edges",
        Seq("u", "v"), bucketBy = Seq("u"))
      def cpairs(t: Int): DataFrame = {
        val li = Tables.lineitem(s, d).filter(col("l_quantity") >= t)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
      }
      // batch 0: initial build through the same star machinery
      val base = cpairs(45).localCheckpoint()
      edgeSink.merge(base
        .withColumn("op", lit(graft.core.ChangeLog.Insert)).withColumn("seq", lit(0L)))
      val l0 = starFixpoint(base).localCheckpoint()
      labels.merge(l0
        .withColumn("op", lit(graft.core.ChangeLog.Insert)).withColumn("seq", lit(0L)))
      postings.merge(l0.select(col("lbl"), col("vtx"))
        .withColumn("op", lit(graft.core.ChangeLog.Insert)).withColumn("seq", lit(0L)))
      // insert batches: the incremental union-find step
      def insertBatch(b: Long, delta0: DataFrame): Unit = {
        val delta = delta0.localCheckpoint()
        edgeSink.merge(delta
          .withColumn("op", lit(graft.core.ChangeLog.Insert)).withColumn("seq", lit(b)))
        // labels of the delta's endpoints only — a vtx-bucket point read,
        // not an O(graph) scan (the anti-join below is complete over the
        // restricted read: any existing row for these keys is in their
        // buckets by construction)
        val dv = delta.select(explode(array(col("u"), col("v"))).as("vtx"))
          .distinct().localCheckpoint()
        val lab = labels.readBuckets(dv).join(dv, Seq("vtx"), "left_semi")
          .select(col("vtx"), col("lbl"))
        val lpairs = delta
          .join(lab.select(col("vtx").as("u"), col("lbl").as("lu0")), Seq("u"), "left")
          .join(lab.select(col("vtx").as("v"), col("lbl").as("lv0")), Seq("v"), "left")
          .select(coalesce(col("lu0"), col("u")).as("lu"),
            coalesce(col("lv0"), col("v")).as("lv"))
          .filter(col("lu") =!= col("lv"))
          .select(least(col("lu"), col("lv")).as("la"),
            greatest(col("lu"), col("lv")).as("lb")).distinct()
        val mapping = mergeGroups(
          graft.core.Bounded.collect(lpairs, 1 << 20,
            "gph_cdc_components_with_deletes/label-pairs",
            "shard the edge delta into smaller micro-batches, or rebuild " +
              "distributed via gph_largestar_smallstar_cc")
            .toSeq.map(r => (r.getLong(0), r.getLong(1))))
        val newV = dv.join(lab, Seq("vtx"), "left_anti")
        val mdf = broadcast(mapping.toSeq.toDF("old_lbl", "new_lbl"))
        // members of the merged labels only — an lbl-bucket point read
        val moved = postings.readBuckets(mapping.keys.toSeq.toDF("lbl"))
          .select(col("lbl"), col("vtx"))
          .join(mdf, col("lbl") === col("old_lbl")).localCheckpoint()
        val newRows = newV
          .join(mdf, col("vtx") === col("old_lbl"), "left")
          .select(col("vtx"), coalesce(col("new_lbl"), col("vtx")).as("lbl"))
          .localCheckpoint()
        labels.merge(moved.select(col("vtx"), col("new_lbl").as("lbl"))
          .withColumn("op", lit(graft.core.ChangeLog.Update))
          .unionByName(newRows.withColumn("op", lit(graft.core.ChangeLog.Insert)))
          .withColumn("seq", lit(b)))
        postings.merge(moved.select(col("lbl"), col("vtx"))
          .withColumn("op", lit(graft.core.ChangeLog.Delete))
          .unionByName(moved.select(col("new_lbl").as("lbl"), col("vtx"))
            .withColumn("op", lit(graft.core.ChangeLog.Insert)))
          .unionByName(newRows.select(col("lbl"), col("vtx"))
            .withColumn("op", lit(graft.core.ChangeLog.Insert)))
          .withColumn("seq", lit(b)))
      }
      insertBatch(1L, cpairs(43).join(cpairs(45), Seq("u", "v"), "left_anti"))
      // batch 2: edge tombstones — detected, scoped star rebuild
      val dels = cpairs(43).filter(expr("(u * 31 + v) % 3 = 0")).localCheckpoint()
      edgeSink.merge(dels
        .withColumn("op", lit(graft.core.ChangeLog.Delete)).withColumn("seq", lit(2L)))
      // detection + scope via point reads: endpoint labels from the
      // deletion batch's vtx buckets, members from the affected labels'
      // postings buckets, scoped edges from the members' u buckets
      val delV = dels.select(explode(array(col("u"), col("v"))).as("vtx"))
        .distinct().localCheckpoint()
      val lab2 = labels.readBuckets(delV).join(delV, Seq("vtx"), "left_semi")
        .select(col("vtx"), col("lbl"))
      val affected = delV.join(lab2, Seq("vtx"))
        .select(col("lbl")).distinct().localCheckpoint()
      val scopeV = postings.readBuckets(affected)
        .join(broadcast(affected), Seq("lbl"))
        .select(col("vtx"), col("lbl").as("old_lbl")).localCheckpoint()
      val scopedE = edgeSink // post-delete live edges of scoped vertices
        .readBuckets(scopeV.select(col("vtx").as("u")))
        .join(scopeV.select(col("vtx").as("u")), Seq("u"))
        .select(col("u"), col("v"))
      val rebuilt = starFixpoint(scopedE)
      // only CHANGED labels rewrite (keeps batch pks disjoint; the
      // group-min members of an unsplit component are never touched)
      val changedL = scopeV
        .join(rebuilt, Seq("vtx"), "left")
        .select(col("vtx"), col("old_lbl"),
          coalesce(col("lbl"), col("vtx")).as("lbl")) // edgeless -> singleton
        .filter(col("lbl") =!= col("old_lbl"))
        .localCheckpoint()
      labels.merge(changedL.select(col("vtx"), col("lbl"))
        .withColumn("op", lit(graft.core.ChangeLog.Update)).withColumn("seq", lit(2L)))
      postings.merge(changedL.select(col("old_lbl").as("lbl"), col("vtx"))
        .withColumn("op", lit(graft.core.ChangeLog.Delete))
        .unionByName(changedL.select(col("lbl"), col("vtx"))
          .withColumn("op", lit(graft.core.ChangeLog.Insert)))
        .withColumn("seq", lit(2L)))
      // batch 3: inserts continue against post-split state
      insertBatch(3L, cpairs(41).join(cpairs(43), Seq("u", "v"), "left_anti"))
      labels.read().select(col("vtx").as("part_id"), col("lbl").as("component"))
    }, Some(
      """WITH RECURSIVE li43 AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_quantity >= 43),
        |e43 AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li43 a JOIN li43 b ON a.ok = b.ok AND a.pk < b.pk),
        |li41 AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_quantity >= 41),
        |e41 AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li41 a JOIN li41 b ON a.ok = b.ok AND a.pk < b.pk),
        |fin AS (
        |  SELECT u, v FROM e41 t
        |  WHERE NOT ((t.u * 31 + t.v) % 3 = 0 AND EXISTS (
        |    SELECT 1 FROM e43 WHERE e43.u = t.u AND e43.v = t.v))),
        |allv AS (
        |  SELECT DISTINCT u AS vtx FROM e41
        |  UNION SELECT DISTINCT v FROM e41),
        |ue AS (SELECT u AS src, v AS dst FROM fin
        |       UNION ALL SELECT v AS src, u AS dst FROM fin),
        |lp AS (
        |  SELECT src AS vtx, src AS lbl FROM ue
        |  UNION
        |  SELECT e2.dst AS vtx, l.lbl AS lbl
        |  FROM lp l JOIN ue e2 ON e2.src = l.vtx
        |  WHERE l.lbl < e2.dst)
        |SELECT a.vtx AS part_id,
        |  CAST(coalesce(min(l.lbl), a.vtx) AS BIGINT) AS component
        |FROM allv a LEFT JOIN lp l ON l.vtx = a.vtx
        |GROUP BY 1""".stripMargin)),

    // ---- spanning-forest cut: non-tree deletes are FREE -------------------
    // gph_cdc_components_with_deletes pays the scoped star rebuild for
    // EVERY deletion batch; this entry maintains a spanning forest of the
    // live graph alongside the labels ([[ForestCutCC]]) so a deletion
    // batch whose edges all miss the forest provably cannot split any
    // component and is edge-removal only. The same data-defined candidate
    // set as the rebuild-always twin ((u·31+v)%3=0 over the b1 graph)
    // splits into its two classes against the maintained forest and lands
    // as two batches: b2 = the non-tree part (must SKIP — in-entry
    // require), b3 = the tree part (must fire the scoped rebuild and
    // split components — require). The union of the two batches is the
    // twin's exact delete set, so the final graph is data-defined and the
    // oracle recomputes ground-truth components from scratch (recursive
    // min-label over surviving edges; isolated vertices self-labeled) —
    // post-cut correctness is hash-gated, not asserted. 100 TB: dense
    // graphs are mostly non-tree edges, so most deletion batches take the
    // free path; the certificate costs V-sized STATE but each deletion
    // batch probes only its own u-buckets of it (readBuckets), so the
    // fast path's read is batch-sized.
    CatalogQuery("gph_cdc_forest_cut_components", (s, d) => {
      val work = Q.scratch("ccforest")
      val m = new ForestCutCC(s, work)
      def cpairs(t: Int): DataFrame = {
        val li = Tables.lineitem(s, d).filter(col("l_quantity") >= t)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
      }
      m.init(cpairs(45))
      m.insert(1L, cpairs(43).join(cpairs(45), Seq("u", "v"), "left_anti"))
      val cand = cpairs(43).filter(expr("(u * 31 + v) % 3 = 0")).localCheckpoint()
      val fAtDelete = m.forest.readBuckets(cand.select(col("u")))
        .select(col("u"), col("v"))
      val nonTree = cand.join(fAtDelete, Seq("u", "v"), "left_anti").localCheckpoint()
      val treeDels = cand.join(fAtDelete, Seq("u", "v"), "left_semi").localCheckpoint()
      require(nonTree.count() > 0 && treeDels.count() > 0,
        "gph_cdc_forest_cut_components: the planted candidate set must " +
          "carry both edge classes (non-tree skip AND tree-edge split)")
      val fired2 = m.delete(2L, nonTree)
      val fired3 = m.delete(3L, treeDels)
      require(!fired2 && fired3 && m.nSkipped == 1 && m.nRebuilds == 1,
        s"gph_cdc_forest_cut_components: planted classes must take their " +
          s"paths (skipped=${m.nSkipped}, rebuilds=${m.nRebuilds})")
      m.insert(4L, cpairs(41).join(cpairs(43), Seq("u", "v"), "left_anti"))
      m.components
    }, Some(
      """WITH RECURSIVE li43 AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_quantity >= 43),
        |e43 AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li43 a JOIN li43 b ON a.ok = b.ok AND a.pk < b.pk),
        |li41 AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_quantity >= 41),
        |e41 AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li41 a JOIN li41 b ON a.ok = b.ok AND a.pk < b.pk),
        |fin AS (
        |  SELECT u, v FROM e41 t
        |  WHERE NOT ((t.u * 31 + t.v) % 3 = 0 AND EXISTS (
        |    SELECT 1 FROM e43 WHERE e43.u = t.u AND e43.v = t.v))),
        |allv AS (
        |  SELECT DISTINCT u AS vtx FROM e41
        |  UNION SELECT DISTINCT v FROM e41),
        |ue AS (SELECT u AS src, v AS dst FROM fin
        |       UNION ALL SELECT v AS src, u AS dst FROM fin),
        |lp AS (
        |  SELECT src AS vtx, src AS lbl FROM ue
        |  UNION
        |  SELECT e2.dst AS vtx, l.lbl AS lbl
        |  FROM lp l JOIN ue e2 ON e2.src = l.vtx
        |  WHERE l.lbl < e2.dst)
        |SELECT a.vtx AS part_id,
        |  CAST(coalesce(min(l.lbl), a.vtx) AS BIGINT) AS component
        |FROM allv a LEFT JOIN lp l ON l.vtx = a.vtx
        |GROUP BY 1""".stripMargin)),

    // ---- the forest cut's MARGINAL-delete regime, benched ------------------
    // gph_cdc_forest_cut_components' cost is dominated by certificate
    // construction (init + insert); the cut's PRODUCTION claim — a
    // non-tree deletion batch is nearly free — needs its own line. This
    // bounded entry is that claim as a bench headliner: one init, two
    // non-tree deletion batches (must SKIP — in-entry require), one tree
    // batch (must fire the scoped rebuild), so a regression in the
    // certificate probe or the skip path moves a BENCH_rN line.
    // The whole candidate set deletes, so the oracle recomputes final
    // components from scratch (recursive min-label over the surviving
    // graph; isolated vertices self-labeled) — post-cut correctness
    // hash-gated, the fast path's batch-sized probe timed.
    CatalogQuery("gph_forest_cut_marginal_deletes", (s, d) => {
      val work = Q.scratch("ccfmarg")
      val m = new ForestCutCC(s, work)
      // a DENSE graph is the regime the cut exists for (most edges
      // non-tree), and shrinking it distorts exactly that regime —
      // measured wrong turns: a t=45 graph is sparser, nearly every
      // edge is a tree edge, and the tree batch's scoped rebuild spans
      // the graph (77 s vs 25 s); an edge-parity half thins every
      // clique the same way (85% of candidates landed ON the forest);
      // an order-parity half fragments connectivity and the rebuild
      // explodes (264 s). So the line keeps the full t=43 graph: ~80%
      // of its cost is the ONE unavoidable certificate build and the
      // marginal batches ride on top.
      val li = Tables.lineitem(s, d).filter(col("l_quantity") >= 43)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val e43 = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
        .localCheckpoint()
      m.init(e43)
      val cand = e43.filter(expr("(u * 31 + v) % 5 = 0")).localCheckpoint()
      val fAtDelete = m.forest.readBuckets(cand.select(col("u")))
        .select(col("u"), col("v"))
      // nonlinear split hash: linear (u, v) combos mod small primes can
      // collapse on hash-restricted candidate sets (measured: a parity
      // split was empty because cand's own hash forced 31u+v ≡ 0 mod 10)
      val nonTree = cand.join(fAtDelete, Seq("u", "v"), "left_anti")
      val nt1 = nonTree.filter(expr("pmod(xxhash64(u, v), 2) = 0")).localCheckpoint()
      val nt2 = nonTree.filter(expr("pmod(xxhash64(u, v), 2) = 1")).localCheckpoint()
      val treeDels = cand.join(fAtDelete, Seq("u", "v"), "left_semi").localCheckpoint()
      require(nt1.count() > 0 && nt2.count() > 0 && treeDels.count() > 0,
        "gph_forest_cut_marginal_deletes: the candidate set must carry " +
          s"two non-tree batches and a tree batch (nt1=${nt1.count()} " +
          s"nt2=${nt2.count()} tree=${treeDels.count()} cand=${cand.count()})")
      val f1 = m.delete(1L, nt1)
      val f2 = m.delete(2L, nt2)
      val f3 = m.delete(3L, treeDels)
      require(!f1 && !f2 && f3 && m.nSkipped == 2 && m.nRebuilds == 1,
        s"gph_forest_cut_marginal_deletes: planted classes must take " +
          s"their paths (skipped=${m.nSkipped}, rebuilds=${m.nRebuilds})")
      m.components
    }, Some(
      """WITH RECURSIVE li43 AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_quantity >= 43),
        |e43 AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li43 a JOIN li43 b ON a.ok = b.ok AND a.pk < b.pk),
        |fin AS (
        |  SELECT u, v FROM e43 t WHERE NOT ((t.u * 31 + t.v) % 5 = 0)),
        |allv AS (
        |  SELECT DISTINCT u AS vtx FROM e43
        |  UNION SELECT DISTINCT v FROM e43),
        |ue AS (SELECT u AS src, v AS dst FROM fin
        |       UNION ALL SELECT v AS src, u AS dst FROM fin),
        |lp AS (
        |  SELECT src AS vtx, src AS lbl FROM ue
        |  UNION
        |  SELECT e2.dst AS vtx, l.lbl AS lbl
        |  FROM lp l JOIN ue e2 ON e2.src = l.vtx
        |  WHERE l.lbl < e2.dst)
        |SELECT a.vtx AS part_id,
        |  CAST(coalesce(min(l.lbl), a.vtx) AS BIGINT) AS component
        |FROM allv a LEFT JOIN lp l ON l.vtx = a.vtx
        |GROUP BY 1""".stripMargin), bench = true),

    // ---- streaming component serving against the maintained labels -------
    // The graph twin of ann_stream_serve / idx_stream_serve_bm25, closing
    // the third serving loop: ONE tagged stream carries edge-insert CDC
    // (the quantity-threshold widening, batch 0 = the base graph) and
    // component queries for a FIXED probe set (part ids ≡ 0 mod 13).
    // Each micro-batch runs the union-find maintenance step, then serves
    // component ids for the probes from a FRESH read — answers evolve as
    // vertices appear and components merge (a probe absent from the graph
    // at batch b simply has no row yet). Crash-atomicity needs NO merge
    // ordering argument here: unlike the two-sink batch entry, ALL state
    // lives in ONE sink — each membership stored under both a vtx-keyed
    // serve row and an lbl-keyed postings row (see the sink comment) —
    // so the single mergeOnce's manifest rename advances data and
    // applied-id together and a replayed batch recomputes against
    // unchanged state or skips. Per-batch cost: endpoint-label lookups
    // (key-pushdown point reads at scale), batch-bounded driver
    // union-find (commented collect), point rewrites of merged
    // components' members read from their own postings buckets,
    // probe-set point reads. The oracle
    // re-derives every batch's as-of components from scratch (recursive
    // min-label fixpoint per batch) — serving from maintained state is
    // hash-gated against recomputation at every point in stream time.
    CatalogQuery("gph_stream_serve_components", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      import s.implicits._
      val work = Q.scratch("ccserve")
      def cpairs(t: Int): DataFrame = {
        val li = Tables.lineitem(s, d).filter(col("l_quantity") >= t)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        li.as("a").join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
      }
      val thresholds = Seq(47, 45, 43, 41)
      val probes = cpairs(41)
        .select(explode(array(col("u"), col("v"))).as("vtx")).distinct()
        .filter(col("vtx") % 13 === 0)
      (0 to 3).foreach { b =>
        val delta =
          if (b == 0) cpairs(47)
          else cpairs(thresholds(b))
            .join(cpairs(thresholds(b - 1)), Seq("u", "v"), "left_anti")
        val chg = delta.select(lit("chg").as("kind"), lit(b.toLong).as("qb"),
          col("u"), col("v"), lit(null).cast("bigint").as("probe"))
        val qry = probes.select(lit("qry").as("kind"), lit(b.toLong).as("qb"),
          lit(null).cast("bigint").as("u"), lit(null).cast("bigint").as("v"),
          col("vtx").as("probe"))
        val stageDir = s"$work/stage$b"
        chg.unionByName(qry).coalesce(1).write.mode("overwrite").parquet(stageDir)
        val src = new java.io.File(stageDir).listFiles()
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
        val inDir = java.nio.file.Paths.get(s"$work/in")
        java.nio.file.Files.createDirectories(inDir)
        val dest = inDir.resolve(f"b$b%02d.parquet")
        java.nio.file.Files.move(src.toPath, dest)
        java.nio.file.Files.setLastModifiedTime(dest,
          java.nio.file.attribute.FileTime.fromMillis(1000000L + b * 1000L))
      }
      // serving sink: one-merge read grace for external readers. The
      // loop's four state lookups split by key: three are vertex-keyed
      // (endpoint labels, new-vertex anti-join, probe serve) and one is
      // label-keyed (moved members when components merge). A second
      // lbl-bucketed postings sink (the ForestCutCC pair) would prune
      // both sides but break this loop's one-commit replay atomicity —
      // a crash between the two mergeOnce commits leaves the sinks one
      // batch apart, and the replayed batch then recomputes its merge
      // mapping against half-advanced state. Instead each membership
      // row is stored TWICE in the SAME sink under a `role`
      // discriminator with a derived bucket key (`bkey` = vtx for
      // serve rows, lbl for postings rows): vertex reads prune to
      // their keys' buckets among the 'v' rows, the moved-members read
      // prunes to the merging labels' buckets among the 'l' rows, and
      // BOTH projections advance in the one manifest rename mergeOnce
      // already does. Price: 2× state and 2× batch rows — the standard
      // co-committed secondary-index trade, vs the O(components) full
      // read this replaces (r14 verdict #3).
      val sink = new graft.sinks.SnapshotSink(s, s"$work/state",
        Seq("role", "lbl", "vtx"), readGrace = true, bucketBy = Seq("bkey"))
      // expand one logical membership change (lbl, vtx, op) into its two
      // role rows; every write path goes through this
      def dual(rows: DataFrame): DataFrame =
        rows.select(lit("v").as("role"), col("vtx").as("bkey"),
            col("lbl"), col("vtx"), col("op"))
          .unionByName(rows.select(lit("l").as("role"), col("lbl").as("bkey"),
            col("lbl"), col("vtx"), col("op")))
      // vertex-keyed point read: the keys' buckets among the 'v' rows
      def readVtx(keys: DataFrame): DataFrame =
        sink.readBuckets(keys.select(col("vtx").as("bkey")))
          .filter(col("role") === "v")
          .join(keys.select(col("vtx")), Seq("vtx"), "left_semi")
          .select(col("vtx"), col("lbl"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "kind STRING, qb BIGINT, u BIGINT, v BIGINT, probe BIGINT")
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$work/in")
      val q = stream.writeStream
        .foreachBatch((batch: org.apache.spark.sql.DataFrame, id: Long) => {
          val delta = batch.filter(col("kind") === "chg").select(col("u"), col("v"))
          val upd: DataFrame =
            if (!sink.exists) {
              // initial build: distributed min-label to an explicit fixpoint
              val ue = delta.select(col("u").as("src"), col("v").as("dst"))
                .unionByName(delta.select(col("v").as("src"), col("u").as("dst")))
                .persist()
              var state = ue.select(col("src").as("vtx")).distinct()
                .withColumn("lbl", col("vtx")).localCheckpoint()
              var changed = 1L
              while (changed > 0) {
                val nb = ue.join(state, ue("src") === state("vtx"))
                  .groupBy(col("dst")).agg(min(col("lbl")).as("m"))
                val (next, nChanged) = graft.core.Fused.checkpointCount(
                  state.join(nb, state("vtx") === nb("dst"), "left")
                    .select(col("vtx"), col("lbl").as("lbl_old"),
                      least(col("lbl"), coalesce(col("m"), col("lbl"))).as("lbl")),
                  count(when(col("lbl") =!= col("lbl_old"), lit(1))))
                changed = nChanged
                state = next.select(col("vtx"), col("lbl"))
              }
              ue.unpersist(false)
              dual(state.select(col("lbl"), col("vtx"))
                .withColumn("op", lit(graft.core.ChangeLog.Insert)))
            } else {
              // endpoint labels: a point read of the delta's own buckets
              val dv = delta.select(explode(array(col("u"), col("v"))).as("vtx"))
                .distinct().localCheckpoint()
              val lab = readVtx(dv)
              val lpairs = delta
                .join(lab.select(col("vtx").as("u"), col("lbl").as("lu0")), Seq("u"), "left")
                .join(lab.select(col("vtx").as("v"), col("lbl").as("lv0")), Seq("v"), "left")
                .select(coalesce(col("lu0"), col("u")).as("lu"),
                  coalesce(col("lv0"), col("v")).as("lv"))
                .filter(col("lu") =!= col("lv"))
                .select(least(col("lu"), col("lv")).as("la"),
                  greatest(col("lu"), col("lv")).as("lb")).distinct()
              // bounded collect: ≤ |ΔE| distinct touched-label pairs
              // (enforced — an unbounded delta raises a diagnostic, not OOM)
              val mapping = mergeGroups(
                graft.core.Bounded.collect(lpairs, 1 << 20,
                  "gph_stream_serve_components/label-pairs",
                  "shard the edge delta into smaller micro-batches, or " +
                    "rebuild distributed via gph_largestar_smallstar_cc")
                  .toSeq.map(r => (r.getLong(0), r.getLong(1))))
              val mdf = broadcast(mapping.toSeq.toDF("old_lbl", "new_lbl"))
              // moved = EVERY member of a merging label — a point read of
              // the merging labels' buckets among the 'l' postings rows
              // (the former full read, r14 verdict #3), ∝ the moving
              // components' sizes, not O(components)
              val moved = sink
                .readBuckets(mapping.keys.toSeq.toDF("lbl")
                  .select(col("lbl").as("bkey")))
                .filter(col("role") === "l").select(col("vtx"), col("lbl"))
                .join(mdf, col("lbl") === col("old_lbl"))
              val newRows = dv.join(lab, Seq("vtx"), "left_anti")
                .join(mdf, col("vtx") === col("old_lbl"), "left")
                .select(coalesce(col("new_lbl"), col("vtx")).as("lbl"), col("vtx"))
              dual(moved.select(col("lbl"), col("vtx"))
                .withColumn("op", lit(graft.core.ChangeLog.Delete))
                .unionByName(moved.select(col("new_lbl").as("lbl"), col("vtx"))
                  .withColumn("op", lit(graft.core.ChangeLog.Insert)))
                .unionByName(newRows
                  .withColumn("op", lit(graft.core.ChangeLog.Insert))))
            }
          sink.mergeOnce(id, graft.core.AuditSeam.report(
            "gph_stream_serve_components/maintain",
            upd.withColumn("seq", lit(id))).localCheckpoint())
          // serve from FRESH maintained state; probes come from the
          // stream and read only their own buckets
          val qbv = batch.filter(col("kind") === "qry")
            .agg(max(col("qb"))).head.getLong(0)
          val pr = batch.filter(col("kind") === "qry")
            .select(col("probe").as("vtx")).localCheckpoint()
          graft.core.AuditSeam.report("gph_stream_serve_components/serve",
            readVtx(pr)
              .select(lit(qbv).as("qbatch"), col("vtx").as("part_id"),
                col("lbl").as("component")))
            .write.mode("append").parquet(s"$work/out")
        })
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$work/out")
        .dropDuplicates(Seq("qbatch", "part_id")) // task-retry copies
        .select(col("qbatch"), col("part_id"), col("component"))
    }, Some(
      """WITH RECURSIVE qb4 AS (SELECT unnest(range(0, 4)) AS qb),
        |th AS (SELECT qb, 47 - 2 * qb AS t FROM qb4),
        |li AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk, l_quantity AS qty
        |  FROM lineitem WHERE l_quantity >= 41),
        |e AS (
        |  SELECT DISTINCT th.qb, a.pk AS u, b.pk AS v
        |  FROM th, li a, li b
        |  WHERE b.ok = a.ok AND a.pk < b.pk
        |    AND a.qty >= th.t AND b.qty >= th.t),
        |ue AS (SELECT qb, u AS src, v AS dst FROM e
        |       UNION ALL SELECT qb, v AS src, u AS dst FROM e),
        |lp AS (
        |  SELECT qb, src AS vtx, src AS lbl FROM ue
        |  UNION
        |  SELECT e2.qb, e2.dst AS vtx, l.lbl AS lbl
        |  FROM lp l JOIN ue e2 ON e2.qb = l.qb AND e2.src = l.vtx
        |  WHERE l.lbl < e2.dst)
        |SELECT qb AS qbatch, vtx AS part_id, CAST(min(lbl) AS BIGINT) AS component
        |FROM lp WHERE vtx % 13 = 0 GROUP BY 1, 2""".stripMargin)),

    // ---- context-window chunking with overlap ---------------------------
    // Long-document splitting for a fixed context window: 50-token
    // chunks, stride 40 (10-token overlap), last chunk short. The chunk
    // count formula 1 + ceil(max(0, n-W)/S) is pure integer arithmetic;
    // the whole op is a map stage (explode per doc, no shuffle) — at
    // 100 TB it is embarrassingly parallel and the output feeds
    // prep_pack_sequences.
    CatalogQuery("prep_chunk_overlap", (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .withColumn("n_chunks", expr("1 + (greatest(n - 50, 0) + 39) div 40"))
        .select(col("doc_id"), col("n"),
          posexplode(expr(
            """transform(sequence(0, CAST(n_chunks - 1 AS INT)),
              | i -> struct(
              |   CAST(size(slice(toks, i * 40 + 1, 50)) AS BIGINT) AS ct,
              |   concat_ws(' ', slice(toks, i * 40 + 1, 50)) AS cx))"""
              .stripMargin)).as(Seq("chunk_id", "c")))
        .select(col("doc_id"), col("n").as("n_doc_tokens"),
          col("chunk_id").cast("long").as("chunk_id"),
          col("c.ct").as("n_chunk_tokens"), col("c.cx").as("chunk_text"))
    }, Some(
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' '))::BIGINT AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, n,
        |    1 + (greatest(n - 50, 0) + 39) // 40 AS nc
        |  FROM t)
        |SELECT doc_id, n AS n_doc_tokens, CAST(i AS BIGINT) AS chunk_id,
        |  len(toks[i * 40 + 1 : i * 40 + 50])::BIGINT AS n_chunk_tokens,
        |  array_to_string(toks[i * 40 + 1 : i * 40 + 50], ' ') AS chunk_text
        |FROM c CROSS JOIN LATERAL (SELECT unnest(range(0, nc)) AS i) u"""
        .stripMargin)),

    // ---- chat-template rendering with loss masks ------------------------
    // Instruction-tuning assembly: render (system, user, assistant)
    // into the training string and emit the character span the loss is
    // computed over (the assistant turn only). Pure codegen'd string
    // concat/length — a map stage; the mask arithmetic is positional,
    // so downstream token-level masks derive from it after tokenization.
    CatalogQuery("prep_chat_template_render", (s, d) => {
      val sys = "You are a helpful assistant."
      Tables.documents(s, d)
        .withColumn("reply", concat(lit("Summary: "), substring(col("text"), 1, 40)))
        .withColumn("rendered", concat(
          lit("<|system|>"), lit(sys), lit("<|user|>"), col("text"),
          lit("<|assistant|>"), col("reply"), lit("<|end|>")))
        .select(col("doc_id"), col("rendered"),
          (lit(10L + sys.length + 8L) + length(col("text")).cast("long") + 13L)
            .as("mask_start"),
          (lit(10L + sys.length + 8L) + length(col("text")).cast("long") + 13L
            + length(col("reply")).cast("long")).as("mask_end"),
          length(col("reply")).cast("long").as("n_mask_chars"))
    }, Some(
      s"""WITH r AS (
         |  SELECT doc_id, text,
         |    'Summary: ' || substring(text, 1, 40) AS reply
         |  FROM documents)
         |SELECT doc_id,
         |  '<|system|>You are a helpful assistant.<|user|>' || text ||
         |    '<|assistant|>' || reply || '<|end|>' AS rendered,
         |  CAST(${10 + 28 + 8} + length(text) + 13 AS BIGINT) AS mask_start,
         |  CAST(${10 + 28 + 8} + length(text) + 13 + length(reply) AS BIGINT)
         |    AS mask_end,
         |  length(reply)::BIGINT AS n_mask_chars
         |FROM r""".stripMargin)),

    // ---- weighted systematic sampling -----------------------------------
    // Exact weighted sampling without randomness: order docs, take the
    // running weight sum, and select every doc whose cumulative-weight
    // interval contains a multiple of step = total/50 — each unit of
    // weight has identical selection density, heavy docs can absorb
    // several picks (n_picks reports how many). All integer floor
    // divisions on non-negative values (floor == truncate, so Spark's
    // `div` and DuckDB's `//` agree). The cumsum is the TWO-LEVEL
    // per-shard prefix sum (in-shard windows over contiguous doc_id
    // ranges + shard offsets from a shard-cardinality window) — no
    // corpus-sized global window anywhere; selection itself is a map
    // over (cum, wgt).
    CatalogQuery("smp_weighted_systematic", (s, d) => {
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").as("wgt"))
        .withColumn("shard", expr("doc_id div 64"))
      val w1 = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val inShard = base.withColumn("cum_in", sum(col("wgt")).over(w1))
      // shard offsets: one row per shard (corpus/64 — the global window
      // here runs over shard cardinality, not corpus cardinality)
      val wOff = Window.orderBy(col("shard"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offs = base.groupBy(col("shard")).agg(sum(col("wgt")).as("stot"))
        .withColumn("off", coalesce(sum(col("stot")).over(wOff), lit(0L)))
        .select(col("shard"), col("off"))
      val tot = base.agg(sum(col("wgt")).as("total")) // 1-row, auditor-bounded
      inShard.join(offs, "shard")
        .withColumn("cum", col("off") + col("cum_in"))
        .crossJoin(broadcast(tot))
        .withColumn("step", expr("total div 50"))
        .withColumn("n_picks", expr("cum div step - (cum - wgt) div step"))
        .filter(col("n_picks") > 0)
        .select(col("doc_id"), col("wgt"), col("cum"),
          expr("(cum - wgt) div step + 1").as("first_pick"),
          col("n_picks"))
    }, Some(
      """WITH c AS (
        |  SELECT doc_id, n_chars AS wgt,
        |    sum(n_chars) OVER (ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
        |  FROM documents),
        |t AS (SELECT sum(n_chars)::BIGINT // 50 AS step FROM documents)
        |SELECT doc_id, wgt, cum,
        |  CAST((cum - wgt) // step + 1 AS BIGINT) AS first_pick,
        |  CAST(cum // step - (cum - wgt) // step AS BIGINT) AS n_picks
        |FROM c CROSS JOIN t
        |WHERE cum // step - (cum - wgt) // step > 0""".stripMargin)),

    // ---- mergeable quantile sketch (exact regime vs the oracle) ---------
    // Per-type value percentiles through graft's KLL-style
    // TypedImperativeAggregate (functions.QuantileSketch): map-side
    // combinable, O(k·log(n/k)) state per group — the 100 TB replacement
    // for exact percentile's per-group sort. The oracle runs the EXACT
    // regime (k = 65536 ≥ any group here, so no compaction fires and the
    // sketch is the multiset — the KmvSketch gating precedent); the
    // lossy regime is spec-driven with the ε rank-error bound. Probes
    // are dyadic (¼, ½, ¾) so ⌈q·n⌉ is bit-identical across engines.
    CatalogQuery("evt_quantile_sketch", (s, d) => {
      Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(col("event_type"),
          expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("v"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          GraftFunctions.quantile_sketch(col("v"), 65536, Seq(0.25, 0.5, 0.75))
            .as("qs"))
        .select(col("event_type"),
          (col("n") + Q.exactRegime(col("n"), 65536L, "evt_quantile_sketch")).as("n"),
          expr("element_at(qs, 1)").as("p25_cents"),
          expr("element_at(qs, 2)").as("p50_cents"),
          expr("element_at(qs, 3)").as("p75_cents"))
    }, Some(
      """WITH v AS (
        |  SELECT event_type, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |r AS (
        |  SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM v)
        |SELECT event_type, max(n)::BIGINT AS n,
        |  min(CASE WHEN rk >= ceil(0.25 * n) THEN v END) AS p25_cents,
        |  min(CASE WHEN rk >= ceil(0.5 * n) THEN v END) AS p50_cents,
        |  min(CASE WHEN rk >= ceil(0.75 * n) THEN v END) AS p75_cents
        |FROM r GROUP BY 1""".stripMargin)),

    // ---- MRR of the quantized ranker vs the exact one -------------------
    // Retrieval-quality evaluation: ground truth = exact-cosine nearest
    // neighbor per query; candidate ranking = integer dot product on the
    // 1/64 lattice (the memory-compressed ranker the ANN entries
    // deploy). The reciprocal rank is a scaled-integer division — the
    // whole eval is exact across engines. Query side is a corpus
    // fraction (%50) like the brute-force baseline: no broadcast hint,
    // production draws queries from a bounded eval set.
    CatalogQuery("sim_quantized_mrr_eval", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
          expr(q64Spark).as("qq"))
      val joined = e.select(col("vec_id"), col("embedding"),
          expr(q64Spark).as("vq"))
        .join(q, col("query_id") =!= col("vec_id"))
      val wc = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_raw").desc, col("vec_id"))
      val wq = Window.partitionBy(col("query_id"))
        .orderBy(col("dot_q").desc, col("vec_id"))
      val ranked = joined
        .withColumn("cos_raw", GraftFunctions.cosine_sim(col("qv"), col("embedding")))
        .withColumn("dot_q", expr(
          """aggregate(zip_with(qq, vq, (a, b) -> a * b),
            | CAST(0 AS BIGINT), (acc, v) -> acc + v)""".stripMargin))
        .withColumn("exact_rank", row_number().over(wc))
        .withColumn("cand_rank", row_number().over(wq).cast("long"))
      ranked.filter(col("exact_rank") === 1)
        .select(col("query_id"), col("vec_id").as("true_nn"),
          col("cand_rank"),
          expr("1000000000 div cand_rank").as("rr_e9"))
    }, Some(
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS qv, $q64Duck AS qq
         |  FROM embeddings WHERE vec_id % 50 = 0),
         |ranked AS (
         |  SELECT q.query_id, e.vec_id,
         |    row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY ${Similarity.cosineDuck("q.qv", "e.embedding", 64)} DESC,
         |        e.vec_id) AS exact_rank,
         |    CAST(row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY list_sum(list_transform(range(1, 65),
         |        k -> q.qq[k] * ($q64Duck)[k])) DESC, e.vec_id) AS BIGINT)
         |      AS cand_rank
         |  FROM q JOIN embeddings e ON q.query_id <> e.vec_id)
         |SELECT query_id, vec_id AS true_nn, cand_rank,
         |  CAST(1000000000 // cand_rank AS BIGINT) AS rr_e9
         |FROM ranked WHERE exact_rank = 1""".stripMargin)),

    // ---- hybrid retrieval: reciprocal rank fusion -----------------------
    // The sparse+dense fusion every retrieval-augmented pipeline runs:
    // BM25 top-20 (txt_bm25_topk's rational form) fused with the dense
    // top-20 (integer lattice dot against query vector 0, doc_id ≡
    // vec_id in the harness mapping) by RRF with k=60 — each
    // contribution 10⁶ div (60+rank), an exact integer, so the fused
    // ordering crosses engines bit-stably. Both legs are top-k
    // (TakeOrdered) before the join: the fusion joins two 20-row sides
    // regardless of corpus size.
    CatalogQuery("sim_hybrid_rrf", (s, d) => {
      // sparse leg: BM25 over the query terms, top-20
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      val tf = docs
        .select(col("doc_id"), size(col("toks")).cast("long").as("len"),
          explode(col("toks")).as("term"))
        .groupBy("doc_id", "len", "term").agg(count(lit(1)).as("tf"))
      val qterms = Seq("spark", "customer", "window")
      val tfq = tf.filter(col("term").isin(qterms: _*))
      val dfr = tfq.groupBy("term").agg(count(lit(1)).as("df"))
      val stats = docs.agg(count(lit(1)).cast("long").as("n_docs"),
        sum(size(col("toks")).cast("long")).as("tot_len"))
      val scored = tfq.join(dfr, "term").crossJoin(broadcast(stats))
        .withColumn("s",
          ((lit(2) * col("n_docs") - lit(2) * col("df") + lit(1)).cast("double")
            / (lit(2) * col("df") + lit(1))) *
            ((lit(22) * col("tf") * col("tot_len")).cast("double")
              / (lit(10) * col("tf") * col("tot_len") + lit(3) * col("tot_len")
                + lit(9) * col("len") * col("n_docs"))))
      val perDoc = scored.groupBy("doc_id").agg(
        (coalesce(max(when(col("term") === "spark", col("s"))), lit(0.0))
          + coalesce(max(when(col("term") === "customer", col("s"))), lit(0.0))
          + coalesce(max(when(col("term") === "window", col("s"))), lit(0.0)))
          .as("score"))
      val sp = perDoc.orderBy(col("score").desc, col("doc_id")).limit(20)
        .withColumn("rank_s",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id")))
            .cast("long"))
        .select(col("doc_id"), col("rank_s"))
      // dense leg: integer lattice dot vs query vector 0, top-20. The
      // query vector rides a PROVABLE 1-row aggregate (collect_list over
      // the vec_id=0 filter — the auditor's structural broadcast bound),
      // and the isNotNull filter after the join empties the leg when
      // vector 0 is absent — matching the oracle, whose CROSS JOIN
      // against an empty q0 yields an empty dense leg, instead of
      // emitting NULL-dot candidates.
      val e = Tables.embeddings(s, d).select(col("vec_id"), expr(q64Spark).as("vq"))
      val q0 = e.filter(col("vec_id") === 0)
        .agg(collect_list(col("vq")).as("qs"))
        .select(element_at(col("qs"), 1).as("qq")) // 1-row, auditor-bounded
      val dn = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q0))
        .filter(col("qq").isNotNull)
        .withColumn("dot_q", expr(
          """aggregate(zip_with(qq, vq, (a, b) -> a * b),
            | CAST(0 AS BIGINT), (acc, v) -> acc + v)""".stripMargin))
        .orderBy(col("dot_q").desc, col("vec_id")).limit(20)
        .withColumn("rank_d",
          row_number().over(Window.orderBy(col("dot_q").desc, col("vec_id")))
            .cast("long"))
        .select(col("vec_id").as("doc_id"), col("rank_d"))
      val fused = sp.join(dn, Seq("doc_id"), "full_outer")
        .withColumn("rrf_e6",
          coalesce(expr("1000000 div (60 + rank_s)"), lit(0L))
            + coalesce(expr("1000000 div (60 + rank_d)"), lit(0L)))
      fused.orderBy(col("rrf_e6").desc, col("doc_id")).limit(10)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("rrf_e6").desc, col("doc_id")))
            .cast("long"))
    }, Some(
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |tf AS (
         |  SELECT doc_id, len, term, count(*) AS tf FROM (
         |    SELECT doc_id, len(t)::BIGINT AS len, unnest(t) AS term FROM toks)
         |  WHERE term IN ('spark', 'customer', 'window')
         |  GROUP BY 1, 2, 3),
         |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |stats AS (
         |  SELECT count(*)::BIGINT AS n_docs, sum(len(t))::BIGINT AS tot_len
         |  FROM toks),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |    (CAST(2 * n_docs - 2 * df + 1 AS DOUBLE) / (2 * df + 1)) *
         |    (CAST(22 * tf * tot_len AS DOUBLE)
         |      / (10 * tf * tot_len + 3 * tot_len + 9 * len * n_docs)) AS s
         |  FROM tf JOIN dfr USING (term) CROSS JOIN stats),
         |per_doc AS (
         |  SELECT doc_id,
         |    coalesce(max(CASE WHEN term = 'spark' THEN s END), 0.0)
         |    + coalesce(max(CASE WHEN term = 'customer' THEN s END), 0.0)
         |    + coalesce(max(CASE WHEN term = 'window' THEN s END), 0.0) AS score
         |  FROM scored GROUP BY 1),
         |sp AS (
         |  SELECT doc_id,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
         |      AS rank_s
         |  FROM per_doc ORDER BY score DESC, doc_id LIMIT 20),
         |q0 AS (SELECT $q64Duck AS qq FROM embeddings WHERE vec_id = 0),
         |dn AS (
         |  SELECT vec_id AS doc_id,
         |    CAST(row_number() OVER (ORDER BY dot_q DESC, vec_id) AS BIGINT)
         |      AS rank_d
         |  FROM (
         |    SELECT e.vec_id,
         |      list_sum(list_transform(range(1, 65),
         |        k -> q0.qq[k] * ($q64Duck)[k])) AS dot_q
         |    FROM embeddings e CROSS JOIN q0 WHERE e.vec_id <> 0) t
         |  ORDER BY dot_q DESC, vec_id LIMIT 20),
         |fused AS (
         |  SELECT coalesce(sp.doc_id, dn.doc_id) AS doc_id,
         |    sp.rank_s, dn.rank_d,
         |    CAST(coalesce(1000000 // (60 + sp.rank_s), 0)
         |      + coalesce(1000000 // (60 + dn.rank_d), 0) AS BIGINT) AS rrf_e6
         |  FROM sp FULL OUTER JOIN dn ON sp.doc_id = dn.doc_id)
         |SELECT doc_id, rank_s, rank_d, rrf_e6,
         |  CAST(row_number() OVER (ORDER BY rrf_e6 DESC, doc_id) AS BIGINT)
         |    AS rank
         |FROM fused ORDER BY rrf_e6 DESC, doc_id LIMIT 10""".stripMargin)),

    // ---- train/test split leakage ---------------------------------------
    // Benchmark-contamination detection INSIDE the corpus: split by the
    // deterministic md5 rule (the smp_hash_sample discipline — ~12.5%
    // test), then run the MinHash-LSH band join ONLY across the split
    // (train × test — never train × train), surfacing every near-dup
    // pair that leaks test content into training. The staged corpus
    // (docsPlus' +1000000 replicas) guarantees planted leaks whose hash
    // lands the replica on the other side of the split from its source.
    // 100 TB: identical shape to ddp_minhash_lsh_pairs — band-bucket
    // equi-join, candidates meet only inside (band, key) partitions.
    CatalogQuery("qa_split_leakage", (s, d) => {
      val docs = Tables.documents(s, d)
      val staged = docs.unionByName(
        docs.filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
        .repartition(s.sessionState.conf.numShufflePartitions)
      val isTest =
        expr("instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 1, 1)) - 1 < 2")
      val bands = staged
        .select(col("doc_id"), isTest.as("is_test"),
          split(col("text"), " ").as("toks"))
        .select(col("doc_id"), col("is_test"),
          expr(Similarity.shinglesFromToks("toks")).as("sh"))
        .select(col("doc_id"), col("is_test"),
          GraftFunctions.minhash_hex(col("sh"), 9).as("sig"))
        .select(col("doc_id"), col("is_test"),
          posexplode(expr(
            """transform(sequence(0, 2), j -> md5(concat(
              | element_at(sig, 3 * CAST(j AS INT) + 1),
              | element_at(sig, 3 * CAST(j AS INT) + 2),
              | element_at(sig, 3 * CAST(j AS INT) + 3))))""".stripMargin))
            .as(Seq("band", "band_key")))
      bands.filter(!col("is_test")).as("tr")
        .join(bands.filter(col("is_test")).as("te"),
          col("tr.band") === col("te.band") &&
            col("tr.band_key") === col("te.band_key"))
        .select(col("tr.doc_id").as("train_doc"), col("te.doc_id").as("test_doc"))
        .distinct()
    }, Some(
      s"""WITH staged AS (
         |  SELECT * FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
         |  FROM documents WHERE doc_id % 10 = 0),
         |sigs AS (
         |  SELECT doc_id,
         |    strpos('0123456789abcdef',
         |      substring(md5(doc_id::VARCHAR), 1, 1)) - 1 < 2 AS is_test,
         |    ${Similarity.minhashDuck("text", 9)} AS sig
         |  FROM staged),
         |bands AS (
         |  SELECT doc_id, is_test, j AS band,
         |    md5(sig[3*j+1] || sig[3*j+2] || sig[3*j+3]) AS band_key
         |  FROM sigs CROSS JOIN (SELECT unnest([0,1,2]) AS j) u)
         |SELECT DISTINCT tr.doc_id AS train_doc, te.doc_id AS test_doc
         |FROM bands tr JOIN bands te
         |  ON tr.band = te.band AND tr.band_key = te.band_key
         |WHERE NOT tr.is_test AND te.is_test""".stripMargin)),

    // ---- shared-span EXCISION (the repair to spans' detection) ----------
    // ddp_maximal_shared_spans DETECTS duplicated substrings; this op
    // REMOVES them, keep-first: for every detected span the
    // higher-doc_id member loses the duplicated token range, spans
    // overlapping in one doc are interval-merged (the gaps-and-islands
    // window), and the text is rebuilt from the surviving tokens in
    // order. Per-doc state everywhere: runs/merges partition by doc,
    // the rebuild is one ordered collect per doc — no corpus-sized
    // window anywhere.
    CatalogQuery("ddp_span_excision_rebuild", (s, d) => {
      val k = 4
      val mStr = expr("CAST(doc_id div 2 AS STRING)")
      val planted = concat(col("text"),
        lit(" sp"), mStr, lit(" qq"), mStr, lit(" rr"), mStr,
        lit(" ss"), mStr, lit(" tt"), mStr, lit(" uu"), mStr)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), split(planted, " ").as("toks"))
        .filter(size(col("toks")) >= k)
      val sh = docs.select(col("doc_id"),
          posexplode(expr(
            s"""transform(sequence(0, size(toks) - $k),
               | i -> concat_ws(' ', slice(toks, CAST(i + 1 AS INT), $k)))"""
              .stripMargin)).as(Seq("pos", "sh")))
        .select(col("doc_id"), col("pos"),
          GraftFunctions.rolling_hash(col("sh")).as("h"))
      val dfq = sh.select(col("doc_id"), col("h")).distinct()
        .groupBy(col("h")).agg(count(lit(1)).as("c"))
        .filter(col("c").between(2, 8)).select("h")
      val cand = sh.join(dfq, "h")
      val matches = cand.as("a").join(cand.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          col("a.pos").as("pa"), col("b.pos").as("pb"))
        .withColumn("diag", col("pa") - col("pb"))
      val wRun = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag"))
        .orderBy(col("pa"))
      val spans = matches
        .withColumn("grp", col("pa") - row_number().over(wRun))
        .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
        .agg(count(lit(1)).as("cnt"), min(col("pb")).as("pb0"))
        .filter(col("cnt") >= 2)
        .select(col("doc_b").as("doc_id"), col("pb0").as("lo"),
          (col("pb0") + col("cnt") + lit(k - 2)).as("hi"))
      // interval merge per doc (gaps and islands on the running max end)
      val wPrev = Window.partitionBy(col("doc_id"))
        .orderBy(col("lo"), col("hi"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wIsl = Window.partitionBy(col("doc_id"))
        .orderBy(col("lo"), col("hi"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val merged = spans
        .withColumn("new_isl",
          when(col("lo") > coalesce(max(col("hi")).over(wPrev), lit(-1L)), 1L)
            .otherwise(0L))
        .withColumn("isl", sum(col("new_isl")).over(wIsl))
        .groupBy(col("doc_id"), col("isl"))
        .agg(min(col("lo")).as("lo"), max(col("hi")).as("hi"))
        .select(col("doc_id"), col("lo"), col("hi"))
      val toks = docs.select(col("doc_id"),
        size(col("toks")).cast("long").as("n_before"),
        posexplode(col("toks")).as(Seq("pos", "tok")))
      val kept = toks.join(merged,
        toks("doc_id") === merged("doc_id") &&
          col("pos") >= col("lo") && col("pos") <= col("hi"), "left_anti")
      kept.groupBy(col("doc_id"))
        .agg(max(col("n_before")).as("n_tokens_before"),
          count(lit(1)).as("n_tokens_after"),
          expr(
            """concat_ws(' ', transform(
              |  array_sort(collect_list(struct(pos, tok))), p -> p.tok))"""
              .stripMargin).as("rebuilt"))
    }, Some(
      s"""WITH docs AS (
        |  SELECT doc_id, string_split(text
        |    || ' sp' || (doc_id // 2)::VARCHAR || ' qq' || (doc_id // 2)::VARCHAR
        |    || ' rr' || (doc_id // 2)::VARCHAR || ' ss' || (doc_id // 2)::VARCHAR
        |    || ' tt' || (doc_id // 2)::VARCHAR || ' uu' || (doc_id // 2)::VARCHAR,
        |    ' ') AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, e.pos AS pos,
        |    ${Similarity.rollingHashDuck("e.s")} AS h
        |  FROM (
        |    SELECT doc_id, unnest(list_transform(range(0, len(t) - 3),
        |      i -> {'pos': i, 's': array_to_string(t[i + 1:i + 4], ' ')})) AS e
        |    FROM docs WHERE len(t) >= 4) s0),
        |dfq AS (
        |  SELECT h FROM (
        |    SELECT h, count(*) AS c FROM (SELECT DISTINCT doc_id, h FROM sh) u
        |    GROUP BY 1) g
        |  WHERE c BETWEEN 2 AND 8),
        |cand AS (SELECT sh.doc_id, sh.pos, sh.h FROM sh JOIN dfq USING (h)),
        |m AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb,
        |    a.pos - b.pos AS diag
        |  FROM cand a JOIN cand b ON a.h = b.h AND a.doc_id < b.doc_id),
        |runs AS (
        |  SELECT doc_a, doc_b, diag, pa, pb,
        |    pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa)
        |      AS grp
        |  FROM m),
        |spans AS (
        |  SELECT doc_b AS doc_id, min(pb) AS lo,
        |    min(pb) + count(*) + 2 AS hi
        |  FROM runs GROUP BY doc_a, doc_b, diag, grp HAVING count(*) >= 2),
        |marked AS (
        |  SELECT doc_id, lo, hi,
        |    CASE WHEN lo > coalesce(max(hi) OVER (PARTITION BY doc_id
        |      ORDER BY lo, hi ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      -1) THEN 1 ELSE 0 END AS new_isl
        |  FROM spans),
        |islands AS (
        |  SELECT doc_id, lo, hi,
        |    sum(new_isl) OVER (PARTITION BY doc_id ORDER BY lo, hi
        |      ROWS UNBOUNDED PRECEDING) AS isl
        |  FROM marked),
        |merged AS (
        |  SELECT doc_id, min(lo) AS lo, max(hi) AS hi
        |  FROM islands GROUP BY doc_id, isl),
        |toks AS (
        |  SELECT doc_id, len(t)::BIGINT AS n_before, e.pos AS pos, e.tok AS tok
        |  FROM (
        |    SELECT doc_id, t, unnest(list_transform(range(0, len(t)),
        |      i -> {'pos': i, 'tok': t[i + 1]})) AS e
        |    FROM docs) s0),
        |kept AS (
        |  SELECT tk.doc_id, tk.n_before, tk.pos, tk.tok
        |  FROM toks tk
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM merged mg
        |    WHERE mg.doc_id = tk.doc_id AND tk.pos >= mg.lo AND tk.pos <= mg.hi))
        |SELECT doc_id, max(n_before) AS n_tokens_before,
        |  count(*)::BIGINT AS n_tokens_after,
        |  array_to_string(list(tok ORDER BY pos), ' ') AS rebuilt
        |FROM kept GROUP BY 1""".stripMargin)),

    // ---- packed-sequence attention boundaries (cu_seqlens) --------------
    // The training artifact prep_pack_sequences stops short of: per
    // packed bin, the ordered document boundary offsets a flash-attention
    // kernel consumes as cu_seqlens (0, t1, t1+t2, …). Same per-shard
    // two-level layout as packing (md5 shard key bounds every ordered
    // window to 1/K of the corpus); boundaries come from a within-bin
    // prefix sum and an ordered collect. Emitted as a comma-joined
    // string — the comparator's sortable form of a ragged array.
    CatalogQuery("prep_packed_attention_mask", (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          md5(concat(lit("pack|"), col("doc_id").cast("string"))).as("k"))
        .withColumn("shard",
          ((expr("instr('0123456789abcdef', substr(k, 1, 1))") - 1) % 8)
            .cast("long"))
      val wB = Window.partitionBy(col("shard")).orderBy(col("k"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val binned = docs
        .withColumn("cum_before", coalesce(sum(col("n_tok")).over(wB), lit(0L)))
        .withColumn("bin", expr("cum_before div 2048"))
      val wIn = Window.partitionBy(col("shard"), col("bin"))
        .orderBy(col("k"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      binned.withColumn("boundary", sum(col("n_tok")).over(wIn))
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), max(col("boundary")).as("n_tokens"),
          concat(lit("0,"), concat_ws(",", expr(
            """transform(array_sort(collect_list(struct(k, doc_id, boundary))),
              | p -> CAST(p.boundary AS STRING))""".stripMargin))).as("cu_seqlens"))
    }, Some(
      """WITH t AS (
        |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tok,
        |    md5('pack|' || doc_id::VARCHAR) AS k
        |  FROM documents),
        |sh AS (
        |  SELECT *, ((strpos('0123456789abcdef', substring(k, 1, 1)) - 1) % 8)::BIGINT AS shard
        |  FROM t),
        |c AS (
        |  SELECT shard, k, doc_id, n_tok,
        |    coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY k, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_before
        |  FROM sh),
        |b AS (SELECT *, cum_before // 2048 AS bin FROM c),
        |r AS (
        |  SELECT shard, bin, k, doc_id, n_tok,
        |    CAST(sum(n_tok) OVER (PARTITION BY shard, bin ORDER BY k, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS boundary
        |  FROM b)
        |SELECT shard, bin, count(*)::BIGINT AS n_docs,
        |  max(boundary) AS n_tokens,
        |  '0,' || array_to_string(list(boundary::VARCHAR ORDER BY k, doc_id), ',')
        |    AS cu_seqlens
        |FROM r GROUP BY 1, 2""".stripMargin)),

    // ---- label-noise detection: kNN vote among LSH candidates -----------
    // Dataset-quality audit (the Confident-Learning shape, kNN form):
    // each vector's label is voted on by its 5 nearest LSH-candidate
    // neighbors (integer lattice dot), majority with ties to the smaller
    // label; a vote disagreeing with the vector's own label flags it as
    // suspect. Candidates meet only inside (table, bucket) partitions;
    // unlike the query-restricted ANN entries this op pairs EVERY vector
    // with its bucket-mates, so bucket occupancy drives the cost — hence
    // 8-bit buckets here (256 cells; bits scale as log₂N in production,
    // keeping per-bucket pair work ~N·occupancy, never all-pairs: the
    // 4-bit tables the query-side ANN uses cost 15× more at 10× stress).
    CatalogQuery("qa_label_noise_knn", (s, d) => {
      val e = Tables.embeddings(s, d)
        .repartition(s.sessionState.conf.numShufflePartitions)
      val b = e.withColumn("buckets", GraftFunctions.lsh_buckets(col("embedding"), 8, 8))
        .select(col("vec_id"), posexplode(col("buckets")))
        .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
      val candIds = b.as("x").join(b.as("y"),
          col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
            col("x.vec_id") =!= col("y.vec_id"))
        .select(col("x.vec_id").as("vid"), col("y.vec_id").as("nid"))
        .distinct()
      val q = e.select(col("vec_id"), col("label").cast("long").as("label"),
        expr(q64Spark).as("vq"))
      val scored = candIds
        .join(q.select(col("vec_id").as("vid"), col("vq").as("qv"),
          col("label").as("own_label")), "vid")
        .join(q.select(col("vec_id").as("nid"), col("vq").as("nv"),
          col("label").as("n_label")), "nid")
        .withColumn("dot", expr(
          """aggregate(zip_with(qv, nv, (a, b) -> a * b),
            | CAST(0 AS BIGINT), (acc, v) -> acc + v)""".stripMargin))
      val wk = Window.partitionBy(col("vid")).orderBy(col("dot").desc, col("nid"))
      val votes = scored.withColumn("rk", row_number().over(wk))
        .filter(col("rk") <= 5)
        .groupBy(col("vid"), col("own_label"), col("n_label"))
        .agg(count(lit(1)).as("c"))
      val ww = Window.partitionBy(col("vid")).orderBy(col("c").desc, col("n_label"))
      votes.withColumn("r", row_number().over(ww)).filter(col("r") === 1)
        .select(col("vid").as("vec_id"), col("own_label"),
          col("n_label").as("vote_label"), col("c").as("n_votes"),
          (col("n_label") =!= col("own_label")).as("suspect"))
    }, Some(
      s"""WITH b AS (
         |  SELECT vec_id, embedding, t.tbl,
         |    ${Similarity.lshBucketDuckOffset("embedding", 8, 64, "t.tbl * 8")} AS bucket
         |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 8)) AS tbl) t),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS vid, y.vec_id AS nid
         |  FROM b x JOIN b y ON x.tbl = y.tbl AND x.bucket = y.bucket
         |    AND x.vec_id <> y.vec_id),
         |q AS (
         |  SELECT vec_id, CAST(label AS BIGINT) AS label, $q64Duck AS vq
         |  FROM embeddings),
         |sc AS (
         |  SELECT c.vid, c.nid, a.label AS own_label, n.label AS n_label,
         |    list_sum(list_transform(range(1, 65), k -> a.vq[k] * n.vq[k])) AS dot
         |  FROM cand c JOIN q a ON c.vid = a.vec_id JOIN q n ON c.nid = n.vec_id),
         |top AS (
         |  SELECT vid, own_label, n_label FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vid
         |      ORDER BY dot DESC, nid) AS rk FROM sc) t
         |  WHERE rk <= 5),
         |votes AS (
         |  SELECT vid, own_label, n_label, count(*)::BIGINT AS c
         |  FROM top GROUP BY 1, 2, 3)
         |SELECT vid AS vec_id, own_label, n_label AS vote_label, c AS n_votes,
         |  n_label <> own_label AS suspect
         |FROM (SELECT *, row_number() OVER (PARTITION BY vid
         |        ORDER BY c DESC, n_label) AS r FROM votes) w
         |WHERE r = 1""".stripMargin)),

    // ---- MAD anomaly flags via the quantile sketch ----------------------
    // Robust outlier detection per event type: discrete median and
    // median-absolute-deviation both computed through the mergeable
    // quantile_sketch aggregate (exact regime — k ≥ group size), every
    // comparison on integer cents, flag = dev > 3·MAD. The group-level
    // medians join back at group cardinality (AQE broadcasts them
    // unhinted); the 100 TB path swaps k down and keeps the same plan.
    CatalogQuery("evt_anomaly_mad", (s, d) => {
      val v = Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(col("event_type"),
          expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("v"))
      val med = v.groupBy(col("event_type"))
        .agg(GraftFunctions.quantile_sketch(col("v"), 65536, Seq(0.5)).as("qs"),
          count(lit(1)).as("n"))
        .select(col("event_type"), expr("element_at(qs, 1)").as("med"), col("n"))
      val dev = v.join(med, "event_type")
        .withColumn("dev", abs(col("v") - col("med")))
      val mad = dev.groupBy(col("event_type"))
        .agg(GraftFunctions.quantile_sketch(col("dev"), 65536, Seq(0.5)).as("qs2"))
        .select(col("event_type"), expr("element_at(qs2, 1)").as("mad"))
      dev.join(mad, "event_type")
        .groupBy(col("event_type"))
        .agg((max(col("n")) +
            Q.exactRegime(max(col("n")), 65536L, "evt_anomaly_mad")).as("n"),
          max(col("med")).as("med_cents"),
          max(col("mad")).as("mad_cents"),
          sum((col("dev") > lit(3) * col("mad")).cast("long")).as("n_anomalies"),
          max(col("dev")).as("max_dev"))
    }, Some(
      """WITH v AS (
        |  SELECT event_type, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |rk AS (
        |  SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM v),
        |med AS (
        |  SELECT event_type, min(CASE WHEN rk >= ceil(0.5 * n) THEN v END) AS med,
        |    max(n)::BIGINT AS n
        |  FROM rk GROUP BY 1),
        |d AS (
        |  SELECT v.event_type, med.n, med.med, abs(v.v - med.med) AS dev
        |  FROM v JOIN med USING (event_type)),
        |drk AS (
        |  SELECT event_type, n, med, dev,
        |    row_number() OVER (PARTITION BY event_type ORDER BY dev) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS dn
        |  FROM d),
        |mad AS (
        |  SELECT event_type,
        |    min(CASE WHEN rk >= ceil(0.5 * dn) THEN dev END) AS mad
        |  FROM drk GROUP BY 1)
        |SELECT d.event_type, max(d.n) AS n, max(d.med) AS med_cents,
        |  max(mad.mad) AS mad_cents,
        |  CAST(sum(CASE WHEN d.dev > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_anomalies,
        |  max(d.dev) AS max_dev
        |FROM d JOIN mad USING (event_type) GROUP BY 1""".stripMargin)),

    // ---- held-out perplexity: LM statistics from the TRAIN split only ---
    // The eval-discipline twin of txt_bigram_predictability: bigram
    // counts are estimated ONLY from the deterministic md5 train split,
    // then TEST docs are scored against them — unseen bigrams count as
    // OOV with probability 0 instead of leaking test statistics into the
    // model (the held-out protocol itself, as a dataflow). Scaled-integer
    // probabilities; the count tables are vocabulary²-bounded, the score
    // join is a left join of test bigrams against them.
    CatalogQuery("qa_heldout_perplexity", (s, d) => {
      val isTest =
        expr("instr('0123456789abcdef', substr(md5(CAST(doc_id AS STRING)), 1, 1)) - 1 < 2")
      val bg = Tables.documents(s, d)
        .withColumn("is_test", isTest)
        .select(col("doc_id"), col("is_test"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 2)
        .select(col("doc_id"), col("is_test"), explode(expr(
          """transform(sequence(1, size(toks) - 1),
            | i -> struct(element_at(toks, CAST(i AS INT)) AS a,
            |             element_at(toks, CAST(i + 1 AS INT)) AS b))""".stripMargin))
          .as("bg"))
        .select(col("doc_id"), col("is_test"),
          col("bg.a").as("a"), col("bg.b").as("b"))
      val train = bg.filter(!col("is_test"))
      val cntAb = train.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cnt_ab"))
      val cntA = train.groupBy(col("a")).agg(count(lit(1)).as("cnt_a"))
      bg.filter(col("is_test"))
        .join(cntAb, Seq("a", "b"), "left")
        .join(cntA, Seq("a"), "left")
        // overflow tripwire: cnt_ab·1e9 wraps BIGINT past cnt_ab ≈ 9.2e9
        .withColumn("p_e9", coalesce(
          expr("cnt_ab * 1000000000L div cnt_a"), lit(0L))
          + Q.overflowGuard(coalesce(col("cnt_ab"), lit(0L)), 9000000000L,
            "qa_heldout_perplexity cnt_ab"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("cnt_ab").isNull.cast("long")).as("n_oov"),
          expr("sum(p_e9) div count(1)").as("avg_p_e9"))
    }, Some(
      """WITH toks AS (
        |  SELECT doc_id,
        |    strpos('0123456789abcdef', substring(md5(doc_id::VARCHAR), 1, 1)) - 1 < 2
        |      AS is_test,
        |    string_split(text, ' ') AS t
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |bg AS (
        |  SELECT doc_id, is_test, t[i] AS a, t[i + 1] AS b
        |  FROM toks CROSS JOIN LATERAL (
        |    SELECT unnest(range(1, len(t))) AS i) u),
        |cnt_ab AS (
        |  SELECT a, b, count(*)::BIGINT AS cnt_ab FROM bg
        |  WHERE NOT is_test GROUP BY 1, 2),
        |cnt_a AS (
        |  SELECT a, count(*)::BIGINT AS cnt_a FROM bg
        |  WHERE NOT is_test GROUP BY 1)
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        |  CAST(sum(CASE WHEN cnt_ab IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  (sum(coalesce((cnt_ab * 1000000000) // cnt_a, 0)) // count(*))::BIGINT
        |    AS avg_p_e9
        |FROM bg LEFT JOIN cnt_ab USING (a, b) LEFT JOIN cnt_a USING (a)
        |WHERE is_test GROUP BY 1""".stripMargin)),

    // ---- k-core decomposition (bounded peeling rounds) ------------------
    // Graph density profiling next to PageRank/components/triangles: peel
    // vertices with degree < 3, drop their incident edges, repeat — after
    // 4 fixed rounds (exact for the oracle) the survivors approximate the
    // 3-core; production iterates to fixpoint with the same per-round
    // shape (one degree agg + two semi-joins, lineage truncated per round
    // — the PageRank discipline). Output: surviving vertices with their
    // residual degree.
    CatalogQuery("gph_kcore_decomposition", (s, d) => {
      val li = Tables.lineitem(s, d).filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      var ed = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
        .localCheckpoint()
      for (_ <- 1 to 4) {
        val deg = ed.select(col("u").as("x")).unionByName(ed.select(col("v").as("x")))
          .groupBy(col("x")).agg(count(lit(1)).as("dx"))
        val keep = deg.filter(col("dx") >= 3).select(col("x"))
        ed = ed
          .join(keep.withColumnRenamed("x", "u"), Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("x", "v"), Seq("v"), "left_semi")
          .localCheckpoint()
      }
      ed.select(col("u").as("x")).unionByName(ed.select(col("v").as("x")))
        .groupBy(col("x")).agg(count(lit(1)).as("degree"))
        .select(col("x").as("part"), col("degree"))
    }, Some(
      """WITH li AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_quantity >= 45),
        |e0 AS (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |k0 AS (SELECT x FROM (
        |  SELECT x, count(*) AS dx FROM (
        |    SELECT u AS x FROM e0 UNION ALL SELECT v AS x FROM e0) t GROUP BY 1)
        |  WHERE dx >= 3),
        |e1 AS (SELECT u, v FROM e0
        |  WHERE u IN (SELECT x FROM k0) AND v IN (SELECT x FROM k0)),
        |k1 AS (SELECT x FROM (
        |  SELECT x, count(*) AS dx FROM (
        |    SELECT u AS x FROM e1 UNION ALL SELECT v AS x FROM e1) t GROUP BY 1)
        |  WHERE dx >= 3),
        |e2 AS (SELECT u, v FROM e1
        |  WHERE u IN (SELECT x FROM k1) AND v IN (SELECT x FROM k1)),
        |k2 AS (SELECT x FROM (
        |  SELECT x, count(*) AS dx FROM (
        |    SELECT u AS x FROM e2 UNION ALL SELECT v AS x FROM e2) t GROUP BY 1)
        |  WHERE dx >= 3),
        |e3 AS (SELECT u, v FROM e2
        |  WHERE u IN (SELECT x FROM k2) AND v IN (SELECT x FROM k2)),
        |k3 AS (SELECT x FROM (
        |  SELECT x, count(*) AS dx FROM (
        |    SELECT u AS x FROM e3 UNION ALL SELECT v AS x FROM e3) t GROUP BY 1)
        |  WHERE dx >= 3),
        |e4 AS (SELECT u, v FROM e3
        |  WHERE u IN (SELECT x FROM k3) AND v IN (SELECT x FROM k3))
        |SELECT x AS part, count(*)::BIGINT AS degree FROM (
        |  SELECT u AS x FROM e4 UNION ALL SELECT v AS x FROM e4) t
        |GROUP BY 1""".stripMargin)),

    // ---- 3-step path mining (the Sankey/top-paths input) ----------------
    // The n-step extension of evt_markov_transitions: per-user ordered
    // 3-event windows (two lags inside the user partition — one shuffle,
    // same as the 1-step op), counted and ranked globally; the path
    // table is |types|³-bounded so the final rank runs on a
    // dimension-sized input. Top-15 with deterministic tiebreak.
    // ---- event-pattern matching (MATCH_RECOGNIZE-lite) --------------------
    // Variable-length event-pattern detection — the CEP primitive
    // MATCH_RECOGNIZE / Flink CEP serve, which fixed-lag path mining
    // (evt_path_mining_3step) cannot express: per user, the ordered
    // event-type trace (one char per event, initials are unique here)
    // is scanned for regex patterns with Kleene closure — the
    // signup→browse*→purchase funnel s[cv]*p, the error-retry shape
    // e[cv]*e, and the longest view run v+. Both engines use leftmost
    // non-overlapping scan semantics and the regexes stay in the common
    // Java/RE2 subset, so counts agree exactly. Shape: one shuffle on
    // user_id and a per-user ordered fold (trace length = the user's
    // activity; production windows the trace by session/day before
    // folding — the evt_session_windows cut, documented bound); the
    // regex scan is a pure map stage. PRODUCTION FORM: this entry folds
    // each user's FULL trace — unbounded state for a long-lived user; use
    // evt_pattern_match_sessions (below), which bounds the folded trace
    // by the 10-minute-gap session cut, at scale.
    CatalogQuery("evt_pattern_match_regex", (s, d) => {
      val trace = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("ini"))
        .groupBy(col("user_id"))
        .agg(concat_ws("", expr(
          "transform(sort_array(collect_list(struct(ts, event_id, ini))), x -> x.ini)"))
          .as("trace"))
      trace.select(col("user_id"), col("trace"),
        expr("CAST(size(regexp_extract_all(trace, 's[cv]*p', 0)) AS BIGINT)")
          .as("n_funnel"),
        expr("CAST(size(regexp_extract_all(trace, 'e[cv]*e', 0)) AS BIGINT)")
          .as("n_error_retry"),
        expr("""coalesce(CAST(array_max(transform(
               |  regexp_extract_all(trace, 'v+', 0), x -> length(x))) AS BIGINT),
               |  CAST(0 AS BIGINT))""".stripMargin).as("longest_view_run"))
    }, Some(
      """WITH trace AS (
        |  SELECT user_id,
        |    string_agg(substring(event_type, 1, 1), '' ORDER BY ts, event_id)
        |      AS trace
        |  FROM events GROUP BY 1)
        |SELECT user_id, trace,
        |  CAST(len(regexp_extract_all(trace, 's[cv]*p')) AS BIGINT) AS n_funnel,
        |  CAST(len(regexp_extract_all(trace, 'e[cv]*e')) AS BIGINT) AS n_error_retry,
        |  coalesce(CAST(list_max(list_transform(
        |    regexp_extract_all(trace, 'v+'), x -> length(x))) AS BIGINT),
        |    CAST(0 AS BIGINT)) AS longest_view_run
        |FROM trace""".stripMargin)),

    // ---- session-bounded event-pattern matching ---------------------------
    // The production form of evt_pattern_match_regex: the same three
    // Kleene patterns, but the folded trace is a SESSION (10-minute gap —
    // the evt_session_windows cut), not the user's lifetime. State per
    // fold is gap-bounded (a session ends after 10 idle minutes, so trace
    // length is bounded by sustained activity inside one session — the
    // Flink-CEP within-window discipline), which is what makes the
    // operator safe for a multi-year 100 TB event log: a power user's
    // trace never grows beyond their busiest session. Shape: one shuffle
    // on user_id (the session cut and the per-session fold share it),
    // then a pure regex map stage. Session identity = its start ts.
    // Skew lever: the gap cut partitions by user_id, so ONE task holds a
    // user's whole batch trace — gap-bounding fixes STATE size, not
    // compute skew if one key dominates a batch. When a hot key shows
    // (the skw_key_distribution_profile pre-flight), pre-cut by
    // (user_id, coarse-time) — e.g. day — run the gap cut inside each
    // piece, then merge ONLY boundary sessions (last of piece k with
    // first of piece k+1 when their gap is under the threshold): the
    // same two-level shape the containment-pairs entry documents for its
    // prefix skew.
    CatalogQuery("evt_pattern_match_sessions", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val flagged = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("ini"))
        .withColumn("us", expr("unix_micros(CAST(ts AS TIMESTAMP))"))
        .withColumn("new_sess",
          when(lag(col("us"), 1).over(w).isNull ||
            col("us") - lag(col("us"), 1).over(w) > lit(600000000L),
            lit(1)).otherwise(lit(0)))
        .withColumn("sess_id",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val trace = flagged
        .groupBy(col("user_id"), col("sess_id"))
        .agg(min(col("ts")).as("session_start"),
          concat_ws("", expr(
            "transform(sort_array(collect_list(struct(ts, event_id, ini))), x -> x.ini)"))
            .as("trace"))
      trace.select(col("user_id"), col("session_start"), col("trace"),
        expr("CAST(size(regexp_extract_all(trace, 's[cv]*p', 0)) AS BIGINT)")
          .as("n_funnel"),
        expr("CAST(size(regexp_extract_all(trace, 'e[cv]*e', 0)) AS BIGINT)")
          .as("n_error_retry"),
        expr("""coalesce(CAST(array_max(transform(
               |  regexp_extract_all(trace, 'v+', 0), x -> length(x))) AS BIGINT),
               |  CAST(0 AS BIGINT))""".stripMargin).as("longest_view_run"))
    }, Some(
      """WITH flagged AS (
        |  SELECT user_id, ts, event_id, substring(event_type, 1, 1) AS ini,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 600000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sessions AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sess_id
        |  FROM flagged),
        |trace AS (
        |  SELECT user_id, sess_id, min(ts) AS session_start,
        |    string_agg(ini, '' ORDER BY ts, event_id) AS trace
        |  FROM sessions GROUP BY 1, 2)
        |SELECT user_id, session_start, trace,
        |  CAST(len(regexp_extract_all(trace, 's[cv]*p')) AS BIGINT) AS n_funnel,
        |  CAST(len(regexp_extract_all(trace, 'e[cv]*e')) AS BIGINT) AS n_error_retry,
        |  coalesce(CAST(list_max(list_transform(
        |    regexp_extract_all(trace, 'v+'), x -> length(x))) AS BIGINT),
        |    CAST(0 AS BIGINT)) AS longest_view_run
        |FROM trace""".stripMargin)),

    CatalogQuery("evt_path_mining_3step", (s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val paths = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("e1", lag(col("event_type"), 2).over(w))
        .withColumn("e2", lag(col("event_type"), 1).over(w))
        .filter(col("e1").isNotNull)
        .select(concat_ws(">", col("e1"), col("e2"), col("event_type")).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
      paths.orderBy(col("n").desc, col("path")).limit(15)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("n").desc, col("path")))
            .cast("long"))
    }, Some(
      """WITH lagged AS (
        |  SELECT event_type,
        |    lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e1,
        |    lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2
        |  FROM events),
        |paths AS (
        |  SELECT e1 || '>' || e2 || '>' || event_type AS path,
        |    count(*)::BIGINT AS n
        |  FROM lagged WHERE e1 IS NOT NULL GROUP BY 1)
        |SELECT path, n,
        |  CAST(row_number() OVER (ORDER BY n DESC, path) AS BIGINT) AS rank
        |FROM paths ORDER BY n DESC, path LIMIT 15""".stripMargin)),

    // ---- RAKE keyword extraction ----------------------------------------
    // Rapid Automatic Keyword Extraction (Rose et al. 2010): candidate
    // phrases are maximal stopword-free runs, each word scores
    // degree/frequency (degree = Σ over phrase occurrences of
    // (phrase_len − 1) co-occurrences + its own), a phrase scores the
    // sum of its words — all in e6-scaled integer arithmetic so the
    // ranking crosses engines exactly. Word stats are vocabulary-bounded
    // (broadcast-sized at any corpus scale); the per-phrase score join
    // is an equi-join on word. Top-20 phrases with deterministic ties.
    CatalogQuery("txt_keyword_rake", (s, d) => {
      val stop = Seq("the", "and", "of", "a", "in", "on", "to", "is", "for",
        "with", "that", "this", "it", "as", "are", "was", "at", "by")
      val stopArr = stop.map(w => s"'$w'").mkString("array(", ", ", ")")
      val phrases = Tables.documents(s, d)
        .select(col("doc_id"), split(lower(col("text")), " ").as("toks"))
        // stopwords become '|' sentinels; phrases = non-empty runs between
        .select(col("doc_id"), explode(split(concat_ws(" ", expr(
          s"transform(toks, t -> CASE WHEN array_contains($stopArr, t) OR t = '' THEN '|' ELSE t END)")),
          "\\|")).as("phrase"))
        .select(trim(col("phrase")).as("phrase"))
        .filter(length(col("phrase")) > 0)
      val occur = phrases.groupBy(col("phrase")).agg(count(lit(1)).as("cnt"))
        .withColumn("words", split(col("phrase"), " "))
        .withColumn("len", size(col("words")).cast("long"))
      val wordStats = occur
        .select(col("cnt"), col("len"), explode(col("words")).as("word"))
        .groupBy(col("word"))
        .agg(sum(col("cnt")).as("freq"),
          sum(col("cnt") * col("len")).as("degree"))
        .withColumn("score_e6", expr("degree * 1000000 div freq"))
      val scored = occur
        .select(col("phrase"), col("cnt"), explode(col("words")).as("word"))
        .join(wordStats.select(col("word"), col("score_e6")), "word")
        .groupBy(col("phrase"), col("cnt"))
        .agg(sum(col("score_e6")).as("rake_e6"))
      scored.orderBy(col("rake_e6").desc, col("phrase")).limit(20)
        .withColumn("rank",
          row_number().over(Window.orderBy(col("rake_e6").desc, col("phrase")))
            .cast("long"))
        .select(col("rank"), col("phrase"), col("cnt"), col("rake_e6"))
    }, Some {
      val stop = Seq("the", "and", "of", "a", "in", "on", "to", "is", "for",
        "with", "that", "this", "it", "as", "are", "was", "at", "by")
      val stopList = stop.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH ph0 AS (
         |  SELECT unnest(string_split(array_to_string(
         |    list_transform(string_split(lower(text), ' '),
         |      t -> CASE WHEN list_contains($stopList, t) OR t = ''
         |           THEN '|' ELSE t END), ' '), '|')) AS phrase
         |  FROM documents),
         |ph AS (SELECT trim(phrase) AS phrase FROM ph0 WHERE len(trim(phrase)) > 0),
         |occ AS (
         |  SELECT phrase, count(*)::BIGINT AS cnt,
         |    string_split(phrase, ' ') AS words,
         |    len(string_split(phrase, ' '))::BIGINT AS len
         |  FROM ph GROUP BY 1),
         |ws AS (
         |  SELECT word, CAST(sum(cnt) AS BIGINT) AS freq,
         |    CAST(sum(cnt * len) AS BIGINT) AS degree
         |  FROM (SELECT cnt, len, unnest(words) AS word FROM occ) t
         |  GROUP BY 1),
         |wsc AS (SELECT word, degree * 1000000 // freq AS score_e6 FROM ws),
         |scored AS (
         |  SELECT o.phrase, o.cnt, CAST(sum(w.score_e6) AS BIGINT) AS rake_e6
         |  FROM (SELECT phrase, cnt, unnest(words) AS word FROM occ) o
         |  JOIN wsc w USING (word)
         |  GROUP BY 1, 2)
         |SELECT CAST(row_number() OVER (ORDER BY rake_e6 DESC, phrase) AS BIGINT)
         |    AS rank, phrase, cnt, rake_e6
         |FROM scored ORDER BY rake_e6 DESC, phrase LIMIT 20""".stripMargin
    }),

    // ---- Benford first-digit profile ------------------------------------
    // The classic fabricated-data screen: leading-digit distribution of
    // order totals vs Benford's law. Expected shares are log₁₀(1+1/d) —
    // irrational, so they enter as the SAME e9 literals on both engines
    // (determinism by construction); observed shares are scaled-integer
    // divisions. One scan + a 9-row aggregate at any volume.
    CatalogQuery("qa_benford_profile", (s, d) => {
      // round(1e9 * log10(1 + 1/d)) for d = 1..9
      val benfordE9 = Seq(301029996L, 176091259L, 124938737L, 96910013L,
        79181246L, 66946790L, 57991947L, 51152522L, 45757491L)
      val expectedArr = benfordE9.mkString("array(", "L, ", "L)")
      val digits = Tables.orders(s, d)
        .select(substring(col("o_totalprice").cast("decimal(12,2)")
          .cast("string"), 1, 1).cast("long").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("n"))
      val tot = digits.agg(sum(col("n")).as("total")) // 1-row, auditor-bounded
      digits.crossJoin(broadcast(tot))
        .select(col("digit"), col("n"),
          expr("n * 1000000000 div total").as("observed_e9"),
          expr(s"element_at($expectedArr, CAST(digit AS INT))").as("expected_e9"))
        .withColumn("abs_dev_e9",
          abs(col("observed_e9") - col("expected_e9")))
    }, Some(
      """WITH digits AS (
        |  SELECT CAST(substring(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR), 1, 1)
        |    AS BIGINT) AS digit, count(*)::BIGINT AS n
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM digits),
        |exp9 AS (SELECT * FROM (VALUES (1, 301029996), (2, 176091259),
        |  (3, 124938737), (4, 96910013), (5, 79181246), (6, 66946790),
        |  (7, 57991947), (8, 51152522), (9, 45757491)) e(d, expected_e9))
        |SELECT digit, n,
        |  CAST(n * 1000000000 // total AS BIGINT) AS observed_e9,
        |  CAST(expected_e9 AS BIGINT) AS expected_e9,
        |  CAST(abs(n * 1000000000 // total - expected_e9) AS BIGINT) AS abs_dev_e9
        |FROM digits CROSS JOIN t JOIN exp9 ON exp9.d = digits.digit""".stripMargin)),

    // ---- CDC compaction through the SQL front door ----------------------
    // The engine's core CDC semantic (last-writer-wins compaction,
    // deletes dropped) expressed in PURE SQL over registered views — what
    // a SQL-first consumer of the replicated tables writes. The change
    // log is registered as a temp view; the compaction is the same
    // window-rank shape the Scala path uses (one shuffle on the key).
    CatalogQuery("sql_changelog_compact", (s, d) => {
      Tables.registerAll(s, d)
      CdcQueries.changeLog(s, d).createOrReplaceTempView("changelog")
      s.sql(
        """SELECT o_orderkey, o_orderstatus, o_totalprice, seq AS last_seq
          |FROM (
          |  SELECT *, row_number() OVER (
          |    PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
          |  FROM changelog)
          |WHERE rn = 1 AND op <> 'delete'""".stripMargin)
    }, Some(
      s"""SELECT o_orderkey, o_orderstatus, o_totalprice, seq AS last_seq
         |FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
         |  FROM (${CdcQueries.oracleLogSql}) log) t
         |WHERE rn = 1 AND op <> 'delete'""".stripMargin)),

    // ---- deterministic random walks (the DeepWalk/node2vec prep) --------
    // One 3-step walk per vertex over the sparse co-purchase graph, each
    // hop chosen by an md5-derived index into the SORTED neighbor list —
    // the hash replaces the RNG, so walks are reproducible across
    // engines, runs, and cluster sizes (the smp_deterministic_shuffle
    // discipline applied to graph sampling). Per step: one equi-join
    // against the adjacency table (neighbor lists bounded by max degree);
    // production runs K walks × L steps as K·L such joins with lineage
    // truncated per step.
    CatalogQuery("gph_random_walks", (s, d) => {
      val li = Tables.lineitem(s, d).filter(col("l_quantity") >= 45)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val e = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v")).distinct()
      val adj = e.select(col("u").as("n"), col("v").as("m"))
        .unionByName(e.select(col("v").as("n"), col("u").as("m")))
        .groupBy(col("n"))
        .agg(array_sort(collect_list(col("m"))).as("nbrs"),
          count(lit(1)).as("deg"))
      def hop(walks: DataFrame, step: Int): DataFrame =
        walks.join(adj, walks("cur") === adj("n"))
          .withColumn("idx", expr(
            s"pmod(CAST(conv(substr(md5(concat(CAST(walk_id AS STRING), '|', '$step')), 1, 6), 16, 10) AS BIGINT), deg)"))
          .select(col("walk_id"), col("path"),
            expr("element_at(nbrs, CAST(idx + 1 AS INT))").as("cur"))
          .withColumn("path", concat(col("path"), lit(">"), col("cur")))
      val w0 = adj.select(col("n").as("walk_id"),
        col("n").as("cur"), col("n").cast("string").as("path"))
      val done = Seq(1, 2, 3).foldLeft(w0)(hop)
      done.select(col("walk_id"), col("path"), col("cur").as("end_node"))
    }, Some(
      s"""WITH $walksDuck
         |SELECT walk_id, path, cur AS end_node FROM w3""".stripMargin)),

    // ---- skip-gram pairs from the walk corpus ---------------------------
    // The embedding-training input the walks exist for: window-≤2
    // (center, context) co-occurrence pairs over every walk, directed
    // with counts — explode per walk (length-bounded), then one
    // vertex²-bounded aggregation.
    CatalogQuery("gph_walk_skipgram_pairs", (s, d) => {
      Catalog.queries("gph_random_walks")(s, d)
        .select(split(col("path"), ">").as("ns"))
        .select(explode(expr(
          """flatten(transform(sequence(1, size(ns)), i ->
            |  flatten(transform(sequence(1, 2), w ->
            |    CASE WHEN i + w <= size(ns)
            |    THEN array(struct(
            |      CAST(element_at(ns, CAST(i AS INT)) AS BIGINT) AS a,
            |      CAST(element_at(ns, CAST(i + w AS INT)) AS BIGINT) AS b))
            |    ELSE array() END))))""".stripMargin)).as("p"))
        .select(col("p.a").as("center"), col("p.b").as("context"))
        .groupBy(col("center"), col("context"))
        .agg(count(lit(1)).as("n"))
    }, Some(
      s"""WITH $walksDuck,
         |ns AS (SELECT string_split(path, '>') AS ns FROM w3),
         |pairs AS (
         |  SELECT CAST(ns[i] AS BIGINT) AS center,
         |    CAST(ns[i + w] AS BIGINT) AS context
         |  FROM ns
         |  CROSS JOIN LATERAL (SELECT unnest(range(1, len(ns) + 1)) AS i) u
         |  CROSS JOIN LATERAL (SELECT unnest([1, 2]) AS w) v
         |  WHERE i + w <= len(ns))
         |SELECT center, context, count(*)::BIGINT AS n
         |FROM pairs GROUP BY 1, 2""".stripMargin)),

    // ---- content-defined chunking (the FastCDC shape, token-granular) ---
    // Variable-size chunk boundaries cut where the token's rolling hash
    // satisfies hash % 4 == 0 — boundaries depend on CONTENT, not
    // position, so an insertion re-chunks only its neighborhood while
    // fixed-window chunking (ddp_chunk_dedup_rebuild) shifts every
    // subsequent chunk. Chunk identity = md5 of the chunk text; the
    // shared flag joins per-hash occurrence counts (chunk-vocabulary-
    // bounded) back to chunks. Per-doc windows only; production drops
    // to byte-granular gear hashing with the same dataflow.
    CatalogQuery("ddp_content_defined_chunks", (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        .withColumn("flag",
          (GraftFunctions.rolling_hash(col("tok")) % 4 === 0).cast("long"))
      val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val chunks = toks
        .withColumn("chunk_idx", coalesce(sum(col("flag")).over(wPrev), lit(0L)))
        .groupBy(col("doc_id"), col("chunk_idx"))
        .agg(count(lit(1)).as("n_chunk_toks"),
          md5(concat_ws(" ", expr(
            "transform(array_sort(collect_list(struct(pos, tok))), p -> p.tok)")))
            .as("chunk_hash"))
      val freq = chunks.groupBy(col("chunk_hash"))
        .agg(countDistinct(col("doc_id")).as("df"))
      chunks.join(freq, "chunk_hash")
        .select(col("doc_id"), col("chunk_idx"), col("n_chunk_toks"),
          col("chunk_hash"), (col("df") > 1).as("shared"))
    }, Some(
      s"""WITH toks AS (
        |  SELECT doc_id, e.pos AS pos, e.tok AS tok,
        |    CASE WHEN ${Similarity.rollingHashDuck("e.tok")} % 4 = 0
        |      THEN 1 ELSE 0 END AS flag
        |  FROM (
        |    SELECT doc_id, unnest(list_transform(range(0, len(t)),
        |      i -> {'pos': i, 'tok': t[i + 1]})) AS e
        |    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents) s0) s1),
        |cidx AS (
        |  SELECT doc_id, pos, tok,
        |    coalesce(sum(flag) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
        |      AS chunk_idx
        |  FROM toks),
        |chunks AS (
        |  SELECT doc_id, chunk_idx, count(*)::BIGINT AS n_chunk_toks,
        |    md5(array_to_string(list(tok ORDER BY pos), ' ')) AS chunk_hash
        |  FROM cidx GROUP BY 1, 2),
        |freq AS (
        |  SELECT chunk_hash, count(DISTINCT doc_id)::BIGINT AS df
        |  FROM chunks GROUP BY 1)
        |SELECT doc_id, chunk_idx, n_chunk_toks, chunk_hash, df > 1 AS shared
        |FROM chunks JOIN freq USING (chunk_hash)""".stripMargin)),

    // ---- histogram drift between periods (the PSI input) ----------------
    // Distribution-shift monitoring: decile boundaries come from the
    // BASELINE period (first half of January) through the quantile
    // sketch's discrete quantiles; the comparison period (second half,
    // with a planted +10% value drift so the signal deterministically
    // exists) is bucketed against those SAME boundaries, and per-bucket
    // mass ratios are scaled-integer divisions — the per-bucket inputs
    // of a PSI/KS screen, minus the logarithm (irrational) the caller
    // applies. Boundaries are a 1-row aggregate (auditor-bounded
    // broadcast); both bucketing passes are pure maps.
    CatalogQuery("qa_histogram_drift", (s, d) => {
      val split = "TIMESTAMP '2024-01-16 00:00:00'"
      val v = Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(col("ts"),
          expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("v"))
      val a = v.filter(expr(s"ts < $split")).select(col("v"))
      val b = v.filter(expr(s"ts >= $split"))
        .select(expr("v * 11 div 10").as("v")) // planted +10% drift
      val probes = (1 to 9).map(_ / 10.0)
      val bnds = a.agg(GraftFunctions.quantile_sketch(col("v"), 1 << 20, probes)
          .as("bnds"),
        count(lit(1)).as("base_n")) // 1-row, auditor-bounded
      def bucketed(df: DataFrame, name: String): DataFrame =
        df.crossJoin(broadcast(bnds))
          // the + exactRegime(base_n) term is 0 while the baseline fits
          // the sketch and raises with a diagnostic once compaction would
          // make these boundaries approximate
          .select((expr("CAST(size(filter(bnds, b -> v > b)) AS BIGINT)") +
            Q.exactRegime(col("base_n"), 1L << 20, "qa_histogram_drift")).as("bucket"))
          .groupBy(col("bucket")).agg(count(lit(1)).as(name))
      bucketed(a, "n_a").join(bucketed(b, "n_b"), Seq("bucket"), "full_outer")
        .select(col("bucket"),
          coalesce(col("n_a"), lit(0L)).as("n_a"),
          coalesce(col("n_b"), lit(0L)).as("n_b"))
        .withColumn("ratio_e6",
          expr("CASE WHEN n_a = 0 THEN NULL ELSE n_b * 1000000 div n_a END"))
    }, Some(
      """WITH v AS (
        |  SELECT ts, CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |a AS (SELECT v FROM v WHERE ts < TIMESTAMP '2024-01-16 00:00:00'),
        |b AS (SELECT v * 11 // 10 AS v FROM v
        |      WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'),
        |rk AS (
        |  SELECT v, row_number() OVER (ORDER BY v) AS rk,
        |    count(*) OVER () AS n
        |  FROM a),
        |bnds AS (
        |  -- q enters as a DOUBLE literal so ceil(q·n) reproduces the
        |  -- sketch's exact IEEE product (non-dyadic probes: a DECIMAL
        |  -- q or an integer q/10.0 rounds differently at e.g. n=5000)
        |  SELECT list(bv ORDER BY q) AS bnds FROM (
        |    SELECT q, min(CASE WHEN rk >= ceil(q * n) THEN v END) AS bv
        |    FROM rk CROSS JOIN (SELECT unnest([0.1::DOUBLE, 0.2::DOUBLE,
        |      0.3::DOUBLE, 0.4::DOUBLE, 0.5::DOUBLE, 0.6::DOUBLE,
        |      0.7::DOUBLE, 0.8::DOUBLE, 0.9::DOUBLE]) AS q) qq
        |    GROUP BY q) t),
        |ba AS (
        |  SELECT CAST(len(list_filter(bnds, b -> a.v > b)) AS BIGINT) AS bucket,
        |    count(*)::BIGINT AS n_a
        |  FROM a CROSS JOIN bnds GROUP BY 1),
        |bb AS (
        |  SELECT CAST(len(list_filter(bnds, bd -> b.v > bd)) AS BIGINT) AS bucket,
        |    count(*)::BIGINT AS n_b
        |  FROM b CROSS JOIN bnds GROUP BY 1)
        |SELECT coalesce(ba.bucket, bb.bucket) AS bucket,
        |  coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b,
        |  CASE WHEN coalesce(n_a, 0) = 0 THEN NULL
        |       ELSE coalesce(n_b, 0) * 1000000 // coalesce(n_a, 0) END AS ratio_e6
        |FROM ba FULL OUTER JOIN bb USING (bucket)""".stripMargin)),

    // ---- Matryoshka truncation eval -------------------------------------
    // The MRL deployment question: how much retrieval quality survives
    // truncating embeddings to their first 16 of 64 dims (4× memory /
    // bandwidth)? Per query: top-10 by full-dim integer dot vs top-10 by
    // truncated-dim dot, overlap counted — all lattice integers, exact
    // across engines. Eval ground truth is by definition the exact
    // ranking (the sim_quantized_mrr_eval allowlist rationale; queries
    // are a bounded eval set in production).
    CatalogQuery("emb_matryoshka_eval", (s, d) => {
      val e = Tables.embeddings(s, d)
      val q = e.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), expr(q64Spark).as("qq"))
      val joined = e.select(col("vec_id"), expr(q64Spark).as("vq"))
        .join(q, col("query_id") =!= col("vec_id"))
        .withColumn("dot_full", expr(
          """aggregate(zip_with(qq, vq, (a, b) -> a * b),
            | CAST(0 AS BIGINT), (acc, v) -> acc + v)""".stripMargin))
        .withColumn("dot_trunc", expr(
          """aggregate(zip_with(slice(qq, 1, 16), slice(vq, 1, 16),
            | (a, b) -> a * b), CAST(0 AS BIGINT), (acc, v) -> acc + v)"""
            .stripMargin))
      val wf = Window.partitionBy(col("query_id"))
        .orderBy(col("dot_full").desc, col("vec_id"))
      val wt = Window.partitionBy(col("query_id"))
        .orderBy(col("dot_trunc").desc, col("vec_id"))
      val ranked = joined
        .withColumn("rf", row_number().over(wf))
        .withColumn("rt", row_number().over(wt))
      val full10 = ranked.filter(col("rf") <= 10)
        .select(col("query_id"), col("vec_id"), col("rf"))
      val trunc10 = ranked.filter(col("rt") <= 10)
        .select(col("query_id").as("q2"), col("vec_id").as("v2"), col("rt"))
      full10.join(trunc10,
          col("query_id") === col("q2") && col("vec_id") === col("v2"),
          "full_outer")
        .select(coalesce(col("query_id"), col("q2")).as("query_id"),
          (col("rf").isNotNull && col("rt").isNotNull).cast("long").as("both"),
          (col("rf") === 1 && col("rt") === 1).cast("long").as("top1"))
        .groupBy(col("query_id"))
        .agg(sum(col("both")).as("n_overlap_top10"),
          (sum(coalesce(col("top1"), lit(0L))) > 0).as("top1_agrees"))
    }, Some(
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, $q64Duck AS qq
         |  FROM embeddings WHERE vec_id % 50 = 0),
         |j AS (
         |  SELECT q.query_id, e.vec_id,
         |    list_sum(list_transform(range(1, 65),
         |      k -> q.qq[k] * ($q64Duck)[k])) AS dot_full,
         |    list_sum(list_transform(range(1, 17),
         |      k -> q.qq[k] * ($q64Duck)[k])) AS dot_trunc
         |  FROM q JOIN embeddings e ON q.query_id <> e.vec_id),
         |r AS (
         |  SELECT query_id, vec_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY dot_full DESC, vec_id) AS rf,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY dot_trunc DESC, vec_id) AS rt
         |  FROM j),
         |f AS (SELECT query_id, vec_id, rf FROM r WHERE rf <= 10),
         |t AS (SELECT query_id AS q2, vec_id AS v2, rt FROM r WHERE rt <= 10)
         |SELECT coalesce(query_id, q2) AS query_id,
         |  CAST(sum(CASE WHEN rf IS NOT NULL AND rt IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_overlap_top10,
         |  sum(CASE WHEN rf = 1 AND rt = 1 THEN 1 ELSE 0 END) > 0 AS top1_agrees
         |FROM f FULL OUTER JOIN t ON query_id = q2 AND vec_id = v2
         |GROUP BY 1""".stripMargin)),

    // ---- cumulative unique users (growth accounting) --------------------
    // Exact running distinct without distinct-state: each user reduces to
    // a FIRST-SEEN day (one groupBy), daily new-user counts follow, and
    // the running total is a window over day cardinality (~30 rows) —
    // the shape that replaces a per-day COUNT(DISTINCT) over expanding
    // windows (which would rescan the whole history per day).
    CatalogQuery("evt_cumulative_unique_users", (s, d) => {
      val firstSeen = Tables.events(s, d)
        .groupBy(col("user_id")).agg(min(col("ts")).as("fs"))
        .select(col("user_id"), col("fs").cast("date").as("day"))
      val daily = firstSeen.groupBy(col("day"))
        .agg(count(lit(1)).as("n_new"))
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      daily.withColumn("cum_users", sum(col("n_new")).over(w))
        .select(col("day"), col("n_new"), col("cum_users"))
    }, Some(
      """WITH fs AS (
        |  SELECT user_id, CAST(min(ts) AS DATE) AS day
        |  FROM events GROUP BY 1),
        |daily AS (SELECT day, count(*)::BIGINT AS n_new FROM fs GROUP BY 1)
        |SELECT day, n_new,
        |  CAST(sum(n_new) OVER (ORDER BY day
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_users
        |FROM daily""".stripMargin)),

    // ---- dataset card (the per-source reporting capstone) ---------------
    // The summary table every published dataset ships: per source —
    // volume, language mix with the dominant language (argmax, ties to
    // the smaller name), exact-duplicate rate, and the discrete median
    // length through the quantile sketch. Every stat is one of the
    // catalog's proven shapes composed: hash-group dedup, argmax window,
    // sketch median — so the card is a single pass over each shuffle
    // family, all integer/exact.
    CatalogQuery("prep_dataset_card", (s, d) => {
      val docs = Tables.documents(s, d)
      val base = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          countDistinct(col("lang")).as("n_langs"),
          GraftFunctions.quantile_sketch(col("n_chars"), 65536, Seq(0.5))
            .as("qs"))
        .select(col("source"),
          (col("n_docs") +
            Q.exactRegime(col("n_docs"), 65536L, "prep_dataset_card")).as("n_docs"),
          col("total_chars"),
          col("n_langs"), expr("element_at(qs, 1)").as("median_chars"))
      val wTop = Window.partitionBy(col("source"))
        .orderBy(col("n").desc, col("lang"))
      val topLang = docs.groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(wTop)).filter(col("rn") === 1)
        .select(col("source"), col("lang").as("top_lang"))
      val dups = docs.select(col("source"), md5(col("text")).as("h"))
        .groupBy(col("source"), col("h")).agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("n_dup_docs"))
      base.join(topLang, "source").join(dups, "source")
        .withColumn("dup_rate_e6", expr("n_dup_docs * 1000000 div n_docs"))
        .select(col("source"), col("n_docs"), col("total_chars"),
          col("n_langs"), col("top_lang"), col("median_chars"),
          col("n_dup_docs"), col("dup_rate_e6"))
    }, Some(
      """WITH base AS (
        |  SELECT source, count(*)::BIGINT AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |    count(DISTINCT lang)::BIGINT AS n_langs
        |  FROM documents GROUP BY 1),
        |med AS (
        |  SELECT source,
        |    min(CASE WHEN rk >= ceil(0.5 * n) THEN n_chars END) AS median_chars
        |  FROM (
        |    SELECT source, n_chars,
        |      row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rk,
        |      count(*) OVER (PARTITION BY source) AS n
        |    FROM documents) t
        |  GROUP BY 1),
        |top AS (
        |  SELECT source, lang AS top_lang FROM (
        |    SELECT source, lang, row_number() OVER (PARTITION BY source
        |      ORDER BY count(*) DESC, lang) AS rn
        |    FROM documents GROUP BY source, lang) t
        |  WHERE rn = 1),
        |dups AS (
        |  SELECT source,
        |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_docs
        |  FROM (
        |    SELECT source, md5(text) AS h, count(*)::BIGINT AS c
        |    FROM documents GROUP BY 1, 2) t
        |  GROUP BY 1)
        |SELECT b.source, b.n_docs, b.total_chars, b.n_langs, top.top_lang,
        |  med.median_chars, dups.n_dup_docs,
        |  CAST(dups.n_dup_docs * 1000000 // b.n_docs AS BIGINT) AS dup_rate_e6
        |FROM base b JOIN med USING (source) JOIN top USING (source)
        |JOIN dups USING (source)""".stripMargin)),

    // ---- 2-hop neighborhood profile (the HyperBall unit, exact seeds) ---
    // Per-seed exact ball sizes over the customer↔supplier graph: 1-hop
    // and ≤2-hop distinct-vertex counts for a deterministic seed sample
    // (every 40th even node). Distributed shape: seed-filtered edge join
    // → one more edge hop → distinct + count — the single iteration of
    // HyperBall/neighborhood-function estimation. Exact distincts are
    // the SEEDED eval; at 100 TB the all-vertex variant swaps the
    // distinct for a mergeable HLL register per vertex (functions.HLL
    // shape) and iterates — same joins, sketch state instead of sets.
    // The seed sample keeps candidate volume Σ_seed deg·deḡ, never the
    // full wedge count.
    CatalogQuery("gph_2hop_neighborhood", (s, d) => {
      val co = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      val und = co.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(co.select(col("b").as("src"), col("a").as("dst")))
      val seeds = und.select(col("src")).distinct()
        .filter(col("src") % 40 === 0)
      val hop1 = seeds.join(und, "src")
        .select(col("src").as("seed"), col("dst").as("v"))
      val hop2 = hop1.join(und.select(col("src").as("v"), col("dst").as("w")), "v")
        .select(col("seed"), col("w").as("v"))
      val ball = hop1.unionByName(hop2)
        .filter(col("v") =!= col("seed")) // open ball: self excluded
      ball.groupBy(col("seed")).agg(countDistinct(col("v")).as("ball2"))
        .join(hop1.groupBy(col("seed"))
          .agg(countDistinct(col("v")).as("deg1")), "seed")
        .select(col("seed"), col("deg1"), col("ball2"))
    }, Some(
      """WITH co AS (
        |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |und AS (
        |  SELECT a AS src, b AS dst FROM co
        |  UNION ALL SELECT b, a FROM co),
        |seeds AS (SELECT DISTINCT src FROM und WHERE src % 40 = 0),
        |h1 AS (
        |  SELECT s.src AS seed, u.dst AS v FROM seeds s JOIN und u ON u.src = s.src),
        |h2 AS (
        |  SELECT h1.seed, u.dst AS v FROM h1 JOIN und u ON u.src = h1.v),
        |ball AS (
        |  SELECT seed, v FROM h1 WHERE v <> seed
        |  UNION ALL SELECT seed, v FROM h2 WHERE v <> seed)
        |SELECT b.seed, d1.deg1, b.ball2 FROM (
        |  SELECT seed, count(DISTINCT v)::BIGINT AS ball2 FROM ball GROUP BY 1) b
        |JOIN (
        |  SELECT seed, count(DISTINCT v)::BIGINT AS deg1 FROM h1 GROUP BY 1) d1
        |USING (seed)""".stripMargin)),

    // ---- fill-in-the-middle transform (the code-model training op) ------
    // Deterministic FIM: each document with ≥ 8 tokens splits into
    // prefix / middle / suffix at doc_id-derived cut points (all
    // operands non-negative, so the div/mod arithmetic crosses engines)
    // and re-emits in PSM order with sentinel tokens — the layout
    // infill-trained models consume. Pure map stage; the cut arithmetic
    // guarantees 1 ≤ p < suffix_start ≤ n−1, so all three parts are
    // non-empty.
    CatalogQuery("prep_fim_split", (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .filter(col("n") >= 8)
        .withColumn("a", expr("n div 3"))
        .withColumn("p", expr("doc_id % a + 1"))
        .withColumn("ss", expr("n - (doc_id * 31 % a) - 1"))
      docs.select(col("doc_id"), col("n").as("n_tokens"),
        col("p").as("p_len"), (col("ss") - col("p")).as("m_len"),
        (col("n") - col("ss")).as("s_len"),
        expr(
          """concat('<PRE> ',
            |  concat_ws(' ', slice(toks, 1, CAST(p AS INT))), ' <SUF> ',
            |  concat_ws(' ', slice(toks, CAST(ss + 1 AS INT), CAST(n - ss AS INT))), ' <MID> ',
            |  concat_ws(' ', slice(toks, CAST(p + 1 AS INT), CAST(ss - p AS INT))))"""
            .stripMargin).as("fim"))
    }, Some(
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' '))::BIGINT AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, n, n // 3 AS a,
        |    doc_id % (n // 3) + 1 AS p,
        |    n - (doc_id * 31 % (n // 3)) - 1 AS ss
        |  FROM t WHERE n >= 8)
        |SELECT doc_id, n AS n_tokens, p AS p_len, ss - p AS m_len,
        |  n - ss AS s_len,
        |  '<PRE> ' || array_to_string(toks[1:p], ' ')
        |    || ' <SUF> ' || array_to_string(toks[ss + 1:n], ' ')
        |    || ' <MID> ' || array_to_string(toks[p + 1:ss], ' ') AS fim
        |FROM c""".stripMargin)),

    // ---- vocabulary coverage / OOV rate ---------------------------------
    // Tokenizer-ops telemetry: the corpus' top-64 words (frequency desc,
    // word asc) form the in-vocabulary set; every document reports its
    // out-of-vocabulary token rate as a scaled integer. Shape: one
    // vocabulary-bounded word count, a 64-row rank cut, and a token↔vocab
    // left join folded into a per-doc aggregate — AQE broadcasts the
    // 64-row side unhinted. 100 TB: the vocab table is config-bounded;
    // the scan is one explode + one shuffle on doc_id.
    CatalogQuery("txt_vocab_coverage", (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      // top-64 cut via orderBy.limit → TakeOrderedAndProject: each
      // partition keeps its local top 64, the driver merges 64·P rows —
      // never a single-partition global sort of the distinct-word table
      // (10⁸+ rows at 100 TB). (n desc, w) is a total order, so the cut
      // set is identical to the row_number() formulation the oracle uses.
      val vocab = toks.groupBy(col("w")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w"))
        .limit(64)
        .select(col("w"), lit(1L).as("in_vocab"))
      toks.join(vocab, Seq("w"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_e6", expr("n_oov * 1000000 div n_tokens"))
    }, Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
        |vocab AS (
        |  SELECT w FROM (
        |    SELECT w, row_number() OVER (ORDER BY count(*) DESC, w) AS rank
        |    FROM toks GROUP BY w) t
        |  WHERE rank <= 64)
        |SELECT doc_id, count(*)::BIGINT AS n_tokens,
        |  CAST(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(sum(CASE WHEN vocab.w IS NULL THEN 1 ELSE 0 END) * 1000000
        |    // count(*) AS BIGINT) AS oov_e6
        |FROM toks LEFT JOIN vocab ON toks.w = vocab.w
        |GROUP BY doc_id""".stripMargin)),

    // ---- spelling-variant pairs (SymSpell deletion-neighborhood join) ---
    // The fuzzy dictionary join: vocabulary words within edit distance 1
    // of each other, found WITHOUT an all-pairs scan via the SymSpell
    // blocking identity — every distance-≤1 pair shares a key in
    // {word} ∪ {its 1-deletions} (substitution → same deletion position;
    // insert/delete → the shorter word IS a deletion of the longer).
    // Candidates equi-join on the key (vocabulary-bounded fanout: each
    // word emits len+1 keys), then the exact Levenshtein verifies —
    // lossless blocking + cheap verify, the er_record_linkage discipline
    // applied to strings. 100 TB: vocabulary table ≪ corpus; the deletion
    // explode is linear in vocabulary bytes.
    CatalogQuery("txt_spell_variant_pairs", (s, d) => {
      // the synthetic corpus draws words from a clean vocabulary with no
      // natural near-variants, so every 37th document plants an
      // 'x'-prefixed copy of its first word — a deterministic distance-1
      // insertion both engines construct identically; the operator must
      // FIND them (a 0-row gate would prove nothing)
      val planted = concat(col("text"),
        when(col("doc_id") % 37 === 0,
          concat(lit(" x"), expr("substring_index(text, ' ', 1)")))
          .otherwise(lit("")))
      val words = Tables.documents(s, d)
        .select(planted.as("text"))
        .withColumn("norm", expr(
          "trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', ''), ' +', ' '))"))
        .select(explode(split(col("norm"), " ")).as("w"))
        .filter(length(col("w")) >= 4)
        .distinct()
      val keys = words.select(col("w"), explode(expr(
        """concat(array(w), transform(sequence(1, length(w)),
          | i -> concat(substr(w, 1, CAST(i - 1 AS INT)),
          |             substr(w, CAST(i + 1 AS INT)))))""".stripMargin)).as("k"))
      val cand = keys.as("a").join(keys.as("b"),
          col("a.k") === col("b.k") && col("a.w") < col("b.w"))
        .select(col("a.w").as("w1"), col("b.w").as("w2"))
        .distinct()
      cand.filter(levenshtein(col("w1"), col("w2")) <= 1)
        .withColumn("dist", levenshtein(col("w1"), col("w2")).cast("long"))
    }, Some(
      """WITH planted AS (
        |  SELECT text || CASE WHEN doc_id % 37 = 0
        |    THEN ' x' || split_part(text, ' ', 1) ELSE '' END AS text
        |  FROM documents),
        |words AS (
        |  SELECT DISTINCT w FROM (
        |    SELECT unnest(string_split(trim(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z ]', '', 'g'), ' +', ' ', 'g')), ' ')) AS w
        |    FROM planted) t
        |  WHERE len(w) >= 4),
        |keys AS (
        |  SELECT w, unnest(list_prepend(w, list_transform(range(1, len(w) + 1),
        |    i -> substring(w, 1, i - 1) || substring(w, i + 1)))) AS k
        |  FROM words),
        |cand AS (
        |  SELECT DISTINCT a.w AS w1, b.w AS w2
        |  FROM keys a JOIN keys b ON a.k = b.k AND a.w < b.w)
        |SELECT w1, w2, CAST(levenshtein(w1, w2) AS BIGINT) AS dist
        |FROM cand WHERE levenshtein(w1, w2) <= 1""".stripMargin))
  )
}
