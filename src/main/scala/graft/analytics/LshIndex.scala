package graft.analytics

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Delta-maintained adaptive-LSH bucket index — the CDC twin of
  * [[ScaleOpsQueries.lshAdaptiveBuckets]] (r13 verdict #1: the k-NN build
  * loop re-bucketed the FULL live corpus every batch to seed LSH mates;
  * this maintains the bucket assignment as sink state instead, so a batch
  * pays only its own neighborhood).
  *
  * Why exact incremental maintenance is possible at all: in the
  * from-scratch adaptive build, bucket counts are STATIC within a pass
  * (splitting redistributes only the split bucket's own members), so a
  * node either splits at its first evaluation level or never — which
  * collapses the level-indexed algorithm to a pure function of prefix
  * counts:
  *
  *   leaf(v) = the first path prefix b_d of v (d = 0..6) whose live
  *             count ≤ cap, else the depth-6 prefix,
  *
  * where the path is b_0 = v's 6-bit table bucket and b_{d+1} = 2·b_d +
  * sign of split plane d (plane 12 + 6·tbl + d of the 24-plane sign
  * vector — exactly lshAdaptiveBuckets' split planes, since split level ≡
  * depth). Prefix counts at or above the current leaves are rollups of
  * leaf counts (every live vector sits in exactly one leaf on its own
  * path); counts below a leaf need member sign bits, which the index
  * stores per row — PACKED: a row carries only its own table's six
  * split-plane signs as one long (`sbits`, bit d = depth-d plane), not
  * the 24-value array, so the member sink stays 5 scalar columns and its
  * scans/merges stay cheap. A change batch updates the structure EXACTLY
  * by:
  *
  *   1. descend arrivals/departures through the old leaf set (one
  *      broadcast join against O(#leaves) rows, arrivals and departures
  *      tagged through a single pass) → per-node count deltas (an
  *      arrival whose path exits the structure lands on its first
  *      UNCOVERED prefix — a virtual zero-count leaf, disjoint from all
  *      existing leaves, so the handed-to-solve partition stays exact);
  *   2. a driver-side trie solve over the new counts + their rollups
  *      (cap drift included — cap is re-evaluated per batch): regions
  *      stay, SPLIT (count > cap, depth < 6), or MERGE up into the
  *      highest ancestor with count ≤ cap;
  *   3. structurally-changed regions rewrite from bucket point reads of
  *      exactly their own members (+ the batch's arrivals): a split
  *      cascades locally (≤ 6 bounded rounds over one bucket's members),
  *      a merge re-keys the gathered members at the target.
  *
  * State: `lshb` rows (tbl, nbits, bucket, vec_id, sbits) pk-keyed on
  * the first four, bucket-hashed on the (tbl, nbits, bucket) PREFIX so
  * "members of this bucket" is a point read; `lshcnt` one row per leaf
  * (tbl, nbits, bucket, n). 100 TB: #leaves ≈ 2N/cap = 2√N under the √N
  * cap — the same manifest-sized metadata class as per-segment index
  * stats — and per-batch cost is O(batch·7 descent rows + √N counts +
  * changed-region members), never O(corpus). The from-scratch build
  * stays what the oracle replays per batch; equality is pinned by
  * LshIndexSpec (including forced splits, merges, and cap drift) and
  * hash-gated by the maintained-graph entries.
  */
private[analytics] object LshIndex {

  /** Maximum split depth (bits beyond the 6-bit root) — must equal
    * [[ScaleOpsQueries.LshSplitLevels]] (asserted where the build loop
    * wires the two together).
    */
  val MaxDepth: Int = 6

  final case class Node(tbl: Int, nbits: Int, bucket: Long) {
    def depth: Int = nbits - 6
    def child(bit: Long): Node = Node(tbl, nbits + 1, bucket * 2 + bit)
    /** The depth-d prefix of this node's path (d ≤ depth). */
    def prefix(d: Int): Node = Node(tbl, 6 + d, bucket >> (depth - d))
  }

  /** Driver-side structure decision for one batch (pure): given old leaf
    * counts and the new counts per region key (old leaves merged with the
    * batch's deltas, virtual zero-count keys included for arrivals into
    * uncovered prefixes), classify every region of the new structure.
    *
    * @param stable  region keys that remain leaves unchanged in place,
    *                with their new count (arrival/departure row writes
    *                only)
    * @param merges  (target ancestor, ALL region keys under it, count) —
    *                stored members of the old-leaf keys plus arrivals at
    *                any key re-key at the target
    * @param splits  region keys whose count > cap at depth < 6 — members
    *                (+ arrivals) cascade distributed
    * @param removed old leaves that stop existing as-is (merged, split,
    *                or emptied) — lshcnt tombstone candidates
    */
  final case class Solution(
      stable: Map[Node, Long],
      merges: Seq[(Node, Seq[Node], Long)],
      splits: Seq[Node],
      removed: Seq[Node])

  private[analytics] def solve(
      oldLeaves: Map[Node, Long], newCounts: Map[Node, Long], cap: Long)
      : Solution = {
    val totals = scala.collection.mutable.Map.empty[Node, Long]
    val keysUnder = scala.collection.mutable.Map.empty[Node, List[Node]]
    newCounts.foreach { case (key, n) =>
      (0 to key.depth).foreach { d =>
        val p = key.prefix(d)
        totals(p) = totals.getOrElse(p, 0L) + n
        keysUnder(p) = key :: keysUnder.getOrElse(p, Nil)
      }
    }
    val stable = Map.newBuilder[Node, Long]
    val merges = Seq.newBuilder[(Node, Seq[Node], Long)]
    val splits = Seq.newBuilder[Node]
    val survivors = scala.collection.mutable.Set.empty[Node]
    def walk(n: Node): Unit = {
      val t = totals.getOrElse(n, 0L)
      if (t == 0L) () // empty region: no leaf exists here
      else if (t <= cap || n.depth == MaxDepth) {
        keysUnder(n) match {
          case List(k) if k == n => stable += n -> t; survivors += n
          case region => merges += ((n, region, t))
        }
      } else keysUnder(n) match {
        // over-cap at the region-key frontier: this key's members (plus
        // its arrivals) split; the cascade owns everything below
        case List(k) if k == n => splits += n
        case _ => walk(n.child(0)); walk(n.child(1))
      }
    }
    newCounts.keys.map(_.prefix(0)).toSet.toSeq
      .sortBy((r: Node) => (r.tbl, r.bucket)).foreach(walk(_))
    val gone = oldLeaves.keys.filterNot(survivors.contains).toSeq
    Solution(stable.result(), merges.result(), splits.result(), gone)
  }

  /** (vec_id, tbl, b0, sbits) for both tables: b0 the 6-bit root bucket,
    * sbits this table's six split-plane signs packed bit-d-at-depth-d
    * (planes 12 + 6·tbl + d of the 24-plane sign vector).
    */
  private def signRows(vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"),
        posexplode(GraftFunctions.lsh_buckets(col("embedding"), 2, 6)),
        GraftFunctions.lsh_buckets(col("embedding"), 24, 1).as("sb"))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "b0")
      .withColumn("sbits", expr(
        """aggregate(sequence(0, 5), CAST(0 AS BIGINT), (acc, d) ->
          |  acc + shiftleft(element_at(sb, CAST(13 + tbl * 6 + d AS INT)),
          |                  CAST(d AS INT)))""".stripMargin))
      .drop("sb")

  /** The 7 path prefixes as struct(nbits, bucket): shift the root left
    * and fold in split-plane signs MSB-first, exactly lshAdaptiveBuckets'
    * bucket·2+bit (d, j are lambda vars in `transform`/`aggregate`).
    */
  private val pathExpr: Column = expr(
    """transform(sequence(0, 6), d -> struct(
      |  CAST(d + 6 AS INT) AS nbits,
      |  shiftleft(b0, CAST(d AS INT)) + CASE WHEN d = 0 THEN CAST(0 AS BIGINT)
      |    ELSE aggregate(sequence(0, CAST(d - 1 AS INT)), CAST(0 AS BIGINT),
      |                   (acc, j) -> acc * 2 +
      |                     (shiftright(sbits, CAST(j AS INT)) & 1)) END
      |    AS bucket))""".stripMargin)

  private def nodeDf(s: SparkSession, ns: Iterable[Node]): DataFrame = {
    import s.implicits._
    ns.toSeq.map(n => (n.tbl, n.nbits, n.bucket)).toDF("tbl", "nbits", "bucket")
  }

  /** Assign each (vec_id, tbl, b0, sbits, t) row its region key under the
    * old structure: the unique leaf on its path, or — when its path exits
    * the structure — its first prefix that is neither a leaf nor an
    * ancestor of one (a virtual zero-count leaf, disjoint from every
    * existing leaf by construction). The `t` tag column rides along and
    * participates in row identity (one vector can descend twice in one
    * call: once as a departure at its old signs, once as an arrival at
    * its new ones). Output: (vec_id, tbl, t, sbits, nbits, bucket).
    */
  private def descend(s: SparkSession, rows: DataFrame,
      leaves: Iterable[Node]): DataFrame = {
    val leafSeq = leaves.toSeq
    val covered: Set[Node] =
      leafSeq.flatMap(l => (0 to l.depth).map(l.prefix)).toSet
    val leafDf = broadcast(nodeDf(s, leafSeq))
    val paths = rows.select(col("vec_id"), col("tbl"), col("t"), col("b0"),
        col("sbits"), explode(pathExpr).as("p"))
      .select(col("vec_id"), col("tbl"), col("t"), col("b0"), col("sbits"),
        col("p.nbits").as("nbits"), col("p.bucket").as("bucket"))
    val matched = paths.join(leafDf, Seq("tbl", "nbits", "bucket"))
      .select(col("vec_id"), col("tbl"), col("t"), col("sbits"),
        col("nbits"), col("bucket"))
    val coveredDf = broadcast(nodeDf(s, covered).withColumn("cov", lit(1)))
    val unmatched = paths
      .join(matched.select(col("vec_id"), col("tbl"), col("t")),
        Seq("vec_id", "tbl", "t"), "left_anti")
      .join(coveredDf, Seq("tbl", "nbits", "bucket"), "left")
      .filter(col("cov").isNull)
      .groupBy(col("vec_id"), col("tbl"), col("t"))
      .agg(min(struct(col("nbits"), col("bucket"))).as("m"),
        first(col("sbits")).as("sbits"))
      .select(col("vec_id"), col("tbl"), col("t"), col("sbits"),
        col("m.nbits").as("nbits"), col("m.bucket").as("bucket"))
    matched.unionByName(unmatched)
  }

  /** Local split cascade over the gathered members of over-cap region
    * keys — the same rule as the from-scratch build, restricted to
    * exactly these rows: while any (tbl, nbits, bucket) holds more than
    * `cap` members below depth 6, append that depth's split-plane sign
    * (bit nbits−6 of the member's packed sbits). Bounded by [[MaxDepth]]
    * rounds, each a broadcast join over the gathered members only.
    */
  private def splitCascade(members0: DataFrame, cap: Long): DataFrame = {
    var cur = members0.localCheckpoint()
    var rounds = 0
    var done = false
    while (!done && rounds < MaxDepth) {
      val over = cur.filter(col("nbits") < lit(6 + MaxDepth))
        .groupBy(col("tbl"), col("nbits"), col("bucket"))
        .agg(count(lit(1)).as("n")).filter(col("n") > cap)
        .select(col("tbl"), col("nbits"), col("bucket"), lit(1).as("ovr"))
        .localCheckpoint()
      if (over.isEmpty) done = true
      else {
        cur = cur.join(broadcast(over), Seq("tbl", "nbits", "bucket"), "left")
          .select(col("vec_id"), col("tbl"), col("sbits"),
            when(col("ovr").isNotNull, col("nbits") + 1)
              .otherwise(col("nbits")).cast("int").as("nbits"),
            when(col("ovr").isNotNull, col("bucket") * 2 +
              expr("shiftright(sbits, nbits - 6) & CAST(1 AS BIGINT)"))
              .otherwise(col("bucket")).as("bucket"))
          .localCheckpoint()
        rounds += 1
      }
    }
    cur
  }

  /** Current leaf counts, driver-side. Bounded: leaves ≈ 2N/cap (two
    * tables × N/cap) = ~2√N under the √N cap — the manifest-sized
    * metadata class. The cap-vs-bound arithmetic, explicit: the 1<<20
    * guard fires at 2√N > 2^20, i.e. N ≳ 2^38 ≈ 2.7e11 vectors
    * (≈ 100 TB of 256-byte embedding rows). The stated remedy — raise
    * the bucket cap above √N (cap = N/2^19 pins leaves at the bound) —
    * is NOT a free knob: wider buckets mean more mates per touched
    * vector in [[matesFor]] and earlier pressure on its ≤ 5%
    * truncation gate, so crossing 2.7e11 vectors trades per-batch mate
    * fan-out (or split depth) for driver-side leaf-table size. The
    * guard exists to make that trade loud at the boundary instead of
    * silently OOMing the driver.
    */
  def readLeaves(cnt: graft.sinks.SnapshotSink): Map[Node, Long] =
    graft.core.Bounded.collect(
      cnt.read().select(col("tbl"), col("nbits"), col("bucket"), col("n")),
      1 << 20, "LshIndex/leaves",
      "the leaf-count table must stay manifest-sized (~2*sqrt(N) leaves " +
        "under the sqrt-N cap; this bound fires at N ~ 2.7e11 vectors) — " +
        "raise the bucket cap above sqrt(N) so leaves stay bounded, " +
        "accepting wider buckets (more mates per touched vector and " +
        "earlier 5%-truncation-gate pressure; see readLeaves scaladoc)")
      .map(r => Node(r.getInt(0), r.getInt(1), r.getLong(2)) -> r.getLong(3))
      .toMap

  /** Build the index from scratch (batch 0) — the same assignment as the
    * base build's lshAdaptiveBuckets pass (pass the base build's OWN
    * checkpointed bkf via `bkf0` to avoid recomputing it), with the
    * packed sign bits attached for future splits. Returns the leaf-count
    * map.
    */
  def initFromScratch(s: SparkSession, lshb: graft.sinks.SnapshotSink,
      cnt: graft.sinks.SnapshotSink, vecs: DataFrame, cap: Long,
      bkf0: Option[DataFrame] = None): Map[Node, Long] = {
    val bkf = bkf0.getOrElse(ScaleOpsQueries.lshAdaptiveBuckets(
      vecs.select(col("vec_id"), col("embedding")), cap))
    val rows = bkf.join(signRows(vecs).drop("b0"), Seq("vec_id", "tbl"))
      .select(col("tbl"), col("nbits"), col("bucket"), col("vec_id"), col("sbits"))
      .localCheckpoint()
    lshb.merge(rows
      .withColumn("op", lit(graft.core.ChangeLog.Insert)).withColumn("seq", lit(0L)))
    val counts = rows.groupBy(col("tbl"), col("nbits"), col("bucket"))
      .agg(count(lit(1)).as("n")).localCheckpoint()
    cnt.merge(counts
      .withColumn("op", lit(graft.core.ChangeLog.Insert)).withColumn("seq", lit(0L)))
    graft.core.Bounded.collect(counts, 1 << 20, "LshIndex/init",
      "the leaf-count table must stay manifest-sized — raise the bucket cap")
      .map(r => Node(r.getInt(0), r.getInt(1), r.getLong(2)) -> r.getLong(3))
      .toMap
  }

  /** Result of one [[applyBatch]]: the new leaf counts, plus — scan
    * regime only — the checkpointed from-scratch assignment frame
    * (vec_id, tbl, nbits, bucket) so same-batch mates consumers join it
    * directly instead of point-reading state the rebuild just wrote.
    */
  final case class BatchResult(leaves: Map[Node, Long], scanBkf: Option[DataFrame])

  /** Per-batch cost-based regime switch (r14 verdict #1). The delta
    * path's cost tracks the BATCH (descend + structurally-changed
    * regions + their point reads); the scan path's tracks the CORPUS
    * (one adaptive re-bucket pass + a full-state diff merge). When a
    * batch is a large fraction of live state (backfills, bulk loads,
    * the harness build's ~17% batches), bucket pruning cannot fire and
    * the delta loop pays its per-job fixed overhead for nothing — r14
    * measured the delta-always build +38% at 10× vs the r13 scan-always
    * code. The decision input is FREE: the caller maintains the live
    * count by batch arithmetic and the batch row count from its own
    * change frames; no state is read to decide. Crossover measured at
    * 10×/sf0.1 (same staged dir): delta ≈ 9.9 s/batch at a 17% batch
    * vs scan ≈ 5 s — while a fixed 4.4% batch reads ~flat under delta
    * and would pay the full corpus pass under scan. The threshold sits
    * between those regimes; both paths produce the identical
    * from-scratch assignment (LshIndexSpec pins rows, counts, and mates
    * equal through forced switches both ways).
    */
  val ScanRegimeBatchFraction: Double = 0.08

  /** The crossover predicate — true when the batch should take the scan
    * regime. `batchRows` is the caller's batch-size measure (change keys
    * or images), `liveRows` the live count it maintains by arithmetic.
    */
  def scanRegime(batchRows: Long, liveRows: Long): Boolean =
    liveRows > 0L &&
      batchRows.toDouble / liveRows.toDouble >= ScanRegimeBatchFraction

  /** Apply one change batch in the caller-decided regime (callers share
    * ONE [[scanRegime]] decision across every read of their batch loop):
    * [[maintainBatch]] when `scan` is false, [[rebuildBatch]] when true.
    * `liveVecs` is only evaluated in the scan regime (the one declared
    * corpus-sized read of that path).
    */
  def applyBatch(s: SparkSession, lshb: graft.sinks.SnapshotSink,
      cnt: graft.sinks.SnapshotSink, arrivals: DataFrame, departures: DataFrame,
      cap: Long, seqNo: Long, scan: Boolean,
      liveVecs: => DataFrame): BatchResult =
    if (scan) {
      val (leaves, bkf) = graft.core.Prof.time("lshidx/rebuild") {
        rebuildBatch(s, lshb, cnt, liveVecs, cap, seqNo)
      }
      BatchResult(leaves, Some(bkf))
    } else
      BatchResult(
        maintainBatch(s, lshb, cnt, arrivals, departures, cap, seqNo), None)

  /** Scan-regime batch application: ONE from-scratch adaptive re-bucket
    * of the full live set (exactly the oracle's per-batch replay), then
    * an epoch write — [[graft.sinks.SnapshotSink.replace]] commits the
    * new assignment as the whole snapshot in one manifest rename, so no
    * old generation is read and no tombstones are computed (the batch IS
    * the full new state). Returns the new leaf map plus the checkpointed
    * assignment frame for same-batch mates consumers.
    */
  private def rebuildBatch(s: SparkSession, lshb: graft.sinks.SnapshotSink,
      cnt: graft.sinks.SnapshotSink, liveVecs: DataFrame, cap: Long,
      seqNo: Long): (Map[Node, Long], DataFrame) = {
    // ONE checkpoint: the assignment pass consumes the input once and
    // emits the packed sign bits itself (no second sign pass, no join);
    // the member-row projection below stays narrow-over-materialized, so
    // replace's defensive copy elides
    val bkfS = ScaleOpsQueries.lshAdaptiveBucketsWithSigns(
      liveVecs.select(col("vec_id"), col("embedding")), cap).localCheckpoint()
    lshb.replace(bkfS
      .select(col("tbl"), col("nbits"), col("bucket"), col("vec_id"), col("sbits"))
      .withColumn("op", lit(graft.core.ChangeLog.Update))
      .withColumn("seq", lit(seqNo)))
    val oldLeaves = readLeaves(cnt)
    val newLeaves = graft.core.Bounded.collect(
      bkfS.groupBy(col("tbl"), col("nbits"), col("bucket"))
        .agg(count(lit(1)).as("n")),
      1 << 20, "LshIndex/rebuildCounts",
      "the leaf-count table must stay manifest-sized — raise the bucket cap")
      .map(r => Node(r.getInt(0), r.getInt(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    commitLeafCounts(s, cnt, oldLeaves, newLeaves, seqNo)
    (newLeaves, bkfS.select(col("vec_id"), col("tbl"), col("nbits"), col("bucket")))
  }

  /** Write the leaf-count delta: changed counts as updates, vanished
    * leaves as tombstones — driver-side map arithmetic, one tiny merge.
    */
  private def commitLeafCounts(s: SparkSession, cnt: graft.sinks.SnapshotSink,
      oldLeaves: Map[Node, Long], newLeaves: Map[Node, Long], seqNo: Long): Unit = {
    import s.implicits._
    val changedRows = newLeaves.toSeq
      .filter { case (n, c) => !oldLeaves.get(n).contains(c) }
      .map { case (n, c) => (n.tbl, n.nbits, n.bucket, c, graft.core.ChangeLog.Update) }
    val removedRows = oldLeaves.keys
      .filterNot(newLeaves.contains).toSeq.distinct
      .map(n => (n.tbl, n.nbits, n.bucket, 0L, graft.core.ChangeLog.Delete))
    cnt.merge((changedRows ++ removedRows)
      .toDF("tbl", "nbits", "bucket", "n", "op")
      .withColumn("n", when(col("op") === graft.core.ChangeLog.Delete,
        lit(null).cast("bigint")).otherwise(col("n")))
      .withColumn("seq", lit(seqNo)))
  }

  /** Apply one change batch: `arrivals` are the post-batch images
    * (vec_id, embedding) of inserted/updated vectors, `departures` the
    * PRE-batch images of updated/deleted ones (their old positions
    * vacate). `cap` is this batch's capacity, re-evaluated from the
    * post-batch live count — cap drift re-shapes exactly the regions the
    * solve flags, nothing else. Returns the new leaf-count map for
    * same-batch consumers ([[matesFor]]).
    */
  def maintainBatch(s: SparkSession, lshb: graft.sinks.SnapshotSink,
      cnt: graft.sinks.SnapshotSink, arrivals: DataFrame, departures: DataFrame,
      cap: Long, seqNo: Long): Map[Node, Long] = {
    import s.implicits._
    val oldLeaves = graft.core.Prof.time("lshidx/leaves") { readLeaves(cnt) }
    // ONE descend pass over the tagged union (a vector can appear twice:
    // as a departure at its old signs and an arrival at its new ones)
    val ad = graft.core.Prof.time("lshidx/descend") {
      descend(s,
        signRows(arrivals).withColumn("t", lit("a"))
          .unionByName(signRows(departures).withColumn("t", lit("d"))),
        oldLeaves.keys).localCheckpoint()
    }
    val arr = ad.filter(col("t") === "a")
    val dep = ad.filter(col("t") === "d")
    // per-leaf deltas: ONE batch-sized aggregation collect
    val deltas: Map[Node, Long] = graft.core.Prof.time("lshidx/deltas") {
      graft.core.Bounded.collect(
        ad.groupBy(col("tbl"), col("nbits"), col("bucket"), col("t"))
          .agg(count(lit(1)).as("n")),
        1 << 20, "LshIndex/deltas",
        "per-batch node deltas are bounded by 4x the change batch — " +
          "shard oversized change batches into smaller micro-batches")
        .map(r => (Node(r.getInt(0), r.getInt(1), r.getLong(2)),
          if (r.getString(3) == "a") r.getLong(4) else -r.getLong(4)))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    }
    val newCounts = (oldLeaves.keySet ++ deltas.keySet).map { n =>
      n -> (oldLeaves.getOrElse(n, 0L) + deltas.getOrElse(n, 0L))
    }.toMap
    newCounts.foreach { case (n, c) =>
      require(c >= 0L, s"LshIndex: negative count at $n — a departure did " +
        "not match the index (stale departure image?)")
    }
    val sol = solve(oldLeaves, newCounts, cap)

    // stored members of region keys (bucket point reads on the keys that
    // actually exist as old leaves), minus this batch's departures
    def membersOf(region: Seq[Node]): DataFrame = {
      val stored = region.filter(oldLeaves.contains)
      val base =
        if (stored.isEmpty)
          ad.limit(0).select(col("vec_id"), col("tbl"), col("sbits"),
            col("nbits"), col("bucket"))
        else {
          val keys = nodeDf(s, stored)
          lshb.readBuckets(keys)
            .join(broadcast(keys), Seq("tbl", "nbits", "bucket"), "left_semi")
            .select(col("vec_id"), col("tbl"), col("sbits"),
              col("nbits"), col("bucket"))
        }
      base.join(dep.select(col("vec_id"), col("tbl")),
        Seq("vec_id", "tbl"), "left_anti")
    }
    def arrivalsAt(region: Seq[Node]): DataFrame =
      arr.join(broadcast(nodeDf(s, region)),
          Seq("tbl", "nbits", "bucket"), "left_semi")
        .select(col("vec_id"), col("tbl"), col("sbits"),
          col("nbits"), col("bucket"))

    // ---- new row placements -----------------------------------------------
    val stableArr = arrivalsAt(sol.stable.keys.toSeq)
      .select(col("tbl"), col("nbits"), col("bucket"), col("vec_id"), col("sbits"))
    val mergeRegion = sol.merges.flatMap(_._2)
    val mergedRows =
      if (sol.merges.isEmpty) None
      else {
        val mapDf = broadcast(sol.merges
          .flatMap { case (t, region, _) =>
            region.map(k => (k.tbl, k.nbits, k.bucket, t.nbits, t.bucket))
          }.toDF("tbl", "nbits", "bucket", "t_nbits", "t_bucket"))
        Some(membersOf(mergeRegion).unionByName(arrivalsAt(mergeRegion))
          .join(mapDf, Seq("tbl", "nbits", "bucket"))
          .select(col("tbl"), col("t_nbits").as("nbits"),
            col("t_bucket").as("bucket"), col("vec_id"), col("sbits")))
      }
    val splitRows =
      if (sol.splits.isEmpty) None
      else Some(splitCascade(
        membersOf(sol.splits).unionByName(arrivalsAt(sol.splits)), cap)
        .select(col("tbl"), col("nbits"), col("bucket"), col("vec_id"), col("sbits")))
    val placed = graft.core.Prof.time("lshidx/placed") {
      (Seq(stableArr) ++ mergedRows ++ splitRows)
        .reduce(_ unionByName _).localCheckpoint()
    }

    // ---- vacated keys -------------------------------------------------------
    // every key that held a row and is not re-placed identically:
    // departures at their old keys, plus all stored rows of restructured
    // regions (merged or split old leaves)
    val changedOld = (mergeRegion ++ sol.splits).filter(oldLeaves.contains)
    val storedChanged =
      if (changedOld.isEmpty)
        ad.limit(0).select(col("tbl"), col("nbits"), col("bucket"), col("vec_id"))
      else {
        val keys = nodeDf(s, changedOld)
        lshb.readBuckets(keys)
          .join(broadcast(keys), Seq("tbl", "nbits", "bucket"), "left_semi")
          .select(col("tbl"), col("nbits"), col("bucket"), col("vec_id"))
      }
    val vacated = dep
      .select(col("tbl"), col("nbits"), col("bucket"), col("vec_id"))
      .unionByName(storedChanged)
      .distinct()
      .join(placed.select(col("tbl"), col("nbits"), col("bucket"), col("vec_id")),
        Seq("tbl", "nbits", "bucket", "vec_id"), "left_anti")

    graft.core.Prof.time("lshidx/merge") {
      lshb.merge(placed.withColumn("op", lit(graft.core.ChangeLog.Update))
        .unionByName(vacated
          .withColumn("sbits", lit(null).cast("bigint"))
          .select(col("tbl"), col("nbits"), col("bucket"), col("vec_id"), col("sbits"))
          .withColumn("op", lit(graft.core.ChangeLog.Delete)))
        .withColumn("seq", lit(seqNo)))
    }

    // ---- leaf counts ---------------------------------------------------------
    val cascadeCounts: Map[Node, Long] = splitRows match {
      case None => Map.empty
      case Some(rows) =>
        graft.core.Bounded.collect(
          rows.groupBy(col("tbl"), col("nbits"), col("bucket"))
            .agg(count(lit(1)).as("cn")),
          1 << 20, "LshIndex/cascadeCounts",
          "cascade output leaves are bounded by the split regions' " +
            "member count / cap — the leaf-table (manifest-sized) class")
          .map(r => Node(r.getInt(0), r.getInt(1), r.getLong(2)) -> r.getLong(3))
          .toMap
    }
    val newLeaves: Map[Node, Long] =
      sol.stable.filter(_._2 > 0L) ++
        sol.merges.map { case (t, _, n) => t -> n } ++ cascadeCounts
    commitLeafCounts(s, cnt, oldLeaves, newLeaves, seqNo)
    newLeaves
  }

  /** LSH candidate mates for the `touched` vectors (vec_id + current
    * embedding): each touched vector pairs with the first-`cap`-by-id
    * members of its own leaf in BOTH tables — the same pair set as the
    * from-scratch bkf ⋈ bkcap join, produced from point reads of exactly
    * the touched leaves' buckets. The ≤ 5% residual-truncation gate is
    * evaluated from the maintained leaf counts (free — no state scan).
    */
  /** The ≤ 5% residual-truncation gate, evaluated for free from the
    * maintained leaf counts (no state scan) — shared by both mates
    * paths. */
  private def truncationGate(leaves: Map[Node, Long], cap: Long,
      site: String): Unit = {
    val dropped = leaves.valuesIterator.map(n => math.max(n - cap, 0L)).sum
    val total = leaves.valuesIterator.sum
    require(dropped * 20 <= total,
      s"$site: LSH bucket truncation $dropped/$total exceeds the declared 5% " +
        "regime — deepen the split depth so dense regions split instead of " +
        "dropping candidates")
  }

  /** Scan-regime twin of [[matesFor]]: the same pair set (each touched
    * vector × the first-`cap`-by-id members of its leaf, both tables)
    * computed directly from the batch's own from-scratch assignment
    * frame — no descend, no sink read; the rebuild that produced `bkf`
    * IS the current state. `touched` carries vec_id only.
    */
  def matesFromBkf(bkf: DataFrame, leaves: Map[Node, Long], touched: DataFrame,
      cap: Long, site: String): DataFrame = {
    truncationGate(leaves, cap, site)
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tbl"), col("nbits"), col("bucket")).orderBy(col("vec_id"))
    val capped = bkf.withColumn("brn", row_number().over(wB))
      .filter(col("brn") <= cap)
      .select(col("tbl"), col("nbits"), col("bucket"), col("vec_id").as("v"))
    bkf.join(touched.select(col("vec_id")), Seq("vec_id"), "left_semi")
      .select(col("tbl"), col("nbits"), col("bucket"), col("vec_id").as("u"))
      .join(capped, Seq("tbl", "nbits", "bucket"))
      .filter(col("u") =!= col("v"))
      .select(col("u"), col("v"))
  }

  def matesFor(s: SparkSession, lshb: graft.sinks.SnapshotSink,
      leaves: Map[Node, Long], touched: DataFrame, cap: Long, site: String)
      : DataFrame = {
    truncationGate(leaves, cap, site)
    val tRows = descend(s, signRows(touched).withColumn("t", lit("q")),
      leaves.keys).localCheckpoint()
    val leafKeys = tRows.select(col("tbl"), col("nbits"), col("bucket")).distinct()
      .localCheckpoint()
    val members = lshb.readBuckets(leafKeys)
      .join(leafKeys, Seq("tbl", "nbits", "bucket"), "left_semi")
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("tbl"), col("nbits"), col("bucket")).orderBy(col("vec_id"))
    val capped = members.withColumn("brn", row_number().over(wB))
      .filter(col("brn") <= cap)
      .select(col("tbl"), col("nbits"), col("bucket"), col("vec_id").as("v"))
    tRows.select(col("tbl"), col("nbits"), col("bucket"), col("vec_id").as("u"))
      .join(capped, Seq("tbl", "nbits", "bucket"))
      .filter(col("u") =!= col("v"))
      .select(col("u"), col("v"))
  }
}
