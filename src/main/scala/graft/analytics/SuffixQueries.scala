package graft.analytics

import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed suffix array + LCP over the corpus token stream, and the
  * exact substring-repeat excision they enable — the REAL result of
  * Lee et al., "Deduplicating Training Data Makes Language Models
  * Better" (ACL'22), which `ddp_maximal_shared_spans` (IndexQueries)
  * approximates with k-shingle anchors. The suffix array gives EXACT
  * arbitrary-length repeat detection: no anchor width to tune, no df
  * guard, no diagonal heuristics.
  *
  * Construction is prefix doubling (Manber–Myers), the standard
  * distributed-memory approach (Flick & Aluru, "Parallel distributed
  * memory construction of suffix and LCP arrays", SC'15): rank every
  * position by its token, then for k = 1, 2, 4, ... re-rank by the pair
  * (rank(i), rank(i + k)) until all ranks are distinct. Each round is
  * ONE dense-rank over the pair key — expressed with
  * [[Q.globalRowNumber]] over the DISTINCT pairs (range-repartition +
  * partitioned local rank + config-bounded offsets; no single-partition
  * sort anywhere) joined back, which is exactly `dense_rank()`. The
  * whole build is O(log n) rounds of O(n) shuffles — the honest
  * communication cost of a distributed suffix array; at 100 TB each
  * round is a sort-class shuffle and the round count is ~40, so this is
  * a deliberately heavy offline index, built once and reused (the
  * per-dataset cache below is that reuse in harness form).
  *
  * The per-document sentinel (a '\u0001'-prefixed token, unique per
  * doc) terminates every suffix at its document boundary: a repeat can
  * never span documents, every suffix is globally unique (the classic
  * `$` argument), and convergence within ceil(log2 n) rounds is
  * guaranteed. LCP of SA-adjacent suffixes is then computed from the
  * SAVED rank tables: fold levels high→low, adding 2^j when the
  * level-j ranks at offset l agree — O(log n) bounded equi-joins, the
  * standard rank-table LCP (no sequential Kasai pass, which does not
  * distribute).
  *
  * Oracle: DuckDB replays the SAME algebra — the dense-rank chain as
  * materialized CTEs r0..rR (levels past convergence are provably
  * identity: dense_rank over (unique r, r2) = r, so fixed R = 14 covers
  * the sf0.01 oracle corpus — 2^14 ≥ its ~6.8k-token stream — with
  * slack; the Spark side sizes its own round count dynamically), then
  * the same level-fold for LCP. Integer-exact end to end; token order
  * is binary UTF-8 in both engines.
  *
  * The corpus subset (every 4th doc) keeps the harness build small;
  * production runs the full stream. Docs with doc_id % 28 == 0 get a
  * planted 10-token shared paragraph so exact repeats >= the excision
  * threshold provably exist at every SF (and give the spec a pinnable
  * first-occurrence invariant).
  */
object SuffixQueries {

  private val plantedTokens: Seq[String] = (0 to 9).map(i => s"xrep$i")
  private val minLen = 8L // excision threshold L (tokens)
  private val maxRounds = 24 // 2^24 = 16M stream tokens; lever: shard the corpus
  private val oracleRounds = 14 // 2^14 = 16384 >= any sf0.01 stream; extra levels are identity

  // ---- Spark side ----------------------------------------------------------

  /** Token stream of the doc subset: (pos, doc_id, tpos, tok), pos a
    * global 0-based position in (doc_id, tpos) order, one sentinel token
    * appended per doc.
    */
  private def tokenStream(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).filter(col("doc_id") % 4 === 0)
      .select(col("doc_id"),
        when(col("doc_id") % 28 === 0,
          concat(col("text"), lit(" " + plantedTokens.mkString(" "))))
          .otherwise(col("text")).as("text"))
    val toks = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("tpos", "tok")))
    val sent = docs.select(col("doc_id"),
      size(split(col("text"), " ")).as("tpos"),
      concat(lit("\u0001"), col("doc_id").cast("string")).as("tok"))
    Q.globalRowNumber(
        toks.unionByName(sent).withColumn("tpos", col("tpos").cast("long")),
        Seq(col("doc_id"), col("tpos")), "pos1")
      .withColumn("pos", col("pos1") - 1).drop("pos1")
  }

  /** Prefix-doubling rank tables R(0)..R(J): table j ranks positions by
    * their first 2^j tokens; R(J) has all-distinct ranks (J <= ceil(log2
    * n), guaranteed by the per-doc sentinels) so R(J) IS the suffix
    * array (rank = 1-based SA position). Every table is checkpointed —
    * each is read by the next round AND by the LCP fold.
    */
  private def suffixRankTables(stream: DataFrame, entry: String)
      : (Seq[DataFrame], Long) = {
    val vocab = stream.select(col("tok")).distinct()
    val v0 = Q.globalRowNumber(vocab, Seq(col("tok")), "r")
    var cur = stream.join(v0, Seq("tok"))
      .select(col("pos"), col("r")).localCheckpoint()
    val n = cur.count()
    val tables = scala.collection.mutable.ArrayBuffer(cur)
    var gap = 1L
    var round = 0
    // ranks are DENSE (1..#distinct) by construction, so max == #distinct:
    // the convergence probe is a shuffle-free agg, not a countDistinct
    var nDistinct = cur.agg(max(col("r"))).head.getLong(0)
    while (nDistinct < n && round < maxRounds) {
      val shifted = cur.select((col("pos") - gap).as("pos"), col("r").as("r2"))
      val paired = cur.join(shifted, Seq("pos"), "left")
        .select(col("pos"), col("r"), coalesce(col("r2"), lit(0L)).as("r2"))
      val dp = paired.select(col("r"), col("r2")).distinct()
      val ranked = Q.globalRowNumber(dp, Seq(col("r"), col("r2")), "nr")
      cur = paired.join(ranked, Seq("r", "r2"))
        .select(col("pos"), col("nr").as("r")).localCheckpoint()
      tables += cur
      gap *= 2
      round += 1
      nDistinct = cur.agg(max(col("r"))).head.getLong(0)
    }
    require(nDistinct == n,
      s"$entry: suffix ranks not converged after $maxRounds doubling rounds " +
        s"(stream exceeds 2^$maxRounds tokens) — shard the corpus or raise maxRounds")
    (tables.toSeq, n)
  }

  /** (t, i, j, l): SA-adjacent pairs (rank t and t+1 at stream positions
    * i, j) with their exact LCP l, via the level fold over the saved
    * rank tables. Levels past the largest possible LCP contribute 0
    * automatically (their ranks are unique), which is what makes a
    * fixed-level oracle replay exact.
    */
  private def adjacentLcp(tables: Seq[DataFrame]): DataFrame = {
    val sa = tables.last
    var lcp = sa.as("a").join(sa.as("b"), col("b.r") === col("a.r") + 1)
      .select(col("a.r").as("t"), col("a.pos").as("i"), col("b.pos").as("j"))
      .withColumn("l", lit(0L))
    for (j <- (tables.size - 1) to 0 by -1) {
      val g = 1L << j
      val ra = tables(j).select(col("pos").as("__ip"), col("r").as("__ri"))
      val rb = tables(j).select(col("pos").as("__jp"), col("r").as("__rj"))
      lcp = lcp
        .join(ra, col("__ip") === col("i") + col("l"), "left")
        .join(rb, col("__jp") === col("j") + col("l"), "left")
        .withColumn("l",
          when(col("__ri").isNotNull && col("__ri") === col("__rj"),
            col("l") + g).otherwise(col("l")))
        .select(col("t"), col("i"), col("j"), col("l"))
      if (j % 4 == 0) lcp = lcp.localCheckpoint()
    }
    lcp
  }

  /** Per-dataset cache of the built artifacts (stream, SA, adjacent-LCP)
    * as PARQUET paths, the knnGraphCache discipline: the first entry
    * pays the construction, later ones read the written index. Paths —
    * not DataFrames — because cached frames bind to the SparkSession
    * that built them and die with it (a later reader in the same JVM
    * under a fresh session would execute a plan whose session is gone);
    * a path re-reads under WHATEVER session asks. It is also the honest
    * shape: a suffix array is an offline INDEX artifact, written once
    * and read by consumers.
    */
  private val saCache =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Refresh contract (the index's STALENESS semantics under CDC): the
    * suffix array is a build-once OFFLINE index — it answers as-of its
    * build, and the cache never invalidates within a session. Production
    * corpora grow; the policy is REBUILD-ON-GROWTH, not incremental
    * append: rebuild when the corpus grows past ~+25% since the last
    * build (the doubling chain is O(log n) rounds of O(n) shuffles, so a
    * rebuild at +25% costs ~1.25× the previous build — amortized O(1)
    * per ingested token under any geometric trigger), and consumers read
    * the previous index until the new path commits (the path swap is the
    * cutover). Incremental suffix insertion (merging new docs' suffixes
    * by rank lookup) saves less than it costs here: every new doc's
    * suffixes interleave arbitrarily in SA order, forcing a global
    * re-rank anyway — which is exactly one doubling-chain rebuild.
    * The 10× vs 30× rebuild cost measured near-linear (the round count
    * grows log-slowly, each round ∝ stream).
    */
  private def built(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    // synchronized around getOrElseUpdate: TrieMap alone may run the
    // builder TWICE when two catalog entries for the same dataset race
    // (both pay the full O(log n)-round build; the loser's scratch dirs
    // are orphaned until JVM exit) — same discipline as knnGraphCache
    val dir = saCache.synchronized { saCache.getOrElseUpdate(d, {
      val work = Q.scratch("sfxidx")
      val stream = tokenStream(s, d).localCheckpoint()
      val (tables, _) = suffixRankTables(stream, "txt_suffix_array_lcp")
      val lcp = adjacentLcp(tables)
      stream.write.parquet(s"$work/stream")
      tables.last.write.parquet(s"$work/sa")
      lcp.write.parquet(s"$work/lcp")
      work
    }) }
    (s.read.parquet(s"$dir/stream"), s.read.parquet(s"$dir/sa"),
      s.read.parquet(s"$dir/lcp"))
  }

  // ---- oracle SQL (generated, shared CTE prefix) ---------------------------

  /** The shared CTE chain: stream, r0..rR (dense-rank doubling), sa,
    * adjacent pairs, and the LCP level fold lR..l0.
    */
  private def saCtes: String = {
    val planted = plantedTokens.mkString(" ")
    val base =
      s"""docs AS MATERIALIZED (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 28 = 0 THEN text || ' $planted' ELSE text END AS text
         |  FROM documents WHERE doc_id % 4 = 0),
         |toks AS (
         |  SELECT doc_id, e.tpos AS tpos, e.tok AS tok FROM (
         |    SELECT doc_id, unnest(list_transform(
         |      range(0, len(string_split(text, ' '))),
         |      i -> {'tpos': i, 'tok': string_split(text, ' ')[i + 1]})) AS e
         |    FROM docs) t),
         |sent AS (
         |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS tpos,
         |    chr(1) || doc_id::VARCHAR AS tok
         |  FROM docs),
         |stream AS MATERIALIZED (
         |  SELECT row_number() OVER (ORDER BY doc_id, tpos) - 1 AS pos,
         |    doc_id, tpos, tok
         |  FROM (SELECT * FROM toks UNION ALL SELECT * FROM sent)),
         |r0 AS MATERIALIZED (
         |  SELECT pos, dense_rank() OVER (ORDER BY tok)::BIGINT AS r FROM stream)""".stripMargin
    val doubling = (1 to oracleRounds).map { k =>
      val gap = 1L << (k - 1)
      s"""r$k AS MATERIALIZED (
         |  SELECT pos, dense_rank() OVER (ORDER BY r, r2)::BIGINT AS r FROM (
         |    SELECT a.pos AS pos, a.r AS r, coalesce(b.r, 0) AS r2
         |    FROM r${k - 1} a LEFT JOIN r${k - 1} b ON b.pos = a.pos + $gap))""".stripMargin
    }
    // Convergence tripwire: a corpus whose distinguishing prefixes exceed
    // 2^oracleRounds tokens would leave duplicate ranks in the last table,
    // fan out the adj join, and surface as an opaque hash mismatch blaming
    // the Spark side. conv is one row whose `ok` is 1 iff max(rank) ==
    // stream length (dense ranks ⇒ all-distinct) and raises a DIAGNOSTIC
    // error otherwise; every consumer chains through adj, which REFERENCES
    // conv.ok in its WHERE — an unreferenced column would be pruned before
    // the error could fire. The CASE shape (not `cond OR error(..)`) is
    // deliberate: SQL does not guarantee OR operand order or laziness, but
    // CASE branches are conditionally evaluated by contract, so a converged
    // run can never trip the error under operand reordering.
    val adj =
      s"""conv AS (
         |  SELECT CASE
         |    WHEN (SELECT max(r) FROM r$oracleRounds) = (SELECT count(*) FROM stream) THEN 1
         |    ELSE error('suffix oracle: dense-rank chain not converged after $oracleRounds rounds — stream has a distinguishing prefix > 2^$oracleRounds tokens; raise oracleRounds')
         |  END AS ok),
         |adj AS (
         |  SELECT a.r AS t, a.pos AS i, b.pos AS j, 0::BIGINT AS l
         |  FROM r$oracleRounds a JOIN r$oracleRounds b ON b.r = a.r + 1
         |  CROSS JOIN conv WHERE conv.ok = 1)""".stripMargin
    val lcpLevels = (oracleRounds to 0 by -1).map { j =>
      val g = 1L << j
      val prev = if (j == oracleRounds) "adj" else s"l${j + 1}"
      s"""l$j AS MATERIALIZED (
         |  SELECT p.t AS t, p.i AS i, p.j AS j,
         |    CASE WHEN ra.r IS NOT NULL AND rb.r IS NOT NULL AND ra.r = rb.r
         |      THEN p.l + $g ELSE p.l END AS l
         |  FROM $prev p
         |  LEFT JOIN r$j ra ON ra.pos = p.i + p.l
         |  LEFT JOIN r$j rb ON rb.pos = p.j + p.l)""".stripMargin
    }
    (Seq(base) ++ doubling ++ Seq(adj) ++ lcpLevels).mkString(",\n")
  }

  /** Excised per-doc token intervals [start, end): every non-keeper
    * member of a >= L-token SA repeat run drops its repeated extent,
    * keep-first-occurrence (minimum corpus position labels the run via
    * the starFixpoint CC — no duplication-sized window). Shared by the
    * report entry and the apply entry so both are one algebra.
    */
  private def excisedIntervals(stream: DataFrame, sa: DataFrame,
      lcp: DataFrame): DataFrame = {
    val withEdges = stream.join(sa, Seq("pos"))
      .join(lcp.select(col("i").as("pos"), col("l").as("ln")), Seq("pos"), "left")
      .join(lcp.select(col("j").as("pos"), col("l").as("lp")), Seq("pos"), "left")
      .select(col("pos"), col("doc_id"), col("tpos"), col("r"),
        coalesce(col("ln"), lit(0L)).as("ln"),
        coalesce(col("lp"), lit(0L)).as("lp"))
      .withColumn("mr", greatest(col("ln"), col("lp")))
    val covered = withEdges.filter(col("mr") >= minLen).localCheckpoint()
    // run adjacency: rank-consecutive covered pairs with lcp >= L
    val edges = covered.as("a").join(covered.as("b"),
        col("b.r") === col("a.r") + 1 && col("a.ln") >= minLen)
      .select(col("a.pos").as("u"), col("b.pos").as("v"))
    val keepers = MiningQueries.starFixpoint(edges) // (vtx=pos, lbl=min pos of run)
    covered.join(keepers, covered("pos") === keepers("vtx"), "left")
      .filter(coalesce(col("lbl"), col("pos")) =!= col("pos"))
      .select(col("doc_id"), col("tpos").as("start"),
        (col("tpos") + col("mr")).as("end"))
  }

  /** DuckDB twin of [[excisedIntervals]] — CTE fragment ending in
    * `excised(doc_id, s, e)`; appended after [[saCtes]].
    */
  private def excisedCtes: String =
    s"""edged AS MATERIALIZED (
       |  SELECT s.pos AS pos, s.doc_id AS doc_id, s.tpos AS tpos, r.r AS rnk,
       |    coalesce(ln.l, 0) AS ln,
       |    greatest(coalesce(ln.l, 0), coalesce(lp.l, 0)) AS mr
       |  FROM stream s
       |  JOIN r$oracleRounds r ON r.pos = s.pos
       |  LEFT JOIN l0 ln ON ln.i = s.pos
       |  LEFT JOIN l0 lp ON lp.j = s.pos),
       |covered AS (SELECT * FROM edged WHERE mr >= $minLen),
       |runs AS (
       |  SELECT pos, doc_id, tpos, mr,
       |    sum(CASE WHEN plnk >= $minLen THEN 0 ELSE 1 END)
       |      OVER (ORDER BY rnk) AS grp
       |  FROM (
       |    SELECT c.*, coalesce(p.ln, 0) AS plnk
       |    FROM covered c
       |    LEFT JOIN covered p ON p.rnk = c.rnk - 1) t),
       |excised AS (
       |  SELECT doc_id, tpos AS s, tpos + mr AS e
       |  FROM (SELECT r.*, min(pos) OVER (PARTITION BY grp) AS keeper FROM runs r) t
       |  WHERE pos <> keeper)""".stripMargin

  // ---- entries -------------------------------------------------------------

  def all: Seq[CatalogQuery] = Seq(

    // The suffix array + LCP arrays themselves, row per corpus position
    // (sentinels excluded from the OUTPUT; they exist in the stream to
    // terminate suffixes): sa_rank is the 1-based lexicographic rank of
    // the suffix starting at pos, lcp_next its exact common-prefix
    // length with the SA-successor. This is the classic queryable index:
    // repeats of length >= L are precisely the SA runs with adjacent
    // lcp >= L.
    CatalogQuery("txt_suffix_array_lcp", (s, d) => {
      val (stream, sa, lcp) = built(s, d)
      stream.filter(!col("tok").startsWith("\u0001"))
        .join(sa, Seq("pos"))
        .join(lcp.select(col("i").as("pos"), col("l")), Seq("pos"), "left")
        .select(col("pos"), col("doc_id"), col("r").as("sa_rank"),
          coalesce(col("l"), lit(0L)).as("lcp_next"))
    }, Some(
      s"""WITH $saCtes
         |SELECT s.pos AS pos, s.doc_id AS doc_id, r.r AS sa_rank,
         |  coalesce(l.l, 0)::BIGINT AS lcp_next
         |FROM stream s
         |JOIN r$oracleRounds r ON r.pos = s.pos
         |LEFT JOIN l0 l ON l.i = s.pos
         |WHERE NOT starts_with(s.tok, chr(1))""".stripMargin)),

    // Exact substring-repeat excision (Lee et al. §4.1, the suffix-array
    // form): a position is COVERED when its longest repeated prefix
    // (max of the LCPs with its SA neighbors) reaches L=8 tokens.
    // Covered positions sharing >= L-prefixes form maximal SA runs; the
    // run member with the smallest corpus position is the KEPT first
    // occurrence, every other member excises its repeated extent
    // [pos, pos + maxrep). Runs are grouped with the shared
    // starFixpoint CC over the run's adjacency edges (vertex ids are
    // positions, so the component label IS the keeper position —
    // no single-partition window over the covered set, which is
    // duplication-sized, not config-sized). Per doc, excised intervals
    // merge (islands by running max-end) and report token counts.
    // Sentinels cannot be covered (unique ⇒ LCP 0) and no interval can
    // cross one (a repeat containing a unique token cannot repeat), so
    // intervals stay within real tokens by construction.
    CatalogQuery("ddp_suffix_repeat_excision", (s, d) => {
      val (stream, sa, lcp) = built(s, d)
      val excised = excisedIntervals(stream, sa, lcp)
      // merge per-doc intervals: islands by running max end
      val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("start"), col("end"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wCum = Window.partitionBy(col("doc_id")).orderBy(col("start"), col("end"))
        .rowsBetween(Window.unboundedPreceding, 0)
      val islands = excised
        .withColumn("pmax", max(col("end")).over(wPrev))
        .withColumn("brk",
          when(col("pmax").isNull || col("start") > col("pmax"), 1L).otherwise(0L))
        .withColumn("grp", sum(col("brk")).over(wCum))
        .groupBy(col("doc_id"), col("grp"))
        .agg(min(col("start")).as("s"), max(col("end")).as("e"))
      val perDoc = islands.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_spans"),
          sum(col("e") - col("s")).as("dup_tokens"),
          max(col("e") - col("s")).as("max_span"))
      val docTokens = stream.filter(!col("tok").startsWith("\u0001"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tokens"))
      docTokens.join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
          coalesce(col("max_span"), lit(0L)).as("max_span"))
    }, Some(
      s"""WITH $saCtes,
         |$excisedCtes,
         |islands AS (
         |  SELECT doc_id, grp2, min(s) AS s, max(e) AS e FROM (
         |    SELECT doc_id, s, e,
         |      sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY doc_id ORDER BY s, e) AS grp2
         |    FROM (
         |      SELECT doc_id, s, e,
         |        max(e) OVER (PARTITION BY doc_id ORDER BY s, e
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
         |      FROM excised) t) t2
         |  GROUP BY doc_id, grp2),
         |per_doc AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_spans,
         |    sum(e - s)::BIGINT AS dup_tokens, max(e - s)::BIGINT AS max_span
         |  FROM islands GROUP BY doc_id),
         |doc_tokens AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_tokens FROM stream
         |  WHERE NOT starts_with(tok, chr(1)) GROUP BY doc_id)
         |SELECT d.doc_id AS doc_id, d.n_tokens AS n_tokens,
         |  coalesce(p.n_spans, 0)::BIGINT AS n_spans,
         |  coalesce(p.dup_tokens, 0)::BIGINT AS dup_tokens,
         |  coalesce(p.max_span, 0)::BIGINT AS max_span
         |FROM doc_tokens d LEFT JOIN per_doc p ON p.doc_id = d.doc_id""".stripMargin)),

    // The APPLIED excision — Lee et al.'s actual product: the corpus
    // with exact >= L-token repeats removed, first occurrence kept. Per
    // doc, every token whose position falls inside ANY excised interval
    // [start, end) is dropped and the survivors re-render in tpos order.
    // Interval merging is unnecessary for application (covered-by-any is
    // island-invariant), so this is the report entry's interval algebra
    // + one bounded per-doc range join + an ordered re-render. Emitting
    // every input doc (empty string when fully excised) keeps the output
    // row set equal to the corpus subset — the downstream training
    // pipeline's contract. 100 TB: the range join is per-doc local
    // (shuffle on doc_id), the re-render a per-doc sort — both
    // corpus-sized single-shuffle ops over the already-built index.
    CatalogQuery("ddp_suffix_excise_apply", (s, d) => {
      val (stream, sa, lcp) = built(s, d)
      val excised = excisedIntervals(stream, sa, lcp).localCheckpoint()
      val toks = stream.filter(!col("tok").startsWith("\u0001"))
        .select(col("doc_id"), col("tpos"), col("tok"))
      val droppedPos = toks.join(excised, Seq("doc_id"))
        .filter(col("tpos") >= col("start") && col("tpos") < col("end"))
        .select(col("doc_id"), col("tpos")).distinct()
      val kept = toks.join(droppedPos, Seq("doc_id", "tpos"), "left_anti")
      val agg = kept.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_kept"),
          expr("array_join(transform(array_sort(collect_list(struct(tpos, tok))), p -> p.tok), ' ')")
            .as("clean_text"))
      toks.select(col("doc_id")).distinct()
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
    }, Some(
      s"""WITH $saCtes,
         |$excisedCtes,
         |toks2 AS (
         |  SELECT doc_id, tpos, tok FROM stream
         |  WHERE NOT starts_with(tok, chr(1))),
         |drop2 AS (
         |  SELECT DISTINCT t.doc_id, t.tpos
         |  FROM toks2 t JOIN excised x
         |    ON x.doc_id = t.doc_id AND t.tpos >= x.s AND t.tpos < x.e),
         |kept AS (
         |  SELECT t.doc_id, t.tpos, t.tok FROM toks2 t
         |  LEFT JOIN drop2 dd ON dd.doc_id = t.doc_id AND dd.tpos = t.tpos
         |  WHERE dd.doc_id IS NULL),
         |ka AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_kept,
         |    string_agg(tok, ' ' ORDER BY tpos) AS clean_text
         |  FROM kept GROUP BY doc_id)
         |SELECT b.doc_id AS doc_id,
         |  coalesce(k.n_kept, 0)::BIGINT AS n_kept,
         |  coalesce(k.clean_text, '') AS clean_text
         |FROM (SELECT DISTINCT doc_id FROM toks2) b
         |LEFT JOIN ka k ON k.doc_id = b.doc_id""".stripMargin)),

    // Corpus-level duplication report from the same index — the one-row
    // summary a data engineer reads before deciding dedup policy: how
    // much of the corpus sits inside an exact >= L-token repeat
    // (covered_ppm), how many distinct repeat groups exist (each SA run
    // of size k contributes k-1 adjacency edges, so runs = covered −
    // edges — no grouping pass needed), and the longest exact repeat
    // anywhere. All integer arithmetic over the cached artifacts; at
    // 100 TB this is three aggregates over the (already-built) index.
    CatalogQuery("txt_corpus_dup_stats", (s, d) => {
      val (stream, sa, lcp) = built(s, d)
      val withEdges = stream.join(sa, Seq("pos"))
        .join(lcp.select(col("i").as("pos"), col("l").as("ln")), Seq("pos"), "left")
        .join(lcp.select(col("j").as("pos"), col("l").as("lp")), Seq("pos"), "left")
        .select(col("pos"), col("r"),
          coalesce(col("ln"), lit(0L)).as("ln"),
          coalesce(col("lp"), lit(0L)).as("lp"))
        .withColumn("mr", greatest(col("ln"), col("lp")))
      val covered = withEdges.filter(col("mr") >= minLen).localCheckpoint()
      val nPos = stream.filter(!col("tok").startsWith("\u0001"))
        .agg(count(lit(1)).as("c"))
      val nCov = covered.agg(count(lit(1)).as("c"))
      val nEdges = covered.as("a").join(covered.as("b"),
          col("b.r") === col("a.r") + 1 && col("a.ln") >= minLen)
        .agg(count(lit(1)).as("c"))
      val maxLcp = lcp.agg(coalesce(max(col("l")), lit(0L)).as("c"))
      nPos.select(col("c").as("n_positions"))
        .crossJoin(nCov.select(col("c").as("covered_positions")))
        .crossJoin(nEdges.select(col("c").as("e")))
        .crossJoin(maxLcp.select(col("c").as("max_repeat_len")))
        .select(col("n_positions"), col("covered_positions"),
          (col("covered_positions") - col("e")).as("n_repeat_groups"),
          col("max_repeat_len"),
          expr("covered_positions * 1000000 div n_positions").as("covered_ppm"))
    }, Some(
      s"""WITH $saCtes,
         |edged AS MATERIALIZED (
         |  SELECT s.pos AS pos, r.r AS rnk,
         |    coalesce(ln.l, 0) AS ln,
         |    greatest(coalesce(ln.l, 0), coalesce(lp.l, 0)) AS mr
         |  FROM stream s
         |  JOIN r$oracleRounds r ON r.pos = s.pos
         |  LEFT JOIN l0 ln ON ln.i = s.pos
         |  LEFT JOIN l0 lp ON lp.j = s.pos),
         |covered AS (SELECT * FROM edged WHERE mr >= $minLen),
         |agg AS (
         |  SELECT
         |    (SELECT count(*) FROM stream
         |     WHERE NOT starts_with(tok, chr(1)))::BIGINT AS n_positions,
         |    (SELECT count(*) FROM covered)::BIGINT AS covered_positions,
         |    (SELECT count(*) FROM covered a JOIN covered b
         |     ON b.rnk = a.rnk + 1 AND a.ln >= $minLen)::BIGINT AS e,
         |    (SELECT coalesce(max(l), 0) FROM l0)::BIGINT AS max_repeat_len)
         |SELECT n_positions, covered_positions,
         |  (covered_positions - e)::BIGINT AS n_repeat_groups,
         |  max_repeat_len,
         |  (covered_positions * 1000000 // n_positions)::BIGINT AS covered_ppm
         |FROM agg""".stripMargin))
  )
}
