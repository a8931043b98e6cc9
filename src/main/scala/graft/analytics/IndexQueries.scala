package graft.analytics

import graft.core.Tables
import graft.functions.{GraftFunctions, Similarity}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fifth battery: corpus indexing and distribution diagnostics — the ops a
  * pretraining pipeline runs AFTER dedup/quality to organize and inspect
  * the corpus: TF-IDF term salience, an inverted shingle index (the
  * retrieval building block for contamination audits and near-dup
  * tracing), time-series gap-fill for metric streams, fixed-point
  * PageRank over an entity co-occurrence graph (document/source authority
  * weighting), mergeable-sketch distinct counting (the 100 TB cardinality
  * primitive), key-skew profiling (the pre-flight for choosing salting /
  * AQE levers), and unicode normalization (native codegen expression).
  *
  * Determinism notes (shared with the rest of the catalog): every double
  * is produced by exactly-rounded IEEE ops (+,-,*,/) applied in the same
  * shape by Spark and DuckDB — no transcendental functions cross the
  * comparator (TF-IDF uses reciprocal-df weighting instead of log-idf;
  * PageRank runs in scaled integer arithmetic), so hashes are bit-stable.
  */
object IndexQueries {

  def all: Seq[CatalogQuery] = Seq(

    // TF-IDF top term per document. tf = cnt/len; "idf" = N/df
    // (reciprocal-df: rank-equivalent to log-idf for top-1-per-doc,
    // and — unlike log — bit-identical across engines' libm). At scale:
    // two shuffles (doc-term agg, term df agg) + a broadcast-able 1-row
    // N; the df side is vocabulary-sized (sublinear in corpus), so AQE
    // broadcasts it on its own.
    CatalogQuery("txt_tfidf_top_terms", (s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
      val tf = docs
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
          explode(col("toks")).as("term"))
        .groupBy("doc_id", "n_tok", "term").agg(count(lit(1)).as("cnt"))
      val dfr = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfr, "term").crossJoin(broadcast(n))
        .withColumn("score",
          (col("cnt").cast("double") / col("n_tok")) *
            (col("n_docs").cast("double") / col("df")))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("score").desc, col("term").asc)
      scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("term").as("top_term"), col("score"))
    }, Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tf AS (
        |  SELECT doc_id, n_tok, term, count(*) AS cnt FROM (
        |    SELECT doc_id, len(t)::BIGINT AS n_tok, unnest(t) AS term FROM toks)
        |  GROUP BY 1, 2, 3),
        |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    (CAST(cnt AS DOUBLE) / n_tok) * (CAST(n_docs AS DOUBLE) / df) AS score
        |  FROM tf JOIN dfr USING (term) CROSS JOIN n)
        |SELECT doc_id, term AS top_term, score FROM (
        |  SELECT doc_id, term, score, row_number()
        |    OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rn
        |  FROM scored) r
        |WHERE rn = 1""".stripMargin)),

    // Inverted index over 3-word shingles (df >= 2): the retrieval
    // structure behind contamination audits and near-dup tracing.
    // Scale-honest two-pass shape: the stats pass never materializes
    // posting lists (pure count/min/max partial aggregation); the
    // collect_set pass runs ONLY on shingles whose df is already known
    // <= 8, so no per-key state exceeds 8 entries — at 100 TB the
    // unbounded-df heavy hitters (stopword shingles) never reach the
    // list-building aggregation.
    CatalogQuery("txt_inverted_index_shingles", (s, d) => {
      // single-row-group input: spread the scan before the shingle
      // explode so tokenization parallelizes (identity on real input)
      val sh = Tables.spread(Tables.documents(s, d)
        .select(col("doc_id"), col("text")))
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .filter(size(col("toks")) >= 3)
        .withColumn("s", explode(expr(
          """transform(sequence(0, size(toks) - 3),
            | i -> concat_ws(' ', slice(toks, CAST(i + 1 AS INT), 3)))"""
            .stripMargin)))
        .select(col("doc_id"), col("s"))
      val stats = sh.groupBy("s").agg(
        countDistinct(col("doc_id")).as("df"),
        count(lit(1)).as("tot"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
        .filter(col("df") >= 2)
      val posts = sh.join(stats.filter(col("df") <= 8).select("s"), "s")
        .groupBy("s")
        .agg(array_join(sort_array(collect_set(col("doc_id"))), ",")
          .as("postings"))
      stats.join(posts, Seq("s"), "left")
        .select(col("s").as("shingle"), col("df"), col("tot"),
          col("min_doc"), col("max_doc"), col("postings"))
    }, Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |flat AS (
        |  SELECT doc_id, unnest(list_transform(range(0, len(t) - 2),
        |    i -> array_to_string(t[i + 1:i + 3], ' '))) AS s
        |  FROM toks),
        |stats AS (
        |  SELECT s, count(DISTINCT doc_id)::BIGINT AS df, count(*)::BIGINT AS tot,
        |    min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |  FROM flat GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
        |posts AS (
        |  SELECT s, array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS postings
        |  FROM flat WHERE s IN (SELECT s FROM stats WHERE df <= 8)
        |  GROUP BY 1)
        |SELECT stats.s AS shingle, df, tot, min_doc, max_doc, postings
        |FROM stats LEFT JOIN posts USING (s)""".stripMargin), bench = true),

    // Hourly gap-fill + linear interpolation of a per-user metric stream
    // (the time-series repair op before feeding metrics to training).
    // Spine = sequence(min hour, max hour) per user (explode: row
    // generation, no shuffle beyond the span agg); fill = two windows
    // over (user, hour) — at scale this partitions by user exactly like
    // any sessionization, no global sort. Interpolation arithmetic is
    // pv + (nv-pv)*frac with frac a ratio of second-diffs — exactly
    // the same IEEE shape on both engines.
    CatalogQuery("evt_gapfill_linear_interpolation", (s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("event_type") === "purchase" && col("user_id") < 30)
        .withColumn("h", date_trunc("hour", col("ts")))
      val known = ev.groupBy("user_id", "h").agg(Q.davg(col("value")).as("v"))
      val spine = known.groupBy("user_id")
        .agg(min("h").as("mn"), max("h").as("mx"))
        .select(col("user_id"),
          explode(sequence(col("mn"), col("mx"), expr("INTERVAL 1 HOUR")))
            .as("h"))
      val wAsc = Window.partitionBy("user_id").orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wDesc = Window.partitionBy("user_id").orderBy("h")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      spine.join(known, Seq("user_id", "h"), "left")
        .withColumn("pv", last(col("v"), ignoreNulls = true).over(wAsc))
        .withColumn("ph",
          last(when(col("v").isNotNull, col("h")), ignoreNulls = true)
            .over(wAsc))
        .withColumn("nv", first(col("v"), ignoreNulls = true).over(wDesc))
        .withColumn("nh",
          first(when(col("v").isNotNull, col("h")), ignoreNulls = true)
            .over(wDesc))
        .select(col("user_id"),
          // sequence() promotes NTZ to session-tz TIMESTAMP; fold back to
          // the naive wall time every other entry emits
          col("h").cast("timestamp_ntz").as("h"),
          col("v").isNotNull.as("observed"),
          when(col("v").isNotNull, col("v"))
            .when(col("nv").isNull, col("pv"))
            .when(col("pv").isNull, col("nv"))
            .otherwise(col("pv") + (col("nv") - col("pv")) *
              ((unix_timestamp(col("h")) - unix_timestamp(col("ph")))
                .cast("double") /
               (unix_timestamp(col("nh")) - unix_timestamp(col("ph")))
                .cast("double")))
            .as("v_filled"))
    }, Some(
      s"""WITH ev AS (
        |  SELECT user_id, date_trunc('hour', ts) AS h, value FROM events
        |  WHERE event_type = 'purchase' AND user_id < 30),
        |known AS (
        |  SELECT user_id, h, ${Q.oAvg("value")} AS v FROM ev GROUP BY 1, 2),
        |span AS (SELECT user_id, min(h) AS mn, max(h) AS mx FROM known GROUP BY 1),
        |spine AS (
        |  SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
        |  FROM span),
        |j AS (
        |  SELECT s.user_id, s.h, k.v FROM spine s
        |  LEFT JOIN known k ON k.user_id = s.user_id AND k.h = s.h),
        |f AS (
        |  SELECT user_id, h, v,
        |    last_value(v IGNORE NULLS) OVER wA AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wA AS ph,
        |    first_value(v IGNORE NULLS) OVER wD AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER wD AS nh
        |  FROM j
        |  WINDOW wA AS (PARTITION BY user_id ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wD AS (PARTITION BY user_id ORDER BY h
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, h, v IS NOT NULL AS observed,
        |  CASE WHEN v IS NOT NULL THEN v
        |       WHEN nv IS NULL THEN pv
        |       WHEN pv IS NULL THEN nv
        |       ELSE pv + (nv - pv) *
        |         (CAST(date_diff('second', ph, h) AS DOUBLE) /
        |          CAST(date_diff('second', ph, nh) AS DOUBLE))
        |  END AS v_filled
        |FROM f""".stripMargin)),

    // Fixed-point PageRank (3 iterations, damping 0.85) over the
    // customer–supplier co-occurrence graph, undirected so no dangling
    // mass. Ranks are scaled integers (SCALE = 1e6) and every step is
    // integer div/mul/sum — deterministic across engines AND across
    // Spark's unordered partial aggregation (a double PageRank's sum
    // order would break hash equality). Per iteration: one join
    // (edges × ranks, both partitioned by the join key) + one
    // aggregation — the textbook distributed PR shape; 100 TB scaling
    // is bounded by the edge shuffle, which AQE handles like any
    // fact-fact join.
    CatalogQuery("gph_pagerank_fixed_point", (s, d) => {
      // every shuffle in the iteration loop keys on a LONG node id
      // (even = customer·2, odd = supplier·2+1) — the display string is
      // rendered once at the end (long-keyed exchanges hash and compare
      // several times faster than the 'c123'/'s45' string keys this
      // replaced: 5.9 s → measured ~2 s warm at sf0.1)
      val co = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      // Lineage is TRUNCATED per iteration: without it the final action
      // re-optimizes and re-schedules one ~7-shuffle growing chain (the
      // exchange-reuse cache covers the edge shuffle but not the
      // per-iteration join/agg stages — measured 12-16 s at sf0.1 for a
      // loop whose isolated cost is ~2 s). `edges` is computed once and
      // persisted (it feeds every iteration); `state` is eagerly
      // localCheckpoint'ed so each iteration's plan starts from
      // materialized partitions, the same shape an iterative graph job
      // uses on a real cluster (persist + checkpoint every N steps).
      val edges = co.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(co.select(col("b").as("src"), col("a").as("dst")))
        .persist()
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      var state = deg.select(col("src").as("v"), col("deg"),
        lit(1000000L).as("r"))
        .localCheckpoint()
      for (_ <- 1 to 3) {
        val sums = edges.join(state, edges("src") === state("v"))
          .select(col("dst"), expr("r div deg").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("sc"))
        state = state.join(sums, state("v") === sums("dst"), "left")
          .select(col("v"), col("deg"),
            (lit(150000L) +
              expr("(85 * coalesce(sc, CAST(0 AS BIGINT))) div 100")).as("r"))
          .localCheckpoint()
      }
      // final state is materialized (checkpointed) — the edge cache is no
      // longer referenced by the returned plan
      edges.unpersist(false)
      state.select(
        when(col("v") % 2 === 0, concat(lit("c"), (col("v") / 2).cast("long").cast("string")))
          .otherwise(concat(lit("s"), ((col("v") - 1) / 2).cast("long").cast("string")))
          .as("node"),
        col("deg"), col("r").as("rank_fp"))
    }, Some(
      """WITH co AS (
        |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (SELECT a AS src, b AS dst FROM co
        |  UNION ALL SELECT b, a FROM co),
        |deg AS (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY 1),
        |r0 AS (SELECT src AS v, deg, CAST(1000000 AS BIGINT) AS r FROM deg),
        |s1 AS (SELECT e.dst, CAST(sum(r.r // r.deg) AS BIGINT) AS sc
        |  FROM edges e JOIN r0 r ON e.src = r.v GROUP BY 1),
        |r1 AS (SELECT v, deg,
        |    CAST(150000 + (85 * coalesce(sc, 0)) // 100 AS BIGINT) AS r
        |  FROM r0 LEFT JOIN s1 ON v = dst),
        |s2 AS (SELECT e.dst, CAST(sum(r.r // r.deg) AS BIGINT) AS sc
        |  FROM edges e JOIN r1 r ON e.src = r.v GROUP BY 1),
        |r2 AS (SELECT v, deg,
        |    CAST(150000 + (85 * coalesce(sc, 0)) // 100 AS BIGINT) AS r
        |  FROM r1 LEFT JOIN s2 ON v = dst),
        |s3 AS (SELECT e.dst, CAST(sum(r.r // r.deg) AS BIGINT) AS sc
        |  FROM edges e JOIN r2 r ON e.src = r.v GROUP BY 1),
        |r3 AS (SELECT v, deg,
        |    CAST(150000 + (85 * coalesce(sc, 0)) // 100 AS BIGINT) AS r
        |  FROM r2 LEFT JOIN s3 ON v = dst)
        |SELECT CASE WHEN v % 2 = 0 THEN 'c' || CAST(v // 2 AS BIGINT)
        |  ELSE 's' || CAST((v - 1) // 2 AS BIGINT) END AS node,
        |  deg, r AS rank_fp FROM r3""".stripMargin),
      bench = true),

    // Mergeable-sketch distinct counting: per-nation HLL sketches
    // (datasketches, lgK=12) union-merged to a global estimate — the
    // cardinality primitive that actually works at 100 TB (sketches
    // merge associatively across partitions/days; exact countDistinct
    // needs a full shuffle of the key universe). Gated like the other
    // approx entries: the estimate must land within the sketch's
    // advertised error of the exact count, and the exact count is what
    // the oracle checks.
    CatalogQuery("agg_hll_sketch_union", (s, d) => {
      val perNation = Tables.customer(s, d)
        .groupBy("c_nationkey")
        .agg(hll_sketch_agg(col("c_custkey"), lit(12)).as("sk"))
      val merged = perNation.agg(
        count(lit(1)).as("n_groups"),
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est"))
      val exact = Tables.customer(s, d)
        .agg(countDistinct(col("c_custkey")).as("exact_keys"))
      merged.crossJoin(broadcast(exact))
        .select(col("n_groups"), col("exact_keys"),
          (abs(col("est") - col("exact_keys")).cast("double") /
            col("exact_keys") <= 0.05).as("within_bound"))
    }, Some(
      """SELECT count(DISTINCT c_nationkey)::BIGINT AS n_groups,
        |  count(DISTINCT c_custkey)::BIGINT AS exact_keys,
        |  true AS within_bound
        |FROM customer""".stripMargin)),

    // Count-Min sketch: the mergeable frequency sketch (Cormode &
    // Muthukrishnan) — d=4 hash rows × w=64 cells of pure BIGINT counts,
    // so unlike the HLL entry the ORACLE REBUILDS THE SKETCH ITSELF and
    // the estimates are hash-gated, not just bounded. Cells aggregate by
    // (row, cell) — map-side combinable, merge = cell-wise add across
    // partitions/days, the property that makes it the streaming/
    // distributed counter at 100 TB. Probes (part keys ≡ 0 mod 97) read
    // d cells each (point reads) and take the min; the structural CMS
    // guarantee estimate ≥ exact is emitted and gated per probe. Hashes
    // are md5-derived (the house cross-engine idiom), not library
    // internals, so both engines place every increment identically.
    CatalogQuery("agg_count_min_sketch", (s, d) => {
      def cellS(j: Int, k: String): String =
        s"pmod(CAST(conv(substr(md5(concat(CAST($k AS STRING), '|', '$j')), 1, 8), 16, 10) AS BIGINT), 64)"
      val rows = Tables.lineitem(s, d).select(col("l_partkey").as("k"))
      val cells = rows.select(col("k"),
          posexplode(array((0 to 3).map(j => expr(cellS(j, "k"))): _*)))
        .groupBy(col("pos").cast("long").as("hrow"), col("col").as("cell"))
        .agg(count(lit(1)).as("n"))
      val probes = rows.filter(col("k") % 97 === 0).groupBy(col("k"))
        .agg(count(lit(1)).as("exact_n"))
      val probeCells = probes.select(col("k"), col("exact_n"),
        posexplode(array((0 to 3).map(j => expr(cellS(j, "k"))): _*)))
        .select(col("k"), col("exact_n"),
          col("pos").cast("long").as("hrow"), col("col").as("cell"))
      probeCells.join(cells, Seq("hrow", "cell"))
        .groupBy(col("k").as("part_key"), col("exact_n"))
        .agg(min(col("n")).as("cms_estimate"))
        .withColumn("overestimate_ok", col("cms_estimate") >= col("exact_n"))
        .select(col("part_key"), col("exact_n"), col("cms_estimate"),
          col("overestimate_ok"))
    }, Some {
      def cellD(j: Int, k: String): String =
        s"('0x' || substr(md5(CAST($k AS VARCHAR) || '|' || '$j'), 1, 8))::BIGINT % 64"
      s"""WITH rows_in AS (SELECT l_partkey AS k FROM lineitem),
         |cells AS (
         |  SELECT hrow, cell, count(*)::BIGINT AS n FROM (
         |    ${(0 to 3).map(j =>
               s"SELECT ${j}::BIGINT AS hrow, ${cellD(j, "k")} AS cell FROM rows_in")
               .mkString("\n    UNION ALL ")})
         |  GROUP BY 1, 2),
         |probes AS (
         |  SELECT k, count(*)::BIGINT AS exact_n FROM rows_in
         |  WHERE k % 97 = 0 GROUP BY 1),
         |pc AS (
         |  ${(0 to 3).map(j =>
             s"SELECT k, exact_n, ${j}::BIGINT AS hrow, ${cellD(j, "k")} AS cell FROM probes")
             .mkString("\n  UNION ALL ")})
         |SELECT pc.k AS part_key, pc.exact_n,
         |  CAST(min(c.n) AS BIGINT) AS cms_estimate,
         |  min(c.n) >= pc.exact_n AS overestimate_ok
         |FROM pc JOIN cells c ON c.hrow = pc.hrow AND c.cell = pc.cell
         |GROUP BY 1, 2""".stripMargin
    }),

    // Bitmap-index set intersection: the audience-overlap accelerator —
    // each audience (customers active in an order-year) compacts into
    // 64-bit words keyed by c_custkey div 64 via bit_or (idempotent, so
    // no pre-distinct shuffle; repeat orders fold into the same bit),
    // and pairwise overlaps come from popcount(a AND b) summed over a
    // word-keyed equi-join — |universe|/64 rows per audience, never
    // touching raw ids again. This is the precomputed-bitmap pattern
    // OLAP engines (Druid/Pinot/ClickHouse roaring bitmaps) use for
    // segment/audience intersections at scale; counts are EXACT (a
    // bitmap of ids is not a sketch), so the oracle recomputes every
    // pair via plain DISTINCT-set intersection — structurally different
    // SQL, same integers. Jaccard in ppm by integer division.
    CatalogQuery("agg_bitmap_overlap", (s, d) => {
      val aud = Tables.orders(s, d)
        .select(year(col("o_orderdate")).cast("long").as("yr"),
          col("o_custkey"))
        .groupBy(col("yr"), expr("o_custkey div 64").as("word"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(o_custkey % 64 AS INT)))")
          .as("bits"))
      val sizes = aud.groupBy(col("yr"))
        .agg(sum(expr("bit_count(bits)")).cast("long").as("n"))
      val ov = aud.as("a").join(aud.as("b"),
          col("a.word") === col("b.word") && col("a.yr") < col("b.yr"))
        .groupBy(col("a.yr").as("year_a"), col("b.yr").as("year_b"))
        .agg(sum(expr("bit_count(a.bits & b.bits)")).cast("long").as("n_overlap"))
      ov.join(sizes.select(col("yr").as("year_a"), col("n").as("n_a")), Seq("year_a"))
        .join(sizes.select(col("yr").as("year_b"), col("n").as("n_b")), Seq("year_b"))
        .select(col("year_a"), col("year_b"), col("n_a"), col("n_b"),
          col("n_overlap"),
          expr("n_overlap * 1000000 div (n_a + n_b - n_overlap)").as("jaccard_ppm"))
    }, Some(
      """WITH aud AS (
        |  SELECT DISTINCT year(o_orderdate)::BIGINT AS yr, o_custkey AS c
        |  FROM orders),
        |sizes AS (SELECT yr, count(*)::BIGINT AS n FROM aud GROUP BY 1),
        |ov AS (
        |  SELECT a.yr AS year_a, b.yr AS year_b, count(*)::BIGINT AS n_overlap
        |  FROM aud a JOIN aud b ON a.c = b.c AND a.yr < b.yr
        |  GROUP BY 1, 2)
        |SELECT year_a, year_b, sa.n AS n_a, sb.n AS n_b, n_overlap,
        |  n_overlap * 1000000 // (sa.n + sb.n - n_overlap) AS jaccard_ppm
        |FROM ov JOIN sizes sa ON sa.yr = year_a
        |JOIN sizes sb ON sb.yr = year_b""".stripMargin)),

    // ---- streaming CMS serving: additive state under retries -------------
    // The fourth serving loop (ann / BM25 / components / now counters),
    // and the one that NEEDS exactly-once most: CMS cells are ADDITIVE
    // state, so an at-least-once replay that re-adds a batch's
    // increments double-counts silently — seq-LWW can't save a counter.
    // Each micro-batch computes its (hrow, cell) increments, point-reads
    // the current cells, writes old+delta, and commits through
    // mergeOnce(batchId): a foreachBatch retry AFTER the commit recomputes
    // a double-counted frame but the applied-id guard drops it — the
    // precise failure mergeOnce's manifest exists for. Then the batch's
    // frequency queries (fixed probe set, streamed) are served from a
    // FRESH read: d point reads per probe, min over rows, absent cell
    // = 0. The oracle replays the cumulative cell algebra as-of every
    // batch in SQL — integer-exact serving at every point in stream
    // time. 100 TB: increments are map-side-combined counts; the state
    // is d×w cells regardless of event volume.
    CatalogQuery("agg_stream_serve_cms", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      def cellS(j: Int, k: String): String =
        s"pmod(CAST(conv(substr(md5(concat(CAST($k AS STRING), '|', '$j')), 1, 8), 16, 10) AS BIGINT), 64)"
      val work = Q.scratch("cmsserve")
      // both frames feed all four staging writes — materialize the fact
      // scan once instead of 4x (value-neutral; verify/bench-visible)
      val ev = Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 1 && col("l_quantity") < 41)
        .select(col("l_partkey").as("k"),
          expr("CAST((CAST(l_quantity AS BIGINT) - 1) div 10 AS INT)").as("b"))
        .localCheckpoint()
      val probes = Tables.lineitem(s, d).filter(col("l_partkey") % 97 === 0)
        .select(col("l_partkey").as("k")).distinct().localCheckpoint()
      (0 to 3).foreach { b =>
        val chg = ev.filter(col("b") === b)
          .select(lit("chg").as("kind"), lit(b.toLong).as("qb"), col("k"))
        val qry = probes
          .select(lit("qry").as("kind"), lit(b.toLong).as("qb"), col("k"))
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
      // serving sink: one-merge read grace for external readers
      val sink = new graft.sinks.SnapshotSink(s, s"$work/cells",
        Seq("hrow", "cell"), readGrace = true)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "kind STRING, qb BIGINT, k BIGINT")
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$work/in")
      val q = stream.writeStream
        .foreachBatch((batch: org.apache.spark.sql.DataFrame, id: Long) => {
          import s.implicits._
          // the serve gate's max(qb over qry rows) rides the maintain
          // checkpoint job as an observed metric (filters never push
          // through CollectMetrics, so the metric sees the whole batch) —
          // the former standalone .head job per micro-batch is gone
          val qbObs = org.apache.spark.sql.Observation()
          val inc = batch
            .observe(qbObs, max(when(col("kind") === "qry", col("qb"))).as("qbv"))
            .filter(col("kind") === "chg")
            .select(col("k"), posexplode(array((0 to 3).map(j => expr(cellS(j, "k"))): _*)))
            .groupBy(col("pos").cast("long").as("hrow"), col("col").as("cell"))
            .agg(count(lit(1)).as("dn"))
          val cur =
            if (sink.exists) sink.read().select(col("hrow"), col("cell"), col("n"))
            else Seq.empty[(Long, Long, Long)].toDF("hrow", "cell", "n")
          // old + delta, checkpointed BEFORE the merge (the plan reads the
          // generation the merge replaces); a post-commit retry recomputes
          // a double-counted frame — mergeOnce's applied-id guard drops it
          val upd = inc.join(cur, Seq("hrow", "cell"), "left")
            .select(col("hrow"), col("cell"),
              (coalesce(col("n"), lit(0L)) + col("dn")).as("n"))
            .withColumn("op", lit(graft.core.ChangeLog.Update))
            .withColumn("seq", lit(id)).localCheckpoint()
          sink.mergeOnce(id, graft.core.AuditSeam.report(
            "agg_stream_serve_cms/maintain", upd))
          // a probe-free micro-batch has nothing to serve: max(qb) over
          // zero 'qry' rows is NULL — skip the serve step instead of an
          // opaque NPE (entry: agg_stream_serve_cms).
          // Fallback: on a change-free batch AQE's runtime
          // empty-relation propagation can prune the zero-row aggregate
          // subtree — and the CollectMetrics inside it — from the final
          // plan, completing the Observation with an EMPTY metrics map;
          // only then pay the standalone job.
          val qbvBox = graft.core.Fused.observedOr[java.lang.Long](qbObs, "qbv")(
            batch.filter(col("kind") === "qry").agg(max(col("qb"))).head.getAs[java.lang.Long](0))
          if (qbvBox != null) {
            val qbv = qbvBox.longValue
            val pc = batch.filter(col("kind") === "qry").select(col("k"))
              .select(col("k"), posexplode(array((0 to 3).map(j => expr(cellS(j, "k"))): _*)))
              .select(col("k"), col("pos").cast("long").as("hrow"), col("col").as("cell"))
            graft.core.AuditSeam.report("agg_stream_serve_cms/serve",
              pc.join(sink.read().select(col("hrow"), col("cell"), col("n")),
                  Seq("hrow", "cell"), "left")
                .groupBy(col("k").as("part_key"))
                .agg(min(coalesce(col("n"), lit(0L))).as("cms_estimate"))
                .select(lit(qbv).as("qbatch"), col("part_key"), col("cms_estimate")))
              .write.mode("append").parquet(s"$work/out")
          }
        })
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$work/out")
        .dropDuplicates(Seq("qbatch", "part_key")) // task-retry copies
        .select(col("qbatch"), col("part_key"), col("cms_estimate"))
    }, Some {
      def cellD(j: Int, k: String): String =
        s"('0x' || substr(md5(CAST($k AS VARCHAR) || '|' || '$j'), 1, 8))::BIGINT % 64"
      s"""WITH qb4 AS (SELECT unnest(range(0, 4)) AS qb),
         |ev AS (
         |  SELECT l_partkey AS k, (CAST(l_quantity AS BIGINT) - 1) // 10 AS b
         |  FROM lineitem WHERE l_quantity >= 1 AND l_quantity < 41),
         |hashed AS (
         |  ${(0 to 3).map(j =>
             s"SELECT b, ${j}::BIGINT AS hrow, ${cellD(j, "k")} AS cell FROM ev")
             .mkString("\n  UNION ALL ")}),
         |cells AS (
         |  SELECT q.qb, h.hrow, h.cell, count(*)::BIGINT AS n
         |  FROM qb4 q JOIN hashed h ON h.b <= q.qb
         |  GROUP BY 1, 2, 3),
         |probes AS (
         |  SELECT DISTINCT l_partkey AS k FROM lineitem WHERE l_partkey % 97 = 0),
         |pc AS (
         |  ${(0 to 3).map(j =>
             s"SELECT qb, k, ${j}::BIGINT AS hrow, ${cellD(j, "k")} AS cell FROM probes CROSS JOIN qb4")
             .mkString("\n  UNION ALL ")})
         |SELECT pc.qb AS qbatch, pc.k AS part_key,
         |  CAST(min(coalesce(c.n, 0)) AS BIGINT) AS cms_estimate
         |FROM pc LEFT JOIN cells c
         |  ON c.qb = pc.qb AND c.hrow = pc.hrow AND c.cell = pc.cell
         |GROUP BY 1, 2""".stripMargin
    }),

    // ---- time-decayed CMS serving: counts age out -------------------------
    // The production heavy-hitters shape: recent traffic matters, stale
    // counts decay away. Exponential decay is factored as INTEGER
    // per-batch halving — at every micro-batch boundary EVERY cell ages
    // n -> n div 2 before the batch's increments add — so the oracle
    // replays the exact fold (floor-div on non-negative BIGINTs crosses
    // engines bit-exactly; a float λ would not). Batch 3 carries ONLY
    // queries (an idle window): its estimates are served from purely
    // decayed state, provably BELOW the batch-2 answers (spec-gated).
    // Decay makes the state non-idempotent in a stronger sense than
    // additive counters — a replayed batch would decay AGAIN, so even an
    // increment-free replay corrupts state; mergeOnce's applied-id guard
    // (recorded in the same manifest rename as the data) is again the
    // precise fix. 100 TB: the decay rewrite touches d×w = 256 cells —
    // the whole point of a sketch is that "full state" is a constant —
    // while increments stay map-side-combined counts of the batch.
    CatalogQuery("agg_stream_serve_cms_decay", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      def cellS(j: Int, k: String): String =
        s"pmod(CAST(conv(substr(md5(concat(CAST($k AS STRING), '|', '$j')), 1, 8), 16, 10) AS BIGINT), 64)"
      val work = Q.scratch("cmsdecay")
      // both frames feed all four staging writes — materialize the fact
      // scan once instead of 4x (value-neutral; verify/bench-visible)
      val ev = Tables.lineitem(s, d)
        .filter(col("l_quantity") >= 1 && col("l_quantity") < 31)
        .select(col("l_partkey").as("k"),
          expr("CAST((CAST(l_quantity AS BIGINT) - 1) div 10 AS INT)").as("b"))
        .localCheckpoint()
      val probes = Tables.lineitem(s, d).filter(col("l_partkey") % 97 === 0)
        .select(col("l_partkey").as("k")).distinct().localCheckpoint()
      (0 to 3).foreach { b =>
        // batch 3 is the idle window: no changes, queries only
        val chg = ev.filter(col("b") === b && lit(b < 3))
          .select(lit("chg").as("kind"), lit(b.toLong).as("qb"), col("k"))
        val qry = probes
          .select(lit("qry").as("kind"), lit(b.toLong).as("qb"), col("k"))
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
      // serving sink: one-merge read grace for external readers
      val sink = new graft.sinks.SnapshotSink(s, s"$work/cells",
        Seq("hrow", "cell"), readGrace = true)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "kind STRING, qb BIGINT, k BIGINT")
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$work/in")
      val q = stream.writeStream
        .foreachBatch((batch: org.apache.spark.sql.DataFrame, id: Long) => {
          import s.implicits._
          // serve gate's max(qb) observed on the maintain job (see the
          // non-decay twin above) — one fewer job per micro-batch
          val qbObs = org.apache.spark.sql.Observation()
          val inc = batch
            .observe(qbObs, max(when(col("kind") === "qry", col("qb"))).as("qbv"))
            .filter(col("kind") === "chg")
            .select(col("k"), posexplode(array((0 to 3).map(j => expr(cellS(j, "k"))): _*)))
            .groupBy(col("pos").cast("long").as("hrow"), col("col").as("cell"))
            .agg(count(lit(1)).as("dn"))
          val cur =
            if (sink.exists) sink.read().select(col("hrow"), col("cell"), col("n"))
            else Seq.empty[(Long, Long, Long)].toDF("hrow", "cell", "n")
          // decay EVERY live cell, then add this batch's increments; full
          // outer so increment-only cells are born and idle cells still
          // age. Checkpointed before the merge (plan reads the generation
          // the merge replaces); a post-commit retry would decay TWICE —
          // the applied-id guard drops it.
          // inc must be the join RECEIVER: inside foreachBatch the batch
          // frame lives on a cloned micro-batch session, and the
          // Observation's listener registers on the observed frame's
          // session — a cur-rooted upd would post its execution event to
          // the MAIN session's bus, and the qbObs wait below would time
          // out into the standalone job every batch. Full outer is
          // symmetric and the select is explicit, so flipping the
          // receiver is a row-identical rewrite.
          val upd = inc.join(cur, Seq("hrow", "cell"), "full")
            .select(col("hrow"), col("cell"),
              (expr("coalesce(n, CAST(0 AS BIGINT)) div 2") +
                coalesce(col("dn"), lit(0L))).as("n"))
            .withColumn("op", lit(graft.core.ChangeLog.Update))
            .withColumn("seq", lit(id)).localCheckpoint()
          sink.mergeOnce(id, graft.core.AuditSeam.report(
            "agg_stream_serve_cms_decay/maintain", upd))
          // a probe-free micro-batch has nothing to serve: max(qb) over
          // zero 'qry' rows is NULL — skip the serve step instead of an
          // opaque NPE (entry: agg_stream_serve_cms_decay). The decay
          // merge above still ran: idle cells age even with no probes.
          // Fallback as in the non-decay twin: a change-free batch can
          // lose the mid-plan CollectMetrics to AQE's runtime
          // empty-relation propagation (empty metrics map) — only then
          // pay the standalone job.
          val qbvBox = graft.core.Fused.observedOr[java.lang.Long](qbObs, "qbv")(
            batch.filter(col("kind") === "qry").agg(max(col("qb"))).head.getAs[java.lang.Long](0))
          if (qbvBox != null) {
            val qbv = qbvBox.longValue
            val pc = batch.filter(col("kind") === "qry").select(col("k"))
              .select(col("k"), posexplode(array((0 to 3).map(j => expr(cellS(j, "k"))): _*)))
              .select(col("k"), col("pos").cast("long").as("hrow"), col("col").as("cell"))
            graft.core.AuditSeam.report("agg_stream_serve_cms_decay/serve",
              pc.join(sink.read().select(col("hrow"), col("cell"), col("n")),
                  Seq("hrow", "cell"), "left")
                .groupBy(col("k").as("part_key"))
                .agg(min(coalesce(col("n"), lit(0L))).as("cms_estimate"))
                .select(lit(qbv).as("qbatch"), col("part_key"), col("cms_estimate")))
              .write.mode("append").parquet(s"$work/out")
          }
        })
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$work/out")
        .dropDuplicates(Seq("qbatch", "part_key")) // task-retry copies
        .select(col("qbatch"), col("part_key"), col("cms_estimate"))
    }, Some {
      def cellD(j: Int, k: String): String =
        s"('0x' || substr(md5(CAST($k AS VARCHAR) || '|' || '$j'), 1, 8))::BIGINT % 64"
      // the decay fold unrolls batch-by-batch; each level references the
      // previous, so the chain is MATERIALIZED (inlining would expand the
      // FULL-JOIN chain exponentially)
      s"""WITH ev AS (
         |  SELECT l_partkey AS k, (CAST(l_quantity AS BIGINT) - 1) // 10 AS b
         |  FROM lineitem WHERE l_quantity >= 1 AND l_quantity < 31),
         |hashed AS (
         |  ${(0 to 3).map(j =>
             s"SELECT b, ${j}::BIGINT AS hrow, ${cellD(j, "k")} AS cell FROM ev")
             .mkString("\n  UNION ALL ")}),
         |incs AS MATERIALIZED (
         |  SELECT b, hrow, cell, count(*)::BIGINT AS dn
         |  FROM hashed GROUP BY 1, 2, 3),
         |c0 AS MATERIALIZED (
         |  SELECT hrow, cell, dn AS n FROM incs WHERE b = 0),
         |c1 AS MATERIALIZED (
         |  SELECT coalesce(a.hrow, i.hrow) AS hrow, coalesce(a.cell, i.cell) AS cell,
         |    coalesce(a.n, 0) // 2 + coalesce(i.dn, 0) AS n
         |  FROM c0 a FULL JOIN (SELECT * FROM incs WHERE b = 1) i
         |    ON a.hrow = i.hrow AND a.cell = i.cell),
         |c2 AS MATERIALIZED (
         |  SELECT coalesce(a.hrow, i.hrow) AS hrow, coalesce(a.cell, i.cell) AS cell,
         |    coalesce(a.n, 0) // 2 + coalesce(i.dn, 0) AS n
         |  FROM c1 a FULL JOIN (SELECT * FROM incs WHERE b = 2) i
         |    ON a.hrow = i.hrow AND a.cell = i.cell),
         |c3 AS MATERIALIZED (
         |  SELECT hrow, cell, n // 2 AS n FROM c2),
         |cells AS (
         |  SELECT 0::BIGINT AS qb, * FROM c0 UNION ALL
         |  SELECT 1::BIGINT, * FROM c1 UNION ALL
         |  SELECT 2::BIGINT, * FROM c2 UNION ALL
         |  SELECT 3::BIGINT, * FROM c3),
         |probes AS (
         |  SELECT DISTINCT l_partkey AS k FROM lineitem WHERE l_partkey % 97 = 0),
         |qb4 AS (SELECT unnest(range(0, 4)) AS qb),
         |pc AS (
         |  ${(0 to 3).map(j =>
             s"SELECT qb, k, ${j}::BIGINT AS hrow, ${cellD(j, "k")} AS cell FROM probes CROSS JOIN qb4")
             .mkString("\n  UNION ALL ")})
         |SELECT pc.qb AS qbatch, pc.k AS part_key,
         |  CAST(min(coalesce(c.n, 0)) AS BIGINT) AS cms_estimate
         |FROM pc LEFT JOIN cells c
         |  ON c.qb = pc.qb AND c.hrow = pc.hrow AND c.cell = pc.cell
         |GROUP BY 1, 2""".stripMargin
    }, bench = true),

    // ---- TTL age-out: decayed-to-zero cells EXPORT, crash-consistently ----
    // The r11 serving sinks accumulate dead state forever (closed
    // sessions, zero cells, retired centroids); this entry adds the
    // age-out rule to the decayed-CMS loop: a cell whose post-decay value
    // hits 0 is DELETED from the sink and its (batch, hrow, cell) record
    // exported — retention applied INSIDE the same mergeOnce commit. The
    // crash protocol ([[cmsTtlBatch]]): export files land at a
    // deterministic per-batch path BEFORE the manifest rename; a crash
    // between export-write and commit replays against UNCHANGED state and
    // overwrites identical rows; a replay AFTER the commit is cut off by
    // the applied-id check BEFORE anything recomputes (its inputs would
    // read advanced state — recomputing would corrupt the export the
    // commit already covers). Neither loses nor double-exports — the
    // crash spec drives both fault points. Increments are per-batch
    // DISJOINT sparse key sets (k % 11 = b) so cells genuinely die
    // between batches and some die-then-rebirth (the re-export case);
    // batch 3 is increment-free, so every n ≤ 1 cell ages out. The
    // oracle replays the decay fold and derives exports as value
    // transitions (n > 0 → 0), so exported + live + served rows account
    // exactly. 100 TB: the age-out scan is the d×w sketch rewrite the
    // decay step already pays; exports append, never rewrite.
    CatalogQuery("agg_stream_serve_cms_ttl", (s, d) => {
      // w = 128 (vs the serving entries' 64): the TTL path is only
      // interesting when cells MISS increments and die — the width is
      // tuned (measured per SF) so deaths occur BOTH mid-stream and
      // through the idle window AND some exported cell is re-born by a
      // later increment, at every harness SF (still constant state)
      def cellS(j: Int, k: String): String =
        s"pmod(CAST(conv(substr(md5(concat(CAST($k AS STRING), '|', '$j')), 1, 8), 16, 10) AS BIGINT), 128)"
      val work = Q.scratch("cmsttl")
      val sink = new graft.sinks.SnapshotSink(s, s"$work/cells",
        Seq("hrow", "cell"), readGrace = true)
      val probes = Tables.lineitem(s, d).filter(col("l_partkey") % 97 === 0)
        .select(col("l_partkey").as("k")).distinct().localCheckpoint()
      (0 to 3).foreach { b =>
        import s.implicits._
        // DISTINCT keys per band: per-cell increments stay near 1, so a
        // missed cell genuinely dies next batch (row-multiplicity counts
        // would start cells at ~30 and nothing could decay to 0 in-stream)
        val inc =
          if (b < 3)
            Tables.lineitem(s, d).filter(col("l_partkey") % 11 === b)
              .select(col("l_partkey").as("k")).distinct()
              .select(col("k"), posexplode(array((0 to 3).map(j => expr(cellS(j, "k"))): _*)))
              .groupBy(col("pos").cast("long").as("hrow"), col("col").as("cell"))
              .agg(count(lit(1)).as("dn"))
          else Seq.empty[(Long, Long, Long)].toDF("hrow", "cell", "dn")
        cmsTtlBatch(s, sink, s"$work/export", inc, b.toLong)
        val pc = probes
          .select(col("k"), posexplode(array((0 to 3).map(j => expr(cellS(j, "k"))): _*)))
          .select(col("k"), col("pos").cast("long").as("hrow"), col("col").as("cell"))
        graft.core.AuditSeam.report("agg_stream_serve_cms_ttl/serve",
          pc.join(sink.read().select(col("hrow"), col("cell"), col("n")),
              Seq("hrow", "cell"), "left")
            .groupBy(col("k"))
            .agg(min(coalesce(col("n"), lit(0L))).as("est"))
            .select(lit(b.toLong).as("qb"), col("k"), col("est")))
          .write.mode("append").parquet(s"$work/out")
      }
      val served = s.read.parquet(s"$work/out")
        .select(lit("probe").as("kind"), col("qb"), col("k").as("k1"),
          lit(null).cast("bigint").as("k2"), col("est").as("v"))
      val exported = s.read.option("recursiveFileLookup", "true")
        .parquet(s"$work/export")
        .select(lit("export").as("kind"), col("b").as("qb"),
          col("hrow").as("k1"), col("cell").as("k2"),
          lit(null).cast("bigint").as("v"))
      val liveFinal = sink.read()
        .select(lit("live").as("kind"), lit(null).cast("bigint").as("qb"),
          col("hrow").as("k1"), col("cell").as("k2"), col("n").as("v"))
      served.unionByName(exported).unionByName(liveFinal)
    }, Some {
      def cellD(j: Int, k: String): String =
        s"('0x' || substr(md5(CAST($k AS VARCHAR) || '|' || '$j'), 1, 8))::BIGINT % 128"
      def exb(b: Int): String =
        s"""SELECT 'export' AS kind, ${b}::BIGINT AS qb, a.hrow AS k1,
           |  a.cell AS k2, CAST(NULL AS BIGINT) AS v
           |FROM c$b a JOIN c${b - 1} p ON p.hrow = a.hrow AND p.cell = a.cell
           |WHERE a.n = 0 AND p.n > 0""".stripMargin
      s"""WITH dk AS (
         |  SELECT DISTINCT l_partkey AS k, l_partkey % 11 AS b
         |  FROM lineitem WHERE l_partkey % 11 < 3),
         |hashed AS (
         |  ${(0 to 3).map(j =>
             s"SELECT b, ${j}::BIGINT AS hrow, ${cellD(j, "k")} AS cell FROM dk")
             .mkString("\n  UNION ALL ")}),
         |incs AS MATERIALIZED (
         |  SELECT b, hrow, cell, count(*)::BIGINT AS dn
         |  FROM hashed GROUP BY 1, 2, 3),
         |c0 AS MATERIALIZED (
         |  SELECT hrow, cell, dn AS n FROM incs WHERE b = 0),
         |c1 AS MATERIALIZED (
         |  SELECT coalesce(a.hrow, i.hrow) AS hrow, coalesce(a.cell, i.cell) AS cell,
         |    coalesce(a.n, 0) // 2 + coalesce(i.dn, 0) AS n
         |  FROM c0 a FULL JOIN (SELECT * FROM incs WHERE b = 1) i
         |    ON a.hrow = i.hrow AND a.cell = i.cell),
         |c2 AS MATERIALIZED (
         |  SELECT coalesce(a.hrow, i.hrow) AS hrow, coalesce(a.cell, i.cell) AS cell,
         |    coalesce(a.n, 0) // 2 + coalesce(i.dn, 0) AS n
         |  FROM c1 a FULL JOIN (SELECT * FROM incs WHERE b = 2) i
         |    ON a.hrow = i.hrow AND a.cell = i.cell),
         |c3 AS MATERIALIZED (
         |  SELECT hrow, cell, n // 2 AS n FROM c2),
         |cells AS (
         |  SELECT 0::BIGINT AS qb, * FROM c0 UNION ALL
         |  SELECT 1::BIGINT, * FROM c1 UNION ALL
         |  SELECT 2::BIGINT, * FROM c2 UNION ALL
         |  SELECT 3::BIGINT, * FROM c3),
         |probes AS (
         |  SELECT DISTINCT l_partkey AS k FROM lineitem WHERE l_partkey % 97 = 0),
         |qb4 AS (SELECT unnest(range(0, 4)) AS qb),
         |pc AS (
         |  ${(0 to 3).map(j =>
             s"SELECT qb, k, ${j}::BIGINT AS hrow, ${cellD(j, "k")} AS cell FROM probes CROSS JOIN qb4")
             .mkString("\n  UNION ALL ")})
         |SELECT 'probe' AS kind, pc.qb, pc.k AS k1, CAST(NULL AS BIGINT) AS k2,
         |  CAST(min(coalesce(c.n, 0)) AS BIGINT) AS v
         |FROM pc LEFT JOIN cells c
         |  ON c.qb = pc.qb AND c.hrow = pc.hrow AND c.cell = pc.cell
         |GROUP BY 1, 2, 3, 4
         |UNION ALL ${exb(1)}
         |UNION ALL ${exb(2)}
         |UNION ALL ${exb(3)}
         |UNION ALL
         |SELECT 'live', CAST(NULL AS BIGINT), hrow, cell, CAST(n AS BIGINT)
         |FROM c3 WHERE n > 0""".stripMargin
    }),

    // Key-skew profiler: the pre-flight diagnostic for choosing salting
    // factors / AQE skew thresholds before a big join. Buckets keys by
    // frequency (power-of-2-ish bands) and reports per-band key and row
    // mass — one aggregation over the fact keys, output is
    // band-cardinality-bounded (tiny) regardless of input size.
    CatalogQuery("skw_key_distribution_profile", (s, d) => {
      val freq = Tables.orders(s, d)
        .groupBy("o_custkey").agg(count(lit(1)).as("freq"))
        .withColumn("bucket",
          when(col("freq") === 1, "1").when(col("freq") === 2, "2")
            .when(col("freq") <= 4, "3-4").when(col("freq") <= 8, "5-8")
            .when(col("freq") <= 16, "9-16").otherwise("17+"))
      freq.groupBy("bucket").agg(
        count(lit(1)).as("n_keys"), sum(col("freq")).as("n_rows"),
        min(col("freq")).as("min_freq"), max(col("freq")).as("max_freq"))
        .withColumn("row_share",
          col("n_rows").cast("double") /
            sum(col("n_rows")).over(Window.partitionBy()).cast("double"))
    }, Some(
      """WITH freq AS (
        |  SELECT o_custkey, count(*)::BIGINT AS freq FROM orders GROUP BY 1),
        |b AS (
        |  SELECT freq,
        |    CASE WHEN freq = 1 THEN '1' WHEN freq = 2 THEN '2'
        |         WHEN freq <= 4 THEN '3-4' WHEN freq <= 8 THEN '5-8'
        |         WHEN freq <= 16 THEN '9-16' ELSE '17+' END AS bucket
        |  FROM freq),
        |g AS (
        |  SELECT bucket, count(*)::BIGINT AS n_keys,
        |    CAST(sum(freq) AS BIGINT) AS n_rows,
        |    min(freq) AS min_freq, max(freq) AS max_freq
        |  FROM b GROUP BY 1)
        |SELECT bucket, n_keys, n_rows, min_freq, max_freq,
        |  CAST(n_rows AS DOUBLE) / CAST(sum(n_rows) OVER () AS DOUBLE)
        |    AS row_share
        |FROM g""".stripMargin)),

    // Chunk-level dedup with document rebuild (C4/Gopher-style repeated-
    // passage removal): split every doc into 8-token chunks, keep each
    // distinct chunk only at its FIRST occurrence (doc_id, pos order),
    // re-assemble surviving chunks per doc. The dedup key is the chunk
    // text; at 100 TB the window-over-chunk becomes a groupBy(chunk)
    // min-struct aggregation — same shuffle key, no global sort; rebuild
    // is partitioned by doc_id. The harness corpus produces ~5% organic
    // chunk collisions, so the answer is non-trivial without planting.
    CatalogQuery("ddp_chunk_dedup_rebuild", (s, d) => {
      val chunks = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("toks"))
        .select(col("doc_id"), posexplode(expr(
          """transform(sequence(0, ((size(toks) + 7) div 8) - 1),
            | i -> concat_ws(' ', slice(toks, CAST(i * 8 + 1 AS INT), 8)))"""
            .stripMargin)))
        .toDF("doc_id", "pos", "chunk")
      val w = Window.partitionBy("chunk")
        .orderBy(col("doc_id").asc, col("pos").asc)
      val kept = chunks.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      val before = chunks.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      val after = kept.groupBy("doc_id").agg(
        count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("chunk")))),
          x => x.getField("chunk")), " ").as("rebuilt"))
      before.join(after, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_chunks"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"), col("rebuilt"))
    }, Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |chunks AS (
        |  SELECT doc_id, i AS pos,
        |    array_to_string(t[i * 8 + 1:i * 8 + 8], ' ') AS chunk
        |  FROM toks, unnest(range(0, (len(t) + 7) // 8)) u(i)),
        |ranked AS (
        |  SELECT doc_id, pos, chunk,
        |    row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
        |  FROM chunks),
        |kept AS (SELECT doc_id, pos, chunk FROM ranked WHERE rn = 1),
        |bef AS (SELECT doc_id, count(*)::BIGINT AS n_chunks FROM chunks GROUP BY 1),
        |aft AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
        |    array_to_string(list(chunk ORDER BY pos), ' ') AS rebuilt
        |  FROM kept GROUP BY 1)
        |SELECT bef.doc_id, n_chunks, coalesce(n_kept, 0) AS n_kept, rebuilt
        |FROM bef LEFT JOIN aft USING (doc_id)""".stripMargin)),

    // Filtered (hybrid) ANN: vector search under a metadata predicate —
    // the vector-store staple (search only label=2 items). The predicate
    // is applied to the corpus side BEFORE the bucket join, so candidate
    // generation, dedup, and exact scoring only ever touch the filtered
    // slice — at 100 TB the selectivity multiplies through the whole ANN
    // pipeline instead of being a post-filter on scored results (which
    // would also silently shrink top-k below k).
    CatalogQuery("sim_filtered_ann_topk", (s, d) => {
      import graft.functions.GraftFunctions.{cosine_sim, lsh_buckets}
      val e0 = Tables.embeddings(s, d)
        .repartition(s.sessionState.conf.numShufflePartitions)
      val b = e0.withColumn("buckets", lsh_buckets(col("embedding"), 8, 4))
        .select(col("vec_id"), col("label"), posexplode(col("buckets")))
        .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
      val q = b.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("tbl"), col("bucket"))
      val candIds = b.filter(col("label") === 2) // predicate BEFORE the join
        .join(q, Seq("tbl", "bucket"))
        .filter(col("query_id") =!= col("vec_id"))
        .select(col("query_id"), col("vec_id"))
        .distinct()
      val vecs = e0.select(col("vec_id"), col("embedding"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_raw").desc, col("vec_id"))
      candIds
        .join(vecs.select(col("vec_id").as("query_id"),
          col("embedding").as("qv")), "query_id")
        .join(vecs, "vec_id")
        .withColumn("cos_raw", cosine_sim(col("qv"), col("embedding")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("vec_id").as("neighbor_id"))
    }, Some(
      s"""WITH b AS (
         |  SELECT vec_id, label, embedding, t.tbl,
         |    ${graft.functions.Similarity.lshBucketDuckOffset(
               "embedding", 4, 64, "t.tbl * 4")} AS bucket
         |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 8)) AS tbl) t),
         |q AS (SELECT vec_id AS query_id, embedding AS qv, tbl, bucket
         |  FROM b WHERE vec_id % 50 = 0),
         |cand AS (SELECT DISTINCT q.query_id, q.qv, b.vec_id, b.embedding
         |  FROM q JOIN b ON q.tbl = b.tbl AND q.bucket = b.bucket
         |    AND q.query_id <> b.vec_id AND b.label = 2)
         |SELECT query_id, rank, neighbor_id FROM (
         |  SELECT query_id, vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY ${graft.functions.Similarity.cosineDuck(
               "qv", "embedding", 64)} DESC, vec_id) AS rank
         |  FROM cand) t
         |WHERE rank <= 3""".stripMargin)),

    // Quartile winsorization (robust stats): clip each order's price to
    // its priority group's [p25, p75] and report the winsorized mean
    // next to the raw one — the outlier-robust aggregate a quality
    // pipeline uses for per-source score calibration. Quartiles (not
    // 5/95) on purpose: (n-1)·q has a DYADIC fractional part, so the
    // interpolated percentile is bit-identical whichever algebraic form
    // an engine uses (a + (b-a)·f vs (1-f)·a + f·b differ by an ulp for
    // non-dyadic f); the clipped values are then rounded to 6 decimals
    // and summed in DECIMAL — order-independent, hash-stable. One
    // aggregation + one broadcast-sized join back (group cardinality).
    CatalogQuery("agg_winsorized_stats", (s, d) => {
      val qs = Tables.orders(s, d).groupBy(col("o_orderpriority"))
        .agg(expr("percentile(o_totalprice, 0.25)").as("p25"),
          expr("percentile(o_totalprice, 0.75)").as("p75"))
      // no broadcast hint: qs is group-cardinality-sized (tiny at runtime)
      // but derives from a fact scan — AQE broadcasts it on its own, and
      // the audit bans HINTED fact-subtree broadcasts
      val clip = Tables.orders(s, d)
        .join(qs, "o_orderpriority")
        .withColumn("cl",
          when(col("o_totalprice") < col("p25"), col("p25"))
            .when(col("o_totalprice") > col("p75"), col("p75"))
            .otherwise(col("o_totalprice")))
      clip.groupBy(col("o_orderpriority")).agg(
        count(lit(1)).as("n"),
        sum((col("o_totalprice") < col("p25")).cast("long")).as("n_low"),
        sum((col("o_totalprice") > col("p75")).cast("long")).as("n_high"),
        max(col("p25")).as("p25"), max(col("p75")).as("p75"),
        (sum(round(col("cl"), 6).cast("decimal(18,6)")).cast("double") /
          count(lit(1))).as("wmean"),
        Q.davg(col("o_totalprice")).as("raw_mean"))
    }, Some(
      s"""WITH qs AS (
        |  SELECT o_orderpriority,
        |    quantile_cont(o_totalprice, 0.25) AS p25,
        |    quantile_cont(o_totalprice, 0.75) AS p75
        |  FROM orders GROUP BY 1),
        |clip AS (
        |  SELECT o.o_orderpriority, o.o_totalprice, qs.p25, qs.p75,
        |    CASE WHEN o.o_totalprice < qs.p25 THEN qs.p25
        |         WHEN o.o_totalprice > qs.p75 THEN qs.p75
        |         ELSE o.o_totalprice END AS cl
        |  FROM orders o JOIN qs USING (o_orderpriority))
        |SELECT o_orderpriority, count(*)::BIGINT AS n,
        |  CAST(sum(CASE WHEN o_totalprice < p25 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
        |  CAST(sum(CASE WHEN o_totalprice > p75 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
        |  max(p25) AS p25, max(p75) AS p75,
        |  CAST(sum(round(cl, 6)::DECIMAL(18,6)) AS DOUBLE) / count(*) AS wmean,
        |  ${Q.oAvg("o_totalprice")} AS raw_mean
        |FROM clip GROUP BY 1""".stripMargin)),

    // Unicode canonicalization via the native NormalizeText expression
    // (NFD → strip combining marks → NFC → lowercase, ASCII fast path).
    // The harness corpus is ASCII, so diacritics are planted
    // deterministically (a→á, e→é via translate on both engines) and
    // the normalizer must fold them back — exercising the real slow
    // path, not just the fast one. Pure projection: no shuffle, stays
    // inside whole-stage codegen.
    CatalogQuery("txt_unicode_normalize", (s, d) => {
      val planted = translate(col("text"), "ae", "áé")
      Tables.documents(s, d).select(col("doc_id"),
        GraftFunctions.normalize_text(planted).as("norm"),
        (GraftFunctions.normalize_text(planted) =!= planted).as("changed"))
    }, Some(
      """SELECT doc_id,
        |  lower(strip_accents(nfc_normalize(translate(text, 'ae', 'áé')))) AS norm,
        |  lower(strip_accents(nfc_normalize(translate(text, 'ae', 'áé'))))
        |    <> translate(text, 'ae', 'áé') AS changed
        |FROM documents""".stripMargin)),

    // BM25 ranked retrieval (k1 = 6/5, b = 3/4) with every intermediate an
    // INTEGER — the rational form of Robertson's formula: with tf, len,
    // df, N, totLen all bigints,
    //   idf      = (2N - 2df + 1) / (2df + 1)
    //   tf-part  = 22·tf·totLen / (10·tf·totLen + 3·totLen + 9·len·N)
    // and the score is two exactly-rounded IEEE divisions and one multiply
    // in the same shape on both engines — log-free, so bit-stable (the
    // same trick as reciprocal-df TF-IDF above; rank-equivalent to the
    // log form for fixed N). The 3-term sum pivots through fixed-order
    // additions, never an unordered double aggregate. Top-10 is
    // TakeOrdered (orderBy+limit) — O(n) with no global sort; the final
    // row_number runs over 10 rows. 22·tf·totLen stays under 2^63 until
    // tf·totLen > 4·10^17 — beyond any single corpus this engine targets.
    CatalogQuery("txt_bm25_topk", (s, d) => {
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
      val top = perDoc.orderBy(col("score").desc, col("doc_id").asc).limit(10)
      top.withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc))
          .cast("long"))
    }, Some(
      """WITH toks AS (
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
        |  FROM scored GROUP BY 1)
        |SELECT doc_id, score,
        |  row_number() OVER (ORDER BY score DESC, doc_id) AS rank
        |FROM per_doc ORDER BY score DESC, doc_id LIMIT 10""".stripMargin)),

    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the
    // MOSS algorithm): k-token shingles → rolling hash → the MINIMUM hash
    // of each w-wide window is a selected fingerprint. Guarantees every
    // shared run of k+w-1 tokens yields at least one shared fingerprint,
    // while keeping ~2/(w+1) of positions — a density-bounded substring
    // near-dup detector (the gap between MinHash whole-doc similarity and
    // exact suffix-array substring dedup). Candidate pairs then join on
    // shared fingerprints with the same heavy-hitter guard as the
    // inverted index (df ≤ 8): boilerplate fingerprints shared by
    // everything never fan out quadratically at 100 TB.
    CatalogQuery("txt_winnowing_candidates", (s, d) => {
      val k = 4; val winw = 4
      // planted multibyte token (2- and 3-byte UTF-8) proves the hash
      // gate is byte-exact, not merely ASCII-equivalent: the oracle's
      // rollingHashDuck expands code points to UTF-8 bytes, so both
      // engines fingerprint identical byte streams
      val planted = concat(col("text"), lit(" ß中"),
        (col("doc_id") % 5).cast("string"))
      val sh = Tables.documents(s, d)
        .select(col("doc_id"), split(planted, " ").as("toks"))
        .filter(size(col("toks")) >= k + winw - 1)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"),
          posexplode(expr(
            s"""transform(sequence(0, size(toks) - $k),
               | i -> concat_ws(' ', slice(toks, CAST(i + 1 AS INT), $k)))"""
              .stripMargin)).as(Seq("pos", "sh")))
      val wMin = Window.partitionBy("doc_id").orderBy("pos")
        .rowsBetween(Window.currentRow, winw - 1)
      val fps = sh
        .select(col("doc_id"), col("pos"),
          (col("n_tok") - k + 1).as("m"),
          GraftFunctions.rolling_hash(col("sh")).as("h"))
        .withColumn("fp", min(col("h")).over(wMin))
        .filter(col("pos") <= col("m") - winw) // full windows only
        .select(col("doc_id"), col("fp")).distinct()
      val dfq = fps.groupBy("fp").agg(count(lit(1)).as("c"))
        .filter(col("c").between(2, 8)).select("fp")
      val cand = fps.join(dfq, "fp")
      cand.as("a").join(cand.as("b"),
          col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 2)
    }, Some(
      s"""WITH toks AS (
        |  SELECT doc_id, string_split(text || ' ß中' || (doc_id % 5)::VARCHAR, ' ') AS t
        |  FROM documents
        |  WHERE len(string_split(text || ' ß中' || (doc_id % 5)::VARCHAR, ' ')) >= 7),
        |sh AS (
        |  SELECT doc_id, len(t) - 3 AS m,
        |    unnest(list_transform(range(0, len(t) - 3),
        |      i -> {'pos': i, 's': array_to_string(t[i + 1:i + 4], ' ')})) AS e
        |  FROM toks),
        |hashed AS (
        |  SELECT doc_id, m, e.pos AS pos,
        |    ${Similarity.rollingHashDuck("e.s")} AS h
        |  FROM sh),
        |fps AS (
        |  SELECT DISTINCT doc_id, fp FROM (
        |    SELECT doc_id, pos, m,
        |      min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |    FROM hashed) t WHERE pos <= m - 4),
        |dfq AS (
        |  SELECT fp FROM (SELECT fp, count(*) AS c FROM fps GROUP BY 1) t
        |  WHERE c BETWEEN 2 AND 8),
        |cand AS (SELECT f.doc_id, f.fp FROM fps f JOIN dfq USING (fp))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  count(*)::BIGINT AS n_shared
        |FROM cand a JOIN cand b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin)),

    // ---- maximal shared spans (substring-level dedup output) -------------
    // The suffix-array substring-dedup result (Lee et al., "Deduplicating
    // Training Data Makes Language Models Better", ACL'22) approximated
    // with k-shingle anchors: matched shingle positions between a doc
    // pair lie on a DIAGONAL (pos_a - pos_b constant) exactly when they
    // belong to one contiguous shared substring, so maximal shared spans
    // are maximal consecutive runs per (pair, diagonal) — the classic
    // islands trick (pos - row_number is constant within a run). A run of
    // c consecutive k-shingles certifies a shared span of c+k-1 tokens;
    // runs >= 2 (spans >= 5 tokens) are reported with per-pair span
    // count, longest span, and total duplicated tokens — the actionable
    // output for span EXCISION (cut the repeated region, keep the doc),
    // which whole-doc dedup (MinHash) and fingerprint sampling
    // (winnowing) cannot give. Every 2m/2m+1 doc pair gets a planted
    // 6-token shared tail unique to the pair, so the detector provably
    // fires pairwise without tripping the df guard.
    //
    // Scale shape: one shingle explode, a df<=8 guard identical to the
    // inverted index (boilerplate shingles never fan out), an equi-join
    // on the 31-bit anchor hash, and windows partitioned by (pair,
    // diagonal) — state per window is the matched-anchor count of ONE
    // diagonal of ONE pair, never corpus-sized. Everything downstream of
    // the explode carries (doc_id, pos, h) triples, not text.
    // The oracle hashes the SAME UTF-8 bytes as RollingHash
    // (Similarity.rollingHashDuck expands code points to bytes), so the
    // gate is byte-exact on any corpus — the planted tail includes a
    // multibyte token ('é'-prefixed) to prove it.
    CatalogQuery("ddp_maximal_shared_spans", (s, d) => {
      val k = 4
      val mStr = expr("CAST(doc_id div 2 AS STRING)")
      val planted = concat(col("text"),
        lit(" sp"), mStr, lit(" qq"), mStr, lit(" rr"), mStr,
        lit(" ss"), mStr, lit(" tt"), mStr, lit(" é"), mStr)
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
      matches
        .withColumn("grp", col("pa") - row_number().over(wRun))
        .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2)
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(count(lit(1)).as("n_spans"),
          (max(col("cnt")) + lit(k - 1)).as("max_span_tokens"),
          (sum(col("cnt")) + lit(k - 1) * count(lit(1))).as("dup_tokens"))
    }, Some(
      s"""WITH docs AS (
        |  SELECT doc_id, string_split(text
        |    || ' sp' || (doc_id // 2)::VARCHAR || ' qq' || (doc_id // 2)::VARCHAR
        |    || ' rr' || (doc_id // 2)::VARCHAR || ' ss' || (doc_id // 2)::VARCHAR
        |    || ' tt' || (doc_id // 2)::VARCHAR || ' é' || (doc_id // 2)::VARCHAR,
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
        |  SELECT doc_a, doc_b, diag,
        |    pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
        |  FROM m),
        |spans AS (
        |  SELECT doc_a, doc_b, diag, grp, count(*)::BIGINT AS cnt
        |  FROM runs GROUP BY 1, 2, 3, 4 HAVING count(*) >= 2)
        |SELECT doc_a, doc_b, count(*)::BIGINT AS n_spans,
        |  (max(cnt) + 3)::BIGINT AS max_span_tokens,
        |  (sum(cnt) + 3 * count(*))::BIGINT AS dup_tokens
        |FROM spans GROUP BY 1, 2""".stripMargin)),

    // ---- CDC-maintained inverted index (segmented postings) -------------
    // The text twin of ann_cdc_incremental_index: a full-text inverted
    // index that FOLLOWS a document change stream instead of being
    // rebuilt. Posting rows are keyed (term, segment = doc_id div 1000)
    // — the Lucene-segment discipline made relational: a posting row is
    // bounded by the segment's doc span, so a stopword's corpus-sized
    // list never concentrates in one row, and a changed doc rewrites
    // ONLY its own (term, segment) rows. Per batch: the batch's OLD
    // images (row-state lookup, pre-merge) and NEW images both
    // tokenize; their (term, segment) pairs are the touched set; each
    // touched row rebuilds as old-entries − changed-docs + new-entries
    // and merges into the postings sink (emptied rows tombstoned). The
    // oracle builds the postings from the from-scratch LWW final state,
    // so the hash gate proves the maintained index converges across
    // revisions (old terms vanish, new terms appear), inserts and
    // deletes. 100 TB: per-batch cost = changed docs' tokens + touched
    // segments (each ≤ segment span), never the corpus; serving reads
    // are term-bucketed point lookups.
    CatalogQuery("idx_cdc_maintained_postings", (s, d) => {
      val (post, _) = maintainedPostingsState(s, d)
      // serve shape: segments concatenate per term in seg order (plist
      // entries are already doc-sorted within a segment, and segments
      // partition the doc-id space in order)
      post
        .select(col("term"), col("seg"), col("n_docs"), col("plist"))
        .groupBy(col("term"))
        .agg(sum(col("n_docs")).as("df"),
          expr("""array_join(flatten(transform(
            |  array_sort(collect_list(struct(seg, plist))),
            |  sp -> transform(sp.plist,
            |    p -> concat(CAST(p.doc_id AS STRING), ':', CAST(p.tf AS STRING))))), ',')""".stripMargin)
            .as("plist_str"))
    }, Some(
      """WITH b3 AS (SELECT unnest(range(1, 4)) AS b),
        |base AS (SELECT doc_id, text, 0::BIGINT AS seq, 0 AS del FROM documents),
        |ups AS (
        |  SELECT doc_id, text || ' rev' || b::VARCHAR, b::BIGINT, 0
        |  FROM documents CROSS JOIN b3 WHERE doc_id % 10 = b),
        |ins AS (
        |  SELECT doc_id + 1000000 * b, text || ' ins' || b::VARCHAR, b::BIGINT, 0
        |  FROM documents CROSS JOIN b3 WHERE doc_id % 23 = b),
        |dels AS (
        |  SELECT doc_id, CAST(NULL AS VARCHAR), b::BIGINT, 1
        |  FROM documents CROSS JOIN b3 WHERE doc_id % 17 = b AND doc_id % 10 <> b),
        |log AS (
        |  SELECT * FROM base UNION ALL SELECT * FROM ups
        |  UNION ALL SELECT * FROM ins UNION ALL SELECT * FROM dels),
        |fin AS (
        |  SELECT doc_id, text FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
        |    FROM log) t
        |  WHERE rn = 1 AND del = 0),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM fin),
        |tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2)
        |SELECT term, count(*)::BIGINT AS df,
        |  string_agg(doc_id::VARCHAR || ':' || tf::VARCHAR, ',' ORDER BY doc_id)
        |    AS plist_str
        |FROM tf GROUP BY term""".stripMargin)),

    // ---- BM25 served FROM the maintained index ---------------------------
    // The retrieval serving loop closed over maintained state: the query
    // ['spark', 'rev1', 'ins2'] mixes base-vocabulary and
    // maintenance-PLANTED terms (rev1/ins2 only exist because the index
    // followed revisions and inserts), tf and df come from the maintained
    // posting rows (term-keyed point reads + a per-term segment sum —
    // never a corpus scan), doc lengths from the maintained doc-state's
    // n_tok column (column-pruned read; the global (N, totLen) stat pair
    // is one aggregate over it — maintainable by the cdc_ivm discipline
    // if even that scan must go). Scoring is txt_bm25_topk's rational
    // integer form (log-free, bit-stable), top-10 by TakeOrdered. The
    // oracle recomputes BM25 from the from-scratch LWW document state,
    // so the gate proves serving from the maintained index equals
    // recomputation over the corpus.
    CatalogQuery("idx_cdc_maintained_bm25", (s, d) => {
      val (post, docState) = maintainedPostingsState(s, d)
      // global stats from the maintained reserved rows (doc_id < 0) —
      // no corpus aggregate; real docs feed the per-doc length join
      val stats = docState.filter(col("doc_id") < 0)
        .agg(
          coalesce(max(when(col("doc_id") === -2L, col("n_tok"))), lit(0L))
            .as("n_docs"),
          coalesce(max(when(col("doc_id") === -1L, col("n_tok"))), lit(0L))
            .as("tot_len"))
      val perDoc = bm25Scores(post, docState.filter(col("doc_id") >= 0),
        stats, Seq("spark", "rev1", "ins2"))
      val top = perDoc.orderBy(col("score").desc, col("doc_id").asc).limit(10)
      top.withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc))
          .cast("long"))
    }, Some(
      s"""WITH b3 AS (SELECT unnest(range(1, 4)) AS b),
         |base AS (SELECT doc_id, text, 0::BIGINT AS seq, 0 AS del FROM documents),
         |ups AS (
         |  SELECT doc_id, text || ' rev' || b::VARCHAR, b::BIGINT, 0
         |  FROM documents CROSS JOIN b3 WHERE doc_id % 10 = b),
         |ins AS (
         |  SELECT doc_id + 1000000 * b, text || ' ins' || b::VARCHAR, b::BIGINT, 0
         |  FROM documents CROSS JOIN b3 WHERE doc_id % 23 = b),
         |dels AS (
         |  SELECT doc_id, CAST(NULL AS VARCHAR), b::BIGINT, 1
         |  FROM documents CROSS JOIN b3 WHERE doc_id % 17 = b AND doc_id % 10 <> b),
         |log AS (
         |  SELECT * FROM base UNION ALL SELECT * FROM ups
         |  UNION ALL SELECT * FROM ins UNION ALL SELECT * FROM dels),
         |fin AS (
         |  SELECT doc_id, text FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
         |    FROM log) t
         |  WHERE rn = 1 AND del = 0),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM fin),
         |tf AS (
         |  SELECT doc_id, len, term, count(*) AS tf FROM (
         |    SELECT doc_id, len(t)::BIGINT AS len, unnest(t) AS term FROM toks)
         |  WHERE term IN ('spark', 'rev1', 'ins2')
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
         |    + coalesce(max(CASE WHEN term = 'rev1' THEN s END), 0.0)
         |    + coalesce(max(CASE WHEN term = 'ins2' THEN s END), 0.0) AS score
         |  FROM scored GROUP BY 1)
         |SELECT doc_id, score,
         |  row_number() OVER (ORDER BY score DESC, doc_id) AS rank
         |FROM per_doc ORDER BY score DESC, doc_id LIMIT 10""".stripMargin)),

    // ---- streaming BM25 serving against the maintained index ------------
    // The text twin of ann_stream_serve, closing the retrieval loop in
    // streaming: ONE tagged stream carries both the document CDC and the
    // query traffic. Each micro-batch first runs the postings/doc-state
    // maintenance step (old-image lookup BEFORE merge; both merges
    // mergeOnce-guarded by the batch id), then serves BM25 for the
    // batch's query terms from a FRESH read of the maintained state —
    // answers evolve as revisions land (the planted rev1/ins2 terms only
    // score once batches 1/2 have merged, and rev1's hit set shifts when
    // later revisions overwrite " rev1" suffixes). The oracle re-derives
    // every batch's as-of answers from the LWW document state in SQL, so
    // the gate proves serving from maintained state equals recomputation
    // at every point in stream time. 100 TB: per-batch cost = maintenance
    // (changed docs' tokens + touched segments) + term-keyed point reads
    // for the query set; never a corpus scan.
    CatalogQuery("idx_stream_serve_bm25", (s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      import s.implicits._
      val work = Q.scratch("bm25serve")
      val qterms = Seq("ins2", "rev1", "spark") // fold order: sorted, see below
      // batch b's file: its change rows + the query terms stamped qb = b
      (0 to 3).foreach { b =>
        val chg = docChangeBatch(s, d, b)
          .select(lit("chg").as("kind"), lit(b.toLong).as("qb"), col("doc_id"),
            col("text"), col("n_tok"), col("op"), col("seq"),
            lit(null).cast("string").as("term"))
        val qry = qterms.toDF("term")
          .select(lit("qry").as("kind"), lit(b.toLong).as("qb"),
            lit(null).cast("bigint").as("doc_id"), lit(null).cast("string").as("text"),
            lit(null).cast("bigint").as("n_tok"), lit(null).cast("string").as("op"),
            lit(null).cast("bigint").as("seq"), col("term"))
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
      // serving sinks: one-merge read grace for external readers; the
      // postings bucket on TERM so a probe reads only its query terms'
      // buckets (the real index's term-keyed point read) — all segments
      // of a term co-locate in its bucket by construction
      val docState = new graft.sinks.SnapshotSink(s, s"$work/docs", Seq("doc_id"),
        readGrace = true)
      val postings = new graft.sinks.SnapshotSink(s, s"$work/postings",
        Seq("term", "seg"), readGrace = true, bucketBy = Seq("term"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "kind STRING, qb BIGINT, doc_id BIGINT, text STRING, n_tok BIGINT, " +
          "op STRING, seq BIGINT, term STRING")
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$work/in")
      val q = stream.writeStream
        .foreachBatch((batch: org.apache.spark.sql.DataFrame, id: Long) => {
          val ch = batch.filter(col("kind") === "chg")
            .select(col("doc_id"), col("text"), col("n_tok"), col("op"), col("seq"))
          // control reads: 1-row seq stamp + the bounded query-term set.
          // Either side of the mixed batch may be empty (a change-free or
          // probe-free micro-batch): max() over zero rows is NULL — skip
          // that half instead of an opaque NPE.
          val seqBox = ch.agg(max(col("seq"))).head.getAs[java.lang.Long](0)
          if (seqBox != null)
            maintainPostingsBatch(docState, postings, ch, seqBox.longValue,
              batchId = Some(id), auditSite = "idx_stream_serve_bm25")
          val qrows = batch.filter(col("kind") === "qry")
            .select(col("qb"), col("term"))
          val qbvBox = qrows.agg(max(col("qb"))).head.getAs[java.lang.Long](0)
          if (qbvBox != null) {
            val qbv = qbvBox.longValue
            // the terms COME FROM the stream; sorted so the double-addition
            // fold order is deterministic (and matched by the oracle). A
            // query batch carries a few terms by construction — enforced:
            val terms = graft.core.Bounded.collect(
              qrows.select(col("term")).distinct(), 10000,
              "idx_stream_serve_bm25/query-terms",
              "a query batch must stay a bounded term set; split oversized " +
                "query traffic into smaller micro-batches")
              .map(_.getString(0)).sorted.toSeq
            // postings point-read: only the query terms' buckets are
            // listed and scanned — never the vocabulary-sized sink. The
            // global (N, totLen) pair is a fixed-key point read of the
            // maintained reserved stats rows, and doc lengths are a
            // point read of exactly the scored docs' buckets — the
            // serve's frames contain NO full doc-state scan at all
            // (r13 verdict #5)
            // the query terms are a driver value (just collected): their
            // term-bucket ids are driver arithmetic, not a projection job
            val qpost = postings.readBucketIds(
                terms.map(t => postings.bucketIdOf(t)).toSet)
              .filter(col("term").isin(terms: _*)).localCheckpoint()
            // the scored docs' bucket ids ride the id checkpoint (Fused)
            val (scoredIds, scoredBuckets) = graft.core.Fused.checkpointIntSet(
              qpost.select(explode(col("plist")).as("p"))
                .select(col("p.doc_id").as("doc_id")).distinct(),
              docState.bucketIdExpr())
            val lens = docState.readBucketIds(scoredBuckets)
              .join(scoredIds, Seq("doc_id"), "left_semi")
            // fixed reserved stats keys → driver arithmetic
            val stats = docState.readBucketIds(
                Set(docState.bucketIdOf(-1L), docState.bucketIdOf(-2L)))
              .filter(col("doc_id") < 0)
              .agg(
                coalesce(max(when(col("doc_id") === -2L, col("n_tok"))), lit(0L))
                  .as("n_docs"),
                coalesce(max(when(col("doc_id") === -1L, col("n_tok"))), lit(0L))
                  .as("tot_len"))
            val perDoc = bm25Scores(qpost, lens, stats, terms)
            val top = perDoc.orderBy(col("score").desc, col("doc_id").asc).limit(10)
            graft.core.AuditSeam.report("idx_stream_serve_bm25/serve",
              top.withColumn("rank",
                row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc))
                  .cast("long"))
                .select(lit(qbv).as("qbatch"), col("doc_id"), col("score"), col("rank")))
              .write.mode("append").parquet(s"$work/out")
          }
        })
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$work/out")
        .dropDuplicates(Seq("qbatch", "rank")) // task-retry copies
        .select(col("qbatch"), col("doc_id"), col("score"), col("rank"))
    }, Some(
      """WITH b3 AS (SELECT unnest(range(1, 4)) AS b),
        |base AS (SELECT doc_id, text, 0::BIGINT AS seq, 0 AS del FROM documents),
        |ups AS (
        |  SELECT doc_id, text || ' rev' || b::VARCHAR, b::BIGINT, 0
        |  FROM documents CROSS JOIN b3 WHERE doc_id % 10 = b),
        |ins AS (
        |  SELECT doc_id + 1000000 * b, text || ' ins' || b::VARCHAR, b::BIGINT, 0
        |  FROM documents CROSS JOIN b3 WHERE doc_id % 23 = b),
        |dels AS (
        |  SELECT doc_id, CAST(NULL AS VARCHAR), b::BIGINT, 1
        |  FROM documents CROSS JOIN b3 WHERE doc_id % 17 = b AND doc_id % 10 <> b),
        |log AS (
        |  SELECT * FROM base UNION ALL SELECT * FROM ups
        |  UNION ALL SELECT * FROM ins UNION ALL SELECT * FROM dels),
        |qb4 AS (SELECT unnest(range(0, 4)) AS qb),
        |finb AS (
        |  SELECT qb, doc_id, text FROM (
        |    SELECT q4.qb, l.doc_id, l.text, l.del,
        |      row_number() OVER (PARTITION BY q4.qb, l.doc_id ORDER BY l.seq DESC) AS rn
        |    FROM qb4 q4 CROSS JOIN log l WHERE l.seq <= q4.qb) t
        |  WHERE rn = 1 AND del = 0),
        |toks AS (SELECT qb, doc_id, string_split(text, ' ') AS t FROM finb),
        |tfb AS (
        |  SELECT qb, doc_id, len, term, count(*) AS tf FROM (
        |    SELECT qb, doc_id, len(t)::BIGINT AS len, unnest(t) AS term FROM toks)
        |  WHERE term IN ('spark', 'rev1', 'ins2')
        |  GROUP BY 1, 2, 3, 4),
        |dfr AS (SELECT qb, term, count(*) AS df FROM tfb GROUP BY 1, 2),
        |stats AS (
        |  SELECT qb, count(*)::BIGINT AS n_docs, sum(len(t))::BIGINT AS tot_len
        |  FROM toks GROUP BY 1),
        |scored AS (
        |  SELECT tfb.qb, tfb.doc_id, tfb.term,
        |    (CAST(2 * st.n_docs - 2 * df + 1 AS DOUBLE) / (2 * df + 1)) *
        |    (CAST(22 * tf * tot_len AS DOUBLE)
        |      / (10 * tf * tot_len + 3 * tot_len + 9 * len * st.n_docs)) AS s
        |  FROM tfb JOIN dfr ON dfr.qb = tfb.qb AND dfr.term = tfb.term
        |  JOIN stats st ON st.qb = tfb.qb),
        |per_doc AS (
        |  SELECT qb, doc_id,
        |    coalesce(max(CASE WHEN term = 'ins2' THEN s END), 0.0)
        |    + coalesce(max(CASE WHEN term = 'rev1' THEN s END), 0.0)
        |    + coalesce(max(CASE WHEN term = 'spark' THEN s END), 0.0) AS score
        |  FROM scored GROUP BY 1, 2)
        |SELECT qb AS qbatch, doc_id, score, rank FROM (
        |  SELECT qb, doc_id, score,
        |    row_number() OVER (PARTITION BY qb ORDER BY score DESC, doc_id) AS rank
        |  FROM per_doc) t
        |WHERE rank <= 10""".stripMargin)),

    // ---- segment compaction over the maintained index --------------------
    // The Lucene TieredMergePolicy discipline made relational: after the
    // 4 maintenance batches, segments whose live-doc count fell under
    // HALF the 1000-doc segment capacity (revision-churned stragglers +
    // the per-batch insert segments) are merge-eligible; the merge plan
    // ranks them by (live_docs, seg) and packs up to 8 per tier
    // (maxMergeAtOnce), emitting consolidated segments in the 1e6+ id
    // space. ONLY merge-eligible segments' postings rewrite — full
    // segments are untouched (verified in the spec) — and tiers merge
    // independently in parallel. The plan window runs over segment
    // METADATA (corpus/1000 rows — the same driver-side scale Lucene's
    // merge policy operates at; a shard-level pre-pack bounds it further
    // if segment metadata ever outgrows one task). The oracle rebuilds
    // the final doc state from scratch and replays the same policy.
    CatalogQuery("idx_cdc_segment_compaction", (s, d) => {
      val (post, _) = maintainedPostingsState(s, d)
      val entries = post
        .select(col("term"), col("seg"), explode(col("plist")).as("p"))
        .select(col("term"), col("seg"),
          col("p.doc_id").as("doc_id"), col("p.tf").as("tf"))
      val segStats = entries.groupBy(col("seg"))
        .agg(countDistinct(col("doc_id")).as("live_docs"))
      val small = segStats.filter(col("live_docs") < 500)
        .withColumn("rn", row_number().over(
          Window.orderBy(col("live_docs"), col("seg"))))
        .select(col("seg"),
          expr("CAST(1000000 + ((rn - 1) div 8) AS BIGINT)").as("new_seg"))
      entries.join(broadcast(small), Seq("seg"), "left")
        .select(col("term"), coalesce(col("new_seg"), col("seg")).as("seg"),
          col("doc_id"), col("tf"))
        .groupBy(col("term"), col("seg"))
        .agg(count(lit(1)).as("n_docs"),
          expr("""array_join(transform(sort_array(collect_list(struct(doc_id, tf))),
            |  p -> concat(CAST(p.doc_id AS STRING), ':', CAST(p.tf AS STRING))), ',')""".stripMargin)
            .as("plist_str"))
    }, Some(
      """WITH b3 AS (SELECT unnest(range(1, 4)) AS b),
        |base AS (SELECT doc_id, text, 0::BIGINT AS seq, 0 AS del FROM documents),
        |ups AS (
        |  SELECT doc_id, text || ' rev' || b::VARCHAR, b::BIGINT, 0
        |  FROM documents CROSS JOIN b3 WHERE doc_id % 10 = b),
        |ins AS (
        |  SELECT doc_id + 1000000 * b, text || ' ins' || b::VARCHAR, b::BIGINT, 0
        |  FROM documents CROSS JOIN b3 WHERE doc_id % 23 = b),
        |dels AS (
        |  SELECT doc_id, CAST(NULL AS VARCHAR), b::BIGINT, 1
        |  FROM documents CROSS JOIN b3 WHERE doc_id % 17 = b AND doc_id % 10 <> b),
        |log AS (
        |  SELECT * FROM base UNION ALL SELECT * FROM ups
        |  UNION ALL SELECT * FROM ins UNION ALL SELECT * FROM dels),
        |fin AS (
        |  SELECT doc_id, text FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
        |    FROM log) t
        |  WHERE rn = 1 AND del = 0),
        |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM fin),
        |tf AS (
        |  SELECT term, doc_id, count(*)::BIGINT AS tf,
        |    (doc_id // 1000)::BIGINT AS seg
        |  FROM toks GROUP BY 1, 2),
        |segstats AS (
        |  SELECT seg, count(DISTINCT doc_id)::BIGINT AS live_docs
        |  FROM tf GROUP BY 1),
        |small AS (
        |  SELECT seg,
        |    (1000000 + ((row_number() OVER (ORDER BY live_docs, seg) - 1) // 8))::BIGINT
        |      AS new_seg
        |  FROM segstats WHERE live_docs < 500),
        |mapped AS (
        |  SELECT t.term, coalesce(sm.new_seg, t.seg)::BIGINT AS seg,
        |    t.doc_id, t.tf
        |  FROM tf t LEFT JOIN small sm ON sm.seg = t.seg)
        |SELECT term, seg, count(*)::BIGINT AS n_docs,
        |  string_agg(doc_id::VARCHAR || ':' || tf::VARCHAR, ',' ORDER BY doc_id)
        |    AS plist_str
        |FROM mapped GROUP BY 1, 2""".stripMargin)),

    // ---- compaction INSIDE the maintenance loop ---------------------------
    // idx_cdc_segment_compaction runs the tiered policy once, post-hoc;
    // this entry runs it per-batch through [[maintainCompactingBatch]]:
    // each change batch merges its touched rows AND, when small segments
    // pile past the trigger, the merge plan packs them in the SAME commit.
    // Segment identity is tracked via the in-sink remap (see the
    // maintenance step's scaladoc); the gated max_batch_segs column
    // carries the bound the loop exists to enforce — segment count stays
    // bounded across batches (regimeGuard trips past 16), while the
    // naive loop would accrue ~5 birth segments per insert batch forever.
    // The oracle replays the full per-batch remap fold (live counts →
    // eligibility → rank-packed merge targets) and the final postings.
    CatalogQuery("idx_cdc_compacted_postings", (s, d) => {
      val work = Q.scratch("cmpidx")
      // seg-bucketed: every maintenance read (metadata row, changed docs'
      // images, touched/eligible segments) is a bucket point read
      val postings = new graft.sinks.SnapshotSink(s, s"$work/idx",
        Seq("term", "seg"), bucketBy = Seq("seg"))
      var maxSegs = 0L
      var excess = 0L
      (0 to 3).foreach { b =>
        val (n, live) = graft.core.Prof.time(s"cmpidx/batch$b") {
          maintainCompactingBatch(postings,
            docChangeBatch(s, d, b), b.toLong, "idx_cdc_compacted_postings")
        }
        maxSegs = math.max(maxSegs, n)
        // the gate is ACCRETION, not an absolute count: a healthy corpus
        // legitimately carries ~N/segDiv full birth segments (50 at
        // sf0.1), and the policy only merges segments under thrLive —
        // the invariant compaction enforces is that the count never
        // exceeds the N/thrLive envelope by more than bounded slack
        // (trigger-1 small leftovers + this batch's new births); the
        // naive no-compaction loop accretes ~5 small segments per batch
        // FOREVER and blows the slack in a few batches
        excess = math.max(excess, n - live / 40L)
      }
      postings.read().filter(col("seg") >= 0)
        .select(col("term"), col("seg"), col("n_docs"),
          expr("""array_join(transform(plist,
            |  p -> concat(CAST(p.doc_id AS STRING), ':', CAST(p.tf AS STRING))), ',')""".stripMargin)
            .as("plist_str"))
        .withColumn("max_batch_segs", lit(maxSegs) +
          Q.regimeGuard(lit(excess), 16L, "idx_cdc_compacted_postings",
            "segment count must stay bounded — lower the small-segment " +
              "threshold or raise the pack factor"))
    }, Some {
      def dCte(b: Int): String =
        s"""d$b AS MATERIALIZED (
           |  SELECT doc_id, text FROM (
           |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY seq DESC) AS rn
           |    FROM log WHERE seq <= $b) t
           |  WHERE rn = 1 AND del = 0)""".stripMargin
      def foldCte(b: Int): String = {
        val pre =
          if (b == 0) s"pre0 AS (SELECT DISTINCT doc_id // 100 AS orig, doc_id // 100 AS cur FROM d0)"
          else
            s"""pre$b AS (
               |  SELECT o.orig, coalesce(m.cur, o.orig) AS cur
               |  FROM (SELECT DISTINCT doc_id // 100 AS orig FROM d$b) o
               |  LEFT JOIN mm${b - 1} m ON m.orig = o.orig)""".stripMargin
        s"""$pre,
           |lv$b AS MATERIALIZED (
           |  SELECT p.cur, count(*)::BIGINT AS live
           |  FROM d$b d JOIN pre$b p ON p.orig = d.doc_id // 100 GROUP BY 1),
           |el$b AS (
           |  SELECT cur,
           |    (${1000000L * (b + 1)} + (row_number() OVER (ORDER BY live, cur) - 1) // 8)::BIGINT
           |      AS new_seg,
           |    count(*) OVER () AS ne
           |  FROM lv$b WHERE live < 40),
           |mm$b AS MATERIALIZED (
           |  SELECT p.orig,
           |    CASE WHEN e.new_seg IS NOT NULL AND e.ne >= 6 THEN e.new_seg
           |         ELSE p.cur END AS cur
           |  FROM pre$b p LEFT JOIN el$b e ON e.cur = p.cur),
           |ns$b AS (SELECT count(DISTINCT cur)::BIGINT AS n FROM mm$b)""".stripMargin
      }
      s"""WITH b3 AS (SELECT unnest(range(1, 4)) AS b),
         |base AS (SELECT doc_id, text, 0::BIGINT AS seq, 0 AS del FROM documents),
         |ups AS (
         |  SELECT doc_id, text || ' rev' || b::VARCHAR, b::BIGINT, 0
         |  FROM documents CROSS JOIN b3 WHERE doc_id % 10 = b),
         |ins AS (
         |  SELECT doc_id + 1000000 * b, text || ' ins' || b::VARCHAR, b::BIGINT, 0
         |  FROM documents CROSS JOIN b3 WHERE doc_id % 23 = b),
         |dels AS (
         |  SELECT doc_id, CAST(NULL AS VARCHAR), b::BIGINT, 1
         |  FROM documents CROSS JOIN b3 WHERE doc_id % 17 = b AND doc_id % 10 <> b),
         |log AS (
         |  SELECT * FROM base UNION ALL SELECT * FROM ups
         |  UNION ALL SELECT * FROM ins UNION ALL SELECT * FROM dels),
         |${(0 to 3).map(dCte).mkString(",\n")},
         |${(0 to 3).map(foldCte).mkString(",\n")},
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM d3),
         |tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
         |mapped AS (
         |  SELECT t.term, m.cur AS seg, t.doc_id, t.tf
         |  FROM tf t JOIN mm3 m ON m.orig = t.doc_id // 100)
         |SELECT term, seg, count(*)::BIGINT AS n_docs,
         |  string_agg(doc_id::VARCHAR || ':' || tf::VARCHAR, ',' ORDER BY doc_id)
         |    AS plist_str,
         |  greatest((SELECT n FROM ns0), (SELECT n FROM ns1),
         |    (SELECT n FROM ns2), (SELECT n FROM ns3)) AS max_batch_segs
         |FROM mapped GROUP BY 1, 2""".stripMargin
    }, bench = true),

    // ---- phrase search over positional postings --------------------------
    // The inverted-index depth step term-keyed postings can't serve:
    // PHRASE queries need token positions. The entry finds the corpus's
    // most frequent bigram (a 1-row TakeOrdered plan — the "query"), then
    // evaluates it the way a positional index does: read ONLY the two
    // query terms' positional postings (term-filtered scan against the
    // broadcast 1-row query — at 100 TB this is the postings point-read,
    // never a corpus scan), intersect by doc with the adjacency
    // constraint pos2 = pos1 + 1, count matches per doc, top-100 by
    // (n_matches, doc_id) via TakeOrdered. Bigram derivation is a pure
    // map stage (slice-zip, no self-join); every tie-break is a total
    // order on both engines.
    CatalogQuery("idx_phrase_search_positional", (s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
      val pos = toks.select(col("doc_id"),
        posexplode(col("tk")).as(Seq("pos", "term")))
      val bg = toks.select(explode(expr(
          """zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1),
            |  (a, b) -> struct(a AS w1, b AS w2))""".stripMargin)).as("z"))
        .select(col("z.w1").as("w1"), col("z.w2").as("w2"))
      val top1 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w1"), col("w2")).limit(1)
        .select(col("w1"), col("w2"))
      val p1 = pos.join(broadcast(top1), col("term") === col("w1"))
        .select(col("doc_id"), col("pos"))
      val p2 = pos.join(broadcast(top1), col("term") === col("w2"))
        .select(col("doc_id").as("doc_id2"), col("pos").as("pos2"))
      val m = p1.join(p2,
          col("doc_id2") === col("doc_id") && col("pos2") === col("pos") + 1)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_matches"))
      m.crossJoin(broadcast(top1))
        .select(col("w1"), col("w2"), col("doc_id"), col("n_matches"))
        .orderBy(col("n_matches").desc, col("doc_id")).limit(100)
    }, Some(
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |pos AS (
        |  SELECT doc_id, unnest(tk) AS term,
        |    unnest(range(0, len(tk))) AS pos
        |  FROM toks),
        |bg AS (
        |  SELECT unnest(tk[1:len(tk) - 1]) AS w1, unnest(tk[2:len(tk)]) AS w2
        |  FROM toks),
        |top1 AS (
        |  SELECT w1, w2 FROM bg GROUP BY 1, 2
        |  ORDER BY count(*) DESC, w1, w2 LIMIT 1),
        |p1 AS (SELECT p.doc_id, p.pos FROM pos p JOIN top1 t ON p.term = t.w1),
        |p2 AS (SELECT p.doc_id, p.pos FROM pos p JOIN top1 t ON p.term = t.w2),
        |m AS (
        |  SELECT p1.doc_id, count(*)::BIGINT AS n_matches
        |  FROM p1 JOIN p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
        |  GROUP BY 1)
        |SELECT t.w1, t.w2, m.doc_id, m.n_matches
        |FROM m CROSS JOIN top1 t
        |ORDER BY n_matches DESC, doc_id LIMIT 100""".stripMargin))
  )

  /** Document change batch `b` shared by the maintained-index family:
    * batch 0 = base corpus inserts; batch b ≥ 1 = revisions
    * (doc_id % 10 == b, text + " rev<b>"), inserts (doc_id % 23 == b,
    * shifted ids, text + " ins<b>") and tombstones (doc_id % 17 == b,
    * non-revised). Columns (doc_id, text, n_tok, op, seq).
    */
  private[analytics] def docChangeBatch(
      s: org.apache.spark.sql.SparkSession, d: String, b: Int)
      : org.apache.spark.sql.DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val raw =
      if (b == 0)
        docs.select(col("doc_id"), col("text"),
          lit(graft.core.ChangeLog.Insert).as("op"), lit(0L).as("seq"))
      else {
        val ups = docs.filter(col("doc_id") % 10 === b)
          .select(col("doc_id"), concat(col("text"), lit(s" rev$b")).as("text"))
        val ins = docs.filter(col("doc_id") % 23 === b)
          .select((col("doc_id") + lit(1000000L * b)).as("doc_id"),
            concat(col("text"), lit(s" ins$b")).as("text"))
        val dels = docs.filter(col("doc_id") % 17 === b && col("doc_id") % 10 =!= b)
          .select(col("doc_id"), lit(null).cast("string").as("text"))
        ups.unionByName(ins)
          .withColumn("op", lit(graft.core.ChangeLog.Update))
          .unionByName(dels.withColumn("op", lit(graft.core.ChangeLog.Delete)))
          .withColumn("seq", lit(b.toLong))
      }
    raw.withColumn("n_tok",
      when(col("text").isNotNull, size(split(col("text"), " ")).cast("long")))
  }

  /** (term, doc, tf, seg) posting entries of a set of live documents;
    * `segDiv` sets the birth-segment granularity (doc_id div segDiv).
    */
  private def docEntries(df: org.apache.spark.sql.DataFrame,
      segDiv: Long = 1000L): org.apache.spark.sql.DataFrame = df
    .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
    .withColumn("seg", expr(s"doc_id div $segDiv"))

  /** The doc-state sink's reserved stats keys: global totLen at −1 and
    * global live-doc count at −2, each stored in the `n_tok` column of a
    * one-field reserved row. Maintained by batch arithmetic in
    * [[maintainPostingsBatch]] so the BM25 serve's (N, totLen) pair is a
    * fixed-key point read, never a corpus aggregate (r13 verdict #5).
    * Real docs have doc_id ≥ 0, so the keys cannot collide.
    */
  private val TotLenKey = -1L
  private val NDocsKey = -2L

  /** One maintenance step of the (term, segment)-keyed postings + the
    * doc-state sink for change batch `ch`. Old images are looked up
    * BEFORE any merge — and only via bucket point reads: the changed
    * docs' own doc-state buckets, the touched (term, seg) pairs' posting
    * buckets, and the fixed stats keys. Postings merge FIRST, doc-state
    * second — a crash between the two replays against an UNCHANGED
    * doc-state, so the recomputed postings batch AND the recomputed
    * stats deltas are identical (the reverse order would recompute old
    * images from already-advanced state). `batchId` engages the
    * mergeOnce exactly-once guard (the streaming serving loop); None =
    * plain seq-LWW merges (the batch harness).
    */
  private def maintainPostingsBatch(
      docState: graft.sinks.SnapshotSink, postings: graft.sinks.SnapshotSink,
      ch: org.apache.spark.sql.DataFrame, seqNo: Long,
      batchId: Option[Long], auditSite: String): Unit = {
    val s = ch.sparkSession
    import s.implicits._
    // the changed keys' doc-state bucket ids ride the key checkpoint job
    // (Fused observed collect_set)
    val (keys, keyBuckets) = graft.core.Fused.checkpointIntSet(
      ch.select(col("doc_id")).distinct(), docState.bucketIdExpr())
    val newEntries = docEntries(ch.filter(col("op") =!= graft.core.ChangeLog.Delete))
    // the changed docs' old images — a point read of their own buckets
    val oldDocs =
      if (!docState.exists) None
      else Some(docState.readBucketIds(keyBuckets)
        .join(keys, Seq("doc_id"), "left_semi").localCheckpoint())
    val (touched, carried) = oldDocs match {
      case None => (newEntries.select("term", "seg").distinct(), newEntries)
      case Some(od) =>
        val oldEntries = docEntries(od)
        // materialized: t feeds the bucket-id projection AND the rebuild;
        // the bucket ids ride the checkpoint job (the expression uses the
        // sink's own bucketBy columns, so this works under either pk or
        // term bucketing — t carries both by name)
        val (t, tBuckets) = graft.core.Fused.checkpointIntSet(
          newEntries.select("term", "seg")
            .unionByName(oldEntries.select("term", "seg")).distinct(),
          postings.bucketIdExpr())
        // old posting rows of the touched (term, seg) pairs — a
        // bucket-pruned point read of the touched keys' buckets — with
        // the changed docs' entries dropped, then the new images added
        val old = postings.readBucketIds(tBuckets).join(t, Seq("term", "seg"))
          .select(col("term"), col("seg"), explode(col("plist")).as("p"))
          .select(col("term"), col("seg"),
            col("p.doc_id").as("doc_id"), col("p.tf").as("tf"))
          .join(keys, Seq("doc_id"), "left_anti")
          .select(col("term"), col("doc_id"), col("tf"), col("seg"))
        (t, old.unionByName(newEntries))
    }
    val rebuilt = carried.groupBy(col("term"), col("seg"))
      .agg(count(lit(1)).as("n_docs"),
        expr("sort_array(collect_list(struct(doc_id, tf)))").as("plist"))
    val dropped = touched.join(rebuilt.select("term", "seg"),
        Seq("term", "seg"), "left_anti")
      .select(col("term"), col("seg"), lit(null).cast("bigint").as("n_docs"),
        lit(null).cast("array<struct<doc_id:bigint,tf:bigint>>").as("plist"),
        lit(graft.core.ChangeLog.Delete).as("op"))
    val postBatch = graft.core.AuditSeam.report(s"$auditSite/postings", rebuilt
      .withColumn("op", lit(graft.core.ChangeLog.Update))
      .unionByName(dropped)
      .withColumn("seq", lit(seqNo)))
    // global (N, totLen) maintained by batch arithmetic: subtract the
    // changed docs' old contributions (from the same point read the old
    // entries used), add the non-delete new ones. Two fixed-key reserved
    // rows, committed in the SAME doc-state merge as the doc images.
    val (oldN, oldLen) = oldDocs match {
      case None => (0L, 0L)
      case Some(_) =>
        // fixed reserved keys: bucket ids are driver arithmetic, not a
        // projection job over a 2-row driver frame
        val r = docState.readBucketIds(
            Set(docState.bucketIdOf(TotLenKey), docState.bucketIdOf(NDocsKey)))
          .filter(col("doc_id") < 0)
          .agg(
            coalesce(max(when(col("doc_id") === NDocsKey, col("n_tok"))), lit(0L)),
            coalesce(max(when(col("doc_id") === TotLenKey, col("n_tok"))), lit(0L)))
          .head()
        (r.getLong(0), r.getLong(1))
    }
    val depRow = oldDocs.map(
      _.agg(count(lit(1)), coalesce(sum(col("n_tok")), lit(0L))).head())
    val (depN, depLen) = depRow.map(r => (r.getLong(0), r.getLong(1)))
      .getOrElse((0L, 0L))
    val arrRow = ch.filter(col("op") =!= graft.core.ChangeLog.Delete)
      .agg(count(lit(1)), coalesce(sum(col("n_tok")), lit(0L))).head()
    val (arrN, arrLen) = (arrRow.getLong(0), arrRow.getLong(1))
    val statsRows = Seq(
      (NDocsKey, oldN - depN + arrN), (TotLenKey, oldLen - depLen + arrLen))
      .toDF("doc_id", "n_tok")
      .withColumn("text", lit(null).cast("string"))
      .withColumn("op", lit(graft.core.ChangeLog.Update))
      .withColumn("seq", lit(seqNo))
    val docBatch = ch.select(col("doc_id"), col("text"), col("n_tok"),
      col("op"), col("seq")).unionByName(statsRows)
    batchId match {
      case Some(id) =>
        postings.mergeOnce(id, postBatch)
        docState.mergeOnce(id, docBatch)
        ()
      case None =>
        postings.merge(postBatch)
        docState.merge(docBatch)
    }
  }

  /** One maintenance step of a postings index with TIERED COMPACTION
    * inside the loop — idx_cdc_segment_compaction's policy wired into the
    * per-batch merge instead of a post-hoc pass. The lifecycle problem a
    * maintained index accrues: inserts land in small birth segments
    * (doc_id div segDiv) and small segments pile up batch after batch.
    * After computing the batch's touched-(term,seg) rebuild exactly like
    * [[maintainPostingsBatch]], this step computes post-batch live-doc
    * counts per CURRENT segment; when at least `trigger` segments fall
    * under `thrLive` live docs, the merge plan packs them — ranked
    * (live asc, seg asc), 8 per merged segment, ids 1000000·(seq+1)+g —
    * and ONLY those merge-eligible segments rewrite, in the SAME
    * mergeOnce commit as the batch's own rows, so a crash can never
    * observe half a compaction.
    *
    * Segment identity is TRACKED, not derived: compaction moves whole
    * segments, so a doc's postings live at remap(birth_seg). The remap
    * AND the per-origin live-doc stats are stored IN the postings sink
    * as two reserved MANIFEST ROWS at a fixed key (term "@segremap" /
    * "@seglive", seg = −1, each carrying its whole O(segments) table in
    * the plist payload as (orig, value) structs) — one sink, one
    * manifest rename, postings + metadata atomically consistent by
    * construction. A single fixed key, not per-origin rows, is what
    * makes the metadata a POINT READ: bucket pruning is per-bucket, so
    * O(segments) scattered keys would touch every bucket, while the
    * fixed key reads exactly one. DOC STATE lives in the SAME sink under
    * a second reserved key space (term "@doc", seg = −doc_id−1, n_docs =
    * n_tok, text in the `text` payload column that posting rows carry as
    * null), so each batch is ONE mergeOnce — postings, metadata, AND doc
    * images commit under a single manifest rename, and the former
    * two-commit crash-ordering argument (postings first, doc-state
    * second) is gone because the window no longer exists (r12 verdict
    * #4). Reserved keys cannot collide with corpus terms: a literal
    * token "@doc"/"@segremap"/"@seglive" births posting rows at
    * seg >= 0, while every reserved row has seg < 0.
    *
    * NO read in this step is corpus-sized (r13 verdict #2): the sink is
    * seg-bucketed, so the batch reads (a) the one metadata bucket,
    * (b) the changed docs' own "@doc" buckets, (c) the touched
    * (term, seg) pairs' segment buckets, and — when compaction fires —
    * (d) the merge-eligible segments' buckets, each under thrLive docs
    * by definition. Per-segment live stats are MAINTAINED by batch
    * arithmetic over the changed docs' origins (the former per-batch
    * recount over every live doc id is gone); the merge plan is the same
    * driver replay over that O(segments) table. Returns (post-batch
    * segment count, post-batch live-doc count) straight from the
    * maintained stats, so the caller's accretion gate costs no state
    * read at all.
    *
    * PRECONDITION: `ch` carries AT MOST ONE op per doc_id (a per-key
    * last-image change batch, which is what [[docChangeBatch]] and every
    * CDC scheduler upstream emit — gravity's per-key latch guarantees
    * it). The liveAfter/segStats derivation counts ch's non-delete rows
    * as live; a multi-op batch (update then delete of one key) would
    * double-count or count a dead doc and skew the accretion gate.
    * Callers with raw multi-op logs must collapse first
    * (ChangeLog.lastPerKey) — not done here because same-seq multi-op
    * rows have no defined order to collapse BY.
    */
  private[analytics] def maintainCompactingBatch(
      index: graft.sinks.SnapshotSink,
      ch0: org.apache.spark.sql.DataFrame, seqNo: Long, auditSite: String,
      segDiv: Long = 100L, thrLive: Long = 40L, trigger: Long = 6L)
      : (Long, Long) = {
    val s = ch0.sparkSession
    import s.implicits._
    // the change batch feeds new entries, the touched-key set, the
    // live-stat deltas AND the doc-image rows — materialize it once
    val ch = graft.core.Prof.time(s"$auditSite/chkptCh") { ch0.localCheckpoint() }
    // the changed docs' "@doc"-space bucket ids ride the keys checkpoint
    // job as an observed collect_set (Fused) — the former separate
    // bucket-id projection job per batch is gone
    val (keys, keyBuckets) = graft.core.Fused.checkpointIntSet(
      ch.select(col("doc_id")).distinct(),
      index.bucketIdExpr(-col("doc_id") - lit(1)))
    // metadata: ONE bucket point read (the fixed seg = −1 key) yields the
    // remap and the per-origin live stats, both O(segments) driver
    // tables — the manifest-metadata class (Bounded-gated)
    // ONE point read covers both reserved spaces the batch needs: the
    // fixed metadata key (seg = −1, its bucket id pure driver arithmetic)
    // and the changed docs' own "@doc" buckets
    val reserved =
      if (!index.exists) None
      else Some(graft.core.Prof.time(s"$auditSite/reservedRead") {
        index.readBucketIds(keyBuckets + index.bucketIdOf(-1L))
          .filter(col("seg") < 0).localCheckpoint()
      })
    val (remapM, liveByOrig): (Map[Long, Long], Map[Long, Long]) =
      reserved match {
        case None => (Map.empty, Map.empty)
        case Some(res) =>
          val meta = graft.core.Bounded.collect(
            res.filter(col("seg") === -1L &&
              col("term").isin("@segremap", "@seglive"))
              .select(col("term"), explode(col("plist")).as("p"))
              .select(col("term"), col("p.doc_id").as("k"), col("p.tf").as("v")),
            1 << 20, s"$auditSite/meta",
            "segment metadata must stay manifest-sized — raise segDiv so " +
              "per-segment stats keep O(N/segDiv) driver-collectable")
          (meta.filter(_.getString(0) == "@segremap")
            .map(r => r.getLong(1) -> r.getLong(2)).toMap,
            meta.filter(_.getString(0) == "@seglive")
              .map(r => r.getLong(1) -> r.getLong(2)).toMap)
      }
    // the changed docs' stored images, exact-key joined out of the same
    // reserved read (a bucket holds other docs too)
    val docView = reserved.map(
      _.filter(col("term") === "@doc")
        .select((-col("seg") - 1).as("doc_id"), col("text"),
          col("n_docs").as("n_tok"))
        .join(keys, Seq("doc_id"), "left_semi"))
    val remap = broadcast(remapM.toSeq.toDF("orig", "cur"))
    def remapSeg(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      df.withColumnRenamed("seg", "orig")
        .join(remap, Seq("orig"), "left")
        .withColumn("seg", coalesce(col("cur"), col("orig")))
        .drop("orig", "cur")
    val newEntries = remapSeg(
      docEntries(ch.filter(col("op") =!= graft.core.ChangeLog.Delete), segDiv))
      .select(col("term"), col("doc_id"), col("tf"), col("seg"))
    // keys / touched / rebuilt feed 3-6 branches of the postings-batch
    // union each; without materialization every branch recomputes the
    // whole explode+aggregate upstream (measured: the dominant cost of
    // this loop at sf0.1). Reuse-not-recompute is the same discipline a
    // 1000-executor run needs — these are batch-/vocabulary-sized, never
    // corpus-sized.
    // ONE materialization job carries the whole touched-pair rebuild:
    // touched pairs LEFT JOIN their re-aggregated postings (a null
    // aggregate = the pair emptied → delete). The downstream postings
    // batch references these frames 3-6 times across its union branches;
    // materializing once is the reuse-not-recompute discipline a
    // 1000-executor run needs, and collapsing the per-frame actions
    // matters here because this loop's cost is per-JOB overhead, not
    // data (measured at sf0.1: ~9 eager actions/batch dominated the
    // wall). Batch-/vocabulary-sized, never corpus-sized.
    // the touched-pair rebuild (cluster-side) and the per-origin stat
    // deltas (a batch-sized driver collect) read only already-materialized
    // frames and feed different consumers — run them concurrently so the
    // driver arithmetic hides under the rebuild's jobs
    var segStatsV: Seq[(Long, Long)] = null
    var touchedStateV: org.apache.spark.sql.DataFrame = null
    def touchedStateThunk(): org.apache.spark.sql.DataFrame = graft.core.Prof.time(s"$auditSite/chkptTouchedState") {
      // checkpointed: touched0 feeds the bucket-id projection AND two
      // joins, and its upstream re-tokenizes every changed doc — three
      // re-evaluations measurably dominate the batch without this
      // the touched segments' bucket ids ride the touched0 checkpoint
      // job (observed collect_set) — no separate projection job
      val (touched0, touchedBuckets) = graft.core.Fused.checkpointIntSet(
        docView match {
          case None => newEntries.select("term", "seg").distinct()
          case Some(dv) =>
            val oldEntries = remapSeg(docEntries(dv, segDiv))
            newEntries.select("term", "seg")
              .unionByName(oldEntries.select("term", "seg")).distinct()
        }, index.bucketIdExpr(col("seg")))
      // DELTA PLISTS: only the BATCH's entries are re-aggregated
      // (batch-sized shuffle); stored postings of the touched pairs are
      // updated with per-row array ops — filter out departures, concat
      // arrivals, array_sort — instead of explode → shuffle →
      // collect_list over every touched plist (the former rebuild
      // shuffled |touched pairs| × plist-length rows and paid a
      // non-codegen ObjectHashAggregate per pair). Correct because a
      // doc's stored entries live ONLY in its current remapped segment
      // (compaction physically moves rows in the same commit that
      // rewrites the remap metadata), so a pair's departures are exactly
      // the changed docs mapping to its segment; kept ∪ new is
      // doc-disjoint (kept drops ALL changed docs, new has only changed
      // docs), and sorting the concat of two sorted arrays equals the
      // former sort of the union multiset. Asserted across random
      // schedules by the compacting-walk postings-multiset spec.
      val newAgg = newEntries.groupBy(col("term"), col("seg"))
        .agg(expr("sort_array(collect_list(struct(doc_id, tf)))").as("nw"))
      val rebuilt0 =
        if (!index.exists)
          newAgg.select(col("term"), col("seg"),
            size(col("nw")).cast("bigint").as("n_docs"), col("nw").as("plist"))
        else {
          // per-segment changed-doc arrays (batch-sized, broadcast)
          val kdelBySeg = remapSeg(
              keys.withColumn("seg", expr(s"doc_id div $segDiv")))
            .groupBy(col("seg"))
            .agg(sort_array(collect_set(col("doc_id"))).as("kdel"))
          val oldKept = index.readBucketIds(touchedBuckets)
            .filter(col("seg") >= 0)
            .join(touched0, Seq("term", "seg"))
            .join(broadcast(kdelBySeg), Seq("seg"), "left")
            .select(col("term"), col("seg"),
              when(col("kdel").isNull, col("plist"))
                .otherwise(expr(
                  "filter(plist, p -> NOT array_contains(kdel, p.doc_id))"))
                .as("kept"))
          // kept/nw are each sorted; a pair missing one side keeps the
          // other as-is (no typed-empty-array gymnastics), a pair whose
          // plist empties out is dropped → the left join below yields
          // the null-n_docs delete marker exactly as before
          oldKept.join(newAgg, Seq("term", "seg"), "full")
            .select(col("term"), col("seg"),
              when(col("kept").isNull, col("nw"))
                .when(col("nw").isNull, col("kept"))
                .otherwise(expr("array_sort(concat(kept, nw))")).as("plist"))
            .filter(size(col("plist")) > 0)
            .select(col("term"), col("seg"),
              size(col("plist")).cast("bigint").as("n_docs"), col("plist"))
        }
      touched0.join(rebuilt0, Seq("term", "seg"), "left").localCheckpoint()
    }
    def segStatsThunk(): Seq[(Long, Long)] = graft.core.Prof.time(s"$auditSite/segStats") {
      // one job: departures (every changed doc that existed) and arrivals
      // (non-delete changes) tagged and counted per origin together
      val tagged = graft.core.Bounded.collect(
        docView.map(_.select(col("doc_id"), lit("d").as("t")))
          .getOrElse(ch.limit(0).select(col("doc_id"), lit("d").as("t")))
          .unionByName(ch.filter(col("op") =!= graft.core.ChangeLog.Delete)
            .select(col("doc_id"), lit("a").as("t")))
          .groupBy(expr(s"doc_id div $segDiv").as("orig"), col("t"))
          .agg(count(lit(1)).as("n")),
        1 << 20, s"$auditSite/originDeltas",
        "per-batch origin deltas are bounded by the change batch — " +
          "shard oversized change batches into smaller micro-batches")
      val dep = tagged.filter(_.getString(1) == "d")
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      val arr = tagged.filter(_.getString(1) == "a")
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      val newLive = (liveByOrig.keySet ++ dep.keySet ++ arr.keySet).toSeq
        .map { o =>
          o -> (liveByOrig.getOrElse(o, 0L) - dep.getOrElse(o, 0L) +
            arr.getOrElse(o, 0L))
        }
      newLive.foreach { case (o, n) =>
        require(n >= 0L, s"$auditSite: negative live count at origin $o — " +
          "the change batch must carry at most one op per doc_id")
      }
      newLive.filter(_._2 > 0L)
    }
    graft.core.Par.run(
      () => touchedStateV = touchedStateThunk(),
      () => segStatsV = segStatsThunk())
    val touchedState = touchedStateV
    val segStats: Seq[(Long, Long)] = segStatsV
    val touched = touchedState.select(col("term"), col("seg"))
    val rebuilt = touchedState.filter(col("n_docs").isNotNull)
    val dropped = touchedState.filter(col("n_docs").isNull)
      .select(col("term"), col("seg"), lit(null).cast("bigint").as("n_docs"),
        lit(null).cast("array<struct<doc_id:bigint,tf:bigint>>").as("plist"),
        lit(graft.core.ChangeLog.Delete).as("op"))
    // Post-batch live docs per ORIGIN, maintained by batch arithmetic
    // (computed in segStatsThunk above, overlapped with the rebuild):
    // live'(orig) = live(orig) − changed docs that existed + non-delete
    // changes. Two batch-sized collects replace the former recount over
    // every live doc id — the merge policy's input is now pure driver
    // arithmetic over the maintained O(segments) stats. The oracle
    // re-derives each batch's remap from LIVE docs only: a birth segment
    // with zero live docs after this batch loses its mapping (dropped
    // from the rewritten metadata row), so a later refill gets a fresh
    // identity — not a retired merge target.
    val liveByOrigAfter = segStats.toMap
    // live per CURRENT segment = the origin stats folded through the remap
    val segStatsCur: Seq[(Long, Long)] = segStats
      .groupBy { case (o, _) => remapM.getOrElse(o, o) }
      .map { case (seg, xs) => (seg, xs.map(_._2).sum) }.toSeq
    val eligPlan = segStatsCur.filter(_._2 < thrLive)
      .sortBy { case (seg, live) => (live, seg) }
      .zipWithIndex
      .map { case ((seg, _), i) => (seg, 1000000L * (seqNo + 1) + i / 8) }
    val eligMap = eligPlan.toMap
    val elig = eligPlan.toSeq.toDF("seg", "new_seg")
    val nElig = eligPlan.length.toLong
    val nSegsBefore = segStatsCur.length.toLong
    val upserts = rebuilt
      .withColumn("op", lit(graft.core.ChangeLog.Update))
    val postCore =
      if (nElig < trigger) upserts.unionByName(dropped)
      else {
        val eligB = broadcast(elig)
        // stored rows of the merge-eligible segments only — a point read
        // of exactly their buckets (first-batch compaction: no stored rows)
        // the merge plan is a driver value — its bucket ids are driver
        // arithmetic (bucketIdOf), not a projection job
        val ds =
          if (!index.exists) rebuilt.limit(0)
          else index.readBucketIds(eligPlan.map(p => index.bucketIdOf(p._1)).toSet)
            .filter(col("seg") >= 0)
        // post-batch entries of merge-eligible segments: untouched rows
        // as stored, touched rows from the batch's carried set
        val untouchedElig = ds.join(eligB, Seq("seg"))
          .join(touched, Seq("term", "seg"), "left_anti")
          .select(col("term"), col("seg"), col("new_seg"), explode(col("plist")).as("p"))
          .select(col("term"), col("new_seg"),
            col("p.doc_id").as("doc_id"), col("p.tf").as("tf"))
          .join(keys, Seq("doc_id"), "left_anti")
        // same multiset as carried⋈elig: rebuilt IS carried grouped per
        // (term, seg) — re-explode the checkpointed aggregate instead of
        // recomputing the whole carried DAG a second time
        val touchedElig = rebuilt.join(eligB, Seq("seg"))
          .select(col("term"), col("new_seg"), explode(col("plist")).as("p"))
          .select(col("term"), col("new_seg"),
            col("p.doc_id").as("doc_id"), col("p.tf").as("tf"))
        val moved = untouchedElig.unionByName(touchedElig)
          .groupBy(col("term"), col("new_seg").as("seg"))
          .agg(count(lit(1)).as("n_docs"),
            expr("sort_array(collect_list(struct(doc_id, tf)))").as("plist"))
          .withColumn("op", lit(graft.core.ChangeLog.Update))
        // every pre-existing or batch-touched (term, seg) pair of an
        // eligible segment is deleted — its rows moved wholesale
        val eligPairs = ds.select(col("term"), col("seg"))
          .join(eligB.select("seg"), Seq("seg"))
          .unionByName(touched.join(eligB.select("seg"), Seq("seg"))
            .select(col("term"), col("seg")))
          .distinct()
          .select(col("term"), col("seg"), lit(null).cast("bigint").as("n_docs"),
            lit(null).cast("array<struct<doc_id:bigint,tf:bigint>>").as("plist"),
            lit(graft.core.ChangeLog.Delete).as("op"))
        upserts.join(eligB.select("seg"), Seq("seg"), "left_anti")
          .unionByName(dropped.join(eligB.select("seg"), Seq("seg"), "left_anti"))
          .unionByName(moved).unionByName(eligPairs)
      }
    // the rewritten metadata rows — the remap (every birth segment
    // currently mapping into an eligible segment now maps to its merged
    // target; only non-identity mappings of LIVE origins are kept, so an
    // emptied origin's mapping drops in the SAME commit) and the
    // per-origin live stats, each one row at the fixed seg = −1 key
    val newRemapM: Map[Long, Long] =
      (if (nElig < trigger)
        remapM.view.filterKeys(liveByOrigAfter.contains).toMap
      else liveByOrigAfter.keysIterator.map { o =>
        val cur = remapM.getOrElse(o, o)
        o -> eligMap.getOrElse(cur, cur)
      }.toMap).filter { case (o, c) => c != o }
    val metaRows = Seq(
      ("@segremap", newRemapM.toSeq.sortBy(_._1)),
      ("@seglive", liveByOrigAfter.toSeq.sortBy(_._1)))
      .toDF("term", "pl")
      .select(col("term"), lit(-1L).as("seg"),
        lit(null).cast("bigint").as("n_docs"),
        expr("transform(pl, x -> struct(x._1 AS doc_id, x._2 AS tf))").as("plist"),
        lit(graft.core.ChangeLog.Update).as("op"))
    // doc images under the reserved "@doc" key space — same batch, same
    // commit as the postings/metadata rows (delete rows carry nulls)
    val docRows = ch.select(lit("@doc").as("term"), (-col("doc_id") - 1).as("seg"),
      col("n_tok").as("n_docs"),
      lit(null).cast("array<struct<doc_id:bigint,tf:bigint>>").as("plist"),
      col("text"), col("op"))
    val postBatch = graft.core.Prof.time(s"$auditSite/postBatch") {
      graft.core.AuditSeam.report(s"$auditSite/postings",
        postCore.unionByName(metaRows).withColumn("text", lit(null).cast("string"))
          .unionByName(docRows)
          .withColumn("seq", lit(seqNo)))
        .select(col("term"), col("seg"), col("n_docs"), col("plist"),
          col("text"), col("op"), col("seq"))
        .localCheckpoint()
    }
    graft.core.Prof.time(s"$auditSite/merge") {
      index.mergeOnce(seqNo, postBatch)
    }
    val nLive = segStats.map(_._2).sum
    val nSegs =
      if (nElig < trigger) nSegsBefore
      else nSegsBefore - nElig + (nElig + 7) / 8
    (nSegs, nLive)
  }

  /** One TTL-exporting decayed-CMS maintenance step: decay every live
    * cell (n → n div 2), add the batch's increments `inc` (hrow, cell,
    * dn), then AGE OUT cells that hit 0 — Delete in the sink and a
    * (b, hrow, cell) export record, all under ONE mergeOnce commit.
    *
    * Crash protocol, in order:
    *   1. `sink.applied(id)` gate FIRST — a replay of an already-committed
    *      batch must not recompute anything: its reads see state the
    *      commit already advanced, so a recomputed export would overwrite
    *      the committed artifact with rows from the WRONG snapshot.
    *   2. export written to the deterministic per-batch dir `b<id>`
    *      (mode overwrite) BEFORE the manifest rename — a crash between
    *      export-write and commit replays with UNCHANGED inputs and
    *      rewrites identical rows; a crash after the commit is caught by
    *      gate 1 with the export already durable.
    * Exactly-once for both the sink rows and the side artifact — the
    * crash spec drives both fault points. 100 TB: the age-out predicate
    * rides the d×w sketch rewrite the decay already pays; exports are
    * append-only batch dirs.
    */
  private[graft] def cmsTtlBatch(s: org.apache.spark.sql.SparkSession,
      sink: graft.sinks.SnapshotSink, exportDir: String,
      inc: org.apache.spark.sql.DataFrame, id: Long): Unit = {
    import s.implicits._
    if (sink.applied(id)) return
    val cur =
      if (sink.exists) sink.read().select(col("hrow"), col("cell"), col("n"))
      else Seq.empty[(Long, Long, Long)].toDF("hrow", "cell", "n")
    val upd = cur.join(inc, Seq("hrow", "cell"), "full")
      .select(col("hrow"), col("cell"),
        (expr("coalesce(n, CAST(0 AS BIGINT)) div 2") +
          coalesce(col("dn"), lit(0L))).as("n"))
      .localCheckpoint()
    // a dead cell had n > 0 before (the sink never stores zeros) and got
    // no increment — the TTL case
    val dead = upd.filter(col("n") === 0).select(col("hrow"), col("cell"))
      .localCheckpoint()
    dead.withColumn("b", lit(id)).coalesce(1)
      .write.mode("overwrite").parquet(s"$exportDir/b$id")
    sink.mergeOnce(id, upd.filter(col("n") > 0)
      .withColumn("op", lit(graft.core.ChangeLog.Update))
      .unionByName(dead
        .select(col("hrow"), col("cell"), lit(null).cast("bigint").as("n"),
          lit(graft.core.ChangeLog.Delete).as("op")))
      .withColumn("seq", lit(id)))
    ()
  }

  /** BM25 per-doc scores served from the maintained index reads: tf/df
    * from term-keyed posting point reads, doc lengths from `docLens`
    * (the serving loop passes a point read of exactly the scored docs'
    * buckets), the global (N, totLen) pair from `stats` — ONE row the
    * maintained doc-state carries at fixed reserved keys, so no consumer
    * needs a corpus aggregate. Scoring is txt_bm25_topk's rational
    * integer form (log-free, bit-stable); per-term contributions are
    * summed in `qterms` ORDER so the double addition order is pinned on
    * both engines.
    */
  private def bm25Scores(post: org.apache.spark.sql.DataFrame,
      docLens: org.apache.spark.sql.DataFrame,
      stats: org.apache.spark.sql.DataFrame, qterms: Seq[String])
      : org.apache.spark.sql.DataFrame = {
    val qpost = post.filter(col("term").isin(qterms: _*))
    val tfq = qpost
      .select(col("term"), explode(col("plist")).as("p"))
      .select(col("term"), col("p.doc_id").as("doc_id"), col("p.tf").as("tf"))
    val dfr = qpost.groupBy(col("term")).agg(sum(col("n_docs")).as("df"))
    val lens = docLens.select(col("doc_id"), col("n_tok").as("len"))
    val scored = tfq.join(dfr, "term").join(lens, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("s",
        ((lit(2) * col("n_docs") - lit(2) * col("df") + lit(1)).cast("double")
          / (lit(2) * col("df") + lit(1))) *
          ((lit(22) * col("tf") * col("tot_len")).cast("double")
            / (lit(10) * col("tf") * col("tot_len") + lit(3) * col("tot_len")
              + lit(9) * col("len") * col("n_docs"))))
    scored.groupBy("doc_id").agg(
      qterms.map(t => coalesce(max(when(col("term") === t, col("s"))), lit(0.0)))
        .reduce(_ + _).as("score"))
  }

  /** The 4-batch maintained inverted index shared by the postings and
    * BM25 entries: a document change stream (revisions / inserts /
    * tombstones) LWW-maintains a doc-state sink (with n_tok for serving)
    * and a (term, segment)-keyed postings sink where each batch rewrites
    * ONLY the (term, segment) rows its changed docs touch. Returns
    * (postings read, doc-state read).
    */
  private def maintainedPostingsState(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val work = Q.scratch("ivmidx")
    val docState = new graft.sinks.SnapshotSink(s, s"$work/docs", Seq("doc_id"))
    val postings = new graft.sinks.SnapshotSink(s, s"$work/postings",
      Seq("term", "seg"))
    (0 to 3).foreach { b =>
      maintainPostingsBatch(docState, postings, docChangeBatch(s, d, b),
        seqNo = b.toLong, batchId = None, auditSite = "idx_cdc_maintained_postings")
    }
    (postings.read(), docState.read())
  }
}
