package graft.analytics

import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fourth training-data battery: corpus operations a pretraining pipeline
  * runs beyond dedup/quality — embedding quantization for ANN serving,
  * URL-host dedup (the standard web-corpus dedup key), quality-weighted
  * upsampling (data mixing), and benchmark-contamination probing (n-gram
  * overlap against a held-out eval set).
  *
  * Scale shapes: quantization and host extraction are pure projections
  * (no shuffle); upsampling is explode (row multiplication, no shuffle);
  * contamination is an equi-join on the shingle string — the probe side
  * here is a corpus fraction (scales with data), so the join is left to
  * AQE rather than hint-forced; against a real fixed benchmark table the
  * probe side is bounded and AQE broadcasts it on its own.
  */
object CorpusOpsQueries {

  /** Per-source boilerplate prefix via the min/max LCP identity: the
    * longest common prefix of a SET of strings equals the LCP of its
    * lexicographic MIN and MAX alone — so the whole detection is one
    * map-side-combinable min/max aggregate per source plus ONE pairwise
    * LCP per group, no cross-document comparison anywhere. A planted
    * per-source header makes the signal deterministic (the raw corpus
    * has none); the crawl-pipeline use is stripping site templates.
    * 100 TB: the min/max agg is the whole cost — one scan.
    */
  private val lcpHof =
    """CAST(aggregate(sequence(1, CAST(least(length(lo), length(hi)) AS INT)),
      | CAST(0 AS BIGINT),
      | (acc, i) -> CASE WHEN substr(lo, 1, i) = substr(hi, 1, i)
      |   THEN CAST(i AS BIGINT) ELSE acc END) AS BIGINT)""".stripMargin

  private def boilerplatePrefix(s: SparkSession, d: String): DataFrame = {
    val planted = concat(lit("["), col("source"), lit("] "), col("text"))
    Tables.documents(s, d)
      .select(col("source"), planted.as("text"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("text")).as("lo"), max(col("text")).as("hi"))
      .withColumn("lcp_len", expr(lcpHof))
      .select(col("source"), col("n_docs"), col("lcp_len"),
        expr("substr(lo, 1, CAST(lcp_len AS INT))").as("prefix"))
  }

  /** Hard-negative mining anchored on `vec_id % 25 == 0` (anchors scale
    * with the corpus; a FIXED anchor set over a growing corpus costs time
    * linear in corpus size): LSH bucket equi-join, label filter inside
    * the candidate set, per-anchor top-1 window.
    */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.GraftFunctions
    val e0 = Tables.embeddings(s, d)
      .repartition(s.sessionState.conf.numShufflePartitions)
    val b = e0.withColumn("buckets", GraftFunctions.lsh_buckets(col("embedding"), 8, 4))
      .select(col("vec_id"), col("label"), posexplode(col("buckets")))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")
    val anchors = b.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("anchor_id"), col("label").as("anchor_label"),
        col("tbl"), col("bucket"))
    val candIds = b.join(anchors, Seq("tbl", "bucket"))
      .filter(col("label") =!= col("anchor_label"))
      .select(col("anchor_id"), col("anchor_label"),
        col("vec_id"), col("label"))
      .distinct()
    val vecs = e0.select(col("vec_id"), col("embedding"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos_raw").desc, col("vec_id"))
    candIds
      .join(vecs.select(col("vec_id").as("anchor_id"), col("embedding").as("av")),
        "anchor_id")
      .join(vecs, "vec_id")
      .withColumn("cos_raw", GraftFunctions.cosine_sim(col("av"), col("embedding")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("anchor_id"), col("anchor_label"),
        col("vec_id").as("negative_id"), col("label").as("negative_label"),
        round(col("cos_raw"), 4).as("cos_sim"))
  }

  def all: Seq[CatalogQuery] = Seq(

    // int8 symmetric quantization of embeddings (127/max|x| scale) — the
    // standard compression step before ANN serving; round-half-up is
    // expressed as floor(x*scale + 0.5) which both engines evaluate
    // identically in IEEE double (plain round() differs between engines
    // on .5 ties). Output stays scalar (comparator cannot sort arrays).
    CatalogQuery("sim_embed_quantize_int8", (s, d) => {
      val xd = transform(col("embedding"), x => x.cast("double"))
      Tables.embeddings(s, d)
        .select(col("vec_id"), xd.as("xd"))
        .withColumn("mx", array_max(transform(col("xd"), x => abs(x))))
        .withColumn("scale",
          when(col("mx") > 0, lit(127.0) / col("mx")).otherwise(lit(0.0)))
        .withColumn("qv", transform(col("xd"),
          x => floor(x * col("scale") + lit(0.5)).cast("long")))
        .select(col("vec_id"), col("scale"),
          element_at(col("qv"), 1).as("q1"),
          element_at(col("qv"), 2).as("q2"),
          element_at(col("qv"), 3).as("q3"),
          element_at(col("qv"), 4).as("q4"),
          aggregate(col("qv"), lit(0L), (acc, x) => acc + x * x).as("qnorm"))
    }, Some(
      """WITH b AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS xd FROM embeddings),
        |m AS (
        |  SELECT vec_id, xd,
        |    list_max(list_transform(xd, x -> abs(x))) AS mx FROM b),
        |sc AS (
        |  SELECT vec_id, xd,
        |    CASE WHEN mx > 0 THEN 127.0 / mx ELSE 0.0 END AS scale FROM m),
        |q AS (
        |  SELECT vec_id, scale,
        |    list_transform(xd, x -> CAST(floor(x * scale + 0.5) AS BIGINT)) AS qv
        |  FROM sc)
        |SELECT vec_id, scale, qv[1] AS q1, qv[2] AS q2, qv[3] AS q3, qv[4] AS q4,
        |  CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS qnorm
        |FROM q""".stripMargin)),

    // URL-host dedup: extract the registrable host from each document's
    // first URL and keep one document per host (min doc_id) — the
    // coarsest and most common web-corpus dedup key. URLs are planted
    // deterministically (37 distinct hosts over doc_id % 3 == 0 docs) so
    // the grouping provably collapses.
    CatalogQuery("ddp_url_host_dedup", (s, d) => {
      val planted = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" see https://h"), (col("doc_id") % 37),
          lit(".example.com/p/"), col("doc_id"))).otherwise(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"), planted.as("raw"))
        .filter(col("raw").contains("https://"))
        .select(col("doc_id"),
          regexp_extract(col("raw"), "https://([a-z0-9.]+)/", 1).as("host"))
        .groupBy(col("host"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
    }, Some(
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN text || ' see https://h' || (doc_id % 37) || '.example.com/p/' || doc_id
        |      ELSE text END AS raw
        |  FROM documents)
        |SELECT regexp_extract(raw, 'https://([a-z0-9.]+)/', 1) AS host,
        |  min(doc_id) AS keep_id, count(*) AS n_docs
        |FROM planted
        |WHERE raw LIKE '%https://%'
        |GROUP BY 1""".stripMargin)),

    // quality-weighted upsampling (data mixing): repeat each document
    // 1–3× by a deterministic weight — the explode(sequence) row
    // multiplication every mixture-weighted training run needs. copy_idx
    // keeps replicas distinguishable downstream.
    CatalogQuery("mix_upsample_by_weight", (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          (lit(1) + col("n_chars") % 3).cast("int").as("weight"))
        .select(col("doc_id"), col("lang"),
          explode(sequence(lit(1), col("weight"))).as("copy_idx"))
        .select(col("doc_id"), col("lang"), col("copy_idx").cast("long").as("copy_idx")),
      Some(
        """SELECT doc_id, lang,
          |  unnest(range(1, CAST(2 + n_chars % 3 AS BIGINT))) AS copy_idx
          |FROM documents""".stripMargin)),

    // benchmark-contamination probe: flag corpus documents sharing any
    // 5-gram with a held-out "benchmark" slice (doc_id % 101 == 0 stands
    // in for the eval set). Probe documents are anti-joined OUT of the
    // corpus side first — a probe trivially matches its own shingles, and
    // counting those would dilute the overlap signal the query measures.
    // No broadcast hint: the probe side here is a corpus FRACTION (grows
    // linearly with data), so forcing a broadcast would OOM at scale; AQE
    // size-gates the join, and a production run sourcing probes from a
    // real fixed benchmark table stays broadcast-able by being bounded.
    CatalogQuery("txt_contamination_probe", (s, d) => {
      // plant a shared 5-word sentinel on the probe slice (%101) and a
      // disjoint corpus slice (%103) so contamination deterministically
      // exists to detect (organic 5-gram overlap is rare at small SF)
      val planted = when(col("doc_id") % 101 === 0 || col("doc_id") % 103 === 0,
        concat(col("text"), lit(" shared benchmark sentinel phrase alpha")))
        .otherwise(col("text"))
      val toks = split(planted, " ")
      val base = Tables.documents(s, d)
        .select(col("doc_id"), toks.as("toks"))
        .filter(size(col("toks")) >= 5)
        .withColumn("sh", expr(
          """transform(sequence(0, size(toks) - 5),
            | i -> concat_ws(' ', slice(toks, CAST(i + 1 AS INT), 5)))""".stripMargin))
        .select(col("doc_id"), explode(col("sh")).as("s"))
        .distinct()
      val probes = base.filter(col("doc_id") % 101 === 0)
        .select(col("s")).distinct()
      base.filter(col("doc_id") % 101 =!= 0)
        .join(probes, "s")
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("s")).as("n_hits"))
    }, Some(
      """WITH planted AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 101 = 0 OR doc_id % 103 = 0
        |      THEN text || ' shared benchmark sentinel phrase alpha'
        |      ELSE text END AS text
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM planted
        |  WHERE len(string_split(text, ' ')) >= 5),
        |flat AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(0, len(t) - 4),
        |      i -> array_to_string(t[i + 1:i + 5], ' '))) AS s
        |  FROM toks),
        |probes AS (
        |  SELECT DISTINCT s FROM flat WHERE doc_id % 101 = 0)
        |SELECT f.doc_id, count(DISTINCT f.s) AS n_hits
        |FROM flat f JOIN probes USING (s)
        |WHERE f.doc_id % 101 <> 0
        |GROUP BY 1""".stripMargin)),

    // ---- hard-negative mining (contrastive training pairs) ---------------
    // For each anchor, the most-similar vector with a DIFFERENT label —
    // the "hard negative" a contrastive embedding run trains against
    // (SimCLR/DPR practice: negatives near the decision boundary carry
    // the gradient signal; random negatives are trivially separable).
    // Candidates come from the same 8-table × 4-bit hyperplane LSH as
    // the ANN entries, so mining stays an equi-join on (table, bucket) —
    // the label filter multiplies selectivity INSIDE the candidate set
    // and nothing is all-pairs. Shape notes: the bucket join carries ids
    // and labels only; vectors re-join after the distinct (same
    // bytes-through-shuffle discipline as sim_lsh_ann_topk); top-1 is a
    // per-anchor window over the candidate fraction. An anchor whose
    // buckets hold no opposite-label member yields no row — at
    // production bit-widths the LSH tables are sized so that happens
    // with vanishing probability.
    CatalogQuery("emb_hard_negative_mining",
      (s, d) => hardNegatives(s, d), Some(
      s"""WITH b AS (
         |  SELECT vec_id, label, embedding, t.tbl,
         |    ${graft.functions.Similarity.lshBucketDuckOffset("embedding", 4, 64, "t.tbl * 4")} AS bucket
         |  FROM embeddings CROSS JOIN (SELECT unnest(range(0, 8)) AS tbl) t),
         |a AS (
         |  SELECT vec_id AS anchor_id, label AS anchor_label, embedding AS av,
         |    tbl, bucket
         |  FROM b WHERE vec_id % 25 = 0),
         |cand AS (
         |  SELECT DISTINCT a.anchor_id, a.anchor_label, a.av,
         |    b.vec_id, b.label, b.embedding
         |  FROM a JOIN b ON a.tbl = b.tbl AND a.bucket = b.bucket
         |    AND b.label <> a.anchor_label)
         |SELECT anchor_id, anchor_label, vec_id AS negative_id,
         |  label AS negative_label, round(cos_raw, 4) AS cos_sim
         |FROM (
         |  SELECT anchor_id, anchor_label, vec_id, label,
         |    ${graft.functions.Similarity.cosineDuck("av", "embedding", 64)} AS cos_raw,
         |    row_number() OVER (PARTITION BY anchor_id
         |      ORDER BY ${graft.functions.Similarity.cosineDuck("av", "embedding", 64)} DESC, vec_id) AS rn
         |  FROM cand) t
         |WHERE rn = 1""".stripMargin)),

    // ---- sparse cosine pairs (postings join, exact rational cos²) -------
    // The SPARSE twin of the dense-embedding pair ops: documents as
    // term-frequency vectors, candidate pairs via the inverted-postings
    // equi-join (df ≤ 8 heavy-hitter guard — boilerplate terms never fan
    // out), and similarity as cos² in EXACT rational form —
    // cos² = dot² / (‖a‖²·‖b‖²) needs no square root, so the gate
    // crosses engines as an integer-scaled division. Reported pairs:
    // cos²·10⁶ ≥ 250000 (cos ≥ 0.5). docsPlus' synthetic duplicates give
    // guaranteed cos = 1 pairs. 100 TB: postings join + per-pair
    // aggregate; norms are per-doc aggregates joined back at pair
    // cardinality.
    CatalogQuery("sim_sparse_cosine_pairs", (s, d) => {
      // the synthetic vocabulary is all high-df words, so every document
      // plants one unique token (making dup pairs candidate-reachable
      // through the rare-term guard), and two planted families give the
      // gate both regimes: exact copies (cos² = 1e6 exactly) and near
      // copies with drift tokens (cos² just under)
      val base = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" uq"), col("doc_id").cast("string")).as("text"))
      val dp = base
        .unionByName(base.filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
        .unionByName(base.filter(col("doc_id") % 15 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat(col("text"), lit(" drifta driftb driftc")).as("text")))
      val tf = dp
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val norms = tf.groupBy(col("doc_id"))
        .agg(sum(col("tf") * col("tf")).as("n2"))
      val dfq = tf.select(col("doc_id"), col("w")).distinct()
        .groupBy(col("w")).agg(count(lit(1)).as("c"))
        .filter(col("c").between(2, 8)).select("w")
      // candidate pairs: share at least one RARE term (lossy for pairs
      // glued only by boilerplate — the deliberate trade every postings
      // blocker makes); dot is then EXACT over ALL shared terms
      val posts = tf.join(dfq, "w")
      val cand = posts.as("a").join(posts.as("b"),
          col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
      val dots = cand
        .join(tf.select(col("doc_id").as("doc_a"), col("w"), col("tf").as("tfa")), "doc_a")
        .join(tf.select(col("doc_id").as("doc_b"), col("w"), col("tf").as("tfb")),
          Seq("doc_b", "w"))
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(sum(col("tfa") * col("tfb")).as("dot"))
      dots
        .join(norms.select(col("doc_id").as("doc_a"), col("n2").as("na2")), "doc_a")
        .join(norms.select(col("doc_id").as("doc_b"), col("n2").as("nb2")), "doc_b")
        // overflow tripwires: dot²·10⁶ stays in BIGINT only while
        // dot ≤ 3·10⁶, and na2·nb2 only while each norm² ≤ 3·10⁹ —
        // reachable for pathological term-frequency documents, where
        // Spark would silently wrap Long while DuckDB errors. Fail
        // loudly and descriptively on BOTH engines at the regime edge
        // (the Q.exactRegime discipline) instead of silently diverging.
        .withColumn("cos2_e6",
          expr("dot * dot * 1000000 div (na2 * nb2)")
            + Q.overflowGuard(col("dot"), 3000000L, "sim_sparse_cosine_pairs dot")
            + Q.overflowGuard(greatest(col("na2"), col("nb2")), 3000000000L,
                "sim_sparse_cosine_pairs norm2"))
        .filter(col("cos2_e6") >= 250000)
        .select(col("doc_a"), col("doc_b"), col("dot"), col("cos2_e6"))
    }, Some(
      """WITH base AS (
        |  SELECT doc_id, text || ' uq' || doc_id::VARCHAR AS text FROM documents),
        |dp AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM base WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000, text || ' drifta driftb driftc'
        |  FROM base WHERE doc_id % 15 = 0),
        |tf AS (
        |  SELECT doc_id, w, count(*)::BIGINT AS tf FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM dp) t
        |  GROUP BY 1, 2),
        |norms AS (SELECT doc_id, sum(tf * tf)::BIGINT AS n2 FROM tf GROUP BY 1),
        |dfq AS (
        |  SELECT w FROM (
        |    SELECT w, count(*) AS c FROM (SELECT DISTINCT doc_id, w FROM tf) u
        |    GROUP BY 1) g
        |  WHERE c BETWEEN 2 AND 8),
        |posts AS (SELECT tf.doc_id, tf.w FROM tf JOIN dfq USING (w)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM posts a JOIN posts b ON a.w = b.w AND a.doc_id < b.doc_id),
        |dots AS (
        |  SELECT c.doc_a, c.doc_b, sum(ta.tf * tb.tf)::BIGINT AS dot
        |  FROM cand c
        |  JOIN tf ta ON ta.doc_id = c.doc_a
        |  JOIN tf tb ON tb.doc_id = c.doc_b AND tb.w = ta.w
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, dot,
        |  CAST(dot * dot * 1000000 // (na.n2 * nb.n2) AS BIGINT) AS cos2_e6
        |FROM dots
        |JOIN norms na ON na.doc_id = doc_a
        |JOIN norms nb ON nb.doc_id = doc_b
        |WHERE dot * dot * 1000000 // (na.n2 * nb.n2) >= 250000""".stripMargin)),

    // ---- per-source boilerplate prefix (min/max LCP identity) -----------
    CatalogQuery("txt_boilerplate_prefix", boilerplatePrefix, Some(
      """WITH p AS (
        |  SELECT source, '[' || source || '] ' || text AS text FROM documents),
        |mm AS (
        |  SELECT source, count(*)::BIGINT AS n_docs,
        |    min(text) AS lo, max(text) AS hi
        |  FROM p GROUP BY 1),
        |l AS (
        |  SELECT source, n_docs, lo,
        |    coalesce(list_max(list_transform(
        |      range(1, least(length(lo), length(hi)) + 1),
        |      i -> CASE WHEN substring(lo, 1, i) = substring(hi, 1, i)
        |        THEN i ELSE 0 END)), 0)::BIGINT AS lcp_len
        |  FROM mm)
        |SELECT source, n_docs, lcp_len,
        |  substring(lo, 1, CAST(lcp_len AS INT)) AS prefix
        |FROM l""".stripMargin))
  )
}
