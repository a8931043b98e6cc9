package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** One declared query: the Spark program, and (when SQL-expressible) the
  * equivalent ANSI SQL the DuckDB oracle runs over the same parquet tables.
  * `bench = true` marks the headline subset the plan tools
  * (ExplainAudit, Counts) run.
  */
final case class CatalogQuery(
    name: String,
    spark: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false)

object Catalog {
  def all: Seq[CatalogQuery] =
    CoreQueries.all ++ TpchQueries.all ++ TpchFullQueries.all ++
      CdcQueries.all ++ TrainingQueries.all ++ CorpusOpsQueries.all ++
      PrepQueries.all ++ StreamingQueries.all ++ PipelineE2E.all ++
      IndexQueries.all ++ ScaleOpsQueries.all ++ QualityQueries.all ++
      CurationQueries.all ++ MiningQueries.all ++ SuffixQueries.all

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.spark).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  def benchNames: Seq[String] = all.filter(_.bench).map(_.name)
}

/** Shared helpers for cross-engine deterministic results.
  *
  * Money/quantity columns in the harness data are 2-decimal exact, so all
  * "double" aggregates are computed in decimal (exact, order-independent)
  * and cast to double once at the end — the same expression shape the
  * oracle SQL uses, making hashes bit-stable under Spark's unordered
  * partial aggregation. (A double sum's low bits depend on reduction
  * order; a decimal sum's do not.)
  */
object Q {
  private val scratchRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val cleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      scratchRoots.forEach { root =>
        try {
          java.nio.file.Files.walk(root)
            .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .forEach(p => java.nio.file.Files.deleteIfExists(p))
        } catch { case _: Throwable => () } // best-effort at JVM exit
      }))

  /** Per-invocation scratch dir, removed by a JVM shutdown hook.
    * Invocation-unique (so concurrent test suites can never tear down a
    * directory another invocation is still lazily reading) yet leak-free
    * past the process — the contract the staged-stream entries need,
    * where a stale checkpoint from a previous run would silently skip
    * every batch if the directory were reused.
    */
  def scratch(tag: String): String = {
    cleanupHook
    val p = java.nio.file.Files.createTempDirectory(s"graft-$tag")
    scratchRoots.add(p)
    p.toString
  }

  /** Exact-regime tripwire for sketch-gated oracle entries: evaluates to
    * 0 while `n <= k` (so `x + exactRegime(...)` leaves x unchanged) and
    * raises a DESCRIPTIVE error the moment a group outgrows the sketch —
    * at a larger correctness scale factor compaction would fire and the
    * sketch legitimately diverge from the exact DuckDB oracle; without
    * this the regime change surfaces as an opaque hash mismatch.
    */
  def exactRegime(n: Column, k: Long, entry: String): Column =
    coalesce(
      assert_true(n <= lit(k),
        concat(lit(s"$entry: group size "), n.cast("string"),
          lit(s" exceeds sketch k=$k — compaction regime, exact oracle gating invalid at this scale"))
      ).cast("bigint"),
      lit(0L))

  /** Overflow tripwire: 0 while `n <= bound`, a descriptive error the
    * moment a value enters the regime where the entry's BIGINT arithmetic
    * would silently wrap on Spark (DuckDB errors on BIGINT overflow, so
    * without this the engines diverge silently at larger scale).
    */
  def overflowGuard(n: Column, bound: Long, entry: String): Column =
    coalesce(
      assert_true(n <= lit(bound),
        concat(lit(s"$entry: value "), n.cast("string"),
          lit(s" exceeds the BIGINT-exact bound $bound — widen to DECIMAL(38,0) at this scale"))
      ).cast("bigint"),
      lit(0L))

  /** Operating-regime tripwire — the drift twin of [[overflowGuard]]: a
    * measured per-row statistic (e.g. PQ reconstruction error) must stay
    * within the bound DECLARED for the trained/calibrated regime, and
    * drifting past it fails loudly with the remediation lever in the
    * message instead of silently degrading quality. Folded assert: adds
    * 0 when in regime, so `x + regimeGuard(x, …)` gates without changing
    * the value.
    */
  def regimeGuard(n: Column, bound: Long, entry: String, lever: String): Column =
    coalesce(
      assert_true(n <= lit(bound),
        concat(lit(s"$entry: measured "), n.cast("string"),
          lit(s" exceeds the declared operating bound $bound — $lever"))
      ).cast("bigint"),
      lit(0L))

  /** Exact global ntile(k) over a total order — WITHOUT the
    * single-partition global sort `ntile(k).over(Window.orderBy(...))`
    * compiles to (the driver-side-sort scale-killer class ExplainAudit
    * flags). Shape: range-repartition on the sort keys so each partition
    * owns a contiguous key range, rank within partitions with a
    * PARTITIONED window, then add per-partition row-count offsets — the
    * boundary aggregate is ≤ spark.sql.shuffle.partitions rows, so its
    * own prefix-sum window is config-bounded, and AQE broadcasts it back
    * unhinted. The range exchange is materialized ONCE (localCheckpoint)
    * before the rank path and the offset path read it: the two paths'
    * canonicalized subtrees are identical and USUALLY fold into one
    * ReusedExchange, but under AQE that reuse is not guaranteed — when
    * it misses, each path re-SAMPLES range boundaries and the offsets
    * misalign with the local ranks (measured: 2431/2501/2610/2458
    * "quartiles" over 10000 rows in the sessionized-CEP entry's context,
    * while the same call standalone read 4×2500). Lineage truncation
    * makes pid assignment a fact, not a plan.
    *
    * Exactly reproduces SQL `ntile(k) OVER (ORDER BY keys)` provided
    * `keys` is a total order (no ties): bucket sizes are
    * ceil(n/k) for the first n mod k buckets, floor(n/k) after, assigned
    * by global rank. All arithmetic is non-negative BIGINT (div/mod
    * cross-engine safe).
    */
  def exactNtile(df: DataFrame, keys: Seq[Column], k: Int, out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    val parts = df.repartitionByRange(p, keys: _*)
      .withColumn("__pid", spark_partition_id().cast("long"))
      .localCheckpoint()
    val local = parts.withColumn("__lr",
      row_number().over(Window.partitionBy(col("__pid")).orderBy(keys: _*)).cast("long"))
    // per-partition counts → exclusive prefix sum = rank offset; the
    // partitionless window here runs over the ≤ numShufflePartitions-row
    // offset table (config-bounded, never data-bounded)
    val offs = parts.groupBy(col("__pid")).agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(sum(col("__c")).over(
        Window.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("__n", sum(col("__c")).over(
        Window.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("__pid"), col("__off"), col("__n"))
    // no broadcast hint: the offset side is tiny and AQE broadcasts it at
    // runtime (size-gated — degrades to shuffle, never OOMs, at any scale)
    // ntile bucket from global rank r, total n: the first n mod k buckets
    // hold ceil(n/k) rows, the rest floor(n/k) — all operands non-negative
    // BIGINT, so `div` truncation is identical across engines
    local.join(offs, Seq("__pid"))
      .withColumn("__r", col("__lr") + col("__off"))
      .withColumn(out, expr(
        s"""CAST(CASE WHEN __r <= (__n % $k) * (__n div $k + 1)
           |  THEN (__r - 1) div (__n div $k + 1) + 1
           |  ELSE (__n % $k) + (__r - (__n % $k) * (__n div $k + 1) - 1) div (__n div $k) + 1
           |END AS BIGINT)""".stripMargin))
      .drop("__pid", "__lr", "__off", "__n", "__r")
  }

  /** Exact global row_number over a total order — `row_number() OVER
    * (ORDER BY keys)` in its distributed shape (exactNtile's machinery
    * without the bucket arithmetic): range-repartition on the keys,
    * rank within partitions with a PARTITIONED window, add per-partition
    * row-count offsets (the offset table is ≤ shuffle-partitions rows,
    * config-bounded). The range exchange is localCheckpoint-ed before the
    * rank and offset paths read it — same sampling-layout rule as
    * exactNtile (an AQE reuse miss would re-sample boundaries per path).
    * `keys` must be a total order (no ties), or tie order is undefined;
    * callers ranking VALUES apply this to the distinct keys and join
    * back — that composition is exactly `dense_rank()`.
    */
  def globalRowNumber(df: DataFrame, keys: Seq[Column], out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    val parts = df.repartitionByRange(p, keys: _*)
      .withColumn("__pid", spark_partition_id().cast("long"))
      .localCheckpoint()
    val local = parts.withColumn("__lr",
      row_number().over(Window.partitionBy(col("__pid")).orderBy(keys: _*)).cast("long"))
    val offs = parts.groupBy(col("__pid")).agg(count(lit(1)).as("__c"))
      .withColumn("__off", coalesce(sum(col("__c")).over(
        Window.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("__pid"), col("__off"))
    local.join(offs, Seq("__pid"))
      .withColumn(out, col("__lr") + col("__off"))
      .drop("__pid", "__lr", "__off")
  }

  /** 2-decimal exact cast for money/qty columns. */
  def dec(c: Column): Column = c.cast(DecimalType(12, 2))
  /** Exact decimal sum surfaced as double. */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")
  /** Exact decimal avg surfaced as double (single double division). */
  def davg(c: Column): Column = sum(dec(c)).cast("double") / count(lit(1))
  /** Oracle-side equivalents (DuckDB SQL fragments). */
  def oDec(e: String): String = s"CAST($e AS DECIMAL(12,2))"
  def oSum(e: String): String = s"CAST(sum(${oDec(e)}) AS DOUBLE)"
  def oAvg(e: String): String = s"CAST(sum(${oDec(e)}) AS DOUBLE) / count(*)"
}
