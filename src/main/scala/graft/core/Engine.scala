package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SparkSession factory with the engine's standard configuration.
  *
  * Designed for a multi-executor cluster even though tests run `local[N]`:
  * AQE on (runtime partition coalescing + skew-join splitting), shuffle
  * partitions sized for the local harness via env, UTC session time zone for
  * oracle parity (the reference treats datetimes as location-less —
  * /root/reference pkg/sql_execution_engine/utils.go:218-224).
  */
object Engine {

  /** Build a session. `master` is only set if no master is configured, so
    * spark-submit / cluster deployment keeps control in production.
    */
  def session(
      appName: String = "graft",
      master: Option[String] = None,
      shufflePartitions: Int = defaultShufflePartitions,
      extraConf: Map[String, String] = Map.empty): SparkSession = {
    val b = SparkSession
      .builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // deterministic micros-based timestamps in written parquet (the
      // correctness harness reads our output with another engine)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // harness parquet stores TIMESTAMP(NANOS) which Spark has no native
      // type for; read as long and convert in the loader (values are
      // microsecond-aligned, verified in TESTDATA)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // file:// sets each new file's and directory's mode with chmod(2)
      // instead of a forked chmod, and the streaming checkpoint writes
      // through that FileSystem: Spark's default FileContext manager
      // builds its own stock one (README "Local file system")
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
    master.foreach(b.master)
    val withExtra = extraConf.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
    val spark = withExtra.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def defaultShufflePartitions: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(32)

  /** Local session for tests / CLI mains. */
  def local(appName: String = "graft", cores: Int = 4): SparkSession =
    session(appName, master = Some(s"local[$cores]"), shufflePartitions = cores)
}

/** Loaders for the harness star schema (TESTDATA.md). One parquet per table. */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Spread an UNSPLITTABLE-input scan across the cluster before heavy
    * per-row work. The harness tables are single-row-group parquet files,
    * so every scan yields ONE task no matter how many byte-range splits
    * the planner makes (a split with no row-group start reads nothing) —
    * the guide's "input skew: one huge unsplittable file" case, whose
    * remedy is a repartition immediately after the read. The gate is
    * derived from the input, not a constant: when the scan already yields
    * at least the cluster's default parallelism (any real multi-row-group
    * / multi-file table, i.e. production), this is an identity — no
    * shuffle is added at scale. Use ONLY in front of CPU-heavy per-row
    * stages (codecs, tokenizers); scan-dominated aggregates gain nothing
    * from shuffling their input first.
    */
  def spread(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.ts is TIMESTAMP(NANOS) in parquet; with nanosAsLong it arrives
    * as a long which we convert to a proper micros timestamp (values are
    * microsecond-aligned).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      // nanos-long → micros instant → NTZ wall time (session is UTC), so
      // the column round-trips like the other tables' naive timestamps
      raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr("ts div 1000")) // integer div: ns epoch overflows double
        .cast(org.apache.spark.sql.types.TimestampNTZType))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Name-dispatched accessor — the ONE place that knows which tables
    * need load-time conversion (events' nanos timestamp), so every front
    * door (DataFrame accessors, SQL views, tooling) serves the same frame.
    */
  def table(s: SparkSession, d: String, name: String): DataFrame = name match {
    case "events" => events(s, d)
    case other => load(s, d, other)
  }

  /** SQL front door: register every table as a temp view (plus graft's
    * SQL functions) so `spark.sql("SELECT ... FROM lineitem ...")` works
    * directly — the full Spark SQL surface over the replicated tables.
    */
  def registerAll(s: SparkSession, d: String): Unit = {
    all.foreach(t => table(s, d, t).createOrReplaceTempView(t))
    graft.functions.GraftFunctions.register(s)
  }
}
