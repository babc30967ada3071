package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** One judged query: a Spark DataFrame program plus (optionally) the ANSI-SQL
  * twin the driver runs in DuckDB over the same parquet tables.
  *
  * Conventions that make the DuckDB hash-compare deterministic:
  *   - every output column is explicitly aliased, identically on both sides;
  *   - results end with an ORDER BY over a unique column prefix on both sides;
  *   - money/quantity aggregates cast inputs to DECIMAL first (exact,
  *     order-independent) and cast the final aggregate back to DOUBLE, so both
  *     engines produce bit-identical doubles regardless of summation order;
  *   - timestamps are rendered as 'yyyy-MM-dd[ HH:mm:ss]' strings.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean)

object Q {
  def apply(name: String, oracle: String, bench: Boolean = false)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, Some(oracle), bench)
  def noOracle(name: String, bench: Boolean = false)(
      fn: (SparkSession, String) => DataFrame): Q =
    Q(name, fn, None, bench)
}

/** Loaders for the driver-provided parquet test tables (TESTDATA.md). */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Read a test table, normalizing `events.ts` to TimestampType whatever
    * physical form the parquet carries. The driver has shipped three forms
    * across regenerations, and the reference's type bridge dual-decodes
    * every layout it might meet (SURVEY §1.3) — so this loader does too:
    *   - TIMESTAMP(NANOS) → Long under spark.sql.legacy.parquet.nanosAsLong
    *     (set in every session builder): truncate to micros;
    *   - timestamp[us] without UTC adjustment → TIMESTAMP_NTZ: the session
    *     is pinned UTC, so cast(TimestampType) relabels the same instant
    *     exactly (and the DuckDB oracle is timezone-naive, unaffected);
    *   - TimestampType: already the target form.
    * `withWatermark` rejects NTZ event time, so the streaming loader
    * (StreamOps.eventsStream) applies the same normalization. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val schema = schemas.computeIfAbsent((dir, name), _ => spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
    if (name == "events") normalizeEventTs(df) else df
  }

  /** Per-(dir, table) memo of the inferred parquet schema: every
    * `spark.read.parquet` without a schema re-runs driver-side schema
    * inference (~0.1-0.15 s per table at sf0.1), and nearly every judged
    * query loads 1-3 tables per run. A dataset file never changes, so its
    * schema is reused exactly. Only the schema is kept: a memoized
    * DataFrame would hold its session, and with it every session that
    * ever loaded a table. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[(String, String), StructType]()

  /** ts → TimestampType across all three physical forms (see load). */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(floor(col("ts") / 1000L).cast("long")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Register every table as a temp view so spark.sql(...) queries work,
    * pointing at the dataset last asked for. A session whose views already
    * read `dir` keeps them: re-registering cost ~0.2 s per call at sf0.1
    * on 4 vCPUs, and the views are pure functions of the immutable dataset
    * dir. The session's own catalog is the memo, so nothing outside the
    * session refers to it. Nothing else in the engine creates or drops
    * these view names (createOrReplaceTempView appears only here), and the
    * last name is registered last, so it stands for all of them. */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    val last = names.last
    val current = spark.catalog.tableExists(last) &&
      spark.table(last).inputFiles.exists(_.contains(s"$dir/$last.parquet"))
    if (!current) names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
  }
}

object Util {
  import org.apache.spark.sql.functions._

  /** Exact decimal view of a 2-decimal-valued double column (money, qty).
    * Both Spark and DuckDB round the same binary double to the same 2-decimal
    * value, and decimal addition is exact, so aggregates built on this are
    * order-independent and engine-identical. */
  def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Final aggregate back to double for a stable output type. */
  def d(c: Column): Column = c.cast("double")

  def ymd(c: Column): Column = date_format(c, "yyyy-MM-dd")
  def ymdHms(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")
}

/** The one session factory: every main, spec and harness builds its
  * session here, so they all run under the same configuration. Local mode
  * at `cpus` worker threads with one shuffle partition per thread (not
  * the 200 default), AQE on, UTC. */
object GraftSession {
  /** Spark scratch (shuffle files, spills, broadcast staging) stays on the
    * JVM-default disk tmpdir unless SPARK_GRAFT_SCRATCH_DIR opts into
    * another medium. The r16 round placed this on /dev/shm unconditionally
    * and the judged 32-core environment regressed 2-3x on the spill-heavy
    * query family: tmpfs "spill" consumes the very RAM that spilling exists
    * to relieve, the pressure grows with task concurrency, and at scale an
    * out-of-space tmpfs is an OOM-kill where a disk spill is just slow.
    * Disk is the correct default posture; a deployment that has measured
    * headroom (or real fast local disks) sets the env var explicitly. */
  val localDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SCRATCH_DIR",
      System.getProperty("java.io.tmpdir", "/tmp"))

  /** Worker threads when the caller names none: SPARK_GRAFT_CPUS pins an
    * explicit width for controlled comparisons, else every core (at
    * least 4). */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(math.max(4, Runtime.getRuntime.availableProcessors()))

  def builder(appName: String = "graft",
      cpus: Int = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", graft.GraftSession.localDir)
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.sql.adaptive.enabled", "true")
      // subset co-partitioning: lets a join whose equi-keys extend an
      // existing HashPartitioning (e.g. the block-pair verify joins) reuse
      // it instead of reshuffling the array-carrying intermediate
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // storage-partitioned joins over cassandralike stores that report
      // their token-bucket layout (Options.ReportPartitioning): same-bucket
      // stores join with no exchange on either side; pushPartValues lets a
      // bucket empty on one side still zip against its peer
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")

  /** The builder's session plus the co-bucketed write rule (installed at
    * most once per session) and WARN logging. */
  def get(appName: String = "graft", cpus: Int = defaultCpus): SparkSession = {
    val s = builder(appName, cpus).getOrCreate()
    graft.plans.CoBucketedWrite.install(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Release every cached block, BLOCKING until it is gone.
    * catalog.clearCache() alone tears blocks down asynchronously: the
    * persisted and localCheckpoint'ed RDDs a query leaves behind stay in
    * memory, and a next query materializing while that teardown runs
    * shows up as blockDoesNotExistError task retries (measured 2-4x
    * swings on an unchanged benched query until the drain was made
    * synchronous). */
  def dropCaches(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }
}
