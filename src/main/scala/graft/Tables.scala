package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated TPC-H-ish parquet tables
  * (TESTDATA.md). Schemas are discovered, never hand-declared
  * (FIXTURES.md §8): once per session and file version, then reused by
  * every later load of the same path (see [[ParquetMeta]]).
  *
  * At 100 TB these would be partitioned/bucketed catalog tables; the
  * loader keeps the access path behind one function so a catalog swap
  * (`spark.table`) is a one-line change.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // events.ts contract for callers: nanos-since-epoch LONG (callers
  // derive ms via `ts DIV 1000000` — integer-exact, matches DuckDB
  // epoch_ms). The driver's parquet has shipped it two ways across
  // rounds — TIMESTAMP(NANOS) (read as long via
  // spark.sql.legacy.parquet.nanosAsLong=true, which every session
  // sets) and TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ under Spark 4's
  // inferTimestampNTZ default) — so the loader normalizes BY TYPE at
  // load instead of letting 20 call sites care. The NTZ→long path is
  // integer-exact too: sessions run in UTC, so unix_micros of the
  // wall-clock cast is the same instant DuckDB's epoch_ms reads from
  // the naive timestamp.
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = readParquet(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeEventsTs(df) else df
  }

  /** `spark.read.parquet(path)` without the per-call schema-inference
    * job: the schema is discovered by Spark on the first read of each
    * file version in each session and passed to every later read via
    * `spark.read.schema`. Listing, scan and compute still run on every
    * query; only the footer-derived schema is reused. The learn-once
    * artifact re-reads go through here too.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(parquetMeta(path, spark.sparkContext.hadoopConfiguration)
        .schema(spark))
      .parquet(path)

  /** Metadata of one version of a parquet file or directory: its data
    * files, footer row count and per-session schema, each computed at
    * most once. A version is the path plus the root status's mtime: a
    * `mode("overwrite")` at the same path bumps the directory mtime, so
    * the next lookup starts a fresh entry instead of serving the
    * previous data's files, count or schema (stress harnesses and
    * artifact rebuilds overwrite at stable paths within one JVM).
    * Schemas are kept per `SparkSession` (weakly, by identity): a
    * session's parquet confs (`nanosAsLong`, `inferTimestampNTZ`)
    * shape inference, so a session never sees another's schema.
    */
  final class ParquetMeta private[Tables] (path: String,
      val mtime: Long, conf: Configuration, files: Seq[Path]) {
    def fileCount: Int = files.size

    /** From footers only, O(files) — no session needed. */
    lazy val rowCount: Long = {
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      files.map { f =>
        val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try r.getRecordCount finally r.close()
      }.sum
    }

    private val schemas =
      new java.util.WeakHashMap[SparkSession, StructType]()

    /** Inference runs under the entry's lock, so concurrent first
      * loads of one table in one session pay one job, not one each.
      */
    def schema(spark: SparkSession): StructType = schemas.synchronized {
      Option(schemas.get(spark)).getOrElse {
        val discovered = spark.read.parquet(path).schema
        schemas.put(spark, discovered)
        discovered
      }
    }
  }

  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[String, ParquetMeta]()

  /** The current version's entry for `path`: one stat per call, plus
    * one listing when the version changed. A missing path throws
    * `FileNotFoundException`.
    */
  def parquetMeta(path: String, conf: Configuration): ParquetMeta = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val status = fs.getFileStatus(p)
    val mtime = status.getModificationTime
    metaCache.compute(path, (_, cached) =>
      if (cached != null && cached.mtime == mtime) cached
      else new ParquetMeta(path, mtime, conf,
        if (status.isDirectory)
          fs.listStatus(p).map(_.getPath)
            .filter(_.getName.endsWith(".parquet")).toSeq
        else Seq(p)))
  }

  /** `load` plus a guard against a pathologically NARROW scan, for
    * queries whose heavy per-row work is fused into the scan stage
    * (n-gram/shingle explodes over text, per-vector model
    * projections): the driver's test parquet is ONE file with ONE
    * row group per table (unsplittable — no `maxPartitionBytes`
    * setting can help), so everything before the first exchange runs
    * single-threaded no matter how good the plan is. Measured
    * (PERF.md r13): the same corpus written as 32 splits ran the
    * text-heavy tail 2–5× faster with identical plans, while a
    * BLANKET widen taxed every light query ~0.25 s for an extra AQE
    * stage — hence opt-in per query, not a loader default. No-ops on
    * any healthily-split table (file count ≥ half the worker count —
    * every real deployment) and on small tables (<1000 rows), so at
    * production layouts `loadWide ≡ load`. Results are unchanged —
    * registered queries are repartition-invariant by contract.
    * Catalyst pushes filters and pruning through the round-robin
    * exchange into the scan (verified: `PlanDump _rawscan:documents`).
    */
  def loadWide(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = load(spark, dir, name)
    if (!wideningEngages(spark, dir, name)) df
    else {
      // one stderr line per (path, engage) so a bench/driver log
      // answers "did widening fire in THIS environment?" without a
      // plan dump (r13 verdict #3 — the q199 driver-vs-builder drift
      // was undiagnosable from bench output alone). stderr, not
      // stdout: the bench contract is ONE JSON line on stdout.
      val path = s"$dir/$name.parquet"
      if (engageLogged.putIfAbsent(path, true).isEmpty) {
        val files =
          parquetMeta(path, spark.sparkContext.hadoopConfiguration).fileCount
        System.err.println(s"[graft] loadWide engaged: $path " +
          s"(files=$files < " +
          s"${math.max(1, spark.sparkContext.defaultParallelism / 2)})")
      }
      df.repartition(spark.sparkContext.defaultParallelism)
    }
  }

  /** STAGE widening — `loadWide`'s twin for derived frames (r16): a
    * `localCheckpoint` freezes whatever partitioning AQE left on the
    * frame, and on the degenerate test layout AQE coalesces a sub-MB
    * shuffle to ONE partition — so every downstream consumer of the
    * checkpoint (the BM25 scoring join, the MinHash signature pass)
    * runs single-threaded no matter how many cores exist. Returns a
    * function that hash-repartitions by `key` to the worker count
    * before the caller's checkpoint, under the SAME file-count guard
    * as `loadWide` (no-op at any healthy production layout — there
    * the checkpointed frame inherits real parallelism and an extra
    * exchange would be pure cost). Key-hashed, never round-robin:
    * results are repartition-invariant by contract and the exchange
    * carries only the derived frame (ids/hashes/counts), never text.
    */
  def stageWidener(spark: SparkSession, dir: String, name: String,
      key: org.apache.spark.sql.Column): DataFrame => DataFrame = {
    if (!wideningEngages(spark, dir, name)) identity
    else df => df.repartition(spark.sparkContext.defaultParallelism, key)
  }

  /** True iff `loadWide` would insert the widening exchange for this
    * table: fewer files than half the worker count AND ≥1000 rows.
    * Public so PlanDump/diagnostics can report the decision instead
    * of inferring it from plan shape.
    */
  def wideningEngages(spark: SparkSession, dir: String,
      name: String): Boolean = {
    val path = s"$dir/$name.parquet"
    val cores = spark.sparkContext.defaultParallelism
    val meta = parquetMeta(path, spark.sparkContext.hadoopConfiguration)
    meta.fileCount < math.max(1, cores / 2) && meta.rowCount >= 1000L
  }

  private val engageLogged =
    scala.collection.concurrent.TrieMap[String, Boolean]()

  private def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) | None => df
      case Some(TimestampType) | Some(TimestampNTZType) =>
        df.withColumn("ts",
          unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case Some(other) =>
        throw new IllegalStateException(
          s"events.ts has unsupported parquet type $other")
    }
  }

  /** Convenience bundle of all tables at a scale-factor dir. */
  final case class Tpch(spark: SparkSession, dir: String) {
    def region: DataFrame     = load(spark, dir, "region")
    def nation: DataFrame     = load(spark, dir, "nation")
    def customer: DataFrame   = load(spark, dir, "customer")
    def supplier: DataFrame   = load(spark, dir, "supplier")
    def part: DataFrame       = load(spark, dir, "part")
    def orders: DataFrame     = load(spark, dir, "orders")
    def lineitem: DataFrame   = load(spark, dir, "lineitem")
    def events: DataFrame     = load(spark, dir, "events")
    def documents: DataFrame  = load(spark, dir, "documents")
    def embeddings: DataFrame = load(spark, dir, "embeddings")
  }

  def apply(spark: SparkSession, dir: String): Tpch = Tpch(spark, dir)

  /** Local session tuned per the builder contract: shuffle partitions
    * sized to cores (not 200), AQE on for runtime re-planning (skew
    * joins, partition coalescing) — the settings that transfer to a
    * real cluster.
    */
  def localSession(appName: String, cores: Int = 32): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // suite-sized codegen class cache (see build.sbt javaOptions)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Metrics.register(spark)
    spark
  }
}
