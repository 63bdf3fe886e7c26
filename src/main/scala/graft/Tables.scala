package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalog over the driver fixture tables (TESTDATA.md).
  *
  * The reference bootstraps its schema from DDL mounted at container start
  * (reference: docker-compose.yml:14, database/schemas/init.sql:1-219 — 11 tables,
  * 3 enums, 24 indexes). Here the analog is a parquet-backed catalog: one
  * DataFrame per table, loaded lazily per scale-factor directory, registered
  * as temp views so both the DataFrame API and `spark.sql` can reach them.
  *
  * Scale notes (100 TB design): loaders take a directory, not a pre-read
  * DataFrame, so partition discovery / predicate pushdown stay with the
  * parquet source (Catalyst `PushDownPredicates`, `PruneFileSourcePartitions`
  * replace the reference's 22 B-tree indexes, init.sql:166-204).
  *
  * FIXTURE-LAYER INVARIANT (Bench hygiene contract): no fixture or catalog
  * layer may memoize a LOCALLY-CHECKPOINTED DataFrame across gate
  * invocations. Bench's between-iteration sweep unpersists every
  * materialized local checkpoint in the context (they are dead garbage
  * when each gate invocation creates fresh ones — the round-9 q509 IID
  * fix), and a checkpoint cached here would lose its blocks mid-suite
  * with a confusing missing-block error. Memoize PATHS (this object,
  * gates.Gate.cachedFixture) or plain plans — never checkpointed RDDs.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Dimension tables small enough to broadcast at any scale factor. */
  val dims: Set[String] = Set("region", "nation", "supplier", "part")

  /** Round-5 testdata writes timestamps as parquet TIMESTAMP(MICROS,
    * isAdjustedToUTC=false), which Spark 4 infers as TIMESTAMP_NTZ by
    * default. The whole engine (window frames, streaming event time,
    * unix_micros, the DuckDB oracle compare) is built on session-UTC
    * `TimestampType`, so pin inference off at the single load point —
    * every column then reads as a UTC instant exactly as in prior rounds.
    *
    * Memoized per (session, dir, name) — the catalog role this object
    * plays (round-12 optimization, guide §1.2 per-task work): every call
    * to `spark.read.parquet` re-resolves the relation (file listing +
    * footer schema read, driver-side single-threaded work), and the bench
    * re-invokes each gate's loader every iteration, so the same immutable
    * fixture footers were being re-read hundreds of times per run. A real
    * engine resolves a table through a catalog once per session; this
    * cache is that catalog. It memoizes the PLAIN plan only (never
    * checkpointed/cached data — the Bench hygiene contract above), so
    * every action still computes from the parquet files; the fixture dirs
    * are immutable test data, so the pinned file listing cannot go stale.
    * Bounded: cleared wholesale if sessions accumulate (newSession-heavy
    * gates), which only costs a re-resolve. */
  private val loadCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (loadCache.size > 256) loadCache.clear()
    loadCache.computeIfAbsent((spark, dir, name), { _ =>
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      spark.read.parquet(s"$dir/$name.parquet")
    })
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** `events.ts` is written as parquet TIMESTAMP(NANOS), which Spark's
    * TimestampType (micros) refuses to read directly. Read nanos as longs
    * (`spark.sql.legacy.parquet.nanosAsLong`) and truncate to micros with
    * integer arithmetic — a double round-trip would lose precision at ~1e18 ns. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr("ts div 1000")))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Register every fixture table as a temp view (the analog of the
    * reference's schema bootstrap, init.sql:1-219). `events` goes through its
    * wrapper so the TIMESTAMP(NANOS) column reads in any fresh session and the
    * view exposes a true timestamp, not raw nanos longs.
    *
    * Memoized per (session, dir): each registration re-reads 10 parquet
    * footers for schema inference, which dominates the small SQL-surface
    * gates when the bench re-runs them per iteration. The views are
    * path-backed, so a repeat call with the SAME dir is a pure no-op;
    * switching dirs within a session (tests do this) still re-registers. */
  private val registeredDir =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  def registerAll(spark: SparkSession, dir: String): Unit = {
    val key = System.identityHashCode(spark).toString
    if (registeredDir.put(key, dir) != dir)
      all.foreach { n =>
        val df = if (n == "events") events(spark, dir) else load(spark, dir, n)
        df.createOrReplaceTempView(n)
      }
  }

  /** Spread a table across the cluster when the source produced too few
    * input splits for CPU-bound per-row work (single small parquet file →
    * 1 partition → 1 core). At real scale inputs arrive in many splits and
    * this is a no-op; the round-robin shuffle only fires on the small-file
    * case where shuffling is cheap by construction. */
  def spread(spark: SparkSession, df: DataFrame): DataFrame = {
    val target = spark.sparkContext.defaultParallelism
    // Estimate the scan's partition count from file metadata instead of
    // `df.rdd.getNumPartitions` (which converts the plan to an RDD per call —
    // eager analysis, and AQE loses sight of the plan). Spark bin-packs files
    // into splits of ~maxPartitionBytes charging openCostInBytes per file, so
    // estimated splits ≈ ceil((bytes + nFiles·openCost) / maxPartitionBytes)
    // — this catches both the one-big-file and the many-tiny-files cases.
    val files = df.inputFiles
    if (files.isEmpty) {
      // non-file-backed plan: fall back to the accurate (but eager) probe
      if (df.rdd.getNumPartitions < target) df.repartition(target) else df
    } else {
      val hconf = spark.sessionState.newHadoopConf()
      // one listStatus per parent directory, not one RPC per file — the
      // listing cost stays O(directories) when a table has 10^5 files
      val bytes = files.map(new org.apache.hadoop.fs.Path(_))
        .groupBy(_.getParent)
        .map { case (dir, members) =>
          val names = members.map(_.getName).toSet
          dir.getFileSystem(hconf).listStatus(dir)
            .filter(s => names.contains(s.getPath.getName))
            .map(_.getLen).sum
        }.sum
      val maxPart = spark.sessionState.conf.filesMaxPartitionBytes
      val openCost = spark.sessionState.conf.filesOpenCostInBytes
      val estSplits = (bytes + files.length * openCost + maxPart - 1) / maxPart
      if (estSplits < target) df.repartition(target) else df
    }
  }
}
