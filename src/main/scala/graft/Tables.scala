package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated synthetic tables (TESTDATA.md).
  *
  * One parquet file per table under `sfDir`. Parquet is columnar at rest;
  * Catalyst pushes filters/projections into the scan, so loaders stay
  * plain `spark.read.parquet` — no caching or materialization here (each
  * query declares its own plan end-to-end so pushdown stays visible).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet footer schemas memoized per (session, file path) — r14
    * planning-floor trim (guide §7.3 driver-side work): `spark.read
    * .parquet` re-infers the schema (footer read + merge) on EVERY
    * call, and the catalog takes ~450 table loads per full pass.
    * Supplying the once-inferred schema skips inference; the returned
    * DataFrame is otherwise identical (same relation, same pushdown).
    * Session-scoped like every memo here — nothing persists across
    * runs. */
  private val schemaCache =
    new graft.SessionCache[org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val schema = schemaCache.getOrCompute(spark, path) {
      spark.read.parquet(path).schema
    }
    spark.read.schema(schema).parquet(path)
  }

  /** The events table's `ts` column has shipped in several physical
    * parquet forms across driver testdata generations: nanosecond
    * precision (which Spark's vectorized reader rejects — read as long
    * via legacy nanosAsLong, truncate to micros), microsecond with
    * isAdjustedToUTC=false (Spark reads TIMESTAMP_NTZ), and plain
    * UTC-adjusted micros. Normalize all three to a microsecond
    * TimestampType `ts` so every downstream operator sees one type.
    * The session timezone is pinned to UTC everywhere (Graft/Sessions/
    * tests), so the NTZ→LTZ cast is value-preserving and
    * matches DuckDB's naive-TIMESTAMP reading of the same file. */
  private def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    // the conf is set BEFORE the first (schema-inferring) read of this
    // path, so the memoized schema is the one inferred under it
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, sfDir, "events")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Spread a scan across the cluster before a compute-heavy narrow
    * stage (sketching, decoding, pairwise loops). Input splits normally
    * provide the parallelism, but a source with fewer splits than cores
    * — a single small file, one parquet row group — would otherwise run
    * the whole stage on one thread. No-op when the scan already has
    * enough partitions, so at real scale (thousands of splits) no extra
    * shuffle is introduced. */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // the scan's REAL split count (file packing under
    // maxPartitionBytes), not a file-count proxy — a multi-row-group
    // file would under-count splits and trigger a pointless full
    // repartition at scale. Driver-side plan instantiation only; no
    // job runs.
    if (scanParts(df) < target) df.repartition(target) else df
  }

  /** The split count behind [[spread]], memoized per (session, scanned
    * file set) — r14 planning-floor trim: `df.rdd.getNumPartitions`
    * instantiates a full physical plan per call (analyzer + optimizer +
    * RDD graph), and ~60 catalog entries call spread on the same
    * handful of table scans. Split math depends only on the files and
    * the session's split confs (projections/filters over the same scan
    * split identically), so the file set is the correct key; every
    * spread input is a scan-rooted narrow chain (documented contract of
    * spread). Non-file-rooted inputs fall back to the uncached path. */
  private val scanPartsCache = new graft.SessionCache[Int]()

  private def scanParts(df: DataFrame): Int = {
    val files = df.inputFiles // driver-side, from the analyzed plan
    if (files.isEmpty) df.rdd.getNumPartitions
    else scanPartsCache.getOrCompute(df.sparkSession,
      files.sorted.mkString(",")) { df.rdd.getNumPartitions }
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = loadEvents(s, d)
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
