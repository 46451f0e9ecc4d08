package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * Every `SparkEntry.queries` entry receives `(spark, sfDir)` and loads its
  * inputs through here so the scan always goes through the parquet datasource
  * (column pruning + predicate pushdown reach the file scan).
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Confs every session that touches the testdata needs. Spark 4 refuses
    * TIMESTAMP(NANOS) parquet columns (events.ts) unless they are read as
    * raw nanosecond longs; [[events]] converts back to a timestamp. */
  val requiredConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // ToCodes builds maps with insert-order overwrite semantics (the
    // reference's dict.update); map_from_entries must keep the last entry
    "spark.sql.mapKeyDedupPolicy" -> "LAST_WIN",
    // The reference's DSL is permissive Python: float() failure → value kept,
    // ZeroDivision → 0, bad dates → fallthrough. Non-ANSI evaluation (null on
    // bad cast) is the matching contract; hot spots additionally use try_*.
    "spark.sql.ansi.enabled" -> "false",
    // engine planner rules (InlineMapExtracts: kill the map-adapter tax)
    "spark.sql.extensions" -> "graft.plans.GraftExtensions")

  /** Scale-adaptive scan fan-out (r16 optimization; guide §2: derive
    * partitioning from input size, never a constant tuned to one mode).
    *
    * The test fixtures are single-file, SINGLE-ROW-GROUP parquet: a scan
    * of them is one split no matter what the split configs say (a parquet
    * reader cannot split below a row group), so every per-row kernel
    * fused into the scan stage — date-parse ladders, tokenizers, map
    * construction — runs on ONE core of a 32-core machine. When the
    * input is too small for the scan to reach `defaultParallelism` splits
    * on its own (bytes < cores × maxPartitionBytes), a round-robin
    * repartition to the default parallelism puts the projection work on
    * the whole machine; at production scale the condition is false and
    * this is the identity (no exchange in the plan). Row SETS are
    * identical either way; row order is not preserved.
    *
    * Used by MEASURED per-row-compute-heavy call sites only (never the
    * loaders blanket): the exchange moves the raw payload once and makes
    * every downstream stage machine-wide, which is only worth it when
    * the kernel above the scan dominates — featherweight queries pay
    * the extra stage for nothing (measured +0.15-0.2 s each). */
  def fanOut(s: SparkSession, df: DataFrame, d: String, name: String,
             key: org.apache.spark.sql.Column): DataFrame = {
    val root = new java.io.File(s"$d/$name.parquet")
    def bytes(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(bytes).sum
      else f.length()
    val cores = s.sparkContext.defaultParallelism
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.files.maxPartitionBytes", "128m"))
    // HASH-partition on the table's unique key, never round-robin: a
    // keyless repartition(n) first pays a LOCAL SORT of its input
    // partition (sortBeforeRepartition, guide §2.5) — on a one-split
    // fixture that is a serial whole-table sort, worse than the serial
    // kernel it was meant to fix. Hashing a unique key spreads evenly
    // and is deterministic under retry.
    if (bytes(root) < cores.toLong * maxSplit) df.repartition(cores, key)
    else df
  }

  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  /** `events.ts` has shipped in two physical parquet shapes across testdata
    * generations: TIMESTAMP(NANOS) (arrives as a long under nanosAsLong —
    * truncate to micros exactly like DuckDB, integer `div` since nanos
    * exceed 2^53) and TIMESTAMP(MICROS) without UTC adjustment (arrives as
    * TIMESTAMP_NTZ under Spark 4's NTZ inference). Both normalize to plain
    * TIMESTAMP here; sessions run with UTC session tz, so the NTZ cast is a
    * same-wall-clock relabel and matches DuckDB's naive-timestamp reading. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
