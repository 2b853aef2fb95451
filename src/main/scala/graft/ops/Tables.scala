package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Parquet table loaders for the harness testdata — one parquet per
  * table (region, nation, customer, supplier, part, orders, lineitem,
  * events, documents, embeddings) under each scale-factor dir
  * (TESTDATA.md).
  *
  * Scale notes baked in here rather than at each call site:
  *  - plain `spark.read.parquet` keeps the scan a v1/v2 FileSourceScan →
  *    Catalyst pushes predicates + prunes columns into the parquet reader
  *    (verify with `.explain`: `PushedFilters`, `ReadSchema`);
  *  - `events.ts` is written as parquet TIMESTAMP(NANOS), which Spark's
  *    vectorized reader only surfaces as a raw nanosecond `bigint`
  *    (`spark.sql.legacy.parquet.nanosAsLong`); [[events]] normalizes to a
  *    microsecond `TimestampType` column so downstream operators are
  *    layout-independent.
  */
object Tables {
  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")

  /** `(dir, glob)` for a stream that drains table `name`. The table is
    * a single parquet FILE in the sf dirs but a parquet DIRECTORY in
    * ScaleGen output, and a stream's `pathGlobFilter` matches LEAF file
    * names, so the drain points at whichever level holds the part
    * files. */
  def streamSource(sfDir: String, name: String): (String, String) = {
    val src = new java.io.File(sfDir, s"$name.parquet")
    if (src.isDirectory) (src.getPath, "*.parquet")
    else (sfDir, s"$name.parquet")
  }

  /** `events` with `ts` normalized to TimestampType (micros, UTC) whether
    * the reader surfaced nanos-as-long or a native timestamp. */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // integer `div`, NOT `/`: epoch-ns needs 61 bits, so the double
        // division `/ 1000` rounds (±1µs) where DuckDB's ns→µs cast
        // truncates — the mismatch surfaces in any query that outputs
        // raw µs (e10's sess_start caught it)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => raw
      case other =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
}
