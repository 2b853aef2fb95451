package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter

/** Output sinks — the reference's CSV intermediates and the report
  * table at scale (§2.1 S7/S8, X13).
  *
  *  - S7 (`text_processing.py:60,157-166`): header CSV with timestamped
  *    filenames, one file per write like the reference's one pandas
  *    frame. Only the per-request [[Pipeline.runAndPersist]] writes it;
  *    corpus-sized output goes to the sharded JSONL sink instead.
  *  - S8 (`text_processing.py:174`): the per-request JSON response is
  *    built by [[graft.Serve]]; at scale the report table lands in
  *    [[writeReportJsonl]]'s shards.
  *  - X13 (`text_processing.py:162`): `%y%m%d_%H%M` timestamp naming,
  *    clock-injectable for deterministic tests.
  */
object Sinks {

  /** X13 — `datetime.now().strftime('%y%m%d_%H%M')`. */
  def timestampedName(prefix: String, suffix: String,
                      now: LocalDateTime = LocalDateTime.now()): String =
    s"$prefix${now.format(DateTimeFormatter.ofPattern("yyMMdd_HHmm"))}$suffix"

  /** S7 — header CSV as ONE part file, the reference's one-file
    * artifact (coalesced to one task, so driver-sized frames only).
    * Values are written verbatim, as pandas `to_csv` writes them: Spark's
    * CSV writer trims leading and trailing whitespace by default, which
    * would drop every report's trailing newline. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(path)

  /** Report-table schema as it round-trips through the JSONL sink. */
  val reportSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("record_id",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("report",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("request",
        org.apache.spark.sql.types.StringType)))

  /** S8 at scale — the sharded JSONL report sink. The single-file CSV
    * above mirrors the reference's per-request artifacts
    * (`text_processing.py:157-166`); this is the layout a
    * corpus-sized [[Pipeline.runDistributed]] output actually lands in:
    * one JSON object per line, `maxRecordsPerFile` bounding shard size
    * WITHOUT a repartition (each task rolls to a new file at the limit),
    * so the next consumer always gets splittable, bounded-size shards
    * (an upper bound per file — tasks with few rows still emit small
    * shards).
    * Round-trip (`readReportJsonl` ≡ input frame) is pinned by
    * `SinksSpec`. */
  def writeReportJsonl(reports: DataFrame, path: String,
                       maxRecordsPerFile: Long = 1000000L): Unit =
    graft.sources.CorpusSources.writeSharded(
      reports.select(col("record_id"), col("report"), col("request")),
      path, "json", maxRecordsPerFile)

  /** Read a [[writeReportJsonl]] shard directory back — explicit schema
    * (never inference: that would double-scan the corpus) on the same
    * PERMISSIVE JSONL contract as [[graft.sources.CorpusSources]]. */
  def readReportJsonl(spark: org.apache.spark.sql.SparkSession,
                      path: String): DataFrame =
    spark.read.schema(reportSchema).option("mode", "PERMISSIVE").json(path)
}
