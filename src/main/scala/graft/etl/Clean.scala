package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cleaning / normalization stage — the Spark re-expression of
  * `postprocess_multilang` (`data_preprocessing.py:34-77`).
  *
  * Everything here is built-in codegen'd expressions (`translate`,
  * `regexp_replace`, `when`, window `row_number`) — no UDFs, so the whole
  * stage stays inside whole-stage codegen and Catalyst can reorder/pipe it
  * freely. [[cleanRows]]' only exchange is the window dedup (hash
  * partition by the 8-column key); [[clean]] adds the display sort (range
  * partition) for readers that want the rows in the reference's order.
  */
object Clean {

  /** X5 — full-width → half-width character map
    * (`data_preprocessing.py:41-51`). 1:1 char mapping, exactly Spark's
    * built-in `translate` contract. */
  val FULLWIDTH_SRC = "（）【】：；，。！？“”‘’、　～％＋－＝＠"
  val FULLWIDTH_DST = "()[]:;,.!?\"\"'',  ~%+-=@"

  /** COMMENT normalization (`data_preprocessing.py:37-55`): null→'' →
    * strip newlines → full-width translate → squeeze whitespace around
    * parens. The one COMMENT expression: [[cleanRows]] projects it too. */
  private def normalizedComment: Column =
    regexp_replace(
      regexp_replace(
        translate(
          regexp_replace(coalesce(col("COMMENT").cast("string"), lit("")),
            "[\\r\\n]", ""),
          FULLWIDTH_SRC, FULLWIDTH_DST),
        "\\s*\\(\\s*", "("),
      "\\s*\\)\\s*", ")")

  def cleanComment(df: DataFrame): DataFrame =
    df.withColumn("COMMENT", normalizedComment)

  /** X8 — GROUPNO renumber (`data_preprocessing.py:62-65`): group 0 and
    * null both become max+1 so the "Others" group renders last. The global
    * max (A3) joins back as a broadcast 1-row frame to keep the plan lazy
    * and fully distributed (no driver-side collect). */
  def renumberGroupNo(df: DataFrame): DataFrame = {
    val g = col("GROUPNO").cast("int")
    val maxDf = df.select(g.as("_g")).agg(coalesce(max(col("_g")), lit(0)).as("_maxg"))
    df.crossJoin(broadcast(maxDf))
      .withColumn("GROUPNO",
        when(g.isNull || g === 0, col("_maxg") + 1).otherwise(g).cast("int"))
      .drop("_maxg")
  }

  /** The tie-break after `_rid`: every content column. A dim with a
    * duplicate key fans one fact row out into several rows that share a
    * `_rid`; ordering those by their content makes keep-first, the
    * display sort and the report's in-record order depend only on the
    * rows, never on shuffle arrival (identical rows are interchangeable). */
  val ContentOrder: Seq[String] = Schemas.SUBSET

  private def ingestOrder: Seq[Column] = col("_rid") +: ContentOrder.map(col)

  /** A2 — keep-first dedup on the 8-column key (`data_preprocessing.py:
  *  23-30`): global null→'' fill, then the first row *in ingest order* wins
  *  per key. pandas `drop_duplicates(keep='first')` relies on implicit row
  *  order; here the ingest ordinal `_rid` makes it explicit, so the result
  *  is partition-count-invariant (plain `dropDuplicates` would not be);
  *  rows sharing a `_rid` fall back to [[ContentOrder]]. */
  def keepFirst(df: DataFrame): DataFrame = {
    val filled = df.na.fill("")
    val w = Window.partitionBy(Schemas.SUBSET_2_KEEP.map(col): _*).orderBy(ingestOrder: _*)
    filled.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** O1 — stable display sort (`data_preprocessing.py:75`, explicit
    * `kind='mergesort'`): Spark's sort is not stable, so the ingest ordinal
    * and then [[ContentOrder]] are appended as the final keys to make
    * stability explicit. */
  def displaySort(df: DataFrame): DataFrame =
    df.orderBy(Seq(col("RECORD_ID"), col("GROUPNO"), col("TCNAME_ITEM")) ++ ingestOrder: _*)

  /** Full `postprocess_multilang` chain: [[cleanRows]] in display order
    * (`data_preprocessing.py:75`). */
  def clean(df: DataFrame): DataFrame = displaySort(cleanRows(df))

  /** `postprocess_multilang` up to the sort, rows in no particular order —
    * what [[Pipeline]]'s chain reads, since neither of its readers uses
    * row order (the rewrite pairs take a `distinct`, and the report
    * re-sorts each record by its own display order). Semantically the
    * reference's stage order (COMMENT `data_preprocessing.py:37-55` →
    * SUMMARY default fill `:58-60` → GROUPNO renumber `:62-65` → GROUP
    * default fill `:68-70` → dedup `:72`; each SUMMARY/GROUP column is
    * filled with its own column-language default regardless of the row's
    * LANG_NO), but the per-column normalizations touch disjoint columns,
    * so they collapse into a SINGLE projection: chaining them as 10+
    * `withColumn`s makes Catalyst re-resolve a deepening plan per step —
    * measurable seconds of driver-side analysis on the full pipeline. */
  def cleanRows(df: DataFrame): DataFrame = {
    val summaryDefaults = Schemas.SUMMARY_COLS.toMap
      .map { case (c, lang) => c -> Schemas.LANG_DEFAULT_SUMMARY(lang) }
    val groupDefaults = Schemas.GROUP_COLS.toMap
      .map { case (c, lang) => c -> Schemas.LANG_DEFAULT_GROUP(lang) }
    def fillExpr(c: String, default: String) = {
      val cleaned = regexp_replace(coalesce(col(c).cast("string"), lit("")), "[\\r\\n]", "")
      when(cleaned === "", lit(default)).otherwise(cleaned).as(c)
    }
    val normalized = df.select(df.columns.toSeq.map {
      case "COMMENT" => normalizedComment.as("COMMENT")
      case c if summaryDefaults.contains(c) => fillExpr(c, summaryDefaults(c))
      case c if groupDefaults.contains(c) => fillExpr(c, groupDefaults(c))
      case c => col(c)
    }: _*)
    keepFirst(renumberGroupNo(normalized))
  }
}
