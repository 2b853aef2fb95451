package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The four dimension tables of the star schema and their offline fallback
  * synthesis.
  *
  * The reference fetches these from MongoDB when configured
  * (`db_to_dataframe.py:98-141`) and otherwise synthesizes them from the
  * fact table's distinct codes (`db_to_dataframe.py:61-95`). The Mongo wire
  * protocol is connector plumbing, not query semantics — here dims are
  * plain DataFrames (parquet/JSON/inline), and the `$in`-restricted fetch
  * becomes a left-semi join against the fact's distinct codes.
  *
  * All are small relative to the fact table and broadcast in [[Enrich]].
  */
final case class Dims(itemMeta: DataFrame, itemGroupMap: DataFrame,
                      diagTbl: DataFrame, summaryTbl: DataFrame) {

  /** Key normalization (J5): every join key on the dim side cast to string
    * and trimmed, so join semantics are trimmed-string equality
    * (`db_to_dataframe.py:148-162`). */
  def normalized: Dims = {
    def norm(df: DataFrame, keys: String*): DataFrame =
      keys.filter(df.columns.contains).foldLeft(df)((d, k) =>
        d.withColumn(k, trim(col(k).cast("string"))))
    Dims(
      norm(itemMeta, "ITEM_CODE", "ORG_ID"),
      norm(itemGroupMap, "ITEM_CODE"),
      norm(diagTbl, "DIAG_CODE", "SUMMARY_CODE"),
      norm(summaryTbl, "SUMMARY_CODE"))
  }

  /** Restrict item dims to codes present in the fact — the reference's
    * `{"ITEM_CODE": {"$in": unique_items_list}}` (`db_to_dataframe.py:
    * 103-104,114-115`) as a broadcast left-semi join (the dynamic-key-set
    * flavor of predicate pushdown). No-op for correctness (left joins
    * ignore extra dim rows); at scale it shrinks the broadcast side.
    *
    * Item dims already in driver memory ([[local]]) are returned as they
    * are: a semi-join cannot shrink them, it would only add its own
    * broadcast jobs to every request. */
  def restrictedTo(fact: DataFrame): Dims =
    if (itemMeta.isLocal && itemGroupMap.isLocal) this
    else {
      val codes = broadcast(
        fact.select(trim(col("ITEM_CODE").cast("string")).as("ITEM_CODE")).distinct())
      copy(
        itemMeta = itemMeta.join(codes, Seq("ITEM_CODE"), "left_semi"),
        itemGroupMap = itemGroupMap.join(codes, Seq("ITEM_CODE"), "left_semi"))
    }

  /** The four tables collected once into driver-local frames, in the
    * session they were read in — for a long-lived server that would
    * otherwise re-scan them on every request. They are bounded by code
    * cardinality, not data volume (see [[Enrich]]). */
  def local: Dims = {
    import Pipeline.localize
    Dims(localize(itemMeta), localize(itemGroupMap), localize(diagTbl), localize(summaryTbl))
  }
}

object Dims {

  /** Offline fallback synthesis (`db_to_dataframe.py:61-95`), derived from
    * the fact frame itself:
    *  - `item_meta`: one row per distinct ITEM_CODE, display names templated
    *    per language, ORG_ID taken from the fact's **first** row in ingest
    *    order (`db_to_dataframe.py:69` — `.iloc[0]`, hence the `_rid` min);
    *  - `item_group_map`: every item in a single group 1 with sample names;
    *  - `diag_tbl`: identity DIAG→SUMMARY code map, empty comment texts;
    *  - `summary_tbl`: one row per summary code, empty texts (the
    *    per-language defaults are filled later by Clean, X7).
    */
  def fallback(fact: DataFrame): Dims = {
    val firstOrg = trim(
      min(struct(col("_rid"), col("ORG_ID").cast("string").as("ORG_ID")))
        .getField("ORG_ID"))
    val orgDf = fact.agg(firstOrg.as("ORG_ID"))

    val items = fact
      .select(trim(col("ITEM_CODE").cast("string")).as("ITEM_CODE"))
      .distinct()

    val itemMeta = items.crossJoin(broadcast(orgDf)).select(
      col("ITEM_CODE"),
      concat(lit("項目 "), col("ITEM_CODE")).as("TCNAME_ITEM"),
      concat(lit("项目 "), col("ITEM_CODE")).as("SCNAME_ITEM"),
      concat(lit("項目 "), col("ITEM_CODE")).as("JPNAME_ITEM"),
      concat(lit("Item "), col("ITEM_CODE")).as("ENNAME_ITEM"),
      col("ORG_ID"))

    val itemGroupMap = items.select(
      col("ITEM_CODE"),
      lit(1).as("GROUPNO"),
      lit("範例分類").as("TCNAME_GROUP"),
      lit("Sample Group").as("ENNAME_GROUP"),
      lit("サンプル分類").as("JPNAME_GROUP"),
      lit("示例分类").as("SCNAME_GROUP"))

    val diagTbl = fact
      .select(trim(col("DIAG_CODE").cast("string")).as("DIAG_CODE"))
      .distinct()
      .select(
        col("DIAG_CODE"),
        col("DIAG_CODE").as("SUMMARY_CODE"),
        lit("").as("ENNAME_COMMENT"),
        lit("").as("JPNAME_COMMENT"),
        lit("").as("SCNAME_COMMENT"))

    val summaryTbl = diagTbl.select(col("SUMMARY_CODE")).distinct().select(
      col("SUMMARY_CODE"),
      lit("").as("TCNAME_SUMMARY"),
      lit("").as("SCNAME_SUMMARY"),
      lit("").as("ENNAME_SUMMARY"),
      lit("").as("JPNAME_SUMMARY"))

    Dims(itemMeta, itemGroupMap, diagTbl, summaryTbl)
  }

  /** Load dims from a directory of parquet files named like the reference
    * collections (harness/integration convenience). */
  def fromParquet(spark: org.apache.spark.sql.SparkSession, dir: String): Dims =
    Dims(
      spark.read.parquet(s"$dir/item_meta.parquet"),
      spark.read.parquet(s"$dir/item_group_map.parquet"),
      spark.read.parquet(s"$dir/diag_tbl.parquet"),
      spark.read.parquet(s"$dir/summary_tbl.parquet"))
}
