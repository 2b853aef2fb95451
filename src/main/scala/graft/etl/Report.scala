package graft.etl

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.collection.mutable

/** Hierarchical report generation — the Spark re-expression of
  * `text_processing.py:33-141`.
  *
  * Everything upstream is relational and Catalyst-optimized; this stage is
  * inherently sequential *per record* (ordered nested grouping, run-length
  * header suppression, indent assembly), so the idiomatic seam is
  * `groupByKey(RECORD_ID).mapGroups` with plain Scala inside — each group
  * is one medical record (tiny), and records distribute across executors,
  * so the operator scales horizontally with record count.
  *
  * The serializer's decisions live in ONE place, [[blocks]], and its text
  * formatting in [[render]]. The pipeline runs both per record
  * ([[processOneRecord]]); catalog entry `p02_report_blocks` runs
  * [[blocks]] alone ([[reportBlocks]]) and puts its output under the
  * DuckDB oracle ([[blocksOracleSql]]).
  */
object Report {

  /** One row of the per-language canonical view (P3/P4:
    * `text_processing.py:41-49`). `rewritten` carries the pre-joined
    * LLM rewrite of `summary` (None = no join match: the summary prints
    * as it is). */
  private[etl] final case class RRow(group: String, itemCode: String,
                                itemName: String, comment: String,
                                summary: String,
                                rewritten: Option[String] = None)

  /** One report block, in display order: group `grpOrd` (1-based, named
    * by the trimmed `grp`), block `blockOrd` (1-based within the group),
    * whether its item header prints, its item names, comments and
    * trimmed summary, and the summary's LLM rewrite if any. */
  private[etl] final case class Block(grpOrd: Int, grp: String, blockOrd: Int,
      showHeader: Boolean, items: Vector[String], comments: Vector[String],
      summary: String, rewritten: Option[String])

  private def s(r: Row, i: Int): String =
    if (r.isNullAt(i)) "" else String.valueOf(r.get(i))

  // A7 — first-occurrence item-name collection keyed by trimmed code
  // (`text_processing.py:129-141`).
  private def uniqueItemNames(rs: Seq[RRow]): Vector[String] = {
    val seen = mutable.LinkedHashSet[String]()
    val out = Vector.newBuilder[String]
    rs.foreach { r =>
      val code = r.itemCode.trim
      if (!seen.contains(code)) { seen += code; out += r.itemName.trim }
    }
    out.result()
  }

  // pandas groupby(sort=False): groups in first-occurrence order; rows
  // within a group keep frame order, even when non-contiguous.
  private def groupedBy(rs: Seq[RRow])(key: RRow => String): Vector[(String, Vector[RRow])] = {
    val m = mutable.LinkedHashMap[String, mutable.ArrayBuffer[RRow]]()
    rs.foreach(r => m.getOrElseUpdate(key(r), mutable.ArrayBuffer()) += r)
    m.iterator.map { case (k, v) => (k, v.toVector) }.toVector
  }

  /** The decision half of `process_1_record` (`text_processing.py:66-126`)
    * over the record's rows, already sorted in display order.
    *
    * Hierarchy: GROUP → ITEMS → COMMENTS → SUMMARY. Nested groupings are
    * first-occurrence ordered (pandas `groupby(sort=False)`); rows whose
    * SUMMARY equals `defaultText` are sub-grouped per COMMENT, all others
    * per SUMMARY; blocks re-order by first-seen item tuple; repeated item
    * headers are run-length suppressed.
    */
  private[etl] def blocks(defaultText: String, rows: Seq[RRow]): Vector[Block] =
    groupedBy(rows)(_.group).zipWithIndex.flatMap { case ((group, dfGroup), gi) =>
      val grpBlocks = groupedBy(dfGroup)(_.summary).flatMap { case (summary, dfSummary) =>
        // default-summary branch: one block per COMMENT
        // (`text_processing.py:86-93`); any other SUMMARY is one block
        // with its distinct comments in first-occurrence order
        // (`text_processing.py:94-101`).
        val parts =
          if (summary == defaultText) groupedBy(dfSummary)(_.comment).map(_._2)
          else Vector(dfSummary)
        parts.map(rs => Block(gi + 1, group.trim, 0, showHeader = false,
          uniqueItemNames(rs), rs.map(_.comment.trim).distinct, summary.trim,
          rs.head.rewritten))
      }

      // A8/O2 — blocks reorder by (first-seen item tuple, original index)
      // (`text_processing.py:103-110`); `sortBy` is stable.
      val ordered = grpBlocks.sortBy(b => grpBlocks.indexWhere(_.items == b.items))

      // W2 — run-length suppression of repeated item headers
      // (`text_processing.py:112-117`).
      ordered.zipWithIndex.map { case (b, i) =>
        b.copy(blockOrd = i + 1,
          showHeader = i == 0 || ordered(i - 1).items != b.items)
      }
    }

  /** The formatting half of `process_1_record`: GROUP (indent 0) → ITEMS
    * (4) → COMMENTS (8) → SUMMARY (12, with a trailing blank line), the
    * summary printing as its rewrite when it has one; X10/X11 — `、`
    * joins + indents. */
  private[etl] def render(blocks: Seq[Block]): String = {
    val lines = mutable.ArrayBuffer[String]()
    var lastGrp = 0
    blocks.foreach { block =>
      if (block.grpOrd != lastGrp) {
        lines += block.grp
        lastGrp = block.grpOrd
      }
      if (block.showHeader)
        lines += s"    ${block.items.mkString("、")}"
      if (block.comments.nonEmpty)
        lines += s"        ${block.comments.mkString("、")}"
      if (block.summary.nonEmpty)
        lines += s"            ${block.rewritten.getOrElse(block.summary)}\n"
    }
    lines.mkString("\n")
  }

  /** `process_1_record` (`text_processing.py:66-126`): the record's rows,
    * already sorted in display order, rendered under `lang`'s default
    * summary. */
  private[etl] def processOneRecord(lang: String, rows: Seq[RRow]): String =
    render(blocks(Schemas.LANG_DEFAULT_SUMMARY.getOrElse(lang, ""), rows))

  /** Catalog entry `p02_report_blocks`: the serializer's own [[blocks]]
    * decisions, one output row per block, so they sit under the DuckDB
    * hash gate ([[blocksOracleSql]]) and the block structure is queryable
    * without string assembly.
    *
    * Input frame columns: `record_id` (any type), `grp`, `item_code`,
    * `item_name`, `comment`, `summary` (strings), `ord` (long; the display
    * order, unique per row — the `_rid` analog). Rows group by record and
    * sort by `ord`; no rewrites apply. Output: one row per block,
    * `(record_id, grp_ord, grp, block_ord, show_header, items, comments,
    * summary)` — `record_id` keeps its input type, items and comments are
    * `、`-joined. */
  def reportBlocks(frame: DataFrame, defaultSummary: String): DataFrame = {
    val in = frame.select(Seq("record_id", "grp", "item_code", "item_name",
      "comment", "summary", "ord").map(col): _*)
    val idField = in.schema("record_id")
    val out = StructType(idField +: StructType.fromDDL("grp_ord bigint, " +
      "grp string, block_ord bigint, show_header boolean, items string, " +
      "comments string, summary string").fields)
    in.groupBy(col("record_id"))
      .as[Row, Row](Encoders.row(StructType(Seq(idField))), Encoders.row(in.schema))
      .flatMapGroups { (id: Row, it: Iterator[Row]) =>
        val rows = it.toVector.sortBy(_.getLong(6))
          .map(r => RRow(s(r, 1), s(r, 2), s(r, 3), s(r, 4), s(r, 5)))
        blocks(defaultSummary, rows).map(b => Row(id.get(0), b.grpOrd.toLong,
          b.grp, b.blockOrd.toLong, b.showHeader, b.items.mkString("、"),
          b.comments.mkString("、"), b.summary))
      }(Encoders.row(out))
  }

  /** The `p02_report_blocks` input: a synthetic hierarchy frame derived
    * from the harness `documents` table (docs bucket into records; `lang`
    * plays the group so groups interleave; every third row carries the
    * default summary to exercise the per-comment branch). Mirrored
    * literally by [[blocksOracleSql]]. */
  def blocksInput(docs: DataFrame): DataFrame = docs.select(
    (col("doc_id") % 40).as("record_id"),
    col("lang").as("grp"),
    col("source").as("item_code"),
    upper(col("source")).as("item_name"),
    concat(lit("c"), (col("doc_id") % 7).cast("string")).as("comment"),
    when(col("doc_id") % 3 === 0, lit(BlocksDefault))
      .otherwise(concat(lit("s"), (col("doc_id") % 5).cast("string"))).as("summary"),
    col("doc_id").as("ord"))

  val BlocksDefault = "-"

  /** DuckDB replay of [[blocksInput]] → [[reportBlocks]]: the reference
    * implementation the p02 oracle compares [[blocks]] against, written
    * as a window/aggregate plan, one block per output row.
    *
    * Decision mapping (reference `text_processing.py:66-126`):
    *  - pandas `groupby(sort=False)` = "first occurrence wins" = `min(ord)`
    *    windows per (grp), (grp, summary), (grp, summary, comment);
    *  - the default-summary branch blocks per COMMENT, others per
    *    SUMMARY: `blk_first`/`blk2` switch on `summary = default`;
    *  - per-block item names: first occurrence keyed by TRIMMED code
    *    (`uniqueItemNames`) = min-ord per code + `min_by` name, reheaded
    *    in code-first order;
    *  - per-block comments: trimmed-distinct in first-occurrence order
    *    (the default branch's single comment falls out of the same
    *    aggregate, since its block key pins the comment);
    *  - reorder = `row_number` over (first_seen(items), original index);
    *    suppression = `lag(items)` inequality. Item tuples compare by
    *    their `、`-joined header string, so a `、` inside an item name can
    *    collide with a two-item tuple where [[blocks]] compares vectors;
    *    the p02 input's item names (`SRC0`–`SRC19`) contain none. */
  def blocksOracleSql: String =
    s"""WITH src AS (
       |  SELECT doc_id % 40 AS record_id, lang AS grp, source AS item_code,
       |    upper(source) AS item_name,
       |    'c' || CAST(doc_id % 7 AS VARCHAR) AS comment,
       |    CASE WHEN doc_id % 3 = 0 THEN '$BlocksDefault'
       |         ELSE 's' || CAST(doc_id % 5 AS VARCHAR) END AS summary,
       |    doc_id AS ord
       |  FROM documents),
       |b1 AS (
       |  SELECT *, summary = '$BlocksDefault' AS is_def,
       |    min(ord) OVER (PARTITION BY record_id, grp) AS g_first,
       |    min(ord) OVER (PARTITION BY record_id, grp, summary) AS s_first,
       |    min(ord) OVER (PARTITION BY record_id, grp, summary, comment) AS c_first
       |  FROM src),
       |b2 AS (
       |  SELECT *, CASE WHEN is_def THEN c_first ELSE s_first END AS blk_first,
       |    CASE WHEN is_def THEN comment ELSE '' END AS blk2
       |  FROM b1),
       |i0 AS (
       |  SELECT record_id, grp, summary, blk2, g_first, s_first, blk_first,
       |    trim(item_code) AS code, min(ord) AS code_first,
       |    min_by(trim(item_name), ord) AS name
       |  FROM b2 GROUP BY 1, 2, 3, 4, 5, 6, 7, 8),
       |i1 AS (
       |  SELECT record_id, grp, summary, blk2, g_first, s_first, blk_first,
       |    list(name ORDER BY code_first) AS item_names
       |  FROM i0 GROUP BY 1, 2, 3, 4, 5, 6, 7),
       |c0 AS (
       |  SELECT record_id, grp, summary, blk2, g_first, s_first, blk_first,
       |    trim(comment) AS cmt, min(ord) AS cmt_first
       |  FROM b2 GROUP BY 1, 2, 3, 4, 5, 6, 7, 8),
       |c1 AS (
       |  SELECT record_id, grp, summary, blk2, g_first, s_first, blk_first,
       |    list(cmt ORDER BY cmt_first) AS comment_list
       |  FROM c0 GROUP BY 1, 2, 3, 4, 5, 6, 7),
       |e0 AS (
       |  SELECT i1.*, c1.comment_list,
       |    row_number() OVER (PARTITION BY i1.record_id, i1.grp
       |      ORDER BY i1.s_first, i1.blk_first) AS blk_idx,
       |    array_to_string(i1.item_names, '、') AS items_key
       |  FROM i1 JOIN c1 USING (record_id, grp, summary, blk2, g_first, s_first, blk_first)),
       |e1 AS (
       |  SELECT *, min(blk_idx) OVER (PARTITION BY record_id, grp, items_key) AS first_seen
       |  FROM e0),
       |e2 AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY record_id, grp ORDER BY first_seen, blk_idx) AS block_ord,
       |    lag(items_key) OVER (PARTITION BY record_id, grp ORDER BY first_seen, blk_idx) AS prev_key
       |  FROM e1)
       |SELECT record_id,
       |  dense_rank() OVER (PARTITION BY record_id ORDER BY g_first) AS grp_ord,
       |  trim(grp) AS grp, block_ord,
       |  (prev_key IS NULL OR prev_key <> items_key) AS show_header,
       |  items_key AS items,
       |  array_to_string(comment_list, '、') AS comments,
       |  trim(summary) AS summary
       |FROM e2""".stripMargin

  /** Assemble reports: cleaned frame → one `(record_id, report, request)`
    * row per record, in request order (`text_processing.py:33-62`), with
    * the LLM rewrites applied as a BROADCAST LEFT JOIN — the X12 lookup
    * `summary_translated.get(summary, summary)` (`text_processing.py:124`)
    * without any driver hop, so the rewrite set only has to fit a
    * broadcast (past that a shuffle join is the next rung, not a driver
    * map).
    *
    * Join key = [[Llm.rewriteKey]], the key the rewrite pairs were built
    * from (the per-language SUMMARY trimmed here, as [[Llm.rewritePairs]]
    * trims it); a row with no match prints its own trimmed summary.
    *
    * Documented divergences from the reference:
    *  - a record whose findings are ALL filtered out (empty ITEMS, or
    *    every COMMENT blank) makes the reference crash with a KeyError
    *    at `text_processing.py:39` (`get_group` on a missing key) → the
    *    whole request 500s; here the record is simply absent from the
    *    output — graceful degradation over crash replication;
    *  - duplicate RECORD_IDs across records emit one output row per
    *    distinct id (first request echoed), not one per request entry;
    *  - an unknown LANG_NO (not "1"–"4") makes the reference crash with
    *    a KeyError at `text_processing.py:36` (`LANGU_SUBSET[langu_no]`)
    *    → the whole request 500s; here the record renders with the
    *    language-1 (TC) columns and defaults — again graceful
    *    degradation, pinned by `GoldenPipelineSpec`'s unknown-language
    *    case;
    *  - a dim with a duplicate key fans one finding out into several rows
    *    with the same `_rid`. The reference orders those rows as Mongo's
    *    `find()` returns them, which is unspecified; here they order by
    *    row content ([[Clean.ContentOrder]]), so the report never depends
    *    on shuffle arrival or partition count.
    *
    * @param cleaned output of [[Clean.cleanRows]] (22 columns + `_rid`, in
    *                any row order)
    * @param echo    output of [[Ingest.requestEcho]]
    * @param rewrite output of [[Llm.rewriteFrame]]:
    *                `(_rw_lang, _rw_orig, _rw_text)`
    */
  def reportJoined(cleaned: DataFrame, echo: DataFrame,
                   rewrite: DataFrame): DataFrame = {
    val (lang, summary) = Llm.rewriteKey
    val joined = cleaned
      .join(broadcast(rewrite),
        lang === col("_rw_lang") && trim(summary) === col("_rw_orig"), "left")
      .drop("_rw_lang", "_rw_orig")
      .withColumnRenamed("_rw_text", "_summary_rw")
    assemble(joined, echo)
  }

  /** Serializer core: groups the joined frame by RECORD_ID and runs
    * [[processOneRecord]] per record, each row's rewrite riding in-row in
    * `_summary_rw`. */
  private def assemble(frame: DataFrame, echo: DataFrame): DataFrame = {
    val spark = frame.sparkSession
    import spark.implicits._

    val schema = frame.schema
    val idx = schema.fieldNames.zipWithIndex.toMap
    val recordIdIdx = idx("RECORD_ID")
    val langIdx = idx("LANG_NO")
    val groupNoIdx = idx("GROUPNO")
    val tcItemIdx = idx("TCNAME_ITEM")
    val itemCodeIdx = idx("ITEM_CODE")
    val ridIdx = idx("_rid")
    val rwIdx = idx("_summary_rw")
    val tieIdx = Clean.ContentOrder.map(idx)
    // per-language column positions for GROUP / ITEM_NAME / COMMENT / SUMMARY
    val langCols: Map[String, (Int, Int, Int, Int)] =
      Schemas.LANG_SUBSET.map { case (lang, cols) =>
        lang -> ((idx(cols(3)), idx(cols(5)), idx(cols(6)), idx(cols(7))))
      }

    // Display order within the record (`data_preprocessing.py:75` +
    // ingest-ordinal stability): GROUPNO, TCNAME_ITEM, _rid, then the row
    // content for rows fanned out of one finding (Clean.ContentOrder).
    val displayOrder = Ordering.by { (r: Row) =>
      val rid = r.getStruct(ridIdx)
      (if (r.isNullAt(groupNoIdx)) Int.MaxValue else r.getInt(groupNoIdx),
        s(r, tcItemIdx),
        (rid.getLong(0), rid.getInt(1), rid.getInt(2), rid.getInt(3)))
    }.orElseBy(r => tieIdx.map(s(r, _)))(Ordering.Implicits.seqOrdering)

    val reports = frame
      .groupByKey(r => if (r.isNullAt(recordIdIdx)) "" else String.valueOf(r.get(recordIdIdx)))
      .mapGroups { (recordId, it) =>
        val rows = it.toVector.sorted(displayOrder)
        val lang = s(rows.head, langIdx).trim
        val (gi, ii, ci, si) = langCols.getOrElse(lang, langCols("1"))
        val rrows = rows.map(r =>
          RRow(s(r, gi), s(r, itemCodeIdx), s(r, ii), s(r, ci), s(r, si),
            if (r.isNullAt(rwIdx)) None else Some(r.getString(rwIdx))))
        (recordId, processOneRecord(lang, rrows))
      }
      .toDF("record_id", "report")

    reports
      .join(echo.withColumnRenamed("RECORD_ID", "record_id"), Seq("record_id"))
      .orderBy(col("_rec_ord"))
      .select(col("record_id"), col("report"), col("_request_json").as("request"))
  }
}
