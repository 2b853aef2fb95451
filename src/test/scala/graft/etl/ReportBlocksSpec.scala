package graft.etl

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the relational decision layer ([[Report.reportBlocks]], query
  * p02) to the sequential serializer ([[Report.processOneRecord]]):
  * assembling the block rows with the serializer's formatting rules must
  * reproduce its text byte-for-byte, on inputs crafted to trip every
  * decision — interleaved groups, the default-summary per-comment
  * branch, duplicate item tuples split by an interloper (block reorder),
  * adjacent equal headers (run-length suppression), and repeated
  * comments under one summary (trimmed-distinct, first occurrence).
  */
class ReportBlocksSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.session

  private val Default = "(none)"

  // (grp, item_code, item_name, comment, summary) in display order
  private val crafted: Seq[(String, String, String, String, String)] = Seq(
    // group G1: two summaries sharing an item tuple, split by another
    // tuple, so the third block reorders up next to the first
    ("G1", "A", "Alpha", "c one", "s1"),
    ("G1", "B", "Beta", "c one", "s1"),   // block 1: items [Alpha,Beta]
    ("G1", "C", "Gamma", "c two", "s2"),  // block 2: items [Gamma]
    ("G1", "A", "Alpha", "c three", "s3"),
    ("G1", "B", "Beta", "c three", "s3"), // block 3: items [Alpha,Beta] → reorders after block 1, header suppressed
    // default-summary rows: one block PER COMMENT, not per summary
    ("G1", "A", "Alpha", "c four", Default),
    ("G1", "A", "Alpha", "c five", Default),
    // group G2 interleaves below (same grp value continues G1's rows
    // when non-contiguous — pandas groupby keeps frame order)
    ("G2", "D", "Delta", "c six", "s4"),
    ("G1", "C", "Gamma", "c two", "s2"),  // back into G1, duplicate comment
    ("G2", "D", "Delta", " c six ", "s4"), // trims to an already-seen comment
    ("G2", "E ", " Epsilon", "c seven", "s4")) // code/name need trimming

  private def frame = {
    import spark.implicits._
    crafted.zipWithIndex.map { case ((g, ic, in, c, s), i) =>
      ("R1", g, ic, in, c, s, i.toLong)
    }.toDF("record_id", "grp", "item_code", "item_name", "comment", "summary", "ord")
  }

  /** The serializer's formatting rules applied to block rows. */
  private def assemble(blocks: Seq[Row]): String = {
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    blocks.sortBy(r => (r.getLong(1), r.getLong(3))) // (grp_ord, block_ord)
      .foldLeft(0L) { (lastGrp, r) =>
        if (r.getLong(1) != lastGrp) lines += r.getString(2)
        if (r.getBoolean(4)) lines += s"    ${r.getString(5)}"
        if (r.getString(6).nonEmpty) lines += s"        ${r.getString(6)}"
        if (r.getString(7).nonEmpty) lines += s"            ${r.getString(7)}\n"
        r.getLong(1)
      }
    lines.mkString("\n")
  }

  test("relational blocks reassemble to the sequential serializer's text") {
    // no rewrites (each summary prints as it is) + lang chosen so the
    // default summary matches:
    // processOneRecord reads the default from LANG_DEFAULT_SUMMARY, so
    // drive it through a language whose default we override via rows —
    // simplest: pass a lang with NO default ("" default) and make the
    // crafted Default a normal summary... instead compare with the same
    // default on both sides by calling processOneRecord with a lang
    // whose default equals Default via the table below.
    val lang = Schemas.LANG_DEFAULT_SUMMARY.collectFirst {
      case (l, d) if d.nonEmpty => l }.get
    val default = Schemas.LANG_DEFAULT_SUMMARY(lang)
    val craftedForLang = crafted.map { case t @ (g, ic, in, c, s) =>
      if (s == Default) (g, ic, in, c, default) else t }
    val seqText = Report.processOneRecord(lang,
      craftedForLang.map { case (g, ic, in, c, s) => Report.RRow(g, ic, in, c, s) })
    import spark.implicits._
    val df = craftedForLang.zipWithIndex.map { case ((g, ic, in, c, s), i) =>
      ("R1", g, ic, in, c, s, i.toLong)
    }.toDF("record_id", "grp", "item_code", "item_name", "comment", "summary", "ord")
    val blocks = Report.reportBlocks(df, default).collect().toSeq
    assert(assemble(blocks) == seqText,
      s"relational assembly diverged:\n--- blocks ---\n${assemble(blocks)}\n--- sequential ---\n$seqText")
  }

  test("block rows are invariant under input repartitioning") {
    val a = Report.reportBlocks(frame, Default).collect().map(_.toString).sorted.toSeq
    val b = Report.reportBlocks(frame.repartition(5), Default)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
  }

  test("decision semantics: reorder, suppression, default branch") {
    val rows = Report.reportBlocks(frame, Default).collect()
      .sortBy(r => (r.getLong(1), r.getLong(3)))
    val g1 = rows.filter(_.getString(2) == "G1")
    // G1 blocks: [Alpha、Beta s1][Alpha、Beta s3 — reordered up][Gamma s2]
    // [Alpha c-four default][Alpha c-five default]
    assert(g1.map(_.getString(5)).toSeq == Seq(
      "Alpha、Beta", "Alpha、Beta", "Gamma", "Alpha", "Alpha"))
    assert(g1.map(_.getBoolean(4)).toSeq == Seq(true, false, true, true, false),
      "second and fifth headers must be run-length suppressed")
    // the default-summary rows produced one block per comment
    assert(g1.count(_.getString(7) == Default) == 2)
    // repeated comment "c two" under s2 collapsed (trimmed-distinct)
    assert(g1.find(_.getString(7) == "s2").get.getString(6) == "c two")
    // G2: " c six " trims into the seen "c six"; one block for s4
    val g2 = rows.filter(_.getString(2) == "G2")
    assert(g2.length == 1 && g2.head.getString(6) == "c six、c seven")
    assert(g2.head.getString(5) == "Delta、Epsilon")
  }
}
