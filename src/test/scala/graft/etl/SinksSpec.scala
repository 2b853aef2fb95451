package graft.etl

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.time.LocalDateTime

/** S7/S8/X13 sink parity (`text_processing.py:60,157-174`). */
class SinksSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session

  test("timestamped name matches the reference strftime format") {
    val now = LocalDateTime.of(2026, 8, 12, 6, 30)
    assert(Sinks.timestampedName("df_preprocessed_", ".csv", now) ==
      "df_preprocessed_260812_0630.csv")
  }

  test("csv sink round-trips with header; singleFile yields one part") {
    import spark.implicits._
    val df = Seq(("R1", "report a"), ("R2", "report b")).toDF("record_id", "report")
    val dir = Files.createTempDirectory("graft_csv").toString + "/out"
    Sinks.writeCsv(df.repartition(3), dir)
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
    assert(parts.length == 1, "the csv sink must produce exactly one csv part")
    val back = spark.read.option("header", "true").csv(dir)
    assert(back.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("R1", "report a"), ("R2", "report b")))
  }

  /** Two records, items listed out of display order, a duplicate
    * finding, full-width text and a space-padded comment, so the CSV's
    * row order and values are worth pinning. */
  private val persistBody =
    """[{"RECORD_ID": "R2", "LANG_NO": "2", "ORG_ID": "O1", "ITEMS": [
      |  {"ITEM_CODE": "I9", "FINDINGS": [{"DIAG_CODE": "D1", "COMMENT": "late（ x ）", "SUMMARY_CODE": "S"}]},
      |  {"ITEM_CODE": "I1", "FINDINGS": [{"DIAG_CODE": "D2", "COMMENT": "early", "SUMMARY_CODE": "S"},
      |                                   {"DIAG_CODE": "D2", "COMMENT": "early", "SUMMARY_CODE": "S"}]}]},
      | {"RECORD_ID": "R1", "LANG_NO": "1", "ORG_ID": "O1", "ITEMS": [
      |  {"ITEM_CODE": "I5", "FINDINGS": [{"DIAG_CODE": "D3", "COMMENT": " 範例 B ", "SUMMARY_CODE": "S"}]}]}]""".stripMargin

  private def strings(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[String]] =
    rows.toSeq.map(_.toSeq.map(v => if (v == null) "" else v.toString))

  test("runAndPersist writes both CSV intermediates and returns the report") {
    val dir = Files.createTempDirectory("graft_ep1").toString
    val out = Pipeline.runAndPersist(spark, persistBody, dir)
    val written = new java.io.File(dir).listFiles().map(_.getName).sorted
    def csvBack(prefix: String) = spark.read.option("header", "true")
      .option("multiLine", "true")
      .csv(s"$dir/${written.find(_.startsWith(prefix)).getOrElse(fail(written.mkString(",")))}")

    // df_result_*: exactly the rows Pipeline.run returns for the body
    val expected = Pipeline.run(spark, persistBody)
    assert(out.collect().toSeq == expected.collect().toSeq)
    val resultBack = csvBack("df_result_")
    assert(resultBack.columns.toSeq == Seq("record_id", "report", "request"))
    assert(strings(resultBack.collect()) == strings(expected.collect()))

    // df_preprocessed_*: the cleaned rows, without _rid, in display order
    val fact = Ingest.flatten(Ingest.parseBody(spark, persistBody))
    val cleaned = Clean.clean(Enrich.enrich(fact, Dims.fallback(fact).restrictedTo(fact)))
      .drop("_rid")
    val cleanedBack = csvBack("df_preprocessed_")
    assert(cleanedBack.columns.toSeq == cleaned.columns.toSeq)
    val cleanedRows = strings(cleaned.collect())
    assert(cleanedRows.map(_.head) == Seq("R1", "R2", "R2"), "display order: RECORD_ID first")
    assert(strings(cleanedBack.collect()) == cleanedRows)
  }

  test("sharded JSONL report sink bounds shard size and round-trips") {
    import spark.implicits._
    val df = (1 to 10)
      .map(i => (s"R$i", s"report line\nwith 縮排 $i", s"""{"RECORD_ID": "R$i"}"""))
      .toDF("record_id", "report", "request")
      .repartition(1) // single task → file rolling is purely maxRecordsPerFile
    val dir = Files.createTempDirectory("graft_jsonl").toString + "/reports"
    Sinks.writeReportJsonl(df, dir, maxRecordsPerFile = 3L)
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
    assert(parts.length >= 4, s"10 rows at 3/file must roll ≥4 shards, got ${parts.length}")
    val back = Sinks.readReportJsonl(spark, dir)
    assert(back.schema === Sinks.reportSchema)
    // Sorted-sequence compare, not Set: a file-rolling sink's failure
    // mode is duplicating or dropping rows with identical content.
    assert(back.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq ==
      df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .sortBy(_._1).toSeq)
    assert(back.count() == df.count())
  }

  test("runDistributed output round-trips through the JSONL sink") {
    import spark.implicits._
    val out = Pipeline.runDistributed(
      Ingest.parseBodies(spark.createDataset(Seq(Pipeline.SampleRequest))))
    val dir = Files.createTempDirectory("graft_jsonl_ep1").toString + "/reports"
    Sinks.writeReportJsonl(out, dir)
    val back = Sinks.readReportJsonl(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
    val direct = out.collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
    assert(back == direct && back.nonEmpty)
  }
}
