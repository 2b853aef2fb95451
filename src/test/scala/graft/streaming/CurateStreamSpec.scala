package graft.streaming

import graft.etl.TestSpark
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Streaming curation ≡ batch curation on the same static input — the
  * cleaning operators are one code path whether fed a frame or a
  * stream, and the stream-static broadcast join delivers the same
  * per-language gates micro-batch after micro-batch. */
class CurateStreamSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  test("availableNow curation stream matches the batch transform") {
    import spark.implicits._
    val thresholds = Seq(("en", 30L), ("de", 20L), ("fr", 20L),
      ("es", 20L), ("zh", 10L)).toDF("lang", "min_words")

    val streamed = CurateStream.runAvailableNow(spark, sf, thresholds, "curate_sink")
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet

    val batch = CurateStream.curated(
        spark.read.schema(Drain.DocumentsSchema).parquet(s"$sf/documents.parquet"),
        thresholds)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet

    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // the gate actually gates: some docs fall below their language bar
    val total = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(streamed.size < total, "expected the quality gate to drop some docs")
  }
}
