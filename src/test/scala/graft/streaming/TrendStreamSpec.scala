package graft.streaming

import graft.etl.TestSpark
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The streaming spend aggregate, ranked with the shared read-out, must
  * equal the e11 batch trending query row-for-row — per-(day, user)
  * decimal sums are associative, so micro-batching cannot move the
  * totals, and the rank is the same window on both sides. */
class TrendStreamSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  test("availableNow streaming spend + rank read-out equals batch e11") {
    val streamed = TrendStream.runAvailableNow(spark, sf, "trend_stream_sink")
    val rankedStream = graft.ops.Events.rankTopK(streamed, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    val batch = graft.SparkEntry.queries("e11_trending_topk")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toSet
    assert(rankedStream == batch,
      s"missing=${(batch -- rankedStream).take(3)} " +
        s"extra=${(rankedStream -- batch).take(3)}")
  }
}
