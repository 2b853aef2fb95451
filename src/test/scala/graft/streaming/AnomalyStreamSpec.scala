package graft.streaming

import graft.etl.TestSpark
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The streaming hourly cube, scored with the shared read-out, must
  * equal the e14 batch anomaly query row-for-row — per-(hour, type)
  * integer counts are associative, so micro-batching cannot move them,
  * and the trailing z-window is the same code on both sides. */
class AnomalyStreamSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session
  val sf = "/root/testdata/sf0.001"

  test("availableNow streaming counts + z read-out equals batch e14") {
    val streamed = AnomalyStream.runAvailableNow(spark, sf, "anomaly_stream_sink")
    val scoredStream = graft.ops.Events.anomalyReadout(streamed).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    val batch = graft.SparkEntry.queries("e14_hourly_anomaly")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(scoredStream == batch,
      s"missing=${(batch -- scoredStream).take(3)} " +
        s"extra=${(scoredStream -- batch).take(3)}")
    assert(batch.nonEmpty, "e14 empty at this SF — vacuous parity")
  }
}
