package graft.streaming

import graft.ops.Sketches
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming sketch monitoring (engine extension, SURVEY.md
  * §2.9/§7.5): the portable sketches of [[graft.ops.Sketches]] —
  * cardinality (HLL), frequency (CMS), sliding cardinality (per-hour
  * HLL) and join size (AMS) — maintained incrementally over a stream.
  *
  * Works because each register table IS a streaming-friendly
  * aggregate: `max` or `sum` per cell is associative and commutative,
  * so the state store stays register-sized forever and every
  * micro-batch folds in mergeably. The same [[graft.ops.Sketches]]
  * column expressions run unchanged; only the groupBy executes under
  * the streaming state manager, in complete mode (the register table
  * is the whole bounded state). `SketchStreamSpec` asserts the
  * availableNow registers (and therefore the read-outs) are
  * bit-identical to the batch sketch of the same input.
  */
object SketchStream {
  /** Run the HLL stream to completion over a documents directory,
    * returning the final register table from the in-memory sink. */
  def runAvailableNow(spark: SparkSession, dir: String,
                      sinkTable: String): DataFrame =
    Drain.toMemory(Sketches.hllRegisters(Drain.read(spark, dir,
      Drain.DocumentsSchema, "documents.parquet"), "doc_id"),
      "complete", sinkTable)

  /** Run the CMS stream to completion over a documents directory,
    * returning the final cell table from the in-memory sink; probe it
    * with [[graft.ops.Sketches.cmsProbe]]. */
  def runCmsAvailableNow(spark: SparkSession, dir: String,
                         sinkTable: String): DataFrame =
    Drain.toMemory(Sketches.cmsCells(Drain.read(spark, dir,
      Drain.DocumentsSchema, "documents.parquet"), "text"),
      "complete", sinkTable)

  /** Run the sliding-HLL register stream to completion over an events
    * directory and return the x12 readout over the sink's registers:
    * the registers are the stream's state contract, the readout is a
    * register-sized batch step over them. */
  def runSlidingHllAvailableNow(spark: SparkSession, dir: String,
                                sinkTable: String): DataFrame =
    Sketches.hllSlidingReadout(Drain.toMemory(Sketches.hourlyHllRegisters(
      EventStream.readEvents(spark, dir), "ts", "user_id"),
      "complete", sinkTable))

  /** Run the AMS stream to completion over an events directory,
    * returning the final sketch row from the in-memory sink. */
  def runAmsAvailableNow(spark: SparkSession, dir: String,
                         sinkTable: String): DataFrame =
    Drain.toMemory(Sketches.amsZ(EventStream.readEvents(spark, dir),
      "user_id"), "complete", sinkTable)
}
