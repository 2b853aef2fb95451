package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

import java.io.{File, PrintWriter}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** Engine-layer counters: jobs, completed stages, tasks, executor run time,
  * GC time and shuffle bytes written, summed over every event the
  * scheduler posts. Registered by the benchmark on its own session. */
final class Counters extends SparkListener {
  private val v = Array.fill(6)(new AtomicLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = v(0).incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = v(1).incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    v(2).incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      v(3).addAndGet(m.executorRunTime)
      v(4).addAndGet(m.jvmGCTime)
      v(5).addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  /** Current totals, after the listener bus has delivered every queued
    * event (task-end events trail the action that caused them). */
  def snap(sc: SparkContext): Snap = {
    org.apache.spark.BenchBus.drain(sc)
    Snap(v.map(_.get))
  }
}

final case class Snap(v: Array[Long]) {
  def -(o: Snap): Snap = Snap(v.zip(o.v).map { case (a, b) => a - b })
  def jobs: Long = v(0)
  def stages: Long = v(1)
  def tasks: Long = v(2)
  def runMs: Long = v(3)
  def gcMs: Long = v(4)
  def shuffleBytes: Long = v(5)

  def put(n: ObjectNode): ObjectNode = {
    n.put("jobs", jobs).put("stages", stages).put("tasks", tasks)
    n.put("run_ms", runMs).put("gc_ms", gcMs).put("shuffle_bytes", shuffleBytes)
  }
}

/** One timed call into a layer. */
final case class Span(name: String, op: Int, parent: String, startNs: Long,
                      endNs: Long, counters: Snap, rowsIn: Long, rowsOut: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Records spans in memory (name, start, end, parent, operation id, the
  * listener counts over the call) and writes them out once, at the end. */
final class Tracer(sc: SparkContext, counters: Counters) {
  private val t0 = System.nanoTime()
  private val stack = ArrayBuffer[String]()
  val spans = ArrayBuffer[Span]()

  /** Time `body`, which returns its result with the rows it read and
    * wrote. Child spans opened inside see this span as their parent. */
  def span[T](name: String, op: Int)(body: => (T, Long, Long)): T = {
    val parent = stack.lastOption.getOrElse("")
    val c0 = counters.snap(sc)
    val s = System.nanoTime()
    stack += name
    val (out, in, rows) = try body finally stack.remove(stack.length - 1)
    val e = System.nanoTime()
    spans += Span(name, op, parent, s - t0, e - t0, counters.snap(sc) - c0, in, rows)
    out
  }

  def write(path: String): Unit = {
    val mapper = new ObjectMapper()
    val w = new PrintWriter(new File(path), StandardCharsets.UTF_8)
    try spans.foreach { s =>
      val n = mapper.createObjectNode()
      n.put("name", s.name).put("op", s.op).put("parent", s.parent)
      n.put("start_ns", s.startNs).put("end_ns", s.endNs)
      n.put("rows_in", s.rowsIn).put("rows_out", s.rowsOut)
      s.counters.put(n)
      w.println(mapper.writeValueAsString(n))
    } finally w.close()
  }
}

/** How a traced stage's output is materialized before the next stage
  * reads it. */
trait Materializer {
  def apply(df: DataFrame): (DataFrame, Long)
  def release(): Unit = ()
}

/** Driver-sized outputs (one request): collect and rebuild a local frame,
  * the same cut [[graft.etl.Pipeline]] makes on the request path. */
object Localize extends Materializer {
  def apply(df: DataFrame): (DataFrame, Long) = {
    val rows = df.collect()
    (df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema),
      rows.length.toLong)
  }
}

/** Corpus-sized outputs: persist and count, unpersisted by [[release]]. */
final class Persist extends Materializer {
  private val held = ArrayBuffer[DataFrame]()
  def apply(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    held += p
    (p, p.count())
  }
  override def release(): Unit = { held.foreach(_.unpersist(blocking = true)); held.clear() }
}
