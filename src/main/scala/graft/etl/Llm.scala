package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import java.util.concurrent.{Callable, Executors, TimeUnit}

/** The LLM summary-rewrite operator — the reference's one black-box scalar
  * function (`llm_processing.py`), re-shaped for Spark.
  *
  * NOT a per-row UDF (that would re-call the endpoint once per fact row and
  * lose batching): the correct distributed shape is
  * `distinct summaries → mapPartitions (bounded-concurrency client per
  * partition) → rewrite DataFrame → broadcast join back`.
  * The deterministic mock client is the default, making the whole operator
  * a pure function — tests and offline runs are hermetic, exactly like the
  * reference's mock mode (`llm_processing.py:102-107,157-159`).
  */
object Llm {

  /** Pluggable completion backend. Implementations must be serializable —
    * one instance is used per executor partition. */
  trait RewriteClient extends Serializable {
    /** Rewrite one suggestion; may throw (retries handled by the caller). */
    def rewrite(langNo: String, text: String): String
  }

  /** Offline mock (`llm_processing.py:157-159`): `"[LLM_OUTPUT]" + text`. */
  object MockClient extends RewriteClient {
    def rewrite(langNo: String, text: String): String = s"[LLM_OUTPUT]$text"
  }

  /** Retry/backoff policy port (`llm_processing.py:161-205`): ≤
    * [[MaxRetries]] attempts; rate-limit detected by 'rate_limit'/'429'
    * substring; wait parsed from "try again in Ns" else exponential
    * `base·2^attempt`; on exhaustion or any non-rate-limit error the
    * input is returned unchanged (graceful degradation). */
  def withRetry(client: RewriteClient, baseDelaySec: Double = 1.0)
      (langNo: String, text: String): String = {
    val tryAgain = "try again in ([\\d.]+)s".r
    var attempt = 0
    while (attempt < MaxRetries) {
      try {
        return client.rewrite(langNo, text)
      } catch {
        case e: Exception =>
          val msg = Option(e.getMessage).getOrElse("").toLowerCase
          val isRateLimit = msg.contains("rate_limit") || msg.contains("429")
          if (!isRateLimit) return text
          val wait = tryAgain.findFirstMatchIn(msg)
            .map(_.group(1).toDouble + 0.1)
            .getOrElse(baseDelaySec * math.pow(2, attempt))
          Thread.sleep((wait * 1000).toLong)
          if (attempt == MaxRetries - 1) return text
      }
      attempt += 1
    }
    text
  }

  /** Client threads per partition: the reference's
    * `ThreadPoolExecutor(max_workers=3)` (`llm_processing.py:80,131`). */
  private val MaxWorkers = 3

  /** Client attempts per summary: the reference's ≤ 3 attempts
    * (`llm_processing.py:161-205`). */
  private val MaxRetries = 3

  /** Distributed rewrite: distinct non-empty trimmed summaries →
    * `(summary, rewritten)` pairs.
    *
    * Per-language default sentences map to themselves without a call
    * (`llm_processing.py:135-137`); empty strings are dropped
    * (`text_processing.py:75`). Within each partition a pool of
    * [[MaxWorkers]] threads drives the client concurrently, so total
    * in-flight requests = partitions × [[MaxWorkers]], tunable by
    * repartitioning the distinct set.
    */
  def rewritePairs(summaries: Dataset[(String, String)],
                   client: RewriteClient = MockClient): Dataset[(String, String, String)] = {
    val spark = summaries.sparkSession
    import spark.implicits._
    summaries
      .map { case (lang, s) => (lang, s.trim) }
      .filter(_._2.nonEmpty)
      .distinct()
      .mapPartitions { it =>
        val batch = it.toVector
        val (defaults, toCall) =
          batch.partition { case (_, s) => Schemas.LANG_DEFAULT_TEXTS.contains(s) }
        val called =
          if (toCall.isEmpty) Vector.empty
          else {
            val pool = Executors.newFixedThreadPool(MaxWorkers)
            try {
              val futures = toCall.map { case (lang, s) =>
                (lang, s, pool.submit(new Callable[String] {
                  def call(): String = withRetry(client)(lang, s)
                }))
              }
              futures.map { case (lang, s, f) => (lang, s, f.get()) }
            } finally {
              pool.shutdown()
              pool.awaitTermination(1, TimeUnit.MINUTES)
            }
          }
        (defaults.map { case (l, s) => (l, s, s) } ++ called).iterator
      }
  }

  /** A cleaned row's rewrite key: (trimmed LANG_NO, the SUMMARY column of
    * the row's language — `text_processing.py:15-20` position 7 — or null
    * for an unknown language). One CASE over LANG_NO rather than one
    * filtered pass per language, so the pair scan reads the cleaned frame
    * once. [[summaryPairs]] and [[Report.reportJoined]]'s join both key on
    * it, which is what makes the join find every rewrite. */
  private[etl] def rewriteKey: (Column, Column) = {
    val lang = trim(col("LANG_NO").cast("string"))
    val summary = Schemas.LANG_SUBSET.foldLeft(lit(null).cast("string")) {
      case (acc, (l, cols)) => when(lang === l, col(cols(7)).cast("string")).otherwise(acc)
    }
    (lang, summary)
  }

  /** The `(langNo, summary)` pairs the report stage will look up. */
  private def summaryPairs(cleaned: DataFrame): Dataset[(String, String)] = {
    val spark = cleaned.sparkSession
    import spark.implicits._
    val (lang, summary) = rewriteKey
    cleaned
      .select(lang.as("_1"), summary.as("_2"))
      .filter(col("_2").isNotNull)
      .as[(String, String)]
  }

  /** The rewrite pairs as a DATAFRAME `(_rw_lang, _rw_orig, _rw_text)`,
    * for [[Report.reportJoined]]'s broadcast left join — no driver
    * collect, the rewritten texts flow executor-to-executor through the
    * broadcast exchange. Distinct on `(_rw_lang, _rw_orig)` by
    * [[rewritePairs]] construction, so the left join is at-most-one-match. */
  def rewriteFrame(cleaned: DataFrame, client: RewriteClient = MockClient): DataFrame =
    rewritePairs(summaryPairs(cleaned), client)
      .toDF("_rw_lang", "_rw_orig", "_rw_text")
}
