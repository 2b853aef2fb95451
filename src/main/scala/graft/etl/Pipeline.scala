package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end pipeline composition — the reference's `POST /process`
  * (`text_processing.py:144-177`): ingest → dim enrichment → clean → LLM
  * summary rewrite → hierarchical report.
  *
  * The stages are composed in exactly one place, the private [[chain]]:
  * [[Ingest.flatten]] → [[Dims.fallback]] / [[Dims.restrictedTo]] →
  * [[Enrich.enrich]] → [[Clean.cleanRows]] → [[Llm.rewriteFrame]] →
  * [[Report.reportJoined]]. Every entry point runs that chain, lazily
  * ([[runDistributed]]) or eagerly ([[runRecords]], [[run]],
  * [[runAndPersist]]).
  *
  * Unlike the reference's materialize-after-every-step pandas flow, the
  * whole chain up to the report serializer is one lazy Catalyst plan: four
  * broadcast joins, codegen'd string normalization and one hash-partition
  * exchange for the keep-first dedup window. Rows are put in order once, at
  * the edge: the report by its final `_rec_ord` sort, and the cleaned-frame
  * CSV of [[runAndPersist]] by [[Clean.displaySort]]; nothing in between
  * reads row order. The LLM rewrite is resolved once over the global distinct
  * summary set (per-value semantics identical to the reference's per-record
  * batching, since the rewrite is keyed by text) and applied as a broadcast
  * left join.
  */
object Pipeline {

  /** The stage chain — the only composition of the stages.
    *
    * Lazy unless `eager`, which adds the request path's three steps: the
    * fact is localized, `cleaned` is cached for its two readers (the
    * rewrite-pair scan and the report serializer) and the report is
    * localized, after which the cache is dropped. `onCleaned` sees the
    * cleaned rows, in no particular order, before the rewrite runs
    * ([[runAndPersist]]'s CSV). */
  private def chain(records: DataFrame, dims: Option[Dims],
                    client: Llm.RewriteClient, eager: Boolean,
                    onCleaned: DataFrame => Unit = _ => ()): DataFrame = {
    val flat = Ingest.flatten(records)
    val fact = if (eager) localize(flat) else flat
    val d = dims.fold(Dims.fallback(fact))(_.restrictedTo(fact))
    val clean = Clean.cleanRows(Enrich.enrich(fact, d))
    val cleaned = if (eager) clean.cache() else clean
    try {
      onCleaned(cleaned)
      val report = Report.reportJoined(cleaned, Ingest.requestEcho(records),
        Llm.rewriteFrame(cleaned, client))
      if (eager) localize(report) else report
    } finally {
      if (eager) cleaned.unpersist()
    }
  }

  /** Run the full pipeline over request bodies already parsed to the
    * record level. @return (record_id, report, request) in request order.
    *
    * The eager [[chain]]: the result is materialized into a local frame
    * before returning. The reference's contract is request/response (the
    * report table IS the HTTP body, `text_processing.py:169-177`), so the
    * output is driver-sized by definition, and eager materialization lets
    * the cached `cleaned` frame unpersist deterministically — a long-lived
    * serving process holds zero cached RDDs between requests (pinned by
    * `PipelinePropertiesSpec`).
    *
    * The fact is LOCALIZED rather than cached: a dozen downstream jobs
    * read it to build broadcasts (4 dims + code set + org/max scalars),
    * and against a LocalTableScan they are plan-local. The three eager
    * steps are measured, not assumed: replacing this method with
    * `localize(runDistributed(...))` raised the p50 latency of
    * `perfbench/run.py --workload serve_mock` on a 4-core host from
    * 2,448 to 3,656 ms (seed 301) and from 3,002 to 3,682 ms (seed 302).
    * For bulk offline work, where the output is NOT
    * driver-sized, use [[runDistributed]] and sink the lazy frame. */
  def runRecords(records: DataFrame, dims: Option[Dims] = None,
                 client: Llm.RewriteClient = Llm.MockClient): DataFrame =
    chain(records, dims, client, eager = true)

  /** EP1 as ONE LAZY Catalyst plan — the corpus-scale twin of
    * [[runRecords]]. The same [[chain]], but nothing is collected, cached,
    * or localized: the returned frame is a pure logical plan the caller can
    * sink with `df.write` / [[Sinks.writeReportJsonl]], `explain`, or
    * compose further. Output is byte-identical to [[runRecords]]
    * (pinned by `PipelinePropertiesSpec` on random requests and the
    * golden fixtures) and `repartition(n)`-invariant — every
    * order-dependent operator keys on the `_rid` / `_rec_ord` ingest
    * ordinals and then on row content, never on physical row order.
    *
    * Scale notes:
    *  - the cleaned subtree feeds BOTH the rewrite-pair scan and the
    *    report serializer (and `records` also feeds the request echo);
    *    with no cache those subtrees evaluate independently. The input
    *    must therefore be DETERMINISTIC — re-evaluating it must yield
    *    the same rows — because the `_rid`/`_rec_ord` ordinals derive
    *    from `monotonically_increasing_id`, and a nondeterministic
    *    source (a `sample`, an unstable shuffle output, a task retry
    *    over changing data) could assign different ordinals per branch,
    *    silently changing keep-first dedup and output order. For such
    *    sources persist or checkpoint `records` first; the
    *    repartition-invariance guarantee holds only for deterministic
    *    inputs. With no cache the fact scan also appears twice in the
    *    physical plan — at corpus scale persist the upstream `records`
    *    frame (or checkpoint `Clean.cleanRows`' output) if the input scan
    *    is expensive; the engine will not hide a persistence decision
    *    inside a lazy API;
    *  - dims resolve exactly as in [[runRecords]]: explicit dims are
    *    broadcast after a left-semi restriction to the fact's codes
    *    (unless already driver-local, see [[Dims.restrictedTo]]);
    *    fallback dims derive from the fact frame itself, still lazily,
    *    and hold only the fact's codes, so they are not restricted.
    */
  def runDistributed(records: DataFrame, dims: Option[Dims] = None,
                     client: Llm.RewriteClient = Llm.MockClient): DataFrame =
    chain(records, dims, client, eager = false)

  /** Collect a driver-sized result and rebuild it as a local DataFrame,
    * cutting all lineage to the pipeline's cached intermediates so they
    * can unpersist immediately. */
  private[etl] def localize(df: DataFrame): DataFrame = {
    val rows = df.collect()
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** Run on a single JSON request body (array of records or bare object). */
  def run(spark: SparkSession, requestBody: String,
          dims: Option[Dims] = None,
          client: Llm.RewriteClient = Llm.MockClient): DataFrame =
    runRecords(Ingest.parseBody(spark, requestBody), dims, client)

  /** EP1 with the reference's CSV intermediates
    * (`text_processing.py:157-166`): the eager [[chain]] plus two
    * single-file CSVs under timestamped names in `outDir` — the cleaned
    * frame (display order, without `_rid`) and the final report table.
    * @return the report frame, as [[run]] returns it. */
  def runAndPersist(spark: SparkSession, requestBody: String, outDir: String,
                    dims: Option[Dims] = None,
                    client: Llm.RewriteClient = Llm.MockClient): DataFrame = {
    def csv(prefix: String, df: DataFrame): Unit =
      Sinks.writeCsv(df, s"$outDir/${Sinks.timestampedName(prefix, "")}")
    val report = chain(Ingest.parseBody(spark, requestBody), dims, client,
      eager = true,
      onCleaned = c => csv("df_preprocessed_", Clean.displaySort(c).drop("_rid")))
    csv("df_result_", report)
    report
  }

  /** The reference's shipped smoke fixture (`sample_request.json:1-29`),
    * used by the flagship entry and the golden tests. */
  val SampleRequest: String =
    """[
      |  {
      |    "RECORD_ID": "R001",
      |    "LANG_NO": "1",
      |    "ORG_ID": "ORG_A",
      |    "ITEMS": [
      |      {
      |        "ITEM_CODE": "I001",
      |        "FINDINGS": [
      |          {"DIAG_CODE": "D001", "COMMENT": "範例說明文字 A", "SUMMARY_CODE": "S001"}
      |        ]
      |      },
      |      {
      |        "ITEM_CODE": "I002",
      |        "FINDINGS": [
      |          {"DIAG_CODE": "D002", "COMMENT": "範例說明文字 B", "SUMMARY_CODE": "S002"}
      |        ]
      |      }
      |    ]
      |  }
      |]""".stripMargin
}
