package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator catalog: the reference-parity pipeline
  * (graft.etl), the relational inventory of SURVEY.md §2 mapped onto the
  * harness star schema (graft.ops.Relational), and the training-data
  * extensions — text analysis, dedup (exact / Jaccard / MinHash-LSH /
  * SimHash / embedding-cosine), similarity search, event windows, and
  * multimodal plumbing (graft.ops.*). Every SQL-expressible query carries
  * a DuckDB oracle in `oracleSql`; the pipeline report and the
  * float-fold centroid query are rows-only by design.
  */
object SparkEntry {
  /** Flagship: the full medical-report pipeline (ingest → broadcast-join
    * enrichment → clean → hierarchical report) on the reference's shipped
    * sample request, offline (fallback dims + mock LLM). Driver
    * smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.etl.Pipeline.run(spark, graft.etl.Pipeline.SampleRequest)

  /** One entry per implemented operator from SURVEY.md §2 (+ §7.5
    * extensions). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.Relational.queries ++ ops.TextOps.queries ++ ops.Dedup.queries ++
      ops.Similarity.queries ++ ops.Events.queries ++ ops.Multimodal.queries ++
      ops.Skew.queries ++ ops.Sampling.queries ++ ops.Clusters.queries ++
      ops.Sketches.queries ++ ops.BloomJoin.queries ++
      ops.Pack.queries ++ ops.Search.queries ++ ops.Profile.queries ++
      ops.Layout.queries ++ ops.Bucketing.queries ++ ops.Entity.queries ++
      ops.IndexPaths.oneShot(maintenancePhases) ++
      Map(
        // Reference-parity pipeline as a query (ignores sfDir — its input
        // is the reference's own sample request). The hierarchical report
        // STRING is non-SQL-expressible, but its content is still
        // oracle-checkable as a digest: one row of (n_reports, md5 over
        // the reports concatenated in record_id order). The pipeline is
        // fully deterministic (GoldenPipelineSpec pins the exact bytes),
        // so the oracle is the constant derived from those same golden
        // fixtures — any drift in ingest/enrich/clean/report breaks the
        // hash here as well as in the golden suite.
        "p01_pipeline_report" -> ((s: SparkSession, _: String) => {
          import org.apache.spark.sql.functions._
          graft.etl.Pipeline.run(s, graft.etl.Pipeline.SampleRequest)
            .agg(count(lit(1)).as("n_reports"),
              md5(to_binary(concat_ws("\u0001",
                sort_array(collect_list(concat_ws("\u0000",
                  col("record_id"), col("report"))))), lit("utf-8")))
                .as("reports_md5"))
        }),
        // The serializer's own decisions (ordered nested grouping, block
        // reorder, header suppression — Report.blocks, the code p01 runs)
        // over a documents-derived hierarchy, one row per block; unlike
        // p01 it carries a full hash oracle, the SQL re-expression
        // Report.blocksOracleSql.
        "p02_report_blocks" -> ((s: SparkSession, d: String) =>
          graft.etl.Report.reportBlocks(
            graft.etl.Report.blocksInput(ops.Tables.documents(s, d)),
            graft.etl.Report.BlocksDefault)),
        // The full curation pipeline as ONE lazy plan — what a corpus
        // user actually runs end-to-end: near-dup dedup (min-id keeper)
        // → Gopher quality gate → deterministic split assignment. Every
        // stage is an existing catalog operator; the composition stays
        // declarative (no materialization between stages), so Catalyst
        // prunes/pushes across stage boundaries, and the whole thing
        // carries a composed DuckDB oracle.
        "p03_curation_pipeline" -> ((s: SparkSession, d: String) => {
          import org.apache.spark.sql.functions.col
          val docs = ops.Tables.documents(s, d)
          val kept = ops.Clusters.dedupCorpusFromComponents(docs, "doc_id",
            ops.Clusters.sharedComponents(s, d))
          val good = kept.join(
            ops.TextOps.gopherFilter(kept, "doc_id", "text", "lang")
              .filter(col("keep")).select("doc_id"),
            Seq("doc_id"), "left_semi")
          ops.Sampling.splitAssign(good, "doc_id", ops.Sampling.DefaultSplits)
            .select(col("doc_id"), col("lang"), col("split"))
        }),
        // The p03 move on the media seam: decode/frame-sample → scene
        // cuts → one representative frame per scene → corpus-wide frame
        // dedup gate, composed as ONE lazy plan (see
        // ops.Multimodal.curationPipeline).
        "p04_media_curation" -> ((s: SparkSession, d: String) =>
          ops.Multimodal.curationPipeline(s, d)),
        // p03's CJK sibling — the full curation pipeline a CJK shard
        // runs end-to-end: char-gram near-dup dedup (min-id keeper over
        // the shared d20 components) → script-aware quality gate (t25)
        // → deterministic split assignment. Every stage is an existing
        // catalog operator; the composed DuckDB oracle chains their
        // oracle texts (d20's pair CTEs under the recursive component
        // closure, t24's counts, the shared splitSql).
        "p11_cjk_curation" -> ((s: SparkSession, d: String) => {
          import org.apache.spark.sql.functions.col
          val docs = ops.Tables.documents(s, d).select(col("doc_id"),
            graft.ops.TextOps.cjkFixture(col("text")).as("text"))
          val kept = ops.Clusters.dedupCorpusFromComponents(docs, "doc_id",
            ops.Clusters.sharedCjkComponents(s, d))
          val good = kept.join(
            ops.TextOps.scriptGopherFilter(kept, "doc_id", "text")
              .filter(col("keep")).select("doc_id"),
            Seq("doc_id"), "left_semi")
          ops.Sampling.splitAssign(good, "doc_id", ops.Sampling.DefaultSplits)
            .select(col("doc_id"), col("split"))
        }))

  /** Build/serve decomposition of the persisted catalog entries —
    * the bench's sub-metric seam: the one-shot entries time parquet
    * index WRITES inside the query, so a serve-path regression could
    * hide under build I/O. Each key's pair is written once, in the
    * module that owns the entry (`ops.*.phases`) or below for the
    * entries that compose several modules; its `queries` entry is the
    * derived build-then-serve ([[ops.IndexPaths.oneShot]]). Bench
    * times the two halves separately into bench_full.json's "phases"
    * object. */
  def phases: ops.IndexPaths.Phases =
    ops.Search.phases ++ ops.Similarity.phases ++ ops.Dedup.phases ++
      ops.Multimodal.phases ++ ops.Entity.phases ++ ops.TextOps.phases ++
      maintenancePhases

  private def maintenancePhases: ops.IndexPaths.Phases = {
    import org.apache.spark.sql.functions.col
    def docs(s: SparkSession, d: String, f: org.apache.spark.sql.Column) =
      ops.Tables.documents(s, d).filter(f)
    def cjkToks(s: SparkSession, d: String, f: org.apache.spark.sql.Column) =
      ops.Clusters.sharedCjkTokens(s, d).filter(f)
        .select(col("doc_id"), col("toks"))
    // a takedown feed over documents: ids matching `f` drain into `setDir`
    def drainDeletes(s: SparkSession, d: String, setDir: String,
                     f: org.apache.spark.sql.Column): Unit = {
      val (srcDir, glob) = ops.Tables.streamSource(d, "documents")
      graft.streaming.TombstoneStream.runAvailableNow(s, srcDir,
        graft.streaming.Drain.DocumentsSchema, "doc_id", setDir,
        deltaFilter = f, glob = glob)
    }
    // the Chinese query over a CJK segment store's merged index
    def serveCjk(tag: String): (SparkSession, String) => DataFrame =
      (s, d) => {
        val (p, l, st) = graft.streaming.IndexStream.mergedIndexCjk(s,
          ops.IndexPaths.dir(tag, d))
        ops.Search.bm25QueryIndex(p, l, st, terms = ops.Search.CjkQuery)
      }
    Map(
      // The r06/r07 seam at the STREAM edge on the CJK analyzer
      // (r12), in the deployment shape: the STANDING (even) half is
      // one segment built from the persisted token arrays (the
      // nightly ingest product — no re-tokenize), and only the
      // arriving (odd) half drains through the stream, each
      // micro-batch's unigram+bigram postings appending as an
      // immutable segment. The Chinese query serves from the
      // exact-integer segment merge — equal to the one-shot r09
      // build by r07's token-agnostic merge theorem (segments
      // partition the corpus, postings concatenate, dfs/stats ADD),
      // so r12 shares r08's oracle verbatim. The segment store is a
      // FIXED per-(entry, dataDir) path CLEARED at build start: this
      // catalog entry runs without a stream checkpoint, so an
      // un-cleared reused store would double its postings (the
      // IndexStream scaladoc contract), while a fresh path per
      // invocation would leak one full postings/lexicon/stats copy
      // per timed bench iteration until JVM exit.
      "r12_cjk_index_stream" -> ((
        (s, d) => {
          val segDir = ops.IndexPaths.dir("r12_seg", d)
          ops.IndexPaths.clear(segDir)
          graft.streaming.IndexStream.appendSegment(segDir,
            ops.Search.bm25BuildIndexTokens(ops.Clusters.sharedCjkTerms(s, d)
              .filter(col("doc_id") % 2 === 0), "doc_id", "terms"))
          ops.IndexMeta.stamp(segDir)
          val (srcDir, glob) = ops.Tables.streamSource(d, "documents")
          graft.streaming.IndexStream.runAvailableNowCjk(s, srcDir, segDir,
            textOf = graft.ops.TextOps.cjkFixture(col("text")),
            glob = glob,
            deltaFilter = col("doc_id") % 2 =!= 0)
        },
        serveCjk("r12_seg"))),
      // Segment COMPACTION with expunge-deletes (r15): the
      // background half of the r12 stream edge — two segments are
      // appended (the stream's shape), then compactCjk folds them
      // into ONE segment while dropping the tombstoned docs'
      // postings and correcting dfs/stats (Lucene's
      // forceMergeDeletes), and the query serves from the compacted
      // store with NO tombstone logic at all. The compacted store
      // equals a fresh build over corpus-minus-tombstones exactly,
      // so r15 shares r14's oracle text. Store cleared at build
      // start (the r12 clear-then-append discipline).
      "r15_cjk_compacted_serve" -> ((
        (s, d) => {
          val segDir = ops.IndexPaths.dir("r15_seg", d)
          ops.IndexPaths.clear(segDir)
          val toks = ops.Clusters.sharedCjkTerms(s, d)
          Seq(col("doc_id") % 2 === 0, col("doc_id") % 2 =!= 0)
            .foreach { pred =>
              graft.streaming.IndexStream.appendSegment(segDir,
                ops.Search.bm25BuildIndexTokens(toks.filter(pred), "doc_id",
                  "terms"))
            }
          ops.IndexMeta.stamp(segDir)
          // dl-CARRYING tombstones (the compactCjk deployment remedy —
          // every deletion knows its doc's length): the removed stats
          // come straight off this table, skipping the extraction pass
          // over the merged postings; dl = size(terms) is exactly the
          // dl the build wrote, read from the session's checkpointed
          // term arrays. Same ids as harnessTombstones (≡ 2 mod 5).
          graft.streaming.IndexStream.compactCjk(s, segDir,
            Some(toks.filter(col("doc_id") % 5 === 2)
              .select(col("doc_id"),
                org.apache.spark.sql.functions.size(col("terms"))
                  .cast("long").as("dl"))))
        },
        serveCjk("r15_seg"))),
      // The decontamination family's stream edge (d27): corpus
      // vectors drain as delta micro-batches, each checked against
      // the STANDING broadcast benchmark with d25's exact cosine
      // sweep and appended to the audit sink — the ingest-time gate
      // a real pipeline runs. Zero streaming state (a verdict
      // depends only on (vector, benchmark)), so the union over
      // batches equals one-shot d25 identically and d27 shares its
      // oracle verbatim. Sink cleared at build start (the r12
      // clear-then-append discipline — this entry runs without a
      // stream checkpoint); the serve reads the audit sink back.
      "d27_semantic_decon_stream" -> ((
        (s, d) => {
          val out = ops.IndexPaths.dir("d27_out", d)
          ops.IndexPaths.clear(out)
          val (srcDir, glob) = ops.Tables.streamSource(d, "embeddings")
          graft.streaming.DeconStream.runAvailableNow(s, srcDir,
            ops.Tables.embeddings(s, d).filter(col("vec_id") % 10 === 0),
            out, threshold = 0.45,
            deltaFilter = col("vec_id") % 10 =!= 0, glob = glob)
        },
        (s, d) => graft.streaming.Drain.readSink(s,
          ops.IndexPaths.dir("d27_out", d)))),
      // The NIGHTLY INCREMENTAL MAINTENANCE job end-to-end: PUBLISH
      // the standing corpus's index + verify arrays + component
      // labels (Dedup.minhashPublishStanding), then serve the
      // arriving delta entirely from the store — cross pairs from
      // the loaded bands/arrays, delta-delta banded fresh, published
      // labels rolled forward by one star merge (c19). The standing
      // corpus is never re-paired, re-tokenized, or re-converged at
      // serve time. Equals the one-shot full clustering exactly —
      // band agreement and the Jaccard verify are pair-local, so
      // within-set(evens) ∪ within-set(odds) ∪ cross-set IS d08's
      // full pair set, the published labels are the standing class's
      // components, and the star merge preserves connectivity — so
      // p05 shares c03's oracle verbatim.
      "p05_incremental_maintenance" -> ((
        (s, d) => ops.Dedup.minhashPublishStanding(
          docs(s, d, col("doc_id") % 2 === 0), "doc_id", "text", 0.6,
          ops.IndexPaths.dir("p05_index", d)),
        (s, d) => ops.Dedup.minhashServeIncremental(s,
          docs(s, d, col("doc_id") % 2 =!= 0), "doc_id", "text", 0.6,
          ops.IndexPaths.dir("p05_index", d)))),
      // The p05 move on the SEARCH seam: persist the standing (even)
      // corpus' BM25 index, load it back, build only the delta
      // (odd) batch's postings, fold them in with the exact integer
      // segment merge (r07), and serve the query from the merged
      // index — the standing corpus is never re-tokenized. Equals
      // the whole-corpus r01 ranking bit-for-bit, so p06 shares
      // r01's oracle verbatim.
      "p06_search_maintenance" -> ((
        (s, d) => {
          val (p, l, st) = ops.Search.bm25BuildIndex(
            docs(s, d, col("doc_id") % 2 === 0), "doc_id", "text")
          ops.Search.bm25WriteIndex(p, l, st, ops.IndexPaths.dir("p06_index", d))
        },
        (s, d) => {
          val merged = ops.Search.bm25MergeIndex(
            ops.Search.bm25LoadIndexWs(s, ops.IndexPaths.dir("p06_index", d)),
            ops.Search.bm25BuildIndex(docs(s, d, col("doc_id") % 2 =!= 0),
              "doc_id", "text"))
          ops.Search.bm25QueryIndex(merged._1, merged._2, merged._3)
        })),
      // The p05/p06 move on the VECTOR seam — the ANN nightly loop
      // closed: publish the COMPLETE production IVFPQ index (PQ
      // codes + codebooks AND the coarse cell assignment +
      // centroids k19 gates on) to parquet, then serve the probes
      // with every artifact LOADED back — what a crashed-and-
      // restarted ANN server runs, with no retraining of either
      // layer. Longs and doubles round-trip parquet bit-exactly, so
      // the loaded serve equals the in-session k19 serve and p07
      // shares k19's oracle verbatim. The delta half of the loop
      // (frozen-codebook PQ encode k18 + frozen-centroid cell
      // assignment ivfCoarseEncodeWith) appends nightly batches to
      // the published tables without touching the standing corpus —
      // pinned by RoundTenOpsSpec's batch-independence contract.
      "p07_ann_maintenance" -> ((
        (s, d) => ops.Similarity.ivfPqWriteAll(s, d,
          ops.IndexPaths.dir("p07_index", d)),
        (s, d) => ops.Similarity.ivfPqServeLoaded(s, d,
          ops.IndexPaths.dir("p07_index", d)))),
      // Tombstones AS A STREAM (r16): deletes arrive as micro-batches
      // (a takedown feed), each batch growing the standing tombstone
      // set (TombstoneStream — batchId-keyed idempotent appends), and
      // the r13 df-corrected serve runs against the ACCUMULATED set —
      // the maintenance loop every tombstone family's static-table
      // serve assumes. The set union over any batch split equals the
      // static harnessTombstones table (zero streaming state; serves
      // distinct() the set), so r16 shares r13's oracle verbatim.
      // Set dir cleared at entry start (the r12 clear-then-append
      // discipline — this entry runs without a stream checkpoint).
      "r16_bm25_tombstone_stream" -> ((
        (s, d) => {
          val setDir = ops.IndexPaths.dir("r16_tombstones", d)
          ops.IndexPaths.clear(setDir)
          val (p, l, st) = ops.Search.bm25BuildIndex(
            ops.Tables.documents(s, d), "doc_id", "text")
          ops.Search.bm25WriteIndex(p, l, st, ops.IndexPaths.dir("r16_index", d))
          drainDeletes(s, d, setDir, col("doc_id") % 5 === 2)
        },
        (s, d) => {
          val (lp, ll, ls) = ops.Search.bm25LoadIndexWs(s,
            ops.IndexPaths.dir("r16_index", d))
          ops.Search.bm25QueryIndexTombstoned(lp, ll, ls,
            graft.streaming.Drain.readSink(s,
              ops.IndexPaths.dir("r16_tombstones", d)))
        })),
      // The FULL delete lifecycle as ONE catalog entry (p12) — the
      // TombstoneLifecycleSpec loop promoted to what a platform
      // operator actually schedules nightly, on the near-dup store:
      // publish the standing (even) char index, drain the arriving
      // takedown feed in two tranches (TombstoneStream — batchId-
      // keyed idempotent appends into per-tranche subdirs; readSink
      // unions them), serve CORRECTED against the accumulated set
      // between drains, let the deletes-ratio merge policy DECLINE
      // while the set is a trickle (1% of the store) and FIRE once
      // it crosses (20%), expunge-compact (StoreSwap.compactIfNeeded
      // under the poison-stamp swap), RETIRE the set, and serve clean. The
      // final serve equals publish-over-remainder (d33's rebuild-
      // equivalence contract), so p12 shares d33's oracle text. The
      // decline/fire decisions are require()d — a policy regression
      // fails the entry loudly instead of silently skipping a phase.
      "p12_delete_lifecycle" -> ((
        (s, d) => {
          val idxDir = ops.IndexPaths.dir("p12_index", d)
          val setDir = ops.IndexPaths.dir("p12_tombstones", d)
          ops.IndexPaths.clear(setDir)
          ops.Dedup.cjkPublishIndexTokens(
            cjkToks(s, d, col("doc_id") % 2 === 0), idxDir)
          // tranche A: a trickle — ids ≡ 2 mod 100 (1% of the evens)
          drainDeletes(s, d, s"$setDir/a", col("doc_id") % 100 === 2)
          val trickle = graft.streaming.Drain.readSink(s, setDir)
          require(!ops.StoreSwap.compactIfNeeded(s, ops.Dedup.cjkStore(idxDir),
            trickle),
            "p12: a 1% delete trickle must not trigger a store rebuild")
          // the between-compactions phase: the tombstone serve corrects
          // against the accumulated set (materialized — this cost IS
          // the lifecycle's serve-degradation half)
          ops.Dedup.cjkServeDeltaTombstonedTokens(s,
            cjkToks(s, d, col("doc_id") % 2 =!= 0), 0.6, idxDir, trickle)
            .count()
          // tranche B: the rest of the ≡ 2 mod 5 takedown set arrives
          drainDeletes(s, d, s"$setDir/b",
            col("doc_id") % 5 === 2 && col("doc_id") % 100 =!= 2)
          require(ops.StoreSwap.compactIfNeeded(s, ops.Dedup.cjkStore(idxDir),
            graft.streaming.Drain.readSink(s, setDir)),
            "p12: the accumulated set must cross the ratio and compact")
          // the set retires — the compacted store needs nothing from it
          ops.IndexPaths.clear(setDir)
        },
        (s, d) => ops.Dedup.cjkServeDeltaTokens(s,
          cjkToks(s, d, col("doc_id") % 2 =!= 0), 0.6,
          ops.IndexPaths.dir("p12_index", d)))))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    ops.Relational.oracle ++ ops.TextOps.oracle ++ ops.Dedup.oracle ++
      ops.Similarity.oracle ++ ops.Events.oracle ++ ops.Multimodal.oracle ++
      ops.Skew.oracle ++ ops.Sampling.oracle ++ ops.Clusters.oracle ++
      ops.Sketches.oracle ++ ops.BloomJoin.oracle ++
      ops.Pack.oracle ++ ops.Search.oracle ++ ops.Profile.oracle ++
      ops.Layout.oracle ++ ops.Bucketing.oracle ++ ops.Entity.oracle ++
      Map(
        // p01's digest oracle is a CONSTANT: the pipeline runs on the
        // reference's fixed sample request (not the sfDir tables), its
        // output is fully deterministic, and GoldenPipelineSpec pins the
        // same report bytes the digest summarizes — so the expected
        // (n_reports, md5) pair is derived from the golden fixture once
        // and asserted here on every run. Any drift anywhere in
        // ingest → enrich → clean → report breaks this hash.
        "p01_pipeline_report" ->
          ("SELECT CAST(1 AS BIGINT) AS n_reports, " +
            "'943b98bd2698d6a0ade08711a8a02726' AS reports_md5"),
        "p02_report_blocks" -> graft.etl.Report.blocksOracleSql,
        "p03_curation_pipeline" -> {
          val swList = ops.TextOps.Stopwords.map(w => s"'$w'").mkString(", ")
          s"""WITH RECURSIVE ${ops.Clusters.componentsCte(ops.Dedup.oracle("d02_ngram_jaccard"))},
             |kept AS (
             |  SELECT doc_id, lang, text FROM documents
             |  WHERE doc_id NOT IN (SELECT id FROM lab WHERE cluster < id)),
             |feat AS (
             |  SELECT doc_id, lang,
             |    CAST(len(w) AS BIGINT) AS n_words,
             |    CAST(reduce(list_prepend(0, list_transform(w, x -> length(x))), (acc, x) -> acc + x) AS BIGINT) AS sl,
             |    CAST(len(list_filter(w, x -> x IN ($swList))) AS BIGINT) AS n_stop
             |  FROM (SELECT doc_id, lang,
             |          list_filter(string_split(text, ' '), x -> x <> '') AS w
             |        FROM kept) t),
             |good AS (
             |  SELECT doc_id, lang FROM feat
             |  WHERE (n_words BETWEEN 15 AND 90)
             |    AND (sl::DOUBLE / n_words::DOUBLE BETWEEN 2.0 AND 12.0)
             |    AND (lang <> 'en' OR n_stop >= 2))
             |SELECT doc_id, lang,
             |  ${ops.Sampling.splitSql("doc_id", ops.Sampling.DefaultSplits)} AS split
             |FROM good""".stripMargin
        },
        "p04_media_curation" -> ops.Multimodal.curationOracleSql,
        "p11_cjk_curation" -> {
          val to = graft.ops.TextOps
          s"""WITH RECURSIVE ${ops.Clusters.componentsCte(ops.Dedup.oracle("d20_cjk_neardup"))},
             |cf AS (SELECT doc_id, ${to.cjkFixtureSql("text")} AS t
             |       FROM documents),
             |kept AS (
             |  SELECT doc_id, t FROM cf
             |  WHERE doc_id NOT IN (SELECT id FROM lab WHERE cluster < id)),
             |k AS (SELECT doc_id,
             |    CAST(len(${to.scriptTokensSql("t")}) AS BIGINT) AS n_tokens,
             |    CAST(len(regexp_extract_all(t, '${to.CjkCharClass}')) AS BIGINT) AS n_cjk
             |  FROM kept),
             |good AS (
             |  SELECT doc_id FROM k
             |  WHERE (n_tokens BETWEEN 50 AND 400)
             |    AND coalesce((CASE WHEN n_tokens > 0
             |          THEN (n_cjk * 1000000) // n_tokens END) >= 500000,
             |        FALSE))
             |SELECT doc_id,
             |  ${ops.Sampling.splitSql("doc_id", ops.Sampling.DefaultSplits)} AS split
             |FROM good""".stripMargin
        },
        // p05 reconstructs c03's labels incrementally (see the query's
        // comment for the pair-set equality argument)
        "p05_incremental_maintenance" ->
          ops.Clusters.oracle("c03_clusters_minhash"),
        // p06's persisted+merged serve equals the one-shot r01 ranking
        "p06_search_maintenance" -> ops.Search.oracle("r01_bm25"),
        // p07's all-loaded IVFPQ serve equals the in-session k19
        "p07_ann_maintenance" -> ops.Similarity.oracle("k19_ivfpq"),
        // r12's merged CJK segments serve the exact one-shot r08
        // ranking (r07's integer merge theorem, token-agnostic)
        "r12_cjk_index_stream" -> ops.Search.oracle("r08_cjk_bm25"),
        // d27's per-batch exact sweeps union to one-shot d25 (zero
        // streaming state — see the entry comment)
        "d27_semantic_decon_stream" ->
          ops.Dedup.oracle("d25_semantic_decontaminate"),
        // r15's compacted-with-expunged-deletes store equals a fresh
        // build over corpus-minus-tombstones, so it shares r14's text
        "r15_cjk_compacted_serve" ->
          ops.Search.oracle("r14_cjk_tombstoned"),
        // r16's streamed delete set unions to the static harness
        // tombstone table, so the serve shares r13's text
        "r16_bm25_tombstone_stream" ->
          ops.Search.oracle("r13_bm25_tombstoned"),
        // p12's post-expunge clean serve equals publish-over-remainder
        // (the d33 rebuild-equivalence contract; the drains/decline/
        // fire phases are require()d inside the entry)
        "p12_delete_lifecycle" ->
          ops.Dedup.oracle("d33_cjk_compacted_serve"),
        // d30 serves d24's band+verify from the persisted store —
        // identical bands, caps, and verify arithmetic, so it shares
        // d24's oracle verbatim (the r09/r08 shared-oracle move on
        // the decontamination seam)
        "d30_cjk_decon_from_store" ->
          ops.Dedup.oracle("d24_cjk_decontaminate_neardup"))

  /** Catalog keys intentionally carrying NO DuckDB oracle, each pinned
    * by golden-fixture tests instead. Every member must name a real
    * `queries` key AND a golden spec; keep this EMPTY otherwise —
    * today every catalog entry is oracled (even p01's report digest is
    * a constant-SQL oracle), so an addition here needs the same
    * justification in review. */
  val RowsOnlyAllowlist: Set[String] = Set.empty

  /** The half-landed-entry guard (a round-14 escape: r08 shipped with
    * a `queries` entry but no oracle and rode a full round unverified
    * — CORRECTNESS_r14's only red row). Structurally closed here:
    * VerifyContractSpec asserts this is empty over the real catalog,
    * and [[Verify]] prints any orphans loudly at dump time. */
  def orphanKeys(qs: Iterable[String] = queries.keys,
                 oracled: Set[String] = oracleSql.keySet,
                 allow: Set[String] = RowsOnlyAllowlist): Set[String] =
    qs.toSet -- oracled -- allow
}
