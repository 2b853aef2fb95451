package perfbench

import graft.etl._
import graft.ops.{Clusters, Dedup, Sampling, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The workloads' paths called one layer at a time through each layer's
  * public functions, every stage reading the previous stage's output
  * already materialized, so each span holds one layer's own work. */
object Layers {

  final case class EtlOut(reports: DataFrame, rewrite: DataFrame)

  /** Ingest → dims → enrich → clean → LLM rewrite → report (→ sink): the
    * composition [[Pipeline.runRecords]] and [[Pipeline.runDistributed]]
    * make, with a span per stage. */
  def etl(tr: Tracer, op: Int, records: () => DataFrame, dims: Option[Dims],
          client: Llm.RewriteClient, mat: Materializer,
          sink: Option[String]): EtlOut =
    tr.span("op", op) {
      val (rec, fact, nRec, nFact) = tr.span("ingest", op) {
        val (r, nr) = mat(records())
        val (f, nf) = mat(Ingest.flatten(r))
        ((r, f, nr, nf), nr, nf)
      }
      val d = tr.span("dims", op) {
        val base = dims.getOrElse(Dims.fallback(fact)).restrictedTo(fact)
        val m = Seq(base.itemMeta, base.itemGroupMap, base.diagTbl, base.summaryTbl)
          .map(mat(_))
        (Dims(m(0)._1, m(1)._1, m(2)._1, m(3)._1), nFact, m.map(_._2).sum)
      }
      val (enriched, nEnr) = tr.span("enrich", op) {
        val (e, n) = mat(Enrich.enrich(fact, d))
        ((e, n), nFact, n)
      }
      val (cleaned, nClean) = tr.span("clean", op) {
        val (c, n) = mat(Clean.clean(enriched))
        ((c, n), nEnr, n)
      }
      val rewrite = tr.span("llm", op) {
        val (w, n) = mat(Llm.rewriteFrame(cleaned, client))
        (w, nClean, n)
      }
      val (reports, nRep) = tr.span("report", op) {
        val (r, n) = mat(Report.reportJoined(cleaned, Ingest.requestEcho(rec), rewrite))
        ((r, n), nClean, n)
      }
      sink.foreach(p => tr.span("sinks", op) {
        Sinks.writeReportJsonl(reports, p)
        ((), nRep, nRep)
      })
      (EtlOut(reports, rewrite), nRec, nRep)
    }

  /** The curation pass, untraced: near-dup pairs → cluster dedup → quality
    * filter → split assignment → parquet. */
  def curate(docs: DataFrame, out: String): Unit =
    write(split(quality(Clusters.dedupCorpus(docs, "doc_id", pairs(docs), "doc_a", "doc_b"))), out)

  def pairs(docs: DataFrame): DataFrame =
    Dedup.minhashVerifiedPairs(docs, "doc_id", "text", 0.8)

  def quality(kept: DataFrame): DataFrame =
    TextOps.gopherFilter(kept, "doc_id", "text", "lang").filter(col("keep"))

  val Splits: Seq[(String, Double)] = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)

  def split(docs: DataFrame): DataFrame = Sampling.splitAssign(docs, "doc_id", Splits)

  def write(df: DataFrame, out: String): Unit =
    df.select("doc_id", "n_words", "split").write.mode("overwrite").parquet(out)

  /** [[curate]] with a span per operator; returns the pair frame so the
    * caller can count its components outside the timed spans. */
  def curateTraced(tr: Tracer, op: Int, read: () => DataFrame, mat: Materializer,
                   out: String): DataFrame =
    tr.span("op", op) {
      val (docs, nDocs) = tr.span("read", op) {
        val (d, n) = mat(read())
        ((d, n), n, n)
      }
      val p = tr.span("dedup", op) {
        val (p, n) = mat(pairs(docs))
        (p, nDocs, n)
      }
      val (kept, nKept) = tr.span("clusters", op) {
        val (k, n) = mat(Clusters.dedupCorpus(docs, "doc_id", p, "doc_a", "doc_b"))
        ((k, n), nDocs, n)
      }
      val (good, nGood) = tr.span("textops", op) {
        val (g, n) = mat(quality(kept))
        ((g, n), nKept, n)
      }
      val assigned = tr.span("sampling", op) {
        val (s, n) = mat(split(good))
        (s, nGood, n)
      }
      tr.span("write", op) {
        write(assigned, out)
        ((), nGood, nGood)
      }
      (p, nDocs, nGood)
    }
}
