package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.TestSpark

/** Round-17 additions: the artifact-version stamp generalized to the
  * persisted VECTOR stores (PQ / SQ8 / IVF coarse / frame signatures —
  * a re-trained encoder now fails loudly at every load seam instead of
  * silently zeroing recall), the BM25 tombstone serve (df-corrected
  * deletes without rebuild), the d26 multi-probe OR-banding, and
  * Korean recall evidence on the char-dedup path. */
class RoundSeventeenOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  private def tamper(dir: String): Unit = {
    java.nio.file.Files.write(
      new java.io.File(dir, "_ARTIFACT_VERSION").toPath,
      "some-other-encoder".getBytes("UTF-8"))
    ()
  }

  test("a stale or absent PQ store version fails at load; the " +
    "current one round-trips") {
    val dir = IndexPaths.dir("r17_pq_stamp", sf)
    val (codes, cbs) = Similarity.sharedPqIndex(spark, sf)
    Similarity.pqWriteIndex(codes, cbs, dir)
    Similarity.pqLoadIndex(spark, dir) // fresh publish: no throw
    tamper(dir)
    val eStale = intercept[IllegalStateException] {
      Similarity.pqLoadIndex(spark, dir)
    }
    assert(eStale.getMessage.contains("some-other-encoder") &&
      eStale.getMessage.contains(Similarity.pqVersion))
    IndexMeta.unstamp(dir) // publish died mid-write / pre-versioning
    intercept[IllegalStateException] { Similarity.pqLoadIndex(spark, dir) }
  }

  test("a stale or absent SQ8 store version fails at load; the " +
    "current one round-trips") {
    val dir = IndexPaths.dir("r17_sq_stamp", sf)
    val (stats, codes) =
      Similarity.sqTrainIndex(Similarity.sharedNormalized(spark, sf))
    Similarity.sqWriteIndex(stats, codes, dir)
    Similarity.sqLoadIndex(spark, dir)
    tamper(dir)
    intercept[IllegalStateException] { Similarity.sqLoadIndex(spark, dir) }
  }

  test("a stale or absent IVF coarse-quantizer version fails at load; " +
    "the current one round-trips") {
    val dir = IndexPaths.dir("r17_ivf_stamp", sf)
    Similarity.ivfWriteCoarse(Similarity.sharedKmeansAssign(spark, sf),
      Similarity.sharedCellCentroids(spark, sf), dir)
    Similarity.ivfLoadCoarse(spark, dir)
    tamper(dir)
    intercept[IllegalStateException] { Similarity.ivfLoadCoarse(spark, dir) }
  }

  test("a stale or absent frame-store version fails at load; the " +
    "current one round-trips, and the stream-edge appender keeps the " +
    "stamp valid") {
    val dir = IndexPaths.dir("r17_frame_stamp", sf)
    Multimodal.frameWriteStore(Multimodal.mediaFrames(spark, sf), dir)
    assert(Multimodal.frameLoadStore(spark, dir).count() > 0)
    tamper(dir)
    intercept[IllegalStateException] { Multimodal.frameLoadStore(spark, dir) }
  }

  // ——— BM25 tombstone serve (r13/r14) ———————————————————————————————

  private def ranking(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("delete-then-serve on the r06 store: the df-corrected tombstone " +
    "serve equals a full rebuild over corpus-minus-tombstones, and a " +
    "top-ranked deleted doc stops being served immediately") {
    val docs = Tables.documents(spark, sf)
    val dir = IndexPaths.dir("r17_ts_r06", sf)
    val (p, l, st) = Search.bm25BuildIndex(docs, "doc_id", "text")
    Search.bm25WriteIndex(p, l, st, dir)
    val (lp, ll, ls) = Search.bm25LoadIndex(spark, dir)
    val full = ranking(Search.bm25QueryIndex(lp, ll, ls))
    assert(full.nonEmpty)
    // tombstone the CURRENT top hit specifically — the serve must
    // re-rank, not just filter the output list
    val topDoc = full.head._1
    import spark.implicits._
    val served = ranking(Search.bm25QueryIndexTombstoned(lp, ll, ls,
      Seq(topDoc).toDF("doc_id")))
    val rebuilt = ranking(Search.bm25TopK(
      docs.filter(col("doc_id") =!= topDoc), "doc_id", "text"))
    assert(!served.exists(_._1 == topDoc))
    assert(served == rebuilt,
      "tombstone serve must equal build(corpus minus tombstones) bit-for-bit")
    // deployment shape: a tombstone table carrying dl (known at delete
    // time) yields the same ranking with ZERO store scans for the
    // removed stats — and is the exact remedy for zero-term docs,
    // which have no posting rows to derive stats from
    val dl = lp.filter(col("doc_id") === topDoc)
      .agg(max(col("dl"))).head.getLong(0)
    val servedDl = ranking(Search.bm25QueryIndexTombstoned(lp, ll, ls,
      Seq((topDoc, dl)).toDF("doc_id", "dl")))
    assert(servedDl == rebuilt,
      "dl-carrying tombstones must produce the identical ranking")
  }

  test("delete-then-serve on an r12 CJK segment store: tombstones " +
    "anti-join the merged segments and the serve equals a rebuild " +
    "over the remaining corpus") {
    val toks = Clusters.sharedCjkTerms(spark, sf)
    val segDir = IndexPaths.dir("r17_ts_seg", sf)
    // two stream-shaped segments (evens standing, odds delta) — the
    // r12 store layout, appended like the catalog entry's standing half
    Seq(col("doc_id") % 2 === 0, col("doc_id") % 2 =!= 0).foreach { pred =>
      graft.streaming.IndexStream.appendSegment(segDir,
        Search.bm25BuildIndexTokens(toks.filter(pred), "doc_id", "terms"))
    }
    IndexMeta.stamp(segDir)
    val (mp, ml, ms) =
      graft.streaming.IndexStream.mergedIndexCjk(spark, segDir)
    val served = ranking(Search.bm25QueryIndexTombstoned(mp, ml, ms,
      Search.harnessTombstones(Tables.documents(spark, sf)),
      terms = Search.CjkQuery))
    val rebuilt = ranking(Search.bm25TopKTokens(
      toks.filter(col("doc_id") % 5 =!= 2), "doc_id", "terms",
      terms = Search.CjkQuery))
    assert(served.nonEmpty && served == rebuilt)
  }

  test("delete-then-serve on the d21 near-dup store (d29): a " +
    "tombstoned standing doc stops matching deltas immediately, and " +
    "the serve equals publish-over-remainder + serve bit-for-bit") {
    def toks(f: org.apache.spark.sql.Column) =
      Clusters.sharedCjkTokens(spark, sf).filter(f)
        .select(col("doc_id"), col("toks"))
    val dir = IndexPaths.dir("r17_d29_idx", sf)
    Dedup.cjkPublishIndexTokens(toks(col("doc_id") % 2 === 0), dir)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sorted.toSeq
    val full = rows(Dedup.cjkServeDeltaTokens(spark,
      toks(col("doc_id") % 2 =!= 0), 0.6, dir))
    assert(full.nonEmpty, "fixture must contain cross-set CJK near-dups")
    // tombstone a standing doc that actually HAS pairs — the serve
    // must drop its matches, not just filter an empty set
    val dead = full.head._1
    import spark.implicits._
    val served = rows(Dedup.cjkServeDeltaTombstonedTokens(spark,
      toks(col("doc_id") % 2 =!= 0), 0.6, dir, Seq(dead).toDF("doc_id")))
    assert(!served.exists(_._1 == dead) && served == full.filter(_._1 != dead),
      "tombstoning one standing doc must remove exactly its pairs")
    // rebuild-equivalence: publish over standing-minus-tombstone,
    // serve plain — must equal the tombstoned serve of the full store
    val dir2 = IndexPaths.dir("r17_d29_remainder", sf)
    Dedup.cjkPublishIndexTokens(
      toks(col("doc_id") % 2 === 0 && col("doc_id") =!= dead), dir2)
    val rebuilt = rows(Dedup.cjkServeDeltaTokens(spark,
      toks(col("doc_id") % 2 =!= 0), 0.6, dir2))
    assert(served == rebuilt,
      "serve-under-tombstones must equal publish-over-remainder + serve")
  }

  test("delete-then-serve on the media frame store (m12): a " +
    "tombstoned standing item stops matching arrivals and the serve " +
    "equals publish-over-remainder + serve") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val dir = IndexPaths.dir("r17_m12_idx", sf)
    Multimodal.frameWriteStore(
      Multimodal.framesOf(docs.filter(col("doc_id") % 2 === 0)), dir)
    val delta = Multimodal.framesOf(docs.filter(col("doc_id") % 2 =!= 0))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sorted.toSeq
    val full = rows(Multimodal.crossNearDupVsStore(
      Multimodal.frameLoadStore(spark, dir), delta))
    assert(full.nonEmpty, "fixture must contain cross-set media near-dups")
    val dead = full.head._1
    val served = rows(Multimodal.crossNearDupVsStore(
      Multimodal.frameLoadStore(spark, dir)
        .join(broadcast(Seq(dead).toDF("doc_id")), Seq("doc_id"), "left_anti"),
      delta))
    val rebuilt = rows(Multimodal.crossNearDupVsStore(
      Multimodal.framesOf(
        docs.filter(col("doc_id") % 2 === 0 && col("doc_id") =!= dead)),
      delta))
    assert(!served.exists(_._1 == dead) && served == rebuilt,
      "tombstone serve must equal publish(standing minus tombstones) + serve")
  }

  test("d30 store-backed decontamination equals in-session d24 " +
    "bit-for-bit: same bands, same caps, same verify — just loaded " +
    "from the persisted tables instead of a session checkpoint") {
    val toks = Clusters.sharedCjkTokens(spark, sf)
      .join(Tables.documents(spark, sf)
        .select(col("doc_id"), col("source")), Seq("doc_id"))
    def side(f: org.apache.spark.sql.Column) =
      toks.filter(f).select(col("doc_id"), col("toks"))
    val inSession = Dedup.cjkDecontaminateNearDupTokens(
      side(col("source") =!= "src0"), side(col("source") === "src0"),
      threshold = 0.6)
    val dir = IndexPaths.dir("r17_d30_idx", sf)
    Dedup.cjkPublishIndexTokens(side(col("source") =!= "src0"), dir)
    val fromStore = Dedup.cjkServeDeltaTokens(spark,
        side(col("source") === "src0"), 0.6, dir)
      .groupBy(col("corpus_id"))
      .agg(count(lit(1)).as("n_bench_matches"),
        max(col("jaccard")).as("max_jaccard"))
      .select(col("corpus_id").as("doc_id"),
        col("n_bench_matches"), col("max_jaccard"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sorted.toSeq
    val a = rows(inSession)
    assert(a.nonEmpty, "fixture must contain CJK contamination hits")
    assert(rows(fromStore) == a)
  }

  // ——— d28 multi-probe OR-banding ———————————————————————————————————

  private def deconMap(df: org.apache.spark.sql.DataFrame)
      : Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("d26 ⊆ d28 ⊆ d25: OR-banding recovers gate misses while the " +
    "exact verify keeps the result inside the exact operator's") {
    val vecs = Tables.embeddings(spark, sf)
    val c = vecs.filter(col("vec_id") % 10 =!= 0)
    val b = vecs.filter(col("vec_id") % 10 === 0)
    val d25 = deconMap(
      Dedup.semanticDecontaminate(c, b, "vec_id", "embedding", 0.45))
    val d26 = deconMap(
      Dedup.semanticDecontaminateLsh(c, b, "vec_id", "embedding", 0.45))
    val d28 = deconMap(
      Dedup.semanticDecontaminateLshMulti(c, b, "vec_id", "embedding", 0.45))
    assert(d25.nonEmpty && d26.nonEmpty)
    assert(d26.keySet.subsetOf(d28.keySet) &&
      d26.forall { case (k, n) => d28(k) >= n },
      "set 0 IS d26's gate, so d28 can only add candidates")
    assert(d28.keySet.subsetOf(d25.keySet) &&
      d28.forall { case (k, n) => n <= d25(k) },
      "every served pair passes the exact cosine verify")
  }

  test("d28 catches a near-threshold contaminated pair the single-set " +
    "d26 gate misses (the recall the multi-probe exists for)") {
    import spark.implicits._
    // mirror the engine's arithmetic: float elements widened to
    // double, index-order left fold against the integer LCG planes
    def dot(v: Array[Float], set: Int, i: Int): Double =
      v.indices.foldLeft(0.0)((acc, j) => acc +
        v(j).toDouble *
          Similarity.weight(set * Similarity.NumPlanes + i, j, 64).toDouble)
    def bucket(v: Array[Float], set: Int): Int =
      (0 until Similarity.NumPlanes)
        .map(i => if (dot(v, set, i) > 0) 1 << i else 0).sum
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def d(x: Array[Float], y: Array[Float]) =
        x.indices.foldLeft(0.0)((acc, j) => acc + x(j).toDouble * y(j).toDouble)
      d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b)))
    }
    val rnd = new scala.util.Random(17)
    val found = Iterator.continually {
      val u = Array.fill(64)(rnd.nextGaussian().toFloat)
      val v = u.map(x => x + rnd.nextGaussian().toFloat * 0.55f)
      (u, v)
    }.take(20000).find { case (u, v) =>
      cos(u, v) >= 0.5 &&
        bucket(u, 0) != bucket(v, 0) && bucket(u, 1) == bucket(v, 1)
    }
    assert(found.isDefined,
      "generator must craft a set-0-miss/set-1-hit near-dup pair")
    val (u, v) = found.get
    val corpus = Seq((1L, u.toSeq)).toDF("vec_id", "embedding")
    val probe = Seq((2L, v.toSeq)).toDF("vec_id", "embedding")
    assert(Dedup.semanticDecontaminateLsh(
      corpus, probe, "vec_id", "embedding", 0.45).count() == 0,
      "the single-set gate must miss this pair")
    val got = Dedup.semanticDecontaminateLshMulti(
      corpus, probe, "vec_id", "embedding", 0.45).collect()
    assert(got.length == 1 && got.head.getLong(0) == 1L &&
      got.head.getLong(1) == 1L)
  }

  // ——— Korean recall on the char-dedup path ————————————————————————

  test("a lightly-edited Korean near-dup is caught by d20's " +
    "band+verify at the default n=5, and d24 flags it against a " +
    "Korean benchmark (Hangul entered the repertoire in r16; this " +
    "pins that the char path actually RECALLS on it)") {
    import spark.implicits._
    val base = "오늘 회의에서 데이터 정제 파이프라인의 중복 제거 단계가 " +
      "예상보다 오래 걸린다는 문제가 논의되었고 다음 분기에는 해시 기반 " +
      "방법으로 교체하기로 결정했다 참석자 전원이 새로운 지표 정의와 " +
      "실험 계획을 검토한 뒤 회의록을 공유하기로 했다"
    // two single-syllable substitutions ~100 syllables apart — the
    // "quoted with light edits" contamination class
    val edited = base.replace("걸린다는", "걸렸다는")
      .replace("방법으로", "기법으로")
    assert(edited != base)
    val docs = Seq(
      (1L, base), (2L, edited),
      (3L, "서울의 가을 하늘은 맑고 바람은 차가웠다"),
      (4L, "모델 학습에 사용된 말뭉치는 여러 출처에서 수집되었다"))
      .toDF("doc_id", "text")
    val pairs = Dedup.cjkNearDupPairs(docs, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)),
      s"exactly the edited pair must surface, got ${pairs.toSeq}")
    assert(pairs.head._3 >= 0.6,
      "the light edit must keep char-5-gram Jaccard above threshold")
    // d24: the edited version as the BENCHMARK side — the training
    // doc quoting it is flagged, the unrelated Korean docs are not
    val flags = Dedup.cjkDecontaminateNearDup(
      docs.filter(col("doc_id") =!= 2L),
      Seq((100L, edited)).toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.6).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(flags.toSeq == Seq((1L, 1L)),
      s"d24 must flag exactly the quoting doc, got ${flags.toSeq}")
  }

  test("per-script shingle width is a real knob for SHORT Korean: " +
    "Hangul packs ~2x the information per char, so an equal-content " +
    "edit costs ~2x the Jaccard — on a one-sentence doc the same " +
    "single-syllable edit falls below threshold at n=5 and is caught " +
    "at n=4") {
    import spark.implicits._
    // 19 syllables, one mid substitution (내부 → 외부): kills 5 of 15
    // 5-gram shingles (J = 10/20 = 0.50 < 0.6) but only 4 of 16
    // 4-grams (J = 12/20 = 0.60 ≥ 0.6)
    val a = "실험 결과는 내부 회의에서 공유된 뒤 보관된다"
    val b = a.replace("내부", "외부")
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    assert(Dedup.cjkNearDupPairs(docs, "doc_id", "text").count() == 0,
      "at n=5 the edit fraction pushes the pair below the threshold")
    val caught = Dedup.cjkNearDupPairs(docs, "doc_id", "text", n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(caught.toSeq == Seq((1L, 2L)),
      "n=4 must recover the short-Korean pair")
  }

  test("d07 ⊆ d31 ⊆ d05 within the corpus, and d31 catches a " +
    "near-threshold pair the single-set d07 bucket misses") {
    val vecs = Tables.embeddings(spark, sf)
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val d05 = pairs(Dedup.cosineNearDup(vecs, "vec_id", "embedding", 0.45))
    val d07 = pairs(Dedup.cosineNearDupLsh(vecs, "vec_id", "embedding", 0.45))
    val d31 = pairs(Dedup.cosineNearDupLshMulti(vecs, "vec_id", "embedding", 0.45))
    assert(d05.nonEmpty && d07.subsetOf(d31) && d31.subsetOf(d05))
    // the d28 crafted pair, placed WITHIN one corpus: set-0 buckets
    // differ (d07 misses), set-1 agree (d31 catches)
    import spark.implicits._
    def dot(v: Array[Float], set: Int, i: Int): Double =
      v.indices.foldLeft(0.0)((acc, j) => acc +
        v(j).toDouble *
          Similarity.weight(set * Similarity.NumPlanes + i, j, 64).toDouble)
    def bucket(v: Array[Float], set: Int): Int =
      (0 until Similarity.NumPlanes)
        .map(i => if (dot(v, set, i) > 0) 1 << i else 0).sum
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def d(x: Array[Float], y: Array[Float]) =
        x.indices.foldLeft(0.0)((acc, j) => acc + x(j).toDouble * y(j).toDouble)
      d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b)))
    }
    val rnd = new scala.util.Random(29)
    val found = Iterator.continually {
      val u = Array.fill(64)(rnd.nextGaussian().toFloat)
      val v = u.map(x => x + rnd.nextGaussian().toFloat * 0.55f)
      (u, v)
    }.take(20000).find { case (u, v) =>
      cos(u, v) >= 0.5 &&
        bucket(u, 0) != bucket(v, 0) && bucket(u, 1) == bucket(v, 1)
    }
    assert(found.isDefined)
    val crafted = Seq((1L, found.get._1.toSeq), (2L, found.get._2.toSeq))
      .toDF("vec_id", "embedding")
    assert(Dedup.cosineNearDupLsh(crafted, "vec_id", "embedding", 0.45)
      .count() == 0, "the single-set bucket must miss this pair")
    val got = Dedup.cosineNearDupLshMulti(crafted, "vec_id", "embedding", 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L)))
  }

  test("the version fingerprints derive from the live constants — a " +
    "constant change cannot leave a stale store loadable") {
    assert(Similarity.pqVersion.contains(s"m=${Similarity.PqSubspaces}") &&
      Similarity.pqVersion.contains(Similarity.EncoderVersion))
    assert(Similarity.sqVersion.contains(s"quant=${Similarity.Quant}"))
    assert(Similarity.ivfVersion.contains(s"k=${Similarity.KmeansK}"))
    assert(Multimodal.frameVersion
      .contains(s"frame_bytes=${Multimodal.FrameBytes}"))
    // distinct per family: invalidating one family's stores must not
    // depend on another family's constants
    assert(Set(Similarity.pqVersion, Similarity.sqVersion,
      Similarity.ivfVersion, Multimodal.frameVersion).size == 4)
  }
}
