package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.TestSpark

/** Round-19 additions: the delete lifecycle CLOSED on the d32 semantic
  * bucket store (expunge compaction + ratio trigger — the d33/m13/k28
  * pattern on the fourth and last store family), the r16 streamed
  * delete feed generalized to the media/ANN/semantic serves, and the
  * whole loop promoted into one oracled catalog entry
  * (p12_delete_lifecycle). */
class RoundNineteenOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("d35: StoreSwap.compact over Dedup.semanticBucketsStore equals " +
    "publish-over-remainder — " +
    "the compacted store's rows AND its serve match a fresh store " +
    "built over corpus-minus-tombstones") {
    val d35 = graft.SparkEntry.queries("d35_semantic_compacted_serve")(
      spark, sf)
    val vecs = Tables.embeddings(spark, sf)
    val remainder = vecs.filter(col("vec_id") % 10 =!= 0 &&
      col("vec_id") % 7 =!= 3)
    val ref = IndexPaths.dir("d35_ref", sf)
    Dedup.semanticBucketsWrite(remainder, "vec_id", "embedding", ref)
    // store-level: per-vector pure bucket rows ⇒ bit-for-bit equality
    assert(rows(spark.read.parquet(
        s"${IndexPaths.dir("d35_index", sf)}/buckets")) ==
      rows(spark.read.parquet(s"$ref/buckets")),
      "compacted bucket table must equal a fresh remainder publish")
    // serve-level: d35 ≡ the remainder store's plain d32 serve
    assert(rows(d35) == rows(Dedup.semanticDecontaminateFromStore(spark,
        ref, remainder, vecs.filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", threshold = 0.45)),
      "compact → serve must equal publish-over-remainder → serve")
  }

  test("d35: delta appends survive compaction — append-fragmented " +
    "buckets compact to the same remainder store, and the serve " +
    "equals the one-shot") {
    val vecs = Tables.embeddings(spark, sf)
    val corpus = vecs.filter(col("vec_id") % 10 =!= 0)
    val dir = IndexPaths.dir("d35_append", sf)
    // nightly shape: standing half published, delta half appended
    Dedup.semanticBucketsWrite(corpus.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", dir)
    Dedup.semanticBucketsAppend(corpus.filter(col("vec_id") % 2 =!= 0),
      "vec_id", "embedding", dir)
    val dead = vecs.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
    StoreSwap.compact(spark, Seq(Dedup.semanticBucketsStore(dir)), dead)
    val ref = IndexPaths.dir("d35_append_ref", sf)
    Dedup.semanticBucketsWrite(
      corpus.filter(col("vec_id") % 7 =!= 3), "vec_id", "embedding", ref)
    assert(rows(spark.read.parquet(s"$dir/buckets")) ==
      rows(spark.read.parquet(s"$ref/buckets")),
      "compaction over publish+append fragments must equal a fresh " +
        "remainder publish")
  }

  test("StoreSwap.compactIfNeeded over Dedup.semanticBucketsStore: the " +
    "ratio policy declines a " +
    "trickle (store untouched, still stamped) and a poison-stamped " +
    "store refuses compaction, load, and append") {
    val vecs = Tables.embeddings(spark, sf)
    val corpus = vecs.filter(col("vec_id") % 10 =!= 0)
    val dir = IndexPaths.dir("d35_policy", sf)
    Dedup.semanticBucketsWrite(corpus, "vec_id", "embedding", dir)
    val n = spark.read.parquet(s"$dir/buckets").count()
    assert(n > 20, "fixture store too small for a 10% threshold")
    val one = corpus.select(col("vec_id")).orderBy(col("vec_id")).limit(1)
    assert(!StoreSwap.compactIfNeeded(spark, Dedup.semanticBucketsStore(dir),
        one),
      "one delete must not trigger a store rebuild")
    assert(IndexMeta.isStamped(dir) &&
      spark.read.parquet(s"$dir/buckets").count() == n,
      "a declined compaction must leave the store untouched")
    // the full %7==3 set (~14% of the store) crosses the default ratio
    val dead = vecs.filter(col("vec_id") % 7 === 3).select(col("vec_id"))
    assert(StoreSwap.compactIfNeeded(spark, Dedup.semanticBucketsStore(dir),
        dead),
      "the accumulated set must cross the ratio and compact")
    // poison: a crashed swap leaves SwapPoison — every consumer fails
    IndexMeta.stampVersion(dir, StoreSwap.SwapPoison)
    intercept[IllegalStateException] {
      Dedup.semanticBucketsLoad(spark, dir)
    }
    intercept[IllegalStateException] {
      Dedup.semanticBucketsAppend(corpus.limit(1), "vec_id", "embedding",
        dir)
    }
    intercept[IllegalStateException] {
      StoreSwap.compactIfNeeded(spark, Dedup.semanticBucketsStore(dir), dead)
    }
    ()
  }

  test("stream-fed delete sets equal their static twins: m14 ≡ m12, " +
    "k29 ≡ k25, d36 ≡ d34") {
    Seq(
      ("m14_tombstone_stream", "m12_tombstone_serve"),
      ("k29_tombstone_stream", "k25_tombstone_serve"),
      ("d36_semantic_tombstone_stream", "d34_semantic_decon_tombstoned"))
      .foreach { case (streamed, static) =>
        assert(rows(graft.SparkEntry.queries(streamed)(spark, sf)) ==
          rows(graft.SparkEntry.queries(static)(spark, sf)),
          s"$streamed must equal $static (set union ≡ static table)")
      }
  }

  test("d31's maxBucketDocs deployment cap: default-off is " +
    "bit-identical to the oracle path, and a binding cap yields a " +
    "SUBSET (pairs lost only inside over-dense buckets)") {
    val vecs = Tables.embeddings(spark, sf)
    val base = rows(Dedup.cosineNearDupLshMulti(vecs, "vec_id",
      "embedding", threshold = 0.45))
    // default (0) and an unreachable cap are the oracle path verbatim
    assert(rows(Dedup.cosineNearDupLshMulti(vecs, "vec_id", "embedding",
      threshold = 0.45, maxBucketDocs = 1000000)) == base)
    // a binding cap can only DROP pairs, never invent or re-score one
    val capped = rows(Dedup.cosineNearDupLshMulti(vecs, "vec_id",
      "embedding", threshold = 0.45, maxBucketDocs = 2))
    assert(capped.subsetOf(base),
      "capped candidates must be a subset of the exact-verify set")
    assert(capped.size < base.size,
      "a cap of 2 docs/bucket must bind on the fixture's buckets")
  }

  test("the decon family's maxBucketDocs backstop (bench×corpus seam): " +
    "default-off is the oracle path verbatim, a binding cap only " +
    "WEAKENS matches (rows drop, surviving counts can only shrink)") {
    // sf0.01 like the d37 test, but cap=50, not d37's 100: the decon
    // corpus is the non-bench 90% (densest bucket ~93 docs — 100 no
    // longer binds), while a cap the fixture's 16 buckets ALL exceed
    // would pass vacuously with an empty result; 50 sits between
    // threshold 0.1, not the entries' 0.45: at sf0.01/0.45 the final
    // output is ONE match from an under-cap bucket, so no final-output
    // assertion could witness the cap binding; 0.1 lets dense-bucket
    // pairs through to the output where the drop becomes observable
    val vecs = Tables.embeddings(spark, "/root/testdata/sf0.01")
    val corpus = vecs.filter(col("vec_id") % 10 =!= 0)
    val probe = vecs.filter(col("vec_id") % 10 === 0)
    def run(cap: Int) = Dedup.semanticDecontaminateLshMulti(
      corpus, probe, "vec_id", "embedding", threshold = 0.1,
      maxBucketDocs = cap).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val base = run(0)
    // an unreachable cap is the oracle path verbatim
    assert(run(1000000) == base)
    // a binding cap drops candidate pairs, never invents them: every
    // surviving vec_id was matched before, with no more bench matches
    // than before, and its max_cos cannot EXCEED the uncapped one
    val capped = run(50)
    assert(capped.nonEmpty && capped.size <= base.size)
    // the binding witness is the total MATCH count (a vec whose dense-
    // bucket pairs are dropped usually keeps an under-cap match, so
    // the row count alone can stay flat)
    assert(capped.values.map(_._1).sum < base.values.map(_._1).sum,
      "cap=50 must drop matches from sf0.01's densest buckets")
    capped.foreach { case (id, (n, mc)) =>
      val (bn, bmc) = base(id)
      assert(n <= bn, s"vec $id gained matches under the cap")
      assert(mc <= bmc, s"vec $id max_cos rose under the cap")
    }
  }

  test("d37: the catalog's capped entry BINDS at the verify scale — " +
    "a strict subset of d31 at sf0.01, so its DuckDB oracle exercises " +
    "the drop path for real, not vacuously") {
    val v01 = "/root/testdata/sf0.01"
    val d31 = rows(graft.SparkEntry.queries("d31_neardup_multiprobe")(
      spark, v01))
    val d37 = rows(graft.SparkEntry.queries("d37_neardup_multiprobe_capped")(
      spark, v01))
    assert(d37.subsetOf(d31), "capped pairs must come from d31's set")
    assert(d37.size < d31.size,
      "cap=100 must drop pairs at sf0.01 (densest buckets are ~103 docs)")
    assert(d37.nonEmpty,
      "the cap must not drop everything at the verify scale")
  }

  test("p12: the full delete lifecycle entry (drain → decline → " +
    "corrected serve → drain → fire → retire → clean serve) equals " +
    "the one-shot compacted entry d33") {
    assert(rows(graft.SparkEntry.queries("p12_delete_lifecycle")(spark, sf))
      == rows(graft.SparkEntry.queries("d33_cjk_compacted_serve")(spark, sf)))
  }
}
