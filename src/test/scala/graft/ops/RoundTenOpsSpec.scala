package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.TestSpark

/** Round-10 additions: the x15 join-size audit, the persisted-index
  * seams that close the ANN (p07), SQ8 (k24), media (m10/p08) and ER
  * (p09) nightly loops, and their load≡train / incremental≡one-shot
  * contracts. */
class RoundTenOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  test("x15 AMS join size: audit readout is exact-side-correct and in envelope") {
    import spark.implicits._
    val audit = Sketches.amsJoinAudit(Tables.orders(spark, sf), "o_custkey",
      Tables.customer(spark, sf), "c_custkey").head()
    val (est, exact, relErr) =
      (audit.getLong(0), audit.getLong(1), audit.getLong(2))
    // exact side recomputes: custkey is unique in customer, so the
    // join cardinality is the number of orders with a matching key
    val want = Tables.orders(spark, sf).as("o")
      .join(Tables.customer(spark, sf).as("c"),
        $"o.o_custkey" === $"c.c_custkey")
      .count()
    assert(exact == want, "exact join cardinality")
    // the readout's own error field recomputes from its two numbers
    val diff = est - exact
    val wantErr =
      if (diff >= 0) diff * 1000000L / exact
      else -((-diff) * 1000000L / exact)
    assert(relErr == wantErr, "sign-safe relative error")
    // x13's 3x envelope: r=16 atoms give ~35% relative std on the
    // inner product at this key distribution
    assert(est > exact / 3 && est < exact * 3,
      s"join-size estimate $est must track exact $exact")
    // consistency with the published estimator: the audit's est IS
    // amsJoinSize of the two table sketches
    val zo = Sketches.amsZ(
      Tables.orders(spark, sf).select($"o_custkey".as("k")), "k")
    val zc = Sketches.amsZ(
      Tables.customer(spark, sf).select($"c_custkey".as("k")), "k")
    assert(Sketches.amsJoinSize(zo, zc).head().getLong(0) == est)
  }

  test("p07 IVFPQ persistence: serve-from-loaded equals in-session serve") {
    val dir = java.nio.file.Files
      .createTempDirectory("p07_spec_").toString
    Similarity.ivfPqWriteAll(spark, sf, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(rows(Similarity.ivfPqServeLoaded(spark, sf, dir)) ==
      rows(Similarity.ivfPqServe(spark, sf, Similarity.IvfPqNprobe)),
      "the published index must answer exactly what the trained one does")
    // the coarse artifacts themselves round-trip bit-exactly
    val (lAssign, lCents) = Similarity.ivfLoadCoarse(spark, s"$dir/coarse")
    assert(lAssign.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Similarity.sharedKmeansAssign(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(lCents.count() == Similarity.sharedCellCentroids(spark, sf).count())
  }

  test("p07 frozen-coarse encode: batch-independent, lands in trained cells") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val cents = Similarity.sharedCellCentroids(spark, sf)
    def enc(df: org.apache.spark.sql.DataFrame) =
      Similarity.ivfCoarseEncodeWith(df, "vec_id", "embedding", cents)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // a vector's cell depends only on (vector, centroids): encoding
    // the corpus in one batch equals encoding two halves separately
    val whole = enc(emb)
    val halves = enc(emb.filter($"vec_id" % 2 === 0)) ++
      enc(emb.filter($"vec_id" % 2 =!= 0))
    assert(whole == halves, "frozen-quantizer encode must be batch-independent")
    // every delta vector lands in an existing trained cell (serve-able)
    val cells = cents.select($"cluster").collect().map(_.getLong(0)).toSet
    assert(whole.values.toSet.subsetOf(cells))
  }

  test("k24 SQ8 persistence: serve-from-loaded equals in-session k21") {
    val dir = java.nio.file.Files
      .createTempDirectory("k24_spec_").toString
    val vn = Similarity.sharedNormalized(spark, sf)
    val (stats, codes) = Similarity.sqTrainIndex(vn)
    Similarity.sqWriteIndex(stats, codes, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val k21 = graft.SparkEntry.queries("k21_sq8")(spark, sf)
    assert(rows(Similarity.sqServeLoaded(spark, sf, dir)) == rows(k21),
      "the loaded SQ8 index must answer exactly what in-session training does")
    // frozen-stats delta encode is batch-independent (the k18 contract
    // on the SQ seam): codes depend only on (vector, stats)
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    def enc(df: org.apache.spark.sql.DataFrame) =
      Similarity.sqEncodeWith(
          graft.ops.Similarity.sharedNormalized(spark, sf)
            .join(df.select($"vec_id"), "vec_id"), stats)
        .select($"vec_id", $"codes").collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
    val whole = enc(emb)
    val halves = enc(emb.filter($"vec_id" % 2 === 0)) ++
      enc(emb.filter($"vec_id" % 2 =!= 0))
    assert(whole == halves, "frozen-stats SQ encode must be batch-independent")
  }

  test("m10/p08 media store: loaded-serve and incremental merge equal one-shot") {
    // m10: pairs served from the loaded signature store == direct m08
    def pairRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(pairRows(Multimodal.queries("m10_frame_store")(spark, sf)) ==
      pairRows(Multimodal.videoNearDupPairs(Multimodal.mediaFrames(spark, sf))),
      "the loaded frame store must yield exactly the one-shot m08 pairs")
    // p08: standing-loaded + delta-fresh + star merge == one-shot m09
    def labels(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val oneShot = Clusters.connectedComponents(
      Multimodal.videoNearDupPairs(Multimodal.mediaFrames(spark, sf))
        .select(col("doc_a"), col("doc_b")), "doc_a", "doc_b")
    assert(labels(Multimodal.queries("p08_media_maintenance")(spark, sf)) ==
      labels(oneShot),
      "rolled-forward media labels must equal the one-shot clustering")
  }

  test("m10 serve plan: the frame store scan prunes to (doc_id, frame_hash)") {
    // the near-dup serve must never read frame_bytes/frame_idx off the
    // store - at 100 TB the signature scan is the dominant serve cost
    val dir = graft.ops.IndexPaths.dir("m10_plan_spec", sf)
    Multimodal.frameWriteStore(Multimodal.mediaFrames(spark, sf), dir)
    val formatted = Multimodal.videoNearDupPairs(
        Multimodal.frameLoadStore(spark, dir))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    // the serve's leaves are the parquet scan (ReadSchema) and/or the
    // r19 membership checkpoint (Scan ExistingRDD[attrs] — its output
    // attrs ARE what was materialized off the pruned scan beneath it);
    // both leaf forms must carry only the signature columns
    val schemas = "ReadSchema: struct<([^>]*)>".r
      .findAllMatchIn(formatted).map(_.group(1)).toSeq
    val rddLeaves =
      "(?m)^\\(\\d+\\) Scan ExistingRDD\\s*\\nOutput \\[\\d+\\]: \\[([^\\]]*)\\]".r
        .findAllMatchIn(formatted).map(_.group(1)).toSeq
    assert((schemas ++ rddLeaves).nonEmpty, formatted.take(2000))
    (schemas ++ rddLeaves).foreach { s =>
      assert(!s.contains("frame_bytes") && !s.contains("frame_idx"),
        s"store scan must prune to the signature columns, got: $s")
    }
  }

  test("p07/k24 serve plans: probe gates and stats broadcast, no cartesian blowup") {
    val dir = java.nio.file.Files
      .createTempDirectory("p07_plan_spec_").toString
    Similarity.ivfPqWriteAll(spark, sf, dir)
    val p07 = Similarity.ivfPqServeLoaded(spark, sf, dir)
      .queryExecution.executedPlan.toString
    assert(p07.contains("BroadcastHashJoin"),
      "cell gate / distance tables must broadcast:\n" + p07.take(2000))
    assert(!p07.contains("CartesianProduct"),
      "no unbroadcast cross join in the serve path:\n" + p07.take(2000))
    val sqDir = java.nio.file.Files
      .createTempDirectory("k24_plan_spec_").toString
    val (stats, codes) = Similarity.sqTrainIndex(
      Similarity.sharedNormalized(spark, sf))
    Similarity.sqWriteIndex(stats, codes, sqDir)
    val k24 = Similarity.sqServeLoaded(spark, sf, sqDir)
      .queryExecution.executedPlan.toString
    assert(k24.contains("Broadcast"),
      "the one-row stats and the probes must broadcast:\n" + k24.take(2000))
    assert(!k24.contains("CartesianProduct"),
      "no unbroadcast cross join in the serve path:\n" + k24.take(2000))
  }

  test("e26 DiD: group-invariant time trends and group offsets cancel") {
    import spark.implicits._
    // synthetic panel: 40 users x (2 pre + 2 post) purchase events with
    // user-dependent values, so both groups and both periods are lively
    def panel(postShift: Double, groupOffset: Boolean) = {
      val rows = for {
        u <- 1 to 40; (tsDay, post) <- Seq((1, false), (2, false),
          (10, true), (11, true))
      } yield {
        // user x period interaction so change scores VARY by user
        // (constant d across a group would zero the variance and null z)
        val base = (u % 7).toDouble * tsDay * 0.25
        val off = if (groupOffset && u % 3 == 0) 100.0 else 0.0
        val v = base + off + (if (post) postShift else 0.0)
        (u.toLong, java.sql.Timestamp.valueOf(f"2024-01-$tsDay%02d 12:00:00"),
          "purchase", v)
      }
      rows.toDF("user_id", "ts", "event_type", "value")
    }
    def did(postShift: Double, groupOffset: Boolean) = {
      val r = Events.didReadout(panel(postShift, groupOffset), "user_id",
        "ts", col("event_type") === "purchase", "value").head()
      (r.getLong(r.fieldIndex("did_q6")), r.getLong(r.fieldIndex("z_q6")))
    }
    val base = did(0.0, groupOffset = false)
    // adding a constant to EVERY post-period value shifts both groups'
    // change scores equally: DiD and z must not move (parallel trends)
    assert(did(5.0, groupOffset = false) == base,
      "a group-invariant time trend must cancel out of DiD")
    // a time-invariant per-user offset (some users +100 in BOTH
    // periods) cancels inside each user's change score: DiD unchanged
    assert(did(0.0, groupOffset = true) == base,
      "a time-invariant group difference must cancel out of DiD")
    // internal consistency on real data: did_q6 recomputes (within q6
    // rounding slack) from the four published period means
    val r = Events.didReadout(Tables.events(spark, sf), "user_id", "ts",
      col("event_type") === "purchase", "value").head()
    def g(n: String) = r.getLong(r.fieldIndex(n))
    val fromMeans = (g("post1_q6") - g("pre1_q6")) - (g("post0_q6") - g("pre0_q6"))
    assert(math.abs(g("did_q6") - fromMeans) <= 2,
      s"did_q6=${g("did_q6")} must agree with the period means ($fromMeans)")
  }

  test("k25 tombstone serve: deletes vanish from results, never from probes") {
    import spark.implicits._
    val dead = Tables.embeddings(spark, sf).select($"vec_id")
      .filter($"vec_id" % 7 === 3)
    val deadSet = dead.collect().map(_.getLong(0)).toSet
    val served = Similarity.ivfPqServeTombstoned(spark, sf, dead).collect()
    assert(served.nonEmpty)
    // no tombstoned vector may ever be RETURNED
    assert(!served.exists(r => deadSet(r.getLong(r.fieldIndex("neighbor_id")))),
      "a tombstoned vec_id must never appear as a neighbor")
    // but tombstoned vectors still QUERY (probes are not filtered)
    assert(served.exists(r => deadSet(r.getLong(r.fieldIndex("probe_id")))),
      "tombstoned probes must still be answered")
    // an empty tombstone table is a no-op: exactly k19's results
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(rows(Similarity.ivfPqServeTombstoned(spark, sf,
        dead.filter($"vec_id" < 0))) ==
      rows(Similarity.ivfPqServe(spark, sf, Similarity.IvfPqNprobe)),
      "empty tombstones must serve exactly the untombstoned index")
  }

  test("x16 theta intersect: exact under capacity, audited in envelope above") {
    import spark.implicits._
    // both sides under sketch capacity: theta = P and the estimate is
    // EXACT by construction
    val small = Sketches.bottomKIntersect(
      (1L to 60L).toDF("v"), "v", (31L to 90L).toDF("v"), "v").head()
    assert(small.getLong(small.fieldIndex("theta")) == Hashing.P)
    assert(small.getLong(small.fieldIndex("exact_inter")) == 30L)
    assert(math.round(small.getDouble(small.fieldIndex("est_inter"))) == 30L)
    assert(small.getLong(small.fieldIndex("rel_err_q6")) == 0L)
    // over-capacity real data: the direct-observation estimator stays
    // inside the x13-style 3x envelope of the exact intersection
    val li = Tables.lineitem(spark, sf)
    val big = Sketches.bottomKIntersect(
      li.filter($"l_returnflag" === "R").select($"l_partkey"), "l_partkey",
      li.filter($"l_returnflag" === "A").select($"l_partkey"), "l_partkey")
      .head()
    val (est, exact) = (big.getDouble(big.fieldIndex("est_inter")),
      big.getLong(big.fieldIndex("exact_inter")))
    assert(exact > 0 && est > exact / 3.0 && est < exact * 3.0,
      s"theta estimate $est must track exact $exact")
  }

  test("t21 BPE train: equals an in-memory reference BPE; ranks are a prefix chain") {
    import spark.implicits._
    val docs = Seq(
      "the cat sat on the mat", "the cats eat fish 42 times",
      "a mat is where the cat sat", "fish swim and cats nap",
      "THE CAT and the MAT again").toDF("text")
    // reference BPE (Sennrich 2016): word-frequency table, per-round
    // global pair argmax with (count desc, left asc, right asc) ties,
    // greedy left-to-right rewrite
    var vocab: Map[Vector[String], Long] = docs.collect()
      .flatMap(_.getString(0).split(" "))
      .filter(_.matches("^[A-Za-z]+$")).map(_.toLowerCase)
      .groupBy(identity).map { case (w, ws) =>
        (w.toVector.map(_.toString) :+ "</w>", ws.length.toLong) }
    val want = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    for (_ <- 1 to TextOps.BpeMerges) {
      val counts = vocab.toSeq.flatMap { case (sym, c) =>
        sym.sliding(2).filter(_.length == 2).map(p => ((p(0), p(1)), c)) }
        .groupBy(_._1).map { case (p, xs) => (p, xs.map(_._2).sum) }
      val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
      want += ((l, r, c))
      vocab = vocab.map { case (sym, cnt) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        for (t <- sym) {
          if (out.nonEmpty && out.last == l && t == r)
            out(out.length - 1) = l + r
          else out += t
        }
        (out.toVector, cnt)
      }.groupBy(_._1).map { case (s, xs) => (s, xs.map(_._2).sum) }
    }
    val got = TextOps.bpeTrain(docs, "text").orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(got == want.toSeq,
      s"distributed BPE must equal the reference merges\ngot:  $got\nwant: ${want.toSeq}")
    // prefix stability: the first K-1 merges of a K-merge run are the
    // (K-1)-merge run (training deeper never rewrites earlier merges)
    val shallow = TextOps.bpeTrain(docs, "text", TextOps.BpeMerges - 1)
      .orderBy("rank").collect().map(_.toSeq).toSeq
    assert(got.take(TextOps.BpeMerges - 1) ==
      shallow.map(r => (r(1), r(2), r(4))),
      "a deeper run must extend, not rewrite, a shallower one")
  }

  test("p09 ER publish: rollup served from the loaded map equals in-session er03") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(graft.SparkEntry.queries("p09_entity_maintenance")(spark, sf)) ==
      rows(Entity.entityRollupFromMap(Tables.part(spark, sf), "p_name",
        Entity.sharedCanonicalMap(spark, sf))),
      "the published canonical map must serve exactly the in-session rollup")
  }
}
