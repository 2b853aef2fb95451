package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.etl.TestSpark

/** Round-13 additions: the p08 df-drift guard (serve from the
  * published standing labels exactly when no standing hash crossed
  * the df cap) and the m11 stream-edge cross readout. */
class RoundThirteenOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session
  private val sf = "/root/testdata/sf0.001"

  private def frames(rows: (Long, Long)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "frame_hash")
  }

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toMap

  private def oneShot(all: DataFrame, floor: Long, maxDf: Int): DataFrame =
    Clusters.connectedComponents(
      Multimodal.videoNearDupPairs(all, floor, maxDf)
        .select(col("doc_a"), col("doc_b")), "doc_a", "doc_b")

  test("p08 guard PASS: no df crossover serves the published labels, " +
    "equal to one-shot") {
    // standing (even ids): (0,2) share h1 at publish-time jac 0.5;
    // delta doc 1 shares h2 with doc 0 (global df(h2)=2 ≤ maxDf=2,
    // df(h1)=2 unchanged) — no standing hash crosses the cap
    val floor = 500000L
    val standing = frames(0L -> 101L, 0L -> 102L, 2L -> 101L)
    val delta = frames(1L -> 102L)
    val published = Clusters.connectedComponents(
      Multimodal.videoNearDupPairs(standing, floor, 2)
        .select(col("doc_a"), col("doc_b")), "doc_a", "doc_b")
    assert(labels(published) == Map(0L -> 0L, 2L -> 0L))
    var loads = 0
    val served = Multimodal.mediaServeFrom(standing, delta,
      () => { loads += 1; published }, floor, maxDf = 2)
    val want = oneShot(standing.unionByName(delta), floor, 2)
    assert(labels(want) == Map(0L -> 0L, 1L -> 0L, 2L -> 0L),
      "fixture must produce a cross pair that extends the cluster")
    assert(labels(served) == labels(want))
    assert(loads == 1, "the guard must have served the published labels")
  }

  test("p08 guard FIRE: a delta-induced df crossover forces the " +
    "recompute, equal to one-shot") {
    // publish-time pair (0,2) via h1 (standing df 2 ≤ maxDf 2); the
    // delta re-uses h1, pushing global df to 3 > 2 — h1 becomes
    // boilerplate, the published (0,2) pair is no longer real, and
    // serving the stale labels would wrongly keep 0 and 2 clustered.
    // (4,6) is an untouched standing cluster that must survive.
    val floor = 300000L
    val standing = frames(0L -> 101L, 0L -> 106L, 2L -> 101L, 2L -> 107L,
      4L -> 104L, 4L -> 105L, 6L -> 104L, 6L -> 105L)
    val delta = frames(1L -> 101L)
    val published = Clusters.connectedComponents(
      Multimodal.videoNearDupPairs(standing, floor, 2)
        .select(col("doc_a"), col("doc_b")), "doc_a", "doc_b")
    assert(labels(published) ==
      Map(0L -> 0L, 2L -> 0L, 4L -> 4L, 6L -> 4L),
      "fixture must publish a pair the delta will invalidate")
    val served = Multimodal.mediaServeFrom(standing, delta,
      () => fail("stale labels must not be served across a df crossover"),
      floor, maxDf = 2)
    val want = oneShot(standing.unionByName(delta), floor, 2)
    assert(labels(want) == Map(4L -> 4L, 6L -> 4L),
      "the crossover must dissolve the (0,2) cluster in the one-shot run")
    assert(labels(served) == labels(want))
  }

  test("m11 stream-edge readout: frozen-df cross pairs are " +
    "standing×delta only and reproducible") {
    val out = Multimodal.queries("m11_stream_neardup")(spark, sf)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(rows.nonEmpty, "fixture must contain cross-set media near-dups")
    rows.foreach { case (a, b, inter, union, jac) =>
      assert(a % 2 == 0 && b % 2 != 0, "doc_a standing (even), doc_b delta (odd)")
      assert(inter >= 1 && union >= inter)
      assert(jac == inter * 1000000L / union && jac >= Multimodal.VideoJacFloorQ6)
    }
    // deterministic: a second run over the same corpus is identical
    val again = Multimodal.queries("m11_stream_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(again == rows)
  }

  private def t22Rows(df: DataFrame): Map[Long, (Long, Long, Boolean)] =
    df.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap

  test("t22: scoring with the LOADED model equals the in-session " +
    "model, and the keep gate is the quantized threshold") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val standing = docs.filter(col("doc_id") % 2 === 0)
    val arriving = docs.filter(col("doc_id") % 2 =!= 0)
    val (uni, bi) = TextOps.lmTrain(standing, "doc_id", "text")
    val inSession = TextOps.lmScoreWith(arriving, "doc_id", "text", uni, bi)
      .withColumn("keep", col("logp2_q6") >= TextOps.LmKeepThresholdQ6)
    val served = t22Rows(TextOps.queries("t22_lm_quality_persisted")(spark, sf))
    assert(served.nonEmpty, "fixture must score some arriving docs")
    assert(t22Rows(inSession) == served)
    served.foreach { case (_, (n, q, keep)) =>
      assert(n >= 1)
      assert(keep == (q >= TextOps.LmKeepThresholdQ6))
    }
  }

  test("t22: frozen-model scoring is batch-independent — per-batch " +
    "serves union to the one-shot serve") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sf)
    val (uni, bi) = TextOps.lmTrain(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text")
    val arriving = docs.filter(col("doc_id") % 2 =!= 0)
    val oneShot = t22Rows(TextOps.lmScoreWith(arriving, "doc_id", "text",
        uni, bi)
      .withColumn("keep", col("logp2_q6") >= TextOps.LmKeepThresholdQ6))
    val batched = Seq(
      arriving.filter(col("doc_id") % 4 === 1),
      arriving.filter(col("doc_id") % 4 === 3)).map(b =>
      t22Rows(TextOps.lmScoreWith(b, "doc_id", "text", uni, bi)
        .withColumn("keep", col("logp2_q6") >= TextOps.LmKeepThresholdQ6)))
    assert(batched.forall(_.nonEmpty), "both batches must score docs")
    assert(batched.reduce(_ ++ _) == oneShot)
  }

  private def knnRows(df: DataFrame): Set[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("k26: filtered serve returns only eligible neighbors, answers " +
    "every probe, and an all-pass filter equals k19") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf)
    val eligible = emb.filter(col("label") % 2 === 0).select(col("vec_id"))
    val eligibleIds = eligible.collect().map(_.getLong(0)).toSet
    val filtered = knnRows(Similarity.ivfPqServeFiltered(spark, sf, eligible))
    assert(filtered.nonEmpty)
    filtered.foreach { case (_, _, n) =>
      assert(eligibleIds.contains(n), s"neighbor $n must pass the predicate")
    }
    assert(filtered.map(_._1) ==
      knnRows(Similarity.ivfPqServe(spark, sf, Similarity.IvfPqNprobe))
        .map(_._1),
      "probes must not be filtered — every k19 probe answers here too")
    val allPass = knnRows(Similarity.ivfPqServeFiltered(spark, sf,
      emb.select(col("vec_id"))))
    assert(allPass ==
      knnRows(Similarity.ivfPqServe(spark, sf, Similarity.IvfPqNprobe)),
      "an all-pass predicate must reduce to the unfiltered k19 serve")
  }

  test("t23: distributed BPE encode equals an in-memory reference " +
    "encoder under the same learned merges, for every document") {
    import org.apache.spark.sql.functions.col
    val merges = TextOps.sharedBpeMerges(spark, sf)
    assert(merges.size == TextOps.BpeMerges)
    // reference: greedy leftmost non-overlapping merge, rank order
    def encode(word: String): Seq[String] = {
      var sym: Seq[String] = word.map(_.toString) :+ "</w>"
      merges.foreach { case (l, r, m) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < sym.length) {
          if (i + 1 < sym.length && sym(i) == l && sym(i + 1) == r) {
            out += m; i += 2
          } else { out += sym(i); i += 1 }
        }
        sym = out.toSeq
      }
      sym
    }
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val want = docs.map { case (id, text) =>
      val ws = text.split(" ", -1).filter(_.matches("[A-Za-z]+"))
        .map(_.toLowerCase)
      id -> ((ws.length.toLong, ws.map(w => encode(w).length.toLong).sum))
    }
    val got = TextOps.bpeEncodeCounts(Tables.documents(spark, sf),
        "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got.keySet == docs.keySet, "one row per document, merges or not")
    assert(got == want)
    assert(want.values.exists(_._1 > 0), "fixture must contain alpha words")
    // the merges compress: strictly fewer tokens than raw chars+markers
    val rawSymbols = docs.map { case (_, text) =>
      text.split(" ", -1).filter(_.matches("[A-Za-z]+"))
        .map(_.length.toLong + 1).sum
    }.sum
    assert(got.values.map(_._2).sum < rawSymbols)
  }

  test("k27: filtered recall answers every probe with recall in [0, 1]") {
    val out = graft.SparkEntry.queries("k27_filtered_recall")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSet == (0L until Similarity.NumProbes.toLong).toSet,
      "one recall row per probe")
    out.foreach { case (_, hits, q6) =>
      assert(hits >= 0 && hits <= Similarity.TopK)
      assert(q6 == math.round(hits.toDouble / Similarity.TopK * 1e6))
    }
  }

  test("er10: delta triage takes the exact, fuzzy, and new branches " +
    "correctly on a synthetic dictionary") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // standing: "acme corp"/"acme corpn" cluster (canon "acme corp"),
    // "beta rod" singleton. delta: exact hit, fuzzy variant, new name.
    val standing = Seq("acme corp", "acme corpn", "beta rod").toDF("p_name")
    val delta = Seq("acme corp", "acme corq", "zzz unrelated").toDF("p_name")
    val map = Entity.canonicalMapFromPairs(standing, "p_name",
      Entity.jaroWinklerPairsUnion(standing, "p_name"))
    assert(map.collect().map(r => (r.getString(0), r.getString(1))).toMap ==
      Map("acme corp" -> "acme corp", "acme corpn" -> "acme corp",
        "beta rod" -> "beta rod"),
      "fixture must cluster the acme variants under 'acme corp'")
    val got = Entity.deltaCanonicalize(standing, delta, "p_name", map)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got == Map(
      "acme corp" -> "acme corp",      // exact: published canon adopted
      "acme corq" -> "acme corp",      // fuzzy: best standing match donates its canon
      "zzz unrelated" -> "zzz unrelated")) // new: self-canonical
  }

  test("er10: harness serve covers every distinct delta name exactly once") {
    import org.apache.spark.sql.functions.{col, expr}
    graft.functions.VectorFunctions.register(spark)
    val part = Tables.part(spark, sf)
    val out = graft.SparkEntry.queries("er10_delta_canonicalize")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)))
    val deltaNames = part.filter(expr("graft_polyhash(p_name) % 4").isin(2, 3))
      .select(col("p_name")).distinct().collect().map(_.getString(0)).toSet
    assert(out.map(_._1).toSet == deltaNames)
    assert(out.length == deltaNames.size, "one verdict row per delta name")
    assert(out.nonEmpty)
  }

  test("e27: counts accumulate monotonically across looks and the " +
    "final look IS e24's fixed-horizon readout") {
    import org.apache.spark.sql.functions.col
    val convertIf = col("event_type") === "purchase" &&
      col("value") >= Events.ConvertValue
    val looks = Events.sequentialAbReadout(Tables.events(spark, sf),
        "user_id", "ts", convertIf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4),
        if (r.isNullAt(5)) None else Some(r.getLong(5))))
      .sortBy(_._1)
    assert(looks.map(_._1).toSeq == (1L to Events.SeqLooks.toLong))
    looks.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2 && b._3 >= a._3 && b._4 >= a._4 && b._5 >= a._5,
        "per-variant denominators and conversions must be cumulative")
    case _ => ()
    }
    val e24 = Events.abTestReadout(Tables.events(spark, sf), "user_id",
      "event_type", convertIf).collect().head
    val last = looks.last
    assert((last._2, last._3, last._4, last._5) ==
      (e24.getLong(0), e24.getLong(1), e24.getLong(3), e24.getLong(4)),
      "look K covers [min, max] entirely — it must equal e24's counts")
    assert(last._6 == (if (e24.isNullAt(7)) None else Some(e24.getLong(7))),
      "and e24's z")
  }

  test("v13: PSI readout has the constant bin spine, conserves counts, " +
    "and is zero for identical populations") {
    import org.apache.spark.sql.functions.col
    val events = Tables.events(spark, sf)
    val out = Profile.driftPsi(events, "value", col("user_id") % 2 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).sortBy(_._1)
    assert(out.map(_._1).toSeq == (0L until Profile.PsiBins.toLong),
      "every bin must be present, empty or not")
    assert(out.map(r => r._2 + r._3).sum == events.count(),
      "binning must conserve the event count")
    // recompute each term from the integer counts — the engine's
    // double expression must match the definition
    val totRef = out.map(_._2).sum.toDouble + Profile.PsiBins
    val totCur = out.map(_._3).sum.toDouble + Profile.PsiBins
    out.foreach { case (_, nr, nc, q6) =>
      val p = (nr + 1).toDouble / totRef
      val q = (nc + 1).toDouble / totCur
      assert(math.abs(q6 - (p - q) * math.log(p / q) * 1e6) <= 1.0)
    }
    // identical populations: p == q in every bin, PSI exactly 0
    val same = Profile.driftPsi(
      events.select(col("value"), (col("user_id") * 2).as("user_id"))
        .unionByName(events.select(col("value"),
          (col("user_id") * 2 + 1).as("user_id"))),
      "value", col("user_id") % 2 === 0)
    assert(same.collect().forall(_.getLong(3) == 0L))
  }
}
