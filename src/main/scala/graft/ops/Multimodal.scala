package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Extracted per-blob metadata. `width`/`height` come from the stubbed
  * decoder — see [[Multimodal.decodeStub]]. */
case class MediaMeta(doc_id: Long, n_bytes: Long, width: Long, height: Long,
                     checksum: Long)

/** Multimodal-column plumbing (SURVEY.md §7.5 / builder brief): treat
  * media as opaque `binary` columns and run decode / feature-extraction
  * as a partition-parallel typed pipeline.
  *
  * The container has no image/audio codecs, so [[decodeStub]] is a
  * clearly-marked deterministic FAKE standing in for e.g. a JPEG header
  * parse — but everything around it is the real Spark shape a 100 TB
  * media pipeline needs:
  *  - media bytes live in a `binary` column (here synthesized from
  *    `documents.text` since the testdata ships no real blobs);
  *  - decode runs in `mapPartitions` over a typed `Dataset`, i.e. one
  *    executor-local loop per partition with no per-row UDF dispatch and
  *    a natural place to hoist per-partition decoder init (codec context,
  *    model handle) outside the row loop;
  *  - the output is a typed, columnar-friendly metadata frame that joins
  *    back to the catalog by key.
  *
  * Because the stub is pure integer arithmetic over the bytes, the
  * DuckDB oracle can replicate it — giving the plumbing a real
  * correctness gate, not just a rows>0 smoke check.
  */
object Multimodal {
  /** STUB — deterministic fake decoder. A real deployment replaces this
    * body with an actual codec call; signature and surrounding plumbing
    * stay unchanged. */
  def decodeStub(id: Long, bytes: Array[Byte]): MediaMeta = {
    val n = bytes.length.toLong
    var checksum = 0L
    var i = 0
    while (i < bytes.length) {
      checksum = (checksum * 31 + (bytes(i) & 0xffL)) % Hashing.P
      i += 1
    }
    MediaMeta(id, n, 16L + n % 64L, 16L + (n * 31L) % 64L, checksum)
  }

  /** Decode a `(id, binary)` frame into metadata, partition-parallel. */
  def decode(blobs: DataFrame): Dataset[MediaMeta] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.select(col("doc_id").cast("long").as("_1"), col("media").as("_2"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // Per-partition init would go here (decoder context, arena, ...)
        it.map { case (id, bytes) => decodeStub(id, bytes) }
      }
  }

  /** Frame size for [[queries]]' m02 chunker. */
  val FrameBytes = 32

  /** Downsampling stride for m03's resize stub. */
  val ResizeStep = 4

  /** Frame sampling as a reusable frame table: split each blob into
    * fixed-size frames, one row per frame with its offset and content
    * hash — the generator (explode) shape a video frame-sampler or
    * audio chunker needs. The "media" is the ASCII text bytes (no
    * codecs in the container), so the DuckDB oracles replicate the
    * chunking on the string form. Feeds m02 directly and m05's
    * frame-level dedup. */
  def mediaFrames(s: SparkSession, d: String): DataFrame =
    framesOf(Tables.documents(s, d))

  /** [[mediaFrames]] over a caller-supplied documents frame — the
    * per-micro-batch entry point: fingerprinting is a pure per-row
    * function of the blob (frame split + polyhash, no corpus state),
    * so [[graft.streaming.MediaStream]] applies THIS to each arriving
    * batch and the union over batches equals the one-shot run
    * identically (pinned by MediaStreamSpec). */
  def framesOf(docs: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    rawFramesOf(docs)
      .select(col("doc_id"), col("frame_idx"),
        length(col("frame")).cast("long").as("frame_bytes"),
        expr("graft_polyhash(frame)").as("frame_hash"))
  }

  /** The frame generator with the frame CONTENT still attached —
    * [[framesOf]] reduces it to (size, hash); m07 folds the bytes
    * instead. */
  private def rawFrames(s: SparkSession, d: String): DataFrame =
    rawFramesOf(Tables.documents(s, d))

  private def rawFramesOf(docs: DataFrame): DataFrame =
    docs
      // guard: empty text would hit integer-division floor-vs-truncate
      // divergence between engines
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("text"),
        posexplode(expr(
          s"transform(sequence(0, (length(text) - 1) div $FrameBytes), " +
          s"i -> substring(text, i * $FrameBytes + 1, $FrameBytes))"))
          .as(Seq("frame_idx", "frame")))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("frame"))

  /** m07 loud-frame threshold: a frame is LOUD when its mean byte value
    * is at least this (measured corpus mean ≈ 94.7, so ~30% of frames
    * clear it — a real split, not all-or-nothing). */
  val EnergyMeanByte = 96L

  /** Energy-threshold segmentation (m07) — the voice-activity-detection
    * plumbing shape: per-frame "energy" (byte-value sum over the stub
    * media bytes — swap in a real PCM/RMS fold, keep the plan), a
    * threshold gate relative to frame size, then adjacent loud frames
    * coalesced into segments with the q28 gaps-islands window. This is
    * how an audio pipeline finds speech spans to cut, embed, or
    * transcribe — per doc, emit `(seg_start, seg_end, n_frames,
    * seg_energy)` per loud run.
    *
    * Scale shape: energy is a map-side fold inside the frame generate;
    * the only exchange is partitionBy(doc_id) for the island window +
    * segment aggregation (two window/agg steps behind ONE exchange,
    * same partitioning). Integer throughout — byte sums and counts,
    * no floats to diverge. */
  def energySegments(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    rawFrames(s, d)
      .select(col("doc_id"), col("frame_idx"),
        expr("aggregate(transform(split(frame, ''), ch -> ascii(ch)), 0L," +
          " (acc, x) -> acc + x)").as("energy"),
        length(col("frame")).cast("long").as("fb"))
      .filter(col("energy") >= col("fb") * lit(EnergyMeanByte))
      .withColumn("grp", col("frame_idx") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("frame_idx")).as("seg_start"),
        max(col("frame_idx")).as("seg_end"),
        count(lit(1)).as("n_frames"),
        sum(col("energy")).as("seg_energy"))
      .select(col("doc_id"), col("seg_start"), col("seg_end"),
        col("n_frames"), col("seg_energy"))
  }

  /** MULTIMODAL CURATION PIPELINE (p04) — the m-family composed the
    * way a video curation job actually runs, as ONE lazy plan (the
    * p03 move on the media seam): decode/frame-sample the blobs
    * (m01/m02's shared frame table), detect scene cuts (m06), keep
    * ONE representative frame per scene (the cut frame), and drop
    * representatives whose content is a corpus-wide duplicate kept
    * elsewhere (m05's min-(doc,frame) keeper — repeated intros/
    * watermark cards survive exactly once across the whole corpus).
    * Output: `(doc_id, frame_idx, frame_hash, scene_id)` — the frame
    * set a downstream embed/caption stage would pay for.
    *
    * Staying declarative end-to-end matters: no stage materializes, so
    * Catalyst prunes the frame CONTENT column away right after hashing
    * (both consumers need only the hash). The frame generate runs
    * TWICE — once under the scene window, once under the keeper
    * aggregate — the same recompute-over-carry trade as the dedup
    * verify paths: re-exploding frames map-side costs a scan, while
    * materializing the frame table to share it would cost a write +
    * read of the full frame set. Exchanges: one partitionBy(doc_id)
    * for the scene window, one hash-key exchange for the keeper
    * table, one semi-join on (hash, doc, frame). */
  def curationPipeline(s: SparkSession, d: String): DataFrame = {
    val frames = mediaFrames(s, d)
    scenesOf(frames).filter(col("is_cut"))
      .join(keepersOf(frames)
          .select(col("frame_hash"), col("keep_doc").as("doc_id"),
            col("keep_frame").as("frame_idx")),
        Seq("frame_hash", "doc_id", "frame_idx"), "left_semi")
      .select(col("doc_id"), col("frame_idx"), col("frame_hash"),
        col("scene_id"))
  }

  /** m06's scene chain over a `(doc_id, frame_idx, frame_hash, …)`
    * frame table — lag/Hamming/cut flag/running scene id — shared by
    * the m06 catalog entry and [[curationPipeline]] so the cut
    * predicate can never drift between the component and the composed
    * pipeline. */
  def scenesOf(frames: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    frames
      .withColumn("prev_hash", lag(col("frame_hash"), 1).over(w))
      .withColumn("hamming", when(col("prev_hash").isNotNull,
        expr("bit_count(prev_hash ^ frame_hash)").cast("long")))
      .withColumn("is_cut",
        col("prev_hash").isNull || col("hamming") >= SceneCutBits)
      .withColumn("scene_id",
        sum(when(col("is_cut"), lit(1L)).otherwise(lit(0L)))
          .over(w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0))
          .cast("long"))
  }

  /** m05's corpus-wide keeper election over a frame table — one row
    * per distinct frame content with its copy count and lexicographic
    * min-(doc, frame) keeper — shared by the m05 catalog entry and
    * [[curationPipeline]]. */
  def keepersOf(frames: DataFrame): DataFrame =
    frames.groupBy(col("frame_hash"))
      .agg(count(lit(1)).as("n_copies"),
        min(struct(col("doc_id"), col("frame_idx"))).as("_k"))
      .select(col("frame_hash"), col("n_copies"),
        col("_k.doc_id").as("keep_doc"),
        col("_k.frame_idx").as("keep_frame"))

  /** m08 df cap: a frame hash appearing in more media items than this
    * is boilerplate (intro/watermark) and priced out of similarity —
    * the d02 MaxShingleDf move on the media seam. */
  val MaxFrameDf = 50

  /** m08 report floor: pairs sharing less than this boilerplate-
    * discounted Jaccard (micro-units) are noise, not near-dups. */
  val VideoJacFloorQ6 = 200000L

  /** Media-item near-dup detection (m08) — Jaccard over each item's
    * FRAME-HASH SET: two videos that share most of their (sampled,
    * fingerprinted) frames are the same content re-encoded, trimmed,
    * or watermarked — the dedup question image/video corpora actually
    * ask, which d-family text shingles can't see and m05's exact
    * frame keeper only answers frame-by-frame. Boilerplate frames
    * (corpus df > `maxDf`) are excluded from BOTH the intersection
    * and the set sizes, so a shared intro sequence can't make two
    * unrelated videos "similar" — the same discounting d16 applies to
    * boilerplate lines and m05 exists to catch.
    *
    * Scale shape = d02's bucket architecture with the frame hash as
    * the bucket key: per-item distinct hash sets, a df-capped
    * hash-keyed pair join (fan-out bounded by maxDf² per hash — never
    * all-pairs), one pair aggregation, two id-keyed size joins.
    * Frame CONTENT never shuffles — 8-byte hashes only. Integer
    * Jaccard in micro-units (non-negative `div`). Output:
    * `(doc_a, doc_b, inter, union_sz, jac_q6)` at or above the
    * floor. */
  def videoNearDupPairs(frames: DataFrame, floorQ6: Long = VideoJacFloorQ6,
                        maxDf: Int = MaxFrameDf): DataFrame = {
    val (rare, sizes) = rareFrameSets(frames, maxDf)
    videoPairsOn(rare, sizes, lit(true), floorQ6)
  }

  /** The m08 prologue as a reusable pair: the df-capped distinct
    * `(doc_id, frame_hash)` membership table and the per-item
    * boilerplate-discounted set sizes. Split out so the incremental
    * path (p08) can compute them ONCE over standing ∪ delta and then
    * generate each pair class against the same global sets — the df
    * cap and the Jaccard denominators are corpus-wide properties, so
    * per-pair scores come out identical to the one-shot m08 whichever
    * batch the endpoints arrived in. */
  def rareFrameSets(frames: DataFrame,
                    maxDf: Int = MaxFrameDf): (DataFrame, DataFrame) = {
    // materialize the distinct membership set ONCE (lazy localCheckpoint
    // — the first action stores it): its two consumers (the df cap and
    // the rare semi-join) push DIFFERENT null filters into the frame
    // generate, so their exchanges canonicalize apart and AQE cannot
    // stage-share them — measured at sf0.1, the frame explode+hash (the
    // readout's whole linear term; at deployment scale, the blob
    // decode) executed TWICE per readout (guide §1.2/§2.4). The
    // checkpoint is two longs per frame, the same "persist the
    // prepared artifact" trade the PQ train path documents.
    val fh = frames.select(col("doc_id"), col("frame_hash")).distinct()
      .localCheckpoint(false)
    val rare = fh.join(
      fh.groupBy(col("frame_hash")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select(col("frame_hash")),
      Seq("frame_hash"), "left_semi")
    (rare, rare.groupBy(col("doc_id")).agg(count(lit(1)).as("n")))
  }

  /** The m08 pair join/score/floor over caller-supplied global sets,
    * restricted to pairs satisfying `pairCond` (over the joined
    * `a`/`b` sides) — `lit(true)` is the one-shot m08; p08 passes the
    * batch-parity classes. */
  private def videoPairsOn(rare: DataFrame, sizes: DataFrame,
                           pairCond: Column,
                           floorQ6: Long = VideoJacFloorQ6): DataFrame =
    rare.as("a").join(rare.as("b"),
        col("a.frame_hash") === col("b.frame_hash") &&
          col("a.doc_id") < col("b.doc_id") && pairCond)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("_na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("_nb")), "doc_b")
      .withColumn("union_sz", col("_na") + col("_nb") - col("inter"))
      .withColumn("jac_q6", expr("(inter * 1000000) div union_sz"))
      .filter(col("jac_q6") >= floorQ6)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("union_sz"),
        col("jac_q6"))

  /** Persist a frame-signature table (d19's two-table move on the
    * media seam): the m02 `(doc_id, frame_idx, frame_bytes,
    * frame_hash)` rows ARE the standing artifact of media dedup —
    * deriving them is the expensive half (blob decode + frame sample
    * + fingerprint; at 100 TB of video, by far the dominant cost),
    * while everything downstream (m08 pairs, m09 clusters) touches
    * only the 8-byte hashes. A deployment fingerprints each media
    * item ONCE at ingest and every nightly dedup pass reads this
    * store instead of re-decoding blobs. All-int64 columns, bit-exact
    * through parquet (m10 shares m08's oracle verbatim). */
  def frameWriteStore(frames: DataFrame, dir: String): Unit = {
    // unstamp → write → stamp ([[IndexMeta]]'s torn-write contract);
    // the stamp file starts with '_' so Spark's parquet reader treats
    // it as hidden metadata, like _SUCCESS
    IndexMeta.unstamp(dir)
    frames.write.mode("overwrite").parquet(dir)
    IndexMeta.stampVersion(dir, frameVersion)
  }

  /** Load a persisted frame-signature store, failing loudly unless its
    * [[frameVersion]] stamp matches the current codec + fingerprint
    * definition — a store fingerprinted under a different frame size
    * or hash would silently miss every cross-store near-dup. */
  def frameLoadStore(spark: SparkSession, dir: String): DataFrame = {
    IndexMeta.checkVersion(dir, frameVersion)
    // recursive: a store may mix a flat publisher write with
    // stream-appended batchId subdirs (MediaStream's idempotent sink)
    graft.streaming.Drain.readSink(spark, dir)
  }

  /** Version fingerprint of a persisted frame-signature store
    * ([[frameWriteStore]]): the decode stub revision + every constant
    * `frame_hash` is a function of. Derived from the live constants,
    * so changing the frame size or hash auto-invalidates stale
    * stores. */
  def frameVersion: String =
    s"graft-frame-1 codec=stub-ascii frame_bytes=$FrameBytes " +
      "hash=graft_polyhash"

  /** The frame-signature store as [[StoreSwap]] compacts it (m13's
    * EXPUNGE-DELETES) — the r15 move on the media family: m12's serve
    * anti-joins its delete set per query forever, so serve cost
    * degrades as deletions accrue; one [[StoreSwap.compact]] pass drops
    * the tombstoned items' signature rows, rewrites the store beside
    * itself, and swaps under the [[IndexMeta]] stamp-off/stamp-on
    * contract — after which the tombstone set RETIRES. Nothing to
    * correct: every store row is a pure per-item function (frames of
    * the item's own blob), and every global readout input (boilerplate
    * list, set sizes) is recomputed from the store at serve time — so
    * the compacted store equals `fingerprint(corpus minus tombstones)`
    * bit-for-bit and `compact → serve` equals m12's tombstone serve.
    * One broadcast anti-join over the signature rows; blobs are never
    * touched. The rows live at the store root (no subtables). */
  def frameStore(dir: String): StoreSwap.Store =
    StoreSwap.Store(dir, frameVersion, "doc_id", Nil)

  /** p08's build half: fingerprint the standing (even) corpus, publish
    * its signatures, AND publish its cluster labels — the nightly
    * ingest-side write. The labels are computed under standing-only
    * rare sets; [[mediaServeFrom]]'s df-drift guard decides at serve
    * time whether they are still exact under the delta-shifted global
    * sets (they are iff no standing hash crossed the df cap). */
  def mediaStorePublish(s: SparkSession, d: String): Unit = {
    val framesDir = IndexPaths.dir("p08_frames", d)
    val labelsDir = IndexPaths.dir("p08_labels", d)
    // PAIR-publish contract: the labels stamp comes off BEFORE the
    // frames are touched. The two artifacts are separately stamped
    // pure-definition fingerprints, so without this a crash between
    // the frames write and the labels write would leave BOTH
    // individually valid — last night's labels served against
    // tonight's frames, silently mixing generations. With the early
    // unstamp, any crash after the frames start changing leaves the
    // labels either absent (first publish → the recompute degrade,
    // correct over the new frames) or present-but-unstamped (torn →
    // loud at serve).
    IndexMeta.unstamp(labelsDir)
    frameWriteStore(mediaFrames(s, d).filter(col("doc_id") % 2 === 0),
      framesDir)
    Clusters.connectedComponents(
      videoNearDupPairs(frameLoadStore(s, framesDir))
        .select(col("doc_a"), col("doc_b")),
      "doc_a", "doc_b")
      .write.mode("overwrite").parquet(labelsDir)
    IndexMeta.stampVersion(labelsDir, labelsVersion)
  }

  /** Version fingerprint of a published labels artifact: the frame
    * fingerprint definition plus every constant the pair set (and so
    * the components) is a function of. */
  def labelsVersion: String =
    s"$frameVersion labels-1 floor=$VideoJacFloorQ6 df=$MaxFrameDf"

  /** p08's serve half: standing signatures from the store, delta
    * fingerprinted fresh, labels rolled forward (see p08's `phases`
    * entry and [[mediaServeFrom]]). */
  def mediaServeMerged(s: SparkSession, d: String): DataFrame =
    mediaServeFrom(
      frameLoadStore(s, IndexPaths.dir("p08_frames", d)),
      mediaFrames(s, d).filter(col("doc_id") % 2 =!= 0),
      () => {
        val labelsDir = IndexPaths.dir("p08_labels", d)
        // artifact PRESENT but unstamped/stale = a torn or foreign
        // publish → loud failure; artifact ABSENT entirely = an older
        // publisher → the read below throws PATH_NOT_FOUND and
        // mediaServeFrom's narrow catch degrades to the recompute
        if (new java.io.File(labelsDir).exists())
          IndexMeta.checkVersion(labelsDir, labelsVersion)
        s.read.parquet(labelsDir)
      })

  /** The p08 serve body over caller-supplied tables (standing docs
    * carry EVEN ids, delta docs ODD — the harness's membership
    * encoding, which the pair-class predicates key on).
    *
    * The df cap and set sizes are global corpus properties, so in
    * general yesterday's standing labels are not exact under today's
    * rare sets — THE reason earlier rounds recomputed the
    * standing-standing pairing every serve. But the drift is
    * one-directional and cheap to detect: df only grows as deltas
    * arrive, so the published labels are invalidated EXACTLY when
    * some hash present in the standing corpus crossed the cap
    * (standing-df ≤ maxDf < global-df). The guard is one aggregate
    * over hash dfs (no pair fan-out); when it comes back empty, the
    * standing side's rare rows — and therefore its pair scores and
    * labels — are bit-identical under either df basis, and the serve
    * reuses the PUBLISHED labels, skipping both the standing-standing
    * pair join (the largest pair class) and its CC fixpoint. When a
    * crossover exists, the serve falls back to the full recompute.
    * Both branches produce exactly the one-shot m09 labels (the
    * pair-class partition argument on p08's `phases` entry), so p08's
    * oracle is unchanged; the guard-pass branch is additionally
    * pinned by the synthetic both-branches spec in RoundOpsSpec.
    *
    * The one driver-side decision is `crossover.isEmpty` — a limit-1
    * probe of a hash-df aggregate, the bounded-decision precedent of
    * the k-means convergence counters. */
  def mediaServeFrom(standingFrames: DataFrame, deltaFrames: DataFrame,
                     loadLabels: () => DataFrame,
                     floorQ6: Long = VideoJacFloorQ6,
                     maxDf: Int = MaxFrameDf): DataFrame = {
    // ONE df aggregate feeds everything: the distinct (doc, hash) set
    // carries standing provenance, so global df (gdf) and standing df
    // (sdf) fall out of a single count — where earlier rounds ran
    // three separate df passes (rareFrameSets' own, plus one per guard
    // side). A doc-hash present on both sides collapses to one row
    // with _st = 1, matching the union-distinct + standing-distinct
    // semantics of the separate passes exactly.
    // materialized once (lazy localCheckpoint): fh feeds the df
    // aggregate, the rare semi-join, AND the crossover guard — three
    // consumers whose diverging pushed filters defeat AQE stage reuse
    // (the rareFrameSets note), so the delta's frame generate and the
    // store scan each ran once per consumer before this
    val fh = standingFrames.select(col("doc_id"), col("frame_hash"))
      .withColumn("_st", lit(1L))
      .unionByName(deltaFrames.select(col("doc_id"), col("frame_hash"))
        .withColumn("_st", lit(0L)))
      .groupBy(col("doc_id"), col("frame_hash"))
      .agg(max(col("_st")).as("_st"))
      .localCheckpoint(false)
    val dfs = fh.groupBy(col("frame_hash"))
      .agg(count(lit(1)).as("gdf"), sum(col("_st")).as("sdf"))
    val rare = fh.select(col("doc_id"), col("frame_hash")).join(
      dfs.filter(col("gdf") <= maxDf).select(col("frame_hash")),
      Seq("frame_hash"), "left_semi")
    val sizes = rare.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    def pairsWhere(f: (Column, Column) => Column) =
      videoPairsOn(rare, sizes, f(col("a.doc_id"), col("b.doc_id")), floorQ6)
        .select(col("doc_a"), col("doc_b"))
    // invalidation = some hash PRESENT in standing (sdf ≥ 1) was under
    // the cap at publish time (sdf ≤ maxDf) but over it globally
    val crossover = dfs.filter(col("gdf") > maxDf &&
      col("sdf") >= 1 && col("sdf") <= maxDf)
    def recompute() = Clusters.connectedComponents(
      pairsWhere((a, b) => a % 2 === 0 && b % 2 === 0), "doc_a", "doc_b")
    val standing =
      if (crossover.isEmpty)
        // a frame store published by an older publisher (or
        // frameWriteStore alone) has no labels artifact — that must
        // degrade to the recompute branch, not fail only when the
        // guard happens to pass. The catch is NARROW (path-not-found
        // only): a corrupt or unreadable labels table must FAIL, not
        // silently run the expensive recompute forever — only the
        // legitimately-absent artifact degrades, and it says so.
        try loadLabels()
        catch {
          case e: org.apache.spark.sql.AnalysisException
              if e.getCondition == "PATH_NOT_FOUND" =>
            System.err.println(
              "[p08] labels artifact absent (older publisher?) — " +
                "serving via the full standing recompute: " +
                Option(e.getMessage).getOrElse("").linesIterator
                  .take(1).mkString)
            recompute()
        }
      else recompute()
    // The delta-touching pair set is delta-sized by construction;
    // checkpoint it so the empty-night decision is one cheap probe and
    // the merge fixpoint's cached edge derivation reads materialized
    // rows instead of re-running the pair join. Merging an EMPTY edge
    // set is an identity on the standing labels (p05's argument on the
    // text seam), so a pair-free night returns them as-is.
    val deltaEdges = pairsWhere((a, b) => a % 2 =!= 0 || b % 2 =!= 0)
      .localCheckpoint()
    if (deltaEdges.isEmpty)
      standing.select(col("doc_id"), col("cluster_id"))
    else Clusters.mergeComponents(standing, deltaEdges)
  }

  /** Cross-set near-dup readout of arriving media vs the STANDING
    * frame store, with the df cap FROZEN at the standing corpus — the
    * media seam's stream-edge operator, the exact analogue of
    * [[Dedup.minhashServeDelta]] on the dedup seam: between nightly
    * p08 recomputes, each arriving item is scored against the
    * published signatures only, and because every global input
    * (boilerplate hash list, standing set sizes) is a pure function
    * of the FROZEN store, the result for a delta item never depends
    * on which micro-batch delivered it — union over any batch split
    * equals the one-shot run identically (this is what lets
    * [[graft.streaming.MediaStream]] exist with zero state store;
    * pinned by MediaStreamSpec's batch-split identity).
    *
    * Semantics, deliberately asymmetric vs [[videoNearDupPairs]]: the
    * boilerplate list is standing-only (an arriving intro frame not
    * yet frequent in the store still counts — the stream can't see
    * future deltas, and a frozen gate is the only batch-independent
    * one), and delta-delta pairs are out of scope until the nightly
    * p08 merge — the same contract minhashServeDelta pins on the text
    * seam. Within one corpus snapshot both sides' sets discount the
    * SAME boilerplate list, so scores are comparable across the
    * stream's lifetime.
    *
    * Scale shape: the boilerplate and standing-size tables are
    * hash-table-sized (bounded by distinct rare hashes / standing
    * items) and broadcast under AQE; the only join that touches the
    * store is hash-keyed with fan-out ≤ `maxDf` per hash; frame
    * CONTENT never shuffles — the delta batch is reduced to 8-byte
    * hashes map-side. Output: `(doc_a standing, doc_b delta, inter,
    * union_sz, jac_q6)` at or above the floor. */
  def crossNearDupVsStore(store: DataFrame, delta: DataFrame,
                          floorQ6: Long = VideoJacFloorQ6,
                          maxDf: Int = MaxFrameDf): DataFrame = {
    // one materialized membership set per side (the rareFrameSets
    // note): the store side feeds the rare semi-join AND the
    // boilerplate df; the delta side feeds the pair join AND its
    // sizes — without the checkpoint each side's distinct subtree
    // (and the delta's frame generate, the readout's linear term)
    // executed once per consumer
    val sfh = store.select(col("doc_id"), col("frame_hash")).distinct()
      .localCheckpoint(false)
    val standingRare = sfh.join(
      sfh.groupBy(col("frame_hash")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf).select(col("frame_hash")),
      Seq("frame_hash"), "left_semi")
    val standingSizes = standingRare.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"))
    val boiler = sfh
      .groupBy(col("frame_hash")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("frame_hash"))
    val deltaRare = delta.select(col("doc_id"), col("frame_hash")).distinct()
      .localCheckpoint(false)
      .join(boiler, Seq("frame_hash"), "left_anti")
    val deltaSizes = deltaRare.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"))
    standingRare.as("a").join(deltaRare.as("b"),
        col("a.frame_hash") === col("b.frame_hash"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(standingSizes.select(col("doc_id").as("doc_a"),
        col("n").as("_na")), "doc_a")
      .join(deltaSizes.select(col("doc_id").as("doc_b"),
        col("n").as("_nb")), "doc_b")
      .withColumn("union_sz", col("_na") + col("_nb") - col("inter"))
      .withColumn("jac_q6", expr("(inter * 1000000) div union_sz"))
      .filter(col("jac_q6") >= floorQ6)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("union_sz"),
        col("jac_q6"))
  }

  def phases: IndexPaths.Phases = {
    // harness wiring: standing = even ids, delta = odd ids, each
    // fingerprinted from its documents blob
    def frames(s: SparkSession, d: String, f: Column) =
      framesOf(Tables.documents(s, d).filter(f))
    def publishEven(tag: String): (SparkSession, String) => Unit =
      (s, d) => frameWriteStore(frames(s, d, col("doc_id") % 2 === 0),
        IndexPaths.dir(tag, d))
    def serveOdd(tag: String, store: DataFrame => DataFrame = identity)
        : (SparkSession, String) => DataFrame =
      (s, d) => crossNearDupVsStore(
        store(frameLoadStore(s, IndexPaths.dir(tag, d))),
        frames(s, d, col("doc_id") % 2 =!= 0))
    def dead(s: SparkSession, d: String) =
      Tables.documents(s, d).filter(col("doc_id") % 5 === 2)
    Map(
      // m12 — m11 under a STANDING DELETE SET: the r13/k25/d29
      // tombstone move on the media store, completing the symmetry
      // across all four persisted families. A taken-down media item
      // must stop matching arrivals NOW, not at the next nightly p08
      // republish; the broadcast tombstone set anti-joins the loaded
      // store BEFORE the readout, and because every global input of
      // [[crossNearDupVsStore]] (boilerplate list, standing set sizes)
      // is a pure function of the store frame it receives, the result
      // equals publish(standing minus tombstones) + serve exactly — the
      // family's rebuild-equivalence contract, which is what lets the
      // oracle be m11's text with the tombstone predicate folded into
      // the standing side.
      "m12_tombstone_serve" -> ((publishEven("m12_frames"),
        (s, d) => serveOdd("m12_frames",
          StoreSwap.dropDead(_, "doc_id", dead(s, d)))(s, d))),
      // m13 — m12's deletes EXPUNGED at rebuild time: publish the
      // standing store, COMPACT the tombstoned items out, retire the
      // tombstone set, and serve the delta readout with no tombstone
      // logic at all. Shares m12's oracle (compact → serve ≡
      // publish-over-remainder + serve).
      "m13_compacted_serve" -> ((
        (s, d) => {
          publishEven("m13_frames")(s, d)
          StoreSwap.compact(s, Seq(frameStore(IndexPaths.dir("m13_frames", d))),
            dead(s, d))
        },
        serveOdd("m13_frames"))),
      // m14 — m12 with the delete set arriving AS A STREAM (the r16
      // takedown-feed shape on the media family): item takedowns drain
      // through [[graft.streaming.TombstoneStream]] into the standing
      // set (batchId-keyed idempotent appends), and the m12 serve
      // anti-joins the ACCUMULATED set off the loaded store. The set
      // union over any batch split equals the static %5==2 table (zero
      // streaming state; the anti-join distincts the set), so m14
      // shares m12's oracle verbatim. Set dir cleared at entry start
      // (the r12 clear-then-append discipline — no stream checkpoint).
      "m14_tombstone_stream" -> ((
        (s, d) => {
          val setDir = IndexPaths.dir("m14_tombstones", d)
          IndexPaths.clear(setDir)
          publishEven("m14_frames")(s, d)
          val (srcDir, glob) = Tables.streamSource(d, "documents")
          graft.streaming.TombstoneStream.runAvailableNow(s, srcDir,
            graft.streaming.Drain.DocumentsSchema, "doc_id", setDir,
            deltaFilter = col("doc_id") % 5 === 2, glob = glob)
        },
        (s, d) => serveOdd("m14_frames", StoreSwap.dropDead(_, "doc_id",
          graft.streaming.Drain.readSink(s,
            IndexPaths.dir("m14_tombstones", d))))(s, d))),
      // m10 — the persisted-store round trip: fingerprint the corpus,
      // WRITE the frame store, and serve the m08 near-dup pairs
      // entirely from the LOADED signatures (no blob re-decode on the
      // serve path); shares m08's oracle verbatim
      "m10_frame_store" -> ((
        (s, d) => frameWriteStore(mediaFrames(s, d),
          IndexPaths.dir("m10_frames", d)),
        (s, d) => videoNearDupPairs(frameLoadStore(s,
          IndexPaths.dir("m10_frames", d))))),
      // p08 — the NIGHTLY MEDIA MAINTENANCE loop end-to-end (p05's
      // shape on the media seam): the standing (even) corpus's frame
      // signatures are published to the store and loaded back — the
      // only blob decode the standing side ever pays happened at its
      // own ingest — while the arriving (odd) delta batch is
      // fingerprinted fresh. The df cap and set sizes are computed once
      // over standing ∪ delta (global corpus properties,
      // hash-table-sized work), then the full pair set is generated as
      // its three parity classes against those same global sets: the
      // standing cluster labels come from the PUBLISHED copy when the
      // df-drift guard proves them still exact, from a recompute
      // otherwise (see [[mediaServeFrom]]), and the cross + delta-delta
      // pairs merge in by star contraction (c19). The store saves the
      // DECODE — the standing corpus's only blob fingerprinting
      // happened at its own ingest — and, when no standing hash
      // crossed the df cap, the standing-standing pairing too. Pair
      // classes partition m08's pair set and each pair's Jaccard uses
      // the same global sets ⇒ the merged labels equal the one-shot m09
      // clustering exactly, whichever branch the guard takes.
      "p08_media_maintenance" -> ((
        (s, d) => mediaStorePublish(s, d),
        (s, d) => mediaServeMerged(s, d))),
      // m11 — the stream-edge readout as a catalog entry, in the
      // harness wiring (standing = even ids' PERSISTED store, delta =
      // odd ids, fingerprinted fresh): publish the standing signatures,
      // load them back, and score the whole delta against the loaded
      // copy with the df cap FROZEN at the standing corpus — the
      // one-shot equivalent of what [[graft.streaming.MediaStream]]
      // does micro-batch by micro-batch (batch-independent by
      // construction)
      "m11_stream_neardup" -> ((publishEven("m11_frames"),
        serveOdd("m11_frames"))))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    IndexPaths.oneShot(phases) ++ Map(
    // frame-set Jaccard between media items — re-encode/trim/watermark
    // near-dups the text shingle family can't see
    // m09: the c01 closure over m08's pairs — duplicate-media CLUSTERS
    // (a trimmed copy of a re-encode of the original all land in one
    // cluster even when only adjacent pairs cross the Jaccard floor)
    "m09_media_clusters" -> ((s, d) =>
      Clusters.connectedComponents(
        videoNearDupPairs(mediaFrames(s, d))
          .select(col("doc_a"), col("doc_b")),
        "doc_a", "doc_b")),
    "m08_video_neardup" -> ((s, d) =>
      videoNearDupPairs(mediaFrames(s, d))),
    "m01_media_meta" -> ((s, d) => {
      val blobs = Tables.documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("media"))
      decode(blobs).toDF()
    }),

    "m02_media_frames" -> ((s, d) => mediaFrames(s, d)),

    "m07_energy_segments" -> ((s, d) => energySegments(s, d)),

    // Frame-level exact dedup ACROSS media items — the d01 pattern over
    // the m02 frame table (repeated intros/outros/watermark frames are
    // the multimodal analogue of boilerplate text): one hash-keyed
    // aggregation, keeper chosen by a lexicographic STRUCT MIN over
    // (doc_id, frame_idx) — a single exact aggregate on both engines
    // (Spark min(struct(...)), DuckDB min({'d':…,'f':…})) with no
    // overflow precondition, unlike an arithmetic doc*base+frame pack
    // whose base bounds the frame index.
    "m05_frame_dedup" -> ((s, d) => keepersOf(mediaFrames(s, d))),

    // Resize/downsample stub: keep every 4th byte — the plumbing shape
    // of a thumbnail/re-encode stage (input blob → smaller blob +
    // refreshed metadata), with the transform portable enough for the
    // oracle to replicate on the string form.
    "m03_media_resize" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      Tables.documents(s, d)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"),
          expr(s"concat_ws('', transform(sequence(0, (length(text) - 1) div $ResizeStep), " +
               s"i -> substring(text, i * $ResizeStep + 1, 1)))").as("small"))
        .select(col("doc_id"), length(col("small")).cast("long").as("n_bytes_small"),
          expr("graft_polyhash(small)").as("small_hash"))
    }),

    // Media-embedding → ANN composition: a deterministic stub
    // "embedding model" (8 affine-hash projections of the content hash
    // onto [-1, 1] — standing in for a CLIP/audio encoder; replace the
    // expression, keep the plumbing) feeds the SAME brute top-k shape
    // as k01: probes broadcast, one corpus pass, rank window per probe.
    // This is the multimodal→similarity loop a media pipeline runs:
    // decode → embed → index/search, all portable enough to oracle.
    "m04_media_knn" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      val P = Hashing.P
      val dims = (0 until EmbedDims).map { j =>
        s"cast((h * ${Hashing.MinHashA(j)}L + ${Hashing.MinHashB(j)}L) % ${P}L as double) / $P.0D * 2.0D - 1.0D"
      }.mkString(", ")
      val emb = Tables.documents(s, d)
        .select(col("doc_id"), expr("graft_polyhash(text)").as("h"))
        .select(col("doc_id"), expr(s"array($dims)").as("e"))
      val probes = emb.filter(col("doc_id") < KnnProbes)
        .select(col("doc_id").as("probe_id"), col("e").as("pe"))
      val corpus = emb.filter(col("doc_id") >= KnnProbes)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("probe_id"))
        .orderBy(col("score").desc, col("doc_id"))
      corpus.crossJoin(broadcast(probes))
        .withColumn("score", expr("graft_dot(e, pe)"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= KnnK)
        .select(col("probe_id"), col("doc_id"), col("rk"), col("score"))
    }),

    // Scene-change detection (m06): the shot-boundary primitive of a
    // video curation pipeline — compare each frame to its predecessor
    // (here by Hamming distance between content hashes, standing in for
    // a perceptual-hash distance; swap the hash, keep the plumbing) and
    // cut wherever the distance jumps. scene_id is the running count of
    // cuts, so frames group into shots for downstream per-scene
    // sampling (pick 1 frame per scene ≫ cheaper than per-frame work).
    // One window per doc over the unique frame_idx (total order), all
    // map-side after the frames exchange — no extra shuffle beyond
    // partitionBy(doc_id).
    "m06_scene_change" -> ((s, d) =>
      scenesOf(mediaFrames(s, d))
        .select(col("doc_id"), col("frame_idx"), col("hamming"),
          col("is_cut"), col("scene_id"))))

  /** m06 cut threshold: a cut where ≥ this many of the ~30 hash bits
    * flip frame-to-frame (identical/near-identical frames flip few). */
  val SceneCutBits = 8L

  /** m04 stub-embedding dimensionality and search parameters. */
  val EmbedDims = 8
  val KnnProbes = 3L
  val KnnK = 3

  /** DuckDB replay of [[curationPipeline]] (registered as p04 by
    * SparkEntry): the m02 frame CTE feeding both the m06 scene chain
    * and the m05 keeper aggregate, semi-joined exactly as the plan
    * composes them. */
  def curationOracleSql: String =
    s"""WITH fr AS (
       |  SELECT doc_id, frame_idx, ${Hashing.polyHashSql("frame")} AS frame_hash
       |  FROM (
       |    SELECT doc_id,
       |      unnest(range(0, ((length(text) - 1) // $FrameBytes) + 1)) AS frame_idx,
       |      unnest(list_transform(range(0, ((length(text) - 1) // $FrameBytes) + 1),
       |        i -> substring(text, (i * $FrameBytes + 1)::INTEGER, $FrameBytes))) AS frame
       |    FROM documents WHERE length(text) > 0) frames),
       |lagd AS (
       |  SELECT doc_id, frame_idx, frame_hash,
       |    lag(frame_hash) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev_hash
       |  FROM fr),
       |cuts AS (
       |  SELECT doc_id, frame_idx, frame_hash,
       |    (prev_hash IS NULL
       |      OR bit_count(xor(prev_hash, frame_hash)) >= $SceneCutBits) AS is_cut
       |  FROM lagd),
       |sc AS (
       |  SELECT doc_id, frame_idx, frame_hash, is_cut,
       |    sum(CASE WHEN is_cut THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY frame_idx
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS scene_id
       |  FROM cuts),
       |keep AS (
       |  SELECT frame_hash,
       |    CAST((min({'d': doc_id, 'f': frame_idx})).d AS BIGINT) AS kd,
       |    CAST((min({'d': doc_id, 'f': frame_idx})).f AS BIGINT) AS kf
       |  FROM fr GROUP BY frame_hash)
       |SELECT sc.doc_id, sc.frame_idx, sc.frame_hash, sc.scene_id
       |FROM sc JOIN keep ON keep.frame_hash = sc.frame_hash
       |  AND keep.kd = sc.doc_id AND keep.kf = sc.frame_idx
       |WHERE sc.is_cut""".stripMargin

  // m08 text as a val: m09's recursive-CC oracle nests it as the pair
  // source (the c01-over-d02 composition on the media seam)
  private lazy val videoNearDupSql: String =
      s"""WITH fr AS (
         |  SELECT doc_id, ${Hashing.polyHashSql("frame")} AS frame_hash
         |  FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(range(0, ((length(text) - 1) // $FrameBytes) + 1),
         |        i -> substring(text, (i * $FrameBytes + 1)::INTEGER, $FrameBytes))) AS frame
         |    FROM documents WHERE length(text) > 0) frames),
         |fh AS (SELECT DISTINCT doc_id, frame_hash FROM fr),
         |rare AS (
         |  SELECT fh.doc_id, fh.frame_hash FROM fh
         |  JOIN (SELECT frame_hash FROM fh GROUP BY frame_hash
         |        HAVING count(*) <= $MaxFrameDf) ok USING (frame_hash)),
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |          FROM rare GROUP BY doc_id),
         |p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(count(*) AS BIGINT) AS inter
         |  FROM rare a JOIN rare b
         |    ON a.frame_hash = b.frame_hash AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, inter, sa.n + sb.n - inter AS union_sz,
         |  (inter * 1000000) // (sa.n + sb.n - inter) AS jac_q6
         |FROM p
         |JOIN sizes sa ON sa.doc_id = p.doc_a
         |JOIN sizes sb ON sb.doc_id = p.doc_b
         |WHERE (inter * 1000000) // (sa.n + sb.n - inter) >= $VideoJacFloorQ6""".stripMargin

  /** The m11/m12 cross-readout oracle, parametrized over the STANDING
    * side's predicate: the m08 CTE skeleton with the corpus split by
    * parity, the boilerplate list computed from the standing side
    * only, and pairs restricted to standing×delta. m11 passes the
    * plain parity split; m12 folds the tombstone predicate in. */
  private def crossNearDupSqlOver(standingWhere: String): String =
    s"""WITH fr AS (
       |  SELECT doc_id, ${Hashing.polyHashSql("frame")} AS frame_hash
       |  FROM (
       |    SELECT doc_id,
       |      unnest(list_transform(range(0, ((length(text) - 1) // $FrameBytes) + 1),
       |        i -> substring(text, (i * $FrameBytes + 1)::INTEGER, $FrameBytes))) AS frame
       |    FROM documents WHERE length(text) > 0) frames),
       |fh AS (SELECT DISTINCT doc_id, frame_hash FROM fr),
       |sfh AS (SELECT doc_id, frame_hash FROM fh WHERE $standingWhere),
       |dfh AS (SELECT doc_id, frame_hash FROM fh WHERE doc_id % 2 <> 0),
       |boiler AS (SELECT frame_hash FROM sfh GROUP BY frame_hash
       |           HAVING count(*) > $MaxFrameDf),
       |srare AS (SELECT doc_id, frame_hash FROM sfh
       |          WHERE frame_hash NOT IN (SELECT frame_hash FROM boiler)),
       |drare AS (SELECT doc_id, frame_hash FROM dfh
       |          WHERE frame_hash NOT IN (SELECT frame_hash FROM boiler)),
       |ssizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
       |           FROM srare GROUP BY doc_id),
       |dsizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
       |           FROM drare GROUP BY doc_id),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS inter
       |  FROM srare a JOIN drare b ON a.frame_hash = b.frame_hash
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b, inter, sa.n + sb.n - inter AS union_sz,
       |  (inter * 1000000) // (sa.n + sb.n - inter) AS jac_q6
       |FROM p
       |JOIN ssizes sa ON sa.doc_id = p.doc_a
       |JOIN dsizes sb ON sb.doc_id = p.doc_b
       |WHERE (inter * 1000000) // (sa.n + sb.n - inter) >= $VideoJacFloorQ6""".stripMargin

  def oracle: Map[String, String] = Map(
    // m08 — the m05 frame CTE → distinct sets → df cap → hash-keyed
    // pair counts → integer micro-unit Jaccard (all operands
    // non-negative, `//` ≡ `div`)
    "m08_video_neardup" -> videoNearDupSql,
    // m09 — recursive CC over the m08 pair text (c01's composition
    // applied to media near-dups)
    "m09_media_clusters" ->
      s"""WITH RECURSIVE ${Clusters.componentsCte(videoNearDupSql, withLab = false)}
         |SELECT id AS doc_id, min(label) AS cluster_id FROM comp GROUP BY id""".stripMargin,
    // m10 serves from the loaded store — by construction the same
    // pairs as m08 (all-int64 signatures, bit-exact through parquet)
    "m10_frame_store" -> videoNearDupSql,
    // m11 — the stream-edge cross readout: the m08 CTE skeleton with
    // the corpus split by parity, the boilerplate list computed from
    // the STANDING (even) side only (the frozen gate is the only
    // batch-independent one), and pairs restricted to standing×delta
    "m11_stream_neardup" -> crossNearDupSqlOver("doc_id % 2 = 0"),
    // m12 — m11's text with the tombstone predicate folded into the
    // standing side (serve-under-tombstones ≡ publish-over-remainder
    // + serve: boilerplate and sizes are pure functions of the store)
    "m12_tombstone_serve" ->
      crossNearDupSqlOver("doc_id % 2 = 0 AND doc_id % 5 <> 2"),
    // m13 — compact-then-serve equals m12's tombstone serve equals
    // fingerprint-over-remainder + serve (per-item pure store rows,
    // globals recomputed from the store), so it shares m12's text
    "m13_compacted_serve" ->
      crossNearDupSqlOver("doc_id % 2 = 0 AND doc_id % 5 <> 2"),
    // m14 — the streamed delete set unions to the static %5==2 table
    // (r16's argument on the media family), so it shares m12's text
    "m14_tombstone_stream" ->
      crossNearDupSqlOver("doc_id % 2 = 0 AND doc_id % 5 <> 2"),
    // p08 reconstructs m09's labels incrementally (see the pair-class
    // partition argument on its `phases` entry)
    "p08_media_maintenance" ->
      s"""WITH RECURSIVE ${Clusters.componentsCte(videoNearDupSql, withLab = false)}
         |SELECT id AS doc_id, min(label) AS cluster_id FROM comp GROUP BY id""".stripMargin,
    // The stub is integer arithmetic over UTF-8 bytes (ASCII corpus ⇒
    // bytes == code points), so DuckDB reproduces it exactly.
    "m01_media_meta" ->
      s"""SELECT doc_id,
         |  octet_length(encode(text))::BIGINT AS n_bytes,
         |  16 + octet_length(encode(text))::BIGINT % 64 AS width,
         |  16 + (octet_length(encode(text))::BIGINT * 31) % 64 AS height,
         |  ${Hashing.polyHashSql("text")} AS checksum
         |FROM documents""".stripMargin,
    "m02_media_frames" ->
      s"""SELECT doc_id, frame_idx, length(frame)::BIGINT AS frame_bytes,
         |  ${Hashing.polyHashSql("frame")} AS frame_hash
         |FROM (
         |  SELECT doc_id,
         |    unnest(range(0, ((length(text) - 1) // $FrameBytes) + 1)) AS frame_idx,
         |    unnest(list_transform(range(0, ((length(text) - 1) // $FrameBytes) + 1),
         |      i -> substring(text, (i * $FrameBytes + 1)::INTEGER, $FrameBytes))) AS frame
         |  FROM documents WHERE length(text) > 0) frames""".stripMargin,
    "m05_frame_dedup" ->
      s"""WITH fr AS (
         |  SELECT doc_id, frame_idx, ${Hashing.polyHashSql("frame")} AS frame_hash
         |  FROM (
         |    SELECT doc_id,
         |      unnest(range(0, ((length(text) - 1) // $FrameBytes) + 1)) AS frame_idx,
         |      unnest(list_transform(range(0, ((length(text) - 1) // $FrameBytes) + 1),
         |        i -> substring(text, (i * $FrameBytes + 1)::INTEGER, $FrameBytes))) AS frame
         |    FROM documents WHERE length(text) > 0) frames)
         |SELECT frame_hash, count(*) AS n_copies,
         |  CAST((min({'d': doc_id, 'f': frame_idx})).d AS BIGINT) AS keep_doc,
         |  CAST((min({'d': doc_id, 'f': frame_idx})).f AS BIGINT) AS keep_frame
         |FROM fr GROUP BY frame_hash""".stripMargin,
    "m03_media_resize" ->
      s"""SELECT doc_id, length(small)::BIGINT AS n_bytes_small,
         |  ${Hashing.polyHashSql("small")} AS small_hash
         |FROM (
         |  SELECT doc_id,
         |    list_aggregate(list_transform(range(0, ((length(text) - 1) // $ResizeStep) + 1),
         |      i -> substring(text, (i * $ResizeStep + 1)::INTEGER, 1)), 'string_agg', '') AS small
         |  FROM documents WHERE length(text) > 0) resized""".stripMargin,
    "m04_media_knn" -> {
      val P = Hashing.P
      // e0..e7 as scalar columns; the dot product expands to the same
      // left-associated addition chain graft_dot folds (acc starts at
      // 0.0, and 0.0 + t0 == t0 exactly)
      val dims = (0 until EmbedDims).map { j =>
        s"((h * ${Hashing.MinHashA(j)} + ${Hashing.MinHashB(j)}) % $P)::DOUBLE / $P.0 * 2.0 - 1.0 AS e$j"
      }.mkString(",\n    ")
      val dot = (0 until EmbedDims).map(j => s"c.e$j * p.e$j").mkString(" + ")
      s"""WITH h AS (SELECT doc_id, ${Hashing.polyHashSql("text")} AS h FROM documents),
         |v AS (SELECT doc_id,
         |    $dims
         |  FROM h),
         |scored AS (
         |  SELECT p.doc_id AS probe_id, c.doc_id AS doc_id, $dot AS score
         |  FROM v c, v p WHERE p.doc_id < $KnnProbes AND c.doc_id >= $KnnProbes),
         |ranked AS (
         |  SELECT probe_id, doc_id, score,
         |    row_number() OVER (PARTITION BY probe_id
         |                       ORDER BY score DESC, doc_id) AS rk
         |  FROM scored)
         |SELECT probe_id, doc_id, rk, score FROM ranked WHERE rk <= $KnnK""".stripMargin
    },
    // m07 — same frame CTE, byte-sum fold, threshold, and islands key;
    // frame_idx is unique per doc so the row_number order is total
    "m07_energy_segments" ->
      s"""WITH fr AS (
         |  SELECT doc_id,
         |    unnest(range(0, ((length(text) - 1) // $FrameBytes) + 1)) AS frame_idx,
         |    unnest(list_transform(range(0, ((length(text) - 1) // $FrameBytes) + 1),
         |      i -> substring(text, (i * $FrameBytes + 1)::INTEGER, $FrameBytes))) AS frame
         |  FROM documents WHERE length(text) > 0),
         |en AS (
         |  SELECT doc_id, frame_idx,
         |    reduce(list_prepend(0::BIGINT, list_transform(string_split(frame, ''),
         |      ch -> ascii(ch)::BIGINT)), (acc, x) -> acc + x) AS energy,
         |    length(frame)::BIGINT AS fb
         |  FROM fr),
         |loud AS (SELECT * FROM en WHERE energy >= fb * $EnergyMeanByte),
         |g AS (
         |  SELECT doc_id, frame_idx, energy,
         |    frame_idx - row_number() OVER (PARTITION BY doc_id ORDER BY frame_idx) AS grp
         |  FROM loud)
         |SELECT doc_id, min(frame_idx) AS seg_start, max(frame_idx) AS seg_end,
         |  CAST(count(*) AS BIGINT) AS n_frames,
         |  CAST(sum(energy) AS BIGINT) AS seg_energy
         |FROM g GROUP BY doc_id, grp""".stripMargin,
    // m06 — bit_count(xor) ≡ Spark bit_count(^) on BIGINT; window order
    // key frame_idx is unique per doc (total order), ROWS frame written
    // explicitly per the parity rules
    "m06_scene_change" ->
      s"""WITH fr AS (
         |  SELECT doc_id, frame_idx, ${Hashing.polyHashSql("frame")} AS frame_hash
         |  FROM (
         |    SELECT doc_id,
         |      unnest(range(0, ((length(text) - 1) // $FrameBytes) + 1)) AS frame_idx,
         |      unnest(list_transform(range(0, ((length(text) - 1) // $FrameBytes) + 1),
         |        i -> substring(text, (i * $FrameBytes + 1)::INTEGER, $FrameBytes))) AS frame
         |    FROM documents WHERE length(text) > 0) frames),
         |lagd AS (
         |  SELECT doc_id, frame_idx, frame_hash,
         |    lag(frame_hash) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev_hash
         |  FROM fr),
         |cuts AS (
         |  SELECT doc_id, frame_idx,
         |    CASE WHEN prev_hash IS NOT NULL
         |         THEN bit_count(xor(prev_hash, frame_hash))::BIGINT END AS hamming,
         |    (prev_hash IS NULL
         |      OR bit_count(xor(prev_hash, frame_hash)) >= $SceneCutBits) AS is_cut
         |  FROM lagd)
         |SELECT doc_id, frame_idx, hamming, is_cut,
         |  sum(CASE WHEN is_cut THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY doc_id ORDER BY frame_idx
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS scene_id
         |FROM cuts""".stripMargin)
}
