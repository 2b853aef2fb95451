package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.chaining._

/** Entity resolution (record linkage) — fuzzy dedup of a dirty entity
  * column: product names, vendor names, author strings. The curation
  * analogue of document dedup one level up: before corpus statistics
  * can be grouped "per entity", the entity VALUES themselves need
  * deduping ("acme corp" / "acme corp." / "acmee corp" are one vendor).
  *
  * Scale shape (the Fellegi–Sunter blocking recipe):
  *  1. Resolve the DICTIONARY, not the facts: `distinct(name)` first.
  *     The dictionary is orders of magnitude smaller than the fact
  *     table (64 names over 2k parts here; ~10⁶ vendors over 10¹⁰ rows
  *     at corpus scale), so everything quadratic happens on the small
  *     frame and the facts are touched exactly once, by a broadcast
  *     map-side join at the end.
  *  2. BLOCK, then verify: candidate pairs come from equality on a
  *     cheap blocking key (here the head noun — the last whitespace
  *     token), turning the |N|² all-pairs into Σ|block|². The
  *     within-block self-join is a hash shuffle on the block key, i.e.
  *     co-partitioned; no row ever compares against another block.
  *     `maxBlock` drops degenerate blocks (a blocking key shared by
  *     half the dictionary does not discriminate — the standard guard
  *     in Dedoop/JedAI-style ER systems) deterministically, so the
  *     oracle can mirror the filter verbatim.
  *  3. Verify = `levenshtein(a, b) <= maxEdit`: exact integer edit
  *     distance, bit-identical in Spark and DuckDB, evaluated map-side
  *     on the co-partitioned pairs.
  *  4. Cluster and canonicalize: matches are not transitive (a~b, b~c
  *     does not imply lev(a,c) small), so equivalence needs connected
  *     components — reuse [[Clusters.connectedComponents]] over
  *     polyhash node ids (the portable string→long bridge the dedup
  *     family already uses); canonical form = lexicographic min name
  *     per component, a plain aggregation.
  *
  * Reference anchor: the reference normalizes free-text codes against
  * dimension tables by exact key (`data_processing.py` enrichment
  * joins); this family is the same normalization when the keys
  * themselves are dirty — the step the reference's fixed dimensions
  * assume has already happened.
  */
object Entity {
  /** Edit-distance ceiling for a candidate match. */
  val MaxEdit = 2
  /** Blocks larger than this are non-discriminating; drop them. */
  val MaxBlock = 1000

  /** Distinct names + blocking key, oversized blocks removed. The block
    * count rides a window over the same partitioning the self-join
    * shuffles on, so the guard adds no extra exchange. */
  private def blockedNames(df: DataFrame, name: String,
                           maxBlock: Int): DataFrame = {
    val blk = element_at(split(col("name"), " "), -1)
    df.select(col(name).as("name")).distinct()
      .withColumn("blk", blk)
      .withColumn("_bn", count(lit(1)).over(Window.partitionBy(col("blk"))))
      .filter(col("_bn") <= maxBlock)
      .select(col("name"), col("blk"))
  }

  /** er01 — candidate pairs that survive verification:
    * `(name_a, name_b, lev)`, `name_a < name_b`. */
  def fuzzyPairs(df: DataFrame, name: String, maxEdit: Int = MaxEdit,
                 maxBlock: Int = MaxBlock): DataFrame = {
    val n = blockedNames(df, name, maxBlock)
    val a = n.select(col("name").as("name_a"), col("blk"))
    val b = n.select(col("name").as("name_b"), col("blk"))
    a.join(b, Seq("blk"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("lev",
        levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("lev") <= maxEdit)
      .select(col("name_a"), col("name_b"), col("lev"))
  }

  /** Winkler-score floor for er04, in q6 units (0.85). */
  val MinJwQ6 = 850000L

  /** er04 — the same blocked self-join verified by JARO-WINKLER
    * instead of edit distance: the scorer record linkage actually
    * prefers for human-entered names (typos cluster at word starts'
    * complements — JW's prefix boost rewards shared stems where a
    * fixed edit ceiling treats "acme corp"/"acme corpn" and
    * "acme corp"/"zcme corp" identically). Scoring runs through the
    * native codegen'd [[graft.functions.JaroWinkler]] expression
    * inside the join loop — no UDF boxing — and the threshold compares
    * q6-quantized integers, so the engines agree exactly (DuckDB's
    * built-in `jaro_winkler_similarity` implements the identical
    * variant, fuzz-pinned at q6). */
  def jaroWinklerPairs(df: DataFrame, name: String,
                       minJwQ6: Long = MinJwQ6,
                       maxBlock: Int = MaxBlock): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    val n = blockedNames(df, name, maxBlock)
    val a = n.select(col("name").as("name_a"), col("blk"))
    val b = n.select(col("name").as("name_b"), col("blk"))
    a.join(b, Seq("blk"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("jw_q6",
        round(expr("graft_jaro_winkler(name_a, name_b)") * lit(1e6))
          .cast("long"))
      .filter(col("jw_q6") >= minJwQ6)
      .select(col("name_a"), col("name_b"), col("jw_q6"))
  }

  /** er02 — the canonical map over the FULL dictionary: `(name,
    * canon_name)`, identity for names with no fuzzy neighbor. CC runs
    * on polyhash node ids (collision-free on any realistic dictionary,
    * and an oracle-portable string→long bridge); the canonical form is
    * the component's lexicographic min name, grouped on the label
    * table — never larger than the dictionary. */
  def canonicalMap(df: DataFrame, name: String, maxEdit: Int = MaxEdit,
                   maxBlock: Int = MaxBlock): DataFrame =
    canonicalMapFromPairs(df, name, fuzzyPairs(df, name, maxEdit, maxBlock))

  /** The CC + lexicographic-min-canon half of [[canonicalMap]] over an
    * EXPLICIT verified pair table `(name_a, name_b, …)` — so the same
    * map construction runs over any blocking scheme's pairs (er02's
    * last-token pairs, er08's union-blocked pairs). */
  def canonicalMapFromPairs(df: DataFrame, name: String,
                            pairs: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    val names = df.select(col(name).as("name")).distinct()
      .withColumn("h", expr("graft_polyhash(name)"))
    val hPairs = pairs
      .withColumn("ha", expr("graft_polyhash(name_a)"))
      .withColumn("hb", expr("graft_polyhash(name_b)"))
    val cc = Clusters.connectedComponents(hPairs, "ha", "hb")
      .select(col("doc_id").as("h"), col("cluster_id"))
    val labeled = names.join(cc, Seq("h"), "left")
    val canon = labeled.filter(col("cluster_id").isNotNull)
      .groupBy(col("cluster_id")).agg(min(col("name")).as("_canon"))
    labeled.join(canon, Seq("cluster_id"), "left")
      .select(col("name"),
        coalesce(col("_canon"), col("name")).as("canon_name"))
  }

  /** er08 — [[jaroWinklerPairs]] under UNION blocking: candidates from
    * the first∪last key table, made DISTINCT before the JW verify (a
    * pair agreeing on both keys must neither verify twice nor
    * duplicate in the output). The verify is JW — the SAME scorer the
    * er06/er07 audit defines ground truth with — because that is what
    * the union scheme buys: on the harness dictionary every lev≤2
    * match already shares its last token (the audit's missing 86% are
    * all JW-true, same-first-token pairs like "old bolt"/"old rod"),
    * so a lev-verified union map would merge nothing new, while the
    * JW-verified one recovers exactly the matches er06 reported
    * dropped. */
  def jaroWinklerPairsUnion(df: DataFrame, name: String,
                            minJwQ6: Long = MinJwQ6,
                            maxBlock: Int = MaxBlock): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    val n = unionBlockedNames(df, name, maxBlock)
    n.select(col("name").as("name_a"), col("blk"))
      .join(n.select(col("name").as("name_b"), col("blk")), Seq("blk"))
      .filter(col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b")).distinct()
      .withColumn("jw_q6",
        round(expr("graft_jaro_winkler(name_a, name_b)") * lit(1e6))
          .cast("long"))
      .filter(col("jw_q6") >= minJwQ6)
      .select(col("name_a"), col("name_b"), col("jw_q6"))
  }

  /** er03 — the map applied back to the facts: per canonical entity,
    * row count and surviving raw-variant count. The canonical map is
    * dictionary-sized, so the fact-side join is a broadcast — the fact
    * table never shuffles on the dirty name. */
  def entityRollup(df: DataFrame, name: String, maxEdit: Int = MaxEdit,
                   maxBlock: Int = MaxBlock): DataFrame =
    entityRollupFromMap(df, name, canonicalMap(df, name, maxEdit, maxBlock))

  /** [[entityRollup]] over a PRECOMPUTED canonical map — the shape a
    * deployment with a materialized [[sharedCanonicalMap]] runs. */
  def entityRollupFromMap(df: DataFrame, name: String,
                          cmap: DataFrame): DataFrame =
    df.select(col(name).as("name"))
      .join(broadcast(cmap), Seq("name"))
      .groupBy(col("canon_name"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("name")).as("n_variants"))

  /** er05 — SURVIVORSHIP (the golden record): per canonical entity,
    * elect ONE value per attribute from the member rows' conflicting
    * values — most-frequent-wins, ties to the lexicographic minimum —
    * the step after er02/er03 that master-data systems run to publish
    * a single authoritative row per entity.
    *
    * Scale shape: facts join the dictionary-sized canonical map by
    * broadcast (one map-side pass), then each attribute's election is
    * a `(canon, value)` count + rank-1 window — per-attribute state is
    * (entities × distinct values per attribute), nowhere near fact
    * cardinality. Elections are independent, so Catalyst runs them as
    * parallel branches off the shared join. Deterministic: counts are
    * integers and every tie breaks on the value itself.
    * Output: `(canon_name, n_members, <one survived col per field>)`. */
  def survivorship(facts: DataFrame, name: String, fields: Seq[String],
                   maxEdit: Int = MaxEdit,
                   maxBlock: Int = MaxBlock): DataFrame =
    survivorshipFromMap(facts, name, fields,
      canonicalMap(facts, name, maxEdit, maxBlock))

  /** [[survivorship]] over a PRECOMPUTED canonical map. */
  def survivorshipFromMap(facts: DataFrame, name: String,
                          fields: Seq[String], cmap: DataFrame): DataFrame = {
    val mapped = facts
      .select((col(name).as("name") +: fields.map(col)): _*)
      .join(broadcast(cmap), Seq("name"))
    val base = mapped.groupBy(col("canon_name"))
      .agg(count(lit(1)).as("n_members"))
    fields.foldLeft(base) { (acc, f) =>
      val w = Window.partitionBy(col("canon_name"))
        .orderBy(col("_c").desc, col(f))
      acc.join(
        mapped.groupBy(col("canon_name"), col(f))
          .agg(count(lit(1)).as("_c"))
          .withColumn("_rk", row_number().over(w))
          .filter(col("_rk") === 1)
          .select(col("canon_name"), col(f)),
        Seq("canon_name"))
    }
  }

  /** er06 sample gate: names with `polyhash(name) % SampleMod == 0`
    * form the ground-truth audit sample (~1/SampleMod of the
    * dictionary). */
  val SampleMod = 20L

  /** BLOCKING-QUALITY AUDIT (er06) — the two numbers that justify a
    * blocking scheme (Christen's record-linkage evaluation pair):
    *
    *  - REDUCTION RATIO: share of the n·(n−1)/2 all-pairs space the
    *    blocks never generate — computed exactly (candidate count over
    *    a closed-form total);
    *  - PAIR COMPLETENESS: share of TRUE matches (JW ≥ er04's floor)
    *    that the blocks retain — computed on a deterministic hash
    *    SAMPLE of the dictionary, because the ground truth is the
    *    all-pairs JW the blocking exists to avoid; a 1/20 sample
    *    bounds that to (n/20)² comparisons, the standard audit trade
    *    (same exact-twin pattern as d06 vs d03: pay the quadratic
    *    price only on a slice, and only to measure recall).
    *
    * A blocking key that drops true matches shows up here as
    * pc_q6 < 10⁶ — the one failure mode er01/er04 cannot see from
    * inside their own candidate set. All counts integer; the two
    * ratios use `div` on non-negative operands. Output: one row
    * `(n_names, n_cand, rr_q6, n_sample, n_true, n_found, pc_q6)`
    * (`pc_q6` NULL when the sample holds no true match). */
  def blockingAudit(df: DataFrame, name: String,
                    minJwQ6: Long = MinJwQ6,
                    maxBlock: Int = MaxBlock,
                    sampleMod: Long = SampleMod): DataFrame =
    blockingAuditOf(df, name, blockedNames(df, name, maxBlock),
      minJwQ6, sampleMod)

  /** [[blockingAudit]] over an EXPLICIT `(name, blk)` table, so the
    * same two-number readout scores any blocking scheme — er06 feeds
    * it the last-token key, er07 the first∪last union. Candidate
    * pairs are counted DISTINCT (a union scheme can generate the same
    * pair under two keys; the pair space being measured has no
    * multiplicity), and "found" is a semi-join against that distinct
    * pair set — for a single-key scheme both reduce to the plain
    * join count, so er06's oracle is unchanged. */
  def blockingAuditOf(df: DataFrame, name: String, blocked: DataFrame,
                      minJwQ6: Long = MinJwQ6,
                      sampleMod: Long = SampleMod): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    val names = df.select(col(name).as("name")).distinct()
    val nNames = names.agg(count(lit(1)).as("n_names"))
    val cPairs = blocked.as("a")
      .join(blocked.as("b"), col("a.blk") === col("b.blk")
        && col("a.name") < col("b.name"))
      .select(col("a.name").as("na"), col("b.name").as("nb"))
      .distinct()
    val nCand = cPairs.agg(count(lit(1)).as("n_cand"))
    val samp = names
      .filter(expr(s"graft_polyhash(name) % $sampleMod") === 0L)
    val sTrue = samp.select(col("name").as("na"))
      .crossJoin(broadcast(samp.select(col("name").as("nb"))))
      .filter(col("na") < col("nb"))
      .filter(round(expr("graft_jaro_winkler(na, nb)") * lit(1e6))
        .cast("long") >= minJwQ6)
    val nSample = samp.agg(count(lit(1)).as("n_sample"))
    val nTrue = sTrue.agg(count(lit(1)).as("n_true"))
    val nFound = sTrue
      .join(cPairs, Seq("na", "nb"), "left_semi")
      .agg(count(lit(1)).as("n_found"))
    nNames.crossJoin(broadcast(nCand)).crossJoin(broadcast(nSample))
      .crossJoin(broadcast(nTrue)).crossJoin(broadcast(nFound))
      .withColumn("_all", expr("(n_names * (n_names - 1L)) div 2L"))
      .withColumn("rr_q6", expr("((_all - n_cand) * 1000000L) div _all"))
      .withColumn("pc_q6",
        when(col("n_true") > 0L, expr("(n_found * 1000000L) div n_true")))
      .select(col("n_names"), col("n_cand"), col("rr_q6"),
        col("n_sample"), col("n_true"), col("n_found"), col("pc_q6"))
  }

  /** UNION blocking (er07) — every name enters TWO blocks, keyed by
    * its first and its last whitespace token (namespace-prefixed so
    * the two key families never cross-match): the standard multi-pass
    * blocking move (Christen) for the er06-measured failure mode,
    * where a typo in the head noun ("acme corp" / "acme corq") exiles
    * a true match from its last-token block while the first token
    * still agrees. Recall compounds across passes — a pair is a
    * candidate if EITHER key agrees — at the cost of ≤ 2× candidate
    * volume, still Σ|block|², never n².
    *
    * Scale shape: identical to [[blockedNames]] — the per-key
    * oversized-block guard rides the same window/partitioning the
    * self-join shuffles on, just over twice the (tiny) key rows. */
  def unionBlockedNames(df: DataFrame, name: String,
                        maxBlock: Int = MaxBlock): DataFrame =
    df.select(col(name).as("name")).distinct()
      .select(col("name"), explode(array(
        concat(lit("f_"), element_at(split(col("name"), " "), 1)),
        concat(lit("l_"), element_at(split(col("name"), " "), -1))))
        .as("blk"))
      .withColumn("_bn", count(lit(1)).over(Window.partitionBy(col("blk"))))
      .filter(col("_bn") <= maxBlock)
      .select(col("name"), col("blk"))

  /** er06 harness sampleMod: the synthetic part dictionary is ~64
    * distinct names, so the catalog entry audits UN-sampled (mod 1 =
    * everything — all-pairs is 2k comparisons here); [[SampleMod]]=20
    * is the default a real million-name dictionary would use. */
  val AuditSampleMod = 1L

  /** The catalog's canonical map (part dictionary), computed once per
    * (session, dir) and shared by er02/er03/er05 — the same
    * materialize-once move as [[Clusters.sharedPairs]]: a deployment
    * resolves entities once and every downstream consumer (rollup,
    * survivorship, audits) reads the standing map. localCheckpoint is
    * dictionary-sized. Reentrant synchronized map, NOT computeIfAbsent
    * (see Clusters.memo for the recursive-update landmine). */
  private val cmapMemo =
    new java.util.HashMap[(SparkSession, String), DataFrame]()
  def sharedCanonicalMap(s: SparkSession, d: String): DataFrame =
    cmapMemo.synchronized {
      val k = (s, d)
      val existing = cmapMemo.get(k)
      if (existing != null) existing
      else {
        val built = canonicalMap(Tables.part(s, d), "p_name").localCheckpoint()
        cmapMemo.put(k, built)
        built
      }
    }

  /** Persist a canonical map to parquet (the k15/d19/r06 persistence
    * move on the ER seam): the map is the TRAINED artifact of entity
    * resolution — dictionary-sized, expensive to rebuild (blocking +
    * pairwise verification), and consumed by every downstream rollup/
    * survivorship/dedup pass. A deployment publishes it nightly and
    * every consumer broadcast-joins the published copy instead of
    * re-resolving. */
  def canonicalWriteMap(cmap: DataFrame, dir: String,
                        minJwQ6: Long = MinJwQ6): Unit = {
    // unstamp → write → stamp (torn-publish fail-closed, round 18):
    // a crash mid-overwrite must leave an unloadable map, not a
    // partial dictionary under no check at all
    IndexMeta.unstamp(dir)
    cmap.write.mode("overwrite").parquet(dir)
    IndexMeta.stampVersion(dir, erVersion(minJwQ6))
  }

  /** Version fingerprint of a persisted canonical map: the match
    * floor the pairs were generated under — a map published at a
    * different floor canonicalizes by a different equivalence and
    * must not serve silently. THREADED, not a constant: the pair
    * builders take the floor as a parameter, so a publisher that used
    * a custom floor passes the same value here (the mhVersion(n)
    * discipline). */
  def erVersion(minJwQ6: Long = MinJwQ6): String =
    s"graft-ermap-1 jw_floor_q6=$minJwQ6"

  /** Load a published canonical map back. Serving is
    * [[entityRollupFromMap]] / [[survivorshipFromMap]] over the loaded
    * frame — the apply half never touches the pair machinery. */
  def canonicalLoadMap(spark: SparkSession, dir: String,
                       minJwQ6: Long = MinJwQ6): DataFrame = {
    IndexMeta.checkVersion(dir, erVersion(minJwQ6))
    spark.read.parquet(dir)
  }

  /** DELTA CANONICALIZATION against the published map (er10) — the
    * INGEST half of the nightly MDM loop, the piece p09/p10 (which
    * apply the map to facts) leave open: NEW entity variants arrive
    * and must resolve against the standing dictionary WITHOUT
    * re-running the full pairwise machinery. Three-way triage, the
    * standard incremental record-linkage flow:
    *
    *  1. EXACT: a delta name already in the published map adopts its
    *     canonical (one broadcast join — the overwhelmingly common
    *     case in a steady-state dictionary).
    *  2. FUZZY: the misses cross-match the STANDING names under the
    *     same union blocking + JW floor the map was built with
    *     (er08's scheme); the best standing match per delta name —
    *     (jw DESC, standing name ASC), a value-determined total
    *     order — donates ITS canonical, so the delta variant joins
    *     the existing entity rather than founding a duplicate.
    *  3. NEW: still-unmatched names become their own canonical —
    *     genuinely new entities, queued for the nightly full rebuild.
    *
    * Scale shape: the map broadcast-joins (dictionary-sized); the
    * fuzzy pass pairs MISSES × standing within shared blocks —
    * Σ|block|² with a delta-sized left side, never re-pairing the
    * standing dictionary against itself; delta–delta pairs are
    * deliberately deferred to the rebuild (minhashServeDelta's
    * contract on the text seam). Output: `(name, canon_name)` per
    * distinct delta name. */
  def deltaCanonicalize(standing: DataFrame, delta: DataFrame,
                        name: String, loadedMap: DataFrame,
                        minJwQ6: Long = MinJwQ6,
                        maxBlock: Int = MaxBlock): DataFrame = {
    graft.functions.VectorFunctions.register(standing.sparkSession)
    val deltaNames = delta.select(col(name).as("name")).distinct()
    val hits = deltaNames.join(broadcast(loadedMap), Seq("name"), "left")
    val misses = hits.filter(col("canon_name").isNull).select("name")
    val cand = unionBlockedNames(misses, "name", maxBlock)
      .select(col("name").as("d_name"), col("blk"))
      .join(unionBlockedNames(standing, name, maxBlock)
        .select(col("name").as("s_name"), col("blk")), Seq("blk"))
      .select(col("d_name"), col("s_name")).distinct()
      .withColumn("jw_q6",
        round(expr("graft_jaro_winkler(d_name, s_name)") * lit(1e6))
          .cast("long"))
      .filter(col("jw_q6") >= minJwQ6)
    val w = Window.partitionBy(col("d_name"))
      .orderBy(col("jw_q6").desc, col("s_name"))
    val best = cand.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .join(broadcast(loadedMap.select(col("name").as("s_name"),
        col("canon_name").as("_fuzzy_canon"))), Seq("s_name"))
      .select(col("d_name").as("name"), col("_fuzzy_canon"))
    // best is bounded by the delta's MISS names — dictionary-sized at
    // any corpus scale (names, never facts) — but its rank-1 window
    // hides that from the size estimator, so hint the broadcast
    // explicitly or the final verdict join degrades to a sort-merge
    hits.join(broadcast(best), Seq("name"), "left")
      .select(col("name"),
        coalesce(col("canon_name"), col("_fuzzy_canon"), col("name"))
          .as("canon_name"))
  }

  def phases: IndexPaths.Phases = {
    // er10's standing dictionary: names with polyhash % 4 ≠ 3
    def standing(s: SparkSession, d: String) = {
      graft.functions.VectorFunctions.register(s)
      Tables.part(s, d).filter(expr("graft_polyhash(p_name) % 4") =!= 3)
    }
    def publishShared(tag: String): (SparkSession, String) => Unit =
      (s, d) => canonicalWriteMap(sharedCanonicalMap(s, d),
        IndexPaths.dir(tag, d))
    Map(
      // er09: the er08 map round-tripped through parquet and served
      // back — hash-matching er08's oracle verbatim (the map IS the
      // published artifact; bit-equality of the loaded copy is the
      // whole contract)
      "er09_map_persisted" -> ((
        (s, d) => canonicalWriteMap(
          canonicalMapFromPairs(Tables.part(s, d), "p_name",
            jaroWinklerPairsUnion(Tables.part(s, d), "p_name")),
          IndexPaths.dir("er09_map", d)),
        (s, d) => canonicalLoadMap(s, IndexPaths.dir("er09_map", d)))),
      // er10: the INGEST half of the MDM loop — the standing dictionary
      // (names with polyhash % 4 ≠ 3) publishes its er08-scheme map;
      // the arriving batch (polyhash % 4 ∈ {2,3} — an overlapping
      // quarter plus a novel quarter, so all three triage branches
      // exercise on real data) resolves against the LOADED copy only
      "er10_delta_canonicalize" -> ((
        (s, d) => {
          val st = standing(s, d)
          canonicalWriteMap(canonicalMapFromPairs(st, "p_name",
            jaroWinklerPairsUnion(st, "p_name")), IndexPaths.dir("er10_map", d))
        },
        (s, d) => deltaCanonicalize(standing(s, d),
          Tables.part(s, d).filter(expr("graft_polyhash(p_name) % 4").isin(2, 3)),
          "p_name", canonicalLoadMap(s, IndexPaths.dir("er10_map", d))))),
      // p09: the ER nightly PUBLISH loop end-to-end — er09 proved the
      // map round-trips parquet; this entry proves the published copy
      // SERVES: write the standing canonical map, load it back, and run
      // the er03 rollup from the LOADED map only (the consumer a
      // master-data deployment actually ships — broadcast-joins the
      // published artifact, never touches the pair machinery). Strings
      // round-trip parquet byte-exactly, so p09 shares er03's oracle
      // verbatim.
      "p09_entity_maintenance" -> ((publishShared("p09_map"),
        (s, d) => entityRollupFromMap(Tables.part(s, d), "p_name",
          canonicalLoadMap(s, IndexPaths.dir("p09_map", d))))),
      // p10: SURVIVORSHIP FROM THE PUBLISHED MAP — the golden-record
      // election (er05) served from the loaded parquet artifact, the
      // second consumer of the p09 deployment: a master-data system
      // publishes the canonical map precisely so downstream jobs can
      // elect authoritative rows without re-running the pair machinery.
      // Same broadcast-join + per-attribute rank-1 elections as er05,
      // with the map arriving from storage instead of the session memo;
      // strings and int64s round-trip parquet byte-exactly, so p10
      // shares er05's oracle verbatim (pinned by the loaded≡in-session
      // spec).
      "p10_survivorship_serve" -> ((publishShared("p10_map"),
        (s, d) => survivorshipFromMap(Tables.part(s, d), "p_name",
          Seq("p_brand", "p_type", "p_size"),
          canonicalLoadMap(s, IndexPaths.dir("p10_map", d)))
          .withColumn("p_size", col("p_size").cast("long")))))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    IndexPaths.oneShot(phases) ++ Map(
    "er06_blocking_audit" -> ((s, d) =>
      blockingAudit(Tables.part(s, d), "p_name",
        sampleMod = AuditSampleMod)),
    // er07: the SAME audit over first∪last union blocking — read next
    // to er06, the pair-completeness lift is the business case for the
    // second blocking pass (er06 honestly reports the last-token key
    // alone keeps only ~14% of true matches on this dictionary)
    "er07_union_audit" -> ((s, d) =>
      blockingAuditOf(Tables.part(s, d), "p_name",
        unionBlockedNames(Tables.part(s, d), "p_name"),
        sampleMod = AuditSampleMod)),
    "er05_survivorship" -> ((s, d) =>
      survivorshipFromMap(Tables.part(s, d), "p_name",
        Seq("p_brand", "p_type", "p_size"), sharedCanonicalMap(s, d))
        .withColumn("p_size", col("p_size").cast("long"))),
    "er01_fuzzy_pairs" -> ((s, d) =>
      fuzzyPairs(Tables.part(s, d), "p_name")),
    "er02_canonical_map" -> ((s, d) => sharedCanonicalMap(s, d)),
    "er03_entity_rollup" -> ((s, d) =>
      entityRollupFromMap(Tables.part(s, d), "p_name",
        sharedCanonicalMap(s, d))),
    "er04_jw_pairs" -> ((s, d) =>
      jaroWinklerPairs(Tables.part(s, d), "p_name")),
    // er08: the canonical map BUILT FROM union-blocked JW pairs —
    // er07's audit showed the union scheme keeps the true matches the
    // last-token key drops; this entry is that scheme applied, the map
    // a deployment would actually publish after reading the audit
    "er08_union_map" -> ((s, d) =>
      canonicalMapFromPairs(Tables.part(s, d), "p_name",
        jaroWinklerPairsUnion(Tables.part(s, d), "p_name"))))

  /** The union-blocking CTE PREFIX (names → first∪last keyed → ok →
    * distinct candidate pairs), shared by er07's audit and er08's pair
    * body so the two oracles can never test different blocking
    * schemes. Ends in `ucand(name_a, name_b)`. */
  private def unionBlockPrefixSql: String =
    s"""names AS (SELECT DISTINCT p_name AS name FROM part),
       |keyed AS (
       |  SELECT name, 'f_' || string_split(name, ' ')[1] AS blk FROM names
       |  UNION ALL
       |  SELECT name, 'l_' || string_split(name, ' ')[-1] AS blk FROM names),
       |blocked AS (
       |  SELECT name, blk, count(*) OVER (PARTITION BY blk) AS bn
       |  FROM keyed),
       |ok AS (SELECT name, blk FROM blocked WHERE bn <= $MaxBlock),
       |ucand AS (
       |  SELECT DISTINCT a.name AS name_a, b.name AS name_b
       |  FROM ok a JOIN ok b ON a.blk = b.blk AND a.name < b.name)""".stripMargin

  /** Union-blocked pair-CTE body (er08's pair source):
    * [[unionBlockPrefixSql]] + the er04 JW verify at the same q6
    * floor — ends in the same `fuzzy` CTE name as [[pairsSqlBody]] so
    * the er02 CC/canon SQL composes over either. */
  private def unionPairsSqlBody: String =
    s"""$unionBlockPrefixSql,
       |fuzzy AS (
       |  SELECT name_a, name_b,
       |    CAST(round(jaro_winkler_similarity(name_a, name_b) * 1000000.0)
       |      AS BIGINT) AS jw_q6
       |  FROM ucand
       |  WHERE CAST(round(jaro_winkler_similarity(name_a, name_b) * 1000000.0)
       |    AS BIGINT) >= $MinJwQ6)""".stripMargin

  /** [[unionBlockPrefixSql]]'s keyed/blocked/ok chain over an
    * arbitrary names CTE with a CTE-name prefix, so er10 can block its
    * standing and delta name sets independently (per-side oversized-
    * block guards, mirroring two [[unionBlockedNames]] calls). Ends in
    * `<p>ok(name, blk)`. */
  private def unionBlockSql(namesCte: String, p: String): String =
    s"""${p}keyed AS (
       |  SELECT name, 'f_' || string_split(name, ' ')[1] AS blk FROM $namesCte
       |  UNION ALL
       |  SELECT name, 'l_' || string_split(name, ' ')[-1] AS blk FROM $namesCte),
       |${p}blocked AS (
       |  SELECT name, blk, count(*) OVER (PARTITION BY blk) AS bn
       |  FROM ${p}keyed),
       |${p}ok AS (SELECT name, blk FROM ${p}blocked WHERE bn <= $MaxBlock)""".stripMargin

  /** Shared pair-CTE body (er01's query verbatim), over `names`. */
  private def pairsSqlBody: String =
    s"""names AS (SELECT DISTINCT p_name AS name FROM part),
       |blocked AS (
       |  SELECT name, string_split(name, ' ')[-1] AS blk,
       |    count(*) OVER (PARTITION BY string_split(name, ' ')[-1]) AS bn
       |  FROM names),
       |ok AS (SELECT name, blk FROM blocked WHERE bn <= $MaxBlock),
       |fuzzy AS (
       |  SELECT a.name AS name_a, b.name AS name_b,
       |    CAST(levenshtein(a.name, b.name) AS BIGINT) AS lev
       |  FROM ok a JOIN ok b ON a.blk = b.blk AND a.name < b.name
       |  WHERE levenshtein(a.name, b.name) <= $MaxEdit)""".stripMargin

  def oracle: Map[String, String] = {
    val ph = Hashing.polyHashSql _
    Map(
      "er01_fuzzy_pairs" ->
        s"""WITH $pairsSqlBody
           |SELECT name_a, name_b, lev FROM fuzzy""".stripMargin,
      // er06 — identical block/candidate CTEs, hash-gated sample,
      // DuckDB's jaro_winkler at the same q6 floor, integer ratios
      "er06_blocking_audit" ->
        s"""WITH names AS (SELECT DISTINCT p_name AS name FROM part),
           |blocked AS (
           |  SELECT name, string_split(name, ' ')[-1] AS blk,
           |    count(*) OVER (PARTITION BY string_split(name, ' ')[-1]) AS bn
           |  FROM names),
           |ok AS (SELECT name, blk FROM blocked WHERE bn <= $MaxBlock),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_names FROM names),
           |cand AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_cand
           |  FROM ok a JOIN ok b ON a.blk = b.blk AND a.name < b.name),
           |samp AS (SELECT name FROM names
           |  WHERE (${Hashing.polyHashSql("name")}) % $AuditSampleMod = 0),
           |strue AS (
           |  SELECT a.name AS na, b.name AS nb
           |  FROM samp a JOIN samp b ON a.name < b.name
           |  WHERE CAST(round(jaro_winkler_similarity(a.name, b.name) * 1000000.0)
           |    AS BIGINT) >= $MinJwQ6),
           |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_sample FROM samp),
           |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM strue),
           |fnd AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_found
           |  FROM strue
           |  JOIN ok oa ON oa.name = strue.na
           |  JOIN ok ob ON ob.name = strue.nb AND oa.blk = ob.blk)
           |SELECT nn.n_names, cand.n_cand,
           |  (((nn.n_names * (nn.n_names - 1)) // 2 - cand.n_cand) * 1000000)
           |    // ((nn.n_names * (nn.n_names - 1)) // 2) AS rr_q6,
           |  ns.n_sample, nt.n_true, fnd.n_found,
           |  CASE WHEN nt.n_true > 0
           |    THEN (fnd.n_found * 1000000) // nt.n_true END AS pc_q6
           |FROM nn, cand, ns, nt, fnd""".stripMargin,
      // er07 — the er06 audit text over the union-keyed block table:
      // two namespace-prefixed key passes UNION ALL'd, candidates
      // counted DISTINCT, found = exists-in-candidates
      "er07_union_audit" ->
        s"""WITH $unionBlockPrefixSql,
           |cpairs AS (SELECT name_a AS na, name_b AS nb FROM ucand),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_names FROM names),
           |cand AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cpairs),
           |samp AS (SELECT name FROM names
           |  WHERE (${Hashing.polyHashSql("name")}) % $AuditSampleMod = 0),
           |strue AS (
           |  SELECT a.name AS na, b.name AS nb
           |  FROM samp a JOIN samp b ON a.name < b.name
           |  WHERE CAST(round(jaro_winkler_similarity(a.name, b.name) * 1000000.0)
           |    AS BIGINT) >= $MinJwQ6),
           |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_sample FROM samp),
           |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM strue),
           |fnd AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_found
           |  FROM strue
           |  WHERE EXISTS (SELECT 1 FROM cpairs
           |    WHERE cpairs.na = strue.na AND cpairs.nb = strue.nb))
           |SELECT nn.n_names, cand.n_cand,
           |  (((nn.n_names * (nn.n_names - 1)) // 2 - cand.n_cand) * 1000000)
           |    // ((nn.n_names * (nn.n_names - 1)) // 2) AS rr_q6,
           |  ns.n_sample, nt.n_true, fnd.n_found,
           |  CASE WHEN nt.n_true > 0
           |    THEN (fnd.n_found * 1000000) // nt.n_true END AS pc_q6
           |FROM nn, cand, ns, nt, fnd""".stripMargin,
      // er10 — the standing map rebuilt in-SQL (er08's text over the
      // hash-split standing names), then the three-way triage: exact
      // map join, union-blocked cross JW with the (jw DESC, name ASC)
      // rank-1 election, self for the rest
      "er10_delta_canonicalize" ->
        s"""WITH RECURSIVE
           |snames AS (SELECT DISTINCT p_name AS name FROM part
           |           WHERE (${ph("p_name")}) % 4 <> 3),
           |${unionBlockSql("snames", "s")},
           |ucand AS (
           |  SELECT DISTINCT a.name AS name_a, b.name AS name_b
           |  FROM sok a JOIN sok b ON a.blk = b.blk AND a.name < b.name),
           |fuzzy AS (
           |  SELECT name_a, name_b FROM ucand
           |  WHERE CAST(round(jaro_winkler_similarity(name_a, name_b) * 1000000.0)
           |    AS BIGINT) >= $MinJwQ6),
           |${Clusters.componentsCte(
                s"SELECT ${ph("name_a")} AS doc_a, ${ph("name_b")} AS doc_b FROM fuzzy")},
           |hn AS (SELECT name, ${ph("name")} AS h FROM snames),
           |canon AS (
           |  SELECT l.cluster, min(hn.name) AS canon_name
           |  FROM lab l JOIN hn ON hn.h = l.id GROUP BY l.cluster),
           |smap AS (
           |  SELECT hn.name, coalesce(c.canon_name, hn.name) AS canon_name
           |  FROM hn LEFT JOIN lab l ON l.id = hn.h
           |          LEFT JOIN canon c ON c.cluster = l.cluster),
           |dnames AS (SELECT DISTINCT p_name AS name FROM part
           |           WHERE (${ph("p_name")}) % 4 IN (2, 3)),
           |miss AS (SELECT name FROM dnames
           |         WHERE name NOT IN (SELECT name FROM smap)),
           |${unionBlockSql("miss", "d")},
           |xc AS (
           |  SELECT DISTINCT d.name AS d_name, s.name AS s_name
           |  FROM dok d JOIN sok s ON d.blk = s.blk),
           |best AS (
           |  SELECT d_name, s_name FROM (
           |    SELECT d_name, s_name,
           |      row_number() OVER (PARTITION BY d_name
           |        ORDER BY jw_q6 DESC, s_name) AS rnk
           |    FROM (
           |      SELECT d_name, s_name,
           |        CAST(round(jaro_winkler_similarity(d_name, s_name) * 1000000.0)
           |          AS BIGINT) AS jw_q6
           |      FROM xc) sc
           |    WHERE jw_q6 >= $MinJwQ6) t
           |  WHERE rnk = 1),
           |fz AS (
           |  SELECT b.d_name AS name, m.canon_name
           |  FROM best b JOIN smap m ON m.name = b.s_name)
           |SELECT d.name,
           |  coalesce(sm.canon_name, fz.canon_name, d.name) AS canon_name
           |FROM dnames d
           |LEFT JOIN smap sm ON sm.name = d.name
           |LEFT JOIN fz ON fz.name = d.name""".stripMargin,
      // er04 — DuckDB's built-in implements the same JW variant as the
      // native expression; both sides compare q6 integers
      "er04_jw_pairs" ->
        s"""WITH names AS (SELECT DISTINCT p_name AS name FROM part),
           |blocked AS (
           |  SELECT name, string_split(name, ' ')[-1] AS blk,
           |    count(*) OVER (PARTITION BY string_split(name, ' ')[-1]) AS bn
           |  FROM names),
           |ok AS (SELECT name, blk FROM blocked WHERE bn <= $MaxBlock),
           |p AS (
           |  SELECT a.name AS name_a, b.name AS name_b,
           |    CAST(round(jaro_winkler_similarity(a.name, b.name) * 1000000.0)
           |      AS BIGINT) AS jw_q6
           |  FROM ok a JOIN ok b ON a.blk = b.blk AND a.name < b.name)
           |SELECT name_a, name_b, jw_q6 FROM p WHERE jw_q6 >= $MinJwQ6""".stripMargin,
      // er08 — er02's CC/canon text over the union-blocked pair body
      "er08_union_map" ->
        s"""WITH RECURSIVE $unionPairsSqlBody,
           |${Clusters.componentsCte(
                s"SELECT ${ph("name_a")} AS doc_a, ${ph("name_b")} AS doc_b FROM fuzzy")},
           |hn AS (SELECT name, ${ph("name")} AS h FROM names),
           |canon AS (
           |  SELECT l.cluster, min(hn.name) AS canon_name
           |  FROM lab l JOIN hn ON hn.h = l.id GROUP BY l.cluster)
           |SELECT hn.name, coalesce(c.canon_name, hn.name) AS canon_name
           |FROM hn LEFT JOIN lab l ON l.id = hn.h
           |        LEFT JOIN canon c ON c.cluster = l.cluster""".stripMargin,
      // er02/er03 — hash the verified pairs to node ids, run the same
      // recursive min-label CTE as c01, canonical = min name per label
      "er02_canonical_map" ->
        s"""WITH RECURSIVE $pairsSqlBody,
           |${Clusters.componentsCte(
                s"SELECT ${ph("name_a")} AS doc_a, ${ph("name_b")} AS doc_b FROM fuzzy")},
           |hn AS (SELECT name, ${ph("name")} AS h FROM names),
           |canon AS (
           |  SELECT l.cluster, min(hn.name) AS canon_name
           |  FROM lab l JOIN hn ON hn.h = l.id GROUP BY l.cluster)
           |SELECT hn.name, coalesce(c.canon_name, hn.name) AS canon_name
           |FROM hn LEFT JOIN lab l ON l.id = hn.h
           |        LEFT JOIN canon c ON c.cluster = l.cluster""".stripMargin,
      "er03_entity_rollup" ->
        s"""WITH RECURSIVE $pairsSqlBody,
           |${Clusters.componentsCte(
                s"SELECT ${ph("name_a")} AS doc_a, ${ph("name_b")} AS doc_b FROM fuzzy")},
           |hn AS (SELECT name, ${ph("name")} AS h FROM names),
           |canon AS (
           |  SELECT l.cluster, min(hn.name) AS canon_name
           |  FROM lab l JOIN hn ON hn.h = l.id GROUP BY l.cluster),
           |cmap AS (
           |  SELECT hn.name, coalesce(c.canon_name, hn.name) AS canon_name
           |  FROM hn LEFT JOIN lab l ON l.id = hn.h
           |          LEFT JOIN canon c ON c.cluster = l.cluster)
           |SELECT m.canon_name, count(*) AS n_rows,
           |  CAST(count(DISTINCT p.p_name) AS BIGINT) AS n_variants
           |FROM part p JOIN cmap m ON m.name = p.p_name
           |GROUP BY m.canon_name""".stripMargin,
      // er05 — same cmap CTE; per-attribute elections are rank-1 windows
      // over (canon, value) counts with the identical value tie-break
      "er05_survivorship" ->
        s"""WITH RECURSIVE $pairsSqlBody,
           |${Clusters.componentsCte(
                s"SELECT ${ph("name_a")} AS doc_a, ${ph("name_b")} AS doc_b FROM fuzzy")},
           |hn AS (SELECT name, ${ph("name")} AS h FROM names),
           |canon AS (
           |  SELECT l.cluster, min(hn.name) AS canon_name
           |  FROM lab l JOIN hn ON hn.h = l.id GROUP BY l.cluster),
           |cmap AS (
           |  SELECT hn.name, coalesce(c.canon_name, hn.name) AS canon_name
           |  FROM hn LEFT JOIN lab l ON l.id = hn.h
           |          LEFT JOIN canon c ON c.cluster = l.cluster),
           |f AS (
           |  SELECT m.canon_name, p.p_brand, p.p_type, p.p_size
           |  FROM part p JOIN cmap m ON m.name = p.p_name),
           |base AS (
           |  SELECT canon_name, CAST(count(*) AS BIGINT) AS n_members
           |  FROM f GROUP BY canon_name),
           |mb AS (SELECT canon_name, p_brand FROM (
           |  SELECT canon_name, p_brand,
           |    row_number() OVER (PARTITION BY canon_name
           |      ORDER BY count(*) DESC, p_brand) AS rk
           |  FROM f GROUP BY canon_name, p_brand) z WHERE rk = 1),
           |mt AS (SELECT canon_name, p_type FROM (
           |  SELECT canon_name, p_type,
           |    row_number() OVER (PARTITION BY canon_name
           |      ORDER BY count(*) DESC, p_type) AS rk
           |  FROM f GROUP BY canon_name, p_type) z WHERE rk = 1),
           |ms AS (SELECT canon_name, CAST(p_size AS BIGINT) AS p_size FROM (
           |  SELECT canon_name, p_size,
           |    row_number() OVER (PARTITION BY canon_name
           |      ORDER BY count(*) DESC, p_size) AS rk
           |  FROM f GROUP BY canon_name, p_size) z WHERE rk = 1)
           |SELECT base.canon_name, base.n_members, mb.p_brand, mt.p_type, ms.p_size
           |FROM base JOIN mb USING (canon_name) JOIN mt USING (canon_name)
           |          JOIN ms USING (canon_name)""".stripMargin)
      .pipe(m => m + ("er09_map_persisted" -> m("er08_union_map"))
        // p10 serves er05's election from the LOADED published map —
        // same exactness argument as p09 (parquet round-trips the map
        // bit-exactly), so the oracle is er05's verbatim
        + ("p10_survivorship_serve" -> m("er05_survivorship"))
        // p09 serves the rollup from the LOADED published map — by
        // construction the same rows as the in-session er03
        + ("p09_entity_maintenance" -> m("er03_entity_rollup")))
  }
}
