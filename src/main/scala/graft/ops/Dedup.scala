package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline (SURVEY.md
  * §7.5): exact hash-dedup, token-n-gram Jaccard, MinHash + LSH banding,
  * SimHash, and embedding-cosine near-dup.
  *
  * Each operator is a PUBLIC parameterized function over caller columns
  * — the library surface a user deduplicates their own tables with; the
  * `queries` map just instantiates them on the harness `documents` /
  * `embeddings` tables for the driver's DuckDB oracle.
  *
  * Design for 100 TB:
  *  - everything is shingle/token-level `explode` → hash-partitioned
  *    `groupBy` on the shingle key, with in-bucket pair expansion — no
  *    per-pair work outside a shared bucket, and the signature subplans
  *    run once (not once per self-join side);
  *  - a document-frequency cap ([[MaxShingleDf]]) bounds the O(df²)
  *    blow-up of ultra-common shingles;
  *  - hashes are the engine-portable [[Hashing.polyHash]], so the
  *    driver's oracle reproduces every intermediate value bit-for-bit;
  *  - the only O(n²) operator is the brute-force cosine near-dup — the
  *    correctness baseline whose scale path is [[Similarity]]'s LSH/IVF
  *    bucketing.
  */
object Dedup {
  import Hashing._

  /** Ultra-common-shingle guard for the Jaccard candidate generator: a
    * shingle shared by d docs yields O(d²) candidate pairs, so one stop-
    * phrase shingle at corpus scale would dominate the whole job. Far
    * above any df in the testdata (max 25 at sf0.1) — the cap only ever
    * binds where the pairs were near-useless anyway (a shingle in 1000+
    * docs carries no dedup signal). Mirrored in the oracle. */
  val MaxShingleDf = 1000

  private def shingleArr(n: Int) =
    s"array_distinct(transform(sequence(0, size(tk) - $n), " +
    s"i -> concat_ws(' ', ${(0 until n).map(j => s"tk[i+$j]").mkString(", ")})))"

  /** Distinct token-n-gram shingles: `(doc_id, shingle)`. */
  def shingles(docs: DataFrame, id: String, text: String, n: Int = 3): DataFrame =
    docs
      .select(col(id).as("doc_id"),
        expr(s"filter(split($text, ' '), x -> x <> '')").as("tk"))
      .filter(size(col("tk")) >= n)
      .select(col("doc_id"), explode(expr(shingleArr(n))).as("shingle"))

  /** In-bucket ordered-pair expansion of a grouped id list — shared by
    * the Jaccard and LSH candidate generators. Input must have an `ids`
    * array column; output `(doc_a, doc_b)` with doc_a < doc_b. */
  private def expandPairs(buckets: DataFrame): DataFrame =
    buckets
      .select(explode(expr(
        "flatten(transform(ids, (a, i) -> " +
        "transform(slice(ids, i + 2, size(ids)), b -> struct(a AS doc_a, b AS doc_b))))"))
        .as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))

  /** Exact dedup by content hash: one row per distinct content with the
    * lowest id as the keeper (the A2 keep-first rule with an explicit
    * deterministic order key). Output: `(sig, keep_id, n_dups)`. */
  def exactDedup(docs: DataFrame, id: String, content: String): DataFrame =
    docs.groupBy(md5(col(content)).as("sig"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Token-n-gram Jaccard near-dup pairs at or above `threshold`.
    * Output: `(doc_a, doc_b, inter, jaccard)`.
    *
    * Two shuffles total: per-doc shingle counts are `size()` of the
    * distinct-shingle array BEFORE the explode (a map-side expression —
    * aggregating the exploded shingle set for counts would shuffle
    * token-level data a second time), and they ride through the bucket
    * groupBy inside the collected id structs, so no count-join either.
    *
    * The bucket shuffle keys on an 8-byte HASH of the shingle, not the
    * shingle string itself: a ~3-word string key made the exchange
    * severalfold larger than it needs to be (measured 16.8s → the hash
    * key cut it to a fraction at sf0.1). Two independent polynomial
    * hashes (forward + reversed string, each mod ~2^30) combine into a
    * ~60-bit key — one 30-bit hash alone would birthday-collide at
    * corpus scale (50% by ~50k distinct shingles), while 60 bits holds
    * to billions; a collision only ever inflates `inter` by 1 for one
    * candidate pair. Both hashes are the engine-portable
    * [[Hashing.polyHash]], so the oracle reproduces the exact buckets. */
  def jaccardPairs(docs: DataFrame, id: String, text: String,
                   threshold: Double, n: Int = 3,
                   maxDf: Int = MaxShingleDf): DataFrame =
    undirectedIntersections(docs, id, text, n, maxDf)
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))

  /** Shared candidate machinery of [[jaccardPairs]] and
    * [[containmentPairs]]: undirected shingle-set intersections
    * `(doc_a, doc_b, inter, n_a, n_b)` with `doc_a < doc_b` — only the
    * score each operator derives from them differs.
    *
    * Shingle hashing is one native map-side pass over the token array
    * ([[graft.functions.ShingleHashes]]): per-token partial hashes
    * compose into each window's (fwd·C + rev) key with no shingle-string
    * materialization — the interpreted HOF form
    * (transform+concat_ws+array_distinct, then polyhash over the built
    * strings) spent 4.8s of a 6.5s sf0.1 run inside the single scan
    * stage, before any shuffle could spread the work. Values are
    * bit-identical, so the shared oracle CTEs are unchanged; n_sh counts
    * distinct hashes rather than distinct strings (equal up to a ~2^-60
    * within-doc collision). Per-doc shingle counts are `size()` of the
    * distinct-shingle array BEFORE the explode and ride through the
    * bucket groupBy inside the collected id structs — no count-join. */
  private def undirectedIntersections(docs: DataFrame, id: String,
                                      text: String, n: Int,
                                      maxDf: Int): DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    val sh = docs
      .select(col(id).as("doc_id"),
        expr(s"filter(split($text, ' '), x -> x <> '')").as("tk"))
      .filter(size(col("tk")) >= n)
      .select(col("doc_id"), expr(s"graft_shingle_hashes(tk, $n, 1)").as("hs"))
      .select(col("doc_id"), size(col("hs")).cast("long").as("n_sh"),
        explode(col("hs")).as("shingle"))
    // one pass: group (doc, n_sh) structs per shingle, expand in-bucket
    // pairs — the shingle set is computed ONCE (a self-join would run
    // the whole shingle subplan twice); the pair expansion carries both
    // docs' shingle counts so the score is a post-agg expression
    sh.groupBy(col("shingle"))
      .agg(sort_array(collect_set(struct(col("doc_id"), col("n_sh")))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxDf)
      .select(explode(expr(
        "flatten(transform(ids, (a, i) -> " +
        "transform(slice(ids, i + 2, size(ids)), b -> struct(" +
        "a.doc_id AS doc_a, a.n_sh AS n_a, b.doc_id AS doc_b, b.n_sh AS n_b))))"))
        .as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("inter"),
        min(col("p.n_a")).as("n_a"), min(col("p.n_b")).as("n_b"))
  }

  /** Normalization-insensitive exact dedup (d14) — [[exactDedup]] keyed
    * on the CANONICAL form: lowercase, trimmed, whitespace-collapsed.
    * The cheap first dedup rung every pipeline runs before shingle or
    * MinHash methods: case and spacing variants of the same document
    * hash apart under d01 but together here. Same one-shuffle
    * hash-group shape; the normalization is a map-side expression.
    * Output: `(sig, keep_id, n_dups)`. */
  def exactDedupNormalized(docs: DataFrame, id: String,
                           content: String): DataFrame =
    // explicit ASCII whitespace class, NOT \s: Java's \s includes
    // vertical tab 0x0B while RE2-style engines' \s does not, so the
    // class makes Spark↔oracle agreement by construction instead of
    // by corpus assumption
    docs.groupBy(
        md5(regexp_replace(trim(lower(col(content))),
          "[ \\t\\n\\r\\f\\x0B]+", " ")).as("sig"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** The width/CJK-punctuation fold tables now live at the tokenizer
    * seam ([[TextOps.FoldFrom]]) so d20/d21/r08/t24-t26 fold
    * identically; d22 keeps its aliases. The bijective width block
    * ([[TextOps.FullwidthFrom]]) is what the d22 harness INVERTS to
    * synthesize full-width text; the fold itself additionally maps the
    * reference's CJK punctuation (。、【】“”‘’ —
    * `data_preprocessing.py:41-50`). */
  val FullwidthFrom: String = TextOps.FullwidthFrom
  val FullwidthTo: String = TextOps.FullwidthTo
  /** The fold as a column; its SQL twin is [[TextOps.foldWidthSql]]. */
  def foldWidth(c: Column): Column = TextOps.foldWidth(c)

  /** WIDTH-FOLDED NORMALIZED DEDUP (d22) — [[exactDedupNormalized]]
    * with the full-width fold prepended to the canonical form: fold →
    * lowercase → trim → collapse whitespace → hash. Catches the dup
    * class d14 structurally cannot — the same document typed through a
    * CJK IME's full-width mode ("ＡＢＣ　１２３" vs "abc 123") hashes
    * apart under d14 because no byte matches. Same one-shuffle
    * hash-group shape; the fold is one more map-side `translate`.
    * Output: `(sig, keep_id, n_dups)`. */
  def exactDedupWidthFolded(docs: DataFrame, id: String,
                            content: String): DataFrame =
    docs.groupBy(
        md5(regexp_replace(trim(lower(foldWidth(col(content)))),
          "[ \\t\\n\\r\\f\\x0B]+", " ")).as("sig"))
      .agg(min(col(id)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Directed shingle-CONTAINMENT near-dup pairs (d12): emit
    * `(doc_src, doc_sup)` whenever `|src∩sup| / |src| ≥ threshold` —
    * the asymmetric cousin of [[jaccardPairs]] that catches a document
    * EMBEDDED in a larger one (quote-and-extend plagiarism, a doc plus
    * boilerplate wrapper, truncated re-crawls), which symmetric Jaccard
    * misses precisely because the union in its denominator is dominated
    * by the larger doc. Broder's "containment" resemblance variant
    * (SEQUENCES '97).
    *
    * Same two-shuffle physical shape as [[jaccardPairs]] (one bucket
    * groupBy over 60-bit shingle-hash keys carrying (id, n_sh) structs,
    * one pair re-agg); each undirected intersection then expands to its
    * two directed rows map-side, each judged against its own source
    * size. Df-capped like d02: shingles in more than `maxDf` docs drop
    * out of `inter` on both engines.
    * Output: `(doc_src, doc_sup, inter, containment)`. */
  def containmentPairs(docs: DataFrame, id: String, text: String,
                       threshold: Double, n: Int = 3,
                       maxDf: Int = MaxShingleDf): DataFrame =
    undirectedIntersections(docs, id, text, n, maxDf)
      .select(explode(array(
        struct(col("doc_a").as("doc_src"), col("doc_b").as("doc_sup"),
          col("inter"),
          (col("inter").cast("double") / col("n_a").cast("double"))
            .as("containment")),
        struct(col("doc_b").as("doc_src"), col("doc_a").as("doc_sup"),
          col("inter"),
          (col("inter").cast("double") / col("n_b").cast("double"))
            .as("containment")))).as("r"))
      .select(col("r.doc_src"), col("r.doc_sup"), col("r.inter"),
        col("r.containment"))
      .filter(col("containment") >= threshold)

  /** [[jaccardPairs]]' 100 TB scale path: identical output, candidate
    * generation by PREFIX FILTERING (the all-pairs similarity-search
    * technique of Bayardo/Ma/Srikant, "Scaling Up All Pairs Similarity
    * Search", WWW'07).
    *
    * Each doc indexes only its `n_sh − ⌈t·n_sh⌉ + 1` SMALLEST shingle
    * hashes (the arrays from `graft_shingle_hashes` are already sorted).
    * Why that is lossless: `J(A,B) ≥ t ⟹ |A∩B| ≥ t·|A∪B| ≥
    * ⌈t·max(|A|,|B|)⌉`; if the intersection avoided A's prefix entirely
    * it would fit in A's suffix of size `⌈t·|A|⌉ − 1` — too small. So the
    * smallest shared hash lies in BOTH prefixes, and every qualifying
    * pair collides in at least one prefix bucket: zero false negatives.
    *
    * What changes at scale vs [[jaccardPairs]]: the bucket shuffle
    * carries a `(1−t)` fraction of the shingle stream, and the in-bucket
    * pair blow-up (Σ df²) shrinks roughly quadratically. Candidates are
    * then verified EXACTLY — a length-ratio prune
    * (`min·1 ≥ t·max`, implied by `J ≥ t`) first, then a join back to
    * the full sorted hash arrays for `array_intersect` — so the output
    * is the same row set [[jaccardPairs]] produces (pinned by OpsSpec
    * equivalence — including a small-cap crafted corpus — and the
    * shared DuckDB oracle).
    *
    * Df-cap consistency: [[jaccardPairs]]' `inter` counts only shingles
    * whose doc-frequency is ≤ `maxDf` (capped buckets are dropped
    * before pair expansion), so the verify here subtracts the
    * high-df hash set from the intersection too — `array_except` the
    * capped hashes, computed by one count-aggregation over the hash
    * stream (map-side partial counts; the exchange carries 8-byte
    * key + count rows, a fraction of the doc-struct bucket shuffle it
    * replaces). Both paths therefore compute the identical df-capped
    * Jaccard. The candidate prefix buckets keep the cap as well, and
    * that stays LOSSLESS w.r.t. the capped semantics: if the capped
    * Jaccard is ≥ t then the uncapped shared shingles alone number
    * ≥ ⌈t·max(|A|,|B|)⌉, so their smallest member lies in both docs'
    * prefixes (same suffix-pigeonhole argument as above) and its
    * prefix df ≤ full df ≤ maxDf — the bucket survives.
    *
    * The hash-array subplan is evaluated once for the prefix index,
    * once for the capped-df aggregate and once per verify-join side
    * (4 column-pruned scans + re-hashing) rather than checkpointed or
    * carried through the bucket shuffle. Carrying arrays inside the
    * exploded prefix rows would multiply the exchange by the array
    * width — the cost the prefix filter exists to avoid. The
    * checkpoint variant WAS tried and measured in r19 (the media
    * readouts' move): solo timing was a wash and the in-loop bench
    * read WORSE (pinning a corpus-sized fat-array frame in the shared
    * JVM trades cheap map-side re-hashing for executor-storage
    * pressure) — recomputing the map-side projection is the right
    * side of the trade here, exactly as this note always claimed. */
  def jaccardPairsPrefix(docs: DataFrame, id: String, text: String,
                         threshold: Double, n: Int = 3,
                         maxDf: Int = MaxShingleDf): DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    val arr = docs
      .select(col(id).as("doc_id"),
        expr(s"filter(split($text, ' '), x -> x <> '')").as("tk"))
      .filter(size(col("tk")) >= n)
      .select(col("doc_id"), expr(s"graft_shingle_hashes(tk, $n, 1)").as("hs"))
      .select(col("doc_id"), col("hs"), size(col("hs")).cast("long").as("n_sh"))
    val pre = arr.select(col("doc_id"), col("n_sh"),
      explode(expr(
        s"slice(hs, 1, cast(size(hs) - ceil($threshold * size(hs)) + 1 as int))"))
        .as("h"))
    val cand = pre.groupBy(col("h"))
      .agg(sort_array(collect_set(struct(col("doc_id"), col("n_sh")))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxDf)
      .select(explode(expr(
        "flatten(transform(ids, (a, i) -> " +
        "transform(slice(ids, i + 2, size(ids)), b -> struct(" +
        "a.doc_id AS doc_a, a.n_sh AS n_a, b.doc_id AS doc_b, b.n_sh AS n_b))))"))
        .as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.n_a").as("n_a"),
        col("p.doc_b").as("doc_b"), col("p.n_b").as("n_b"))
      .filter(least(col("n_a"), col("n_b")).cast("double") >=
        lit(threshold) * greatest(col("n_a"), col("n_b")).cast("double"))
      .distinct()
    // the high-df hash set (df computed over the FULL index, matching
    // jaccardPairs' bucket df): tiny by construction — only shingles in
    // > maxDf docs — so it rides into the verify as one broadcast row
    val capped = arr
      .select(explode(col("hs")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)
      .agg(collect_set(col("h")).as("capped_hs"))
    cand
      .join(arr.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), Seq("doc_a"))
      .join(arr.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), Seq("doc_b"))
      .crossJoin(broadcast(capped))
      .withColumn("inter",
        expr("graft_inter_count(array_except(hs_a, capped_hs), hs_b)"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))
  }

  /** MinHash + LSH candidate pairs: 16 minhashes = 4 bands × 4 rows;
    * docs sharing any full band key are candidates (re-verify the tiny
    * candidate set with [[jaccardPairs]]). Output: `(doc_a, doc_b)`. */
  /** Per-doc 16-component MinHash signatures `(doc_id, mh)` — computed
    * map-side in one native pass ([[graft.functions.MinHashSig]]): min
    * is duplicate-insensitive, so folding raw windows equals folding
    * the distinct shingle set the oracle aggregates. Shared by
    * [[minhashCandidates]] and [[minhashEstimatedPairs]] so the
    * agreement join can never drift from the band candidates it joins
    * against. */
  private def minhashSignatures(docs: DataFrame, id: String, text: String,
                                n: Int): DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    docs
      .select(col(id).as("doc_id"),
        expr(s"filter(split($text, ' '), x -> x <> '')").as("tk"))
      .filter(size(col("tk")) >= n)
      .select(col("doc_id"), expr(s"graft_minhash(tk, $n)").as("mh"))
  }

  /** Band-bucket guard for LOW-DIVERSITY shingle regimes: a band key
    * shared by d docs yields O(d²) candidate pairs, and nothing in raw
    * LSH bounds d — when the shingle space is small (single CJK chars
    * from a bounded repertoire, heavily templated text), unrelated docs
    * share signature minima and buckets grow WITH THE CORPUS, turning
    * the candidate stage quadratic (measured on the sf1 probe: max
    * bucket 1,937 docs, 23.8M candidates — vs 105/20k at sf0.1). The
    * cap drops such buckets before pair expansion, the [[MaxShingleDf]]
    * doctrine one level up; word-shingle callers keep the unbounded
    * default (word windows are diverse enough that the cap never binds
    * — sf0.1 max band bucket is the planted-dup cluster size), the
    * char-shingle path ([[cjkNearDupPairs]]) caps by default. Mirrored
    * in the d20 oracle. */
  val MaxBandDocs = 200

  def minhashCandidates(docs: DataFrame, id: String, text: String,
                        n: Int = 3,
                        maxBandDocs: Int = Int.MaxValue): DataFrame = {
    // The signature pass replaces the token-level explode + per-doc
    // groupBy shuffle entirely. The only remaining exchange carries 4
    // band keys per doc: at corpus scale that is the difference between
    // shuffling the token stream and shuffling a few dozen bytes per
    // document.
    val sig = minhashSignatures(docs, id, text, n)
    val bandKeys = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => s"mh[${b * RowsPerBand + r}]")
      expr(s"concat_ws('_', ${cols.mkString(", ")})")
    }
    val bands = sig.select(col("doc_id"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "key")))
    // bucket-group + in-bucket pair expansion (see jaccardPairs note):
    // the 16-min signature aggregation runs once, not once per join side
    expandPairs(
      bands.groupBy(col("band"), col("key"))
        .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBandDocs))
      .distinct()
  }

  /** The composed MinHash dedup a user actually runs (d08): LSH band
    * candidates ([[minhashCandidates]]) re-verified EXACTLY against the
    * full shingle-hash arrays, keeping pairs with true Jaccard ≥
    * `threshold` — the classic recall-from-bands / precision-from-verify
    * split (Broder '97; the C4/GPT-3 dedup recipe).
    *
    * Semantics note vs [[jaccardPairs]]: the verify here computes TRUE
    * Jaccard over each pair's complete hash sets — no [[MaxShingleDf]]
    * involvement, because no per-shingle bucket expansion happens on the
    * verify path (candidates arrive from the band join, whose cost is
    * bounded by the band keys, not by shingle df). Output ⊆ the true-
    * Jaccard pair set, missing only pairs the bands missed (recall
    * (1-(1-t^r)^b); OpsSpec pins output = d02 ∩ d03 where the cap is
    * slack).
    *
    * Scale shape: signatures are one map-side native pass (few dozen
    * bytes/doc shuffled); the candidate set is band-bounded and tiny
    * relative to the corpus; the verify is two hash equi-joins on doc id
    * against a column-pruned re-projection of the hash arrays (same
    * recompute-over-carry trade as [[jaccardPairsPrefix]] — shipping
    * arrays through the band shuffle would multiply it by the array
    * width). Output: `(doc_a, doc_b, inter, jaccard)`. */
  def minhashVerifiedPairs(docs: DataFrame, id: String, text: String,
                           threshold: Double, n: Int = 3,
                           maxBandDocs: Int = Int.MaxValue): DataFrame =
    minhashVerifiedPairsFromArtifacts(
      minhashDocArtifacts(docs, id, text, n).localCheckpoint(),
      threshold, maxBandDocs)

  /** [[minhashVerifiedPairs]] over an already-MATERIALIZED per-doc
    * artifact frame `(doc_id, hs, mh)` ([[minhashDocArtifacts]]) —
    * the candidate explode, the bucket cap, and both verify sides all
    * read the artifact, so the corpus text is tokenized and hashed
    * exactly once per build (the raw-text form above checkpoints it;
    * [[minhashPublishStanding]] reuses the very frame it writes as
    * the store). Within-set banding means the caller materializes a
    * corpus-sized frame — which is precisely the d19 index, so the
    * build's working set equals the artifact it exists to produce,
    * not an extra copy. */
  def minhashVerifiedPairsFromArtifacts(art: DataFrame, threshold: Double,
                                        maxBandDocs: Int = Int.MaxValue): DataFrame = {
    graft.functions.VectorFunctions.register(art.sparkSession)
    val bands = bandRowsFromSignatures(art.select(col("doc_id"), col("mh")))
    val cand = expandPairs(
      bands.groupBy(col("band"), col("key"))
        .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBandDocs))
      .distinct()
    val arr = art.select(col("doc_id"), col("hs"))
    cand
      .join(arr.select(col("doc_id").as("doc_a"), col("hs").as("hs_a"),
        size(col("hs")).cast("long").as("n_a")), Seq("doc_a"))
      .join(arr.select(col("doc_id").as("doc_b"), col("hs").as("hs_b"),
        size(col("hs")).cast("long").as("n_b")), Seq("doc_b"))
      .withColumn("inter",
        expr("graft_inter_count(hs_a, hs_b)"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))
  }

  /** d20's character-shingle width — 5 chars, the CCNet-practice n for
    * unsegmented scripts (a 5-char window carries about the signal of a
    * 1–2 word English window). Wider than the word n because single
    * CJK chars are far more common across documents than words.
    *
    * Per-script note (Korean): Hangul syllables pack roughly 2× the
    * information of an ideograph, so an equal-CONTENT Korean doc is
    * ~half the chars and a single-syllable edit costs ~2× the Jaccard
    * (an edit kills ~n of the L−n+1 shingles). At paragraph lengths
    * n = 5 recalls lightly-edited Korean pairs fine (pinned by the
    * crafted ko near-dup in RoundSeventeenOpsSpec, through both d20
    * and d24); for corpora dominated by SHORT Korean docs (single
    * sentences), pass n = 4 at the call sites — the same spec pins a
    * one-sentence pair that falls below the 0.6 threshold at n = 5
    * and is caught at n = 4. Keep n uniform per corpus/artifact: the
    * persisted stores bake n into their shingles (stamp-guarded for
    * the tokenizer, n chosen at publish). */
  val CjkCharShingleN = 5

  /** CJK / UNSEGMENTED-SCRIPT NEAR-DUP (d20) — [[minhashVerifiedPairs]]
    * behind a script-aware tokenizer: each CJK ideograph/kana is its
    * own token ([[TextOps.scriptTokens]]), so shingles become CHARACTER
    * n-grams and near-dup detection works on text with no word
    * separators — which split-on-space reduces to ONE token, silently
    * no-oping every word-level dedup operator (d02 finds nothing on an
    * unsegmented corpus; the crafted pair in RoundFourteenOpsSpec pins
    * the miss/catch contrast). Embedded Latin/digit runs stay
    * word-like, so mixed-script documents shingle sensibly.
    *
    * MinHash (not the exact d02 bucket expansion) is load-bearing at
    * scale here, not a convenience: single chars from a bounded
    * repertoire make char n-grams dramatically more document-frequent
    * than word n-grams (measured Σ df² at sf0.1: ~7.7·10⁸ for exact
    * char-5-gram buckets vs the band-bounded candidate set), so the
    * signature path — one native map-side pass, 4 band keys per doc
    * shuffled, exact Jaccard verify only on band candidates — is the
    * only shape that survives corpus growth. Same two-step
    * recall/precision contract as d08, plus the [[MaxBandDocs]] bucket
    * cap the low-diversity regime additionally needs: signature minima
    * collide across UNRELATED docs when the shingle space is small, so
    * without the cap band buckets grow with the corpus and candidates
    * go quadratic (the sf1 probe measured 1,937-doc buckets).
    * Output: `(doc_a, doc_b, inter, jaccard)`. */
  def cjkNearDupPairs(docs: DataFrame, id: String, text: String,
                      threshold: Double = 0.6,
                      n: Int = CjkCharShingleN,
                      maxBandDocs: Int = MaxBandDocs): DataFrame =
    minhashVerifiedPairs(
      docs.select(col(id).as("doc_id"),
        concat_ws(" ", TextOps.scriptTokens(col(text))).as("_script_text")),
      "doc_id", "_script_text", threshold, n, maxBandDocs)

  /** d21's PUBLISH half — the d19 two-table index plus verify arrays,
    * over SCRIPT tokens: what a CJK corpus's ingest writes once so the
    * nightly delta serve never touches standing text. */
  def cjkPublishIndex(standing: DataFrame, id: String, text: String,
                      dir: String, n: Int = CjkCharShingleN): Unit =
    cjkPublishIndexTokens(
      standing.select(col(id).as("doc_id"),
        TextOps.scriptTokens(col(text)).as("toks")), dir, n)

  /** [[cjkPublishIndex]] over PRE-TOKENIZED docs `(doc_id, toks)` —
    * the artifact seam: an ingest that has already written the
    * persisted script-token arrays (TextOps.cjkTokensWrite) publishes
    * the char index FROM them, so the fold+regex pass is not re-run
    * per published store (the cjkDecontaminateNearDupTokens
    * convention; the space re-join is exact because script tokens
    * never contain ASCII space). */
  def cjkPublishIndexTokens(standingToks: DataFrame, dir: String,
                            n: Int = CjkCharShingleN): Unit = {
    // unstamp → write → stamp (the IndexMeta torn-write contract on a
    // three-subtable publish: a crash between the signature and band
    // writes must not leave the previous stamp validating the mix)
    IndexMeta.unstamp(dir)
    val tok = standingToks.select(col("doc_id"),
      concat_ws(" ", col("toks")).as("_script_text"))
    // ONE script-tokenize+hash scan feeds all three store tables (the
    // naive three-derivation publish ran the fold+regex+hash pipeline
    // once per table — 3x the linear term that dominates a CJK
    // publish); the checkpoint is exactly the store's own contents.
    // LAZY (r19): the signatures write below consumes every partition,
    // so it materializes the checkpoint as a side effect — an eager
    // checkpoint here was one whole extra scan job per publish just to
    // store blocks the next job immediately re-read.
    val art = minhashDocArtifacts(tok, "doc_id", "_script_text", n)
      .localCheckpoint(false)
    art.select(col("doc_id"), col("mh"))
      .write.mode("overwrite").parquet(s"$dir/signatures")
    // bands explode off the signatures JUST WRITTEN — a columnar read
    // that prunes the fat hash arrays, where the row-based checkpoint
    // cannot (longs round-trip parquet bit-exactly)
    bandRowsFromSignatures(
      art.sparkSession.read.parquet(s"$dir/signatures"))
      .write.mode("overwrite").parquet(s"$dir/bands")
    art.select(col("doc_id"), col("hs"))
      .write.mode("overwrite").parquet(s"$dir/hashes")
    // script-token-derived store: stamp the tokenizer version LAST, so
    // a publish that died mid-write can never be served (IndexMeta)
    IndexMeta.stamp(dir)
  }

  /** CJK INCREMENTAL SERVE (d21) — the d19/d10 persisted-index loop on
    * the char seam, closing the CJK family the way d20 closed its
    * one-shot: arriving unsegmented docs are script-tokenized, banded,
    * and scored against the LOADED standing index (bands + verify
    * arrays — standing text never re-read), with the [[MaxBandDocs]]
    * gate FROZEN at the standing side (a pure function of the store,
    * so a delta item's pairs never depend on which batch delivered it
    * — m11's contract on this seam). Delta–delta pairs deferred to the
    * nightly rebuild, exactly [[minhashServeDelta]]'s contract.
    * Output: `(corpus_id, delta_id, inter, jaccard)`. */
  def cjkServeDelta(spark: SparkSession, delta: DataFrame, id: String,
                    text: String, threshold: Double, dir: String,
                    n: Int = CjkCharShingleN,
                    maxBandDocs: Int = MaxBandDocs): DataFrame =
    cjkServeDeltaTokens(spark,
      delta.select(col(id).as("doc_id"),
        TextOps.scriptTokens(col(text)).as("toks")),
      threshold, dir, n, maxBandDocs)

  /** [[cjkServeDelta]] over a PRE-TOKENIZED delta `(doc_id, toks)` —
    * the shape a deployment actually serves: the delta was tokenized
    * ONCE at ingest into the persisted token arrays, and the nightly
    * serve's two delta passes (bands + verify arrays) run over the
    * stored arrays instead of re-running fold+regex per pass. The
    * raw-text form above remains the stream-edge arrival shape (a
    * just-arrived batch is not in the artifact yet). */
  def cjkServeDeltaTokens(spark: SparkSession, deltaToks: DataFrame,
                          threshold: Double, dir: String,
                          n: Int = CjkCharShingleN,
                          maxBandDocs: Int = MaxBandDocs): DataFrame = {
    // the store's shingles must come from THIS tokenizer, or delta
    // bands silently stop colliding with standing bands (IndexMeta)
    IndexMeta.check(dir)
    minhashServeDeltaFrom(
      spark.read.parquet(s"$dir/hashes")
        .withColumnRenamed("doc_id", "corpus_id"),
      spark.read.parquet(s"$dir/bands")
        .withColumnRenamed("doc_id", "corpus_id"),
      deltaToks.select(col("doc_id"),
        concat_ws(" ", col("toks")).as("_script_text")),
      "doc_id", "_script_text", threshold, n, maxBandDocs)
  }

  /** [[cjkServeDeltaTokens]] under a STANDING DELETE SET (d29) — the
    * r13/k25 tombstone move on the third persisted family, the
    * near-dup index: a standing doc removed after publish (takedown,
    * opt-out, or itself deleted as a dup-loser) must stop MATCHING
    * arriving deltas now, not at the next nightly republish —
    * otherwise the dedup gate keeps dropping fresh docs as "dups of"
    * a document that no longer exists. The broadcast tombstone set
    * anti-joins BOTH loaded tables (bands before the candidate join,
    * verify arrays before the Jaccard), and because bands/hashes are
    * per-doc pure functions — and the [[MaxBandDocs]] gate counts the
    * FILTERED bands — the serve equals publish(standing minus
    * tombstones) + serve bit-for-bit, the same rebuild-equivalence
    * contract as [[Search.bm25QueryIndexTombstoned]]. Deletes stay
    * O(tombstones) at serve; nothing republishes. */
  def cjkServeDeltaTombstonedTokens(spark: SparkSession,
                                    deltaToks: DataFrame,
                                    threshold: Double, dir: String,
                                    tombstones: DataFrame,
                                    n: Int = CjkCharShingleN,
                                    maxBandDocs: Int = MaxBandDocs): DataFrame = {
    IndexMeta.check(dir)
    minhashServeDeltaFrom(
      StoreSwap.dropDead(spark.read.parquet(s"$dir/hashes"), "doc_id",
        tombstones).withColumnRenamed("doc_id", "corpus_id"),
      StoreSwap.dropDead(spark.read.parquet(s"$dir/bands"), "doc_id",
        tombstones).withColumnRenamed("doc_id", "corpus_id"),
      deltaToks.select(col("doc_id"),
        concat_ws(" ", col("toks")).as("_script_text")),
      "doc_id", "_script_text", threshold, n, maxBandDocs)
  }

  /** A d21-format near-dup store as [[StoreSwap]] compacts it (d33's
    * EXPUNGE-DELETES) — the r15 move generalized to the second
    * tombstoned family: d29's serve anti-joins its delete set on every
    * query, so serve cost degrades monotonically as deletions accrue;
    * this one pass drops the tombstoned docs' rows from all three
    * persisted tables (signatures, bands, hashes), rewrites them beside
    * the live store,
    * and swaps under the [[IndexMeta]] stamp-off/stamp-on torn-write
    * contract ([[StoreSwap.compact]]) — after which the tombstone set
    * RETIRES. [[StoreSwap.compactIfNeeded]] decides on the signatures'
    * tombstoned share: below it the d29 serve-time anti-join is the
    * cheaper deal and the store is left untouched.
    *
    * Unlike the BM25 store there is NOTHING to correct: every store
    * row is a pure per-doc function (a doc's signature, band keys, and
    * verify hashes depend on its own text alone), and the serve-time
    * [[MaxBandDocs]] gate counts the store's band rows at query time —
    * so the compacted store equals `publish(corpus minus tombstones)`
    * BIT-FOR-BIT, and `compact → serve` equals d29's tombstone serve
    * equals publish-over-remainder (the family's rebuild-equivalence
    * contract, now closed at rebuild time too).
    *
    * Cost shape: one anti-join pass per table, each keyed on `doc_id`
    * with the deletes broadcast — corpus-linear I/O, zero pair work,
    * the once-per-accumulation cost that keeps every subsequent serve
    * free of tombstone logic. */
  def cjkStore(dir: String): StoreSwap.Store =
    StoreSwap.Store(dir, TextOps.tokenizerVersion, "doc_id",
      Seq("signatures", "bands", "hashes"))

  /** MinHash-ESTIMATED near-dup pairs (d15): band candidates scored by
    * signature agreement alone — `est_jaccard = matching components /
    * (Bands·RowsPerBand)`, the unbiased MinHash estimator — with NO
    * exact shingle verify. The third point on the d03/d08 spectrum:
    * d03 emits raw candidates, d08 pays a shingle-array join for exact
    * Jaccard, d15 pays only a 16-int signature join for a ±1/√r
    * estimate — the right trade when the downstream consumer (cluster
    * + keep-one) tolerates estimator noise, which corpus dedup does.
    * `/r` is a power-of-two divide at the default 16 components, so
    * the estimate is exact binary on both engines.
    * Output: `(doc_a, doc_b, n_agree, est_jaccard)`. */
  def minhashEstimatedPairs(docs: DataFrame, id: String, text: String,
                            threshold: Double, n: Int = 3): DataFrame = {
    val r = Bands * RowsPerBand
    val cand = minhashCandidates(docs, id, text, n)
    val sig = minhashSignatures(docs, id, text, n)
    cand
      .join(sig.select(col("doc_id").as("doc_a"), col("mh").as("mh_a")),
        Seq("doc_a"))
      .join(sig.select(col("doc_id").as("doc_b"), col("mh").as("mh_b")),
        Seq("doc_b"))
      .withColumn("n_agree",
        expr("size(filter(zip_with(mh_a, mh_b, (x, y) -> x = y), b -> b))")
          .cast("long"))
      .withColumn("est_jaccard",
        col("n_agree").cast("double") / lit(r.toDouble))
      .filter(col("est_jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("n_agree"), col("est_jaccard"))
  }

  /** INCREMENTAL dedup (d10) — near-dups of a DELTA batch against an
    * existing CORPUS, the shape a growing pipeline actually runs: a
    * daily crawl dedups against everything already ingested WITHOUT
    * re-pairing the corpus against itself. Same band-then-verify
    * recipe as [[minhashVerifiedPairs]], but candidates come from a
    * CROSS-SET band join (delta bands ⋈ corpus bands), so no
    * within-set pair ever expands: cost scales with |delta| and the
    * band collision rate, not |corpus|² or even |corpus| pair volume.
    *
    * Scale shape: both sides' signatures are one map-side native pass;
    * the band join shuffles 4 keys/doc per side (broadcast the delta
    * side if it is small enough — Spark's planner decides from stats);
    * the exact-Jaccard verify re-projects shingle arrays only for docs
    * that banded together. State nothing: yesterday's corpus bands can
    * be a persisted table appended to daily, which is the production
    * deployment of this operator.
    *
    * Output: `(corpus_id, delta_id, inter, jaccard)` with true Jaccard
    * ≥ `threshold`. */
  def minhashVerifiedAgainst(corpus: DataFrame, delta: DataFrame,
                             id: String, text: String, threshold: Double,
                             n: Int = 3): DataFrame =
    minhashServeDelta(corpus, minhashBandRows(corpus, id, text, n)
        .withColumnRenamed("doc_id", "corpus_id"),
      delta, id, text, threshold, n)

  /** Per-doc band-key rows `(doc_id, band, key)` over MinHash
    * signatures — the LSH index column layout, shared by the in-flow
    * cross-set join ([[minhashVerifiedAgainst]]) and the persisted
    * signature store ([[minhashWriteIndex]]/[[minhashLoadIndex]]). */
  def minhashBandRows(docs: DataFrame, id: String, text: String,
                      n: Int = 3): DataFrame =
    bandRowsFromSignatures(minhashSignatures(docs, id, text, n))

  /** The band-key explode alone, over an ALREADY-COMPUTED signature
    * frame `(doc_id, mh)` — cheap array slicing, no text touched.
    * Split from [[minhashBandRows]] so a caller that materializes
    * signatures once (d24's one-scan corpus artifact) can derive its
    * band table without a second tokenize+hash pass. */
  def bandRowsFromSignatures(sig: DataFrame): DataFrame = {
    val bandKeys = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => s"mh[${b * RowsPerBand + r}]")
      expr(s"concat_ws('_', ${cols.mkString(", ")})")
    }
    sig.select(col("doc_id"),
      posexplode(array(bandKeys: _*)).as(Seq("band", "key")))
  }

  /** ONE scan of `docs` → the MinHash family's complete per-doc
    * artifact row `(doc_id, hs, mh)`: verify-side shingle-hash arrays
    * and the band-side signature as two map-side expressions over the
    * same token array. Every site that needs both MUST derive them
    * from one materialization of this frame (localCheckpoint in-flow,
    * parquet at the publish seams) — consuming bands and arrays as
    * separate derivations re-executes the tokenize+hash subtree per
    * consumer, and that doubled/tripled linear term is what the d24
    * sf1 probe measured before the rework (BENCH_SCALE's d24
    * section). */
  def minhashDocArtifacts(docs: DataFrame, id: String, text: String,
                          n: Int): DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    docs
      .select(col(id).as("doc_id"),
        expr(s"filter(split($text, ' '), x -> x <> '')").as("tk"))
      .filter(size(col("tk")) >= n)
      .select(col("doc_id"),
        expr(s"graft_shingle_hashes(tk, $n, 1)").as("hs"),
        expr(s"graft_minhash(tk, $n)").as("mh"))
  }

  /** Serve a DELTA batch against a standing corpus's band table —
    * the candidate + verify half of [[minhashVerifiedAgainst]], split
    * out so `corpusBands` can come from either an in-flow computation
    * or a persisted index loaded from parquet (d19). Delta bands are
    * computed map-side; candidates are the cross-set band equi-join
    * (never a within-set expansion); the exact-Jaccard verify
    * re-projects shingle arrays only for docs that banded together —
    * the corpus TEXT is touched for verification only, its signatures
    * never recomputed. `corpusBands` schema: `(corpus_id, band, key)`. */
  def minhashServeDelta(corpus: DataFrame, corpusBands: DataFrame,
                        delta: DataFrame, id: String, text: String,
                        threshold: Double, n: Int = 3): DataFrame =
    minhashServeDeltaFrom(
      shingleHashArrays(corpus, id, text, n)
        .withColumnRenamed("doc_id", "corpus_id"),
      corpusBands, delta, id, text, threshold, n)

  /** [[minhashServeDelta]] with the corpus side's verify arrays
    * supplied as a TABLE `(corpus_id, hs)` instead of re-derived from
    * the corpus text — the fully store-served cross readout: band
    * candidates from the loaded band table, exact verify from the
    * loaded hash arrays, the standing corpus's TEXT never read (the
    * last place the one-table form still touched it).
    *
    * `maxBandDocs` is the cross-set face of the [[MaxBandDocs]] guard
    * (needed by low-diversity shingle regimes — the CJK char path):
    * band keys held by more than the cap's worth of STANDING docs are
    * dropped before the candidate join, bounding per-key fan-out at
    * `cap × delta-df`. The gate is a pure function of the FROZEN
    * store — like m11's standing-only boilerplate list, so a delta
    * item's pairs never depend on which micro-batch delivered it. */
  def minhashServeDeltaFrom(corpusArrays: DataFrame, corpusBands: DataFrame,
                            delta: DataFrame, id: String, text: String,
                            threshold: Double, n: Int = 3,
                            maxBandDocs: Int = Int.MaxValue): DataFrame = {
    graft.functions.VectorFunctions.register(delta.sparkSession)
    // the bucket-cap gate as a WINDOW count (r19, guide §2.4): the
    // groupBy + left_semi form scanned the standing band table twice
    // and paid two exchanges (the bdf aggregate plus the semi-join's
    // re-shuffle of the bands); `count over (partition by band, key)`
    // reads the store once, and its exchange IS the hash partitioning
    // the candidate equi-join below requires, so the gate adds zero
    // extra shuffles. Identical row semantics: the window count per
    // (band, key) equals the aggregate's bdf, the filter keeps the
    // same keys, and all band rows of a surviving key pass through.
    val gatedBands =
      if (maxBandDocs == Int.MaxValue) corpusBands
      else corpusBands
        .withColumn("_bdf", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("band"), col("key"))))
        .filter(col("_bdf") <= maxBandDocs)
        .drop("_bdf")
    // the delta's band rows and verify arrays are each consumed by
    // exactly ONE join here, so the two lazy derivations below run
    // once apiece — two streaming passes over the delta text, nothing
    // materialized. Deliberately NOT the one-scan checkpoint shape
    // ([[minhashDocArtifacts]]): that trades the second tokenize pass
    // for re-reading the row-based checkpoint's fat hash arrays from
    // both consumers, which measured a wash on the CJK path and a
    // regression on the word path; the checkpoint shape pays off only
    // where consumers multiply (the incremental serve's 2×2, the
    // publish's four tables).
    val cand = gatedBands
      .join(minhashBandRows(delta, id, text, n)
          .withColumnRenamed("doc_id", "delta_id"),
        Seq("band", "key"))
      .select(col("corpus_id"), col("delta_id"))
      .distinct()
    cand
      .join(corpusArrays.select(col("corpus_id"), col("hs").as("hs_a"),
        size(col("hs")).cast("long").as("n_a")), Seq("corpus_id"))
      .join(shingleHashArrays(delta, id, text, n)
          .select(col("doc_id").as("delta_id"), col("hs").as("hs_b"),
            size(col("hs")).cast("long").as("n_b")),
        Seq("delta_id"))
      .withColumn("inter",
        expr("graft_inter_count(hs_a, hs_b)"))
      .withColumn("jaccard", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("corpus_id"), col("delta_id"), col("inter"), col("jaccard"))
  }

  /** Per-doc sorted distinct combined shingle-hash arrays `(doc_id,
    * hs)` — the verify-side artifact of the MinHash family (what
    * [[minhashVerifiedPairs]] joins per candidate side), exposed so
    * the p05 publisher can persist it beside the signatures/bands. */
  def shingleHashArrays(docs: DataFrame, id: String, text: String,
                        n: Int = 3): DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    docs
      .select(col(id).as("doc_id"),
        expr(s"filter(split($text, ' '), x -> x <> '')").as("tk"))
      .filter(size(col("tk")) >= n)
      .select(col("doc_id"), expr(s"graft_shingle_hashes(tk, $n, 1)").as("hs"))
  }

  /** PERSIST the standing corpus's MinHash index (d19) as two parquet
    * tables under `dir` — `signatures` `(doc_id, mh)` and `bands`
    * `(doc_id, band, key)`: the d-family twin of the persisted PQ
    * index (Similarity.pqWriteIndex). A production incremental-dedup
    * pipeline computes the corpus side ONCE per ingest and appends; a
    * daily delta then joins the loaded band table without re-reading
    * (or re-hashing) a byte of standing-corpus text on the candidate
    * path. Longs and strings round-trip parquet bit-exactly, so
    * serve-from-loaded ≡ serve-from-computed (pinned by spec and by
    * d19's oracle, which is d10's verbatim). */
  def minhashWriteIndex(corpus: DataFrame, id: String, text: String,
                        dir: String, n: Int = 3): Unit = {
    // unstamp → write → stamp: the torn-publish fail-closed contract
    // (round 18, closing the word-MinHash seam the same round closed
    // for word BM25 — a publish that dies between the two tables must
    // not serve under any valid stamp)
    IndexMeta.unstamp(dir)
    minhashSignatures(corpus, id, text, n)
      .write.mode("overwrite").parquet(s"$dir/signatures")
    // bands are a pure explode of the signatures just written — derive
    // them from the stored artifact (longs round-trip parquet
    // bit-exactly) instead of tokenizing + hashing the corpus a second
    // time
    bandRowsFromSignatures(
      corpus.sparkSession.read.parquet(s"$dir/signatures"))
      .write.mode("overwrite").parquet(s"$dir/bands")
    IndexMeta.stampVersion(dir, mhVersion(n))
  }

  /** Version fingerprint of a persisted word-MinHash store
    * ([[minhashWriteIndex]] / [[minhashPublishStanding]]): the shingle
    * width, the banding geometry, and the MinHash seed family — a
    * store built under any other value silently stops banding against
    * current delta signatures (zero candidate collisions, zero error
    * anywhere), the exact recall hole the [[IndexMeta]] contract makes
    * loud. The seed digest is content-derived (MurmurHash3 of the
    * seed sequences — stable across JVMs), so editing a seed
    * auto-invalidates stale stores. */
  def mhVersion(n: Int = 3): String =
    s"graft-mh-1 n=$n bands=$Bands r=$RowsPerBand p=$P " +
      s"seeds=${(MinHashA ++ MinHashB).hashCode}"

  /** Load a persisted MinHash index written by [[minhashWriteIndex]]:
    * `(signatures, bands)` — failing loudly unless the [[mhVersion]]
    * stamp matches (an absent stamp is a torn publish). */
  def minhashLoadIndex(spark: SparkSession, dir: String,
                       n: Int = 3): (DataFrame, DataFrame) = {
    IndexMeta.checkVersion(dir, mhVersion(n))
    (spark.read.parquet(s"$dir/signatures"),
      spark.read.parquet(s"$dir/bands"))
  }

  /** p05's PUBLISH half — the d19 index plus the two artifacts that
    * make the nightly serve a pure store read: the verify-side hash
    * arrays ([[shingleHashArrays]], so the cross verify never
    * re-tokenizes standing text) and the standing COMPONENT LABELS.
    * Publishing the labels is the [[Multimodal.mediaServeFrom]] move on
    * the text seam, with a stronger contract: MinHash band keys and
    * pair Jaccards are pair-local (no corpus-wide df cap), so unlike
    * media's guard the published labels stay exact UNCONDITIONALLY as
    * deltas arrive — no drift check, no recompute branch, ever. */
  def minhashPublishStanding(standing: DataFrame, id: String, text: String,
                             threshold: Double, dir: String,
                             n: Int = 3): Unit = {
    // torn-publish fail-closed: stamp off for the duration of the
    // four-table publish, back only after the last write
    IndexMeta.unstamp(dir)
    // ONE tokenize+hash scan of the standing corpus feeds all four
    // store tables — signatures, bands, verify arrays, AND the pair
    // build behind the published labels (the naive composition ran
    // the scan ~6x: twice in writeIndex, once for hashes, three times
    // inside verifiedPairs). LAZY (r19): the signatures write is the
    // first consumer and touches every partition, so it materializes
    // the checkpoint in-line — the eager form paid a dedicated
    // materialization job the write then re-read.
    val art = minhashDocArtifacts(standing, id, text, n)
      .localCheckpoint(false)
    art.select(col("doc_id"), col("mh"))
      .write.mode("overwrite").parquet(s"$dir/signatures")
    // bands explode off the signatures JUST WRITTEN — a columnar read
    // that prunes the fat hash arrays, where the row-based checkpoint
    // cannot (longs round-trip parquet bit-exactly)
    bandRowsFromSignatures(
      art.sparkSession.read.parquet(s"$dir/signatures"))
      .write.mode("overwrite").parquet(s"$dir/bands")
    art.select(col("doc_id"), col("hs"))
      .write.mode("overwrite").parquet(s"$dir/hashes")
    Clusters.connectedComponents(
      minhashVerifiedPairsFromArtifacts(art, threshold),
      "doc_a", "doc_b")
      .write.mode("overwrite").parquet(s"$dir/labels")
    IndexMeta.stampVersion(dir, mhVersion(n))
  }

  /** p05's SERVE half — the nightly incremental readout with the
    * standing corpus NEVER touched: cross pairs from the loaded
    * bands + loaded verify arrays ([[minhashServeDeltaFrom]]),
    * delta-delta pairs banded fresh (delta-sized work), and the
    * PUBLISHED standing labels rolled forward by one star merge —
    * no standing-standing re-pair, no CC fixpoint over the standing
    * history. Equals the one-shot full clustering exactly: the three
    * pair classes partition the full pair set (band agreement and
    * Jaccard are pair-local), the published labels ARE the standing
    * class's components, and [[Clusters.mergeComponents]] preserves
    * connectivity — so p05 keeps c03's oracle verbatim. */
  def minhashServeIncremental(spark: SparkSession, delta: DataFrame,
                              id: String, text: String, threshold: Double,
                              dir: String, n: Int = 3): DataFrame = {
    graft.functions.VectorFunctions.register(spark)
    // minhashLoadIndex verifies the store's mhVersion stamp — the
    // hashes/labels tables below ride the same stamped publish
    val (_, bands) = minhashLoadIndex(spark, dir, n)
    val standingArrays = spark.read.parquet(s"$dir/hashes")
    val published = spark.read.parquet(s"$dir/labels")
    // The delta's band rows and verify arrays each feed BOTH pair
    // classes (cross candidates + self candidates; cross verify + self
    // verify) — materialize ONE tokenize+hash scan per nightly batch
    // and let every consumer read it. The band rows get their own
    // NARROW checkpoint on top: localCheckpoint storage is row-based
    // (no column pruning), so the two band consumers would otherwise
    // drag the fat hash arrays through deserialization twice just to
    // extract the signature — one extra delta-sized materialization
    // buys both of them a (doc_id, band, key)-only read.
    // localCheckpoint, not cache: the artifacts are delta-sized by
    // construction and the truncated lineage keeps the merge
    // fixpoint's plan from re-deriving them every iteration (the
    // Clusters precedent).
    val dArt = minhashDocArtifacts(delta, id, text, n).localCheckpoint()
    val dBands = bandRowsFromSignatures(dArt.select(col("doc_id"), col("mh")))
      .localCheckpoint()
    val dArr = dArt.select(col("doc_id"), col("hs"))
    def withSizes(arr: DataFrame, key: String, hs: String, nsh: String) =
      arr.select(col("doc_id").as(key), col("hs").as(hs),
        size(col("hs")).cast("long").as(nsh))
    def verified(cand: DataFrame, a: String, b: String,
                 left: DataFrame, right: DataFrame) =
      cand
        .join(withSizes(left, a, "hs_a", "n_a"), Seq(a))
        .join(withSizes(right, b, "hs_b", "n_b"), Seq(b))
        .withColumn("inter",
          expr("graft_inter_count(hs_a, hs_b)"))
        .filter(col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double")
          >= threshold)
        .select(col(a).as("doc_a"), col(b).as("doc_b"))
    val crossCand = bands.withColumnRenamed("doc_id", "corpus_id")
      .join(dBands.withColumnRenamed("doc_id", "delta_id"),
        Seq("band", "key"))
      .select(col("corpus_id"), col("delta_id"))
      .distinct()
    val selfCand = expandPairs(
      dBands.groupBy(col("band"), col("key"))
        .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
        .filter(size(col("ids")) > 1))
      .distinct()
    val cross = verified(crossCand, "corpus_id", "delta_id",
      standingArrays, dArr)
    val deltaSelf = verified(selfCand, "doc_a", "doc_b", dArr, dArr)
    // The fresh-pair edge set is delta-sized by construction;
    // checkpoint it so the empty-night decision is one cheap probe on
    // materialized rows and the merge fixpoint's cached edge
    // derivation reads them back instead of re-running the band joins
    // + verifies. Disjoint nightly batches (no cross pair, no
    // delta-self pair) are the common production case: merging an
    // EMPTY edge set is an identity on the published labels (the star
    // edges reconverge to the same components, the anti-join restores
    // the same singletons), so that night's serve skips the CC
    // fixpoint entirely and returns the store's labels as-is —
    // exactness unchanged on either branch.
    val edges = cross.unionByName(deltaSelf).localCheckpoint()
    if (edges.isEmpty) published.select(col("doc_id"), col("cluster_id"))
    else Clusters.mergeComponents(published, edges)
  }

  /** NEAR-DUP decontamination (d17) — [[contaminationHits]]'s fuzzy
    * sibling: training docs that are near-duplicates (true Jaccard ≥
    * `threshold`) of ANY benchmark document, not merely sharing one
    * n-gram. d09 is the high-recall tripwire (one shared 3-gram
    * flags); this is the high-precision sweep that catches paraphrased
    * or lightly-edited benchmark leakage the way corpus dedup catches
    * near-dup documents — the two run together in a real
    * decontamination pass (exact-overlap scrub + near-dup drop).
    *
    * Pure composition: [[minhashVerifiedAgainst]] with the benchmark
    * as the delta side, aggregated per training doc. Scale shape is
    * inherited and ideal for this asymmetry: the benchmark is small BY
    * DEFINITION, so its 4 band keys/doc form a tiny join side (AQE
    * broadcasts it at runtime), the corpus side is one map-side
    * signature pass, and no corpus-vs-corpus pair ever forms — cost
    * scales with |benchmark| × collision rate, never |corpus|².
    *
    * Output: `(doc_id, n_bench_matches, max_jaccard)` — drop or audit
    * these ids; anti-join against the corpus to decontaminate. */
  def decontaminateNearDup(corpus: DataFrame, probe: DataFrame,
                           id: String, text: String, threshold: Double,
                           n: Int = 3): DataFrame =
    minhashVerifiedAgainst(corpus, probe, id, text, threshold, n)
      .groupBy(col("corpus_id"))
      .agg(count(lit(1)).as("n_bench_matches"),
        max(col("jaccard")).as("max_jaccard"))
      .select(col("corpus_id").as("doc_id"),
        col("n_bench_matches"), col("max_jaccard"))

  /** Cross-corpus n-gram contamination (d09) — benchmark
    * DECONTAMINATION, the step a training pipeline runs before any
    * model sees the corpus: find every training document sharing at
    * least one token-n-gram with a held-out/benchmark set, so those
    * docs can be dropped or scrubbed (the GPT-3/PaLM n-gram-overlap
    * recipe).
    *
    * Scale shape: the probe side is a benchmark — thousands of docs,
    * small BY DEFINITION — so its distinct shingle-hash set broadcasts
    * and the corpus side stays one map-side native-hash pass + an
    * explode filtered by the broadcast hash join, then a groupBy on
    * (doc, hash) cardinality. No shuffle ever carries corpus token
    * data except the per-doc hit counts. If the probe outgrows
    * broadcast, drop the `broadcast` hint and Spark falls back to a
    * hash join on `sk` — same result. Hashes are the same 60-bit
    * portable shingle keys as [[jaccardPairs]] (collision inflates a
    * hit count by 1 with ~2^-60 probability).
    *
    * Output: `(doc_id, n_hits)` — corpus docs with ≥1 shared n-gram and
    * how many distinct probe n-grams they contain. Anti-join the ids
    * against the corpus to decontaminate. */
  /** SEMANTIC decontamination (d25) — the embedding-space member of
    * the decontamination family, closing its third seam: d09/d17
    * catch exact and near-verbatim word overlap, d23/d24 the same on
    * the unsegmented char seam, but a benchmark item REWRITTEN —
    * translated, re-worded beyond shingle reach, code re-implemented —
    * shares no n-grams in any tokenization and is visible only in
    * embedding space (the "semantic dedup" argument of SemDeDup,
    * Abbas et al. 2023, pointed cross-set at the benchmark). Flags
    * every corpus vector whose cosine against ANY benchmark vector
    * meets `threshold`, aggregated per corpus item like the rest of
    * the family: `(vec_id, n_bench_matches, max_cos)`.
    *
    * Scale shape: the benchmark side is small BY DEFINITION, so it
    * broadcasts whole and the operator is ONE map-side pass over the
    * corpus vectors — |corpus|·|bench| native [[graft_dot]]s, no
    * shuffle of the corpus, no within-corpus pairs (c05's k-means
    * blocking is for corpus×corpus; cross-set against a broadcast
    * probe needs none). A benchmark too large to broadcast composes
    * the d07 hyperplane-bucket gate on both sides first — the same
    * recall-for-cost trade, deliberately NOT defaulted here because
    * decontamination wants recall and the small side makes exactness
    * affordable. Cosines reproduce the oracle's IEEE doubles exactly
    * (index-order accumulation, the d05 contract). */
  def semanticDecontaminate(corpus: DataFrame, probe: DataFrame,
                            id: String, vec: String,
                            threshold: Double): DataFrame = {
    graft.functions.VectorFunctions.register(corpus.sparkSession)
    val c = corpus.select(col(id).as("vec_id"), col(vec).as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
    val b = probe.select(col(id).as("bench_id"), col(vec).as("pv"))
      .withColumn("pnrm", expr("sqrt(graft_dot(pv, pv))"))
    c.crossJoin(broadcast(b))
      .withColumn("cos", expr("graft_dot(v, pv)") / (col("nrm") * col("pnrm")))
      .filter(col("cos") >= threshold)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_bench_matches"), max(col("cos")).as("max_cos"))
  }

  /** [[semanticDecontaminate]]'s bucketed scale path (d26) — for the
    * regime where the probe side is NOT broadcast-small (a benchmark
    * suite of millions of items, or decontaminating against another
    * whole corpus): both sides hash to d07's random-hyperplane
    * buckets and only same-bucket cross pairs are scored, cutting the
    * |corpus|·|bench| dot products ~2^planes-fold. Same trade as
    * d07-vs-d05: output ⊆ the exact operator's (a qualifying pair at
    * cosine t shares the bucket with probability (1−arccos(t)/π)^p);
    * a production deployment ORs several independent plane sets for
    * recall — the d03 band trick, materialized as
    * [[semanticDecontaminateLshMulti]] (d28). The bucket is the shuffle key
    * of a plain cross-set equi-join: buckets co-locate without
    * materializing, a hot bucket spills rather than OOMs. Identical
    * and near-identical vectors land in the same bucket by
    * construction (same side of every plane), so the contamination
    * class that matters most — copies — is caught at full recall.
    * Output: `(vec_id, n_bench_matches, max_cos)` ⊆ d25's rows with
    * counts ≤ d25's. */
  def semanticDecontaminateLsh(corpus: DataFrame, probe: DataFrame,
                               id: String, vec: String, threshold: Double,
                               planes: Int = Similarity.NumPlanes,
                               dims: Int = 64): DataFrame = {
    graft.functions.VectorFunctions.register(corpus.sparkSession)
    def bucketed(df: DataFrame, idOut: String, vOut: String,
                 nrmOut: String): DataFrame =
      df.select(col(id).as(idOut), col(vec).as(vOut))
        .withColumn(nrmOut, expr(s"sqrt(graft_dot($vOut, $vOut))"))
        .withColumn("bucket", hyperplaneBucket(vOut, 0, planes, dims))
    bucketed(corpus, "vec_id", "v", "nrm")
      .join(bucketed(probe, "bench_id", "pv", "pnrm"), Seq("bucket"))
      .withColumn("cos", expr("graft_dot(v, pv)") / (col("nrm") * col("pnrm")))
      .filter(col("cos") >= threshold)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_bench_matches"), max(col("cos")).as("max_cos"))
  }

  /** The d07/d26 random-hyperplane bucket of vector column `vExpr`,
    * for PLANE SET `set`: sign bits of `planes` integer-LCG
    * hyperplanes, set `s` drawing planes `s·planes … s·planes+planes−1`
    * from [[Similarity.weight]]'s deterministic matrix — so set 0 is
    * exactly d26's single bucket and higher sets are independent
    * draws of the same family. */
  private def hyperplaneBucket(vExpr: String, set: Int, planes: Int,
                               dims: Int): Column =
    (0 until planes).map { i =>
      val w = (0 until dims)
        .map(j => s"${Similarity.weight(set * planes + i, j, dims)}D")
        .mkString(", ")
      when(expr(s"graft_dot($vExpr, array($w))") > 0d, 1 << i).otherwise(0)
    }.reduce(_ + _)

  /** How many independent plane sets [[semanticDecontaminateLshMulti]]
    * ORs by default. Recall at cosine t rises from (1−arccos(t)/π)^p
    * to 1−(1−(1−arccos(t)/π)^p)^sets — at t = 0.45's angle and p = 4,
    * two sets already recover most of what one set leaves behind,
    * and each extra set costs one more map-side bucket column and one
    * more band join of the same size. */
  val NumPlaneSets = 2

  /** [[semanticDecontaminateLsh]] with MULTI-PROBE OR-BANDING (d28) —
    * the d03 band trick its doc-comment promises, materialized:
    * `sets` independent hyperplane sets each gate a candidate join,
    * the per-set candidate id-pairs UNION and de-duplicate BEFORE the
    * exact verify, and every surviving pair is scored exactly once.
    * One plane set leaves real paraphrase-contamination recall on the
    * table in precisely the regime d26 exists for (a benchmark too
    * large to broadcast): a qualifying pair at cosine t shares one
    * set's bucket only with probability (1−arccos(t)/π)^p; OR-ing
    * independent sets drives the miss rate down geometrically while
    * the verify filter keeps precision exact.
    *
    * Scale shape: all `sets` bucket columns compute in ONE map-side
    * pass per side into a NARROW `(id, bk0…bk{sets−1})` checkpoint —
    * an unmaterialized frame would be re-scanned and re-bucketed by
    * every candidate branch (Catalyst does not share subtrees across
    * union arms); at full corpus scale the corpus side's table is the
    * PERSISTED bucket store instead — [[semanticBucketsWrite]] /
    * [[semanticDecontaminateFromStore]] (d32), the k15 discipline
    * materialized. Each per-set join is the same plain
    * equi-join as d26 (bucket = shuffle key, spills not OOMs); the
    * pair dedup is a distinct over 16-byte id pairs (never vectors);
    * the verify re-reads each side's vectors exactly once and
    * attaches them by plain equi-joins on the ids. Output ⊆ d25's
    * rows with counts ≤ d25's (exact verify) and ⊇ d26's (set 0 IS
    * d26's gate). */
  def semanticDecontaminateLshMulti(corpus: DataFrame, probe: DataFrame,
                                    id: String, vec: String,
                                    threshold: Double,
                                    planes: Int = Similarity.NumPlanes,
                                    sets: Int = NumPlaneSets,
                                    dims: Int = 64,
                                    maxBucketDocs: Int = 0): DataFrame = {
    require(sets >= 1, "at least one plane set")
    graft.functions.VectorFunctions.register(corpus.sparkSession)
    semanticMultiProbeServe(
      multiProbeBuckets(corpus, id, vec, "vec_id", planes, sets, dims)
        .localCheckpoint(),
      corpus, probe, id, vec, threshold, planes, sets, dims, maxBucketDocs)
  }

  /** The one map-side pass that derives ALL `sets` hyperplane buckets
    * of a vector frame — the narrow `(idOut, bk0…bk{sets−1})` table
    * d28/d31/d32 gate their candidate joins on. NOT materialized here:
    * in-flow callers `localCheckpoint()` it (Catalyst does not share
    * subtrees across union arms), the store publisher
    * ([[semanticBucketsWrite]]) persists it instead — the k15
    * discipline the d28 doc-comment promised. */
  private[graft] def multiProbeBuckets(df: DataFrame, id: String,
                                     vec: String, idOut: String,
                                     planes: Int, sets: Int,
                                     dims: Int): DataFrame =
    (0 until sets).foldLeft(
      df.select(col(id).as(idOut), col(vec).as("_bv"))) { (acc, s) =>
        acc.withColumn(s"bk$s", hyperplaneBucket("_bv", s, planes, dims))
    }.drop("_bv")

  /** The shared d28/d32 serve tail over an ALREADY-MATERIALIZED corpus
    * bucket table (a localCheckpoint in-flow, the loaded store at the
    * persisted seam): per-set candidate equi-joins vs the
    * freshly-bucketed probe side, UNION+dedup over 16-byte id pairs,
    * then ONE exact verify with vectors re-attached by id. */
  /** The over-dense hyperplane buckets of a `(… , bucket)` frame — the
    * skew outliers a `maxBucketDocs` cap drops BEFORE pair expansion.
    * Callers broadcast this list and anti-join: it sizes with the
    * anomaly (≤ n/cap rows even adversarially, a handful in a
    * balanced deployment), where the complementary under-cap list
    * sizes with the corpus layout (2^planes ≈ n/bucket_size once
    * planes scale with log₂(corpus)). */
  private def overDenseBuckets(keyed: DataFrame, cap: Int): DataFrame =
    keyed.groupBy(col("bucket"))
      .agg(count(lit(1)).as("_bn"))
      .filter(col("_bn") > cap)
      .select(col("bucket"))

  private def semanticMultiProbeServe(cb: DataFrame, corpus: DataFrame,
                                      probe: DataFrame, id: String,
                                      vec: String, threshold: Double,
                                      planes: Int, sets: Int,
                                      dims: Int,
                                      maxBucketDocs: Int = 0): DataFrame = {
    val bb = multiProbeBuckets(probe, id, vec, "bench_id", planes, sets, dims)
      .localCheckpoint()
    // `maxBucketDocs` (0 = off) is the d37 skew backstop on the
    // bench×corpus seam: a corpus bucket of size b meets its bench
    // twin of size q and expands b·q candidates, so one over-dense
    // CORPUS bucket (vectors near a cluster core — the r19 sf10 probe
    // measured max/mean ≈ 100× at deployment-scaled planes) dominates
    // the candidate volume exactly like the self-join's b². The gate
    // is computed from the CORPUS side only (the side whose density
    // is standing and skewed; the bench side just inherits the drop)
    // and applied to both, per set.
    val cand = (0 until sets).map { s =>
      val ck = cb.select(col("vec_id"), col(s"bk$s").as("bucket"))
      val dense =
        if (maxBucketDocs <= 0) None
        else Some(broadcast(overDenseBuckets(ck, maxBucketDocs)))
      def gate(df: DataFrame): DataFrame =
        dense.fold(df)(d => df.join(d, Seq("bucket"), "left_anti"))
      gate(ck)
        .join(gate(bb.select(col("bench_id"), col(s"bk$s").as("bucket"))),
          Seq("bucket"))
        .select(col("vec_id"), col("bench_id"))
    }.reduce(_.unionByName(_)).distinct()
    val cv = corpus.select(col(id).as("vec_id"), col(vec).as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
    val bv = probe.select(col(id).as("bench_id"), col(vec).as("pv"))
      .withColumn("pnrm", expr("sqrt(graft_dot(pv, pv))"))
    cand
      .join(cv, Seq("vec_id"))
      .join(bv, Seq("bench_id"))
      .withColumn("cos", expr("graft_dot(v, pv)") / (col("nrm") * col("pnrm")))
      .filter(col("cos") >= threshold)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_bench_matches"), max(col("cos")).as("max_cos"))
  }

  /** Version fingerprint of a persisted multi-probe bucket store: the
    * embedding-encoder revision plus every constant the buckets are a
    * function of — the LCG that generates the hyperplane weights and
    * the (sets × planes × dims) geometry. Derived from the live
    * constants ([[Similarity.weight]]'s LCG is pinned by its oracle
    * literals), so changing ANY of them auto-invalidates stale
    * stores: buckets from a different plane set silently stop
    * colliding, the exact recall-zeroing failure the [[IndexMeta]]
    * contract exists to make loud. */
  def hplshVersion(planes: Int = Similarity.NumPlanes,
                   sets: Int = NumPlaneSets, dims: Int = 64): String = {
    // the weight digest is computed FROM the live weight function
    // (content-stable MurmurHash3 over the full plane matrix), so any
    // change to the LCG — constants or formula — auto-invalidates
    // stale stores; a frozen literal here would keep matching them
    val wDigest = (for {
      i <- 0 until sets * planes
      j <- 0 until dims
    } yield Similarity.weight(i, j, dims)).hashCode
    s"graft-hplsh-1 ${Similarity.EncoderVersion} " +
      s"planes=$planes sets=$sets dims=$dims wdigest=$wDigest"
  }

  /** PUBLISH the corpus side's multi-probe bucket table (d32) — the
    * d30/k15 move on the semantic-decontamination seam, closing d28's
    * documented residual: the corpus buckets were a per-run
    * `localCheckpoint()` (executor-memory, recomputed every serve),
    * while at 100 TB they are a nightly artifact — one narrow
    * `(vec_id, bk0…bk{sets−1})` row per corpus vector, written once at
    * ingest and served against until the next republish. Stamped with
    * [[hplshVersion]] under the torn-write contract (unstamp → write →
    * stamp). */
  def semanticBucketsWrite(corpus: DataFrame, id: String, vec: String,
                           dir: String,
                           planes: Int = Similarity.NumPlanes,
                           sets: Int = NumPlaneSets,
                           dims: Int = 64): Unit = {
    graft.functions.VectorFunctions.register(corpus.sparkSession)
    IndexMeta.unstamp(dir)
    multiProbeBuckets(corpus, id, vec, "vec_id", planes, sets, dims)
      .write.mode("overwrite").parquet(s"$dir/buckets")
    IndexMeta.stampVersion(dir, hplshVersion(planes, sets, dims))
  }

  /** APPEND a delta batch's bucket rows to a standing bucket store —
    * the k18 frozen-artifact move on the d32 seam: a bucket is a pure
    * per-vector function of the FIXED plane sets, so a nightly delta
    * batch enters the standing store by appending its own narrow rows;
    * nothing standing is re-bucketed, re-read, or re-written. Runs
    * under the torn-append contract: the stamp is CHECKED first
    * (appending buckets from a different plane-set definition would
    * silently never collide with the standing ones), comes off for
    * the duration of the append, and returns after — a crash
    * mid-append leaves the store unloadable at
    * [[semanticBucketsLoad]] rather than serving half a batch. */
  def semanticBucketsAppend(delta: DataFrame, id: String, vec: String,
                            dir: String,
                            planes: Int = Similarity.NumPlanes,
                            sets: Int = NumPlaneSets,
                            dims: Int = 64): Unit = {
    graft.functions.VectorFunctions.register(delta.sparkSession)
    IndexMeta.checkVersion(dir, hplshVersion(planes, sets, dims))
    IndexMeta.unstamp(dir)
    multiProbeBuckets(delta, id, vec, "vec_id", planes, sets, dims)
      .write.mode("append").parquet(s"$dir/buckets")
    IndexMeta.stampVersion(dir, hplshVersion(planes, sets, dims))
  }

  /** Load a persisted bucket store, failing loudly unless its
    * [[hplshVersion]] stamp matches the live plane-set definition. */
  def semanticBucketsLoad(spark: SparkSession, dir: String,
                          planes: Int = Similarity.NumPlanes,
                          sets: Int = NumPlaneSets,
                          dims: Int = 64): DataFrame = {
    IndexMeta.checkVersion(dir, hplshVersion(planes, sets, dims))
    spark.read.parquet(s"$dir/buckets")
  }

  /** A d32 bucket store as [[StoreSwap]] compacts it (d35's
    * EXPUNGE-DELETES) — the d33/m13/k28 move applied to the newest
    * store family, closing the one delete lifecycle the round-18 sweep
    * left open: d34's serve anti-joins its delete set off the loaded
    * buckets on EVERY query, so serve cost degrades monotonically as
    * deletions accrue, and
    * [[semanticBucketsAppend]]'s nightly mode("append") batches
    * fragment the parquet footer-by-footer. This one pass drops the
    * tombstoned ids' bucket rows, rewrites the table beside the live
    * store (coalescing the append fragments as a side effect of the
    * rewrite), and swaps under the [[StoreSwap.compact]] poison-stamp
    * contract — after which the tombstone set RETIRES.
    * [[StoreSwap.compactIfNeeded]] decides on the tombstoned bucket
    * rows' share: below it, d34's serve-time anti-join is the cheaper
    * deal.
    *
    * Nothing to correct: a bucket row is a pure per-vector function of
    * the fixed plane sets (the same argument as d33's per-doc store
    * rows), so the compacted store equals
    * `semanticBucketsWrite(corpus minus tombstones)` bit-for-bit and
    * `compact → serve` equals d34's tombstone serve equals
    * publish-over-remainder — the family's rebuild-equivalence
    * contract, which is why d35 shares d34's oracle text.
    *
    * Cost shape: ONE broadcast anti-join over the narrow
    * `(vec_id, bk0…bk{sets−1})` table — corpus-linear I/O on the
    * store's smallest artifact, zero re-bucketing, zero vector reads. */
  def semanticBucketsStore(dir: String,
                           planes: Int = Similarity.NumPlanes,
                           sets: Int = NumPlaneSets,
                           dims: Int = 64): StoreSwap.Store =
    StoreSwap.Store(dir, hplshVersion(planes, sets, dims), "vec_id",
      Seq("buckets"))

  /** [[semanticDecontaminateLshMulti]] served FROM the persisted
    * bucket store (d32), optionally under a STANDING DELETE SET (d34,
    * the d29 move for family symmetry): the corpus side re-tokenizes
    * and re-buckets NOTHING standing — its bucket table loads from
    * `dir`, tombstoned ids are anti-joined off the loaded buckets
    * (per-vector pure rows, so the filtered store equals
    * publish-over-remainder bit-for-bit, and a deleted vector can
    * never reach the candidate union), and only the benchmark side is
    * bucketed fresh. `corpus` supplies the verify-side VECTORS — the
    * standing corpus table itself; candidates attach to it by plain
    * id equi-joins, touching only banded rows. Identical candidate
    * set, dedup, and verify arithmetic as the in-flow d28 (the serve
    * tail is shared code), so d32 shares d28's oracle verbatim and
    * d34 shares it under the tombstone WHERE. */
  def semanticDecontaminateFromStore(spark: SparkSession, dir: String,
                                     corpus: DataFrame, probe: DataFrame,
                                     id: String, vec: String,
                                     threshold: Double,
                                     tombstones: Option[DataFrame] = None,
                                     planes: Int = Similarity.NumPlanes,
                                     sets: Int = NumPlaneSets,
                                     dims: Int = 64): DataFrame = {
    graft.functions.VectorFunctions.register(corpus.sparkSession)
    val cb0 = semanticBucketsLoad(spark, dir, planes, sets, dims)
    val cb = tombstones.fold(cb0)(StoreSwap.dropDead(cb0, "vec_id", _))
    semanticMultiProbeServe(cb, corpus, probe, id, vec, threshold,
      planes, sets, dims)
  }

  def contaminationHits(corpus: DataFrame, id: String, text: String,
                        probe: DataFrame, probeText: String,
                        n: Int = 3): DataFrame = {
    graft.functions.VectorFunctions.register(corpus.sparkSession)
    val probeSet = probe
      .select(expr(s"filter(split($probeText, ' '), x -> x <> '')").as("tk"))
      .filter(size(col("tk")) >= n)
      .select(explode(expr(s"graft_shingle_hashes(tk, $n, 1)")).as("sk"))
      .distinct()
    // graft_shingle_hashes already dedups within a doc, so (doc_id, sk)
    // is distinct without a shuffle
    val corpusSh = corpus
      .select(col(id).as("doc_id"),
        expr(s"filter(split($text, ' '), x -> x <> '')").as("tk"))
      .filter(size(col("tk")) >= n)
      .select(col("doc_id"), explode(expr(s"graft_shingle_hashes(tk, $n, 1)")).as("sk"))
    corpusSh.join(broadcast(probeSet), Seq("sk"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
  }

  /** CJK DECONTAMINATION (d23) — [[contaminationHits]] behind the
    * script tokenizer: the benchmark-leakage tripwire for an
    * UNSEGMENTED shard, where d09's word 3-grams see a whole document
    * as one token and the tripwire goes silently blind (the d02→d20
    * argument on the decontamination seam; the reference's own corpus
    * is TC/JP/SC medical text). Char-[[CjkCharShingleN]]-gram hits vs
    * the benchmark's char-gram set — same broadcast-probe-set shape,
    * the wider n because single CJK chars are far more
    * document-frequent than words. Output: `(doc_id, n_hits)`. */
  def cjkContaminationHits(corpus: DataFrame, id: String, text: String,
                           probe: DataFrame, probeText: String,
                           n: Int = CjkCharShingleN): DataFrame =
    contaminationHits(
      corpus.select(col(id),
        concat_ws(" ", TextOps.scriptTokens(col(text))).as("_script_text")),
      id, "_script_text",
      probe.select(
        concat_ws(" ", TextOps.scriptTokens(col(probeText)))
          .as("_script_text")),
      "_script_text", n)

  /** CJK NEAR-DUP DECONTAMINATION (d24) — [[decontaminateNearDup]]'s
    * char-seam sibling, closing the d09/d17 symmetry on unsegmented
    * text: training docs whose char-[[CjkCharShingleN]]-gram Jaccard
    * vs ANY benchmark doc clears `threshold`. The gap it closes: a
    * CJK benchmark quote with light edits evades d17 outright (word
    * 3-grams need ≥3 whitespace tokens — an unsegmented doc is ONE,
    * so the word path emits nothing) and is indistinguishable to d23,
    * whose any-shared-gram tripwire also fires on docs sharing one
    * incidental formulaic 5-gram — the flag is real but not
    * ACTIONABLE (you cannot drop every doc sharing one 5-gram with a
    * benchmark). The Jaccard verify is what separates "quoted with
    * edits" (high overlap, drop it) from "happens to share a phrase"
    * (noise, keep it); d24 ⊆ d23's flag set by construction (a
    * verified near-dup shares ≥1 gram — spec'd), the d17 ⊆ d09
    * relationship restated on the char seam.
    *
    * Composition: the capped cross-set band+verify
    * ([[minhashServeDeltaFrom]]) behind the script tokenizer with the
    * benchmark as the small (delta) side, collapsed per training doc.
    * Unlike d17's word path, the [[MaxBandDocs]] bucket cap on the
    * TRAINING-CORPUS side is load-bearing (the d20-vs-d08 distinction
    * restated): char-shingle signatures on a bounded repertoire
    * collide across unrelated docs, so uncapped corpus band buckets
    * grow with the corpus and candidates go quadratic — the uncapped
    * first cut measured 12.2× at the 10× sf1 probe; capped it is the
    * d21 shape, bounded by the benchmark's band hits. The recall
    * trade is the family's standard one: a contaminated doc reachable
    * only through an over-populated (formulaic) bucket can be missed
    * by the band stage — exactly the bucket class where incidental
    * overlap lives, which the Jaccard verify would reject anyway.
    *
    * The corpus side is ONE scan: verify arrays and the MinHash
    * signature are two map-side expressions over the same token
    * array, materialized together ([[minhashDocArtifacts]] +
    * localCheckpoint — the multi-consumer half of the one-scan
    * discipline) so the band table, the bucket gate's df count, and
    * the verify join all read the checkpoint — the naive form re-tokenized and re-hashed the
    * full training corpus three times (arrays + each side of the
    * gate's self-join), which tripled the linear term that dominates
    * this op at scale. The checkpoint is an IN-SESSION convenience
    * (corpus-sized executor storage, no spill-to-store contract); the
    * at-100TB shape is the d30 catalog entry — the identical
    * band+verify+collapse served from the PERSISTED d21-format store
    * ([[cjkPublishIndexTokens]] + [[cjkServeDeltaTokens]]), where the
    * standing corpus is never re-derived in-session at all. Output:
    * `(doc_id, n_bench_matches, max_jaccard)`. */
  def cjkDecontaminateNearDup(corpus: DataFrame, probe: DataFrame,
                              id: String, text: String, threshold: Double,
                              n: Int = CjkCharShingleN,
                              maxBandDocs: Int = MaxBandDocs): DataFrame =
    cjkDecontaminateNearDupTokens(
      corpus.select(col(id).as("doc_id"),
        TextOps.scriptTokens(col(text)).as("toks")),
      probe.select(col(id).as("doc_id"),
        TextOps.scriptTokens(col(text)).as("toks")),
      threshold, n, maxBandDocs)

  /** [[cjkDecontaminateNearDup]] over PRE-TOKENIZED sides `(doc_id,
    * toks)` — the artifact seam: a deployment sources both from the
    * persisted script-token arrays (Clusters.sharedCjkTokens), so
    * decontamination shares the corpus's one tokenizer pass with the
    * dedup/search consumers instead of re-running fold+regex over
    * 100 TB. The space re-join is exact (script tokens never contain
    * ASCII space — the sharedCjkPairs round-trip argument). */
  def cjkDecontaminateNearDupTokens(corpusToks: DataFrame,
                                    probeToks: DataFrame,
                                    threshold: Double,
                                    n: Int = CjkCharShingleN,
                                    maxBandDocs: Int = MaxBandDocs): DataFrame = {
    graft.functions.VectorFunctions.register(corpusToks.sparkSession)
    // one corpus scan → (corpus_id, hs, mh); bands + gate + verify all
    // read this checkpoint
    val cart = corpusToks
      .select(col("doc_id"), expr("filter(toks, x -> x <> '')").as("tk"))
      .filter(size(col("tk")) >= n)
      .select(col("doc_id").as("corpus_id"),
        expr(s"graft_shingle_hashes(tk, $n, 1)").as("hs"),
        expr(s"graft_minhash(tk, $n)").as("mh"))
      .localCheckpoint()
    // narrow checkpoint: the band table feeds BOTH the bucket-cap
    // gate's count and the candidate join, and the fat (hs) checkpoint
    // is row-based — without this each consumer would deserialize the
    // verify arrays just to read the signature-derived keys
    val cbands = bandRowsFromSignatures(
      cart.select(col("corpus_id").as("doc_id"), col("mh")))
      .withColumnRenamed("doc_id", "corpus_id")
      .localCheckpoint()
    val ptok = probeToks.select(col("doc_id"),
      concat_ws(" ", col("toks")).as("_script_text"))
    minhashServeDeltaFrom(
      cart.select(col("corpus_id"), col("hs")),
      cbands, ptok, "doc_id", "_script_text", threshold, n, maxBandDocs)
      .groupBy(col("corpus_id"))
      .agg(count(lit(1)).as("n_bench_matches"),
        max(col("jaccard")).as("max_jaccard"))
      .select(col("corpus_id").as("doc_id"),
        col("n_bench_matches"), col("max_jaccard"))
  }

  /** 32-bit SimHash signature per doc from term-frequency-weighted token
    * hashes, as ONE map-side native expression
    * ([[graft.functions.SimHash]]) — zero shuffles, embarrassingly
    * parallel at any corpus size. The per-(doc, token)-count relational
    * shape (groupBy token, explode 32 bit positions, two more groupBys)
    * computes `Σ_distinct-tokens cnt·(±1)` per bit; the expression folds
    * `±1` per token OCCURRENCE, which is the same sum — so the oracle is
    * unchanged. Docs with no tokens are absent from the output, matching
    * the relational form (explode of an empty array yields no rows).
    * Output: `(doc_id, simhash)`. */
  def simhash(docs: DataFrame, id: String, text: String): DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    docs
      .select(col(id).as("doc_id"),
        expr(s"filter(split($text, ' '), x -> x <> '')").as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), expr("graft_simhash(tk)").as("simhash"))
  }

  /** SimHash near-dup PAIRS (d13) — the operator [[simhash]]'s
    * signatures exist to feed: all pairs within Hamming distance
    * `maxHamming`, found by Manku/Jain/Sarma's pigeonhole banding
    * (WWW'07, Google's web-dedup design). Split the 32-bit signature
    * into `maxHamming + 1` bands: two signatures differing in ≤ r bits
    * must agree EXACTLY on at least one band (r bits cannot dirty r+1
    * bands), so a band-equality join finds every qualifying pair with
    * zero false negatives, and `bit_count(a ^ b) ≤ r` verifies each
    * candidate exactly.
    *
    * Scale shape: signatures are one map-side native expression per
    * doc; each doc emits `r+1` 8-byte band keys (vs d03's 4 minhash
    * band keys — same exchange discipline, no token data ever
    * shuffles); in-bucket pair expansion + popcount verify, then one
    * distinct to merge pairs caught by several bands. Skew caveat: a
    * signature value shared by a dense near-dup cluster lands its
    * whole cluster in one bucket — the Σdf² blow-up is inherent to
    * banding (same as d03); feed the pairs to [[Clusters]] and dedup
    * rather than enumerating a mega-cluster's pairs downstream.
    * Output: `(doc_a, doc_b, hamming)`. */
  def simhashPairs(docs: DataFrame, id: String, text: String,
                   maxHamming: Int = 1): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 8, "0 <= maxHamming < 8")
    val bands = maxHamming + 1
    val width = 32 / bands
    val sig = simhash(docs, id, text)
    // band b < bands-1 takes `width` bits; the last band the remainder
    val banded = sig.select(col("doc_id"), col("simhash"),
      explode(expr(
        s"""transform(sequence(0, ${bands - 1}), b -> named_struct(
           |  'band', b,
           |  'key', IF(b = ${bands - 1},
           |    simhash div shiftleft(1L, b * $width),
           |    (simhash div shiftleft(1L, b * $width)) % shiftleft(1L, $width))))""".stripMargin))
        .as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    banded.groupBy(col("band"), col("key"))
      .agg(sort_array(collect_set(struct(col("doc_id"), col("simhash")))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        "flatten(transform(ids, (a, i) -> " +
        "transform(slice(ids, i + 2, size(ids)), b -> struct(" +
        "a.doc_id AS doc_a, a.simhash AS sig_a, b.doc_id AS doc_b, b.simhash AS sig_b))))"))
        .as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        expr("bit_count(p.sig_a ^ p.sig_b)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Brute-force embedding-cosine near-dup pairs at or above
    * `threshold`. Dot products run through the native codegen'd
    * [[graft.functions.DotProduct]] — float elements widen to double
    * before multiplying and accumulate in index order, so the oracle's
    * explicit double fold reproduces the exact same IEEE doubles (and
    * the tight loop is ~12× faster than zip_with/aggregate HOFs on 2M
    * pairs). O(n²) by construction — the exact baseline; bucket at
    * scale via [[Similarity]]. Output: `(vec_a, vec_b, cos)`. */
  def cosineNearDup(vectors: DataFrame, id: String, vec: String,
                    threshold: Double): DataFrame = {
    graft.functions.VectorFunctions.register(vectors.sparkSession)
    val v = vectors
      .select(col(id).as("vec_id"), col(vec).as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
    v.as("a").join(v.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", expr("graft_dot(a.v, b.v)") / (col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= threshold)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cos"))
  }

  /** [[cosineNearDup]]'s scale path: only pairs sharing a random-
    * hyperplane LSH bucket (the [[Similarity.weight]] planes — same
    * integer-LCG family as k02, so the DuckDB oracle rebuilds identical
    * buckets) are scored. With p planes the corpus splits into 2^p
    * buckets, cutting scored pairs ~2^p-fold; a qualifying pair at
    * cosine t lands in the same bucket with probability
    * (1 − arccos(t)/π)^p — p trades recall against cost, and a
    * production deployment ORs several independent plane sets for
    * recall amplification (exactly d03's band trick, materialized as
    * [[cosineNearDupLshMulti]] — d31). The bucket is the
    * shuffle key of a plain self-equi-join: buckets co-locate without
    * ever materializing a bucket in memory, so a hot bucket spills
    * rather than OOMs; raise p to keep buckets balanced at corpus
    * scale. Output: `(vec_a, vec_b, cos)` ⊆ the exact operator's rows. */
  def cosineNearDupLsh(vectors: DataFrame, id: String, vec: String,
                       threshold: Double, planes: Int = Similarity.NumPlanes,
                       dims: Int = 64): DataFrame = {
    graft.functions.VectorFunctions.register(vectors.sparkSession)
    val bitCols = (0 until planes).map { i =>
      val w = (0 until dims).map(j => s"${Similarity.weight(i, j, dims)}D").mkString(", ")
      when(expr(s"graft_dot(v, array($w))") > 0d, 1 << i).otherwise(0)
    }
    val v = vectors
      .select(col(id).as("vec_id"), col(vec).as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
      .withColumn("bucket", bitCols.reduce(_ + _))
    v.as("a").join(v.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", expr("graft_dot(a.v, b.v)") / (col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= threshold)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cos"))
  }

  /** [[cosineNearDupLsh]] with MULTI-PROBE OR-BANDING (d31) — d28's
    * move on the WITHIN-corpus seam: `sets` independent hyperplane
    * sets each gate a self-join, per-set candidate id-pairs UNION and
    * de-duplicate before the exact verify, every surviving pair
    * scored once. Recall per qualifying pair rises from
    * (1−arccos(t)/π)^p to 1−(1−(1−arccos(t)/π)^p)^sets with the
    * verify keeping precision exact — the d03 multi-band recall
    * amplifier on the embedding seam, for the corpus sizes where the
    * exact d05 is unaffordable and one plane set leaves real near-dup
    * recall on the table.
    *
    * Scale shape = d28's: all bucket columns compute in ONE map-side
    * pass into a narrow `(id, bk0…bk{sets−1})` checkpoint (persist it
    * at full corpus scale); each per-set self-join shuffles on its
    * bucket (spills, never OOMs); the dedup is a distinct over
    * 16-byte id pairs; the verify re-reads vectors once and attaches
    * them by id equi-joins. Output: `(vec_a, vec_b, cos)` — ⊆ d05's
    * rows (exact verify) and ⊇ d07's (set 0 IS d07's bucket). */
  def cosineNearDupLshMulti(vectors: DataFrame, id: String, vec: String,
                            threshold: Double,
                            planes: Int = Similarity.NumPlanes,
                            sets: Int = NumPlaneSets,
                            dims: Int = 64,
                            maxBucketDocs: Int = 0): DataFrame = {
    require(sets >= 1, "at least one plane set")
    graft.functions.VectorFunctions.register(vectors.sparkSession)
    val bk = multiProbeBuckets(vectors, id, vec, "vec_id", planes, sets, dims)
      .localCheckpoint()
    // `maxBucketDocs` (0 = off) is the deployment cap the r19 sf10
    // probe showed this family needs — the MaxBandDocs precedent on
    // the VECTOR axis: hyperplane buckets are highly non-uniform
    // (vectors near cluster cores pile into a few buckets), and the
    // within-corpus self-join expands |b|² pairs per bucket, which at
    // 100× data crossed from slow to disk-exhausting (~75 GB spill,
    // BENCH_SCALE r19). Dropping over-dense buckets BEFORE expansion
    // bounds pair volume at the cost of recall inside those buckets —
    // exactly the trade the text family's band cap makes, and the
    // or-banded sets recover most of it (a pair only needs ONE
    // under-cap set to band together). Default OFF: the d31 oracle is
    // exact-verify over every bucket pair.
    //
    // The gate broadcasts the OVER-dense bucket list ([[overDenseBuckets]])
    // and anti-joins — it sizes with the skew anomaly, not the corpus
    // layout; see the helper's doc.
    def underCap(keyed: DataFrame): DataFrame =
      if (maxBucketDocs <= 0) keyed
      else keyed.join(broadcast(overDenseBuckets(keyed, maxBucketDocs)),
        Seq("bucket"), "left_anti")
    val cand = (0 until sets).map { s =>
      val keyed = underCap(
        bk.select(col("vec_id"), col(s"bk$s").as("bucket")))
      keyed.select(col("vec_id").as("vec_a"), col("bucket"))
        .join(keyed.select(col("vec_id").as("vec_b"), col("bucket")),
          Seq("bucket"))
        .filter(col("vec_a") < col("vec_b"))
        .select(col("vec_a"), col("vec_b"))
    }.reduce(_.unionByName(_)).distinct()
    val v = vectors.select(col(id).as("vec_id"), col(vec).as("v"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
    cand
      .join(v.select(col("vec_id").as("vec_a"), col("v").as("va"),
        col("nrm").as("na")), Seq("vec_a"))
      .join(v.select(col("vec_id").as("vec_b"), col("v").as("vb"),
        col("nrm").as("nb")), Seq("vec_b"))
      .withColumn("cos", expr("graft_dot(va, vb)") / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_a"), col("vec_b"), col("cos"))
  }

  /** Cross-document duplicated n-gram statistics (d11) — the
    * span-level view of repetition that document-level dedup misses:
    * boilerplate headers, license blocks, and templated fragments
    * repeat across documents that are NOT near-duplicates as wholes
    * (the motivation for substring-level dedup in Lee et al., "
    * Deduplicating Training Data Makes Language Models Better", 2022).
    * For each doc with ≥ n tokens: `n_grams` = total n-gram positions,
    * `n_dup_grams` = positions whose n-gram also occurs in at least
    * one OTHER document, and their ratio. A doc with a high `dup_frac`
    * but no d02/d08 partner is exactly the templated-fragment case.
    *
    * Unlike [[shingles]] this keeps every POSITION (no array_distinct):
    * the statistic weights a repeated span by how much of the document
    * it covers. Shape (r19): ONE corpus scan — the per-doc (gram, tf)
    * map folds IN-ARRAY (`graft_token_counts` over the gram array, the
    * BM25 build's move on the n-gram axis), so the old
    * `groupBy(doc_id, gram)` exchange of every gram instance is gone,
    * and `n_grams` (= Σ tf = the window count `size(tk) − n + 1`)
    * falls out map-side with no aggregation at all. The checkpointed
    * per-doc frame feeds both remaining branches (gram-keyed df, dup
    * rollup) — unmaterialized, the scan+generate subtree executed 3×
    * per query (the three consumers' diverged pushed filters defeat
    * AQE stage reuse; the plan held three parallel
    * Scan→Generate→Exchange towers). At corpus scale the gram strings
    * would carry the remaining df shuffle; swap the key to the 8-byte
    * [[graft.functions.TextHashExpressions]] shingle hash exactly as
    * [[jaccardPairs]] does (kept as strings here for oracle
    * readability). Output: `(doc_id, n_grams, n_dup_grams, dup_frac)`. */
  def dupNgramStats(docs: DataFrame, id: String, text: String,
                    n: Int = 5): DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    // eager checkpoint: both consumers sit in ONE action's DAG, so a
    // lazy mark would let their racing tasks each compute partitions
    val base = docs
      .select(col(id).as("doc_id"),
        expr(s"filter(split($text, ' '), x -> x <> '')").as("tk"))
      .filter(size(col("tk")) >= n)
      .select(col("doc_id"), expr(
        s"transform(sequence(0, size(tk) - $n), " +
        s"i -> concat_ws(' ', ${(0 until n).map(j => s"tk[i+$j]").mkString(", ")}))")
        .as("grams"))
      .select(col("doc_id"),
        expr("graft_token_counts(grams)").as("tcs"),
        size(col("grams")).cast("long").as("n_grams"))
      .localCheckpoint()
    val perDocGram = base
      .select(col("doc_id"), explode(col("tcs")).as("tc"))
      .select(col("doc_id"), col("tc.token").as("gram"), col("tc.tf").as("c"))
    val docFreq = perDocGram.groupBy(col("gram"))
      .agg(count(lit(1)).as("gdf"))
    val dups = perDocGram
      .join(docFreq.filter(col("gdf") >= 2), "gram")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_dup_grams"))
    base.select(col("doc_id"), col("n_grams"))
      .join(dups, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"))
      .withColumn("dup_frac",
        col("n_dup_grams").cast("double") / col("n_grams").cast("double"))
  }

  /** Duplicated-span SCRUB (d18) — d11 APPLIED: d11 reports how much of
    * each document is corpus-duplicated n-gram mass; d18 performs the
    * rewrite, dropping every token covered by at least one n-gram
    * window that occurs ≥ 2 times corpus-wide (any doc, including
    * self-repetition) and reassembling the survivors in document
    * order. This is the exact-substring deduplication pass (the Lee et
    * al. 2022 "Deduplicating Training Data…" recipe, suffix-array
    * scale machinery swapped for window hashing at fixed n) — it cuts
    * boilerplate out of otherwise-unique documents instead of
    * dropping or keeping whole docs like d01/c02.
    *
    * Scale shape: window hashes are map-side (the window STRING never
    * leaves the generate — only its 8-byte hash shuffles); the
    * occurrence count is one window-keyed exchange (linear, no pair
    * fan-out, so no df cap needed); duplicated window STARTS collapse
    * back to one array per doc (positions-sized, not token-sized); the
    * rewrite is a map-side HOF pass over the rejoined token array.
    * Output: `(doc_id, n_tokens, n_kept, clean_hash)` — the hash
    * stands in for rewritten text so the result stays fixed-width.
    *
    * Positions are 1-based on both engines (`element_at`/`tk[t]`);
    * `exists` ≡ `len(list_filter(…)) > 0`. */
  def scrubDupSpans(docs: DataFrame, id: String, text: String,
                    n: Int = 5): DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    val base = docs.select(col(id).as("doc_id"),
      expr(s"filter(split($text, ' '), x -> x <> '')").as("tk"))
    val winStr = (0 until n).map(j => s"tk[i + ${j - 1}]").mkString(", ")
    val wins = base.filter(size(col("tk")) >= n)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(tk) - ${n - 1}), " +
        s"i -> named_struct('i', i, 'wh', graft_polyhash(concat_ws(' ', $winStr))))"))
        .as("s"))
      .select(col("doc_id"), col("s.i").as("i"), col("s.wh").as("wh"))
    val dupStarts = wins
      .withColumn("c", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("wh"))))
      .filter(col("c") >= 2)
      .groupBy(col("doc_id")).agg(collect_list(col("i")).as("dw"))
    base.join(dupStarts, Seq("doc_id"), "left")
      .withColumn("dw", coalesce(col("dw"), expr("cast(array() as array<int>)")))
      .withColumn("kept", expr(
        s"""case when size(tk) = 0 then cast(array() as array<int>)
           |else filter(sequence(1, size(tk)),
           |  t -> !exists(dw, i -> t >= i and t <= i + ${n - 1})) end""".stripMargin))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        expr("graft_polyhash(concat_ws(' ', transform(kept, t -> element_at(tk, t))))")
          .as("clean_hash"))
  }

  /** Words per pseudo-line for [[lineDedup]] — the synthetic corpus has
    * no newlines, so "lines" are fixed-width word segments. */
  val LineWords = 8

  /** Corpus-level line dedup (d16) — the CCNet/RefinedWeb curation
    * primitive the big web-corpus pipelines run before anything else:
    * split each document into lines (here fixed [[LineWords]]-word
    * segments; see above), keep exactly ONE copy of every distinct
    * line corpus-wide — the lexicographically first (doc, position)
    * occurrence, elected by a single `min(struct)` aggregate — and
    * reassemble the survivors in document order. Boilerplate repeated
    * across documents (headers, footers, navigation chrome) survives
    * only in the first document that carries it.
    *
    * Scale shape: one shuffle keyed on the line hash (uniform key, no
    * skew — same layout as d01's hash-groupBy), one hash join of the
    * line table against the keeper table on that same hash (AQE
    * handles the sizing), one shuffle back on the doc id to
    * reassemble. All aggregations are map-side combinable; nothing
    * data-sized touches the driver. Reference analogue: the A2
    * keep-first dedup (`data_processing.py`) lifted from rows to
    * corpus lines.
    *
    * Output: one row per non-empty doc — total and surviving segment
    * counts plus the reassembled text. Per-doc order is recovered with
    * `array_sort` over (seg_idx, seg) structs (collect_list order is
    * nondeterministic; seg_idx is unique per doc, so the sort is
    * total). */
  def lineDedup(docs: DataFrame, id: String, text: String,
                segWords: Int = LineWords): DataFrame = {
    val segs = docs
      .select(col(id), expr(s"filter(split($text, ' '), x -> x <> '')").as("ws"))
      .filter(size(col("ws")) > 0)
      .select(col(id), posexplode(expr(
        s"transform(sequence(0, (size(ws) - 1) div $segWords), " +
        s"i -> array_join(slice(ws, i * $segWords + 1, $segWords), ' '))"))
        .as(Seq("seg_idx", "seg")))
      .select(col(id), col("seg_idx").cast("long").as("seg_idx"), col("seg"),
        Hashing.polyHash("seg").as("h"))
    val keeper = segs.groupBy(col("h"))
      .agg(min(struct(col(id), col("seg_idx"))).as("_k"))
    segs.join(keeper, Seq("h"))
      .withColumn("_keep",
        col(s"_k.$id") === col(id) && col("_k.seg_idx") === col("seg_idx"))
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("_keep"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
        collect_list(when(col("_keep"), struct(col("seg_idx"), col("seg"))))
          .as("_segs"))
      .select(col(id), col("n_segs"), col("n_kept"),
        expr("array_join(transform(array_sort(_segs), x -> x.seg), ' ')")
          .as("text_kept"))
  }

  def phases: IndexPaths.Phases = {
    // the harness splits: even/odd (or src0 vs the rest) CJK token
    // arrays, benchmark (every 10th) vs corpus vectors, and the ≡ 2
    // mod 5 / ≡ 3 mod 7 delete sets
    def toks(s: SparkSession, d: String, f: Column) =
      Clusters.sharedCjkTokens(s, d).filter(f)
        .select(col("doc_id"), col("toks"))
    def toksBySource(s: SparkSession, d: String, f: Column) =
      Clusters.sharedCjkTokens(s, d)
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .filter(f).select(col("doc_id"), col("toks"))
    def corpusVecs(s: SparkSession, d: String) =
      Tables.embeddings(s, d).filter(col("vec_id") % 10 =!= 0)
    def decon(s: SparkSession, d: String, tag: String,
              tombstones: Option[DataFrame] = None) =
      semanticDecontaminateFromStore(s, IndexPaths.dir(tag, d),
        corpusVecs(s, d),
        Tables.embeddings(s, d).filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", threshold = 0.45, tombstones = tombstones)
    def deadDocs(s: SparkSession, d: String) =
      Tables.documents(s, d).filter(col("doc_id") % 5 === 2)
        .select(col("doc_id"))
    def deadVecs(s: SparkSession, d: String) =
      Tables.embeddings(s, d).filter(col("vec_id") % 7 === 3)
        .select(col("vec_id"))
    def publishEven(tag: String): (SparkSession, String) => Unit =
      (s, d) => cjkPublishIndexTokens(toks(s, d, col("doc_id") % 2 === 0),
        IndexPaths.dir(tag, d))
    def publishVecs(tag: String): (SparkSession, String) => Unit =
      (s, d) => semanticBucketsWrite(corpusVecs(s, d), "vec_id", "embedding",
        IndexPaths.dir(tag, d))
    Map(
      // d21 harness: publish the standing (even) half's char index,
      // serve the arriving (odd) half from the loaded artifacts — both
      // sides sourced from the persisted token arrays (tokenized once
      // at ingest, the family's artifact seam)
      "d21_cjk_serve_delta" -> ((publishEven("d21_index"),
        (s, d) => cjkServeDeltaTokens(s, toks(s, d, col("doc_id") % 2 =!= 0),
          0.6, IndexPaths.dir("d21_index", d)))),
      // d29 harness: d21's publish/serve split under the family's
      // standard delete set. The tombstones apply to the STANDING side
      // only (serve-time store exclusion, k25's semantics) — the ≡2 mod
      // 5 set also contains delta-side ids (7, 17, …), which keep
      // serving as arrivals; the oracle filters only the even side.
      "d29_cjk_tombstone_serve" -> ((publishEven("d29_index"),
        (s, d) => cjkServeDeltaTombstonedTokens(s,
          toks(s, d, col("doc_id") % 2 =!= 0), 0.6,
          IndexPaths.dir("d29_index", d), deadDocs(s, d)))),
      // d33: d29's delete problem solved at REBUILD time — publish the
      // standing (even) store, EXPUNGE the tombstoned docs' rows from
      // all three tables (StoreSwap.compact: anti-join + stamp-swap, the
      // r15 move on the near-dup family), then serve the delta with NO
      // tombstone logic at all. Compacted store ≡ publish-over-remainder
      // bit-for-bit (per-doc pure rows), so d33 shares d29's oracle.
      "d33_cjk_compacted_serve" -> ((
        (s, d) => {
          publishEven("d33_index")(s, d)
          StoreSwap.compact(s, Seq(cjkStore(IndexPaths.dir("d33_index", d))),
            deadDocs(s, d))
        },
        (s, d) => cjkServeDeltaTokens(s, toks(s, d, col("doc_id") % 2 =!= 0),
          0.6, IndexPaths.dir("d33_index", d)))),
      // d32: d28 FROM THE PERSISTED BUCKET STORE — the corpus side's
      // multi-probe buckets are a published, hplshVersion-stamped
      // artifact; the serve re-buckets only the benchmark and attaches
      // verify vectors by id. Shares d28's oracle verbatim (identical
      // candidate union + exact verify).
      "d32_semantic_decon_store" -> ((publishVecs("d32_index"),
        (s, d) => decon(s, d, "d32_index"))),
      // d34: d32 under a standing delete set (the vector family's
      // standard ≡ 3 mod 7 tombstones, k25's set) — the d29 move on the
      // semantic seam: deleted vectors anti-join off the LOADED buckets,
      // so they can never reach the candidate union, and the serve
      // equals publish-over-remainder. Oracle = d28's text with the
      // tombstone predicate folded into the corpus WHERE.
      "d34_semantic_decon_tombstoned" -> ((publishVecs("d34_index"),
        (s, d) => decon(s, d, "d34_index", Some(deadVecs(s, d))))),
      // d35: d34's delete problem solved at REBUILD time — publish the
      // bucket store, EXPUNGE the tombstoned ids' bucket rows
      // (StoreSwap.compact: one anti-join + poison-stamp swap, the
      // d33/m13/k28 move on the semantic family), then serve with NO
      // tombstone logic at all. Compacted store ≡ publish-over-remainder
      // bit-for-bit (per-vector pure rows), so d35 shares d34's oracle.
      "d35_semantic_compacted_serve" -> ((
        (s, d) => {
          publishVecs("d35_index")(s, d)
          StoreSwap.compact(s,
            Seq(semanticBucketsStore(IndexPaths.dir("d35_index", d))),
            deadVecs(s, d))
        },
        (s, d) => decon(s, d, "d35_index"))),
      // d36: d34 with the delete set arriving AS A STREAM — the r16
      // takedown-feed shape generalized to the semantic family: vector
      // deletes drain through TombstoneStream into the standing set
      // (batchId-keyed idempotent appends), and the d34 serve anti-joins
      // the ACCUMULATED set off the loaded buckets. Set union over any
      // batch split equals the static %7==3 table (zero streaming state;
      // the serve distincts the set), so d36 shares d34's oracle
      // verbatim. Set dir cleared at entry start (the r12
      // clear-then-append discipline — no stream checkpoint here).
      "d36_semantic_tombstone_stream" -> ((
        (s, d) => {
          val setDir = IndexPaths.dir("d36_tombstones", d)
          IndexPaths.clear(setDir)
          publishVecs("d36_index")(s, d)
          val (srcDir, glob) = Tables.streamSource(d, "embeddings")
          graft.streaming.TombstoneStream.runAvailableNow(s, srcDir,
            graft.streaming.Drain.EmbeddingsSchema, "vec_id", setDir,
            deltaFilter = col("vec_id") % 7 === 3, glob = glob)
        },
        (s, d) => decon(s, d, "d36_index", Some(graft.streaming.Drain
          .readSink(s, IndexPaths.dir("d36_tombstones", d)))))),
      // d19: the PERSISTED-index serve path of d10 — write the standing
      // corpus's signature + band tables to parquet, load them back, and
      // serve the delta from the loaded bands only (the nightly
      // incremental-dedup deployment). Output and oracle are d10's
      // verbatim: parquet round-trips the long signatures and string
      // band keys bit-exactly.
      "d19_minhash_persisted" -> ((
        (s, d) => minhashWriteIndex(
          Tables.documents(s, d).filter(col("doc_id") % 2 === 0),
          "doc_id", "text", IndexPaths.dir("mh_index", d)),
        (s, d) => {
          val docs = Tables.documents(s, d)
          val (_, bands) = minhashLoadIndex(s, IndexPaths.dir("mh_index", d))
          minhashServeDelta(docs.filter(col("doc_id") % 2 === 0),
            bands.withColumnRenamed("doc_id", "corpus_id"),
            docs.filter(col("doc_id") % 2 =!= 0),
            "doc_id", "text", threshold = 0.6)
        })),
      // d30: d24 FROM THE PERSISTED STORE — the at-100TB shape of CJK
      // paraphrase decontamination, closing d24's documented residual:
      // d24's one-scan (hs, mh) localCheckpoint is corpus-sized
      // EXECUTOR storage (an in-session convenience with no
      // spill-to-store contract), while a deployment already publishes
      // exactly those tables nightly (d21's signatures/bands/hashes
      // store). d30 is the same band+verify+collapse served from that
      // store: publish once (the build half a real pipeline amortizes
      // across d21's dedup serve AND decontamination), then scan the
      // BENCHMARK against the loaded tables — the standing corpus is
      // never re-tokenized, re-hashed, or checkpointed in-session at
      // all. Identical bands, caps, and verify arithmetic (the serve is
      // minhashServeDeltaFrom either way), so d30 shares d24's oracle
      // verbatim; the equality is also pinned engine-side by spec.
      "d30_cjk_decon_from_store" -> ((
        (s, d) => cjkPublishIndexTokens(
          toksBySource(s, d, col("source") =!= "src0"),
          IndexPaths.dir("d30_index", d)),
        (s, d) => cjkServeDeltaTokens(s,
          toksBySource(s, d, col("source") === "src0"),
          0.6, IndexPaths.dir("d30_index", d))
          .groupBy(col("corpus_id"))
          .agg(count(lit(1)).as("n_bench_matches"),
            max(col("jaccard")).as("max_jaccard"))
          .select(col("corpus_id").as("doc_id"),
            col("n_bench_matches"), col("max_jaccard")))))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    IndexPaths.oneShot(phases) ++ Map(
    "d01_exact_dedup" -> ((s, d) =>
      exactDedup(Tables.documents(s, d), "doc_id", "text")),
    "d16_line_dedup" -> ((s, d) => {
      graft.functions.VectorFunctions.register(s)
      lineDedup(Tables.documents(s, d), "doc_id", "text")
    }),
    "d14_normalized_dedup" -> ((s, d) =>
      exactDedupNormalized(Tables.documents(s, d), "doc_id", "text")),
    // d22 harness: odd docs re-typed through "full-width mode" (the
    // inverse translate, spaces → U+3000 included) — the fold must
    // unify them with their ASCII twins
    "d22_width_fold_dedup" -> ((s, d) =>
      exactDedupWidthFolded(
        Tables.documents(s, d).select(col("doc_id"),
          when(col("doc_id") % 2 === 1,
            translate(col("text"), FullwidthTo, FullwidthFrom))
            .otherwise(col("text")).as("text")),
        "doc_id", "text")),
    // Threshold 0.6 sits far from both the planted near-dups (≥0.9) and
    // the background (≤0.1) — no float-boundary ambiguity. Reads the
    // session-shared materialized pair table (same rows, computed once
    // across the d/c families — see Clusters.sharedPairs).
    "d02_ngram_jaccard" -> ((s, d) => Clusters.sharedPairs(s, d)),
    "d12_containment" -> ((s, d) =>
      containmentPairs(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.7)),
    // Same semantics as d02 via the prefix-filtered scale path — the
    // oracle below is d02's verbatim, because the output is the same set.
    "d06_jaccard_prefix" -> ((s, d) =>
      jaccardPairsPrefix(Tables.documents(s, d), "doc_id", "text", threshold = 0.6)),
    "d03_minhash_lsh" -> ((s, d) =>
      minhashCandidates(Tables.documents(s, d), "doc_id", "text")),
    "d08_minhash_verified" -> ((s, d) => Clusters.sharedMinhashPairs(s, d)),
    // d20 harness: the unsegmented mixed-script fixture (TextOps
    // .cjkFixture — same planted near-dups, now separator-free) under
    // the char-shingle MinHash path. Reads the session-shared
    // materialized pair table (same rows, computed once across d20 and
    // the p11 curation composition — see Clusters.sharedCjkPairs, the
    // d02/sharedPairs convention).
    "d20_cjk_neardup" -> ((s, d) => Clusters.sharedCjkPairs(s, d)),
    "d15_minhash_estimate" -> ((s, d) =>
      minhashEstimatedPairs(Tables.documents(s, d), "doc_id", "text",
        threshold = 0.5)),
    "d13_simhash_pairs" -> ((s, d) =>
      simhashPairs(Tables.documents(s, d), "doc_id", "text", maxHamming = 1)),
    "d04_simhash" -> ((s, d) =>
      simhash(Tables.documents(s, d), "doc_id", "text")),
    "d05_embedding_neardup" -> ((s, d) =>
      cosineNearDup(Tables.embeddings(s, d), "vec_id", "embedding", threshold = 0.45)),
    // d25 harness: every 10th vector stands in for the held-out
    // benchmark's embeddings, the rest are the training corpus (the
    // d09/d23 corpus/benchmark split on the vector table)
    "d25_semantic_decontaminate" -> ((s, d) => {
      val vecs = Tables.embeddings(s, d)
      semanticDecontaminate(
        vecs.filter(col("vec_id") % 10 =!= 0),
        vecs.filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", threshold = 0.45)
    }),
    // d26 harness: d25's split through the hyperplane-bucket gate
    "d26_semantic_decontaminate_lsh" -> ((s, d) => {
      val vecs = Tables.embeddings(s, d)
      semanticDecontaminateLsh(
        vecs.filter(col("vec_id") % 10 =!= 0),
        vecs.filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", threshold = 0.45)
    }),
    // d28 harness: d26's split OR-banded over NumPlaneSets independent
    // plane sets — recall between d26's and d25's, verify-exact
    "d28_semantic_multiprobe" -> ((s, d) => {
      val vecs = Tables.embeddings(s, d)
      semanticDecontaminateLshMulti(
        vecs.filter(col("vec_id") % 10 =!= 0),
        vecs.filter(col("vec_id") % 10 === 0),
        "vec_id", "embedding", threshold = 0.45)
    }),
    "d07_neardup_lsh" -> ((s, d) =>
      cosineNearDupLsh(Tables.embeddings(s, d), "vec_id", "embedding", threshold = 0.45)),
    // d31: d07 OR-banded over NumPlaneSets independent plane sets —
    // the within-corpus twin of d28, recall between d07's and d05's
    "d31_neardup_multiprobe" -> ((s, d) =>
      cosineNearDupLshMulti(Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.45)),
    // d37: d31 WITH the maxBucketDocs deployment cap BINDING (the r19
    // sf10 finding closed as a first-class oracled path, not just a
    // knob): over-dense hyperplane buckets are dropped from BOTH join
    // sides before the |b|² expansion, so the pair volume is bounded
    // and the recall loss is exactly "pairs whose every shared bucket
    // is over-dense". The cap is FIXTURE-SCALED (100 binds on the
    // verify corpus's 3 densest buckets) so the DuckDB oracle
    // exercises the drop semantics for real — at deployment scale the
    // cap stays O(target bucket size) while `planes` grows with
    // log₂(corpus) to keep buckets balanced (BENCH_SCALE r19's sf10
    // row measures that configuration; the cap is the skew backstop,
    // not the balance mechanism).
    "d37_neardup_multiprobe_capped" -> ((s, d) =>
      cosineNearDupLshMulti(Tables.embeddings(s, d), "vec_id", "embedding",
        threshold = 0.45, maxBucketDocs = 100)),
    // incremental dedup: odd doc ids are the arriving delta, even ids
    // the standing corpus
    "d10_incremental_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      minhashVerifiedAgainst(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 =!= 0),
        "doc_id", "text", threshold = 0.6)
    }),
    // decontamination: src0 docs stand in for the held-out benchmark,
    // the remaining 19 sources are the training corpus
    "d09_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      contaminationHits(
        docs.filter(col("source") =!= "src0"), "doc_id", "text",
        docs.filter(col("source") === "src0"), "text")
    }),
    // d23 harness: d09's benchmark stand-in (src0) on the unsegmented
    // fixture corpus — the char-gram tripwire
    // d23 harness: both sides come from the persisted token artifact
    // (the d24 convention — the family's one fold+regex pass; the
    // space re-join is exact because script tokens never contain
    // ASCII space), so the tripwire re-tokenizes nothing in-session.
    "d23_cjk_decontaminate" -> ((s, d) => {
      val toks = Clusters.sharedCjkTokens(s, d)
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .select(col("doc_id"), col("source"),
          concat_ws(" ", col("toks")).as("_script_text"))
      contaminationHits(
        toks.filter(col("source") =!= "src0"), "doc_id", "_script_text",
        toks.filter(col("source") === "src0"), "_script_text",
        CjkCharShingleN)
    }),
    // d24 harness: d17's corpus/benchmark split on the unsegmented
    // fixture — the paraphrase-catching sweep d23's tripwire can't do.
    // Both sides come from the persisted token artifact (the family's
    // one tokenizer pass); the source split is a narrow doc_id join.
    "d24_cjk_decontaminate_neardup" -> ((s, d) => {
      val toks = Clusters.sharedCjkTokens(s, d)
        .join(Tables.documents(s, d).select(col("doc_id"), col("source")),
          Seq("doc_id"))
      cjkDecontaminateNearDupTokens(
        toks.filter(col("source") =!= "src0").select(col("doc_id"), col("toks")),
        toks.filter(col("source") === "src0").select(col("doc_id"), col("toks")),
        threshold = 0.6)
    }),
    // near-dup decontamination: same benchmark stand-in as d09 (src0),
    // but flagging only true near-duplicates of a benchmark doc
    "d17_decontaminate_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      decontaminateNearDup(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", threshold = 0.6)
    }),
    "d11_dup_ngram_spans" -> ((s, d) =>
      dupNgramStats(Tables.documents(s, d), "doc_id", "text", n = 5)),
    "d18_span_scrub" -> ((s, d) =>
      scrubDupSpans(Tables.documents(s, d), "doc_id", "text", n = 5)))

  /** DuckDB CTE mirroring [[shingles]] with n=3 — `sh(doc_id, shingle)`. */
  private val shinglesSql: String =
    """tk AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
      |       FROM documents WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 3),
      |sh AS (SELECT DISTINCT doc_id, shingle FROM (
      |  SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
      |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle FROM tk) raw)""".stripMargin

  /** Per-side signature/band/shingle-key CTE chain for the cross-set
    * band-join oracles (d10, d17): `tk/sh/cnt/sk/h/sig/bands` suffixed
    * with `sfx`, over `documents WHERE (where)`. */
  private def crossSideSql(sfx: String, where: String): String = {
    val bandSel = (0 until Bands).map { b =>
      val key = (0 until RowsPerBand).map(r => s"mh${b * RowsPerBand + r}")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $key AS key FROM sig$sfx"
    }.mkString("\n  UNION ALL ")
    val mhSel = (0 until Bands * RowsPerBand).map { i =>
      s"min((${MinHashA(i)} * h + ${MinHashB(i)}) % $P) AS mh$i"
    }.mkString(",\n  ")
    s"""tk$sfx AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
       |       FROM documents WHERE ($where)
       |         AND len(list_filter(string_split(text, ' '), x -> x <> '')) >= 3),
       |sh$sfx AS (SELECT DISTINCT doc_id, shingle FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
       |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle FROM tk$sfx) raw),
       |cnt$sfx AS (SELECT doc_id, count(*) AS n_sh FROM sh$sfx GROUP BY doc_id),
       |sk$sfx AS (SELECT DISTINCT doc_id,
       |    (${Hashing.polyHashSql("shingle")}) * 1000000009
       |      + (${Hashing.polyHashSql("reverse(shingle)")}) AS sk
       |  FROM sh$sfx),
       |h$sfx AS (SELECT doc_id, ${Hashing.polyHashSql("shingle")} AS h FROM sh$sfx),
       |sig$sfx AS (SELECT doc_id,
       |  $mhSel
       |  FROM h$sfx GROUP BY doc_id),
       |bands$sfx AS (
       |  $bandSel)""".stripMargin
  }

  /** [[crossSideSql]]'s char-token sibling for the d21 oracle: the same
    * per-side `tk/sh/cnt/sk/h/sig/bands` chain, fed by the shared CJK
    * fixture + script-token regex at width [[CjkCharShingleN]]. */
  private def cjkCrossSideSql(sfx: String, where: String): String = {
    val n = CjkCharShingleN
    val win = (0 until n)
      .map(j => if (j == 0) "tk[i]" else s"tk[i+$j]")
      .mkString(" || ' ' || ")
    val bandSel = (0 until Bands).map { b =>
      val key = (0 until RowsPerBand).map(r => s"mh${b * RowsPerBand + r}")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $key AS key FROM sig$sfx"
    }.mkString("\n  UNION ALL ")
    val mhSel = (0 until Bands * RowsPerBand).map { i =>
      s"min((${MinHashA(i)} * h + ${MinHashB(i)}) % $P) AS mh$i"
    }.mkString(",\n  ")
    s"""ctk$sfx AS (
       |  SELECT doc_id, ${TextOps.scriptTokensSql(TextOps.cjkFixtureSql("text"))} AS tk
       |  FROM documents WHERE ($where)),
       |tk$sfx AS (SELECT doc_id, tk FROM ctk$sfx WHERE len(tk) >= $n),
       |sh$sfx AS (SELECT DISTINCT doc_id, shingle FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(tk) - ${n - 2}),
       |    i -> $win)) AS shingle FROM tk$sfx) raw),
       |cnt$sfx AS (SELECT doc_id, count(*) AS n_sh FROM sh$sfx GROUP BY doc_id),
       |sk$sfx AS (SELECT DISTINCT doc_id,
       |    (${Hashing.polyHashSql("shingle")}) * 1000000009
       |      + (${Hashing.polyHashSql("reverse(shingle)")}) AS sk
       |  FROM sh$sfx),
       |h$sfx AS (SELECT doc_id, ${Hashing.polyHashSql("shingle")} AS h FROM sh$sfx),
       |sig$sfx AS (SELECT doc_id,
       |  $mhSel
       |  FROM h$sfx GROUP BY doc_id),
       |bands$sfx AS (
       |  $bandSel)""".stripMargin
  }

  def oracle: Map[String, String] = {
    // d29 — d21's oracle with the tombstone predicate folded into
    // the STANDING side's WHERE (the rebuild-equivalence contract:
    // serve-under-tombstones ≡ publish-over-remainder + serve);
    // shared verbatim by d33 (compaction realizes the remainder
    // publish physically)
    val d29Sql =
      s"""WITH ${cjkCrossSideSql("e", "doc_id % 2 = 0 AND doc_id % 5 <> 2")},
         |${cjkCrossSideSql("o", "doc_id % 2 = 1")},
         |bok AS (SELECT band, key FROM bandse GROUP BY band, key
         |        HAVING count(*) <= $MaxBandDocs),
         |cand AS (
         |  SELECT DISTINCT e.doc_id AS corpus_id, o.doc_id AS delta_id
         |  FROM bandse e JOIN bok USING (band, key)
         |  JOIN bandso o ON e.band = o.band AND e.key = o.key),
         |pr AS (
         |  SELECT c.corpus_id, c.delta_id, count(*) AS inter
         |  FROM cand c
         |  JOIN ske a ON a.doc_id = c.corpus_id
         |  JOIN sko b ON b.doc_id = c.delta_id AND b.sk = a.sk
         |  GROUP BY 1, 2)
         |SELECT corpus_id, delta_id, inter,
         |  inter::DOUBLE / (ce.n_sh + co.n_sh - inter)::DOUBLE AS jaccard
         |FROM pr
         |JOIN cnte ce ON pr.corpus_id = ce.doc_id
         |JOIN cnto co ON pr.delta_id = co.doc_id
         |WHERE inter::DOUBLE / (ce.n_sh + co.n_sh - inter)::DOUBLE >= 0.6""".stripMargin
    // d28's oracle, parametrized over the corpus side's WHERE so the
    // store-backed twin (d32, same predicate) and its tombstone serve
    // (d34, tombstone predicate folded in) share the text — the
    // engine's candidate union + exact verify restated relationally
    def d28SqlOver(corpusWhere: String): String = {
      val bucketSqls = (0 until NumPlaneSets).map { s =>
        (0 until Similarity.NumPlanes).map { i =>
          val wl = (0 until 64)
            .map(j => Similarity.weight(s * Similarity.NumPlanes + i, j))
            .mkString("[", ", ", "]")
          s"""CASE WHEN reduce(list_prepend(0.0, list_transform(range(1, 65),
             |  k -> v[k] * ($wl::BIGINT[])[k])), (acc, x) -> acc + x) > 0
             |  THEN ${1 << i} ELSE 0 END""".stripMargin
        }.mkString(" + ")
      }
      val bucketCols = bucketSqls.zipWithIndex
        .map { case (e, s) => s"$e AS bk$s" }.mkString(",\n    ")
      val candUnion = (0 until NumPlaneSets).map { s =>
        s"SELECT c.vec_id, b.vec_id AS bench_id FROM c JOIN b ON c.bk$s = b.bk$s"
      }.mkString("\n  UNION\n  ")
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |n AS (
         |  SELECT vec_id, v,
         |    sqrt(reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (acc, x) -> acc + x)) AS nrm,
         |    $bucketCols
         |  FROM v),
         |c AS (SELECT * FROM n WHERE $corpusWhere),
         |b AS (SELECT * FROM n WHERE vec_id % 10 = 0),
         |cand AS (
         |  $candUnion)
         |SELECT vec_id, count(*) AS n_bench_matches, max(cos) AS max_cos FROM (
         |  SELECT cand.vec_id,
         |    reduce(list_prepend(0.0, list_transform(range(1, len(cv.v) + 1), i -> cv.v[i] * bv.v[i])),
         |           (acc, x) -> acc + x) / (cv.nrm * bv.nrm) AS cos
         |  FROM cand
         |  JOIN n cv ON cv.vec_id = cand.vec_id
         |  JOIN n bv ON bv.vec_id = cand.bench_id) pairs
         |WHERE cos >= 0.45
         |GROUP BY vec_id""".stripMargin
    }
    // d31's oracle, parametrized over the maxBucketDocs cap (0 = off)
    // so the capped twin (d37) shares the text: with a cap, each
    // per-set self-join arm joins THROUGH an `ok{s}` CTE of the
    // buckets whose member count is ≤ cap — relationally identical to
    // the engine's broadcast anti-join on the over-dense bucket list.
    def d31SqlCapped(cap: Int): String = {
      val bucketSqls = (0 until NumPlaneSets).map { s =>
        (0 until Similarity.NumPlanes).map { i =>
          val wl = (0 until 64)
            .map(j => Similarity.weight(s * Similarity.NumPlanes + i, j))
            .mkString("[", ", ", "]")
          s"""CASE WHEN reduce(list_prepend(0.0, list_transform(range(1, 65),
             |  k -> v[k] * ($wl::BIGINT[])[k])), (acc, x) -> acc + x) > 0
             |  THEN ${1 << i} ELSE 0 END""".stripMargin
        }.mkString(" + ")
      }
      val bucketCols = bucketSqls.zipWithIndex
        .map { case (e, s) => s"$e AS bk$s" }.mkString(",\n    ")
      val okCtes =
        if (cap <= 0) ""
        else (0 until NumPlaneSets).map { s =>
          s"ok$s AS (SELECT bk$s FROM n GROUP BY bk$s HAVING count(*) <= $cap),\n"
        }.mkString
      val candUnion = (0 until NumPlaneSets).map { s =>
        val gate = if (cap <= 0) ""
        else s" JOIN ok$s ON a.bk$s = ok$s.bk$s"
        s"SELECT a.vec_id AS vec_a, b.vec_id AS vec_b FROM n a " +
          s"JOIN n b ON a.bk$s = b.bk$s AND a.vec_id < b.vec_id$gate"
      }.mkString("\n  UNION\n  ")
      s"""WITH v AS (
         |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |n AS (
         |  SELECT vec_id, v,
         |    sqrt(reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (acc, x) -> acc + x)) AS nrm,
         |    $bucketCols
         |  FROM v),
         |${okCtes}cand AS (
         |  $candUnion)
         |SELECT vec_a, vec_b, cos FROM (
         |  SELECT cand.vec_a, cand.vec_b,
         |    reduce(list_prepend(0.0, list_transform(range(1, len(av.v) + 1), i -> av.v[i] * bv.v[i])),
         |           (acc, x) -> acc + x) / (av.nrm * bv.nrm) AS cos
         |  FROM cand
         |  JOIN n av ON av.vec_id = cand.vec_a
         |  JOIN n bv ON bv.vec_id = cand.vec_b) pairs
         |WHERE cos >= 0.45""".stripMargin
    }
    val mh = (0 until Bands * RowsPerBand).map { i =>
      s"min((${MinHashA(i)} * h + ${MinHashB(i)}) % $P) AS mh$i"
    }.mkString(",\n  ")
    val bandSelects = (0 until Bands).map { b =>
      val key = (0 until RowsPerBand).map(r => s"mh${b * RowsPerBand + r}")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $key AS key FROM sig"
    }.mkString("\n  UNION ALL ")
    val simhashSql =
      s"""WITH tok AS (
         |  SELECT doc_id, token, count(*) AS cnt FROM (
         |    SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
         |    FROM documents) t GROUP BY 1, 2),
         |th AS (SELECT doc_id, cnt, ${Hashing.polyHashSql("token")} AS h FROM tok),
         |bits AS (
         |  SELECT doc_id, j,
         |    sum(CASE WHEN ((h // (1::BIGINT << j::INTEGER)) % 2) = 1 THEN cnt ELSE -cnt END) AS s
         |  FROM th, (SELECT unnest(range(0, 32)) AS j) js GROUP BY 1, 2)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j::INTEGER) ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY doc_id""".stripMargin
    // The MinHash sig→bands→candidates chain shared verbatim by the
    // d03/d08/d15 oracles (same coordination rule as componentsCte:
    // one text, not N copies).
    val sigBandsCte =
      s"""h AS (SELECT doc_id, ${Hashing.polyHashSql("shingle")} AS h FROM sh),
         |sig AS (SELECT doc_id,
         |  $mh
         |  FROM h GROUP BY doc_id),
         |bands AS (
         |  $bandSelects)""".stripMargin
    val candSelect =
      """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id""".stripMargin
    // d06 outputs the SAME set as d02 (prefix filtering is a lossless
    // candidate pruning), so both keys share one oracle text.
    val jaccardSql =
      s"""WITH $shinglesSql,
           |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
           |shk AS (SELECT DISTINCT doc_id,
           |    (${Hashing.polyHashSql("shingle")}) * 1000000009
           |      + (${Hashing.polyHashSql("reverse(shingle)")}) AS sk
           |  FROM sh),
           |ok AS (SELECT sk FROM shk GROUP BY sk
           |       HAVING count(*) BETWEEN 2 AND $MaxShingleDf),
           |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           |       FROM shk a JOIN shk b ON a.sk = b.sk AND a.doc_id < b.doc_id
           |       JOIN ok ON a.sk = ok.sk
           |       GROUP BY 1, 2)
           |SELECT doc_a, doc_b, inter,
           |  inter::DOUBLE / (ca.n_sh + cb.n_sh - inter)::DOUBLE AS jaccard
           |FROM pr
           |JOIN cnt ca ON pr.doc_a = ca.doc_id
           |JOIN cnt cb ON pr.doc_b = cb.doc_id
           |WHERE inter::DOUBLE / (ca.n_sh + cb.n_sh - inter)::DOUBLE >= 0.6""".stripMargin
    val m = Map(
      "d01_exact_dedup" ->
        """SELECT md5(text) AS sig, min(doc_id) AS keep_id, count(*) AS n_dups
          |FROM documents GROUP BY md5(text)""".stripMargin,
      // d16 — same segment rule as the Spark side: 1-based inclusive
      // list_slice ≡ Spark's slice(arr, start, len), both clamped at the
      // tail; keeper = min (doc, position) struct; survivors reassembled
      // in position order (string_agg ORDER BY ≡ array_sort over the
      // unique seg_idx)
      "d16_line_dedup" ->
        s"""WITH w AS (
           |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
           |  FROM documents),
           |wn AS (SELECT doc_id, ws FROM w WHERE len(ws) > 0),
           |segs AS (
           |  SELECT doc_id,
           |    unnest(range(0, ((len(ws) - 1) // $LineWords) + 1)) AS seg_idx,
           |    unnest(list_transform(range(0, ((len(ws) - 1) // $LineWords) + 1),
           |      i -> array_to_string(list_slice(ws,
           |             (i * $LineWords + 1)::INTEGER, (i * $LineWords + $LineWords)::INTEGER), ' '))) AS seg
           |  FROM wn),
           |h AS (SELECT doc_id, seg_idx, seg, ${Hashing.polyHashSql("seg")} AS h FROM segs),
           |k AS (SELECT h, min({'d': doc_id, 'i': seg_idx}) AS k FROM h GROUP BY h),
           |m AS (SELECT h.doc_id, h.seg_idx, h.seg,
           |        (h.doc_id = (k.k).d AND h.seg_idx = (k.k).i) AS keep
           |      FROM h JOIN k USING (h))
           |SELECT doc_id, count(*)::BIGINT AS n_segs,
           |  sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           |  coalesce(string_agg(seg, ' ' ORDER BY seg_idx) FILTER (WHERE keep), '') AS text_kept
           |FROM m GROUP BY doc_id""".stripMargin,
      // d14 — the same explicit ASCII whitespace class as the Spark
      // side ([ \t\n\r\f\x0B]+), so agreement is by construction
      // (Java \s vs RE2 \s differ on vertical tab 0x0B)
      "d14_normalized_dedup" ->
        """SELECT md5(regexp_replace(trim(lower(text)), '[ \t\n\r\f\x0B]+', ' ', 'g')) AS sig,
          |  min(doc_id) AS keep_id, count(*) AS n_dups
          |FROM documents GROUP BY 1""".stripMargin,
      // d22 — the identical widen CASE (inverting the bijective width
      // block only) and the shared extended fold translate
      // (TextOps.foldWidthSql — single quotes doubled per SQL literal
      // rules), then d14's canonical chain
      "d22_width_fold_dedup" -> {
        val (fw, asc) =
          (TextOps.sqlLit(FullwidthFrom), TextOps.sqlLit(FullwidthTo))
        s"""WITH w AS (
           |  SELECT doc_id,
           |    CASE WHEN doc_id % 2 = 1 THEN translate(text, '$asc', '$fw')
           |         ELSE text END AS t
           |  FROM documents)
           |SELECT md5(regexp_replace(trim(lower(${TextOps.foldWidthSql("t")})),
           |    '[ \\t\\n\\r\\f\\x0B]+', ' ', 'g')) AS sig,
           |  min(doc_id) AS keep_id, count(*) AS n_dups
           |FROM w GROUP BY 1""".stripMargin
      },
      "d02_ngram_jaccard" -> jaccardSql,
      "d06_jaccard_prefix" -> jaccardSql,
      // d12 — the undirected intersections of the d02 machinery, each
      // expanded to its two directed rows over its own source size
      "d12_containment" ->
        s"""WITH $shinglesSql,
           |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
           |shk AS (SELECT DISTINCT doc_id,
           |    (${Hashing.polyHashSql("shingle")}) * 1000000009
           |      + (${Hashing.polyHashSql("reverse(shingle)")}) AS sk
           |  FROM sh),
           |ok AS (SELECT sk FROM shk GROUP BY sk
           |       HAVING count(*) BETWEEN 2 AND $MaxShingleDf),
           |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
           |       FROM shk a JOIN shk b ON a.sk = b.sk AND a.doc_id < b.doc_id
           |       JOIN ok ON a.sk = ok.sk
           |       GROUP BY 1, 2)
           |SELECT doc_src, doc_sup, inter, containment FROM (
           |  SELECT pr.doc_a AS doc_src, pr.doc_b AS doc_sup, pr.inter,
           |    pr.inter::DOUBLE / ca.n_sh::DOUBLE AS containment
           |  FROM pr JOIN cnt ca ON pr.doc_a = ca.doc_id
           |  UNION ALL
           |  SELECT pr.doc_b AS doc_src, pr.doc_a AS doc_sup, pr.inter,
           |    pr.inter::DOUBLE / cb.n_sh::DOUBLE AS containment
           |  FROM pr JOIN cnt cb ON pr.doc_b = cb.doc_id) d
           |WHERE containment >= 0.7""".stripMargin,
      "d03_minhash_lsh" ->
        s"""WITH $shinglesSql,
           |$sigBandsCte
           |$candSelect""".stripMargin,
      // d15 = the d03 candidates scored by signature agreement alone
      // (the unbiased MinHash estimator, /16 exact binary)
      "d15_minhash_estimate" -> {
        val agree = (0 until Bands * RowsPerBand)
          .map(i => s"(CASE WHEN sa.mh$i = sb.mh$i THEN 1 ELSE 0 END)")
          .mkString(" + ")
        val r = (Bands * RowsPerBand).toDouble
        s"""WITH $shinglesSql,
           |$sigBandsCte,
           |cand AS (
           |  $candSelect)
           |SELECT doc_a, doc_b, CAST($agree AS BIGINT) AS n_agree,
           |  ($agree)::DOUBLE / $r AS est_jaccard
           |FROM cand JOIN sig sa ON cand.doc_a = sa.doc_id
           |JOIN sig sb ON cand.doc_b = sb.doc_id
           |WHERE ($agree)::DOUBLE / $r >= 0.5""".stripMargin
      },
      // d08 = the d03 band join (candidates) verified with TRUE Jaccard
      // over the 60-bit shingle-hash sets (no df cap — see scaladoc).
      "d08_minhash_verified" ->
        s"""WITH $shinglesSql,
           |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
           |shk AS (SELECT DISTINCT doc_id,
           |    (${Hashing.polyHashSql("shingle")}) * 1000000009
           |      + (${Hashing.polyHashSql("reverse(shingle)")}) AS sk
           |  FROM sh),
           |$sigBandsCte,
           |cand AS (
           |  $candSelect),
           |pr AS (
           |  SELECT c.doc_a, c.doc_b, count(*) AS inter
           |  FROM cand c
           |  JOIN shk a ON a.doc_id = c.doc_a
           |  JOIN shk b ON b.doc_id = c.doc_b AND b.sk = a.sk
           |  GROUP BY 1, 2)
           |SELECT doc_a, doc_b, inter,
           |  inter::DOUBLE / (ca.n_sh + cb.n_sh - inter)::DOUBLE AS jaccard
           |FROM pr
           |JOIN cnt ca ON pr.doc_a = ca.doc_id
           |JOIN cnt cb ON pr.doc_b = cb.doc_id
           |WHERE inter::DOUBLE / (ca.n_sh + cb.n_sh - inter)::DOUBLE >= 0.6""".stripMargin,
      // d20 = the d08 chain over CHAR-5-gram shingles of the derived
      // unsegmented fixture: same fixture translate, same script-token
      // regex (one string constant shared with the engine), same
      // sig/bands/cand CTEs verbatim (they read from `sh`, which here
      // holds the char shingles)
      "d20_cjk_neardup" -> {
        val n = CjkCharShingleN
        val win = (0 until n)
          .map(j => if (j == 0) "tk[i]" else s"tk[i+$j]")
          .mkString(" || ' ' || ")
        s"""WITH ctk AS (
           |  SELECT doc_id, ${TextOps.scriptTokensSql(TextOps.cjkFixtureSql("text"))} AS tk
           |  FROM documents),
           |tk AS (SELECT doc_id, tk FROM ctk WHERE len(tk) >= $n),
           |sh AS (SELECT DISTINCT doc_id, shingle FROM (
           |  SELECT doc_id, unnest(list_transform(range(1, len(tk) - ${n - 2}),
           |    i -> $win)) AS shingle FROM tk) raw),
           |cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
           |shk AS (SELECT DISTINCT doc_id,
           |    (${Hashing.polyHashSql("shingle")}) * 1000000009
           |      + (${Hashing.polyHashSql("reverse(shingle)")}) AS sk
           |  FROM sh),
           |$sigBandsCte,
           |bok AS (SELECT band, key FROM bands GROUP BY band, key
           |        HAVING count(*) BETWEEN 2 AND $MaxBandDocs),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bok USING (band, key) JOIN bands b
           |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
           |pr AS (
           |  SELECT c.doc_a, c.doc_b, count(*) AS inter
           |  FROM cand c
           |  JOIN shk a ON a.doc_id = c.doc_a
           |  JOIN shk b ON b.doc_id = c.doc_b AND b.sk = a.sk
           |  GROUP BY 1, 2)
           |SELECT doc_a, doc_b, inter,
           |  inter::DOUBLE / (ca.n_sh + cb.n_sh - inter)::DOUBLE AS jaccard
           |FROM pr
           |JOIN cnt ca ON pr.doc_a = ca.doc_id
           |JOIN cnt cb ON pr.doc_b = cb.doc_id
           |WHERE inter::DOUBLE / (ca.n_sh + cb.n_sh - inter)::DOUBLE >= 0.6""".stripMargin
      },
      // d21 = the d10 cross-set chain over the char CTEs, with the
      // standing-side band gate (HAVING ≤ MaxBandDocs on the EVEN side
      // only — the frozen-store cap the engine applies before the
      // candidate join)
      // d29 — d21's oracle with the tombstone predicate folded into
      // the STANDING side's WHERE (the rebuild-equivalence contract:
      // serve-under-tombstones ≡ publish-over-remainder + serve)
      "d29_cjk_tombstone_serve" -> d29Sql,
      // d33 — compact-then-serve equals d29's tombstone serve equals
      // publish-over-remainder (per-doc pure store rows), so the
      // compacted entry shares d29's oracle verbatim
      "d33_cjk_compacted_serve" -> d29Sql,
      "d21_cjk_serve_delta" ->
        s"""WITH ${cjkCrossSideSql("e", "doc_id % 2 = 0")},
           |${cjkCrossSideSql("o", "doc_id % 2 = 1")},
           |bok AS (SELECT band, key FROM bandse GROUP BY band, key
           |        HAVING count(*) <= $MaxBandDocs),
           |cand AS (
           |  SELECT DISTINCT e.doc_id AS corpus_id, o.doc_id AS delta_id
           |  FROM bandse e JOIN bok USING (band, key)
           |  JOIN bandso o ON e.band = o.band AND e.key = o.key),
           |pr AS (
           |  SELECT c.corpus_id, c.delta_id, count(*) AS inter
           |  FROM cand c
           |  JOIN ske a ON a.doc_id = c.corpus_id
           |  JOIN sko b ON b.doc_id = c.delta_id AND b.sk = a.sk
           |  GROUP BY 1, 2)
           |SELECT corpus_id, delta_id, inter,
           |  inter::DOUBLE / (ce.n_sh + co.n_sh - inter)::DOUBLE AS jaccard
           |FROM pr
           |JOIN cnte ce ON pr.corpus_id = ce.doc_id
           |JOIN cnto co ON pr.delta_id = co.doc_id
           |WHERE inter::DOUBLE / (ce.n_sh + co.n_sh - inter)::DOUBLE >= 0.6""".stripMargin,
      "d04_simhash" -> simhashSql,
      // d13 — the oracle is the SPEC, not the banding: every pair of
      // signatures within Hamming r (banding + verify is lossless, so
      // the engine's band-bounded plan computes the identical set)
      "d13_simhash_pairs" ->
        s"""WITH s AS ($simhashSql)
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
           |FROM s a JOIN s b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1""".stripMargin,
      "d05_embedding_neardup" ->
        """WITH v AS (
          |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
          |n AS (
          |  SELECT vec_id, v,
          |    sqrt(reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (acc, x) -> acc + x)) AS nrm
          |  FROM v)
          |SELECT vec_a, vec_b, cos FROM (
          |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
          |    reduce(list_prepend(0.0, list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])),
          |           (acc, x) -> acc + x) / (a.nrm * b.nrm) AS cos
          |  FROM n a JOIN n b ON a.vec_id < b.vec_id) pairs
          |WHERE cos >= 0.45""".stripMargin,
      // d25 — d05's dot/norm CTEs verbatim, cross-set on the %10
      // benchmark split, aggregated per corpus vector (the family's
      // n_matches/max shape); cosines are the same index-order double
      // folds, so max() compares exactly
      "d25_semantic_decontaminate" ->
        """WITH v AS (
          |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
          |n AS (
          |  SELECT vec_id, v,
          |    sqrt(reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (acc, x) -> acc + x)) AS nrm
          |  FROM v),
          |c AS (SELECT * FROM n WHERE vec_id % 10 <> 0),
          |b AS (SELECT * FROM n WHERE vec_id % 10 = 0)
          |SELECT vec_id, count(*) AS n_bench_matches, max(cos) AS max_cos FROM (
          |  SELECT c.vec_id,
          |    reduce(list_prepend(0.0, list_transform(range(1, len(c.v) + 1), i -> c.v[i] * b.v[i])),
          |           (acc, x) -> acc + x) / (c.nrm * b.nrm) AS cos
          |  FROM c JOIN b ON true) pairs
          |WHERE cos >= 0.45
          |GROUP BY vec_id""".stripMargin,
      // d26 — d25's cross-set count/max tail behind d07's hyperplane
      // bucket CTE (identical integer-LCG plane weights inlined), the
      // engine's bucket equi-join as a SQL join condition
      "d26_semantic_decontaminate_lsh" -> {
        val wLists = (0 until Similarity.NumPlanes).map { i =>
          (0 until 64).map(j => Similarity.weight(i, j)).mkString("[", ", ", "]")
        }
        val bucketSql = (0 until Similarity.NumPlanes).map { i =>
          s"""CASE WHEN reduce(list_prepend(0.0, list_transform(range(1, 65),
             |  k -> v[k] * (${wLists(i)}::BIGINT[])[k])), (acc, x) -> acc + x) > 0
             |  THEN ${1 << i} ELSE 0 END""".stripMargin
        }.mkString(" + ")
        s"""WITH v AS (
           |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
           |n AS (
           |  SELECT vec_id, v,
           |    sqrt(reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (acc, x) -> acc + x)) AS nrm,
           |    $bucketSql AS bucket
           |  FROM v),
           |c AS (SELECT * FROM n WHERE vec_id % 10 <> 0),
           |b AS (SELECT * FROM n WHERE vec_id % 10 = 0)
           |SELECT vec_id, count(*) AS n_bench_matches, max(cos) AS max_cos FROM (
           |  SELECT c.vec_id,
           |    reduce(list_prepend(0.0, list_transform(range(1, len(c.v) + 1), i -> c.v[i] * b.v[i])),
           |           (acc, x) -> acc + x) / (c.nrm * b.nrm) AS cos
           |  FROM c JOIN b ON c.bucket = b.bucket) pairs
           |WHERE cos >= 0.45
           |GROUP BY vec_id""".stripMargin
      },
      // d28 — d26's oracle with per-set bucket exprs, candidates as a
      // UNION (set-deduplicating) of the per-set equi-joins, vectors
      // re-attached by id for the exact verify — the engine's
      // composition restated relationally
      "d28_semantic_multiprobe" -> d28SqlOver("vec_id % 10 <> 0"),
      // d32 serves the identical candidate union + verify from the
      // persisted bucket store, so it shares d28's text verbatim
      "d32_semantic_decon_store" -> d28SqlOver("vec_id % 10 <> 0"),
      // d34 — d32 under the standing delete set: the anti-joined
      // loaded buckets equal publish-over-remainder, so the oracle is
      // d28's text with the tombstone predicate on the corpus side
      "d34_semantic_decon_tombstoned" ->
        d28SqlOver("vec_id % 10 <> 0 AND vec_id % 7 <> 3"),
      // d35 — compact-then-serve equals d34's tombstone serve equals
      // publish-over-remainder (per-vector pure bucket rows), so the
      // compacted entry shares d34's text
      "d35_semantic_compacted_serve" ->
        d28SqlOver("vec_id % 10 <> 0 AND vec_id % 7 <> 3"),
      // d36 — the streamed delete set unions to the static %7==3
      // table (r16's argument on the semantic family), so the serve
      // shares d34's text
      "d36_semantic_tombstone_stream" ->
        d28SqlOver("vec_id % 10 <> 0 AND vec_id % 7 <> 3"),
      // d31 — d07's oracle with per-set bucket exprs, candidates as a
      // UNION (deduplicating) of the per-set self-joins, vectors
      // re-attached by id for the exact verify (d28's shape, within
      // the corpus)
      "d31_neardup_multiprobe" -> d31SqlCapped(cap = 0),
      // d37 — d31's text with the maxBucketDocs cap restated
      // relationally: per set, an `ok{s}` CTE keeps the buckets whose
      // member count is ≤ cap, and each self-join arm joins through
      // it — same set the engine reaches by broadcast ANTI-joining
      // the (bounded, ≤ n/cap) over-dense bucket list. The cap (100)
      // BINDS on the verify corpus (its 3 densest buckets exceed
      // it), so the oracle genuinely exercises the drop path.
      "d37_neardup_multiprobe_capped" -> d31SqlCapped(cap = 100),
      "d07_neardup_lsh" -> {
        val wLists = (0 until Similarity.NumPlanes).map { i =>
          (0 until 64).map(j => Similarity.weight(i, j)).mkString("[", ", ", "]")
        }
        val bucketSql = (0 until Similarity.NumPlanes).map { i =>
          s"""CASE WHEN reduce(list_prepend(0.0, list_transform(range(1, 65),
             |  k -> v[k] * (${wLists(i)}::BIGINT[])[k])), (acc, x) -> acc + x) > 0
             |  THEN ${1 << i} ELSE 0 END""".stripMargin
        }.mkString(" + ")
        s"""WITH v AS (
           |  SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
           |n AS (
           |  SELECT vec_id, v,
           |    sqrt(reduce(list_prepend(0.0, list_transform(v, x -> x * x)), (acc, x) -> acc + x)) AS nrm,
           |    $bucketSql AS bucket
           |  FROM v)
           |SELECT vec_a, vec_b, cos FROM (
           |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           |    reduce(list_prepend(0.0, list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])),
           |           (acc, x) -> acc + x) / (a.nrm * b.nrm) AS cos
           |  FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id) pairs
           |WHERE cos >= 0.45""".stripMargin
      },
      // d10 — band-then-verify across two sub-corpora: per-side
      // signature/band/shingle-key CTEs, cross-set candidates, exact
      // Jaccard verify
      "d10_incremental_dedup" -> {
        val side = crossSideSql _
        s"""WITH ${side("c", "doc_id % 2 = 0")},
           |${side("d", "doc_id % 2 = 1")},
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS corpus_id, b.doc_id AS delta_id
           |  FROM bandsc a JOIN bandsd b ON a.band = b.band AND a.key = b.key),
           |pr AS (
           |  SELECT cand.corpus_id, cand.delta_id, count(*) AS inter
           |  FROM cand
           |  JOIN skc a ON a.doc_id = cand.corpus_id
           |  JOIN skd b ON b.doc_id = cand.delta_id AND b.sk = a.sk
           |  GROUP BY 1, 2)
           |SELECT corpus_id, delta_id, inter,
           |  inter::DOUBLE / (ca.n_sh + cb.n_sh - inter)::DOUBLE AS jaccard
           |FROM pr
           |JOIN cntc ca ON pr.corpus_id = ca.doc_id
           |JOIN cntd cb ON pr.delta_id = cb.doc_id
           |WHERE inter::DOUBLE / (ca.n_sh + cb.n_sh - inter)::DOUBLE >= 0.6""".stripMargin
      },
      // d17 — the d10 cross-set band+verify text with the d09
      // corpus/benchmark split, collapsed per training doc
      "d17_decontaminate_neardup" -> {
        val side = crossSideSql _
        s"""WITH ${side("c", "source <> 'src0'")},
           |${side("d", "source = 'src0'")},
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS corpus_id, b.doc_id AS delta_id
           |  FROM bandsc a JOIN bandsd b ON a.band = b.band AND a.key = b.key),
           |pr AS (
           |  SELECT cand.corpus_id, cand.delta_id, count(*) AS inter
           |  FROM cand
           |  JOIN skc a ON a.doc_id = cand.corpus_id
           |  JOIN skd b ON b.doc_id = cand.delta_id AND b.sk = a.sk
           |  GROUP BY 1, 2),
           |v AS (
           |  SELECT corpus_id, delta_id,
           |    inter::DOUBLE / (ca.n_sh + cb.n_sh - inter)::DOUBLE AS jaccard
           |  FROM pr
           |  JOIN cntc ca ON pr.corpus_id = ca.doc_id
           |  JOIN cntd cb ON pr.delta_id = cb.doc_id
           |  WHERE inter::DOUBLE / (ca.n_sh + cb.n_sh - inter)::DOUBLE >= 0.6)
           |SELECT corpus_id AS doc_id, count(*) AS n_bench_matches,
           |  max(jaccard) AS max_jaccard
           |FROM v GROUP BY corpus_id""".stripMargin
      },
      // d24 — d17's cross-set band+verify tail over the char CTE chain
      // (the same fixture + fold + script-token regex + 5-gram windows
      // as d20/d21, the same corpus/benchmark split as d09/d17/d23),
      // with d21's TRAINING-SIDE band gate (HAVING ≤ MaxBandDocs on
      // the corpus side — the cap the engine applies before the
      // candidate join), collapsed per training doc
      "d24_cjk_decontaminate_neardup" -> {
        val side = cjkCrossSideSql _
        s"""WITH ${side("c", "source <> 'src0'")},
           |${side("d", "source = 'src0'")},
           |bok AS (SELECT band, key FROM bandsc GROUP BY band, key
           |        HAVING count(*) <= $MaxBandDocs),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS corpus_id, b.doc_id AS delta_id
           |  FROM bandsc a JOIN bok USING (band, key)
           |  JOIN bandsd b ON a.band = b.band AND a.key = b.key),
           |pr AS (
           |  SELECT cand.corpus_id, cand.delta_id, count(*) AS inter
           |  FROM cand
           |  JOIN skc a ON a.doc_id = cand.corpus_id
           |  JOIN skd b ON b.doc_id = cand.delta_id AND b.sk = a.sk
           |  GROUP BY 1, 2),
           |v AS (
           |  SELECT corpus_id, delta_id,
           |    inter::DOUBLE / (ca.n_sh + cb.n_sh - inter)::DOUBLE AS jaccard
           |  FROM pr
           |  JOIN cntc ca ON pr.corpus_id = ca.doc_id
           |  JOIN cntd cb ON pr.delta_id = cb.doc_id
           |  WHERE inter::DOUBLE / (ca.n_sh + cb.n_sh - inter)::DOUBLE >= 0.6)
           |SELECT corpus_id AS doc_id, count(*) AS n_bench_matches,
           |  max(jaccard) AS max_jaccard
           |FROM v GROUP BY corpus_id""".stripMargin
      },
      // d09 — the same 60-bit shingle keys, one side filtered to the
      // probe sub-corpus, counted per training doc
      "d09_decontaminate" -> {
        def shingleKeys(cte: String, where: String) =
          s"""tk$cte AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
             |       FROM documents WHERE ($where)
             |         AND len(list_filter(string_split(text, ' '), x -> x <> '')) >= 3),
             |sh$cte AS (SELECT DISTINCT doc_id, shingle FROM (
             |  SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1),
             |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle FROM tk$cte) raw),
             |sk$cte AS (SELECT DISTINCT doc_id,
             |    (${Hashing.polyHashSql("shingle")}) * 1000000009
             |      + (${Hashing.polyHashSql("reverse(shingle)")}) AS sk
             |  FROM sh$cte)""".stripMargin
        s"""WITH ${shingleKeys("c", "source <> 'src0'")},
           |${shingleKeys("p", "source = 'src0'")},
           |probe AS (SELECT DISTINCT sk FROM skp)
           |SELECT c.doc_id, count(*) AS n_hits
           |FROM skc c JOIN probe USING (sk)
           |GROUP BY c.doc_id""".stripMargin
      },
      // d23 — d09's CTE chain over char-5-gram shingles of the shared
      // fixture: the same fixture translate + fold + script-token regex
      // as d20, the same sk arithmetic as d09
      "d23_cjk_decontaminate" -> {
        val n = CjkCharShingleN
        val win = (0 until n)
          .map(j => if (j == 0) "tk[i]" else s"tk[i+$j]")
          .mkString(" || ' ' || ")
        def shingleKeys(cte: String, where: String) =
          s"""ctk$cte AS (SELECT doc_id,
             |    ${TextOps.scriptTokensSql(TextOps.cjkFixtureSql("text"))} AS tk
             |  FROM documents WHERE ($where)),
             |tk$cte AS (SELECT doc_id, tk FROM ctk$cte WHERE len(tk) >= $n),
             |sh$cte AS (SELECT DISTINCT doc_id, shingle FROM (
             |  SELECT doc_id, unnest(list_transform(range(1, len(tk) - ${n - 2}),
             |    i -> $win)) AS shingle FROM tk$cte) raw),
             |sk$cte AS (SELECT DISTINCT doc_id,
             |    (${Hashing.polyHashSql("shingle")}) * 1000000009
             |      + (${Hashing.polyHashSql("reverse(shingle)")}) AS sk
             |  FROM sh$cte)""".stripMargin
        s"""WITH ${shingleKeys("c", "source <> 'src0'")},
           |${shingleKeys("p", "source = 'src0'")},
           |probe AS (SELECT DISTINCT sk FROM skp)
           |SELECT c.doc_id, count(*) AS n_hits
           |FROM skc c JOIN probe USING (sk)
           |GROUP BY c.doc_id""".stripMargin
      },
      // d11 — positioned 5-grams (no DISTINCT: every occurrence counts),
      // doc frequency over the (doc, gram) pre-aggregation, per-doc
      // rollups; CASTs pin DuckDB's HUGEINT sum back to BIGINT
      // d18 — same 1-based window starts, linear occurrence count on
      // the window hash, list-filter rewrite; engines share every
      // integer
      "d18_span_scrub" ->
        s"""WITH tkx AS (
           |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
           |  FROM documents),
           |w AS (
           |  SELECT doc_id, i,
           |    ${Hashing.polyHashSql(
                  "concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4])")} AS wh
           |  FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i
           |        FROM tkx WHERE len(tk) >= 5) z),
           |d AS (SELECT doc_id, i, count(*) OVER (PARTITION BY wh) AS c FROM w),
           |dws AS (SELECT doc_id, list(i) AS dw FROM d WHERE c >= 2 GROUP BY doc_id),
           |j AS (
           |  SELECT t.doc_id, t.tk, coalesce(dws.dw, CAST([] AS BIGINT[])) AS dw
           |  FROM tkx t LEFT JOIN dws USING (doc_id)),
           |k AS (
           |  SELECT doc_id, tk,
           |    list_filter(range(1, len(tk) + 1),
           |      t -> len(list_filter(dw, i -> t >= i AND t <= i + 4)) = 0) AS kept
           |  FROM j)
           |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
           |  CAST(len(kept) AS BIGINT) AS n_kept,
           |  ${Hashing.polyHashSql(
                "array_to_string(list_transform(kept, t -> tk[t]), ' ')")} AS clean_hash
           |FROM k""".stripMargin,
      "d11_dup_ngram_spans" ->
        """WITH tk AS (
          |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
          |  FROM documents
          |  WHERE len(list_filter(string_split(text, ' '), x -> x <> '')) >= 5),
          |g AS (
          |  SELECT doc_id, unnest(list_transform(range(1, len(tk) - 3),
          |    i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4]))) AS gram
          |  FROM tk),
          |g1 AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
          |gdf AS (SELECT gram, count(*) AS gdf FROM g1 GROUP BY gram),
          |tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams FROM g1 GROUP BY doc_id),
          |dup AS (SELECT g1.doc_id, CAST(sum(g1.c) AS BIGINT) AS n_dup
          |        FROM g1 JOIN gdf USING (gram) WHERE gdf.gdf >= 2 GROUP BY g1.doc_id)
          |SELECT t.doc_id, t.n_grams, coalesce(d.n_dup, 0) AS n_dup_grams,
          |  coalesce(d.n_dup, 0)::DOUBLE / t.n_grams::DOUBLE AS dup_frac
          |FROM tot t LEFT JOIN dup d USING (doc_id)""".stripMargin)
    // d19 answers exactly what d10 answers — the index changes where
    // the corpus bands live, not what the serve returns — so the two
    // share one oracle text (the s05/s06 shared-oracle move)
    m + ("d19_minhash_persisted" -> m("d10_incremental_dedup"))
  }
}
