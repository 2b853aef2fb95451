package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distinct-count sketching (SURVEY.md §7.5 extensions): a PORTABLE
  * HyperLogLog — the "novel sketch" slot of the custom-operator brief,
  * built so the DuckDB oracle reproduces the estimate bit-for-bit.
  *
  * Why not `approx_count_distinct`: Spark's HLL++ hashes with xxhash64
  * and applies engine-private bias corrections — no other engine
  * reproduces its output, so it can only ever get a rows-only check.
  * This sketch derives every register from [[Hashing.polyHash]] and
  * uses only integer arithmetic plus EXACT double operations (powers of
  * two, addition, one division), so the estimate is a deterministic
  * function of the input SET in any engine.
  *
  * Construction (classic Flajolet HLL, m = 2^p registers):
  *   h      = polyHash(value)           ∈ [0, P), ~30 bits
  *   bucket = h mod m
  *   w      = h div m                   (the remaining ~24 bits)
  *   rho    = 24 − bitlength(w) + 1     (leading-zero rank; w = 0 → 25)
  *   register[bucket] = max(rho)        ← the ONLY aggregation
  *   E      = alpha_m · m² / Σ_b 2^(−register[b])   (empty bucket → 2^0)
  *
  * `max` per register is associative/commutative — partial-aggregates
  * map-side and merges across any partitioning, which is the whole
  * scale story: the shuffle carries at most m rows regardless of input
  * size. 2^(−r) for integer r is exact in IEEE doubles, the sum is
  * ordered by bucket id in both engines, so cross-engine equality is
  * exact, not approximate. The small-cardinality linear-counting and
  * large-range corrections of HLL++ use logarithms (not bit-portable);
  * this sketch deliberately omits them and documents the raw-estimate
  * regime n ≫ m — callers needing corrected small-n estimates should
  * count exactly (n small enough to correct is small enough to count).
  */
object Sketches {
  /** DEFAULT register-count exponent: m = 2^p = 64 registers → ~13%
    * standard error, tiny enough that the oracle SQL stays readable.
    * Every entry point takes `p` as a parameter (4 ≤ p ≤ 16); standard
    * error is 1.04/√m, so p=8 (m=256) → 6.5%, p=12 (m=4096) → 1.6%.
    * The shuffle still carries at most m rows whatever the input. */
  val P2: Int = 6
  val M: Int = 1 << P2

  /** alpha_m (Flajolet et al. 2007): published constants for small m,
    * the asymptotic formula for m ≥ 128. */
  def alphaFor(m: Int): Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _  => 0.7213 / (1.0 + 1.079 / m)
  }

  /** alpha for the default m = 64. */
  val Alpha: Double = alphaFor(M)

  /** Bit length of the post-bucket hash remainder: the scattered
    * polyHash is < [[Hashing.P]] < 2^30, so h div 2^p < 2^(30−p). */
  def wBits(p: Int): Int = 30 - p

  /** [[wBits]] for the default p. */
  val WBits: Int = wBits(P2)

  private def bitLenCase(w: String, bits: Int): Column = {
    // bitlength(w) as a nested CASE over the possible widths — pure
    // integer compares, portable to any SQL engine. Ascending fold so
    // the WIDEST width check lands outermost (the conditions overlap:
    // w ≥ 2^(bits-1) implies w ≥ 1, so nesting order is load-bearing).
    (1 to bits).foldLeft(lit(0)) { (acc, k) =>
      when(expr(w) >= (1L << (k - 1)), lit(k)).otherwise(acc)
    }
  }

  /** SQL fragment mirroring [[bitLenCase]]. */
  private def bitLenSql(w: String, bits: Int): String =
    "CASE " + (bits to 1 by -1).map { k =>
      s"WHEN $w >= ${1L << (k - 1)} THEN $k"
    }.mkString(" ") + " ELSE 0 END"

  /** Post-hash scatter: polyHash of a SHORT string is range-concentrated
    * (a k-char hash is < 31^k·maxCp, nowhere near uniform on [0, P)),
    * and HLL reads rho from raw bit positions — so scatter with an
    * invertible affine map mod P first (distinct stays distinct,
    * buckets and leading-zero ranks become ~uniform). */
  val ScatterA: Long = Hashing.MinHashA(1)
  val ScatterB: Long = Hashing.MinHashB(1)

  /** The HLL REGISTER TABLE of a string column: `(bucket, r)`, at most
    * 2^p rows. This is the mergeable artifact — persist one per
    * shard/day/source and [[hllMerge]] them later; max-per-bucket makes
    * merge associative, commutative, and idempotent, so any merge tree
    * over any partitioning yields the identical registers. Merge only
    * register tables built with the SAME p. The same reasons make the
    * column pipeline stream-safe: under a streaming aggregation the
    * state store holds at most 2^p rows forever and every micro-batch
    * folds in mergeably ([[graft.streaming.SketchStream.runAvailableNow]]). */
  def hllRegisters(df: DataFrame, valueCol: String, p: Int = P2): DataFrame = {
    val m = 1 << p
    graft.functions.VectorFunctions.register(df.sparkSession)
    df
      .select(expr(
        s"(graft_polyhash(cast($valueCol as string)) * ${ScatterA}L + ${ScatterB}L) % ${Hashing.P}L")
        .as("h"))
      .filter(col("h").isNotNull)
      .select((col("h") % m).as("bucket"), expr(s"h div $m").as("w"))
      .select(col("bucket"), (lit(wBits(p)) - bitLenCase("w", wBits(p)) + 1).as("rho"))
      .groupBy(col("bucket")).agg(max(col("rho")).as("r"))
  }

  /** Merge register tables (any number, any overlap): per-bucket max. */
  def hllMerge(registers: DataFrame*): DataFrame =
    registers.reduce(_ unionByName _)
      .groupBy(col("bucket")).agg(max(col("r")).as("r"))

  /** The estimate read-out of a register table built with exponent `p`.
    * Output: one row `(n_registers, est)`. */
  def hllEstimate(registers: DataFrame, p: Int = P2): DataFrame = {
    val m = 1 << p
    // Σ 2^-r over the m registers; buckets never hit contribute 2^0 = 1
    // (m − hit count of them). power-of-two doubles and the ordered sum
    // keep the arithmetic exact cross-engine.
    registers
      .select(expr("cast(power(2.0D, -cast(r as double)) as double)").as("t"))
      // coalesce: sum over ZERO register rows (empty/all-null input) is
      // SQL NULL; the defined small-n estimate there is the m-empty-
      // register read-out (s = 0, hit = 0 → est = α·m²/m), not NULL
      .agg(count(lit(1)).as("hit"), coalesce(sum(col("t")), lit(0.0)).as("s"))
      .select(lit(m.toLong).as("n_registers"),
        (lit(alphaFor(m) * m * m) / (col("s") + (lit(m) - col("hit")).cast("double")))
          .as("est"))
  }

  /** HLL distinct estimate of a string column. Output: one row
    * `(n_registers, est)`. */
  def hllDistinct(df: DataFrame, valueCol: String, p: Int = P2): DataFrame =
    hllEstimate(hllRegisters(df, valueCol, p), p)

  /** Sketch-accuracy meta-query (x10) — the HLL estimate measured
    * against the exact distinct count in one frame, the k07 idea
    * applied to sketches: a pipeline that standardizes on sketches
    * should re-check their error whenever the data distribution moves,
    * and the check is one extra (exact) aggregation next to the sketch
    * it audits. `rel_err_q6` is the signed relative error in
    * micro-units. Output: `(n_registers, est, exact, rel_err_q6)`. */
  def hllError(df: DataFrame, valueCol: String, p: Int = P2): DataFrame =
    hllDistinct(df, valueCol, p)
      .crossJoin(broadcast(
        df.agg(countDistinct(col(valueCol)).as("exact"))))
      .select(col("n_registers"), col("est"), col("exact"),
        round((col("est") - col("exact").cast("double"))
          / col("exact").cast("double") * lit(1e6)).cast("long")
          .as("rel_err_q6"))

  /** Per-GROUP HLL distinct estimate — the common production shape
    * (distinct users per day, distinct tokens per source, …). One
    * aggregation keyed on (group, bucket): the shuffle carries at most
    * m rows per group whatever the input size, vs count(DISTINCT)'s
    * full value stream — THE reason to sketch at 100 TB. Read-out is
    * the same exact arithmetic per group. Output: `(group, est)`. */
  def hllDistinctBy(df: DataFrame, groupCol: String, valueCol: String,
                    p: Int = P2): DataFrame = {
    val m = 1 << p
    graft.functions.VectorFunctions.register(df.sparkSession)
    df
      .select(col(groupCol).as("grp"), expr(
        s"(graft_polyhash(cast($valueCol as string)) * ${ScatterA}L + ${ScatterB}L) % ${Hashing.P}L")
        .as("h"))
      .filter(col("h").isNotNull)
      .select(col("grp"), (col("h") % m).as("bucket"), expr(s"h div $m").as("w"))
      .select(col("grp"), col("bucket"),
        (lit(wBits(p)) - bitLenCase("w", wBits(p)) + 1).as("rho"))
      .groupBy(col("grp"), col("bucket")).agg(max(col("rho")).as("r"))
      .select(col("grp"),
        expr("cast(power(2.0D, -cast(r as double)) as double)").as("t"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("hit"), sum(col("t")).as("s"))
      .select(col("grp"),
        (lit(alphaFor(m) * m * m) / (col("s") + (lit(m) - col("hit")).cast("double")))
          .as("est"))
  }

  /** The HISTOGRAM REGISTER TABLE of a numeric column: `(bkt, cnt)`
    * with `bkt = floor(value / width)` — the mergeable quantile-sketch
    * artifact, same ownership model as [[hllRegisters]]: persist one
    * per shard/day/source, [[histMerge]] later, read quantiles out with
    * [[histQuantiles]]. Per-bucket counts are plain sums, so merge is
    * associative/commutative and any merge tree over any partitioning
    * yields identical registers; the shuffle carries at most
    * range/width rows regardless of input size. Error is deterministic,
    * not probabilistic: a quantile read-out is exact to its bucket —
    * est ≤ true quantile < est + width. (q24/q25 are the exact twins;
    * this is the artifact you keep when the data is gone.) NULLs and
    * NaNs are excluded (no bucket). Under a streaming aggregation the
    * state is at most range/width rows and micro-batching cannot change
    * the fixpoint, so restart-recovered registers are bit-identical
    * (RestartRecoverySpec). */
  def histRegisters(df: DataFrame, valueCol: String, width: Double): DataFrame =
    df.select(floor(col(valueCol).cast("double") / width).cast("long").as("bkt"))
      .filter(col("bkt").isNotNull)
      .groupBy(col("bkt")).agg(count(lit(1)).as("cnt"))

  /** Merge histogram register tables built with the SAME width. */
  def histMerge(registers: DataFrame*): DataFrame =
    registers.reduce(_ unionByName _)
      .groupBy(col("bkt")).agg(sum(col("cnt")).as("cnt"))

  /** Quantile read-out of a histogram register table: for each
    * requested q, the lower edge of the bucket containing rank
    * `ceil(n·q)`. One row, one column per label. The cumulative window
    * here is a single-partition sort over the REGISTER table — bounded
    * by range/width (thousands of rows), never by the corpus; the
    * corpus-sized work all happened map-side in [[histRegisters]]. */
  def histQuantiles(registers: DataFrame, width: Double,
                    qs: Seq[(Double, String)]): DataFrame = {
    val cum = registers
      .withColumn("cum", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("bkt"))))
      .withColumn("n", sum(col("cnt")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
    cum.agg(
      qs.head match { case (q, label) =>
        (min(when(col("cum") >= ceil(col("n") * q), col("bkt"))) * width)
          .cast("double").as(label) },
      qs.tail.map { case (q, label) =>
        (min(when(col("cum") >= ceil(col("n") * q), col("bkt"))) * width)
          .cast("double").as(label) }: _*)
  }

  /** Set-overlap estimation between two keyed corpora from their HLL
    * registers alone (x07) — estimate |A|, |B|, |A∪B| (register merge),
    * and by inclusion-exclusion |A∩B| and Jaccard, WITHOUT ever joining
    * the underlying data: the practical way to compare two 100 TB
    * crawls (do they overlap enough to dedup jointly?) for the cost of
    * two corpus scans and 3·2^p register rows. All arithmetic is the
    * same exact cross-engine read-out as [[hllEstimate]], so even the
    * derived intersection/Jaccard match the oracle bit-for-bit.
    * Inclusion-exclusion inherits both sketches' error — the result is
    * a cheap screening statistic, not a dedup decision; d09/d10 are
    * the exact-verify paths. Output: one row
    * `(est_a, est_b, est_union, est_intersect, jaccard_est)`. */
  def hllOverlap(a: DataFrame, aCol: String, b: DataFrame, bCol: String,
                 p: Int = P2): DataFrame = {
    val ra = hllRegisters(a, aCol, p)
    val rb = hllRegisters(b, bCol, p)
    val ea = hllEstimate(ra, p).select(col("est").as("est_a"))
    val eb = hllEstimate(rb, p).select(col("est").as("est_b"))
    val eu = hllEstimate(hllMerge(ra, rb), p).select(col("est").as("est_union"))
    ea.crossJoin(eb).crossJoin(eu)
      .withColumn("est_intersect", col("est_a") + col("est_b") - col("est_union"))
      .withColumn("jaccard_est", col("est_intersect") / col("est_union"))
  }

  /** DuckDB oracle for [[hllOverlap]]: the [[hllDistinctSql]] read-out
    * inlined three times (side A, side B, merged registers). */
  def hllOverlapSql(table: String, valueSql: String, whereA: String,
                    whereB: String, p: Int): String = {
    val m = 1 << p
    val ph = Hashing.polyHashSql(valueSql)
    def regs(cte: String, where: String) =
      s"""h$cte AS (SELECT (($ph) * $ScatterA + $ScatterB) % ${Hashing.P} AS h
         |  FROM $table WHERE ($where)),
         |b$cte AS (SELECT h % $m AS bucket, h // $m AS w FROM h$cte WHERE h IS NOT NULL),
         |r$cte AS (SELECT bucket, max(${wBits(p)} - (${bitLenSql("w", wBits(p))}) + 1) AS r
         |      FROM b$cte GROUP BY bucket)""".stripMargin
    def est(regsSql: String) =
      s"""SELECT ${alphaFor(m) * m * m} /
         |  ((SELECT coalesce(sum(power(2.0, -r)), 0.0) FROM $regsSql)
         |   + ($m - (SELECT count(*) FROM $regsSql))::DOUBLE)""".stripMargin
    s"""WITH ${regs("a", whereA)},
       |${regs("b", whereB)},
       |ru AS (SELECT bucket, max(r) AS r FROM (
       |  SELECT * FROM ra UNION ALL SELECT * FROM rb) u GROUP BY bucket),
       |e AS (SELECT (${est("ra")}) AS est_a, (${est("rb")}) AS est_b,
       |  (${est("ru")}) AS est_union)
       |SELECT est_a, est_b, est_union,
       |  est_a + est_b - est_union AS est_intersect,
       |  (est_a + est_b - est_union) / est_union AS jaccard_est
       |FROM e""".stripMargin
  }

  /** Per-GROUP histogram registers: `(grp, bkt, cnt)` — the common
    * production shape (length percentiles per language, latency
    * percentiles per endpoint, …). Same merge/read-out contract as
    * [[histRegisters]] per group. */
  def histRegistersBy(df: DataFrame, groupCol: String, valueCol: String,
                      width: Double): DataFrame =
    df.select(col(groupCol).as("grp"),
        floor(col(valueCol).cast("double") / width).cast("long").as("bkt"))
      .filter(col("bkt").isNotNull)
      .groupBy(col("grp"), col("bkt")).agg(count(lit(1)).as("cnt"))

  /** Per-group quantile read-out of a [[histRegistersBy]] table: one row
    * per group, one column per label. The cumulative window partitions
    * on the group, so each partition is that group's register count
    * (range/width rows), never its row count. */
  def histQuantilesBy(registers: DataFrame, width: Double,
                      qs: Seq[(Double, String)]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val cum = registers
      .withColumn("cum", sum(col("cnt")).over(
        w.partitionBy(col("grp")).orderBy(col("bkt"))))
      .withColumn("n", sum(col("cnt")).over(w.partitionBy(col("grp"))))
    cum.groupBy(col("grp")).agg(
      qs.head match { case (q, label) =>
        (min(when(col("cum") >= ceil(col("n") * q), col("bkt"))) * width)
          .cast("double").as(label) },
      qs.tail.map { case (q, label) =>
        (min(when(col("cum") >= ceil(col("n") * q), col("bkt"))) * width)
          .cast("double").as(label) }: _*)
  }

  /** DuckDB oracle for [[histRegistersBy]] → [[histQuantilesBy]]. */
  def histQuantilesBySql(table: String, groupSql: String, groupOut: String,
                         valueSql: String, width: Double,
                         qs: Seq[(Double, String)]): String = {
    val sels = qs.map { case (q, label) =>
      s"CAST(min(CASE WHEN cum >= ceil(n * $q) THEN bkt END) * $width AS DOUBLE) AS $label"
    }.mkString(",\n  ")
    s"""WITH r AS (
       |  SELECT $groupSql AS grp,
       |    CAST(floor(($valueSql)::DOUBLE / $width) AS BIGINT) AS bkt,
       |    count(*) AS cnt
       |  FROM $table WHERE ($valueSql) IS NOT NULL GROUP BY 1, 2),
       |c AS (SELECT grp, bkt,
       |  CAST(sum(cnt) OVER (PARTITION BY grp ORDER BY bkt) AS BIGINT) AS cum,
       |  CAST(sum(cnt) OVER (PARTITION BY grp) AS BIGINT) AS n FROM r)
       |SELECT grp AS $groupOut, $sels FROM c GROUP BY grp""".stripMargin
  }

  /** DuckDB oracle for [[histRegisters]] → [[histQuantiles]]. */
  def histQuantilesSql(table: String, valueSql: String, width: Double,
                       qs: Seq[(Double, String)]): String = {
    val sels = qs.map { case (q, label) =>
      s"CAST(min(CASE WHEN cum >= ceil(n * $q) THEN bkt END) * $width AS DOUBLE) AS $label"
    }.mkString(",\n  ")
    s"""WITH r AS (
       |  SELECT CAST(floor(($valueSql)::DOUBLE / $width) AS BIGINT) AS bkt,
       |    count(*) AS cnt
       |  FROM $table WHERE ($valueSql) IS NOT NULL GROUP BY 1),
       |c AS (SELECT bkt,
       |  CAST(sum(cnt) OVER (ORDER BY bkt) AS BIGINT) AS cum,
       |  CAST(sum(cnt) OVER () AS BIGINT) AS n FROM r)
       |SELECT $sels FROM c""".stripMargin
  }

  /** BOTTOM-K (k-minimum-values) sketch of a string column: the k
    * smallest scattered hashes of the DISTINCT value set, each paired
    * with a representative value — `(h, v)`, at most k rows. The third
    * member of the mergeable-sketch family ([[hllRegisters]],
    * [[histRegisters]]): union any shard sketches, re-take the k
    * smallest ([[bottomKMerge]]), and the result is identical to
    * sketching the whole corpus — minimum-of-sets is associative,
    * commutative, idempotent.
    *
    * What it buys over HLL: the sketch IS a uniform sample of the
    * distinct values (a value's hash rank is a fixed pseudo-random
    * permutation — [[Sampling]]'s coin applied to sets), so one
    * artifact answers distinct-count estimation
    * ([[bottomKEstimate]]: (k−1)·P/h₍ₖ₎, Bar-Yossef et al. 2002),
    * "show me representative distinct values", and downstream set
    * comparisons. All arithmetic is integer + one exact double
    * division, so estimates match any engine bit-for-bit.
    *
    * Scale shape: the dedup is a hash aggregate (map-side partials —
    * the exchange carries each partition's distinct hashes once) and
    * the k-smallest is `TakeOrderedAndProject` (per-partition heaps,
    * never a global sort). The exchange is bounded by the DISTINCT
    * count, not the row count — when even that is too hot, sketch
    * per shard (one pass each, k rows out) and [[bottomKMerge]]. */
  def bottomKSketch(df: DataFrame, valueCol: String, k: Int = BottomK): DataFrame = {
    graft.functions.VectorFunctions.register(df.sparkSession)
    df
      .select(expr(
        s"(graft_polyhash(cast($valueCol as string)) * ${ScatterA}L + ${ScatterB}L) % ${Hashing.P}L")
        .as("h"), col(valueCol).cast("string").as("v"))
      .filter(col("h").isNotNull)
      // min(v) per hash: deterministic representative (collisions are
      // ~n²/2P rare but must not make the artifact run-dependent)
      .groupBy(col("h")).agg(min(col("v")).as("v"))
      .orderBy(col("h")).limit(k)
  }

  /** Default sketch size: se ≈ 1/√(k−2) ≈ 8.9%. */
  val BottomK: Int = 128

  /** Merge bottom-k sketches built with the SAME hash (any overlap). */
  def bottomKMerge(k: Int, sketches: DataFrame*): DataFrame =
    sketches.reduce(_ unionByName _)
      .groupBy(col("h")).agg(min(col("v")).as("v"))
      .orderBy(col("h")).limit(k)

  /** Distinct-count read-out: with fewer than k hashes the sketch IS
    * the distinct set (exact count); at capacity, the k-th smallest of
    * a uniform [0, P) sample estimates n ≈ (k−1)·P/h₍ₖ₎. Output: one
    * row `(k_cap, n_in_sketch, est)`. */
  def bottomKEstimate(sketch: DataFrame, k: Int = BottomK): DataFrame =
    sketch
      .agg(count(lit(1)).as("n_in_sketch"), max(col("h")).as("hk"))
      .select(lit(k.toLong).as("k_cap"), col("n_in_sketch"),
        when(col("n_in_sketch") < k, col("n_in_sketch").cast("double"))
          .otherwise(lit((k - 1).toDouble * Hashing.P.toDouble) /
            col("hk").cast("double"))
          .as("est"))

  /** DuckDB oracle for [[bottomKSketch]] → [[bottomKEstimate]]. */
  def bottomKSql(table: String, valueSql: String, k: Int): String = {
    val ph = Hashing.polyHashSql(valueSql)
    s"""WITH h AS (
       |  SELECT DISTINCT (($ph) * $ScatterA + $ScatterB) % ${Hashing.P} AS h
       |  FROM $table),
       |s AS (SELECT h FROM h WHERE h IS NOT NULL ORDER BY h LIMIT $k),
       |a AS (SELECT count(*) AS n_in_sketch, max(h) AS hk FROM s)
       |SELECT ${k}::BIGINT AS k_cap, n_in_sketch,
       |  CASE WHEN n_in_sketch < $k THEN n_in_sketch::DOUBLE
       |       ELSE ${(k - 1).toDouble * Hashing.P.toDouble} / hk::DOUBLE
       |  END AS est
       |FROM a""".stripMargin
  }

  /** KMV / THETA-SKETCH SET INTERSECTION (x16) — the sample-bearing
    * overlap estimator beside the register-bearing one (x07), asking
    * the same two-crawl question (do these corpora overlap enough to
    * dedup jointly?) from two k-row hash samples instead of HLL
    * registers. Unlike x07's inclusion-exclusion — whose error is the
    * SUM of three full-cardinality errors and can dwarf a small
    * intersection — the theta read-out observes the intersection
    * DIRECTLY: θ = min(θ_A, θ_B) (each side's k-th smallest hash, or
    * the full hash range P when the sketch is under capacity), and
    * every common hash below θ is a uniform sample of A∩B at rate θ/P,
    * so |A∩B| ≈ n_common·P/θ (the theta-sketch set operation of the
    * Bar-Yossef et al. 2002 KMV line). With both sketches under
    * capacity θ = P and the estimate is EXACT.
    *
    * Audited x10-style: the estimate next to the exact |A∩B| and their
    * signed relative error in micro-units. Scale shape: each sketch is
    * a map-side hash + per-partition top-k (TakeOrderedAndProject — k
    * rows of state per partition, k rows shuffled); everything after
    * runs on ≤ 2k rows. The exact side's distinct-join is the audit's
    * ground truth, priced at test SF only. Output: one row
    * `(theta, n_common, est_inter, exact_inter, rel_err_q6)`. */
  def bottomKIntersect(a: DataFrame, aCol: String, b: DataFrame,
                       bCol: String, k: Int = BottomK): DataFrame = {
    val sa = bottomKSketch(a, aCol, k).select(col("h"))
    val sb = bottomKSketch(b, bCol, k).select(col("h"))
    def theta(s: DataFrame, name: String) = s
      .agg(count(lit(1)).as("n"), max(col("h")).as("hk"))
      .select(when(col("n") < k, lit(Hashing.P)).otherwise(col("hk"))
        .as(name))
    val th = theta(sa, "theta_a").crossJoin(theta(sb, "theta_b"))
      .select(least(col("theta_a"), col("theta_b")).as("theta"))
    // count(*) over the (possibly empty) filtered join is always one
    // row, so a disjoint pair reads est 0 instead of vanishing
    val nc = sa.join(sb, "h").crossJoin(broadcast(th))
      .filter(col("h") < col("theta"))
      .agg(count(lit(1)).as("n_common"))
    val exact = a.select(col(aCol).cast("string").as("v")).distinct()
      .join(b.select(col(bCol).cast("string").as("v")).distinct(), "v")
      .agg(count(lit(1)).as("exact_inter"))
    th.crossJoin(nc).crossJoin(exact)
      .select(col("theta"), col("n_common"),
        (col("n_common").cast("double") * lit(Hashing.P.toDouble)
          / col("theta").cast("double")).as("est_inter"),
        col("exact_inter"),
        // disjoint inputs make exact_inter 0 — the relative error is
        // undefined there, so it reads NULL instead of a NaN/Inf cast
        // (the e26 degenerate-guard style)
        when(col("exact_inter") > 0,
          round((col("n_common").cast("double") * lit(Hashing.P.toDouble)
              / col("theta").cast("double")
              - col("exact_inter").cast("double"))
            / col("exact_inter").cast("double") * lit(1e6)).cast("long"))
          .as("rel_err_q6"))
  }

  /** DuckDB oracle for [[bottomKIntersect]]: the [[bottomKSql]] sketch
    * CTEs inlined per side, the identical θ/least/strict-below-θ
    * arithmetic, and the exact distinct-join ground truth. */
  def bottomKIntersectSql(table: String, valueSql: String, whereA: String,
                          whereB: String, k: Int): String = {
    val ph = Hashing.polyHashSql(valueSql)
    def side(c: String, where: String) =
      s"""h$c AS (
         |  SELECT DISTINCT (($ph) * $ScatterA + $ScatterB) % ${Hashing.P} AS h
         |  FROM $table WHERE ($where)),
         |s$c AS (SELECT h FROM h$c WHERE h IS NOT NULL ORDER BY h LIMIT $k),
         |t$c AS (SELECT CASE WHEN count(*) < $k THEN ${Hashing.P}
         |  ELSE max(h) END AS theta_$c FROM s$c)""".stripMargin
    s"""WITH ${side("a", whereA)},
       |${side("b", whereB)},
       |th AS (SELECT least(theta_a, theta_b) AS theta FROM ta CROSS JOIN tb),
       |nc AS (SELECT count(*) AS n_common
       |  FROM sa JOIN sb USING (h) CROSS JOIN th WHERE h < theta),
       |e AS (SELECT count(*) AS exact_inter
       |  FROM (SELECT DISTINCT $valueSql AS v FROM $table WHERE ($whereA)) xa
       |  JOIN (SELECT DISTINCT $valueSql AS v FROM $table WHERE ($whereB)) xb
       |  USING (v))
       |SELECT theta, n_common,
       |  n_common::DOUBLE * ${Hashing.P.toDouble} / theta::DOUBLE AS est_inter,
       |  exact_inter,
       |  CASE WHEN exact_inter > 0 THEN
       |    CAST(round((n_common::DOUBLE * ${Hashing.P.toDouble} / theta::DOUBLE
       |      - exact_inter::DOUBLE) / exact_inter::DOUBLE * 1000000.0) AS BIGINT)
       |  END AS rel_err_q6
       |FROM th CROSS JOIN nc CROSS JOIN e""".stripMargin
  }

  /** Count-Min sketch width (columns per hash row) and depth (hash
    * rows). w=1024, d=3: overestimate ≤ 2e/w · N ≈ 0.5% of the stream
    * per probe with probability 1−e^−d ≈ 95% (Cormode & Muthukrishnan
    * 2005). All integer arithmetic → bit-portable. */
  val CmsWidth: Int = 1024
  val CmsDepth: Int = 3

  private def cmsColSql(h: String, i: Int): String =
    s"((($h) * ${Hashing.MinHashA(i)} + ${Hashing.MinHashB(i)}) % ${Hashing.P}) % $CmsWidth"

  /** Count-Min frequency estimates for a fixed probe list over a token
    * stream. The sketch is the mergeable core: counter cells are plain
    * `(row, col) → sum` — map-side partial aggregation shrinks any
    * input to at most d·w cells per partition, and the shuffle carries
    * at most d·w rows regardless of corpus size (same scale contract
    * as the HLL registers). The probe read-out joins the (tiny) cell
    * table d times via one exploded (probe, row, col) frame and takes
    * the min across rows — CMS never underestimates, overestimates by
    * collision mass only. Output: `(token, est)` per probe. */
  def cmsFrequencies(docs: DataFrame, textCol: String,
                     probes: Seq[String]): DataFrame =
    cmsProbe(cmsCells(docs, textCol), probes)

  private def cmsCellStructs: String = (0 until CmsDepth).map { i =>
    s"struct(${i} AS row, ${cmsColSql("h", i)} AS col)"
  }.mkString(", ")

  /** The mergeable CMS core as a standalone frame: `(row, col, cnt)`
    * counter cells over a text column's token stream (≤ d·w rows).
    * `sum per cell` is associative/commutative, so the same column
    * expressions run under a streaming aggregation with O(d·w) state —
    * [[graft.streaming.SketchStream.runCmsAvailableNow]] drains this
    * method over a document stream. */
  def cmsCells(docs: DataFrame, textCol: String): DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    docs
      .select(explode(expr(s"filter(split($textCol, ' '), x -> x <> '')")).as("token"))
      .select(expr("graft_polyhash(token)").as("h"))
      .select(explode(expr(s"array($cmsCellStructs)")).as("c"))
      .groupBy(col("c.row").as("row"), col("c.col").as("col"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** x11 candidate threshold: a token is a heavy-hitter candidate when
    * its CMS estimate reaches this count. */
  val HeavyMin = 100L

  /** VERIFIED HEAVY HITTERS (x11) — the sketch-then-verify pattern: use
    * the CMS to nominate frequent-token candidates, then confirm each
    * candidate against its exact count in a second pass. This is how a
    * production pipeline finds corpus-dominating tokens/URLs/templates
    * without ever building the full exact histogram twice: CMS never
    * underestimates, so `est ≥ threshold` is a SUPERSET of the true
    * heavy hitters (no false negatives by construction — the property
    * this operator also audits, publishing `overcount = est − exact ≥
    * 0` per candidate).
    *
    * Scale shape: the cell table is ≤ d·w rows regardless of corpus
    * size; the candidate probe runs over the DISTINCT vocabulary
    * (vocab·d rows, map-side collapsed before the join), and the exact
    * verify touches only tokens that survived the threshold — the
    * expensive exact pass is gated by the cheap sketch, which is the
    * point. Output: `(token, est, exact_cnt, overcount)` for
    * candidates with `est ≥ minCount`. */
  def cmsHeavyHitters(docs: DataFrame, textCol: String,
                      minCount: Long = HeavyMin): DataFrame = {
    graft.functions.VectorFunctions.register(docs.sparkSession)
    val toks = docs.select(
      explode(expr(s"filter(split($textCol, ' '), x -> x <> '')")).as("token"))
    val cells = cmsCells(docs, textCol)
    val vocabCells = toks.distinct()
      .select(col("token"), expr("graft_polyhash(token)").as("h"))
      .select(col("token"), explode(expr(s"array($cmsCellStructs)")).as("c"))
      .select(col("token"), col("c.row").as("row"), col("c.col").as("col"))
    val est = vocabCells
      .join(cells, Seq("row", "col"), "left")
      .groupBy(col("token"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
      .filter(col("est") >= minCount)
    val exact = toks.groupBy(col("token")).agg(count(lit(1)).as("exact_cnt"))
    est.join(exact, Seq("token"))
      .select(col("token"), col("est"), col("exact_cnt"),
        (col("est") - col("exact_cnt")).as("overcount"))
  }

  /** Probe read-out over a [[cmsCells]] table: min across the d rows,
    * zero for never-seen cells. */
  def cmsProbe(cells: DataFrame, probes: Seq[String]): DataFrame = {
    val spark = cells.sparkSession
    graft.functions.VectorFunctions.register(spark)
    import spark.implicits._
    val probeCells = probes.toDF("token")
      .select(col("token"), expr("graft_polyhash(token)").as("h"))
      .select(col("token"), explode(expr(s"array($cmsCellStructs)")).as("c"))
      .select(col("token"), col("c.row").as("row"), col("c.col").as("col"))
    probeCells
      .join(cells, Seq("row", "col"), "left")
      .groupBy(col("token"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** Per-group [[cmsFrequencies]] (x09) — one CMS per `group` value,
    * completing the sketch family's group symmetry (x01/x03, x05/x06):
    * per-language or per-source token-frequency monitoring without a
    * per-(group, token) exact aggregation. Cells key on
    * `(group, row, col)`, so the shuffle carries at most d·w rows PER
    * GROUP (map-side partials, the x02 contract per group); the probe
    * table is groups × probes × d rows built from a stratum-cardinality
    * distinct. Output: `(group, token, est)`. */
  def cmsFrequenciesBy(docs: DataFrame, group: String, textCol: String,
                       probes: Seq[String]): DataFrame = {
    val spark = docs.sparkSession
    graft.functions.VectorFunctions.register(spark)
    import spark.implicits._
    val cellStructs = cmsCellStructs
    val cells = docs
      .select(col(group).as("grp"),
        explode(expr(s"filter(split($textCol, ' '), x -> x <> '')")).as("token"))
      .select(col("grp"), expr("graft_polyhash(token)").as("h"))
      .select(col("grp"), explode(expr(s"array($cellStructs)")).as("c"))
      .groupBy(col("grp"), col("c.row").as("row"), col("c.col").as("col"))
      .agg(count(lit(1)).as("cnt"))
    val probeCells = docs.select(col(group).as("grp")).distinct()
      .crossJoin(probes.toDF("token"))
      .select(col("grp"), col("token"), expr("graft_polyhash(token)").as("h"))
      .select(col("grp"), col("token"),
        explode(expr(s"array($cellStructs)")).as("c"))
      .select(col("grp"), col("token"),
        col("c.row").as("row"), col("c.col").as("col"))
    probeCells
      .join(cells, Seq("grp", "row", "col"), "left")
      .groupBy(col("grp"), col("token"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est"))
  }

  /** DuckDB oracle for [[hllDistinct]] — generated per precision so any
    * p runs the identical arithmetic the Spark plan does. */
  def hllDistinctSql(table: String, valueSql: String, p: Int): String = {
    val m = 1 << p
    val ph = Hashing.polyHashSql(valueSql)
    s"""WITH h AS (SELECT (($ph) * $ScatterA + $ScatterB) % ${Hashing.P} AS h FROM $table),
       |b AS (SELECT h % $m AS bucket, h // $m AS w FROM h WHERE h IS NOT NULL),
       |r AS (SELECT bucket, max(${wBits(p)} - (${bitLenSql("w", wBits(p))}) + 1) AS r
       |      FROM b GROUP BY bucket),
       |s AS (SELECT count(*) AS hit, sum(power(2.0, -r)) AS s FROM r)
       |SELECT ${m}::BIGINT AS n_registers,
       |  ${alphaFor(m) * m * m} / (s + ($m - hit)::DOUBLE) AS est
       |FROM s""".stripMargin
  }

  /** DuckDB oracle for [[hllDistinctBy]], generated per precision. */
  def hllByGroupSql(table: String, groupSql: String, groupOut: String,
                    valueSql: String, p: Int): String = {
    val m = 1 << p
    val ph = Hashing.polyHashSql(valueSql)
    s"""WITH h AS (
       |  SELECT $groupSql AS grp,
       |    (($ph) * $ScatterA + $ScatterB) % ${Hashing.P} AS h
       |  FROM $table),
       |b AS (SELECT grp, h % $m AS bucket, h // $m AS w FROM h WHERE h IS NOT NULL),
       |r AS (SELECT grp, bucket, max(${wBits(p)} - (${bitLenSql("w", wBits(p))}) + 1) AS r
       |      FROM b GROUP BY grp, bucket),
       |s AS (SELECT grp, count(*) AS hit, sum(power(2.0, -r)) AS s FROM r GROUP BY grp)
       |SELECT grp AS $groupOut,
       |  ${alphaFor(m) * m * m} / (s + ($m - hit)::DOUBLE) AS est
       |FROM s""".stripMargin
  }

  /** SLIDING-WINDOW DISTINCT COUNT (x12) — "distinct users in the
    * trailing 24 h, per hour": the register-MERGE property of HLL
    * applied along the TIME axis. Exact sliding distinct needs the
    * full key set per window (O(window · keys) state); mergeable
    * registers make it O(hours · m): build one register set per hour,
    * then each hour's answer is the max-merge of its trailing
    * [[windowHours]] register sets — the same union-without-rescan
    * that makes HLL shardable in space (x03) working in time.
    *
    * Every frame after the per-hour registers is REGISTER-sized
    * (#hours × m rows), so the trailing merge is a broadcast range
    * join over a bounded table, never a second pass over the events.
    * Same scatter/rho/readout pipeline as [[hllDistinct]] (sums of
    * powers of two — exact in double, order-free). Output:
    * `(hour_epoch, est)`, one row per hour present in the data. */
  def hllSlidingDistinct(events: DataFrame, ts: String, valueCol: String,
                         windowHours: Int = 24, p: Int = P2): DataFrame =
    hllSlidingReadout(hourlyHllRegisters(events, ts, valueCol, p),
      windowHours, p)

  /** The x12 per-hour register table: `(hour_epoch, bucket, r0)`, at
    * most #hours·m rows. `max(rho)` per (hour, bucket) is
    * associative/commutative/IDEMPOTENT, so this exact column pipeline
    * also runs under the streaming state manager with O(hours·m)
    * state, and any micro-batch split reaches the same fixpoint —
    * [[graft.streaming.SketchStream.runSlidingHllAvailableNow]] drains
    * this method over an event stream. */
  def hourlyHllRegisters(events: DataFrame, ts: String, valueCol: String,
                         p: Int = P2): DataFrame = {
    val m = 1 << p
    graft.functions.VectorFunctions.register(events.sparkSession)
    events
      // FLOOR-consistent hour bucketing: Spark's `div` truncates toward
      // zero while the DuckDB oracle's `//` floors, so for pre-1970
      // (negative-epoch) timestamps plain `div` would land one bucket
      // high. Subtracting pmod first makes the dividend an exact
      // multiple, so `div` ≡ floor division for either sign — the same
      // sign-safety recipe as q46/c17's magnitude division.
      .select(expr(s"((unix_micros($ts) - pmod(unix_micros($ts), 3600000000L)) div 3600000000L) * 3600L")
          .as("hour_epoch"),
        expr(s"(graft_polyhash(cast($valueCol as string)) * ${ScatterA}L + ${ScatterB}L) % ${Hashing.P}L")
          .as("h"))
      .filter(col("h").isNotNull)
      .select(col("hour_epoch"), (col("h") % m).as("bucket"),
        expr(s"h div $m").as("w"))
      .select(col("hour_epoch"), col("bucket"),
        (lit(wBits(p)) - bitLenCase("w", wBits(p)) + 1).as("rho"))
      .groupBy(col("hour_epoch"), col("bucket")).agg(max(col("rho")).as("r0"))
  }

  /** The x12 trailing merge + readout over a [[hourlyHllRegisters]]
    * table — a register-sized batch step, shared verbatim by the
    * batch query and the streaming twin's sink post-processing. */
  def hllSlidingReadout(regs: DataFrame, windowHours: Int = 24,
                        p: Int = P2): DataFrame = {
    val m = 1 << p
    val hours = regs.select(col("hour_epoch")).distinct()
    val merged = hours
      .join(broadcast(regs.withColumnRenamed("hour_epoch", "reg_hour")),
        col("reg_hour") <= col("hour_epoch") &&
          col("reg_hour") > col("hour_epoch") - windowHours * 3600L)
      .groupBy(col("hour_epoch"), col("bucket")).agg(max(col("r0")).as("r"))
    merged
      .select(col("hour_epoch"),
        expr("cast(power(2.0D, -cast(r as double)) as double)").as("t"))
      .groupBy(col("hour_epoch"))
      .agg(count(lit(1)).as("hit"), sum(col("t")).as("s"))
      .select(col("hour_epoch"),
        (lit(alphaFor(m) * m * m)
          / (col("s") + (lit(m) - col("hit")).cast("double"))).as("est"))
  }

  // ───── AMS F2 / join-size sketch (x13) ─────

  /** Sketch width for x13: 16 independent ±1 rows (the [[Hashing]]
    * affine family), averaged — relative std ≈ √(2/16) ≈ 35%. */
  val AmsR = 16

  /** The i-th AMS ±1 coin on integer key column `key` — an affine hash
    * (pmod'd fair over the full id range, the s01 coin recipe) reduced
    * to its parity. Pure integer CASE arithmetic, parsed identically
    * by Spark and DuckDB, so the sketch is cross-engine exact. */
  private def amsSignExpr(key: String, i: Int): String = {
    val a = Hashing.MinHashA(i); val b = Hashing.MinHashB(i); val p = Hashing.P
    s"CASE WHEN (((($key % $p + $p) % $p) * $a + $b) % $p) % 2 = 0 " +
      "THEN 1 ELSE -1 END"
  }

  /** The AMS sketch vector of a relation on `key`: one row of r
    * atoms `z_i = Σ_rows s_i(key)` (Alon–Matias–Szegedy 1996). The
    * sketch is LINEAR — Z(A ⊎ B) = Z(A) + Z(B) component-wise — so
    * shards, deltas and retractions all merge by addition, the same
    * mergeability contract as the HLL/CMS/histogram registers.
    *
    * Scale shape: r map-side ±1 sums → ONE sketch row through the
    * aggregation, whatever the input size; the key column is the only
    * column read. Under a streaming aggregation the state store holds
    * that one row forever and any micro-batch split reaches the same
    * fixpoint; by linearity a standing batch Z row adds component-wise
    * to a streamed one ([[graft.streaming.SketchStream.runAmsAvailableNow]]). */
  def amsZ(df: DataFrame, key: String, r: Int = AmsR): DataFrame = {
    val sums = (0 until r).map(i => sum(expr(amsSignExpr(key, i))).as(s"z$i"))
    df.agg(sums.head, sums.tail: _*)
  }

  /** Self-join-size estimate (x13): F₂ = Σ_k c_k² of `key`, the size
    * of the relation's self-equi-join — THE quantity a planner needs
    * to price a shuffle join or predict skew before running it (every
    * `E[z_i²] = F₂`; the readout averages the r squares). The catalog
    * entry audits itself x10-style: the estimate next to the exact
    * Σc² and their signed relative error in micro-units (sign-safe
    * magnitude division, the q46 recipe).
    *
    * Scale shape: the sketch side is one O(r) aggregation with no
    * per-key state at all — at 100 TB the exact side's key-cardinality
    * shuffle is precisely the cost a deployment runs x13 to AVOID, and
    * the estimate alone is `amsZ` + arithmetic. Output: one row
    * `(est_f2, exact_f2, rel_err_q6)`. */
  def amsF2(df: DataFrame, key: String, r: Int = AmsR): DataFrame = {
    val est = amsZ(df, key, r).select(
      expr(s"(${(0 until r).map(i => s"z$i * z$i").mkString(" + ")}) div $r")
        .as("est_f2"))
    val exact = df.groupBy(col(key)).agg(count(lit(1)).as("c"))
      .agg(sum(col("c") * col("c")).as("exact_f2"))
    est.crossJoin(exact)
      .select(col("est_f2"), col("exact_f2"),
        expr("CASE WHEN est_f2 - exact_f2 >= 0 " +
          "THEN ((est_f2 - exact_f2) * 1000000) div exact_f2 " +
          "ELSE -(((exact_f2 - est_f2) * 1000000) div exact_f2) END")
          .as("rel_err_q6"))
  }

  /** Per-group AMS F₂ (x14) — one sketch row PER GROUP, completing the
    * x-family's group symmetry (HLL x01/x03, CMS x02/x09, histogram
    * x05/x06, AMS x13/x14): which stratum's key distribution carries
    * the self-join/skew mass — e.g. which event type will blow up the
    * sessionize shuffle. Same audit readout as x13 per group; the
    * exchange carries r atoms per group, never per key.
    * Output: one row `(grp, est_f2, exact_f2, rel_err_q6)` per group. */
  def amsF2By(df: DataFrame, groupCol: String, key: String,
              r: Int = AmsR): DataFrame = {
    val sums = (0 until r).map(i => sum(expr(amsSignExpr(key, i))).as(s"z$i"))
    val est = df.groupBy(col(groupCol).as("grp"))
      .agg(sums.head, sums.tail: _*)
      .select(col("grp"),
        expr(s"(${(0 until r).map(i => s"z$i * z$i").mkString(" + ")}) div $r")
          .as("est_f2"))
    val exact = df.groupBy(col(groupCol).as("grp"), col(key))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("grp")).agg(sum(col("c") * col("c")).as("exact_f2"))
    est.join(exact, "grp")
      .select(col("grp"), col("est_f2"), col("exact_f2"),
        expr("CASE WHEN est_f2 - exact_f2 >= 0 " +
          "THEN ((est_f2 - exact_f2) * 1000000) div exact_f2 " +
          "ELSE -(((exact_f2 - est_f2) * 1000000) div exact_f2) END")
          .as("rel_err_q6"))
  }

  /** Cross-join-size estimate from two [[amsZ]] sketch rows:
    * `E[Σ z_i·w_i / r] = Σ_k c_k(A)·c_k(B) = |A ⋈_key B|` — the AMS
    * inner product, pricing an equi-join between two relations from
    * two O(r) rows without touching either table again. The inner
    * product can come out negative on unlucky coins; the sign-safe
    * magnitude division keeps both engines' floor/truncate agreeing.
    * Output: one row `(est_join)`. */
  def amsJoinSize(za: DataFrame, zb: DataFrame, r: Int = AmsR): DataFrame = {
    val bRenamed = zb.select((0 until r).map(i => col(s"z$i").as(s"w$i")): _*)
    val dot = (0 until r).map(i => s"z$i * w$i").mkString(" + ")
    za.crossJoin(bRenamed)
      .select(expr(s"CASE WHEN ($dot) >= 0 THEN ($dot) div $r " +
        s"ELSE -((-($dot)) div $r) END").as("est_join"))
  }

  /** Cross-table join-size AUDIT (x15) — [[amsJoinSize]] pricing
    * |A ⋈ B| from two O(r) sketch rows, read next to the exact join
    * cardinality Σ_k c_A(k)·c_B(k) and their signed relative error in
    * micro-units: the x10/x13 audit shape pointed at the ESTIMATOR A
    * PLANNER ACTUALLY CALLS — "how big is this equi-join going to be"
    * — before committing a shuffle strategy to it.
    *
    * Scale shape: each sketch side is one map-side O(r) aggregation
    * over its table's key column only; the inner product is two
    * one-row frames crossed. The exact side's per-key aggregation +
    * key join is precisely the work x15 exists to avoid — it is here
    * (as in x10/x13) because an audit that never meets ground truth
    * is a number, not a measurement. At 100 TB a deployment runs the
    * sketch half nightly per table and keeps the exact half for
    * sampled audits. Output: one row `(est_join, exact_join,
    * rel_err_q6)`, all divisions sign-safe so `div` ≡ `//`. */
  def amsJoinAudit(dfA: DataFrame, keyA: String, dfB: DataFrame,
                   keyB: String, r: Int = AmsR): DataFrame = {
    val est = amsJoinSize(amsZ(dfA.select(col(keyA).as("k")), "k", r),
      amsZ(dfB.select(col(keyB).as("k")), "k", r), r)
    val exact = dfA.groupBy(col(keyA).as("k")).agg(count(lit(1)).as("ca"))
      .join(dfB.groupBy(col(keyB).as("k")).agg(count(lit(1)).as("cb")), "k")
      .agg(sum(col("ca") * col("cb")).as("exact_join"))
    est.crossJoin(exact)
      .select(col("est_join"), col("exact_join"),
        expr("CASE WHEN est_join - exact_join >= 0 " +
          "THEN ((est_join - exact_join) * 1000000) div exact_join " +
          "ELSE -(((exact_join - est_join) * 1000000) div exact_join) END")
          .as("rel_err_q6"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // AMS self-join size of the event stream on its user key — the
    // sessionization/shuffle-cost probe, audited against the exact Σc²
    "x13_ams_f2" -> ((s, d) => amsF2(Tables.events(s, d), "user_id")),
    // per-event-type self-join mass — which stratum will skew the
    // user-keyed shuffle
    "x14_ams_by_group" -> ((s, d) =>
      amsF2By(Tables.events(s, d), "event_type", "user_id")
        .withColumnRenamed("grp", "event_type")),
    // AMS join-size pricing: |orders ⋈ customer| on custkey from two
    // O(r) sketch rows, audited against the exact join cardinality
    "x15_ams_join_size" -> ((s, d) =>
      amsJoinAudit(Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey")),
    "x12_hll_sliding" -> ((s, d) =>
      hllSlidingDistinct(Tables.events(s, d), "ts", "user_id")),
    // distinct suppliers-per-part key space on lineitem: ~20k-80k
    // distinct values at test SFs — squarely the raw-HLL regime n >> 64
    "x01_hll_distinct" -> ((s, d) =>
      hllDistinct(Tables.lineitem(s, d).select(col("l_partkey")), "l_partkey")),
    // the x01 sketch audited against the exact count in one frame
    "x10_hll_error" -> ((s, d) =>
      hllError(Tables.lineitem(s, d).select(col("l_partkey")), "l_partkey")),
    // frequency estimates for the stopword probe set over the document
    // token stream — compare x02 est against t01's exact top counts
    "x02_cms_freq" -> ((s, d) =>
      cmsFrequencies(Tables.documents(s, d), "text", TextOps.Stopwords)),
    // sketch-nominated heavy hitters confirmed by an exact second pass
    "x11_cms_heavy_verified" -> ((s, d) =>
      cmsHeavyHitters(Tables.documents(s, d), "text")),
    // one CMS per language — the group twin of x02
    "x09_cms_by_group" -> ((s, d) =>
      cmsFrequenciesBy(Tables.documents(s, d), "lang", "text",
        TextOps.Stopwords)
        .withColumnRenamed("grp", "lang")),
    // distinct parts per returnflag — per-group sketch read-out
    "x03_hll_by_group" -> ((s, d) =>
      hllDistinctBy(Tables.lineitem(s, d), "l_returnflag", "l_partkey")
        .withColumnRenamed("grp", "l_returnflag")),
    // the same distinct-count at 4x the default precision (m=256,
    // ~6.5% se): pins the per-p generation path end to end — registers,
    // alpha, wBits, and the generated oracle all re-derive from p
    "x04_hll_p8" -> ((s, d) =>
      hllDistinct(Tables.lineitem(s, d).select(col("l_partkey")), "l_partkey",
        p = 8)),
    // quantiles of extended price from a width-1000 histogram sketch:
    // ~100 register rows stand in for the whole lineitem distribution
    "x05_hist_quantiles" -> ((s, d) =>
      histQuantiles(
        histRegisters(Tables.lineitem(s, d), "l_extendedprice", 1000.0),
        1000.0, Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99"))),
    // per-returnflag price percentiles from grouped registers
    "x06_hist_by_group" -> ((s, d) =>
      histQuantilesBy(
        histRegistersBy(Tables.lineitem(s, d), "l_returnflag",
          "l_extendedprice", 1000.0),
        1000.0, Seq(0.5 -> "p50", 0.9 -> "p90"))
        .withColumnRenamed("grp", "l_returnflag")),
    // bottom-k distinct sketch of the same key space as x01 — the
    // sample-bearing estimator beside the register-bearing one
    "x08_bottomk" -> ((s, d) =>
      bottomKEstimate(bottomKSketch(
        Tables.lineitem(s, d).select(col("l_partkey")), "l_partkey"))),
    // part-key overlap between the returned and acknowledged line
    // populations, estimated purely from registers
    "x07_hll_overlap" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      hllOverlap(
        li.filter(col("l_returnflag") === "R").select(col("l_partkey")),
        "l_partkey",
        li.filter(col("l_returnflag") === "A").select(col("l_partkey")),
        "l_partkey")
    }),
    // the same overlap question answered by the theta/KMV sample
    // sketch — direct intersection observation, audited against the
    // exact distinct-join
    "x16_theta_intersect" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      bottomKIntersect(
        li.filter(col("l_returnflag") === "R").select(col("l_partkey")),
        "l_partkey",
        li.filter(col("l_returnflag") === "A").select(col("l_partkey")),
        "l_partkey")
    }))

  def oracle: Map[String, String] = Map(
    // x13 — the identical ±1 coins, squares, average and sign-safe
    // relative error; every division has non-negative operands or the
    // sign reapplied, so `//` ≡ `div`
    "x13_ams_f2" -> {
      val zs = (0 until AmsR)
        .map(i => s"CAST(sum(${amsSignExpr("user_id", i)}) AS BIGINT) AS z$i")
        .mkString(",\n    ")
      val sq = (0 until AmsR).map(i => s"z$i * z$i").mkString(" + ")
      s"""WITH z AS (SELECT $zs FROM events),
         |e AS (SELECT CAST(sum(c * c) AS BIGINT) AS exact_f2 FROM (
         |  SELECT count(*) AS c FROM events GROUP BY user_id) t),
         |s AS (SELECT CAST(($sq) AS BIGINT) // $AmsR AS est_f2 FROM z)
         |SELECT est_f2, exact_f2,
         |  CASE WHEN est_f2 - exact_f2 >= 0
         |    THEN ((est_f2 - exact_f2) * 1000000) // exact_f2
         |    ELSE -(((exact_f2 - est_f2) * 1000000) // exact_f2) END AS rel_err_q6
         |FROM s, e""".stripMargin
    },
    // x15 — the same coins on each table's key, the inner product
    // replacing the squares, and the exact join count from the two
    // per-key count frames; all divisions sign-safe
    "x15_ams_join_size" -> {
      val zas = (0 until AmsR)
        .map(i => s"CAST(sum(${amsSignExpr("o_custkey", i)}) AS BIGINT) AS z$i")
        .mkString(",\n    ")
      val zbs = (0 until AmsR)
        .map(i => s"CAST(sum(${amsSignExpr("c_custkey", i)}) AS BIGINT) AS w$i")
        .mkString(",\n    ")
      val dot = (0 until AmsR).map(i => s"z$i * w$i").mkString(" + ")
      s"""WITH za AS (SELECT $zas FROM orders),
         |zb AS (SELECT $zbs FROM customer),
         |e AS (SELECT CAST(sum(ca * cb) AS BIGINT) AS exact_join FROM (
         |    SELECT o_custkey AS k, count(*) AS ca FROM orders GROUP BY 1) a
         |  JOIN (
         |    SELECT c_custkey AS k, count(*) AS cb FROM customer GROUP BY 1) b
         |  USING (k)),
         |s AS (SELECT CASE WHEN ($dot) >= 0 THEN CAST(($dot) AS BIGINT) // $AmsR
         |  ELSE -((-CAST(($dot) AS BIGINT)) // $AmsR) END AS est_join
         |  FROM za, zb)
         |SELECT est_join, exact_join,
         |  CASE WHEN est_join - exact_join >= 0
         |    THEN ((est_join - exact_join) * 1000000) // exact_join
         |    ELSE -(((exact_join - est_join) * 1000000) // exact_join) END AS rel_err_q6
         |FROM s, e""".stripMargin
    },
    // x14 — the x13 text with GROUP BY event_type on both branches
    "x14_ams_by_group" -> {
      val zs = (0 until AmsR)
        .map(i => s"CAST(sum(${amsSignExpr("user_id", i)}) AS BIGINT) AS z$i")
        .mkString(",\n    ")
      val sq = (0 until AmsR).map(i => s"z$i * z$i").mkString(" + ")
      s"""WITH z AS (
         |  SELECT event_type, $zs FROM events GROUP BY event_type),
         |e AS (SELECT event_type, CAST(sum(c * c) AS BIGINT) AS exact_f2 FROM (
         |  SELECT event_type, user_id, count(*) AS c FROM events
         |  GROUP BY event_type, user_id) t GROUP BY event_type),
         |s AS (SELECT event_type, CAST(($sq) AS BIGINT) // $AmsR AS est_f2 FROM z)
         |SELECT s.event_type, est_f2, exact_f2,
         |  CASE WHEN est_f2 - exact_f2 >= 0
         |    THEN ((est_f2 - exact_f2) * 1000000) // exact_f2
         |    ELSE -(((exact_f2 - est_f2) * 1000000) // exact_f2) END AS rel_err_q6
         |FROM s JOIN e ON e.event_type = s.event_type""".stripMargin
    },
    "x01_hll_distinct" ->
      hllDistinctSql("lineitem", "CAST(l_partkey AS VARCHAR)", P2),
    "x10_hll_error" ->
      s"""WITH sk AS (${hllDistinctSql("lineitem", "CAST(l_partkey AS VARCHAR)", P2)}),
         |x AS (SELECT count(DISTINCT l_partkey) AS exact FROM lineitem)
         |SELECT n_registers, est, exact,
         |  CAST(round((est - exact::DOUBLE) / exact::DOUBLE * 1000000.0) AS BIGINT) AS rel_err_q6
         |FROM sk CROSS JOIN x""".stripMargin,
    "x03_hll_by_group" ->
      hllByGroupSql("lineitem", "l_returnflag", "l_returnflag",
        "CAST(l_partkey AS VARCHAR)", P2),
    // x12 — per-hour registers, trailing range-join max-merge, the
    // standard readout; every CTE after b is register-sized
    "x12_hll_sliding" -> {
      val p = P2
      val m = 1 << p
      val ph = Hashing.polyHashSql("CAST(user_id AS VARCHAR)")
      s"""WITH h AS (
         |  SELECT (epoch_us(ts::TIMESTAMP) // 3600000000) * 3600 AS hour_epoch,
         |    (($ph) * $ScatterA + $ScatterB) % ${Hashing.P} AS h
         |  FROM events),
         |b AS (SELECT hour_epoch, h % $m AS bucket, h // $m AS w
         |      FROM h WHERE h IS NOT NULL),
         |r0 AS (SELECT hour_epoch, bucket,
         |    max(${wBits(p)} - (${bitLenSql("w", wBits(p))}) + 1) AS r0
         |  FROM b GROUP BY hour_epoch, bucket),
         |hrs AS (SELECT DISTINCT hour_epoch FROM r0),
         |win AS (
         |  SELECT hrs.hour_epoch, r0.bucket, max(r0.r0) AS r
         |  FROM hrs JOIN r0 ON r0.hour_epoch <= hrs.hour_epoch
         |    AND r0.hour_epoch > hrs.hour_epoch - ${24 * 3600}
         |  GROUP BY hrs.hour_epoch, r0.bucket),
         |s AS (SELECT hour_epoch, count(*) AS hit, sum(power(2.0, -r)) AS s
         |      FROM win GROUP BY hour_epoch)
         |SELECT hour_epoch, ${alphaFor(m) * m * m} / (s + ($m - hit)::DOUBLE) AS est
         |FROM s""".stripMargin
    },
    "x04_hll_p8" ->
      hllDistinctSql("lineitem", "CAST(l_partkey AS VARCHAR)", 8),
    "x05_hist_quantiles" ->
      histQuantilesSql("lineitem", "l_extendedprice", 1000.0,
        Seq(0.5 -> "p50", 0.9 -> "p90", 0.99 -> "p99")),
    "x06_hist_by_group" ->
      histQuantilesBySql("lineitem", "l_returnflag", "l_returnflag",
        "l_extendedprice", 1000.0, Seq(0.5 -> "p50", 0.9 -> "p90")),
    "x07_hll_overlap" ->
      hllOverlapSql("lineitem", "CAST(l_partkey AS VARCHAR)",
        "l_returnflag = 'R'", "l_returnflag = 'A'", P2),
    "x16_theta_intersect" ->
      bottomKIntersectSql("lineitem", "CAST(l_partkey AS VARCHAR)",
        "l_returnflag = 'R'", "l_returnflag = 'A'", BottomK),
    "x08_bottomk" ->
      bottomKSql("lineitem", "CAST(l_partkey AS VARCHAR)", BottomK),
    // x11 — x02's cell CTEs with the probe set replaced by the
    // distinct vocabulary, plus the exact verify join
    "x11_cms_heavy_verified" -> {
      val ph = Hashing.polyHashSql("token")
      val cellUnion = (0 until CmsDepth).map { i =>
        s"SELECT $i AS row, ${cmsColSql("h", i)} AS col, token FROM th"
      }.mkString("\nUNION ALL ")
      val probeUnion = (0 until CmsDepth).map { i =>
        s"SELECT token, $i AS row, ${cmsColSql("h", i)} AS col FROM vh"
      }.mkString("\nUNION ALL ")
      s"""WITH tok AS (
         |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
         |  FROM documents),
         |th AS (SELECT token, ($ph) AS h FROM tok),
         |tc AS ($cellUnion),
         |cells AS (SELECT row, col, count(*) AS cnt FROM tc GROUP BY 1, 2),
         |vocab AS (SELECT DISTINCT token FROM tok),
         |vh AS (SELECT token, ($ph) AS h FROM vocab),
         |pc AS ($probeUnion),
         |est AS (
         |  SELECT pc.token, min(coalesce(cells.cnt, 0)) AS est
         |  FROM pc LEFT JOIN cells ON pc.row = cells.row AND pc.col = cells.col
         |  GROUP BY pc.token
         |  HAVING min(coalesce(cells.cnt, 0)) >= $HeavyMin),
         |ex AS (SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt FROM tok GROUP BY token)
         |SELECT est.token, est.est, ex.exact_cnt, est.est - ex.exact_cnt AS overcount
         |FROM est JOIN ex USING (token)""".stripMargin
    },
    "x02_cms_freq" -> {
      val ph = Hashing.polyHashSql("token")
      val cellUnion = (0 until CmsDepth).map { i =>
        s"SELECT $i AS row, ${cmsColSql("h", i)} AS col, token FROM th"
      }.mkString("\nUNION ALL ")
      val probeList = TextOps.Stopwords.map(w => s"('$w')").mkString(", ")
      s"""WITH tok AS (
         |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
         |  FROM documents),
         |th AS (SELECT token, ($ph) AS h FROM tok),
         |tc AS ($cellUnion),
         |cells AS (SELECT row, col, count(*) AS cnt FROM tc GROUP BY 1, 2),
         |probes(token) AS (VALUES $probeList),
         |ph AS (SELECT token, ($ph) AS h FROM probes),
         |pc AS (${(0 until CmsDepth).map { i =>
             s"SELECT token, $i AS row, ${cmsColSql("h", i)} AS col FROM ph"
           }.mkString("\nUNION ALL ")})
         |SELECT pc.token, min(coalesce(cells.cnt, 0)) AS est
         |FROM pc LEFT JOIN cells ON pc.row = cells.row AND pc.col = cells.col
         |GROUP BY pc.token""".stripMargin
    },
    "x09_cms_by_group" -> {
      val ph = Hashing.polyHashSql("token")
      val cellUnion = (0 until CmsDepth).map { i =>
        s"SELECT grp, $i AS row, ${cmsColSql("h", i)} AS col, token FROM th"
      }.mkString("\nUNION ALL ")
      val probeList = TextOps.Stopwords.map(w => s"('$w')").mkString(", ")
      s"""WITH tok AS (
         |  SELECT lang AS grp,
         |    unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS token
         |  FROM documents),
         |th AS (SELECT grp, token, ($ph) AS h FROM tok),
         |tc AS ($cellUnion),
         |cells AS (SELECT grp, row, col, count(*) AS cnt FROM tc GROUP BY 1, 2, 3),
         |probes(token) AS (VALUES $probeList),
         |gp AS (SELECT DISTINCT lang AS grp FROM documents),
         |ph AS (SELECT gp.grp, probes.token, ($ph) AS h FROM gp CROSS JOIN probes),
         |pc AS (${(0 until CmsDepth).map { i =>
             s"SELECT grp, token, $i AS row, ${cmsColSql("h", i)} AS col FROM ph"
           }.mkString("\nUNION ALL ")})
         |SELECT pc.grp AS lang, pc.token, min(coalesce(cells.cnt, 0)) AS est
         |FROM pc LEFT JOIN cells ON pc.grp = cells.grp
         |  AND pc.row = cells.row AND pc.col = cells.col
         |GROUP BY pc.grp, pc.token""".stripMargin
    })
}
