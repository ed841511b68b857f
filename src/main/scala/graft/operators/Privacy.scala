package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Privacy-risk analytics and privacy-preserving transforms — the analytical
 * complement of the reference's masking strategies (reference
 * `src/executor/query-builder.ts:14-61` applies strategies; nothing there
 * MEASURES residual re-identification risk). These operators answer "is the
 * anonymized output actually safe?" (k-anonymity, l-diversity) and supply
 * the two classic transforms the reference's strategy set lacks:
 * generalization (coarsen quasi-identifiers instead of destroying them) and
 * deterministic perturbation (noise that preserves aggregate shape).
 *
 * Scale design (100 TB):
 *  - k-anonymity / l-diversity are single hash aggregates keyed on the
 *    quasi-identifier tuple — one shuffle, map-side partial aggregation,
 *    parallel by QI cardinality. No windows, no self-joins.
 *  - generalization / date-shift / perturbation are scan-local codegen'd
 *    projections — zero shuffles, pushed through like any projection.
 *  - the shift/noise source is the portable md5 hash family (see
 *    [[Sampling.hashHex4]]): a pure row-level function of (salt, key), so
 *    results are re-derivable forever, partition-independent, and identical
 *    in any engine with md5 — the property that lets DuckDB oracle-check
 *    every one of these bit-for-bit.
 */
object Privacy {

  /** Per-group size over the quasi-identifier columns: the k-anonymity
    * statistic. A row's group size is the number of records
    * indistinguishable from it on the QI tuple. */
  def groupSizes(df: DataFrame, qi: Seq[String]): DataFrame =
    df.groupBy(qi.map(col): _*).agg(count(lit(1)).as("n"))

  /**
   * k-anonymity audit: every QI equivalence class with its size and an
   * `at_risk` verdict (size < k ⇒ the class re-identifies to fewer than k
   * candidates). One hash aggregate; the flag is a post-aggregation scalar.
   */
  def kAnonymity(df: DataFrame, qi: Seq[String], k: Int): DataFrame =
    groupSizes(df, qi).withColumn("at_risk", col("n") < k)

  /**
   * l-diversity audit: per QI class, the number of DISTINCT sensitive
   * values. A class can be k-anonymous yet leak the sensitive attribute
   * outright when all its members share one value (l = 1). Distinct-count
   * per group = one partial-aggregating shuffle on (qi, sensitive) then a
   * second tiny one on qi — Spark plans exactly that for countDistinct.
   */
  def lDiversity(df: DataFrame, qi: Seq[String], sensitive: Column,
      l: Int): DataFrame =
    df.groupBy(qi.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(sensitive).as("l_distinct"))
      .withColumn("at_risk", col("l_distinct") < l)

  /**
   * Audit-driven remediation: suppress the quasi-identifiers of every row
   * whose QI class is smaller than k. The suppressed rows merge into one
   * '*' class; when even THAT merged class would be below k (too little
   * suppressed mass to hide in), its rows are dropped outright (record
   * suppression) — so the released table is k-anonymous on the QI columns
   * by construction in every case, which PrivacySpec proves by re-running
   * the audit on both shapes. QI columns come back as strings (a '*'
   * cannot live in an int column); everything else passes through
   * untouched. NULL QI values join their class null-safely (groupBy and
   * the join must agree, or below-k NULL classes would leak unmasked).
   * Cost: one aggregate scan for class sizes (|classes| rows, broadcast)
   * + one projection scan; nothing about the table itself shuffles.
   *
   * Naming contract: all helper columns carry a `__`-prefix (`__sz_*`,
   * `__resid`), so any input column name without that prefix — including
   * a literal `n` — passes through unambiguously; `__`-prefixed input
   * names are reserved repo-wide. Note the '*' mask is also a legal string
   * value: a genuine QI value '*' would merge into the suppressed class
   * (it then only ever ADDS members to the hidden crowd, so the k-anonymity
   * guarantee still holds; choose a different sentinel if '*' is live data).
   */
  def suppressBelowK(df: DataFrame, qi: Seq[String], k: Int): DataFrame = {
    val sizes = groupSizes(df, qi)
      .select(qi.map(c => col(c).as(s"__sz_$c")) :+
        col("n").as("__sz_n"): _*)
    // total mass in below-k classes — decides mask vs drop, in-plan
    val residue = sizes.agg(coalesce(
      sum(when(col("__sz_n") < k, col("__sz_n"))), lit(0L)).as("__resid"))
    // null-safe equality: groupBy put NULL-QI rows in a class, so the
    // lookup join must match them too
    val cond = qi.map(c => col(c) <=> col(s"__sz_$c")).reduce(_ && _)
    val joined = df.join(broadcast(sizes), cond, "left")
      .crossJoin(broadcast(residue))
    val masked = df.columns.toSeq.map { c =>
      if (qi.contains(c))
        when(col("__sz_n") < k, lit("*")).otherwise(col(c).cast("string")).as(c)
      else col(c)
    }
    joined
      .filter(col("__sz_n") >= k || col("__resid") >= k)
      .select(masked: _*)
  }

  /**
   * t-closeness audit — the third of the classic trio (k-anonymity,
   * l-diversity, t-closeness): a class can be large and diverse yet still
   * leak when its sensitive-value DISTRIBUTION diverges from the table's
   * (e.g. one zip code holding all the high balances). Computes, per QI
   * class, the Earth Mover's Distance between the class's distribution
   * over the ordered `sensitive` bins and the global one, normalized to
   * [0, 1] by (B-1) ordered-bin steps.
   *
   * Exact integer arithmetic until the final division: per bin,
   * cb·N − gb·n (class count scaled by table size minus global count
   * scaled by class size) telescopes through a running sum whose absolute
   * values add up to n·N·(B−1)·EMD — so both engines produce identical
   * doubles and the audit is oracle-checkable. Shapes: ONE scan of the
   * table (the class×bin aggregate; the global marginals derive from it),
   * a broadcast bin-scaffold cross join (every class must see every bin —
   * missing bins carry mass too), one small window over ≤B rows per
   * class. Rows with a NULL QI value or NULL sensitive bin are excluded
   * up front: NULL has no position on the ordered-bin axis, and a
   * null-unsafe scaffold join would mis-assign their mass. The scaled
   * products run in decimal(38,0): cb·tot in long arithmetic would
   * overflow past ~3·10⁹ rows; in decimal the products stay exact to
   * ~9·10¹⁸ rows (count's own long ceiling) and the per-class |cum| sum
   * to B·n·N < 10³⁸ — unbounded for any real corpus.
   */
  def tCloseness(df: DataFrame, qi: Seq[String], sensitive: Column,
      t: Double): DataFrame = {
    val g = qi.map(col)
    val binned = df.select(g :+ sensitive.as("__bin"): _*)
      .na.drop(qi :+ "__bin")
    val classBin = binned.groupBy((qi :+ "__bin").map(col): _*)
      .agg(count(lit(1)).as("__cb"))
    tClosenessFromCounts(classBin, qi, t)
  }

  /**
   * [[tCloseness]] over a PRE-AGGREGATED (qi…, __bin, __cb) count table —
   * the seam that makes the decimal arithmetic testable at adversarial
   * magnitudes (a spec can feed multi-billion counts directly instead of
   * materializing the rows) and the natural entry point when class×bin
   * counts are already maintained incrementally (see [[Scale.mergeCounts]]).
   *
   * Naming contract (same as [[suppressBelowK]]): every helper column is
   * `__`-prefixed, so QI columns named `n`, `cb`, `tot` etc. resolve
   * unambiguously; only the OUTPUT names (`n`, `emd`, `at_risk`) and the
   * `__` prefix itself are reserved.
   */
  def tClosenessFromCounts(classBin: DataFrame, qi: Seq[String],
      t: Double): DataFrame = {
    val g = qi.map(col)
    // exact wide-integer arithmetic: decimal(38,0) products of two long
    // counts max out at ~8.5·10³⁷ < 10³⁸ — no overflow at any long input
    def dec(c: Column) = c.cast("decimal(38,0)")
    val classTot = classBin.groupBy(g: _*).agg(sum(col("__cb")).as("__n"))
    // marginals derive from the class×bin table — no second table scan
    val globalBin = classBin.groupBy(col("__bin"))
      .agg(sum(col("__cb")).as("__gb"))
    val globalTot = globalBin.agg(sum(col("__gb")).as("__tot"),
      count(lit(1)).as("__nb"))
    // scaffold: every class × every bin, zero-filled where the class has
    // no mass in a bin (those rows still move earth)
    val grid = classTot.crossJoin(broadcast(globalBin))
      .join(classBin, qi :+ "__bin", "left")
      .na.fill(0L, Seq("__cb"))
      .crossJoin(broadcast(globalTot))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(g: _*).orderBy(col("__bin"))
    grid
      .withColumn("__cum",
        sum(dec(col("__cb")) * dec(col("__tot")) -
          dec(col("__gb")) * dec(col("__n"))).over(w))
      .groupBy((qi :+ "__n").map(col): _*)
      // single-bin degenerate case (__nb = 1): every class trivially
      // matches the global distribution — EMD 0, not a 0/0 ANSI error
      .agg(coalesce(
        sum(abs(col("__cum"))).cast("double") /
          nullif(dec(max(col("__n"))) * dec(max(col("__tot"))) *
            dec(max(col("__nb")) - 1), lit(0L).cast("decimal(38,0)"))
            .cast("double"),
        lit(0.0)).as("__emd"))
      .select(g ++ Seq(col("__n").as("n"), round(col("__emd"), 6).as("emd"),
        (col("__emd") > t).as("at_risk")): _*)
  }

  /**
   * Numeric generalization: replace a value by its width-`width` bin,
   * labeled "lo-hi" (lo inclusive, hi exclusive). Negative values floor
   * toward -inf, so bins tile the whole line with no double-width bin at
   * zero. Integer bin edges render without a fraction in every engine.
   */
  def binLabel(c: Column, width: Long): Column = {
    val lo = floor(c / width.toDouble).cast("long") * width
    concat(lo.cast("string"), lit("-"), (lo + width).cast("string"))
  }

  /**
   * Deterministic per-key day shift in [-maxDays, +maxDays]: the first 4
   * md5 hex digits of (salt|key) parsed as an int, mod (2·maxDays+1),
   * centered. Every record of one key shifts by the SAME amount, so
   * intra-key intervals (order → ship latency, session gaps) survive —
   * the property plain date masking destroys. Uniform over the range up
   * to the negligible 65536 mod bias.
   */
  def shiftDays(key: Column, salt: String, maxDays: Int): Column = {
    require(maxDays > 0 && 2 * maxDays + 1 <= 65536, s"bad maxDays $maxDays")
    (conv(Sampling.hashHex4(key, salt), 16, 10).cast("long")
      % (2 * maxDays + 1)) - maxDays
  }

  /** Apply [[shiftDays]] to a timestamp column, as epoch SECONDS (exact
    * integer arithmetic; a day is 86400 s in the UTC session both engines
    * run under — no DST edge to diverge on). Epoch-seconds output follows
    * the repo's oracle convention for timestamps. */
  def shiftedEpoch(ts: Column, key: Column, salt: String,
      maxDays: Int): Column =
    // NTZ-safe: TIMESTAMP_NTZ has no direct long cast; via TIMESTAMP it
    // binds to the UTC session zone, making the epoch exact.
    ts.cast("timestamp").cast("long") + shiftDays(key, salt, maxDays) * 86400L

  /**
   * Deterministic multiplicative perturbation: value × (1 + ε) with
   * ε uniform on [-pctMille, +pctMille] per-mille steps (pctMille = 100 ⇒
   * ±10% in 0.1% increments). Same hash family as [[shiftDays]] under its
   * own salt, so noise is independent of the date shift. All arithmetic is
   * a fixed IEEE-754 expression tree — bit-identical across engines — and
   * the caller typically rounds the result to the column's money scale.
   */
  def perturb(value: Column, key: Column, salt: String,
      pctMille: Int): Column = {
    require(pctMille > 0 && 2 * pctMille + 1 <= 65536, s"bad pctMille $pctMille")
    val eps = ((conv(Sampling.hashHex4(key, salt), 16, 10).cast("long")
      % (2 * pctMille + 1)) - pctMille).cast("double") / 1000.0
    value * (lit(1.0) + eps)
  }

  /**
   * Differentially-private noisy count release (the Laplace mechanism:
   * Dwork et al. 2006): per-group counts plus Laplace(1/ε) noise via the
   * inverse CDF, noise = −(1/ε)·sgn(u−½)·ln(1−2|u−½|). Counts have L1
   * sensitivity 1, so each released group satisfies ε-DP per release —
   * ACCOUNTING across repeated releases (composition) is the caller's
   * job.
   *
   * The uniform u is SEEDED from the portable hash of (salt | group key),
   * the repo's determinism convention: the same release re-derives
   * bit-for-bit in any md5-capable engine (audit/pipeline-test mode, and
   * what makes the mechanism oracle-checkable). A production release
   * against an adaptive adversary must instead draw u fresh per release
   * (a replayable seed lets the noise be subtracted) — swap the salt for
   * a secret per-release nonce and the mechanism is the textbook one;
   * every other property is unchanged.
   *
   * Portability mechanics: u = (h + ½)/2²⁰ with h the hash mod 2²⁰ — a
   * dyadic rational, so u, |u−½| and the ln ARGUMENT are exact in both
   * engines; the one libm call rounds once to decimal(17,10) (the
   * langIdNaiveBayes recipe) before returning to IEEE doubles, hiding
   * cross-engine ulp drift; u is never exactly ½ (h+½ is non-integral)
   * and never 0 or 1, so the ln argument stays in (0, 1]. One hash
   * aggregate; the noise is a scan-local expression over the group row.
   * Returns groupCols + (noisy_n rounded to 6 dp, epsilon).
   */
  def dpCounts(df: DataFrame, groupCols: Seq[String], epsilon: Double,
      salt: String): DataFrame = {
    require(epsilon > 0.0, s"epsilon must be > 0, got $epsilon")
    require(groupCols.nonEmpty, "at least one group column required")
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .select(groupCols.map(col) ++ Seq(
        round(col("__n") +
          laplaceNoise(groupCols, 1.0 / epsilon, salt), 6).as("noisy_n"),
        lit(epsilon).as("epsilon")): _*)
  }

  /**
   * Differentially-private noisy SUM release with contribution bounding:
   * each row's value clips to [0, `clip`] before summing (L1 sensitivity
   * = clip), then Laplace(clip/ε) noise is added per group — the
   * companion of [[dpCounts]]; the pair yields a DP mean. The clipped
   * values sum as decimal(18,6), so the pre-noise total is
   * shuffle-order-independent and exact for inputs of ≤ 6 decimals
   * (money scales); the same seeded-uniform caveat and per-release ε
   * accounting as dpCounts apply. Returns groupCols + (noisy_sum,
   * epsilon, clip).
   */
  def dpSum(df: DataFrame, groupCols: Seq[String], valueCol: String,
      clip: Double, epsilon: Double, salt: String): DataFrame = {
    require(epsilon > 0.0, s"epsilon must be > 0, got $epsilon")
    require(clip > 0.0, s"clip must be > 0, got $clip")
    require(groupCols.nonEmpty, "at least one group column required")
    val clipped = least(greatest(col(valueCol).cast("double"), lit(0.0)),
      lit(clip))
    df.groupBy(groupCols.map(col): _*)
      .agg(sum(clipped.cast("decimal(18,6)")).cast("double").as("__s"))
      .select(groupCols.map(col) ++ Seq(
        round(col("__s") +
          laplaceNoise(groupCols, clip / epsilon, salt), 6).as("noisy_sum"),
        lit(epsilon).as("epsilon"), lit(clip).as("clip")): _*)
  }

  /** Shared Laplace(b) noise for the DP releases: inverse CDF over the
    * seeded dyadic uniform of (salt | group key) — see [[dpCounts]]'s
    * scaladoc for the portability and seeding analysis. */
  private def laplaceNoise(groupCols: Seq[String], b: Double,
      salt: String): Column = {
    val key = concat_ws("|",
      (lit(salt) +: groupCols.map(c => col(c).cast("string"))): _*)
    val h = pmod(Dedup.portableHash64(key), lit(1048576L))
    val ctr = (h.cast("double") + 0.5 - 524288.0) / 1048576.0
    val sgn = when(ctr >= 0.0, lit(1.0)).otherwise(lit(-1.0))
    val lnd = log(lit(1.0) - lit(2.0) * abs(ctr))
      .cast("decimal(17,10)").cast("double")
    lit(-b) * sgn * lnd
  }
}
