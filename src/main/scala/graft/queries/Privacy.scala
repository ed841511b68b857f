package graft.queries

import graft.operators.{Privacy => P}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Privacy-risk analytics queries (the audit surface the reference's
 * strategy executor lacks — see `operators/Privacy.scala`). Everything here
 * is oracle-checked: the noise/shift source is the portable md5 hash
 * family, generalization is integer arithmetic, and perturbation keeps a
 * fixed IEEE-754 expression tree both engines evaluate bit-for-bit.
 */
object Privacy {
  import Q._

  private val QI = Seq("c_nationkey", "c_mktsegment")
  /** Sensitive attribute for diversity audits: the account-balance
    * thousand-bin (floor toward -inf; exact on both engines). */
  private def acctBin = floor(col("c_acctbal") / 1000.0)

  private val hash4 = (salt: String, key: String) =>
    s"('0x' || substring(md5(concat('$salt', '|', cast($key AS VARCHAR))), 1, 4))::BIGINT"

  val defs: Seq[QueryDef] = Seq(
    // k-anonymity audit: QI equivalence classes with size and risk verdict.
    // One hash aggregate — map-side partials, one shuffle on the QI tuple.
    QueryDef("q_k_anonymity", (s, dir) => {
      P.kAnonymity(t(s, dir, "customer"), QI, 8)
        .orderBy("c_nationkey", "c_mktsegment")
    },
      """SELECT c_nationkey, c_mktsegment, count(*) AS n,
         (count(*) < 8) AS at_risk
         FROM customer GROUP BY c_nationkey, c_mktsegment
         ORDER BY c_nationkey, c_mktsegment"""),
    // l-diversity audit: distinct sensitive values per QI class. A class
    // can be k-anonymous and still leak when every member shares one
    // sensitive value.
    QueryDef("q_l_diversity", (s, dir) => {
      P.lDiversity(t(s, dir, "customer"), QI, acctBin, 4)
        .orderBy("c_nationkey", "c_mktsegment")
    },
      """SELECT c_nationkey, c_mktsegment, count(*) AS n,
         count(DISTINCT cast(floor(c_acctbal / 1000.0) AS BIGINT)) AS l_distinct,
         (count(DISTINCT cast(floor(c_acctbal / 1000.0) AS BIGINT)) < 4) AS at_risk
         FROM customer GROUP BY c_nationkey, c_mktsegment
         ORDER BY c_nationkey, c_mktsegment"""),
    // Audit-driven remediation: suppress the QI values of every row in a
    // class below k — the released table is then k-anonymous on those
    // columns. Broadcast class-size join + scan-local projection.
    QueryDef("q_suppress", (s, dir) => {
      P.suppressBelowK(t(s, dir, "customer"), QI, 8)
        .select("c_custkey", "c_nationkey", "c_mktsegment")
        .orderBy("c_custkey")
    },
      """WITH sz AS (
           SELECT c_nationkey AS nk, c_mktsegment AS seg, count(*) AS n
           FROM customer GROUP BY 1, 2),
         r AS (
           SELECT cast(coalesce(sum(CASE WHEN n < 8 THEN n END), 0) AS BIGINT)
             AS resid FROM sz)
         SELECT c_custkey,
           CASE WHEN n < 8 THEN '*' ELSE cast(c_nationkey AS VARCHAR) END
             AS c_nationkey,
           CASE WHEN n < 8 THEN '*' ELSE c_mktsegment END AS c_mktsegment
         FROM customer JOIN sz
           ON c_nationkey = nk AND c_mktsegment = seg
         CROSS JOIN r
         WHERE n >= 8 OR resid >= 8
         ORDER BY c_custkey"""),
    // t-closeness audit: the third of the classic trio — a class whose
    // sensitive-value distribution diverges from the table's leaks even
    // when k-anonymous and diverse. EMD over ordered balance bins, exact
    // integer arithmetic until the final normalization (see
    // operators/Privacy.tCloseness).
    QueryDef("q_t_closeness", (s, dir) => {
      P.tCloseness(t(s, dir, "customer"), QI, acctBin, 0.25)
        .orderBy("c_nationkey", "c_mktsegment")
    },
      """WITH b AS (
           SELECT c_nationkey, c_mktsegment,
             cast(floor(c_acctbal / 1000.0) AS BIGINT) AS bin
           FROM customer),
         cb AS (
           SELECT c_nationkey, c_mktsegment, bin, count(*) AS cb
           FROM b GROUP BY 1, 2, 3),
         ct AS (
           SELECT c_nationkey, c_mktsegment, cast(sum(cb) AS BIGINT) AS n
           FROM cb GROUP BY 1, 2),
         gb AS (SELECT bin, count(*) AS gb FROM b GROUP BY 1),
         gt AS (SELECT count(*) AS tot, count(DISTINCT bin) AS nb FROM b),
         grid AS (
           SELECT ct.c_nationkey, ct.c_mktsegment, ct.n, gb.bin, gb.gb,
             coalesce(cb.cb, 0) AS cb, gt.tot, gt.nb
           FROM ct CROSS JOIN gb CROSS JOIN gt
           LEFT JOIN cb ON cb.c_nationkey = ct.c_nationkey
             AND cb.c_mktsegment = ct.c_mktsegment AND cb.bin = gb.bin),
         cum AS (
           SELECT c_nationkey, c_mktsegment, n, tot, nb,
             sum(cb * tot - gb * n) OVER (
               PARTITION BY c_nationkey, c_mktsegment ORDER BY bin) AS cum
           FROM grid)
         SELECT c_nationkey, c_mktsegment, n,
           round(coalesce(cast(sum(abs(cum)) AS double)
             / nullif(n * tot * (nb - 1), 0), 0), 6) AS emd,
           (coalesce(cast(sum(abs(cum)) AS double)
             / nullif(n * tot * (nb - 1), 0), 0) > 0.25) AS at_risk
         FROM cum GROUP BY c_nationkey, c_mktsegment, n, tot, nb
         ORDER BY c_nationkey, c_mktsegment"""),
    // Generalization transform: hierarchy-generalize nation → region (two
    // broadcast dim joins) and bin the balance — QIs are coarsened, not
    // destroyed, so the output still supports regional analytics.
    QueryDef("q_generalize", (s, dir) => {
      t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey"), col("r_name").as("region"),
          P.binLabel(col("c_acctbal"), 1000).as("acct_bin"),
          col("c_mktsegment"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, r_name AS region,
         concat(cast(cast(floor(c_acctbal / 1000.0) AS BIGINT) * 1000 AS VARCHAR),
                '-',
                cast(cast(floor(c_acctbal / 1000.0) AS BIGINT) * 1000 + 1000 AS VARCHAR))
           AS acct_bin,
         c_mktsegment
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         ORDER BY c_custkey"""),
    // Deterministic per-customer date shift (±90 days): every order of one
    // customer shifts by the same amount, preserving intra-customer
    // intervals. Scan-local projection; epoch-seconds output (exact).
    QueryDef("q_date_shift", (s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          P.shiftedEpoch(col("o_orderdate"), col("o_custkey"), "dshift", 90)
            .as("shifted_sec"))
        .orderBy("o_orderkey")
    },
      s"""SELECT o_orderkey, o_custkey,
         cast(epoch(o_orderdate) AS BIGINT)
           + ((${hash4("dshift", "o_custkey")} % 181) - 90) * 86400 AS shifted_sec
         FROM orders ORDER BY o_orderkey"""),
    // Deterministic multiplicative perturbation (±10% in 0.1% steps): the
    // noise is a pure row function of (salt, key) — re-derivable, and the
    // whole expression is single IEEE-754 ops so the oracle's double
    // matches bit-for-bit without any rounding step.
    QueryDef("q_perturb", (s, dir) => {
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"),
          P.perturb(col("c_acctbal"), col("c_custkey"), "noise", 100)
            .as("perturbed"))
        .orderBy("c_custkey")
    },
      s"""SELECT c_custkey, c_acctbal,
         c_acctbal * (1.0 + (cast((${hash4("noise", "c_custkey")} % 201) - 100 AS DOUBLE) / 1000.0))
           AS perturbed
         FROM customer ORDER BY c_custkey"""),
    // Laplace-mechanism noisy count release (Privacy.dpCounts): per-
    // (source, lang) doc counts + Laplace(1/0.5) noise from a SEEDED
    // portable-hash uniform, so the release re-derives bit-for-bit (the
    // audit/test mode; production swaps the salt for a secret nonce —
    // see the operator scaladoc). One hash aggregate + scan-local noise.
    QueryDef("q_dp_counts", (s, dir) => {
      P.dpCounts(t(s, dir, "documents"), Seq("source", "lang"),
        epsilon = 0.5, salt = "dp9")
        .orderBy("source", "lang")
    },
    // Same dyadic-rational uniform, decimal(17,10)-rounded ln, and
    // multiplication order as the engine expression.
      """WITH g AS (
           SELECT source, lang, count(*)::bigint AS n
           FROM documents GROUP BY 1, 2),
         h AS (
           SELECT source, lang, n,
             ('0x' || substr(md5('dp9' || '|' || source || '|' || lang),
               1, 15))::BIGINT % 1048576 AS hv
           FROM g),
         c AS (
           SELECT source, lang, n,
             (hv::DOUBLE + 0.5 - 524288.0) / 1048576.0 AS ctr
           FROM h)
         SELECT source, lang,
           round(n + (-2.0) *
             (CASE WHEN ctr >= 0 THEN 1.0 ELSE -1.0 END) *
             cast(cast(ln(1.0 - 2.0 * abs(ctr)) AS decimal(17,10)) AS DOUBLE),
             6) AS noisy_n,
           0.5::DOUBLE AS epsilon
         FROM c ORDER BY source, lang"""),
    // The DP SUM companion (Privacy.dpSum): acctbal clipped to [0, 5000]
    // (sensitivity = clip), summed as exact decimal, Laplace(clip/eps)
    // noise under its own salt. Counts + sums make a DP mean.
    QueryDef("q_dp_sums", (s, dir) => {
      P.dpSum(t(s, dir, "customer"), Seq("c_mktsegment"), "c_acctbal",
        clip = 5000.0, epsilon = 0.5, salt = "dps9")
        .orderBy("c_mktsegment")
    },
      """WITH g AS (
           SELECT c_mktsegment,
             cast(sum(cast(least(greatest(c_acctbal, 0.0), 5000.0)
               AS decimal(18,6))) AS DOUBLE) AS s
           FROM customer GROUP BY 1),
         h AS (
           SELECT c_mktsegment, s,
             ('0x' || substr(md5('dps9' || '|' || c_mktsegment),
               1, 15))::BIGINT % 1048576 AS hv
           FROM g),
         c AS (
           SELECT c_mktsegment, s,
             (hv::DOUBLE + 0.5 - 524288.0) / 1048576.0 AS ctr
           FROM h)
         SELECT c_mktsegment,
           round(s + (-10000.0) *
             (CASE WHEN ctr >= 0 THEN 1.0 ELSE -1.0 END) *
             cast(cast(ln(1.0 - 2.0 * abs(ctr)) AS decimal(17,10)) AS DOUBLE),
             6) AS noisy_sum,
           0.5::DOUBLE AS epsilon, 5000.0::DOUBLE AS clip
         FROM c ORDER BY c_mktsegment"""),
    // Table-level privacy risk report: one row summarizing both audits —
    // the "is this release safe?" number the reference's JSON report never
    // computes. Two tiny aggregates over the class tables, cross-joined.
    QueryDef("q_privacy_report", (s, dir) => {
      val k = P.kAnonymity(t(s, dir, "customer"), QI, 8)
        .agg(count(lit(1)).as("n_classes"),
          sum(when(col("at_risk"), 1L).otherwise(0L)).as("k_at_risk"),
          min(col("n")).as("min_class_size"))
      val l = P.lDiversity(t(s, dir, "customer"), QI, acctBin, 4)
        .agg(sum(when(col("at_risk"), 1L).otherwise(0L)).as("l_at_risk"),
          min(col("l_distinct")).as("min_l"))
      k.crossJoin(l).orderBy("n_classes")
    },
      """WITH k AS (
           SELECT count(*) AS n_classes,
                  cast(sum(CASE WHEN n < 8 THEN 1 ELSE 0 END) AS BIGINT) AS k_at_risk,
                  min(n) AS min_class_size
           FROM (SELECT count(*) AS n FROM customer
                 GROUP BY c_nationkey, c_mktsegment)
         ), l AS (
           SELECT cast(sum(CASE WHEN ld < 4 THEN 1 ELSE 0 END) AS BIGINT) AS l_at_risk,
                  min(ld) AS min_l
           FROM (SELECT count(DISTINCT cast(floor(c_acctbal / 1000.0) AS BIGINT)) AS ld
                 FROM customer GROUP BY c_nationkey, c_mktsegment)
         )
         SELECT * FROM k CROSS JOIN l ORDER BY n_classes"""))
}
