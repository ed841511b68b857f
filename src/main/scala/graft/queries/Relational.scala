package graft.queries

import graft.operators.{Quality, Sampling, Scale}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Relational extension surface (SURVEY §2.2 P5, §2.3 F10, §2.5 A3-A5,
 * §2.6 J1-J6, §2.7 W1-W5). The reference has no joins/aggregates/windows —
 * all row work was single-table UPDATEs — so these are the operators a query
 * engine over the same data needs, expressed as declarative DataFrame plans
 * so Catalyst picks pushdown/broadcast/AQE physical strategies.
 *
 * Scale notes (100 TB):
 *  - dimension joins broadcast the small side explicitly (`broadcast(dim)`);
 *    fact-fact joins shuffle on the join key (sort-merge, AQE-skew-aware);
 *  - every aggregate is a partial+final hash aggregate (no driver rows);
 *  - money sums cast 2-decimal doubles to decimal(18,2) first, making the
 *    sum order-independent — a shuffle-order-varying double sum would not
 *    be reproducible, let alone oracle-matchable;
 *  - top-k plans as TakeOrderedAndProject (no full global sort).
 */
object Relational {
  import Q._

  val defs: Seq[QueryDef] = Seq(
    // P5 — row predicates, pushed to the parquet scan by Catalyst.
    QueryDef("q_filter_pred", (s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_quantity").between(10, 20) &&
          col("l_returnflag") === "R" &&
          col("l_shipdate") >= expr("TIMESTAMP '1995-01-01 00:00:00'"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem
         WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag = 'R'
           AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
         ORDER BY l_orderkey, l_linenumber"""),
    // F10 — scalar function kit: string/date/math built-ins, all codegen'd.
    QueryDef("q_scalar_kit", (s, dir) => {
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          upper(col("o_orderstatus")).as("status_u"),
          lower(col("o_orderpriority")).as("prio_l"),
          regexp_replace(col("o_orderpriority"), "[0-9]-", "").as("prio_word"),
          // DuckDB's length/year/month/datediff return BIGINT; cast the
          // Spark int results to long so output schemas line up.
          length(col("o_orderpriority")).cast("long").as("prio_len"),
          concat(col("o_orderstatus"), lit("/"), col("o_orderpriority")).as("status_prio"),
          year(col("o_orderdate")).cast("long").as("o_year"),
          month(col("o_orderdate")).cast("long").as("o_month"),
          datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long").as("days_since"),
          floor(col("o_totalprice")).cast("long").as("price_floor"),
          abs(col("o_totalprice") - 100000.0).as("price_dev"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
         upper(o_orderstatus) AS status_u,
         lower(o_orderpriority) AS prio_l,
         regexp_replace(o_orderpriority, '[0-9]-', '', 'g') AS prio_word,
         length(o_orderpriority) AS prio_len,
         o_orderstatus || '/' || o_orderpriority AS status_prio,
         year(o_orderdate) AS o_year,
         month(o_orderdate) AS o_month,
         datediff('day', DATE '1995-01-01', cast(o_orderdate AS date)) AS days_since,
         cast(floor(o_totalprice) AS bigint) AS price_floor,
         abs(o_totalprice - 100000.0) AS price_dev
         FROM orders ORDER BY o_orderkey"""),
    // F10 — date/time kit: truncation, month arithmetic (both engines clamp
    // to month end), calendar fields. Dates are output as strings per the
    // oracle guidance on temporal values.
    QueryDef("q_date_kit", (s, dir) => {
      val d = to_date(col("o_orderdate"))
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          date_format(trunc(d, "month"), "yyyy-MM-dd").as("month_start"),
          date_format(last_day(d), "yyyy-MM-dd").as("month_end"),
          date_format(add_months(d, 3), "yyyy-MM-dd").as("plus3m"),
          quarter(d).cast("long").as("qtr"),
          (weekday(d) + 1).cast("long").as("isodow"),
          dayofyear(d).cast("long").as("doy"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
         strftime(date_trunc('month', cast(o_orderdate AS date)), '%Y-%m-%d') AS month_start,
         strftime(last_day(cast(o_orderdate AS date)), '%Y-%m-%d') AS month_end,
         strftime(cast(cast(o_orderdate AS date) + INTERVAL 3 MONTH AS date), '%Y-%m-%d') AS plus3m,
         quarter(cast(o_orderdate AS date)) AS qtr,
         isodow(cast(o_orderdate AS date)) AS isodow,
         dayofyear(cast(o_orderdate AS date)) AS doy
         FROM orders ORDER BY o_orderkey"""),
    // F10 — string kit: split/position/pad/translate/reverse/repeat.
    QueryDef("q_string_kit", (s, dir) => {
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          split_part(col("p_name"), lit(" "), lit(2)).as("name_tail"),
          instr(col("p_name"), "red").cast("long").as("red_pos"),
          lpad(col("p_size").cast("string"), 4, "0").as("size_padded"),
          translate(col("p_brand"), "#", "-").as("brand_dashed"),
          reverse(col("p_brand")).as("brand_rev"),
          expr("repeat('*', p_size % 4)").as("stars"))
        .orderBy("p_partkey")
    },
      """SELECT p_partkey,
         split_part(p_name, ' ', 2) AS name_tail,
         strpos(p_name, 'red') AS red_pos,
         lpad(cast(p_size AS varchar), 4, '0') AS size_padded,
         translate(p_brand, '#', '-') AS brand_dashed,
         reverse(p_brand) AS brand_rev,
         repeat('*', p_size % 4) AS stars
         FROM part ORDER BY p_partkey"""),
    // F10 — regex kit: extraction groups, match counting, anchored match.
    QueryDef("q_regex_kit", (s, dir) => {
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          regexp_extract(col("p_name"), "([a-z]+)$", 1).as("last_word"),
          size(regexp_extract_all(col("p_name"), lit("[aeiou]"), lit(0)))
            .cast("long").as("n_vowels"),
          regexp_extract(col("p_name"), "zzz", 0).as("no_match"),
          col("p_name").rlike("^(red|blue)").as("is_colored"))
        .orderBy("p_partkey")
    },
      """SELECT p_partkey,
         regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
         len(regexp_extract_all(p_name, '[aeiou]')) AS n_vowels,
         regexp_extract(p_name, 'zzz', 0) AS no_match,
         regexp_matches(p_name, '^(red|blue)') AS is_colored
         FROM part ORDER BY p_partkey"""),
    // F10 — bitwise kit over integer keys (mask/set/toggle/shift).
    QueryDef("q_bitwise_kit", (s, dir) => {
      t(s, dir, "part")
        .select(
          col("p_partkey"),
          col("p_partkey").bitwiseAND(255).as("band"),
          col("p_partkey").bitwiseOR(4096).as("bor"),
          col("p_partkey").bitwiseXOR(21845).as("bxor"),
          expr("shiftleft(p_partkey, 2)").as("shl"),
          expr("shiftright(p_partkey, 1)").as("shr"))
        .orderBy("p_partkey")
    },
      """SELECT p_partkey,
         p_partkey & 255 AS band,
         p_partkey | 4096 AS bor,
         xor(p_partkey, 21845) AS bxor,
         p_partkey << 2 AS shl,
         p_partkey >> 1 AS shr
         FROM part ORDER BY p_partkey"""),
    // F10 — fuzzy string matching: edit distance against a fixed probe
    // (the text-analysis building block for name reconciliation).
    QueryDef("q_fuzzy_match", (s, dir) => {
      t(s, dir, "customer")
        .select(col("c_custkey"),
          levenshtein(col("c_name"), lit("Customer#000000000")).cast("long")
            .as("edit_dist"))
        .filter(col("edit_dist") <= 3)
        .orderBy("c_custkey")
    },
      """SELECT c_custkey,
         cast(levenshtein(c_name, 'Customer#000000000') AS bigint) AS edit_dist
         FROM customer
         WHERE levenshtein(c_name, 'Customer#000000000') <= 3
         ORDER BY c_custkey"""),
    // J5-extension — blocked fuzzy self-join (record linkage, stage 1):
    // candidate customer pairs share a 16-char name prefix (their
    // "hundred-block"), then exact Levenshtein ≤ 1 verifies — the
    // structured-record twin of MinHash-banding's meet-only-in-buckets
    // discipline, so pair work is |block|²-bounded, never |table|².
    // Dedup.capBlocks guards a degenerate blocking key (mirrored as
    // QUALIFY in the oracle). q_fuzzy_match probes one constant; this is
    // the genuine self-JOIN shape.
    QueryDef("q_fuzzy_join", (s, dir) => {
      graft.operators.Linkage.blockedFuzzyPairs(
        t(s, dir, "customer"), "c_custkey", "c_name",
        substring(col("c_name"), 1, 16), maxDist = 1)
        .orderBy("a", "b")
    },
      """WITH k AS (
           SELECT c_custkey, c_name, substring(c_name, 1, 16) AS blk
           FROM customer
           QUALIFY count(*) OVER (PARTITION BY blk) <= 4096)
         SELECT x.c_custkey AS a, y.c_custkey AS b
         FROM k x JOIN k y
           ON x.blk = y.blk AND x.c_custkey < y.c_custkey
         WHERE levenshtein(x.c_name, y.c_name) <= 1
         ORDER BY a, b"""),
    // J5-extension — entity resolution end-to-end (stage 2): fuzzy pairs
    // → connected components (min-label + pointer halving, shared with
    // q_dedup_cluster) → one canonical record per entity via a single
    // max(struct) argmax (highest balance, smallest key on ties).
    // Components label with their minimum custkey; singletons keep
    // themselves. The de-identification prerequisite: near-duplicate
    // records of one entity must merge before masking, or the duplicates
    // re-identify each other.
    QueryDef("q_entity_res", (s, dir) => {
      graft.operators.Linkage.resolveEntities(
        t(s, dir, "customer"), "c_custkey", "c_name",
        substring(col("c_name"), 1, 16), maxDist = 1,
        (dec2(col("c_acctbal")) * 100).cast("long"))
        .select(col("entity"), col("n_members"), col("canon_id"),
          (col("canon_rank") / lit(100.0)).as("canon_bal"))
        .orderBy("entity")
    },
      """WITH RECURSIVE k AS (
           SELECT c_custkey, c_name, substring(c_name, 1, 16) AS blk
           FROM customer
           QUALIFY count(*) OVER (PARTITION BY blk) <= 4096),
         e AS (
           SELECT x.c_custkey AS a, y.c_custkey AS b
           FROM k x JOIN k y
             ON x.blk = y.blk AND x.c_custkey < y.c_custkey
           WHERE levenshtein(x.c_name, y.c_name) <= 1),
         sym AS (SELECT a AS src, b AS dst FROM e
                 UNION SELECT b, a FROM e),
         reach(src, dst) AS (
           SELECT src, dst FROM sym
           UNION
           SELECT r.src, s2.dst FROM reach r
           JOIN sym s2 ON r.dst = s2.src AND r.src <> s2.dst),
         labels AS (
           SELECT src AS id, least(src, min(dst)) AS comp FROM reach
           GROUP BY src),
         members AS (
           SELECT coalesce(l.comp, c.c_custkey) AS entity,
             c.c_custkey AS mid,
             cast(cast(c_acctbal AS decimal(18,2)) * 100 AS BIGINT) AS cents
           FROM customer c LEFT JOIN labels l ON c.c_custkey = l.id)
         SELECT entity, cast(count(*) OVER (PARTITION BY entity) AS BIGINT)
             AS n_members,
           mid AS canon_id, cents / 100.0 AS canon_bal
         FROM members
         QUALIFY row_number() OVER (PARTITION BY entity
           ORDER BY cents DESC, mid) = 1
         ORDER BY entity"""),
    // F10 — null semantics: nullif/coalesce and null-safe equality.
    QueryDef("q_null_ops", (s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          nullif(col("o_orderstatus"), lit("O")).as("status_or_null"),
          coalesce(nullif(col("o_orderstatus"), lit("O")), lit("OPEN")).as("status_filled"),
          (nullif(col("o_orderstatus"), lit("O")) <=>
            nullif(col("o_orderpriority"), lit("zzz"))).as("nullsafe_eq"))
        .orderBy("o_orderkey")
    },
      """SELECT o_orderkey,
         nullif(o_orderstatus, 'O') AS status_or_null,
         coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_filled,
         (nullif(o_orderstatus, 'O') IS NOT DISTINCT FROM nullif(o_orderpriority, 'zzz')) AS nullsafe_eq
         FROM orders ORDER BY o_orderkey"""),
    // F10 — JSON extraction (the reference's JSON type group carried data
    // it never touched; here we actually read it).
    QueryDef("q_json_extract", (s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k_val"))
        .orderBy("event_id")
    },
      """SELECT event_id, cast(json_extract_string(props, '$.k') AS bigint) AS k_val
         FROM events ORDER BY event_id"""),
    // J1 — star join, dims broadcast explicitly: revenue per region/nation.
    QueryDef("q_join_broadcast", (s, dir) => {
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
            .cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    },
      """SELECT r_name, n_name,
         cast(sum(cast(l_extendedprice AS decimal(18,2)) * (1 - cast(l_discount AS decimal(18,2)))) AS double) AS revenue,
         count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name ORDER BY r_name, n_name"""),
    // J2 — fact-fact equi join forced to sort-merge (shuffle on the key).
    QueryDef("q_join_smj", (s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000.0).hint("merge")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "o_totalprice")
        .orderBy("l_orderkey", "l_linenumber")
    },
      """SELECT l_orderkey, l_linenumber, l_quantity, o_totalprice
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_totalprice > 400000.0
         ORDER BY l_orderkey, l_linenumber"""),
    // J7 — bucketed co-located join: both sides materialize as catalog
    // tables bucketed on the join key (8 buckets, per-bucket sorted), so
    // the merge join needs NO shuffle on either side — scans report
    // HashPartitioning(key, 8) and EnsureRequirements wires them
    // straight into the join (PlanSpec pins the exchange-free shape).
    // The one-layout-write-then-every-join-is-free strategy a 100 TB
    // fact table lives by. Scratch path keyed by applicationId, the
    // q_format_roundtrip convention.
    QueryDef("q_join_bucketed", (s, dir) => {
      val base = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        s"graft_bkt_${s.sparkContext.applicationId}").toString
      val o = graft.Tables.bucketed(s, t(s, dir, "orders"), "b_orders",
        s"$base/orders", Seq("o_custkey"), Seq("o_custkey"), 8)
      val c = graft.Tables.bucketed(s, t(s, dir, "customer"), "b_customer",
        s"$base/customer", Seq("c_custkey"), Seq("c_custkey"), 8)
      o.hint("merge").join(c, col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total"))
        .orderBy("c_mktsegment")
    },
    // Bucketing is a physical-layout property — the logical result is a
    // plain join+aggregate, which is exactly what the oracle checks.
      """SELECT c_mktsegment, count(*) AS n_orders,
           cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
    // J3 — left semi: orders containing any near-max-quantity item.
    QueryDef("q_join_semi", (s, dir) => {
      val o = t(s, dir, "orders")
      val li = t(s, dir, "lineitem").filter(col("l_quantity") >= 49)
      o.join(li, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice").orderBy("o_orderkey")
    },
      """SELECT o_orderkey, o_totalprice FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
         ORDER BY o_orderkey"""),
    // J3 — left anti: customers with no orders at all.
    QueryDef("q_join_anti", (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         ORDER BY c_custkey"""),
    // J4 — left outer + aggregate: order count/value per customer, zeros kept.
    QueryDef("q_join_outer", (s, dir) => {
      val c = t(s, dir, "customer"); val o = t(s, dir, "orders")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total_spend"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
         cast(sum(cast(o_totalprice AS decimal(18,2))) AS double) AS total_spend
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey"""),
    // J5 — range (theta) join against a tiny banding dim: broadcast
    // nested-loop, the only sane physical plan for a non-equi condition.
    QueryDef("q_join_range", (s, dir) => {
      import s.implicits._
      val bands = Seq((1, 17, "low"), (17, 34, "mid"), (34, 51, "high"))
        .toDF("lo", "hi", "band")
      t(s, dir, "lineitem")
        .join(broadcast(bands),
          col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
        .groupBy("band")
        .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy("band")
    },
      """SELECT band, count(*) AS n_items, sum(l_quantity) AS sum_qty
         FROM lineitem
         JOIN (VALUES (1, 17, 'low'), (17, 34, 'mid'), (34, 51, 'high'))
           AS b(lo, hi, band)
           ON l_quantity >= lo AND l_quantity < hi
         GROUP BY band ORDER BY band"""),
    // J5/scale — interval×interval OVERLAP join (high-value order windows
    // × shipment spans) through Scale.intervalJoin: bucket decomposition
    // turns the theta join (which Spark would plan as an O(|A|·|B|)
    // BroadcastNestedLoopJoin) into an EQUI join on bucket ids with
    // exactly-once first-bucket emission. Aggregated per window so the
    // output stays compact and hash-stable.
    QueryDef("q_join_interval", (s, dir) => {
      val a = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey"),
          datediff(col("o_orderdate"), lit("1970-01-01")).cast("long")
            .as("lo_a"))
        .withColumn("hi_a", col("lo_a") + 30L)
      val b = t(s, dir, "lineitem").filter(col("l_suppkey") % 100 === 0)
        .select(col("l_quantity"),
          datediff(col("l_shipdate"), lit("1970-01-01")).cast("long")
            .as("lo_b"))
        .withColumn("hi_b", col("lo_b") + col("l_quantity").cast("long"))
      Scale.intervalJoin(a, b, "lo_a", "hi_a", "lo_b", "hi_b",
          bucketWidth = 32)
        .groupBy("o_orderkey")
        .agg(count(lit(1)).as("n_overlap"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
        .orderBy("o_orderkey")
    },
    // Plain theta join in the oracle — the engine's bucket decomposition
    // must reproduce the exact overlap pair set (exactly-once emission),
    // so the aggregates agree only if no pair is missed or doubled.
      """WITH a AS (
           SELECT o_orderkey,
             date_diff('day', DATE '1970-01-01', o_orderdate) AS lo,
             date_diff('day', DATE '1970-01-01', o_orderdate) + 30 AS hi
           FROM orders WHERE o_totalprice > 400000),
         b AS (
           SELECT l_quantity,
             date_diff('day', DATE '1970-01-01', l_shipdate) AS lo,
             date_diff('day', DATE '1970-01-01', l_shipdate)
               + l_quantity::int AS hi
           FROM lineitem WHERE l_suppkey % 100 = 0)
         SELECT a.o_orderkey, count(*)::bigint AS n_overlap,
           sum(l_quantity::bigint)::bigint AS sum_qty
         FROM a JOIN b ON a.lo <= b.hi AND b.lo <= a.hi
         GROUP BY 1 ORDER BY 1"""),
    // J1/scale — deliberately skewed dimension join through an explicit
    // salted join: ~80% of lineitem lands on one key, the pattern that
    // serializes a plain shuffle join into one straggler task. saltedJoin
    // spreads the hot key over saltFactor shuffle partitions (the small
    // side is exploded to every salt); results are identical to the plain
    // join, so the oracle is the unsalted SQL. AQE's skew split is the
    // adaptive alternative, pinned separately in PlanSpec.
    QueryDef("q_join_skew", (s, dir) => {
      val li = t(s, dir, "lineitem").withColumn("skey",
        when(col("l_orderkey") % 5 =!= 0, lit(0L))
          .otherwise(lit(1L) + col("l_orderkey") % 24))
      val dim = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("skey"), col("n_name"))
      Scale.saltedJoin(li, dim, "skey", saltFactor = 8, saltFrom = Seq("l_orderkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
        .orderBy("n_name")
    },
      """WITH li AS (
           SELECT CASE WHEN l_orderkey % 5 <> 0 THEN 0
                       ELSE 1 + (l_orderkey % 24) END AS skey,
                  l_quantity
           FROM lineitem)
         SELECT n_name, count(*) AS n_rows,
           cast(sum(cast(l_quantity AS decimal(18,2))) AS double) AS sum_qty
         FROM li JOIN nation ON skey = n_nationkey
         GROUP BY n_name ORDER BY n_name"""),
    // A-robust — MAD outlier detection: rows beyond 3 median-absolute-
    // deviations of their group median. Robust statistics (50% breakdown
    // point) — the outliers can't drag the threshold that flags them.
    QueryDef("q_outlier_mad", (s, dir) => {
      Scale.madOutliers(t(s, dir, "lineitem"), Seq("l_returnflag"),
          "l_extendedprice", k = 3.0)
        .orderBy("l_returnflag")
    },
      """WITH m AS (
           SELECT l_returnflag, median(l_extendedprice) AS med
           FROM lineitem GROUP BY 1),
         d AS (
           SELECT l.l_returnflag, abs(l_extendedprice - med) AS dev
           FROM lineitem l JOIN m USING (l_returnflag)),
         s AS (
           SELECT d.l_returnflag, median(dev) AS mad, max(m.med) AS med
           FROM d JOIN m USING (l_returnflag) GROUP BY d.l_returnflag)
         SELECT d.l_returnflag, count(*) AS n_rows,
           count(CASE WHEN dev > 3 * mad THEN 1 END) AS n_outliers,
           round(max(s.med), 6) AS med, round(max(s.mad), 6) AS mad
         FROM d JOIN s USING (l_returnflag)
         GROUP BY d.l_returnflag ORDER BY d.l_returnflag"""),
    // A-skew — exact COUNT(DISTINCT) under a hot group key (80% of rows on
    // key 0) through the salted two-phase path: the hot key's value set
    // spreads over 8 reducers in phase 1, phase 2 sums per-salt counts.
    // Exact by construction, so the oracle is a plain COUNT(DISTINCT).
    QueryDef("q_agg_skew_distinct", (s, dir) => {
      val li = t(s, dir, "lineitem").withColumn("skew_key",
        when(col("l_orderkey") % 10 < 8, lit(0L))
          .otherwise(col("l_orderkey") % 10))
      Scale.saltedCountDistinct(li, Seq("skew_key"), "l_partkey",
          saltFactor = 8, alias = "n_parts")
        .orderBy("skew_key")
    },
      """SELECT CASE WHEN l_orderkey % 10 < 8 THEN 0
                     ELSE l_orderkey % 10 END AS skew_key,
                count(DISTINCT l_partkey) AS n_parts
         FROM lineitem GROUP BY 1 ORDER BY skew_key"""),
    // J6 — as-of join: each event matched to the customer's latest order at
    // or before the event time (Spark has no native as-of). Pick-latest is a
    // max(struct(date, key)) aggregate rather than a window: the partial
    // (map-side) aggregation shrinks the shuffle from |matches| to |events|,
    // which is the difference that matters at 100 TB.
    QueryDef("q_join_asof", (s, dir) => {
      // spread the STREAM side of the broadcast join first: the per-event
      // (event × earlier-order) pair explosion and its partial aggregate
      // run inside the streamed side's partitions, and a single-file scan
      // would serialize all of it into one task (measured: 6 tasks, 1.8 s
      // at sf0.1). HashPartitioning(event_id) ⊆ the aggregate keys, so the
      // groupBy below adds no second exchange.
      val e = Scale.spreadForCompute(
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"), tsCol("ts").as("ets")),
        col("event_id"))
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate")
      e.join(o, col("user_id") === col("o_custkey") && col("o_orderdate") <= col("ets"))
        .groupBy("event_id", "user_id")
        .agg(max(struct(col("o_orderdate"), col("o_orderkey"))).as("best"))
        .select(col("event_id"), col("user_id"), col("best.o_orderkey"))
        .orderBy("event_id")
    },
      """SELECT event_id, user_id, o_orderkey FROM (
           SELECT e.event_id, e.user_id, o.o_orderkey,
             row_number() OVER (PARTITION BY e.event_id
               ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
           FROM events e
           JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
         WHERE rn = 1 ORDER BY event_id"""),
    // J6b — the same as-of via a union timeline: orders and events
    // interleave on one per-user timeline and each event reads the latest
    // preceding order through a last-non-null running window. NO pair
    // explosion: the join formulation above materializes every
    // (event, earlier order) pair before its aggregate — O(events ×
    // orders-per-user) — while this stays O(events + orders) through one
    // shuffle and one sort. The better shape when users have deep order
    // histories; same answer, same oracle.
    QueryDef("q_join_asof_union", (s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), tsCol("ts").as("t"), lit(1).as("tag"),
          col("event_id"), lit(null).cast("long").as("okey"))
      // orders sort before events at the same instant (<= semantics), and
      // same-instant orders sort ascending by key so the running
      // last-non-null lands on the max key — matching max(struct) above
      val o = t(s, dir, "orders")
        .select(col("o_custkey").as("user_id"), col("o_orderdate").as("t"),
          lit(0).as("tag"), lit(null).cast("long").as("event_id"),
          col("o_orderkey").as("okey"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("t"), col("tag"), col("okey").asc_nulls_first)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.unionByName(o)
        .withColumn("best", last(col("okey"), ignoreNulls = true).over(w))
        .filter(col("tag") === 1 && col("best").isNotNull)
        .select(col("event_id"), col("user_id"),
          col("best").as("o_orderkey"))
        .orderBy("event_id")
    },
    // identical semantics to q_join_asof — the union-timeline plan must
    // produce the very same rows
      """SELECT event_id, user_id, o_orderkey FROM (
           SELECT e.event_id, e.user_id, o.o_orderkey,
             row_number() OVER (PARTITION BY e.event_id
               ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
           FROM events e
           JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts)
         WHERE rn = 1 ORDER BY event_id"""),
    // J6c — NEAREST-neighbor temporal join (|Δt| minimized, either
    // direction — sensor alignment / closest-order enrichment): the
    // union-timeline trick run BOTH ways. One shuffle; two windows over
    // the same partitioning carry the best ≤ and best ≥ candidate per
    // event (same-instant orders sort key-descending so the running last
    // lands on the SMALLEST key — the (|Δ|, key) tie-break needs it), and
    // least(struct) picks the winner. O(events + orders), never the
    // O(events × orders-per-user) pair join the oracle runs.
    QueryDef("q_join_nearest", (s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"), tsSec("ts").as("t"), lit(1).as("tag"),
          col("event_id"), lit(null).cast("long").as("okey"))
      val o = t(s, dir, "orders")
        .select(col("o_custkey").as("user_id"),
          col("o_orderdate").cast("timestamp").cast("long").as("t"),
          lit(0).as("tag"),
          lit(null).cast("long").as("event_id"),
          col("o_orderkey").as("okey"))
      def cand(w: org.apache.spark.sql.expressions.WindowSpec) =
        last(when(col("tag") === 0,
          struct(col("t").as("ot"), col("okey").as("k"))),
          ignoreNulls = true).over(w)
      val wPrev = Window.partitionBy("user_id")
        .orderBy(col("t").asc, col("tag").asc, col("okey").desc_nulls_last)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy("user_id")
        .orderBy(col("t").desc, col("tag").asc, col("okey").desc_nulls_last)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val scored = e.unionByName(o)
        .withColumn("__p", cand(wPrev))
        .withColumn("__n", cand(wNext))
        .filter(col("tag") === 1)
      val pd = when(col("__p").isNotNull,
        struct(abs(col("t") - col("__p.ot")).as("d"), col("__p.k").as("k")))
      val nd = when(col("__n").isNotNull,
        struct(abs(col("t") - col("__n.ot")).as("d"), col("__n.k").as("k")))
      scored.withColumn("__b", least(pd, nd))
        .filter(col("__b").isNotNull)
        .select(col("event_id"), col("user_id"),
          col("__b.k").as("o_orderkey"), col("__b.d").as("gap_s"))
        .orderBy("event_id")
    },
      """SELECT event_id, user_id, o_orderkey, gap_s FROM (
           SELECT e.event_id, e.user_id, o.o_orderkey,
             abs(epoch_ns(e.ts) // 1000000000
               - cast(epoch(o.o_orderdate) AS BIGINT)) AS gap_s,
             row_number() OVER (PARTITION BY e.event_id ORDER BY
               abs(epoch_ns(e.ts) // 1000000000
                 - cast(epoch(o.o_orderdate) AS BIGINT)),
               o.o_orderkey) AS rn
           FROM events e JOIN orders o ON e.user_id = o.o_custkey)
         WHERE rn = 1 ORDER BY event_id"""),
    // A3 — TPC-H Q1-style pricing summary (partial+final hash aggregate).
    QueryDef("q_agg_group", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).as("sum_qty"), // integer-valued doubles: exact
          sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      """SELECT l_returnflag, l_linestatus,
         sum(l_quantity) AS sum_qty,
         cast(sum(cast(l_extendedprice AS decimal(18,2))) AS double) AS sum_base_price,
         cast(sum(cast(l_extendedprice AS decimal(18,2)) * (1 - cast(l_discount AS decimal(18,2)))) AS double) AS sum_disc_price,
         sum(l_quantity) / count(*) AS avg_qty,
         count(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus"""),
    // A4 — exact distinct counts per group.
    QueryDef("q_agg_distinct", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
         count(DISTINCT l_suppkey) AS n_supps
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    // A4 — HLL++ approximate distinct, oracle-checked the q_distinct_sketch
    // way: the estimate itself is engine-specific, so the asserted columns
    // are the exact count and a within-tolerance verdict. rsd is pinned to
    // 1%, making the 5% gate a five-sigma bound — deterministic in practice
    // (the HLL++ hash is fixed; the estimate never varies between runs).
    QueryDef("q_agg_approx", (s, dir) => {
      t(s, dir, "lineitem")
        .agg(approx_count_distinct(col("l_partkey"), 0.01).as("approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("exact_parts"),
          // inclusive bound: on an empty table both sides are 0 and the
          // vacuous verdict must stay true, matching the oracle constant
          (abs(col("approx") - col("exact_parts")) <=
            col("exact_parts").cast("double") * 0.05).as("within_5pct"))
    },
    // single-row result; ORDER BY is vacuous but keeps the determinism
    // contract (every oracle ends in a full ORDER BY)
      """SELECT count(DISTINCT l_partkey) AS exact_parts, true AS within_5pct
         FROM lineitem ORDER BY exact_parts"""),
    // Ops — order-independent portable table checksum: migration /
    // anonymization validation by comparing two scalars instead of two
    // copies of the data. Row hashes from the portable md5 family summed
    // as decimal(38,0) (commutative ⇒ partitioning-independent); doubles
    // enter through their exact decimal rendering so both engines hash
    // identical bytes. The digest is emitted as a fixed-width zero-padded
    // string: the sum exceeds int64 and >int64 numerics are the one class
    // the compare layer renders differently per engine.
    QueryDef("q_checksum", (s, dir) => {
      graft.operators.Scale.tableChecksum(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
            col("l_linestatus"), dec2(col("l_extendedprice")).as("price")),
        Seq("l_orderkey", "l_linenumber", "l_returnflag", "l_linestatus",
          "price"))
        .orderBy("checksum")
    },
      """WITH r AS (
           SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
             cast(l_extendedprice AS DECIMAL(18,2)) AS price
           FROM lineitem)
         SELECT lpad(cast(cast(sum(('0x' || substring(md5(concat_ws('|',
             CASE WHEN l_orderkey IS NULL THEN '0' ELSE '1' || length(cast(l_orderkey AS VARCHAR)) || ':' || cast(l_orderkey AS VARCHAR) END,
             CASE WHEN l_linenumber IS NULL THEN '0' ELSE '1' || length(cast(l_linenumber AS VARCHAR)) || ':' || cast(l_linenumber AS VARCHAR) END,
             CASE WHEN l_returnflag IS NULL THEN '0' ELSE '1' || length(l_returnflag) || ':' || l_returnflag END,
             CASE WHEN l_linestatus IS NULL THEN '0' ELSE '1' || length(l_linestatus) || ':' || l_linestatus END,
             CASE WHEN price IS NULL THEN '0' ELSE '1' || length(cast(price AS VARCHAR)) || ':' || cast(price AS VARCHAR) END
           )), 1, 14))::BIGINT) AS DECIMAL(38,0)) AS VARCHAR), 38, '0') AS checksum,
           count(*) AS n_rows
         FROM r ORDER BY checksum"""),
    // A4 — approximate percentile (GK sketch), oracle-checked the same
    // verdict way. Money is centified through decimal first (double*100
    // would truncate 0.99999-cents), so the exact median interpolates
    // between exact integers — formula-order-independent in both engines.
    QueryDef("q_agg_approx_pct", (s, dir) => {
      t(s, dir, "lineitem")
        .select((dec2(col("l_extendedprice")) * 100).cast("long").as("__c"))
        .agg(expr("percentile(__c, 0.5)").as("exact_med_cents"),
          expr("approx_percentile(__c, 0.5, 10000)").as("__ap"))
        .select(col("exact_med_cents"),
          // empty table ⇒ NULL percentiles ⇒ vacuously-true verdict (the
          // oracle side is the constant true)
          coalesce(abs(col("__ap") - col("exact_med_cents")) <=
            col("exact_med_cents") * 0.01, lit(true)).as("within_1pct"))
    },
      """SELECT quantile_cont(cast(cast(l_extendedprice AS decimal(18,2))
                * 100 AS BIGINT), 0.5) AS exact_med_cents,
         true AS within_1pct
         FROM lineitem ORDER BY exact_med_cents"""),
    // A3 — deterministic argmax via lexicographic struct max (the map-side-
    // combining pick-one aggregate; ties broken by the embedded key).
    QueryDef("q_agg_argmax", (s, dir) => {
      t(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(max(struct(col("o_totalprice").as("price"),
          col("o_orderkey").as("key"))).as("best"))
        .select(col("o_orderstatus"), col("best.key").as("best_key"),
          col("best.price").as("best_price"))
        .orderBy("o_orderstatus")
    },
      """SELECT o_orderstatus,
         (max({'price': o_totalprice, 'key': o_orderkey})).key AS best_key,
         (max({'price': o_totalprice, 'key': o_orderkey})).price AS best_price
         FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""),
    // A3 — ordered string aggregation (listagg WITHIN GROUP).
    QueryDef("q_agg_listagg", (s, dir) => {
      t(s, dir, "nation")
        .groupBy("n_regionkey")
        .agg(expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)")
          .as("nations"))
        .orderBy("n_regionkey")
    },
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
         FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"""),
    // A5 — rollup; grouping nulls folded to 'ALL' so ordering is total.
    QueryDef("q_agg_rollup", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("sum_qty"), col("n"))
        .orderBy("rf", "ls")
    },
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
         coalesce(l_linestatus, 'ALL') AS ls,
         sum(l_quantity) AS sum_qty, count(*) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY rf, ls"""),
    // A5 — cube over the same keys.
    QueryDef("q_agg_cube", (s, dir) => {
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"), col("n"))
        .orderBy("rf", "ls")
    },
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
         coalesce(l_linestatus, 'ALL') AS ls, count(*) AS n
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         ORDER BY rf, ls"""),
    // A3 — pivot: per-linestatus item counts spread across returnflag
    // columns (wide-format aggregate; Catalyst plans it as one aggregate).
    QueryDef("q_pivot", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("l_linestatus"), col("A").as("n_a"), col("N").as("n_n"),
          col("R").as("n_r"))
        .orderBy("l_linestatus")
    },
      """SELECT l_linestatus,
         count(*) FILTER (WHERE l_returnflag = 'A') AS n_a,
         count(*) FILTER (WHERE l_returnflag = 'N') AS n_n,
         count(*) FILTER (WHERE l_returnflag = 'R') AS n_r
         FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus"""),
    // A3 — exact percentiles (linear interpolation, matching percentile_cont).
    QueryDef("q_agg_percentile", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
         percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity) AS p25,
         percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity) AS p50,
         percentile_cont(0.9) WITHIN GROUP (ORDER BY l_quantity) AS p90
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    // A3 — exact equi-depth (decile) binning per market segment — the
    // feature-engineering bucketizer (q_histogram is the equi-WIDTH twin;
    // q_agg_approx_pct is the sketch path when even this is too much).
    // Scale shape: rows collapse to per-(segment, value) counts FIRST (one
    // hash aggregate, map-side combine), so the decile window sorts each
    // segment's DISTINCT values — domain-bounded, typically orders of
    // magnitude smaller than the row count — never the rows themselves.
    // Value-tied rows land in the same bin by construction (unlike ntile,
    // which splits ties by arbitrary row order): bin(v) = ⌊10·cum_below(v)
    // / total⌋ + 1, all-integer, exact, engine-portable.
    // Stats — exact WEIGHTED lower median per group: the smallest value
    // whose cumulative weight reaches half the group total (integer
    // cents/quantities, so the comparison 2·cum ≥ tot is exact — no
    // percentile interpolation dialect to mirror). One grouped pre-
    // aggregate + two shared-partition windows + a min-struct pick: the
    // same order-stats shape as q_quantile_bins, per-group parallel.
    QueryDef("q_weighted_median", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // spread on the high-cardinality cents key: HashPartitioning(cents)
      // ⊆ the (rf, cents) aggregate keys, so the pre-aggregate runs wide
      // with NO extra exchange beyond the spread itself — without it the
      // whole 600k-row decimal projection + hash aggregate sits in the
      // single-file scan task (measured: 21 tasks, 2.3 s at sf0.1).
      val vals = Scale.spreadForCompute(
          t(s, dir, "lineitem")
            .select(col("l_returnflag").as("rf"),
              (dec2(col("l_extendedprice")) * 100).cast("long").as("cents"),
              col("l_quantity").cast("long").as("qty")),
          col("cents"))
        .groupBy("rf", "cents").agg(sum(col("qty")).as("w"))
      val run = Window.partitionBy("rf").orderBy("cents")
      // group totals via a map-side-combined aggregate + broadcast join,
      // NOT a whole-partition window: the running window already pays the
      // per-group sort (inherent to an exact median; few groups ⇒ few
      // window tasks — the approx path at extreme group counts is
      // percentile_approx), so don't add a second full pass over it
      val tots = vals.groupBy("rf").agg(sum(col("w")).as("tot"))
      vals.withColumn("cum", sum(col("w")).over(run))
        .join(broadcast(tots), "rf")
        .filter(col("cum") * 2 >= col("tot"))
        .groupBy("rf")
        .agg((min(col("cents")) / lit(100.0)).as("w_median"))
        .orderBy("rf")
    },
      """WITH vals AS (
           SELECT l_returnflag AS rf,
             cast(cast(l_extendedprice AS decimal(18,2)) * 100 AS BIGINT)
               AS cents,
             cast(sum(cast(l_quantity AS BIGINT)) AS BIGINT) AS w
           FROM lineitem GROUP BY 1, 2),
         c AS (
           SELECT rf, cents,
             sum(w) OVER (PARTITION BY rf ORDER BY cents) AS cum,
             sum(w) OVER (PARTITION BY rf) AS tot
           FROM vals)
         SELECT rf, min(cents) / 100.0 AS w_median
         FROM c WHERE cum * 2 >= tot GROUP BY rf ORDER BY rf"""),
    QueryDef("q_quantile_bins", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val vals = t(s, dir, "customer")
        .select(col("c_mktsegment").as("seg"),
          (dec2(col("c_acctbal")) * 100).cast("long").as("cents"))
        .groupBy("seg", "cents").agg(count(lit(1)).as("cnt"))
      val run = Window.partitionBy("seg").orderBy("cents")
      // group totals via aggregate + broadcast join, not a second
      // whole-partition window over the per-group sort — the
      // q_weighted_median pattern (7e84411, 1.92→1.48s A/B there)
      val tots = vals.groupBy("seg").agg(sum(col("cnt")).as("tot"))
      vals.withColumn("cum", sum(col("cnt")).over(run))
        .join(broadcast(tots), "seg")
        .withColumn("bin", expr("((cum - cnt) * 10 div tot) + 1"))
        .groupBy("seg", "bin")
        .agg(sum(col("cnt")).as("n"),
          (min(col("cents")) / lit(100.0)).as("lo"),
          (max(col("cents")) / lit(100.0)).as("hi"))
        .orderBy("seg", "bin")
    },
      """WITH vals AS (
           SELECT c_mktsegment AS seg,
             cast(cast(c_acctbal AS decimal(18,2)) * 100 AS BIGINT) AS cents,
             count(*) AS cnt
           FROM customer GROUP BY 1, 2),
         binned AS (
           SELECT seg, cents, cnt,
             sum(cnt) OVER (PARTITION BY seg ORDER BY cents) AS cum,
             sum(cnt) OVER (PARTITION BY seg) AS tot
           FROM vals)
         SELECT seg, cast(((cum - cnt) * 10 // tot) + 1 AS BIGINT) AS bin,
           cast(sum(cnt) AS BIGINT) AS n,
           min(cents) / 100.0 AS lo, max(cents) / 100.0 AS hi
         FROM binned GROUP BY 1, 2 ORDER BY seg, bin"""),
    // A3 — moment statistics from exact integer power sums: l_quantity is
    // integer-valued, so sum and sum-of-squares are exact in double and the
    // variance formula is order-independent (stddev_samp's streaming M2
    // would not be reproducible across engines).
    QueryDef("q_agg_stats", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("s1"),
          sum(col("l_quantity") * col("l_quantity")).as("s2"))
        .select(col("l_returnflag"), col("n"),
          (col("s1") / col("n")).as("mean_qty"),
          // nullif guards the singleton-group case: sample variance of one
          // row is NULL (var_samp semantics), not an ANSI divide-by-zero
          ((col("s2") - col("s1") * col("s1") / col("n")) /
            nullif(col("n") - 1, lit(0))).as("var_qty"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag, n, s1 / n AS mean_qty,
         (s2 - s1 * s1 / n) / nullif(n - 1, 0) AS var_qty
         FROM (SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS s1,
               sum(l_quantity * l_quantity) AS s2
               FROM lineitem GROUP BY l_returnflag)
         ORDER BY l_returnflag"""),
    // A3 — correlation/covariance + boolean aggregates: native one-pass
    // co-moment aggregates, rounded so merge-order ulp noise cannot leak
    // into the oracle hash; count_if/bool_and/bool_or are exact.
    QueryDef("q_agg_corr", (s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2).as("covs_qp"),
          round(covar_pop(col("l_quantity"), col("l_extendedprice")), 2).as("covp_qp"),
          expr("bool_and(l_quantity > 0)").as("all_pos"),
          expr("bool_or(l_discount > 0.05)").as("any_disc"),
          expr("count_if(l_tax > 0.04)").as("n_taxed"))
        .orderBy("l_returnflag")
    },
      """SELECT l_returnflag,
         round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
         round(covar_samp(l_quantity, l_extendedprice), 2) AS covs_qp,
         round(covar_pop(l_quantity, l_extendedprice), 2) AS covp_qp,
         bool_and(l_quantity > 0) AS all_pos,
         bool_or(l_discount > 0.05) AS any_disc,
         cast(count_if(l_tax > 0.04) AS BIGINT) AS n_taxed
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""),
    // J3 — EXISTS / NOT IN subqueries: Catalyst decorrelates these into a
    // left-semi join and a null-aware left-anti join on the same scan.
    QueryDef("q_subquery", (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("v_sub_customer")
      t(s, dir, "orders").createOrReplaceTempView("v_sub_orders")
      s.sql("""
        SELECT c_custkey, c_name FROM v_sub_customer c
        WHERE EXISTS (SELECT 1 FROM v_sub_orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 400000)
          AND c_custkey NOT IN (SELECT o_custkey FROM v_sub_orders
                                WHERE o_orderstatus = 'F')
        ORDER BY c_custkey""")
    },
      """SELECT c_custkey, c_name FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_totalprice > 400000)
           AND c_custkey NOT IN (SELECT o_custkey FROM orders
                                 WHERE o_orderstatus = 'F')
         ORDER BY c_custkey"""),
    // J3+ — correlated scalar subqueries, decorrelated by Catalyst into
    // aggregate+join: customers above their nation's average balance. The
    // comparison cross-multiplies exact decimal sums (c*n > s ⟺ c > s/n)
    // so no engine ever divides — order-independent and oracle-exact.
    QueryDef("q_scalar_subquery", (s, dir) => {
      t(s, dir, "customer").createOrReplaceTempView("v_ssq_customer")
      s.sql("""
        SELECT c_custkey, c_nationkey FROM v_ssq_customer c
        WHERE cast(c_acctbal AS decimal(18,2)) *
              (SELECT count(*) FROM v_ssq_customer i
               WHERE i.c_nationkey = c.c_nationkey)
              > (SELECT sum(cast(c_acctbal AS decimal(18,2)))
                 FROM v_ssq_customer i
                 WHERE i.c_nationkey = c.c_nationkey)
        ORDER BY c_custkey""")
    },
      """SELECT c_custkey, c_nationkey FROM customer c
         WHERE cast(c_acctbal AS decimal(18,2)) *
               (SELECT count(*) FROM customer i
                WHERE i.c_nationkey = c.c_nationkey)
               > (SELECT sum(cast(c_acctbal AS decimal(18,2)))
                  FROM customer i WHERE i.c_nationkey = c.c_nationkey)
         ORDER BY c_custkey"""),
    // J4+ — null-safe equi-join (<=>): NULL keys match each other, unlike
    // plain equality which drops them silently.
    QueryDef("q_join_nullsafe", (s, dir) => {
      val a = t(s, dir, "orders")
        .select(col("o_orderkey"), expr("nullif(o_custkey % 50, 0)").as("k"))
      val b = t(s, dir, "nation")
        .select(expr("nullif(n_nationkey % 50, 0)").as("k"), col("n_name"))
      a.join(b, a("k") <=> b("k"))
        .groupBy(a("k").as("k")).agg(count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("k"))
    },
      """WITH a AS (SELECT o_orderkey, nullif(o_custkey % 50, 0) AS k
                    FROM orders),
              b AS (SELECT nullif(n_nationkey % 50, 0) AS k, n_name
                    FROM nation)
         SELECT a.k, count(*) AS n FROM a JOIN b
         ON a.k IS NOT DISTINCT FROM b.k
         GROUP BY a.k ORDER BY a.k NULLS FIRST"""),
    // Layout — compaction plan (Layout.compactionBins): sorted-fill bin
    // assignment of size-carrying items to ~target-byte output bins, per
    // source directory — the work list behind Layout.compact and the
    // small-file report that decides whether to run it. Window per group
    // + one hash aggregate over metadata-scale rows.
    QueryDef("q_compact_bins", (s, dir) => {
      graft.operators.Layout.compactionBins(
          t(s, dir, "documents")
            .select(col("source"), col("doc_id"), col("n_chars")),
          "source", "doc_id", "n_chars", targetBytes = 8192L)
        .orderBy("source", "bin")
    },
      """WITH pre AS (
           SELECT source, n_chars,
             coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p
           FROM documents)
         SELECT source, cast(p // 8192 AS BIGINT) AS bin,
           cast(count(*) AS BIGINT) AS n_files,
           cast(sum(n_chars) AS BIGINT) AS bytes
         FROM pre GROUP BY 1, 2 ORDER BY source, bin"""),
    // Layout — Morton z-values over (custkey, orderkey): the clustering key
    // for two-dimensional range pruning (Layout.zorderWrite sorts by it).
    QueryDef("q_zorder", (s, dir) => {
      t(s, dir, "orders")
        .select(col("o_orderkey"),
          graft.operators.Layout.zValue2(col("o_custkey"), col("o_orderkey"))
            .as("z"))
        .orderBy("z", "o_orderkey")
    },
      {
      // the same bit interleave, unrolled to portable SQL
      val zTerms = (0 until 16).flatMap(i => Seq(
        s"(((o_custkey >> $i) & 1) << ${2 * i})",
        s"(((o_orderkey >> $i) & 1) << ${2 * i + 1})")).mkString(" | ")
      s"SELECT o_orderkey, $zTerms AS z FROM orders ORDER BY z, o_orderkey"
    }),
    // Incremental — CDC-style upsert: a deterministic ~1/8 slice of orders
    // arrives as versioned changes (+10 on the price); latest version per
    // key wins. One shuffle on the key — the delta-refresh primitive.
    QueryDef("q_upsert", (s, dir) => {
      val price = dec2(col("o_totalprice"))
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), price.as("price"), lit(0).as("version"))
      val changes = t(s, dir, "orders")
        .filter(Sampling.keepHex(col("o_orderkey"), "cdc", "2000"))
        .select(col("o_orderkey"), (price + lit(10)).as("price"),
          lit(1).as("version"))
      Scale.upsert(base, changes, Seq("o_orderkey"), "version")
        .select(col("o_orderkey"), col("price").cast("double").as("price"),
          col("version"))
        .orderBy("o_orderkey")
    },
      """WITH base AS (
           SELECT o_orderkey, cast(o_totalprice AS decimal(18,2)) AS price,
             0 AS version FROM orders),
         changes AS (
           SELECT o_orderkey,
             cast(o_totalprice AS decimal(18,2)) + 10 AS price, 1 AS version
           FROM orders
           WHERE substring(md5(concat('cdc', '|',
                   cast(o_orderkey AS VARCHAR))), 1, 4) < '2000'),
         unioned AS (SELECT * FROM base UNION ALL SELECT * FROM changes)
         SELECT o_orderkey, cast(price AS double) AS price, version FROM (
           SELECT *, row_number() OVER (PARTITION BY o_orderkey
             ORDER BY version DESC) AS rn FROM unioned)
         WHERE rn = 1 ORDER BY o_orderkey"""),
    // Scale — CDC apply WITH tombstones: ~19% of keys get a versioned
    // change, roughly half of those a delete — the surviving table drops
    // deleted keys entirely and keeps the winning version elsewhere. The
    // md5-gated change/delete sets re-derive identically in the oracle.
    QueryDef("q_cdc_apply", (s, dir) => {
      val price = dec2(col("o_totalprice"))
      // spread BEFORE the md5-gated change derivation: both branches'
      // keepHex hashes (≈3 md5/row here) otherwise evaluate inside the
      // single-file scan task (measured: 6 tasks, 2.1 s at sf0.1). Both
      // branches share one subplan, so ReuseExchange ships the shuffle
      // once; at 100 TB the scan is already wide and this is a no-op.
      val orders = Scale.spreadForCompute(
        t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        col("o_orderkey"))
      val base = orders
        .select(col("o_orderkey"), price.as("price"), lit(0).as("version"))
      val changes = orders
        .filter(Sampling.keepHex(col("o_orderkey"), "cdc2", "3000"))
        .select(col("o_orderkey"), (price + lit(10)).as("price"),
          lit(1).as("version"),
          when(Sampling.keepHex(col("o_orderkey"), "cdcdel", "8000"),
            "D").otherwise("U").as("op"))
      Scale.applyCdc(base, changes, Seq("o_orderkey"), "version", "op")
        .select(col("o_orderkey"), col("price").cast("double").as("price"),
          col("version"))
        .orderBy("o_orderkey")
    },
      """WITH base AS (
           SELECT o_orderkey, cast(o_totalprice AS decimal(18,2)) AS price,
             0 AS version, 'U' AS op, 0 AS src FROM orders),
         changes AS (
           SELECT o_orderkey,
             cast(o_totalprice AS decimal(18,2)) + 10 AS price, 1 AS version,
             CASE WHEN substring(md5(concat('cdcdel', '|',
                    cast(o_orderkey AS VARCHAR))), 1, 4) < '8000'
                  THEN 'D' ELSE 'U' END AS op,
             1 AS src
           FROM orders
           WHERE substring(md5(concat('cdc2', '|',
                   cast(o_orderkey AS VARCHAR))), 1, 4) < '3000'),
         unioned AS (SELECT * FROM base UNION ALL SELECT * FROM changes)
         SELECT o_orderkey, cast(price AS double) AS price, version FROM (
           SELECT *, row_number() OVER (PARTITION BY o_orderkey
             ORDER BY version DESC, src DESC) AS rn FROM unioned)
         WHERE rn = 1 AND op <> 'D' ORDER BY o_orderkey"""),
    // Scale — snapshot diff, the inverse of CDC apply: derive the change
    // feed between two table versions with ONE full-outer join on the
    // key (payload compared null-safe inside the join; only keys + op
    // survive the exchange). Tomorrow's snapshot inserts keys %10==3,
    // deletes %10==7, rewrites the status of %10==1; '=' rows dropped.
    QueryDef("q_table_diff", (s, dir) => {
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      val snapA = orders.filter(col("o_orderkey") % 10 =!= 3)
      val snapB = orders.filter(col("o_orderkey") % 10 =!= 7)
        .withColumn("o_orderstatus",
          when(col("o_orderkey") % 10 === 1, "X")
            .otherwise(col("o_orderstatus")))
      Scale.snapshotDiff(snapA, snapB, Seq("o_orderkey"))
        .filter(col("op") =!= "=")
        .orderBy("o_orderkey")
    },
      """WITH a AS (
           SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
           FROM orders WHERE o_orderkey % 10 <> 3),
         b AS (
           SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 10 = 1 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             o_totalprice
           FROM orders WHERE o_orderkey % 10 <> 7)
         SELECT * FROM (
           SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
             CASE WHEN a.o_orderkey IS NULL THEN 'I'
                  WHEN b.o_orderkey IS NULL THEN 'D'
                  WHEN a.o_custkey IS DISTINCT FROM b.o_custkey
                    OR a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
                    OR a.o_totalprice IS DISTINCT FROM b.o_totalprice
                  THEN 'U' ELSE '=' END AS op
           FROM a FULL JOIN b ON a.o_orderkey = b.o_orderkey)
         WHERE op <> '=' ORDER BY o_orderkey"""),
    // Scale — skew diagnostic: top-20 heaviest join keys with corpus
    // share, the report that sizes saltedJoin's saltFactor. Heap-based
    // top-k (TakeOrderedAndProject), exact-int share division.
    QueryDef("q_skew_report", (s, dir) => {
      Scale.skewReport(t(s, dir, "lineitem"), "l_partkey", 20)
        .orderBy(col("n_rows").desc, col("l_partkey"))
    },
      """WITH c AS (SELECT l_partkey, cast(count(*) AS bigint) AS n_rows
                    FROM lineitem GROUP BY l_partkey),
         t AS (SELECT cast(sum(n_rows) AS bigint) AS tot FROM c)
         SELECT l_partkey, n_rows, cast(n_rows AS double) / tot AS share
         FROM c, t ORDER BY n_rows DESC, l_partkey LIMIT 20"""),
    // Schema — distributed column profiler: one scan+aggregate per table
    // instead of the reference's driver-side LIMIT probes.
    QueryDef("q_profile", (s, dir) => {
      Scale.profile(t(s, dir, "customer"),
        Seq("c_custkey", "c_name", "c_nationkey", "c_mktsegment"))
        .orderBy("column_name")
    },
      """SELECT * FROM (
           SELECT 'c_custkey' AS column_name, count(*) AS n_rows,
             count(c_custkey) AS n_nonnull,
             count(DISTINCT c_custkey) AS n_distinct,
             cast(min(c_custkey) AS VARCHAR) AS min_str,
             cast(max(c_custkey) AS VARCHAR) AS max_str FROM customer
           UNION ALL
           SELECT 'c_name', count(*), count(c_name), count(DISTINCT c_name),
             cast(min(c_name) AS VARCHAR), cast(max(c_name) AS VARCHAR)
           FROM customer
           UNION ALL
           SELECT 'c_nationkey', count(*), count(c_nationkey),
             count(DISTINCT c_nationkey),
             cast(min(c_nationkey) AS VARCHAR),
             cast(max(c_nationkey) AS VARCHAR) FROM customer
           UNION ALL
           SELECT 'c_mktsegment', count(*), count(c_mktsegment),
             count(DISTINCT c_mktsegment),
             cast(min(c_mktsegment) AS VARCHAR),
             cast(max(c_mktsegment) AS VARCHAR) FROM customer)
         ORDER BY column_name"""),
    // Scale — Deequ-style validation report: five row-level constraints,
    // an exact uniqueness check, and a referential-integrity probe over
    // orders→customer. All row-level checks fold into ONE aggregate pass;
    // RI is one anti join. Metrics are exact longs + one IEEE division.
    QueryDef("q_constraints", (s, dir) => {
      import Quality.RowCheck
      val orders = t(s, dir, "orders")
      val rep = Quality.report(orders, Seq(
        RowCheck("complete", "o_custkey", col("o_custkey").isNotNull),
        RowCheck("positive", "o_totalprice", col("o_totalprice") > 0),
        RowCheck("domain", "o_orderstatus",
          col("o_orderstatus").isin("O", "F", "P")),
        RowCheck("pattern", "o_orderpriority",
          col("o_orderpriority").rlike("^[1-5]-[A-Z ]+$")),
        RowCheck("range", "o_orderdate",
          col("o_orderdate").between("1995-01-01", "2001-12-31"))),
        uniqueCols = Seq("o_orderkey"))
      rep.unionByName(Quality.refIntegrity(
          orders, "o_custkey", t(s, dir, "customer"), "c_custkey"))
        .orderBy("constraint", "column")
    },
      """WITH a AS (
           SELECT cast(count(*) AS BIGINT) AS n,
             cast(coalesce(sum(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END), 0) AS BIGINT) AS f_complete,
             cast(coalesce(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END), 0) AS BIGINT) AS f_positive,
             cast(coalesce(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END), 0) AS BIGINT) AS f_domain,
             cast(coalesce(sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$') THEN 0 ELSE 1 END), 0) AS BIGINT) AS f_pattern,
             cast(coalesce(sum(CASE WHEN o_orderdate BETWEEN DATE '1995-01-01' AND DATE '2001-12-31' THEN 0 ELSE 1 END), 0) AS BIGINT) AS f_range,
             cast(count(DISTINCT o_orderkey) AS BIGINT) AS d_key
           FROM orders),
         ri AS (
           SELECT cast(count(*) AS BIGINT) AS orph FROM orders o
           LEFT JOIN customer c ON o.o_custkey = c.c_custkey
           WHERE c.c_custkey IS NULL),
         rep AS (
           SELECT 'complete' AS "constraint", 'o_custkey' AS "column", f_complete AS n_failed,
             CASE WHEN n = 0 THEN 1.0 ELSE cast(n - f_complete AS DOUBLE) / n END AS metric,
             f_complete = 0 AS passed FROM a
           UNION ALL SELECT 'positive', 'o_totalprice', f_positive,
             CASE WHEN n = 0 THEN 1.0 ELSE cast(n - f_positive AS DOUBLE) / n END, f_positive = 0 FROM a
           UNION ALL SELECT 'domain', 'o_orderstatus', f_domain,
             CASE WHEN n = 0 THEN 1.0 ELSE cast(n - f_domain AS DOUBLE) / n END, f_domain = 0 FROM a
           UNION ALL SELECT 'pattern', 'o_orderpriority', f_pattern,
             CASE WHEN n = 0 THEN 1.0 ELSE cast(n - f_pattern AS DOUBLE) / n END, f_pattern = 0 FROM a
           UNION ALL SELECT 'range', 'o_orderdate', f_range,
             CASE WHEN n = 0 THEN 1.0 ELSE cast(n - f_range AS DOUBLE) / n END, f_range = 0 FROM a
           UNION ALL SELECT 'unique', 'o_orderkey', n - d_key,
             CASE WHEN n = 0 THEN 1.0 ELSE cast(d_key AS DOUBLE) / n END, n - d_key = 0 FROM a
           UNION ALL SELECT 'ref_integrity', 'o_custkey', orph,
             CASE WHEN n = 0 THEN 1.0 ELSE cast(n - orph AS DOUBLE) / n END, orph = 0 FROM a, ri)
         SELECT * FROM rep ORDER BY "constraint", "column""""),
    // Scale — incremental summary maintenance: per-priority counts and
    // money sums kept as (pre-cutoff summary) + (delta batch), merged by
    // Scale.mergeCounts — the partial-aggregate shape that turns a 100 TB
    // recompute into a delta-sized job. The oracle recomputes from scratch;
    // decimal sums make merge ≡ recompute bit-for-bit.
    QueryDef("q_merge_counts", (s, dir) => {
      def slice(p: org.apache.spark.sql.Column) =
        t(s, dir, "orders").filter(p).groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum(dec2(col("o_totalprice"))).as("sum_price"))
      Scale.mergeCounts(
          slice(col("o_orderdate") < "2000-01-01"),
          slice(col("o_orderdate") >= "2000-01-01"),
          Seq("o_orderpriority"), "n", Seq("sum_price"))
        .select(col("o_orderpriority"), col("n"),
          col("sum_price").cast("double").as("sum_price"))
        .orderBy("o_orderpriority")
    },
      """SELECT o_orderpriority, cast(count(*) AS BIGINT) AS n,
         cast(sum(cast(o_totalprice AS decimal(18,2))) AS DOUBLE) AS sum_price
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    // A4 — full-row distinct (dropDuplicates over every column).
    QueryDef("q_distinct_rows", (s, dir) => {
      t(s, dir, "orders").select("o_custkey", "o_orderstatus").distinct()
        .orderBy("o_custkey", "o_orderstatus")
    },
      """SELECT DISTINCT o_custkey, o_orderstatus FROM orders
         ORDER BY o_custkey, o_orderstatus"""),
    // W1 — global sort (range-partitioned exchange, no single-node funnel).
    QueryDef("q_sort", (s, dir) => {
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
    },
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber"""),
    // W2 — top-k: planned as TakeOrderedAndProject, not a full sort.
    QueryDef("q_topk", (s, dir) => {
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    },
      """SELECT o_orderkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""),
    // W2b — per-GROUP top-k through the bounded typed Aggregator
    // (functions/TopKAgg.scala): the map-side partial aggregate is already
    // capped at k rows, so the shuffle carries O(k·groups·partitions) rows
    // where the window-rank plan would shuffle the full table. Same answer
    // as the rank formulation — that's the oracle.
    // A4/§2.10 — Misra-Gries frequent-items sketch (heavy hitters in
    // k=16 bounded counters, mergeable map-side — the "which keys are
    // hot" companion to CountMin's "how hot is this key"). The skewed
    // key derives in-query (the q_join_skew convention): geometric head
    // h0≈N/2, h1≈N/4, h2≈N/8 over a ~1000-key tail. MG's candidate set
    // depends on merge order, but its BOUNDS are theorems — every key
    // with true count > N/(k+1) must be present with
    // true−N/(k+1) ≤ est ≤ true — so the query emits the verdicts for
    // the exact top-3 keys (all far above the threshold), the HLL/GK
    // convention: deterministic under any partitioning, and the oracle
    // recomputes the exact side.
    QueryDef("q_freq_items", (s, dir) => {
      val kCounters = 16
      val freq = udaf(new graft.functions.FreqItemsAgg(kCounters))
      val keyed = t(s, dir, "lineitem").select(
        when(col("l_orderkey") % 2 === 0, lit("h0"))
          .when(col("l_orderkey") % 4 === 1, lit("h1"))
          .when(col("l_orderkey") % 8 === 3, lit("h2"))
          .otherwise(concat(lit("t"), (col("l_orderkey") % 997).cast("string")))
          .as("skey"))
      val sketch = keyed.agg(freq(col("skey")).as("sk"),
        count(lit(1)).as("__n"))
      val top3 = keyed.groupBy("skey").agg(count(lit(1)).as("true_n"))
        .orderBy(col("true_n").desc, col("skey")).limit(3)
      // try_element_at, not element_at: under ANSI mode (the Spark 4
      // default) element_at on a missing map key THROWS, so an absent
      // key must degrade to est=0 / present=false verdicts, not a crash
      val est = coalesce(try_element_at(col("sk"), col("skey")), lit(0L))
      top3.crossJoin(broadcast(sketch))
        .select(col("skey"), col("true_n"),
          map_contains_key(col("sk"), col("skey")).as("present"),
          (est <= col("true_n") &&
            est >= col("true_n") - floor(col("__n") / (kCounters + 1)))
            .as("within_bounds"))
        .orderBy("skey")
    },
    // MG bounds are theorems, so the oracle recomputes the exact side
    // and expects TRUE verdicts — the q_agg_approx convention.
      """WITH keyed AS (
           SELECT CASE WHEN l_orderkey % 2 = 0 THEN 'h0'
                       WHEN l_orderkey % 4 = 1 THEN 'h1'
                       WHEN l_orderkey % 8 = 3 THEN 'h2'
                       ELSE 't' || cast(l_orderkey % 997 AS VARCHAR) END AS skey
           FROM lineitem)
         SELECT skey, true_n, true AS present, true AS within_bounds
         FROM (SELECT skey, count(*) AS true_n FROM keyed GROUP BY skey
               ORDER BY true_n DESC, skey LIMIT 3)
         ORDER BY skey"""),
    QueryDef("q_topk_group", (s, dir) => {
      val topk = udaf(new graft.functions.TopKAgg(3))
      t(s, dir, "lineitem")
        .withColumn("rid", col("l_orderkey") * 10 + col("l_linenumber"))
        .groupBy("l_returnflag")
        .agg(topk(col("l_extendedprice"), col("rid")).as("top"))
        .select(col("l_returnflag"), posexplode(col("top")))
        .select(col("l_returnflag"), (col("pos") + 1).cast("long").as("rnk"),
          col("col._1").as("price"), col("col._2").as("rid"))
        .orderBy("l_returnflag", "rnk")
    },
      """SELECT l_returnflag, rnk, price, rid FROM (
           SELECT l_returnflag, l_extendedprice AS price,
             l_orderkey * 10 + l_linenumber AS rid,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC,
                 l_orderkey * 10 + l_linenumber DESC) AS rnk
           FROM lineitem)
         WHERE rnk <= 3 ORDER BY l_returnflag, rnk"""),
    // W3 — ranking windows: top-5 customers by balance per nation.
    QueryDef("q_window_rank", (s, dir) => {
      val byBalTie = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      val byBal = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal").desc)
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
          row_number().over(byBalTie).cast("long").as("rn"),
          rank().over(byBal).cast("long").as("rnk"),
          dense_rank().over(byBal).cast("long").as("drnk"))
        .filter(col("rn") <= 5)
        .orderBy("c_nationkey", "rn")
    },
      """SELECT c_custkey, c_nationkey, c_acctbal, rn, rnk, drnk FROM (
           SELECT c_custkey, c_nationkey, c_acctbal,
             row_number() OVER (PARTITION BY c_nationkey
               ORDER BY c_acctbal DESC, c_custkey) AS rn,
             rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS rnk,
             dense_rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS drnk
           FROM customer)
         WHERE rn <= 5 ORDER BY c_nationkey, rn"""),
    // W3 — distribution window functions: percent_rank and cume_dist per
    // nation. Deliberately UNROUNDED: each value is one IEEE division of
    // the same integers in either engine, hence bit-identical — while
    // round(x, 6) would hit decimal ties (41/640 = 0.0640625) that
    // HALF_UP and round-on-binary settle differently.
    QueryDef("q_window_dist", (s, dir) => {
      val byBal = Window.partitionBy("c_nationkey").orderBy(col("c_acctbal").desc)
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          percent_rank().over(byBal).as("pr"),
          cume_dist().over(byBal).as("cd"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_nationkey,
         percent_rank() OVER (PARTITION BY c_nationkey
           ORDER BY c_acctbal DESC) AS pr,
         cume_dist() OVER (PARTITION BY c_nationkey
           ORDER BY c_acctbal DESC) AS cd
         FROM customer ORDER BY c_custkey"""),
    // W4 — analytic window with an explicit frame: running spend + lag.
    QueryDef("q_window_frame", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec2(col("o_totalprice")))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_spend"),
          lag(col("o_totalprice"), 1).over(w).as("prev_price"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
         cast(sum(cast(o_totalprice AS decimal(18,2))) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS double) AS running_spend,
         lag(o_totalprice, 1) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price
         FROM orders ORDER BY o_custkey, o_orderkey"""),
    // W3 — distribution window functions: quartiles and relative position.
    QueryDef("q_window_ntile", (s, dir) => {
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy("c_nationkey", "c_acctbal", "c_custkey")
    },
      """SELECT c_custkey, c_nationkey, c_acctbal,
         cast(ntile(4) OVER w AS bigint) AS quartile,
         percent_rank() OVER w AS pct_rank,
         cume_dist() OVER w AS cume
         FROM customer
         WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
         ORDER BY c_nationkey, c_acctbal, c_custkey"""),
    // W4 — navigation window functions: next / first / nth value over the
    // per-customer order history (unique ordering, so ROWS ≡ RANGE frame).
    QueryDef("q_window_nav", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          first(col("o_totalprice")).over(w).as("first_price"),
          nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
        .orderBy("o_custkey", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey,
         lead(o_totalprice, 1) OVER w AS next_price,
         first_value(o_totalprice) OVER w AS first_price,
         nth_value(o_totalprice, 2) OVER w AS second_price
         FROM orders
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         ORDER BY o_custkey, o_orderkey"""),
    // W4 — RANGE frame: orders placed within the 30 days before each order
    // (value-based frame, not row-count-based).
    QueryDef("q_window_range", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_day"))
        .rangeBetween(-30, 0)
      t(s, dir, "orders")
        .withColumn("o_day", datediff(col("o_orderdate"),
          lit("1990-01-01").cast("date")).cast("long"))
        .select(col("o_custkey"), col("o_orderkey"), col("o_day"),
          count(lit(1)).over(w).as("orders_in_30d"))
        .orderBy("o_custkey", "o_day", "o_orderkey")
    },
      """SELECT o_custkey, o_orderkey, o_day,
         count(*) OVER (PARTITION BY o_custkey ORDER BY o_day
           RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS orders_in_30d
         FROM (SELECT o_custkey, o_orderkey,
               datediff('day', DATE '1990-01-01', cast(o_orderdate AS date)) AS o_day
               FROM orders)
         ORDER BY o_custkey, o_day, o_orderkey"""),
    // A5 — grouping_id distinguishes aggregation levels in a rollup.
    QueryDef("q_grouping_id", (s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("gid"), col("n"))
        .orderBy("gid", "rf", "ls")
    },
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
         coalesce(l_linestatus, 'ALL') AS ls,
         grouping(l_returnflag, l_linestatus) AS gid, count(*) AS n
         FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
         ORDER BY gid, rf, ls"""),
    // W5 — set operations over nation keys of customers vs suppliers.
    QueryDef("q_setops", (s, dir) => {
      val cn = t(s, dir, "customer").select(col("c_nationkey").as("nkey")).distinct()
      val sn = t(s, dir, "supplier").select(col("s_nationkey").as("nkey")).distinct()
      cn.intersect(sn).withColumn("op", lit("intersect"))
        .union(cn.except(sn).withColumn("op", lit("except")))
        .union(cn.union(sn).distinct().withColumn("op", lit("union")))
        .orderBy("op", "nkey")
    },
      """SELECT nkey, 'intersect' AS op FROM
           (SELECT DISTINCT c_nationkey AS nkey FROM customer
            INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
         UNION ALL
         SELECT nkey, 'except' AS op FROM
           (SELECT DISTINCT c_nationkey AS nkey FROM customer
            EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
         UNION ALL
         SELECT nkey, 'union' AS op FROM
           (SELECT DISTINCT c_nationkey AS nkey FROM customer
            UNION SELECT DISTINCT s_nationkey FROM supplier)
         ORDER BY op, nkey"""),
    // GDPR Article-15 subject-access export: for a requested subject set,
    // how many rows each table holds about them — the right-to-ACCESS
    // twin of the erasure primitive (q_cdc_apply) and the discovery step
    // every anonymization run starts from (which tables even mention the
    // subject?). The subject set is tiny by definition, so every probe is
    // a broadcast join against a full scan — no large-side shuffle; per
    // table ONE hash aggregate on the subject key. lineitem has no
    // customer key, so its count rides through orders (broadcast of the
    // already-filtered orders keys).
    QueryDef("q_subject_export", (s, dir) => {
      val subjects = t(s, dir, "customer")
        .filter(col("c_custkey") <= 5).select(col("c_custkey").as("subject"))
      val nOrders = t(s, dir, "orders")
        .join(broadcast(subjects), col("o_custkey") === col("subject"))
        .groupBy("subject").agg(count(lit(1)).as("n_orders"))
      val nLines = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "orders")
            .join(broadcast(subjects), col("o_custkey") === col("subject"))
            .select(col("o_orderkey"), col("subject"))),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("subject").agg(count(lit(1)).as("n_lineitem"))
      subjects
        .join(nOrders, Seq("subject"), "left")
        .join(nLines, Seq("subject"), "left")
        .select(col("subject"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("n_lineitem"), lit(0L)).as("n_lineitem"))
        .orderBy("subject")
    },
      """WITH subjects AS (
           SELECT c_custkey AS subject FROM customer WHERE c_custkey <= 5),
         no AS (
           SELECT subject, count(*) AS n_orders
           FROM orders JOIN subjects ON o_custkey = subject
           GROUP BY subject),
         nl AS (
           SELECT subject, count(*) AS n_lineitem
           FROM lineitem
           JOIN (SELECT o_orderkey, subject
                 FROM orders JOIN subjects ON o_custkey = subject) o
             ON l_orderkey = o_orderkey
           GROUP BY subject)
         SELECT s.subject,
           coalesce(no.n_orders, 0) AS n_orders,
           coalesce(nl.n_lineitem, 0) AS n_lineitem
         FROM subjects s
         LEFT JOIN no ON no.subject = s.subject
         LEFT JOIN nl ON nl.subject = s.subject
         ORDER BY s.subject"""))
}
