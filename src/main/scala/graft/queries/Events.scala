package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Time-series queries over the `events` table (SURVEY §2.8 T1-T3) — batch
 * plans here so DuckDB can oracle them; the same plans run under
 * `readStream` in graft.streaming.Streams (T4-T5, test-asserted).
 *
 * The raw parquet carries TIMESTAMP_NANOS, surfaced as nanos-longs
 * (see Q.t); window starts are output as epoch seconds, computed with
 * exact integer arithmetic on both engines.
 *
 * Scale notes: tumbling/sliding windows are plain hash aggregates keyed on
 * (bucket, type) — they shuffle once and parallelize by key; sessionization
 * is a window function partitioned by user — the 100 TB path relies on
 * user_id partitioning, not any global ordering.
 */
object Events {
  import Q._

  /** The attribution queries' touches: every view/click inside the hour
    * before its user's NEXT purchase, that purchase in `__cv` (t, e, c =
    * its value in cents) — q_attribution's one-window conversion lookup. */
  private def purchaseTouches(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val horizonNs = 3600000000000L // 1 hour in nanos
    val wDesc = Window.partitionBy("user_id")
      .orderBy(col("ts").desc, col("event_id").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), (dec2(col("value")) * 100).cast("long").as("__c"))
      .withColumn("__cv", last(
        when(col("event_type") === "purchase",
          struct(col("ts").as("t"), col("event_id").as("e"),
            col("__c").as("c"))), ignoreNulls = true).over(wDesc))
      .filter(col("event_type").isin("view", "click") &&
        col("__cv").isNotNull &&
        col("__cv.t") - col("ts") <= horizonNs)
  }

  /** Per-channel touch count and attributed value from integer
    * micro-cent credits `__micro`. */
  private def creditByChannel(credits: DataFrame): DataFrame =
    credits.groupBy("channel")
      .agg(count(lit(1)).as("n_touches"), sum(col("__micro")).as("__m"))
      .select(col("channel"), col("n_touches"),
        round(col("__m").cast("double") / 1e8, 6).as("attributed"))
      .orderBy("channel")

  val defs: Seq[QueryDef] = Seq(
    // T1 — 5-minute tumbling window per event type (native window()).
    QueryDef("q_stream_tumbling", (s, dir) => {
      t(s, dir, "events")
        .groupBy(window(tsCol("ts"), "5 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(dec2(col("value"))).cast("double").as("sum_value"))
        .select(col("w.start").cast("long").as("bucket_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("bucket_start", "event_type")
    },
      """SELECT (epoch_ns(ts) // 300000000000) * 300 AS bucket_start,
         event_type, count(*) AS n_events,
         cast(sum(cast(value AS decimal(18,2))) AS double) AS sum_value
         FROM events GROUP BY 1, 2 ORDER BY bucket_start, event_type"""),
    // T2 — 10-minute window sliding every 5 minutes (each event lands in
    // exactly two windows).
    QueryDef("q_stream_sliding", (s, dir) => {
      t(s, dir, "events")
        .groupBy(window(tsCol("ts"), "10 minutes", "5 minutes").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("w.start").cast("long").as("bucket_start"),
          col("event_type"), col("n_events"))
        .orderBy("bucket_start", "event_type")
    },
      """SELECT bucket_start, event_type, count(*) AS n_events FROM (
           SELECT (epoch_ns(ts) // 300000000000) * 300 AS bucket_start,
                  event_type FROM events
           UNION ALL
           SELECT (epoch_ns(ts) // 300000000000) * 300 - 300, event_type
           FROM events)
         GROUP BY 1, 2 ORDER BY bucket_start, event_type"""),
    // Funnel — ordered milestone progression per user (view → click →
    // purchase, each strictly after the previous stage's first hit).
    // Three hash aggregates keyed on user_id + two co-partitioned joins:
    // no windows over global order, so the 100 TB path shuffles on
    // user_id only. Timestamps compare as raw nanos-longs (exact).
    QueryDef("q_funnel", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      // tv and tc each feed two consumers (their stage count + the next
      // stage's join): persisted so each stage scans events exactly once.
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val tv = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("tv")).persist(lvl)
      val tc = ev.filter(col("event_type") === "click").join(tv, "user_id")
        .filter(col("ts") > col("tv"))
        .groupBy("user_id").agg(min("ts").as("tc")).persist(lvl)
      val tp = ev.filter(col("event_type") === "purchase").join(tc, "user_id")
        .filter(col("ts") > col("tc"))
        .groupBy("user_id").agg(min("ts").as("tp"))
      tv.agg(count(lit(1)).as("n_users")).select(lit("1_view").as("stage"), col("n_users"))
        .unionByName(tc.agg(count(lit(1)).as("n_users"))
          .select(lit("2_click").as("stage"), col("n_users")))
        .unionByName(tp.agg(count(lit(1)).as("n_users"))
          .select(lit("3_purchase").as("stage"), col("n_users")))
        .orderBy("stage")
    },
      """WITH tv AS (
           SELECT user_id, min(epoch_ns(ts)) AS t FROM events
           WHERE event_type = 'view' GROUP BY 1),
         tc AS (
           SELECT e.user_id, min(epoch_ns(e.ts)) AS t FROM events e
           JOIN tv ON e.user_id = tv.user_id
           WHERE e.event_type = 'click' AND epoch_ns(e.ts) > tv.t GROUP BY 1),
         tp AS (
           SELECT e.user_id, min(epoch_ns(e.ts)) AS t FROM events e
           JOIN tc ON e.user_id = tc.user_id
           WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > tc.t GROUP BY 1)
         SELECT stage, n_users FROM (
           SELECT '1_view' AS stage, count(*) AS n_users FROM tv
           UNION ALL SELECT '2_click', count(*) FROM tc
           UNION ALL SELECT '3_purchase', count(*) FROM tp)
         ORDER BY stage"""),
    // W-extra — unpivot (melt): the wide per-type value-band counts fold
    // back to long format — the inverse of q_pivot, via Dataset.unpivot.
    QueryDef("q_unpivot", (s, dir) => {
      val wide = t(s, dir, "events")
        .groupBy("event_type")
        .agg(expr("count_if(value < 10)").as("low"),
          expr("count_if(value >= 10 AND value < 100)").as("mid"),
          expr("count_if(value >= 100)").as("high"))
      wide.unpivot(Array(col("event_type")),
          Array(col("low"), col("mid"), col("high")), "band", "n")
        .orderBy("event_type", "band")
    },
      """SELECT event_type, band, n FROM (
           SELECT event_type, 'low' AS band,
             cast(count_if(value < 10) AS bigint) AS n
           FROM events GROUP BY 1
           UNION ALL
           SELECT event_type, 'mid',
             cast(count_if(value >= 10 AND value < 100) AS bigint)
           FROM events GROUP BY 1
           UNION ALL
           SELECT event_type, 'high',
             cast(count_if(value >= 100) AS bigint)
           FROM events GROUP BY 1)
         ORDER BY event_type, band"""),
    // Gap-filling: a generated 5-minute scaffold between the observed
    // bounds left-joins the sparse purchase counts, so every bucket
    // appears (0 when silent). The scaffold derives from a one-row bounds
    // aggregate; at 100 TB you'd widen it by generating per-range slices
    // distributed, but its size is (hi-lo)/step regardless of input rows.
    QueryDef("q_gapfill", (s, dir) => {
      val b = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(expr("((ts div 1000000000) div 300) * 300").as("bucket"))
        .agg(count(lit(1)).as("n"))
      val scaffold = b.agg(min("bucket").as("lo"), max("bucket").as("hi"))
        .select(explode(sequence(col("lo"), col("hi"), lit(300))).as("bucket"))
      scaffold.join(b, Seq("bucket"), "left")
        .select(col("bucket"), coalesce(col("n"), lit(0L)).as("n"))
        .orderBy("bucket")
    },
      """WITH b AS (
           SELECT (epoch_ns(ts) // 1000000000 // 300) * 300 AS bucket,
             count(*) AS n
           FROM events WHERE event_type = 'purchase' GROUP BY 1),
         bounds AS (SELECT min(bucket) AS lo, max(bucket) AS hi FROM b),
         scaffold AS (
           SELECT unnest(generate_series(lo, hi, 300)) AS bucket FROM bounds)
         SELECT s.bucket, cast(coalesce(n, 0) AS bigint) AS n
         FROM scaffold s LEFT JOIN b USING (bucket)
         ORDER BY bucket"""),
    // Cohort retention matrix: users grouped by the epoch-week of their
    // first event × the weeks they were active; exact integer week
    // arithmetic on the nanos-long, so any engine reproduces the buckets.
    // Two hash aggregates + one co-partitioned join on user_id.
    QueryDef("q_cohort", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"),
          expr("(ts div 1000000000) div 604800").as("week"))
      val first = ev.groupBy("user_id").agg(min("week").as("cohort_week"))
      ev.distinct().join(first, "user_id")
        .groupBy("cohort_week", "week")
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort_week", "week")
    },
      """WITH ev AS (
           SELECT user_id,
             (epoch_ns(ts) // 1000000000) // 604800 AS week FROM events),
         first AS (
           SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY 1)
         SELECT cohort_week, week, count(DISTINCT e.user_id) AS n_users
         FROM (SELECT DISTINCT user_id, week FROM ev) e
         JOIN first USING (user_id)
         GROUP BY 1, 2 ORDER BY cohort_week, week"""),
    // Value histogram: fixed-width buckets per event type (exact integer
    // bucket index — a distribution profile in one hash aggregate).
    QueryDef("q_histogram", (s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          floor(col("value") / 50.0).cast("long").as("bucket"))
        .groupBy("event_type", "bucket").agg(count(lit(1)).as("n"))
        .orderBy("event_type", "bucket")
    },
      """SELECT event_type, cast(floor(value / 50.0) AS bigint) AS bucket,
         count(*) AS n FROM events
         GROUP BY 1, 2 ORDER BY event_type, bucket"""),
    // Observability — seasonal anomaly detection, the time-series twin of
    // q_outlier_mad: cells are (event_type, day, hour) counts; each cell
    // compares against the mean count of its (event_type, hour-of-day)
    // SLOT across days — so a spike at 3am stands out against other 3am
    // cells, not against the daily peak. The verdict is computed WITHOUT
    // division: n·slot_cells > 2·slot_sum (anomaly ⇔ count > 2× slot
    // mean), pure long cross-multiplication, exact in any engine. Shape:
    // one hash aggregate to cells, one to slots (≤ types×24 rows,
    // broadcast back) — no windows over global order, so the 100 TB path
    // is two map-side-combining shuffles + a broadcast join. Day/hour come
    // from exact integer division of the raw nanos (UTC).
    QueryDef("q_anomaly", (s, dir) => {
      val cells = t(s, dir, "events")
        .select(col("event_type"),
          expr("ts div 86400000000000").as("day"),
          expr("(ts % 86400000000000) div 3600000000000").as("hour"))
        .groupBy("event_type", "day", "hour").agg(count(lit(1)).as("n"))
      graft.operators.Quality.seasonalAnomalyFromCells(cells)
        .orderBy("event_type", "day", "hour")
    },
      """WITH cells AS (
           SELECT event_type,
             epoch_ns(ts) // 86400000000000 AS day,
             (epoch_ns(ts) % 86400000000000) // 3600000000000 AS hour,
             count(*) AS n
           FROM events GROUP BY 1, 2, 3),
         slots AS (
           SELECT event_type, hour, count(*) AS slot_cells,
             sum(n) AS slot_sum
           FROM cells GROUP BY 1, 2)
         SELECT c.event_type, c.day, c.hour, c.n,
           c.n * s.slot_cells > 2 * s.slot_sum AS is_anomaly
         FROM cells c JOIN slots s
           ON c.event_type = s.event_type AND c.hour = s.hour
         ORDER BY c.event_type, c.day, c.hour"""),
    // Cleaning — percentile winsorization audit: per event type, the
    // p5/p95 clip bounds (exact percentile interpolation over cents-longs
    // — identical IEEE doubles in any engine, the q_agg_percentile
    // property) and how many rows each tail would clip. One aggregate for
    // the bounds (map-side partials), broadcast back, one counting
    // aggregate — no window, no global sort; the 100 TB path shuffles
    // twice on the (tiny) type key. The clip COUNTS are exact longs; the
    // bounds are rounded to 6dp like every interpolated output.
    QueryDef("q_winsorize", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_type"),
          (dec2(col("value")) * 100).cast("long").as("cents"))
      val bounds = ev.groupBy("event_type")
        .agg(expr("percentile(cents, 0.05)").as("p05"),
          expr("percentile(cents, 0.95)").as("p95"))
      ev.join(broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          count(when(col("cents") < col("p05"), 1)).as("n_lo"),
          count(when(col("cents") > col("p95"), 1)).as("n_hi"),
          round(max(col("p05")) / 100.0, 6).as("clip_lo"),
          round(max(col("p95")) / 100.0, 6).as("clip_hi"))
        .orderBy("event_type")
    },
      """WITH ev AS (
           SELECT event_type,
             cast(cast(value AS decimal(18,2)) * 100 AS BIGINT) AS cents
           FROM events),
         bounds AS (
           SELECT event_type,
             percentile_cont(0.05) WITHIN GROUP (ORDER BY cents) AS p05,
             percentile_cont(0.95) WITHIN GROUP (ORDER BY cents) AS p95
           FROM ev GROUP BY event_type)
         SELECT ev.event_type, count(*) AS n,
           count(*) FILTER (WHERE cents < p05) AS n_lo,
           count(*) FILTER (WHERE cents > p95) AS n_hi,
           round(max(p05) / 100.0, 6) AS clip_lo,
           round(max(p95) / 100.0, 6) AS clip_hi
         FROM ev JOIN bounds ON ev.event_type = bounds.event_type
         GROUP BY ev.event_type ORDER BY ev.event_type"""),
    // Preflight — join-explosion diagnostic: the top-10 key-degree
    // PRODUCTS for a planned events⋈orders join on the customer key. A
    // shuffled join's output is Σ d_left(k)·d_right(k); its hot keys are
    // exactly these products, so this one cheap query (two map-side-
    // combining degree aggregates + a broadcast-able top-k) decides
    // between a plain join, a salted join (q_join_skew), or a key-split
    // BEFORE burning a 100 TB shuffle. Complements q_skew_report (single-
    // table degrees).
    QueryDef("q_join_degree", (s, dir) => {
      val dl = t(s, dir, "events").groupBy(col("user_id").as("key"))
        .agg(count(lit(1)).as("d_events"))
      val dr = t(s, dir, "orders").groupBy(col("o_custkey").as("key"))
        .agg(count(lit(1)).as("d_orders"))
      dl.join(dr, "key")
        .select(col("key"), col("d_events"), col("d_orders"),
          (col("d_events") * col("d_orders")).as("pairs"))
        .orderBy(col("pairs").desc, col("key")).limit(10)
    },
      """WITH dl AS (
           SELECT user_id AS key, count(*) AS d_events
           FROM events GROUP BY 1),
         dr AS (
           SELECT o_custkey AS key, count(*) AS d_orders
           FROM orders GROUP BY 1)
         SELECT dl.key, d_events, d_orders,
           d_events * d_orders AS pairs
         FROM dl JOIN dr ON dl.key = dr.key
         ORDER BY pairs DESC, dl.key LIMIT 10"""),
    // T3 — 30-minute-gap session windows per user. A session's end extends
    // with each event; a new one opens when the gap from the last event is
    // >= 30 minutes (session_window semantics).
    QueryDef("q_sessionize", (s, dir) => {
      t(s, dir, "events")
        .groupBy(session_window(tsCol("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("event_id")).as("first_event"))
        .select(col("user_id"), col("w.start").cast("long").as("session_start"),
          col("n_events"), col("first_event"))
        .orderBy("user_id", "session_start")
    },
      """WITH flagged AS (
           SELECT user_id, event_id, epoch_ns(ts) AS tns,
             CASE WHEN lag(epoch_ns(ts)) OVER w IS NULL THEN 1
                  WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER w
                       >= 1800000000000 THEN 1
                  ELSE 0 END AS new_session
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         numbered AS (
           SELECT user_id, event_id, tns,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY tns, event_id
               ROWS UNBOUNDED PRECEDING) AS sid
           FROM flagged)
         SELECT user_id, min(tns) // 1000000000 AS session_start,
           count(*) AS n_events, min(event_id) AS first_event
         FROM numbered GROUP BY user_id, sid
         ORDER BY user_id, session_start"""),
    // W4-extension — rolling 7-row per-user average (ts order, event_id
    // tiebreak). Decimal-cast per-row values make the frame sum exact and
    // shuffle-order-independent; the final divide is a single IEEE op on
    // identical operands in both engines. Scale: partitioned by user_id —
    // no global sort, the 100 TB path shuffles once on the user key.
    QueryDef("q_rolling", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-6, Window.currentRow)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).as("n_win"),
          (sum(dec2(col("value"))).over(w).cast("double") /
            count(lit(1)).over(w)).as("roll_avg"))
        .orderBy("user_id", "event_id")
    },
      """SELECT user_id, event_id, count(*) OVER w AS n_win,
         cast(sum(cast(value AS decimal(18,2))) OVER w AS DOUBLE)
           / (count(*) OVER w) AS roll_avg
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
         ORDER BY user_id, event_id"""),
    // W4-extension — exponentially-weighted moving value per user, exact:
    // α = ½ over the last 8 events (zero-padded), so the weights are the
    // dyadic 128/256 … 1/256. Values become exact cents (decimal cast →
    // long), the weighted numerator is an exact long dot product of 8
    // lags, and ONE final division by 25600.0 yields a bit-portable
    // double. Same scale shape as q_rolling: one shuffle on user_id, no
    // global order.
    // Graph — fixed-point PageRank over the event-type transition graph
    // (edges = consecutive-event pairs per user, weighted by frequency).
    // All-integer arithmetic (decimal(38,0) products, integral division,
    // exact teleport) → bit-identical ranks across engines, partitionings
    // and re-runs; 3 synchronous iterations, each ONE rank⋈edges join +
    // ONE aggregate on dst — the canonical distributed PR shape.
    QueryDef("q_pagerank", (s, dir) => {
      val edges = graft.operators.Graph.transitionEdges(
        t(s, dir, "events"), "user_id", "event_type",
        Seq(col("ts"), col("event_id")))
      graft.operators.Graph.pageRank(edges, 3)
        .select(col("node").as("event_type"), col("rank"))
        .orderBy("event_type")
    },
      """WITH seq AS (
           SELECT event_type,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev
           FROM events),
         edges AS (
           SELECT prev AS src, event_type AS dst,
             cast(count(*) AS BIGINT) AS w
           FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2),
         outw AS (SELECT src, cast(sum(w) AS BIGINT) AS outw
           FROM edges GROUP BY 1),
         nodes AS (SELECT src AS node FROM edges
           UNION SELECT dst FROM edges),
         r0 AS (SELECT node, cast(1000000000000 AS BIGINT) AS rank
           FROM nodes),
         c1 AS (
           SELECT e.dst AS node, cast(sum(
             (r.rank::HUGEINT * 85 * e.w) // (100 * o.outw::HUGEINT)
             ) AS BIGINT) AS s
           FROM edges e JOIN outw o ON e.src = o.src
             JOIN r0 r ON r.node = e.src GROUP BY 1),
         r1 AS (SELECT n.node,
             cast(150000000000 + coalesce(c1.s, 0) AS BIGINT) AS rank
           FROM nodes n LEFT JOIN c1 ON n.node = c1.node),
         c2 AS (
           SELECT e.dst AS node, cast(sum(
             (r.rank::HUGEINT * 85 * e.w) // (100 * o.outw::HUGEINT)
             ) AS BIGINT) AS s
           FROM edges e JOIN outw o ON e.src = o.src
             JOIN r1 r ON r.node = e.src GROUP BY 1),
         r2 AS (SELECT n.node,
             cast(150000000000 + coalesce(c2.s, 0) AS BIGINT) AS rank
           FROM nodes n LEFT JOIN c2 ON n.node = c2.node),
         c3 AS (
           SELECT e.dst AS node, cast(sum(
             (r.rank::HUGEINT * 85 * e.w) // (100 * o.outw::HUGEINT)
             ) AS BIGINT) AS s
           FROM edges e JOIN outw o ON e.src = o.src
             JOIN r2 r ON r.node = e.src GROUP BY 1)
         SELECT n.node AS event_type,
           cast(150000000000 + coalesce(c3.s, 0) AS BIGINT) AS rank
         FROM nodes n LEFT JOIN c3 ON n.node = c3.node
         ORDER BY event_type"""),
    QueryDef("q_ewma", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val cents = (dec2(col("value")) * 100).cast("long")
      val num = (0 until 8).map { i =>
        val x = if (i == 0) cents else lag(cents, i).over(w)
        coalesce(x, lit(0L)) * lit(1L << (7 - i))
      }.reduce(_ + _)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          (num / lit(25600.0)).as("ewma"))
        .orderBy("user_id", "event_id")
    },
      """WITH e AS (
           SELECT user_id, event_id, ts,
             cast(cast(value AS decimal(18,2)) * 100 AS BIGINT) AS cents
           FROM events)
         SELECT user_id, event_id,
           (cents * 128
            + coalesce(lag(cents, 1) OVER w, 0) * 64
            + coalesce(lag(cents, 2) OVER w, 0) * 32
            + coalesce(lag(cents, 3) OVER w, 0) * 16
            + coalesce(lag(cents, 4) OVER w, 0) * 8
            + coalesce(lag(cents, 5) OVER w, 0) * 4
            + coalesce(lag(cents, 6) OVER w, 0) * 2
            + coalesce(lag(cents, 7) OVER w, 0)) :: DOUBLE / 25600 AS ewma
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
         ORDER BY user_id, event_id"""),
    // SCD Type-2 history build: collapse each user's event stream into
    // state-change intervals (state = event_type), the
    // slowly-changing-dimension shape every warehouse keeps for
    // point-in-time joins. Gaps-and-islands: keep rows where the state
    // differs from its predecessor, then valid_to = the NEXT kept row's
    // timestamp (lead over the filtered set), NULL marking the current
    // version. Both windows share one partitioning (user_id) and one
    // ordering, so Spark shuffles once and reuses the sort — per-user
    // work, no global order, the 100 TB shape.
    QueryDef("q_scd2", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val changed = t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type").as("state"),
          lag(col("event_type"), 1).over(w).as("__prev"))
        .filter(col("__prev").isNull || col("__prev") =!= col("state"))
      changed
        .select(col("user_id"), col("state"),
          row_number().over(w).as("version"),
          // micros, not nanos: DuckDB reads parquet TIMESTAMP_NANOS at
          // microsecond precision, so sub-µs digits can't oracle-check.
          // `div` keeps the conversion exact (see Q.tsCol).
          expr("ts div 1000").as("valid_from_us"),
          expr("lead(ts div 1000, 1) OVER (PARTITION BY user_id " +
            "ORDER BY ts, event_id)").as("valid_to_us"))
        .withColumn("is_current", col("valid_to_us").isNull)
        .orderBy("user_id", "version")
    },
      """WITH changed AS (
           SELECT user_id, event_id, epoch_ns(ts) AS tns,
             event_type AS state,
             lag(event_type) OVER w AS prev
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         kept AS (
           SELECT user_id, event_id, tns, state FROM changed
           WHERE prev IS NULL OR prev <> state)
         SELECT user_id, state,
           row_number() OVER w2 AS version,
           tns // 1000 AS valid_from_us,
           lead(tns // 1000) OVER w2 AS valid_to_us,
           lead(tns) OVER w2 IS NULL AS is_current
         FROM kept
         WINDOW w2 AS (PARTITION BY user_id ORDER BY tns, event_id)
         ORDER BY user_id, version"""),
    // Triangle enumeration on the event-transition graph: which triples of
    // event types mutually precede one another — the graph-analytics
    // staple (clustering coefficient, community seeds). Edges are the
    // distinct consecutive-type transitions; see Graph.triangles for the
    // wedge-join shape and the degree-orientation scale note.
    QueryDef("q_triangles", (s, dir) => {
      val edges = graft.operators.Graph.transitionEdges(
        t(s, dir, "events"), "user_id", "event_type",
        Seq(col("ts"), col("event_id")))
      graft.operators.Graph.triangles(edges)
        .orderBy("a", "b", "c")
    },
      """WITH seq AS (
           SELECT event_type AS dst,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS src
           FROM events),
         und AS (
           SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM seq WHERE src IS NOT NULL AND least(src, dst) <> greatest(src, dst)),
         wedge AS (
           SELECT e1.a, e1.b, e2.b AS c
           FROM und e1 JOIN und e2 ON e1.a = e2.a AND e1.b < e2.b)
         SELECT w.a, w.b, w.c FROM wedge w
         WHERE EXISTS (SELECT 1 FROM und u WHERE u.a = w.b AND u.b = w.c)
         ORDER BY a, b, c"""),
    // Bounded-radius harmonic centrality on the same transition graph —
    // the Common Crawl host-ranking signal (Boldi & Vigna 2014), radius 3,
    // exact lcm-scaled integers (h_scaled = 6n1 + 3n2 + 2n3) so ranks are
    // bit-portable. Three reverse-BFS rounds, each one frontier⋈edges join
    // + distinct + visited anti-join, all keyed on the node.
    QueryDef("q_harmonic", (s, dir) => {
      val edges = graft.operators.Graph.transitionEdges(
        t(s, dir, "events"), "user_id", "event_type",
        Seq(col("ts"), col("event_id")))
      graft.operators.Graph.harmonicCentrality(edges, 3)
        .select(col("node").as("event_type"), col("n1"), col("n2"),
          col("n3"), col("h_scaled"))
        .orderBy("event_type")
    },
    // Harmonic centrality re-run as three unrolled reverse-BFS rounds:
    // distance-r node sets via EXCEPT against earlier rounds and the
    // identity, exact integer lcm(1..3)-scaled sum — Graph.harmonic-
    // Centrality verbatim.
      """WITH seq AS (
           SELECT event_type AS dst,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS src
           FROM events),
         edges AS (SELECT DISTINCT src, dst FROM seq WHERE src IS NOT NULL),
         nodes AS (SELECT src AS node FROM edges
                   UNION SELECT dst FROM edges),
         e AS (SELECT DISTINCT dst AS v, src AS u FROM edges
               WHERE src <> dst),
         d1 AS (SELECT v, u FROM e),
         v2 AS (SELECT DISTINCT d1.v AS v, e2.u AS u
                FROM d1 JOIN e AS e2 ON e2.v = d1.u),
         d2 AS (SELECT v, u FROM v2
                EXCEPT SELECT v, u FROM d1
                EXCEPT SELECT node, node FROM nodes),
         v3 AS (SELECT DISTINCT d2.v AS v, e3.u AS u
                FROM d2 JOIN e AS e3 ON e3.v = d2.u),
         d3 AS (SELECT v, u FROM v3
                EXCEPT SELECT v, u FROM d2
                EXCEPT SELECT v, u FROM d1
                EXCEPT SELECT node, node FROM nodes),
         c1 AS (SELECT v, count(*) AS n FROM d1 GROUP BY v),
         c2 AS (SELECT v, count(*) AS n FROM d2 GROUP BY v),
         c3 AS (SELECT v, count(*) AS n FROM d3 GROUP BY v)
         SELECT n.node AS event_type,
           coalesce(c1.n, 0)::BIGINT AS n1,
           coalesce(c2.n, 0)::BIGINT AS n2,
           coalesce(c3.n, 0)::BIGINT AS n3,
           (coalesce(c1.n, 0) * 6 + coalesce(c2.n, 0) * 3
             + coalesce(c3.n, 0) * 2)::BIGINT AS h_scaled
         FROM nodes n
         LEFT JOIN c1 ON c1.v = n.node
         LEFT JOIN c2 ON c2.v = n.node
         LEFT JOIN c3 ON c3.v = n.node
         ORDER BY event_type"""),
    // Funnel latency — minutes from a user's FIRST view to their first
    // purchase at-or-after it, bucketed into a distributed histogram
    // (exact integer nanos div, no global order statistics): the
    // time-to-convert distribution next to q_funnel's conversion counts.
    QueryDef("q_conversion_latency", (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_type"))
      val v = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("__v"))
      ev.filter(col("event_type") === "purchase")
        .join(v, "user_id")
        .filter(col("ts") >= col("__v"))
        .groupBy("user_id")
        .agg(min(col("ts")).as("__p"), min(col("__v")).as("__fv"))
        .select(expr("(__p - __fv) div 60000000000").as("latency_min"))
        .groupBy("latency_min").agg(count(lit(1)).as("n_users"))
        .orderBy("latency_min")
    },
      """WITH v AS (
           SELECT user_id, min(epoch_ns(ts)) AS fv FROM events
           WHERE event_type = 'view' GROUP BY user_id),
         p AS (
           SELECT e.user_id, min(epoch_ns(e.ts)) AS fp, min(v.fv) AS fv
           FROM events e JOIN v ON e.user_id = v.user_id
           WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) >= v.fv
           GROUP BY e.user_id)
         SELECT cast((fp - fv) // 60000000000 AS BIGINT) AS latency_min,
           cast(count(*) AS BIGINT) AS n_users
         FROM p GROUP BY 1 ORDER BY latency_min"""),
    // Attribution — linear multi-touch: every view/click inside the hour
    // before a user's NEXT purchase shares that purchase's value equally
    // (credit = value·10⁶ div n in exact integer micro-cents, remainder
    // dropped — engine-portable, no decimal-division dialect). The
    // conversion lookup is ONE descending per-user window carrying the
    // last-seen purchase (ignoreNulls last over strictly-later rows), so
    // there is no touch×purchase join anywhere — the 100 TB shape.
    QueryDef("q_attribution", (s, dir) => {
      val touches = purchaseTouches(s, dir)
        .select(col("event_type").as("channel"),
          col("__cv.e").as("__conv"), col("__cv.c").as("__cc"))
      val perConv = touches.groupBy("__conv").agg(count(lit(1)).as("__n"))
      touches.join(perConv, "__conv")
        .select(col("channel"),
          expr("__cc * 1000000L div __n").as("__micro"))
        .transform(creditByChannel)
    },
      """WITH ev AS (
           SELECT user_id, epoch_ns(ts) AS tn, event_id, event_type,
             cast(cast(value AS decimal(18,2)) * 100 AS BIGINT) AS c
           FROM events),
         nx AS (
           SELECT event_type, tn,
             last_value(CASE WHEN event_type = 'purchase' THEN
                 struct_pack(t := tn, e := event_id, c := c) END
               IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY tn DESC, event_id DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cv
           FROM ev),
         touch AS (
           SELECT event_type AS channel, cv.e AS conv, cv.c AS cc
           FROM nx
           WHERE event_type IN ('view', 'click') AND cv IS NOT NULL
             AND cv.t - tn <= 3600000000000),
         n AS (SELECT conv, count(*) AS n FROM touch GROUP BY conv),
         cr AS (
           SELECT t.channel, (t.cc * 1000000) // n.n AS micro
           FROM touch t JOIN n USING (conv))
         SELECT channel, cast(count(*) AS BIGINT) AS n_touches,
           round(cast(sum(micro) AS DOUBLE) / 100000000.0, 6) AS attributed
         FROM cr GROUP BY 1 ORDER BY channel"""),
    // Attribution, time-decay variant: the 8 most recent touches before
    // the conversion carry dyadic weights 2^(8−rank) (most recent
    // heaviest — the EWMA trick), credit = value·10⁶·w div Σw in exact
    // integers, so even the decay schedule oracle-checks. Same
    // no-pair-join conversion lookup as q_attribution.
    QueryDef("q_attribution_decay", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val touches = purchaseTouches(s, dir)
        .select(col("event_type").as("channel"), col("ts"),
          col("event_id"), col("__cv.e").as("__conv"),
          col("__cv.c").as("__cc"))
      val wConv = Window.partitionBy("__conv")
        .orderBy(col("ts").desc, col("event_id").desc)
      val ranked = touches
        .withColumn("__rn", row_number().over(wConv))
        .filter(col("__rn") <= 8)
        .withColumn("__w", expr("CAST(1 AS BIGINT) << (8 - __rn)"))
      val tot = ranked.groupBy("__conv").agg(sum(col("__w")).as("__tw"))
      ranked.join(tot, "__conv")
        .select(col("channel"),
          expr("__cc * 1000000L * __w div __tw").as("__micro"))
        .transform(creditByChannel)
    },
      """WITH ev AS (
           SELECT user_id, epoch_ns(ts) AS tn, event_id, event_type,
             cast(cast(value AS decimal(18,2)) * 100 AS BIGINT) AS c
           FROM events),
         nx AS (
           SELECT event_type, tn, event_id,
             last_value(CASE WHEN event_type = 'purchase' THEN
                 struct_pack(t := tn, e := event_id, c := c) END
               IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY tn DESC, event_id DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cv
           FROM ev),
         touch AS (
           SELECT event_type AS channel, tn, event_id,
             cv.e AS conv, cv.c AS cc
           FROM nx
           WHERE event_type IN ('view', 'click') AND cv IS NOT NULL
             AND cv.t - tn <= 3600000000000),
         rk AS (
           SELECT channel, conv, cc,
             (1::BIGINT << (8 - rn)) AS w
           FROM (SELECT *, row_number() OVER (PARTITION BY conv
                   ORDER BY tn DESC, event_id DESC) AS rn FROM touch)
           WHERE rn <= 8),
         tw AS (SELECT conv, sum(w)::BIGINT AS tw FROM rk GROUP BY conv),
         cr AS (
           SELECT r.channel, (r.cc * 1000000 * r.w) // t.tw AS micro
           FROM rk r JOIN tw t USING (conv))
         SELECT channel, cast(count(*) AS BIGINT) AS n_touches,
           round(cast(sum(micro) AS DOUBLE) / 100000000.0, 6) AS attributed
         FROM cr GROUP BY 1 ORDER BY channel"""),
    // Paths — top-20 most-travelled 3-step event paths: two lags over the
    // per-user ordered stream (ONE shuffle + shared sort), count per
    // (a, b, c), TakeOrderedAndProject — the product-analytics "common
    // journeys" table next to q_funnel/q_pagerank.
    QueryDef("q_paths", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("c"),
          lag(col("event_type"), 1).over(w).as("b"),
          lag(col("event_type"), 2).over(w).as("a"))
        .filter(col("a").isNotNull)
        .groupBy("a", "b", "c").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"), col("c"))
        .limit(20)
    },
      """WITH s AS (
           SELECT event_type AS c,
             lag(event_type, 1) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS b,
             lag(event_type, 2) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS a
           FROM events)
         SELECT a, b, c, cast(count(*) AS BIGINT) AS n
         FROM s WHERE a IS NOT NULL GROUP BY 1, 2, 3
         ORDER BY n DESC, a, b, c LIMIT 20"""),
    // Bursts — buckets whose count crosses 2× the trailing-3-bucket mean,
    // flagged by exact integer cross-multiplication (n·3 > prev3·2 — no
    // division, engine-portable), only where a full 3-bucket history
    // exists. Per-type windows over ALREADY-AGGREGATED bucket counts —
    // the anomaly row a rate monitor alerts on.
    QueryDef("q_burst", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val buckets = t(s, dir, "events")
        .groupBy(expr("(ts div 300000000000) * 300").as("bucket_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("bucket_start")
        .rowsBetween(-3, -1)
      buckets
        .withColumn("prev3", sum(col("n")).over(w))
        .withColumn("prev_cnt", count(col("n")).over(w))
        .filter(col("prev_cnt") === 3 && col("n") * 3 > col("prev3") * 2)
        .select(col("event_type"), col("bucket_start"), col("n"),
          col("prev3"))
        .orderBy("event_type", "bucket_start")
    },
      """WITH b AS (
           SELECT (epoch_ns(ts) // 300000000000) * 300 AS bucket_start,
             event_type, cast(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         t AS (
           SELECT event_type, bucket_start, n,
             sum(n) OVER (PARTITION BY event_type ORDER BY bucket_start
               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS prev3,
             count(n) OVER (PARTITION BY event_type ORDER BY bucket_start
               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS prev_cnt
           FROM b)
         SELECT event_type, cast(bucket_start AS BIGINT) AS bucket_start,
           n, cast(prev3 AS BIGINT) AS prev3
         FROM t WHERE prev_cnt = 3 AND n * 3 > prev3 * 2
         ORDER BY event_type, bucket_start"""),
    // Hierarchy — bounded ancestor closure by pointer doubling (Spark has
    // no recursive CTE; the oracle runs DuckDB's WITH RECURSIVE over the
    // same parent table). The hierarchy is the dense binary referral tree
    // parent(u) = u div 2 over the event user population — derived from
    // real ids, deterministic, max depth ≈ log₂|users|. log₂(depth)
    // closure self-joins instead of depth-many recursive rounds.
    QueryDef("q_tree_paths", (s, dir) => {
      val parents = t(s, dir, "events").select(col("user_id")).distinct()
        .select(col("user_id").as("node"),
          when(col("user_id") > 0, expr("user_id div 2")).as("parent"))
      graft.operators.Hierarchy.ancestors(parents, "node", "parent", 16)
        .orderBy("node", "dist")
    },
      """WITH RECURSIVE parents AS (
           SELECT DISTINCT user_id AS node,
             CASE WHEN user_id > 0 THEN user_id // 2 END AS parent
           FROM events),
         anc AS (
           SELECT node, parent AS anc, cast(1 AS BIGINT) AS dist
           FROM parents WHERE parent IS NOT NULL
           UNION ALL
           SELECT a.node, p.parent, a.dist + 1
           FROM anc a JOIN parents p ON p.node = a.anc
           WHERE p.parent IS NOT NULL AND a.dist < 16)
         SELECT node, anc, dist FROM anc ORDER BY node, dist"""),
    // Hierarchy — subtree rollup over the same tree: per node, the number
    // of subtree users that produced events and their total event count —
    // the org-chart/category-tree aggregate every warehouse builds with a
    // recursive CTE, here ONE closure + ONE hash aggregate on the
    // ancestor. Self included; users without events still report a row.
    QueryDef("q_tree_rollup", (s, dir) => {
      val ev = t(s, dir, "events")
      val parents = ev.select(col("user_id")).distinct()
        .select(col("user_id").as("node"),
          when(col("user_id") > 0, expr("user_id div 2")).as("parent"))
      val perUser = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"))
      graft.operators.Hierarchy.subtreeAgg(parents, "node", "parent",
          perUser, "user_id", "n_events", 16)
        .select(col("node"), col("n_desc"), col("sum_value").as("subtree_events"))
        .orderBy("node")
    },
      """WITH RECURSIVE parents AS (
           SELECT DISTINCT user_id AS node,
             CASE WHEN user_id > 0 THEN user_id // 2 END AS parent
           FROM events),
         anc AS (
           SELECT node, parent AS anc, cast(1 AS BIGINT) AS dist
           FROM parents WHERE parent IS NOT NULL
           UNION ALL
           SELECT a.node, p.parent, a.dist + 1
           FROM anc a JOIN parents p ON p.node = a.anc
           WHERE p.parent IS NOT NULL AND a.dist < 16),
         pairs AS (
           SELECT anc AS node, node AS descn FROM anc
           UNION ALL
           SELECT n, n FROM (SELECT node AS n FROM parents
             UNION SELECT parent FROM parents WHERE parent IS NOT NULL)),
         per_user AS (
           SELECT user_id, cast(count(*) AS BIGINT) AS n_events
           FROM events GROUP BY 1)
         SELECT p.node, cast(count(u.n_events) AS BIGINT) AS n_desc,
           cast(sum(u.n_events) AS BIGINT) AS subtree_events
         FROM pairs p LEFT JOIN per_user u ON u.user_id = p.descn
         GROUP BY 1 ORDER BY p.node"""))
}
