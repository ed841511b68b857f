package graft.queries

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Shared helpers for declared queries. */
object Q {
  /** Harness table loader (delegates to Tables.load, which owns the
    * TIMESTAMP_NANOS-as-long reader workaround; see tsCol for converting
    * the resulting nanos-long back to a timestamp). */
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(spark, dir, name)

  /**
   * events.ts (nanos-as-long) → TimestampType at microsecond precision.
   * `div` is integer division, keeping the math exact — a double division at
   * 1e18 nanos magnitude would lose sub-microsecond bits.
   */
  def tsCol(name: String): org.apache.spark.sql.Column =
    expr(s"timestamp_micros($name div 1000)")

  /** events.ts (nanos-as-long) → epoch seconds, floored (exact). */
  def tsSec(name: String): org.apache.spark.sql.Column =
    expr(s"$name div 1000000000")

  /**
   * Exact-money cast: the fixture money columns are 2-decimal doubles, so
   * casting to decimal(18,2) is lossless and makes sums order-independent —
   * a Spark shuffle-order sum and the DuckDB oracle's sequential sum then
   * agree bit-for-bit (cast back to double for a stable output type).
   */
  def dec2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast("decimal(18,2)")
}

/** One registered query: the frame it builds over a table directory, and
  * the DuckDB SQL over the same parquet tables that must return its rows. */
final case class QueryDef(
    name: String, build: (SparkSession, String) => DataFrame, oracle: String)

/**
 * Core-parity queries: the reference's six anonymization strategies, sample
 * masking, type safety, planner denylist, counts and schema introspection
 * (reference `src/executor/query-builder.ts`, `src/planner/plan-builder.ts`,
 * `src/schema/schema-reader.ts`). Every query is deterministically ordered
 * for the DuckDB hash-compare.
 */
object Core {
  import Q._

  /** FIXTURES.md §B config, shaped like the reference's generated YAML. */
  def fixtureConfig: Config = Config(
    version = 1,
    generatedAt = "2026-08-12T00:00:00.000Z",
    reviewed = true,
    scope = Scope("public", Seq("public.region", "nation")),
    columnStrategy = Seq(
      "KEEP" -> Seq("c_custkey", "o_orderkey", "l_orderkey"),
      "EMAIL_FAKE" -> Seq("c_name"),
      "HASH_SHA256" -> Seq("s_name", "p_name"),
      "REDACT" -> Seq("c_mktsegment"),
      "SET_NULL" -> Seq("o_orderpriority")),
    rules = Seq(
      TableRule("public.customer", enabled = true, Seq(
        ColumnRule("c_custkey"),
        ColumnRule("c_name"),
        ColumnRule("c_acctbal", Some("REDACT")), // NUMBER -> downgraded to KEEP
        ColumnRule("c_mktsegment", Some("TRUNCATE"), StrategyParams(Some(2))))),
      TableRule("public.orders", enabled = true, Seq(
        ColumnRule("o_orderkey"),
        ColumnRule("o_orderstatus"),
        ColumnRule("o_orderpriority")))))

  private def strategyDemo(st: Strategy, params: StrategyParams = StrategyParams.empty)(
      spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    c.select(col("c_custkey"), Strategies.compile("c_name", st, params, StringType))
      .orderBy("c_custkey")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_anonymize_full", (s, dir) => {
      val plan = Planner.buildPlan(fixtureConfig, "fixture")
      Engine.transform(plan, Map(
        "customer" -> t(s, dir, "customer"),
        "orders" -> t(s, dir, "orders")))("public.customer")
        .orderBy("c_custkey")
    },
      """SELECT c_custkey,
         md5(coalesce(c_name, '')) || '@example.com' AS c_name,
         c_nationkey, c_acctbal,
         left(coalesce(c_mktsegment, ''), 2) AS c_mktsegment
         FROM customer ORDER BY c_custkey"""),
    QueryDef("q_keep", strategyDemo(Strategy.Keep) _,
      "SELECT c_custkey, c_name FROM customer ORDER BY c_custkey"),
    QueryDef("q_set_null", strategyDemo(Strategy.SetNull) _,
      "SELECT c_custkey, cast(NULL AS varchar) AS c_name FROM customer ORDER BY c_custkey"),
    QueryDef("q_redact", strategyDemo(Strategy.Redact) _,
      "SELECT c_custkey, '***' AS c_name FROM customer ORDER BY c_custkey"),
    QueryDef("q_hash", strategyDemo(Strategy.HashSha256) _,
      "SELECT c_custkey, md5(coalesce(c_name, '')) AS c_name FROM customer ORDER BY c_custkey"),
    QueryDef("q_truncate", strategyDemo(Strategy.Truncate) _, // default n=4
      "SELECT c_custkey, left(coalesce(c_name, ''), 4) AS c_name FROM customer ORDER BY c_custkey"),
    QueryDef("q_truncate_param", strategyDemo(Strategy.Truncate, StrategyParams(Some(7))) _,
      "SELECT c_custkey, left(coalesce(c_name, ''), 7) AS c_name FROM customer ORDER BY c_custkey"),
    QueryDef("q_email_fake", strategyDemo(Strategy.EmailFake) _,
      """SELECT c_custkey, md5(coalesce(c_name, '')) || '@example.com' AS c_name
         FROM customer ORDER BY c_custkey"""),
    QueryDef("q_unknown_noop", strategyDemo(Strategy.Unknown("SCRAMBLE")) _,
      "SELECT c_custkey, c_name FROM customer ORDER BY c_custkey"),
    QueryDef("q_mask_sample", (s, dir) => {
      t(s, dir, "customer")
        .select(col("c_custkey"),
          Strategies.maskSample(col("c_name")).as("c_name_masked"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey,
         CASE WHEN c_name IS NULL OR c_name = '' THEN c_name
              WHEN length(c_name) <= 6 THEN '***'
              ELSE left(c_name, 2) || '***' || right(c_name, 2) END AS c_name_masked
         FROM customer ORDER BY c_custkey"""),
    QueryDef("q_type_safety", (s, dir) => {
      // HASH on NUMBER and REDACT on NUMBER downgrade to KEEP; TRUNCATE on
      // STRING applies (executor.ts:45-85).
      val df = t(s, dir, "customer")
      val planned = Seq(
        PlannedColumn("c_custkey", Strategy.HashSha256),
        PlannedColumn("c_name", Strategy.Truncate, StrategyParams(Some(3))),
        PlannedColumn("c_acctbal", Strategy.Redact))
      df.select(Engine.compileTable(df, planned): _*).orderBy("c_custkey")
    },
      """SELECT c_custkey, left(coalesce(c_name, ''), 3) AS c_name,
         c_nationkey, c_acctbal, c_mktsegment
         FROM customer ORDER BY c_custkey"""),
    QueryDef("q_filter_denylist", (s, dir) => {
      import s.implicits._
      val cfg = fixtureConfig.copy(rules = fixtureConfig.rules ++ Seq(
        TableRule("public.region", enabled = true,
          Seq(ColumnRule("r_name", Some("REDACT")))),   // denied (full name)
        TableRule("public.nation", enabled = true,
          Seq(ColumnRule("n_name", Some("REDACT")))),   // denied (bare name)
        TableRule("public.part", enabled = false,
          Seq(ColumnRule("p_name", Some("REDACT")))))) // disabled
      Planner.buildPlan(cfg, "fixture").tables.map(_.table)
        .toDF("table_name").orderBy("table_name")
    },
      """SELECT * FROM (VALUES ('public.customer'), ('public.orders'))
         AS t(table_name) ORDER BY table_name"""),
    QueryDef("q_count", (s, dir) => {
      import s.implicits._
      val plan = Plan("fixture", Seq(
        PlannedTable("public.customer", "public", "customer",
          Seq(PlannedColumn("c_name", Strategy.HashSha256))),
        PlannedTable("public.nation", "public", "nation",
          Seq(PlannedColumn("n_name", Strategy.Keep))), // no-op -> 0
        PlannedTable("public.orders", "public", "orders",
          Seq(PlannedColumn("o_orderpriority", Strategy.SetNull)))))
      val counts = Engine.dryRun(plan, Map(
        "customer" -> t(s, dir, "customer"),
        "nation" -> t(s, dir, "nation"),
        "orders" -> t(s, dir, "orders")))
      counts.toSeq.toDF("table_name", "n_rows").orderBy("table_name")
    },
      """SELECT 'public.customer' AS table_name, (SELECT count(*) FROM customer) AS n_rows
         UNION ALL SELECT 'public.nation', cast(0 AS bigint)
         UNION ALL SELECT 'public.orders', (SELECT count(*) FROM orders)
         ORDER BY table_name"""),
    QueryDef("q_anonymize_catalog", (s, dir) => {
      import s.implicits._
      // full workflow over a wider catalog: global map + overrides, one
      // denylisted table, one disabled, one all-KEEP no-op
      val cfg = Config(
        reviewed = true,
        scope = Scope("public", Seq("public.region")),
        columnStrategy = Seq(
          "HASH_SHA256" -> Seq("c_name", "s_name", "p_name"),
          "REDACT" -> Seq("o_orderpriority")),
        rules = Seq(
          TableRule("public.customer", enabled = true, Seq(ColumnRule("c_name"))),
          TableRule("public.supplier", enabled = true, Seq(ColumnRule("s_name"))),
          TableRule("public.part", enabled = false, Seq(ColumnRule("p_name"))),
          TableRule("public.orders", enabled = true, Seq(ColumnRule("o_orderpriority"))),
          TableRule("public.nation", enabled = true, Seq(ColumnRule("n_name"))), // KEEP → no-op
          TableRule("public.region", enabled = true, Seq(ColumnRule("r_name", Some("REDACT"))))))
      val plan = Planner.buildPlan(cfg, "fixture")
      val counts = Engine.dryRun(plan, Map(
        "customer" -> t(s, dir, "customer"), "supplier" -> t(s, dir, "supplier"),
        "orders" -> t(s, dir, "orders"), "nation" -> t(s, dir, "nation")))
      counts.toSeq.toDF("table_name", "n_rows").orderBy("table_name")
    },
      """SELECT 'public.customer' AS table_name, (SELECT count(*) FROM customer) AS n_rows
         UNION ALL SELECT 'public.nation', cast(0 AS bigint)
         UNION ALL SELECT 'public.orders', (SELECT count(*) FROM orders)
         UNION ALL SELECT 'public.supplier', (SELECT count(*) FROM supplier)
         ORDER BY table_name"""),
    QueryDef("q_sample_limit", (s, dir) =>
      t(s, dir, "customer").select("c_custkey", "c_name")
        .orderBy("c_custkey").limit(3),
      "SELECT c_custkey, c_name FROM customer ORDER BY c_custkey LIMIT 3"),
    QueryDef("q_schema_tables", (s, dir) => {
      import s.implicits._
      Tables.names.toDF("table_name").orderBy("table_name")
    },
      """SELECT * FROM (VALUES ('customer'), ('documents'), ('embeddings'),
         ('events'), ('lineitem'), ('nation'), ('orders'), ('part'),
         ('region'), ('supplier')) AS t(table_name) ORDER BY table_name"""),
    QueryDef("q_schema_columns", (s, dir) => {
      import s.implicits._
      val fields = t(s, dir, "customer").schema.fields.toSeq
      fields.zipWithIndex.map { case (f, i) =>
        (i + 1, f.name, TypeMap.groupName(TypeMap.group(f.dataType)))
      }.toDF("ordinal", "column_name", "type_group").orderBy("ordinal")
    },
      """SELECT * FROM (VALUES
         (1, 'c_custkey', 'NUMBER'), (2, 'c_name', 'STRING'),
         (3, 'c_nationkey', 'NUMBER'), (4, 'c_acctbal', 'NUMBER'),
         (5, 'c_mktsegment', 'STRING')) AS t(ordinal, column_name, type_group)
         ORDER BY ordinal"""))
}
