package graft.sources

import graft.Read
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/**
 * Source/sink surface (SURVEY §2.1). The reference reads a live Postgres
 * via a single client connection (`src/db/postgres.client.ts:4-23`) and
 * introspects information_schema (`src/schema/schema-reader.ts:16-37`);
 * here the same capability is a JDBC reader whose schema IS the catalog
 * introspection (Spark populates it from DB metadata), plus the parquet
 * path the harness exercises and a streaming file source for the events
 * surface.
 *
 * Scale notes: jdbc() exposes partitioned reads — without a partition
 * column a JDBC scan is a single connection doing all the work (the
 * reference's model, fine for an UPDATE pushdown, hopeless for 100 TB
 * analytics); with (column, lower, upper, numPartitions) Spark opens
 * parallel cursors per slice.
 */
object Sources {

  /** Parquet table (self-describing schema; predicate/column pushdown
    * free). PASS-THROUGH: a general-purpose connector surfaces the file's
    * own schema — a user column that happens to be named `ts` is neither
    * rewritten nor validated here. A table following the engine's
    * events convention (epoch-nanos event time in `ts`) opts into the
    * encoding adapter via `Tables.normalizeTs`; `Tables.load` does so for
    * the harness `events` table. */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Read.parquet(spark, path)
  }

  /**
   * Database connection settings resolved the way the reference resolves
   * them (`src/config/tool.config.ts:20-31`): libpq-style PG* environment
   * variables, `PGHOST`/`PGPORT` defaulting to localhost:5432,
   * `PGUSER`/`PGPASSWORD`/`PGDATABASE` required (a missing one fails
   * loudly, naming the variable), and `PGSSLMODE=require` turning ssl on.
   */
  final case class DbConfig(host: String, port: Int, user: String,
      password: String, database: String, ssl: Boolean) {
    /** Spark-consumable form of the same settings. */
    def jdbcUrl: String = s"jdbc:postgresql://$host:$port/$database"
    def jdbcProps: java.util.Properties = {
      val p = new java.util.Properties()
      p.setProperty("user", user)
      p.setProperty("password", password)
      if (ssl) p.setProperty("ssl", "true")
      p
    }
  }

  /**
   * Load [[DbConfig]] from the environment (injectable for tests; defaults
   * to the process env). Feed the result to [[jdbc]]/[[jdbcCatalog]] —
   * `jdbcCatalog(spark, cfg.jdbcUrl, cfg.jdbcProps)` is the reference's
   * "connect to the configured database and walk its schema" entrypoint.
   */
  def dbConfigFromEnv(env: Map[String, String] = sys.env): DbConfig = {
    def required(name: String): String = env.getOrElse(name,
      throw new IllegalArgumentException(s"Missing env var: $name"))
    DbConfig(
      host = env.getOrElse("PGHOST", "localhost"),
      port = env.getOrElse("PGPORT", "5432").toInt,
      user = required("PGUSER"),
      password = required("PGPASSWORD"),
      database = required("PGDATABASE"),
      ssl = env.getOrElse("PGSSLMODE", "").toLowerCase == "require")
  }

  /**
   * JDBC table — the reference's Postgres source re-expressed. Partition
   * bounds turn the single-connection read into N parallel range scans.
   * (Exercised end-to-end against embedded Derby in SourcesSpec.)
   */
  def jdbc(spark: SparkSession, url: String, table: String,
      props: java.util.Properties = new java.util.Properties,
      partitioning: Option[(String, Long, Long, Int)] = None): DataFrame =
    partitioning match {
      case Some((column, lower, upper, n)) =>
        spark.read.jdbc(url, table, column, lower, upper, n, props)
      case None => spark.read.jdbc(url, table, props)
    }

  /**
   * Introspect a JDBC database into a bare-name → DataFrame catalog — the
   * reference's schema-reader over a live DB (`schema-reader.ts:16-37`),
   * where information_schema supplies tables and columns. Here
   * `DatabaseMetaData.getTables` lists user tables and each frame's schema
   * comes from DB metadata at `spark.read.jdbc` planning time; no row data
   * moves until an action runs. Feed the result straight to
   * `ConfigIO.generateConfig` / `Engine.dryRun` — the configGen → plan →
   * anonymize lifecycle over an actual database.
   *
   * The engine's catalog is keyed by BARE table name (the plan's
   * `PlannedTable.name`), so the listing is scoped to ONE database schema
   * via `schemaPattern` (JDBC metadata wildcard; null = the connection's
   * default visibility). If the pattern still spans same-named tables in
   * different schemas, this throws instead of silently keeping an
   * arbitrary one. Reads are schema-qualified so they do not depend on the
   * connection's search path.
   */
  def jdbcCatalog(spark: SparkSession, url: String,
      props: java.util.Properties = new java.util.Properties,
      schemaPattern: String = null): Map[String, DataFrame] = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val rs = conn.getMetaData.getTables(null, schemaPattern, "%", Array("TABLE"))
      val names = Seq.newBuilder[(String, String)]
      while (rs.next())
        names += ((rs.getString("TABLE_SCHEM"), rs.getString("TABLE_NAME")))
      val listed = names.result()
      val dup = listed.groupBy(_._2.toLowerCase).filter(_._2.sizeIs > 1)
      require(dup.isEmpty,
        s"ambiguous bare table names across schemas: ${dup.keys.mkString(", ")}; " +
          "narrow schemaPattern so each bare name is unique")
      listed.map { case (schema, name) =>
        val qualified = if (schema == null || schema.isEmpty) name
          else s"$schema.$name"
        name.toLowerCase -> spark.read.jdbc(url, qualified, props)
      }.toMap
    } finally conn.close()
  }

  /**
   * Streaming file source over a directory of parquet (the events table as
   * an unbounded stream): new files are discovered per micro-batch. Feed
   * the result to graft.streaming.Streams operators.
   */
  def parquetStream(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** Write a DataFrame as a parquet table directory (the apply sink). */
  def writeParquet(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).parquet(path)

  /**
   * Hive-style partitioned parquet layout (one directory per partition
   * value) — the canonical 100 TB table layout. A predicate on a partition
   * column is resolved at PLANNING time against directory names
   * (PartitionFilters in the scan node), so a one-day query over a
   * date-partitioned table lists one day's files instead of scanning the
   * table's full file manifest.
   */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
      mode: String = "overwrite"): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /**
   * Read a partitioned layout back. `basePath` keeps the partition columns
   * in the schema when pointing below the root.
   */
  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.option("basePath", path).parquet(path)

  /** ORC source/sink — same self-describing columnar contract as parquet. */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).orc(path)

  /**
   * CSV source with an EXPLICIT schema — inference costs a full extra pass
   * over the files (a non-starter at 100 TB) and silently guesses types;
   * `mode=FAILFAST` makes malformed rows a loud error instead of silent
   * nulls, matching the engine's fail-loudly planner posture.
   */
  def csv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = true): DataFrame =
    spark.read.schema(schema)
      .option("header", header.toString)
      .option("mode", "FAILFAST")
      .csv(path)

  def writeCsv(df: DataFrame, path: String, header: Boolean = true,
      mode: String = "overwrite"): Unit =
    df.write.mode(mode).option("header", header.toString).csv(path)

  /** JSON-lines source/sink — explicit schema for the same reasons as
    * [[csv]]; each line is one record (the splittable large-file layout). */
  def jsonLines(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("mode", "FAILFAST").json(path)

  def writeJsonLines(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).json(path)

  /**
   * JDBC sink — the write-back half of the reference's Postgres model
   * (its in-place UPDATE becomes write-to-table; `mode=overwrite` truncates
   * and reloads). Exercised end-to-end against embedded Derby in
   * SourcesSpec.
   */
  def writeJdbc(df: DataFrame, url: String, table: String,
      props: java.util.Properties = new java.util.Properties,
      mode: String = "append"): Unit =
    df.write.mode(mode).jdbc(url, table, props)
}
