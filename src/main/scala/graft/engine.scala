package graft

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{col, count, lit, when}

import graft.operators.Scale

/**
 * Plan execution (reference `src/executor/executor.ts:87-147`, re-expressed
 * for Spark's read→transform→write model; Spark has no in-place UPDATE, and
 * copy-on-write is strictly safer than the reference's write-then-rollback).
 *
 * Design notes for 100 TB scale:
 *  - one `select` per table fuses every column transform into a single
 *    whole-stage-codegen pass (the reference's one-UPDATE-per-table fusion,
 *    `query-builder.ts:14-61`);
 *  - nothing is collected to the driver; dry-run and apply observe their
 *    counts on one pass over the data, validation is one job;
 *  - a table whose plan leaves every column untouched is skipped entirely and
 *    reported with count 0 (`executor.ts:120-124`) — at 100 TB that skip is
 *    the difference between a metadata no-op and a full rewrite.
 */
object Engine {

  /**
   * Effective (type-normalized) strategy per planned column. A column
   * missing from the schema gets group OTHER, exactly as the reference's
   * `colGroups[c.column] || "OTHER"` (`executor.ts:53`): EMAIL/REDACT/
   * TRUNCATE on a missing column therefore downgrade to KEEP and the run
   * proceeds, while HASH_SHA256 and SET_NULL survive normalization — and
   * since they cannot compile against a nonexistent column, they fail
   * loudly, as the reference's `UPDATE ... SET missing = ...` would.
   */
  private def effective(df: DataFrame,
      planned: Seq[PlannedColumn]): Seq[(PlannedColumn, Strategy)] = {
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    planned.map { p =>
      val group = types.get(p.column).map(TypeMap.group)
        .getOrElse(TypeGroup.OTHER)
      p -> Strategies.normalize(p.strategy, group)
    }
  }

  private def isTransforming(s: Strategy): Boolean =
    s != Strategy.Keep && !s.isInstanceOf[Strategy.Unknown]

  /**
   * Compile one table's plan to its output column list. Type-safety
   * normalization (`executor.ts:45-85`) runs here against the live schema —
   * the Spark analogue of the reference's pre-UPDATE type re-probe
   * (`executor.ts:24-38`).
   */
  def compileTable(df: DataFrame, planned: Seq[PlannedColumn]): Seq[Column] = {
    val names = df.schema.fieldNames.toSet
    val bad = effective(df, planned).collect {
      case (p, eff) if isTransforming(eff) && !names(p.column) => p.column
    }
    require(bad.isEmpty,
      s"planned columns not in schema: ${bad.mkString(", ")}")
    val byName = planned.map(p => p.column -> p).toMap
    df.schema.fields.toSeq.map { f =>
      byName.get(f.name) match {
        case Some(p) =>
          val eff = Strategies.normalizeFor(p.strategy, f.dataType)
          Strategies.compile(f.name, eff, p.params, f.dataType)
        case None => col(f.name)
      }
    }
  }

  /** True if the plan transforms nothing on this table (skip, `executor.ts:120-124`).
    * A still-transforming strategy on a MISSING column is NOT a no-op — it
    * must reach compileTable and fail there, not be silently skipped. */
  def isNoop(df: DataFrame, planned: Seq[PlannedColumn]): Boolean =
    !effective(df, planned).exists { case (_, eff) => isTransforming(eff) }

  private def dfFor(catalog: Map[String, DataFrame], pt: PlannedTable): DataFrame =
    catalog.getOrElse(pt.name, throw new NoSuchElementException(
      s"planned table not found in catalog: ${pt.table}"))

  /**
   * Transform every planned table; catalog maps bare table name → DataFrame.
   * No-op tables are excluded (the caller reports them as 0 rows); a planned
   * table absent from the catalog throws, matching the reference's failing
   * UPDATE rather than silently dropping the table from the report.
   */
  def transform(plan: Plan, catalog: Map[String, DataFrame]): Map[String, DataFrame] =
    plan.tables.flatMap { pt =>
      val df = dfFor(catalog, pt)
      if (isNoop(df, pt.columns)) None
      else Some(pt.table -> df.select(compileTable(df, pt.columns): _*))
    }.toMap

  /**
   * Dry run: per-table affected-row counts, no write (the reference's
   * rowCount per UPDATE inside a rolled-back transaction,
   * `executor.ts:100-137`). The count equals full table cardinality because
   * the reference's UPDATEs carry no WHERE; no-op tables are skipped and
   * reported as 0 (`executor.ts:120-124`). Every table is compiled first
   * (a compile error surfaces before any job), then one shuffle-free job
   * counts them all: the union of the tables, each tagged by its plan
   * index, runs into the `noop` sink with one observed count per tag —
   * where a `count()` per table costs an aggregate's map stage and result
   * job each.
   */
  def dryRun(plan: Plan, catalog: Map[String, DataFrame]): Map[String, Long] = {
    val tagged = plan.tables.zipWithIndex.flatMap { case (pt, i) =>
      val df = dfFor(catalog, pt)
      if (isNoop(df, pt.columns)) None
      else Some(i -> df.select(compileTable(df, pt.columns): _*)
        .select(lit(i).as("t")))
    }
    val counts: Map[Int, Long] = if (tagged.isEmpty) Map.empty else {
      val spark = tagged.head._2.sparkSession
      val rows = Observation()
      val perTable = tagged.map { case (i, _) =>
        count(when(col("t") === i, lit(1))).as(s"n$i") }
      Jobs.named(spark, "Engine.dryRun") {
        tagged.map(_._2).reduce(_ union _)
          .observe(rows, perTable.head, perTable.tail: _*)
          .write.format("noop").mode("overwrite").save()
      }
      tagged.map { case (i, _) =>
        i -> rows.get(s"n$i").asInstanceOf[Long] }.toMap
    }
    plan.tables.zipWithIndex.map { case (pt, i) =>
      pt.table -> counts.getOrElse(i, 0L) }.toMap
  }

  /**
   * Apply: write each transformed table as parquet under `outDir/<name>`.
   * Each row count is observed on the write itself (an [[Observation]]
   * riding the write's own job), so the transform runs exactly once and
   * nothing is read back: one job per table. No-op tables are not
   * rewritten (reported 0, as the reference skips empty-SET tables).
   */
  def apply(plan: Plan, catalog: Map[String, DataFrame], outDir: String): Map[String, Long] =
    Jobs.inParallel(plan.tables) { pt =>
      val df = dfFor(catalog, pt)
      if (isNoop(df, pt.columns)) pt.table -> 0L
      else Jobs.named(df.sparkSession, s"Engine.apply ${pt.table}") {
        val rows = Observation()
        df.select(compileTable(df, pt.columns): _*)
          .observe(rows, count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(outPath(outDir, pt))
        // read only after the write returned: the metrics are then complete
        pt.table -> rows.get("n").asInstanceOf[Long]
      }
    }.toMap

  private def outPath(outDir: String, pt: PlannedTable): String =
    s"$outDir/${pt.table.replace('.', '_')}"

  /**
   * Rehearsed dry run: executes the FULL apply path — transform and write —
   * against a scratch directory, then deletes the artifacts. The plain
   * [[dryRun]] counts rows without writing, which is strictly safer but
   * never rehearses the write path; the reference's dry-run runs its real
   * UPDATEs inside a transaction and rolls back (`executor.ts:98-137`), so
   * write-time failures (permissions, disk, codec, schema) surface at
   * dry-run time there. This mode restores that property: any write error
   * propagates, and on success only the counts survive.
   *
   * Artifacts go to a FRESH unique subdirectory of `scratchDir`, and only
   * that subdirectory is deleted — pre-existing contents of a reused (or
   * mistyped) scratch path are never touched.
   */
  def dryRunRehearsed(plan: Plan, catalog: Map[String, DataFrame],
      scratchDir: String): Map[String, Long] = {
    val rehearseDir = new java.io.File(scratchDir,
      s"rehearse-${java.util.UUID.randomUUID()}")
    try apply(plan, catalog, rehearseDir.toString)
    finally deleteRecursively(rehearseDir)
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty)
      .foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Driver-side total, as the reference's report sums (`main.ts:80-83`). */
  def totalRows(counts: Map[String, Long]): Long = counts.values.sum

  /** Columns of `df` the plan leaves byte-identical: everything except the
    * planned columns whose effective strategy still transforms. */
  def untouchedColumns(df: DataFrame, planned: Seq[PlannedColumn]): Seq[String] = {
    val transformed = effective(df, planned).collect {
      case (p, eff) if isTransforming(eff) => p.column
    }.toSet
    df.schema.fieldNames.toSeq.filterNot(transformed)
  }

  /**
   * Post-apply integrity validation: for each written table, the
   * order-independent checksum (see [[graft.operators.Scale.tableChecksum]])
   * of the UNTOUCHED columns must match between source and output — the
   * transform may not corrupt what it was not asked to change. Throws on
   * the first mismatch in plan order; returns per-table digests for the
   * report. One job for all tables: every table's source and written
   * output, each tagged `(table, side)`, are row-hashed in one union and
   * reduced by one grouped sum (the checksum is additively mergeable), so
   * nothing but two digests per table reach the driver — validating a
   * 100 TB apply costs bandwidth, not memory. Each output is read with its
   * own footer's schema ([[Read.parquet]], no job): a dropped untouched
   * column must fail to resolve, not read back as nulls.
   */
  def validateApply(plan: Plan, catalog: Map[String, DataFrame],
      outDir: String): Map[String, String] = {
    val tables = plan.tables.map(pt => (pt, dfFor(catalog, pt)))
      .filter { case (pt, src) => !isNoop(src, pt.columns) }
    if (tables.isEmpty) return Map.empty
    val spark = tables.head._2.sparkSession
    val outs = tables.map { case (pt, _) =>
      Read.parquet(spark, outPath(outDir, pt)) }
    val untouched = tables.map { case (pt, src) => untouchedColumns(src, pt.columns) }
    val hashed = tables.zip(outs).zip(untouched).flatMap { case (((pt, src), out), cols) =>
      Seq("source" -> src, "output" -> out).map { case (side, df) =>
        df.select(lit(pt.table).as("table"), lit(side).as("side"),
          Scale.rowChecksum(cols).as("h"))
      }
    }
    val rows = Jobs.named(spark, "Engine.validateApply") {
      Scale.checksumBy(hashed.reduce(_ union _), Seq("table", "side"), col("h"))
        .collect()
    }
    val digests = rows.map(r =>
      (r.getString(0), r.getString(1)) -> s"${r.get(2)}:${r.getLong(3)}").toMap
    // an empty side forms no group; tableChecksum's one global row over
    // it renders its null sum as "null"
    def digest(table: String, side: String) =
      digests.getOrElse((table, side), "null:0")
    tables.zip(untouched).map { case ((pt, _), cols) =>
      val (a, b) = (digest(pt.table, "source"), digest(pt.table, "output"))
      if (a != b) throw new IllegalStateException(
        s"integrity check failed for ${pt.table}: untouched columns " +
          s"${cols.mkString(",")} changed ($a -> $b)")
      pt.table -> a
    }.toMap
  }
}
