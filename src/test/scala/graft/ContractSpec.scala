package graft

/**
 * Driver-contract regression net: the queries/oracle key relationship stays
 * consistent, and every registered query actually executes at sf0.001.
 */
class ContractSpec extends SparkSpec {

  /** Queries intentionally registered WITHOUT a SQL oracle (engine-specific
    * hashing or training); the driver records a rows-only check for these
    * and ScalaTest owns their semantics. */
  private val rowsOnly = Set.empty[String]

  test("board loop: a throwing query yields its failure and no duration") {
    val dir = "/root/testdata/sf0.001"
    val boom = new IllegalStateException("boom")
    assert(SparkEntry.timed(spark, (_, _) => throw boom, dir) == Left(boom))
    // a failure inside the timed count, not the frame build, is caught too
    val late = SparkEntry.timed(spark,
      (s, _) => s.range(3).toDF().filter("assert_true(id < 0) is null"), dir)
    assert(late.isLeft)
    assert(SparkEntry.timed(spark, (s, _) => s.range(3).toDF(), dir)
      .exists(_ >= 0.0))
  }

  test("query names are unique across the five families") {
    // a clash would make the name-keyed maps keep one entry silently
    val dups = SparkEntry.defs.groupBy(_.name).collect {
      case (name, ds) if ds.size > 1 => name
    }
    assert(dups.isEmpty, s"query names registered more than once: $dups")
    assert(SparkEntry.queries.size == SparkEntry.defs.size)
    assert(SparkEntry.oracleSql.size == SparkEntry.defs.size)
  }

  test("every oracle key names a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  test("every query without an oracle is on the known rows-only list") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing == rowsOnly,
      s"unexpected oracle-less queries: ${missing -- rowsOnly}; " +
        s"stale rows-only entries: ${rowsOnly -- missing}")
  }

  test("every oracle is deterministic: a full ORDER BY is present") {
    // heuristic: the LAST "ORDER BY" must come after the LAST "OVER" so a
    // window-only ORDER BY (which does not order the result) cannot satisfy
    // the check on its own
    val unordered = SparkEntry.oracleSql.collect {
      case (name, sql)
          if sql.toUpperCase.lastIndexOf("ORDER BY") <
            math.max(0, sql.toUpperCase.lastIndexOf("OVER")) ||
            !sql.toUpperCase.contains("ORDER BY") => name
    }
    assert(unordered.isEmpty, s"oracles without outer ORDER BY: $unordered")
  }

  test("every registered query executes at sf0.001; no oversized DECIMAL") {
    // Standing oracle convention (SURVEY §5, from the r13 verdict): no
    // DECIMAL output column may carry values above 2^53 — the driver's
    // compare coerces big DECIMALs lossily (r12/r13's only red rows were
    // the two DECIMAL(38,0)-above-2^53 queries, while BIGINTs up to
    // 6.7e17 pass). Output such totals as BIGINT instead. The guard runs
    // at sf0.001 where totals are 10–100x smaller than the driver's
    // sf0.01/sf0.1 runs, so it fails at 2^53/128 to keep that headroom.
    import org.apache.spark.sql.functions.{abs, col, max}
    import org.apache.spark.sql.types.DecimalType
    val limit = BigDecimal(1L << 53) / 128
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val df = fn(spark, "/root/testdata/sf0.001")
          val decCols = df.schema.fields.collect {
            case f if f.dataType.isInstanceOf[DecimalType] => f.name
          }.toSeq
          if (decCols.isEmpty) { df.count(); None }
          else {
            val row = df.agg(max(abs(col(decCols.head))),
              decCols.tail.map(c => max(abs(col(c)))): _*).head()
            val over = decCols.zipWithIndex.collect {
              case (c, i) if !row.isNullAt(i) &&
                  BigDecimal(row.getDecimal(i)) > limit =>
                s"$c=${row.getDecimal(i)}"
            }
            if (over.isEmpty) None
            else Some(s"$name: DECIMAL output above 2^53/128 " +
              s"(driver-compare hazard; emit BIGINT): ${over.mkString(", ")}")
          }
        } catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("every registered query executes on EMPTY and ONE-ROW fixtures") {
    // The degenerate-input sweep as a single harness instead of per-
    // operator spot checks: schema-preserving limit(n) copies of every
    // fixture table, then the full query map against each. Catches the
    // whole class of empty-input failures (head() on nothing, seeds from
    // an empty corpus, aggregates feeding NULL into required casts) for
    // every FUTURE query too — registration alone buys the guarantee.
    for (n <- Seq(0, 1)) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_fix$n").toString
      Tables.names.foreach { t =>
        spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet")
          .limit(n).write.parquet(s"$dir/$t.parquet")
      }
      val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
        case (name, fn) =>
          try { fn(spark, dir).count(); None }
          catch { case e: Throwable => Some(s"[$n-row] $name: ${e.getMessage}") }
      }
      assert(failures.isEmpty, failures.mkString("\n"))
    }
  }
}
