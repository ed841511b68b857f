package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Engine execution semantics (reference `src/executor/executor.ts:87-147`). */
class EngineSpec extends SparkSpec {

  private def customers = spark.createDataFrame(
    java.util.Arrays.asList(
      Row(1L, "alice", 10.5), Row(2L, null, 20.0)),
    StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("bal", DoubleType))))

  test("compileTable fuses all transforms into one select; untouched cols pass") {
    val planned = Seq(
      PlannedColumn("name", Strategy.Redact),
      PlannedColumn("bal", Strategy.Redact)) // NUMBER → downgraded KEEP
    val out = customers.select(Engine.compileTable(customers, planned): _*)
    assert(out.columns.toSeq == Seq("id", "name", "bal"))
    val rows = out.orderBy("id").collect()
    assert(rows(0).getString(1) == "***" && rows(0).getDouble(2) == 10.5)
    assert(rows(1).getString(1) == "***")
  }

  test("missing columns: REDACT-family downgrades (group OTHER), HASH/SET_NULL fail") {
    // reference executor.ts:53 gives a missing column group OTHER, so
    // EMAIL/REDACT/TRUNCATE downgrade to KEEP and the run proceeds...
    for (st <- Seq(Strategy.Redact, Strategy.EmailFake, Strategy.Truncate)) {
      val planned = Seq(PlannedColumn("nope", st),
        PlannedColumn("name", Strategy.Redact))
      val out = customers.select(Engine.compileTable(customers, planned): _*)
      assert(out.columns.toSeq == Seq("id", "name", "bal"))
    }
    // ...while HASH (STRING|OTHER ok) and SET_NULL survive normalization
    // and fail loudly, as the reference's UPDATE on a missing column would
    for (st <- Seq(Strategy.HashSha256, Strategy.SetNull)) {
      assertThrows[IllegalArgumentException](
        Engine.compileTable(customers, Seq(PlannedColumn("nope", st))))
      // and a plan containing them is NOT a silent no-op
      assert(!Engine.isNoop(customers, Seq(PlannedColumn("nope", st))))
      assertThrows[IllegalArgumentException](
        Engine.dryRun(Plan("t", Seq(PlannedTable("public.c", "public", "c",
          Seq(PlannedColumn("nope", st))))), Map("c" -> customers)))
    }
    // a plan whose ONLY entries are downgraded-missing columns is a no-op
    assert(Engine.isNoop(customers, Seq(PlannedColumn("nope", Strategy.Redact))))
  }

  test("no-op tables are skipped and reported as 0 (executor.ts:120-124)") {
    val plan = Plan("t", Seq(
      PlannedTable("public.c", "public", "c",
        Seq(PlannedColumn("name", Strategy.Redact))),
      PlannedTable("public.noop", "public", "noop",
        Seq(PlannedColumn("name", Strategy.Keep),
          PlannedColumn("bal", Strategy.Redact), // downgraded → still no-op
          PlannedColumn("id", Strategy.Unknown("X"))))))
    val counts = Engine.dryRun(plan, Map("c" -> customers, "noop" -> customers))
    assert(counts == Map("public.c" -> 2L, "public.noop" -> 0L))
    assert(Engine.totalRows(counts) == 2L)
    // transform excludes the no-op table entirely
    assert(Engine.transform(plan, Map("c" -> customers, "noop" -> customers))
      .keySet == Set("public.c"))
  }

  test("a planned table absent from the catalog throws (no silent drop)") {
    val plan = Plan("t", Seq(PlannedTable("public.ghost", "public", "ghost",
      Seq(PlannedColumn("name", Strategy.Redact)))))
    assertThrows[NoSuchElementException](Engine.dryRun(plan, Map.empty))
  }

  test("apply writes transformed parquet and counts from the written files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-apply").toString
    val plan = Plan("t", Seq(PlannedTable("public.c", "public", "c",
      Seq(PlannedColumn("name", Strategy.HashSha256)))))
    val counts = Engine.apply(plan, Map("c" -> customers), dir)
    assert(counts == Map("public.c" -> 2L))
    val back = spark.read.parquet(s"$dir/public_c").orderBy("id").collect()
    assert(back(0).getString(1).matches("[0-9a-f]{32}"))
    assert(back(1).getString(1) == "d41d8cd98f00b204e9800998ecf8427e") // NULL → md5('')
  }

  test("rehearsed dry run executes the write path and cleans up after itself") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rehearse").toString
    val scratch = s"$dir/scratch"
    val plan = Plan("t", Seq(PlannedTable("public.c", "public", "c",
      Seq(PlannedColumn("name", Strategy.HashSha256)))))
    // pre-existing content in the scratch dir must survive the rehearsal
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(scratch))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(scratch, "keep.txt"), "precious")
    val counts = Engine.dryRunRehearsed(plan, Map("c" -> customers), scratch)
    assert(counts == Map("public.c" -> 2L))
    // rehearsal artifacts are gone; only the counts (and what was already
    // in the scratch dir) survive
    val left = new java.io.File(scratch).list().toSeq
    assert(left == Seq("keep.txt"))
  }

  test("rehearsed dry run surfaces write failures that plain dryRun cannot") {
    // The write target is blocked by a regular FILE where a directory is
    // needed — the kind of sink-side failure (permissions, disk, layout)
    // the reference's write-then-ROLLBACK rehearsal would catch in its
    // transaction, and a count-only dry run never exercises.
    val dir = java.nio.file.Files.createTempDirectory("graft-rehearse2")
    val blocked = dir.resolve("scratch")
    java.nio.file.Files.writeString(blocked, "not a directory")
    val plan = Plan("t", Seq(PlannedTable("public.c", "public", "c",
      Seq(PlannedColumn("name", Strategy.HashSha256)))))
    // plain dry run: counts fine, no hint the apply would fail
    assert(Engine.dryRun(plan, Map("c" -> customers)) == Map("public.c" -> 2L))
    // rehearsed dry run: the write failure surfaces now, not at apply time
    assertThrows[Exception](
      Engine.dryRunRehearsed(plan, Map("c" -> customers), blocked.toString))
  }

  test("CLI dispatch: --dryrun --rehearse reaches the rehearsal; unknown flags are rejected") {
    val out = java.nio.file.Files.createTempDirectory("graft-cli").toString
    val data = "/root/testdata/sf0.001"
    Anonymize.run(spark, Array("--configGen", "--data", data, "--out", out))
    // configGen ships all-KEEP rules for these column names; give the dry
    // run something to actually write during the rehearsal
    val cfg = ConfigIO.readConfig(s"$out/${Anonymize.ConfigFile}")
    ConfigIO.writeConfig(s"$out/${Anonymize.ConfigFile}", cfg.copy(
      columnStrategy = cfg.columnStrategy :+ ("HASH_SHA256" -> Seq("c_name"))))
    Anonymize.run(spark, Array("--dryrun", "--rehearse", "--data", data, "--out", out))
    val report = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/${Anonymize.DryrunReport}"))
    assert(report.contains("\"public.customer\":150"))
    // a typo'd flag must fail loudly, not silently downgrade the dry run
    assertThrows[RuntimeException](Anonymize.run(spark,
      Array("--dryrun", "--rehearsal", "--data", data, "--out", out)))
    // a KNOWN flag out of its mode's scope fails too: --validate on a
    // dryrun would otherwise be accepted-and-ignored, letting the user
    // believe the integrity check was armed
    assertThrows[RuntimeException](Anonymize.run(spark,
      Array("--dryrun", "--validate", "--data", data, "--out", out)))
  }

  test("validateApply proves untouched columns survived; catches corruption") {
    val out = java.nio.file.Files.createTempDirectory("graft-validate").toString
    val plan = Plan("t", Seq(PlannedTable("public.c", "public", "c",
      Seq(PlannedColumn("name", Strategy.HashSha256)))))
    val catalog = Map("c" -> customers)
    Engine.apply(plan, catalog, out)
    // untouched columns = everything but the hashed "name"
    assert(Engine.untouchedColumns(customers, plan.tables.head.columns) ==
      customers.columns.toSeq.filterNot(_ == "name"))
    val digests = Engine.validateApply(plan, catalog, out)
    assert(digests.keySet == Set("public.c"))
    // corrupt an untouched column in the written output → loud failure
    val broken = spark.read.parquet(s"$out/public_c")
      .withColumn("id", org.apache.spark.sql.functions.col("id") + 1)
    broken.write.mode("overwrite").parquet(s"$out/tmp_broken")
    spark.read.parquet(s"$out/tmp_broken").write.mode("overwrite")
      .parquet(s"$out/public_c")
    assertThrows[Exception](Engine.validateApply(plan, catalog, out))
  }

  // two tables, both transformed: c hashes name, d redacts name
  private def twoTables = Plan("t", Seq(
    PlannedTable("public.c", "public", "c",
      Seq(PlannedColumn("name", Strategy.HashSha256))),
    PlannedTable("public.d", "public", "d",
      Seq(PlannedColumn("name", Strategy.Redact)))))

  private def overwrite(path: String,
      f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit = {
    val tmp = s"$path-tmp"
    f(spark.read.parquet(path)).write.mode("overwrite").parquet(tmp)
    spark.read.parquet(tmp).write.mode("overwrite").parquet(path)
  }

  test("validateApply's one-job digests equal tableChecksum over each source's untouched columns") {
    import org.apache.spark.sql.functions.col
    val out = java.nio.file.Files.createTempDirectory("graft-validate2").toString
    val catalog = Map("c" -> customers,
      "d" -> customers.withColumn("id", col("id") + 10))
    Engine.apply(twoTables, catalog, out)
    val digests = Engine.validateApply(twoTables, catalog, out)
    val want = twoTables.tables.map { pt =>
      val src = catalog(pt.name)
      val r = graft.operators.Scale.tableChecksum(src,
        Engine.untouchedColumns(src, pt.columns)).head()
      pt.table -> s"${r.get(0)}:${r.getLong(1)}"
    }.toMap
    assert(digests == want)
    assert(digests("public.c") != digests("public.d"))
  }

  test("an empty source table: apply observes 0 rows and validateApply passes") {
    val out = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val plan = Plan("t", Seq(PlannedTable("public.c", "public", "c",
      Seq(PlannedColumn("name", Strategy.HashSha256)))))
    // a local relation and an empty parquet scan
    val local = spark.createDataFrame(java.util.Collections.emptyList[Row](),
      customers.schema)
    customers.limit(0).write.mode("overwrite").parquet(s"$out/src_empty")
    for (empty <- Seq(local, spark.read.parquet(s"$out/src_empty"))) {
      val catalog = Map("c" -> empty)
      assert(Engine.apply(plan, catalog, out) == Map("public.c" -> 0L))
      val r = graft.operators.Scale.tableChecksum(empty, Seq("id", "bal")).head()
      assert(Engine.validateApply(plan, catalog, out) ==
        Map("public.c" -> s"${r.get(0)}:${r.getLong(1)}"))
    }
  }

  test("validateApply names the corrupted table when it is the second of two") {
    import org.apache.spark.sql.functions.{col, when}
    val out = java.nio.file.Files.createTempDirectory("graft-validate3").toString
    val catalog = Map("c" -> customers, "d" -> customers)
    Engine.apply(twoTables, catalog, out)
    overwrite(s"$out/public_d",
      _.withColumn("bal", when(col("id") === 2, 0.0).otherwise(col("bal"))))
    val e = intercept[IllegalStateException](
      Engine.validateApply(twoTables, catalog, out))
    assert(e.getMessage.contains("integrity check failed for public.d"))
    assert(!e.getMessage.contains("public.c"))
  }

  test("validateApply fails loudly when an output lost an untouched column") {
    val out = java.nio.file.Files.createTempDirectory("graft-validate4").toString
    val plan = Plan("t", Seq(PlannedTable("public.c", "public", "c",
      Seq(PlannedColumn("name", Strategy.HashSha256)))))
    val catalog = Map("c" -> customers)
    Engine.apply(plan, catalog, out)
    overwrite(s"$out/public_c", _.drop("bal"))
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Engine.validateApply(plan, catalog, out))
    assert(e.getMessage.contains("bal"))
  }

  test("CLI --audit writes a k-anonymity/l-diversity report over a table") {
    val out = java.nio.file.Files.createTempDirectory("graft-audit").toString
    Anonymize.run(spark, Array("--audit", "--data", "/root/testdata/sf0.001",
      "--out", out, "--table", "customer",
      "--qi", "c_nationkey,c_mktsegment", "--sensitive", "c_acctbal",
      "--k", "3", "--l", "2"))
    val report = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/${Anonymize.AuditReport}"))
    // 150 customers over 25x5 QI classes: every metric present and sane
    assert(report.contains("\"mode\":\"audit\""))
    assert(report.contains("\"table\":\"customer\""))
    assert(report.contains("\"nClasses\":") && report.contains("\"kAtRisk\":"))
    assert(report.contains("\"minL\":"))
    // unknown QI column fails loudly
    assertThrows[RuntimeException](Anonymize.run(spark,
      Array("--audit", "--data", "/root/testdata/sf0.001", "--out", out,
        "--table", "customer", "--qi", "no_such_col")))
  }

  test("CLI --audit --sensitive-bin adds a t-closeness summary to the report") {
    val out = java.nio.file.Files.createTempDirectory("graft-audit-t").toString
    Anonymize.run(spark, Array("--audit", "--data", "/root/testdata/sf0.001",
      "--out", out, "--table", "customer", "--qi", "c_nationkey",
      "--sensitive", "c_acctbal", "--sensitive-bin", "c_mktsegment",
      "--k", "3", "--l", "2", "--t", "0.3"))
    val report = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/${Anonymize.AuditReport}"))
    assert(report.contains("\"t\":0.3"))
    assert(report.contains("\"sensitiveBin\":\"c_mktsegment\""))
    assert(report.contains("\"tAtRisk\":") && report.contains("\"tMax\":"))
    // the k/l metrics still ride along in the same report
    assert(report.contains("\"kAtRisk\":") && report.contains("\"minL\":"))
    // unknown bin column fails loudly
    assertThrows[RuntimeException](Anonymize.run(spark,
      Array("--audit", "--data", "/root/testdata/sf0.001", "--out", out,
        "--table", "customer", "--qi", "c_nationkey",
        "--sensitive-bin", "no_such_col")))
  }
}
