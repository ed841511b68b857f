package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session("graft-bench")
    // Warm the JVM/codegen/parquet-reader paths once so the first measured
    // query doesn't absorb ~4s of one-time startup cost. Best-effort: a
    // broken sf dir should still fall through to the per-query try/catch.
    try Read.parquet(spark, s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count().count()
    catch { case _: Throwable => () }
    // Min-of-2 by default: single-shot timings on a shared host swing 2-4x
    // on unlucky queries (observed: a 0.6s scan-only query reading 4.0s in
    // one run). The cache is cleared BETWEEN reps, so every rep does the
    // full cold-cache work — the min removes host noise, not computation.
    // SPARK_GRAFT_REPS overrides.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val selected = SparkEntry.selectedQueries
    SparkEntry.warm(spark, selected, sfDir)
    // Reps are INTERLEAVED, not consecutive: sweep every query once, then
    // repeat the whole sweep, and take the per-query min ACROSS sweeps. A
    // sustained host-contention window (minutes long) then lands on one
    // sweep's worth of *different* queries instead of inflating both reps
    // of the same block of queries — contention decorrelates from query
    // identity. (Consecutive min-of-2 only defends against point spikes.)
    val names = selected.keys.toSeq
    val best = scala.collection.mutable.Map.empty[String, Double]
    // A query that throws in any sweep is named under "failed", kept out
    // of best/total and skipped in later sweeps; the run then exits 1.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // Per-sweep wall-clock stamps: when a round's numbers drift uniformly,
    // these let the reader attribute it to a host-contention window (one
    // slow sweep, one normal) instead of re-litigating per-query deltas.
    def stamp(tag: String): Unit = println(
      s"""{"metric":"sweep","event":"$tag","epoch_ms":${System.currentTimeMillis()}}""")
    for (rep <- 1 to reps) {
      stamp(s"start_$rep")
      for (name <- names if !failed(name))
        SparkEntry.timed(spark, selected(name), sfDir) match {
          case Right(dt) => best(name) = best.get(name).fold(dt)(math.min(_, dt))
          case Left(e) =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            failed += name; best -= name
        }
      stamp(s"end_$rep")
    }
    def fmt(v: Double) = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = names.filter(best.contains).map(k => s"\"" + k + "\":" + fmt(best(k)))
      .mkString("{", ",", "}")
    val total = if (best.nonEmpty) best.values.sum else 0.0
    // present only when something failed: a green run's lines are unchanged
    val failedKey = if (failed.isEmpty) ""
      else failed.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
    val full = s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs$failedKey,"sf":"$sfDir"}"""
    // Full per-query detail: one line on stdout AND a file, for humans and
    // local tooling.
    println(full)
    // Anchored via env when running from outside the repo (the java-direct
    // workflow); a failed write is reported, never silently swallowed —
    // stale numbers in an old file must not pass as current.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    try {
      val out = new java.io.File(outPath).getAbsoluteFile
      out.getParentFile.mkdirs()
      val w = new java.io.PrintWriter(out); try w.println(full) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
    // The harness captures a bounded log TAIL; the ~2.5KB per-query line can
    // get its head (including "value":) truncated away. So the LAST line
    // before exit is a short summary-only JSON that always fits: this is the
    // line the driver's parse must find — and it carries the slowest-20
    // queries inline, so regressions in the truncated half of the full
    // per-query map stay visible from the artifact alone.
    val slowest = best.toSeq.sortBy { case (k, v) => (-v, k) }.take(20)
      .map { case (k, v) => s"\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n":${best.size},"slowest":$slowest$failedKey,"sf":"$sfDir"}""")
    if (failed.nonEmpty) sys.exit(1)
  }
}
