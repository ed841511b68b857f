package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/**
 * The benchmark's JVM side: starts one local session, generates the
 * workload's inputs from the seed, warms up, then runs the workload's
 * operation in a closed loop (one client) for the requested seconds. It
 * writes every sample, the set-up times and, when traced, the per-layer
 * counters and spans to one JSON file; `perfbench/run.py` turns that into
 * the metrics.
 *
 * Usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1
 *   --cores C --work DIR --out FILE [--plant-fault] [--digest]
 */
object Main {
  /** Workload sizes: each op is seconds of work at 4 cores, so a run
    * holds several ops and reports their median. */
  val AnonymizeRows = (40000L, 20000L, 20000L) // users, activity, metrics
  val BoardSample = 6
  val BoardSf = 0.005
  val AnnVectors = 3000L
  val AnnBatches = 1
  val AnnBatchSize = 50
  val CurateDocs = 2000L
  val CurateFamilies = 100L
  val CuratePerFamily = 4

  def main(args: Array[String]): Unit = {
    def opt(k: String): Option[String] = {
      val i = args.indexOf(s"--$k")
      if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
    }
    def req(k: String) = opt(k).getOrElse(sys.error(s"--$k required"))
    val workload = req("workload")
    val seed = req("seed").toLong
    val seconds = req("seconds").toDouble
    val trace = req("trace") == "1"
    val cores = opt("cores").map(_.toInt).getOrElse(4)
    val work = new java.io.File(req("work")).getAbsolutePath
    val out = req("out")
    val plantFault = args.contains("--plant-fault")

    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val spans = new Spans
      val w: Workload = workload match {
        case "anonymize" =>
          val (u, a, m) = AnonymizeRows
          new AnonymizeWorkload(spark, spans, work, seed, plantFault, u, a, m)
        case "board" =>
          new BoardWorkload(spark, spans, work, seed, plantFault, BoardSample,
            BoardSf)
        case "ann" =>
          new AnnWorkload(spark, spans, work, seed, plantFault, AnnVectors,
            AnnBatches, AnnBatchSize)
        case "curate" =>
          new CurateWorkload(spark, spans, work, seed, plantFault, CurateDocs,
            CurateFamilies, CuratePerFamily)
        case other => sys.error(s"unknown workload: $other")
      }
      if (args.contains("--digest")) {
        w.generate()
        write(out, Json.obj("digests" -> Json.obj(w.digests().map {
          case (k, v) => k -> Json.str(v) }: _*)))
      } else run(spark, w, workload, seconds, trace, cores, sessionS, out)
    } catch {
      case e: Throwable => spark.stop(); throw e
    }
    // the result is written and the caller deletes the work directory, so
    // end the JVM here instead of waiting about a second for spark.stop()
    Runtime.getRuntime.halt(0)
  }

  private def run(spark: SparkSession, w: Workload, workload: String,
      seconds: Double, trace: Boolean, cores: Int, sessionS: Double,
      out: String): Unit = {
    val tg = System.nanoTime()
    w.generate()
    val genS = (System.nanoTime() - tg) / 1e9
    val tp = System.nanoTime()
    w.prepare()
    // warm-up at the measured fixture and size, checked like any other op
    val warm = (0 until w.warmupRounds * w.roundSize).map(w.op)
    clear(spark)
    val warmS = (System.nanoTime() - tp) / 1e9
    val counters = if (trace) Some(new SparkCounters(spark).install()) else None
    w.counters = counters

    val loopStart = w.spans.now
    val tl = System.nanoTime()
    val taken = scala.collection.mutable.ArrayBuffer.empty[Sample]
    var i = warm.size
    // closed loop in whole rounds (board: one pass over its sample), at
    // least two ops; start the next round while it is expected to end no
    // more than half a round past the deadline
    val round = w.roundSize
    def elapsed = (System.nanoTime() - tl) / 1e9
    def lastRound = taken.takeRight(round).map(_.seconds).filterNot(_.isNaN).sum
    while (taken.size < 2 || taken.size % round != 0 ||
        elapsed + 0.5 * lastRound < seconds) {
      taken += (try w.op(i) catch {
        case e: Throwable => Sample(Double.NaN, 0L, Some(e.toString.take(300)))
      })
      clear(spark)
      i += 1
    }
    val loopEnd = w.spans.now
    val (layers, sites) = counters.map(_.snapshot(cores))
      .getOrElse((Map.empty[String, Double], Nil))
    val spans = w.spans.within(loopStart, loopEnd)
    val ops = taken.size.toDouble
    def perCall(names: String*) = {
      val ss = spans.filter(s => names.contains(s.name))
      if (ss.isEmpty) 0.0 else ss.map(_.seconds).sum / ss.size
    }
    def perOp(names: String*) =
      spans.filter(s => names.contains(s.name)).map(_.seconds).sum / ops
    val layerMetrics: Seq[(String, Double)] = if (!trace) Nil else Seq(
      "configio.generate_s" -> perOp("ConfigIO.generateConfig"),
      "planner.build_s" -> perOp("Planner.preflight", "Planner.buildPlan"),
      "engine.dryrun_s" -> perOp("Engine.dryRun"),
      "engine.apply_s" -> perOp("Engine.apply"),
      "engine.validate_s" -> perOp("Engine.validateApply"),
      "queries.build_s" -> perOp("SparkEntry.queries"),
      "ann.build_s" -> perOp("Ann.build"),
      "ann.search_call_s" -> perCall("Ann.search"),
      "curate.run_s" -> perOp("Curate.run"),
      "curate.write_s" -> perOp("Curate.write")) ++
      layers.toSeq.map { case (k, v) =>
        k -> (if (k == "spark.slot_busy_ratio") v else v / ops)
      }

    val wSpecific = w.details()
    val extra = w match {
      case b: BoardWorkload => Seq(
        "fixture" -> Json.str(b.dir),
        "oracle" -> Json.obj(b.oracle.toSeq.sorted.map { case (k, v) =>
          k -> Json.str(v) }: _*))
      case _ => Nil
    }
    def sampleJson(s: Sample) = Json.obj(
      "s" -> Json.num(s.seconds), "items" -> s.items.toString,
      "error" -> s.error.map(Json.str).getOrElse("null"),
      "label" -> Json.str(s.label), "rows" -> s.rows.toString)
    val json = Json.obj((Seq(
      "workload" -> Json.str(workload),
      "cores" -> cores.toString,
      "session_s" -> Json.num(sessionS),
      "gen_s" -> Json.num(genS),
      "warmup_s" -> Json.num(warmS),
      "warmup" -> Json.arr(warm.map(sampleJson)),
      "samples" -> Json.arr(taken.toSeq.map(sampleJson)),
      "loop_s" -> Json.num(counters.map(_.windowSeconds)
        .getOrElse((loopEnd - loopStart) / 1e9)),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "details" -> Json.obj(wSpecific.toSeq.sorted.map { case (k, v) =>
        k -> Json.num(v) }: _*),
      "layers" -> Json.obj((layerMetrics ++ wSpecific).map { case (k, v) =>
        k -> Json.num(v) }: _*),
      "span_p50_s" -> Json.obj(spans.groupBy(_.name).toSeq.sortBy(_._1).map {
        case (k, ss) => k -> Json.num(median(ss.map(_.seconds))) }: _*),
      "job_s_by_call_site" -> Json.obj(sites.take(15).map { case (k, v) =>
        k -> Json.num(v) }: _*),
      "self_time" -> Json.arr(w.spans.breakdown(spans).map {
        case (name, calls, total, self) => Json.obj("span" -> Json.str(name),
          "calls" -> calls.toString, "total_s" -> Json.num(total),
          "self_s" -> Json.num(self)) }),
      "spans" -> Json.arr(w.spans.all.map(s => Json.obj(
        "id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "start_s" -> Json.num(s.startNs / 1e9),
        "end_s" -> Json.num(s.endNs / 1e9))))) ++ extra): _*)
    write(out, json)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Drops every cached block between ops, as graft.Bench does, so an op
    * never reuses a previous op's persisted data. */
  private def clear(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** The process's peak resident set (VmHWM), in MB. */
  private def peakRssMb: Double = scala.io.Source
    .fromFile("/proc/self/status").getLines()
    .find(_.startsWith("VmHWM:"))
    .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)

  private def write(path: String, json: String): Unit =
    Files.writeString(Paths.get(path), json)

  /** The session graft.Bench builds, with Spark's scratch space kept under
    * the run's work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
