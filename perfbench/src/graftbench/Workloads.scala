package graftbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.{ConfigIO, Curate, Engine, Planner, SparkEntry}
import graft.Ann

/** One timed operation: its wall seconds, the items it processed, and the
  * first failed check (None = every check passed). */
final case class Sample(seconds: Double, items: Long, error: Option[String],
    label: String = "", rows: Long = -1L)

/**
 * A workload: seeded input generation, one operation the closed loop
 * repeats, and the checks on that operation's outputs. `op` returns the
 * items processed and runs the checks after the timed part, so a thrown
 * or wrong operation is a failed sample, never a fast one.
 */
abstract class Workload(val spark: SparkSession, val spans: Spans,
    val work: String, val seed: Long, val plantFault: Boolean) {
  /** Writes the inputs under `work` (repeatable: overwrites). */
  def generate(): Unit
  /** Digests of the generated inputs (content only). */
  def digests(): Seq[(String, String)]
  /** Opens the generated inputs and computes expected answers. */
  def prepare(): Unit = ()
  /** Runs operation `i`: the timed part, then the checks. */
  def op(i: Int): Sample
  /** Ops in one round: the loop and the warm-up run whole rounds. */
  def roundSize: Int = 1
  /** Rounds run before the timed loop. On 4 cores an op keeps getting
    * faster over its first runs while the JIT compiles the per-op planning
    * and scheduling code, so the warm-up runs until that slope has
    * flattened and the loop times the operation, not the slope. */
  def warmupRounds: Int = 3
  /** Workload-specific numbers for the detail line and the traced run. */
  def details(): Map[String, Double] = Map.empty

  /** Traced runs count Spark's counters only inside timed parts. */
  var counters: Option[SparkCounters] = None

  /** Times the op's work; its "op" span is the parent of the call spans,
    * so the op's self time is the benchmark's own glue between calls. */
  protected def timed[T](body: => T): (T, Double) = {
    counters.foreach(_.begin())
    val t0 = System.nanoTime()
    val r = try spans.span("op")(body) finally counters.foreach(_.end())
    (r, (System.nanoTime() - t0) / 1e9)
  }

  protected def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).map(walk).sum
      else if (f.getName.endsWith(".parquet")) f.length else 0L
    walk(new java.io.File(path))
  }

  protected def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
}

/** The anonymization user cycle over a seeded three-table database. */
final class AnonymizeWorkload(spark: SparkSession, spans: Spans, work: String,
    seed: Long, plantFault: Boolean, users: Long, activity: Long,
    metrics: Long) extends Workload(spark, spans, work, seed, plantFault) {
  // ops 1-5 on 4 cores: 7.2, 3.5, 2.7, 2.2, then about 1.9 s
  override def warmupRounds: Int = 4
  private val dbDir = s"$work/db"
  private val outDir = s"$work/out"
  private val sizes = Map("users" -> users, "activity" -> activity,
    "metrics" -> metrics)
  private var catalog: Map[String, DataFrame] = Map.empty

  def generate(): Unit = Gen.writeAll(
    Gen.anonymizeDb(spark, seed, users, activity, metrics).toSeq.map {
      case (t, df) => s"$dbDir/$t" -> df
    })
  def digests(): Seq[(String, String)] = sizes.keys.toSeq.sorted.map(t =>
    t -> Gen.digest(spark.read.parquet(s"$dbDir/$t")))
  // a seeded ~300-row sample of the PII inputs, checked after every op
  private def inSample(df: DataFrame) =
    df.filter(Gen.u(seed, "check", col("id")) < lit(300.0 / users))
  private var srcUsers: Map[Long, Seq[String]] = Map.empty
  private var srcMobile: Map[Long, String] = Map.empty

  override def prepare(): Unit = {
    catalog = sizes.keys.map(t => t -> spark.read.parquet(s"$dbDir/$t")).toMap
    srcUsers = inSample(catalog("users"))
      .select("id", "email", "phone", "username", "status").collect()
      .map(r => r.getLong(0) -> (1 to 4).map(r.getString)).toMap
    srcMobile = inSample(catalog("activity")).select("id", "mobile").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
  }

  def op(i: Int): Sample = {
    val ((dry, applied, validated), secs) = timed {
      val gen = spans.span("ConfigIO.generateConfig") {
        ConfigIO.generateConfig(catalog)
      }
      // the user's review step: flip `reviewed` before apply
      val cfg = gen.config.copy(reviewed = true)
      val errs = spans.span("Planner.preflight") {
        Planner.preflight(cfg, Planner.Apply)
      }
      require(errs.isEmpty, s"preflight: ${errs.mkString("; ")}")
      val plan = spans.span("Planner.buildPlan") {
        Planner.buildPlan(cfg, "2026-01-01T00:00:00Z")
      }
      val dry = spans.span("Engine.dryRun")(Engine.dryRun(plan, catalog))
      val applied = spans.span("Engine.apply") {
        Engine.apply(plan, catalog, outDir)
      }
      val validated = spans.span("Engine.validateApply") {
        Engine.validateApply(plan, catalog, outDir)
      }
      (dry, applied, validated)
    }
    Sample(secs, sizes.values.sum, check(dry, applied, validated.keySet))
  }

  private def check(dry: Map[String, Long], applied: Map[String, Long],
      validated: Set[String]): Option[String] = {
    val want = Map("public.users" -> users, "public.activity" -> activity,
      "public.metrics" -> 0L)
    if (dry != want) return Some(s"dryRun counts $dry, want $want")
    if (applied != want) return Some(s"apply counts $applied, want $want")
    if (validated != Set("public.users", "public.activity"))
      return Some(s"validateApply covered $validated")
    val outU0 = spark.read.parquet(s"$outDir/public_users")
    val outU = if (!plantFault) outU0 else outU0.withColumn("email",
      when(col("id") === 0, lit("planted@example.com")).otherwise(col("email")))
    val bad = outU.agg(
      count(lit(1)),
      sum(when(col("email").isNull ||
        !col("email").rlike("^[0-9a-f]{32}@example\\.com$"), 1).otherwise(0)),
      sum(when(col("address").isNull || col("address") =!= "***", 1)
        .otherwise(0)),
      sum(when(col("raw_payload").isNotNull, 1).otherwise(0))).head()
    if (bad.getLong(0) != users) return Some(s"users output rows ${bad.getLong(0)}")
    if (bad.getLong(1) != 0) return Some(s"${bad.getLong(1)} EMAIL_FAKE rows malformed")
    if (bad.getLong(2) != 0) return Some(s"${bad.getLong(2)} REDACT rows not ***")
    if (bad.getLong(3) != 0) return Some(s"${bad.getLong(3)} SET_NULL rows not null")
    // HASH / EMAIL_FAKE against the JDK md5 on the seeded sample
    def txt(v: String) = if (v == null) "" else v
    val got = inSample(outU).select("id", "email", "phone", "username", "status")
      .collect().map(r => r.getLong(0) -> (1 to 4).map(r.getString)).toMap
    if (got.keySet != srcUsers.keySet || got.isEmpty)
      return Some(s"users sample: ${got.size} rows, want ${srcUsers.size}")
    for ((id, Seq(email, phone, username, status)) <- srcUsers) {
      val Seq(oEmail, oPhone, oUsername, oStatus) = got(id)
      if (oEmail != md5hex(txt(email)) + "@example.com")
        return Some(s"EMAIL_FAKE mismatch at id $id")
      if (oPhone != md5hex(txt(phone))) return Some(s"HASH phone mismatch at id $id")
      if (oUsername != md5hex(txt(username)))
        return Some(s"HASH username mismatch at id $id")
      if (oStatus != status) return Some(s"KEEP status changed at id $id")
    }
    val gotMobile = inSample(spark.read.parquet(s"$outDir/public_activity"))
      .select("id", "mobile").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    if (gotMobile.keySet != srcMobile.keySet)
      return Some(s"activity sample: ${gotMobile.size} rows, want ${srcMobile.size}")
    srcMobile.collectFirst {
      case (id, m) if gotMobile(id) != md5hex(txt(m)) => s"HASH mobile mismatch at id $id"
    }
  }

  override def details(): Map[String, Double] = {
    val in = dirBytes(s"$dbDir/users") + dirBytes(s"$dbDir/activity")
    val out = dirBytes(s"$outDir/public_users") +
      dirBytes(s"$outDir/public_activity")
    Map("engine.output_bytes_per_input_byte" -> out.toDouble / in.max(1L))
  }
}

/** One registered board query per operation, on a seeded fixture. */
final class BoardWorkload(spark: SparkSession, spans: Spans, work: String,
    seed: Long, plantFault: Boolean, sampleSize: Int, sf: Double)
    extends Workload(spark, spans, work, seed, plantFault) {
  val dir = s"$work/board"
  private val fns = SparkEntry.queries

  /** A fixed sample of the registered queries that have a DuckDB oracle:
    * one query from each of `sampleSize` runs of consecutive names, so
    * every family of the registry is drawn from. The seed orders it. The
    * sample does not depend on the seed: the median of a few queries
    * drawn anew per seed would spread by tens of percent between seeds. */
  val chosen: Seq[String] = {
    val pool = fns.keySet.intersect(SparkEntry.oracleSql.keySet).toSeq.sorted
    val strata = pool.grouped(math.ceil(pool.size.toDouble / sampleSize).toInt)
    strata.map(g => g(g.size / 2)).toSeq
      .sortBy(q => scala.util.hashing.MurmurHash3.stringHash(q, seed.toInt))
  }
  override def roundSize: Int = chosen.size
  def oracle: Map[String, String] = chosen.map(q => q -> SparkEntry.oracleSql(q)).toMap

  def generate(): Unit = Gen.boardFixture(spark, seed, sf, dir)
  def digests(): Seq[(String, String)] = Seq("customer", "documents",
    "embeddings", "events", "lineitem", "nation", "orders", "part", "region",
    "supplier").map(t => t -> Gen.digest(spark.read.parquet(s"$dir/$t.parquet")))

  def op(i: Int): Sample = {
    val name = chosen(i % chosen.size)
    val obs = Observation()
    val (_, secs) = timed {
      val df = spans.span("SparkEntry.queries") { fns(name)(spark, dir) }
      // the noop sink evaluates every output column; count() would let
      // Catalyst prune the projections away
      spans.span("noop.write") {
        df.observe(obs, count(lit(1)).as("n")).write.format("noop")
          .mode("overwrite").save()
      }
    }
    val rows = obs.get("n").asInstanceOf[Long] + (if (plantFault && i == 0) 1 else 0)
    Sample(secs, 1L, None, name, rows)
  }
}

/** One IVF-PQ build plus batches of held-out queries, recall checked
  * against the benchmark's own brute-force top-10. */
final class AnnWorkload(spark: SparkSession, spans: Spans, work: String,
    seed: Long, plantFault: Boolean, n: Long, batches: Int, perBatch: Int)
    extends Workload(spark, spans, work, seed, plantFault) {
  // ops 1-7 on 4 cores: 12.3, 4.9, 5.1, 4.2, 4.8, 4.1, then about 3.3 s;
  // a sixth warm-up op would lengthen every run by about 4 s
  override def warmupRounds: Int = 5
  private val Dim = 64
  private val TopK = 10
  private val base = s"$work/base.parquet"
  private def batch(b: Int) = s"$work/queries_$b.parquet"
  private val index = s"$work/index"
  private var truth: Map[Long, Set[Long]] = Map.empty
  private var recalls = Vector.empty[Double]

  // about 16 vectors per mixture component, so a query's true top-10 is
  // mostly its own component
  private val Components = (n / 16).toInt
  private val Noise = 0.35
  private def frames = Gen.embeddings(spark, seed, 0L, n, Dim, Components, Noise) +:
    (0 until batches).map(b => Gen.embeddings(spark, seed,
      n + b.toLong * perBatch, perBatch, Dim, Components, Noise))
  def generate(): Unit =
    Gen.writeAll((base +: (0 until batches).map(batch)).zip(frames))
  def digests(): Seq[(String, String)] =
    (base +: (0 until batches).map(batch)).map(p =>
      p.split('/').last -> Gen.digest(spark.read.parquet(p)))

  override def prepare(): Unit = {
    def load(p: String) = spark.read.parquet(p).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).map(_.toDouble).toArray))
    def unit(v: Array[Double]) = {
      val nrm = math.sqrt(v.map(x => x * x).sum).max(1e-12); v.map(_ / nrm)
    }
    val pts = load(base).map { case (id, v) => (id, unit(v)) }
    truth = (0 until batches).flatMap(b => load(batch(b))).map { case (q, v) =>
      val uq = unit(v)
      val best = pts.map { case (id, p) =>
        var s = 0.0; var j = 0
        while (j < Dim) { s += p(j) * uq(j); j += 1 }
        (-s, id)
      }.sorted.take(TopK).map(_._2).toSet
      q -> best
    }.toMap
  }

  def op(i: Int): Sample = {
    val ((built, results), secs) = timed {
      val built = spans.span("Ann.build") {
        Ann.build(spark, base, index, 16, 2, 4, 8, Dim, "vec_id", "embedding")
      }
      val results = (0 until batches).map { b =>
        spans.span("Ann.search") {
          Ann.search(spark, index, batch(b), None, TopK, 4, "vec_id",
            "embedding").select("q_id", "vec_id").collect()
            .map(r => (r.getLong(0), r.getLong(1)))
        }
      }
      (built, results.flatten)
    }
    val res = if (plantFault) results.drop(1) else results
    val err =
      if (built != n) Some(s"Ann.build indexed $built of $n")
      else if (res.size != batches * perBatch * TopK)
        Some(s"Ann.search returned ${res.size} rows, want ${batches * perBatch * TopK}")
      else {
        val byQ = res.groupBy(_._1)
        if (byQ.keySet != truth.keySet || byQ.values.exists(_.size != TopK))
          Some("Ann.search results are not topk per query")
        else {
          val recall = byQ.map { case (q, hits) =>
            hits.count(h => truth(q)(h._2)).toDouble / TopK
          }.sum / byQ.size
          recalls :+= recall
          // far below what this index reaches on these inputs (~0.34)
          if (recall < 0.2) Some(f"recall@10 $recall%.3f below 0.2") else None
        }
      }
    Sample(secs, n, err)
  }

  override def details(): Map[String, Double] = Map(
    "ann.recall_at_10" -> (if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size),
    "ann.index_bytes_per_vector" -> dirBytes(index).toDouble / n)
}

/** One Curate.run(DefaultConfig) plus the train/val writes over seeded
  * documents with planted near-duplicate families. */
final class CurateWorkload(spark: SparkSession, spans: Spans, work: String,
    seed: Long, plantFault: Boolean, n: Long, families: Long, perFamily: Int)
    extends Workload(spark, spans, work, seed, plantFault) {
  private val path = s"$work/docs.parquet"
  private var docs: DataFrame = _
  private var family: Map[Long, Long] = Map.empty
  private var afterDedup, dupRecall = Vector.empty[Double]

  def generate(): Unit = Gen.documents(spark, seed, n, families, perFamily)
    .write.mode("overwrite").parquet(path)
  def digests(): Seq[(String, String)] =
    Seq("documents" -> Gen.digest(spark.read.parquet(path)))
  override def prepare(): Unit = {
    val all = spark.read.parquet(path)
    family = all.filter(col("family") >= 0).select("doc_id", "family")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    docs = all.drop("family")
  }

  def op(i: Int): Sample = {
    val (r, secs) = timed {
      val r = spans.span("Curate.run")(Curate.run(docs, Curate.DefaultConfig))
      spans.span("Curate.write") {
        r.train.write.mode("overwrite").parquet(s"$work/train")
        r.`val`.write.mode("overwrite").parquet(s"$work/val")
      }
      r
    }
    def ids(p: String) = spark.read.parquet(p).select("doc_id").collect()
      .map(_.getLong(0))
    val train = ids(s"$work/train")
    val valIds = if (plantFault) ids(s"$work/val") ++ train.take(1)
      else ids(s"$work/val")
    val funnel = r.funnel.toMap
    val kept = (train.map(_ -> "train") ++ valIds.map(_ -> "val"))
    // a family should keep one member; every other member is a planted
    // duplicate the dedup stage should have removed
    val keptPerFamily = kept.groupBy(k => family.get(k._1))
      .collect { case (Some(f), ks) => f -> ks.map(_._2) }
    val recall = keptPerFamily.values.map(perFamily - _.length).sum.toDouble /
      (families * (perFamily - 1))
    // close families (Gen.documents) are found with near certainty, so each
    // must collapse to one survivor: it can neither straddle the split nor
    // be lost
    val badClose = (0L until families).filter(Gen.isClose)
      .count(f => keptPerFamily.get(f).forall(_.length != 1))
    afterDedup :+= funnel("afterDedup").toDouble
    dupRecall :+= recall
    val err =
      if (funnel("input") != n) Some(s"funnel input ${funnel("input")} != $n")
      else if (train.length + valIds.length != funnel("afterDedup"))
        Some(s"train ${train.length} + val ${valIds.length} != afterDedup " +
          funnel("afterDedup"))
      else if (train.length != funnel("train") || valIds.length != funnel("val"))
        Some("written train/val differ from the funnel counts")
      else if (keptPerFamily.size != families)
        Some(s"${families - keptPerFamily.size} planted families lost every doc")
      else if (badClose > 0)
        Some(s"$badClose close duplicate families not collapsed to one doc")
      else if (recall < 0.8) Some(f"dup recall $recall%.3f below 0.8")
      else None
    Sample(secs, n, err)
  }

  override def details(): Map[String, Double] = Map(
    "curate.after_dedup" -> afterDedup.lastOption.getOrElse(0.0),
    "curate.dup_recall" -> dupRecall.lastOption.getOrElse(0.0))
}
