package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Seeded input generators. Every value is a pure function of
 * (seed, salt, row key) through xxhash64, so the same seed gives the same
 * content whatever the partitioning, and nothing is downloaded or
 * committed.
 */
object Gen {
  private val Mant = 1L << 53

  /** Uniform double in [0, 1). */
  def u(seed: Long, salt: String, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(Mant))
      .cast(DoubleType) / lit(Mant.toDouble)

  /** Uniform long in [0, n). */
  def ui(seed: Long, salt: String, n: Long, keys: Column*): Column =
    floor(u(seed, salt, keys: _*) * lit(n.toDouble)).cast(LongType)

  /** One of `values`, uniformly. */
  def pick(seed: Long, salt: String, values: Seq[String], keys: Column*): Column =
    element_at(array(values.map(lit): _*),
      (ui(seed, salt, values.size.toLong, keys: _*) + 1).cast(IntegerType))

  /** Standard normal (Box-Muller over two hashed uniforms). */
  def gauss(seed: Long, salt: String, keys: Column*): Column =
    sqrt(lit(-2.0) * log(lit(1.0) - u(seed, salt + ".r", keys: _*))) *
      cos(lit(2 * math.Pi) * u(seed, salt + ".t", keys: _*))

  /** A whitespace-joined sentence of `n` words drawn from `vocab`. */
  def words(seed: Long, salt: String, n: Column, vocab: Seq[String],
      keys: Column*): Column =
    concat_ws(" ", transform(sequence(lit(1), n),
      j => pick(seed, salt, vocab, (keys :+ j): _*)))

  /** Writes each (path, frame) as parquet, the jobs submitted
    * concurrently: the generated tables are small, so one job at a time
    * would leave most cores idle on per-job overhead. */
  def writeAll(outputs: Seq[(String, DataFrame)]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(outputs.size.max(1))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(outputs) { case (p, df) =>
      Future(df.write.mode("overwrite").parquet(p))
    }, Duration.Inf)
    finally pool.shutdown()
  }

  /** Order-independent digest of a frame's content: row count plus the
    * sum of per-row hashes. */
  def digest(df: DataFrame): String = {
    val r = df.select(count(lit(1)),
      sum(xxhash64(df.columns.map(col): _*).cast(DecimalType(38, 0)))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  val Vocab: Seq[String] = Seq("spark", "batch", "part", "line", "column",
    "order", "small", "sort", "fast", "value", "scan", "hash", "slow",
    "group", "agg", "filter", "query", "big", "key", "window", "row",
    "table", "stream", "merge", "data", "join", "vector", "customer",
    "index", "shard", "plan", "stage", "task", "cache", "graph", "node",
    "edge", "model", "token", "text", "river", "mountain", "forest",
    "garden", "meadow", "kitchen", "market", "harbor", "bridge", "tower",
    "silver", "golden", "purple", "orange", "yellow", "quiet", "bright",
    "rapid", "gentle", "simple", "ancient", "modern", "hidden", "public",
    "winter", "summer", "autumn", "spring", "morning", "evening", "signal",
    "engine", "budget", "ledger", "report", "policy", "review", "update",
    "module", "vendor", "client", "server", "packet", "socket", "kernel",
    "thread", "buffer", "record", "schema", "format", "result", "output",
    "sample", "metric", "config", "secret", "family", "friend", "letter",
    "picture", "number", "animal", "planet", "circle", "square", "corner")

  // ---------------------------------------------------------- anonymize

  /** The anonymize workload's database: `users` (every default-strategy
    * PII column plus KEEP columns), `activity` (wide, one PII column) and
    * `metrics` (no PII: the engine must skip it). */
  def anonymizeDb(spark: SparkSession, seed: Long, users: Long,
      activity: Long, metrics: Long): Map[String, DataFrame] = {
    val id = col("id")
    val ts = (lit(1577836800L) + ui(seed, "ts", 157680000L, id))
      .cast(TimestampType)
    val u0 = spark.range(users).select(
      id,
      when(u(seed, "email.null", id) < 0.02, lit(null)).otherwise(concat(
        pick(seed, "first", Gen.Vocab, id), lit("."), id.cast("string"),
        lit("@"), pick(seed, "dom", Seq("mail.com", "corp.io", "uni.edu"), id)))
        .as("email"),
      when(u(seed, "phone.null", id) < 0.05, lit(null)).otherwise(
        format_string("%03d-%03d-%04d", ui(seed, "p1", 1000, id),
          ui(seed, "p2", 1000, id), ui(seed, "p3", 10000, id))).as("phone"),
      concat(pick(seed, "uname", Gen.Vocab, id), ui(seed, "un", 100000, id)
        .cast("string")).as("username"),
      concat(ui(seed, "no", 9999, id).cast("string"), lit(" "),
        pick(seed, "street", Gen.Vocab, id), lit(" Street")).as("address"),
      to_json(struct(
        concat_ws(".", ui(seed, "ip1", 256, id).cast("string"),
          ui(seed, "ip2", 256, id).cast("string"),
          ui(seed, "ip3", 256, id).cast("string")).as("ip"),
        pick(seed, "ua", Seq("firefox", "chrome", "safari"), id).as("ua"),
        ui(seed, "sess", 1000000, id).as("session"))).as("raw_payload"),
      ts.as("created_at"),
      pick(seed, "status", Seq("active", "closed", "pending"), id).as("status"),
      pick(seed, "type", Seq("free", "pro", "team"), id).as("type"),
      round(u(seed, "score", id) * 100, 3).as("score"),
      pick(seed, "country", Seq("de", "fr", "us", "jp", "br"), id).as("country"))
    val aCols = (0 until 12).map { j =>
      if (j % 3 == 0) pick(seed, s"a$j", Gen.Vocab, id).as(s"attr_$j")
      else if (j % 3 == 1) ui(seed, s"a$j", 1000000, id).as(s"count_$j")
      else round(u(seed, s"a$j", id) * 1000, 4).as(s"amount_$j")
    }
    val a0 = spark.range(activity).select((Seq(id,
      (ui(seed, "auser", users, id)).as("user_id"),
      format_string("+1 %03d %07d", ui(seed, "m1", 1000, id),
        ui(seed, "m2", 10000000, id)).as("mobile"),
      ts.as("created_at")) ++ aCols): _*)
    val m0 = spark.range(metrics).select(id, ts.as("created_at"),
      pick(seed, "mname", Seq("cpu", "mem", "disk", "net"), id).as("name"),
      round(u(seed, "mval", id) * 100, 4).as("value"),
      ui(seed, "mhost", 500, id).as("host"))
    Map("users" -> u0, "activity" -> a0, "metrics" -> m0)
  }

  // ---------------------------------------------------------------- ann

  /** Gaussian-mixture embeddings: `clusters` seeded centres, each vector a
    * centre plus isotropic noise; `label` is the centre. Ids start at
    * `from` so held-out queries never collide with indexed vectors. */
  def embeddings(spark: SparkSession, seed: Long, from: Long, n: Long,
      dim: Int, clusters: Int, noise: Double): DataFrame = {
    val id = col("id")
    val c = ui(seed, "cluster", clusters, id)
    val emb = transform(sequence(lit(0), lit(dim - 1)), j =>
      gauss(seed, "centre", c, j) + lit(noise) * gauss(seed, "noise", id, j))
    spark.range(from, from + n).select(id.as("vec_id"),
      emb.cast(ArrayType(FloatType)).as("embedding"),
      c.cast(IntegerType).as("label"))
  }

  // ------------------------------------------------------------- curate

  /** Documents with planted near-duplicate families. Doc ids are a
    * seeded permutation, so family members are not adjacent; the returned
    * `family` column (-1 for a unique doc) is for the benchmark's checks
    * only and is dropped before the program sees the documents. Member 0
    * of a family is its base text; every other member appends one word,
    * and in a loose family also replaces one, so its 3-word-shingle
    * Jaccard with the base is about 0.97 (close, [[isClose]]) or 0.88
    * (loose). */
  def documents(spark: SparkSession, seed: Long, n: Long, families: Long,
      perFamily: Int): DataFrame = {
    val r = col("id")
    val planted = families * perFamily
    val fam = when(r < planted, floor(r / perFamily)).otherwise(lit(-1L))
    val member = when(r < planted, pmod(r, lit(perFamily.toLong)))
      .otherwise(lit(0L))
    // the text's own key: family id for planted rows, the row otherwise
    val tkey = when(r < planted, fam).otherwise(r + planted)
    val len = lit(40) + ui(seed, "len", 40, tkey).cast(IntegerType)
    val base = split(words(seed, "w", len, Vocab, tkey), " ")
    val swapAt = (ui(seed, "swap", 38, tkey, member) + 2).cast(IntegerType)
    val swapped = when(pmod(fam, lit(2L)) === 0, base).otherwise(
      transform(base, (w, i) =>
        when(i === swapAt, pick(seed, "sw", Vocab, tkey, member)).otherwise(w)))
    val text = when(member === 0, concat_ws(" ", base)).otherwise(
      concat_ws(" ", swapped, pick(seed, "tail", Vocab, tkey, member)))
    spark.range(n).select(
      // r -> (a r + b) mod p is a bijection below the prime p: unique ids
      // whose order does not follow the planted families
      pmod(r * lit(48271L) + lit(math.floorMod(seed, 1000003L)),
        lit(2147483647L)).as("doc_id"),
      text.as("text"),
      pick(seed, "lang", Seq("en", "en", "de", "fr", "es", "zh"), tkey)
        .as("lang"),
      concat(lit("src"), pmod(r, lit(20L)).cast("string")).as("source"),
      fam.as("family"))
      .withColumn("n_chars", length(col("text")).cast(LongType))
  }

  /** Whether planted family `f` is a close one (see [[documents]]). */
  def isClose(f: Long): Boolean = f % 2 == 0

  // -------------------------------------------------------------- board

  /** The board fixture: the ten tables every registered query reads, in
    * the same schema as the repository's parquet fixtures, at scale
    * factor `sf` (lineitem ~ 6M x sf rows). Written as `<dir>/<t>.parquet`. */
  def boardFixture(spark: SparkSession, seed: Long, sf: Double,
      dir: String): Unit = {
    val id = col("id")
    def n(base: Double) = math.max(1L, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nEv = n(1000000)
    val day = 86400L
    def ntz(epochSec: Column) =
      timestamp_seconds(epochSec).cast(TimestampNTZType)
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> spark.range(5).select(id.cast(IntegerType).as("r_regionkey"),
        element_at(array(regions.map(lit): _*), (id + 1).cast(IntegerType))
          .as("r_name")),
      "nation" -> spark.range(25).select(
        id.cast(IntegerType).as("n_nationkey"),
        concat(lit("NATION_"), id.cast("string")).as("n_name"),
        pmod(id, lit(5L)).cast(IntegerType).as("n_regionkey")),
      "customer" -> spark.range(nCust).select(id.as("c_custkey"),
        format_string("Customer#%09d", id).as("c_name"),
        ui(seed, "c_nat", 25, id).cast(IntegerType).as("c_nationkey"),
        round(u(seed, "c_bal", id) * 10991.69 - 994.28, 2).as("c_acctbal"),
        pick(seed, "c_seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
          "HOUSEHOLD", "MACHINERY"), id).as("c_mktsegment")),
      "supplier" -> spark.range(nSupp).select(id.as("s_suppkey"),
        format_string("Supplier#%09d", id).as("s_name"),
        ui(seed, "s_nat", 25, id).cast(IntegerType).as("s_nationkey"),
        round(u(seed, "s_bal", id) * 10991.69 - 994.28, 2).as("s_acctbal")),
      "part" -> spark.range(nPart).select(id.as("p_partkey"),
        concat(pick(seed, "p_col", Seq("red", "blue", "green", "small",
          "large", "black"), id), lit(" "), pick(seed, "p_noun",
          Seq("ring", "widget", "bolt", "gear", "valve", "spring"), id))
          .as("p_name"),
        concat(lit("Brand#"), (ui(seed, "p_br", 25, id) + 1).cast("string"))
          .as("p_brand"),
        pick(seed, "p_type", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
          "SMALL", "STANDARD"), id).as("p_type"),
        (ui(seed, "p_size", 50, id) + 1).cast(IntegerType).as("p_size"),
        round(lit(900.0) + pmod(id, lit(1000L)) / 10.0, 2)
          .as("p_retailprice")),
      "orders" -> spark.range(nOrd).select(id.as("o_orderkey"),
        ui(seed, "o_cust", nCust, id).as("o_custkey"),
        pick(seed, "o_st", Seq("F", "O", "P"), id).as("o_orderstatus"),
        round(lit(1000.0) + u(seed, "o_tp", id) * 499000, 2).as("o_totalprice"),
        ntz(lit(788918400L) + ui(seed, "o_date", 2404, id) * day)
          .as("o_orderdate"),
        pick(seed, "o_pri", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW"), id).as("o_orderpriority")),
      "lineitem" -> spark.range(nOrd)
        .select(id.as("l_orderkey"),
          explode(sequence(lit(1),
            (ui(seed, "l_n", 7, id) + 1).cast(IntegerType))).as("l_linenumber"))
        .select(col("l_orderkey"),
          ui(seed, "l_part", nPart, col("l_orderkey"), col("l_linenumber"))
            .as("l_partkey"),
          ui(seed, "l_supp", nSupp, col("l_orderkey"), col("l_linenumber"))
            .as("l_suppkey"),
          col("l_linenumber"),
          (ui(seed, "l_q", 50, col("l_orderkey"), col("l_linenumber")) + 1)
            .cast(DoubleType).as("l_quantity"))
        .select(col("*"),
          round(col("l_quantity") * (lit(900.0) + u(seed, "l_pr",
            col("l_orderkey"), col("l_linenumber")) * 1200), 2)
            .as("l_extendedprice"),
          (ui(seed, "l_d", 11, col("l_orderkey"), col("l_linenumber"))
            .cast(DoubleType) / 100).as("l_discount"),
          (ui(seed, "l_t", 9, col("l_orderkey"), col("l_linenumber"))
            .cast(DoubleType) / 100).as("l_tax"),
          pick(seed, "l_rf", Seq("A", "N", "R"), col("l_orderkey"),
            col("l_linenumber")).as("l_returnflag"),
          pick(seed, "l_ls", Seq("F", "O"), col("l_orderkey"),
            col("l_linenumber")).as("l_linestatus"),
          ntz(lit(789004800L) + ui(seed, "l_sd", 2500, col("l_orderkey"),
            col("l_linenumber")) * day).as("l_shipdate")),
      "events" -> spark.range(nEv).select(id.as("event_id"),
        (timestamp_micros(lit(1704067200000000L) +
          id * (30L * day * 1000000L / nEv) +
          ui(seed, "e_j", 1000000, id)).cast(TimestampNTZType)).as("ts"),
        ui(seed, "e_user", 150, id).as("user_id"),
        pick(seed, "e_type", Seq("click", "error", "purchase", "signup",
          "view"), id).as("event_type"),
        round(lit(0.01) + u(seed, "e_v", id) * 490, 2).as("value"),
        format_string("{\"k\": %d}", ui(seed, "e_k", 100, id)).as("props")),
      "documents" -> spark.range(math.max(500L, n(50000))).select(
        id.as("doc_id"),
        words(seed, "d_w", (lit(15) + ui(seed, "d_len", 60, id))
          .cast(IntegerType), Vocab, id).as("text"),
        pick(seed, "d_lang", Seq("en", "en", "de", "fr", "es", "zh"), id)
          .as("lang"),
        concat(lit("src"), pmod(id, lit(20L)).cast("string")).as("source"))
        .withColumn("n_chars", length(col("text")).cast(LongType)),
      "embeddings" -> embeddings(spark, seed, 0L, math.max(500L, n(20000)),
        64, 10, 0.5))
    writeAll(tables.map { case (t, df) => s"$dir/$t.parquet" -> df.coalesce(1) })
  }
}
