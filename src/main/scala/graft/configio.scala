package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.yaml.snakeyaml.{DumperOptions, Yaml}

/**
 * Config YAML read/write + config generation (reference
 * `src/config/config-io.ts:63-75` with the zod schema at `:34-60`, and
 * `src/config/config-generator.ts:21-96`), driver-side only.
 *
 * Uses the shipped snakeyaml; insertion order of `column_strategy` is
 * preserved (LinkedHashMap in, ordered pairs out) because resolution
 * precedence depends on it (`plan-builder.ts:37-43`).
 */
object ConfigIO {

  /** Default global strategy map shipped by configGen (`config-generator.ts:11-17`). */
  val defaultGlobalColumnStrategy: Seq[(String, Seq[String])] = Seq(
    "KEEP" -> Seq("id", "created_at", "updated_at", "status", "type"),
    "EMAIL_FAKE" -> Seq("email"),
    "HASH_SHA256" -> Seq("phone", "mobile", "username"),
    "REDACT" -> Seq("address"),
    "SET_NULL" -> Seq("raw_payload"))

  /**
   * Driver-side string twin of Strategies.maskSample (`src/pi/patterns.ts:3-9`):
   * falsy passthrough, ≤6 chars → "***", else first2 + "***" + last2.
   */
  def maskSampleStr(s: String): String =
    if (s == null || s.isEmpty) s
    else if (s.length <= 6) "***"
    else s.take(2) + "***" + s.takeRight(2)

  // ---------------------------------------------------------------- read

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"invalid config: $msg")

  private def str(m: java.util.Map[String, Any], k: String): String =
    m.get(k) match { case s: String => s; case v => fail(s"$k must be a string, got $v") }

  private def bool(m: java.util.Map[String, Any], k: String): Boolean =
    m.get(k) match { case b: java.lang.Boolean => b; case v => fail(s"$k must be a boolean, got $v") }

  private def int(m: java.util.Map[String, Any], k: String): Int =
    m.get(k) match { case n: Number => n.intValue; case v => fail(s"$k must be a number, got $v") }

  @SuppressWarnings(Array("unchecked"))
  private def sub(m: java.util.Map[String, Any], k: String): java.util.Map[String, Any] =
    m.get(k) match {
      case mm: java.util.Map[_, _] => mm.asInstanceOf[java.util.Map[String, Any]]
      case v => fail(s"$k must be a mapping, got $v")
    }

  /**
   * Parse + validate a config YAML string. Mirrors the zod gate
   * (`config-io.ts:34-60`): version must literally be 1 at READ time,
   * scope/samples/column_strategy/rules are required with the right shapes;
   * unknown keys pass through; `allowlistTables` is accepted and ignored.
   * `column_strategy` keeps insertion order; mapping-valued entries are
   * kept out of resolution (the reference's Array.isArray guard) by
   * dropping them here.
   */
  def parseConfig(yamlText: String): Config = {
    val root = new Yaml().load[java.util.Map[String, Any]](yamlText)
    if (root == null) fail("empty document")
    int(root, "version") match { case 1 => (); case v => fail(s"version must be 1, got $v") }
    val scopeM = sub(root, "scope")
    val denylist = scopeM.get("denylistTables") match {
      case l: java.util.List[_] => l.asScala.toSeq.map(_.toString)
      case null => fail("scope.denylistTables must be a list")
      case v => fail(s"scope.denylistTables must be a list, got $v")
    }
    val samplesM = sub(root, "samples")
    val colStrat = root.get("column_strategy") match {
      case m: java.util.Map[_, _] =>
        m.asScala.toSeq.flatMap {
          case (k, v: java.util.List[_]) =>
            Some(k.toString -> v.asScala.toSeq.map(_.toString))
          case (_, _: java.util.Map[_, _]) =>
            // mapping-valued entries: the reference's zod union admits them
            // but resolution's Array.isArray guard never reads them
            // (plan-builder.ts:38-42) — excluded from the typed model
            None
          case (k, v) =>
            // scalar values fail the zod union (array | record) outright
            fail(s"column_strategy.$k must be a list or mapping, got $v")
        }
      case _ => fail("column_strategy must be a mapping")
    }
    val rules = root.get("rules") match {
      case l: java.util.List[_] => l.asScala.toSeq.map {
        case rm: java.util.Map[_, _] =>
          val r = rm.asInstanceOf[java.util.Map[String, Any]]
          val cols = r.get("columns") match {
            case cl: java.util.List[_] => cl.asScala.toSeq.map {
              case cm: java.util.Map[_, _] =>
                val c = cm.asInstanceOf[java.util.Map[String, Any]]
                val params = c.get("params") match {
                  case pm: java.util.Map[_, _] =>
                    val p = pm.asInstanceOf[java.util.Map[String, Any]]
                    StrategyParams(n = Option(p.get("n")).map {
                      case n: Number => n.intValue
                      case v => fail(s"params.n must be a number, got $v")
                    })
                  case null => StrategyParams.empty
                  case v => fail(s"params must be a mapping, got $v")
                }
                ColumnRule(str(c, "column"),
                  Option(c.get("strategy")).map(_.toString), params)
              case v => fail(s"rule column must be a mapping, got $v")
            }
            case v => fail(s"rule.columns must be a list, got $v")
          }
          TableRule(str(r, "table"), bool(r, "enabled"), cols)
        case v => fail(s"rule must be a mapping, got $v")
      }
      case v => fail(s"rules must be a list, got $v")
    }
    Config(
      version = 1,
      generatedAt = str(root, "generatedAt"),
      reviewed = bool(root, "reviewed"),
      scope = Scope(str(scopeM, "schema"), denylist),
      samples = Samples(int(samplesM, "limit"), bool(samplesM, "masked")),
      columnStrategy = colStrat,
      rules = rules)
  }

  def readConfig(path: String): Config =
    parseConfig(Files.readString(Paths.get(path)))

  // ---------------------------------------------------------------- write

  private def yamlDumper: Yaml = {
    val opts = new DumperOptions
    opts.setDefaultFlowStyle(DumperOptions.FlowStyle.BLOCK)
    opts.setIndent(2)
    new Yaml(opts)
  }

  private def jmap(pairs: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    pairs.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def toYamlTree(config: Config): java.util.Map[String, Any] = jmap(
    "version" -> config.version,
    "generatedAt" -> config.generatedAt,
    "reviewed" -> config.reviewed,
    "scope" -> jmap(
      "schema" -> config.scope.schema,
      "denylistTables" -> config.scope.denylistTables.asJava),
    "samples" -> jmap(
      "limit" -> config.samples.limit,
      "masked" -> config.samples.masked),
    "column_strategy" -> {
      val m = new java.util.LinkedHashMap[String, Any]()
      config.columnStrategy.foreach { case (k, v) => m.put(k, v.asJava) }
      m
    },
    "rules" -> config.rules.map { r =>
      jmap("table" -> r.table, "enabled" -> r.enabled,
        "columns" -> r.columns.map { c =>
          val base = Seq("column" -> (c.column: Any)) ++
            c.strategy.map(s => "strategy" -> (s: Any)) ++
            c.params.n.map(n => "params" -> (jmap("n" -> n): Any))
          jmap(base: _*)
        }.asJava)
    }.asJava)

  def writeConfig(path: String, config: Config): Unit =
    Files.writeString(Paths.get(path), yamlDumper.dump(toYamlTree(config)))

  def writeYamlRaw(path: String, tree: Any): Unit =
    Files.writeString(Paths.get(path), yamlDumper.dump(tree))

  // ------------------------------------------------------------ configGen

  /** Result of config generation (`config-generator.ts:26`). */
  final case class Generated(
      config: Config,
      tablesList: Seq[String],
      samplePreview: Seq[(String, Seq[(String, Seq[String])])])

  /**
   * Generate a config + masked sample preview from a DataFrame catalog
   * (`config-generator.ts:21-96`). Collects at most `sampleLimit` rows per
   * table to the driver — the same bound the reference uses, so this stays
   * metadata-scale regardless of table size. Rules carry NO per-column
   * strategy; the global map drives everything until a human edits the YAML.
   */
  def generateConfig(catalog: Map[String, DataFrame], schema: String = "public",
      sampleLimit: Int = 3, unsafeSamples: Boolean = false,
      generatedAt: String = java.time.Instant.now.toString): Generated = {
    val tables = catalog.toSeq.sortBy(_._1) // reference sorts by table_name
    val tablesList = tables.map { case (name, _) => s"$schema.$name" }
    // Render like the reference's String(v): array/struct contents, not JVM
    // object identity (String.valueOf of an Array is a nondeterministic
    // hashcode string).
    def render(v: Any): String = v match {
      case null => null
      case arr: Array[Byte] => arr.map("%02x".format(_)).mkString
      case arr: Array[_] => arr.map(render).mkString("[", ", ", "]")
      case seq: scala.collection.Seq[_] => seq.map(render).mkString("[", ", ", "]")
      case m: scala.collection.Map[_, _] =>
        m.map { case (k, x) => s"${render(k)}: ${render(x)}" }.mkString("{", ", ", "}")
      case other => String.valueOf(other)
    }
    // the ≤sampleLimit-row previews are independent jobs: take them on the
    // engine's job pool (results stay in table-name order)
    val samples = Jobs.inParallel(tables) { case (name, df) =>
      Jobs.named(df.sparkSession, s"ConfigIO.generateConfig $schema.$name") {
        df.limit(sampleLimit).collect()
      }
    }
    val preview = tables.zip(samples).map { case ((name, df), rows) =>
      val cols = df.schema.fields.toSeq.map { f =>
        val values = rows.toSeq.map(_.getAs[Any](f.name))
          .filter(_ != null).take(sampleLimit).map(render)
        f.name -> (if (unsafeSamples) values else values.map(maskSampleStr))
      }
      s"$schema.$name" -> cols
    }
    val rules = tables.map { case (name, df) =>
      TableRule(s"$schema.$name", enabled = true,
        df.schema.fields.toSeq.map(f => ColumnRule(f.name)))
    }
    val config = Config(
      version = 1, generatedAt = generatedAt, reviewed = false,
      scope = Scope(schema, Nil),
      samples = Samples(sampleLimit, masked = !unsafeSamples),
      columnStrategy = defaultGlobalColumnStrategy,
      rules = rules)
    Generated(config, tablesList, preview)
  }

  def writeSamples(path: String, gen: Generated): Unit = {
    val samples = new java.util.LinkedHashMap[String, Any]()
    gen.samplePreview.foreach { case (table, cols) =>
      val cm = new java.util.LinkedHashMap[String, Any]()
      cols.foreach { case (c, vs) => cm.put(c, vs.asJava) }
      samples.put(table, cm)
    }
    writeYamlRaw(path, jmap(
      "tables_list" -> gen.tablesList.asJava,
      "samples" -> samples))
  }

  // --------------------------------------------------------------- report

  private[graft] def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private[graft] def toJson(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + jsonEscape(s) + "\""
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Double => n.toString
    case m: Seq[_] => m.map(toJson).mkString("[", ",", "]")
    case m: Map[_, _] =>
      m.map { case (k, x) => "\"" + jsonEscape(k.toString) + "\":" + toJson(x) }
        .mkString("{", ",", "}")
    case other => "\"" + jsonEscape(other.toString) + "\""
  }

  private def planTree(plan: Plan): Map[String, Any] = Map(
    "createdAt" -> plan.createdAt,
    "tables" -> plan.tables.map(pt => Map(
      "table" -> pt.table, "schema" -> pt.schema, "name" -> pt.name,
      "columns" -> pt.columns.map(pc =>
        Map("column" -> pc.column, "strategy" -> pc.strategy.name) ++
          pc.params.n.map(n => "params" -> Map("n" -> n))))))

  /** Post-apply integrity report: per-table digests of the untouched
    * columns, identical between source and written output (verified before
    * this is written — a mismatch throws instead). */
  def writeValidationReport(path: String, digests: Map[String, String]): Unit = {
    val json = toJson(Map(
      "mode" -> "validate",
      "untouchedDigests" -> scala.collection.immutable.ListMap(
        digests.toSeq.sortBy(_._1): _*)))
    Files.writeString(Paths.get(path), json)
  }

  /** Privacy-audit report sink (no reference analogue — the audit surface
    * the reference's masking pipeline lacks; see operators/Privacy.scala). */
  def writeAuditReport(path: String, table: String, qi: Seq[String],
      metrics: Map[String, Any]): Unit = {
    val json = toJson(Map(
      "mode" -> "audit",
      "table" -> table,
      "quasiIdentifiers" -> qi,
      "result" -> scala.collection.immutable.ListMap(
        metrics.toSeq.sortBy(_._1): _*)))
    Files.writeString(Paths.get(path), json)
  }

  /**
   * JSON run report (reference `src/reporting/report-writer.ts:3-5` with the
   * shapes written from `src/main.ts:87-92,118-123`). `totalKey` is
   * totalRowsEstimated for dryrun, totalRowsApplied for apply.
   */
  def writeReport(path: String, mode: String, plan: Plan,
      updatedByTable: Map[String, Long], totalKey: String): Unit = {
    // ListMap keeps the sorted key order through toJson (a plain Map of 5+
    // entries would rehash and discard the sort).
    val json = toJson(Map(
      "mode" -> mode,
      "plan" -> planTree(plan),
      "result" -> Map("updatedByTable" ->
        scala.collection.immutable.ListMap(updatedByTable.toSeq.sortBy(_._1): _*)),
      totalKey -> Engine.totalRows(updatedByTable)))
    Files.writeString(Paths.get(path), json)
  }
}

/**
 * CLI orchestration (reference `src/main.ts:21-133`, `src/cli/args.ts:7-29`):
 * exactly one of --configGen | --dryrun | --apply; the "database" is a
 * directory of parquet tables (--data), outputs land in --out.
 *
 *   graft.Anonymize --configGen --data /root/testdata/sf0.001 --out /tmp/x
 *   graft.Anonymize --dryrun    --data ... --out ... [--config path.yaml] [--rehearse]
 *   graft.Anonymize --apply     --data ... --out ... [--config path.yaml] [--validate]
 *   graft.Anonymize --audit     --data ... --out ... --table t --qi a,b
 *                               [--sensitive col] [--k 8] [--l 4]
 *
 * `--dryrun --rehearse` executes the full write path into a scratch dir
 * under the system temp directory (then deletes it) — the Spark analogue
 * of the reference's write-then-ROLLBACK dry run (`executor.ts:98-137`),
 * surfacing sink-side failures before an apply.
 */
object Anonymize {
  val ConfigFile = "anonymizer.config.yaml"
  val SamplesFile = "anonymizer.samples.yaml"
  val DryrunReport = "anonymize.dryrun.report.json"
  val ApplyReport = "anonymize.apply.report.json"
  val AuditReport = "anonymize.audit.report.json"
  val ValidateReport = "anonymize.validate.report.json"

  private val valueFlags = Set("--data", "--out", "--config",
    "--table", "--qi", "--sensitive", "--sensitive-bin", "--k", "--l", "--t")
  private val boolFlags = Set("--configGen", "--dryrun", "--apply",
    "--rehearse", "--audit", "--validate")

  def main(args: Array[String]): Unit = {
    val spark = Session("graft-anonymize")
    try run(spark, args) finally spark.stop()
  }

  /** CLI body, session-injected so tests can drive the real dispatch. */
  def run(spark: SparkSession, args: Array[String]): Unit = {
    // Every --flag must be known: a silently-ignored typo (--rehearsal,
    // --rehearse=true) would downgrade a rehearsed dry run to count-only
    // and the user would find the write failure at apply time instead.
    val unknown = args.filter(_.startsWith("--"))
      .filterNot(a => valueFlags(a) || boolFlags(a))
    if (unknown.nonEmpty)
      sys.error(s"unknown argument(s): ${unknown.mkString(" ")}")
    val modes = args.filter(a =>
      Set("--configGen", "--dryrun", "--apply", "--audit")(a))
    if (modes.length != 1)
      sys.error(
        "exactly one mode required: --configGen | --dryrun | --apply | --audit")
    val mode = modes.head.drop(2)
    // Per-mode flag scoping, for the same reason unknown flags fail: a
    // flag accepted-but-ignored (--validate on a dryrun, --qi on an apply)
    // would let the user believe a safeguard or scope was armed when it
    // was not.
    val common = Set("--data", "--out", modes.head)
    val allowedByMode = Map(
      // --config belongs only to the modes that READ a config; --audit
      // never does, so accepting it there would be accepted-but-ignored
      "configGen" -> (common + "--config"),
      "dryrun" -> (common ++ Set("--config", "--rehearse")),
      "apply" -> (common ++ Set("--config", "--validate")),
      "audit" -> (common ++ Set("--table", "--qi", "--sensitive",
        "--sensitive-bin", "--k", "--l", "--t")))
    val outOfScope = args.filter(_.startsWith("--"))
      .filterNot(allowedByMode(mode))
    if (outOfScope.nonEmpty)
      sys.error(s"flag(s) not applicable to --$mode: ${outOfScope.mkString(" ")}")
    def opt(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }
    val dataDir = opt("--data").getOrElse(sys.error("--data <parquetDir> required"))
    val outDir = opt("--out").getOrElse(".")
    new java.io.File(outDir).mkdirs()
    val configPath = opt("--config").getOrElse(s"$outDir/$ConfigFile")

    val catalog = Tables.catalogFromDir(spark, dataDir)
    mode match {
        case "configGen" =>
          val gen = ConfigIO.generateConfig(catalog)
          ConfigIO.writeConfig(configPath, gen.config)
          ConfigIO.writeSamples(s"$outDir/$SamplesFile", gen)
          println(s"Config written to $configPath")
        case "dryrun" =>
          val config = ConfigIO.readConfig(configPath)
          val errs = Planner.preflight(config, Planner.DryRun)
          if (errs.nonEmpty) sys.error(errs.mkString("; "))
          val plan = Planner.buildPlan(config, java.time.Instant.now.toString)
          val counts =
            if (args.contains("--rehearse"))
              Engine.dryRunRehearsed(plan, catalog,
                sys.props.getOrElse("java.io.tmpdir", "/tmp"))
            else Engine.dryRun(plan, catalog)
          ConfigIO.writeReport(s"$outDir/$DryrunReport", "dryrun", plan,
            counts, "totalRowsEstimated")
          println(s"Total rows affected (dry run): ${Engine.totalRows(counts)}")
        case "apply" =>
          val config = ConfigIO.readConfig(configPath)
          val errs = Planner.preflight(config, Planner.Apply)
          if (errs.nonEmpty) sys.error(errs.mkString("; "))
          val plan = Planner.buildPlan(config, java.time.Instant.now.toString)
          val counts = Engine.apply(plan, catalog, s"$outDir/anonymized")
          ConfigIO.writeReport(s"$outDir/$ApplyReport", "apply", plan,
            counts, "totalRowsApplied")
          println(s"Total rows applied: ${Engine.totalRows(counts)}")
          if (args.contains("--validate")) {
            // prove the transform left every untouched column byte-identical
            // (order-independent checksums; a mismatch throws before the
            // report is written)
            val digests = Engine.validateApply(plan, catalog, s"$outDir/anonymized")
            ConfigIO.writeValidationReport(
              s"$outDir/$ValidateReport", digests)
            println(s"Integrity validated: ${digests.size} table(s), " +
              "untouched columns byte-identical")
          }
        case "audit" =>
          // Post-release privacy audit: "is this (anonymized) output
          // actually safe?" — k-anonymity over the declared quasi-
          // identifiers, plus l-diversity when a sensitive column is
          // named, plus t-closeness when an ORDERED sensitive bin column
          // is named (--sensitive-bin, threshold --t). Hash aggregates;
          // only one-row summaries reach the driver. Point --data at an
          // `anonymized/` directory to audit what apply produced, or at
          // the source to audit the raw risk.
          import org.apache.spark.sql.functions.{coalesce, col, count, lit, max, min, sum, when}
          val table = opt("--table")
            .getOrElse(sys.error("--audit requires --table <name>"))
          val qi = opt("--qi")
            .getOrElse(sys.error("--audit requires --qi <col,col,...>"))
            .split(",").map(_.trim).filter(_.nonEmpty).toSeq
          val k = opt("--k").map(_.toInt).getOrElse(8)
          val l = opt("--l").map(_.toInt).getOrElse(4)
          val df = catalog.getOrElse(table,
            sys.error(s"table not found under --data: $table"))
          val missing = qi.filterNot(df.columns.contains)
          if (missing.nonEmpty)
            sys.error(s"quasi-identifier column(s) not in $table: " +
              missing.mkString(", "))
          // coalesce: sum/min aggregate to NULL over an EMPTY table (an
          // empty anonymized output is a legitimate audit target) — report
          // zeros, not an opaque NullPointerException
          val kRow = operators.Privacy.kAnonymity(df, qi, k)
            .agg(count(lit(1)).as("n_classes"),
              coalesce(sum(when(col("at_risk"), 1L).otherwise(0L)), lit(0L))
                .as("k_at_risk"),
              coalesce(min(col("n")), lit(0L)).as("min_class_size")).head()
          val base = Map[String, Any]("k" -> k,
            "nClasses" -> kRow.getLong(0), "kAtRisk" -> kRow.getLong(1),
            "minClassSize" -> kRow.getLong(2))
          val metrics = opt("--sensitive") match {
            case Some(s) =>
              if (!df.columns.contains(s))
                sys.error(s"sensitive column not in $table: $s")
              val lRow = operators.Privacy.lDiversity(df, qi, col(s), l)
                .agg(coalesce(sum(when(col("at_risk"), 1L).otherwise(0L)),
                    lit(0L)).as("l_at_risk"),
                  coalesce(min(col("l_distinct")), lit(0L)).as("min_l")).head()
              base ++ Map[String, Any]("l" -> l, "sensitive" -> s,
                "lAtRisk" -> lRow.getLong(0), "minL" -> lRow.getLong(1))
            case None => base
          }
          val withT = opt("--sensitive-bin") match {
            case Some(sb) =>
              if (!df.columns.contains(sb))
                sys.error(s"sensitive-bin column not in $table: $sb")
              val t = opt("--t").map(_.toDouble).getOrElse(0.2)
              val tRow = operators.Privacy.tCloseness(df, qi, col(sb), t)
                .agg(coalesce(sum(when(col("at_risk"), 1L).otherwise(0L)),
                    lit(0L)).as("t_at_risk"),
                  coalesce(max(col("emd")), lit(0.0)).as("t_max")).head()
              metrics ++ Map[String, Any]("t" -> t, "sensitiveBin" -> sb,
                "tAtRisk" -> tRow.getLong(0), "tMax" -> tRow.getDouble(1))
            case None => metrics
          }
          ConfigIO.writeAuditReport(s"$outDir/$AuditReport", table, qi, withT)
          println(s"Privacy audit of $table on (${qi.mkString(", ")}): " +
            s"${kRow.getLong(1)} of ${kRow.getLong(0)} classes below k=$k " +
            s"(min class size ${kRow.getLong(2)})")
    }
  }
}
