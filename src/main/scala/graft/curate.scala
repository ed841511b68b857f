package graft

import graft.operators.{Curation, Dedup, Sampling, TextAnalysis => TA}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Config-driven corpus curation CLI — the curation twin of [[Anonymize]]:
 * the reference's workflow (generate a reviewable config → run → JSON
 * report; `src/main.ts:21-133`) applied to the training-data pipeline
 * instead of column masking. One command takes a raw `documents` table
 * through quality gate → dedup → token-budget mix → leak-free split and
 * writes train/val parquet plus a per-stage funnel report.
 *
 *   graft.Curate --configGen --data <parquetDir> --out <dir>
 *   graft.Curate --run       --data <parquetDir> --out <dir> [--config y.yaml]
 *   graft.Curate --audit     --data <curatedDir> --out <dir> [--jaccard 0.5]
 *
 * Every stage composes the library operators the registered queries
 * already oracle-check (qualityScore, fingerprint dedup, banded MinHash +
 * connected components, the budget window, the md5 split gate) — the CLI
 * adds orchestration, not new semantics. Config `bandsAuto: true` (with
 * `bandTarget`) turns on the build-time banding probe ([[Curate
 * .probeBands]] — the rotate-auto pattern for MinHash): the dedup stage
 * then runs the measured argmin-cost banding meeting the target, and
 * the choice + curve land in the report and `band_probe.json`. Scale shape: each stage is one
 * declarative transform on the same lineage; the only materializations
 * are the two writes and the report counts, and the near-dup cluster
 * labels persist once because three stages (survivor filter, split gate,
 * report) consume them.
 */
object Curate {
  val ConfigFile = "curate.config.yaml"
  val ReportFile = "curate.report.json"

  /**
   * Curation policy. `minQuality` gates on the rule-based [[TA.qualityScore]]
   * (0.0 disables); `dedup` is `none | exact | fuzzy` (exact = fingerprint
   * survivor, fuzzy = banded MinHash at `jaccard` + connected components,
   * keep-lowest-id); `tokensPerLang` caps each language's admitted tokens
   * in quality order (0 = unlimited); `valThresholdHex` is the md5 split
   * gate (4 hex chars, keeps ~int(hex,16)/65536 of clusters in val;
   * "0000" = everything train). The gate keys on the near-dup CLUSTER
   * label, so duplicates can never straddle the split.
   *
   * `stripHtml` / `lineMinWords` enable the stage-0 text cleaning (HTML →
   * text extraction and C4 line filtering at that min-word count; 0
   * disables) ahead of the quality gate — both scan-local transforms,
   * with docs whose cleaned text is empty dropped. Defaults keep both
   * off, so pre-existing configs behave unchanged.
   *
   * `assignLang` enables the CCNet-style language-assignment stage:
   * rows with a NULL `lang` get the argmax of the trigram naive-Bayes
   * model trained on the batch's LABELED rows
   * ([[TA.langIdAssign]]) before any per-language stage (token budget,
   * per-lang report) keys on `lang`. Rows that stay unresolvable (null
   * text, no labeled training rows) keep NULL and flow through as their
   * own `lang` group. Off by default — pre-existing configs trust the
   * column as-is.
   *
   * `dsirTargetLang` (non-empty = on) enables DSIR data selection after
   * dedup: every surviving doc scores its importance weight against the
   * target-language subcorpus model ([[Curation.dsirWeights]]) and only
   * docs with `log_w >= dsirMinLogW` continue — a scan-local threshold
   * filter, deliberately NOT a global top-k (a corpus-wide rank is a
   * driver-bounded merge at 100 TB; pick the threshold from a q_dsir
   * weight report instead). Docs with no features (whitespace-only
   * text) carry no weight and drop with the stage on.
   *
   * `dedup = soft` keeps EVERY document and instead attaches a training
   * `weight` column of 1/|near-dup cluster| over the same banded-MinHash
   * CC labels the fuzzy mode derives (q_dedup_soft's semantics): a
   * cluster contributes exactly one document's worth of training mass
   * while keeping its within-cluster variation. The split still gates on
   * the CLUSTER label, so duplicates cannot straddle train/val. The
   * weight flows into the train/val outputs for downstream consumption
   * (e.g. [[Sampling.repeatUpsample]] in packing). Full-run-only: the
   * weights are corpus-wide cluster sizes a delta batch cannot know.
   *
   * `decontBenchPath` (non-empty = on) enables benchmark decontamination
   * after dedup: docs sharing any `decontNgram`-word shingle with the
   * benchmark suite at that parquet path (a documents-shaped table —
   * `doc_id`, `text`) are dropped via the Bloom-prefiltered exact screen
   * ([[Curation.contaminatedBloom]] — bit-identical to the plain
   * semi-join, scales past broadcast-size suites). When `decontEmbPath`
   * AND `decontSemanticBar` are also set, the embedding-cosine screen
   * ([[Curation.semanticContamination]]) additionally drops docs whose
   * max cosine to any benchmark embedding reaches the bar — the
   * paraphrase/translation leaks n-grams can't see. The embeddings
   * table is `embeddings`-shaped (`vec_id` = doc_id, `embedding`);
   * both train and bench docs must have rows in it.
   */
  final case class CurateConfig(
      version: Int,
      minQuality: Double,
      dedup: String,
      jaccard: Double,
      tokensPerLang: Long,
      valThresholdHex: String,
      shards: Int = 0,
      stripHtml: Boolean = false,
      lineMinWords: Int = 0,
      assignLang: Boolean = false,
      dsirTargetLang: String = "",
      dsirMinLogW: Double = 0.0,
      fairGateFrac: Double = 0.0,
      decontBenchPath: String = "",
      decontNgram: Int = 4,
      decontEmbPath: String = "",
      decontSemanticBar: Double = 0.0,
      bandsAuto: Boolean = false,
      bandTarget: Double = 0.9,
      bands: Int = 4) {
    require(Set("none", "exact", "fuzzy", "soft")(dedup),
      s"bad dedup mode: $dedup")
    require(bandTarget > 0.0 && bandTarget <= 1.0,
      s"bandTarget must be in (0, 1], got $bandTarget")
    // a probe the dedup mode never reads is a config typo, not a no-op
    require(!bandsAuto || dedup == "fuzzy" || dedup == "soft",
      "bandsAuto tunes the banded-MinHash stage: it needs dedup=fuzzy " +
        "or dedup=soft")
    // the signature is 16 hashes throughout (Dedup.nearDuplicates)
    require(bands >= 1 && 16 % bands == 0,
      s"bands must divide the 16-hash signature, got $bands")
    require(valThresholdHex.matches("[0-9a-f]{4}"),
      s"bad valThresholdHex: $valThresholdHex")
    require(shards >= 0, s"shards must be >= 0, got $shards")
    require(lineMinWords >= 0, s"lineMinWords must be >= 0, got $lineMinWords")
    require(fairGateFrac >= 0.0 && fairGateFrac <= 1.0,
      s"fairGateFrac must be in [0, 1], got $fairGateFrac")
    require(decontNgram >= 1, s"decontNgram must be >= 1, got $decontNgram")
    require(decontSemanticBar >= 0.0 && decontSemanticBar <= 1.0,
      s"decontSemanticBar must be in [0, 1], got $decontSemanticBar")
    // half-configured semantic screen = a config typo, not a silent no-op
    require((decontEmbPath.nonEmpty) == (decontSemanticBar > 0.0),
      "decontEmbPath and decontSemanticBar enable the semantic screen " +
        "together: set both or neither")
    require(decontBenchPath.nonEmpty || decontEmbPath.isEmpty,
      "the semantic screen needs decontBenchPath (the benchmark suite)")
  }

  val DefaultConfig: CurateConfig =
    CurateConfig(1, 1.0, "fuzzy", 0.5, 0L, "1999")

  // ------------------------------------------------------ stage registry

  /** One declared funnel stage: the library operator that implements it,
    * the CurateConfig knob that enables it ("always" = unconditional),
    * the funnel-report count keys it emits in the full run and in the
    * delta run (empty = the stage is absent from that path), the
    * [[graft.streaming.Streams]] member that is its streaming ingest
    * twin (None = scan-local column algebra that is stream-legal as-is,
    * or a stage with no streaming shape), and whether the stage is
    * FULL-RUN-ONLY because it needs corpus-level statistics a delta
    * batch cannot estimate (per-source quantiles, corpus-trained
    * models, corpus-total budgets). */
  final case class StageDecl(
      name: String,
      batchOp: String,
      enabledBy: String,
      funnelKeys: Seq[String],
      deltaFunnelKeys: Seq[String],
      streamingTwin: Option[String],
      fullRunOnly: Boolean)

  /** The curation funnel as DATA — [[run]] and [[runDelta]] implement
    * exactly this list in order, and CurateSpec verifies the claim
    * mechanically: funnel-report keys ≡ the registry's declared keys,
    * full-run-only ⇔ no delta keys, every declared streaming twin
    * resolves to a real Streams member, and [[writeReport]] surfaces
    * per-stage enablement so `--run` reports its own coverage. A stage
    * wired into the pipeline but not declared here (or vice versa)
    * fails the spec — add stages HERE first. */
  val StageRegistry: Seq[StageDecl] = Seq(
    StageDecl("input", "Tables.load", "always",
      Seq("input"), Seq("deltaInput"), None, fullRunOnly = false),
    StageDecl("clean", "TA.stripHtml + Curation.filterLines",
      "stripHtml | lineMinWords > 0",
      Seq("afterClean"), Seq("afterClean"), None, fullRunOnly = false),
    StageDecl("assignLang", "TA.langIdAssign", "assignLang",
      Seq("langAssigned"), Seq("langAssigned"), None, fullRunOnly = false),
    StageDecl("quality", "TA.qualityScore >= minQuality", "always",
      Seq("afterQuality"), Seq("afterQuality"),
      Some("curateGate"), fullRunOnly = false),
    // per-source quantile thresholds are corpus statistics — a delta
    // batch's within-batch quantile is not the corpus quantile
    StageDecl("fairGate", "Curation.fairGate", "fairGateFrac in (0,1)",
      Seq("afterFairGate"), Nil, None, fullRunOnly = true),
    StageDecl("dedup",
      "Dedup.exactByKey | Dedup.nearDuplicates + connectedComponents " +
        "(fuzzy removes; soft keeps all and weights 1/|cluster| — " +
        "full-run-only mode: cluster sizes are corpus statistics)",
      "dedup != none",
      Seq("afterDedup"), Seq("afterDeltaDedup", "afterCorpusDedup"),
      Some("curateGate"), fullRunOnly = false),
    // benchmark decontamination: Bloom-prefiltered exact n-gram screen
    // (+ optional embedding-cosine screen); the bench suite broadcasts,
    // so a delta batch screens exactly like the full corpus
    StageDecl("decontaminate",
      "Curation.contaminatedBloom [+ semanticContamination >= bar]",
      "decontBenchPath.nonEmpty",
      Seq("afterDecontaminate"), Seq("afterDecontaminate"),
      Some("semanticGate"), fullRunOnly = false),
    // the importance model must train on the corpus, not the batch
    StageDecl("dsir", "Curation.dsirWeights >= dsirMinLogW",
      "dsirTargetLang.nonEmpty",
      Seq("afterDsir"), Nil, None, fullRunOnly = true),
    // corpus-total invariant (no per-stage count: it folds into the
    // train/val counts one action later)
    StageDecl("tokenBudget", "TA.tokenCountWs cumsum <= tokensPerLang",
      "tokensPerLang > 0",
      Nil, Nil, None, fullRunOnly = true),
    StageDecl("split", "Sampling.hashHex4(clusterKey) < valThresholdHex",
      "always",
      Seq("train", "val"), Seq("train", "val"), None, fullRunOnly = false))

  /** Whether a declared stage actually runs under this config — the
    * machine-readable form of each StageDecl.enabledBy, reported per
    * run by [[writeReport]]. */
  def stageEnabled(s: StageDecl, c: CurateConfig): Boolean = s.name match {
    case "input" | "quality" | "split" => true
    case "clean" => c.stripHtml || c.lineMinWords > 0
    case "assignLang" => c.assignLang
    case "fairGate" => c.fairGateFrac > 0.0 && c.fairGateFrac < 1.0
    case "dedup" => c.dedup != "none"
    case "decontaminate" => c.decontBenchPath.nonEmpty
    case "dsir" => c.dsirTargetLang.nonEmpty
    case "tokenBudget" => c.tokensPerLang > 0
    case other => sys.error(s"undeclared stage: $other")
  }

  /** Fixed epoch salt for the sharded train layout: re-running the same
    * curation reproduces the identical permutation (the reproducibility
    * contract); later epochs re-shuffle with their own salts at load. */
  val ShardSalt = "curate-epoch0"

  // ----------------------------------------------------------- config io

  def writeConfig(path: String, c: CurateConfig): Unit = {
    val tree = new java.util.LinkedHashMap[String, Any]()
    tree.put("version", c.version)
    tree.put("minQuality", c.minQuality)
    tree.put("dedup", c.dedup)
    tree.put("jaccard", c.jaccard)
    tree.put("tokensPerLang", c.tokensPerLang)
    tree.put("valThresholdHex", c.valThresholdHex)
    tree.put("shards", c.shards)
    tree.put("stripHtml", c.stripHtml)
    tree.put("lineMinWords", c.lineMinWords)
    tree.put("assignLang", c.assignLang)
    tree.put("dsirTargetLang", c.dsirTargetLang)
    tree.put("dsirMinLogW", c.dsirMinLogW)
    tree.put("fairGateFrac", c.fairGateFrac)
    tree.put("decontBenchPath", c.decontBenchPath)
    tree.put("decontNgram", c.decontNgram)
    tree.put("decontEmbPath", c.decontEmbPath)
    tree.put("decontSemanticBar", c.decontSemanticBar)
    tree.put("bandsAuto", c.bandsAuto)
    tree.put("bandTarget", c.bandTarget)
    tree.put("bands", c.bands)
    ConfigIO.writeYamlRaw(path, tree)
  }

  def readConfig(path: String): CurateConfig = {
    val root = new org.yaml.snakeyaml.Yaml()
      .load[java.util.Map[String, Any]](
        java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    def num(k: String): Double = root.get(k) match {
      case n: Number => n.doubleValue()
      case other => sys.error(s"$k must be numeric, got $other")
    }
    CurateConfig(
      version = num("version").toInt,
      minQuality = num("minQuality"),
      dedup = String.valueOf(root.get("dedup")),
      jaccard = num("jaccard"),
      tokensPerLang = num("tokensPerLang").toLong,
      valThresholdHex = String.valueOf(root.get("valThresholdHex")),
      // absent in pre-shards configs: those keep the flat layout
      shards = if (root.containsKey("shards")) num("shards").toInt else 0,
      // both absent in pre-cleaning configs: cleaning stays off
      stripHtml = root.get("stripHtml") match {
        case b: java.lang.Boolean => b.booleanValue()
        case null => false
        case other => sys.error(s"stripHtml must be boolean, got $other")
      },
      lineMinWords =
        if (root.containsKey("lineMinWords")) num("lineMinWords").toInt else 0,
      // absent in pre-assignment configs: the lang column is trusted as-is
      assignLang = root.get("assignLang") match {
        case b: java.lang.Boolean => b.booleanValue()
        case null => false
        case other => sys.error(s"assignLang must be boolean, got $other")
      },
      // both absent in pre-selection configs: the DSIR stage stays off
      dsirTargetLang = root.get("dsirTargetLang") match {
        case null => ""
        case s => String.valueOf(s)
      },
      dsirMinLogW =
        if (root.containsKey("dsirMinLogW")) num("dsirMinLogW") else 0.0,
      // absent in pre-fair-gate configs: the per-source gate stays off
      fairGateFrac =
        if (root.containsKey("fairGateFrac")) num("fairGateFrac") else 0.0,
      // all four absent in pre-decontamination configs: the screen stays
      // off (the same back-compat convention as every stage above)
      decontBenchPath = root.get("decontBenchPath") match {
        case null => ""
        case s => String.valueOf(s)
      },
      decontNgram =
        if (root.containsKey("decontNgram")) num("decontNgram").toInt else 4,
      decontEmbPath = root.get("decontEmbPath") match {
        case null => ""
        case s => String.valueOf(s)
      },
      decontSemanticBar =
        if (root.containsKey("decontSemanticBar")) num("decontSemanticBar")
        else 0.0,
      // both absent in pre-probe configs: the fixed default banding holds
      bandsAuto = root.get("bandsAuto") match {
        case b: java.lang.Boolean => b.booleanValue()
        case null => false
        case other => sys.error(s"bandsAuto must be boolean, got $other")
      },
      bandTarget =
        if (root.containsKey("bandTarget")) num("bandTarget") else 0.9,
      // the PINNED banding (how a full-run probe's choice carries into
      // delta runs); absent in pre-probe configs: the historical default
      bands = if (root.containsKey("bands")) num("bands").toInt else 4)
  }

  // ----------------------------------------------------------- pipeline

  /** Per-stage funnel result: the curated train/val frames plus the
    * counts the report writes (a LinkedHashMap-ordered funnel). */
  final case class Curated(train: DataFrame, `val`: DataFrame,
      funnel: Seq[(String, Long)], perLang: Seq[(String, Long, Long)],
      bandProbe: Option[BandProbe] = None)

  /** Evidence of a [[probeBands]] run (the rotation_probe.json
    * convention): the banding the dedup stage actually used, the target
    * it had to meet, and the measured (bands, recall, n_cand) curve the
    * choice was the argmin of. */
  final case class BandProbe(chosen: Int, target: Double, sampleN: Long,
      curve: Seq[(Int, Double, Long)]) {
    def json: String =
      s"""{"chosen":$chosen,"target":$target,"sample_n":$sampleN,""" +
        s""""curve":[${curve.map { case (b, r, n) =>
          s"""{"bands":$b,"recall":$r,"n_cand":$n}"""
        }.mkString(",")}]}"""
  }

  /**
   * Band auto-probe — the rotate-auto pattern applied to MinHash
   * banding: measure [[Dedup.bandedRecallCurvePortable]] over a
   * DETERMINISTIC hash-sample of the corpus (md5-keyed order, the
   * annprobe convention — no RNG state, any engine reproduces the
   * sample), aggregate each banding's micro-averaged recall (Σ caught /
   * Σ true — exact integer sums) and total candidate count, then pick
   * the banding that meets `target` recall at MINIMUM candidate cost
   * (ties → fewer bands: shorter explode, cheaper signatures). If no
   * banding meets the target, the max-recall banding wins (ties → lower
   * cost, then fewer bands) — the probe never silently under-delivers
   * the best available recall.
   *
   * Probe cost is sample-bounded: the signature stage and exact-Jaccard
   * truth compute once over ≤ sampleN docs; each banding pays only its
   * candidate self-join on the sample. The curve is measured on the
   * PORTABLE hash family while the funnel's dedup runs the engine
   * family — banding recall is a property of the MinHash estimator, not
   * of which uniform hash family feeds it, so the measured trade
   * transfers (both families estimate the same Jaccard).
   *
   * Full-run-only, like every corpus-statistic stage: a delta batch's
   * within-batch curve is not the corpus curve.
   */
  def probeBands(docs: DataFrame, jaccard: Double, target: Double,
      sampleN: Int = 2000, nQueries: Int = 100,
      bandsList: Seq[Int] = Seq(2, 4, 8), fallback: Int = 4): BandProbe = {
    val sample = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("text"),
        md5(concat(lit("bandprobe:"), col("doc_id").cast("string")))
          .as("__h"))
      .orderBy("__h", "doc_id").limit(sampleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val queries = sample.orderBy("__h", "doc_id").limit(nQueries)
    val n = sample.count()
    val curve = Dedup.bandedRecallCurvePortable(
        sample.drop("__h"), queries.drop("__h"), "doc_id", "text",
        shingleN = 3, numHashes = 16, bandsList = bandsList,
        threshold = jaccard)
      .groupBy("bands")
      .agg(sum(col("n_true")).as("t"), sum(col("n_caught")).as("c"),
        sum(col("n_cand")).as("cand"))
      .orderBy("bands")
      .collect()                       // |bandsList| rows — metadata scale
      .map(r => (r.getAs[Long]("bands").toInt,
        if (r.getAs[Long]("t") == 0L) 1.0
        else r.getAs[Long]("c").toDouble / r.getAs[Long]("t"),
        r.getAs[Long]("cand")))
      .toSeq
    sample.unpersist(blocking = false)
    val meeting = curve.filter(_._2 >= target)
    // a sample with NO true pairs at the threshold measures nothing —
    // every banding is vacuously fine, so keep the caller's PINNED
    // banding (`fallback` = the config's bands, not a hardcoded 4 — a
    // pair-free sample must not override an operator's explicit choice;
    // the empty curve in the evidence says why)
    val chosen = if (curve.isEmpty) fallback
    else if (meeting.nonEmpty)
      meeting.minBy { case (b, _, cand) => (cand, b) }._1
    else curve.maxBy { case (b, r, cand) => (r, -cand, -b) }._1
    BandProbe(chosen, target, n, curve)
  }

  /**
   * Run the funnel on a documents frame. Columns required: `doc_id`
   * (unique long), `text`, `lang`. Counts force one action per stage
   * boundary — acceptable for a CLI run (the reference's executor also
   * reports per-table counts); the heavy lineage up to the split is
   * shared, not recomputed, because the gated frame and the cluster
   * labels persist for their multi-consumer stages (both freed before
   * returning). The returned train/val frames share one persisted split
   * stage that stays alive for the caller's writes — session-lived, the
   * repo's documented convention for result-backing caches; a long-lived
   * session composing many curations should `spark.catalog.clearCache()`
   * between runs.
   */
  /** Stage 0 — text cleaning: optional HTML → text extraction, optional
    * C4 line filtering, then drop docs whose cleaned text is empty. Both
    * transforms are scan-local column expressions, so when enabled this
    * stage fuses into the quality gate's scan — no extra pass. Identity
    * when both knobs are off (pre-cleaning configs unchanged). */
  private def cleanStage(docs: DataFrame, c: CurateConfig): DataFrame =
    if (!c.stripHtml && c.lineMinWords <= 0) docs
    else {
      val base = docs.filter(col("text").isNotNull)
      val html = if (c.stripHtml)
        base.withColumn("text", TA.stripHtml(col("text"))) else base
      val lined = if (c.lineMinWords > 0)
        html.withColumn("text", Curation.filterLines(col("text"), c.lineMinWords))
      else html
      lined.filter(length(col("text")) > 0)
    }

  def run(docs: DataFrame, c: CurateConfig): Curated = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.storage.StorageLevel
    val nIn = docs.count()

    // 0. text cleaning (identity when disabled; the count is an extra
    //    action only when a cleaning knob is actually on)
    val cleanOn = c.stripHtml || c.lineMinWords > 0
    val cleaned = cleanStage(docs, c)
    val nClean = if (cleanOn) cleaned.count() else nIn

    // 0b. language assignment (opt-in): see assignStage
    val (assigned, nLangFilled) = assignStage(cleaned, c)

    // 1. quality gate (rule-based; the trained gate is scoreWithTokenWeights
    //    — swap-in, same shape)
    val gated0 = assigned.filter(col("text").isNotNull)
      .withColumn("__q", TA.qualityScore(col("text")))
      .filter(col("__q") >= c.minQuality)
    // persisted: the dedup stage consumes it 2-3 times (signatures + join
    // back), the budget window once more
    val gated = gated0.persist(StorageLevel.MEMORY_AND_DISK)
    val nGated = gated.count()
    // the gated persist (just materialized) now backs every downstream
    // consumer, so the assignment stage's cache can go
    if (c.assignLang) assigned.unpersist()

    // 1b. source-fair gate (opt-in): keep each source's top fairGateFrac
    //     by the SAME quality score the absolute gate used — per-source
    //     quantile thresholding (Curation.fairGate), so a weak source is
    //     trimmed instead of erased and a strong one cannot crowd the
    //     budget. Full-batch only: a delta batch's within-batch quantile
    //     is not the corpus quantile, so the delta path keeps the
    //     absolute gate. fairGateFrac in (0,1) enables; 0/1 = off.
    val (faired, nFaired) =
      if (c.fairGateFrac <= 0.0 || c.fairGateFrac >= 1.0) (gated, nGated)
      else {
        val f = Curation.fairGate(gated, "source", "__q", "doc_id",
          c.fairGateFrac).drop("pr")
        (f, f.count())
      }

    // 2. dedup + cluster labels (labels drive BOTH the survivor filter and
    //    the leak-free split gate). `soft` keeps every row and instead
    //    attaches weight = 1/|cluster| plus the cluster key itself
    //    (__cluster), which the split gate reads directly.
    // 1c. band auto-probe (opt-in): measure the recall/cost curve on a
    //     deterministic hash-sample of the POST-GATE corpus (what the
    //     dedup stage will actually see) and pick the banding — see
    //     [[probeBands]]. The choice feeds both fuzzy and soft below and
    //     lands in the report + band_probe.json.
    val bandProbe: Option[BandProbe] =
      if (c.bandsAuto) Some(probeBands(faired, c.jaccard, c.bandTarget,
        fallback = c.bands))
      else None
    // probe choice when it ran, else the PINNED config banding (how a
    // full-run probe's outcome carries into later runs and deltas)
    val dedupBands = bandProbe.map(_.chosen).getOrElse(c.bands)
    val (deduped, labels) = c.dedup match {
      case "none" => (faired, None)
      case "exact" =>
        (Dedup.exactByKey(
          faired.withColumn("__fp", Dedup.fingerprint(col("text"))),
          Seq("__fp"), Seq(col("doc_id"))).drop("__fp"), None)
      case "fuzzy" =>
        val edges = Dedup.nearDuplicates(faired, "doc_id", "text",
          bands = dedupBands, threshold = c.jaccard)
        // connectedComponents returns a localCheckpoint-backed frame — its
        // blocks already cache the labels, so a persist() on top would
        // store the rows twice. Freed below once `split` is materialized.
        val lbl = Dedup.connectedComponents(edges, "a", "b")
        (within0(faired, lbl), Some(lbl))
      case "soft" =>
        val edges = Dedup.nearDuplicates(faired, "doc_id", "text",
          bands = dedupBands, threshold = c.jaccard)
        val lbl = Dedup.connectedComponents(edges, "a", "b")
        // q_dedup_soft's exact weight: 1/|cluster| over the CC labels,
        // singletons (no label) weigh 1. The cluster-size aggregate is
        // one hash shuffle on the label; mass is conserved up to the
        // round(·, 6) below (a cluster of 3 sums to 0.999999 —
        // CurateSpec asserts conservation to 1e-4, not exactly), and a
        // LATER decontaminate stage that drops a cluster member leaves
        // the survivors' weights summing below 1 by design (the dropped
        // mass left the corpus).
        val withLbl = faired.join(lbl, faired("doc_id") === lbl("id"), "left")
          .withColumn("__cluster", coalesce(col("comp"), col("doc_id")))
          .drop("id", "comp")
        val sizes = withLbl.groupBy("__cluster")
          .agg(count(lit(1)).as("__nm"))
        val soft = withLbl.join(sizes, Seq("__cluster"))
          .withColumn("weight", round(lit(1.0) / col("__nm"), 6))
          .drop("__nm")
        (soft, Some(lbl))
    }
    val nDeduped = deduped.count()

    // 2c. benchmark decontamination (opt-in): the Bloom-prefiltered exact
    //    n-gram screen, plus the optional embedding-cosine screen — see
    //    CurateConfig. The bench suite broadcasts; the corpus never
    //    shuffles for the screen.
    val (deconted, nDeconted) =
      if (c.decontBenchPath.isEmpty) (deduped, nDeduped)
      else {
        val d = decontStage(deduped, c)
        (d, d.count())
      }

    // 2d. DSIR data selection (opt-in): importance weight vs the target-
    //    language model, scan-local threshold keep (see CurateConfig)
    val (selected, nSelected) =
      if (c.dsirTargetLang.isEmpty) (deconted, nDeconted)
      else {
        val keep = Curation.dsirWeights(deconted, "doc_id", "text",
            col("lang") === c.dsirTargetLang, nBuckets = 1024)
          .filter(col("log_w") >= c.dsirMinLogW)
          .select("doc_id")
        val sel = deconted.join(keep, Seq("doc_id"), "left_semi")
        (sel, sel.count())
      }

    // 3. token-budget mix (quality order, doc_id tiebreak — q_token_budget's
    //    exact shape)
    val budgeted =
      if (c.tokensPerLang <= 0L) selected
      else {
        val w = Window.partitionBy("lang")
          .orderBy(col("__q").desc, col("doc_id"))
        selected
          .withColumn("__tok", TA.tokenCountWs(col("text")))
          .withColumn("__cum", sum(col("__tok")).over(w))
          .filter(col("__cum") <= c.tokensPerLang)
          .drop("__tok", "__cum")
      }

    // 4. leak-free split: gate on the cluster label (fuzzy joins it back;
    //    soft already carries it as __cluster) or the doc id (exact/none —
    //    there are no cross-doc duplicates left to leak). Mode-dispatched
    //    on the CONFIG, never on schema sniffing — an input corpus that
    //    happens to carry a __cluster column must not hijack the split key
    val withKey = c.dedup match {
      case "soft" =>
        budgeted.withColumn("__skey", col("__cluster")).drop("__cluster")
      case "fuzzy" =>
        val lbl = labels.get
        budgeted.join(lbl, budgeted("doc_id") === lbl("id"), "left")
          .withColumn("__skey", coalesce(col("comp"), col("doc_id")))
          .drop("id", "comp")
      case _ => budgeted.withColumn("__skey", col("doc_id"))
    }
    val isVal = Sampling.hashHex4(col("__skey"), "curate-split") <
      lit(c.valThresholdHex)
    val split = withKey
      .withColumn("split", when(isVal, lit("val")).otherwise(lit("train")))
      .drop("__skey", "__q")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val train = split.filter(col("split") === "train").drop("split")
    val valDf = split.filter(col("split") === "val").drop("split")
    val nTrain = train.count()
    val nVal = valDf.count()

    val perLang = split
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(TA.tokenCountWs(col("text"))).as("tok"))
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

    gated.unpersist()
    // split is persisted AND materialized (the counts above), so the
    // label checkpoint blocks upstream of it can be released —
    // Dataset.unpersist is a no-op for checkpointed frames (RDD-level
    // blocks), hence the bridge. Same caveat as every localCheckpoint:
    // after the free, split can no longer recompute its lineage.
    labels.foreach(org.apache.spark.sql.GraftBridge.freeCheckpoint)
    Curated(train, valDf,
      funnel = Seq("input" -> nIn, "afterClean" -> nClean,
        "langAssigned" -> nLangFilled,
        "afterQuality" -> nGated, "afterFairGate" -> nFaired,
        "afterDedup" -> nDeduped,
        "afterDecontaminate" -> nDeconted,
        "afterDsir" -> nSelected,
        "train" -> nTrain, "val" -> nVal),
      perLang = perLang, bandProbe = bandProbe)
  }

  /** The decontamination screen (shared by [[run]] and [[runDelta]]):
    * drop docs sharing any n-gram with the benchmark suite at
    * `decontBenchPath` ([[Curation.contaminatedBloom]] — Bloom
    * prefilter + exact verify, bit-identical to the plain semi-join),
    * then optionally docs whose max embedding cosine to the suite
    * reaches `decontSemanticBar` ([[Curation.semanticContamination]]).
    * Both screens broadcast the bench side, so the stage is delta- and
    * stream-legal (the registry's semanticGate twin). */
  private def decontStage(docs: DataFrame, c: CurateConfig): DataFrame = {
    val spark = docs.sparkSession
    val bench = Read.parquet(spark, c.decontBenchPath)
    val hits = Curation.contaminatedBloom(docs, bench, "doc_id", "text",
      c.decontNgram)
    val exactClean = docs.join(hits, Seq("doc_id"), "left_anti")
    if (c.decontEmbPath.isEmpty || c.decontSemanticBar <= 0.0) exactClean
    else {
      val embT = Read.parquet(spark, c.decontEmbPath)
        .select(col("vec_id"),
          graft.functions.VectorOps.asDouble(col("embedding")).as("__emb"))
      val trainEmb = exactClean.select(col("doc_id"))
        .join(embT, col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("__emb"))
      val benchEmb = bench.select(col("doc_id").as("__bid"))
        .join(embT, col("__bid") === col("vec_id"))
        .select(col("__emb"))
      val semHits = Curation
        .semanticContamination(trainEmb, benchEmb, "doc_id", "__emb")
        .filter(col("max_cos") >= c.decontSemanticBar)
        .select("doc_id")
      exactClean.join(semHits, Seq("doc_id"), "left_anti")
    }
  }

  /** Stage 0b — language assignment (opt-in): fill NULL `lang` with the
    * trigram-NB argmax trained on this batch's labeled rows
    * ([[TA.langIdAssign]]). Returns the frame plus the count of langs
    * the model filled. When on, the result is persisted (the NB lineage
    * — gram explode, two aggregates, scoring joins — must not recompute
    * under every downstream action); the CALLER unpersists it once the
    * next persisted stage materializes. Identity + 0 when off. */
  private def assignStage(cleaned: DataFrame,
      c: CurateConfig): (DataFrame, Long) =
    if (!c.assignLang) (cleaned, 0L)
    else {
      import org.apache.spark.storage.StorageLevel
      val a = TA.langIdAssign(cleaned, "doc_id", "text", "lang")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val filled = a.filter(col("lang").isNotNull).count() -
        cleaned.filter(col("lang").isNotNull).count()
      (a, filled)
    }

  /**
   * Incremental curation: take a NEW batch through the funnel against an
   * EXISTING corpus — the shape a 100 TB pipeline actually runs daily
   * (re-curating the full corpus per batch is the anti-pattern). Stages:
   * quality gate → within-delta dedup (per `c.dedup`) → delta-vs-corpus
   * near-dup removal (fuzzy: banded MinHash delta join, O(delta +
   * collisions) — the corpus is never self-paired; exact: fingerprint
   * anti join; none: skipped) → the same deterministic md5 split gate.
   * The token budget is deliberately NOT applied here: budgets are
   * corpus-level invariants, so admitting a delta under them requires the
   * corpus totals — re-run the full [[run]] to re-budget. DSIR selection
   * is skipped for the same reason (its raw model should be the corpus,
   * not the batch) — re-run the full [[run]] to re-select.
   *
   * Leak note: a delta doc near-duplicating the corpus is REMOVED (not
   * just co-assigned), and within-delta clusters keep one survivor, so
   * the per-doc split gate cannot straddle a duplicate pair when dedup is
   * on; `dedup = none` declares that risk away, as in [[run]].
   */
  def runDelta(corpus: DataFrame, delta: DataFrame,
      c: CurateConfig): Curated = {
    import org.apache.spark.storage.StorageLevel
    require(c.dedup != "soft",
      "dedup=soft is full-run-only: 1/|cluster| weights need corpus-wide " +
        "cluster sizes; run the full curation, or dedup=fuzzy for deltas")
    require(!c.bandsAuto,
      "bandsAuto is full-run-only: a delta batch's recall/cost curve is " +
        "not the corpus curve; probe on a full run and pin the banding")
    val nIn = delta.count()
    val cleanOn = c.stripHtml || c.lineMinWords > 0
    val cleaned = cleanStage(delta, c)
    val nClean = if (cleanOn) cleaned.count() else nIn
    // same opt-in assignment stage as run(); the model trains on the
    // DELTA's labeled rows (batch-local — corpus-trained assignment is a
    // TA.langIdAssign composition the caller can run upstream)
    val (assigned, nLangFilled) = assignStage(cleaned, c)
    val gated = assigned.filter(col("text").isNotNull)
      .filter(TA.qualityScore(col("text")) >= c.minQuality)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nGated = gated.count()
    if (c.assignLang) assigned.unpersist()
    val (within, deltaLbl) = c.dedup match {
      case "none" => (gated, None)
      case "exact" =>
        (Dedup.exactByKey(
          gated.withColumn("__fp", Dedup.fingerprint(col("text"))),
          Seq("__fp"), Seq(col("doc_id"))).drop("__fp"), None)
      case "fuzzy" =>
        val edges = Dedup.nearDuplicates(gated, "doc_id", "text",
          bands = c.bands, threshold = c.jaccard)
        // checkpoint-backed (see run()); freed after split materializes
        val lbl = Dedup.connectedComponents(edges, "a", "b")
        (within0(gated, lbl), Some(lbl))
    }
    val nWithin = within.count()
    val vsCorpus = c.dedup match {
      case "none" => within
      case "exact" =>
        within.withColumn("__fp", Dedup.fingerprint(col("text")))
          .join(corpus.select(Dedup.fingerprint(col("text")).as("__fp"))
            .distinct(), Seq("__fp"), "left_anti")
          .drop("__fp")
      case "fuzzy" =>
        val hits = Dedup.nearDuplicatesDeltaPortable(corpus, within,
          "doc_id", "text", bands = c.bands, threshold = c.jaccard)
          .select(col("delta_id").as("doc_id")).distinct()
        within.join(hits, Seq("doc_id"), "left_anti")
    }
    // decontamination screens a delta batch exactly like the full corpus
    // (the bench suite broadcasts). Count bookkeeping keeps the "one
    // action later" trick: whichever stage is LAST before the split
    // derives its count from nTrain+nVal; with the screen on, the
    // corpus-dedup count becomes its own action instead.
    val decontOn = c.decontBenchPath.nonEmpty
    val nCorpusDedup = if (decontOn) vsCorpus.count() else -1L
    val deconted = if (decontOn) decontStage(vsCorpus, c) else vsCorpus
    val isVal = Sampling.hashHex4(col("doc_id"), "curate-split") <
      lit(c.valThresholdHex)
    val split = deconted
      .withColumn("split", when(isVal, lit("val")).otherwise(lit("train")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val train = split.filter(col("split") === "train").drop("split")
    val valDf = split.filter(col("split") === "val").drop("split")
    val nTrain = train.count()
    val nVal = valDf.count()
    val perLang = split.groupBy("lang")
      .agg(count(lit(1)).as("n"), sum(TA.tokenCountWs(col("text"))).as("tok"))
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    gated.unpersist()
    deltaLbl.foreach(org.apache.spark.sql.GraftBridge.freeCheckpoint)
    Curated(train, valDf,
      funnel = Seq("deltaInput" -> nIn, "afterClean" -> nClean,
        "langAssigned" -> nLangFilled,
        "afterQuality" -> nGated, "afterDeltaDedup" -> nWithin,
        "afterCorpusDedup" ->
          (if (decontOn) nCorpusDedup else nTrain + nVal),
        "afterDecontaminate" -> (nTrain + nVal),
        "train" -> nTrain, "val" -> nVal),
      perLang = perLang)
  }

  /** Keep one survivor per within-batch near-dup cluster (CC labels with
    * the minimum member id, so survivor ⇔ label == own id). */
  private def within0(gated: DataFrame, lbl: DataFrame): DataFrame =
    gated.join(lbl, gated("doc_id") === lbl("id"), "left")
      .filter(col("comp").isNull || col("comp") === col("doc_id"))
      .drop("id", "comp")

  def writeReport(path: String, c: CurateConfig, r: Curated): Unit = {
    val json = ConfigIO.toJson(Map(
      "mode" -> "curate",
      "config" -> scala.collection.immutable.ListMap(
        "version" -> c.version, "minQuality" -> c.minQuality,
        "dedup" -> c.dedup, "jaccard" -> c.jaccard,
        "tokensPerLang" -> c.tokensPerLang,
        "valThresholdHex" -> c.valThresholdHex,
        "shards" -> c.shards,
        "stripHtml" -> c.stripHtml,
        "lineMinWords" -> c.lineMinWords,
        "assignLang" -> c.assignLang,
        "dsirTargetLang" -> c.dsirTargetLang,
        "dsirMinLogW" -> c.dsirMinLogW,
        "fairGateFrac" -> c.fairGateFrac,
        "decontBenchPath" -> c.decontBenchPath,
        "decontNgram" -> c.decontNgram,
        "decontEmbPath" -> c.decontEmbPath,
        "decontSemanticBar" -> c.decontSemanticBar,
        "bandsAuto" -> c.bandsAuto,
        "bandTarget" -> c.bandTarget,
        "bands" -> c.bands),
      "funnel" -> scala.collection.immutable.ListMap(r.funnel: _*),
      // the banding the dedup stage ACTUALLY used, with the measured
      // curve it was chosen from (renders null when the probe did not
      // run — an additive key, pre-probe report consumers unaffected)
      "bandProbe" -> r.bandProbe.map(p =>
        scala.collection.immutable.ListMap(
          "chosen" -> p.chosen, "target" -> p.target,
          "sampleN" -> p.sampleN,
          "curve" -> p.curve.map { case (b, rec, cand) =>
            scala.collection.immutable.ListMap(
              "bands" -> b, "recall" -> rec, "n_cand" -> cand) }))
        .getOrElse(null),
      // the declared stage list with per-run enablement — the report is
      // self-describing about which registry stages this config ran
      "stages" -> StageRegistry.map(s =>
        scala.collection.immutable.ListMap(
          "stage" -> s.name, "enabled" -> stageEnabled(s, c),
          "fullRunOnly" -> s.fullRunOnly)),
      "perLang" -> r.perLang.map { case (l, n, t) =>
        scala.collection.immutable.ListMap(
          "lang" -> l, "n_docs" -> n, "n_tokens" -> t) }))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json)
  }

  // ----------------------------------------------------------- cli

  private val valueFlags =
    Set("--data", "--out", "--config", "--delta", "--jaccard")
  private val boolFlags = Set("--configGen", "--run", "--audit")

  def main(args: Array[String]): Unit = {
    val spark = Session("graft-curate")
    try cli(spark, args) finally spark.stop()
  }

  /** CLI body, session-injected so tests drive the real dispatch (the
    * Anonymize.run convention, including its strict unknown-flag policy). */
  def cli(spark: SparkSession, args: Array[String]): Unit = {
    val unknown = args.filter(_.startsWith("--"))
      .filterNot(a => valueFlags(a) || boolFlags(a))
    if (unknown.nonEmpty)
      sys.error(s"unknown argument(s): ${unknown.mkString(" ")}")
    val modes = args.filter(boolFlags)
    if (modes.length != 1)
      sys.error("exactly one mode required: --configGen | --run | --audit")
    // same accepted-but-ignored policy as Anonymize: a flag that does
    // nothing in this mode must fail, not silently no-op
    if (modes.head != "--run" && args.contains("--delta"))
      sys.error("--delta is only applicable to --run")
    if (modes.head != "--audit" && args.contains("--jaccard"))
      sys.error("--jaccard is only applicable to --audit")
    if (modes.head == "--audit" && args.contains("--config"))
      sys.error("--config is not read in --audit mode")
    def opt(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`name`, v) => v }
    val dataDir = opt("--data").getOrElse(sys.error("--data <parquetDir> required"))
    val outDir = opt("--out").getOrElse(".")
    new java.io.File(outDir).mkdirs()
    val configPath = opt("--config").getOrElse(s"$outDir/$ConfigFile")
    modes.head match {
      case "--configGen" =>
        writeConfig(configPath, DefaultConfig)
        println(s"Config written to $configPath")
      case "--run" =>
        val c = if (new java.io.File(configPath).isFile) readConfig(configPath)
          else DefaultConfig
        val docs = Tables.load(spark, dataDir, "documents")
        val r = opt("--delta") match {
          case Some(deltaDir) =>
            runDelta(docs, Tables.load(spark, deltaDir, "documents"), c)
          case None => run(docs, c)
        }
        // shards > 0: the train set lands globally shuffled — shard =
        // hash mod n, rows in pseudo-random (pos) order. The window's
        // hashpartitioning(shard) already co-locates each shard in one
        // task, so partitionBy adds NO extra shuffle and each shard
        // directory is written in position order. Loaders read shard
        // dirs in index order for a reproducible epoch permutation.
        if (c.shards > 0)
          Sampling.shuffleShards(r.train, "doc_id", ShardSalt, c.shards)
            .write.mode("overwrite").partitionBy("shard")
            .parquet(s"$outDir/train")
        else r.train.write.mode("overwrite").parquet(s"$outDir/train")
        r.`val`.write.mode("overwrite").parquet(s"$outDir/val")
        writeReport(s"$outDir/$ReportFile", c, r)
        // probe evidence beside the report (the rotation_probe.json
        // convention): a stale file from an earlier auto run must not
        // outlive a rerun that turned the probe off
        r.bandProbe match {
          case Some(p) => java.nio.file.Files.writeString(
            java.nio.file.Paths.get(s"$outDir/band_probe.json"), p.json)
          case None => java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(s"$outDir/band_probe.json"))
        }
        println(s"Curated: ${r.funnel.map { case (k, v) => s"$k=$v" }
          .mkString(" ")} → $outDir")
      // `--audit --data <curatedDir>`: the post-hoc split-leakage check on
      // an ALREADY-WRITTEN curation output (train/ + val/ parquet under
      // --data) — the operational "trust but verify" the q_split_audit
      // query performs on raw fixtures. Counts val docs with a banded
      // near-dup (portable family, default J ≥ 0.5, override --jaccard)
      // in train: O(val + collisions) via the delta path, the corpus side
      // never self-pairs. A leak-free run reports zero; a nonzero count
      // names the gate that let duplicates straddle the split.
      case "--audit" =>
        val threshold = opt("--jaccard").map(_.toDouble).getOrElse(0.5)
        val train = Read.parquet(spark, s"$dataDir/train")
        val valDf = Read.parquet(spark, s"$dataDir/val")
        val leaks = Dedup.nearDuplicatesDeltaPortable(train, valDf,
          "doc_id", "text", threshold = threshold)
          .select(col("delta_id")).distinct().count()
        val nVal = valDf.count()
        val json = ConfigIO.toJson(Map(
          "mode" -> "curate-audit", "jaccard" -> threshold,
          "nTrain" -> train.count(), "nVal" -> nVal,
          "leakyValDocs" -> leaks))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/curate.audit.json"), json)
        println(s"Split audit: leakyValDocs=$leaks of nVal=$nVal " +
          s"(J >= $threshold) → $outDir/curate.audit.json")
    }
  }
}
