package graft

import graft.functions.VectorOps
import graft.operators.{Ivf, Pq}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

/**
 * ANN index CLI — build an IVF-PQ index ONCE over an embeddings table,
 * then serve cosine-surrogate (ADC) top-k from the persisted artifacts
 * without ever re-touching raw vectors; the production property that
 * makes ANN viable at 100 TB (index = m small ints + a cell id per
 * vector, ~1-2% of fp32 vectors at the default geometry).
 *
 *   graft.Ann --build  --data <embeddings.parquet> --out <indexDir>
 *             [--k 16] [--iters 2] [--m 4] [--codes 8] [--dim 64]
 *             [--id vec_id] [--vec embedding] [--trained | --sq8 | --bq]
 *             [--rotate | --rotate-pca | --rotate-pca2 |
 *              --rotate-auto [--probe-sample 20000]]
 *   graft.Ann --search --index <indexDir> --data <queries.parquet>
 *             --out <resultDir> [--topk 10] [--nprobe 4]
 *             [--id vec_id] [--vec embedding] [--no-self-filter]
 *             [--refine <c> --raw <embeddings.parquet>]
 *   graft.Ann --append --index <indexDir> --data <new.parquet>
 *             [--vec embedding]
 *
 * --append folds NEW vectors into an existing index without touching
 * the indexed corpus: cell assignment + PQ codes against the FROZEN
 * persisted centroids/codebook (`Pq.encodeWith` literals — scan-local),
 * appended to codes.parquet. Under the monotone-id convention (the
 * build corpus holds the codebook seed ids) the grown index is
 * bit-identical to a full rebuild over the union — the same contract
 * [[graft.streaming.Streams.annAppend]] pins per epoch; AnnSpec pins
 * the CLI path end-to-end (append ≡ rebuild, searches agree).
 *
 * By default --search excludes any corpus vector whose id equals the
 * query id (the self-exclusion recall-eval convention — right when the
 * queries ARE corpus rows). When the query file's id space is unrelated
 * to the corpus, pass --no-self-filter or a numeric collision silently
 * drops a true neighbor.
 *
 * --rotate builds the index in the Walsh–Hadamard-rotated space;
 * --rotate-pca in the LEARNED Householder space (the reflection axis
 * trains on the build corpus's top principal direction and persists as
 * rotation.parquet — [[graft.operators.Opq]], the OPQ-style recall
 * lift at equal code budget, measured by q_opq_recall /
 * q_opq_pca_recall); --rotate-pca2 in the RANK-2 learned space (a
 * second reflection spreads the second principal direction too —
 * [[graft.operators.Opq.householder2FromPca]], measured by
 * q_opq_pca2_recall, the best recall of the three at sf0.1 — both axes
 * persist as (axis, pos, u) rows). Whichever rotation is recorded in
 * the meta, --search/--append/--refine rotate their inputs to match
 * automatically — a rotated artifact serves plain queries with no
 * caller-side changes (cosine is isometric under any of them).
 * Choosing a mode (measured on the harness embeddings — RecallProbe,
 * 40 queries): on LARGE corpora the learned rotations win (sf0.1:
 * pca1 0.1025 / pca2 0.10 vs wht 0.0875 / plain 0.09 recall@10); on
 * SMALL corpora the oblivious WHT wins because the learned axes are
 * estimated from too little data (sf0.01: wht 0.18 > pca1 0.16 >
 * pca2 0.14 > plain 0.14). Rule of thumb: --rotate-pca for production
 * corpora, --rotate when the build set is small or the spectrum is
 * unknown, --rotate-pca2 only when a probe on YOUR corpus shows the
 * second direction carrying real energy (q_pca_variance reports it).
 * Or skip the guessing: **--rotate-auto** runs that probe at build time
 * ([[probeRotation]] — the RecallProbe sweep over a deterministic
 * hash-sample of the build corpus, default 20000 rows, --probe-sample
 * to change), builds in the measured-best space, and records the
 * per-mode recalls beside the artifacts as rotation_probe.json; the
 * chosen mode lands in ann.meta.json's `rot` like any explicit flag,
 * so serving is identical. The probe measures the quantizer actually
 * being built: SQ8 under --sq8, sample-trained Lloyd codebooks under
 * --trained, the fixed first-k PQ otherwise. A non-auto rebuild into
 * the same dir deletes any stale rotation_probe.json, so the artifact
 * directory stays self-describing. (On the harness fixtures the probe's
 * hash-rekeyed 40-query sample measures the four modes within 1–2
 * hits of each other — near-ties — and the tie-prefers-simpler rule
 * lands on plain; the RecallProbe id-order numbers above show the
 * learned-mode direction emerging only at the larger SF. That
 * sensitivity to the query sample is exactly why the mode should be
 * MEASURED on the build corpus rather than guessed.)
 *
 * --sq8 builds an SQ8 index instead of PQ ([[graft.operators.Sq]], the
 * FAISS IndexScalarQuantizer QT_8bit shape): per-dimension affine int8
 * scales train on the build corpus and persist as scales.parquet, each
 * vector stores one code ARRAY beside its IVF cell, and serving scores
 * the probed cells' integer reconstructions against the micro-int query
 * (adist = −dot, so ranking/refine compose unchanged). 64 B/vector at
 * dim 64 vs PQ's ~5 — the higher-fidelity point on the compression
 * curve (q_sq8_ivf_recall measures it at the equal-nprobe ceiling).
 * --append against an SQ8 index encodes with the FROZEN scales
 * (out-of-range values saturate at the 0/255 edge codes, the FAISS
 * convention). Mutually exclusive with --trained; composes with the
 * rotation flags like any build.
 *
 * --bq builds a BINARY index ([[graft.operators.Bq]], the FAISS
 * IndexBinaryIVF shape): each vector stores its packed sign words
 * beside its IVF cell (8 B/vector at dim 64 — the cheapest point on
 * the compression curve, ~64x vs fp64) and serving ranks the probed
 * cells by Hamming distance (adist = the exact integer Hamming as a
 * double, so --refine composes unchanged — the measured
 * q_bq_refine_recall recipe: 1-bit candidates, exact-cosine rerank).
 * No trained state beyond the rotation: sign packing is stateless, so
 * --append is EXACT for any vector (no out-of-range/staleness class).
 * Mutually exclusive with --trained and --sq8; composes with the
 * rotation flags, and --rotate-auto probes the BINARY pipeline (sign
 * bits are basis-dependent, so rotation genuinely moves BQ recall).
 * `--search --asym` serves the ASYMMETRIC score from the same
 * artifacts (full-precision query against the stored sign patterns —
 * the measured recall upgrade at identical index bytes, q_bq_asym_
 * recall: 0.44 vs 0.32 at sf0.01): adist = −score/10⁶, so --refine
 * and the result schema compose unchanged.
 *
 * --proj-dim D builds a JL-PROJECTED index (qt = 3) — the
 * DIMENSIONALITY axis of the compression grid (q_jl_recall's measured
 * trade, served): every vector projects dim → D through the seeded
 * Gaussian plane basis (Similarity.hyperplanes — deterministic, no RNG
 * state), the IVF trains in the projected space, and the stored code
 * IS the projected vector (D doubles — 4× fewer bytes and 4× cheaper
 * dots at D = dim/4). The basis persists as projection.parquet (the
 * rotation.parquet convention), so append and serve are stateless-
 * exact like --bq. Serving ranks by exact projected cosine (adist =
 * −cos); nprobe ≥ k gives projected EXACT search; --refine composes
 * for the full-dim rerank recipe. Mutually exclusive with
 * --sq8/--bq/--trained and the rotation flags (the plane basis is
 * itself a dense basis mix). NOTE the measured caveat: on
 * near-isotropic embeddings (this fixture family — q_jl_recall reads
 * ≈ chance floor) projection destroys top-k margins; probe recall on
 * YOUR corpus before deploying, exactly as rotate-auto does for
 * rotation modes.
 *
 * --flat builds the UNCOMPRESSED index (qt = 5 — FAISS IndexIVFFlat):
 * the stored code is the vector itself beside its cell, serving probes
 * cells and ranks by exact cosine — full recall fidelity within the
 * probed cells at raw-vector bytes (the oracle-checked q_ivf_flat
 * pipeline, served). Right for 10⁶-10⁸-vector indexes; at 10⁹+ pick a
 * quantized mode (the recall curves price the trade). Appends are
 * trivially exact; composes with the rotation flags and large-k
 * routing. Mutually exclusive with every quantizer flag.
 *
 * --residual builds the PQ index over RESIDUALS (qt = 4 — FAISS
 * IndexIVFPQ's `by_residual = true` default): the fixed codebook and
 * every stored code describe x − c(cell) instead of x, and serving
 * computes each query's per-cell residual before the ADC tables (the
 * measured trade: q_ivf_pq_residual_recall vs q_ivf_pq_recall — an
 * honest negative on this fixture family's isotropic embeddings, the
 * standard win on clustered corpora; probe YOUR corpus first). Same
 * artifact files as the plain PQ index; --append encodes against the
 * frozen codebook via the same residual path; composes with large-k
 * routing (the centroid value reaches the residual subtraction by
 * broadcast-frame join above the threshold, scan-local literal below)
 * AND with --trained (Lloyd codebooks trained on the residual frame —
 * FAISS's production IndexIVFPQ default; serving/append are unchanged,
 * they read whatever codebook.parquet holds). Mutually exclusive with
 * --sq8/--bq/--proj-dim.
 *
 * --refine c turns on the FAISS IndexRefine serving shape: ADC proposes
 * the top-c candidates per query from codes only, then the refine stage
 * fetches JUST those vectors from --raw (one candidate-scale broadcast
 * probe — the raw store is never scanned per query) and re-ranks by
 * exact cosine to --topk. The oracle-checked q_ivf_pq_rerank /
 * q_ivf_pq_rerank_recall queries run this exact composition and measure
 * its recall lift over codes-only ranking at equal nprobe.
 *
 * Artifacts (all plain parquet + one JSON, any engine can read them):
 *   centroids.parquet  (cell INT, vec ARRAY<double>)   — k rows
 *   codebook.parquet   (j, c, cw ARRAY<double>, cwn2)  — m·codes rows (PQ)
 *   scales.parquet     (pos, mn, d)                    — dim rows (SQ8)
 *   codes.parquet      PQ: (<id>, cell, j, code), m rows/vector;
 *                      SQ8: (<id>, cell, scode ARRAY), 1 row/vector;
 *                      BQ:  (<id>, cell, bcode ARRAY<long>), 1 row/vector;
 *                      JL:  (<id>, cell, pvec ARRAY<double>), 1 row/vector
 *   rotation.parquet   (axis, pos, u)                  — learned modes
 *   projection.parquet (axis, pos, u DOUBLE)           — JL plane basis
 *   rotation_probe.json / ann.meta.json    probe evidence + geometry
 *
 * Build = [[Ivf.train]] (exact-decimal Lloyd) + [[Pq.buildIndex]];
 * serve = [[Pq.searchIndex]] — the same code paths the oracle-checked
 * q_ivf_pq_search / q_ivf_recall_curve queries run, so the CLI adds
 * orchestration, not new semantics (AnnSpec pins served ≡ fused
 * bit-for-bit).
 *
 * LARGE k: `--k` above [[Ann.LargeKThreshold]] (256) automatically
 * routes training and cell assignment — at build AND at --append —
 * through the broadcast centroid-FRAME forms ([[Ivf.trainJoin]] /
 * [[Ivf.assignJoin]], bit-identical per IvfSpec) instead of the
 * k×dim-literal plans, so `--k 10000` (FAISS's nlist ≈ √n at 10⁸+
 * vectors) builds with a k-independent plan size. The chosen path is
 * recorded in ann.meta.json (`kjoin`); pre-r16 metas read as
 * literal-built and keep serving unchanged.
 */
object Ann {
  val MetaFile = "ann.meta.json"

  /** The shared ingress dimension guard ([[VectorOps.requireDim]] —
    * hoisted r15 so Ann and the streaming twins can never drift):
    * wrong-dimension vectors fail fast instead of silently writing
    * wrong cell/code rows into a persisted serving artifact. */
  private def requireDim(vec: org.apache.spark.sql.Column, dim: Int,
      what: String): org.apache.spark.sql.Column =
    VectorOps.requireDim(vec, dim, what)

  /** `rot` declares the index's SPACE: 0 = plain; 1 = Walsh–Hadamard
    * ([[graft.operators.Opq.rotate]], --rotate at build); 2 = the
    * LEARNED Householder rotation ([[graft.operators.Opq
    * .rotateHouseholder]], --rotate-pca — the reflection axis trains on
    * the build corpus's top principal direction and persists as
    * rotation.parquet beside the other artifacts); 3 = the RANK-2
    * learned rotation (--rotate-pca2 — two composed reflections from
    * the top-2 principal directions, both axes persisted in
    * application order). Every vector — build
    * corpus, appended rows, serve-time queries, refine raws — enters
    * the SAME space before touching the quantizers, so the artifact
    * stays self-describing and a plain-space search against a rotated
    * index is impossible by construction. Absent in pre-rotation metas
    * (reads as 0).
    *
    * `qt` declares the QUANTIZER type: 0 = PQ (the default — m subspace
    * codes against a codebook), 1 = SQ8 ([[graft.operators.Sq]] — one
    * int8 code per dimension against per-dim affine scales persisted as
    * scales.parquet), 2 = binary ([[graft.operators.Bq]] — packed sign
    * words, NO trained state beyond the rotation: sign packing is
    * stateless, so --append is exact for any vector), 3 = JL-projected
    * (--proj-dim — the stored code is the projected vector itself;
    * `pdim` carries the projected dimension, and projection.parquet the
    * seeded plane basis), 4 = residual PQ (--residual — FAISS
    * IndexIVFPQ's by_residual form: the fixed codebook and every code
    * describe x − c(cell); SAME artifact files as qt=0, only serving
    * routes to the per-cell-residual distance tables), 5 = flat
    * (--flat — IndexIVFFlat: the stored code IS the vector, serving is
    * probe + exact cosine, appends trivially exact). Absent in pre-SQ
    * metas (reads as 0), so every existing index keeps serving
    * unchanged. */
  final case class Meta(k: Int, iters: Int, m: Int, codes: Int, dim: Int,
      idCol: String, rot: Int = 0, qt: Int = 0, kjoin: Boolean = false,
      pdim: Int = 0)

  /**
   * Above this k, build/append switch the train+assign plans from the
   * k×dim-LITERAL form ([[graft.operators.Ivf.train]] +
   * [[graft.operators.Ivf.nearestCentroid]], whose plan embeds every
   * centroid component as a literal — fine at k ≤ a few hundred, a
   * multi-MB non-codegen plan at the k ~ 10⁴ a 10⁹-vector IVF needs
   * under FAISS's nlist ≈ √n guidance, Ivf.scala) to the broadcast
   * centroid-FRAME twins ([[graft.operators.Ivf.trainJoin]] +
   * [[graft.operators.Ivf.assignJoin]]), which IvfSpec pins
   * bit-identical. The chosen path is recorded in the index meta
   * (`kjoin`) so --append assigns cells with the same plan form the
   * build used. 256 ≈ the largest k whose literal argmin still
   * whole-stage-codegens comfortably (64 KB JVM method bound).
   */
  val LargeKThreshold = 256

  // idCol round-trips through the hand-rolled JSON below unescaped, so it
  // must be a plain identifier — rejected HERE, at build time, with a clear
  // message instead of a corrupt meta file or an opaque regex miss at serve
  private val SafeIdent = "[A-Za-z_][A-Za-z0-9_]*".r

  private def writeMeta(dir: String, m: Meta): Unit = {
    require(SafeIdent.pattern.matcher(m.idCol).matches(),
      s"idCol must match [A-Za-z_][A-Za-z0-9_]*: '${m.idCol}'")
    val json =
      s"""{"k":${m.k},"iters":${m.iters},"m":${m.m},"codes":${m.codes},""" +
        s""""dim":${m.dim},"rot":${m.rot},"qt":${m.qt},""" +
        s""""kjoin":${m.kjoin},"pdim":${m.pdim},"idCol":"${m.idCol}"}"""
    val p = java.nio.file.Paths.get(dir, MetaFile)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, json.getBytes("UTF-8"))
  }

  private def readMeta(dir: String): Meta = {
    val s = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, MetaFile)), "UTF-8")
    def miss(k: String) = throw new IllegalArgumentException(
      s"$dir/$MetaFile is not a graft.Ann index meta (missing '$k'): $s")
    def int(k: String) =
      s""""$k":(-?\\d+)""".r.findFirstMatchIn(s)
        .getOrElse(miss(k)).group(1).toInt
    def str(k: String) =
      (""""""" + k + """":"([^"]*)"""").r.findFirstMatchIn(s)
        .getOrElse(miss(k)).group(1)
    val rot = s""""rot":(-?\\d+)""".r.findFirstMatchIn(s)
      .map(_.group(1).toInt).getOrElse(0)
    val qt = s""""qt":(-?\\d+)""".r.findFirstMatchIn(s)
      .map(_.group(1).toInt).getOrElse(0)
    // pre-r16 metas carry no kjoin — they were all literal-built
    val kjoin = s""""kjoin":(true|false)""".r.findFirstMatchIn(s)
      .exists(_.group(1) == "true")
    // pre-r16 metas carry no pdim — none of them are JL-projected
    val pdim = s""""pdim":(-?\\d+)""".r.findFirstMatchIn(s)
      .map(_.group(1).toInt).getOrElse(0)
    Meta(int("k"), int("iters"), int("m"), int("codes"), int("dim"),
      str("idCol"), rot, qt, kjoin, pdim)
  }

  val RotationFile = "rotation.parquet"
  val ProjectionFile = "projection.parquet"

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmTree)
    f.delete(); ()
  }

  /** The JL projection as `pdim` codegen'd sequential double dots —
    * identical arithmetic to q_jl_recall's fused form (one scan-local
    * select, no shuffle), so served ≡ fused is exact. */
  private def jlProject(vec: org.apache.spark.sql.Column,
      planes: Seq[Seq[Double]]): org.apache.spark.sql.Column =
    array(planes.map(p => VectorOps.dot(vec, typedlit(p))): _*)

  /** The seeded plane basis as its artifact frame (axis-major — the
    * [[RotationFile]] convention with double weights): pdim × dim rows,
    * metadata scale. */
  private def projectionFrame(spark: SparkSession,
      planes: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    planes.zipWithIndex.flatMap { case (p, a) =>
      p.zipWithIndex.map { case (v, i) => (a, i, v) }
    }.toDF("axis", "pos", "u")
  }

  /** A metadata-scale artifact's rows in the order of its integral `keys`:
    * collected, then sorted on the driver — one job where a Spark sort
    * costs a sampling job, a map stage and a result job. */
  private def collectSorted(df: DataFrame, keys: String*): Array[Row] = {
    import scala.math.Ordering.Implicits._
    val at = keys.map(df.schema.fieldIndex)
    df.collect().sortBy(r => at.map(r.getAs[Number](_).longValue))
  }

  /** Read the persisted planes in axis-major order; pdim × dim rows. */
  private def readProjection(spark: SparkSession, dir: String,
      pdim: Int, dim: Int): Seq[Seq[Double]] = {
    val rows = collectSorted(Read.parquet(spark, s"$dir/$ProjectionFile"),
      "axis", "pos")
    require(rows.length == pdim * dim,
      s"$dir/$ProjectionFile has ${rows.length} rows, expected " +
        s"$pdim x $dim")
    rows.grouped(dim).map(_.map(_.getAs[Double]("u")).toSeq).toSeq
  }

  /** Apply the index's declared space to a validated vector column:
    * identity for a plain index, [[graft.operators.Opq.rotate]] for a
    * WHT index. The learned spaces (rot = 2, 3) are frame-level — see
    * [[toIndexSpaceFrame]]. */
  private def toIndexSpace(vec: org.apache.spark.sql.Column, dim: Int,
      rot: Int): org.apache.spark.sql.Column =
    if (rot == 0) vec else graft.operators.Opq.rotate(vec, dim)

  /** Frame-level space application covering all four `rot` modes; for
    * the learned modes the persisted reflection axes must be supplied
    * ([[readRotation]]) — applied IN ORDER (axis 0 first), exactly the
    * build-time composition. */
  private def toIndexSpaceFrame(df: org.apache.spark.sql.DataFrame,
      embCol: String, dim: Int, rot: Int,
      us: Seq[Array[Long]]): org.apache.spark.sql.DataFrame = rot match {
    case 2 | 3 =>
      if (us.isEmpty) sys.error(s"rot=$rot index without rotation.parquet")
      us.foldLeft(df)((d, u) =>
        graft.operators.Opq.rotateHouseholder(d, embCol, u))
    case r => df.withColumn(embCol, toIndexSpace(col(embCol), dim, r))
  }

  /** The learned axes as their artifact frame of (axis, pos, u) rows —
    * `axis` orders the composition for rank ≥ 2 rotations. */
  private def rotationFrame(spark: SparkSession,
      us: Seq[Array[Long]]): DataFrame = {
    import spark.implicits._
    us.zipWithIndex.flatMap { case (u, a) =>
      u.zipWithIndex.map { case (v, i) => (a, i, v) }
    }.toDF("axis", "pos", "u")
  }

  /** Read the persisted axes in application order. Pre-rank-2 artifacts
    * wrote a single axis WITHOUT the `axis` column — read as one axis,
    * so r12 --rotate-pca indexes keep serving unchanged. */
  private def readRotation(spark: SparkSession, dir: String,
      rot: Int): Seq[Array[Long]] =
    if (rot != 2 && rot != 3) Nil
    else {
      val df = Read.parquet(spark, s"$dir/$RotationFile")
      if (!df.columns.contains("axis"))
        Seq(collectSorted(df, "pos").map(_.getAs[Long]("u")))
      else collectSorted(df, "axis", "pos")
        .groupBy(_.getAs[Int]("axis")).toSeq.sortBy(_._1)
        .map(_._2.map(_.getAs[Long]("u")).toArray)
    }

  /** The four rotation modes by `rot` code, for artifacts and logs. */
  val RotNames: Vector[String] = Vector("plain", "wht", "pca1", "pca2")

  /**
   * Measured rotation-mode selection (--rotate-auto): mean recall@10 of
   * the fixed-quantizer IVF-PQ pipeline under each of the four rotation
   * modes over a deterministic hash-sample of the build corpus — the
   * `tools/RecallProbe` sweep productized, because the right mode is
   * corpus-dependent (measured: learned rotations win on large corpora,
   * the oblivious WHT wins on small ones where the PCA axes are
   * estimated from too little data — see the usage scaladoc).
   *
   * Scale shape: the sample is the hash-lowest `sampleN` rows (one
   * TakeOrdered pass over the corpus, no full sort), re-keyed densely in
   * hash order so the fixed-quantizer conventions (codebook seeds = ids
   * < codes, probe queries = ids < nQueries) hold for ANY id space; the
   * single-partition re-key window is bounded by `sampleN` rows by
   * construction. Per mode the probe costs one bounded Lloyd pass + one
   * sample-scale PQ encode + nQueries×sampleN exact dots — independent
   * of corpus size past the sampling scan. The learned axes are trained
   * ON THE SAMPLE (the probe measures what a sample can estimate — the
   * same small-corpus caveat the measured numbers show).
   *
   * Returns (bestRot, per-mode recall@10); ties prefer the SIMPLER mode
   * (lower rot code). Empty corpus falls back to WHT (rot 1, the
   * oblivious spectrum-unknown default) with no measurements.
   *
   * `sq8 = true` probes with the SQ8 pipeline ([[graft.operators.Sq
   * .sq8IvfTopK]]) instead of IVF-PQ ADC, so a `--sq8 --rotate-auto`
   * build measures the quantizer it is actually going to build —
   * rotation responds to per-dim range balance under SQ8 and to
   * subspace energy balance under PQ, and the two can disagree.
   * Likewise `trained = true` probes with sample-trained Lloyd
   * codebooks ([[graft.operators.Pq.ivfAdcTrainedTopK]], at the
   * build's --iters) instead of the fixed first-k
   * quantizer, so a `--trained --rotate-auto` build selects its
   * rotation from the codebook family it will actually serve with.
   */
  def probeRotation(plain: DataFrame, idCol: String, dim: Int, k: Int,
      m: Int, codes: Int, nprobe: Int = 4, sampleN: Int = 20000,
      nQueries: Int = 40, sq8: Boolean = false,
      trained: Boolean = false, bq: Boolean = false,
      trainedIters: Int = 2,
      residual: Boolean = false): (Int, Seq[(Int, Double)]) = {
    import graft.operators.{Opq, Pca, Similarity}
    // global window DELIBERATE: bounded to sampleN rows by the limit below
    val w = org.apache.spark.sql.expressions.Window.orderBy("__h", idCol)
    val sample = plain
      .select(col(idCol), col("emb"),
        md5(concat(lit("annprobe:"), col(idCol).cast("string"))).as("__h"))
      .orderBy("__h", idCol).limit(sampleN)
      .withColumn("vec_id", row_number().over(w).cast("long") - 1)
      .select(col("vec_id"), col("emb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (sample.limit(1).isEmpty) { sample.unpersist(false); return (1, Nil) }
    val (d1, d2) = Pca.topDirections2(sample, "emb", dim)
    val u1 = Opq.householderFromPca(d1)
    val u2 = Opq.householder2FromPca(d2, u1)
    def recallOf(rot: Int): Double = {
      val f = (rot match {
        case 0 => sample
        case 1 => sample.withColumn("emb", Opq.rotate(col("emb"), dim))
        case 2 => Opq.rotateHouseholder(sample, "emb", u1)
        case _ => Opq.rotateHouseholder(
          Opq.rotateHouseholder(sample, "emb", u1), "emb", u2)
      }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val qs = f.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("q_id"), col("emb").as("q_emb"))
      val centroids = Ivf.train(f, "vec_id", "emb", k, iters = 0)
      val exact = Similarity.exactTopK(f, qs, 10)
        .select(col("q_id"), col("vec_id"))
      val approx = (if (sq8)
        graft.operators.Sq.sq8IvfTopK(f, qs, centroids, topK = 10,
          nprobe = nprobe, dim = dim)
      else if (bq)
        // rotation genuinely moves BQ recall: sign bits are basis-
        // dependent, so the probe must measure the binary pipeline
        graft.operators.Bq.bqIvfTopK(f, qs, centroids, topK = 10,
          nprobe = nprobe, dim = dim)
      else if (residual)
        // a --residual build quantizes residuals, whose geometry is what
        // the rotation perturbs — probe the residual ADC form, not plain
        // PQ (r16 ADVICE). A --residual --trained build probes the
        // FIXED-codebook residual form: the rotation-relevant part (the
        // residual frame's coordinate balance) is identical; only the
        // codebook fit differs, and sample-training codebooks per mode
        // would quadruple probe cost for a second-order effect.
        Pq.ivfAdcResidualTopK(f, qs, centroids, nprobe, topK = 10,
          m = m, k = codes, dim = dim)
      else if (trained)
        // the build's --iters, so the probe measures the codebook
        // family the index will actually serve with
        Pq.ivfAdcTrainedTopK(f, qs, centroids, nprobe, topK = 10,
          m = m, k = codes, dim = dim, iters = trainedIters)
      else Pq.ivfAdcTopK(f, qs, centroids, nprobe, topK = 10,
        m = m, k = codes, dim = dim))
        .select(col("q_id"), col("vec_id"))
      // overlap fraction over the AVAILABLE exact neighbors (not a fixed
      // /10): on a sub-11-vector sample each query has only s−1 true
      // neighbors, and a fixed-k denominator would deflate every mode's
      // recorded number by 10/(s−1) — mode RANKING would survive, the
      // persisted rotation_probe.json evidence would not. A degenerate
      // sample with zero exact pairs (one vector, self-excluded)
      // measures 0.0 instead of dividing by zero.
      val total = exact.count()
      val r = if (total == 0L) 0.0
      else exact.join(approx, Seq("q_id", "vec_id"), "left_semi")
        .count().toDouble / total
      // rot 0's frame IS the shared sample — freeing it here would force
      // the remaining three modes to re-run the corpus-scale sampling
      if (rot != 0) f.unpersist(false)
      r
    }
    val recalls = (0 to 3).map(r => r -> recallOf(r))
    sample.unpersist(false)
    (recalls.maxBy { case (rot, r) => (r, -rot) }._1, recalls)
  }

  /** Build the index directory from an embeddings parquet. Returns the
    * number of indexed vectors. `trained = true` uses per-subspace
    * Lloyd-trained codebooks (`Pq.trainCodebooks` + the scan-local literal
    * encoder) — the production default for corpora whose ids are not the
    * dense 0..k−1 the fixed quantizer's contract requires; `false` keeps
    * the fixed first-k codebook (the declared-quantizer convention the
    * oracle-checked queries use). */
  def build(spark: SparkSession, dataPath: String, outDir: String,
      k: Int, iters: Int, m: Int, codes: Int, dim: Int,
      idCol: String, vecCol: String, trained: Boolean = false,
      rotate: Boolean = false, rotatePca: Boolean = false,
      rotatePca2: Boolean = false, rotateAuto: Boolean = false,
      probeSampleN: Int = 20000, sq8: Boolean = false,
      bq: Boolean = false,
      largeKFrom: Int = LargeKThreshold,
      projDim: Int = 0,
      residual: Boolean = false,
      flat: Boolean = false): Long = {
    require(Seq(rotate, rotatePca, rotatePca2, rotateAuto)
        .count(identity) <= 1,
      "--rotate, --rotate-pca, --rotate-pca2 and --rotate-auto are " +
        "mutually exclusive")
    require(!(sq8 && trained),
      "--sq8 and --trained are mutually exclusive (SQ8 has no codebook)")
    require(!(bq && sq8) && !(bq && trained),
      "--bq is mutually exclusive with --sq8 and --trained " +
        "(sign packing has no codebook or scales)")
    // cheap preconditions fail BEFORE any prior artifact is touched —
    // a --bq build with a bad dim must not strand an existing index
    // (Bq.signWords would only throw after the deletes below)
    if (bq) require(dim >= 32 && dim % 32 == 0,
      s"--bq requires dim to be a positive multiple of 32, got $dim")
    require(projDim >= 0 && projDim <= dim,
      s"--proj-dim must be in [1, dim=$dim], got $projDim")
    require(projDim == 0 || (!sq8 && !bq && !trained),
      "--proj-dim is mutually exclusive with --sq8/--bq/--trained " +
        "(the projected vectors ARE the stored code)")
    require(projDim == 0 ||
        !(rotate || rotatePca || rotatePca2 || rotateAuto),
      "--proj-dim does not compose with rotation flags (the seeded " +
        "plane basis is itself a dense basis mix; a rotation in front " +
        "is statistically a no-op)")
    require(!residual || (!sq8 && !bq && projDim == 0),
      "--residual is the PQ-on-residuals index: it is mutually " +
        "exclusive with --sq8/--bq/--proj-dim (--trained composes — " +
        "Lloyd codebooks on the residual frame, the FAISS production " +
        "default)")
    require(!flat ||
        (!sq8 && !bq && !trained && projDim == 0 && !residual),
      "--flat stores the vectors themselves (no quantizer): it is " +
        "mutually exclusive with every quantizer flag")
    val plain = Read.parquet(spark, dataPath)
      .select(col(idCol), VectorOps.asDouble(col(vecCol)).as("emb"))
      .filter(col("emb").isNotNull && size(col("emb")) > 0)
      .withColumn("emb", requireDim(col("emb"), dim, "Ann --build"))
    val (rot, probeJsonOpt) = if (rotateAuto && flat) {
      // exact cosine is rotation-invariant: a probe would pick a rotation
      // that cannot change flat recall but costs a rotation pass on every
      // build/append/query — force identity and record why (r16 ADVICE)
      (0, Some("""{"chosen":"identity","rot":0,"quantizer":"flat",""" +
        """"reason":"exact cosine is rotation-invariant"}"""))
    } else if (rotateAuto) {
      // the probe measures the quantizer ACTUALLY being built (SQ8
      // responds to rotation via per-dim range balance, PQ via subspace
      // energy balance, residual PQ via the residual frame's balance,
      // trained codebooks adapt to whatever balance the rotation leaves
      // — the best mode can differ between all of them)
      val (best, recalls) = Jobs.named(spark, "Ann.build probe") {
        probeRotation(plain, idCol, dim, k, m, codes,
          sampleN = probeSampleN, sq8 = sq8, trained = trained, bq = bq,
          trainedIters = iters, residual = residual)
      }
      val measured = recalls
        .map { case (r, v) => s""""${RotNames(r)}":$v""" }.mkString(",")
      val qName = if (sq8) "sq8" else if (bq) "bq"
        else if (residual && trained) "pq-residual-trained"
        else if (residual) "pq-residual"
        else if (trained) "pq-trained" else "pq"
      // the evidence file lands with the meta at the END of the build
      // (the same crash-safety doctrine as every other artifact)
      (best, Some(s"""{"chosen":"${RotNames(best)}","rot":$best,""" +
        s""""quantizer":"$qName",""" +
        s""""sample_n":$probeSampleN,"recall@10":{$measured}}"""))
    } else {
      (if (rotatePca2) 3 else if (rotatePca) 2 else if (rotate) 1 else 0,
        None)
    }
    // every quantizer-training job below is named as one step
    def train[T](body: => T): T = Jobs.named(spark, "Ann.build train")(body)
    val us: Seq[Array[Long]] = train { rot match {
      case 2 => Seq(graft.operators.Opq.householderFromPca(
        graft.operators.Pca.topDirection(plain, "emb", dim)))
      case 3 =>
        val (d1, d2) = graft.operators.Pca.topDirections2(plain, "emb", dim)
        val u1 = graft.operators.Opq.householderFromPca(d1)
        Seq(u1, graft.operators.Opq.householder2FromPca(d2, u1))
      case _ => Nil
    } }
    // rotation is persisted LATE (staged with the other artifacts and
    // promoted before writeMeta): the build itself consumes the in-memory
    // `us` axes, and writing the final file here would let a
    // midway-failing rot=2 rebuild overwrite the 2-axis rotation a
    // still-current rot=3 meta points at
    // rotated builds persist the frame: Ivf.train and the encode below
    // both scan it, and without the persist the corpus-scale rotation
    // re-runs per consumer (the q_opq_pca_recall r12 finding)
    val emb0 = toIndexSpaceFrame(plain, "emb", dim, rot, us)
    // JL-projected builds (qt = 3) quantize in the PROJECTED space:
    // one scan-local select of projDim codegen'd dots replaces each
    // vector, and everything downstream — IVF train, assignment, the
    // stored codes — lives at projDim, not dim. Persisted for the same
    // reason rotated frames are: train and encode both scan it.
    val planes: Seq[Seq[Double]] = if (projDim > 0)
      graft.operators.Similarity.hyperplanes(projDim, dim) else Nil
    val embP = if (projDim > 0)
      emb0.select(col(idCol), jlProject(col("emb"), planes).as("emb"))
    else emb0
    val emb = if (rot == 0 && projDim == 0) embP
      else embP.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // LARGE-k routing (see [[LargeKThreshold]]): above the threshold the
    // k×dim-literal Lloyd/argmin plans give way to the broadcast
    // centroid-frame twins — bit-identical (IvfSpec pins trainJoin ≡
    // train and assignJoin ≡ nearestCentroid), but the plan stays
    // k-independent, the form a 10⁹-vector / k ~ 10⁴ IVF needs.
    val kjoin = k > largeKFrom
    val centFrame: Option[DataFrame] =
      if (kjoin) Some(train(Ivf.trainJoin(emb, idCol, "emb", k, iters)))
      else None
    val centroids: Seq[Seq[Double]] = if (kjoin) Nil
      else train(Ivf.train(emb, idCol, "emb", k, iters))
    // the ONE assignment every quantizer path below encodes beside:
    // (idCol, emb, cell)
    val assigned = centFrame match {
      case Some(cf) => Ivf.assignJoin(emb, idCol, "emb", cf)
        .withColumnRenamed("ivf_cell", "cell")
      case None => emb.withColumn("cell",
        Ivf.nearestCentroid(col("emb"), centroids))
    }
    import spark.implicits._
    // every artifact write below lands in a STAGING dir first; the
    // promote block at the end moves them into place just before the
    // meta flips — see the crash-safety contract there
    val stageDir = s"$outDir/.staging"
    new java.io.File(outDir).mkdirs()
    rmTree(new java.io.File(stageDir))
    // --residual's encode frame: emb − c(cell), per row, computed
    // scan-locally against the k×dim literal below the threshold or via
    // the broadcast k-row frame above it; persisted because the fixed
    // codebook filter and the encode join both scan it
    var resFrame: Option[DataFrame] = None
    var scalesOpt: Option[DataFrame] = None
    val (codesDf, cbOpt) = if (flat) {
      // qt=5 (IndexIVFFlat): the stored "code" IS the vector, beside
      // its cell — no quantizer state at all; serving probes cells and
      // ranks by exact cosine (the Similarity.ivfTopK pipeline over
      // persisted artifacts). The uncompressed point of the family:
      // full recall fidelity within the probed cells at raw-vector
      // bytes — right when the index holds 10⁶-10⁸ vectors, wrong at
      // 10⁹+ (use a quantized mode; the curve rows price the trade).
      (assigned.select(col(idCol), col("cell"), col("emb").as("fvec")),
        None)
    } else if (residual) {
      val ar = (centFrame match {
        case Some(cf) => assigned.join(
            broadcast(cf.select(col("cell"), col("vec").as("__cv"))),
            Seq("cell"))
        case None => assigned.withColumn("__cv", element_at(
          typedlit(centroids.map(_.toArray).toArray), col("cell") + 1))
      }).withColumn("__res",
          zip_with(col("emb"), col("__cv"), (a, b) => a - b))
        .drop("__cv")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      resFrame = Some(ar)
      // qt=4: the SAME codes/codebook artifact formats as the plain PQ
      // index — only the meta's qt routes serving to the residual half.
      // --trained swaps the fixed first-k residual codebook for Lloyd
      // codebooks trained ON the residual frame (FAISS's production
      // IndexIVFPQ default); serving and append are unchanged — they
      // read whatever codebook.parquet holds.
      if (trained) {
        val books = train(Pq.trainCodebooks(ar, idCol, "__res", m, codes,
          dim, iters))
        val cbDf = books.zipWithIndex.flatMap { case (cbJ, j) =>
          cbJ.zipWithIndex.map { case (w, c) =>
            (j, c, w, w.foldLeft(0.0)((s, x) => s + x * x))
          }
        }.toDF("j", "__c", "__cw", "__cwn2")
        val cd = Pq.encodeWith(ar, idCol, "__res", books,
            carry = Seq("cell"))
          .select(col(idCol), col("cell"), col("j"), col("code"))
        (cd, Some(cbDf))
      } else {
        val (cd, cbDf) = Pq.buildIndexAssigned(ar, m, codes, dim, idCol,
          "__res", "cell")
        (cd.select(col(idCol), col("__cell").as("cell"),
          col("j").cast("long").as("j"), col("code")), Some(cbDf))
      }
    } else if (projDim > 0) {
      // JL artifact (qt = 3): the stored code IS the projected vector
      // (projDim doubles — the dimensionality axis of the compression
      // grid) beside its projected-space cell; serving ranks by exact
      // projected cosine, so there is no codebook/scales state at all
      (assigned.select(col(idCol), col("cell"), col("emb").as("pvec")),
        None)
    } else if (sq8) {
      // SQ8 artifact: per-dim scales (dim rows) + one code ARRAY per
      // vector beside its cell — no codebook file; meta qt = 1 routes
      // search/append to the Sq serving path
      val (mnA, dA) = train(graft.operators.Sq.trainScales(emb, "emb", dim))
      scalesOpt = Some((0 until dim).map(i => (i, mnA(i), dA(i)))
        .toDF("pos", "mn", "d"))
      (assigned.select(col(idCol), col("cell"),
        graft.operators.Sq.codes(col("emb"), mnA, dA).as("scode")), None)
    } else if (bq) {
      // binary artifact: packed sign words beside the cell — no trained
      // state file at all (signs are stateless given the space); meta
      // qt = 2 routes search/append to the Hamming path
      (assigned.select(col(idCol), col("cell"),
        graft.operators.Bq.signWords(col("emb"), dim).as("bcode")), None)
    } else if (!trained) {
        val (cd, cbDf) = if (kjoin)
          Pq.buildIndexAssigned(assigned, m, codes, dim, idCol, "emb",
            "cell")
        else Pq.buildIndex(emb, centroids, m, codes, dim,
          idCol, "emb")
        // artifact schema is j: long (what encodeWith emits) — the fixed
        // path's posexplode int must cast or --append's long-j files sit
        // beside int-j files and the mixed parquet schema fails to read
        (cd.select(col(idCol), col("__cell").as("cell"),
          col("j").cast("long").as("j"), col("code")), Some(cbDf))
      } else {
        val books = train(Pq.trainCodebooks(emb, idCol, "emb", m, codes,
          dim, iters))
        // driver-side |cw|² uses the same left-to-right sum the codegen'd
        // dot expression computes, so serve-time ADC sees exact values
        val cbDf = books.zipWithIndex.flatMap { case (cbJ, j) =>
          cbJ.zipWithIndex.map { case (w, c) =>
            (j, c, w, w.foldLeft(0.0)((s, x) => s + x * x))
          }
        }.toDF("j", "__c", "__cw", "__cwn2")
        // cell + encode in ONE scan (the carry rides the explode — no
        // corpus-scale self-join to re-attach it); `assigned` is the
        // literal expression below the threshold and assignJoin above it
        val cd = Pq.encodeWith(assigned, idCol, "emb", books,
            carry = Seq("cell"))
          .select(col(idCol), col("cell"), col("j"), col("code"))
        (cd, Some(cbDf))
      }
    // fixed and residual PQ encode one row per (id, j) (`Pq.encodeSubs`
    // groups by both), so their j = 0 rows are exactly the distinct ids:
    // counted on the codes write itself. Observed metrics reject
    // DISTINCT, so the layouts writing one row per input row (flat, SQ8,
    // BQ, JL, trained) count the written codes back after the promote.
    val idsOnWrite =
      if (!trained && !flat && !sq8 && !bq && projDim == 0) Some(Observation())
      else None
    // the small artifacts are single files; codes keeps its width
    val small: Seq[(String, DataFrame)] =
      Seq("centroids.parquet" -> (centFrame match {
        // join-trained centroids never visit the driver — the k-row frame
        // (localCheckpoint-backed, metadata scale) writes directly
        case Some(cf) => cf.select(col("cell"), col("vec"))
        case None => centroids.zipWithIndex.map { case (v, i) => (i, v) }
          .toDF("cell", "vec")
      })) ++
      cbOpt.map(cb => "codebook.parquet" -> cb.select(col("j"),
        col("__c").as("c"), col("__cw").as("cw"), col("__cwn2").as("cwn2"))) ++
      scalesOpt.map("scales.parquet" -> _) ++
      (if (rot >= 2) Seq(RotationFile -> rotationFrame(spark, us)) else Nil) ++
      (if (projDim > 0) Seq(ProjectionFile -> projectionFrame(spark, planes))
       else Nil)
    val writes = small.map { case (name, df) => name -> df.coalesce(1) } :+
      ("codes.parquet" -> idsOnWrite.fold(codesDf)(ids =>
        codesDf.observe(ids, count(when(col("j") === 0, lit(1))).as("n"))))
    // the staged writes run together, as Engine.apply's per-table writes
    // do; inParallel returns only once every write has finished, so a
    // failed write still leaves nothing half-written behind the promote
    Jobs.inParallel(writes) { case (name, df) =>
      Jobs.named(spark, s"Ann.build write $name") {
        df.write.mode("overwrite").parquet(s"$stageDir/$name")
      }
    }
    // all consumers of the rotated frame (Ivf.train + all encode paths)
    // have materialized to disk by here — release the corpus-scale cache
    // so repeated programmatic builds in one session don't accumulate
    // blocks (the Scale.releaseAfterUse convention)
    if (rot != 0 || projDim > 0) emb.unpersist(blocking = false)
    resFrame.foreach(_.unpersist(blocking = false))
    // the join-trained centroid frame's checkpoint blocks are done once
    // codes.parquet has materialized (its last consumer)
    centFrame.foreach(org.apache.spark.sql.GraftBridge.freeCheckpoint)
    // ---- promote. All corpus-scale work above landed in the staging
    // dir; what remains is a handful of driver-local renames + the meta
    // flip, so a build failure ANYWHERE above leaves the prior index
    // untouched and fully serveable (its meta still points at files
    // that still exist). Promoting also enforces mode-overwrite
    // semantics for EVERY artifact: a name the new mode did not stage
    // (a --bq rebuild over a --trained index staging no codebook; a
    // plain rebuild over a learned-rotation index staging no rotation)
    // is DELETED, so the directory stays self-describing.
    // Two-phase with restore (r16 ADVICE): live artifacts are first
    // RENAMED ASIDE (same-dir, cheap), then the staged set renames into
    // place; a failure anywhere in either phase restores the aside set,
    // so the still-current meta keeps pointing at intact files. Only
    // after every rename succeeded are the aside copies dropped — the
    // remaining unsafe window is a crash between the last rename and
    // the drop, which leaves only ignorable `.<name>.prev` litter that
    // the next promote clears.
    val artifactNames = Seq("centroids.parquet", "codes.parquet",
      "codebook.parquet", "scales.parquet", RotationFile, ProjectionFile)
    def asideOf(name: String) = new java.io.File(outDir, s".$name.prev")
    def restoreAside(): Unit = artifactNames.foreach { name =>
      val b = asideOf(name)
      if (b.exists()) {
        rmTree(new java.io.File(outDir, name))
        b.renameTo(new java.io.File(outDir, name))
      }
    }
    try {
      artifactNames.foreach { name =>
        val live = new java.io.File(outDir, name)
        rmTree(asideOf(name)) // stale aside from an older crashed promote
        if (live.exists() && !live.renameTo(asideOf(name)))
          sys.error(s"failed to move $name aside in $outDir")
      }
      artifactNames.foreach { name =>
        val from = new java.io.File(stageDir, name)
        if (from.exists() && !from.renameTo(new java.io.File(outDir, name)))
          sys.error(s"failed to promote $name from $stageDir")
      }
    } catch { case e: Throwable => restoreAside(); throw e }
    artifactNames.foreach(name => rmTree(asideOf(name)))
    rmTree(new java.io.File(stageDir))
    // probe evidence follows the same doctrine: written with the meta it
    // describes; a non-auto rebuild into a dir that previously held an
    // auto build must not leave a stale probe beside a meta it no
    // longer describes
    probeJsonOpt match {
      case Some(j) => java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, "rotation_probe.json"),
        j.getBytes("UTF-8"))
      case None => java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(outDir, "rotation_probe.json"))
    }
    writeMeta(outDir,
      Meta(k, iters, m, codes, dim, idCol, rot,
        qt = if (sq8) 1 else if (bq) 2 else if (projDim > 0) 3
          else if (residual) 4 else if (flat) 5 else 0,
        kjoin = kjoin, pdim = projDim))
    idsOnWrite match {
      case Some(ids) => ids.get("n").asInstanceOf[Long]
      case None => Jobs.named(spark, "Ann.build count") {
        Read.parquet(spark, s"$outDir/codes.parquet")
          .select(col(idCol)).distinct().count()
      }
    }
  }

  /** Fold new vectors into an existing index against its FROZEN
    * quantizers (--append): assign cells, PQ-encode with the persisted
    * codebook as plan literals, append to codes.parquet. Returns the
    * number of vectors appended. Exact under the monotone-id contract
    * (see the usage scaladoc). */
  def append(spark: SparkSession, indexDir: String,
      dataPath: String, vecCol: String): Long = {
    val meta = readMeta(indexDir)
    val fresh0 = toIndexSpaceFrame(
      Read.parquet(spark, dataPath)
        .select(col(meta.idCol), VectorOps.asDouble(col(vecCol)).as("__e"))
        .filter(col("__e").isNotNull && size(col("__e")) > 0)
        .withColumn("__e",
          requireDim(col("__e"), meta.dim, "Ann --append")),
      "__e", meta.dim, meta.rot, readRotation(spark, indexDir, meta.rot))
      // JL (qt = 3) appends enter the PROJECTED space BEFORE cell
      // assignment — the centroids and codes live there; projection is
      // stateless given the persisted planes, so append is exact (the
      // BQ property, no range/codebook staleness class)
      .transform(f => if (meta.qt == 3)
        f.select(col(meta.idCol), jlProject(col("__e"),
          readProjection(spark, indexDir, meta.pdim, meta.dim)).as("__e"))
      else f)
    // cell assignment uses the SAME plan form the build recorded in the
    // meta: kjoin indexes (k above [[LargeKThreshold]]) assign via the
    // broadcast centroid frame, never a k×dim-literal plan
    val fresh = if (meta.kjoin)
      Ivf.assignJoin(fresh0, meta.idCol, "__e",
          Read.parquet(spark, s"$indexDir/centroids.parquet"))
        .withColumnRenamed("ivf_cell", "cell")
    else fresh0.withColumn("cell", Ivf.nearestCentroid(col("__e"),
      collectSorted(Read.parquet(spark, s"$indexDir/centroids.parquet"),
        "cell").map(_.getSeq[Double](1).toSeq).toSeq))
    val codes = (if (meta.qt == 1) {
      // SQ8 index: encode against the FROZEN persisted scales — exact
      // for any new vector inside the trained per-dim ranges; codes for
      // out-of-range values clamp at the integer division's floor/cap
      // the same way a rebuild over the union would NOT, which is why
      // the monotone-id contract below matters less here: scales are
      // range statistics, and appending outside the range degrades
      // reconstruction for the new rows only, never the stored ones
      val (mnA, dA) = readScales(spark, indexDir, meta.dim)
      fresh.select(col(meta.idCol), col("cell"),
        graft.operators.Sq.codes(col("__e"), mnA, dA).as("scode"))
    } else if (meta.qt == 2) {
      // binary index: sign packing is stateless (given the rotation the
      // frame already entered), so append is EXACT for any new vector —
      // no range/codebook staleness class at all
      fresh.select(col(meta.idCol), col("cell"),
        graft.operators.Bq.signWords(col("__e"), meta.dim).as("bcode"))
    } else if (meta.qt == 3) {
      // JL index: __e is ALREADY projected (see fresh0 above) — the
      // stored code is the projected vector itself
      fresh.select(col(meta.idCol), col("cell"), col("__e").as("pvec"))
    } else if (meta.qt == 5) {
      // flat index: the stored code is the vector itself — append is
      // trivially exact for any vector (no quantizer state at all)
      fresh.select(col(meta.idCol), col("cell"), col("__e").as("fvec"))
    } else if (meta.qt == 4) {
      // residual index: encode __e − c(cell) against the FROZEN
      // persisted codebook (the same frozen-quantizer contract as PQ;
      // the centroid value arrives via the kjoin-or-literal dual path)
      val cb = Read.parquet(spark, s"$indexDir/codebook.parquet")
        .select(col("j"), col("c").as("__c"), col("cw").as("__cw"),
          col("cwn2").as("__cwn2"))
      val withCv = if (meta.kjoin)
        fresh.join(broadcast(
          Read.parquet(spark, s"$indexDir/centroids.parquet")
            .select(col("cell"), col("vec").as("__cv"))), Seq("cell"))
      else fresh.withColumn("__cv", element_at(
        typedlit(collectSorted(
            Read.parquet(spark, s"$indexDir/centroids.parquet"), "cell")
          .map(_.getSeq[Double](1).toArray)),
        col("cell") + 1))
      graft.operators.Pq.encodeAgainstAssigned(
          withCv.withColumn("__res",
            zip_with(col("__e"), col("__cv"), (a, b) => a - b)),
          cb, meta.m, meta.dim, meta.idCol, "__res", "cell")
        .select(col(meta.idCol), col("__cell").as("cell"),
          col("j").cast("long").as("j"), col("code"))
    } else {
      val cbRows = Read.parquet(spark, s"$indexDir/codebook.parquet")
        .select(col("j"), col("c"), col("cw")).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
      val books: Seq[Seq[Seq[Double]]] = (0 until meta.m).map(j =>
        cbRows.filter(_._1 == j).sortBy(_._2).map(_._3).toSeq)
      Pq.encodeWith(fresh, meta.idCol, "__e", books, carry = Seq("cell"))
        .select(col(meta.idCol), col("cell"), col("j"), col("code"))
    }).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = codes.select(col(meta.idCol)).distinct().count()
    codes.write.mode("append").parquet(s"$indexDir/codes.parquet")
    codes.unpersist()
    n
  }

  /** Read the persisted per-dim SQ8 scales in position order. */
  private def readScales(spark: SparkSession, dir: String,
      dim: Int): (Array[Long], Array[Long]) = {
    val rows = collectSorted(Read.parquet(spark, s"$dir/scales.parquet"),
      "pos")
    require(rows.length == dim,
      s"$dir/scales.parquet has ${rows.length} rows, expected $dim")
    (rows.map(_.getAs[Long]("mn")), rows.map(_.getAs[Long]("d")))
  }

  /** SQ8 serving half (meta qt = 1): reconstruct the probed cells' codes
    * scan-locally from the persisted scales, score by the exact long dot
    * against the micro-int queries (`Sq.sq8IvfTopK`'s algebra over the
    * persisted artifacts), rank ascending by the negated LONG score (so
    * ordering and rn are exact), and report adist = −score / 255·10¹²
    * — the dot rescaled back to the original float units (≈ −q·v̂).
    * The long score itself can exceed 2⁵³, where a raw double cast
    * would collide adjacent candidates (the q_opq_balance driver-compare
    * lesson); the rescaled value is a real-valued distance whose ulp is
    * far below any meaningful gap, and it keeps the `Pq.searchIndex`
    * column convention so --refine and the result schema compose
    * unchanged. */
  private def sq8Serve(spark: SparkSession, indexDir: String, meta: Meta,
      qs: DataFrame, centroids: Seq[Seq[Double]],
      centFrame: Option[DataFrame], nprobe: Int, topK: Int,
      selfFilter: Boolean): DataFrame = {
    import graft.operators.Sq
    val (mnA, dA) = readScales(spark, indexDir, meta.dim)
    val codes = Read.parquet(spark, s"$indexDir/codes.parquet")
      .select(col(meta.idCol), col("cell").as("__cell"),
        Sq.reconstruct(col("scode"), mnA, dA).as("__r"))
    val probes = probeCells(qs, "q_emb", centroids, centFrame, nprobe)
      .select(col("q_id"), col("__cell"),
        Sq.microInts(col("q_emb")).as("__q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("__ad"), col(meta.idCol))
    codes.join(broadcast(probes), Seq("__cell"))
      .filter(if (selfFilter) col(meta.idCol) =!= col("q_id")
        else lit(true))
      .withColumn("__ad",
        // codegen'd exact long dot — same expression the Sq operators
        // serve with (bit-identical to the HOF fold it replaced)
        -org.apache.spark.sql.GraftBridge.column(
          graft.functions.LongDotProduct(
            org.apache.spark.sql.GraftBridge.expression(col("__r")),
            org.apache.spark.sql.GraftBridge.expression(col("__q")))))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topK)
      .select(col("q_id"), col(meta.idCol), col("rn"),
        (col("__ad").cast("double") / lit(2.55e14)).as("adist"))
  }

  /** (q_id, <embCol>, __cell) — one row per probed cell per query:
    * the k×dim-literal [[Ivf.probeList]] below the large-k threshold,
    * the broadcast centroid-frame [[Ivf.probeJoin]] above it (the meta's
    * `kjoin` decides, so a k=10⁴ index never plans k-literal probes at
    * serve time either). Bit-identical probe sets — IvfSpec pins it. */
  private def probeCells(qs: DataFrame, embCol: String,
      centroids: Seq[Seq[Double]], centFrame: Option[DataFrame],
      nprobe: Int): DataFrame = centFrame match {
    case Some(cf) => Ivf.probeJoin(qs, "q_id", embCol, cf, nprobe)
    case None => qs.withColumn("__cell",
      explode(Ivf.probeList(col(embCol), centroids, nprobe)))
  }

  /** JL serving half (meta qt = 3): project the queries through the
    * persisted plane basis ([[ProjectionFile]]), probe the
    * projected-space centroids, and rank the probed cells' STORED
    * projected vectors by exact projected cosine — q_jl_recall's
    * arithmetic over persisted artifacts (identical sequential double
    * dots, so served ≡ fused bit-for-bit). adist = −cosine (exact
    * double, ascending = most similar first), keeping the
    * `Pq.searchIndex` column convention so --refine — exact cosine in
    * the ORIGINAL space over the raw store — composes unchanged (the
    * measured JL recipe: cheap projected candidates, full-dim rerank).
    * nprobe ≥ k degenerates to projected EXACT search. */
  private def jlServe(spark: SparkSession, indexDir: String, meta: Meta,
      qs: DataFrame, centroids: Seq[Seq[Double]],
      centFrame: Option[DataFrame], nprobe: Int, topK: Int,
      selfFilter: Boolean): DataFrame = {
    val planes = readProjection(spark, indexDir, meta.pdim, meta.dim)
    cosineServe(spark, indexDir, meta,
      qs.select(col("q_id"), jlProject(col("q_emb"), planes).as("__pq")),
      "__pq", "pvec", centroids, centFrame, nprobe, topK, selfFilter)
  }

  /** Flat serving half (meta qt = 5 — FAISS IndexIVFFlat): probe cells,
    * rank the probed cells' STORED vectors by exact cosine against the
    * raw query — `Similarity.ivfTopK`'s pipeline over persisted
    * artifacts (adist = −cos, --refine composes though it is a no-op
    * upgrade here: the in-index ranking is already exact within the
    * probed cells; nprobe ≥ k degenerates to exact search). */
  private def flatServe(spark: SparkSession, indexDir: String, meta: Meta,
      qs: DataFrame, centroids: Seq[Seq[Double]],
      centFrame: Option[DataFrame], nprobe: Int, topK: Int,
      selfFilter: Boolean): DataFrame =
    cosineServe(spark, indexDir, meta,
      qs.select(col("q_id"), col("q_emb").as("__fq")),
      "__fq", "fvec", centroids, centFrame, nprobe, topK, selfFilter)

  /** Shared exact-cosine serving tail for the vector-STORING indexes
    * (qt=3's projected `pvec`, qt=5's flat `fvec`): probe cells (via
    * the kjoin-or-literal dual path), rank the probed cells' stored
    * vectors by exact cosine against the query column; adist = −cosine
    * (exact double), the `Pq.searchIndex` column convention. */
  private def cosineServe(spark: SparkSession, indexDir: String,
      meta: Meta, qs: DataFrame, qVec: String, storedCol: String,
      centroids: Seq[Seq[Double]], centFrame: Option[DataFrame],
      nprobe: Int, topK: Int, selfFilter: Boolean): DataFrame = {
    val codes = Read.parquet(spark, s"$indexDir/codes.parquet")
      .select(col(meta.idCol), col("cell").as("__cell"), col(storedCol))
    val probes = probeCells(qs, qVec, centroids, centFrame, nprobe)
      .select(col("q_id"), col("__cell"), col(qVec))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("__ad"), col(meta.idCol))
    codes.join(broadcast(probes), Seq("__cell"))
      .filter(if (selfFilter) col(meta.idCol) =!= col("q_id")
        else lit(true))
      .withColumn("__ad", -VectorOps.cosine(col(storedCol), col(qVec)))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topK)
      .select(col("q_id"), col(meta.idCol), col("rn"),
        col("__ad").as("adist"))
  }

  /** Binary serving half (meta qt = 2): Hamming over the probed cells'
    * packed sign words against the query's words — [[graft.operators
    * .Bq.bqIvfTopK]]'s algebra over the persisted artifacts. adist =
    * the Hamming distance as a double (≤ dim — exact), keeping the
    * `Pq.searchIndex` column convention so --refine composes.
    *
    * `asym = true` (--asym) serves the ASYMMETRIC score instead — the
    * full-precision query dotted against each candidate's sign pattern
    * ([[graft.operators.Bq.bqAsymTopK]]'s algebra, the measured recall
    * upgrade at the SAME index bytes: q_bq_asym_recall) — adist =
    * −score/10⁶ so smaller still means closer and --refine composes
    * unchanged. Same artifacts, same probes; only the per-candidate
    * expression differs. */
  private def bqServe(spark: SparkSession, indexDir: String, meta: Meta,
      qs: DataFrame, centroids: Seq[Seq[Double]],
      centFrame: Option[DataFrame], nprobe: Int, topK: Int,
      selfFilter: Boolean, asym: Boolean = false): DataFrame = {
    import graft.operators.Bq
    val codes = Read.parquet(spark, s"$indexDir/codes.parquet")
      .select(col(meta.idCol), col("cell").as("__cell"), col("bcode"))
    // only the representation the chosen mode scores with is computed
    // and broadcast (packed words for Hamming, micro-ints for asym)
    val qRep = if (asym)
      transform(col("q_emb"), x => round(x * 1e6, 0).cast("long"))
    else Bq.signWords(col("q_emb"), meta.dim)
    val probes = probeCells(qs, "q_emb", centroids, centFrame, nprobe)
      .select(col("q_id"), col("__cell"), qRep.as("__qr"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("__h"), col(meta.idCol))
    val scored = codes.join(broadcast(probes), Seq("__cell"))
      .filter(if (selfFilter) col(meta.idCol) =!= col("q_id")
        else lit(true))
      .withColumn("__h",
        if (asym)
          (-Bq.asymScore(col("bcode"), col("__qr"), meta.dim)
            .cast("double")) / lit(1e6)
        else Bq.hamming(col("bcode"), col("__qr")).cast("double"))
    scored.withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topK)
      .select(col("q_id"), col(meta.idCol), col("rn"),
        col("__h").as("adist"))
  }

  /** Serve top-k from a built index; the result is also returned.
    * `selfFilter` — see the usage scaladoc above (--no-self-filter).
    * `refine` = (candC, rawPath) turns on the exact-cosine refine stage
    * over the top-candC ADC candidates (--refine/--raw). */
  def search(spark: SparkSession, indexDir: String, queriesPath: String,
      outDir: Option[String], topK: Int, nprobe: Int,
      qIdCol: String, qVecCol: String,
      selfFilter: Boolean = true,
      refine: Option[(Int, String)] = None,
      asym: Boolean = false): DataFrame = {
    val meta = readMeta(indexDir)
    require(!asym || meta.qt == 2,
      "--asym serves binary (qt=2) indexes only")
    // kjoin indexes never materialize the k×dim literal at serve time
    // either: the centroid FRAME flows into the broadcast probe ranking
    // ([[probeCells]]); small-k indexes keep the codegen'd literal list
    val centDf = Read.parquet(spark, s"$indexDir/centroids.parquet")
    val centFrame = if (meta.kjoin) Some(centDf) else None
    val (centroids, rotU) = Jobs.named(spark, "Ann.search centroids") {
      val cs: Seq[Seq[Double]] = if (meta.kjoin) Nil
        else collectSorted(centDf, "cell")
          .map(_.getSeq[Double](1).toSeq).toSeq
      (cs, readRotation(spark, indexDir, meta.rot))
    }
    val qs = toIndexSpaceFrame(
      Read.parquet(spark, queriesPath)
        .select(col(qIdCol).as("q_id"),
          VectorOps.asDouble(col(qVecCol)).as("q_emb"))
        .filter(col("q_emb").isNotNull && size(col("q_emb")) > 0)
        .withColumn("q_emb",
          requireDim(col("q_emb"), meta.dim, "Ann --search")),
      "q_emb", meta.dim, meta.rot, rotU)
    val adcK = refine.map(_._1).getOrElse(topK)
    require(adcK >= topK,
      s"--refine candidate depth $adcK must be >= --topk $topK")
    val adc = Jobs.named(spark, "Ann.search adc") {
      if (meta.qt == 1) sq8Serve(spark, indexDir, meta, qs,
        centroids, centFrame, nprobe, adcK, selfFilter)
      else if (meta.qt == 2) bqServe(spark, indexDir, meta, qs,
        centroids, centFrame, nprobe, adcK, selfFilter, asym = asym)
      else if (meta.qt == 3) jlServe(spark, indexDir, meta, qs,
        centroids, centFrame, nprobe, adcK, selfFilter)
      else if (meta.qt == 5) flatServe(spark, indexDir, meta, qs,
        centroids, centFrame, nprobe, adcK, selfFilter)
      else {
        val cb = Read.parquet(spark, s"$indexDir/codebook.parquet")
          .select(col("j"), col("c").as("__c"), col("cw").as("__cw"),
            col("cwn2").as("__cwn2"))
        val codes = Read.parquet(spark, s"$indexDir/codes.parquet")
          .select(col(meta.idCol), col("cell").as("__cell"), col("j"),
            col("code"))
        if (meta.qt == 4)
          Pq.searchIndexResidual(codes, cb, qs, centroids, nprobe, adcK,
            meta.m, meta.dim, meta.idCol, selfFilter = selfFilter,
            centFrame = centFrame)
        else Pq.searchIndex(codes, cb, qs, centroids, nprobe, adcK,
          meta.m, meta.dim, meta.idCol, selfFilter = selfFilter,
          centFrame = centFrame)
      }
    }
    val out = refine match {
      case None => adc
      case Some((_, rawPath)) =>
        // refine compares against the ALREADY-ROTATED queries, so the
        // raw store enters the same space (cosine is isometric under
        // the rotation — OpqSpec — so the refined ranking is the
        // plain-space ranking either way)
        // dimension-validated like the other three ingress paths: a
        // wrong-dim raw vector would otherwise silently truncate the
        // exact-cosine refine (DotProduct folds over min length) or
        // fail obscurely mid-rotation on a rotated index
        val raw = toIndexSpaceFrame(
          Read.parquet(spark, rawPath)
            .select(col(meta.idCol),
              VectorOps.asDouble(col(qVecCol)).as("__remb"))
            .filter(col("__remb").isNotNull && size(col("__remb")) > 0)
            .withColumn("__remb",
              requireDim(col("__remb"), meta.dim, "Ann --refine raw")),
          "__remb", meta.dim, meta.rot, rotU)
        graft.operators.Similarity.refineTopK(
            adc.select(col("q_id"), col(meta.idCol), col("adist")),
            raw, qs, topK,
            idCol = meta.idCol, embCol = "__remb",
            qIdCol = "q_id", qEmbCol = "q_emb")
          .select(col("q_id"), col(meta.idCol), col("rn"), col("adist"),
            round(col("cos"), 6).as("cosine"))
    }
    outDir.foreach(d => Jobs.named(spark, "Ann.search write") {
      out.write.mode("overwrite").parquet(s"$d/ann_results.parquet")
    })
    out
  }

  /** Every flag the CLI accepts — the strict unknown-flag policy shared
    * with Anonymize/Curate: a mistyped flag (e.g. `--rotate-pca1`) must
    * FAIL, not silently build a differently-configured index. */
  private val KnownFlags = Set(
    "build", "search", "append",
    "data", "out", "index", "id", "vec",
    "k", "iters", "m", "codes", "dim",
    "trained", "sq8", "bq", "proj-dim", "residual", "flat", "rotate",
    "rotate-pca", "rotate-pca2", "rotate-auto", "probe-sample",
    "topk", "nprobe", "no-self-filter", "refine", "raw", "asym")

  private def opt(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  /** Rejects, before any session is built, an unknown flag, a missing
    * mode, or a mode's missing path flag (named, as Anonymize does). */
  private[graft] def checkArgs(args: Array[String]): Unit = {
    def fail(msg: String) = throw new IllegalArgumentException(msg)
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    val unknown = flags -- KnownFlags
    if (unknown.nonEmpty)
      fail(s"unknown argument(s): ${unknown.map("--" + _).mkString(" ")}")
    val required =
      if (flags("build")) Seq("data" -> "<parquetDir>", "out" -> "<indexDir>")
      else if (flags("search") || flags("append"))
        Seq("index" -> "<indexDir>", "data" -> "<parquetDir>")
      else fail("usage: graft.Ann --build|--search|--append ... (see scaladoc)")
    required.foreach { case (name, what) =>
      if (opt(args, name).isEmpty) fail(s"--$name $what required")
    }
  }

  def main(args: Array[String]): Unit = {
    try checkArgs(args) catch { case e: IllegalArgumentException =>
      System.err.println(e.getMessage)
      sys.exit(2)
    }
    val flags = args.filter(_.startsWith("--")).map(_.drop(2)).toSet
    def opt(name: String): Option[String] = Ann.opt(args, name)
    def intOpt(name: String, dflt: Int) = opt(name).map(_.toInt).getOrElse(dflt)
    val spark = Session("graft-ann")
    try {
      if (flags("build")) {
        val n = build(spark, opt("data").get, opt("out").get,
          intOpt("k", 16), intOpt("iters", 2), intOpt("m", 4),
          intOpt("codes", 8), intOpt("dim", 64),
          opt("id").getOrElse("vec_id"), opt("vec").getOrElse("embedding"),
          trained = flags("trained"), rotate = flags("rotate"),
          rotatePca = flags("rotate-pca"),
          rotatePca2 = flags("rotate-pca2"),
          rotateAuto = flags("rotate-auto"),
          probeSampleN = intOpt("probe-sample", 20000),
          sq8 = flags("sq8"), bq = flags("bq"),
          projDim = intOpt("proj-dim", 0),
          residual = flags("residual"), flat = flags("flat"))
        println(s"""{"built":$n,"index":"${opt("out").get}"}""")
      } else if (flags("search")) {
        val refine = opt("refine").map(c => (c.toInt,
          opt("raw").getOrElse(sys.error("--refine requires --raw <path>"))))
        val res = search(spark, opt("index").get, opt("data").get,
          opt("out"), intOpt("topk", 10), intOpt("nprobe", 4),
          opt("id").getOrElse("vec_id"), opt("vec").getOrElse("embedding"),
          selfFilter = !flags("no-self-filter"), refine = refine,
          asym = flags("asym"))
        println(s"""{"results":${res.count()}}""")
      } else {
        val n = append(spark, opt("index").get, opt("data").get,
          opt("vec").getOrElse("embedding"))
        println(s"""{"appended":$n,"index":"${opt("index").get}"}""")
      }
    } finally spark.stop()
  }
}
