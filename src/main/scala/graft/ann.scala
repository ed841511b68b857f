package graft

import graft.functions.VectorOps
import graft.operators.Ivf
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
 *             [--id vec_id] [--vec embedding]
 *             [[--trained] [--residual] | --sq8 | --bq | --proj-dim <D> |
 *              --flat]
 *             [--rotate | --rotate-pca | --rotate-pca2 |
 *              --rotate-auto [--probe-sample 20000]]
 *   graft.Ann --search --index <indexDir> --data <queries.parquet>
 *             --out <resultDir> [--topk 10] [--nprobe 4]
 *             [--id vec_id] [--vec embedding] [--no-self-filter]
 *             [--asym] [--refine <c> --raw <embeddings.parquet>]
 *   graft.Ann --append --index <indexDir> --data <new.parquet>
 *             [--vec embedding]
 *
 * The build flags pick ONE codec ([[IndexCodec]]), recorded as
 * ann.meta.json's `qt`; --search and --append read it from there:
 *   (none)        PQ, the fixed first-k codebook              qt 0
 *   --trained     PQ, per-subspace Lloyd codebooks            qt 0
 *   --residual    PQ over x − c(cell) (FAISS by_residual);    qt 4
 *                 composes with --trained
 *   --sq8         per-dimension int8 scales (64 B/vector)     qt 1
 *   --bq          packed sign words, Hamming (8 B/vector);    qt 2
 *                 --search --asym scores the full-precision
 *                 query against them instead
 *   --proj-dim D  JL-projected vectors (D doubles), exact     qt 3
 *                 projected cosine; no rotation flag
 *   --flat        the vectors themselves, exact cosine        qt 5
 * Conflicting flags fail before a session starts ([[checkArgs]]).
 * Measured trades, all at equal nprobe: q_sq8_ivf_recall (SQ8, the
 * high-fidelity point), q_bq_asym_recall (asym 0.44 vs Hamming 0.32 at
 * sf0.01), q_ivf_pq_residual_recall (residual: an honest negative on
 * these isotropic fixtures, the standard win on clustered corpora) and
 * q_jl_recall (≈ the chance floor here: projection destroys top-k
 * margins on near-isotropic embeddings). Probe YOUR corpus before
 * deploying residual or JL; flat fits 10⁶-10⁸ vectors, past that pick a
 * quantized codec.
 *
 * --append folds NEW vectors into an existing index without touching
 * the indexed corpus: cell assignment against the persisted centroids
 * and the codec's FROZEN encode ([[IndexCodec.Frozen]] — PQ codebooks
 * and SQ8 scales as plan literals, scan-local), appended to
 * codes.parquet. Under the monotone-id convention (the build corpus
 * holds the codebook seed ids) the grown index is bit-identical to a
 * full rebuild over the union — the same encode
 * [[graft.streaming.Streams.indexAppend]] runs per epoch; AnnSpec pins
 * the CLI path end-to-end (append ≡ rebuild, searches agree). Binary,
 * JL and flat appends are exact for any vector (stateless codes); SQ8
 * values outside the trained ranges saturate at the edge codes.
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
 * so serving is identical. The probe measures the codec actually
 * being built ([[IndexCodec.probeTopK]]); a --flat build skips it and
 * stays unrotated, since exact cosine is rotation-invariant. A non-auto
 * rebuild into the same dir deletes any stale rotation_probe.json, so
 * the artifact directory stays self-describing. (On the harness
 * fixtures the probe's hash-rekeyed 40-query sample measures the four
 * modes within 1–2 hits of each other — near-ties — and the
 * tie-prefers-simpler rule lands on plain; the RecallProbe id-order
 * numbers above show the learned-mode direction emerging only at the
 * larger SF. That sensitivity to the query sample is exactly why the
 * mode should be MEASURED on the build corpus rather than guessed.)
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
 *                      JL:  (<id>, cell, pvec ARRAY<double>), 1 row/vector;
 *                      flat: (<id>, cell, fvec ARRAY<double>), 1 row/vector
 *   rotation.parquet   (axis, pos, u)                  — learned modes
 *   projection.parquet (axis, pos, u DOUBLE)           — JL plane basis
 *   rotation_probe.json / ann.meta.json    probe evidence + geometry
 *
 * Build = [[Ivf.train]] (exact-decimal Lloyd) + the codec's build
 * (default: [[graft.operators.Pq.buildIndex]]); serve = the codec's
 * serve half (default: [[graft.operators.Pq.searchIndex]]) — the same
 * code paths the oracle-checked q_ivf_pq_search / q_ivf_recall_curve
 * queries run, so the CLI adds orchestration, not new semantics
 * (AnnSpec pins served ≡ fused bit-for-bit, per codec).
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
    * hoisted r15 so Ann and the streaming ingest can never drift):
    * wrong-dimension vectors fail fast instead of silently writing
    * wrong cell/code rows into a persisted serving artifact. */
  private def requireDim(vec: org.apache.spark.sql.Column, dim: Int,
      what: String): org.apache.spark.sql.Column =
    VectorOps.requireDim(vec, dim, what)

  /** `rot` declares the index's SPACE, an index into [[RotNames]]: 0 =
    * plain; 1 = Walsh–Hadamard ([[graft.operators.Opq.rotate]], --rotate
    * at build); 2 = the LEARNED Householder rotation ([[graft.operators
    * .Opq.rotateHouseholder]], --rotate-pca — the reflection axis trains
    * on the build corpus's top principal direction and persists as
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
    * `codec` is the QUANTIZER ([[IndexCodec]]), recorded as its `qt`
    * code (and, for JL, the projected dimension as `pdim`). Absent in
    * pre-SQ metas (reads as qt 0, PQ), so every existing index keeps
    * serving unchanged. An unknown `rot` or `qt` fails the read. */
  final case class Meta(k: Int, iters: Int, m: Int, codes: Int, dim: Int,
      idCol: String, rot: Int = 0, codec: IndexCodec = IndexCodec.Pq(),
      kjoin: Boolean = false)

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
        s""""dim":${m.dim},"rot":${m.rot},"qt":${m.codec.qt},""" +
        s""""kjoin":${m.kjoin},"pdim":${m.codec.pdim},"idCol":"${m.idCol}"}"""
    val p = java.nio.file.Paths.get(dir, MetaFile)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, json.getBytes("UTF-8"))
  }

  private def readMeta(dir: String): Meta = {
    val file = s"$dir/$MetaFile"
    val s = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, MetaFile)), "UTF-8")
    def miss(k: String) = throw new IllegalArgumentException(
      s"$file is not a graft.Ann index meta (missing '$k'): $s")
    def intOpt(k: String) =
      s""""$k":(-?\\d+)""".r.findFirstMatchIn(s).map(_.group(1).toInt)
    def int(k: String) = intOpt(k).getOrElse(miss(k))
    def str(k: String) =
      (""""""" + k + """":"([^"]*)"""").r.findFirstMatchIn(s)
        .getOrElse(miss(k)).group(1)
    // rot, qt and pdim are absent in older metas: plain, PQ, unprojected
    val rot = intOpt("rot").getOrElse(0)
    if (!RotNames.indices.contains(rot)) throw new IllegalArgumentException(
      s"$file: unknown rotation code rot=$rot")
    // pre-r16 metas carry no kjoin — they were all literal-built
    val kjoin = s""""kjoin":(true|false)""".r.findFirstMatchIn(s)
      .exists(_.group(1) == "true")
    Meta(int("k"), int("iters"), int("m"), int("codes"), int("dim"),
      str("idCol"), rot, IndexCodec.fromQt(intOpt("qt").getOrElse(0),
        intOpt("pdim").getOrElse(0), file), kjoin)
  }

  val RotationFile = "rotation.parquet"
  val ProjectionFile = "projection.parquet"

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmTree)
    f.delete(); ()
  }

  /** A metadata-scale artifact's rows in the order of its integral `keys`:
    * collected, then sorted on the driver — one job where a Spark sort
    * costs a sampling job, a map stage and a result job. */
  private[graft] def collectSorted(df: DataFrame, keys: String*): Array[Row] = {
    import scala.math.Ordering.Implicits._
    val at = keys.map(df.schema.fieldIndex)
    df.collect().sortBy(r => at.map(r.getAs[Number](_).longValue))
  }

  /** The index's coarse quantizer in the plan form its build recorded:
    * a kjoin index (k above [[LargeKThreshold]]) keeps the centroid
    * FRAME, so neither append nor search ever plans a k×dim literal. */
  private def readCoarse(spark: SparkSession, dir: String,
      kjoin: Boolean): IndexCodec.Coarse = {
    val cents = Read.parquet(spark, s"$dir/centroids.parquet")
    if (kjoin) IndexCodec.Coarse(Nil, Some(cents))
    else IndexCodec.Coarse(collectSorted(cents, "cell")
      .map(_.getSeq[Double](1).toSeq).toSeq)
  }

  /** Frame-level space application covering all four `rot` modes: the
    * identity, [[graft.operators.Opq.rotate]] for WHT, and for the
    * learned modes the persisted reflection axes ([[readRotation]]) —
    * applied IN ORDER (axis 0 first), exactly the build-time
    * composition. */
  private def toIndexSpaceFrame(df: org.apache.spark.sql.DataFrame,
      embCol: String, dim: Int, rot: Int,
      us: Seq[Array[Long]]): org.apache.spark.sql.DataFrame = rot match {
    case 2 | 3 =>
      if (us.isEmpty) sys.error(s"rot=$rot index without rotation.parquet")
      us.foldLeft(df)((d, u) =>
        graft.operators.Opq.rotateHouseholder(d, embCol, u))
    case r => df.withColumn(embCol,
      if (r == 0) col(embCol) else graft.operators.Opq.rotate(col(embCol), dim))
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

  /** The four rotation modes by `rot` code, for artifacts and logs; with
    * "auto" they are the values of [[build]]'s `rotation`. */
  val RotNames: Vector[String] = Vector("plain", "wht", "pca1", "pca2")

  /**
   * Measured rotation-mode selection (--rotate-auto): mean recall@10 of
   * the codec's fused IVF pipeline ([[IndexCodec.probeTopK]]) under each
   * of the four rotation modes over a deterministic hash-sample of the
   * build corpus — the `tools/RecallProbe` sweep productized, because
   * the right mode is corpus-dependent (measured: learned rotations win
   * on large corpora, the oblivious WHT wins on small ones where the PCA
   * axes are estimated from too little data — see the usage scaladoc),
   * and quantizer-dependent: SQ8 responds to per-dim range balance, PQ to
   * subspace energy balance, residual PQ to the residual frame's balance,
   * sign bits to the basis itself, and trained codebooks (probed at the
   * build's `trainedIters`) adapt to whatever balance the rotation
   * leaves — the best mode can differ between all of them.
   *
   * Scale shape: the sample is the hash-lowest `sampleN` rows (one
   * TakeOrdered pass over the corpus, no full sort), re-keyed densely in
   * hash order so the fixed-quantizer conventions (codebook seeds = ids
   * < codes, probe queries = ids < nQueries) hold for ANY id space; the
   * single-partition re-key window is bounded by `sampleN` rows by
   * construction. Per mode the probe costs one bounded Lloyd pass + one
   * sample-scale encode + nQueries×sampleN exact dots — independent
   * of corpus size past the sampling scan. The learned axes are trained
   * ON THE SAMPLE (the probe measures what a sample can estimate — the
   * same small-corpus caveat the measured numbers show).
   *
   * Returns (bestRot, per-mode recall@10); ties prefer the SIMPLER mode
   * (lower rot code). Empty corpus falls back to WHT (rot 1, the
   * oblivious spectrum-unknown default) with no measurements.
   */
  def probeRotation(plain: DataFrame, idCol: String, dim: Int, k: Int,
      m: Int, codes: Int, nprobe: Int = 4, sampleN: Int = 20000,
      nQueries: Int = 40, codec: IndexCodec = IndexCodec.Pq(),
      trainedIters: Int = 2): (Int, Seq[(Int, Double)]) = {
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
      val approx = codec.probeTopK(f, qs, centroids, nprobe, m, codes, dim,
          trainedIters)
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
    * number of indexed vectors. `codec` picks the quantizer (the fixed
    * first-k PQ codebook by default — the declared-quantizer convention
    * the oracle-checked queries use); `rotation` is one of [[RotNames]]
    * or "auto" ([[probeRotation]]). */
  def build(spark: SparkSession, dataPath: String, outDir: String,
      k: Int, iters: Int, m: Int, codes: Int, dim: Int,
      idCol: String, vecCol: String,
      codec: IndexCodec = IndexCodec.Pq(), rotation: String = "plain",
      probeSampleN: Int = 20000,
      largeKFrom: Int = LargeKThreshold): Long = {
    require(rotation == "auto" || RotNames.contains(rotation),
      s"rotation must be one of ${(RotNames :+ "auto").mkString(", ")}, " +
        s"got '$rotation'")
    // cheap preconditions fail BEFORE any prior artifact is touched —
    // a --bq build with a bad dim must not strand an existing index
    codec.requireFits(dim, rotation)
    val plain = Read.parquet(spark, dataPath)
      .select(col(idCol), VectorOps.asDouble(col(vecCol)).as("emb"))
      .filter(col("emb").isNotNull && size(col("emb")) > 0)
      .withColumn("emb", requireDim(col("emb"), dim, "Ann --build"))
    val (rot, probeJsonOpt) = if (rotation == "auto" &&
        codec == IndexCodec.Flat) {
      // exact cosine is rotation-invariant: a probe would pick a rotation
      // that cannot change flat recall but costs a rotation pass on every
      // build/append/query — force identity and record why (r16 ADVICE)
      (0, Some("""{"chosen":"identity","rot":0,"quantizer":"flat",""" +
        """"reason":"exact cosine is rotation-invariant"}"""))
    } else if (rotation == "auto") {
      val (best, recalls) = Jobs.named(spark, "Ann.build probe") {
        probeRotation(plain, idCol, dim, k, m, codes,
          sampleN = probeSampleN, codec = codec, trainedIters = iters)
      }
      val measured = recalls
        .map { case (r, v) => s""""${RotNames(r)}":$v""" }.mkString(",")
      // the evidence file lands with the meta at the END of the build
      // (the same crash-safety doctrine as every other artifact)
      (best, Some(s"""{"chosen":"${RotNames(best)}","rot":$best,""" +
        s""""quantizer":"${codec.name}",""" +
        s""""sample_n":$probeSampleN,"recall@10":{$measured}}"""))
    } else (RotNames.indexOf(rotation), None)
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
    val emb0 = toIndexSpaceFrame(plain, "emb", dim, rot, us)
    // rotated or projected (JL) frames persist: Ivf.train and the encode
    // both scan them, and without the persist the corpus-scale transform
    // re-runs per consumer (the q_opq_pca_recall r12 finding)
    val embC = codec.codeSpace(emb0, dim)
    val cached = rot != 0 || (embC ne emb0)
    val emb = if (cached)
      embC.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else embC
    // LARGE-k routing (see [[LargeKThreshold]]): above the threshold the
    // k×dim-literal Lloyd/argmin plans give way to the broadcast
    // centroid-frame twins — bit-identical (IvfSpec pins trainJoin ≡
    // train and assignJoin ≡ nearestCentroid), but the plan stays
    // k-independent, the form a 10⁹-vector / k ~ 10⁴ IVF needs.
    val kjoin = k > largeKFrom
    val coarse =
      if (kjoin) IndexCodec.Coarse(Nil,
        Some(train(Ivf.trainJoin(emb, idCol, "emb", k, iters))))
      else IndexCodec.Coarse(train(Ivf.train(emb, idCol, "emb", k, iters)))
    import spark.implicits._
    // every artifact write below lands in a STAGING dir first; the
    // promote block at the end moves them into place just before the
    // meta flips — see the crash-safety contract there
    val stageDir = s"$outDir/.staging"
    new java.io.File(outDir).mkdirs()
    rmTree(new java.io.File(stageDir))
    val built = codec.build(IndexCodec.BuildIn(spark, idCol, emb,
      coarse.assign(emb, idCol, "emb"), coarse, m, codes, dim, iters))
    // codecs encoding one row per (id, j) count the distinct ids on the
    // codes write itself (their j = 0 rows); observed metrics reject
    // DISTINCT, so the others count the written codes back after the
    // promote
    val idsOnWrite = if (built.countsOnWrite) Some(Observation()) else None
    // the small artifacts are single files; codes keeps its width
    val small: Seq[(String, DataFrame)] =
      Seq("centroids.parquet" -> (coarse.frame match {
        // join-trained centroids never visit the driver — the k-row frame
        // (localCheckpoint-backed, metadata scale) writes directly
        case Some(cf) => cf.select(col("cell"), col("vec"))
        case None => coarse.lits.zipWithIndex.map { case (v, i) => (i, v) }
          .toDF("cell", "vec")
      })) ++ built.artifacts ++
      (if (rot >= 2) Seq(RotationFile -> rotationFrame(spark, us)) else Nil)
    val writes = small.map { case (name, df) => name -> df.coalesce(1) } :+
      ("codes.parquet" -> idsOnWrite.fold(built.codes)(ids =>
        built.codes.observe(ids, count(when(col("j") === 0, lit(1))).as("n"))))
    // the staged writes run together, as Engine.apply's per-table writes
    // do; inParallel returns only once every write has finished, so a
    // failed write still leaves nothing half-written behind the promote
    Jobs.inParallel(writes) { case (name, df) =>
      Jobs.named(spark, s"Ann.build write $name") {
        df.write.mode("overwrite").parquet(s"$stageDir/$name")
      }
    }
    // all consumers of the cached frames (Ivf.train + the encode) have
    // materialized to disk by here — release them so repeated
    // programmatic builds in one session don't accumulate blocks (the
    // Scale.releaseAfterUse convention)
    if (cached) emb.unpersist(blocking = false)
    built.release.foreach(_.unpersist(blocking = false))
    // the join-trained centroid frame's checkpoint blocks are done once
    // codes.parquet has materialized (its last consumer)
    coarse.frame.foreach(org.apache.spark.sql.GraftBridge.freeCheckpoint)
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
      IndexCodec.CodebookFile, IndexCodec.ScalesFile, RotationFile,
      ProjectionFile)
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
    writeMeta(outDir, Meta(k, iters, m, codes, dim, idCol, rot, codec, kjoin))
    idsOnWrite match {
      case Some(ids) => ids.get("n").asInstanceOf[Long]
      case None => Jobs.named(spark, "Ann.build count") {
        Read.parquet(spark, s"$outDir/codes.parquet")
          .select(col(idCol)).distinct().count()
      }
    }
  }

  /** Fold new vectors into an existing index against its FROZEN
    * quantizers (--append): rotate into the index's space, assign cells,
    * encode with the codec's persisted state ([[IndexCodec.Frozen]]),
    * append to codes.parquet. Returns the number of vectors appended.
    * Exact under the monotone-id contract (see the usage scaladoc). */
  def append(spark: SparkSession, indexDir: String,
      dataPath: String, vecCol: String): Long = {
    val meta = readMeta(indexDir)
    val frozen = meta.codec.freeze(spark, indexDir, meta)
    // a JL index's cells and codes live in the PROJECTED space, so new
    // vectors enter it before cell assignment (`frozen.space`)
    val fresh = toIndexSpaceFrame(
      Read.parquet(spark, dataPath)
        .select(col(meta.idCol), VectorOps.asDouble(col(vecCol)).as("__e"))
        .filter(col("__e").isNotNull && size(col("__e")) > 0)
        .withColumn("__e",
          requireDim(col("__e"), meta.dim, "Ann --append")),
      "__e", meta.dim, meta.rot, readRotation(spark, indexDir, meta.rot))
      .withColumn("__e", frozen.space(col("__e")))
    val coarse = readCoarse(spark, indexDir, meta.kjoin)
    val codes = frozen.encode(coarse.assign(fresh, meta.idCol, "__e"),
        meta.idCol, "__e", coarse)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = codes.select(col(meta.idCol)).distinct().count()
    codes.write.mode("append").parquet(s"$indexDir/codes.parquet")
    codes.unpersist()
    n
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
    require(!asym || meta.codec == IndexCodec.Bq,
      "--asym serves binary (qt=2) indexes only")
    val (coarse, rotU) = Jobs.named(spark, "Ann.search centroids") {
      (readCoarse(spark, indexDir, meta.kjoin),
        readRotation(spark, indexDir, meta.rot))
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
      meta.codec.serve(indexDir, meta, qs, coarse, nprobe, adcK, selfFilter,
        asym)
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

  /** The rotation flags and the [[build]] `rotation` each selects. */
  private val RotationFlags = Seq("rotate" -> "wht", "rotate-pca" -> "pca1",
    "rotate-pca2" -> "pca2", "rotate-auto" -> "auto")

  private def opt(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  /** Rejects, before any session is built, an unknown flag, a missing
    * mode, a mode's missing path flag (named, as Anonymize does), build
    * flags that pick more than one codec or rotation, and --refine
    * without --raw. */
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
    if (flags("build")) {
      val rotated = RotationFlags.count(r => flags(r._1))
      if (rotated > 1) fail("--rotate, --rotate-pca, --rotate-pca2 and " +
        "--rotate-auto are mutually exclusive")
      if (flags("sq8") && flags("trained"))
        fail("--sq8 and --trained are mutually exclusive (SQ8 has no codebook)")
      if (flags("bq") && (flags("sq8") || flags("trained")))
        fail("--bq is mutually exclusive with --sq8 and --trained " +
          "(sign packing has no codebook or scales)")
      if (flags("proj-dim") && (flags("sq8") || flags("bq") || flags("trained")))
        fail("--proj-dim is mutually exclusive with --sq8/--bq/--trained " +
          "(the projected vectors ARE the stored code)")
      if (flags("proj-dim") && rotated > 0)
        fail("--proj-dim does not compose with rotation flags (the seeded " +
          "plane basis is itself a dense basis mix; a rotation in front " +
          "is statistically a no-op)")
      if (flags("residual") && Seq("sq8", "bq", "proj-dim", "flat").exists(flags))
        fail("--residual is the PQ-on-residuals index: it is mutually " +
          "exclusive with --sq8/--bq/--proj-dim/--flat (--trained " +
          "composes — Lloyd codebooks on the residual frame, the FAISS " +
          "production default)")
      if (flags("flat") && Seq("sq8", "bq", "trained", "proj-dim").exists(flags))
        fail("--flat stores the vectors themselves (no quantizer): it is " +
          "mutually exclusive with every quantizer flag")
    }
    if (flags("search") && flags("refine") && opt(args, "raw").isEmpty)
      fail("--refine requires --raw <path>")
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
        val codec =
          if (flags("sq8")) IndexCodec.Sq8
          else if (flags("bq")) IndexCodec.Bq
          else if (flags("flat")) IndexCodec.Flat
          else if (flags("proj-dim")) IndexCodec.Jl(intOpt("proj-dim", 0))
          else IndexCodec.Pq(flags("trained"), flags("residual"))
        val n = build(spark, opt("data").get, opt("out").get,
          intOpt("k", 16), intOpt("iters", 2), intOpt("m", 4),
          intOpt("codes", 8), intOpt("dim", 64),
          opt("id").getOrElse("vec_id"), opt("vec").getOrElse("embedding"),
          codec, RotationFlags.collectFirst { case (f, r) if flags(f) => r }
            .getOrElse("plain"),
          probeSampleN = intOpt("probe-sample", 20000))
        println(s"""{"built":$n,"index":"${opt("out").get}"}""")
      } else if (flags("search")) {
        val res = search(spark, opt("index").get, opt("data").get,
          opt("out"), intOpt("topk", 10), intOpt("nprobe", 4),
          opt("id").getOrElse("vec_id"), opt("vec").getOrElse("embedding"),
          selfFilter = !flags("no-self-filter"),
          refine = opt("refine").map(c => (c.toInt, opt("raw").get)),
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
