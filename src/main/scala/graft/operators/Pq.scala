package graft.operators

import graft.functions.ExactDecimalSum
import graft.functions.VectorOps._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Product quantization (PQ) — the vector-COMPRESSION half of large-scale
 * ANN, complementing the candidate-bounding half (IVF cells, LSH buckets):
 * the embedding splits into `m` contiguous subvectors and each subvector is
 * encoded as the index of its nearest codeword in a per-subspace codebook,
 * so a d-dim float vector becomes m small integers (64 floats → 4 bytes at
 * m=4, k≤256). At 100 TB the codes are what fits in executor memory — the
 * full floats stay in cold storage — and per-subspace reconstruction error
 * is the quality metric that picks m and k.
 *
 * This is the FIXED-codebook variant (codewords = the subvectors of the
 * rows with id < k — the same declared-quantizer trick as
 * `q_sim_ivf_fixed`): assignment key, index tiebreak, and error are exact
 * sequential-dot arithmetic both engines reproduce bit-for-bit, so the
 * whole encoder is DuckDB-oracle-checkable. A k-means-trained codebook
 * drops into the same shape the way the trained IVF does (engine-specific
 * float reductions → rows-only checking).
 *
 * Scale: the codebook is m·k rows (metadata) broadcast into one scan of
 * the corpus; the per-(vector, subspace) argmin is a map-side partial
 * min(struct) — one shuffle keyed on (id, j) bounded by m·|corpus| rows,
 * no driver state anywhere.
 */
object Pq {

  /** One row per (input row, subspace j): the j-th d-wide slice. */
  private def subvectors(v: org.apache.spark.sql.Column, m: Int, d: Int) =
    posexplode(transform(sequence(lit(0), lit(m - 1)),
      j => slice(v, j * d + 1, lit(d))))

  /** The fixed codebook: (code __c, subspace j, codeword __cw, |cw|²
    * __cwn2) from the rows with id < k — m·k rows, metadata scale.
    * CONTRACT: ids 0..k-1 must exist (the declared-quantizer convention,
    * as in q_sim_ivf_fixed); with sparse or offset ids the codebook comes
    * up short and the encode join silently drops subspaces — use
    * [[trainCodebooks]]+[[encodeWith]] there, whose seed is the k LOWEST
    * ids present, whatever their values. */
  private def fixedCodebook(df: DataFrame, idCol: String, embCol: String,
      m: Int, k: Int, d: Int): DataFrame =
    df.filter(col(idCol) < k)
      .select(col(idCol).cast("int").as("__c"), col(embCol).as("__v"))
      .select(col("__c"), subvectors(col("__v"), m, d).as(Seq("j", "__cw")))
      .withColumn("__cwn2", dot(col("__cw"), col("__cw")))

  /**
   * Encode every row's embedding against the fixed codebook. Returns one
   * row per (id, subspace j): the chosen `code` and the squared
   * reconstruction error `err` = |s − cw|², expanded as |s|² − 2·s·cw +
   * |cw|² (the same one-dot-per-candidate trick as [[Ivf]]'s rank key).
   * Ties break on the lower codeword index — deterministic in any engine.
   */
  def encodeFixed(df: DataFrame, idCol: String, embCol: String,
      m: Int, k: Int, dim: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val d = dim / m
    encodeAgainst(df, idCol, embCol, m, d,
      fixedCodebook(df, idCol, embCol, m, k, d))
  }

  /** [[encodeFixed]]'s body against a PREBUILT codebook DataFrame, so a
    * caller with two codebook consumers ([[adcTopK]]) builds it once. */
  private def encodeAgainst(df: DataFrame, idCol: String, embCol: String,
      m: Int, d: Int, codebook: DataFrame): DataFrame = {
    // |s|² once per (vector, subspace), BEFORE the ×k candidate join.
    // Spread first (the buildIndex convention): the subspace explode +
    // ×k argmin join otherwise runs inside the single scan task.
    val subs = Scale.spreadForCompute(
        df.select(col(idCol), col(embCol).as("__v")), col(idCol))
      .select(col(idCol), subvectors(col("__v"), m, d).as(Seq("j", "__s")))
      .withColumn("__sn2", dot(col("__s"), col("__s")))
    subs.join(broadcast(codebook), "j")
      .withColumn("__key",
        lit(-2.0) * dot(col("__s"), col("__cw")) + col("__cwn2"))
      .groupBy(col(idCol), col("j"))
      .agg(min(struct(col("__key").as("k"), col("__c").as("c"))).as("__m"),
        max(col("__sn2")).as("__n2")) // constant within the group
      .select(col(idCol), col("j").cast("long").as("j"),
        col("__m.c").as("code"),
        round(col("__n2") + col("__m.k"), 6).as("err"))
  }

  /**
   * [[encodeFixed]] over an ALREADY-QUANTIZED `array<long>` embedding
   * column: every dot product, argmin key, and reconstruction error is
   * an EXACT long sum — zero float operations after the caller's one
   * quantization, so per-row errors AND any cross-row total of them are
   * bit-portable by construction. This exists because summed
   * once-rounded double errors proved fragile across DuckDB builds (a
   * 1-ulp divergence at the round(·,6) boundary flips a 1e-6 digit of a
   * SUM — the q_opq_balance driver failure in round 12); an integer err
   * has no boundary to flip. Same broadcast-codebook/argmin shape and
   * scale story as [[encodeFixed]]; `err` is in (input units)².
   * Magnitude contract: |coordinate| ≲ 2.4e7 keeps every 16-wide dot
   * inside a long at d = dim/m ≤ 16 (the micro-quantized ×8 and raw-WHT
   * frames used by q_opq_balance sit well under it).
   */
  def encodeFixedLong(df: DataFrame, idCol: String, embCol: String,
      m: Int, k: Int, dim: Int): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val d = dim / m
    // codegen'd exact long dot (bit-identical to the HOF fold it
    // replaced — LongDotProductSpec pins it; the interpreted form walked
    // an expression tree + allocated an array per candidate pair)
    def dotL(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      org.apache.spark.sql.GraftBridge.column(
        graft.functions.LongDotProduct(
          org.apache.spark.sql.GraftBridge.expression(a),
          org.apache.spark.sql.GraftBridge.expression(b)))
    val codebook = df.filter(col(idCol) < k)
      .select(col(idCol).cast("int").as("__c"), col(embCol).as("__v"))
      .select(col("__c"), subvectors(col("__v"), m, d).as(Seq("j", "__cw")))
      .withColumn("__cwn2", dotL(col("__cw"), col("__cw")))
    val subs = df.select(col(idCol), col(embCol).as("__v"))
      .select(col(idCol), subvectors(col("__v"), m, d).as(Seq("j", "__s")))
      .withColumn("__sn2", dotL(col("__s"), col("__s")))
    subs.join(broadcast(codebook), "j")
      .withColumn("__key",
        lit(-2L) * dotL(col("__s"), col("__cw")) + col("__cwn2"))
      .groupBy(col(idCol), col("j"))
      .agg(min(struct(col("__key").as("k"), col("__c").as("c"))).as("__m"),
        max(col("__sn2")).as("__n2"))
      .select(col(idCol), col("j").cast("long").as("j"),
        col("__m.c").as("code"),
        (col("__n2") + col("__m.k")).as("err"))
  }

  /**
   * k-means-TRAINED per-subspace codebooks (classic PQ training), FUSED:
   * all m subspaces train their Lloyd iterations in the SAME jobs — one
   * persisted working set, one seed collect (the first k full vectors,
   * sliced driver-side), and per iteration ONE pass that assigns every
   * row's m subvectors against the current codebook literals and
   * aggregates the exact-decimal component means grouped by (subspace,
   * codeword, position) — m·k·d rows to the driver, metadata scale. The
   * r15 fusion: the previous per-subspace [[Ivf.train]] loop planned
   * O(m·iters) job cascades (JobCount measured 41 jobs on
   * q_opq_train_recall at m=4) where this plans O(iters); at production
   * PQ geometry (m = 8–16) the sequential form is a scheduler-latency
   * multiplier with zero arithmetic benefit. BIT-IDENTICAL to the
   * per-subspace form (PqSpec law): same first-k-by-id seeds (a slice of
   * the same vectors), same literal argmin with the same (distance,
   * index) tie-break, same order-independent decimal(28,10) means (the
   * [[graft.functions.ExactDecimalSum]] kernel, bit for bit the
   * cast-then-sum an oracle replays) with empty codewords keeping their
   * previous value.
   *
   * Seeded from the k lowest ids present; when ids are dense from 0 (the
   * [[encodeFixed]] contract) that seed IS the fixed codebook, and Lloyd
   * never increases distortion — so trained reconstruction error ≤
   * fixed, which the spec asserts. Engine-specific float reductions →
   * ScalaTest-checked, not SQL-oracled — EXCEPT where an oracle replays
   * the training verbatim (q_opq_train_recall's Lloyd-in-SQL): the
   * means are exact decimals, so they reproduce in any engine.
   */
  def trainCodebooks(df: DataFrame, idCol: String, embCol: String,
      m: Int, k: Int, dim: Int, iters: Int = 2): Seq[Seq[Seq[Double]]] = {
    require(m >= 1 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val d = dim / m
    val vecs = Scale.spreadForCompute(
        df.select(col(idCol), col(embCol)), col(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seeds = vecs.orderBy(col(idCol)).limit(k)
        .select(col(embCol)).collect().toSeq
        .map(_.getSeq[Double](0).toSeq)
      if (seeds.isEmpty) return Seq.fill(m)(Seq.empty)
      var books: Seq[Seq[Seq[Double]]] =
        (0 until m).map(j => seeds.map(_.slice(j * d, (j + 1) * d)))
      for (_ <- 0 until iters) {
        // one struct per subspace: (j, assigned codeword, the subvector)
        // — the same argmin expression Ivf.nearestCentroid builds, per
        // subspace, evaluated in ONE scan
        val perJ = books.zipWithIndex.map { case (cb, j) =>
          val s = slice(col(embCol), j * d + 1, d)
          struct(lit(j).as("j"),
            array_min(Ivf.scoredStructs(s, cb)).getField("i").as("c"),
            s.as("s"))
        }
        val means = vecs.select(explode(array(perJ: _*)).as("__e"))
          .select(col("__e.j").as("__j"), col("__e.c").as("__c"),
            posexplode(col("__e.s")).as(Seq("__pos", "__v")))
          .groupBy("__j", "__c", "__pos")
          .agg((ExactDecimalSum.of(col("__v")).cast("double") /
            count(lit(1))).as("__m"))
          .collect() // m·k·d rows — codebook scale, not data scale
        val byKey = means
          .groupBy(r => (r.getAs[Int]("__j"), r.getAs[Int]("__c")))
        books = books.zipWithIndex.map { case (cb, j) =>
          cb.zipWithIndex.map { case (w, c) =>
            byKey.get((j, c)) match {
              case Some(rows) =>
                val mv = new Array[Double](d)
                rows.foreach(r =>
                  mv(r.getAs[Int]("__pos")) = r.getAs[Double]("__m"))
                mv.toSeq
              case None => w // empty codeword keeps its previous value
            }
          }
        }
      }
      books
    } finally vecs.unpersist(blocking = false)
  }

  /**
   * Encode against EXPLICIT per-subspace codebooks (typically
   * [[trainCodebooks]] output): the codewords become plan literals, so the
   * whole encoder is ONE scan-local codegen'd projection — no join, no
   * shuffle, nothing but (id, j, code, err) rows leave the scan. The
   * driver-codebook twin of [[encodeFixed]]'s join-based shape.
   */
  def encodeWith(df: DataFrame, idCol: String, embCol: String,
      codebooks: Seq[Seq[Seq[Double]]],
      carry: Seq[String] = Nil): DataFrame = {
    require(codebooks.nonEmpty && codebooks.head.nonEmpty, "empty codebooks")
    val d = codebooks.head.head.length
    // per-subspace argmin via Ivf.scoredStructs: unrolled below its
    // k-threshold, a transform over one codebook-matrix literal beyond it
    // — at production PQ sizes (m=8–16, k=256) an unrolled form would
    // janino-compile m·k·d-term methods (the q_semdedup_trained blowup);
    // the loop form keeps the expression tree O(m) whatever k is.
    // `carry` columns ride through the explode (row constants per input
    // row), so a caller that computed e.g. the IVF cell in the same scan
    // never pays a corpus-scale join to re-attach it.
    val perSubspace = codebooks.zipWithIndex.map { case (cb, j) =>
      val s = slice(col(embCol), j * d + 1, d)
      val best = array_min(Ivf.scoredStructs(s, cb))
      struct(lit(j.toLong).as("j"), best.getField("i").as("code"),
        round(dot(s, s) + best.getField("d"), 6).as("err"))
    }
    df.select(col(idCol) +: carry.map(col) :+
        explode(array(perSubspace: _*)).as("__e"): _*)
      .select(col(idCol) +: carry.map(col) :+
        col("__e.j").as("j") :+ col("__e.code").as("code") :+
        col("__e.err").as("err"): _*)
  }

  /**
   * ADC (asymmetric distance computation) top-k search over PQ codes —
   * what the codes exist FOR: the query keeps full precision, the corpus
   * is only its m codes, and the approximate squared distance is the sum
   * over subspaces of the precomputed query→codeword distance table
   * (m·k doubles per query, broadcast). Search cost is a probe join on
   * (subspace, code) over the compressed codes — the full-precision
   * corpus vectors are never read.
   *
   * Determinism: the per-subspace distances are exact sequential-dot
   * doubles, and the cross-subspace sum casts each term to a fixed-scale
   * decimal BEFORE aggregating (the repo's order-independent float-sum
   * trick), so ranking and distances are bit-identical in any engine —
   * the whole search is oracle-checkable.
   */
  /**
   * IVF-ADC composed top-k — the production ANN shape (what FAISS calls
   * IVFPQ): the coarse quantizer bounds CANDIDATES (each query scores only
   * the vectors assigned to its `nprobe` nearest cells, |corpus|·nprobe/kc
   * instead of |corpus|) and PQ bounds BYTES (the corpus side of the
   * scoring join is only its m codes plus one cell id — the full-precision
   * vectors are read exactly once, at index build). [[adcTopK]] is the
   * nprobe=all degenerate case; this is what actually deploys.
   *
   * Shape: ONE corpus scan computes both halves of each index entry (the
   * coarse cell via [[Ivf.nearestCentroid]] and the m subvector codes; the
   * per-subspace argmin groupBy carries the cell along as a group
   * constant). The query side joins its `nprobe` probed cells with its
   * m·k ADC distance table into ONE broadcast probe table of
   * |queries|·nprobe·m·k rows — metadata scale for the bounded query sets
   * this signature serves; a corpus-scale query set would swap the
   * broadcast for a hash join on the cell id, which the codes already
   * carry. Scoring is then a single equi-join on (cell, subspace, code):
   * a code row matches exactly one distance-table entry per probing
   * query, so the per-(query, candidate) sum covers all m subspaces.
   * Term-wise decimal(28,10) casts keep that sum order-independent —
   * with a declared quantizer (e.g. [[Ivf.train]] iters=0) every step is
   * bit-portable and the whole search oracle-checks, same as [[adcTopK]].
   */
  def ivfAdcTopK(corpus: DataFrame, queries: DataFrame,
      centroids: Seq[Seq[Double]], nprobe: Int, topK: Int,
      m: Int, k: Int, dim: Int,
      idCol: String = "vec_id", embCol: String = "emb",
      qIdCol: String = "q_id", qEmbCol: String = "q_emb"): DataFrame = {
    val (codes, cb) = buildIndex(corpus, centroids, m, k, dim, idCol, embCol)
    val cbp = cb.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Scale.releaseAfterUse(
      searchIndex(codes, cbp, queries, centroids, nprobe, topK, m, dim,
        idCol, qIdCol, qEmbCol),
      Seq(cbp))
  }

  /**
   * [[ivfAdcTopK]] with TRAINED per-subspace codebooks — the C-step of
   * the OPQ alternation (Ge et al. 2013: alternate the rotation against
   * retrained codebooks; here the rotation is the caller's frame — the
   * measured-best Householder mode — and this supplies the
   * codebook half): [[trainCodebooks]] (Lloyd, exact-decimal means) →
   * [[encodeWith]] (scan-local literal encoder) → [[searchIndex]]'s ADC.
   * Same deterministic/oracle-checkable property as every trained
   * quantizer here — Lloyd means are order-independent exact decimals,
   * so the DuckDB oracle re-runs the training verbatim
   * (q_opq_train_recall). The codebook-literal encode keeps the corpus
   * side one scan; everything else is [[searchIndex]]'s bounded
   * broadcast shape.
   */
  def ivfAdcTrainedTopK(corpus: DataFrame, queries: DataFrame,
      centroids: Seq[Seq[Double]], nprobe: Int, topK: Int,
      m: Int, k: Int, dim: Int, iters: Int = 2,
      idCol: String = "vec_id", embCol: String = "emb",
      qIdCol: String = "q_id", qEmbCol: String = "q_emb"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val books = trainCodebooks(corpus, idCol, embCol, m, k, dim, iters)
    // empty corpus trains no codewords: an empty result with the
    // searchIndex schema, not an analysis error (the totality contract
    // every registered query carries — ContractSpec's 0-row fixture)
    if (books.exists(_.isEmpty))
      return corpus.select(col(idCol)).limit(0)
        .crossJoin(queries.select(col(qIdCol)).limit(0))
        .select(col(qIdCol), col(idCol), lit(0L).as("rn"),
          lit(0.0).as("adist"))
    // driver-side |cw|² uses the same left-to-right sum the codegen'd
    // dot expression computes, so serve-time ADC sees exact values
    val cbDf = books.zipWithIndex.flatMap { case (cbJ, j) =>
      cbJ.zipWithIndex.map { case (w, c) =>
        (j, c, w, w.foldLeft(0.0)((s, x) => s + x * x))
      }
    }.toDF("j", "__c", "__cw", "__cwn2")
    // ONE corpus scan: the cell expression and the m-subspace encode
    // evaluate together, the cell riding through the encode explode as a
    // carry column — no corpus-scale self-join to re-attach it
    val withCell = corpus.withColumn("__cell",
      Ivf.nearestCentroid(col(embCol), centroids))
    val cd = encodeWith(withCell, idCol, embCol, books,
        carry = Seq("__cell"))
      .select(col(idCol), col("__cell"), col("j"), col("code"))
    searchIndex(cd, cbDf, queries, centroids, nprobe, topK, m, dim,
      idCol, qIdCol, qEmbCol)
  }

  /**
   * [[ivfAdcTopK]] with RESIDUAL encoding — FAISS IndexIVFPQ's actual
   * default (`by_residual = true`): the PQ encodes r = x − c(cell(x)),
   * not x itself, so the codebook's bytes describe the WITHIN-cell
   * geometry instead of re-describing the coarse structure the cell id
   * already carries — the recall-per-byte upgrade the residual form
   * exists for on clustered corpora. Measured beside the plain form at
   * identical m/k/nprobe (q_ivf_pq_residual_recall vs q_ivf_pq_recall):
   * on the harness's near-isotropic fixtures the residual form reads
   * LOWER (0.24 vs 0.36 at sf0.01) — cells there are arbitrary Voronoi
   * shards, so the subtraction only decorrelates the fixed codebook;
   * the row is the per-corpus decision number, not a blanket win.
   *
   * Declared quantizer throughout, so the WHOLE pipeline is
   * oracle-expressible: the codewords are the residuals of the first k
   * vectors (the [[buildIndex]] fixedCodebook convention, applied to
   * the residual frame — residuals depend on the assignment, which is
   * itself declared). Serving computes each query's PER-CELL residual
   * q − c(cell) (the part plain ADC gets to skip: the distance table
   * becomes per (query, cell, j, code) instead of per (query, j, code)
   * — |q|·nprobe·m·k rows, still metadata scale for bounded query
   * sets), and sums subspace terms as decimal(28,10) like every ADC
   * here, so ranking is bit-portable.
   *
   * Scale shape: ONE corpus scan computes cell + residual + the m
   * encode subvectors (persisted across its two consumers — the
   * first-k codebook filter and the encode join — then released); the
   * scoring join is the same (cell, j, code) equi-join as
   * [[searchIndex]] with the residual distance table broadcast.
   */
  def ivfAdcResidualTopK(corpus: DataFrame, queries: DataFrame,
      centroids: Seq[Seq[Double]], nprobe: Int, topK: Int,
      m: Int, k: Int, dim: Int,
      idCol: String = "vec_id", embCol: String = "emb",
      qIdCol: String = "q_id", qEmbCol: String = "q_emb",
      selfFilter: Boolean = true): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val d = dim / m
    if (centroids.isEmpty)
      return corpus.select(col(idCol)).limit(0)
        .crossJoin(queries.select(col(qIdCol)).limit(0))
        .select(col(qIdCol), col(idCol), lit(0L).as("rn"),
          lit(0.0).as("adist"))
    val cvs = typedLit(centroids.map(_.toArray).toArray)
    def residual(v: org.apache.spark.sql.Column,
        cell: org.apache.spark.sql.Column) =
      zip_with(v, element_at(cvs, cell + 1), (a, b) => a - b)
    val assigned = Scale.spreadForCompute(
        corpus.select(col(idCol), col(embCol)), col(idCol))
      .withColumn("__cell", Ivf.nearestCentroid(col(embCol), centroids))
      .withColumn("__res", residual(col(embCol), col("__cell")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cb = fixedCodebook(assigned, idCol, "__res", m, k, d)
    val subs = assigned.select(col(idCol), col("__cell"),
      subvectors(col("__res"), m, d).as(Seq("j", "__s")))
    val codes = encodeSubs(subs, cb, idCol)
    // query side: the residual is PER PROBED CELL, so the distance
    // table carries the cell key
    val probes = queries.select(col(qIdCol), col(qEmbCol).as("__qv"))
      .withColumn("__cell",
        explode(Ivf.probeList(col("__qv"), centroids, nprobe)))
      .withColumn("__qr", residual(col("__qv"), col("__cell")))
    val qsubs = probes.select(col(qIdCol), col("__cell"),
        subvectors(col("__qr"), m, d).as(Seq("j", "__qs")))
      .withColumn("__qn2", dot(col("__qs"), col("__qs")))
    val dtab = qsubs.join(broadcast(cb), "j")
      .select(col(qIdCol), col("__cell"), col("j"), col("__c").as("code"),
        (col("__qn2") - lit(2.0) * dot(col("__qs"), col("__cw")) +
          col("__cwn2")).as("__dq"))
    Scale.releaseAfterUse(
      adcRank(codes.join(broadcast(dtab), Seq("__cell", "j", "code")),
        topK, idCol, qIdCol, selfFilter),
      Seq(assigned))
  }

  /**
   * The INDEX-BUILD half of [[ivfAdcTopK]], factored so the artifacts can
   * persist (see `graft.Ann`): returns (codes, codebook) — codes =
   * (idCol, __cell, j, code), one row per vector per subspace, the whole
   * 100 TB corpus reduced to m small ints + a cell id per vector;
   * codebook = (j, __c, __cw, __cwn2), m·k rows. Build once, serve
   * forever — [[searchIndex]] never touches raw vectors again.
   */
  def buildIndex(corpus: DataFrame, centroids: Seq[Seq[Double]],
      m: Int, k: Int, dim: Int, idCol: String = "vec_id",
      embCol: String = "emb"): (DataFrame, DataFrame) = {
    require(m >= 1 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val d = dim / m
    val cb = fixedCodebook(corpus, idCol, embCol, m, k, d)
    val subs = Scale.spreadForCompute(
        corpus.select(col(idCol), col(embCol)), col(idCol))
      .withColumn("__cell", Ivf.nearestCentroid(col(embCol), centroids))
      .select(col(idCol), col("__cell"),
        subvectors(col(embCol), m, d).as(Seq("j", "__s")))
    val codes = encodeSubs(subs, cb, idCol)
    (codes, cb)
  }

  /**
   * [[buildIndex]] with the IVF cell ALREADY on the frame (`cellCol`) —
   * the LARGE-k form: upstream [[Ivf.assignJoin]] computed the cell via
   * a broadcast k-row centroid FRAME, so no k×dim literal ever enters a
   * plan (the [[Ivf.train]] scaladoc's k ~ 10⁴ bound). Same fixed
   * codebook, same broadcast encode join, same min(struct) tie-break,
   * same output schema — bit-identical to [[buildIndex]] given the same
   * assignment (which IvfSpec pins for assignJoin ≡ nearestCentroid).
   */
  def buildIndexAssigned(corpus: DataFrame, m: Int, k: Int, dim: Int,
      idCol: String, embCol: String,
      cellCol: String): (DataFrame, DataFrame) = {
    require(m >= 1 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val d = dim / m
    val cb = fixedCodebook(corpus, idCol, embCol, m, k, d)
    val subs = Scale.spreadForCompute(
        corpus.select(col(idCol), col(embCol),
          col(cellCol).as("__cell")), col(idCol))
      .select(col(idCol), col("__cell"),
        subvectors(col(embCol), m, d).as(Seq("j", "__s")))
    val codes = encodeSubs(subs, cb, idCol)
    (codes, cb)
  }

  /**
   * Encode an ALREADY-cell-assigned frame against a GIVEN codebook
   * frame — [[buildIndexAssigned]]'s encode stage factored out so
   * `graft.Ann --residual --append` can fold new vectors against the
   * persisted codebook (the frozen-quantizer append contract). Same
   * broadcast join, argmin key and (key, code) tie-break; returns
   * (idCol, __cell, j, code).
   */
  def encodeAgainstAssigned(corpus: DataFrame, cb: DataFrame,
      m: Int, dim: Int, idCol: String, embCol: String,
      cellCol: String): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val d = dim / m
    encodeSubs(corpus.select(col(idCol), col(cellCol).as("__cell"),
      subvectors(col(embCol), m, d).as(Seq("j", "__s"))), cb, idCol)
  }

  /** The encode step of every cell-carrying PQ index: subvectors `subs`
    * (idCol, __cell, j, __s) against the broadcast codebook (j, __c,
    * __cw, __cwn2), nearest codeword by the -2·dot + |cw|² key with the
    * (key, code) tie-break; returns (idCol, __cell, j, code). */
  private def encodeSubs(subs: DataFrame, cb: DataFrame,
      idCol: String): DataFrame =
    subs.join(broadcast(cb), "j")
      .withColumn("__key",
        lit(-2.0) * dot(col("__s"), col("__cw")) + col("__cwn2"))
      .groupBy(col(idCol), col("j"))
      .agg(min(struct(col("__key").as("k"), col("__c").as("c"))).as("__m"),
        max(col("__cell")).as("__cell")) // constant within the group
      .select(col(idCol), col("__cell"), col("j"), col("__m.c").as("code"))

  /** The ADC tail of every search over `joined` (codes ⋈ distance table,
    * one __dq per matched subspace): the optional self-filter, the
    * decimal(28,10) ADC sum ([[graft.functions.ExactDecimalSum]]: exactly
    * the oracles' `sum(cast(dq AS decimal(28,10)))`, without a per-value
    * string cast), the per-query (distance, id) rank cut at
    * topK; returns (qIdCol, idCol, rn, adist). */
  private def adcRank(joined: DataFrame, topK: Int, idCol: String,
      qIdCol: String, selfFilter: Boolean): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(qIdCol).orderBy(col("__ad"), col(idCol))
    joined
      .filter(if (selfFilter) col(idCol) =!= col(qIdCol) else lit(true))
      .groupBy(col(qIdCol), col(idCol))
      .agg(ExactDecimalSum.of(col("__dq")).as("__ad"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topK)
      .select(col(qIdCol), col(idCol), col("rn"),
        round(col("__ad").cast("double"), 6).as("adist"))
  }

  /**
   * The RESIDUAL serve half (`graft.Ann --residual`, meta qt = 4):
   * [[searchIndex]] with the distance table computed over each query's
   * PER-CELL residual q − c(cell) — [[ivfAdcResidualTopK]]'s query side
   * over persisted artifacts (same codes/codebook file formats as the
   * plain PQ index; only the meta's qt routes here). The residual needs
   * the centroid VALUE per probed cell: below the large-k threshold it
   * reads from the k×dim literal (`element_at`, scan-local); above it
   * (`centFrame`) the probe rows join the broadcast k-row frame — the
   * kjoin serving contract, no k-literal plan either way at large k.
   */
  def searchIndexResidual(codes: DataFrame, codebook: DataFrame,
      queries: DataFrame, centroids: Seq[Seq[Double]], nprobe: Int,
      topK: Int, m: Int, dim: Int, idCol: String = "vec_id",
      qIdCol: String = "q_id", qEmbCol: String = "q_emb",
      selfFilter: Boolean = true,
      centFrame: Option[DataFrame] = None): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val d = dim / m
    val q = queries.select(col(qIdCol), col(qEmbCol).as("__qv"))
    val probes = centFrame match {
      case Some(cf) => Ivf.probeJoin(q, qIdCol, "__qv", cf, nprobe)
        .join(broadcast(cf.select(col("cell").as("__cell"),
          col("vec").as("__cv"))), Seq("__cell"))
      case None => q.withColumn("__cell",
          explode(Ivf.probeList(col("__qv"), centroids, nprobe)))
        .withColumn("__cv", element_at(
          typedLit(centroids.map(_.toArray).toArray), col("__cell") + 1))
    }
    val qsubs = probes
      .withColumn("__qr", zip_with(col("__qv"), col("__cv"), (a, b) => a - b))
      .select(col(qIdCol), col("__cell"),
        subvectors(col("__qr"), m, d).as(Seq("j", "__qs")))
      .withColumn("__qn2", dot(col("__qs"), col("__qs")))
    val dtab = qsubs.join(broadcast(codebook), "j")
      .select(col(qIdCol), col("__cell"), col("j"), col("__c").as("code"),
        (col("__qn2") - lit(2.0) * dot(col("__qs"), col("__cw")) +
          col("__cwn2")).as("__dq"))
    adcRank(codes.join(broadcast(dtab), Seq("__cell", "j", "code")),
      topK, idCol, qIdCol, selfFilter)
  }

  /**
   * The SERVE half of [[ivfAdcTopK]]: ADC top-k over an ALREADY-BUILT
   * index — stored codes + codebook + the centroid matrix answer queries
   * without re-encoding or re-scanning the corpus (the production
   * property: index a 100 TB corpus once, serve queries from codes-only
   * artifacts). Bit-identical to the fused path: same probe list, same
   * broadcast distance table, same decimal ADC sum and id tie-break.
   *
   * `selfFilter` (default true) drops corpus rows whose id equals the
   * query id — right when queries ARE corpus rows (the recall-eval
   * convention every q_ivf_pq_* query uses); pass false when the query
   * id space is unrelated to the corpus ids, or an external query that
   * happens to collide numerically would silently lose a neighbor.
   */
  def searchIndex(codes: DataFrame, codebook: DataFrame,
      queries: DataFrame, centroids: Seq[Seq[Double]], nprobe: Int,
      topK: Int, m: Int, dim: Int, idCol: String = "vec_id",
      qIdCol: String = "q_id", qEmbCol: String = "q_emb",
      selfFilter: Boolean = true,
      centFrame: Option[DataFrame] = None): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val d = dim / m
    val q = queries.select(col(qIdCol), col(qEmbCol).as("__qv"))
    // probe cells via the k×dim-literal list, or — when the caller hands
    // the k-row centroid FRAME (a kjoin index, Ann.LargeKThreshold) —
    // via the broadcast-frame ranking (Ivf.probeJoin, bit-identical)
    val probes = (centFrame match {
      case Some(cf) => Ivf.probeJoin(q, qIdCol, "__qv", cf, nprobe)
      case None => q.withColumn("__cell",
        explode(Ivf.probeList(col("__qv"), centroids, nprobe)))
    }).select(col(qIdCol), col("__cell"))
    val qsubs = q
      .select(col(qIdCol), subvectors(col("__qv"), m, d).as(Seq("j", "__qs")))
      .withColumn("__qn2", dot(col("__qs"), col("__qs")))
    val dtab = qsubs.join(broadcast(codebook), "j")
      .select(col(qIdCol), col("j"), col("__c").as("code"),
        (col("__qn2") - lit(2.0) * dot(col("__qs"), col("__cw")) +
          col("__cwn2")).as("__dq"))
    val probeTab = probes.join(dtab, qIdCol)
    adcRank(codes.join(broadcast(probeTab), Seq("__cell", "j", "code")),
      topK, idCol, qIdCol, selfFilter)
  }

  def adcTopK(corpus: DataFrame, queries: DataFrame, topK: Int,
      m: Int, k: Int, dim: Int,
      idCol: String = "vec_id", embCol: String = "emb",
      qIdCol: String = "q_id", qEmbCol: String = "q_emb"): DataFrame = {
    require(m >= 1 && dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val d = dim / m
    // the m·k-row codebook feeds TWO consumers (the encode join and the
    // query distance table); persisted so the id<k corpus scan runs once
    val cb = fixedCodebook(corpus, idCol, embCol, m, k, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val codes = encodeAgainst(corpus, idCol, embCol, m, d, cb)
      .select(col(idCol), col("j"), col("code"))
    val qsubs = queries.select(col(qIdCol), col(qEmbCol).as("__v"))
      .select(col(qIdCol), subvectors(col("__v"), m, d).as(Seq("j", "__qs")))
      .withColumn("__qn2", dot(col("__qs"), col("__qs")))
    val dtab = qsubs
      .join(broadcast(cb), "j")
      .select(col(qIdCol), col("j").cast("long").as("j"),
        col("__c").as("code"),
        (col("__qn2") - lit(2.0) * dot(col("__qs"), col("__cw")) +
          col("__cwn2")).as("__dq"))
    Scale.releaseAfterUse(
      adcRank(codes.join(broadcast(dtab), Seq("j", "code")), topK, idCol,
        qIdCol, selfFilter = true),
      Seq(cb))
  }
}
