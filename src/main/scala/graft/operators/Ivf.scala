package graft.operators

import graft.functions.ExactDecimalSum
import graft.functions.VectorOps._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * IVF (inverted-file) approximate nearest neighbour index — the coarse-
 * quantizer scale path for similarity search (SURVEY §2.9 L2), alongside
 * the sign-LSH variant in [[Similarity]].
 *
 * Shape: k centroids are trained driver-side (k × dim doubles — metadata
 * scale, like any ANN coarse quantizer) with deterministic seeding and a
 * few Lloyd iterations whose per-cluster means are computed DISTRIBUTED
 * (posexplode + groupBy — no row data on the driver). Vectors are assigned
 * to their nearest centroid (one scan); a query probes only the `nprobe`
 * nearest cells, so search cost is |corpus| * nprobe / k instead of
 * |corpus| — the O(n) → O(n/k) trade every IVF index makes.
 */
object Ivf {

  /**
   * Ranking key for centroid distance: |a-c|² = |a|² - 2a·c + |c|², and
   * |a|² is the same for every centroid, so argmin/argsort only need
   * -2a·c + |c|². |c|² is a driver-side constant per centroid — one dot
   * product per centroid per row instead of three, and a 3× smaller
   * codegen'd expression.
   */
  private def rankKey(a: org.apache.spark.sql.Column, c: Seq[Double]) =
    lit(-2.0) * dot(a, typedLit(c)) + lit(c.map(x => x * x).sum)

  /**
   * Largest k whose (key, index) structs are UNROLLED into k inline
   * expressions (whole-stage-codegen'd tight loops — fastest for the
   * small coarse quantizers the probe path uses). Beyond it, the scored
   * array is built by a `transform` loop over ONE k×dim matrix literal:
   * the expression tree stays O(1) in k, where the unrolled form is
   * O(k·dim) nodes — at k=64 that janino-compiles multi-thousand-term
   * methods (measured 7.4 s on q_semdedup_trained, 4× the whole query's
   * work) and past the JVM's 64KB method limit it silently falls out of
   * codegen anyway. The loop form evaluates the same graft_dot per
   * element (interpreted ArrayTransform, codegen'd children), so the
   * ARITHMETIC — and therefore every assignment and the DuckDB oracle —
   * is bit-identical between the two forms; IvfSpec pins that.
   */
  private val UnrollMaxK = 24

  /** (distance-key, index) struct per centroid, formulation chosen by k
    * (see [[UnrollMaxK]]). Lexicographic struct ordering gives
    * deterministic argmin/argsort with index tiebreak. Shared with the
    * PQ encoder, whose per-subspace codeword argmin is the same shape. */
  private[operators] def scoredStructs(emb: org.apache.spark.sql.Column,
      centroids: Seq[Seq[Double]]): org.apache.spark.sql.Column =
    if (centroids.size <= UnrollMaxK)
      array(centroids.zipWithIndex.map { case (c, i) =>
        struct(rankKey(emb, c).as("d"), lit(i).as("i"))
      }: _*)
    else {
      val cvs = typedLit(centroids.map(_.toArray).toArray)
      val norms = typedLit(centroids.map(_.map(x => x * x).sum).toArray)
      transform(
        sequence(lit(0), lit(centroids.size - 1)),
        i => struct(
          (lit(-2.0) * dot(emb, element_at(cvs, i + 1))
            + element_at(norms, i + 1)).as("d"),
          i.as("i")))
    }

  /**
   * Assignment expression: index of the nearest centroid, as
   * array_min over the (distance-key, index) structs.
   */
  def nearestCentroid(emb: org.apache.spark.sql.Column,
      centroids: Seq[Seq[Double]]): org.apache.spark.sql.Column = {
    // no centroids (empty corpus): every assignment is NULL — downstream
    // joins/filters then produce empty results instead of failing analysis
    // on an untyped empty array
    if (centroids.isEmpty) return lit(null).cast("int")
    array_min(scoredStructs(emb, centroids)).getField("i")
  }

  /** `nprobe` nearest centroid ids for a query vector, as an array column. */
  def probeList(emb: org.apache.spark.sql.Column,
      centroids: Seq[Seq[Double]], nprobe: Int): org.apache.spark.sql.Column = {
    if (centroids.isEmpty) return typedLit(Seq.empty[Int])
    slice(transform(array_sort(scoredStructs(emb, centroids)),
      s => s.getField("i")), 1, nprobe)
  }

  /**
   * LARGE-k probe assignment — [[probeList]]'s broadcast centroid-FRAME
   * twin (the serve-side member of the [[trainJoin]]/[[assignJoin]]
   * family): per query row, the `nprobe` nearest cells, computed by a
   * broadcast crossJoin against the k-row (cell, vec) frame + one
   * per-query window rank instead of a k×dim-literal expression. The
   * ranking key is the same −2·q·c + |c|² with |c|² as the sequential
   * dot, and the (key, cell) window tie-break matches [[probeList]]'s
   * (d, i) struct sort — bit-identical probe sets (IvfSpec pins it).
   * The query side is small by the serving contract (it broadcasts),
   * so the window partitions over |queries|·k rows, never corpus scale.
   * Queries must carry non-NULL, non-empty vectors AND UNIQUE `qIdCol`
   * values (both enforced by the serve paths upstream): the window
   * partitions by qIdCol alone, so duplicate query ids would collapse
   * into one shared probe ranking (nprobe cells TOTAL across the
   * duplicates) where [[probeList]] probes each row independently —
   * the one behavioral divergence between the two twins. Returns the
   * input columns plus `__cell`, one row per probed cell per query.
   */
  def probeJoin(qs: DataFrame, qIdCol: String, qEmbCol: String,
      centroids: DataFrame, nprobe: Int): DataFrame = {
    val cb = centroids.select(col("cell").as("__pc"),
      col("vec").as("__pv"), dot(col("vec"), col("vec")).as("__pn2"))
    val w = Window.partitionBy(col(qIdCol))
      .orderBy(col("__pk"), col("__pc"))
    qs.crossJoin(broadcast(cb))
      .withColumn("__pk",
        lit(-2.0) * dot(col(qEmbCol), col("__pv")) + col("__pn2"))
      .withColumn("__pr", row_number().over(w))
      .filter(col("__pr") <= nprobe)
      .drop("__pv", "__pn2", "__pk", "__pr")
      .withColumnRenamed("__pc", "__cell")
  }

  /**
   * Train k centroids: deterministic seeds (first k vectors by id), then
   * `iters` Lloyd rounds with distributed mean computation. Only the k×dim
   * centroid matrix ever reaches the driver. Each mean component is the
   * exact decimal(28,10) sum of [[graft.functions.ExactDecimalSum]] —
   * bit for bit `sum(cast(v AS decimal(28,10)))`, the form q_sim_ivf's
   * oracle replays — divided once in double.
   *
   * Scale bound on k: this signature returns the centroids as a driver
   * Seq and [[nearestCentroid]] binds them as PLAN LITERALS — at k ≤
   * ~10² (every declared-quantizer query here) that is the fastest form
   * (codegen'd, no join), but the literal argmin grows O(k·dim)
   * expression nodes and the collect ships k·dim doubles through the
   * driver per round, so a 100 TB IVF wanting k ~ 10⁴ cells (the ~√n
   * guidance) should use [[trainJoin]]/[[assignJoin]] instead: same
   * arithmetic bit-for-bit (IvfSpec pins join ≡ literal), but the
   * centroids stay a k-row FRAME and assignment is one broadcast join.
   */
  def train(df: DataFrame, idCol: String, embCol: String, k: Int,
      iters: Int = 2): Seq[Seq[Double]] = {
    // iters = 0 (the fixed first-k quantizer ~20 declared queries use) is
    // seed-only: ONE TakeOrderedAndProject job straight off the scan — the
    // spread/persist below exist to amortize Lloyd's repeated full passes,
    // and with zero rounds they are pure overhead (a corpus shuffle, a
    // cache write, and an unpersist for a k-row collect). Bit-identical:
    // the seeds are the k smallest ids either way.
    if (iters <= 0)
      return df.select(col(idCol), col(embCol)).orderBy(col(idCol)).limit(k)
        .select(col(embCol)).collect().toSeq
        .map(_.getSeq[Double](0).toSeq)
    // Each Lloyd round is a full pass over the vectors; pin the projected
    // working set so iterations read cached columns instead of re-scanning
    // (and re-decoding) the source. Released before returning. Spread
    // first: a compact corpus arrives as ONE scan partition and every
    // round's assignment + posexplode partial aggregate would run in a
    // single task (same hazard as Dedup.containmentPairs).
    val vecs = Scale.spreadForCompute(df.select(col(idCol), col(embCol)),
        col(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var centroids: Seq[Seq[Double]] = vecs.orderBy(col(idCol)).limit(k)
        .select(col(embCol)).collect().toSeq
        .map(_.getSeq[Double](0).toSeq)
      if (centroids.isEmpty) return Seq.empty // empty corpus: nothing to train
      val dim = centroids.head.length
      for (_ <- 0 until iters) {
        val assigned = vecs.withColumn("__c", nearestCentroid(col(embCol), centroids))
        // Order-independent Lloyd means: each component sums as an exact
        // decimal(28,10) before the final double division, so the trained
        // centroids are a pure function of the data (not of partitioning /
        // aggregation order) — reproducible run-to-run AND in the DuckDB
        // oracle, which re-runs this training in SQL (q_sim_ivf). One
        // caveat at extreme cell sizes: Spark rounds the exact decimal sum
        // to double once, while DuckDB converts int128 → double before
        // dividing; past ~2^53 of scaled per-cell magnitude (≈1e6
        // unit-magnitude vectors in one cell) the oracle's double-rounding
        // can differ in the last ulp and flip a near-tie assignment. At
        // fixture scale the two are bit-identical.
        val means = assigned
          .select(col("__c"), posexplode(col(embCol)).as(Seq("__pos", "__v")))
          .groupBy("__c", "__pos")
          .agg((ExactDecimalSum.of(col("__v")).cast("double") /
            count(lit(1))).as("__m"))
          .collect() // k × dim rows — centroid-matrix scale, not data scale
        val byCluster = means.groupBy(_.getAs[Int]("__c"))
        centroids = centroids.indices.map { i =>
          byCluster.get(i) match {
            case Some(rows) =>
              val m = new Array[Double](dim)
              rows.foreach(r => m(r.getAs[Int]("__pos")) = r.getAs[Double]("__m"))
              m.toSeq
            case None => centroids(i) // empty cluster keeps its centroid
          }
        }
      }
      centroids
    } finally vecs.unpersist(blocking = false)
  }

  /** Corpus with its IVF cell assignment (one scan-only pass). */
  def assign(df: DataFrame, embCol: String, centroids: Seq[Seq[Double]]): DataFrame =
    df.withColumn("ivf_cell", nearestCentroid(col(embCol), centroids))

  /**
   * LARGE-k assignment: nearest centroid via a broadcast join against a
   * k-row centroid FRAME (`cell` int, `vec` array<double>) instead of
   * plan literals — the form a 100 TB IVF with k ~ 10⁴ cells needs
   * (see [[train]]'s scale bound). One broadcast nested-loop join fans
   * each vector out to k scored rows; a map-side-combining min(struct)
   * per (id, emb) collapses them back — |corpus| rows in, |corpus|
   * rows out, never a corpus-side shuffle beyond the partial aggregate.
   *
   * Bit-identical to [[nearestCentroid]]: the ranking key is the same
   * −2·a·c + |c|² with |c|² as the same left-to-right sequential dot
   * the driver's `c.map(x·x).sum` computes, and min(struct(d, cell))
   * is the same lexicographic (distance, index) tie-break — IvfSpec
   * pins join ≡ literal on the fixture.
   *
   * Returns (idCol, embCol, ivf_cell), one row PER INPUT ROW — the
   * collapse group key is a per-row surrogate (monotonic id, assigned
   * before the fan-out), not (id, emb), so duplicated rows keep their
   * multiplicity and [[trainJoin]]'s Lloyd means weight them exactly
   * like [[train]]'s. Rows with NULL/empty embeddings drop — filtered
   * explicitly below (a crossJoin would otherwise dot an empty array to
   * 0 and assign it the smallest-norm centroid, and a NULL embedding's
   * null key still survives min(struct)), keeping the join path a
   * strict subset-refinement of the literal path's null ivf_cell rows.
   */
  def assignJoin(df: DataFrame, idCol: String, embCol: String,
      centroids: DataFrame): DataFrame = {
    val cb = centroids.select(col("cell").as("__cc"),
      col("vec").as("__cv"), dot(col("vec"), col("vec")).as("__cn2"))
    df.select(col(idCol), col(embCol))
      .filter(col(embCol).isNotNull && size(col(embCol)) > 0)
      .withColumn("__row", monotonically_increasing_id())
      .crossJoin(broadcast(cb))
      .withColumn("__key",
        lit(-2.0) * dot(col(embCol), col("__cv")) + col("__cn2"))
      .groupBy(col("__row"), col(idCol), col(embCol))
      .agg(min(struct(col("__key").as("d"), col("__cc").as("i"))).as("__m"))
      .select(col(idCol), col(embCol), col("__m.i").as("ivf_cell"))
  }

  /**
   * [[train]]'s large-k twin: the SAME deterministic Lloyd (first-k-by-id
   * seeds, exact decimal(28,10) component sums through
   * [[graft.functions.ExactDecimalSum]], empty cells keep their
   * centroid) with the centroids as a k-row FRAME end to end — no k×dim
   * driver collect per round, no k-literal plan. Assignment per round is
   * [[assignJoin]]; the means pivot back to arrays DISTRIBUTED
   * (collect_list of (pos, mean) structs per cell — k rows of dim
   * entries, never row data). Each round's frame is localCheckpointed
   * (k rows — metadata scale) to cut the iteration lineage, and the
   * previous round's blocks are freed once the next materializes.
   *
   * Returns (cell int, vec array<double>) with cells 0..k'−1 in seed id
   * order (k' ≤ k when the corpus is smaller). Bit-identical to
   * [[train]] + index enumeration — IvfSpec pins the law.
   */
  def trainJoin(df: DataFrame, idCol: String, embCol: String, k: Int,
      iters: Int = 2): DataFrame = {
    // seed-only twin of [[train]]'s iters=0 fast path: no Lloyd rounds ⇒
    // no working set to spread or pin — one TakeOrdered + k-row window
    // (the global row_number window is DELIBERATE: bounded to k rows)
    if (iters <= 0)
      return df.select(col(idCol), col(embCol))
        .orderBy(col(idCol)).limit(k)
        .withColumn("cell", row_number().over(
          Window.orderBy(col(idCol))).cast("int") - 1)
        .select(col("cell"), col(embCol).as("vec"))
        .localCheckpoint()
    val vecs = Scale.spreadForCompute(df.select(col(idCol), col(embCol)),
        col(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // seeds: first k by id, densely indexed in id order. The
      // row_number window is single-partition but bounded to k rows by
      // the limit — the semanticOrder census convention.
      var cents = vecs.orderBy(col(idCol)).limit(k)
        .select(col(idCol), col(embCol))
        .withColumn("cell", row_number().over(
          Window.orderBy(col(idCol))).cast("int") - 1)
        .select(col("cell"), col(embCol).as("vec"))
        .localCheckpoint()
      for (_ <- 0 until iters) {
        val assigned = assignJoin(vecs, idCol, embCol, cents)
        val means = assigned
          .select(col("ivf_cell").as("cell"),
            posexplode(col(embCol)).as(Seq("__pos", "__v")))
          .groupBy("cell", "__pos")
          .agg((ExactDecimalSum.of(col("__v")).cast("double") /
            count(lit(1))).as("__m"))
          .groupBy("cell")
          .agg(transform(
            array_sort(collect_list(struct(col("__pos"), col("__m")))),
            s => s.getField("__m")).as("__nvec"))
        val prev = cents
        cents = prev.join(means, Seq("cell"), "left")
          .select(col("cell"),
            coalesce(col("__nvec"), col("vec")).as("vec"))
          .localCheckpoint()
        org.apache.spark.sql.GraftBridge.freeCheckpoint(prev)
      }
      cents
    } finally vecs.unpersist(blocking = false)
  }

  /**
   * Per-cell index-balance report — the audit run before deploying an IVF
   * index at scale: a hot cell makes every probe touching it pay that
   * cell's full scan (the ANN twin of Scale.skewReport's join-key audit),
   * and an empty cell wastes a centroid. One scan computes each vector's
   * (cell, squared distance); one map-side-combining hash aggregate
   * yields per-cell populations and the TRUE mean squared assignment
   * distance |a−c|² (a high mean flags a centroid that represents its
   * members poorly; the argmin itself still uses the cheap shifted key —
   * adding the row-constant |a|² back only for the report costs one
   * self-dot per row, the [[Pq.encodeWith]] err shape). Distances are
   * rounded to micro-units and summed as decimal(38,0) — exact at any
   * corpus size, shuffle-order-independent, so the report is
   * bit-portable wherever the centroids are (fixed quantizer → fully
   * oracle-checkable).
   */
  def cellBalance(df: DataFrame, embCol: String,
      centroids: Seq[Seq[Double]]): DataFrame = {
    if (centroids.isEmpty)
      // empty corpus/centroids: an empty report, not an analysis error
      return df.select(lit(0L).as("cell"), lit(0L).as("n_vecs"),
        lit(0.0).as("mean_dist")).limit(0)
    val best = array_min(scoredStructs(col(embCol), centroids))
    df.select(best.getField("i").as("__cell"),
        round((dot(col(embCol), col(embCol)) + best.getField("d")) * 1e6, 0)
          .cast("long").as("__s"))
      .groupBy("__cell")
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("__s").cast("decimal(38,0)")).as("__ss"))
      .select(col("__cell").cast("long").as("cell"), col("n_vecs"),
        round(col("__ss").cast("double") / 1e6 / col("n_vecs"), 6)
          .as("mean_dist"))
  }

  /**
   * SSL-prototype data pruning (Sorscher et al., "Beyond neural scaling
   * laws: beating power law scaling via data pruning", NeurIPS 2022 — a
   * public method): cluster the embedding space, score each example's
   * PROTOTYPICALITY as its squared distance to its assigned centroid,
   * and keep only the hardest `keepFrac` of every cell — pruning the
   * easy, redundant cluster cores that contribute least to training
   * (the diversification half of the D4 pipeline; SemDeDup is the other
   * half). Per-cell quotas rather than a global rank: the selection
   * stays partition-parallel (no corpus-wide sort), is cluster-size
   * unbiased, and ties break on the id, so the kept set is a pure
   * function of the data.
   *
   * Scale shape: one spread scan computes (cell, |a−c|² in exact
   * micro-units — the [[cellBalance]] long trick, so the ranking is
   * bit-portable); ONE hash shuffle on the cell feeds both window
   * functions (rank and cell size share the partitioning). With a fixed
   * quantizer the whole audit row oracle-checks.
   *
   * Returns (idCol, ivf_cell, dist_e6, kept) — the full margin row, so a
   * caller filters `kept` or inspects how close each drop was.
   */
  def prototypePrune(df: DataFrame, idCol: String, embCol: String,
      centroids: Seq[Seq[Double]], keepFrac: Double): DataFrame = {
    require(keepFrac > 0.0 && keepFrac <= 1.0,
      s"keepFrac must be in (0, 1], got $keepFrac")
    if (centroids.isEmpty)
      // empty corpus/quantizer: an empty report, not an analysis error
      return df.select(col(idCol), lit(0L).as("ivf_cell"),
        lit(0L).as("dist_e6"), lit(true).as("kept")).limit(0)
    import org.apache.spark.sql.expressions.Window
    val best = array_min(scoredStructs(col(embCol), centroids))
    val scored = Scale.spreadForCompute(df.select(col(idCol), col(embCol)),
        col(idCol))
      .select(col(idCol), best.getField("i").cast("long").as("ivf_cell"),
        round((dot(col(embCol), col(embCol)) + best.getField("d")) * 1e6, 0)
          .cast("long").as("dist_e6"))
    val rankW = Window.partitionBy("ivf_cell")
      .orderBy(col("dist_e6").desc, col(idCol))
    val cellW = Window.partitionBy("ivf_cell")
    scored.withColumn("__rn", row_number().over(rankW))
      .withColumn("__n", count(lit(1)).over(cellW))
      .withColumn("kept",
        col("__rn") <= ceil(col("__n") * lit(keepFrac)).cast("long"))
      .drop("__rn", "__n")
  }

  /**
   * Approximate top-k: each query probes its `nprobe` nearest cells and
   * ranks by cosine only within them.
   */
  def topK(corpus: DataFrame, queries: DataFrame, centroids: Seq[Seq[Double]],
      k: Int, nprobe: Int,
      idCol: String = "vec_id", embCol: String = "emb",
      qIdCol: String = "q_id", qEmbCol: String = "q_emb"): DataFrame = {
    // spread: a compact corpus arrives as one scan partition, serializing
    // the per-cell cosine ranking into a single task (no-op when the scan
    // is already wide)
    val cells = assign(Scale.spreadForCompute(corpus, col(idCol)),
        embCol, centroids)
      .withColumn("__norm", l2Norm(col(embCol)))
    val probes = queries
      .withColumn("ivf_cell", explode(probeList(col(qEmbCol), centroids, nprobe)))
      .withColumn("__qnorm", l2Norm(col(qEmbCol)))
    val scored = Similarity.withCos(
      cells.join(broadcast(probes), Seq("ivf_cell"))
        .filter(col(idCol) =!= col(qIdCol)), embCol, qEmbCol)
    Similarity.rankTopK(scored, qIdCol, idCol, k)
      .select(col(qIdCol), col(idCol), col("rn"), col("cos"))
  }
}
