package graft

import graft.functions.VectorOps
import graft.operators.{Ivf, Bq => BqOps, Pq => PqOps, Sq => SqOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * The quantizer of a [[graft.Ann]] index — one case per index kind, the
 * way FAISS names an index by one `index_factory` string. Each case owns
 * everything that differs between kinds: its `qt` meta tag, its name in
 * the rotation probe's evidence, its build-time train + encode, the
 * frozen-state encode that `Ann.append` and
 * [[graft.streaming.Streams.indexAppend]] share ([[Frozen]]), its serve
 * half and its `--rotate-auto` probe pipeline. Ann keeps what every kind
 * shares: the rotation, the IVF cells, the staged artifact promote and
 * the meta.
 *
 * Every serve half returns (q_id, <id>, rn, adist) with ascending adist
 * = closer, the `Pq.searchIndex` column convention, so --refine and the
 * result schema compose with any codec.
 */
sealed trait IndexCodec {
  /** The `qt` code ann.meta.json records ([[IndexCodec.fromQt]]). */
  def qt: Int
  /** The projected dimension ann.meta.json records as `pdim` (JL only). */
  def pdim: Int = 0
  /** The quantizer's name in rotation_probe.json. */
  def name: String

  /** Rejects, before any prior artifact is touched, a dimension or a
    * rotation (an [[Ann.RotNames]] name or "auto") this codec cannot
    * build. */
  def requireFits(dim: Int, rotation: String): Unit = ()

  /** The build corpus (idCol, emb) in the index's space moved to the
    * space cells and codes live in: itself, except under JL. */
  def codeSpace(emb: DataFrame, dim: Int): DataFrame = emb

  /** Train on the build corpus and encode it. */
  def build(in: IndexCodec.BuildIn): IndexCodec.Built

  /** The trained state the build persisted in `dir`. */
  def freeze(spark: SparkSession, dir: String, meta: Ann.Meta): IndexCodec.Frozen

  /** Top-`topK` per query from the artifacts in `dir`; `qs` = (q_id,
    * q_emb) in the index's space. `asym` is binary-only. */
  def serve(dir: String, meta: Ann.Meta, qs: DataFrame,
      coarse: IndexCodec.Coarse, nprobe: Int, topK: Int,
      selfFilter: Boolean, asym: Boolean): DataFrame

  /** The fused top-10 (q_id, vec_id, ...) [[Ann.probeRotation]] measures
    * this quantizer by on a rotated sample `f` (vec_id, emb). */
  def probeTopK(f: DataFrame, qs: DataFrame, centroids: Seq[Seq[Double]],
      nprobe: Int, m: Int, codes: Int, dim: Int, iters: Int): DataFrame
}

object IndexCodec {
  val CodebookFile = "codebook.parquet"
  val ScalesFile = "scales.parquet"

  /** The codec a meta's `qt` (and, for JL, `pdim`) names. An unknown
    * code fails here: serving it as some other kind would read artifacts
    * of the wrong layout. */
  def fromQt(qt: Int, pdim: Int, file: String): IndexCodec = qt match {
    case 0 => Pq()
    case 1 => Sq8
    case 2 => Bq
    case 3 => Jl(pdim)
    case 4 => Pq(residual = true)
    case 5 => Flat
    case _ => throw new IllegalArgumentException(
      s"$file: unknown quantizer code qt=$qt")
  }

  /** A build's shared inputs: `emb` = (idCol, emb) in code space,
    * `assigned` = `emb` plus its IVF `cell`, `dim` = the input dimension. */
  final case class BuildIn(spark: SparkSession, idCol: String,
      emb: DataFrame, assigned: DataFrame, coarse: Coarse, m: Int,
      codes: Int, dim: Int, iters: Int) {
    /** Every quantizer-training job is named as one step. */
    def train[T](body: => T): T = Jobs.named(spark, "Ann.build train")(body)
  }

  /** What a build stages: the (idCol, cell, code columns…) frame, the
    * codec's small artifacts, whether the codes write counts the distinct
    * ids itself, and frames to release once the writes are done. */
  final case class Built(codes: DataFrame, artifacts: Seq[(String, DataFrame)],
      countsOnWrite: Boolean = false, release: Seq[DataFrame] = Nil)

  /**
   * The IVF coarse quantizer as a plan uses it: the centroids as a k×dim
   * literal (`lits`), or — above [[Ann.LargeKThreshold]] — the broadcast
   * k-row (cell, vec) `frame`, with `lits` empty, so a k ~ 10⁴ index
   * never plans a k-literal expression. The two forms are bit-identical
   * (IvfSpec pins assignJoin ≡ nearestCentroid and probeJoin ≡ probeList).
   */
  final case class Coarse(lits: Seq[Seq[Double]],
      frame: Option[DataFrame] = None) {
    /** `df` plus the nearest `cell` of its `embCol`. */
    def assign(df: DataFrame, idCol: String, embCol: String): DataFrame =
      frame match {
        case Some(cf) => Ivf.assignJoin(df, idCol, embCol, cf)
          .withColumnRenamed("ivf_cell", "cell")
        case None => df.withColumn("cell",
          Ivf.nearestCentroid(col(embCol), lits))
      }

    /** `df` plus `as` = the centroid vector of its `cell`. */
    def attach(df: DataFrame, as: String): DataFrame = frame match {
      case Some(cf) =>
        df.join(broadcast(cf.select(col("cell"), col("vec").as(as))),
          Seq("cell"))
      case None => df.withColumn(as, element_at(
        typedlit(lits.map(_.toArray).toArray), col("cell") + 1))
    }

    /** (q_id, <embCol>, __cell): one row per probed cell per query. */
    def probe(qs: DataFrame, embCol: String, nprobe: Int): DataFrame =
      frame match {
        case Some(cf) => Ivf.probeJoin(qs, "q_id", embCol, cf, nprobe)
        case None => qs.withColumn("__cell",
          explode(Ivf.probeList(col(embCol), lits, nprobe)))
      }
  }

  /**
   * A codec's trained state, frozen: encodes (id, emb, cell) rows of NEW
   * vectors into code rows exactly as the build encoded its corpus, so an
   * appended or streamed vector lands the rows a rebuild over the union
   * would (under the monotone-id convention for fixed PQ). `emb` is in
   * code space: callers move index-space vectors there with [[space]]
   * before assigning cells.
   */
  sealed trait Frozen {
    /** The input dimension ingest guards check. */
    def dim: Int
    /** The codes.parquet columns beside (<id>, cell). */
    def codeCols: Seq[String]
    /** An index-space vector in code space (JL projects it). */
    def space(v: Column): Column = v
    def encode(rows: DataFrame, idCol: String, embCol: String,
        coarse: Coarse): DataFrame
  }

  /** PQ codebooks as plan literals ([[graft.operators.Pq.encodeWith]],
    * scan-local); `residual` encodes x − c(cell) instead of x. */
  final case class PqBooks(books: Seq[Seq[Seq[Double]]],
      residual: Boolean = false) extends Frozen {
    def dim: Int = books.length * books.head.head.length
    def codeCols: Seq[String] = Seq("j", "code")
    def encode(rows: DataFrame, idCol: String, embCol: String,
        coarse: Coarse): DataFrame =
      if (residual)
        encodeBooks(residualOf(rows, embCol, coarse), idCol, "__res", books)
      else encodeBooks(rows, idCol, embCol, books)
  }

  /** SQ8 per-dimension scales: values outside the trained ranges
    * saturate at the 0/255 edge codes (the FAISS convention), so only the
    * new rows' reconstruction degrades, never the stored ones. */
  final case class Sq8Scales(mn: Array[Long], d: Array[Long]) extends Frozen {
    def dim: Int = mn.length
    def codeCols: Seq[String] = Seq("scode")
    def encode(rows: DataFrame, idCol: String, embCol: String,
        coarse: Coarse): DataFrame =
      rows.select(col(idCol), col("cell"),
        SqOps.codes(col(embCol), mn, d).as("scode"))
  }

  /** Sign packing is stateless given the space, so a binary append is
    * exact for any vector. */
  final case class BqSigns(dim: Int) extends Frozen {
    def codeCols: Seq[String] = Seq("bcode")
    def encode(rows: DataFrame, idCol: String, embCol: String,
        coarse: Coarse): DataFrame =
      rows.select(col(idCol), col("cell"),
        BqOps.signWords(col(embCol), dim).as("bcode"))
  }

  /** The JL plane basis: projection is stateless given it, so the stored
    * code — the projected vector — is exact for any appended vector. */
  final case class JlPlanes(planes: Seq[Seq[Double]]) extends Frozen {
    def dim: Int = planes.head.length
    def codeCols: Seq[String] = Seq("pvec")
    override def space(v: Column): Column = jlProject(v, planes)
    def encode(rows: DataFrame, idCol: String, embCol: String,
        coarse: Coarse): DataFrame =
      rows.select(col(idCol), col("cell"), col(embCol).as("pvec"))
  }

  /** Flat stores the vector itself: no quantizer state at all. */
  final case class FlatVectors(dim: Int) extends Frozen {
    def codeCols: Seq[String] = Seq("fvec")
    def encode(rows: DataFrame, idCol: String, embCol: String,
        coarse: Coarse): DataFrame =
      rows.select(col(idCol), col("cell"), col(embCol).as("fvec"))
  }

  /**
   * PQ (qt = 0): m subspace codes per vector against a codebook — the
   * fixed first-`codes` rows by default (the declared-quantizer
   * convention the oracle-checked queries use), per-subspace Lloyd
   * codebooks with `trained` (for corpora whose ids are not the dense
   * 0..codes−1 the fixed codebook needs). `residual` (qt = 4, FAISS
   * IndexIVFPQ's by_residual form) quantizes x − c(cell) instead: same
   * artifact files, only serving routes to per-cell residual distance
   * tables. Serving and append read whatever codebook.parquet holds, so
   * `trained` is a build-time choice the meta need not record.
   */
  final case class Pq(trained: Boolean = false, residual: Boolean = false)
      extends IndexCodec {
    def qt: Int = if (residual) 4 else 0
    def name: String = "pq" + (if (residual) "-residual" else "") +
      (if (trained) "-trained" else "")

    def build(in: BuildIn): Built = {
      import in._
      def booksOn(df: DataFrame, embCol: String) =
        train(PqOps.trainCodebooks(df, idCol, embCol, m, codes, dim, iters))
      if (residual) {
        // the encode frame emb − c(cell), persisted because training (or
        // the fixed codebook filter) and the encode both scan it
        val ar = residualOf(assigned, "emb", coarse)
          .persist(StorageLevel.MEMORY_AND_DISK)
        val (cd, cb) = if (trained) {
          val books = booksOn(ar, "__res")
          (encodeBooks(ar, idCol, "__res", books), codebookFrame(spark, books))
        } else asArtifacts(PqOps.buildIndexAssigned(ar, m, codes, dim,
          idCol, "__res", "cell"), idCol)
        Built(cd, Seq(CodebookFile -> cb), countsOnWrite = !trained,
          release = Seq(ar))
      } else if (trained) {
        // cell + encode in ONE scan: the carry rides the explode
        val books = booksOn(emb, "emb")
        Built(encodeBooks(assigned, idCol, "emb", books),
          Seq(CodebookFile -> codebookFrame(spark, books)))
      } else {
        val (cd, cb) = asArtifacts(coarse.frame match {
          case Some(_) => PqOps.buildIndexAssigned(assigned, m, codes, dim,
            idCol, "emb", "cell")
          case None => PqOps.buildIndex(emb, coarse.lits, m, codes, dim,
            idCol, "emb")
        }, idCol)
        Built(cd, Seq(CodebookFile -> cb), countsOnWrite = true)
      }
    }

    def freeze(spark: SparkSession, dir: String, meta: Ann.Meta): Frozen = {
      val rows = Read.parquet(spark, s"$dir/$CodebookFile")
        .select(col("j"), col("c"), col("cw")).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toSeq))
      PqBooks((0 until meta.m).map(j =>
        rows.filter(_._1 == j).sortBy(_._2).map(_._3).toSeq), residual)
    }

    def serve(dir: String, meta: Ann.Meta, qs: DataFrame, coarse: Coarse,
        nprobe: Int, topK: Int, selfFilter: Boolean,
        asym: Boolean): DataFrame = {
      val spark = qs.sparkSession
      val cb = Read.parquet(spark, s"$dir/$CodebookFile")
        .select(col("j"), col("c").as("__c"), col("cw").as("__cw"),
          col("cwn2").as("__cwn2"))
      val codes = Read.parquet(spark, s"$dir/codes.parquet")
        .select(col(meta.idCol), col("cell").as("__cell"), col("j"),
          col("code"))
      if (residual)
        PqOps.searchIndexResidual(codes, cb, qs, coarse.lits, nprobe, topK,
          meta.m, meta.dim, meta.idCol, selfFilter = selfFilter,
          centFrame = coarse.frame)
      else PqOps.searchIndex(codes, cb, qs, coarse.lits, nprobe, topK,
        meta.m, meta.dim, meta.idCol, selfFilter = selfFilter,
        centFrame = coarse.frame)
    }

    def probeTopK(f: DataFrame, qs: DataFrame, centroids: Seq[Seq[Double]],
        nprobe: Int, m: Int, codes: Int, dim: Int, iters: Int): DataFrame =
      if (residual)
        // residuals are what the rotation perturbs, so the probe measures
        // the residual ADC form. A trained residual build probes the
        // FIXED-codebook residual form: the rotation-relevant part (the
        // residual frame's coordinate balance) is identical, and training
        // codebooks per mode would quadruple the probe for a second-order
        // effect
        PqOps.ivfAdcResidualTopK(f, qs, centroids, nprobe, topK = 10,
          m = m, k = codes, dim = dim)
      else if (trained)
        // the build's --iters: the codebook family the index serves with
        PqOps.ivfAdcTrainedTopK(f, qs, centroids, nprobe, topK = 10,
          m = m, k = codes, dim = dim, iters = iters)
      else PqOps.ivfAdcTopK(f, qs, centroids, nprobe, topK = 10,
        m = m, k = codes, dim = dim)
  }

  /**
   * SQ8 (qt = 1, [[graft.operators.Sq]], FAISS IndexScalarQuantizer
   * QT_8bit): per-dimension affine int8 scales train on the build corpus
   * (scales.parquet), and each vector stores one code array beside its
   * cell — 64 B/vector at dim 64 against PQ's ~5, the higher-fidelity
   * point of the compression curve.
   */
  case object Sq8 extends IndexCodec {
    def qt: Int = 1
    def name: String = "sq8"

    def build(in: BuildIn): Built = {
      import in._
      import spark.implicits._
      val (mn, d) = train(SqOps.trainScales(emb, "emb", dim))
      Built(Sq8Scales(mn, d).encode(assigned, idCol, "emb", coarse),
        Seq(ScalesFile -> (0 until dim).map(i => (i, mn(i), d(i)))
          .toDF("pos", "mn", "d")))
    }

    def freeze(spark: SparkSession, dir: String, meta: Ann.Meta): Sq8Scales = {
      val rows = Ann.collectSorted(Read.parquet(spark, s"$dir/$ScalesFile"),
        "pos")
      require(rows.length == meta.dim,
        s"$dir/$ScalesFile has ${rows.length} rows, expected ${meta.dim}")
      Sq8Scales(rows.map(_.getAs[Long]("mn")), rows.map(_.getAs[Long]("d")))
    }

    /** Reconstructs the probed cells' codes scan-locally from the scales
      * and scores the exact long dot against the micro-int queries
      * (`Sq.sq8IvfTopK`'s algebra), ranked by the negated LONG score so
      * order and rn are exact; adist = −score / 255·10¹², the dot back in
      * float units. The long score can pass 2⁵³, where a raw double cast
      * would collide adjacent candidates; the rescaled value's ulp is far
      * below any meaningful gap. */
    def serve(dir: String, meta: Ann.Meta, qs: DataFrame, coarse: Coarse,
        nprobe: Int, topK: Int, selfFilter: Boolean,
        asym: Boolean): DataFrame = {
      val Sq8Scales(mn, d) = freeze(qs.sparkSession, dir, meta)
      val codes = Read.parquet(qs.sparkSession, s"$dir/codes.parquet")
        .select(col(meta.idCol), col("cell").as("__cell"),
          SqOps.reconstruct(col("scode"), mn, d).as("__r"))
      val probes = coarse.probe(qs, "q_emb", nprobe)
        .select(col("q_id"), col("__cell"),
          SqOps.microInts(col("q_emb")).as("__q"))
      // codegen'd exact long dot, the expression the Sq operators serve with
      val score = -org.apache.spark.sql.GraftBridge.column(
        graft.functions.LongDotProduct(
          org.apache.spark.sql.GraftBridge.expression(col("__r")),
          org.apache.spark.sql.GraftBridge.expression(col("__q"))))
      rankTop(codes.join(broadcast(probes), Seq("__cell")), meta.idCol,
        score, topK, selfFilter,
        adist = a => a.cast("double") / lit(2.55e14))
    }

    def probeTopK(f: DataFrame, qs: DataFrame, centroids: Seq[Seq[Double]],
        nprobe: Int, m: Int, codes: Int, dim: Int, iters: Int): DataFrame =
      SqOps.sq8IvfTopK(f, qs, centroids, topK = 10, nprobe = nprobe,
        dim = dim)
  }

  /**
   * Binary (qt = 2, [[graft.operators.Bq]], FAISS IndexBinaryIVF): each
   * vector stores its packed sign words beside its cell (8 B/vector at
   * dim 64); serving ranks by Hamming distance, or with `asym` by the
   * full-precision query dotted against the stored sign patterns
   * (q_bq_asym_recall's upgrade at the same bytes; adist = −score/10⁶).
   */
  case object Bq extends IndexCodec {
    def qt: Int = 2
    def name: String = "bq"

    override def requireFits(dim: Int, rotation: String): Unit =
      require(dim >= 32 && dim % 32 == 0,
        s"--bq requires dim to be a positive multiple of 32, got $dim")

    def build(in: BuildIn): Built =
      Built(BqSigns(in.dim).encode(in.assigned, in.idCol, "emb", in.coarse),
        Nil)

    def freeze(spark: SparkSession, dir: String, meta: Ann.Meta): Frozen =
      BqSigns(meta.dim)

    def serve(dir: String, meta: Ann.Meta, qs: DataFrame, coarse: Coarse,
        nprobe: Int, topK: Int, selfFilter: Boolean,
        asym: Boolean): DataFrame = {
      val codes = Read.parquet(qs.sparkSession, s"$dir/codes.parquet")
        .select(col(meta.idCol), col("cell").as("__cell"), col("bcode"))
      // only the representation the chosen score uses is broadcast
      val qRep = if (asym)
        transform(col("q_emb"), x => round(x * 1e6, 0).cast("long"))
      else BqOps.signWords(col("q_emb"), meta.dim)
      val probes = coarse.probe(qs, "q_emb", nprobe)
        .select(col("q_id"), col("__cell"), qRep.as("__qr"))
      val score = if (asym)
        (-BqOps.asymScore(col("bcode"), col("__qr"), meta.dim)
          .cast("double")) / lit(1e6)
      else BqOps.hamming(col("bcode"), col("__qr")).cast("double")
      rankTop(codes.join(broadcast(probes), Seq("__cell")), meta.idCol,
        score, topK, selfFilter)
    }

    // sign bits are basis-dependent, so rotation genuinely moves BQ recall
    def probeTopK(f: DataFrame, qs: DataFrame, centroids: Seq[Seq[Double]],
        nprobe: Int, m: Int, codes: Int, dim: Int, iters: Int): DataFrame =
      BqOps.bqIvfTopK(f, qs, centroids, topK = 10, nprobe = nprobe,
        dim = dim)
  }

  /**
   * JL-projected (qt = 3): every vector projects dim → `projDim` through
   * the seeded Gaussian plane basis (Similarity.hyperplanes — no RNG
   * state, persisted as projection.parquet), the IVF trains in the
   * projected space, and the stored code IS the projected vector. Serving
   * ranks by exact projected cosine (q_jl_recall's arithmetic; adist =
   * −cos). The basis is itself a dense basis mix, so a rotation in front
   * is statistically a no-op and is rejected.
   */
  final case class Jl(projDim: Int) extends IndexCodec {
    def qt: Int = 3
    override def pdim: Int = projDim
    def name: String = "jl"
    private def planes(dim: Int) =
      graft.operators.Similarity.hyperplanes(projDim, dim)

    override def requireFits(dim: Int, rotation: String): Unit = {
      require(projDim >= 1 && projDim <= dim,
        s"--proj-dim must be in [1, dim=$dim], got $projDim")
      require(rotation == "plain", "--proj-dim does not compose with " +
        "rotation flags (the seeded plane basis is itself a dense basis " +
        "mix; a rotation in front is statistically a no-op)")
    }

    override def codeSpace(emb: DataFrame, dim: Int): DataFrame =
      emb.withColumn("emb", jlProject(col("emb"), planes(dim)))

    def build(in: BuildIn): Built = {
      import in.spark.implicits._
      val ps = planes(in.dim)
      Built(JlPlanes(ps).encode(in.assigned, in.idCol, "emb", in.coarse),
        Seq(Ann.ProjectionFile -> ps.zipWithIndex.flatMap { case (p, a) =>
          p.zipWithIndex.map { case (v, i) => (a, i, v) }
        }.toDF("axis", "pos", "u")))
    }

    def freeze(spark: SparkSession, dir: String, meta: Ann.Meta): JlPlanes = {
      val rows = Ann.collectSorted(
        Read.parquet(spark, s"$dir/${Ann.ProjectionFile}"), "axis", "pos")
      require(rows.length == projDim * meta.dim,
        s"$dir/${Ann.ProjectionFile} has ${rows.length} rows, expected " +
          s"$projDim x ${meta.dim}")
      JlPlanes(rows.grouped(meta.dim)
        .map(_.map(_.getAs[Double]("u")).toSeq).toSeq)
    }

    def serve(dir: String, meta: Ann.Meta, qs: DataFrame, coarse: Coarse,
        nprobe: Int, topK: Int, selfFilter: Boolean,
        asym: Boolean): DataFrame = {
      val frozen = freeze(qs.sparkSession, dir, meta)
      cosineServe(dir, meta, qs.select(col("q_id"),
          frozen.space(col("q_emb")).as("q_emb")), "pvec", coarse, nprobe,
        topK, selfFilter)
    }

    def probeTopK(f: DataFrame, qs: DataFrame, centroids: Seq[Seq[Double]],
        nprobe: Int, m: Int, codes: Int, dim: Int, iters: Int): DataFrame =
      throw new IllegalArgumentException(
        "--proj-dim does not compose with rotation flags")
  }

  /**
   * Flat (qt = 5, FAISS IndexIVFFlat): the stored code is the vector
   * itself; serving ranks the probed cells by exact cosine (adist =
   * −cos), full fidelity within the probed cells at raw-vector bytes.
   * Exact cosine is rotation-invariant, so `--rotate-auto` builds it
   * unrotated without probing.
   */
  case object Flat extends IndexCodec {
    def qt: Int = 5
    def name: String = "flat"

    def build(in: BuildIn): Built =
      Built(FlatVectors(in.dim).encode(in.assigned, in.idCol, "emb",
        in.coarse), Nil)

    def freeze(spark: SparkSession, dir: String, meta: Ann.Meta): Frozen =
      FlatVectors(meta.dim)

    def serve(dir: String, meta: Ann.Meta, qs: DataFrame, coarse: Coarse,
        nprobe: Int, topK: Int, selfFilter: Boolean,
        asym: Boolean): DataFrame =
      cosineServe(dir, meta, qs, "fvec", coarse, nprobe, topK, selfFilter)

    def probeTopK(f: DataFrame, qs: DataFrame, centroids: Seq[Seq[Double]],
        nprobe: Int, m: Int, codes: Int, dim: Int, iters: Int): DataFrame =
      graft.operators.Similarity.ivfTopK(f, qs, centroids, topK = 10,
        nprobe = nprobe)
  }

  /** The JL projection as `pdim` codegen'd sequential double dots —
    * q_jl_recall's arithmetic, so served ≡ fused is exact. */
  private def jlProject(vec: Column, planes: Seq[Seq[Double]]): Column =
    array(planes.map(p => VectorOps.dot(vec, typedlit(p))): _*)

  /** `rows` plus `__res` = emb − c(cell). */
  private def residualOf(rows: DataFrame, embCol: String,
      coarse: Coarse): DataFrame =
    coarse.attach(rows, "__cv")
      .withColumn("__res", zip_with(col(embCol), col("__cv"), (a, b) => a - b))
      .drop("__cv")

  private def encodeBooks(rows: DataFrame, idCol: String, embCol: String,
      books: Seq[Seq[Seq[Double]]]): DataFrame =
    PqOps.encodeWith(rows, idCol, embCol, books, carry = Seq("cell"))
      .select(col(idCol), col("cell"), col("j"), col("code"))

  /** Trained codebooks as the codebook artifact; |cw|² is summed left to
    * right like the codegen'd dot, so serve-time ADC sees exact values. */
  private def codebookFrame(spark: SparkSession,
      books: Seq[Seq[Seq[Double]]]): DataFrame = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (cbJ, j) =>
      cbJ.zipWithIndex.map { case (w, c) =>
        (j, c, w, w.foldLeft(0.0)((s, x) => s + x * x))
      }
    }.toDF("j", "c", "cw", "cwn2")
  }

  /** The fixed-codebook build's (codes, codebook) in artifact schema:
    * j is long, what encodeWith emits, or an append's long-j files would
    * sit beside int-j files and the mixed parquet schema fail to read. */
  private def asArtifacts(built: (DataFrame, DataFrame),
      idCol: String): (DataFrame, DataFrame) = {
    val (cd, cb) = built
    (cd.select(col(idCol), col("__cell").as("cell"),
      col("j").cast("long").as("j"), col("code")),
      cb.select(col("j"), col("__c").as("c"), col("__cw").as("cw"),
        col("__cwn2").as("cwn2")))
  }

  /** The exact-cosine serving tail of the vector-storing codecs (JL's
    * projected `pvec`, flat's `fvec`): rank the probed cells' stored
    * vectors against q_emb; adist = −cosine. */
  private def cosineServe(dir: String, meta: Ann.Meta, qs: DataFrame,
      storedCol: String, coarse: Coarse, nprobe: Int, topK: Int,
      selfFilter: Boolean): DataFrame = {
    val codes = Read.parquet(qs.sparkSession, s"$dir/codes.parquet")
      .select(col(meta.idCol), col("cell").as("__cell"), col(storedCol))
    val probes = coarse.probe(qs, "q_emb", nprobe)
      .select(col("q_id"), col("__cell"), col("q_emb"))
    rankTop(codes.join(broadcast(probes), Seq("__cell")), meta.idCol,
      -VectorOps.cosine(col(storedCol), col("q_emb")), topK, selfFilter)
  }

  /** Per query, the `topK` candidates of `joined` by ascending `score`
    * (id tie-break), as (q_id, <id>, rn, adist = `adist(score)`). */
  private def rankTop(joined: DataFrame, idCol: String, score: Column,
      topK: Int, selfFilter: Boolean,
      adist: Column => Column = identity): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("__ad"), col(idCol))
    joined
      .filter(if (selfFilter) col(idCol) =!= col("q_id") else lit(true))
      .withColumn("__ad", score)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topK)
      .select(col("q_id"), col(idCol), col("rn"), adist(col("__ad")).as("adist"))
  }
}
